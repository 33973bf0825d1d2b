"""Round-11 verdict item #2: ONE cache-ownership lifecycle.

Every persisted frame that outlives its operator call must be
registered with ``mvrepair.cache`` (own/adopt), and the harness-side
``release_all()`` must actually free it — so no registered query can
leave an unreachable MEMORY_AND_DISK frame behind.  The round-10
verdict traced three coexisting ownership conventions (caller-owns,
plan-lifetime, harness clearCache) and flagged the unreachable
``mi_report`` joint frames as the accumulation mechanism suspect for
the repair_log_compact driver anomaly.

``localCheckpoint`` artifacts are exempt: they are bounded model/loop
frames, the ContextCleaner releases them on GC, and force-unpersisting
a checkpoint would lose the only copy of data its consumers re-read.
"""

import pytest

from mvrepair import cache

# The only session confs a registered query may leave behind, each set
# on purpose session-wide: Spark reads them when the lazy plan is
# optimized or planned at action time, after the query fn has returned,
# so a conf_scope around the construction could not reach them.
DECLARED = {
    # the pushed-filter decision is made when the plan is optimized
    "events_tokenrange": {"spark.sql.python.filterPushdown.enabled": "true"},
    # bucket-sorted scans consult it when the scan is planned
    "bucketed_join": {
        "spark.sql.legacy.bucketedTableScan.outputOrdering": "true"
    },
}


def _persistent(spark):
    """[(rdd_id, is_locally_checkpointed)] for every tracked RDD."""
    m = spark.sparkContext._jsc.sc().getPersistentRDDs()
    out = []
    it = m.iterator()
    while it.hasNext():
        t = it.next()
        out.append((t._1(), t._2().isLocallyCheckpointed()))
    return out


def _plain_ids(spark):
    return {i for i, lc in _persistent(spark) if not lc}


def test_own_persists_and_release_all_unpersists(spark):
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    before = _plain_ids(spark)
    owned = cache.own(df)
    owned.count()
    assert owned.storageLevel.useMemory
    assert cache.owned_count() == 1
    assert len(_plain_ids(spark) - before) == 1
    released = cache.release_all()
    assert released == 1
    assert cache.owned_count() == 0
    assert _plain_ids(spark) == before


def test_adopt_registers_already_persisted_frame(spark):
    df = spark.range(50).persist()
    df.count()
    cache.adopt(df)
    assert cache.owned_count() == 1
    cache.release_all()
    assert not df.storageLevel.useMemory
    assert cache.owned_count() == 0


def test_release_all_is_idempotent_and_safe_when_empty(spark):
    assert cache.release_all() == 0
    df = cache.own(spark.range(10))
    df.count()
    cache.release_all()
    assert cache.release_all() == 0


def test_no_registered_query_leaves_unreleasable_persist(spark, sf_dir):
    """THE lifecycle gate: run every registered query at sf0.001,
    materialize it, release the ownership registry — no plain
    (non-localCheckpoint) persisted RDD may survive.  A failure names
    the offending queries: the fix is registering the operator's
    persist via mvrepair.cache.own/adopt, never widening an exemption.

    The same pass checks the session confs: after the query, the
    session's explicit confs must equal those before it plus the
    query's ``DECLARED`` session-global settings — any other change
    belongs in ``mvrepair.tuning.conf_scope``.
    """
    import __spark_entry__ as e

    cache.release_all()
    spark.catalog.clearCache()
    offenders = {}
    conf_offenders = {}
    for name, fn in e.queries().items():
        before = _plain_ids(spark)
        conf_before = dict(spark.conf.getAll)
        fn(spark, sf_dir).count()
        cache.release_all()
        leaked = _plain_ids(spark) - before
        if leaked:
            offenders[name] = len(leaked)
            spark.catalog.clearCache()  # keep later queries isolated
        conf_after = dict(spark.conf.getAll)
        expected = {**conf_before, **DECLARED.get(name, {})}
        if conf_after != expected:
            conf_offenders[name] = {
                k: (expected.get(k), conf_after.get(k))
                for k in expected.keys() | conf_after.keys()
                if expected.get(k) != conf_after.get(k)
            }
    assert not offenders, (
        "queries leaving plain persisted frames after release_all(): "
        f"{offenders} — register those persists with mvrepair.cache"
    )
    assert not conf_offenders, (
        "queries changing session confs, {key: (expected, found)}: "
        f"{conf_offenders} — scope them with mvrepair.tuning.conf_scope"
    )


# Every session-conf write in the engine, as (file, enclosing function):
# the one scope, plus the DECLARED session-global sites.  Compared for
# equality, so the list is self-checking — a new unscoped write fails,
# and so does an entry whose write is gone.
CONF_WRITERS = {
    ("mvrepair/tuning.py", "conf_scope"),
    ("mvrepair/operators/layout.py", "bucketed_join"),  # DECLARED
    ("__spark_entry__.py", "q_events_tokenrange"),  # DECLARED
}


def _conf_writes(node, fn="<module>"):
    """Enclosing function names of ``<x>.conf.set(``/``.conf.unset(``
    calls under ``node``."""
    import ast

    for child in ast.iter_child_nodes(node):
        name = (
            child.name
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            else fn
        )
        if (
            isinstance(child, ast.Call)
            and isinstance(child.func, ast.Attribute)
            and child.func.attr in ("set", "unset")
            and isinstance(child.func.value, ast.Attribute)
            and child.func.value.attr == "conf"
        ):
            yield name
        yield from _conf_writes(child, name)


def test_session_conf_writes_go_through_conf_scope():
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    files = [root / "__spark_entry__.py", *(root / "mvrepair").rglob("*.py")]
    found = {
        (f.relative_to(root).as_posix(), fn)
        for f in files
        for fn in _conf_writes(ast.parse(f.read_text()))
    }
    assert found - CONF_WRITERS == set(), (
        "session confs set outside mvrepair.tuning.conf_scope: "
        f"{sorted(found - CONF_WRITERS)}"
    )
    assert CONF_WRITERS - found == set(), (
        f"stale CONF_WRITERS entries: {sorted(CONF_WRITERS - found)}"
    )
