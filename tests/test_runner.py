"""End-to-end driver (``run()``) and schema-discovery (``from_catalog``)
tests.

Parity targets:
- lifecycle wiring: MvSync.java:43-61 (``run``), :108-156
  (``buildAndRunSparkJob``);
- categorized output layout ``<outdir>/<CATEGORY>/part-*.txt`` + stats.txt:
  MVJobOutputStreamer.java:28-61, MvSync.java:148-152;
- one-pass counters via observe: JobStats.java:26-41 accumulators;
- metadata-failure cases with the reference's error texts:
  MvSync.java:176-189 (and counter bumps, MvSyncJobMetrics.java:10-11);
- repair-mode early fail on unsupported types: MvSync.java:92-106.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from mvrepair.config import SyncSettings
from mvrepair.metrics import JobMetrics
from mvrepair.report import SEPARATOR
from mvrepair.runner import run
from mvrepair.schema import (
    MetadataError,
    MVSpec,
    TableSchema,
    UnsupportedTypeError,
)

WT = 1_704_153_600_000_000  # in-window writetime (µs)
WT_LATE = 2_000_000_000_000_000  # out-of-window writetime

_FIELDS = [
    ("pk", T.StringType()),
    ("ck1", T.StringType()),
    ("ck2", T.IntegerType()),
    ("c1", T.IntegerType()),
    ("c2", T.IntegerType()),
    ("c3", T.IntegerType()),
    ("c2__writetime", T.LongType()),
    ("c2__ttl", T.IntegerType()),
    ("c3__writetime", T.LongType()),
    ("c3__ttl", T.IntegerType()),
]


def _spec() -> MVSpec:
    cols = {
        "pk": "ASCII",
        "ck1": "ASCII",
        "ck2": "INT",
        "c1": "INT",
        "c2": "INT",
        "c3": "INT",
    }
    return MVSpec(
        base=TableSchema(pk=["pk", "ck1", "ck2"], columns=dict(cols)),
        mv=TableSchema(pk=["c1", "ck1", "ck2", "pk"], columns=dict(cols)),
    )


def _df(spark, rows):
    schema = T.StructType([T.StructField(n, t) for n, t in _FIELDS])
    return spark.createDataFrame(rows, schema)


def _row(pk, ck1, ck2, c1, c2, c3, wt=WT, ttl=None):
    return (pk, ck1, ck2, c1, c2, c3, wt, ttl, wt, ttl)


GOLDEN_STATS = (
    "totRecords: 6, skippedRecords: 1, consistentRecords: 1, "
    "inConsistentRecords: 1, missingBaseTableRecords: 1, missingMvRecords: 2, "
    "repairRecords: 4, notRepairRecords: 0, delAttemptedRecords: 1, "
    "delErrRecords: 0, delSuccessRecords: 1, notDelRecords: 0, "
    "upsertAttemptedRecords: 3, upsertErrRecords: 1, upsertSuccessRecords: 2"
)


@pytest.fixture()
def e2e_frames(spark):
    # one key per lifecycle outcome:
    #   A consistent; B MV-only orphan (delete); C c2 mismatch (upsert);
    #   X base-only with NULL promoted PK c1 (upsert REFUSED → ERR_UPSERTING);
    #   Y base-only valid (upsert); Z out-of-window (skipped).
    base = _df(
        spark,
        [
            _row("A", "NY", 1, 10, 20, 30),
            _row("C", "SF", 2, 12, 25, 35),
            _row("X", "LA", 3, None, 5, 6),
            _row("Y", "TX", 4, 14, 7, 8),
            _row("Z", "WA", 5, 15, 9, 1, wt=WT_LATE),
        ],
    )
    mv = _df(
        spark,
        [
            _row("A", "NY", 1, 10, 20, 30),
            _row("B", "NY", 1, 11, 22, 33),
            _row("C", "SF", 2, 12, 99, 35),
            _row("Z", "WA", 5, 15, 9, 1, wt=WT_LATE),
        ],
    )
    return base, mv


def _settings(outdir: str) -> SyncSettings:
    return SyncSettings(
        {
            "cass.mv.starttsinsec": "0",
            "cass.mv.endtsinsec": str(WT // 1_000_000),
            "cass.mv.fixmissingmv": "true",
            "cass.mv.fixorphanmv": "true",
            "cass.mv.fixinconsistentmv": "true",
            "cass.mv.output.dir": outdir,
        }
    )


def test_run_e2e_layout_stats_and_metrics(spark, e2e_frames, tmp_path):
    base, mv = e2e_frames
    outdir = str(tmp_path / "out")
    metrics = JobMetrics()
    sink_lines: list[str] = []

    stats = run(
        spark,
        _settings(outdir),
        base_df=base,
        mv_df=mv,
        spec=_spec(),
        metrics=metrics,
        metrics_sink=sink_lines.append,
    )

    # categorized reference layout: <outdir>/<CATEGORY>/part-*.txt
    dirs = {d for d in os.listdir(outdir) if os.path.isdir(os.path.join(outdir, d))}
    assert dirs == {
        "MISSING_IN_BASE_TABLE",
        "MISSING_IN_MV_TABLE",
        "INCONSISTENT",
        "ERR_UPSERTING",
    }
    # ERR_UPSERTING holds exactly the null-PK refusal, error text appended
    err_txt = "".join(
        open(os.path.join(outdir, "ERR_UPSERTING", f)).read()
        for f in sorted(os.listdir(os.path.join(outdir, "ERR_UPSERTING")))
        if f.startswith("part-")
    )
    blocks = [b for b in err_txt.split(SEPARATOR + "\n") if b.strip()]
    assert len(blocks) == 1
    assert "Primary key column c1 is null" in blocks[0]
    assert "pk:ASCII:X" in blocks[0]
    # MISSING_IN_MV_TABLE carries both base-only keys (X and Y)
    mm_txt = "".join(
        open(os.path.join(outdir, "MISSING_IN_MV_TABLE", f)).read()
        for f in sorted(os.listdir(os.path.join(outdir, "MISSING_IN_MV_TABLE")))
        if f.startswith("part-")
    )
    assert mm_txt.count("Problem: MISSING_IN_MV_TABLE") == 2

    # one-pass stats, JobStats.toString golden (README.md:73 format)
    assert stats.render() == GOLDEN_STATS
    with open(os.path.join(outdir, "stats.txt")) as fh:
        assert fh.read() == GOLDEN_STATS

    # lifecycle metrics fed from the SAME observe pass.  ReadRows counts
    # one read per present side per key (MvSync.java:250 pre-join parity):
    # 5 base rows + 4 mv rows = 9, not the 6 distinct keys.
    m = metrics.as_dict()
    assert m["JobStarted"] == 1 and m["JobCompleted"] == 1 and m["JobError"] == 0
    assert m["ProcessRecord"] == 6 and m["ReadRows"] == 9
    assert m["ConsistentRecord"] == 1 and m["InconsistentRecord"] == 1
    assert m["MissingBaseTable"] == 1 and m["MissingMV"] == 2
    assert m["RecordNotInScope"] == 1
    assert m["RecordRepairOn"] == 4 and m["RecordRepairOff"] == 0
    assert m["DeleteRecord"] == 1 and m["UpsertRecord"] == 3

    # the metrics sink got ONE scrape line with every registry counter in
    # order (MvSyncJobMetrics.java:6-23 names)
    assert len(sink_lines) == 1
    line = sink_lines[0]
    assert line == metrics.render()
    assert line.startswith("mvsync.metrics JobStarted=1 JobCompleted=1 ")
    assert "ReadRows=9" in line and "ProcessRecord=6" in line
    assert "MVDoesNotExist=0" in line


def test_run_detection_only_counts_not_repaired(spark, e2e_frames, tmp_path):
    """With all fix flags off (defaults) every problem key counts as
    notRepairRecords and no ERR_* category appears (MvSync.java:362-372)."""
    base, mv = e2e_frames
    outdir = str(tmp_path / "out")
    settings = SyncSettings(
        {
            "cass.mv.starttsinsec": "0",
            "cass.mv.endtsinsec": str(WT // 1_000_000),
            "cass.mv.output.dir": outdir,
        }
    )
    stats = run(spark, settings, base_df=base, mv_df=mv, spec=_spec())
    c = stats.counters
    assert c["repairRecords"] == 0 and c["notRepairRecords"] == 4
    assert c["delAttemptedRecords"] == 0 and c["upsertAttemptedRecords"] == 0
    dirs = {d for d in os.listdir(outdir) if os.path.isdir(os.path.join(outdir, d))}
    assert dirs == {
        "MISSING_IN_BASE_TABLE",
        "MISSING_IN_MV_TABLE",
        "INCONSISTENT",
    }


def test_run_repair_mode_fails_early_on_unsupported_type(spark, tmp_path):
    """MvSync.java:92-106: DURATION/TUPLE MV non-PK columns abort repair
    mode before any scan; detection-only still works."""
    cols = {"pk": "ASCII", "c1": "DURATION"}
    spec = MVSpec(
        base=TableSchema(pk=["pk"], columns=dict(cols)),
        mv=TableSchema(pk=["pk"], columns=dict(cols)),
    )
    metrics = JobMetrics()
    with pytest.raises(
        UnsupportedTypeError,
        match="Cannot do an automated fixing of inconsistencies for the "
        "unsupported type: DURATION",
    ):
        run(
            spark,
            SyncSettings({"cass.mv.fixmissingmv": "true"}),
            spec=spec,
            metrics=metrics,
            outdir=str(tmp_path / "never"),
        )
    assert metrics.count("JobError") == 1


def test_run_invokes_repair_applier_with_plans(spark, e2e_frames, tmp_path):
    """With fix flags on and an applier seam provided, run() hands it the
    column-granular upsert cells and the guarded delete keys (MvSync.java:
    384-412 inline mutation parity; applier = the live-executor seam)."""
    base, mv = e2e_frames
    applied: dict[str, list] = {}
    metrics = JobMetrics()

    def applier(upserts, deletes):
        applied["plans"] = [
            df._jdf.queryExecution().optimizedPlan().toString()
            for df in (upserts, deletes)
        ]
        applied["upserts"] = upserts.collect()
        applied["deletes"] = deletes.collect()

    stats = run(
        spark,
        _settings(str(tmp_path / "out")),
        base_df=base,
        mv_df=mv,
        spec=_spec(),
        metrics=metrics,
        repair_applier=applier,
    )
    # classify once: both plans read the checkpointed problem rows, so
    # neither re-runs the base/MV full-outer join
    for plan in applied["plans"]:
        assert "FullOuter" not in plan, plan
    # ...while the counters still saw every key (an observe placed after
    # the problem-row filter would read consistentRecords 0)
    assert stats.render() == GOLDEN_STATS
    m = metrics.as_dict()
    assert m["ProcessRecord"] == 6 and m["ReadRows"] == 9
    assert m["ConsistentRecord"] == 1 and m["InconsistentRecord"] == 1
    assert m["MissingBaseTable"] == 1 and m["MissingMV"] == 2
    assert m["RecordNotInScope"] == 1
    assert m["DeleteRecord"] == 1 and m["UpsertRecord"] == 3
    # delete plan: the single MV-only orphan key B (guard passes — B is
    # absent from the same base snapshot)
    assert [tuple(r) for r in applied["deletes"]] == [(11, "NY", 1, "B")]
    # upsert plan: keys C (c2 mismatch) and Y (missing in MV), every MV
    # non-PK column per key, null-PK key X excluded (ERR_UPSERTING instead)
    ups = applied["upserts"]
    assert {tuple(r)[:4] for r in ups} == {
        (12, "SF", 2, "C"), (14, "TX", 4, "Y")
    }
    assert {r.column for r in ups} == {"c2", "c3"}
    assert stats.counters["upsertAttemptedRecords"] == 3  # X counted, refused


# py4j round trips to build classify + the categorized report + both
# repair plans for ``_spec()`` (no action), counted as below: 4962 when
# every expression node was its own PySpark Column call.
_COLUMN_BUILD_ROUND_TRIPS = 4962


def test_runner_frames_build_in_few_round_trips(spark, e2e_frames, tmp_path):
    """The runner's frames are built from SQL text, one expression string
    per output column, not one py4j-wrapped Column call per node."""
    from py4j.clientserver import ClientServerConnection

    from mvrepair.operators.reconcile import classify
    from mvrepair.operators.repair import plan_deletes, plan_upserts
    from mvrepair.report import format_report_categorized

    base, mv = e2e_frames
    spec, settings = _spec(), _settings(str(tmp_path / "out"))

    def build():
        wide = classify(base, mv, spec, window=settings.window_micros())
        format_report_categorized(wide, spec, settings)
        plan_upserts(wide, spec, settings, respect_flags=True)
        plan_deletes(wide, spec, base)

    build()  # warm py4j's JVM-view lookups
    send = ClientServerConnection.send_command
    calls = [0]

    def counting(self, command, *args, **kwargs):
        calls[0] += 1
        return send(self, command, *args, **kwargs)

    ClientServerConnection.send_command = counting
    try:
        build()
    finally:
        ClientServerConnection.send_command = send
    assert calls[0] <= _COLUMN_BUILD_ROUND_TRIPS // 4, calls[0]


def test_run_no_applier_is_report_only(spark, e2e_frames, tmp_path):
    """Without an applier the job is detection/report-only even with fix
    flags on — no side-effect path runs (the default file-mode contract)."""
    base, mv = e2e_frames
    stats = run(
        spark, _settings(str(tmp_path / "out")),
        base_df=base, mv_df=mv, spec=_spec(),
    )
    assert stats.counters["repairRecords"] == 4


# ---------------------------------------------------------------------------
# from_catalog discovery (O5)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def catalog(spark, tmp_path_factory):
    """A keyspace-like database with a base table and an 'MV' table, PKs
    declared via the ``mvrepair.pk`` table property."""
    db = "mvrepair_testks"
    loc = tmp_path_factory.mktemp("warehouse")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")
    spark.sql(
        f"CREATE TABLE {db}.base_t (pk STRING, ck1 STRING, c1 INT, c2 INT) "
        "USING PARQUET TBLPROPERTIES ('mvrepair.pk'='pk,ck1')"
    )
    spark.sql(
        f"CREATE TABLE {db}.mv_t (pk STRING, ck1 STRING, c1 INT, c2 INT) "
        "USING PARQUET TBLPROPERTIES ('mvrepair.pk'='c1,ck1,pk')"
    )
    spark.sql(f"CREATE TABLE {db}.noprop_t (pk STRING, c1 INT) USING PARQUET")
    yield db
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_from_catalog_discovers_schemas_and_pks(spark, catalog):
    spec = MVSpec.from_catalog(spark, catalog, "base_t", "mv_t")
    assert spec.base.pk == ["pk", "ck1"]
    assert spec.mv.pk == ["c1", "ck1", "pk"]
    assert spec.base.columns == {
        "pk": "TEXT", "ck1": "TEXT", "c1": "INT", "c2": "INT"
    }
    # compare set: non-PK columns common to both with equal type
    assert spec.compare_columns == [("c2", "INT")]


def test_from_catalog_explicit_pk_overrides_property(spark, catalog):
    spec = MVSpec.from_catalog(
        spark, catalog, "base_t", "mv_t", base_pk=["pk"], mv_pk=["c1", "pk"]
    )
    assert spec.base.pk == ["pk"] and spec.mv.pk == ["c1", "pk"]


def test_from_catalog_missing_keyspace(spark, catalog):
    """MvSync.java:176-179 error text + KeyspaceMetadataError counter."""
    metrics = JobMetrics()
    with pytest.raises(MetadataError, match="The keyspace does not exist"):
        MVSpec.from_catalog(spark, "no_such_ks", "base_t", "mv_t", metrics=metrics)
    assert metrics.count("KeyspaceMetadataError") == 1


def test_from_catalog_missing_table(spark, catalog):
    """MvSync.java:180-184 error text."""
    metrics = JobMetrics()
    with pytest.raises(MetadataError, match="The table does not exist"):
        MVSpec.from_catalog(spark, catalog, "no_such_t", "mv_t", metrics=metrics)
    assert metrics.count("KeyspaceMetadataError") == 1


def test_from_catalog_missing_mv(spark, catalog):
    """MvSync.java:185-189 error text + MVDoesNotExist counter."""
    metrics = JobMetrics()
    with pytest.raises(MetadataError, match="The MV does not exist"):
        MVSpec.from_catalog(spark, catalog, "base_t", "no_such_mv", metrics=metrics)
    assert metrics.count("MVDoesNotExist") == 1
    assert metrics.count("KeyspaceMetadataError") == 0


def test_from_catalog_missing_pk_property(spark, catalog):
    with pytest.raises(MetadataError, match="mvrepair.pk"):
        MVSpec.from_catalog(spark, catalog, "noprop_t", "mv_t")


def test_run_via_catalog_end_to_end(spark, catalog, tmp_path):
    """Full discovery → classify → report flow with tables resolved from
    the catalog (no explicit frames/spec)."""
    spark.sql(
        f"INSERT OVERWRITE {catalog}.base_t VALUES "
        "('a', 'x', 1, 10), ('b', 'y', 2, 20)"
    )
    spark.sql(
        f"INSERT OVERWRITE {catalog}.mv_t VALUES "
        "('a', 'x', 1, 10), ('b', 'y', 2, 99)"
    )
    outdir = str(tmp_path / "out")
    settings = SyncSettings(
        {
            "cass.mv.keyspace": catalog,
            "cass.mv.basetablename": "base_t",
            "cass.mv.mvname": "mv_t",
            "cass.mv.output.dir": outdir,
        }
    )
    # no writetime companions in these tables → native unbounded window
    stats = run(spark, settings, native_unbounded_window=True)
    c = stats.counters
    assert c["totRecords"] == 2
    assert c["consistentRecords"] == 1 and c["inConsistentRecords"] == 1
    inc_dir = os.path.join(outdir, "INCONSISTENT")
    assert os.path.isdir(inc_dir)
    txt = "".join(
        open(os.path.join(inc_dir, f)).read()
        for f in sorted(os.listdir(inc_dir))
        if f.startswith("part-")
    )
    assert "BaseColumn: c2:INT:20" in txt and "MvColumn: c2:INT:99" in txt


def test_flatten_category_dirs_file_uri(spark, tmp_path):
    """reference_layout flattening works on URI-scheme outdirs via the
    Hadoop FileSystem API (round-4 stretch item); the previous driver-os
    implementation failed fast on any path with a scheme."""
    from mvrepair.runner import _flatten_category_dirs

    out = tmp_path / "rep"
    (out / "category=INCONSISTENT").mkdir(parents=True)
    (out / "category=INCONSISTENT" / "part-001.txt").write_text("rec1\n")
    (out / "category=MISSING_IN_MV_TABLE").mkdir()
    (out / "category=MISSING_IN_MV_TABLE" / "part-002.txt").write_text("rec2\n")
    # pre-existing target dir: files must MERGE, not clobber
    (out / "INCONSISTENT").mkdir()
    (out / "INCONSISTENT" / "part-000.txt").write_text("rec0\n")
    (out / "stats.txt").write_text("stats\n")

    _flatten_category_dirs(f"file://{out}", spark)

    assert sorted(p.name for p in out.iterdir()) == [
        "INCONSISTENT", "MISSING_IN_MV_TABLE", "stats.txt",
    ]
    assert sorted(p.name for p in (out / "INCONSISTENT").iterdir()) == [
        "part-000.txt", "part-001.txt",
    ]
    assert (out / "MISSING_IN_MV_TABLE" / "part-002.txt").read_text() == "rec2\n"
