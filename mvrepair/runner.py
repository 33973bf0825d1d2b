"""Job driver: the ``run()`` lifecycle gluing every component together.

Parity with ``MvSync.main``/``run()``/``buildAndRunSparkJob``
(/root/reference/src/main/java/mvsync/MvSync.java:43-61, :108-156):

    settings → schema discovery (``MVSpec.from_catalog``) → repair-type
    validation → classify → categorized report sinks → ``stats.txt``,

with the 15 JobStats counters collected via ``df.observe`` on the one
full pass over the data — exactly-once per action (better than the
reference's at-least-once accumulators under task retries,
JobStats.java:26-41) — and fed into the lifecycle metrics registry
(``JobMetrics.absorb_job_stats``, MvSyncJobMetrics.java:6-23).

Classify once: the reference classifies a key and issues its repair in
the same cogroup pass (MvSync.java:384-412).  Here, when a repair applier
runs, the one full pass is an eager ``localCheckpoint`` of the problem
rows, and the report write and both repair plans read that checkpoint
instead of each re-running scan → join → classify.  Without an applier
the report write is the only consumer, so it stays the one action and
nothing is checkpointed.

Output layout mirrors ``MVJobOutputStreamer`` (output/MVJobOutputStreamer.
java:28-61): ``<outdir>/<CATEGORY>/part-*.txt`` — one directory per
problem/error category, one file per Spark partition, records separated by
``"="*30`` — plus ``<outdir>/stats.txt`` (MvSync.java:148-152, golden
format in README.md:73).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession

from mvrepair.config import SyncSettings
from mvrepair.functions import ident
from mvrepair.metrics import GLOBAL_METRICS, JobMetrics
from mvrepair.operators.reconcile import (
    PROBLEM_ROWS,
    JobStatsResult,
    classify,
    read_rows_exprs,
    stats_agg_exprs,
)
from mvrepair.report import (
    _default_upsert_err,
    write_error_reports,
    write_reports,
    write_stats,
)
from mvrepair.schema import MVSpec

# An applier receives (upserts_df, deletes_df) — the column-granular upsert
# cells (operators.repair.plan_upserts schema) and the guarded delete keys —
# and performs the side effect.  ``sources.cassandra.apply_repairs_cassandra``
# is the live-database implementation (returns the two per-key error
# frames, which ``run`` routes into ERR_UPSERTING / ERR_DELETING); tests
# pass a recorder.  A ``None`` return means "no live failure surface".
RepairApplier = Callable[
    [DataFrame, DataFrame], "tuple[DataFrame, DataFrame] | None"
]


def _flatten_category_dirs(outdir: str, spark: SparkSession | None = None) -> None:
    """``category=X`` partition dirs → reference-layout ``X`` dirs.

    Plain paths use driver-side ``os`` renames (the fast local path).
    URI-scheme paths (``file:``, ``hdfs:``, ``s3a:``, …) go through the
    Hadoop ``FileSystem`` API of the active session, so
    ``reference_layout=True`` works on remote filesystems too — note
    that on object stores a "rename" is a server-side copy, so for very
    large reports there ``reference_layout=False`` (keep the native
    ``partitionBy`` layout) remains the cheaper choice.  Files are
    MERGED into an existing category dir (part-file names are
    task-unique) so a later append write — e.g. the live repair-error
    categories — never clobbers an earlier flatten.
    """
    if "://" not in outdir:
        for name in os.listdir(outdir):
            if name.startswith("category="):
                src = os.path.join(outdir, name)
                dst = os.path.join(outdir, name[len("category="):])
                os.makedirs(dst, exist_ok=True)
                for entry in os.listdir(src):
                    os.replace(os.path.join(src, entry), os.path.join(dst, entry))
                os.rmdir(src)
        return
    if spark is None:
        raise ValueError(
            f"flattening a URI-scheme outdir needs the SparkSession for "
            f"Hadoop FileSystem access; got {outdir!r} with spark=None"
        )
    sc = spark.sparkContext
    HPath = sc._jvm.org.apache.hadoop.fs.Path  # noqa: N806 — JVM class
    root = HPath(outdir)
    fs = root.getFileSystem(sc._jsc.hadoopConfiguration())
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if not name.startswith("category="):
            continue
        src = status.getPath()
        dst = HPath(root, name[len("category="):])
        fs.mkdirs(dst)
        for entry in fs.listStatus(src):
            fs.rename(entry.getPath(), HPath(dst, entry.getPath().getName()))
        fs.delete(src, False)


def run(
    spark: SparkSession,
    settings: SyncSettings | None = None,
    base_df: DataFrame | None = None,
    mv_df: DataFrame | None = None,
    spec: MVSpec | None = None,
    metrics: JobMetrics | None = None,
    outdir: str | None = None,
    native_unbounded_window: bool = False,
    reference_layout: bool = True,
    repair_applier: RepairApplier | None = None,
    metrics_sink: Callable[[str], None] | None = None,
) -> JobStatsResult:
    """Execute the full reconcile job; returns the 15-counter stats.

    Seams mirror the reference's overridable test seams
    (MvSyncRDDTest.java:63-128): ``spec`` overrides catalog discovery,
    ``base_df``/``mv_df`` override the table scans, ``metrics`` overrides
    the global registry.  With no overrides the tables come from
    ``settings.keyspace / basetablename / mvname`` via the Spark catalog
    (primary keys from the ``mvrepair.pk`` table property).

    One full pass: window filter, join, classify, diff and the 15 stats
    counters (via ``observe``) run once.  Without a repair applier that
    pass is the report write, category fan-out included.  With one, it
    is an eager ``localCheckpoint`` of the problem rows (non-CONSISTENT,
    non-SKIPPED), which the report write, ``plan_upserts`` and
    ``plan_deletes`` then read; the delete guard still reads ``base_df``
    to re-check the snapshot.  ``stats.txt`` is then written driver-side
    from the observed values — no second aggregation job
    (JobStats.java:44-76).
    """
    settings = settings or SyncSettings()
    metrics = metrics if metrics is not None else GLOBAL_METRICS
    outdir = outdir or settings.output_dir

    metrics.inc("JobStarted")
    try:
        if spec is None:
            spec = MVSpec.from_catalog(
                spark,
                settings.keyspace,
                settings.base_table_name,
                settings.mv_name,
                metrics=metrics,
            )
        # MvSync.java:92-106 — upsert-repair mode fails early on
        # DURATION/TUPLE (the guard is gated on the two upsert flags only,
        # :98: deletes bind no non-PK values).
        if settings.fix_missing_mv or settings.fix_inconsistent_mv:
            spec.validate_repairable()

        if base_df is None:
            base_df = spark.table(f"{settings.keyspace}.{settings.base_table_name}")
        if mv_df is None:
            mv_df = spark.table(f"{settings.keyspace}.{settings.mv_name}")

        window = settings.window_micros(native_unbounded=native_unbounded_window)
        wide = classify(base_df, mv_df, spec, window=window)

        # One-pass stats: both observations sit on the FULL classified
        # frame (readRows is a second observe on the same frame), so the
        # first action over it computes all 16 values exactly once.
        upsert_err = _default_upsert_err(spec, settings)
        observation = Observation("job_stats")
        read_obs = Observation("read_rows")
        wide = wide.observe(
            observation, *stats_agg_exprs(settings, upsert_err=upsert_err)
        ).observe(read_obs, *read_rows_exprs())

        repairing = repair_applier is not None and settings.repair_enabled
        if repairing:
            # Three consumers follow (the report write and both repair
            # plans), and each would re-run scan → join → classify.  Only
            # problem rows reach any of them, so the one full pass keeps
            # those rows, and the counters ride it.  localCheckpoint, as
            # on the mutation path in sources/cassandra.py: the blocks
            # stay on the executors without a checkpoint directory, and
            # they are lost with an executor (the run then fails rather
            # than recomputing).  With the report as the only consumer,
            # its write stays the one action and nothing is checkpointed.
            wide = wide.filter(PROBLEM_ROWS).localCheckpoint(eager=True)

        write_reports(wide, spec, outdir, settings, upsert_err=upsert_err)
        if reference_layout:
            _flatten_category_dirs(outdir, spark)

        # Repair execution (MvSync.java:384-412 performs mutations inline
        # when fix flags are on).  The applier is a seam like the
        # reference's overridable getRDD/streamers (MvSyncRDDTest.java:
        # 63-128): sources.cassandra.apply_repairs_cassandra for a live
        # cluster, a recorder in tests, None = detection/report-only.
        live_upsert_err = live_delete_err = 0
        if repairing:
            from mvrepair.operators.repair import plan_deletes, plan_upserts

            upserts = plan_upserts(wide, spec, settings, respect_flags=True)
            if settings.fix_orphan_mv:
                # file-mode guard re-checks against the same snapshot (the
                # batch equivalent of the point-lookup probe,
                # DBOperations.java:196-228)
                deletes = plan_deletes(wide, spec, base_df)
            else:
                deletes = wide.selectExpr(*map(ident, spec.mv_pk)).limit(0)
            result = repair_applier(upserts, deletes)
            # A live applier (apply_repairs_cassandra) hands back per-key
            # error frames; route them into the ERR_UPSERTING/ERR_DELETING
            # report categories (MVJobOutputStreamer.java:64-101) and fold
            # the counts into the delErr/upsertErr stats counters
            # (JobStats increments at MvSync.java:384-412).
            if isinstance(result, tuple):
                uerr, derr = result
                # counts first (cheap — the applier returns the frames
                # locally checkpointed): an all-success run skips the
                # error write entirely instead of re-running the classify
                # plan to write zero rows
                live_upsert_err = (
                    uerr.select(*spec.mv_pk).distinct().count()
                )
                live_delete_err = (
                    derr.select(*spec.mv_pk).distinct().count()
                )
                if live_upsert_err or live_delete_err:
                    write_error_reports(
                        wide, spec, outdir,
                        upsert_errors=uerr if live_upsert_err else None,
                        delete_errors=derr if live_delete_err else None,
                    )
                    if reference_layout:
                        _flatten_category_dirs(outdir, spark)
                # The frames are localCheckpoint'ed (not cache-manager
                # entries), so there is nothing to unpersist; their
                # executor-local blocks are reclaimed by Spark's
                # ContextCleaner once these references are garbage
                # collected.
            # Every consumer of the problem-row checkpoint has run: free
            # its blocks now instead of whenever a GC lets the
            # ContextCleaner see the frame is gone.  DataFrame.unpersist
            # does not reach them; they belong to the RDD under the
            # frame's LogicalRDD.
            wide._jdf.queryExecution().analyzed().rdd().unpersist(False)

        stats = JobStatsResult(
            counters={k: int(v) for k, v in observation.get.items()}
        )
        # extra key beyond the 15 — render()/stats.txt ignore it; it feeds
        # the ReadRows lifecycle counter (MvSync.java:250 parity)
        stats.counters["readRows"] = int(read_obs.get["readRows"])
        if live_upsert_err or live_delete_err:
            # per-key counts (a key with several failed column upserts is
            # one errored record, matching the per-record report row)
            c = stats.counters
            c["upsertErrRecords"] += live_upsert_err
            c["upsertSuccessRecords"] = max(
                0, c["upsertSuccessRecords"] - live_upsert_err
            )
            c["delErrRecords"] += live_delete_err
            c["delSuccessRecords"] = max(
                0, c["delSuccessRecords"] - live_delete_err
            )
        write_stats(stats, outdir)
        metrics.absorb_job_stats(stats.counters)
        metrics.inc("JobCompleted")
        # the reference's codahale registry is always scrapeable; the
        # log-line publish is our equivalent end-of-job reporter flush
        metrics.publish(metrics_sink)
        return stats
    except Exception:
        metrics.inc("JobError")
        raise
