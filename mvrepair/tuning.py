"""The one session-conf scope, and the loop-sizing rule built on it.

Every registered query shares one SparkSession, so a conf a query
leaves behind re-plans every query after it.  All session-conf changes
therefore go through :func:`conf_scope`, which restores each key's
prior EXPLICIT value on exit — or unsets it when it had none, so an
unset key never comes out pinned to its effective default.

Two settings stay session-global by design, because Spark reads them
when the lazy plan is optimized or planned at action time, after any
scope around the query's construction has closed:
``spark.sql.python.filterPushdown.enabled`` (events_tokenrange) and
``spark.sql.legacy.bucketedTableScan.outputOrdering`` (bucketed_join).

Fixed-round loops (pagerank, label propagation, connected components)
re-pay AQE's price every round: each adaptive stage materialization is
its own job, and a round with 3-4 exchanges schedules 4-6 jobs
(pagerank at sf0.1: 10.7 s with per-round AQE planning vs 3.4 s with
the loop sized once).  A loop's working frames are |E|-bounded and
their size is measured at loop entry, so :func:`sized_loop` sizes the
shuffle once from that count and runs the rounds with static planning.
"""

from __future__ import annotations

from contextlib import contextmanager

AQE = "spark.sql.adaptive.enabled"
SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
# Cached plans compile with AQE restricted unless this is on (Spark
# keeps a cached plan's output partitioning stable by default).  It is
# read when persist() registers the plan, so scope it around the
# persist and its materializing action.
CACHED_PLAN_AQE = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

# One shuffle partition per ~100k edge rows keeps loop-stage tasks in
# the millisecond-to-second range (graph rounds are join/agg CPU-bound,
# not byte-bound); partitions grow linearly with the measured rows.
ROWS_PER_PARTITION = 100_000


@contextmanager
def conf_scope(spark, confs: dict[str, str]):
    """Set ``confs`` on the session for the enclosed block; on exit
    restore each key's prior explicit value, or unset it if it had
    none."""
    prior = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def loop_partitions(n_rows: int) -> int:
    """Shuffle-partition count for a fixed-round loop over ``n_rows``
    working rows: ceil(n_rows / ROWS_PER_PARTITION), at least 1."""
    return max(1, -(-int(n_rows) // ROWS_PER_PARTITION))


def sized_loop(spark, n_rows: int):
    """AQE off and shuffle partitions sized from ``n_rows`` for the
    enclosed loop actions.  Frames RETURNED from the block are planned
    at action time, outside the scope."""
    return conf_scope(
        spark, {AQE: "false", SHUFFLE_PARTITIONS: str(loop_partitions(n_rows))}
    )
