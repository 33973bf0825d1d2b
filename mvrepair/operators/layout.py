"""Multi-dimensional data-layout operators: Z-order (Morton) clustering
keys and the layout-quality report that justifies them.

WHY this is a first-class engine component: at 100 TB the dominant cost
of every query in this repo is the scan, and the single biggest scan
lever after column pruning is FILE SKIPPING — parquet row-group /
file-level min-max statistics prune files whose value range can't match
the predicate.  Sorting by one column makes min-max ranges tight for
THAT column only; interleaving the bits of two (or more) dimension
columns — the Z-order / Morton curve (Morton 1966; the technique behind
Delta Lake's OPTIMIZE ZORDER BY and ClickHouse/Hudi space-filling-curve
layouts) — makes every participating dimension's per-file range
O(domain / 2^(bits_contributed)) wide, so point/range predicates on ANY
of the interleaved dimensions skip most files.

The reference engine (a full-scan reconciler,
src/main/java/mvsync/MvSync.java:125-142) has no layout surface at all;
this extends the engine's "absent surface" the same way the
rollup/top-k block does.

Everything is exact integer bit algebra — engine-portable, so the
DuckDB oracle replays the identical interleave and the layout report is
hash-checked end to end:

- normalization: ``(x - min) * (2^bits - 1) DIV max(1, max - min)`` —
  per-dimension min/max come from one tiny aggregate over the input
  (bounded driver artifact, the train_kmeans precedent);
- interleave: dimension d contributes bit i of its normalized value at
  output position ``i * n_dims + d`` (dimension 0 owns the HIGH
  interleaved slots: position (bits-1-i)*n_dims + (n_dims-1-d) for bit
  (bits-1-i), written below as a plain sum of shifted masked bits);
- bucket: the top ``bucket_bits`` of the z-value — exactly the file
  assignment a Z-ordered writer would use.

Scale shape: normalization + interleave are pure map-side projections
(no shuffle, no UDF — a ~4·bits-term integer expression per row); the
only exchange is the final per-bucket statistics aggregate (map-side
combinable, output 2^bucket_bits rows).  ``zorder_write`` is the real
writer — ``repartitionByRange(z)`` + sort-within + parquet — and
``layout_file_stats`` / ``files_skipped`` read the written layout back
and MEASURE the file-skipping the report predicts (pinned by test
against an unsorted baseline).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F


def z_value(cols: list[Column], bits: int = 8) -> Column:
    """Morton interleave of ``len(cols)`` already-normalized integer
    columns (each in ``[0, 2^bits)``) into one long.

    Bit ``i`` (0 = LSB) of dimension ``d`` lands at output position
    ``i * n + (n - 1 - d)`` — dimension 0 contributes the more
    significant bit within each position group, matching the textbook
    x-major Morton order.  Pure integer shifts/masks; the identical
    expression renders in ANSI SQL as ``((x >> i) & 1) << p``.
    """
    n = len(cols)
    terms: list[Column] = []
    for d, c in enumerate(cols):
        for i in range(bits):
            pos = i * n + (n - 1 - d)
            terms.append(
                F.shiftleft(F.shiftright(c.cast("long"), i).bitwiseAND(1), pos)
            )
    return reduce(lambda a, b: a + b, terms).cast("long")


def z_value_sql(col_exprs: list[str], bits: int = 8) -> str:
    """The DuckDB/ANSI rendering of ``z_value`` — same bit positions,
    same arithmetic, for oracle twins."""
    n = len(col_exprs)
    terms = []
    for d, e in enumerate(col_exprs):
        for i in range(bits):
            pos = i * n + (n - 1 - d)
            # each term FULLY parenthesized: SQL's << binds LOOSER than
            # +, so an unwrapped `a << p + b << q` nests the shifts
            terms.append(f"(((({e}) >> {i}) & 1) << {pos})")
    return "(" + " + ".join(terms) + ")"


def normalize_expr(c: Column, mn: int, mx: int, bits: int = 8) -> Column:
    """Order-preserving map of ``[mn, mx]`` onto ``[0, 2^bits)`` with
    EXACT integer floor division: plain ``/`` is double division, whose
    rounding can cross an integer boundary when the numerator nears
    2^53 — so the remainder is subtracted first, making the numerator
    exactly divisible and the double quotient exact (the repo's
    integer-DIV convention; DuckDB renders the same thing as ``//``).

    Domain-width PRECONDITION: the subtract-remainder trick makes the
    division exact only while the numerator ``(x - mn) * (2^bits - 1)``
    itself is exact, i.e. stays below 2^53 (and the int64 multiply
    below 2^63).  Enforced here as ``(mx - mn) * (2^bits - 1) < 2^53``
    so a future wide 64-bit key domain fails loudly instead of silently
    losing bit-stability vs the oracle's integer ``//``; callers with
    wider domains should pre-scale the column (divide by a constant)
    before layout."""
    span_raw = int(mx) - int(mn)
    if span_raw * ((1 << bits) - 1) >= (1 << 53):
        raise ValueError(
            f"normalize_expr: domain width {span_raw} * (2^{bits}-1) "
            f"exceeds 2^53 — double-exact floor division no longer "
            f"holds; pre-scale the dimension first"
        )
    span = max(1, span_raw)
    num = (c.cast("long") - F.lit(int(mn))) * F.lit((1 << bits) - 1)
    return ((num - num % F.lit(span)) / F.lit(span)).cast("long")


def _normalized_dims(
    df: DataFrame, dims: list[str], bits: int
) -> list[Column]:
    """Shared normalize step of the layout operators: one bounded
    min/max aggregate (collected driver-side — 2 longs per dimension,
    the train_kmeans model-artifact precedent), then the exact
    ``normalize_expr`` per dimension.  Raises on empty input (no
    statistics to normalize against)."""
    stats = df.agg(
        *[
            f
            for d in dims
            for f in (
                F.min(d).cast("long").alias(f"__mn_{d}"),
                F.max(d).cast("long").alias(f"__mx_{d}"),
            )
        ]
    ).collect()[0]
    if any(stats[f"__mn_{d}"] is None for d in dims):
        raise ValueError("z-order layout: empty input — no min/max stats")
    return [
        normalize_expr(F.col(d), stats[f"__mn_{d}"], stats[f"__mx_{d}"], bits)
        for d in dims
    ]


def zorder_layout(
    df: DataFrame,
    dims: list[str],
    bits: int = 8,
    bucket_bits: int = 6,
) -> DataFrame:
    """Z-order layout report: assign every row its Morton bucket and
    aggregate per-bucket row counts + per-dimension min/max — the
    min-max pruning statistics a Z-ordered file layout would expose.

    Per-dimension min/max for normalization come from one bounded
    aggregate (collected driver-side, the train_kmeans model-artifact
    precedent — 2 longs per dimension, never rows).

    Output: (zbucket, n_rows, <dim>_min, <dim>_max per dim), one row per
    occupied bucket — at most ``2^bucket_bits`` rows.  A dimension's
    average per-bucket span relative to its domain is the file-skipping
    ratio a predicate on that dimension gets.
    """
    if not 0 <= bucket_bits <= bits * len(dims):
        # a negative shift count would hit Java's shift-mod-64 semantics
        # and silently diverge from the oracle's `>>`
        raise ValueError(
            f"zorder_layout: bucket_bits={bucket_bits} must be in "
            f"[0, bits*len(dims)={bits * len(dims)}]"
        )
    norm = _normalized_dims(df, dims, bits)
    z = z_value(norm, bits=bits)
    shift = bits * len(dims) - bucket_bits
    bucket = F.shiftright(z, shift).alias("zbucket")
    return (
        df.select(bucket, *dims)
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            *[
                f
                for d in dims
                for f in (
                    F.min(d).cast("long").alias(f"{d}_min"),
                    F.max(d).cast("long").alias(f"{d}_max"),
                )
            ],
        )
    )


def zorder_write(
    df: DataFrame,
    path: str,
    dims: list[str],
    bits: int = 8,
    n_files: int = 16,
) -> None:
    """The Z-order WRITER the report predicts for: compute the Morton
    key, range-partition the rows by it into ``n_files`` output files,
    sort within each partition, and write parquet — after which every
    file's min-max range on EVERY interleaved dimension is narrow, so
    parquet footer statistics prune most files for a predicate on any
    of them.

    This is exactly Delta Lake's ``OPTIMIZE ZORDER BY`` shape: ONE
    range exchange on the z key (range boundaries from Spark's
    reservoir sample — cheap), one local sort, no other shuffle.  The
    synthetic key is dropped before writing; the layout IS the key.
    At 100 TB ``n_files`` becomes files-per-job sized to ~1 GB outputs;
    nothing else changes.

    The evidence loop: ``layout_file_stats`` reads the written layout
    back, ``files_skipped`` evaluates a point predicate against the
    per-file min-max — tests pin that the measured skip ratio on BOTH
    interleaved dimensions beats an unsorted write of the same rows.
    """
    norm = _normalized_dims(df, dims, bits)
    (
        df.withColumn("__z", z_value(norm, bits=bits))
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def layout_file_stats(spark, path: str, dims: list[str]) -> DataFrame:
    """Per-FILE min/max statistics of a written layout — the readback
    side of the pruning evidence loop.  Groups by ``input_file_name``
    (one output row per physical file, bounded by the writer's
    ``n_files``), aggregating row count and each dimension's min/max —
    the same ranges a parquet reader's footer-based file skipping
    consults."""
    df = spark.read.parquet(path).withColumn("__file", F.input_file_name())
    return df.groupBy("__file").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        *[
            f
            for d in dims
            for f in (
                F.min(d).cast("long").alias(f"{d}_min"),
                F.max(d).cast("long").alias(f"{d}_max"),
            )
        ],
    )


def files_skipped(file_stats: list, dim: str, point: int) -> tuple[int, int]:
    """Evaluate a point predicate ``dim = point`` against collected
    per-file statistics (driver-side over the bounded ``n_files`` rows):
    a file is SKIPPED when ``point`` falls outside its [min, max] —
    precisely the parquet row-group/file pruning rule.  Returns
    (skipped, total)."""
    skipped = sum(
        1
        for r in file_stats
        if not (r[f"{dim}_min"] <= point <= r[f"{dim}_max"])
    )
    return skipped, len(file_stats)


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int,
) -> None:
    """Write ``df`` as a BUCKETED, bucket-sorted parquet table — the
    storage half of the co-located join: rows are hash-distributed into
    ``buckets`` files per partition by ``key`` (Spark's
    ``HashPartitioning``, the same function the join would shuffle by)
    and sorted by ``key`` within each bucket.

    At 100 TB this is THE strategy for a fact-fact join that repeats
    across a pipeline (orders ⋈ lineitem here; events ⋈ documents,
    corpus ⋈ dedup-verdicts in the LLM layer): pay the shuffle ONCE at
    write time, then every subsequent join on the bucket key reads both
    sides already co-partitioned AND pre-sorted — zero Exchange, zero
    Sort in the join plan (pinned by test), which at cluster scale
    removes the single largest network cost a repeated join pays.
    ``buckets`` must match on both sides; size it so one bucket of the
    LARGER side fits an executor core's working set (~the same rule as
    ``spark.sql.shuffle.partitions``).
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # A managed table's LOCATION can survive a previous session whose
    # in-memory catalog is gone (the catalog entry died with the
    # session, the warehouse directory didn't) — Spark then refuses the
    # name with LOCATION_ALREADY_EXISTS.  Reconcile the orphan
    # directory explicitly; on a cluster deployment the persistent
    # metastore owns this lifecycle and the rmtree is a no-op.
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{wh}/{table.lower()}", ignore_errors=True)
    (
        # repartition on the SAME hash the bucketing uses, so every
        # bucket is written by exactly one task = exactly one file —
        # the condition under which the scan also exposes the sortBy
        # order and the join needs no Sort (multi-file buckets only
        # guarantee per-file order, so the reader would re-sort)
        df.repartition(buckets, F.col(key))
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )


def bucketed_join(
    spark,
    left_table: str,
    right_table: str,
    left_key: str,
    right_key: str,
) -> DataFrame:
    """Shuffle-free equi-join of two tables written by
    :func:`write_bucketed` with the SAME bucket count.

    The ``merge`` hint pins SortMergeJoin (a broadcast would also skip
    the shuffle at fixture scale, but the point at 100 TB is the
    fact-fact case where neither side broadcasts); Spark's bucketed
    scan then satisfies both the HashPartitioning and the sort order
    requirement from the file layout, so the plan contains NO Exchange
    and NO Sort under the join — co-location verified structurally by
    tests/test_layout_bucketed.py.
    """
    # SPARK-28595 stopped trusting bucket-file sort order by default
    # because multi-file buckets only guarantee PER-FILE order; the
    # legacy flag re-enables it, and Spark still guards it behind a
    # one-file-per-bucket check at scan planning — which
    # write_bucketed's aligned repartition guarantees.  Only
    # bucket-sorted scans consult this, and only this writer creates
    # them, so the session-wide set is safe.  It must be session-wide:
    # the scan is planned at action time, after this function returns,
    # so a conf_scope here would not reach it.
    spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
    )
    left = spark.table(left_table)
    right = spark.table(right_table)
    return left.hint("merge").join(
        right.hint("merge"),
        left[left_key] == right[right_key],
    )


def partitioned_write(
    df: DataFrame, part_col: str, path: str
) -> DataFrame:
    """Hive-style directory partitioning — the THIRD layout lever
    beside the Z-order writer (intra-file min/max skipping) and
    bucketing (shuffle-free joins): one directory per ``part_col``
    value, so a filter on the partition column prunes whole
    directories at PLANNING time (PartitionFilters in the scan — no
    footer reads, no tasks), and a join against a filtered dimension
    prunes them at RUNTIME via dynamic partition pruning
    (``dynamicpruningexpression`` in the scan, SPARK-11150).

    The repartition on the partition column keeps it one file per
    directory (without it every task writes a sliver into every
    partition — the classic small-files explosion).  Write is
    idempotent (overwrite); returns the read-back frame whose scans
    carry the partition metadata.

    Use an INT-rendered key (e.g. yyyymmdd) — directory values
    round-trip through strings, and partition-column type inference
    restores ints exactly.
    """
    df.repartition(F.col(part_col)).write.mode("overwrite").partitionBy(
        part_col
    ).parquet(path)
    return df.sparkSession.read.parquet(path)


def compaction_plan(
    stats: DataFrame,
    order_col: str,
    rows_col: str,
    target_rows: int,
) -> DataFrame:
    """Order-preserving compaction planner — the OPTIMIZE step for the
    small-files problem: given per-file (or per-z-bucket) statistics in
    layout order, assign contiguous runs to output groups of
    ~``target_rows`` each, so compaction merges neighbors WITHOUT
    destroying the sort/Z locality the layout was built for (shuffling
    arbitrary files together would re-interleave key ranges and undo
    the min-max skipping the writer paid for).

    The cut rule is pack_sequences' greedy boundary: group =
    (exclusive prefix row sum) DIV target — deterministic, one pass,
    each group ends at the first stat row crossing its budget.  Groups
    can exceed ``target_rows`` by at most one member's rows (the
    greedy guarantee); only the LAST group can be arbitrarily small.

    Scale shape: ONE cumulative window over the stats frame — which is
    file-count / bucket-count sized (≤2^bucket_bits for the Z writer),
    never corpus rows.  Output: one row per group with its member
    count, total rows, and the covered ``order_col`` range (the
    metadata a catalog needs to swap the group in atomically).
    """
    from pyspark.sql.window import Window

    if target_rows < 1:
        raise ValueError("compaction_plan: target_rows must be >= 1")
    w = Window.orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = stats.select(
        F.col(order_col).alias("__o"),
        F.col(rows_col).cast("long").alias("__r"),
        (F.sum(F.col(rows_col).cast("long")).over(w)
         - F.col(rows_col).cast("long")).alias("__prev"),
    )
    grouped = cum.select(
        "__o", "__r", F.expr(f"__prev DIV {target_rows}").alias("grp")
    )
    return grouped.groupBy(F.col("grp").cast("long").alias("group_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("__r").cast("long").alias("total_rows"),
        F.min("__o").cast("long").alias("range_min"),
        F.max("__o").cast("long").alias("range_max"),
    )
