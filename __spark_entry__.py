"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship reconciliation report at sf0.001.
``queries()`` — one entry per implemented operator family (SURVEY.md §2 +
the LLM-data-pipeline extensions).  ``oracle_sql()`` — DuckDB-equivalent
SQL for every query (all hash-matchable: numeric outputs go through
exact decimal arithmetic or engine-portable md5-based hashing).

ORACLE TYPE CONVENTION (pinned after three one-class bugs: the decimal-
precision lesson r2, the bare-literal-DECIMAL lesson r3, the HUGEINT
``sum(BIGINT)`` lesson r3→r4).  The driver's value hash is sensitive to
the engines' native RESULT TYPES, not just values, so every oracle
SELECT must produce columns whose DuckDB Arrow type equals the Spark
result type exactly:

  * integer aggregates: ``CAST(sum(x) AS BIGINT)`` — DuckDB widens
    sum(BIGINT) to HUGEINT (int128) while Spark stays BIGINT;
  * no decimal-typed output columns anywhere (Spark sum(decimal) and
    DuckDB sum(decimal) widen to different precisions) — cast money
    math through exact int64 micro-units or DOUBLE;
  * numeric literals in double expressions: ``CAST(1.5 AS DOUBLE)`` —
    bare ``1.5`` parses as DECIMAL in both engines and their promotion
    paths differ.

``tools/check_oracle.py`` enforces this mechanically (Spark schema vs
DuckDB Arrow schema in one canonical domain); run it before shipping
any new oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from mvrepair.config import SyncSettings
from mvrepair.operators import dedup as D
from mvrepair.operators import packing as PK
from mvrepair.operators import similarity as S
from mvrepair.operators import temporal as T
from mvrepair.operators import text as X
from mvrepair.operators.reconcile import classify, reconcile_report, stats_df
from mvrepair.operators.repair import (
    apply_repairs_file_mode,
    plan_deletes,
    plan_upserts,
)
from mvrepair.plans import mv_pair as P
from mvrepair.sources import load_table
from mvrepair.tuning import SHUFFLE_PARTITIONS, conf_scope

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

_FIX_ALL = SyncSettings(
    {
        "cass.mv.fixmissingmv": "true",
        "cass.mv.fixorphanmv": "true",
        "cass.mv.fixinconsistentmv": "true",
    }
)

_DEC18 = "decimal(18,2)"
_DEC12 = "decimal(12,10)"


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to all cores when the source has fewer
    input splits than the cluster has slots.

    The fixture tables are a few MB — one or two parquet splits — so
    without this every per-row-heavy operator runs on ≤2 of 32 cores.  On
    a real 100 TB table the scan yields thousands of splits and this is a
    no-op (guarded), so it costs nothing at scale.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    # inputFiles() is driver-side file-index metadata — unlike df.rdd, it
    # doesn't force a full physical plan + RDD conversion per call.  The
    # fixture files are single-row-group, so files ≈ input splits.
    if len(df.inputFiles()) >= target:
        return df
    return df.repartition(target)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, text) spread across cores — shared by the text/dedup family."""
    return _spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))


def _docs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ exact copies (doc_id + 1_000_000) — exact-dedup demo."""
    d = _docs(spark, sf_dir)
    return d.unionByName(d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text"))


def _neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ near-duplicates (first token dropped, doc_id + 1_000_000)."""
    d = _docs(spark, sf_dir)
    variant = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.expr("substr(text, instr(text, ' ') + 1)").alias("text"),
    )
    return d.unionByName(variant)


_DOCS_CORPUS_SQL = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 1000000, text FROM documents"
)
_NEARDUP_CORPUS_SQL = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 1000000, substr(text, instr(text, ' ') + 1) FROM documents"
)


# ---------------------------------------------------------------------------
# reconciliation family (SURVEY §2 O1-O19 on the derived orders base/MV pair)
# ---------------------------------------------------------------------------

def q_mv_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    return reconcile_report(
        P.base_df(spark, sf_dir), P.mv_df(spark, sf_dir), P.spec(), window=P.WINDOW
    )


def q_mv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = classify(
        P.base_df(spark, sf_dir), P.mv_df(spark, sf_dir), P.spec(), window=P.WINDOW
    )
    return stats_df(wide, SyncSettings({}))


def q_mv_upserts(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = classify(
        P.base_df(spark, sf_dir), P.mv_df(spark, sf_dir), P.spec(), window=P.WINDOW
    )
    return plan_upserts(wide, P.spec())


def q_mv_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = P.base_df(spark, sf_dir)
    wide = classify(base, P.mv_df(spark, sf_dir), P.spec(), window=P.WINDOW)
    return plan_deletes(wide, P.spec(), base)


_MUTATION_CELLS_DDL = (
    "o_custkey long, o_orderkey long, column string, column_type string,"
    " value string, writetime long, ttl int, flavor string"
)


def q_mv_repair_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The repair APPLY leg through a real task-commit protocol: the
    checked upsert-cell plan writes via the mutation-sink Python
    DataSource (each task spills uncommitted, the driver commit renames
    + manifests only successful attempts — duplicate/speculative task
    attempts structurally cannot double-apply), then the cells read
    back THROUGH the manifest and must hash-equal the plan — write-path
    byte parity is the gate, the roundtrip_orc doctrine applied to the
    O14/O15 sink seam.  See sources/mutationsink.py."""
    import shutil

    from mvrepair.sources.mutationsink import (
        MutationSinkDataSource,
        read_manifested,
    )

    spark.dataSource.register(MutationSinkDataSource)
    wide = classify(
        P.base_df(spark, sf_dir), P.mv_df(spark, sf_dir), P.spec(),
        window=P.WINDOW,
    )
    cells = plan_upserts(wide, P.spec())
    path = "/tmp/mvrepair_mutation_sink"
    shutil.rmtree(path, ignore_errors=True)
    cells.write.format("mvrepair_mutation_sink").option(
        "path", path
    ).mode("append").save()
    return read_manifested(spark, path, _MUTATION_CELLS_DDL)


def q_repair_log_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-write-wins compaction of the durable repair-cell log: a
    superseding snapshot re-plans half the keys with bumped writetimes;
    compaction keeps the winning cell per (MV key, column) via one
    combine-friendly max_by(struct) — never a window — and reports how
    many older cells each winner shadowed.

    The superseding snapshot is synthesized ROW-LOCALLY: each planned
    cell explodes into itself plus (for even order keys) its bumped v2
    twin, so the classify + upsert-planner lineage runs ONCE.  The
    original union-of-two-branches form recomputed that whole upstream
    pipeline per branch — at 100 TB the log-producing scan is the cost,
    and a compaction harness must not double it (r8 verdict item #1:
    the doubled lineage was the named suspect for this query's
    artifact-noise swings; now it structurally can't be)."""
    from mvrepair.operators.repair import compact_repair_log

    wide = classify(
        P.base_df(spark, sf_dir), P.mv_df(spark, sf_dir), P.spec(), window=P.WINDOW
    )
    cells = plan_upserts(wide, P.spec())
    payload = F.struct(
        "o_custkey",
        "o_orderkey",
        "column",
        "column_type",
        "value",
        "writetime",
        "ttl",
        "flavor",
    )
    v2 = F.struct(
        F.col("o_custkey"),
        F.col("o_orderkey"),
        F.col("column"),
        F.col("column_type"),
        F.concat(F.lit("v2:"), F.coalesce(F.col("value"), F.lit(""))).alias(
            "value"
        ),
        (F.col("writetime") + 1000).alias("writetime"),
        F.col("ttl"),
        F.col("flavor"),
    )
    log = cells.select(
        F.explode(
            F.when(F.col("o_orderkey") % 2 == 0, F.array(payload, v2)).otherwise(
                F.array(payload)
            )
        ).alias("__c")
    ).select("__c.*")
    return compact_repair_log(log, ["o_custkey", "o_orderkey"])


def _oracle_repair_log_compact() -> str:
    order = """writetime IS NOT NULL DESC, writetime DESC,
             value IS NOT NULL DESC, value DESC,
             flavor IS NOT NULL DESC, flavor DESC,
             ttl IS NOT NULL DESC, ttl DESC,
             column_type IS NOT NULL DESC, column_type DESC"""
    return f"""WITH {P.oracle_classified_cte()},
cells AS ({_oracle_upsert_cells("cls")}),
log AS (
  SELECT * FROM cells
  UNION ALL
  SELECT o_custkey, o_orderkey, "column", column_type,
         'v2:' || coalesce(value, '') AS value,
         writetime + 1000 AS writetime, ttl, flavor
  FROM cells WHERE o_orderkey % 2 = 0),
r AS (
  SELECT *,
    count(*) OVER (PARTITION BY o_custkey, o_orderkey, "column") AS n,
    row_number() OVER (PARTITION BY o_custkey, o_orderkey, "column"
                       ORDER BY {order}) AS rn
  FROM log)
SELECT o_custkey, o_orderkey, "column", column_type, value, writetime,
       ttl, flavor, (n - 1)::BIGINT AS n_superseded
FROM r WHERE rn = 1"""


def q_mv_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    repaired = apply_repairs_file_mode(
        P.base_df(spark, sf_dir),
        P.mv_df(spark, sf_dir),
        P.spec(),
        _FIX_ALL,
        window=P.WINDOW,
    )
    return repaired.select(
        "o_custkey",
        "o_orderkey",
        F.unix_micros(F.col("o_orderdate")).alias("o_orderdate_us"),
        "o_orderpriority",
        "o_orderstatus",
        "o_totalprice",
        *[F.col(f"{c}__writetime") for c in P.NON_PK],
        *[F.col(f"{c}__ttl") for c in P.NON_PK],
    )


def q_mv_report_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O16/O17 golden-text report surface as a hash-checked query: the
    (problem, record) rows ``format_report`` renders for every problem key
    (MVInconsistentRow.toString / RecordPrimaryKey.toString parity —
    MVInconsistentRow.java:32-53, RecordPrimaryKey.java:63-76)."""
    from mvrepair.report import format_report

    wide = classify(
        P.base_df(spark, sf_dir), P.mv_df(spark, sf_dir), P.spec(), window=P.WINDOW
    )
    return format_report(wide, P.spec())


def _oracle_row_entry(prefix: str) -> str:
    """DuckDB twin of report._row_render_expr for the orders pair: sorted
    column order, value then writetime/ttl companions per non-PK column."""
    wt = f"{prefix}_wt"
    return (
        "concat('CassandraRow{o_custkey: ', o_custkey"
        f", ', o_orderdate: ', epoch_ms({prefix}_date)"
        f", ', writetime(o_orderdate): ', {wt}"
        ", ', ttl(o_orderdate): null, o_orderkey: ', o_orderkey"
        f", ', o_orderpriority: ', {prefix}_prio"
        f", ', writetime(o_orderpriority): ', {wt}"
        f", ', ttl(o_orderpriority): null, o_orderstatus: ', {prefix}_status"
        f", ', writetime(o_orderstatus): ', {wt}"
        ", ', ttl(o_orderstatus): null, o_totalprice: ', "
        f"CAST({prefix}_price AS VARCHAR)"
        f", ', writetime(o_totalprice): ', {wt}"
        ", ', ttl(o_totalprice): null}')"
    )


def _oracle_mv_report_text() -> str:
    diff_block = (
        "CASE WHEN problem = 'INCONSISTENT' AND diff_column IS NOT NULL THEN "
        "concat(chr(10), 'BaseColumn: ', diff_column, ':', diff_type, "
        "CASE WHEN base_value IS NOT NULL THEN concat(':', base_value) ELSE '' END, "
        "chr(10), 'MvColumn: ', diff_column, ':', diff_type, "
        "CASE WHEN mv_value IS NOT NULL THEN concat(':', mv_value) ELSE '' END) "
        "ELSE '' END"
    )
    return f"""WITH {P.oracle_classified_cte()}
SELECT problem,
  concat(
    'Problem: ', problem,
    chr(10), 'RowKey: o_custkey:BIGINT:', o_custkey,
    ',o_orderkey:BIGINT:', o_orderkey,
    chr(10), 'MainTableEntry: ',
    CASE WHEN bp THEN {_oracle_row_entry('b')} ELSE 'null' END,
    chr(10), 'MVTableEntry: ',
    CASE WHEN mp THEN {_oracle_row_entry('m')} ELSE 'null' END,
    {diff_block}
  ) AS record
FROM cls WHERE problem NOT IN ('CONSISTENT', 'SKIPPED')"""


def _oracle_mv_classify() -> str:
    return f"""WITH {P.oracle_classified_cte()}
SELECT o_custkey, o_orderkey, problem, diff_column, diff_type, base_value, mv_value
FROM cls WHERE problem NOT IN ('CONSISTENT', 'SKIPPED')"""


def _oracle_mv_stats() -> str:
    return f"""WITH {P.oracle_classified_cte()}
SELECT
  count(*)::BIGINT AS "totRecords",
  sum(CASE WHEN problem='SKIPPED' THEN 1 ELSE 0 END)::BIGINT AS "skippedRecords",
  sum(CASE WHEN problem='CONSISTENT' THEN 1 ELSE 0 END)::BIGINT AS "consistentRecords",
  sum(CASE WHEN problem='INCONSISTENT' THEN 1 ELSE 0 END)::BIGINT AS "inConsistentRecords",
  sum(CASE WHEN problem='MISSING_IN_BASE_TABLE' THEN 1 ELSE 0 END)::BIGINT AS "missingBaseTableRecords",
  sum(CASE WHEN problem='MISSING_IN_MV_TABLE' THEN 1 ELSE 0 END)::BIGINT AS "missingMvRecords",
  0::BIGINT AS "repairRecords",
  sum(CASE WHEN problem IN ('INCONSISTENT','MISSING_IN_BASE_TABLE','MISSING_IN_MV_TABLE') THEN 1 ELSE 0 END)::BIGINT AS "notRepairRecords",
  0::BIGINT AS "delAttemptedRecords", 0::BIGINT AS "delErrRecords",
  0::BIGINT AS "delSuccessRecords", 0::BIGINT AS "notDelRecords",
  0::BIGINT AS "upsertAttemptedRecords", 0::BIGINT AS "upsertErrRecords",
  0::BIGINT AS "upsertSuccessRecords"
FROM cls"""


def _oracle_upsert_cells(src: str) -> str:
    """UNION ALL of per-column upsert-cell selects over a classified CTE
    (``cls`` for batch, ``scls`` for the stream-static twin)."""
    cells = []
    for col, typ, bval, bdiff in [
        ("o_orderdate", "TIMESTAMP", "CAST(epoch_ms(b_date) AS VARCHAR)",
         "b_date IS DISTINCT FROM m_date"),
        ("o_orderpriority", "TEXT", "b_prio", "b_prio IS DISTINCT FROM m_prio"),
        ("o_orderstatus", "TEXT", "b_status", "b_status IS DISTINCT FROM m_status"),
        ("o_totalprice", "DOUBLE", "CAST(b_price AS VARCHAR)",
         "b_price IS DISTINCT FROM m_price"),
    ]:
        cells.append(f"""
SELECT o_custkey, o_orderkey, '{col}' AS "column", '{typ}' AS column_type,
       {bval} AS value, b_wt AS writetime, NULL::INTEGER AS ttl,
       'TIMESTAMP' AS flavor
FROM {src}
WHERE problem IN ('INCONSISTENT','MISSING_IN_MV_TABLE')
  AND (problem = 'MISSING_IN_MV_TABLE' OR {bdiff})""")
    return " UNION ALL ".join(cells)


def _oracle_mv_upserts() -> str:
    return f"WITH {P.oracle_classified_cte()}" + _oracle_upsert_cells("cls")


def _oracle_mv_deletes() -> str:
    return f"""WITH {P.oracle_classified_cte()}
SELECT o_custkey, o_orderkey FROM cls WHERE problem = 'MISSING_IN_BASE_TABLE'"""


def _oracle_mv_apply() -> str:
    def pick(b: str, m: str) -> str:
        return f"CASE WHEN problem IN ('INCONSISTENT','MISSING_IN_MV_TABLE') THEN {b} ELSE {m} END"

    wt_cols = ", ".join(
        f"{pick('b_wt', 'm_wt')} AS {c}__writetime" for c in P.NON_PK
    )
    ttl_cols = ", ".join(f"NULL::INTEGER AS {c}__ttl" for c in P.NON_PK)
    return f"""WITH {P.oracle_classified_cte()}
SELECT o_custkey, o_orderkey,
  {pick('epoch_us(b_date)', 'epoch_us(m_date)')} AS o_orderdate_us,
  {pick('b_prio', 'm_prio')} AS o_orderpriority,
  {pick('b_status', 'm_status')} AS o_orderstatus,
  {pick('b_price', 'm_price')} AS o_totalprice,
  {wt_cols}, {ttl_cols}
FROM cls
WHERE (mp AND problem IN ('CONSISTENT','SKIPPED','INCONSISTENT'))
   OR problem = 'MISSING_IN_MV_TABLE'"""


# ---------------------------------------------------------------------------
# merkle range-digest family: Cassandra anti-entropy's own algorithm,
# Spark-first — find WHERE the replicas diverge (2^depth digest rows, one
# map-combinable agg per side) before paying the row-level compare, which
# then runs over the dirty buckets only.  See operators/merkle.py for the
# 100 TB rationale (repair cost ∝ divergence, not table size).
# ---------------------------------------------------------------------------

MERKLE_DEPTH = 10  # 1024 token-range buckets

# engine-portable string rendering of the pair's key/value columns:
# bigints/strings cast directly, doubles through DECIMAL(18,2) (identical
# text in Spark and DuckDB; raw double→string scientific-notation formats
# differ between engines), timestamps through unix_micros
_MERKLE_KEYS = ["o_custkey", "o_orderkey"]
_MERKLE_VALS = ["o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]


def _merkle_render(df: DataFrame) -> DataFrame:
    return df.select(
        F.col("o_custkey").cast("string").alias("o_custkey"),
        F.col("o_orderkey").cast("string").alias("o_orderkey"),
        F.col("o_orderstatus"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string").alias("o_totalprice"),
        F.unix_micros("o_orderdate").cast("string").alias("o_orderdate"),
        F.col("o_orderpriority"),
    )


def q_mv_merkle_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-1 surface: the mismatched token-range buckets with both
    sides' counts and xor digests — what Cassandra's validation compaction
    exchanges between replicas, as one tiny DataFrame."""
    from mvrepair.operators.merkle import merkle_diff

    return merkle_diff(
        _merkle_render(P.base_df(spark, sf_dir)),
        _merkle_render(P.mv_df(spark, sf_dir)),
        _MERKLE_KEYS,
        _MERKLE_VALS,
        MERKLE_DEPTH,
    )


def q_mv_merkle_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full merkle pipeline: digest diff → driver-side dirty-bucket list
    (the tree exchange) → IN-filter-pruned row-level digest compare.
    The key set equals window-free ``classify``'s non-CONSISTENT keys
    (pinned in tests/test_merkle.py)."""
    from mvrepair.operators.merkle import merkle_repair_keys

    return merkle_repair_keys(
        _merkle_render(P.base_df(spark, sf_dir)),
        _merkle_render(P.mv_df(spark, sf_dir)),
        _MERKLE_KEYS,
        _MERKLE_VALS,
        MERKLE_DEPTH,
    )


def q_mv_merkle_upserts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merkle path composed into the reference's actual repair
    output: drill keys (divergence-sized) broadcast back as semi-join
    prunes on BOTH tables, then the standard classify + upsert planner
    runs over only the diverged keys.  The oracle is the FULL-SCAN
    window-free upsert plan — hash-equality proves the pruned pipeline
    emits byte-identical repair cells while the expensive row-level
    machinery touches ~divergence rows, not the table (the production
    configuration for anti-entropy repair at 100 TB)."""
    from mvrepair.operators.merkle import merkle_repair_keys

    base, mv = P.base_df(spark, sf_dir), P.mv_df(spark, sf_dir)
    # divergence-sized by the merkle premise, and consumed by TWO
    # semi-joins: checkpoint so the drill runs once (uncut, each
    # consumer re-ran the whole drill — 12 FileScans in the plan)
    keys = merkle_repair_keys(
        _merkle_render(base),
        _merkle_render(mv),
        _MERKLE_KEYS,
        _MERKLE_VALS,
        MERKLE_DEPTH,
    ).localCheckpoint()
    klist = F.broadcast(
        keys.select(
            F.col("o_custkey").cast("bigint").alias("o_custkey"),
            F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        )
    )
    on = ["o_custkey", "o_orderkey"]
    wide = classify(
        base.join(klist, on=on, how="left_semi"),
        mv.join(klist, on=on, how="left_semi"),
        P.spec(),
        window=None,
    )
    return plan_upserts(wide, P.spec())


def q_mv_merkle_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete side of the merkle-composed repair: drilled keys prune
    both tables, classify(window=None) labels the orphans, and the O13
    guard re-verifies absence against the PRUNED base snapshot — for
    drilled keys the semi-join preserves every base row, so the guard
    is exactly as strong as against the full table while anti-joining a
    divergence-sized frame."""
    from mvrepair.operators.merkle import merkle_repair_keys

    base, mv = P.base_df(spark, sf_dir), P.mv_df(spark, sf_dir)
    keys = merkle_repair_keys(
        _merkle_render(base),
        _merkle_render(mv),
        _MERKLE_KEYS,
        _MERKLE_VALS,
        MERKLE_DEPTH,
    ).localCheckpoint()
    klist = F.broadcast(
        keys.select(
            F.col("o_custkey").cast("bigint").alias("o_custkey"),
            F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        )
    )
    on = ["o_custkey", "o_orderkey"]
    base_p = base.join(klist, on=on, how="left_semi")
    wide = classify(
        base_p, mv.join(klist, on=on, how="left_semi"), P.spec(), window=None
    )
    return plan_deletes(wide, P.spec(), base_p)


def _oracle_mv_merkle_deletes() -> str:
    return f"""WITH {P.oracle_classified_cte(window=False)}
SELECT o_custkey, o_orderkey FROM cls WHERE problem = 'MISSING_IN_BASE_TABLE'"""


def q_mv_merkle_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental digest maintenance: CDC deltas (inserts = the
    %13==2 rows, deletes = the %17==5 rows of the stored set) fold into
    the STORED digest frame via the xor self-inverse — no re-validation
    scan.  The oracle recomputes the tree from scratch over the final
    row set, so the hash gate proves refreshed == rebuilt, the
    mv_agg_refresh doctrine applied to the merkle tree (a maintenance
    property Cassandra's own validation-compaction trees don't have)."""
    from mvrepair.operators.merkle import range_digests, refresh_range_digests

    base = _merkle_render(P.base_df(spark, sf_dir))
    k = F.col("o_orderkey").cast("bigint")
    s0 = base.filter(k % 13 != 2)
    stored = range_digests(s0, _MERKLE_KEYS, _MERKLE_VALS, MERKLE_DEPTH)
    return refresh_range_digests(
        stored,
        base.filter(k % 13 == 2),
        s0.filter(k % 17 == 5),
        _MERKLE_KEYS,
        _MERKLE_VALS,
        MERKLE_DEPTH,
    )


def _oracle_mv_merkle_refresh() -> str:
    from mvrepair.operators.merkle import oracle_canonical_sql

    token, digest = oracle_canonical_sql(
        ["o_custkey", "o_orderkey"],
        ["o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"],
    )
    return f"""WITH final AS (
  SELECT CAST(o_custkey AS VARCHAR) AS o_custkey,
         CAST(o_orderkey AS VARCHAR) AS o_orderkey,
         o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS o_totalprice,
         CAST(epoch_us(o_orderdate) AS VARCHAR) AS o_orderdate,
         o_orderpriority
  FROM orders
  WHERE o_orderkey % 13 = 2
     OR (o_orderkey % 13 <> 2 AND o_orderkey % 17 <> 5)),
t AS (SELECT {token} AS token, {digest} AS digest FROM final)
SELECT token >> {60 - MERKLE_DEPTH} AS bucket, count(*)::BIGINT AS n_rows,
       bit_xor(digest) AS xor_digest
FROM t GROUP BY 1"""


def _oracle_mv_merkle_upserts() -> str:
    return f"WITH {P.oracle_classified_cte(window=False)}" + _oracle_upsert_cells(
        "cls"
    )


def _oracle_merkle_cte() -> str:
    """CTEs ``tb``/``tm``: the rendered pair with (token, digest) —
    the identical md5 fold ``operators.merkle.canonical_row`` computes."""
    from mvrepair.operators.merkle import oracle_canonical_sql

    token, digest = oracle_canonical_sql(
        ["o_custkey", "o_orderkey"],
        ["o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"],
    )
    render = """
  SELECT CAST(o_custkey AS VARCHAR) AS o_custkey,
         CAST(o_orderkey AS VARCHAR) AS o_orderkey,
         o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS o_totalprice,
         CAST(epoch_us(o_orderdate) AS VARCHAR) AS o_orderdate,
         o_orderpriority
  FROM {src}"""
    return f"""{P.oracle_pair_cte()},
rb AS ({render.format(src='ob')}),
rm AS ({render.format(src='om')}),
tb AS (SELECT *, {token} AS token, {digest} AS digest FROM rb),
tm AS (SELECT *, {token} AS token, {digest} AS digest FROM rm),
db AS (SELECT token >> {60 - MERKLE_DEPTH} AS bucket, count(*)::BIGINT AS n_rows,
              bit_xor(digest) AS xor_digest FROM tb GROUP BY 1),
dm AS (SELECT token >> {60 - MERKLE_DEPTH} AS bucket, count(*)::BIGINT AS n_rows,
              bit_xor(digest) AS xor_digest FROM tm GROUP BY 1),
dirty AS (
  SELECT coalesce(db.bucket, dm.bucket) AS bucket,
         db.n_rows AS base_rows, dm.n_rows AS mv_rows,
         db.xor_digest AS base_digest, dm.xor_digest AS mv_digest
  FROM db FULL OUTER JOIN dm ON db.bucket = dm.bucket
  WHERE db.n_rows IS DISTINCT FROM dm.n_rows
     OR db.xor_digest IS DISTINCT FROM dm.xor_digest)"""


def _oracle_mv_merkle_diff() -> str:
    return f"""WITH {_oracle_merkle_cte()}
SELECT bucket, base_rows, mv_rows, base_digest, mv_digest FROM dirty"""


def q_mv_quorum_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-replica quorum reconcile (operators/merkle.merkle_quorum):
    replica 2 perturbs o_totalprice on %89==5 keys, replica 3 perturbs
    o_orderpriority on %83==7 and drops %97==3 — every defect hits ONE
    replica, so the majority digest identifies both the broken replica
    and the repair direction (Cassandra read-repair semantics); keys hit
    by two defect classes at once resolve to NO_QUORUM (1/1/1 vote)."""
    from mvrepair.operators.merkle import merkle_quorum

    base = P.base_df(spark, sf_dir)
    k = F.col("o_orderkey")
    r2 = base.withColumn(
        "o_totalprice",
        F.when(k % 89 == 5, F.col("o_totalprice") + 1.0).otherwise(
            F.col("o_totalprice")
        ),
    )
    r3 = base.filter(k % 97 != 3).withColumn(
        "o_orderpriority",
        F.when(k % 83 == 7, F.lit("9-REPAIRME")).otherwise(
            F.col("o_orderpriority")
        ),
    )
    return merkle_quorum(
        [_merkle_render(r) for r in (base, r2, r3)],
        _MERKLE_KEYS,
        _MERKLE_VALS,
        MERKLE_DEPTH,
    )


def _oracle_mv_quorum_repair() -> str:
    from mvrepair.operators.merkle import oracle_canonical_sql

    token, digest = oracle_canonical_sql(
        ["o_custkey", "o_orderkey"],
        ["o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"],
    )
    render = """
  SELECT CAST(o_custkey AS VARCHAR) AS o_custkey,
         CAST(o_orderkey AS VARCHAR) AS o_orderkey,
         o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS o_totalprice,
         CAST(epoch_us(o_orderdate) AS VARCHAR) AS o_orderdate,
         o_orderpriority
  FROM {src}"""
    shift = 60 - MERKLE_DEPTH
    return f"""WITH
o2 AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 89 = 5 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders),
o3 AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
         CASE WHEN o_orderkey % 83 = 7 THEN '9-REPAIRME'
              ELSE o_orderpriority END AS o_orderpriority
  FROM orders WHERE o_orderkey % 97 <> 3),
q1 AS ({render.format(src='orders')}),
q2 AS ({render.format(src='o2')}),
q3 AS ({render.format(src='o3')}),
tq AS (
  SELECT 1 AS replica, o_custkey, o_orderkey,
         {token} AS token, {digest} AS digest FROM q1
  UNION ALL
  SELECT 2, o_custkey, o_orderkey, {token}, {digest} FROM q2
  UNION ALL
  SELECT 3, o_custkey, o_orderkey, {token}, {digest} FROM q3),
b AS (SELECT replica, token >> {shift} AS bucket, o_custkey, o_orderkey,
             digest FROM tq),
dirty AS (
  SELECT bucket FROM (
    SELECT replica, bucket, count(*)::BIGINT AS n, bit_xor(digest) AS x
    FROM b GROUP BY 1, 2)
  GROUP BY bucket
  HAVING count(*) <> 3 OR count(DISTINCT (n, x)) > 1),
pruned AS (
  SELECT replica, o_custkey, o_orderkey, digest FROM b
  WHERE bucket IN (SELECT bucket FROM dirty)),
grid AS (
  SELECT g.o_custkey, g.o_orderkey, r.replica
  FROM (SELECT DISTINCT o_custkey, o_orderkey FROM pruned) g
  CROSS JOIN (VALUES (1), (2), (3)) r(replica)),
filled AS (
  SELECT grid.o_custkey, grid.o_orderkey, grid.replica,
         coalesce(p.digest, -1) AS digest
  FROM grid LEFT JOIN pruned p
    ON grid.o_custkey = p.o_custkey AND grid.o_orderkey = p.o_orderkey
   AND grid.replica = p.replica),
variants AS (
  SELECT o_custkey, o_orderkey, digest, count(*)::BIGINT AS votes
  FROM filled GROUP BY 1, 2, 3),
winner AS (
  SELECT o_custkey, o_orderkey, votes AS winner_votes,
         digest AS winner_digest,
         row_number() OVER (PARTITION BY o_custkey, o_orderkey
                            ORDER BY votes DESC, digest DESC) AS rn
  FROM variants)
SELECT f.o_custkey, f.o_orderkey, f.replica, f.digest AS replica_digest,
       w.winner_digest, w.winner_votes::INTEGER AS winner_votes,
       CASE WHEN w.winner_votes * 2 > 3 THEN 'QUORUM_OUTVOTED'
            ELSE 'NO_QUORUM' END AS status
FROM filled f
JOIN (SELECT * FROM winner WHERE rn = 1) w
  ON f.o_custkey = w.o_custkey AND f.o_orderkey = w.o_orderkey
WHERE f.digest <> w.winner_digest OR w.winner_votes * 2 <= 3"""


def _oracle_mv_merkle_keys() -> str:
    shift = 60 - MERKLE_DEPTH
    return f"""WITH {_oracle_merkle_cte()},
pb AS (SELECT o_custkey, o_orderkey, digest FROM tb
       WHERE token >> {shift} IN (SELECT bucket FROM dirty)),
pm AS (SELECT o_custkey, o_orderkey, digest FROM tm
       WHERE token >> {shift} IN (SELECT bucket FROM dirty))
SELECT coalesce(pb.o_custkey, pm.o_custkey) AS o_custkey,
       coalesce(pb.o_orderkey, pm.o_orderkey) AS o_orderkey,
       CASE WHEN pm.digest IS NULL THEN 'MISSING_IN_MV_TABLE'
            WHEN pb.digest IS NULL THEN 'MISSING_IN_BASE_TABLE'
            ELSE 'INCONSISTENT' END AS status
FROM pb FULL OUTER JOIN pm
  ON pb.o_custkey = pm.o_custkey AND pb.o_orderkey = pm.o_orderkey
WHERE pb.digest IS DISTINCT FROM pm.digest"""


# ---------------------------------------------------------------------------
# analytics family (aggregations / joins / windows — "absent" rows of §2,
# exposed as first-class Spark surface)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    qty = F.col("l_quantity").cast(_DEC18)
    price = F.col("l_extendedprice").cast(_DEC18)
    disc_price = price * (F.lit(1.0) - F.col("l_discount")).cast(_DEC12)
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("decimal(28,4)").cast("double").alias("sum_disc_price"),
            (F.sum(qty).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(price).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(12,10))) AS DECIMAL(28,4)) AS DOUBLE) AS sum_disc_price,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus"""


def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp")
    )
    rev = F.col("l_extendedprice").cast(_DEC18) * (
        F.lit(1.0) - F.col("l_discount")
    ).cast(_DEC12)
    agg = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(rev).alias("__rev"))
    )
    # Top-k via orderBy+limit -> TakeOrderedAndProject (parallel partial
    # top-k on every partition, k rows to the driver) instead of a global
    # row_number window, which would funnel the whole aggregate through ONE
    # task. rnk is derived afterwards on the 10 surviving rows, where the
    # global window is free.
    top = agg.orderBy(F.col("__rev").desc(), F.col("o_orderkey").asc()).limit(10)
    w = Window.orderBy(F.col("__rev").desc(), F.col("o_orderkey").asc())
    return (
        top.withColumn("rnk", F.row_number().over(w))
        .select(
            "o_orderkey",
            F.col("__rev").cast("decimal(28,4)").cast("double").alias("revenue"),
            F.unix_micros(F.col("o_orderdate")).alias("o_orderdate_us"),
            F.col("rnk").cast("int"),
        )
    )


_ORACLE_TOP_REVENUE = """
WITH agg AS (
  SELECT o_orderkey, o_orderdate,
         sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(12,10))) AS rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < TIMESTAMP '1997-01-01'
    AND l_shipdate > TIMESTAMP '1997-01-01'
  GROUP BY o_orderkey, o_orderdate
), ranked AS (
  SELECT o_orderkey, CAST(CAST(rev AS DECIMAL(28,4)) AS DOUBLE) AS revenue, epoch_us(o_orderdate) AS o_orderdate_us,
         row_number() OVER (ORDER BY rev DESC, o_orderkey) AS rnk
  FROM agg
)
SELECT o_orderkey, revenue, o_orderdate_us, rnk::INTEGER AS rnk FROM ranked WHERE rnk <= 10"""


def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    rev = F.col("l_extendedprice").cast(_DEC18) * (
        F.lit(1.0) - F.col("l_discount")
    ).cast(_DEC12)
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(
            cust,
            (orders.o_custkey == cust.c_custkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.groupBy("r_name", "n_name")
        .agg(F.sum(rev).cast("decimal(28,4)").cast("double").alias("revenue"))
    )


_ORACLE_REGIONAL = """
SELECT r_name, n_name,
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(12,10))) AS DECIMAL(28,4)) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY r_name, n_name"""


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation via F.window (streaming-compatible)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("hour_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


_ORACLE_EVENTS_HOURLY = """
SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
  count(*) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2"""


SLIDE_MIN = 15  # sliding step (minutes); window length stays 1 hour


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOPPING-window aggregation — Spark's native sliding ``F.window``
    (1-hour windows every 15 minutes): each event lands in 4
    overlapping windows, so trailing-hour metrics refresh at
    15-minute granularity instead of snapping to hour boundaries (the
    dashboard/alerting shape; the streaming engine runs the identical
    expression incrementally).  Physically the window generator is an
    Expand/Generate of the 4 slot assignments — a row-local explode —
    followed by the same map-side-combinable agg as the tumbling query:
    nothing shuffles more than the (window, type) groups.  Exact sums
    via the decimal(18,6) convention; window starts ship as unix
    micros."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", f"{SLIDE_MIN} minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("w_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def _oracle_events_sliding() -> str:
    # each ts belongs to the (60 // SLIDE_MIN) hopping windows whose
    # starts are the slide-aligned points in (ts - 1h, ts]: start =
    # slide_floor(ts) - k*slide for k in 0..n_offsets-1 — replayed with
    # an offset series DERIVED from the same constant the Spark query
    # uses, so changing SLIDE_MIN can't desynchronize the twins
    assert 60 % SLIDE_MIN == 0, "window length must be a slide multiple"
    n_offsets = 60 // SLIDE_MIN
    slide_us = SLIDE_MIN * 60 * 1_000_000
    return f"""
WITH off AS (SELECT unnest(range({n_offsets})) AS k),
slotted AS (
  SELECT (epoch_us(ts) // {slide_us}) * {slide_us} - k * {slide_us}
           AS w_start_us,
         event_type, value
  FROM events, off
)
SELECT w_start_us, event_type,
  count(*) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM slotted GROUP BY 1, 2"""


def q_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each purchase attributed to the latest
    prior-or-equal click/view by the same user (union+window formulation —
    one shuffle, no join explosion; see operators/temporal.py)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    touches = ev.filter(F.col("event_type").isin("click", "view")).select(
        "event_id", "user_id", "ts", "event_type"
    )
    out = T.asof_join(
        purchases,
        touches,
        key_cols=["user_id"],
        ts_col="ts",
        payload_cols=["event_id", "event_type", "ts"],
        tiebreak_col="event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.col("asof_event_id"),
        F.col("asof_event_type"),
        (F.unix_micros("ts") - F.unix_micros("asof_ts")).alias("gap_us"),
    )


# Oracle replicates the union+window semantics (deterministic under
# duplicate timestamps), rather than DuckDB's native ASOF JOIN whose tie
# handling is unspecified.
_ORACLE_PURCHASE_ATTRIBUTION = """
WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
r AS (SELECT event_id, user_id, ts, event_type FROM events
      WHERE event_type IN ('click', 'view')),
u AS (
  SELECT event_id, user_id, ts, 1 AS side,
         NULL::BIGINT AS r_id, NULL::VARCHAR AS r_type, NULL::TIMESTAMP AS r_ts
  FROM l
  UNION ALL
  SELECT event_id, user_id, ts, 0, event_id, event_type, ts FROM r
),
m AS (
  SELECT *,
    last_value(r_id IGNORE NULLS) OVER w AS a_id,
    last_value(r_type IGNORE NULLS) OVER w AS a_type,
    last_value(r_ts IGNORE NULLS) OVER w AS a_ts
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, r_id NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
  a_id AS asof_event_id, a_type AS asof_event_type,
  epoch_us(ts) - epoch_us(a_ts) AS gap_us
FROM m WHERE side = 1"""


def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) via native session_window."""
    ev = load_table(spark, sf_dir, "events")
    return T.sessionize(ev, "user_id", "ts", gap="30 minutes", value_col="value")


# Spark session semantics: sessions merge while the gap is <= the window
# (an event exactly at the previous session's end extends it — boundary is
# inclusive, verified in tests); end = last event + gap.
_ORACLE_EVENT_SESSIONS = """
WITH g AS (
  SELECT user_id, ts, value,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
              <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_s
  FROM events),
s AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM g)
SELECT user_id,
  epoch_us(min(ts)) AS session_start_us,
  epoch_us(max(ts) + INTERVAL 30 MINUTE) AS session_end_us,
  count(*) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM s GROUP BY user_id, sess"""


def q_session_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day PEAK concurrent user sessions — the gauge metric the
    interval-overlap join can't express, composed from the checked
    sessionization (event_sessions' session_window frame) + the
    classic sweep: +1/−1 points, per-day running sum, max.  Exact
    across midnight (sessions explode into per-day segments that
    reopen at the bucket start), half-open tie rule, ties netted
    before the sweep so the order is total.  The sweep window
    partitions by day — parallel, never a global sort.  See
    temporal.py:peak_concurrency."""
    from mvrepair.operators.temporal import peak_concurrency, sessionize

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    sessions = sessionize(ev, "user_id", "ts", gap="30 minutes")
    return peak_concurrency(
        sessions, "session_start_us", "session_end_us"
    )


_ORACLE_SESSION_PEAKS = """
WITH g AS (
  SELECT user_id, ts,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
              <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_s
  FROM events),
s AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM g),
iv AS (
  SELECT epoch_us(min(ts)) AS s,
         epoch_us(max(ts) + INTERVAL 30 MINUTE) AS e
  FROM s GROUP BY user_id, sess),
segs AS (
  SELECT d.day,
         greatest(s, d.day * 86400000000) AS t0,
         least(e, (d.day + 1) * 86400000000) AS t1
  FROM iv, LATERAL unnest(range(s // 86400000000,
                                (e - 1) // 86400000000 + 1)) AS d(day)),
pts AS (
  SELECT day, t0 AS t, 1 AS dd FROM segs
  UNION ALL
  SELECT day, t1 AS t, -1 AS dd FROM segs),
net AS (
  SELECT day, t, dd, CAST(sum(dd) AS BIGINT) AS net
  FROM pts GROUP BY 1, 2, 3),
cum AS (
  SELECT day, sum(net) OVER (PARTITION BY day ORDER BY t, dd
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM net)
SELECT CAST(day AS BIGINT) AS epoch_day, CAST(max(c) AS BIGINT) AS peak
FROM cum GROUP BY 1"""


def q_top_users_per_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), F.col("user_id").asc()
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("event_type", "user_id", "n", F.col("rnk").cast("int"))
    )


_ORACLE_TOP_USERS = """
WITH counts AS (
  SELECT event_type, user_id, count(*) AS n FROM events GROUP BY 1, 2
)
SELECT event_type, user_id, n,
       rnk::INTEGER AS rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY n DESC, user_id) AS rnk
  FROM counts
) WHERE rnk <= 5"""


def q_orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (absent in the reference, free in Spark —
    SURVEY §2 'grouping sets / cube / rollup' row)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(_DEC18))
            .cast("decimal(28,4)")
            .cast("double")
            .alias("sum_price"),
        )
        .select(
            "o_orderstatus", "o_orderpriority", "gid", "n_orders", "sum_price"
        )
    )


_ORACLE_ORDERS_ROLLUP = """
SELECT o_orderstatus, o_orderpriority,
       GROUPING(o_orderstatus, o_orderpriority)::INTEGER AS gid,
       count(*) AS n_orders,
       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,4)) AS DOUBLE) AS sum_price
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)"""


def q_lapsed_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-op query: customers who ordered in 2000 but not in 2001
    (EXCEPT — absent in the reference, built-in in Spark)."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.year("o_orderdate") == 2000).select("o_custkey")
    b = orders.filter(F.year("o_orderdate") == 2001).select("o_custkey")
    return a.subtract(b).select(F.col("o_custkey").alias("custkey"))


_ORACLE_LAPSED = """
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 2000
EXCEPT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 2001"""


def q_retained_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-op query: customers who ordered in both 2000 and 2001
    (INTERSECT, distinct semantics — the EXCEPT twin of lapsed_customers)."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.year("o_orderdate") == 2000).select("o_custkey")
    b = orders.filter(F.year("o_orderdate") == 2001).select("o_custkey")
    return a.intersect(b).select(F.col("o_custkey").alias("custkey"))


_ORACLE_RETAINED = """
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 2000
INTERSECT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 2001"""


# m sized by the bloom rule m ≈ 8·n for the sf0.1 bench corpus's ~3k
# qualifying keys (4 KB bitmap), FIXED rather than auto-sized so the
# bloom_prune_stats oracle replays the identical bitmap at every sf
# (at smaller sf it is merely over-sized: FP → 0, still hash-checked)
BLOOM_M_BITS, BLOOM_K_HASHES = 32768, 4
# the AUDIT runs a deliberately TIGHT bitmap (m ≈ 7·n at the sf0.01
# correctness gate: ~4% FP ≈ dozens of rows) so the false-positive SET
# the oracle replays is non-empty at the checked scale — a right-sized
# bitmap would hash-check the FP branch only vacuously
BLOOM_AUDIT_M_BITS = 2048


def q_orders_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom SEMI-JOIN REDUCTION — the 100 TB join-pruning pattern made
    explicit and oracle-checkable: the BUILDING-segment customer keys
    fold into a 1 KB bitmap (one bounded aggregate, the train_kmeans
    artifact precedent), the orders fact is pruned MAP-SIDE by the
    k=4-hash membership test before any join, and the exact join that
    follows removes the bitmap's false positives — so the result is
    bit-identical to the plain join (the oracle IS the plain join:
    a bitmap bug that dropped a real key would flip the hash).  Spark's
    own InjectRuntimeFilter does this behind AQE when statistics
    cooperate; this form is deterministic, engine-portable (md5 bit
    positions + integer algebra), and applies where the dim is too big
    to broadcast as rows but its key set fits in bits.  See
    operators/sketch.py:bloom_semijoin."""
    from mvrepair.operators.sketch import bloom_semijoin

    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders")
    pruned = bloom_semijoin(
        orders,
        "o_custkey",
        cust,
        "c_custkey",
        m_bits=BLOOM_M_BITS,
        k_hashes=BLOOM_K_HASHES,
    )
    return (
        pruned.join(cust, pruned["o_custkey"] == cust["c_custkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(_DEC18))
            .cast("double")
            .alias("sum_totalprice"),
        )
    )


_ORACLE_BLOOM_PRUNE = """
SELECT o_orderpriority, count(*) AS n_orders,
  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_totalprice
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY o_orderpriority"""


def q_bloom_prune_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bloom bitmap's OWN audit, value-checked cross-engine: one
    row counting the fact scan, the rows the bitmap keeps, the true
    members, and the false positives — with a DuckDB oracle that
    REPLAYS the bitmap from scratch (same salted-md5 positions, same
    bit_or word fold, same mask test), so the filter algebra itself is
    hash-checked, not just the exactness-preserving end result
    (orders_bloom_prune checks that; this pins the pruning layer the
    way minhash_calibration pins the LSH layer).  Zero false negatives
    is structural — kept ⊇ members — and the checked counts prove it:
    n_kept = n_members + n_false_pos."""
    from mvrepair.operators.sketch import bloom_build, bloom_might_contain

    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    words = bloom_build(
        cust, "c_custkey", BLOOM_AUDIT_M_BITS, BLOOM_K_HASHES
    )
    kept = bloom_might_contain(
        F.col("o_custkey"), words, BLOOM_AUDIT_M_BITS, BLOOM_K_HASHES
    )
    member = F.col("c_custkey").isNotNull()
    one = F.lit(1).cast("long")
    return (
        orders.join(
            cust, orders["o_custkey"] == cust["c_custkey"], "left"
        )
        .select(kept.alias("__kept"), member.alias("__member"))
        .agg(
            F.count(F.lit(1)).alias("n_fact"),
            F.sum(F.when(F.col("__kept"), one).otherwise(0)).alias("n_kept"),
            F.sum(F.when(F.col("__member"), one).otherwise(0)).alias(
                "n_members"
            ),
            F.sum(
                F.when(F.col("__kept") & ~F.col("__member"), one).otherwise(0)
            ).alias("n_false_pos"),
        )
    )


def _oracle_bloom_prune_stats() -> str:
    m, k = BLOOM_AUDIT_M_BITS, BLOOM_K_HASHES

    def pos(key: str, salt: str) -> str:
        # the Spark side renders concat(cast(key as string), '#b<i>');
        # 15 hex md5 digits parsed base-16 is the repo hash convention
        return (
            f"(CAST('0x' || substr(md5(CAST({key} AS VARCHAR) || '#b' "
            f"|| {salt}), 1, 15) AS BIGINT) % {m})"
        )

    # the k membership tests, each fully parenthesized (the zorder <<
    # lesson); pow2 is the signed-int64 mask list (bit 63 = sign bit)
    tests = " AND ".join(
        f"((wl[(({pos('f.o_custkey', str(i))}) // 64) + 1]"
        f" & pl[(({pos('f.o_custkey', str(i))}) % 64) + 1]) <> 0)"
        for i in range(k)
    )
    h = pos("c_custkey", "i")
    return f"""
WITH dim AS (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
),
pow2 AS (
  SELECT list(CASE WHEN b = 63 THEN -9223372036854775807 - 1
                   ELSE (CAST(1 AS BIGINT) << b) END ORDER BY b) AS pl
  FROM (SELECT unnest(range(64)) AS b)
),
pos AS (
  SELECT DISTINCT {h} AS p
  FROM dim, (SELECT unnest(range({k})) AS i)
),
wordsparse AS (
  SELECT p // 64 AS w, bit_or(pl[(p % 64) + 1]) AS word
  FROM pos, pow2 GROUP BY p // 64, pl
),
words AS (
  SELECT list(coalesce(word, 0) ORDER BY s.w) AS wl
  FROM (SELECT unnest(range({m // 64})) AS w) s
  LEFT JOIN wordsparse ON s.w = wordsparse.w
),
fact AS (
  SELECT (c.c_custkey IS NOT NULL) AS member, ({tests}) AS kept
  FROM (SELECT o_custkey FROM orders) f
  LEFT JOIN dim c ON f.o_custkey = c.c_custkey, words, pow2
)
SELECT count(*) AS n_fact,
  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(sum(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
  CAST(sum(CASE WHEN kept AND NOT member THEN 1 ELSE 0 END) AS BIGINT)
    AS n_false_pos
FROM fact"""


# ---------------------------------------------------------------------------
# text-analysis family
# ---------------------------------------------------------------------------

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.text_stats(_docs(spark, sf_dir))


_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in X.EN_STOPWORDS) + "]"

_ORACLE_TEXT_STATS = f"""
SELECT doc_id,
  length(text)::BIGINT AS n_chars,
  len(string_split(text, ' '))::BIGINT AS n_tokens,
  len(list_distinct(string_split(text, ' ')))::BIGINT AS n_distinct_tokens,
  len(list_filter(string_split(text, ' '), t -> list_contains({_STOP_SQL}, t)))::BIGINT AS stopword_count,
  CAST(len(list_filter(string_split(text, ' '), t -> list_contains({_STOP_SQL}, t))) AS DOUBLE)
    / len(string_split(text, ' ')) AS stopword_ratio,
  CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_len
FROM documents"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.quality_score(_docs(spark, sf_dir))


_ORACLE_TEXT_QUALITY = f"""
WITH s AS (
  SELECT doc_id,
    len(string_split(text, ' '))::BIGINT AS n_tokens,
    len(list_distinct(string_split(text, ' ')))::BIGINT AS n_distinct,
    len(list_filter(string_split(text, ' '), t -> list_contains({_STOP_SQL}, t)))::BIGINT AS stop_cnt
  FROM documents
), m AS (
  SELECT doc_id, n_tokens,
    CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio,
    CAST(stop_cnt AS DOUBLE) / n_tokens AS stopword_ratio,
    (CASE WHEN n_tokens BETWEEN 5 AND 100000 THEN 1 ELSE 0 END
     + CASE WHEN stop_cnt > 0 THEN 1 ELSE 0 END
     + CASE WHEN CAST(n_distinct AS DOUBLE) / n_tokens > 0.2 THEN 1 ELSE 0 END) AS score
  FROM s
)
SELECT doc_id, n_tokens, distinct_ratio, stopword_ratio,
       score::INTEGER AS quality_score, score >= 2 AS is_quality
FROM m"""


def q_lang_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.lang_scores(_docs(spark, sf_dir))


def _oracle_lang_scores() -> str:
    langs = sorted(X.LANG_MARKERS)
    hits = ", ".join(
        f"len(list_filter(string_split(text, ' '), t -> list_contains(["
        + ", ".join(f"'{m}'" for m in X.LANG_MARKERS[l])
        + f"], t)))::BIGINT AS {l}_hits"
        for l in langs
    )
    greatest = "greatest(" + ", ".join(f"{l}_hits" for l in langs) + ")"
    guess = (
        "CASE WHEN " + greatest + " = 0 THEN 'und' "
        + " ".join(f"WHEN {l}_hits = {greatest} THEN '{l}'" for l in langs)
        + " END"
    )
    return f"""
WITH h AS (SELECT doc_id, {hits} FROM documents)
SELECT *, {guess} AS lang_guess FROM h"""


def q_doc_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split counts per language: hash-bucket
    assignment (reproducible on any cluster/partitioning), then a
    two-column rollup-style count."""
    from mvrepair.operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        hash_split(docs)
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_ORACLE_DOC_SPLITS = """
SELECT lang,
  CASE
    WHEN b < 98 THEN 'train'
    WHEN b < 99 THEN 'val'
    ELSE 'test'
  END AS split,
  count(*) AS n_docs
FROM (
  SELECT lang,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
  FROM documents)
GROUP BY 1, 2"""


def q_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% stratified sample of documents (hash threshold)."""
    from mvrepair.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(docs, fraction=0.1)


_ORACLE_DOC_SAMPLE = """
SELECT doc_id, lang FROM documents
WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 100"""


WSAMPLE_N = 100


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis A-ES
    priority sampling): the top-100 documents by the exact-integer
    priority key under token-count weights — "sample docs proportional
    to length, reproducibly, in one pass", the sampling mode between
    doc_sample's fixed rate and token_budget_fill's greedy prefix.  One
    map-side projection + TakeOrderedAndProject; see
    sampling.weighted_sample."""
    from mvrepair.operators.sampling import weighted_sample
    from mvrepair.operators.text import tokenize

    d = _spread(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
    )
    return weighted_sample(
        d,
        n=WSAMPLE_N,
        weight=F.size(tokenize(F.col("text"))),
        keep=["source"],
    )


def _oracle_weighted_sample() -> str:
    from mvrepair.functions.exactlog import micro_log2_sql

    m = 1 << 31
    inner = f"""
SELECT doc_id, source, len(string_split(text, ' '))::BIGINT AS w,
  ((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
    % {m}) + 1) / CAST({m} AS DOUBLE) AS u
FROM documents"""
    ladder = micro_log2_sql(
        inner, "u", keep=["doc_id", "source", "w"], out="l2"
    )
    return f"""
SELECT source, doc_id, w AS weight,
  CAST((l2 * 1000000 - (l2 * 1000000) % w) / w AS BIGINT) AS priority
FROM ({ladder}) WHERE w > 0
ORDER BY priority DESC, doc_id LIMIT {WSAMPLE_N}"""


WSAMPLE_PER_SOURCE = 20


def q_weighted_sample_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED weighted sampling without replacement: the identical
    A-ES priority key of weighted_sample ranked WITHIN each source —
    "best-20 docs per source by token weight, reproducibly" (per-source
    caps are how corpus mixes are specced; a global top-n lets one
    giant source crowd out the rest).  One map-side projection + ONE
    source-keyed exchange under a rank window Spark executes as
    WindowGroupLimit (per-partition top-n BEFORE the shuffle — the
    posting_lists shape).  See sampling.weighted_sample_per_group."""
    from mvrepair.operators.sampling import weighted_sample_per_group
    from mvrepair.operators.text import tokenize

    d = _spread(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
    )
    return weighted_sample_per_group(
        d,
        n_per_group=WSAMPLE_PER_SOURCE,
        weight=F.size(tokenize(F.col("text"))),
        group_col="source",
    )


def _oracle_weighted_sample_by_source() -> str:
    from mvrepair.functions.exactlog import micro_log2_sql

    m = 1 << 31
    inner = f"""
SELECT doc_id, source, len(string_split(text, ' '))::BIGINT AS w,
  ((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
    % {m}) + 1) / CAST({m} AS DOUBLE) AS u
FROM documents"""
    ladder = micro_log2_sql(
        inner, "u", keep=["doc_id", "source", "w"], out="l2"
    )
    return f"""
SELECT source, doc_id, weight, priority, rank::INTEGER AS rank FROM (
  SELECT source, doc_id, w AS weight, priority,
    row_number() OVER (PARTITION BY source
                       ORDER BY priority DESC, doc_id) AS rank
  FROM (
    SELECT source, doc_id, w,
      CAST((l2 * 1000000 - (l2 * 1000000) % w) / w AS BIGINT) AS priority
    FROM ({ladder}) WHERE w > 0)
) WHERE rank <= {WSAMPLE_PER_SOURCE}"""


def q_source_vocab_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE KMV vocabulary sketches — distinct-token estimates per
    corpus source in one pass, the profile a mix designer reads before
    weighting sources (grouped form of distinct_docs_kmv; same
    deterministic md5 bottom-k estimator, per-group rank window with
    WindowGroupLimit pre-shuffle cut).  See sketch.kmv_distinct_by."""
    from mvrepair.operators.sketch import kmv_distinct_by
    from mvrepair.operators.text import tokenize

    d = _spread(
        load_table(spark, sf_dir, "documents").select("source", "text")
    )
    toks = d.select(
        "source", F.explode(tokenize(F.col("text"))).alias("tok")
    )
    return kmv_distinct_by(toks, "source", "tok", k=64)


_ORACLE_SOURCE_VOCAB_KMV = """
WITH t AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
),
h AS (
  SELECT DISTINCT source,
    CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
  FROM t WHERE tok IS NOT NULL
),
b AS (
  SELECT source, h,
    row_number() OVER (PARTITION BY source ORDER BY h) AS rn
  FROM h
)
SELECT source, 64::INTEGER AS k, count(*)::BIGINT AS n_seen,
  max(h)::BIGINT AS kth_min,
  CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
       ELSE 63.0 * 1152921504606846976.0 / CAST(max(h) AS DOUBLE)
  END AS est_distinct
FROM b WHERE rn <= 64 GROUP BY source"""


def q_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination check on the duplicated corpus: eval docs
    whose exact text also appears (under another doc_id) in train."""
    from mvrepair.operators.sampling import split_contamination

    return split_contamination(_docs_corpus(spark, sf_dir))


_ORACLE_CONTAMINATION = f"""
WITH corpus AS ({_DOCS_CORPUS_SQL}),
s AS (
  SELECT doc_id, md5(text) AS text_hash,
    CASE WHEN b < 98 THEN 'train' WHEN b < 99 THEN 'val' ELSE 'test' END AS split
  FROM (
    SELECT doc_id, text,
      CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
    FROM corpus))
SELECT doc_id, split, text_hash FROM s
WHERE split <> 'train'
  AND text_hash IN (SELECT text_hash FROM s WHERE split = 'train')"""


def q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition report per (lang, source) — the dataset card."""
    docs = load_table(spark, sf_dir, "documents").select("lang", "source", "text")
    return X.corpus_profile(docs)


_ORACLE_CORPUS_PROFILE = """
SELECT lang, source, count(*) AS n_docs,
  sum(len(string_split(text, ' ')))::BIGINT AS total_tokens,
  sum(length(text))::BIGINT AS total_chars,
  min(length(text))::BIGINT AS min_chars,
  max(length(text))::BIGINT AS max_chars,
  sum(length(text))::DOUBLE / count(*) AS avg_chars
FROM documents GROUP BY 1, 2"""


def q_pretrain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline: quality gate → exact dedup
    (keep lowest doc_id per distinct text) → deterministic split
    assignment.  One map-side filter, one digest groupBy, one projection —
    the whole pipeline is a single shuffle at any scale."""
    from mvrepair.operators.sampling import hash_split

    docs = _docs_corpus(spark, sf_dir)
    clean = X.quality_filter(docs)
    kept = D.exact_dedup(clean).select(F.col("keep_id").alias("doc_id"))
    return hash_split(kept)


_ORACLE_PRETRAIN = f"""
WITH corpus AS ({_DOCS_CORPUS_SQL}),
t AS (SELECT doc_id, text, string_split(text, ' ') AS ts FROM corpus),
q AS (
  SELECT doc_id, text,
    (CASE WHEN len(ts) BETWEEN 5 AND 100000 THEN 1 ELSE 0 END
     + CASE WHEN len(list_filter(ts, x -> list_contains({_STOP_SQL}, x))) > 0 THEN 1 ELSE 0 END
     + CASE WHEN len(list_distinct(ts))::DOUBLE / len(ts) > 0.2 THEN 1 ELSE 0 END) AS score
  FROM t),
d AS (SELECT min(doc_id) AS doc_id FROM q WHERE score >= 2 GROUP BY md5(text))
SELECT doc_id,
  CASE WHEN b < 98 THEN 'train' WHEN b < 99 THEN 'val' ELSE 'test' END AS split
FROM (
  SELECT doc_id,
    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
  FROM d)"""


def q_text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over a corpus with injected emails/URLs (deterministic
    concat injection so both engines see identical inputs)."""
    docs = _docs(spark, sf_dir)
    k = F.col("doc_id")
    dirty = docs.select(
        "doc_id",
        F.when(
            k % 7 == 0,
            F.concat(F.col("text"), F.lit(" user"), k, F.lit("@example.com")),
        )
        .when(k % 11 == 0, F.concat(F.col("text"), F.lit(" see https://ex.com/d/"), k))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return X.scrub_text(dirty)


_ORACLE_TEXT_SCRUB = """
WITH dirty AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0 THEN concat(text, ' user', doc_id, '@example.com')
         WHEN doc_id % 11 = 0 THEN concat(text, ' see https://ex.com/d/', doc_id)
         ELSE text END AS text
  FROM documents)
SELECT doc_id,
  regexp_replace(regexp_replace(regexp_replace(text,
    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}', '<EMAIL>', 'g'),
    'https?://[^ ]+', '<URL>', 'g'),
    '[0-9]{6,}', '<NUM>', 'g') AS clean_text,
  len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}'))::BIGINT AS n_email,
  len(regexp_extract_all(text, 'https?://[^ ]+'))::BIGINT AS n_url,
  len(regexp_extract_all(text, '[0-9]{6,}'))::BIGINT AS n_longnum
FROM dirty"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.fingerprint(_docs(spark, sf_dir))


_ORACLE_FINGERPRINT = """
SELECT doc_id, md5(text) AS fp_md5,
       CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS fp_hash64
FROM documents"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.simhash32(_docs(spark, sf_dir))


# DuckDB n=3 shingle list from a text column (1-indexed lists; range() is
# end-exclusive and returns [] when the doc has <3 tokens).
_SHINGLE_SQL = (
    "list_transform(range(1, len(ts)-1),"
    " i -> concat_ws(' ', ts[i], ts[i+1], ts[i+2]))"
)


def _oracle_simhash(
    corpus_sql: str = "SELECT doc_id, text FROM documents",
    bits: int = 32,
    shingled: bool = False,
) -> str:
    bitsums = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(bits)
    )
    assemble = " + ".join(
        f"CASE WHEN b{j} > 0 THEN {1 << j}::BIGINT ELSE 0::BIGINT END"
        for j in range(bits)
    )
    if shingled:
        unit_cte = f"""
  SELECT doc_id, unnest({_SHINGLE_SQL}) AS token
  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM corpus)"""
    else:
        unit_cte = "\n  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM corpus"
    mod = f" % {1 << bits}" if bits < 60 else ""
    return f"""
WITH corpus AS ({corpus_sql}),
tok AS ({unit_cte}
), hashed AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(token), 1, 15)) AS BIGINT){mod} AS h
  FROM tok
), sums AS (
  SELECT doc_id, {bitsums} FROM hashed GROUP BY doc_id
)
SELECT doc_id, {assemble} AS simhash FROM sums"""


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(_docs_corpus(spark, sf_dir))


_ORACLE_DEDUP_EXACT = f"""
WITH corpus AS ({_DOCS_CORPUS_SQL})
SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
FROM corpus GROUP BY 1"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_signatures(_docs(spark, sf_dir))


def _minhash_sig_exprs() -> str:
    p = D.MINHASH_P
    return ", ".join(
        f"list_min(list_transform(hs, x -> ({D.MINHASH_A[i]} * x + {D.MINHASH_B[i]}) % {p})) AS sig_{i}"
        for i in range(D.N_HASHES)
    )


def _oracle_minhash_signatures(
    corpus_sql: str = "SELECT doc_id, text FROM documents",
) -> str:
    p = D.MINHASH_P
    return f"""
WITH corpus AS ({corpus_sql}),
tokens AS (
  SELECT doc_id,
         list_transform(list_distinct({_SHINGLE_SQL}),
                        t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) % {p}) AS hs
  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM corpus)
)
SELECT doc_id, {_minhash_sig_exprs()} FROM tokens"""


def q_neardup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(_neardup_corpus(spark, sf_dir), threshold=0.5)


def _oracle_neardup_minhash() -> str:
    p = D.MINHASH_P
    band_selects = " UNION ALL ".join(
        f"""SELECT doc_id, {b} AS band_idx,
               concat_ws('_', {", ".join(f"sig_{b * D.ROWS_PER_BAND + r}" for r in range(D.ROWS_PER_BAND))}) AS band_sig
        FROM sigs"""
        for b in range(D.N_BANDS)
    )
    return f"""
WITH corpus AS ({_NEARDUP_CORPUS_SQL}),
tokens AS (
  SELECT doc_id,
         list_transform(list_distinct({_SHINGLE_SQL}),
                        t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) % {p}) AS hs
  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM corpus)
),
sigs AS (
  SELECT doc_id, {_minhash_sig_exprs()} FROM tokens
),
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
toks AS (
  SELECT doc_id, list_distinct({_SHINGLE_SQL}) AS tk
  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM ({_NEARDUP_CORPUS_SQL}))
)
SELECT id_a, id_b,
  CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
    / (len(ta.tk) + len(tb.tk) - len(list_intersect(ta.tk, tb.tk))) AS jaccard
FROM cand
JOIN toks ta ON cand.id_a = ta.doc_id
JOIN toks tb ON cand.id_b = tb.doc_id
WHERE CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
    / (len(ta.tk) + len(tb.tk) - len(list_intersect(ta.tk, tb.tk))) >= 0.5"""


def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration grid of the MinHash estimator vs exact Jaccard over
    every LSH candidate pair: (signature matches 0..16, exact-Jaccard
    decile, pair count).  The pre-flight audit that decides whether the
    16-hash/4-band config is trustworthy before a 100 TB dedup run —
    pure composition of the checked candidate/signature/verify stages
    (the ann_recall doctrine).  See dedup.py:minhash_calibration."""
    return D.minhash_calibration(_neardup_corpus(spark, sf_dir))


def _oracle_minhash_calibration() -> str:
    p = D.MINHASH_P
    band_selects = " UNION ALL ".join(
        f"""SELECT doc_id, {b} AS band_idx,
               concat_ws('_', {", ".join(f"sig_{b * D.ROWS_PER_BAND + r}" for r in range(D.ROWS_PER_BAND))}) AS band_sig
        FROM sigs"""
        for b in range(D.N_BANDS)
    )
    match_sum = " + ".join(
        f"(CASE WHEN sa.sig_{i} = sb.sig_{i} THEN 1 ELSE 0 END)"
        for i in range(D.N_HASHES)
    )
    return f"""
WITH corpus AS ({_NEARDUP_CORPUS_SQL}),
tokens AS (
  SELECT doc_id,
         list_transform(list_distinct({_SHINGLE_SQL}),
                        t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) % {p}) AS hs
  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM corpus)
),
sigs AS (
  SELECT doc_id, {_minhash_sig_exprs()} FROM tokens
),
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
toks AS (
  SELECT doc_id, list_distinct({_SHINGLE_SQL}) AS tk
  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM ({_NEARDUP_CORPUS_SQL}))
),
grid AS (
  SELECT CAST({match_sum} AS BIGINT) AS matches,
    CAST(len(list_intersect(ta.tk, tb.tk)) AS BIGINT) AS i,
    CAST(len(ta.tk) + len(tb.tk) - len(list_intersect(ta.tk, tb.tk))
      AS BIGINT) AS u
  FROM cand
  JOIN sigs sa ON cand.id_a = sa.doc_id
  JOIN sigs sb ON cand.id_b = sb.doc_id
  JOIN toks ta ON cand.id_a = ta.doc_id
  JOIN toks tb ON cand.id_b = tb.doc_id
  WHERE len(ta.tk) + len(tb.tk) - len(list_intersect(ta.tk, tb.tk)) > 0)
SELECT matches, (10 * i) // u AS jaccard_decile,
  count(*)::BIGINT AS n_pairs
FROM grid GROUP BY 1, 2"""


NEARDUP_CAP = 2  # max ids per LSH bucket in the capped query


def _capped_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ near-dup variant v1 (first token dropped, id+1e6) ∪ —
    for every third doc — second-level variant v2 (two tokens dropped,
    id+2e6).  Triplet groups {doc, v1, v2} land in LSH buckets of size 3,
    which a ``max_bucket=2`` cap drops; pair groups survive — so the cap's
    effect is visible in the output, not just in metrics."""
    d = _docs(spark, sf_dir)
    v1 = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.expr("substr(text, instr(text, ' ') + 1)").alias("text"),
    )
    v2 = v1.filter((F.col("doc_id") - 1_000_000) % 3 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.expr("substr(text, instr(text, ' ') + 1)").alias("text"),
    )
    return d.unionByName(v1).unionByName(v2)


_CAPPED_CORPUS_SQL = f"""
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, substr(text, instr(text, ' ') + 1)
  FROM documents
  UNION ALL SELECT doc_id + 2000000,
    substr(substr(text, instr(text, ' ') + 1),
           instr(substr(text, instr(text, ' ') + 1), ' ') + 1)
  FROM documents WHERE doc_id % 3 = 0"""


def q_neardup_minhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path of MinHash-LSH near-dup: degenerate buckets larger
    than ``max_bucket`` are dropped (with an observed drop count) before
    pair generation — the production trade that keeps candidate volume
    bounded at 100 TB (see dedup._cap_buckets)."""
    return D.ngram_jaccard_pairs(
        _capped_corpus(spark, sf_dir), threshold=0.5, max_bucket=NEARDUP_CAP
    )


def _oracle_neardup_minhash_capped() -> str:
    p = D.MINHASH_P
    band_selects = " UNION ALL ".join(
        f"""SELECT doc_id, {b} AS band_idx,
               concat_ws('_', {", ".join(f"sig_{b * D.ROWS_PER_BAND + r}" for r in range(D.ROWS_PER_BAND))}) AS band_sig
        FROM sigs"""
        for b in range(D.N_BANDS)
    )
    return f"""
WITH corpus AS ({_CAPPED_CORPUS_SQL}),
tokens AS (
  SELECT doc_id,
         list_transform(list_distinct({_SHINGLE_SQL}),
                        t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) % {p}) AS hs
  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM corpus)
),
sigs AS (
  SELECT doc_id, {_minhash_sig_exprs()} FROM tokens
),
bands AS ({band_selects}),
kept AS (
  SELECT band_idx, band_sig FROM bands
  GROUP BY 1, 2 HAVING count(DISTINCT doc_id) BETWEEN 2 AND {NEARDUP_CAP}
),
fbands AS (SELECT b.* FROM bands b JOIN kept USING (band_idx, band_sig)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM fbands a JOIN fbands b
    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
toks AS (
  SELECT doc_id, list_distinct({_SHINGLE_SQL}) AS tk
  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM ({_CAPPED_CORPUS_SQL}))
)
SELECT id_a, id_b,
  CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
    / (len(ta.tk) + len(tb.tk) - len(list_intersect(ta.tk, tb.tk))) AS jaccard
FROM cand
JOIN toks ta ON cand.id_a = ta.doc_id
JOIN toks tb ON cand.id_b = tb.doc_id
WHERE CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
    / (len(ta.tk) + len(tb.tk) - len(list_intersect(ta.tk, tb.tk))) >= 0.5"""


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 60-bit shingle SimHash with 15-bit bands: 32k LSH buckets, so random
    # collisions stay ~n²/2^15 per band instead of the 256-bucket byte
    # banding that floods on a small-vocabulary corpus.
    corpus = _neardup_corpus(spark, sf_dir)
    sims = X.simhash(
        corpus, bits=60, units=D.shingles(F.col("text"))
    )
    return D.simhash_candidate_pairs(
        sims, max_hamming=10, n_bands=4, band_bits=15
    )


def _oracle_simhash_neardup() -> str:
    sim_sql = _oracle_simhash(_NEARDUP_CORPUS_SQL, bits=60, shingled=True)
    bands = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {i} AS byte_idx, (simhash >> {i * 15}) & 32767 AS byte_val FROM sims"
        for i in range(4)
    )
    return f"""
WITH sims AS ({sim_sql}),
bands AS ({bands}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.simhash AS sim_a, b.simhash AS sim_b
  FROM bands a JOIN bands b
    ON a.byte_idx = b.byte_idx AND a.byte_val = b.byte_val AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, bit_count(xor(sim_a, sim_b))::INTEGER AS hamming
FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 10"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.token_counts(_docs(spark, sf_dir))


_ORACLE_TOKEN_COUNTS = f"""
SELECT doc_id,
  len(string_split(text, ' '))::BIGINT AS n_ws_tokens,
  len(regexp_extract_all(text, '{X.BPE_SPLIT_RE}'))::BIGINT AS n_re_tokens,
  list_sum(list_transform(regexp_extract_all(text, '{X.BPE_SPLIT_RE}'),
           t -> CAST(ceil(len(t) / {X.SUBWORD_LEN}.0) AS BIGINT)))::BIGINT AS n_subword_units
FROM documents"""


BM25_TERMS = ["spark", "join", "filter", "vector", "shuffle"]
BM25_K = 25


def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k retrieval over the documents corpus — the scoring
    pass a curation pipeline uses to mine topical training data.  The
    per-term contributions are floor-quantized to int64 micro-units before
    the per-doc sum (order-independent exact aggregation), and the scoring
    expression is ONE SQL template both engines parse (text.BM25_CONTRIB_
    TEMPLATE), so the ranking hash-checks bit-exactly."""
    return X.bm25_rank(_docs(spark, sf_dir), BM25_TERMS, k=BM25_K)


def _oracle_bm25_rank() -> str:
    from mvrepair.functions.exactlog import micro_log2_sql

    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    # idf = micro_log2 of the Robertson ratio — the SQL twin of the
    # py_micro_log2 integer literals the engine embeds; the ratio chain
    # is exact-rounded double ops of exact integers on both sides
    idf_sql = micro_log2_sql(
        "SELECT term, (n - df + 0.5) / (df + 0.5) + 1 AS r"
        " FROM dfreq CROSS JOIN (SELECT n FROM stats) s",
        "r",
        ["term"],
        "idf",
    )
    contrib = X.BM25_CONTRIB_TEMPLATE.format(
        idf="idf",
        k1p1=repr(1.2 + 1), k1=repr(1.2),
        omb=repr(1 - 0.75), b=repr(0.75), avgdl="avgdl",
    )
    return f"""
WITH toks AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl,
         unnest(string_split(text, ' ')) AS term
  FROM documents
),
stats AS (
  SELECT count(*) AS n,
         CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*) AS avgdl
  FROM documents
),
tf AS (
  SELECT doc_id, dl, term, count(*) AS cnt FROM toks
  WHERE term IN ({terms}) GROUP BY 1, 2, 3
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
idft AS ({idf_sql})
SELECT doc_id, CAST(sum(c) AS BIGINT) AS score_micro FROM (
  SELECT doc_id, {contrib} AS c
  FROM tf JOIN idft USING (term) CROSS JOIN stats
) GROUP BY doc_id
ORDER BY score_micro DESC, doc_id ASC LIMIT {BM25_K}"""


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.rolling_fingerprint(_docs(spark, sf_dir))


_ORACLE_ROLLING_FP = f"""
SELECT doc_id,
  list_reduce(
    list_prepend(0::BIGINT,
      list_transform(string_split(text, ''), c -> ascii(c)::BIGINT)),
    (acc, x) -> (acc * {X.ROLL_BASE} + x) % {X.ROLL_P}) AS fp_roll,
  CASE WHEN length(text) >= {X.KGRAM} THEN
    list_min(list_transform(range(1, length(text) - {X.KGRAM - 2}),
      i -> CAST(concat('0x', substr(md5(substr(text, i, {X.KGRAM})), 1, 15)) AS BIGINT)))
  ELSE CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) END AS fp_min_kgram
FROM documents"""


# ---------------------------------------------------------------------------
# similarity-search family
# ---------------------------------------------------------------------------

def _lsh_bucket_sql(qv: str = "qv", table: int = 0) -> str:
    """DuckDB twin of similarity.lsh_bucket on a quantized int64 list
    col; ``table`` picks the same disjoint plane slice as
    ``_bucket_from_qv(..., table=t)``."""
    terms = []
    for p in range(S._N_PLANES):
        signs = ", ".join(
            str(S._plane_sign(table * S._N_PLANES + p, d)) for d in range(64)
        )
        terms.append(
            f"CASE WHEN list_sum(list_transform(range(1, 65),"
            f" i -> {qv}[i] * (list_value({signs}))[i])) > 0"
            f" THEN {1 << p} ELSE 0 END"
        )
    return " + ".join(terms)


_QUANT_SQL = (
    "list_transform(embedding, x ->"
    " CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
)


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return S.cosine_topk(emb, queries, k=5)


def _oracle_ann_topk() -> str:
    # exact int64 micro-unit dot products, generated per-dimension (dim=64)
    def dot(a: str, b: str) -> str:
        return " + ".join(
            f"CAST(floor(CAST({a}.embedding[{i}] AS DOUBLE) * 1000000) AS BIGINT)"
            f" * CAST(floor(CAST({b}.embedding[{i}] AS DOUBLE) * 1000000) AS BIGINT)"
            for i in range(1, 65)
        )

    return f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    CAST(({dot('q', 'c')}) AS DOUBLE)
      / (sqrt(CAST(({dot('q', 'q')}) AS DOUBLE)) * sqrt(CAST(({dot('c', 'c')}) AS DOUBLE))) AS sim
  FROM q, embeddings c WHERE q.vec_id <> c.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank::INTEGER AS rank,
       CAST(floor(sim * 1000000) AS BIGINT) AS cosine_micro
FROM ranked WHERE rank <= 5"""


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path ANN: hyperplane-LSH bucket join instead of cross join."""
    emb = _spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return S.lsh_bucketed_topk(emb, queries, dim=64, k=5)


def _oracle_ann_lsh_topk() -> str:
    def dot(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, 65), i -> {a}.qv[i] * {b}.qv[i]))"
        )

    return f"""
WITH b AS (
  SELECT vec_id, qv, {_lsh_bucket_sql()} AS bucket
  FROM (SELECT vec_id, {_QUANT_SQL} AS qv FROM embeddings)
),
q AS (SELECT * FROM b WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    CAST({dot('q', 'c')} AS DOUBLE)
      / (sqrt(CAST({dot('q', 'q')} AS DOUBLE)) * sqrt(CAST({dot('c', 'c')} AS DOUBLE))) AS sim
  FROM q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank::INTEGER AS rank,
       CAST(floor(sim * 1000000) AS BIGINT) AS cosine_micro
FROM ranked WHERE rank <= 5"""


def q_embed_mutual_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal nearest-neighbor pairs over the vec_id%10 probe
    subset — the bitext/pair-mining primitive: LSH top-1 retrieval
    (the checked ann_lsh_topk pipeline at k=1, corpus = queries =
    subset) followed by the mutuality self-join, which keeps (a,b)
    only when each retrieves the other — the classic hub-suppressing
    precision filter.  Pure composition (the ann_recall doctrine).
    See similarity.py:mutual_nn_pairs."""
    emb = _spread(load_table(spark, sf_dir, "embeddings"))
    sub = emb.filter(F.col("vec_id") % 10 == 0)
    nn = S.lsh_bucketed_topk(sub, sub, dim=64, k=1).select(
        "query_id", "neighbor_id", "cosine_micro"
    )
    from mvrepair.operators.similarity import mutual_nn_pairs

    return mutual_nn_pairs(nn)


def _oracle_embed_mutual_nn() -> str:
    def dot(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, 65), i -> {a}.qv[i] * {b}.qv[i]))"
        )

    return f"""
WITH b AS (
  SELECT vec_id, qv, {_lsh_bucket_sql()} AS bucket
  FROM (SELECT vec_id, {_QUANT_SQL} AS qv FROM embeddings
        WHERE vec_id % 10 = 0)
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    CAST({dot('q', 'c')} AS DOUBLE)
      / (sqrt(CAST({dot('q', 'q')} AS DOUBLE)) * sqrt(CAST({dot('c', 'c')} AS DOUBLE))) AS sim
  FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
), nn AS (
  SELECT query_id, neighbor_id,
         CAST(floor(sim * 1000000) AS BIGINT) AS cosine_micro
  FROM ranked WHERE rank = 1
)
SELECT a.query_id AS id_a, a.neighbor_id AS id_b, a.cosine_micro
FROM nn a JOIN nn b
  ON a.query_id = b.neighbor_id AND a.neighbor_id = b.query_id
WHERE a.query_id < a.neighbor_id"""


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: per anchor, the top-3
    most-similar OTHER-label vectors — the between-epoch batch the
    SimCSE/DPR/triplet recipes mine.  The ANN family's pair-join shape
    (one LSH bucket equi-join of the corpus against itself, label
    inequality applied with the join, exact in-bucket rerank); output
    is the ANN contract so batch assembly composes unchanged.  See
    similarity.py:hard_negative_topk."""
    emb = _spread(load_table(spark, sf_dir, "embeddings"))
    return S.hard_negative_topk(emb, dim=64, k=3)


def _oracle_hard_negatives() -> str:
    def dot(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, 65), i -> {a}.qv[i] * {b}.qv[i]))"
        )

    return f"""
WITH b AS (
  SELECT vec_id, label, qv, {_lsh_bucket_sql()} AS bucket
  FROM (SELECT vec_id, label, {_QUANT_SQL} AS qv FROM embeddings)
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    CAST({dot('q', 'c')} AS DOUBLE)
      / (sqrt(CAST({dot('q', 'q')} AS DOUBLE)) * sqrt(CAST({dot('c', 'c')} AS DOUBLE))) AS sim
  FROM b q JOIN b c ON q.bucket = c.bucket AND q.label <> c.label
), ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank::INTEGER AS rank,
       CAST(floor(sim * 1000000) AS BIGINT) AS cosine_micro
FROM ranked WHERE rank <= 3"""


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: centroid inverted lists (16 centroids, probe 4)."""
    emb = _spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return S.ivf_topk(emb, queries, dim=64, k=5, n_centroids=16, n_probe=4)


def _oracle_ann_ivf_topk(n_centroids: int = 16, n_probe: int = 4) -> str:
    def dot(a: str, b: str) -> str:
        return f"list_sum(list_transform(range(1, 65), i -> {a}[i] * {b}[i]))"

    return f"""
WITH b AS (
  SELECT vec_id, qv, sqrt(CAST({dot('qv', 'qv')} AS DOUBLE)) AS norm
  FROM (SELECT vec_id, {_QUANT_SQL} AS qv FROM embeddings)
),
cents AS (
  SELECT vec_id AS cid, qv AS cqv, norm AS cnorm FROM b
  ORDER BY vec_id LIMIT {n_centroids}
),
csims AS (
  SELECT b.vec_id, c.cid,
         CAST({dot('b.qv', 'c.cqv')} AS DOUBLE) / (b.norm * c.cnorm) AS sim
  FROM b, cents c
),
assigned AS (
  SELECT vec_id, cid AS cent FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
    FROM csims) WHERE rn = 1
),
probes AS (
  SELECT vec_id, cid AS cent FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
    FROM csims WHERE vec_id % 50 = 0) WHERE rn <= {n_probe}
),
scored AS (
  SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
         CAST({dot('q.qv', 'c.qv')} AS DOUBLE) / (q.norm * c.norm) AS sim
  FROM probes p
  JOIN assigned a ON p.cent = a.cent AND p.vec_id <> a.vec_id
  JOIN b q ON q.vec_id = p.vec_id
  JOIN b c ON c.vec_id = a.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank::INTEGER AS rank,
       CAST(floor(sim * 1000000) AS BIGINT) AS cosine_micro
FROM ranked WHERE rank <= 5"""


PQ_M, PQ_K = 4, 16


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (Jégou et al. 2011 — FAISS's billion-vector layout):
    per-subspace codebooks TRAINED by the exact-integer Lloyd's loop
    (4 subspaces x 16 codewords over dim 64), corpus stored as 4 codes +
    a coarse id (~64x smaller than the vectors), queries scored in the
    compressed domain via ADC lookup tables.  The full pipeline —
    4 training chains + encode + probe + ADC ranks — is hash-checked
    against a DuckDB replay; candidate generation is the same coarse
    equi-join as ann_ivf_topk, never a cross product.  See
    similarity.pq_ivf_topk."""
    emb = _spread(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    books = S.pq_train(emb, dim=64, m=PQ_M, k=PQ_K, iters=KMEANS_ITERS)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return S.pq_ivf_topk(
        emb, queries, dim=64, codebooks=books, k=5, n_centroids=16, n_probe=4
    )


def _oracle_pq_topk(
    n_centroids: int = 16, n_probe: int = 4, trained_coarse: bool = False
) -> str:
    lip = "list_inner_product"
    sub = 64 // PQ_M
    it = KMEANS_ITERS

    def dot(a: str, b: str) -> str:
        return f"list_sum(list_transform(range(1, 65), i -> {a}[i] * {b}[i]))"

    parts: list[str] = []
    encs: list[str] = []
    if trained_coarse:
        # the coarse quantizer replays the SAME Lloyd's chain the Spark
        # side trains (the kmeans_clusters replay, prefix-renamed so it
        # shares the WITH clause with the per-subspace PQ chains)
        coarse_chain, _ = _kmeans_cte_parts(n_centroids, it, prefix="cc_")
        parts.extend(coarse_chain)
    for s in range(PQ_M):
        lo, hi = s * sub + 1, (s + 1) * sub
        chain, sim = _kmeans_cte_parts(
            PQ_K,
            it,
            src=(
                f"(SELECT vec_id, list_slice(embedding, {lo}, {hi}) "
                "AS embedding FROM embeddings)"
            ),
            prefix=f"s{s}_",
        )
        parts.extend(chain)
        encs.append(f"""enc{s} AS (
  SELECT vec_id, cid AS code FROM (
    SELECT e.vec_id, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY {sim} DESC, c.cid) AS rn
    FROM s{s}_emb e CROSS JOIN s{s}_c{it} c) WHERE rn = 1)""")
    adc_dot = " + ".join(
        f"{lip}(list_slice(q.qv, {s * sub + 1}, {(s + 1) * sub}), w{s}.cqv)"
        for s in range(PQ_M)
    )
    recon = " + ".join(
        f"{lip}(w{s}.cqv, w{s}.cqv)" for s in range(PQ_M)
    )
    code_joins = "\n  ".join(
        f"JOIN enc{s} e{s} ON e{s}.vec_id = a.vec_id "
        f"JOIN s{s}_c{it} w{s} ON w{s}.cid = e{s}.code"
        for s in range(PQ_M)
    )
    cents = (
        f"""cents AS (
  SELECT cid, cqv,
         sqrt(CAST({lip}(cqv, cqv) AS DOUBLE)) AS cnorm
  FROM cc_c{it}
)"""
        if trained_coarse
        else f"""cents AS (
  SELECT vec_id AS cid, qv AS cqv, norm AS cnorm FROM b
  ORDER BY vec_id LIMIT {n_centroids}
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts + encs)
        + f""",
b AS (
  SELECT vec_id, qv, sqrt(CAST({dot('qv', 'qv')} AS DOUBLE)) AS norm
  FROM (SELECT vec_id, {_QUANT_SQL} AS qv FROM embeddings)
),
{cents},
csims AS (
  SELECT b.vec_id, c.cid,
         CAST({dot('b.qv', 'c.cqv')} AS DOUBLE) / (b.norm * c.cnorm) AS sim
  FROM b, cents c
),
assigned AS (
  SELECT vec_id, cid AS cent FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
    FROM csims) WHERE rn = 1
),
probes AS (
  SELECT vec_id, cid AS cent FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
    FROM csims WHERE vec_id % 50 = 0) WHERE rn <= {n_probe}
),
scored AS (
  SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
         CAST(({adc_dot}) AS DOUBLE)
           / (q.norm * sqrt(CAST(({recon}) AS DOUBLE))) AS sim
  FROM probes p
  JOIN assigned a ON p.cent = a.cent AND p.vec_id <> a.vec_id
  JOIN b q ON q.vec_id = p.vec_id
  {code_joins}
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank::INTEGER AS rank,
       CAST(floor(sim * 1000000) AS BIGINT) AS cosine_micro
FROM ranked WHERE rank <= 5"""
    )


def q_pq_topk_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with a TRAINED coarse quantizer — the production
    configuration (the scale study's own note: corpus growth grows
    n_centroids, and trained centroids keep the inverted lists balanced
    where lowest-id seeds can't): the same exact-integer Lloyd's loop
    that builds the PQ codebooks also trains the 16 coarse centroids,
    wired through pq_ivf_topk's `coarse` seam.  The DuckDB twin replays
    the identical prefixed kmeans chain for the coarse layer alongside
    the 4 per-subspace chains — 5 training chains + encode + probe +
    ADC ranks, all hash-checked.  See similarity.pq_ivf_topk."""
    emb = _spread(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    # r11 optimization: the 5 independent chains (coarse full-dim +
    # 4 subspace codebooks, same k and iters) train in ONE joint loop —
    # bit-identical models, 1/5th the jobs and corpus passes
    # (similarity.train_kmeans_multi; guide §1/§2.3)
    sub = 64 // PQ_M
    models = S.train_kmeans_multi(
        emb,
        [(0, 64)] + [(s * sub, sub) for s in range(PQ_M)],
        k=PQ_K,
        iters=KMEANS_ITERS,
    )
    coarse, books = models[0], models[1:]
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return S.pq_ivf_topk(
        emb,
        queries,
        dim=64,
        codebooks=books,
        k=5,
        n_centroids=16,
        n_probe=4,
        coarse=coarse,
    )


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality self-measurement: recall@5 of the IVF index against
    the exact brute-force top-k, per query — the number that decides
    n_probe/n_centroids retuning before anyone trusts the fast path.
    Pure composition of the two existing pipelines + one id-keyed join;
    recall ships as exact integer micro-units."""
    emb = _spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    brute = S.cosine_topk(emb, queries, k=5)
    ivf = S.ivf_topk(emb, queries, dim=64, k=5, n_centroids=16, n_probe=4)
    hits = (
        brute.select("query_id", "neighbor_id")
        .join(ivf.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    # query-id spine comes from the cheap %50 filter, NOT from
    # brute.select(...).distinct() — the latter would re-run the whole
    # O(queries x corpus) brute-force scoring a second time
    spine = queries.select(F.col("vec_id").alias("query_id"))
    return spine.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        (F.coalesce(F.col("n_hits"), F.lit(0)) * 1000000 / 5)
        .cast("long")
        .alias("recall_micro"),
    )


# truncated-RBO@5 exact-rational weights, p = 9/10: contribution of a
# common pair first covered at depth m is W[m] = Σ_{d=m..5}
# 9^(d-1)·10^(5-d)·(60/d) over the common denominator 60·10^5; perfect
# agreement sums to 2,457,060 (= (1−p^5)·6e6), so rbo_micro = num DIV 6
# and rbo_norm_micro = num·1e6 DIV 2457060
_RBO_W = [1220082, 620082, 350082, 188082, 78732]
_RBO_PERFECT = 2457060


def q_ann_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-Biased Overlap (Webber et al. 2010) between the LSH fast
    path and the exact brute-force top-5, per query — the RANK-AWARE
    companion of ann_recall: set recall treats rank 1 and rank 5 alike,
    RBO's geometric weighting (p=0.9) scores agreement where users
    look.  EXACT RATIONAL formulation: a common pair first covered at
    depth m = max(rank_a, rank_b) contributes the precomputed integer
    suffix weight W[m] over the fixed denominator 6e6 — one id-keyed
    join + one sum, NO per-depth explode, every column int64
    (truncated RBO, no extrapolation term).  Composition of two
    driver/locally-gated pipelines (the ann_recall doctrine)."""
    emb = _spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    brute = S.cosine_topk(emb, queries, k=5)
    fast = S.lsh_bucketed_topk(emb, queries, dim=64, k=5)
    w_arr = F.array(*[F.lit(w).cast("long") for w in _RBO_W])
    pairs = (
        brute.select("query_id", "neighbor_id", F.col("rank").alias("ra"))
        .join(
            fast.select(
                "query_id", "neighbor_id", F.col("rank").alias("rb")
            ),
            ["query_id", "neighbor_id"],
        )
        .select(
            "query_id",
            F.element_at(w_arr, F.greatest("ra", "rb")).alias("__w"),
        )
    )
    nums = pairs.groupBy("query_id").agg(F.sum("__w").alias("rbo_num"))
    spine = queries.select(F.col("vec_id").alias("query_id"))
    return spine.join(nums, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("rbo_num"), F.lit(0)).alias("rbo_num"),
        F.expr("coalesce(rbo_num, 0) DIV 6").alias("rbo_micro"),
        F.expr(
            f"(coalesce(rbo_num, 0) * 1000000) DIV {_RBO_PERFECT}"
        ).alias("rbo_norm_micro"),
    )


def _oracle_ann_rbo() -> str:
    cases = " ".join(
        f"WHEN {m + 1} THEN {w}" for m, w in enumerate(_RBO_W)
    )
    return f"""
WITH brute AS ({_oracle_ann_topk()}),
fast AS ({_oracle_ann_lsh_topk()}),
p AS (
  SELECT b.query_id,
         CASE greatest(b.rank, f.rank) {cases} END AS w
  FROM brute b JOIN fast f
    ON b.query_id = f.query_id AND b.neighbor_id = f.neighbor_id),
n AS (SELECT query_id, CAST(sum(w) AS BIGINT) AS rbo_num FROM p GROUP BY 1),
spine AS (SELECT vec_id AS query_id FROM embeddings WHERE vec_id % 50 = 0)
SELECT s.query_id,
  coalesce(n.rbo_num, 0) AS rbo_num,
  coalesce(n.rbo_num, 0) // 6 AS rbo_micro,
  (coalesce(n.rbo_num, 0) * 1000000) // {_RBO_PERFECT} AS rbo_norm_micro
FROM spine s LEFT JOIN n ON s.query_id = n.query_id"""


def _oracle_ann_recall() -> str:
    return f"""
WITH brute AS ({_oracle_ann_topk()}),
ivf AS ({_oracle_ann_ivf_topk()}),
h AS (
  SELECT b.query_id, count(*) AS n
  FROM brute b JOIN ivf i
    ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
  GROUP BY 1)
SELECT q.query_id,
  coalesce(h.n, 0)::BIGINT AS n_hits,
  (coalesce(h.n, 0) * 1000000 // 5)::BIGINT AS recall_micro
FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id % 50 = 0) q
LEFT JOIN h USING (query_id)"""


def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality audit for the COMPRESSED-domain path: recall@5 of
    IVF-PQ (trained codebooks, ADC scoring) against the exact
    brute-force top-k, per query — quantifies what the 64x compression
    costs in rank fidelity, the number that sizes m/k before anyone
    trusts PQ codes (the ann_recall doctrine applied to pq_topk; pure
    composition of two checked pipelines + one id-keyed join)."""
    emb = _spread(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    brute = S.cosine_topk(emb, queries, k=5)
    books = S.pq_train(emb, dim=64, m=PQ_M, k=PQ_K, iters=KMEANS_ITERS)
    pq = S.pq_ivf_topk(
        emb, queries, dim=64, codebooks=books, k=5, n_centroids=16, n_probe=4
    )
    hits = (
        brute.select("query_id", "neighbor_id")
        .join(pq.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    spine = queries.select(F.col("vec_id").alias("query_id"))
    return spine.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        (F.coalesce(F.col("n_hits"), F.lit(0)) * 1000000 / 5)
        .cast("long")
        .alias("recall_micro"),
    )


def _oracle_pq_recall() -> str:
    return f"""
WITH brute AS ({_oracle_ann_topk()}),
pq AS ({_oracle_pq_topk()}),
h AS (
  SELECT b.query_id, count(*) AS n
  FROM brute b JOIN pq i
    ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
  GROUP BY 1)
SELECT q.query_id,
  coalesce(h.n, 0)::BIGINT AS n_hits,
  (coalesce(h.n, 0) * 1000000 // 5)::BIGINT AS recall_micro
FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id % 50 = 0) q
LEFT JOIN h USING (query_id)"""


def _neardup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ perturbed copies (first component negated, id+1e6).

    Negation is exact in IEEE float, so both engines see bit-identical
    vectors; cosine(original, variant) ≈ 1 - 2·v₀²/‖v‖² — a true near-dup.
    """
    emb = _spread(load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"))
    variant = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.concat(
            F.array(-F.element_at("embedding", 1)),
            F.slice("embedding", 2, F.size("embedding") - 1),
        ).alias("embedding"),
    )
    return emb.unionByName(variant)


_NEARDUP_EMB_SQL = (
    "SELECT vec_id, embedding FROM embeddings "
    "UNION ALL SELECT vec_id + 1000000,"
    " list_concat(list_value(-embedding[1]), embedding[2:])"
    " FROM embeddings"
)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup on the perturbed corpus."""
    return S.cosine_neardup_pairs(
        _neardup_embeddings(spark, sf_dir), dim=64, threshold=0.9
    )


_LEAKAGE_SPLITS = [("train", 0, 80), ("val", 80, 90), ("test", 90, 100)]


def q_semantic_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split SEMANTIC contamination audit: embedding-cosine
    near-dup pairs (the SemDeDup-grade signal) bucketed by which
    train/val/test splits the two sides landed in — the leakage report
    a pipeline checks before trusting eval numbers (exact-text
    contamination is `split_contamination`; this catches paraphrase-
    level leaks exact digests miss).  Pure composition: the checked
    LSH-bucketed cosine pair pipeline + the hash_split assignment + one
    ≤6-row rollup.  Output: (split_a <= split_b, n_pairs)."""
    from mvrepair.operators.sampling import hash_split

    corpus = _neardup_embeddings(spark, sf_dir)
    pairs = S.cosine_neardup_pairs(corpus, dim=64, threshold=0.9)
    sp = hash_split(
        corpus.select("vec_id"), id_col="vec_id", splits=_LEAKAGE_SPLITS
    )
    a = sp.select(F.col("vec_id").alias("id_a"), F.col("split").alias("__sa"))
    b = sp.select(F.col("vec_id").alias("id_b"), F.col("split").alias("__sb"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            F.least("__sa", "__sb").alias("split_a"),
            F.greatest("__sa", "__sb").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def _oracle_semantic_leakage() -> str:
    def dot(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, 65), i -> {a}.qv[i] * {b}.qv[i]))"
        )

    return f"""
WITH corpus AS ({_NEARDUP_EMB_SQL}),
b AS (
  SELECT vec_id, qv, {_lsh_bucket_sql()} AS bucket
  FROM (SELECT vec_id, {_QUANT_SQL} AS qv FROM corpus)
),
pairs AS (
  SELECT l.vec_id AS id_a, r.vec_id AS id_b
  FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
  WHERE CAST({dot('l', 'r')} AS DOUBLE)
    / (sqrt(CAST({dot('l', 'l')} AS DOUBLE))
       * sqrt(CAST({dot('r', 'r')} AS DOUBLE))) >= 0.9
),
sp AS (
  SELECT vec_id,
    CASE WHEN bb < 80 THEN 'train' WHEN bb < 90 THEN 'val'
         ELSE 'test' END AS split
  FROM (SELECT vec_id,
          CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
               AS BIGINT) % 100 AS bb
        FROM corpus))
SELECT least(sa.split, sb.split) AS split_a,
  greatest(sa.split, sb.split) AS split_b, count(*)::BIGINT AS n_pairs
FROM pairs JOIN sp sa ON pairs.id_a = sa.vec_id
JOIN sp sb ON pairs.id_b = sb.vec_id
GROUP BY 1, 2"""


KMEANS_K, KMEANS_ITERS = 8, 3


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index BUILD: distributed Lloyd's k-means over the embedding
    corpus (similarity.train_kmeans), then the final map-side assignment.
    Exact quantized-integer math makes every iteration bit-reproducible,
    so this ITERATIVE algorithm is hash-checked against a DuckDB twin that
    replays the same {KMEANS_ITERS} iterations as generated CTEs."""
    emb = _spread(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    cents = S.train_kmeans(emb, k=KMEANS_K, iters=KMEANS_ITERS)
    return S.kmeans_assign(emb, cents)


def _kmeans_cte_parts(
    k: int, iters: int, src: str = "embeddings", prefix: str = ""
) -> tuple[list[str], str]:
    """Shared DuckDB replay of the distributed Lloyd's loop: returns the
    WITH-clause parts (quantized ``emb``, init ``c0``, per-iteration
    assign/update/carry CTEs ending at ``c{iters}``) plus the sim
    expression — so every oracle built on trained centroids
    (``kmeans_clusters``, ``semantic_dedup``) replays the IDENTICAL
    iterations instead of duplicating the generator.  ``prefix`` renames
    every CTE (emb → {prefix}emb etc.) so several independent chains can
    share one WITH clause — the pq_topk oracle replays one chain PER
    SUBSPACE."""
    lip = "list_inner_product"
    p = prefix
    sim = (
        f"{lip}(e.qv, c.cqv) / (sqrt({lip}(e.qv, e.qv)) * "
        f"sqrt({lip}(c.cqv, c.cqv)))"
    )
    parts = [
        f"{p}emb AS (SELECT vec_id, list_transform(embedding, "
        "x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv "
        f"FROM {src})",
        f"{p}c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, "
        f"qv AS cqv FROM {p}emb ORDER BY vec_id LIMIT {k})",
    ]
    for i in range(iters):
        parts.append(f"""{p}a{i} AS (
  SELECT vec_id, qv, cid FROM (
    SELECT e.vec_id, e.qv, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY {sim} DESC, c.cid) AS rn
    FROM {p}emb e CROSS JOIN {p}c{i} c
  ) WHERE rn = 1
)""")
        parts.append(f"""{p}n{i} AS (
  SELECT cid, list(m ORDER BY pos) AS cqv FROM (
    SELECT cid, pos, CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS m
    FROM (SELECT cid, unnest(qv) AS v, unnest(range(len(qv))) AS pos FROM {p}a{i})
    GROUP BY cid, pos
  ) GROUP BY cid
)""")
        parts.append(f"""{p}c{i + 1} AS (
  SELECT cid, cqv FROM {p}n{i}
  UNION ALL
  SELECT cid, cqv FROM {p}c{i} WHERE cid NOT IN (SELECT cid FROM {p}n{i})
)""")
    return parts, sim


def _oracle_kmeans_clusters() -> str:
    k, iters = KMEANS_K, KMEANS_ITERS
    parts, sim = _kmeans_cte_parts(k, iters)
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT vec_id, CAST(cid AS INTEGER) AS cluster,
  CAST(floor(sim * 1000000) AS BIGINT) AS cosine_micro
FROM (
  SELECT e.vec_id, c.cid, {sim} AS sim,
    row_number() OVER (PARTITION BY e.vec_id ORDER BY {sim} DESC, c.cid) AS rn
  FROM emb e CROSS JOIN c{iters} c
) WHERE rn = 1"""
    )


SEMDEDUP_TAU_MICRO = 900_000
# SemDeDup's scale knob is k itself: pairwise cost is Σ|cluster|², so the
# dedup clustering runs 4× more clusters than the IVF build (k=32 vs 8)
# — mean cluster ~300 vectors at sf0.1 instead of ~1250, cutting the
# within-cluster pair count ~4× for the same corpus.
SEMDEDUP_K = 32


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) on the perturbed embedding corpus:
    k-means the space (same trained-centroid build as kmeans_clusters),
    then mark vectors with a prior same-cluster neighbor above τ=0.9
    cosine.  The perturbed copies (cosine ≈ 1 − 2v₀²/‖v‖² to their
    originals) are the true semantic dups the sweep should catch — when
    assignment puts original and copy in the same cluster; cross-cluster
    misses are SemDeDup's documented recall trade, reproduced exactly by
    the oracle's replay of the same clustering."""
    corpus = _neardup_embeddings(spark, sf_dir)
    cents = S.train_kmeans(corpus, k=SEMDEDUP_K, iters=KMEANS_ITERS)
    return S.semantic_dedup(corpus, cents, threshold_micro=SEMDEDUP_TAU_MICRO)


def _oracle_semantic_dedup() -> str:
    parts, sim = _kmeans_cte_parts(
        SEMDEDUP_K, KMEANS_ITERS, src=f"({_NEARDUP_EMB_SQL})"
    )
    lip = "list_inner_product"
    pair_sim = (
        f"{lip}(a.qv, b.qv) / (sqrt({lip}(a.qv, a.qv)) * "
        f"sqrt({lip}(b.qv, b.qv)))"
    )
    parts.append(f"""f AS (
  SELECT vec_id, qv, cid FROM (
    SELECT e.vec_id, e.qv, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY {sim} DESC, c.cid) AS rn
    FROM emb e CROSS JOIN c{KMEANS_ITERS} c
  ) WHERE rn = 1
)""")
    parts.append(f"""p AS (
  SELECT a.vec_id,
    max(CAST(floor({pair_sim} * 1000000) AS BIGINT)) AS max_prior_cosine_micro
  FROM f a JOIN f b ON a.cid = b.cid AND b.vec_id < a.vec_id
  GROUP BY a.vec_id
)""")
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT f.vec_id, CAST(f.cid AS INTEGER) AS cluster,
  p.max_prior_cosine_micro,
  coalesce(p.max_prior_cosine_micro >= {SEMDEDUP_TAU_MICRO}, false) AS is_semdup
FROM f LEFT JOIN p ON f.vec_id = p.vec_id"""
    )


def _oracle_embedding_neardup() -> str:
    def dot(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, 65), i -> {a}.qv[i] * {b}.qv[i]))"
        )

    return f"""
WITH corpus AS ({_NEARDUP_EMB_SQL}),
b AS (
  SELECT vec_id, qv, {_lsh_bucket_sql()} AS bucket
  FROM (SELECT vec_id, {_QUANT_SQL} AS qv FROM corpus)
),
scored AS (
  SELECT l.vec_id AS id_a, r.vec_id AS id_b,
    CAST({dot('l', 'r')} AS DOUBLE)
      / (sqrt(CAST({dot('l', 'l')} AS DOUBLE)) * sqrt(CAST({dot('r', 'r')} AS DOUBLE))) AS sim
  FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
)
SELECT id_a, id_b, CAST(floor(sim * 1000000) AS BIGINT) AS cosine_micro
FROM scored WHERE sim >= 0.9"""


NEARDUP_N_TABLES = 2


def q_embedding_neardup_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table (banded) LSH near-dup pairs on the perturbed corpus —
    the RECALL lever the round-9 plane-sizing study isolated: a pair is
    a candidate when it collides in ANY of the independent hash tables
    (recall 1-(1-p^b)^T vs p^b), exact verify keeps precision at 1.  A
    superset of embedding_neardup's pairs by construction.  See
    similarity.cosine_neardup_pairs_banded."""
    return S.cosine_neardup_pairs_banded(
        _neardup_embeddings(spark, sf_dir),
        dim=64,
        threshold=0.9,
        n_tables=NEARDUP_N_TABLES,
    )


def _oracle_embedding_neardup_banded() -> str:
    def dot(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, 65), i -> {a}.qv[i] * {b}.qv[i]))"
        )

    buckets = ", ".join(
        f"{_lsh_bucket_sql(table=t)} AS bucket_{t}"
        for t in range(NEARDUP_N_TABLES)
    )
    branches = "\nUNION ALL\n".join(
        f"""  SELECT l.vec_id AS id_a, r.vec_id AS id_b,
    CAST({dot('l', 'r')} AS DOUBLE)
      / (sqrt(CAST({dot('l', 'l')} AS DOUBLE)) * sqrt(CAST({dot('r', 'r')} AS DOUBLE))) AS sim
  FROM b l JOIN b r ON l.bucket_{t} = r.bucket_{t} AND l.vec_id < r.vec_id"""
        for t in range(NEARDUP_N_TABLES)
    )
    return f"""
WITH corpus AS ({_NEARDUP_EMB_SQL}),
b AS (
  SELECT vec_id, qv, {buckets}
  FROM (SELECT vec_id, {_QUANT_SQL} AS qv FROM corpus)
),
scored AS (
{branches}
)
SELECT DISTINCT id_a, id_b, CAST(floor(sim * 1000000) AS BIGINT) AS cosine_micro
FROM scored WHERE sim >= 0.9"""


# ---------------------------------------------------------------------------
# streaming family (Structured Streaming; availableNow over the same parquet)
# ---------------------------------------------------------------------------

# Streaming state partitions.  A stateful query pins one state store
# per shuffle partition for the life of the run, and the count is locked
# into the checkpoint at query start (a trivial availableNow drain costs
# ~3-4.7 s at 32 partitions, ~1.5 s at 8, ~0.9 s at 1 — per-partition
# state-store setup/commit, not compute).  BOUNDED state (sketch grids,
# HLL registers, PCA cells, histogram buckets, calendar windows) runs at
# 4: the partial aggregation collapses map-side, so the reduce side is
# O(state) at any input volume.  KEYED state (per-key latest, sessions,
# dedup digests, stream-stream join buffers) grows with the key space:
# 8 locally, scaled with key cardinality in production.
_STATE_BOUNDED = {SHUFFLE_PARTITIONS: "4"}
_STATE_KEYED = {SHUFFLE_PARTITIONS: "8"}


def q_events_hourly_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_hourly: readStream → watermark → window agg.

    availableNow + complete mode drains the directory in one run, so the
    result equals the batch query and shares its DuckDB oracle.
    """
    from mvrepair.sources.parquet import load_stream
    from mvrepair.streaming.incremental import streaming_events_hourly

    sdf = streaming_events_hourly(load_stream(spark, sf_dir, "events"))
    with conf_scope(spark, _STATE_BOUNDED):
        query = (
            sdf.writeStream.format("memory")
            .queryName("__events_hourly_stream")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table("__events_hourly_stream")


def q_mv_merkle_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the merkle digest stage: base rows fold into
    per-token-range (count, xor) JVM state — O(2^depth) state total at
    any stream volume, keeping the anti-entropy digests continuously
    warm.  availableNow + complete mode drains the directory, so the
    result equals batch ``range_digests`` over the base side and is
    checked against the same DuckDB replay."""
    from mvrepair.streaming.incremental import streaming_range_digests

    sdf = streaming_range_digests(
        _merkle_render(P.base_stream_df(spark, sf_dir)),
        _MERKLE_KEYS,
        _MERKLE_VALS,
        MERKLE_DEPTH,
    )
    with conf_scope(spark, _STATE_BOUNDED):
        query = (
            sdf.writeStream.format("memory")
            .queryName("__mv_merkle_stream")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table("__mv_merkle_stream")


def _oracle_mv_merkle_stream() -> str:
    return f"""WITH {_oracle_merkle_cte()}
SELECT bucket, n_rows, xor_digest FROM db"""


def q_events_hll_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_hll: per-(type, register) rho state
    maintained incrementally in the JVM state store (groups × 128 longs
    at any volume); the drained register table folds batch-side into
    the same per-type + merged-ALL estimates, sharing events_hll's
    oracle verbatim."""
    from mvrepair.operators import sketch as SK
    from mvrepair.sources.parquet import load_stream
    from mvrepair.streaming.incremental import streaming_hll_registers

    sdf = streaming_hll_registers(
        load_stream(spark, sf_dir, "events").select("event_type", "event_id"),
        "event_id",
        ["event_type"],
    )
    with conf_scope(spark, _STATE_BOUNDED):
        query = (
            sdf.writeStream.format("memory")
            .queryName("__events_hll_stream")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    regs = spark.table("__events_hll_stream")
    merged = (
        regs.groupBy("register")
        .agg(F.max("rho").alias("rho"))
        .select(F.lit("ALL").alias("event_type"), "register", "rho")
    )
    return SK.hll_fold(regs.unionByName(merged), ["event_type"])


def q_events_sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_sliding: the native hopping window
    running incrementally (each event updates 4 overlapping window
    states in the JVM state store).  availableNow + complete mode
    drains the directory in one run, so the result equals the batch
    query and shares its DuckDB oracle."""
    from mvrepair.sources.parquet import load_stream
    from mvrepair.streaming.incremental import streaming_events_sliding

    sdf = streaming_events_sliding(
        load_stream(spark, sf_dir, "events"), slide_minutes=SLIDE_MIN
    )
    with conf_scope(spark, _STATE_BOUNDED):
        query = (
            sdf.writeStream.format("memory")
            .queryName("__events_sliding_stream")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table("__events_sliding_stream")


def q_view_purchase_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join (the one streaming shape the other
    entries don't exercise: BOTH sides buffer in the state store, each
    side's rows retire when the other side's watermark clears the join
    range).  Purchases attribute to every view by the same user within
    the preceding hour; inner-join results emit as matches arrive, so
    the availableNow drain equals the plain SQL interval join and the
    DuckDB oracle checks it directly — no batch twin needed."""
    from mvrepair.sources.parquet import load_stream
    from mvrepair.streaming.incremental import streaming_view_purchase_join

    views = load_stream(spark, sf_dir, "events").filter(
        F.col("event_type") == "view"
    )
    purchases = load_stream(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    sdf = streaming_view_purchase_join(views, purchases)
    with conf_scope(spark, _STATE_KEYED):
        query = (
            sdf.writeStream.format("memory")
            .queryName("__view_purchase_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table("__view_purchase_stream")


_ORACLE_VIEW_PURCHASE_STREAM = """
SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
  (epoch_us(p.ts) - epoch_us(v.ts))::BIGINT AS gap_us
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL 1 HOUR"""


def q_dedup_exact_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of dedup_exact via the NATIVE streaming aggregation.

    The doc stream is doubled in-flight (id, id+1e6 — same corpus as the
    batch dedup demo); availableNow drains the source and complete mode
    emits the final state, which equals the batch oracle.  State lives in
    the JVM state store — no per-group Python round-trip (the
    applyInPandasWithState variant remains in streaming/stateful.py as the
    arbitrary-state demo, exercised by tests; it cost 30 s here vs ~5 s
    for the native agg at sf0.1).
    """
    from mvrepair.sources.parquet import load_stream
    from mvrepair.streaming.incremental import streaming_dedup_native

    docs = load_stream(spark, sf_dir, "documents").select(
        F.explode(
            F.array(
                F.struct(F.col("doc_id"), F.col("text")),
                F.struct(
                    (F.col("doc_id") + 1_000_000).alias("doc_id"), F.col("text")
                ),
            )
        ).alias("r")
    ).select("r.doc_id", "r.text")
    with conf_scope(spark, _STATE_KEYED):
        query = (
            streaming_dedup_native(docs)
            .writeStream.format("memory")
            .queryName("__dedup_exact_stream")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table("__dedup_exact_stream")


_ORACLE_DEDUP_STREAM = f"""
WITH corpus AS ({_DOCS_CORPUS_SQL})
SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
FROM corpus GROUP BY 1"""


def q_mv_classify_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental reconcile: a STREAM of base rows left-joined against the
    static MV snapshot (SURVEY §7's lambda split).  Per arriving base row
    it reports the detectable classes — MISSING_IN_MV_TABLE and
    INCONSISTENT — with batch-identical first-mismatch semantics; orphans
    stay the batch job's responsibility.  No window filter: an incremental
    pipeline classifies each change as it arrives."""
    from mvrepair.streaming.incremental import streaming_reconcile_against_static

    out = streaming_reconcile_against_static(
        P.base_stream_df(spark, sf_dir), P.mv_df(spark, sf_dir), P.spec()
    )
    query = (
        out.writeStream.format("memory")
        .queryName("__mv_classify_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table("__mv_classify_stream")


def q_mv_upserts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental REPAIR: the base-change stream joined against the static
    MV snapshot, pushed through the UNCHANGED batch ``plan_upserts`` —
    column-granular repair cells emitted per microbatch (streaming/repair.py).
    At 100 TB this replaces the nightly full-scan cogroup with per-batch
    delta-vs-snapshot joins; a drained stream equals the batch plan minus
    window filtering, which is what the oracle hash-checks."""
    from mvrepair.streaming.repair import streaming_repair_upserts

    cells = streaming_repair_upserts(
        P.base_stream_df(spark, sf_dir), P.mv_df(spark, sf_dir), P.spec()
    )
    query = (
        cells.writeStream.format("memory")
        .queryName("__mv_upserts_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table("__mv_upserts_stream")


def _oracle_mv_upserts_stream() -> str:
    return f"WITH {P.oracle_stream_classified_cte()}" + _oracle_upsert_cells("scls")


def _oracle_mv_classify_stream() -> str:
    any_diff = (
        "b_date IS DISTINCT FROM m_date OR b_prio IS DISTINCT FROM m_prio"
        " OR b_status IS DISTINCT FROM m_status OR b_price IS DISTINCT FROM m_price"
    )
    return f"""WITH {P.oracle_classified_cte()}
SELECT o_custkey, o_orderkey,
  CASE WHEN NOT mp THEN 'MISSING_IN_MV_TABLE' ELSE 'INCONSISTENT' END AS problem,
  diff_column, diff_type, base_value, mv_value
FROM cls
WHERE bp AND (NOT mp OR {any_diff})"""


# ---------------------------------------------------------------------------
# multimodal family (binary columns + Pandas-UDF plumbing)
# ---------------------------------------------------------------------------

def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mvrepair.operators.multimodal import attach_binary, extract_metadata

    docs = _spread(load_table(spark, sf_dir, "documents"))
    blobs = attach_binary(docs, text_col="text")
    return extract_metadata(blobs).select("doc_id", "n_bytes", "format")


_ORACLE_MULTIMODAL = """
SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes, 'raw' AS format
FROM documents"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mvrepair.operators.multimodal import attach_binary, nibble_histogram

    docs = _spread(load_table(spark, sf_dir, "documents"))
    return nibble_histogram(attach_binary(docs, text_col="text"))


def _oracle_multimodal_features() -> str:
    # hex-digit frequency of the payload == nibble histogram of its bytes
    digits = "0123456789ABCDEF"
    cols = ", ".join(
        f"(length(hx) - length(replace(hx, '{d}', '')))::BIGINT AS h{i}"
        for i, d in enumerate(digits)
    )
    return f"""
SELECT doc_id, {cols}
FROM (SELECT doc_id, hex(encode(text)) AS hx FROM documents)"""


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1→N frame sampling over binary payloads (the video-frame shape)."""
    from mvrepair.operators.multimodal import attach_binary, frame_sample

    docs = _spread(load_table(spark, sf_dir, "documents"))
    return frame_sample(attach_binary(docs, text_col="text"))


_ORACLE_MULTIMODAL_FRAMES = """
SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
       CAST(least(64, n - 64 * i) AS INTEGER) AS frame_bytes
FROM (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
     LATERAL unnest(range(0, CAST(ceil(n / 64.0) AS BIGINT))) AS t(i)"""


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------

def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-40 vocabulary heavy hitters (map-side combined
    token counts; TakeOrderedAndProject top-k — no global sort)."""
    return X.heavy_hitters(_docs(spark, sf_dir), k=40)


_ORACLE_HEAVY_HITTERS = """
SELECT token, count(*)::BIGINT AS n, count(DISTINCT doc_id)::BIGINT AS n_docs
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
GROUP BY token ORDER BY n DESC, token ASC LIMIT 40"""


def q_cms_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimation, audited against exact
    counts — the bloom_prune_stats doctrine applied to the frequency
    sketch: the d x w counter grid itself is the checked object.

    The grid (sketch.cms_counters: ONE Expand under ONE map-combinable
    agg, <= d*w rows out) is probed for the exact top-40 vocabulary
    heavy hitters; the report carries exact count, CMS estimate, and
    the overcount — the oracle rebuilds grid and estimates from the
    same salted md5 hashes, so a single flipped counter cell flips the
    driver hash.  CMS never undercounts (min over d cells each >= the
    true count), pinned by test.  At 100 TB the grid replaces the
    exact token groupBy wherever only point frequencies are needed:
    state is d*w longs per executor, mergeable cell-wise.
    """
    from mvrepair.operators import sketch as SK
    from mvrepair.operators.text import tokenize

    toks = _docs(spark, sf_dir).select(
        F.explode(tokenize(F.col("text"))).alias("token")
    )
    counters = SK.cms_counters(toks, "token", w=CMS_W, d=CMS_D)
    top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), F.col("token").asc())
        .limit(40)
    )
    est = SK.cms_estimate(top, "token", counters, w=CMS_W, d=CMS_D)
    return est.select(
        "token",
        "exact_n",
        "cms_est",
        (F.col("cms_est") - F.col("exact_n")).alias("overcount"),
    ).orderBy(F.col("exact_n").desc(), F.col("token").asc())


CMS_W = 2048  # grid width (overcount bound ~ 2N/w)
CMS_D = 4  # grid depth (error probability ~ 2^-d)


TEXTRANK_MIN_LEN = 4  # content-word proxy (no POS tagger: length gate)
TEXTRANK_K = 30


def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): corpus-level
    keywords as PageRank centrality over the token co-occurrence graph
    — nodes are content tokens (length >= 4, the POS-filter proxy),
    edges are distinct adjacent co-occurrences in both directions, the
    rank recurrence is the exact-integer pagerank_micro shared with
    part_pagerank (same unrolled-round oracle pattern).  The classic
    unsupervised keyword signal for corpus curation, built entirely
    from checked pieces: collocations' row-local bigram extraction +
    the graph family's fixed-round integer iteration."""
    from mvrepair.operators.linkage import pagerank_micro

    toks = _docs(spark, sf_dir).select(
        F.split(F.col("text"), " ").alias("__toks")
    )
    head = F.expr("slice(__toks, 1, greatest(size(__toks) - 1, 0))")
    tail = F.expr("slice(__toks, 2, greatest(size(__toks) - 1, 0))")
    pairs = toks.select(
        F.explode(
            F.zip_with(
                head, tail, lambda a, b: F.struct(a.alias("x"), b.alias("y"))
            )
        ).alias("__p")
    ).select(F.col("__p.x").alias("x"), F.col("__p.y").alias("y"))
    pairs = pairs.filter(
        (F.length("x") >= TEXTRANK_MIN_LEN)
        & (F.length("y") >= TEXTRANK_MIN_LEN)
        & (F.col("x") != F.col("y"))
    )
    edges = (
        pairs.select(F.col("x").alias("src"), F.col("y").alias("dst"))
        .unionByName(
            pairs.select(F.col("y").alias("src"), F.col("x").alias("dst"))
        )
        .dropDuplicates(["src", "dst"])
    )
    nodes = edges.select(F.col("src").alias("id")).distinct()
    ranks = pagerank_micro(edges, nodes, id_col="id", iters=PAGERANK_ITERS)
    return (
        ranks.orderBy(F.col("rank_micro").desc(), F.col("id").asc())
        .limit(TEXTRANK_K)
        .select(F.col("id").alias("token"), "rank_micro")
    )


def _oracle_textrank_keywords() -> str:
    rounds = []
    prev = "r0"
    for i in range(1, PAGERANK_ITERS + 1):
        rounds.append(
            f"s{i} AS MATERIALIZED (SELECT ed.dst AS id,"
            f" sum({prev}.r // deg.deg) AS s"
            f" FROM ed JOIN {prev} ON ed.src = {prev}.id"
            f" JOIN deg ON ed.src = deg.src GROUP BY 1),\n"
            f"r{i} AS MATERIALIZED (SELECT n.id,"
            f" CAST(150000 + (85 * coalesce(s{i}.s, 0)) // 100 AS BIGINT)"
            f" AS r FROM n LEFT JOIN s{i} USING (id))"
        )
        prev = f"r{i}"
    body = ",\n".join(rounds)
    return f"""
WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
pairs AS MATERIALIZED (
  SELECT t[i] AS x, t[i + 1] AS y FROM (
    SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks)
  WHERE len(t[i]) >= {TEXTRANK_MIN_LEN}
    AND len(t[i + 1]) >= {TEXTRANK_MIN_LEN} AND t[i] <> t[i + 1]
),
ed AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT x AS src, y AS dst FROM pairs
    UNION ALL SELECT y AS src, x AS dst FROM pairs)
),
deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM ed GROUP BY 1),
n AS MATERIALIZED (SELECT DISTINCT src AS id FROM ed),
r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM n),
{body}
SELECT id AS token, r AS rank_micro FROM {prev}
ORDER BY rank_micro DESC, token ASC LIMIT {TEXTRANK_K}"""


def q_cms_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of cms_audit: the d x w grid maintained
    incrementally in the JVM state store (one state row per cell,
    <= d*w at any stream volume — the events_hll_stream doctrine for
    the FREQUENCY sketch); the drained grid then feeds the identical
    batch probe/estimate composition, so the batch oracle applies
    verbatim."""
    from mvrepair.operators import sketch as SK
    from mvrepair.operators.text import tokenize
    from mvrepair.sources.parquet import load_stream
    from mvrepair.streaming.incremental import streaming_cms_counters

    stoks = load_stream(spark, sf_dir, "documents").select(
        F.explode(tokenize(F.col("text"))).alias("token")
    )
    sdf = streaming_cms_counters(stoks, "token", w=CMS_W, d=CMS_D)
    with conf_scope(spark, _STATE_BOUNDED):
        query = (
            sdf.writeStream.format("memory")
            .queryName("__cms_stream")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    counters = spark.table("__cms_stream")
    toks = _docs(spark, sf_dir).select(
        F.explode(tokenize(F.col("text"))).alias("token")
    )
    top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), F.col("token").asc())
        .limit(40)
    )
    est = SK.cms_estimate(top, "token", counters, w=CMS_W, d=CMS_D)
    return est.select(
        "token",
        "exact_n",
        "cms_est",
        (F.col("cms_est") - F.col("exact_n")).alias("overcount"),
    ).orderBy(F.col("exact_n").desc(), F.col("token").asc())


def q_events_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second frequency moment (F2 = Σ f_k² = self-join size) of the
    event user stream via the AMS tug-of-war sketch, median-of-means
    over 40 hash-bit-signed counters (ONE md5 per row), WITH the exact audit column — the
    skew-mass estimator beside the CMS cross-join-size family: F2 is
    what a salted-agg planner actually needs to price a key's quadratic
    blow-up.  One Expand under one map-combinable sum (16 longs per
    partition) + one key-keyed exact pass.  See sketch.py:ams_f2."""
    from mvrepair.operators.sketch import ams_f2

    ev = load_table(spark, sf_dir, "events").select("user_id")
    return ams_f2(ev, "user_id", reps=40, groups=5)


_ORACLE_EVENTS_AMS_F2 = """
WITH reps AS (SELECT unnest(range(0, 40)) AS r),
occ AS (SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
               AS BIGINT) AS h FROM events),
z AS (
  SELECT reps.r,
         CAST(sum(1 - 2 * ((occ.h >> reps.r) & 1)) AS BIGINT) AS z
  FROM occ, reps GROUP BY 1),
means AS (
  SELECT (r - r % 8) AS g, CAST(sum(z * z) // 8 AS BIGINT) AS m
  FROM z GROUP BY 1),
med AS (
  SELECT m FROM (
    SELECT m, row_number() OVER (ORDER BY m, g) AS rn FROM means) s
  WHERE rn = 3),
ex AS (
  SELECT CAST(sum(c * c) AS BIGINT) AS f2
  FROM (SELECT count(*)::BIGINT AS c FROM events GROUP BY user_id) t)
SELECT CAST(40 AS INTEGER) AS reps, CAST(8 AS INTEGER) AS grp_w,
       med.m AS f2_est, ex.f2 AS f2_exact,
       CAST(abs(med.m - ex.f2) // ex.f2 * 1000000
            + (abs(med.m - ex.f2) % ex.f2) * 1000000 // ex.f2
            AS BIGINT) AS err_micro
FROM med, ex"""


def q_cms_joinsize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size pre-flight in SKETCH space, audited against the exact
    count: the AGMS/CM inner-product estimator (min over d rows of
    Σ_col a_r·b_r) never undercounts the true equi-join cardinality —
    the orders_lineitem_joinsize exact frame costs a distinct-key
    shuffle per side, this costs two d×w grids and a broadcast zip,
    the version you can afford on EVERY candidate join of a plan
    search.  The exact column comes from the actual join count (the
    bloom_prune_stats audit doctrine); the two one-row frames combine
    via union + a single-row re-aggregate — a literal-key join would
    constant-fold into the BNLJ the plan audit bans."""
    from mvrepair.operators import sketch as SK

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    null_l = F.lit(None).cast("bigint")
    est = SK.cms_join_size(
        orders, "o_orderkey", li, "l_orderkey", w=CMS_W, d=CMS_D
    ).withColumn("exact_join_rows", null_l)
    exact = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .agg(F.count(F.lit(1)).alias("exact_join_rows"))
        .select(
            null_l.alias("est_join_rows"),
            *[null_l.alias(f"d_{r}") for r in range(CMS_D)],
            "exact_join_rows",
        )
    )
    return est.unionByName(exact).agg(
        F.max("est_join_rows").alias("est_join_rows"),
        *[F.max(f"d_{r}").alias(f"d_{r}") for r in range(CMS_D)],
        F.max("exact_join_rows").alias("exact_join_rows"),
        (F.max("est_join_rows") - F.max("exact_join_rows")).alias(
            "overcount"
        ),
    )


def _oracle_cms_joinsize() -> str:
    def grid(table, key):
        h = (
            f"CAST('0x' || substr(md5(CAST({key} AS VARCHAR) || '#c' || r),"
            f" 1, 15) AS BIGINT) % {CMS_W}"
        )
        return (
            f"SELECT r, {h} AS col, count(*)::BIGINT AS c "
            f"FROM {table} CROSS JOIN range(0, {CMS_D}) AS rr(r) "
            f"GROUP BY 1, 2"
        )

    d_cols = ", ".join(
        f"max(CASE WHEN r = {r} THEN ip END)::BIGINT AS d_{r}"
        for r in range(CMS_D)
    )
    return f"""
WITH ga AS MATERIALIZED ({grid('orders', 'o_orderkey')}),
gb AS MATERIALIZED ({grid('lineitem', 'l_orderkey')}),
prod AS (
  SELECT ga.r, sum(ga.c * gb.c) AS ip
  FROM ga JOIN gb ON ga.r = gb.r AND ga.col = gb.col GROUP BY 1
),
est AS (SELECT min(ip)::BIGINT AS est_join_rows, {d_cols} FROM prod),
ex AS (
  SELECT count(*)::BIGINT AS exact_join_rows
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
)
SELECT est.est_join_rows, {', '.join(f'est.d_{r}' for r in range(CMS_D))},
  ex.exact_join_rows,
  (est.est_join_rows - ex.exact_join_rows)::BIGINT AS overcount
FROM est, ex"""


def q_user_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between event types via KMV theta-sketch
    intersection, audited against the exact distinct-user join.

    The set-operation companion of the KMV cardinality sketch
    (sketch.kmv_overlap): within min(theta_a, theta_b) both groups'
    bottom-k samples are complete, so their shared hashes there are a
    uniform sample of the true user intersection — the classic "how
    many users did BOTH X and Y" question answered from k-hash
    sketches, never a raw-stream join.  The exact audit column (one
    distinct-pairs self-join, affordable at fixture scale) makes the
    estimator the checked object, the bloom_prune_stats doctrine.
    """
    from mvrepair.operators import sketch as SK

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    sk = SK.kmv_overlap(ev, "event_type", "user_id", k=KMV_OVERLAP_K)
    du = ev.filter(F.col("user_id").isNotNull()).distinct()
    a, b = du.alias("a"), du.alias("b")
    exact = (
        a.join(
            b,
            on=[
                F.col("a.user_id") == F.col("b.user_id"),
                F.col("a.event_type") < F.col("b.event_type"),
            ],
        )
        .groupBy(
            F.col("a.event_type").alias("group_a"),
            F.col("b.event_type").alias("group_b"),
        )
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    return (
        sk.join(exact, on=["group_a", "group_b"], how="left")
        .select(
            "group_a",
            "group_b",
            "est_a",
            "est_b",
            "est_intersection",
            "sample_overlap",
            F.coalesce(F.col("exact_intersection"), F.lit(0))
            .cast("bigint")
            .alias("exact_intersection"),
        )
        .orderBy("group_a", "group_b")
    )


KMV_OVERLAP_K = 64
_KMV_SPACE_INT = 1 << 60
_KMV_SPACE_SQL = "1152921504606846976"


# candidate FDs profiled by orders_fd_profile: a mix of true keys
# (g3 = 0) and almost-dependencies (g3 > 0), per table
_FD_ORDERS = [
    (["o_orderkey"], ["o_custkey"]),
    (["o_custkey"], ["o_orderpriority"]),
    (["o_orderdate"], ["o_orderstatus"]),
]
_FD_LINEITEM = [
    (["l_orderkey", "l_linenumber"], ["l_partkey"]),
    (["l_partkey"], ["l_suppkey"]),
]


def q_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer PCA over the embedding corpus (decomp.py): one
    Arrow-batched mapInPandas pass folds the corpus into d(d+1)/2+d+1
    int64 sufficient statistics (the tall-skinny Gram trick — the
    shuffle carries <= 2,145 rows per partition, never vectors), the
    power iteration runs driver-side on that bounded artifact (the
    train_kmeans doctrine) in deterministic integer fixed-point, and
    the principal axis broadcasts back as literals for a pure
    column-algebra projection.  The oracle unrolls the IDENTICAL
    6-round recurrence in SQL — an eigen-decomposition gated by a
    value hash, the kmeans/pagerank doctrine at its furthest point."""
    from mvrepair.operators import decomp as DC

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    stats = DC.pca_suffstats(emb, "embedding", 64).collect()
    v, n, s = DC.principal_axis(stats, 64)
    return DC.pca_scores(emb, "vec_id", "embedding", v, n, s)


def _oracle_embedding_pca() -> str:
    from mvrepair.operators.decomp import MCAP, PCA_ITERS, QUANT, VSCALE

    rounds = []
    prev = "v0"
    for t in range(1, PCA_ITERS + 1):
        rounds.append(
            f"u{t} AS MATERIALIZED (SELECT ms.i, sum(ms.m * {prev}.v) AS u"
            f" FROM ms JOIN {prev} ON ms.j = {prev}.i GROUP BY 1),\n"
            f"d{t} AS MATERIALIZED (SELECT greatest(1, max(abs(u)) // {VSCALE}) AS d"
            f" FROM u{t}),\n"
            f"v{t} AS MATERIALIZED (SELECT i, u // (SELECT d FROM d{t}) AS v FROM u{t})"
        )
        prev = f"v{t}"
    body = ",\n".join(rounds)
    return f"""
WITH qv AS (
  SELECT vec_id, list_transform(embedding,
    x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS q
  FROM embeddings
),
comp AS MATERIALIZED (
  SELECT vec_id, CAST(t.i AS INT) AS i, q[t.i + 1] AS q
  FROM qv CROSS JOIN range(0, 64) t(i)
),
nn AS MATERIALIZED (SELECT count(*)::BIGINT AS n FROM qv),
sv AS MATERIALIZED (SELECT i, sum(q)::BIGINT AS s FROM comp GROUP BY 1),
gram AS MATERIALIZED (
  SELECT a.i AS i, b.i AS j, sum(a.q * b.q)::BIGINT AS g
  FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY 1, 2
),
gfull AS MATERIALIZED (
  SELECT i, j, g FROM gram
  UNION ALL SELECT j AS i, i AS j, g FROM gram WHERE i <> j
),
m0 AS MATERIALIZED (
  SELECT g.i, g.j, (SELECT n FROM nn) * g.g - sa.s * sb.s AS m
  FROM gfull g JOIN sv sa ON sa.i = g.i JOIN sv sb ON sb.i = g.j
),
dd AS MATERIALIZED (SELECT greatest(1, max(abs(m)) // {MCAP}) AS d FROM m0),
ms AS MATERIALIZED (SELECT i, j, m // (SELECT d FROM dd) AS m FROM m0),
v0 AS MATERIALIZED (SELECT i, CAST({VSCALE} AS BIGINT) AS v FROM range(0, 64) t(i)),
{body}
SELECT c.vec_id,
  sum(((SELECT n FROM nn) * c.q - sv.s) * vf.v)::BIGINT AS pc1_score
FROM comp c JOIN sv ON sv.i = c.i JOIN {prev} vf ON vf.i = c.i
GROUP BY 1"""


def q_label_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label principal-component scores (decomp.grouped_pca_scores):
    the grouped-operator doctrine applied to MODEL FITTING — one
    grouped cell-explode pass folds every label's Gram statistics in a
    single aggregate, the driver iterates one exact-integer eigen
    recurrence per label, and scoring broadcast-joins the per-label
    axis frame.  The oracle replays every label's statistics,
    iterations, and projections as GROUPED CTEs — ten eigen-
    decompositions gated by one value hash."""
    from mvrepair.operators import decomp as DC

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    return DC.grouped_pca_scores(emb, "vec_id", "embedding", "label", 64)


def _oracle_label_pca() -> str:
    from mvrepair.operators.decomp import MCAP, PCA_ITERS, QUANT, VSCALE

    rounds = []
    prev = "v0"
    for t in range(1, PCA_ITERS + 1):
        rounds.append(
            f"u{t} AS MATERIALIZED (SELECT ms.label, ms.i,"
            f" sum(ms.m * {prev}.v) AS u"
            f" FROM ms JOIN {prev} ON ms.label = {prev}.label"
            f" AND ms.j = {prev}.i GROUP BY 1, 2),\n"
            f"d{t} AS MATERIALIZED (SELECT label,"
            f" greatest(1, max(abs(u)) // {VSCALE}) AS d"
            f" FROM u{t} GROUP BY 1),\n"
            f"v{t} AS MATERIALIZED (SELECT u.label, u.i, u.u // d.d AS v"
            f" FROM u{t} u JOIN d{t} d ON u.label = d.label)"
        )
        prev = f"v{t}"
    body = ",\n".join(rounds)
    return f"""
WITH qv AS (
  SELECT vec_id, label, list_transform(embedding,
    x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS q
  FROM embeddings
),
comp AS MATERIALIZED (
  SELECT vec_id, label, CAST(t.i AS INT) AS i, q[t.i + 1] AS q
  FROM qv CROSS JOIN range(0, 64) t(i)
),
nn AS MATERIALIZED (SELECT label, count(*)::BIGINT AS n FROM qv GROUP BY 1),
sv AS MATERIALIZED (
  SELECT label, i, sum(q)::BIGINT AS s FROM comp GROUP BY 1, 2),
gram AS MATERIALIZED (
  SELECT a.label, a.i AS i, b.i AS j, sum(a.q * b.q)::BIGINT AS g
  FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY 1, 2, 3
),
gfull AS MATERIALIZED (
  SELECT label, i, j, g FROM gram
  UNION ALL SELECT label, j AS i, i AS j, g FROM gram WHERE i <> j
),
m0 AS MATERIALIZED (
  SELECT g.label, g.i, g.j, nn.n * g.g - sa.s * sb.s AS m
  FROM gfull g
  JOIN nn ON nn.label = g.label
  JOIN sv sa ON sa.label = g.label AND sa.i = g.i
  JOIN sv sb ON sb.label = g.label AND sb.i = g.j
),
dd AS MATERIALIZED (
  SELECT label, greatest(1, max(abs(m)) // {MCAP}) AS d
  FROM m0 GROUP BY 1),
ms AS MATERIALIZED (
  SELECT m0.label, m0.i, m0.j, m0.m // dd.d AS m
  FROM m0 JOIN dd ON dd.label = m0.label),
v0 AS MATERIALIZED (
  SELECT label, CAST(t.i AS INT) AS i, CAST({VSCALE} AS BIGINT) AS v
  FROM nn CROSS JOIN range(0, 64) t(i)),
{body}
SELECT c.vec_id, c.label,
  sum((nn.n * c.q - sv.s) * vf.v)::BIGINT AS pc1_score
FROM comp c
JOIN nn ON nn.label = c.label
JOIN sv ON sv.label = c.label AND sv.i = c.i
JOIN {prev} vf ON vf.label = c.label AND vf.i = c.i
GROUP BY 1, 2"""


def q_events_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outliers by |v − median| > 3·MAD
    (temporal.mad_anomaly): the 50%-breakdown companion of the
    trailing-mean anomaly flags — discrete type-1 medians under the
    deterministic (value, id) order, all-integer micro arithmetic."""
    from mvrepair.operators.temporal import mad_anomaly

    return mad_anomaly(load_table(spark, sf_dir, "events"))


_ORACLE_EVENTS_MAD = """
WITH base AS (
  SELECT event_type, event_id,
    CAST(floor(CAST(value AS DOUBLE) * 1000000) AS BIGINT) AS v_micro
  FROM events
  WHERE value IS NOT NULL
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY event_type ORDER BY v_micro, event_id) AS rn,
    count(*) OVER (PARTITION BY event_type) AS n
  FROM base
),
med AS (
  SELECT event_type, v_micro AS med_micro FROM ranked
  WHERE rn = (n + 1) // 2
),
devs AS (
  SELECT b.event_type, b.event_id, b.v_micro, m.med_micro,
    abs(b.v_micro - m.med_micro) AS dev_micro
  FROM base b JOIN med m USING (event_type)
),
dranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY event_type ORDER BY dev_micro, event_id) AS rn,
    count(*) OVER (PARTITION BY event_type) AS n
  FROM devs
),
mad AS (
  SELECT event_type, dev_micro AS mad_micro FROM dranked
  WHERE rn = (n + 1) // 2
)
SELECT d.event_type, d.event_id, d.v_micro, d.med_micro, d.dev_micro,
  md.mad_micro
FROM devs d JOIN mad md USING (event_type)
WHERE d.dev_micro > 3 * md.mad_micro
ORDER BY d.event_type, d.v_micro, d.event_id"""


def q_user_overlap_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap by HLL inclusion-exclusion, audited against the
    exact join — the MEASURED CONTRAST to user_overlap_kmv's theta
    intersection: HLL registers only support UNION (register-wise max),
    so intersection falls out of est_a + est_b - est_union, whose error
    is relative to the UNION size — tiny overlaps of large audiences
    can even go negative, exactly the weakness theta sketches exist to
    fix, demonstrated here with data on the same pairs the KMV query
    estimates.  All register algebra is the oracle-replayable md5 HLL
    (events_hll); the per-pair union folds run over checkpointed
    sketch-sized frames."""
    from mvrepair.operators import sketch as SK

    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .filter(F.col("user_id").isNotNull())
    )
    regs = SK.hll_registers(ev, "user_id", ["event_type"])
    # sketch-sized (types x 128) but corpus-sized lineage, consumed by
    # the per-type fold and BOTH pair-union sides (the kmv_overlap
    # checkpoint doctrine)
    regs = regs.localCheckpoint(eager=True)
    folds = SK.hll_fold(regs, ["event_type"]).select(
        "event_type", "est_distinct"
    )
    glist = F.array_sort(
        F.collect_list(F.struct("event_type", "est_distinct"))
    )
    pairs = (
        folds.agg(glist.alias("gs"))
        .select(F.explode("gs").alias("ga"), F.col("gs"))
        .select(
            F.col("ga"),
            F.explode(
                F.filter(
                    "gs", lambda x: x["event_type"] > F.col("ga.event_type")
                )
            ).alias("gb"),
        )
        .select(
            F.col("ga.event_type").alias("group_a"),
            F.col("gb.event_type").alias("group_b"),
            F.col("ga.est_distinct").alias("est_a"),
            F.col("gb.est_distinct").alias("est_b"),
        )
    )
    keys = F.broadcast(pairs.select("group_a", "group_b"))
    ra = regs.join(
        keys, F.col("event_type") == F.col("group_a")
    ).select("group_a", "group_b", "register", "rho")
    rb = regs.join(
        keys, F.col("event_type") == F.col("group_b")
    ).select("group_a", "group_b", "register", "rho")
    u = (
        ra.unionByName(rb)
        .groupBy("group_a", "group_b", "register")
        .agg(F.max("rho").alias("rho"))
    )
    ufold = SK.hll_fold(u, ["group_a", "group_b"]).select(
        "group_a", "group_b", F.col("est_distinct").alias("est_union")
    )
    du = ev.distinct()
    a, b = du.alias("a"), du.alias("b")
    exact = (
        a.join(
            b,
            on=[
                F.col("a.user_id") == F.col("b.user_id"),
                F.col("a.event_type") < F.col("b.event_type"),
            ],
        )
        .groupBy(
            F.col("a.event_type").alias("group_a"),
            F.col("b.event_type").alias("group_b"),
        )
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    return (
        pairs.join(ufold, on=["group_a", "group_b"])
        .join(exact, on=["group_a", "group_b"], how="left")
        .select(
            "group_a",
            "group_b",
            "est_a",
            "est_b",
            "est_union",
            (
                (F.col("est_a") + F.col("est_b")) - F.col("est_union")
            ).alias("est_intersection_ie"),
            F.coalesce(F.col("exact_intersection"), F.lit(0))
            .cast("bigint")
            .alias("exact_intersection"),
        )
        .orderBy("group_a", "group_b")
    )


def _oracle_user_overlap_hll() -> str:
    from mvrepair.operators.sketch import HLL_M, HLL_P, HLL_RAW_NUM, _HLL_RMAX

    sb = 60 - HLL_P
    mask = (1 << sb) - 1
    est = (
        f"{HLL_RAW_NUM!r} / CAST(s_present + ({HLL_M} - regs_set)"
        f" * {1 << _HLL_RMAX} AS DOUBLE)"
    )
    return f"""
WITH du AS (
  SELECT DISTINCT event_type AS g, user_id AS u FROM events
  WHERE user_id IS NOT NULL
),
h AS (
  SELECT g, CAST('0x' || substr(md5(u::VARCHAR), 1, 15) AS BIGINT) AS hh
  FROM (SELECT g, u FROM (SELECT event_type AS g, user_id AS u FROM events
        WHERE user_id IS NOT NULL))
),
r AS (
  SELECT g, hh >> {sb} AS register,
         CASE WHEN (hh & {mask}) = 0 THEN {sb + 1}
              ELSE {sb} - (length(bin(hh & {mask})) - 1) END AS rho
  FROM h),
regs AS MATERIALIZED (
  SELECT g, register, max(rho) AS rho FROM r GROUP BY 1, 2),
fold AS (
  SELECT g, {est} AS est FROM (
    SELECT g, count(*)::BIGINT AS regs_set,
           sum(1::BIGINT << ({_HLL_RMAX} - rho))::BIGINT AS s_present
    FROM regs GROUP BY 1)
),
pairs AS (
  SELECT a.g AS ga, b.g AS gb, a.est AS est_a, b.est AS est_b
  FROM fold a JOIN fold b ON a.g < b.g
),
u AS (
  SELECT p.ga, p.gb, r.register, max(r.rho) AS rho
  FROM pairs p JOIN regs r ON r.g = p.ga OR r.g = p.gb
  GROUP BY 1, 2, 3
),
ufold AS (
  SELECT ga, gb, {est} AS est_union FROM (
    SELECT ga, gb, count(*)::BIGINT AS regs_set,
           sum(1::BIGINT << ({_HLL_RMAX} - rho))::BIGINT AS s_present
    FROM u GROUP BY 1, 2)
),
ex AS (
  SELECT a.g AS ga, b.g AS gb, count(*)::BIGINT AS exact_intersection
  FROM du a JOIN du b ON a.u = b.u AND a.g < b.g GROUP BY 1, 2
)
SELECT p.ga AS group_a, p.gb AS group_b, p.est_a, p.est_b, uf.est_union,
  (p.est_a + p.est_b) - uf.est_union AS est_intersection_ie,
  coalesce(e.exact_intersection, 0)::BIGINT AS exact_intersection
FROM pairs p
JOIN ufold uf ON uf.ga = p.ga AND uf.gb = p.gb
LEFT JOIN ex e ON e.ga = p.ga AND e.gb = p.gb
ORDER BY group_a, group_b"""


_MI_PAIRS = [
    ("o_custkey", "o_orderpriority"),
    ("o_orderdate", "o_orderstatus"),
    ("o_orderstatus", "o_orderpriority"),
]


def q_orders_mi_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy / mutual-information profile (dq.mi_report): the
    continuous complement of the g3 FD profile — candidate pairs score
    anywhere from independence (MI=0) to functional determination
    (MI=H(Y)), in exact q20 log2 units via the micro_log2 quantizer
    (the collocations/doc_perplexity ladder, applied to column
    profiling)."""
    from mvrepair.operators.dq import mi_report

    return mi_report(load_table(spark, sf_dir, "orders"), _MI_PAIRS)


def _oracle_orders_mi_profile() -> str:
    from mvrepair.functions.exactlog import micro_log2_sql

    blocks = []
    for x, y in _MI_PAIRS:
        joint_q = (
            f"SELECT {x} AS xx, {y} AS yy, count(*)::BIGINT AS cxy"
            f" FROM orders GROUP BY 1, 2"
        )
        ctes = f"""WITH joint AS ({joint_q}),
cx AS (SELECT xx, sum(cxy)::BIGINT AS cx FROM joint GROUP BY 1),
cy AS (SELECT yy, sum(cxy)::BIGINT AS cy FROM joint GROUP BY 1),
nn AS (SELECT sum(cxy)::BIGINT AS n FROM joint)"""
        pmi_inner = f"""{ctes}
SELECT j.cxy,
  (CAST(j.cxy AS DOUBLE) / CAST(cx.cx AS DOUBLE))
  * (CAST(nn.n AS DOUBLE) / CAST(cy.cy AS DOUBLE)) AS r
FROM joint j JOIN cx USING (xx) JOIN cy USING (yy) CROSS JOIN nn"""
        mi_block = (
            "SELECT sum(cxy * pmi)::BIGINT FROM ("
            + micro_log2_sql(pmi_inner, "r", ["cxy"], "pmi")
            + ")"
        )
        hx_inner = f"""{ctes}
SELECT cx.cx AS cc, CAST(nn.n AS DOUBLE) / CAST(cx.cx AS DOUBLE) AS r
FROM cx CROSS JOIN nn"""
        hy_inner = f"""{ctes}
SELECT cy.cy AS cc, CAST(nn.n AS DOUBLE) / CAST(cy.cy AS DOUBLE) AS r
FROM cy CROSS JOIN nn"""
        hx_block = (
            "SELECT sum(cc * l)::BIGINT FROM ("
            + micro_log2_sql(hx_inner, "r", ["cc"], "l")
            + ")"
        )
        hy_block = (
            "SELECT sum(cc * l)::BIGINT FROM ("
            + micro_log2_sql(hy_inner, "r", ["cc"], "l")
            + ")"
        )
        blocks.append(f"""
SELECT '{x}|{y}' AS pair,
  (SELECT sum(cxy)::BIGINT FROM ({joint_q})) AS n,
  (SELECT count(*)::BIGINT FROM ({joint_q})) AS n_joint,
  ({hx_block}) AS h_x_q20w,
  ({hy_block}) AS h_y_q20w,
  ({mi_block}) AS mi_q20w""")
    return "\nUNION ALL\n".join(blocks)


def q_pca_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of embedding_pca: CONTINUOUSLY-MAINTAINED
    covariance — the sufficient statistics as a stateful streaming
    aggregation (decomp.pca_suffstats_cells: row-local cell explode
    under one JVM-state sum; ~2,145 state rows at any stream volume —
    the mv_agg_refresh doctrine for the Gram matrix, serving model-
    drift monitoring / incremental PCA).  The drained statistics are
    bit-identical to the batch Arrow fold, so the same driver eigen-
    iteration + projection follow and embedding_pca's oracle applies
    verbatim."""
    from mvrepair.operators import decomp as DC
    from mvrepair.sources.parquet import load_stream

    sdf = DC.pca_suffstats_cells(
        load_stream(spark, sf_dir, "embeddings").select("embedding"),
        "embedding",
        64,
    )
    with conf_scope(spark, _STATE_BOUNDED):
        query = (
            sdf.writeStream.format("memory")
            .queryName("__pca_stream")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    stats = spark.table("__pca_stream").collect()
    v, n, s = DC.principal_axis(stats, 64)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    return DC.pca_scores(emb, "vec_id", "embedding", v, n, s)


def q_orders_fd_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-FD profiling (dq.fd_report): the g3 error of five
    candidate dependencies across orders and lineitem — true keys
    measure 0, denormalization-drift candidates measure the exact
    minimum row deletions to make them hold.  Two map-combinable
    aggregates per candidate, one output row each, no joins."""
    from mvrepair.operators.dq import fd_report

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return fd_report(orders, _FD_ORDERS).unionByName(
        fd_report(li, _FD_LINEITEM)
    )


def _oracle_orders_fd_profile() -> str:
    parts = []
    for table, fds in (("orders", _FD_ORDERS), ("lineitem", _FD_LINEITEM)):
        for lhs, rhs in fds:
            name = f"{','.join(lhs)}->{','.join(rhs)}"
            lhs_sql = ", ".join(lhs)
            both_sql = ", ".join(lhs + rhs)
            parts.append(f"""
SELECT '{name}' AS fd, count(*)::BIGINT AS n_groups,
  sum(CASE WHEN plural < total THEN 1 ELSE 0 END)::BIGINT
    AS violating_groups,
  sum(total - plural)::BIGINT AS violations,
  sum(total - plural) = 0 AS passed
FROM (
  SELECT {lhs_sql}, sum(n) AS total, max(n) AS plural
  FROM (SELECT {both_sql}, count(*) AS n FROM {table}
        GROUP BY {both_sql})
  GROUP BY {lhs_sql}
)""")
    return "\nUNION ALL\n".join(parts)


def _oracle_user_overlap_kmv() -> str:
    k = KMV_OVERLAP_K
    return f"""
WITH du AS (
  SELECT DISTINCT event_type AS g, user_id AS u FROM events
  WHERE user_id IS NOT NULL
),
hs AS (
  SELECT DISTINCT g,
    CAST('0x' || substr(md5(u::VARCHAR), 1, 15) AS BIGINT) AS h
  FROM du
),
rn AS (
  SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM hs
),
bottom AS (SELECT g, h FROM rn WHERE rn <= {k}),
st AS (
  SELECT g, n_seen,
    CASE WHEN n_seen < {k} THEN {_KMV_SPACE_SQL} ELSE kth END AS theta,
    CASE WHEN n_seen < {k} THEN n_seen::DOUBLE
         ELSE ({k - 1}.0 * {_KMV_SPACE_SQL}.0) / kth::DOUBLE
    END AS est
  FROM (SELECT g, count(*) AS n_seen, max(h) AS kth FROM bottom GROUP BY 1)
),
sample AS (
  SELECT b.g, b.h, st.theta FROM bottom b JOIN st USING (g)
  WHERE b.h < st.theta
),
inter AS (
  SELECT a.g AS ga, b.g AS gb,
    sum(CASE WHEN a.h < least(a.theta, b.theta) THEN 1 ELSE 0 END) AS so
  FROM sample a JOIN sample b ON a.h = b.h AND a.g < b.g GROUP BY 1, 2
),
pairs AS (
  SELECT a.g AS ga, b.g AS gb, a.est AS est_a, b.est AS est_b,
    least(a.theta, b.theta) AS theta
  FROM st a JOIN st b ON a.g < b.g
),
ex AS (
  SELECT a.g AS ga, b.g AS gb, count(*)::BIGINT AS exact_intersection
  FROM du a JOIN du b ON a.u = b.u AND a.g < b.g GROUP BY 1, 2
)
SELECT p.ga AS group_a, p.gb AS group_b, p.est_a, p.est_b,
  (coalesce(i.so, 0)::DOUBLE * {_KMV_SPACE_SQL}.0) / p.theta::DOUBLE
    AS est_intersection,
  coalesce(i.so, 0)::BIGINT AS sample_overlap,
  coalesce(e.exact_intersection, 0)::BIGINT AS exact_intersection
FROM pairs p
LEFT JOIN inter i ON i.ga = p.ga AND i.gb = p.gb
LEFT JOIN ex e ON e.ga = p.ga AND e.gb = p.gb
ORDER BY group_a, group_b"""


def _oracle_cms_audit() -> str:
    h = (
        "CAST('0x' || substr(md5(token || '#c' || r), 1, 15) AS BIGINT)"
        f" % {CMS_W}"
    )
    return f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
cells AS (
  SELECT r, {h} AS col, count(*)::BIGINT AS c
  FROM toks CROSS JOIN range(0, {CMS_D}) AS rr(r) GROUP BY 1, 2
),
exact AS (
  SELECT token, count(*)::BIGINT AS exact_n FROM toks
  GROUP BY 1 ORDER BY exact_n DESC, token ASC LIMIT 40
),
probes AS (
  SELECT token, exact_n, r, {h} AS col
  FROM exact CROSS JOIN range(0, {CMS_D}) AS rr(r)
),
est AS (
  SELECT p.token, p.exact_n,
         min(coalesce(c.c, 0))::BIGINT AS cms_est
  FROM probes p LEFT JOIN cells c ON c.r = p.r AND c.col = p.col
  GROUP BY 1, 2
)
SELECT token, exact_n, cms_est, (cms_est - exact_n)::BIGINT AS overcount
FROM est ORDER BY exact_n DESC, token ASC"""


def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 characteristic terms, linear-idf tf-idf (all-integer
    scoring — see operators/text.py for the cross-engine rationale)."""
    return X.tfidf_topterms(_docs(spark, sf_dir), top_n=3)


_ORACLE_TFIDF = """
WITH tf AS (
  SELECT doc_id, token AS term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY 1, 2
),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
    ((tf.tf * n.n_docs * 1000000) // dfreq.df)::BIGINT AS score_micro
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *,
    row_number() OVER (
      PARTITION BY doc_id ORDER BY score_micro DESC, term ASC
    )::INTEGER AS rank
  FROM scored
)
SELECT doc_id, term, tf, score_micro, rank FROM ranked WHERE rank <= 3"""


def q_token_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language token-length quantiles (discrete type-1,
    integer positions — no cross-engine float hazard)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    return X.token_quantiles(_spread(docs))


_ORACLE_TOKEN_QUANTILES = """
WITH base AS (
  SELECT lang, doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
  FROM documents
),
ranked AS (
  SELECT lang, n_tokens,
    row_number() OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) AS rn,
    count(*) OVER (PARTITION BY lang) AS n
  FROM base
)
SELECT lang, q.pct, n_tokens
FROM ranked,
  (VALUES ('p25', 1, 4), ('p50', 1, 2), ('p75', 3, 4), ('p90', 9, 10))
  AS q(pct, num, den)
WHERE rn = (n * q.num + (q.den - 1)) // q.den"""


def q_orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation over (status, priority) — the grouping-sets twin
    of ``orders_rollup`` (SURVEY §2 'grouping sets / cube / rollup')."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(_DEC18))
            .cast("decimal(28,4)")
            .cast("double")
            .alias("sum_price"),
        )
        .select(
            "o_orderstatus", "o_orderpriority", "gid", "n_orders", "sum_price"
        )
    )


_ORACLE_ORDERS_CUBE = """
SELECT o_orderstatus, o_orderpriority,
       GROUPING(o_orderstatus, o_orderpriority)::INTEGER AS gid,
       count(*) AS n_orders,
       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,4)) AS DOUBLE) AS sum_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)"""


def q_purchase_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-interval range join: per purchase, how many click/view
    touches the same user made in the hour before it (zero-filled).

    Runs through ``operators.temporal.range_join`` — the bin-bucketed
    equi-join, not a theta join (see its docstring for the 100 TB
    rationale).  The [ts-1h, ts) window's exclusive end maps onto the
    operator's inclusive bounds as ``w_end = ts - 1µs`` (event timestamps
    are µs-resolution)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    windows = purchases.select(
        F.col("event_id").alias("p_id"),
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("w_start"),
        (F.col("ts") - F.expr("INTERVAL 1 MICROSECOND")).alias("w_end"),
    )
    touches = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("t_id"),
        "user_id",
        "ts",
        F.col("event_type").alias("t_type"),
    )
    pairs = T.range_join(touches, windows, ["user_id"], "ts", "w_start", "w_end")
    agg = pairs.groupBy(F.col("p_id").alias("event_id")).agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.sum((F.col("t_type") == "click").cast("long")).alias("n_clicks"),
        F.sum((F.col("t_type") == "view").cast("long")).alias("n_views"),
    )
    return (
        purchases.select(
            "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
        )
        .join(agg, "event_id", "left")
        .select(
            "event_id",
            "user_id",
            "ts_us",
            F.coalesce("n_touches", F.lit(0).cast("long")).alias("n_touches"),
            F.coalesce("n_clicks", F.lit(0).cast("long")).alias("n_clicks"),
            F.coalesce("n_views", F.lit(0).cast("long")).alias("n_views"),
        )
    )


_ORACLE_PURCHASE_CONTEXT = """
SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
  count(t.event_id)::BIGINT AS n_touches,
  sum(CASE WHEN t.event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS n_clicks,
  sum(CASE WHEN t.event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS n_views
FROM events p LEFT JOIN events t
  ON t.user_id = p.user_id AND t.event_type IN ('click', 'view')
  AND t.ts >= p.ts - INTERVAL 1 HOUR AND t.ts < p.ts
WHERE p.event_type = 'purchase'
GROUP BY 1, 2, 3"""


def q_events_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-newest-per-key compaction (CDC/log dedup): the latest event
    per (user, event_type), ties to the highest event_id.

    Scale shape: one shuffle on the key, then a per-partition sort +
    row_number — the standard log-compaction plan.  At 100 TB the same
    result shape comes cheaper via ``max_by`` struct aggregation (single
    agg, no full sort); the window form is kept because it generalizes to
    top-N-per-key unchanged."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "event_type",
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "value",
        )
    )


_ORACLE_EVENTS_LATEST = """
SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, value
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC
  ) AS rn
  FROM events
) WHERE rn = 1"""


def q_events_latest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_latest``: keep-newest-per-key as a
    native ``max_by`` streaming aggregation (JVM state store; no window —
    the agg shape is the streaming formulation of top-1-per-key)."""
    from mvrepair.sources.parquet import load_stream
    from mvrepair.streaming.incremental import streaming_latest_per_key

    ev = load_stream(spark, sf_dir, "events")
    with conf_scope(spark, _STATE_KEYED):
        query = (
            streaming_latest_per_key(ev)
            .writeStream.format("memory")
            .queryName("__events_latest_stream")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table("__events_latest_stream").select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "value",
    )


def q_sessions_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``event_sessions``: the SAME native
    ``session_window`` aggregation code running under Structured
    Streaming.  Session state lives in the JVM state store as one row per
    (key, open session), merging windows as events arrive; complete mode
    on a drained ``availableNow`` stream emits the final merged sessions,
    equal to the batch result (append mode would withhold sessions the
    watermark never passes on a finite directory)."""
    from mvrepair.operators.temporal import sessionize
    from mvrepair.sources.parquet import load_stream

    ev = load_stream(spark, sf_dir, "events").withWatermark("ts", "0 seconds")
    with conf_scope(spark, _STATE_KEYED):
        query = (
            sessionize(ev, "user_id", "ts", gap="30 minutes", value_col="value")
            .writeStream.format("memory")
            .queryName("__sessions_stream")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table("__sessions_stream")


def q_next_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: each purchase paired with the next-or-equal
    click/view by the same user — the same union+window single-shuffle
    plan as ``purchase_attribution``, on reversed time."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    touches = ev.filter(F.col("event_type").isin("click", "view")).select(
        "event_id", "user_id", "ts", "event_type"
    )
    out = T.asof_join(
        purchases,
        touches,
        key_cols=["user_id"],
        ts_col="ts",
        payload_cols=["event_id", "event_type", "ts"],
        tiebreak_col="event_id",
        direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.col("asof_event_id"),
        F.col("asof_event_type"),
        (F.unix_micros("asof_ts") - F.unix_micros("ts")).alias("gap_us"),
    )


# the purchase_attribution oracle on reversed time (ORDER BY ts DESC)
_ORACLE_NEXT_TOUCH = """
WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
r AS (SELECT event_id, user_id, ts, event_type FROM events
      WHERE event_type IN ('click', 'view')),
u AS (
  SELECT event_id, user_id, ts, 1 AS side,
         NULL::BIGINT AS r_id, NULL::VARCHAR AS r_type, NULL::TIMESTAMP AS r_ts
  FROM l
  UNION ALL
  SELECT event_id, user_id, ts, 0, event_id, event_type, ts FROM r
),
m AS (
  SELECT *,
    last_value(r_id IGNORE NULLS) OVER w AS a_id,
    last_value(r_type IGNORE NULLS) OVER w AS a_type,
    last_value(r_ts IGNORE NULLS) OVER w AS a_ts
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY ts DESC, side, r_id NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
  a_id AS asof_event_id, a_type AS asof_event_type,
  epoch_us(a_ts) - epoch_us(ts) AS gap_us
FROM m WHERE side = 1"""


def q_events_by_type_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation through ``skew.salted_agg`` —
    hash-checked against the plain GROUP BY, proving the salted path is
    semantics-preserving (the hot-key case AQE's skew-join split can't
    cover: a skewed AGGREGATION key)."""
    from mvrepair.operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    out = salted_agg(
        ev,
        ["event_type"],
        {
            "n_events": (F.count(F.lit(1)), F.sum("n_events")),
            "sum_value": (
                F.sum(F.col("value").cast("decimal(18,6)")),
                F.sum("sum_value"),
            ),
            "max_value": (F.max("value"), F.max("max_value")),
        },
    )
    return out.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_value").cast("double").alias("sum_value"),
        "max_value",
    )


_ORACLE_EVENTS_SALTED = """
SELECT event_type, count(*)::BIGINT AS n_events,
  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
  max(value) AS max_value
FROM events GROUP BY 1"""


def q_distinct_docs_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k distinct-count sketch over document texts — a
    DETERMINISTIC cardinality sketch (md5-hash bottom-k), unlike HLL whose
    registers no oracle can replay.  O(k) state, TakeOrderedAndProject."""
    from mvrepair.operators.sketch import kmv_distinct

    return kmv_distinct(_docs(spark, sf_dir), "text", k=64)


_ORACLE_KMV = """
WITH h AS (
  SELECT DISTINCT
    CAST('0x' || substr(md5(CAST(text AS VARCHAR)), 1, 15) AS BIGINT) AS h
  FROM documents WHERE text IS NOT NULL
),
bottom AS (SELECT h FROM h ORDER BY h LIMIT 64)
SELECT 64::INTEGER AS k, count(*)::BIGINT AS n_seen,
  max(h)::BIGINT AS kth_min,
  CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
       ELSE 63.0 * 1152921504606846976.0 / CAST(max(h) AS DOUBLE)
  END AS est_distinct
FROM bottom"""


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fake decode (payload → grid dims + pixel sum): the
    documented fake-codec path, hash-checked end-to-end (integer grid
    math; the oracle rebuilds byte sums from the hex trick and the
    ceil-sqrt width from floor(sqrt)+fixup — exact at payload sizes)."""
    from mvrepair.operators.multimodal import attach_binary, decode_fake

    docs = _spread(load_table(spark, sf_dir, "documents"))
    return decode_fake(attach_binary(docs, text_col="text"))


_ORACLE_MULTIMODAL_DECODE = """
WITH p AS (
  SELECT doc_id, octet_length(encode(text))::BIGINT AS n,
         hex(encode(text)) AS hx
  FROM documents
),
s AS (
  SELECT doc_id, n,
    CASE WHEN n = 0 THEN 0 ELSE list_sum(list_transform(
      range(1, CAST(n AS INTEGER) + 1), i ->
        16 * (strpos('0123456789ABCDEF', substr(hx, 2*i - 1, 1)) - 1)
           + (strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 1)
    )) END::BIGINT AS sum_pixels,
    CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS w0
  FROM p
),
d AS (
  SELECT doc_id, n, sum_pixels,
    w0 + CASE WHEN w0 * w0 < n THEN 1 ELSE 0 END AS w
  FROM s
)
SELECT doc_id,
  CASE WHEN n = 0 THEN 0 ELSE (n + w - 1) // w END::INTEGER AS height,
  CASE WHEN n = 0 THEN 0 ELSE w END::INTEGER AS width,
  1::INTEGER AS channels,
  sum_pixels
FROM d"""


# 2024-01-01 03:00:00 UTC in µs — the first daily maintenance window.
_MAINT_BASE_US = 1_704_078_000_000_000
_MAINT_DAYS = 30
_MAINT_LEN_US = 3_600_000_000
_DAY_US = 86_400_000_000


def q_sessions_in_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join: user sessions intersecting the
    daily 03:00–04:00 UTC maintenance window, with overlap length.

    Runs through ``temporal.interval_overlap_join`` — time-bin equi-join
    with the meet rule, never a nested-loop theta join (the oracle uses
    the plain theta join, proving the binned plan is semantics-exact)."""
    ev = load_table(spark, sf_dir, "events")
    sessions = T.sessionize(ev, "user_id", "ts", gap="30 minutes").select(
        "user_id", "session_start_us", "session_end_us"
    )
    windows = spark.range(_MAINT_DAYS).select(
        F.col("id").cast("int").alias("day"),
        (F.lit(_MAINT_BASE_US) + F.col("id") * _DAY_US).alias("w_start_us"),
        (
            F.lit(_MAINT_BASE_US) + F.col("id") * _DAY_US + _MAINT_LEN_US
        ).alias("w_end_us"),
    )
    out = T.interval_overlap_join(
        sessions,
        windows,
        key_cols=[],
        l_start="session_start_us",
        l_end="session_end_us",
        r_start="w_start_us",
        r_end="w_end_us",
    )
    return out.select("user_id", "session_start_us", "day", "overlap_us")


_ORACLE_SESSIONS_MAINT = f"""
WITH g AS (
  SELECT user_id, ts,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
              <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_s
  FROM events),
s AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM g),
sess AS (
  SELECT user_id,
    epoch_us(min(ts)) AS session_start_us,
    epoch_us(max(ts) + INTERVAL 30 MINUTE) AS session_end_us
  FROM s GROUP BY user_id, sess),
win AS (
  SELECT d::INTEGER AS day,
    {_MAINT_BASE_US} + d * {_DAY_US} AS w_start_us,
    {_MAINT_BASE_US} + d * {_DAY_US} + {_MAINT_LEN_US} AS w_end_us
  FROM range(0, {_MAINT_DAYS}) AS t(d))
SELECT user_id, session_start_us, day,
  (least(session_end_us, w_end_us)
   - greatest(session_start_us, w_start_us))::BIGINT AS overlap_us
FROM sess JOIN win
  ON session_start_us < w_end_us AND w_start_us < session_end_us"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → dedup CLUSTERS via iterative min-label connected
    components — the step that turns pairwise similarity into the
    keep/drop decision.  The fixpoint (min reachable id per node) is
    schedule-independent, so the distributed propagation loop is
    hash-checked against DuckDB's recursive transitive closure (which is
    Σ component² work — viable only as a fixture-scale oracle; the
    propagation form is the 100 TB path)."""
    corpus = _neardup_corpus(spark, sf_dir)
    pairs = D.ngram_jaccard_pairs(corpus, threshold=0.5)
    try:
        return D.connected_components(pairs, corpus)
    finally:
        pairs.unpersist()


def _oracle_dedup_clusters() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_oracle_neardup_minhash()}),
nodes AS (SELECT doc_id FROM ({_NEARDUP_CORPUS_SQL})),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT doc_id AS id, doc_id AS r FROM nodes
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst
)
SELECT id AS doc_id, min(r)::BIGINT AS cluster_id FROM reach GROUP BY id"""


def q_neardup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup: a stream of variant docs (first token dropped,
    doc_id + 1e6) checked against the static original-corpus LSH index,
    via the ``foreachBatch`` production path (the microbatch runs the
    codegen BATCH signature pipeline; the fully-declarative single-plan
    operator remains in streaming/incremental.py, pinned by tests).  On
    the drained stream the pairs equal the batch ``neardup_minhash``
    result restricted to (original, variant) cross-side pairs — which is
    exactly what the oracle selects."""
    from mvrepair.sources.parquet import load_stream
    from mvrepair.streaming.incremental import (
        build_neardup_index,
        neardup_microbatch,
    )

    variants = load_stream(spark, sf_dir, "documents").select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.expr("substr(text, instr(text, ' ') + 1)").alias("text"),
    )
    static_bands, static_toks = build_neardup_index(_docs(spark, sf_dir))
    static_bands = static_bands.persist()
    static_toks = static_toks.persist()
    collected: list = []

    def process(batch_df: DataFrame, batch_id: int) -> None:
        out = neardup_microbatch(
            _spread(batch_df), static_bands, static_toks, threshold=0.5
        )
        collected.extend(out.collect())

    try:
        query = (
            variants.writeStream.foreachBatch(process)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    finally:
        static_bands.unpersist()
        static_toks.unpersist()
    return spark.createDataFrame(
        collected, "doc_id long, match_id long, jaccard double"
    )


def _oracle_neardup_stream() -> str:
    return f"""
WITH pairs AS ({_oracle_neardup_minhash()})
SELECT id_b AS doc_id, id_a AS match_id, jaccard
FROM pairs WHERE id_a < 1000000 AND id_b >= 1000000"""


def q_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram containment decontamination: val/test docs whose shingle
    set is ≥80% contained in some train doc (shingle inverted-index
    join + exact all-integer score — see ``dedup.containment_pairs`` for
    why LSH banding is the WRONG candidate generator here).  The corpus
    is originals ∪ exact copies (+1e6) ∪ near-variants (+2e6, first
    token dropped), split by id hash — so real contamination exists
    across the split boundary at both containment 1.0 (copies) and
    ~0.97 (variants)."""
    from mvrepair.operators.sampling import hash_split

    d = _docs(spark, sf_dir)
    corpus = d.unionByName(
        d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    ).unionByName(
        d.select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.expr("substr(text, instr(text, ' ') + 1)").alias("text"),
        )
    )
    # Single-corpus API: shingles the tripled corpus ONCE (persisted) and
    # derives probe/source from the shared frame — the two-frame
    # containment_pairs call this replaced shingled each side separately,
    # paying the dominant interpreted array pass twice.
    return D.contamination_check(hash_split(corpus), threshold_micro=800_000)


def _oracle_contamination_ngram() -> str:
    def side(name: str, where: str) -> str:
        return f"""
{name}_tokens AS (
  SELECT doc_id, list_distinct({_SHINGLE_SQL}) AS tk
  FROM (SELECT d.doc_id, string_split(d.text, ' ') AS ts
        FROM __corpus d JOIN __split s USING (doc_id)
        WHERE s.split {where}))"""

    return f"""
WITH __corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, text FROM documents
  UNION ALL SELECT doc_id + 2000000, substr(text, instr(text, ' ') + 1)
    FROM documents),
__split AS (
  SELECT doc_id,
    CASE WHEN b < 98 THEN 'train' WHEN b < 99 THEN 'val' ELSE 'test' END AS split
  FROM (SELECT doc_id,
          CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
        FROM __corpus)),
{side("probe", "!= 'train'")},
{side("source", "= 'train'")},
pt AS (SELECT doc_id AS probe_id, len(tk) AS psize, unnest(tk) AS sh
       FROM probe_tokens WHERE len(tk) > 0),
st AS (SELECT doc_id AS source_id, unnest(tk) AS sh FROM source_tokens),
m AS (SELECT probe_id, source_id, psize, count(*) AS inter
      FROM pt JOIN st USING (sh) GROUP BY 1, 2, 3)
SELECT probe_id, source_id,
  CAST((inter * 1000000) // psize AS BIGINT) AS containment_micro
FROM m WHERE (inter * 1000000) // psize >= 800000"""


# ---------------------------------------------------------------------------
# data-quality family: repetition + exact-substring duplication
# ---------------------------------------------------------------------------

def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters (Rae et al. 2021): per-doc
    duplicate-token / top-2-gram / duplicate-3-gram fractions + drop flag.
    One explode over (n, gram) tagged structs, two map-side-combinable
    aggs, every key doc-scoped (no corpus-global skew)."""
    return X.repetition_stats(_docs(spark, sf_dir))


def _gram_sql(n: int, toks: str = "ts") -> str:
    """DuckDB n-gram list over a token-list column (1-based, inclusive
    slice semantics)."""
    if n == 1:
        return toks
    parts = " || ' ' || ".join(f"{toks}[i+{j}]" if j else f"{toks}[i]" for j in range(n))
    return f"[{parts} for i in range(1, len({toks}) - {n - 2})]"


def _oracle_doc_repetition() -> str:
    # Grams are md5-prefix 60-bit fingerprints on BOTH sides (the Spark
    # side never shuffles gram strings); the metrics only use gram
    # identity, so the hash is semantics-preserving modulo collisions the
    # oracle reproduces bit-for-bit.
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
g0 AS (
  SELECT doc_id, 1 AS n, unnest({_gram_sql(1)}) AS gram FROM t
  UNION ALL SELECT doc_id, 2, unnest({_gram_sql(2)}) FROM t
  UNION ALL SELECT doc_id, 3, unnest({_gram_sql(3)}) FROM t),
g AS (SELECT doc_id, n,
        CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) AS gram
      FROM g0),
c AS (SELECT doc_id, n, gram, count(*) AS cnt FROM g GROUP BY ALL),
m AS (SELECT doc_id, n, max(cnt) AS top_cnt, sum(cnt) AS tot,
        coalesce(sum(cnt) FILTER (cnt > 1), 0) AS dup
      FROM c GROUP BY doc_id, n),
p AS (SELECT doc_id,
        coalesce(max(CASE WHEN n = 1 THEN CAST(dup AS DOUBLE) / tot END), 0.0) AS dup_token_frac,
        coalesce(max(CASE WHEN n = 2 THEN CAST(top_cnt AS DOUBLE) / tot END), 0.0) AS top_2gram_frac,
        coalesce(max(CASE WHEN n = 3 THEN CAST(dup AS DOUBLE) / tot END), 0.0) AS dup_3gram_frac
      FROM m GROUP BY doc_id)
SELECT doc_id, dup_token_frac, top_2gram_frac, dup_3gram_frac,
  (top_2gram_frac > 0.20 OR dup_3gram_frac > 0.30) AS repetitive
FROM p"""


def q_substring_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication profile (Lee et al. 2022): fraction of
    each doc's token 8-gram instances that recur corpus-wide.  Grams
    travel as 60-bit fingerprints; frequency agg and instance join share
    one hash key; per-doc rollup keys on doc_id."""
    return D.substring_dup_stats(_docs(spark, sf_dir))


def _oracle_substring_dupes() -> str:
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
inst AS (
  SELECT doc_id,
    CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) AS h
  FROM (SELECT doc_id, unnest(CASE WHEN len(ts) >= 8
          THEN {_gram_sql(8)} ELSE [] END) AS gram FROM t)),
freq AS (SELECT h, count(*) AS c FROM inst GROUP BY h),
per_doc AS (
  SELECT doc_id, count(*) AS n_grams,
    coalesce(sum(CASE WHEN c > 1 THEN 1 END), 0) AS n_dup_grams
  FROM inst JOIN freq USING (h) GROUP BY doc_id)
SELECT d.doc_id,
  coalesce(n_grams, 0)::BIGINT AS n_grams,
  coalesce(n_dup_grams, 0)::BIGINT AS n_dup_grams,
  CASE WHEN coalesce(n_grams, 0) > 0
    THEN CAST(n_dup_grams AS DOUBLE) / n_grams ELSE 0.0 END AS dup_frac,
  CASE WHEN coalesce(n_grams, 0) > 0
    THEN CAST(n_dup_grams AS DOUBLE) / n_grams ELSE 0.0 END >= 0.3 AS mostly_dup
FROM documents d LEFT JOIN per_doc USING (doc_id)"""


# Scale-aware rarity cut: the synthetic vocabulary is ~31 near-uniform
# tokens (corpus count ~1.8 docs-worth each) plus one genuinely rare
# token (~0.05 docs-worth), and BOTH scale linearly with corpus size —
# so the threshold must too, or at any sf other than the one a constant
# was tuned for the filter degenerates to all-false (exactly the failure
# the sf0.1 gate would then never exercise).  n_docs/5 sits between the
# two bands at every sf (sf0.01: 100; sf0.1: 1000).
RARE_FRAC_MAX = 0.02


def q_rare_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity-proxy rarity filter (Wenzek et al. 2020):
    per-doc fraction of token instances whose corpus-wide count is below
    threshold, in exact integer arithmetic (log-prob sums are not
    engine-portable).  Tokens travel as 60-bit fingerprints; frequency
    agg and instance join share one hash key.  The threshold scales with
    the corpus (n_docs div 5, computed IN-PLAN as a 1-row count
    aggregate broadcast onto the frequency frame — no eager driver-side
    count at construction; the oracle computes the same subquery)."""
    return X.rare_token_profile(
        _docs(spark, sf_dir), rare_max_div=5, rare_frac_max=RARE_FRAC_MAX
    )


def _oracle_rare_tokens() -> str:
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
inst AS (
  SELECT doc_id,
    CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
  FROM (SELECT doc_id, unnest(ts) AS tok FROM t)),
freq AS (SELECT h, count(*) AS c FROM inst GROUP BY h),
per_doc AS (
  SELECT doc_id, count(*) AS n_tokens,
    coalesce(sum(CASE WHEN c <= (SELECT count(*) FROM documents) // 5 THEN 1 END), 0) AS n_rare,
    min(c) AS min_c
  FROM inst JOIN freq USING (h) GROUP BY doc_id),
p AS (
  SELECT d.doc_id,
    coalesce(n_tokens, 0)::BIGINT AS n_tokens,
    coalesce(n_rare, 0)::BIGINT AS n_rare,
    CASE WHEN coalesce(n_tokens, 0) > 0
      THEN CAST(n_rare AS DOUBLE) / n_tokens ELSE 0.0 END AS rare_frac,
    coalesce(min_c, 0)::BIGINT AS min_token_count
  FROM documents d LEFT JOIN per_doc USING (doc_id))
SELECT doc_id, n_tokens, n_rare, rare_frac, min_token_count,
  rare_frac >= {RARE_FRAC_MAX} AS rare_heavy
FROM p"""


def q_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prototypicality pruning signal (Sorscher et al. 2022; D4): cosine
    of each embedding to its OWN label's exact centroid; below-zero =
    pointing away from its class.  Centroid build is one narrow shuffle +
    labels x dim driver artifact; scoring is a map-side projection
    against the broadcast centroid literal — no join, no second
    shuffle."""
    return S.label_outliers(load_table(spark, sf_dir, "embeddings"))


def _oracle_label_outliers() -> str:
    lip = "list_inner_product"
    return f"""
WITH emb AS (SELECT vec_id, label, list_transform(embedding,
    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
  FROM embeddings),
s AS (
  SELECT label, pos, CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS m
  FROM (SELECT label, unnest(qv) AS v, unnest(range(len(qv))) AS pos FROM emb)
  GROUP BY label, pos),
c AS (SELECT label, list(m ORDER BY pos) AS cqv FROM s GROUP BY label),
scored AS (
  SELECT e.vec_id, e.label,
    CASE WHEN sqrt({lip}(e.qv, e.qv)) * sqrt({lip}(c.cqv, c.cqv)) <> 0
      THEN CAST(floor({lip}(e.qv, c.cqv) / (sqrt({lip}(e.qv, e.qv)) *
        sqrt({lip}(c.cqv, c.cqv))) * 1000000) AS BIGINT)
    END AS cosine_micro
  FROM emb e JOIN c USING (label))
SELECT vec_id, label, cosine_micro, cosine_micro < 0 AS is_outlier
FROM scored"""


SPAN_W = 10


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring REMOVAL (Lee et al. 2022's action step — the
    profile is `substring_dupes`): tile each doc into 10-token spans,
    keep exactly one canonical occurrence of every duplicated span
    corpus-wide, rebuild the cleaned text.  Spans travel as 60-bit
    fingerprints; the canonical election is a min(struct) agg whose
    exchange the instance join reuses."""
    return D.span_dedup(_docs(spark, sf_dir), w=SPAN_W)


def _oracle_span_dedup() -> str:
    w = SPAN_W
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
inst AS (
  SELECT doc_id, i AS span_idx,
    CAST(concat('0x', substr(md5(
      array_to_string(ts[i*{w}+1 : i*{w}+{w}], ' ')), 1, 15)) AS BIGINT) AS h
  FROM t, unnest(range(0, len(ts) // {w})) AS u(i)),
ranked AS (
  SELECT doc_id, span_idx,
    row_number() OVER (PARTITION BY h ORDER BY doc_id, span_idx) AS rn
  FROM inst),
per_doc AS (
  SELECT doc_id,
    list(span_idx ORDER BY span_idx) FILTER (WHERE rn = 1) AS kept,
    count(*) AS n_spans
  FROM ranked GROUP BY doc_id)
SELECT t.doc_id,
  coalesce(array_to_string(
    flatten(list_transform(coalesce(kept, []),
                           i -> ts[i*{w}+1 : i*{w}+{w}]))
    || ts[coalesce(n_spans, 0)*{w}+1 : len(ts)], ' '), '') AS clean_text,
  coalesce(n_spans, 0)::BIGINT AS n_spans,
  (coalesce(n_spans, 0) - len(coalesce(kept, [])))::BIGINT AS n_removed
FROM t LEFT JOIN per_doc USING (doc_id)"""


def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key pre-flight: exact size-distribution + concentration
    stats for events.user_id via the size-histogram reduction — the only
    corpus-sized exchange is the per-key count; everything else windows
    over the (distinct sizes)-row frame."""
    from mvrepair.operators.sketch import key_skew_profile

    return key_skew_profile(
        load_table(spark, sf_dir, "events").select("user_id"), "user_id"
    )


def q_lineitem_dq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style declarative quality gate over lineitem: completeness,
    key uniqueness, value-domain rules — every check compiled into ONE
    aggregate pass (operators/dq.py).  The uniqueness check on
    (l_orderkey, l_linenumber) legitimately FAILS on the synthetic
    fixture (duplicate line numbers exist) — a real finding the report
    surfaces with passed = false, not a bug in the check."""
    from mvrepair.operators import dq

    li = load_table(spark, sf_dir, "lineitem")
    checks = [
        dq.completeness("l_orderkey"),
        dq.completeness("l_quantity"),
        dq.completeness("l_returnflag"),
        dq.unique(["l_orderkey", "l_linenumber"]),
        dq.satisfies("quantity_range", F.col("l_quantity").between(1, 50)),
        dq.satisfies("discount_range", F.col("l_discount").between(0.0, 0.1)),
        dq.satisfies("tax_range", F.col("l_tax").between(0.0, 0.08)),
        dq.satisfies("price_positive", F.col("l_extendedprice") > 0),
        dq.satisfies(
            "returnflag_domain", F.col("l_returnflag").isin("A", "N", "R")
        ),
    ]
    return dq.dq_report(li, checks)


_ORACLE_LINEITEM_DQ = """
WITH a AS (
  SELECT count(*)::BIGINT AS n_rows,
    sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS c_ok,
    sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)::BIGINT AS c_qty,
    sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)::BIGINT AS c_rf,
    count(DISTINCT (l_orderkey, l_linenumber))::BIGINT AS u_pk,
    sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END)::BIGINT AS s_qty,
    sum(CASE WHEN l_discount BETWEEN 0.0 AND 0.1 THEN 0 ELSE 1 END)::BIGINT AS s_disc,
    sum(CASE WHEN l_tax BETWEEN 0.0 AND 0.08 THEN 0 ELSE 1 END)::BIGINT AS s_tax,
    sum(CASE WHEN l_extendedprice > 0 THEN 0 ELSE 1 END)::BIGINT AS s_price,
    sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 0 ELSE 1 END)::BIGINT AS s_rf
  FROM lineitem)
SELECT 'n_rows' AS check, n_rows AS value, n_rows > 0 AS passed FROM a
UNION ALL SELECT 'complete(l_orderkey)', c_ok, c_ok = 0 FROM a
UNION ALL SELECT 'complete(l_quantity)', c_qty, c_qty = 0 FROM a
UNION ALL SELECT 'complete(l_returnflag)', c_rf, c_rf = 0 FROM a
UNION ALL SELECT 'unique(l_orderkey,l_linenumber)', u_pk, u_pk = n_rows FROM a
UNION ALL SELECT 'satisfies(quantity_range)', s_qty, s_qty = 0 FROM a
UNION ALL SELECT 'satisfies(discount_range)', s_disc, s_disc = 0 FROM a
UNION ALL SELECT 'satisfies(tax_range)', s_tax, s_tax = 0 FROM a
UNION ALL SELECT 'satisfies(price_positive)', s_price, s_price = 0 FROM a
UNION ALL SELECT 'satisfies(returnflag_domain)', s_rf, s_rf = 0 FROM a"""


def q_mv_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate-view maintenance (operators/maintenance.py):
    the stored per-customer view (built WITHOUT the o_orderkey%13==2
    rows) absorbs those rows as an insert-only delta via the mergeable-
    state union + re-aggregate.  The oracle is the FULL recompute over
    all of orders — the query is correct iff the incremental fold is
    semantically exact, which is the operator's whole claim (refresh
    cost ∝ delta, never a 100 TB base rescan)."""
    from mvrepair.operators.maintenance import aggregate_view, refresh_aggregate

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.col("o_totalprice").cast(_DEC18).alias("price"),
        F.unix_micros("o_orderdate").alias("odate_us"),
    )
    measures = [
        ("n_orders", "count", ""),
        ("sum_price", "sum", "price"),
        ("min_odate_us", "min", "odate_us"),
        ("max_odate_us", "max", "odate_us"),
    ]
    is_delta = F.col("o_orderkey") % 13 == 2
    stored = aggregate_view(orders.filter(~is_delta), ["o_custkey"], measures)
    out = refresh_aggregate(
        stored, orders.filter(is_delta), ["o_custkey"], measures
    )
    return out.select(
        "o_custkey",
        "n_orders",
        F.col("sum_price").cast("double").alias("sum_price"),
        "min_odate_us",
        "max_odate_us",
    )


_ORACLE_MV_AGG_REFRESH = """
SELECT o_custkey, count(*)::BIGINT AS n_orders,
  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
  min(epoch_us(o_orderdate)) AS min_odate_us,
  max(epoch_us(o_orderdate)) AS max_odate_us
FROM orders GROUP BY 1"""


def q_orders_lineitem_joinsize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join pre-flight: the EXACT output cardinality of
    orders ⋈ lineitem on the order key, computed from the two per-key
    count frames without running the join (sketch.join_size_estimate) —
    plus max_key_product, the hot-key explosion term a skew planner
    reads before launching a 100 TB join."""
    from mvrepair.operators.sketch import join_size_estimate

    return join_size_estimate(
        load_table(spark, sf_dir, "orders").select("o_orderkey"),
        "o_orderkey",
        load_table(spark, sf_dir, "lineitem").select("l_orderkey"),
        "l_orderkey",
    )


_ORACLE_JOINSIZE = """
WITH cl AS (SELECT o_orderkey AS k, count(*)::BIGINT AS c FROM orders GROUP BY 1),
cr AS (SELECT l_orderkey AS k, count(*)::BIGINT AS c FROM lineitem GROUP BY 1),
j AS (SELECT cl.c AS cl, cr.c AS cr FROM cl FULL OUTER JOIN cr ON cl.k = cr.k)
SELECT sum(coalesce(cl, 0))::BIGINT AS left_rows,
  count(cl)::BIGINT AS left_keys,
  sum(coalesce(cr, 0))::BIGINT AS right_rows,
  count(cr)::BIGINT AS right_keys,
  count(CASE WHEN cl IS NOT NULL AND cr IS NOT NULL THEN 1 END)::BIGINT
    AS matched_keys,
  CAST(sum(CAST(cl AS HUGEINT) * cr) AS BIGINT) AS join_rows,
  CAST(max(CAST(cl AS HUGEINT) * cr) AS BIGINT) AS max_key_product
FROM j"""


def q_lineitem_fk_dq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity gate (Deequ's containment class,
    operators/dq.referential_report): orphan-FK counts of lineitem
    against orders/part/supplier — each check one anti-join against the
    DISTINCT dimension keys, all passing on the fixture (and the report
    SAYS so, per check, rather than silently assuming it)."""
    from mvrepair.operators import dq

    li = load_table(spark, sf_dir, "lineitem")
    return dq.referential_report(
        li,
        [
            ("orders", "l_orderkey",
             load_table(spark, sf_dir, "orders"), "o_orderkey"),
            ("part", "l_partkey",
             load_table(spark, sf_dir, "part"), "p_partkey"),
            ("supplier", "l_suppkey",
             load_table(spark, sf_dir, "supplier"), "s_suppkey"),
        ],
    )


_ORACLE_LINEITEM_FK_DQ = """
SELECT 'references(orders)' AS check, v AS value, v = 0 AS passed FROM
 (SELECT count(*)::BIGINT AS v FROM lineitem l
  ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey)
UNION ALL
SELECT 'references(part)', v, v = 0 FROM
 (SELECT count(*)::BIGINT AS v FROM lineitem l
  ANTI JOIN part p ON l.l_partkey = p.p_partkey)
UNION ALL
SELECT 'references(supplier)', v, v = 0 FROM
 (SELECT count(*)::BIGINT AS v FROM lineitem l
  ANTI JOIN supplier s ON l.l_suppkey = s.s_suppkey)"""


HIST_WIDTH_CENTS = 12800  # $128 buckets over l_extendedprice in cents
HIST_QS_MICRO = [500000, 950000]  # median and p95


def q_price_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable ORDER-STATISTIC sketch: per-l_returnflag median and
    p95 of l_extendedprice estimated off a fixed-grid equi-width
    histogram, each estimate shipped NEXT TO its exact type-1 quantile
    and the signed error — which the grid bounds by construction
    (0 <= err < width, the hard guarantee a fixed grid gives that
    KLL/t-digest trade away for adaptivity).

    Completes the sketch set: Bloom = membership, CMS = frequency,
    KMV/HLL = cardinality, this = order statistics — the stat that
    sizes equi-depth partition bounds, skew cutoffs, and p95 quality
    gates at 100 TB, where the exact rank window is a full sort of the
    value stream but the grid is ONE map-combinable count aggregate
    (<= groups x buckets rows cross the shuffle, cms_counters' shape
    without even an Expand).

    Exactness: values quantize to cents via floor(double x 100) (the
    float-widening identity both engines share), buckets and ranks are
    pure integer division (both engines truncate non-negatives), and
    the audit's rank window picks a value (ties collapse), so every
    column is engine-exact."""
    from mvrepair.operators import sketch as SK

    cents = _hist_cents(spark, sf_dir)
    hist = SK.equiwidth_hist(cents, "cents", ["flag"], HIST_WIDTH_CENTS)
    return _hist_quantiles_audited(hist, cents)


def _hist_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice").cast("double") * 100)
        .cast("bigint")
        .alias("cents"),
    )


def _hist_quantiles_audited(hist: DataFrame, cents: DataFrame) -> DataFrame:
    """Quantile extraction off a histogram grid + the exact rank-window
    audit — shared by the batch query and its streaming twin (the
    drained JVM-state grid equals the batch grid cell-for-cell, so the
    tail and the oracle apply verbatim)."""
    from mvrepair.operators import sketch as SK

    est = SK.hist_quantile_est(
        hist, ["flag"], HIST_QS_MICRO, HIST_WIDTH_CENTS
    )
    # exact audit: ONE flag-keyed Exchange+Sort (the token_quantiles
    # type-1 quantile shape); the q fan-out is a row-local explode
    w_rank = Window.partitionBy("flag").orderBy("cents")
    w_all = Window.partitionBy("flag")
    ranked = cents.withColumn(
        "__rn", F.row_number().over(w_rank)
    ).withColumn("__n", F.count(F.lit(1)).over(w_all))
    qarr = F.array(
        *[F.lit(int(q)).cast("bigint") for q in HIST_QS_MICRO]
    )
    exact = (
        ranked.withColumn("q_micro", F.explode(qarr))
        .filter(
            F.col("__rn")
            == F.expr("(__n * q_micro + 999999) DIV 1000000")
        )
        .groupBy("flag", "q_micro")
        .agg(F.min("cents").alias("exact_cents"))
    )
    return (
        est.join(exact, ["flag", "q_micro"])
        .select(
            "flag",
            "q_micro",
            F.col("est").alias("est_cents"),
            "exact_cents",
            (F.col("est") - F.col("exact_cents"))
            .cast("bigint")
            .alias("err_cents"),
        )
        .orderBy("flag", "q_micro")
    )


def q_price_hist_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of price_hist_quantiles: the fixed-grid histogram
    is a plain keyed count aggregate, so it runs UNCHANGED as a native
    streaming aggregation — one JVM state row per (flag, bucket),
    <= groups x buckets longs at ANY stream volume (the
    events_hll_stream doctrine for the ORDER-STATISTIC sketch, closing
    the set: every mergeable sketch here is a streaming citizen).  An
    availableNow + complete drain equals the batch grid cell-for-cell,
    so the identical quantile-extraction tail, exact audit, and oracle
    apply verbatim to the drained table."""
    from mvrepair.operators import sketch as SK
    from mvrepair.sources.parquet import load_stream

    scents = load_stream(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice").cast("double") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    sdf = SK.equiwidth_hist(scents, "cents", ["flag"], HIST_WIDTH_CENTS)
    with conf_scope(spark, _STATE_BOUNDED):
        query = (
            sdf.writeStream.format("memory")
            .queryName("__hist_stream")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    hist = spark.table("__hist_stream")
    return _hist_quantiles_audited(hist, _hist_cents(spark, sf_dir))


KCENTER_K = 6


def q_embed_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware data selection: greedy k-center (Gonzalez 1985)
    over the embedding corpus — the coreset / max-min coverage selector
    training-data curation pairs with SemDeDup and DSIR (Sener &
    Savarese 2018 use this exact loop for active learning).  Each of the
    k rounds is ONE narrow scan + ONE TakeOrderedAndProject(1) reduce
    over a persisted (id, qv, mind2) frame maintained INCREMENTALLY
    (O(nk) total distance evals, no pairwise anything, vectors never
    shuffle); the final assignment is a map-side argmin against k
    broadcast literal centers, zero joins.  Exact int64 squared-L2
    micro-unit math makes every round's argmax bit-reproducible, so
    this ITERATIVE algorithm hash-checks against a DuckDB oracle that
    replays the same {KCENTER_K} rounds as unrolled MATERIALIZED CTEs
    (the kmeans_clusters doctrine)."""
    from mvrepair.operators import selection as SEL

    emb = _spread(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    _, out = SEL.kcenter_select(emb, k=KCENTER_K)
    return out


def _oracle_embed_kcenter() -> str:
    def d2(a: str, b: str) -> str:
        return (
            "CAST(list_sum(list_transform(range(1, 65), "
            f"i -> ({a}.qv[i] - {b}.cqv[i]) * ({a}.qv[i] - {b}.cqv[i])"
            ")) AS BIGINT)"
        )

    parts = [
        """emb AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding,
    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
  FROM embeddings)""",
        """s0 AS MATERIALIZED (
  SELECT 0 AS rnd, vec_id AS cid, qv AS cqv FROM emb
  ORDER BY list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i])) DESC,
           vec_id
  LIMIT 1)""",
        f"""d0 AS MATERIALIZED (
  SELECT e.vec_id, e.qv, {d2('e', 's')} AS mind2
  FROM emb e CROSS JOIN s0 s)""",
    ]
    for i in range(1, KCENTER_K):
        parts.append(
            f"""s{i} AS MATERIALIZED (
  SELECT {i} AS rnd, vec_id AS cid, qv AS cqv FROM d{i - 1}
  ORDER BY mind2 DESC, vec_id LIMIT 1)"""
        )
        if i < KCENTER_K - 1:
            parts.append(
                f"""d{i} AS MATERIALIZED (
  SELECT e.vec_id, e.qv, least(e.mind2, {d2('e', 's')}) AS mind2
  FROM d{i - 1} e CROSS JOIN s{i} s)"""
            )
    cents = " UNION ALL ".join(
        f"SELECT * FROM s{i}" for i in range(KCENTER_K)
    )
    parts.append(f"cents AS MATERIALIZED ({cents})")
    parts.append(
        f"""scored AS (
  SELECT e.vec_id, c.rnd, c.cid, {d2('e', 'c')} AS d2
  FROM emb e CROSS JOIN cents c)"""
    )
    parts.append(
        """best AS (
  SELECT vec_id, rnd, cid, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, rnd) AS rn
  FROM scored)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT b.vec_id, CAST(b.rnd AS INTEGER) AS center_round,
       b.cid AS center_id, b.d2 AS d2,
       b.vec_id IN (SELECT cid FROM cents) AS is_center
FROM best b WHERE rn = 1"""
    )


WOE_BINS = 8
WOE_WIDTH = 1 << 16  # cents grid: ~$655 buckets over the $1k-$500k range


def q_orders_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised feature binning: Weight-of-Evidence / Information-
    Value of o_totalprice (cents) against the binary label
    o_orderstatus='F' — the credit-scoring-lineage diagnostic a feature
    pipeline runs before committing a column to training.  Equi-depth
    bin boundaries come from the mergeable equiwidth-grid quantile
    SKETCH (no full sort — the price_hist_quantiles algebra feeding a
    second operator), then ONE conditional-count pass + micro_log2
    ladders over the |bins|-row frame, IV as an order-independent int64
    sum.  See dq.py:woe_iv."""
    from mvrepair.operators.dq import woe_iv

    ords = load_table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice").cast("double") * 100)
        .cast("bigint")
        .alias("cents"),
        (F.col("o_orderstatus") == "F").alias("label"),
    )
    return woe_iv(ords, "cents", "label", n_bins=WOE_BINS, width=WOE_WIDTH)


def _oracle_orders_woe_iv() -> str:
    from mvrepair.functions.exactlog import micro_log2_sql

    w = WOE_WIDTH
    qs = ", ".join(
        str(i * 1_000_000 // WOE_BINS) for i in range(1, WOE_BINS)
    )
    inner = f"""
WITH base AS (
  SELECT CAST(floor(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS v,
         o_orderstatus = 'F' AS y
  FROM orders),
hist AS (SELECT v // {w} AS bucket, count(*) AS cnt FROM base GROUP BY 1),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM hist),
qs AS (SELECT CAST(unnest([{qs}]) AS BIGINT) AS q_micro),
cum AS (SELECT bucket, sum(cnt) OVER (ORDER BY bucket) AS cum FROM hist),
est AS (
  SELECT qs.q_micro, CAST((min(c.bucket) + 1) * {w} AS BIGINT) AS est
  FROM cum c, tot t CROSS JOIN qs
  WHERE c.cum >= (t.n * qs.q_micro + 999999) // 1000000
  GROUP BY 1),
bnd AS (SELECT DISTINCT est FROM est),
bl AS (SELECT list(est ORDER BY est) AS bs FROM bnd),
binned AS (
  SELECT CAST(len(list_filter(bl.bs, b -> base.v > b)) AS INTEGER) AS bin,
         base.y
  FROM base, bl),
cnt AS (
  SELECT bin, count(CASE WHEN y THEN 1 END) AS good,
         count(CASE WHEN NOT y THEN 1 END) AS bad
  FROM binned GROUP BY 1),
tt AS (
  SELECT bin, good, bad,
         CAST(sum(good) OVER () AS BIGINT) AS g_tot,
         CAST(sum(bad) OVER () AS BIGINT) AS b_tot
  FROM cnt)
SELECT bin,
  (SELECT ([CAST(NULL AS BIGINT)] || bs)[bin + 1] FROM bl) AS lo,
  good, bad, g_tot, b_tot
FROM tt WHERE good > 0 AND bad > 0"""
    ml = micro_log2_sql(
        inner,
        "(CAST(good AS DOUBLE) / CAST(g_tot AS DOUBLE))"
        " * (CAST(b_tot AS DOUBLE) / CAST(bad AS DOUBLE))",
        keep=["bin", "lo", "good", "bad", "g_tot", "b_tot"],
        out="woe_q",
    )
    return f"""
SELECT bin, lo, good, bad, g_tot, b_tot, delta_micro, woe_q,
  delta_micro * woe_q AS iv_q,
  CAST(sum(delta_micro * woe_q) OVER () AS BIGINT) AS iv_total_q
FROM (
  SELECT bin, lo, good, bad, g_tot, b_tot, woe_q,
    CAST(floor((CAST(good AS DOUBLE) / CAST(g_tot AS DOUBLE)
                - CAST(bad AS DOUBLE) / CAST(b_tot AS DOUBLE))
               * 1000000.0) AS BIGINT) AS delta_micro
  FROM ({ml}))"""


def q_orders_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit conformance of o_totalprice cents — the
    forensic DQ check for fabricated/truncated feeds, as all-integer
    deviation algebra (dev_q = c_d·ML10 − n·ML_d with precomputed
    micro_log2 constants; |dev_q| sums order-independently).  One
    digit-count pass, then constants over the 9-row frame.  See
    dq.py:benford_report.  (The fixture's price distribution is
    uniform-ish, NOT Benford — the check correctly reports large
    deviations; the oracle gates the arithmetic, the unit test gates
    the verdict direction on constructed conformant data.)"""
    from mvrepair.operators.dq import benford_report

    ords = load_table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice").cast("double") * 100)
        .cast("bigint")
        .alias("cents")
    )
    return benford_report(ords, "cents")


def _oracle_orders_benford() -> str:
    from mvrepair.functions.exactlog import py_micro_log2

    ml10 = py_micro_log2(10.0)
    mls = ", ".join(
        str(py_micro_log2((d + 1) / d)) for d in range(1, 10)
    )
    return f"""
WITH base AS (
  SELECT CAST(floor(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS v
  FROM orders),
cnt AS (
  SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INTEGER) AS digit,
         count(*) AS c
  FROM base WHERE v > 0 GROUP BY 1),
consts AS (SELECT CAST(unnest(range(1, 10)) AS INTEGER) AS d,
                  CAST(unnest([{mls}]) AS BIGINT) AS ml_d),
scored AS (
  SELECT cnt.digit, cnt.c,
         CAST(sum(cnt.c) OVER () AS BIGINT) AS n,
         consts.ml_d, CAST({ml10} AS BIGINT) AS ml10
  FROM cnt JOIN consts ON cnt.digit = consts.d)
SELECT digit, c, n, ml_d, ml10,
       c * ml10 - n * ml_d AS dev_q,
       CAST(sum(abs(c * ml10 - n * ml_d)) OVER () AS BIGINT)
         AS abs_dev_total_q
FROM scored"""


CRAWL_BUDGET = 10_007  # prime: every source keeps a non-trivial remainder


def q_crawl_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl/sampling budget planner: largest-remainder (Hamilton)
    apportionment of {CRAWL_BUDGET} next-epoch document slots across
    sources, proportional to each source's exact TOKEN mass — integer
    allocations that sum exactly to the budget (independent rounding
    never does), remainder ties broken by source.  One corpus token-
    count pass, then rank/sum windows over the |sources|-row frame;
    the total_alloc audit column equals the budget by construction.
    See sampling.py:budget_apportion."""
    from mvrepair.operators.sampling import budget_apportion

    d = load_table(spark, sf_dir, "documents").select(
        "source", F.size(F.split(F.col("text"), " ")).alias("toks")
    )
    return budget_apportion(d, "source", "toks", CRAWL_BUDGET)


def _oracle_crawl_budget() -> str:
    b = CRAWL_BUDGET
    return f"""
WITH agg AS (
  SELECT source AS key,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS wt
  FROM documents GROUP BY 1),
t AS (
  SELECT key, wt, CAST(sum(wt) OVER () AS BIGINT) AS tot FROM agg),
s AS (
  SELECT key, wt, ({b} * wt) // tot AS base, ({b} * wt) % tot AS rem
  FROM t),
r AS (
  SELECT key, wt, base, rem,
         {b} - CAST(sum(base) OVER () AS BIGINT) AS lft,
         CAST(row_number() OVER (ORDER BY rem DESC, key) AS INTEGER) AS rnk
  FROM s),
a AS (
  SELECT key, wt, base, rem, rnk,
         base + CASE WHEN rnk <= lft THEN 1 ELSE 0 END AS alloc
  FROM r)
SELECT key, wt, base, rem, rnk, alloc,
       CAST(sum(alloc) OVER () AS BIGINT) AS total_alloc
FROM a"""


MMR_K = 8
MMR_LAM = (7, 10)  # λ = 0.7 as exact integer weights (7·rel − 3·maxsim)


def q_embed_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) over the embedding corpus: greedy diversity-aware top-{MMR_K}
    with λ=0.7 kept as exact integer weights, relevance = cosine_micro
    to a deterministic query vector (lowest vec_id).  Same
    one-scan-one-TakeOrdered(1) incremental loop as embed_kcenter; the
    returned frame scores EVERY corpus row (rel, final redundancy,
    selection rank) map-side plus one k-row broadcast join.  Oracle
    replays the identical {MMR_K} rounds as unrolled MATERIALIZED CTEs.
    See selection.py:mmr_select."""
    from mvrepair.operators import selection as SEL

    emb = _spread(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    _, out = SEL.mmr_select(
        emb, k=MMR_K, lam_num=MMR_LAM[0], lam_den=MMR_LAM[1]
    )
    return out


def _oracle_embed_mmr() -> str:
    lip = "list_inner_product"

    def cosm(a: str, b: str) -> str:
        return (
            f"CAST(floor({lip}({a}.qv, {b}.qv) / (sqrt({lip}({a}.qv, {a}.qv))"
            f" * sqrt({lip}({b}.qv, {b}.qv))) * 1000000) AS BIGINT)"
        )

    ln, ld = MMR_LAM
    wr = ld - ln
    parts = [
        """emb AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding,
    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
  FROM embeddings)""",
        "qc AS MATERIALIZED (SELECT qv FROM emb ORDER BY vec_id LIMIT 1)",
        f"""rel AS MATERIALIZED (
  SELECT e.vec_id, e.qv, {cosm('e', 'q')} AS rel_micro
  FROM emb e CROSS JOIN qc q)""",
        """p0 AS MATERIALIZED (
  SELECT 0 AS rnd, vec_id, qv FROM rel
  ORDER BY rel_micro DESC, vec_id LIMIT 1)""",
        f"""m0 AS MATERIALIZED (
  SELECT r.vec_id, r.qv, r.rel_micro, {cosm('r', 'p')} AS ms,
         r.vec_id = p.vec_id AS pk
  FROM rel r CROSS JOIN p0 p)""",
    ]
    for i in range(1, MMR_K):
        parts.append(
            f"""p{i} AS MATERIALIZED (
  SELECT {i} AS rnd, vec_id, qv FROM m{i - 1} WHERE NOT pk
  ORDER BY {ln} * rel_micro - {wr} * ms DESC, vec_id LIMIT 1)"""
        )
        parts.append(
            f"""m{i} AS MATERIALIZED (
  SELECT r.vec_id, r.qv, r.rel_micro, greatest(r.ms, {cosm('r', 'p')}) AS ms,
         r.pk OR r.vec_id = p.vec_id AS pk
  FROM m{i - 1} r CROSS JOIN p{i} p)"""
        )
    picks = " UNION ALL ".join(
        f"SELECT rnd, vec_id FROM p{i}" for i in range(MMR_K)
    )
    parts.append(f"picks AS MATERIALIZED ({picks})")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT m.vec_id, m.rel_micro, m.ms AS maxsim_micro,
       p.vec_id IS NOT NULL AS selected,
       CAST(p.rnd AS INTEGER) AS sel_rank
FROM m{MMR_K - 1} m LEFT JOIN picks p USING (vec_id)"""
    )


def _oracle_price_hist_quantiles() -> str:
    w = HIST_WIDTH_CENTS
    qs = ", ".join(str(q) for q in HIST_QS_MICRO)
    return f"""
WITH cents AS (
  SELECT l_returnflag AS flag,
         CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT) AS c
  FROM lineitem),
hist AS (SELECT flag, c // {w} AS bucket, count(*) AS cnt
         FROM cents GROUP BY 1, 2),
tot AS (SELECT flag, sum(cnt) AS n FROM hist GROUP BY 1),
qs AS (SELECT CAST(unnest([{qs}]) AS BIGINT) AS q_micro),
cum AS (SELECT flag, bucket,
               sum(cnt) OVER (PARTITION BY flag ORDER BY bucket) AS cum
        FROM hist),
est AS (
  SELECT c.flag, qs.q_micro,
         CAST((min(c.bucket) + 1) * {w} AS BIGINT) AS est_cents
  FROM cum c JOIN tot t ON c.flag = t.flag CROSS JOIN qs
  WHERE c.cum >= (t.n * qs.q_micro + 999999) // 1000000
  GROUP BY 1, 2),
ranked AS (
  SELECT flag, c,
         row_number() OVER (PARTITION BY flag ORDER BY c) AS rn,
         count(*) OVER (PARTITION BY flag) AS n
  FROM cents),
exact AS (
  SELECT r.flag, qs.q_micro, min(r.c) AS exact_cents
  FROM ranked r CROSS JOIN qs
  WHERE r.rn = (r.n * qs.q_micro + 999999) // 1000000
  GROUP BY 1, 2)
SELECT e.flag, e.q_micro, e.est_cents, x.exact_cents,
       CAST(e.est_cents - x.exact_cents AS BIGINT) AS err_cents
FROM est e JOIN exact x ON e.flag = x.flag AND e.q_micro = x.q_micro
ORDER BY e.flag, e.q_micro"""


def q_events_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-register HLL: per-event-type distinct event_id sketches
    plus the merged 'ALL' row, both from ONE table pass (GROUPING SETS —
    the Expand doubles pre-agg rows map-side; register-wise max IS the
    sketch merge).  That merge is the 100 TB property: per-shard/per-day
    sketches (128 longs each) union into the global estimate; KMV
    (distinct_docs_kmv) covers the bottom-k family, this covers the
    register family, both on the engine-portable md5 hash rather than
    Spark-private HLL++ state."""
    from mvrepair.operators import sketch as SK

    ev = load_table(spark, sf_dir, "events").select("event_type", "event_id")
    regs = SK.hll_registers_with_total(ev, "event_id", "event_type")
    return SK.hll_fold(regs, ["event_type"])


def _oracle_events_hll() -> str:
    from mvrepair.operators.sketch import HLL_M, HLL_P, HLL_RAW_NUM, _HLL_RMAX

    sb = 60 - HLL_P
    mask = (1 << sb) - 1
    return f"""
WITH h AS (
  SELECT event_type,
         CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) AS hh
  FROM events),
r AS (
  SELECT event_type, hh >> {sb} AS register,
         CASE WHEN (hh & {mask}) = 0 THEN {sb + 1}
              ELSE {sb} - (length(bin(hh & {mask})) - 1) END AS rho
  FROM h),
regs AS (
  SELECT coalesce(event_type, 'ALL') AS event_type, register,
         max(rho) AS rho
  FROM r GROUP BY GROUPING SETS ((event_type, register), (register))),
agg AS (
  SELECT event_type, count(*)::BIGINT AS regs_set,
         sum(1::BIGINT << ({_HLL_RMAX} - rho))::BIGINT AS s_present
  FROM regs GROUP BY 1)
SELECT event_type, {HLL_M} AS m, regs_set,
       {HLL_M} - regs_set AS zero_regs,
       s_present + ({HLL_M} - regs_set) * {1 << _HLL_RMAX} AS s_scaled,
       {HLL_RAW_NUM!r} / CAST(s_present + ({HLL_M} - regs_set) * {1 << _HLL_RMAX} AS DOUBLE)
         AS est_distinct
FROM agg"""


_ORACLE_KEY_SKEW = """
WITH c AS (SELECT user_id, count(*) AS sz FROM events GROUP BY user_id),
h AS (SELECT sz, count(*) AS k FROM c GROUP BY sz),
x AS (SELECT sz, k,
  sum(k) OVER (ORDER BY sz) AS cum,
  sum(k) OVER (ORDER BY sz DESC) AS cumd,
  sum(k) OVER () AS nk,
  sum(sz * k) OVER () AS nr
  FROM h),
a AS (SELECT
  max(nr) AS n_rows, max(nk) AS n_keys, max(sz) AS max_size,
  min(CASE WHEN cum * 2 >= nk * 1 THEN sz END) AS p50_size,
  min(CASE WHEN cum * 10 >= nk * 9 THEN sz END) AS p90_size,
  min(CASE WHEN cum * 100 >= nk * 99 THEN sz END) AS p99_size,
  sum(sz * least(k, greatest(10 - (cumd - k), 0))) AS top_rows
  FROM x)
SELECT 'n_rows' AS stat, n_rows::BIGINT AS value FROM a
UNION ALL SELECT 'n_keys', n_keys::BIGINT FROM a
UNION ALL SELECT 'max_size', max_size::BIGINT FROM a
UNION ALL SELECT 'p50_size', p50_size::BIGINT FROM a
UNION ALL SELECT 'p90_size', p90_size::BIGINT FROM a
UNION ALL SELECT 'p99_size', p99_size::BIGINT FROM a
UNION ALL SELECT 'top1_share_micro', (max_size * 1000000 // n_rows)::BIGINT FROM a
UNION ALL SELECT 'top10_share_micro', (top_rows * 1000000 // n_rows)::BIGINT FROM a"""


def _corpus_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic "next crawl" of documents: ids %10==0 dropped,
    %10==1 edited, copies of %10==2 re-ingested under new ids."""
    d = _docs(spark, sf_dir)
    kept = d.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 1, F.concat(F.col("text"), F.lit(" updated"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = d.filter(F.col("doc_id") % 10 == 2).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    return kept.unionByName(added)


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-refresh diff: which docs are added/removed/changed between
    two corpus snapshots — the engine's reconcile O8/O9 shape on the
    corpus side.  Both sides reduce to (id, digest) pre-join; text never
    shuffles."""
    from mvrepair.operators.snapshot import snapshot_diff

    return snapshot_diff(_docs(spark, sf_dir), _corpus_v2(spark, sf_dir))


_ORACLE_CORPUS_DIFF = """
WITH v2 AS (
  SELECT doc_id,
    CASE WHEN doc_id % 10 = 1 THEN text || ' updated' ELSE text END AS text
  FROM documents WHERE doc_id % 10 <> 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 2),
o AS (SELECT doc_id, md5(text) AS old_hash FROM documents),
n AS (SELECT doc_id, md5(text) AS new_hash FROM v2)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
  CASE WHEN o.doc_id IS NULL THEN 'added'
       WHEN n.doc_id IS NULL THEN 'removed'
       WHEN old_hash IS DISTINCT FROM new_hash THEN 'changed'
       ELSE 'unchanged' END AS status,
  old_hash, new_hash
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id"""


NB_BUCKETS = 64


def q_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a multinomial Naive-Bayes language classifier on the corpus
    and score every doc with it — train+infer as one declarative
    pipeline.  Counting IS the training, so the whole model is exact
    integers and the run hash-checks across engines; weights quantize to
    micro-units per the bm25/dsir convention; one corpus token pass via
    the dsir ReuseExchange pattern."""
    from mvrepair.operators.nbayes import nb_train_classify

    d = _spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    )
    return nb_train_classify(d, buckets=NB_BUCKETS)


def _oracle_nb_classify() -> str:
    from mvrepair.functions.exactlog import micro_log2_sql

    b = NB_BUCKETS
    w_sql = micro_log2_sql(
        f"SELECT lbl AS c, bkt, CAST(ct + 1 AS DOUBLE)"
        f" / (sum(ct) OVER (PARTITION BY lbl) + {b}) AS r FROM dense",
        "r",
        ["c", "bkt"],
        "wm",
    )
    pr_sql = micro_log2_sql(
        "SELECT lbl AS c, CAST(nd AS DOUBLE) / (sum(nd) OVER ()) AS r"
        " FROM cd",
        "r",
        ["c"],
        "prior",
    )
    return f"""
WITH tok AS (
  SELECT doc_id, lang AS lbl,
    CAST(concat('0x', substr(md5(tk), 1, 15)) AS BIGINT) % {b} AS bkt
  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tk
        FROM documents)),
db AS (SELECT doc_id, lbl, bkt, count(*) AS n FROM tok GROUP BY 1, 2, 3),
cb AS (SELECT lbl, bkt, sum(n) AS ct FROM db GROUP BY 1, 2),
cd AS (SELECT lang AS lbl, count(*) AS nd FROM documents GROUP BY 1),
grid AS (SELECT lbl, i AS bkt FROM cd, unnest(range(0, {b})) AS u(i)),
dense AS (
  SELECT g.lbl, g.bkt, coalesce(ct, 0) AS ct
  FROM grid g LEFT JOIN cb ON g.lbl = cb.lbl AND g.bkt = cb.bkt),
w AS ({w_sql}),
pr AS ({pr_sql}),
sc AS (
  SELECT db.doc_id, w.c, sum(db.n * w.wm) AS s
  FROM db JOIN w ON db.bkt = w.bkt GROUP BY 1, 2),
post AS (
  SELECT sc.doc_id, sc.c, (sc.s + pr.prior)::BIGINT AS post
  FROM sc JOIN pr USING (c)),
best AS (
  SELECT doc_id, c, post,
    row_number() OVER (PARTITION BY doc_id ORDER BY post DESC, c ASC) AS rn
  FROM post)
SELECT bst.doc_id, bst.c AS pred, bst.post AS score_micro,
       d.lang AS actual, bst.c = d.lang AS correct
FROM best bst JOIN documents d USING (doc_id) WHERE rn = 1"""


def q_nb_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming inference with a frozen model: the corpus trains an NB
    language model once (persisted classes x buckets frames); a stream
    of variant docs (ids +1e6, first token dropped) is scored per
    micro-batch via ``foreachBatch`` — "score today's crawl with
    yesterday's classifier".  On the drained stream the scores equal
    batch ``nb_score`` of the variant corpus, which is what the oracle
    computes."""
    from mvrepair.operators.nbayes import nb_model, nb_score
    from mvrepair.sources.parquet import load_stream

    d = _spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    )
    weights, priors = nb_model(d, buckets=NB_BUCKETS)
    weights = weights.persist()
    priors = priors.persist()
    variants = load_stream(spark, sf_dir, "documents").select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.expr("substr(text, instr(text, ' ') + 1)").alias("text"),
    )
    collected: list = []

    def process(batch_df: DataFrame, batch_id: int) -> None:
        out = nb_score(
            _spread(batch_df), weights, priors, buckets=NB_BUCKETS
        )
        collected.extend(out.collect())

    try:
        query = (
            variants.writeStream.foreachBatch(process)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    finally:
        weights.unpersist()
        priors.unpersist()
    return spark.createDataFrame(
        collected, "doc_id long, pred string, score_micro long"
    )


def _oracle_nb_stream() -> str:
    from mvrepair.functions.exactlog import micro_log2_sql

    b = NB_BUCKETS
    w_sql = micro_log2_sql(
        f"SELECT lbl AS c, bkt, CAST(ct + 1 AS DOUBLE)"
        f" / (sum(ct) OVER (PARTITION BY lbl) + {b}) AS r FROM dense",
        "r",
        ["c", "bkt"],
        "wm",
    )
    pr_sql = micro_log2_sql(
        "SELECT lbl AS c, CAST(nd AS DOUBLE) / (sum(nd) OVER ()) AS r"
        " FROM cd",
        "r",
        ["c"],
        "prior",
    )
    return f"""
WITH tok AS (
  SELECT lang AS lbl,
    CAST(concat('0x', substr(md5(tk), 1, 15)) AS BIGINT) % {b} AS bkt
  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tk FROM documents)),
cb AS (SELECT lbl, bkt, count(*) AS ct FROM tok GROUP BY 1, 2),
cd AS (SELECT lang AS lbl, count(*) AS nd FROM documents GROUP BY 1),
grid AS (SELECT lbl, i AS bkt FROM cd, unnest(range(0, {b})) AS u(i)),
dense AS (
  SELECT g.lbl, g.bkt, coalesce(ct, 0) AS ct
  FROM grid g LEFT JOIN cb ON g.lbl = cb.lbl AND g.bkt = cb.bkt),
w AS ({w_sql}),
pr AS ({pr_sql}),
vtok AS (
  SELECT doc_id,
    CAST(concat('0x', substr(md5(tk), 1, 15)) AS BIGINT) % {b} AS bkt
  FROM (SELECT doc_id + 1000000 AS doc_id,
               unnest(string_split(
                 substr(text, instr(text, ' ') + 1), ' ')) AS tk
        FROM documents)),
db AS (SELECT doc_id, bkt, count(*) AS n FROM vtok GROUP BY 1, 2),
sc AS (
  SELECT db.doc_id, w.c, sum(db.n * w.wm) AS s
  FROM db JOIN w ON db.bkt = w.bkt GROUP BY 1, 2),
post AS (
  SELECT sc.doc_id, sc.c, (sc.s + pr.prior)::BIGINT AS post
  FROM sc JOIN pr USING (c)),
best AS (
  SELECT doc_id, c, post,
    row_number() OVER (PARTITION BY doc_id ORDER BY post DESC, c ASC) AS rn
  FROM post)
SELECT doc_id, c AS pred, post AS score_micro FROM best WHERE rn = 1"""


_V2_CORPUS_SQL = """SELECT doc_id,
    CASE WHEN doc_id % 10 = 1 THEN text || ' updated' ELSE text END AS text
  FROM documents WHERE doc_id % 10 <> 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 2"""


def q_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental LSH-index maintenance off a crawl diff: only the
    changed/added delta is re-signed; removed/changed rows anti-join
    out.  The oracle is the INVARIANT — the incrementally-updated index
    must equal building the new snapshot's index from scratch.

    In production the previous index and the diff are materialized
    datasets read from storage; the eager localCheckpoints stand in for
    those scans so the measured plan is the maintenance operator itself,
    not a re-derivation of its inputs' lineage."""
    v1 = _docs(spark, sf_dir)
    v2 = _corpus_v2(spark, sf_dir)
    from mvrepair.operators.snapshot import snapshot_diff

    index = D.signature_bands(D.minhash_signatures(v1)).localCheckpoint()
    diff = snapshot_diff(v1, v2).localCheckpoint()
    return D.update_band_index(index, diff, v2)


def _oracle_index_upsert() -> str:
    p = D.MINHASH_P
    band_selects = " UNION ALL ".join(
        f"""SELECT doc_id, {b} AS band_idx,
               concat_ws('_', {", ".join(f"sig_{b * D.ROWS_PER_BAND + r}" for r in range(D.ROWS_PER_BAND))}) AS band_sig
        FROM sigs"""
        for b in range(D.N_BANDS)
    )
    return f"""
WITH corpus AS ({_V2_CORPUS_SQL}),
tokens AS (
  SELECT doc_id,
         list_transform(list_distinct({_SHINGLE_SQL}),
                        t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) % {p}) AS hs
  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM corpus)
),
sigs AS (
  SELECT doc_id, {_minhash_sig_exprs()} FROM tokens
)
{band_selects}"""


BPE_K = 30


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer induction, round 1: corpus-weighted adjacent char-pair
    counts (the BPE merge statistic).  The corpus pass is the word-freq
    aggregate; the pair explode runs over distinct words only."""
    return X.bpe_merge_candidates(_docs(spark, sf_dir), k=BPE_K)


def _oracle_bpe_merges() -> str:
    return f"""
WITH wf AS (
  SELECT w, count(*) AS f
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY w)
SELECT pair, CAST(sum(f) AS BIGINT) AS pair_count
FROM (SELECT substr(w, i, 2) AS pair, f
      FROM wf, unnest(range(1, length(w))) AS u(i))
GROUP BY pair
ORDER BY pair_count DESC, pair ASC LIMIT {BPE_K}"""


TBF_BUDGET = 800


def q_token_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget fill ("best 800 tokens per source"): the
    greedy (quality DESC, id ASC) prefix per source whose running token
    total fits the budget.  The class decomposition makes the expensive
    sort run only over each source's single boundary quality class —
    fully-kept classes pass on a broadcast comparison, map-side."""
    from mvrepair.operators.sampling import token_budget_fill

    d = _spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    )
    return token_budget_fill(d, budget=TBF_BUDGET)


def _oracle_token_budget_fill() -> str:
    return f"""
WITH s AS (
  SELECT source, doc_id,
    (CASE WHEN len(string_split(text, ' ')) BETWEEN 5 AND 100000
          THEN 1 ELSE 0 END
     + CASE WHEN len(list_filter(string_split(text, ' '),
             t -> list_contains({_STOP_SQL}, t))) > 0 THEN 1 ELSE 0 END
     + CASE WHEN CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
            / len(string_split(text, ' ')) > 0.2 THEN 1 ELSE 0 END
    )::INTEGER AS quality_score,
    len(string_split(text, ' '))::BIGINT AS n_tokens
  FROM documents),
c AS (
  SELECT *, sum(n_tokens) OVER (PARTITION BY source
    ORDER BY quality_score DESC, doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM s)
SELECT doc_id, source, quality_score, n_tokens
FROM c WHERE cum <= {TBF_BUDGET}"""


DSIR_BUCKETS = 64


def q_dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): score every doc by the
    hashed-unigram log-likelihood ratio of the English target subset vs
    the raw corpus.  One token pass feeds both distributions; the
    64-row weight table stays a broadcast DataFrame (no driver
    artifact); weights floor-quantize to int64 micro-units before the
    per-doc sum (bm25 convention)."""
    d = _spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    )
    from mvrepair.operators.sampling import dsir_scores

    return dsir_scores(d, F.col("lang") == "en", buckets=DSIR_BUCKETS)


def _oracle_dsir_scores() -> str:
    from mvrepair.functions.exactlog import micro_log2_sql

    b = DSIR_BUCKETS
    w_sql = micro_log2_sql(
        f"SELECT bkt, (CAST(ct + 1 AS DOUBLE) / (tt + {b}))"
        f" / (CAST(cr + 1 AS DOUBLE) / (tr + {b})) AS r"
        f" FROM counts CROSS JOIN tot",
        "r",
        ["bkt"],
        "wm",
    )
    return f"""
WITH tok AS (
  SELECT doc_id, lang = 'en' AS t,
    CAST(concat('0x', substr(md5(tk), 1, 15)) AS BIGINT) % {b} AS bkt
  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tk
        FROM documents)),
counts AS (
  SELECT bkt, count(*) AS cr,
         coalesce(sum(CASE WHEN t THEN 1 END), 0) AS ct
  FROM tok GROUP BY bkt),
tot AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM counts),
w AS ({w_sql}),
db AS (SELECT doc_id, bkt, count(*) AS n FROM tok GROUP BY doc_id, bkt)
SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
       CAST(sum(n * wm) AS BIGINT) AS dsir_micro
FROM db JOIN w USING (bkt) GROUP BY doc_id"""


# ---------------------------------------------------------------------------
# training-sequence layout family: packing + chunking
# ---------------------------------------------------------------------------

PACK_BUDGET, PACK_STREAMS = 256, 8
CHUNK_TOKENS, CHUNK_OVERLAP = 64, 16


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-cut sequence packing: where each doc lands in the packed
    token stream a trainer reads (stream, seq_id, seq_offset).  Hash-
    sharded independent streams; one shuffle + per-stream window cumsum."""
    return PK.pack_sequences(
        _docs(spark, sf_dir), budget=PACK_BUDGET, n_streams=PACK_STREAMS
    )


_ORACLE_PACK = f"""
WITH t AS (SELECT doc_id,
  CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       % {PACK_STREAMS} AS INTEGER) AS stream,
  len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents),
p AS (SELECT doc_id, stream, n_tokens,
  CAST(sum(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens AS pos
  FROM t)
SELECT doc_id, stream, pos // {PACK_BUDGET} AS seq_id,
  pos % {PACK_BUDGET} AS seq_offset, n_tokens FROM p"""


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-token chunking (embedding-pipeline prep): 64-token
    windows every 48 tokens, shuffle-free per-row explode."""
    return PK.chunk_documents(
        _docs(spark, sf_dir), chunk=CHUNK_TOKENS, overlap=CHUNK_OVERLAP
    )


_CHUNK_STRIDE = CHUNK_TOKENS - CHUNK_OVERLAP
_ORACLE_CHUNKS = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
  least({CHUNK_TOKENS}, len(ts) - k * {_CHUNK_STRIDE})::BIGINT AS n_tokens,
  array_to_string(ts[k * {_CHUNK_STRIDE} + 1 : k * {_CHUNK_STRIDE} + {CHUNK_TOKENS}], ' ') AS chunk_text
FROM t, unnest(range(0, (len(ts) - 1) // {_CHUNK_STRIDE} + 1)) AS u(k)"""


# ---------------------------------------------------------------------------
# corpus-curation endgame: mixing, canonical selection, yield report
# ---------------------------------------------------------------------------

_MIX_RATES = {"src0": 2.4, "src1": 1.0, "src2": 0.5, "src3": 0.25}
_MIX_DEFAULT = 0.1


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted corpus mixing: per-source epoch rates
    ("repeat src0 for 2.4 epochs, keep 10% of the long tail") quantized to
    integer hash-bucket thresholds — same documents selected on any
    cluster, any partitioning.  Shuffle-free projection + explode."""
    from mvrepair.operators.sampling import weighted_mix

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    return weighted_mix(docs, _MIX_RATES, default_rate=_MIX_DEFAULT)


def _oracle_corpus_mix() -> str:
    buckets = 1000
    whole_cases = " ".join(
        f"WHEN '{k}' THEN {int(round(r * buckets)) // buckets}"
        for k, r in sorted(_MIX_RATES.items())
    )
    rem_cases = " ".join(
        f"WHEN '{k}' THEN {int(round(r * buckets)) % buckets}"
        for k, r in sorted(_MIX_RATES.items())
    )
    d_whole = int(round(_MIX_DEFAULT * buckets)) // buckets
    d_rem = int(round(_MIX_DEFAULT * buckets)) % buckets
    return f"""
WITH t AS (
  SELECT doc_id, source, lang,
    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      % {buckets} AS b
  FROM documents),
n AS (
  SELECT doc_id, source, lang,
    (CASE source {whole_cases} ELSE {d_whole} END
     + CASE WHEN b < (CASE source {rem_cases} ELSE {d_rem} END)
            THEN 1 ELSE 0 END) AS n_copies
  FROM t)
SELECT doc_id, source, lang, epoch::INTEGER AS epoch
FROM (SELECT doc_id, source, lang, unnest(range(0, n_copies)) AS epoch
      FROM n WHERE n_copies > 0)"""


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical selection per near-dup cluster: join the connected-
    component labeling with the quality score and keep each cluster's
    argmax-by-(score, -id) member — the keep/drop decision the dedup
    pipeline ships.  The argmax is a combine-friendly max(struct), not a
    window sort (mega-cluster skew costs a map-side combine, not a
    per-cluster sort)."""
    corpus = _neardup_corpus(spark, sf_dir)
    pairs = D.ngram_jaccard_pairs(corpus, threshold=0.5)
    try:
        clusters = D.connected_components(pairs, corpus)
    finally:
        pairs.unpersist()
    return D.keep_best(clusters, X.quality_score(corpus))


def _oracle_keep_best() -> str:
    return f"""
WITH clusters AS ({_oracle_dedup_clusters()}),
t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM ({_NEARDUP_CORPUS_SQL})),
q AS (
  SELECT doc_id,
    (CASE WHEN len(ts) BETWEEN 5 AND 100000 THEN 1 ELSE 0 END
     + CASE WHEN len(list_filter(ts, x -> list_contains({_STOP_SQL}, x))) > 0
            THEN 1 ELSE 0 END
     + CASE WHEN len(list_distinct(ts))::DOUBLE / len(ts) > 0.2
            THEN 1 ELSE 0 END) AS s
  FROM t),
j AS (SELECT c.cluster_id, c.doc_id, q.s
      FROM clusters c JOIN q ON c.doc_id = q.doc_id),
m AS (SELECT cluster_id, max(s) AS ms, count(*) AS n FROM j GROUP BY 1)
SELECT m.cluster_id,
  CAST(min(j.doc_id) AS BIGINT) AS keep_id,
  m.ms::INTEGER AS keep_score,
  CAST(m.n AS BIGINT) AS n_members
FROM j JOIN m ON j.cluster_id = m.cluster_id AND j.s = m.ms
GROUP BY m.cluster_id, m.ms, m.n"""


def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's last step: materialize the surviving corpus
    (cluster keepers + unclustered docs) — what actually ships to
    training.  Clusters and keep decisions are localCheckpointed,
    standing in for the materialized artifacts a production run reads
    (the index_upsert convention), so the pinned plan is the two
    anti-joins of the apply step itself."""
    corpus = _neardup_corpus(spark, sf_dir)
    pairs = D.ngram_jaccard_pairs(corpus, threshold=0.5)
    try:
        clusters = D.connected_components(pairs, corpus).localCheckpoint()
    finally:
        pairs.unpersist()
    keepers = D.keep_best(clusters, X.quality_score(corpus)).localCheckpoint()
    return D.apply_keep_decisions(corpus, clusters, keepers)


def _oracle_dedup_apply() -> str:
    # the components labeling covers EVERY node (singletons label
    # themselves), so survivors == keep_ids exactly; the simpler
    # semi-join form is equivalent for this query's inputs
    return f"""
WITH kb AS ({_oracle_keep_best()})
SELECT d.doc_id, d.text FROM ({_NEARDUP_CORPUS_SQL}) d
WHERE d.doc_id IN (SELECT keep_id FROM kb)"""


def q_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline yield report over the duplicated corpus: survivor counts
    per curation stage (length band, quality gate, exact-dedup, gate+dedup)
    in ONE corpus scan — shuffles carry digests and partial counts only."""
    return X.quality_funnel(_docs_corpus(spark, sf_dir))


_ORACLE_QUALITY_FUNNEL = f"""
WITH t AS (SELECT md5(text) AS dig, string_split(text, ' ') AS ts
           FROM ({_DOCS_CORPUS_SQL})),
q AS (
  SELECT dig, ts,
    (CASE WHEN len(ts) BETWEEN 5 AND 100000 THEN 1 ELSE 0 END
     + CASE WHEN len(list_filter(ts, x -> list_contains({_STOP_SQL}, x))) > 0
            THEN 1 ELSE 0 END
     + CASE WHEN len(list_distinct(ts))::DOUBLE / len(ts) > 0.2
            THEN 1 ELSE 0 END) AS s
  FROM t)
SELECT count(*) AS n_total,
  CAST(sum(CASE WHEN len(ts) BETWEEN 5 AND 100000 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_len_ok,
  CAST(sum(CASE WHEN s >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
  count(DISTINCT dig) AS n_unique,
  count(DISTINCT CASE WHEN s >= 2 THEN dig END) AS n_final
FROM q"""


def q_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded global shuffle of the packed sequences — the
    epoch read order.  Distributed ORDER BY (range exchange + local
    sort), never a single-partition global window."""
    packed = PK.pack_sequences(
        _docs(spark, sf_dir), budget=PACK_BUDGET, n_streams=PACK_STREAMS
    )
    return PK.training_order(packed)


_ORACLE_TRAINING_ORDER = f"""
WITH p AS ({_ORACLE_PACK}),
s AS (SELECT stream, seq_id, count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS seq_tokens
      FROM p GROUP BY 1, 2)
SELECT stream, seq_id, n_docs, seq_tokens,
  CAST(concat('0x', substr(md5(
    concat_ws(':', 'epoch0', stream::VARCHAR, seq_id::VARCHAR)), 1, 15))
    AS BIGINT) AS shuffle_key
FROM s ORDER BY shuffle_key, stream, seq_id"""


# ---------------------------------------------------------------------------
# round-8 families: record linkage, basket mining, transition matrix
# ---------------------------------------------------------------------------


def q_name_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by name: every customer pair within Levenshtein
    distance 1 — deletion-variant (FastSS) blocking, exact for d=1, with
    a final exact levenshtein verify.  The engine runs the sub-quadratic
    variant-fingerprint self-join; the oracle brute-forces the O(n²)
    comparison, so the gate proves the blocking loses no pairs."""
    from mvrepair.operators.linkage import fuzzy_pairs

    # _spread: the customer parquet lands in ~2 splits at sf0.1, and the
    # 19x variant explode + md5 is the dominant map work — without the
    # repartition it runs on 2 of 32 cores
    c = _spread(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    )
    return fuzzy_pairs(c, name_col="c_name", id_col="c_custkey", max_dist=1)


def _oracle_name_linkage() -> str:
    return """
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       a.c_name AS name_a, b.c_name AS name_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1"""


def q_customer_snm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood linkage over customer names — the OTHER
    classic blocking discipline beside name_linkage's deletion-variant
    equi-join: order-based candidate generation (each record vs its 3
    sort-neighbors), decomposed scale-honestly into per-block rank
    windows + exact boundary recovery so no global Sort task exists.
    The oracle replays the identical algebra (the sketch doctrine).
    See linkage.py:snm_pairs."""
    from mvrepair.operators.linkage import snm_pairs

    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return snm_pairs(
        c, key_col="c_name", id_col="c_custkey",
        block_prefix_len=15, window=4, max_dist=2,
    )


_ORACLE_CUSTOMER_SNM = """
WITH base AS (
  SELECT c_custkey AS id, c_name AS key, substr(c_name, 1, 15) AS blk
  FROM customer),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY blk ORDER BY key, id) AS rn,
         row_number() OVER (PARTITION BY blk ORDER BY key DESC, id DESC)
           AS rd
  FROM base),
probe AS (
  SELECT blk, id AS id_x, key AS key_x, rn + d.d AS rn
  FROM ranked, (SELECT unnest(range(1, 4)) AS d) d),
within AS (
  SELECT p.id_x, p.key_x, r.id AS id_y, r.key AS key_y
  FROM probe p JOIN ranked r ON p.blk = r.blk AND p.rn = r.rn),
succ AS (
  SELECT blk, lead(blk) OVER (ORDER BY blk) AS nxt
  FROM (SELECT DISTINCT blk FROM base) b),
across AS (
  SELECT t.id AS id_x, t.key AS key_x, h.id AS id_y, h.key AS key_y
  FROM ranked t JOIN succ s ON t.blk = s.blk
  JOIN ranked h ON h.blk = s.nxt
  WHERE t.rd < 4 AND h.rn < 4 AND t.rd + h.rn - 1 < 4),
cand AS (SELECT * FROM within UNION ALL SELECT * FROM across),
canon AS (
  SELECT least(id_x, id_y) AS id_a, greatest(id_x, id_y) AS id_b,
         CASE WHEN id_x < id_y THEN key_x ELSE key_y END AS key_a,
         CASE WHEN id_x < id_y THEN key_y ELSE key_x END AS key_b
  FROM cand)
SELECT id_a, id_b, key_a, key_b,
       CAST(levenshtein(key_a, key_b) AS INTEGER) AS dist
FROM canon WHERE levenshtein(key_a, key_b) <= 2"""


BASKET_TOP_K = 20


def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket frequent pairs: the top-k part pairs co-occurring in
    orders — one co-partitioned self-join on the basket key (both sides
    the identical subplan), map-side-combinable pair counts,
    TakeOrderedAndProject top-k with a full deterministic tie-break."""
    from mvrepair.operators.linkage import copurchase_pairs

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    return copurchase_pairs(li, k=BASKET_TOP_K)


def _oracle_basket_pairs() -> str:
    return f"""
WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
p AS (SELECT a.i AS item_a, bb.i AS item_b, count(*) AS n_baskets
      FROM items a JOIN items bb ON a.b = bb.b AND a.i < bb.i
      GROUP BY 1, 2)
SELECT item_a, item_b, n_baskets FROM p
ORDER BY n_baskets DESC, item_a, item_b LIMIT {BASKET_TOP_K}"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix over per-user streams:
    lead() under the canonical per-key sessionization partitioning, then
    a tiny (types x types) conditional-probability frame; probabilities
    ship as exact integer micro-units (n*1e6 div total — no float
    division in the output)."""
    from mvrepair.operators.temporal import event_transitions

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    return event_transitions(ev)


def _oracle_event_transitions() -> str:
    return """
WITH s AS (
  SELECT user_id, event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS dst
  FROM events),
c AS (SELECT src, dst, count(*) AS n FROM s WHERE dst IS NOT NULL
      GROUP BY 1, 2)
SELECT src, dst, n,
       CAST(n * 1000000 // sum(n) OVER (PARTITION BY src) AS BIGINT)
         AS p_micro
FROM c"""


def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 length-3 event-type paths over per-user streams — the
    behavioral trigram table; both lead() columns ride one user-keyed
    Exchange+Sort, path counts are map-side combinable over the
    |types|³-bounded space, the cut is TakeOrderedAndProject.  See
    temporal.py:event_paths."""
    from mvrepair.operators.temporal import event_paths

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    return event_paths(ev, k=25)


_ORACLE_EVENT_PATHS = """
WITH s AS (
  SELECT event_type AS step_1,
    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS step_2,
    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS step_3
  FROM events)
SELECT step_1, step_2, step_3, count(*)::BIGINT AS n
FROM s WHERE step_3 IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY n DESC, step_1, step_2, step_3 LIMIT 25"""


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 validity intervals from the event stream: per user,
    consecutive equal event-type runs collapse to [valid_from_us,
    valid_to_us) rows, last run open — CDC log → queryable history.
    One user-keyed Exchange carries the lag flag, the run-id running
    sum, AND the per-run aggregate; the closing timestamp is a lead over
    the runs frame.  See temporal.py:scd2_history."""
    from mvrepair.operators.temporal import scd2_history

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    return scd2_history(ev)


_ORACLE_SCD2_HISTORY = """
WITH f AS (
  SELECT user_id, event_id, event_type AS v, epoch_us(ts) AS t,
    CASE WHEN lag(event_type) OVER w IS NULL
           OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS nw
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
r AS (
  SELECT user_id, v, t,
    sum(nw) OVER (PARTITION BY user_id ORDER BY t, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM f),
runs AS (
  SELECT user_id, run, min(v) AS value, min(t) AS valid_from_us,
    count(*)::BIGINT AS n_events
  FROM r GROUP BY 1, 2)
SELECT user_id, CAST(run AS BIGINT) AS run_seq, value, valid_from_us,
  lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY run)
    AS valid_to_us,
  n_events
FROM runs"""


def q_purchase_state_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) join — the feature-store temporal-correctness
    primitive: each purchase is enriched with the SCD-2 dimension
    version VALID AT ITS TIMESTAMP (the user's last non-purchase
    activity run), never a later one — the leakage an ordinary join on
    user_id would introduce into training data.  Composition of two
    checked pipelines (the ann_recall doctrine): scd2_history builds the
    validity intervals, asof_join (backward, inclusive) picks the
    version with the greatest valid_from ≤ ts.  Runs partition time per
    user, so valid_from-asof implies ts < valid_to with no interval
    check; same-instant boundary ties (two runs sharing a valid_from
    when timestamps collide at a run boundary) are pre-resolved to the
    latest run_seq so the operator is deterministic on ANY input, not
    just collision-free fixtures.  One run-frame window + the as-of's
    single user-keyed shuffle."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    from mvrepair.operators.temporal import scd2_history

    dim = scd2_history(ev.filter(F.col("event_type") != "purchase"))
    versions = (
        dim.groupBy("user_id", "valid_from_us")
        .agg(F.max(F.struct("run_seq", "value")).alias("w"))
        .select(
            "user_id",
            F.col("valid_from_us").alias("t_us"),
            F.col("w.run_seq").alias("run_seq"),
            F.col("w.value").alias("value"),
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros("ts").alias("t_us")
    )
    out = T.asof_join(
        purchases,
        versions,
        key_cols=["user_id"],
        ts_col="t_us",
        payload_cols=["run_seq", "value", "t_us"],
        tiebreak_col="run_seq",
    )
    return out.select(
        "event_id",
        "user_id",
        "t_us",
        F.col("asof_run_seq").alias("state_seq"),
        F.col("asof_value").alias("state"),
        F.col("asof_t_us").alias("state_since_us"),
    )


_ORACLE_PURCHASE_STATE_PIT = """
WITH f AS (
  SELECT user_id, event_id, event_type AS v, epoch_us(ts) AS t,
    CASE WHEN lag(event_type) OVER w IS NULL
           OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS nw
  FROM events WHERE event_type <> 'purchase'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
r AS (
  SELECT user_id, v, t,
    sum(nw) OVER (PARTITION BY user_id ORDER BY t, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM f),
runs AS (
  SELECT user_id, CAST(run AS BIGINT) AS run_seq, min(v) AS value,
         min(t) AS valid_from_us
  FROM r GROUP BY 1, 2),
versions AS (
  -- boundary-tie dedup: run_seq is unique per (user, run), so max +
  -- arg_max equals the Spark side's lexicographic struct max
  SELECT user_id, valid_from_us AS t_us,
         max(run_seq) AS run_seq,
         arg_max(value, run_seq) AS value
  FROM runs GROUP BY 1, 2),
p AS (
  SELECT event_id, user_id, epoch_us(ts) AS t_us FROM events
  WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id, p.t_us,
       v.run_seq AS state_seq, v.value AS state,
       v.t_us AS state_since_us
FROM p ASOF LEFT JOIN versions v
  ON p.user_id = v.user_id AND p.t_us >= v.t_us"""


def q_events_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of `value` per event type over the
    irregularly-sampled event series (TimescaleDB's time_weight/LOCF):
    each sample holds until the key's next one, so bursts don't
    over-weight the mean.  One key-keyed Exchange+Sort carries the
    lead() window and the aggregate; exact decimal·µs accumulation,
    one final double divide (temporal.time_weighted_avg)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    return T.time_weighted_avg(ev, key_col="event_type")


_ORACLE_EVENTS_TWA = """
WITH f AS (
  SELECT event_type,
    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vm,
    lead(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY ts, event_id)
      - epoch_us(ts) AS dt
  FROM events)
SELECT event_type, count(*)::BIGINT AS n_intervals,
  sum(dt)::BIGINT AS span_us,
  CAST(sum(CAST(vm AS HUGEINT) * dt) // sum(dt) AS BIGINT) AS twa_micro
FROM f WHERE dt IS NOT NULL GROUP BY 1"""


def q_quality_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc percentile rank of the quality score within its source —
    rank normalization for cross-source thresholds ("keep each source's
    top 30%").  The naive percent_rank() is a full sort per source (one
    task per group); the 0-3 score admits the token_budget_fill class
    decomposition: a (sources x 4)-row count frame + broadcast join,
    ZERO sort tasks, exact integer micro-units."""
    from mvrepair.operators.sampling import quality_percentiles

    d = _spread(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "source"
        )
    )
    return quality_percentiles(d)


def _oracle_quality_percentiles() -> str:
    return f"""
WITH s AS (
  SELECT source, doc_id,
    (CASE WHEN len(string_split(text, ' ')) BETWEEN 5 AND 100000
          THEN 1 ELSE 0 END
     + CASE WHEN len(list_filter(string_split(text, ' '),
             t -> list_contains({_STOP_SQL}, t))) > 0 THEN 1 ELSE 0 END
     + CASE WHEN CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
            / len(string_split(text, ' ')) > 0.2 THEN 1 ELSE 0 END
    )::INTEGER AS quality_score
  FROM documents),
c AS (SELECT source, quality_score, count(*) AS n FROM s GROUP BY 1, 2),
b AS (
  SELECT source, quality_score,
    CAST(sum(n) OVER (PARTITION BY source ORDER BY quality_score
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS BIGINT)
      AS below,
    CAST(sum(n) OVER (PARTITION BY source) AS BIGINT) AS total
  FROM c)
SELECT s.doc_id, s.source, s.quality_score,
  CASE WHEN b.total > 1
       THEN below * 1000000 // (b.total - 1) ELSE 0 END::BIGINT AS pct_micro
FROM s JOIN b USING (source, quality_score)"""


def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time_bucket_gapfill + LOCF: the hourly event
    series per type, densified over the global observed range with gap
    rows explicit (n_events=0) and the last observed hourly value sum
    carried forward.  Only corpus-sized work is the bucketed agg (one
    combine-friendly shuffle); the spine and LOCF windows run on the
    types x hours bucket frame."""
    from mvrepair.operators.temporal import gapfill_locf

    ev = load_table(spark, sf_dir, "events")
    return gapfill_locf(ev, key_col="event_type", ts_col="ts",
                        value_col="value")


_ORACLE_EVENTS_GAPFILL = """
WITH b AS (
  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS bucket_us,
    count(*) AS n, sum(CAST(value AS DECIMAL(18,6))) AS v
  FROM events GROUP BY 1, 2),
r AS (SELECT min(bucket_us) AS gmin, max(bucket_us) AS gmax FROM b),
k AS (SELECT DISTINCT event_type FROM b),
spine AS (
  SELECT k.event_type,
    unnest(generate_series(r.gmin, r.gmax, 3600000000)) AS bucket_us
  FROM k, r)
SELECT s.event_type, s.bucket_us,
  coalesce(b.n, 0)::BIGINT AS n_events,
  CAST(b.v AS DOUBLE) AS sum_value,
  CAST(last_value(b.v IGNORE NULLS) OVER (
    PARTITION BY s.event_type ORDER BY s.bucket_us
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
    AS locf_value
FROM spine s LEFT JOIN b USING (event_type, bucket_us)"""


PAGERANK_ITERS = 3


def q_part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality of parts over the co-purchase graph, in exact
    integer micro-units — the kmeans doctrine applied to power iteration
    (quantize every update, and an iterative algorithm becomes
    hash-checkable: the oracle unrolls the identical 3-round
    recurrence).  Edges are distinct co-occurring part pairs (both
    directions) from the same basket self-join family as basket_pairs."""
    from mvrepair.operators.linkage import pagerank_micro

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    items = li.dropDuplicates(["l_orderkey", "l_partkey"])
    a = items.select(
        F.col("l_orderkey").alias("__b"), F.col("l_partkey").alias("src")
    )
    b = items.select(
        F.col("l_orderkey").alias("__b"), F.col("l_partkey").alias("dst")
    )
    edges = (
        a.join(b, "__b")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .dropDuplicates(["src", "dst"])
    )
    nodes = load_table(spark, sf_dir, "part").select("p_partkey")
    return pagerank_micro(
        edges, nodes, id_col="p_partkey", iters=PAGERANK_ITERS
    ).select(F.col("id").alias("part_id"), "rank_micro")


def _oracle_part_pagerank() -> str:
    rounds = []
    prev = "r0"
    for i in range(1, PAGERANK_ITERS + 1):
        rounds.append(
            f"s{i} AS (SELECT ed.dst AS id, sum({prev}.r // deg.deg) AS s"
            f" FROM ed JOIN {prev} ON ed.src = {prev}.id"
            f" JOIN deg ON ed.src = deg.src GROUP BY 1),\n"
            f"r{i} AS (SELECT n.id,"
            f" CAST(150000 + (85 * coalesce(s{i}.s, 0)) // 100 AS BIGINT)"
            f" AS r FROM n LEFT JOIN s{i} USING (id))"
        )
        prev = f"r{i}"
    body = ",\n".join(rounds)
    return f"""
WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
ed AS (SELECT DISTINCT a.i AS src, bb.i AS dst
       FROM items a JOIN items bb ON a.b = bb.b AND a.i <> bb.i),
deg AS (SELECT src, count(*) AS deg FROM ed GROUP BY 1),
n AS (SELECT p_partkey AS id FROM part),
r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM n),
{body}
SELECT id AS part_id, r AS rank_micro FROM {prev}"""


LPA_ITERS = 4


def q_part_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities of parts over the co-purchase
    graph — the clustering companion of part_pagerank on the same edge
    derivation: 4 SYNCHRONOUS rounds where every part adopts its
    in-neighbors' most frequent label (ties to the smaller label),
    deterministic by construction so the oracle unrolls the identical
    recurrence CTE-by-CTE.  See linkage.py:label_communities."""
    from mvrepair.operators.linkage import label_communities

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    items = li.dropDuplicates(["l_orderkey", "l_partkey"])
    a = items.select(
        F.col("l_orderkey").alias("__b"), F.col("l_partkey").alias("src")
    )
    b = items.select(
        F.col("l_orderkey").alias("__b"), F.col("l_partkey").alias("dst")
    )
    edges = (
        a.join(b, "__b")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .dropDuplicates(["src", "dst"])
    )
    nodes = load_table(spark, sf_dir, "part").select("p_partkey")
    return label_communities(
        edges, nodes, id_col="p_partkey", iters=LPA_ITERS
    ).select(F.col("id").alias("part_id"), "community")


def _oracle_part_communities() -> str:
    rounds = []
    prev = "l0"
    for i in range(1, LPA_ITERS + 1):
        rounds.append(
            f"c{i} AS (SELECT ed.dst AS id, {prev}.lbl,"
            f" count(*) AS cnt FROM ed JOIN {prev} ON ed.src = {prev}.id"
            f" GROUP BY 1, 2),\n"
            f"p{i} AS (SELECT id, lbl, row_number() OVER (PARTITION BY id"
            f" ORDER BY cnt DESC, lbl) AS rn FROM c{i}),\n"
            f"l{i} AS (SELECT {prev}.id,"
            f" CAST(coalesce(p{i}.lbl, {prev}.lbl) AS BIGINT) AS lbl"
            f" FROM {prev} LEFT JOIN (SELECT id, lbl FROM p{i}"
            f" WHERE rn = 1) p{i} USING (id))"
        )
        prev = f"l{i}"
    body = ",\n".join(rounds)
    return f"""
WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
ed AS (SELECT DISTINCT a.i AS src, bb.i AS dst
       FROM items a JOIN items bb ON a.b = bb.b AND a.i <> bb.i),
n AS (SELECT p_partkey AS id FROM part),
l0 AS (SELECT id, CAST(id AS BIGINT) AS lbl FROM n),
{body}
SELECT id AS part_id, lbl AS community FROM {prev}"""


def q_part_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts over the co-purchase graph — the
    clustering-density companion of part_pagerank on the same edge
    derivation (distinct co-occurring part pairs per order).  Degree-
    ordered orientation bounds the wedge join at O(m^1.5) even with
    heavy-hitter parts; see operators/linkage.py:triangle_counts."""
    from mvrepair.operators.linkage import triangle_counts

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    items = li.dropDuplicates(["l_orderkey", "l_partkey"])
    a = items.select(
        F.col("l_orderkey").alias("__b"), F.col("l_partkey").alias("item_a")
    )
    b = items.select(
        F.col("l_orderkey").alias("__b"), F.col("l_partkey").alias("item_b")
    )
    edges = (
        a.join(b, "__b")
        .filter(F.col("item_a") < F.col("item_b"))
        .select("item_a", "item_b")
        .dropDuplicates(["item_a", "item_b"])
    )
    return triangle_counts(edges).select(
        F.col("node").alias("part_id"), "n_triangles"
    )


# the oracle enumerates triangles in id order (a<b<c) — a different
# enumeration of the SAME unordered triangle set the engine's
# degree-ordered orientation produces, so the per-vertex counts agree
_ORACLE_PART_TRIANGLES = """
WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
e AS (SELECT DISTINCT a.i AS x, bb.i AS y
      FROM items a JOIN items bb ON a.b = bb.b AND a.i < bb.i),
t AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c
      FROM e e1
      JOIN e e2 ON e1.x = e2.x AND e1.y < e2.y
      JOIN e e3 ON e3.x = e1.y AND e3.y = e2.y),
u AS (SELECT a AS part_id FROM t
      UNION ALL SELECT b FROM t
      UNION ALL SELECT c FROM t)
SELECT part_id, count(*)::BIGINT AS n_triangles FROM u GROUP BY 1"""


_PRIORITIES = [
    ("1-URGENT", "n_urgent"),
    ("2-HIGH", "n_high"),
    ("3-MEDIUM", "n_medium"),
    ("4-NOT SPECIFIED", "n_notspec"),
    ("5-LOW", "n_low"),
]


def q_orders_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: monthly order counts transposed across the 5 order
    priorities — the classic wide dashboard matrix, via Spark's native
    `groupBy().pivot()` (PivotFirst; the values list is supplied, so no
    extra distinct-collection job runs).  The transpose cousin of the
    rollup/cube grouping-sets block in the 'absent surface'.  Missing
    cells coalesce to 0 (Spark's pivot yields NULL for an empty cell;
    the oracle's FILTER count yields 0).  One fact-agg exchange keyed
    on the month — the pivot itself is conditional aggregation, not a
    second shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    piv = (
        orders.select(
            F.unix_micros(F.date_trunc("month", "o_orderdate")).alias(
                "month_us"
            ),
            "o_orderpriority",
        )
        .groupBy("month_us")
        .pivot("o_orderpriority", [p for p, _ in _PRIORITIES])
        .count()
    )
    return piv.select(
        "month_us",
        *[
            F.coalesce(F.col(f"`{p}`"), F.lit(0)).cast("long").alias(a)
            for p, a in _PRIORITIES
        ],
    ).orderBy("month_us")


def _oracle_orders_pivot() -> str:
    cells = ",\n  ".join(
        f"CAST(count(*) FILTER (o_orderpriority = '{p}') AS BIGINT) AS {a}"
        for p, a in _PRIORITIES
    )
    return f"""
SELECT epoch_us(date_trunc('month', o_orderdate)) AS month_us,
  {cells}
FROM orders GROUP BY 1 ORDER BY month_us"""


KCORE_K = 4
KCORE_ROUNDS = 3
KCORE_SUPPORT = 2


def q_part_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling over the support-filtered co-purchase graph
    (edges = part pairs co-purchased in ≥2 baskets): the graph-
    degeneracy community signal, as fixed-round hash-checkable
    iteration (the pagerank doctrine — the oracle unrolls the identical
    peel recurrence).  Per round: one O(E) degree agg + two semi-joins
    against the surviving-node frame, localCheckpoint'd.  See
    linkage.py:kcore_peel."""
    from mvrepair.operators.linkage import kcore_peel

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    items = li.dropDuplicates(["l_orderkey", "l_partkey"])
    a = items.select(
        F.col("l_orderkey").alias("__b"), F.col("l_partkey").alias("item_a")
    )
    b = items.select(
        F.col("l_orderkey").alias("__b"), F.col("l_partkey").alias("item_b")
    )
    edges = (
        a.join(b, "__b")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("__w"))
        .filter(F.col("__w") >= KCORE_SUPPORT)
        .select("item_a", "item_b")
    )
    return kcore_peel(edges, k=KCORE_K, rounds=KCORE_ROUNDS).select(
        F.col("node").alias("part_id"), "deg"
    )


def _oracle_part_kcore() -> str:
    rounds = []
    prev = "e0"
    for i in range(1, KCORE_ROUNDS + 1):
        rounds.append(
            f"a{i} AS (SELECT n FROM (SELECT x AS n FROM {prev}"
            f" UNION ALL SELECT y FROM {prev}) GROUP BY 1"
            f" HAVING count(*) >= {KCORE_K}),\n"
            f"e{i} AS (SELECT x, y FROM {prev}"
            f" WHERE x IN (SELECT n FROM a{i})"
            f" AND y IN (SELECT n FROM a{i}))"
        )
        prev = f"e{i}"
    body = ",\n".join(rounds)
    return f"""
WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
e0 AS (SELECT a.i AS x, bb.i AS y
       FROM items a JOIN items bb ON a.b = bb.b AND a.i < bb.i
       GROUP BY 1, 2 HAVING count(*) >= {KCORE_SUPPORT}),
{body}
SELECT part_id, count(*)::BIGINT AS deg
FROM (SELECT x AS part_id FROM {prev} UNION ALL SELECT y FROM {prev})
GROUP BY 1"""


SIMILAR_PARTS_T = 0.6


def q_similar_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """"Customers who bought X also bought Y"-grade NODE similarity:
    part pairs whose co-purchase NEIGHBORHOODS overlap (Jaccard of
    adjacency sets >= 0.6) — the item-item collaborative-filtering
    primitive.  Reuses the exact-recall prefix-filtered set-similarity
    join VERBATIM on a different domain: each part's neighbor list
    renders as a whitespace-joined string, so adjacency sets ARE
    1-gram token sets and `prefix_jaccard_pairs(n=1)` applies unchanged
    (one operator, two domains — text shingles and graph
    neighborhoods).  The brute-force oracle again proves zero lost
    pairs.  Edge derivation = the support-2 co-purchase graph
    (part_kcore's)."""
    from mvrepair.operators.dedup import prefix_jaccard_pairs

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    items = li.dropDuplicates(["l_orderkey", "l_partkey"])
    a = items.select(
        F.col("l_orderkey").alias("__b"), F.col("l_partkey").alias("item_a")
    )
    b = items.select(
        F.col("l_orderkey").alias("__b"), F.col("l_partkey").alias("item_b")
    )
    edges = (
        a.join(b, "__b")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("__w"))
        .filter(F.col("__w") >= KCORE_SUPPORT)
        .select("item_a", "item_b")
    )
    both = edges.select(
        F.col("item_a").alias("node"), F.col("item_b").alias("nb")
    ).unionByName(
        edges.select(F.col("item_b").alias("node"), F.col("item_a").alias("nb"))
    )
    adj = both.groupBy("node").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list("nb")), lambda x: x.cast("string")
            ),
        ).alias("text")
    )
    return prefix_jaccard_pairs(
        adj, threshold=SIMILAR_PARTS_T, id_col="node", n=1
    ).select(
        F.col("id_a").alias("part_a"),
        F.col("id_b").alias("part_b"),
        "jaccard",
    )


def _oracle_similar_parts() -> str:
    return f"""
WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
e AS (SELECT a.i AS x, bb.i AS y
      FROM items a JOIN items bb ON a.b = bb.b AND a.i < bb.i
      GROUP BY 1, 2 HAVING count(*) >= {KCORE_SUPPORT}),
adj AS (
  SELECT node,
    list_distinct(list_transform(list_sort(list(nb)),
      v -> CAST(concat('0x', substr(md5(CAST(v AS VARCHAR)), 1, 15))
                AS BIGINT))) AS hs
  FROM (SELECT x AS node, y AS nb FROM e UNION ALL SELECT y, x FROM e)
  GROUP BY 1)
SELECT a.node AS part_a, b.node AS part_b,
  CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
    / len(list_distinct(a.hs || b.hs)) AS jaccard
FROM adj a JOIN adj b ON a.node < b.node
WHERE CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
    / len(list_distinct(a.hs || b.hs)) >= {SIMILAR_PARTS_T}"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention matrix over the event stream: users
    bucketed by first-event day, counted once per active day, with
    retention as an exact integer micro-fraction of the cohort size.
    Both corpus aggs share one user-keyed shuffle; the matrix math runs
    on the cohort x offset frame.  See temporal.py:cohort_retention."""
    from mvrepair.operators.temporal import cohort_retention

    ev = load_table(spark, sf_dir, "events")
    return cohort_retention(ev, period="day")


_ORACLE_COHORT_RETENTION = """
WITH f AS (
  SELECT user_id, epoch_us(date_trunc('day', min(ts))) AS cohort
  FROM events GROUP BY 1),
a AS (
  SELECT DISTINCT user_id, epoch_us(date_trunc('day', ts)) AS week
  FROM events),
m AS (
  SELECT f.cohort AS cohort_week_us,
    (a.week - f.cohort) // 86400000000 AS week_offset,
    count(*)::BIGINT AS n_users
  FROM a JOIN f USING (user_id) GROUP BY 1, 2)
SELECT cohort_week_us, week_offset, n_users,
  (n_users * 1000000) // max(CASE WHEN week_offset = 0 THEN n_users END)
    OVER (PARTITION BY cohort_week_us) AS retention_micro
FROM m"""


def q_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence of the unigram distribution from the
    corpus distribution, in exact token-q20 log2 units (micro_log2
    quantizer — bit-identical across engines).  One corpus token pass;
    global frequencies derive from the vocab-sized per-source frame.
    See text.py:source_divergence."""
    from mvrepair.operators.text import source_divergence

    d = _spread(
        load_table(spark, sf_dir, "documents").select("text", "source")
    )
    return source_divergence(d)


def _oracle_source_divergence() -> str:
    from mvrepair.functions.exactlog import micro_log2_sql

    inner = """
WITH inst AS (
  SELECT source AS s,
    CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents)),
ps AS (SELECT s, h, count(*) AS cs FROM inst GROUP BY 1, 2),
g AS (SELECT h, CAST(sum(cs) AS BIGINT) AS cg FROM ps GROUP BY 1),
t AS (SELECT s, CAST(sum(cs) AS BIGINT) AS ns, count(*) AS vocab
      FROM ps GROUP BY 1),
tt AS (SELECT s, ns, vocab, CAST(sum(ns) OVER () AS BIGINT) AS ng FROM t)
SELECT ps.s, ps.cs, g.cg, tt.ns, tt.vocab, tt.ng
FROM ps JOIN g USING (h) JOIN tt USING (s)"""
    ml = micro_log2_sql(
        inner,
        "(CAST(cs AS DOUBLE) / CAST(cg AS DOUBLE))"
        " * (CAST(ng AS DOUBLE) / CAST(ns AS DOUBLE))",
        keep=["s", "cs", "ns", "vocab"],
        out="ml",
    )
    return f"""
SELECT s AS source, max(ns)::BIGINT AS n_tokens,
  max(vocab)::BIGINT AS vocab,
  CAST(sum(cs * ml) AS BIGINT) AS kl_q20_sum
FROM ({ml}) GROUP BY 1"""


def q_events_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical drift monitor over the event feed: per-type PSI
    contribution + two-sample chi-square between the two halves of the
    table's time range — the production "did the mix shift?" gate
    (PSI > 0.25 = investigate).  ONE map-combinable (type, half) count
    pass; every ladder, window, and join after it runs on the
    |types|x2-row frame.  All-integer PSI algebra (delta_micro x
    micro_log2 ratio units) so the cross-category sum is
    order-independent — see dq.py:category_drift."""
    from mvrepair.operators.dq import category_drift

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    return category_drift(ev, "event_type", "ts")


def _oracle_events_drift() -> str:
    from mvrepair.functions.exactlog import micro_log2_sql

    inner = """
WITH bnd AS (
  SELECT (CAST(min(epoch_us(ts)) AS BIGINT)
          + CAST(max(epoch_us(ts)) AS BIGINT)) >> 1 AS mid
  FROM events),
c AS (
  SELECT event_type AS category,
         count(CASE WHEN epoch_us(ts) <= bnd.mid THEN 1 END) AS ca,
         count(CASE WHEN epoch_us(ts) > bnd.mid THEN 1 END) AS cb
  FROM events, bnd GROUP BY 1)
SELECT category, ca, cb,
       CAST(sum(ca) OVER () AS BIGINT) AS na,
       CAST(sum(cb) OVER () AS BIGINT) AS nb
FROM c QUALIFY ca > 0 AND cb > 0"""
    ml = micro_log2_sql(
        inner,
        "(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))"
        " * (CAST(nb AS DOUBLE) / CAST(cb AS DOUBLE))",
        keep=["category", "ca", "cb", "na", "nb"],
        out="ml_q20",
    )
    return f"""
SELECT category, ca, cb, na, nb, delta_micro, ml_q20,
  delta_micro * ml_q20 AS psi_q, chi2_micro,
  CAST(sum(delta_micro * ml_q20) OVER () AS BIGINT) AS psi_total_q,
  CAST(sum(chi2_micro) OVER () AS BIGINT) AS chi2_total_micro
FROM (
  SELECT category, ca, cb, na, nb, ml_q20,
    CAST(floor((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
                - CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
               * 1000000.0) AS BIGINT) AS delta_micro,
    CAST(floor(da * da / ea * 1000000.0) AS BIGINT)
      + CAST(floor(db * db / eb * 1000000.0) AS BIGINT) AS chi2_micro
  FROM (
    SELECT *, CAST(ca AS DOUBLE) - ea AS da, CAST(cb AS DOUBLE) - eb AS db
    FROM (
      SELECT *,
        CAST(na * (ca + cb) AS DOUBLE) / CAST(na + nb AS DOUBLE) AS ea,
        CAST(nb * (ca + cb) AS DOUBLE) / CAST(na + nb AS DOUBLE) AS eb
      FROM ({ml}))))"""


def q_events_drift_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_drift_psi: the conditional-count pivot
    is a plain keyed count aggregate, so it runs UNCHANGED as a native
    streaming aggregation — one JVM state row (two longs) per category
    at ANY stream volume; the midpoint ships as a literal from the
    static table (the reference-window-vs-live-feed deployment shape:
    reference bounds are computed once, the feed streams against
    them).  An availableNow + complete drain equals the batch pivot
    cell-for-cell, so the PSI/chi-square tail and the oracle apply
    verbatim (the price_hist_stream doctrine)."""
    from mvrepair.operators.dq import drift_counts, drift_scores
    from mvrepair.sources.parquet import load_stream

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    [row] = ev.agg(
        F.shiftright(F.min(us) + F.max(us), 1).alias("mid")
    ).collect()
    sev = load_stream(spark, sf_dir, "events").select("event_type", "ts")
    sdf = drift_counts(sev, "event_type", "ts", int(row["mid"]))
    with conf_scope(spark, _STATE_BOUNDED):
        query = (
            sdf.writeStream.format("memory")
            .queryName("__drift_stream")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return drift_scores(spark.table("__drift_stream"))


def q_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch linear attribution over the event stream: each
    purchase distributes exactly 1e6 micro-credits equally (Hamilton
    split, leftover to the most recent touches) over the user's
    view/click touches in a 2-day lookback — per-channel credit totals
    that sum exactly to conversions x 1e6 (the self-audit window
    column).  One user-keyed band join (the purchase_context shape) +
    one conversion-keyed window pair.  See
    temporal.py:linear_attribution."""
    ev = load_table(spark, sf_dir, "events")
    return T.linear_attribution(ev)


_ORACLE_TOUCH_ATTRIBUTION = """
WITH conv AS (
  SELECT user_id AS u, epoch_us(ts) AS ct, event_id AS cid
  FROM events WHERE event_type = 'purchase'),
touch AS (
  SELECT user_id AS u, epoch_us(ts) AS tt, event_id AS tid,
         event_type AS touch_type
  FROM events WHERE event_type IN ('view', 'click')),
pairs AS (
  SELECT t.touch_type, c.cid, t.tt, t.tid
  FROM conv c JOIN touch t
    ON c.u = t.u AND t.tt < c.ct AND t.tt >= c.ct - 172800000000),
cr AS (
  SELECT touch_type, cid,
         count(*) OVER (PARTITION BY cid) AS n,
         row_number() OVER (PARTITION BY cid ORDER BY tt DESC, tid) AS r
  FROM pairs),
credited AS (
  SELECT touch_type,
         1000000 // n + CASE WHEN r <= 1000000 % n THEN 1 ELSE 0 END
           AS credit
  FROM cr),
agg AS (
  SELECT touch_type, count(*) AS n_touches,
         CAST(sum(credit) AS BIGINT) AS credit_micro
  FROM credited GROUP BY 1)
SELECT touch_type, n_touches, credit_micro,
       CAST(sum(credit_micro) OVER () AS BIGINT) AS total_credit_micro
FROM agg"""


def q_events_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift on the event value
    stream between the two halves of its time range — the NUMERIC
    drift companion of events_drift_psi: D as the max of
    |cumA·nB − cumB·nA| over quantized values (all-int64; the argmax
    and ties engine-exact, one deterministic division at the end).
    One conditional-count pass + one value-ordered cumulative over the
    6.4k-unit domain frame.  See dq.py:numeric_drift_ks."""
    from mvrepair.operators.dq import numeric_drift_ks

    ev = load_table(spark, sf_dir, "events").select("value", "ts")
    return numeric_drift_ks(ev, "value", "ts", quant=100)


_ORACLE_EVENTS_DRIFT_KS = """
WITH bnd AS (
  SELECT (CAST(min(epoch_us(ts)) AS BIGINT)
          + CAST(max(epoch_us(ts)) AS BIGINT)) >> 1 AS mid
  FROM events),
cnt AS (
  SELECT CAST(floor(CAST(value AS DOUBLE) * 100) AS BIGINT) AS unit,
         count(CASE WHEN epoch_us(ts) <= bnd.mid THEN 1 END) AS ca,
         count(CASE WHEN epoch_us(ts) > bnd.mid THEN 1 END) AS cb
  FROM events, bnd GROUP BY 1),
cum AS (
  SELECT unit,
         CAST(sum(ca) OVER (ORDER BY unit
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_a,
         CAST(sum(cb) OVER (ORDER BY unit
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_b,
         CAST(sum(ca) OVER () AS BIGINT) AS na,
         CAST(sum(cb) OVER () AS BIGINT) AS nb
  FROM cnt),
scored AS (
  SELECT unit, cum_a, cum_b, na, nb,
         abs(cum_a * nb - cum_b * na) AS d_num
  FROM cum)
SELECT unit AS ks_at_unit, cum_a, cum_b, na, nb, d_num,
       CAST(floor(CAST(d_num AS DOUBLE) / CAST(na * nb AS DOUBLE)
                  * 1000000.0) AS BIGINT) AS d_micro
FROM scored ORDER BY d_num DESC, unit LIMIT 1"""


def q_events_drift_w1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth-mover) drift on the event value
    stream between the two halves of its time range — the MAGNITUDE
    companion of events_drift_ks: W1 integrates the ECDF gap
    (Σ |cumA·nB − cumB·nA| · gap, all-int64) where KS takes its sup,
    so a small-but-everywhere mean shift scores high even when no
    single value diverges much.  Same scale shape as KS: one
    conditional-count pass + one cumulative over the 6.4k-unit domain
    frame.  See dq.py:numeric_drift_w1."""
    from mvrepair.operators.dq import numeric_drift_w1

    ev = load_table(spark, sf_dir, "events").select("value", "ts")
    return numeric_drift_w1(ev, "value", "ts", quant=100)


_ORACLE_EVENTS_DRIFT_W1 = """
WITH bnd AS (
  SELECT (CAST(min(epoch_us(ts)) AS BIGINT)
          + CAST(max(epoch_us(ts)) AS BIGINT)) >> 1 AS mid
  FROM events),
cnt AS (
  SELECT CAST(floor(CAST(value AS DOUBLE) * 100) AS BIGINT) AS unit,
         count(CASE WHEN epoch_us(ts) <= bnd.mid THEN 1 END) AS ca,
         count(CASE WHEN epoch_us(ts) > bnd.mid THEN 1 END) AS cb
  FROM events, bnd GROUP BY 1),
stepped AS (
  SELECT unit,
         CAST(sum(ca) OVER (ORDER BY unit
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_a,
         CAST(sum(cb) OVER (ORDER BY unit
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_b,
         CAST(sum(ca) OVER () AS BIGINT) AS na,
         CAST(sum(cb) OVER () AS BIGINT) AS nb,
         coalesce(lead(unit) OVER (ORDER BY unit), unit) - unit AS gap
  FROM cnt),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_units,
         max(na) AS na, max(nb) AS nb,
         CAST(sum(abs(cum_a * nb - cum_b * na) * gap) AS BIGINT)
           AS w1_num
  FROM stepped)
SELECT n_units, na, nb, w1_num,
       CAST(w1_num // (na * nb) * 1000000
            + (w1_num % (na * nb)) * 1000000 // (na * nb)
            AS BIGINT) AS w1_micro
FROM tot"""


def q_km_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-conversion curve with right censoring over
    the event stream (hour buckets): the survival-analysis primitive
    behind conversion-latency / churn dashboards, as an exact integer
    micro-unit recurrence (S_t = S_prev·(n−d) DIV n) folded IN-PLAN
    over the life table and replayed by the oracle as a recursive CTE.
    One user-keyed aggregate is the only corpus-sized pass.  See
    temporal.py:km_survival."""
    ev = load_table(spark, sf_dir, "events")
    return T.km_survival(ev)


_ORACLE_KM_SURVIVAL = """
WITH RECURSIVE per_user AS (
  SELECT user_id, min(epoch_us(ts)) AS first_us,
         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
           AS conv_us,
         max(epoch_us(ts)) AS last_us
  FROM events GROUP BY 1),
dur AS (
  SELECT conv_us IS NOT NULL AS converted,
         CAST((coalesce(conv_us, last_us) - first_us) // 3600000000
              AS BIGINT) AS t
  FROM per_user),
lt AS (
  SELECT t, count(CASE WHEN converted THEN 1 END) AS d,
         count(CASE WHEN NOT converted THEN 1 END) AS c
  FROM dur GROUP BY 1),
steps AS (
  SELECT t, d, c,
         CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS i,
         CAST(sum(d + c) OVER () AS BIGINT)
           - CAST(coalesce(sum(d + c) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS n
  FROM lt),
km AS (
  SELECT s.i, s.t, s.d, s.c, s.n,
         (1000000 * (s.n - s.d)) // s.n AS sm
  FROM steps s WHERE s.i = 1
  UNION ALL
  SELECT s.i, s.t, s.d, s.c, s.n,
         (km.sm * (s.n - s.d)) // s.n AS sm
  FROM km JOIN steps s ON s.i = km.i + 1)
SELECT t, d, c, n, CAST(sm AS BIGINT) AS s_micro FROM km"""


def q_part_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-part revenue concentration — the
    head-heaviness diagnostic a rebalancing pipeline reads (0 =
    uniform, →1 = one product owns everything), in exact integer
    Lorenz algebra (DECIMAL(38,0) rank-weighted sum, one integral
    divide).  One part-keyed aggregate + one sort over the 20k-part
    domain frame.  See dq.py:gini_concentration."""
    from mvrepair.operators.dq import gini_concentration

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.floor(F.col("l_extendedprice").cast("double") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    return gini_concentration(li, "l_partkey", "cents")


_ORACLE_PART_GINI = """
WITH per_key AS (
  SELECT l_partkey AS k,
         CAST(sum(CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100)
                       AS BIGINT)) AS BIGINT) AS x
  FROM lineitem GROUP BY 1),
ranked AS (
  SELECT x,
         CAST(row_number() OVER (ORDER BY x, k) AS BIGINT) AS i,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM per_key)
SELECT max(n) AS n_keys, CAST(sum(x) AS BIGINT) AS total_value,
       CAST((CAST(1000000 AS HUGEINT)
             * sum(CAST(2 * i - n - 1 AS HUGEINT) * CAST(x AS HUGEINT)))
            // (CAST(max(n) AS HUGEINT) * CAST(sum(x) AS HUGEINT))
            AS BIGINT) AS gini_micro
FROM ranked"""


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view -> click -> purchase over the event stream:
    users reaching each step (each step strictly after the user's
    earliest completion of the previous one), with exact integer
    micro-fraction conversions.  One user-keyed shuffle — the chained
    step minima stack as Window operators on a single Exchange+Sort.
    See temporal.py:funnel_steps."""
    from mvrepair.operators.temporal import funnel_steps

    ev = load_table(spark, sf_dir, "events")
    return funnel_steps(ev, steps=["view", "click", "purchase"])


_ORACLE_EVENT_FUNNEL = """
WITH s0 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY 1),
s1 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s0 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s0.t GROUP BY 1),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s1.t GROUP BY 1),
c AS (
  SELECT 1 AS step, 'view' AS event_type,
    (SELECT count(*) FROM s0)::BIGINT AS n_users
  UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s1)::BIGINT
  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s2)::BIGINT)
SELECT step, event_type, n_users,
  CASE WHEN first_n > 0 THEN (n_users * 1000000) // first_n END
    AS conversion_micro,
  CASE WHEN prev_n > 0 THEN (n_users * 1000000) // prev_n END
    AS stepwise_micro
FROM (
  SELECT step, event_type, n_users,
    max(CASE WHEN step = 1 THEN n_users END) OVER () AS first_n,
    lag(n_users) OVER (ORDER BY step) AS prev_n
  FROM c)"""


def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-moving-average anomaly flags on the hourly event-count
    series per type: a bucket is anomalous when its count exceeds 2x the
    trailing 24h mean (exact cross-multiplied integers — no float means).
    Only corpus-sized work is the bucketed count; the trailing RANGE
    window runs on the types x hours frame.  See
    temporal.py:moving_anomaly."""
    from mvrepair.operators.temporal import moving_anomaly

    ev = load_table(spark, sf_dir, "events")
    return moving_anomaly(ev)


_ORACLE_EVENTS_ANOMALY = """
WITH b AS (
  SELECT event_type,
    epoch_us(date_trunc('hour', ts)) // 3600000000 AS idx,
    count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2),
w AS (
  SELECT event_type, idx * 3600000000 AS bucket_us, n,
    sum(n) OVER tr AS tsum, count(n) OVER tr AS tcnt
  FROM b
  WINDOW tr AS (PARTITION BY event_type ORDER BY idx
                RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING))
SELECT event_type, bucket_us, n,
  coalesce(tsum, 0)::BIGINT AS trailing_sum,
  tcnt::BIGINT AS trailing_buckets,
  (CASE WHEN tcnt >= 6 AND tsum > 0
    THEN (n * tcnt * 1000000) // tsum END)::BIGINT AS deviation_micro,
  CASE WHEN tcnt >= 6 AND tsum > 0
    THEN n * tcnt * 1000000 > 2000000 * tsum END AS is_anomaly
FROM w"""


PHRASE_QUERIES = ["table part", "fast scan", "row scan slow"]


def q_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase-AND search over the corpus for three fixed
    query phrases (two 2-term, one 3-term) — the retrieval primitive
    the posting_lists index feeds: one broadcast join of positional
    postings against the (term, idx) spec, one (phrase, doc, start)
    count == L, no L-way join chain.  See text.py:phrase_search."""
    from mvrepair.operators.text import phrase_search

    return phrase_search(_docs(spark, sf_dir), PHRASE_QUERIES)


def _oracle_phrase_match() -> str:
    vals = []
    for ph in PHRASE_QUERIES:
        terms = ph.split(" ")
        for idx, t in enumerate(terms):
            vals.append(f"('{ph}', '{t}', {idx}, {len(terms)})")
    values = ", ".join(vals)
    return f"""
WITH spec AS (
  SELECT * FROM (VALUES {values}) AS s(phrase, term, idx, plen)),
pos AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS token,
         unnest(range(len(string_split(text, ' ')))) AS pos
  FROM documents),
starts AS (
  SELECT s.phrase, p.doc_id, p.pos - s.idx AS start, s.plen
  FROM pos p JOIN spec s ON p.token = s.term),
matches AS (
  SELECT phrase, doc_id, start
  FROM starts GROUP BY phrase, doc_id, start, plen
  HAVING count(*) = plen)
SELECT phrase, doc_id, count(*)::BIGINT AS n_matches
FROM matches GROUP BY 1, 2"""


TOKEN_SPLITS = 8
_TOKEN_WIDTH = (1 << 60) // TOKEN_SPLITS


def q_events_tokenrange(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference connector's token-range split scan EXECUTING as a
    Spark 4 Python DataSource (not just configured): the 60-bit
    stable_hash64 token space divides into 8 contiguous ranges, Spark
    schedules one task per range, each reader yields only its range's
    rows as Arrow batches, and the equality filter on event_type is
    PUSHED into the reader (pushFilters — the plan's post-scan Filter
    keeps only isnotnull).  The token and range id are exposed as
    columns so the oracle replays the split assignment bit-for-bit —
    the split logic itself is hash-checked.  See
    sources/tokenrange.py (reference scan model:
    src/main/java/mvsync/MvSync.java per-split RDD scan)."""
    from mvrepair.sources.tokenrange import TokenRangeDataSource

    # session-global by design: pushdown is decided when the lazy plan is
    # optimized at action time, after this function returns
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(TokenRangeDataSource)
    df = (
        spark.read.format("mvrepair_tokenrange")
        .option("path", f"{sf_dir}/events.parquet")
        .option("pk", "event_id")
        .option("splits", str(TOKEN_SPLITS))
        .option("columns", "event_id,user_id,event_type")
        .load()
    )
    return (
        df.filter(F.col("event_type") == "view")
        .groupBy("split_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("user_id").alias("n_users"),
            F.min("token").alias("min_token"),
            F.max("token").alias("max_token"),
        )
    )


_ORACLE_EVENTS_TOKENRANGE = f"""
WITH t AS (
  SELECT user_id,
         CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)
              AS BIGINT) AS token
  FROM events WHERE event_type = 'view')
SELECT CAST(token // {_TOKEN_WIDTH} AS INTEGER) AS split_id,
       count(*)::BIGINT AS n_rows,
       count(DISTINCT user_id)::BIGINT AS n_users,
       min(token) AS min_token,
       max(token) AS max_token
FROM t GROUP BY 1"""


TOKEN_STREAM_SPLITS = 4
_TOKEN_STREAM_WIDTH = (1 << 60) // TOKEN_STREAM_SPLITS


def q_events_tokenrange_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The token-range source's STREAMING leg: the anti-entropy ring
    walk as a Structured Streaming query — each micro-batch scans the
    NEXT token range (offset = next split id, resumable;
    readBetweenOffsets replays committed spans deterministically), and
    the per-split rollup accumulates in complete mode until the walk
    reaches the end of the ring.  One batch per range executed for
    real (4 batches observed), then the query stops — batch parity
    with events_tokenrange's split algebra at 4 splits.  See
    sources/tokenrange.py:TokenRangeStreamReader."""
    from mvrepair.sources.tokenrange import TokenRangeDataSource

    spark.dataSource.register(TokenRangeDataSource)
    sdf = (
        spark.readStream.format("mvrepair_tokenrange")
        .option("path", f"{sf_dir}/events.parquet")
        .option("pk", "event_id")
        .option("splits", str(TOKEN_STREAM_SPLITS))
        .option("columns", "event_id,user_id,event_type")
        .load()
    )
    agg = (
        sdf.filter(F.col("event_type") == "view")
        .groupBy("split_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("token").alias("min_token"),
            F.max("token").alias("max_token"),
        )
    )
    # r12 (guide §1): the walk is done after batch TOKEN_STREAM_SPLITS-1
    # commits (batch i scans range i; complete mode carries every prior
    # range's rollup in state), and ``lastProgress`` is driver-local
    # metadata — so the poll no longer runs a count() JOB per probe,
    # and the 0.3 s sleep quantum (up to one quantum of dead time per
    # batch) drops to 30 ms.  trigger(availableNow) was TRIED and
    # REJECTED: the simple-stream-reader wrapper captures its end
    # offset from the single prefetched batch, so it drains ONE range
    # and terminates — rowcount 1 vs 4 against the oracle.
    import time as _time

    with conf_scope(spark, _STATE_BOUNDED):
        query = (
            agg.writeStream.format("memory")
            .queryName("__events_tokenrange_stream")
            .outputMode("complete")
            .trigger(processingTime="0 seconds")
            .start()
        )
        deadline = _time.monotonic() + 300
        while _time.monotonic() < deadline:
            p = query.lastProgress
            if p is not None and p["batchId"] >= TOKEN_STREAM_SPLITS - 1:
                break
            _time.sleep(0.03)
        else:
            query.stop()
            raise RuntimeError("tokenrange stream did not drain in 300 s")
        query.stop()
        query.awaitTermination()
    return spark.table("__events_tokenrange_stream")


_ORACLE_EVENTS_TOKENRANGE_STREAM = f"""
WITH t AS (
  SELECT CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)
              AS BIGINT) AS token
  FROM events WHERE event_type = 'view')
SELECT CAST(token // {_TOKEN_STREAM_WIDTH} AS INTEGER) AS split_id,
       count(*)::BIGINT AS n_rows,
       min(token) AS min_token,
       max(token) AS max_token
FROM t GROUP BY 1"""


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization of document lengths: every
    source's n_chars marginal is mapped onto the POOLED distribution
    at percentile resolution (type-1 semantics, exact integers) — how
    heterogeneous per-source score scales become comparable before one
    global threshold.  One source-partitioned rank window + one
    domain-sized pooled cumulative + one 100-row broadcast map; no
    corpus-wide global sort.  See dq.py:quantile_normalize."""
    from mvrepair.operators.dq import quantile_normalize

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return quantile_normalize(
        docs, value_col="n_chars", group_col="source", id_col="doc_id"
    )


_ORACLE_QUANTILE_NORMALIZE = """
WITH base AS (SELECT doc_id AS id, source AS grp, n_chars AS v
              FROM documents),
ranked AS (
  SELECT id, grp, v,
         CAST(row_number() OVER (PARTITION BY grp ORDER BY v, id)
              AS BIGINT) AS r,
         CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS ns
  FROM base),
dom AS (SELECT v, count(*) AS cnt FROM base GROUP BY 1),
cumf AS (
  SELECT v,
         CAST(sum(cnt) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum,
         CAST(sum(cnt) OVER () AS BIGINT) AS n FROM dom),
grid AS (SELECT CAST(unnest(range(1, 101)) AS BIGINT) AS p),
pool AS (
  SELECT g.p AS pct, min(c.v) AS norm_value
  FROM grid g JOIN cumf c ON c.cum >= (c.n * g.p + 99) // 100
  GROUP BY 1)
SELECT r.id, r.grp AS "group", r.v AS value,
       CAST((100 * r.r + r.ns - 1) // r.ns AS BIGINT) AS pct,
       pool.norm_value
FROM ranked r
JOIN pool ON pool.pct = (100 * r.r + r.ns - 1) // r.ns"""


def q_posting_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped inverted-index posting lists over the corpus: exact df per
    token, first-20 posting doc-ids comma-joined, top-200 tokens by df.
    Dedupe happens map-side BEFORE any token-keyed hotspot; the df and
    rank windows share one token-keyed Exchange+Sort and the final fold
    reuses it.  See text.py:posting_lists."""
    from mvrepair.operators.text import posting_lists

    return posting_lists(_docs(spark, sf_dir))


_ORACLE_POSTING_LISTS = """
WITH pairs AS (
  SELECT DISTINCT token, doc_id FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token
    FROM documents)),
r AS (
  SELECT token, doc_id,
    count(*) OVER (PARTITION BY token) AS df,
    row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
  FROM pairs)
SELECT token, df::BIGINT AS df, count(*)::BIGINT AS n_listed,
  string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS postings
FROM r WHERE rn <= 20 GROUP BY token, df
HAVING df >= 2
ORDER BY df DESC, token ASC LIMIT 200"""


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 bigram collocations by exact quantized PMI (min support
    5) — phrase mining over the corpus.  Two combine-friendly token
    passes, support filter before the vocab-keyed frequency joins,
    corpus totals as scalar subqueries over persisted count frames,
    TakeOrdered cut.  See text.py:collocations."""
    from mvrepair.operators.text import collocations

    return collocations(_docs(spark, sf_dir))


def _oracle_collocations() -> str:
    from mvrepair.functions.exactlog import micro_log2_sql

    inner = """
WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
big AS (
  SELECT t[i] AS x, t[i + 1] AS y, count(*) AS c_xy FROM (
    SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks)
  GROUP BY 1, 2),
uni AS (
  SELECT tok AS t, count(*) AS c
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY 1)
SELECT big.x, big.y, CAST(big.c_xy AS BIGINT) AS c_xy,
  cx.c AS cx, cy.c AS cy,
  (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS n1,
  (SELECT CAST(sum(c_xy) AS BIGINT) FROM big) AS nb
FROM big
JOIN uni cx ON cx.t = big.x
JOIN uni cy ON cy.t = big.y
WHERE big.c_xy >= 5"""
    ml = micro_log2_sql(
        inner,
        "(CAST(c_xy AS DOUBLE) / CAST(cx AS DOUBLE))"
        " * (CAST(n1 AS DOUBLE) / CAST(cy AS DOUBLE))"
        " * (CAST(n1 AS DOUBLE) / CAST(nb AS DOUBLE))",
        keep=["x", "y", "c_xy"],
        out="pmi_q20",
    )
    return f"""
SELECT x, y, c_xy, pmi_q20 FROM ({ml})
ORDER BY pmi_q20 DESC, x ASC, y ASC LIMIT 100"""


def q_jaccard_join_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-recall Jaccard >= 0.5 shingle-set similarity self-join over
    the near-dup corpus via prefix filtering (Bayardo/PPJoin) — the
    oracle brute-forces every O(n²) pair, so a green gate PROVES the
    prefix filter loses no pair.  Same token universe (3-gram shingles)
    and threshold as the LSH family, so the two candidate generators
    are directly comparable.  See dedup.py:prefix_jaccard_pairs."""
    from mvrepair.operators.dedup import prefix_jaccard_pairs

    return prefix_jaccard_pairs(_neardup_corpus(spark, sf_dir), threshold=0.5)


_ORACLE_JACCARD_JOIN_EXACT = f"""
WITH tk AS (
  SELECT doc_id,
    list_distinct(list_transform({_SHINGLE_SQL},
      s -> CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT))) AS tk
  FROM (SELECT doc_id, string_split(text, ' ') AS ts
        FROM ({_NEARDUP_CORPUS_SQL}))
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
    / (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))) AS jaccard
FROM tk a JOIN tk b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
    / (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))) >= 0.5"""


def q_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-length interval coalescing: each event spans
    [ts, ts + value minutes); per user, merge overlapping/touching
    spans into maximal islands and report count / covered time /
    longest island — exact µs integers, one user-keyed shuffle.  See
    temporal.py:activity_islands."""
    from mvrepair.operators.temporal import activity_islands

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        F.unix_micros("ts").alias("s_us"),
        (
            F.unix_micros("ts")
            + F.floor(F.coalesce(F.col("value"), F.lit(0.0)) * 60_000_000.0)
            .cast("long")
        ).alias("e_us"),
    )
    return activity_islands(
        base, key_col="user_id", start_col="s_us", end_col="e_us"
    )


_ORACLE_ACTIVITY_ISLANDS = """
WITH base AS (
  SELECT user_id, epoch_us(ts) AS s,
    epoch_us(ts) + CAST(floor(coalesce(value, 0) * 60000000) AS BIGINT) AS e
  FROM events),
w AS (
  SELECT user_id, s, e,
    CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS nw
  FROM (SELECT user_id, s, e,
          max(e) OVER (PARTITION BY user_id ORDER BY s, e
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        FROM base)),
i AS (
  SELECT user_id,
    sum(nw) OVER (PARTITION BY user_id ORDER BY s, e
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl,
    s, e
  FROM w),
p AS (SELECT user_id, isl, min(s) AS s0, max(e) AS e1 FROM i GROUP BY 1, 2)
SELECT user_id, count(*)::BIGINT AS n_islands,
  CAST(sum(e1 - s0) AS BIGINT) AS covered_us,
  CAST(max(e1 - s0) AS BIGINT) AS max_island_us
FROM p GROUP BY 1"""


def q_part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto skyline of parts on (minimize retail price, minimize
    size): the best price/size trade-off frontier.  The dominance
    semantics would naively be a non-equi self-join (CartesianProduct);
    the 2-D sort-based form reduces it to ONE map-combinable groupBy +
    a bucket-decomposed running min over the reduced per-price frame
    (r9: no single-partition window over the per-x frame — the
    token_budget_fill two-level recipe) + one equi-join back — the
    corpus is scanned once and never globally sorted.  bucket_width=64
    puts the fixture's ~1200-wide price domain across ~19 buckets (the
    4096 default is sized for wide integer domains).  See
    dominance.py:skyline_2d."""
    from mvrepair.operators.dominance import skyline_2d

    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_retailprice", "p_size"
    )
    return skyline_2d(
        part,
        x="p_retailprice",
        y="p_size",
        keep=["p_partkey", "p_name"],
        bucket_width=64,
    ).orderBy("p_retailprice", "p_partkey")


_ORACLE_PART_SKYLINE = """
SELECT p_partkey, p_name, p_retailprice, p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size <= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size))
ORDER BY p_retailprice, p_partkey"""


ZORDER_BITS = 8
ZORDER_BUCKET_BITS = 6


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout report over the lineitem fact on
    (l_partkey, l_suppkey): assign every row its space-filling-curve
    bucket and report per-bucket min-max pruning statistics — the file
    layout + skipping evidence a 100 TB writer needs before committing
    to a sort key (Delta OPTIMIZE ZORDER BY's algebra, run as a query).
    Normalization min/max is one bounded aggregate; the interleave is a
    pure map-side integer bit expression (no UDF, no shuffle); the only
    exchange is the ≤2^{bucket_bits}-row bucket aggregate.  See
    layout.py:zorder_layout (reference has no layout surface:
    src/main/java/mvsync/MvSync.java full-scans unconditionally)."""
    from mvrepair.operators.layout import zorder_layout

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    return zorder_layout(
        li,
        ["l_partkey", "l_suppkey"],
        bits=ZORDER_BITS,
        bucket_bits=ZORDER_BUCKET_BITS,
    )


def q_events_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning through a Hive-partitioned fact: the
    event stream is written one directory per day (int yyyymmdd key),
    a tiny day-dimension is filtered on a non-key attribute
    (day_int % 7 = 1 — opaque to static pruning), and the per-day/type
    rollup joins through it — at plan time Spark injects the dim's
    surviving keys into the fact scan's PartitionFilters
    (``dynamicpruningexpression``, SPARK-11150), so the fact reads
    ~1/7 of its directories WITHOUT a literal date predicate anywhere.
    The third layout lever beside Z-order (footer skipping) and
    bucketing (shuffle-free joins).  Oracle = the equivalent filter
    over the raw events.  See layout.py:partitioned_write; a plan test
    pins the dynamicpruning expression in the scan."""
    from mvrepair.operators.layout import partitioned_write

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        (
            F.year("ts") * 10000 + F.month("ts") * 100 + F.dayofmonth("ts")
        ).cast("int").alias("day_int"),
    )
    fact = partitioned_write(ev, "day_int", "/tmp/mvrepair_dpp_events")
    days = ev.select("day_int").distinct().select(
        "day_int", (F.col("day_int") % 7).cast("int").alias("dow_tag")
    )
    days.repartition(1).write.mode("overwrite").parquet(
        "/tmp/mvrepair_dpp_days"
    )
    dim = spark.read.parquet("/tmp/mvrepair_dpp_days").filter(
        F.col("dow_tag") == 1
    )
    return (
        fact.join(F.broadcast(dim), "day_int")
        .groupBy("day_int", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


_ORACLE_EVENTS_DPP = """
SELECT CAST(year(ts) * 10000 + month(ts) * 100 + day(ts) AS INTEGER)
         AS day_int,
       event_type, count(*)::BIGINT AS n_events
FROM events
WHERE (year(ts) * 10000 + month(ts) * 100 + day(ts)) % 7 = 1
GROUP BY 1, 2"""


def q_pricing_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pricing rollup read THROUGH the ORC leg of the source
    surface: lineitem round-trips parquet → ORC → scan (value-exact
    for every column the query touches), then the identical exact-
    DECIMAL aggregate — proving the second columnar format slots in
    with the same pushdown/pruning story (the plan's FileScan is orc,
    PushedFilters intact; pinned by fingerprint).  Oracle = the
    parquet-side SQL, so the round-trip's value-exactness IS the
    hash check.  See sources/parquet.py:roundtrip_orc."""
    from mvrepair.sources.parquet import roundtrip_orc

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_shipdate",
    )
    orc = roundtrip_orc(li, "/tmp/mvrepair_orc_lineitem")
    li2 = orc.filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    qty = F.col("l_quantity").cast(_DEC18)
    price = F.col("l_extendedprice").cast(_DEC18)
    disc_price = price * (F.lit(1.0) - F.col("l_discount")).cast(_DEC12)
    return li2.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty).cast("double").alias("sum_qty"),
        F.sum(disc_price)
        .cast("decimal(28,4)")
        .cast("double")
        .alias("sum_disc_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


_ORACLE_PRICING_ORC = """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(12,10))) AS DECIMAL(28,4)) AS DOUBLE) AS sum_disc_price,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus"""


BUCKET_JOIN_N = 8


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed CO-LOCATED join — the other half of the engine's layout
    surface (zorder = scan pruning; this = shuffle elimination): write
    orders and lineitem as bucket-sorted tables hash-distributed on the
    join key, then join them with ZERO Exchange and ZERO Sort under the
    SortMergeJoin (pinned structurally by tests/test_layout_bucketed.py
    and by this query's frozen plan fingerprint — the only Exchange in
    the whole plan is the 5-row priority aggregate).  At 100 TB this is
    THE repeated fact-fact join strategy: pay the shuffle once at write
    time, never again.  Result algebra (priority-keyed revenue rollup,
    pricing_summary's exact-DECIMAL conventions) is deliberately
    boring — the layout is the operator."""
    from mvrepair.operators import layout as LY

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    ords = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    LY.write_bucketed(li, "mvr_bkt_lineitem", "l_orderkey", BUCKET_JOIN_N)
    LY.write_bucketed(ords, "mvr_bkt_orders", "o_orderkey", BUCKET_JOIN_N)
    j = LY.bucketed_join(
        spark,
        "mvr_bkt_lineitem",
        "mvr_bkt_orders",
        "l_orderkey",
        "o_orderkey",
    )
    price = F.col("l_extendedprice").cast(_DEC18)
    disc_price = price * (F.lit(1.0) - F.col("l_discount")).cast(_DEC12)
    return j.groupBy("o_orderpriority").agg(
        F.sum(disc_price)
        .cast("decimal(28,4)")
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


_ORACLE_BUCKETED_JOIN = """
SELECT o_orderpriority,
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(12,10))) AS DECIMAL(28,4)) AS DOUBLE) AS revenue,
  count(*) AS n_items
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority"""


def _oracle_zorder_layout() -> str:
    from mvrepair.operators.layout import z_value_sql

    m = (1 << ZORDER_BITS) - 1
    shift = 2 * ZORDER_BITS - ZORDER_BUCKET_BITS
    z = z_value_sql(["np", "ns"], bits=ZORDER_BITS)
    return f"""
WITH s AS (
  SELECT min(l_partkey)::BIGINT AS mnp, max(l_partkey)::BIGINT AS mxp,
         min(l_suppkey)::BIGINT AS mns, max(l_suppkey)::BIGINT AS mxs
  FROM lineitem),
n AS (
  SELECT ((l_partkey - mnp) * {m}) // GREATEST(1, mxp - mnp) AS np,
         ((l_suppkey - mns) * {m}) // GREATEST(1, mxs - mns) AS ns,
         l_partkey, l_suppkey
  FROM lineitem, s),
z AS (SELECT {z} >> {shift} AS zb, l_partkey, l_suppkey FROM n)
SELECT zb::BIGINT AS zbucket, count(*)::BIGINT AS n_rows,
  min(l_partkey)::BIGINT AS l_partkey_min,
  max(l_partkey)::BIGINT AS l_partkey_max,
  min(l_suppkey)::BIGINT AS l_suppkey_min,
  max(l_suppkey)::BIGINT AS l_suppkey_max
FROM z GROUP BY 1"""


COMPACT_TARGET_ROWS = 10_000


def q_zorder_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-preserving compaction plan over the Z-layout bucket stats
    — the OPTIMIZE step for the small-files problem: contiguous
    z-bucket runs merged toward ~10k-row output groups, so compaction
    keeps the Morton locality the writer paid for.  Composition: the
    checked zorder_layout stats frame + one cumulative window over the
    ≤64-row bucket frame (pack_sequences' greedy cut rule).  See
    layout.py:compaction_plan."""
    from mvrepair.operators.layout import compaction_plan, zorder_layout

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    stats = zorder_layout(
        li, ["l_partkey", "l_suppkey"],
        bits=ZORDER_BITS, bucket_bits=ZORDER_BUCKET_BITS,
    )
    return compaction_plan(
        stats, "zbucket", "n_rows", COMPACT_TARGET_ROWS
    )


def _oracle_zorder_compaction() -> str:
    from mvrepair.operators.layout import z_value_sql

    m = (1 << ZORDER_BITS) - 1
    shift = 2 * ZORDER_BITS - ZORDER_BUCKET_BITS
    z = z_value_sql(["np", "ns"], bits=ZORDER_BITS)
    return f"""
WITH s AS (
  SELECT min(l_partkey)::BIGINT AS mnp, max(l_partkey)::BIGINT AS mxp,
         min(l_suppkey)::BIGINT AS mns, max(l_suppkey)::BIGINT AS mxs
  FROM lineitem),
n AS (
  SELECT ((l_partkey - mnp) * {m}) // GREATEST(1, mxp - mnp) AS np,
         ((l_suppkey - mns) * {m}) // GREATEST(1, mxs - mns) AS ns
  FROM lineitem, s),
zb AS (SELECT {z} >> {shift} AS zbucket, count(*)::BIGINT AS n_rows
       FROM n GROUP BY 1),
cum AS (
  SELECT zbucket, n_rows,
         CAST(sum(n_rows) OVER (ORDER BY zbucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_rows
           AS BIGINT) AS prev
  FROM zb)
SELECT CAST(prev // {COMPACT_TARGET_ROWS} AS BIGINT) AS group_id,
       count(*)::BIGINT AS n_members,
       CAST(sum(n_rows) AS BIGINT) AS total_rows,
       min(zbucket)::BIGINT AS range_min,
       max(zbucket)::BIGINT AS range_max
FROM cum GROUP BY 1"""


def q_doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity scoring of every document under the corpus's
    own count-trained hashed-bigram model (the CCNet quality-filter
    shape, Wenzek et al. 2020) — exact q20 integer log2-loss, the
    training run itself hash-checked.  Two corpus scans, zero
    corpus-sized shuffles: the model exchange is bucket-bounded (≤B²)
    and scoring map-side-joins the broadcast weight table.  See
    lm.py:bigram_lm_scores."""
    from mvrepair.operators.lm import bigram_lm_scores

    d = _spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return bigram_lm_scores(d, buckets=1024)


def _oracle_doc_perplexity() -> str:
    from mvrepair.functions.exactlog import micro_log2_sql

    ml = micro_log2_sql(
        "SELECT b1, b2, ct, tot FROM w0",
        "(CAST(ct + 1 AS DOUBLE) / CAST(tot + 1024 AS DOUBLE))",
        keep=["b1", "b2"],
        out="w",
    )
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS a FROM documents),
inst AS (
  SELECT doc_id,
    CAST(concat('0x', substr(md5(a[i]), 1, 15)) AS BIGINT) % 1024 AS b1,
    CAST(concat('0x', substr(md5(a[i + 1]), 1, 15)) AS BIGINT) % 1024 AS b2
  FROM toks, unnest(generate_series(1, len(a) - 1)) AS u(i)
  WHERE len(a) >= 2),
cb AS (SELECT b1, b2, count(*) AS ct FROM inst GROUP BY 1, 2),
w0 AS (SELECT b1, b2, ct,
         CAST(sum(ct) OVER (PARTITION BY b1) AS BIGINT) AS tot FROM cb),
m AS ({ml})
SELECT inst.doc_id, count(*)::BIGINT AS n_bigrams,
  CAST(-sum(m.w) AS BIGINT) AS nll_q20,
  CAST(-sum(m.w) AS BIGINT) // count(*) AS bpt_q20
FROM inst JOIN m USING (b1, b2)
GROUP BY 1"""


def q_part_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the two co-purchase centrality signals
    (PageRank + triangle counts) — the hybrid-retrieval combiner
    (Cormack et al. 2009) in exact integer micro-units, as a pure
    composition of two checked pipelines (the ann_recall doctrine).
    Each list cuts to top-k via TakeOrdered BEFORE the k-row rank
    window; fusion is a union + one tiny aggregate.

    r12 optimization round (VERDICT r11 item #1): ONE degree-ranked
    oriented edge frame feeds BOTH legs.  The undirected co-purchase
    frame is derived once (persisted only until the orientation
    checkpoint materializes), oriented ONCE with both endpoint degrees
    riding along (``linkage._orient_edges``), and checkpointed
    hash-partitioned by the wedge key.  The triangle leg consumes it
    directly (``_triangles_from_oriented`` — zero-exchange wedge
    self-join + size-gated broadcast closing probe); the pagerank leg's
    directed edge set is the checkpoint unioned with its swap — exactly
    the both-orientations set the r11 per-leg derivation produced, so
    ranks and counts are bit-identical while the r11 plan's second
    degree aggregation + orientation joins disappear.

    Ownership: the returned frame comes back eagerly materialized and
    CACHED — the caller owns it and should unpersist when done; the
    bench harness clears the cache between repeats for exactly this
    reason (the cosine_neardup_pairs capped-path convention).  The
    oriented checkpoint blocks free via the ContextCleaner when this
    call's references drop."""
    from pyspark import StorageLevel

    from mvrepair.operators.linkage import (
        _checkpoint_oriented,
        _orient_edges,
        _triangles_from_oriented,
        pagerank_micro,
        rrf_fuse,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    items = li.dropDuplicates(["l_orderkey", "l_partkey"])
    a = items.select(
        F.col("l_orderkey").alias("__b"), F.col("l_partkey").alias("item_a")
    )
    b = items.select(
        F.col("l_orderkey").alias("__b"), F.col("l_partkey").alias("item_b")
    )
    und = (
        a.join(b, "__b")
        .filter(F.col("item_a") < F.col("item_b"))
        .select(
            F.col("item_a").alias("__a"), F.col("item_b").alias("__b")
        )
        .dropDuplicates(["__a", "__b"])
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        n_edges = und.count()  # materialize the cache; gate the plan
        oriented = _checkpoint_oriented(spark, _orient_edges(und), n_edges)
    finally:
        und.unpersist()
    # both orientations of every unordered pair, each carrying its
    # source's undirected degree (= the directed out-degree) straight
    # off the checkpoint — pagerank_micro(deg_col=...) then skips its
    # degree aggregation and init join entirely
    directed = oriented.select(
        "src", "dst", F.col("dsrc").alias("deg")
    ).unionByName(
        oriented.select(
            F.col("dst").alias("src"),
            F.col("src").alias("dst"),
            F.col("ddst").alias("deg"),
        )
    )
    nodes = load_table(spark, sf_dir, "part").select("p_partkey")
    pr = pagerank_micro(
        directed, nodes, id_col="p_partkey", iters=PAGERANK_ITERS,
        deg_col="deg",
    ).select(F.col("id").alias("part_id"), F.col("rank_micro").alias("score"))
    tri = _triangles_from_oriented(oriented, n_edges).select(
        F.col("node").alias("part_id"),
        F.col("n_triangles").cast("long").alias("score"),
    )
    fused = rrf_fuse(
        [("pagerank", pr), ("triangles", tri)], id_col="part_id", k=100
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        fused.count()  # materialize while the oriented checkpoint is hot
        from mvrepair import cache as _cache

        _cache.adopt(fused)
    except Exception:
        fused.unpersist()
        raise
    return fused


def _oracle_part_rank_fusion() -> str:
    return f"""
WITH pr AS ({_oracle_part_pagerank()}),
tri AS ({_ORACLE_PART_TRIANGLES}),
prk AS (
  SELECT part_id, row_number() OVER (ORDER BY rank_micro DESC, part_id) AS r
  FROM (SELECT * FROM pr ORDER BY rank_micro DESC, part_id LIMIT 100)),
trk AS (
  SELECT part_id, row_number() OVER (ORDER BY n_triangles DESC, part_id) AS r
  FROM (SELECT * FROM tri ORDER BY n_triangles DESC, part_id LIMIT 100)),
u AS (SELECT part_id, r, 'pagerank' AS l FROM prk
      UNION ALL SELECT part_id, r, 'triangles' AS l FROM trk),
f AS (
  SELECT part_id,
    CAST(sum(1000000 // (60 + r)) AS BIGINT) AS rrf_micro,
    CAST(max(CASE WHEN l = 'pagerank' THEN r END) AS BIGINT)
      AS rank_pagerank,
    CAST(max(CASE WHEN l = 'triangles' THEN r END) AS BIGINT)
      AS rank_triangles
  FROM u GROUP BY 1)
SELECT part_id, rrf_micro, rank_pagerank, rank_triangles
FROM f ORDER BY rrf_micro DESC, part_id LIMIT 100"""


# ---------------------------------------------------------------------------
# round-10 wave 4: grouped regression (exact-integer OLS + Pearson),
# association rules, multi-probe LSH, contrastive negative mining
# ---------------------------------------------------------------------------


LTTB_BUCKETS = 12


def q_events_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB downsampling of each type's hourly count series to
    2 + 12 visually-dominant points (Steinarsson 2013) — the dashboard
    decimation beside the EWMA/MAD monitors: extremes survive where
    averaging flattens them.  Exact integer triangle geometry (the
    centroid never materializes — areas compare scaled by the bucket
    count), left-to-right dependence as 12 one-action rounds (the
    kcenter discipline) so the oracle replays the chain block-by-
    block.  Every frame past the rank window is series-domain-sized.
    See temporal.py:lttb_downsample."""
    from mvrepair.operators.temporal import lttb_downsample

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("event_type"),
        F.expr(
            "CAST(unix_micros(CAST(date_trunc('hour', ts) AS TIMESTAMP))"
            " DIV 3600000000 AS BIGINT)"
        ).alias("hx"),
    ).agg(F.count(F.lit(1)).alias("hy"))
    return lttb_downsample(
        hourly, "event_type", "hx", "hy", buckets=LTTB_BUCKETS
    ).select(
        F.col("k").alias("event_type"), "bucket", "x", "y"
    )


def _oracle_events_lttb() -> str:
    B = LTTB_BUCKETS
    blocks = []
    for b in range(B):
        blocks.append(
            f"""s{b} AS MATERIALIZED (
  SELECT k, CAST({b} AS INT) AS bucket, x, y FROM (
    SELECT i.k, i.x, i.y,
      row_number() OVER (PARTITION BY i.k ORDER BY
        abs((p.px * c.c - c.sx) * (i.y - p.py)
            - (p.px - i.x) * (c.sy - p.py * c.c)) DESC,
        i.x ASC) AS r
    FROM interior i JOIN p{b} p ON i.k = p.k
    JOIN cents c ON c.k = i.k AND c.b = {b + 1}
    WHERE i.b = {b}) t WHERE r = 1),
p{b + 1} AS MATERIALIZED (
  SELECT p.k, coalesce(s.x, p.px) AS px, coalesce(s.y, p.py) AS py
  FROM p{b} p LEFT JOIN s{b} s ON p.k = s.k)"""
        )
    body = ",\n".join(blocks)
    sel_union = "\nUNION ALL ".join(
        f"SELECT * FROM s{b}" for b in range(B)
    )
    return f"""
WITH base AS (
  SELECT event_type AS k,
         CAST(epoch_us(date_trunc('hour', ts)) // 3600000000 AS BIGINT)
           AS x,
         count(*)::BIGINT AS y
  FROM events GROUP BY 1, 2),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY k ORDER BY x) AS rn,
         count(*) OVER (PARTITION BY k) AS n
  FROM base),
frst AS (SELECT k, CAST(-1 AS INT) AS bucket, x, y FROM ranked
         WHERE rn = 1),
lst AS (SELECT k, CAST({B} AS INT) AS bucket, x, y FROM ranked
        WHERE rn = n),
interior AS MATERIALIZED (
  SELECT k, x, y, CAST((rn - 2) * {B} // (n - 2) AS INT) AS b
  FROM ranked WHERE rn > 1 AND rn < n),
cents AS (
  SELECT k, b, CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy, count(*)::BIGINT AS c
  FROM interior GROUP BY 1, 2
  UNION ALL
  SELECT k, CAST({B} AS INT), x, y, 1 FROM lst),
p0 AS MATERIALIZED (SELECT k, x AS px, y AS py FROM frst),
{body}
SELECT k AS event_type, bucket, x, y FROM (
  SELECT * FROM frst UNION ALL SELECT * FROM lst
  UNION ALL {sel_union}) u"""


def q_event_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Theil-Sen trend over the hourly count series —
    the ROBUST companion of event_trend's OLS (median of all pairwise
    slopes, ~29% breakdown vs OLS's zero).  The pairwise frame is
    time-DOMAIN-sized squared per type (hours², never corpus rows);
    one type-keyed self-join + one rank window picks the exact lower
    median under a total order.  See regression.py:theilsen_slope."""
    from mvrepair.operators.regression import theilsen_slope

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        (
            (
                F.unix_micros(F.date_trunc("hour", F.col("ts")))
                / F.lit(3_600_000_000)
            ).cast("long")
        ).alias("__idx"),
    ).agg(F.count(F.lit(1)).alias("__cnt"))
    return theilsen_slope(hourly, "event_type", "__idx", "__cnt")


_ORACLE_EVENT_THEILSEN = """
WITH b AS (
  SELECT event_type,
         CAST(epoch_us(date_trunc('hour', ts)) // 3600000000 AS BIGINT)
           AS x,
         count(*)::BIGINT AS y
  FROM events GROUP BY 1, 2),
pairs AS (
  -- explicit FLOOR division (the pmod identity): DuckDB's // truncates
  -- toward zero, which diverges from the floored slope on negatives
  SELECT a.event_type AS k, a.x AS x1, bb.x AS x2,
         CAST((dy - ((dy % dx) + dx) % dx) // dx AS BIGINT) AS s
  FROM b a JOIN b bb
    ON a.event_type = bb.event_type AND bb.x > a.x,
  LATERAL (SELECT (bb.y - a.y) * 1000000 AS dy, bb.x - a.x AS dx) q),
ranked AS (
  SELECT k, s,
         row_number() OVER (PARTITION BY k ORDER BY s, x1, x2) AS rn,
         count(*) OVER (PARTITION BY k) AS np
  FROM pairs),
med AS (SELECT k, s, np FROM ranked WHERE rn = (np + 1) // 2),
pts AS (SELECT event_type AS k, count(*)::BIGINT AS n_points
        FROM b GROUP BY 1)
SELECT med.k AS event_type, pts.n_points,
       CAST(med.np AS BIGINT) AS n_pairs,
       med.s AS slope_micro
FROM med JOIN pts ON med.k = pts.k"""


def q_event_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend over the hourly count series: exact
    integer normal-equation sums (shift-invariant, so no recentering
    pass), DECIMAL(38,0) cross products, portable signed floor division
    to micro units.  Two hash aggregates, no window, no sort — the whole
    operator is a partial-agg tree at any scale.  See
    regression.py:grouped_trend."""
    from mvrepair.operators.regression import grouped_trend

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        (
            (
                F.unix_micros(F.date_trunc("hour", F.col("ts")))
                / F.lit(3_600_000_000)
            ).cast("long")
        ).alias("__idx"),
    ).agg(F.count(F.lit(1)).alias("__cnt"))
    return grouped_trend(hourly, "event_type", F.col("__idx"), F.col("__cnt"))


_ORACLE_EVENT_TREND = """
WITH b AS (
  SELECT event_type,
         epoch_us(date_trunc('hour', ts)) // 3600000000 AS idx,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2),
s AS (
  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(idx) AS HUGEINT) AS sx, CAST(sum(n) AS HUGEINT) AS sy,
         CAST(sum(CAST(idx AS HUGEINT) * n) AS HUGEINT) AS sxy,
         CAST(sum(CAST(idx AS HUGEINT) * idx) AS HUGEINT) AS sxx
  FROM b GROUP BY 1),
d AS (
  SELECT event_type, n,
         (n * sxy - sx * sy) * 1000000 AS num,
         (n * sxx - sx * sx) AS den,
         sy * 1000000 AS lnum
  FROM s WHERE n >= 2 AND (n * sxx - sx * sx) > 0)
SELECT event_type, CAST(n AS BIGINT) AS n_points,
  CAST((num - ((num % den) + den) % den) // den AS BIGINT) AS slope_micro,
  CAST((lnum - ((lnum % n) + n) % n) // n AS BIGINT) AS level_micro
FROM d"""


def q_part_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf slope of the part-popularity distribution: OLS fit of
    micro_log2(freq) against micro_log2(rank) — THE power-law
    diagnostic (slope ≈ −s for freq ∝ rank^−s) a corpus planner reads
    before head/tail sampling decisions; here over l_partkey demand
    (the fixture vocabulary is 31 tokens, too few points for a
    meaningful fit).  Pure composition of two exact engines: the
    micro_log2 ladder on exact counts/ranks, then grouped_trend's
    DECIMAL(38,0) normal-equation sums with portable signed floor
    division.  One key-keyed count (the corpus pass) + one rank window
    over the key-domain frame + a single-group aggregate."""
    from mvrepair.functions.exactlog import micro_log2
    from mvrepair.operators.regression import grouped_trend

    freq = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    ranked = freq.select(
        "f",
        F.row_number()
        .over(Window.orderBy(F.col("f").desc(), F.col("l_partkey").asc()))
        .alias("rnk"),
    )
    pts = ranked.select(
        F.lit("zipf").alias("corpus"),
        micro_log2(F.col("rnk").cast("double")).alias("lx"),
        micro_log2(F.col("f").cast("double")).alias("ly"),
    )
    return grouped_trend(pts, "corpus", F.col("lx"), F.col("ly"))


def _oracle_part_zipf() -> str:
    from mvrepair.functions.exactlog import micro_log2_sql

    inner = """
WITH freq AS (
  SELECT l_partkey, count(*)::BIGINT AS f FROM lineitem GROUP BY 1)
SELECT f, row_number() OVER (ORDER BY f DESC, l_partkey) AS rnk
FROM freq"""
    step1 = micro_log2_sql(
        inner, "CAST(rnk AS DOUBLE)", keep=["f"], out="lx"
    )
    step2 = micro_log2_sql(
        step1, "CAST(f AS DOUBLE)", keep=["lx"], out="ly"
    )
    return f"""
WITH s AS (
  SELECT 'zipf' AS corpus, CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(lx) AS HUGEINT) AS sx, CAST(sum(ly) AS HUGEINT) AS sy,
         CAST(sum(CAST(lx AS HUGEINT) * ly) AS HUGEINT) AS sxy,
         CAST(sum(CAST(lx AS HUGEINT) * lx) AS HUGEINT) AS sxx
  FROM ({step2})),
d AS (
  SELECT corpus, n,
         (n * sxy - sx * sy) * 1000000 AS num,
         (n * sxx - sx * sx) AS den,
         sy * 1000000 AS lnum
  FROM s WHERE n >= 2 AND (n * sxx - sx * sx) > 0)
SELECT corpus, CAST(n AS BIGINT) AS n_points,
  CAST((num - ((num % den) + den) % den) // den AS BIGINT) AS slope_micro,
  CAST((lnum - ((lnum % n) + n) % n) // n AS BIGINT) AS level_micro
FROM d"""


def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type EWMA (α=1/8) over the hourly event-count series — the
    exponential-decay smoother beside the trailing-mean and MAD
    detectors, as an exact integer micro-unit recurrence folded
    IN-PLAN per key (the km_survival fold, grouped) with a
    recursive-CTE oracle.  One hourly count pass is the corpus-sized
    work; the fold state per type is its own series.  See
    temporal.py:ewma_smooth."""
    from mvrepair.operators.temporal import ewma_smooth

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("event_type"),
        F.expr(
            "CAST(unix_micros(CAST(date_trunc('hour', ts) AS TIMESTAMP))"
            " DIV 3600000000 AS BIGINT)"
        ).alias("idx"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return ewma_smooth(hourly, "event_type", "idx", "n")


_ORACLE_EVENTS_EWMA = """
WITH RECURSIVE hourly AS (
  SELECT event_type,
         epoch_us(date_trunc('hour', ts)) // 3600000000 AS t,
         count(*)::BIGINT AS x
  FROM events GROUP BY 1, 2),
steps AS (
  SELECT event_type, t, x,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY t)
              AS BIGINT) AS i
  FROM hourly),
ew AS (
  SELECT event_type, i, t, x,
         (1 * x * 1000000 + 7 * (x * 1000000)) // 8 AS sm,
         CAST(0 AS BIGINT) AS dev
  FROM steps WHERE i = 1
  UNION ALL
  SELECT s.event_type, s.i, s.t, s.x,
         (1 * s.x * 1000000 + 7 * ew.sm) // 8 AS sm,
         s.x * 1000000 - ew.sm AS dev
  FROM ew JOIN steps s
    ON s.event_type = ew.event_type AND s.i = ew.i + 1)
SELECT event_type, t, x, CAST(sm AS BIGINT) AS s_micro,
       CAST(dev AS BIGINT) AS dev_micro
FROM ew"""


def q_events_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Holt linear (level + trend) smoothing of the hourly
    event-count series — the TRENDING companion of events_ewma: the
    one-step forecast is level + slope, so a steady ramp's surprise
    decays toward 0 where EWMA's settles at a constant offset.  Exact
    integer recurrences with explicit FLOOR division (the trend state
    goes negative, where DIV and // diverge — the Theil-Sen lesson
    applied to a recurrence); oracle = recursive CTE with two state
    columns.  See temporal.py:holt_smooth."""
    from mvrepair.operators.temporal import holt_smooth

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("event_type"),
        F.expr(
            "CAST(unix_micros(CAST(date_trunc('hour', ts) AS TIMESTAMP))"
            " DIV 3600000000 AS BIGINT)"
        ).alias("idx"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return holt_smooth(hourly, "event_type", "idx", "n")


_ORACLE_EVENTS_HOLT = """
WITH RECURSIVE hourly AS (
  SELECT event_type,
         epoch_us(date_trunc('hour', ts)) // 3600000000 AS t,
         count(*)::BIGINT AS x
  FROM events GROUP BY 1, 2),
steps AS (
  SELECT event_type, t, x,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY t)
              AS BIGINT) AS i
  FROM hourly),
h AS (
  SELECT event_type, i, t, x,
         CAST(x * 1000000 AS BIGINT) AS l,
         CAST(0 AS BIGINT) AS b,
         CAST(0 AS BIGINT) AS dev
  FROM steps WHERE i = 1
  UNION ALL
  SELECT s.event_type, s.i, s.t, s.x,
         -- explicit FLOOR division: DuckDB's // truncates toward zero,
         -- and the trend state goes negative
         (nl - ((nl % 8) + 8) % 8) // 8 AS l,
         (nb - ((nb % 4) + 4) % 4) // 4 AS b,
         s.x * 1000000 - (h.l + h.b) AS dev
  FROM h JOIN steps s
    ON s.event_type = h.event_type AND s.i = h.i + 1,
  LATERAL (SELECT 1 * s.x * 1000000 + 7 * (h.l + h.b) AS nl) ql,
  LATERAL (SELECT 1 * ((nl - ((nl % 8) + 8) % 8) // 8 - h.l)
                  + 3 * h.b AS nb) qb)
SELECT event_type, t, x, CAST(l AS BIGINT) AS l_micro,
       CAST(b AS BIGINT) AS b_micro, CAST(dev AS BIGINT) AS dev_micro
FROM h"""


def q_value_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Pearson correlation between hour-of-day and the
    micro-quantized value column: the three determinants are exact
    DECIMAL(38,0); only the final divide-by-sqrt-product runs in IEEE
    doubles (the cosine_micro doctrine).  One map-combinable aggregate.
    See regression.py:grouped_correlation."""
    from mvrepair.operators.regression import grouped_correlation

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").alias("__hod"),
        F.floor(F.col("value") * 1_000_000).cast("long").alias("__mv"),
    )
    return grouped_correlation(ev, "event_type", F.col("__hod"), F.col("__mv"))


_ORACLE_VALUE_CORRELATION = """
WITH p AS (
  SELECT event_type,
         CAST(hour(ts) AS BIGINT) AS x,
         CAST(floor(value * 1000000) AS BIGINT) AS y
  FROM events),
s AS (
  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
  FROM p GROUP BY 1),
d AS (
  SELECT event_type, n,
         CAST(n * sxy - sx * sy AS DOUBLE) AS num,
         (n * sxx - sx * sx) AS varx,
         (n * syy - sy * sy) AS vary
  FROM s WHERE n >= 2 AND (n * sxx - sx * sx) > 0
               AND (n * syy - sy * sy) > 0)
SELECT event_type, CAST(n AS BIGINT) AS n_points,
  CAST(floor(1000000 * (num / (sqrt(CAST(varx AS DOUBLE))
                               * sqrt(CAST(vary AS DOUBLE))))) AS BIGINT)
    AS r_micro
FROM d"""


BASKET_RULES_K = 50
BASKET_RULES_MIN_PAIR = 2


def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed association rules over order baskets: exact integer
    support / confidence / lift in micro units, top-50 by lift with a
    full deterministic tie-break.  The pair frame is basket_pairs'
    co-partitioned self-join; the directed expansion is a row-local
    explode; the basket total rides a broadcast 1-row frame.  See
    linkage.py:association_rules."""
    from mvrepair.operators.linkage import association_rules

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    return association_rules(
        li, min_pair_baskets=BASKET_RULES_MIN_PAIR, k=BASKET_RULES_K
    )


def _oracle_basket_rules() -> str:
    return f"""
WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
tot AS (SELECT CAST(count(DISTINCT b) AS HUGEINT) AS n_total FROM items),
ic AS (SELECT i, CAST(count(*) AS HUGEINT) AS n_item FROM items GROUP BY 1),
p AS (SELECT a.i AS item_a, bb.i AS item_b, CAST(count(*) AS HUGEINT) AS n_pair
      FROM items a JOIN items bb ON a.b = bb.b AND a.i < bb.i
      GROUP BY 1, 2 HAVING count(*) >= {BASKET_RULES_MIN_PAIR}),
d AS (SELECT item_a AS antecedent, item_b AS consequent, n_pair FROM p
      UNION ALL
      SELECT item_b AS antecedent, item_a AS consequent, n_pair FROM p),
r AS (SELECT d.antecedent, d.consequent, d.n_pair,
             ia.n_item AS n_ante, ib.n_item AS n_cons, tot.n_total
      FROM d JOIN ic ia ON d.antecedent = ia.i
             JOIN ic ib ON d.consequent = ib.i, tot)
SELECT antecedent, consequent, CAST(n_pair AS BIGINT) AS n_pair,
  CAST((n_pair * 1000000) // n_total AS BIGINT) AS support_micro,
  CAST((n_pair * 1000000) // n_ante AS BIGINT) AS confidence_micro,
  CAST((n_pair * 1000000 * n_total) // (n_ante * n_cons) AS BIGINT)
    AS lift_micro
FROM r
ORDER BY lift_micro DESC, confidence_micro DESC, antecedent, consequent
LIMIT {BASKET_RULES_K}"""


def q_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN (Lv et al. 2007): the query side probes its
    bucket plus every single-bit flip — recall recovered on the QUERY
    path with the corpus hashed and shuffled once (unlike multi-table
    LSH, which re-shuffles the corpus per table).  See
    similarity.py:lsh_multiprobe_topk."""
    emb = _spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return S.lsh_multiprobe_topk(emb, queries, dim=64, k=5)


def _oracle_ann_multiprobe() -> str:
    def dot(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, 65), i -> {a}.qv[i] * {b}.qv[i]))"
        )

    return f"""
WITH b AS (
  SELECT vec_id, qv, {_lsh_bucket_sql()} AS bucket
  FROM (SELECT vec_id, {_QUANT_SQL} AS qv FROM embeddings)
),
q0 AS (SELECT * FROM b WHERE vec_id % 50 = 0),
q AS (
  SELECT q0.vec_id, q0.qv,
         CASE WHEN t.p = 0 THEN q0.bucket
              ELSE xor(q0.bucket, CAST(1 AS BIGINT) << (t.p - 1)) END AS probe
  FROM q0, range(0, {S._N_PLANES + 1}) t(p)
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    CAST({dot('q', 'c')} AS DOUBLE)
      / (sqrt(CAST({dot('q', 'q')} AS DOUBLE)) * sqrt(CAST({dot('c', 'c')} AS DOUBLE))) AS sim
  FROM q JOIN b c ON q.probe = c.bucket AND q.vec_id <> c.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank::INTEGER AS rank,
       CAST(floor(sim * 1000000) AS BIGINT) AS cosine_micro
FROM ranked WHERE rank <= 5"""


CONTRASTIVE_K = 3
CONTRASTIVE_BUCKETS = 64


def q_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative-pair mining for contrastive training: each
    doc draws 3 pseudo-random negatives from a 64-bucket representative
    table — reproducible on any partitioning (the hash_split doctrine),
    and the corpus never shuffles: one map-combinable 64-row election
    agg plus a broadcast join.  See sampling.py:contrastive_negatives."""
    from mvrepair.operators.sampling import contrastive_negatives

    docs = _docs(spark, sf_dir).select("doc_id")
    return contrastive_negatives(
        docs, n_negatives=CONTRASTIVE_K, n_buckets=CONTRASTIVE_BUCKETS
    )


def _oracle_contrastive_pairs() -> str:
    h = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"
    return f"""
WITH hsh AS (
  SELECT doc_id,
         {h.format(x="CAST(doc_id AS VARCHAR)")} % {CONTRASTIVE_BUCKETS}
           AS bucket,
         {h.format(x="CAST(doc_id AS VARCHAR) || '#rep'")} AS rh
  FROM documents),
reps AS (
  SELECT bucket, doc_id AS negative_id FROM (
    SELECT bucket, doc_id,
           row_number() OVER (PARTITION BY bucket ORDER BY rh, doc_id) AS rn
    FROM hsh) WHERE rn = 1),
a AS (
  SELECT doc_id AS anchor_id, t.j,
         {h.format(x="CAST(doc_id AS VARCHAR) || '#' || CAST(t.j AS VARCHAR)")}
           % {CONTRASTIVE_BUCKETS} AS bucket
  FROM documents, range(1, {CONTRASTIVE_K + 1}) t(j))
SELECT anchor_id, CAST(j AS INTEGER) AS j, negative_id
FROM a JOIN reps USING (bucket)
WHERE anchor_id <> negative_id"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: full reconciliation report at sf0.001."""
    return q_mv_classify(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry of every implemented query/operator.

    ORDERING CONTRACT: the driver's CORRECTNESS gate checks the FIRST 50
    entries of this dict.  The first 50 therefore cover every distinct
    component family (reconcile/repair core, analytics, temporal joins,
    text, sampling, term stats, dedup, ANN, k-means, streaming,
    multimodal, plus the round-6 algebras: NB classifier, span removal,
    DSIR, budget fill, snapshot diff, skew profile, dedup apply, log
    compaction).  Entries past position 50 are deliberate PLAN TWINS of
    an already-checked query (same physical plan shape, different
    parameters) — each one's twin is named in a comment — and remain
    under the local gate (`tools/check_oracle.py` verifies every entry).
    Round-7 rotation: the 8 genuinely-new round-6 algebras displaced 8
    true plan twins (each demoted entry was driver-hash-green through
    round 6 — CORRECTNESS_r06.json — and keeps a frozen plan
    fingerprint + local-gate row past the window).  Round-8 rotation:
    the 3 new algebras (deletion-variant fuzzy linkage, basket pair
    mining, transition matrix) displaced multimodal_meta /
    ann_cosine_topk / distinct_docs_kmv (driver-green r1-r7, frozen
    fingerprints + local-gate rows).  Round-8 wave 2: quality
    percentiles displaced top_revenue_orders, then gap-fill+LOCF,
    triangle counting, cohort retention, and KL source-divergence
    displaced mv_stats / text_quality / doc_repetition / doc_chunks —
    each a true plan twin of a still-checked query (named in its
    comment), driver-green r1-r7, frozen fingerprint + local-gate row.
    part_rank_fusion stays past-window by the composition doctrine
    (ann_recall precedent: both of its components are driver-checked).
    Round-8 wave 4: event_funnel, events_anomaly, posting_lists, and
    collocations displaced heavy_hitters / mv_repair_apply /
    mv_upserts_stream / dedup_exact_stream — each demoted entry a plan
    twin of a still-checked query (named in its comment), driver-green
    r1-r7, frozen fingerprint + local-gate row; streaming keeps one
    driver-checked representative per distinct shape (stateful agg,
    foreachBatch reconcile, static-index micro-batch).
    Round-8 wave 5: jaccard_join_exact (exact-recall similarity join —
    a genuinely new candidate-generation algebra: prefix+positional
    filtering) and activity_islands (variable-length interval
    coalescing — gaps-and-islands, inexpressible as session_window)
    displaced mv_report_text / top_users_per_event — both true plan
    twins of still-checked queries (named in their comments),
    driver-green r1-r7, frozen fingerprint + local-gate row.
    Round-8 wave 6: part_skyline (Pareto dominance — a genuinely new
    algebra: the sort-based closed form of a non-equi dominance join)
    displaced regional_revenue (twin: pricing_summary, same fact-agg
    with broadcast-dim pruning).  The other wave-6 additions are twins
    or compositions of driver-checked pipelines by construction
    (doc_perplexity/nb_classify, part_kcore/part_pagerank,
    minhash_calibration/neardup_minhash, event_paths/event_transitions,
    scd2_history/activity_islands, similar_parts/jaccard_join_exact,
    semantic_leakage/embedding_neardup) and sit past-window with frozen
    fingerprints + local-gate rows.
    Round-9 rotation: orders_pivot promoted (native PivotFirst is a
    genuinely distinct physical operator — its pinned plan differed
    from any rollup twin; r8 verdict item #4), displacing
    simhash_neardup, whose banded-signature bucket-join shape is the
    plan twin of the still-checked neardup_minhash (and whose signature
    algebra stays local-gated via `simhash`).  zorder_layout promoted
    (Morton-interleave data layout — a genuinely new integer-bit
    algebra and the engine's scan-pruning surface), displacing
    dsir_scores, whose count-trained broadcast-model scoring is the
    plan twin of the still-checked nb_classify (the doc_perplexity
    doctrine).  pq_topk promoted (product-quantized ADC scoring — the
    compressed-domain ANN algebra), displacing semantic_dedup, whose
    trained build is kmeans_clusters verbatim and whose sweep is a
    cluster-keyed rank window.
    Round-10 wave-5 rotation: view_purchase_stream promoted (the
    stream-stream interval join — two-sided watermarked state, the one
    streaming shape none of the three in-window streaming reps
    exercises), displacing source_divergence, whose hashed-token
    count-model + micro_log2 scoring is the nb_classify family (the
    dsir_scores / doc_perplexity twin doctrine).  The wave's other
    additions (cms_audit, user_overlap_kmv, orders_fd_profile,
    embedding_pca) sit past-window as twins named in their comments.
    Round-11 rotation (r10 verdict item #4): events_hll promoted —
    the HLL register fold + inclusion-exclusion estimate is a
    genuinely new numeric ESTIMATOR ALGEBRA that had only plan-shape
    twin coverage (key_skew); bm25_rank demoted as a term-stat-shuffle
    twin of the still-checked posting_lists (the tfidf_topterms
    precedent), frozen fingerprint + local-gate row kept.
    Round-11 rotation (cont.): embed_kcenter promoted — the greedy
    selection loop (collected argmax rounds + literal-center map-side
    assignment, oracle replaying every round) is a genuinely new
    ITERATIVE algebra; event_trend demoted as the plan twin of
    pricing_summary (its own docstring: two hash aggregates, no
    window, no sort — the partial-agg tree), the OLS algebra staying
    locally gated, value_correlation riding the same rep.  The other
    round-11-cont additions (bucketed_join, embed_mmr, the drift/
    WOE/Benford/KS/Gini/Zipf monitor set, hard_negatives,
    crawl_budget, touch_attribution, km_survival) sit past-window as
    twins named in their comments.
    """
    return {
        # reconciliation core (SURVEY §2 O1-O12, O16-O19)
        "mv_classify": q_mv_classify,
        # repair planning/apply (O13-O15)
        "mv_repair_upserts": q_mv_upserts,
        "repair_log_compact": q_repair_log_compact,  # LWW durable-log compaction (r6 family, promoted r7)
        # analytics surface
        "pricing_summary": q_pricing_summary,
        "orders_rollup": q_orders_rollup,
        "orders_pivot": q_orders_pivot,  # native PivotFirst transpose (promoted r9)
        "part_skyline": q_part_skyline,  # Pareto-dominance frontier (r8 wave 6)
        "lapsed_customers": q_lapsed_customers,
        # temporal joins (one per distinct join algorithm)
        "purchase_attribution": q_purchase_attribution,  # as-of join
        "sessions_in_maintenance": q_sessions_in_maintenance,  # range/interval overlap
        "event_sessions": q_event_sessions,  # sessionization
        "activity_islands": q_activity_islands,  # variable-length interval coalescing (r8 wave 5)
        # text analysis
        "text_stats": q_text_stats,
        "doc_splits": q_doc_splits,
        # round-11 rotation (r10 verdict item #4): events_hll promoted —
        # the HLL register fold + inclusion-exclusion is a genuinely new
        # ESTIMATOR ALGEBRA (max-rho register algebra, engine-portable
        # salted-md5 hashing, exact-audit column) that had only plan-
        # shape twin coverage through key_skew; bm25_rank demoted as a
        # true term-stat-shuffle twin of the still-checked posting_lists
        # (tfidf_topterms precedent), frozen fingerprint + local gate
        "events_hll": q_events_hll,
        # data-quality filters (gram-hash family rep: substring dup)
        "substring_dupes": q_substring_dupes,
        # training-sequence layout (packing family rep)
        "pack_sequences": q_pack_sequences,
        # sampling / data selection (r6 families, promoted r7)
        "token_budget_fill": q_token_budget_fill,
        # data layout (promoted r9: Morton interleave is a genuinely new
        # integer-bit algebra; the scan-pruning surface)
        "zorder_layout": q_zorder_layout,
        # dedup
        "dedup_exact": q_dedup_exact,
        "neardup_minhash": q_neardup_minhash,
        "jaccard_join_exact": q_jaccard_join_exact,  # exact-recall prefix+positional-filter join (r8 wave 5)
        "dedup_clusters": q_dedup_clusters,
        # bloom semi-join reduction (promoted r10: deterministic
        # runtime-filter pruning is a genuinely new algebra — bitmap
        # build + map-side bit-test below the join; displaced
        # dedup_apply, a composition of the still-checked
        # dedup_clusters loop + the lapsed_customers-family anti-join)
        "orders_bloom_prune": q_orders_bloom_prune,
        "span_dedup": q_span_dedup,  # r6 family, promoted r7
        "contamination_ngram": q_contamination_ngram,
        # snapshot versioning + shuffle diagnostics + classification (r6, promoted r7)
        # r10 promotion: merkle range-digest reconcile (Cassandra
        # anti-entropy's algorithm) takes corpus_diff's slot — corpus_diff
        # is a true plan twin of mv_classify (full-outer join + existence
        # classification on digest rows, the O8/O9 shape) and the merkle
        # drill stage subsumes its row-level digest-compare join
        "mv_merkle_keys": q_mv_merkle_keys,
        "key_skew": q_key_skew,
        "nb_classify": q_nb_classify,
        # similarity search + clustering
        "embedding_neardup": q_embedding_neardup,
        "kmeans_clusters": q_kmeans_clusters,
        # compressed-domain ANN (promoted r9: ADC lookup-table scoring
        # over product-quantized codes is a genuinely new algebra)
        "pq_topk": q_pq_topk,
        # native hopping window (promoted r10: the row-local Expand of
        # slide-count slot assignments under the tumbling agg is a
        # genuinely distinct physical shape — Generate/Expand below the
        # agg; displaced ann_ivf_topk, whose coarse-probe equi-join +
        # exact rerank is pq_topk's candidate generator verbatim)
        "events_sliding": q_events_sliding,
        # streaming (one per distinct streaming shape: stateful agg,
        # foreachBatch reconcile, static-index micro-batch)
        "events_hourly_stream": q_events_hourly_stream,
        "mv_classify_stream": q_mv_classify_stream,
        "neardup_stream": q_neardup_stream,
        # multimodal
        "multimodal_decode": q_multimodal_decode,
        # record linkage, basket mining, transitions, graph centrality (r8)
        "name_linkage": q_name_linkage,
        "basket_pairs": q_basket_pairs,
        "event_transitions": q_event_transitions,
        "part_pagerank": q_part_pagerank,
        "quality_percentiles": q_quality_percentiles,
        # round-8 families (promoted r8): gap-fill, triangles, cohort, KL
        "events_gapfill": q_events_gapfill,
        "part_triangles": q_part_triangles,
        "cohort_retention": q_cohort_retention,
        # round-10 wave-5 promotion: the stream-stream interval join is
        # the one streaming shape no in-window rep exercises (two-sided
        # watermarked state; the three existing streaming reps cover
        # stateful agg / foreachBatch reconcile / static-index
        # micro-batch).  source_divergence demoted as a true twin of
        # nb_classify (the count-trained hashed-token distribution
        # family with micro_log2 scoring — the dsir/doc_perplexity
        # precedent), frozen fingerprint + local-gate row kept.
        "view_purchase_stream": q_view_purchase_stream,
        # round-11 session-3 rotation: events_ams_f2 promoted — the AMS
        # tug-of-war F2 estimator is the session's genuinely new
        # numeric pipeline (sign Expand → bounded Z fold → block
        # median, with the exact self-join-size audit), the r10 task-#4
        # doctrine events_hll followed; event_funnel demoted as a plan
        # twin of the gapfill family's key-keyed Exchange+Sort window
        # scan (the events_anomaly precedent), frozen fingerprint +
        # local-gate row kept.
        "events_ams_f2": q_events_ams_f2,
        # round-11 rotation (cont.): embed_kcenter promoted — the greedy
        # max-min selection loop (iterative collected argmax + literal-
        # center map-side assignment) is a genuinely new ITERATIVE
        # algebra whose oracle replays every round; event_trend demoted
        # as a plan twin of the in-window pricing_summary (its own
        # docstring's words: two hash aggregates, no window, no sort —
        # the partial-agg tree shape; the regression ALGEBRA stays
        # locally gated, and value_correlation rides the same family)
        "embed_kcenter": q_embed_kcenter,
        "posting_lists": q_posting_lists,
        "collocations": q_collocations,
        # ---- position 51+ : plan twins of checked queries (local gate only) ----
        # demoted in the round-8 rotation (driver-green through r7):
        "top_revenue_orders": q_top_revenue_orders,  # twin: pricing_summary (fact-agg family; the dim joins broadcast-prune above it, same shape as regional_revenue's pinned plan) — driver-green r1-r7
        "rolling_fingerprint": q_rolling_fingerprint,  # twin: text_stats (join-free per-row projection — the token_counts/text_scrub precedent) — driver-green r1-r7
        "multimodal_meta": q_multimodal_meta,  # twin: multimodal_decode (same Arrow mapInPandas plumbing; meta is the projection half of decode) — driver-green r1-r7
        "ann_cosine_topk": q_ann_topk,  # twin: ann_ivf_topk (top-k rerank shape) + ann_recall (runs the identical brute pipeline as its first component, local gate) — driver-green r1-r7
        "distinct_docs_kmv": q_distinct_docs_kmv,  # twin: heavy_hitters (bottom-k/top-k TakeOrderedAndProject sketch over the same token stream) — driver-green r1-r7
        # demoted in the round-7 rotation (driver-green through r6):
        "mv_repair_deletes": q_mv_deletes,  # twin: mv_repair_apply (runs the same guarded anti-join delete probe as its first branch) + mv_repair_upserts (cell planner)
        "purchase_context": q_purchase_context,  # twin: sessions_in_maintenance (same range-join physical strategy: non-equi conditions under an equi/broadcast join)
        "neardup_minhash_capped": q_neardup_minhash_capped,  # twin: neardup_minhash (identical pipeline + a size-filter on buckets)
        "ann_lsh_topk": q_ann_lsh_topk,  # twin: ann_ivf_topk (bucket-prune + in-bucket rerank, same TakeOrdered shape)
        "events_latest_stream": q_events_latest_stream,  # twin: dedup_exact_stream (JVM-state keep-one-per-key streaming agg) + events_latest (batch result equality, local gate)
        "sessions_stream": q_sessions_stream,  # twin: event_sessions (IDENTICAL oracle SQL — same session semantics, session_window streaming formulation)
        "multimodal_features": q_multimodal_features,  # twin: multimodal_decode (same Arrow mapInPandas plumbing, feature projection instead of decode)
        "multimodal_frames": q_multimodal_frames,  # twin: multimodal_decode (same Arrow mapInPandas plumbing, per-frame explode)
        # pre-round-7 twins:
        "events_hourly": q_events_hourly,  # twin: events_hourly_stream (checked; same agg, batch formulation) + pricing_summary (plain groupBy agg family)
        "minhash_signatures": q_minhash_signatures,  # twin: neardup_minhash (runs the identical signature pipeline as its first stage)
        "events_latest": q_events_latest,  # twin: events_latest_stream (same keep-newest-per-key result, streaming formulation checked) + posting_lists (rank-window WindowGroupLimit family, driver-checked)
        "corpus_profile": q_corpus_profile,  # twin: pricing_summary (multi-metric groupBy agg)
        "simhash": q_simhash,  # twin: simhash_neardup (consumes the same signature algebra)
        "split_contamination": q_split_contamination,  # twin: doc_splits (hash-bucket membership); cross-split checks also via contamination_ngram
        "orders_cube": q_orders_cube,  # twin: orders_rollup (grouping-sets agg)
        "events_by_type_salted": q_events_by_type_salted,  # twin: events_hourly (salted agg proven hash-identical to plain GROUP BY)
        "next_touch": q_next_touch,  # twin: purchase_attribution (forward as-of, same union+window shape)
        "retained_customers": q_retained_customers,  # twin: lapsed_customers (same two-period join)
        "lang_scores": q_lang_scores,  # twin: text_quality (join-free column algebra)
        "text_scrub": q_text_scrub,  # twin: text_stats (join-free column algebra)
        "doc_fingerprint": q_fingerprint,  # twin: text_stats (join-free per-row hash projection, same shape as token_counts/text_scrub)
        "token_counts": q_token_counts,  # twin: text_stats (per-row tokenize+count)
        "doc_sample": q_doc_sample,  # twin: doc_splits (hash-bucket membership)
        "tfidf_topterms": q_tfidf_topterms,  # twin: bm25_rank (same term-stat shuffle)
        "token_quantiles": q_token_quantiles,  # twin: heavy_hitters (tiny term aggregate)
        "pretrain_corpus": q_pretrain_corpus,  # twin: composition of text_quality + doc_splits filters
        "corpus_mix": q_corpus_mix,  # twin: doc_sample (hash-bucket membership) + doc_chunks (per-row explode)
        "dedup_keep_best": q_dedup_keep_best,  # twin: dedup_clusters (same cluster pipeline) + pricing_summary (hash agg)
        "quality_funnel": q_quality_funnel,  # twin: corpus_profile (one-scan corpus aggregate) + text_quality (same gate expressions)
        "training_order": q_training_order,  # twin: pack_sequences (same layout pipeline) + top_revenue_orders (sort family)
        "rare_tokens": q_rare_tokens,  # twin: substring_dupes (identical fingerprint->freq->join->rollup shape at n=1)
        "label_outliers": q_label_outliers,  # twin: kmeans_clusters (centroid-build agg + broadcast-literal map-side scoring)
        "bpe_merges": q_bpe_merges,  # twin: heavy_hitters (explode->agg->top-k over the same token stream)
        "index_upsert": q_index_upsert,  # twin: minhash_signatures (same signing pipeline) + corpus_diff (same diff shape, driver-checked)
        "nb_stream": q_nb_stream,  # twin: neardup_stream (same foreachBatch static-index shape) + nb_classify (the scoring algebra, driver-checked batch-side)
        "ann_recall": q_ann_recall,  # twin: ann_cosine_topk + ann_ivf_topk (pure composition of both checked pipelines + one id-keyed join)
        "part_rank_fusion": q_part_rank_fusion,  # twin: part_pagerank + part_triangles (pure composition of two checked pipelines, the ann_recall doctrine)
        # demoted in the round-8 rotation wave 2 (driver-green r1-r7):
        "mv_stats": q_mv_stats,  # twin: mv_classify (same prepared wide frame; stats is the single-pass observe agg) — driver-green r1-r7
        "text_quality": q_text_quality,  # twin: quality_percentiles (same _quality_score_expr gate algebra, driver-checked) + text_stats (per-row projection) — driver-green r1-r7
        "doc_repetition": q_doc_repetition,  # twin: substring_dupes (same doc-scoped gram-hash agg shape; the r6 verdict groups them as one family row) — driver-green r1-r7
        "doc_chunks": q_doc_chunks,  # twin: pack_sequences (training-sequence layout family; chunking is its shuffle-free half) — driver-green r1-r7
        # demoted in the round-8 rotation wave 4 (driver-green r1-r7):
        "heavy_hitters": q_heavy_hitters,  # twin: posting_lists (same explode -> token-keyed agg + TakeOrdered cut, now driver-checked) — driver-green r1-r7
        "mv_repair_apply": q_mv_apply,  # twin: mv_repair_upserts (same prepared repair frame; apply is its materialization pass) + mv_report_text (golden-format emission) — driver-green r1-r7
        "mv_upserts_stream": q_mv_upserts_stream,  # twin: mv_classify_stream (same foreachBatch mv pipeline) + mv_repair_upserts (the repair algebra, driver-checked batch-side) — driver-green r1-r7
        "dedup_exact_stream": q_dedup_exact_stream,  # twin: events_hourly_stream (same JVM-state stateful-agg shape) + dedup_exact (the dedup algebra, driver-checked batch-side) — driver-green r1-r7
        # demoted in the round-8 rotation wave 5 (driver-green r1-r7):
        "mv_report_text": q_mv_report_text,  # twin: mv_classify (same prepared reconcile frame; report is its golden-format projection) + mv_repair_apply precedent (SortAggregate string-accumulator shape) — driver-green r1-r7
        "top_users_per_event": q_top_users_per_event,  # twin: posting_lists (same rank-window WindowGroupLimit cap, driver-checked) — driver-green r1-r7
        # demoted in the round-8 rotation wave 6 (driver-green r1-r7):
        "regional_revenue": q_regional_revenue,  # twin: pricing_summary (multi-metric groupBy agg, driver-checked; the dims join broadcast-prunes above it — the top_revenue_orders shape, pinned) — driver-green r1-r7
        # round-8 wave-6 additions (composition/twin doctrine):
        "doc_perplexity": q_doc_perplexity,  # twin: nb_classify (same count-trained broadcast-model scoring algebra — bucketed hashes, micro_log2 smoothing, per-doc integer rollup; bigram context instead of class conditioning)
        "part_kcore": q_part_kcore,  # twin: part_pagerank (same fixed-round checkpointed O(E)-per-iteration graph loop over the same co-purchase edges; peeling filter instead of rank propagation)
        "minhash_calibration": q_minhash_calibration,  # twin: neardup_minhash (pure composition of its candidate/signature/verify stages + one ≤187-row rollup — the ann_recall doctrine)
        "event_paths": q_event_paths,  # twin: event_transitions (same one user-keyed Exchange+Sort lead() stack + bounded-space count; trigram instead of bigram, TakeOrdered cut)
        "scd2_history": q_scd2_history,  # twin: activity_islands (the equality cousin of the islands algebra: same flag-window + running-sum-run-id + per-run aggregate on one user-keyed Exchange)
        "similar_parts": q_similar_parts,  # twin: jaccard_join_exact (the IDENTICAL prefix-filtered set-similarity operator, applied to adjacency sets instead of shingle sets; edges = part_kcore's support-2 graph, driver-checked)
        "semantic_leakage": q_semantic_leakage,  # twin: embedding_neardup (pure composition: the identical LSH-bucketed cosine pair pipeline + hash_split flags + a ≤6-row rollup — the ann_recall doctrine)
        # demoted in the round-9 rotation (driver-green r1-r8), making
        # room for orders_pivot (native PivotFirst — a genuinely
        # distinct physical operator, r8 verdict item #4):
        "simhash_neardup": q_simhash_neardup,  # twin: neardup_minhash (same banded-signature -> bucket equi-join -> verify shape; simhash signs instead of minhash rows) + simhash (the signature algebra itself, local gate) — driver-green r1-r8
        # demoted in the round-9 rotation (driver-green r1-r8), making
        # room for zorder_layout (Morton-interleave layout algebra):
        "dsir_scores": q_dsir_scores,  # twin: nb_classify (the same count-trained broadcast-model scoring algebra over hashed token buckets — the doc_perplexity doctrine; importance log-ratio instead of class conditioning) — driver-green r1-r8
        # demoted in the round-9 rotation (driver-green r1-r8), making
        # room for pq_topk (compressed-domain ADC scoring algebra):
        "semantic_dedup": q_semantic_dedup,  # twin: kmeans_clusters (the identical trained-centroid replay + assignment, driver-checked; the within-cluster prior-neighbor sweep adds one cluster-keyed rank window — the posting_lists WindowGroupLimit family) — driver-green r1-r8
        # round-9 addition (twin doctrine):
        "weighted_sample": q_weighted_sample,  # twin: posting_lists (per-row projection + the same TakeOrderedAndProject cut — the distinct_docs_kmv precedent); the micro_log2 ladder algebra is driver-checked via nb_classify/source_divergence
        "embedding_neardup_banded": q_embedding_neardup_banded,  # twin: embedding_neardup (the identical bucket equi-join + exact verify, run per table and unioned; table 0 IS the checked single-table operator)
        "pq_recall": q_pq_recall,  # twin: pq_topk (pure composition of the checked brute + pq pipelines + one id-keyed join — the ann_recall doctrine, which sits past-window the same way)
        "events_sliding_stream": q_events_sliding_stream,  # twin: events_sliding (promoted r10 — the batch formulation of the identical hopping-window agg; result equals it by availableNow drain and shares its oracle verbatim)
        # demoted in the round-10 rotation (driver-green r1-r9), making
        # room for events_sliding's promotion (a genuinely distinct
        # physical shape: Expand below the agg):
        "ann_ivf_topk": q_ann_ivf_topk,  # twin: pq_topk (the identical coarse-probe equi-join candidate generator + _ranked WindowGroupLimit cut; pq adds only map-side code/ADC projections on top) — driver-green r1-r9
        # round-10 addition (twin doctrine): the production IVF-PQ
        # configuration — same pq pipeline with the coarse layer swapped
        # to the trained (kmeans_clusters-verbatim) centroid artifact
        "pq_topk_trained": q_pq_topk_trained,  # twin: pq_topk (identical encode/probe/ADC pipeline; the coarse build is the driver-checked kmeans_clusters chain)
        # demoted in the round-10 rotation (driver-green r1-r9), making
        # room for orders_bloom_prune's promotion:
        "dedup_apply": q_dedup_apply,  # twin: dedup_clusters (the identical checkpointed components loop is its first stage; the keep-best argmax + anti-join materialization on top are the dedup_keep_best/lapsed_customers shapes — the composition doctrine) — driver-green r1-r9
        # round-10 addition: the bitmap's own audit — the oracle
        # REPLAYS the bloom from scratch (salted-md5 positions, bit_or
        # word fold, mask test), the minhash_calibration doctrine
        "bloom_prune_stats": q_bloom_prune_stats,  # twin: orders_bloom_prune (the identical build + map-side membership test, counted instead of joined-through)
        # round-10 additions (twin doctrine): grouped forms of checked
        # per-corpus operators — same projection algebra under one
        # group-keyed rank window (the posting_lists WindowGroupLimit
        # shape)
        "weighted_sample_by_source": q_weighted_sample_by_source,  # twin: posting_lists (rank-window cap) + weighted_sample (the identical A-ES priority projection, local gate)
        "source_vocab_kmv": q_source_vocab_kmv,  # twin: posting_lists (token explode -> group-keyed rank window cap; the estimator algebra is the distinct_docs_kmv row, local gate)
        # round-10 wave 2: merkle family stage-1 surface (the digest
        # frames mv_merkle_keys diffs, exposed as their own report)
        "mv_merkle_diff": q_mv_merkle_diff,  # twin: mv_merkle_keys (its literal stage-1 prefix)
        # demoted in the round-11 rotation (driver-green r1-r10), making
        # room for events_hll's promotion:
        "bm25_rank": q_bm25_rank,  # twin: posting_lists (the same explode -> term-keyed df/tf shuffle + per-doc rollup; tfidf_topterms rides the same rep) — driver-green r1-r10
        "lineitem_dq": q_lineitem_dq,  # twin: pricing_summary (one hash-aggregate pass; the verdict explode is the mv_stats/key_skew (stat,value) report shape)
        "mv_merkle_stream": q_mv_merkle_stream,  # twin: events_hourly_stream (JVM-state keyed agg); the digest algebra is mv_merkle_keys' stage 1, checked in-window
        "mv_agg_refresh": q_mv_agg_refresh,  # twin: pricing_summary (map-combinable hash-agg pipeline: agg -> union -> re-agg, no join); oracle = full recompute, so the hash gate proves incremental exactness
        "mv_quorum_repair": q_mv_quorum_repair,  # twin: mv_merkle_keys (the identical two-phase digest + dirty-bucket drill, plus the vote aggs over the pruned frame)
        "purchase_state_pit": q_purchase_state_pit,  # twin: purchase_attribution (the identical union+window as-of shape) composed with scd2_history's run encoding (checked via its own local gate; the activity_islands family)
        "events_twa": q_events_twa,  # twin: event_sessions (one key-keyed Exchange+Sort carrying a lead/lag window + the agg; the scd2/event_paths shape)
        "mv_merkle_upserts": q_mv_merkle_upserts,  # twin: mv_repair_upserts (the identical classify + upsert planner, semi-join-pruned by the mv_merkle_keys stage checked in-window); oracle = the FULL-SCAN window-free plan, so the hash gate proves prune-equivalence
        "mv_merkle_deletes": q_mv_merkle_deletes,  # twin: mv_repair_upserts (same pruned classify; the guard anti-join is the mv_repair_deletes shape, driver-checked r1-r7) — oracle again the full-scan plan
        "orders_lineitem_joinsize": q_orders_lineitem_joinsize,  # twin: key_skew (the identical per-key count-frame reduction, here two-sided with a key-frame full-outer merge)
        "mv_merkle_refresh": q_mv_merkle_refresh,  # twin: mv_merkle_keys (its digest-agg stage) + the mergeable-state union+re-agg refresh shape (mv_agg_refresh, locally gated); oracle = rebuild from scratch, so the hash gate proves incremental exactness
        "lineitem_fk_dq": q_lineitem_fk_dq,  # twin: lapsed_customers (the anti-join set-op shape, per check) under the lineitem_dq verdict-report convention
        "events_hll_stream": q_events_hll_stream,  # twin: events_hourly_stream (JVM-state keyed agg); the sketch algebra is events_hll's, oracle shared verbatim
        # demoted in the round-10 wave-2 rotation for mv_merkle_keys'
        # promotion: the row-level digest full-outer join + existence
        # classification is the mv_classify O8/O9 shape
        "corpus_diff": q_corpus_diff,  # twin: mv_classify
        # demoted in the round-10 wave-4 rotation for event_trend's
        # promotion (driver-green r8-r9): the trailing-RANGE anomaly
        # window shares events_gapfill's hourly-bucket + per-type
        # ordered-frame shape
        "events_anomaly": q_events_anomaly,  # twin: events_gapfill (one key-keyed Exchange+Sort over the types x hours frame; RANGE trailing mean instead of LOCF fill)
        # round-10 wave-4 additions (twin doctrine):
        "value_correlation": q_value_correlation,  # twin: event_trend (the identical one-pass sufficient-statistics aggregate; Pearson adds the Σy² column and a final IEEE sqrt-product divide, the cosine_micro doctrine)
        "basket_rules": q_basket_rules,  # twin: basket_pairs (the identical co-partitioned basket self-join + pair agg is its first stage; the rule algebra adds row-local direction explode + two item-count joins, the collocations-PMI shape)
        "ann_multiprobe": q_ann_multiprobe,  # twin: pq_topk (the same bucket equi-join + _ranked WindowGroupLimit cut; the probe expansion is a row-local explode on the query side) + ann_lsh_topk (identical single-probe algebra, local gate)
        "contrastive_pairs": q_contrastive_pairs,  # twin: doc_splits (deterministic hash-bucket assignment, map-side) + dedup_keep_best (the min-struct representative election); the join is a broadcast of a 64-row frame
        # round-10 wave-5 additions (twin doctrine):
        "cms_audit": q_cms_audit,  # twin: events_hll (the mergeable-sketch grid: one Expand under one map-combinable agg) + bloom_prune_stats (salted-md5 hash family, sketch-as-checked-object audit); probe join broadcasts the <= d*w grid
        "user_overlap_kmv": q_user_overlap_kmv,  # twin: posting_lists (the identical distinct -> group-keyed WindowGroupLimit bottom-k cut); the theta set algebra runs over checkpointed sketch-sized frames, the exact-audit join is the lapsed_customers pair shape
        "embedding_pca": q_embedding_pca,  # twin: kmeans_clusters (the identical bounded-artifact iterative-model doctrine: corpus -> suff-stats -> driver-looped exact-integer recurrence -> broadcast-literal scoring; the stats pass is the multimodal Arrow mapInPandas plumbing, driver-checked)
        "textrank_keywords": q_textrank_keywords,  # twin: part_pagerank (the identical fixed-round exact-integer rank recurrence over a distinct-pair edge frame; the bigram edge derivation is collocations' row-local zip_with, driver-checked) — the ann_recall composition doctrine
        "cms_stream": q_cms_stream,  # twin: events_hll_stream family (JVM-state keyed agg maintaining a bounded sketch; streaming rep events_hourly_stream) — drained grid feeds cms_audit's batch composition, oracle shared verbatim
        "cms_joinsize": q_cms_joinsize,  # twin: cms_audit's grid algebra (locally gated) composed per the ann_recall doctrine with the exact join count; the only join nodes are the broadcast grid zip + the literal-key one-row combine
        "label_pca": q_label_pca,  # twin: embedding_pca (the identical suff-stats -> driver eigen-iteration -> broadcast projection pipeline, grouped; the grouped fold is the weighted_sample_by_source doctrine)
        "events_mad_anomaly": q_events_mad_anomaly,  # twin: token_quantiles (the identical group-keyed rank-window discrete type-1 quantile, twice) + the broadcast-threshold filter; the robust companion of events_anomaly
        "user_overlap_hll": q_user_overlap_hll,  # twin: events_hll (the identical register algebra + fold, per-pair union via register-wise max over checkpointed sketch-sized frames); the exact-audit join is user_overlap_kmv's, locally gated
        "pca_stream": q_pca_stream,  # twin: embedding_pca (identical driver eigen-iteration + projection over bit-identical statistics; the stateful cell agg is the events_hll_stream JVM-state shape) — oracle shared verbatim
        "orders_mi_profile": q_orders_mi_profile,  # twin: collocations (the identical joint-count -> margin-join -> fixed-order ratio -> micro_log2 ladder algebra, here column-valued) under the DQ verdict-report convention; one-row aggs combine by union+re-agg
        "orders_fd_profile": q_orders_fd_profile,  # twin: lineitem_dq (the declarative-DQ verdict report: map-combinable agg pass -> (check, value, passed) rows; FD adds the two-level groupBy fold, the key_skew reduction shape)
        # demoted in the round-10 wave-5 rotation (driver-green r8-r9),
        # making room for view_purchase_stream's promotion:
        "source_divergence": q_source_divergence,  # twin: nb_classify (count-trained hashed-token distribution models with exact micro_log2 scoring — the dsir_scores / doc_perplexity twin doctrine)
        # round-11 addition: the mergeable ORDER-STATISTIC sketch
        # completing the Bloom/CMS/KMV/HLL set — fixed-grid histogram
        # quantiles with the exact rank-window audit next to each
        # estimate (0 <= err < width by construction)
        "price_hist_quantiles": q_price_hist_quantiles,  # twin: quality_percentiles (the group-keyed exact-rank quantile audit is its shape; the grid fold is the pricing_summary map-combinable hash-agg)
        "price_hist_stream": q_price_hist_stream,  # twin: events_hourly_stream (JVM-state keyed agg); the grid + quantile algebra is price_hist_quantiles', oracle shared verbatim
        "event_trend": q_event_trend,  # twin: pricing_summary (two hash aggregates, no window/sort — the partial-agg fact-rollup shape); demoted in the r11 rotation for embed_kcenter's promotion, driver-green r10
        "bucketed_join": q_bucketed_join,  # twin: zorder_layout (the data-layout surface: zorder = scan pruning, bucketing = shuffle elimination); result algebra is pricing_summary's fact rollup
        "events_drift_psi": q_events_drift_psi,  # twin: nb_classify (the micro_log2 count-ladder scoring family, the source_divergence doctrine); one (type,half) count pass + tiny-frame ladders
        "embed_mmr": q_embed_mmr,  # twin: kmeans_clusters (the embed_kcenter doctrine: iterative broadcast-center loop, unrolled-CTE oracle replay) + one k-row broadcast join for the rank column
        "orders_woe_iv": q_orders_woe_iv,  # twin: nb_classify (the micro_log2 count-ladder family); bins from the price_hist_quantiles grid sketch (its local gate), assignment a map-side literal sum
        "hard_negatives": q_hard_negatives,  # twin: pq_topk (the ANN family rep; this is the ann_lsh_topk bucket-join + _ranked shape with the label inequality riding the join)
        "events_drift_stream": q_events_drift_stream,  # twin: events_hourly_stream (JVM-state keyed agg); the PSI/chi tail is events_drift_psi's, oracle shared verbatim
        "orders_benford": q_orders_benford,  # twin: nb_classify (precomputed micro_log2 constants over one count pass — the count-ladder family's constants-only corner)
        "crawl_budget": q_crawl_budget,  # twin: key_skew (one per-key weight frame + tiny-window ranks — the count-frame-reduction family); the apportionment tail is pure integer window algebra
        "touch_attribution": q_touch_attribution,  # twin: sessions_in_maintenance (the user-keyed band-join family, purchase_context's shape) + conversion-keyed windows; credit split is the crawl_budget Hamilton algebra per conversion
        "events_drift_ks": q_events_drift_ks,  # twin: posting_lists (one count agg + the value-ordered cumulative window — the token_quantiles exact-rank shape); the drift framing rides events_drift_psi's local gate
        "km_survival": q_km_survival,  # twin: cohort_retention (the per-user min/max lifecycle aggregate + tiny-frame tail family); the sequential product folds in-plan over one collect_list row, oracle = recursive CTE
        "part_gini": q_part_gini,  # twin: posting_lists (one key agg + the value-ordered rank window over the key-domain frame — the exact-rank cumulative family, events_drift_ks' shape); DECIMAL(38,0) sum is the event_trend cross-product precedent
        "part_zipf": q_part_zipf,  # twin: posting_lists (the identical key-count + rank-window frame) composed with event_trend's OLS sums (locally gated past-window) through the micro_log2 ladder — pure composition, the ann_recall doctrine
        "ann_rbo": q_ann_rbo,  # twin: pq_topk (the ann_recall composition doctrine: brute + LSH pipelines both gated; the RBO tail is one id-keyed join + sum of precomputed integer suffix weights)
        "pricing_orc": q_pricing_orc,  # twin: pricing_summary (the identical exact-DECIMAL fact rollup; the only change is the scan's format leg — FileScan orc pinned by fingerprint)
        "events_ewma": q_events_ewma,  # twin: events_gapfill (the type-keyed hourly-series family); the per-key in-plan fold is km_survival's shape grouped, oracle = recursive CTE per key
        "events_drift_w1": q_events_drift_w1,  # twin: posting_lists (events_drift_ks' exact-rank cumulative shape verbatim: one count agg + one value-ordered window over the domain frame); only the tail fold differs (sum-of-gaps vs argmax)
        "part_communities": q_part_communities,  # twin: part_pagerank (the identical fixed-round edge-join + localCheckpoint iteration over the same co-purchase edges; the round body swaps the rank recurrence for a per-dst label-vote argmax)
        "event_funnel": q_event_funnel,  # twin: events_gapfill (the key-keyed Exchange+Sort window-scan family — the events_anomaly demotion precedent); driver-green r8-r11w1, frozen fingerprint below
        "customer_snm": q_customer_snm,  # twin: name_linkage (the fuzzy-linkage family: bounded candidate generation + one exact levenshtein verify; order-based neighbors here vs deletion-variant hash buckets there)
        "embed_mutual_nn": q_embed_mutual_nn,  # twin: pq_topk (the ann_recall composition doctrine: the checked LSH bucket-join retrieval at k=1 + one narrow id-keyed mutuality self-join over the top-1 frame)
        "phrase_match": q_phrase_match,  # twin: posting_lists (the inverted-index family: the positional posting stream through one broadcast spec join + one (phrase,doc,start)-keyed count — retrieval over the same explode-then-token-shuffle shape)
        "quantile_normalize": q_quantile_normalize,  # twin: quality_percentiles (the rank-normalization family: group-partitioned rank windows + exact type-1 quantile algebra; adds the domain-frame pooled cumulative and the 100-row broadcast map)
        "events_dpp": q_events_dpp,  # twin: zorder_layout (the data-layout family: eager write + pruning-evidence scan; directory-level dynamic pruning here vs footer min-max skipping there — the dynamicpruningexpression is pinned by a plan test)
        "session_peaks": q_session_peaks,  # twin: event_sessions (composition: the checked session_window frame + the day-partitioned +1/−1 sweep — per-day Exchange+Sort, the gapfill window-family shape)
        "zorder_compaction": q_zorder_compaction,  # twin: zorder_layout (pure composition: the checked bucket-stats frame + one cumulative window over the ≤64-row domain frame, pack_sequences' greedy cut)
        "event_theilsen": q_event_theilsen,  # twin: part_triangles (the domain-sized graph/pair self-join family: type-keyed pair build + rank window; the OLS twin event_trend stays locally gated past-window)
        "events_tokenrange": q_events_tokenrange,  # twin: multimodal_decode (the Python-worker source/Arrow-batch family: BatchScan (Python) feeding a JVM agg — the only other plan whose scan executes Python; the O1 split model itself is new surface, hash-checked via the exposed token/split columns)
        "events_tokenrange_stream": q_events_tokenrange_stream,  # twin: events_hourly_stream (the complete-mode stateful-agg streaming family; the source's ring-walk offsets are the new surface, per-range batches executed for real)
        "mv_repair_sink": q_mv_repair_sink,  # twin: mv_repair_upserts (the identical checked plan; the new surface is the commit-protocol write + manifested read-back, whose byte parity IS this hash — shares the upserts oracle)
        "events_lttb": q_events_lttb,  # twin: embed_kcenter (the one-action-per-round selection family: per-round 1-row-per-key anchor join + window argmax, fixed rounds, chain-replayed oracle; the triangle geometry is the new algebra)
        "events_holt": q_events_holt,  # twin: events_gapfill (events_ewma's type-keyed hourly-series fold family; two-state recurrence with explicit floor division, recursive-CTE oracle)
    }


def oracle_sql() -> dict[str, str]:
    return {
        "mv_classify": _oracle_mv_classify(),
        "mv_stats": _oracle_mv_stats(),
        "mv_report_text": _oracle_mv_report_text(),
        "mv_repair_upserts": _oracle_mv_upserts(),
        "mv_repair_deletes": _oracle_mv_deletes(),
        "mv_repair_apply": _oracle_mv_apply(),
        "pricing_summary": _ORACLE_PRICING,
        "top_revenue_orders": _ORACLE_TOP_REVENUE,
        "regional_revenue": _ORACLE_REGIONAL,
        "events_hourly": _ORACLE_EVENTS_HOURLY,
        "events_sliding": _oracle_events_sliding(),
        "events_sliding_stream": _oracle_events_sliding(),
        "purchase_attribution": _ORACLE_PURCHASE_ATTRIBUTION,
        "next_touch": _ORACLE_NEXT_TOUCH,
        "event_sessions": _ORACLE_EVENT_SESSIONS,
        "sessions_stream": _ORACLE_EVENT_SESSIONS,
        "sessions_in_maintenance": _ORACLE_SESSIONS_MAINT,
        "events_by_type_salted": _ORACLE_EVENTS_SALTED,
        "top_users_per_event": _ORACLE_TOP_USERS,
        "orders_rollup": _ORACLE_ORDERS_ROLLUP,
        "part_skyline": _ORACLE_PART_SKYLINE,
        "doc_perplexity": _oracle_doc_perplexity(),
        "part_kcore": _oracle_part_kcore(),
        "minhash_calibration": _oracle_minhash_calibration(),
        "event_paths": _ORACLE_EVENT_PATHS,
        "scd2_history": _ORACLE_SCD2_HISTORY,
        "similar_parts": _oracle_similar_parts(),
        "semantic_leakage": _oracle_semantic_leakage(),
        "orders_pivot": _oracle_orders_pivot(),
        "orders_cube": _ORACLE_ORDERS_CUBE,
        "purchase_context": _ORACLE_PURCHASE_CONTEXT,
        "events_latest": _ORACLE_EVENTS_LATEST,
        "lapsed_customers": _ORACLE_LAPSED,
        "retained_customers": _ORACLE_RETAINED,
        "orders_bloom_prune": _ORACLE_BLOOM_PRUNE,
        "bloom_prune_stats": _oracle_bloom_prune_stats(),
        "weighted_sample_by_source": _oracle_weighted_sample_by_source(),
        "source_vocab_kmv": _ORACLE_SOURCE_VOCAB_KMV,
        "text_stats": _ORACLE_TEXT_STATS,
        "text_quality": _ORACLE_TEXT_QUALITY,
        "lang_scores": _oracle_lang_scores(),
        "doc_splits": _ORACLE_DOC_SPLITS,
        "doc_sample": _ORACLE_DOC_SAMPLE,
        "weighted_sample": _oracle_weighted_sample(),
        "split_contamination": _ORACLE_CONTAMINATION,
        "corpus_profile": _ORACLE_CORPUS_PROFILE,
        "pretrain_corpus": _ORACLE_PRETRAIN,
        "corpus_mix": _oracle_corpus_mix(),
        "dedup_keep_best": _oracle_keep_best(),
        "quality_funnel": _ORACLE_QUALITY_FUNNEL,
        "training_order": _ORACLE_TRAINING_ORDER,
        "text_scrub": _ORACLE_TEXT_SCRUB,
        "doc_fingerprint": _ORACLE_FINGERPRINT,
        "token_counts": _ORACLE_TOKEN_COUNTS,
        "bm25_rank": _oracle_bm25_rank(),
        "heavy_hitters": _ORACLE_HEAVY_HITTERS,
        "tfidf_topterms": _ORACLE_TFIDF,
        "token_quantiles": _ORACLE_TOKEN_QUANTILES,
        "rolling_fingerprint": _ORACLE_ROLLING_FP,
        "simhash": _oracle_simhash(),
        "doc_repetition": _oracle_doc_repetition(),
        "substring_dupes": _oracle_substring_dupes(),
        "pack_sequences": _ORACLE_PACK,
        "doc_chunks": _ORACLE_CHUNKS,
        "dedup_exact": _ORACLE_DEDUP_EXACT,
        "distinct_docs_kmv": _ORACLE_KMV,
        "minhash_signatures": _oracle_minhash_signatures(),
        "neardup_minhash": _oracle_neardup_minhash(),
        "neardup_minhash_capped": _oracle_neardup_minhash_capped(),
        "simhash_neardup": _oracle_simhash_neardup(),
        "dedup_clusters": _oracle_dedup_clusters(),
        "contamination_ngram": _oracle_contamination_ngram(),
        "ann_cosine_topk": _oracle_ann_topk(),
        "ann_lsh_topk": _oracle_ann_lsh_topk(),
        "ann_ivf_topk": _oracle_ann_ivf_topk(),
        "embedding_neardup": _oracle_embedding_neardup(),
        "embedding_neardup_banded": _oracle_embedding_neardup_banded(),
        "kmeans_clusters": _oracle_kmeans_clusters(),
        "semantic_dedup": _oracle_semantic_dedup(),
        "pq_topk": _oracle_pq_topk(),
        "pq_topk_trained": _oracle_pq_topk(trained_coarse=True),
        "pq_recall": _oracle_pq_recall(),
        "events_hourly_stream": _ORACLE_EVENTS_HOURLY,
        "dedup_exact_stream": _ORACLE_DEDUP_STREAM,
        "mv_classify_stream": _oracle_mv_classify_stream(),
        "mv_upserts_stream": _oracle_mv_upserts_stream(),
        "events_latest_stream": _ORACLE_EVENTS_LATEST,
        "neardup_stream": _oracle_neardup_stream(),
        "multimodal_meta": _ORACLE_MULTIMODAL,
        "multimodal_decode": _ORACLE_MULTIMODAL_DECODE,
        "multimodal_features": _oracle_multimodal_features(),
        "multimodal_frames": _ORACLE_MULTIMODAL_FRAMES,
        "rare_tokens": _oracle_rare_tokens(),
        "label_outliers": _oracle_label_outliers(),
        "span_dedup": _oracle_span_dedup(),
        "dsir_scores": _oracle_dsir_scores(),
        "token_budget_fill": _oracle_token_budget_fill(),
        "zorder_layout": _oracle_zorder_layout(),
        "bpe_merges": _oracle_bpe_merges(),
        "corpus_diff": _ORACLE_CORPUS_DIFF,
        "mv_merkle_keys": _oracle_mv_merkle_keys(),
        "mv_merkle_diff": _oracle_mv_merkle_diff(),
        "events_hll": _oracle_events_hll(),
        "lineitem_dq": _ORACLE_LINEITEM_DQ,
        "mv_merkle_stream": _oracle_mv_merkle_stream(),
        "mv_agg_refresh": _ORACLE_MV_AGG_REFRESH,
        "mv_quorum_repair": _oracle_mv_quorum_repair(),
        "purchase_state_pit": _ORACLE_PURCHASE_STATE_PIT,
        "events_twa": _ORACLE_EVENTS_TWA,
        "mv_merkle_upserts": _oracle_mv_merkle_upserts(),
        "mv_merkle_deletes": _oracle_mv_merkle_deletes(),
        "orders_lineitem_joinsize": _ORACLE_JOINSIZE,
        "mv_merkle_refresh": _oracle_mv_merkle_refresh(),
        "lineitem_fk_dq": _ORACLE_LINEITEM_FK_DQ,
        "cms_audit": _oracle_cms_audit(),
        "user_overlap_kmv": _oracle_user_overlap_kmv(),
        "embedding_pca": _oracle_embedding_pca(),
        "view_purchase_stream": _ORACLE_VIEW_PURCHASE_STREAM,
        "textrank_keywords": _oracle_textrank_keywords(),
        "cms_stream": _oracle_cms_audit(),
        "cms_joinsize": _oracle_cms_joinsize(),
        "label_pca": _oracle_label_pca(),
        "events_mad_anomaly": _ORACLE_EVENTS_MAD,
        "user_overlap_hll": _oracle_user_overlap_hll(),
        "pca_stream": _oracle_embedding_pca(),
        "orders_mi_profile": _oracle_orders_mi_profile(),
        "orders_fd_profile": _oracle_orders_fd_profile(),
        "events_hll_stream": _oracle_events_hll(),
        "event_trend": _ORACLE_EVENT_TREND,
        "value_correlation": _ORACLE_VALUE_CORRELATION,
        "basket_rules": _oracle_basket_rules(),
        "ann_multiprobe": _oracle_ann_multiprobe(),
        "contrastive_pairs": _oracle_contrastive_pairs(),
        "key_skew": _ORACLE_KEY_SKEW,
        "index_upsert": _oracle_index_upsert(),
        "nb_classify": _oracle_nb_classify(),
        "nb_stream": _oracle_nb_stream(),
        "dedup_apply": _oracle_dedup_apply(),
        "ann_recall": _oracle_ann_recall(),
        "events_gapfill": _ORACLE_EVENTS_GAPFILL,
        "part_triangles": _ORACLE_PART_TRIANGLES,
        "cohort_retention": _ORACLE_COHORT_RETENTION,
        "source_divergence": _oracle_source_divergence(),
        "price_hist_quantiles": _oracle_price_hist_quantiles(),
        "price_hist_stream": _oracle_price_hist_quantiles(),
        "embed_kcenter": _oracle_embed_kcenter(),
        "bucketed_join": _ORACLE_BUCKETED_JOIN,
        "events_drift_psi": _oracle_events_drift(),
        "embed_mmr": _oracle_embed_mmr(),
        "orders_woe_iv": _oracle_orders_woe_iv(),
        "hard_negatives": _oracle_hard_negatives(),
        "events_drift_stream": _oracle_events_drift(),
        "orders_benford": _oracle_orders_benford(),
        "crawl_budget": _oracle_crawl_budget(),
        "touch_attribution": _ORACLE_TOUCH_ATTRIBUTION,
        "events_drift_ks": _ORACLE_EVENTS_DRIFT_KS,
        "km_survival": _ORACLE_KM_SURVIVAL,
        "part_gini": _ORACLE_PART_GINI,
        "part_zipf": _oracle_part_zipf(),
        "ann_rbo": _oracle_ann_rbo(),
        "pricing_orc": _ORACLE_PRICING_ORC,
        "events_ewma": _ORACLE_EVENTS_EWMA,
        "events_drift_w1": _ORACLE_EVENTS_DRIFT_W1,
        "part_communities": _oracle_part_communities(),
        "events_ams_f2": _ORACLE_EVENTS_AMS_F2,
        "customer_snm": _ORACLE_CUSTOMER_SNM,
        "embed_mutual_nn": _oracle_embed_mutual_nn(),
        "phrase_match": _oracle_phrase_match(),
        "quantile_normalize": _ORACLE_QUANTILE_NORMALIZE,
        "events_dpp": _ORACLE_EVENTS_DPP,
        "session_peaks": _ORACLE_SESSION_PEAKS,
        "zorder_compaction": _oracle_zorder_compaction(),
        "event_theilsen": _ORACLE_EVENT_THEILSEN,
        "events_tokenrange": _ORACLE_EVENTS_TOKENRANGE,
        "events_tokenrange_stream": _ORACLE_EVENTS_TOKENRANGE_STREAM,
        "mv_repair_sink": _oracle_mv_upserts(),
        "events_lttb": _oracle_events_lttb(),
        "events_holt": _ORACLE_EVENTS_HOLT,
        "part_rank_fusion": _oracle_part_rank_fusion(),
        "event_funnel": _ORACLE_EVENT_FUNNEL,
        "events_anomaly": _ORACLE_EVENTS_ANOMALY,
        "posting_lists": _ORACLE_POSTING_LISTS,
        "collocations": _oracle_collocations(),
        "jaccard_join_exact": _ORACLE_JACCARD_JOIN_EXACT,
        "activity_islands": _ORACLE_ACTIVITY_ISLANDS,
        "repair_log_compact": _oracle_repair_log_compact(),
        "name_linkage": _oracle_name_linkage(),
        "basket_pairs": _oracle_basket_pairs(),
        "event_transitions": _oracle_event_transitions(),
        "part_pagerank": _oracle_part_pagerank(),
        "quality_percentiles": _oracle_quality_percentiles(),
    }
