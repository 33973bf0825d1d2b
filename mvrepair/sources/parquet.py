"""Parquet source with schema normalization.

The engine-facing analogue of the reference's connector scan (O1,
/root/reference/src/main/java/mvsync/MvSync.java:245-246) for the fixture
harness: token-range partitioning becomes parquet split planning, and
column pruning/predicate pushdown are delegated to Catalyst (visible as
``PushedFilters``/``ReadSchema`` in ``.explain``).

Normalization: Spark 4 reads parquet timestamps written without
``isAdjustedToUTC`` as TIMESTAMP_NTZ, which time-arithmetic functions
(``unix_micros`` etc.) reject.  With a UTC session timezone the NTZ→LTZ
cast is value-preserving, and it makes Spark's ``unix_micros`` agree
exactly with DuckDB's ``epoch_us`` on the same files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from mvrepair.tuning import conf_scope

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _nanos_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS), which Spark 4 cannot
    read natively (PARQUET_TYPE_ILLEGAL) — detected from the footer."""
    try:
        import pyarrow.parquet as pq

        schema = pq.read_schema(path)
        return [f.name for f in schema if str(f.type) == "timestamp[ns]"]
    except Exception:
        return []


def _normalize(df: DataFrame, nanos_cols: list[str]) -> DataFrame:
    casts = {}
    for f in df.schema.fields:
        if isinstance(f.dataType, T.TimestampNTZType):
            casts[f.name] = F.col(f.name).cast("timestamp")
        elif f.name in nanos_cols and isinstance(f.dataType, T.LongType):
            # nanosAsLong read: ns since epoch → µs timestamp (truncating,
            # matching DuckDB's TIMESTAMP_NS → TIMESTAMP cast).  Must be
            # integral `div`: `/` is double division, and ns epoch values
            # exceed a double's 53-bit exact range (≈ ±1 µs error).
            casts[f.name] = F.timestamp_micros(
                F.expr(f"`{f.name}` div 1000")
            )
    return df.withColumns(casts) if casts else df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, normalized (NTZ→UTC timestamp; parquet
    nanos timestamps read via ``spark.sql.legacy.parquet.nanosAsLong`` and
    converted to µs timestamps)."""
    path = f"{sf_dir}/{name}.parquet"
    nanos = _nanos_columns(path)
    # scoped to the schema read: the scan planned from that schema reads
    # the nanos columns as longs without the conf
    with conf_scope(spark, {_NANOS_AS_LONG: "true"} if nanos else {}):
        df = spark.read.parquet(path)
    return _normalize(df, nanos)


def load_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Streaming twin of ``load_table``: readStream over the same parquet
    with identical nanos/NTZ normalization.  readStream requires an
    explicit schema — taken from a batch read of the same path (cheap:
    footer only)."""
    path = f"{sf_dir}/{name}.parquet"
    nanos = _nanos_columns(path)
    with conf_scope(spark, {_NANOS_AS_LONG: "true"} if nanos else {}):
        raw_schema = spark.read.parquet(path).schema
    # file-source streams need a directory; glob-filter down to this table
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    return _normalize(stream, nanos)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all fixture tables as temp views for spark.sql access."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def roundtrip_orc(
    df: DataFrame, path: str, n_files: int = 8
) -> DataFrame:
    """Write ``df`` as ORC and read it back — the second columnar
    format of the source surface (a lakehouse ingests what it's given;
    ORC is the other columnar standard Spark reads natively, with the
    same footer-statistics pruning story as parquet: PushedFilters /
    ReadSchema appear in the ORC scan exactly as in the parquet one).

    Value-exactness note: ints, decimals, strings and doubles survive
    byte-identically; TIMESTAMPs go through the same UTC-session
    normalization as :func:`load_table`'s parquet path.  The write is
    idempotent (overwrite) and repartitions so the read side sees
    ``n_files`` splits regardless of the input's layout.
    """
    df.repartition(n_files).write.mode("overwrite").format("orc").save(
        path
    )
    return df.sparkSession.read.orc(path)
