"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same sf fixtures, then compares row count, sorted column
names, per-column RESULT TYPES, and an order-insensitive canonicalized
value multiset.

The type check is the round-4 lesson: the driver's value hash is
type-representation-sensitive (it hashes through the engines' native
result frames), so a Spark BIGINT vs a DuckDB HUGEINT — e.g. an uncast
``sum(BIGINT)``, which DuckDB widens to int128 — hash-mismatch even when
every value is numerically identical.  Python ``fetchall()`` collapses
both to ``int``, so a value-level compare can NOT see this; we instead
map Spark's declared schema and DuckDB's Arrow result schema into one
canonical type domain and require equality per column.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
from decimal import Decimal

import duckdb
import pyarrow as pa

# the repository this script sits in, not a fixed checkout path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, Decimal):
        # Preserve scale: the driver's hash is sensitive to the exact
        # decimal type (decimal(28,2) vs decimal(38,2) hash differently
        # even when numerically equal), so the local gate must not
        # collapse decimals through float.
        return f"dec:{v}"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def df_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


def df_to_sequence(cols, rows):
    """Canonicalized rows in RESULT ORDER — for oracles with a top-level
    ORDER BY, where row-order divergence is a real failure (round-4
    verdict: the multiset compare made ORDER BY drift locally invisible)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ["|".join(canon(r[i]) for i in order) for r in rows]


def has_toplevel_order_by(sql: str) -> bool:
    """True iff the SQL has an ORDER BY at paren-depth 0 (i.e. ordering
    the final result, not inside a subquery / window / aggregate)."""
    depth = 0
    upper = sql.upper()
    i = 0
    while i < len(upper):
        ch = upper[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "'":
            # skip string literal
            i += 1
            while i < len(upper) and upper[i] != "'":
                i += 1
        elif depth == 0 and upper.startswith("ORDER", i):
            rest = upper[i + 5:].lstrip()
            if rest.startswith("BY"):
                return True
        i += 1
    return False


def arrow_canon_type(t) -> str:
    """Map a pyarrow type into Spark's simpleString() type domain."""
    if pa.types.is_int64(t):
        return "bigint"
    if pa.types.is_int32(t):
        return "int"
    if pa.types.is_int16(t):
        return "smallint"
    if pa.types.is_int8(t):
        return "tinyint"
    if pa.types.is_float64(t):
        return "double"
    if pa.types.is_float32(t):
        return "float"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_boolean(t):
        return "boolean"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"array<{arrow_canon_type(t.value_type)}>"
    if pa.types.is_map(t):
        return (f"map<{arrow_canon_type(t.key_type)},"
                f"{arrow_canon_type(t.item_type)}>")
    return str(t)


def type_mismatches(spark_schema, arrow_schema):
    """Per-column canonical-type diffs between a Spark result schema and
    the DuckDB Arrow result schema (columns matched by name)."""
    stypes = {f.name: f.dataType.simpleString() for f in spark_schema.fields}
    diffs = []
    for field in arrow_schema:
        otype = arrow_canon_type(field.type)
        stype = stypes.get(field.name)
        if stype is not None and stype != otype:
            diffs.append(f"{field.name}: spark {stype} vs oracle {otype}")
    return diffs


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("oracle-check")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {str(ex)[:300]}")
            continue
        finally:
            # release operator-owned persisted frames (mvrepair.cache
            # ownership convention) so a full-registry sweep doesn't
            # accumulate cache across 156 queries
            from mvrepair import cache as _cache

            _cache.release_all()
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} (no oracle)")
            continue
        try:
            otbl = con.execute(oracles[name]).arrow()
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {str(ex)[:300]}")
            continue
        problems = []
        # Policy gate: the driver's value hash is sensitive to exact decimal
        # precision (Spark sum -> decimal(28,2), DuckDB sum -> decimal(38,2)),
        # which Python Decimals can't expose. House style: never emit a
        # decimal column — cast through double.
        dec_cols = [f.name for f in sdf.schema.fields
                    if f.dataType.typeName().startswith("decimal")]
        if dec_cols:
            problems.append(f"decimal-typed output cols {dec_cols} "
                            "(driver hash is precision-sensitive; cast to double)")
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} vs {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} vs {sorted(ocols)}")
        tdiffs = type_mismatches(sdf.schema, otbl.schema)
        if tdiffs:
            problems.append(f"result types differ (driver hash is "
                            f"type-sensitive): {tdiffs}")
        if not problems:
            ordered = has_toplevel_order_by(oracles[name])
            to_rows = df_to_sequence if ordered else df_to_multiset
            sm = to_rows(scols, [tuple(r) for r in srows])
            om = to_rows(ocols, orows)
            if sm != om:
                diff = [(a, b) for a, b in zip(sm, om) if a != b][:3]
                kind = "row order/values" if ordered else "values"
                problems.append(f"{kind} differ, e.g. {diff}")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"OK    {name}: {len(srows)} rows")
    spark.stop()
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
