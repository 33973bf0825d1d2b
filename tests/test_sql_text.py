"""Quote safety of the SQL text the reconcile, report and repair builders
emit.

Schema-derived names go into that text as backtick-quoted identifiers and
as string literals (the ``name:TYPE:`` labels, the diff and upsert-cell
column names).  Under ``spark.sql.parser.escapedStringLiterals=true``
neither ``''`` nor ``\\'`` escapes a quote, so the outputs are pinned
with the setting at both values.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from mvrepair.functions import ident, sql_str
from mvrepair.operators.reconcile import classify
from mvrepair.operators.repair import plan_upserts
from mvrepair.report import format_report
from mvrepair.schema import MVSpec, TableSchema
from mvrepair.tuning import conf_scope

QUOTED = "it's a\\b col"
TICKED = "x`y"


def _spec() -> MVSpec:
    cols = {"pk": "TEXT", QUOTED: "TEXT", TICKED: "INT"}
    return MVSpec(
        base=TableSchema(pk=["pk"], columns=dict(cols)),
        mv=TableSchema(pk=["pk"], columns=dict(cols)),
    )


def _df(spark, rows):
    schema = T.StructType(
        [
            T.StructField("pk", T.StringType()),
            T.StructField(QUOTED, T.StringType()),
            T.StructField(TICKED, T.IntegerType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


# k1: the quoted column differs; k2: missing in the MV
BASE_ROWS = [("k'1\\", "o'k\\n", 5), ("k2", "a'b\\c", 7)]
MV_ROWS = [("k'1\\", "x", 5)]

EXPECTED_RECORDS = sorted(
    [
        "Problem: INCONSISTENT\n"
        "RowKey: pk:TEXT:k'1\\\n"
        "MainTableEntry: CassandraRow{it's a\\b col: o'k\\n, pk: k'1\\, x`y: 5}\n"
        "MVTableEntry: CassandraRow{it's a\\b col: x, pk: k'1\\, x`y: 5}\n"
        "BaseColumn: it's a\\b col:TEXT:o'k\\n\n"
        "MvColumn: it's a\\b col:TEXT:x",
        "Problem: MISSING_IN_MV_TABLE\n"
        "RowKey: pk:TEXT:k2\n"
        "MainTableEntry: CassandraRow{it's a\\b col: a'b\\c, pk: k2, x`y: 7}\n"
        "MVTableEntry: null",
    ]
)
EXPECTED_DIFF = [("k'1\\", "it's a\\b col", "TEXT", "o'k\\n", "x")]
EXPECTED_CELLS = sorted(
    [
        ("k'1\\", "it's a\\b col", "TEXT", "o'k\\n", "NO_TIMESTAMP_TTL"),
        ("k2", "it's a\\b col", "TEXT", "a'b\\c", "NO_TIMESTAMP_TTL"),
        ("k2", "x`y", "INT", "7", "NO_TIMESTAMP_TTL"),
    ]
)


def test_sql_str_and_ident_forms():
    assert sql_str("pk:TEXT:") == "'pk:TEXT:'"
    assert sql_str("a'b") == "CAST(X'612762' AS STRING)"
    assert sql_str("${x}") == "CAST(X'247B787D' AS STRING)"
    assert ident("x`y") == "`x``y`"


@pytest.mark.parametrize("escaped", ["true", "false"])
def test_quoted_names_and_values_render_under_both_parser_modes(spark, escaped):
    spec = _spec()
    with conf_scope(spark, {"spark.sql.parser.escapedStringLiterals": escaped}):
        wide = classify(_df(spark, BASE_ROWS), _df(spark, MV_ROWS), spec)
        records = sorted(r.record for r in format_report(wide, spec).collect())
        diff = [
            tuple(r)
            for r in wide.filter("problem = 'INCONSISTENT'")
            .select("pk", "diff_column", "diff_type", "base_value", "mv_value")
            .collect()
        ]
        cells = sorted(
            tuple(r)
            for r in plan_upserts(wide, spec)
            .select("pk", "column", "column_type", "value", "flavor")
            .collect()
        )
    assert records == EXPECTED_RECORDS
    assert diff == EXPECTED_DIFF
    assert cells == EXPECTED_CELLS
