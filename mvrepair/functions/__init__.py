"""Expression building blocks (all JVM-side, codegen-friendly).

- ``ident`` / ``sql_str``: quote a name or a string for SQL text.
- ``deep_eq``: null-safe deep equality per logical type, parity with
  ``Objects.deepEquals`` at /root/reference/src/main/java/mvsync/MvSync.java:491
  (null==null equal; null vs value unequal; byte[]/list/set/map element-wise).
- ``render_value``: string rendering parity with
  ``DBOperations.convertToString`` (db/DBOperations.java:446-460):
  Date→epoch-millis, bytes→UTF-8, null→"null".

``deep_eq`` and ``render_value`` return SQL expression TEXT, not Columns:
the reconcile/report/repair builders compose one string per output column
and hand it to ``selectExpr``/``F.expr``/``filter``, which parse it in one
py4j call.  Composing the same tree from PySpark Column calls costs
several round trips per node (PySpark 4 captures each call's call site).
The texts lean on SQL precedence (comparison > NOT > AND > OR) rather than
parentheses: to tell ``(expr)`` from a row constructor the parser looks
ahead through the whole group, and each distinct look-ahead stays in its
prediction cache on the driver heap for the life of the JVM.

No Python UDFs here — everything compiles to Catalyst expressions so the
whole compare stays inside WholeStageCodegen at 100 TB scale.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, functions as F

from mvrepair.schema import normalize_type

# Characters a plain '…' literal holds verbatim under either setting of
# spark.sql.parser.escapedStringLiterals (no quote, no backslash) and that
# variable substitution leaves alone (no ``$``).
_PLAIN_LITERAL = re.compile(r"[A-Za-z0-9 _:,.=(){}<>-]*")


def ident(name: str) -> str:
    """Backtick-quoted SQL identifier (embedded backticks doubled)."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(s: str) -> str:
    """SQL string literal that parses to ``s`` whatever
    ``spark.sql.parser.escapedStringLiterals`` says.  Neither ``''`` nor
    ``\\'`` escapes a quote in both modes, so any string outside the plain
    set goes in as its UTF-8 bytes, ``CAST(X'…' AS STRING)`` (folded to a
    literal by the optimizer)."""
    if _PLAIN_LITERAL.fullmatch(s):
        return f"'{s}'"
    return f"CAST(X'{s.encode('utf-8').hex().upper()}' AS STRING)"


def coalesce_sql(exprs: list[str]) -> str:
    """``coalesce`` over string-valued SQL texts; one operand stands
    alone, none is a null string."""
    if not exprs:
        return "CAST(NULL AS STRING)"
    if len(exprs) == 1:
        return exprs[0]
    return f"coalesce({', '.join(exprs)})"


def deep_eq(a: str, b: str, logical_type: str) -> str:
    """Null-safe deep equality for one column pair (SQL text over the
    operand texts ``a``/``b``; a comparison, so ``NOT`` applies to all of
    it).

    SET semantics: CQL sets are unordered, so compare sorted arrays
    (SURVEY §1 — "sets: sorted array for deterministic equality").
    MAP semantics: Spark disallows ``=`` on MapType, so compare entry
    arrays sorted by key.  Everything else (including arrays and binary)
    uses Spark's native null-safe equality ``<=>``.
    """
    t = normalize_type(logical_type)
    if t == "SET":
        return f"array_sort({a}) <=> array_sort({b})"
    if t == "MAP":
        return (
            f"CASE WHEN {a} IS NULL AND {b} IS NULL THEN true"
            f" WHEN {a} IS NULL OR {b} IS NULL THEN false"
            f" ELSE array_sort(map_entries({a})) = array_sort(map_entries({b})) END"
        )
    return f"{a} <=> {b}"


def render_value(c: str, logical_type: str) -> str:
    """Render a value to text (SQL text over the operand text ``c``),
    ``convertToString`` parity (DBOperations.java:446-460): null→"null",
    TIMESTAMP→epoch millis, BLOB→UTF-8 string; collections render
    Java-style but in sorted order (the reference's map iteration order
    is not deterministic — SURVEY §7 "match the parsed content, not byte
    order")."""
    t = normalize_type(logical_type)
    if t == "TIMESTAMP":
        rendered = f"CAST(unix_millis({c}) AS STRING)"
    elif t == "DATE":
        rendered = f"CAST(unix_millis(CAST({c} AS TIMESTAMP)) AS STRING)"
    elif t in ("LIST", "SET"):
        arr = f"array_sort({c})" if t == "SET" else c
        rendered = f"concat('[', array_join({arr}, ', ', 'null'), ']')"
    elif t == "MAP":
        rendered = (
            f"concat('{{', array_join(transform(array_sort(map_entries({c})),"
            " e -> concat(CAST(e.`key` AS STRING), '=', CAST(e.`value` AS STRING))),"
            " ', '), '}')"
        )
    else:
        # BLOB included: binary → UTF-8 text
        rendered = f"CAST({c} AS STRING)"
    return f"coalesce({rendered}, 'null')"


def stable_hash64(c: Column) -> Column:
    """Deterministic 60-bit hash of a string column, identical across
    engines: first 15 hex digits of md5, parsed base-16.  Used by MinHash /
    SimHash / fingerprinting so a DuckDB oracle
    (``CAST('0x' || substr(md5(x),1,15) AS BIGINT)``) reproduces it exactly.
    """
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")
