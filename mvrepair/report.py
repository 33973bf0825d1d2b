"""Report sinks: golden-text formatter, categorized fan-out, stats file.

Parity targets (citations into /root/reference):
- Record format (O17): ``MVInconsistentRow.toString``
  (src/main/java/mvsync/MVInconsistentRow.java:32-53):
  ``Problem:/RowKey:/MainTableEntry:/MVTableEntry:[/BaseColumn:/MvColumn:]``
  with ``RecordColumnInfo.toString`` = ``name:TYPE[:value]`` (value omitted
  when null — RecordColumnInfo.java:39-47) and ``RecordPrimaryKey.toString``
  = ``name:TYPE:value,…`` (RecordPrimaryKey.java:63-76).
- Categorized sinks (O16): ``<outdir>/<PROBLEM>/…`` with records separated
  by ``"="*30`` (MVJobOutputStreamer.java:28-101).  Re-expressed as
  ``write.partitionBy("problem").text`` — one directory per category, one
  file per Spark partition, exactly the reference's layout shape.
- Stats sink (O18): single-line ``stats.txt`` (JobStats.java:44-76,
  golden in README.md:73).

Row rendering note: the reference prints ``CassandraRow{col: val, …}`` in
connector map order, which is not deterministic; we render sorted column
order and match parsed content, not byte order (SURVEY §7).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, functions as F

from mvrepair.functions import coalesce_sql, ident, render_value, sql_str
from mvrepair.operators.reconcile import (
    BASE_PREFIX,
    INCONSISTENT,
    MV_PREFIX,
    PROBLEM_ROWS,
    JobStatsResult,
    problem_in,
    upsert_problems,
)
from mvrepair.schema import MVSpec, TTL_SUFFIX, WRITETIME_SUFFIX

SEPARATOR = "=" * 30

# MVJobOutputStreamer.java:43-48 — the two repair-error report categories.
ERR_DELETING = "ERR_DELETING"
ERR_UPSERTING = "ERR_UPSERTING"

# a record with its FileStreamer separator appended (FileStreamer.java:20-34)
_SEPARATED_RECORD = f"concat(record, {sql_str(chr(10) + SEPARATOR)}) AS record"


def _row_key_expr(spec: MVSpec) -> str:
    """RecordPrimaryKey.toString: ``name:TYPE:value,…`` over the MV PK."""
    parts = []
    for c in spec.mv_pk:
        typ = spec.mv.columns[c]
        label = f"{',' if parts else ''}{c}:{typ}:"
        parts += [sql_str(label), render_value(ident(c), typ)]
    return f"concat({', '.join(parts)})"


def _row_render_expr(wide_cols: list[str], spec: MVSpec, prefix: str, side) -> str:
    """``CassandraRow{col: val, …}`` in sorted column order; null row (side
    absent) renders as the literal ``null``."""
    parts: list[str] = []
    sep = "CassandraRow{"
    for c in sorted(side.columns):
        typ = side.columns[c]
        src = c if c in spec.mv_pk else prefix + c
        if src not in wide_cols and c not in spec.mv_pk:
            continue
        parts += [sql_str(f"{sep}{c}: "), render_value(ident(src), typ)]
        sep = ", "
        for suffix, label in ((WRITETIME_SUFFIX, "writetime"), (TTL_SUFFIX, "ttl")):
            comp = (prefix + c + suffix) if c not in spec.mv_pk else None
            if comp and comp in wide_cols:
                parts += [
                    sql_str(f", {label}({c}): "),
                    f"coalesce(CAST({ident(comp)} AS STRING), 'null')",
                ]
    parts.append(sql_str("}" if parts else sep + "}"))
    present = f"coalesce({ident(prefix + 'present')}, false)"
    return f"CASE WHEN {present} THEN concat({', '.join(parts)}) ELSE 'null' END"


def _record_expr(cols: list[str], spec: MVSpec) -> str:
    """The full golden record text (MVInconsistentRow.toString parity)."""
    diff_name_type = "concat(diff_column, ':', diff_type)"

    def cell(value: str) -> str:
        return (
            f"CASE WHEN {value} IS NOT NULL"
            f" THEN concat({diff_name_type}, ':', {value}) ELSE {diff_name_type} END"
        )

    diff_block = (
        f"CASE WHEN problem = '{INCONSISTENT}' AND diff_column IS NOT NULL"
        f" THEN concat({sql_str(chr(10) + 'BaseColumn: ')}, {cell('base_value')},"
        f" {sql_str(chr(10) + 'MvColumn: ')}, {cell('mv_value')}) ELSE '' END"
    )
    return (
        f"concat('Problem: ', problem,"
        f" {sql_str(chr(10) + 'RowKey: ')}, {_row_key_expr(spec)},"
        f" {sql_str(chr(10) + 'MainTableEntry: ')},"
        f" {_row_render_expr(cols, spec, BASE_PREFIX, spec.base)},"
        f" {sql_str(chr(10) + 'MVTableEntry: ')},"
        f" {_row_render_expr(cols, spec, MV_PREFIX, spec.mv)}, {diff_block})"
    )


def format_report(wide: DataFrame, spec: MVSpec) -> DataFrame:
    """Wide classified DataFrame → (problem, record) golden-text rows for
    all problem keys (CONSISTENT/SKIPPED emit nothing)."""
    record = _record_expr(wide.columns, spec)
    return wide.filter(PROBLEM_ROWS).selectExpr("problem", f"{record} AS record")


def _default_upsert_err(spec: MVSpec, settings) -> str:
    """File-mode upsert failure surface (SQL text): the reference refuses
    (and reports) upserts whose MV-PK has a null column
    (DBOperations.java:296-309, ``Primary key column %s is null``) — the
    one mutation error that exists without a live database.

    When this fires: the wide frame's PK columns are using-join coalesced,
    so a null only survives when NEITHER side had a value — i.e. a
    base-only row whose *promoted* MV-PK column is null (such rows never
    joined, classify as MISSING_IN_MV_TABLE, and are exactly the rows the
    reference's pre-mutation check rejects: the base row can't be inserted
    into the MV without a full PK).  For INCONSISTENT rows both sides
    matched on non-null keys, so — as in the reference, where Cassandra
    PKs are non-null — the check cannot fire there."""
    attempted = problem_in(upsert_problems(settings))
    first_null = coalesce_sql(
        [f"CASE WHEN {ident(c)} IS NULL THEN {sql_str(c)} END" for c in spec.mv_pk]
    )
    return (
        f"CASE WHEN {attempted} AND {first_null} IS NOT NULL"
        f" THEN concat('Primary key column ', {first_null}, ' is null') END"
    )


def _err_sql(
    wide: DataFrame, err: str | Column | None, name: str
) -> tuple[DataFrame, str]:
    """An error expression as SQL text over ``wide``: text (one operand,
    e.g. a CASE or a function call) passes through, a Column is projected
    as a hidden ``name`` column and referenced."""
    if err is None:
        return wide, "CAST(NULL AS STRING)"
    if isinstance(err, str):
        return wide, err
    return wide.withColumn(name, err), ident(name)


def format_report_categorized(
    wide: DataFrame,
    spec: MVSpec,
    settings=None,
    upsert_err: str | Column | None = None,
    delete_err: str | Column | None = None,
) -> DataFrame:
    """(category, record) with repair-error fan-out, in ONE scan.

    Routing parity with ``MVJobOutputStreamer.streamOutput``
    (MVJobOutputStreamer.java:64-101): every problem row goes to its
    problem category; a row whose repair mutation failed ADDITIONALLY goes
    to ERR_DELETING / ERR_UPSERTING with the error message appended.
    ``upsert_err`` / ``delete_err`` are string expressions, SQL text or
    Columns (null = no error); the default upsert error reproduces the
    reference's null-PK refusal.  Fan-out is an explode over a per-row
    category array, so the classified frame is scanned once — no
    per-category re-scan.
    """
    from mvrepair.config import SyncSettings

    settings = settings or SyncSettings()
    record = _record_expr(wide.columns, spec)
    if upsert_err is None:
        upsert_err = _default_upsert_err(spec, settings)
    wide, upsert_err = _err_sql(wide, upsert_err, "__upsert_err")
    wide, delete_err = _err_sql(wide, delete_err, "__delete_err")

    def target(category: str, err: str) -> str:
        return (
            f"CASE WHEN {err} IS NOT NULL THEN named_struct('category', '{category}',"
            f" 'record', concat({record}, {sql_str(chr(10))}, {err})) END"
        )

    targets = (
        f"array_compact(array(CASE WHEN {PROBLEM_ROWS}"
        f" THEN named_struct('category', problem, 'record', {record}) END,"
        f" {target(ERR_DELETING, delete_err)}, {target(ERR_UPSERTING, upsert_err)}))"
    )
    return wide.selectExpr(f"explode({targets}) AS t").selectExpr(
        "t.category", "t.record"
    )


def write_reports(
    wide: DataFrame,
    spec: MVSpec,
    outdir: str,
    settings=None,
    upsert_err: str | Column | None = None,
    delete_err: str | Column | None = None,
) -> None:
    """O16 multi-sink fan-out: ``<outdir>/category=<CATEGORY>/part-*.txt``
    with ``"="*30`` separators appended per record (FileStreamer parity).

    Routes through ``format_report_categorized``, so repair-error rows
    additionally land in ``ERR_DELETING``/``ERR_UPSERTING`` — the full
    MVJobOutputStreamer category set.  ``runner.run`` wraps this with the
    reference's exact directory names (category= prefix stripped) plus
    stats.txt."""
    formatted = format_report_categorized(
        wide, spec, settings, upsert_err=upsert_err, delete_err=delete_err
    ).selectExpr("category", _SEPARATED_RECORD)
    formatted.write.partitionBy("category").mode("overwrite").text(outdir)


def write_error_reports(
    wide: DataFrame,
    spec: MVSpec,
    outdir: str,
    upsert_errors: DataFrame | None = None,
    delete_errors: DataFrame | None = None,
) -> None:
    """Append ERR_UPSERTING / ERR_DELETING records for keys whose LIVE
    repair mutation failed.

    The reference streams the failed record plus the exception text while
    mutating (MVJobOutputStreamer.java:64-101, fed from the catch blocks in
    DBOperations.java:58-94 / :240-387); batch-side, the error frames come
    back from ``sources.cassandra.apply_repairs_cassandra`` AFTER the
    report write, so the error categories are a second, append-mode write
    into the same categorized layout.  Errors are aggregated per key
    (sorted distinct messages, ``"; ``"-joined) so a key with several
    failed column upserts emits one record — bounded output per key.

    DELIBERATE format divergence (the one departure from the pinned
    reference formats): the reference streams ONE block per failed
    mutation (MVJobOutputStreamer.java:84-94), so a key with N failing
    column upserts emits N blocks; here it emits one block with the
    distinct messages joined.  Message PREFIXES match the reference
    ('Error upserting data:' / 'Error deleting data:',
    DBOperations.java:90,383).
    """
    frames = [
        (ERR_UPSERTING, upsert_errors),
        (ERR_DELETING, delete_errors),
    ]
    record = _record_expr(wide.columns, spec)
    out = None
    for category, errors in frames:
        if errors is None:
            continue
        per_key = errors.groupBy(*spec.mv_pk).agg(
            F.expr("array_join(sort_array(collect_set(error)), '; ') AS __err")
        )
        part = wide.join(per_key, on=list(spec.mv_pk), how="inner").selectExpr(
            f"'{category}' AS category",
            f"concat({record}, {sql_str(chr(10))}, __err) AS record",
        )
        out = part if out is None else out.unionByName(part)
    if out is None:
        return
    formatted = out.selectExpr("category", _SEPARATED_RECORD)
    formatted.write.partitionBy("category").mode("append").text(outdir)


def write_stats(stats: JobStatsResult, outdir: str) -> None:
    """O18: single-line ``stats.txt`` in exact JobStats.toString format."""
    os.makedirs(outdir, exist_ok=True)
    with open(os.path.join(outdir, "stats.txt"), "w") as fh:
        fh.write(stats.render())
