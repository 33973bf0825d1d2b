"""Core reconciliation operator: base table vs materialized view.

Re-expresses the reference's hand-built RDD pipeline
(/root/reference/src/main/java/mvsync/MvSync.java:268-427) as one lazy
Catalyst plan:

    window flags (O7) → dedup-first (O8 fine print) → full-outer join on the
    MV primary key (O8) → existence classification (O9/O11) → alphabetical
    first-mismatch column diff (O10) → counters (O12).

Everything is built from `pyspark.sql.functions` expressions — no UDFs, no
RDDs — so the whole compare stays inside WholeStageCodegen and Catalyst is
free to pick broadcast/SMJ strategies and AQE skew handling at 100 TB scale.

Semantic parity notes (the "fine print" of SURVEY §2):
- Join key = MV primary key for both sides (MvSync.java:129, :138-139).
  Cassandra PKs are non-null, so a plain using-columns equi-join matches the
  reference's ``RecordPrimaryKey`` cogroup semantics.
- Window (shouldSkip, MvSync.java:430-450): least/most writetime over
  COMMON non-collection non-PK columns whose VALUE is non-null
  (getTheLeastAndMostModificationTimeInMicroSeconds, :452-479); µs→sec by
  truncating conversion (:434-443); skip when ``start > least || most > end``.
  A row with no eligible writetimes is never skipped (Long.MAX/MIN
  sentinels).  A skipped row on EITHER side skips the whole key
  (:325-347) — so the flag is computed per side but applied post-join.
- Duplicate keys: only the first row per side is considered (:325-338);
  mirrored with dropDuplicates on the PK (order nondeterministic in the
  reference too).
- First mismatch: alphabetical column order (TreeMap), null==null equal,
  null vs value unequal (getInconsistentTuple, :482-510).
- CONSISTENT keys produce no report output, only counters (:374-378).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F

from mvrepair.config import SyncSettings
from mvrepair.functions import coalesce_sql, deep_eq, ident, render_value, sql_str
from mvrepair.schema import (
    COLLECTION_TYPES,
    MVSpec,
    TableSchema,
    ttl_col,
    writetime_col,
)

# MVConsistencyState.java:3-8 (+ the implicit skipped state of shouldSkip)
CONSISTENT = "CONSISTENT"
MISSING_IN_BASE_TABLE = "MISSING_IN_BASE_TABLE"
MISSING_IN_MV_TABLE = "MISSING_IN_MV_TABLE"
INCONSISTENT = "INCONSISTENT"
SKIPPED = "SKIPPED"

BASE_PREFIX = "base__"
MV_PREFIX = "mv__"

_PRESENT = "present"
_IN_WINDOW = "in_window"

# The rows that reach a report or a repair plan (CONSISTENT and SKIPPED
# keys only feed the counters — MvSync.java:374-378).
PROBLEM_ROWS = f"problem NOT IN ('{CONSISTENT}', '{SKIPPED}')"


def _in_window_expr(
    df: DataFrame, spec: MVSpec, window: tuple[int, int] | None
) -> str:
    """Per-row in-window flag (negation of shouldSkip, MvSync.java:430-450),
    as SQL text.

    Only writetimes of common, non-collection columns whose value is
    non-null participate (MvSync.java:452-479).  Comparison happens in
    SECONDS after a truncating µs→sec cast (:434-443).
    """
    if window is None:
        return "true"
    start_us, end_us = window
    start_sec = start_us // 1_000_000
    end_sec = end_us // 1_000_000
    terms = [
        f"CASE WHEN {ident(c)} IS NOT NULL THEN {ident(writetime_col(c))} END"
        for c, t in spec.compare_columns
        if t not in COLLECTION_TYPES and writetime_col(c) in df.columns
    ]
    if not terms:
        least = most = "CAST(NULL AS BIGINT)"
    elif len(terms) == 1:
        least = most = terms[0]
    else:
        least = f"least({', '.join(terms)})"
        most = f"greatest({', '.join(terms)})"

    # (long) cast in Java truncates toward zero — mirror exactly.
    def sec(us: str) -> str:
        return f"CAST(CAST({us} AS DOUBLE) / 1000000.0D AS BIGINT)"

    skip = f"{start_sec} > {sec(least)} OR {sec(most)} > {end_sec}"
    # no eligible writetime → sentinel MAX/MIN in the reference → never skipped
    return f"NOT coalesce({skip}, false)"


def _prepare_side(
    df: DataFrame,
    spec: MVSpec,
    prefix: str,
    window: tuple[int, int] | None,
    dedup_first: bool,
) -> DataFrame:
    pk = spec.mv_pk
    others = [c for c in df.columns if c not in pk]
    out = df.selectExpr(
        *map(ident, pk),
        *[f"{ident(c)} AS {ident(prefix + c)}" for c in others],
        f"{_in_window_expr(df, spec, window)} AS {ident(prefix + _IN_WINDOW)}",
        f"true AS {ident(prefix + _PRESENT)}",
    )
    if dedup_first:
        # O8 fine print: only the first row per key per side is considered
        # (MvSync.java:325-338); which one is nondeterministic there too.
        out = out.dropDuplicates(pk)
    return out


def _diff_exprs(spec: MVSpec) -> tuple[str, str, str, str]:
    """First-mismatch (alphabetical) column name/type + rendered values,
    as SQL text.

    getInconsistentTuple parity (MvSync.java:482-510): null==null equal,
    null vs value is a mismatch whose null side renders as null.
    """
    names, types, base_vals, mv_vals = [], [], [], []
    for c, t in spec.compare_columns:
        b, m = ident(BASE_PREFIX + c), ident(MV_PREFIX + c)
        neq = f"NOT {deep_eq(b, m, t)}"
        names.append(f"CASE WHEN {neq} THEN {sql_str(c)} END")
        types.append(f"CASE WHEN {neq} THEN {sql_str(t)} END")
        for side, vals in ((b, base_vals), (m, mv_vals)):
            vals.append(
                f"CASE WHEN {neq} THEN CASE WHEN {side} IS NOT NULL"
                f" THEN {render_value(side, t)} END END"
            )
    return (
        coalesce_sql(names),
        coalesce_sql(types),
        coalesce_sql(base_vals),
        coalesce_sql(mv_vals),
    )


def problem_in(problems: list[str]) -> str:
    """SQL predicate: ``problem`` is one of ``problems`` (none: ``false``).
    The fix flags are known when the plan is built, so they pick the list
    rather than becoming literals in the expression."""
    if not problems:
        return "false"
    return "problem IN (" + ", ".join(f"'{p}'" for p in problems) + ")"


def upsert_problems(settings: SyncSettings) -> list[str]:
    """The problem classes whose keys get upserts under ``settings``
    (DBOperations.java:240-387 runs for these two when their flag is on)."""
    return [
        p
        for p, on in (
            (INCONSISTENT, settings.fix_inconsistent_mv),
            (MISSING_IN_MV_TABLE, settings.fix_missing_mv),
        )
        if on
    ]


def _present(prefix: str) -> str:
    return f"coalesce({ident(prefix + _PRESENT)}, false)"


def classify(
    base_df: DataFrame,
    mv_df: DataFrame,
    spec: MVSpec,
    window: tuple[int, int] | None = None,
    dedup_first: bool = True,
) -> DataFrame:
    """Full-outer reconcile → wide classified DataFrame.

    Returns one row per distinct MV-PK with columns:
      * the MV PK columns (coalesced across sides by the using-join),
      * every non-key input column prefixed ``base__`` / ``mv__``
        (including ``__writetime``/``__ttl`` companions),
      * ``problem`` ∈ {CONSISTENT, MISSING_IN_BASE_TABLE,
        MISSING_IN_MV_TABLE, INCONSISTENT, SKIPPED},
      * ``diff_column``/``diff_type``/``base_value``/``mv_value`` — the
        first (alphabetical) mismatching common column, rendered
        convertToString-style; null unless INCONSISTENT.

    ``window`` is ``(start_us, end_us)`` inclusive reference semantics;
    ``None`` disables windowing (native mode).
    """
    base_p = _prepare_side(base_df, spec, BASE_PREFIX, window, dedup_first)
    mv_p = _prepare_side(mv_df, spec, MV_PREFIX, window, dedup_first)

    joined = base_p.join(mv_p, on=spec.mv_pk, how="full_outer")

    base_present, mv_present = _present(BASE_PREFIX), _present(MV_PREFIX)
    # skip-either-side (MvSync.java:325-347): an out-of-window row on either
    # present side skips the whole key.
    skipped = (
        f"coalesce({base_present} AND NOT {ident(BASE_PREFIX + _IN_WINDOW)}"
        f" OR {mv_present} AND NOT {ident(MV_PREFIX + _IN_WINDOW)}, false)"
    )
    diff_name, diff_type, base_val, mv_val = _diff_exprs(spec)
    compared = f"NOT {skipped} AND {base_present} AND {mv_present}"

    problem = (
        f"CASE WHEN {skipped} THEN '{SKIPPED}'"
        f" WHEN NOT {base_present} THEN '{MISSING_IN_BASE_TABLE}'"
        f" WHEN NOT {mv_present} THEN '{MISSING_IN_MV_TABLE}'"
        f" WHEN {diff_name} IS NOT NULL THEN '{INCONSISTENT}'"
        f" ELSE '{CONSISTENT}' END"
    )
    diffs = {
        "diff_column": diff_name,
        "diff_type": diff_type,
        "base_value": base_val,
        "mv_value": mv_val,
    }
    return joined.selectExpr(
        "*",
        f"{problem} AS problem",
        *[f"CASE WHEN {compared} THEN {e} END AS {n}" for n, e in diffs.items()],
    )


def reconcile_report(
    base_df: DataFrame,
    mv_df: DataFrame,
    spec: MVSpec,
    window: tuple[int, int] | None = None,
) -> DataFrame:
    """Report projection: only problem keys (CONSISTENT and SKIPPED rows
    produce no report output — MvSync.java:374-378), with the PK, the
    classification, and the first-mismatch diff cell."""
    wide = classify(base_df, mv_df, spec, window)
    return wide.filter(PROBLEM_ROWS).selectExpr(
        *map(ident, spec.mv_pk),
        "problem",
        "diff_column",
        "diff_type",
        "base_value",
        "mv_value",
    )


@dataclass
class JobStatsResult:
    counters: dict[str, int]

    # JobStats.toString parity (JobStats.java:44-76; golden in README.md:73)
    def render(self) -> str:
        c = self.counters
        return (
            f"totRecords: {c['totRecords']}"
            f", skippedRecords: {c['skippedRecords']}"
            f", consistentRecords: {c['consistentRecords']}"
            f", inConsistentRecords: {c['inConsistentRecords']}"
            f", missingBaseTableRecords: {c['missingBaseTableRecords']}"
            f", missingMvRecords: {c['missingMvRecords']}"
            f", repairRecords: {c['repairRecords']}"
            f", notRepairRecords: {c['notRepairRecords']}"
            f", delAttemptedRecords: {c['delAttemptedRecords']}"
            f", delErrRecords: {c['delErrRecords']}"
            f", delSuccessRecords: {c['delSuccessRecords']}"
            f", notDelRecords: {c['notDelRecords']}"
            f", upsertAttemptedRecords: {c['upsertAttemptedRecords']}"
            f", upsertErrRecords: {c['upsertErrRecords']}"
            f", upsertSuccessRecords: {c['upsertSuccessRecords']}"
        )


def stats_agg_exprs(
    settings: SyncSettings | None = None,
    upsert_err: str | None = None,
    delete_err: str | None = None,
) -> list[Column]:
    """Aggregate expressions computing the 15 JobStats counters from a
    classified wide DataFrame in ONE pass (increments mirrored from
    MvSync.java:315, :350-378, :384-412).

    ``upsert_err`` / ``delete_err`` are per-row error-message SQL
    expressions (null = the mutation would succeed) — pass the same
    expressions given to ``format_report_categorized`` so err/success
    counters agree with the ERR_* report categories (MvSync.java:399-412
    counts err vs success off the mutation result the same way).  When
    omitted, the success path is assumed; error counts then come from the
    repair applier when one runs.
    """
    settings = settings or SyncSettings()
    deleted = [MISSING_IN_BASE_TABLE] if settings.fix_orphan_mv else []
    repaired = deleted + upsert_problems(settings)
    unrepaired = [
        p
        for p in (MISSING_IN_BASE_TABLE, INCONSISTENT, MISSING_IN_MV_TABLE)
        if p not in repaired
    ]
    del_attempted = problem_in(deleted)
    upsert_attempted = problem_in(upsert_problems(settings))

    def failed(attempted: str, err: str | None) -> tuple[str, str]:
        if err is None:
            return "false", attempted
        return f"{attempted} AND {err} IS NOT NULL", f"{attempted} AND {err} IS NULL"

    del_err, del_ok = failed(del_attempted, delete_err)
    ups_err, ups_ok = failed(upsert_attempted, upsert_err)
    counted = {
        "skippedRecords": f"problem = '{SKIPPED}'",
        "consistentRecords": f"problem = '{CONSISTENT}'",
        "inConsistentRecords": f"problem = '{INCONSISTENT}'",
        "missingBaseTableRecords": f"problem = '{MISSING_IN_BASE_TABLE}'",
        "missingMvRecords": f"problem = '{MISSING_IN_MV_TABLE}'",
        "repairRecords": problem_in(repaired),
        "notRepairRecords": problem_in(unrepaired),
        "delAttemptedRecords": del_attempted,
        "delErrRecords": del_err,
        "delSuccessRecords": del_ok,
        "notDelRecords": None,
        "upsertAttemptedRecords": upsert_attempted,
        "upsertErrRecords": ups_err,
        "upsertSuccessRecords": ups_ok,
    }
    return [F.expr("count(1) AS totRecords")] + [
        F.expr(
            f"{'CAST(0 AS BIGINT)' if cond is None else _count_if(cond)} AS {name}"
        )
        for name, cond in counted.items()
    ]


def _count_if(cond: str) -> str:
    return f"CAST(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT)"


def read_rows_exprs() -> list[Column]:
    """ReadRows parity aggregate (rides the counters' action via a second
    ``observe``): the reference bumps readRows once per scanned row on EACH
    side pre-join (MvSync.java:250); post-join, a key contributes one read
    per present side, so the per-side present sums reproduce the pre-join
    scan count (modulo dropped duplicate keys — the one residual
    approximation, documented in metrics.py).  Kept out of
    ``stats_agg_exprs`` so the 15-counter JobStats contract (and the
    ``mv_stats`` oracle schema) stays exact."""
    return [
        F.expr(
            f"{_count_if(_present(BASE_PREFIX))}"
            f" + {_count_if(_present(MV_PREFIX))} AS readRows"
        )
    ]


def job_stats(
    wide: DataFrame, settings: SyncSettings | None = None
) -> JobStatsResult:
    """Collect the 15-counter stats for a classified DataFrame (single job)."""
    row = wide.agg(*stats_agg_exprs(settings)).first()
    return JobStatsResult(counters=row.asDict())


def stats_df(wide: DataFrame, settings: SyncSettings | None = None) -> DataFrame:
    """Same counters as a one-row DataFrame (for sinks / oracle checks)."""
    return wide.agg(*stats_agg_exprs(settings))
