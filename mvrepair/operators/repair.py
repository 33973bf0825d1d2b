"""Repair planning + file-mode apply.

Re-expresses the reference's imperative per-row CQL repair
(/root/reference/src/main/java/mvsync/db/DBOperations.java:240-387 upsert,
:58-94 delete, :196-228 guard probe) as pure DataFrame transforms:

- ``plan_upserts``: one cell per (key, changed column) for
  INCONSISTENT / MISSING_IN_MV_TABLE keys — column-granular, carrying the
  base row's per-cell writetime/ttl and the statement flavor
  (UpsertFlavors.java:3-8), equal columns skipped (shouldSkipField,
  DBOperations.java:230-238), null-PK keys diverted to an error plan
  (DBOperations.java:296-309).
- ``plan_deletes``: MISSING_IN_BASE_TABLE orphans re-verified against a
  fresh base snapshot with a left-anti join (the set-based equivalent of
  the per-row ``SELECT … ALLOW FILTERING`` guard, DBOperations.java:196-228,
  PreparedStatementHelper.java:80-92).
- ``apply_repairs_file_mode``: rewrites the MV dataset (join + ``CASE WHEN``
  column replacement) — the deterministic fixture-harness analogue of the
  CQL mutation path.

All of it is lazy Catalyst algebra; the only imperative edge in the engine
is the optional Cassandra executor in ``mvrepair.sources.cassandra``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from mvrepair.config import SyncSettings
from mvrepair.functions import deep_eq, ident, render_value, sql_str
from mvrepair.schema import (
    COLLECTION_TYPES,
    MVSpec,
    ttl_col,
    writetime_col,
)
from mvrepair.operators.reconcile import (
    BASE_PREFIX,
    CONSISTENT,
    INCONSISTENT,
    MISSING_IN_BASE_TABLE,
    MISSING_IN_MV_TABLE,
    MV_PREFIX,
    SKIPPED,
    classify,
    problem_in,
    upsert_problems,
)

# UpsertFlavors.java:3-8
NO_TIMESTAMP_TTL = "NO_TIMESTAMP_TTL"
TIMESTAMP = "TIMESTAMP"
TTL = "TTL"
TIMESTAMP_TTL = "TIMESTAMP_TTL"

_UPSERT_PROBLEMS = [INCONSISTENT, MISSING_IN_MV_TABLE]


def _changed(c: str, t: str) -> str:
    """NOT shouldSkipField (DBOperations.java:230-238), as SQL text: skip
    only when both rows exist and values deep-equal; a missing MV row
    never skips."""
    mv_absent = f"NOT coalesce({ident(MV_PREFIX + 'present')}, false)"
    neq = f"NOT {deep_eq(ident(BASE_PREFIX + c), ident(MV_PREFIX + c), t)}"
    return f"{mv_absent} OR {neq}"


def _base_or_null(df_cols: list[str], name: str, cast: str | None = None) -> str:
    if name in df_cols:
        return ident(name)
    return f"CAST(NULL AS {cast})" if cast else "NULL"


def _pk_has_null(spec: MVSpec, has: bool = True) -> str:
    """Reference refuses upserts whose (base-sourced) MV PK has a null
    (DBOperations.java:296-309).  After the using-join the PK columns are
    the join key; they can only be null if the source row had a null key.
    ``has=False`` is the negation: every PK column is set."""
    if has:
        return " OR ".join(f"{ident(c)} IS NULL" for c in spec.mv_pk)
    return " AND ".join(f"{ident(c)} IS NOT NULL" for c in spec.mv_pk)


def plan_upserts(
    wide: DataFrame,
    spec: MVSpec,
    settings: SyncSettings | None = None,
    respect_flags: bool = False,
) -> DataFrame:
    """Column-granular upsert plan.

    Input: the wide classified DataFrame from ``classify``.  Output: one row
    per (MV key, changed MV non-PK column):

        <mv_pk…>, column, column_type, value (rendered string),
        writetime (long|null), ttl (int|null), flavor

    Iterates ALL MV non-PK columns (DBOperations.java:245-249 uses
    ``mvNonPrimaryKeyColumns``, not just common ones); values come from the
    base row (absent-in-base columns bind null).  ``writetime`` is omitted
    under ``mutation.uselatestts`` (DBOperations.java:252-261); TTL is
    always carried when present (:263-266); collections have neither
    (MvSync.java:224).  Keys with a null PK column are EXCLUDED — see
    ``plan_upsert_errors``.
    """
    settings = settings or SyncSettings()
    problems = upsert_problems(settings) if respect_flags else _UPSERT_PROBLEMS
    cand = wide.filter(problem_in(problems)).filter(
        _pk_has_null(spec, has=False)
    )

    cols = cand.columns
    cells = []
    for c, t in sorted(spec.mv.non_pk.items()):
        base_c = _base_or_null(cols, BASE_PREFIX + c)
        is_coll = t in COLLECTION_TYPES
        wt = (
            "CAST(NULL AS BIGINT)"
            if (settings.use_latest_ts or is_coll)
            else _base_or_null(cols, BASE_PREFIX + writetime_col(c), "BIGINT")
        )
        ttl = (
            "CAST(NULL AS INT)"
            if is_coll
            else _base_or_null(cols, BASE_PREFIX + ttl_col(c), "INT")
        )
        flavor = (
            f"CASE WHEN {wt} IS NOT NULL AND {ttl} IS NOT NULL THEN '{TIMESTAMP_TTL}'"
            f" WHEN {wt} IS NOT NULL THEN '{TIMESTAMP}'"
            f" WHEN {ttl} IS NOT NULL THEN '{TTL}'"
            f" ELSE '{NO_TIMESTAMP_TTL}' END"
        )
        changed = (
            _changed(c, t)
            if (BASE_PREFIX + c in cols or MV_PREFIX + c in cols)
            else "true"
        )
        cells.append(
            f"CASE WHEN {changed} THEN named_struct("
            f"'column', {sql_str(c)}, 'column_type', {sql_str(t)},"
            f" 'value', CASE WHEN {base_c} IS NOT NULL"
            f" THEN {render_value(base_c, t)} END,"
            f" 'writetime', {wt}, 'ttl', {ttl}, 'flavor', {flavor}) END"
        )

    pk = [ident(c) for c in spec.mv_pk]
    exploded = cand.selectExpr(
        *pk, f"explode(array_compact(array({', '.join(cells)}))) AS cell"
    )
    fields = ("`column`", "column_type", "value", "writetime", "ttl", "flavor")
    return exploded.selectExpr(*pk, *(f"cell.{f}" for f in fields))


def plan_upsert_errors(wide: DataFrame, spec: MVSpec) -> DataFrame:
    """Keys whose upsert the reference refuses: null MV-PK column
    (DBOperations.java:296-309) → ERR_UPSERTING report category."""
    return (
        wide.filter(problem_in(_UPSERT_PROBLEMS))
        .filter(_pk_has_null(spec))
        .selectExpr(*map(ident, spec.mv_pk), "problem")
    )


def plan_deletes(
    wide: DataFrame,
    spec: MVSpec,
    current_base_df: DataFrame,
) -> DataFrame:
    """Guarded delete plan for MV orphans.

    MISSING_IN_BASE_TABLE keys, re-verified absent from a *fresh* base
    snapshot via left-anti join on the MV PK — the set-based equivalent of
    the reference's per-row point lookup (isPresentInBaseTable,
    DBOperations.java:196-228).  Output: one row per MV PK to delete.
    """
    return _orphans(wide, spec, current_base_df, "left_anti")


def plan_not_deleted(
    wide: DataFrame,
    spec: MVSpec,
    current_base_df: DataFrame,
) -> DataFrame:
    """Orphans whose delete is suppressed because the key re-appeared in the
    base snapshot (DBResult.entryPresent → notDelRecords,
    MvSync.java:391-397)."""
    return _orphans(wide, spec, current_base_df, "left_semi")


def _orphans(
    wide: DataFrame, spec: MVSpec, current_base_df: DataFrame, how: str
) -> DataFrame:
    """MISSING_IN_BASE_TABLE keys, ``how``-joined with the PKs of a base
    snapshot (``left_anti``: still absent; ``left_semi``: re-appeared)."""
    pk = [ident(c) for c in spec.mv_pk]
    orphans = wide.filter(f"problem = '{MISSING_IN_BASE_TABLE}'").selectExpr(*pk)
    fresh = current_base_df.selectExpr(*pk)
    return orphans.join(fresh, on=spec.mv_pk, how=how)


def apply_repairs_file_mode(
    base_df: DataFrame,
    mv_df: DataFrame,
    spec: MVSpec,
    settings: SyncSettings | None = None,
    window: tuple[int, int] | None = None,
) -> DataFrame:
    """Deterministic file-mode repair: returns the repaired MV dataset.

    Equivalent of running the reference with all three fix flags honored,
    but as a pure join + per-column ``CASE WHEN`` rewrite (FIXTURES.md F5:
    "resulting MV dataset must equal the base table's projection under the
    MV schema for all in-window keys"):

      * CONSISTENT / SKIPPED → MV row unchanged,
      * INCONSISTENT (+fixinconsistentmv) → changed columns replaced by the
        base value, carrying base writetime/ttl companions,
      * MISSING_IN_MV_TABLE (+fixmissingmv) → base row projected onto the
        MV schema inserted,
      * MISSING_IN_BASE_TABLE (+fixorphanmv) → dropped (the guard re-check
        against the same snapshot is vacuously true in file mode).
    """
    settings = settings or SyncSettings()
    fix_inc = settings.fix_inconsistent_mv
    fix_missing = settings.fix_missing_mv
    fix_orphan = settings.fix_orphan_mv

    wide = classify(base_df, mv_df, spec, window=window)
    cols = wide.columns
    mv_present = f"coalesce({ident(MV_PREFIX + 'present')}, false)"

    kept = [CONSISTENT, SKIPPED, INCONSISTENT]
    if not fix_orphan:
        kept.append(MISSING_IN_BASE_TABLE)
    inserted = [MISSING_IN_MV_TABLE] if fix_missing else []
    keep = f"{mv_present} AND {problem_in(kept)} OR {problem_in(inserted)}"

    out_cols = [ident(c) for c in spec.mv_pk]
    for c, t in sorted(spec.mv.non_pk.items()):
        replaced = [INCONSISTENT] if fix_inc else []
        take_base = (
            f"{problem_in(replaced)} AND ({_changed(c, t)}) OR {problem_in(inserted)}"
        )
        names = [c]
        if t not in COLLECTION_TYPES:
            names += [writetime_col(c), ttl_col(c)]
        for name, cast in zip(names, (None, "BIGINT", "INT")):
            b = _base_or_null(cols, BASE_PREFIX + name, cast)
            m = _base_or_null(cols, MV_PREFIX + name, cast)
            out_cols.append(
                f"CASE WHEN {take_base} THEN {b} ELSE {m} END AS {ident(name)}"
            )

    return wide.filter(keep).selectExpr(*out_cols)


def compact_repair_log(
    cells: DataFrame,
    key_cols: list[str],
    column_col: str = "column",
) -> DataFrame:
    """Compact a durable repair-cell log: keep the WINNING cell per
    (MV key, column) — the step a long-running incremental repair needs
    before applying, once restarts/retries and superseding snapshots have
    appended multiple cells for the same target.

    The winner is the max by (writetime, value, flavor, ttl,
    column_type), each field preceded by a not-null flag so nulls lose
    deterministically and ties are only possible between identical
    payloads — replays of the same cell collapse without ambiguity,
    later-writetime cells supersede earlier ones (exactly Cassandra's
    own last-write-wins cell semantics, applied to the log).  Output
    adds ``n_superseded``: how many older cells the winner shadowed.

    Scale shape: one map-side-combinable ``max_by(struct)`` aggregate on
    (key, column) — never a window sort; groups are per-cell-target and
    tiny by construction, so there is no skew surface.
    """
    def flagged(c: str, null_sub) -> list[Column]:
        return [
            F.col(c).isNotNull().alias(f"{c}_nn"),
            F.coalesce(F.col(c), F.lit(null_sub)).alias(f"{c}_v"),
        ]

    comp = F.struct(
        *flagged("writetime", -(2 ** 62)),
        *flagged("value", ""),
        *flagged("flavor", ""),
        *flagged("ttl", -1),
        *flagged("column_type", ""),
    )
    payload = F.struct("column_type", "value", "writetime", "ttl", "flavor")
    out = cells.groupBy(*key_cols, column_col).agg(
        F.max_by(payload, comp).alias("__w"),
        F.count(F.lit(1)).alias("__n"),
    )
    return out.select(
        *key_cols,
        column_col,
        "__w.*",
        (F.col("__n") - 1).cast("long").alias("n_superseded"),
    )
