"""Diversity-aware data selection over embedding columns.

Two greedy selectors share one execution shape (k rounds, each ONE
narrow scan + ONE TakeOrdered(1) reduce over an incrementally
maintained per-row statistic):

- ``kcenter_select`` — max-min COVERAGE (Gonzalez 1985);
- ``mmr_select`` — relevance/redundancy trade (Maximal Marginal
  Relevance, Carbonell & Goldstein 1998), the diversity-aware top-k
  retrieval re-ranker.

``kcenter_select`` is the greedy 2-approximation for the metric
k-center problem (Gonzalez 1985, "Clustering to minimize the maximum
intercluster distance") — the standard coreset / diversity-sampling
primitive in training-data curation: pick k points such that every
corpus point is close to some pick, maximizing coverage with a hard
|picks| budget.  Facility-location / "select the most diverse k docs"
pipelines are this exact loop over document embeddings.

Engine-portable exact math, same convention as ``similarity.py``: each
embedding element is quantized to an int64 micro-unit
(``floor(x * 1e6)``), so squared L2 distances are EXACT integer sums
(64 dims x (2e6)^2 = 2.6e14 << 2^63) — every round's argmax and the
final argmin assignment are bit-reproducible and hash-checkable against
a DuckDB oracle that replays the identical rounds as unrolled
MATERIALIZED CTEs.

Scale design (100 TB corpus, 1000 executors):
- Each greedy round is ONE narrow scan of the persisted quantized
  corpus + ONE ``TakeOrderedAndProject(1)`` reduce — no shuffle of the
  vectors, no pairwise anything.  Total cost: k scans.
- The running min-distance column is maintained INCREMENTALLY (one new
  distance eval per row per round, ``least`` with the previous round's
  persisted value), not recomputed against all chosen centers — the
  classic O(nk) formulation.  Round i's frame is persisted and round
  i-1's released once round i materializes, so peak cache is one
  (id, qv, mind2) projection of the corpus.
- Centers live on the driver (k rows, bounded by construction) and
  ship back as literal struct arrays — the broadcast-centroid pattern
  shared with ``train_kmeans``/``ivf_topk``; the final assignment is a
  map-side expression, zero joins.

Reference parity note: the reference engine has no selection surface at
all — this extends the repo's LLM-data-pipeline layer (SemDeDup, DSIR,
A-ES sampling) with the max-min coverage selector those papers pair
with (e.g. coreset selection literature; Sener & Savarese 2018 use this
exact greedy loop for active learning).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from mvrepair.operators.similarity import _quant


def _d2(a: Column, b: Column) -> Column:
    """Exact int64 squared L2 distance of two quantized vectors."""
    diffs = F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
    return F.aggregate(diffs, F.lit(0).cast("long"), lambda acc, x: acc + x)


def _center_lits(centers: list[tuple[int, int, list[int]]]) -> Column:
    """Literal array<struct<rnd,cid,cqv>> for the chosen centers
    (selection order = ``rnd``)."""
    return F.array(
        *[
            F.struct(
                F.lit(rnd).cast("int").alias("rnd"),
                F.lit(cid).cast("long").alias("cid"),
                F.array(*[F.lit(v).cast("long") for v in cqv]).alias("cqv"),
            )
            for rnd, cid, cqv in centers
        ]
    )


def kcenter_select(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[tuple[int, int, list[int]]], DataFrame]:
    """Greedy k-center: returns ``(centers, assignment)``.

    ``centers`` is the selection-ordered list ``(round, id, qv)``; round
    0 is the deterministic seed (max squared norm, ties to the lowest
    id — a data-dependent, order-independent choice), and each later
    round picks the point FARTHEST from its nearest chosen center
    (max-min, ties to the lowest id).

    ``assignment`` maps every corpus point to its nearest center:
    ``(id_col, center_round int, center_id, d2, is_center)`` — argmin
    ties resolve to the earliest-selected center, mirroring the oracle's
    ``ORDER BY d2, rnd`` window.
    """
    if k < 1:
        raise ValueError("kcenter_select needs k >= 1")
    from mvrepair.tuning import AQE, conf_scope

    q = df.select(F.col(id_col), _quant(F.col(vec_col)).alias("qv")).persist()
    try:
        # the whole greedy loop runs with AQE off — every round is
        # exchange-free (TakeOrdered over a persisted frame + a map-side
        # update), so AQE has nothing to size, yet under AQE each round
        # paid a SECOND job for the cache fill's ResultQueryStage;
        # without it fill and argmax fuse into the round's single job
        # (2 -> 1 jobs and ~0.4 -> ~0.2 s per round measured, identical
        # picks).
        with conf_scope(df.sparkSession, {AQE: "false"}):
            seed = (
                q.select(id_col, "qv", _d2_norm().alias("n2"))
                .orderBy(F.desc("n2"), F.asc(id_col))
                .limit(1)
                .collect()[0]
            )
            centers: list[tuple[int, int, list[int]]] = [
                (0, seed[id_col], list(seed["qv"]))
            ]
            cqv0 = F.array(*[F.lit(v).cast("long") for v in centers[0][2]])
            cur = q.select(
                id_col, "qv", _d2(F.col("qv"), cqv0).alias("mind2")
            ).persist()
            prev = None
            # ONE action per round: the argmax TakeOrdered materializes
            # the round's persisted frame (so the parent can release),
            # and the last round never builds the update frame it would
            # never read
            for rnd in range(1, k):
                far = (
                    cur.orderBy(F.desc("mind2"), F.asc(id_col))
                    .limit(1)
                    .collect()[0]
                )
                if prev is not None:
                    prev.unpersist()
                centers.append((rnd, far[id_col], list(far["qv"])))
                if rnd < k - 1:
                    cqv = F.array(
                        *[F.lit(v).cast("long") for v in centers[-1][2]]
                    )
                    prev, cur = cur, cur.select(
                        id_col,
                        "qv",
                        F.least("mind2", _d2(F.col("qv"), cqv)).alias("mind2"),
                    ).persist()
        lits = _center_lits(centers)
        # argmin over the k centers as ONE map-side expression: array_min
        # on struct<d2,rnd,cid> orders lexicographically, giving the
        # (d2 ASC, rnd ASC) tie-break for free.
        best = F.array_min(
            F.transform(
                lits,
                lambda c: F.struct(
                    _d2(F.col("qv"), c["cqv"]).alias("d2"),
                    c["rnd"].alias("rnd"),
                    c["cid"].alias("cid"),
                ),
            )
        )
        cids = [cid for _, cid, _ in centers]
        # The assignment needs only (id, qv) + the center literals — it
        # rides the SOURCE frame, not the loop's mind2 frame, so every
        # loop persist is released before return and the caller's action
        # is one map-side scan with zero joins and zero cached state.
        out = (
            df.select(F.col(id_col), _quant(F.col(vec_col)).alias("qv"))
            .select(F.col(id_col), best.alias("b"))
            .select(
                id_col,
                F.col("b.rnd").alias("center_round"),
                F.col("b.cid").alias("center_id"),
                F.col("b.d2").alias("d2"),
                F.col(id_col).isin(cids).alias("is_center"),
            )
        )
        cur.unpersist()
        return centers, out
    finally:
        q.unpersist()


def _d2_norm() -> Column:
    """Exact int64 squared norm of the ``qv`` column."""
    return F.aggregate(
        F.transform(F.col("qv"), lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _cos_micro(a: Column, b: Column) -> Column:
    """floor(cosine * 1e6) of two quantized vectors — the kmeans/ANN
    ``cosine_micro`` convention (exact int64 dot/norms, one sqrt + one
    division + one floor, cross-engine deterministic)."""
    from mvrepair.operators.similarity import _dot

    return F.floor(
        _dot(a, b).cast("double")
        / (
            F.sqrt(_dot(a, a).cast("double"))
            * F.sqrt(_dot(b, b).cast("double"))
        )
        * F.lit(1000000.0)
    ).cast("long")


def mmr_select(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lam_num: int = 7,
    lam_den: int = 10,
) -> tuple[list[tuple[int, int, list[int]]], DataFrame]:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick k documents maximizing
    ``lam·rel(d) − (1−lam)·max_{s∈picked} sim(d, s)`` — the standard
    diversity-aware top-k for retrieval and training-batch dedup, with
    the relevance/redundancy trade ``lam = lam_num/lam_den`` kept as
    EXACT integer weights (score_q = lam_num·rel_micro −
    (lam_den−lam_num)·maxsim_micro), so every round's argmax is
    bit-reproducible and the DuckDB oracle replays the identical rounds
    as unrolled MATERIALIZED CTEs.

    The query vector is the corpus row with the LOWEST id — a
    deterministic stand-in for a user query (swap in any literal
    vector); relevance is cosine_micro to it.  Round 0 picks max
    relevance (standard MMR); each later round scores only unpicked
    rows against the incrementally-maintained ``maxsim_micro`` (same
    one-scan-one-TakeOrdered(1) shape as :func:`kcenter_select` — the
    redundancy term never recomputes against all picks).

    Returns ``(picks, scored)``: picks = selection-ordered
    ``(rank, id, qv)``; scored = every corpus row with ``rel_micro``,
    final ``maxsim_micro`` (vs the full picked set, self included),
    ``selected`` and its ``sel_rank`` — a map-side expression over the
    source plus one k-row broadcast join, zero cached state left
    behind.
    """
    if k < 1:
        raise ValueError("mmr_select needs k >= 1")
    if not (0 < lam_num <= lam_den):
        raise ValueError("need 0 < lam_num <= lam_den")
    from mvrepair.tuning import AQE, conf_scope

    spark = df.sparkSession
    base = df.select(F.col(id_col), _quant(F.col(vec_col)).alias("qv"))
    # AQE off for the greedy loop — see kcenter_select (2 -> 1
    # jobs and ~0.4 -> ~0.2 s per round, identical picks; nothing in
    # the exchange-free loop body for AQE to size).  rel persists
    # BEFORE the try so the finally's unpersist is always bound.
    with conf_scope(spark, {AQE: "false"}):
        [qrow] = base.orderBy(F.asc(id_col)).limit(1).collect()
    qlit = F.array(*[F.lit(v).cast("long") for v in qrow["qv"]])
    rel = base.select(
        id_col, "qv", _cos_micro(F.col("qv"), qlit).alias("rel_micro")
    ).persist()
    try:
        with conf_scope(spark, {AQE: "false"}):
            [seed] = (
                rel.orderBy(F.desc("rel_micro"), F.asc(id_col))
                .limit(1)
                .collect()
            )
            picks: list[tuple[int, int, list[int]]] = [
                (0, seed[id_col], list(seed["qv"]))
            ]
            seed_lit = F.array(*[F.lit(v).cast("long") for v in picks[0][2]])
            cur = rel.select(
                id_col,
                "qv",
                "rel_micro",
                _cos_micro(F.col("qv"), seed_lit).alias("maxsim_micro"),
            ).persist()
            prev = None
            w_red = lam_den - lam_num
            # ONE action per round (the kcenter loop shape): the argmax
            # materializes the round's frame, and the last round skips
            # the update frame it would never read
            for rnd in range(1, k):
                picked_ids = [pid for _, pid, _ in picks]
                score = F.lit(lam_num) * F.col("rel_micro") - F.lit(
                    w_red
                ) * F.col("maxsim_micro")
                [best] = (
                    cur.filter(~F.col(id_col).isin(picked_ids))
                    .orderBy(score.desc(), F.asc(id_col))
                    .limit(1)
                    .collect()
                )
                if prev is not None:
                    prev.unpersist()
                picks.append((rnd, best[id_col], list(best["qv"])))
                if rnd < k - 1:
                    plit = F.array(
                        *[F.lit(v).cast("long") for v in picks[-1][2]]
                    )
                    prev, cur = cur, cur.select(
                        id_col,
                        "qv",
                        "rel_micro",
                        F.greatest(
                            "maxsim_micro", _cos_micro(F.col("qv"), plit)
                        ).alias("maxsim_micro"),
                    ).persist()
            cur.unpersist()
        # output rides the SOURCE frame map-side (the kcenter doctrine):
        # final maxsim == max over picks of cos_micro, identical to the
        # incremental greatest-chain pair for pair
        plits = F.array(
            *[
                F.array(*[F.lit(v).cast("long") for v in qv])
                for _, _, qv in picks
            ]
        )
        pick_rows = spark.createDataFrame(
            [(pid, rnd) for rnd, pid, _ in picks],
            f"{id_col} long, sel_rank int",
        )
        scored = (
            df.select(F.col(id_col), _quant(F.col(vec_col)).alias("qv"))
            .select(
                id_col,
                _cos_micro(F.col("qv"), qlit).alias("rel_micro"),
                F.array_max(
                    F.transform(
                        plits, lambda p: _cos_micro(F.col("qv"), p)
                    )
                ).alias("maxsim_micro"),
            )
            .join(F.broadcast(pick_rows), id_col, "left")
            .select(
                id_col,
                "rel_micro",
                "maxsim_micro",
                F.col("sel_rank").isNotNull().alias("selected"),
                "sel_rank",
            )
        )
        return picks, scored
    finally:
        rel.unpersist()
