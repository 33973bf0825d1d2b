"""Similarity search over embedding columns (``array<float>``).

Engine-portable exact math: each embedding element is quantized to an
int64 micro-unit (``floor(x * 1e6)`` — float→double widening is exact and
floor of a double is deterministic in every engine), so dot products and
norms are EXACT 64-bit integer sums, order-independent and bit-identical
between Spark and a DuckDB oracle.  The only floating-point steps (sqrt +
one division) are single deterministic ops on identical integer inputs.

- ``cosine_topk``: brute-force top-k — the correctness baseline.  The
  query side is expected to be small (it is broadcast); the corpus scan is
  embarrassingly parallel.
- ``lsh_bucketed_topk``: the scale path — random-hyperplane LSH buckets
  (SimHash for vectors) shrink the candidate set from |corpus| to a bucket,
  turning the cross join into a bucket-join.  Same exact scoring on the
  shortlist.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from mvrepair.tuning import CACHED_PLAN_AQE, conf_scope

QUANT = 1_000_000  # micro-unit quantization: |x|<=9e3 keeps dot < 2^63


def _quant(arr: Column) -> Column:
    """array<float> → array<long> micro-units (exact in any engine)."""
    return F.transform(
        arr, lambda x: F.floor(x.cast("double") * QUANT).cast("long")
    )


def _dot(a: Column, b: Column) -> Column:
    """Exact int64 dot product of two quantized vectors."""
    prods = F.zip_with(a, b, lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, x: acc + x)


def cosine_similarity(a: Column, b: Column) -> Column:
    """Quantized-exact cosine similarity of two float-array columns."""
    qa, qb = _quant(a), _quant(b)
    return _dot(qa, qb).cast("double") / (
        F.sqrt(_dot(qa, qa).cast("double")) * F.sqrt(_dot(qb, qb).cast("double"))
    )


def _prepare(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    out_id: str,
    dim: int | None = None,
    n_planes: int = 8,
) -> DataFrame:
    """Per-side precompute for vector joins: quantized ints + norm (+ LSH
    bucket when ``dim`` is given).

    Norms and buckets are per-VECTOR quantities; computing them here means
    each join candidate pair later costs ONE dot product instead of three
    (the naive per-pair cosine recomputes both self-dots).  The projections
    stay separate (CollapseProject keeps multiply-referenced non-cheap
    aliases un-inlined), and the join's shuffle materializes them once per
    input row.
    """
    out = df.select(
        F.col(id_col).alias(out_id), _quant(F.col(vec_col)).alias("__qv")
    )
    out = out.withColumn(
        "__norm", F.sqrt(_dot(F.col("__qv"), F.col("__qv")).cast("double"))
    )
    if dim is not None:
        out = out.withColumn(
            "__bucket", _bucket_from_qv(F.col("__qv"), dim, n_planes)
        )
    return out


def _pair_sim(left_prefix: str, right_prefix: str) -> Column:
    """Cosine from prepared sides: one dot over the quantized vectors,
    divided by the precomputed norm product — numerically identical to
    ``cosine_similarity`` (same integer dot, same sqrt inputs, same
    operation order)."""
    return _dot(
        F.col(f"{left_prefix}.__qv"), F.col(f"{right_prefix}.__qv")
    ).cast("double") / (
        F.col(f"{left_prefix}.__norm") * F.col(f"{right_prefix}.__norm")
    )


def _ranked(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("__sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("int"),
            # floor(x*1e6) — deterministic output quantization (round() is
            # not portable across engines near decimal midpoints)
            F.floor(F.col("__sim") * 1_000_000).cast("long").alias("cosine_micro"),
        )
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: (query_id, neighbor_id, rank, cosine_micro).

    ``queries`` is broadcast (small side); ranking orders by
    (similarity desc, neighbor id) — deterministic because the similarity
    doubles are bit-identical.  Self-matches are excluded.
    """
    q = _prepare(queries, id_col, vec_col, "query_id").alias("l")
    c = _prepare(corpus, id_col, vec_col, "neighbor_id").alias("r")
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _pair_sim("l", "r").alias("__sim"))
    )
    return _ranked(scored, k)


# Fixed random-hyperplane signs for 8-bit LSH bucketing: sign pattern per
# plane derived from a deterministic integer sequence (portable, seedless).
_N_PLANES = 8


_M64 = (1 << 64) - 1


def _plane_sign(plane: int, dim: int) -> int:
    """Deterministic ±1 sign for hyperplane ``plane``, component ``dim``.

    Planes 0-7 keep the original tiny-LCG derivation BYTE-IDENTICAL —
    every historical single-table bucket id (and so every oracle hash
    that froze one) is unchanged.  Planes >= 8 use a splitmix64 mix:
    the LCG's bit 16 nearly repeats SIGN-FLIPPED at lag 8 (measured
    |corr| up to 0.91 between plane p and p+8 over 64 dims), which made
    (a) multi-table LSH tables partially correlated with table 0 —
    understating banding's recall gains — and (b) n_planes > 8 nearly
    useless as a density knob (the 30x hard-negatives sweep at 13
    planes split only half the pairs 8 planes left).  Splitmix64's
    avalanche gives cross-plane correlations at noise level (~N^-1/2).
    """
    if plane < 8:
        v = (1103515245 * (plane * 131 + dim) + 12345) % 2147483648
        return 1 if (v >> 16) & 1 else -1
    x = (plane * 131 + dim + 0x9E3779B97F4A7C15) & _M64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _M64
    x ^= x >> 31
    return 1 if x & 1 else -1


def _bucket_from_qv(
    qv: Column, dim: int, n_planes: int = _N_PLANES, table: int = 0
) -> Column:
    """Hyperplane bucket (``n_planes`` bits, default 8) from an
    already-quantized int64 array.

    ``n_planes`` is the CAPACITY knob of every LSH-bucketed vector join:
    a b-member bucket emits b·(b-1)/2 candidate pairs, so at fixed plane
    count the candidate join is QUADRATIC in corpus size once the 2^planes
    bucket space saturates (the scale study measured exactly this on a
    30× corpus against the fixed 8-bit space).  Production sizing: planes
    ≈ log2(N / target_bucket_size) — bucket bits track corpus size, the
    same way shuffle partitions do.  The default stays 8 so every
    oracle-checked query's semantics (and hash) are unchanged.

    Signs live in one array literal per plane and the projection is a
    zip_with + fold — a ~40-node expression tree instead of ~2000 explicit
    ``element_at`` terms, which keeps Catalyst analysis + codegen time flat
    (the explicit form costs seconds of driver-side compile per query).
    The left-to-right fold sums in the same order as the unrolled chain, so
    bucket ids are unchanged.
    """
    bucket = F.lit(0)
    for p in range(n_planes):
        # table t>0 draws its planes from a disjoint region of the
        # deterministic plane sequence (offset t*n_planes), so every
        # table is an independent hash family and table 0 is
        # byte-identical to the historical single-table bucket
        signs = F.lit(
            [_plane_sign(table * n_planes + p, d) for d in range(dim)]
        )
        prods = F.zip_with(qv, signs, lambda x, s: x * s)
        proj = F.aggregate(prods, F.lit(0).cast("long"), lambda acc, x: acc + x)
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def lsh_bucket(vec: Column, dim: int) -> Column:
    """8-bit random-hyperplane bucket id for a float-array column.

    Projections run on the quantized int64 elements, so the bucket id is
    exact and portable too.
    """
    return _bucket_from_qv(_quant(vec), dim)


def cosine_neardup_pairs(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
    n_planes: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH-bucketed self-join.

    Candidates share an 8-bit hyperplane bucket (nearly-parallel vectors
    land in the same bucket with high probability); exact quantized cosine
    ≥ threshold verifies.  The self-join is an equi-join on the bucket id —
    one shuffle by bucket, never a cross product.  Output:
    (id_a < id_b, cosine_micro).

    ``max_bucket`` is the SCALE valve (the MinHash `_cap_buckets`
    doctrine applied to the vector path): a bucket holding b vectors
    emits b·(b-1)/2 pairs, so k exact copies of one hot embedding at
    100 TB — boilerplate pages, default avatars — turn one bucket into
    a quadratic pair bomb.  When set, buckets larger than ``max_bucket``
    are dropped before the self-join (such buckets carry no
    discriminative signal; the scale study MEASURED the uncapped
    failure: identical-copy inflation drove the pair join to exponent
    1.94).  ``None`` (the default, and what every oracle-checked query
    uses) keeps exact semantics.

    Ownership: on the capped path the result comes back as an eagerly
    materialized CACHED frame (persist + count so the bucketed input
    can be released inside this call) — the CALLER owns it and should
    unpersist when done; the bench harness clears the cache between
    repeats for exactly this reason.  Uncapped, the result is lazy.
    """
    b = _prepare(corpus, id_col, vec_col, id_col, dim=dim, n_planes=n_planes)
    owned = None
    if max_bucket is not None:
        # The quantize + n-plane bucket fold in _prepare is the heaviest
        # per-row expression in the pipeline; without a persist its
        # lineage re-runs for `sizes` and AGAIN for both sides of the
        # self-join — a 3x scan in exactly the at-scale path the cap
        # exists to protect.  Persist once; release after the pair frame
        # materializes (the prefix_jaccard_pairs cache lifecycle).
        from pyspark import StorageLevel

        owned = b.persist(StorageLevel.MEMORY_AND_DISK)
        b = owned
        sizes = b.groupBy("__bucket").agg(F.count(F.lit(1)).alias("__bn"))
        b = (
            b.join(
                sizes.filter(F.col("__bn") <= max_bucket).select("__bucket"),
                "__bucket",
                "semi",
            )
        )
    lhs, rhs = b.alias("l"), b.alias("r")
    out = (
        lhs.join(
            rhs,
            on=[
                F.col("l.__bucket") == F.col("r.__bucket"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            _pair_sim("l", "r").alias("__sim"),
        )
        .filter(F.col("__sim") >= threshold)
        .select(
            "id_a",
            "id_b",
            F.floor(F.col("__sim") * 1_000_000).cast("long").alias("cosine_micro"),
        )
    )
    if owned is not None:
        from pyspark import StorageLevel

        out = out.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            out.count()  # materialize while the bucketed frame is hot
            from mvrepair import cache as _cache

            _cache.adopt(out)
        except Exception:
            out.unpersist()
            raise
        finally:
            owned.unpersist()
    return out


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[int]] | None = None,
) -> DataFrame:
    """IVF-style ANN: centroid-partitioned inverted lists, probe-then-score.

    Build: ``centroids`` (a ``train_kmeans`` artifact) when given;
    otherwise the ``n_centroids`` lowest-id corpus vectors act as centroids
    (deterministic, seedless "training"); every corpus vector is assigned to
    its highest-cosine centroid by a pure map-side projection against a
    broadcast centroid literal — no shuffle, no join.  Probe: each query
    ranks the same centroid list and searches only its ``n_probe`` best
    inverted lists; the candidate join is an equi-join on centroid id.

    At 100 TB this is the textbook IVF layout: centroids are a tiny model
    artifact on the driver, assignment is embarrassingly parallel, and the
    corpus can be written bucketed by ``__cent`` so probes prune partitions.
    Recall < 1 by design (the ANN trade); scoring on the shortlist is the
    same exact quantized cosine as ``cosine_topk``.
    """
    if centroids is None:
        rows = (
            corpus.orderBy(F.col(id_col))
            .limit(n_centroids)
            .select(
                F.col(id_col).alias("cid"), _quant(F.col(vec_col)).alias("cqv")
            )
            .collect()
        )
        pairs = [(int(r["cid"]), [int(x) for x in r["cqv"]]) for r in rows]
    else:
        # a trained artifact (train_kmeans output): cid = list index
        pairs = list(enumerate(centroids))
    # (cid, quantized vector, norm) literals; norms precomputed driver-side
    # with the same int64 self-dot → IEEE sqrt every engine reproduces.
    cent_lits = _centroid_lits_pairs(pairs)

    def cent_sims(prefix: str) -> Column:
        """array<struct(sim, cid)> — cosine of this row's vector to every
        centroid, one dot per centroid against the broadcast literal."""
        return F.transform(
            cent_lits,
            lambda c: F.struct(
                (
                    _dot(F.col(f"{prefix}.__qv"), c["cqv"]).cast("double")
                    / (F.col(f"{prefix}.__norm") * c["cnorm"])
                ).alias("sim"),
                c["cid"].alias("cid"),
            ),
        )

    c = _prepare(corpus, id_col, vec_col, "neighbor_id").alias("r")
    # argmax by (sim, then lowest cid): max of struct(sim, -cid) compares
    # lexicographically — deterministic even on exact-tie doubles
    best = F.array_max(
        F.transform(
            cent_sims("r"),
            lambda s: F.struct(s["sim"].alias("sim"), (-s["cid"]).alias("ncid")),
        )
    )
    # coalesce makes __cent non-nullable, so the join's inferred
    # isnotnull(__cent) filter constant-folds instead of re-evaluating the
    # whole centroid-scoring expression a second time below the join
    assigned = c.withColumn("__cent", F.coalesce(-best["ncid"], F.lit(-1)))

    q = _prepare(queries, id_col, vec_col, "query_id").alias("l")
    # top-n_probe centroids: sort by (-sim, cid) ascending, slice, unpack
    probes = F.transform(
        F.slice(
            F.array_sort(
                F.transform(
                    cent_sims("l"),
                    lambda s: F.struct(
                        (-s["sim"]).alias("nsim"), s["cid"].alias("cid")
                    ),
                )
            ),
            1,
            n_probe,
        ),
        lambda s: s["cid"],
    )
    probed = q.withColumn("__cent", F.explode(probes))
    scored = (
        probed.join(assigned, on="__cent")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _pair_sim("l", "r").alias("__sim"))
    )
    return _ranked(scored, k)


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale-path ANN: hyperplane-LSH bucket join, exact scoring in-bucket.

    Both sides key by an 8-bit hyperplane signature; candidates share the
    bucket (recall < 1 by design — the 100 TB trade).  The join is a plain
    equi-join on the bucket id, so Catalyst shuffles each side once by
    bucket instead of building a cross product.
    """
    q = _prepare(queries, id_col, vec_col, "query_id", dim=dim).alias("l")
    c = _prepare(corpus, id_col, vec_col, "neighbor_id", dim=dim).alias("r")
    scored = (
        q.join(c, on=[F.col("l.__bucket") == F.col("r.__bucket")])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _pair_sim("l", "r").alias("__sim"))
    )
    return _ranked(scored, k)


def lsh_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = _N_PLANES,
) -> DataFrame:
    """Multi-probe LSH ANN (Lv et al. 2007): each query probes its own
    bucket PLUS every bucket at Hamming distance 1 (one sign bit
    flipped) — the recall lever of the LSH QUERY path, complementing
    banding on the pair-join path (``cosine_neardup_pairs_banded``).

    Why probe instead of adding tables: a near neighbor missed by the
    bucket equi-join disagrees with the query on at least one plane; the
    single-bit probes recover exactly the 1-disagreement misses at the
    cost of ``n_planes`` extra bucket lookups on the QUERY side only.
    The corpus is hashed and shuffled ONCE — unlike multi-table LSH,
    which re-hashes and re-shuffles the corpus per table — so recall
    rises while the big side's cost is unchanged: the right trade when
    queries ≪ corpus (the ANN-serving shape; the pair-join shape, where
    both sides ARE the corpus, wants banding instead).

    The probe expansion is a row-local ``explode`` of the n_planes+1
    bucket ids (bucket XOR each single bit) — pure map work before the
    same equi-join as ``lsh_bucketed_topk``.  Each (query, neighbor)
    meets at most once: probe ids within one query row are distinct and
    a corpus row has exactly one bucket, so no post-join dedup is
    needed.  Exact in-bucket rerank keeps precision at 1.
    """
    q = _prepare(queries, id_col, vec_col, "query_id", dim=dim)
    probes = F.array(
        F.col("__bucket"),
        *[
            F.col("__bucket").bitwiseXOR(F.lit(1 << p))
            for p in range(n_planes)
        ],
    )
    q = q.withColumn("__probe", F.explode(probes)).alias("l")
    c = _prepare(corpus, id_col, vec_col, "neighbor_id", dim=dim).alias("r")
    scored = (
        q.join(c, on=[F.col("l.__probe") == F.col("r.__bucket")])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _pair_sim("l", "r").alias("__sim"))
    )
    return _ranked(scored, k)


# ---------------------------------------------------------------------------
# IVF index BUILD: distributed k-means (Lloyd's) over the embedding column
# ---------------------------------------------------------------------------

def _centroid_lits_pairs(pairs: list[tuple[int, list[int]]]) -> Column:
    """array<struct(cid, cqv, cnorm)> literal from driver-side (cid,
    quantized vector) pairs — the tiny model artifact broadcast into every
    task.

    Rendered as ONE SQL text parsed JVM-side: building it from ``F.lit``
    per element costs k·dim py4j round-trips PER PLAN (measured: the
    dominant cost of the k-means loop, not the data), while one ``expr``
    call is a single round-trip regardless of k·dim.  ``repr(float)``
    round-trips exactly, so the norms are bit-identical either way."""
    import math

    structs = ", ".join(
        "named_struct('cid', {cid}L, 'cqv', array({vals}), 'cnorm', {norm}D)".format(
            cid=int(cid),
            vals=", ".join(f"{int(x)}L" for x in cqv),
            norm=repr(math.sqrt(float(sum(x * x for x in cqv)))),
        )
        for cid, cqv in pairs
    )
    return F.expr(f"array({structs})")


def _centroid_lits(centroids: list[list[int]]) -> Column:
    """Literal for a trained-centroid list (cid = list index)."""
    return _centroid_lits_pairs(list(enumerate(centroids)))


def _best_cluster(prefix: str, cent_lits: Column) -> Column:
    """argmax-cosine centroid id for a prepared row (ties → lowest cid),
    as a single map-side expression — the same no-join assignment shape as
    ``ivf_topk``."""
    best = F.array_max(
        F.transform(
            cent_lits,
            lambda c: F.struct(
                (
                    _dot(F.col(f"{prefix}.__qv"), c["cqv"]).cast("double")
                    / (F.col(f"{prefix}.__norm") * c["cnorm"])
                ).alias("sim"),
                (-c["cid"]).alias("ncid"),
            ),
        )
    )
    return -best["ncid"]


def _exact_mean_floor(s: int, n: int) -> int:
    """``floor(s / n)`` in exact integer arithmetic.

    The centroid-update fold previously went through ``float(s)``, which
    is only exact while the cluster sum stays under 2^53 — a 10B-row
    cluster at micro-unit scale can exceed that and silently round.
    Python's ``//`` floors toward -inf on arbitrary-precision ints, which
    is exactly ``math.floor`` of the true rational for any sign, at any
    magnitude.  (Below 2^53 this is bit-identical to the old float path,
    so the oracle hash is unchanged at fixture scale.)
    """
    return s // n


def train_kmeans(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[int]]:
    """Distributed Lloyd's k-means over an ``array<float>`` column — the
    IVF index-BUILD step (``ivf_topk`` consumes the result as its centroid
    artifact).

    Engine-portable exact math end to end: vectors are micro-unit
    quantized int64 (module invariant), per-cluster sums are exact integer
    aggregates, and the centroid update is ``floor(sum / count)`` per
    element — so a DuckDB twin reproduces every iteration bit-for-bit and
    the driver hash-checks an ITERATIVE algorithm, not just one pass.

    Scale shape per iteration (driver loop, ``iters`` × 2 jobs):
      * assignment — a pure map-side projection against the broadcast
        centroid literal (no join, no shuffle), identical to ``ivf_topk``;
      * update — ``posexplode`` + ``groupBy(cluster, pos).sum`` with
        map-side partial aggregation: the shuffle carries at most
        ``partitions × k × dim`` partial rows, never the corpus; the
        driver collects ``k × dim`` longs (the model artifact).
    Deterministic init (k lowest-id vectors), deterministic ties (lowest
    cid), empty clusters keep their previous centroid.
    """
    from pyspark import StorageLevel

    # The quantized projection is scanned once per iteration (+ init): cache
    # it for the loop, release before returning (PERF.md cache-lifecycle
    # rule (b) — the returned model is driver-side, so nothing cached
    # outlives the operator).  At 100 TB this is the standard iterative-ML
    # trade: persist the (narrow) feature projection, never the raw table.
    prepared = (
        _prepare(df, id_col, vec_col, "__id")
        .persist(StorageLevel.MEMORY_AND_DISK)
        .alias("t")
    )
    try:
        rows = prepared.orderBy(F.col("__id")).limit(k).select("__qv").collect()
        centroids: list[list[int]] = [[int(x) for x in r["__qv"]] for r in rows]

        for _ in range(iters):
            assigned = prepared.withColumn(
                "__cluster", _best_cluster("t", _centroid_lits(centroids))
            )
            sums = (
                assigned.select(
                    "__cluster", F.posexplode("__qv").alias("pos", "v")
                )
                .groupBy("__cluster", "pos")
                .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
                .collect()
            )
            new = {
                int(r["__cluster"]): centroids[int(r["__cluster"])][:]
                for r in sums
            }
            for r in sums:
                new[int(r["__cluster"])][int(r["pos"])] = _exact_mean_floor(
                    int(r["s"]), int(r["n"])
                )
            centroids = [new.get(cid, centroids[cid]) for cid in range(k)]
    finally:
        prepared.unpersist()
    return centroids


def train_kmeans_multi(
    df: DataFrame,
    slices: list[tuple[int, int]],
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[int]]]:
    """Train SEVERAL independent k-means models over sliced projections
    of one vector column in a SINGLE iteration loop — the job-count
    optimization of the r11 optimization round (guide §1/§2.3: each
    driver-side collect is a scheduling barrier AND a full pass; m
    independent ``train_kmeans`` chains pay m·(iters+1) jobs and m·iters
    corpus passes where one joint loop pays (iters+1) jobs and iters
    passes).

    ``slices`` is a list of 0-based ``(start, length)`` windows of the
    quantized vector; slicing commutes with the per-component
    micro-quantization, so every model is BIT-IDENTICAL to the
    equivalent per-slice ``train_kmeans`` call: same k-lowest-id init
    (one collect of the full vectors, sliced driver-side), same
    argmax-cosine assignment expression per subspace (each exploded row
    carries its own subspace's quantized subvector and norm), same
    order-independent int64 sum + ``_exact_mean_floor`` update, same
    empty-cluster carry.  ``pq_train`` and the trained-coarse IVF-PQ
    chain delegate here.

    Scale shape per iteration: ONE corpus-projection pass — the
    exploded frame is len(slices) rows per input row but the SAME total
    bytes as the per-slice passes combined, cached once for the loop —
    one map-side assignment + posexplode + map-combinable
    groupBy(slice, cluster, pos) sum; the driver collects
    ``len(slices)·k·dim`` longs (the model artifact).
    """
    from pyspark import StorageLevel

    q = _quant(F.col(vec_col))
    subs = F.array(
        *[F.slice(q, start + 1, length) for start, length in slices]
    )
    prepared = (
        df.select(
            F.col(id_col).alias("__id"),
            F.posexplode(subs).alias("__s", "__qv"),
        )
        .withColumn(
            "__norm",
            F.sqrt(_dot(F.col("__qv"), F.col("__qv")).cast("double")),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
        .alias("t")
    )
    try:
        rows = (
            df.select(F.col(id_col).alias("__id"), q.alias("__qv"))
            .orderBy(F.col("__id"))
            .limit(k)
            .collect()
        )
        full = [[int(x) for x in r["__qv"]] for r in rows]
        cents: list[list[list[int]]] = [
            [v[start : start + length] for v in full]
            for start, length in slices
        ]
        for _ in range(iters):
            books_lit = F.array(
                *[_centroid_lits(cents[s]) for s in range(len(slices))]
            )
            this_book = F.element_at(books_lit, F.col("__s").cast("int") + 1)
            assigned = prepared.withColumn(
                "__cluster", _best_cluster("t", this_book)
            )
            sums = (
                assigned.select(
                    "__s",
                    "__cluster",
                    F.posexplode("__qv").alias("pos", "v"),
                )
                .groupBy("__s", "__cluster", "pos")
                .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
                .collect()
            )
            new: dict[tuple[int, int], list[int]] = {}
            for r in sums:
                key = (int(r["__s"]), int(r["__cluster"]))
                if key not in new:
                    new[key] = cents[key[0]][key[1]][:]
            for r in sums:
                key = (int(r["__s"]), int(r["__cluster"]))
                new[key][int(r["pos"])] = _exact_mean_floor(
                    int(r["s"]), int(r["n"])
                )
            cents = [
                [
                    new.get((s, cid), cents[s][cid])
                    for cid in range(k)
                ]
                for s in range(len(slices))
            ]
    finally:
        prepared.unpersist()
    return cents


def kmeans_assign(
    df: DataFrame,
    centroids: list[list[int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Final cluster assignment against trained centroids: one map-side
    projection, no shuffle — columns (``id_col``, cluster, cosine_micro)."""
    cent_lits = _centroid_lits(centroids)
    prepared = _prepare(df, id_col, vec_col, id_col).alias("t")
    cluster = _best_cluster("t", cent_lits).cast("int")
    sim = F.element_at(
        F.transform(
            cent_lits,
            lambda c: _dot(F.col("t.__qv"), c["cqv"]).cast("double")
            / (F.col("t.__norm") * c["cnorm"]),
        ),
        cluster + 1,
    )
    return prepared.select(
        F.col(id_col),
        cluster.cast("int").alias("cluster"),
        F.floor(sim * 1_000_000).cast("long").alias("cosine_micro"),
    )


def semantic_dedup(
    df: DataFrame,
    centroids: list[list[int]],
    threshold_micro: int = 900_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the embedding space, then mark within-cluster semantic duplicates.

    A vector is a duplicate iff some PRIOR vector (lower id) in the SAME
    cluster has cosine similarity >= ``threshold_micro`` µ-units — the
    public SemDeDup implementation's sweep semantics ("drop any point
    whose similarity to an earlier point exceeds tau"), with ascending id
    as the deterministic sweep order (the paper orders by distance to
    centroid; the order is a policy choice, the mechanism is identical).

    Output: (``id_col``, cluster int, max_prior_cosine_micro nullable
    bigint, is_semdup boolean).  ``NOT is_semdup`` is the kept corpus.
    EAGER: the result is computed, cached, and returned as its own cache
    handle (the caller should ``unpersist()`` when done); the corpus-
    sized assignment intermediate is released before returning.

    Scale design — this is exactly why SemDeDup clusters first: the
    pairwise compare runs per-cluster, so the cost is Σ|cluster|² rather
    than N².  One shuffle on the cluster id co-locates each cluster;
    choose k proportional to N / desired-cluster-size to bound the
    quadratic term (the paper runs 50k clusters for 5B docs).  Cluster
    assignment itself is the map-side broadcast-centroid projection shared
    with ``kmeans_assign`` — no join, no shuffle.  Cross-cluster
    duplicates are missed BY DESIGN (the documented recall trade); a giant
    skewed cluster is the known failure mode and the fix is raising k,
    not salting (splitting a cluster across tasks would silently lose
    in-cluster pairs).
    """
    from pyspark import StorageLevel

    cent_lits = _centroid_lits(centroids)
    prepared = _prepare(df, id_col, vec_col, id_col).alias("t")
    # The assigned projection feeds BOTH self-join sides and the final
    # flag join; left lazy, each reference re-runs the k-cosine argmax
    # (measured at sf0.1, k=32: the 3 recomputations cost more than the
    # within-cluster sweep itself).  Persist it once — cache-lifecycle
    # rule (b) from PERF.md: eagerly materialize the (small) result while
    # this cache is hot, release the corpus-sized intermediate before
    # returning, and hand the caller the result's own cache handle.
    spark = df.sparkSession
    with conf_scope(spark, {CACHED_PLAN_AQE: "true"}):
        assigned = prepared.select(
            F.col(id_col),
            F.col("__qv"),
            F.col("__norm"),
            _best_cluster("t", cent_lits).cast("int").alias("cluster"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            a, b = assigned.alias("a"), assigned.alias("b")
            prior_max = (
                a.join(
                    b,
                    (F.col("a.cluster") == F.col("b.cluster"))
                    & (F.col(f"b.{id_col}") < F.col(f"a.{id_col}")),
                )
                .select(
                    F.col(f"a.{id_col}").alias(id_col),
                    F.floor(_pair_sim("a", "b") * 1_000_000)
                    .cast("long")
                    .alias("__m"),
                )
                .groupBy(id_col)
                .agg(F.max("__m").alias("max_prior_cosine_micro"))
            )
            out = (
                assigned.select(id_col, "cluster")
                .join(prior_max, id_col, "left")
                .select(
                    id_col,
                    "cluster",
                    "max_prior_cosine_micro",
                    F.coalesce(
                        F.col("max_prior_cosine_micro")
                        >= F.lit(threshold_micro),
                        F.lit(False),
                    ).alias("is_semdup"),
                )
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            try:
                out.count()  # materialize while the assignment cache is hot
                from mvrepair import cache as _cache

                _cache.adopt(out)
            except Exception:
                out.unpersist()
                raise
        finally:
            assigned.unpersist()
    return out


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> list[tuple[int, list[int]]]:
    """Per-label exact centroid of a labeled embedding corpus:
    ``floor(sum / count)`` per element in integer arithmetic over the
    micro-quantized vectors — the same engine-portable update rule as the
    k-means trainer, keyed on the EXISTING label instead of a learned
    cluster.

    Scale shape: ``posexplode`` + ``groupBy(label, pos).sum`` with
    map-side partial aggregation — the shuffle carries at most
    ``partitions x labels x dim`` partial rows; the driver collects
    ``labels x dim`` longs (the model artifact, same size class as the
    k-means centroids).
    """
    sums = (
        df.select(
            F.col(label_col).cast("long").alias("__lbl"),
            F.posexplode(_quant(F.col(vec_col))).alias("pos", "v"),
        )
        .groupBy("__lbl", "pos")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    acc: dict[int, dict[int, int]] = {}
    for r in sums:
        acc.setdefault(int(r["__lbl"]), {})[int(r["pos"])] = _exact_mean_floor(
            int(r["s"]), int(r["n"])
        )
    return [
        (lbl, [acc[lbl][p] for p in range(len(acc[lbl]))])
        for lbl in sorted(acc)
    ]


def label_outliers(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    outlier_below_micro: int = 0,
) -> DataFrame:
    """Prototypicality scoring against each vector's OWN label centroid —
    the label-noise / dataset-pruning signal of SemDeDup's sibling line
    of work (Sorscher et al. 2022 "Beyond neural scaling laws"; Abbas et
    al. 2023 D4): a vector far from its class centroid is either
    mislabeled or unprototypical, and curation pipelines route the
    bottom tail to review or drop it.

    Output per vector: ``cosine_micro`` to its own label centroid
    (``floor(cos x 1e6)``, exact-portable) and ``is_outlier``
    (``cosine_micro < outlier_below_micro`` — the default 0 flags
    vectors pointing AWAY from their class centroid, a
    distribution-free cut; tighten it per-dataset for harder pruning).

    Scale shape: the centroid build is one map-side-combinable shuffle +
    a labels x dim driver artifact (``label_centroids``); scoring is a
    PURE MAP-SIDE projection against the broadcast centroid literal —
    same no-join assignment shape as ``ivf_topk``/``kmeans_assign``, so
    at 100 TB the whole operator costs one narrow shuffle and one scan.
    """
    cents = label_centroids(df, vec_col, label_col)
    cent_lits = _centroid_lits_pairs(cents)
    prepared = df.select(
        F.col(id_col),
        F.col(label_col),
        _quant(F.col(vec_col)).alias("__qv"),
    ).withColumn(
        "__norm", F.sqrt(_dot(F.col("__qv"), F.col("__qv")).cast("double"))
    )
    own = F.element_at(
        F.filter(cent_lits, lambda c: c["cid"] == F.col(label_col).cast("long")),
        1,
    )
    # same operation order as _pair_sim / the oracle: int dot -> double,
    # divided by the (norm x norm) product.  A zero denominator (all-zero
    # vector or degenerate centroid) has no defined cosine: emit NULL on
    # both columns — Spark's 0/0 is NaN while DuckDB's is NULL, so an
    # unguarded division would hash-diverge the moment a zero vector
    # appears (and floor(NaN)->cast would smuggle garbage into the flag)
    denom = F.col("__norm") * own["cnorm"]
    sim = _dot(F.col("__qv"), own["cqv"]).cast("double") / denom
    micro = F.when(
        denom != 0, F.floor(sim * 1_000_000).cast("long")
    ).otherwise(F.lit(None).cast("long"))
    return prepared.select(
        id_col,
        label_col,
        micro.alias("cosine_micro"),
        (micro < F.lit(outlier_below_micro)).alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ): compressed-domain ANN scoring
# ---------------------------------------------------------------------------

def pq_train(
    df: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[int]]]:
    """Train per-subspace PQ codebooks (Jégou, Douze, Schmid 2011):
    split ``dim`` into ``m`` contiguous subspaces and run the SAME
    exact-integer distributed Lloyd's trainer (``train_kmeans``) on each
    sliced projection.  Returns ``m`` codebooks of ``k`` quantized
    codeword subvectors — the whole model is m·k·(dim/m) int64s on the
    driver, broadcastable like every other model artifact here.

    Exactness carries over wholesale: slicing commutes with the
    per-component micro-quantization, so a DuckDB twin replays each
    subspace's iterations on ``list_slice`` projections bit-for-bit.

    Since the r11 optimization round the m chains run as ONE joint
    loop (``train_kmeans_multi``): bit-identical codebooks, but
    (iters+1) Spark jobs and iters corpus passes instead of
    m·(iters+1) and m·iters.
    """
    sub = dim // m
    return train_kmeans_multi(
        df,
        [(s * sub, sub) for s in range(m)],
        k=k,
        iters=iters,
        id_col=id_col,
        vec_col=vec_col,
    )


def _pq_book_lits(codebook: list[list[int]]) -> Column:
    """array<struct(cid, cqv, cnorm, cdot)> literal for one subspace
    codebook — the `_centroid_lits_pairs` rendering plus the exact int64
    self-dot (``cdot``), which the ADC reconstruction norm sums without
    touching doubles."""
    import math

    structs = ", ".join(
        "named_struct('cid', {cid}L, 'cqv', array({vals}), "
        "'cnorm', {norm}D, 'cdot', {cdot}L)".format(
            cid=int(cid),
            vals=", ".join(f"{int(x)}L" for x in cqv),
            norm=repr(math.sqrt(float(sum(x * x for x in cqv)))),
            cdot=int(sum(x * x for x in cqv)),
        )
        for cid, cqv in enumerate(codebook)
    )
    return F.expr(f"array({structs})")


def pq_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    codebooks: list[list[list[int]]],
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse: list[list[int]] | None = None,
) -> DataFrame:
    """IVF-PQ ANN (Jégou et al. 2011): coarse inverted lists prune the
    candidate set, PRODUCT-QUANTIZED codes score it — the memory-scale
    layout behind every billion-vector ANN system (FAISS's IVFPQ).

    Why this matters at 100 TB: the scoring pass never touches the
    vectors.  Each corpus vector is m small integers (its per-subspace
    codeword ids — here 4 codes into 16-entry books ≈ 64× smaller than
    the float vector) plus one coarse id; a query builds m k-entry
    LOOKUP TABLES of exact int64 subvector dots against the broadcast
    codebooks (the textbook ADC table), and every candidate's
    approximate dot is m array lookups + (m-1) adds.  The candidate join
    is the same coarse-centroid equi-join as ``ivf_topk`` — never a
    cross product.

    Exact-arithmetic contract: codes come from argmax COSINE against the
    codebook (ties → lowest cid, the `_best_cluster` convention);
    adc_dot and the reconstruction self-dot stay int64; the single
    double division happens once per candidate —
    ``adc_cos = adc_dot / (‖q‖ · sqrt(Σ_s cdot_s))`` — so a DuckDB twin
    reproduces every rank bit-for-bit.  Approximation error vs true
    cosine is the PQ trade (the reconstruction replaces each subvector
    by its codeword); ``ann_recall``-style audits quantify it the same
    way they do for the other ANN paths.

    Coarse build: ``coarse`` (a ``train_kmeans`` artifact, cid = list
    index — the production configuration: the scale study notes corpus
    growth grows ``n_centroids``, and trained centroids keep inverted
    lists balanced where lowest-id seeds can't) when given; otherwise
    the ``n_centroids`` lowest-id corpus vectors (the ``ivf_topk``
    deterministic seedless convention).  The PQ layer is independent of
    that choice.
    """
    m = len(codebooks)
    sub = dim // m
    if coarse is None:
        rows = (
            corpus.orderBy(F.col(id_col))
            .limit(n_centroids)
            .select(
                F.col(id_col).alias("cid"), _quant(F.col(vec_col)).alias("cqv")
            )
            .collect()
        )
        pairs = [(int(r["cid"]), [int(x) for x in r["cqv"]]) for r in rows]
    else:
        pairs = list(enumerate(coarse))
    cent_lits = _centroid_lits_pairs(pairs)
    book_lits = [_pq_book_lits(b) for b in codebooks]

    def cent_sims(prefix: str) -> Column:
        return F.transform(
            cent_lits,
            lambda c: F.struct(
                (
                    _dot(F.col(f"{prefix}.__qv"), c["cqv"]).cast("double")
                    / (F.col(f"{prefix}.__norm") * c["cnorm"])
                ).alias("sim"),
                c["cid"].alias("cid"),
            ),
        )

    def qsub(prefix: str, s: int) -> Column:
        return F.slice(F.col(f"{prefix}.__qv"), s * sub + 1, sub)

    c = _prepare(corpus, id_col, vec_col, "neighbor_id").alias("r")
    best = F.array_max(
        F.transform(
            cent_sims("r"),
            lambda s: F.struct(s["sim"].alias("sim"), (-s["cid"]).alias("ncid")),
        )
    )
    # per-subspace code: argmax cosine vs the codebook, ties -> lowest
    # cid; the subvector norm is shared across candidates so it cannot
    # change the order, but it IS part of the compared double, keeping
    # the oracle replay expression-identical
    def code(s: int) -> Column:
        subnorm = F.sqrt(
            _dot(qsub("r", s), qsub("r", s)).cast("double")
        )
        b = F.array_max(
            F.transform(
                book_lits[s],
                lambda cw: F.struct(
                    (
                        _dot(qsub("r", s), cw["cqv"]).cast("double")
                        / (subnorm * cw["cnorm"])
                    ).alias("sim"),
                    (-cw["cid"]).alias("ncid"),
                ),
            )
        )
        return (-b["ncid"]).alias(f"__code_{s}")

    recon_dot = reduce(
        lambda a, b: a + b,
        [
            F.element_at(
                F.transform(book_lits[s], lambda cw: cw["cdot"]),
                F.col(f"__code_{s}").cast("int") + 1,
            )
            for s in range(m)
        ],
    )
    assigned = (
        c.select(
            "neighbor_id",
            F.coalesce(-best["ncid"], F.lit(-1)).alias("__cent"),
            *[code(s) for s in range(m)],
        )
        .withColumn("__recon_norm", F.sqrt(recon_dot.cast("double")))
    )

    q = _prepare(queries, id_col, vec_col, "query_id").alias("l")
    probes = F.transform(
        F.slice(
            F.array_sort(
                F.transform(
                    cent_sims("l"),
                    lambda s: F.struct(
                        (-s["sim"]).alias("nsim"), s["cid"].alias("cid")
                    ),
                )
            ),
            1,
            n_probe,
        ),
        lambda s: s["cid"],
    )
    # the ADC lookup tables: per subspace, this query's exact int64 dot
    # against every codeword — k longs per subspace per query row
    probed = q.select(
        "query_id",
        F.col("l.__norm").alias("__qnorm"),
        *[
            F.transform(
                book_lits[s], lambda cw: _dot(qsub("l", s), cw["cqv"])
            ).alias(f"__ltab_{s}")
            for s in range(m)
        ],
        F.explode(probes).alias("__cent"),
    )
    adc_dot = reduce(
        lambda a, b: a + b,
        [
            F.element_at(
                F.col(f"__ltab_{s}"), F.col(f"__code_{s}").cast("int") + 1
            )
            for s in range(m)
        ],
    )
    scored = (
        probed.join(assigned, on="__cent")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                adc_dot.cast("double")
                / (F.col("__qnorm") * F.col("__recon_norm"))
            ).alias("__sim"),
        )
    )
    return _ranked(scored, k)


def cosine_neardup_pairs_banded(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.9,
    n_tables: int = 2,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
) -> DataFrame:
    """Multi-table (banded) hyperplane-LSH near-dup pairs — the RECALL
    lever of the vector pair join (classic LSH amplification: OR over
    ``n_tables`` independent hash tables).

    The plane-sizing study (PERF.md round 9) measured the division of
    labor: ``n_planes`` buys bucket CAPACITY (mean occupancy constant as
    N grows), ``max_bucket`` buys tail safety on clustered data, and
    recall — which drifts down as planes grow, since every plane
    multiplies a pair's same-bucket probability by P(sign agree) < 1 —
    belongs to BANDING.  A pair is a candidate when it collides in ANY
    table, lifting recall from p^b to 1-(1-p^b)^T; exact verification
    keeps precision at 1 regardless.

    Each table t hashes with its own disjoint slice of the
    deterministic plane sequence (planes t·n_planes .. t·n_planes+b-1),
    so table 0 reproduces the single-table operator exactly and
    ``n_tables=1`` IS ``cosine_neardup_pairs``.

    Scale shape: the quantize+norm fold in ``_prepare`` — the heaviest
    per-row expression in the pipeline — is computed ONCE and persisted
    across all ``n_tables`` branches (without the persist its lineage
    re-runs for both sides of every table's self-join plus each
    table's size agg when capped: 2·n_tables(+n_tables) redundant
    scans, the exact recompute the single-table capped path already
    fixed).  Candidates are ``n_tables`` bucket equi-joins unioned and
    deduped on the pair key BEFORE the exact verify, so a pair
    colliding in k tables is verified once, not k times; the dedup
    exchange carries the two prepared vectors alongside the pair key
    (one exchange total — the alternative, pair-key-only dedup plus
    two joins back to the base, costs three).  Cost is ~``n_tables``×
    the single-table candidate join — the textbook recall/cost trade,
    priced linearly.  ``max_bucket`` applies per table (a bucket
    degenerate in one table may be discriminative in another).

    Ownership: when more than one branch references the base
    (``n_tables > 1`` or capped), the result is materialized eagerly
    (persist + count, releasing the base afterwards — the
    ``cosine_neardup_pairs`` capped-path lifecycle) and the CALLER owns
    the returned cached frame: unpersist it when done (the bench
    harness does this between runs).

    Output: (id_a < id_b, cosine_micro), distinct pairs.
    """
    base = _prepare(corpus, id_col, vec_col, id_col)
    owned = None
    if n_tables > 1 or max_bucket is not None:
        from pyspark import StorageLevel

        owned = base.persist(StorageLevel.MEMORY_AND_DISK)
        base = owned
    branches = []
    for t in range(n_tables):
        b = base.withColumn(
            "__bucket", _bucket_from_qv(F.col("__qv"), dim, n_planes, table=t)
        )
        if max_bucket is not None:
            sizes = b.groupBy("__bucket").agg(F.count(F.lit(1)).alias("__bn"))
            b = b.join(
                sizes.filter(F.col("__bn") <= max_bucket).select("__bucket"),
                "__bucket",
                "semi",
            )
        lhs, rhs = b.alias("l"), b.alias("r")
        branches.append(
            lhs.join(
                rhs,
                on=[
                    F.col("l.__bucket") == F.col("r.__bucket"),
                    F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
                ],
            ).select(
                F.col(f"l.{id_col}").alias("id_a"),
                F.col(f"r.{id_col}").alias("id_b"),
                F.col("l.__qv").alias("__qv_a"),
                F.col("l.__norm").alias("__norm_a"),
                F.col("r.__qv").alias("__qv_b"),
                F.col("r.__norm").alias("__norm_b"),
            )
        )
    cand = branches[0]
    for br in branches[1:]:
        cand = cand.unionByName(br)
    if n_tables > 1:
        # a pair can collide in several tables; within ONE table each
        # row has exactly one bucket, so single-table pairs are already
        # unique and the dedup exchange would be pure waste there
        cand = cand.dropDuplicates(["id_a", "id_b"])
    sim = _dot(F.col("__qv_a"), F.col("__qv_b")).cast("double") / (
        F.col("__norm_a") * F.col("__norm_b")
    )
    out = (
        cand.withColumn("__sim", sim)
        .filter(F.col("__sim") >= threshold)
        .select(
            "id_a",
            "id_b",
            F.floor(F.col("__sim") * 1_000_000).cast("long").alias(
                "cosine_micro"
            ),
        )
    )
    if owned is not None:
        from pyspark import StorageLevel

        out = out.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            out.count()  # materialize while the prepared base is hot
            from mvrepair import cache as _cache

            _cache.adopt(out)
        except Exception:
            out.unpersist()
            raise
        finally:
            owned.unpersist()
    return out


def hard_negative_topk(
    corpus: DataFrame,
    dim: int,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    n_planes: int = 8,
) -> DataFrame:
    """Contrastive hard-negative mining: for EVERY anchor vector, the
    top-k most-similar vectors carrying a DIFFERENT label — the batch
    the contrastive/embedding-training recipes (SimCSE, DPR, triplet
    loss) mine between epochs: negatives that are hard (high cosine)
    but wrong (other class) carry the gradient signal.

    The pair-join shape of the ANN family: one hyperplane-LSH bucket
    equi-join of the corpus against itself (each side hashed and
    shuffled once, by bucket — never a cross join), the label
    inequality applied WITH the join so same-class candidates never
    rank, exact in-bucket rerank, per-anchor top-k window.  Recall < 1
    by bucket design — the documented LSH trade; the miss pattern is
    the SAME one ``ann_recall`` measures for this bucket scheme, and a
    missed hard negative is a softer batch, not a wrong answer.  At
    100 TB the bucket join moves each vector once; the top-k window
    rides the bucket-join output keyed by anchor
    (WindowGroupLimit-capped, the _ranked shape).

    ``n_planes`` is THE scale knob: a fixed bucket count makes
    in-bucket density — and therefore candidate pairs — grow ∝k² with
    corpus size (measured: exponent 3.1 over 30× at 8 planes).  Grow
    planes with log2 of the corpus (one extra plane per doubling) and
    density stays constant: the same sweep at 8+ceil(log2(k)) planes
    is measured back near-linear in the scale study.

    Output: (query_id, neighbor_id, rank int, cosine_micro) — the ANN
    output contract, so downstream batch assembly composes unchanged.
    """
    def prep(out_id: str, out_lab: str) -> DataFrame:
        # _prepare with the label carried (labels are per-vector, so
        # they ride the same one-shuffle-per-side precompute — never a
        # second join back to the corpus)
        out = corpus.select(
            F.col(id_col).alias(out_id),
            F.col(label_col).alias(out_lab),
            _quant(F.col(vec_col)).alias("__qv"),
        ).withColumn(
            "__norm",
            F.sqrt(_dot(F.col("__qv"), F.col("__qv")).cast("double")),
        )
        return out.withColumn(
            "__bucket", _bucket_from_qv(F.col("__qv"), dim, n_planes)
        )

    q = prep("query_id", "__lq").alias("l")
    c = prep("neighbor_id", "__lc").alias("r")
    scored = (
        q.join(c, on=[F.col("l.__bucket") == F.col("r.__bucket")])
        .filter(F.col("l.__lq") != F.col("r.__lc"))
        .select(
            "query_id", "neighbor_id", _pair_sim("l", "r").alias("__sim")
        )
    )
    return _ranked(scored, k)


def mutual_nn_pairs(
    nn: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
    score_col: str = "cosine_micro",
) -> DataFrame:
    """Reciprocal (mutual) nearest-neighbor pairs from a top-1 retrieval
    frame — the bitext/pair-mining primitive (Artetxe & Schwenk 2019,
    margin-based mining starts from exactly this candidate set): keep
    (a, b) only when a retrieves b AND b retrieves a.  Mutuality is the
    classic cheap precision filter — one-directional neighbors are
    dominated by hub vectors; requiring the reverse edge removes hubs
    without any model.

    Input: one row per query (rank-1 only) with ``query_col,
    neighbor_col, score_col``.  Output: ``id_a < id_b, cosine_micro``,
    one row per mutual pair.

    Scale shape: ONE id-keyed self-join of the top-1 frame on the
    swapped key pair — the frame is |queries| rows (already reduced by
    retrieval), so this costs one narrow shuffle, independent of corpus
    size; symmetric pairs collapse to a single canonical row via the
    a < b filter.
    """
    fwd = nn.select(
        F.col(query_col).alias("__q"),
        F.col(neighbor_col).alias("__n"),
        F.col(score_col).alias("__s"),
    )
    rev = fwd.select(
        F.col("__q").alias("__rn"), F.col("__n").alias("__rq")
    )
    return (
        fwd.join(
            rev,
            (F.col("__q") == F.col("__rq"))
            & (F.col("__n") == F.col("__rn")),
        )
        .filter(F.col("__q") < F.col("__n"))
        .select(
            F.col("__q").alias("id_a"),
            F.col("__n").alias("id_b"),
            F.col("__s").alias(score_col),
        )
    )
