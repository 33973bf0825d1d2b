"""Deduplication operators for LLM-data pipelines, designed for 100 TB.

- ``exact_dedup``: hash-groupBy on content digest.  One shuffle on the
  digest; map-side combine keeps the shuffle at ~1 row per distinct doc.
- ``minhash_signatures`` + ``minhash_candidate_pairs``: shingle → MinHash →
  LSH banding.  Signatures are computed per-row with array expressions (no
  explode, no UDF); banding groups rows by (band index, band signature), so
  candidate generation is a self-join restricted to LSH buckets — the
  classic sub-quadratic near-dup path.  All hashing is md5-based
  (``stable_hash64``) so a DuckDB oracle reproduces every signature.
  MinHash runs over n-token SHINGLES (default n=3), not unigrams: with a
  small vocabulary, unigram token *sets* of unrelated documents are nearly
  identical, every LSH band collides, and candidate generation degenerates
  to the full cross product (measured: ~50% of all pairs on the synthetic
  corpus).  Shingles restore discriminative power — the candidate count is
  driven by true Jaccard similarity, which is what keeps this sub-quadratic
  at 100 TB.
- ``jaccard_verify``: exact shingle-set Jaccard on candidate pairs only.
- ``simhash_candidate_pairs``: Hamming-ball near-dup via SimHash with
  byte-banding (any of 4 equal bytes → candidate).

MinHash math: h_i(x) = (a_i * (x mod p) + b_i) mod p with p = 2^31 - 1
(Mersenne prime) so every product stays within int64 — portable to any
engine with 64-bit integers.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, functions as F

from mvrepair.functions import stable_hash64
from mvrepair.operators.text import tokenize
from mvrepair.tuning import CACHED_PLAN_AQE, conf_scope, sized_loop

# observe() metric names must be unique per query; module counter keeps
# repeated LSH stages in one plan distinct (deterministic, driver-side).
_OBS_SEQ = [0]


def _obs_name(prefix: str) -> str:
    _OBS_SEQ[0] += 1
    return f"{prefix}_{_OBS_SEQ[0]}"


def _cap_buckets(buckets: DataFrame, ids_col: str, max_bucket: int | None,
                 metric_prefix: str) -> DataFrame:
    """Drop degenerate LSH buckets larger than ``max_bucket``.

    A band value shared by b docs emits b·(b-1)/2 pairs; one degenerate
    band (e.g. every empty-shingle doc hashing alike) would collect the
    whole corpus into a single executor array — the classic 100 TB OOM.
    Dropping oversized buckets is the standard production trade: such
    buckets carry no discriminative signal anyway.  The dropped count is
    published via ``observe`` (metrics ``n_buckets``/``n_dropped``) so the
    loss is visible, not silent.  ``max_bucket=None`` keeps exact
    (oracle-comparable) semantics.
    """
    if max_bucket is None:
        return buckets
    observed = buckets.observe(
        _obs_name(metric_prefix),
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(
            (F.size(ids_col) > max_bucket).cast("long")
        ).alias("n_dropped"),
    )
    return observed.filter(F.size(ids_col) <= max_bucket)

MINHASH_P = 2_147_483_647  # 2^31 - 1

# Fixed, public pseudo-random coefficients (decimals of pi/e chunks — any
# fixed odd values work); 16 hash functions → 4 bands × 4 rows.
MINHASH_A = [
    1_685_821_657, 1_090_716_823, 1_273_689_151, 1_847_560_453,
    1_353_932_519, 1_415_795_351, 1_986_823_003, 1_107_775_949,
    1_511_111_767, 1_731_211_621, 1_046_527_793, 1_929_385_157,
    1_612_711_459, 1_286_972_297, 1_764_312_523, 1_201_233_989,
]
MINHASH_B = [
    422_527_911, 982_451_653, 336_470_237, 741_103_597,
    521_502_829, 879_190_841, 133_303_799, 650_148_287,
    287_309_243, 915_271_361, 461_920_471, 724_300_181,
    198_491_317, 843_628_819, 555_555_557, 372_193_913,
]
N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup by content digest: representative id + copy count.

    Groups on md5(text) — at 100 TB this shuffles one digest row per doc
    with map-side combine, never the full text.
    """
    return (
        df.select(
            F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col)
        )
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


SHINGLE_N = 3


def shingles(text: Column, n: int = SHINGLE_N) -> Column:
    """n-token shingles of a whitespace-tokenized text (n=1 → tokens).

    Pure array expressions — per-row, no explode.  Fewer than n tokens
    yields an empty array (guarded: ``sequence`` would otherwise count
    backwards).
    """
    toks = tokenize(text)
    if n == 1:
        return toks
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    )
    return F.when(F.size(toks) >= n, sh).otherwise(
        F.array().cast("array<string>")
    )


def _token_hashes(text_col: str, n: int = SHINGLE_N) -> Column:
    """Distinct n-shingle → 60-bit stable hash, pre-reduced mod p."""
    sh = F.array_distinct(shingles(F.col(text_col), n))
    return F.transform(sh, lambda t: stable_hash64(t) % F.lit(MINHASH_P))


def _ab_array() -> Column:
    # Built lazily: F.lit needs an active SparkContext, and this module must
    # stay importable before the session exists (driver smoke-imports it).
    return F.array(
        *[
            F.struct(F.lit(MINHASH_A[i]).alias("a"), F.lit(MINHASH_B[i]).alias("b"))
            for i in range(N_HASHES)
        ]
    )


def minhash_sig_array(text_col: str, n: int = SHINGLE_N) -> Column:
    """All 16 MinHash values in ONE pass over the token hashes.

    Higher-order functions run interpreted (no codegen CSE), so 16 separate
    ``array_min(transform(...))`` columns would hash every token with md5
    16 times.  A single ``aggregate`` whose accumulator is the 16-vector of
    running minima keeps it to one md5 per token.
    """
    hs = _token_hashes(text_col, n)
    ab = _ab_array()
    init = F.array_repeat(F.lit(MINHASH_P).cast("bigint"), N_HASHES)
    agg = F.aggregate(
        hs,
        init,
        lambda acc, x: F.zip_with(
            acc, ab, lambda m, ab_i: F.least(m, (ab_i["a"] * x + ab_i["b"]) % F.lit(MINHASH_P))
        ),
    )
    # Docs with no shingles get all-NULL signatures, matching both the
    # groupBy variant (min over explode_outer's NULL) and list_min([]) in
    # SQL engines — not the MINHASH_P init sentinel.
    return F.when(F.size(hs) > 0, agg).otherwise(
        F.array_repeat(F.lit(None).cast("bigint"), N_HASHES)
    )


def shingle_tokens(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = SHINGLE_N
) -> DataFrame:
    """(id, __toks) — the distinct n-shingle array per doc.

    The one expensive text pass of the near-dup pipeline; compute it once
    and feed both signature generation and Jaccard verification from it
    (persisted by ``ngram_jaccard_pairs``) instead of re-shingling the
    corpus per stage.
    """
    return df.select(
        F.col(id_col),
        F.array_distinct(shingles(F.col(text_col), n)).alias("__toks"),
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = SHINGLE_N,
    toks: DataFrame | None = None,
) -> DataFrame:
    """Per-doc MinHash signature as 16 columns ``sig_0..sig_15``.

    Shape: explode distinct shingles → hash once → groupBy(doc) with 16
    ``min`` aggregates.  Everything codegens (no higher-order functions in
    the hot path), and map-side partial aggregation collapses each doc to
    one 16-long row per input partition before the shuffle — at 100 TB the
    wire carries ~one signature per doc, not the token stream.
    ``explode_outer`` keeps docs with fewer than ``n`` tokens (their hash
    is NULL → all-NULL signature, matching ``list_min([]) = NULL``).

    (``minhash_sig_array`` remains the shuffle-free per-row alternative:
    same signatures via one interpreted array-aggregate — useful when a
    downstream op needs the signature inline without a shuffle.)
    """
    if toks is None:
        toks = shingle_tokens(df, text_col, id_col, n)
    tok = toks.select(
        F.col(id_col), F.explode_outer("__toks").alias("__sh")
    ).withColumn("__h", stable_hash64(F.col("__sh")) % F.lit(MINHASH_P))
    return tok.groupBy(id_col).agg(
        *[
            F.min((F.lit(MINHASH_A[i]) * F.col("__h") + F.lit(MINHASH_B[i])) % F.lit(MINHASH_P)).alias(
                f"sig_{i}"
            )
            for i in range(N_HASHES)
        ]
    )


def signature_bands(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, band_idx, band_sig) from a ``minhash_signatures`` frame —
    the LSH index rows.  ``band_sig`` is the "_"-joined band slice; an
    all-NULL signature (empty doc) collapses to "" in every band, and
    the Jaccard verify stage filters those degenerate matches out."""
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.concat_ws(
                            "_",
                            *[
                                F.col(f"sig_{b * ROWS_PER_BAND + r}")
                                for r in range(ROWS_PER_BAND)
                            ],
                        ).alias("band_sig"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_idx", "band.band_sig")


def sig_array_bands(sig_col: Column) -> Column:
    """The same banding over a signature ARRAY column (the per-row,
    shuffle-free ``minhash_sig_array`` form — streaming-safe): an
    array<struct(band_idx, band_sig)> to explode.  Band strings are
    identical to ``signature_bands``'s, so array-side rows join the
    column-side index directly."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.concat_ws(
                    "_",
                    *[
                        F.element_at(sig_col, b * ROWS_PER_BAND + r + 1)
                        for r in range(ROWS_PER_BAND)
                    ],
                ).alias("band_sig"),
            )
            for b in range(N_BANDS)
        ]
    )


def minhash_candidate_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = SHINGLE_N,
    toks: DataFrame | None = None, max_bucket: int | None = None,
) -> DataFrame:
    """LSH-banded candidate pairs ``(id_a < id_b)``.

    Bands the 16-signature into 4 bands of 4; docs sharing any band bucket
    become a candidate pair.  The self-join key is (band_idx, band_sig) —
    at 100 TB this is a bucket grouping, never a cross join.  Pairs are
    generated WITHIN each bucket (groupBy band → sorted id set → ordered
    2-combinations) instead of a self-join: a self-join's two sides defeat
    ReusedExchange once one side broadcasts, recomputing every signature —
    the groupBy shape computes signatures exactly once and shuffles only
    (band, id) rows.  Hot buckets (a band value shared by b docs) emit
    b·(b-1)/2 pairs either way; ``max_bucket`` drops degenerate buckets
    (with an observed dropped count — see ``_cap_buckets``); ``None``
    keeps exact, oracle-comparable semantics.
    """
    sigs = minhash_signatures(df, text_col, id_col, n, toks=toks)
    bands = signature_bands(sigs, id_col)
    buckets = (
        bands.groupBy("band_idx", "band_sig")
        .agg(F.sort_array(F.collect_set(F.col(id_col))).alias("__ids"))
        .filter(F.size("__ids") >= 2)
    )
    buckets = _cap_buckets(buckets, "__ids", max_bucket, "minhash_lsh")
    pair_structs = F.flatten(
        F.transform(
            F.col("__ids"),
            lambda x, i: F.transform(
                F.slice(F.col("__ids"), i + 2, F.size(F.col("__ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = SHINGLE_N,
) -> DataFrame:
    """EXACT-RECALL Jaccard similarity join via prefix filtering
    (Bayardo et al. 2007, "Scaling Up All Pairs"; the PPJoin family) —
    unlike the MinHash-LSH path (``ngram_jaccard_pairs``), which trades
    recall for speed probabilistically, the prefix filter provably
    loses NO pair: under any fixed total order of the token universe,
    two sets with Jaccard >= t must share a token within each set's
    first ``m - ceil(t*m) + 1`` tokens, so joining prefixes on the
    token is a complete candidate generator.  The DuckDB oracle
    brute-forces every O(n²) pair, so the correctness gate PROVES the
    zero-loss claim on real data (the name_linkage doctrine).

    The global order is (corpus document-frequency asc, token asc) —
    rare tokens first, which is also what makes it FAST: prefix buckets
    are rare-token buckets, so the candidate self-join's per-key
    fan-out is bounded by rare-token document frequencies, never by
    stopword df.

    The whole pipeline runs on 60-bit FINGERPRINT sets — the repo's
    standard fingerprint-identity convention (minhash signatures, rare
    tokens, dsir all hash shingles the same way; collision odds are
    ~|V|²/2^61).  Sets are thus hash sets end to end, the oracle hashes
    identically, and completeness over the hash universe IS the claim
    being proven.  (The first version generated candidates on hashes
    but verified on raw string arrays — profiling at 30x volume showed
    the verify join of 26M candidate pairs against ~2 KB string arrays
    was 665 s of the 753 s total; 8-byte-element arrays cut the width
    ~4x, and positional filtering cuts the 26M.)

    Candidate pruning, in order:
    - prefix filter: any pair with J >= t shares a token within each
      set's first ``m - ceil(t*m) + 1`` tokens under the global
      (document-frequency asc, fingerprint asc) order — rare tokens
      first, so prefix buckets are rare-token buckets and per-key
      fan-out is bounded by rare-token df, never stopword df;
    - positional filter (PPJoin, Xiao et al. 2008): a shared prefix
      token at rank r_a in A and r_b in B bounds the achievable overlap
      by ``1 + min(m_a - r_a, m_b - r_b)``; pairs whose bound is below
      the required overlap ``ceil(t/(1+t) * (m_a+m_b))`` (exact integer
      form) cannot verify and are dropped IN the join;
    - length filter: ``min_size * 1e6 >= t_micro * max_size``.

    Scale shape: one SHUFFLE-FREE distinct-fingerprint pass persisted
    as the per-doc (doc, hash-array) set frame (row-local
    array_distinct — no explode+groupBy dedup exchange); frequency
    groupBy (vocab-sized, map-side combinable, 8-byte keys); ONE
    doc-keyed Exchange+Sort carrying the rank/set-size windows; prefix
    self-join keyed on rare-token fingerprints; exact set verify
    (``jaccard_verify`` on per-row-sorted compact long arrays) only on
    surviving candidates.  The pair result persists (small); the set
    frame is released before returning (the ngram_jaccard_pairs cache
    lifecycle).

    PRECONDITION: ``id_col`` is unique per row (one row per document).
    Row-local ``array_distinct`` equals global (doc, hash) dedupe only
    under that invariant — duplicate doc rows would inflate token
    document frequencies (skewing the prefix order) and duplicate the
    per-doc set frame rows feeding the verify join.  Every corpus table
    in this repo satisfies it; dedupe upstream if yours doesn't.

    Output: (id_a, id_b, jaccard double), id_a < id_b, jaccard >= t.
    """
    t_micro = int(round(threshold * 1_000_000))
    # per-doc DISTINCT fingerprint sets, computed row-locally: the
    # shingle arrays are already distinct strings, so hashing + one
    # array_distinct (fingerprint collisions within a doc must merge —
    # the hash SET is the set universe end to end) needs NO shuffle.
    # The first version deduped via explode + groupBy(doc, h) — a
    # corpus-sized exchange of every shingle instance that profiling at
    # sf0.1 showed to be HALF the query's wall time; the per-row form
    # removes it (and the collect_list re-assembly shuffle the verify
    # arrays needed) outright.
    arrs = (
        shingle_tokens(df, text_col, id_col, n=n)
        .select(
            F.col(id_col),
            F.array_distinct(
                F.transform("__toks", lambda t: stable_hash64(t))
            ).alias("__hs"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    inst = arrs.select(F.col(id_col), F.explode("__hs").alias("__h"))
    try:
        from pyspark.sql.window import Window

        freq = inst.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
        w_doc = Window.partitionBy(id_col)
        w_rank = Window.partitionBy(id_col).orderBy(
            F.asc("__df"), F.asc("__h")
        )
        ranked = inst.join(freq, "__h").select(
            id_col,
            F.count(F.lit(1)).over(w_doc).cast("int").alias("__m"),
            "__h",
            F.row_number().over(w_rank).alias("__rn"),
        )
        # prefix length m - ceil(t*m) + 1 with exact integer ceil
        plen = (
            F.col("__m")
            - F.expr(f"(__m * {t_micro} + 999999) div 1000000")
            + F.lit(1)
        )
        prefix = ranked.filter(F.col("__rn") <= plen).select(
            F.col(id_col), F.col("__m"), F.col("__rn"), F.col("__h")
        )
        a = prefix.select(
            F.col(id_col).alias("id_a"),
            F.col("__m").alias("__ma"),
            F.col("__rn").alias("__ra"),
            "__h",
        )
        b = prefix.select(
            F.col(id_col).alias("id_b"),
            F.col("__m").alias("__mb"),
            F.col("__rn").alias("__rb"),
            "__h",
        )
        # required overlap alpha = ceil(t/(1+t) * (ma+mb)), exact ints
        alpha = f"((__ma + __mb) * {t_micro} + {1_000_000 + t_micro} - 1) div {1_000_000 + t_micro}"
        cands = (
            a.join(b, "__h")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(
                F.expr(
                    f"least(__ma, __mb) * 1000000 >= {t_micro} * greatest(__ma, __mb)"
                )
            )
            .filter(
                F.expr(f"1 + least(__ma - __ra, __mb - __rb) >= {alpha}")
            )
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
        # verify against compact sorted fingerprint arrays (8-byte
        # elements) — a per-row sort of the cached set arrays
        htoks = arrs.select(
            F.col(id_col), F.sort_array("__hs").alias("__toks")
        )
        out = jaccard_verify(
            cands, df, text_col, id_col, threshold, n=n, toks=htoks
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            out.count()  # materialize while the set cache is hot
        except Exception:
            out.unpersist()
            raise
        from mvrepair import cache as _cache

        return _cache.adopt(out)
    finally:
        arrs.unpersist()


def jaccard_verify(
    pairs: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    n: int = SHINGLE_N,
    toks: DataFrame | None = None,
) -> DataFrame:
    """Exact distinct-shingle-set Jaccard on candidate pairs only.

    ``pairs`` has (id_a, id_b); output adds ``jaccard`` and filters by
    threshold.  Joins the (small) candidate set against the token arrays —
    at scale the pair side is tiny, so both joins broadcast.  Pass ``toks``
    (from ``shingle_tokens``, ideally persisted) to avoid re-shingling the
    corpus a second time.
    """
    if toks is None:
        toks = shingle_tokens(df, text_col, id_col, n)
    out = (
        pairs.join(toks.withColumnRenamed(id_col, "id_a").withColumnRenamed("__toks", "__ta"), "id_a")
        .join(toks.withColumnRenamed(id_col, "id_b").withColumnRenamed("__toks", "__tb"), "id_b")
    )
    inter = F.size(F.array_intersect(F.col("__ta"), F.col("__tb")))
    union = F.size(F.array_union(F.col("__ta"), F.col("__tb")))
    jac = inter.cast("double") / union
    return out.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    n: int = SHINGLE_N,
    max_bucket: int | None = None,
    toks: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs: MinHash-LSH candidates verified by exact Jaccard.

    The composition a 100 TB pipeline actually runs: sub-quadratic candidate
    generation + exact verification on the candidate set only.  The shingle
    pass is the expensive text scan; it runs ONCE (``shingle_tokens``,
    persisted MEMORY_AND_DISK) and feeds both the signature pipeline and
    the verification joins — without the persist, Spark's two plan branches
    would re-tokenize the whole corpus.

    Cache lifecycle: when ``toks`` is caller-owned, nothing is persisted
    here (the caller manages its own cache) and the result stays lazy.
    When the shingle frame is created internally, this function is EAGER:
    the (small) pair result is computed and cached while the shingle cache
    is hot, then the corpus-sized shingle cache is released before
    returning.  The only cache that survives is the returned pair frame
    itself — the caller holds its handle and MUST ``.unpersist()`` it
    when done — so repeated invocations in a long-lived session never
    accumulate corpus-sized state.

    Concurrency caveat (internal-toks path only): the AQE-under-cache
    conf below is SESSION-scoped — it is set before the materializing
    action and restored after, so another job sharing this SparkSession
    concurrently can observe the temporary value (or, racing a
    set/restore of the same conf, clobber it).  Run this path on its own
    session (``spark.newSession()`` shares the cluster but isolates
    conf/temp state) when scheduling near-dup jobs next to other work;
    the caller-owned ``toks`` path touches no session state at all.
    """
    if toks is not None:
        cands = minhash_candidate_pairs(
            df, text_col, id_col, n, toks=toks, max_bucket=max_bucket
        )
        return jaccard_verify(cands, df, text_col, id_col, threshold, n, toks=toks)

    # Cached plans compile with AQE restricted unless this conf is on
    # (Spark keeps a cached plan's output partitioning stable by default).
    # The materializing count() below IS the pipeline's one heavy action —
    # without AQE it loses runtime partition coalescing and skew handling
    # (measured at sf0.1: 25.6 s restricted vs 11.7 s adaptive).
    spark = df.sparkSession
    with conf_scope(spark, {CACHED_PLAN_AQE: "true"}):
        owned = shingle_tokens(df, text_col, id_col, n).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            cands = minhash_candidate_pairs(
                df, text_col, id_col, n, toks=owned, max_bucket=max_bucket
            )
            out = jaccard_verify(
                cands, df, text_col, id_col, threshold, n, toks=owned
            ).persist(StorageLevel.MEMORY_AND_DISK)
            try:
                out.count()  # materialize pairs while the shingle cache is hot
                from mvrepair import cache as _cache

                _cache.adopt(out)
            except Exception:
                out.unpersist()
                raise
        finally:
            owned.unpersist()
    return out


def simhash_candidate_pairs(
    simhashes: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 6,
    n_bands: int = 4,
    band_bits: int = 8,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs from SimHashes via bit-slice banding.

    Splits the fingerprint into ``n_bands`` slices of ``band_bits`` bits;
    pairs sharing any slice value at the same position are candidates
    (pigeonhole: hamming ≤ n_bands-1 guarantees one intact slice, and small
    hamming usually leaves one intact); verified with exact
    ``bit_count(xor)``.  Input: DataFrame(id_col, simhash) from
    ``text.simhash``.

    Scale note: candidate volume for unrelated docs ≈ n²·n_bands/2^band_bits,
    so band_bits sizes the bucket space.  8-bit bands (256 buckets) only
    work for small corpora; at 100 TB use a 60-bit fingerprint with 15-bit
    bands (32k buckets) or wider.
    """
    mask = (1 << band_bits) - 1
    bands = simhashes.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("byte_idx"),
                        F.shiftright(F.col("simhash"), i * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("byte_val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "simhash", "band.byte_idx", "band.byte_val")
    # in-bucket pair generation (not a self-join) — computes the upstream
    # simhash aggregation once; see minhash_candidate_pairs for rationale
    buckets = (
        bands.groupBy("byte_idx", "byte_val")
        .agg(
            F.sort_array(
                F.collect_set(F.struct(F.col(id_col).alias("id"), F.col("simhash")))
            ).alias("__m")
        )
        .filter(F.size("__m") >= 2)
    )
    buckets = _cap_buckets(buckets, "__m", max_bucket, "simhash_lsh")
    pair_structs = F.flatten(
        F.transform(
            F.col("__m"),
            lambda x, i: F.transform(
                F.slice(F.col("__m"), i + 2, F.size(F.col("__m"))),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    x["simhash"].alias("sim_a"),
                    y["simhash"].alias("sim_b"),
                ),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b", "p.sim_a", "p.sim_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return cand.select(
        "id_a", "id_b", hamming.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over a near-dup pair graph: every node labeled
    with the MINIMUM id reachable from it — the canonical representative
    the dedup pipeline keeps.

    ``pairs`` has (id_a, id_b) edges (any orientation); ``nodes`` supplies
    the full vertex set (``id_col``) so singletons label themselves.  The
    result is the unique fixpoint min-label assignment, so ANY correct
    algorithm — this one, or an oracle's recursive closure — agrees
    bit-for-bit: iterative algorithms are hash-checkable when the answer,
    not the schedule, is deterministic (same argument as ``train_kmeans``).

    Scale shape: classic min-label propagation.  Per round, each node
    takes the min of its own label and its neighbors' labels — one
    groupBy over the (undirected) edge list, O(E) shuffle per round,
    rounds ≈ component diameter (near-dup clusters are shallow; 20 covers
    any realistic dup graph; the loop exits early on convergence and
    RAISES if the diameter exceeds ``max_iters`` — a non-fixpoint result
    would be silently wrong).  Each round is ``localCheckpoint``-ed: the
    round's plan references the previous labels twice, so without lineage
    truncation the logical plan doubles per round (2^rounds nodes —
    analyzer OOM by ~10 rounds even on tiny graphs).  The state is one
    (id, label) row per node — never the closure (the oracle's
    transitive-closure CTE is Σ component² and only viable at fixture
    scale; the propagation form is the 100 TB one).

    Fault tolerance: with ``checkpoint_dir`` set, each round checkpoints
    RELIABLY (``DataFrame.checkpoint`` to that directory — HDFS/S3 on a
    real cluster) instead of ``localCheckpoint``: executor loss mid-loop
    then recovers the last round from storage rather than losing the
    whole computation, at the price of one distributed write per round.
    Default (``None``) keeps the executor-local variant — the right trade
    for short-lived or local runs.  Superseded round files are deleted
    eagerly each iteration (Spark only auto-cleans reliable checkpoints
    at context shutdown, and a deep loop would otherwise accumulate
    rounds x |labels| bytes of dead state in the checkpoint dir).
    """
    # r11 optimization round: the loop runs under tuning.sized_loop —
    # shuffle partitions derived once from the measured edge count, AQE
    # off for the loop body only.  This supersedes the r10-era
    # canChangeCachedPlanOutputPartitioning toggle (which bought AQE
    # coalescing on the cached-plan rounds, 13 s → 3 s at the time):
    # explicit sizing gives the same small-stage effect WITHOUT AQE's
    # per-stage re-planning jobs, and the dst-partitioned edge cache
    # makes the per-round neighbor join exchange-free on the edge side
    # (guide §2.4; the pagerank_micro treatment).
    spark = pairs.sparkSession

    # Reliable-checkpoint bookkeeping: Spark resolves setCheckpointDir to
    # dir/<uuid> — a FRESH uuid per set call, so this invocation's rounds
    # land in their own subdirectory — and writes each round under it as
    # rdd-<id>; we snapshot the listing around each checkpoint() call to
    # learn which entry is this round's, so the superseded round can be
    # deleted through the Hadoop FileSystem API (works for hdfs:// and
    # s3a:// dirs too).  LIMITATION: the checkpoint dir is
    # SparkContext-GLOBAL, so a CONCURRENT df.checkpoint() from another
    # thread of the same context lands in this uuid dir and its entry can
    # be mis-attributed to our round and deleted — concurrent reliable
    # checkpointing on one context must serialize (a Spark API
    # constraint, not a choice here); deletion is restricted to rdd-*
    # entries.  Exit-time restoration is APPROXIMATE: getCheckpointDir
    # returns the RESOLVED dir/<uuid>, and Spark appends a fresh uuid on
    # every set call (there is no API for the originally-configured
    # path), so "restoring" re-roots future checkpoints under the OLD
    # resolved path — correct behavior, but repeated invocations nest
    # one uuid level deeper each time (dir/u1/u2/...).  Harmless: each
    # level holds only rdd-* entries that their own invocation cleans.
    fs = jvm = ckpt_path = None
    prev_entries: set[str] = set()
    prev_ckpt_dir = None
    if checkpoint_dir is not None:
        sc = spark.sparkContext
        prev_ckpt_dir = sc.getCheckpointDir()
        sc.setCheckpointDir(checkpoint_dir)
        jvm = sc._jvm
        ckpt_path = jvm.org.apache.hadoop.fs.Path(sc.getCheckpointDir())
        fs = ckpt_path.getFileSystem(sc._jsc.hadoopConfiguration())

    def _ckpt_entries() -> set[str]:
        if not fs.exists(ckpt_path):
            return set()
        return {
            st.getPath().toString()
            for st in fs.listStatus(ckpt_path)
            if st.getPath().getName().startswith("rdd-")
        }

    n_pairs = pairs.count()  # sizes the loop (callers pass pairs cached)
    # edges/labels start None so the finally's unpersist is always bound
    edges = labels = None
    try:
        with sized_loop(spark, 2 * n_pairs):
            # no distinct(): duplicate edges are harmless under
            # min-aggregation and deduping them would cost an extra shuffle
            # per build.  dst-partitioned: the per-round neighbor join keys
            # on dst, so the |E|-sized cache never re-exchanges (labels,
            # |V|-sized, aligns to it)
            edges = (
                pairs.select(
                    F.col("id_a").alias("src"), F.col("id_b").alias("dst")
                )
                .unionByName(
                    pairs.select(
                        F.col("id_b").alias("src"), F.col("id_a").alias("dst")
                    )
                )
                .repartition("dst")
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            labels = nodes.select(
                F.col(id_col).alias("id"), F.col(id_col).alias("lbl")
            ).persist(StorageLevel.MEMORY_AND_DISK)
            from pyspark.sql import Observation

            converged = False
            for it in range(max_iters):
                neighbor_min = (
                    edges.join(
                        labels.withColumnRenamed(
                            "id", "dst"
                        ).withColumnRenamed("lbl", "nlbl"),
                        on="dst",
                    )
                    .groupBy(F.col("src").alias("id"))
                    .agg(F.min("nlbl").alias("nmin"))
                )
                # the changed-count rides the materializing action via observe
                # — one job per round, no second labels-vs-labels join
                obs = Observation(f"cc_round_{_obs_name('cc')}_{it}")
                candidate = (
                    labels.join(neighbor_min, on="id", how="left")
                    .select(
                        "id",
                        F.least(
                            F.col("lbl"),
                            F.coalesce(F.col("nmin"), F.col("lbl")),
                        ).alias("lbl"),
                        (F.coalesce(F.col("nmin"), F.col("lbl"))
                         < F.col("lbl")).cast("long").alias("__chg"),
                    )
                    .observe(obs, F.sum("__chg").alias("changed"))
                    .drop("__chg")
                )
                # LINEAGE TRUNCATION, not just caching: ``labels`` appears
                # TWICE in each round's plan (its own join side and inside
                # neighbor_min), so an un-truncated logical plan DOUBLES per
                # round — 2^rounds nodes, analyzer OOM by round ~10 even on a
                # 10-row graph.  localCheckpoint materializes the round (the
                # observe metrics ride this job) and re-roots the plan at the
                # stored partitions — the standard iterative-graph pattern
                # (use checkpoint() with a checkpoint dir for fault tolerance
                # on a real cluster).
                if checkpoint_dir is None:
                    new_labels = candidate.localCheckpoint(eager=True)
                else:
                    before = _ckpt_entries()
                    new_labels = candidate.checkpoint(eager=True)
                    this_round = _ckpt_entries() - before
                    # round it-1's files are dead once round it materialized;
                    # Spark only auto-cleans reliable checkpoints at context
                    # shutdown, so a deep loop must clean as it goes
                    for p in prev_entries:
                        fs.delete(jvm.org.apache.hadoop.fs.Path(p), True)
                    prev_entries = this_round
                if it == 0:
                    # the initial labels frame is the only cache-manager entry
                    # in the loop; checkpointed rounds are executor-local RDD
                    # blocks, NOT cache entries — DataFrame.unpersist() on
                    # them is a no-op (round-4 ADVICE).  Dropping the Python
                    # reference (the reassignment below) lets Spark's
                    # ContextCleaner reclaim each round's blocks once the
                    # driver GCs the old frame; for long loops on a real
                    # cluster prefer checkpoint(dir), which also restores
                    # fault tolerance (the docstring's variant note).
                    labels.unpersist()
                labels = new_labels
                if int(obs.get["changed"] or 0) == 0:
                    converged = True
                    break
            if not converged:
                # a non-fixpoint labeling is silently WRONG (some nodes still
                # carry a non-minimal label) — fail loudly instead
                raise RuntimeError(
                    f"connected_components did not converge in {max_iters} "
                    f"rounds; the graph has a component with diameter > "
                    f"{max_iters} — raise max_iters"
                )
            # already materialized by the final checkpoint; plain projection
            return labels.select(
                F.col("id").alias(id_col), F.col("lbl").alias("cluster_id")
            )
    finally:
        if edges is not None:
            edges.unpersist()
        # meaningful only when the loop never checkpointed (exception in
        # round 0): afterwards ``labels`` is a checkpointed frame and
        # this is a harmless no-op (see the round-0 comment above)
        if labels is not None:
            labels.unpersist()
        # undo the global checkpoint-dir mutation (possible only when a
        # prior dir existed — Spark has no unset; the uuid-subdir scheme
        # keeps a lingering dir harmless either way)
        if checkpoint_dir is not None and prev_ckpt_dir is not None:
            spark.sparkContext.setCheckpointDir(prev_ckpt_dir)


def containment_pairs(
    probe: DataFrame | None,
    source: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_micro: int = 800_000,
    n: int = SHINGLE_N,
    max_shingle_df: int | None = None,
    probe_toks: DataFrame | None = None,
    source_toks: DataFrame | None = None,
) -> DataFrame:
    """Cross-corpus shingle CONTAINMENT: probe docs whose n-gram set is
    largely contained in some source doc — the decontamination check a
    training pipeline runs between eval splits (probe) and the train set
    (source).

    Containment |P∩S| / |P| is the right asymmetric score here: a short
    eval doc copied into a long train doc has low Jaccard but containment
    ~1 — which is also why candidates CANNOT come from MinHash-LSH
    banding (band collision probability tracks JACCARD; the motivating
    short-in-long case sits exactly where LSH recall collapses — caught
    by this operator's own unit test during development).  Instead this
    is the standard inverted-index shape: explode probe shingles, join
    the source shingle index, count matches per (probe, source) — the
    intersection arrives EXACTLY from the join, no separate verify pass.
    Scored in micro-units (``· 1e6 div |P|``), engine-exact.

    Scale shape: one equi-join on the shingle key + one combine-heavy
    groupBy — sub-quadratic, but ultra-common shingles fan out (a
    stop-phrase shared by everything pairs everything).  ``max_shingle_df``
    drops source shingles indexed by more than that many docs — the
    standard production cap; such shingles carry no contamination signal.
    ``None`` keeps exact (oracle-comparable) semantics.  Probes with no
    shingles can't be scored and are dropped (|P| = 0).

    Pass ``probe_toks`` / ``source_toks`` (``shingle_tokens`` frames,
    ideally persisted) to skip re-shingling — the shingle pass is the
    expensive text scan, and when both corpora are projections of ONE
    frame (the decontamination case — see ``contamination_check``)
    computing it per side doubles the dominant cost.

    Output: (probe_id, source_id, containment_micro bigint ≥ threshold).
    """
    if probe_toks is None:
        probe_toks = shingle_tokens(probe, text_col, id_col, n)
    if source_toks is None:
        source_toks = shingle_tokens(source, text_col, id_col, n)
    pt = (
        probe_toks
        .filter(F.size("__toks") > 0)
        .select(
            F.col(id_col).alias("probe_id"),
            F.size("__toks").alias("__psize"),
            F.explode("__toks").alias("__sh"),
        )
    )
    st = source_toks.select(
        F.col(id_col).alias("source_id"), F.explode("__toks").alias("__sh")
    )
    if max_shingle_df is not None:
        # Per-shingle document frequency as a map-side-combinable
        # aggregate, then drop the (tiny) over-cap set via anti-join —
        # with AQE the build side broadcasts.  The previous shape
        # (count OVER (PARTITION BY __sh)) turned a hot stop-phrase
        # shingle — the exact case the cap exists for — into one giant
        # sort-based window partition that had to be fully shuffled and
        # materialized before being dropped (round-4 ADVICE).
        hot = (
            st.groupBy("__sh")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_shingle_df)
            .select("__sh")
        )
        st = st.join(hot, on="__sh", how="left_anti")
    return (
        pt.join(st, on="__sh")
        .groupBy("probe_id", "source_id", "__psize")
        .agg(F.count(F.lit(1)).alias("__inter"))
        .withColumn(
            "containment_micro",
            F.expr("(__inter * 1000000) DIV __psize"),
        )
        .filter(F.col("containment_micro") >= threshold_micro)
        .select("probe_id", "source_id", "containment_micro")
    )


def contamination_check(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    split_col: str = "split",
    train_value: str = "train",
    threshold_micro: int = 800_000,
    n: int = SHINGLE_N,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Decontamination over ONE split corpus: probe = every non-train
    doc, source = the train docs, scored by ``containment_pairs``.

    The point of this wrapper is the shingle pass: both sides are
    projections of the same frame, so shingling each side separately —
    what two bare ``containment_pairs`` inputs cost — runs the dominant
    interpreted array pass twice over the corpus.  Here the corpus is
    shingled ONCE (split label carried along), persisted, and both sides
    filter the shared frame.

    Cache lifecycle mirrors ``ngram_jaccard_pairs``'s internal-toks
    path: this function is EAGER — the (small) pair result is
    materialized while the shingle cache is hot, then the corpus-sized
    cache is released.  The returned pair frame is itself persisted; the
    caller holds the only handle and should ``.unpersist()`` it when
    done.  Same session-scoped AQE-under-cache caveat as
    ``ngram_jaccard_pairs`` applies.
    """
    spark = docs.sparkSession
    with conf_scope(spark, {CACHED_PLAN_AQE: "true"}):
        toks_all = docs.select(
            F.col(id_col),
            F.col(split_col),
            F.array_distinct(shingles(F.col(text_col), n)).alias("__toks"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            out = containment_pairs(
                None,
                None,
                text_col,
                id_col,
                threshold_micro,
                n,
                max_shingle_df,
                probe_toks=toks_all.filter(
                    F.col(split_col) != train_value
                ).select(id_col, "__toks"),
                source_toks=toks_all.filter(
                    F.col(split_col) == train_value
                ).select(id_col, "__toks"),
            ).persist(StorageLevel.MEMORY_AND_DISK)
            try:
                out.count()  # materialize pairs while the shingle cache is hot
                from mvrepair import cache as _cache

                _cache.adopt(out)
            except Exception:
                out.unpersist()
                raise
        finally:
            toks_all.unpersist()
    return out


def substring_dup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    flag_frac: float = 0.3,
) -> DataFrame:
    """Exact-substring duplication profile (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): per-document fraction of
    token ``n``-gram INSTANCES that recur anywhere in the corpus —
    including a second occurrence inside the same document, which is how
    the suffix-array formulation counts too.

    Output per doc: ``n_grams`` (instances, not distinct), ``n_dup_grams``
    (instances whose gram occurs >= 2 times corpus-wide), ``dup_frac``,
    and ``mostly_dup`` (``dup_frac >= flag_frac`` — the doc carries enough
    memorizable duplicated text that a pretraining pipeline would cut the
    spans or drop it).

    Scale shape — the practical stand-in for a distributed suffix array:
    grams ship as 60-bit fingerprints (``stable_hash64``), never strings,
    so the wire cost is 8 bytes per token instance.  Corpus frequencies
    come from a map-side-combinable ``groupBy(hash).count``; the
    instances-to-frequency join is hash-to-hash on the SAME key, so the
    exchange introduced by the groupBy is reused rather than repeated; the
    final per-doc rollup keys on the doc id (no global skew).  Docs with
    fewer than ``n`` tokens re-enter via a left join from the (pruned,
    id-only) base scan with zero counts.  At web scale a 60-bit
    fingerprint collides eventually — the standard trade the paper's
    Bloom/hash variants make; a collision can only overcount duplication,
    never lose a true duplicate.
    """
    inst = df.select(
        F.col(id_col),
        F.explode(shingles(F.col(text_col), n)).alias("__g"),
    ).select(id_col, stable_hash64(F.col("__g")).alias("__h"))
    freq = inst.groupBy("__h").agg(F.count(F.lit(1)).alias("__c"))
    per_doc = (
        inst.join(freq, "__h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(
                F.sum(F.when(F.col("__c") > 1, F.lit(1))), F.lit(0)
            ).alias("n_dup_grams"),
        )
    )
    out = df.select(id_col).join(per_doc, id_col, "left")
    n_grams = F.coalesce(F.col("n_grams"), F.lit(0)).cast("long")
    n_dup = F.coalesce(F.col("n_dup_grams"), F.lit(0)).cast("long")
    dup_frac = F.when(
        n_grams > 0, n_dup.cast("double") / n_grams
    ).otherwise(F.lit(0.0))
    return out.select(
        id_col,
        n_grams.alias("n_grams"),
        n_dup.alias("n_dup_grams"),
        dup_frac.alias("dup_frac"),
        (dup_frac >= flag_frac).alias("mostly_dup"),
    )


def keep_best(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    score_col: str = "quality_score",
) -> DataFrame:
    """Canonical-document selection: the keep/drop decision a dedup
    pipeline ends on.

    ``clusters`` is a (id, cluster) labeling (e.g. ``connected_components``
    output); ``scores`` carries a per-document quality score.  Each cluster
    keeps its argmax-by-(score, -id) member — highest quality wins, ties
    break to the LOWEST id so the choice is total and reproducible.

    Output: (cluster_col, keep_id, keep_score, n_members).

    PRECONDITION: ``scores`` must cover every clustered id.  The join is
    INNER, so a cluster member with no score row is silently excluded
    from both ``n_members`` and the argmax — by design (a doc the quality
    stage never scored has no standing in the keep decision), but callers
    whose score table is a sample must left-join a default score first or
    the counts will under-report cluster sizes.

    Scale shape: one equi-join on the id (both sides are id-keyed
    projections — the wire never carries text) and ONE aggregation on the
    cluster id.  The argmax is ``max(struct(score, -id))``, which is
    partial-aggregatable: the map-side ``partial_max`` shrinks each
    cluster to a single struct per map task BEFORE the exchange, so the
    shuffle carries one row per (task, cluster).  Struct-typed agg
    buffers compile to ``SortAggregate`` (local sort by group key, bounded
    memory) rather than ``HashAggregate`` — still deliberately NOT a
    row_number() window, which would shuffle every member row and sort
    whole clusters to pick one row.  Skewed mega-clusters (the near-dup
    blob every web crawl has) therefore cost per-task combines, not a
    full per-cluster sort after the shuffle.
    """
    joined = clusters.select(id_col, cluster_col).join(
        scores.select(id_col, score_col), id_col
    )
    best = F.max(
        F.struct(
            F.col(score_col).alias("s"), (-F.col(id_col)).alias("neg_id")
        )
    )
    return (
        joined.groupBy(cluster_col)
        .agg(F.count(F.lit(1)).alias("n_members"), best.alias("__best"))
        .select(
            cluster_col,
            (-F.col("__best.neg_id")).alias("keep_id"),
            F.col("__best.s").alias("keep_score"),
            "n_members",
        )
    )


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 10,
) -> DataFrame:
    """Exact-substring REMOVAL (the action step for the profile that
    ``substring_dup_stats`` computes): cut corpus-duplicated token spans
    out of every document, keeping exactly one canonical occurrence.

    Lee et al. 2022 remove every repeated >=50-token substring from the
    training corpus; the distributed formulation here tiles each document
    into consecutive non-overlapping ``w``-token spans (the trailing
    partial span, having no corpus-comparable value, is always kept) and
    keeps a span instance iff it is the CANONICAL occurrence of its
    content: the minimum ``(doc_id, span_idx)`` pair among all occurrences
    corpus-wide.  Unique spans are trivially canonical, so clean docs pass
    through byte-identical.

    Output per doc: ``clean_text`` (kept spans + trailing partial,
    space-joined), ``n_spans`` (full spans tiled), ``n_removed``.

    Scale shape: span contents ship as 60-bit ``stable_hash64``
    fingerprints (8 bytes/span on the wire, never text).  One
    map-side-combinable ``groupBy(hash).min(struct)`` elects canonicals;
    the instances-to-canonical join reuses the same hash key (exchange
    reuse, like ``substring_dup_stats``); the rebuild joins per-doc kept
    indexes back to the pruned (id, text) scan and re-slices tokens with
    per-row array expressions — document text crosses the wire exactly
    once, in the final doc-keyed join.  A 60-bit collision can only merge
    two distinct spans (over-removal), never resurrect a duplicate — the
    same one-sided trade the profile makes.
    """
    toks = tokenize(F.col(text_col))
    n_spans = F.floor(F.size(toks) / w).cast("int")
    span_idx = F.sequence(F.lit(0), n_spans - 1)
    spans = F.transform(
        span_idx, lambda i: F.concat_ws(" ", F.slice(toks, i * w + 1, w))
    )
    inst = df.select(
        F.col(id_col),
        F.posexplode(
            F.when(n_spans > 0, spans).otherwise(F.array().cast("array<string>"))
        ).alias("span_idx", "__s"),
    ).select(id_col, "span_idx", stable_hash64(F.col("__s")).alias("__h"))

    canon = inst.groupBy("__h").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("span_idx").alias("i"))).alias(
            "__keep"
        )
    )
    kept_idx = (
        inst.join(canon, "__h")
        .groupBy(id_col)
        .agg(
            F.sort_array(
                F.collect_list(
                    F.when(
                        (F.col("__keep.d") == F.col(id_col))
                        & (F.col("__keep.i") == F.col("span_idx")),
                        F.col("span_idx"),
                    )
                )
            ).alias("__kept"),
            F.count(F.lit(1)).alias("__n_spans"),
        )
    )

    out = df.select(id_col, text_col).join(kept_idx, id_col, "left")
    toks2 = tokenize(F.col(text_col))
    nsp = F.coalesce(F.col("__n_spans"), F.lit(0)).cast("long")
    kept = F.coalesce(F.col("__kept"), F.array().cast("array<int>"))
    tail_len = F.size(toks2) - nsp.cast("int") * w
    clean_tokens = F.concat(
        F.flatten(F.transform(kept, lambda i: F.slice(toks2, i * w + 1, w))),
        F.when(tail_len > 0, F.slice(toks2, nsp.cast("int") * w + 1, tail_len))
        .otherwise(F.array().cast("array<string>")),
    )
    return out.select(
        F.col(id_col),
        F.concat_ws(" ", clean_tokens).alias("clean_text"),
        nsp.alias("n_spans"),
        (nsp - F.size(kept).cast("long")).alias("n_removed"),
    )


def update_band_index(
    index: DataFrame,
    diff: DataFrame,
    new_corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = SHINGLE_N,
) -> DataFrame:
    """Incrementally maintain an LSH band index from a snapshot diff —
    the op that makes near-dup detection affordable on a re-crawl: only
    the DELTA is re-signed, not the 100 TB corpus.

    ``index`` is the previous snapshot's ``signature_bands`` output;
    ``diff`` a ``snapshot_diff`` frame; ``new_corpus`` the new snapshot.
    Removed/changed docs' rows leave the index via an anti-join on the
    id; added/changed docs are re-signed from ``new_corpus`` (a
    semi-join selects the delta — at typical refresh rates a broadcast)
    and appended.  INVARIANT (the correctness oracle): the result equals
    building the index from the new snapshot from scratch.

    Scale shape: signature work is delta-sized; the anti/semi joins key
    on the id (no text movement on the index side); the union is
    planless concatenation.  The same pattern maintains any
    id-keyed derived dataset (embeddings, fingerprints, stats) off one
    diff.
    """
    stale = diff.filter(F.col("status").isin("removed", "changed")).select(
        id_col
    )
    fresh = diff.filter(F.col("status").isin("added", "changed")).select(
        id_col
    )
    kept = index.join(stale, id_col, "left_anti")
    delta = new_corpus.join(fresh, id_col, "left_semi")
    new_rows = signature_bands(
        minhash_signatures(delta, text_col, id_col, n), id_col
    )
    return kept.unionByName(new_rows)


def apply_keep_decisions(
    docs: DataFrame,
    clusters: DataFrame,
    keepers: DataFrame,
    id_col: str = "doc_id",
    keep_col: str = "keep_id",
) -> DataFrame:
    """Materialize the deduped corpus: drop every clustered document that
    is not its cluster's canonical keeper; documents outside any cluster
    pass through untouched.  The last step of the dedup pipeline — what
    actually ships to training.

    ``clusters`` is a ``connected_components`` labeling (id rows),
    ``keepers`` a ``keep_best`` frame (its ``keep_col`` ids survive).
    With the engine's own components labeling every node appears in
    ``clusters`` (singletons label themselves), but the operator doesn't
    assume that — a partial clustering drops only what it covers.

    Scale shape: two anti-joins keyed on the id — the corpus text moves
    only in the final semi/anti probe, never through an aggregate; the
    drop-set (clustered non-keepers) is the small side and broadcasts at
    typical dup rates.
    """
    drop = clusters.select(id_col).join(
        keepers.select(F.col(keep_col).alias(id_col)), id_col, "left_anti"
    )
    return docs.join(drop, id_col, "left_anti")


def minhash_calibration(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = SHINGLE_N,
) -> DataFrame:
    """Sketch-accuracy audit of the MinHash estimator itself: for EVERY
    LSH candidate pair (unfiltered — below-threshold candidates are the
    interesting part), histogram signature agreement against exact
    Jaccard.

    Output: ``matches`` (0..16 agreeing signature components — the
    MinHash estimate of Jaccard in 16ths), ``jaccard_decile``
    ((10·|A∩B|) div |A∪B| — the exact value, integer-quantized),
    ``n_pairs``.  The grid is the calibration table you'd plot to
    decide whether the 16-hash/4-band configuration is trustworthy at a
    given threshold before a 100 TB dedup run — E[matches/16] = true
    Jaccard, so mass should concentrate near the diagonal; off-diagonal
    mass at high deciles = recall risk, at low deciles = wasted verify
    work.  Pure composition of three checked stages (candidate
    generation, signatures, exact verify) plus one ≤17×11-row rollup.

    Scale shape: identical to ``ngram_jaccard_pairs`` (the shingle pass
    runs once, persisted, feeding candidates + signatures + both verify
    joins; the pair side of every verify join is candidate-sized); the
    final histogram is a combine-friendly aggregate to ≤187 rows.  Like
    its twin, the internal-cache path is EAGER and releases the
    corpus-sized shingle cache before returning.
    """
    spark = df.sparkSession
    with conf_scope(spark, {CACHED_PLAN_AQE: "true"}):
        owned = shingle_tokens(df, text_col, id_col, n).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            cands = minhash_candidate_pairs(
                df, text_col, id_col, n, toks=owned
            )
            sigs = minhash_signatures(df, text_col, id_col, n, toks=owned)
            sa = sigs.select(
                F.col(id_col).alias("id_a"),
                *[F.col(f"sig_{i}").alias(f"__a{i}") for i in range(N_HASHES)],
            )
            sb = sigs.select(
                F.col(id_col).alias("id_b"),
                *[F.col(f"sig_{i}").alias(f"__b{i}") for i in range(N_HASHES)],
            )
            ta = owned.select(
                F.col(id_col).alias("id_a"), F.col("__toks").alias("__ta")
            )
            tb = owned.select(
                F.col(id_col).alias("id_b"), F.col("__toks").alias("__tb")
            )
            matches = sum(
                F.when(F.col(f"__a{i}") == F.col(f"__b{i}"), 1).otherwise(0)
                for i in range(N_HASHES)
            ).cast("long")
            inter = F.size(F.array_intersect(F.col("__ta"), F.col("__tb")))
            union = F.size(F.array_union(F.col("__ta"), F.col("__tb")))
            grid = (
                cands.join(sa, "id_a")
                .join(sb, "id_b")
                .join(ta, "id_a")
                .join(tb, "id_b")
                .select(
                    matches.alias("matches"),
                    inter.cast("long").alias("__i"),
                    union.cast("long").alias("__u"),
                )
                .filter(F.col("__u") > 0)
                .select(
                    "matches",
                    F.expr("(10 * __i) DIV __u").alias("jaccard_decile"),
                )
                .groupBy("matches", "jaccard_decile")
                .agg(F.count(F.lit(1)).alias("n_pairs"))
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            try:
                grid.count()  # materialize while the shingle cache is hot
                from mvrepair import cache as _cache

                _cache.adopt(grid)
            except Exception:
                grid.unpersist()
                raise
        finally:
            owned.unpersist()
    return grid
