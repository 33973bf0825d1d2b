"""Extension-operator tests: dedup (shingle MinHash/SimHash), text
analysis, similarity search, streaming twin.

The oracle harness (tools/check_oracle.py + the driver's t2 gate) covers
engine-vs-DuckDB parity; these tests pin the SEMANTICS — known values,
recall on constructed near-duplicates, and scale invariants (candidate
counts stay near-linear, not quadratic).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from mvrepair.operators import dedup as D
from mvrepair.operators import similarity as S
from mvrepair.operators import text as X


# ---------------------------------------------------------------------------
# shingles
# ---------------------------------------------------------------------------

def test_shingles_basic(spark):
    df = spark.createDataFrame([("a b c d e",)], ["t"])
    [row] = df.select(D.shingles(F.col("t")).alias("s")).collect()
    assert row.s == ["a b c", "b c d", "c d e"]


def test_shingles_short_text_empty(spark):
    df = spark.createDataFrame([("a b",), ("a",)], ["t"])
    rows = df.select(D.shingles(F.col("t")).alias("s")).collect()
    assert all(r.s == [] for r in rows)


def test_shingles_n1_is_tokens(spark):
    df = spark.createDataFrame([("x y z",)], ["t"])
    [row] = df.select(D.shingles(F.col("t"), n=1).alias("s")).collect()
    assert row.s == ["x", "y", "z"]


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def docs(spark):
    # 0/1: exact copies; 2: near-dup of 0 (one token changed);
    # 3: unrelated text
    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox leaps over the lazy dog again and again"),
        (3, "completely different content about spark dataframes and shuffles here"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_identical_docs_identical_sigs(spark, docs):
    sigs = D.minhash_signatures(docs).collect()
    by_id = {r.doc_id: tuple(r[f"sig_{i}"] for i in range(D.N_HASHES)) for r in sigs}
    assert by_id[0] == by_id[1]
    assert by_id[0] != by_id[3]


def test_minhash_candidates_find_dups_not_unrelated(spark, docs):
    pairs = {(r.id_a, r.id_b) for r in D.minhash_candidate_pairs(docs).collect()}
    assert (0, 1) in pairs
    assert (0, 3) not in pairs and (1, 3) not in pairs and (2, 3) not in pairs


def test_ngram_jaccard_pipeline(spark, docs):
    out = {(r.id_a, r.id_b): r.jaccard for r in
           D.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert out[(0, 1)] == 1.0
    for (a, b) in out:
        assert 3 not in (a, b)


def test_exact_dedup_counts(spark, docs):
    out = {r.keep_id: r.n_copies for r in D.exact_dedup(docs).collect()}
    assert out[0] == 2  # docs 0 and 1 identical, keep min id
    assert out[2] == 1 and out[3] == 1


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def test_simhash_width_and_neardup(spark, docs):
    sims = X.simhash(docs, bits=60, units=D.shingles(F.col("text")))
    vals = {r.doc_id: r.simhash for r in sims.collect()}
    assert all(0 <= v < 2**60 for v in vals.values())
    assert vals[0] == vals[1]
    ham02 = bin(vals[0] ^ vals[2]).count("1")
    ham03 = bin(vals[0] ^ vals[3]).count("1")
    assert ham02 < ham03  # near-dup closer than unrelated

    cands = D.simhash_candidate_pairs(
        sims, max_hamming=20, n_bands=4, band_bits=15
    ).collect()
    pairs = {(r.id_a, r.id_b) for r in cands}
    assert (0, 1) in pairs


# ---------------------------------------------------------------------------
# text analysis: token counting + rolling fingerprints
# ---------------------------------------------------------------------------

def test_token_counts_known_values(spark):
    df = spark.createDataFrame([(1, "foo bar99 baz-qux!")], ["doc_id", "text"])
    [r] = X.token_counts(df).collect()
    assert r.n_ws_tokens == 3
    # regex tokens: foo, bar, 99, baz, -, qux, !
    assert r.n_re_tokens == 7
    # ceil(len/4): 1+1+1+1+1+1+1 = 7
    assert r.n_subword_units == 7


def test_rolling_fingerprint_known_value(spark):
    # (0*131+97)*131+98 ... for "abc" = 1677554 (cross-checked in DuckDB)
    df = spark.createDataFrame([(1, "abc")], ["doc_id", "text"])
    [r] = X.rolling_fingerprint(df).collect()
    assert r.fp_roll == 1677554
    assert r.fp_min_kgram is not None  # short doc falls back to whole-doc hash


def test_rolling_fingerprint_min_kgram_edit_robust(spark):
    base = "the quick brown fox jumps over the lazy dog"
    edited = base + "!"  # local edit at the end
    df = spark.createDataFrame([(1, base), (2, edited)], ["doc_id", "text"])
    rows = {r.doc_id: r for r in X.rolling_fingerprint(df).collect()}
    assert rows[1].fp_roll != rows[2].fp_roll  # rolling hash is exact
    assert rows[1].fp_min_kgram == rows[2].fp_min_kgram  # winnowing survives


# ---------------------------------------------------------------------------
# similarity: embedding near-dup
# ---------------------------------------------------------------------------

def test_cosine_neardup_pairs_finds_planted(spark):
    import random

    rng = random.Random(7)
    dim = 16
    vecs = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(20)]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    # plant a near-dup: tiny perturbation of vec 0
    near = [float(x) for x in vecs[0][:]]
    near[3] *= 1.001
    rows.append((100, near))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    out = {(r.id_a, r.id_b): r.cosine_micro for r in
           S.cosine_neardup_pairs(df, dim=dim, threshold=0.99).collect()}
    assert (0, 100) in out
    assert out[(0, 100)] >= 990_000


# ---------------------------------------------------------------------------
# streaming twin
# ---------------------------------------------------------------------------

def test_streaming_events_hourly_equals_batch(spark, sf_dir, tmp_path):
    from mvrepair.sources.parquet import load_stream
    from mvrepair.streaming.incremental import streaming_events_hourly

    sdf = streaming_events_hourly(load_stream(spark, sf_dir, "events"))
    q = (
        sdf.writeStream.format("memory")
        .queryName("t_stream_hourly")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.hour_us, r.event_type): (r.n_events, r.sum_value)
        for r in spark.table("t_stream_hourly").collect()
    }

    from mvrepair.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("hour_us"),
            "event_type", "n_events", "sum_value",
        )
    )
    want = {
        (r.hour_us, r.event_type): (r.n_events, r.sum_value)
        for r in batch.collect()
    }
    assert got == want


def test_streaming_dedup_equals_batch(spark, tmp_path):
    from mvrepair.streaming.stateful import streaming_dedup

    rows = [(1, "aa bb"), (2, "aa bb"), (3, "cc dd"), (4, "ee ff"), (5, "cc dd")]
    src = tmp_path / "docs"
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(str(src))
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    q = (
        streaming_dedup(stream)
        .writeStream.format("memory")
        .queryName("t_stream_dedup")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.text_hash: (r.keep_id, r.n_copies)
        for r in spark.table("t_stream_dedup")
        .groupBy("text_hash")
        .agg(F.min("keep_id").alias("keep_id"), F.max("n_copies").alias("n_copies"))
        .collect()
    }
    want = {
        r.text_hash: (r.keep_id, r.n_copies)
        for r in D.exact_dedup(
            spark.createDataFrame(rows, ["doc_id", "text"])
        ).collect()
    }
    assert got == want


def test_streaming_dedup_state_carries_across_batches(spark, tmp_path):
    """Two microbatches (maxFilesPerTrigger=1): the second batch's output
    must fold the first batch's state (min id, cumulative count)."""
    from mvrepair.streaming.stateful import streaming_dedup

    src = tmp_path / "docs2"
    spark.createDataFrame([(5, "xx yy")], ["doc_id", "text"]).coalesce(1).write.parquet(str(src))
    spark.createDataFrame([(2, "xx yy")], ["doc_id", "text"]).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        streaming_dedup(stream)
        .writeStream.format("memory")
        .queryName("t_stream_dedup2")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = (
        spark.table("t_stream_dedup2")
        .groupBy("text_hash")
        .agg(F.min("keep_id").alias("keep_id"), F.max("n_copies").alias("n_copies"))
        .collect()
    )
    assert len(final) == 1
    assert (final[0].keep_id, final[0].n_copies) == (2, 2)


# ---------------------------------------------------------------------------
# IVF ANN
# ---------------------------------------------------------------------------

def test_ivf_full_probe_equals_brute_force(spark):
    """Probing every centroid searches the whole corpus, so IVF must return
    exactly the brute-force top-k."""
    import random

    rng = random.Random(11)
    dim = 8
    rows = [
        (i, [float(rng.uniform(-1, 1)) for _ in range(dim)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    queries = df.filter(F.col("vec_id") % 10 == 0)
    brute = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine_micro)
        for r in S.cosine_topk(df, queries, k=3).collect()
    }
    ivf = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine_micro)
        for r in S.ivf_topk(
            df, queries, dim=dim, k=3, n_centroids=4, n_probe=4
        ).collect()
    }
    assert ivf == brute


def test_ivf_partial_probe_subset_of_brute_force(spark):
    """With fewer probes, results are a subset of per-query brute-force
    candidates and ranks stay dense from 1."""
    import random

    rng = random.Random(13)
    dim = 8
    rows = [
        (i, [float(rng.uniform(-1, 1)) for _ in range(dim)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    queries = df.filter(F.col("vec_id") == 0)
    out = S.ivf_topk(df, queries, dim=dim, k=5, n_centroids=8, n_probe=2).collect()
    ranks = sorted(r.rank for r in out)
    assert ranks == list(range(1, len(out) + 1))
    assert all(r.neighbor_id != 0 for r in out)


# ---------------------------------------------------------------------------
# multimodal features
# ---------------------------------------------------------------------------

def test_nibble_histogram_known_value(spark):
    from mvrepair.operators.multimodal import attach_binary, nibble_histogram

    df = spark.createDataFrame([(1, "ab")], ["doc_id", "text"])
    row = nibble_histogram(attach_binary(df)).collect()[0]
    # "ab" = 0x61 0x62 → nibbles 6,1,6,2
    want = {f"h{i}": 0 for i in range(16)} | {"h1": 1, "h2": 1, "h6": 2}
    assert {f"h{i}": row[f"h{i}"] for i in range(16)} == want
    assert sum(row[f"h{i}"] for i in range(16)) == 4


def test_image_codec_ops_fail_fast_without_pillow(spark):
    """When Pillow is absent, the real-codec operators must fail at plan
    build on the driver, not per-task on executors."""
    try:
        import PIL  # noqa: F401

        pytest.skip("Pillow installed; see test_image_codec_ops_real_bytes")
    except ImportError:
        pass
    from mvrepair.operators import multimodal as M

    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    blobs = M.attach_binary(df)
    with pytest.raises(NotImplementedError):
        M.decode_image(blobs)
    with pytest.raises(NotImplementedError):
        M.resize_image(blobs)


def test_image_codec_ops_real_bytes(spark):
    """With Pillow present, decode_image/resize_image run real bytes
    through the mapInPandas plumbing (skip-if-absent)."""
    pytest.importorskip("PIL")
    import io

    from PIL import Image

    from mvrepair.operators import multimodal as M

    def png_bytes(w, h, color):
        buf = io.BytesIO()
        Image.new("RGB", (w, h), color).save(buf, format="PNG")
        return buf.getvalue()

    df = spark.createDataFrame(
        [(1, png_bytes(10, 6, (255, 0, 0))), (2, png_bytes(3, 5, (0, 0, 255)))],
        "doc_id long, payload binary",
    )
    got = {r.doc_id: r for r in M.decode_image(df).collect()}
    assert (got[1].width, got[1].height, got[1].channels) == (10, 6, 3)
    assert (got[2].width, got[2].height) == (3, 5)
    assert got[1].format == "PNG"

    resized = {r.doc_id: r for r in M.resize_image(df, width=4, height=4).collect()}
    for r in resized.values():
        with Image.open(io.BytesIO(bytes(r.payload))) as im:
            assert im.size == (4, 4)


# ---------------------------------------------------------------------------
# skew mitigation
# ---------------------------------------------------------------------------

def test_salted_agg_equals_plain_agg(spark):
    from mvrepair.operators.skew import salted_agg

    rows = [("hot", float(i)) for i in range(500)] + [
        (f"k{i}", float(i)) for i in range(50)
    ]
    df = spark.createDataFrame(rows, ["k", "v"])
    got = {
        r.k: (r.n, r.tot, r.mx)
        for r in salted_agg(
            df,
            ["k"],
            {
                "n": (F.count(F.lit(1)), F.sum("n")),
                "tot": (F.sum("v"), F.sum("tot")),
                "mx": (F.max("v"), F.max("mx")),
            },
            salt=8,
        ).collect()
    }
    want = {
        r.k: (r.n, r.tot, r.mx)
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("tot"), F.max("v").alias("mx"))
        .collect()
    }
    assert got == want


def test_salted_join_equals_plain_join(spark):
    from mvrepair.operators.skew import salted_join

    left = spark.createDataFrame(
        [("hot", i) for i in range(300)] + [("cold", 1), ("miss", 2)],
        ["k", "v"],
    )
    right = spark.createDataFrame(
        [("hot", "H"), ("cold", "C"), ("other", "O")], ["k", "name"]
    )
    got = sorted(
        (r.k, r.v, r.name) for r in salted_join(left, right, ["k"], salt=4).collect()
    )
    want = sorted((r.k, r.v, r.name) for r in left.join(right, "k").collect())
    assert got == want
    # left join keeps unmatched left rows exactly once
    got_l = sorted(
        (r.k, r.v, r.name)
        for r in salted_join(left, right, ["k"], salt=4, how="left").collect()
    )
    want_l = sorted(
        (r.k, r.v, r.name) for r in left.join(right, "k", "left").collect()
    )
    assert got_l == want_l


def test_salted_join_rejects_right_preserving(spark):
    from mvrepair.operators.skew import salted_join

    df = spark.createDataFrame([("a", 1)], ["k", "v"])
    with pytest.raises(ValueError):
        salted_join(df, df, ["k"], how="full_outer")


# ---------------------------------------------------------------------------
# bucketed co-located join
# ---------------------------------------------------------------------------

def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    from mvrepair.sources.bucketed import (
        assert_no_shuffle_join,
        bucketed_join,
        write_bucketed,
    )

    base = spark.range(0, 1000).withColumn("v", F.col("id") * 2)
    mv = spark.range(0, 900).withColumn("v", F.col("id") * 2)
    write_bucketed(
        base, "t_bucket_base", ["id"], n_buckets=4, sort_cols=["id"],
        path=str(tmp_path / "base"),
    )
    write_bucketed(
        mv, "t_bucket_mv", ["id"], n_buckets=4, sort_cols=["id"],
        path=str(tmp_path / "mv"),
    )
    # disable broadcast so the planner must pick SMJ — the point is that
    # bucket co-location removes the SMJ's shuffles, not that tiny tables
    # broadcast anyway
    from mvrepair.tuning import conf_scope

    with conf_scope(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        joined = bucketed_join(
            spark, "t_bucket_base", "t_bucket_mv", ["id"], how="inner"
        )
        assert_no_shuffle_join(joined)
        assert joined.count() == 900
    spark.sql("DROP TABLE IF EXISTS t_bucket_base")
    spark.sql("DROP TABLE IF EXISTS t_bucket_mv")


# ---------------------------------------------------------------------------
# deterministic sampling / splits
# ---------------------------------------------------------------------------

def test_hash_split_covers_all_rows_and_is_stable(spark):
    from mvrepair.operators.sampling import hash_split

    df = spark.createDataFrame([(i,) for i in range(500)], ["doc_id"])
    out = hash_split(df)
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == 500
    assert counts["train"] > counts.get("val", 0)
    # repartitioning must not change any assignment
    again = {r.doc_id: r.split for r in hash_split(df.repartition(7)).collect()}
    first = {r.doc_id: r.split for r in out.collect()}
    assert again == first


def test_stratified_sample_deterministic_subset(spark):
    from mvrepair.operators.sampling import stratified_sample

    df = spark.createDataFrame([(i,) for i in range(2000)], ["doc_id"])
    s1 = {r.doc_id for r in stratified_sample(df, fraction=0.1).collect()}
    s2 = {r.doc_id for r in stratified_sample(df.repartition(13), fraction=0.1).collect()}
    assert s1 == s2
    assert 100 < len(s1) < 320  # ~10% of 2000, hash-binomial spread
    s_half = {r.doc_id for r in stratified_sample(df, fraction=0.05).collect()}
    assert s_half <= s1  # threshold nesting: smaller fraction is a subset


def test_split_contamination_finds_cross_split_copies(spark):
    from mvrepair.operators.sampling import hash_split, split_contamination

    base = [(i, f"unique document body number {i}") for i in range(300)]
    # copy every doc under a shifted id — copies land in whatever split
    # their own id hashes to, so some cross the train/eval boundary
    df = spark.createDataFrame(
        base + [(i + 10_000, t) for i, t in base], ["doc_id", "text"]
    )
    out = split_contamination(df).collect()
    assert all(r.split in ("val", "test") for r in out)
    # every flagged doc's text really does exist in train
    splits = {r.doc_id: r.split for r in hash_split(df).collect()}
    texts = dict(df.collect())
    train_texts = {t for i, t in texts.items() if splits[i] == "train"}
    flagged = {r.doc_id for r in out}
    for i, t in texts.items():
        if splits[i] != "train":
            assert (i in flagged) == (t in train_texts)


def test_corpus_profile_totals(spark):
    df = spark.createDataFrame(
        [
            ("en", "s1", "a b c"),
            ("en", "s1", "d e"),
            ("fr", "s2", "x"),
        ],
        ["lang", "source", "text"],
    )
    rows = {(r.lang, r.source): r for r in X.corpus_profile(df).collect()}
    en = rows[("en", "s1")]
    assert (en.n_docs, en.total_tokens, en.total_chars) == (2, 5, 8)
    assert (en.min_chars, en.max_chars) == (3, 5)
    assert en.avg_chars == 4.0
    assert rows[("fr", "s2")].n_docs == 1


# ---------------------------------------------------------------------------
# rate limiting (reference O4: Guava limiter parity)
# ---------------------------------------------------------------------------

def test_token_bucket_rate_with_fake_clock():
    from mvrepair.sources.cassandra import TokenBucket

    t = [0.0]
    slept = []

    def clock():
        return t[0]

    def sleep(s):
        slept.append(s)
        t[0] += s

    tb = TokenBucket(rate=5, clock=clock, sleep=sleep)
    # burst capacity = rate: first 5 permits are free
    for _ in range(5):
        assert tb.acquire() == 0.0
    # 6th permit must wait 1/5 s
    w = tb.acquire()
    assert abs(w - 0.2) < 1e-9
    # after 1 simulated second the bucket refills to full burst
    t[0] += 1.0
    assert tb.acquire() == 0.0


def test_token_bucket_rejects_nonpositive_rate():
    from mvrepair.sources.cassandra import TokenBucket

    with pytest.raises(ValueError):
        TokenBucket(rate=0)


def test_cassandra_executor_unavailable_without_driver(spark):
    from mvrepair.config import SyncSettings
    from mvrepair.sources.cassandra import _get_session

    with pytest.raises(NotImplementedError):
        _get_session(SyncSettings({}))


# ---------------------------------------------------------------------------
# text scrubbing
# ---------------------------------------------------------------------------

def test_scrub_text_known_values(spark):
    rows = [
        (1, "contact bob@x.org or see https://a.b/c now"),
        (2, "id 1234567 and 42"),
        (3, "clean"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in X.scrub_text(df).collect()}
    assert out[1].clean_text == "contact <EMAIL> or see <URL> now"
    assert (out[1].n_email, out[1].n_url) == (1, 1)
    assert out[2].clean_text == "id <NUM> and 42"
    assert out[2].n_longnum == 1
    assert out[3].clean_text == "clean"
    assert (out[3].n_email, out[3].n_url, out[3].n_longnum) == (0, 0, 0)


# ---------------------------------------------------------------------------
# temporal: as-of join + sessionization
# ---------------------------------------------------------------------------

def _ts(s):
    from datetime import datetime

    return datetime.fromisoformat(s)


def test_asof_join_backward_inclusive_and_nulls(spark):
    from mvrepair.operators.temporal import asof_join

    left = spark.createDataFrame(
        [
            (1, 10, _ts("2024-01-01 00:10:00")),  # matches r2 (latest <=)
            (2, 10, _ts("2024-01-01 00:02:00")),  # equal-ts match (inclusive)
            (3, 20, _ts("2024-01-01 00:01:00")),  # no right row for key 20
            (4, 30, _ts("2024-01-01 00:00:30")),  # before any right row
        ],
        ["event_id", "user_id", "ts"],
    )
    right = spark.createDataFrame(
        [
            (100, 10, _ts("2024-01-01 00:02:00"), "click"),
            (101, 10, _ts("2024-01-01 00:05:00"), "view"),
            (102, 30, _ts("2024-01-01 00:01:00"), "click"),
        ],
        ["event_id", "user_id", "ts", "event_type"],
    )
    out = {
        r.event_id: r
        for r in asof_join(
            left, right, ["user_id"], "ts", ["event_id", "event_type"], "event_id"
        ).collect()
    }
    assert out[1].asof_event_id == 101
    assert out[2].asof_event_id == 100  # ts == right ts: inclusive
    assert out[3].asof_event_id is None
    assert out[4].asof_event_id is None  # right row is later, not matched


def test_asof_join_tie_on_equal_right_ts_is_deterministic(spark):
    from mvrepair.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 5, _ts("2024-01-01 01:00:00"))], ["event_id", "user_id", "ts"]
    )
    right = spark.createDataFrame(
        [
            (7, 5, _ts("2024-01-01 00:30:00"), "a"),
            (9, 5, _ts("2024-01-01 00:30:00"), "b"),
            (8, 5, _ts("2024-01-01 00:30:00"), "c"),
        ],
        ["event_id", "user_id", "ts", "event_type"],
    )
    [row] = asof_join(
        left, right, ["user_id"], "ts", ["event_id", "event_type"], "event_id"
    ).collect()
    assert row.asof_event_id == 9  # greatest tiebreak wins


def test_sessionize_gap_boundary(spark):
    from mvrepair.operators.temporal import sessionize

    # Spark merges at gap == window (inclusive boundary): 30:00 exactly
    # extends the session; 30:00.000001 starts a new one.
    df = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 00:00:00"), 1.0),
            (1, _ts("2024-01-01 00:30:00"), 2.0),  # exact gap → same session
            (1, _ts("2024-01-01 01:00:00.000001"), 4.0),  # 1 µs over → new
            (2, _ts("2024-01-01 00:00:00"), 8.0),
        ],
        ["user_id", "ts", "value"],
    )
    rows = sessionize(df, "user_id", "ts", "30 minutes", "value").collect()
    by_key = sorted(
        [(r.user_id, r.n_events, r.total_value) for r in rows]
    )
    assert by_key == [(1, 1, 4.0), (1, 2, 3.0), (2, 1, 8.0)]
    s1 = min(
        (r for r in rows if r.user_id == 1), key=lambda r: r.session_start_us
    )
    # end = last event + gap
    assert s1.session_end_us - s1.session_start_us == (30 * 60 + 1800) * 1_000_000


def test_minhash_bucket_cap_drops_degenerate_bucket(spark):
    from mvrepair.operators import dedup as D

    # 4 identical docs share every band bucket (bucket size 4); two other
    # docs are unrelated.  Cap at 3 → degenerate bucket dropped, no pairs.
    rows = [(i, "aa bb cc dd ee") for i in range(4)]
    rows += [(10, "xx yy zz ww vv"), (11, "one two three four five")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = D.minhash_candidate_pairs(df)
    assert uncapped.count() == 6  # C(4,2) all-identical pairs
    capped = D.minhash_candidate_pairs(df, max_bucket=3)
    assert capped.count() == 0


def test_simhash_bucket_cap(spark):
    from mvrepair.operators import dedup as D
    from mvrepair.operators.text import simhash

    rows = [(i, "aa bb cc dd ee") for i in range(4)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sims = simhash(df)
    assert D.simhash_candidate_pairs(sims).count() == 6
    assert D.simhash_candidate_pairs(sims, max_bucket=3).count() == 0


def test_minhash_sig_array_empty_doc_is_null(spark):
    from pyspark.sql import functions as F
    from mvrepair.operators import dedup as D

    # A doc with fewer tokens than the shingle width has an empty shingle
    # set: BOTH signature paths must yield NULLs (list_min([]) semantics),
    # not the MINHASH_P init sentinel.
    df = spark.createDataFrame([(1, "ab"), (2, "aa bb cc dd")], ["doc_id", "text"])
    arr = df.select(
        "doc_id", D.minhash_sig_array("text").alias("sig")
    ).collect()
    by_id = {r.doc_id: r.sig for r in arr}
    assert all(v is None for v in by_id[1])
    assert all(v is not None for v in by_id[2])
    grp = D.minhash_signatures(df).filter(F.col("doc_id") == 1).collect()[0]
    assert all(grp[f"sig_{i}"] is None for i in range(D.N_HASHES))
    # and the two paths agree on the non-empty doc
    grp2 = D.minhash_signatures(df).filter(F.col("doc_id") == 2).collect()[0]
    assert by_id[2] == [grp2[f"sig_{i}"] for i in range(D.N_HASHES)]


def test_salted_agg_key_only_frame(spark):
    from pyspark.sql import functions as F
    from mvrepair.operators.skew import salted_agg

    df = spark.createDataFrame([(1,), (1,), (2,)], ["k"])
    rows = salted_agg(
        df, ["k"], {"n": (F.count(F.lit(1)), F.sum("n"))}
    ).collect()
    assert sorted((r.k, r.n) for r in rows) == [(1, 2), (2, 1)]


def test_simhash_overflow_guard_raises(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F
    from mvrepair.operators.text import simhash

    big = " ".join(f"t{i}" for i in range(33000))
    df = spark.createDataFrame([(1, big)], ["doc_id", "text"])
    with _pytest.raises(Exception, match="32767"):
        simhash(df, units=F.split(F.col("text"), " ")).collect()


def test_frame_sample_vectorized_fanout(spark):
    from pyspark.sql import functions as F
    from mvrepair.operators.multimodal import attach_binary, frame_sample

    df = spark.createDataFrame(
        [(1, "x" * 130), (2, "y" * 64), (3, "z")], ["doc_id", "text"]
    )
    rows = frame_sample(attach_binary(df)).collect()
    got = sorted((r.doc_id, r.frame_idx, r.frame_bytes) for r in rows)
    assert got == [
        (1, 0, 64), (1, 1, 64), (1, 2, 2),
        (2, 0, 64),
        (3, 0, 1),
    ]


def test_multimodal_custom_id_col(spark):
    from mvrepair.operators.multimodal import (
        attach_binary, extract_metadata, nibble_histogram,
    )

    df = spark.createDataFrame([(7, "ab")], ["item_id", "text"])
    payload = attach_binary(df)
    meta = extract_metadata(payload, id_col="item_id")
    assert meta.columns[0] == "item_id"
    assert meta.collect()[0].item_id == 7
    hist = nibble_histogram(payload, id_col="item_id")
    assert hist.columns[0] == "item_id"
    assert hist.collect()[0].item_id == 7


def test_ngram_jaccard_pairs_releases_shingle_cache(spark):
    """Cache lifecycle: the corpus-sized shingle cache must not outlive the
    operator; the only surviving cache is the returned (small) pair frame,
    whose handle the caller owns and can release.

    Uses a corpus distinct from every other test's: Spark's CacheManager
    dedupes same-plan persists, so reusing the shared ``docs`` fixture
    would alias an earlier test's cached pair frame."""
    from mvrepair.operators import dedup as D

    def persisted() -> set:
        # by RDD id: earlier tests' local checkpoints leave this map
        # whenever a GC lets the ContextCleaner drop them
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    rows = [
        (0, "unique cache lifecycle corpus row one two three four five"),
        (1, "unique cache lifecycle corpus row one two three four five"),
        (2, "totally unrelated text about executors and block managers"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    base = persisted()
    out = D.ngram_jaccard_pairs(docs, threshold=0.5)
    assert out.count() > 0
    # exactly one new cached frame: the returned pairs, never the shingles
    assert len(persisted() - base) == 1
    out.unpersist(blocking=True)
    assert not persisted() - base


def test_ngram_jaccard_pairs_caller_owned_toks_not_persisted(spark, docs):
    """With caller-owned shingles nothing is persisted internally and the
    result stays lazy (the caller manages its own cache)."""
    from mvrepair.operators import dedup as D

    def persisted() -> set:
        # by RDD id, as in test_ngram_jaccard_pairs_releases_shingle_cache
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    base = persisted()
    toks = D.shingle_tokens(docs)
    out = D.ngram_jaccard_pairs(docs, threshold=0.5, toks=toks)
    assert not persisted() - base  # nothing cached before any action
    assert out.count() > 0
    assert not persisted() - base


def test_ngram_jaccard_capped_drops_triplet_buckets(spark):
    """max_bucket drops pair-PRODUCING buckets, not just degenerate ones:
    a triplet near-dup group (bucket size 3) vanishes under cap 2 while
    pair groups survive — the semantics the neardup_minhash_capped oracle
    query hash-checks at scale."""
    from mvrepair.operators import dedup as D

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (0, base), (1, base), (2, base),          # triplet group
        (10, "spark shuffles partition data across the cluster every stage"),
        (11, "spark shuffles partition data across the cluster every single stage"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = {(r.id_a, r.id_b) for r in
                D.ngram_jaccard_pairs(df, threshold=0.5).collect()}
    assert {(0, 1), (0, 2), (1, 2), (10, 11)} <= uncapped
    capped_df = D.ngram_jaccard_pairs(df, threshold=0.5, max_bucket=2)
    capped = {(r.id_a, r.id_b) for r in capped_df.collect()}
    assert capped == {(10, 11)}
    capped_df.unpersist()


def test_multimodal_empty_input_no_crash(spark):
    """Empty relations (and therefore empty Arrow batches) flow through the
    mapInPandas operators without the shape-(1,)-vs-(0,) broadcast crash the
    per-row prefix-sum formulation had."""
    from mvrepair.operators.multimodal import (
        attach_binary, extract_metadata, frame_sample, nibble_histogram,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    payload = attach_binary(empty)
    assert frame_sample(payload).count() == 0
    assert nibble_histogram(payload).count() == 0
    assert extract_metadata(payload).count() == 0


def test_train_kmeans_recovers_separated_clusters(spark):
    """Lloyd's iterations move the (deliberately bad) lowest-id init onto
    well-separated clusters: every member lands with its own group and the
    two centroids converge to the per-cluster means."""
    from mvrepair.operators.similarity import kmeans_assign, train_kmeans

    # two orthogonal bundles of 4 vectors each; ids interleaved so the
    # k=2 lowest-id init starts with BOTH centroids near cluster A's axis
    rows = [
        (0, [1.0, 0.02, 0.0, 0.0]),
        (1, [1.0, -0.02, 0.0, 0.0]),
        (2, [0.98, 0.01, 0.0, 0.0]),
        (3, [1.02, 0.0, 0.0, 0.0]),
        (10, [0.0, 0.0, 1.0, 0.03]),
        (11, [0.0, 0.0, 0.97, 0.0]),
        (12, [0.0, 0.0, 1.01, -0.02]),
        (13, [0.0, 0.0, 1.0, 0.01]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = train_kmeans(df, k=2, iters=4)
    assert len(cents) == 2 and all(len(c) == 4 for c in cents)
    got = {
        r.vec_id: r.cluster
        for r in kmeans_assign(df, cents).collect()
    }
    a = {got[i] for i in (0, 1, 2, 3)}
    b = {got[i] for i in (10, 11, 12, 13)}
    assert len(a) == 1 and len(b) == 1 and a != b
    # converged centroids point along each bundle's axis (micro-units)
    by_axis = sorted(cents, key=lambda c: -c[0])
    assert by_axis[0][0] > 900_000 and abs(by_axis[0][2]) < 50_000
    assert by_axis[1][2] > 900_000 and abs(by_axis[1][0]) < 50_000


def test_train_kmeans_empty_cluster_keeps_centroid(spark):
    """A centroid that attracts no vectors keeps its previous position
    instead of collapsing to zeros (the empty-cluster rule the oracle twin
    replays)."""
    from mvrepair.operators.similarity import train_kmeans

    # k=3 but only two real directions: one init centroid ends up empty
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.99, 0.01]),
        (2, [0.0, 1.0]),
        (3, [0.01, 0.99]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = train_kmeans(df, k=3, iters=3)
    assert len(cents) == 3
    assert all(any(x != 0 for x in c) for c in cents)


def test_exact_mean_floor_past_2_53():
    """The centroid-update fold stays exact past 2^53, where the old
    ``math.floor(float(s)/float(n))`` path silently rounds (a 10B-row
    cluster at micro-unit scale reaches such sums)."""
    import math

    from mvrepair.operators.similarity import _exact_mean_floor

    s, n = 2**60 + 3, 2
    assert _exact_mean_floor(s, n) == 2**59 + 1
    # the float path demonstrably loses the +1 at this magnitude
    assert int(math.floor(float(s) / float(n))) == 2**59
    # below 2^53 the two paths agree bit-for-bit (oracle hash unchanged),
    # including the negative-sum flooring direction
    for s, n in [(7, 2), (-7, 2), (10**15 + 7, 3), (-(10**15) - 7, 3), (0, 5)]:
        assert _exact_mean_floor(s, n) == int(math.floor(s / n))


def test_ivf_topk_accepts_trained_centroids(spark):
    """The train_kmeans artifact plugs into ivf_topk as its centroid set —
    the full IVF build→probe story — and returns ranked neighbors."""
    from mvrepair.operators.similarity import ivf_topk, train_kmeans

    import random
    rng = random.Random(7)
    rows = []
    for i in range(60):
        axis = i % 3
        v = [rng.uniform(-0.05, 0.05) for _ in range(8)]
        v[axis] += 1.0
        rows.append((i, v))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = train_kmeans(df, k=3, iters=3)
    out = ivf_topk(
        df, df.filter("vec_id < 3"), dim=8, k=5, n_probe=1, centroids=cents
    ).collect()
    assert {r.query_id for r in out} == {0, 1, 2}
    # with one probe per query, every neighbor shares the query's axis
    # cluster (cosine to an on-axis neighbor ≈ 1, cross-axis ≈ 0)
    assert all(r.cosine_micro > 900_000 for r in out)
    assert all(r.neighbor_id % 3 == r.query_id % 3 for r in out)


# ---------------------------------------------------------------------------
# BM25 top-k ranking
# ---------------------------------------------------------------------------

def _bm25_expected(corpus, terms, k1=1.2, b=0.75):
    """Reference BM25 in plain Python, floor-quantized the way
    text.bm25_rank defines its exact int64 score: idf is the EXACT
    py_micro_log2 integer (no libm), the tf normalization the same
    correctly-rounded float chain."""
    import math

    from mvrepair.functions.exactlog import py_micro_log2

    docs = {i: t.split(" ") for i, t in corpus}
    n = len(docs)
    avgdl = sum(len(v) for v in docs.values()) / n
    dfreq = {t: sum(1 for v in docs.values() if t in v) for t in terms}
    scores = {}
    for i, toks in docs.items():
        s = 0
        for t in terms:
            cnt = toks.count(t)
            if not cnt or not dfreq[t]:
                continue
            idf = py_micro_log2((n - dfreq[t] + 0.5) / (dfreq[t] + 0.5) + 1)
            s += math.floor(
                idf * (cnt * (k1 + 1) / (cnt + k1 * (1 - b + b * len(toks) / avgdl)))
            )
        if s:
            scores[i] = s
    return scores


@pytest.fixture(scope="module")
def bm25_corpus(spark):
    rows = [
        (0, "spark shuffles data between stages during a join"),
        (1, "a join is a join is a join"),
        (2, "filters prune partitions before the scan even starts"),
        (3, "spark spark spark everywhere and also one join"),
        (4, "nothing relevant in this one at all"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"]), rows


def test_bm25_rank_matches_reference_math(spark, bm25_corpus):
    df, rows = bm25_corpus
    terms = ["spark", "join"]
    got = {r.doc_id: r.score_micro for r in X.bm25_rank(df, terms, k=10).collect()}
    assert got == _bm25_expected(rows, terms)


def test_bm25_rank_order_and_tiebreak(spark, bm25_corpus):
    df, rows = bm25_corpus
    out = X.bm25_rank(df, ["join"], k=10).collect()
    scores = [r.score_micro for r in out]
    assert scores == sorted(scores, reverse=True)
    exp = _bm25_expected(rows, ["join"])
    assert [r.doc_id for r in out] == sorted(
        exp, key=lambda i: (-exp[i], i)
    )


def test_bm25_rank_empty_terms_returns_empty(spark, bm25_corpus):
    df, _ = bm25_corpus
    out = X.bm25_rank(df, [], k=10)
    assert out.columns == ["doc_id", "score_micro"]
    assert out.count() == 0


def test_bm25_rank_no_matching_terms_returns_empty(spark, bm25_corpus):
    df, _ = bm25_corpus
    assert X.bm25_rank(df, ["zzzzz"], k=10).count() == 0


def test_bm25_rank_quoted_term_is_escaped(spark):
    df = spark.createDataFrame(
        [(0, "o'brien wrote code"), (1, "someone else wrote prose")],
        ["doc_id", "text"],
    )
    out = X.bm25_rank(df, ["o'brien"], k=5).collect()
    assert [r.doc_id for r in out] == [0]


def test_bm25_rank_rejects_control_chars(spark, bm25_corpus):
    df, _ = bm25_corpus
    with pytest.raises(ValueError, match="control chars"):
        X.bm25_rank(df, ["a\nb"], k=5)


def test_bm25_rank_empty_corpus(spark):
    df = spark.createDataFrame([], "doc_id long, text string")
    assert X.bm25_rank(df, ["spark"], k=5).count() == 0


# ---------------------------------------------------------------------------
# heavy hitters / tf-idf / quantiles / range-join context (round-4 surface)
# ---------------------------------------------------------------------------


def test_heavy_hitters_counts_and_cut(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a c"),
            (2, "a b"),
            (3, "c c c"),
        ],
        ["doc_id", "text"],
    )
    rows = X.heavy_hitters(df, k=2).collect()
    # totals: a=3 (2 docs), c=4 (2 docs), b=2 (2 docs); top-2 = c, a
    assert [(r["token"], r["n"], r["n_docs"]) for r in rows] == [
        ("c", 4, 2),
        ("a", 3, 2),
    ]


def test_heavy_hitters_tie_breaks_by_token(spark):
    df = spark.createDataFrame([(1, "b a"), (2, "a b")], ["doc_id", "text"])
    rows = X.heavy_hitters(df, k=1).collect()
    assert rows[0]["token"] == "a"  # equal counts -> lexicographic


def test_tfidf_topterms_linear_idf_math(spark):
    # 2 docs; 'x' only in doc 1 (df=1), 'y' in both (df=2)
    df = spark.createDataFrame(
        [(1, "x y y"), (2, "y y y")], ["doc_id", "text"]
    )
    out = {
        (r["doc_id"], r["term"]): (r["tf"], r["score_micro"], r["rank"])
        for r in X.tfidf_topterms(df, top_n=2).collect()
    }
    # doc1/x: tf=1, score = 1*2*1e6 // 1 = 2_000_000 -> rank 1 (rare wins)
    # doc1/y: tf=2, score = 2*2*1e6 // 2 = 2_000_000 -> tie, 'x' < 'y'
    assert out[(1, "x")] == (1, 2_000_000, 1)
    assert out[(1, "y")] == (2, 2_000_000, 2)
    # doc2/y: tf=3, score = 3*2*1e6 // 2 = 3_000_000
    assert out[(2, "y")] == (3, 3_000_000, 1)


def test_token_quantiles_discrete_positions(spark):
    # one group of 4 docs with token counts 1,2,3,10:
    # p25 -> pos ceil(1)=1 -> 1; p50 -> pos 2 -> 2; p75 -> pos 3 -> 3;
    # p90 -> pos ceil(3.6)=4 -> 10
    rows = [(i, "en", " ".join(["t"] * n)) for i, n in enumerate([1, 2, 3, 10])]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = {
        (r["lang"], r["pct"]): r["n_tokens"]
        for r in X.token_quantiles(df).collect()
    }
    assert out == {
        ("en", "p25"): 1,
        ("en", "p50"): 2,
        ("en", "p75"): 3,
        ("en", "p90"): 10,
    }


def test_range_join_window_bounds(spark):
    """range_join pairs each point with intervals of the same key only
    when the point falls inside [start, end] — across bin boundaries."""
    from datetime import datetime

    from mvrepair.operators import temporal as T

    def ts(minute, second=0, micro=0):
        return datetime(2024, 1, 1, 12, minute, second, micro)

    points = spark.createDataFrame(
        [
            (1, "u", ts(0)),           # exactly at start -> in
            (2, "u", ts(59, 59)),      # just inside end -> in
            (3, "u", ts(59, 59, 1)),   # 1 us past end -> out
            (4, "v", ts(30)),          # wrong key -> out
        ],
        ["point_id", "key", "ts"],
    )
    intervals = spark.createDataFrame(
        [(10, "u", ts(0), ts(59, 59))], ["iv_id", "key", "w_start", "w_end"]
    )
    got = sorted(
        r["point_id"]
        for r in T.range_join(
            points, intervals, ["key"], "ts", "w_start", "w_end"
        ).collect()
    )
    assert got == [1, 2]


def test_streaming_latest_per_key_equals_batch(spark, tmp_path):
    """Drained keep-newest stream state equals the batch window answer,
    including the tiebreak on duplicate timestamps."""
    from datetime import datetime

    from mvrepair.streaming.incremental import streaming_latest_per_key

    def ts(m):
        return datetime(2024, 1, 1, 12, m)

    rows = [
        (1, ts(0), 7, "click", 1.0),
        (2, ts(5), 7, "click", 2.0),   # newest for (7, click)
        (3, ts(5), 7, "view", 3.0),
        (4, ts(5), 7, "view", 4.0),    # same ts -> higher event_id wins
        (5, ts(1), 8, "click", 5.0),
    ]
    src = tmp_path / "events"
    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    spark.createDataFrame(rows, cols).write.parquet(str(src))
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).parquet(str(src))
    q = (
        streaming_latest_per_key(stream)
        .writeStream.format("memory")
        .queryName("t_stream_latest")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.event_type): (r.event_id, r.value)
        for r in spark.table("t_stream_latest").collect()
    }
    assert got == {
        (7, "click"): (2, 2.0),
        (7, "view"): (4, 4.0),
        (8, "click"): (5, 5.0),
    }


def test_asof_join_forward_direction(spark):
    """Forward as-of: smallest right ts >= left ts, inclusive at equality,
    null when every right row is earlier."""
    from mvrepair.operators.temporal import asof_join

    left = spark.createDataFrame(
        [
            (1, 10, _ts("2024-01-01 00:01:00")),  # next is r100 at 00:02
            (2, 10, _ts("2024-01-01 00:02:00")),  # equal ts -> inclusive
            (3, 10, _ts("2024-01-01 00:06:00")),  # after all rights -> null
            (4, 20, _ts("2024-01-01 00:01:00")),  # no rights for key
        ],
        ["event_id", "user_id", "ts"],
    )
    right = spark.createDataFrame(
        [
            (100, 10, _ts("2024-01-01 00:02:00"), "click"),
            (101, 10, _ts("2024-01-01 00:05:00"), "view"),
        ],
        ["event_id", "user_id", "ts", "event_type"],
    )
    out = {
        r.event_id: r
        for r in asof_join(
            left, right, ["user_id"], "ts", ["event_id", "event_type"],
            "event_id", direction="forward",
        ).collect()
    }
    assert out[1].asof_event_id == 100
    assert out[2].asof_event_id == 100
    assert out[3].asof_event_id is None
    assert out[4].asof_event_id is None


def test_asof_join_rejects_bad_direction(spark):
    from mvrepair.operators.temporal import asof_join

    left = spark.createDataFrame([(1, 1, _ts("2024-01-01 00:00:00"))],
                                 ["event_id", "user_id", "ts"])
    with pytest.raises(ValueError, match="backward|forward"):
        asof_join(left, left, ["user_id"], "ts", ["event_id"],
                  direction="sideways")


def test_kmv_distinct_exact_and_estimator_branches(spark):
    import hashlib

    from mvrepair.operators.sketch import kmv_distinct

    def h(s):
        return int(hashlib.md5(str(s).encode()).hexdigest()[:15], 16)

    vals = [f"value-{i}" for i in range(40)]
    rows = [(v,) for v in vals] * 3  # duplicates must not affect the sketch
    df = spark.createDataFrame(rows, ["text"])

    # exact branch: fewer distincts than k
    [r] = kmv_distinct(df, "text", k=64).collect()
    assert (r["k"], r["n_seen"]) == (64, 40)
    assert r["est_distinct"] == 40.0

    # estimator branch: k=8 << 40 distincts; matches the python model
    [r] = kmv_distinct(df, "text", k=8).collect()
    kth = sorted(h(v) for v in vals)[7]
    assert r["kth_min"] == kth
    assert r["est_distinct"] == 7.0 * float(2**60) / float(kth)
    # sanity: the estimate is in the right ballpark
    assert 10 < r["est_distinct"] < 200


def test_kmv_rejects_tiny_k(spark):
    from mvrepair.operators.sketch import kmv_distinct

    df = spark.createDataFrame([("a",)], ["text"])
    with pytest.raises(ValueError):
        kmv_distinct(df, "text", k=2)


def test_decode_fake_matches_python_model(spark):
    from mvrepair.operators.multimodal import (
        _fake_grid_dims,
        attach_binary,
        decode_fake,
    )

    texts = ["hello world", "x", "", "a" * 17]  # 17 -> 5x4 grid (ceil sqrt)
    df = attach_binary(
        spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    )
    got = {r.doc_id: r for r in decode_fake(df).collect()}
    for i, t in enumerate(texts):
        payload = t.encode()
        h, w = _fake_grid_dims(len(payload))
        r = got[i]
        assert (r.height, r.width, r.channels) == (h, w, 1)
        assert r.sum_pixels == sum(payload)
    assert (got[2].height, got[2].width, got[2].sum_pixels) == (0, 0, 0)
    assert (got[3].height, got[3].width) == (4, 5)  # ceil(17/5)=4 rows


def test_resize_fake_nearest_neighbor_model(spark):
    import numpy as np

    from mvrepair.operators.multimodal import (
        _fake_grid_dims,
        attach_binary,
        resize_fake,
    )

    texts = ["the quick brown fox jumps over the lazy dog", "", "ab"]
    df = attach_binary(
        spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    )
    got = {r.doc_id: r for r in resize_fake(df, out_h=3, out_w=4).collect()}
    for i, t in enumerate(texts):
        payload = t.encode()
        h, w = _fake_grid_dims(len(payload))
        r = got[i]
        if h == 0:
            assert (r.out_h, r.out_w, r.checksum) == (0, 0, 0)
            continue
        grid = np.zeros(h * w, dtype=np.int64)
        grid[: len(payload)] = np.frombuffer(payload, dtype=np.uint8)
        grid = grid.reshape(h, w)
        want = sum(
            int(grid[(rr * h) // 3][(cc * w) // 4])
            for rr in range(3)
            for cc in range(4)
        )
        assert (r.out_h, r.out_w, r.checksum) == (3, 4, want)


def test_fake_grid_dims_exact_any_size():
    from mvrepair.operators.multimodal import _fake_grid_dims

    for n in [0, 1, 2, 3, 4, 5, 15, 16, 17, 99, 100, 101, 10**6, 10**6 + 1]:
        h, w = _fake_grid_dims(n)
        if n == 0:
            assert (h, w) == (0, 0)
        else:
            assert h * w >= n, (n, h, w)  # grid covers the payload
            assert (h - 1) * w < n, (n, h, w)  # no wasted full row
            assert w * w >= n and (w - 1) * (w - 1) < n  # w = ceil(sqrt(n))


def test_sessionize_runs_under_streaming_and_matches_batch(spark, tmp_path):
    """The identical sessionize() code runs under Structured Streaming
    (SURVEY §2 claim): complete mode on a drained stream emits the same
    final sessions a batch run computes (session windows reject update
    mode; append would additionally need the watermark to pass the last
    session's end)."""
    from datetime import datetime

    from mvrepair.operators.temporal import sessionize

    def ts(h, m):
        return datetime(2024, 1, 1, h, m)

    rows = [
        (1, 7, ts(10, 0), 1.0),
        (2, 7, ts(10, 10), 1.0),   # same session (gap 30m)
        (3, 7, ts(12, 0), 1.0),    # new session
        (4, 8, ts(10, 5), 1.0),
    ]
    cols = ["event_id", "user_id", "ts", "value"]
    src = tmp_path / "events"
    spark.createDataFrame(rows, cols).write.parquet(str(src))

    batch = {
        (r.user_id, r.session_start_us): (r.session_end_us, r.n_events)
        for r in sessionize(
            spark.createDataFrame(rows, cols), "user_id", "ts"
        ).collect()
    }

    stream = spark.readStream.schema(
        "event_id long, user_id long, ts timestamp, value double"
    ).parquet(str(src))
    q = (
        sessionize(stream.withWatermark("ts", "0 seconds"), "user_id", "ts")
        .writeStream.format("memory")
        .queryName("t_stream_sessions")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start_us): (r.session_end_us, r.n_events)
        for r in spark.table("t_stream_sessions").collect()
    }
    assert got == batch
    assert len(got) == 3


def test_interval_overlap_join_semantics(spark):
    """Half-open overlap, exact-once across bin boundaries (meet rule),
    empty intervals never match, keys partition the match space."""
    from mvrepair.operators.temporal import interval_overlap_join

    H = 3_600_000_000  # 1h in us (the bin width)
    left = spark.createDataFrame(
        [
            # spans 3 bins: [0.5h, 2.5h)
            ("a", 1, H // 2, H * 5 // 2),
            # touching end-to-start: [3h, 4h) vs right [4h, 5h) -> no match
            ("a", 2, 3 * H, 4 * H),
            # empty interval at 9h
            ("a", 3, 9 * H, 9 * H),
            # wrong key
            ("b", 4, H // 2, H * 5 // 2),
        ],
        ["k", "l_id", "l_start_us", "l_end_us"],
    )
    right = spark.createDataFrame(
        [
            ("a", 10, 0, 3 * H),      # covers bins 0-2: overlaps l1 fully
            ("a", 11, 4 * H, 5 * H),  # adjacent to l2 (half-open: no match)
            ("a", 12, 9 * H, 10 * H), # would contain l3 if non-empty
        ],
        ["k", "r_id", "r_start_us", "r_end_us"],
    )
    rows = interval_overlap_join(
        left, right, ["k"], "l_start_us", "l_end_us", "r_start_us", "r_end_us"
    ).collect()
    # exactly ONE row despite l1/r10 sharing three bins
    assert [(r.l_id, r.r_id, r.overlap_us) for r in rows] == [(1, 10, 2 * H)]


def test_interval_overlap_join_no_keys_is_time_partitioned(spark):
    """key_cols=[] joins on the bin alone — cross-key overlaps match and
    the plan stays an equi-join on the bin, not a nested loop."""
    from mvrepair.operators.temporal import interval_overlap_join

    H = 3_600_000_000
    left = spark.createDataFrame(
        [(1, 0, 2 * H)], ["l_id", "l_start_us", "l_end_us"]
    )
    right = spark.createDataFrame(
        [(20, H, 3 * H), (21, 5 * H, 6 * H)],
        ["r_id", "r_start_us", "r_end_us"],
    )
    out = interval_overlap_join(
        left, right, [], "l_start_us", "l_end_us", "r_start_us", "r_end_us"
    )
    assert [(r.l_id, r.r_id, r.overlap_us) for r in out.collect()] == [
        (1, 20, H)
    ]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan


def test_connected_components_chain_and_singletons(spark):
    """A transitively-linked chain collapses to one cluster (min id label)
    even though no single pair spans it; untouched nodes label themselves."""
    pairs = spark.createDataFrame(
        [(5, 3), (3, 9), (9, 7), (20, 21)], ["id_a", "id_b"]
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [3, 5, 7, 9, 20, 21, 42]], ["doc_id"]
    )
    out = D.connected_components(pairs, nodes)
    try:
        got = {r.doc_id: r.cluster_id for r in out.collect()}
    finally:
        out.unpersist()
    assert got == {3: 3, 5: 3, 7: 3, 9: 3, 20: 20, 21: 20, 42: 42}


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir= switches rounds to RELIABLE checkpoints: same
    fixpoint labels, blocks land under the dir, and only the final
    round's files survive (superseded rounds are deleted as the loop
    advances — Spark itself only cleans at context shutdown)."""
    import os

    ckpt = str(tmp_path / "cc_ckpt")
    # chain 0-1-2-3-4 needs several rounds, so the eager per-round
    # cleanup actually has superseded rounds to delete
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], ["id_a", "id_b"]
    )
    nodes = spark.createDataFrame([(i,) for i in range(5)], ["doc_id"])
    out = D.connected_components(pairs, nodes, checkpoint_dir=ckpt)
    try:
        got = {r.doc_id: r.cluster_id for r in out.collect()}
    finally:
        out.unpersist()
    assert got == {i: 0 for i in range(5)}
    # blocks landed: dir/<uuid>/rdd-<id>/part-*
    rdd_dirs = [
        os.path.join(root, d)
        for root, dirs, _ in os.walk(ckpt)
        for d in dirs
        if d.startswith("rdd-")
    ]
    assert len(rdd_dirs) == 1, (
        f"expected exactly the final round's checkpoint to survive, "
        f"found {rdd_dirs}"
    )
    assert any(
        f.startswith("part-") for f in os.listdir(rdd_dirs[0])
    ), "checkpoint dir has no partition files"


def test_connected_components_raises_on_non_convergence(spark):
    """A max_iters smaller than the component diameter must fail loudly —
    a non-fixpoint labeling would be silently wrong."""
    # path 9-8-7-6-5-4-3-2-1-0: min label needs ~9 rounds to reach node 9
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["id_a", "id_b"]
    )
    nodes = spark.createDataFrame([(i,) for i in range(10)], ["doc_id"])
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(pairs, nodes, max_iters=2)
    out = D.connected_components(pairs, nodes, max_iters=20)
    try:
        assert {r.cluster_id for r in out.collect()} == {0}
    finally:
        out.unpersist()


def test_streaming_neardup_matches_batch_cross_pairs(spark, tmp_path):
    """Drained stream-vs-static near-dup equals the batch pair set
    restricted to (static, streamed) cross pairs."""
    from mvrepair.streaming.incremental import streaming_neardup_against_static

    static_rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "completely different content about spark dataframes and shuffles here"),
    ]
    stream_rows = [
        # near-dup of static 0 (one token appended: shingle jaccard 10/11,
        # high enough that an LSH band collides with near-certainty)
        (100, "the quick brown fox jumps over the lazy dog again and again extra"),
        # unrelated
        (101, "unrelated text with nothing shared at all whatsoever truly"),
    ]
    static = spark.createDataFrame(static_rows, ["doc_id", "text"])
    src = tmp_path / "stream_docs"
    spark.createDataFrame(stream_rows, ["doc_id", "text"]).write.parquet(str(src))
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))

    q = (
        streaming_neardup_against_static(stream, static, threshold=0.5)
        .writeStream.format("memory")
        .queryName("t_neardup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.doc_id, r.match_id): r.jaccard
        for r in spark.table("t_neardup_stream").collect()
    }

    combined = static.unionByName(
        spark.createDataFrame(stream_rows, ["doc_id", "text"])
    )
    batch = {
        (r.id_b, r.id_a): r.jaccard
        for r in D.ngram_jaccard_pairs(combined, threshold=0.5).collect()
        if r.id_a < 100 <= r.id_b
    }
    assert got == batch
    assert (100, 0) in got  # the planted near-dup was found


def test_neardup_microbatch_equals_declarative_path(spark):
    """The foreachBatch body (batch codegen pipeline) produces the same
    pairs as the fully-declarative stream plan's semantics: the batch
    cross-side restriction."""
    from mvrepair.streaming.incremental import (
        build_neardup_index,
        neardup_microbatch,
    )

    static_rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "completely different content about spark dataframes and shuffles here"),
    ]
    new_rows = [
        (100, "the quick brown fox jumps over the lazy dog again and again extra"),
        (101, "unrelated text with nothing shared at all whatsoever truly"),
    ]
    static = spark.createDataFrame(static_rows, ["doc_id", "text"])
    batch = spark.createDataFrame(new_rows, ["doc_id", "text"])
    static_bands, static_toks = build_neardup_index(static)
    got = {
        (r.doc_id, r.match_id): r.jaccard
        for r in neardup_microbatch(batch, static_bands, static_toks).collect()
    }
    combined = static.unionByName(batch)
    want = {
        (r.id_b, r.id_a): r.jaccard
        for r in D.ngram_jaccard_pairs(combined, threshold=0.5).collect()
        if r.id_a < 100 <= r.id_b
    }
    assert got == want and (100, 0) in got


def test_containment_pairs_asymmetric_score(spark):
    """Containment |P∩S|/|P| finds a short probe copied into a longer
    source even when Jaccard is low; the score is exact micro-units."""
    source = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
                "lambda mu nu xi omicron pi rho sigma tau upsilon"),
            (1, "totally unrelated source text about something else entirely here"),
        ],
        ["doc_id", "text"],
    )
    probe = spark.createDataFrame(
        # probe 100 = the first 10 tokens of source 0: its 8 shingles are
        # ALL contained -> containment 1.0, while jaccard is only 8/18
        [
            (100, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (101, "nothing in common with anything in the source corpus at all"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r.probe_id, r.source_id): r.containment_micro
        for r in D.containment_pairs(
            probe, source, threshold_micro=800_000
        ).collect()
    }
    assert got == {(100, 0): 1_000_000}


def test_containment_max_shingle_df_cap_drops_hot_shingles(spark):
    """The df cap drops shingles indexed by more than ``max_shingle_df``
    source docs — via a groupBy aggregate + anti-join, NOT a window over
    the exploded index (round-4 ADVICE: a hot stop-phrase shingle must
    not become one giant sort-based window partition)."""
    hot = "x y z"  # one shingle, present in every source doc
    source = spark.createDataFrame(
        [(i, f"{hot} unique{i} filler{i} tail{i}") for i in range(5)],
        ["doc_id", "text"],
    )
    probe = spark.createDataFrame([(100, hot)], ["doc_id", "text"])

    uncapped = D.containment_pairs(probe, source, threshold_micro=800_000)
    assert {(r.probe_id, r.source_id) for r in uncapped.collect()} == {
        (100, i) for i in range(5)
    }

    capped = D.containment_pairs(
        probe, source, threshold_micro=800_000, max_shingle_df=4
    )
    assert capped.count() == 0  # df=5 > 4: the hot shingle is dropped
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan

    # a cap above the observed df changes nothing
    loose = D.containment_pairs(
        probe, source, threshold_micro=800_000, max_shingle_df=5
    )
    assert {(r.probe_id, r.source_id) for r in loose.collect()} == {
        (100, i) for i in range(5)
    }


def test_contamination_check_matches_two_frame_containment(spark):
    """The single-corpus API (shingle once, split by label) must produce
    exactly the two-frame containment_pairs result."""
    rows = [
        (0, "train", "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "train", "one two three four five six seven eight nine"),
        (100, "val", "alpha beta gamma delta epsilon zeta"),
        (101, "test", "totally disjoint probe text with nothing shared"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "split", "text"])
    out = D.contamination_check(docs, threshold_micro=500_000)
    try:
        got = {
            (r.probe_id, r.source_id): r.containment_micro
            for r in out.collect()
        }
    finally:
        out.unpersist()
    probe = docs.filter(F.col("split") != "train").select("doc_id", "text")
    source = docs.filter(F.col("split") == "train").select("doc_id", "text")
    want = {
        (r.probe_id, r.source_id): r.containment_micro
        for r in D.containment_pairs(
            probe, source, threshold_micro=500_000
        ).collect()
    }
    assert got == want and (100, 0) in got


# ---------------------------------------------------------------------------
# repetition_stats (Gopher filters) + substring_dup_stats (Lee et al.)
# ---------------------------------------------------------------------------

def test_repetition_stats_known_values(spark):
    # "a b a b a b": 6 tokens all duplicated; 5 2-grams, "a b" x3 of 5;
    # 4 3-grams, "a b a" x2 + "b a b" x2 -> dup_3gram_frac = 1.0
    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "u v w x y z")], ["doc_id", "text"]
    )
    got = {r.doc_id: r for r in X.repetition_stats(df).collect()}
    r1 = got[1]
    assert r1.dup_token_frac == 1.0
    assert r1.top_2gram_frac == pytest.approx(3 / 5)
    assert r1.dup_3gram_frac == 1.0
    assert r1.repetitive
    r2 = got[2]
    assert (r2.dup_token_frac, r2.dup_3gram_frac) == (0.0, 0.0)
    assert r2.top_2gram_frac == pytest.approx(1 / 5)
    assert not r2.repetitive


def test_repetition_stats_short_docs_zero_not_null(spark):
    # one token: no 2-/3-grams at all -> fractions 0.0, never NULL
    df = spark.createDataFrame([(1, "solo")], ["doc_id", "text"])
    [r] = X.repetition_stats(df).collect()
    assert (r.dup_token_frac, r.top_2gram_frac, r.dup_3gram_frac) == (0.0, 0.0, 0.0)
    assert r.repetitive is False


def test_substring_dup_stats_cross_and_within_doc(spark):
    eight = "t1 t2 t3 t4 t5 t6 t7 t8"
    df = spark.createDataFrame(
        [
            (1, eight + " x1 x2"),          # grams 1-3; gram#1 repeats in doc 2
            (2, "pre " + eight),            # grams 1-2; gram#2 == doc 1 gram#1
            (3, eight + " " + eight),       # within-doc repetition
            (4, "too short"),               # no 8-grams
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in D.substring_dup_stats(df).collect()}
    assert got[4].n_grams == 0 and got[4].dup_frac == 0.0 and not got[4].mostly_dup
    assert got[1].n_grams == 3 and got[1].n_dup_grams >= 1
    assert got[2].n_grams == 2 and got[2].n_dup_grams >= 1
    r3 = got[3]
    assert r3.n_grams == 9
    # "t1..t8 t1..t8": every 8-gram window reappears? only the aligned copy
    # of the full block repeats (windows crossing the seam are unique except
    # the two aligned ones); at minimum the two aligned instances count.
    assert r3.n_dup_grams >= 2 and r3.mostly_dup == (r3.dup_frac >= 0.3)


def test_substring_dup_stats_all_unique_corpus(spark):
    df = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(10))) for i in range(4)],
        ["doc_id", "text"],
    )
    rows = D.substring_dup_stats(df).collect()
    assert all(r.n_dup_grams == 0 and r.dup_frac == 0.0 for r in rows)


# ---------------------------------------------------------------------------
# semantic_dedup (SemDeDup)
# ---------------------------------------------------------------------------

def test_semantic_dedup_sweep_and_cross_cluster_miss(spark):
    # centroids: x-axis (cluster 0) and y-axis (cluster 1), micro-units
    cents = [[1_000_000, 0], [0, 1_000_000]]
    rows = [
        (1, [1.0, 0.0]),      # cluster 0, first -> kept
        (2, [0.999, 0.02]),   # cluster 0, cos(v1,v2) ~ 0.9998 -> semdup
        (3, [0.6, 0.52]),     # cluster 0 (closer to x), cos to v1 ~ 0.76 -> kept
        (4, [0.0, 1.0]),      # cluster 1: near-identical to NOTHING there -> kept
        (5, [0.02, 0.999]),   # cluster 1, dup of 4 -> semdup
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: r for r in S.semantic_dedup(df, cents, 900_000).collect()}
    assert [got[i].cluster for i in (1, 2, 3, 4, 5)] == [0, 0, 0, 1, 1]
    assert [got[i].is_semdup for i in (1, 2, 3, 4, 5)] == [False, True, False, False, True]
    assert got[1].max_prior_cosine_micro is None
    assert got[2].max_prior_cosine_micro >= 900_000
    # v2's prior is v1 only (same cluster, lower id)
    assert got[3].max_prior_cosine_micro < 900_000


def test_semantic_dedup_cross_cluster_pairs_invisible(spark):
    # identical vectors forced into different clusters are NOT flagged:
    # the within-cluster sweep cannot see them (documented recall trade)
    cents = [[1_000_000, 0], [0, 1_000_000]]
    df = spark.createDataFrame(
        [(1, [0.8, 0.6]), (2, [0.6, 0.8])],  # cluster 0 and 1; cos = 0.96
        "vec_id long, embedding array<float>",
    )
    got = {r.vec_id: r for r in S.semantic_dedup(df, cents, 900_000).collect()}
    assert got[1].cluster != got[2].cluster
    assert not got[1].is_semdup and not got[2].is_semdup


# ---------------------------------------------------------------------------
# corpus-curation endgame: weighted mixing, canonical selection, yield funnel
# ---------------------------------------------------------------------------

def _md5_bucket(v: int, buckets: int) -> int:
    import hashlib

    return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16) % buckets


def test_weighted_mix_epoch_multiplicity(spark):
    from mvrepair.operators.sampling import weighted_mix

    rows = [(i, "a" if i < 40 else "b") for i in range(80)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = weighted_mix(
        df, {"a": 2.5, "b": 0.0}, default_rate=0.0, buckets=10
    ).collect()
    # source b fully dropped
    assert all(r.source == "a" for r in out)
    by_id: dict[int, list[int]] = {}
    for r in out:
        by_id.setdefault(r.doc_id, []).append(r.epoch)
    for i in range(40):
        expect = 2 + (1 if _md5_bucket(i, 10) < 5 else 0)
        got = sorted(by_id.get(i, []))
        assert got == list(range(expect)), (i, got, expect)
    # ~half of source a picked up the fractional third epoch
    n3 = sum(1 for v in by_id.values() if len(v) == 3)
    assert 0 < n3 < 40


def test_weighted_mix_default_rate_and_determinism(spark):
    from mvrepair.operators.sampling import weighted_mix

    df = spark.createDataFrame([(i, f"s{i % 3}") for i in range(60)], ["doc_id", "source"])
    a = weighted_mix(df, {"s0": 1.0}, default_rate=0.5, buckets=1000)
    b = weighted_mix(df.repartition(7), {"s0": 1.0}, default_rate=0.5, buckets=1000)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # every s0 row appears exactly once (rate 1.0 has no fractional part)
    s0 = [r for r in a.collect() if r.source == "s0"]
    assert len(s0) == 20 and all(r.epoch == 0 for r in s0)


def test_weighted_mix_is_shuffle_free(spark):
    from mvrepair.operators.sampling import weighted_mix

    df = spark.createDataFrame([(1, "a")], ["doc_id", "source"])
    plan = weighted_mix(df, {"a": 1.5})._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_keep_best_argmax_ties_and_singletons(spark):
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (9, 9), (10, 10)], ["doc_id", "cluster_id"]
    )
    scores = spark.createDataFrame(
        [(1, 1), (2, 3), (3, 3), (9, 0), (10, 2)], ["doc_id", "quality_score"]
    )
    out = {r.cluster_id: r for r in D.keep_best(clusters, scores).collect()}
    # tie on score 3 between docs 2 and 3 -> lowest id wins
    assert out[1].keep_id == 2 and out[1].keep_score == 3 and out[1].n_members == 3
    # singletons keep themselves
    assert out[9].keep_id == 9 and out[9].n_members == 1
    assert out[10].keep_id == 10 and out[10].keep_score == 2


def test_keep_best_is_partial_agg_no_window(spark):
    clusters = spark.createDataFrame([(1, 1)], ["doc_id", "cluster_id"])
    scores = spark.createDataFrame([(1, 1)], ["doc_id", "quality_score"])
    plan = (
        D.keep_best(clusters, scores)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # argmax via max(struct): never a window (which would shuffle + sort
    # every member row); the combine runs map-side BEFORE the exchange so
    # the shuffle carries one struct per (task, cluster)
    assert "Window" not in plan
    assert "partial_max" in plan


def test_quality_funnel_known_values(spark):
    good = "the quick brown fox jumps over the lazy dog again"  # quality
    dup = "a be to of and in that have it for not on with he"  # quality, duplicated
    short = "too short"  # fails length band (2 tokens) and gate
    df = spark.createDataFrame(
        [(1, good), (2, dup), (3, dup), (4, short)], ["doc_id", "text"]
    )
    [r] = X.quality_funnel(df).collect()
    assert r.n_total == 4
    assert r.n_len_ok == 3  # good + dup x2
    assert r.n_quality == 3
    assert r.n_unique == 3  # good, dup, short
    assert r.n_final == 2  # good, dup (short fails the gate)


def test_quality_funnel_single_scan_with_expand(spark):
    df = spark.createDataFrame([(1, "a b c d e f")], ["doc_id", "text"])
    plan = X.quality_funnel(df)._jdf.queryExecution().executedPlan().toString()
    # ONE scan of the corpus; the two count-distincts share it via Expand
    assert plan.count("Scan ExistingRDD") == 1
    assert plan.count("Expand") == 1
    # distinct legs aggregate digests, never raw text columns
    assert "md5" in plan


def test_rare_token_profile_exact_counts(spark):
    """Known corpus frequencies: a:5 b:2 c:1 d:1 — rare_max=1 flags c/d
    instances; per-doc fractions and min corpus counts are exact."""
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d"), (3, "a a a")], ["doc_id", "text"]
    )
    out = X.rare_token_profile(docs, rare_max=1, rare_frac_max=0.3)
    got = {r.doc_id: r for r in out.collect()}
    assert (got[1].n_tokens, got[1].n_rare, got[1].min_token_count) == (3, 1, 1)
    assert got[1].rare_frac == 1 / 3 and got[1].rare_heavy
    assert (got[2].n_tokens, got[2].n_rare, got[2].min_token_count) == (3, 1, 1)
    assert (got[3].n_tokens, got[3].n_rare, got[3].min_token_count) == (3, 0, 5)
    assert got[3].rare_frac == 0.0 and not got[3].rare_heavy


def test_label_outliers_exact_centroid_math(spark):
    """Two labels; hand-computed floor-mean centroids and quantized
    cosines.  The inlier/outlier split follows the below-zero default."""
    import math

    from mvrepair.operators import similarity as S

    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.5, 0.5], 0),
        (3, [0.0, 1.0], 7),
        (4, [0.0, -1.0], 7),
        (5, [0.1, 0.9], 7),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])

    cents = dict(S.label_centroids(df))
    assert cents[0] == [750000, 250000]
    # label 7: sums (100000, 900000) over 3 -> floor means
    assert cents[7] == [33333, 300000]

    def micro(qv, c):
        dot = sum(a * b for a, b in zip(qv, c))
        sim = dot / (
            math.sqrt(sum(a * a for a in qv)) * math.sqrt(sum(b * b for b in c))
        )
        return math.floor(sim * 1_000_000)

    out = {r.vec_id: r for r in S.label_outliers(df).collect()}
    q = {1: [1000000, 0], 2: [500000, 500000], 3: [0, 1000000],
         4: [0, -1000000], 5: [100000, 900000]}
    for vid, row in out.items():
        assert row.cosine_micro == micro(q[vid], cents[row.label]), vid
        assert row.is_outlier == (row.cosine_micro < 0)
    # vec 4 points against its centroid -> the one outlier
    assert [v for v, r in out.items() if r.is_outlier] == [4]


# ---------------------------------------------------------------------------
# span_dedup: exact-substring removal (Lee et al. 2022 action step)
# ---------------------------------------------------------------------------


def _span_dedup_model(docs: dict[int, str], w: int) -> dict[int, tuple[str, int, int]]:
    """Brute-force reference: canonical occurrence = min (doc_id, span_idx)."""
    occurrences: dict[str, tuple[int, int]] = {}
    tiled: dict[int, list[list[str]]] = {}
    tails: dict[int, list[str]] = {}
    for did in sorted(docs):
        toks = docs[did].split(" ")
        n = len(toks) // w
        tiled[did] = [toks[i * w:(i + 1) * w] for i in range(n)]
        tails[did] = toks[n * w:]
        for i, span in enumerate(tiled[did]):
            occurrences.setdefault(" ".join(span), (did, i))
    out = {}
    for did in sorted(docs):
        kept = [
            span for i, span in enumerate(tiled[did])
            if occurrences[" ".join(span)] == (did, i)
        ]
        clean = " ".join(t for span in kept for t in span) if kept else ""
        if tails[did]:
            clean = (clean + " " if clean else "") + " ".join(tails[did])
        out[did] = (clean, len(tiled[did]), len(tiled[did]) - len(kept))
    return out


def test_span_dedup_matches_bruteforce_model(spark):
    base = "a b c d e f g h i j"          # one exact 10-token span
    docs = {
        1: base + " k l m",                # canonical + 3-token tail
        2: base,                           # duplicate span, fully removed
        3: base + " " + base,              # dup twice: both occurrences lose
        4: "x y z",                        # shorter than w: untouched
        5: "p q r s t u v w x1 y1 " + base,  # unique span + trailing dup
    }
    df = spark.createDataFrame(
        [Row(doc_id=k, text=v) for k, v in docs.items()]
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_spans"], r["n_removed"])
        for r in D.span_dedup(df, w=10).collect()
    }
    assert got == _span_dedup_model(docs, 10)


def test_span_dedup_is_idempotent_and_preserves_clean_docs(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=i, text=" ".join(f"t{i}x{j}" for j in range(26)))
            for i in range(6)
        ]
    )
    once = D.span_dedup(df, w=10)
    assert once.filter(F.col("n_removed") > 0).count() == 0
    again = D.span_dedup(
        once.select(F.col("doc_id"), F.col("clean_text").alias("text")), w=10
    )
    assert again.filter(F.col("n_removed") > 0).count() == 0
    orig = {r["doc_id"]: r["text"] for r in df.collect()}
    assert {r["doc_id"]: r["clean_text"] for r in once.collect()} == orig


# ---------------------------------------------------------------------------
# dsir_scores: hashed-n-gram importance resampling (Xie et al. 2023)
# ---------------------------------------------------------------------------


def _dsir_fixture(spark):
    rows = [Row(doc_id=i, text="alpha beta gamma", grp="t") for i in range(8)]
    rows += [Row(doc_id=100 + i, text="omega psi chi", grp="r") for i in range(8)]
    rows += [Row(doc_id=200, text="alpha beta omega", grp="r")]
    return spark.createDataFrame(rows)


def test_dsir_target_like_docs_score_higher(spark):
    from mvrepair.operators.sampling import dsir_scores

    df = _dsir_fixture(spark)
    got = {
        r["doc_id"]: r["dsir_micro"]
        for r in dsir_scores(df, F.col("grp") == "t", buckets=64).collect()
    }
    # pure-target-vocabulary docs must outscore pure-raw-vocabulary docs,
    # with the mixed doc strictly between
    assert got[0] > got[200] > got[100]
    # every doc got a score
    assert len(got) == df.count()


def test_dsir_is_deterministic_under_repartition(spark):
    from mvrepair.operators.sampling import dsir_scores

    df = _dsir_fixture(spark)
    a = sorted(
        dsir_scores(df, F.col("grp") == "t", buckets=64).collect(),
        key=lambda r: r["doc_id"],
    )
    b = sorted(
        dsir_scores(
            df.repartition(7, "text"), F.col("grp") == "t", buckets=64
        ).collect(),
        key=lambda r: r["doc_id"],
    )
    assert a == b


def test_dsir_single_corpus_pass_via_exchange_reuse(spark):
    """The distribution branch and the scoring branch must share the one
    (doc, target, bucket) aggregate: after execution the adaptive plan
    carries a ReusedExchange/stage instead of a second corpus scan."""
    from mvrepair.operators.sampling import dsir_scores

    df = _dsir_fixture(spark)
    out = dsir_scores(df, F.col("grp") == "t", buckets=64)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan or "ReusedQueryStage" in plan, plan


# ---------------------------------------------------------------------------
# token_budget_fill: per-group greedy quality-prefix selection
# ---------------------------------------------------------------------------


def _tbf_model(rows, budget):
    """Naive greedy prefix per group over (quality desc, id asc)."""
    from collections import defaultdict

    def q(text):
        toks = text.split(" ")
        stop = {"the", "a", "of", "and", "to", "in", "is", "for"}
        return (
            (1 if 5 <= len(toks) <= 100000 else 0)
            + (1 if any(t in stop for t in toks) else 0)
            + (1 if len(set(toks)) / len(toks) > 0.2 else 0)
        )

    by_grp = defaultdict(list)
    for did, grp, text in rows:
        by_grp[grp].append((did, q(text), len(text.split(" "))))
    kept = set()
    for grp, docs in by_grp.items():
        run = 0
        for did, qs, n in sorted(docs, key=lambda d: (-d[1], d[0])):
            if run + n > budget:
                break
            run += n
            kept.add(did)
    return kept


def test_token_budget_fill_matches_naive_prefix(spark):
    from mvrepair.operators.sampling import token_budget_fill

    # group A: high-quality docs fill the budget before low ones get in;
    # group B: budget cuts inside the top class (boundary-class path)
    rows = [
        (1, "A", "the quick brown fox jumps over the lazy dog today"),  # q=3
        (2, "A", "x x x x x x x x x x"),                                # q=1
        (3, "A", "of one two three four five six seven eight nine"),    # q=3
        (4, "B", "the alpha beta gamma delta epsilon zeta eta theta"),  # q=3
        (5, "B", "and one two three four five six seven eight nine"),   # q=3
        (6, "B", "in ten eleven twelve thirteen fourteen fifteen one"), # q=3
        (7, "C", "z z"),                                                # q<=1
    ]
    budget = 20
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    got = {
        r["doc_id"]
        for r in token_budget_fill(df, budget=budget).collect()
    }
    assert got == _tbf_model(rows, budget)


def test_token_budget_fill_budget_edges(spark):
    from mvrepair.operators.sampling import token_budget_fill

    df = spark.createDataFrame(
        [(i, "S", "the a of and to in is for extra tok") for i in range(4)],
        ["doc_id", "source", "text"],
    )  # every doc: q=3, 10 tokens
    # budget exactly 2 docs
    got = sorted(
        r["doc_id"] for r in token_budget_fill(df, budget=20).collect()
    )
    assert got == [0, 1]
    # budget below one doc: nothing kept
    assert token_budget_fill(df, budget=9).count() == 0
    # budget covers all: everything kept, via the no-sort full-class path
    assert token_budget_fill(df, budget=1000).count() == 4


def test_token_budget_fill_bucket_decomposition_matches_naive(spark):
    # The second (id-range bucket) decomposition level must be invisible:
    # any bucket_width gives the exact naive greedy prefix, including
    # widths that split the boundary class across many buckets and the
    # width-1 fallback (single boundary-class window).
    from mvrepair.operators.sampling import token_budget_fill

    rows = [
        (i, "S", "the quick brown fox jumps over lazy dogs")  # q=3, 8 toks
        for i in range(10)
    ] + [
        (i, "S", "y y y y y y y y")  # q=1, 8 toks: decided at class level
        for i in range(10, 14)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    for budget in (7, 8, 20, 43, 80, 500):
        want = _tbf_model(rows, budget)
        for width in (1, 2, 3, 4096):
            got = {
                r["doc_id"]
                for r in token_budget_fill(
                    df, budget=budget, bucket_width=width
                ).collect()
            }
            assert got == want, (budget, width, got, want)


def test_token_budget_fill_no_group_sized_row_window(spark):
    # Scale guard: the row-level running-sum window must be partitioned
    # by (group, bucket), never by group alone — a boundary class the
    # size of a web-scale source must not become one sort task.
    from mvrepair.operators.sampling import token_budget_fill

    df = spark.createDataFrame(
        [(i, "S", "the a of and x y z w") for i in range(6)],
        ["doc_id", "source", "text"],
    )
    plan = token_budget_fill(
        df, budget=20, bucket_width=2
    )._jdf.queryExecution().executedPlan().toString()
    import re

    row_windows = [
        ln
        for ln in plan.splitlines()
        if "Window" in ln and "n_tokens" in ln and "windowspecdefinition" in ln
    ]
    assert row_windows, "expected a row-level running-sum window"
    for ln in row_windows:
        assert "__bkt" in ln, f"row window not bucket-partitioned: {ln}"


# ---------------------------------------------------------------------------
# bpe_merge_candidates: tokenizer-induction merge statistics
# ---------------------------------------------------------------------------


def test_bpe_merge_candidates_matches_model(spark):
    from collections import Counter

    docs = ["low low lower lowest", "new newer new", "a ab"]
    model = Counter()
    for d in docs:
        for w in d.split(" "):
            for i in range(len(w) - 1):
                model[w[i:i + 2]] += 1
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(docs)]
    )
    got = X.bpe_merge_candidates(df, k=100).collect()
    assert {(r["pair"], r["pair_count"]) for r in got} == {
        (p, c) for p, c in model.items()
    }
    # ordering contract: count desc, pair asc
    keys = [(-r["pair_count"], r["pair"]) for r in got]
    assert keys == sorted(keys)
    # 1-char words contribute nothing, and k truncates
    assert X.bpe_merge_candidates(df, k=3).count() == 3


# ---------------------------------------------------------------------------
# snapshot_diff: corpus version diff
# ---------------------------------------------------------------------------


def test_snapshot_diff_classifies_all_four_states(spark):
    from mvrepair.operators.snapshot import snapshot_diff

    old = spark.createDataFrame(
        [(1, "same"), (2, "will change"), (3, "will vanish")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "changed"), (4, "brand new")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}
    # hashes are null exactly on the absent side
    rows = {r["doc_id"]: r for r in snapshot_diff(old, new).collect()}
    assert rows[3]["new_hash"] is None and rows[3]["old_hash"] is not None
    assert rows[4]["old_hash"] is None and rows[4]["new_hash"] is not None


def test_snapshot_diff_never_shuffles_text(spark):
    from mvrepair.operators.snapshot import snapshot_diff

    old = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
    new = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
    plan = (
        snapshot_diff(old, new)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # every Exchange input row must already be the (id, digest) projection
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line, plan


# ---------------------------------------------------------------------------
# key_skew_profile: shuffle-key pre-flight diagnostics
# ---------------------------------------------------------------------------


def test_key_skew_profile_exact_on_known_distribution(spark):
    from mvrepair.operators.sketch import key_skew_profile

    # 1 key with 100 rows, 4 keys with 10 rows, 95 keys with 1 row
    rows = (
        [("hot",)] * 100
        + [(f"warm{i}",) for i in range(4) for _ in range(10)]
        + [(f"cold{i}",) for i in range(95)]
    )
    df = spark.createDataFrame(rows, ["k"])
    got = {r["stat"]: r["value"] for r in key_skew_profile(df, "k").collect()}
    n_rows, n_keys = 235, 100
    assert got["n_rows"] == n_rows and got["n_keys"] == n_keys
    assert got["max_size"] == 100
    # sorted sizes: 95x1, 4x10, 1x100 -> type-1 quantiles at ceil(q*n)
    assert got["p50_size"] == 1    # position 50
    assert got["p90_size"] == 1    # position 90
    assert got["p99_size"] == 10   # position 99
    assert got["top1_share_micro"] == 100 * 1000000 // n_rows
    # top-10 keys: the 100-row key + 4x10 + 5x1 = 145 rows
    assert got["top10_share_micro"] == 145 * 1000000 // n_rows


def test_key_skew_profile_uniform_distribution(spark):
    from mvrepair.operators.sketch import key_skew_profile

    df = spark.createDataFrame([(i % 20,) for i in range(200)], ["k"])
    got = {r["stat"]: r["value"] for r in key_skew_profile(df, "k").collect()}
    assert got["max_size"] == got["p50_size"] == 10
    assert got["top1_share_micro"] == 10 * 1000000 // 200


# ---------------------------------------------------------------------------
# update_band_index: incremental LSH index maintenance
# ---------------------------------------------------------------------------


def test_update_band_index_equals_full_rebuild(spark):
    """The incremental invariant: anti-join stale + re-sign delta must
    reproduce the from-scratch index of the new snapshot exactly."""
    from mvrepair.operators.snapshot import snapshot_diff

    v1 = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(8))) for i in range(20)],
        ["doc_id", "text"],
    )
    # drop ids 0-4, edit 5-9, keep 10-19, add 100-104
    v2 = (
        v1.filter(F.col("doc_id") >= 10)
        .unionByName(
            v1.filter((F.col("doc_id") >= 5) & (F.col("doc_id") < 10)).select(
                "doc_id", F.concat(F.col("text"), F.lit(" edited")).alias("text")
            )
        )
        .unionByName(
            v1.filter(F.col("doc_id") < 5).select(
                (F.col("doc_id") + 100).alias("doc_id"), "text"
            )
        )
    )
    index_v1 = D.signature_bands(D.minhash_signatures(v1))
    incremental = D.update_band_index(index_v1, snapshot_diff(v1, v2), v2)
    full = D.signature_bands(D.minhash_signatures(v2))
    key = ["doc_id", "band_idx", "band_sig"]
    assert sorted(map(tuple, incremental.select(key).collect())) == sorted(
        map(tuple, full.select(key).collect())
    )
    # and the delta actually was delta-sized: unchanged docs' rows come
    # from the old index object, not a re-sign (same row values either
    # way — verified above — so check the stale ids really left)
    assert incremental.filter(F.col("doc_id") < 5).count() == 0


# ---------------------------------------------------------------------------
# nb_train_classify: count-trained Naive Bayes (train + infer, one pipeline)
# ---------------------------------------------------------------------------


def test_nb_classifier_learns_separable_vocab(spark):
    from mvrepair.operators.nbayes import nb_train_classify

    rows = (
        [(i, "roja verde azul amarillo", "es") for i in range(10)]
        + [(100 + i, "red green blue yellow", "en") for i in range(10)]
        + [(200 + i, "rouge vert bleu jaune", "fr") for i in range(10)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = nb_train_classify(df, buckets=256).collect()
    assert all(r["correct"] for r in out), out
    assert len(out) == 30


def test_nb_zero_count_bucket_gets_smoothed_penalty_not_zero(spark):
    """A class that never saw a doc's vocabulary must be penalized via
    add-one smoothing, not silently scored 0 for missing weight rows —
    with only 2 'minor' docs vs 20 'major' docs, a zero-weight bug would
    hand every minor doc to the majority class via its prior."""
    from mvrepair.operators.nbayes import nb_train_classify

    # minor tokens chosen collision-free vs the major vocabulary at
    # B=4096 ('www' collides with a major bucket — a real 60-bit-hash
    # birthday hit this test originally tripped over)
    rows = [(i, "aaa bbb ccc ddd eee fff", "major") for i in range(20)] + [
        (100, "zzz yyy xxx uuu", "minor"),
        (101, "zzz yyy xxx vvv", "minor"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    got = {r["doc_id"]: r for r in nb_train_classify(df, buckets=4096).collect()}
    assert got[100]["pred"] == "minor" and got[101]["pred"] == "minor"
    assert all(got[i]["pred"] == "major" for i in range(20))


def test_nb_majority_prior_on_signal_free_labels(spark):
    """Labels carrying no vocabulary signal must collapse to the majority
    prior — the honest NB answer (and what the synthetic sf corpus, whose
    langs share one vocabulary, actually exercises)."""
    from mvrepair.operators.nbayes import nb_train_classify

    rows = [(i, "same words every time", "big" if i < 15 else "small")
            for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = nb_train_classify(df, buckets=64).collect()
    assert all(r["pred"] == "big" for r in out)


def test_nb_model_score_equals_fused_train_classify(spark):
    """The split model/score pair must reproduce the fused pipeline's
    predictions exactly (same arithmetic, different lineage shape)."""
    from mvrepair.operators.nbayes import nb_model, nb_score, nb_train_classify

    rows = (
        [(i, "roja verde azul amarillo", "es") for i in range(6)]
        + [(100 + i, "red green blue yellow", "en") for i in range(8)]
        + [(200, "red verde blue amarillo", "en")]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    fused = {
        r["doc_id"]: (r["pred"], r["score_micro"])
        for r in nb_train_classify(df, buckets=128).collect()
    }
    w, p = nb_model(df, buckets=128)
    split = {
        r["doc_id"]: (r["pred"], r["score_micro"])
        for r in nb_score(df, w, p, buckets=128).collect()
    }
    assert fused == split


def test_apply_keep_decisions_general_contract(spark):
    """Non-clustered docs pass through; clustered non-keepers drop; a
    PARTIAL clustering drops only what it covers."""
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(6)], ["doc_id", "text"]
    )
    clusters = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 2), (3, 2)], ["doc_id", "cluster_id"]
    )  # docs 4, 5 unclustered
    keepers = spark.createDataFrame(
        [(0, 0), (2, 2)], ["cluster_id", "keep_id"]
    )
    got = sorted(
        r["doc_id"]
        for r in D.apply_keep_decisions(docs, clusters, keepers).collect()
    )
    assert got == [0, 2, 4, 5]


def test_compact_repair_log_last_write_wins(spark):
    from mvrepair.operators.repair import compact_repair_log

    cells = spark.createDataFrame(
        [
            # replayed identical cell: collapses, 1 superseded
            (1, "c1", "TEXT", "a", 100, None, "TIMESTAMP"),
            (1, "c1", "TEXT", "a", 100, None, "TIMESTAMP"),
            # later writetime wins over earlier
            (2, "c1", "TEXT", "old", 100, None, "TIMESTAMP"),
            (2, "c1", "TEXT", "new", 200, None, "TIMESTAMP"),
            # null value loses to non-null at equal writetime
            (3, "c1", "TEXT", None, 100, None, "TIMESTAMP"),
            (3, "c1", "TEXT", "x", 100, None, "TIMESTAMP"),
            # singleton passes through
            (4, "c2", "TEXT", "solo", 50, 7, "TIMESTAMP"),
        ],
        "k long, column string, column_type string, value string, "
        "writetime long, ttl int, flavor string",
    )
    got = {
        (r["k"], r["column"]): (r["value"], r["writetime"], r["n_superseded"])
        for r in compact_repair_log(cells, ["k"]).collect()
    }
    assert got == {
        (1, "c1"): ("a", 100, 1),
        (2, "c1"): ("new", 200, 1),
        (3, "c1"): ("x", 100, 1),
        (4, "c2"): ("solo", 50, 0),
    }


def test_snapshot_diff_null_text_is_not_misclassified(spark):
    """A doc present on BOTH sides with NULL text must classify from side
    PRESENCE, not digest nullness (md5(NULL)=NULL on both sides used to
    read as 'added')."""
    from mvrepair.operators.snapshot import snapshot_diff

    old = spark.createDataFrame([(1, None), (2, None), (3, "x")],
                                "doc_id long, text string")
    new = spark.createDataFrame([(1, None), (2, "now set"), (3, None)],
                                "doc_id long, text string")
    got = {r["doc_id"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "changed"}


# ---------------------------------------------------------------------------
# round-8 families: fuzzy linkage, basket mining, transition matrix
# ---------------------------------------------------------------------------


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_fuzzy_pairs_matches_brute_force(spark):
    from mvrepair.operators.linkage import fuzzy_pairs

    names = [
        "alpha", "alphaa", "alpa", "alXha",   # insert / delete / subst of alpha
        "beta", "betA", "gamma", "gamm", "g",
        "", "a", "b", "ab",
        "Customer#000000001", "Customer#000000002", "Customer#000000011",
    ]
    rows = [(i, n) for i, n in enumerate(names)]
    df = spark.createDataFrame(rows, ["id", "name"])
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in fuzzy_pairs(df, "name", "id").collect()
    }
    want = {
        (i, j, _lev(a, b))
        for i, a in rows
        for j, b in rows
        if i < j and _lev(a, b) <= 1
    }
    assert got == want


def test_fuzzy_pairs_rejects_unsupported_distance(spark):
    import pytest as _pytest

    from mvrepair.operators.linkage import fuzzy_pairs

    df = spark.createDataFrame([(1, "a")], ["id", "name"])
    with _pytest.raises(ValueError):
        fuzzy_pairs(df, "name", "id", max_dist=2)


def test_copurchase_pairs_matches_counter_model(spark):
    from collections import Counter
    from itertools import combinations

    from mvrepair.operators.linkage import copurchase_pairs

    baskets = {
        1: [10, 20, 30, 20],  # dup item counts once
        2: [10, 20],
        3: [10, 20, 40],
        4: [40],
        5: [30, 10],
    }
    rows = [(b, i) for b, items in baskets.items() for i in items]
    df = spark.createDataFrame(rows, ["l_orderkey", "l_partkey"])
    got = [
        (r["item_a"], r["item_b"], r["n_baskets"])
        for r in copurchase_pairs(df, k=3).collect()
    ]
    c: Counter = Counter()
    for items in baskets.values():
        for a, b in combinations(sorted(set(items)), 2):
            c[(a, b)] += 1
    want = sorted(
        ((a, b, n) for (a, b), n in c.items()),
        key=lambda x: (-x[2], x[0], x[1]),
    )[:3]
    assert got == want


def test_event_transitions_matches_python_model(spark):
    from collections import Counter
    from datetime import datetime

    from mvrepair.operators.temporal import event_transitions

    t0 = datetime(2024, 1, 1)
    # user 7: a->b->b->c ; user 8: b->a ; user 9 single event (no steps);
    # simultaneous events for user 8 tie-break on event_id
    rows = [
        (1, t0, 7, "a"),
        (2, datetime(2024, 1, 1, 0, 1), 7, "b"),
        (3, datetime(2024, 1, 1, 0, 2), 7, "b"),
        (4, datetime(2024, 1, 1, 0, 3), 7, "c"),
        (5, t0, 8, "b"),
        (6, t0, 8, "a"),  # same ts as event 5: id order decides b->a
        (7, t0, 9, "c"),
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
    got = {
        (r["src"], r["dst"]): (r["n"], r["p_micro"])
        for r in event_transitions(df).collect()
    }
    steps = Counter([("a", "b"), ("b", "b"), ("b", "c"), ("b", "a")])
    per_src = Counter()
    for (s, _), n in steps.items():
        per_src[s] += n
    want = {
        (s, d): (n, n * 1000000 // per_src[s]) for (s, d), n in steps.items()
    }
    assert got == want


def test_pagerank_micro_matches_python_model(spark):
    from collections import defaultdict

    from mvrepair.operators.linkage import pagerank_micro

    # a triangle, a chain tail, a sink, and an isolated node
    edges = [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (3, 1), (4, 1), (5, 6)]
    node_ids = [1, 2, 3, 4, 5, 6, 7]
    e_df = spark.createDataFrame(edges, ["src", "dst"])
    n_df = spark.createDataFrame([(i,) for i in node_ids], ["id"])
    got = {
        r["id"]: r["rank_micro"]
        for r in pagerank_micro(e_df, n_df, iters=3).collect()
    }

    deg = defaultdict(int)
    inc = defaultdict(list)
    for s, d in edges:
        deg[s] += 1
        inc[d].append(s)
    r = {v: 1_000_000 for v in node_ids}
    for _ in range(3):
        r = {
            v: 150_000 + (85 * sum(r[u] // deg[u] for u in inc[v])) // 100
            for v in node_ids
        }
    assert got == r
    # isolated/dangling nodes hold exactly the teleport term
    assert got[7] == 150_000 and got[5] == 150_000


def test_quality_percentiles_matches_percent_rank(spark):
    # the class-decomposed rank must equal SQL percent_rank() (ties share
    # the minimum rank) in integer micro-units, with singleton groups at 0
    from mvrepair.operators.sampling import quality_percentiles

    rows = [
        (1, "A", "the quick brown fox jumps over a lazy dog"),   # q=3
        (2, "A", "x x x x x x x x"),                             # q=1
        (3, "A", "of one two three four five six seven"),        # q=3
        (4, "A", "z z"),                                         # q<=1
        (5, "B", "solo"),                                        # singleton
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    got = {
        r["doc_id"]: (r["quality_score"], r["pct_micro"])
        for r in quality_percentiles(df).collect()
    }

    def q(text):
        toks = text.split(" ")
        stop = {"the", "a", "of", "and", "to", "in", "is", "for"}
        return (
            (1 if 5 <= len(toks) <= 100000 else 0)
            + (1 if any(t in stop for t in toks) else 0)
            + (1 if len(set(toks)) / len(toks) > 0.2 else 0)
        )

    by_src = {}
    for did, src, text in rows:
        by_src.setdefault(src, []).append((did, q(text)))
    want = {}
    for src, docs in by_src.items():
        n = len(docs)
        for did, score in docs:
            below = sum(1 for _, s in docs if s < score)
            want[did] = (score, below * 1_000_000 // (n - 1) if n > 1 else 0)
    assert got == want
    assert got[5][1] == 0  # singleton group pins the n==1 branch


def test_quality_percentiles_plan_has_no_sort(spark):
    # the decomposition's whole point: ZERO sort tasks over corpus rows
    # (the only window runs on the sources x 4 class frame)
    from mvrepair.operators.sampling import quality_percentiles

    df = spark.createDataFrame(
        [(i, "S", "a b c d e f") for i in range(4)],
        ["doc_id", "source", "text"],
    )
    plan = quality_percentiles(
        df
    )._jdf.queryExecution().executedPlan().toString()
    for ln in plan.splitlines():
        if "Sort " in ln and "doc_id" in ln:
            raise AssertionError(f"corpus-row sort in plan: {ln}")


def test_gapfill_locf_spine_and_carry(spark):
    # explicit gaps: key A observes hours 0 and 3, key B only hour 2 —
    # the shared spine is hours 0..3 for BOTH keys; LOCF carries A's
    # hour-0 sum across the 1-2 gap and leaves B's leading gaps NULL
    from datetime import datetime

    from mvrepair.operators.temporal import gapfill_locf

    h = lambda k: datetime(2024, 1, 1, k, 30, 0)
    rows = [
        ("A", h(0), 10.5),
        ("A", h(0), 1.0),
        ("A", h(3), 2.0),
        ("B", h(2), 7.25),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "value"])
    got = {
        (r["k"], r["bucket_us"] // 3_600_000_000): (
            r["n_events"], r["sum_value"], r["locf_value"]
        )
        for r in gapfill_locf(df, key_col="k").collect()
    }
    base = 1704067200 // 3600  # 2024-01-01T00 in hours
    assert set(got) == {(k, base + i) for k in "AB" for i in range(4)}
    assert got[("A", base + 0)] == (2, 11.5, 11.5)
    assert got[("A", base + 1)] == (0, None, 11.5)   # gap: carried
    assert got[("A", base + 2)] == (0, None, 11.5)
    assert got[("A", base + 3)] == (1, 2.0, 2.0)     # new observation
    assert got[("B", base + 0)] == (0, None, None)   # leading gap: NULL
    assert got[("B", base + 1)] == (0, None, None)
    assert got[("B", base + 2)] == (1, 7.25, 7.25)
    assert got[("B", base + 3)] == (0, None, 7.25)


def test_triangle_counts_matches_bruteforce(spark):
    # a hub graph: node 0 connects to 1..6, plus ring edges closing
    # known triangles; brute-force enumeration is the model
    from itertools import combinations

    from mvrepair.operators.linkage import triangle_counts

    edges = {(0, i) for i in range(1, 7)} | {(1, 2), (2, 3), (4, 5), (5, 6), (1, 6)}
    df = spark.createDataFrame(sorted(edges), ["item_a", "item_b"])
    got = {
        r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()
    }
    adj = set(edges)
    nodes = {n for e in edges for n in e}
    want = {}
    for a, b, c in combinations(sorted(nodes), 3):
        if {(a, b), (b, c), (a, c)} <= adj:
            for v in (a, b, c):
                want[v] = want.get(v, 0) + 1
    assert got == want
    assert want[0] == 5  # the hub sits on every triangle


def test_triangle_counts_plan_is_equijoin_only(spark):
    # degree orientation must never degrade to a cartesian/BNLJ plan
    from mvrepair.operators.linkage import triangle_counts

    df = spark.createDataFrame(
        [(a, b) for a in range(5) for b in range(a + 1, 6)],
        ["item_a", "item_b"],
    )
    plan = triangle_counts(df)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cohort_retention_matches_python_model(spark):
    from datetime import datetime

    from mvrepair.operators.temporal import cohort_retention

    d = lambda day, hh: datetime(2024, 1, day, hh, 0, 0)
    rows = [
        # cohort day 1: users 1, 2; user 1 returns day 2 and 4, user 2 never
        (1, d(1, 9)), (1, d(1, 18)), (1, d(2, 3)), (1, d(4, 1)),
        (2, d(1, 23)),
        # cohort day 3: user 3 alone, returns day 4 -> retention 1e6
        (3, d(3, 5)), (3, d(4, 22)),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    got = {
        (r["cohort_week_us"], r["week_offset"]): (
            r["n_users"], r["retention_micro"]
        )
        for r in cohort_retention(df, period="day").collect()
    }
    day_us = 86_400_000_000
    d1 = 1704067200 * 1_000_000
    d3 = d1 + 2 * day_us
    assert got == {
        (d1, 0): (2, 1_000_000),
        (d1, 1): (1, 500_000),
        (d1, 3): (1, 500_000),
        (d3, 0): (1, 1_000_000),
        (d3, 1): (1, 1_000_000),
    }


def test_source_divergence_matches_python_model(spark):
    # exact-KL model: same token counts, same micro_log2 quantizer
    from collections import Counter

    from mvrepair.functions.exactlog import py_micro_log2
    from mvrepair.operators.text import source_divergence

    rows = [
        ("A", "a b a c"),
        ("A", "a d"),
        ("B", "b b e"),
        ("C", "a b c d e"),   # close to the global mix
    ]
    df = spark.createDataFrame(rows, ["source", "text"])
    got = {
        r["source"]: (r["n_tokens"], r["vocab"], r["kl_q20_sum"])
        for r in source_divergence(df).collect()
    }
    per_src, glob = {}, Counter()
    for s, text in rows:
        c = per_src.setdefault(s, Counter())
        for t in text.split(" "):
            c[t] += 1
            glob[t] += 1
    ng = sum(glob.values())
    want = {}
    for s, c in per_src.items():
        ns = sum(c.values())
        kl = sum(
            cs * py_micro_log2((cs / glob[t]) * (ng / ns))
            for t, cs in c.items()
        )
        want[s] = (ns, len(c), kl)
    assert got == want
    # the near-global-mix source diverges least
    assert want["C"][2] == min(v[2] for v in want.values())


def test_rrf_fuse_model_and_misses(spark):
    from mvrepair.operators.linkage import rrf_fuse

    l1 = spark.createDataFrame(
        [(1, 30), (2, 20), (3, 10), (4, 5)], ["id", "score"]
    )
    l2 = spark.createDataFrame(
        [(2, 9), (3, 9), (5, 7)], ["id", "score"]  # tie at 9 -> id asc
    )
    got = {
        r["id"]: (r["rrf_micro"], r["rank_a"], r["rank_b"])
        for r in rrf_fuse(
            [("a", l1), ("b", l2)], id_col="id", k=3
        ).collect()
    }
    mic = lambda r: 1_000_000 // (60 + r)
    # l1 top-3: 1,2,3 ; l2 ranks: 2->1, 3->2, 5->3 (tie by id)
    full = {
        1: (mic(1), 1, None),
        2: (mic(2) + mic(1), 2, 1),
        3: (mic(3) + mic(2), 3, 2),
        5: (mic(3), None, 3),
    }
    want = dict(
        sorted(full.items(), key=lambda kv: (-kv[1][0], kv[0]))[:3]
    )
    assert got == want
    assert 4 not in got  # cut by l1's top-k before fusion


def test_funnel_steps_ordered_semantics(spark):
    # step i counts a user only when it happens STRICTLY AFTER the
    # user's EARLIEST completion of step i-1 (first-touch semantics)
    from datetime import datetime

    from mvrepair.operators.temporal import funnel_steps

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = [
        # u1: clean view -> click -> purchase
        (1, t(1), "view"), (1, t(2), "click"), (1, t(3), "purchase"),
        # u2: click BEFORE view only -> reaches step 1, not step 2
        (2, t(5), "click"), (2, t(6), "view"),
        # u3: view only
        (3, t(1), "view"),
        # u4: purchase before click -> steps 1-2 only
        (4, t(1), "view"), (4, t(2), "purchase"), (4, t(3), "click"),
        # u5: never views; click+purchase don't count without step 1
        (5, t(1), "click"), (5, t(2), "purchase"),
        # u6: first view is AFTER its only click; second click later ok
        (6, t(4), "view"), (6, t(2), "click"), (6, t(7), "click"),
        (6, t(8), "purchase"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    got = {
        r["step"]: (r["event_type"], r["n_users"],
                    r["conversion_micro"], r["stepwise_micro"])
        for r in funnel_steps(
            df, steps=["view", "click", "purchase"]
        ).collect()
    }
    # step1: u1,u2,u3,u4,u6 = 5 ; step2: u1,u4,u6 = 3 ; step3: u1,u6 = 2
    assert got == {
        1: ("view", 5, 1_000_000, None),
        2: ("click", 3, 3 * 1_000_000 // 5, 3 * 1_000_000 // 5),
        3: ("purchase", 2, 2 * 1_000_000 // 5, 2 * 1_000_000 // 3),
    }


def test_moving_anomaly_range_frame_and_history_gate(spark):
    # RANGE (not ROWS) trailing frame: a missing bucket widens the gap
    # instead of pulling older buckets in; buckets with < min_history
    # observed trailing buckets are unscored (NULL flag)
    from datetime import datetime

    from mvrepair.operators.temporal import moving_anomaly

    h = lambda k: datetime(2024, 1, 1, k, 15, 0)
    rows = []
    # key A: hours 0,1,2 at n=2 each; hour 3 missing; hour 4 spikes 4x3
    for hr, n in [(0, 2), (1, 2), (2, 2), (4, 12)]:
        rows += [("A", h(hr))] * n
    # key B: a single hour -> never enough history
    rows += [("B", h(0))] * 3
    df = spark.createDataFrame(rows, ["event_type", "ts"])
    got = {
        (r["event_type"], r["bucket_us"] // 3_600_000_000): (
            r["n"], r["trailing_sum"], r["trailing_buckets"],
            r["deviation_micro"], r["is_anomaly"]
        )
        for r in moving_anomaly(df, history=3, min_history=2,
                                mult_micro=2_000_000).collect()
    }
    base = 1704067200 // 3600
    assert got[("A", base + 0)] == (2, 0, 0, None, None)
    assert got[("A", base + 1)] == (2, 2, 1, None, None)  # < min_history
    # hour 2 sees hours 0-1: mean 2, n=2 -> deviation exactly 1e6
    assert got[("A", base + 2)] == (2, 4, 2, 1_000_000, False)
    # hour 4's RANGE(-3,-1) frame covers hours 1-3 -> only 1,2 observed
    # (hour 0 aged out; hour 3 missing): mean 2, n=12 -> 6x > 2x
    assert got[("A", base + 4)] == (12, 4, 2, 6_000_000, True)
    assert got[("B", base + 0)] == (3, 0, 0, None, None)


def test_posting_lists_cap_order_and_df(spark):
    from mvrepair.operators.text import posting_lists

    docs = [
        (2, "alpha beta"),
        (10, "alpha beta"),
        (1, "alpha gamma"),
        (30, "alpha"),
        (4, "delta"),  # df=1 -> filtered by min_df
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = posting_lists(df, k_docs=2, min_df=2, top_tokens=10).collect()
    got = {r["token"]: (r["df"], r["n_listed"], r["postings"]) for r in rows}
    # postings are NUMERICALLY sorted (1,2,10 -> "1,2") and capped at 2
    # while df stays the exact uncapped count
    assert got == {"alpha": (4, 2, "1,2"), "beta": (2, 2, "2,10")}
    # deterministic output order: df desc, token asc
    assert [r["token"] for r in rows] == ["alpha", "beta"]


def test_collocations_matches_python_pmi_model(spark):
    from collections import Counter

    from mvrepair.functions.exactlog import py_micro_log2
    from mvrepair.operators.text import collocations

    texts = [
        "new york is big big",
        "new york wins again",
        "big apple city of new york",
        "new day in york",
        "",  # empty doc: no bigrams, one '' unigram
    ]

    def model(min_count):
        uni, big = Counter(), Counter()
        for t in texts:
            ts = t.split(" ")
            uni.update(ts)
            big.update(zip(ts, ts[1:]))
        n1, nb = sum(uni.values()), sum(big.values())
        out = []
        for (x, y), c in big.items():
            if c < min_count:
                continue
            # same ratio form and association order as the operator
            r = (c / uni[x]) * (n1 / uni[y]) * (n1 / nb)
            out.append((x, y, c, py_micro_log2(r)))
        out.sort(key=lambda t: (-t[3], t[0], t[1]))
        return out

    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    for min_count in (1, 2, 3):
        got = [
            (r["x"], r["y"], r["c_xy"], r["pmi_q20"])
            for r in collocations(
                df, min_count=min_count, top_k=50
            ).collect()
        ]
        assert got == model(min_count), f"min_count={min_count}"
    # "new york" (joint 3, parts frequent) must outrank a hapax pair of
    # hapax parts?  no — hapax/hapax maximizes PMI; assert instead that
    # the frequent-pair row is present with its exact support
    row = [g for g in got if (g[0], g[1]) == ("new", "york")]
    assert row and row[0][2] == 3


def test_prefix_jaccard_join_is_exact_vs_brute_force(spark):
    # the zero-loss claim: prefix filtering + length filter must emit
    # EXACTLY the brute-force O(n²) answer — including pairs right at
    # the threshold boundary and pairs whose only shared tokens are
    # corpus-frequent (caught because BOTH prefixes still overlap)
    import random

    from mvrepair.operators.dedup import prefix_jaccard_pairs

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(40):
        m = rng.randint(2, 12)
        docs.append((i, " ".join(rng.sample(vocab, m))))
    # a few engineered near-dups and one exact dup
    docs.append((100, docs[0][1] + " extra"))
    docs.append((101, docs[1][1]))
    # boundary pair: |A|=2, |B|=2, inter=1 -> J = 1/3; |A∩B|=2 of 3 -> 0.5
    docs.append((102, "qq rr ss"))
    docs.append((103, "qq rr tt"))  # J = 2/4 = 0.5, exactly at t

    def brute(threshold):
        sets = {i: set(t.split(" ")) for i, t in docs}
        out = set()
        ids = sorted(sets)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                inter = len(sets[a] & sets[b])
                union = len(sets[a] | sets[b])
                if union and inter / union >= threshold:
                    out.add((a, b))
        return out

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    for t in (0.5, 0.34, 0.8):
        got = {
            (r["id_a"], r["id_b"])
            for r in prefix_jaccard_pairs(df, threshold=t, n=1).collect()
        }
        assert got == brute(t), f"threshold={t}"
    assert (102, 103) in brute(0.5)  # the boundary pair really is at t


def test_activity_islands_merge_semantics(spark):
    from mvrepair.operators.temporal import activity_islands

    rows = [
        # user 1: [0,10) + [5,8) nested + [10,12) touching -> one island
        # [0,12); then gap; [20,21) -> second island
        (1, 0, 10), (1, 5, 8), (1, 10, 12), (1, 20, 21),
        # user 2: zero-length interval at 5 inside [0,10) merges; a
        # zero-length at 15 is its own (empty) island
        (2, 0, 10), (2, 5, 5), (2, 15, 15),
        # user 3: identical duplicate intervals -> one island
        (3, 3, 7), (3, 3, 7),
    ]
    df = spark.createDataFrame(rows, ["k", "s", "e"])
    got = {
        r["k"]: (r["n_islands"], r["covered_us"], r["max_island_us"])
        for r in activity_islands(
            df, key_col="k", start_col="s", end_col="e"
        ).collect()
    }
    assert got == {
        1: (2, 13, 12),   # [0,12) + [20,21)
        2: (2, 10, 10),   # [0,10) + [15,15)
        3: (1, 4, 4),
    }


def test_skyline_2d_semantics(spark):
    """Dominance is strict-somewhere: duplicates both survive, equal-x
    points keep only the min-y one, and any point with a cheaper-or-equal
    neighbor at lower-or-equal y on both axes (strict on one) drops."""
    from mvrepair.operators.dominance import skyline_2d

    rows = [
        # (id, price, size)
        (1, 10.0, 5),   # skyline (cheapest)
        (2, 10.0, 7),   # dominated by 1 (same x, larger y)
        (3, 12.0, 5),   # dominated by 1 (larger x, same y)
        (4, 12.0, 3),   # skyline (cheaper y than anything cheaper)
        (5, 12.0, 3),   # duplicate of 4 -> both survive
        (6, 15.0, 3),   # dominated by 4 (same y, higher x)
        (7, 15.0, 1),   # skyline
        (8, 20.0, 1),   # dominated by 7
    ]
    df = spark.createDataFrame(rows, ["id", "x", "y"])
    got = sorted(
        r["id"] for r in skyline_2d(df, x="x", y="y", keep=["id"]).collect()
    )
    assert got == [1, 4, 5, 7]


def test_skyline_2d_matches_brute_force(spark):
    """Pseudo-random grid vs the O(n²) dominance definition."""
    from mvrepair.operators.dominance import skyline_2d

    pts = [
        (i, float((i * 7919) % 97), (i * 6007) % 53) for i in range(300)
    ]
    brute = [
        (i, x, y)
        for (i, x, y) in pts
        if not any(
            qx <= x and qy <= y and (qx < x or qy < y)
            for (_, qx, qy) in pts
        )
    ]
    df = spark.createDataFrame(pts, ["id", "x", "y"])
    got = sorted(
        (r["id"], r["x"], r["y"])
        for r in skyline_2d(df, x="x", y="y", keep=["id"]).collect()
    )
    assert got == sorted(brute)


def test_skyline_2d_no_cartesian(spark):
    """The whole point: dominance WITHOUT a non-equi self-join."""
    from mvrepair.operators.dominance import skyline_2d

    df = spark.createDataFrame([(1, 1.0, 1)], ["id", "x", "y"])
    plan = (
        skyline_2d(df, x="x", y="y", keep=["id"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_skyline_2d_all_distinct_x_bucketed_equals_brute(spark):
    """The r8 verdict #2 adversarial fixture: EVERY x distinct, so the
    per-x frame is corpus-sized and the old single-partition running-min
    window was one sort task.  The bucket decomposition must (a) agree
    with the O(n²) dominance definition on such data at several widths
    (boundary widths 1 -> fallback, 2, 7, 4096 -> one bucket), and
    (b) agree with the fallback path exactly."""
    from mvrepair.operators.dominance import skyline_2d

    # all-distinct integer x; y bounces so the skyline is nontrivial
    pts = [(i, i * 3 + (i * 7919) % 5, (i * 6007) % 53) for i in range(400)]
    assert len({x for _, x, _ in pts}) == len(pts)
    brute = sorted(
        (i, x, y)
        for (i, x, y) in pts
        if not any(
            qx <= x and qy <= y and (qx < x or qy < y)
            for (_, qx, qy) in pts
        )
    )
    df = spark.createDataFrame(pts, ["id", "x", "y"])
    for width in (1, 2, 7, 4096):
        got = sorted(
            (r["id"], r["x"], r["y"])
            for r in skyline_2d(
                df, x="x", y="y", keep=["id"], bucket_width=width
            ).collect()
        )
        assert got == brute, f"bucket_width={width} diverged from brute"


def test_skyline_2d_no_unpartitioned_window_over_per_x_frame(spark):
    """Plan pin for the r8 verdict #2 fix: on numeric x the only
    unpartitioned window runs over the BUCKET frame (one agg below it);
    every window over the per-x frame is partitioned by the bucket key.
    The fallback (non-numeric x) keeps the old single-partition shape."""
    from mvrepair.operators.dominance import skyline_2d

    df = spark.createDataFrame([(1, 1.0, 1)], ["id", "x", "y"])
    plan = (
        skyline_2d(df, x="x", y="y", keep=["id"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re

    windows = re.findall(r"Window \[.*", plan)
    assert windows, "expected window nodes in the skyline plan"
    # a windowspecdefinition with NO partition clause starts its arg
    # list with an ordering expression ("col ASC/DESC ..."); a
    # partitioned one starts with the bare partition column
    unpartitioned = [
        w
        for w in windows
        for first_arg in [
            re.search(r"windowspecdefinition\(([^,]*),", w).group(1)
        ]
        if " ASC" in first_arg or " DESC" in first_arg
    ]
    # exactly one unpartitioned window — the bucket-frame prefix min —
    # and it must compute over __bmin (the per-bucket aggregate), never
    # over __min_y (the per-x frame)
    assert len(unpartitioned) == 1, plan
    assert "__bmin" in unpartitioned[0], unpartitioned[0]
    # string x -> fallback single-partition window still works
    df2 = spark.createDataFrame([("a", 1)], ["x", "y"])
    got = skyline_2d(df2, x="x", y="y").collect()
    assert [(r["x"], r["y"]) for r in got] == [("a", 1)]


def _py_morton(vals: list[int], bits: int) -> int:
    n = len(vals)
    z = 0
    for d, v in enumerate(vals):
        for i in range(bits):
            z |= ((v >> i) & 1) << (i * n + (n - 1 - d))
    return z


def test_z_value_matches_python_reference(spark):
    """Spark Morton interleave vs a plain-Python bit loop on a grid."""
    from mvrepair.operators.layout import z_value

    import pyspark.sql.functions as SF

    rows = [(a, b) for a in range(0, 256, 17) for b in range(0, 256, 23)]
    df = spark.createDataFrame(rows, ["a", "b"])
    got = {
        (r["a"], r["b"]): r["z"]
        for r in df.select(
            "a", "b", z_value([SF.col("a"), SF.col("b")], bits=8).alias("z")
        ).collect()
    }
    for a, b in rows:
        assert got[(a, b)] == _py_morton([a, b], 8), (a, b)


def test_z_value_sql_matches_spark(spark):
    """Cross-engine: the generated ANSI rendering evaluates to the same
    z-values in DuckDB as the Column expression does in Spark."""
    import duckdb

    import pyspark.sql.functions as SF
    from mvrepair.operators.layout import z_value, z_value_sql

    rows = [(a, b) for a in range(0, 256, 31) for b in range(0, 256, 29)]
    df = spark.createDataFrame(rows, ["a", "b"])
    spark_z = sorted(
        (r["a"], r["b"], r["z"])
        for r in df.select(
            "a", "b", z_value([SF.col("a"), SF.col("b")], bits=8).alias("z")
        ).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t(a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    duck_z = sorted(
        con.execute(
            f"SELECT a, b, {z_value_sql(['a', 'b'], 8)} FROM t"
        ).fetchall()
    )
    assert spark_z == duck_z


def test_zorder_layout_prunes_and_conserves(spark):
    """The layout report's pruning property: per-bucket per-dimension
    spans are a small fraction of the domain (that IS the min-max file
    skipping win), bucket counts conserve the corpus, normalization
    endpoints land exactly on 0 and 2^bits - 1."""
    from mvrepair.operators.layout import zorder_layout

    n = 4096
    rows = [((i * 337) % 1000 + 500, (i * 811) % 2000 + 100) for i in range(n)]
    df = spark.createDataFrame(rows, ["x", "y"])
    rep = zorder_layout(df, ["x", "y"], bits=8, bucket_bits=4).collect()
    assert sum(r["n_rows"] for r in rep) == n
    assert all(0 <= r["zbucket"] < 16 for r in rep)
    # each of the 16 buckets covers ~1/4 of each dimension's domain
    # (4 bucket bits = 2 top bits per dimension): spans must be under
    # ~35% of the domain, vs 100% for an unclustered layout
    x_dom = max(x for x, _ in rows) - min(x for x, _ in rows)
    y_dom = max(y for _, y in rows) - min(y for _, y in rows)
    for r in rep:
        assert (r["x_max"] - r["x_min"]) <= 0.35 * x_dom, r
        assert (r["y_max"] - r["y_min"]) <= 0.35 * y_dom, r


def test_zorder_write_measured_file_skipping(spark, tmp_path):
    """The writer closes the report's evidence loop: after
    ``zorder_write`` the per-FILE min-max stats prune a point predicate
    on EVERY interleaved dimension, measurably better than an unsorted
    write of the same rows, and at least as well as the report's
    per-bucket span prediction (bucket_bits = log2(n_files))."""
    from mvrepair.operators.layout import (
        files_skipped,
        layout_file_stats,
        zorder_layout,
        zorder_write,
    )

    n = 4096
    rows = [((i * 337) % 1000 + 500, (i * 811) % 2000 + 100) for i in range(n)]
    df = spark.createDataFrame(rows, ["x", "y"])

    zpath = str(tmp_path / "zsorted")
    bpath = str(tmp_path / "unsorted")
    zorder_write(df, zpath, ["x", "y"], bits=8, n_files=16)
    df.repartition(16).write.mode("overwrite").parquet(bpath)

    zstats = layout_file_stats(spark, zpath, ["x", "y"]).collect()
    bstats = layout_file_stats(spark, bpath, ["x", "y"]).collect()
    assert sum(r["n_rows"] for r in zstats) == n  # conservation

    # the report's prediction at the same granularity: 16 buckets =
    # bucket_bits 4 = 2 top bits per dimension -> each bucket spans
    # ~1/4 of each domain, so a point predicate overlaps ~1/4 of files
    rep = zorder_layout(df, ["x", "y"], bits=8, bucket_bits=4).collect()
    doms = {
        "x": max(x for x, _ in rows) - min(x for x, _ in rows),
        "y": max(y for _, y in rows) - min(y for _, y in rows),
    }
    for dim in ("x", "y"):
        pred_overlap = sum(
            (r[f"{dim}_max"] - r[f"{dim}_min"]) / doms[dim] for r in rep
        ) / len(rep)
        probes = [700, 900, 1200] if dim == "x" else [400, 1000, 1800]
        for p in probes:
            zskip, ztot = files_skipped(zstats, dim, p)
            bskip, btot = files_skipped(bstats, dim, p)
            # unsorted: every file spans ~the whole domain -> ~0 skipped
            assert bskip / btot <= 0.2, (dim, p, bskip, btot)
            # z-ordered: most files skipped, and no worse than ~the
            # report's predicted overlap fraction (range boundaries come
            # from a sample, so allow 2x slack on the prediction)
            assert zskip / ztot >= 0.5, (dim, p, zskip, ztot)
            assert (ztot - zskip) / ztot <= 2.0 * pred_overlap + 1 / ztot, (
                dim, p, zskip, ztot, pred_overlap,
            )


def test_zorder_validation_errors(spark):
    """bucket_bits outside [0, bits*n_dims] and empty inputs fail
    loudly (Java's shift-mod-64 would otherwise silently diverge from
    the oracle; None stats would TypeError inside int()); the
    normalize_expr domain-width precondition rejects products past
    2^53."""
    import pyspark.sql.functions as SF
    import pytest as _pytest

    from mvrepair.operators.layout import normalize_expr, zorder_layout

    df = spark.createDataFrame([(1, 2), (3, 4)], ["x", "y"])
    with _pytest.raises(ValueError, match="bucket_bits"):
        zorder_layout(df, ["x", "y"], bits=8, bucket_bits=17)
    with _pytest.raises(ValueError, match="empty input"):
        zorder_layout(df.filter(SF.lit(False)), ["x", "y"])
    with _pytest.raises(ValueError, match="2\\^53"):
        normalize_expr(SF.col("x"), 0, 1 << 60, bits=8)


def test_zorder_normalization_endpoints_exact(spark):
    """min -> 0 and max -> 2^bits - 1, exactly, including a span that
    does not divide the bit range."""
    from mvrepair.operators.layout import normalize_expr

    import pyspark.sql.functions as SF

    df = spark.createDataFrame([(7,), (1000,), (123456789,)], ["v"])
    got = [
        r["n"]
        for r in df.select(
            normalize_expr(SF.col("v"), 7, 123456789, bits=8).alias("n")
        ).collect()
    ]
    assert got[0] == 0 and got[2] == 255
    assert 0 <= got[1] <= 255


def test_weighted_sample_per_group_matches_per_stratum_global(spark):
    """The stratified sampler's defining property: each stratum's
    sample equals what the GLOBAL A-ES sampler would pick from that
    stratum alone (identical priority arithmetic, identical ties) —
    so per-group caps change allocation, never the within-stratum
    design."""
    import pyspark.sql.functions as SF

    from mvrepair.operators.sampling import (
        weighted_sample,
        weighted_sample_per_group,
    )

    rows = [
        (i, ["alpha", "beta", "gamma"][i % 3], (i * 37) % 50 + 1)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "w"])
    grouped = weighted_sample_per_group(
        df, n_per_group=7, weight=SF.col("w"), group_col="source"
    ).collect()
    for src in ("alpha", "beta", "gamma"):
        got = [
            (r["doc_id"], r["weight"], r["priority"])
            for r in sorted(
                (r for r in grouped if r["source"] == src),
                key=lambda r: r["rank"],
            )
        ]
        want = [
            (r["doc_id"], r["weight"], r["priority"])
            for r in weighted_sample(
                df.filter(SF.col("source") == src),
                n=7,
                weight=SF.col("w"),
            ).collect()
        ]
        assert got == want, src


def test_kmv_distinct_by_matches_per_group_global(spark):
    """Per-group KMV rows equal the global kmv_distinct run on each
    group alone — grouping changes the execution shape (one rank
    window instead of per-group jobs), never the estimator."""
    from mvrepair.operators.sketch import kmv_distinct, kmv_distinct_by

    rows = [
        (f"g{i % 2}", f"tok{(i * 7) % 40}" if i % 2 else f"t{i % 90}")
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, ["g", "v"])
    by = {r["g"]: r for r in kmv_distinct_by(df, "g", "v", k=16).collect()}
    import pyspark.sql.functions as SF

    for g in ("g0", "g1"):
        solo = kmv_distinct(df.filter(SF.col("g") == g), "v", k=16).collect()[0]
        got = by[g]
        assert (got["n_seen"], got["kth_min"], got["est_distinct"]) == (
            solo["n_seen"], solo["kth_min"], solo["est_distinct"]
        ), g


def test_bloom_semijoin_no_false_negatives_and_fp_rate(spark):
    """The Bloom reduction's load-bearing properties: (a) NO false
    negatives — every fact row whose key IS in the dim survives the
    prune (this is what makes bloom-prune + exact join semantically
    identical to the plain join); (b) the false-positive rate on
    non-member keys tracks the (1-e^(-kn/m))^k design prediction;
    (c) the prune is a map-side Filter — no join, no shuffle, no UDF
    in its plan."""
    import math

    from mvrepair.operators.sketch import bloom_semijoin

    m_bits, k_hashes = 1024, 4
    dim = spark.createDataFrame([(i,) for i in range(100)], ["k"])
    fact = spark.createDataFrame(
        [(i, i % 7) for i in range(4000)], ["k", "v"]
    )
    pruned = bloom_semijoin(fact, "k", dim, "k", m_bits, k_hashes)
    kept = {r["k"] for r in pruned.collect()}
    members = set(range(100))
    assert members <= kept  # (a) zero false negatives, exhaustively
    fp = len(kept - members) / (4000 - 100)
    predicted = (1 - math.exp(-k_hashes * 100 / m_bits)) ** k_hashes
    assert fp <= 3 * predicted + 0.01, (fp, predicted)  # (b)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    for node in ("Join", "Exchange", "BatchEvalPython"):  # (c)
        assert node not in plan, plan


def test_bloom_build_rejects_bad_width(spark):
    from mvrepair.operators.sketch import bloom_build

    import pytest as _pytest

    df = spark.createDataFrame([(1,)], ["k"])
    with _pytest.raises(ValueError, match="multiple of 64"):
        bloom_build(df, "k", m_bits=100)


def test_banded_neardup_superset_and_table0_identity(spark):
    """Banding is OR-amplification: the n_tables=2 pair set contains the
    single-table set (superset), and n_tables=1 is bit-identical to
    cosine_neardup_pairs (table 0 uses the same plane slice)."""
    from mvrepair.operators.similarity import (
        cosine_neardup_pairs,
        cosine_neardup_pairs_banded,
    )

    import math

    # pairs engineered NEAR the threshold (cosine ~0.92, θ≈23°): each
    # plane misses with prob ~0.13, so one 8-plane table misses many and
    # banding visibly recovers — a trivially-parallel fixture (+0.01
    # noise) saturates recall at 1 table and proves nothing
    rows = []
    for i in range(60):
        base = [((i * 7 + j * 3) % 13 - 6) / 6.0 for j in range(8)]
        pert = [((i * 11 + j * 5) % 9 - 4) / 9.0 for j in range(8)]
        nb = math.sqrt(sum(x * x for x in base))
        npv = math.sqrt(sum(x * x for x in pert))
        w = [base[j] / nb + 0.42 * pert[j] / npv for j in range(8)]
        rows.append((2 * i, [x / nb for x in base]))
        rows.append((2 * i + 1, w))
    q = {i: [math.floor(x * 1e6) for x in v] for i, v in rows}

    def pydot(a, b):
        return sum(x * y for x, y in zip(a, b))

    ids = sorted(q)
    true = {
        (ia, ib)
        for ai, ia in enumerate(ids)
        for ib in ids[ai + 1:]
        if pydot(q[ia], q[ib])
        / (math.sqrt(pydot(q[ia], q[ia])) * math.sqrt(pydot(q[ib], q[ib])))
        >= 0.9
    }
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    def pairs(d):
        return {(r["id_a"], r["id_b"]) for r in d.collect()}

    single = pairs(cosine_neardup_pairs(df, dim=8, threshold=0.9))
    one_table = pairs(
        cosine_neardup_pairs_banded(df, dim=8, threshold=0.9, n_tables=1)
    )
    banded = pairs(
        cosine_neardup_pairs_banded(df, dim=8, threshold=0.9, n_tables=3)
    )
    assert one_table == single          # table 0 identity
    assert single <= banded <= true     # superset, precision 1
    assert len(banded) > len(single)    # OR-amplification recovers pairs
    # measured on this fixture: 279 -> 401 of 620 true pairs


def test_weighted_sample_matches_python_aes(spark):
    """A-ES priority sampling vs a plain-Python replica built on
    py_micro_log2 and the same md5-based uniform — the exact-arithmetic
    contract, including the truncating key division and id tie-break."""
    import hashlib
    import math

    from mvrepair.functions.exactlog import py_micro_log2
    from mvrepair.operators.sampling import weighted_sample

    import pyspark.sql.functions as SF

    rows = [(i, (i * 13) % 7 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    got = [
        (r["doc_id"], r["weight"], r["priority"])
        for r in weighted_sample(
            df, n=20, weight=SF.col("w"), id_col="doc_id"
        ).collect()
    ]

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    m = 1 << 31
    expect = []
    for i, w in rows:
        u = ((h60(str(i)) % m) + 1) / m
        ls = py_micro_log2(u) * 1_000_000
        prio = int(math.trunc((ls - math.fmod(ls, w)) / w))
        expect.append((-prio, i, w))
    expect.sort()
    assert got == [(i, w, -np) for np, i, w in expect[:20]]


def test_weighted_sample_priority_monotone_in_weight(spark):
    """Same u (same id), larger weight -> priority closer to zero (more
    likely sampled) — the defining A-ES property, preserved by the
    quantized key."""
    from mvrepair.operators.sampling import weighted_sample

    import pyspark.sql.functions as SF

    df = spark.createDataFrame(
        [(1, 1), (1, 5), (1, 50), (1, 5000)], ["doc_id", "w"]
    )
    ps = [
        r["priority"]
        for r in weighted_sample(df, n=4, weight=SF.col("w"), id_col="doc_id")
        .orderBy("weight")
        .collect()
    ]
    # priorities are negative; monotone non-decreasing with weight
    assert ps == sorted(ps) and all(p <= 0 for p in ps)


def test_pq_ivf_topk_matches_python_adc(spark):
    """IVF-PQ vs a plain-Python replica of the whole compressed-domain
    pipeline: quantize, per-subspace cosine-argmax encode against the
    trained codebooks, coarse probe, ADC score, rank.  Proves the codes,
    the lookup-table sums, and the reconstruction norm all match the
    operator's exact-arithmetic contract."""
    import math

    from mvrepair.operators.similarity import pq_ivf_topk, pq_train

    dim, m, kk = 8, 2, 4
    sub = dim // m
    vecs = [
        (i, [((i * 31 + j * 17) % 19 - 9) / 10.0 + (1e-3 if j == i % 8 else 0)
             for j in range(dim)])
        for i in range(40)
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    queries = df.filter(df.vec_id % 10 == 0)
    books = pq_train(df, dim=dim, m=m, k=kk, iters=2)
    got = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["cosine_micro"])
        for r in pq_ivf_topk(
            df, queries, dim=dim, codebooks=books, k=3,
            n_centroids=4, n_probe=2,
        ).collect()
    )

    # ---- python replica ----
    def quant(v):
        return [math.floor(x * 1_000_000) for x in v]

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    q = {i: quant(v) for i, v in vecs}
    norm = {i: math.sqrt(float(dot(qv, qv))) for i, qv in q.items()}
    cents = sorted(q)[:4]

    def best_cent(i):
        sims = [
            (dot(q[i], q[c]) / (norm[i] * norm[c]), -c) for c in cents
        ]
        s, nc = max(sims)
        return -nc

    def codes(i):
        out = []
        for s in range(m):
            qs = q[i][s * sub:(s + 1) * sub]
            sn = math.sqrt(float(dot(qs, qs)))
            cands = [
                (dot(qs, cw) / (sn * math.sqrt(float(dot(cw, cw)))), -ci)
                for ci, cw in enumerate(books[s])
            ]
            _, nci = max(cands)
            out.append(-nci)
        return out

    assigned = {i: best_cent(i) for i in q}
    code_of = {i: codes(i) for i in q}
    expect = []
    for qi in sorted(i for i in q if i % 10 == 0):
        probe_sims = sorted(
            ((-dot(q[qi], q[c]) / (norm[qi] * norm[c]), c) for c in cents),
        )[:2]
        probed = {c for _, c in probe_sims}
        scored = []
        for ni in q:
            if ni == qi or assigned[ni] not in probed:
                continue
            adc = sum(
                dot(q[qi][s * sub:(s + 1) * sub], books[s][code_of[ni][s]])
                for s in range(m)
            )
            recon = sum(
                dot(books[s][code_of[ni][s]], books[s][code_of[ni][s]])
                for s in range(m)
            )
            sim = adc / (norm[qi] * math.sqrt(float(recon)))
            scored.append((-sim, ni))
        for rank, (nsim, ni) in enumerate(sorted(scored)[:3], start=1):
            expect.append((qi, rank, ni, math.floor(-nsim * 1_000_000)))
    assert got == sorted(expect)


def test_pq_train_slices_commute_with_quantization(spark):
    """Codebooks trained on sliced floats equal slices of what training
    on the full vector's quantization would see — the exactness claim
    that lets the oracle replay per-subspace chains on list_slice."""
    from mvrepair.operators.similarity import _quant, pq_train

    import pyspark.sql.functions as SF

    vecs = [(i, [((i * 7 + j) % 11 - 5) / 7.0 for j in range(8)])
            for i in range(12)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    books = pq_train(df, dim=8, m=2, k=3, iters=1)
    full_q = {
        r["vec_id"]: r["q"]
        for r in df.select(
            "vec_id", _quant(SF.col("embedding")).alias("q")
        ).collect()
    }
    # init centroids are the 3 lowest-id vectors' subvectors: iteration 0
    # averages assigned members, all exact ints — just check shapes +
    # that every codeword element appears as an exact integer
    assert len(books) == 2 and all(len(b) == 3 for b in books)
    assert all(
        isinstance(x, int) for b in books for cw in b for x in cw
    )
    # and the quantized slice of vec 0 equals slicing the full quant
    assert full_q[0][:4] == _quant_py(vecs[0][1])[:4]


def _quant_py(v):
    import math

    return [math.floor(float(x) * 1_000_000) for x in v]


def test_train_kmeans_multi_equals_per_slice_chains(spark):
    """The r11 joint trainer's contract: ``train_kmeans_multi`` over a
    list of slices is BIT-IDENTICAL to running ``train_kmeans`` on each
    sliced projection independently (pq_train and the trained-coarse
    IVF-PQ chain both delegate to it, so this equality is what keeps
    their oracle hashes unchanged)."""
    import pyspark.sql.functions as SF

    from mvrepair.operators.similarity import (
        train_kmeans,
        train_kmeans_multi,
    )

    vecs = [
        (i, [((i * 13 + 5 * j) % 17 - 8) / 9.0 for j in range(8)])
        for i in range(20)
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    slices = [(0, 8), (0, 4), (4, 4)]  # full + two halves, ragged mix
    joint = train_kmeans_multi(df, slices, k=3, iters=3)
    for (start, length), book in zip(slices, joint):
        solo = train_kmeans(
            df.select(
                "vec_id",
                SF.slice(
                    SF.col("embedding"), start + 1, length
                ).alias("embedding"),
            ),
            k=3,
            iters=3,
        )
        assert book == solo, f"slice ({start},{length}) diverged"


def test_bigram_lm_scores_matches_python_model(spark):
    """Exact-model check: hashed-bigram add-one LM vs a plain-Python
    replica built on py_micro_log2 (the cross-engine-exact quantizer).
    Small bucket count forces hash collisions on purpose."""
    import hashlib
    from collections import Counter

    from mvrepair.functions.exactlog import py_micro_log2
    from mvrepair.operators.lm import bigram_lm_scores

    B = 16
    docs = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat"),
        (3, "a dog barked at the cat and the dog ran"),
        (4, "single"),          # no bigram -> absent from output
        (5, "the the the the"),  # repeated-pair counts
    ]

    def h(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % B

    insts, cb = {}, Counter()
    for d, text in docs:
        toks = text.split(" ")
        ps = [(h(toks[i]), h(toks[i + 1])) for i in range(len(toks) - 1)]
        insts[d] = ps
        cb.update(ps)
    ctx = Counter()
    for (b1, _), c in cb.items():
        ctx[b1] += c
    w = {
        k: py_micro_log2((c + 1) / (ctx[k[0]] + B)) for k, c in cb.items()
    }
    expect = {}
    for d, ps in insts.items():
        if not ps:
            continue
        nll = -sum(w[p] for p in ps)
        expect[d] = (len(ps), nll, nll // len(ps))

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_bigrams"], r["nll_q20"], r["bpt_q20"])
        for r in bigram_lm_scores(df, buckets=B).collect()
    }
    assert got == expect
    assert 4 not in got


def test_kcore_peel_cascade_semantics(spark):
    """Peeling cascades: removing a chain's endpoints re-exposes its
    interior, round by round; a clique at degree >= k never peels."""
    from mvrepair.operators.linkage import kcore_peel

    # triangle {1,2,3} (all degree 2) + chain 3-4, 4-5, 5-6
    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (5, 6)]
    df = spark.createDataFrame(edges, ["item_a", "item_b"])

    # k=2, enough rounds: chain peels back to the triangle
    got = {
        r["node"]: r["deg"]
        for r in kcore_peel(df, k=2, rounds=3).collect()
    }
    assert got == {1: 2, 2: 2, 3: 2}

    # fixed-round semantics: one round only peels the current leaves
    got1 = {
        r["node"]: r["deg"]
        for r in kcore_peel(df, k=2, rounds=1).collect()
    }
    # round 1 removes node 6 (deg 1); 5 survives with deg 1 (not yet
    # re-checked) — the upper-approximation contract
    assert got1 == {1: 2, 2: 2, 3: 3, 4: 2, 5: 1}

    # k above the max degree empties the graph
    assert kcore_peel(df, k=5, rounds=2).count() == 0


def test_minhash_calibration_grid(spark):
    """Identical docs land on the (16, 10) diagonal cell; disjoint docs
    that collide in no band produce no cell at all."""
    from mvrepair.operators.dedup import minhash_calibration

    docs = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),       # exact dup of 1
        (3, "one two three four five six seven eight"),    # unrelated
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    grid = {
        (r["matches"], r["jaccard_decile"]): r["n_pairs"]
        for r in minhash_calibration(df).collect()
    }
    assert grid.get((16, 10)) == 1          # the duplicate pair
    assert all(m == 16 for (m, _) in grid)  # no spurious candidates


def test_scd2_history_run_semantics(spark):
    """Consecutive equal values collapse; a value RETURNING later opens
    a new run (SCD2, not a distinct list); last run per key is open."""
    from mvrepair.operators.temporal import scd2_history
    import datetime as dt

    def ts(s):
        return dt.datetime(2024, 1, 1, 0, 0, s)

    rows = [
        # (event_id, ts, user_id, event_type)
        (1, ts(0), 1, "free"),
        (2, ts(10), 1, "free"),
        (3, ts(20), 1, "pro"),
        (4, ts(30), 1, "free"),   # returns -> third run
        (5, ts(5), 2, "trial"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {
        (r["user_id"], r["run_seq"]): (
            r["value"], r["valid_from_us"], r["valid_to_us"], r["n_events"]
        )
        for r in scd2_history(df).collect()
    }
    base = int(dt.datetime(2024, 1, 1).timestamp()) * 1_000_000
    assert got == {
        (1, 1): ("free", base, base + 20_000_000, 2),
        (1, 2): ("pro", base + 20_000_000, base + 30_000_000, 1),
        (1, 3): ("free", base + 30_000_000, None, 1),
        (2, 1): ("trial", base + 5_000_000, None, 1),
    }


def test_event_paths_ordering_and_cut(spark):
    """Paths follow the (ts, event_id) order; the top-k cut breaks count
    ties by the path itself."""
    from mvrepair.operators.temporal import event_paths
    import datetime as dt

    def ts(s):
        return dt.datetime(2024, 1, 1, 0, 0, s)

    rows = [
        (1, ts(0), 1, "a"), (2, ts(1), 1, "b"), (3, ts(2), 1, "c"),
        (4, ts(3), 1, "d"),
        # user 2: same ts for 2 events -> event_id breaks the tie
        (5, ts(0), 2, "a"), (7, ts(1), 2, "c"), (6, ts(1), 2, "b"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = [
        (r["step_1"], r["step_2"], r["step_3"], r["n"])
        for r in event_paths(df, k=2).collect()
    ]
    # user 1 yields abc, bcd; user 2 yields abc (id order: 5,6,7)
    assert got == [("a", "b", "c", 2), ("b", "c", "d", 1)]


def test_semantic_leakage_grid(spark):
    """A known near-dup pair lands in the grid cell of its two sides'
    hash splits; orthogonal vectors contribute nothing."""
    import hashlib

    from pyspark.sql import functions as F

    from mvrepair.operators.sampling import hash_split
    from mvrepair.operators import similarity as S

    dim = 64
    def vec(i, scale=1.0):
        v = [0.0] * dim
        v[i % dim] = scale
        return v

    rows = [
        (1, vec(0)), (2, vec(0, 0.5)),      # cosine 1.0 pair
        (3, vec(1)), (4, vec(2)),            # orthogonal to everything
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    splits = [("train", 0, 80), ("val", 80, 90), ("test", 90, 100)]
    pairs = S.cosine_neardup_pairs(df, dim=dim, threshold=0.9)
    sp = hash_split(df.select("vec_id"), id_col="vec_id", splits=splits)
    a = sp.select(F.col("vec_id").alias("id_a"), F.col("split").alias("sa"))
    b = sp.select(F.col("vec_id").alias("id_b"), F.col("split").alias("sb"))
    got = {
        (r["split_a"], r["split_b"]): r["n_pairs"]
        for r in pairs.join(a, "id_a").join(b, "id_b")
        .select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .collect()
    }

    def split_of(i):
        bkt = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 100
        return "train" if bkt < 80 else ("val" if bkt < 90 else "test")

    expect_cell = tuple(sorted([split_of(1), split_of(2)]))
    assert got == {expect_cell: 1}


def test_cosine_neardup_max_bucket_cap(spark):
    """Degenerate buckets (k copies of one hot vector) drop under the
    cap; normal pairs survive."""
    from mvrepair.operators import similarity as S

    dim = 64
    hot = [1.0] + [0.0] * (dim - 1)
    other = [0.0, 3.0] + [0.0] * (dim - 2)
    rows = [(i, hot) for i in range(5)] + [(10, other), (11, other)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    uncapped = S.cosine_neardup_pairs(df, dim=dim, threshold=0.9)
    assert uncapped.count() == 10 + 1  # C(5,2) hot pairs + the other pair

    capped = S.cosine_neardup_pairs(df, dim=dim, threshold=0.9, max_bucket=3)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert got == {(10, 11)}  # the 5-copy bucket dropped whole


def test_hll_merge_equals_direct_sketch(spark):
    """Register-wise max-merge of per-group sketches == sketching the
    union directly — the mergeability contract (partial aggregation /
    shard union) that makes the sketch usable at 100 TB."""
    from pyspark.sql import functions as F

    from mvrepair.operators.sketch import hll_fold, hll_registers

    df = spark.range(5000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.concat(F.lit("u"), F.col("id")).alias("v"),
    )
    per_group = hll_registers(df, "v", ["g"])
    merged = {
        (r.register, r.rho)
        for r in per_group.groupBy("register")
        .agg(F.max("rho").alias("rho"))
        .collect()
    }
    direct = {
        (r.register, r.rho) for r in hll_registers(df, "v").collect()
    }
    assert merged == direct
    est = hll_fold(hll_registers(df, "v")).collect()[0]
    assert est.regs_set + est.zero_regs == est.m == 128
    # raw estimator (no bias correction): allow 3 standard errors
    assert abs(est.est_distinct - 5000) / 5000 < 3 * 1.04 / (128 ** 0.5)


def test_hll_duplicates_do_not_move_registers(spark):
    from pyspark.sql import functions as F

    from mvrepair.operators.sketch import hll_registers

    base = spark.range(1000).select(
        F.concat(F.lit("d"), F.col("id")).alias("v")
    )
    doubled = base.unionAll(base)
    a = sorted(map(tuple, hll_registers(base, "v").collect()))
    b = sorted(map(tuple, hll_registers(doubled, "v").collect()))
    assert a == b


def test_dq_report_verdicts_and_single_pass(spark):
    from pyspark.sql import functions as F

    from mvrepair.operators import dq

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", 7.0), (2, None, -1.0)],
        "id bigint, name string, score double",
    )
    checks = [
        dq.completeness("id"),
        dq.completeness("name"),
        dq.unique(["id"]),
        dq.satisfies("score_positive", F.col("score") > 0),
    ]
    rows = {r.check: (r.value, r.passed) for r in dq.dq_report(df, checks).collect()}
    assert rows["n_rows"] == (3, True)
    assert rows["complete(id)"] == (0, True)
    assert rows["complete(name)"] == (1, False)
    assert rows["unique(id)"] == (2, False)
    assert rows["satisfies(score_positive)"] == (1, False)
    # single pass: exactly one Aggregate subtree feeds the explode
    plan = dq.dq_report(df, checks)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Aggregate") <= 2, plan  # partial+final at most


def test_dq_null_predicate_counts_as_violation(spark):
    from pyspark.sql import functions as F

    from mvrepair.operators import dq

    df = spark.createDataFrame([(None,), (5.0,)], "x double")
    rows = {
        r.check: (r.value, r.passed)
        for r in dq.dq_report(df, [dq.satisfies("x_pos", F.col("x") > 0)]).collect()
    }
    assert rows["satisfies(x_pos)"] == (1, False)


def test_dq_rejects_empty_and_duplicate_checks(spark):
    import pytest
    from pyspark.sql import functions as F

    from mvrepair.operators import dq

    df = spark.range(3)
    with pytest.raises(ValueError):
        dq.dq_report(df, [])
    with pytest.raises(ValueError):
        dq.dq_report(
            df,
            [dq.completeness("id"), dq.completeness("id")],
        )


def test_refresh_aggregate_equals_recompute_property(spark):
    """Property-style: for several random delta splits, folding the
    delta into the view built without it reproduces the full recompute
    exactly — count/sum (exact decimal) and min/max bit-for-bit."""
    from pyspark.sql import functions as F

    from mvrepair.operators.maintenance import (
        aggregate_view,
        refresh_aggregate,
    )

    df = spark.range(3000).select(
        (F.col("id") % 41).alias("k"),
        F.col("id").cast("decimal(18,2)").alias("amount"),
        (F.col("id") * 7 % 1000).alias("stamp"),
    )
    measures = [
        ("n", "count", ""),
        ("total", "sum", "amount"),
        ("lo", "min", "stamp"),
        ("hi", "max", "stamp"),
    ]
    want = sorted(
        map(tuple, aggregate_view(df, ["k"], measures).collect())
    )
    for mod, rem in [(7, 0), (13, 5), (2, 1)]:
        is_delta = F.col("id") % mod == rem
        stored = aggregate_view(df.filter(~is_delta), ["k"], measures)
        got = sorted(
            map(
                tuple,
                refresh_aggregate(
                    stored, df.filter(is_delta), ["k"], measures
                ).collect(),
            )
        )
        assert got == want, f"delta id%{mod}=={rem} diverged"


def test_refresh_aggregate_new_keys_appear(spark):
    from pyspark.sql import functions as F

    from mvrepair.operators.maintenance import (
        aggregate_view,
        refresh_aggregate,
    )

    measures = [("n", "count", "")]
    old = spark.createDataFrame([(1,), (1,), (2,)], "k bigint")
    new = spark.createDataFrame([(2,), (3,)], "k bigint")
    stored = aggregate_view(old, ["k"], measures)
    rows = {
        r.k: r.n
        for r in refresh_aggregate(stored, new, ["k"], measures).collect()
    }
    assert rows == {1: 2, 2: 2, 3: 1}


def test_aggregate_view_rejects_unknown_kind(spark):
    import pytest

    from mvrepair.operators.maintenance import aggregate_view

    with pytest.raises(ValueError):
        aggregate_view(spark.range(3), ["id"], [("x", "avg", "id")])


def test_hll_grouping_sets_total_single_scan(spark):
    """The grouped+total register frame (a) matches merging per-group
    sketches, (b) plans exactly ONE FileScan — the one-pass claim."""
    from pyspark.sql import functions as F

    from mvrepair.operators.sketch import (
        hll_registers,
        hll_registers_with_total,
    )

    df = spark.range(4000).select(
        (F.col("id") % 4).cast("string").alias("g"),
        F.concat(F.lit("x"), F.col("id")).alias("v"),
    )
    got = {
        (r.g, r.register): r.rho
        for r in hll_registers_with_total(df, "v", "g").collect()
    }
    per = hll_registers(df, "v", ["g"])
    want = {(r.g, r.register): r.rho for r in per.collect()}
    for r in (
        per.groupBy("register").agg(F.max("rho").alias("rho")).collect()
    ):
        want[("ALL", r.register)] = r.rho
    assert got == want

    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/t")
        plan = (
            hll_registers_with_total(spark.read.parquet(f"{d}/t"), "v", "g")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    assert plan.count("FileScan") == 1, plan
    assert "Expand" in plan


def test_pit_join_never_leaks_future_state(spark, sf_dir):
    """The feature-store property: every attached state became valid AT
    OR BEFORE the fact timestamp, and a hand fixture where the naive
    user_id join WOULD leak (a later state exists) gets the correct
    earlier version."""
    import __spark_entry__ as e
    from pyspark.sql import functions as F

    out = e.queries()["purchase_state_pit"](spark, sf_dir)
    assert out.filter(F.col("state_since_us") > F.col("t_us")).count() == 0
    assert out.count() > 0
    # purchases with no prior signal must still appear, state null
    assert out.filter(F.col("state").isNull()).count() >= 0

    from mvrepair.operators.temporal import asof_join, scd2_history

    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 7, "click"),
            (2, "2024-01-03 00:00:00", 7, "view"),  # AFTER the purchase
        ],
        "event_id bigint, ts string, user_id bigint, event_type string",
    ).select("event_id", F.col("ts").cast("timestamp").alias("ts"),
             "user_id", "event_type")
    dim = scd2_history(ev).select(
        "user_id", F.col("valid_from_us").alias("t_us"), "run_seq", "value"
    )
    fact = spark.createDataFrame(
        [(99, 7, "2024-01-02 00:00:00")],
        "event_id bigint, user_id bigint, ts string",
    ).select("event_id", "user_id",
             F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"))
    got = asof_join(
        fact, dim, ["user_id"], "t_us", ["run_seq", "value"],
        tiebreak_col="run_seq",
    ).collect()[0]
    assert got.asof_value == "click"  # not the later "view"


def test_time_weighted_avg_exact_small_fixture(spark):
    """Hand-computable: key 'a' holds 10.0 for 3 µs then 40.0 for 1 µs
    -> twa = (10*3 + 40*1)/4 = 17.5 exactly (micro-units 17_500_000);
    the last sample carries no weight; single-sample keys drop."""
    from pyspark.sql import functions as F

    from mvrepair.operators.temporal import time_weighted_avg

    rows = [
        (1, "a", 0, 10.0),
        (2, "a", 3, 40.0),
        (3, "a", 4, 99.0),   # open tail: zero weight
        (4, "b", 0, 5.0),    # single sample: no interval at all
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, k string, t_us bigint, value double"
    ).select(
        "event_id", "k", F.timestamp_micros(F.col("t_us")).alias("ts"), "value"
    )
    out = {
        r.k: (r.n_intervals, r.span_us, r.twa_micro)
        for r in time_weighted_avg(
            df, key_col="k", ts_col="ts", value_col="value"
        ).collect()
    }
    assert out == {"a": (2, 4, 17_500_000)}


def test_referential_report_catches_orphans_and_null_fk(spark):
    from pyspark.sql import functions as F

    from mvrepair.operators import dq

    fact = spark.createDataFrame(
        [(1,), (2,), (99,), (None,)], "fk bigint"
    )
    dim = spark.createDataFrame([(1,), (2,), (3,)], "id bigint")
    rows = {
        r.check: (r.value, r.passed)
        for r in dq.referential_report(
            fact, [("dim", "fk", dim, "id")]
        ).collect()
    }
    # 99 is an orphan; the null FK references nothing
    assert rows == {"references(dim)": (2, False)}
    import pytest

    with pytest.raises(ValueError):
        dq.referential_report(fact, [])


# ---------------------------------------------------------------------------
# round-10 wave 4: grouped regression (exact-integer OLS + Pearson)
# ---------------------------------------------------------------------------

def test_grouped_trend_known_line(spark):
    from mvrepair.operators.regression import grouped_trend

    # y = 3x + 7 exactly: slope_micro = 3_000_000, level = mean(y)
    rows = [("a", x, 3 * x + 7) for x in range(10)]
    # key "b": y = -2x + 100 (negative slope exercises the signed floor)
    rows += [("b", x, -2 * x + 100) for x in range(5)]
    df = spark.createDataFrame(rows, ["k", "x", "y"])
    got = {
        r.k: (r.n_points, r.slope_micro, r.level_micro)
        for r in grouped_trend(df, "k", F.col("x"), F.col("y")).collect()
    }
    assert got["a"] == (10, 3_000_000, int(sum(3 * x + 7 for x in range(10)) * 1e6) // 10)
    assert got["b"] == (5, -2_000_000, int(sum(-2 * x + 100 for x in range(5)) * 1e6) // 5)


def test_grouped_trend_negative_slope_floor_not_trunc(spark):
    from mvrepair.operators.regression import grouped_trend

    # slope = -1/3: floor(-333333.33..) = -333334, NOT the toward-zero
    # truncation -333333 (the portable-floor-division pin)
    rows = [("k", 0, 1), ("k", 3, 0)]
    df = spark.createDataFrame(rows, ["k", "x", "y"])
    [r] = grouped_trend(df, "k", F.col("x"), F.col("y")).collect()
    assert r.slope_micro == -333_334


def test_grouped_trend_shift_invariance(spark):
    from mvrepair.operators.regression import grouped_trend

    # epoch-magnitude x must give the same slope as recentered x
    base = 490_000  # epoch hours circa 2026
    rows = [("k", x, 5 * x + 11) for x in range(20)]
    shifted = [("k", x + base, y) for (_, x, y) in rows]
    a = grouped_trend(
        spark.createDataFrame(rows, ["k", "x", "y"]), "k",
        F.col("x"), F.col("y")).collect()[0]
    b = grouped_trend(
        spark.createDataFrame(shifted, ["k", "x", "y"]), "k",
        F.col("x"), F.col("y")).collect()[0]
    assert (a.slope_micro, a.n_points) == (b.slope_micro, b.n_points)
    assert a.slope_micro == 5_000_000


def test_grouped_trend_drops_degenerate_keys(spark):
    from mvrepair.operators.regression import grouped_trend

    rows = [("one", 5, 9), ("flat", 2, 1), ("flat", 2, 3)]
    df = spark.createDataFrame(rows, ["k", "x", "y"])
    got = grouped_trend(df, "k", F.col("x"), F.col("y")).collect()
    assert got == []  # single point and zero-x-variance both dropped


def test_grouped_correlation_perfect_and_sign(spark):
    from mvrepair.operators.regression import grouped_correlation

    rows = [("pos", x, 2 * x + 1) for x in range(8)]
    rows += [("neg", x, -3 * x + 50) for x in range(8)]
    df = spark.createDataFrame(rows, ["k", "x", "y"])
    got = {r.k: r.r_micro for r in
           grouped_correlation(df, "k", F.col("x"), F.col("y")).collect()}
    # perfectly linear: |r| = 1 up to the final double rounding
    assert got["pos"] in (1_000_000, 999_999)
    assert got["neg"] in (-1_000_000, -999_999, -1_000_001)


def test_grouped_correlation_drops_zero_variance(spark):
    from mvrepair.operators.regression import grouped_correlation

    rows = [("k", 1, 5), ("k", 2, 5), ("k", 3, 5)]  # y constant
    df = spark.createDataFrame(rows, ["k", "x", "y"])
    assert grouped_correlation(df, "k", F.col("x"), F.col("y")).collect() == []


def test_grouped_trend_plan_no_window_no_sort(spark):
    from mvrepair.operators.regression import grouped_trend

    df = spark.createDataFrame([("k", x, x) for x in range(4)],
                               ["k", "x", "y"])
    plan = (grouped_trend(df, "k", F.col("x"), F.col("y"))
            ._jdf.queryExecution().executedPlan().toString())
    assert "Window" not in plan and "Sort" not in plan


# ---------------------------------------------------------------------------
# round-10 wave 4: association rules
# ---------------------------------------------------------------------------

def test_association_rules_known_values(spark):
    from mvrepair.operators.linkage import association_rules

    # 4 baskets: {1,2} x3, {1,3} x1 → pair (1,2): n=3;
    # item counts: 1→4, 2→3, 3→1; total baskets = 4
    rows = [(10, 1), (10, 2), (11, 1), (11, 2), (12, 1), (12, 2),
            (13, 1), (13, 3)]
    df = spark.createDataFrame(rows, ["b", "i"])
    got = {(r.antecedent, r.consequent):
           (r.n_pair, r.support_micro, r.confidence_micro, r.lift_micro)
           for r in association_rules(
               df, basket_col="b", item_col="i",
               min_pair_baskets=1, k=10).collect()}
    # rule 1→2: conf 3/4, lift 3*4/(4*3) = 1
    assert got[(1, 2)] == (3, 750_000, 750_000, 1_000_000)
    # rule 2→1: conf 3/3 = 1
    assert got[(2, 1)] == (3, 750_000, 1_000_000, 1_000_000)
    # rule 1→3: support 1/4, conf 1/4, lift 1*4/(4*1) = 1
    assert got[(1, 3)] == (1, 250_000, 250_000, 1_000_000)
    assert got[(3, 1)] == (1, 250_000, 1_000_000, 1_000_000)


def test_association_rules_min_support_filters(spark):
    from mvrepair.operators.linkage import association_rules

    rows = [(10, 1), (10, 2), (11, 1), (11, 3)]
    df = spark.createDataFrame(rows, ["b", "i"])
    got = association_rules(df, basket_col="b", item_col="i",
                            min_pair_baskets=2, k=10).collect()
    assert got == []  # every pair co-occurs once only


def test_association_rules_duplicate_lines_ignored(spark):
    from mvrepair.operators.linkage import association_rules

    # the same item twice in one basket must count once
    rows = [(10, 1), (10, 1), (10, 2)]
    df = spark.createDataFrame(rows, ["b", "i"])
    got = {(r.antecedent, r.consequent): r.n_pair
           for r in association_rules(
               df, basket_col="b", item_col="i",
               min_pair_baskets=1, k=10).collect()}
    assert got == {(1, 2): 1, (2, 1): 1}


# ---------------------------------------------------------------------------
# round-10 wave 4: multi-probe LSH
# ---------------------------------------------------------------------------

def _mp_emb(spark, n=60, dim=8):
    import math
    rows = []
    for i in range(n):
        # deterministic spread of unit-ish vectors
        v = [math.sin(0.7 * i + 1.3 * d) for d in range(dim)]
        rows.append((i, v))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_multiprobe_results_superset_of_single_probe(spark):
    emb = _mp_emb(spark)
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    single = S.lsh_bucketed_topk(emb, queries, dim=8, k=3)
    multi = S.lsh_multiprobe_topk(emb, queries, dim=8, k=3)
    # every single-probe CANDIDATE survives as a multi-probe candidate,
    # so per-query the multi-probe top-1 similarity is >= single's
    s1 = {r.query_id: r.cosine_micro for r in single.collect()
          if r.rank == 1}
    m1 = {r.query_id: r.cosine_micro for r in multi.collect()
          if r.rank == 1}
    assert set(s1) <= set(m1)
    assert all(m1[q] >= s1[q] for q in s1)


def test_multiprobe_no_duplicate_pairs(spark):
    emb = _mp_emb(spark)
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    # drop the rank cut: candidate pairs must already be unique
    q = S._prepare(queries, "vec_id", "embedding", "query_id", dim=8)
    probes = F.array(
        F.col("__bucket"),
        *[F.col("__bucket").bitwiseXOR(F.lit(1 << p)) for p in range(8)],
    )
    q = q.withColumn("__probe", F.explode(probes)).alias("l")
    c = S._prepare(emb, "vec_id", "embedding", "neighbor_id", dim=8).alias("r")
    cand = (q.join(c, F.col("l.__probe") == F.col("r.__bucket"))
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id"))
    assert cand.count() == cand.distinct().count()


# ---------------------------------------------------------------------------
# round-10 wave 4: contrastive negative mining
# ---------------------------------------------------------------------------

def test_contrastive_negatives_deterministic_and_repartition_stable(spark):
    from mvrepair.operators.sampling import contrastive_negatives

    df = spark.createDataFrame([(i,) for i in range(200)], ["doc_id"])
    a = sorted(map(tuple, contrastive_negatives(df).collect()))
    b = sorted(map(tuple,
                   contrastive_negatives(df.repartition(7)).collect()))
    assert a == b and len(a) > 0


def test_contrastive_negatives_shape_and_self_exclusion(spark):
    from mvrepair.operators.sampling import contrastive_negatives

    df = spark.createDataFrame([(i,) for i in range(200)], ["doc_id"])
    rows = contrastive_negatives(df, n_negatives=3).collect()
    # every anchor emits at most 3 draws and never itself
    from collections import Counter
    per = Counter(r.anchor_id for r in rows)
    assert max(per.values()) <= 3
    assert all(r.anchor_id != r.negative_id for r in rows)
    assert {r.j for r in rows} <= {1, 2, 3}
    # negatives come from the 64-bucket representative set
    assert len({r.negative_id for r in rows}) <= 64


def test_contrastive_negatives_corpus_never_shuffles(spark):
    from mvrepair.operators.sampling import contrastive_negatives

    df = spark.createDataFrame([(i,) for i in range(50)], ["doc_id"])
    plan = (contrastive_negatives(df)._jdf.queryExecution()
            .executedPlan().toString())
    # the only exchanges allowed are the 64-key election agg and its
    # broadcast: the anchor side must join without shuffling
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# Count-Min sketch
# ---------------------------------------------------------------------------

def test_cms_never_undercounts_and_is_tight_when_sparse(spark):
    from mvrepair.operators import sketch as SK

    df = spark.createDataFrame([(c,) for c in "aabbbbcddddddddee"], ["k"])
    exact = {r.k: r.n for r in df.groupBy("k").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    grid = SK.cms_counters(df, "k", w=64, d=3)
    probes = df.select("k").distinct()
    est = {r.k: r.cms_est for r in SK.cms_estimate(
        probes, "k", grid, w=64, d=3).collect()}
    # the CMS guarantee: min over d cells each holding true + collisions
    assert all(est[k] >= exact[k] for k in exact)
    # 5 keys x 3 salted hashes in 64 columns: collisions are unlikely,
    # and the grid is deterministic, so tightness is reproducible
    assert sum(est[k] - exact[k] for k in exact) <= 2


def test_cms_absent_key_estimates_zero(spark):
    from mvrepair.operators import sketch as SK

    df = spark.createDataFrame([("x",), ("y",)], ["k"])
    grid = SK.cms_counters(df, "k", w=64, d=4)
    probes = spark.createDataFrame([("zzz-not-present",)], ["k"])
    [r] = SK.cms_estimate(probes, "k", grid, w=64, d=4).collect()
    # an absent key only overcounts if ALL d cells collide; at this
    # load (2 keys in 64 columns) every cell it probes is empty
    assert r.cms_est == 0


def test_cms_probe_columns_named_like_grid_do_not_collide(spark):
    """A probe frame already carrying columns named r/col/c used to
    collide with the grid's schema inside the estimate join (round-10
    ADVICE); the grid now aliases to reserved __cms_* names."""
    from mvrepair.operators import sketch as SK

    df = spark.createDataFrame([(c,) for c in "aabbbbc"], ["k"])
    grid = SK.cms_counters(df, "k", w=64, d=3)
    probes = spark.createDataFrame(
        [("a", 1, 2, 3), ("b", 4, 5, 6), ("c", 7, 8, 9)],
        ["k", "r", "col", "c"],
    )
    rows = SK.cms_estimate(probes, "k", grid, w=64, d=3).collect()
    est = {x.k: x.cms_est for x in rows}
    assert est == {"a": 2, "b": 4, "c": 1}
    # the probe's own r/col/c columns pass through untouched
    carried = {x.k: (x.r, x.col, x.c) for x in rows}
    assert carried["a"] == (1, 2, 3)


def test_equiwidth_hist_quantile_error_bound_and_mergeability(spark):
    """The fixed grid's two contracts: (a) 0 <= est - exact < width for
    EVERY group and q (the hard bound KLL/t-digest trade away); (b) the
    grid is a partial aggregate — union + re-agg of two shards equals
    the direct grid (the 100 TB mergeability claim)."""
    from mvrepair.operators import sketch as SK

    rows = [("a", v * 7 % 1000) for v in range(500)] + [
        ("b", v * v % 997) for v in range(300)
    ]
    df = spark.createDataFrame(rows, ["g", "v"])
    width = 64
    hist = SK.equiwidth_hist(df, "v", ["g"], width)
    qs = [250000, 500000, 900000]
    est = {
        (r.g, r.q_micro): r.est
        for r in SK.hist_quantile_est(hist, ["g"], qs, width).collect()
    }
    import math

    by_g = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vals in by_g.items():
        vals.sort()
        for q in qs:
            exact = vals[math.ceil(len(vals) * q / 1_000_000) - 1]
            e_ = est[(g, q)]
            assert 0 <= e_ - exact, (g, q, e_, exact)
            assert e_ - exact <= width, (g, q, e_, exact)
    # mergeability: shard, grid each shard, union + re-agg == direct
    a = spark.createDataFrame(rows[:400], ["g", "v"])
    b = spark.createDataFrame(rows[400:], ["g", "v"])
    merged = (
        SK.equiwidth_hist(a, "v", ["g"], width)
        .unionByName(SK.equiwidth_hist(b, "v", ["g"], width))
        .groupBy("g", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, hist.collect())
    )


def test_equiwidth_hist_rejects_bad_width(spark):
    from mvrepair.operators import sketch as SK

    df = spark.createDataFrame([("a", 1)], ["g", "v"])
    with pytest.raises(ValueError, match="width"):
        SK.equiwidth_hist(df, "v", ["g"], 0)


def test_cms_grid_is_mergeable(spark):
    from mvrepair.operators import sketch as SK

    a = spark.createDataFrame([("x",), ("y",), ("x",)], ["k"])
    b = spark.createDataFrame([("x",), ("z",)], ["k"])
    both = a.unionByName(b)
    merged = (
        SK.cms_counters(a, "k", w=32, d=2)
        .unionByName(SK.cms_counters(b, "k", w=32, d=2))
        .groupBy("r", "col")
        .agg(F.sum("c").alias("c"))
    )
    direct = SK.cms_counters(both, "k", w=32, d=2)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_cms_counters_plan_one_expand_one_agg(spark):
    from mvrepair.operators import sketch as SK

    df = spark.createDataFrame([("x",)], ["k"])
    grid = SK.cms_counters(df, "k", w=64, d=4)
    plan = grid._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1  # the one bounded grid shuffle
    assert "Generate" in plan  # the d-struct explode
    assert "Join" not in plan


# ---------------------------------------------------------------------------
# KMV theta intersection
# ---------------------------------------------------------------------------

def test_kmv_overlap_exact_mode_small_groups(spark):
    from mvrepair.operators import sketch as SK

    # both groups under k distinct -> theta = full space -> estimates
    # are EXACT distinct/intersection counts
    rows = [("a", v) for v in [1, 2, 3, 4]] + [("b", v) for v in [3, 4, 5]]
    df = spark.createDataFrame(rows, ["g", "v"])
    [r] = SK.kmv_overlap(df, "g", "v", k=16).collect()
    assert (r.group_a, r.group_b) == ("a", "b")
    assert r.est_a == 4.0 and r.est_b == 3.0
    assert r.est_intersection == 2.0 and r.sample_overlap == 2


def test_kmv_overlap_zero_overlap_pair_still_reported(spark):
    from mvrepair.operators import sketch as SK

    rows = [("a", 1), ("a", 2), ("b", 9), ("c", 1)]
    df = spark.createDataFrame(rows, ["g", "v"])
    got = {(r.group_a, r.group_b): r.est_intersection
           for r in SK.kmv_overlap(df, "g", "v", k=8).collect()}
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}
    assert got[("a", "b")] == 0.0 and got[("b", "c")] == 0.0
    assert got[("a", "c")] == 1.0


def test_kmv_overlap_estimate_tracks_truth_at_sketch_size(spark):
    from mvrepair.operators import sketch as SK

    # 600 distinct per group, 200 shared; k=128 -> stderr ~ 9%
    rows = [("a", v) for v in range(600)] + [
        ("b", v) for v in range(400, 1000)
    ]
    df = spark.createDataFrame(rows, ["g", "v"])
    [r] = SK.kmv_overlap(df, "g", "v", k=128).collect()
    assert abs(r.est_a - 600) / 600 < 0.3
    assert abs(r.est_intersection - 200) / 200 < 0.45
    assert r.sample_overlap > 0


def test_kmv_overlap_plan_no_bnlj_no_cartesian(spark):
    from mvrepair.operators import sketch as SK

    df = spark.createDataFrame([("a", 1), ("b", 2)], ["g", "v"])
    plan = SK.kmv_overlap(df, "g", "v", k=8)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# approximate-FD profiling (g3)
# ---------------------------------------------------------------------------

def test_fd_report_g3_known_values(spark):
    from mvrepair.operators.dq import fd_report

    rows = [
        (1, "a"), (1, "a"), (1, "b"),  # x=1: plurality a(2), g3 += 1
        (2, "c"), (2, "c"),            # x=2: holds
        (3, "d"),                      # x=3: holds
    ]
    df = spark.createDataFrame(rows, ["x", "y"])
    [r] = fd_report(df, [(["x"], ["y"])]).collect()
    assert r.fd == "x->y"
    assert r.n_groups == 3
    assert r.violating_groups == 1
    assert r.violations == 1
    assert r.passed is False


def test_fd_report_holds_and_null_is_a_value(spark):
    from mvrepair.operators.dq import fd_report
    from pyspark.sql import Row

    rows = [Row(x=1, y="a"), Row(x=2, y=None), Row(x=2, y=None)]
    df = spark.createDataFrame(rows)
    [r] = fd_report(df, [(["x"], ["y"])]).collect()
    # x=2 maps consistently to NULL: a value, not a violation
    assert r.violations == 0 and r.passed is True


def test_fd_report_rejects_malformed(spark):
    from mvrepair.operators.dq import fd_report

    df = spark.createDataFrame([(1, 2)], ["x", "y"])
    with pytest.raises(ValueError):
        fd_report(df, [])
    with pytest.raises(ValueError):
        fd_report(df, [(["x"], ["x"])])
    with pytest.raises(ValueError):
        fd_report(df, [([], ["y"])])


def test_fd_report_plan_two_aggs_no_join(spark):
    from mvrepair.operators.dq import fd_report

    df = spark.createDataFrame([(1, 2)], ["x", "y"])
    plan = fd_report(df, [(["x"], ["y"])])._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Join" not in plan and "Window" not in plan


# ---------------------------------------------------------------------------
# exact-integer PCA (decomp)
# ---------------------------------------------------------------------------

def test_tdiv_truncates_toward_zero_like_duckdb():
    from mvrepair.operators.decomp import _tdiv

    # DuckDB: SELECT (-7) // 2 -> -3 (trunc); Python -7 // 2 -> -4
    assert _tdiv(-7, 2) == -3
    assert _tdiv(7, 2) == 3
    assert _tdiv(7, -2) == -3
    assert _tdiv(-7, -2) == 3
    assert _tdiv(0, 5) == 0


def test_pca_suffstats_known_values(spark):
    from mvrepair.operators import decomp as DC

    rows = [(1, [1.0, 0.0]), (2, [0.0, 2.0]), (3, [1.0, 2.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {(r.i, r.j): r.v for r in
           DC.pca_suffstats(df, "embedding", 2, quant=1).collect()}
    assert got[(-1, -1)] == 3                # n
    assert got[(0, -1)] == 2 and got[(1, -1)] == 4   # component sums
    assert got[(0, 0)] == 2 and got[(1, 1)] == 8     # sum q_i^2
    assert got[(0, 1)] == 2                  # cross product


def test_principal_axis_matches_numpy_eigendirection(spark):
    import numpy as np
    from mvrepair.operators import decomp as DC

    rng = np.random.default_rng(7)
    # anisotropic cloud: dominant axis along (3, 1, 0, 0)/sqrt(10)
    base = rng.normal(size=(400, 4)) * np.array([0.05, 0.05, 0.02, 0.02])
    t = rng.normal(size=(400, 1))
    data = base + t * np.array([[0.3, 0.1, 0.0, 0.0]])
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(data)],
        ["vec_id", "embedding"],
    )
    stats = DC.pca_suffstats(df, "embedding", 4).collect()
    v, n, s = DC.principal_axis(stats, 4)
    centered = data - data.mean(axis=0)
    w, vecs = np.linalg.eigh(centered.T @ centered)
    top = vecs[:, -1]
    got = np.array(v, dtype=float)
    cos = abs(got @ top) / (np.linalg.norm(got) * np.linalg.norm(top))
    assert cos > 0.99, cos
    assert n == 400


def test_principal_axis_rejects_overflowing_stats():
    from mvrepair.operators import decomp as DC

    rows = [
        {"i": -1, "j": -1, "v": 1 << 32},
        {"i": 0, "j": -1, "v": 1 << 40},
        {"i": 0, "j": 0, "v": 1 << 40},
    ]
    with pytest.raises(ValueError, match="int64 domain"):
        DC.principal_axis(rows, 1)


def test_principal_axis_rejects_overflowing_projection_term():
    """Centered data defeats the sum-based max|s|² check (sums near
    zero) while n*max|q| is huge: the per-row projection term
    (n*q_j - s_j)*v_j would exceed int64 in pca_scores.  The diagonal
    S_jj bounds max|q_j| (S_jj >= q_j² per row), so the guard derives
    n*ceil(sqrt(max S_jj)) and rejects (round-10 ADVICE item)."""
    from mvrepair.operators import decomp as DC

    rows = [
        {"i": -1, "j": -1, "v": 1 << 21},  # n
        {"i": 0, "j": -1, "v": 0},  # centered: component sum == 0
        {"i": 0, "j": 0, "v": 1 << 40},  # q_bound ~ 2^20
    ]
    # old check passes: n*max_S = 2^61 < 2^62, max_s² = 0; but the
    # 64-term projection sum needs each term under 2^62/64 = 2^56 and
    # n*q_bound*VSCALE ~ 2^61 blows it
    with pytest.raises(ValueError, match="projection term"):
        DC.principal_axis(rows, 64)


def test_pca_scores_plan_is_pure_projection(spark):
    from mvrepair.operators import decomp as DC

    df = spark.createDataFrame([(1, [0.5, 0.5])], ["vec_id", "embedding"])
    sc = DC.pca_scores(df, "vec_id", "embedding", [5, -3], 10, [2, 2])
    plan = sc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cms_join_size_never_undercounts_and_tight_when_sparse(spark):
    from mvrepair.operators import sketch as SK

    left = spark.createDataFrame(
        [(k,) for k in [1, 1, 1, 2, 2, 3, 9]], ["k"]
    )
    right = spark.createDataFrame(
        [(k,) for k in [1, 2, 2, 2, 4]], ["j"]
    )
    # true join size: 1x(3*1) + 2x(2*3) = 9
    [r] = SK.cms_join_size(left, "k", right, "j", w=256, d=3).collect()
    assert r.est_join_rows >= 9
    # 5 distinct keys in 256 columns: collisions vanish, min is exact
    assert r.est_join_rows == 9
    # every row's inner product is an upper bound too
    assert min(r.d_0, r.d_1, r.d_2) == r.est_join_rows


# ---------------------------------------------------------------------------
# mutual-information profiling
# ---------------------------------------------------------------------------

def test_mi_functional_dependency_reaches_h_y(spark):
    from mvrepair.operators.dq import mi_report

    # y = f(x): MI = H(Y).  x uniform over 4, y = x % 2 (uniform over 2)
    rows = [(i % 4, (i % 4) % 2) for i in range(64)]
    [r] = mi_report(
        spark.createDataFrame(rows, ["x", "y"]), [("x", "y")]
    ).collect()
    # H(Y) = 1 bit -> h_y_q20w = n * 2^20 (up to quantization)
    assert abs(r.h_y_q20w - 64 * (1 << 20)) <= 64 * 4
    assert abs(r.mi_q20w - r.h_y_q20w) <= 64 * 4
    # H(X) = 2 bits, MI <= H(X)
    assert r.mi_q20w <= r.h_x_q20w + 64 * 4


def test_mi_independent_columns_near_zero(spark):
    from mvrepair.operators.dq import mi_report

    # x and y fully crossed with equal counts: exactly independent
    rows = [(x, y) for x in range(4) for y in range(4) for _ in range(3)]
    [r] = mi_report(
        spark.createDataFrame(rows, ["x", "y"]), [("x", "y")]
    ).collect()
    # each joint cell's pmi ratio is exactly 1 -> quantizes to 0
    assert abs(r.mi_q20w) <= 48 * 4
    assert r.n == 48 and r.n_joint == 16


def test_mi_report_multi_pair_equals_per_pair_with_nulls(spark):
    # r12: the multi-pair report computes every pair's joint counts as
    # GROUPING SETS of one corpus pass; the new failure surfaces are
    # cross-pair gid collisions and data-NULL vs grouping-NULL
    # confusion.  Pin: a 3-pair report over a null-bearing frame equals
    # the same function called once per pair (a single-set grouping is
    # semantically a plain groupBy), column for column.
    from mvrepair.operators.dq import mi_report

    rows = [
        (1, "x", None), (1, "x", "p"), (None, "y", "p"), (2, None, "q"),
        (2, "y", "q"), (1, None, None), (None, None, "p"), (2, "x", "p"),
    ]
    df = spark.createDataFrame(rows, "a int, b string, c string")
    pairs = [("a", "b"), ("b", "c"), ("a", "c")]
    multi = {r["pair"]: r for r in mi_report(df, pairs).collect()}
    assert len(multi) == 3
    for x, y in pairs:
        [single] = mi_report(df, [(x, y)]).collect()
        assert single == multi[f"{x}|{y}"], f"pair {x}|{y} diverged"


def test_pca_suffstats_cells_equals_arrow_fold(spark):
    from mvrepair.operators import decomp as DC

    rows = [
        (1, [0.25, -0.5, 0.125]),
        (2, [0.0, 0.75, -0.25]),
        (3, [-1.0, 0.5, 0.5]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    arrow = {(r.i, r.j): r.v for r in
             DC.pca_suffstats(df, "embedding", 3).collect()}
    cells = {(r.i, r.j): r.v for r in
             DC.pca_suffstats_cells(df, "embedding", 3).collect()}
    assert arrow == cells


def test_mad_anomaly_flags_constructed_outlier(spark):
    from mvrepair.operators.temporal import mad_anomaly

    rows = [("a", i, 10.0 + (i % 3)) for i in range(20)] + [
        ("a", 99, 1000.0),          # the outlier
        ("b", 200, 5.0), ("b", 201, 5.0), ("b", 202, 5.0),
    ]
    df = spark.createDataFrame(rows, ["event_type", "event_id", "value"])
    got = mad_anomaly(df).collect()
    assert [(r.event_type, r.event_id) for r in got] == [("a", 99)]
    [r] = got
    assert r.med_micro == 11_000_000  # type-1 median of {10,11,12} mix
    assert r.mad_micro == 1_000_000
    assert r.dev_micro == 989_000_000


def test_grouped_pca_equals_per_group_single(spark):
    import numpy as np
    from mvrepair.operators import decomp as DC

    rng = np.random.default_rng(11)
    rows = []
    for g in (0, 1):
        data = rng.normal(size=(30, 4)) * (0.1 + 0.2 * g)
        rows += [
            (g * 100 + i, g, [float(x) for x in r])
            for i, r in enumerate(data)
        ]
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    grouped = {
        (r.vec_id, r.label): r.pc1_score
        for r in DC.grouped_pca_scores(
            df, "vec_id", "embedding", "label", 4
        ).collect()
    }
    for g in (0, 1):
        sub = df.filter(df.label == g)
        stats = DC.pca_suffstats(sub, "embedding", 4).collect()
        v, n, s = DC.principal_axis(stats, 4)
        single = {
            r.vec_id: r.pc1_score
            for r in DC.pca_scores(
                sub, "vec_id", "embedding", v, n, s
            ).collect()
        }
        for vid, sc in single.items():
            assert grouped[(vid, g)] == sc


# ---------------------------------------------------------------- drift


def _drift_frame(spark, rows):
    from datetime import datetime

    return spark.createDataFrame(
        [(datetime(2024, 1, 1, h), c) for h, c in rows],
        "ts timestamp, cat string",
    )


def test_category_drift_balanced_is_zero(spark):
    from mvrepair.operators import dq

    # identical mix in both halves: every delta_micro is 0 => PSI 0;
    # chi2 terms are 0 exactly (obs == exp)
    rows = [(h, c) for h in (0, 1, 22, 23) for c in ("a", "a", "b")]
    out = dq.category_drift(_drift_frame(spark, rows), "cat", "ts").collect()
    assert {r["category"] for r in out} == {"a", "b"}
    for r in out:
        assert r["delta_micro"] == 0 and r["psi_q"] == 0
        assert r["chi2_micro"] == 0
        assert r["psi_total_q"] == 0 and r["chi2_total_micro"] == 0


def test_category_drift_shift_detected_and_totals_consistent(spark):
    from mvrepair.operators import dq

    # half A: 90% a / 10% b; half B: 10% a / 90% b — a gross shift
    rows = [(0, "a")] * 9 + [(0, "b")] + [(23, "a")] + [(23, "b")] * 9
    out = dq.category_drift(_drift_frame(spark, rows), "cat", "ts")
    got = {r["category"]: r for r in out.collect()}
    assert got["a"]["ca"] == 9 and got["a"]["cb"] == 1
    assert got["a"]["na"] == 10 and got["a"]["nb"] == 10
    # PSI contributions are positive for both movers and the total is
    # their exact integer sum
    assert got["a"]["psi_q"] > 0 and got["b"]["psi_q"] > 0
    tot = got["a"]["psi_q"] + got["b"]["psi_q"]
    assert got["a"]["psi_total_q"] == tot == got["b"]["psi_total_q"]
    assert (
        got["a"]["chi2_total_micro"]
        == got["a"]["chi2_micro"] + got["b"]["chi2_micro"]
    )
    # PSI in natural units: psi_q / 2^20 * ln2 per category sum — the
    # 90/10 flip is ~3.5 nats, far over the 0.25 alert line
    psi = tot / (1 << 20) * 0.6931471805599453 / 1_000_000
    assert psi > 0.25


def test_category_drift_one_sided_category_dropped_but_counted(spark):
    from mvrepair.operators import dq

    # 'c' exists only in half A: dropped from the report (PSI undefined
    # at q=0) but still in the na total
    rows = [(0, "a"), (0, "c"), (23, "a"), (23, "a"), (23, "b"), (0, "b")]
    out = dq.category_drift(_drift_frame(spark, rows), "cat", "ts")
    got = {r["category"]: r for r in out.collect()}
    assert "c" not in got
    assert got["a"]["na"] == 3  # a, c, b in half A
    assert got["a"]["nb"] == 3


# --------------------------------------------------------------- WOE/IV


def test_woe_iv_separates_a_perfect_predictor(spark):
    from mvrepair.operators import dq

    # label == (value in the top half): bins are either all-good or
    # all-bad, so every MIXED bin vanishes... construct a softer case:
    # low values 90% bad, high values 90% good
    rows = [(v, v >= 500) for v in range(1000)]
    # flip 10% deterministically
    rows = [
        (v, (not y) if v % 10 == 0 else y) for (v, y) in rows
    ]
    df = spark.createDataFrame(rows, "val long, label boolean")
    out = dq.woe_iv(df, "val", "label", n_bins=4, width=64).collect()
    got = {r["bin"]: r for r in out}
    # the feature separates by construction: low-value bins carry
    # negative WOE, high-value bins positive (within each half the two
    # bins' mixes are statistically identical, so no strict ordering)
    woes = [got[b]["woe_q"] for b in sorted(got)]
    assert max(woes[:2]) < 0 < min(woes[2:])
    # IV total is the exact integer sum of contributions, same on all rows
    tot = sum(r["iv_q"] for r in out)
    assert all(r["iv_total_q"] == tot for r in out)
    # strong predictor: IV in natural units > 0.3
    iv = tot / (1 << 20) * 0.6931471805599453 / 1_000_000
    assert iv > 0.3


def test_woe_iv_uninformative_feature_scores_near_zero(spark):
    from mvrepair.operators import dq

    # label independent of value: every bin's mix equals the global mix
    rows = [(v, v % 2 == 0) for v in range(1024)]
    df = spark.createDataFrame(rows, "val long, label boolean")
    out = dq.woe_iv(df, "val", "label", n_bins=4, width=64).collect()
    tot = out[0]["iv_total_q"]
    assert abs(tot / (1 << 20) / 1_000_000) < 0.01
    # equi-depth-ish: bin sizes within one grid cell of each other
    sizes = sorted(r["good"] + r["bad"] for r in out)
    assert sizes[-1] - sizes[0] <= 2 * 64


def test_woe_iv_lo_bounds_and_validation(spark):
    from mvrepair.operators import dq
    import pytest as _pytest

    rows = [(v, v % 3 == 0) for v in range(300)]
    df = spark.createDataFrame(rows, "val long, label boolean")
    out = dq.woe_iv(df, "val", "label", n_bins=3, width=16)
    got = sorted(out.collect(), key=lambda r: r["bin"])
    assert got[0]["lo"] is None
    los = [r["lo"] for r in got[1:]]
    assert los == sorted(los) and all(lo is not None for lo in los)
    with _pytest.raises(ValueError):
        dq.woe_iv(df, "val", "label", n_bins=1)


# ------------------------------------------------------- hard negatives


def test_hard_negatives_exclude_same_label_even_if_closer(spark):
    from mvrepair.operators import similarity as S

    # v0 and v1 are near-identical but SAME label: each other's best
    # cosine, yet never a hard negative; v2 differs in label
    base = [1.0] + [0.0] * 63
    near = [0.999] + [0.001] * 63
    other = [0.9] + [0.1] * 63
    df = spark.createDataFrame(
        [(0, base, 7), (1, near, 7), (2, other, 9)],
        "vec_id long, embedding array<float>, label int",
    )
    out = S.hard_negative_topk(df, dim=64, k=3).collect()
    pairs = {(r["query_id"], r["neighbor_id"]) for r in out}
    assert (0, 1) not in pairs and (1, 0) not in pairs
    labels = {0: 7, 1: 7, 2: 9}
    for r in out:
        assert labels[r["query_id"]] != labels[r["neighbor_id"]]
        assert r["query_id"] != r["neighbor_id"]


def test_hard_negatives_rank_contract(spark, sf_dir):
    from mvrepair.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = S.hard_negative_topk(emb, dim=64, k=3)
    rows = out.collect()
    byq = {}
    for r in rows:
        byq.setdefault(r["query_id"], []).append(r)
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    for qid, rs in byq.items():
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
        sims = [r["cosine_micro"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert sims == sorted(sims, reverse=True)
        for r in rs:
            assert labels[r["neighbor_id"]] != labels[qid]


# ---------------------------------------------------------------- Benford


def test_benford_conformant_data_scores_near_zero(spark):
    from mvrepair.functions.exactlog import py_micro_log2
    from mvrepair.operators import dq

    # construct an exactly-Benford-proportioned multiset: c_d chosen so
    # c_d/n == ML_d/ML10 up to integer rounding (n = ML10 scaled down)
    ml10 = py_micro_log2(10.0)
    q = 1000  # ~3,483 rows
    counts = {d: py_micro_log2((d + 1) / d) // q for d in range(1, 10)}
    rows = [
        (d * 10000 + i,)  # block size > max c_d, so no digit bleed
        for d, c in counts.items()
        for i in range(c)
    ]
    df = spark.createDataFrame(rows, "v long")
    out = dq.benford_report(df, "v").collect()
    n = out[0]["n"]
    # relative deviation |dev_q| / (n * ML10) stays under 1% per digit
    for r in out:
        assert abs(r["dev_q"]) / (n * ml10) < 0.01
    assert out[0]["abs_dev_total_q"] == sum(abs(r["dev_q"]) for r in out)


def test_benford_uniform_digits_flagged(spark):
    from mvrepair.functions.exactlog import py_micro_log2
    from mvrepair.operators import dq

    ml10 = py_micro_log2(10.0)
    rows = [(d * 100 + i,) for d in range(1, 10) for i in range(100)]
    df = spark.createDataFrame(rows, "v long")
    out = {r["digit"]: r for r in dq.benford_report(df, "v").collect()}
    n = out[1]["n"]
    assert n == 900
    # uniform digits: 1 is UNDER-represented vs Benford (11% < 30.1%),
    # 9 OVER-represented (11% > 4.6%) — sign carries the direction
    assert out[1]["dev_q"] < 0 < out[9]["dev_q"]
    # and the total deviation is far from the conformant band (>5%)
    assert out[1]["abs_dev_total_q"] / (n * ml10) > 0.05


def test_benford_nonpositive_excluded(spark):
    from mvrepair.operators import dq

    df = spark.createDataFrame(
        [(-5,), (0,), (123,), (7,)], "v long"
    )
    out = {r["digit"]: r for r in dq.benford_report(df, "v").collect()}
    assert sorted(out) == [1, 7] and out[1]["n"] == 2


# ------------------------------------------------------------ apportion


def test_budget_apportion_sums_exactly_and_is_proportional(spark):
    from mvrepair.operators import sampling as SA

    rows = [("a", 5), ("b", 3), ("c", 1), ("d", 1)]
    df = spark.createDataFrame(rows, "k string, w long")
    out = {r["key"]: r for r in SA.budget_apportion(df, "k", "w", 17).collect()}
    assert sum(r["alloc"] for r in out.values()) == 17
    assert all(r["total_alloc"] == 17 for r in out.values())
    # exact shares: 17*5/10=8.5, 17*3/10=5.1, 17*1/10=1.7 each
    # bases 8,5,1,1 (sum 15), leftover 2 -> largest remainders .7/.7
    # (c and d, tie by key) get +1 over .5 (a) and .1 (b)
    assert {k: r["alloc"] for k, r in out.items()} == {
        "a": 8, "b": 5, "c": 2, "d": 2
    }
    # allocation never off by more than 1 from the real-valued share
    for k, w in rows:
        assert abs(out[k]["alloc"] - 17 * w / 10) < 1


def test_budget_apportion_zero_and_validation(spark):
    from mvrepair.operators import sampling as SA
    import pytest as _pytest

    df = spark.createDataFrame([("a", 5), ("b", 3)], "k string, w long")
    out = SA.budget_apportion(df, "k", "w", 0).collect()
    assert all(r["alloc"] == 0 and r["total_alloc"] == 0 for r in out)
    with _pytest.raises(ValueError):
        SA.budget_apportion(df, "k", "w", -1)


# ---------------------------------------------------------- attribution


def test_linear_attribution_credits_sum_exactly(spark):
    from datetime import datetime

    from pyspark.sql import functions as F
    from mvrepair.operators import temporal as T

    def ev(eid, u, et, minute):
        return (eid, datetime(2024, 1, 5, 10, minute), u, et)

    rows = [
        # user 1: 3 touches then purchase -> 333334/333333/333333
        ev(1, 1, "view", 0), ev(2, 1, "click", 5), ev(3, 1, "view", 9),
        ev(4, 1, "purchase", 30),
        # user 2: 1 touch then purchase -> 1000000
        ev(5, 2, "click", 0), ev(6, 2, "purchase", 10),
        # user 3: purchase with no touches -> contributes nothing
        ev(7, 3, "purchase", 10),
        # user 4: touch AFTER purchase -> not credited
        ev(8, 4, "purchase", 10), ev(9, 4, "view", 20),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    out = {r["touch_type"]: r for r in T.linear_attribution(df).collect()}
    total = out["view"]["total_credit_micro"]
    # 2 purchases had in-window touches
    assert total == 2 * 1_000_000
    assert out["view"]["credit_micro"] + out["click"]["credit_micro"] == total
    # recency split: leftover micro goes to the MOST RECENT touch
    # (eid 3, a view): view = 333334 + 333333, click = 333333 + 1000000
    assert out["view"]["credit_micro"] == 666667
    assert out["click"]["credit_micro"] == 1_333_333
    assert out["view"]["n_touches"] == 2 and out["click"]["n_touches"] == 2


def test_linear_attribution_window_cutoff(spark):
    from datetime import datetime

    from mvrepair.operators import temporal as T

    rows = [
        (1, datetime(2024, 1, 1, 0, 0), 1, "view"),     # 4 days before
        (2, datetime(2024, 1, 4, 23, 0), 1, "click"),   # in window
        (3, datetime(2024, 1, 5, 0, 0), 1, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    out = {r["touch_type"]: r for r in T.linear_attribution(df).collect()}
    assert "view" not in out
    assert out["click"]["credit_micro"] == 1_000_000


# -------------------------------------------------------------------- KS


def test_ks_identical_halves_zero_and_disjoint_halves_one(spark):
    from datetime import datetime

    from mvrepair.operators import dq

    def frame(vals_a, vals_b):
        rows = [(datetime(2024, 1, 1, 0), float(v)) for v in vals_a] + [
            (datetime(2024, 1, 2, 0), float(v)) for v in vals_b
        ]
        return spark.createDataFrame(rows, "ts timestamp, value double")

    # identical distributions: D = 0
    same = list(range(1, 51))
    [r] = dq.numeric_drift_ks(frame(same, same), "value", "ts").collect()
    assert r["d_num"] == 0 and r["d_micro"] == 0
    # fully disjoint supports: D = 1 (at the end of A's support)
    [r] = dq.numeric_drift_ks(
        frame(range(1, 51), range(100, 150)), "value", "ts"
    ).collect()
    assert r["d_micro"] == 1_000_000
    assert r["cum_a"] == 50 and r["cum_b"] == 0
    assert r["ks_at_unit"] == 50 * 100  # smallest unit achieving the sup


def test_ks_matches_scipy_style_reference(spark):
    from datetime import datetime

    from mvrepair.operators import dq

    # deterministic asymmetric shift
    a = [i % 97 + 1 for i in range(300)]
    b = [(i % 89) * 2 + 5 for i in range(280)]
    rows = [(datetime(2024, 1, 1), float(v)) for v in a] + [
        (datetime(2024, 1, 3), float(v)) for v in b
    ]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    [r] = dq.numeric_drift_ks(df, "value", "ts").collect()
    # pure-Python exact reference over the same quantized units
    units = sorted({v * 100 for v in a} | {v * 100 for v in b})
    na, nb = len(a), len(b)
    best = max(
        abs(sum(1 for v in a if v * 100 <= u) * nb
            - sum(1 for v in b if v * 100 <= u) * na)
        for u in units
    )
    assert r["d_num"] == best and r["na"] == na and r["nb"] == nb


def test_holt_tracks_ramp_better_than_ewma(spark):
    from mvrepair.operators.temporal import ewma_smooth, holt_smooth

    # steady ramp: Holt's forecast surprise must end far below EWMA's
    # (EWMA settles at a constant lag offset; Holt learns the slope)
    rows = [("a", t, 10 + 5 * t) for t in range(40)]
    df = spark.createDataFrame(rows, "k string, t long, x long")
    h = {r["t"]: r for r in holt_smooth(df, "k", "t", "x").collect()}
    e = {r["t"]: r for r in ewma_smooth(df, "k", "t", "x").collect()}
    assert h[0]["l_micro"] == 10_000_000 and h[0]["b_micro"] == 0
    assert h[0]["dev_micro"] == 0
    assert abs(h[39]["dev_micro"]) < abs(e[39]["dev_micro"]) / 3
    # the learned slope approaches the true 5/step (micro-units)
    assert 4_000_000 < h[39]["b_micro"] <= 5_000_000


def test_holt_python_replay_with_negative_trend(spark):
    from mvrepair.operators.temporal import holt_smooth

    # a falling, noisy series drives the trend state NEGATIVE — the
    # region where truncating and flooring division diverge
    xs = [200 - 9 * t + (t * 7) % 5 for t in range(25)]
    df = spark.createDataFrame(
        [("s", t, x) for t, x in enumerate(xs)], "k string, t long, x long"
    )
    got = {r["t"]: (r["l_micro"], r["b_micro"], r["dev_micro"])
           for r in holt_smooth(df, "k", "t", "x").collect()}

    def fd(n, d):
        return n // d  # python // floors

    l, b = xs[0] * 1_000_000, 0
    expect = {0: (l, b, 0)}
    for t in range(1, len(xs)):
        pred = l + b
        nl = fd(1 * xs[t] * 1_000_000 + 7 * pred, 8)
        nb = fd(1 * (nl - l) + 3 * b, 4)
        expect[t] = (nl, nb, xs[t] * 1_000_000 - pred)
        l, b = nl, nb
    assert got == expect
    assert any(v[1] < 0 for v in got.values())  # trend went negative


def test_lttb_keeps_spike_and_endpoints(spark):
    from mvrepair.operators.temporal import lttb_downsample

    # flat series with one spike at x=7: with 2 buckets the spike's
    # bucket MUST pick the spike (largest triangle), and first/last
    # always survive
    pts = [(x, 10) for x in range(0, 12)]
    pts[7] = (7, 500)
    df = spark.createDataFrame(
        [("s", x, y) for x, y in pts], "k string, x long, y long"
    )
    out = {(r["bucket"]): (r["x"], r["y"]) for r in
           lttb_downsample(df, "k", "x", "y", buckets=2).collect()}
    assert out[-1] == (0, 10) and out[2] == (11, 10)
    assert out[1] == (7, 500)  # the spike lives in bucket 1 (rank 8)
    assert len(out) == 4


def test_lttb_python_replay_exact(spark):
    from mvrepair.operators.temporal import lttb_downsample

    xs = list(range(20))
    ys = [(x * 37) % 11 for x in xs]
    df = spark.createDataFrame(
        [("s", x, y) for x, y in zip(xs, ys)], "k string, x long, y long"
    )
    B = 4
    got = {r["bucket"]: (r["x"], r["y"]) for r in
           lttb_downsample(df, "k", "x", "y", buckets=B).collect()}

    # python reference replaying the identical algebra
    pts = list(zip(xs, ys))
    interior = pts[1:-1]
    n_i = len(interior)
    buckets: dict[int, list] = {}
    for i, p in enumerate(interior):
        buckets.setdefault(i * B // n_i, []).append(p)
    cents = {
        b: (sum(x for x, _ in v), sum(y for _, y in v), len(v))
        for b, v in buckets.items()
    }
    cents[B] = (pts[-1][0], pts[-1][1], 1)
    prev = pts[0]
    expect = {-1: pts[0], B: pts[-1]}
    for b in range(B):
        sx, sy, c = cents[b + 1]
        px, py = prev
        best = max(
            buckets[b],
            key=lambda p: (
                abs((px * c - sx) * (p[1] - py) - (px - p[0]) * (sy - py * c)),
                -p[0],
            ),
        )
        expect[b] = best
        prev = best
    assert got == expect


def test_lttb_fold_equals_round_loop_shapes(spark):
    # r12: lttb_downsample folded the per-bucket round loop into one
    # in-plan aggregate.  Pin the fold against a pure-Python replay of
    # the r11 round-loop semantics on the shapes the fold could get
    # wrong: n=1 (first==last, two rows), n=2 (no interior), sparse
    # series where the NEXT bucket is empty (bucket emits NO pick and
    # the anchor carries — the r11 inner-join behavior), and area ties
    # (smaller x wins).
    from mvrepair.operators.temporal import lttb_downsample

    def model(rows, B):
        bykey: dict = {}
        for k, x, y in rows:
            bykey.setdefault(k, []).append((x, y))
        out = []
        for k, pts in bykey.items():
            pts.sort()
            n = len(pts)
            first, last = pts[0], pts[-1]
            out.append((k, -1, first[0], first[1]))
            interior = [
                (x, y, (i * B) // (n - 2))
                for i, (x, y) in enumerate(pts[1:-1])
            ]
            cents: dict = {}
            for x, y, b in interior:
                sx, sy, c = cents.get(b, (0, 0, 0))
                cents[b] = (sx + x, sy + y, c + 1)
            cents[B] = (last[0], last[1], 1)
            px, py = first
            for b in range(B):
                cand = [(x, y) for x, y, bb in interior if bb == b]
                if not cand or (b + 1) not in cents:
                    continue  # empty bucket, or empty NEXT bucket
                sx, sy, c = cents[b + 1]
                best = max(
                    cand,
                    key=lambda p: (
                        abs((px * c - sx) * (p[1] - py)
                            - (px - p[0]) * (sy - py * c)),
                        -p[0],
                    ),
                )
                out.append((k, b, best[0], best[1]))
                px, py = best
            out.append((k, B, last[0], last[1]))
        return sorted(out)

    cases = [
        [("A", 5, 7)],                                   # n=1
        [("A", 1, 2), ("A", 9, 9)],                      # n=2
        [("A", i, (i * 37) % 11) for i in [1, 3, 7, 12, 20]],  # sparse
        [("A", i, 5) for i in range(16)],                # flat ties
        [("A", i, (i * i * 13) % 101) for i in range(40)]
        + [("B", i, (7 * i) % 23) for i in range(15)],   # dense 2-key
    ]
    for rows in cases:
        df = spark.createDataFrame(rows, "k string, x long, y long")
        got = sorted(
            (r["k"], r["bucket"], r["x"], r["y"])
            for r in lttb_downsample(df, "k", "x", "y", buckets=12).collect()
        )
        assert got == model(rows, 12), f"diverged on {rows[:3]}..."


def test_theilsen_robust_to_outlier_and_exact_floor(spark):
    from mvrepair.operators.regression import theilsen_slope

    # y = 2x except one wild outlier at x=5; OLS would be dragged,
    # the pairwise median stays exactly 2.0
    pts = [(x, 2 * x) for x in range(0, 5)] + [(5, 1000)]
    df = spark.createDataFrame(
        [("a", x, y) for x, y in pts], "k string, x long, y long"
    )
    [r] = theilsen_slope(df, "k", "x", "y").collect()
    assert r["slope_micro"] == 2_000_000
    assert r["n_points"] == 6 and r["n_pairs"] == 15
    # negative slope floors toward -inf in BOTH engines: slope -1/3
    # over (x=0,y=0)-(x=3,y=-1) must quantize to -333334, not -333333
    df2 = spark.createDataFrame(
        [("b", 0, 0), ("b", 3, -1)], "k string, x long, y long"
    )
    [r2] = theilsen_slope(df2, "k", "x", "y").collect()
    assert r2["slope_micro"] == -333_334


def test_compaction_plan_cut_rule_and_bounds(spark):
    import pytest as _pytest

    from mvrepair.operators.layout import compaction_plan

    stats = spark.createDataFrame(
        [(0, 40), (1, 40), (2, 40), (3, 5), (4, 100), (5, 10)],
        "zbucket long, n_rows long",
    )
    out = {r["group_id"]: r for r in
           compaction_plan(stats, "zbucket", "n_rows", 100).collect()}
    # prev sums: 0,40,80,120,125,225 -> groups 0,0,0,1,1,2
    assert out[0]["n_members"] == 3 and out[0]["total_rows"] == 120
    assert out[0]["range_min"] == 0 and out[0]["range_max"] == 2
    assert out[1]["n_members"] == 2 and out[1]["total_rows"] == 105
    assert out[2]["total_rows"] == 10  # last group may be small
    # groups are contiguous, order-preserving runs
    ranges = sorted(
        (r["range_min"], r["range_max"]) for r in out.values()
    )
    for (a, b), (c, d) in zip(ranges, ranges[1:]):
        assert b < c
    with _pytest.raises(ValueError):
        compaction_plan(stats, "zbucket", "n_rows", 0)


def test_peak_concurrency_sweep_and_midnight_split(spark):
    from mvrepair.operators.temporal import peak_concurrency

    DAY = 86_400_000_000
    H = 3_600_000_000
    rows = [
        # day 0: three overlapping at hour 1-2 region
        (1 * H, 3 * H), (1 * H + 1, 2 * H), (90 * 60_000_000, 4 * H),
        # half-open: ends exactly when next starts -> no overlap
        (5 * H, 6 * H), (6 * H, 7 * H),
        # spans midnight: open during day 0 tail AND day 1 head
        (23 * H, DAY + 1 * H),
        # day 1: one more interval overlapping the spillover
        (DAY, DAY + 2 * H),
    ]
    df = spark.createDataFrame(rows, "s long, e long")
    out = {r["epoch_day"]: r["peak"] for r in
           peak_concurrency(df, "s", "e").collect()}
    assert out[0] == 3  # the three morning intervals all open
    assert out[1] == 2  # midnight spillover + the day-1 interval


def test_peak_concurrency_half_open_no_false_overlap(spark):
    from mvrepair.operators.temporal import peak_concurrency

    # back-to-back chain: peak must stay 1
    df = spark.createDataFrame(
        [(i * 100, (i + 1) * 100) for i in range(10)], "s long, e long"
    )
    [r] = peak_concurrency(df, "s", "e").collect()
    assert r["peak"] == 1


def test_quantile_normalize_equalizes_marginals(spark):
    from mvrepair.operators.dq import quantile_normalize

    # group A: 1..4, group B: 101..104 — after normalization both
    # groups' values map onto the POOLED order statistics at matching
    # relative ranks, so rank i of A and rank i of B normalize equal
    rows = [(i, "A", i) for i in range(1, 5)] + [
        (i + 10, "B", 100 + i) for i in range(1, 5)
    ]
    df = spark.createDataFrame(rows, "doc_id long, src string, v long")
    out = quantile_normalize(df, "v", "src", "doc_id", q=4)
    got = {(r["group"], r["pct"]): r["norm_value"] for r in out.collect()}
    # pooled sorted: 1,2,3,4,101,102,103,104 (N=8); rank r of a 4-row
    # group -> pct r -> pooled position ceil(8r/4) = 2r
    assert got[("A", 1)] == got[("B", 1)] == 2
    assert got[("A", 2)] == got[("B", 2)] == 4
    assert got[("A", 3)] == got[("B", 3)] == 102
    assert got[("A", 4)] == got[("B", 4)] == 104


def test_quantile_normalize_identity_on_single_group(spark):
    from mvrepair.operators.dq import quantile_normalize

    # one group: pooled = own distribution; with q = n every row maps
    # back to its own value (type-1 exactness)
    df = spark.createDataFrame(
        [(i, "S", v) for i, v in enumerate([5, 9, 2, 7])],
        "doc_id long, src string, v long",
    )
    out = quantile_normalize(df, "v", "src", "doc_id", q=4)
    assert all(
        r["norm_value"] == r["value"] for r in out.collect()
    )


def test_phrase_search_counts_and_overlaps(spark):
    from mvrepair.operators.text import phrase_search

    docs = spark.createDataFrame(
        [
            (1, "a b c a b"),       # "a b" twice, "a b c" once
            (2, "b a c"),           # no "a b"
            (3, "x x x"),           # repeated-term phrase: "x x" twice
        ],
        "doc_id long, text string",
    )
    out = {
        (r["phrase"], r["doc_id"]): r["n_matches"]
        for r in phrase_search(docs, ["a b", "a b c", "x x"]).collect()
    }
    assert out == {
        ("a b", 1): 2,
        ("a b c", 1): 1,
        ("x x", 3): 2,  # overlapping matches at positions 0 and 1
    }


def test_mutual_nn_pairs_keeps_only_reciprocal(spark):
    from mvrepair.operators.similarity import mutual_nn_pairs

    # 1->2 and 2->1 are mutual; 3->1 is one-directional (1 prefers 2);
    # 4->5 / 5->4 mutual
    nn = spark.createDataFrame(
        [(1, 2, 900000), (2, 1, 900000), (3, 1, 500000),
         (4, 5, 800000), (5, 4, 800000)],
        "query_id long, neighbor_id long, cosine_micro long",
    )
    out = {(r["id_a"], r["id_b"]): r["cosine_micro"]
           for r in mutual_nn_pairs(nn).collect()}
    assert set(out) == {(1, 2), (4, 5)}
    assert out[(1, 2)] == 900000


def test_snm_single_block_window_pairs(spark):
    from mvrepair.operators.linkage import snm_pairs

    df = spark.createDataFrame(
        [(i, f"aa{i}") for i in range(1, 6)], "id long, key string"
    )
    out = snm_pairs(
        df, "key", "id", block_prefix_len=2, window=3, max_dist=2
    )
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    # each record vs its 2 successors in sort order
    assert pairs == {(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (3, 5),
                     (4, 5)}


def test_snm_boundary_recovery_matches_flat_window(spark):
    from mvrepair.operators.linkage import snm_pairs

    # two blocks "aa" / "ab"; the boundary recovery must produce exactly
    # the pairs a single flat sorted window of 3 would: (2,3), (1,3),
    # (2,4) across the boundary — and NOT (1,4), which is 3 apart.
    df = spark.createDataFrame(
        [(1, "aa1"), (2, "aa2"), (3, "ab1"), (4, "ab2")],
        "id long, key string",
    )
    out = snm_pairs(
        df, "key", "id", block_prefix_len=2, window=3, max_dist=3
    )
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert pairs == {(1, 2), (3, 4), (2, 3), (1, 3), (2, 4)}
    # verify column canonicalization: key_a belongs to the smaller id
    row = {(r["id_a"], r["id_b"]): r for r in out.collect()}[(2, 3)]
    assert row["key_a"] == "aa2" and row["key_b"] == "ab1"
    assert row["dist"] == 2


def test_snm_max_dist_filters(spark):
    from mvrepair.operators.linkage import snm_pairs

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "aaab"), (3, "zzzz")],
        "id long, key string",
    )
    out = snm_pairs(
        df, "key", "id", block_prefix_len=1, window=3, max_dist=1
    )
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    # (1,3)/(2,3) are window candidates across blocks but fail the
    # levenshtein verify at max_dist=1
    assert pairs == {(1, 2)}


def test_ams_f2_single_key_is_exact_and_validates(spark):
    import pytest as _pytest

    from mvrepair.operators.sketch import ams_f2

    # one key repeated n times: every replica's Z is +-n, so every
    # block mean is exactly n^2 and the median equals the exact F2
    df = spark.createDataFrame([(7,)] * 23, "k long")
    [r] = ams_f2(df, "k", reps=8, groups=2).collect()
    assert r["f2_exact"] == 23 * 23
    assert r["f2_est"] == 23 * 23
    assert r["err_micro"] == 0
    with _pytest.raises(ValueError):
        ams_f2(df, "k", reps=10, groups=4)
    with _pytest.raises(ValueError):
        ams_f2(df, "k", reps=64, groups=8)  # > 60 hash bits


def test_ams_f2_matches_python_replay(spark):
    import hashlib

    from mvrepair.operators.sketch import ams_f2

    keys = [i % 13 for i in range(200)]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    [r] = ams_f2(df, "k", reps=8, groups=2).collect()

    def sign(k, rep):
        h = int(hashlib.md5(f"{k}".encode()).hexdigest()[:15], 16)
        return 1 - 2 * ((h >> rep) & 1)

    z = [sum(sign(k, rep) for k in keys) for rep in range(8)]
    means = [sum(v * v for v in z[g * 4:(g + 1) * 4]) // 4 for g in (0, 1)]
    est = sorted(means)[0]  # lower median of 2
    from collections import Counter

    exact = sum(c * c for c in Counter(keys).values())
    assert r["f2_est"] == est and r["f2_exact"] == exact


def test_label_communities_two_cliques_and_isolate(spark):
    from mvrepair.operators.linkage import label_communities

    # two triangles {1,2,3} and {10,11,12} joined by the single edge
    # 3-10, plus isolated node 99.  Within 4 synchronous rounds each
    # triangle converges to its min label; the bridge is outvoted
    # (each endpoint has 2 same-clique neighbors vs 1 across).
    und = [(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (11, 12), (3, 10)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in und] + [(b, a) for a, b in und],
        "src long, dst long",
    )
    nodes = spark.createDataFrame(
        [(n,) for n in [1, 2, 3, 10, 11, 12, 99]], "id long"
    )
    out = {
        r["id"]: r["community"]
        for r in label_communities(edges, nodes, iters=4).collect()
    }
    assert out[1] == out[2] == out[3] == 1
    assert out[10] == out[11] == out[12]
    assert out[10] != out[1]
    assert out[99] == 99  # isolated node keeps its own label


def test_label_communities_tie_breaks_to_smaller_label(spark):
    from mvrepair.operators.linkage import label_communities

    # node 5 has exactly two neighbors, 2 and 7, one vote each after
    # round 1 (each keeps its own label: 2's neighbor is only 5, whose
    # round-0 label 5 wins 2's vote... pin round-1 adoption directly
    # with a single round so the vote is over initial labels).
    edges = spark.createDataFrame(
        [(2, 5), (7, 5)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(2,), (5,), (7,)], "id long")
    out = {
        r["id"]: r["community"]
        for r in label_communities(edges, nodes, iters=1).collect()
    }
    assert out[5] == 2  # tie between labels {2, 7} -> smaller wins
    assert out[2] == 2 and out[7] == 7  # no in-edges: labels carried


def test_w1_identical_zero_and_pure_shift_exact(spark):
    from datetime import datetime

    from mvrepair.operators import dq

    def frame(vals_a, vals_b):
        rows = [(datetime(2024, 1, 1, 0), float(v)) for v in vals_a] + [
            (datetime(2024, 1, 2, 0), float(v)) for v in vals_b
        ]
        return spark.createDataFrame(rows, "ts timestamp, value double")

    same = list(range(1, 51))
    [r] = dq.numeric_drift_w1(frame(same, same), "value", "ts").collect()
    assert r["w1_num"] == 0 and r["w1_micro"] == 0
    # a pure shift of +10 value units = 1000 quantized units moves every
    # point exactly that far: W1 = 1000 units -> 1e9 micro-units
    [r] = dq.numeric_drift_w1(
        frame(range(1, 51), range(11, 61)), "value", "ts"
    ).collect()
    assert r["w1_micro"] == 1_000_000_000
    assert r["na"] == 50 and r["nb"] == 50


def test_w1_matches_python_reference(spark):
    from datetime import datetime

    from mvrepair.operators import dq

    a = [i % 97 + 1 for i in range(300)]
    b = [(i % 89) * 2 + 5 for i in range(280)]
    rows = [(datetime(2024, 1, 1), float(v)) for v in a] + [
        (datetime(2024, 1, 3), float(v)) for v in b
    ]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    [r] = dq.numeric_drift_w1(df, "value", "ts").collect()
    units = sorted({v * 100 for v in a} | {v * 100 for v in b})
    na, nb = len(a), len(b)
    num = sum(
        abs(sum(1 for v in a if v * 100 <= u) * nb
            - sum(1 for v in b if v * 100 <= u) * na) * (nxt - u)
        for u, nxt in zip(units, units[1:])
    )
    assert r["w1_num"] == num
    assert r["w1_micro"] == num * 1_000_000 // (na * nb)
    assert r["n_units"] == len(units)


# ----------------------------------------------------------- Kaplan-Meier


def test_km_survival_textbook_example(spark):
    from datetime import datetime, timedelta

    from mvrepair.operators import temporal as T

    # 6 users, hour buckets.  u1,u2 convert at t=1; u3 censored at t=1;
    # u4 converts at t=2; u5 censored at t=3; u6 converts at t=3.
    base = datetime(2024, 1, 1, 0)

    def u(uid, *evts):
        return [
            (uid, base + timedelta(hours=h), et) for h, et in evts
        ]

    rows = (
        u(1, (0, "view"), (1, "purchase"))
        + u(2, (0, "view"), (1, "purchase"))
        + u(3, (0, "view"), (1, "view"))
        + u(4, (0, "view"), (2, "purchase"))
        + u(5, (0, "view"), (3, "view"))
        + u(6, (0, "view"), (3, "purchase"))
    )
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    out = {r["t"]: r for r in T.km_survival(df).collect()}
    # t=1: n=6, d=2, c=1 -> S = 1e6*4//6 = 666666
    assert out[1]["n"] == 6 and out[1]["d"] == 2 and out[1]["c"] == 1
    assert out[1]["s_micro"] == 666_666
    # t=2: n=3, d=1 -> S = 666666*2//3 = 444444
    assert out[2]["n"] == 3 and out[2]["s_micro"] == 444_444
    # t=3: n=2, d=1, c=1 -> S = 444444*1//2 = 222222
    assert out[3]["n"] == 2 and out[3]["d"] == 1 and out[3]["c"] == 1
    assert out[3]["s_micro"] == 222_222


def test_km_survival_monotone_and_bounded(spark, sf_dir):
    from mvrepair.operators import temporal as T

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = sorted(T.km_survival(ev).collect(), key=lambda r: r["t"])
    assert rows, "life table empty"
    s = [r["s_micro"] for r in rows]
    assert all(0 <= x <= 1_000_000 for x in s)
    assert s == sorted(s, reverse=True)  # survival never increases
    # at-risk bookkeeping: n_t = n_prev - d_prev - c_prev across rows
    for a, b in zip(rows, rows[1:]):
        assert b["n"] == a["n"] - a["d"] - a["c"]


# ------------------------------------------------------------------ Gini


def test_gini_uniform_zero_and_degenerate_one(spark):
    from mvrepair.operators import dq

    uni = spark.createDataFrame(
        [(k, 100) for k in range(50)], "k long, v long"
    )
    [r] = dq.gini_concentration(uni, "k", "v").collect()
    assert r["gini_micro"] == 0 and r["n_keys"] == 50
    # one key owns everything: G = (n-1)/n = 0.98
    deg = spark.createDataFrame(
        [(0, 1000)] + [(k, 0) for k in range(1, 50)], "k long, v long"
    )
    [r] = dq.gini_concentration(deg, "k", "v").collect()
    assert r["gini_micro"] == 980_000


def test_gini_matches_python_reference(spark):
    from mvrepair.operators import dq

    vals = [(k, (k * 37) % 101 + 1) for k in range(200)]
    df = spark.createDataFrame(vals, "k long, v long")
    [r] = dq.gini_concentration(df, "k", "v").collect()
    xs = sorted(v for _, v in vals)
    n, tot = len(xs), sum(xs)
    num = sum((2 * (i + 1) - n - 1) * x for i, x in enumerate(xs))
    assert r["gini_micro"] == (1_000_000 * num) // (n * tot)
    assert r["total_value"] == tot


# ------------------------------------------------------------------ Zipf


def test_zipf_slope_recovers_power_law(spark):
    from mvrepair.functions.exactlog import py_micro_log2
    from mvrepair.operators.regression import grouped_trend
    from pyspark.sql import functions as F

    # construct an EXACT power law: freq(rank) = floor(2^20 / rank)
    # (s = 1), feed the same micro_log2 pipeline the query uses
    rows = [(r, (1 << 20) // r) for r in range(1, 201)]
    df = spark.createDataFrame(rows, "rnk long, f long")
    from mvrepair.functions.exactlog import micro_log2

    pts = df.select(
        F.lit("zipf").alias("corpus"),
        micro_log2(F.col("rnk").cast("double")).alias("lx"),
        micro_log2(F.col("f").cast("double")).alias("ly"),
    )
    [r] = grouped_trend(pts, "corpus", F.col("lx"), F.col("ly")).collect()
    # slope_micro = floor(1e6 * b); b should be ~-1 (within floor noise
    # of the 2^20/r truncation at deep ranks)
    assert -1_001_000 < r["slope_micro"] < -995_000
    # python replay of the exact OLS on the exact ladder values
    xs = [py_micro_log2(float(rr)) for rr, _ in rows]
    ys = [py_micro_log2(float(f)) for _, f in rows]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx = sum(a * a for a in xs)
    num, den = (n * sxy - sx * sy) * 1_000_000, n * sxx - sx * sx
    assert r["slope_micro"] == num // den  # python // floors like the op


# ------------------------------------------------------------------- RBO


def test_rbo_weights_are_the_exact_rationals():
    from fractions import Fraction

    import __spark_entry__ as e

    # W[m] must equal 6e6 * Σ_{d=m..5} (1/10)(9/10)^(d-1) / d exactly
    for m in range(1, 6):
        exact = sum(
            Fraction(1, 10) * Fraction(9, 10) ** (d - 1) / d
            for d in range(m, 6)
        ) * 6_000_000
        assert exact == e._RBO_W[m - 1]
    # perfect agreement = one pair first covered at every depth
    assert sum(e._RBO_W) == e._RBO_PERFECT
    # ...and equals (1 - p^5) in micro-units over the 6e6 denominator
    assert Fraction(e._RBO_PERFECT, 6_000_000) == 1 - Fraction(9, 10) ** 5


def test_rbo_identical_rankings_score_perfect(spark, sf_dir):
    import __spark_entry__ as e
    from mvrepair.operators import similarity as S
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    brute = S.cosine_topk(emb, queries, k=5)
    w_arr = F.array(*[F.lit(w).cast("long") for w in e._RBO_W])
    num = (
        brute.alias("a")
        .join(
            brute.alias("b"),
            [
                F.col("a.query_id") == F.col("b.query_id"),
                F.col("a.neighbor_id") == F.col("b.neighbor_id"),
            ],
        )
        .select(
            F.col("a.query_id"),
            F.element_at(
                w_arr, F.greatest(F.col("a.rank"), F.col("b.rank"))
            ).alias("w"),
        )
        .groupBy("a.query_id")
        .agg(F.sum("w").alias("n"))
        .collect()
    )
    assert num and all(r["n"] == e._RBO_PERFECT for r in num)


# ------------------------------------------------------------------ EWMA


def test_ewma_matches_python_recurrence_and_seed(spark):
    from mvrepair.operators import temporal as T

    rows = [("a", t, x) for t, x in enumerate([10, 10, 50, 10, 10])] + [
        ("b", t, x) for t, x in enumerate([3, 4])
    ]
    df = spark.createDataFrame(rows, "k string, t long, x long")
    out = {
        (r["k"], r["t"]): r
        for r in T.ewma_smooth(df, "k", "t", "x").collect()
    }

    def replay(xs):
        s, res = None, []
        for x in xs:
            sp = x * 1_000_000 if s is None else s
            s = (1 * x * 1_000_000 + 7 * sp) // 8
            res.append((s, x * 1_000_000 - sp))
        return res

    for k, xs in (("a", [10, 10, 50, 10, 10]), ("b", [3, 4])):
        for t, (sm, dev) in enumerate(replay(xs)):
            assert out[(k, t)]["s_micro"] == sm
            assert out[(k, t)]["dev_micro"] == dev
    # seed row: s = x, dev = 0; the spike at t=2 carries a big +dev
    assert out[("a", 0)]["s_micro"] == 10_000_000
    assert out[("a", 0)]["dev_micro"] == 0
    assert out[("a", 2)]["dev_micro"] == 40_000_000


def test_ewma_validation(spark):
    import pytest as _pytest

    from mvrepair.operators import temporal as T

    df = spark.createDataFrame([("a", 1, 1)], "k string, t long, x long")
    with _pytest.raises(ValueError):
        T.ewma_smooth(df, "k", "t", "x", alpha_num=0)
    with _pytest.raises(ValueError):
        T.ewma_smooth(df, "k", "t", "x", alpha_num=9, alpha_den=8)
