"""Self-test of the local correctness gate's compare semantics.

Round-4 verdict item #6: the gate compared an order-insensitive multiset,
so ORDER BY row-order divergence was locally invisible.  These tests pin
the fix: oracles with a top-level ORDER BY are compared as row
sequences, and a deliberately shuffled ordered result FAILS the gate.
"""

import os
import sys

# the tools/ directory of the checkout this test sits in
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_ROOT, "tools"))

from check_oracle import (  # noqa: E402
    df_to_multiset,
    df_to_sequence,
    has_toplevel_order_by,
)


class TestOrderByDetection:
    def test_plain_order_by(self):
        assert has_toplevel_order_by("SELECT a FROM t ORDER BY a")

    def test_order_by_with_limit(self):
        assert has_toplevel_order_by("SELECT a FROM t ORDER BY a DESC LIMIT 5")

    def test_no_order_by(self):
        assert not has_toplevel_order_by("SELECT a, count(*) FROM t GROUP BY a")

    def test_subquery_order_by_is_not_toplevel(self):
        sql = "SELECT * FROM (SELECT a FROM t ORDER BY a LIMIT 3) s"
        assert not has_toplevel_order_by(sql)

    def test_window_order_by_is_not_toplevel(self):
        sql = ("SELECT a, row_number() OVER (PARTITION BY b ORDER BY c) rn "
               "FROM t")
        assert not has_toplevel_order_by(sql)

    def test_cte_then_toplevel_order_by(self):
        sql = ("WITH s AS (SELECT a FROM t ORDER BY a LIMIT 3) "
               "SELECT * FROM s ORDER BY a")
        assert has_toplevel_order_by(sql)

    def test_order_inside_string_literal_ignored(self):
        assert not has_toplevel_order_by(
            "SELECT 'ORDER BY nothing' AS s FROM t")

    def test_case_insensitive(self):
        assert has_toplevel_order_by("select a from t order by a")


class TestShuffledOrderedResultFails:
    COLS = ["k", "v"]
    ROWS = [(1, "a"), (2, "b"), (3, "c")]
    SHUFFLED = [(3, "c"), (1, "a"), (2, "b")]

    def test_sequence_compare_catches_shuffle(self):
        # The fix: an ordered oracle compared as a sequence FAILS when the
        # engine returns the right rows in the wrong order.
        assert (df_to_sequence(self.COLS, self.ROWS)
                != df_to_sequence(self.COLS, self.SHUFFLED))

    def test_multiset_compare_would_have_missed_it(self):
        # The pre-fix behavior (documents why the sequence path exists).
        assert (df_to_multiset(self.COLS, self.ROWS)
                == df_to_multiset(self.COLS, self.SHUFFLED))

    def test_sequence_compare_passes_when_order_matches(self):
        assert (df_to_sequence(self.COLS, self.ROWS)
                == df_to_sequence(self.COLS, list(self.ROWS)))


class TestRegistryOrderingContract:
    """The driver's CORRECTNESS gate checks only the FIRST 50 entries of
    ``queries()`` — pin that every component family keeps a representative
    inside that window (the round-4 regression: the registry grew past 50
    and whole families silently fell off the hard correctness signal)."""

    # one representative per family that MUST stay driver-checked.
    # Round-7 rotation: the round-6 algebras (nbayes, span removal, DSIR,
    # budget fill, snapshot diff, skew profile, dedup apply, log
    # compaction) are first-class families here; formerly separate
    # families whose members are true PHYSICAL-PLAN twins were merged so
    # their window slot could be reused (range-join ≡ interval-join:
    # same non-equi-under-equi join strategy; ann-lsh ≡ ann-ivf:
    # bucket-prune + in-bucket rerank; streaming-compaction ≡
    # streaming-dedup: JVM-state keep-one-per-key agg; streaming-sessions
    # shares the sessionization oracle SQL verbatim; multimodal
    # features/frames ≡ multimodal-decode: same Arrow mapInPandas
    # plumbing).  Every demoted member keeps a frozen plan fingerprint
    # (tests/test_plans.py) and a local-gate row.
    FAMILIES = {
        "reconcile": "mv_classify",
        "repair": "mv_repair_upserts",
        "repair-log-compact": "repair_log_compact",
        "analytics-agg": "pricing_summary",
        "rollup": "orders_rollup",
        "set-ops": "lapsed_customers",
        "asof-join": "purchase_attribution",
        "range-interval-join": "sessions_in_maintenance",
        "sessionization": "event_sessions",
        "text": "text_stats",
        "quality": "quality_percentiles",  # r8: text_quality demoted; the gate algebra is driver-checked via its rank-normalization
        "splits": "doc_splits",
        # r11: bm25_rank demoted for events_hll's promotion — BM25 and
        # tf-idf are the same explode -> term-keyed df/tf shuffle +
        # per-doc rollup as the inverted-index rep
        "term-stats": "posting_lists",
        # r8 merge: repetition + substring-dup are one doc-scoped
        # gram-hash agg family (the r6 verdict's own grouping)
        "repetition-substring-dup": "substring_dupes",
        # r8 merge: packing + chunking are one training-layout family
        "packing-chunking": "pack_sequences",
        "budget-fill": "token_budget_fill",
        # r9 merge: dsir_scores demoted for zorder_layout — DSIR scoring
        # is the same count-trained broadcast-model algebra over hashed
        # token buckets as nbayes (the doc_perplexity twin doctrine)
        "dsir-nbayes": "nb_classify",
        "dedup-exact": "dedup_exact",
        # r9 merge: simhash_neardup demoted for orders_pivot — the
        # simhash near-dup pipeline is a plan twin of the minhash
        # banded path (signature -> band-bucket equi-join -> verify),
        # so both signature families share one window rep
        "minhash-lsh-simhash": "neardup_minhash",
        "components": "dedup_clusters",
        # r10 merge: dedup_apply demoted for orders_bloom_prune — apply
        # is a pure composition (the ann_recall doctrine): the identical
        # checkpointed components loop (dedup_clusters, in-window) + the
        # keep-best argmax + anti-join materialization (the
        # dedup_keep_best / lapsed_customers shapes)
        "dedup-apply": "dedup_clusters",
        "span-dedup": "span_dedup",
        "decontamination": "contamination_ngram",
        # r10 wave 2: merkle range-digest reconcile promoted into
        # corpus_diff's slot — the digest-agg + dirty-bucket drill is a
        # genuinely new physical shape (map-combinable xor fold, driver
        # tree exchange, IN-pruned row compare); corpus_diff demoted as
        # a true plan twin of mv_classify (full-outer join + existence
        # classification, the O8/O9 shape, on digest rows)
        "merkle-digest": "mv_merkle_keys",
        "key-skew": "key_skew",
        "nbayes": "nb_classify",
        # r10 merge: ann_ivf_topk demoted for events_sliding — the IVF
        # coarse-probe equi-join + _ranked WindowGroupLimit cut is
        # pq_topk's candidate generator verbatim (pq adds only map-side
        # code/ADC projections), so both bucketed-ANN shapes share the
        # compressed-domain rep
        "ann-bucketed": "pq_topk",
        "embedding-neardup": "embedding_neardup",
        "kmeans": "kmeans_clusters",
        # r9 merge: semantic_dedup demoted for pq_topk — its trained
        # build is kmeans_clusters verbatim and its sweep is a
        # cluster-keyed rank window (the posting_lists family)
        "semantic-dedup": "kmeans_clusters",
        "streaming-agg": "events_hourly_stream",
        # r8 wave-4 merge: the streaming DEDUP rep folds into the
        # stateful-agg family (same JVM-state shape; the dedup algebra
        # itself stays driver-checked via batch dedup_exact), and the
        # streaming REPAIR rep folds into the foreachBatch-reconcile
        # family (same pipeline shape; the repair algebra stays
        # driver-checked via batch mv_repair_upserts)
        "streaming-reconcile-repair": "mv_classify_stream",
        "streaming-neardup": "neardup_stream",
        "multimodal-decode": "multimodal_decode",
        "fuzzy-linkage": "name_linkage",
        "basket-mining": "basket_pairs",
        "transition-matrix": "event_transitions",
        "pagerank": "part_pagerank",
        "rank-normalization": "quality_percentiles",
        # round-8 wave-2 families
        "gapfill-locf": "events_gapfill",
        "triangles": "part_triangles",
        "cohort-retention": "cohort_retention",
        # r10 wave 5: source_divergence demoted for view_purchase_stream
        # — the KL family merges into the count-model rep (nb_classify),
        # the dsir/doc_perplexity precedent; the stream-stream join gets
        # its own locked family slot
        "kl-divergence": "nb_classify",
        "streaming-join": "view_purchase_stream",
        # round-8 wave-3 families (promoted in wave 4)
        # r11 session 3: event_funnel demoted for events_ams_f2's
        # promotion — the funnel's per-user ordered scan is the same
        # key-keyed Exchange+Sort window family as the gapfill rep
        # (the events_anomaly precedent)
        "funnel": "events_gapfill",
        # r11 session 3: the AMS tug-of-war F2 estimator — the
        # session's new numeric pipeline, driver-hashed per the
        # r10 task-#4 rotation doctrine
        "ams-f2": "events_ams_f2",
        # r10 wave 4: events_anomaly demoted for event_trend — the
        # trailing-RANGE anomaly window is a plan twin of the gapfill
        # rep (one key-keyed Exchange+Sort over the types x hours
        # frame); the anomaly family keeps driver coverage through it
        "anomaly": "events_gapfill",
        # r11 rotation: event_trend demoted for embed_kcenter — the
        # regression aggregate is the partial-agg fact-rollup shape
        # (its own docstring: two hash aggs, no window, no sort), so
        # the trend family rides the analytics-agg rep; the OLS
        # ALGEBRA stays locally gated via event_trend's past-window row
        "trend-regression": "pricing_summary",
        # r11: greedy selection loops (kcenter in-window; MMR rides it)
        "selection": "embed_kcenter",
        "posting-lists": "posting_lists",
        "collocations": "collocations",
        # round-8 wave-5 families
        "jaccard-join-exact": "jaccard_join_exact",
        "interval-coalescing": "activity_islands",
        # round-8 wave-6 families
        "skyline-dominance": "part_skyline",
        # round-9 promotion (r8 verdict item #4): native PivotFirst
        "pivot": "orders_pivot",
        # round-9 family: Morton-interleave data layout (scan pruning)
        "zorder-layout": "zorder_layout",
        # round-9 family: product-quantized compressed-domain ANN
        "pq-ann": "pq_topk",
        # round-10 promotion (r9 verdict item #6): native hopping
        # window — Expand below the agg is a distinct physical shape
        "hopping-window": "events_sliding",
        # round-10 family: deterministic Bloom semi-join reduction —
        # bitmap build + map-side bit-test pruning below an exact join
        "bloom-semijoin": "orders_bloom_prune",
        # round-11 promotion (r10 verdict item #4): mergeable HLL
        # register sketch — max-rho fold + inclusion-exclusion estimate
        # with an exact-audit column; the first genuinely new numeric
        # estimator algebra driver-hashed since the KMV/theta family
        "hll-registers": "events_hll",
    }

    # every PAST-WINDOW query must name its in-window twin here — the
    # round-6 lesson: the FAMILIES map alone passes vacuously when new
    # queries are appended past position 50 without a family entry.
    # This map plus test_every_query_assigned makes that structurally
    # impossible: a new registry entry that is neither an in-window
    # family representative nor an assigned twin FAILS the suite.
    TWIN_OF = {
        "mv_repair_deletes": "mv_repair_upserts",  # r8 wave 4: apply demoted; same prepared repair frame
        "purchase_context": "sessions_in_maintenance",
        "neardup_minhash_capped": "neardup_minhash",
        "ann_lsh_topk": "pq_topk",  # r10: ann_ivf_topk demoted; bucket-prune + rerank rides the compressed-domain rep
        "events_latest_stream": "events_hourly_stream",  # r8 wave 4: dedup_exact_stream demoted; same stateful-agg shape
        "sessions_stream": "event_sessions",
        "multimodal_features": "multimodal_decode",
        "multimodal_frames": "multimodal_decode",
        "events_hourly": "events_hourly_stream",
        "minhash_signatures": "neardup_minhash",
        "events_latest": "posting_lists",
        "corpus_profile": "pricing_summary",
        "simhash": "neardup_minhash",  # r9: simhash_neardup demoted; signature algebra rides the banded-signature family rep
        "split_contamination": "doc_splits",
        "orders_cube": "orders_rollup",
        "events_by_type_salted": "events_hourly_stream",
        "next_touch": "purchase_attribution",
        "retained_customers": "lapsed_customers",
        "lang_scores": "text_stats",
        "text_scrub": "text_stats",
        "doc_fingerprint": "text_stats",
        "rolling_fingerprint": "text_stats",
        "token_counts": "text_stats",
        "doc_sample": "doc_splits",
        "tfidf_topterms": "posting_lists",  # r11: bm25_rank demoted; same term-stat shuffle family
        "token_quantiles": "posting_lists",  # r8 wave 4: heavy_hitters demoted; same token-agg family
        "pretrain_corpus": "quality_percentiles",
        "corpus_mix": "doc_splits",
        "dedup_keep_best": "dedup_clusters",
        "quality_funnel": "quality_percentiles",
        "training_order": "pack_sequences",
        "rare_tokens": "substring_dupes",
        "label_outliers": "kmeans_clusters",
        "bpe_merges": "collocations",  # r8 wave 4: heavy_hitters demoted; same adjacent-pair count + TakeOrdered shape
        # r10 wave 2: corpus_diff demoted (merkle promotion) — both ride
        # the reconcile rep's full-outer-join + classify shape
        "corpus_diff": "mv_classify",
        "index_upsert": "mv_classify",
        # r10 wave 2: the digest-diff report is mv_merkle_keys' literal
        # stage-1 prefix (same two digest aggs + tiny full-outer join)
        "mv_merkle_diff": "mv_merkle_keys",
        # r11: events_hll PROMOTED into the window (the register-fold
        # estimator algebra now driver-hashed directly); bm25_rank takes
        # its past-window slot as a term-stat-shuffle twin
        "bm25_rank": "posting_lists",
        # r10 wave 2: declarative DQ gate — one hash-aggregate pass
        # (the pricing_summary shape) exploded into a (check, value,
        # passed) verdict report (the mv_stats counter doctrine)
        "lineitem_dq": "pricing_summary",
        # r10 wave 2: continuously-maintained merkle digests — the same
        # JVM-state keyed-agg shape as the streaming-agg rep; the digest
        # algebra itself is mv_merkle_keys' in-window stage 1
        "mv_merkle_stream": "events_hourly_stream",
        # r10 wave 2: incremental view maintenance — a pure map-
        # combinable hash-agg pipeline (agg -> union of partial states
        # -> re-agg), the pricing_summary shape; its oracle is the full
        # recompute, so the driver hash gates incremental exactness
        "mv_agg_refresh": "pricing_summary",
        # r10 wave 2: N-replica quorum vote — the identical two-phase
        # digest + dirty-bucket drill as the merkle rep, plus tiny vote
        # aggregates over the pruned frame
        "mv_quorum_repair": "mv_merkle_keys",
        # r10 wave 2: point-in-time enrichment — the as-of union+window
        # shape (its rep) composed with the scd2 run encoding (locally
        # gated through scd2_history), the composition doctrine
        "purchase_state_pit": "purchase_attribution",
        # r10 wave 2: time-weighted average — one key-keyed
        # Exchange+Sort carrying a lead window + the agg, the
        # sessionization rep's shape
        "events_twa": "event_sessions",
        # r10 wave 3: the merkle-pruned repair — the identical classify
        # + upsert planner as the repair rep, fed by the in-window
        # merkle drill; its oracle is the FULL-SCAN window-free plan
        "mv_merkle_upserts": "mv_repair_upserts",
        "mv_merkle_deletes": "mv_repair_upserts",
        # r10 wave 3: join-output pre-flight — the key_skew per-key
        # count-frame reduction, two-sided
        "orders_lineitem_joinsize": "key_skew",
        # r10 wave 3: incremental digest maintenance — the merkle rep's
        # digest agg under the mergeable-state union+re-agg refresh
        # shape; oracle rebuilds from scratch
        "mv_merkle_refresh": "mv_merkle_keys",
        # r10 wave 3: referential DQ — per-check anti-join against the
        # distinct dim keys, the lapsed_customers set-op shape
        "lineitem_fk_dq": "lapsed_customers",
        # r10 wave 3: streaming HLL registers — the JVM-state keyed-agg
        # shape; the sketch algebra rides events_hll's oracle verbatim
        "events_hll_stream": "events_hourly_stream",
        "nb_stream": "nb_classify",
        "ann_recall": "pq_topk",  # r10: ann_ivf_topk demoted; composition rides the pq rep (the pq_recall shape)
        # demoted in the round-8 rotation (driver-green r1-r7):
        "multimodal_meta": "multimodal_decode",
        "ann_cosine_topk": "pq_topk",  # r10: ann_ivf_topk demoted; the _ranked top-k cut rides the pq rep
        "distinct_docs_kmv": "posting_lists",  # r8 wave 4: heavy_hitters demoted; same token-agg family
        "top_revenue_orders": "pricing_summary",
        "part_rank_fusion": "part_pagerank",
        # demoted in the round-8 rotation wave 2 (driver-green r1-r7):
        "mv_stats": "mv_classify",
        "text_quality": "quality_percentiles",
        "doc_repetition": "substring_dupes",
        "doc_chunks": "pack_sequences",
        # demoted in the round-8 rotation wave 4 (driver-green r1-r7):
        "heavy_hitters": "posting_lists",
        "mv_repair_apply": "mv_repair_upserts",
        "mv_upserts_stream": "mv_classify_stream",
        "dedup_exact_stream": "events_hourly_stream",
        # demoted in the round-8 rotation wave 5 (driver-green r1-r7):
        "mv_report_text": "mv_classify",
        "top_users_per_event": "posting_lists",
        # demoted in the round-8 rotation wave 6 (driver-green r1-r7):
        "regional_revenue": "pricing_summary",
        # round-8 wave-6 additions (twin doctrine):
        "doc_perplexity": "nb_classify",
        "part_kcore": "part_pagerank",
        "minhash_calibration": "neardup_minhash",
        "event_paths": "event_transitions",
        "scd2_history": "activity_islands",
        "similar_parts": "jaccard_join_exact",
        "semantic_leakage": "embedding_neardup",
        # demoted in the round-9 rotation (driver-green r1-r8), making
        # room for orders_pivot's promotion:
        "simhash_neardup": "neardup_minhash",
        # demoted in the round-9 rotation (driver-green r1-r8), making
        # room for zorder_layout's promotion:
        "dsir_scores": "nb_classify",
        # demoted in the round-9 rotation (driver-green r1-r8), making
        # room for pq_topk's promotion:
        "semantic_dedup": "kmeans_clusters",
        # round-9 addition (twin doctrine): per-row hash+ladder
        # projection + TakeOrdered cut, the distinct_docs_kmv shape
        "weighted_sample": "posting_lists",
        # round-9 addition: per-table bucket join + union, table 0 IS
        # the checked single-table operator
        "embedding_neardup_banded": "embedding_neardup",
        # round-9 addition: composition of checked pipelines (the
        # ann_recall doctrine)
        "pq_recall": "pq_topk",
        # round-9 addition, retargeted r10 (events_sliding promoted):
        # the streaming formulation of the identical hopping-window agg
        # (same JVM-state windowed-agg shape; oracle shared verbatim)
        "events_sliding_stream": "events_sliding",
        # demoted in the round-10 rotation (driver-green r1-r9), making
        # room for events_sliding's promotion: the coarse-probe
        # equi-join + _ranked cut is pq_topk's candidate generator
        # verbatim
        "ann_ivf_topk": "pq_topk",
        # round-10 addition: the production IVF-PQ configuration — the
        # identical pq pipeline with the coarse layer swapped to the
        # trained (kmeans_clusters-verbatim) centroid artifact
        "pq_topk_trained": "pq_topk",
        # demoted in the round-10 rotation (driver-green r1-r9), making
        # room for orders_bloom_prune's promotion: apply is the
        # checkpointed components loop (its twin) + the keep-best
        # argmax + anti-join materialization — the composition doctrine
        "dedup_apply": "dedup_clusters",
        # round-10 addition: the bitmap's own audit (oracle replays the
        # bloom from scratch) — the identical build + membership test
        "bloom_prune_stats": "orders_bloom_prune",
        # round-10 additions: grouped forms — the same projection
        # algebra under one group-keyed rank window (WindowGroupLimit),
        # the posting_lists shape; the projection algebras themselves
        # stay locally gated via weighted_sample / distinct_docs_kmv
        "weighted_sample_by_source": "posting_lists",
        "source_vocab_kmv": "posting_lists",
        # round-10 wave 4: events_anomaly demoted for event_trend's
        # promotion — the trailing-RANGE window rides the gapfill rep's
        # hourly-bucket + per-type ordered-frame shape
        "events_anomaly": "events_gapfill",
        # round-10 wave-4 additions:
        "value_correlation": "pricing_summary",  # identical sufficient-statistics partial-agg tree (the event_trend shape, demoted r11); adds Σy² + one IEEE sqrt-product divide
        # r11 rotation: event_trend demoted for embed_kcenter — the
        # two-hash-agg partial-agg tree (driver-green r10)
        "event_trend": "pricing_summary",
        "basket_rules": "basket_pairs",  # same co-partitioned basket self-join + pair agg prefix; rule algebra adds row-local direction explode + item-count joins
        "ann_multiprobe": "pq_topk",  # same bucket equi-join + WindowGroupLimit rerank; probe expansion is query-side row-local explode
        "contrastive_pairs": "doc_splits",  # deterministic hash-bucket assignment + 64-row broadcast join; election is the min-struct keep-best shape
        # round-10 wave-5 additions:
        # cms_audit: mergeable-sketch grid — the two-level bucket-keyed
        # reduction (events_hll's rep family); salted-md5 hash family +
        # sketch-as-checked-object audit ride bloom_prune_stats'
        # locally-gated algebra
        "cms_audit": "key_skew",
        # the identical distinct -> group-keyed WindowGroupLimit
        # bottom-k sample; theta set algebra runs over checkpointed
        # sketch-sized frames, the exact audit is the pair-join shape
        "user_overlap_kmv": "posting_lists",
        # the declarative-DQ verdict-report family: map-combinable agg
        # passes into (check, value, passed) rows; the two-level fold
        # is the key_skew reduction shape
        "orders_fd_profile": "pricing_summary",
        # the bounded-artifact iterative-model doctrine: suff-stats
        # pass -> driver-looped exact-integer recurrence -> broadcast-
        # literal scoring; the Arrow mapInPandas plumbing is the
        # multimodal rep's, driver-checked
        "embedding_pca": "kmeans_clusters",
        # demoted in the round-10 wave-5 rotation (driver-green r8-r9),
        # making room for view_purchase_stream's promotion: the
        # count-trained hashed-token distribution family with exact
        # micro_log2 scoring (the dsir_scores / doc_perplexity twins)
        "source_divergence": "nb_classify",
        # grouped PCA: the identical suff-stats -> driver eigen ->
        # broadcast-projection pipeline as the PCA rep, per label
        # (grouped equality pinned by test)
        "label_pca": "kmeans_clusters",
        # robust MAD outliers: group-keyed rank windows (the
        # percentile-rank rep's shape) + broadcast-threshold filters;
        # the discrete type-1 quantile algebra is token_quantiles',
        # locally gated
        "events_mad_anomaly": "quality_percentiles",
        # HLL inclusion-exclusion overlap: the identical register
        # algebra + fold as the register-sketch family (key_skew's
        # two-level reduction rep), per-pair union by register-wise
        # max; exact audit is the kmv pair join, locally gated
        "user_overlap_hll": "key_skew",
        # streaming PCA: identical driver eigen-iteration + projection
        # over bit-identical drained statistics (pinned by test); the
        # stateful cell agg is the streaming-agg rep's JVM-state shape
        "pca_stream": "events_hourly_stream",
        # MI/entropy profiling: the identical joint-count -> margin-join
        # -> fixed-order ratio -> micro_log2 ladder algebra as the PMI
        # rep, column-valued, under the DQ verdict-report convention
        "orders_mi_profile": "collocations",
        # TextRank keywords: the identical fixed-round exact-integer
        # rank recurrence as the graph rep, over the collocations
        # bigram edge frame — the composition doctrine
        "textrank_keywords": "part_pagerank",
        # wave-5 sketch compositions:
        # the AGMS inner-product pre-flight — grid algebra (key_skew's
        # two-level bucket reduction family) composed with the exact
        # join count, the ann_recall composition doctrine
        "cms_joinsize": "key_skew",
        # JVM-state grid maintenance (streaming-agg rep family); the
        # drained grid feeds cms_audit's batch composition, oracle
        # shared verbatim
        "cms_stream": "events_hourly_stream",
        # r11: fixed-grid histogram quantiles — the exact rank-window
        # audit is the quality_percentiles shape; the grid fold is one
        # map-combinable hash agg (pricing_summary family); the
        # estimator algebra is locally gated like distinct_docs_kmv
        "price_hist_quantiles": "quality_percentiles",
        # r11: the grid is a plain keyed count agg, streaming-legal
        # unchanged — JVM-state rep family; the quantile algebra rides
        # price_hist_quantiles' local gate, oracle shared verbatim
        "price_hist_stream": "events_hourly_stream",
        # r11: bucketed co-located join — the data-layout surface
        # family (zorder rep in-window: zorder = scan pruning, this =
        # shuffle elimination); the result algebra is pricing_summary's
        # exact-DECIMAL fact rollup
        "bucketed_join": "zorder_layout",
        # r11: PSI + chi-square categorical drift — the micro_log2
        # count-ladder scoring family (the source_divergence twin
        # doctrine); one (type, half) count pass + tiny-frame windows
        "events_drift_psi": "nb_classify",
        # r11: MMR diversified re-ranking — the selection-loop family
        # (one-scan-one-TakeOrdered rounds; its rep now in-window)
        "embed_mmr": "embed_kcenter",
        # r11: WOE/IV supervised binning — the micro_log2 count-ladder
        # family; boundaries ride the price_hist_quantiles grid sketch
        "orders_woe_iv": "nb_classify",
        # r11: contrastive hard-negative mining — the ANN family rep
        # (bucket equi-join + exact rerank + WindowGroupLimit top-k)
        "hard_negatives": "pq_topk",
        # r11: streaming drift twin — JVM-state keyed count agg (the
        # streaming-agg rep); the PSI/chi tail rides events_drift_psi's
        # local gate, oracle shared verbatim
        "events_drift_stream": "events_hourly_stream",
        # r11: Benford conformance — the count-ladder family's
        # constants-only corner (precomputed micro_log2 literals)
        "orders_benford": "nb_classify",
        # r11: largest-remainder budget apportionment — the per-key
        # count-frame-reduction family (one weight agg + tiny windows)
        "crawl_budget": "key_skew",
        # r11: multi-touch linear attribution — the user-keyed band
        # join family (purchase_context doctrine, rep in-window); the
        # Hamilton credit split is crawl_budget's algebra per group
        "touch_attribution": "sessions_in_maintenance",
        # r11: exact two-sample KS — the value-ordered exact-rank
        # cumulative family (token_quantiles/posting_lists shape)
        "events_drift_ks": "posting_lists",
        # r11: Kaplan-Meier — the per-user lifecycle-aggregate family
        # (cohort_retention's shape); the product recurrence folds over
        # one life-table row in-plan, oracle = recursive CTE
        "km_survival": "cohort_retention",
        # r11: Gini concentration — the exact-rank cumulative family
        # (one key agg + value-ordered rank window, the KS shape)
        "part_gini": "posting_lists",
        # r11: Zipf slope — the same key-count + rank-window frame
        # composed with the (locally gated) OLS algebra via micro_log2
        "part_zipf": "posting_lists",
        # r11: RBO rank-agreement audit — the ann_recall composition
        # doctrine on the ANN family rep
        "ann_rbo": "pq_topk",
        # r11: ORC source leg — the identical exact-DECIMAL fact
        # rollup; only the scan's format differs (pinned)
        "pricing_orc": "pricing_summary",
        # r11: EWMA smoother — the type-keyed hourly-series family
        # (gapfill rep); per-key in-plan fold, recursive-CTE oracle
        "events_ewma": "events_gapfill",
        # r11: Wasserstein-1 drift — events_drift_ks' exact-rank
        # cumulative shape (posting_lists family); only the tail fold
        # differs (gap-weighted sum vs argmax)
        "events_drift_w1": "posting_lists",
        # r11: LPA communities — part_pagerank's fixed-round edge-join
        # + localCheckpoint iteration over the same co-purchase edges
        "part_communities": "part_pagerank",
        # r11 session 3 demotion: the funnel's per-user ordered window
        # scan rides the gapfill family rep (the anomaly precedent)
        "event_funnel": "events_gapfill",
        # r11: sorted-neighborhood linkage — the fuzzy-linkage family
        # (name_linkage rep): bounded candidates + exact lev verify
        "customer_snm": "name_linkage",
        # r11: reciprocal NN — ann composition doctrine (pq_topk rep):
        # checked LSH retrieval at k=1 + one mutuality self-join
        "embed_mutual_nn": "pq_topk",
        # r11: positional phrase search — the inverted-index family
        # (posting_lists rep): explode -> token-keyed count shapes
        "phrase_match": "posting_lists",
        # r11: quantile normalization — the rank-normalization family
        # (quality_percentiles rep): type-1 exact quantile algebra
        "quantile_normalize": "quality_percentiles",
        # r11: dynamic partition pruning — the data-layout family
        # (zorder rep): eager write + pruning-evidence scan
        "events_dpp": "zorder_layout",
        # r11: peak concurrency — composition on the sessionization rep
        # (event_sessions): session_window frame + day-keyed sweep
        "session_peaks": "event_sessions",
        # r11: compaction planner — composition on the layout family
        # (zorder rep): bucket stats + the pack_sequences cut rule
        "zorder_compaction": "zorder_layout",
        # r11: Theil-Sen — the domain-sized pair self-join family
        # (part_triangles rep); the OLS twin stays locally gated
        "event_theilsen": "part_triangles",
        # r11: token-range source — the Python-worker scan family
        # (multimodal rep): Arrow batches from Python into a JVM agg
        "events_tokenrange": "multimodal_decode",
        # r11: streaming ring walk — the complete-mode stateful-agg
        # streaming family (events_hourly_stream rep)
        "events_tokenrange_stream": "events_hourly_stream",
        # r11: mutation sink — the identical checked upsert plan; the
        # commit-protocol write + manifested read-back is the surface
        "mv_repair_sink": "mv_repair_upserts",
        # r11: LTTB — the one-action-per-round selection family
        # (embed_kcenter rep): per-round anchor join + window argmax
        "events_lttb": "embed_kcenter",
        # r11: Holt level+trend — events_ewma's hourly-series fold
        # family (gapfill rep); two-state recursive-CTE oracle
        "events_holt": "events_gapfill",
    }

    def test_every_family_within_driver_window(self):
        import __spark_entry__ as e

        first50 = list(e.queries())[:50]
        missing = {
            fam: q for fam, q in self.FAMILIES.items() if q not in first50
        }
        assert not missing, (
            f"families outside the driver's 50-entry correctness window: "
            f"{missing} — reorder queries() so each keeps a checked "
            f"representative"
        )

    def test_every_query_assigned(self):
        # TOTAL coverage: each registry entry is either an in-window
        # family representative or an assigned twin of one.  Appending a
        # new query without extending FAMILIES or TWIN_OF fails here —
        # the guard the round-6 verdict found missing.
        import __spark_entry__ as e

        names = list(e.queries())
        first50, past = set(names[:50]), names[50:]
        reps = set(self.FAMILIES.values())
        assert reps <= first50, (
            f"family representatives outside the window: {reps - first50}"
        )
        # twins must point at in-window queries, and past-window entries
        # must all be twins (an in-window non-representative needs no
        # assignment: it is driver-checked directly)
        bad = {t: w for t, w in self.TWIN_OF.items() if w not in first50}
        assert not bad, f"twins pointing outside the window: {bad}"
        uncovered = [n for n in past if n not in self.TWIN_OF]
        assert uncovered == [], (
            f"past-window queries with no in-window twin: {uncovered}"
        )
        # ...and TWIN_OF keys must be exactly past-window entries: a key
        # that was renamed, removed, or promoted back into the window
        # would otherwise linger silently as dead coverage bookkeeping.
        stale = set(self.TWIN_OF) - set(past)
        assert not stale, (
            f"TWIN_OF keys that are not past-window queries: {stale}"
        )

    def test_every_query_has_an_oracle(self):
        # No documented-exemption allowlist: every registered query has a
        # DuckDB twin today, and the name now says exactly what the body
        # asserts (a future non-SQL-expressible query would add an
        # explicit allowlist here, not an escape hatch in the name).
        import __spark_entry__ as e

        qs, oracles = e.queries(), e.oracle_sql()
        assert set(oracles) <= set(qs)
        missing = [n for n in qs if n not in oracles]
        assert missing == [], f"queries with no oracle entry: {missing}"
