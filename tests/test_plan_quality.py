"""Physical-plan quality gates — the 100 TB contract of each operator,
asserted from its actual Spark plan (SURVEY.md §4: pushdown/pruning/
broadcast/codegen are Catalyst built-ins *if* the plan is declared
correctly; these tests catch regressions that would silently turn a
broadcast join into a 100 TB shuffle).
"""

from __future__ import annotations

import pytest

from rust_cdc_spark.plans import explain as X
from rust_cdc_spark.queries import load_all
from tests.conftest import SF_SMOKE

REGISTRY = load_all()


def q(spark, name):
    return REGISTRY[name].spark_fn(spark, SF_SMOKE)


class TestPushdownAndPruning:
    def test_q1_filter_reaches_scan(self, spark):
        pf = X.pushed_filters(q(spark, "q1_pricing_summary"))
        assert any("l_shipdate" in f for f in pf), pf

    def test_q1_reads_only_needed_columns(self, spark):
        schemas = X.read_schemas(q(spark, "q1_pricing_summary"))
        assert schemas, "no ReadSchema found"
        # 7 needed columns, not all 11
        cols = schemas[0]
        assert "l_orderkey" not in cols and "l_partkey" not in cols, cols

    def test_q3_selective_filters_pushed(self, spark):
        pf = X.pushed_filters(q(spark, "q3_shipping_priority"))
        joined = ",".join(pf)
        assert "c_mktsegment" in joined and "o_orderdate" in joined, pf

    def test_router_filter_is_narrow(self, spark):
        df = q(spark, "cdc_route_regex")
        assert X.count_exchanges(df) == 0, X.plan_text(df)


class TestJoinStrategies:
    def test_q3_broadcasts_dimension(self, spark):
        assert X.has_broadcast_join(q(spark, "q3_shipping_priority"))

    def test_q5_broadcasts_dims(self, spark):
        assert X.has_broadcast_join(q(spark, "q5_local_supplier_volume"))

    def test_similarity_broadcasts_probes(self, spark):
        assert X.has_broadcast_join(q(spark, "similarity_knn_batch"))

    def test_q9_broadcasts_part_slice_and_nation(self, spark):
        assert X.has_broadcast_join(q(spark, "q9_product_type_profit"))

    def test_q16_denylist_is_broadcast_anti(self, spark):
        df = q(spark, "q16_part_supplier_counts")
        txt = X.plan_text(df)
        assert "BroadcastHashJoin" in txt and "LeftAnti" in txt, txt

    def test_q2_single_shuffle_for_window_min(self, spark):
        # correlated-min-as-window: the partkey exchange feeds both the
        # min and the equality filter; dims broadcast (no extra shuffle
        # besides the window partitioning + final top-k sort).
        df = q(spark, "q2_min_cost_supplier")
        assert X.has_broadcast_join(df)
        got = X.count_exchanges(df)
        assert got <= 2, f"{got} exchanges\n{X.plan_text(df)}"

    def test_q20_part_filter_pushed(self, spark):
        pf = X.pushed_filters(q(spark, "q20_excess_suppliers"))
        joined = ",".join(pf)
        assert "l_shipdate" in joined, pf


class TestShuffleBudget:
    """Each operator's shuffle count is part of its contract: a
    regression that adds an exchange is a 100 TB regression."""

    @pytest.mark.parametrize(
        "name,max_exchanges",
        [
            ("cdc_normalize", 0),          # pure projection
            ("cdc_collapse_last", 1),      # one shuffle on the key
            ("cdc_current_state", 1),
            ("q1_pricing_summary", 1),     # partial agg → one exchange
            ("agg_rollup_returns", 1),
            ("window_topk_orders_per_customer", 1),
            ("events_sessionize", 1),      # window + agg share the key
            ("dedup_exact_documents", 2),  # parallelize round-robin + agg
            ("q3_shipping_priority", 1),   # dims broadcast; agg exchange only
            ("q5_local_supplier_volume", 1),
            ("q9_product_type_profit", 1),
            ("q2_min_cost_supplier", 2),   # partkey window + top-k sort
            ("q16_part_supplier_counts", 3),  # 2-phase distinct + sort
            ("q20_excess_suppliers", 4),   # agg, partkey window, distinct, sort
            ("q11_important_parts", 4),    # per-part agg, 1-row global agg, sort
            ("pivot_status_by_priority", 2),
            ("asof_join_purchase_last_click", 1),
            ("range_join_click_attribution", 2),  # bin join + count agg
            ("similarity_topk_cosine", 0),  # broadcast probes, rank window map-side
            ("text_stats", 0),             # pure map
            ("events_tumbling_window", 1),
            ("events_sliding_window", 1),  # map-side ×4 explode; one agg
            ("events_rolling_1h_features", 1),  # range frame on user key
            ("events_session_stats", 1),   # native session windows
            # chained stage windows + final agg share one user key
            ("events_funnel_conversion", 2),
            # token agg + 1-row totals agg + TakeOrdered top-k
            ("corpus_drift_kl", 3),
            # checkpointed profile table: one events aggregation feeds
            # dots/probes/norms (filter pushdown had specialized their
            # subtrees past AQE reuse - 8 exchanges, 4 scans without it)
            ("events_user_profile_similarity", 4),
            # checkpointed histogram: verdict plan re-reads the corpus
            # once, not once per bounds branch (was 5 scans/8 exchanges)
            ("length_quantile_filter", 4),
            ("agg_percentiles_by_status", 1),
            ("q4_order_priority_check", 1),
            ("q6_forecast_revenue", 1),
            ("q8_market_share", 1),
            ("q12_shipmode_priority", 1),
            ("q13_customer_distribution", 2),
            ("q14_promo_revenue", 1),
            ("q15_top_supplier", 3),
            ("q17_small_quantity_revenue", 2),
            ("q18_large_volume_customers", 1),
            ("q19_disjunctive_predicates", 1),
            ("q21_waiting_orders", 1),
            ("q22_global_sales_opportunity", 2),
            ("subquery_above_avg_orders", 1),
            ("grouping_sets_lineitem", 1),
            ("scalar_functions_orders", 0),   # pure map
            ("set_union_nation_presence", 2),
            ("corpus_profile", 2),            # two-phase distinct
            ("sample_stratified_documents", 1),
            ("sample_bernoulli_documents", 0),  # map-only by design
            ("lag_lead_order_gaps", 1),
            ("dense_rank_supplier_balance", 1),
            ("text_pii_scrub", 0),          # pure map: regex chain
            ("dedup_passage_exact", 1),     # explode is map-side; one agg
            ("text_repetition_score", 3),   # 2 agg levels + doc_id join
            # broadcast bench + bench distinct + one doc_id agg
            ("contamination_ngram_overlap", 3),
            ("pack_sequences", 1),          # per-shard window only
            # source window + tiny size agg + 20-row collect agg; the
            # global position is arithmetic — no corpus-sized sort
            ("mixture_interleave", 3),
            ("curation_pipeline", 2),       # fp window + source agg
            # broadcast centroids; one vec_id argmin agg
            ("embedding_kmeans_assign", 1),
            # argmin agg + (cluster,label) agg + cluster agg
            ("embedding_cluster_profile", 3),
            # token agg + scalar total + tiny post-limit rank window
            ("vocab_top_tokens", 3),
            # ONE (source,token) agg feeds both vocab re-agg and the
            # broadcast-membership rollup; top-k is TakeOrdered
            ("vocab_oov_rate", 4),
            # ONE gram-keyed min-window exchange + doc-keyed rollup
            ("doc_novelty_score", 2),
            ("bpe_merge_candidates", 2),    # token agg + pair agg
            # user agg; span/join/ffill reuse the user_id partitioning
            ("events_gap_fill", 2),
            ("chunk_documents_overlap", 0),  # pure map: HOF chunk windows
            # broadcast argmin agg + cid quota window
            ("cluster_balanced_sample", 2),
            ("train_val_test_split", 0),    # map-only digest threshold
            ("scalar_base64_roundtrip", 0),  # map-only binary scalars
            # tiny df agg + per-doc sum + top-k (broadcast df/scalars)
            ("retrieval_bm25_topk", 3),
            # (doc,token) agg + df agg + token join + doc window
            ("retrieval_tfidf_top_terms", 5),
            # two pooled rankings (each a bounded TakeOrdered) + tiny fusion
            ("retrieval_rrf_fusion", 3),
            # bigram agg + backoff agg + co-keyed model join + doc agg
            ("text_bigram_logprob", 6),
            # argmin agg + vec join-back + cid pair join + distinct
            ("semantic_dedup_prune", 6),
            # one dual-count model agg + co-keyed instance join + doc agg
            ("dsir_importance_weights", 4),
            # ≤16-group hash agg + broadcast total
            ("doc_length_histogram", 2),
            ("quality_logistic_score", 0),  # pure map: fused sigmoid expr
            # digest map + one md5-keyed window (payload projected away)
            ("multimodal_dedup_exact", 2),
            # integer fold map + one phash-keyed window
            ("multimodal_phash_buckets", 2),
            # every shuffle user-keyed: 3 stage aggs + distinct + joins
            ("events_funnel_conversion", 9),
            # two user-keyed aggs + co-keyed join + tiny cohort agg
            ("events_retention_cohorts", 6),
            # 2 key-keyed collapse windows + semi join + delta/view aggs;
            # every shuffle is batch- or |groups|-sized, never table-sized
            ("cdc_incremental_agg", 10),
            ("cdc_scd2_history", 1),  # one key-keyed lead() window
            # union + carry window share the key partitioning of the
            # upstream SCD2 lead(); no range join, no broadcast of dim
            ("cdc_pointintime_join", 4),
            # map-only A-ES key + TakeOrderedAndProject
            ("sample_weighted_documents", 0),
            # broadcast min/max bounds + codegen bit ladder (no data shuffle)
            ("layout_zorder_key", 1),
            # snapshot collapse window + union LWW collapse (key-keyed)
            ("cdc_snapshot_bootstrap", 3),
            # distinct-vocab agg; join-back broadcast by AQE at this SF
            ("bpe_encode_corpus", 2),
            # quality+fp map pass, one fp-keyed window
            ("dedup_keep_best", 1),
            # union + one user-keyed forward-carry window
            ("asof_join_next_click_1h", 1),
            # model is driver state; the returned trajectory is local
            ("quality_classifier_train", 0),
            # ADC scan is map-only + TakeOrdered; rerank joins the pool
            ("similarity_pq_rerank_topk", 2),
            # gram agg + fingerprint join-back (AQE-broadcast at small
            # SF) + doc-keyed island window
            ("dedup_substring_spans", 3),
            ("gopher_quality_rules", 0),   # pure map: integer rules
            # cid-pruned code scan + pool rerank join (the index builds
            # run at query build; the plan scans their pinned checkpoints)
            ("similarity_ivfpq_topk", 3),
            # source count agg + |sources|-row window math
            ("mixture_temperature_weights", 2),
            # bigram model aggs + co-keyed join + doc agg + global ntile
            # (single-key exchange of doc-level rows — see docstring)
            ("perplexity_filter_buckets", 5),
            # prefix window + batch window + key-equi closing join
            ("cdc_scd2_incremental", 3),
            # ONE host-keyed exchange: cap window + audit agg share it
            ("url_domain_curation", 1),
            # pure map: re-line + line filters + fingerprint, one pass
            ("c4_quality_rules", 0),
            # ONE canonical-url-keyed hash agg (map-side partials)
            ("url_normalize_dedup", 1),
            # bigram agg + unigram agg + two word-keyed model joins +
            # scalar totals; final top-k is TakeOrdered (no sort xchg)
            ("collocation_pmi_top", 5),
            # pure map: sorted run-length entropy fused into the scan
            ("char_entropy_filter", 0),
            # four filter verdicts in one fused scan + source-keyed agg
            ("quality_rule_attribution", 1),
            # ONE corpus-scan agg (histogram); the other 7 exchanges
            # all carry the ~300-row distinct-value table (cum window,
            # total, lo/hi cutoffs) — tiny by construction
            ("length_quantile_filter", 8),
            # two scalar stat aggs over a norms projection + broadcast
            ("embedding_norm_outliers", 2),
            # ONE corpus scan → checkpointed host-sized edge table;
            # 3 unrolled iterations of co-keyed join + dst agg
            ("host_authority_pagerank", 13),
            # span pipeline + per-doc span agg + doc-keyed join-back
            ("dedup_substring_removal", 4),
            # map-only codegen folds over literal sign rows
            ("embedding_jl_project", 0),
            # ONE corpus agg on (label,pos); rest is model-scale
            # (global-from-label-sums agg, broadcast pos-join, label agg)
            ("embedding_centroid_drift", 4),
            # ONE (source,lang)-keyed hash agg, pure-map inputs
            ("tokenizer_fertility", 1),
            # token agg + ≤4096-key sketch agg + top-k probe joins
            ("vocab_countmin_topk", 3),
            # user-keyed sequence window + |types|²-keyed agg + tiny
            # probability window
            ("events_transition_matrix", 3),
            # greedy rounds run over checkpointed model-scale tables;
            # the returned plan is a projection over the final one
            ("retrieval_mmr_rerank", 0),
            # bench slice broadcast; ONE vec_id-keyed struct-max agg
            # (exchange carries one row per train doc, not |bench| rows)
            ("contamination_semantic", 1),
            # ONE key window (reused across both as-of branches) +
            # key-keyed full-outer join of two state-sized tables
            ("cdc_snapshot_diff", 4),
            # (doc,token) agg → token agg → TakeOrdered; scalar bcast
            ("corpus_burstiness", 3),
            # pure map: quantize + codes + exact-integer residuals
            ("embedding_quantize_int8", 0),
            # df window + doc sort-collect (checkpointed diamond) +
            # prefix self-join + pair distinct + 2 verify joins + expand
            ("dedup_jaccard_prefix_pairs", 9),
            # degree-ordered wedge+close joins over a checkpointed
            # host²-bounded edge table; ONE doc scan
            ("host_graph_triangles", 6),
            # pure map: md5 bucket + CASE tier
            ("sample_nested_subsets", 0),
            # distinct (doc,token) agg + doc pattern-array agg + tiny
            # query-array agg + per-query rank window; scorer is pure
            # codegen bit algebra over the broadcast query arrays
            ("retrieval_maxsim_topk", 4),
            # scalar max broadcast + (user,age) agg + user rollup
            ("events_decay_activity_score", 3),
            # truth rank window + LSH candidate dedup + approx window;
            # term join broadcasts the 30-row truth
            ("similarity_lsh_ndcg_eval", 3),
            # ONE (lang,source) corpus agg; marginals + joins are
            # model-scale (broadcast)
            ("corpus_lang_source_mi", 7),
            # pure map: codegen window-distinct folds, no explode
            ("text_ttr_mattr", 0),
            # ONE source-keyed exchange shared by both rank windows;
            # pair join is 5·|sources| rows
            ("preference_pairs_by_source", 2),
            # broadcast probes + per-anchor rank/pick windows on one
            # anchor-keyed exchange
            ("contrastive_negatives", 1),
            # full jaccard engine + signature pipeline + two doc-keyed
            # sig joins onto the (tiny) pair table
            ("dedup_minhash_estimate_eval", 29),
            # salted join broadcasts the replicated small side: ONE
            # exchange total (the priority rollup agg)
            ("join_salted_orders_lineitem", 1),
            # two exchanges of ≤ |keys|·n_salts rows
            ("agg_salted_event_totals", 2),
            # chunk explode → (doc,passage) distinct → passage agg;
            # TakeOrdered top-k
            ("boilerplate_sentence_inventory", 2),
            # pure map → ONE 24·|types|-keyed agg
            ("events_hourly_seasonality", 1),
            # pure-map scoring → ONE ≤10-key agg
            ("quality_calibration_bins", 1),
            # pure-map lang-ID → (lang,pred) agg + model-scale rollup
            ("lang_id_confusion_matrix", 3),
            # custkey agg → 3× exact_global_ntile (each: P-row counts
            # agg + triangular offset agg; the range exchange itself is
            # behind the pinning checkpoint) → ≤64-key agg
            ("customer_rfm_segments", 6),
            # two |types|-keyed stats aggs, broadcast verdict join
            ("events_value_anomaly_mad", 2),
            # pure map → ONE suppkey agg
            ("supplier_return_rate", 1),
            # (user,day) 2-phase distinct + calendar band join +
            # 2-phase distinct-count + day join
            ("events_dau_wau_stickiness", 6),
            # user agg → exact_global_ntile bookkeeping (bounded P-row
            # frames) → 10-key rollup + tiny cum window
            ("events_power_users_pareto", 9),
            # token agg (firsts) + corpus-vs-cuts agg + step joins
            ("corpus_vocab_growth_heaps", 5),
            # returned projection is map-only (training moments run as
            # their own dim²-keyed job before the plan is built)
            ("embedding_pca_abtt", 0),
            # user-keyed gap window + user agg share one exchange pair
            ("events_bot_score_heuristic", 3),
            # dedup engine reuse + per-source-prefix dedup accumulation
            ("dedup_accumulation_curve", 5),
            # order-month agg over broadcast dims + 1 region-month agg
            ("revenue_growth_by_region_month", 2),
        ],
    )
    def test_exchange_budget(self, spark, name, max_exchanges):
        df = q(spark, name)
        got = X.count_exchanges(df)
        assert got <= max_exchanges, f"{name}: {got} exchanges\n{X.plan_text(df)}"


class TestExecutionShape:
    def test_top_k_avoids_global_sort(self, spark):
        assert X.uses_top_k(q(spark, "order_by_limit_top_orders"))

    @pytest.mark.parametrize(
        "name",
        [
            "q1_pricing_summary",
            "cdc_collapse_last",
            "text_stats",
            "dedup_minhash_lsh_pairs",
            "similarity_topk_cosine",
            "events_sessionize",
        ],
    )
    def test_no_python_in_analytic_path(self, spark, name):
        assert not X.has_python_eval(q(spark, name)), name

    def test_multimodal_uses_arrow_batches(self, spark):
        # the one place Python is allowed: the codec stage, Arrow-batched
        assert X.has_python_eval(q(spark, "multimodal_feature_extract"))

    def test_q1_stays_in_codegen(self, spark):
        # AQE defers codegen staging until execution; plan without it to
        # see the static codegen spans.
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            assert X.codegen_stage_count(q(spark, "q1_pricing_summary")) >= 1
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")


class TestScorersCompile:
    """The ANN scorers must actually reach compiled code: with
    ``spark.sql.codegen.fallback=false`` + ``factoryMode=CODEGEN_ONLY``
    a Janino failure raises instead of silently running the expression
    tree interpreted (the r3 regression this guards: the unrolled k·dim
    chain form exceeded Janino's method limits at IVF/PQ size, so every
    query paid a seconds-long failed compile and then ran interpreted —
    see SCALE.md 'Literal expression trees vs array-literal folds')."""

    @pytest.fixture()
    def strict_codegen(self, spark):
        spark.conf.set("spark.sql.codegen.fallback", "false")
        spark.conf.set(
            "spark.sql.codegen.factoryMode", "CODEGEN_ONLY"
        )
        try:
            yield spark
        finally:
            spark.conf.set("spark.sql.codegen.fallback", "true")
            spark.conf.set(
                "spark.sql.codegen.factoryMode", "FALLBACK"
            )

    def test_pq_assign_compiles(self, strict_codegen):
        from rust_cdc_spark.operators import pq as PQ
        from rust_cdc_spark.sources.tables import load_table

        emb = load_table(strict_codegen, "embeddings", SF_SMOKE).limit(32)
        cb = [
            [[float(j * 16 + c + i) for i in range(4)] for c in range(16)]
            for j in range(16)
        ]
        out = PQ.encode_pq(emb, cb, scorer="codegen").collect()
        assert len(out) == 32 and all(len(r["codes"]) == 16 for r in out)

    def test_centroid_scorer_compiles(self, strict_codegen):
        from rust_cdc_spark.operators import similarity as SIM
        from rust_cdc_spark.sources.tables import load_table

        emb = load_table(strict_codegen, "embeddings", SF_SMOKE).limit(32)
        cents = [[float(c + i) for i in range(64)] for c in range(8)]
        out = emb.select(
            SIM.nearest_cell_col("embedding", cents, scorer="codegen")
            .alias("cid"),
            SIM.nearest_cells_col("embedding", cents, 2, scorer="codegen")
            .alias("cids"),
        ).collect()
        assert len(out) == 32
        assert all(0 <= r["cid"] < 8 and len(r["cids"]) == 2 for r in out)


class TestExecutedExchangeReuse:
    """The dedup pair generators are self-joins over an expensive
    derived table (md5-minhash signatures; the hashed shingle inverted
    index). Their scale contract is that the derived subtree is
    computed ONCE and shared across the join sides via AQE exchange
    reuse — visible only in the EXECUTED final plan (the initial plan
    always prints zero ReusedExchange; measuring that is a trap this
    test also documents)."""

    @pytest.mark.parametrize(
        "name",
        [
            "dedup_minhash_lsh_pairs",
            "dedup_ngram_jaccard_pairs",
            "dedup_containment_pairs",
            "dedup_source_matrix",
        ],
    )
    def test_pair_selfjoin_reuses_exchange(self, spark, name):
        from rust_cdc_spark.queries import load_all

        df = load_all()[name].spark_fn(spark, SF_SMOKE)
        assert X.executed_reuse_count(df) >= 1


# ── Registry-wide single-partition-window gate ───────────────────────
# Partition-less WindowExec funnels EVERY row through one task — the
# one plan shape that cannot survive a 100× scale-up no matter how
# slim the rows. The exact-ntile rewrites (operators/ranks.py) removed
# the last data-scale offenders in round 4; this gate pins the whole
# registry so none regresses. Entries below are the DELIBERATE
# exceptions — every one is a window over a frame whose size is
# bounded by something other than data volume.
GLOBAL_WINDOW_ALLOWED: dict[str, tuple[int, str]] = {
    # max partition-less Window nodes, why the frame is bounded
    "length_quantile_filter": (
        2,
        "cumulative sums over the distinct token-count VALUE histogram"
        " — bounded by max document length, not corpus size",
    ),
    "mixture_temperature_weights": (
        2,
        "global-total windows over the SOURCE-level frame — one row"
        " per corpus source (single digits), not per document",
    ),
    "corpus_curation_pipeline": (
        2,
        "the mixture_temperature_weights tail: global-total windows"
        " over the per-SOURCE funnel frame (one row per corpus"
        " source); every document-scale stage upstream is a"
        " key-partitioned window or broadcast join",
    ),
    "events_power_users_pareto": (
        1,
        "cumulative share over the 10-row decile rollup",
    ),
    "vocab_top_tokens": (
        1,
        "rank over the token frequency top-k candidate set (TakeOrdered"
        " prunes to <=k rows upstream)",
    ),
    "bpe_merge_candidates": (
        1,
        "rank over the <=k-row merge-candidate set",
    ),
    "retrieval_bm25_topk": (
        1,
        "rank over per-query top-k candidates (<=k rows per query, "
        "3 probe queries)",
    ),
    "retrieval_prf_expansion": (
        2,
        "round-1 and round-2 rank windows over <=10-row TakeOrdered"
        " feedback/result heaps",
    ),
    "retrieval_rrf_fusion": (
        3,
        "per-ranker rank windows over <=k-row top-k lists",
    ),
    "table_skew_metrics": (
        1,
        "cumulative sum over the distinct key-SIZE value histogram —"
        " bounded by max key multiplicity, not key or row count",
    ),
    "quality_ks_drift": (
        1,
        "cumulative two-cohort CDF over the distinct LENGTH value"
        " histogram — bounded by the length range, not corpus size",
    ),
    "vocab_coverage_curve": (
        1,
        "running count over the distinct token-FREQUENCY value histogram"
        " — O(sqrt(corpus tokens)) rows by Heaps/Zipf, not corpus size",
    ),
    "retrieval_query_likelihood": (
        1,
        "rank over the <=k-row TakeOrdered result heap (the BM25"
        " pattern)",
    ),
    "text_zipf_slope": (
        1,
        "rank over the <=100-row top-term set (TakeOrdered prunes"
        " upstream; the fit itself is a scalar agg)",
    ),
    "retrieval_eval_map": (
        2,
        "rank + cumulative-hits windows over the <=20-row TakeOrdered"
        " result heap (the BM25 pattern)",
    ),
    "orders_skyline_price_date": (
        1,
        "running min over the per-DAY minimum table — bounded by the"
        " calendar, not the order count (the 2-D skyline closed form)",
    ),
}


class TestNoGlobalWindows:
    @pytest.mark.parametrize("name", sorted(REGISTRY))
    def test_no_partition_less_window(self, spark, name):
        hits = X.global_windows(q(spark, name))
        cap, why = GLOBAL_WINDOW_ALLOWED.get(name, (0, "not allow-listed"))
        assert len(hits) <= cap, (
            f"{name}: {len(hits)} partition-less Window node(s), cap {cap}"
            f" ({why}):\n" + "\n".join(hits)
        )
