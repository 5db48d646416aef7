"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship metric query at sf0.001;
``queries()`` maps every implemented SURVEY.md §2 operator to a
builder ``(spark, sf_dir) -> DataFrame``; ``oracle_sql()`` holds the
DuckDB-equivalent ANSI SQL for the correctness gate. Column names are
aliased identically on both sides (the driver sorts columns by name
before hashing).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_eamples_spark.catalog import load_table
from dbt_eamples_spark.operators import behavior as B
from dbt_eamples_spark.operators import curation as C
from dbt_eamples_spark.operators import dedup as D
from dbt_eamples_spark.operators import multimodal as M
from dbt_eamples_spark.operators import quality as Q
from dbt_eamples_spark.operators import relational as R
from dbt_eamples_spark.operators import sampling as S
from dbt_eamples_spark.operators.asof import join_asof, join_asof_tolerance
from dbt_eamples_spark.operators.bloom import join_bloom_prefilter
from dbt_eamples_spark.operators.graph import (
    graph_assortativity,
    graph_bfs_layers,
    graph_community_lpa,
    graph_degree_powerlaw,
    graph_kcore,
    graph_link_prediction,
    graph_pagerank_topk,
    graph_pagerank_weighted,
    graph_transitivity,
    graph_transitivity_sampled,
    graph_triangle_count,
)
from dbt_eamples_spark.operators.skew import join_salted_skew
from dbt_eamples_spark.operators import similarity as V
from dbt_eamples_spark.operators import text as T
from dbt_eamples_spark.oracles_ext import EXT_ORACLES
from dbt_eamples_spark.plans.compiler import (
    compile_dimension_sweep,
    compile_request,
    execute as execute_metric,
)
from dbt_eamples_spark.plans.splitter import multi_statement_exec_query
from dbt_eamples_spark.sources.readers import fanout_fetch_query, json_records_source
from dbt_eamples_spark.sources.sinks import (
    append_with_audit_col_query,
    result_text_format_query,
    sink_csv_roundtrip_query,
)
from dbt_eamples_spark.streaming.incremental import (
    incremental_delta_filter_query,
    incremental_merge_upsert,
    scd2_snapshot,
    table_diff,
)
from dbt_eamples_spark.streaming.streams import (
    stream_dedup,
    stream_interval_join,
    stream_late_data_metrics,
    stream_session_agg,
    stream_sliding_count,
    stream_tumbling_count,
)


# compiled metric-layer requests: the rendered SQL runs verbatim on
# both Spark and DuckDB, so each compiled query is its own oracle.
# Registry lives in plans.saved so `cli query --saved-query NAME`
# resolves the exact same presets.
from dbt_eamples_spark.plans.saved import SAVED_QUERIES as METRIC_REQUESTS


def _metric_query(name: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return execute_metric(spark, sf_dir, METRIC_REQUESTS[name]).df

    return run


def _dim_sweep_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass GROUPING SETS sweep of `revenue` over every lineitem
    dimension (vs the reference's one-query-per-dimension loop,
    dbt_query.py:166-177)."""
    from dbt_eamples_spark.catalog import register_tables

    register_tables(spark, sf_dir)
    return spark.sql(compile_dimension_sweep("revenue").sql)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: revenue by nation —
    scan → time-range filter → star join → metric group-by agg →
    ordered top-k (the full request shape of dbt_query.py:77-86)."""
    sf_dir = "/root/testdata/sf0.001"
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("o_orderdate").between(F.lit("1995-01-01"), F.lit("1997-12-31")))
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


# Driver-sample order of queries(): the driver samples the first 50
# entries. The list was last generated at round 15 from the committed
# CORRECTNESS_r*.json history (never-checked → stalest latest-driver
# round → alphabetical) and is kept frozen as committed. It is the
# FULL registry ordering, a permutation of _query_registry() (locked
# in tests/test_entry_contract.py).
_R15_PRIORITY = [
    # ---- latest driver row r8 ----
    "similarity_hybrid_rrf",
    "similarity_ivf_recall_eval",
    "stream_dedup",
    "stream_session_agg",
    "stream_tumbling_count",
    "string_chunk",
    "text_lang_id",
    "text_quality_score",
    "text_token_count_bpe",
    "text_token_stats",
    "ts_ljung_box",
    "tz_normalize",
    "union_incremental_snapshots",
    "unixtime_to_iso",
    "window_lag_delta",
    "window_running_sum",
    "window_sliding_avg",
    "window_topk_per_group",
    # ---- latest driver row r9 ----
    "agg_equi_depth_histogram",
    "agg_histogram",
    "agg_mode_per_group",
    "agg_trend_slope",
    "agg_trend_slope_pandas",
    "agg_zscore_outliers",
    "append_with_audit_col",
    "corpus_keep_list",
    "date_spine",
    "dedup_containment",
    "dedup_embedding_cosine",
    "dedup_incremental_minhash",
    "dedup_incremental_phash",
    "dedup_minhash",
    "dedup_simhash",
    "dq_schema_tests",
    "embedding_quantize_int8",
    "embedding_random_projection",
    "events_funnel",
    "events_transition_matrix",
    "fanout_fetch",
    "incremental_merge_upsert",
    "join_range_binned",
    "market_basket_pairs",
    "metric_compiled_cumulative",
    "metric_compiled_dim_sweep",
    "metric_compiled_filtered",
    "metric_compiled_monthly",
    "metric_compiled_star",
    "metric_compiled_topk",
    "metric_pivot",
    "metric_rollup",
    "metric_unpivot",
    "multimodal_features_flat",
    "multimodal_frame_sample",
    "multimodal_meta",
    "pack_concat_chunks",
    "result_text_format",
    "retention_cohort",
    "rfm_segmentation",
    "sample_quality_weighted",
    "sessionize_events",
    "similarity_ivf_topk",
    "similarity_ivfpq_recall_eval",
    "similarity_lsh_recall_eval",
    "similarity_lsh_topk",
    "source_quality_rollup",
    "text_decontaminate",
    "text_hash_embed",
    "text_repetition_stats",
    # ---- latest driver row r10 ----
    "abc_pareto_class",
    "agg_correlation",
    "agg_gini_revenue",
    "agg_heavy_hitters_cms",
    "agg_kmv_distinct",
    "agg_mad_outliers",
    "agg_market_share",
    "agg_ship_delay_bands",
    "agg_skewness_kurtosis",
    "agg_weighted_percentile",
    "corpus_dedup_rate_by_source",
    "corpus_mix_entropy",
    "corpus_quality_filter",
    "dedup_incremental_clusters",
    "dedup_incremental_ngram",
    "dedup_semantic_clusters",
    "dq_advanced_tests",
    "dq_source_freshness",
    "embedding_pq_encode",
    "embedding_pq_encode_trained",
    "events_anomaly_rolling",
    "events_attribution_last_touch",
    "events_dau_wau_mau",
    "events_inter_arrival",
    "events_time_to_convert",
    "events_type_pmi",
    "events_user_path",
    "graph_pagerank_topk",
    "join_bloom_prefilter",
    "join_star_local_volume",
    "metric_compiled_conversion",
    "metric_compiled_derived",
    "orders_backlog_daily",
    "sample_fixed_size_hash",
    "sample_source_temperature",
    "sample_train_test_split",
    "similarity_knn_graph",
    "similarity_pq_rerank_topk",
    "similarity_pq_topk",
    "similarity_rerank_recall_eval",
    "similarity_topk",
    "similarity_topk_pandas",
    "sink_csv",
    "source_json_records",
    "stream_interval_join",
    "stream_sliding_count",
    "text_bm25_search",
    "text_keyword_extract",
    "text_word_entropy",
    "window_ntile_deciles",
    # ---- latest driver row r11 ----
    "agg_hhi_concentration",
    "agg_skyline_per_brand",
    "agg_small_qty_revenue",
    "agg_trend_slope_audit",
    "corpus_js_divergence",
    "customer_idle_balance",
    "dq_benford_digits",
    "dq_distribution_drift",
    "embedding_centroid_eval",
    "events_changepoint_cusum",
    "events_cohort_ltv",
    "events_markov_stationary",
    "events_seasonality_profile",
    "events_survival_km",
    "events_user_streaks",
    "graph_bfs_layers",
    "graph_degree_powerlaw",
    "graph_kcore",
    "graph_link_prediction",
    "graph_pagerank_weighted",
    "graph_triangle_count",
    "lineitem_disjunctive_scan",
    "metric_compiled_growth",
    "nation_year_profit",
    "nations_trade_volume",
    "orders_priority_exists",
    "orders_shipping_priority",
    "part_cheapest_supplier",
    "part_revenue_important",
    "part_supplier_variety",
    "promo_revenue_share",
    "revenue_change_forecast",
    "sample_coreset_kcenter",
    "sample_fixed_size_per_group",
    "sample_source_temperature_alpha",
    "similarity_hard_negatives",
    "stream_late_data_metrics",
    "supplier_lead_time_rank",
    "table_diff",
    "table_profile",
    "text_lang_confusion",
    "text_line_dedup",
    "text_ngram_topk",
    "text_normalize_dedup",
    "text_perplexity_unigram",
    "text_pii_scan",
    "text_zipf_slope",
    "ts_gap_fill",
    "ts_resample_ohlc",
    "window_percent_rank_cume",
    # ---- latest driver row r12 ----
    "agg_approx_distinct",
    "agg_count",
    "agg_count_distinct",
    "agg_percentiles",
    "agg_theil_index",
    "agg_winsorized_mean",
    "customer_entity_match",
    "customer_order_distribution",
    "dedup_cascade_attrition",
    "dedup_incremental_cosine",
    "dedup_substring_spans",
    "dedup_threshold_curve",
    "dedup_top_spans",
    "distinct_values",
    "embedding_dim_corr_topk",
    "embedding_dim_stats",
    "embedding_matryoshka_eval",
    "embedding_norm_stats",
    "embedding_pca_topvar",
    "events_ab_test",
    "events_user_entropy",
    "filter_time_range",
    "filter_where_expr",
    "graph_assortativity",
    "graph_community_lpa",
    "graph_transitivity",
    "join_asof_tolerance",
    "join_fact_dim",
    "join_left_outer",
    "join_star_3way",
    "join_time_range",
    "late_priority_by_year",
    "market_basket_lift",
    "metric_groupby_agg",
    "similarity_ivf_delta_recall_eval",
    "similarity_ivf_pq_residual_topk",
    "similarity_ivf_pq_topk",
    "similarity_mmr_topk",
    "supplier_sole_late",
    "supplier_top_revenue",
    "text_bpe_tokenize",
    "text_bpe_train",
    "text_perplexity_bigram",
    "text_readability",
    "ts_autocorrelation",
    "ts_ewma_smooth",
    "ts_forecast_snaive",
    "ts_holt_linear",
    "ts_seasonal_decompose",
    "ts_stl_strength",
    # ---- latest driver row r14 ----
    "agg_approx_distinct_audit",
    "agg_approx_percentiles",
    "agg_approx_percentiles_audit",
    "agg_max_watermark",
    "concat_report_rows",
    "dedup_clusters",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_phash",
    "dedup_phash_clusters",
    "doc_fingerprint",
    "doc_winnow_fingerprint",
    "embedding_pca_invariants",
    "filter_type_and_notnull",
    "graph_transitivity_sampled",
    "hex_decode_utf8",
    "incremental_delta_filter",
    "intersect_except",
    "join_anti_new_rows",
    "join_asof",
    "join_salted_skew",
    "join_semi_exists",
    "json_extract_props",
    "limit_offset_page",
    "metric_cube",
    "metric_grouping_sets",
    "multi_statement_exec",
    "multimodal_codec_stats",
    "order_by",
    "order_limit_topk",
    "orders_large_quantity",
    "project_report_cols",
    "regexp_redact",
    "returned_item_customers",
    "round_decimals",
    "sample_neyman_allocation",
    "sample_stratified",
    "sample_weighted_reservoir",
    "sanitize_name",
    "scan_table",
    "scd2_snapshot",
    "similarity_topk_audit",
    "sql_execute_limit",
    "supplier_dominant_parts",
    "text_jaccard_source_similarity",
    "text_ngram_novelty",
    "ts_cross_correlation",
    "ts_hampel_outliers",
    "ts_rolling_median",
    "ts_seasonal_anomaly",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    The driver samples the FIRST 50 entries per round; the dict below
    is re-ordered through ``_R15_PRIORITY`` (the frozen round-15
    driver-sample order), so insertion order here is grouping only.
    """
    d = _query_registry()
    ordered = {k: d[k] for k in _R15_PRIORITY if k in d}
    ordered.update({k: v for k, v in d.items() if k not in ordered})
    return ordered


def _query_registry() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- round-7 additions ---
        # dedup-rate-vs-threshold tuning curve over the ngram-Jaccard
        # candidate pairs (picks τ before the destructive dedup pass)
        "dedup_threshold_curve": D.dedup_threshold_curve,
        # strict PNG/GIF/WAV encode→decode round trip vs the
        # generative closed form (all three codec magics gated)
        "multimodal_codec_stats": M.multimodal_codec_stats,
        # Theil T inequality index (decomposable Gini/HHI companion)
        "agg_theil_index": B.agg_theil_index,
        # per-doc first-occurrence 3-gram novelty fraction
        "text_ngram_novelty": T.text_ngram_novelty,
        # Matryoshka prefix-dim retrieval-overlap eval
        "embedding_matryoshka_eval": V.embedding_matryoshka_eval,
        # dedup funnel: per-stage attrition (exact→near-dup→span)
        "dedup_cascade_attrition": D.dedup_cascade_attrition,
        # robust winsorized mean per type (p05/p95 clip)
        "agg_winsorized_mean": Q.agg_winsorized_mean,
        # seasonality-adjusted residual anomaly flags (med±K·MAD)
        "ts_seasonal_anomaly": B.ts_seasonal_anomaly,
        # exactly-k weighted sample (Efraimidis–Spirakis keys)
        "sample_weighted_reservoir": S.sample_weighted_reservoir,
        # per-user event-type Shannon entropy (bot/power-user screen)
        "events_user_entropy": B.events_user_entropy,
        # delta vectors probed against the persisted hyperplane index
        "dedup_incremental_cosine": D.dedup_incremental_cosine,
        # Ljung–Box white-noise test over the correlogram
        "ts_ljung_box": B.ts_ljung_box,
        # source-pair 3-gram vocabulary Jaccard (mirror detector)
        "text_jaccard_source_similarity": T.text_jaccard_source_similarity,
        # as-of join with a staleness bound (merge_asof tolerance)
        "join_asof_tolerance": join_asof_tolerance,
        # global clustering: transitivity + mean local coefficient
        "graph_transitivity": graph_transitivity,
        # hash-coin A/B experiment readout (pooled two-proportion z)
        "events_ab_test": B.events_ab_test,
        # --- round-8 additions ---
        # Doulion md5-coin sampled transitivity (q³-scaled estimate)
        "graph_transitivity_sampled": graph_transitivity_sampled,
        # sparse BM25 + dense cosine fused by reciprocal-rank fusion
        "similarity_hybrid_rrf": V.similarity_hybrid_rrf,
        # dHash over real PNGs (strict Arrow decode) → Hamming bands
        "dedup_phash": M.dedup_phash,
        # hash-checkable invariants of the driver-side eigensolve
        "embedding_pca_invariants": V.embedding_pca_invariants,
        # image keep/drop verdicts: components over the phash pairs
        "dedup_phash_clusters": M.dedup_phash_clusters,
        # recall@k of the trained IVF index vs the exact ranking
        "similarity_ivf_recall_eval": V.similarity_ivf_recall_eval,
        # --- round-9 additions ---
        # recall@k of the hyperplane-LSH shortlist vs exact
        "similarity_lsh_recall_eval": V.similarity_lsh_recall_eval,
        # recall@k of the residual IVF-PQ composition vs exact
        "similarity_ivfpq_recall_eval": V.similarity_ivfpq_recall_eval,
        # image-ingest delta probing the persisted phash band index
        "dedup_incremental_phash": M.dedup_incremental_phash,
        # --- round-6 additions ---
        # TPC-H Q2 shape: correlated-MIN cheapest supplier per part
        "part_cheapest_supplier": R.part_cheapest_supplier,
        # TPC-H Q4 shape: EXISTS late-lineitem priority counts
        "orders_priority_exists": R.orders_priority_exists,
        # TPC-H Q11 shape: global-threshold revenue-important groups
        "part_revenue_important": R.part_revenue_important,
        # TPC-H Q15 shape: scalar-MAX top-revenue supplier view
        "supplier_top_revenue": R.supplier_top_revenue,
        # TPC-H Q16 shape: NOT-IN-pruned distinct supplier variety
        "part_supplier_variety": R.part_supplier_variety,
        # source-pair JS divergence of unigram distributions
        "corpus_js_divergence": T.corpus_js_divergence,
        # trend/seasonal strength summary of the decomposition
        "ts_stl_strength": B.ts_stl_strength,
        # greedy k-center diverse coreset over the embedding store
        "sample_coreset_kcenter": V.sample_coreset_kcenter,
        # TPC-H Q7 shape: bilateral nation trade-volume matrix
        "nations_trade_volume": R.nations_trade_volume,
        # TPC-H Q14 shape: promo revenue share per ship month
        "promo_revenue_share": R.promo_revenue_share,
        # TPC-H Q19 shape: disjunctive-predicate pushdown revenue
        "lineitem_disjunctive_scan": R.lineitem_disjunctive_scan,
        # TPC-H Q3 shape: unshipped-order revenue top-10
        "orders_shipping_priority": R.orders_shipping_priority,
        # TPC-H Q6 shape: pushed-filter revenue-change what-if
        "revenue_change_forecast": R.revenue_change_forecast,
        # TPC-H Q9 shape: 5-table nation/year profit rollup
        "nation_year_profit": R.nation_year_profit,
        # TPC-H Q10 shape: returned-revenue top customers
        "returned_item_customers": R.returned_item_customers,
        # TPC-H Q12 shape: CASE conditional priority mix of late lines
        "late_priority_by_year": R.late_priority_by_year,
        # TPC-H Q13 shape: zero-inclusive customer order distribution
        "customer_order_distribution": R.customer_order_distribution,
        # TPC-H Q18 shape: IN(GROUP BY HAVING) large-quantity orders
        "orders_large_quantity": R.orders_large_quantity,
        # TPC-H Q20 shape: nested-IN dominant product-line suppliers
        "supplier_dominant_parts": R.supplier_dominant_parts,
        # exact-substring span dedup: per-doc duplicated-span ratio
        "dedup_substring_spans": D.dedup_substring_spans,
        # exact-substring span dedup: corpus top duplicated spans
        "dedup_top_spans": D.dedup_top_spans,
        # fuzzy entity resolution: blocked levenshtein match pairs
        "customer_entity_match": D.customer_entity_match,
        # LPA community detection over the co-purchase graph
        "graph_community_lpa": graph_community_lpa,
        # lead/lag cross-correlation matrix between event types
        "ts_cross_correlation": B.ts_cross_correlation,
        # per-dimension embedding diagnostics (dead/collapsed dims)
        "embedding_dim_stats": V.embedding_dim_stats,
        # most-correlated dimension pairs (PQ/whitening screen)
        "embedding_dim_corr_topk": V.embedding_dim_corr_topk,
        # rolling 7-day median anomaly baseline per event type
        "ts_rolling_median": B.ts_rolling_median,
        # degree assortativity of the co-purchase graph
        "graph_assortativity": graph_assortativity,
        # per-label L2-norm profile (cosine-vs-dot drift screen)
        "embedding_norm_stats": V.embedding_norm_stats,
        # variance-optimal stratified sample (Neyman allocation)
        "sample_neyman_allocation": S.sample_neyman_allocation,
        # covariance eigenspectrum / whitening screen (rows-only:
        # no SQL eigensolve; numpy-cross-checked in pytest)
        "embedding_pca_topvar": V.embedding_pca_topvar,
        # Hampel rolling-median/MAD outlier flags (all-integer test)
        "ts_hampel_outliers": B.ts_hampel_outliers,
        # association lift/confidence for co-purchased part pairs
        "market_basket_lift": B.market_basket_lift,
        # --- round-4 second wave ---
        # TPC-H Q8 shape: national market share per order year
        "agg_market_share": R.agg_market_share,
        # daily open-order backlog (+1/-1 boundary events)
        "orders_backlog_daily": R.orders_backlog_daily,
        # vendor scorecard: mean ship lead time + dense_rank
        "supplier_lead_time_rank": R.supplier_lead_time_rank,
        # user-day event-type PMI association mining
        "events_type_pmi": B.events_type_pmi,
        # funnel conversion-latency percentiles (view→purchase)
        "events_time_to_convert": B.events_time_to_convert,
        # Gini revenue-concentration index (abc_pareto companion)
        "agg_gini_revenue": B.agg_gini_revenue,
        # dbt-utils test pack incl. scd2 validity-overlap check
        "dq_advanced_tests": Q.dq_advanced_tests,
        # lang-ID confusion matrix vs ground-truth labels (eval)
        "text_lang_confusion": T.text_lang_confusion,
        # KMV distinct sketch per type + lossless sketch merge row
        "agg_kmv_distinct": S.agg_kmv_distinct,
        # dbt source freshness report (pinned as-of instant)
        "dq_source_freshness": Q.dq_source_freshness,
        # percent_rank + cume_dist per segment (rank-family windows)
        "window_percent_rank_cume": R.window_percent_rank_cume,
        # Zipf-law slope of the corpus token-frequency distribution
        "text_zipf_slope": T.text_zipf_slope,
        # per-lang source-mix Shannon entropy (diversity audit)
        "corpus_mix_entropy": T.corpus_mix_entropy,
        # hourly OHLC bars: pick-only doubles, one (series,hour) exchange
        "ts_resample_ohlc": B.ts_resample_ohlc,
        # TPC-H Q12 shape: large-large orderkey join + band rollup
        "agg_ship_delay_bands": R.agg_ship_delay_bands,
        # TPC-H Q5 shape: 6-table star, integer-cents revenue
        "join_star_local_volume": R.join_star_local_volume,
        # count-min sketch heavy hitters with exact-count audit
        "agg_heavy_hitters_cms": S.agg_heavy_hitters_cms,
        # exactly-k reproducible hash sample (TakeOrderedAndProject)
        "sample_fixed_size_hash": S.sample_fixed_size_hash,
        # aggressive-canonicalization dedup tier
        "text_normalize_dedup": D.text_normalize_dedup,
        # fixed-point PageRank over the co-purchase graph
        "graph_pagerank_topk": graph_pagerank_topk,
        # --- round-5 additions ---
        # support-weighted PageRank (edge weight = co-purchase count)
        "graph_pagerank_weighted": graph_pagerank_weighted,
        # FAISS IndexIVFPQ shape: cell-restricted ADC + exact rerank
        "similarity_ivf_pq_topk": V.similarity_ivf_pq_topk,
        # IndexIVFPQ with by_residual=True (residual-trained codes)
        "similarity_ivf_pq_residual_topk": V.similarity_ivf_pq_residual_topk,
        # exactly-k-per-stratum reproducible sample (balanced eval sets)
        "sample_fixed_size_per_group": S.sample_fixed_size_per_group,
        # temperature rebalance at dyadic alpha=0.25 (sqrt-chain pow)
        "sample_source_temperature_alpha": S.sample_source_temperature_alpha,
        # on-corpus BPE merge training over the word-frequency dict
        "text_bpe_train": T.text_bpe_train,
        # corpus tokenization with the trained merges (token budgets)
        "text_bpe_tokenize": T.text_bpe_tokenize,
        # compact-forward triangle census + clustering coefficient
        "graph_triangle_count": graph_triangle_count,
        # fixed-point EWMA control-chart smoothing of daily volumes
        "ts_ewma_smooth": B.ts_ewma_smooth,
        # stationary distribution of the behavior Markov chain
        "events_markov_stationary": B.events_markov_stationary,
        # two-sided tabular CUSUM level-shift flags (Page 1954)
        "events_changepoint_cusum": B.events_changepoint_cusum,
        # classical additive trend/weekly-seasonal/residual split
        "ts_seasonal_decompose": B.ts_seasonal_decompose,
        # Kaplan-Meier user-lifetime survival (censoring-aware churn)
        "events_survival_km": B.events_survival_km,
        # diversity-aware rerank: maximal marginal relevance top-k
        "similarity_mmr_topk": V.similarity_mmr_topk,
        # contrastive hard-negative mining with positive-margin audit
        "similarity_hard_negatives": V.similarity_hard_negatives,
        # Flesch / Flesch-Kincaid readability band scores
        "text_readability": T.text_readability,
        # Holt double-exponential smoothing + next-step forecast
        "ts_holt_linear": B.ts_holt_linear,
        # Jaccard-overlap link prediction over the co-purchase graph
        "graph_link_prediction": graph_link_prediction,
        # cohort payback curve: cumulative LTV per acquisition day
        "events_cohort_ltv": B.events_cohort_ltv,
        # nearest-centroid classifier eval (embedding scorecard)
        "embedding_centroid_eval": V.embedding_centroid_eval,
        # PSI distribution drift between observation halves
        "dq_distribution_drift": Q.dq_distribution_drift,
        # interpolated bigram LM scoring (word-order anomalies)
        "text_perplexity_bigram": T.text_perplexity_bigram,
        # K-core membership of the co-purchase graph (dense bundles)
        "graph_kcore": graph_kcore,
        # exact-integer correlogram of daily event counts (lags 1-7)
        "ts_autocorrelation": B.ts_autocorrelation,
        # Benford first-digit forensic screen over line revenue
        "dq_benford_digits": Q.dq_benford_digits,
        # TPC-H Q17 shape: correlated small-qty revenue per brand
        "agg_small_qty_revenue": R.agg_small_qty_revenue,
        # per-brand price/size efficient frontier (2-D skyline)
        "agg_skyline_per_brand": R.agg_skyline_per_brand,
        # dow x hour activity heatmap with peak flags
        "events_seasonality_profile": B.events_seasonality_profile,
        # multi-source BFS hop distances over the co-purchase graph
        "graph_bfs_layers": graph_bfs_layers,
        # TPC-H Q21 shape: sole-late-supplier blame (semi+anti stack)
        "supplier_sole_late": R.supplier_sole_late,
        # TPC-H Q22 shape: dormant high-balance accounts per segment
        "customer_idle_balance": R.customer_idle_balance,
        # Herfindahl supplier-revenue concentration per nation
        "agg_hhi_concentration": B.agg_hhi_concentration,
        # per-user consecutive-day streaks (gaps-and-islands fold)
        "events_user_streaks": B.events_user_streaks,
        # seasonal-naive forecast backtest (MAE/bias/WAPE baseline)
        "ts_forecast_snaive": B.ts_forecast_snaive,
        # degree-distribution power-law fit of the co-purchase graph
        "graph_degree_powerlaw": graph_degree_powerlaw,
        # --- never driver-checked in rounds 1-2: run these first ---
        # long->wide with pinned pivot domain (no discovery job)
        "metric_pivot": R.metric_pivot,
        # wide->long melt, zero-shuffle
        "metric_unpivot": R.metric_unpivot,
        # gaps-and-islands sessionization (batch twin of session_window)
        "sessionize_events": R.sessionize_events,
        # NTILE banding over a bounded top-k slice
        "window_ntile_deciles": R.window_ntile_deciles,
        # pure interval join via month-bin equi-join (no BNLJ)
        "join_range_binned": R.join_range_binned,
        # int8 scalar quantization audit of the embedding store
        "embedding_quantize_int8": V.embedding_quantize_int8,
        # attribution-window pair join (batch form of the
        # watermarked stream-stream join; streaming twin in tests)
        "stream_interval_join": stream_interval_join,
        # dbt merge / delete+insert incremental strategy (unique_key)
        "incremental_merge_upsert": incremental_merge_upsert,
        # dbt-utils date_spine: gapless daily calendar + stats
        "date_spine": R.date_spine,
        # dbt test surface: unique/not_null/accepted_values/relationships
        "dq_schema_tests": Q.dq_schema_tests,
        # BM25 term scoring over the corpus (retrieval primitive)
        "text_bm25_search": T.text_bm25_search,
        # top-k TF-IDF keywords per document
        "text_keyword_extract": T.text_keyword_extract,
        # RFM banding per customer (fixed thresholds, integer scores)
        "rfm_segmentation": R.rfm_segmentation,
        # sliding 1h/15min windowed aggregate (streaming twin in tests)
        "stream_sliding_count": stream_sliding_count,
        # equi-depth (ANALYZE-style) histogram from exact quantiles
        "agg_equi_depth_histogram": S.agg_equi_depth_histogram,
        # per-user OLS drift statistic (exact integer sums)
        "agg_trend_slope": R.agg_trend_slope,
        # delta-vs-index near-dup probe (no corpus self-join)
        "dedup_incremental_minhash": D.dedup_incremental_minhash,
        # incremental connected components: base CC + delta probe +
        # quotient-graph merge == from-scratch rebuild (round 10)
        "dedup_incremental_clusters": D.dedup_incremental_clusters,
        # recall@k deploy gate for the ADC+exact-refine path (round 10)
        "similarity_rerank_recall_eval": V.similarity_rerank_recall_eval,
        # recall@k deploy gate for the INCREMENTALLY-maintained IVF
        # index: frozen quantizer + frozen-cell delta assignment
        # (round 12, VERDICT r11 #3)
        "similarity_ivf_delta_recall_eval": (
            V.similarity_ivf_delta_recall_eval
        ),
        # delta-vs-block-index ngram probe (no corpus self-join)
        "dedup_incremental_ngram": D.dedup_incremental_ngram,
        # per-source dup-rate telemetry over the keep-list verdicts
        "corpus_dedup_rate_by_source": D.corpus_dedup_rate_by_source,
        # reproducible quality-weighted downsampling (hash coin)
        "sample_quality_weighted": S.sample_quality_weighted,
        # strictly-ordered conversion funnel (one event-log shuffle)
        "events_funnel": B.events_funnel,
        # daily-cohort retention matrix (collect_set day sets)
        "retention_cohort": B.retention_cohort,
        # deterministic per-user MODE() with share of total
        "agg_mode_per_group": B.agg_mode_per_group,
        # first-order Markov transition matrix of event types
        "events_transition_matrix": B.events_transition_matrix,
        # per-type z-score anomaly filter (fixed-point moments)
        "agg_zscore_outliers": Q.agg_zscore_outliers,
        # unigram Shannon entropy quality proxy (fixed-point fold)
        "text_word_entropy": T.text_word_entropy,
        # applyInPandas grouped twin — rows-only by policy; asserted
        # bit-identical to the JVM twin in tests
        "agg_trend_slope_pandas": R.agg_trend_slope_pandas,
        # hash-gated equality audit of the pandas twin vs the JVM
        # path (the embedding_pca_invariants pattern)
        "agg_trend_slope_audit": R.agg_trend_slope_audit,
        # --- round-4 additions: must be in the first-50 sample ---
        # onboarding-path mining (first-3-event journeys, counted)
        "events_user_path": B.events_user_path,
        # gap-filled hourly series with linear interpolation
        "ts_gap_fill": R.ts_gap_fill,
        # CCNet-style segment-dedup profile (corpus boilerplate)
        "text_line_dedup": D.text_line_dedup,
        # product-quantization encode + fixed-point error audit
        "embedding_pq_encode": V.embedding_pq_encode,
        # unigram-LM log-perplexity quality scoring (CCNet shape)
        "text_perplexity_unigram": T.text_perplexity_unigram,
        # SemDeDup: components over the embedding near-dup graph
        "dedup_semantic_clusters": D.dedup_semantic_clusters,
        # reproducible hash-coin train/validation/test assignment
        "sample_train_test_split": S.sample_train_test_split,
        # robust MAD outlier flags (heavy-tail-safe zscore twin)
        "agg_mad_outliers": Q.agg_mad_outliers,
        # per-column data profile (rows/nulls/exact distincts)
        "table_profile": Q.table_profile,
        # last-touch purchase attribution over the event log
        "events_attribution_last_touch": B.events_attribution_last_touch,
        # PQ asymmetric-distance top-k over the coded corpus
        "similarity_pq_topk": V.similarity_pq_topk,
        # full production PQ path: trained books + ADC + exact rerank
        "similarity_pq_rerank_topk": V.similarity_pq_rerank_topk,
        # PII detect + redact fingerprint (zero-shuffle narrow map)
        "text_pii_scan": T.text_pii_scan,
        # Gopher-rules composite keep/drop verdict (integer-exact)
        "corpus_quality_filter": C.corpus_quality_filter,
        # trailing-24h rolling z-score anomaly flags (integer-exact)
        "events_anomaly_rolling": B.events_anomaly_rolling,
        # exact DAU/WAU/MAU rolling distinct actives (no set buffers)
        "events_dau_wau_mau": B.events_dau_wau_mau,
        # corpus top-K bigram frequencies (TakeOrdered heap cut)
        "text_ngram_topk": T.text_ngram_topk,
        # mT5-style temperature source rebalancing (sqrt-exact rates)
        "sample_source_temperature": S.sample_source_temperature,
        # PQ encode against per-subspace TRAINED (Lloyd) codebooks
        "embedding_pq_encode_trained": V.embedding_pq_encode_trained,
        # snapshot diff (added/removed/changed) — delta-sized output
        "table_diff": table_diff,
        # integer-exact weighted percentiles (cum-weight threshold)
        "agg_weighted_percentile": R.agg_weighted_percentile,
        # per-user inter-arrival cadence profile (exact microseconds)
        "events_inter_arrival": B.events_inter_arrival,
        # bloom-prefiltered exact semi join (runtime-filter pattern)
        "join_bloom_prefilter": join_bloom_prefilter,
        # 3rd/4th-moment shape profile (exact folds, shared trees)
        "agg_skewness_kurtosis": R.agg_skewness_kurtosis,
        # watermark accounting: on-time vs late-dropped per hour
        "stream_late_data_metrics": stream_late_data_metrics,
        # mutual-kNN graph edges (exact scorer; ANN lists at scale)
        "similarity_knn_graph": V.similarity_knn_graph,
        # --- round-3 additions / r2-weak reworks: keep in sample ---
        # co-occurrence mining: top-k part pairs by basket support
        "market_basket_pairs": B.market_basket_pairs,
        # Pareto/ABC revenue-contribution banding (integer-exact cut)
        "abc_pareto_class": B.abc_pareto_class,
        # JL random projection 64→16 dims, fixed literal sign matrix
        "embedding_random_projection": V.embedding_random_projection,
        # subset-dup pairs via rare-shingle prefix filtering
        "dedup_containment": D.dedup_containment,
        # engine-exact grouped Pearson corr (integer moment folds)
        "agg_correlation": R.agg_correlation,
        "similarity_lsh_topk": V.similarity_lsh_topk,
        "dedup_embedding_cosine": D.dedup_embedding_cosine,
        "dedup_minhash": D.dedup_minhash,
        "dedup_simhash": D.dedup_simhash,
        # --- driver-green in rounds 1-2 ---
        # M2 metric layer (compiled requests)
        **{name: _metric_query(name) for name in METRIC_REQUESTS},
        "metric_compiled_dim_sweep": _dim_sweep_query,
        # §2.11 EXT — similarity search
        "similarity_topk": V.similarity_topk,
        "similarity_ivf_topk": V.similarity_ivf_topk,
        # Arrow/numpy path — intentionally NO oracle_sql entry
        # (pairwise vs left-fold float summation differs at 6 dp);
        # the exact twin similarity_topk carries value correctness,
        # and the audit below hash-gates the Arrow path's equality
        # to it inside the engine (VERDICT r12 #4)
        "similarity_topk_pandas": V.similarity_topk_pandas,
        "similarity_topk_audit": V.similarity_topk_audit,
        # §2.11 EXT — multimodal plumbing
        "multimodal_meta": M.multimodal_meta,
        "multimodal_features_flat": M.multimodal_features_flat,
        # §2.1 sources / sinks
        "source_json_records": json_records_source,
        "fanout_fetch": fanout_fetch_query,
        "append_with_audit_col": append_with_audit_col_query,
        "sink_csv": sink_csv_roundtrip_query,
        "result_text_format": result_text_format_query,
        # §2.8 F11 / §3.4 script execution
        "multi_statement_exec": multi_statement_exec_query,
        # §2.9 incremental / streaming
        "incremental_delta_filter": incremental_delta_filter_query,
        "stream_tumbling_count": stream_tumbling_count,
        "stream_session_agg": stream_session_agg,
        # dbt snapshot (check strategy) — type-2 history build
        "scd2_snapshot": scd2_snapshot,
        # idempotency-key dedup (batch form of dropDuplicatesWithinWatermark)
        "stream_dedup": stream_dedup,
        "filter_type_and_notnull": R.filter_type_and_notnull,
        "project_report_cols": R.project_report_cols,
        "join_anti_new_rows": R.join_anti_new_rows,
        # EXISTS filter as left-semi join
        "join_semi_exists": R.join_semi_exists,
        "join_asof": join_asof,
        "join_salted_skew": join_salted_skew,
        "agg_max_watermark": R.agg_max_watermark,
        "window_running_sum": R.window_running_sum,
        "window_lag_delta": R.window_lag_delta,
        # rolling 4-event mean, integer-cents accumulation
        "window_sliding_avg": R.window_sliding_avg,
        "union_incremental_snapshots": R.union_incremental_snapshots,
        "unixtime_to_iso": R.unixtime_to_iso,
        "tz_normalize": R.tz_normalize,
        "concat_report_rows": R.concat_report_rows,
        "json_extract_props": R.json_extract_props,
        # sketch twin of agg_percentiles — rows-only by design
        "agg_approx_percentiles": R.agg_approx_percentiles,
        # connected components over MinHash pairs (iterative
        # label propagation; recursive-CTE oracle)
        "dedup_clusters": D.dedup_clusters,
        # deterministic per-stratum eval-set sampling
        "sample_stratified": S.sample_stratified,
        # fixed-width distribution histogram
        "agg_histogram": S.agg_histogram,
        # eval-set n-gram leakage flagging
        "text_decontaminate": C.text_decontaminate,
        # Gopher-style repetition quality signals
        "text_repetition_stats": T.text_repetition_stats,
        # domain-level corpus health (kill spam sources wholesale)
        "source_quality_rollup": T.source_quality_rollup,
        # feature-hashing vectorizer (hashing trick), long format
        "text_hash_embed": T.text_hash_embed,
        # concat-and-chunk training-sequence packing
        "pack_concat_chunks": C.pack_concat_chunks,
        # JVM-side binary frame chunk + stride sample + fingerprint
        "multimodal_frame_sample": M.multimodal_frame_sample,
        # end-to-end per-doc keep/drop verdict (exact + cluster tiers)
        "corpus_keep_list": D.corpus_keep_list,
        # --- green in round 1 ---
        # §2.1 scans / sources
        "scan_table": R.scan_table,
        "sql_execute_limit": R.sql_execute_limit,
        # §2.2 filters / projections
        "filter_where_expr": R.filter_where_expr,
        "filter_time_range": R.filter_time_range,
        # §2.3 joins
        "join_fact_dim": R.join_fact_dim,
        "join_star_3way": R.join_star_3way,
        "join_left_outer": R.join_left_outer,
        "join_time_range": R.join_time_range,
        # §2.4 aggregations
        "agg_count": R.agg_count,
        "agg_count_distinct": R.agg_count_distinct,
        "agg_percentiles": R.agg_percentiles,
        # sketch op — intentionally NO oracle_sql entry (DuckDB's
        # HLL differs); the driver records the rows-only check, and
        # the audits below hash-gate both sketch twins' error bounds
        # inside the engine (VERDICT r12 #5)
        "agg_approx_distinct": R.agg_approx_distinct,
        "agg_approx_distinct_audit": R.agg_approx_distinct_audit,
        "agg_approx_percentiles_audit": R.agg_approx_percentiles_audit,
        "metric_groupby_agg": R.metric_groupby_agg,
        "distinct_values": R.distinct_values,
        "metric_grouping_sets": R.metric_grouping_sets,
        "metric_rollup": R.metric_rollup,
        "metric_cube": R.metric_cube,
        # §2.5 windows
        "window_topk_per_group": R.window_topk_per_group,
        # §2.6 sorts / limits
        "order_by": R.order_by,
        "order_limit_topk": R.order_limit_topk,
        "limit_offset_page": R.limit_offset_page,
        # §2.7 set ops
        "intersect_except": R.intersect_except,
        # §2.8 scalar functions
        "hex_decode_utf8": R.hex_decode_utf8,
        "round_decimals": R.round_decimals,
        "regexp_redact": R.regexp_redact,
        "string_chunk": R.string_chunk,
        "sanitize_name": R.sanitize_name,
        # §2.11 EXT — text analysis
        "text_token_stats": T.text_token_stats,
        "text_lang_id": T.text_lang_id,
        "text_quality_score": T.text_quality_score,
        "text_token_count_bpe": T.text_token_count_bpe,
        "doc_fingerprint": T.doc_fingerprint,
        "doc_winnow_fingerprint": T.doc_winnow_fingerprint,
        # §2.11 EXT — dedup (minhash/simhash moved to the r3 block above)
        "dedup_exact": D.dedup_exact,
        "dedup_ngram_jaccard": D.dedup_ngram_jaccard,
    }


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL, one per queries() key."""
    return {
        "scan_table": "SELECT r_regionkey, r_name FROM region",
        "sql_execute_limit": """
            SELECT o_orderkey, o_custkey, o_totalprice
            FROM orders ORDER BY o_orderkey LIMIT 100
        """,
        "filter_type_and_notnull": """
            SELECT event_id, user_id, event_type, value
            FROM events
            WHERE event_type = 'purchase' AND props IS NOT NULL
        """,
        "filter_where_expr": """
            SELECT l_orderkey, l_linenumber, l_quantity, l_discount
            FROM lineitem
            WHERE l_quantity > 30 AND l_discount < 0.05
        """,
        "filter_time_range": """
            SELECT o_orderkey, o_orderdate, o_totalprice
            FROM orders
            WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01'
                                  AND TIMESTAMP '1996-12-31'
        """,
        "project_report_cols": """
            SELECT event_id,
                   value AS fee,
                   event_type AS kind,
                   CAST(CAST(ts AS DATE) AS VARCHAR) AS eventdate
            FROM events
        """,
        "join_fact_dim": """
            SELECT o_orderkey, c_name, c_mktsegment, o_totalprice
            FROM orders JOIN customer ON o_custkey = c_custkey
        """,
        "join_star_3way": """
            SELECT r_name, n_name,
                   COUNT(*) AS n_customers,
                   ROUND(SUM(c_acctbal), 2) AS total_acctbal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name
        """,
        "join_left_outer": """
            SELECT c_custkey, c_name,
                   COUNT(o_orderkey) AS n_orders,
                   ROUND(COALESCE(SUM(o_totalprice), 0.0), 2) AS total_spend
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey, c_name
        """,
        "join_anti_new_rows": """
            SELECT event_id, user_id, event_type
            FROM events e
            WHERE NOT EXISTS (
                SELECT 1 FROM events s
                WHERE s.event_id < 500 AND s.event_id = e.event_id
            )
        """,
        "join_semi_exists": """
            SELECT c_custkey, c_name, c_acctbal
            FROM customer c
            WHERE EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O'
            )
        """,
        "join_salted_skew": """
            SELECT e.event_id, e.user_id, e.event_type, n.n_orders
            FROM events e
            JOIN (SELECT o_custkey AS user_id, COUNT(*) AS n_orders
                  FROM orders GROUP BY 1) n
              ON e.user_id = n.user_id
        """,
        "join_asof": """
            WITH p AS (
                SELECT user_id, ts AS pts, event_id AS pid
                FROM events WHERE event_type = 'purchase'
            ),
            ranked AS (
                SELECT e.event_id, e.user_id, e.ts, e.event_type,
                       p.pid, p.pts,
                       row_number() OVER (
                           PARTITION BY e.event_id
                           ORDER BY p.pts DESC, p.pid DESC) AS rn
                FROM events e
                LEFT JOIN p ON e.user_id = p.user_id AND p.pts <= e.ts
            )
            SELECT event_id, user_id, ts, event_type,
                   pid AS last_purchase_id, pts AS last_purchase_ts
            FROM ranked WHERE rn = 1
        """,
        "join_time_range": """
            SELECT o_orderkey, o_orderdate,
                   COUNT(*) AS n_items_90d,
                   ROUND(SUM(l_extendedprice), 2) AS rev_90d
            FROM lineitem JOIN orders
              ON l_orderkey = o_orderkey
             AND l_shipdate >= o_orderdate
             AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
            GROUP BY o_orderkey, o_orderdate
        """,
        "agg_max_watermark": """
            SELECT CAST(COALESCE(MAX(event_id), 0) AS BIGINT) AS last_event_id
            FROM events
        """,
        "agg_count": "SELECT COUNT(*) AS n_rows FROM lineitem",
        "agg_count_distinct": """
            SELECT COUNT(DISTINCT o_custkey) AS n_active_customers,
                   COUNT(*) AS n_orders
            FROM orders
        """,
        "agg_percentiles": """
            SELECT o_orderstatus,
                   ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
                   ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
                   ROUND(quantile_cont(o_totalprice, 0.99), 4) AS p99
            FROM orders GROUP BY o_orderstatus
        """,
        # bounded-error gates for the sketch twins (VERDICT r12 #5):
        # the oracle recomputes the EXACT side's aggregates and
        # expects the engine's within-bounds bit TRUE — a sketch
        # drift past its documented error flips the bit and fails
        # the value hash
        "agg_approx_distinct_audit": """
            SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
                   CAST(SUM(ec) AS BIGINT) AS exact_distinct_total,
                   CAST(SUM(n) AS BIGINT) AS n_orders_total,
                   TRUE AS hll_within_bounds
            FROM (SELECT o_orderstatus,
                         COUNT(DISTINCT o_custkey) AS ec,
                         COUNT(*) AS n
                  FROM orders GROUP BY o_orderstatus)
        """,
        "agg_approx_percentiles_audit": """
            WITH exact AS (
              SELECT o_orderstatus,
                     ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
                     ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
                     ROUND(quantile_cont(o_totalprice, 0.99), 4) AS p99
              FROM orders GROUP BY o_orderstatus
            )
            SELECT CAST((SELECT COUNT(*) FROM exact) AS BIGINT)
                       AS n_groups,
                   CAST((SELECT SUM(CAST(ROUND((p50 + p90 + p99)
                                               * 10000.0) AS BIGINT))
                         FROM exact) AS BIGINT) AS pct_checksum_fp,
                   CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
                       AS n_orders_total,
                   TRUE AS kll_within_bounds
        """,
        "metric_groupby_agg": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   ROUND(AVG(l_quantity), 6) AS avg_qty,
                   ROUND(AVG(l_discount), 6) AS avg_disc,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "distinct_values": "SELECT DISTINCT c_mktsegment FROM customer",
        "metric_grouping_sets": """
            SELECT o_orderstatus, o_orderpriority,
                   COUNT(*) AS n_orders,
                   ROUND(SUM(o_totalprice), 2) AS total_price
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                    (o_orderstatus, o_orderpriority))
        """,
        "metric_rollup": """
            SELECT r_name, n_name, COUNT(*) AS n_customers
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY ROLLUP (r_name, n_name)
        """,
        "metric_cube": """
            SELECT o_orderstatus, o_orderpriority,
                   COUNT(*) AS n_orders,
                   ROUND(SUM(o_totalprice), 2) AS total_price
            FROM orders
            GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "metric_pivot": """
            SELECT o_orderpriority,
                   ROUND(SUM(CASE WHEN o_orderstatus = 'F'
                                  THEN o_totalprice END), 2) AS status_F,
                   ROUND(SUM(CASE WHEN o_orderstatus = 'O'
                                  THEN o_totalprice END), 2) AS status_O,
                   ROUND(SUM(CASE WHEN o_orderstatus = 'P'
                                  THEN o_totalprice END), 2) AS status_P
            FROM orders
            GROUP BY o_orderpriority
        """,
        "metric_unpivot": """
            SELECT p_partkey, 'retail_price' AS metric,
                   p_retailprice::DOUBLE AS value
            FROM part
            UNION ALL
            SELECT p_partkey, 'size' AS metric, p_size::DOUBLE AS value
            FROM part
        """,
        "sessionize_events": f"""
            WITH flagged AS (
              SELECT user_id, ts, event_id, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch(ts) - epoch(lag(ts) OVER w)
                               > {R.SESSION_GAP_S}
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sess AS (
              SELECT *, CAST(SUM(new_sess) OVER (
                          PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                        ) AS BIGINT) AS session_idx
              FROM flagged
            )
            SELECT user_id, session_idx,
                   MIN(ts) AS session_start, MAX(ts) AS session_end,
                   COUNT(*) AS n_events,
                   ROUND(CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS DOUBLE)
                         / 100.0, 2) AS session_value
            FROM sess GROUP BY user_id, session_idx
        """,
        "window_ntile_deciles": f"""
            WITH top AS (
              SELECT o_orderkey, o_totalprice FROM orders
              ORDER BY o_totalprice DESC, o_orderkey LIMIT {R.NTILE_TOPN}
            ), banded AS (
              SELECT *, NTILE(10) OVER (
                  ORDER BY o_totalprice DESC, o_orderkey) AS decile
              FROM top
            )
            SELECT CAST(decile AS INTEGER) AS decile, COUNT(*) AS n_orders,
                   MIN(o_totalprice) AS price_min,
                   MAX(o_totalprice) AS price_max,
                   ROUND(CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT))
                              AS DOUBLE) / 100.0, 2) AS price_sum
            FROM banded GROUP BY decile
        """,
        "join_range_binned": f"""
            WITH promos(promo, start_d, end_d) AS (VALUES {", ".join(
                f"('{n}', DATE '{s}', DATE '{e}')"
                for n, s, e in R.PROMO_WINDOWS)})
            SELECT promo, COUNT(*) AS n_orders,
                   ROUND(CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT))
                              AS DOUBLE) / 100.0, 2) AS revenue
            FROM orders JOIN promos
              ON CAST(o_orderdate AS DATE) BETWEEN start_d AND end_d
            GROUP BY promo
        """,
        "rfm_segmentation": """
            WITH od AS (
              SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
                     CAST(ROUND(o_totalprice*100) AS BIGINT) AS cents
              FROM orders
            ), anchor AS (SELECT MAX(od) AS anchor FROM od),
            per_cust AS (
              SELECT o_custkey, MAX(od) AS last_od, COUNT(*) AS frequency,
                     CAST(SUM(cents) AS BIGINT) AS monetary_cents
              FROM od GROUP BY o_custkey
            ), scored AS (
              SELECT o_custkey,
                     CAST(date_diff('day', last_od, anchor) AS INTEGER)
                       AS recency_days,
                     frequency, monetary_cents
              FROM per_cust CROSS JOIN anchor
            )
            SELECT o_custkey, recency_days, frequency,
                   ROUND(CAST(monetary_cents AS DOUBLE) / 100.0, 2)
                     AS monetary,
                   CASE WHEN recency_days <= 180 THEN 3
                        WHEN recency_days <= 540 THEN 2 ELSE 1 END
                     AS r_score,
                   CASE WHEN frequency >= 12 THEN 3
                        WHEN frequency >= 6 THEN 2 ELSE 1 END AS f_score,
                   CASE WHEN monetary_cents >= 150000000 THEN 3
                        WHEN monetary_cents >= 50000000 THEN 2 ELSE 1 END
                     AS m_score,
                   CAST(CASE WHEN recency_days <= 180 THEN 3
                             WHEN recency_days <= 540 THEN 2 ELSE 1 END
                        AS VARCHAR)
                   || CAST(CASE WHEN frequency >= 12 THEN 3
                                WHEN frequency >= 6 THEN 2 ELSE 1 END
                           AS VARCHAR)
                   || CAST(CASE WHEN monetary_cents >= 150000000 THEN 3
                                WHEN monetary_cents >= 50000000 THEN 2
                                ELSE 1 END AS VARCHAR) AS segment
            FROM scored
        """,
        "date_spine": """
            WITH od AS (
              SELECT CAST(o_orderdate AS DATE) AS day, o_totalprice
              FROM orders
            ), bounds AS (
              SELECT MIN(day) AS lo, MAX(day) AS hi FROM od
            ), spine AS (
              SELECT CAST(unnest(generate_series(lo, hi,
                          INTERVAL 1 DAY)) AS DATE) AS day
              FROM bounds
            ), daily AS (
              SELECT day, COUNT(*) AS n,
                     ROUND(CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT))
                                AS DOUBLE) / 100.0, 2) AS rev
              FROM od GROUP BY day
            )
            SELECT strftime(spine.day, '%Y-%m-%d') AS day,
                   COALESCE(n, 0) AS n_orders,
                   COALESCE(rev, 0.0) AS revenue
            FROM spine LEFT JOIN daily USING (day)
        """,
        "dq_schema_tests": """
            WITH uniq AS (
              SELECT 'unique_o_orderkey' AS test_name,
                     COUNT(*) AS n_violations
              FROM (SELECT o_orderkey FROM orders
                    GROUP BY o_orderkey HAVING COUNT(*) > 1)
            ), nn AS (
              SELECT 'not_null_o_custkey',
                     COUNT(*) FILTER (WHERE o_custkey IS NULL)
              FROM orders
            ), accepted AS (
              SELECT 'accepted_values_o_orderstatus',
                     COUNT(*) FILTER (
                       WHERE o_orderstatus NOT IN ('F','O','P'))
              FROM orders
            ), rel AS (
              SELECT 'relationships_o_custkey', COUNT(*)
              FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = o.o_custkey)
            ), report AS (
              SELECT * FROM uniq UNION ALL SELECT * FROM nn
              UNION ALL SELECT * FROM accepted UNION ALL SELECT * FROM rel
            )
            SELECT test_name, n_violations,
                   n_violations = 0 AS passed
            FROM report
        """,
        "incremental_merge_upsert": """
            WITH target AS (
              SELECT event_id, user_id, event_type, value
              FROM events WHERE event_id < 800
            ), batch AS (
              SELECT event_id, user_id, event_type,
                     ROUND(value + 1, 2) AS value
              FROM events WHERE event_id >= 700
            )
            SELECT * FROM target
            WHERE NOT EXISTS (SELECT 1 FROM batch
                              WHERE batch.event_id = target.event_id)
            UNION ALL
            SELECT * FROM batch
        """,
        "agg_trend_slope": """
            WITH base AS (
              SELECT user_id,
                     epoch_us(ts) // 1000000
                       - MIN(epoch_us(ts) // 1000000)
                           OVER (PARTITION BY user_id) AS x,
                     CAST(ROUND(value*100) AS BIGINT) AS y
              FROM events
            ), agg AS (
              SELECT user_id, COUNT(*) AS n,
                     CAST(SUM(x) AS BIGINT) AS sx,
                     CAST(SUM(y) AS BIGINT) AS sy,
                     CAST(SUM(x*y) AS BIGINT) AS sxy,
                     CAST(SUM(x*x) AS BIGINT) AS sxx
              FROM base GROUP BY user_id
            )
            SELECT user_id, n AS n_events,
                   CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                        THEN ROUND(
                          (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                          / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                          * 86400.0 / 100.0, 4)
                   END AS slope_per_day
            FROM agg
        """,
        "agg_trend_slope_audit": """
            WITH base AS (
              SELECT user_id,
                     epoch_us(ts) // 1000000
                       - MIN(epoch_us(ts) // 1000000)
                           OVER (PARTITION BY user_id) AS x,
                     CAST(ROUND(value*100) AS BIGINT) AS y
              FROM events
            ), agg AS (
              SELECT user_id, COUNT(*) AS n,
                     CAST(SUM(x) AS BIGINT) AS sx,
                     CAST(SUM(y) AS BIGINT) AS sy,
                     CAST(SUM(x*y) AS BIGINT) AS sxy,
                     CAST(SUM(x*x) AS BIGINT) AS sxx
              FROM base GROUP BY user_id
            ), slopes AS (
              SELECT user_id, n,
                     CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                          THEN ROUND(
                            (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                            / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            * 86400.0 / 100.0, 4)
                     END AS slope_per_day
              FROM agg
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
                   CAST(SUM(n) AS BIGINT) AS n_events_total,
                   CAST(SUM(CASE WHEN slope_per_day IS NULL
                                 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_null_slopes,
                   CAST(SUM(CAST(ROUND(slope_per_day * 10000.0)
                                 AS BIGINT)) AS BIGINT)
                     AS slope_checksum_fp,
                   TRUE AS pandas_matches_jvm
            FROM slopes
        """,
        "events_funnel": """
            WITH s1 AS (
              SELECT user_id, MIN(ts) AS t FROM events
              WHERE event_type = 'view' GROUP BY user_id
            ), s2 AS (
              SELECT e.user_id, MIN(e.ts) AS t
              FROM events e JOIN s1 ON e.user_id = s1.user_id
              WHERE e.event_type = 'click' AND e.ts > s1.t
              GROUP BY e.user_id
            ), s3 AS (
              SELECT e.user_id, MIN(e.ts) AS t
              FROM events e JOIN s2 ON e.user_id = s2.user_id
              WHERE e.event_type = 'signup' AND e.ts > s2.t
              GROUP BY e.user_id
            ), s4 AS (
              SELECT e.user_id, MIN(e.ts) AS t
              FROM events e JOIN s3 ON e.user_id = s3.user_id
              WHERE e.event_type = 'purchase' AND e.ts > s3.t
              GROUP BY e.user_id
            ), c AS (
              SELECT (SELECT COUNT(*) FROM s1) AS c1,
                     (SELECT COUNT(*) FROM s2) AS c2,
                     (SELECT COUNT(*) FROM s3) AS c3,
                     (SELECT COUNT(*) FROM s4) AS c4
            )
            SELECT 1 AS step_idx, 'view' AS step, c1 AS n_users,
                   ROUND(CAST(c1 AS DOUBLE) / c1, 4) AS pct_of_first FROM c
            UNION ALL
            SELECT 2, 'click', c2,
                   ROUND(CAST(c2 AS DOUBLE) / c1, 4) FROM c
            UNION ALL
            SELECT 3, 'signup', c3,
                   ROUND(CAST(c3 AS DOUBLE) / c1, 4) FROM c
            UNION ALL
            SELECT 4, 'purchase', c4,
                   ROUND(CAST(c4 AS DOUBLE) / c1, 4) FROM c
        """,
        "retention_cohort": """
            WITH days AS (
              SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
            ), firsts AS (
              SELECT user_id, MIN(d) AS cohort_day FROM days GROUP BY user_id
            ), grid AS (
              SELECT cohort_day,
                     CAST(date_diff('day', cohort_day, d) AS INTEGER)
                       AS day_offset,
                     COUNT(*) AS n_users
              FROM days JOIN firsts USING (user_id)
              GROUP BY 1, 2
            ), sizes AS (
              SELECT cohort_day, n_users AS cohort_size
              FROM grid WHERE day_offset = 0
            )
            SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
                   day_offset, n_users,
                   ROUND(CAST(n_users AS DOUBLE) / cohort_size, 4)
                     AS retention_pct
            FROM grid JOIN sizes USING (cohort_day)
        """,
        "events_transition_matrix": """
            WITH ordered AS (
              SELECT user_id, event_type,
                     LAG(event_type) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS prev_type
              FROM events
            ), pairs AS (
              SELECT prev_type, event_type AS next_type
              FROM ordered WHERE prev_type IS NOT NULL
            ), grid AS (
              SELECT prev_type, next_type, COUNT(*) AS n_transitions
              FROM pairs GROUP BY 1, 2
            ), tot AS (
              SELECT CAST(SUM(n_transitions) AS BIGINT) AS total FROM grid
            )
            SELECT prev_type, next_type, n_transitions,
                   ROUND(CAST(n_transitions AS DOUBLE) / total, 6) AS share
            FROM grid CROSS JOIN tot
        """,
        "agg_zscore_outliers": """
            WITH c AS (
              SELECT event_id, event_type, value,
                     CAST(ROUND(value * 100) AS BIGINT) AS cents
              FROM events
            ), m AS (
              SELECT event_type, COUNT(*) AS n,
                     CAST(SUM(cents) AS BIGINT) AS s1,
                     CAST(SUM(cents * cents) AS BIGINT) AS s2
              FROM c GROUP BY event_type
            ), z AS (
              SELECT event_id, c.event_type, value,
                     ROUND(
                       (CAST(cents AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
                       / sqrt((CAST(s2 AS DOUBLE)
                               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                              / (n - 1)), 4) AS z_score
              FROM c JOIN m ON c.event_type = m.event_type
            )
            SELECT event_id, event_type, ROUND(value, 2) AS value, z_score
            FROM z WHERE ABS(z_score) > 3.0
        """,
        "text_word_entropy": r"""
            WITH tokd AS (
              SELECT doc_id,
                     string_split_regex(lower(text), '\s+') AS toks
              FROM documents
            ), tf AS (
              SELECT doc_id, MAX(n) AS n, term, COUNT(*) AS tf
              FROM (SELECT doc_id, len(toks) AS n, unnest(toks) AS term
                    FROM tokd)
              GROUP BY doc_id, term
            ), w AS (
              SELECT doc_id, n,
                     CAST(ROUND(-(CAST(tf AS DOUBLE) / n)
                           * ROUND(ln(CAST(tf AS DOUBLE) / n), 6)
                           * 1e9) AS BIGINT) AS w_fp
              FROM tf
            )
            SELECT doc_id, MAX(n) AS n_tokens,
                   COUNT(*) AS n_distinct_tokens,
                   ROUND(CAST(SUM(w_fp) AS DOUBLE) / 1e9, 6) AS entropy
            FROM w GROUP BY doc_id
        """,
        "agg_mode_per_group": """
            WITH counts AS (
              SELECT user_id, event_type, COUNT(*) AS n_events
              FROM events GROUP BY 1, 2
            ), ranked AS (
              SELECT *,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                         ORDER BY n_events DESC, event_type) AS rn,
                     SUM(n_events) OVER (PARTITION BY user_id)
                       AS total_events
              FROM counts
            )
            SELECT user_id, event_type AS mode_event, n_events,
                   CAST(total_events AS BIGINT) AS total_events,
                   ROUND(CAST(n_events AS DOUBLE) / total_events, 4)
                     AS mode_share
            FROM ranked WHERE rn = 1
        """,
        "agg_equi_depth_histogram": """
            WITH bounds AS (
              SELECT quantile_cont(o_totalprice,
                  [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS bs
              FROM orders
            )
            SELECT CAST(len(list_filter(bs, b -> o_totalprice > b))
                        AS INTEGER) AS bucket,
                   COUNT(*) AS n_orders,
                   ROUND(MIN(o_totalprice), 2) AS lo,
                   ROUND(MAX(o_totalprice), 2) AS hi
            FROM orders CROSS JOIN bounds
            GROUP BY 1
        """,
        "stream_sliding_count": """
            WITH e AS (
              SELECT event_type,
                     epoch_us(ts) // 1000000 AS t,
                     CAST(ROUND(value*100) AS BIGINT) AS cents
              FROM events
            ), exploded AS (
              SELECT event_type, cents,
                     (t // 900) * 900 - unnest(range(0, 4)) * 900
                       AS start_s
              FROM e
              -- every event belongs to exactly the 4 slide-aligned
              -- windows starting within the hour before it
            )
            SELECT make_timestamp(start_s * 1000000) AS window_start,
                   event_type,
                   COUNT(*) AS n_events,
                   ROUND(CAST(SUM(cents) AS DOUBLE) / 100.0, 2)
                     AS total_value
            FROM exploded
            WHERE start_s >= 0
            GROUP BY start_s, event_type
        """,
        "stream_interval_join": """
            SELECT a.user_id, a.event_id AS click_id,
                   b.event_id AS purchase_id,
                   (epoch_us(b.ts) - epoch_us(a.ts)) // 1000000 AS lag_s
            FROM events a JOIN events b
              ON a.user_id = b.user_id
             AND a.event_type = 'click' AND b.event_type = 'purchase'
             AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
        """,
        "embedding_quantize_int8": """
            WITH vecd AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings
            ), scaled AS (
              SELECT vec_id, v,
                     GREATEST(list_max(list_transform(v, x -> ABS(x))),
                              1e-30) / 127.0 AS scale
              FROM vecd
            )
            SELECT vec_id,
                   CAST(len(v) AS INTEGER) AS n_dims,
                   ROUND(scale, 9) AS scale_r9,
                   CAST(list_sum(list_transform(v,
                        x -> CAST(ROUND(x/scale) AS BIGINT))) AS BIGINT)
                     AS q_sum,
                   CAST(list_sum(list_transform(v,
                        x -> CAST(ROUND((x - ROUND(x/scale)*scale)
                                      * (x - ROUND(x/scale)*scale)
                                      * 1e12) AS BIGINT))) AS BIGINT)
                     AS err_fp
            FROM scaled
        """,
        "window_topk_per_group": """
            SELECT c_mktsegment, c_custkey, c_acctbal, rk FROM (
                SELECT c_mktsegment, c_custkey, c_acctbal,
                       ROW_NUMBER() OVER (
                           PARTITION BY c_mktsegment
                           ORDER BY c_acctbal DESC, c_custkey ASC
                       ) AS rk
                FROM customer
            ) t WHERE rk <= 5
        """,
        "window_running_sum": """
            SELECT user_id, event_id,
                   ROUND(SUM(value) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ), 2) AS running_value
            FROM events
        """,
        "window_lag_delta": """
            SELECT user_id, event_id,
                   ROUND(value - LAG(value, 1) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ), 2) AS value_delta
            FROM events
        """,
        "window_sliding_avg": """
            SELECT user_id, event_id,
                   ROUND((SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w
                              ::DOUBLE
                          / COUNT(*) OVER w) / 100.0, 4) AS sliding_avg
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        """,
        "order_by": """
            SELECT o_orderkey, o_totalprice, o_orderpriority
            FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC
        """,
        "order_limit_topk": """
            SELECT o_orderkey, o_totalprice
            FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
        """,
        "limit_offset_page": """
            SELECT o_orderkey, o_custkey, o_totalprice
            FROM orders ORDER BY o_orderkey LIMIT 10 OFFSET 20
        """,
        "union_incremental_snapshots": """
            SELECT event_id, user_id, event_type FROM events WHERE event_id < 500
            UNION ALL
            SELECT event_id, user_id, event_type FROM events WHERE event_id >= 500
        """,
        "intersect_except": """
            SELECT o_custkey AS retained_custkey
            FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
            INTERSECT
            SELECT o_custkey
            FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        """,
        "hex_decode_utf8": """
            SELECT doc_id,
                   CASE WHEN regexp_matches(hexdata, '^([0-9a-fA-F]{2})+$')
                        THEN decode(from_hex(hexdata))
                        ELSE NULL END AS decoded_data
            FROM (
                SELECT doc_id, hex(encode(substring(text, 1, 24))) AS hexdata
                FROM documents
            ) t
        """,
        "unixtime_to_iso": """
            SELECT event_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
                   strftime(date_trunc('second', ts), '%Y-%m-%dT%H:%M:%S') AS iso_ts
            FROM events
        """,
        "tz_normalize": """
            SELECT event_id,
                   strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS utc_ts,
                   CAST(CAST(ts AS DATE) AS VARCHAR) AS utc_date
            FROM events
        """,
        "round_decimals": """
            SELECT o_orderpriority,
                   ROUND(AVG(o_totalprice), 2) AS avg_price_2dp,
                   ROUND(SUM(o_totalprice), 0) AS total_price_0dp
            FROM orders GROUP BY o_orderpriority
        """,
        "regexp_redact": """
            SELECT doc_id,
                   regexp_replace(substring(text, 1, 60), '[0-9]+', '<NUM>', 'g')
                       AS redacted
            FROM documents
        """,
        "string_chunk": """
            SELECT doc_id, chunk_idx,
                   substring(text, chunk_idx * 100 + 1, 100) AS chunk
            FROM (
                SELECT doc_id, text,
                       unnest(range(0, CAST(floor((length(text) - 1) / 100) AS BIGINT) + 1))
                           AS chunk_idx
                FROM documents
            ) t
        """,
        "concat_report_rows": """
            SELECT event_type,
                   string_agg(line, chr(10) ORDER BY line) AS report
            FROM (
                SELECT event_type,
                       concat_ws(' | ', CAST(event_id AS VARCHAR),
                                 CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR),
                                 event_type) AS line
                FROM events
            ) t
            GROUP BY event_type
        """,
        "sanitize_name": """
            SELECT DISTINCT p_partkey,
                   replace(replace(replace(p_type, '.', '_'), ' ', '_'), '/', '_')
                       AS sanitized_type
            FROM part
        """,
        "json_extract_props": """
            SELECT event_id,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
            FROM events
        """,
        "source_json_records": """
            SELECT event_id,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events
        """,
        "fanout_fetch": """
            SELECT DISTINCT o_orderkey AS req_id,
                   md5(CAST(o_orderkey AS VARCHAR)) AS txid,
                   (o_orderkey % 997) / 100.0 AS fee,
                   CAST(1 AS BIGINT) AS attempts
            FROM orders WHERE o_orderkey <= 200
        """,
        "append_with_audit_col": """
            SELECT event_id, user_id, value,
                   TIMESTAMP '2026-01-01 00:00:00' AS insert_dt
            FROM events WHERE event_type = 'error'
        """,
        "sink_csv": """
            SELECT n_nationkey, n_name, n_regionkey FROM nation
        """,
        "result_text_format": """
            SELECT o_orderpriority,
                   concat_ws(' | ', o_orderpriority,
                             CAST(CAST(avg_price AS DECIMAL(18,2)) AS VARCHAR))
                       AS line
            FROM (SELECT o_orderpriority, AVG(o_totalprice) AS avg_price
                  FROM orders GROUP BY o_orderpriority) t
        """,
        "multi_statement_exec": """
            SELECT o_orderstatus,
                   COUNT(*) AS n_orders,
                   ROUND(SUM(o_totalprice), 2) AS total_price
            FROM orders WHERE o_orderstatus = 'F'
            GROUP BY o_orderstatus
        """,
        "incremental_delta_filter": """
            SELECT event_id, user_id, event_type, value
            FROM events
            WHERE event_id > (SELECT COALESCE(MAX(event_id), 0)
                              FROM events WHERE event_id < 500)
        """,
        "stream_tumbling_count": """
            SELECT date_trunc('hour', ts) AS window_start,
                   event_type,
                   COUNT(*) AS n_events,
                   ROUND(SUM(value), 2) AS total_value
            FROM events
            GROUP BY 1, 2
        """,
        "scd2_snapshot": """
            WITH ordered AS (
                SELECT user_id, event_id, ts, value,
                       LAG(value) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS prev
                FROM events
            ),
            changes AS (
                SELECT user_id, event_id, ts, value FROM ordered
                WHERE prev IS NULL OR value <> prev
            ),
            versions AS (
                SELECT user_id, value, ts AS valid_from,
                       LEAD(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS valid_to
                FROM changes
            )
            SELECT user_id, value, valid_from, valid_to,
                   valid_to IS NULL AS is_current
            FROM versions
        """,
        "stream_dedup": """
            SELECT user_id, event_type, value,
                   MIN(ts) AS first_ts,
                   COUNT(*) AS n_dups
            FROM events
            GROUP BY user_id, event_type, value
        """,
        "stream_session_agg": """
            WITH flagged AS (
                SELECT user_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS new_s
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            sess AS (
                SELECT user_id, ts, value,
                       SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS UNBOUNDED PRECEDING) AS sid
                FROM flagged
            )
            SELECT user_id,
                   MIN(ts) AS session_start,
                   MAX(ts) + INTERVAL 30 MINUTE AS session_end,
                   COUNT(*) AS n_events,
                   ROUND(SUM(value), 2) AS total_value
            FROM sess GROUP BY user_id, sid
        """,
        **EXT_ORACLES,
        **{name: compile_request(req).sql for name, req in METRIC_REQUESTS.items()},
        "metric_compiled_dim_sweep": compile_dimension_sweep("revenue").sql,
    }
