"""Physical-plan regression locks: the scale contracts EXPLAINS.md
documents, asserted so a refactor that silently flips a broadcast to
a sort-merge join, drops a parquet pushdown, or adds an extra
exchange fails CI instead of surfacing as a 100×-scale incident."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tools.explain_audit import audit


def _plan(spark, name: str, sf_dir: str) -> str:
    df = entrymod.queries()[name](spark, sf_dir)
    df.collect()  # finalize AQE so the audited plan is the real one
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )


class TestStarJoinContracts:
    @pytest.mark.parametrize(
        "name",
        ["join_fact_dim", "join_star_3way", "metric_compiled_star"],
    )
    def test_dimension_joins_broadcast(self, spark, sf_dir, name):
        a = audit(_plan(spark, name, sf_dir))
        assert a["sort_merge_join"] == 0, f"{name} regressed to SMJ"
        assert a["broadcast_hash_join"] >= 1

    def test_time_filter_pushes_into_scan(self, spark, sf_dir):
        a = audit(_plan(spark, "filter_time_range", sf_dir))
        assert a["pushed_filters"] >= 1, "range filter left the scan"


class TestShuffleBudgets:
    """Each operator's exchange count is its algorithmic minimum —
    an extra exchange is a full network pass over the fact table at
    cluster scale."""

    BUDGETS = {
        "metric_groupby_agg": 1,  # one hash-agg exchange
        "events_user_path": 2,  # user_id window + path rollup
        "agg_correlation": 1,  # one moment-fold exchange
        "embedding_quantize_int8": 1,  # parallelize repartition only
        "embedding_pq_encode": 1,  # parallelize repartition only
        "embedding_pq_encode_trained": 1,  # encode plan: repartition only
        "sample_train_test_split": 0,  # pure narrow map
        "dedup_exact": 1,  # md5-keyed groupBy
        "table_profile": 1,  # one Expand aggregation exchange
        "metric_compiled_growth": 2,  # hash agg + window over aggregate
        # r15: the trained-ADC ranked shortlist is session-shared
        # (built+checkpointed at query-construction time), so the
        # plan is ONE refine window over the checkpointed shortlist
        "similarity_pq_rerank_topk": 1,
        "text_pii_scan": 0,  # pure narrow map: regex scan + redact
        "corpus_quality_filter": 0,  # pure narrow map: rule verdict
        # parallelize repartition + hourly hash-agg + type window
        # (the window runs over the AGGREGATE, never raw events)
        "events_anomaly_rolling": 3,
        # checkpointed distinct pass feeds dau + two rolling branches
        # (one raw-event scan total); each branch: explode hash-agg +
        # count-distinct, day joins all broadcast
        "events_dau_wau_mau": 6,
        # parallelize repartition + gram hash-agg; the top-k cut is
        # TakeOrderedAndProject (no global-sort exchange)
        "text_ngram_topk": 2,
        # one source-count hash-agg; rates broadcast back, corpus
        # streams once through a broadcast join + filter
        "sample_source_temperature": 2,
        # full-outer snapshot zipper: one exchange per side (SMJ is
        # the CORRECT plan — full outer cannot broadcast large-large)
        "table_diff": 2,
        # distinct-(group,price) hash-agg + group window; the final
        # per-group agg reuses the window's partitioning
        "agg_weighted_percentile": 2,
        # one user_id exchange shared by the lag window and the
        # per-user aggregate
        "events_inter_arrival": 1,
        # bloom probe inlines in the scan; verify join broadcasts;
        # the only exchange is the final priority hash-agg
        "join_bloom_prefilter": 1,
        # one map-side-combined moment-fold exchange
        "agg_skewness_kurtosis": 1,
        # batch-max hash-agg + final hour hash-agg; the prior-max
        # window sorts the |batches|-row aggregate, watermark
        # broadcasts back
        "stream_late_data_metrics": 3,
        # audited plan is post-checkpoint: the mutual self-join must
        # stay broadcast over the materialized N·K edge list
        "similarity_knn_graph": 1,
        # one (event_type, hour) exchange shared by the row-number
        # window and the OHLC aggregate (same keys -> reused)
        "ts_resample_ohlc": 1,
        # AQE broadcasts orders at fixture scale; the band rollup is
        # the one exchange (at 100 TB the join adds its two
        # orderkey exchanges -- the correct large-large plan)
        "agg_ship_delay_bands": 1,
        # 5 broadcast dims + the final nation hash-agg exchange
        "join_star_local_volume": 1,
        # grid hash-agg + exact-count hash-agg; grid probe broadcast
        "agg_heavy_hitters_cms": 2,
        # pure TakeOrderedAndProject: local top-k, k-row driver merge
        "sample_fixed_size_hash": 0,
        # two-level distinct agg: (canon,raw) partial + canon final
        "text_normalize_dedup": 2,
        # audited post-checkpoint (per-iteration lineage is cut);
        # the final cut is TakeOrderedAndProject over |nodes| rows
        "graph_pagerank_topk": 0,
        # tf hash-agg + the 200-row global ranking window
        "text_zipf_slope": 2,
        # parallelize repartition + (lang,source) agg + lang window
        # (the per-lang total is a window over the aggregate, and the
        # final fold reuses its partitioning — no join-back)
        "corpus_mix_entropy": 3,
        # funnel pipeline: base/conv scans join on the entity key
        # (broadcast at fixture scale), distinct + grouped pass
        "metric_compiled_conversion": 2,
        # post-checkpoint: exact agg + type window (+reuse), merged
        # sketch distinct + its bounded 320-row global window + agg;
        # the BNLJ is the one-row all_exact broadcast (documented)
        "agg_kmv_distinct": 5,
        # Q8: one fact exchange, all six dims broadcast
        "agg_market_share": 1,
        # post-checkpoint: marginal agg + user-day set agg + pair agg
        "events_type_pmi": 3,
        # one user_id exchange shared by window + per-user min; the
        # final percentile fold is a one-row aggregate
        "events_time_to_convert": 1,
        # per-part revenue agg; ranking + folds over the catalog-
        # bounded slice add no exchange
        "agg_gini_revenue": 1,
        # unique-combination grouped count + scd2 user window; the
        # BNLJ is the two-one-row-counts cross join (fewer_rows_than)
        "dq_advanced_tests": 2,
        # per-order last-ship agg + daily net-change agg; the
        # cumulative window runs over the bounded day frame
        "orders_backlog_daily": 2,
        # --- round 5 ---
        # post-checkpoint like graph_pagerank_topk: the weighted
        # iterations are materialized; the final cut is
        # TakeOrderedAndProject over |nodes| rows
        "graph_pagerank_weighted": 0,
        # source-count hash-agg + broadcast-rate stream pass — same
        # plan as the alpha=0.5 sampler (sqrt chain is scan-side)
        "sample_source_temperature_alpha": 2,
        # one source exchange feeding the rank window
        "sample_fixed_size_per_group": 1,
        # composed index path: encode repartition + assignment/probe
        # r15: assignment/probes are narrow literal argmins through
        # a Generate (no cross-join, no windows) and the code table
        # is session-checkpointed — ADC local top-k agg + shortlist
        # + refine windows are all that remain
        "similarity_ivf_pq_topk": 3,
        # residual variant: same skeleton, code table checkpointed
        "similarity_ivf_pq_residual_topk": 3,
        # post-checkpoint (edges + oriented list + deg
        # materialized): sized apex repartition (its self-join twin
        # is a ReusedExchange) + sized (b,c) wedge repartition +
        # closing-edge side + per-corner triangle hash-agg — the
        # shuffle-hash joins never broadcast the graph-scaled
        # oriented list (OOM'd at the 10x scaling check)
        "graph_triangle_count": 4,
        # parallelize repartition + daily hash-agg + per-type series
        # collect; the recurrence folds in-row (no further exchange)
        "ts_ewma_smooth": 3,
        # post-checkpoint (transition grid materialized): node agg +
        # final join-back exchange; iterations broadcast pi over the
        # grid, never re-shuffling it
        "events_markov_stationary": 2,
        # token explode + per-word join (broadcast) + per-doc agg:
        # word-dict build, doc agg, chars join-back — the corpus
        # streams once per side, merge application is vocab-bounded
        "text_bpe_tokenize": 3,
        # parallelize repartition + daily hash-agg + per-type series
        # collect (totals ride the same agg); fold is in-row
        "events_changepoint_cusum": 3,
        # post-checkpoint (the trend-windowed daily aggregate is
        # materialized once for its two consumers): the seasonal
        # index agg is the one exchange; the index joins back
        # broadcast
        "ts_seasonal_decompose": 1,
        # audited plan is the horizon-bounded createDataFrame result
        # (the corpus pass ran inside the bounded-model-state
        # collect); asserting 0 locks that no post-hoc shuffle crept
        # onto the bounded frame
        "events_survival_km": 0,
        # post-checkpoint (r14 in-row selection program): the
        # shortlist is materialized; the final plan packs it into
        # per-query arrays (two |Q|-bounded groupBy exchanges, the
        # second reused by the rank-1 branch) plus the pair-sim
        # broadcast build — every exchange is |Q|·SHORTLIST-bounded,
        # never corpus-sized; the K-1 selection rounds are one
        # in-row fold, zero exchanges
        "similarity_mmr_topk": 3,
        # checkpointed scored pass fans into: negative local-topk
        # (groupBy + rank window = 2) + best-positive agg + the
        # qlabel distinct; label attach joins broadcast
        "similarity_hard_negatives": 4,
        # pure narrow map + the parallelize repartition
        "text_readability": 1,
        # the EWMA/CUSUM series shape: repartition + daily agg +
        # per-type collect; two-state fold is in-row
        "ts_holt_linear": 3,
        # post-checkpoint (edges + deg materialized): the bounded
        # query side broadcasts into the wedge and adjacency joins
        # (the full edge list never shuffles), leaving only the
        # (u,v) pair hash-agg + the per-query rank window
        "graph_link_prediction": 2,
        # repartition + user-id window + (cohort, age) grid agg +
        # cohort window over the bounded grid
        "events_cohort_ltv": 4,
        # two corpus passes by design (per-dim mean, assign) +
        # vec_id argmax window + bounded dim/grid/collect aggs; the
        # BNLJ is the broadcast-centroid cross (model state)
        "embedding_centroid_eval": 7,
        # one histogram hash-agg; the BNLJ is the one-row midpoint
        # bounds broadcast; grid windows are single-partition over
        # <= PSI_BINS rows (bounded, by construction)
        "dq_distribution_drift": 1,
        # two corpus passes by design (bigram stream checkpoint +
        # unigram LM pass) + vocab-grid aggs/window + the (prev,cur)
        # scoring join + per-doc agg + the doc-spine right join
        "text_perplexity_bigram": 8,
        # audited plan is post-peel (each round's shrinking edge set
        # is persist()ed, partitioning-preserving): the src-bucketed
        # core makes the degree agg exchange-free — only the ordered
        # output's range exchange remains
        "graph_kcore": 1,
        # post-checkpoint (the centered daily grid is materialized
        # once for its three consumers): energy agg + the lag-join
        # side + pair agg — all riding the calendar-bounded grid;
        # the corpus-sized exchange (daily rollup) happened at the
        # checkpoint
        "ts_autocorrelation": 3,
        # one map-side-combined digit hash-agg; the total rides a
        # single-partition window over the 9-row digit grid
        "dq_benford_digits": 1,
        # decorrelated Q17 plan: per-part avg agg + brand agg + the
        # ordered output's range exchange; both joins broadcast and
        # all three parquet scans carry pushed filters
        "agg_small_qty_revenue": 3,
        # one brand exchange shared by both RANGE-frame windows +
        # the ordered output — never the O(n^2) dominance self-join
        "agg_skyline_per_brand": 2,
        # parallelize repartition + (type,dow,hour) hash-agg + the
        # <=168-cell per-type grid window + ordered output
        "events_seasonality_profile": 4,
        # audited plan is post-BFS (each round's labeled set is
        # checkpointed): the ordered output's range exchange only
        "graph_bfs_layers": 1,
        # rewritten-subquery Q21 plan: the probe stream's orderkey
        # exchange feeds the semi+anti sides (broadcast at fixture
        # scale, shuffle-hash at cluster scale) + the distinct-order
        # agg + ordered output
        "supplier_sole_late": 3,
        # segment agg + ordered output; the scalar thresholds are
        # one-row bounds subqueries and the NOT EXISTS is a single
        # anti join on o_custkey
        "customer_idle_balance": 2,
        # (nation, supplier) revenue agg + the supplier-catalog-
        # bounded concentration fold + ordered output
        "agg_hhi_concentration": 3,
        # parallelize repartition + ONE user-grain exchange
        # (collect_set dedups in-buffer; no separate distinct pass)
        # + ordered output; the streak fold is in-row
        "events_user_streaks": 3,
        # post-checkpoint (daily grid materialized once for its
        # three consumers): lag join + horizon attach broadcast on
        # the calendar-bounded grid; per-type agg + ordered output
        "ts_forecast_snaive": 3,
        # bucketed edge artifact: the src degree agg is exchange-free,
        # the degree-grid fold is the one exchange (single final
        # agg); no ordered output (one row)
        "graph_degree_powerlaw": 1,
        # decorrelated Q2 plan: (part, supp) unit-price agg + the
        # per-part MIN agg joined back + ordered output; part and
        # supplier attach broadcast
        "part_cheapest_supplier": 4,
        # rewritten-EXISTS Q4 plan: the semi side's orderkey
        # exchange + priority agg (ordered output rides the agg)
        "orders_priority_exists": 2,
        # Q11 plan: ONE (brand, type) hash-agg reused by the scalar
        # total subquery (exchange reuse — no second corpus pass)
        "part_revenue_important": 1,
        # Q15 plan: supplier revenue agg (reused by the scalar MAX)
        # + ordered output; supplier attach broadcast
        "supplier_top_revenue": 2,
        # Q16 plan: anti join prunes BEFORE the two-level distinct
        # aggregate (partial + final) + ordered output
        "part_supplier_variety": 3,
        # warm plan over the source_term_counts artifact: term
        # self-join sides + the S²-grid pair agg; totals broadcast
        "corpus_js_divergence": 3,
        # the decompose plan (one daily exchange + grid windows) +
        # the per-type strength fold + ordered output
        "ts_stl_strength": 3,
        # Q7 plan: the lineitem⋈orders orderkey exchange pair is
        # AQE-broadcast at fixture scale (counts as 0 exchanges
        # there); nation²×year grid agg + ordered output
        "nations_trade_volume": 3,
        # Q14 plan: ONE lineitem pass (CASE inside the aggregate),
        # month-grid agg + ordered output
        "promo_revenue_share": 2,
        # Q19 plan: single scan + broadcast part attach + 1-row
        # scalar fold — no exchange at all beyond the final gather
        "lineitem_disjunctive_scan": 1,
        # Q3 plan: segment + cutoff broadcast attaches on the pruned
        # scans, ONE (orderkey, orderdate) agg exchange; the top-10
        # is TakeOrderedAndProject (no full sort exchange)
        "orders_shipping_priority": 1,
        # Q6 plan: fully-pushed single scan + 1-row scalar fold —
        # zero exchanges
        "revenue_change_forecast": 0,
        # Q9 plan: part/supplier/nation broadcast, ONE lineitem ⋈
        # orders orderkey exchange pair is AQE-broadcast at fixture
        # scale; (nation, year) grid agg + ordered output
        "nation_year_profit": 2,
        # Q10 plan: quarter-pruned orders broadcast-attaches at
        # fixture scale; ONE o_custkey agg exchange; dims broadcast;
        # top-20 is TakeOrderedAndProject
        "returned_item_customers": 1,
        # Q12 plan: orderkey join exchange rides AQE-broadcast at
        # fixture scale; year-grid agg + its partial = 2
        "late_priority_by_year": 2,
        # Q13 plan: custkey exchange for the zero-preserving left
        # join + per-customer count + the bounded k-grid second agg
        "customer_order_distribution": 3,
        # Q18 plan: HAVING-side orderkey agg, the semi-joined outer
        # order-grain agg, ordered output — the two aggs have
        # different keys, so 3 is the written-form minimum
        "orders_large_quantity": 3,
        # Q20 plan: two pq agg passes (they differ by the pushed
        # part filter), the per-part total agg, the supplier count
        # agg + ordered output
        "supplier_dominant_parts": 5,
        # span explode stays narrow; hash-grid stats agg + the
        # same-key attach + per-doc fold + ordered output — never a
        # pairwise doc comparison
        "dedup_substring_spans": 4,
        # one hash-grid agg (partial + final); top-k rides
        # TakeOrderedAndProject, no sort exchange
        "dedup_top_spans": 2,
        # 2 blocking passes × 2 block-guard count aggs (a and b
        # sides each re-guard) + distinct + ordered output; the
        # in-block self-joins are bk-keyed (broadcast locally, SHJ
        # at scale) — never a cross join
        "customer_entity_match": 6,
        # audited tail past the per-round label checkpoints: size agg
        # + ordered output (sizes attach broadcast); each LPA round
        # itself is now exchange-FREE on the bucketed edges —
        # broadcast label join, src-keyed vote agg and mode window
        # ride the bucket partitioning
        "graph_community_lpa": 2,
        # audited tail past the spine checkpoint: the day-keyed lag
        # align + (pair, lag) moment fold + ordered output, plus the
        # AQE rebalance pair the daily-rollup checkpoint introduced —
        # accepted: checkpointing `daily` cut the events scans 3 → 1
        # (the corpus-sized cost), and every added exchange moves
        # only the calendar-bounded days × types grid
        "ts_cross_correlation": 4,
        # posexplode is narrow over the scan; one dim-keyed moment
        # fold + ordered 64-row output
        "embedding_dim_stats": 2,
        # audited tail past the Gram-fold checkpoint: the per-dim
        # moment agg + the 2080-row pos agg; every join broadcasts
        # (d- or d²-bounded), top-k rides TakeOrderedAndProject
        "embedding_dim_corr_topk": 2,
        # audited tail past the daily-rollup checkpoint (one corpus
        # exchange + scan): bounded-frame median window + ordered out
        "ts_rolling_median": 2,
        # bucketed edge artifact: src degree agg exchange-free, degree
        # table broadcasts to both edge ends, single-row moment fold
        # aggregates in place — zero exchanges
        "graph_assortativity": 0,
        # in-row norm fold (no explode): one label-keyed moment
        # exchange + ordered ≤|labels|-row output
        "embedding_norm_stats": 2,
        # stratum moment fold + single-row total + the per-stratum
        # rank window (the one corpus-sized exchange) + ordered out
        "sample_neyman_allocation": 4,
        # audited tail past the daily-rollup checkpoint: bounded
        # 7-row frame-list window + ordered out; the Hampel test is
        # in-row integer math (no extra exchange over med/mad)
        "ts_hampel_outliers": 2,
        # audited tail past the basket checkpoint: pair-support agg
        # (in-row expansion) + item supports broadcast twice; top-k
        # rides TakeOrderedAndProject
        "market_basket_lift": 2,
        # audited tail = the 16-row driver-built spectrum sort; the
        # distributed covariance fold (one (dim_a,dim_b) exchange to
        # d(d+1)/2 rows) is consumed into bounded model state like
        # the k-means/BPE training collects
        "embedding_pca_topvar": 1,
        # --- round 7 ---
        # audited tail past the pair-set checkpoint: tau-grid pair
        # agg + doc-explode distinct agg (2 exchanges each for the
        # partial/final distinct) — all over pair-OUTPUT volume
        "dedup_threshold_curve": 4,
        # two Arrow map stages + the ordered output only
        # parallelize repartition (single-row-group fixture parquet
        # would serialize the python codec chain, round 8) + the
        # ordered output exchange
        "multimodal_codec_stats": 2,
        # fact cents agg + the final one-row fold's partial exchange
        "agg_theil_index": 2,
        # warm plan over the doc_shingles artifact: gram
        # first-occurrence window + doc agg + ordered output
        "text_ngram_novelty": 4,
        # (1+3 dims) × local-topk reduction (|Q|·parts·k rows) +
        # rank windows + the final ordered union — every exchange is
        # |Q|-bounded, never corpus-sized
        "embedding_matryoshka_eval": 11,
        # fingerprint window + span-profile join side + the 3-row
        # funnel spine folds; cluster verdicts broadcast
        "dedup_cascade_attrition": 5,
        # percentile-bound agg + the clipped aggregate + ordered
        # out; bounds broadcast back
        "agg_winsorized_mean": 3,
        # audited tail past the decomposition (calendar-bounded):
        # residual median/MAD aggs + flag pass + ordered out
        "ts_seasonal_anomaly": 5,
        # pure TakeOrderedAndProject over the narrow key map
        "sample_weighted_reservoir": 0,
        # audited tail past the candidate checkpoint: distinct agg
        # feeding the broadcast verify; probe/index sides exchanged
        # pre-checkpoint (parallelize repartition + (t,bucket) join)
        "dedup_incremental_cosine": 4,
        # composed over the correlogram's audited tail + the lag
        # fold, the per-type observed-days corpus agg (ADVICE r7 —
        # n counted once from the daily grid, broadcast back), and
        # ordered output
        "ts_ljung_box": 7,
        # audited tail past the (source, gram) distinct checkpoint:
        # gram self-join + S²-grid fold + ordered out; sizes/overlap
        # broadcast onto the grid
        "text_jaccard_source_similarity": 4,
        # the union-and-scan as-of plan unchanged: one user_id key
        # exchange; the freshness test is a narrow post-fill map
        "join_asof_tolerance": 1,
        # audited tail past the degree checkpoint: per-corner credit
        # agg + the sized wedge/closing exchanges + one-row folds
        "graph_transitivity": 7,
        # one user hash-agg + the one-row conditional fold
        "events_ab_test": 2,
        # one (user,type) agg; the per-user fold shares its exchange;
        # ordered out
        "events_user_entropy": 2,
        # audited tail past the sampled-edge checkpoint: sampled
        # degree agg + the sized wedge/closing exchanges; full-graph
        # degree agg is exchange-free on the bucketed artifact and
        # the one-row count attaches are broadcast NLJs
        "graph_transitivity_sampled": 3,
        # dense arm (parallelize repartition + local-topk + rank
        # window) + the BM25 arm's matching-token aggs and the
        # TakeOrdered cut + the |Q|·pool-bounded fusion agg + fused
        # rank window — every exchange past the two scans is
        # shortlist-bounded
        "similarity_hybrid_rrf": 11,
        # audited tail past the band checkpoint: band-bucket groupBy
        # + candidate-pair groupBy; the two verify band joins
        # broadcast at fixture scale (O(pairs) exchanges at cluster
        # scale — still bucket-bounded, never corpus²)
        "dedup_phash": 2,
        # final frame is the one-row driver-materialized gate; the
        # corpus-sized moment folds run upstream in the collect()
        # (the single dim-keyed dim_stats exchange + the Arrow Gram
        # fold), same contract as embedding_pca_topvar
        "embedding_pca_invariants": 0,
        # audited tail past the label-propagation checkpoint: one
        # comp-keyed window exchange (the dedup_clusters shape)
        "dedup_phash_clusters": 1,
        # rides the two shortlist plans (their exchanges, incl. the
        # IVF assign/probe passes); the intersection, per-query
        # fold, and spine join are |Q|-bounded broadcasts
        # (r15: assign/probe windows gone — see the ivf_pq budgets)
        "similarity_ivf_recall_eval": 7,
        # same recall fold over the LSH / residual-IVF-PQ shortlist
        # plans — every added exchange is |Q|-bounded
        "similarity_lsh_recall_eval": 8,
        "similarity_ivfpq_recall_eval": 6,  # r15: see ivf_pq budgets
        # asymmetric probe of the persisted phash band index: ONE
        # (new_doc, corpus_doc) candidate agg exchange; the delta
        # band frame and index attach broadcast at fixture scale
        "dedup_incremental_phash": 1,
        # the Q90 recall fold over the trained-ADC + exact-refine
        # shortlist — every added exchange is |Q|-bounded
        "similarity_rerank_recall_eval": 7,
        # exact-fp window exchange + the source hash-agg + the
        # bounded source sort; cluster verdicts attach broadcast
        "corpus_dedup_rate_by_source": 3,
        # pure broadcast probe of the persisted block index: delta
        # keys and verify arrays broadcast, ZERO exchanges
        "dedup_incremental_ngram": 0,
        # quotient-graph merge tail (base CC and band legs are
        # checkpointed out of the final plan): endpoint distinct,
        # quotient-edge distinct, relabel union legs, and the
        # cluster_size window — each delta- or labels-sized, never
        # a corpus pair-graph exchange
        "dedup_incremental_clusters": 5,  # r15: driver-CC fast path
    }

    @pytest.mark.parametrize("name,budget", sorted(BUDGETS.items()))
    def test_shuffle_count_at_minimum(self, spark, sf_dir, name, budget):
        a = audit(_plan(spark, name, sf_dir))
        assert a["shuffles"] <= budget, (
            f"{name}: {a['shuffles']} exchanges (budget {budget}) — "
            f"a new shuffle crept into the plan"
        )

    def test_no_cartesian_anywhere_in_headline_star(self, spark, sf_dir):
        for name in ("join_star_3way", "metric_compiled_star"):
            plan = _plan(spark, name, sf_dir)
            assert "CartesianProduct" not in plan


class TestJobBudgets:
    """Spark jobs per operation. Like exchange counts, job counts do
    not drift with load, and each job pays the scheduling floor no
    matter how small its data — so CI locks them."""

    # a steady embeddings ingest batch (base artifacts warm) at fixture
    # scale, measured 14: the batch keyed, assigned its IVF cells and
    # pinned (3: the corpus-id broadcast of the anti-join, the
    # dropDuplicates shuffle, the pin); one aggregate for its row,
    # convention and per-cell counts (2); both probe legs in one
    # action (6: the probe-key broadcast, the candidates' distinct, the
    # candidate and batch-vector broadcasts, the leg count's shuffle
    # and its collect); the append (1); two Spark-written publishes
    # (2; the unchanged quantizer and occupancy reference are linked).
    # The standing count and the IVF state (centroid values, reference
    # and union per-cell counts) are carried from the previous batch,
    # and every schema the loop reads it already knows (the appended
    # corpus and each publish), so none of them runs a job.
    STEADY_EMBEDDINGS_BATCH_JOBS = 14
    # the founding batch of the same fixture, which also builds the
    # base index, the quantizer and the occupancy reference (measured
    # 41)
    FOUNDING_EMBEDDINGS_BATCH_JOBS = 46

    @staticmethod
    def _jobs(spark, group, fn):
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def test_warm_load_table_runs_no_job(self, spark, sf_dir):
        from dbt_eamples_spark.catalog import load_table

        load_table(spark, sf_dir, "lineitem")  # warm the schema memo
        jobs = self._jobs(
            spark, "warm_load_table",
            lambda: load_table(spark, sf_dir, "lineitem"),
        )
        assert jobs == 0, f"warm load_table ran {jobs} Spark jobs"

    def test_join_star_construction_runs_no_job(self, spark, sf_dir):
        build = entrymod.queries()["join_star_3way"]
        build(spark, sf_dir)  # warm the schema memo
        jobs = self._jobs(
            spark, "construct_join_star_3way", lambda: build(spark, sf_dir)
        )
        assert jobs == 0, f"constructing join_star_3way ran {jobs} Spark jobs"

    # construction of the curation benchmark's queries on a warm
    # session: dedup_minhash pins its candidate pairs (the band keys
    # are the session-held minhash_band_index_full); the vector
    # queries build from cached SQL-text kernels and run nothing
    WARM_CONSTRUCTION_JOBS = {
        "dedup_minhash": 3,
        "similarity_topk": 0,
        "embedding_norm_stats": 0,
        # the quantizer's values are the session-held IVF state (2
        # centroid collects per construction before)
        "similarity_ivf_delta_recall_eval": 0,
    }

    # py4j commands sent while constructing each curation query on a
    # warm session, at fixture scale (measured: 156 / 121 / 92 / 201 /
    # 462 / 128 / 265; graph_degree_powerlaw sent 763 while its
    # log-log fold was built from Column builders). Python's collector also sends py4j commands
    # ("m", release a JVM object) whenever it happens to run; those
    # are not counted.
    CONSTRUCTION_PY4J_CALLS = {
        "dedup_minhash": 170,
        "similarity_topk": 135,
        "embedding_norm_stats": 100,
        "text_token_stats": 220,
        "text_quality_score": 510,
        "graph_degree_powerlaw": 140,
        "multimodal_meta": 290,
        # the two LSH-probe queries; with_lsh_probes writes its aliases
        # into the SQL text (measured 270 / 775; 1,662 / 998 when it
        # aliased each plane-dot Column, and dedup_embedding_cosine
        # 1,219 while its key, pair and verify projections were Column
        # builders)
        "dedup_embedding_cosine": 300,
        "similarity_lsh_topk": 855,
    }

    # the same count for the metric benchmark's queries (measured: 5 /
    # 5 / 147 / 379 / 767 / 171 / 111)
    METRIC_CONSTRUCTION_PY4J_CALLS = {
        "metric_compiled_star": 6,
        "metric_compiled_dim_sweep": 6,
        "metric_rollup": 162,
        "revenue_change_forecast": 417,
        "lineitem_disjunctive_scan": 844,
        "join_star_3way": 188,
        "window_topk_per_group": 122,
    }

    @pytest.mark.parametrize("name", sorted(WARM_CONSTRUCTION_JOBS))
    def test_warm_curation_construction_jobs(self, spark, sf_dir, name):
        build = entrymod.queries()[name]
        build(spark, sf_dir).collect()  # warm schemas and session state
        jobs = self._jobs(
            spark, f"construct_{name}", lambda: build(spark, sf_dir)
        )
        budget = self.WARM_CONSTRUCTION_JOBS[name]
        assert jobs <= budget, (
            f"constructing {name} ran {jobs} Spark jobs (budget {budget})"
        )

    @pytest.mark.parametrize("name", sorted(CONSTRUCTION_PY4J_CALLS))
    def test_curation_construction_py4j_calls(self, spark, sf_dir, name):
        self._check_construction_py4j_calls(spark, sf_dir, name, self.CONSTRUCTION_PY4J_CALLS[name])

    @pytest.mark.parametrize("name", sorted(METRIC_CONSTRUCTION_PY4J_CALLS))
    def test_metric_construction_py4j_calls(self, spark, sf_dir, name):
        self._check_construction_py4j_calls(spark, sf_dir, name, self.METRIC_CONSTRUCTION_PY4J_CALLS[name])

    @staticmethod
    def _check_construction_py4j_calls(spark, sf_dir, name, budget):
        from pyspark import SparkContext

        build = entrymod.queries()[name]
        build(spark, sf_dir).collect()  # warm schemas and session state
        client = SparkContext._gateway._gateway_client
        send = client.send_command
        calls = 0

        def counted(command, *args, **kwargs):
            nonlocal calls
            if not command.startswith("m\n"):
                calls += 1
            return send(command, *args, **kwargs)

        client.send_command = counted
        try:
            build(spark, sf_dir)
        finally:
            del client.send_command
        assert calls <= budget, (
            f"constructing {name} sent {calls} py4j commands (budget {budget})"
        )

    def test_steady_embeddings_batch(self, embeddings_ingest_replay):
        jobs = embeddings_ingest_replay["jobs"][1]
        assert jobs <= self.STEADY_EMBEDDINGS_BATCH_JOBS, (
            f"steady embeddings batch ran {jobs} Spark jobs (budget "
            f"{self.STEADY_EMBEDDINGS_BATCH_JOBS})"
        )

    def test_steady_embedding_plan_runs_no_job(
        self, spark, embeddings_ingest_replay, monkeypatch
    ):
        """Planning every embedding artifact for a steady batch that
        neither resizes the index nor retrains the quantizer reads the
        pinned batch, the session-held IVF state and stored scans."""
        import os

        from dbt_eamples_spark import artifacts as A
        from dbt_eamples_spark.operators import dedup as D
        from dbt_eamples_spark.operators import similarity as S
        from dbt_eamples_spark.operators import vecsql
        from dbt_eamples_spark.streaming.ingest import (
            plan_embedding_artifact_deltas,
        )

        rep = embeddings_ingest_replay
        corpus_dir = rep["corpus_dir"]
        monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", rep["store"])
        base_n = D.standing_count(spark, corpus_dir)
        # a batch of new ids: the corpus's vec_id % 10 == 3 vectors
        batch = vecsql.select(
            spark.read.parquet(os.path.join(corpus_dir, "embeddings.parquet")),
            "vec_id + 100000 AS vec_id", "embedding",
            f"{vecsql.as_double_sql('embedding')} AS vec",
        ).where("vec_id % 10 = 3")
        keyed = D.cosine_delta_keys(batch, S.lsh_planes(base_n)).select(
            "*", S.ivf_cell(S.ivf_state(spark, corpus_dir).cents)
        ).localCheckpoint(eager=True)
        n, n_excluded, counts = S.ivf_delta_counts(keyed)
        assert n > 0 and n_excluded == 0
        assert S.lsh_planes(base_n + n) == S.lsh_planes(base_n)
        out = {}
        events = len(A.SESSION_EVENTS)
        jobs = self._jobs(
            spark, "plan_steady_embeddings",
            lambda: out.update(plan=plan_embedding_artifact_deltas(
                spark, corpus_dir, keyed, base_n, counts
            )),
        )
        assert not out["plan"][1]["ivf_retrained"]
        assert ("ivf_state", "hit") in A.SESSION_EVENTS[events:]
        assert jobs == 0, f"planning a steady embeddings batch ran {jobs} Spark jobs"

    def test_founding_embeddings_batch(self, embeddings_ingest_replay):
        jobs = embeddings_ingest_replay["jobs"][0]
        assert jobs <= self.FOUNDING_EMBEDDINGS_BATCH_JOBS, (
            f"founding embeddings batch ran {jobs} Spark jobs (budget "
            f"{self.FOUNDING_EMBEDDINGS_BATCH_JOBS})"
        )
