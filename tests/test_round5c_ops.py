"""Round-5 third wave: hard-negative mining, readability scoring,
Holt linear-trend smoothing. Pure-python cross-checks + the
structural invariants (the test_round5b_ops pattern)."""

from __future__ import annotations

from collections import defaultdict

import duckdb

from dbt_eamples_spark.operators.behavior import (
    HOLT_SCALE,
    ts_holt_linear,
)
from dbt_eamples_spark.operators.similarity import (
    HARD_NEG_K,
    similarity_hard_negatives,
)
from dbt_eamples_spark.operators.text import text_readability


# ---- hard negatives ---------------------------------------------------------
def test_hard_negatives_invariants(spark, sf_dir):
    rows = similarity_hard_negatives(spark, sf_dir).collect()
    by_q = defaultdict(list)
    for r in rows:
        assert r.neighbor_label != r.qlabel  # negatives only
        by_q[r.query_id].append(r)
    assert by_q
    for picks in by_q.values():
        assert len(picks) == HARD_NEG_K
        picks.sort(key=lambda r: r.rk)
        cos = [r.cosine for r in picks]
        assert cos == sorted(cos, reverse=True)
        for r in picks:
            if r.best_pos_cosine is not None:
                # margin is exactly the rounded difference
                assert abs(
                    r.margin - round(r.best_pos_cosine - r.cosine, 6)
                ) < 2e-6


def test_hard_negatives_are_the_top_cross_label_cosines(spark, sf_dir):
    """The picked negatives must dominate every unpicked cross-label
    candidate — checked against the brute scorer's own output."""
    from dbt_eamples_spark.operators.similarity import N_QUERIES
    from dbt_eamples_spark.operators.vecsql import as_double, cosine
    from dbt_eamples_spark.catalog import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double("embedding").alias("vec")
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("vec").alias("qvec"),
    )
    all_scores = defaultdict(dict)
    for r in (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .filter(F.col("label") != F.col("qlabel"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine("qvec", "vec"), 6).alias("c"),
        )
        .collect()
    ):
        all_scores[r.query_id][r.neighbor_id] = r.c
    picks = defaultdict(set)
    for r in similarity_hard_negatives(spark, sf_dir).collect():
        picks[r.query_id].add((r.neighbor_id, r.cosine))
    for qid, chosen in picks.items():
        floor = min(c for _, c in chosen)
        chosen_ids = {n for n, _ in chosen}
        for nid, c in all_scores[qid].items():
            if nid not in chosen_ids:
                assert c <= floor


# ---- readability ------------------------------------------------------------
def test_readability_counts_match_pure_python(spark, sf_dir):
    import re

    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    want = {}
    for doc_id, text in docs:
        ns = max(1, len(re.findall(r"[.!?]+", text)))
        words = [
            t
            for t in re.split(r"\s+", text.lower())
            if t and re.search("[a-z]", t)
        ]
        sy = sum(
            max(1, len(re.findall("[aeiouy]+", w))) for w in words
        )
        want[doc_id] = (ns, len(words), sy)
    got = {
        r.doc_id: (r.n_sentences, r.n_words, r.n_syllables)
        for r in text_readability(spark, sf_dir).collect()
    }
    assert got == want


def test_readability_bands_are_sane(spark, sf_dir):
    rows = text_readability(spark, sf_dir).collect()
    scored = [r for r in rows if r.flesch_ease is not None]
    assert scored
    for r in scored:
        assert r.n_syllables >= r.n_words  # >= 1 syllable per word
        # synthetic prose lands in a plausible band, not at infinity
        assert -200 < r.flesch_ease <= 121.22  # theoretical max
        assert -16 < r.fk_grade < 60


# ---- Holt -------------------------------------------------------------------
def _holt_reference(sf_dir: str):
    con = duckdb.connect()
    daily = con.execute(
        "SELECT event_type, strftime(CAST(date_trunc('day', ts) AS DATE),"
        " '%Y-%m-%d') AS day, CAST(count(*) AS BIGINT) FROM "
        f"read_parquet('{sf_dir}/events.parquet') GROUP BY 1, 2 ORDER BY 1, 2"
    ).fetchall()
    state = {}
    out = {}
    for et, day, n in daily:
        if et not in state:
            l, b = n * HOLT_SCALE, 0
        else:
            pl, pb = state[et]
            l = (n * HOLT_SCALE + 3 * (pl + pb)) // 4  # python floors
            b = ((l - pl) + 3 * pb) // 4
        state[et] = (l, b)
        out[(et, day)] = (n, l, b)
    return out


def test_holt_matches_pure_python_bit_for_bit(spark, sf_dir):
    got = {
        (r.event_type, r.day): (r.n_events, r.level_fp, r.trend_fp)
        for r in ts_holt_linear(spark, sf_dir).collect()
    }
    assert got == _holt_reference(sf_dir)


def test_holt_tracks_a_ramp_where_ewma_lags(spark, sf_dir):
    """On any locally-trending stretch the forecast uses the trend
    state; structurally, forecast_next = level + trend exactly."""
    for r in ts_holt_linear(spark, sf_dir).collect():
        assert (
            abs(
                r.forecast_next
                - round((r.level_fp + r.trend_fp) / float(HOLT_SCALE), 6)
            )
            < 2e-6
        )


# ---- link prediction --------------------------------------------------------
def test_link_prediction_candidates_are_nonadjacent(spark, sf_dir):
    from pyspark.sql import functions as F

    from dbt_eamples_spark.operators.graph import (
        LINKPRED_PER_QUERY,
        LINKPRED_QUERY_MAX,
        _copurchase_edges,
        graph_link_prediction,
    )

    preds = graph_link_prediction(spark, sf_dir).collect()
    assert preds
    adj = {
        (r.src, r.dst) for r in _copurchase_edges(spark, sf_dir).collect()
    }
    from collections import defaultdict as dd

    by_q = dd(list)
    for r in preds:
        by_q[r.part_a].append(r)
        assert r.part_a <= LINKPRED_QUERY_MAX
        assert (r.part_a, r.part_b) not in adj  # predicted, not existing
        assert 1 <= r.n_common <= r.n_union
        assert 0 < r.jaccard <= 1.0
    for picks in by_q.values():
        assert len(picks) <= LINKPRED_PER_QUERY
        picks.sort(key=lambda r: r.rk)
        jac = [r.jaccard for r in picks]
        assert jac == sorted(jac, reverse=True)


def test_link_prediction_matches_brute_python(spark, sf_dir):
    from collections import defaultdict as dd

    from dbt_eamples_spark.operators.graph import (
        LINKPRED_QUERY_MAX,
        _copurchase_edges,
        graph_link_prediction,
    )

    adj = dd(set)
    for r in _copurchase_edges(spark, sf_dir).collect():
        adj[r.src].add(r.dst)
    got = {
        (r.part_a, r.part_b): (r.n_common, r.n_union)
        for r in graph_link_prediction(spark, sf_dir).collect()
    }
    for (u, v), (c, un) in got.items():
        assert u <= LINKPRED_QUERY_MAX and v not in adj[u]
        assert len(adj[u] & adj[v]) == c
        assert un == len(adj[u]) + len(adj[v]) - c


# ---- cohort LTV -------------------------------------------------------------
def test_cohort_ltv_accumulates_and_anchors(spark, sf_dir):
    from dbt_eamples_spark.operators.behavior import events_cohort_ltv

    rows = events_cohort_ltv(spark, sf_dir).collect()
    assert rows
    by_cohort = defaultdict(list)
    for r in rows:
        by_cohort[r.cohort_day].append(r)
    for series in by_cohort.values():
        series.sort(key=lambda r: r.age)
        assert series[0].age == 0  # every cohort starts at age 0
        run = 0
        size = series[0].n_active_users
        for r in series:
            run += r.revenue_cents
            assert r.cum_revenue_cents == run
            assert r.n_active_users <= size  # never exceeds the cohort
            assert (
                abs(
                    r.cum_ltv_per_user
                    - round(run / (100.0 * size), 6)
                )
                < 2e-6
            )


def test_holt_streaming_equals_batch(spark, sf_dir, tmp_path):
    import uuid

    from dbt_eamples_spark.streaming.streams import (
        ts_holt_linear_streaming,
    )

    name = f"holt_{uuid.uuid4().hex[:8]}"
    ts_holt_linear_streaming(
        spark, sf_dir, checkpoint=str(tmp_path / "ck_h"), out_table=name
    )
    streamed = spark.sql(f"SELECT * FROM {name}")
    batch = ts_holt_linear(spark, sf_dir)
    diff = (
        streamed.exceptAll(batch).count()
        + batch.exceptAll(streamed).count()
    )
    assert diff == 0 and batch.count() > 0


# ---- centroid eval ----------------------------------------------------------
def test_centroid_eval_grid_accounting(spark, sf_dir):
    from pyspark.sql import functions as F

    from dbt_eamples_spark.catalog import load_table
    from dbt_eamples_spark.operators.similarity import (
        embedding_centroid_eval,
    )

    rows = embedding_centroid_eval(spark, sf_dir).collect()
    emb = load_table(spark, sf_dir, "embeddings")
    n_total = emb.count()
    labels = {r.label for r in emb.select("label").distinct().collect()}
    assert sum(r.n_vectors for r in rows) == n_total
    by_true = defaultdict(list)
    for r in rows:
        assert r.true_label in labels and r.pred_label in labels
        by_true[r.true_label].append(r)
    for series in by_true.values():
        assert abs(sum(r.share_of_true for r in series) - 1.0) < 1e-4
    # the classifier must beat random guessing on its own centroids
    correct = sum(
        r.n_vectors for r in rows if r.true_label == r.pred_label
    )
    assert correct / n_total > 1.0 / len(labels)


# ---- PSI drift --------------------------------------------------------------
def test_psi_drift_accounting(spark, sf_dir):
    from dbt_eamples_spark.catalog import load_table
    from dbt_eamples_spark.operators.quality import (
        dq_distribution_drift,
    )

    rows = dq_distribution_drift(spark, sf_dir).collect()
    assert rows
    n_total = load_table(spark, sf_dir, "events").count()
    assert sum(r.n_ref + r.n_cur for r in rows) == n_total
    totals = {r.psi_total for r in rows}
    assert len(totals) == 1  # one global statistic on every row
    psi = totals.pop()
    assert psi >= 0 or abs(psi) < 1e-6  # PSI is non-negative
    # fixture halves are homogeneous by construction: stable band
    assert psi < 0.25
    for r in rows:
        assert 0 < r.p_ref < 1 and 0 < r.p_cur < 1
        # each term's sign matches (p_cur - p_ref) * ln ratio >= 0
        assert r.psi_term >= 0 or abs(r.psi_term) < 1e-6


# ---- bigram LM --------------------------------------------------------------
def test_bigram_lm_covers_corpus_and_is_positive(spark, sf_dir):
    from dbt_eamples_spark.catalog import load_table
    from dbt_eamples_spark.operators.text import text_perplexity_bigram

    rows = text_perplexity_bigram(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    scored = [r for r in rows if r.n_bigrams is not None]
    assert scored
    for r in scored:
        assert r.n_bigrams >= 1
        assert r.avg_nll > 0  # -ln p of a proper probability
