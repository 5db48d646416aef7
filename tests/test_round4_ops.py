"""Round-4 operators: literal-data semantics tests (the driver's
DuckDB oracle covers fixture-scale equivalence; these pin the exact
behaviors — interpolation arithmetic, path ordering, segment
windows, code ranges — on hand-built rows)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbt_eamples_spark.operators.behavior import events_user_path
from dbt_eamples_spark.operators.dedup import text_line_dedup
from dbt_eamples_spark.operators.relational import ts_gap_fill
from dbt_eamples_spark.operators.similarity import (
    PQ_CODES,
    PQ_SUBVECTORS,
    embedding_pq_encode,
)

_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _h(hour: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, hour, 30, 0)


def _write_events(spark, tmp_path, rows) -> str:
    df = spark.createDataFrame(rows, schema=_EVENTS_SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    return str(tmp_path)


class TestTsGapFill:
    def test_interior_gap_interpolates_linearly(self, spark, tmp_path):
        rows = [
            (1, _h(0), 1, "click", 1.00, None),
            (2, _h(1), 1, "click", 2.00, None),
            # hours 2 and 3 missing
            (3, _h(4), 1, "click", 5.00, None),
        ]
        out = {
            r["hour"].hour: r
            for r in ts_gap_fill(spark, _write_events(spark, tmp_path, rows))
            .collect()
        }
        assert len(out) == 5
        assert not out[0]["is_gap"] and out[0]["filled_cents"] == 100.0
        assert out[2]["is_gap"] and out[2]["filled_cents"] == 300.0
        assert out[3]["is_gap"] and out[3]["filled_cents"] == 400.0
        assert not out[4]["is_gap"] and out[4]["filled_cents"] == 500.0

    def test_edge_gaps_take_nearest_value(self, spark, tmp_path):
        # type "b" spans a shorter range than type "a": its leading /
        # trailing spine hours are edge gaps with one-sided neighbors
        rows = [
            (1, _h(0), 1, "a", 1.00, None),
            (2, _h(4), 1, "a", 5.00, None),
            (3, _h(2), 1, "b", 7.00, None),
        ]
        res = ts_gap_fill(spark, _write_events(spark, tmp_path, rows))
        b = {
            r["hour"].hour: r
            for r in res.filter(F.col("event_type") == "b").collect()
        }
        assert len(b) == 5  # full global spine
        assert b[0]["is_gap"] and b[0]["filled_cents"] == 700.0  # leading
        assert not b[2]["is_gap"]
        assert b[4]["is_gap"] and b[4]["filled_cents"] == 700.0  # trailing

    def test_multiple_events_per_hour_sum_exactly(self, spark, tmp_path):
        rows = [
            (1, _h(0), 1, "a", 0.01, None),
            (2, dt.datetime(2024, 1, 1, 0, 45), 2, "a", 0.02, None),
        ]
        r = ts_gap_fill(spark, _write_events(spark, tmp_path, rows)).collect()
        assert len(r) == 1 and r[0]["filled_cents"] == 3.0


class TestEventsUserPath:
    def test_first_three_events_in_time_order(self, spark, tmp_path):
        rows = [
            (1, _h(0), 1, "view", 0.0, None),
            (2, _h(1), 1, "click", 0.0, None),
            (3, _h(2), 1, "signup", 0.0, None),
            (4, _h(3), 1, "purchase", 0.0, None),  # beyond depth 3
            (5, _h(0), 2, "view", 0.0, None),
            (6, _h(1), 2, "click", 0.0, None),
            (7, _h(2), 2, "signup", 0.0, None),
            (8, _h(5), 3, "error", 0.0, None),  # short journey
        ]
        out = {
            r["path"]: r["n_users"]
            for r in events_user_path(
                spark, _write_events(spark, tmp_path, rows)
            ).collect()
        }
        assert out == {"view>click>signup": 2, "error": 1}

    def test_same_ts_ties_break_on_event_id(self, spark, tmp_path):
        rows = [
            (10, _h(0), 1, "click", 0.0, None),
            (9, _h(0), 1, "view", 0.0, None),
        ]
        out = events_user_path(
            spark, _write_events(spark, tmp_path, rows)
        ).collect()
        assert out[0]["path"] == "view>click"


class TestTextLineDedup:
    _DOCS_SCHEMA = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )

    def _write_docs(self, spark, tmp_path, texts) -> str:
        rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)]
        spark.createDataFrame(rows, schema=self._DOCS_SCHEMA).coalesce(
            1
        ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
        return str(tmp_path)

    def test_shared_segment_counts_as_dup(self, spark, tmp_path):
        boiler = " ".join(f"b{i}" for i in range(10))
        uniq_a = " ".join(f"a{i}" for i in range(10))
        uniq_b = " ".join(f"c{i}" for i in range(10))
        sf = self._write_docs(
            spark, tmp_path, [f"{boiler} {uniq_a}", f"{boiler} {uniq_b}"]
        )
        out = {r["doc_id"]: r for r in text_line_dedup(spark, sf).collect()}
        for d in (0, 1):
            assert out[d]["n_segments"] == 2
            assert out[d]["n_dup_segments"] == 1
            assert out[d]["dup_fraction"] == 0.5

    def test_short_docs_drop_partial_tail(self, spark, tmp_path):
        # 9 words → zero full segments → doc absent from the profile
        sf = self._write_docs(
            spark,
            tmp_path,
            [" ".join(f"w{i}" for i in range(9)),
             " ".join(f"x{i}" for i in range(25))],
        )
        out = {r["doc_id"]: r for r in text_line_dedup(spark, sf).collect()}
        assert 0 not in out
        assert out[1]["n_segments"] == 2  # 25 words → 2 segments


class TestEmbeddingPQ:
    def test_codes_in_range_and_error_nonnegative(self, spark, sf_dir):
        out = embedding_pq_encode(spark, sf_dir)
        rows = out.collect()
        assert len(rows) == 500
        for r in rows[:50]:
            for s in range(PQ_SUBVECTORS):
                assert 0 <= r[f"code_{s}"] < PQ_CODES
            assert r["err_fp"] >= 0

    def test_encoding_is_deterministic(self, spark, sf_dir):
        a = sorted(map(tuple, embedding_pq_encode(spark, sf_dir).collect()))
        b = sorted(map(tuple, embedding_pq_encode(spark, sf_dir).collect()))
        assert a == b


class TestPerplexityUnigram:
    def test_rare_token_doc_scores_higher(self, spark, tmp_path):
        common = " ".join(["the quick brown fox"] * 5)  # 20 tokens
        rare = " ".join(f"zq{i}x" for i in range(20))  # all singletons
        sf = TestTextLineDedup()._write_docs(
            spark, tmp_path, [common, common, rare]
        )
        from dbt_eamples_spark.operators.text import text_perplexity_unigram

        out = {
            r["doc_id"]: r for r in text_perplexity_unigram(spark, sf).collect()
        }
        assert out[0]["n_tokens"] == 20
        assert out[0]["avg_nll"] == out[1]["avg_nll"]  # identical docs
        assert out[2]["avg_nll"] > out[0]["avg_nll"] + 1.0  # rare >> common


class TestSemanticClusters:
    def test_one_canonical_per_cluster(self, spark, sf_dir):
        from dbt_eamples_spark.operators.dedup import dedup_semantic_clusters

        rows = dedup_semantic_clusters(spark, sf_dir).collect()
        assert rows, "fixture should contain near-dup embedding pairs"
        by_cluster: dict[int, list] = {}
        for r in rows:
            by_cluster.setdefault(r["cluster_id"], []).append(r)
        for cid, members in by_cluster.items():
            keeps = [m for m in members if m["keep"]]
            assert len(keeps) == 1 and keeps[0]["vec_id"] == cid
            assert all(m["cluster_size"] == len(members) for m in members)
            assert min(m["vec_id"] for m in members) == cid


class TestTrainTestSplit:
    def test_split_is_deterministic_and_stable_under_growth(
        self, spark, sf_dir
    ):
        from dbt_eamples_spark.operators.sampling import (
            sample_train_test_split,
        )

        full = {
            r["doc_id"]: r["split"]
            for r in sample_train_test_split(spark, sf_dir).collect()
        }
        assert set(full.values()) == {"train", "validation", "test"}
        n = len(full)
        train_frac = sum(1 for s in full.values() if s == "train") / n
        assert 0.7 < train_frac < 0.9  # hash coin ~ Bernoulli(0.8)
        # stability: the same doc keeps its split in any corpus subset
        again = {
            r["doc_id"]: r["split"]
            for r in sample_train_test_split(spark, sf_dir).collect()
        }
        assert full == again


class TestMadOutliers:
    def test_outliers_beat_threshold(self, spark, sf_dir):
        from dbt_eamples_spark.operators.quality import (
            MAD_K,
            agg_mad_outliers,
        )

        rows = agg_mad_outliers(spark, sf_dir).collect()
        assert rows
        for r in rows[:100]:
            assert abs(r["value"] - r["med"]) > MAD_K * r["mad"]


class TestLastTouchAttribution:
    def test_every_purchase_attributed_exactly_once(self, spark, sf_dir):
        from dbt_eamples_spark.catalog import load_table
        from dbt_eamples_spark.operators.behavior import (
            events_attribution_last_touch,
        )

        out = events_attribution_last_touch(spark, sf_dir).collect()
        kinds = {r["touch_type"] for r in out}
        assert kinds <= {"click", "view", "direct"}
        total = sum(r["n_purchases"] for r in out)
        expected = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("event_type") == "purchase")
            .count()
        )
        assert total == expected


class TestPqAdcTopk:
    def test_adc_ranks_ascending_and_complete(self, spark, sf_dir):
        from dbt_eamples_spark.operators.similarity import (
            N_QUERIES,
            TOP_K,
            similarity_pq_topk,
        )

        rows = similarity_pq_topk(spark, sf_dir).collect()
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        assert len(by_q) == N_QUERIES
        for q, ms in by_q.items():
            ms.sort(key=lambda r: r["rk"])
            assert [m["rk"] for m in ms] == list(range(1, TOP_K + 1))
            dists = [m["adc_dist"] for m in ms]
            assert dists == sorted(dists)
            assert all(m["neighbor_id"] != q for m in ms)


class TestTrainedPQ:
    def test_training_cuts_quantization_error(self, spark, sf_dir):
        from pyspark.sql import functions as FF

        from dbt_eamples_spark.operators.similarity import (
            embedding_pq_encode,
            embedding_pq_encode_trained,
        )

        untrained = embedding_pq_encode(spark, sf_dir).agg(
            FF.avg("err_fp")
        ).collect()[0][0]
        trained = embedding_pq_encode_trained(spark, sf_dir).agg(
            FF.avg("err_fp")
        ).collect()[0][0]
        assert trained < 0.8 * untrained, (
            f"Lloyd training should cut mean quantization error: "
            f"{untrained:.0f} -> {trained:.0f}"
        )

    def test_trained_recall_beats_untrained(self, spark, sf_dir):
        """ADC top-5 recall vs exact, reconstructing from the trained
        codes — must clear the untrained floor (0.06) decisively."""
        import numpy as np

        from dbt_eamples_spark.operators.similarity import (
            PQ_SUBDIM,
            PQ_SUBVECTORS,
            _pq_train_codebooks,
            embedding_pq_encode_trained,
            similarity_topk,
        )

        exact: dict[int, set] = {}
        for r in similarity_topk(spark, sf_dir).collect():
            exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        books = _pq_train_codebooks(spark, sf_dir)
        codes = {
            r["vec_id"]: [r[f"code_{s}"] for s in range(PQ_SUBVECTORS)]
            for r in embedding_pq_encode_trained(spark, sf_dir).collect()
        }
        from dbt_eamples_spark.catalog import load_table

        emb = {
            r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in load_table(spark, sf_dir, "embeddings").collect()
        }
        lut = [dict(book) for book in books]
        recon = {
            vid: np.concatenate([np.array(lut[s][c[s]]) for s in range(PQ_SUBVECTORS)])
            for vid, c in codes.items()
        }
        hits = total = 0
        for q, true_set in exact.items():
            dists = {
                vid: float(((emb[q] - rv) ** 2).sum())
                for vid, rv in recon.items()
                if vid != q
            }
            top = set(sorted(dists, key=lambda v: (dists[v], v))[:5])
            hits += len(top & true_set)
            total += len(true_set)
        recall = hits / total
        assert recall >= 0.15, f"trained ADC recall {recall:.2f} below floor"


class TestPqRefineDials:
    def test_trained_rerank_recall(self, spark, sf_dir):
        """The production PQ pipeline: trained codebooks + ADC
        shortlist + exact rerank. Deterministic (no RNG); measured
        0.68 at rerank=50 on the worst-case uniform fixture vs 0.06
        for raw untrained ADC."""
        from dbt_eamples_spark.operators.similarity import (
            similarity_pq_topk,
            similarity_topk,
        )

        exact: dict[int, set] = {}
        for r in similarity_topk(spark, sf_dir).collect():
            exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        got: dict[int, set] = {}
        out = similarity_pq_topk(spark, sf_dir, rerank=50)
        assert "cosine" in out.columns  # rerank swaps adc_dist for cosine
        for r in out.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = sum(len(exact[q] & got.get(q, set())) for q in exact)
        assert hits / 50 >= 0.5, f"refine recall {hits}/50 below 0.5"


class TestTableProfile:
    def test_profile_counts_match_direct_queries(self, spark, sf_dir):
        from dbt_eamples_spark.catalog import load_table
        from dbt_eamples_spark.operators.quality import table_profile

        prof = {r["column_name"]: r for r in table_profile(spark, sf_dir).collect()}
        ev = load_table(spark, sf_dir, "events")
        n = ev.count()
        assert set(prof) == set(ev.columns)
        for c in ("event_id", "props"):
            assert prof[c]["n_rows"] == n
            assert prof[c]["n_nulls"] == ev.filter(F.col(c).isNull()).count()
            assert prof[c]["n_distinct"] == ev.select(c).na.drop().distinct().count()
        assert prof["event_id"]["n_distinct"] == n  # unique key


class TestPiiScan:
    def test_detects_and_redacts_planted_pii(self, spark):
        from pyspark.sql import types as T

        from dbt_eamples_spark.operators.text import pii_scan_frame

        rows = [
            (1, "write to jane.doe+spam@corp.example.org today"),
            (2, "call 555-867-5309 or visit 10.0.0.1 acct 987654321"),
            (3, "clean text with a short number 1234"),
        ]
        schema = T.StructType(
            [T.StructField("doc_id", T.LongType()), T.StructField("t", T.StringType())]
        )
        out = {
            r["doc_id"]: r
            for r in pii_scan_frame(spark.createDataFrame(rows, schema)).collect()
        }
        assert out[1]["n_emails"] == 1 and out[1]["pii_total"] == 1
        assert (out[2]["n_phones"], out[2]["n_ipv4"], out[2]["n_digit_runs"]) == (1, 1, 1)
        assert out[3]["pii_total"] == 0
        # redaction changes the fingerprint only where PII was found
        import hashlib

        assert out[3]["redacted_md5"] == hashlib.md5(rows[2][1].encode()).hexdigest()
        assert out[2]["redacted_md5"] == hashlib.md5(
            b"call [PHONE] or visit [IP] acct [NUM]"
        ).hexdigest()

    def test_fixture_enrichment_plants_expected_density(self, spark, sf_dir):
        from pyspark.sql import functions as FF

        import __spark_entry__ as entrymod

        df = entrymod.queries()["text_pii_scan"](spark, sf_dir)
        agg = df.agg(
            FF.sum("n_emails").alias("e"),
            FF.sum((FF.col("pii_total") > 0).cast("long")).alias("docs_hit"),
            FF.count("*").alias("n"),
        ).collect()[0]
        assert agg["e"] == (agg["n"] + 4) // 5  # every 5th doc, ids from 0
        assert 0 < agg["docs_hit"] < agg["n"]


class TestCorpusQualityFilter:
    def test_each_rule_fires_in_order(self, spark):
        from pyspark.sql import types as T

        from dbt_eamples_spark.operators.curation import corpus_quality_filter
        from dbt_eamples_spark.operators.text import _tokens_col  # noqa: F401
        import dbt_eamples_spark.operators.curation as CU

        rows = [
            (1, " ".join(f"word{i}" for i in range(30))
                + " the of to in is it a and more text"),     # ok (40 words)
            (2, "too short"),                                 # too_short
            (3, "the word " * 60),                            # too_long (120)
            (4, "aa bb cc dd " + "the of to in is it a word more text "
                + "all tiny st un " * 6),                     # words_too_short
            (5, ("extraordinarily incomprehensible " * 15
                 + "the of and in it is a to more words here now then")),
            (6, " ".join(["horse"] * 40)),                    # repetitive
            (7, " ".join(f"w{i}xx" for i in range(40))),      # no_stopwords
        ]
        schema = T.StructType(
            [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
        )
        import tempfile, os
        d = tempfile.mkdtemp()
        spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
            os.path.join(d, "documents.parquet")
        )
        out = {r["doc_id"]: r["reason"] for r in corpus_quality_filter(spark, d).collect()}
        assert out[1] == "ok"
        assert out[2] == "too_short"
        assert out[3] == "too_long"
        assert out[6] == "repetitive"
        assert out[7] == "no_stopwords"
        assert out[4] == "words_too_short"
        assert out[5] == "words_too_long"

    def test_fixture_split_is_nontrivial(self, spark, sf_dir):
        import __spark_entry__ as entrymod
        from pyspark.sql import functions as FF

        df = entrymod.queries()["corpus_quality_filter"](spark, sf_dir)
        agg = df.agg(
            FF.sum(FF.col("keep").cast("long")).alias("kept"),
            FF.count("*").alias("n"),
        ).collect()[0]
        assert 0 < agg["kept"] < agg["n"], "verdict must split the corpus"


class TestAnomalyRolling:
    def test_planted_spike_is_the_only_flag(self, spark):
        import datetime as dt
        import os
        import tempfile

        from pyspark.sql import types as T

        from dbt_eamples_spark.operators.behavior import (
            ANOM_MIN_PRIOR,
            events_anomaly_rolling,
        )

        base = dt.datetime(2024, 3, 1)
        rows = []
        for h in range(48):
            # alternating 4/6 baseline (nonzero variance), 50 at h=30
            n = 50 if h == 30 else (4 if h % 2 == 0 else 6)
            for i in range(n):
                rows.append(
                    (base + dt.timedelta(hours=h, seconds=i), "click")
                )
        schema = T.StructType(
            [
                T.StructField("ts", T.TimestampType()),
                T.StructField("event_type", T.StringType()),
            ]
        )
        d = tempfile.mkdtemp()
        spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
            os.path.join(d, "events.parquet")
        )
        out = events_anomaly_rolling(spark, d).collect()
        flagged = {r["hour"].hour + 24 * (r["hour"].day - 1): r for r in out
                   if r["is_anomaly"]}
        eligible = [r for r in out if r["n_prior_hours"] >= ANOM_MIN_PRIOR]
        assert len(eligible) > 30
        assert set(flagged) == {30}, f"only the spike should flag: {sorted(flagged)}"
        spike = flagged[30]
        assert spike["n_events"] == 50 and spike["n_prior_hours"] == 24


class TestDauWauMau:
    def test_rolling_windows_exact(self, spark, tmp_path):
        rows = [
            (1, _h(0), 1, "click", 0.0, None),
            (2, _h(1), 1, "view", 0.0, None),  # same user+day: one pair
            (3, _h(0), 2, "click", 0.0, None),
            (4, _h(0) + dt.timedelta(days=8), 2, "click", 0.0, None),
        ]
        from dbt_eamples_spark.operators.behavior import events_dau_wau_mau

        out = {
            str(r["day"]): r
            for r in events_dau_wau_mau(
                spark, _write_events(spark, tmp_path, rows)
            ).collect()
        }
        assert set(out) == {"2024-01-01", "2024-01-09"}  # observed days only
        d0, d8 = out["2024-01-01"], out["2024-01-09"]
        assert (d0["dau"], d0["wau"], d0["mau"]) == (2, 2, 2)
        # day 8: only user 2 active in the trailing 7 days; both in 30
        assert (d8["dau"], d8["wau"], d8["mau"]) == (1, 1, 2)


class TestNgramTopk:
    def test_counts_and_cut_order(self, spark, tmp_path):
        from dbt_eamples_spark.operators.text import text_ngram_topk

        sf = TestTextLineDedup()._write_docs(
            spark,
            tmp_path,
            ["alpha beta alpha beta gamma", "alpha beta delta", "solo"],
        )
        rows = text_ngram_topk(spark, sf).collect()
        counts = {r["gram"]: r["n"] for r in rows}
        # "alpha beta": 2 in doc0 + 1 in doc1; overlapping bigrams count
        assert counts["alpha beta"] == 3
        assert counts["beta alpha"] == 1
        assert counts["beta gamma"] == 1
        assert counts["beta delta"] == 1
        assert "solo" not in counts  # 1-token doc contributes nothing
        # output is the (n DESC, gram ASC) prefix
        pairs = [(r["n"], r["gram"]) for r in rows]
        assert pairs == sorted(pairs, key=lambda p: (-p[0], p[1]))


class TestSourceTemperature:
    def test_rebalances_toward_sqrt_volume(self, spark, sf_dir):
        import math

        from dbt_eamples_spark.operators.sampling import (
            sample_source_temperature,
        )

        rows = sample_source_temperature(spark, sf_dir).collect()
        assert rows, "some docs must survive"
        by_bin = {}
        for r in rows:
            by_bin.setdefault(r["source_bin"], []).append(r)
        rates = {b: rs[0]["keep_rate"] for b, rs in by_bin.items()}
        sizes = {b: rs[0]["n_docs"] for b, rs in by_bin.items()}
        n_min = min(sizes.values())
        for b, rate in rates.items():
            assert rate == pytest.approx(math.sqrt(n_min / sizes[b]))
        # larger bins get strictly smaller keep rates
        ordered = sorted(sizes, key=sizes.get)
        assert rates[ordered[0]] > rates[ordered[-1]]
        # kept volume per bin concentrates around sqrt(n_min * n_s):
        # the whole point of temperature flattening
        big = ordered[-1]
        assert len(by_bin[big]) < sizes[big]
