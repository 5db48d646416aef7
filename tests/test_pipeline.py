"""Lifecycle tests: statement splitter, incremental exactly-once
replay (the `transactions_dag.py:14-46` scenario), and the
batch ≡ streaming equivalence of the tumbling-window aggregate."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import uuid
from urllib.parse import urlparse

from pyspark.sql import functions as F

from dbt_eamples_spark.catalog import load_table
from dbt_eamples_spark.plans.splitter import run_script, split_statements
from dbt_eamples_spark.streaming.incremental import run_increment
from dbt_eamples_spark.streaming.streams import (

    stateful_user_totals_streaming,
    stream_session_agg,
    stream_session_agg_streaming,
    stream_tumbling_count,
    stream_tumbling_count_streaming,
    user_totals_batch,
)

import pytest

# slow lane (VERDICT r14 #2): end-to-end pipeline + streaming replays —
# excluded from the default run so `pytest tests/ -x -q` fits the
# driver's verify budget; the close ritual runs it via --runslow.
pytestmark = pytest.mark.slow


class TestSplitter:
    def test_basic_split(self):
        assert split_statements("SELECT 1; SELECT 2") == ["SELECT 1", "SELECT 2"]

    def test_semicolon_in_string(self):
        stmts = split_statements("SELECT 'a;b'; SELECT 2")
        assert stmts == ["SELECT 'a;b'", "SELECT 2"]

    def test_comments_stripped(self):
        stmts = split_statements(
            "-- lead comment; with semicolon\nSELECT 1; /* block; */ SELECT 2"
        )
        assert stmts == ["SELECT 1", "SELECT 2"]

    def test_escaped_quote(self):
        assert split_statements("SELECT 'it''s; fine'") == ["SELECT 'it''s; fine'"]

    def test_empty_statements_dropped(self):
        assert split_statements(";;  ;\n;") == []

    def test_txn_noops(self, spark):
        res = run_script(spark, "BEGIN; SELECT 1 AS x; COMMIT;")
        assert [s.status for s in res.statuses] == ["noop", "ok", "noop"]
        assert res.last_df.collect()[0].x == 1


class TestIncremental:
    def test_exactly_once_replay(self, spark, sf_dir, tmp_path):
        sink = str(tmp_path / f"sink_{uuid.uuid4().hex}")
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        ts = dt.datetime(2026, 1, 1)

        # batch 1: first 400 ids
        b1 = ev.filter(F.col("event_id") < 400)
        r1 = run_increment(spark, b1, sink, "event_id", ts)
        assert r1.watermark == 0 and r1.written == r1.delta_rows > 0

        # replay batch 1 → nothing written (idempotent)
        r1b = run_increment(spark, b1, sink, "event_id", ts)
        assert r1b.written == 0

        # batch 2: full table → only the new rows land
        # (key 0 is never ingested: watermark null→0 + strict `>` is
        # the reference's `or 0` semantics, keys assumed to start ≥1)
        r2 = run_increment(spark, ev, sink, "event_id", ts)
        total = spark.read.parquet(sink).count()
        assert total == ev.filter(F.col("event_id") > 0).count()
        assert r2.written == total - r1.written

        # sink has no duplicate keys
        dups = (
            spark.read.parquet(sink)
            .groupBy("event_id")
            .count()
            .filter(F.col("count") > 1)
            .count()
        )
        assert dups == 0
        shutil.rmtree(sink, ignore_errors=True)

    def test_audit_col_present(self, spark, sf_dir, tmp_path):
        sink = str(tmp_path / "sink_audit")
        ev = load_table(spark, sf_dir, "events").limit(10).select("event_id")
        run_increment(spark, ev, sink, "event_id", dt.datetime(2026, 1, 1))
        out = spark.read.parquet(sink)
        assert "insert_dt" in out.columns


class TestBucketing:
    def test_bucketed_join_is_shuffle_free(self, spark, sf_dir):
        """Two tables bucketed on the join key join with zero
        Exchange in the plan — write-time co-location."""
        from dbt_eamples_spark.sources.sinks import write_bucketed

        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity"
        )
        suffix = uuid.uuid4().hex[:8]
        t_o, t_li = f"b_orders_{suffix}", f"b_lineitem_{suffix}"
        warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        for t in (t_o, t_li):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
        # disable broadcast: at real scale both sides are fact-sized
        # (a broadcastable side wouldn't need bucketing) — the claim
        # under test is that bucketed SMJ needs NO shuffle exchange
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            write_bucketed(o, t_o, "o_orderkey", 8)
            write_bucketed(li, t_li, "l_orderkey", 8)
            joined = spark.table(t_li).join(
                spark.table(t_o),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert "SortMergeJoin" in plan
            assert joined.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            for t in (t_o, t_li):
                spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_partitioned_write_prunes(self, spark, sf_dir, tmp_path):
        """A filter on the partition column prunes at the metadata
        level: PartitionFilters is populated and the scan reads only
        the matching partition directories."""
        from dbt_eamples_spark.sources.sinks import write_partitioned

        ev = load_table(spark, sf_dir, "events").withColumn(
            "event_date", F.to_date("ts")
        )
        path = str(tmp_path / "events_by_date")
        write_partitioned(ev, path, "event_date")
        back = spark.read.parquet(path).filter(
            F.col("event_date") == "2024-01-05"
        )
        plan = back._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan
        # the partition predicate must be IN PartitionFilters (not a
        # row-level data filter)
        pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        assert "event_date" in pf, plan
        expected = ev.filter(F.col("event_date") == "2024-01-05").count()
        assert back.count() == expected > 0

    def test_salted_join_equals_plain_join(self, spark, sf_dir):
        from dbt_eamples_spark.operators.skew import salted_join

        ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
        dim = (
            load_table(spark, sf_dir, "orders")
            .groupBy(F.col("o_custkey").alias("user_id"))
            .agg(F.count("*").alias("n"))
        )
        plain = ev.join(dim, "user_id")
        salted = salted_join(
            ev.withColumnRenamed("user_id", "u"),
            dim.withColumnRenamed("user_id", "u"),
            key="u",
        ).withColumnRenamed("u", "user_id").select(*plain.columns)
        diff = plain.exceptAll(salted).count() + salted.exceptAll(plain).count()
        assert diff == 0


class TestRowsOnlyOps:
    """Value-level checks for the two queries whose driver check is
    rows-only (no SQL oracle by design)."""

    def test_approx_distinct_within_rsd(self, spark, sf_dir):
        from dbt_eamples_spark.operators.relational import (
            agg_approx_distinct,
            agg_count_distinct,
        )

        exact = agg_count_distinct(spark, sf_dir).collect()[0]
        rows = agg_approx_distinct(spark, sf_dir).collect()
        total_exact = exact["n_active_customers"]
        # per-status approximations must each be within 5×rsd of the
        # per-status exact count (loose but catches gross breakage)
        o = load_table(spark, sf_dir, "orders")
        for r in rows:
            ex = (
                o.filter(F.col("o_orderstatus") == r["o_orderstatus"])
                .select("o_custkey")
                .distinct()
                .count()
            )
            assert abs(r["approx_customers"] - ex) <= max(0.1 * ex, 5), (
                r,
                ex,
            )
        assert total_exact > 0

    def test_pandas_similarity_matches_exact(self, spark, sf_dir):
        from dbt_eamples_spark.operators.similarity import (
            similarity_topk,
            similarity_topk_pandas,
        )

        a = similarity_topk(spark, sf_dir)
        b = similarity_topk_pandas(spark, sf_dir)
        # identical neighbor sets and ranks; cosines may differ in
        # the last rounded digit (different float summation order)
        ka = sorted((r["query_id"], r["rk"], r["neighbor_id"]) for r in a.collect())
        kb = sorted((r["query_id"], r["rk"], r["neighbor_id"]) for r in b.collect())
        assert ka == kb

    def test_kmeans_centroids_train_and_are_deterministic(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from dbt_eamples_spark.catalog import load_table
        from dbt_eamples_spark.operators.similarity import (
            NCENTROIDS,
            _kmeans_centroids,
        )
        from dbt_eamples_spark.operators.vecsql import as_double

        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", as_double("embedding").alias("vec")
        )
        c1 = {r.cent_id: tuple(r.cvec) for r in _kmeans_centroids(emb).collect()}
        assert 0 < len(c1) <= NCENTROIDS
        # training moved centroids off their seed vectors
        seeds = {
            r.vec_id: tuple(r.vec)
            for r in emb.filter(F.col("vec_id") < NCENTROIDS).collect()
        }
        assert any(c1[k] != seeds[k] for k in c1)
        # order-independent accumulation: a different partitioning
        # yields bit-identical centroids
        c2 = {
            r.cent_id: tuple(r.cvec)
            for r in _kmeans_centroids(emb.repartition(7)).collect()
        }
        assert c1 == c2


class TestMultimodal:
    def test_frame_sample_fingerprints_actual_bytes(self, spark, sf_dir):
        import hashlib

        from dbt_eamples_spark.operators.multimodal import (
            FRAME_BYTES,
            FRAME_STRIDE,
            multimodal_frame_sample,
        )

        rows = multimodal_frame_sample(spark, sf_dir).collect()
        assert rows
        docs = {
            r.doc_id: r.text.encode("utf-8")
            for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
        }
        for r in rows[:100]:
            payload = docs[r.doc_id]
            assert r.n_frames == len(payload) // FRAME_BYTES
            assert r.frame_idx % FRAME_STRIDE == 0
            frame = payload[
                r.frame_idx * FRAME_BYTES : (r.frame_idx + 1) * FRAME_BYTES
            ]
            expected = hashlib.md5(
                frame.hex().upper().encode("ascii")
            ).hexdigest()
            assert r.frame_md5 == expected

    def test_fake_decode_feature_shape(self, spark, sf_dir):
        from dbt_eamples_spark.operators.multimodal import (
            FEATURE_DIM,
            multimodal_decode_features,
        )

        row = multimodal_decode_features(spark, sf_dir).limit(1).collect()[0]
        assert len(row["features"]) == FEATURE_DIM
        assert row["n_bytes"] > 0

    def test_strict_stub_raises_where_decoder_plugs_in(self, spark, sf_dir):
        import pytest as _pytest

        from dbt_eamples_spark.operators.multimodal import (
            multimodal_decode_features,
        )

        df = multimodal_decode_features(spark, sf_dir, decode_stub="strict")
        with _pytest.raises(Exception, match="NotImplementedError|media decode"):
            df.limit(1).collect()


class TestStreaming:
    def test_sliding_streaming_equals_batch(self, spark, sf_dir, tmp_path):
        from dbt_eamples_spark.streaming.streams import (
            stream_sliding_count,
            stream_sliding_count_streaming,
        )

        name = f"sliding_{uuid.uuid4().hex[:8]}"
        stream_sliding_count_streaming(
            spark, sf_dir, checkpoint=str(tmp_path / "ckpt_s"), out_table=name
        )
        streamed = spark.sql(f"SELECT * FROM {name}")
        batch = stream_sliding_count(spark, sf_dir)
        diff = (
            streamed.exceptAll(batch).count()
            + batch.exceptAll(streamed).count()
        )
        assert diff == 0
        # every event lands in exactly 4 overlapping windows
        assert batch.count() > stream_tumbling_count(spark, sf_dir).count()

    def test_streaming_equals_batch(self, spark, sf_dir, tmp_path):
        name = f"tumbling_{uuid.uuid4().hex[:8]}"
        stream_tumbling_count_streaming(
            spark, sf_dir, checkpoint=str(tmp_path / "ckpt"), out_table=name
        )
        streamed = spark.sql(f"SELECT * FROM {name}")
        batch = stream_tumbling_count(spark, sf_dir)
        diff = streamed.exceptAll(batch).count() + batch.exceptAll(streamed).count()
        assert diff == 0
        assert batch.count() > 0

    def test_stateful_totals_converge_to_batch(self, spark, sf_dir, tmp_path):
        """applyInPandasWithState running totals: the last update per
        user after an AvailableNow drain equals the batch aggregate."""
        name = f"totals_{uuid.uuid4().hex[:8]}"
        stateful_user_totals_streaming(
            spark, sf_dir, checkpoint=str(tmp_path / "ckpt_t"), out_table=name
        )
        # memory sink appends one row per user per micro-batch; the
        # final state is the row with the max n_events per user
        final = spark.sql(
            f"""
            SELECT user_id, n_events, total_value, first_ts, last_ts
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY user_id ORDER BY n_events DESC) rn
                  FROM {name}) WHERE rn = 1
            """
        )
        batch = user_totals_batch(spark, sf_dir)
        diff = final.exceptAll(batch).count() + batch.exceptAll(final).count()
        assert diff == 0
        assert batch.count() > 0

    def test_ohlc_streaming_equals_batch(self, spark, sf_dir, tmp_path):
        """min_by/max_by over the (ts, event_id) struct pick the
        same open/close rows as the batch row_number window."""
        from dbt_eamples_spark.operators.behavior import ts_resample_ohlc
        from dbt_eamples_spark.streaming.streams import (
            ts_resample_ohlc_streaming,
        )

        name = f"ohlc_{uuid.uuid4().hex[:8]}"
        ts_resample_ohlc_streaming(
            spark, sf_dir, checkpoint=str(tmp_path / "ckpt_o"), out_table=name
        )
        streamed = spark.sql(f"SELECT * FROM {name}")
        batch = ts_resample_ohlc(spark, sf_dir)
        diff = (
            streamed.exceptAll(batch).count()
            + batch.exceptAll(streamed).count()
        )
        assert diff == 0
        assert batch.count() > 0

    def test_anomaly_streaming_equals_batch(self, spark, sf_dir, tmp_path):
        """Streaming hourly rollup + the exact batch flag pass over
        the drained aggregate reproduces the batch frame."""
        from dbt_eamples_spark.operators.behavior import (
            events_anomaly_rolling,
        )
        from dbt_eamples_spark.streaming.streams import (
            events_anomaly_rolling_streaming,
        )

        name = f"anom_{uuid.uuid4().hex[:8]}"
        events_anomaly_rolling_streaming(
            spark, sf_dir, checkpoint=str(tmp_path / "ckpt_a"), out_table=name
        )
        streamed = spark.sql(f"SELECT * FROM {name}")
        batch = events_anomaly_rolling(spark, sf_dir)
        diff = (
            streamed.exceptAll(batch).count()
            + batch.exceptAll(streamed).count()
        )
        assert diff == 0
        assert streamed.filter(F.col("is_anomaly")).count() == batch.filter(
            F.col("is_anomaly")
        ).count()

    def test_late_audit_matches_engine_counters(self, spark, sf_dir, tmp_path):
        """The watermark SCHEDULE the batch replay models (max event
        time over prior batches − delay, advancing at batch
        boundaries) must match the engine: replay arrival batches
        through a REAL watermarked aggregate and assert Spark's own
        numRowsDroppedByWatermark equals the replay's prediction
        (window-end rule, ms-precision watermark — the aggregate's
        drop predicate)."""
        from dbt_eamples_spark.catalog import load_table
        from dbt_eamples_spark.streaming import streams as S

        # 4-hour arrival batches (vs the op's 1-hour constant): the
        # audit validates the watermark SCHEDULE rule, and the wider
        # trigger makes window-end-late rows appear within a replay
        # short enough for a test (the fixture's early hours are
        # sparse)
        trig = 4 * 3600 * 1_000_000
        # jitter must exceed the trigger width for the eviction path
        # to fire at all (a straggler has to arrive >= 2 batches
        # after its window closed), so the audit uses 12 h of jitter
        jit_us = 12 * 3600 * 1_000_000
        jitter = F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.col("event_id").cast("string")), 1, 15
                ),
                16,
                10,
            ).cast("long"),
            F.lit(jit_us),
        )
        ev = load_table(spark, sf_dir, "events").select(
            "ts",
            F.unix_micros("ts").alias("us"),
            F.floor(
                (F.unix_micros("ts") + jitter) / F.lit(trig)
            ).alias("batch_id"),
        )
        bmin = ev.agg(F.min("batch_id")).collect()[0][0]
        sub = ev.filter(
            F.col("batch_id") < bmin + 30
        ).localCheckpoint(eager=True)
        name = f"late_{uuid.uuid4().hex[:8]}"
        # short delay so the EVICTION path (window gone before the
        # straggler arrives) actually fires within the replayed span
        delay = "30 minutes"
        audit = S.late_data_streaming_audit(
            spark,
            sub,
            staging_dir=str(tmp_path / "stage"),
            checkpoint=str(tmp_path / "ck_l"),
            out_table=name,
            delay=delay,
        )
        rows = sub.select("us", "batch_id").collect()
        bmax: dict[int, int] = {}
        for r in rows:
            bmax[r["batch_id"]] = max(
                bmax.get(r["batch_id"], 0), r["us"]
            )
        order = sorted(bmax)
        run = None
        wm_of_batch: dict[int, int | None] = {}
        for b in order:
            wm_of_batch[b] = run  # max event-time ms over PRIOR batches
            m = bmax[b] // 1000
            run = m if run is None else max(run, m)
        prev_of = {
            order[i]: (order[i - 1] if i > 0 else None)
            for i in range(len(order))
        }
        delay_ms = 30 * 60 * 1000
        hour_us = 3600 * 1_000_000
        late_keys = set()
        for r in rows:
            # engine rule (pinned empirically): a row is late iff its
            # window was EVICTED in an earlier batch — window end <=
            # the PREVIOUS batch's displayed watermark — and the
            # counter tallies POST-partial-agg rows, so same-window
            # stragglers within one batch count ONCE
            pb = prev_of[r["batch_id"]]
            w = wm_of_batch.get(pb) if pb is not None else None
            if w is None:
                continue
            wm_ms = w - delay_ms
            wend_ms = ((r["us"] // hour_us) + 1) * hour_us // 1000
            if wend_ms <= wm_ms:
                late_keys.add((r["batch_id"], wend_ms))
        pred = len(late_keys)
        assert audit["dropped"] == pred and pred > 0
        assert audit["n_batches"] >= len(bmax)

    def test_session_streaming_equals_batch(self, spark, sf_dir, tmp_path):
        name = f"sessions_{uuid.uuid4().hex[:8]}"
        stream_session_agg_streaming(
            spark, sf_dir, checkpoint=str(tmp_path / "ckpt_s"), out_table=name
        )
        streamed = spark.sql(f"SELECT * FROM {name}")
        batch = stream_session_agg(spark, sf_dir)
        diff = streamed.exceptAll(batch).count() + batch.exceptAll(streamed).count()
        assert diff == 0
        assert batch.count() > 0


class TestCompaction:
    def test_compacts_many_small_files_losslessly(self, spark, sf_dir, tmp_path):
        from dbt_eamples_spark.catalog import load_table
        from dbt_eamples_spark.sources.sinks import compact_small_files

        ev = load_table(spark, sf_dir, "events")
        path = str(tmp_path / "frag")
        # simulate micro-batch fragmentation: 24 files
        ev.repartition(24).write.parquet(path)
        import os

        before = sum(
            1 for f in os.listdir(path) if f.endswith(".parquet")
        )
        assert before >= 24
        total = ev.count()
        n_after = compact_small_files(spark, path)
        assert n_after < before
        after = spark.read.parquet(path)
        assert after.count() == total
        # lossless: same multiset of event ids
        assert (
            after.select("event_id")
            .exceptAll(ev.select("event_id"))
            .count()
            == 0
        )


class TestTrendSlope:
    def test_pandas_twin_matches_jvm_exactly(self, spark, sf_dir):
        from dbt_eamples_spark.operators.relational import (
            agg_trend_slope,
            agg_trend_slope_pandas,
        )

        jvm = agg_trend_slope(spark, sf_dir)
        pnd = agg_trend_slope_pandas(spark, sf_dir)
        diff = jvm.exceptAll(pnd).count() + pnd.exceptAll(jvm).count()
        # integer sums + identical double closed form => bit-identical
        assert diff == 0
        assert jvm.count() > 0

    def test_audit_row_reports_match(self, spark, sf_dir):
        """The driver-hash-gated companion (VERDICT r10 #8): one row,
        pandas_matches_jvm TRUE, aggregates consistent with the JVM
        output it summarizes."""
        from dbt_eamples_spark.operators.relational import (
            agg_trend_slope,
            agg_trend_slope_audit,
        )

        row = agg_trend_slope_audit(spark, sf_dir).collect()
        assert len(row) == 1
        row = row[0]
        assert row.pandas_matches_jvm is True
        jvm = agg_trend_slope(spark, sf_dir).collect()
        assert row.n_users == len(jvm)
        assert row.n_events_total == sum(r.n_events for r in jvm)
        assert row.n_null_slopes == sum(
            1 for r in jvm if r.slope_per_day is None
        )


class TestLakehouseWrites:
    def test_dynamic_overwrite_touches_only_present_partitions(
        self, spark, sf_dir, tmp_path
    ):
        from dbt_eamples_spark.sources.sinks import (
            overwrite_partitions_dynamic,
            write_partitioned,
        )

        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "value",
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
        )
        path = str(tmp_path / "part")
        write_partitioned(ev, path, "day")
        days = sorted(
            r["day"] for r in spark.read.parquet(path).select("day").distinct().collect()
        )
        assert len(days) >= 3
        target = days[1]
        before_other = (
            spark.read.parquet(path).filter(F.col("day") != target).count()
        )
        # backfill ONE day with a single sentinel row
        one = spark.createDataFrame(
            [(999_999, 1, 0.5, target)], schema="event_id long, user_id long, value double, day string"
        )
        overwrite_partitions_dynamic(one, path, "day")
        after = spark.read.parquet(path)
        assert after.filter(F.col("day") != target).count() == before_other
        tgt = after.filter(F.col("day") == target).collect()
        assert len(tgt) == 1 and tgt[0]["event_id"] == 999_999
        # conf restored
        assert (
            spark.conf.get("spark.sql.sources.partitionOverwriteMode")
            != "dynamic"
        )

    def test_clustered_write_yields_disjoint_file_ranges(
        self, spark, sf_dir, tmp_path
    ):
        import os

        from dbt_eamples_spark.sources.sinks import write_clustered

        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        path = str(tmp_path / "clustered")
        write_clustered(o, path, "o_totalprice", n_files=6)
        files = [
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        ]
        assert len(files) >= 4
        ranges = []
        for f in files:
            r = (
                spark.read.parquet(f)
                .agg(
                    F.min("o_totalprice").alias("lo"),
                    F.max("o_totalprice").alias("hi"),
                )
                .collect()[0]
            )
            if r["lo"] is not None:
                ranges.append((r["lo"], r["hi"]))
        ranges.sort()
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 <= lo2, f"file ranges overlap: {(lo1, hi1)} vs {(lo2, hi2)}"
