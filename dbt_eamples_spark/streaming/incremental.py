"""Incremental watermark → delta → idempotent-append dataflow
(SURVEY.md §2.9 T1-T4, lifecycle §3.3).

The reference's pipeline (`transactions_dag.py:14-46`): every 15 min
read ``MAX(block)`` from the sink, fetch ``(last, head]`` from the
source, transform, append with an audit column — at-least-once with
retries, idempotence left to luck. Spark-first version:

 - watermark = one-row aggregate on the sink (partial max, no
   shuffle of data rows);
 - delta = source filter ``key > watermark`` — pushed into the
   parquet scan (at scale: partition pruning on the key column);
 - idempotent append = left-anti join of the delta against sink keys
   BEFORE the write, making re-runs exactly-once at row granularity
   (the guarantee `transactions_dag.py` lacks);
 - audit column stamped at append (postgres_client.py:38-39).

``run_increment`` is one micro-batch; calling it in a loop is the
cron semantics (``Trigger.AvailableNow`` equivalent — see
streaming.streams for the Structured Streaming form).
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_eamples_spark.catalog import load_table, read_parquet
from dbt_eamples_spark.sources.sinks import with_audit_col


def read_watermark(sink: DataFrame, key: str) -> int:
    """MAX(key) over the sink, null→0 (`transactions_dag.py:22-25`
    ``int(...) or 0``). NOTE: with the strict ``>`` delta filter this
    assumes keys start at 1 (true for the reference's block heights);
    a key of 0 is never ingested — reference-parity behavior."""
    row = sink.agg(
        F.coalesce(F.max(key), F.lit(0)).cast("long").alias("wm")
    ).collect()[0]
    return int(row.wm)


def delta_filter(source: DataFrame, key: str, watermark: int) -> DataFrame:
    """Rows strictly above the watermark (`transactions_dag.py:30-34`
    fetches ``last_block + 1 .. head``). The predicate is a plain
    column comparison so it pushes into the scan."""
    return source.filter(F.col(key) > F.lit(watermark))


def idempotent_append(
    spark: SparkSession,
    delta: DataFrame,
    sink_path: str,
    key: str,
    audit_ts: dt.datetime | None = None,
) -> int:
    """Append only rows whose key is not already in the sink
    (anti-join guard → exactly-once under re-runs), with audit
    column. Returns rows written. Skips the write entirely when the
    delta is empty (`transactions_dag.py:35`)."""
    # only the missing-sink first run may skip the guard — other
    # read errors must propagate or re-runs would append duplicates
    try:
        sink_keys = read_parquet(spark, sink_path).select(key)
        new_rows = delta.join(sink_keys, on=key, how="left_anti")
    except AnalysisException:  # first run: sink does not exist yet
        new_rows = delta
    n = new_rows.count()
    if n == 0:
        return 0
    with_audit_col(new_rows, audit_ts).write.mode("append").parquet(sink_path)
    return n


@dataclass
class IncrementResult:
    watermark: int
    delta_rows: int
    written: int


def run_increment(
    spark: SparkSession,
    source: DataFrame,
    sink_path: str,
    key: str,
    audit_ts: dt.datetime | None = None,
) -> IncrementResult:
    """One watermark→delta→append micro-batch."""
    try:
        sink = read_parquet(spark, sink_path)
        wm = read_watermark(sink, key)
    except AnalysisException:  # first run: sink does not exist yet
        wm = 0
    delta = delta_filter(source, key, wm)
    n_delta = delta.count()
    written = idempotent_append(spark, delta, sink_path, key, audit_ts)
    return IncrementResult(watermark=wm, delta_rows=n_delta, written=written)


def incremental_delta_filter_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: watermark over the ingested snapshot
    (event_id < 500), delta = rows above it — the T1+T2 composition,
    fully relational (no external sink needed)."""
    ev = load_table(spark, sf_dir, "events")
    snapshot = ev.filter(F.col("event_id") < 500)
    wm = snapshot.agg(
        F.coalesce(F.max("event_id"), F.lit(0)).alias("wm")
    )
    return (
        ev.crossJoin(F.broadcast(wm))
        .filter(F.col("event_id") > F.col("wm"))
        .select("event_id", "user_id", "event_type", "value")
    )


def scd2_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension history from the events
    stream — the Spark form of dbt's ``snapshot`` materialization
    with the ``check`` strategy (the one reference-side feature of
    dbt's incremental family not yet covered by T1-T4): per user,
    each change of the tracked ``value`` opens a new version row
    with a validity interval, the previous version closes at the
    change timestamp, and the latest version is flagged current.

    Two windows over the SAME partition key (user_id): the
    change-detection lag and the interval-closing lead — the filter
    between them preserves the hash distribution, so the whole
    operator is ONE shuffle; at scale that is the minimum for any
    per-entity history build. Ties on ts are broken by event_id in
    both windows (and in the oracle) so versions are deterministic.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w_lag = Window.partitionBy("user_id").orderBy(*order)
    changes = (
        ev.select("user_id", "event_id", "ts", "value")
        .withColumn("prev", F.lag("value").over(w_lag))
        .filter(F.col("prev").isNull() | (F.col("value") != F.col("prev")))
    )
    versions = changes.withColumn("valid_to", F.lead("ts").over(w_lag))
    return versions.select(
        "user_id",
        "value",
        F.col("ts").alias("valid_from"),
        "valid_to",
        F.col("valid_to").isNull().alias("is_current"),
    )


def incremental_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt incremental materialization, ``merge`` /
    ``delete+insert`` strategy with a ``unique_key``: batch rows
    REPLACE target rows that share the key; unmatched target rows
    carry over; unmatched batch rows insert. Completes the dbt
    incremental-strategy family (T2/T3 cover ``append``,
    scd2_snapshot covers ``snapshot``).

    Fixture shape: target = the ingested snapshot (event_id < 800);
    batch = a restatement of event_id >= 700 with refreshed values —
    the 100-key overlap exercises the replace path. Spark-first plan:
    one hash LEFT ANTI join on the unique key (build side carries
    key-only columns) + a narrow unionByName — at scale this is the
    standard lakehouse merge shape (Delta/Iceberg MERGE compiles to
    the same anti-join-plus-union when the target is rewritten)."""
    ev = load_table(spark, sf_dir, "events")
    cols = ["event_id", "user_id", "event_type", "value"]
    target = ev.filter(F.col("event_id") < 800).select(*cols)
    batch = ev.filter(F.col("event_id") >= 700).select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") + 1, 2).alias("value"),
    )
    kept = target.join(batch.select("event_id"), "event_id", "left_anti")
    return kept.unionByName(batch)


def table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level diff of two snapshots of the same table — the audit
    companion to the reference's incremental reloads
    (`/root/reference/helix-flow/dags/omni/transactions_dag.py:26-44`
    re-fetches ranges with no way to SEE what a re-run changed; dbt
    users reach for the ``audit_helper`` package's ``compare_rows``
    for exactly this). Output: one row per key whose state differs —
    ``added`` (new only), ``removed`` (old only), ``changed`` (both,
    tracked value differs) — unchanged keys are excluded, so the
    result is delta-sized, not table-sized.

    Fixture shape: old = orders with ``o_orderkey % 7 != 0`` (so
    every 7th key shows as added), new = orders with
    ``o_orderkey % 10 != 0`` (every 10th shows as removed) and
    totalprice restated +1.00 where ``o_orderkey % 3 == 0``.

    Scale posture: ONE full-outer hash join keyed on the primary
    key — both sides shuffle-partition on the same key, which a
    bucketed/clustered lakehouse table provides for free (see
    ``sources.sinks.write_bucketed``), making the diff of a 100 TB
    snapshot pair a co-located zipper merge, not a data motion. The
    change-detection compare runs on integer cents (no float
    equality), and the post-join filter drops the unchanged majority
    BEFORE any further stage sees it."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    old = orders.filter(F.col("o_orderkey") % 7 != 0)
    new = orders.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey",
        (
            F.col("cents")
            + F.when(F.col("o_orderkey") % 3 == 0, F.lit(100)).otherwise(F.lit(0))
        ).alias("cents"),
    )
    joined = old.alias("o").join(
        new.alias("n"), on="o_orderkey", how="full_outer"
    )
    o_cents = F.col("o.cents")
    n_cents = F.col("n.cents")
    status = (
        F.when(o_cents.isNull(), F.lit("added"))
        .when(n_cents.isNull(), F.lit("removed"))
        .when(o_cents != n_cents, F.lit("changed"))
    )
    return (
        joined.select(
            "o_orderkey",
            status.alias("status"),
            o_cents.alias("old_cents"),
            n_cents.alias("new_cents"),
        )
        .filter(F.col("status").isNotNull())
    )


# ---- dbt microbatch incremental strategy -----------------------------------
def run_microbatch(
    spark: SparkSession,
    source: DataFrame,
    sink_path: str,
    event_time: str = "ts",
    batch_grain: str = "day",
    begin: str | None = None,
    end: str | None = None,
    batch_keys: list[str] | None = None,
) -> list[dict]:
    """dbt's ``microbatch`` incremental strategy (dbt-core 1.9,
    public docs: models with ``incremental_strategy='microbatch'``
    split the input by ``event_time`` into ``batch_size`` periods;
    each batch is processed INDEPENDENTLY and written with
    REPLACE-the-period semantics, so any batch can be retried or
    backfilled alone without touching its neighbors — the property
    `transactions_dag.py`'s single watermarked append lacks).

    Spark-first mapping: one pass stamps the batch key
    (``date_trunc(grain, event_time)``); the write is a dynamic
    partition overwrite on that key (`sources.sinks.
    overwrite_partitions_dynamic` semantics — only partitions
    present in the frame are replaced). Retrying batch B re-derives
    B's rows from the source and overwrites ONLY partition B:
    idempotent at partition granularity, no anti-join needed (the
    merge/delete+insert strategies in `incremental_merge_upsert`
    cover row-granular keys). Batch selection: ``begin``/``end``
    bound a half-open backfill WINDOW (``begin=k`` alone replays k
    and everything after — dbt's ``--event-time-start``); to retry
    exactly one batch pass ``batch_keys=[k]`` (or ``begin=k,
    end=next_key``), which selects only the named batches.

    Returns the per-batch run report (batch key, rows written) —
    what ``dbt run`` prints per batch. Batches write one at a time
    to mirror dbt's retry-able unit; each write only shuffles that
    batch's slice (the ``begin``/``end`` window bounds a backfill).

    Scale shape: batch derivation is a narrow map; each overwrite
    prunes to one partition directory. A failed batch leaves its old
    partition intact (the overwrite is atomic per partition swap on
    real table formats)."""
    batched = source.withColumn(
        "batch_key",
        F.date_format(
            F.date_trunc(batch_grain, F.col(event_time)), "yyyy-MM-dd"
        ),
    )
    if begin is not None:
        batched = batched.filter(F.col("batch_key") >= F.lit(begin))
    if end is not None:
        batched = batched.filter(F.col("batch_key") < F.lit(end))
    if batch_keys is not None:
        batched = batched.filter(F.col("batch_key").isin(list(batch_keys)))
    keys = [
        r["batch_key"]
        for r in batched.select("batch_key").distinct().collect()
    ]
    report = []
    for k in sorted(keys):
        b = batched.filter(F.col("batch_key") == F.lit(k))
        n = b.count()
        (
            b.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_key")
            .parquet(sink_path)
        )
        report.append({"batch_key": k, "rows": n})
    return report
