"""Sinks (SURVEY.md §2.1 S5/S6/S8).

Re-expresses the reference's three result egress paths:
 - append with audit column (`postgres_client.py:34-48`:
   ``insert_dt`` UTC timestamp added before ``to_sql(append)``)
 - CSV result file (`dbt_query.py:141-147`)
 - text/pretty formatting with decimal rounding and an empty-set
   message (`dbt_query.py:138-149`)
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_eamples_spark.catalog import load_table, read_parquet

AUDIT_COL = "insert_dt"


def with_audit_col(df: DataFrame, ts: dt.datetime | None = None) -> DataFrame:
    """Add the ``insert_dt`` audit column (UTC, second granularity —
    `postgres_client.py:39` formats ``%Y-%m-%d %H:%M:%S``). Pass a
    fixed ``ts`` for deterministic tests; default is now()."""
    col = (
        F.lit(ts.strftime("%Y-%m-%d %H:%M:%S")).cast("timestamp")
        if ts is not None
        else F.date_trunc("second", F.current_timestamp())
    )
    return df.withColumn(AUDIT_COL, col)


def append_with_audit_col_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: the appended frame with a FIXED audit
    timestamp (current_timestamp() can't hash-match an oracle)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    fixed = dt.datetime(2026, 1, 1, 0, 0, 0)
    return with_audit_col(
        ev.select("event_id", "user_id", "value"), fixed
    )


def sink_csv(df: DataFrame, path: str) -> None:
    """Header + rows CSV (`dbt_query.py:141-147` writes header then
    row loop). Distributed write; for a single file the caller
    coalesces — the reference's CSV was always driver-side small."""
    df.write.option("header", True).mode("overwrite").csv(path)


def sink_csv_roundtrip_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: write a small result to CSV and read
    it back with an explicit schema — proves header/quoting/type
    fidelity through the sink."""
    checkout = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    out = os.path.join(checkout, ".tmp", "sink_csv_query")
    src = (
        load_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
    )
    src.coalesce(1).write.option("header", True).mode("overwrite").csv(out)
    return spark.read.option("header", True).schema(
        "n_nationkey int, n_name string, n_regionkey int"
    ).csv(out)


def result_text_format(
    df: DataFrame, decimals: int = 2, max_rows: int = 100
) -> str:
    """Pretty text with rounding and empty-set message
    (`dbt_query.py:138-149`: ``🕳 query returned no results`` when
    row_count == 0, else ``text_format(decimals)``)."""
    rows = df.limit(max_rows + 1).collect()
    if not rows:
        return "query returned no results"
    cols = df.columns
    def fmt(v):
        if isinstance(v, float):
            return f"{v:.{decimals}f}"
        return "" if v is None else str(v)
    header = " | ".join(cols)
    body = "\n".join(" | ".join(fmt(v) for v in row) for row in rows[:max_rows])
    return f"{header}\n{body}"


def result_text_format_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: per-row formatted line with the
    default 2-decimal display rounding."""
    r = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.avg("o_totalprice").alias("avg_price"))
    )
    return r.select(
        "o_orderpriority",
        F.concat_ws(
            " | ",
            F.col("o_orderpriority"),
            F.col("avg_price").cast("decimal(18,2)").cast("string"),
        ).alias("line"),
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_key: str,
    n_buckets: int = 32,
    sort_key: str | None = None,
) -> None:
    """Persist a table bucketed (hash-partitioned files + metastore
    bucket spec) on its join key. Two tables bucketed on the same
    key with the same bucket count join with ZERO exchange — the
    co-location is decided at write time, which at 100 TB is the
    difference between a metadata-only join and re-shuffling both
    sides on every query (asserted shuffle-free in
    tests/test_pipeline.py::test_bucketed_join_is_shuffle_free).
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_key)
    if sort_key is not None:
        w = w.sortBy(sort_key)
    w.format("parquet").saveAsTable(table)


def write_partitioned(
    df: DataFrame, path: str, partition_col: str
) -> None:
    """Persist partitioned by a (derived) column — the layout that
    makes time-ranged queries at 100 TB metadata-prunable: a filter
    on the partition column becomes a PartitionFilters entry in the
    scan (directories never listed, files never opened) instead of
    a data filter over every row
    (tests/test_pipeline.py::test_partitioned_write_prunes)."""
    df.write.mode("overwrite").partitionBy(partition_col).parquet(path)


def overwrite_partitions_dynamic(
    df: DataFrame, path: str, partition_col: str
) -> None:
    """Idempotent partition backfill: overwrite ONLY the partitions
    present in ``df``, leaving every other partition untouched —
    Spark's dynamic partitionOverwriteMode, the mechanism that makes
    "re-run yesterday's load" safe at 100 TB (static overwrite mode
    would truncate the whole table first; appending would duplicate
    the re-run rows — exactly the reference cron job's failure mode,
    `transactions_dag.py:35-44`, which relies on never re-running).
    The mode is set per-write via the session conf, saved/restored so
    the caller's other writes keep their semantics."""
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(partition_col).parquet(path)
    finally:
        spark.conf.set(key, prev)


def write_clustered(
    df: DataFrame, path: str, cluster_col: str, n_files: int = 8
) -> None:
    """Range-clustered write: repartitionByRange + in-partition sort
    on ``cluster_col`` so each output file covers a DISJOINT value
    range. Parquet records per-file/per-row-group min/max; a range
    predicate then skips whole files at plan time instead of reading
    and filtering — the single-column form of what table formats
    call clustering/Z-ordering, and the layout decision that turns a
    100 TB full scan into a handful of file reads for selective
    queries (asserted via per-file footer ranges in
    tests/test_pipeline.py). Range partitioning samples the column
    (one extra pass) — the write-time cost buying every later read."""
    (
        df.repartitionByRange(n_files, F.col(cluster_col))
        .sortWithinPartitions(cluster_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction (the OPTIMIZE housekeeping every
    long-running ingest needs): rewrite a parquet directory into
    ⌈total_bytes / target⌉ files of ~target size.

    The streaming/cron append paths legitimately produce one file
    per micro-batch; at 100 TB that degrades scans (task-per-file
    scheduling overhead, lost row-group locality) and listing. File
    count derives from the directory's actual byte size — a cheap
    driver-side metadata listing, NOT a data pass; the single data
    pass is the coalesce-rewrite. ``coalesce`` (not ``repartition``)
    avoids a shuffle: it unions input splits per output task, which
    is exactly right for compaction since row order within a file is
    irrelevant. Returns the resulting file count.

    Durability: the rewrite stages to a sibling temp dir; the swap
    is two renames with a recovery handler — if the second rename
    fails, the first is rolled back so the live path is restored
    rather than stranded at ``._compact_old``. A failure during the
    rewrite itself only leaves a temp dir behind. The driver-side
    os.walk/os.rename swap makes this a LOCAL-FILESYSTEM utility (a
    single-mount sink dir); object-store deployments compact via
    their table format (rewrite to a new prefix, flip a manifest),
    where rename is not atomic anyway."""
    import math
    import os
    import shutil

    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    tmp = path.rstrip("/") + "._compact_tmp"
    read_parquet(spark, path).coalesce(n_files).write.mode(
        "overwrite"
    ).parquet(tmp)
    old = path.rstrip("/") + "._compact_old"
    os.rename(path, old)
    try:
        os.rename(tmp, path)
    except BaseException:
        os.rename(old, path)  # restore the live dir, then re-raise
        raise
    shutil.rmtree(old)
    return sum(
        1
        for _, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
