"""``catalog.read_parquet``: the schema memo must never change what a
read returns. A warm read (schema known for the file state) returns
the same schema and rows as a raw ``spark.read.parquet``; an append,
a rewrite or an inference-conf flip re-infers; a missing path or an
empty directory raises exactly what the raw read raises."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from dbt_eamples_spark import artifacts as A
from dbt_eamples_spark import catalog as C


def _rows(df):
    return sorted(map(repr, df.collect()))


def _assert_same_read(spark, path):
    C.read_parquet(spark, path)  # cold: infers and remembers
    warm = C.read_parquet(spark, path)
    raw = spark.read.parquet(path)
    assert warm.schema == raw.schema
    assert _rows(warm) == _rows(raw)


def _is_warm(spark, path):
    return C._schema_key(spark, path) in C._PARQUET_SCHEMAS


@pytest.mark.parametrize("name", C.TABLES)
def test_warm_table_read_matches_raw(spark, sf_dir, name):
    path = C.table_path(sf_dir, name)
    if not os.path.exists(path):
        pytest.skip(f"no {name} table in the fixture")
    _assert_same_read(spark, path)
    assert _is_warm(spark, path)


def test_warm_artifact_read_matches_raw(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "arts"))
    A.load_or_build(
        spark, "memo_probe", "fp0",
        lambda: spark.range(50).select(
            "id", (F.col("id") * 0.5).alias("x"), F.array("id", "id").alias("v")
        ),
    )
    _assert_same_read(spark, A.artifact_path("memo_probe", "fp0"))


def test_warm_partitioned_read_matches_raw(spark, tmp_path):
    path = str(tmp_path / "parts")
    spark.range(40).select(
        "id", (F.col("id") % 4).alias("p"), F.lit("a").alias("s")
    ).write.partitionBy("p").parquet(path)
    _assert_same_read(spark, path)
    assert C.read_parquet(spark, path).columns == ["id", "s", "p"]
    conf = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")  # partition values read as strings
        assert dict(C.read_parquet(spark, path).dtypes)["p"] == "string"
    finally:
        spark.conf.set(conf, prev)


def test_appended_part_file_is_read(spark, tmp_path):
    path = str(tmp_path / "grow")
    spark.range(10).write.parquet(path)
    assert C.read_parquet(spark, path).count() == 10
    assert _is_warm(spark, path)
    spark.range(10, 15).write.mode("append").parquet(path)
    assert not _is_warm(spark, path)
    ids = sorted(r.id for r in C.read_parquet(spark, path).collect())
    assert ids == list(range(15))


def test_rewritten_file_with_added_column_reinfers(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert C.read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = C.read_parquet(spark, path)
    assert df.columns == ["a", "b"]
    assert _rows(df) == _rows(spark.read.parquet(path))


def test_binary_as_string_flip_reinfers(spark, tmp_path):
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x", b"y"], pa.binary())}), path)
    conf = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        assert dict(C.read_parquet(spark, path).dtypes)["b"] == "binary"
        spark.conf.set(conf, "true")
        assert dict(C.read_parquet(spark, path).dtypes)["b"] == "string"
    finally:
        spark.conf.set(conf, prev)


@pytest.mark.parametrize("kind", ["missing", "empty_dir"])
def test_unreadable_path_raises_as_raw(spark, tmp_path, kind):
    path = str(tmp_path / kind)
    if kind == "empty_dir":
        os.makedirs(path)
    with pytest.raises(AnalysisException) as raw:
        spark.read.parquet(path)
    with pytest.raises(AnalysisException) as got:
        C.read_parquet(spark, path)
    assert got.value.getCondition() == raw.value.getCondition()
    assert str(got.value) == str(raw.value)
    assert not _is_warm(spark, path)


def test_registered_views_follow_a_table_rewrite(spark, sf_dir, tmp_path):
    """register_tables is memoized per session and dir; rewriting a
    table in the same session must re-register its view, or a compiled
    metric query keeps reading the old rows."""
    work = str(tmp_path / "sf")
    shutil.copytree(sf_dir, work)
    # a directory-backed orders table, so the rewrite adds a part file
    # an old view's file listing would not see
    orders = C.table_path(work, "orders")
    t = pq.read_table(orders)
    os.remove(orders)
    os.makedirs(orders)
    pq.write_table(t, os.path.join(orders, "part-0.parquet"))
    query = entrymod.queries()["metric_compiled_filtered"]
    try:
        before = {r.orderstatus: r.order_count for r in query(spark, work).collect()}
        pq.write_table(t, os.path.join(orders, "part-1.parquet"))
        after = {r.orderstatus: r.order_count for r in query(spark, work).collect()}
        assert after == {k: 2 * v for k, v in before.items()}
    finally:
        C.register_tables(spark, sf_dir)  # views back on the fixture
