"""The composed embeddings ingest loop, checked in the default lane.

Two batches go through ``ingest_embeddings_batch`` once per session
(the ``embeddings_ingest_replay`` fixture in conftest.py). Their
report counts and all four published artifacts must equal what
one-shot builds over the corpus give. The multi-batch replay,
idempotence, streaming and retrain suites stay in the slow lane
(tests/test_ingest_pipeline.py); the plane-count resize through the
loop is the slow test at the end of this file."""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from dbt_eamples_spark import artifacts as A
from dbt_eamples_spark.operators import dedup as D
from dbt_eamples_spark.operators import similarity as S
from dbt_eamples_spark.operators import vecsql
from dbt_eamples_spark.streaming import ingest as I


def _ctr(rows):
    # centroid rows carry an array column; make every row hashable
    return Counter(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in rows
    )


def _standing(spark, corpus_dir):
    return (
        spark.read.parquet(os.path.join(corpus_dir, "embeddings.parquet"))
        .filter(F.col("vec_id") % 10 != 0)
        .select("vec_id", vecsql.as_double("embedding").alias("vec"))
    )


def test_two_batches_equal_one_shot(
    spark, embeddings_ingest_replay, tmp_path, monkeypatch
):
    rep = embeddings_ingest_replay
    corpus_dir, store = rep["corpus_dir"], rep["store"]
    fp_found, _, fp_final = rep["fps"]
    r1, r2 = rep["reports"]

    def stored(kind, fp):
        return _ctr(
            spark.read.parquet(os.path.join(store, kind, fp)).collect()
        )

    assert (r1["rows_appended"], r1["convention_excluded"]) == (100, 0)
    assert (r2["rows_appended"], r2["convention_excluded"]) == (50, 50)
    assert not r1["ivf_retrained"] and not r2["ivf_retrained"]
    for r in (r1, r2):
        assert set(r["artifacts_published"]) == set(
            I.EMBEDDING_ARTIFACT_KINDS
        )
    # batch 2 read every base artifact warm: its only builds are its
    # own publishes
    assert rep["builds"][1] == Counter(
        {k: 1 for k in I.EMBEDDING_ARTIFACT_KINDS}
    )

    # one-shot queries over the final corpus, in a scratch store
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "one_shot"))
    # batch 2 IS the convention class, so its batch×corpus leg is
    # dedup_incremental_cosine over the final corpus
    assert r2["near_dup_pairs"] == (
        D.dedup_incremental_cosine(spark, corpus_dir).count()
    )
    # the within-batch legs are the one-shot LSH pairs with both ends
    # in the batch, at the plane count both batches keyed at
    nplanes = S.lsh_planes(D.standing_count(spark, corpus_dir))
    assert nplanes == S.lsh_planes(350)
    pairs = D.dedup_embedding_cosine(
        spark, corpus_dir, nplanes=nplanes
    ).collect()
    assert r1["within_batch_pairs"] == sum(
        1 for p in pairs if p.vec_a % 10 >= 8 and p.vec_b % 10 >= 8
    )
    assert r2["within_batch_pairs"] == sum(
        1 for p in pairs if p.vec_a % 10 == 0 and p.vec_b % 10 == 0
    )

    # the published index equals a one-shot build over the final corpus
    want = _ctr(D.cosine_base_index(spark, corpus_dir).collect())
    assert stored("cosine_base_index", fp_final) == want and len(want) > 0
    # no retrain: the quantizer and the occupancy reference are the
    # founding one-shot build, republished by hard link (same inodes)
    for kind in ("ivf_centroids", "ivf_occupancy_ref"):
        assert stored(kind, fp_final) == stored(kind, fp_found)
        final_dir = os.path.join(store, kind, fp_final)
        parts = [f for f in os.listdir(final_dir) if f.endswith(".parquet")]
        assert parts and all(
            os.path.samefile(
                os.path.join(final_dir, f),
                os.path.join(store, kind, fp_found, f),
            )
            for f in parts
        )
    # the assignment index equals assigning the final standing corpus
    # against the published quantizer in one shot
    cent = spark.read.parquet(os.path.join(store, "ivf_centroids", fp_final))
    want = _ctr(S._assign_cells(_standing(spark, corpus_dir), cent).collect())
    assert stored("ivf_assign_index", fp_final) == want and len(want) > 0


@pytest.mark.slow
def test_resize_through_loop_equals_one_shot(spark, tmp_path, monkeypatch):
    """A batch that pushes the standing corpus across an lsh_planes
    step (900 -> 1260 rows: 4 planes -> 5) rebuilds the index inside
    the loop; the batch after it appends at the new plane count. The
    published index equals a one-shot build over the final corpus."""

    def vecs(lo, hi):
        return [
            (
                i,
                [float(((i * 37 + j * 11) % 97) - 48) / 48.0 for j in range(8)],
                0,
            )
            for i in range(lo, hi)
        ]

    schema = "vec_id long, embedding array<float>, label int"
    corpus_dir = str(tmp_path / "corpus")
    spark.createDataFrame(vecs(0, 1000), schema).write.parquet(
        os.path.join(corpus_dir, "embeddings.parquet")
    )
    assert S.lsh_planes(900) != S.lsh_planes(1260) == S.lsh_planes(1350)
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "arts"))
    for lo, hi in ((1000, 1400), (1400, 1500)):
        r = I.ingest_embeddings_batch(
            spark, spark.createDataFrame(vecs(lo, hi), schema), corpus_dir,
            maintain_artifacts=True,
        )
        assert r["rows_appended"] == hi - lo
    fp = A.corpus_fingerprint(corpus_dir, "embeddings")
    got = _ctr(
        spark.read.parquet(A.artifact_path("cosine_base_index", fp)).collect()
    )
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "one_shot"))
    want = _ctr(D.cosine_base_index(spark, corpus_dir).collect())
    assert got == want and len(want) > 0
