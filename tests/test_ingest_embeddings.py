"""The composed embeddings ingest loop, checked in the default lane.

Two batches go through ``ingest_embeddings_batch`` once per session
(the ``embeddings_ingest_replay`` fixture in conftest.py). Their
report counts and all four published artifacts must equal what
one-shot builds over the corpus give. The multi-batch replay,
idempotence, streaming and retrain suites stay in the slow lane
(tests/test_ingest_pipeline.py); the plane-count resize through the
loop is the slow test after it. The tests below those check what a
batch does instead of recomputing: the one-action probe against the
two probe legs it replaced, the standing count and the IVF state
carried to the next batch, and the schemas remembered for the files
the loops write."""

from __future__ import annotations

import os
import warnings
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


# ---- the one-action probe against the two legs it replaced -----------------
# The reference legs are the builder forms the ingest loop ran before
# cosine_delta_pairs: a delta x base probe and a within-delta probe,
# each with its own eagerly pinned candidates and its own verify.


def _ref_verify(v, cands):
    ids = (
        cands.select(F.col("vec_a").alias("vec_id"))
        .union(cands.select(F.col("vec_b").alias("vec_id")))
        .distinct()
    )
    nrm = vecsql.norm("vec")
    cand_vecs = v.join(F.broadcast(ids), "vec_id").select(
        "vec_id", "vec", nrm.alias("nrm")
    )
    a = cand_vecs.select(
        F.col("vec_id").alias("vec_a"), F.col("vec").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = cand_vecs.select(
        F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    return (
        cands.join(F.broadcast(a), "vec_a")
        .join(F.broadcast(b), "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(
                F.try_divide(vecsql.dot("va", "vb"), F.col("na") * F.col("nb")),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= D.COSINE_NEAR_DUP)
    )


def _ref_base_keys(keyed, id_alias):
    return keyed.select(
        F.col("vec_id").alias(id_alias),
        F.explode(F.array(*[
            F.struct(
                F.lit(t).alias("t"), F.element_at(f"p{t}", 1).alias("bucket")
            )
            for t in range(S.DEDUP_LSH_TABLES)
        ])).alias("tb"),
    ).select(id_alias, "tb.t", "tb.bucket")


def _ref_probe_keys(keyed, id_alias):
    return keyed.select(
        F.col("vec_id").alias(id_alias),
        F.explode(S.probe_key_pairs(S.DEDUP_LSH_TABLES)).alias("tb"),
    ).select(id_alias, "tb.t", "tb.bucket")


def _ref_vs_base(spark, corpus_dir, keyed):
    from dbt_eamples_spark.catalog import load_table

    emb = load_table(
        spark, corpus_dir, "embeddings", parallelize=True
    ).select("vec_id", vecsql.as_double("embedding").alias("vec"))
    cands = (
        _ref_probe_keys(keyed, "new_vec")
        .join(D.cosine_base_index(spark, corpus_dir), ["t", "bucket"])
        .select("new_vec", "corpus_vec")
        .distinct()
        .localCheckpoint(eager=True)
    )
    nrm = vecsql.norm("vec")
    a = keyed.join(
        F.broadcast(cands.select(F.col("new_vec").alias("vec_id")).distinct()),
        "vec_id",
    ).select(
        F.col("vec_id").alias("new_vec"), F.col("vec").alias("va"),
        nrm.alias("na"),
    )
    b = emb.join(
        F.broadcast(
            cands.select(F.col("corpus_vec").alias("vec_id")).distinct()
        ),
        "vec_id",
    ).select(
        F.col("vec_id").alias("corpus_vec"), F.col("vec").alias("vb"),
        nrm.alias("nb"),
    )
    return (
        cands.join(F.broadcast(a), "new_vec")
        .join(F.broadcast(b), "corpus_vec")
        .select(
            F.col("new_vec").alias("vec_a"),
            F.col("corpus_vec").alias("vec_b"),
            F.round(
                F.try_divide(vecsql.dot("va", "vb"), F.col("na") * F.col("nb")),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= D.COSINE_NEAR_DUP)
    )


def _ref_within(keyed):
    cands = (
        _ref_base_keys(keyed, "vec_a")
        .join(_ref_probe_keys(keyed, "vec_b"), ["t", "bucket"])
        .filter(F.col("vec_a") != F.col("vec_b"))
        .select(
            F.least("vec_a", "vec_b").alias("vec_a"),
            F.greatest("vec_a", "vec_b").alias("vec_b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    return _ref_verify(keyed.select("vec_id", "vec"), cands)


def _pairs(rows):
    return Counter((r.vec_a, r.vec_b, float.hex(r.cosine)) for r in rows)


def assert_probe_equals_two_legs_collect(spark, corpus_dir, keyed):
    """Collect the one-action probe of a pinned keyed batch and the two
    reference legs; each leg's verified pairs must be the same rows
    with bit-identical cosines. Returns the pair count per leg."""
    got = {"base": [], "within": []}
    for r in D.cosine_delta_pairs(spark, corpus_dir, keyed).collect():
        got[r.leg].append(r)
    assert _pairs(got["base"]) == _pairs(
        _ref_vs_base(spark, corpus_dir, keyed).collect()
    )
    assert _pairs(got["within"]) == _pairs(_ref_within(keyed).collect())
    return {leg: len(rows) for leg, rows in got.items()}


def _probe_batches(spark, corpus_dir, batches):
    """Probe each batch against the corpus as the loop does (keyed at
    the standing count's plane count, pinned, before its append), then
    append it; returns the per-leg pair counts and the plane counts."""
    counts, planes = [], []
    path = os.path.join(corpus_dir, "embeddings.parquet")
    for batch in batches:
        nplanes = S.lsh_planes(D.standing_count(spark, corpus_dir))
        keyed = D.cosine_delta_keys(
            batch.withColumn("vec", vecsql.as_double("embedding")), nplanes
        ).localCheckpoint(eager=True)
        counts.append(assert_probe_equals_two_legs_collect(spark, corpus_dir, keyed))
        planes.append(nplanes)
        batch.write.mode("append").parquet(path)
    return counts, planes


def test_probe_equals_two_legs_on_replay_batches(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The replay fixture's corpus and batches (vec_id % 10 in 1..7,
    then {8, 9}, then 0), probed one batch at a time."""
    from dbt_eamples_spark.catalog import load_table

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "arts"))
    corpus_dir = str(tmp_path / "corpus")
    emb = load_table(spark, sf_dir, "embeddings")
    emb.filter(
        (F.col("vec_id") % 10 >= 1) & (F.col("vec_id") % 10 <= 7)
    ).write.parquet(os.path.join(corpus_dir, "embeddings.parquet"))
    counts, _ = _probe_batches(spark, corpus_dir, [
        emb.filter(F.col("vec_id") % 10 >= 8),
        emb.filter(F.col("vec_id") % 10 == 0),
    ])
    # the replay's reported near_dup_pairs
    assert [c["base"] for c in counts] == [14, 10]


def _synthetic(spark, lo, hi):
    """8-dim vectors that repeat with period 97 in vec_id: every
    batch holds exact duplicates of the corpus and of itself."""
    rows = [
        (i, [float(((i * 37 + j * 11) % 97) - 48) / 48.0 for j in range(8)], 0)
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_probe_equals_two_legs_across_resize(spark, tmp_path, monkeypatch):
    """A batch that pushes the standing corpus across an lsh_planes
    step (900 -> 1260 rows: 4 planes -> 5), then one keyed at the new
    plane count against the rebuilt index."""
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "arts"))
    corpus_dir = str(tmp_path / "corpus")
    _synthetic(spark, 0, 1000).write.parquet(
        os.path.join(corpus_dir, "embeddings.parquet")
    )
    counts, planes = _probe_batches(spark, corpus_dir, [
        _synthetic(spark, 1000, 1400), _synthetic(spark, 1400, 1500)
    ])
    assert planes == [S.lsh_planes(900), S.lsh_planes(1260)]
    assert planes[0] != planes[1]
    assert all(c["base"] > 0 and c["within"] > 0 for c in counts)


# ---- the carried standing count --------------------------------------------


def test_carried_count_falls_back_after_rewrite(spark, sf_dir, tmp_path):
    """Each batch carries the grown standing count into the session
    store under the new corpus fingerprint; the next batch reads it
    without a count. A rewrite of the table between two batches
    changes the fingerprint, so the next batch counts again. Every
    carried count equals a fresh count of the table."""
    from dbt_eamples_spark.catalog import load_table

    corpus_dir = str(tmp_path / "corpus")
    path = os.path.join(corpus_dir, "embeddings.parquet")
    emb = load_table(spark, sf_dir, "embeddings")
    emb.filter(F.col("vec_id") % 10 <= 5).write.parquet(path)

    def fresh():
        return spark.read.parquet(path).filter(F.col("vec_id") % 10 != 0).count()

    def ingest(batch):
        n = len(A.SESSION_EVENTS)
        I.ingest_embeddings_batch(spark, batch, corpus_dir)
        counted = ("standing_count", "build") in A.SESSION_EVENTS[n:]
        n = len(A.SESSION_EVENTS)
        carried = D.standing_count(spark, corpus_dir)
        assert A.SESSION_EVENTS[n:] == [("standing_count", "hit")]
        assert carried == fresh()
        return counted

    A.clear_session_state()
    assert ingest(emb.filter(F.col("vec_id") % 10 == 6))
    assert not ingest(emb.filter(F.col("vec_id") % 10 == 7))
    # rewrite the corpus without its vec_id % 10 == 1 rows
    kept = spark.read.parquet(path).filter(F.col("vec_id") % 10 != 1)
    spark.createDataFrame(kept.collect(), kept.schema).write.mode(
        "overwrite"
    ).parquet(path)
    assert ingest(emb.filter(F.col("vec_id") % 10 == 8))
    assert not ingest(emb.filter(F.col("vec_id") % 10 == 9))


# ---- the carried IVF state ---------------------------------------------------


def _assert_carried_ivf_state(spark, corpus_dir):
    """The session holds the IVF state of the corpus's current state,
    and it equals fresh reads of the IVF artifacts published there."""
    fp = A.corpus_fingerprint(corpus_dir, "embeddings")
    n = len(A.SESSION_EVENTS)
    st = S.ivf_state(spark, corpus_dir)
    assert A.SESSION_EVENTS[n:] == [("ivf_state", "hit")]

    def stored(kind):
        return spark.read.parquet(A.artifact_path(kind, fp))

    assert st.cents == S._cent_vals(stored("ivf_centroids"))
    assert st.ref == {r.cell: r.n for r in stored("ivf_occupancy_ref").collect()}
    assert st.union == dict(
        stored("ivf_assign_index").groupBy("cell").count().collect()
    )
    return st


def test_carried_ivf_state_falls_back_after_rewrite(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Each batch carries the IVF state of the artifacts it publishes
    into the session store under the new corpus fingerprint; the next
    batch reads it without a job. A rewrite of the table between two
    batches changes the fingerprint, so the next batch rebuilds the
    entry from the stored artifacts."""
    from dbt_eamples_spark.catalog import load_table

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "arts"))
    corpus_dir = str(tmp_path / "corpus")
    path = os.path.join(corpus_dir, "embeddings.parquet")
    emb = load_table(spark, sf_dir, "embeddings")
    emb.filter(
        (F.col("vec_id") % 10 >= 1) & (F.col("vec_id") % 10 <= 7)
    ).write.parquet(path)

    def ingest(batch):
        n = len(A.SESSION_EVENTS)
        r = I.ingest_embeddings_batch(
            spark, batch, corpus_dir, maintain_artifacts=True
        )
        assert not r["ivf_retrained"]
        built = ("ivf_state", "build") in A.SESSION_EVENTS[n:]
        _assert_carried_ivf_state(spark, corpus_dir)
        return built

    A.clear_session_state()
    assert ingest(emb.filter(F.col("vec_id") % 10 == 8))
    assert not ingest(emb.filter(F.col("vec_id") % 10 == 9))
    # rewrite the corpus without its vec_id % 10 == 1 rows
    kept = spark.read.parquet(path).filter(F.col("vec_id") % 10 != 1)
    spark.createDataFrame(kept.collect(), kept.schema).write.mode(
        "overwrite"
    ).parquet(path)
    assert ingest(emb.filter(F.col("vec_id") % 10 == 0))


def test_carried_ivf_state_after_retrain(spark, tmp_path, monkeypatch):
    """A batch that drifts the occupancy past the trigger retrains the
    quantizer; the state it carries is the retrained one, with the
    reference re-anchored at the retrained assignment."""
    def spread(lo, hi):
        return [
            (i, [float(((i * 37 + j * 11) % 97) - 48) / 48.0 for j in range(8)], 0)
            for i in range(lo, hi)
        ]

    def clustered(lo, hi):
        return [(i, [1.0 + 0.001 * float(i % 7)] + [0.01] * 7, 0) for i in range(lo, hi)]

    schema = "vec_id long, embedding array<float>, label int"
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "arts"))
    corpus_dir = str(tmp_path / "corpus")
    spark.createDataFrame(spread(0, 200), schema).write.parquet(
        os.path.join(corpus_dir, "embeddings.parquet")
    )
    founding = S.ivf_state(spark, corpus_dir)
    r = I.ingest_embeddings_batch(
        spark, spark.createDataFrame(clustered(200, 600), schema), corpus_dir,
        maintain_artifacts=True,
    )
    assert r["ivf_retrained"]
    st = _assert_carried_ivf_state(spark, corpus_dir)
    assert st.ref == st.union != founding.ref
    assert st.cents != founding.cents


# ---- schemas the loops remember instead of inferring ------------------------


def _assert_remembered_schema(spark, path):
    from dbt_eamples_spark import catalog as C

    remembered = C._PARQUET_SCHEMAS.get(C._schema_key(spark, path))
    assert remembered is not None, path
    assert remembered == spark.read.parquet(path).schema, path


def test_remembered_schemas_equal_inference(spark, embeddings_ingest_replay):
    """After the last batch, the appended corpus and every artifact
    the batch published have a remembered schema, and it is exactly
    what a fresh parquet read infers."""
    rep = embeddings_ingest_replay
    _assert_remembered_schema(
        spark, os.path.join(rep["corpus_dir"], "embeddings.parquet")
    )
    for kind in I.EMBEDDING_ARTIFACT_KINDS:
        _assert_remembered_schema(
            spark, os.path.join(rep["store"], kind, rep["fps"][-1])
        )


def test_document_loop_remembered_schemas_equal_inference(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The same for one document batch with every document artifact
    maintained: each of them is written through Spark."""
    from dbt_eamples_spark.catalog import load_table

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "arts"))
    corpus_dir = str(tmp_path / "corpus")
    docs = load_table(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") % 10 != 3).write.parquet(
        os.path.join(corpus_dir, "documents.parquet")
    )
    A.ARTIFACT_EVENTS.clear()
    with warnings.catch_warnings():
        # the fixture corpus is below the cluster delta's size crossover
        warnings.simplefilter("ignore", RuntimeWarning)
        report = I.ingest_documents_batch(
            spark, docs.filter(F.col("doc_id") % 10 == 3), corpus_dir,
            maintain_artifacts=True,
        )
    assert set(report["artifacts_published"]) == set(I.DOCUMENT_ARTIFACT_KINDS)
    fp = A.corpus_fingerprint(corpus_dir, "documents")
    _assert_remembered_schema(spark, os.path.join(corpus_dir, "documents.parquet"))
    for kind in I.DOCUMENT_ARTIFACT_KINDS:
        assert (kind, "build") in A.ARTIFACT_EVENTS
        _assert_remembered_schema(spark, A.artifact_path(kind, fp))
