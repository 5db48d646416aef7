"""The composed ingest loop (VERDICT r9 #3): micro-batch → idempotent
append → ALL document indexes delta-maintained + published →
incremental probe report. The contract under test:

(a) after two batches, every artifact in the store is row-identical
    to a ONE-SHOT build over the final corpus;
(b) each batch's probe output matches the batch-restricted full
    query on the corpus as of that batch;
(c) re-delivering the batches appends zero rows and publishes
    nothing (the existing idempotence contract, preserved).

Batch 2 is the load-bearing case: its apply_delta calls must find
every base artifact WARM at the post-batch-1 fingerprint (published
by batch 1), never re-tokenizing the grown corpus — asserted through
ARTIFACT_EVENTS."""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from dbt_eamples_spark import artifacts as A
from dbt_eamples_spark.catalog import load_table
from dbt_eamples_spark.operators import dedup as D
from dbt_eamples_spark.operators import multimodal as M
from dbt_eamples_spark.operators import vecsql
from dbt_eamples_spark.streaming import ingest as I

# slow lane (VERDICT r14 #2): multi-batch ingest replay equivalence —
# excluded from the default run so `pytest tests/ -x -q` fits the
# driver's verify budget; the close ritual runs it via --runslow.
pytestmark = pytest.mark.slow


def _ctr(rows):
    # array columns (doc_shingles.shingles) need a hashable form
    return Counter(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in rows
    )


@pytest.fixture()
def art_dir(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "arts"))
    A.ARTIFACT_EVENTS.clear()
    A.clear_session_state()
    yield str(tmp_path / "arts")
    A.clear_session_state()


# builders that read the current corpus state from scratch, by kind
_BUILDERS = {
    "doc_shingles": lambda s, d: D.doc_shingles(s, d),
    "ngram_block_index": lambda s, d: D._ngram_block_index(s, d),
    "ngram_jaccard_pairs": lambda s, d: D._ngram_pairs(s, d),
    "minhash_band_index": lambda s, d: D.minhash_band_index(s, d),
    "minhash_band_index_full": lambda s, d: D.minhash_band_index_full(s, d),
    "phash_band_index": lambda s, d: M.phash_band_index(s, d),
    "span_profile": lambda s, d: D._span_profile(s, d),
    "span_dup_stats": lambda s, d: D._span_dup_stats(s, d),
    "doc_span_index": lambda s, d: D._doc_span_index(s, d),
    "span_hash_index": lambda s, d: D._span_hash_index(s, d),
    "cluster_labels": lambda s, d: D.cluster_labels(s, d),
}


class TestIngestPipeline:
    def _setup(self, spark, sf_dir, tmp_path):
        docs = load_table(spark, sf_dir, "documents")
        corpus_dir = str(tmp_path / "corpus")
        os.makedirs(corpus_dir, exist_ok=True)
        docs.filter(
            (F.col("doc_id") % 10 >= 1) & (F.col("doc_id") % 10 <= 7)
        ).write.parquet(os.path.join(corpus_dir, "documents.parquet"))
        b1 = docs.filter(F.col("doc_id") % 10 == 8)
        # batch 2 carries %10 == 0 ids on purpose: the convention
        # filter inside the band-index deltas must hold end-to-end
        b2 = docs.filter(
            (F.col("doc_id") % 10 == 9) | (F.col("doc_id") % 10 == 0)
        )
        return corpus_dir, b1, b2

    def test_two_batch_replay(self, spark, sf_dir, tmp_path, art_dir):
        corpus_dir, b1, b2 = self._setup(spark, sf_dir, tmp_path)

        r1 = I.ingest_documents_batch(
            spark, b1, corpus_dir, maintain_artifacts=True
        )
        assert r1["rows_appended"] == b1.count()
        assert set(r1["artifacts_published"]) == set(
            I.DOCUMENT_ARTIFACT_KINDS
        )

        # (b) batch-1 probe == minhash pairs of the corpus-as-of-now
        # restricted to pairs involving batch-1 docs
        A.clear_session_state()
        b1_ids = {r.doc_id for r in b1.select("doc_id").collect()}
        full_now = D.dedup_minhash(spark, corpus_dir).collect()
        want = sum(
            1 for r in full_now
            if r.doc_a in b1_ids or r.doc_b in b1_ids
        )
        assert r1["near_dup_pairs"] == want

        # batch 2 is delivered OVERLAPPING (b1 rows re-sent alongside
        # the new b2 rows — the at-least-once delivery a file drop
        # gives you): the anti-join must strip the b1 half and the
        # maintenance must see only the truly-new rows. Every base
        # read must be WARM (published by batch 1).
        A.ARTIFACT_EVENTS.clear()
        A.clear_session_state()
        r2 = I.ingest_documents_batch(
            spark, b1.unionByName(b2), corpus_dir,
            maintain_artifacts=True,
        )
        assert r2["rows_appended"] == b2.count()
        base_builds = {
            k for k, e in A.ARTIFACT_EVENTS
            if e == "build" and k in I.DOCUMENT_ARTIFACT_KINDS
        }
        # the only builds are the batch-2 publishes themselves: one
        # per kind; base reads during planning were all reuses
        events_by_kind = Counter(
            k for k, e in A.ARTIFACT_EVENTS
            if e == "build" and k in I.DOCUMENT_ARTIFACT_KINDS
        )
        assert base_builds == set(I.DOCUMENT_ARTIFACT_KINDS)
        assert all(v == 1 for v in events_by_kind.values()), (
            f"re-build of a base artifact crept in: {events_by_kind}"
        )

        # (a) every artifact equals a one-shot build over the union
        from dbt_eamples_spark.artifacts import corpus_fingerprint

        fp_final = corpus_fingerprint(corpus_dir, "documents")
        incremental = {}
        for kind in I.DOCUMENT_ARTIFACT_KINDS:
            path = A.artifact_path(kind, fp_final)
            assert os.path.exists(os.path.join(path, "_SUCCESS")), kind
            incremental[kind] = _ctr(
                spark.read.parquet(path).collect()
            )
        # scratch rebuild in a separate store
        os.environ["SPARK_GRAFT_ARTIFACTS"] = str(
            tmp_path / "arts_scratch"
        )
        A.clear_session_state()
        try:
            for kind in I.DOCUMENT_ARTIFACT_KINDS:
                want = _ctr(_BUILDERS[kind](spark, corpus_dir).collect())
                assert incremental[kind] == want, (
                    f"{kind}: incremental != one-shot rebuild"
                )
                assert len(want) > 0, kind
        finally:
            os.environ["SPARK_GRAFT_ARTIFACTS"] = art_dir
            A.clear_session_state()

        # (c) re-delivering both batches is a no-op
        A.ARTIFACT_EVENTS.clear()
        for b in (b1, b2):
            r = I.ingest_documents_batch(
                spark, b, corpus_dir, maintain_artifacts=True
            )
            assert r == {
                "rows_appended": 0,
                "near_dup_pairs": 0,
                "artifacts_published": [],
            }
        assert not [e for _, e in A.ARTIFACT_EVENTS if e == "build"]
        assert corpus_fingerprint(corpus_dir, "documents") == fp_final

    def test_within_batch_duplicates(self, spark, sf_dir, tmp_path, art_dir):
        """ADVICE r10 (medium): the at-least-once file source can
        deliver the same doc_id twice WITHIN one micro-batch. The
        corpus anti-join only strips rows already persisted, so the
        batch itself must be deduped first — otherwise the duplicate
        is appended twice and fed to every apply_delta with
        assume_new_ids=True, breaking the artifacts==rebuild
        invariant."""
        corpus_dir, b1, _ = self._setup(spark, sf_dir, tmp_path)
        r = I.ingest_documents_batch(
            spark, b1.unionByName(b1), corpus_dir,
            maintain_artifacts=True,
        )
        assert r["rows_appended"] == b1.count()
        docs = spark.read.parquet(
            os.path.join(corpus_dir, "documents.parquet")
        )
        assert (
            docs.groupBy("doc_id").count()
            .filter(F.col("count") > 1).count() == 0
        )
        # delta-maintained artifacts still equal a one-shot rebuild
        fp = A.corpus_fingerprint(corpus_dir, "documents")
        got = {
            kind: _ctr(
                spark.read.parquet(A.artifact_path(kind, fp)).collect()
            )
            for kind in ("doc_shingles", "minhash_band_index")
        }
        os.environ["SPARK_GRAFT_ARTIFACTS"] = str(
            tmp_path / "arts_scratch_dup"
        )
        A.clear_session_state()
        try:
            for kind, inc in got.items():
                want = _ctr(_BUILDERS[kind](spark, corpus_dir).collect())
                assert inc == want, kind
        finally:
            os.environ["SPARK_GRAFT_ARTIFACTS"] = art_dir
            A.clear_session_state()

    def test_streaming_form(self, spark, sf_dir, tmp_path, art_dir):
        """The foreachBatch wrapper drains the source with
        AvailableNow and reports per batch; a rerun with a fresh
        checkpoint appends nothing."""
        corpus_dir, b1, _ = self._setup(spark, sf_dir, tmp_path)
        src = str(tmp_path / "incoming")
        os.makedirs(src, exist_ok=True)
        b1.coalesce(1).write.parquet(os.path.join(src, "b1.parquet"))

        reports = I.stream_document_ingest(
            spark, src, corpus_dir, str(tmp_path / "ckpt1"),
            maintain_artifacts=True,
        )
        assert [r["rows_appended"] for r in reports] == [b1.count()]
        assert set(reports[0]["artifacts_published"]) == set(
            I.DOCUMENT_ARTIFACT_KINDS
        )
        # rerun from scratch (fresh checkpoint): anti-join guard
        # makes the replay a zero-row no-op
        reports2 = I.stream_document_ingest(
            spark, src, corpus_dir, str(tmp_path / "ckpt2"),
            maintain_artifacts=True,
        )
        assert [r["rows_appended"] for r in reports2] == [0]


class TestEmbeddingsIngest:
    """The embeddings-side twin (VERDICT r10 #2): same two-phase
    shape around the cosine_base_index delta, probe ==
    batch-restricted dedup_incremental_cosine."""

    def _setup(self, spark, sf_dir, tmp_path):
        emb = load_table(spark, sf_dir, "embeddings")
        corpus_dir = str(tmp_path / "ecorpus")
        os.makedirs(corpus_dir, exist_ok=True)
        emb.filter(
            (F.col("vec_id") % 10 >= 1) & (F.col("vec_id") % 10 <= 7)
        ).write.parquet(os.path.join(corpus_dir, "embeddings.parquet"))
        b1 = emb.filter(
            (F.col("vec_id") % 10 == 8) | (F.col("vec_id") % 10 == 9)
        )
        # batch 2 is EXACTLY the %INCR_MOD == 0 convention class, so
        # post-ingest dedup_incremental_cosine's delta IS this batch
        b2 = emb.filter(F.col("vec_id") % 10 == 0)
        return corpus_dir, b1, b2

    def test_two_batch_replay(self, spark, sf_dir, tmp_path, art_dir):
        corpus_dir, b1, b2 = self._setup(spark, sf_dir, tmp_path)

        r1 = I.ingest_embeddings_batch(
            spark, b1, corpus_dir, maintain_artifacts=True
        )
        assert r1["rows_appended"] == b1.count()
        assert set(r1["artifacts_published"]) == set(
            I.EMBEDDING_ARTIFACT_KINDS
        )

        # probe contract for batch 2 (the convention class): the
        # pre-append delta probe must equal the post-append
        # dedup_incremental_cosine output row-for-row
        from dbt_eamples_spark.operators import dedup as D

        want_probe = _ctr(
            D.cosine_pairs_delta_new(spark, corpus_dir, b2).collect()
        )

        # batch 2 delivered OVERLAPPING with the already-ingested b1
        # rows (at-least-once file drop) AND self-duplicated: the
        # dropDuplicates + anti-join must reduce it to the new rows
        A.ARTIFACT_EVENTS.clear()
        r2 = I.ingest_embeddings_batch(
            spark, b1.unionByName(b2).unionByName(b2), corpus_dir,
            maintain_artifacts=True,
        )
        assert r2["rows_appended"] == b2.count()
        assert r2["near_dup_pairs"] == sum(want_probe.values())
        # zero base rebuilds in batch 2: the only build event is the
        # batch-2 publish itself (the base read was warm at the
        # post-batch-1 fingerprint published by batch 1)
        builds = Counter(
            k for k, e in A.ARTIFACT_EVENTS
            if e == "build" and k in I.EMBEDDING_ARTIFACT_KINDS
        )
        assert builds == Counter(
            {k: 1 for k in I.EMBEDDING_ARTIFACT_KINDS}
        ), builds

        emb_final = spark.read.parquet(
            os.path.join(corpus_dir, "embeddings.parquet")
        )
        assert (
            emb_final.groupBy("vec_id").count()
            .filter(F.col("count") > 1).count() == 0
        )

        # post-append: dedup_incremental_cosine (delta = the %10==0
        # class = exactly b2) equals the pre-append probe
        got_incr = _ctr(
            D.dedup_incremental_cosine(spark, corpus_dir)
            .select(
                F.col("new_vec").alias("vec_id_a"),
                F.col("corpus_vec").alias("vec_id_b"),
                "cosine",
            )
            .collect()
        )
        want_renamed = _ctr(
            D.cosine_pairs_delta_new(spark, corpus_dir, b2, True)
            .select(
                F.col("new_vec").alias("vec_id_a"),
                F.col("corpus_vec").alias("vec_id_b"),
                "cosine",
            )
            .collect()
        )
        assert got_incr == want_renamed
        # and the original pre-append probe is that same multiset
        assert want_probe == _ctr(
            D.cosine_pairs_delta_new(spark, corpus_dir, b2, True).collect()
        )

        # incremental index == one-shot rebuild over the final corpus
        fp_final = A.corpus_fingerprint(corpus_dir, "embeddings")
        inc = _ctr(
            spark.read.parquet(
                A.artifact_path("cosine_base_index", fp_final)
            ).collect()
        )
        os.environ["SPARK_GRAFT_ARTIFACTS"] = str(
            tmp_path / "arts_scratch_emb"
        )
        try:
            want = _ctr(D.cosine_base_index(spark, corpus_dir).collect())
        finally:
            os.environ["SPARK_GRAFT_ARTIFACTS"] = art_dir
        assert inc == want
        assert len(want) > 0

        # IVF invariant (round 12): on BOTH the append and the
        # retrain path, the published assignment index equals a
        # fresh assignment of the post-append standing corpus
        # against the PUBLISHED quantizer (FAISS add() semantics —
        # the quantizer is carried forward, not retrained, unless
        # the occupancy trigger fired and published a new one)
        from dbt_eamples_spark.operators.similarity import _assign_cells
        from dbt_eamples_spark.operators.vecsql import as_double

        cent_pub = spark.read.parquet(
            A.artifact_path("ivf_centroids", fp_final)
        )
        inc_ivf = _ctr(
            spark.read.parquet(
                A.artifact_path("ivf_assign_index", fp_final)
            ).collect()
        )
        standing = emb_final.filter(F.col("vec_id") % 10 != 0).select(
            "vec_id", as_double("embedding").alias("vec")
        )
        want_ivf = _ctr(_assign_cells(standing, cent_pub).collect())
        assert inc_ivf == want_ivf and len(want_ivf) > 0

        # every registered embedding artifact kind must exist in the
        # store under the UNION fingerprint after the loop (VERDICT
        # r11 #6 — registering a kind without the loop publishing it
        # must fail the suite, not silently skip maintenance)
        for kind in I.EMBEDDING_ARTIFACT_KINDS:
            assert os.path.exists(
                os.path.join(A.artifact_path(kind, fp_final), "_SUCCESS")
            ), f"{kind} not published under the union fingerprint"

        # idempotent replay
        A.ARTIFACT_EVENTS.clear()
        for b in (b1, b2):
            r = I.ingest_embeddings_batch(
                spark, b, corpus_dir, maintain_artifacts=True
            )
            assert r == {
                "rows_appended": 0,
                "near_dup_pairs": 0,
                "within_batch_pairs": 0,
                "convention_excluded": 0,
                "artifacts_published": [],
            }
        assert not [e for _, e in A.ARTIFACT_EVENTS if e == "build"]

    def test_streaming_form(self, spark, sf_dir, tmp_path, art_dir):
        """The foreachBatch wrapper over the embeddings loop drains
        with AvailableNow and reports per batch; a rerun with a
        fresh checkpoint appends nothing (the document-side
        streaming contract, mirrored)."""
        corpus_dir, b1, _ = self._setup(spark, sf_dir, tmp_path)
        src = str(tmp_path / "vec_incoming")
        os.makedirs(src, exist_ok=True)
        b1.coalesce(1).write.parquet(os.path.join(src, "b1.parquet"))

        reports = I.stream_embeddings_ingest(
            spark, src, corpus_dir, str(tmp_path / "eckpt1"),
            maintain_artifacts=True,
        )
        assert [r["rows_appended"] for r in reports] == [b1.count()]
        assert set(reports[0]["artifacts_published"]) == set(
            I.EMBEDDING_ARTIFACT_KINDS
        )
        reports2 = I.stream_embeddings_ingest(
            spark, src, corpus_dir, str(tmp_path / "eckpt2"),
            maintain_artifacts=True,
        )
        assert [r["rows_appended"] for r in reports2] == [0]


class TestHousekeeping:
    """VERDICT r10 #3: the loop must not accrete storage forever —
    gc_artifacts keeps the store under a byte budget with the newest
    generation intact, and compact_small_files bounds the corpus
    dir's file count with row-identical content."""

    def test_budgeted_three_batch_loop(
        self, spark, sf_dir, tmp_path, art_dir
    ):
        docs = load_table(spark, sf_dir, "documents")
        corpus_dir = str(tmp_path / "corpus")
        os.makedirs(corpus_dir, exist_ok=True)
        docs_path = os.path.join(corpus_dir, "documents.parquet")
        docs.filter(
            (F.col("doc_id") % 10 >= 1) & (F.col("doc_id") % 10 <= 6)
        ).write.parquet(docs_path)
        batches = [
            docs.filter(F.col("doc_id") % 10 == 7),
            docs.filter(F.col("doc_id") % 10 == 8),
            docs.filter(
                (F.col("doc_id") % 10 == 9) | (F.col("doc_id") % 10 == 0)
            ),
        ]
        # first batch un-budgeted to measure one generation's bytes
        # (planning also lands the pre-append base builds, so the
        # store holds TWO fingerprint generations after batch 1)
        r1 = I.ingest_documents_batch(
            spark, batches[0], corpus_dir, maintain_artifacts=True,
            compact_target_file_bytes=1 << 20,
        )
        assert r1["rows_appended"] == batches[0].count()
        assert r1["corpus_files"] >= 1
        total_after_b1 = sum(
            r["size_bytes"] for r in A.list_artifacts()
        )
        budget = total_after_b1  # room for ~2 generations, not more
        expect_rows = _ctr(
            spark.read.parquet(docs_path)
            .unionByName(batches[1]).unionByName(batches[2])
            .select("doc_id").collect()
        )
        for b in batches[1:]:
            A.clear_session_state()
            A.ARTIFACT_EVENTS.clear()
            r = I.ingest_documents_batch(
                spark, b, corpus_dir, maintain_artifacts=True,
                gc_max_total_bytes=budget,
                compact_target_file_bytes=1 << 20,
            )
            assert r["rows_appended"] == b.count()
            # GC never evicts what the next plan needs: every base
            # read this batch was warm (publish = 1 build per kind)
            builds = Counter(
                k for k, e in A.ARTIFACT_EVENTS
                if e == "build" and k in I.DOCUMENT_ARTIFACT_KINDS
            )
            assert all(v == 1 for v in builds.values()), builds
            assert builds.keys() == set(I.DOCUMENT_ARTIFACT_KINDS)
            # store stays under budget after each budgeted batch
            assert sum(
                rr["size_bytes"] for rr in A.list_artifacts()
            ) <= budget
            assert r["artifacts_gc_removed"] > 0

        # newest fingerprint's artifacts all intact and readable
        fp = A.corpus_fingerprint(corpus_dir, "documents")
        for kind in I.DOCUMENT_ARTIFACT_KINDS:
            p = A.artifact_path(kind, fp)
            assert os.path.exists(os.path.join(p, "_SUCCESS")), kind
            spark.read.parquet(p).head(1)

        # corpus dir: bounded file count, row-identical content
        parts = [
            f for f in os.listdir(docs_path) if f.endswith(".parquet")
        ]
        assert len(parts) <= 2, parts  # ~1 MB target, tiny corpus
        got_rows = _ctr(
            spark.read.parquet(docs_path).select("doc_id").collect()
        )
        assert got_rows == expect_rows


class TestIngestIvfRetrain:
    """Round 12: the occupancy-drift retrain must fire THROUGH the
    composed loop, not only via direct ivf_assign_apply_delta calls —
    a batch that collapses cell occupancy retrains the quantizer, the
    loop publishes the NEW quantizer + full reassignment under the
    union fingerprint, and the loop invariant (index == assignment of
    the post-append standing corpus against the published quantizer)
    holds on the retrain path too."""

    def test_drifting_batch_retrains_in_loop(
        self, spark, tmp_path, art_dir
    ):
        from dbt_eamples_spark.operators import similarity as S

        def spread(lo, hi):
            return [
                (
                    i,
                    [
                        float(((i * 37 + j * 11) % 97) - 48) / 48.0
                        for j in range(8)
                    ],
                    0,
                )
                for i in range(lo, hi)
            ]

        def clustered(lo, hi):
            return [
                (i, [1.0 + 0.001 * float(i % 7)] + [0.01] * 7, 0)
                for i in range(lo, hi)
            ]

        schema = "vec_id long, embedding array<float>, label int"
        cdir = str(tmp_path / "rt_loop")
        os.makedirs(cdir, exist_ok=True)
        spark.createDataFrame(spread(0, 200), schema).write.parquet(
            os.path.join(cdir, "embeddings.parquet")
        )
        batch = spark.createDataFrame(clustered(200, 600), schema)
        r = I.ingest_embeddings_batch(
            spark, batch, cdir, maintain_artifacts=True
        )
        assert r["ivf_retrained"] is True
        assert r["occupancy_psi"] > S.IVF_RETRAIN_PSI
        assert r["rows_appended"] == 400
        assert set(r["artifacts_published"]) == set(
            I.EMBEDDING_ARTIFACT_KINDS
        )

        fp = A.corpus_fingerprint(cdir, "embeddings")
        cent_pub = spark.read.parquet(
            A.artifact_path("ivf_centroids", fp)
        )
        got = _ctr(
            spark.read.parquet(
                A.artifact_path("ivf_assign_index", fp)
            ).collect()
        )
        standing = (
            spark.read.parquet(os.path.join(cdir, "embeddings.parquet"))
            .filter(F.col("vec_id") % 10 != 0)
            .select(
                "vec_id",
                vecsql.as_double("embedding").alias("vec"),
            )
        )
        want = _ctr(S._assign_cells(standing, cent_pub).collect())
        assert got == want and len(want) > 0
        # the retrained quantizer differs from the founding one (the
        # batch moved the distribution — carrying it forward would
        # have been the silent-degradation failure the trigger exists
        # to prevent). Compare against a scratch-store cold build on
        # the PRE-append corpus.
        os.environ["SPARK_GRAFT_ARTIFACTS"] = str(
            tmp_path / "rt_loop_scratch"
        )
        try:
            base_dir = str(tmp_path / "rt_loop_base")
            os.makedirs(base_dir, exist_ok=True)
            spark.createDataFrame(spread(0, 200), schema).write.parquet(
                os.path.join(base_dir, "embeddings.parquet")
            )
            founding = {
                (r2.cent_id, tuple(r2.cvec))
                for r2 in S.ivf_centroids(spark, base_dir).collect()
            }
        finally:
            os.environ["SPARK_GRAFT_ARTIFACTS"] = art_dir
        retrained = {
            (r2.cent_id, tuple(r2.cvec)) for r2 in cent_pub.collect()
        }
        assert retrained != founding


class TestIngestIvfGradualDrift:
    """Round 13 (ADVICE r12 medium): the retrain trigger must catch
    GRADUAL distribution drift, not only single-batch shocks. Before
    the founding-occupancy reference, each append re-anchored the PSI
    baseline at the just-published index, so a slow shift — every
    individual batch below IVF_RETRAIN_PSI — kept the quantizer
    frozen forever. With ivf_occupancy_ref pinned at train time,
    drift ACCUMULATES: the same sub-threshold batches eventually
    cross the trigger and retrain."""

    def test_sub_threshold_batches_accumulate_to_retrain(
        self, spark, tmp_path, art_dir
    ):
        from dbt_eamples_spark.operators import similarity as S

        def spread(lo, hi):
            return [
                (
                    i,
                    [
                        float(((i * 37 + j * 11) % 97) - 48) / 48.0
                        for j in range(8)
                    ],
                    0,
                )
                for i in range(lo, hi)
            ]

        def clustered(ids):
            return [
                (i, [1.0 + 0.001 * float(i % 7)] + [0.01] * 7, 0)
                for i in ids
            ]

        schema = "vec_id long, embedding array<float>, label int"
        cdir = str(tmp_path / "drift_loop")
        os.makedirs(cdir, exist_ok=True)
        spark.createDataFrame(spread(0, 200), schema).write.parquet(
            os.path.join(cdir, "embeddings.parquet")
        )
        # six 20-row batches, ids chosen off the %10 convention class
        # so every row lands in the standing corpus; each batch alone
        # shifts occupancy well under the trigger
        nxt = 201
        batches = []
        for _ in range(6):
            ids = []
            while len(ids) < 20:
                if nxt % 10 != 0:
                    ids.append(nxt)
                nxt += 1
            batches.append(ids)

        psis, retrains = [], []
        for ids in batches:
            r = I.ingest_embeddings_batch(
                spark,
                spark.createDataFrame(clustered(ids), schema),
                cdir,
                maintain_artifacts=True,
            )
            psis.append(r["occupancy_psi"])
            retrains.append(r["ivf_retrained"])
            if r["ivf_retrained"]:
                break

        # no single early batch fires; drift accumulates monotonically
        # against the train-time reference until one does
        assert retrains[0] is False, psis
        assert retrains[-1] is True, psis
        assert len(retrains) >= 3, psis  # gradual, not a one-batch shock
        pre = psis[:-1]
        assert all(b > a for a, b in zip(pre, pre[1:])), psis
        assert all(p <= S.IVF_RETRAIN_PSI for p in pre), psis
        assert psis[-1] > S.IVF_RETRAIN_PSI, psis

        # the retrain re-anchored the reference: the published
        # occupancy_ref equals the published index's cell counts
        fp = A.corpus_fingerprint(cdir, "embeddings")
        ref = _ctr(
            spark.read.parquet(
                A.artifact_path("ivf_occupancy_ref", fp)
            ).collect()
        )
        want = _ctr(
            spark.read.parquet(A.artifact_path("ivf_assign_index", fp))
            .groupBy("cell")
            .agg(F.count("*").alias("n"))
            .collect()
        )
        assert ref == want and len(want) > 0
