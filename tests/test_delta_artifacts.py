"""Delta maintenance for the pair-graph artifacts (VERDICT r8 #2):
`ngram_pairs_apply_delta` and `triangle_credits_apply_delta` must be
ROW-IDENTICAL to a from-scratch rebuild on the union corpus, while
paying only delta-side tokenize/hash/enumeration (the base side is
served by the persisted block index / edge artifact / credits).
The split fixtures deliberately include PARTIAL deltas (lineitem
rows extending existing baskets) so the touched-order rebuild path
is exercised, not just whole-new-group appends."""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from dbt_eamples_spark import artifacts as A
from dbt_eamples_spark.catalog import load_table
from dbt_eamples_spark.operators import dedup as D
from dbt_eamples_spark.operators import graph as G
from dbt_eamples_spark.operators import vecsql

# slow lane (VERDICT r14 #2): delta-vs-rebuild equality sweeps —
# excluded from the default run so `pytest tests/ -x -q` fits the
# driver's verify budget; the close ritual runs it via --runslow.
pytestmark = pytest.mark.slow


@pytest.fixture()
def art_dir(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "arts"))
    A.ARTIFACT_EVENTS.clear()
    A.clear_session_state()
    yield str(tmp_path / "arts")
    A.clear_session_state()


def _events(kind):
    return [e for k, e in A.ARTIFACT_EVENTS if k == kind]


def _ctr(rows):
    """Multiset of row tuples (ADVICE r9): set() on both sides would
    let a duplicated row in a merged artifact (e.g. a future union
    bug emitting a pair twice) pass the row-identical lock."""
    return Counter(tuple(r) for r in rows)


class TestNgramPairsDelta:
    def _split(self, spark, sf_dir, tmp_path):
        docs = load_table(spark, sf_dir, "documents")
        base = docs.filter(F.col("doc_id") % 10 != 0)
        delta = docs.filter(F.col("doc_id") % 10 == 0)
        base_dir = str(tmp_path / "base")
        os.makedirs(base_dir, exist_ok=True)
        base.write.parquet(os.path.join(base_dir, "documents.parquet"))
        return base_dir, delta

    def test_delta_merge_equals_full_rebuild(
        self, spark, sf_dir, tmp_path, art_dir
    ):
        base_dir, delta = self._split(spark, sf_dir, tmp_path)
        merged = _ctr(
            D.ngram_pairs_apply_delta(spark, base_dir, delta).collect()
        )
        full = _ctr(D._ngram_pairs(spark, sf_dir).collect())
        assert merged == full and len(full) > 0
        # the delta path never re-built the base pair table from
        # scratch beyond its one-time base build; base-side events
        # are builds of base artifacts only
        assert _events("ngram_jaccard_pairs").count("build") == 2  # base + full oracle
        # the delta-gained pairs are real: the split has cross pairs
        base_only = {
            (r.doc_a, r.doc_b)
            for r in D._ngram_pairs(spark, base_dir).collect()
        }
        assert {(a, b) for a, b, _ in full} > base_only

    def test_publish_makes_full_query_warm(
        self, spark, sf_dir, tmp_path, art_dir
    ):
        base_dir, delta = self._split(spark, sf_dir, tmp_path)
        fp_full = A.corpus_fingerprint(sf_dir, "documents")
        A.publish(
            spark, "ngram_jaccard_pairs", fp_full,
            D.ngram_pairs_apply_delta(spark, base_dir, delta),
        ).collect()
        A.ARTIFACT_EVENTS.clear()
        A.clear_session_state()
        got = _ctr(D.dedup_ngram_jaccard(spark, sf_dir).collect())
        assert _events("ngram_jaccard_pairs") == ["reuse"]
        # and the published table is the rebuild-identical one
        A.clear_session_state()
        for p in [os.path.join(art_dir, d) for d in os.listdir(art_dir)
                  if d.startswith("ngram_jaccard_pairs")]:
            import shutil

            shutil.rmtree(p)
        full = _ctr(D._ngram_pairs(spark, sf_dir).collect())
        assert got == full


class TestTriangleCreditsDelta:
    def _split(self, spark, sf_dir, tmp_path):
        li = load_table(spark, sf_dir, "lineitem")
        # mixed delta: whole new orders (orderkey % 13 == 0) AND
        # partial extensions of surviving baskets (linenumber-keyed
        # rows of other orders) — both ingestion shapes
        is_delta = (F.col("l_orderkey") % 13 == 0) | (
            (F.col("l_orderkey") % 13 == 1) & (F.col("l_linenumber") >= 3)
        )
        base = li.filter(~is_delta)
        delta = li.filter(is_delta)
        base_dir = str(tmp_path / "libase")
        os.makedirs(base_dir, exist_ok=True)
        base.write.parquet(os.path.join(base_dir, "lineitem.parquet"))
        return base_dir, delta

    def test_delta_merge_equals_full_rebuild(
        self, spark, sf_dir, tmp_path, art_dir
    ):
        base_dir, delta = self._split(spark, sf_dir, tmp_path)
        assert delta.count() > 0
        merged = _ctr(
            G.triangle_credits_apply_delta(spark, base_dir, delta).collect()
        )
        full = _ctr(G._triangle_credits(spark, sf_dir).collect())
        assert merged == full and len(full) > 0

    def test_publish_makes_full_query_warm(
        self, spark, sf_dir, tmp_path, art_dir
    ):
        base_dir, delta = self._split(spark, sf_dir, tmp_path)
        fp_full = A.corpus_fingerprint(sf_dir, "lineitem")
        A.publish(
            spark, "triangle_credits", fp_full,
            G.triangle_credits_apply_delta(spark, base_dir, delta),
        ).collect()
        A.ARTIFACT_EVENTS.clear()
        A.clear_session_state()
        G.graph_triangle_count(spark, sf_dir).collect()
        assert _events("triangle_credits") == ["reuse"]


class TestBandIndexDeltas:
    """The two LSH band indexes are per-doc state, so their delta
    path is a pure append — merged index must equal a from-scratch
    build over the union corpus (both indexes keep the fixture's
    %INCR_MOD corpus convention on their own dir, so the test's
    delta uses doc_id % 10 == 7 rows: corpus-side in the full dir,
    absent from the base dir)."""

    def _split_docs(self, spark, sf_dir, tmp_path, name):
        docs = load_table(spark, sf_dir, "documents")
        base = docs.filter(F.col("doc_id") % 10 != 7)
        delta = docs.filter(F.col("doc_id") % 10 == 7)
        base_dir = str(tmp_path / name)
        os.makedirs(base_dir, exist_ok=True)
        base.write.parquet(os.path.join(base_dir, "documents.parquet"))
        return base_dir, delta

    def test_minhash_index_delta(self, spark, sf_dir, tmp_path, art_dir):
        base_dir, delta = self._split_docs(spark, sf_dir, tmp_path, "mb")
        merged = _ctr(
            D.minhash_band_index_apply_delta(
                spark, base_dir, delta
            ).collect()
        )
        full = _ctr(D.minhash_band_index(spark, sf_dir).collect())
        assert merged == full and len(full) > 0

    def test_phash_index_delta(self, spark, sf_dir, tmp_path, art_dir):
        from dbt_eamples_spark.operators import multimodal as M

        A.clear_session_state()
        base_dir, delta = self._split_docs(spark, sf_dir, tmp_path, "pb")
        merged = _ctr(
            M.phash_band_index_apply_delta(
                spark, base_dir, delta.select("doc_id")
            ).collect()
        )
        A.clear_session_state()
        full = _ctr(M.phash_band_index(spark, sf_dir).collect())
        A.clear_session_state()
        assert merged == full and len(full) > 0


class TestSpanArtifactsDelta:
    def _split(self, spark, sf_dir, tmp_path):
        docs = load_table(spark, sf_dir, "documents")
        base = docs.filter(F.col("doc_id") % 10 != 3)
        delta = docs.filter(F.col("doc_id") % 10 == 3)
        base_dir = str(tmp_path / "sbase")
        os.makedirs(base_dir, exist_ok=True)
        base.write.parquet(os.path.join(base_dir, "documents.parquet"))
        return base_dir, delta

    def _fresh(self):
        A.clear_session_state()

    def test_delta_merge_equals_full_rebuild(
        self, spark, sf_dir, tmp_path, art_dir
    ):
        self._fresh()
        base_dir, delta = self._split(spark, sf_dir, tmp_path)
        profile, dup_stats = D.span_artifacts_apply_delta(
            spark, base_dir, delta
        )
        got_p = _ctr(profile.collect())
        got_s = _ctr(dup_stats.collect())
        self._fresh()
        want_p = _ctr(D._span_profile(spark, sf_dir).collect())
        want_s = _ctr(D._span_dup_stats(spark, sf_dir).collect())
        assert got_s == want_s and len(want_s) > 0
        assert got_p == want_p and len(want_p) > 0
        # the split really exercises the singleton-crossing path:
        # some base doc's n_dup_spans changed vs the base-only world
        self._fresh()
        base_p = {
            r.doc_id: r.n_dup_spans
            for r in D._span_profile(spark, base_dir).collect()
        }
        changed = [
            (d, nd) for (d, _ns, nd) in got_p.keys()
            if d in base_p and base_p[d] != nd
        ]
        assert changed, "split produced no crossing hashes — weak fixture"

    def test_publish_makes_full_queries_warm(
        self, spark, sf_dir, tmp_path, art_dir
    ):
        self._fresh()
        base_dir, delta = self._split(spark, sf_dir, tmp_path)
        fp_full = A.corpus_fingerprint(sf_dir, "documents")
        kinds = (
            "span_profile", "span_dup_stats",
            "doc_span_index", "span_hash_index",
        )
        frames = D.span_artifacts_apply_delta(
            spark, base_dir, delta, return_indexes=True
        )
        for kind, df in zip(kinds, frames):
            A.publish(spark, kind, fp_full, df).collect()
        self._fresh()
        A.ARTIFACT_EVENTS.clear()
        D.dedup_substring_spans(spark, sf_dir).collect()
        kinds = {k for k, e in A.ARTIFACT_EVENTS if e == "build"}
        assert "span_profile" not in kinds and "span_dup_stats" not in kinds


class TestEmptyDeltaIdentity:
    """An EMPTY delta batch must be an exact no-op for every
    apply_delta path — the daily-ingest edge case (a scheduled run
    with nothing new) that silently corrupting merges fail."""

    def test_all_paths_identity_on_empty_delta(
        self, spark, sf_dir, tmp_path, art_dir
    ):
        from dbt_eamples_spark.operators import multimodal as M

        docs = load_table(spark, sf_dir, "documents")
        li = load_table(spark, sf_dir, "lineitem")
        empty_docs = docs.limit(0)
        empty_li = li.limit(0)

        pairs = _ctr(
            D.ngram_pairs_apply_delta(spark, sf_dir, empty_docs).collect()
        )
        assert pairs == _ctr(D._ngram_pairs(spark, sf_dir).collect())

        credits = _ctr(
            G.triangle_credits_apply_delta(
                spark, sf_dir, empty_li
            ).collect()
        )
        assert credits == _ctr(
            G._triangle_credits(spark, sf_dir).collect()
        )

        p, st = D.span_artifacts_apply_delta(spark, sf_dir, empty_docs)
        assert _ctr(p.collect()) == _ctr(
            D._span_profile(spark, sf_dir).collect()
        )
        assert _ctr(st.collect()) == _ctr(
            D._span_dup_stats(spark, sf_dir).collect()
        )

        assert _ctr(
            D.minhash_band_index_apply_delta(
                spark, sf_dir, empty_docs
            ).collect()
        ) == _ctr(D.minhash_band_index(spark, sf_dir).collect())

        A.clear_session_state()
        assert _ctr(
            M.phash_band_index_apply_delta(
                spark, sf_dir, empty_docs.select("doc_id")
            ).collect()
        ) == _ctr(M.phash_band_index(spark, sf_dir).collect())
        A.clear_session_state()


class TestDeltaContracts:
    """ADVICE r9: (a) the band-index delta paths must apply the same
    %INCR_MOD corpus convention as the from-scratch build, so the
    artifact published under the union fingerprint is bit-identical
    to what a builder would produce at that key; (b) the ngram delta
    path's new-ids-only contract fails loudly on a re-ingest instead
    of silently merging self-pairs."""

    def test_band_index_delta_with_incoming_ids_matches_rebuild(
        self, spark, sf_dir, tmp_path, art_dir
    ):
        docs = load_table(spark, sf_dir, "documents")
        base = docs.filter(
            (F.col("doc_id") % 10 != 0) & (F.col("doc_id") % 10 != 7)
        )
        # the delta an actual ingest hands over: contains %10 == 0
        # ids, which the from-scratch build at the union fingerprint
        # would EXCLUDE per the corpus convention
        delta = docs.filter(
            (F.col("doc_id") % 10 == 0) | (F.col("doc_id") % 10 == 7)
        )
        base_dir = str(tmp_path / "conv")
        os.makedirs(base_dir, exist_ok=True)
        base.write.parquet(os.path.join(base_dir, "documents.parquet"))

        merged = _ctr(
            D.minhash_band_index_apply_delta(
                spark, base_dir, delta
            ).collect()
        )
        full = _ctr(D.minhash_band_index(spark, sf_dir).collect())
        assert merged == full and len(full) > 0

    def test_phash_index_delta_with_incoming_ids_matches_rebuild(
        self, spark, sf_dir, tmp_path, art_dir
    ):
        from dbt_eamples_spark.operators import multimodal as M

        A.clear_session_state()
        docs = load_table(spark, sf_dir, "documents")
        base = docs.filter(
            (F.col("doc_id") % 10 != 0) & (F.col("doc_id") % 10 != 7)
        )
        delta = docs.filter(
            (F.col("doc_id") % 10 == 0) | (F.col("doc_id") % 10 == 7)
        )
        base_dir = str(tmp_path / "pconv")
        os.makedirs(base_dir, exist_ok=True)
        base.write.parquet(os.path.join(base_dir, "documents.parquet"))

        merged = _ctr(
            M.phash_band_index_apply_delta(
                spark, base_dir, delta.select("doc_id")
            ).collect()
        )
        A.clear_session_state()
        full = _ctr(M.phash_band_index(spark, sf_dir).collect())
        A.clear_session_state()
        assert merged == full and len(full) > 0

    def test_ngram_delta_reingest_raises(
        self, spark, sf_dir, tmp_path, art_dir
    ):
        docs = load_table(spark, sf_dir, "documents")
        base = docs.filter(F.col("doc_id") % 10 != 0)
        base_dir = str(tmp_path / "reing")
        os.makedirs(base_dir, exist_ok=True)
        base.write.parquet(os.path.join(base_dir, "documents.parquet"))
        # delta re-ingests rows the base corpus already has
        stale = docs.filter(F.col("doc_id") % 10 == 1).limit(5)
        with pytest.raises(ValueError, match="new-ids-only"):
            D.ngram_pairs_apply_delta(spark, base_dir, stale).collect()


def _write_docs(spark, rows, path):
    os.makedirs(path, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).coalesce(1).write.parquet(os.path.join(path, "documents.parquet"))


class TestClusterVerdictsDelta:
    """VERDICT r9 #2: the last rebuild-on-change artifact gets its
    apply_delta path — incremental connected components via the
    quotient-graph merge. Components only ever MERGE under edge
    additions, so relabeling touched components over the tiny
    label-graph is exact (locked row-identical to a from-scratch
    dedup_clusters on the union, incl. the explicit
    two-existing-clusters-merge fixture)."""

    # seed-13 word pool (frozen from an offline search over the
    # md5-deterministic minhash pipeline): A/B are two identical-pair
    # clusters with J(A,B) ≈ 0.2 (no direct pair), and bridge text C
    # band-collides with BOTH sides at J ≥ 0.54 — so delta doc 301
    # must merge clusters 101 and 201.
    _COMMON = " ".join(f"c13x{i}" for i in range(12))
    _A = _COMMON + " " + " ".join(f"a13x{i}" for i in range(18))
    _B = _COMMON + " " + " ".join(f"b13x{i}" for i in range(18))
    _C = _A + " " + " ".join(f"b13x{i}" for i in range(18))

    def test_delta_merge_equals_full_rebuild(
        self, spark, sf_dir, tmp_path, art_dir
    ):
        docs = load_table(spark, sf_dir, "documents")
        base = docs.filter(F.col("doc_id") % 10 != 0)
        delta = docs.filter(F.col("doc_id") % 10 == 0)
        base_dir = str(tmp_path / "clbase")
        os.makedirs(base_dir, exist_ok=True)
        base.write.parquet(os.path.join(base_dir, "documents.parquet"))

        merged = _ctr(
            D.cluster_verdicts_apply_delta(
                spark, base_dir, delta
            ).collect()
        )
        full = _ctr(
            D.dedup_clusters(spark, sf_dir)
            .select("doc_id", "cluster_id", "keep")
            .collect()
        )
        assert merged == full and len(full) > 0

    def test_two_existing_clusters_merge(self, spark, tmp_path, art_dir):
        base_rows = [
            (101, self._A, "s"), (102, self._A, "s"),
            (201, self._B, "s"), (202, self._B, "s"),
        ]
        delta_rows = [(301, self._C, "s")]
        base_dir = str(tmp_path / "mbase")
        union_dir = str(tmp_path / "munion")
        _write_docs(spark, base_rows, base_dir)
        _write_docs(spark, base_rows + delta_rows, union_dir)

        # precondition: the base labeling really has TWO clusters
        base_labels = {
            r.doc_id: r.cluster_id
            for r in D.cluster_labels(spark, base_dir).collect()
        }
        assert base_labels == {101: 101, 102: 101, 201: 201, 202: 201}

        delta = spark.createDataFrame(
            delta_rows, "doc_id long, text string, source string"
        )
        merged = {
            r.doc_id: (r.cluster_id, r.keep)
            for r in D.cluster_verdicts_apply_delta(
                spark, base_dir, delta
            ).collect()
        }
        # the bridge doc merges both clusters into min-doc 101
        assert merged == {
            101: (101, True), 102: (101, False),
            201: (101, False), 202: (101, False),
            301: (101, False),
        }
        # and that is exactly the from-scratch union rebuild
        A.clear_session_state()
        full = {
            r.doc_id: (r.cluster_id, r.keep)
            for r in D.dedup_clusters(spark, union_dir)
            .select("doc_id", "cluster_id", "keep")
            .collect()
        }
        assert merged == full

    def test_publish_makes_cascade_warm(
        self, spark, sf_dir, tmp_path, art_dir
    ):
        docs = load_table(spark, sf_dir, "documents")
        base = docs.filter(F.col("doc_id") % 10 != 0)
        delta = docs.filter(F.col("doc_id") % 10 == 0)
        base_dir = str(tmp_path / "clpub")
        os.makedirs(base_dir, exist_ok=True)
        base.write.parquet(os.path.join(base_dir, "documents.parquet"))
        fp_full = A.corpus_fingerprint(sf_dir, "documents")
        A.publish(
            spark, "cluster_labels", fp_full,
            D.cluster_verdicts_apply_delta(spark, base_dir, delta),
        ).collect()
        A.clear_session_state()
        A.ARTIFACT_EVENTS.clear()
        D.corpus_keep_list(spark, sf_dir).collect()
        built = {k for k, v in A.ARTIFACT_EVENTS if v == "build"}
        assert "cluster_labels" not in built

    def test_reingest_raises(self, spark, sf_dir, tmp_path, art_dir):
        docs = load_table(spark, sf_dir, "documents")
        base = docs.filter(F.col("doc_id") % 10 != 0)
        base_dir = str(tmp_path / "clre")
        os.makedirs(base_dir, exist_ok=True)
        base.write.parquet(os.path.join(base_dir, "documents.parquet"))
        stale = docs.filter(F.col("doc_id") % 10 == 1).limit(3)
        with pytest.raises(ValueError, match="new-ids-only"):
            D.minhash_pairs_delta_new(spark, base_dir, stale).collect()

    def test_empty_delta_identity(self, spark, sf_dir, art_dir):
        docs = load_table(spark, sf_dir, "documents")
        merged = _ctr(
            D.cluster_verdicts_apply_delta(
                spark, sf_dir, docs.limit(0)
            ).collect()
        )
        assert merged == _ctr(D.cluster_labels(spark, sf_dir).collect())


class TestTriangleCrossoverPolicy:
    """VERDICT r9 #4: the measured delta-vs-rebuild crossover is
    encoded as policy — past TRIANGLE_DELTA_REBUILD_CROSSOVER the
    apply_delta path warns that a rebuild is cheaper (the result
    stays equivalence-locked either way)."""

    def test_oversized_delta_warns(self, spark, sf_dir, tmp_path, art_dir):
        import warnings as W

        li = load_table(spark, sf_dir, "lineitem")
        base = li.filter(F.col("l_orderkey") % 100 >= 40)
        delta = li.filter(F.col("l_orderkey") % 100 < 40)  # ~67% of base
        base_dir = str(tmp_path / "xbase")
        os.makedirs(base_dir, exist_ok=True)
        base.write.parquet(os.path.join(base_dir, "lineitem.parquet"))
        with pytest.warns(RuntimeWarning, match="crossover"):
            G.triangle_credits_apply_delta(spark, base_dir, delta)
        # a small delta stays silent
        small = li.filter(F.col("l_orderkey") % 100 == 41).limit(50)
        with W.catch_warnings():
            W.simplefilter("error", RuntimeWarning)
            G.triangle_credits_apply_delta(spark, base_dir, small)


def _cosine_index_delta(spark, base_dir, delta):
    """The merged cosine_base_index of ``base_dir``'s corpus plus the
    (vec_id, embedding) ``delta``, keyed the way the ingest loop keys
    a batch: at the plane count of the standing corpus."""
    from dbt_eamples_spark.operators.similarity import lsh_planes

    base_n = D.standing_count(spark, base_dir)
    keyed = D.cosine_delta_keys(
        delta.select("vec_id", vecsql.as_double("embedding").alias("vec")),
        lsh_planes(base_n),
    )
    delta_n = keyed.filter(F.col("vec_id") % D.INCR_MOD != 0).count()
    return D._cosine_index_delta(spark, base_dir, keyed, base_n, delta_n)


class TestCosineIndexDelta:
    """Round 10: the hyperplane bucket index joins the append family
    — with the resize rule (lsh_planes is corpus-count-sized, so an
    append crossing a plane step must rebuild; both paths locked
    row-identical to a from-scratch union build)."""

    def test_append_path_equals_rebuild(
        self, spark, sf_dir, tmp_path, art_dir
    ):
        emb = load_table(spark, sf_dir, "embeddings")
        base = emb.filter(
            (F.col("vec_id") % 10 != 0) & (F.col("vec_id") % 10 != 7)
        )
        delta = emb.filter(
            (F.col("vec_id") % 10 == 0) | (F.col("vec_id") % 10 == 7)
        )
        base_dir = str(tmp_path / "cb")
        os.makedirs(base_dir, exist_ok=True)
        base.write.parquet(os.path.join(base_dir, "embeddings.parquet"))
        merged = _ctr(
            _cosine_index_delta(spark, base_dir, delta).collect()
        )
        full = _ctr(D.cosine_base_index(spark, sf_dir).collect())
        assert merged == full and len(full) > 0

    def test_resize_rebuild_equals_rebuild(self, spark, tmp_path, art_dir):
        from dbt_eamples_spark.operators.similarity import lsh_planes

        # synthetic 8-dim corpus big enough that the append crosses
        # the 1024-row plane step (lsh_planes: 4 below, 5 above)
        def vecs(lo, hi):
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

        schema = "vec_id long, embedding array<float>, label int"
        base_dir = str(tmp_path / "rz_base")
        union_dir = str(tmp_path / "rz_union")
        os.makedirs(base_dir, exist_ok=True)
        os.makedirs(union_dir, exist_ok=True)
        base_rows = vecs(0, 1000)       # 900 corpus-side (%10 != 0)
        delta_rows = vecs(1000, 1400)   # +360 corpus-side
        spark.createDataFrame(base_rows, schema).write.parquet(
            os.path.join(base_dir, "embeddings.parquet")
        )
        spark.createDataFrame(base_rows + delta_rows, schema).write.parquet(
            os.path.join(union_dir, "embeddings.parquet")
        )
        assert lsh_planes(900) != lsh_planes(1260)  # the step is real
        merged = _ctr(
            _cosine_index_delta(
                spark, base_dir,
                spark.createDataFrame(delta_rows, schema),
            ).collect()
        )
        full = _ctr(D.cosine_base_index(spark, union_dir).collect())
        assert merged == full and len(full) > 0

    def test_empty_delta_identity(self, spark, sf_dir, art_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        merged = _ctr(
            _cosine_index_delta(spark, sf_dir, emb.limit(0)).collect()
        )
        assert merged == _ctr(
            D.cosine_base_index(spark, sf_dir).collect()
        )


class TestMinhashDeltaNewPairs:
    def test_delta_pairs_equal_full_restriction(
        self, spark, sf_dir, tmp_path, art_dir
    ):
        """Row-level lock for the probe itself (not just the merged
        labels it feeds): the delta's new verified pairs must equal
        the full union build's pairs restricted to delta-involved —
        same jaccard values, same multiset."""
        docs = load_table(spark, sf_dir, "documents")
        base = docs.filter(F.col("doc_id") % 10 != 3)
        delta = docs.filter(F.col("doc_id") % 10 == 3)
        base_dir = str(tmp_path / "mpd")
        os.makedirs(base_dir, exist_ok=True)
        base.write.parquet(os.path.join(base_dir, "documents.parquet"))
        got = _ctr(
            D.minhash_pairs_delta_new(spark, base_dir, delta).collect()
        )
        d_ids = {r.doc_id for r in delta.select("doc_id").collect()}
        want = Counter(
            (r.doc_a, r.doc_b, r.jaccard)
            for r in D.dedup_minhash(spark, sf_dir).collect()
            if r.doc_a in d_ids or r.doc_b in d_ids
        )
        assert got == want and len(want) > 0


def test_quotient_components_distributed_fallback(spark, monkeypatch):
    """Past QUOTIENT_DRIVER_CC_MAX edges the components come from
    distributed min-label propagation instead of the driver
    union-find (the bound dropped 1M -> 100k in r11 to keep the
    size-probe collect ~10 MB); both paths must label identically.
    Forced by shrinking the bound below the fixture edge count."""
    from dbt_eamples_spark.operators import dedup as D

    edges = [
        (1, 2), (2, 3), (10, 11), (11, 12), (12, 13), (20, 21),
        (30, 31), (31, 32), (3, 4), (40, 41),
    ]
    qe = spark.createDataFrame(edges, "sa long, sb long")

    def labels(df):
        return {
            r.node: r.comp
            for r in D._quotient_components(df).collect()
        }

    want = labels(qe)  # driver union-find (10 edges < bound)
    monkeypatch.setattr(D, "QUOTIENT_DRIVER_CC_MAX", 3)
    got = labels(qe)  # forced distributed propagation
    assert got == want
    # min-label contract: every component labeled by its min node
    comps: dict = {}
    for n, c in want.items():
        comps.setdefault(c, set()).add(n)
    assert all(c == min(ns) for c, ns in comps.items())
    assert len(comps) == 5


class TestIvfAssignDelta:
    """Round 12 (VERDICT r11 #3): the IVF quantizer + assignment
    index join the append family. The contract is FAISS add()
    semantics: the append path assigns delta vectors to the EXISTING
    cells (quantizer frozen, carried forward), so the lock is
    incremental == re-adding the union against the SAME quantizer;
    the occupancy-drift retrain path (PSI > IVF_RETRAIN_PSI) is
    locked against a cold from-scratch build over the union."""

    @staticmethod
    def _cctr(rows):
        """Centroid rows carry an array column — tuple-ise it so the
        multiset lock stays hashable."""
        return Counter(
            (r.cent_id, tuple(r.cvec)) for r in rows
        )

    def test_append_path_equals_readd(
        self, spark, sf_dir, tmp_path, art_dir
    ):
        from dbt_eamples_spark.operators import similarity as S

        emb = load_table(spark, sf_dir, "embeddings")
        base = emb.filter(
            (F.col("vec_id") % 10 >= 1) & (F.col("vec_id") % 10 <= 7)
        )
        delta = emb.filter(
            (F.col("vec_id") % 10 == 8) | (F.col("vec_id") % 10 == 9)
            | (F.col("vec_id") % 10 == 0)  # convention class: must
            # be EXCLUDED from the index and counted in the report
        )
        base_dir = str(tmp_path / "ivfb")
        os.makedirs(base_dir, exist_ok=True)
        base.write.parquet(os.path.join(base_dir, "embeddings.parquet"))

        cent_before = self._cctr(S.ivf_centroids(spark, base_dir).collect())
        cent, merged, occ_ref, report = S.ivf_assign_apply_delta(
            spark, base_dir, delta
        )
        assert report["retrained"] is False
        assert report["occupancy_psi"] <= S.IVF_RETRAIN_PSI
        n_conv = delta.filter(F.col("vec_id") % 10 == 0).count()
        assert report["convention_excluded"] == n_conv > 0

        # quantizer carried forward unchanged
        assert self._cctr(cent.collect()) == cent_before

        # merged == re-adding the union standing corpus against the
        # SAME (base-trained) quantizer
        union_standing = base.unionByName(
            delta.filter(F.col("vec_id") % 10 != 0)
        ).select(
            "vec_id",
            vecsql.as_double("embedding").alias("vec"),
        )
        want = _ctr(
            S._assign_cells(
                union_standing, S.ivf_centroids(spark, base_dir)
            ).collect()
        )
        got = _ctr(merged.collect())
        assert got == want and len(want) > 0

    def test_retrain_path_equals_cold_rebuild(
        self, spark, tmp_path, art_dir
    ):
        from dbt_eamples_spark.operators import similarity as S

        # synthetic 8-dim corpus; the delta dumps every vector into
        # one tight direction, collapsing occupancy into one cell →
        # PSI blows past the trigger
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
                (
                    i,
                    [1.0 + 0.001 * float(i % 7)] + [0.01] * 7,
                    0,
                )
                for i in range(lo, hi)
            ]

        schema = "vec_id long, embedding array<float>, label int"
        base_dir = str(tmp_path / "ivf_rt_base")
        union_dir = str(tmp_path / "ivf_rt_union")
        os.makedirs(base_dir, exist_ok=True)
        os.makedirs(union_dir, exist_ok=True)
        base_rows = spread(0, 200)
        delta_rows = clustered(200, 600)
        spark.createDataFrame(base_rows, schema).write.parquet(
            os.path.join(base_dir, "embeddings.parquet")
        )
        spark.createDataFrame(base_rows + delta_rows, schema).write.parquet(
            os.path.join(union_dir, "embeddings.parquet")
        )
        cent, merged, occ_ref, report = S.ivf_assign_apply_delta(
            spark, base_dir,
            spark.createDataFrame(delta_rows, schema),
        )
        assert report["retrained"] is True
        assert report["occupancy_psi"] > S.IVF_RETRAIN_PSI
        got = _ctr(merged.collect())
        got_cent = self._cctr(cent.collect())
        # cold from-scratch build over the union corpus, scratch store
        os.environ["SPARK_GRAFT_ARTIFACTS"] = str(
            tmp_path / "ivf_scratch"
        )
        try:
            want = _ctr(S.ivf_assign_index(spark, union_dir).collect())
            want_cent = self._cctr(S.ivf_centroids(spark, union_dir).collect())
        finally:
            os.environ["SPARK_GRAFT_ARTIFACTS"] = art_dir
        assert got == want and len(want) > 0
        assert got_cent == want_cent

    def test_empty_delta_identity(self, spark, sf_dir, art_dir):
        from dbt_eamples_spark.operators import similarity as S

        emb = load_table(spark, sf_dir, "embeddings")
        cent, merged, occ_ref, report = S.ivf_assign_apply_delta(
            spark, sf_dir, emb.limit(0)
        )
        assert report["retrained"] is False
        assert report["occupancy_psi"] == 0.0
        assert report["convention_excluded"] == 0
        assert _ctr(merged.collect()) == _ctr(
            S.ivf_assign_index(spark, sf_dir).collect()
        )
        assert self._cctr(cent.collect()) == self._cctr(
            S.ivf_centroids(spark, sf_dir).collect()
        )

    def test_delta_topk_uses_incremental_index(
        self, spark, sf_dir, art_dir
    ):
        """The recall-gate query's shortlist really is the
        incrementally-shaped index: its assignments equal persisted
        base assignments + frozen-cell delta assignment, and every
        shortlist neighbor/query pair is consistent with that
        assignment under NPROBE probing."""
        from dbt_eamples_spark.operators import similarity as S

        rows = S._ivf_delta_topk(spark, sf_dir).collect()
        assert rows
        ks = Counter(r.query_id for r in rows)
        assert all(v <= S.TOP_K for v in ks.values())
        # each returned rank sequence is 1..n without gaps
        by_q = {}
        for r in rows:
            by_q.setdefault(r.query_id, []).append(r.rk)
        for q, rks in by_q.items():
            assert sorted(rks) == list(range(1, len(rks) + 1))


class TestClusterCrossoverPolicy:
    """VERDICT r12 #6: the cluster family's measured crossover is
    CORPUS-size-keyed (the delta path's fixed overhead is corpus-
    independent while the rebuild grows with the corpus) — below
    CLUSTER_DELTA_MIN_CORPUS_ROWS the apply_delta path warns that a
    rebuild is at least as cheap (the result stays equivalence-
    locked either way, as TestClusterDelta asserts)."""

    def test_small_corpus_warns(self, spark, sf_dir, art_dir):
        docs = load_table(spark, sf_dir, "documents")
        assert docs.count() < D.CLUSTER_DELTA_MIN_CORPUS_ROWS
        with pytest.warns(RuntimeWarning, match="crossover"):
            D.cluster_verdicts_apply_delta(spark, sf_dir, docs.limit(0))

    def test_threshold_matches_delta_bench_row(self):
        """The constant's source of truth is the DELTA_BENCH sf0.1
        row: at that corpus size delta ≈ rebuild (crossover
        recorded), at sf1 the delta dominates — so the threshold
        must sit at the sf0.1 corpus size."""
        import json

        with open(os.path.join(os.path.dirname(__file__), "..",
                               "DELTA_BENCH.json")) as fh:
            bench = json.load(fh)
        sf01 = next(
            b for b in bench if b["sf_dir"].endswith("sf0.1")
        )["families"]["cluster_labels"]
        # the sf0.1 row records a crossover (delta ≈ rebuild there)
        assert sf01["crossover_delta_pct"] is not None
        assert D.CLUSTER_DELTA_MIN_CORPUS_ROWS == 5_000
