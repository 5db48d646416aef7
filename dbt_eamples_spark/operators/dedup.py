"""Deduplication operators over ``documents`` / ``embeddings``
(SURVEY.md §2.11, BASELINE.json north-star).

Scale design (the point of each algorithm):

 - **exact**: hash-groupBy on the full normalized text — one shuffle
   keyed by an md5 (uniform, skew-free).
 - **MinHash-LSH**: shingle → k universal-hash minima → band
   buckets → hash self-join of the persisted (band, bucket) key
   table. Candidate generation never compares all pairs: docs meet
   only inside a shared band bucket, the key is hash-uniform, and a
   degenerate bucket splits across tasks (AQE skew join) instead of
   filling one aggregation buffer. The Jaccard verify touches only
   candidate docs.
 - **SimHash**: 64-bit signature from per-shingle md5 bit votes;
   near-dup = same band in any of 4 signature bands + Hamming ≤ 3
   verify. Same checkpointed-key-table self-join shape.
 - **n-gram Jaccard**: exact pairwise verify restricted to an
   equi-join blocking key, never a cross join.
 - **embedding cosine**: near-dup pairs blocked by label (stand-in
   for an ANN bucketing key), cosine via higher-order array
   functions, JVM-side.

Everything is built-in expressions — md5/split/transform/aggregate —
so signatures compute inside whole-stage codegen; hashes reduce to
deterministic int64 arithmetic over md5 prefixes, which is what makes
the DuckDB oracle exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_eamples_spark.catalog import load_table
from dbt_eamples_spark.operators import vecsql as V

# MinHash parameters: 12 hashes in 3 bands of 4 → catches J≳0.7 pairs
MINHASH_K = 12
MINHASH_BANDS = 3
MINHASH_ROWS = 4
JACCARD_THRESHOLD = 0.5
# Universal-hash modulus (2^31 - 1, prime). One md5 per shingle
# yields a 60-bit base integer; the K signature hashes are
# h_j(s) = ((2j+1)·base + j²+1) mod P — identical int64 arithmetic
# in Spark and DuckDB, and 12× fewer md5 evaluations than hashing
# (j, shingle) pairs directly.
MINHASH_P = 2_147_483_647


_PAIR_JACCARD_SQL = (
    "round(CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE)"
    " / size(array_union(sh_a, sh_b)), 6)"
)


def _shingles(df: DataFrame, *carry: str) -> DataFrame:
    """doc_id [+ carry cols] → distinct word-3-shingle array
    (lowercased).

    Tokens are materialized in their own projection: referenced more
    than once from the shingle lambda, the split is NOT inlined by
    CollapseProject, so the regex runs once per row instead of once
    per shingle (O(T) vs O(T²) — measured 11× on the fixture docs).
    """
    tokd = V.select(df, "doc_id", *carry, r"split(lower(text), '\\s+') AS toks")
    return V.select(
        tokd,
        "doc_id",
        *carry,
        f"array_distinct({V.ngrams_sql('toks', 3, 'pad')}) AS shingles",
    )


# Shared shingle artifact (VERDICT r8 #3): the word-3-gram tokenize
# pass is the linear floor of the whole ngram family —
# dedup_ngram_jaccard's pair builder, text_ngram_novelty, and
# text_jaccard_source_similarity each re-ran it per call. The
# per-doc distinct shingle arrays are corpus-derived state, so they
# earn the span_profile treatment: built ONCE per documents
# fingerprint into a persisted parquet artifact; every consumer
# then starts from an explode over parquet arrays (no regex, no
# md5) instead of a full re-tokenize. At 100 TB the tokenize pass
# is the dominant scan cost — paying it once per corpus instead of
# once per query is the entire point of the artifact layer.
def doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, shingles) — each document's DISTINCT
    word-3-shingle array with its source attached, artifact-backed
    per documents fingerprint and persisted in the session store."""
    from dbt_eamples_spark.artifacts import session_artifact

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents", parallelize=True)
        return _shingles(docs.select("doc_id", "source", "text"), "source")

    return session_artifact(spark, sf_dir, "doc_shingles", ("documents",), build)


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep min doc_id per normalized text, count dups."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return (
        docs.select(F.col("doc_id"), F.md5(norm).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .select("keep_doc_id", "n_copies")
    )


def _minhash_signatures(sh: DataFrame) -> DataFrame:
    """doc_id → array of K universal-hash minima.

    Row-wise on purpose: explode the shingle array, md5 each shingle
    ONCE (60-bit base int from the first 15 hex chars), then take K
    ``min`` aggregates of h_j(base) = ((2j+1)·base + j²+1) mod P.

    The nested-lambda formulation (transform over j of array_min of
    transform of md5) looks equivalent but re-evaluates the entire
    shingle+md5 array once per j — Catalyst does not CSE across
    lambda invocations — making it K× slower. Here each shingle is
    hashed exactly once, the K minima fold map-side (partial
    aggregation), and the shuffle carries one K-long row per doc.
    """
    # explode_outer: explode would make Catalyst infer a
    # size(shingles) > 0 filter and push it below the repartition,
    # re-evaluating the whole shingle pipeline single-task (see
    # doc_winnow_fingerprint); arrays are never empty, so same rows
    rows = sh.select("doc_id", F.explode_outer("shingles").alias("s"))
    based = rows.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5(F.col("s")), 1, 15), 16, 10).cast("long")
            % MINHASH_P
        ).alias("b"),
    )
    mins = [
        F.min(((2 * j + 1) * F.col("b") + j * j + 1) % MINHASH_P).alias(f"h{j}")
        for j in range(MINHASH_K)
    ]
    return (
        based.groupBy("doc_id")
        .agg(*mins)
        .select(
            "doc_id",
            F.array(*[F.col(f"h{j}") for j in range(MINHASH_K)]).alias("sig"),
        )
    )


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs with exact-Jaccard verification.

    shingle → md5 base int → 12 universal-hash minima → 3 band
    buckets → per-bucket pair generation → Jaccard ≥ 0.5 verify.

    Scale shape (the things that keep this sub-quadratic at 100 TB):
     - the signature pipeline is computed once per corpus: the (doc,
       band, bucket) key table is :func:`minhash_band_index_full`,
       and candidate pairs come from a codegen'd hash SELF-JOIN of it
       on (band, bucket) — both join sides scan the materialized
       keys, not the signature lineage;
     - no aggregation buffer ever holds a whole bucket (round-2 used
       an in-bucket ``collect_list`` pair expansion — a degenerate
       band key from boilerplate/empty docs then had to fit one
       buffer; as a join key the same fat bucket is AQE-splittable
       across tasks);
     - the candidate set is localCheckpoint'ed (it is tiny — pairs
       that agree on a full band) so the verify phase doesn't replay
       the key-table join;
     - shingle arrays for the verify are computed only for candidate
       docs (broadcast semi-join BEFORE the shingle expression), and
       the verify joins broadcast that small set.
    """
    # the (doc, band, bucket) key table is the persisted, ingest-
    # maintained band index, held in the session store: both
    # self-join sides read it, and no call recomputes signatures
    keys = minhash_band_index_full(spark, sf_dir)
    ka = V.select(keys, "band", "bucket", "doc_id AS doc_a")
    kb = V.select(keys, "band", "bucket", "doc_id AS doc_b")
    pairs = V.select(
        ka.join(kb, ["band", "bucket"]).filter("doc_a < doc_b"), "doc_a", "doc_b"
    ).distinct()
    # tiny (band-collision pairs only) — truncate lineage so the
    # verify phase doesn't recompute the candidate join
    cands = pairs.localCheckpoint(eager=True)

    ids = (
        V.select(cands, "doc_a AS doc_id")
        .union(V.select(cands, "doc_b AS doc_id"))
        .distinct()
    )
    # verify-side shingles are RE-DERIVED for candidate docs only
    # (broadcast semi-join under the regex): candidates are tiny, so
    # recomputing beats scanning the corpus-wide fat-array artifact
    # (measured 3.5x on the solo rerun)
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    cand_sh = _shingles(docs.join(F.broadcast(ids), "doc_id"))
    sa = V.select(cand_sh, "doc_id AS doc_a", "shingles AS sh_a")
    sb = V.select(cand_sh, "doc_id AS doc_b", "shingles AS sh_b")
    return V.select(
        cands.join(F.broadcast(sa), "doc_a").join(F.broadcast(sb), "doc_b"),
        "doc_a", "doc_b", f"{_PAIR_JACCARD_SQL} AS jaccard",
    ).filter(f"jaccard >= {JACCARD_THRESHOLD!r}D")


# SimHash: 64-bit signature voted by word-3-shingles (unigram votes
# over a shared vocabulary correlate — on a topically homogeneous
# corpus nearly every doc collapses into the same few signatures and
# candidate generation degenerates to all-pairs; shingles are
# doc-specific, so votes decorrelate). Bits come from the first 16
# md5-hex nibbles of each shingle, 4 bits per nibble.
SIMHASH_BITS = 64
SIMHASH_NIBBLES = SIMHASH_BITS // 4
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 16 bits per band
# banding recall is exact for Hamming <= SIMHASH_BANDS - 1 (some
# band must then be untouched); verify keeps pairs within radius 3
HAMMING_MAX = 3


def _simhash_signatures(sh: DataFrame) -> DataFrame:
    """doc_id → 64-bit signature packed as two 32-bit halves
    (``sig_hi`` bits 32..63, ``sig_lo`` bits 0..31), voted by the
    doc's shingles: bit p is set if more shingles have it set than
    not in md5(shingle) (bit p%4 of hex nibble p//4 + 1).

    Row-wise like :func:`_minhash_signatures`: explode shingles,
    md5 each ONCE, decode the 16 leading nibbles to ints in their
    own projection (so the 64 per-bit vote aggregates reference
    cheap columns instead of re-inlining the hash), then 64 ``sum``
    votes folding map-side — the shuffle carries one row of ints
    per doc. Packed ints rather than a 64-char bit string keep the
    downstream band/verify shuffles ~30× narrower and turn Hamming
    distance into two ``bit_count(xor)`` ops instead of 64
    substring compares. Two halves, not one int64: bit 63 as a
    packed addend overflows the signed long in both engines.
    """
    # explode_outer: same inferred-filter avoidance as minhash
    rows = sh.select("doc_id", F.explode_outer("shingles").alias("s"))
    hashed = rows.select("doc_id", F.md5("s").alias("h"))
    nibs = hashed.select(
        "doc_id",
        *[
            F.conv(F.substring("h", i, 1), 16, 10).cast("int").alias(f"nib{i}")
            for i in range(1, SIMHASH_NIBBLES + 1)
        ],
    )
    votes = []
    for p in range(SIMHASH_BITS):
        ci = p // 4 + 1
        mask = 1 << (p % 4)
        votes.append(
            F.sum(
                F.when(F.col(f"nib{ci}").bitwiseAND(F.lit(mask)) > 0, F.lit(1))
                .otherwise(F.lit(-1))
            ).alias(f"v{p}")
        )

    def _packed(bit_range, base):
        out = F.lit(0).cast("long")
        for p in bit_range:
            out = out + F.when(
                F.col(f"v{p}") > 0, F.lit(1 << (p - base)).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        return out

    half = SIMHASH_BITS // 2
    return nibs.groupBy("doc_id").agg(*votes).select(
        "doc_id",
        _packed(range(half, SIMHASH_BITS), half).alias("sig_hi"),
        _packed(range(half), 0).alias("sig_lo"),
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: banded candidates + Hamming ≤ 3
    verify on 64-bit shingle-voted signatures.

    Same scale shape as :func:`dedup_minhash`: the (doc, band,
    bucket, sig) key table is localCheckpoint'ed once and candidate
    pairs come from a hash self-join on (band, bucket) — signatures
    ride along on both join sides so the Hamming verify needs no
    join back, and a degenerate bucket is an AQE-splittable join key
    instead of one ``collect_list`` aggregation buffer (the round-2
    shape, which had to hold the whole bucket in a single task).
    """
    sigs = _simhash_signatures(
        doc_shingles(spark, sf_dir).select("doc_id", "shingles")
    )

    # band b covers 16 consecutive bits: 0/1 from sig_lo, 2/3 from
    # sig_hi — an int bucket key, no string slicing
    bucket = F.expr(
        "shiftright(IF(band < 2, sig_lo, sig_hi), (band % 2) * 16) & 65535"
    )
    bands = sigs.select(
        "doc_id",
        "sig_hi",
        "sig_lo",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BANDS - 1))).alias("band"),
    ).select("doc_id", "sig_hi", "sig_lo", "band", bucket.alias("bucket"))

    keys = bands.localCheckpoint(eager=True)
    ka = keys.select(
        "band",
        "bucket",
        F.col("doc_id").alias("doc_a"),
        F.col("sig_hi").alias("hi_a"),
        F.col("sig_lo").alias("lo_a"),
    )
    kb = keys.select(
        "band",
        "bucket",
        F.col("doc_id").alias("doc_b"),
        F.col("sig_hi").alias("hi_b"),
        F.col("sig_lo").alias("lo_b"),
    )
    cands = (
        ka.join(kb, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "hi_a", "lo_a", "hi_b", "lo_b")
        .distinct()
    )
    hamming = F.bit_count(
        F.col("hi_a").bitwiseXOR(F.col("hi_b"))
    ) + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    return (
        cands.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard over content-blocked pairs: the
    cheap one-hash tier between exact dedup and full MinHash-LSH.

    Blocking key = the doc's MINIMUM shingle hash (a 1-hash MinHash:
    one md5 per shingle, one ``array_min`` — no K-hash signature, no
    banding). Two docs collide with probability exactly their
    Jaccard, so J ≥ 0.9 near-dups block together ~90% of the time at
    a fraction of :func:`dedup_minhash`'s candidate machinery.

    Scale shape: the key is hash-derived from CONTENT — block sizes
    are bounded by how many docs share a lowest-hashing shingle, not
    by corpus length distribution. (Round-1 used
    ``floor(n_tokens/8)``: real corpora concentrate in a few length
    buckets, degenerating the within-block compare toward all-pairs
    — measured here, content blocking also finds 24 vs 18 fixture
    pairs because near-dups differing across a length boundary are
    no longer split.) The pairwise compare is a shuffle equi-join on
    the uniform key; the exact Jaccard runs only inside blocks.

    Artifact-backed (round 8): the blocked compare builds once per
    documents fingerprint into the persisted ``ngram_jaccard_pairs``
    table — its two consumers (this query and
    :func:`dedup_threshold_curve`'s τ grid) then scan pair-volume
    parquet, the span_profile/cluster_verdicts pattern."""
    return _ngram_pairs(spark, sf_dir)


def _ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_eamples_spark.artifacts import session_artifact

    return session_artifact(
        spark, sf_dir, "ngram_jaccard_pairs", ("documents",),
        lambda: _ngram_jaccard_pairs_build(spark, sf_dir),
    )


NGRAM_PAIR_TAU = 0.3  # pair-table floor: keep candidates down to weak-dup


def _blk_col():
    """Blocking key: the doc's MINIMUM shingle hash (1-hash MinHash)
    — one md5 per shingle, identical int64 arithmetic in Spark and
    DuckDB. Factored so the full build and the delta probe block on
    bit-identical keys."""
    return V.expr(
        "array_min(transform(shingles, s -> "
        f"CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT) % {MINHASH_P}))"
    )


def _pair_jaccard():
    """Exact Jaccard of the sh_a/sh_b shingle arrays, 6dp — shared
    by the full build and both delta-probe legs."""
    return V.expr(_PAIR_JACCARD_SQL)


def _ngram_block_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, blk) — the persisted corpus-side blocking index of
    the ngram-Jaccard pair graph (round 9): an ingest delta probes
    it with delta-side keys only, never re-hashing the corpus (the
    minhash_band_index pattern at one hash per doc)."""
    from dbt_eamples_spark.artifacts import session_artifact

    return session_artifact(
        spark, sf_dir, "ngram_block_index", ("documents",),
        lambda: doc_shingles(spark, sf_dir).select(
            "doc_id", _blk_col().alias("blk")
        ),
    )


def _ngram_jaccard_pairs_build(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # starts from the shared doc_shingles artifact (VERDICT r8 #3) —
    # the tokenize pass is paid once per corpus, not per index build
    sh = doc_shingles(spark, sf_dir).select("doc_id", "shingles")
    blocked = sh.select("doc_id", "shingles", _blk_col().alias("blk"))
    a = blocked.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"), "blk"
    )
    b = blocked.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
        F.col("blk").alias("blk_b"),
    )
    return (
        a.join(b, (F.col("blk") == F.col("blk_b")) & (F.col("doc_a") < F.col("doc_b")))
        .select("doc_a", "doc_b", _pair_jaccard().alias("jaccard"))
        .filter(F.col("jaccard") >= NGRAM_PAIR_TAU)
    )


def ngram_pairs_apply_delta(
    spark: SparkSession,
    sf_dir: str,
    delta_docs: DataFrame,
    assume_new_ids: bool = False,
) -> DataFrame:
    """Delta-maintain the ``ngram_jaccard_pairs`` artifact (VERDICT
    r8 #2): the pair table for corpus = documents(sf_dir) ∪
    ``delta_docs`` (doc_id, text, …), computed WITHOUT re-shingling
    the base corpus. Only the delta pays tokenize + md5; base-side
    keys come from the persisted :func:`_ngram_block_index` and
    base-side verify arrays from the persisted
    :func:`doc_shingles` — both bucket-prunable scans, no corpus
    recompute. New pairs = (delta × base) blk-probe ∪
    (delta × delta) blk-self-join, each exact-Jaccard-verified with
    the full build's expressions, so the merged table is
    row-identical to a from-scratch rebuild on the union corpus
    (pytest-locked in tests/test_delta_artifacts.py).

    Publishing the merged table under the union corpus's fingerprint
    (``artifacts.publish``, as the ingest loop does) makes every later
    full query on the updated corpus a warm reuse.

    Scale shape: delta tokenize is |delta|-bounded; the probe is an
    equi-join on blk whose output is collision-bounded; base parquet
    is scanned (column-pruned to (doc_id, blk) / matched doc_ids'
    arrays), never re-hashed. Cost grows with the delta, not the
    corpus — measured in tools/delta_bench.py.

    CONTRACT (ADVICE r9): delta doc_ids must be NEW — re-ingesting
    an existing doc_id would emit a self-pair (doc_a == doc_b,
    jaccard 1.0) through least/greatest plus stale base pairs in
    the merged table. The overlap is checked with a delta-sized
    semi-join against the persisted block index and raises
    ValueError loudly; a caller that already guarantees freshness
    (e.g. the watermarked ingest loop, whose anti-join IS that
    guarantee) can skip the probe with ``assume_new_ids=True``."""
    base_pairs = _ngram_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", "jaccard"
    )
    base_idx = _ngram_block_index(spark, sf_dir)
    base_sh = doc_shingles(spark, sf_dir).select("doc_id", "shingles")
    d_blocked = (
        _shingles(delta_docs.select("doc_id", "text"))
        .select("doc_id", "shingles", _blk_col().alias("blk"))
        .localCheckpoint(eager=True)  # delta-sized; 3 consumers
    )
    if not assume_new_ids:
        overlap = (
            d_blocked.select("doc_id")
            .join(base_idx.select("doc_id"), "doc_id", "left_semi")
            .limit(1)
            .collect()
        )
        if overlap:
            raise ValueError(
                "ngram_pairs_apply_delta: delta contains doc_ids "
                f"already in the base corpus (e.g. {overlap[0].doc_id}) "
                "— the delta contract is new-ids-only (a re-ingest "
                "would merge self-pairs and stale base pairs); dedup "
                "the delta against the corpus first, or pass "
                "assume_new_ids=True if the ingest path already "
                "guarantees freshness"
            )
    # delta × base: asymmetric probe of the persisted block index
    db = (
        d_blocked.select(
            F.col("doc_id").alias("d_doc"),
            F.col("shingles").alias("sh_a"),
            "blk",
        )
        .join(
            base_idx.select(F.col("doc_id").alias("b_doc"), "blk"),
            "blk",
        )
        .join(
            base_sh.select(
                F.col("doc_id").alias("b_doc"),
                F.col("shingles").alias("sh_b"),
            ),
            "b_doc",
        )
        .select(
            F.least("d_doc", "b_doc").alias("doc_a"),
            F.greatest("d_doc", "b_doc").alias("doc_b"),
            _pair_jaccard().alias("jaccard"),
        )
    )
    # delta × delta: the full build's blocked self-join, delta-sized
    dd = (
        d_blocked.select(
            F.col("doc_id").alias("doc_a"),
            F.col("shingles").alias("sh_a"),
            "blk",
        )
        .join(
            d_blocked.select(
                F.col("doc_id").alias("doc_b"),
                F.col("shingles").alias("sh_b"),
                F.col("blk").alias("blk_b"),
            ),
            (F.col("blk") == F.col("blk_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b", _pair_jaccard().alias("jaccard"))
    )
    return base_pairs.unionByName(
        db.unionByName(dd).filter(F.col("jaccard") >= NGRAM_PAIR_TAU)
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash near-dup pairs:
    transitive closure of ~-relations, so a dup CLUSTER {A~B, B~C}
    keeps ONE canonical doc even when A~C was never directly found.
    This is the step that turns pairwise dedup into an actual
    keep/drop decision for a training corpus.

    Algorithm: iterative min-label propagation (each node adopts the
    smallest component id among itself and its neighbors) to a
    fixpoint. Iterations = graph diameter, which for near-dup
    clusters is tiny (dups of a common source are near-cliques);
    capped at 20 with a convergence check. Per iteration: ONE
    shuffle (groupBy on node) + a broadcast-size count check; the
    edge set is localCheckpoint'ed once so no iteration replays the
    MinHash pipeline, and each new labeling is checkpointed so
    lineage stays flat (the classic iterative-algorithm trap:
    without it, iteration k re-executes all k-1 predecessors).

    Output: (doc_id, cluster_id, cluster_size, keep) for every doc
    that appears in at least one near-dup pair — keep = doc is its
    cluster's canonical (minimum) id. Singleton docs never enter the
    pair graph and are implicitly kept.
    """
    pairs = dedup_minhash(spark, sf_dir).select("doc_a", "doc_b")
    comp = _min_label_propagation(pairs, "doc_a", "doc_b")
    w = Window.partitionBy("comp")
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        F.count("*").over(w).alias("cluster_size"),
        (F.col("node") == F.col("comp")).alias("keep"),
    )


def _min_label_propagation(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """Connected components over an undirected pair list -> (node,
    comp), comp = the component's minimum node id.

    Below QUOTIENT_DRIVER_CC_MAX edges the components are solved with
    the driver union-find ``_quotient_components`` uses: the size
    probe IS the collect (one LIMIT-bounded job, ~10 MB driver
    ceiling), versus O(rounds) checkpointed joins whose per-round job
    latency dominates at fixture scale.

    Past the bound — a real corpus's near-dup graph — seeded min-label
    propagation: each node starts at min(self, direct neighbors), one
    aggregate straight off the checkpointed edge list; each round is
    one neighbor-min join, checkpointed so lineage stays flat (the
    classic iterative-algorithm trap); the convergence count runs
    every SECOND round and always on the cap round (a converged
    labeling is a fixpoint, so one unchecked extra round cannot change
    values). This kernel won the fresh-JVM A/B against the identity-
    seeded loop and the pointer-jump variant (OPTIMIZATION_r15.md).
    Raises if a component is still moving after 20 rounds."""
    base = pairs.select(F.col(a).alias("doc_a"), F.col(b).alias("doc_b"))
    rows = base.limit(QUOTIENT_DRIVER_CC_MAX + 1).collect()
    if len(rows) <= QUOTIENT_DRIVER_CC_MAX:
        return _driver_union_find_df(
            pairs.sparkSession, [(r[0], r[1]) for r in rows]
        )

    edges = base.union(
        base.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).localCheckpoint(eager=True)
    comp = (
        edges.groupBy("doc_a")
        .agg(F.min("doc_b").alias("mn"))
        .select(
            F.col("doc_a").alias("node"),
            F.least(F.col("doc_a"), F.col("mn")).alias("comp"),
        )
        .localCheckpoint(eager=True)
    )
    changed = 1
    for it in range(20):
        nbr_min = (
            edges.join(comp, edges.doc_b == comp.node)
            .groupBy("doc_a")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        stepped = (
            comp.join(nbr_min, comp.node == nbr_min.doc_a, "left")
            .select(
                "node",
                F.col("comp").alias("old_comp"),
                F.least(
                    F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))
                ).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
        comp = stepped.select("node", "comp")
        if it % 2 == 1 or it == 19:
            changed = stepped.filter(
                F.col("comp") != F.col("old_comp")
            ).count()
            if changed == 0:
                break
    if changed != 0:
        raise RuntimeError(
            "label propagation did not converge in 20 iterations "
            f"({changed} labels still moving) -- graph has a component "
            "with diameter > 20; raise the iteration cap or tighten "
            "the pair threshold"
        )
    return comp


# near-dup cosine threshold: the fixture embeddings top out at ~0.48
# pairwise cosine, so 0.4 marks the "anomalously close" tail; a
# real corpus with injected dup vectors would use 0.95+
COSINE_NEAR_DUP = 0.4


def lsh_candidate_pairs(
    v: DataFrame, *, tables: int, flips: int, nplanes: int
) -> DataFrame:
    """Distinct candidate (vec_a < vec_b) pairs from one-sided
    multi-probe random-hyperplane LSH over ``v(vec_id, vec)`` — the
    blocking stage of :func:`dedup_embedding_cosine`, factored out
    so the (tables, flips, nplanes) operating point is testable at
    any corpus size (the production path sizes ``nplanes`` with
    :func:`similarity.lsh_planes`; the fixture default keeps the
    static oracle)."""
    from dbt_eamples_spark.operators.similarity import with_lsh_probes

    pk = with_lsh_probes(v, "vec", tables, flips, nplanes=nplanes)
    pkc = pk.select(
        "vec_id", *[f"p{t}" for t in range(tables)]
    ).localCheckpoint(eager=True)
    return _probe_pairs(pkc, tables)


def _base_keys(keyed: DataFrame, tables: int, id_alias: str) -> DataFrame:
    """(id_alias, t, bucket): one row per table, bucket = element 1 of
    the probe array ``p{t}`` — the base (no-flip) key."""
    keys = ", ".join(
        f"named_struct('t', {t}, 'bucket', element_at(p{t}, 1))"
        for t in range(tables)
    )
    return V.select(keyed, f"vec_id AS {id_alias}", f"inline(array({keys}))")


def _probe_pairs(keyed: DataFrame, tables: int) -> DataFrame:
    """Distinct (vec_a < vec_b) pairs of a keyed frame: base keys of
    one side equi-joined to every probe key of the other."""
    from dbt_eamples_spark.operators.similarity import probe_key_pairs_sql

    kb = V.select(keyed, "vec_id AS vec_b", f"inline({probe_key_pairs_sql(tables)})")
    return V.select(
        _base_keys(keyed, tables, "vec_a")
        .join(kb, ["t", "bucket"])
        .where("vec_a != vec_b"),
        "least(vec_a, vec_b) AS vec_a",
        "greatest(vec_a, vec_b) AS vec_b",
    ).distinct()


# the exact-cosine verify of a candidate pair, over the a-side vector
# and norm (va, na) and the b-side's (vb, nb): the same float ops in
# the same order as the oracle's dot/(na*nb)
_VERIFY_COSINE_SQL = (
    f"round(try_divide({V.dot_sql('va', 'vb')}, na * nb), 6) AS cosine"
)
_VERIFY_KEEP_SQL = f"cosine >= {COSINE_NEAR_DUP!r}D"


def _cosine_verify(v: DataFrame, cands: DataFrame) -> DataFrame:
    """Exact-cosine verify of PINNED candidate pairs (vec_a, vec_b)
    over ``v(vec_id, vec)``: (vec_a, vec_b, cosine) with cosine ≥
    COSINE_NEAR_DUP."""
    ids = (
        V.select(cands, "vec_a AS vec_id")
        .union(V.select(cands, "vec_b AS vec_id"))
        .distinct()
    )
    # norms once per vector on the (small) broadcast side — the
    # per-pair verify then pays a single 64-element fold
    cand_vecs = V.select(
        v.join(F.broadcast(ids), "vec_id"),
        "vec_id", "vec", f"{V.norm_sql('vec')} AS nrm",
    )
    a = V.select(cand_vecs, "vec_id AS vec_a", "vec AS va", "nrm AS na")
    b = V.select(cand_vecs, "vec_id AS vec_b", "vec AS vb", "nrm AS nb")
    # Catalyst substitutes the cosine alias into the filter and pushes
    # it into the join condition — benign here (unlike the
    # CollapseProject pitfall at `_shingles`): the fold runs once per
    # candidate in the join condition and is re-evaluated only for
    # the few rows that pass the threshold.
    return V.select(
        cands.join(F.broadcast(a), "vec_a").join(F.broadcast(b), "vec_b"),
        "vec_a", "vec_b", _VERIFY_COSINE_SQL,
    ).where(_VERIFY_KEEP_SQL)


def dedup_embedding_cosine(
    spark: SparkSession, sf_dir: str, *, nplanes: int | None = None
) -> DataFrame:
    """Embedding near-dup pairs: random-hyperplane-LSH candidates +
    exact-cosine verify (cosine ≥ COSINE_NEAR_DUP).

    Candidates come from the same sign-bit LSH buckets the
    similarity search uses (:func:`similarity._lsh_bucket`, literal
    plane weights): a vector lands in ``DEDUP_LSH_TABLES`` buckets,
    and any two vectors sharing a (table, bucket) key become a pair.
    Round-1 blocked on ``label`` — an O(N²/|labels|) pair join that
    degenerates to near-all-pairs with few labels AND had only 8%
    recall on the fixture (5 of 59 true cosine ≥ 0.4 pairs, since
    near-dups cross labels); base-bucket LSH blocking finds 44 of 59
    (75%) at this fixture threshold; one-sided multi-probe
    (DEDUP_PROBE_FLIPS lowest-margin flips, either orientation via
    least/greatest canonicalization) lifts that to 57 of 59 (97%),
    ≈100% at a production 0.95 cutoff (recall math at
    ``DEDUP_LSH_TABLES``).

    Candidate pairs come from an equi-self-join of the (table,
    bucket) key table on the bucket key. The key table is
    localCheckpoint'ed first so the plane expressions are evaluated
    ONCE (not once per join side), and the join itself is a
    codegen'd hash join — measured 3× faster than the interpreted
    in-bucket lambda expansion dedup_minhash uses, because embedding
    buckets are orders of magnitude fatter than MinHash-band buckets
    (the fixture's near-uniform vectors are LSH's worst case). At
    scale the join shape is also safer: a skewed bucket becomes an
    AQE-splittable join key rather than a collect_list that must fit
    in one aggregation buffer. Exact cosine is computed only for
    candidate pairs via a broadcast join of the candidate vectors,
    with per-VECTOR norms precomputed on the broadcast side so each
    pair pays one 64-element dot fold, not three. Dot products via
    zip_with/aggregate — JVM-side, bit-identical to the DuckDB
    left-fold oracle."""
    from dbt_eamples_spark.operators.similarity import (
        DEDUP_LSH_TABLES,
        DEDUP_PROBE_FLIPS,
        lsh_planes,
    )

    v = V.select(
        load_table(spark, sf_dir, "embeddings", parallelize=True),
        "vec_id",
        f"{V.as_double_sql('embedding')} AS vec",
    )
    # Blocking stage (lsh_candidate_pairs): one dot pass — the probe
    # columns carry base bucket + flips and both join sides project
    # from the same checkpointed key table, so the plane dots (the
    # only compute-heavy part) evaluate once per vector. Multi-probe
    # is ONE-SIDED (index side stays at DEDUP_LSH_TABLES keys/vector;
    # probe side grows ×(1+flips)); least/greatest canonicalization
    # keeps symmetric recall. nplanes defaults to the DYNAMIC
    # lsh_planes(n) sizing (round 5: the pinned fixture constant
    # measured scaling exponent 1.57 on the 10× corpus — bucket
    # saturation makes in-bucket pair expansion quadratic); the
    # oracle replicates the same integer ladder from count(*), so
    # both engines pick identical planes at every corpus size.
    if nplanes is None:
        # count on the RAW scan (not the parallelized frame): the
        # round-robin repartition would turn a metadata-served
        # parquet count into a full shuffle pass (r15)
        nplanes = lsh_planes(
            load_table(spark, sf_dir, "embeddings").count()
        )  # scalar: index-build param
    pairs = lsh_candidate_pairs(
        v,
        tables=DEDUP_LSH_TABLES,
        flips=DEDUP_PROBE_FLIPS,
        nplanes=nplanes,
    )
    return _cosine_verify(v, pairs.localCheckpoint(eager=True))


def corpus_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation verdict: ONE row per document with the
    final keep/drop decision and its reason — the artifact a
    training-data pipeline actually consumes (the pairwise/cluster
    operators above are its evidence). Tiers, in precedence order:

    1. ``exact_dup``  — not the minimum doc_id of its normalized-text
       fingerprint group (dedup_exact semantics);
    2. ``near_dup``   — a MinHash cluster member that is not its
       cluster's canonical doc (dedup_clusters semantics);
    3. ``kept``       — everything else.

    Scale shape: the exact tier is one window over the fingerprint
    hash (uniform key); the near-dup tier joins the (tiny) cluster
    assignment — bounded by docs that appear in any near-dup pair —
    as a broadcast. Nothing here re-shuffles the corpus beyond the
    one fingerprint exchange."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    w = Window.partitionBy("fp")
    exact = docs.select("doc_id", F.md5(norm).alias("fp")).select(
        "doc_id",
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("exact_keep"),
    )
    clusters = _cluster_verdicts(spark, sf_dir).select(
        F.col("doc_id").alias("cl_doc_id"), F.col("keep").alias("cl_keep")
    )
    joined = exact.join(
        F.broadcast(clusters), exact.doc_id == clusters.cl_doc_id, "left"
    )
    reason = (
        F.when(~F.col("exact_keep"), F.lit("exact_dup"))
        .when(
            F.col("cl_keep").isNotNull() & ~F.col("cl_keep"), F.lit("near_dup")
        )
        .otherwise(F.lit("kept"))
    )
    return joined.select(
        "doc_id",
        reason.alias("reason"),
        (reason == "kept").alias("keep"),
    )


def corpus_dedup_rate_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source duplication telemetry (round 10): the keep-list
    verdicts rolled up by document source — the number a curation
    pipeline actually acts on (a source whose dup_rate spikes gets
    downweighted or re-crawled, Dolma/RefinedWeb-style source
    accounting). One broadcast attach of the (doc_id, source) columns
    to the verdict table, one source-keyed hash-agg; the heavy
    evidence (exact window + cluster labels) is the persisted
    cascade state corpus_keep_list already reads.

    Output: (source, n_docs, n_exact_dup, n_near_dup, n_kept,
    dup_rate) ordered by source."""
    verdicts = corpus_keep_list(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    return (
        verdicts.join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("reason") == "exact_dup", 1).otherwise(0))
            .cast("long")
            .alias("n_exact_dup"),
            F.sum(F.when(F.col("reason") == "near_dup", 1).otherwise(0))
            .cast("long")
            .alias("n_near_dup"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
        )
        .select(
            "source",
            "n_docs",
            "n_exact_dup",
            "n_near_dup",
            "n_kept",
            F.round(
                (F.col("n_docs") - F.col("n_kept")).cast("double")
                / F.col("n_docs"),
                6,
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


INCR_MOD = 10  # doc_id % 10 == 0 marks the incoming "new batch"


def _band_keys(sh: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) LSH keys from a (doc_id, shingles)
    frame — the banded-signature map shared by the self-join dedup
    and the incremental index/probe."""
    sig = _minhash_signatures(sh)
    return sig.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(MINHASH_BANDS - 1))).alias("band"),
        F.col("sig"),
    ).select(
        "doc_id",
        "band",
        V.expr(
            f"concat_ws('|', transform(slice(sig, band * {MINHASH_ROWS} + 1, "
            f"{MINHASH_ROWS}), x -> CAST(x AS STRING)))"
        ).alias("bucket"),
    )


def minhash_band_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED corpus-side LSH index (corpus_doc, band,
    bucket): built once per corpus fingerprint and stored as a
    parquet artifact (dbt_eamples_spark.artifacts), so an ingest
    delta probes it without paying corpus signature computation —
    the index an LSH deployment keeps warm. At scale this artifact
    is a bucketed table on (band, bucket); here it is the plain
    parquet the fixture needs."""
    from dbt_eamples_spark.artifacts import (
        corpus_fingerprint,
        load_or_build,
    )

    def build() -> DataFrame:
        corpus = doc_shingles(spark, sf_dir).filter(
            ~(F.col("doc_id") % INCR_MOD == 0)
        ).select("doc_id", "shingles")
        return _band_keys(corpus).select(
            F.col("doc_id").alias("corpus_doc"), "band", "bucket"
        )

    return load_or_build(
        spark, "minhash_band_index", corpus_fingerprint(sf_dir, "documents"),
        build,
    )


def minhash_band_index_apply_delta(
    spark: SparkSession,
    sf_dir: str,
    delta_docs: DataFrame,
) -> DataFrame:
    """Delta-maintain the persisted MinHash band index: signatures
    are computed for ``delta_docs`` (doc_id, text, …) ONLY and
    appended to the base index — a pure index-append (band keys are
    per-doc state, so no base row ever changes), the cheapest delta
    shape in the artifact family. Published under the union corpus's
    documents fingerprint, the merged index lets the next ingest
    batch probe an index that already covers this one. Row-identical
    to a from-scratch index build over base-corpus ∪ delta
    (pytest-locked).

    The %INCR_MOD corpus convention is applied to the DELTA too
    (ADVICE r9): a from-scratch build at any fingerprint excludes
    doc_id % INCR_MOD == 0 rows, so the merged index must as well —
    otherwise a delta carrying such ids (inevitable in real ingest)
    publishes an artifact that differs from the builder's output for
    the same (kind, fingerprint) key, breaking the
    fingerprint→content invariant and silently adding new×new
    candidate pairs to later incremental runs."""
    base = minhash_band_index(spark, sf_dir)
    new_keys = _band_keys(
        _shingles(
            delta_docs.select("doc_id", "text").filter(
                ~(F.col("doc_id") % INCR_MOD == 0)
            )
        )
    ).select(F.col("doc_id").alias("corpus_doc"), "band", "bucket")
    return base.unionByName(new_keys)


def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup check: dedup the NEW batch against the
    existing corpus without comparing the corpus to itself — the
    shape a production ingest actually runs (the 100 TB corpus is
    indexed once; each delta probes the index).

    The corpus-side (band, bucket) keys come from the PERSISTED
    artifact index (:func:`minhash_band_index` — round 5; previously
    recomputed per session), and the new docs' keys are their rows
    of the persisted :func:`minhash_band_index_full`, so no call
    computes signatures. Candidates come from an asymmetric
    equi-join of batch keys against index keys — no corpus
    self-join, so incremental cost is O(|delta| + collisions),
    never O(|corpus|²).
    Verify is exact Jaccard on candidates only, same as
    dedup_minhash."""
    is_new = F.col("doc_id") % INCR_MOD == 0
    new_keys = minhash_band_index_full(spark, sf_dir).filter(is_new).select(
        F.col("doc_id").alias("new_doc"), "band", "bucket"
    )
    corpus_keys = minhash_band_index(spark, sf_dir)
    cands = (
        new_keys.join(corpus_keys, ["band", "bucket"])
        .select("new_doc", "corpus_doc")
        .distinct()
        .localCheckpoint(eager=True)
    )
    ids = (
        cands.select(F.col("new_doc").alias("doc_id"))
        .union(cands.select(F.col("corpus_doc").alias("doc_id")))
        .distinct()
    )
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    cand_sh = _shingles(docs.join(F.broadcast(ids), "doc_id"))
    sa = cand_sh.select(
        F.col("doc_id").alias("new_doc"), F.col("shingles").alias("sh_a")
    )
    sb = cand_sh.select(
        F.col("doc_id").alias("corpus_doc"), F.col("shingles").alias("sh_b")
    )
    return (
        cands.join(F.broadcast(sa), "new_doc")
        .join(F.broadcast(sb), "corpus_doc")
        .select(
            "new_doc",
            "corpus_doc",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# ---- incremental cluster maintenance (VERDICT r9 #2) ----------------
# `cluster_verdicts` was the last rebuild-on-change artifact: a delta
# edge can MERGE two existing clusters, so per-doc state alone cannot
# be appended. But components only ever merge when edges are added
# (never split), so the relabel is exact on the QUOTIENT graph: each
# existing component collapses to its label (one super-node), the new
# pairs project onto super-nodes, and min-label propagation over that
# tiny graph (|new pairs| edges, not the corpus) yields the merged
# labeling. Every label is already the min doc_id of its component,
# so the min over a merged super-component IS the union component's
# min — row-identical to a from-scratch rebuild (pytest-locked in
# tests/test_delta_artifacts.py, incl. the two-existing-clusters
# merge fixture).

def minhash_band_index_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band, bucket) over ALL docs of the dir — the
    persisted index backing incremental CLUSTER maintenance. Unlike
    :func:`minhash_band_index` (which holds out the %INCR_MOD
    fixture batch to model an ingest), the cluster pair graph covers
    the whole corpus, so its delta probe needs keys for every base
    doc."""
    from dbt_eamples_spark.artifacts import session_artifact

    return session_artifact(
        spark, sf_dir, "minhash_band_index_full", ("documents",),
        lambda: _band_keys(
            doc_shingles(spark, sf_dir).select("doc_id", "shingles")
        ),
    )


def dedup_incremental_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ngram-Jaccard near-dup check (round 10 — the last
    incremental family without a driver-gated query form): the NEW
    batch (doc_id % INCR_MOD == 0) probes the persisted
    ``ngram_block_index`` with its own 1-hash-MinHash block keys;
    candidates are the blk equi-join against the corpus side
    (% INCR_MOD != 0 rows of the same index), verified with the
    exact Jaccard the full build uses. No corpus self-join, no
    corpus re-tokenize: the corpus side is two artifact scans (block
    index + shingle arrays); only the delta pays blk hashing —
    O(|delta| + collisions), the ``ngram_pairs_apply_delta`` probe
    shape as a hash-checkable query.

    Output: (new_doc, corpus_doc, jaccard) for verified pairs at
    Jaccard ≥ NGRAM_PAIR_TAU — the dedup_incremental_minhash schema
    for the ngram family."""
    is_new = F.col("doc_id") % INCR_MOD == 0
    idx = _ngram_block_index(spark, sf_dir)
    sh = doc_shingles(spark, sf_dir).select("doc_id", "shingles")
    d_blocked = (
        sh.filter(is_new)
        .select("doc_id", "shingles", _blk_col().alias("blk"))
        .localCheckpoint(eager=True)  # delta-sized; key + verify legs
    )
    cands = (
        d_blocked.select(F.col("doc_id").alias("new_doc"), "blk")
        .join(
            idx.filter(~is_new).select(
                F.col("doc_id").alias("corpus_doc"), "blk"
            ),
            "blk",
        )
        .select("new_doc", "corpus_doc")
    )
    return (
        cands.join(
            F.broadcast(
                d_blocked.select(
                    F.col("doc_id").alias("new_doc"),
                    F.col("shingles").alias("sh_a"),
                )
            ),
            "new_doc",
        )
        .join(
            sh.filter(~is_new).select(
                F.col("doc_id").alias("corpus_doc"),
                F.col("shingles").alias("sh_b"),
            ),
            "corpus_doc",
        )
        .select("new_doc", "corpus_doc", _pair_jaccard().alias("jaccard"))
        .filter(F.col("jaccard") >= NGRAM_PAIR_TAU)
    )


# Pure-append delta paths for the per-doc base artifacts (round 10,
# the appenders the ingest composer needs so a SECOND batch's
# apply_delta calls find every base artifact warm at the updated
# fingerprint instead of re-tokenizing the grown corpus).


def doc_shingles_apply_delta(
    spark: SparkSession,
    sf_dir: str,
    delta_docs: DataFrame,
) -> DataFrame:
    """Delta-maintain the shared ``doc_shingles`` artifact: tokenize
    the delta only, append — per-doc state, row-identical to a
    rebuild over base ∪ delta by construction."""
    return doc_shingles(spark, sf_dir).unionByName(
        _shingles(
            delta_docs.select("doc_id", "source", "text"), "source"
        )
    )


def ngram_block_index_apply_delta(
    spark: SparkSession,
    sf_dir: str,
    delta_docs: DataFrame,
) -> DataFrame:
    """Delta-maintain the ``ngram_block_index`` (doc_id, blk)
    blocking artifact — a pure per-doc append."""
    return _ngram_block_index(spark, sf_dir).unionByName(
        _shingles(delta_docs.select("doc_id", "text")).select(
            "doc_id", _blk_col().alias("blk")
        )
    )


def minhash_band_index_full_apply_delta(
    spark: SparkSession,
    sf_dir: str,
    delta_docs: DataFrame,
) -> DataFrame:
    """Delta-maintain :func:`minhash_band_index_full` — a pure
    per-doc append (NO %INCR_MOD filter: the full index covers every
    doc by definition)."""
    return minhash_band_index_full(spark, sf_dir).unionByName(
        _band_keys(_shingles(delta_docs.select("doc_id", "text")))
    )


def minhash_pairs_delta_new(
    spark: SparkSession,
    sf_dir: str,
    delta_docs: DataFrame,
    assume_new_ids: bool = False,
) -> DataFrame:
    """The verified MinHash near-dup pairs GAINED by appending
    ``delta_docs`` (doc_id, text, …) to the corpus at ``sf_dir``:
    (delta × base) from an asymmetric probe of the persisted
    :func:`minhash_band_index_full`, plus (delta × delta) from a
    delta-sized band self-join — each exact-Jaccard-verified with
    dedup_minhash's expressions. Base×base pairs are untouched by
    an append (band keys are per-doc), so base ∪ these IS the union
    corpus's pair set. Output (doc_a, doc_b, jaccard), doc_a <
    doc_b. Same new-ids-only contract (and ValueError guard) as
    :func:`ngram_pairs_apply_delta`."""
    d_sh = _shingles(
        delta_docs.select("doc_id", "text")
    ).localCheckpoint(eager=True)  # delta-sized; keys + both verify legs
    base_idx = minhash_band_index_full(spark, sf_dir)
    if not assume_new_ids:
        overlap = (
            d_sh.select("doc_id")
            .join(base_idx.select("doc_id"), "doc_id", "left_semi")
            .limit(1)
            .collect()
        )
        if overlap:
            raise ValueError(
                "minhash_pairs_delta_new: delta contains doc_ids "
                f"already in the base corpus (e.g. {overlap[0].doc_id})"
                " — the delta contract is new-ids-only"
            )
    d_keys = _band_keys(d_sh).localCheckpoint(eager=True)
    # delta × base: probe the persisted index; candidates are
    # band-collision-bounded, never a corpus self-join
    cands_db = (
        d_keys.select(F.col("doc_id").alias("d_doc"), "band", "bucket")
        .join(
            base_idx.select(F.col("doc_id").alias("b_doc"), "band", "bucket"),
            ["band", "bucket"],
        )
        .select("d_doc", "b_doc")
        .distinct()
    )
    b_ids = cands_db.select(F.col("b_doc").alias("doc_id")).distinct()
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    b_sh = _shingles(docs.join(F.broadcast(b_ids), "doc_id"))
    db = (
        cands_db.join(
            F.broadcast(
                d_sh.select(
                    F.col("doc_id").alias("d_doc"),
                    F.col("shingles").alias("sh_a"),
                )
            ),
            "d_doc",
        )
        .join(
            F.broadcast(
                b_sh.select(
                    F.col("doc_id").alias("b_doc"),
                    F.col("shingles").alias("sh_b"),
                )
            ),
            "b_doc",
        )
        .select(
            F.least("d_doc", "b_doc").alias("doc_a"),
            F.greatest("d_doc", "b_doc").alias("doc_b"),
            _pair_jaccard().alias("jaccard"),
        )
    )
    # delta × delta: dedup_minhash's band self-join, delta-sized
    cands_dd = (
        d_keys.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
        .join(
            d_keys.select(F.col("doc_id").alias("doc_b"), "band", "bucket"),
            ["band", "bucket"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    dd = (
        cands_dd.join(
            F.broadcast(
                d_sh.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("shingles").alias("sh_a"),
                )
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                d_sh.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("shingles").alias("sh_b"),
                )
            ),
            "doc_b",
        )
        .select("doc_a", "doc_b", _pair_jaccard().alias("jaccard"))
    )
    return db.unionByName(dd).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )


# one ingest batch's quotient graph (label-level edges, one per new
# near-dup pair) is AGGREGATED state like a codebook or moment grid:
# collision-bounded, orders of magnitude below the corpus. Up to this
# many edges the components are solved driver-side with union-find
# (micro-seconds) instead of paying per-iteration job latency in the
# distributed propagation — which at fixture scale dominated the
# whole delta path (measured: the cluster delta was SLOWER than its
# 2 s rebuild purely on propagation-round latency). Past the bound —
# a pathological batch — the exchange-based propagation takes over.
# Bound sized so the probe collect itself stays ~10 MB of driver
# heap (two longs + Row overhead per edge): at the previous 1M bound
# the size probe could be hundreds of MB before the distributed
# fallback was ever chosen.
QUOTIENT_DRIVER_CC_MAX = 100_000


def _quotient_components(qe: DataFrame) -> DataFrame:
    """Connected components of the (sa, sb) quotient-edge frame →
    (node, comp). Driver union-find below QUOTIENT_DRIVER_CC_MAX
    edges, distributed min-label propagation above. The size probe
    IS the collect (one job, LIMIT-bounded): only past the bound
    does the distributed path re-read the frame."""
    rows = qe.limit(QUOTIENT_DRIVER_CC_MAX + 1).collect()
    if len(rows) > QUOTIENT_DRIVER_CC_MAX:
        return _min_label_propagation(qe, "sa", "sb")
    return _driver_union_find_df(
        qe.sparkSession, [(r.sa, r.sb) for r in rows]
    )


def _driver_union_find_df(spark: SparkSession, edges: list) -> DataFrame:
    """(node, comp) via driver union-find over a BOUNDED edge list
    (≤ QUOTIENT_DRIVER_CC_MAX pairs — the caller's collect enforces
    it). Union by MIN so the root IS the component label — the same
    fixpoint every distributed kernel reaches. Shared by
    :func:`_quotient_components` (since r9) and, from r15, the
    below-bound fast path of :func:`_min_label_propagation`."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    nodes = {n for e in edges for n in e}
    rows = [(n, find(n)) for n in sorted(nodes)]
    if not rows:
        return spark.createDataFrame([], "node long, comp long")
    return spark.createDataFrame(rows, "node long, comp long")


def _merge_labels_quotient(
    base_labels: DataFrame, new_pairs: DataFrame
) -> DataFrame:
    """Incremental connected components via the quotient graph:
    ``base_labels`` (doc_id, cluster_id, …) is an exact labeling of
    the base pair graph; ``new_pairs`` (doc_a, doc_b) are the edges
    an append gained. Each new-pair endpoint maps to its existing
    label (or itself when previously unlabeled — new docs AND base
    singletons crossing into the pair graph); min-label propagation
    runs over THAT graph only (|new pairs| edges), and the resulting
    label map relabels just the touched components. Untouched
    components never shuffle. Returns (doc_id, cluster_id, keep)."""
    lab = base_labels.select("doc_id", "cluster_id")
    new_pairs = new_pairs.select("doc_a", "doc_b").localCheckpoint(
        eager=True
    )  # collision-bounded; the endpoint and quotient-edge legs both
    # read it — without the pin each leg re-runs the probe + verify
    ep = (
        new_pairs.select(F.col("doc_a").alias("doc_id"))
        .union(new_pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    snode = ep.join(lab, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("snode"),
    ).localCheckpoint(eager=True)  # delta-sized; 3 consumers
    qe = (
        new_pairs.join(
            snode.select(
                F.col("doc_id").alias("doc_a"), F.col("snode").alias("sa")
            ),
            "doc_a",
        )
        .join(
            snode.select(
                F.col("doc_id").alias("doc_b"), F.col("snode").alias("sb")
            ),
            "doc_b",
        )
        .select("sa", "sb")
        .distinct()
    )
    comp = _quotient_components(qe)  # (node=snode, comp)
    relabeled = (
        lab.join(
            comp.select(
                F.col("node").alias("cluster_id"),
                F.col("comp").alias("new_comp"),
            ),
            "cluster_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("new_comp", F.col("cluster_id")).alias("cluster_id"),
        )
    )
    fresh = (
        snode.join(lab.select("doc_id"), "doc_id", "left_anti")
        .join(comp, snode.snode == comp.node)
        .select("doc_id", F.col("comp").alias("cluster_id"))
    )
    return relabeled.unionByName(fresh).select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
    )


# Corpus-size crossover for the cluster family (VERDICT r12 #6 —
# the TRIANGLE_DELTA_REBUILD_CROSSOVER analogue, but keyed on CORPUS
# size, not delta fraction: the delta path's fixed overhead — probe
# collects, quotient checkpoints — is corpus-independent, while the
# rebuild cost grows with the corpus). tools/delta_bench.py
# (DELTA_BENCH.json): at the 5,000-doc sf0.1 corpus delta ≈ rebuild
# (2.74 s vs 2.69 s, crossover 2.0%); at the 50,000-doc sf1 corpus
# delta is flat (~3.1 s) while rebuild reaches 7.6 s and keeps
# growing. Below this corpus size a from-scratch rebuild is at
# least as cheap as the delta path.
CLUSTER_DELTA_MIN_CORPUS_ROWS = 5_000


def cluster_verdicts_apply_delta(
    spark: SparkSession,
    sf_dir: str,
    delta_docs: DataFrame,
    assume_new_ids: bool = False,
) -> DataFrame:
    """Delta-maintain the persisted cluster labeling (VERDICT r9 #2
    — the last rebuild-on-change artifact): new pairs from
    :func:`minhash_pairs_delta_new`, then the quotient-graph merge
    of :func:`_merge_labels_quotient` over the persisted
    :func:`cluster_labels`. A delta edge merging two existing
    clusters relabels both to the union's min doc_id — exactly what
    a from-scratch :func:`dedup_clusters` on base ∪ delta produces
    (pytest-locked, incl. the explicit two-clusters-merge fixture).

    Published under the union corpus's documents fingerprint, the
    merged labeling lets every later cascade query on the updated
    corpus read it warm.

    Scale shape: delta signature + collision-bounded probes for the
    new pairs; label propagation over |new pairs| quotient edges
    (NOT the corpus pair graph); one labels-sized relabel join whose
    broadcast side is the tiny quotient label map. Cost grows with
    the delta's neighborhood, never the corpus — measured in
    tools/delta_bench.py.

    Crossover policy (VERDICT r12 #6): below
    ``CLUSTER_DELTA_MIN_CORPUS_ROWS`` the delta path's fixed
    overhead eats its win — a from-scratch :func:`dedup_clusters`
    rebuild is at least as cheap (DELTA_BENCH sf0.1 row) — so the
    function warns; it still returns the (equivalence-locked)
    merged result so callers keep correctness either way. Above the
    threshold the delta path dominates and the gap widens with the
    corpus (flat delta vs corpus-sized rebuild at sf1)."""
    import warnings

    n_corpus = load_table(
        spark, sf_dir, "documents"
    ).count()
    if n_corpus < CLUSTER_DELTA_MIN_CORPUS_ROWS:
        warnings.warn(
            f"cluster_verdicts_apply_delta: corpus has {n_corpus} "
            f"rows < {CLUSTER_DELTA_MIN_CORPUS_ROWS} — below the "
            "measured corpus-size crossover (DELTA_BENCH.json); a "
            "from-scratch dedup_clusters rebuild over the union is "
            "at least as cheap at this corpus size",
            RuntimeWarning,
            stacklevel=2,
        )
    base = cluster_labels(spark, sf_dir)
    new_pairs = minhash_pairs_delta_new(
        spark, sf_dir, delta_docs, assume_new_ids=assume_new_ids
    ).select("doc_a", "doc_b")
    return _merge_labels_quotient(base, new_pairs)


def _verify_pairs(
    spark: SparkSession, sf_dir: str, cands: DataFrame
) -> DataFrame:
    """Exact-Jaccard verify of a (doc_a, doc_b) candidate frame:
    shingles re-derived for candidate docs only (the dedup_minhash
    shape — candidates are collision-bounded and tiny)."""
    ids = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .union(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    csh = _shingles(docs.join(F.broadcast(ids), "doc_id"))
    sa = csh.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    sb = csh.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    return (
        cands.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select("doc_a", "doc_b", _pair_jaccard().alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def _band_self_pairs(keys: DataFrame) -> DataFrame:
    """Distinct (doc_a < doc_b) candidates from a (doc_id, band,
    bucket) key frame — the banded self-join shared by the base
    labeling build and the delta's own-batch pairs."""
    ka = keys.select("band", "bucket", F.col("doc_id").alias("doc_a"))
    kb = keys.select("band", "bucket", F.col("doc_id").alias("doc_b"))
    return (
        ka.join(kb, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def _cluster_labels_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) — the persisted CC labeling of the
    BASE-corpus (doc_id % INCR_MOD != 0) pair graph, the warm label
    state :func:`dedup_incremental_clusters` merges into. Built once
    per documents fingerprint from the persisted
    :func:`minhash_band_index` (same corpus convention), so the
    incremental query's WARM cost is two artifact scans plus
    delta-sized work — the production shape, like the band index
    behind dedup_incremental_minhash."""
    from dbt_eamples_spark.artifacts import session_artifact

    def build() -> DataFrame:
        keys = minhash_band_index(spark, sf_dir).select(
            F.col("corpus_doc").alias("doc_id"), "band", "bucket"
        )
        pairs = _verify_pairs(
            spark, sf_dir, _band_self_pairs(keys)
        ).localCheckpoint(eager=True)
        return _min_label_propagation(pairs, "doc_a", "doc_b").select(
            F.col("node").alias("doc_id"),
            F.col("comp").alias("cluster_id"),
        )

    return session_artifact(
        spark, sf_dir, "cluster_labels_base", ("documents",), build
    )


def dedup_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cluster maintenance as a driver-checkable query
    (VERDICT r9 #2): the corpus convention splits the dir into base
    (doc_id % INCR_MOD != 0) and the incoming tenth; base labels are
    the PERSISTED :func:`_cluster_labels_base` artifact, the delta's
    new pairs come from an asymmetric probe of the persisted
    :func:`minhash_band_index` plus a delta-sized self-join, and the
    final labeling from the quotient-graph merge
    (:func:`_merge_labels_quotient`) — the base pair graph is never
    re-propagated, base signatures never recomputed. The oracle is
    the SAME recursive-CTE connected components over the whole
    corpus as ``dedup_clusters``, so the value hash proves the
    incremental composition (persisted labels + delta probe +
    quotient merge) is exactly a from-scratch rebuild, merges
    included.

    Output mirrors :func:`dedup_clusters`: (doc_id, cluster_id,
    cluster_size, keep) for every pair-involved doc of the union.

    Scale shape: warm cost = two artifact scans (band index, base
    labels) + delta signatures + collision-bounded probes + a
    union-find over |new pairs| quotient edges. The
    explicit-delta-frame twin over arbitrary ingest batches is
    :func:`cluster_verdicts_apply_delta`."""
    sh_all = doc_shingles(spark, sf_dir).select("doc_id", "shingles")
    delta_keys = _band_keys(
        sh_all.filter(F.col("doc_id") % INCR_MOD == 0)
    ).localCheckpoint(eager=True)  # delta-sized; probe + self-join
    idx = minhash_band_index(spark, sf_dir)
    cands_db = (
        delta_keys.select("band", "bucket", F.col("doc_id").alias("d_doc"))
        .join(idx.select("band", "bucket", "corpus_doc"), ["band", "bucket"])
        .select(
            F.least("d_doc", "corpus_doc").alias("doc_a"),
            F.greatest("d_doc", "corpus_doc").alias("doc_b"),
        )
        .distinct()
    )
    new_pairs = _verify_pairs(
        spark, sf_dir,
        cands_db.unionByName(_band_self_pairs(delta_keys)).distinct(),
    ).select("doc_a", "doc_b")
    merged = _merge_labels_quotient(
        _cluster_labels_base(spark, sf_dir), new_pairs
    )
    w = Window.partitionBy("cluster_id")
    return merged.select(
        "doc_id",
        "cluster_id",
        F.count("*").over(w).alias("cluster_size"),
        "keep",
    )


# containment dedup: catches SUBSET duplicates (doc quoted inside a
# longer doc, boilerplate wrappers) that Jaccard-based near-dup
# misses — a small doc inside a big one has low Jaccard but high
# containment. Blocking is PREFIX FILTERING on each doc's rarest
# shingles: a subset dup necessarily shares its rare shingles with
# its superset, and rare (low-df) shingles have small posting lists,
# so the inverted-index join output is bounded by Σ df_rare² — the
# opposite of joining on boilerplate shingles.
CONTAINMENT_THRESHOLD = 0.6
CONTAINMENT_RARE_K = 3


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subset/near-containment pairs: containment =
    |A∩B| / min(|A|,|B|) over word-3-shingle sets, candidates from a
    rare-shingle inverted index (prefix filtering).

    Scale shape: shingle df is one map-side-combined groupBy; each
    doc keeps its CONTAINMENT_RARE_K rarest shingles (window over
    the doc's own shingles — per-doc state only); candidates come
    from an equi-self-join on those rare-shingle keys, so a shingle
    contributes df² pairs only if it survived as SOMEONE'S rarest —
    high-df boilerplate never becomes a join key. Exact containment
    verifies only candidate pairs via array_intersect on the two
    (distinct) shingle arrays. Ties in the rarity ranking break on
    the shingle string so both engines pick identical keys."""
    sh = doc_shingles(spark, sf_dir).select(
        "doc_id", "shingles"
    ).localCheckpoint(eager=True)
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    df_counts = ex.groupBy("s").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "s")
    keys = (
        ex.join(df_counts, "s")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= CONTAINMENT_RARE_K)
        .select("doc_id", "s")
    )
    ka = keys.select("s", F.col("doc_id").alias("doc_a"))
    kb = keys.select("s", F.col("doc_id").alias("doc_b"))
    cands = (
        ka.join(kb, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .localCheckpoint(eager=True)
    )
    ids = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .union(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    cand_sh = sh.join(F.broadcast(ids), "doc_id")
    a = cand_sh.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sha")
    )
    b = cand_sh.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("shb")
    )
    inter = F.size(F.array_intersect("sha", "shb"))
    smaller = F.least(F.size("sha"), F.size("shb"))
    return (
        cands.join(F.broadcast(a), "doc_a")
        .join(F.broadcast(b), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(inter / smaller, 6).alias("containment"),
        )
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
    )


SEGMENT_WORDS = 10  # words per dedup segment ("line" stand-in)


def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level duplication profile — the CCNet/RefinedWeb
    line-dedup shape: segment every document into consecutive
    SEGMENT_WORDS-word chunks, fingerprint each, count global
    fingerprint frequency, and report per document how much of it is
    corpus-repeated boilerplate (the signal that strips headers,
    cookie banners and license blocks before near-dup passes run).
    The fixture corpus has no newlines, so the "line" is a fixed
    word window; the mechanics — explode → global frequency →
    per-doc rollup — are identical with any segmenter.

    Scale: the explode is narrow (segments stream out of the scan);
    frequency is one map-side-combined groupBy on the 128-bit md5
    key; the segment→frequency join reuses that same key
    partitioning (no extra exchange under AQE); the per-doc rollup
    shuffles one row per segment, combining map-side to one row per
    doc. No self-joins, no driver state; a skewed viral segment is
    one fat md5 key that AQE splits. Tail words short of a full
    segment are dropped on both engines (floor)."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    words = docs.select(
        "doc_id", F.split(F.col("text"), r"\s+").alias("ws")
    )
    n_segs = F.floor(F.size("ws") / SEGMENT_WORDS).cast("int")
    segs = (
        words.select("doc_id", "ws", n_segs.alias("n_segs"))
        .filter(F.col("n_segs") > 0)
        .select(
            "doc_id",
            "ws",
            F.explode(
                F.sequence(F.lit(0), F.col("n_segs") - 1)
            ).alias("i"),
        )
        .select(
            "doc_id",
            F.md5(
                F.concat_ws(
                    " ",
                    F.slice(
                        "ws",
                        F.col("i") * SEGMENT_WORDS + 1,
                        SEGMENT_WORDS,
                    ),
                )
            ).alias("seg"),
        )
    )
    freq = segs.groupBy("seg").agg(F.count("*").alias("n_occurrences"))
    return (
        segs.join(freq, "seg")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum(
                F.when(F.col("n_occurrences") > 1, 1).otherwise(0)
            ).alias("n_dup_segments"),
        )
        .select(
            "doc_id",
            "n_segments",
            "n_dup_segments",
            F.round(
                F.col("n_dup_segments") / F.col("n_segments"), 6
            ).alias("dup_fraction"),
        )
    )


def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dup clusters (Abbas et al. 2023,
    arXiv:2303.09540): connected components over the EMBEDDING
    near-dup pair graph, so a cluster of paraphrases keeps ONE
    canonical vector even when only a chain of pairwise matches was
    found. The textual twin is :func:`dedup_clusters` (MinHash
    pairs); this one closes the loop for semantic duplicates that
    share no surface n-grams.

    Scale: pairs come from :func:`dedup_embedding_cosine` (LSH
    blocking — never all-pairs), and the closure is the shared
    :func:`_min_label_propagation` (one shuffle/iteration, bounded
    by graph diameter, checkpointed lineage). Output mirrors
    dedup_clusters: one row per vector that appears in ≥1 near-dup
    pair, keep = cluster canonical (minimum id)."""
    pairs = _cosine_pairs_cached(spark, sf_dir)
    comp = _min_label_propagation(pairs, "vec_a", "vec_b")
    w = Window.partitionBy("comp")
    return comp.select(
        F.col("node").alias("vec_id"),
        F.col("comp").alias("cluster_id"),
        F.count("*").over(w).alias("cluster_size"),
        (F.col("node") == F.col("comp")).alias("keep"),
    )


# verified-pair cache: the near-dup pair graph is an INDEX — built
# once, consumed by both the pairwise query and the cluster closure.
# The PERSISTED parquet artifact keyed by corpus fingerprint lets a
# second session or process reuse the index instead of re-running the
# LSH blocking + exact verify (the 100 TB operating model); within a
# session the store holds its checkpointed scan.
def _cosine_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_eamples_spark.artifacts import session_artifact

    return session_artifact(
        spark, sf_dir, "cosine_pairs", ("embeddings",),
        lambda: dedup_embedding_cosine(spark, sf_dir).select(
            "vec_a", "vec_b"
        ),
        keep=lambda df: df.localCheckpoint(eager=True),
    )


def text_normalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggressive-canonicalization dedup: casefold, strip every
    non-alphanumeric, collapse whitespace, THEN group — catching the
    near-copies exact dedup misses (punctuation edits, case changes,
    reflowed whitespace: the most common wrapper noise in scraped
    corpora, cf. CCNet's normalization pass). One tier stricter than
    ``dedup_exact`` (whitespace-only normalization) and far cheaper
    than MinHash: no shingles, no signatures.

    Output per canonical group: the md5 fingerprint, the survivor
    (min doc_id), member count, and how many DISTINCT raw texts the
    canonical form merged (> 1 ⇒ this op found something exact
    dedup could not).

    Scale shape: a narrow normalize map folds into the scan, then
    ONE hash-agg exchange keyed on the 128-bit fingerprint — the
    dedup_exact plan with a stronger key. Both counts are map-side
    combinable (count + distinct-md5 via two-level agg)."""
    docs = load_table(spark, sf_dir, "documents")
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9 ]", ""),
            r" +",
            " ",
        )
    )
    return (
        docs.select(
            F.col("doc_id"),
            F.md5(canon).alias("canon_fp"),
            F.md5(F.col("text")).alias("raw_fp"),
        )
        .groupBy("canon_fp")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").cast("long").alias("n_members"),
            F.countDistinct("raw_fp").cast("long").alias("n_distinct_raw"),
        )
    )


# Exact-substring dedup (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better"): the unit of duplication is a
# k-token SPAN, not the whole document — boilerplate and quoted
# passages duplicate across otherwise-distinct documents.
SPAN_TOKENS = 15  # ≈30% of the fixture's ~50-token docs; 50 at prod


def _span_hashes():
    """md5 of every SPAN_TOKENS-token span of the token array ``t``."""
    return V.expr(V.ngrams_sql("t", SPAN_TOKENS, "none", "md5"))


def _doc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h) — one row per k-token span instance, h = md5 of
    the space-joined span. Whitespace tokenization; docs shorter
    than ``SPAN_TOKENS`` contribute zero rows (the sequence guard —
    Spark's sequence(start, stop) DESCENDS when start > stop, so an
    unguarded expression would fabricate spans)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("t")
    )
    return toks.select("doc_id", F.explode(_span_hashes()).alias("h"))


# Stage-artifact reuse (VERDICT r7 #10): the span explode + the
# per-hash distinct-doc exchange are the dominant cost of all three
# span consumers (dedup_substring_spans, dedup_top_spans, and the
# cascade's stage-3 tier), so both derived tables persist once per
# documents-corpus fingerprint — parquet artifacts held in the
# session store, the minhash-band-index precedent. A production
# cascade reads persisted per-stage verdict tables; this is that shape.


def cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id, keep) for every pair-involved doc — the
    persisted stage-2 labeling of the cascade (VERDICT r7 #10: a
    production cascade reads per-stage verdicts, it does not re-run
    label propagation per report). Built from
    :func:`dedup_clusters` once per documents fingerprint; carrying
    ``cluster_id`` (round 10) is what lets
    :func:`cluster_verdicts_apply_delta` relabel touched components
    without a rebuild. (New artifact kind — the old 2-column
    ``cluster_verdicts`` dirs are orphans the GC reclaims.)"""
    from dbt_eamples_spark.artifacts import session_artifact

    return session_artifact(
        spark, sf_dir, "cluster_labels", ("documents",),
        lambda: dedup_clusters(spark, sf_dir).select(
            "doc_id", "cluster_id", "keep"
        ),
    )


def _cluster_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, keep) — the cascade's verdict view over the
    persisted :func:`cluster_labels` artifact."""
    return cluster_labels(spark, sf_dir).select("doc_id", "keep")


def _span_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_spans, n_dup_spans) for every doc with ≥1 span —
    the persisted per-doc span verdict table."""
    from dbt_eamples_spark.artifacts import session_artifact

    def build() -> DataFrame:
        # rides the persisted span indexes (round 9): one
        # tokenize pass serves all four span artifacts
        spans = _doc_span_index(spark, sf_dir)
        stats = _span_hash_index(spark, sf_dir).select(
            "h", F.col("n_docs").alias("nd")
        )
        return (
            spans.join(stats, "h")
            .groupBy("doc_id")
            .agg(
                F.count("*").cast("long").alias("n_spans"),
                F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
                .cast("long")
                .alias("n_dup_spans"),
            )
        )

    return session_artifact(spark, sf_dir, "span_profile", ("documents",), build)


def _span_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(h, n_docs, n_occurrences) for span hashes in >1 distinct doc
    — the persisted corpus-level duplicated-span table (the nd ≤ 1
    tail, the overwhelming bulk, never persists)."""
    from dbt_eamples_spark.artifacts import session_artifact

    return session_artifact(
        spark, sf_dir, "span_dup_stats", ("documents",),
        lambda: _span_hash_index(spark, sf_dir).filter(F.col("n_docs") > 1),
    )


# Delta maintenance for the span family (round 9, extending VERDICT
# r8 #2 past the named pair/credit artifacts): a corpus append must
# not re-tokenize the world to refresh span_profile/span_dup_stats.
# Two additional persisted indexes make the delta exact:
# `doc_span_index` (the (doc_id, h) span-instance table — the
# suffix-style index a production span-dedup keeps warm) and
# `span_hash_index` (UNfiltered per-hash (n_docs, n_occurrences),
# singletons included — required because a delta span hitting a base
# SINGLETON hash flips that base holder's instances to duplicated,
# which the >1-filtered span_dup_stats artifact cannot see).


def _delta_doc_spans(delta_docs: DataFrame) -> DataFrame:
    """The _doc_spans expression over an in-memory delta frame."""
    toks = delta_docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("t")
    )
    return toks.select("doc_id", F.explode(_span_hashes()).alias("h"))


def _doc_span_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted (doc_id, h) span-instance table."""
    from dbt_eamples_spark.artifacts import session_artifact

    return session_artifact(
        spark, sf_dir, "doc_span_index", ("documents",),
        lambda: _doc_spans(spark, sf_dir),
    )


def _span_hash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted UNfiltered (h, n_docs, n_occurrences) stats."""
    from dbt_eamples_spark.artifacts import session_artifact

    return session_artifact(
        spark, sf_dir, "span_hash_index", ("documents",),
        lambda: _doc_span_index(spark, sf_dir)
        .groupBy("h")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_occurrences"),
        ),
    )


def span_artifacts_apply_delta(
    spark: SparkSession,
    sf_dir: str,
    delta_docs: DataFrame,
    return_indexes: bool = False,
) -> tuple[DataFrame, ...]:
    """Delta-maintain the span verdict artifacts: returns the
    (span_profile, span_dup_stats) pair for corpus =
    documents(sf_dir) ∪ ``delta_docs`` (doc_id, text, …; doc_ids
    must be NEW), re-tokenizing ONLY the delta.

    Exactness argument (pytest-locked vs full rebuild in
    tests/test_delta_artifacts.py):
     - per-hash stats are additive: merged (n_docs, n_occurrences) =
       base ⊕ delta per hash (base side from the persisted
       unfiltered `span_hash_index`); the >1 filter then reproduces
       span_dup_stats exactly;
     - delta-doc profile rows fold the delta spans against the
       MERGED stats;
     - a base doc's row changes IFF the delta turned one of its
       singleton hashes multi-doc (base n_docs = 1, delta adds ≥ 1
       doc): those hashes' base instances — found by an equi-probe
       of the persisted `doc_span_index`, output bounded by the
       crossing set — are added to n_dup_spans; n_spans never
       changes.

    Scale shape: delta tokenize |delta|-bounded; one hash-keyed
    merge of delta stats into the index scan; the crossing-hash
    probe is crossing-set-bounded. Base text is never re-read.

    ``return_indexes`` also returns the merged ``doc_span_index`` and
    ``span_hash_index``, for a caller that publishes all four."""
    d_spans = _delta_doc_spans(
        delta_docs.select("doc_id", "text")
    ).localCheckpoint(eager=True)  # delta-sized; 3 consumers
    d_stats = d_spans.groupBy("h").agg(
        F.countDistinct("doc_id").cast("long").alias("nd_d"),
        F.count("*").cast("long").alias("occ_d"),
    )
    base_stats = _span_hash_index(spark, sf_dir)
    merged_stats = (
        base_stats.join(d_stats, "h", "full_outer")
        .select(
            "h",
            (
                F.coalesce("n_docs", F.lit(0))
                + F.coalesce("nd_d", F.lit(0))
            ).cast("long").alias("n_docs"),
            (
                F.coalesce("n_occurrences", F.lit(0))
                + F.coalesce("occ_d", F.lit(0))
            ).cast("long").alias("n_occurrences"),
            F.coalesce("n_docs", F.lit(0)).alias("base_nd"),
            F.coalesce("nd_d", F.lit(0)).alias("delta_nd"),
        )
        .localCheckpoint(eager=True)  # consumed by stats + 2 profiles
    )
    dup_stats = merged_stats.filter(F.col("n_docs") > 1).select(
        "h", "n_docs", "n_occurrences"
    )
    # delta-doc profile rows against the merged stats
    d_profile = (
        d_spans.join(merged_stats.select("h", "n_docs"), "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_spans"),
        )
    )
    # base corrections: singleton hashes the delta made multi-doc
    crossing = merged_stats.filter(
        (F.col("base_nd") == 1) & (F.col("delta_nd") >= 1)
    ).select("h")
    corr = (
        _doc_span_index(spark, sf_dir)
        .join(F.broadcast(crossing), "h")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("add_dup"))
    )
    profile = (
        _span_profile(spark, sf_dir)
        .join(corr, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            (
                F.col("n_dup_spans") + F.coalesce("add_dup", F.lit(0))
            ).cast("long").alias("n_dup_spans"),
        )
        .unionByName(d_profile)
    )
    merged_dsi = _doc_span_index(spark, sf_dir).unionByName(d_spans)
    merged_shi = merged_stats.select("h", "n_docs", "n_occurrences")
    if return_indexes:
        return profile, dup_stats, merged_dsi, merged_shi
    return profile, dup_stats


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document exact-substring duplication stats: of each
    document's k-token spans, how many also occur (verbatim) in at
    least one OTHER document — the span-level duplication fraction
    used to drop or trim boilerplate-heavy training documents. A
    span instance counts as duplicated when its hash appears in >1
    DISTINCT doc; every document appears in the output, zero-span
    short docs with NULL ratio.

    Scale shape: spans explode ×(L−k+1) but stay narrow (doc_id,
    16-byte hash); the per-hash distinct-doc stats are ONE
    hash-keyed exchange (md5 keys are uniform — no skew), the
    attach back to span instances is an equi join on the same key,
    and the per-doc fold is one doc_id exchange. No pairwise doc
    comparison exists at any point — cost is linear in corpus
    tokens, the property that makes suffix-free span dedup viable
    at 100 TB. That whole chain builds ONCE per corpus into the
    persisted ``span_profile`` artifact (VERDICT r7 #10); repeat
    calls — and the cascade — are a doc-bounded scan + one join.
    Ref: reference ships no dedup at all (models/marts only,
    SURVEY §0); this family is the mandated LLM-pipeline
    extension."""
    per_doc = _span_profile(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return (
        docs.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long")
            .alias("n_dup_spans"),
            F.when(
                F.coalesce("n_spans", F.lit(0)) > 0,
                F.round(
                    F.col("n_dup_spans").cast("double")
                    / F.col("n_spans").cast("double"),
                    6,
                ),
            ).alias("dup_ratio"),
        )
        .orderBy("doc_id")
    )


TOP_SPANS_K = 25


def dedup_top_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level duplicated-span offenders: the ``TOP_SPANS_K``
    span hashes occurring in the most distinct documents, with
    total instance counts — the report a curation team reads to
    decide which boilerplate to strip globally (the complement of
    the per-doc view in ``dedup_substring_spans``). Deterministic
    (n_docs DESC, n_occurrences DESC, h) tie-break; top-k is
    TakeOrderedAndProject over the persisted duplicated-span table
    (``span_dup_stats``, VERDICT r7 #10 — the explode + hash-grid
    aggregate build once per corpus) — no full sort, no re-scan."""
    return _span_dup_stats(spark, sf_dir).orderBy(
        F.col("n_docs").desc(), F.col("n_occurrences").desc(), "h"
    ).limit(TOP_SPANS_K)


# Fuzzy entity resolution (record linkage): blocked candidate
# generation + edit-distance verify. Classic Fellegi-Sunter-style
# blocking — a block key is cheap to compute and recall-oriented;
# the expensive levenshtein verify runs only inside blocks.
ENTITY_LEV_MAX = 1  # max edit distance for a match pair
ENTITY_BLOCK_MAX = 256  # oversized-block guard (ubiquitous keys)
# equal-length fast path (r14): strings up to this length take the
# hamming evaluator below instead of the levenshtein DP
ENTITY_HAM_UNROLL = 24
_ENTITY_HAM_HALF = ENTITY_HAM_UNROLL // 2


def _lev1_equal_len(a, b):
    """Edit distance capped at 1 (``-1`` above the cap — the banded
    ``levenshtein(a, b, 1)`` contract) as a pure codegen expression.

    Exactness (guide §1 first-principles, §4 per-task work): for
    EQUAL-LENGTH strings lev ≤ 1 ⟺ the strings differ in ≤ 1
    position (an insert/delete changes length, so the single edit
    must be a substitution), and a single substitution lives in
    exactly one fixed half — so ``-1`` is certain whenever both
    halves differ, and otherwise the distance is the differing
    half's unrolled ≤``_ENTITY_HAM_HALF``-position hamming count.
    Cost per pair: two half-string equality compares (memcmps)
    plus, for the ~20% of block pairs with one clean half, a
    12-term per-char compare — versus a per-pair DP-with-allocation
    ``levenshtein`` call, measured 2.8 s → ~0.4 s per blocking pass
    on the sf0.1 block volume (742 k pairs). Unequal lengths or
    strings past ``ENTITY_HAM_UNROLL`` chars fall back to the
    banded DP, so the expression is value-identical to
    ``levenshtein(a, b, ENTITY_LEV_MAX)`` on ANY input (asserted
    over the full block-pair space in tests)."""
    if ENTITY_LEV_MAX != 1:  # the one-substitution-per-half argument
        return F.levenshtein(a, b, ENTITY_LEV_MAX)  # only holds at 1
    h = _ENTITY_HAM_HALF
    la, lb = F.length(a), F.length(b)
    a_l, b_l = F.substring(a, 1, h), F.substring(b, 1, h)
    a_r = F.substring(a, h + 1, ENTITY_HAM_UNROLL)
    b_r = F.substring(b, h + 1, ENTITY_HAM_UNROLL)
    fallback = F.levenshtein(a, b, ENTITY_LEV_MAX)
    return (
        # NULL in → NULL out, the levenshtein contract (ADVICE r14:
        # without the guard every when-condition evaluates NULL and
        # falls through to the -1 otherwise)
        F.when(a.isNull() | b.isNull(), F.lit(None).cast("int"))
        .when((la != lb) | (la > ENTITY_HAM_UNROLL), fallback)
        .when(a == b, F.lit(0))
        # one clean half → the edit (if within distance 1) is a
        # substitution inside the other, equal-length half, where
        # lev ≡ hamming; the banded DP now runs on ≤ h chars and
        # only for the ~20% of block pairs that reach it
        .when(a_l == b_l, F.levenshtein(a_r, b_r, ENTITY_LEV_MAX))
        .when(a_r == b_r, F.levenshtein(a_l, b_l, ENTITY_LEV_MAX))
        .otherwise(F.lit(-1))
    )


def customer_entity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy duplicate-candidate pairs over customer names: two
    blocking passes (name minus its last 2 chars → catches edits at
    the tail; first 9 chars + last 2 chars → catches edits in the
    middle), pairwise ``levenshtein`` ≤ ``ENTITY_LEV_MAX`` verify
    INSIDE each block, union of the passes, distinct pairs. Names
    are normalized (lower + trim) before keying and comparison.

    Scale shape: never a cross join — each pass is an equi self-join
    on its block key, and blocks larger than ``ENTITY_BLOCK_MAX``
    are dropped before the join (the standard ER guard: a
    ubiquitous key produces an O(n²) block that adds no linkage
    signal; the guard is a count agg + semi-side filter, so one hot
    key cannot quadratic-blow a task). Levenshtein runs JVM-side in
    whole-stage codegen on only the in-block pairs. The two passes
    + distinct cost three key exchanges; output order is a top-level
    sort for determinism. At 100 TB the block-size cap is the knob:
    candidate volume is Σ_b min(|b|, cap)², linear in records for
    bounded blocks. Ref: reference ships no entity resolution
    (models/marts only, SURVEY §0); mandated pipeline extension."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.lower(F.trim(F.col("c_name"))).alias("name")
    )
    key1 = F.expr("substring(name, 1, length(name) - 2)")
    key2 = F.concat(
        F.expr("substring(name, 1, 9)"),
        F.expr("substring(name, length(name) - 1, 2)"),
    )

    def _pass(key_expr) -> DataFrame:
        keyed = cust.select("c_custkey", "name", key_expr.alias("bk"))
        ok = (
            keyed.groupBy("bk")
            .agg(F.count("*").alias("bn"))
            .filter(F.col("bn") <= ENTITY_BLOCK_MAX)
            .select("bk")
        )
        keyed = keyed.join(ok, "bk")
        a = keyed.select(
            F.col("bk"),
            F.col("c_custkey").alias("custkey_a"),
            F.col("name").alias("name_a"),
        )
        b = keyed.select(
            F.col("bk"),
            F.col("c_custkey").alias("custkey_b"),
            F.col("name").alias("name_b"),
        )
        # r14: the equal-length hamming evaluator replaces the
        # per-pair banded-DP call on the hot path (see
        # :func:`_lev1_equal_len` — value-identical, pure codegen;
        # the banded DP remains as the unequal-length/overlong
        # fallback). The r11 banded-DP notes still apply to the
        # fallback: one evaluation serves both the verify filter
        # and the emitted distance, and distances ≤ the max equal
        # the unbounded form, so the oracle SQL (plain levenshtein
        # ≤ max) is unchanged. (A single fused explode-both-keys
        # self-join was measured 1.8× SLOWER than the two-pass
        # union — the generator breaks codegen and the
        # doubled-width frame shuffles more bytes — so the
        # two-pass shape stays.)
        lev = _lev1_equal_len(F.col("name_a"), F.col("name_b"))
        return (
            a.join(b, "bk")
            .filter(F.col("custkey_a") < F.col("custkey_b"))
            .filter(
                F.abs(F.length("name_a") - F.length("name_b"))
                <= ENTITY_LEV_MAX
            )
            .select(
                "custkey_a",
                "custkey_b",
                lev.cast("int").alias("lev_dist"),
            )
            .filter(F.col("lev_dist") >= 0)
        )

    return (
        _pass(key1)
        .unionByName(_pass(key2))
        .distinct()
        .orderBy("custkey_a", "custkey_b")
    )


DEDUP_CURVE_TAUS = [0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]


def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-rate-vs-threshold tuning curve: for each Jaccard
    threshold τ on the grid, how many candidate pairs survive and
    how many distinct docs are duplicate-involved — the artifact a
    curator reads to PICK the dedup threshold before running the
    destructive pass (too low: the curve explodes and real content
    dies; too high: boilerplate survives; the knee is the setting).

    Rides :func:`dedup_ngram_jaccard`'s content-blocked exact pairs
    unchanged (same blocking recall contract), so the curve costs
    one pair-set computation + a grid of micro-aggregations over
    the pair OUTPUT (the persisted ``ngram_jaccard_pairs`` artifact
    — pair volume, not corpus volume). The τ grid left-join keeps
    all 7 rows even where a threshold strands zero pairs. Jaccards
    are round(·,6) doubles compared against identical grid literals
    in both engines."""
    pairs = _ngram_pairs(spark, sf_dir)
    total = (
        load_table(spark, sf_dir, "documents")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
    grid = spark.createDataFrame(
        [(t,) for t in DEDUP_CURVE_TAUS], "tau double"
    )
    tagged = pairs.crossJoin(F.broadcast(grid)).filter(
        F.col("jaccard") >= F.col("tau")
    )
    n_pairs = tagged.groupBy("tau").agg(
        F.count("*").cast("long").alias("n_pairs")
    )
    n_docs = (
        tagged.select(
            "tau", F.explode(F.array("doc_a", "doc_b")).alias("doc")
        )
        .groupBy("tau")
        .agg(F.count_distinct("doc").cast("long").alias("n_dup_docs"))
    )
    return (
        grid.join(F.broadcast(n_pairs), "tau", "left")
        .join(F.broadcast(n_docs), "tau", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "tau",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_dup_docs", F.lit(0))
            .cast("long")
            .alias("n_dup_docs"),
            F.round(
                F.coalesce("n_dup_docs", F.lit(0)).cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("dup_frac"),
        )
        .orderBy("tau")
    )


CASCADE_SPAN_RATIO = 0.5  # stage-3 cut: drop docs >=50% duplicated spans


def dedup_cascade_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup FUNNEL report: how many documents each cascade
    stage removes, in the precedence order a curation pipeline runs
    them — (1) exact normalized-text dups (cheapest), (2) MinHash
    near-dup cluster non-canonicals, (3) span-heavy boilerplate
    (``dup_ratio`` ≥ CASCADE_SPAN_RATIO from the exact-substring
    profile). One row per stage with the removal count, survivors
    after the stage, and the cumulative removed fraction — the
    attrition curve a curator reads next to
    :func:`dedup_threshold_curve` before committing the destructive
    pass (`corpus_keep_list` is the per-doc verdict twin of stages
    1–2; this is the funnel SUMMARY with the span tier added).

    Scale shape: one fingerprint window exchange (stage 1), the
    cluster assignment broadcast (bounded by pair-involved docs),
    one doc-keyed join against the span profile, then a 3-row
    spine aggregate — the corpus is never joined to itself here;
    all pairwise evidence comes from the bounded upstream
    operators, and BOTH stage inputs now read persisted per-stage
    artifacts (the cluster pair graph and the ``span_profile``
    table, VERDICT r7 #10) — the production cascade shape, not an
    inline recompute."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    w = Window.partitionBy("fp")
    exact = docs.select("doc_id", F.md5(norm).alias("fp")).select(
        "doc_id",
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("exact_keep"),
    )
    clusters = _cluster_verdicts(spark, sf_dir).select(
        F.col("doc_id").alias("cl_doc_id"), F.col("keep").alias("cl_keep")
    )
    spans = dedup_substring_spans(spark, sf_dir).select(
        "doc_id", "dup_ratio"
    )
    stage = (
        F.when(~F.col("exact_keep"), F.lit(1))
        .when(F.col("cl_keep").isNotNull() & ~F.col("cl_keep"), F.lit(2))
        .when(F.col("dup_ratio") >= CASCADE_SPAN_RATIO, F.lit(3))
        .otherwise(F.lit(0))
    )
    staged = (
        exact.join(
            F.broadcast(clusters),
            exact.doc_id == clusters.cl_doc_id,
            "left",
        )
        .join(spans, "doc_id", "left")
        .select(stage.cast("int").alias("stage"))
    )
    counts = staged.groupBy("stage").agg(
        F.count("*").cast("long").alias("n")
    )
    tot = docs.agg(F.count("*").cast("long").alias("nd"))
    spine = spark.createDataFrame(
        [(1, "exact"), (2, "near_dup"), (3, "span_heavy")],
        "stage int, stage_name string",
    )
    wcum = Window.orderBy("stage").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = F.sum(F.coalesce("n", F.lit(0))).over(wcum).cast("long")
    return (
        spine.join(F.broadcast(counts), "stage", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "stage",
            "stage_name",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_removed"),
            (F.col("nd") - cum).cast("long").alias("n_surviving"),
            F.round(
                cum.cast("double") / F.col("nd").cast("double"), 6
            ).alias("cum_removed_frac"),
        )
        .orderBy("stage")
    )


def cosine_base_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED embedding-side LSH index (corpus_vec, t,
    bucket): base hyperplane buckets of the standing corpus
    (vec_id % INCR_MOD != 0), built once per embeddings fingerprint
    and stored as a parquet artifact — the ANN twin of
    :func:`minhash_band_index`, so an ingest delta probes hyperplane
    buckets without paying corpus plane-dot computation. Index side
    stays BASE keys per vector (the one-sided multi-probe contract
    of dedup_embedding_cosine: the probe side grows, the index
    doesn't)."""
    from dbt_eamples_spark.artifacts import (
        corpus_fingerprint,
        load_or_build,
    )
    from dbt_eamples_spark.operators.similarity import lsh_planes

    def build() -> DataFrame:
        return _cosine_index_rows(
            _standing_vecs(spark, sf_dir),
            lsh_planes(standing_count(spark, sf_dir)),
        )

    return load_or_build(
        spark,
        "cosine_base_index",
        corpus_fingerprint(sf_dir, "embeddings"),
        build,
    )


def _standing_vecs(
    spark: SparkSession, sf_dir: str, parallelize: bool = True
) -> DataFrame:
    """(vec_id, vec) of the standing corpus, the rows the index holds."""
    return V.select(
        load_table(spark, sf_dir, "embeddings", parallelize=parallelize),
        "vec_id",
        f"{V.as_double_sql('embedding')} AS vec",
    ).where(f"vec_id % {INCR_MOD} != 0")


def _cosine_index_rows(corpus: DataFrame, nplanes: int) -> DataFrame:
    """Index rows of ``corpus`` (vec_id, vec) keyed from scratch."""
    from dbt_eamples_spark.operators.similarity import (
        DEDUP_LSH_TABLES,
        with_lsh_probes,
    )

    keyed = with_lsh_probes(corpus, "vec", DEDUP_LSH_TABLES, 0, nplanes=nplanes)
    return _base_keys(keyed, DEDUP_LSH_TABLES, "corpus_vec")


def standing_count(spark: SparkSession, sf_dir: str) -> int:
    """Standing-corpus row count, which sizes ``lsh_planes`` — on the
    RAW scan: no repartition shuffle for a scalar (r15). Held in the
    session store for the table's current state, which
    :func:`carry_standing_count` can seed without a scan."""
    from dbt_eamples_spark.artifacts import session_state

    return session_state(
        spark, sf_dir, "standing_count", ("embeddings",),
        lambda: load_table(spark, sf_dir, "embeddings")
        .where(f"vec_id % {INCR_MOD} != 0")
        .count(),
    )


def carry_standing_count(
    spark: SparkSession, sf_dir: str, fingerprint: str, n: int
) -> None:
    """Record ``n`` as :func:`standing_count` of the embeddings state
    ``fingerprint`` (:func:`~dbt_eamples_spark.artifacts.corpus_fingerprint`):
    an append that knows the standing rows it added knows the grown
    count exactly. Any other rewrite of the table changes the
    fingerprint, so the next call counts again."""
    from dbt_eamples_spark.artifacts import seed_session_state

    seed_session_state(spark, sf_dir, "standing_count", fingerprint, n)


def cosine_delta_keys(vecs: DataFrame, nplanes: int) -> DataFrame:
    """``vecs`` (vec_id, vec, ...) plus the multi-probe arrays
    ``p0..p{DEDUP_LSH_TABLES-1}`` at ``nplanes`` — the ONE keying of
    an embeddings delta. Element 1 of each array is the base bucket
    the index stores, the whole array the probe into it; so one
    pinned keyed frame feeds the index append and both legs of
    :func:`cosine_delta_pairs`."""
    from dbt_eamples_spark.operators.similarity import (
        DEDUP_LSH_TABLES,
        DEDUP_PROBE_FLIPS,
        with_lsh_probes,
    )

    return with_lsh_probes(
        vecs, "vec", DEDUP_LSH_TABLES, DEDUP_PROBE_FLIPS, nplanes=nplanes
    )


def _cosine_index_delta(
    spark: SparkSession, sf_dir: str, keyed: DataFrame, base_n: int,
    delta_n: int,
) -> DataFrame:
    """Delta-maintain the persisted hyperplane bucket index: the
    merged index for a delta keyed at ``lsh_planes(base_n)``
    (:func:`cosine_delta_keys`); ``base_n`` / ``delta_n`` count the
    standing rows of the corpus / of the delta. The delta's base keys
    are appended, filtered with the same %INCR_MOD corpus convention
    the from-scratch build applies (the fingerprint→content
    invariant).

    RESIZE RULE: ``lsh_planes`` is sized by corpus count, so an
    append that pushes the corpus across a plane-count step CANNOT
    be expressed as an append — the bucket ids of every existing row
    change. When ``lsh_planes(base+delta) != lsh_planes(base)`` the
    whole index is rebuilt at the new plane count (the FAISS-retrain
    analogue of an index resize: rare — plane steps are ×2 in corpus
    size — and detected exactly, never silently wrong). Both paths
    are pytest-locked row-identical to a from-scratch build over the
    union."""
    from dbt_eamples_spark.operators.similarity import (
        DEDUP_LSH_TABLES,
        lsh_planes,
    )

    d = keyed.where(f"vec_id % {INCR_MOD} != 0")
    np_union = lsh_planes(base_n + delta_n)
    if np_union == lsh_planes(base_n):
        return cosine_base_index(spark, sf_dir).unionByName(
            _base_keys(d, DEDUP_LSH_TABLES, "corpus_vec")
        )
    # index resize: every existing bucket id changes — rebuild.
    # Pinned eagerly: the rebuild scans the LIVE embeddings table,
    # and the two-phase ingest shape publishes AFTER appending the
    # delta to that table — a lazy plan evaluated at publish time
    # would re-read the grown table and duplicate the delta rows
    # (matching the checkpoint discipline of the document-side
    # apply_delta functions)
    return _cosine_index_rows(
        _standing_vecs(spark, sf_dir).unionByName(d.select("vec_id", "vec")),
        np_union,
    ).localCheckpoint(eager=True)


def dedup_incremental_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental embedding near-dup check: the NEW vector batch
    (vec_id % INCR_MOD == 0) probed against the PERSISTED hyperplane
    bucket index of the standing corpus — the ANN twin of
    :func:`dedup_incremental_minhash`, completing the
    index-once/probe-deltas story for the embedding side. Only the
    delta pays plane dots; candidates come from the asymmetric
    (t, bucket) equi-join of delta probe keys against the artifact —
    incremental cost O(|delta| + collisions), never corpus².
    Verify is the exact-cosine fold on candidates only, same
    threshold and float contract as dedup_embedding_cosine."""
    from dbt_eamples_spark.operators.similarity import lsh_planes

    delta = V.select(
        load_table(spark, sf_dir, "embeddings", parallelize=True),
        "vec_id",
        f"{V.as_double_sql('embedding')} AS vec",
    ).where(f"vec_id % {INCR_MOD} = 0")
    np_ = lsh_planes(standing_count(spark, sf_dir))  # index-build param
    return _base_leg(
        cosine_delta_pairs(
            spark, sf_dir, cosine_delta_keys(delta, np_), within=False
        )
    )


def cosine_delta_pairs(
    spark: SparkSession, sf_dir: str, keyed: DataFrame, *,
    within: bool = True,
) -> DataFrame:
    """The near-dup probe of a delta keyed by :func:`cosine_delta_keys`
    at the index's plane count, as ONE plan: the verified pairs
    (leg, vec_a, vec_b, cosine), cosine ≥ COSINE_NEAR_DUP.

    The delta's probe keys join the persisted :func:`cosine_base_index`
    base keys (leg ``'base'``: vec_a the delta vector, vec_b the
    corpus vector) together with, when ``within``, the delta's own
    base keys (leg ``'within'``: both ends in the delta, canonical
    vec_a < vec_b); one ``distinct`` dedupes both. The a-side of every
    pair is a delta vector; the b-side is looked up in the standing
    corpus ∪ the delta, which are disjoint — an ingest batch is
    anti-joined against the corpus, and the convention delta is the
    %INCR_MOD class the standing corpus leaves out. So a batch is
    probed before its append, and the frame must be evaluated before
    it. The candidates appear once in the plan: they are broadcast
    into the b-side lookup instead of being pinned, so probing a
    batch costs one action and no eager job. The verify is
    dedup_embedding_cosine's float expression, in the same order."""
    from dbt_eamples_spark.operators.similarity import (
        DEDUP_LSH_TABLES,
        probe_key_pairs_sql,
    )

    probe = V.select(
        keyed, "vec_id AS vec_a", f"inline({probe_key_pairs_sql(DEDUP_LSH_TABLES)})"
    )
    keys = V.select(
        cosine_base_index(spark, sf_dir),
        "'base' AS leg", "corpus_vec AS vec_b", "t", "bucket",
    )
    vecs = _standing_vecs(spark, sf_dir, parallelize=False)
    if within:
        keys = keys.unionByName(V.select(
            _base_keys(keyed, DEDUP_LSH_TABLES, "vec_b"),
            "'within' AS leg", "vec_b", "t", "bucket",
        ))
        vecs = vecs.unionByName(keyed.select("vec_id", "vec"))
    cands = V.select(
        probe.join(keys, ["t", "bucket"]).where(
            "leg = 'base' OR vec_a != vec_b"
        ),
        "leg",
        "IF(leg = 'base', vec_a, least(vec_a, vec_b)) AS vec_a",
        "IF(leg = 'base', vec_b, greatest(vec_a, vec_b)) AS vec_b",
    ).distinct()
    # norms once per vector, before the joins
    nrm = V.norm_sql("vec")
    a = V.select(keyed, "vec_id AS vec_a", "vec AS va", f"{nrm} AS na")
    b = V.select(vecs, "vec_id AS vec_b", "vec AS vb", f"{nrm} AS nb")
    return V.select(
        b.join(F.broadcast(cands), "vec_b").join(F.broadcast(a), "vec_a"),
        "leg", "vec_a", "vec_b", _VERIFY_COSINE_SQL,
    ).where(_VERIFY_KEEP_SQL)


def _base_leg(pairs: DataFrame) -> DataFrame:
    """The (new_vec, corpus_vec, cosine) rows of a base-leg probe."""
    return V.select(
        pairs, "vec_a AS new_vec", "vec_b AS corpus_vec", "cosine"
    )


def cosine_pairs_delta_new(
    spark: SparkSession,
    sf_dir: str,
    delta_embeddings: DataFrame,
    assume_new_ids: bool = False,
) -> DataFrame:
    """Embedding near-dup pairs GAINED against the STANDING corpus by
    an ingest batch (vec_id, embedding, ...) that has NOT been
    appended yet: the ANN twin of :func:`minhash_pairs_delta_new`'s
    delta x base leg. The batch's multi-probe keys hit the persisted
    :func:`cosine_base_index` (plane count = the index's own sizing,
    ``lsh_planes`` of the standing convention-base count); exact
    cosine verifies candidates only. Output (new_vec, corpus_vec,
    cosine) — :func:`dedup_incremental_cosine`'s contract
    generalized to an arbitrary delta frame; the base leg of
    :func:`cosine_delta_pairs`. Same new-ids-only contract (and
    ValueError guard) as :func:`ngram_pairs_apply_delta`."""
    from dbt_eamples_spark.operators.similarity import lsh_planes

    d = V.select(
        delta_embeddings, "vec_id", f"{V.as_double_sql('embedding')} AS vec"
    )
    if not assume_new_ids:
        overlap = (
            d.select("vec_id")
            .join(load_table(spark, sf_dir, "embeddings"), "vec_id", "left_semi")
            .limit(1)
            .collect()
        )
        if overlap:
            raise ValueError(
                "cosine_pairs_delta_new: delta contains vec_ids "
                f"already in the base corpus (e.g. {overlap[0].vec_id})"
                " — the delta contract is new-ids-only"
            )
    np_ = lsh_planes(standing_count(spark, sf_dir))  # MUST match the index
    # pinned: delta-sized; probed and verified against the PRE-append
    # corpus state, must survive the append
    keyed = cosine_delta_keys(d, np_).localCheckpoint(eager=True)
    return _base_leg(cosine_delta_pairs(spark, sf_dir, keyed, within=False))
