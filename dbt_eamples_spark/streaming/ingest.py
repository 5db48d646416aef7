"""The daily ingest loop composed end-to-end (VERDICT r9 #3): the
apply_delta functions existed as a library; this module wires them
into the micro-batch pipeline a 100 TB deployment actually runs —

    micro-batch arrives → idempotent corpus append → EVERY persisted
    document index delta-maintained and PUBLISHED under the updated
    corpus fingerprint → incremental near-dup probe reported for the
    batch.

The load-bearing property (pytest-locked in
tests/test_ingest_pipeline.py): after N batches, every artifact in
the store is row-identical to a ONE-SHOT build over the final corpus
— so a query running between any two batches sees exactly the state
a rebuild would produce, while each batch paid delta-sized cost. A
second batch's apply_delta calls find every base artifact warm at
the post-batch-1 fingerprint (that is why the composer also
maintains the plain per-doc artifacts ``doc_shingles`` /
``ngram_block_index`` / ``minhash_band_index_full`` — without them a
later batch would silently re-tokenize the grown corpus).

Two-phase shape, forced by the fingerprint scheme: the union
corpus's fingerprint (file path/size/mtime) only exists AFTER the
append, but the apply_delta frames must be constructed BEFORE it
(their base reads resolve the CURRENT corpus fingerprint to find the
warm artifacts). So the composer plans all merged frames against the
pre-append state (delta-sized inputs are eagerly checkpointed inside
the apply_delta functions; base sides are on-disk artifact scans,
both stable across the append), appends, fingerprints, and only
then publishes.

The embeddings loop makes ONE delta pass per batch: the batch is
keyed, assigned its IVF cells and pinned once, every count comes
from one aggregate over that frame, and every plan and the probe
read it; both probe legs run as one action; an artifact the batch
leaves unchanged (the IVF quantizer and its occupancy reference
between retrains) is republished by hard link, not rewritten. What a
batch already knows is handed to the next instead of recomputed, in
the session store under the new corpus fingerprint: the grown
standing count and the IVF state (the quantizer's centroid values,
its train-time reference counts and the grown per-cell counts, from
which the next batch's occupancy drift follows); and, in the schema
memo, the schemas of the files it wrote (the appended corpus and
every publish). Parquet reads go through
:func:`~dbt_eamples_spark.catalog.read_parquet`, so a scan of files
whose schema is already known runs no inference job. A steady
100-vector batch runs 14 Spark jobs at fixture scale.
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from dbt_eamples_spark.catalog import (
    parquet_read_schema,
    read_parquet,
    remember_schema,
    table_path,
)

if TYPE_CHECKING:
    from dbt_eamples_spark.operators.similarity import IvfState

# every document-family artifact kind the composer maintains, in
# publish order (upstream artifacts first, purely for readability —
# each frame is already fully planned)
DOCUMENT_ARTIFACT_KINDS = [
    "doc_shingles",
    "ngram_block_index",
    "ngram_jaccard_pairs",
    "minhash_band_index",
    "minhash_band_index_full",
    "phash_band_index",
    "span_profile",
    "span_dup_stats",
    "doc_span_index",
    "span_hash_index",
    "cluster_labels",
]


def plan_document_artifact_deltas(
    spark: SparkSession, corpus_dir: str, fresh_docs: DataFrame
) -> dict[str, DataFrame]:
    """Phase 1: merged frames for every document artifact, computed
    against the CURRENT (pre-append) corpus state. ``fresh_docs``
    must already be anti-joined against the corpus (the ingest
    loop's idempotence guard IS the new-ids-only guarantee, so the
    delta probes run with ``assume_new_ids=True``)."""
    from dbt_eamples_spark.operators import dedup as D
    from dbt_eamples_spark.operators import multimodal as M

    frames: dict[str, DataFrame] = {}
    frames["doc_shingles"] = D.doc_shingles_apply_delta(
        spark, corpus_dir, fresh_docs
    )
    frames["ngram_block_index"] = D.ngram_block_index_apply_delta(
        spark, corpus_dir, fresh_docs
    )
    frames["ngram_jaccard_pairs"] = D.ngram_pairs_apply_delta(
        spark, corpus_dir, fresh_docs, assume_new_ids=True
    )
    frames["minhash_band_index"] = D.minhash_band_index_apply_delta(
        spark, corpus_dir, fresh_docs
    )
    frames["minhash_band_index_full"] = (
        D.minhash_band_index_full_apply_delta(spark, corpus_dir, fresh_docs)
    )
    frames["phash_band_index"] = M.phash_band_index_apply_delta(
        spark, corpus_dir, fresh_docs.select("doc_id")
    )
    profile, dup_stats, dsi, shi = D.span_artifacts_apply_delta(
        spark, corpus_dir, fresh_docs, return_indexes=True
    )
    frames["span_profile"] = profile
    frames["span_dup_stats"] = dup_stats
    frames["doc_span_index"] = dsi
    frames["span_hash_index"] = shi
    frames["cluster_labels"] = D.cluster_verdicts_apply_delta(
        spark, corpus_dir, fresh_docs, assume_new_ids=True
    )
    return frames


def publish_artifacts(
    spark: SparkSession, frames: dict[str, DataFrame], fingerprint: str
) -> list[str]:
    """Phase 2: land every planned frame in the artifact store under
    the (post-append) union fingerprint. Idempotent: an existing
    artifact at (kind, fingerprint) is left alone (load_or_build's
    publish-by-rename contract). A frame that is an unchanged stored
    generation (the IVF quantizer and occupancy reference on an
    append) is republished by hard link, not rewritten."""
    from dbt_eamples_spark.artifacts import publish

    for kind, df in frames.items():
        publish(spark, kind, fingerprint, df)
    return list(frames)


def _append(
    spark: SparkSession, rows: DataFrame, path: str, schema: StructType
) -> None:
    """Append ``rows`` to the corpus table at ``path``, whose read
    schema is ``schema``. When the new files hold the corpus's own
    types, inference over the grown table returns that same schema,
    so it is remembered for the new file state and the next batch's
    read infers nothing."""
    rows.write.mode("append").parquet(path)
    if parquet_read_schema(rows.schema) == schema:
        remember_schema(spark, path, schema)


def run_housekeeping(
    spark: SparkSession,
    table_dir: str,
    *,
    gc_max_total_bytes: int | None = None,
    compact_target_file_bytes: int | None = None,
) -> dict:
    """Post-batch housekeeping (VERDICT r10 #3 — without it the
    store accretes a corpus-sized ``doc_shingles`` per batch until
    someone calls GC by hand): compact the appended table dir into
    ~target-sized files, then evict stale-fingerprint artifacts
    until the store fits the byte budget. Compaction must run
    BEFORE the caller fingerprints + publishes — the fingerprint is
    path/size/mtime-based, so compacting after publish would orphan
    the just-published artifacts under a stale key. GC runs AFTER
    publish (the batch functions call each half at its phase); the
    fresh generation carries the newest ``last_used_at`` and
    survives the budget cut while prior generations are evicted."""
    report: dict = {}
    if compact_target_file_bytes is not None:
        from dbt_eamples_spark.sources.sinks import compact_small_files

        report["corpus_files"] = compact_small_files(
            spark, table_dir, target_file_bytes=compact_target_file_bytes
        )
    if gc_max_total_bytes is not None:
        from dbt_eamples_spark.artifacts import gc_artifacts

        report["artifacts_gc_removed"] = len(
            gc_artifacts(max_total_bytes=gc_max_total_bytes)
        )
    return report


def ingest_documents_batch(
    spark: SparkSession,
    batch: DataFrame,
    corpus_dir: str,
    *,
    maintain_artifacts: bool = False,
    gc_max_total_bytes: int | None = None,
    compact_target_file_bytes: int | None = None,
) -> dict:
    """One micro-batch of the document ingest loop; returns the run
    report row. Idempotent: re-delivering the same batch appends
    zero rows and touches nothing. Optional housekeeping: with
    ``compact_target_file_bytes`` the appended table dir is
    compacted BEFORE fingerprinting (so the published artifacts key
    to the compacted state and stay warm for the next batch); with
    ``gc_max_total_bytes`` stale-fingerprint artifacts are evicted
    after publish until the store fits the budget."""
    from dbt_eamples_spark.artifacts import corpus_fingerprint
    from dbt_eamples_spark.operators import dedup as D

    docs_path = table_path(corpus_dir, "documents")
    corpus = read_parquet(spark, docs_path)
    fresh = (
        batch.select(*corpus.columns)  # corpus column order
        # the at-least-once file source this loop models can deliver
        # the same doc_id twice WITHIN one micro-batch; the anti-join
        # below only dedups against the persisted corpus, so without
        # this the duplicate would be appended twice and fed to every
        # apply_delta with assume_new_ids=True
        .dropDuplicates(["doc_id"])
        .join(corpus.select("doc_id"), "doc_id", "left_anti")
        .localCheckpoint(eager=True)  # pinned: consumed by the plan,
        # the probe, and the append — and must survive the append
    )
    n = fresh.count()
    if n == 0:
        report = {
            "rows_appended": 0,
            "near_dup_pairs": 0,
            "artifacts_published": [],
        }
        # housekeeping must NOT be gated on the append (ADVICE r11):
        # an at-least-once source can redeliver duplicate-only
        # batches indefinitely, and if each early return skipped GC
        # the store would sit over gc_max_total_bytes forever despite
        # the caller asking for the budget. Compaction likewise — a
        # backlog of tiny files from earlier appends should not wait
        # for the next novel batch.
        if compact_target_file_bytes is not None:
            report.update(run_housekeeping(
                spark, docs_path,
                compact_target_file_bytes=compact_target_file_bytes,
            ))
        if gc_max_total_bytes is not None:
            report.update(run_housekeeping(
                spark, docs_path, gc_max_total_bytes=gc_max_total_bytes,
            ))
        return report
    frames: dict[str, DataFrame] = {}
    n_pairs = 0
    if maintain_artifacts:
        frames = plan_document_artifact_deltas(spark, corpus_dir, fresh)
        # the batch's near-dup probe: verified pairs the batch gained
        # against the corpus and within itself (collision-bounded)
        n_pairs = D.minhash_pairs_delta_new(
            spark, corpus_dir, fresh, assume_new_ids=True
        ).count()
    _append(spark, fresh, docs_path, corpus.schema)
    report = {"rows_appended": n, "near_dup_pairs": n_pairs}
    if compact_target_file_bytes is not None:
        # before fingerprinting: the fingerprint is file-stat-based
        report.update(run_housekeeping(
            spark, docs_path,
            compact_target_file_bytes=compact_target_file_bytes,
        ))
    published: list[str] = []
    if maintain_artifacts:
        fp_union = corpus_fingerprint(corpus_dir, "documents")
        published = publish_artifacts(spark, frames, fp_union)
    if gc_max_total_bytes is not None:
        # after publish: the fresh generation is the most recently
        # used, so the budget cut evicts prior generations first
        report.update(run_housekeeping(
            spark, docs_path, gc_max_total_bytes=gc_max_total_bytes,
        ))
    report["artifacts_published"] = published
    return report


def stream_document_ingest(
    spark: SparkSession,
    source_dir: str,
    corpus_dir: str,
    checkpoint: str,
    *,
    maintain_artifacts: bool = False,
) -> list[dict]:
    """Structured-Streaming form of the loop: file source over
    ``source_dir`` (parquet document files dropped by an upstream
    fetcher) → ``foreachBatch`` running
    :func:`ingest_documents_batch`, drained with AvailableNow. The
    per-batch run reports (rows appended, near-dup pairs found,
    artifacts published) are returned in batch order — the row the
    reference posts per cron pull, extended with the index
    maintenance a 100 TB corpus needs."""
    docs_path = table_path(corpus_dir, "documents")
    schema = read_parquet(spark, docs_path).schema
    src = spark.readStream.schema(schema).parquet(
        os.path.join(source_dir, "*.parquet")
    )
    reports: list[dict] = []

    def handle(batch: DataFrame, batch_id: int) -> None:
        row = ingest_documents_batch(
            spark, batch, corpus_dir,
            maintain_artifacts=maintain_artifacts,
        )
        row["batch_id"] = batch_id
        reports.append(row)

    q = (
        src.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout=300):
        # AvailableNow should drain well inside the timeout; a live
        # query here means `reports` is silently partial — stop it
        # and fail loud rather than return a truncated list
        q.stop()
        raise TimeoutError(
            "stream_document_ingest: AvailableNow drain did not "
            "terminate within 300s; partial reports discarded"
        )
    return reports


# the embedding-family artifact kinds the composer maintains: the
# cosine LSH bucket index plus (round 12, VERDICT r11 #3) the IVF
# quantizer and its assignment index, and (round 13, ADVICE r12)
# the train-time occupancy reference the retrain trigger
# accumulates drift against. tests/test_ingest_pipeline.py
# asserts every kind listed here is published under the union
# fingerprint by the loop — registering a kind without wiring it
# into plan_embedding_artifact_deltas fails the suite.
EMBEDDING_ARTIFACT_KINDS = [
    "cosine_base_index",
    "ivf_centroids",
    "ivf_assign_index",
    "ivf_occupancy_ref",
]


def plan_embedding_artifact_deltas(
    spark: SparkSession, corpus_dir: str, keyed: DataFrame, base_n: int,
    cell_counts: dict,
) -> tuple[dict[str, DataFrame], dict, IvfState]:
    """Phase 1 of the embeddings loop: the merged frame for every
    persisted embedding-side artifact, planned against the CURRENT
    (pre-append) embeddings state; returns ``(frames, info, ivf)``
    where ``info`` carries the IVF maintenance telemetry
    (``occupancy_psi``/``ivf_retrained``) for the batch report and
    ``ivf`` the :class:`~dbt_eamples_spark.operators.similarity.IvfState`
    of the IVF artifacts to publish, for the batch to carry past its
    append. ``keyed`` is the batch's pinned keyed delta, with its IVF
    ``cell`` (see :func:`ingest_embeddings_batch`); ``base_n`` counts
    the standing rows of the corpus and ``cell_counts`` those of the
    batch per cell. Each kernel
    handles its own rebuild rule — ``cosine_base_index`` the
    lsh_planes resize step, the IVF pair the occupancy-drift retrain
    trigger (both rebuild paths eagerly checkpointed). A steady batch
    runs no job here: the append paths read the pinned delta, the
    session-held IVF state and on-disk artifact scans, all stable
    across the append."""
    from dbt_eamples_spark.operators import dedup as D
    from dbt_eamples_spark.operators.similarity import _ivf_delta

    cent, assign, occ_ref, report, ivf = _ivf_delta(
        spark, corpus_dir, keyed, cell_counts
    )
    frames = {
        "cosine_base_index": D._cosine_index_delta(
            spark, corpus_dir, keyed, base_n, sum(cell_counts.values())
        ),
        "ivf_centroids": cent,
        "ivf_assign_index": assign,
        "ivf_occupancy_ref": occ_ref,
    }
    info = {
        "occupancy_psi": report["occupancy_psi"],
        "ivf_retrained": report["retrained"],
    }
    return frames, info, ivf


def ingest_embeddings_batch(
    spark: SparkSession,
    batch: DataFrame,
    corpus_dir: str,
    *,
    maintain_artifacts: bool = False,
    gc_max_total_bytes: int | None = None,
    compact_target_file_bytes: int | None = None,
) -> dict:
    """The embeddings-side twin of :func:`ingest_documents_batch`
    (VERDICT r10 #2): micro-batch of (vec_id, embedding, ...) rows →
    idempotent corpus append → the persisted hyperplane bucket index
    delta-maintained and published under the union embeddings
    fingerprint → per-batch near-dup probe report. The probe has two
    legs, reported separately: ``near_dup_pairs`` = batch×corpus
    (the :func:`~dbt_eamples_spark.operators.dedup.cosine_pairs_delta_new`
    contract over the not-yet-appended batch) and
    ``within_batch_pairs`` = batch-internal LSH self-pairs; both come
    from one action over
    :func:`~dbt_eamples_spark.operators.dedup.cosine_delta_pairs`. Same
    two-phase shape as the document loop: plan + probe against the
    pre-append state, append, fingerprint, publish.

    ONE delta pass: the standing corpus count and the IVF state
    (:func:`~dbt_eamples_spark.operators.similarity.ivf_state`) are the
    ones the previous batch carried (rebuilt only when the table
    changed some other way); the batch is converted, LSH-keyed at
    ``lsh_planes(base_n)``
    (:func:`~dbt_eamples_spark.operators.dedup.cosine_delta_keys`),
    assigned its IVF cell against the carried centroid values and
    pinned once, and one aggregate gives its row count, its
    convention rows and its per-cell counts
    (:func:`~dbt_eamples_spark.operators.similarity.ivf_delta_counts`);
    the index append, both probe legs, the IVF assignment and the
    occupancy drift all read that frame or those counts. A steady
    batch runs 14 Spark jobs at fixture scale (locked in
    test_plan_regressions.py).

    ``convention_excluded`` in the report counts appended vectors
    with ``vec_id % INCR_MOD == 0`` — the %INCR_MOD corpus convention
    keeps those OUT of the persisted index (they model the probing
    batch in the fingerprint→content invariant), so duplicates of
    them arriving later are not reported as near-dup pairs."""
    from dbt_eamples_spark.artifacts import corpus_fingerprint
    from dbt_eamples_spark.operators import dedup as D
    from dbt_eamples_spark.operators import similarity as S
    from dbt_eamples_spark.operators import vecsql

    emb_path = table_path(corpus_dir, "embeddings")
    corpus = read_parquet(spark, emb_path)
    base_n = D.standing_count(spark, corpus_dir)
    keyed = D.cosine_delta_keys(
        batch.select(*corpus.columns)
        # same at-least-once guard as the document loop: duplicate
        # vec_ids WITHIN one micro-batch must collapse before the
        # anti-join (which only strips already-persisted ids)
        .dropDuplicates(["vec_id"])
        .join(corpus.select("vec_id"), "vec_id", "left_anti")
        .withColumn("vec", vecsql.as_double("embedding")),
        S.lsh_planes(base_n),
    )
    if maintain_artifacts:
        # each row's cell under the persisted quantizer, whose values
        # the session holds (carried by the previous batch)
        keyed = keyed.select("*", S.ivf_cell(S.ivf_state(spark, corpus_dir).cents))
    keyed = keyed.localCheckpoint(eager=True)  # pinned: read by every
    # plan, the probe and the append — and must survive the append
    n, n_excluded, cell_counts = S.ivf_delta_counts(
        keyed if maintain_artifacts else vecsql.select(keyed, "vec_id", "NULL AS cell")
    )
    if n == 0:
        report = {
            "rows_appended": 0,
            "near_dup_pairs": 0,
            "within_batch_pairs": 0,
            "convention_excluded": 0,
            "artifacts_published": [],
        }
        # same as the document loop: duplicate-only redelivered
        # batches must still compact + enforce the GC byte budget
        # (ADVICE r11)
        if compact_target_file_bytes is not None:
            report.update(run_housekeeping(
                spark, emb_path,
                compact_target_file_bytes=compact_target_file_bytes,
            ))
        if gc_max_total_bytes is not None:
            report.update(run_housekeeping(
                spark, emb_path, gc_max_total_bytes=gc_max_total_bytes,
            ))
        return report
    frames: dict[str, DataFrame] = {}
    info: dict = {}
    n_pairs = n_within = 0
    if maintain_artifacts:
        frames, info, ivf = plan_embedding_artifact_deltas(
            spark, corpus_dir, keyed, base_n, cell_counts
        )
        # both probe legs in one action
        legs = dict(
            D.cosine_delta_pairs(spark, corpus_dir, keyed)
            .groupBy("leg").count().collect()
        )
        n_pairs, n_within = legs.get("base", 0), legs.get("within", 0)
    _append(spark, keyed.select(*corpus.columns), emb_path, corpus.schema)
    report = {
        "rows_appended": n,
        "near_dup_pairs": n_pairs,
        "within_batch_pairs": n_within,
        # COVERAGE GAP, made visible per the no-silent-caps rule
        # (ADVICE r11): the index never holds vec_id % INCR_MOD == 0
        # rows (the from-scratch convention), so a later duplicate of
        # one is not reported as a near-dup pair; the report shows
        # the excluded mass instead of leaving it to be inferred
        "convention_excluded": n_excluded if maintain_artifacts else 0,
        **info,
    }
    if compact_target_file_bytes is not None:
        report.update(run_housekeeping(
            spark, emb_path,
            compact_target_file_bytes=compact_target_file_bytes,
        ))
    fp_union = corpus_fingerprint(corpus_dir, "embeddings")
    # the append grew the standing corpus by the batch's standing rows
    D.carry_standing_count(spark, corpus_dir, fp_union, base_n + n - n_excluded)
    published: list[str] = []
    if maintain_artifacts:
        # and the state of the IVF artifacts published below
        S.carry_ivf_state(spark, corpus_dir, fp_union, ivf)
        published = publish_artifacts(spark, frames, fp_union)
    if gc_max_total_bytes is not None:
        report.update(run_housekeeping(
            spark, emb_path, gc_max_total_bytes=gc_max_total_bytes,
        ))
    report["artifacts_published"] = published
    return report


def stream_embeddings_ingest(
    spark: SparkSession,
    source_dir: str,
    corpus_dir: str,
    checkpoint: str,
    *,
    maintain_artifacts: bool = False,
) -> list[dict]:
    """Structured-Streaming form of the embeddings loop — the
    :func:`stream_document_ingest` twin: file source over
    ``source_dir`` (parquet embedding batches dropped by an upstream
    encoder) → ``foreachBatch`` running
    :func:`ingest_embeddings_batch`, drained with AvailableNow;
    per-batch reports returned in batch order, same loud-timeout
    contract."""
    emb_path = table_path(corpus_dir, "embeddings")
    schema = read_parquet(spark, emb_path).schema
    src = spark.readStream.schema(schema).parquet(
        os.path.join(source_dir, "*.parquet")
    )
    reports: list[dict] = []

    def handle(batch: DataFrame, batch_id: int) -> None:
        row = ingest_embeddings_batch(
            spark, batch, corpus_dir,
            maintain_artifacts=maintain_artifacts,
        )
        row["batch_id"] = batch_id
        reports.append(row)

    q = (
        src.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout=300):
        q.stop()
        raise TimeoutError(
            "stream_embeddings_ingest: AvailableNow drain did not "
            "terminate within 300s; partial reports discarded"
        )
    return reports


__all__ = [
    "DOCUMENT_ARTIFACT_KINDS",
    "EMBEDDING_ARTIFACT_KINDS",
    "plan_document_artifact_deltas",
    "plan_embedding_artifact_deltas",
    "publish_artifacts",
    "ingest_documents_batch",
    "ingest_embeddings_batch",
    "run_housekeeping",
    "stream_document_ingest",
    "stream_embeddings_ingest",
]
