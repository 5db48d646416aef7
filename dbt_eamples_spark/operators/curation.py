"""Corpus-curation operators (SURVEY.md §2.11 EXT, X7 family):
benchmark decontamination and training-sequence packing — the two
steps between "deduped corpus" and "batches on the trainer".

Reference scope note: the reference repo's pipeline stops at
warehouse tables (helix-flow DAGs); these operators extend the
engine the same way the dedup/similarity family does, per the
round-2 build plan. No reference file computes them.

Both are built-in-expression pipelines (no Python in the hot path)
with the module-standard portability contract: tokenization is
``split(lower(text), '\\s+')``, fractions round at 6 decimals,
hashes are md5 hex — identical in Spark and the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_eamples_spark.catalog import load_table
from dbt_eamples_spark.operators import vecsql as V
from dbt_eamples_spark.operators.sampling import sample_stratified

# decontamination n-gram width. 8 word-grams is the published
# conservative choice (e.g. GPT-3 appendix C uses 13-grams on BPE
# tokens; 8 whitespace tokens spans comparable text). Docs shorter
# than the width contribute their whole token span as one gram.
DECON_N = 8

# training context length (whitespace tokens) for concat-and-chunk
# packing, and the range-partition width of the scalable prefix sum
PACK_CTX = 512
PACK_PARTS = 32


def _word_ngrams(df: DataFrame, n: int) -> DataFrame:
    """doc_id → distinct word-n-gram array. Same CollapseProject
    guard as ``dedup._shingles``: tokens materialize in their own
    projection so the regex split runs once per row, not once per
    gram."""
    tokd = V.select(df, "doc_id", r"split(lower(text), '\\s+') AS toks")
    return V.select(
        tokd, "doc_id", f"array_distinct({V.ngrams_sql('toks', n, 'pad')}) AS grams"
    )


def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: for every training document, count
    the distinct word-``DECON_N``-grams it shares with a held-out
    eval set (here: the :func:`sample_stratified` per-language
    sample, playing the role of the benchmark suite). A training doc
    with any hit leaks eval content and would be dropped/flagged
    before training.

    Scale shape: the eval side is small BY CONSTRUCTION (fixed quota
    per stratum), so its distinct gram set broadcasts; the corpus
    side is one narrow gram-explode scanned once, a broadcast
    semi-join against the eval grams, and one groupBy — no shuffle
    touches corpus n-grams except the final per-doc count (map-side
    combined). Grams are distinct per doc, so ``count(*)`` after the
    join IS the distinct-hit count.
    """
    docs = load_table(spark, sf_dir, "documents")
    ev_ids = sample_stratified(spark, sf_dir).select("doc_id")
    ng = _word_ngrams(docs, DECON_N).select(
        "doc_id", F.explode_outer("grams").alias("g")
    )
    ev_grams = ng.join(F.broadcast(ev_ids), "doc_id").select("g").distinct()
    return (
        ng.join(F.broadcast(ev_ids), "doc_id", "left_anti")
        .join(F.broadcast(ev_grams), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )


def _prefix_offsets(toks: DataFrame) -> DataFrame:
    """(doc_id, n_tokens) → + tok_offset, the exclusive global prefix
    sum in doc_id order, computed with the two-phase distributed
    scan (see pack_concat_chunks docstring). Extracted so the
    equivalence with a naive single-task window is property-testable
    on arbitrary frames."""
    w = (
        Window.partitionBy("pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = (
        toks.repartitionByRange(PACK_PARTS, "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .withColumn("cum", F.sum("n_tokens").over(w))
        .localCheckpoint(eager=True)
    )
    totals = {
        r.pid: r.tot
        for r in local.groupBy("pid").agg(F.sum("n_tokens").alias("tot")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]
    base = F.create_map(
        *[F.lit(x) for kv in sorted(offsets.items()) for x in kv]
    )[F.col("pid")]
    return local.select(
        "doc_id",
        "n_tokens",
        (F.col("cum") - F.col("n_tokens") + base).alias("tok_offset"),
    )


def pack_concat_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing: documents are
    concatenated in doc_id order and cut into ``PACK_CTX``-token
    chunks; each doc reports its global token offset and the chunk
    ids it spans. This is the map from "corpus" to "training
    sequences" (and the lookup a sample-inspection tool needs to go
    the other way).

    The global prefix sum is the scale trap: a single
    ``Window.orderBy(doc_id)`` funnels the whole corpus through ONE
    task. Instead, the classic two-phase scan: range-partition by
    doc_id, per-partition running sums (parallel windows), then add
    per-partition base offsets computed on the driver from the
    per-partition totals — a collect of ``PACK_PARTS`` rows, bounded
    by partition count like the watermark scalar in
    ``streaming/incremental.py``. The partitioned frame is
    localCheckpoint'ed so the totals pass and the output pass see
    the identical partitioning (spark_partition_id is only
    meaningful within one materialization).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.size(F.split(F.lower(F.col("text")), r"\s+")).cast("long").alias(
            "n_tokens"
        ),
    )
    chunked = _prefix_offsets(toks).select(
        "doc_id",
        "n_tokens",
        "tok_offset",
        F.floor(F.col("tok_offset") / PACK_CTX).alias("chunk_first"),
        F.floor((F.col("tok_offset") + F.col("n_tokens") - 1) / PACK_CTX).alias(
            "chunk_last"
        ),
    )
    return chunked.withColumn(
        "n_chunks", F.col("chunk_last") - F.col("chunk_first") + F.lit(1)
    )


# ---- Gopher-style composite quality filter (X29) ---------------------------
# Rule thresholds chosen to genuinely split the fixture (measured at
# sf0.01: words 10-99 median 56, mean word length 3.7-5.3, dup-word
# fraction 0-0.72 median 0.54, stopword hits 0-14 median 3). The
# published Gopher bounds (50-100k words, mean length 3-10, etc.)
# would keep everything in this synthetic corpus — a verdict that
# never drops proves nothing, so the shape of the rules is Gopher's
# and the constants are fixture-calibrated. All comparisons are
# INTEGER (ratio bounds cross-multiplied), so the verdict is
# engine-exact with no float arithmetic at all.
QF_MIN_WORDS = 25
QF_MAX_WORDS = 90
# mean word length bounds 19/5=3.8 and 26/5=5.2 as exact rationals
QF_LEN_LO_NUM, QF_LEN_LO_DEN = 19, 5
QF_LEN_HI_NUM, QF_LEN_HI_DEN = 26, 5
# dup-word fraction <= 3/5: 5*(n_words - n_distinct) <= 3*n_words
QF_DUP_NUM, QF_DUP_DEN = 3, 5
QF_MIN_STOP_HITS = 1
QF_STOP_PAT = r"\b(the|a|of|to|and|in|is|it)\b"


def corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rules composite keep/drop verdict per document: word
    count bounds, mean-word-length bounds, duplicate-word fraction,
    stopword presence — with the FIRST failing rule as the drop
    reason (fixed evaluation order, so the reason string is
    deterministic).

    Scale: one zero-shuffle narrow map — every signal is a JVM
    built-in over one tokenize projection (CollapseProject guard as
    in text_token_stats); the corpus streams once and the output is
    1:1 with input. This is the verdict column a 100 TB curation
    pass filters on before any expensive dedup stage runs.
    """
    from dbt_eamples_spark.operators.text import _tokens_col

    docs = load_table(spark, sf_dir, "documents")
    tokd = docs.select("doc_id", "text", _tokens_col().alias("toks"))
    base = tokd.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_words"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_distinct"),
        F.length(F.regexp_replace("text", r"\s+", ""))
        .cast("long")
        .alias("n_letters"),
        F.regexp_count(F.lower(F.col("text")), F.lit(QF_STOP_PAT))
        .cast("long")
        .alias("stop_hits"),
    )
    w, d, L, s = (
        F.col("n_words"),
        F.col("n_distinct"),
        F.col("n_letters"),
        F.col("stop_hits"),
    )
    reason = (
        F.when(w < QF_MIN_WORDS, "too_short")
        .when(w > QF_MAX_WORDS, "too_long")
        .when(L * QF_LEN_LO_DEN < w * QF_LEN_LO_NUM, "words_too_short")
        .when(L * QF_LEN_HI_DEN > w * QF_LEN_HI_NUM, "words_too_long")
        .when((w - d) * QF_DUP_DEN > w * QF_DUP_NUM, "repetitive")
        .when(s < QF_MIN_STOP_HITS, "no_stopwords")
        .otherwise("ok")
    )
    return base.select(
        "doc_id",
        "n_words",
        "n_distinct",
        "n_letters",
        "stop_hits",
        reason.alias("reason"),
        (reason == "ok").alias("keep"),
    )
