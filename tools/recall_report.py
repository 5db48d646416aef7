"""Generate RECALL.md: measured recall of every approximate path
against its exact counterpart — the honesty ledger for the ANN/LSH
operators (an approximate operator without a measured recall number
is a guess, not an index).

 - similarity_ivf_topk / similarity_lsh_topk vs similarity_topk
   (exact brute force): fraction of true top-k neighbor pairs the
   approximate search returns (recall@k).
 - dedup_embedding_cosine vs the all-pairs cosine>=threshold ground
   truth: pair recall of the LSH candidate generation.

Usage: python tools/recall_report.py [sf_dir]   (writes RECALL.md)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from dbt_eamples_spark.catalog import load_table  # noqa: E402
from dbt_eamples_spark.session import get_spark  # noqa: E402
from dbt_eamples_spark.operators import dedup as D  # noqa: E402
from dbt_eamples_spark.operators import similarity as V  # noqa: E402
from dbt_eamples_spark.operators import vecsql  # noqa: E402


def _pairs(df, a="query_id", b="neighbor_id") -> set[tuple[int, int]]:
    return {(r[a], r[b]) for r in df.select(a, b).collect()}


def measure(spark, sf_dir: str) -> list[tuple[str, str, float]]:
    """(operator, ground-truth description, value) rows for one
    embedding fixture."""
    exact = _pairs(V.similarity_topk(spark, sf_dir))
    rows = []
    for name, fn in (
        ("similarity_ivf_topk", V.similarity_ivf_topk),
        ("similarity_lsh_topk", V.similarity_lsh_topk),
        ("similarity_topk_pandas", V.similarity_topk_pandas),
        ("similarity_pq_topk", V.similarity_pq_topk),
        ("similarity_pq_rerank_topk", V.similarity_pq_rerank_topk),
        ("similarity_ivf_pq_topk", V.similarity_ivf_pq_topk),
        ("similarity_ivf_pq_residual_topk",
         V.similarity_ivf_pq_residual_topk),
        # round 12: the INCREMENTALLY-maintained IVF index (frozen
        # quantizer trained on the standing corpus, delta class
        # assigned to existing cells) — recall must hold on the
        # index the ingest loop maintains, not just a fresh train
        ("_ivf_delta_topk (incremental index)", V._ivf_delta_topk),
    ):
        got = _pairs(fn(spark, sf_dir))
        rows.append((name, f"top-{V.TOP_K} of {len(exact)} true pairs",
                     len(got & exact) / max(len(exact), 1)))

    # dedup ground truth: ALL pairs with cosine >= threshold (the
    # O(N^2) scan the LSH candidates exist to avoid — fine at report
    # scale, never in the operator)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", vecsql.as_double("embedding").alias("vec")
    )
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("vec").alias("va"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb"))
    truth = _pairs(
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(vecsql.cosine("va", "vb"), 6).alias("cos"),
        )
        .filter(F.col("cos") >= D.COSINE_NEAR_DUP),
        "vec_a",
        "vec_b",
    )
    got = _pairs(D.dedup_embedding_cosine(spark, sf_dir), "vec_a", "vec_b")
    rows.append(
        (
            "dedup_embedding_cosine",
            f"all-pairs cos>={D.COSINE_NEAR_DUP} ({len(truth)} true pairs)",
            len(got & truth) / max(len(truth), 1),
        )
    )

    # random projection: JL distortion, not recall — mean |Δcosine|
    # over the true near-pair set after 64→16 reduction (the number
    # that says whether search on the reduced store is trustworthy)
    proj = emb.select(
        "vec_id",
        F.array(
            *[
                vecsql.dot("vec", vecsql.darray_sql(tuple(V.RP_WEIGHTS[j])))
                for j in range(V.RP_TARGET_DIM)
            ]
        ).alias("pvec"),
    )
    pa = proj.select(F.col("vec_id").alias("vec_a"), F.col("pvec").alias("pa"))
    pb = proj.select(F.col("vec_id").alias("vec_b"), F.col("pvec").alias("pb"))
    true_pairs = spark.createDataFrame(
        [(x, y) for x, y in truth], "vec_a long, vec_b long"
    )
    orig = (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .join(F.broadcast(true_pairs), ["vec_a", "vec_b"])
        .select(
            "vec_a", "vec_b", vecsql.cosine("va", "vb").alias("c0")
        )
    )
    dist = (
        orig.join(pa, "vec_a")
        .join(pb, "vec_b")
        .select(
            F.abs(
                F.col("c0") - vecsql.cosine("pa", "pb")
            ).alias("d")
        )
        .agg(F.avg("d"))
        .collect()[0][0]
    )
    rows.append(
        (
            "embedding_random_projection",
            f"mean |Δcos| on {len(truth)} true pairs (64→"
            f"{V.RP_TARGET_DIM} dims)",
            dist,
        )
    )
    return rows



_STATIC_SECTIONS = """\

## Dedup at 10× clustered scale (tests/test_clustered_recall.py::TestDedupClusteredAt10x)

5,200-vector corpus (100 clusters — mode count grows with the
corpus — plus 200 PLANTED near-dup twins at cosine ≈ 0.999), so
recall at scale is measured against known-true pairs instead of an
O(N²) brute force. Test-locked:

| operating point | planted recall | candidate volume |
|---|---|---|
| `dedup_embedding_cosine` default dials (dynamic `lsh_planes(n)`, target_bucket 64) | 1.00 (≥0.99 locked) | ~20% of all pairs — the sizing rule's ~512/n design point, inflated by cluster-fat buckets |
| clustered-corpus dial (`target_bucket=8`, 3 more planes) | 1.00 (≥0.99 locked) | <10% of all pairs (locked) |
| `dedup_semantic_clusters` default dials | ≥0.99 of twins share a cluster (locked) | rides the same pair graph |

Reading: the default target_bucket=64 accepts ~n·target·tables/2
candidates by design — a fraction of all pairs that SHRINKS as
512/n with corpus growth (10% at n=5k, 0.1% at n=500k). On
clustered geometry the buckets inherit the cluster structure, so a
deployment dedup pass over a clustered corpus should run the
tighter target_bucket dial; both dials hold planted recall at 1.0
because near-dup twins (cosine ≥ 0.99) almost never straddle a
hyperplane, and the 8-table × 1-flip probe covers the stragglers.

## Perceptual image near-dup (round 8): `dedup_phash`

Planted truth is closed-form (oracle-shared): each 5-image scene is
a base image + 3 brightness shifts (dHash-invariant → Hamming 0) +
1 single-pixel corruption (measured Hamming ≤ 2); scenes decorrelate
via a two-modulus quadratic form — a first cut with a single
(g+1)·q(i) mod 199 term repeated every 199 scenes (caught at sf0.1:
identical cross-scene images inflated the pair set 6×), the shipped
form needs g ≡ g′ under BOTH 199 and 193 to collide (period 38,407
scenes ≈ 192k docs). Measured cross-scene Hamming: ≥ 7 over all
sf0.01 pairs, **≥ 11 over ALL 499,500 scene pairs at 1000 scenes
(sf0.1 scale)**, ≥ 14 sampled at 10,000 scenes. Test-locked at 1×
and 10× (sf0.001 → sf0.01),
`tests/test_round8_ops.py::test_dedup_phash_planted_recall_both_scales`:

| operating point | planted recall | precision | candidate volume |
|---|---|---|---|
| 4×16-bit Hamming bands, verify ≤ 4 | 1.0 (exact-set locked) | 1.0 (exact-set locked) | band collisions ≈ 0.2% of cross pairs, all rejected by the exact Hamming verify |

Reading: Hamming-≤3 twins must share ≥1 of 4 bands by pigeonhole
(planted twins share ≥3), so banding recall is structural, not
statistical; the verify threshold (4) sits inside the measured
margin (2, 7). `dedup_phash_clusters` then locks the transitive
closure: every pair-involved image clusters with exactly its scene
(5-cliques, canonical = min id).

## Doulion sampled transitivity (round 8): error vs exact

md5-coin sparsifier at p = 1/4, estimate = 64·T_sampled, wedges
exact. Test-locked ≤ 25%
(`tests/test_round8_ops.py::test_transitivity_sampled_error_vs_exact`):

| scale | exact triangles | estimate | rel. error |
|---|---|---|---|
| sf0.001 | 125,968 | 130,560 | 3.7% |
| sf0.01 | 413,718 | 421,696 | 1.9% |
"""


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("recall-report")
    spark.sparkContext.setLogLevel("ERROR")

    # near-uniform fixture (ANN worst case) + the clustered twin
    # (mixture-of-centroids, tools/clustered_fixture.py) so the
    # "clustered production embeddings land near 1.0" claim is a
    # measured column, not an argument (VERDICT r5 #4)
    from tools.clustered_fixture import write_clustered

    clustered_dir = write_clustered(os.path.join(REPO, ".tmp/clustered"))
    uni = measure(spark, sf_dir)
    clu = {n: v for n, _, v in measure(spark, clustered_dir)}

    lines = [
        "# RECALL — measured recall of approximate operators",
        "",
        f"Generated by `tools/recall_report.py` at `{sf_dir}` "
        "(near-uniform column) and the deterministic clustered twin "
        "`tools/clustered_fixture.py` (clustered column: 10-centroid "
        "mixture, intra-cluster cosine ~0.89, cross ~0.0 — realistic "
        "embedding geometry).",
        "",
        "Ground truth is the exact operator (brute-force cosine), per",
        "fixture. Near-uniform vectors are ANN's WORST case (no",
        "structure for cells/codebooks/buckets to exploit), so that",
        "column is the floor; the clustered column is what production",
        "embedding corpora see. Both are measured, test-locked numbers",
        "(tests/test_clustered_recall.py).",
        "",
        "Since round 8/9/10, the per-query recall@k of five of these rows",
        "is ALSO a hash-checked registry query — `similarity_ivf_recall_eval`",
        "(IVF, r8), `similarity_lsh_recall_eval` (LSH, r9),",
        "`similarity_ivfpq_recall_eval` (residual IVF-PQ, r9),",
        "`similarity_rerank_recall_eval` (trained ADC + exact refine, r10),",
        "and `similarity_ivf_delta_recall_eval` (the INCREMENTALLY-maintained",
        "IVF index of `ivf_assign_apply_delta`, r12) — so every deployable",
        "shortlist shape below is a driver/oracle-gated deploy-gate query,",
        "not just tool output.",
        "",
        "| operator | ground truth (near-uniform) |"
        " near-uniform | clustered |",
        "|---|---|---|---|",
    ]
    for name, desc, recall in uni:
        c = clu.get(name)
        cs = f"{c:.3f}" if c is not None else "—"
        lines.append(f"| {name} | {desc} | {recall:.3f} | {cs} |")

    # 10× data point for the MAINTAINED index (VERDICT r12 stretch):
    # the other four deploy gates carry sf0.1/sf1 evidence through
    # DELTA_BENCH/BENCH_SF1; the incremental-IVF recall claim gets
    # its own decade step here, measured live at generation time on
    # the synthesized sf1 corpus when present.
    sf1_dir = os.path.join(REPO, ".tmp/sf1.0")
    if os.path.isdir(sf1_dir):
        exact1 = _pairs(V.similarity_topk(spark, sf1_dir))
        got1 = _pairs(V._ivf_delta_topk(spark, sf1_dir))
        r1 = len(got1 & exact1) / max(len(exact1), 1)
        lines += [
            "",
            "## Maintained-index recall at 10× (sf1)",
            "",
            f"`_ivf_delta_topk` (the shortlist "
            "`similarity_ivf_delta_recall_eval` hash-gates: persisted "
            "standing-corpus quantizer + frozen-cell delta assignment) "
            f"measures recall@{V.TOP_K} **{r1:.3f}** against exact "
            f"brute force on the synthesized sf1 corpus "
            f"(`{sf1_dir}`, {len(exact1)} true pairs) — the "
            "incrementally-maintained index holds its recall across "
            "the decade step, same as the fresh-trained gates above.",
        ]
    lines.append(_PQ_EPILOGUE.rstrip())
    lines.append(_STATIC_SECTIONS.rstrip() + "\n")
    with open(os.path.join(REPO, "RECALL.md"), "w") as f:
        f.write("\n".join(lines))
    print("wrote RECALL.md")


# static context preserved across regenerations (measured numbers in
# it come from tools/pq_recall_study.py, which is deterministic)
_PQ_EPILOGUE = """
## PQ operating points (tools/pq_recall_study.py, deterministic)

`similarity_pq_topk` searches with the trained per-subspace Lloyd
codebooks (round 5; the oracle pins the same fixed-point training
chain, so trained ADC is fully hash-checked). The md5-seeded literal
codebook is kept only by `embedding_pq_encode`; the untrained ADC
rows below are reference figures for it, not a search path the
engine still offers. Near-uniform
fixtures are PQ's PATHOLOGICAL case (no cluster structure for the
codebooks to capture, so a 12-bit code cannot preserve neighbor
order). The study shows the dials a deployment turns — training
(per-subspace Lloyd, the `_kmeans_centroids` fixed-point machinery),
more codes, and an ADC-shortlist → exact-rerank refine stage (FAISS
`refine`):

| subvectors | codes | bits | trained | top-5 recall |
|---|---|---|---|---|
| 4 | 8 | 12 | no (md5 seed) | 0.06 |
| 4 | 8 | 12 | yes (SHIPPED default, 2 Lloyd) | 0.24 |
| 8 | 16 | 32 | yes (4 Lloyd) | 0.22 |
| 8 | 64 | 48 | yes (4 Lloyd) | 0.38 |
| 8 | 256 | 64 | yes (4 Lloyd) | 0.50 |

Measured end-to-end in Spark (`similarity_pq_topk` dials,
deterministic, test-locked in tests/test_round4_ops.py):

| operating point | top-5 recall |
|---|---|
| untrained ADC (md5-seeded literal codebook, measured before that search path was removed) | 0.04 |
| trained ADC (`similarity_pq_topk`) | 0.24 |
| trained + exact rerank of ADC-shortlist-50 (`rerank=50`, = `similarity_pq_rerank_topk`) | 0.68 |
| trained + rerank 100 | 0.76 |

The refine stage's exact math touches only |Q|·rerank shortlisted
vectors — the corpus itself is still scanned as 4-int codes.

The op's value at 100 TB is the SHAPE: the corpus is scanned as
4-small-int codes plus per-query lookup tables — no full-width float
math — which is the only way billions of vectors fit in RAM.

The measured clustered column sharpens the honest reading: bare
12-bit ADC actually drops on clustered geometry (0.12 — members of a
tight cluster differ by less than its quantization error, so ADC
cannot ORDER them), while every composition that refines the ADC
shortlist (rerank, IVF+PQ, residual IVF+PQ) hits 1.000 there. ADC is
a shortlist generator; ranking belongs to the refine stage — which
is exactly how FAISS deployments run it.
"""


if __name__ == "__main__":
    main()
