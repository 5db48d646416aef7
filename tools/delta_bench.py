"""Delta-maintenance exponent + crossover check (VERDICT r8 #2,
extended per VERDICT r9 #4): time the apply_delta paths against a
FIXED base corpus at several delta sizes and report

 - the delta-size exponent e = dlog(t)/dlog(delta_pct) between the
   2% and 8% points (the claim under test: incremental cost scales
   with the DELTA plus a constant index-scan term, not the corpus,
   so e stays well under 1 and absolute times stay far below the
   full rebuild, which is also timed);
 - ``crossover_delta_pct``: the estimated delta fraction where
   apply_delta stops beating a from-scratch rebuild (measured
   directly when a probe point crosses, log-log extrapolated from
   the last two points otherwise; null when the delta path's time
   does not grow with delta size). The triangle family gets probe
   points up to 32% because its wedge-probe term grows fastest —
   the r9 verdict measured only 1.4× margin at 8%.

apply_delta calls run with ``assume_new_ids=True`` where the guard
exists — the bench models the ingest loop, whose idempotence
anti-join IS the new-ids guarantee (the guard's probe would
otherwise add one delta-sized semi-join to every timing).

Usage: python tools/delta_bench.py [SF_DIR]   (default sf0.1)
Writes one JSON line; base dirs/artifacts live under
.tmp/delta_bench. Run it twice (sf0.1 and the synthesized
.tmp/sf1.0) to show delta cost is corpus-size-independent —
tools/scale_corpus.py builds the latter.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from dbt_eamples_spark.catalog import load_table  # noqa: E402
from dbt_eamples_spark.session import get_spark  # noqa: E402


def _t(fn) -> float:
    t0 = time.time()
    fn().collect()
    return time.time() - t0


def _crossover(pcts: list[int], times: list[float], rebuild: float):
    """Estimated delta %% where apply_delta time reaches the rebuild
    time: direct log-log interpolation if a probe point crossed,
    else extrapolation on the last two points' slope."""
    for i, t in enumerate(times):
        if t >= rebuild:
            if i == 0:
                return float(pcts[0])
            lo_p, hi_p = pcts[i - 1], pcts[i]
            lo_t, hi_t = times[i - 1], times[i]
            frac = (math.log(rebuild) - math.log(lo_t)) / (
                math.log(hi_t) - math.log(lo_t)
            )
            return round(
                math.exp(
                    math.log(lo_p)
                    + frac * (math.log(hi_p) - math.log(lo_p))
                ),
                1,
            )
    slope = (math.log(times[-1]) - math.log(times[-2])) / (
        math.log(pcts[-1]) - math.log(pcts[-2])
    )
    if slope <= 0:
        return None  # delta time not growing: rebuild never wins
    est = pcts[-1] * (rebuild / times[-1]) ** (1.0 / slope)
    # a delta cannot exceed the corpus: an extrapolation past 100%
    # means the flat-slope fit is meaningless, not that a crossover
    # exists at some absurd fraction
    return round(est, 1) if est <= 100 else None


def _family_row(pcts, times, rebuild, delta_rows):
    e = round(
        math.log(max(times[1], 1e-9) / max(times[0], 1e-9))
        / math.log(pcts[1] / pcts[0]),
        3,
    )
    row = {
        "full_rebuild_sec": round(rebuild, 3),
        **{
            f"delta_{p}pct_sec": round(t, 3)
            for p, t in zip(pcts, times)
        },
        "delta_rows": delta_rows,
        "exponent_vs_delta": e,
        "crossover_delta_pct": _crossover(pcts, times, rebuild),
    }
    return row


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    work = os.path.join(REPO, ".tmp/delta_bench")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["SPARK_GRAFT_ARTIFACTS"] = os.path.join(work, "arts")
    spark = get_spark("delta-bench")

    from dbt_eamples_spark.operators import dedup as D
    from dbt_eamples_spark.operators import graph as G

    out: dict = {"sf_dir": sf_dir, "families": {}}

    # ---- ngram pairs: base = 92% of docs; deltas = 2% and 8% ----
    docs = load_table(spark, sf_dir, "documents")
    b = os.path.join(work, "docs_base")
    os.makedirs(b)
    docs.filter(F.col("doc_id") % 100 >= 8).write.parquet(
        os.path.join(b, "documents.parquet")
    )
    pcts = [2, 8]
    deltas = [
        docs.filter(F.col("doc_id") % 100 < p).localCheckpoint()
        for p in pcts
    ]
    t_rebuild = _t(lambda: D._ngram_pairs(spark, sf_dir))
    # warm the base artifacts OUTSIDE the timed region (the daily
    # loop amortizes the base build across every delta batch)
    D.ngram_pairs_apply_delta(
        spark, b, deltas[0].limit(1), assume_new_ids=True
    ).collect()
    times = [
        _t(
            lambda d=d: D.ngram_pairs_apply_delta(
                spark, b, d, assume_new_ids=True
            )
        )
        for d in deltas
    ]
    out["families"]["ngram_jaccard_pairs"] = _family_row(
        pcts, times, t_rebuild, [d.count() for d in deltas]
    )

    # ---- cluster labels (round 10): same base/deltas ----
    D.cluster_verdicts_apply_delta(
        spark, b, deltas[0].limit(1), assume_new_ids=True
    ).collect()  # warm: cluster_labels + minhash_band_index_full
    t_rebuild = _t(
        lambda: D.dedup_clusters(spark, sf_dir).select(
            "doc_id", "cluster_id", "keep"
        )
    )
    times = [
        _t(
            lambda d=d: D.cluster_verdicts_apply_delta(
                spark, b, d, assume_new_ids=True
            )
        )
        for d in deltas
    ]
    out["families"]["cluster_labels"] = _family_row(
        pcts, times, t_rebuild, [d.count() for d in deltas]
    )

    # ---- triangle credits: base = 68%; probes up to 32% for the
    # crossover the r9 verdict asked to MEASURE, not guess ----
    li = load_table(spark, sf_dir, "lineitem")
    lb = os.path.join(work, "li_base")
    os.makedirs(lb)
    li.filter(F.col("l_orderkey") % 100 >= 32).write.parquet(
        os.path.join(lb, "lineitem.parquet")
    )
    tri_pcts = [2, 8, 16, 32]
    tri_deltas = [
        li.filter(F.col("l_orderkey") % 100 < p).localCheckpoint()
        for p in tri_pcts
    ]
    t_rebuild = _t(lambda: G._triangle_credits(spark, sf_dir))
    G.triangle_credits_apply_delta(
        spark, lb, tri_deltas[0].limit(1)
    ).collect()
    times = [
        _t(lambda d=d: G.triangle_credits_apply_delta(spark, lb, d))
        for d in tri_deltas
    ]
    out["families"]["triangle_credits"] = _family_row(
        tri_pcts, times, t_rebuild, [d.count() for d in tri_deltas]
    )

    # ---- IVF assignments (round 12): base = 92% of vectors;
    # deltas 2%/8%. Rebuild = raw train+assign over the standing
    # corpus (what a non-incremental pipeline pays per fingerprint);
    # delta = ivf_assign_apply_delta's append path: the pinned cell
    # assignment and its one count aggregate, the quantizer's state
    # session-held after the warm-up below — the REAL batch cost ----
    from dbt_eamples_spark.operators import similarity as V
    from dbt_eamples_spark.operators import vecsql

    emb = load_table(spark, sf_dir, "embeddings")
    eb = os.path.join(work, "emb_base")
    os.makedirs(eb)
    emb.filter(F.col("vec_id") % 100 >= 8).write.parquet(
        os.path.join(eb, "embeddings.parquet")
    )
    ivf_deltas = [
        emb.filter(F.col("vec_id") % 100 < p).localCheckpoint()
        for p in pcts
    ]
    emb_vec = load_table(
        spark, sf_dir, "embeddings", parallelize=True
    ).select("vec_id", vecsql.as_double("embedding").alias("vec"))
    standing = emb_vec.filter(F.col("vec_id") % 10 != 0)
    t_rebuild = _t(
        lambda: V._assign_cells(
            standing, V._kmeans_centroids(standing, V.NCENTROIDS)
        )
    )
    # warm the base quantizer + assignment artifacts outside the
    # timed region (amortized across every batch of the daily loop)
    V.ivf_assign_apply_delta(spark, eb, ivf_deltas[0].limit(1))[1].collect()
    times = [
        _t(lambda d=d: V.ivf_assign_apply_delta(spark, eb, d)[1])
        for d in ivf_deltas
    ]
    out["families"]["ivf_assign_index"] = _family_row(
        pcts, times, t_rebuild, [d.count() for d in ivf_deltas]
    )

    print(json.dumps(out))


if __name__ == "__main__":
    main()
