"""dedup_minhash stage breakdown (VERDICT r9 #5): the judge's sf1
solo run put the query's warm 10x exponent at ~0.54 — just above the
0.5 bar its artifact-sharing siblings meet. This tool times the
pipeline's stages separately at a given corpus so the exponent can
be attributed (signature agg vs band self-join vs exact verify)
instead of guessed.

Stages (cumulative cuts of the real pipeline, warm artifacts):
  shingles   — doc_shingles artifact scan
  signatures — + 12 universal-hash minima per doc
  band_keys  — + band slicing/bucket strings (the index build cost)
  candidates — + the (band, bucket) self-join to distinct pairs
  full       — + candidate shingle re-derivation + exact Jaccard

Usage: python tools/minhash_profile.py [SF_DIR ...]
(defaults: /root/testdata/sf0.1 and .tmp/sf1.0 when present)
Prints one JSON line per dir; artifacts go to .tmp/minhash_prof.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _t(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def profile(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from dbt_eamples_spark.operators import dedup as D

    sh = D.doc_shingles(spark, sf_dir).select("doc_id", "shingles")
    sh.count()  # warm the artifact outside every timed stage
    out = {"sf_dir": sf_dir, "stages_sec": {}}
    s = out["stages_sec"]
    best = lambda f: min(f() for _ in range(3))  # noqa: E731
    s["shingles"] = round(best(lambda: _t(sh)), 3)
    sig = D._minhash_signatures(sh)
    s["signatures"] = round(best(lambda: _t(sig)), 3)
    keys = D._band_keys(sh)
    s["band_keys"] = round(best(lambda: _t(keys)), 3)

    def cands_df():
        k = D._band_keys(sh).localCheckpoint(eager=True)
        ka = k.select("band", "bucket", F.col("doc_id").alias("doc_a"))
        kb = k.select("band", "bucket", F.col("doc_id").alias("doc_b"))
        return (
            ka.join(kb, ["band", "bucket"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )

    s["candidates"] = round(best(lambda: _t(cands_df())), 3)
    s["full"] = round(
        best(lambda: _t(D.dedup_minhash(spark, sf_dir))), 3
    )
    c = cands_df()
    out["n_docs"] = sh.count()
    out["n_candidates"] = c.count()
    # marginal attribution between successive cuts
    prev, marg = 0.0, {}
    for k in ["shingles", "signatures", "band_keys", "candidates", "full"]:
        marg[k] = round(s[k] - prev, 3)
        prev = s[k]
    out["marginal_sec"] = marg
    return out


def main() -> None:
    os.environ["SPARK_GRAFT_ARTIFACTS"] = os.path.join(REPO, ".tmp/minhash_prof")
    dirs = sys.argv[1:] or [
        d
        for d in ["/root/testdata/sf0.1", os.path.join(REPO, ".tmp/sf1.0")]
        if os.path.isdir(d)
    ]
    from dbt_eamples_spark.session import get_spark

    spark = get_spark("minhash-profile")
    spark.sparkContext.setLogLevel("ERROR")
    for d in dirs:
        print(json.dumps(profile(spark, d)))


if __name__ == "__main__":
    main()
