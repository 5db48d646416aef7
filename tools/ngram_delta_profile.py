"""ngram_pairs_apply_delta stage breakdown (VERDICT r10 #5): the
two-scale DELTA_BENCH measured the family's exponent-vs-delta at
0.066 (sf0.1) but 0.412 (sf1) — a decade-over-decade step that was
unattributed. This tool times the delta path's stages separately at
a given corpus so the step can be attributed (delta shingle compute
vs block-probe join vs exact verify vs the delta self-join) instead
of guessed, and counts the probe's candidate/true-pair output so a
fixture-planted dup tail (the minhash r10 finding) is
distinguishable from real probe-side growth.

Base/delta construction replicates tools/delta_bench.py exactly:
base = doc_id %% 100 >= 8 (92%%), deltas = %% 100 < {2, 8}.

Stages (marginal attribution between cumulative cuts, warm base
artifacts):
  delta_block — delta-side shingle + md5 block key compute
  probe_cands — + the blk equi-join against the persisted block
                index (candidate (delta, base) doc pairs, counted)
  verify_db   — + base shingle fetch + exact Jaccard + threshold
  dd_leg      — the delta x delta self-join leg, timed alone
  full        — the whole apply_delta incl. base-pair merge

Usage: python tools/ngram_delta_profile.py [SF_DIR ...]
(defaults: /root/testdata/sf0.1 and .tmp/sf1.0 when present; run a
--full-permute synthesis into .tmp/sf1.0-fp and pass it for the
planted-tail control). Prints one JSON line per dir.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from dbt_eamples_spark.catalog import load_table  # noqa: E402
from dbt_eamples_spark.session import get_spark  # noqa: E402

WORK = os.path.join(REPO, ".tmp/ngram_prof")


def _t(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def profile(spark, sf_dir: str) -> dict:
    from dbt_eamples_spark.operators import dedup as D

    tag = os.path.basename(sf_dir.rstrip("/")) or "dir"
    b = os.path.join(WORK, f"base_{tag}")
    shutil.rmtree(b, ignore_errors=True)
    os.makedirs(b)
    docs = load_table(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") % 100 >= 8).write.parquet(
        os.path.join(b, "documents.parquet")
    )
    out: dict = {"sf_dir": sf_dir, "deltas": {}}
    # warm the base artifacts outside every timed region (the daily
    # loop amortizes the base build across every delta batch)
    D.ngram_pairs_apply_delta(
        spark, b, docs.limit(0), assume_new_ids=True
    ).write.format("noop").mode("overwrite").save()
    base_idx = D._ngram_block_index(spark, b)
    base_sh = D.doc_shingles(spark, b).select("doc_id", "shingles")
    out["n_base_docs"] = base_sh.count()
    best = lambda f: min(f() for _ in range(3))  # noqa: E731
    for pct in (2, 8):
        d = docs.filter(F.col("doc_id") % 100 < pct).localCheckpoint()
        row: dict = {"n_delta_docs": d.count(), "stages_sec": {}}
        s = row["stages_sec"]

        def d_blocked_df():
            return D._shingles(d.select("doc_id", "text")).select(
                "doc_id", "shingles", D._blk_col().alias("blk")
            )

        s["delta_block"] = round(best(lambda: _t(d_blocked_df())), 3)
        dk = d_blocked_df().localCheckpoint(eager=True)

        def cands_df():
            return (
                dk.select(F.col("doc_id").alias("d_doc"), "blk")
                .join(
                    base_idx.select(
                        F.col("doc_id").alias("b_doc"), "blk"
                    ),
                    "blk",
                )
                .select("d_doc", "b_doc")
                .distinct()
            )

        s["probe_cands"] = round(best(lambda: _t(cands_df())), 3)
        row["n_probe_cands"] = cands_df().count()

        def db_df():
            return (
                dk.select(
                    F.col("doc_id").alias("d_doc"),
                    F.col("shingles").alias("sh_a"),
                    "blk",
                )
                .join(
                    base_idx.select(
                        F.col("doc_id").alias("b_doc"), "blk"
                    ),
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
                    D._pair_jaccard().alias("jaccard"),
                )
                .filter(F.col("jaccard") >= D.JACCARD_THRESHOLD)
            )

        s["verify_db"] = round(best(lambda: _t(db_df())), 3)
        row["n_db_pairs"] = db_df().count()

        def dd_df():
            ka = dk.select(
                F.col("doc_id").alias("doc_a"),
                F.col("shingles").alias("sh_a"),
                "blk",
            )
            kb = dk.select(
                F.col("doc_id").alias("doc_b"),
                F.col("shingles").alias("sh_b"),
                "blk",
            )
            return (
                ka.join(kb, "blk")
                .filter(F.col("doc_a") < F.col("doc_b"))
                .select(
                    "doc_a", "doc_b",
                    D._pair_jaccard().alias("jaccard"),
                )
                .filter(F.col("jaccard") >= D.JACCARD_THRESHOLD)
            )

        s["dd_leg"] = round(best(lambda: _t(dd_df())), 3)
        row["n_dd_pairs"] = dd_df().count()
        s["full"] = round(
            best(
                lambda: _t(
                    D.ngram_pairs_apply_delta(
                        spark, b, d, assume_new_ids=True
                    )
                )
            ),
            3,
        )
        out["deltas"][f"{pct}pct"] = row
    return out


def main() -> None:
    os.makedirs(WORK, exist_ok=True)
    os.environ["SPARK_GRAFT_ARTIFACTS"] = os.path.join(WORK, "arts")
    dirs = sys.argv[1:] or [
        p
        for p in ("/root/testdata/sf0.1", os.path.join(REPO, ".tmp/sf1.0"))
        if os.path.isdir(p)
    ]
    spark = get_spark("ngram-delta-profile")
    spark.sparkContext.setLogLevel("ERROR")
    for d in dirs:
        print(json.dumps(profile(spark, d)), flush=True)


if __name__ == "__main__":
    main()
