"""Generate BENCH_SF1.md ON THE CURRENT TREE, owning the whole file
(VERDICT r10 #6 — the r8 headline table had gone stale while later
rounds appended accurate sections below it; the recall_report
lesson applied again: a generated artifact must be regenerated
whole, never hand-extended).

What it runs (all against the CURRENT tree — takes ~15 min):
  1. bench.py at the synthesized sf1.0 corpus over the historical
     sweep set + the image family (SPARK_GRAFT_BENCH_ONLY) — the
     same min-of-3-alphabetical-passes protocol as the committed
     sf0.1 reference BENCH_LOCAL.json;
  2. tools/ngram_delta_profile.py at sf1.0 (and the full-permute
     control corpus when present) — the r10 #5 attribution;
  3. assembles the exponent table, the image-family section (first
     possible in r11: the three-modulus fixture horizon), and the
     ngram-delta attribution, stamped with the synthesis version
     (tools/scale_corpus.py) and the engine tree hash
     (tools/treehash.py).

Usage: python tools/bench_sf1_report.py            # writes BENCH_SF1.md
       python tools/bench_sf1_report.py --dry-run  # stdout only
Requires .tmp/sf1.0 (tools/scale_corpus.py). The full-permute
control (.tmp/sf1.0-fp) is optional but recommended — without it
the ngram section quotes default-corpus numbers only.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF1 = os.path.join(REPO, ".tmp", "sf1.0")
SF1_FP = os.path.join(REPO, ".tmp", "sf1.0-fp")

# the sf0.1 reference column's provenance line
SF01_REF_STAMP_FMT = (
    "sf0.1 reference column: BENCH_LOCAL.json total "
    "{total} s, tree `{tree}`."
)

# the historical sweep set (r1-shared + slowest tail + round-8/9/10
# spot-check families) + the image family, benchable at sf1 since
# the r11 three-modulus horizon extension
SWEEP = sorted(
    [
        "agg_percentiles", "agg_trend_slope_pandas",
        "concat_report_rows", "corpus_js_divergence",
        "customer_entity_match", "dedup_cascade_attrition",
        "dedup_containment", "dedup_embedding_cosine",
        "dedup_incremental_clusters", "dedup_incremental_phash",
        "dedup_minhash", "dedup_ngram_jaccard",
        "dedup_semantic_clusters", "dedup_simhash",
        "dedup_threshold_curve", "doc_fingerprint",
        "doc_winnow_fingerprint", "graph_transitivity",
        "graph_transitivity_sampled", "graph_triangle_count",
        "join_asof", "join_left_outer", "join_salted_skew",
        "join_star_3way", "join_time_range", "metric_compiled_star",
        "metric_groupby_agg", "metric_grouping_sets",
        "multimodal_codec_stats", "multimodal_features_flat",
        "order_limit_topk", "similarity_ivf_topk",
        "similarity_ivfpq_recall_eval", "similarity_lsh_recall_eval",
        "similarity_lsh_topk", "similarity_topk",
        "stream_session_agg", "stream_tumbling_count", "string_chunk",
        "text_jaccard_source_similarity", "text_ngram_novelty",
        "text_token_stats", "window_running_sum",
        "window_topk_per_group",
        # image family (r11)
        "dedup_phash", "dedup_phash_clusters",
    ]
)

IMAGE_FAMILY = (
    "dedup_phash", "dedup_phash_clusters", "dedup_incremental_phash",
)


def _run_bench() -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=SF1,
        SPARK_GRAFT_BENCH_ONLY=",".join(SWEEP),
    )
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        cwd=REPO, env=env, capture_output=True, text=True,
    )
    if r.returncode != 0:
        raise SystemExit(f"bench.py at sf1 failed:\n{r.stderr[-2000:]}")
    line = [ln for ln in r.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def _run_ngram_profile(dirs: list[str]) -> list[dict]:
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "ngram_delta_profile.py"), *dirs],
        cwd=REPO, capture_output=True, text=True,
    )
    if r.returncode != 0:
        raise SystemExit(
            f"ngram_delta_profile failed:\n{r.stderr[-2000:]}"
        )
    return [
        json.loads(ln)
        for ln in r.stdout.splitlines()
        if ln.startswith("{")
    ]


def _synth(corpus: str) -> dict:
    from tools.scale_corpus import synth_manifest

    return synth_manifest(corpus)


def _phash_planted_lock(sf_dir: str) -> dict:
    """Measure the image-family planted-truth lock LIVE on the sweep
    corpus (ADVICE r11 — the r11 generator baked the r11 measurement
    into the report as a frozen string, so a regeneration on a later
    tree would have re-stamped 'measured on this tree' over numbers
    nobody re-measured): recall/precision of dedup_phash against the
    generative intra-scene truth, max verified Hamming, pair/scene
    counts. All joins/folds distributed — no pair set is collected."""
    from pyspark.sql import functions as F

    from dbt_eamples_spark.catalog import load_table
    from dbt_eamples_spark.operators.multimodal import (
        PHASH_GROUP,
        dedup_phash,
    )
    from dbt_eamples_spark.session import get_spark

    spark = get_spark("bench-sf1-phash-lock")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") / PHASH_GROUP).cast("long").alias("g")
    )
    want = (
        docs.alias("x")
        .join(docs.alias("y"), "g")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
        )
    )
    got = dedup_phash(spark, sf_dir).localCheckpoint(eager=True)
    n_want = want.count()
    n_got = got.count()
    n_hit = got.join(want, ["doc_a", "doc_b"]).count()
    stats = got.agg(F.max("hamming").alias("mh")).collect()[0]
    n_scenes = (
        docs.groupBy("g").count().filter(F.col("count") >= 2).count()
    )
    return {
        "n_truth_pairs": n_want,
        "n_found_pairs": n_got,
        "n_scenes": n_scenes,
        "recall": round(n_hit / n_want, 6) if n_want else None,
        "precision": round(n_hit / n_got, 6) if n_got else None,
        "max_hamming": stats.mh,
    }


def flagged_queries(sf1: dict, sf01: dict) -> list[str]:
    """Names whose bench-table exponent exceeds 1.05 — these get an
    automatic solo re-check (fresh JVM, warm min-of-3) because the
    table's sf0.1 column comes from the full-registry run whose
    ambient JIT/cache state differs from the 46-query sf1 sweep;
    BENCH_SOLO is the arbiter for per-query deltas, and the same
    rule applies here."""
    q1, q01 = sf1["queries"], sf01["queries"]
    out = []
    for name in sorted(q1):
        a = q01.get(name)
        if a and math.log(q1[name] / a) / math.log(10) > 1.05:
            out.append(name)
    return out


def _run_solo_recheck(names: list[str]) -> dict:
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "scaling_check.py"), *names],
        cwd=REPO, capture_output=True, text=True,
    )
    if r.returncode != 0:
        raise SystemExit(
            f"scaling_check re-check failed:\n{r.stderr[-2000:]}"
        )
    line = [ln for ln in r.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def _ingest_replay(sf_src: str) -> dict:
    """Time the COMPOSED two-phase ingest loop (documents +
    embeddings micro-batches, all artifacts maintained) at ``sf_src``
    (VERDICT r11 #4 — the loop's pieces have two-scale DELTA_BENCH
    numbers, the composition only had fixture-scale pytest). Deltas
    are fixed ABSOLUTE sizes (same row counts at every scale), so
    the steady-state batch-2 cost staying flat across the decade IS
    the claim: batch cost scales with the delta, not the corpus.
    Batch 1 lands on a cold store and pays the founding base-artifact
    builds; batch 2 is the steady state a daily loop actually runs."""
    import shutil
    import time as _t

    from pyspark.sql import functions as F

    from dbt_eamples_spark.catalog import load_table, table_path
    from dbt_eamples_spark.session import get_spark
    from dbt_eamples_spark.streaming import ingest as I

    N_DOC, N_VEC = 250, 100
    spark = get_spark("bench-sf1-ingest-replay")
    tag = os.path.basename(sf_src.rstrip("/"))
    cdir = os.path.join(REPO, ".tmp", f"ingest_replay_{tag}")
    shutil.rmtree(cdir, ignore_errors=True)
    os.makedirs(cdir)
    docs = load_table(spark, sf_src, "documents")
    emb = load_table(spark, sf_src, "embeddings")
    doc_ids = [
        r.doc_id
        for r in docs.select("doc_id")
        .orderBy(F.desc("doc_id"))
        .limit(2 * N_DOC)
        .collect()
    ]
    d_b2, d_b1 = doc_ids[:N_DOC], doc_ids[N_DOC:]
    vec_ids = [
        r.vec_id
        for r in emb.select("vec_id")
        .orderBy(F.desc("vec_id"))
        .limit(2 * N_VEC)
        .collect()
    ]
    v_b2, v_b1 = vec_ids[:N_VEC], vec_ids[N_VEC:]
    docs.filter(~F.col("doc_id").isin(d_b1 + d_b2)).write.parquet(
        table_path(cdir, "documents")
    )
    emb.filter(~F.col("vec_id").isin(v_b1 + v_b2)).write.parquet(
        table_path(cdir, "embeddings")
    )
    old_store = os.environ.get("SPARK_GRAFT_ARTIFACTS")
    os.environ["SPARK_GRAFT_ARTIFACTS"] = os.path.join(cdir, "_arts")
    out = {"sf_dir": sf_src, "n_doc": N_DOC, "n_vec": N_VEC,
           "batches": []}
    try:
        for bi, (dset, vset) in enumerate(
            [(d_b1, v_b1), (d_b2, v_b2)], 1
        ):
            db = docs.filter(F.col("doc_id").isin(dset))
            vb = emb.filter(F.col("vec_id").isin(vset))
            t0 = _t.perf_counter()
            rd = I.ingest_documents_batch(
                spark, db, cdir, maintain_artifacts=True
            )
            t_docs = _t.perf_counter() - t0
            t0 = _t.perf_counter()
            rv = I.ingest_embeddings_batch(
                spark, vb, cdir, maintain_artifacts=True
            )
            t_emb = _t.perf_counter() - t0
            out["batches"].append({
                "batch": bi,
                "doc_rows": rd["rows_appended"],
                "docs_sec": round(t_docs, 3),
                "doc_pairs": rd["near_dup_pairs"],
                "vec_rows": rv["rows_appended"],
                "emb_sec": round(t_emb, 3),
                "vec_pairs": rv["near_dup_pairs"],
                "ivf_retrained": rv.get("ivf_retrained"),
            })
    finally:
        if old_store is None:
            os.environ.pop("SPARK_GRAFT_ARTIFACTS", None)
        else:
            os.environ["SPARK_GRAFT_ARTIFACTS"] = old_store
    return out


def render(
    sf1: dict, sf01: dict, profs: list[dict], tree: str,
    solo: dict | None = None, phash_lock: dict | None = None,
    delta_bench: list[dict] | None = None,
    ingest: list[dict] | None = None,
) -> str:
    q1, q01 = sf1["queries"], sf01["queries"]
    man = _synth(SF1)
    ver = man.get("synth_version", 1)
    out: list[str] = []
    w = out.append
    w("# BENCH_SF1 — informational sf1.0 sweep (GENERATED — "
      "tools/bench_sf1_report.py; do not hand-edit)")
    w("")
    w(f"Corpus: synthesized sf1.0, synthesis version {ver} "
      f"(tools/scale_corpus.py — {man.get('copies', 10)} key-shifted "
      f"sf0.1 copies, documents permutation "
      f"'{man.get('documents_permutation', 'vowel')}', doc offset "
      f"{man.get('doc_off', man.get('off', 100000000))}; duplicate/"
      "similarity structure preserved within a copy, destroyed "
      "across copies — except the vowel permutation's planted "
      "cross-copy tail on consonant-only/numeric texts, see the "
      "ngram attribution below). "
      f"Protocol: {sf1['protocol']}, fixed alphabetical order, "
      f"{len(q1)} queries. Raw per-pass totals "
      f"{sf1['raw_run_totals_sec']} s. sf0.1 reference: the "
      "committed full-registry BENCH_LOCAL.json (same protocol; "
      "the reference run carries the full registry in its passes, "
      "so ambient cache pressure differs slightly — informational).")
    w("")
    w("| query | sf0.1 s | sf1 s | ratio | exponent e (t∝SFᵉ) |")
    w("|---|---|---|---|---|")
    flagged, skipped = [], []
    for name in sorted(q1):
        a, b = q01.get(name), q1[name]
        if not a:
            skipped.append(
                (name,
                 "missing from BENCH_LOCAL.json" if a is None
                 else "recorded 0.0 at sf0.1")
            )
            continue
        ratio = b / a
        e = math.log(ratio) / math.log(10)
        w(f"| `{name}` | {a:.3f} | {b:.3f} | {ratio:.2f}× | {e:.2f} |")
        if e > 1.05:
            flagged.append((name, e))
    tot1 = sum(q1.values())
    tot01 = sum(v for k, v in q01.items() if k in q1)
    w("")
    w(f"Set totals: sf0.1 {tot01:.1f} s → sf1 {tot1:.1f} s "
      f"({tot1 / tot01:.2f}×, exponent "
      f"{math.log(tot1 / tot01) / math.log(10):.2f}).")
    if flagged:
        w("")
        w("Super-linear (> 1.05) in the cross-run table — solo "
          "arbiter (fresh JVM, warm min-of-3, same corpus pair; the "
          "table's sf0.1 column rides the full-registry run's "
          "ambient JIT/cache state, so per-query ratios there are "
          "noisy — the BENCH_SOLO rule):")
        for name, e in flagged:
            s = (solo or {}).get(name)
            if s:
                w(f"- `{name}`: table e {e:.2f} → solo "
                  f"{s['t_sf01']:.2f} s → {s['t_10x']:.2f} s, "
                  f"e {s['exponent']:.2f}")
            else:
                w(f"- `{name}`: {e:.2f} (no solo re-check recorded)")
    if skipped:
        w("")
        w(f"Skipped {len(skipped)} swept queries (no sf0.1 "
          "reference — listed, not silently dropped):")
        for name, why in skipped:
            w(f"- `{name}`: {why}")

    # ---- image family ----
    w("")
    w("## Image (phash) family — first sf1 decade (r11)")
    w("")
    w("The three-modulus generative horizon (lcm(199,193,197) ≈ "
      "7.57M scenes) plus the 1M documents copy offset put the 10× "
      "synthesis inside the collision-free period, so the image "
      "family gets second-decade evidence like every other dedup "
      "family (the old two-modulus form made a 10× synthesis RAISE "
      "by design):")
    w("")
    w("| query | sf0.1 s | sf1 s | exponent |")
    w("|---|---|---|---|")
    for name in IMAGE_FAMILY:
        a, b = q01.get(name), q1.get(name)
        if a and b:
            e = math.log(b / a) / math.log(10)
            w(f"| `{name}` | {a:.3f} | {b:.3f} | {e:.2f} |")
        else:
            w(f"| `{name}` | {a or '—'} | {b or '—'} | (not in both "
              "sweeps) |")
    w("")
    if phash_lock:
        pl = phash_lock
        w(f"Planted-truth lock at 10× — measured LIVE in this "
          f"generation run (not a frozen constant): dedup_phash over "
          f"sf1.0 found {pl['n_found_pairs']:,} pairs against "
          f"{pl['n_truth_pairs']:,} generative intra-scene truth "
          f"pairs across {pl['n_scenes']:,} scenes — recall "
          f"{pl['recall']}, precision {pl['precision']}, max "
          f"verified Hamming {pl['max_hamming']}.")
    else:
        w("Planted-truth lock: NOT measured in this run (--no-lock); "
          "see tests/test_round8_ops.py for the fixture-scale lock.")

    # ---- ngram delta attribution ----
    # every figure below is DERIVED from this run's profile rows or
    # the committed DELTA_BENCH.json — not baked in (ADVICE r11)
    by_dir = {p["sf_dir"]: p for p in profs}

    def _rate(d: str, pct: str = "8pct") -> float | None:
        row = by_dir.get(d, {}).get("deltas", {}).get(pct)
        if not row or not row.get("n_delta_docs"):
            return None
        return row["n_probe_cands"] / row["n_delta_docs"]

    def _dd(d: str, pct: str = "8pct") -> int | None:
        row = by_dir.get(d, {}).get("deltas", {}).get(pct)
        return None if row is None else row.get("n_dd_pairs")

    def _ngram_db(sfd: str) -> dict:
        for ent in delta_bench or []:
            if ent.get("sf_dir") == sfd:
                return ent.get("families", {}).get(
                    "ngram_jaccard_pairs", {}
                )
        return {}

    db01 = _ngram_db("/root/testdata/sf0.1")
    db1 = _ngram_db(SF1)
    w("")
    w("## ngram_jaccard_pairs delta exponent — attributed (r10 #5)")
    w("")
    w(f"DELTA_BENCH measured exponent-vs-delta "
      f"{db01.get('exponent_vs_delta', '—')} (sf0.1) → "
      f"{db1.get('exponent_vs_delta', '—')} (sf1) "
      "(committed DELTA_BENCH.json — regenerate with "
      "tools/delta_bench.py if engine code changed). Stage profile "
      "(tools/ngram_delta_profile.py; base = 92% of docs, deltas "
      "2%/8%, warm base artifacts, min-of-3):")
    w("")
    w("| corpus | delta | delta_block s | probe_cands s | "
      "verify_db s | dd_leg s | full s | cands | cands/doc | "
      "db pairs | dd pairs |")
    w("|---|---|---|---|---|---|---|---|---|---|")
    for p in profs:
        tagmap = {
            "/root/testdata/sf0.1": "sf0.1 (v-src)",
            SF1: f"sf1.0 v{ver} (vowel)",
            SF1_FP: "sf1.0 (full-permute control)",
        }
        tag = tagmap.get(p["sf_dir"], p["sf_dir"])
        for pct, row in sorted(p["deltas"].items()):
            s = row["stages_sec"]
            n = row["n_delta_docs"]
            w(f"| {tag} | {pct} | {s['delta_block']} | "
              f"{s['probe_cands']} | {s['verify_db']} | "
              f"{s['dd_leg']} | {s['full']} | "
              f"{row['n_probe_cands']} | "
              f"{row['n_probe_cands'] / n:.1f} | "
              f"{row['n_db_pairs']} | {row['n_dd_pairs']} |")
    rate1 = _rate(SF1)
    rate_fp = _rate(SF1_FP)
    rate01 = _rate("/root/testdata/sf0.1")
    dd1, dd_fp = _dd(SF1), _dd(SF1_FP)

    def _fmt(v: float | None) -> str:
        # ADVICE r12: a missing/partial profile row makes _rate()
        # return None — fall back to '—' like the other derived
        # figures instead of crashing the report at the end of a
        # ~15-minute close run
        return f"{v:.1f}" if v is not None else "—"
    w("")
    w("**Attribution** (control experiment, the r10 minhash "
      "method): the decade-over-decade exponent step is two "
      "benign effects, no corpus-size term —")
    w("")
    w("1. **The sf0.1 exponent is a job-overhead floor artifact**: "
      "at sf0.1 the whole delta path times flat (see the sf0.1 "
      "rows above) because fixed per-job cost dominates; at sf1 "
      "the genuinely delta-proportional work (delta tokenize + "
      "candidate verify) rises above the floor, so the measured "
      "exponent approaches the true linear-in-delta slope it "
      "always had.")
    if rate_fp is not None:
        w(f"2. **The planted cross-copy dup tail inflates the "
          f"verify load**: with the default vowel permutation, "
          f"probe candidates per delta doc run "
          f"{_fmt(rate1)} vs {_fmt(rate_fp)} on the full-permute "
          f"control (sf0.1's own rate: {_fmt(rate01)}) and "
          f"delta×delta true pairs appear ({dd1} vs {dd_fp} at "
          "8%) — all four figures from THIS run's profile rows. "
          "Cost stays proportional to TRUE candidate/pair output "
          "— correct verify-stage behavior, the same synthesis "
          "artifact the r10 control pinned for dedup_minhash.")
    else:
        w(f"2. **The planted cross-copy dup tail inflates the "
          f"verify load**: vowel-permutation candidates/delta-doc "
          f"{_fmt(rate1)} vs sf0.1's {_fmt(rate01)} "
          "(full-permute control corpus absent in this run — "
          "synthesize .tmp/sf1.0-fp for the controlled figure).")
    if db1.get("delta_8pct_sec") and db1.get("full_rebuild_sec"):
        w("")
        w(f"Absolute margins stay wide (delta "
          f"{db1['delta_8pct_sec']:.1f} s vs rebuild "
          f"{db1['full_rebuild_sec']:.1f} s at 8% on sf1, committed "
          "DELTA_BENCH.json), so no crossover-policy change: the "
          "delta-vs-rebuild policy constants in DELTA_BENCH.json "
          "stand.")
    # ---- composed ingest loop (VERDICT r11 #4) ----
    if ingest:
        w("")
        w("## Composed ingest loop — two-batch replay "
          "(documents + embeddings, all artifacts maintained)")
        w("")
        rep0 = ingest[0]
        w(f"Fixed-ABSOLUTE deltas ({rep0['n_doc']} docs / "
          f"{rep0['n_vec']} vectors per batch at EVERY scale), cold "
          "artifact store: batch 1 pays the founding base-artifact "
          "builds, batch 2 is the steady state a daily loop runs. "
          "The claim under test: steady-state batch cost scales "
          "with the DELTA, not the corpus — so the batch-2 row "
          "should stay ~flat across the 10× corpus step while the "
          "founding batch-1 row grows with the corpus.")
        w("")
        w("| corpus | batch | doc rows | docs s | doc pairs | "
          "vec rows | emb s | vec pairs | ivf retrained |")
        w("|---|---|---|---|---|---|---|---|---|")
        for rep in ingest:
            ctag = (
                "sf0.1" if "testdata" in rep["sf_dir"] else "sf1.0"
            )
            for b in rep["batches"]:
                w(f"| {ctag} | {b['batch']} | {b['doc_rows']} | "
                  f"{b['docs_sec']} | {b['doc_pairs']} | "
                  f"{b['vec_rows']} | {b['emb_sec']} | "
                  f"{b['vec_pairs']} | {b['ivf_retrained']} |")
        if len(ingest) == 2:
            b2a = ingest[0]["batches"][1]
            b2b = ingest[1]["batches"][1]
            rd = b2b["docs_sec"] / b2a["docs_sec"]
            re_ = b2b["emb_sec"] / b2a["emb_sec"]
            w("")
            w(f"Steady-state decade ratio (batch 2, sf1/sf0.1): "
              f"documents {rd:.2f}×, embeddings {re_:.2f}× for a "
              "10× corpus — delta-sized cost, derived from this "
              "run's rows above.")

    w("")
    # provenance of the sf0.1 reference column: which BENCH_LOCAL.json
    # (total and engine tree) the column was rendered from
    w(SF01_REF_STAMP_FMT.format(
        total=sf01["value"], tree=sf01.get("engine_tree")
    ))
    w("")
    w(f"Engine tree: `{tree}`")
    w("")
    return "\n".join(out)


def main() -> None:
    if not os.path.isdir(SF1):
        raise SystemExit("run tools/scale_corpus.py first (.tmp/sf1.0)")
    from tools.treehash import engine_tree_hash

    with open(os.path.join(REPO, "BENCH_LOCAL.json")) as fh:
        sf01 = json.load(fh)
    if abs(sf01.get("sf", 0) - 0.1) > 1e-9:
        raise SystemExit(
            f"BENCH_LOCAL.json records sf={sf01.get('sf')} — the "
            "reference column must be the sf0.1 full-registry "
            "artifact; re-run bench.py at the default SF_DIR first"
        )
    sf1 = _run_bench()
    prof_dirs = ["/root/testdata/sf0.1", SF1] + (
        [SF1_FP] if os.path.isdir(SF1_FP) else []
    )
    profs = _run_ngram_profile(prof_dirs)
    flagged = flagged_queries(sf1, sf01)
    solo = _run_solo_recheck(flagged) if flagged else {}
    phash_lock = (
        None if "--no-lock" in sys.argv else _phash_planted_lock(SF1)
    )
    try:
        with open(os.path.join(REPO, "DELTA_BENCH.json")) as fh:
            delta_bench = json.load(fh)
    except (OSError, ValueError):
        delta_bench = []
    ingest = (
        None
        if "--no-ingest" in sys.argv
        else [
            _ingest_replay("/root/testdata/sf0.1"),
            _ingest_replay(SF1),
        ]
    )
    text = render(
        sf1, sf01, profs, engine_tree_hash(), solo,
        phash_lock=phash_lock, delta_bench=delta_bench,
        ingest=ingest,
    )
    if "--dry-run" in sys.argv:
        print(text)
        return
    with open(os.path.join(REPO, "BENCH_SF1.md"), "w") as fh:
        fh.write(text)
    print("wrote BENCH_SF1.md "
          f"({len(text.splitlines())} lines, {len(sf1['queries'])} "
          "swept queries)")


if __name__ == "__main__":
    main()
