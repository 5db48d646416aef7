"""BENCH_DELTA.json — the committed round-over-round comparison
(VERDICT r14 #7): the driver's PERF comparison keeps dying to
one-line-JSON tail truncation (r13→r14: `prev_bench_ok: false`,
geomean null), leaving the judge to reconstruct deltas from git
archaeology. This tool makes the delta a CLOSE ARTIFACT: it reads
the current close's BENCH_LOCAL.json, extracts the previous close's
BENCH_LOCAL.json from git (the last commit before this round that
touched it), and writes per-query prev/now/ratio plus the
ambient-corrected ratio (shared-median discount — the
tools/bench_solo.py ambient_drift estimator) and the solo-adjudicated
movers block copied from BENCH_SOLO.json.

Additions only: the bench protocol and the one-line JSON are
untouched; this is a reader over their committed outputs.

Usage: python tools/bench_delta.py --prev REV [--out PATH]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)



def load_prev_bench(rev: str) -> dict:
    out = subprocess.run(
        ["git", "show", f"{rev}:BENCH_LOCAL.json"],
        cwd=REPO, capture_output=True, text=True,
    )
    if out.returncode != 0:
        raise SystemExit(
            f"bench_delta: cannot read BENCH_LOCAL.json at {rev}: "
            + out.stderr.strip()
        )
    return json.loads(out.stdout)


def build_delta(cur: dict, prev: dict, prev_rev: str,
                solo: dict | None) -> dict:
    from tools.bench_solo import ambient_drift

    cq, pq = cur["queries"], prev["queries"]
    ambient = ambient_drift(cq, pq)
    per_query = {}
    logs = []
    for name in sorted(cq):
        p = pq.get(name)
        row = {"prev_sec": p, "now_sec": cq[name]}
        if p:
            ratio = cq[name] / p
            row["ratio"] = round(ratio, 4)
            row["corrected_ratio"] = round(ratio / ambient, 4)
            logs.append(math.log(ratio))
        per_query[name] = row
    geo = round(math.exp(sum(logs) / len(logs)), 4) if logs else None
    record = {
        "prev_rev": prev_rev,
        "prev_total_sec": prev.get("value"),
        "now_total_sec": cur.get("value"),
        "sf": cur.get("sf"),
        "n_shared": len(logs),
        "ambient_drift": ambient,
        "geomean_ratio": geo,
        "geomean_ratio_corrected": (
            round(geo / ambient, 4) if geo else None
        ),
        "per_query": per_query,
        "movers_solo_adjudicated": (solo or {}).get("movers", {}),
        "engine_tree": cur.get("engine_tree"),
    }
    return record


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--prev", required=True,
                    help="git rev of the previous close")
    ap.add_argument("--out",
                    default=os.path.join(REPO, "BENCH_DELTA.json"))
    args = ap.parse_args()
    with open(os.path.join(REPO, "BENCH_LOCAL.json")) as fh:
        cur = json.load(fh)
    prev = load_prev_bench(args.prev)
    solo = None
    try:
        with open(os.path.join(REPO, "BENCH_SOLO.json")) as fh:
            solo = json.load(fh)
    except (OSError, ValueError):
        pass
    record = build_delta(cur, prev, args.prev, solo)
    with open(args.out, "w") as fh:
        fh.write(json.dumps(record) + "\n")
    print(
        f"bench_delta: {record['n_shared']} shared queries, ambient "
        f"{record['ambient_drift']}x, geomean {record['geomean_ratio']}x "
        f"(corrected {record['geomean_ratio_corrected']}x) -> {args.out}"
    )


if __name__ == "__main__":
    main()
