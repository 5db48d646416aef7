"""Generated round-notes Evidence block (VERDICT r9 #8): round 9's
notes quoted a mid-round pytest count (848 vs the final tree's 853)
and a draft exponent (0.25 vs the committed 0.376) because the
Evidence section was hand-written before the last commits. This tool
derives every number from the COMMITTED, tree-stamped artifacts and
stamps the engine tree hash in a footer that tools/preflight.py
verifies against the tree being snapshotted — a post-notes source
commit now fails preflight until the notes are regenerated.

Usage:
  python tools/round_notes.py --prev REV [--pytest-count N]
      # print the Evidence block for the current tree; REV is the
      # previous round's close commit (its BENCH_LOCAL.json is the
      # round-over-round baseline)
Paste (or shell-redirect) the output into ROUND{N}_NOTES.md's
Evidence section; the footer line is what preflight checks.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)



def _load(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def _git_json(rev: str, path: str) -> dict:
    out = subprocess.run(
        ["git", "show", f"{rev}:{path}"],
        cwd=REPO, capture_output=True, text=True,
    )
    if out.returncode != 0:
        raise SystemExit(f"git show {rev}:{path} failed: {out.stderr}")
    return json.loads(out.stdout)


def evidence(prev_rev: str, pytest_count: int | None) -> str:
    from tools.treehash import engine_tree_hash

    tree = engine_tree_hash()
    lines: list[str] = ["## Evidence (generated — tools/round_notes.py)", ""]

    bl = _load(os.path.join(REPO, "BENCH_LOCAL.json"))
    if bl.get("engine_tree") != tree:
        raise SystemExit(
            f"BENCH_LOCAL.json is stamped {bl.get('engine_tree')} but the "
            f"tree hashes {tree} — re-run bench.py first"
        )
    prev = _git_json(prev_rev, "BENCH_LOCAL.json")
    shared = sorted(set(bl["queries"]) & set(prev["queries"]))
    cur_s = sum(bl["queries"][q] for q in shared)
    prev_s = sum(prev["queries"][q] for q in shared)
    lines.append(
        f"- Bench (committed close, engine tree `{tree}`): full "
        f"registry {len(bl['queries'])} queries, total "
        f"{bl['value']:.1f} s at sf{bl['sf']}; vs previous close "
        f"`{prev_rev}` on the {len(shared)} shared queries: "
        f"{cur_s:.1f} s vs {prev_s:.1f} s = "
        f"**{cur_s / prev_s:.3f}x** round-over-round."
    )
    movers = sorted(
        ((bl["queries"][q] / max(prev["queries"][q], 1e-9), q) for q in shared),
        reverse=True,
    )
    worst = [f"`{q}` {r:.2f}x" for r, q in movers[:3]]
    best = [f"`{q}` {r:.2f}x" for r, q in movers[-3:]]
    lines.append(
        f"- Worst shared movers: {', '.join(worst)}; best: "
        f"{', '.join(best)} (solo reruns in BENCH_SOLO.json are the "
        "arbiter before calling an in-run delta a regression)."
    )

    solo_path = os.path.join(REPO, "BENCH_SOLO.json")
    if os.path.exists(solo_path):
        solo = _load(solo_path)
        if solo.get("engine_tree") != tree:
            raise SystemExit("BENCH_SOLO.json stamp mismatch — re-run it")
        qs = solo.get("queries", {})
        lines.append(
            f"- Solo ledger: {len(qs)} slowest queries re-timed in "
            f"fresh JVMs (best-of-3), stamped `{tree}`."
        )

    sweeps = sorted(
        glob.glob(os.path.join(REPO, "LOCAL_ORACLE_r*.md")),
        key=lambda p: int(re.search(r"_r(\d+)\.md$", p).group(1)),
    )
    if sweeps:
        txt = open(sweeps[-1]).read()
        m = re.search(r"Engine tree: `([0-9a-f]+)`", txt)
        if m and m.group(1) != tree:
            raise SystemExit(
                f"{os.path.basename(sweeps[-1])} stamp {m.group(1)} != "
                f"tree {tree} — re-run the strict sweep"
            )
        ok = len(re.findall(r"OK \(\d+ rows\)", txt))
        fails = txt.count("| FAIL |")
        lines.append(
            f"- Strict local oracle sweep ({os.path.basename(sweeps[-1])}"
            f", stamped on this tree): {ok} strict-OK cells across the "
            f"two scales, {fails} FAIL cells."
        )

    db_path = os.path.join(REPO, "DELTA_BENCH.json")
    if os.path.exists(db_path):
        db = _load(db_path)
        blocks = db if isinstance(db, list) else [db]
        for blk in blocks:
            fams = ", ".join(
                f"`{k}` e={v.get('exponent_vs_delta')} "
                f"(rebuild {v.get('full_rebuild_sec')} s, crossover "
                f"{v.get('crossover_delta_pct', 'n/a')}%)"
                for k, v in blk.get("families", {}).items()
            )
            lines.append(f"- Delta bench @ {blk.get('sf_dir')}: {fams}.")

    if pytest_count is not None:
        lines.append(
            f"- Full pytest suite on this tree: **{pytest_count} "
            "passed, 0 failed** (count passed in by the close runner "
            "that executed the suite)."
        )

    lines += ["", f"Engine tree: `{tree}`"]
    return "\n".join(lines)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--prev", required=True,
                    help="previous round's close commit rev")
    ap.add_argument("--pytest-count", type=int, default=None)
    args = ap.parse_args()
    print(evidence(args.prev, args.pytest_count))


if __name__ == "__main__":
    main()
