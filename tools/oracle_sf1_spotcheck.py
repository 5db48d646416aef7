"""Third-decade oracle spot-check (round 13): run the DuckDB
value-hash compare at the synthesized sf1 corpus for the historical
sweep set — the same queries BENCH_SF1 times — so the correctness
evidence carries a 10× point like the performance evidence does
(LOCAL_ORACLE covers sf0.01/sf0.1; this covers .tmp/sf1.0, 50k docs
/ 600k lineitem / 5k vectors per copy × 10).

Each query runs in its own oracle_check.py subprocess with a
wall-clock budget; a query over budget is recorded TIMEOUT (listed,
never silently dropped — the no-silent-caps rule) since the DuckDB
side of some recursive-CTE oracles is itself O(pairs) at sf1.

Writes LOCAL_ORACLE_SF1.md, engine-tree-stamped + synthesis-version
stamped. Usage: python tools/oracle_sf1_spotcheck.py [budget_sec]
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF1 = os.path.join(REPO, ".tmp", "sf1.0")

# the BENCH_SF1 sweep ∩ oracle-backed queries, plus the round-13
# audits and the incremental-index recall gate (the families whose
# 10× behavior the scale story leans on hardest)
EXTRA = [
    "agg_approx_distinct_audit",
    "agg_approx_percentiles_audit",
    "similarity_topk_audit",
    "similarity_ivf_delta_recall_eval",
    "dedup_incremental_minhash",
    "dedup_incremental_cosine",
]


def sample() -> list[str]:
    import __spark_entry__ as e
    from tools.bench_sf1_report import SWEEP

    osql = set(e.oracle_sql())
    names = [q for q in SWEEP if q in osql]
    names += [q for q in EXTRA if q in osql and q not in names]
    return sorted(names)


def main() -> None:
    budget = int(sys.argv[1]) if len(sys.argv) > 1 else 300
    names = sample()
    rows: list[tuple[str, str, str]] = []  # (name, status, detail)
    t_all = time.time()
    for name in names:
        t0 = time.time()
        try:
            r = subprocess.run(
                [sys.executable, os.path.join(REPO, "tools", "oracle_check.py"),
                 SF1, name],
                cwd=REPO, capture_output=True, text=True, timeout=budget,
            )
            out = (r.stdout + r.stderr).replace("\r", "\n")
            m = re.search(rf"OK\s+{re.escape(name)} \((\d+) rows\)", out)
            if m:
                rows.append((name, "OK", f"{m.group(1)} rows, "
                             f"{time.time() - t0:.0f}s"))
            else:
                fm = re.search(rf"FAIL\s+{re.escape(name)}[^\n]*", out)
                rows.append((name, "FAIL",
                             (fm.group(0) if fm else out[-300:]).strip()))
        except subprocess.TimeoutExpired:
            rows.append((name, "TIMEOUT", f"> {budget}s budget"))
        print(f"{rows[-1][1]:8s} {name} ({rows[-1][2]})", flush=True)
    n_ok = sum(1 for _, s, _ in rows if s == "OK")
    n_fail = sum(1 for _, s, _ in rows if s == "FAIL")
    n_to = sum(1 for _, s, _ in rows if s == "TIMEOUT")

    from tools.treehash import engine_tree_hash

    synth = {}
    try:
        with open(os.path.join(SF1, "_synthesis.json")) as fh:
            synth = json.load(fh)
    except (OSError, ValueError):
        pass
    lines = [
        "# LOCAL_ORACLE_SF1 — third-decade strict oracle spot-check",
        "",
        f"DuckDB row-count + schema + order-insensitive value-hash "
        f"compare at the synthesized 10× corpus (`{SF1}`, synthesis "
        f"v{synth.get('synth_version', '?')}) over the BENCH_SF1 sweep set "
        "∩ oracle-backed queries + the round-13 audits and the "
        "incremental probes — the correctness twin of the BENCH_SF1 "
        "performance sweep. Generated by tools/oracle_sf1_spotcheck.py;",
        f"per-query subprocess budget {sys.argv[1] if len(sys.argv) > 1 else 300}s"
        " (a TIMEOUT is the DuckDB oracle side's cost, listed per the"
        " no-silent-caps rule, not an engine mismatch).",
        "",
        f"**{n_ok} OK / {n_fail} FAIL / {n_to} TIMEOUT** over "
        f"{len(rows)} queries ({time.time() - t_all:.0f}s total).",
        "",
        "| query | status | detail |",
        "|---|---|---|",
    ]
    for name, status, detail in rows:
        lines.append(f"| {name} | {status} | {detail} |")
    lines += ["", f"Engine tree: `{engine_tree_hash()}`", ""]
    with open(os.path.join(REPO, "LOCAL_ORACLE_SF1.md"), "w") as fh:
        fh.write("\n".join(lines))
    print(f"\nwrote LOCAL_ORACLE_SF1.md: {n_ok} OK / {n_fail} FAIL / "
          f"{n_to} TIMEOUT")
    if n_fail:
        sys.exit(1)


if __name__ == "__main__":
    main()
