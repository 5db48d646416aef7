"""Generate the per-entry strict-gate evidence table for
LOCAL_ORACLE_r{N}.md (VERDICT r5 #8): one row per registry query
with its latest local strict-gate result at each scale, parsed from
oracle_check sweep logs — so the provenance chain lives in-repo
instead of in round notes.

Usage: python tools/oracle_ledger.py LOG_SF001 LOG_SF01 > table.md
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


# one source of truth for the sweep-log line format (ADVICE r6)
PAT = re.compile(r"(OK|FAIL|SKIP)\s+(\w+)(?::| )\s*(?:\((\d+) rows\))?")


def parse(path: str) -> dict[str, str]:
    out: dict[str, str] = {}
    with open(path, errors="replace") as fh:
        for line in fh:
            # progress bars glue onto lines; search anywhere
            for m in PAT.finditer(line):
                status, name, rows = m.groups()
                if status == "OK" and rows is not None:
                    out[name] = f"OK ({rows} rows)"
                elif status == "SKIP":
                    out[name] = "rows-only (no oracle, by design)"
                elif status == "FAIL":
                    out[name] = "FAIL"
    return out


def main() -> None:
    import __spark_entry__ as e

    small = parse(sys.argv[1])
    large = parse(sys.argv[2])
    names = list(e.queries())
    print("| # | query | sf0.01 | sf0.1 |")
    print("|---|---|---|---|")
    for i, n in enumerate(names, 1):
        print(
            f"| {i} | `{n}` | {small.get(n, '—')} | {large.get(n, '—')} |"
        )
    n_ok_s = sum(1 for n in names if small.get(n, "").startswith("OK"))
    n_ok_l = sum(1 for n in names if large.get(n, "").startswith("OK"))
    print(
        f"\nTotals: {len(names)} registry entries; sf0.01 strict OK "
        f"{n_ok_s}; sf0.1 strict OK {n_ok_l}; FAIL "
        f"{sum(1 for v in list(small.values()) + list(large.values()) if v == 'FAIL')}."
    )
    # provenance stamp (ADVICE r7 #5): preflight compares this to the
    # tree being snapshotted — content-based, so a fresh clone can't
    # trivially pass (mtimes could) and uncommitted edits can't hide
    # (git log could not see them)
    from tools.treehash import engine_tree_hash

    print(f"\nEngine tree: `{engine_tree_hash()}`")


if __name__ == "__main__":
    main()
