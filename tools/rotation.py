"""Driver-sample rotation generator (VERDICT r9 #1): the per-round
``_R{N}_PRIORITY`` list in __spark_entry__.py decides which 50
registry queries the driver re-checks against the DuckDB oracle.
Through round 9 the list was hand-assembled — and the r8 round
dropped ``metric_rollup`` from the queue entirely (a hand-count
bug the r8 verdict caught). This tool makes the queue DERIVED
state: it recomputes the priority ordering from the committed
CORRECTNESS_r*.json history, so the list can be regenerated (and
preflight can ASSERT the shipped list matches — tools/preflight.py)
instead of being counted by hand.

Ordering rule (the rule every round since r8 applied by hand):
  1. never-checked queries first (new additions — no CORRECTNESS
     row in any round), alphabetical;
  2. then by STALEST latest-driver-round ascending (a query last
     hash-checked in r3 outranks one checked in r4);
  3. alphabetical within the same staleness bucket.

Usage:
  python tools/rotation.py            # print the full ordering
  python tools/rotation.py --literal  # print as a Python list literal
  python tools/rotation.py --check    # exit 1 unless the newest
                                      # _R{N}_PRIORITY equals the
                                      # generated ordering
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)



def correctness_history(max_round: int | None = None) -> dict[str, int]:
    """query name -> latest driver round that recorded it (any
    verdict — a FAIL row is still a driver check). ``max_round``
    bounds the history: the round-N priority list is derived from
    rounds ≤ N-1, so the check must IGNORE CORRECTNESS files the
    driver writes after the list shipped (otherwise the driver's own
    post-close CORRECTNESS_rN.json would immediately invalidate
    _RN_PRIORITY and fail every later pytest/preflight run on the
    committed tree)."""
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        if max_round is not None and rnd > max_round:
            continue
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for q in data:
            latest[q] = max(latest.get(q, 0), rnd)
    return latest


def generate(
    registry_keys: list[str] | None = None,
    max_round: int | None = None,
) -> list[str]:
    """The full priority ordering over the current registry, from
    the CORRECTNESS history through ``max_round`` (pass N-1 to
    reproduce round N's queue)."""
    if registry_keys is None:
        import __spark_entry__ as e

        registry_keys = list(e._query_registry())
    latest = correctness_history(max_round)
    # never-checked sorts before every real round via round 0... but
    # rule 1 says alphabetical within the never-checked group too, so
    # a single (round, name) sort key covers all three clauses
    return sorted(registry_keys, key=lambda q: (latest.get(q, 0), q))


def shipped_priority() -> tuple[int, str, list[str]]:
    """(round N, attr name, list) of the newest _R{N}_PRIORITY in
    __spark_entry__.py."""
    import __spark_entry__ as e

    attrs = [
        (int(m.group(1)), a)
        for a in dir(e)
        for m in [re.match(r"_R(\d+)_PRIORITY$", a)]
        if m
    ]
    if not attrs:
        raise AttributeError("no _R{N}_PRIORITY attribute found")
    rnd, name = max(attrs)
    return rnd, name, list(getattr(e, name))


def main() -> None:
    rnd, name, shipped = shipped_priority()
    order = generate(max_round=rnd - 1)
    if "--check" in sys.argv:
        if shipped != order:
            extra = [q for q in shipped if q not in order]
            missing = [q for q in order if q not in shipped]
            moved = [
                (i, a, b)
                for i, (a, b) in enumerate(zip(shipped, order))
                if a != b
            ][:5]
            print(
                f"ROTATION MISMATCH: {name} != generated ordering\n"
                f"  not in generated: {extra[:10]}\n"
                f"  missing from shipped: {missing[:10]}\n"
                f"  first diverging positions: {moved}"
            )
            sys.exit(1)
        print(f"ROTATION OK: {name} matches the generated ordering "
              f"({len(order)} queries)")
        return
    if "--literal" in sys.argv:
        latest = correctness_history(rnd - 1)
        print("[")
        prev = None
        for q in order:
            r = latest.get(q, 0)
            if r != prev:
                label = "never driver-checked" if r == 0 else f"latest driver row r{r}"
                print(f"    # ---- {label} ----")
                prev = r
            print(f'    "{q}",')
        print("]")
        return
    for q in order:
        print(q)


if __name__ == "__main__":
    main()
