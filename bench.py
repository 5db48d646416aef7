"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced to execute fully (count via a noop aggregation
on the result — not collect, so driver memory stays flat) and timed
wall-clock. First a warm-up pass primes the JVM/code-cache so the
numbers reflect steady-state executor throughput, which is what
matters at cluster scale.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dbt_eamples_spark.session import get_spark  # noqa: E402
from tools.treehash import engine_tree_hash as _engine_tree  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402

# Bench set derived from the registry (VERDICT r5 #2b): every
# queries() entry is measured unless listed in BENCH_EXCLUDE with a
# reason — a new operator can never ship unmeasured again. The
# historical HEADLINE list let six round-5 additions skip the bench.
BENCH_EXCLUDE: dict[str, str] = {
    # (empty) — every registry query is benched; add entries
    # here only with a documented reason (e.g. a query whose cost is
    # dominated by driver-side fixed overhead rather than plan work).
}


def _bench_names() -> list[str]:
    # FIXED alphabetical run order (VERDICT r6 #6): queries() follows
    # the driver-sample priority list, which used to be re-ordered
    # every round, so following it made each round's bench run a
    # DIFFERENT order — page-cache/JIT neighbors changed and
    # per-query deltas picked up ~1.2× run-order noise (the round-6
    # ANN/dedup "drift" profiled to exactly this: solo reruns matched
    # r1). Sorting pins the order so round-over-round deltas are
    # signal.
    qs = entrymod.queries()
    return sorted(n for n in qs if n not in BENCH_EXCLUDE)



def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    names = _bench_names()
    # informational subset runs (e.g. the sf1 sweep, VERDICT r7 #5):
    # SPARK_GRAFT_BENCH_ONLY=a,b,c restricts the set — and the run
    # then NEVER overwrites BENCH_LOCAL.json, which is the committed
    # full-registry evidence artifact
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        sel = {s.strip() for s in only.split(",") if s.strip()}
        unknown = sel - set(names)
        if unknown:
            raise SystemExit(f"BENCH_ONLY names not in bench set: {sorted(unknown)}")
        names = [n for n in names if n in sel]

    # warm-up: JVM JIT + parquet footer caches
    for n in names:
        qs[n](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # best-of-3 (VERDICT r3 #6): this VM's throughput drifts ±70%
    # run-to-run, which makes single-shot deltas meaningless; the
    # per-query MINIMUM over three timed passes is the noise-floor
    # estimator of the query's actual cost. Raw per-pass totals ship
    # alongside so a reader can see the ambient drift the minima
    # filtered out.
    timings: dict[str, float] = {}
    run_totals: list[float] = []
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    for _ in range(n_runs):
        run_total = 0.0
        for n in names:
            t0 = time.perf_counter()
            qs[n](spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = round(time.perf_counter() - t0, 4)
            run_total += dt
            timings[n] = min(timings.get(n, dt), dt)
        run_totals.append(round(run_total, 4))

    total = round(sum(timings.values()), 4)
    line = json.dumps(
        {
            "metric": "headline_total_sec",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            "protocol": f"per-query min over {n_runs} runs",
            "raw_run_totals_sec": run_totals,
            # evidence provenance (ADVICE r7 #5): the engine tree
            # these timings were taken on
            "engine_tree": _engine_tree(),
        }
    )
    # self-contained artifact: the driver's stdout capture truncates
    # long tails (the r4 JSON line got cut mid-object), so the same
    # JSON also lands in a file next to the script — full-registry
    # runs AT THE EVIDENCE SCALE only (a filtered subset must not
    # masquerade as the committed evidence, and neither may a
    # full-registry run at another SF_DIR: an sf0.01 smoke run
    # silently replaced the sf0.1 artifact in r11 and poisoned the
    # first generated BENCH_SF1 reference column)
    if not only and abs(sf - 0.1) < 1e-9:
        out = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_LOCAL.json")
        with open(out, "w") as fh:
            fh.write(line + "\n")
    print(line)


if __name__ == "__main__":
    main()
