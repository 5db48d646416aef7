"""Interleaved fresh-JVM A/B of one query under two values of an
environment variable.

For one query it alternates fresh-JVM solo children (warm-up +
best-of-3, noop sink) between the two values, A,B,A,B,... so both
variants sample the same minutes of machine state, and reports the
per-variant MIN across spawns (the bench.py min-of-3 philosophy
applied across JVMs).

The engine keeps one kernel per operator, so comparing two kernels
means comparing two trees: check the other one out with
``git worktree add``, and alternate ``tools/ab_kernel.py --one`` runs
between the two checkouts the same way.

Usage:
  python tools/ab_kernel.py QUERY ENVVAR VALUE_A VALUE_B [--reps N]
  python tools/ab_kernel.py --one QUERY SF_DIR  # one solo child
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_one(name: str, sf_dir: str) -> None:
    """Child mode: fresh session, warm-up + best-of-3, one
    ``SOLO_RESULT`` JSON line."""
    sys.path.insert(0, REPO)
    from dbt_eamples_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark(f"bench-solo-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    q = entrymod.queries()[name]
    q(spark, sf_dir).write.format("noop").mode("overwrite").save()
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        q(spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    print("SOLO_RESULT " + json.dumps({name: round(best, 4)}))


def solo_child(name: str, sf_dir: str, env_extra: dict) -> float:
    env = dict(os.environ)
    env.update(env_extra)
    r = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--one", name, sf_dir],
        capture_output=True, text=True, cwd=REPO, env=env,
    )
    line = next(
        (ln for ln in r.stdout.splitlines()
         if ln.startswith("SOLO_RESULT ")),
        None,
    )
    if line is None:
        print(f"ab_kernel: {name} {env_extra} FAILED:\n{r.stderr[-3000:]}",
              file=sys.stderr)
        sys.exit(1)
    return json.loads(line[len("SOLO_RESULT "):])[name]


def main() -> None:
    argv = list(sys.argv[1:])
    if argv[:1] == ["--one"]:
        run_one(*argv[1:])
        return
    reps = 3
    if "--reps" in argv:
        i = argv.index("--reps")
        reps = int(argv[i + 1])
        del argv[i:i + 2]
    query, envvar, va, vb = argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    times: dict[str, list[float]] = {va: [], vb: []}
    for rep in range(reps):
        for val in (va, vb):
            t = solo_child(query, sf_dir, {envvar: val})
            times[val].append(t)
            print(f"rep {rep} {envvar}={val}: {t} s", flush=True)
    out = {
        "query": query,
        "envvar": envvar,
        "sf_dir": sf_dir,
        "reps": reps,
        "times": times,
        "min": {v: min(ts) for v, ts in times.items()},
    }
    print("AB_RESULT " + json.dumps(out))


if __name__ == "__main__":
    main()
