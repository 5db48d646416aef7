"""Benchmark of the spark-graft engine at local[nproc].

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (see ``workloads.py``) as a closed loop with one
client, checks its outputs, and prints as the last line of stdout one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its
per-layer metrics with ``--trace 1``. The line before it is a JSON
report with provenance, set-up parts, failures and drifting counts.

Everything the run writes stays under ``.perfbench/`` at the root of
the checkout: Spark local dirs, warehouse and the ingest corpus and its
artifact store per run (deleted at exit); the query workloads' tables
and artifact store, span files and repeat-count records across runs.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
ENGINE_FILES = ("dbt_eamples_spark/__init__.py", "__spark_entry__.py", "tools/oracle_check.py")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["metric_queries", "curation_queries", "ingest_batches"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--sf", type=float, default=0.1, help="table scale factor of the query workloads (0.001 or 0.1)")
    return p.parse_args(argv)


def configure_env(work: str) -> None:
    """Keep every file Spark, the engine and the Python workers write
    inside ``work``; run at the core count of the machine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_ARTIFACTS"] = os.path.join(work, "artifacts")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # Python UDF workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            "--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options", shlex.quote(java_opts),
            "pyspark-shell",
        ]
    )


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def stop_spark() -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def percentile_report(values: list[float]) -> dict:
    """Median and p90 with the sample count; p90 only when at least ten
    samples lie beyond it."""
    out = {"samples": len(values), "p50_s": statistics.median(values)}
    if len(values) >= 100:
        out["p90_s"] = statistics.quantiles(values, n=10)[-1]
    return out


def retained_heap_mb(spark) -> float:
    """JVM heap still in use after a full collection: what the session
    keeps (persisted frames, session caches, broadcasts)."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    runtime = jvm.java.lang.Runtime.getRuntime()
    return (runtime.totalMemory() - runtime.freeMemory()) / 2**20


def end_to_end(ctx) -> dict:
    return {
        "setup_s": {"value": ctx.setup_parts["session_s"] + ctx.setup_parts["prep_s"], "unit": "s"},
        "latency_p50_s": {"value": statistics.median(ctx.latencies), "unit": "s"},
        "throughput_ops_per_s": {"value": len(ctx.latencies) / ctx.timed_elapsed, "unit": "1/s"},
    }


def per_layer(ctx, tracer) -> dict:
    import tracing
    from workloads import OPERATOR_MODULES

    ops = set(ctx.traced_ops)
    n = max(len(ops), 1)
    spans = [s for s in tracer.spans if s["op"] in ops]
    self_s = tracing.self_times(spans)

    def dur(s):
        return s["end"] - s["start"]

    def named(name):
        return [s for s in spans if s["name"] == name]

    def total(name, key=None):
        return sum((s.get(key, 0) or 0) if key else dur(s) for s in named(name))

    arts = named("artifacts.load_or_build")
    builds = [s for s in arts if s["outcome"] == "build"]
    reuse = sum(s["outcome"] == "reuse" for s in arts)
    op_spans = named("op")
    phases = named("query.construct") + named("query.action")
    m = {
        "session.get_spark_s": (sum(dur(s) for s in tracer.spans if s["name"] == "session.get_spark"), "s"),
        "catalog.load_table.calls": (len(named("catalog.load_table")) / n, "count"),
        "catalog.load_table_s": (total("catalog.load_table") / n, "s"),
        "plans.compile.calls": (len(named("plans.compile")) / n, "count"),
        "plans.compile_s": (total("plans.compile") / n, "s"),
        "plans.execute_s": (total("plans.execute") / n, "s"),
    }
    for phase in tracing.CATALYST_PHASES:
        m[f"catalyst.{phase}_s"] = (sum(s.get("catalyst", {}).get(phase, 0.0) for s in op_spans) / n, "s")
    m["query.construct_s"] = (total("query.construct") / n, "s")
    m["query.construct_jobs"] = (total("query.construct", "jobs") / n, "count")
    m["query.construct_py4j_calls"] = (total("query.construct", "py4j_calls") / n, "count")
    m["query.action_s"] = (total("query.action") / n, "s")
    for key in ("jobs", "stages", "tasks"):
        m[f"query.action_{key}"] = (total("query.action", key) / n, "count")
    for field, _, _ in tracing.STAGE_FIELDS:
        unit = "bytes" if field.endswith("bytes") else "s"
        m[f"spark.{field}"] = (sum(s.get(field, 0) for s in phases) / n, unit)
    for mod in OPERATOR_MODULES:
        mine = [s for s in named("query.construct") if s["module"] == mod]
        m[f"operators.{mod}.self_s"] = (sum(self_s[s["id"]] for s in mine) / n, "s")
    m["artifacts.calls"] = (len(arts) / n, "count")
    m["artifacts.reuse"] = (reuse / n, "count")
    m["artifacts.build"] = (len(builds) / n, "count")
    m["artifacts.reuse_ratio"] = (reuse / len(arts) if arts else 0.0, "ratio")
    m["artifacts.build_s"] = (sum(dur(s) for s in builds) / n, "s")
    m["artifacts.store_bytes_written"] = (sum(s["bytes"] for s in builds) / n, "bytes")
    m["ingest.plan_deltas_s"] = (total("ingest.plan_deltas") / n, "s")
    m["ingest.publish_s"] = (total("ingest.publish") / n, "s")
    m["ingest.embeddings_batch_s"] = (total("ingest.embeddings_batch") / n, "s")
    reports = [s["report"] for s in op_spans if "report" in s]
    for key in ("rows_appended", "near_dup_pairs", "ivf_retrained"):
        m[f"ingest.{key}"] = (sum(int(r[key] or 0) for r in reports) / n, "count")
    overhead = statistics.mean(ctx.traced_latencies) - statistics.mean(ctx.latencies)
    m["trace.overhead_s"] = (overhead, "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def run(args, work: str) -> tuple[dict, dict]:
    sys.path.insert(0, ROOT)
    import checks
    import datagen
    import tracing
    import workloads
    from tools.treehash import engine_tree_hash

    # tables are kept across runs; a change to datagen.py writes new ones
    with open(datagen.__file__, "rb") as fh:
        tables_tag = hashlib.sha256(fh.read()).hexdigest()[:12]
    sf_dir = os.path.join(STATE, "data", f"sf{args.sf}-{tables_tag}")
    tracer = tracing.Tracer() if args.trace else None
    tree = engine_tree_hash()
    nproc = len(os.sched_getaffinity(0))
    records = checks.Records(
        os.path.join(STATE, "records", f"{args.workload}-sf{args.sf}-seed{args.seed}.json"),
        {"engine_tree": tree, "nproc": nproc},
    )
    ctx = workloads.Context(args, sf_dir, work, STATE, tracer, records)
    workload = workloads.WORKLOADS[args.workload]()
    try:
        workload.run(ctx)
        spark = ctx.spark
        java = spark.sparkContext._jvm.System.getProperty("java.version")
        jvm_pid = spark.sparkContext._gateway.proc.pid
        peak_kb = vm_hwm_kb("self") + vm_hwm_kb(jvm_pid)
        heap_mb = retained_heap_mb(spark)
        spark_version = spark.version
    finally:
        if tracer is not None:
            tracer.restore()
        stop_spark()
    drift = records.compare_and_save()
    if tracer is not None:
        tracer.write(os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.json"))
    metrics = per_layer(ctx, tracer) if tracer is not None else end_to_end(ctx)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": args.sf,
        "nproc": nproc,
        "spark": spark_version,
        "java": java,
        "engine_tree": tree,
        "setup_parts_s": ctx.setup_parts,
        "prep_query_s": ctx.prep_query_s,
        "latency": percentile_report(ctx.latencies),
        "steps_s": ctx.steps_s,
        "query_p50_s": {k: statistics.median(v) for k, v in ctx.op_latencies.items()},
        "rows_per_s": ctx.rows / ctx.timed_elapsed,
        "peak_rss_mb": peak_kb / 1024,
        "retained_heap_mb": heap_mb,
        "failed_frac": ctx.failed / ctx.attempted,
        "failures": ctx.failures,
        "drift": drift,
        "wrappers_restored": tracer is None or not tracer.is_installed(),
    }
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }
    return report, result


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [f for f in ENGINE_FILES if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: engine not found next to {HERE}: missing {missing}", file=sys.stderr)
        return 2
    work = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)
    t0 = time.perf_counter()
    try:
        report, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report["wall_s"] = time.perf_counter() - t0
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
