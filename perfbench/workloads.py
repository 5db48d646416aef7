"""The benchmark's workloads: one client in a closed loop, each
operation starting when the previous one returned.

``metric_queries`` and ``curation_queries`` run a fixed set of registry
queries in one seeded order, pass after pass; one operation is one
builder call plus a ``noop`` write. ``ingest_batches`` runs the
embeddings micro-batch ingest loop with every artifact maintained; one
operation is one batch.
"""

from __future__ import annotations

import os
import time
import traceback

import numpy as np
import pyarrow.parquet as pq

import datagen
import checks
import tracing

# Both query sets hold an odd number of queries, so that the median
# latency of a pass is the median query's own latency instead of
# jumping between its two neighbours.

# Both sets are kept to seven queries because every run executes each
# query once in set-up before it times two passes, and the 70 runs of
# the benchmark must fit in 57 minutes.

# Semantic-layer and relational queries: compiled metric requests (one
# of them a dimension sweep), a relational metric rollup, TPC-H shapes,
# and join and window primitives. Small outputs; none touches artifacts
# or session caches, so a cache or kernel change should leave this
# workload unchanged.
METRIC_QUERIES = [
    "metric_compiled_star",
    "metric_compiled_dim_sweep",
    "metric_rollup",
    "revenue_change_forecast",  # TPC-H Q6
    "lineitem_disjunctive_scan",  # TPC-H Q19
    "join_star_3way",
    "window_topk_per_group",
]

# One or two queries of each of operators.dedup, similarity, text, graph
# and multimodal. dedup_minhash runs six eager jobs in construction;
# the graph query reads the shared graph artifact. dedup_clusters (11
# eager jobs) is left out: its first execution alone took 10-12 s of
# set-up and a pass 2.5-4 s on a 4-core machine.
CURATION_QUERIES = [
    "dedup_minhash",
    "similarity_topk",
    "embedding_norm_stats",
    "text_token_stats",
    "text_quality_score",
    "graph_degree_powerlaw",
    "multimodal_meta",
]

# vectors in the base corpus ingest starts from, at every scale: the
# size of the fixture embeddings table. The founding batch is fixed
# cost: about 35 s on a 4-core machine from 200 or 500 vectors alike.
BASE_VECTORS = 500
# vectors per ingest micro-batch
BATCH_VECTORS = 100
# batches generated per run: the founding batch plus the timed ones
MAX_BATCHES = 16

OPERATOR_MODULES = ["dedup", "graph", "multimodal", "relational", "similarity", "text"]


def seeded_order(names: list[str], seed: int) -> list[str]:
    """The seed picks where the fixed cyclic order starts, so every
    query keeps its predecessor whatever the seed. Shuffled orders made
    the median latency of one workload range over 0.34-0.53 s across
    five seeds, while repeat runs of one seed stayed within 0.36-0.38 s."""
    k = seed % len(names)
    return names[k:] + names[:k]


def closed_loop(seconds: float, step, min_steps: int = 1) -> tuple[list[float], float]:
    """Call ``step(i)`` while less than ``seconds`` have passed; the last
    step runs to its end. Returns (step durations, elapsed seconds)."""
    t0 = time.perf_counter()
    durations: list[float] = []
    while len(durations) < min_steps or time.perf_counter() - t0 < seconds:
        s0 = time.perf_counter()
        step(len(durations))
        durations.append(time.perf_counter() - s0)
    return durations, time.perf_counter() - t0


class Context:
    """What a workload needs from the run: the session, the tables,
    the tracer, and where it records operations."""

    def __init__(self, args, sf_dir: str, work: str, state: str, tracer: tracing.Tracer | None, records) -> None:
        self.args = args
        self.sf_dir = sf_dir
        self.work = work
        self.state = state  # kept across runs in the checkout
        self.tracer = tracer
        self.records = records
        self.spark = None
        self.latencies: list[float] = []  # untraced timed operations
        self.traced_latencies: list[float] = []
        self.traced_ops: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        # session_s and prep_s make setup_s; the rest is reported only
        self.setup_parts: dict[str, float] = {}
        self.prep_query_s: dict[str, float] = {}
        self.timed_elapsed = 0.0
        self.steps_s: list[float] = []
        self.op_latencies: dict[str, list[float]] = {}
        self.rows = 0

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    def start_session(self):
        from dbt_eamples_spark import session

        t0 = time.perf_counter()
        if self.tracer is not None:
            self.tracer.op = "setup"
            self.tracer.install()
        try:
            self.spark = session.get_spark("perfbench")
        finally:
            if self.tracer is not None:
                self.tracer.restore()
        self.setup_parts["session_s"] = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def timed(self, step_untraced, step_traced, min_steps: int) -> None:
        """The measured loop. Untraced: steps for ``--seconds`` and at
        least ``min_steps``. Traced: untraced and traced steps alternate
        for twice as long and at least ``min_steps`` of each, so that
        tracing overhead is measured in the same run."""
        seconds = self.args.seconds
        if self.tracer is None:
            self.steps_s, self.timed_elapsed = closed_loop(seconds, step_untraced, min_steps)
            return

        def step(i: int) -> None:
            (step_traced if i % 2 else step_untraced)(i)

        self.steps_s, self.timed_elapsed = closed_loop(2 * seconds, step, 2 * min_steps)

    def traced(self, op_id: str, fn):
        """Run ``fn`` with the tracer's wrappers installed; returns its
        result and the operation's latency."""
        tr = self.tracer
        tr.op = op_id
        t0 = time.perf_counter()
        tr.install()
        tr.count_py4j()
        try:
            out = fn()
        finally:
            tr.restore()
            tr.op = None
        return out, time.perf_counter() - t0


class QueryWorkload:
    # Passes timed at the least. A single pass left the median latency
    # to one execution of one query, whose latency moved by 20-30 %
    # from run to run on a 4-core machine. A third pass would not fit
    # the benchmark's time budget.
    MIN_PASSES = 2

    def __init__(self, names: list[str]) -> None:
        self.names = names

    def run(self, ctx: Context) -> None:
        import __spark_entry__ as entry

        # The tables and the artifact store persist in the checkout, so
        # only the first run of a checkout builds the artifacts; the first
        # executions of later runs read them, as a new session over a
        # standing corpus does. Artifact builds are timed on ingest_batches.
        datagen.write_tables(ctx.sf_dir, ctx.args.sf, datagen.DATA_SEED)
        os.environ["SPARK_GRAFT_ARTIFACTS"] = os.path.join(ctx.state, "artifacts")
        spark = ctx.start_session()
        builders = entry.queries()
        order = seeded_order(self.names, ctx.args.seed)
        got: dict[str, list | None] = {}
        for name in order:
            # first execution of each query: warm-up, collected for the check
            ctx.attempted += 1
            t0 = time.perf_counter()
            try:
                pdf = builders[name](spark, ctx.sf_dir).toPandas()
            except Exception:
                traceback.print_exc()
                got[name] = None
                continue
            finally:
                ctx.prep_query_s[name] = time.perf_counter() - t0
            got[name] = checks.signature(pdf)
        ctx.setup_parts["prep_s"] = sum(ctx.prep_query_s.values())
        rows = {n: (got[n] or [0])[0] for n in order}

        def untraced(i: int) -> None:
            for name in order:
                ctx.attempted += 1
                t0 = time.perf_counter()
                try:
                    builders[name](spark, ctx.sf_dir).write.format("noop").mode("overwrite").save()
                except Exception:
                    traceback.print_exc()
                    ctx.fail(f"{name}: raised in pass {i}")
                    continue
                ctx.latencies.append(time.perf_counter() - t0)
                ctx.op_latencies.setdefault(name, []).append(ctx.latencies[-1])
                ctx.rows += rows[name]

        def traced(i: int) -> None:
            for name in order:
                ctx.attempted += 1
                op_id = f"{name}#{i}"
                try:
                    _, latency = ctx.traced(op_id, lambda: self._traced_query(ctx, builders[name], name, op_id))
                except Exception:
                    traceback.print_exc()
                    ctx.fail(f"{name}: raised in traced pass {i}")
                    continue
                ctx.traced_latencies.append(latency)
                ctx.traced_ops.append(op_id)

        ctx.timed(untraced, traced, self.MIN_PASSES)

        # after the timed loop, so that DuckDB's threads do not disturb it
        t0 = time.perf_counter()
        want = checks.duckdb_signatures(ctx.sf_dir, order)
        ctx.setup_parts["check_s"] = time.perf_counter() - t0
        for name in order:
            if got[name] != want[name]:
                ctx.fail(f"{name}: spark {got[name]} != duckdb {want[name]}")

    @staticmethod
    def _traced_query(ctx: Context, builder, name: str, op_id: str) -> None:
        tr, spark = ctx.tracer, ctx.spark
        sc = spark.sparkContext
        with tr.span("op", query=name) as op:
            sc.setJobGroup(f"{op_id}/construct", name)
            calls0 = tr.py4j_calls
            module = builder.__module__.rsplit(".", 1)[-1]
            with tr.span("query.construct", module=module) as construct:
                df = builder(spark, ctx.sf_dir)
            construct["py4j_calls"] = tr.py4j_calls - calls0
            sc.setJobGroup(f"{op_id}/action", name)
            with tr.span("query.action") as action:
                df.write.format("noop").mode("overwrite").save()
            sc.setLocalProperty("spark.jobGroup.id", None)
            tracing.drain_listener_bus(sc)
            construct.update(tracing.phase_stats(sc, f"{op_id}/construct"))
            action.update(tracing.phase_stats(sc, f"{op_id}/action"))
            op["catalyst"] = tracing.catalyst_phases(df)
        arts = [s for s in tr.spans if s["op"] == op_id and s["name"] == "artifacts.load_or_build"]
        ctx.records.note(f"{name}.construct_jobs", construct["jobs"])
        ctx.records.note(f"{name}.action_jobs", action["jobs"])
        ctx.records.note(f"{name}.action_stages", action["stages"])
        ctx.records.note(f"{name}.artifact_builds", sum(s["outcome"] == "build" for s in arts))
        ctx.records.note(f"{name}.artifact_reuses", sum(s["outcome"] == "reuse" for s in arts))


class IngestWorkload:
    """Embeddings micro-batches appended to a fresh base corpus of
    ``BASE_VECTORS`` vectors, every embedding artifact delta-maintained
    and published. ``--sf`` does not apply."""

    def run(self, ctx: Context) -> None:
        from dbt_eamples_spark.catalog import table_path
        from dbt_eamples_spark.operators.dedup import COSINE_NEAR_DUP, INCR_MOD
        from dbt_eamples_spark.streaming import ingest

        corpus = os.path.join(ctx.work, "corpus")
        os.makedirs(table_path(corpus, "embeddings"))
        base = datagen.embeddings(np.random.default_rng(datagen.DATA_SEED), BASE_VECTORS)
        pq.write_table(base, os.path.join(table_path(corpus, "embeddings"), "part-00000.parquet"))
        rng = np.random.default_rng(ctx.args.seed)
        first = int(base.column("vec_id").to_numpy().max()) + 1
        batch_dir = os.path.join(ctx.work, "batches")
        os.makedirs(batch_dir)
        batches = []
        for b in range(MAX_BATCHES):
            tbl = datagen.embeddings(rng, BATCH_VECTORS, first + b * BATCH_VECTORS)
            path = os.path.join(batch_dir, f"batch-{b:03d}.parquet")
            pq.write_table(tbl, path)
            batches.append((path, tbl))

        def vectors(tbl, indexed_only: bool) -> np.ndarray:
            ids = tbl.column("vec_id").to_numpy()
            vecs = np.stack(tbl.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
            # the persisted index leaves out ids % INCR_MOD == 0
            return vecs[ids % INCR_MOD != 0] if indexed_only else vecs

        indexed = [vectors(base, True)]
        spark = ctx.start_session()

        def one_batch(b: int, label: str) -> dict:
            path, tbl = batches[b]
            report = ingest.ingest_embeddings_batch(
                spark, spark.read.parquet(path), corpus, maintain_artifacts=True
            )
            # independent checks: every vector is new, and verified pairs
            # cannot outnumber the exact pairs above the threshold
            bound = checks.vector_pair_bound(
                np.concatenate(indexed), vectors(tbl, False), COSINE_NEAR_DUP
            )
            if report["rows_appended"] != BATCH_VECTORS:
                ctx.fail(f"{label}: rows_appended {report['rows_appended']} != {BATCH_VECTORS}")
            if not 0 <= report["near_dup_pairs"] <= bound:
                ctx.fail(f"{label}: near_dup_pairs {report['near_dup_pairs']} outside [0, {bound}]")
            indexed.append(vectors(tbl, True))
            for key in ("rows_appended", "near_dup_pairs", "within_batch_pairs", "ivf_retrained"):
                ctx.records.note(f"batch{b}.{key}", report.get(key))
            return report

        ctx.attempted += 1
        t1 = time.perf_counter()
        one_batch(0, "founding batch")
        ctx.setup_parts["prep_s"] = time.perf_counter() - t1

        def take(i: int) -> int:
            """Step i ingests batch i + 1; batch 0 founded the corpus."""
            if i + 1 >= MAX_BATCHES:
                raise RuntimeError(f"more than {MAX_BATCHES - 1} timed batches; raise MAX_BATCHES")
            return i + 1

        def untraced(i: int) -> None:
            b = take(i)
            ctx.attempted += 1
            s0 = time.perf_counter()
            try:
                one_batch(b, f"batch {b}")
            except Exception:
                traceback.print_exc()
                ctx.fail(f"batch {b}: raised")
                return
            ctx.latencies.append(time.perf_counter() - s0)
            ctx.rows += BATCH_VECTORS

        def traced(i: int) -> None:
            b = take(i)
            ctx.attempted += 1
            op_id = f"batch#{b}"

            def run_batch():
                sc = spark.sparkContext
                with ctx.tracer.span("op", batch=b) as op:
                    sc.setJobGroup(f"{op_id}/action", "ingest")
                    with ctx.tracer.span("query.action") as action:
                        report = one_batch(b, f"batch {b}")
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    tracing.drain_listener_bus(sc)
                    action.update(tracing.phase_stats(sc, f"{op_id}/action"))
                    op["report"] = {k: report.get(k) for k in ("rows_appended", "near_dup_pairs", "ivf_retrained")}

            try:
                _, latency = ctx.traced(op_id, run_batch)
            except Exception:
                traceback.print_exc()
                ctx.fail(f"batch {b}: raised in traced step")
                return
            ctx.traced_latencies.append(latency)
            ctx.traced_ops.append(op_id)

        ctx.timed(untraced, traced, min_steps=1)


WORKLOADS = {
    "metric_queries": lambda: QueryWorkload(METRIC_QUERIES),
    "curation_queries": lambda: QueryWorkload(CURATION_QUERIES),
    "ingest_batches": IngestWorkload,
}
