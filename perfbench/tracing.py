"""Spans and counters recorded from outside the engine.

The tracer wraps public engine functions (``session.get_spark``,
``catalog.load_table``, the ``plans.compiler`` entry points, the
``artifacts`` store and the ``streaming.ingest`` loop) for the length
of a traced run, counts py4j round-trips at the gateway client, and
reads jobs, stages and task metrics of each operation phase from
Spark's status store. Spans stay in memory with parent ids and are
written once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import sys
import time
from collections import defaultdict

from pyspark import SparkContext

# (module, attribute, span name) of every wrapped engine function
WRAPPED = [
    ("dbt_eamples_spark.session", "get_spark", "session.get_spark"),
    ("dbt_eamples_spark.catalog", "load_table", "catalog.load_table"),
    ("dbt_eamples_spark.plans.compiler", "compile_request", "plans.compile"),
    ("dbt_eamples_spark.plans.compiler", "compile_dimension_sweep", "plans.compile"),
    ("dbt_eamples_spark.plans.compiler", "execute", "plans.execute"),
    ("dbt_eamples_spark.artifacts", "load_or_build", "artifacts.load_or_build"),
    ("dbt_eamples_spark.artifacts", "load_or_build_bucketed", "artifacts.load_or_build"),
    ("dbt_eamples_spark.streaming.ingest", "plan_document_artifact_deltas", "ingest.plan_deltas"),
    ("dbt_eamples_spark.streaming.ingest", "plan_embedding_artifact_deltas", "ingest.plan_deltas"),
    ("dbt_eamples_spark.streaming.ingest", "publish_artifacts", "ingest.publish"),
    ("dbt_eamples_spark.streaming.ingest", "ingest_embeddings_batch", "ingest.embeddings_batch"),
]

# status-store stage fields summed per phase: (attr name, StageData getter, scale)
STAGE_FIELDS = [
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
    ("input_bytes", "inputBytes", 1),
]

CATALYST_PHASES = ("analysis", "optimization", "planning")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
    )


class Tracer:
    """In-memory span recorder; ``install`` wraps, ``restore`` unwraps."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []
        self._client = None
        self.op: str | None = None
        self.py4j_calls = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def _wrapper(self, fn, name: str):
        if name == "artifacts.load_or_build":
            return self._artifact_wrapper(fn)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def _artifact_wrapper(self, fn):
        from dbt_eamples_spark import artifacts

        @functools.wraps(fn)
        def traced(spark, kind, fingerprint, *args, **kwargs):
            n0 = len(artifacts.ARTIFACT_EVENTS)
            with self.span("artifacts.load_or_build", kind=kind) as rec:
                out = fn(spark, kind, fingerprint, *args, **kwargs)
            mine = [e for e in artifacts.ARTIFACT_EVENTS[n0:] if e[0] == kind]
            rec["outcome"] = mine[-1][1] if mine else "reuse"
            if rec["outcome"] == "build":
                rec["bytes"] = _dir_bytes(artifacts.artifact_path(kind, fingerprint))
            return out

        return traced

    def install(self) -> None:
        """Wrap every function in ``WRAPPED``, including the names other
        engine modules bound with ``from … import``."""
        for mod_name, _, _ in WRAPPED:
            importlib.import_module(mod_name)
        engine = [
            m
            for n, m in list(sys.modules.items())
            if m is not None
            and (n == "__spark_entry__" or n.startswith("dbt_eamples_spark"))
        ]
        for mod_name, attr, name in WRAPPED:
            orig = getattr(sys.modules[mod_name], attr)
            wrapped = self._wrapper(orig, name)
            for mod in engine:
                for key, val in list(vars(mod).items()):
                    if val is orig:
                        self._patches.append((mod, key, orig))
                        setattr(mod, key, wrapped)

    def count_py4j(self) -> None:
        """Count every command sent through the py4j gateway client."""
        client = SparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counted
        self._client = client

    def restore(self) -> None:
        for mod, key, orig in reversed(self._patches):
            setattr(mod, key, orig)
        self._patches.clear()
        if self._client is not None:
            del self._client.send_command
            self._client = None

    def is_installed(self) -> bool:
        return bool(self._patches)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def phase_stats(sc, group: str) -> dict:
    """Jobs, completed stages and summed task metrics of one job group."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0, **{f: 0 for f, _, _ in STAGE_FIELDS}}
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            for field, getter, scale in STAGE_FIELDS:
                out[field] += getattr(sd, getter)() * scale
    return out


def catalyst_phases(df) -> dict:
    """Catalyst phase durations (s) for ``df``'s logical plan, taken on a
    fresh query execution: the tracker of one that already ran reports
    a phase measured twice as one interval spanning both."""
    jvm = df.sparkSession._jvm
    fresh = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        df.sparkSession._jsparkSession, df._jdf.queryExecution().logical()
    )
    qe = fresh.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in CATALYST_PHASES:
        summary = phases.get(phase)
        out[phase] = summary.get().durationMs() / 1e3 if summary.isDefined() else 0.0
    return out


def drain_listener_bus(sc) -> None:
    """Wait until the status store has seen every finished job."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the time its direct children cover."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in spans}
