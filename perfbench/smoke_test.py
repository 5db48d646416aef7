"""Smoke test of the benchmark at sf0.001: each workload runs one short
pass untraced and traced, prints every metric ``BENCHMARK.json`` names
with its unit, and fails no operation.

    python3 -m pytest perfbench/smoke_test.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_smoke(workload: str, trace: int) -> None:
    proc = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
                "--trace", str(trace), "--sf", "0.001")
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    report, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["failed"] == 0 and result["correct"], report["failures"]
    assert report["failed_frac"] == 0
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    assert report["wrappers_restored"]


def test_tracer_restores_every_wrapped_function() -> None:
    sys.path.insert(0, ROOT)
    import importlib

    import tracing

    originals = {}
    for mod_name, attr, _ in tracing.WRAPPED:
        originals[(mod_name, attr)] = getattr(importlib.import_module(mod_name), attr)
    import __spark_entry__ as entry

    tracer = tracing.Tracer()
    tracer.install()
    assert entry.load_table is not originals[("dbt_eamples_spark.catalog", "load_table")]
    tracer.restore()
    for (mod_name, attr), fn in originals.items():
        assert getattr(sys.modules[mod_name], attr) is fn
    assert entry.load_table is originals[("dbt_eamples_spark.catalog", "load_table")]
    assert entry.execute_metric is originals[("dbt_eamples_spark.plans.compiler", "execute")]


def test_fails_without_the_engine() -> None:
    with tempfile.TemporaryDirectory() as tmp:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
        shutil.copytree(HERE, os.path.join(tmp, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run(tmp, "--workload", "metric_queries", "--seed", "1",
                    "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert proc.stdout == ""
