"""The session factory makes the engine importable for its own Python
workers, wherever it is checked out and whatever the caller's cwd."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# a driver that finds the package through its own sys.path only; the
# query's mapInPandas stage pickles an engine function by reference,
# so each worker has to import dbt_eamples_spark itself
DRIVER = """
import sys
sys.path.insert(0, {repo!r})
from dbt_eamples_spark.operators.multimodal import multimodal_features_flat
from dbt_eamples_spark.session import get_spark
rows = multimodal_features_flat(get_spark("udf-workers"), {sf_dir!r}).collect()
print("ROWS", len(rows))
"""


def test_udf_workers_import_engine_without_pythonpath(tmp_path, sf_dir):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    r = subprocess.run(
        [sys.executable, "-c", DRIVER.format(repo=REPO, sf_dir=sf_dir)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "ROWS " in r.stdout and "ROWS 0" not in r.stdout, r.stdout
