"""Output checks: registry queries against their DuckDB twins, ingest
batches against independent counts, and counts that must repeat.

A query's Spark result is compared by ``tools.oracle_check.frame_sig``
(row count, sorted column names, order-insensitive value hash) with
the result of its ``__spark_entry__.oracle_sql()`` twin in DuckDB.
Every run executes the twins live in DuckDB over the run's tables.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np


def _frame_sig():
    # oracle_check prepends a fixed checkout path to sys.path on import;
    # undo that so later imports resolve to this checkout only
    saved = list(sys.path)
    from tools.oracle_check import frame_sig

    sys.path[:] = saved
    return frame_sig


def signature(pdf) -> list:
    rows, cols, digest, _ = _frame_sig()(pdf)
    return [rows, cols, digest]


def duckdb_signatures(sf_dir: str, names: list[str]) -> dict[str, list]:
    """Run the DuckDB twin of each query over the tables in ``sf_dir``."""
    import duckdb

    import __spark_entry__ as entry
    from dbt_eamples_spark.catalog import TABLES, table_path

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
            )
        return {n: signature(con.execute(oracles[n]).fetchdf()) for n in names}
    finally:
        con.close()


def vector_pair_bound(base: np.ndarray, batch: np.ndarray, threshold: float) -> int:
    """Exact number of (batch, base) pairs with cosine >= threshold — an
    upper bound on the pairs an LSH probe can report."""
    if len(base) == 0:
        return 0
    return int(((batch @ base.T) >= threshold - 1e-9).sum())


class Records:
    """Counts that must repeat exactly for a seed, kept across runs in
    the checkout; a value that differs from an earlier run of the same
    seed, scale and engine tree is reported as drift."""

    def __init__(self, path: str, key: dict) -> None:
        self.path = path
        self.key = key
        self.counts: dict[str, object] = {}
        self.drift: list[str] = []

    def note(self, name: str, value) -> None:
        if name in self.counts and self.counts[name] != value:
            self.drift.append(f"{name}: {self.counts[name]} then {value} in one run")
        self.counts.setdefault(name, value)

    def compare_and_save(self) -> list[str]:
        earlier = {}
        if os.path.exists(self.path):
            with open(self.path) as fh:
                saved = json.load(fh)
            if saved.get("key") == self.key:
                earlier = saved["counts"]
        for name, value in self.counts.items():
            if name in earlier and earlier[name] != value:
                self.drift.append(f"{name}: {earlier[name]} in an earlier run, now {value}")
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        with open(self.path, "w") as fh:
            json.dump({"key": self.key, "counts": {**earlier, **self.counts}}, fh, sort_keys=True)
        return self.drift
