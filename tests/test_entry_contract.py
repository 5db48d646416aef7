"""Driver-contract smoke tests: entry() yields rows with a stable
schema; every queries() entry runs at sf0.001 and its oracle (when
present) matches via the same compare the driver uses."""

from __future__ import annotations

import os
import re

import duckdb
import pytest

import __spark_entry__ as entrymod
from dbt_eamples_spark.catalog import TABLES, table_path
from tools.oracle_check import frame_sig


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert "revenue" in df.columns and "n_name" in df.columns


def test_oracle_keys_subset_of_queries():
    qs = entrymod.queries()
    extra = set(entrymod.oracle_sql()) - set(qs)
    assert not extra, f"oracle_sql keys without queries(): {extra}"


def test_every_query_is_documented_in_survey():
    """Every queries() name appears in backticks in SURVEY.md, the
    operator survey a reader checks the registry against."""
    path = os.path.join(os.path.dirname(entrymod.__file__), "SURVEY.md")
    with open(path) as fh:
        documented = set(re.findall(r"`([a-z0-9_]+)`", fh.read()))
    undocumented = sorted(set(entrymod.queries()) - documented)
    assert not undocumented, f"queries with no SURVEY.md row: {undocumented}"


def test_priority_is_a_permutation_of_the_registry():
    """The driver-sample order covers the whole registry exactly
    once, so queries() re-orders every query and drops none."""
    prio = entrymod._R15_PRIORITY
    assert len(prio) == len(set(prio))
    assert sorted(prio) == sorted(entrymod._query_registry())


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_matches_oracle(spark, sf_dir, duck, name):
    fn = entrymod.queries()[name]
    sdf = fn(spark, sf_dir).toPandas()
    oracle = entrymod.oracle_sql().get(name)
    if oracle is None:
        assert len(sdf) >= 0  # rows-only contract
        return
    odf = duck.execute(oracle).fetchdf()
    sn, scols, shash, _ = frame_sig(sdf)
    on, ocols, ohash, _ = frame_sig(odf)
    assert sn == on, f"rowcount spark={sn} duckdb={on}"
    assert scols == ocols, f"cols spark={scols} duckdb={ocols}"
    assert shash == ohash, "value hash mismatch"
