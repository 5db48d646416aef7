"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry in Spark and its ``oracle_sql()`` in
DuckDB at a given sf dir, then compares: row count, sorted column
names, and an order-insensitive value hash that is AT LEAST as
strict as the driver's: raw-value repr with NO integral-float
coercion and NO rounding (a float64 ``171395455.0`` vs an int64
``171395455`` is a FAIL here, exactly as the driver scores it —
the round-3 abc_pareto_class miss), plus an explicit per-column
pandas-dtype cross-check so int64-vs-float64 drift is named even
when the values agree.

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dbt_eamples_spark.session import get_spark  # noqa: E402
from dbt_eamples_spark.catalog import TABLES, table_path  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402


def canon_cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<NULL>"
    if isinstance(v, float):
        # Strict: full-precision repr, no coercion. Bit-identical
        # doubles match; a float where the twin has an int does not.
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def dtype_mismatches(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    """int-kind vs float-kind drift on a shared column — the class of
    mismatch the driver's value hash punishes (``5`` vs ``5.0``) even
    when magnitudes agree. Width-only drift (int32 vs int64) is
    invisible to the driver's repr and is not flagged."""
    out = []
    for c in sorted(set(sdf.columns) & set(odf.columns)):
        sk, ok = sdf[c].dtype.kind, odf[c].dtype.kind
        if {sk, ok} <= {"i", "u", "f"} and ("f" in (sk, ok)) and sk != ok:
            out.append(f"{c}: spark={sdf[c].dtype} duckdb={odf[c].dtype}")
    return out


def frame_sig(pdf: pd.DataFrame) -> tuple[int, list[str], str, list[str]]:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = sorted(
        "\x01".join(canon_cell(v) for v in row) for row in pdf.itertuples(index=False)
    )
    h = hashlib.sha256("\x02".join(rows).encode()).hexdigest()[:16]
    return len(pdf), cols, h, rows


def run(sf_dir: str, only: list[str]) -> int:
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc()
            failures += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only: {len(sdf)} rows)")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"FAIL {name}: duckdb error")
            traceback.print_exc()
            failures += 1
            continue
        sn, scols, shash, srows = frame_sig(sdf)
        on, ocols, ohash, orows = frame_sig(odf)
        if sn != on:
            print(f"FAIL {name}: rowcount spark={sn} duckdb={on}")
            failures += 1
        elif scols != ocols:
            print(f"FAIL {name}: cols spark={scols} duckdb={ocols}")
            failures += 1
        elif shash != ohash:
            diffs = [(a, b) for a, b in zip(srows, orows) if a != b][:3]
            print(f"FAIL {name}: value hash mismatch; first diffs:")
            for a, b in diffs:
                print(f"   spark : {a[:200]}")
                print(f"   duckdb: {b[:200]}")
            for m in dtype_mismatches(sdf, odf):
                print(f"   dtype : {m}")
            failures += 1
        elif dtype_mismatches(sdf, odf):
            print(f"FAIL {name}: dtype mismatch (values agree):")
            for m in dtype_mismatches(sdf, odf):
                print(f"   dtype : {m}")
            failures += 1
        else:
            print(f"OK   {name} ({sn} rows)")
    print(f"\n{failures} failures")
    return failures


if __name__ == "__main__":
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = [a for a in args if "/" not in a]
    sys.exit(1 if run(sf_dir, only) else 0)
