"""Generate EXPLAINS.md: a physical-plan audit of every headline
query — join strategies chosen, scan pushdown, exchange (shuffle)
counts, whole-stage-codegen coverage. The at-scale contract is that
dimension joins broadcast (no sort-merge unless both sides are
fact-sized), filters and column pruning reach the parquet scan, and
shuffle counts match the algorithm's minimum.

Usage: python tools/explain_audit.py [sf_dir]  (writes EXPLAINS.md)
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from dbt_eamples_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402
from bench import _bench_names  # noqa: E402


def audit(plan: str) -> dict[str, object]:
    # finalized AQE plans print "== Final Plan ==" then
    # "== Initial Plan ==" — audit only the final one
    plan = plan.split("== Initial Plan ==")[0]
    # NB: Spark truncates long filter lists mid-bracket ("o_orde...,")
    # so the closing "]" may never appear — match the opening bracket
    # and whatever follows up to "]" OR the truncation ellipsis
    pushed = re.findall(r"PushedFilters: \[([^\]\n]*)", plan)
    # a ReusedExchange line cites the original exchange it reads
    # ("ReusedExchange [...], Exchange hashpartitioning(...)") — it
    # re-reads already-shuffled blocks, it is NOT a second shuffle
    shfl = "\n".join(
        ln for ln in plan.splitlines() if "ReusedExchange" not in ln
    )
    return {
        "broadcast_hash_join": plan.count("BroadcastHashJoin"),
        "sort_merge_join": plan.count("SortMergeJoin"),
        "broadcast_nested_loop": plan.count("BroadcastNestedLoopJoin"),
        "shuffles": shfl.count("Exchange hashpartitioning")
        + shfl.count("Exchange rangepartitioning")
        + shfl.count("Exchange RoundRobinPartitioning"),
        # codegen spans render as "*(n)" prefixes in the plan tree
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "pushed_filters": sum(1 for p in pushed if p.strip()),
        "scans": plan.count("FileScan parquet"),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain-audit")
    queries = entrymod.queries()
    lines = [
        "# EXPLAINS — physical-plan audit of headline queries",
        "",
        f"Generated by `tools/explain_audit.py` at `{sf_dir}`.",
        "",
        "Reading guide: BHJ = broadcast-hash join (what dimension",
        "joins should be), SMJ = sort-merge join (acceptable only",
        "fact-to-fact), shuffles = exchanges in the plan (each is a",
        "full network pass at cluster scale), pushed = parquet scans",
        "with non-empty PushedFilters, codegen = whole-stage-codegen",
        "spans (JVM-compiled expression pipelines).",
        "",
        "| query | BHJ | SMJ | NLJ | shuffles | pushed | scans | codegen |",
        "|---|---|---|---|---|---|---|---|",
    ]
    jvm = spark._jvm
    for name in _bench_names():
        df = queries[name](spark, sf_dir)
        # materialize THIS plan (count() would build a different
        # query execution and leave this one un-finalized under AQE)
        df.collect()
        plan = jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )
        a = audit(plan)
        lines.append(
            f"| {name} | {a['broadcast_hash_join']} | {a['sort_merge_join']} "
            f"| {a['broadcast_nested_loop']} | {a['shuffles']} "
            f"| {a['pushed_filters']} | {a['scans']} | {a['codegen_spans']} |"
        )
    lines += [
        "",
        "No SortMergeJoin should appear for star-schema dimension",
        "joins; shuffle counts are the algorithmic minimum for each",
        "operator (group-by/window/distinct each imply one).",
        "",
    ]
    lines += stats_section(spark, sf_dir)
    with open(os.path.join(REPO, "EXPLAINS.md"), "w") as f:
        f.write("\n".join(lines))
    print("wrote EXPLAINS.md")


def stats_section(spark, sf_dir: str) -> list[str]:
    """Catalog-statistics evidence (VERDICT r3 #7): with tables
    ANALYZEd and CBO on, the star join broadcasts because the
    OPTIMIZER holds rowCount statistics — not because a file-size
    heuristic happened to land under the broadcast threshold. At
    100× scale this is the difference between a plan that survives
    (stats re-ANALYZEd, decisions re-derived) and one that silently
    flips to sort-merge when a dim's compressed file outgrows the
    10 MB default."""
    from dbt_eamples_spark.catalog import register_stats_tables, table_stats

    register_stats_tables(spark, sf_dir)
    out = [
        "## Catalog statistics (ANALYZE) — broadcast from stats",
        "",
        f"`register_stats_tables` at `{sf_dir}`: external parquet",
        "tables + `ANALYZE TABLE ... COMPUTE STATISTICS`, CBO on.",
        "",
        "| table | rowCount | sizeInBytes |",
        "|---|---|---|",
    ]
    for t in ("nation", "customer", "orders", "lineitem"):
        st = table_stats(spark, f"dbt_stats.{t}")
        out.append(
            f"| dbt_stats.{t} | {st.get('row_count', '—')} "
            f"| {st.get('size_bytes', '—')} |"
        )
    star = """
        SELECT n_name, sum(l_extendedprice) AS revenue
        FROM dbt_stats.lineitem
        JOIN dbt_stats.orders   ON l_orderkey = o_orderkey
        JOIN dbt_stats.customer ON o_custkey  = c_custkey
        JOIN dbt_stats.nation   ON c_nationkey = n_nationkey
        GROUP BY n_name
    """
    prev = spark.conf.get("spark.sql.cbo.enabled", "false")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try:
        cost = spark.sql(f"EXPLAIN COST {star}").collect()[0][0]
        physical = spark.sql(f"EXPLAIN FORMATTED {star}").collect()[0][0]
    finally:
        spark.conf.set("spark.sql.cbo.enabled", prev)
    n_bhj = physical.count("BroadcastHashJoin")
    n_smj = physical.count("SortMergeJoin")
    has_rowcount = "rowCount=" in cost
    out += [
        "",
        f"Star query over the analyzed tables: **{n_bhj} broadcast",
        f"hash joins, {n_smj} sort-merge joins**; optimized-plan",
        f"statistics carry rowCount from ANALYZE: **{has_rowcount}**",
        "(`EXPLAIN COST` shows e.g. "
        + (
            next(
                (
                    ln.strip()
                    for ln in cost.splitlines()
                    if "rowCount=" in ln and "nation" in ln.lower()
                ),
                "Statistics(... rowCount=...)",
            )[:120]
        )
        + ").",
        "",
    ]
    return out


if __name__ == "__main__":
    main()
