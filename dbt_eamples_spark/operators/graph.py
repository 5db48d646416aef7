"""Iterative graph analytics over co-occurrence graphs.

The repo already runs connected components (dedup_clusters /
dedup_semantic_clusters) — this module adds the other canonical
iterative-propagation workload, PageRank, over the part
co-purchase graph (edges = parts sharing an order, the
market_basket_pairs relation). The reference has no graph engine;
this is the Spark-native answer to "which catalog items are
central to purchasing behavior" (centrality ranking for
recommendation seeds and promotion targeting).

Determinism across engines: floating-point PageRank is a sum of
doubles whose addition order differs per engine and per
partitioning — never hash-checkable. Ranks here are FIXED-POINT
BIGINTS (1e12 total mass): each iteration computes

    r'(v) = BASE + (85 * Σ_{u→v} (r(u) DIV deg(u))) DIV 100

in pure integer arithmetic (DIV = integer division), so every
engine and every partitioning produces bit-identical ranks.
Magnitudes: Σ r ≤ 1e12, so 85·Σ ≤ 8.5e13 ≪ 2^63 — no overflow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_eamples_spark.catalog import load_table
from dbt_eamples_spark.operators import vecsql as V

PAGERANK_ITERS = 3
PAGERANK_DAMP_PCT = 85  # d = 0.85 as an integer percent
PAGERANK_SCALE = 10**12  # total rank mass in fixed-point units
PAGERANK_TOP_K = 50


# All seven graph queries consume the SAME edge list, and at 100 TB
# the basket expansion over lineitem is the dominant cost — it must be
# paid once per corpus, not once per query (VERDICT r5 #3). The
# persisted parquet artifact under _artifacts/ lets a second session
# or process reload instead of re-deriving; the session store holds
# its persisted scan.
def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed co-purchase edge list (src, dst), artifact-backed:
    the raw derivation (:func:`_copurchase_edges_build`) runs only
    on a cold store; every later call — across queries, sessions,
    and processes — reads the persisted parquet keyed by the
    lineitem corpus fingerprint. The artifact is BUCKETED on ``src``
    (VERDICT r6 #5), so every scan reports HashPartitioning(src) and
    the iterative kernels' per-round src-keyed group-bys/windows run
    with ZERO edge-sized exchange — the co-location is decided once
    at artifact-write time, not re-shuffled per session or per
    power-iteration round. (The old localCheckpoint L1 would ERASE
    that partitioning metadata — an RDD scan has unknown
    partitioning — so the frame is served as the bucketed scan
    itself; repeat scans are bucket-pruned parquet reads.) The
    session keeps it persisted: an InMemoryRelation PRESERVES the
    bucket partitioning (unlike localCheckpoint's RDD scan), so
    repeat consumers skip the parquet decode AND keep the
    exchange-free src-keyed plans."""
    from dbt_eamples_spark.artifacts import session_artifact

    return session_artifact(
        spark, sf_dir, "copurchase_edges_b", ("lineitem",),
        lambda: _copurchase_edges_build(spark, sf_dir),
        bucket_key="src",
    )


def _copurchase_edges_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed edge list (src, dst) of the part co-purchase graph:
    both orientations of every distinct part pair sharing an order.
    Same in-row basket expansion as market_basket_pairs (one
    l_orderkey shuffle, Σ basket² expansion bounded by the basket
    cap) — never a corpus self-join."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    return V.self_pairs(baskets, "parts", "src", "dst", "!=").distinct()


def pagerank_fixed_point(
    edges: DataFrame, iters: int = PAGERANK_ITERS
) -> DataFrame:
    """Core fixed-point propagation over a SYMMETRIC directed edge
    frame (src, dst) — both orientations of every undirected edge
    present, so the node set = the set of sources. Factored out so
    property tests can drive it with arbitrary generated symmetric
    graphs and assert EXACT integer equality against a pure-python
    reference — the determinism claim as a testable contract, not a
    docstring.

    SYMMETRY IS A PRECONDITION, not a convention (ADVICE r7): on an
    asymmetric edge list this gather-by-src form is NOT forward
    PageRank (nor reverse — shares still divide by the original
    out-degree). There is deliberately no runtime symmetry scan (it
    would cost an edge-sized exchange per call); the contract is
    pinned by tests/test_pagerank_props.py::
    test_asymmetric_input_diverges_from_textbook, and every engine
    caller feeds the symmetric co-purchase artifact. External
    callers with one-directional edges must symmetrize first
    (union the flipped frame, distinct).

    Scale shape (VERDICT r6 #5): each node's in-share is gathered by
    joining the edge's DST end to the broadcast rank table and
    grouping by SRC — under symmetry the identical multiset of
    integer shares per node as the textbook dst-grouped form, but
    keyed on the edge artifact's BUCKET column, so a bucketed input
    runs every round's join+aggregate as ONE exchange-free stage.
    No localCheckpoint on edges: an RDD scan would erase the bucket
    partitioning metadata; callers hand either the bucketed artifact
    scan or trivially-recomputable test frames."""
    deg = edges.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
    nodes = deg.select(F.col("src").alias("node"), "deg")
    n_nodes = nodes.count()  # scalar: catalog-bounded
    init = PAGERANK_SCALE // n_nodes
    base = (15 * PAGERANK_SCALE) // (100 * n_nodes)

    ranks = nodes.select("node", "deg", F.lit(init).alias("rank_fp"))
    for _ in range(iters):
        # ranks is |nodes| rows (catalog-bounded) but sits behind a
        # localCheckpoint, so Catalyst has no size statistics and
        # would SHUFFLE the 100×-larger edge list every iteration —
        # broadcast explicitly (at a catalog too big to broadcast,
        # drop the hint: the edge side then exchanges on dst once
        # per round while the src-keyed aggregate stays in place)
        contrib = (
            edges.join(
                F.broadcast(
                    ranks.select(
                        F.col("node").alias("dst"),
                        F.expr("rank_fp DIV deg").alias("share"),
                    )
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.sum("share").alias("in_share"))
        )
        ranks = (
            nodes.join(
                F.broadcast(
                    contrib.select(F.col("src").alias("node"), "in_share")
                ),
                "node",
            )
            .select(
                "node",
                "deg",
                (
                    F.lit(base)
                    + F.expr(f"({PAGERANK_DAMP_PCT} * in_share) DIV 100")
                ).alias("rank_fp"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def _copurchase_weighted_edges(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Artifact-backed weighted edge list — same src-bucketed
    two-tier store as the unweighted :func:`_copurchase_edges` (the
    support-weighted expansion costs the same lineitem pass, so it
    earns the same build-once, bucket-once treatment)."""
    from dbt_eamples_spark.artifacts import session_artifact

    return session_artifact(
        spark, sf_dir, "copurchase_weighted_edges_b", ("lineitem",),
        lambda: _copurchase_weighted_edges_build(spark, sf_dir),
        bucket_key="src",
    )


def _copurchase_weighted_edges_build(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weighted directed edge list (src, dst, w) of the part
    co-purchase graph: w = co-purchase SUPPORT (number of distinct
    orders containing both parts — the market_basket_pairs support
    statistic, kept per orientation). Same single l_orderkey shuffle
    and in-row basket expansion as the unweighted builder; the
    (src, dst) hash-agg that counts support replaces its distinct."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    return (
        V.self_pairs(baskets, "parts", "src", "dst", "!=")
        .groupBy("src", "dst")
        .agg(F.count("*").cast("long").alias("w"))
    )


def pagerank_weighted_fixed_point(
    edges: DataFrame, iters: int = PAGERANK_ITERS
) -> DataFrame:
    """Weighted fixed-point PageRank over (src, dst, w) edges: each
    node splits its rank across out-edges PROPORTIONALLY TO WEIGHT,

        share(u→v) = (r(u) · w(u→v)) DIV Σ_out w(u)

    in pure integer arithmetic, so ranks stay bit-identical across
    engines and partitionings (module docstring). Overflow bound:
    r ≤ 1e12 total mass and Σw per node ≤ ~1e6 at any realistic
    support cap, so r·w ≤ 1e18 < 2^63; the damped sum is ≤ 8.5e13.

    Same exchange-free per-iteration shape as the unweighted core
    on a src-bucketed symmetric input (the edge weight w is
    pair-symmetric — both orientations carry the same support — so
    gathering by DST-side join + SRC-side group is the identical
    integer multiset per node); the only structural delta is that
    the per-EDGE share needs (rank, Σw) joined onto the edge before
    the integer divide (unweighted pre-divides per node). Symmetry
    (of edges AND weights) is a PRECONDITION exactly as in the
    unweighted core — see its docstring and the asymmetry property
    test; asymmetric input silently computes a different fixed
    point."""
    wsum = edges.groupBy("src").agg(
        F.sum("w").cast("long").alias("sw"),
        F.count("*").cast("long").alias("deg"),
    )
    nodes = wsum.select(F.col("src").alias("node"), "sw", "deg")
    n_nodes = nodes.count()  # scalar: catalog-bounded
    init = PAGERANK_SCALE // n_nodes
    base = (15 * PAGERANK_SCALE) // (100 * n_nodes)

    ranks = nodes.select("node", "sw", "deg", F.lit(init).alias("rank_fp"))
    for _ in range(iters):
        # broadcast the catalog-bounded rank table (see the
        # unweighted core's statistics note); share is computed per
        # edge — (rank · w) DIV sw against the DST end's rank/Σw —
        # then combined exchange-free by the bucketed src key
        contrib = (
            edges.join(
                F.broadcast(
                    ranks.select(
                        F.col("node").alias("dst"),
                        "rank_fp",
                        F.col("sw").alias("_sw"),
                    )
                ),
                "dst",
            )
            .select(
                "src", F.expr("(rank_fp * w) DIV _sw").alias("share")
            )
            .groupBy("src")
            .agg(F.sum("share").alias("in_share"))
        )
        ranks = (
            nodes.join(
                F.broadcast(
                    contrib.select(F.col("src").alias("node"), "in_share")
                ),
                "node",
            )
            .select(
                "node",
                "sw",
                "deg",
                (
                    F.lit(base)
                    + F.expr(f"({PAGERANK_DAMP_PCT} * in_share) DIV 100")
                ).alias("rank_fp"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def graph_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k parts by WEIGHTED PageRank: centrality where an edge
    counts in proportion to its co-purchase support, so a part
    bought alongside another in 50 orders pulls 50× the rank of a
    one-off pairing — the strength-aware variant a recommender
    actually wants (frequently-bundled cores rank above long-tail
    coincidences). Same engine-exact integer fixed point and
    1-shuffle-per-iteration plan as `graph_pagerank_topk`; the edge
    build swaps distinct for a support count on the same shuffle."""
    ranks = pagerank_weighted_fixed_point(
        _copurchase_weighted_edges(spark, sf_dir)
    )
    return (
        ranks.select(
            F.col("node").alias("l_partkey"), "deg", "sw", "rank_fp"
        )
        .orderBy(F.desc("rank_fp"), F.asc("l_partkey"))
        .limit(PAGERANK_TOP_K)
    )


def graph_pagerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k parts by PageRank over the co-purchase graph after
    ``PAGERANK_ITERS`` damped power iterations (Page et al. 1999),
    in engine-exact fixed-point integer arithmetic (module
    docstring). The graph is symmetric by construction, so every
    node has in- and out-degree ≥ 1 — no dangling-mass term.

    Scale shape: the edge list materializes ONCE (localCheckpoint —
    every iteration and the degree pass consume it; without
    materialization each iteration re-runs the basket expansion).
    Each iteration is one join (ranks ⋈ edges on src — ranks is
    |nodes| rows, broadcastable up to huge catalogs; at true scale
    AQE shuffles both on src) plus one dst hash-agg: the canonical
    1-shuffle-per-iteration propagation, same shape as
    dedup_clusters' label propagation. Ranks are checkpointed per
    iteration so the lineage stays flat. Final cut is
    TakeOrderedAndProject on (rank DESC, node)."""
    ranks = pagerank_fixed_point(_copurchase_edges(spark, sf_dir))
    return (
        ranks.select(F.col("node").alias("l_partkey"), "deg", "rank_fp")
        .orderBy(F.desc("rank_fp"), F.asc("l_partkey"))
        .limit(PAGERANK_TOP_K)
    )



# wedge streams are Σ deg(x)² rows — compute that EXACTLY from the
# degree table (one-row collect = bounded model state) and size the
# wedge-side shuffles so per-task state stays bounded at any graph
# scale; a fixed spark.sql.shuffle.partitions OOMs the pair
# aggregate at ~10x fixture scale (observed at the scaling check)
GRAPH_ROWS_PER_TASK = 1_500_000


def _wedge_partitions(
    out_edges: DataFrame, key: str, default: int,
    stats_out: dict | None = None,
) -> tuple[int, int]:
    """(apex-side, wedge-side) partition counts for the oriented
    wedge join, from the EXACT edge count Σ fanout(key) and wedge
    cardinality Σ fanout(key)² of the frame that actually feeds the
    join (for the oriented triangle join the latter is Σ od² —
    orders of magnitude below the raw Σ deg² a dense graph has; a
    one-row collect = bounded model state). The apex count bounds
    the per-task hash build of the self-join; the wedge count bounds
    per-task state in every operator downstream of the wedge
    stream."""
    od = out_edges.groupBy(key).agg(F.count("*").alias("od"))
    row = od.agg(
        F.sum("od").alias("m"),
        F.sum(F.col("od") * F.col("od")).alias("w"),
    ).collect()[0]
    size = lambda n: int(  # noqa: E731
        min(4096, max(default, int(n or 0) // GRAPH_ROWS_PER_TASK + 1))
    )
    if stats_out is not None:
        # the sizing collect already knows the exact oriented-edge
        # count (= undirected pair count of a symmetric input);
        # expose it so callers need not re-aggregate for it (r15:
        # transitivity_sampled paid a separate job for n_sampled_pairs)
        stats_out["oriented_edges"] = int(row.m or 0)
    return size(row.m), size(row.w)


# ---- triangle counting ------------------------------------------------------
TRIANGLE_TOP_K = 50


def triangles_compact_forward(
    edges: DataFrame,
    deg: DataFrame | None = None,
    stats_out: dict | None = None,
) -> DataFrame:
    """Enumerate each triangle of a SYMMETRIC directed edge frame
    (src, dst; both orientations present, no self-loops) exactly
    once, returning (a, b, c) node triples.

    Algorithm: compact-forward (Latapy 2008, the standard
    distributed triangle enumerator): orient every undirected edge
    from the endpoint that is SMALLER under the total order
    (degree, node) to the larger one. Every triangle then has
    exactly one "apex" — the node from which both out-edges leave —
    so joining oriented edges on the apex and checking the closing
    oriented edge counts each triangle exactly once AND bounds the
    join fan-out by the out-degree, which the orientation caps near
    sqrt(|E|) for any graph (high-degree hubs only ever RECEIVE
    oriented edges, so a celebrity node cannot explode the wedge
    join — the property that makes this survive power-law graphs at
    100 TB where a naive neighbor self-join dies).

    Plan: degree attach is a broadcast (catalog-bounded node set);
    the wedge join shuffles oriented edges on the apex; the closing
    check shuffles on (b, c). Callers that need the degree table
    themselves pass a materialized ``deg`` (src, deg) so the edge
    list is degree-scanned once, not once per consumer."""
    if deg is None:
        deg = edges.groupBy("src").agg(
            F.count("*").cast("long").alias("deg")
        )
    und = edges.filter(F.col("src") < F.col("dst"))
    e = und.select(F.col("src").alias("u"), F.col("dst").alias("v")).join(
        F.broadcast(
            deg.select(F.col("src").alias("u"), F.col("deg").alias("deg_u"))
        ),
        "u",
    ).join(
        F.broadcast(
            deg.select(F.col("src").alias("v"), F.col("deg").alias("deg_v"))
        ),
        "v",
    )
    lower_first = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    o = e.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(lower_first, F.col("deg_v"))
        .otherwise(F.col("deg_u"))
        .alias("deg_b"),
    ).localCheckpoint(eager=True)
    # oriented edges scale with the graph — never broadcast them:
    # shuffle-hash the wedge and closing joins, with shuffle widths
    # sized from the exact oriented-edge / wedge cardinalities so
    # per-task hash state stays bounded at any graph scale (a fixed
    # spark.sql.shuffle.partitions OOM'd the pair state at ~10x
    # fixture scale in the scaling check). The self-join reads ONE
    # sized apex exchange — both sides derive from the same
    # repartition, so the second side is a ReusedExchange, not a
    # second network pass.
    parts_a, parts_bc = _wedge_partitions(
        o, "a", edges.sparkSession.sparkContext.defaultParallelism,
        stats_out=stats_out,
    )
    oa = o.repartition(parts_a, "a")
    o2 = oa.select(
        "a", F.col("b").alias("c"), F.col("deg_b").alias("deg_c")
    )
    wedges = (
        oa.join(o2.hint("shuffle_hash"), "a")
        .filter(
            (F.col("deg_b") < F.col("deg_c"))
            | (
                (F.col("deg_b") == F.col("deg_c"))
                & (F.col("b") < F.col("c"))
            )
        )
        .repartition(parts_bc, "b", "c")
    )
    closing = o.select(F.col("a").alias("b"), F.col("b").alias("c"))
    return wedges.join(closing.hint("shuffle_hash"), ["b", "c"]).select(
        "a", "b", "c"
    )


def _triangle_credits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, n_triangles) — per-node triangle participation of the
    co-purchase graph, artifact-backed (round 8): the
    compact-forward enumeration + per-corner credit agg build ONCE
    per lineitem fingerprint into a persisted parquet table; its two
    consumers (:func:`graph_triangle_count`'s top-k view and
    :func:`graph_transitivity`'s global folds) then scan
    node-bounded rows — the same build-once/query-many contract as
    the co-purchase edge artifact the enumeration reads."""
    from dbt_eamples_spark.artifacts import session_artifact

    def build() -> DataFrame:
        edges = _copurchase_edges(spark, sf_dir)
        deg = edges.groupBy("src").agg(
            F.count("*").cast("long").alias("deg")
        ).localCheckpoint(eager=True)
        tris = triangles_compact_forward(edges, deg)
        return (
            tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
            .groupBy("node")
            .agg(F.count("*").cast("long").alias("n_triangles"))
        )

    return session_artifact(
        spark, sf_dir, "triangle_credits", ("lineitem",), build
    )


# Measured delta-vs-rebuild crossover for the triangle family
# (tools/delta_bench.py, sf0.1: crossover ~26% of rows; the sf1 block
# confirms the fraction is corpus-size-stable). Above this fraction
# triangle_credits_apply_delta warns that a from-scratch rebuild of
# the union is the cheaper plan.
TRIANGLE_DELTA_REBUILD_CROSSOVER = 0.25


def triangle_credits_apply_delta(
    spark: SparkSession,
    sf_dir: str,
    delta_lineitem: DataFrame,
) -> DataFrame:
    """Delta-maintain the ``triangle_credits`` artifact (VERDICT r8
    #2): per-node triangle participation for the co-purchase graph
    of lineitem(sf_dir) ∪ ``delta_lineitem`` (l_orderkey, l_partkey,
    …), WITHOUT re-enumerating the corpus's triangles. A lineitem
    delta can extend EXISTING baskets, so the touched-order basket
    set is rebuilt from (base rows of touched orders ∪ delta rows) —
    an orderkey-pruned scan, order-bounded, never corpus-wide. New
    undirected edges = touched-basket pairs anti-joined against the
    persisted edge artifact. Every triangle gained by the delta
    contains ≥1 new edge, so enumerating common neighbors of each
    new edge over the union adjacency (then DISTINCT on the sorted
    triple — a triangle with 2–3 new edges is found once per new
    edge) yields exactly the gained triangles; their per-corner
    credits MERGE into the persisted base credits by summation.
    Row-identical to a from-scratch rebuild on the union corpus
    (pytest-locked in tests/test_delta_artifacts.py).

    Published under the union corpus's lineitem fingerprint, the
    merged credits let later graph_triangle_count/graph_transitivity
    calls on the updated corpus reuse instead of rebuilding.

    Scale shape: cost ∝ |touched orders| · basket² for edge
    candidates + |new edges| · degree for the wedge probes — the
    delta's neighborhood, not the corpus. Base triangles are never
    revisited; base edges are scanned (bucket-partitioned parquet),
    never re-derived from lineitem.

    Delta contract (ADVICE r9, stated for parity with
    span_artifacts_apply_delta): unlike the doc-keyed paths, this
    one has NO new-ids-only precondition — a re-ingested existing
    lineitem row is a no-op by construction (baskets are
    collect_set'd, candidate edges are DISTINCT, and the anti-join
    against the persisted edge artifact drops every edge the base
    already has), so only genuinely new (orderkey, partkey)
    co-occurrences produce new edges.

    Crossover policy (VERDICT r9 #4): the wedge-probe term grows
    with the delta's neighborhood, so past a measured delta fraction
    a from-scratch rebuild is CHEAPER — tools/delta_bench.py put the
    crossover at ≈26% of rows at sf0.1 (2%: 2.9x faster than
    rebuild; 32%: slower). Above
    ``TRIANGLE_DELTA_REBUILD_CROSSOVER`` the function warns to
    rebuild instead; it still returns the (equivalence-locked)
    merged result so callers keep correctness either way."""
    import warnings

    n_delta = delta_lineitem.count()
    n_base = load_table(spark, sf_dir, "lineitem").count()
    if n_base > 0 and n_delta / n_base > TRIANGLE_DELTA_REBUILD_CROSSOVER:
        warnings.warn(
            f"triangle_credits_apply_delta: delta is "
            f"{n_delta / n_base:.0%} of the base corpus — past the "
            f"measured ~{TRIANGLE_DELTA_REBUILD_CROSSOVER:.0%} "
            "delta-vs-rebuild crossover (DELTA_BENCH.json); a "
            "from-scratch _triangle_credits build over the union "
            "is cheaper at this delta size",
            RuntimeWarning,
            stacklevel=2,
        )
    base_credits = _triangle_credits(spark, sf_dir).select(
        "node", "n_triangles"
    )
    base_edges = _copurchase_edges(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    touched = delta_lineitem.select("l_orderkey").distinct()
    touched_rows = (
        li.join(F.broadcast(touched), "l_orderkey")
        .select("l_orderkey", "l_partkey")
        .unionByName(delta_lineitem.select("l_orderkey", "l_partkey"))
    )
    baskets = touched_rows.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    cand_edges = V.self_pairs(baskets, "parts", "src", "dst", "!=").distinct()
    new_edges = cand_edges.join(
        base_edges, ["src", "dst"], "left_anti"
    ).localCheckpoint(eager=True)  # delta-bounded; 3 consumers
    full_edges = base_edges.unionByName(new_edges)
    # triangles gained = those with ≥1 new edge: common neighbors of
    # each new undirected edge over the union adjacency, then one
    # DISTINCT on the sorted triple so multi-new-edge triangles
    # credit once
    e1 = new_edges.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    uw = full_edges.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    vw = full_edges.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    triples = (
        e1.join(uw, "u")
        .join(vw, ["v", "w"])
        .select(F.array_sort(F.array("u", "v", "w")).alias("t"))
        .distinct()
    )
    gained = (
        triples.select(F.explode("t").alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("gained"))
    )
    return base_credits.join(gained, "node", "full_outer").select(
        "node",
        (
            F.coalesce("n_triangles", F.lit(0))
            + F.coalesce("gained", F.lit(0))
        ).cast("long").alias("n_triangles"),
    )


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k parts by triangle participation in the co-purchase
    graph, with the local clustering coefficient — the
    community-density statistic (a part inside a tight accessory
    bundle closes many triangles; a hub that merely co-occurs with
    everything closes few relative to its degree). Reference
    analogue: none (the reference has no graph engine); this extends
    the market-basket family the same way PageRank does.

    Triangles enumerate via :func:`triangles_compact_forward` (see
    its scale argument); each triangle credits all three corners,
    so the per-node count is one explode + hash-agg over the
    triangle set — built once per corpus into the persisted
    ``triangle_credits`` artifact (:func:`_triangle_credits`).
    clustering_coeff = 2*tri / (deg*(deg-1)) — exact integer
    operands, one IEEE division, round(6): engine-stable. Only
    nodes closing >= 1 triangle rank (deg >= 2 guaranteed)."""
    edges = _copurchase_edges(spark, sf_dir)
    # catalog-bounded; exchange-free on the bucketed edge artifact
    deg = edges.groupBy("src").agg(
        F.count("*").cast("long").alias("deg")
    )
    per_node = _triangle_credits(spark, sf_dir)
    return (
        per_node.join(
            F.broadcast(deg.select(F.col("src").alias("node"), "deg")),
            "node",
        )
        .select(
            F.col("node").alias("l_partkey"),
            "deg",
            "n_triangles",
            F.round(
                F.lit(2.0)
                * F.col("n_triangles")
                / (F.col("deg") * (F.col("deg") - F.lit(1))),
                6,
            ).alias("clustering_coeff"),
        )
        .orderBy(F.desc("n_triangles"), F.asc("l_partkey"))
        .limit(TRIANGLE_TOP_K)
    )


# ---- link prediction --------------------------------------------------------
LINKPRED_QUERY_MAX = 200  # query parts: l_partkey <= this
LINKPRED_PER_QUERY = 10


def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part link prediction by Jaccard neighborhood overlap
    (Liben-Nowell & Kleinberg 2003): for each QUERY part, the top-k
    non-adjacent parts ranked by |N(u) ∩ N(v)| / |N(u) ∪ N(v)| —
    "customers who buy this also buy those", scored on demand for a
    request set (here the deterministic slice l_partkey <=
    ``LINKPRED_QUERY_MAX``).

    The query-set shape IS the scale story: the co-purchase graph is
    DENSE (avg degree ~120 at every SF), so all-pairs common-
    neighbor counting costs Σ deg(x)² — ~3·10⁹ wedge rows at a mere
    10x fixture scale (measured; the all-pairs variant OOM'd the
    pair aggregate there). Restricting the left side to the request
    set bounds the wedge stream by |Q| · deg² — linear in |Q|,
    independent of catalog size — which is how a recommender
    actually serves this query (per-item, on demand, or sharded
    over the catalog for batch refresh, each shard bounded the same
    way). Degrees and the union term still use the FULL graph.

    Plan: the bounded query side BROADCASTS into both graph-sized
    joins, so the full edge list never shuffles: wedge join =
    broadcast(query edges) probed by the edge stream on the shared
    neighbor; adjacency removal = broadcast anti-join against the
    query rows' own adjacency (only u <= QUERY_MAX rows can appear
    in a candidate, so the build is |Q|·deg, not |E|). The wedge
    stream map-side-combines into the (u, v) pair hash-agg
    (exchange #1 — combined pairs, not raw wedges, cross the wire);
    degrees attach broadcast; the per-query rank window re-clusters
    on part_a (exchange #2, over candidate pairs only). Jaccard is
    one IEEE division of exact ints, round(6)."""
    edges = _copurchase_edges(spark, sf_dir)
    # catalog-bounded; materialized once for its TWO broadcast
    # consumers (du, dv) — otherwise each broadcast subtree re-scans
    # the full edge list for its own degree aggregation
    deg = (
        edges.groupBy("src")
        .agg(F.count("*").cast("long").alias("deg"))
        .localCheckpoint(eager=True)
    )
    e1 = edges.filter(F.col("src") <= LINKPRED_QUERY_MAX).select(
        F.col("src").alias("u"), F.col("dst").alias("x")
    )
    e2 = edges.select(F.col("src").alias("x"), F.col("dst").alias("v"))
    common = (
        F.broadcast(e1)
        .join(e2, "x")
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    adj_q = edges.filter(F.col("src") <= LINKPRED_QUERY_MAX).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    cand = common.join(F.broadcast(adj_q), ["u", "v"], "left_anti")
    du = deg.select(F.col("src").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("src").alias("v"), F.col("deg").alias("deg_v"))
    jac = (
        cand.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            F.col("u").alias("part_a"),
            F.col("v").alias("part_b"),
            "n_common",
            (F.col("deg_u") + F.col("deg_v") - F.col("n_common")).alias(
                "n_union"
            ),
            F.round(
                F.col("n_common")
                / (F.col("deg_u") + F.col("deg_v") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )
    w = Window.partitionBy("part_a").orderBy(
        F.desc("jaccard"), F.asc("part_b")
    )
    return (
        jac.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= LINKPRED_PER_QUERY)
    )


# ---- k-core decomposition ---------------------------------------------------
# K sits below the random-graph collapse cliff at every fixture SF
# (the co-purchase graph is ER-like: its K-core empties abruptly
# once K crosses ~0.75x the mean degree), so the query returns a
# non-degenerate core at sf0.001/0.01/0.1 while the peel still
# cascades for several rounds at the smallest fixture.
KCORE_K = 65  # minimum within-core degree
KCORE_ROUNDS = 8  # peel-round cap; convergence within it is test-locked


def kcore_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """Synchronous K-core peel of a directed symmetric edge frame
    (src, dst): drop every node with degree < k, recompute, repeat
    to fixpoint — capped at ``rounds`` passes. Returns the surviving
    edge set. Factored out so tests can drive it with constructed
    graphs whose core is known by hand.

    Per round: one src-keyed degree agg (exchange-FREE on a
    src-bucketed/partitioning-reporting input — VERDICT r6 #5) and
    two broadcast semi-joins against the node-bounded survivor set,
    which PRESERVE the streamed side's partitioning. Each round's
    shrinking edge set is persist()ed, not localCheckpointed: an
    RDD scan would erase the partitioning and re-introduce a
    per-round exchange; the previous round's cache is dropped once
    the next is materialized by its count()."""
    n_prev = edges.count()
    prev_cache: DataFrame | None = None
    for _ in range(rounds):
        keep = (
            edges.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= k)
            .select("src")
        )
        edges = (
            edges.join(F.broadcast(keep), "src", "left_semi")
            .join(
                F.broadcast(keep.select(F.col("src").alias("dst"))),
                "dst",
                "left_semi",
            )
            .persist()
        )
        n_now = edges.count()
        if prev_cache is not None:
            prev_cache.unpersist()
        prev_cache = edges
        if n_now == n_prev:
            break
        n_prev = n_now
    return edges


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Members of the K-core of the co-purchase graph (Seidman
    1983): the maximal subgraph where every node keeps >= K
    neighbors, with each survivor's within-core degree — the
    "dense bundle" detector (a part in the core co-sells with >= K
    other core parts; parts outside are peripheral attachments).
    Reference analogue: none (no graph engine in the reference);
    extends the co-purchase family like PageRank / triangles.

    Algorithm: synchronous peeling — drop every node with degree
    < K, recompute degrees, repeat to fixpoint. Both engines run
    EXACTLY ``KCORE_ROUNDS`` logical rounds: the oracle unrolls R
    static CTE rounds; Spark early-exits only when a round removes
    nothing (a fixpoint makes all later rounds no-ops, so the
    results are identical by construction — never a semantic
    shortcut). Fixture convergence inside the cap is test-locked;
    the round cap, not the data, bounds the iteration count at any
    scale.

    Plan: per round, one degree hash-agg over the SHRINKING
    checkpointed edge list + two broadcast semi-joins against the
    catalog-bounded survivor set (node list, never edges). The
    audited final plan is one degree agg over the converged core.
    The per-round ``count()`` is bounded model state (one long) —
    it reads the checkpoint, not a recompute."""
    core = kcore_peel(
        _copurchase_edges(spark, sf_dir), KCORE_K, KCORE_ROUNDS
    )
    return (
        core.groupBy("src")
        .agg(F.count("*").cast("long").alias("core_deg"))
        .select(F.col("src").alias("l_partkey"), "core_deg")
        .orderBy("l_partkey")
    )


# ---- multi-source BFS -------------------------------------------------------
BFS_SEED_MAX = 5  # seed set: parts with l_partkey <= this
BFS_MAX_DEPTH = 3  # frontier rounds (dense graph: diameter ~2-3)


def graph_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the co-purchase graph: the hop
    distance (<= ``BFS_MAX_DEPTH``) from a pinned seed set to every
    reachable part — the "affinity radius" around a promoted bundle
    (distance 1 = bought together, 2 = bought with something bought
    together, ...). Unreached parts are absent, not NULL rows.

    Algorithm: level-synchronous frontier expansion, the canonical
    distributed BFS. Each round joins the CURRENT frontier (a
    node-bounded set — broadcast) against the edge stream, dedups
    the neighbor set, and anti-joins already-labeled nodes, so
    every node is labeled exactly once with its first-reach round =
    min distance. Round count is the fixed depth cap, never
    data-dependent.

    Plan: per round one broadcast hash join (frontier into edges) +
    a node-bounded distinct + a broadcast anti-join; the labeled
    set is checkpointed per round (bounded by the node count). The
    oracle unrolls the SAME rounds as MATERIALIZED CTEs (the
    k-core inlining lesson)."""
    edges = _copurchase_edges(spark, sf_dir)
    dist = (
        edges.select("src")
        .filter(F.col("src") <= BFS_SEED_MAX)
        .distinct()
        .select(F.col("src").alias("node"), F.lit(0).alias("dist"))
        .localCheckpoint(eager=True)
    )
    for d in range(1, BFS_MAX_DEPTH + 1):
        frontier = dist.filter(F.col("dist") == d - 1).select(
            F.col("node").alias("src")
        )
        reached = (
            edges.join(F.broadcast(frontier), "src", "left_semi")
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = reached.join(F.broadcast(dist), "node", "left_anti").select(
            "node", F.lit(d).alias("dist")
        )
        dist = dist.unionByName(new).localCheckpoint(eager=True)
    return (
        dist.select(F.col("node").alias("l_partkey"), "dist")
        .orderBy("l_partkey")
    )


def graph_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution power-law fit of the co-purchase graph:
    least-squares slope of ln(#nodes with degree k) against ln(k) —
    the one-number structure check (Barabási–Albert scale-free
    graphs sit near slope −2…−3; an ER-random graph bends away from
    a line) that tells a pipeline whether hub-aware strategies like
    the compact-forward triangle orientation are even warranted.
    Also reports node/edge counts and the degree extremes.

    Determinism: degrees and distribution counts are exact BIGINTs;
    ln values are pre-rounded at 6dp and scaled to exact 1e6
    fixed-point bigints, all five regression folds accumulate in
    decimal(38,0), and the closed-form slope evaluates on exact
    integers cast to double — the text_zipf_slope contract applied
    to graph degrees (same engine-exactness argument).

    Scale shape: the basket expansion + distinct is the shared
    co-purchase edge derivation; the degree agg is one exchange on
    src; the distribution agg and the regression fold run on the
    DEGREE-GRID-bounded frame (≤ max-degree rows)."""
    edges = _copurchase_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").cast("long").alias("k"))
    dist = deg.groupBy("k").agg(F.count("*").cast("long").alias("n_k"))
    fit = V.loglog_fit(
        dist, "k", "n_k",
        "CAST(sum(n_k) AS BIGINT) AS n_nodes",
        "min(k) AS min_degree",
        "max(k) AS max_degree",
    )
    return V.select(
        fit,
        "CAST(n AS BIGINT) AS n_degrees",
        "n_nodes",
        "min_degree",
        "max_degree",
        "round(slope, 6) AS powerlaw_slope",
    )


LPA_ROUNDS = 4  # synchronous label-propagation rounds


def lpa_labels(edges: DataFrame, rounds: int = LPA_ROUNDS) -> DataFrame:
    """Core synchronous label propagation over a directed edge frame
    (src, dst) that contains both orientations of every undirected
    edge (so the node set = the set of sources). Labels start as the
    node id; each round every node adopts the MODE of its neighbors'
    labels, ties broken by (count DESC, label ASC) — a total order,
    so every engine and partitioning produces the identical labeling
    (the property that makes the DuckDB twin hash-exact). Factored
    out so property tests can drive arbitrary generated graphs
    against a pure-python reference.

    Scale shape per round (VERDICT r6 #5): the dst-keyed neighbor
    fetch joins the BROADCAST node-bounded label table (at a
    catalog too big to broadcast, drop the hint — the edge side
    then pays one dst exchange per round), the (node=src, label)
    vote agg and the node-keyed mode window both key on the edge
    artifact's bucket column — so on a src-bucketed input a whole
    round runs with ZERO edge-sized exchange. The per-round label
    localCheckpoint (node-sized) keeps the plan O(1) deep instead
    of O(rounds), the same lineage-control pattern as
    pagerank_fixed_point; edges deliberately stay un-checkpointed
    (an RDD scan would erase the bucket partitioning)."""
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        votes = (
            edges.join(
                F.broadcast(
                    labels.select(F.col("node").alias("dst"), "lbl")
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("node"), "lbl")
            .agg(F.count("*").alias("c"))
        )
        # mode via MAX of struct(c, −lbl) — the identical
        # (count DESC, label ASC) total order the r1–r14 row_number
        # window ranked by (negating a BIGINT reverses its order
        # exactly), as a hash AGGREGATE instead of a sort window:
        # the node-keyed exchange stays, the per-partition sort goes,
        # and per-key state is one struct (r15, guide §2.4)
        labels = (
            votes.groupBy("node")
            .agg(F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("nl"))).alias("m"))
            .select("node", (-F.col("m.nl")).alias("lbl"))
            .localCheckpoint(eager=True)
        )
    return labels


def graph_community_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the part co-purchase graph by
    synchronous label propagation (Raghavan et al. 2007 shape, made
    deterministic): ``LPA_ROUNDS`` mode-of-neighbor-labels rounds
    with a (count DESC, label ASC) total tie-break. Unlike the
    min-label propagation in dedup_clusters (which computes
    connected COMPONENTS), LPA splits a connected graph into dense
    communities — the catalog-segmentation view of purchasing
    behavior. Output: every node with its community label and the
    community's member count, ordered by node.

    Consumes the shared co-purchase edge artifact (paid once per
    corpus). Rounds are fixed, not run-to-convergence, so the oracle
    unrolls the identical recurrence as chained CTEs. Ref: reference
    ships no graph engine (SURVEY §0); pipeline extension."""
    edges = _copurchase_edges(spark, sf_dir)
    labels = lpa_labels(edges)
    sizes = labels.groupBy("lbl").agg(
        F.count("*").cast("long").alias("community_size")
    )
    return (
        # sizes is community-bounded (≤ |nodes| rows): broadcast so
        # the checkpointed label table isn't re-shuffled on lbl
        labels.join(F.broadcast(sizes), "lbl")
        .select(
            F.col("node").alias("l_partkey"),
            F.col("lbl").cast("long").alias("community"),
            "community_size",
        )
        .orderBy("l_partkey")
    )


def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph: the Pearson
    correlation of (degree(src), degree(dst)) over the directed
    edge list (Newman 2002) — one number saying whether hubs link
    to hubs (r > 0, social-network-like) or hubs link to leaves
    (r < 0, technological/retail-like). Read together with
    graph_degree_powerlaw it decides whether hub-aware plans (the
    compact-forward triangle orientation, salted hub joins) pay:
    disassortative hub-to-leaf graphs concentrate wedge work on a
    few nodes; assortative graphs spread it.

    Because the edge artifact stores BOTH orientations of every
    undirected pair, the directed Pearson r over it IS the standard
    undirected assortativity coefficient (each pair contributes
    (ka,kb) and (kb,ka), which symmetrizes the moments exactly).

    Engine-exact: degrees are exact BIGINT counts; per-edge degree
    products multiply in int64 under a static bound (k ≤ node
    count, the part catalog — k² ≤ 4·10¹⁰ even at SF100) and fold
    in decimal(38,0); the closed form evaluates once on doubles
    with the identical tree in the oracle (the agg_correlation
    recipe on graph degrees).

    Plan: the shared edge artifact is read once (L1/L2 cached); the
    degree table is ONE exchange on src and is node-bounded →
    BROADCAST to both ends of the edge stream (two broadcast hash
    joins, no edge shuffle); the moment fold map-side-combines to a
    single row. Linear in edges at any scale."""
    edges = _copurchase_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(
        F.count("*").cast("long").alias("k")
    )
    ka = deg.select(F.col("src"), F.col("k").alias("ka"))
    kb = deg.select(
        F.col("src").alias("dst"), F.col("k").alias("kb")
    )
    joined = edges.join(F.broadcast(ka), "src").join(
        F.broadcast(kb), "dst"
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    x, y = F.col("ka"), F.col("kb")
    agg = joined.agg(
        F.count("*").cast("long").alias("n_edges"),
        F.sum(dec(x)).alias("sx"),
        F.sum(dec(y)).alias("sy"),
        F.sum(dec(x * y)).alias("sxy"),
        F.sum(dec(x * x)).alias("sxx"),
        F.sum(dec(y * y)).alias("syy"),
    )
    nodes = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum(dec(F.col("k"))).alias("sk"),
    )
    r = V.pearson_sql("n_edges", "sx", "sy", "sxy", "sxx", "syy")
    return V.select(
        agg.crossJoin(F.broadcast(nodes)),
        "n_edges",
        "n_nodes",
        "round(CAST(sk AS DOUBLE) / CAST(n_nodes AS DOUBLE), 6) AS avg_degree",
        f"round({r}, 6) AS assortativity",
    )


def graph_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering summary of the co-purchase graph in ONE
    row: transitivity = 3·triangles / wedges (Newman 2003 — the
    probability two co-purchase partners of a part also co-sell
    together) and the Watts–Strogatz average LOCAL coefficient over
    deg ≥ 2 nodes — the two standard density numbers quoted next to
    the per-node top-k view (`graph_triangle_count`). High
    transitivity with low average-local says density lives in a few
    hub bundles; the reverse says many small tight bundles.

    Exactness: triangle and wedge counts are exact integers
    (wedges = Σ deg(deg−1)/2 in decimal — Σdeg² wraps int64 on hub
    graphs); transitivity is one double division; each local cc is
    one exact-operand division pre-rounded 6dp and the mean folds
    1e6 fixed-point.

    Scale shape: the degree agg is exchange-free on the bucketed
    edge artifact; per-node triangle credits come from the persisted
    ``triangle_credits`` artifact (:func:`_triangle_credits` — the
    compact-forward enumeration builds once per corpus); everything
    else is node-bounded or one-row."""
    edges = _copurchase_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(
        F.count("*").cast("long").alias("deg")
    ).localCheckpoint(eager=True)  # 2 consumers: wedge fold + cc
    per_node = _triangle_credits(spark, sf_dir).select(
        "node", F.col("n_triangles").alias("t")
    )
    cc = F.round(
        F.lit(2.0)
        * F.coalesce("t", F.lit(0)).cast("double")
        / (F.col("deg") * (F.col("deg") - 1)).cast("double"),
        6,
    )
    local = (
        deg.filter(F.col("deg") >= 2)
        .join(per_node, deg.src == per_node.node, "left")
        .select(
            F.coalesce("t", F.lit(0)).cast("long").alias("t"),
            "deg",
            F.round(cc * 1e6).cast("long").alias("cc_fp"),
        )
    )
    folds = local.agg(
        F.count("*").cast("long").alias("n_cc_nodes"),
        (F.sum(F.col("t")) / 3).cast("long").alias("n_triangles"),
        F.sum(
            (
                F.col("deg").cast("decimal(38,0)")
                * (F.col("deg") - 1)
            )
        ).alias("wedges2"),
        F.sum("cc_fp").alias("s_cc"),
    )
    tot = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        (F.sum("deg") / 2).cast("long").alias("n_und_edges"),
    )
    return (
        folds.crossJoin(F.broadcast(tot))
        .select(
            "n_nodes",
            "n_und_edges",
            (F.col("wedges2").cast("decimal(38,0)") / 2)
            .cast("long")
            .alias("n_wedges"),
            "n_triangles",
            F.round(
                F.lit(6.0)
                * F.col("n_triangles").cast("double")
                / F.col("wedges2").cast("double"),
                6,
            ).alias("transitivity"),
            F.round(
                F.col("s_cc").cast("double")
                / 1e6
                / F.col("n_cc_nodes").cast("double"),
                6,
            ).alias("avg_local_cc"),
        )
    )


# ---- Doulion sampled transitivity (VERDICT r7 #2) ---------------------------
TRANSITIVITY_SAMPLE_Q = 4  # keep each undirected pair w.p. 1/Q


def graph_transitivity_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doulion-sampled global transitivity (Tsourakakis et al., KDD
    2009): sparsify the co-purchase graph by keeping each UNDIRECTED
    pair with probability p = 1/Q, count triangles exactly on the
    sampled subgraph, and scale by Q³ — the estimator whose expected
    value is the true triangle count and whose cost is the sampled
    graph's (wedge volume shrinks ~p², triangle volume ~p³). This is
    the production twin of :func:`graph_transitivity` for the scale
    where the exact count's linearity-in-triangles (10× exponent
    1.07, the registry's one ≥1.0 — VERDICT r7 watch-item) IS the
    bottleneck: at 100 TB you audit the estimator once at fixture
    scale, then run only the sampled form.

    The coin is the module-standard md5 hash coin on the canonical
    pair string 'tri|src|dst' (src < dst) — deterministic across
    runs, partitionings, and engines, so the estimate is a VALUE,
    not a distribution: the DuckDB oracle reproduces the identical
    sample and the identical count, and the driver hash-checks it
    (a rand() sparsifier would be neither reproducible nor
    gate-able). Wedges stay EXACT — the full-graph degree aggregate
    is linear and exchange-free on the bucketed edge artifact — so
    the only estimated quantity is the numerator, exactly Doulion's
    split. est_transitivity = 6·T_s·Q³ / wedges2 with integer
    operands and ONE IEEE division, round(6): engine-stable.

    Error audit: tests/test_round8_ops.py::
    test_transitivity_sampled_error_vs_exact locks the fixture-scale
    relative error of est_triangles vs the exact count (|err| ≤ 25%
    at p = 1/4 on both sf0.001 and sf0.01 — measured 3.7% / 1.9%;
    ROUND8_NOTES.md carries the error-vs-exact table per scale).

    Scale shape: one narrow filter over the edge artifact (the coin
    is a scan-side expression — no shuffle to sample), then the
    compact-forward enumerator on the sparsified frame with degrees
    computed ON the sample (orientation by sampled degree keeps the
    apex bound ~sqrt(p·|E|)); every non-sampled aggregate is
    node-bounded or one-row."""
    edges = _copurchase_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(
        F.count("*").cast("long").alias("deg")
    )
    coin = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.lit("tri"),
                        F.col("src").cast("string"),
                        F.col("dst").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % TRANSITIVITY_SAMPLE_Q
        == 0
    )
    kept = edges.filter(F.col("src") < F.col("dst")).filter(coin)
    sym = kept.unionByName(
        kept.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)  # 2 consumers: sampled-degree + orient
    # the enumerator's partition-sizing collect already counts the
    # oriented (= sampled undirected) edges — reuse it instead of a
    # separate sym aggregate job (r15, VERDICT r14 #8)
    stats: dict = {}
    tris = triangles_compact_forward(sym, stats_out=stats)
    q3 = TRANSITIVITY_SAMPLE_Q**3
    counts = tris.agg(
        F.count("*").cast("long").alias("n_sampled_triangles")
    )
    pairs = spark.range(1).select(
        F.lit(stats["oriented_edges"])
        .cast("long")
        .alias("n_sampled_pairs")
    )
    tot = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        (F.sum("deg") / 2).cast("long").alias("n_und_edges"),
        F.sum(
            F.col("deg").cast("decimal(38,0)") * (F.col("deg") - 1)
        ).alias("wedges2"),
    )
    return (
        counts.crossJoin(F.broadcast(pairs))
        .crossJoin(F.broadcast(tot))
        .select(
            "n_nodes",
            "n_und_edges",
            "n_sampled_pairs",
            F.lit(TRANSITIVITY_SAMPLE_Q).cast("int").alias("sample_q"),
            "n_sampled_triangles",
            (F.col("n_sampled_triangles") * F.lit(q3))
            .cast("long")
            .alias("est_triangles"),
            (F.col("wedges2").cast("decimal(38,0)") / 2)
            .cast("long")
            .alias("n_wedges"),
            F.round(
                F.lit(6.0)
                * (F.col("n_sampled_triangles") * F.lit(q3)).cast("double")
                / F.col("wedges2").cast("double"),
                6,
            ).alias("est_transitivity"),
        )
    )
