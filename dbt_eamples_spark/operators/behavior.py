"""Behavioral / product-analytics operators over the event log.

The reference's event pipeline ships raw transaction rows to a
warehouse and leaves sequence analytics to downstream SQL
(`/root/reference/helix-flow/dags/omni/transactions_dag.py:22-44`
builds the log; `slack_utils.py:77-90` only counts and lists rows).
These operators supply the three canonical log-analytics shapes a
user of that pipeline runs next — funnel conversion, cohort
retention, and modal behavior per entity — as native Spark plans.

Scale posture (all three):
 - exactly the algorithmic-minimum shuffles, each keyed on
   ``user_id`` (or its strict superset), so the event log's natural
   ingest partitioning is reused;
 - per-user state is bounded (a funnel holds 4 timestamps; the
   cohort pass holds the user's distinct active-day set, bounded by
   the retention horizon), so no executor buffers a corpus-sized
   structure;
 - no self-joins of the event log and no driver-side collect.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_eamples_spark.catalog import load_table
from dbt_eamples_spark.operators import vecsql as V

# strictly-ordered conversion path; each step must happen strictly
# after the matched timestamp of the previous step
FUNNEL_STEPS = ("view", "click", "signup", "purchase")


def _funnel_state(sorted_events: Column) -> Column:
    """Fold a user's time-sorted events through the funnel state
    machine: state = (t1..t4), ``t_k`` is the first step-k event
    strictly after ``t_{k-1}``. One interpreted fold per user —
    the per-element lambda touches only scalar struct fields, so
    the higher-order-function re-evaluation trap (no CSE across
    lambdas) does not bite here."""
    names = [f"t{i}" for i in range(1, len(FUNNEL_STEPS) + 1)]
    init = F.struct(
        *[F.lit(None).cast("timestamp").alias(n) for n in names]
    )

    def step(acc: Column, ev: Column) -> Column:
        fields = []
        for i, (name, etype) in enumerate(zip(names, FUNNEL_STEPS)):
            cond = acc[name].isNull() & (ev["event_type"] == etype)
            if i == 0:
                pass  # first step: any matching event starts the funnel
            else:
                prev = acc[names[i - 1]]
                cond = cond & prev.isNotNull() & (ev["ts"] > prev)
            fields.append(F.when(cond, ev["ts"]).otherwise(acc[name]).alias(name))
        return F.struct(*fields)

    return F.aggregate(sorted_events, init, step)


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered funnel (view → click → signup → purchase):
    per step, how many users reached it and the conversion rate
    vs step 1.

    Plan: ONE shuffle — ``groupBy(user_id)`` collecting the user's
    funnel-relevant events into a time-sorted array (map-side
    partial aggregation applies; the filter to funnel event types
    pushes into the parquet scan), then a per-user state-machine
    fold (bounded state: 4 timestamps), then a single-row global
    conditional count and a 4-row explode. No event-log self-join —
    the classic SQL formulation joins the log per step, shuffling
    the corpus ``k`` times; this shuffles it once, which is the
    difference between 1 and ``k`` passes at 100 TB.

    Semantics match the sequential-join oracle exactly: ``t_k`` =
    MIN ts of a step-k event strictly after ``t_{k-1}`` (ties at
    equal ts excluded by both engines; array order among equal
    timestamps cannot change the outcome)."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.filter(F.col("event_type").isin(*FUNNEL_STEPS))
        .groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("evs")
        )
    )
    state = per_user.select(_funnel_state(F.col("evs")).alias("s"))
    names = [f"t{i}" for i in range(1, len(FUNNEL_STEPS) + 1)]
    counts = state.agg(
        *[F.count(F.col(f"s.{n}")).alias(f"c{i+1}") for i, n in enumerate(names)]
    )
    step_rows = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("step_idx"),
                F.lit(step).alias("step"),
                F.col(f"c{i+1}").alias("n_users"),
            )
            for i, step in enumerate(FUNNEL_STEPS)
        ]
    )
    return (
        counts.select(F.col("c1"), F.explode(step_rows).alias("x"))
        .select(
            "x.step_idx",
            "x.step",
            "x.n_users",
            F.round(F.col("x.n_users") / F.col("c1"), 4).alias("pct_of_first"),
        )
    )


def retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-cohort retention matrix: users grouped by first active
    day; for each (cohort day, day offset), how many came back and
    what fraction of the cohort that is.

    Plan: TWO shuffles. (1) ``groupBy(user_id)`` collecting the
    user's distinct active-day set (``collect_set`` combines
    map-side; the set is bounded by the retention horizon, here ≤31
    days — at 100 TB you'd bound it with a date filter the same
    way); the cohort day is ``array_min`` of that set, so no second
    pass and no join against a first-seen table. (2) ``groupBy``
    (cohort_day, day_offset) counting users. The per-cohort size
    used for the rate comes from a window over the GRID (bounded by
    days × offsets, tiny at any corpus size) — a join against an
    offset-0 slice would instead duplicate the whole per-user
    subtree into the build side (verified in the executed plan).
    ``explode_outer`` because ``collect_set`` output is provably
    non-empty — plain ``explode`` makes Catalyst infer a
    ``size(days) > 0`` filter that re-evaluates ``array_min`` per
    row."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.select("user_id", F.to_date("ts").alias("d"))
        .groupBy("user_id")
        .agg(F.collect_set("d").alias("days"))
    )
    activity = per_user.select(
        "user_id",
        F.array_min("days").alias("cohort_day"),
        F.explode_outer("days").alias("d"),
    )
    grid = activity.groupBy(
        "cohort_day", F.datediff("d", "cohort_day").alias("day_offset")
    ).agg(F.count("*").alias("n_users"))
    w = Window.partitionBy("cohort_day")
    cohort_size = F.max(
        F.when(F.col("day_offset") == 0, F.col("n_users"))
    ).over(w)
    # dates ship as ISO strings (repo convention: pandas-side date
    # comparison is lossy across engines — see date_spine)
    return grid.select(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        "day_offset",
        "n_users",
        F.round(F.col("n_users") / cohort_size, 4).alias("retention_pct"),
    )


def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user modal event type (most frequent; ties break to the
    lexicographically first type) with its count and the user's
    total — the deterministic MODE() aggregate Spark lacks.

    Plan: ``groupBy(user_id, event_type)`` count (map-side combine
    shrinks the shuffle to ≤ |users|·|types| rows), then a
    ``row_number`` window partitioned by ``user_id`` — a strict
    subset of the first grouping key, so state per window is ≤
    |types| rows. Total per user via a window ``sum`` sharing the
    same user_id Exchange (single extra in-partition pass, no third
    shuffle)."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n_events")
    )
    w_rank = Window.partitionBy("user_id").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    w_all = Window.partitionBy("user_id")
    return (
        counts.withColumn("rn", F.row_number().over(w_rank))
        .withColumn("total_events", F.sum("n_events").over(w_all))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("mode_event"),
            "n_events",
            "total_events",
            F.round(F.col("n_events") / F.col("total_events"), 4).alias(
                "mode_share"
            ),
        )
    )


def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: for
    every consecutive event pair within a user's stream, count
    (previous type → next type) and its share of all transitions —
    the "what actually happens" complement to the prescriptive
    funnel.

    Plan: one ``lag`` window keyed on ``user_id`` (one fact
    shuffle), then ``groupBy(prev, next)`` whose output is bounded
    by |types|² rows regardless of corpus size (map-side combine
    collapses almost everything before the second exchange). The
    grand total for the share comes from an unpartitioned window
    over the GRID — safe because the grid is bounded (same argument
    as window_ntile_deciles), and unlike an ``agg`` + join-back it
    does not duplicate the lag-window subtree into a second
    execution (verified in the executed plan)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
    )
    grid = pairs.groupBy("prev_type", "next_type").agg(
        F.count("*").alias("n_transitions")
    )
    total = F.sum("n_transitions").over(Window.partitionBy())
    return grid.select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.round(F.col("n_transitions") / total, 6).alias("share"),
    )


MARKET_BASKET_TOP_K = 100


def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence (market-basket) mining over order lines: the
    top-``MARKET_BASKET_TOP_K`` part pairs by the number of orders
    containing both — the support counts driving "bought together"
    recommendations and substitution analysis.

    Scale shape: ONE shuffle keyed on ``l_orderkey`` collects each
    basket's distinct part set (collect_set — bounded by the
    basket-size cap: TPC-H ≤ 7 lines, retail ~30, so the buffer is
    tens of ints, unlike the unbounded doc-bucket case dedup had to
    join-shape away), then pairs expand INSIDE the row via a sorted
    array self-product — Σ(basket²) output rows, never corpus². The
    support count map-side-combines on the (part_a, part_b) key
    before its exchange, and the final ranking compiles to
    TakeOrderedAndProject (top-k per partition, k-row driver merge —
    no global sort). Ties break on (part_a, part_b) so the cut is
    deterministic across engines. A self-equi-join of the line table
    would compute the same pairs with two extra shuffles of the fact
    table."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    support = (
        V.self_pairs(baskets, "parts", "part_a", "part_b", "<")
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("support"))
    )
    return support.orderBy(
        F.desc("support"), "part_a", "part_b"
    ).limit(MARKET_BASKET_TOP_K)


# Pareto cut points as integer percents — the class boundary test
# stays in EXACT integer arithmetic (cum*100 <= total*cut), so no
# float rounding can flip a boundary row between engines
ABC_CUT_A = 80
ABC_CUT_B = 95


def abc_pareto_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by revenue contribution:
    rank parts by revenue, accumulate the running share, and band
    A (first 80 % of revenue), B (to 95 %), C (tail) — the standard
    inventory-stratification cut.

    Revenue folds in integer cents (round half-up at the line level,
    then bigint sums), so both the per-part totals and the running
    cumulative are order-independent and bit-identical across
    engines; the class boundary compares ``cum*100 ≤ total*cut`` in
    integers. The ranking window is GLOBAL but runs over the PART
    dimension (catalog-bounded: one row per part after the first
    aggregate), not the fact table — the same bounded-slice argument
    as window_ntile_deciles; at true catalog scale the same banding
    falls out of a two-phase percentile split. One shuffle for the
    part aggregate, one single-partition pass over the part rows."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.select(
        "l_partkey",
        F.round(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100
        )
        .cast("long")
        .alias("cents"),
    ).groupBy("l_partkey").agg(F.sum("cents").alias("rev_cents"))
    w = Window.orderBy(F.desc("rev_cents"), "l_partkey")
    wall = Window.partitionBy()
    ranked = rev.select(
        "l_partkey",
        "rev_cents",
        F.sum("rev_cents").over(w).alias("cum_cents"),
        F.sum("rev_cents").over(wall).alias("total_cents"),
    )
    return ranked.select(
        "l_partkey",
        "rev_cents",
        F.round(F.col("cum_cents") / F.col("total_cents"), 6).alias(
            "cum_share"
        ),
        F.when(
            F.col("cum_cents") * 100 <= F.col("total_cents") * ABC_CUT_A, "A"
        )
        .when(
            F.col("cum_cents") * 100 <= F.col("total_cents") * ABC_CUT_B, "B"
        )
        .otherwise("C")
        .alias("abc_class"),
    )


PATH_DEPTH = 3  # first-k event types per user


def events_user_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Onboarding-path mining: each user's first PATH_DEPTH event
    types joined into a journey string (``view>click>signup``),
    counted across users — the sequence-analytics staple product
    teams run on the reference's event pipeline downstream
    (`/root/reference/helix-flow/dags/omni/transactions_dag.py:22-44`
    ships the raw log; the path rollup is pure warehouse SQL there).

    Scale: ONE logical key — the ranking window, the per-user path
    concat, and the per-user groupBy all partition on ``user_id``,
    so Catalyst plans a single user_id Exchange feeding all three
    (verify: one hashpartitioning(user_id) in the plan). Per-user
    state is PATH_DEPTH rows; the final path rollup shuffles one
    row per user, and its output is bounded by |event_types|^depth
    (125 here), not corpus size. Ties broken on event_id so the
    journey is deterministic under any partitioning."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first_k = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PATH_DEPTH)
    )
    per_user = first_k.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s.event_type,
            ),
        ).alias("path")
    )
    return per_user.groupBy("path").agg(F.count("*").alias("n_users"))


TOUCH_TYPES = ("click", "view")  # marketing touchpoints


def events_attribution_last_touch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Last-touch revenue attribution: each purchase credits the
    user's most recent marketing touchpoint (click/view) strictly
    before it; purchases with no prior touch are 'direct'. The
    standard marketing-analytics rollup over the reference's event
    pipeline — pure warehouse SQL downstream there, a native plan
    here.

    Scale: ONE user_id window pass tags every purchase with its
    last preceding touch (running ``last(ignorenulls)`` — the as-of
    join shape of operators/asof.py, no event-log self-join), then
    one tiny aggregate to |touch_types|+1 rows with integer-cents
    revenue. Ties broken on event_id; both shuffles are the
    algorithmic minimum (window key, then rollup key)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type").isin(*TOUCH_TYPES), F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    purchases = (
        ev.select(
            "event_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
            touch.alias("touch"),
        )
        .filter(F.col("event_type") == "purchase")
    )
    return (
        purchases.groupBy(
            F.coalesce("touch", F.lit("direct")).alias("touch_type")
        )
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum("cents").alias("revenue_cents"),
        )
    )


# ---- rolling z-score anomaly detection (X30) -------------------------------
ANOM_WINDOW_H = 24   # trailing baseline: the prior 24 clock hours
ANOM_K = 3           # flag beyond 3 sigma
ANOM_MIN_PRIOR = 12  # require half a day of baseline before flagging


def events_anomaly_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event-count anomaly flags per type: a trailing-24h
    rolling z-score, evaluated in EXACT integer arithmetic.

    |x - mu| > K*sigma over the prior window (m hours present,
    sum s1, sum-of-squares s2; population variance) cross-multiplies
    to (x*m - s1)^2 > K^2 * (m*s2 - s1^2) — integers only, so the
    flag can never diverge across engines the way a float
    mean/stddev comparison can. The factors are accumulated as
    decimal(38,0) BEFORE multiplying (the agg_correlation lesson:
    int64 wraps at ~1e9 events/hour once squared; 38 digits hold
    hourly counts to ~1e17). The DuckDB oracle's HUGEINT arithmetic
    is exact at the same widths; its HUGEINT outputs are cast back
    to BIGINT (the abc_pareto typing lesson).

    The window is a RANGE frame over the integer hour index, not a
    ROWS frame — an hour with zero events produces no row, and a
    ROWS frame would silently stretch the baseline across the gap.

    Scale: one shuffle (the hourly pre-aggregation, map-side
    combined); the window runs over the AGGREGATE — O(hours x types)
    rows, never raw events. At 100 TB the hourly rollup is the only
    full-data pass."""
    ev = load_table(spark, sf_dir, "events", parallelize=True)
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count("*").alias("n_events"))
    return anomaly_flags_over_hourly(hourly)


def anomaly_flags_over_hourly(hourly: DataFrame) -> DataFrame:
    """The rolling z-score flag pass over an ALREADY-AGGREGATED
    hourly frame (event_type, hour, n_events) — factored out so the
    streaming twin can maintain the hourly rollup incrementally and
    run this identical bounded pass over the aggregate (O(hours ×
    types) rows) per drain. Arithmetic contract documented on
    :func:`events_anomaly_rolling`."""
    hourly = hourly.withColumn(
        "hnum", (F.unix_timestamp("hour") / 3600).cast("long")
    )
    rw = (
        Window.partitionBy("event_type")
        .orderBy("hnum")
        .rangeBetween(-ANOM_WINDOW_H, -1)
    )
    st = hourly.select(
        "event_type",
        "hour",
        "n_events",
        F.count("*").over(rw).alias("m"),
        F.sum("n_events").over(rw).alias("s1"),
        F.sum(F.col("n_events") * F.col("n_events")).over(rw).alias("s2"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    x, m, s1, s2 = (
        dec(F.col("n_events")),
        dec(F.col("m")),
        dec(F.col("s1")),
        dec(F.col("s2")),
    )
    dev = x * m - s1
    flag = (F.col("m") >= ANOM_MIN_PRIOR) & (
        dev * dev > F.lit(ANOM_K * ANOM_K) * (m * s2 - s1 * s1)
    )
    return st.select(
        "event_type",
        "hour",
        "n_events",
        F.col("m").alias("n_prior_hours"),
        F.coalesce("s1", F.lit(0)).cast("long").alias("sum_prior"),
        flag.alias("is_anomaly"),
    )


# ---- rolling active users (X31) --------------------------------------------
WAU_DAYS = 7
MAU_DAYS = 30


def events_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DAU / WAU / MAU per observed day — trailing 7- and
    30-day distinct active users.

    Shape: one distinct pass produces the (user, day) activity
    pairs; each pair then CONTRIBUTES ITSELF to the WAU_DAYS (resp.
    MAU_DAYS) trailing windows it falls inside via an in-row
    sequence explode, and a count-distinct per target day finishes
    the job. No per-day user SETS are ever materialized — a
    collect_set-per-day rollup is an aggregation-buffer bomb at 1e9
    users/day, while this plan is |pairs|·(7+30) exploded rows
    through ordinary shuffles. The explode output is restricted to
    OBSERVED days by an equi-join against the DAU frame (bounded:
    one row per day), so no phantom tail days appear after the last
    event. For a 100 TB first pass the documented swap is
    approx_count_distinct (HLL) per window — same plan, sketch
    accuracy; this exact form is the oracle-checkable ground truth.
    All outputs are integers on DATE keys — nothing to diverge."""
    ev = load_table(spark, sf_dir, "events")
    # checkpoint the distinct pass: all three branches consume it, and
    # without materialization each re-scans the raw event log (3 full
    # passes at 100 TB instead of one)
    pairs = (
        ev.select(
            "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    dau = pairs.groupBy("day").agg(F.count("*").cast("long").alias("dau"))

    def rolling(n_days: int, out: str) -> DataFrame:
        targets = F.explode(
            F.expr(f"sequence(day, date_add(day, {n_days - 1}))")
        ).alias("target_day")
        return (
            pairs.select("user_id", targets)
            .join(
                F.broadcast(dau.select(F.col("day").alias("target_day"))),
                "target_day",
            )
            .groupBy("target_day")
            .agg(F.countDistinct("user_id").cast("long").alias(out))
        )

    wau = rolling(WAU_DAYS, "wau")
    mau = rolling(MAU_DAYS, "mau")
    return (
        dau.join(
            F.broadcast(wau), dau["day"] == wau["target_day"]
        )
        .join(F.broadcast(mau), dau["day"] == mau["target_day"])
        .select("day", "dau", "wau", "mau")
    )


def events_inter_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival profile: count / min / median / max of
    the gaps between a user's consecutive events — the activity-
    cadence statistic behind engagement scoring and bot detection
    (a human's median gap is minutes; a scraper's is milliseconds).
    The reference's event log (`transactions_dag.py:22-44`) lands the
    raw sequence; this is the first-derivative view of it.

    ONE shuffle keyed on ``user_id`` shared by the lag window and
    the final per-user aggregate (same-key window → groupBy reuses
    the Exchange), per-user state bounded by the exact-percentile
    buffer of that user's gaps — swap ``percentile`` for the
    mergeable ``percentile_approx`` sketch when single users own
    corpus-scale histories (see agg_approx_percentiles).

    ENGINE-EXACT: gaps are integer MICROSECONDS (``unix_micros`` /
    DuckDB ``epoch_us`` — the fixture's timestamps carry sub-second
    parts, so whole-second truncation would diverge between
    engines); the only float is the median's midpoint interpolation
    on two integers, exact in IEEE. Ties on ts break by event_id in
    both engines."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gaps = (
        ev.select("user_id", "ts", "event_id")
        .withColumn("prev_us", F.lag(F.unix_micros("ts")).over(w))
        .filter(F.col("prev_us").isNotNull())
        .select(
            "user_id",
            (F.unix_micros("ts") - F.col("prev_us")).alias("gap_us"),
        )
    )
    return gaps.groupBy("user_id").agg(
        F.count("*").alias("n_gaps"),
        F.min("gap_us").alias("min_gap_us"),
        F.expr("percentile(gap_us, 0.5)").alias("p50_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
        F.sum("gap_us").alias("total_gap_us"),
    )


# ---- OHLC resampling (X36) --------------------------------------------------
def ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC (open / high / low / close) resampling of the
    event value series per event type — the canonical time-series
    downsample (finance bars, metric rollups) the reference's
    15-minute transaction DAG would feed
    (`transactions_dag.py:22-44` lands the raw ticks).

    Open/close are PICKS of existing doubles (first / last value in
    the hour under the total order ``(ts, event_id)``), and high/low
    are min/max picks — no float arithmetic ever happens, so every
    output bit matches any engine that picks the same rows. The
    tie-break on ``event_id`` makes the picked row unique even when
    two events share a timestamp.

    Scale shape: ONE exchange keyed on ``(event_type, hour)`` is
    shared by the row-number window and the final aggregate (same
    keys, so Catalyst reuses the partitioning instead of adding a
    second shuffle). Window state is a row counter, not a buffer;
    the aggregate is map-side combinable. At 100 TB this is the
    plan you want: resampling is embarrassingly parallel in the
    (series, bucket) key and never sees a global sort."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        "ts",
        "event_id",
        "value",
    )
    w = Window.partitionBy("event_type", "hour").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    marked = ev.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(Window.partitionBy("event_type", "hour"))
    )
    return (
        marked.groupBy("event_type", "hour")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(
                F.when(F.col("rn") == F.col("n"), F.col("value"))
            ).alias("close"),
            F.count("*").cast("long").alias("n_events"),
        )
        .select(
            "event_type",
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )


# ---- event-type association mining (X38) -----------------------------------
def events_type_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between event-type pairs at the
    USER-DAY level: PMI(a,b) = ln(N·n_ab / (n_a·n_b)) where n_x
    counts user-days exhibiting type x — the association statistic
    behind "sessions that error also churn" insights; positive PMI =
    the pair co-occurs within a day above independence. (The
    per-user-lifetime entity is degenerate on any active product —
    every heavy user eventually does everything; the day grain is
    where association structure lives.)

    Scale shape: one distinct (user, day, type) pass feeds
    everything; co-occurrence expands IN-ROW from each user-day's
    sorted type set (bounded by |types|² per entity, the
    market-basket shape — never a corpus self-join); marginals and N
    are a types-sized aggregate and a one-row count, both broadcast
    back to the 10-row pair frame. Determinism: N·n_ab and n_a·n_b
    are exact bigints (≪2^53 even at 1e9 entities); their IEEE
    quotient is correctly rounded, so the single ln evaluates on an
    identical double and pre-rounds at 6dp (the JVM-vs-libm
    guard)."""
    ev = load_table(spark, sf_dir, "events")
    pairs_src = (
        ev.select(
            "user_id",
            F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
            "event_type",
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_total = (
        pairs_src.select("user_id", "day").distinct().count()
    )  # scalar: one driver int
    marg = pairs_src.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n")
    )
    sets = pairs_src.groupBy("user_id", "day").agg(
        F.array_sort(F.collect_set("event_type")).alias("types")
    )
    co = (
        V.self_pairs(sets, "types", "type_a", "type_b", "<")
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("long").alias("n_ab"))
    )
    ma = marg.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("n_a")
    )
    mb = marg.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("n_b")
    )
    ratio = (F.col("n_ab") * F.lit(n_total)).cast("double") / (
        F.col("n_a") * F.col("n_b")
    ).cast("double")
    return (
        co.join(F.broadcast(ma), "type_a")
        .join(F.broadcast(mb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(F.log(ratio), 6).alias("pmi"),
        )
    )


# ---- funnel conversion latency (X39) ---------------------------------------
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency: per user, the gap between the FIRST view and
    the first purchase AT OR AFTER it; reported as the converting
    population's latency percentiles. Third leg of the funnel suite:
    `events_funnel` counts stage reach, `metric_compiled_conversion`
    rates the step, this measures HOW LONG it takes (the SLA /
    campaign-lag statistic).

    Scale shape: ONE user_id exchange serves everything — the
    first-view window, the purchase filter, and the per-user min all
    key on user_id (no pair join, no population-sized broadcast; a
    first-view table joined back would be one or both). Latencies
    are exact integer seconds; the percentile set runs over the
    converted-users frame (one row per user). Timestamps fold as
    EXACT integer microseconds (`unix_micros` / `epoch_us` — a
    seconds-level `unix_timestamp` truncates sub-second parts and
    its truncation phase differs from DuckDB's, which flipped a
    percentile by one row in testing). Exact `percentile`
    (quantile_cont twin) per the agg_percentiles convention; swap to
    percentile_approx at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    fv = F.min(
        F.when(F.col("event_type") == "view", F.col("uts"))
    ).over(w)
    marked = (
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .select("user_id", "event_type", F.unix_micros("ts").alias("uts"))
        .withColumn("first_view", fv)
    )
    n_viewed = (
        marked.filter(F.col("first_view").isNotNull())
        .select("user_id")
        .distinct()
        .count()
    )  # scalar: one driver int
    conv = (
        marked.filter(
            (F.col("event_type") == "purchase")
            & (F.col("uts") >= F.col("first_view"))
        )
        .groupBy("user_id")
        .agg((F.min("uts") - F.max("first_view")).alias("latency_us"))
    )
    return conv.agg(
        F.lit(n_viewed).cast("long").alias("n_viewed"),
        F.count("*").cast("long").alias("n_converted"),
        F.min("latency_us").cast("long").alias("min_us"),
        F.round(F.expr("percentile(latency_us, 0.5)"), 4).alias("p50_us"),
        F.round(F.expr("percentile(latency_us, 0.9)"), 4).alias("p90_us"),
        F.max("latency_us").cast("long").alias("max_us"),
    )


def agg_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration across parts — the
    one-number inequality companion to `abc_pareto_class`'s banding:
    G = (2·Σ i·xᵢ) / (n·Σx) − (n+1)/n over revenues sorted
    ascending (Gini 1912, rank formulation).

    Determinism: revenues fold as integer cents; the i·xᵢ PRODUCT
    itself is computed in decimal(38,0) (the rank operand is cast
    BEFORE the multiply — a long×long product would wrap first and
    the cast after would only launder the wrapped value; the
    agg_correlation lesson applied to the term, not just the sum).
    The closed form evaluates exact integers cast to double on one
    shared expression tree.

    Scale shape: per-part revenue is the fact-table aggregate; the
    ranking window runs over the CATALOG-bounded result (one row per
    part — the abc_pareto bounded-slice argument), and the final
    fold is a one-row aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    rev = li.select("l_partkey", cents.alias("cents")).groupBy(
        "l_partkey"
    ).agg(F.sum("cents").alias("rev"))
    w = Window.orderBy(F.asc("rev"), F.asc("l_partkey"))
    ranked = rev.select(
        "rev", F.row_number().over(w).cast("long").alias("i")
    )
    folds = ranked.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("rev").cast("decimal(38,0)").alias("sx"),
        F.sum(
            F.col("i").cast("decimal(38,0)") * F.col("rev")
        ).alias("six"),
    )
    g = (
        F.lit(2.0) * F.col("six").cast("double")
        / (F.col("n").cast("double") * F.col("sx").cast("double"))
        - (F.col("n") + 1).cast("double") / F.col("n").cast("double")
    )
    return folds.select(
        "n",
        F.col("sx").cast("long").alias("total_cents"),
        F.round(g, 6).alias("gini"),
    )


def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of revenue concentration across
    parts — T = (1/n)·Σ (xᵢ/μ)·ln(xᵢ/μ) (Theil 1967). Completes the
    inequality toolkit next to `agg_gini_revenue` (rank-based) and
    `agg_hhi_concentration` (share-squares): Theil is the only one
    that DECOMPOSES additively into between-group + within-group
    terms, which is why mix audits report it.

    Engine-exact: xᵢ/μ = (xᵢ·n)/Σx with both operands exact
    decimals cast to double (one correctly-rounded division); its
    ln is pre-rounded 6dp (JVM Math.log vs libm drift — the
    text_word_entropy recipe); each term folds as a 1e9 fixed-point
    BIGINT so the sum is order-independent.

    Scale shape: fact-table cents aggregate (1 exchange), one-row
    total broadcast back, one-row final fold — the catalog-bounded
    per-part slice never leaves the executors."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    rev = (
        li.select("l_partkey", cents.alias("cents"))
        .groupBy("l_partkey")
        .agg(F.sum("cents").cast("decimal(38,0)").alias("rev"))
    )
    tot = rev.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("rev").cast("decimal(38,0)").alias("sx"),
    )
    ratio = (
        F.col("rev") * F.col("n")
    ).cast("double") / F.col("sx").cast("double")
    term_fp = F.round(
        ratio * F.round(F.log(ratio), 6) * 1e9
    ).cast("long")
    return (
        rev.crossJoin(F.broadcast(tot))
        .select("n", "sx", term_fp.alias("t_fp"))
        .groupBy("n", "sx")
        .agg(F.sum("t_fp").alias("s_fp"))
        .select(
            F.col("n").alias("n_parts"),
            F.col("sx").cast("long").alias("total_cents"),
            F.round(
                F.col("s_fp").cast("double")
                / 1e9
                / F.col("n").cast("double"),
                6,
            ).alias("theil"),
        )
    )


# ---- EWMA smoothing (ts family) --------------------------------------------
EWMA_SCALE = 10**6  # fixed-point smoothing state: 6 fractional digits


def ts_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of the daily event
    count per type (alpha = 1/4) — the smoothing baseline a
    monitoring pipeline plots against the raw series (the EWMA
    control-chart statistic, Roberts 1959, the same trailing
    statistic events_anomaly_rolling thresholds).

    Engine-exact contract: floats in a recurrence drift across
    engines, so the state is a FIXED-POINT BIGINT at ``EWMA_SCALE``
    and the alpha=1/4 update is pure integer arithmetic::

        s_1 = x_1 * SCALE
        s_t = (x_t * SCALE + 3 * s_{t-1}) >> 2      -- = DIV 4

    (s is a convex combination of x*SCALE values, so s <= max(x) *
    SCALE <= ~2^50 at any realistic daily volume — no overflow; the
    shift IS division by 4 because every operand is non-negative.)
    The reported ``ewma`` is one IEEE division + round(6) off the
    integer state: bit-stable in any engine. The DuckDB oracle runs
    the SAME recurrence as a recursive CTE; equality is exact, not
    approximate.

    Plan: one shuffle builds the daily rollup (map-side combined);
    the recurrence folds INSIDE a row — each type's series collects
    to one array bounded by the calendar (|days|, never corpus
    size), the same bounded-series argument as ts_resample_ohlc.
    Days with zero events are skipped, not zero-filled (compose
    with ts_gap_fill for a spined variant)."""
    ev = load_table(spark, sf_dir, "events", parallelize=True)
    daily = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
    ).agg(F.count("*").cast("long").alias("n_events"))
    return ewma_over_daily(daily)


def ewma_over_daily(daily: DataFrame) -> DataFrame:
    """The recurrence fold over an ALREADY-AGGREGATED daily frame
    (event_type, day, n_events) — factored out so the streaming twin
    can maintain the rollup incrementally and run this identical
    bounded pass over the drained aggregate (the
    anomaly_flags_over_hourly split)."""
    series = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "n_events"))).alias("xs")
    )
    acc0 = F.struct(
        F.expr(
            "CAST(array() AS "
            "ARRAY<STRUCT<day: DATE, n_events: BIGINT, ewma_fp: BIGINT>>)"
        ).alias("out"),
        F.lit(-1).cast("long").alias("s"),
    )

    def step(acc, x):
        s = F.when(acc["s"] < 0, x["n_events"] * EWMA_SCALE).otherwise(
            F.shiftright(x["n_events"] * EWMA_SCALE + 3 * acc["s"], 2)
        )
        return F.struct(
            F.concat(
                acc["out"],
                F.array(
                    F.struct(
                        x["day"].alias("day"),
                        x["n_events"].alias("n_events"),
                        s.alias("ewma_fp"),
                    )
                ),
            ).alias("out"),
            s.alias("s"),
        )

    folded = series.select(
        "event_type",
        F.explode(
            F.aggregate("xs", acc0, step, lambda a: a["out"])
        ).alias("r"),
    )
    return folded.select(
        "event_type",
        F.date_format("r.day", "yyyy-MM-dd").alias("day"),
        F.col("r.n_events").alias("n_events"),
        F.col("r.ewma_fp").alias("ewma_fp"),
        F.round(F.col("r.ewma_fp") / F.lit(float(EWMA_SCALE)), 6).alias(
            "ewma"
        ),
    )


# ---- Markov stationary distribution ----------------------------------------
MARKOV_ITERS = 4
MARKOV_SCALE = 10**12  # probability mass in fixed-point units
MARKOV_PSCALE = 10**6  # per-edge transition probability fixed point


def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the behavior Markov chain: power-
    iterate pi' = pi.P over the events_transition_matrix chain —
    "where does user attention settle" — the long-run complement to
    the one-step transition shares.

    Engine-exact contract (the PageRank pattern, graph.py): mass is
    fixed-point BIGINT at ``MARKOV_SCALE``; each edge first gets an
    integer probability p_ij = (c_ij * PSCALE) DIV c_i, then every
    iteration moves (pi_i * p_ij) DIV PSCALE along each edge and
    sums per target. Overflow bounds: pi_i <= 1e12 and p_ij <= 1e6,
    so the product is <= 1e18 < 2^63; c_ij * PSCALE stays in int64
    up to 9e12 transitions per pair (far beyond 100 TB's event
    pairs per type pair). DIV flooring loses ≤|types| units of mass
    per step — deterministic in every engine, so hash-exact.

    Types with no outgoing transition (possible only if a type
    occurs solely as a user's final event) would be dangling; the
    chain restricts to types observed as ``prev`` (documented, and
    vacuous on any realistic log where every type both enters and
    leaves). Plan: one lag-window shuffle builds the |types|² grid;
    iterations run ENTIRELY on the grid (catalog-bounded rows) with
    broadcast pi — corpus is touched exactly once."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    grid = (
        pairs.groupBy("prev_type", "next_type")
        .agg(F.count("*").cast("long").alias("c"))
        .withColumn(
            "c_out",
            F.sum("c").over(Window.partitionBy("prev_type")),
        )
        .select(
            "prev_type",
            "next_type",
            "c",
            F.expr(f"(c * {MARKOV_PSCALE}) DIV c_out").alias("p_fp"),
        )
        .localCheckpoint(eager=True)
    )
    nodes = grid.groupBy(F.col("prev_type").alias("event_type")).agg(
        F.sum("c").cast("long").alias("n_out")
    )
    n_types = nodes.count()  # scalar: |types|, catalog-bounded
    pi = nodes.select(
        "event_type",
        F.lit(MARKOV_SCALE // n_types).cast("long").alias("pi_fp"),
    )
    for _ in range(MARKOV_ITERS):
        pi = (
            grid.join(
                F.broadcast(
                    pi.select(
                        F.col("event_type").alias("prev_type"), "pi_fp"
                    )
                ),
                "prev_type",
            )
            .groupBy(F.col("next_type").alias("event_type"))
            .agg(
                F.sum(
                    F.expr(f"(pi_fp * p_fp) DIV {MARKOV_PSCALE}")
                )
                .cast("long")
                .alias("pi_fp")
            )
            # restrict to the chain's node set (types observed as prev)
            .join(F.broadcast(nodes.select("event_type")), "event_type")
            .localCheckpoint(eager=True)
        )
    return (
        nodes.join(pi, "event_type")
        .select(
            "event_type",
            "n_out",
            "pi_fp",
            F.round(F.col("pi_fp") / F.lit(float(MARKOV_SCALE)), 6).alias(
                "pi"
            ),
        )
        .orderBy(F.desc("pi_fp"), F.asc("event_type"))
    )


# ---- CUSUM changepoint flags -----------------------------------------------
CUSUM_SLACK_PCT = 50  # slack k = 50% of the series mean
CUSUM_H_PCT = 400  # decision threshold h = 4x the series mean


def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided tabular CUSUM over the daily event count per type
    (Page 1954): S+_t = max(0, S+_{t-1} + x_t - mu - k) accumulates
    upward drift, S-_t the downward mirror; a side crossing h flags
    a level shift — the changepoint detector that catches slow
    drifts the per-point z-score (events_anomaly_rolling) misses.
    mu is the series mean; k and h are mean-relative
    (``CUSUM_SLACK_PCT``/``CUSUM_H_PCT``), the standard count-rate
    parameterization.

    Engine-exact contract: mu = tot/n is rational, so the recurrence
    runs in integer units of 1/(100*n): X_t = 100*n*x_t, M+K =
    (100 + SLACK)*tot, H = H_PCT*tot — max(0, ...) over integers,
    bit-stable in any engine (the EWMA/pagerank fixed-point
    pattern). Bounds: S never exceeds sum(X) = 100*n*tot, int64-safe
    to ~1e14 events per series-year. Reported cusum values divide
    the integer state by 100.0*n once, round(6).

    Plan: identical shape to ts_ewma_smooth — one daily-rollup
    shuffle, per-type fold INSIDE a row over the calendar-bounded
    series (tot/n ride along in the same aggregate, so the scan
    count stays one)."""
    ev = load_table(spark, sf_dir, "events", parallelize=True)
    daily = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
    ).agg(F.count("*").cast("long").alias("n_events"))
    return cusum_over_daily(daily)


def cusum_over_daily(daily: DataFrame) -> DataFrame:
    """The tabular-CUSUM pass over an ALREADY-AGGREGATED daily frame
    (event_type, day, n_events) — factored out for the streaming
    twin, like ewma_over_daily."""
    series = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "n_events"))).alias(
            "xs"
        ),
        F.sum("n_events").cast("long").alias("tot"),
        F.count("*").cast("long").alias("n_days"),
    )
    acc0 = F.struct(
        F.expr(
            "CAST(array() AS ARRAY<STRUCT<day: DATE, n_events: BIGINT, "
            "sp: BIGINT, sn: BIGINT>>)"
        ).alias("out"),
        F.lit(0).cast("long").alias("sp"),
        F.lit(0).cast("long").alias("sn"),
    )
    up = F.lit(100 + CUSUM_SLACK_PCT) * F.col("tot")
    dn = F.lit(100 - CUSUM_SLACK_PCT) * F.col("tot")

    def step(acc, x):
        xs = F.lit(100) * F.col("n_days") * x["n_events"]
        sp = F.greatest(F.lit(0).cast("long"), acc["sp"] + xs - up)
        sn = F.greatest(F.lit(0).cast("long"), acc["sn"] + dn - xs)
        return F.struct(
            F.concat(
                acc["out"],
                F.array(
                    F.struct(
                        x["day"].alias("day"),
                        x["n_events"].alias("n_events"),
                        sp.alias("sp"),
                        sn.alias("sn"),
                    )
                ),
            ).alias("out"),
            sp.alias("sp"),
            sn.alias("sn"),
        )

    h = F.lit(CUSUM_H_PCT) * F.col("tot")
    folded = series.select(
        "event_type",
        "tot",
        "n_days",
        F.explode(F.aggregate("xs", acc0, step, lambda a: a["out"])).alias(
            "r"
        ),
    )
    scale = F.lit(100.0) * F.col("n_days")
    return folded.select(
        "event_type",
        F.date_format("r.day", "yyyy-MM-dd").alias("day"),
        F.col("r.n_events").alias("n_events"),
        F.col("r.sp").alias("cusum_up_fp"),
        F.col("r.sn").alias("cusum_down_fp"),
        F.round(F.col("r.sp") / scale, 6).alias("cusum_up"),
        F.round(F.col("r.sn") / scale, 6).alias("cusum_down"),
        (F.col("r.sp") > h).alias("shift_up"),
        (F.col("r.sn") > h).alias("shift_down"),
    )


# ---- classical seasonal decomposition ---------------------------------------
STL_PERIOD = 7  # weekly seasonality over daily buckets


def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of the daily event count per
    type: trend (centered 7-day moving average), weekly seasonal
    index (per-weekday mean of the detrended series), and residual —
    the textbook decomposition (Hyndman & Athanasopoulos, FPP3 §3.4)
    behind every 'is Monday always like this' triage question.

    Engine-exact contract: every reported value is ONE division of
    exact int64 numerators (then round(6)) — no chained float ops:

        trend_t    = s7_t / 7            (s7 = centered 7-day sum)
        n_t        = 7*x_t - s7_t        (detrended, x7 numerator)
        seasonal_d = seas_num_d / (7*m)  (seas_num = sum of n_t
                                          over the dow's m full-
                                          window days)
        resid_t    = (m*n_t - seas_num_d) / (7*m)

    Weekday = epoch-day mod 7 (identical arithmetic in any engine —
    named DOW functions disagree on 0- vs 1-basing). Days without a
    FULL centered window (series edges, gap-adjacent days) get NULL
    trend and residual rather than a silently-shortened mean;
    `seasonal` — a property of the weekday, not of the day's own
    window — still populates on those days via the left join
    (compose with ts_gap_fill upstream for gapless series).

    Plan: one daily-rollup shuffle; the trend window is a RANGE
    frame over the integer day number on the same (type-keyed)
    partitioning; the seasonal index is a |types|*7-row aggregate
    broadcast back. The corpus is touched once."""
    ev = load_table(spark, sf_dir, "events", parallelize=True)
    daily = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
    ).agg(F.count("*").cast("long").alias("n_events"))
    return seasonal_decompose_over_daily(daily)


def seasonal_decompose_over_daily(daily: DataFrame) -> DataFrame:
    """Decomposition pass over a (event_type, day, n_events) daily
    rollup — factored out so the streaming twin can re-run it over
    the incrementally-maintained aggregate per drain (the
    ewma_over_daily / holt_over_daily split)."""
    daily = daily.withColumn(
        "day_num",
        F.datediff("day", F.lit("1970-01-01")).cast("long"),
    )
    half = (STL_PERIOD - 1) // 2
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_num")
        .rangeBetween(-half, half)
    )
    st = (
        daily.select(
            "event_type",
            "day",
            F.pmod(F.col("day_num"), F.lit(STL_PERIOD)).alias("dow"),
            "n_events",
            F.when(
                F.count("*").over(w) == STL_PERIOD,
                F.sum("n_events").over(w).cast("long"),
            ).alias("s7"),
        )
        .withColumn(
            "n_t", F.lit(STL_PERIOD) * F.col("n_events") - F.col("s7")
        )
        # both the seasonal index and the final join consume st:
        # materialize the O(days x types) aggregate once, or Catalyst
        # re-runs the corpus scan + rollup into each consumer
        .localCheckpoint(eager=True)
    )
    seas = st.groupBy("event_type", "dow").agg(
        F.sum("n_t").cast("long").alias("seas_num"),
        F.count("n_t").cast("long").alias("m"),
    ).filter(F.col("m") > 0)
    den = F.lit(float(STL_PERIOD)) * F.col("m")
    return (
        st.join(F.broadcast(seas), ["event_type", "dow"], "left")
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dow",
            "n_events",
            F.round(F.col("s7") / F.lit(float(STL_PERIOD)), 6).alias(
                "trend"
            ),
            F.round(F.col("seas_num") / den, 6).alias("seasonal"),
            F.round(
                (F.col("m") * F.col("n_t") - F.col("seas_num")) / den, 6
            ).alias("residual"),
        )
    )


# ---- Kaplan-Meier churn survival -------------------------------------------
KM_SCALE = 10**12  # survival probability in fixed-point units
KM_CENSOR_GAP_DAYS = 7  # still-active window: no churn verdict yet


def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of user lifetime (Kaplan & Meier
    1958): lifetime = days between a user's first and last event;
    users whose last activity falls within ``KM_CENSOR_GAP_DAYS`` of
    the observation end are CENSORED (they may still be alive), and
    KM is the estimator that uses them correctly — each distinct
    lifetime t steps S' = S * (n_t - d_t) / n_t with n_t the at-risk
    count (lifetime >= t) and d_t the observed churns at t. The
    retention question ("what fraction of users survive 14 days?")
    answered without the still-active bias.

    Engine-exact contract: S is fixed-point BIGINT at ``KM_SCALE``
    and every step is floor(S * (n-d) / n) in EXACT integer
    arithmetic — python big-ints here, HUGEINT in the DuckDB oracle,
    identical floors. The step table itself (one row per distinct
    lifetime) is HORIZON-bounded (≤ observation days, NEVER corpus-
    sized), so folding it driver-side is bounded model state — the
    same argument as the BPE argmax and the one-row bounds
    collects; at any corpus size the collect is ≤ a few thousand
    rows.

    Plan: one user_id exchange builds per-user (first, last) spans;
    the lifetime table is a second (bounded) hash-agg; the
    observation end rides along via a one-row broadcast cross join.
    The corpus is touched once."""
    ev = load_table(spark, sf_dir, "events", parallelize=True)
    spans = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("day", F.min("ts"))).alias("first_day"),
        F.to_date(F.date_trunc("day", F.max("ts"))).alias("last_day"),
    )
    obs_end = spans.agg(F.max("last_day").alias("obs_end"))
    life = spans.crossJoin(F.broadcast(obs_end)).select(
        F.datediff("last_day", "first_day").cast("long").alias("t"),
        (
            F.datediff("obs_end", "last_day") < KM_CENSOR_GAP_DAYS
        ).alias("censored"),
    )
    table = (
        life.groupBy("t")
        .agg(
            F.sum(F.when(~F.col("censored"), 1).otherwise(0))
            .cast("long")
            .alias("d"),
            F.sum(F.when(F.col("censored"), 1).otherwise(0))
            .cast("long")
            .alias("c"),
        )
        .orderBy("t")
        .collect()  # horizon-bounded: <= observation days rows
    )
    n_at_risk = sum(r.d + r.c for r in table)
    s, out = KM_SCALE, []
    for r in table:
        s = s * (n_at_risk - r.d) // n_at_risk
        out.append((r.t, n_at_risk, r.d, r.c, s))
        n_at_risk -= r.d + r.c
    km = spark.createDataFrame(
        out,
        "t_days long, n_at_risk long, n_churned long, n_censored long, "
        "survival_fp long",
    )
    # the reported probability rounds ENGINE-side (Spark round ==
    # DuckDB round on doubles, the repo-wide convention), not in
    # python, whose banker's round is a different function
    return km.withColumn(
        "survival",
        F.round(F.col("survival_fp") / F.lit(float(KM_SCALE)), 6),
    )


# ---- Holt linear-trend smoothing --------------------------------------------
HOLT_SCALE = 10**6  # fixed-point level/trend state


def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend (double exponential) smoothing of the
    daily event count per type at alpha = beta = 1/4 — the
    next-step forecaster the EWMA can't be when a series TRENDS
    (an EWMA lags a ramp forever; Holt's trend state closes the
    gap). Forecast = level + trend, the capacity-planning number.

        L_1 = x_1 * S;  B_1 = 0
        L_t = (x_t * S + 3 * (L + B)) >> 2
        B_t = ((L_t - L) + 3 * B) >> 2

    Engine-exact contract: both states are BIGINT at ``HOLT_SCALE``
    and every step is a FLOOR division by 4 — arithmetic shiftright
    in Spark, ``//`` in DuckDB and python, identical on NEGATIVE
    trend values too (all three floor). Same plan shape as
    ts_ewma_smooth: one daily-rollup shuffle, in-row fold over the
    calendar-bounded series, recursive-CTE oracle."""
    ev = load_table(spark, sf_dir, "events", parallelize=True)
    daily = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
    ).agg(F.count("*").cast("long").alias("n_events"))
    return holt_over_daily(daily)


def holt_over_daily(daily: DataFrame) -> DataFrame:
    """The two-state Holt fold over an ALREADY-AGGREGATED daily
    frame — factored out for the streaming twin, like
    ewma_over_daily / cusum_over_daily."""
    series = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "n_events"))).alias("xs")
    )
    acc0 = F.struct(
        F.expr(
            "CAST(array() AS ARRAY<STRUCT<day: DATE, n_events: BIGINT, "
            "l: BIGINT, b: BIGINT>>)"
        ).alias("out"),
        F.lit(0).cast("long").alias("l"),
        F.lit(0).cast("long").alias("b"),
        F.lit(False).alias("started"),
    )

    def step(acc, x):
        l1 = F.when(
            ~acc["started"], x["n_events"] * HOLT_SCALE
        ).otherwise(
            F.shiftright(
                x["n_events"] * HOLT_SCALE + 3 * (acc["l"] + acc["b"]), 2
            )
        )
        b1 = F.when(~acc["started"], F.lit(0).cast("long")).otherwise(
            F.shiftright((l1 - acc["l"]) + 3 * acc["b"], 2)
        )
        return F.struct(
            F.concat(
                acc["out"],
                F.array(
                    F.struct(
                        x["day"].alias("day"),
                        x["n_events"].alias("n_events"),
                        l1.alias("l"),
                        b1.alias("b"),
                    )
                ),
            ).alias("out"),
            l1.alias("l"),
            b1.alias("b"),
            F.lit(True).alias("started"),
        )

    folded = series.select(
        "event_type",
        F.explode(
            F.aggregate("xs", acc0, step, lambda a: a["out"])
        ).alias("r"),
    )
    sc = F.lit(float(HOLT_SCALE))
    return folded.select(
        "event_type",
        F.date_format("r.day", "yyyy-MM-dd").alias("day"),
        F.col("r.n_events").alias("n_events"),
        F.col("r.l").alias("level_fp"),
        F.col("r.b").alias("trend_fp"),
        F.round(F.col("r.l") / sc, 6).alias("level"),
        F.round(F.col("r.b") / sc, 6).alias("trend"),
        F.round((F.col("r.l") + F.col("r.b")) / sc, 6).alias(
            "forecast_next"
        ),
    )


# ---- cohort lifetime value --------------------------------------------------


def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative lifetime value per daily cohort: users grouped by
    first active day; for each cohort age, active users, that day's
    revenue, the running total, and LTV per cohort member — the
    payback-period curve (which acquisition day has paid for itself
    yet) that pairs with retention_cohort's activity matrix.

    Engine-exact contract: event values convert to integer CENTS
    once (round(value*100) per event — identical one-op conversion
    in both engines), so every sum and the cumulative window are
    order-independent int64 arithmetic; LTV is one division of
    exact ints, round(6).

    Plan: ONE user_id exchange (window min attaches the cohort day
    to each event — no first-seen join-back), then the
    (cohort, age) grid agg; cumulative sum and cohort size are
    windows over the GRID (bounded by days², the retention_cohort
    argument). Corpus touched once."""
    ev = load_table(spark, sf_dir, "events", parallelize=True)
    base = ev.select(
        "user_id",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    wu = Window.partitionBy("user_id")
    withc = base.select(
        "user_id",
        "day",
        "cents",
        F.min("day").over(wu).alias("cohort_day"),
    )
    grid = withc.groupBy(
        "cohort_day",
        F.datediff("day", "cohort_day").cast("long").alias("age"),
    ).agg(
        F.countDistinct("user_id").cast("long").alias("n_active_users"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )
    wc = Window.partitionBy("cohort_day").orderBy("age")
    wall = Window.partitionBy("cohort_day")
    cum = F.sum("revenue_cents").over(
        wc.rangeBetween(Window.unboundedPreceding, 0)
    )
    size = F.max(
        F.when(F.col("age") == 0, F.col("n_active_users"))
    ).over(wall)
    return grid.select(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        "age",
        "n_active_users",
        "revenue_cents",
        cum.cast("long").alias("cum_revenue_cents"),
        F.round(cum / (F.lit(100.0) * size), 6).alias("cum_ltv_per_user"),
    )


# ---- autocorrelation ---------------------------------------------------------
ACF_MAX_LAG = 7  # report r_1 .. r_7 (one trading week of daily lags)


def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation r_k of the daily event count per type
    at calendar lags 1..``ACF_MAX_LAG`` — the correlogram a
    monitoring pipeline reads before picking seasonal windows (a
    weekly cycle shows as a spike at lag 7; ts_seasonal_decompose
    then extracts it).

    Engine-exact contract: the textbook estimator divides by the
    mean twice — floats. Multiply the centered terms by n instead:
    with S = Σx and cx_t = n·x_t − S (exact int64),

        r_k = Σ_t cx_t · cx_{t−k}  /  Σ_t cx_t²

    because the 1/n² factors cancel. Both sums fold exact integer
    products in decimal(38,0) (cx ≤ 2·n·max_x ~ 4·10¹² at a 10⁹
    daily count and a 10-year calendar, so cx² ~ 10²⁵ silently
    wraps int64 — same fold class as agg_gini_revenue), and the
    reported r_k is ONE IEEE division of the two exact integers +
    round(6). Zero-variance series report NULL explicitly.

    Lags are CALENDAR days: pairs whose t−k day is absent pair
    nothing (document: compose with ts_gap_fill to zero-fill
    first); the denominator is the full-series energy, the standard
    complete-series estimator.

    Plan: one corpus exchange builds the daily rollup; the
    centering window, per-type energy agg, lag equi-join (day+k on
    the exploded lag grid), and pair agg all ride the
    calendar-bounded daily grid, which is localCheckpointed ONCE
    for its three consumers."""
    ev = load_table(spark, sf_dir, "events", parallelize=True)
    daily = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
    ).agg(F.count("*").cast("long").alias("x"))
    return autocorrelation_over_daily(daily)


def autocorrelation_over_daily(daily: DataFrame) -> DataFrame:
    """Correlogram pass over a (event_type, day, x) daily rollup —
    factored out for the streaming twin (re-run per drain over the
    bounded aggregate, like seasonal_decompose_over_daily)."""
    w = Window.partitionBy("event_type")
    cent = daily.select(
        "event_type",
        "day",
        (F.count("*").over(w) * F.col("x") - F.sum("x").over(w)).alias(
            "cx"
        ),
    ).localCheckpoint(eager=True)
    den = cent.groupBy("event_type").agg(
        F.sum(
            F.col("cx").cast("decimal(38,0)") * F.col("cx")
        ).alias("den")
    )
    lagged = cent.select(
        "event_type",
        F.explode(F.sequence(F.lit(1), F.lit(ACF_MAX_LAG))).alias("lag"),
        F.col("cx").alias("cx_prev"),
        F.col("day").alias("day_prev"),
    ).withColumn("day", F.expr("date_add(day_prev, lag)"))
    pairs = (
        cent.join(lagged, ["event_type", "day"])
        .groupBy("event_type", "lag")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum(
                F.col("cx").cast("decimal(38,0)") * F.col("cx_prev")
            ).alias("num"),
        )
    )
    return (
        pairs.join(F.broadcast(den), "event_type")
        .select(
            "event_type",
            "lag",
            "n_pairs",
            F.when(F.col("den") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.round(
                    F.col("num").cast("double") / F.col("den").cast("double"),
                    6,
                )
            )
            .alias("acf"),
        )
        .orderBy("event_type", "lag")
    )


def events_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour activity heatmap per event type — the
    seasonality fingerprint read before choosing maintenance
    windows, send times, or the seasonal period ts_seasonal_decompose
    extracts. One row per observed (type, dow, hour) cell with the
    exact count, the share of the type's total (round 6), and a
    peak flag (cell count equals the type max — count equality, so
    ties flag every co-peak deterministically).

    Engine-exact dow: Spark's dayofweek/extract(DOW) and DuckDB's
    dow() disagree on numbering, so dow derives from pure date
    arithmetic instead — (days-since-1970-01-01 + 3) mod 7, 0 =
    Monday (1970-01-01 was a Thursday) — the same integer in any
    engine.

    Plan: one map-side-combined (type, dow, hour) hash-agg over the
    scan; totals and peaks ride windows over the <= 168-cell
    per-type grid (bounded by construction)."""
    ev = load_table(spark, sf_dir, "events", parallelize=True)
    day = F.to_date(F.date_trunc("day", F.col("ts")))
    cells = ev.groupBy(
        "event_type",
        (
            (F.datediff(day, F.lit("1970-01-01").cast("date")) + 3) % 7
        ).alias("dow"),
        F.hour("ts").alias("hour"),
    ).agg(F.count("*").cast("long").alias("n_events"))
    w = Window.partitionBy("event_type")
    return (
        cells.select(
            "event_type",
            "dow",
            "hour",
            "n_events",
            F.round(
                F.col("n_events") / F.sum("n_events").over(w), 6
            ).alias("share"),
            (F.col("n_events") == F.max("n_events").over(w)).alias(
                "is_peak"
            ),
        )
        .orderBy("event_type", "dow", "hour")
    )


# ---- market concentration (HHI) ---------------------------------------------
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration of supplier revenue within
    each nation — the antitrust-style "is this market a monopoly"
    screen that complements `agg_gini_revenue`'s inequality number:
    HHI = Σ shareᵢ² over suppliers i, 1/n (perfect competition) → 1
    (monopoly). Also reports the top supplier's share and the
    effective competitor count 1/HHI.

    Determinism: revenue folds as integer cents; HHI evaluates as
    Σrevᵢ² / (Σrev)² where the square SUM accumulates
    decimal(38,0) with the operand cast BEFORE the multiply (the
    gini lesson — revᵢ² alone reaches ~1e18 at sf0.1, one catalog
    away from int64 wrap) and the single division + round(6) is the
    only float op. The DuckDB oracle runs the same algebra over
    HUGEINT products.

    Scale shape: one fact-table exchange builds per-(nation,
    supplier) revenue (map-side combined; supplier/nation attach
    broadcast); the concentration fold is a second agg over the
    SUPPLIER-CATALOG-bounded frame — never a share self-join."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    rev = (
        li.select("l_suppkey", cents.alias("cents"))
        .join(F.broadcast(sup.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "s_suppkey")
        .agg(F.sum("cents").alias("rev"))
    )
    folds = rev.groupBy("n_name").agg(
        F.count("*").cast("long").alias("n_suppliers"),
        F.sum(F.col("rev").cast("decimal(38,0)")).alias("tot"),
        F.sum(
            F.col("rev").cast("decimal(38,0)") * F.col("rev")
        ).alias("sumsq"),
        F.max("rev").alias("top_rev"),
    )
    tot_d = F.col("tot").cast("double")
    hhi = F.col("sumsq").cast("double") / (tot_d * tot_d)
    return folds.select(
        "n_name",
        "n_suppliers",
        F.col("tot").cast("long").alias("total_rev_cents"),
        F.round(hhi, 6).alias("hhi"),
        F.round(F.col("top_rev").cast("double") / tot_d, 6).alias(
            "top_share"
        ),
        F.round(F.lit(1.0) / hhi, 6).alias("effective_n"),
    ).orderBy("n_name")


# ---- activity streaks (gaps and islands) ------------------------------------
def events_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user consecutive-day activity streaks — the classic
    gaps-and-islands statistic engagement teams track (current/
    longest streak): number of active days, number of distinct
    streaks, the longest streak's length and its start date
    (earliest start on ties).

    Two deliberately DIFFERENT formulations face the gate: Spark
    folds each user's sorted distinct day array in-row with a
    single `aggregate` accumulator (one pass, exact integer day
    arithmetic), while the DuckDB oracle states the textbook island
    algebra (day_number − row_number island key, two grouped
    rollups) — so the fold is cross-checked against the definition,
    not a twin of itself.

    Scale shape: ONE user-grain exchange — ``collect_set`` dedups
    days inside the aggregation buffer (map-side partial merge), so
    no separate (user, day) distinct pass runs; the per-user day set
    is CALENDAR-bounded (the observed window caps distinct days per
    user regardless of event volume — the ewma bounded-series
    argument), so the buffer never holds corpus-sized state. The
    fold parses from ONE SQL expression (the round-5 py4j
    lesson)."""
    ev = load_table(spark, sf_dir, "events", parallelize=True)
    per_user = ev.select(
        "user_id",
        F.datediff(
            F.to_date(F.date_trunc("day", F.col("ts"))),
            F.lit("1970-01-01").cast("date"),
        ).cast("int").alias("d"),
    ).groupBy("user_id").agg(
        F.array_sort(F.collect_set("d")).alias("ds")
    )
    fold = F.expr(
        """
        aggregate(
          ds,
          named_struct(
            'prev', CAST(NULL AS INT), 'cur_len', CAST(0 AS BIGINT),
            'cur_start', CAST(0 AS INT), 'best_len', CAST(0 AS BIGINT),
            'best_start', CAST(0 AS INT), 'n_streaks', CAST(0 AS BIGINT)),
          (acc, d) -> CASE
            WHEN acc.prev IS NOT NULL AND d = acc.prev + 1 THEN
              named_struct(
                'prev', d, 'cur_len', acc.cur_len + 1L,
                'cur_start', acc.cur_start,
                'best_len', IF(acc.cur_len + 1L > acc.best_len,
                               acc.cur_len + 1L, acc.best_len),
                'best_start', IF(acc.cur_len + 1L > acc.best_len,
                                 acc.cur_start, acc.best_start),
                'n_streaks', acc.n_streaks)
            ELSE
              named_struct(
                'prev', d, 'cur_len', 1L, 'cur_start', d,
                'best_len', IF(1L > acc.best_len, 1L, acc.best_len),
                'best_start', IF(1L > acc.best_len, d, acc.best_start),
                'n_streaks', acc.n_streaks + 1L)
          END,
          acc -> acc)
        """
    )
    return per_user.select(
        "user_id",
        F.size("ds").cast("long").alias("n_active_days"),
        fold.alias("st"),
    ).select(
        "user_id",
        "n_active_days",
        F.col("st.n_streaks").alias("n_streaks"),
        F.col("st.best_len").alias("longest_streak"),
        F.date_format(
            F.date_add(
                F.lit("1970-01-01").cast("date"), F.col("st.best_start")
            ),
            "yyyy-MM-dd",
        ).alias("longest_start"),
    ).orderBy("user_id")


# ---- seasonal-naive forecast backtest ---------------------------------------
SNAIVE_SEASON_DAYS = 7  # weekly seasonality: forecast(d) = actual(d-7)
SNAIVE_BACKTEST_DAYS = 28  # score the trailing four weeks


def ts_forecast_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest of daily event volume per
    type: ŷ(d) = y(d − 7), scored over the trailing
    ``SNAIVE_BACKTEST_DAYS`` — the no-skill baseline every real
    forecasting model must beat (Hyndman & Athanasopoulos, fpp3
    §5.2), so its error profile is the yardstick a pipeline stores
    alongside model errors. Reports MAE, mean bias, and WAPE
    (Σ|err| / Σactual — the aggregate-ratio form; a per-day MAPE
    would sum per-row float divisions, partition-order-dependent,
    and explodes on near-zero days).

    Determinism: errors are exact BIGINT count differences; each
    reported number is ONE IEEE division of two exact integer sums +
    round(6). Missing lag days are excluded by the inner lag join
    (compose with ts_gap_fill for a zero-filled variant).

    Scale shape: one corpus exchange builds the daily rollup, which
    is localCheckpoint-materialized ONCE for its three consumers
    (actuals side, lag side, horizon — the ts_autocorrelation
    pattern; without it the corpus aggregates three times); the
    lag-7 equi-join and the backtest cut then run on the CALENDAR-
    bounded grid (|types| × |days| rows). The as-of horizon is the
    grid's own max day (bounded per-type agg, no wall clock)."""
    ev = load_table(spark, sf_dir, "events", parallelize=True)
    daily = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
    ).agg(F.count("*").cast("long").alias("n_events")).localCheckpoint(
        eager=True
    )
    horizon = daily.groupBy("event_type").agg(
        F.max("day").alias("max_day")
    )
    lagged = daily.alias("a").join(
        daily.alias("l"),
        (F.col("a.event_type") == F.col("l.event_type"))
        & (
            F.col("a.day")
            == F.date_add(F.col("l.day"), SNAIVE_SEASON_DAYS)
        ),
    ).join(
        F.broadcast(horizon).alias("h"),
        F.col("a.event_type") == F.col("h.event_type"),
    ).filter(
        F.datediff(F.col("h.max_day"), F.col("a.day"))
        < SNAIVE_BACKTEST_DAYS
    ).select(
        F.col("a.event_type").alias("event_type"),
        (F.col("a.n_events") - F.col("l.n_events")).alias("err"),
        F.col("a.n_events").alias("actual"),
    )
    folds = lagged.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(F.abs(F.col("err"))).alias("sae"),
        F.sum("err").alias("se"),
        F.sum("actual").alias("sa"),
    )
    n_d = F.col("n_days").cast("double")
    return folds.select(
        "event_type",
        "n_days",
        F.round(F.col("sae").cast("double") / n_d, 6).alias("mae"),
        F.round(F.col("se").cast("double") / n_d, 6).alias("bias"),
        F.round(
            F.col("sae").cast("double") / F.col("sa").cast("double"), 6
        ).alias("wape"),
    ).orderBy("event_type")


# ---- round-6: decomposition strength summary --------------------------------
def ts_stl_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend and seasonal STRENGTH of the daily event series per
    type — the two summary statistics read off a decomposition
    (Hyndman & Athanasopoulos, fpp3 §4.3, via Wang-Smith-Hyndman):

        F_T = max(0, 1 − Var(R) / Var(T + R))
        F_S = max(0, 1 − Var(R) / Var(S + R))

    near 1 = strongly trended / seasonal, near 0 = noise. The
    one-row-per-type triage a monitoring catalog stores next to each
    series (ts_seasonal_decompose is the drill-down).

    Engine-exact: consumes the decomposition's ALREADY-ROUNDED 6dp
    component values, scales them to exact 1e6 fixed-point BIGINTs,
    and folds n·Σx² − (Σx)² in decimal(38,0) (the n-scaled variance
    numerator — the 1/n² cancels in the ratio, the
    ts_autocorrelation contract); each strength is ONE IEEE division
    of exact integers + round(6). Edge days (NULL trend/residual)
    are excluded by definition — only fully-decomposed days carry
    variance. Plan: the decompose plan + one per-type hash-agg over
    the calendar-bounded grid."""
    stl = ts_seasonal_decompose(spark, sf_dir).filter(
        F.col("residual").isNotNull()
    )
    fp = lambda c: F.round(c * 1e6).cast("long")  # noqa: E731
    x = stl.select(
        "event_type",
        fp(F.col("residual")).alias("r"),
        fp(F.col("trend") + F.col("residual")).alias("tr"),
        fp(F.col("seasonal") + F.col("residual")).alias("sr"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    folds = x.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(d("r")).alias("s_r"),
        F.sum(d("r") * F.col("r")).alias("ss_r"),
        F.sum(d("tr")).alias("s_tr"),
        F.sum(d("tr") * F.col("tr")).alias("ss_tr"),
        F.sum(d("sr")).alias("s_sr"),
        F.sum(d("sr") * F.col("sr")).alias("ss_sr"),
    )
    var_num = lambda s, ss: (  # noqa: E731
        F.col("n_days") * F.col(ss) - F.col(s) * F.col(s)
    ).cast("double")
    strength = lambda s, ss: F.round(  # noqa: E731
        F.greatest(
            F.lit(0.0),
            F.lit(1.0) - var_num("s_r", "ss_r") / var_num(s, ss),
        ),
        6,
    )
    return folds.select(
        "event_type",
        "n_days",
        strength("s_tr", "ss_tr").alias("trend_strength"),
        strength("s_sr", "ss_sr").alias("seasonal_strength"),
    ).orderBy("event_type")


XCORR_MAX_LAG = 7  # lead/lag horizon in calendar days


def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged Pearson cross-correlation between every ORDERED pair
    of event types' daily count series at lags 0..``XCORR_MAX_LAG``:
    xcorr(a, b, k) correlates a's count on day d with b's count on
    day d+k, so a positive peak at k>0 reads "a leads b by k days"
    — the lead/lag screen behind funnel causality hypotheses
    (views today → purchases in two days). Self-pairs are excluded
    (lagged self-correlation is ts_autocorrelation's correlogram).

    Exactness contract (the agg_correlation recipe): both series are
    ZERO-FILLED over the global [min_day, max_day] calendar spine —
    a missing day is a day with zero events, and complete series
    make every (pair, lag) window identical — then the six moments
    (n, Σx, Σy, Σxy, Σx², Σy²) fold as exact decimal(38,0) with the
    products formed in decimal (a daily count is NOT statically
    bounded — at data-center scale x·y can pass 2⁶³, the
    agg_gini_revenue operand class), and the closed form evaluates
    on doubles with the identical expression tree in the oracle.
    Zero-variance windows report NULL.

    Plan: one corpus exchange builds the daily rollup; the spine is
    types × sequence(min, max) against a broadcast ONE-ROW bounds
    frame (catalog-bounded, never a data cross join); the lag align
    is one day-keyed equi join over the calendar-bounded grid
    (fan-out = |types|²·lags per day, a constant), and the moment
    fold is one (pair, lag) exchange over ≤ |types|²·lags rows."""
    ev = load_table(spark, sf_dir, "events", parallelize=True)
    daily = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
    ).agg(F.count("*").cast("long").alias("x"))
    return cross_correlation_over_daily(daily)


def cross_correlation_over_daily(daily: DataFrame) -> DataFrame:
    """Zero-fill + lag-align + exact moment fold over a
    (event_type, day, x) daily rollup — factored out for the
    streaming twin (re-run per drain over the bounded aggregate,
    the seasonal_decompose/autocorrelation twin split: zero-fill
    and the pair windows are full-series statistics)."""
    # three consumers (bounds, types, spine join) — checkpoint the
    # calendar-bounded rollup so the corpus is scanned once
    daily = daily.localCheckpoint(eager=True)
    bounds = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    # fresh attribute ids on the spine side: `daily` may be a view
    # over a streaming MemorySink, where the spine→daily self-join
    # otherwise hits "Conflicting attributes" (DeduplicateRelations
    # does not rewrite MemoryPlan leaves)
    types = (
        daily.select(F.col("event_type").alias("et"))
        .distinct()
        .select(F.col("et").alias("event_type"))
    )
    spine = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day"),
    )
    filled = (
        spine.join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce("x", F.lit(0)).cast("long").alias("x"),
        )
        .localCheckpoint(eager=True)
    )
    left = filled.select(
        F.col("event_type").alias("type_a"), "day", "x"
    )
    right = filled.select(
        F.col("event_type").alias("type_b"),
        F.explode(
            F.sequence(F.lit(0), F.lit(XCORR_MAX_LAG))
        ).alias("lag"),
        F.col("x").alias("y"),
        F.col("day").alias("day_b"),
    ).withColumn("day", F.expr("date_sub(day_b, lag)"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    x, y = F.col("x"), F.col("y")
    agg = (
        left.join(right, "day")
        .filter(F.col("type_a") != F.col("type_b"))
        .groupBy("type_a", "type_b", "lag")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.sum(dec(x)).alias("sx"),
            F.sum(dec(y)).alias("sy"),
            F.sum(dec(x) * dec(y)).alias("sxy"),
            F.sum(dec(x) * dec(x)).alias("sxx"),
            F.sum(dec(y) * dec(y)).alias("syy"),
        )
    )
    r = V.pearson_sql("n_days", "sx", "sy", "sxy", "sxx", "syy")
    return V.select(
        agg, "type_a", "type_b", "lag", "n_days", f"round({r}, 6) AS xcorr"
    ).orderBy("type_a", "type_b", "lag")


ROLLMED_WINDOW_DAYS = 7  # rolling frame: current day + 6 preceding


def ts_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day MEDIAN of the zero-filled daily event count per
    type, plus each day's deviation from it — the robust anomaly
    baseline (a single spike day shifts a sliding MEAN for a week;
    the median shrugs it off, which is why monitoring pipelines
    baseline on rolling medians before flagging).

    Engine-exact contract: the frame holds ≤ 7 BIGINT counts, and
    both engines define the even-count median as the midpoint of
    the two middle values — an exact x.5 in double (verified:
    Spark `percentile(x, 0.5)` over a rows frame and DuckDB
    `median(x) OVER (... ROWS 6 PRECEDING)` interpolate
    identically). Ramp-up days (< 7 rows in frame) use the rows
    available in BOTH engines — same frames, same rows, same
    median. No rounding is needed; the only arithmetic is one
    midpoint of two int64s.

    Plan: one corpus exchange to the daily rollup, the broadcast
    one-row bounds crossJoin zero-fill spine (cross_correlation's
    recipe), then ONE event_type-keyed exchange for the sorted
    window — the frame is bounded (7 rows), so the window state is
    constant-size and the whole pass is linear in calendar days ×
    types, micro-data at any corpus scale."""
    ev = load_table(spark, sf_dir, "events", parallelize=True)
    daily = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
    ).agg(F.count("*").cast("long").alias("x"))
    return rolling_median_over_daily(daily)


def rolling_median_over_daily(daily: DataFrame) -> DataFrame:
    """Zero-fill + bounded-frame median window over a
    (event_type, day, x) daily rollup — factored out for the
    streaming twin (re-run per drain over the bounded aggregate,
    the ewma/cross-correlation twin split: the zero-fill spine and
    the ordered frame are full-series constructs no streaming agg
    expresses)."""
    # the calendar-bounded rollup feeds THREE consumers (bounds,
    # type list, spine join) — checkpoint so the corpus is scanned
    # once, not three times
    daily = daily.localCheckpoint(eager=True)
    bounds = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    types = daily.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day"),
    )
    filled = spine.join(daily, ["event_type", "day"], "left").select(
        "event_type",
        "day",
        F.coalesce("x", F.lit(0)).cast("long").alias("x"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(ROLLMED_WINDOW_DAYS - 1), 0)
    )
    med = F.percentile("x", F.lit(0.5)).over(w)
    return filled.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "x",
        med.alias("med7"),
        (F.col("x").cast("double") - med).alias("deviation"),
    ).orderBy("event_type", "day")


HAMPEL_K_X10000 = 30000  # k = 3.0 as fixed-point 1e4
HAMPEL_MAD_CONSISTENCY_X10000 = 14826  # 1.4826 (normal-consistency)


def ts_hampel_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel-filter outlier flags over the zero-filled daily event
    series per type: a day is an outlier when its count sits more
    than k·1.4826·MAD from the rolling 7-day median, the MAD being
    the median absolute deviation of the SAME frame — the robust
    spike detector that, unlike the z-score
    (events_anomaly_rolling), keeps a clean baseline even when the
    frame itself contains the spike (median and MAD have a 50%
    breakdown point; mean/std have 0%).

    ENTIRELY integer-exact — including the flag: counts double to
    X = 2x so every frame median (med2 = 2·median) is an exact
    int64 (midpoint of two evens); deviations |X − med2| are ints;
    doubling again makes mad4 = 4·MAD an int; and the Hampel test
        |x − med| > k·1.4826·MAD
    multiplies through by 4·10⁴ into
        2·|X − med2|·10⁴ > k₁₀₀₀₀·1.4826₁₀₀₀₀·mad4 / 10⁴ —
    kept as the cross-multiplied integer comparison
    2·dev·10⁸ > K·14826·mad4, so NO float enters the decision and
    no engine can flip a boundary row. A zero-MAD frame (≥ 4 equal
    values) flags any deviation — the standard Hampel degenerate
    case, documented. med7/mad are reported as exact-half doubles.

    Plan: the rolling_median_over_daily shape — one corpus exchange
    to the checkpointed daily rollup, the zero-fill spine, ONE
    type-keyed window whose state is the bounded 7-row frame list,
    then in-row exact array math. Linear in calendar days × types."""
    ev = load_table(spark, sf_dir, "events", parallelize=True)
    daily = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
    ).agg(F.count("*").cast("long").alias("x"))
    return hampel_over_daily(daily)


def hampel_over_daily(daily: DataFrame) -> DataFrame:
    """Zero-fill + frame-list window + in-row exact Hampel math over
    a (event_type, day, x) daily rollup — factored out for the
    streaming twin (re-run per drain over the bounded aggregate,
    the rolling_median_over_daily split)."""
    daily = daily.localCheckpoint(eager=True)
    bounds = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    types = daily.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day"),
    )
    filled = spine.join(daily, ["event_type", "day"], "left").select(
        "event_type",
        "day",
        F.coalesce("x", F.lit(0)).cast("long").alias("x"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(ROLLMED_WINDOW_DAYS - 1), 0)
    )
    framed = filled.select(
        "event_type",
        "day",
        "x",
        F.collect_list((F.col("x") * 2).cast("long")).over(w).alias("fr"),
    )

    def _list_median(col):  # exact: inputs even -> midpoint integral
        n = F.size(col)
        srt = F.array_sort(col)
        odd = F.element_at(srt, ((n + 1) / 2).cast("int"))
        ev_mid = F.shiftright(
            F.element_at(srt, (n / 2).cast("int"))
            + F.element_at(srt, (n / 2).cast("int") + 1),
            1,
        )
        return F.when(n % 2 == 1, odd).otherwise(ev_mid).cast("long")

    with_med = framed.withColumn("med2", _list_median(F.col("fr")))
    with_mad = with_med.withColumn(
        "mad4",
        _list_median(
            F.transform(
                "fr", lambda v: F.abs(v - F.col("med2")) * 2
            )
        ),
    )
    dev = F.abs(F.col("x") * 2 - F.col("med2"))
    return with_mad.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "x",
        (F.col("med2") / 2.0).alias("med7"),
        (F.col("mad4") / 4.0).alias("mad"),
        (
            dev * 2 * 100_000_000
            > F.lit(HAMPEL_K_X10000)
            * F.lit(HAMPEL_MAD_CONSISTENCY_X10000)
            * F.col("mad4")
        ).alias("is_outlier"),
    ).orderBy("event_type", "day")


# pair-support floor before lift is meaningful. 2 suits the fixture
# (TPC-H-ish baskets are RANDOM, so repeat co-occurrence thins out as
# the part catalog grows — support>=5 is already empty by sf0.1); a
# real retail corpus with genuine affinities tunes this upward.
LIFT_MIN_SUPPORT = 2
LIFT_TOP_K = 50


def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule strength for co-purchased part pairs:
    support, per-item supports, confidence, and LIFT =
    P(a,b)/(P(a)·P(b)) — the normalization market_basket_pairs'
    raw co-occurrence counts lack (two ubiquitous parts co-occur
    often by chance alone; lift > 1 is actual affinity), with a
    minimum-support floor so rare-pair noise can't top the ranking.

    Engine-exact: all four supports and the basket total are exact
    BIGINTs; lift and confidence are single double divisions of
    exact integers with identical trees in the oracle, and the
    (round(lift,6) DESC, part_a, part_b) total order makes the
    top-k cut deterministic across engines.

    Plan: ONE l_orderkey exchange builds the distinct baskets
    (shared shape with market_basket_pairs — bounded basket arrays,
    in-row pair expansion, never a corpus self-join); item supports
    explode the same basket arrays (map-side combined to the part
    catalog); the part-bounded item table BROADCASTS onto the pair
    supports twice; top-k rides TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    ).localCheckpoint(eager=True)
    n_orders = baskets.agg(
        F.count("*").cast("long").alias("n_orders")
    )
    item = (
        baskets.select(F.explode("parts").alias("part"))
        .groupBy("part")
        .agg(F.count("*").cast("long").alias("supp"))
    )
    support = (
        V.self_pairs(baskets, "parts", "part_a", "part_b", "<")
        .groupBy("part_a", "part_b")
        .agg(F.count("*").cast("long").alias("support"))
        .filter(F.col("support") >= LIFT_MIN_SUPPORT)
    )
    ia = item.select(
        F.col("part").alias("part_a"), F.col("supp").alias("supp_a")
    )
    ib = item.select(
        F.col("part").alias("part_b"), F.col("supp").alias("supp_b")
    )
    scored = (
        support.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "support",
            "supp_a",
            "supp_b",
            F.round(
                F.col("support").cast("double")
                * F.col("n_orders").cast("double")
                / (
                    F.col("supp_a").cast("double")
                    * F.col("supp_b").cast("double")
                ),
                6,
            ).alias("lift"),
            F.round(
                F.col("support").cast("double")
                / F.col("supp_a").cast("double"),
                6,
            ).alias("confidence_a_to_b"),
        )
    )
    return scored.orderBy(
        F.desc("lift"), "part_a", "part_b"
    ).limit(LIFT_TOP_K)


SEASONAL_ANOM_K = 3  # |residual - med| > K * MAD flags


def ts_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-adjusted anomaly flags: days whose DECOMPOSITION
    RESIDUAL sits more than ``SEASONAL_ANOM_K``·MAD from the
    per-type residual median — the triage view that doesn't page on
    'Mondays are always like this' (the raw-count z-score/Hampel
    flags do; this one subtracts trend+seasonal first and applies
    the robust test to what's left).

    Composes :func:`ts_seasonal_decompose` UNCHANGED (its residuals
    are already engine-exact 6dp doubles), then the agg_mad_outliers
    recipe on the residual column: exact percentile median/MAD
    (percentile ≡ quantile_cont parity) broadcast back, integer-free
    comparisons on identical doubles.

    Scale shape: the decomposition's calendar-bounded output (one
    row per type-day) is the only input — percentile passes and the
    flag filter all ride the |types|·|days| grid, never raw
    events."""
    stl = ts_seasonal_decompose(spark, sf_dir).filter(
        F.col("residual").isNotNull()
    )
    med = stl.groupBy("event_type").agg(
        F.expr("percentile(residual, 0.5)").alias("med")
    )
    j = stl.join(F.broadcast(med), "event_type")
    mad = j.groupBy("event_type").agg(
        F.first("med").alias("med"),
        F.expr("percentile(abs(residual - med), 0.5)").alias("mad"),
    )
    return (
        stl.join(F.broadcast(mad), "event_type")
        .filter(
            F.abs(F.col("residual") - F.col("med"))
            > SEASONAL_ANOM_K * F.col("mad")
        )
        .select(
            "event_type",
            "day",
            "n_events",
            "residual",
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
        )
        .orderBy("event_type", "day")
    )


def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral diversity: Shannon entropy (nats) of the
    user's event-type distribution, with event/type counts — the
    bot/power-user screen (single-type loops score 0; a uniform
    5-type mix scores ln 5) that complements `events_user_streaks`'
    temporal view with a distributional one.

    Engine-exact: p = c/n is one exact-integer double division, its
    ln pre-rounded 6dp, each −p·ln p term folded 1e9 fixed-point —
    the text_word_entropy recipe on the behavioral table.

    Scale shape: one (user, type) hash-agg (map-side combined, ≤
    |users|·|types| rows) and a per-user fold SHARING the same
    user_id exchange; nothing row-scale leaves the first
    aggregate."""
    ev = load_table(spark, sf_dir, "events")
    # ONE explicit user_id exchange: HashPartitioning(user_id)
    # satisfies the (user, type) grouping, the per-user window, AND
    # the final per-user fold, so none of them re-shuffles (left to
    # EnsureRequirements, the agg would partition on (user, type)
    # and the window would add a second user-keyed exchange)
    ct = (
        ev.select("user_id", "event_type")
        .repartition(F.col("user_id"))
        .groupBy("user_id", "event_type")
        .agg(F.count("*").cast("long").alias("c"))
    )
    w = Window.partitionBy("user_id")
    n = F.sum("c").over(w)
    p = F.col("c").cast("double") / n.cast("double")
    term_fp = F.round(-p * F.round(F.log(p), 6) * 1e9).cast("long")
    return (
        ct.select(
            "user_id",
            "c",
            n.alias("n_events"),
            term_fp.alias("t_fp"),
        )
        .groupBy("user_id", "n_events")
        .agg(
            F.count("*").cast("long").alias("n_types"),
            F.round(F.sum("t_fp").cast("double") / 1e9, 6).alias(
                "entropy_nats"
            ),
        )
        .select("user_id", "n_events", "n_types", "entropy_nats")
        .orderBy("user_id")
    )


def ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau statistic per event type (Ljung & Box
    1978): Q = n(n+2)·Σ_{k≤h} r_k²/(n−k) over the correlogram — the
    one-number "is anything left autocorrelated" test a monitoring
    pipeline runs on a series (or a model's residuals) before
    trusting iid-based alert thresholds; large Q vs χ²_h says the
    series still carries structure (compare lag-7 spikes →
    ts_seasonal_decompose).

    Composes :func:`ts_autocorrelation` UNCHANGED (its r_k are
    engine-exact 6dp doubles and its n_pairs is the exact n−k pair
    count); each r_k²/(n−k) term folds in 1e12 fixed point, the
    final n(n+2)·Σ is one double multiply.

    n is the per-type OBSERVED series length, counted once from the
    daily grid (ADVICE r7: the old n_pairs+lag back-derivation is
    only the series length on a gapless calendar, and calendar gaps
    made it differ PER LAG, splitting one type across partial-Q
    rows). Precondition stated, not assumed: the textbook Q and its
    χ²_h reference distribution presume a GAPLESS daily calendar —
    on gappy series compose with ts_gap_fill first; the lags here
    are calendar days and absent t−k days pair nothing. NULL-r_k
    lags (zero-variance series) are EXCLUDED from both h_lags and
    the sum, so h_lags is exactly the number of terms in Q (they
    were previously counted but silently skipped by SUM)."""
    acf = ts_autocorrelation(spark, sf_dir).filter(
        F.col("acf").isNotNull()
    )
    ev = load_table(spark, sf_dir, "events", parallelize=True)
    ndays = ev.groupBy("event_type").agg(
        F.countDistinct(
            F.to_date(F.date_trunc("day", F.col("ts")))
        )
        .cast("long")
        .alias("n_days")
    )
    term_fp = F.round(
        F.col("acf") * F.col("acf")
        / F.col("n_pairs").cast("double")
        * 1e12
    ).cast("long")
    per_type = (
        acf.select("event_type", term_fp.alias("t_fp"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("h_lags"),
            F.sum("t_fp").alias("s_fp"),
        )
    )
    return (
        per_type.join(F.broadcast(ndays), "event_type")
        .select(
            "event_type",
            "n_days",
            "h_lags",
            F.round(
                (F.col("n_days") * (F.col("n_days") + 2)).cast("double")
                * (F.col("s_fp").cast("double") / 1e12),
                6,
            ).alias("q_stat"),
        )
        .orderBy("event_type")
    )


AB_CONVERT_MIN = 14  # conversion: >= this many purchases (see below)


def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B experiment readout — the experimentation
    primitive the analytics surface lacked: users assign to arms by
    the md5 hash coin (reproducible, partitioning- and
    engine-independent — the sample_train_test_split contract
    applied to bucketing an experiment), conversion = the user made
    ≥ AB_CONVERT_MIN 'purchase' events (see below), and the readout
    is the standard pooled two-proportion z statistic

        z = (p_b − p_a) / sqrt(p(1−p)(1/n_a + 1/n_b))

    computed on one identical double expression tree from exact
    integer counts (every operand division is correctly rounded, so
    both engines produce the same doubles bit-for-bit — the
    agg_gini_revenue contract). One row: counts, rates, absolute
    lift, z. Conversion = the user made ≥ AB_CONVERT_MIN purchases —
    the fixture's per-user purchase median, so the rate sits near
    50% at every scale factor (any-purchase saturates at 100%,
    which has zero sampling variance and teaches nothing).

    Scale shape: one user_id hash-agg (map-side combined) over the
    events scan, then a one-row conditional fold — nothing
    row-scale survives the first aggregate."""
    ev = load_table(spark, sf_dir, "events")
    u = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15),
            16,
            10,
        ).cast("long")
        / F.lit(float(1 << 60))
    )
    per_user = ev.groupBy("user_id").agg(
        (
            F.sum((F.col("event_type") == "purchase").cast("long"))
            >= AB_CONVERT_MIN
        )
        .cast("int")
        .alias("converted")
    ).select(
        F.when(u < 0.5, F.lit("A")).otherwise(F.lit("B")).alias("arm"),
        "converted",
    )
    folds = per_user.agg(
        F.sum((F.col("arm") == "A").cast("long")).alias("n_a"),
        F.sum((F.col("arm") == "B").cast("long")).alias("n_b"),
        F.sum(
            ((F.col("arm") == "A") & (F.col("converted") == 1)).cast("long")
        ).alias("c_a"),
        F.sum(
            ((F.col("arm") == "B") & (F.col("converted") == 1)).cast("long")
        ).alias("c_b"),
    )
    pa = F.col("c_a").cast("double") / F.col("n_a").cast("double")
    pb = F.col("c_b").cast("double") / F.col("n_b").cast("double")
    pool = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    se = F.sqrt(
        pool
        * (F.lit(1.0) - pool)
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    return folds.select(
        "n_a",
        "n_b",
        "c_a",
        "c_b",
        F.round(pa, 6).alias("rate_a"),
        F.round(pb, 6).alias("rate_b"),
        F.round(pb - pa, 6).alias("abs_lift"),
        # degenerate experiments (pooled rate 0 or 1 — e.g. every
        # fixture user converts) have no sampling variance: z is
        # undefined, reported as NULL, not a division error
        F.when(se > 0, F.round((pb - pa) / se, 6)).alias("z_score"),
    )
