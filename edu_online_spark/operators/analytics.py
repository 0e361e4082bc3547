"""General analytic shapes rounding out the engine surface: rollup,
anti-join, pivot, exact + sketch distinct counts, percentiles.

None of these exist in the reference (it has no joins or analytics at
all, SURVEY §2.5-2.6) but any engine replacing it needs them; each is
the canonical Spark plan for its shape.

Scale notes: ROLLUP expands each input row once per grouping set inside
the partial aggregate (no extra pass over storage); anti-join broadcasts
the smaller (orders-keys) side after pre-aggregation; pivot with an
explicit value list is a single conditional aggregation (never the
two-pass value-discovery variant); approx_count_distinct is constant
memory per group where exact distinct shuffles every distinct pair.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.core import hash_bucket
from ..sources import load_table

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def orders_rollup(orders: DataFrame) -> DataFrame:
    """ROLLUP (status, priority): order counts + value at every level."""
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
        .cast("double")
        .alias("total_value"),
    )


def orders_cube(orders: DataFrame) -> DataFrame:
    """CUBE (status, priority): all 4 grouping combinations in one pass.
    Like ROLLUP, the expansion happens inside the partial aggregate —
    each input row contributes to 2^n grouping sets locally before the
    single shuffle."""
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders")
    )


def orders_grouping_sets(orders: DataFrame) -> DataFrame:
    """Explicit GROUPING SETS ((status), (priority)) — the two
    single-dimension marginals WITHOUT the grand total or cross product
    a cube would add; the operator unions nothing, it's still one
    aggregate with a grouping-set expansion."""
    return orders.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"]], "o_orderstatus", "o_orderpriority"
    ).agg(F.count("*").alias("n_orders"))


def customers_without_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Anti-join: customers that never ordered. The orders side reduces
    to distinct keys before the broadcast — at 100 TB the key set is
    what travels, not the orders table."""
    keys = orders.select("o_custkey").distinct()
    return customer.join(
        keys, customer.c_custkey == keys.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


def nation_participation(customer: DataFrame, supplier: DataFrame) -> DataFrame:
    """FULL OUTER join: per-nation customer and supplier counts, keeping
    nations present on only one side (count 0 on the other). Both
    inputs pre-aggregate to nation grain before the join, so the outer
    join moves ≤ |nations| rows regardless of table size."""
    c = customer.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count("*").alias("n_customers")
    )
    s = supplier.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.count("*").alias("n_suppliers")
    )
    return c.join(s, "nationkey", "full_outer").select(
        "nationkey",
        F.coalesce(F.col("n_customers"), F.lit(0)).alias("n_customers"),
        F.coalesce(F.col("n_suppliers"), F.lit(0)).alias("n_suppliers"),
    )


def daily_event_pivot(events: DataFrame) -> DataFrame:
    """Counts per day pivoted by event type (explicit value list → one
    conditional aggregation, no discovery pass)."""
    return (
        events.groupBy(F.date_format("ts", "yyyyMMdd").alias("day"))
        .pivot("event_type", list(EVENT_TYPES))
        .count()
        .na.fill(0, list(EVENT_TYPES))
    )


def distinct_users_by_type(events: DataFrame) -> DataFrame:
    """Exact distinct users per event type."""
    return events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users")
    )


def distinct_users_by_type_approx(events: DataFrame) -> DataFrame:
    """HLL++ sketch variant: constant memory per group, one regular
    shuffle — the 100 TB form of the query above (±2% default rsd)."""
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("n_users_approx")
    )


def distinct_users_approx_certified(events: DataFrame) -> DataFrame:
    """Certified form for the driver (boolean-tolerance oracle): exact
    count hash-checked, plus a pinned boolean that the HLL++ estimate
    sits within max(1, 5%) of it. Both aggregates compute in the ONE
    groupBy — no extra scan or shuffle over the rows-only form.

    rsd=0.01 (not the 0.05 default): the boolean is a >3σ envelope
    only if the sketch's own σ is well inside it — at the default rsd
    a 5% check is a ~1σ coin flip once cardinality leaves the
    sparse-exact range (observed failing at sf0.1's 1,500
    users/group). Tighter rsd costs more registers per group
    (~2^16 · 6 bits ≈ 48 KB), still constant per key."""
    agg = events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.approx_count_distinct("user_id", 0.01).alias("_approx"),
    )
    tol = F.greatest(F.lit(1.0), F.lit(0.05) * F.col("n_users"))
    return agg.select(
        "event_type",
        "n_users",
        (F.abs(F.col("_approx") - F.col("n_users")) <= tol).alias(
            "approx_within_5pct"
        ),
    )


def deterministic_sample(events: DataFrame, pct: int = 10) -> DataFrame:
    """Reproducible ~pct% sample via multiplicative hashing of the row
    key — no rand() (nondeterministic under retries/replays at scale),
    no sort. The same rows are sampled on every run, every engine, any
    partitioning; Knuth's 2^32 golden-ratio multiplier scrambles the
    sequential key space. Counts per type make the output order-free.

    Overflow-safety of the recipe lives in functions.core.hash_bucket
    (the single home of the 2^63-bound reasoning)."""
    bucket = hash_bucket("event_id", 100)
    return (
        events.filter(bucket < pct)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_sampled"))
    )


STRATA_PCT = {"view": 5, "click": 10, "signup": 50, "purchase": 100, "error": 100}


def stratified_sample(events: DataFrame, pct: dict[str, int] | None = None) -> DataFrame:
    """Deterministic stratified sampling: a different keep-fraction per
    stratum (downsample the floods, keep every rare event) — the class
    rebalancing step of a training-data pipeline.

    Same multiplicative-hash bucketing as deterministic_sample (stable
    under retries, engines, partitionings — rand()/sampleBy are not),
    with the threshold looked up per event_type. Rows whose type is
    outside the map are dropped. Output is the surviving row ids, so
    the oracle checks the exact membership, not just counts.
    """
    pct = STRATA_PCT if pct is None else pct
    bucket = hash_bucket("event_id", 100)
    threshold = F.lit(None).cast("int")
    for etype, p in sorted(pct.items()):
        threshold = F.when(F.col("event_type") == etype, F.lit(p)).otherwise(threshold)
    return events.select(
        "event_id", "event_type", bucket.alias("bucket"), threshold.alias("thr")
    ).filter(F.col("bucket") < F.col("thr")).select("event_id", "event_type")


def orders_date_features(orders: DataFrame) -> DataFrame:
    """Calendar feature extraction — the date-function breadth check:
    year/quarter/month/day-of-week, month truncation, and age-in-days
    against a fixed anchor, all scan-stage expressions. Day-of-week
    keeps Spark's raw convention (1=Sunday) and the column name says so
    (`dow_sun1`); engines disagree on the raw convention, so the oracle
    converts DuckDB's dow (0=Sunday) to match rather than both sides
    pretending to be ISO."""
    anchor = F.lit("2002-01-01").cast("timestamp_ntz")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.quarter("o_orderdate").alias("q"),
        F.month("o_orderdate").alias("m"),
        F.dayofweek("o_orderdate").alias("dow_sun1"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.datediff(anchor, F.col("o_orderdate")).alias("age_days"),
    )


def daily_revenue_ma7(events: DataFrame) -> DataFrame:
    """Daily purchase revenue with a 7-day trailing moving average —
    the rolling-window frame shape (ROWS BETWEEN 6 PRECEDING).

    Daily sums are exact decimals (order-free); the moving average
    divides a 7-term window sum by the window count, both evaluated
    over the ordered frame identically in any engine. Unpartitioned
    window is calendar-bounded (one row per day), same argument as the
    gap-fill spine."""
    from pyspark.sql import Window

    daily = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_format("ts", "yyyyMMdd").alias("day"))
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("revenue_dec"))
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "day",
        F.col("revenue_dec").cast("double").alias("revenue"),
        (F.sum("revenue_dec").over(w).cast("double") / F.count("*").over(w)).alias(
            "revenue_ma7"
        ),
    )


def props_k_stats(events: DataFrame) -> DataFrame:
    """JSON-path extraction over a real column (events.props is a JSON
    string): get_json_object pulls $.k in the scan stage (JVM Jackson,
    no Python), then a plain aggregate per event type. The F5/F6 shape
    (JSON parse + typed extraction) applied to the fact table rather
    than the page log."""
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.select("event_type", k.alias("k"))
        .filter(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


def profile_columns(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Data-quality profile: one row per column with null count, exact
    distinct count, and min/max (stringified for a uniform schema).

    ALL columns profile in a single aggregate pass — one scan, one
    1-row shuffle — then unpivot to long form with `stack` (a pure
    projection). The per-column distincts make the single aggregate
    expand internally (Spark plans one expand + aggregate), still one
    scan; for 100 TB profiles swap count_distinct for
    approx_count_distinct per column.
    """
    cols = cols or df.columns
    aggs = []
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max" for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(column_name, n_nulls, n_distinct, min_value, max_value)"
        )
    )


def price_quantiles(lineitem: DataFrame) -> DataFrame:
    """Exact interpolated percentiles per return flag (Spark percentile
    ≡ DuckDB quantile_cont, verified bit-exact)."""
    q = F.expr(
        "percentile(l_extendedprice, array(0.25, 0.5, 0.9, 0.99))"
    )
    return lineitem.groupBy("l_returnflag").agg(
        q[0].alias("p25"), q[1].alias("p50"), q[2].alias("p90"), q[3].alias("p99")
    )


def price_quantiles_approx(lineitem: DataFrame) -> DataFrame:
    """Sketch variant of price_quantiles: percentile_approx
    (Greenwald-Khanna) — bounded memory per group, single pass, the
    100 TB form where exact percentile must buffer each group's values.
    Estimates are engine-specific → rows-only check; accuracy is pinned
    against the exact op in pytest instead."""
    q = F.expr(
        "percentile_approx(l_extendedprice, array(0.25, 0.5, 0.9, 0.99), 1000)"
    )
    return lineitem.groupBy("l_returnflag").agg(
        q[0].alias("p25"), q[1].alias("p50"), q[2].alias("p90"), q[3].alias("p99")
    )


def price_quantiles_approx_certified(lineitem: DataFrame) -> DataFrame:
    """Certified form (boolean-tolerance oracle): exact interpolated
    percentiles hash-checked cross-engine, plus one pinned boolean per
    quantile asserting the GK-sketch estimate lands within 5% of the
    exact value (GK accuracy 1000 bounds RANK error at n/1000; on these
    smooth price distributions that is far inside 5% of value). Exact
    and approx compute in the one groupBy."""
    ex = F.expr("percentile(l_extendedprice, array(0.25, 0.5, 0.9, 0.99))")
    ap = F.expr(
        "percentile_approx(l_extendedprice, array(0.25, 0.5, 0.9, 0.99), 1000)"
    )
    agg = lineitem.groupBy("l_returnflag").agg(ex.alias("_ex"), ap.alias("_ap"))

    def ok(i: int) -> F.Column:
        return (
            F.abs(F.col("_ap")[i] - F.col("_ex")[i]) <= F.lit(0.05) * F.col("_ex")[i]
        )

    return agg.select(
        "l_returnflag",
        F.col("_ex")[0].alias("p25"),
        F.col("_ex")[1].alias("p50"),
        F.col("_ex")[2].alias("p90"),
        F.col("_ex")[3].alias("p99"),
        ok(0).alias("p25_within_5pct"),
        ok(1).alias("p50_within_5pct"),
        ok(2).alias("p90_within_5pct"),
        ok(3).alias("p99_within_5pct"),
    )


def user_value_ewma(events: DataFrame, alpha: float = 0.3) -> DataFrame:
    """Per-user exponentially-weighted moving average of purchase
    values — the inherently SEQUENTIAL per-key recurrence
    (s_t = α·x_t + (1−α)·s_{t−1}) that window frames can't express.

    applyInPandas (grouped map): one shuffle on user_id, then each
    group's history replays in ts order inside an Arrow batch — the
    batch sibling of applyInPandasWithState. Ties on ts break by
    event_id so the replay order is total and runs are identical.
    Emits each user's final smoothed value and event count; rows-only
    (no SQL engine expresses the recurrence without a recursive CTE),
    exactness pinned by a hand-computed pytest fixture."""
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )

    def ewma_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        s = None
        for x in pdf["value"]:
            s = x if s is None else alpha * x + (1.0 - alpha) * s
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_purchases": [len(pdf)],
                "ewma_value": [s],
            }
        )

    return purchases.groupBy("user_id").applyInPandas(
        ewma_group, "user_id long, n_purchases long, ewma_value double"
    )


def events_funnel(events: DataFrame) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: users counted
    at a stage only if it happened AFTER their previous stage (a click
    before the first view doesn't convert).

    Staged semi-joins on user_id, each stage's relation strictly
    shrinking — the surviving user set re-partitions once and every
    later stage joins against an ever-smaller side (AQE broadcasts the
    tail stages at scale). min-ts comparisons only; no window needed.
    """
    first_view = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    first_click = (
        events.filter(F.col("event_type") == "click")
        .join(first_view, "user_id")
        .filter(F.col("ts") > F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    first_purchase = (
        events.filter(F.col("event_type") == "purchase")
        .join(first_click, "user_id")
        .filter(F.col("ts") > F.col("first_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    stages = [
        ("1_view", first_view),
        ("2_view_click", first_click),
        ("3_view_click_purchase", first_purchase),
    ]
    out = None
    for name, df in stages:
        row = df.agg(F.count("*").alias("n_users")).select(
            F.lit(name).alias("stage"), "n_users"
        )
        out = row if out is None else out.unionByName(row)
    return out


def daily_anomaly_flags(events: DataFrame, factor: float = 1.5) -> DataFrame:
    """Volume-anomaly screen: flag days whose event count exceeds
    `factor` × the trailing-7-day average — the data-quality tripwire a
    pipeline runs before trusting a day's partition.

    One shuffle to daily counts (tiny), then a single ordered window.
    The trailing average divides exact integer sums — bit-stable; days
    without a full CONSECUTIVE 7-day history report NULL and never flag
    (a partial 1-6 day "average" would make the launch week a
    spurious-alarm machine, and after an ingest gap the 7 prior ROWS
    are months stale — the gate checks the row 7 back is exactly 7
    calendar days back)."""
    daily = (
        events.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.orderBy("day").rowsBetween(-7, -1)
    # Full CONSECUTIVE week, not just 7 prior rows: the row 7 back must
    # be exactly 7 calendar days back, else an ingest gap would compare
    # today against a stale months-old average.
    full_history = F.lag("day", 7).over(Window.orderBy("day")) == F.date_sub(
        "day", 7
    )
    trailing = F.when(full_history, F.avg("cnt").over(w))
    return daily.select(
        "day",
        "cnt",
        trailing.alias("trailing_avg"),
        F.when(trailing.isNull(), F.lit(False))
        .otherwise(F.col("cnt") > F.lit(factor) * trailing)
        .alias("is_anomaly"),
    )


def cohort_retention(events: DataFrame, max_offset: int = 14) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen day, then
    distinct active users per (cohort_day, day_offset) — the
    product-analytics staple.

    Two shuffles: per-user min(ts) for the cohort assignment (user
    grain), then the (cohort, offset) distinct-user count. The cohort
    relation is user-grain — it re-joins the event stream on user_id,
    pre-projected to two columns, so the join moves keys + one date.
    Offsets capped at max_offset to bound the output grid."""
    cohorts = events.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("cohort_day")
    )
    active = events.select("user_id", F.to_date("ts").alias("day")).dropDuplicates(
        ["user_id", "day"]
    )
    return (
        active.join(cohorts, "user_id")
        .withColumn("day_offset", F.datediff("day", "cohort_day"))
        .filter(F.col("day_offset") <= max_offset)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count("*").alias("n_users"))
    )


def basket_part_pairs(lineitem: DataFrame, k: int = 25) -> DataFrame:
    """Market-basket co-occurrence: the k part pairs most often bought
    in the same order. Self-join on l_orderkey with p1 < p2 (each
    unordered pair counted once), distinct per order first so duplicate
    lines can't inflate a pair.

    Scale note: pairs-per-order grows quadratically with basket size —
    the distinct projection bounds it at C(items,2) per order and the
    join is a co-partitioned equi self-join on the order key (one
    shuffle, reused by both sides). Top-k is TakeOrderedAndProject."""
    items = lineitem.select("l_orderkey", "l_partkey").dropDuplicates()
    a = items.select("l_orderkey", F.col("l_partkey").alias("p1"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("p2"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("n_orders"))
        .orderBy(F.desc("n_orders"), F.asc("p1"), F.asc("p2"))
        .limit(k)
    )


def _selection_thresholds_melted(
    rel: DataFrame, specs: dict[str, tuple[dict[str, str], float]]
) -> DataFrame:
    """Exact global order statistics for SEVERAL metrics in ONE
    histogram-selection pipeline — the value at ascending sorted
    position pos(n) for each pick of each metric — with NO global row
    sort and NO partition-less window (VERDICT r13 #4; melted to one
    (metric, value) pipeline per VERDICT r14 #4, collapsing three
    parallel stage-chains into one). Two-level histogram selection:

      1. value histogram per metric (map-side-combined count per
         distinct (metric, value));
      2. coarse ordered buckets of per-metric width over the value
         axis — the bucket relation is range/width rows per metric,
         bounded by the caller's domain argument, so the prior-mass
         range join below is a bounded metric-keyed join with a
         bucket-order filter (tiny × tiny), not a corpus product;
      3. each requested position lands in exactly one boundary bucket
         (before < pos <= before + bcnt); only THOSE buckets'
         histogram rows get a cumulative window, partitioned per
         (metric, pick) — every window partition is one coarse
         bucket's histogram, never the relation.

    `rel` is the melted (metric: string, value: double) relation.
    `specs` maps metric -> (picks, bucket_width), where picks maps
    output column name -> integer position expression in terms of `n`
    (the metric's row count), e.g. "(n + 3) div 4". Pick names must be
    globally unique. Returns a 1-row DataFrame with one column per
    pick across all metrics."""
    widths = F.create_map(
        *[
            x
            for m, (_, w) in specs.items()
            for x in (F.lit(m), F.lit(float(w)))
        ]
    )
    hist = rel.groupBy("metric", "value").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    h = hist.withColumn(
        "b",
        F.floor(F.col("value") / widths[F.col("metric")]).cast("long"),
    )
    btot = h.groupBy("metric", "b").agg(F.sum("cnt").alias("bcnt"))
    prior = btot.select(
        F.col("metric").alias("pm"),
        F.col("b").alias("pb"),
        F.col("bcnt").alias("pcnt"),
    )
    # bounded buckets × buckets join, equi-keyed on metric with the
    # bucket-order filter (domain-bounded by construction)
    boff = (
        btot.join(
            F.broadcast(prior),
            (F.col("pm") == F.col("metric")) & (F.col("pb") < F.col("b")),
            "left",
        )
        .groupBy("metric", "b", "bcnt")
        .agg(F.coalesce(F.sum("pcnt"), F.lit(0)).cast("long").alias("before"))
    )
    total = btot.groupBy("metric").agg(F.sum("bcnt").cast("long").alias("n"))
    # per-metric totals broadcast onto the bucket rows for pos(n)
    all_picks = [
        (m, name, pos)
        for m, (picks, _) in specs.items()
        for name, pos in picks.items()
    ]
    pick_rows = (
        boff.join(F.broadcast(total), "metric")
        .select(
            "metric",
            "b",
            "before",
            "bcnt",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias("pm"),
                            F.lit(name).alias("pick"),
                            F.expr(pos).cast("long").alias("pos"),
                        )
                        for m, name, pos in all_picks
                    ]
                )
            ).alias("p"),
        )
        .filter(F.col("p.pm") == F.col("metric"))
        .select("metric", "b", "before", "p.pick", "p.pos")
        .filter(
            (F.col("before") < F.col("pos"))
            & (F.col("pos") <= F.col("before") + F.col("bcnt"))
        )
    )
    w = Window.partitionBy("metric", "pick").orderBy("value")
    return (
        h.join(F.broadcast(pick_rows), ["metric", "b"])
        .withColumn("cum", F.sum("cnt").over(w))
        .groupBy()
        .agg(
            *[
                F.min(
                    F.when(
                        (F.col("pick") == name)
                        & (F.col("before") + F.col("cum") >= F.col("pos")),
                        F.col("value"),
                    )
                ).alias(name)
                for _, name, _ in all_picks
            ]
        )
    )


def _selection_thresholds(
    rel: DataFrame, col: str, picks: dict[str, str], bucket_width
) -> DataFrame:
    """Single-metric form of `_selection_thresholds_melted` (kept as
    the property-test surface and for one-metric callers).

    Domain contract (ADVICE r15 #1): the melted pipeline carries
    values as DOUBLE, so order statistics are exact only for inputs
    whose magnitude stays below 2^53 (every integer in that range is
    representable; beyond it distinct int64 values can collapse to
    the same double and the returned threshold changes dtype from the
    source column type to double). Every in-tree caller is
    domain-bounded far inside that envelope — recency is calendar
    days, frequency basket counts, monetary CENTS bigints < 2^40 —
    but a new caller feeding full-range int64 keys should pre-bucket
    or scale rather than rely on exactness past 2^53."""
    melted = rel.select(
        F.lit(col).alias("metric"), F.col(col).cast("double").alias("value")
    )
    return _selection_thresholds_melted(melted, {col: (picks, bucket_width)})


def customer_rfm(orders: DataFrame, anchor: str = "2002-01-01") -> DataFrame:
    """RFM segmentation: recency / frequency / monetary quartiles per
    customer, the classic CRM feature triple.

    Quartiles are THRESHOLD-BUCKETED, not ntile'd (VERDICT r13 #4
    replaced the three partition-less ntile(4) windows, which moved
    every customer row through one task): the three exact quartile
    boundary values per metric come from `_selection_thresholds` —
    the element at sorted position ceil(k·n/4) (ascending for recency;
    the mirrored position n − ceil(k·n/4) + 1 for the descending
    frequency/monetary rankings) — and each customer's quartile is
    1 + (how many thresholds it is past). Ties therefore share a
    quartile (the old o_custkey tiebreak split tied values across
    boundaries; the threshold semantics are the ones a CRM actually
    wants, and the oracle mirrors them exactly).

    Scale shape: one map-side-combined shuffle to customer grain, then
    ONE melted (metric, value) histogram-selection pipeline for all
    three metrics (VERDICT r14 #4 — the previous three parallel
    pipelines tripled the small-stage count for a ~3 s fixed overhead;
    the melt is a 3× wider but single stage-chain) — recency is
    calendar-bounded (~10³ distinct days), frequency basket-bounded
    (~10² distinct counts), monetary cents-granular (price-domain
    bounded); the coarse bucket relations are at most a few thousand
    rows per metric, so no sort or window ever sees a customer-grain
    relation. Thresholds come back as one broadcast row; assignment is
    a scan-stage comparison."""
    base = orders.groupBy("o_custkey").agg(
        F.datediff(
            F.lit(anchor).cast("timestamp_ntz"), F.max("o_orderdate")
        ).alias("recency_days"),
        F.count("*").alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
        .cast("double")
        .alias("monetary"),
    # the customer-grain relation feeds the threshold pipeline plus
    # the final assignment — checkpoint it once instead of re-running
    # the orders aggregation twice (the pair_transitivity reuse
    # discipline)
    ).localCheckpoint(eager=True)

    def _asc(k: int) -> str:
        return f"({k} * n + 3) div 4"

    def _desc(k: int) -> str:
        return f"n - ({k} * n + 3) div 4 + 1"

    melted = base.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("r").alias("metric"),
                    F.col("recency_days").cast("double").alias("value"),
                ),
                F.struct(
                    F.lit("f").alias("metric"),
                    F.col("frequency").cast("double").alias("value"),
                ),
                F.struct(
                    F.lit("m").alias("metric"),
                    F.col("monetary").alias("value"),
                ),
            )
        ).alias("mv")
    ).select("mv.metric", "mv.value")
    # one broadcast threshold row for all nine boundaries
    thr = _selection_thresholds_melted(
        melted,
        {
            "r": ({f"r_t{k}": _asc(k) for k in (1, 2, 3)}, 32),
            "f": ({f"f_t{k}": _desc(k) for k in (1, 2, 3)}, 4),
            "m": ({f"m_t{k}": _desc(k) for k in (1, 2, 3)}, 65536.0),
        },
    )

    def _past(v: str, ts: list[str], op) -> F.Column:
        out = F.lit(1)
        for t in ts:
            out = out + op(F.col(v), F.col(t)).cast("int")
        return out.cast("int")

    gt = lambda a, b: a > b  # noqa: E731 — asc: past = above threshold
    lt = lambda a, b: a < b  # noqa: E731 — desc: past = below threshold
    return base.crossJoin(F.broadcast(thr)).select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        _past("recency_days", ["r_t1", "r_t2", "r_t3"], gt).alias(
            "r_quartile"
        ),
        _past("frequency", ["f_t1", "f_t2", "f_t3"], lt).alias("f_quartile"),
        _past("monetary", ["m_t1", "m_t2", "m_t3"], lt).alias("m_quartile"),
    )


def events_hourly_heatmap(events: DataFrame) -> DataFrame:
    """Activity heatmap: event counts by (day-of-week, hour-of-day) —
    the seasonality grid capacity planning reads. Pure scan-stage
    expressions into a ≤168-row aggregate; dow keeps Spark's raw
    1=Sunday convention with the name saying so (see
    orders_date_features)."""
    return (
        events.groupBy(
            F.dayofweek("ts").alias("dow_sun1"), F.hour("ts").alias("hour")
        )
        .agg(F.count("*").alias("n_events"))
    )


def docs_length_histogram(documents: DataFrame, bucket_width: int = 100) -> DataFrame:
    """Document-length histogram: fixed-width buckets over n_chars —
    the distribution scan every corpus report starts with. floor
    division (not width_bucket) so the bucketing is integer-exact and
    engine-identical; per-bucket min/max bound each bar exactly."""
    bucket = F.floor(F.col("n_chars") / bucket_width).cast("long")
    return (
        documents.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .withColumn("bucket_lo", F.col("bucket") * bucket_width)
    )


def data_quality_checks(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """Pipeline-gate constraint checks, one row per rule: violation
    counts for key uniqueness, referential integrity, null rates, and
    domain bounds — the pre-publish validation a production pipeline
    runs before exposing a day's partitions.

    Each rule is an independent aggregate over a pruned projection;
    integrity checks are anti-joins against distinct parent keys (the
    key set travels, not the table). The union of 1-row aggregates is
    plan-trivial; the scans dominate, as they should.
    """
    def rule(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("check_name"),
            F.count("*").cast("long").alias("n_violations"),
        )

    dup_orders = (
        orders.groupBy("o_orderkey").agg(F.count("*").alias("n")).filter(F.col("n") > 1)
    )
    orphan_orders = orders.join(
        customer.select("c_custkey").distinct(),
        orders.o_custkey == F.col("c_custkey"),
        "left_anti",
    )
    orphan_lineitems = lineitem.join(
        orders.select("o_orderkey").distinct(),
        lineitem.l_orderkey == F.col("o_orderkey"),
        "left_anti",
    )
    null_price = orders.filter(F.col("o_totalprice").isNull())
    negative_qty = lineitem.filter(F.col("l_quantity") <= 0)
    discount_domain = lineitem.filter(
        (F.col("l_discount") < 0) | (F.col("l_discount") > 1)
    )
    checks = [
        rule("orders_pk_duplicates", dup_orders),
        rule("orders_fk_customer_orphans", orphan_orders),
        rule("lineitem_fk_orders_orphans", orphan_lineitems),
        rule("orders_totalprice_nulls", null_price),
        rule("lineitem_qty_nonpositive", negative_qty),
        rule("lineitem_discount_out_of_range", discount_domain),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


def time_grain_rollup(events: DataFrame) -> DataFrame:
    """Hypertable-style continuous-aggregate hierarchy: per-event-type
    counts and value sums at day, month, and year grain — each COARSER
    grain re-aggregated from the FINER aggregate, never from the raw
    table.

    This is the rollup-reuse shape (TimescaleDB continuous aggregates,
    Druid rollup): the raw scan happens exactly once, for the daily
    grain; monthly re-aggregates |days|×|types| rows and yearly
    |months|×|types| — at 100 TB the month/year passes are free
    compared to re-scanning the fact table per grain (3× scan cost),
    and in production the daily output is the incrementally-maintained
    materialization the others fold over. Value sums carry
    decimal(18,6) through every level so re-aggregation is
    order-insensitive and exactly equals a flat GROUP BY from raw —
    which is what the oracle checks.
    """
    daily = events.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("value_dec"),
    )
    # Materialize the daily grain (days×types rows — tiny) so the
    # month/year branches fold over it instead of re-scanning the fact
    # table; without this the union plan holds three FileScans (verified
    # — exchange reuse does not dedupe the shared subtree here).
    daily = daily.localCheckpoint(eager=True)
    monthly = daily.groupBy(
        F.substring("day", 1, 7).alias("bucket"), "event_type"
    ).agg(F.sum("n_events").alias("n_events"), F.sum("value_dec").alias("value_dec"))
    yearly = monthly.groupBy(
        F.substring("bucket", 1, 4).alias("bucket"), "event_type"
    ).agg(F.sum("n_events").alias("n_events"), F.sum("value_dec").alias("value_dec"))

    def _emit(df, grain, bucket_col):
        return df.select(
            F.lit(grain).alias("grain"),
            F.col(bucket_col).alias("bucket"),
            "event_type",
            "n_events",
            F.col("value_dec").cast("double").alias("total_value"),
        )

    return (
        _emit(daily, "day", "day")
        .unionByName(_emit(monthly, "month", "bucket"))
        .unionByName(_emit(yearly, "year", "bucket"))
    )


def value_percentiles_by_type(events: DataFrame) -> DataFrame:
    """Exact grouped percentiles (p25/p50/p90 of value per event type)
    via percentile_disc — DISCRETE selection, not interpolation, so the
    result is an actual data value and bit-matches any engine (the
    interpolated percentile_cont mixes doubles in engine-specific
    order). One partial-agg shuffle on event_type; per-group state is
    the sorted value multiset, fine for grouped-summary cardinalities —
    for per-user percentiles at 100 TB you'd switch to the GK-sketch
    variant (`lineitem_price_quantiles_approx`)."""
    return events.groupBy("event_type").agg(
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY value)").alias("p25"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias("p50"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY value)").alias("p90"),
        F.count("*").alias("n"),
    )


# ---------------------------------------------------------------------------
# Oracle-checked query registry
# ---------------------------------------------------------------------------

def daily_trend_fit(events: DataFrame) -> DataFrame:
    """Per-event-type OLS trend over daily counts — slope/intercept via
    the closed-form normal equations, so the whole fit is four integer
    sums and two double divisions (no iterative solver, no libm):
    slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) with x = day index from the
    type's first day, y = daily count. The capacity-planning primitive
    ("are error events trending up?") as ONE aggregation over the daily
    grain — at 100 TB the daily grain is already tiny.

    Single-day types yield NULL slope/intercept (zero variance in x)
    rather than a degenerate fit.
    """
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("y"))
    from pyspark.sql import Window

    x = F.datediff(
        F.col("day"), F.min("day").over(Window.partitionBy("event_type"))
    ).cast("long")
    d = daily.select("event_type", x.alias("x"), "y")
    agg = d.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    denom = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / denom
    return agg.select(
        "event_type",
        "n",
        F.when(denom != 0, slope).alias("slope_per_day"),
        F.when(
            denom != 0, (F.col("sy") - slope * F.col("sx")) / F.col("n")
        ).alias("intercept"),
    )


def event_type_transitions(events: DataFrame) -> DataFrame:
    """First-order Markov transition table over each user's event
    stream: (from_type, to_type) counts and row-normalized transition
    probabilities — the sequence-modeling prep for behavioral data
    (and the empirical bigram model sessionization sanity-checks
    against). lead() over the (ts, event_id)-ordered per-user stream
    gives consecutive pairs in one user_id shuffle; probabilities are
    long-count ratios (one double division), so the table hash-
    certifies. Per-from-type totals come from a window over the
    (small) transition table, not a rescan.
    """
    from pyspark.sql import Window

    seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(seq).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )
    tot = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n") / F.sum("n").over(tot)).alias("p"),
    )


MIN_RULE_ORDERS = 3


def basket_association_rules(
    lineitem: DataFrame, min_orders: int = MIN_RULE_ORDERS
) -> DataFrame:
    """Directional association rules over order baskets: for every
    (antecedent → consequent) part pair co-bought in ≥ min_orders
    orders, the classic support / confidence / lift triple — the step
    after basket_part_pairs' raw co-occurrence counts.

    All three metrics stay RATIONAL (long-integer counts, one double
    division at the end; lift's cross-product runs in long arithmetic
    before the division), so the full rule table hash-certifies.
    Plan shape: the pair self-join is co-partitioned on l_orderkey
    (one shuffle builds both sides), per-item counts and the basket
    total are part-/1-cardinality relations joined broadcast — the
    fact table is scanned once for items, once for pairs, never
    re-scanned per rule.
    """
    items = lineitem.select("l_orderkey", "l_partkey").dropDuplicates()
    item_cnt = items.groupBy("l_partkey").agg(F.count("*").alias("n_item"))
    totals = items.agg(F.countDistinct("l_orderkey").alias("n_baskets"))
    a = items.select("l_orderkey", F.col("l_partkey").alias("antecedent"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("consequent"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("antecedent") != F.col("consequent"))
        .groupBy("antecedent", "consequent")
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= min_orders)
    )
    return (
        pairs.join(
            F.broadcast(
                item_cnt.select(
                    F.col("l_partkey").alias("antecedent"),
                    F.col("n_item").alias("n_ante"),
                )
            ),
            "antecedent",
        )
        .join(
            F.broadcast(
                item_cnt.select(
                    F.col("l_partkey").alias("consequent"),
                    F.col("n_item").alias("n_cons"),
                )
            ),
            "consequent",
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "antecedent",
            "consequent",
            "n_both",
            "n_ante",
            "n_cons",
            (F.col("n_both") / F.col("n_baskets")).alias("support"),
            (F.col("n_both") / F.col("n_ante")).alias("confidence"),
            (
                (F.col("n_both") * F.col("n_baskets"))
                / (F.col("n_ante") * F.col("n_cons"))
            ).alias("lift"),
        )
    )


def value_winsorized(events: DataFrame) -> DataFrame:
    """Winsorization — the outlier treatment a training pipeline applies
    before a value column feeds a loss: clip each event's value to its
    event-type's [p1, p99] band. Thresholds via percentile_disc
    (discrete selection — engine-portable, and the clip boundary is an
    actual observed value); per-type thresholds are a tiny relation
    joined broadcast, so the corpus pass stays scan-shaped.
    """
    th = events.groupBy("event_type").agg(
        F.expr("percentile_disc(0.01) WITHIN GROUP (ORDER BY value)").alias("p_lo"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY value)").alias("p_hi"),
    )
    return (
        events.join(F.broadcast(th), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            F.least(F.greatest(F.col("value"), F.col("p_lo")), F.col("p_hi")).alias(
                "value_winsorized"
            ),
            (
                (F.col("value") < F.col("p_lo")) | (F.col("value") > F.col("p_hi"))
            ).alias("was_clipped"),
        )
    )


def seasonal_residuals(events: DataFrame) -> DataFrame:
    """Robust seasonality decomposition of the daily event counts: each
    (event_type, day) gets its day-of-week baseline, the deseasonalized
    residual, and an outlier flag via the median-absolute-deviation
    rule — |residual| > 3·MAD. The seasonality-aware alternative to
    daily_anomaly_flags' trailing mean.

    Robust end to end: the dow baseline is a MEDIAN (a mean would let
    one spiked Monday drag every other Monday into the outlier band —
    the masking failure the MAD rule exists to avoid), the MAD is a
    median SELECTION (an actual residual value, no sqrt/stddev), and
    the 3·MAD compare multiplies — all selections and integer
    subtractions, so the whole decomposition hash-certifies where a
    z-score (stddev = sqrt) could not. Both medians are computed via an
    EXPLICIT row_number() = (n+1)//2 selection rather than any
    discrete-quantile function: percentile_disc's even-group index
    convention drifted across engine releases (two consecutive red
    driver rounds), while "the element at sorted position ceil(n/2)"
    is a single convention both engines execute identically. Ties in
    the ordered value cannot perturb the selected VALUE — position k
    of a sorted multiset is value-determined regardless of tie order.
    Two bounded aggregations over the daily grain; at 100 TB the daily
    grain is already tiny (the row_number windows run over per-group
    day counts, not raw events).
    """
    from pyspark.sql import Window

    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("y"))
    dow = F.dayofweek("day")
    prof_w = Window.partitionBy("event_type", "dow").orderBy("y")
    prof_n = Window.partitionBy("event_type", "dow")
    prof = (
        daily.select("event_type", dow.alias("dow"), "y")
        .withColumn("rn", F.row_number().over(prof_w))
        .withColumn("n", F.count(F.lit(1)).over(prof_n))
        .where(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("event_type", "dow", F.col("y").alias("dow_baseline"))
    )
    d = daily.select("event_type", "day", dow.alias("dow"), "y").join(
        F.broadcast(prof), ["event_type", "dow"]
    )
    resid = d.select(
        "event_type",
        "day",
        "dow",
        "y",
        "dow_baseline",
        (F.col("y") - F.col("dow_baseline")).alias("residual"),
    )
    mad_w = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("residual"))
    )
    mad_n = Window.partitionBy("event_type")
    mad = (
        resid.select("event_type", "residual")
        .withColumn("rn", F.row_number().over(mad_w))
        .withColumn("n", F.count(F.lit(1)).over(mad_n))
        .where(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("event_type", F.abs(F.col("residual")).alias("mad"))
    )
    # `dow` stays internal: it is a grouping key, not a deliverable, and
    # exposing it made the certified hash hostage to cross-engine
    # day-of-week conventions (round-5 red row). day/y/baseline/residual/
    # is_outlier carry the full analytic content.
    return resid.join(F.broadcast(mad), "event_type").select(
        "event_type",
        "day",
        "y",
        "dow_baseline",
        "residual",
        (F.abs(F.col("residual")) > 3 * F.col("mad")).alias("is_outlier"),
    )


ER_PERTURB_MOD = 3  # every 3rd customer gets a dirtied twin
ER_MIN_DICE = 0.5
# Composite blocking: nation alone is ~25 blocks, so within-block
# all-pairs is O((n/25)²) — a skewed full shuffle at 100× scale. The
# name's last-4-chars component multiplies the block count by up to
# 10^4 for digit-suffixed names (TPC-H: the low-order custkey digits,
# uniformly distributed), which is what keeps per-block candidate
# lists bounded as the corpus grows. Trade-off: a typo in the blocked
# suffix hides the match from THIS pass — `link_records_multipass`
# (below) adds the sorted-neighborhood pass over the reversed record,
# so a record must dodge two independent keys to stay unlinked.
ER_BLOCK_NAME_CHARS = 4
# Safety valve for degenerate keys (every record named "UNKNOWN"): a
# clean-side block larger than this is excluded from candidate
# generation entirely — bounded quadratic work beats an unbounded
# skew straggler, and junk mega-blocks carry no linkage signal anyway.
# Sized far above any real block in the testdata (largest observed: 1).
ER_MAX_BLOCK_ROWS = 10_000


def _block_key(rec: F.Column) -> F.Column:
    """Last ER_BLOCK_NAME_CHARS chars of the record's name field
    (portion before '|'). Explicit start arithmetic instead of a
    negative substring position — Spark and DuckDB disagree on
    negative-start behavior for strings shorter than the window."""
    name = F.substring_index(rec, "|", 1)
    start = F.greatest(
        F.length(name) - F.lit(ER_BLOCK_NAME_CHARS - 1), F.lit(1)
    )
    return name.substr(start, F.lit(ER_BLOCK_NAME_CHARS))


def _char_bigrams(col: F.Column) -> F.Column:
    """Distinct character bigrams of a string — codegen HOFs only.
    Strings shorter than 2 chars yield an EMPTY array: F.sequence(1, 0)
    would otherwise produce the descending [1, 0] (Spark sequences step
    -1 when stop < start), manufacturing bogus 'bigrams' and a nonzero
    Dice denominator for inputs the oracle scores 0/0."""
    return F.when(
        F.length(col) >= 2,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(col) - 1),
                lambda i: col.substr(i, F.lit(2)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def _linkage_sides(customer: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The deterministic (dirty, clean) sides both linkage queries
    share: every ER_PERTURB_MODth customer gets a twin whose first
    cents digit is overwritten with '9'."""
    cents = (
        F.round(F.col("c_acctbal") * 100).cast("long").cast("string")
    )
    base = customer.select(
        "c_custkey", "c_name", "c_nationkey", cents.alias("cents")
    )
    dirty = base.filter(F.col("c_custkey") % ER_PERTURB_MOD == 0).select(
        F.col("c_custkey").alias("true_key"),
        F.col("c_nationkey").alias("d_nation"),
        # perturbation: first cents digit overwritten with '9'
        F.concat(
            F.col("c_name"),
            F.lit("|9"),
            F.col("cents").substr(F.lit(2), F.length("cents")),
        ).alias("d_rec"),
    )
    clean = base.select(
        F.col("c_custkey").alias("cand_key"),
        F.col("c_nationkey").alias("c_nation"),
        F.concat(F.col("c_name"), F.lit("|"), F.col("cents")).alias("c_rec"),
    )
    return dirty, clean


def customer_record_linkage(customer: DataFrame) -> DataFrame:
    """Entity resolution: link dirtied customer records back to their
    canonical rows — blocking + pairwise similarity + best-match
    selection, the standard three-stage linkage pipeline.

    The dirty side is a deterministic perturbation of every
    ER_PERTURB_MODth customer (one account-balance digit overwritten
    in the exact-cents rendering), so ground
    truth is known and the oracle can mirror the whole pipeline.
    Blocking is the composite (c_nationkey, last-4-of-name) key — see
    ER_BLOCK_NAME_CHARS for the scale rationale — with clean-side
    mega-blocks capped; the match score is Dice over distinct
    character bigrams of name|phone — integer set sizes, one double
    division, so scores hash-certify. Best match per dirty record by
    (score desc, custkey asc); `is_correct` makes the linkage accuracy
    itself part of the certified output.
    """
    dirty, clean = _linkage_sides(customer)
    return link_records(dirty, clean, id_col="true_key").select(
        "true_key",
        "matched_key",
        "dice",
        (F.col("matched_key") == F.col("true_key")).alias("is_correct"),
    )


def link_records(
    dirty: DataFrame,
    clean: DataFrame,
    min_dice: float = ER_MIN_DICE,
    id_col: str = "true_key",
) -> DataFrame:
    """The linkage core (composite blocking equi-join → bigram Dice →
    best match per incoming record), shared by the batch certification
    query and the streaming link-on-ingest job. dirty carries (id_col,
    d_nation, d_rec); clean carries (cand_key, c_nation, c_rec). The
    clean side is broadcast — at scale the canonical table is the
    small, deduplicated master data.

    Blocking key is (nation, last-4-of-name) — see ER_BLOCK_NAME_CHARS
    for why nation alone does not survive 100× scale — with clean-side
    mega-blocks (> ER_MAX_BLOCK_ROWS) excluded before the join."""
    wb = Window.partitionBy("c_nation", "_c_bk")
    clean_blocked = (
        clean.withColumn("_c_bk", _block_key(F.col("c_rec")))
        .withColumn("_bsz", F.count("*").over(wb))
        .filter(F.col("_bsz") <= ER_MAX_BLOCK_ROWS)
        .drop("_bsz")
    )
    dirty_blocked = dirty.withColumn("_d_bk", _block_key(F.col("d_rec")))
    db, cb = _char_bigrams(F.col("d_rec")), _char_bigrams(F.col("c_rec"))
    pairs = (
        dirty_blocked.join(
            F.broadcast(clean_blocked),
            (dirty_blocked.d_nation == clean_blocked.c_nation)
            & (dirty_blocked._d_bk == clean_blocked._c_bk),
        )
        # zero-bigram records (len<2 strings) have no defined Dice —
        # drop them before the division rather than emit 0/0 garbage
        .filter((F.size(db) > 0) & (F.size(cb) > 0))
        .withColumn(
            "dice",
            2
            * F.size(F.array_intersect(db, cb))
            / (F.size(db) + F.size(cb)),
        )
        .filter(F.col("dice") >= min_dice)
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("dice"), F.asc("cand_key"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(id_col, F.col("cand_key").alias("matched_key"), "dice")
    )


SN_WINDOW = 4        # sorted-neighborhood radius in sort positions
SN_BUCKET_CHARS = 2  # lexicographic range-bucket width for the rank


def sorted_neighborhood_candidates(
    dirty: DataFrame,
    clean: DataFrame,
    id_col: str = "true_key",
    w: int = SN_WINDOW,
) -> DataFrame:
    """Second blocking pass for record linkage — classic
    sorted-neighborhood (Hernández & Stolfo, SIGMOD 1995), the pass
    customer_record_linkage's docstring promises for typos in the
    composite block key: sort BOTH sides on a sliding key and emit
    every dirty×clean pair within `w` positions of each other. The
    sort key is the REVERSED record — for suffix-discriminated
    records (TPC-H names share the 'Customer#' prefix) reversal puts
    the discriminating characters first, and a typo in the *name*
    suffix (which breaks the composite block) leaves the reversed key's
    cents-prefix intact, so the true pair sorts adjacent.

    Distributed shape — NO single-partition global sort: the key space
    is cut by its first SN_BUCKET_CHARS characters (data-independent
    lexicographic ranges — the same fixed-range discipline as
    quality_budget_fill's score buckets), per-bucket counts become
    broadcast running offsets via a window over the tiny bucket
    relation, and row_number runs within buckets only. Global rank =
    offset + within-bucket rank — identical to the single-sort rank,
    never one task. Pairing is then an equi-join on rank-band
    (band = rank // w; any pair within w spans at most adjacent bands,
    so the dirty side explodes to 3 bands) with the |Δrank| ≤ w
    residual — O(w) candidates per record by construction.
    """
    tagged = dirty.select(
        F.lit(1).alias("_is_dirty"),
        F.col(id_col).alias("_id"),
        F.reverse(F.col("d_rec")).alias("_sk"),
    ).unionByName(
        clean.select(
            F.lit(0).alias("_is_dirty"),
            F.col("cand_key").alias("_id"),
            F.reverse(F.col("c_rec")).alias("_sk"),
        )
    )
    d = tagged.withColumn("_bkt", F.substring("_sk", 1, SN_BUCKET_CHARS))
    totals = d.groupBy("_bkt").agg(F.count(F.lit(1)).alias("_n"))
    off_w = Window.orderBy("_bkt").rowsBetween(  # bucket-count rows — tiny
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "_bkt", F.coalesce(F.sum("_n").over(off_w), F.lit(0)).alias("_off")
    )
    in_w = Window.partitionBy("_bkt").orderBy("_sk", "_is_dirty", "_id")
    ranked = (
        d.join(F.broadcast(offsets), "_bkt")
        .withColumn("_rank", F.row_number().over(in_w) + F.col("_off"))
        .withColumn("_band", F.expr(f"_rank div {int(w)}"))
        # two consumers (dirty/clean split of the same ranked relation)
        .localCheckpoint(eager=True)
    )
    dr = ranked.filter(F.col("_is_dirty") == 1).select(
        F.col("_id").alias(id_col),
        F.col("_rank").alias("_dr"),
        F.explode(
            F.array(F.col("_band") - 1, F.col("_band"), F.col("_band") + 1)
        ).alias("_jb"),
    )
    cl = ranked.filter(F.col("_is_dirty") == 0).select(
        F.col("_id").alias("cand_key"),
        F.col("_rank").alias("_cr"),
        F.col("_band").alias("_jb"),
    )
    return (
        dr.join(cl, "_jb")
        .filter(F.abs(F.col("_dr") - F.col("_cr")) <= w)
        .select(id_col, "cand_key")
        .dropDuplicates([id_col, "cand_key"])
    )


def link_records_multipass(
    dirty: DataFrame,
    clean: DataFrame,
    min_dice: float = ER_MIN_DICE,
    id_col: str = "true_key",
    w: int = SN_WINDOW,
) -> DataFrame:
    """Two-pass linkage — the production shape the single-pass
    docstring trades away: candidates are the UNION of (1) the
    composite (nation, name-suffix) block join and (2) the
    sorted-neighborhood pass over the reversed record, so a typo in
    EITHER the blocked suffix or the record tail still surfaces the
    true pair (a record must dodge two independent keys to hide).
    Scoring and best-match selection run ONCE over the deduped
    candidate union — same Dice arithmetic, same (score desc, key asc)
    tie-break as the certified single-pass query. LIBRARY operator:
    the registry certifies the single-pass form; this composes the
    same certified pieces."""
    wb = Window.partitionBy("c_nation", "_c_bk")
    clean_blocked = (
        clean.withColumn("_c_bk", _block_key(F.col("c_rec")))
        .withColumn("_bsz", F.count(F.lit(1)).over(wb))
        .filter(F.col("_bsz") <= ER_MAX_BLOCK_ROWS)
    )
    p1 = (
        dirty.withColumn("_d_bk", _block_key(F.col("d_rec")))
        .join(
            F.broadcast(clean_blocked),
            (F.col("d_nation") == F.col("c_nation"))
            & (F.col("_d_bk") == F.col("_c_bk")),
        )
        .select(id_col, "cand_key")
    )
    p2 = sorted_neighborhood_candidates(dirty, clean, id_col=id_col, w=w)
    cand = p1.unionByName(p2).dropDuplicates([id_col, "cand_key"])
    scored = (
        cand.join(dirty, id_col)
        .join(F.broadcast(clean), "cand_key")
        .filter(
            (F.size(_char_bigrams(F.col("d_rec"))) > 0)
            & (F.size(_char_bigrams(F.col("c_rec"))) > 0)
        )
        .withColumn(
            "dice",
            2
            * F.size(
                F.array_intersect(
                    _char_bigrams(F.col("d_rec")),
                    _char_bigrams(F.col("c_rec")),
                )
            )
            / (
                F.size(_char_bigrams(F.col("d_rec")))
                + F.size(_char_bigrams(F.col("c_rec")))
            ),
        )
        .filter(F.col("dice") >= min_dice)
    )
    wsel = Window.partitionBy(id_col).orderBy(F.desc("dice"), F.asc("cand_key"))
    return (
        scored.withColumn("rk", F.row_number().over(wsel))
        .filter(F.col("rk") == 1)
        .select(id_col, F.col("cand_key").alias("matched_key"), "dice")
    )


def customer_record_linkage_multipass(customer: DataFrame) -> DataFrame:
    """Certified form of the two-pass linkage (round-8 registry slot
    for the r7 library op): the same deterministic perturbation and
    output shape as customer_record_linkage, with candidates drawn
    from BOTH the composite block join and the sorted-neighborhood
    pass. On this corpus the typo sits in the cents field — the
    composite (nation, name-suffix) block key survives — so accuracy
    matches the single-pass query; what the oracle certifies is that
    the widened candidate set changes NO best-match decision (the
    union is a superset, and Dice + (score desc, key asc) selection is
    order-independent), which is exactly the regression a second
    blocking pass must not introduce."""
    dirty, clean = _linkage_sides(customer)
    return link_records_multipass(dirty, clean, id_col="true_key").select(
        "true_key",
        "matched_key",
        "dice",
        (F.col("matched_key") == F.col("true_key")).alias("is_correct"),
    )


def supplier_pareto(lineitem: DataFrame, n_buckets: int = 64) -> DataFrame:
    """Pareto / ABC classification of suppliers by revenue: rank every
    supplier by lineitem revenue, accumulate the revenue share in rank
    order, and class A = suppliers inside the first 80% of revenue,
    B = 80-95%, C = the tail. The inventory-analysis staple (which
    20% of suppliers carry 80% of spend) the relational tail otherwise
    lacks — a value-ORDERED cumulative, where the budget/shard family
    is hash-ordered.

    Scale shape: the per-supplier aggregate is the only corpus-sized
    shuffle. The global rank-order cumulative is NOT a bare
    Window.orderBy (one task holds every supplier at 100 TB — the
    exact ceiling the curation shard stage removed): suppliers are
    range-partitioned on the (revenue desc, suppkey) sort key,
    per-partition decimal cumsums run in parallel, and the ≤ n_buckets
    per-partition totals become broadcast prefix offsets. Partition
    boundaries affect parallelism only — the composed cumsum follows
    the same unique global order, so the output is bit-identical to
    the single-window form (the assign_training_shards argument,
    value-ordered instead of hash-ordered).

    Decimal discipline: revenue sums and the cumulative are
    decimal-exact (order-free); doubles appear only in the final
    share divisions of already-exact operands, so any engine agrees
    bit-for-bit (the tpch q1 convention)."""
    rev_dec = F.col("rev_dec")
    rev = (
        lineitem.groupBy("l_suppkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (
                    F.lit(1).cast("decimal(3,2)")
                    - F.col("l_discount").cast("decimal(4,2)")
                )
            ).alias("rev_dec")
        )
        # range partitioning ON the sort key: each partition holds a
        # contiguous rank range, so a per-partition cumsum + a prefix
        # offset equals the global cumsum
        .repartitionByRange(n_buckets, F.desc("rev_dec"), F.col("l_suppkey"))
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # offsets + cumsum share the sort
    )
    per_part = rev.groupBy("pid").agg(
        F.sum("rev_dec").alias("p_dec"), F.count(F.lit(1)).alias("p_n")
    )
    off_w = (
        Window.orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )  # ≤ n_buckets rows — tiny by construction
    offsets = per_part.select(
        "pid",
        F.coalesce(F.sum("p_dec").over(off_w), F.lit(0).cast("decimal(22,2)"))
        .alias("off_dec"),
        F.coalesce(F.sum("p_n").over(off_w), F.lit(0)).alias("off_n"),
    )
    total = per_part.agg(
        F.sum("p_dec").cast("double").alias("total_rev")
    )
    rank_w = Window.partitionBy("pid").orderBy(
        F.desc("rev_dec"), F.col("l_suppkey")
    )
    cum_w = rank_w.rowsBetween(Window.unboundedPreceding, 0)
    cum_share = F.col("cum_double") / F.col("total_rev")
    return (
        rev.join(F.broadcast(offsets), "pid")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "cum_double",
            (F.sum("rev_dec").over(cum_w) + F.col("off_dec")).cast("double"),
        )
        .withColumn(
            "pareto_rank",
            F.row_number().over(rank_w) + F.col("off_n"),
        )
        .select(
            "l_suppkey",
            rev_dec.cast("double").alias("revenue"),
            (rev_dec.cast("double") / F.col("total_rev")).alias("share"),
            cum_share.alias("cum_share"),
            F.col("pareto_rank").cast("long").alias("pareto_rank"),
            F.when(cum_share <= 0.80, "A")
            .when(cum_share <= 0.95, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )


def orders_open_backlog(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Daily open-order backlog: how many orders are placed but not
    yet fully shipped on each day — the interval-overlap count (an
    order is open from o_orderdate through its LAST lineitem ship
    date). The operations-dashboard shape the engine otherwise lacks:
    counting concurrent intervals per day.

    Scale shape: the naive form joins every order span against every
    overlapping calendar day (spans × avg-duration row blowup, then a
    day-keyed shuffle). This is the delta-encoding instead: each span
    contributes +1 at its open day and -1 at close+1, the per-day
    delta aggregate is calendar-BOUNDED (one row per distinct day no
    matter the corpus size), and the running sum over that tiny
    relation is the backlog. The only corpus-sized operations are the
    per-order max-shipdate aggregate and one order⋈lineitem-agg join;
    the unpartitioned cumsum window is over the day spine — the
    gap-fill/ma7 calendar-bounded argument.

    Orders with no lineitems never open (inner join — nothing ever
    ships, so no close event exists to balance them; documented
    rather than inferred)."""
    spans = orders.select(
        "o_orderkey", F.to_date("o_orderdate").alias("open_day")
    ).join(
        lineitem.groupBy("l_orderkey").agg(
            F.max(F.to_date("l_shipdate")).alias("close_day")
        ),
        F.col("o_orderkey") == F.col("l_orderkey"),
    )
    # one generator pass, not three union branches: a union would
    # recompute the orders⋈lineitem-agg join once per branch (measured
    # 3× the shuffle at 10× scale); the explode emits all three delta
    # rows per span inside the same scan stage
    event = lambda day, d, op, cl: F.struct(  # noqa: E731
        day.alias("day"),
        F.lit(d).alias("d"),
        F.lit(op).alias("op"),
        F.lit(cl).alias("cl"),
    )
    deltas = spans.select(
        F.explode(
            F.array(
                event(F.col("open_day"), 1, 1, 0),
                event(F.date_add("close_day", 1), -1, 0, 0),
                event(F.col("close_day"), 0, 0, 1),
            )
        ).alias("e")
    ).select("e.day", "e.d", "e.op", "e.cl")
    daily = deltas.groupBy("day").agg(
        F.sum("d").alias("delta"),
        F.sum("op").alias("n_opened"),
        F.sum("cl").alias("n_closed"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.date_format("day", "yyyyMMdd").alias("day"),
        F.col("n_opened").cast("long").alias("n_opened"),
        F.col("n_closed").cast("long").alias("n_closed"),
        F.sum("delta").over(w).cast("long").alias("backlog"),
    )


BURST_WINDOW_S = 60
BURST_MIN_EVENTS = 5


def burst_flags(
    events: DataFrame,
    window_s: int = BURST_WINDOW_S,
    min_events: int = BURST_MIN_EVENTS,
) -> DataFrame:
    """Per-user burst detection: events that arrive with at least
    BURST_MIN_EVENTS events from the same user inside the trailing
    BURST_WINDOW_S seconds — the rate-anomaly / bot-signal shape
    (a RANGE frame over event time, where sessionize is a gap rule
    and the sliding-window jobs are processing-time buckets).

    Time is integer MICROSECOND epochs (`unix_micros` here, DuckDB's
    `epoch_us` in the mirror): the testdata carries sub-second
    precision, and a seconds truncation would make the frame boundary
    engine-dependent; integer micros make the RANGE predicate exact
    everywhere. Ties (equal timestamps) are frame-included regardless
    of row order, so the count is deterministic without a tiebreak.

    Scale shape: one shuffle on user_id; the RANGE window runs
    per-user in parallel (no global order). Output is only the
    flagged events.

    Queued for round 11 (`events_burst_flags`, ORACLE_R11)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch_us")
        .rangeBetween(-(window_s * 1_000_000 - 1), 0)
    )
    return (
        events.select(
            "event_id",
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("epoch_us"),
        )
        .withColumn("n_burst", F.count(F.lit(1)).over(w).cast("long"))
        .filter(F.col("n_burst") >= min_events)
        .select("event_id", "user_id", "n_burst")
    )


INTER_ARRIVAL_MIN_EVENTS = 3

# Hard cap for the exact per-user gap LIST (VERDICT r12 #4). The list
# is the one per-user state this op materializes: 4M gaps is 32 MB of
# packed longs — with the array_sort / fold transients still comfortably
# inside one multi-GB task, while a genuinely pathological hot key
# (hundreds of millions of events on one user at 100 TB) must not be
# allowed to OOM an executor silently. Same contract as dedup's
# _guard_all_pairs: fail fast, name the scale path.
INTER_ARRIVAL_MAX_GAPS = 4_000_000


def _guard_gap_list(events: DataFrame, cap: int) -> None:
    """Refuse to build a per-user gap list past the documented envelope.

    One column-pruned, map-side-combined count pass (the driver sees a
    single max); the exact profile it blocks would collect the hot
    user's whole history into one task's array. Callers with heavier
    keys use inter_arrival_profile_hist — quantized-gap histogram
    selection, the module's own discipline (fulfillment_latency,
    customer_balance_deciles) — whose per-user state is domain-bounded.
    """
    hot = (
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"))
        .collect()[0]["mx"]
    )
    if hot is not None and hot - 1 > cap:
        raise ValueError(
            f"inter_arrival_profile materializes one exact gap list per "
            f"user, capped at {cap} gaps (hottest user has {hot} events). "
            f"Use inter_arrival_profile_hist — quantized-gap histogram "
            f"selection, domain-bounded state — or pre-filter the user."
        )


def inter_arrival_profile(
    events: DataFrame,
    min_events: int = INTER_ARRIVAL_MIN_EVENTS,
    max_gaps_per_user: int = INTER_ARRIVAL_MAX_GAPS,
) -> DataFrame:
    """Per-user inter-arrival profile: gap count, lower-median gap,
    mean gap, and CV² (squared coefficient of variation — the
    burstiness index: ≈0 metronome, ≈1 Poisson, ≫1 bursty). The
    distributional companion to `burst_flags`: the gate fires on a
    single window, this profiles the user's whole arrival process —
    the feature a bot/automation classifier actually consumes.

    Determinism: gaps are exact integer microseconds from a
    (epoch_us, event_id)-ordered lag (the tiebreak makes equal
    timestamps deterministic); the median is the lower-median ELEMENT
    of the sorted gap list (integer, no interpolation); mean and CV²
    fold the SORTED gap list left-to-right in double (the
    centroid/shift discipline — identical operand sequence on both
    engines), and gap² is computed inside the fold on the
    double-widened element so DuckDB's mirror lists the identical
    products. All-zero-gap users (every event same-timestamped) get
    NULL CV² explicitly on both sides rather than an engine-shaped
    NaN/inf.

    Scale shape: one shuffle on user_id (lag window + grouped
    collect); per-user state is that user's gap list — bounded by the
    per-user event count, and that envelope is now ENFORCED, not just
    claimed: a preflight max-per-user count (map-side combined, one
    number to the driver) raises past `max_gaps_per_user` gaps
    (default 4M ≈ 32 MB packed longs per hot key) and points at
    `inter_arrival_profile_hist`, the quantized-gap histogram-
    selection form whose state is domain-bounded (VERDICT r12 #4).
    Output is one row per qualifying user. Queued for round 12
    (`events_inter_arrival_profile`, ORACLE_R12)."""
    _guard_gap_list(events, max_gaps_per_user)
    w = Window.partitionBy("user_id").orderBy("epoch_us", "event_id")
    gaps = (
        events.select(
            "event_id",
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("epoch_us"),
        )
        .select(
            "user_id",
            (
                F.col("epoch_us") - F.lag("epoch_us").over(w)
            ).alias("gap_us"),
        )
        .filter(F.col("gap_us").isNotNull())
    )
    per = gaps.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.array_sort(F.collect_list("gap_us")).alias("gs"),
    )
    folded = per.filter(F.col("n_gaps") >= min_events - 1).select(
        "user_id",
        "n_gaps",
        F.element_at(
            # floor-div, not cast-of-true-division: DuckDB CASTs
            # round-to-nearest while Spark truncates — floor is the
            # one spelling both engines agree on
            "gs",
            F.floor((F.col("n_gaps") - 1) / 2).cast("int") + 1,
        ).alias("median_gap_us"),
        (
            F.aggregate(
                "gs", F.lit(0.0), lambda a, x: a + x.cast("double")
            )
            / F.col("n_gaps")
        ).alias("mean_gap_us"),
        (
            F.aggregate(
                "gs",
                F.lit(0.0),
                lambda a, x: a + x.cast("double") * x.cast("double"),
            )
            / F.col("n_gaps")
        ).alias("m2"),
    )
    return folded.select(
        "user_id",
        "n_gaps",
        "median_gap_us",
        "mean_gap_us",
        F.when(
            F.col("mean_gap_us") > 0,
            (F.col("m2") - F.col("mean_gap_us") * F.col("mean_gap_us"))
            / (F.col("mean_gap_us") * F.col("mean_gap_us")),
        ).alias("cv2"),
    )


def inter_arrival_profile_hist(
    events: DataFrame,
    min_events: int = INTER_ARRIVAL_MIN_EVENTS,
    quantize_us: int = 1_000,
) -> DataFrame:
    """Scale path for the arrival profile: gaps quantized down to
    `quantize_us` buckets, then the profile read off the per-user
    (gap bucket → count) HISTOGRAM — the module's histogram-selection
    discipline (fulfillment_latency, customer_balance_deciles) applied
    to the one op whose exact form carries a per-user list. State per
    user is the number of DISTINCT quantized gaps (domain-bounded:
    ≤ max_gap/quantize_us, and in practice arrival processes mass a
    few bands), so a 10⁹-event hot key costs rows proportional to its
    gap diversity, never its event count — no list, no cap needed.

    Semantics vs the exact op: gaps are floor-quantized (a 1_700 µs
    gap at quantize_us=1000 counts as 1_000), so median/mean/CV² are
    computed over the quantized distribution. The lower-median
    selection rule is the same order statistic — the first bucket
    whose cumulative count reaches (n+1) div 2 — and on input whose
    gaps are already multiples of `quantize_us` the output equals the
    exact op's bit-for-bit (sums of integer-valued doubles below 2⁵³
    are exact in any order; pinned in tests).

    Scale shape: the same single user_id exchange as the exact op
    (lag window → map-side-combined histogram → tiny per-user window
    over bucket rows), plus nothing (VERDICT r12 #4)."""
    w = Window.partitionBy("user_id").orderBy("epoch_us", "event_id")
    gaps = (
        events.select(
            "event_id",
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("epoch_us"),
        )
        .select(
            "user_id",
            (
                F.floor(
                    (F.col("epoch_us") - F.lag("epoch_us").over(w))
                    / quantize_us
                )
                * quantize_us
            ).alias("gap_us"),
        )
        .filter(F.col("gap_us").isNotNull())
    )
    hist = gaps.groupBy("user_id", "gap_us").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    h = hist.withColumn(
        "cum",
        F.sum("cnt").over(Window.partitionBy("user_id").orderBy("gap_us")),
    ).withColumn("n", F.sum("cnt").over(Window.partitionBy("user_id")))
    per = (
        h.groupBy("user_id")
        .agg(
            F.max("n").cast("long").alias("n_gaps"),
            F.min(
                F.when(F.col("cum") >= F.expr("(n + 1) div 2"), F.col("gap_us"))
            )
            .cast("long")
            .alias("median_gap_us"),
            (
                F.sum(F.col("gap_us").cast("double") * F.col("cnt"))
                / F.max("n")
            ).alias("mean_gap_us"),
            (
                F.sum(
                    F.col("gap_us").cast("double")
                    * F.col("gap_us").cast("double")
                    * F.col("cnt")
                )
                / F.max("n")
            ).alias("m2"),
        )
        .filter(F.col("n_gaps") >= min_events - 1)
    )
    return per.select(
        "user_id",
        "n_gaps",
        "median_gap_us",
        "mean_gap_us",
        F.when(
            F.col("mean_gap_us") > 0,
            (F.col("m2") - F.col("mean_gap_us") * F.col("mean_gap_us"))
            / (F.col("mean_gap_us") * F.col("mean_gap_us")),
        ).alias("cv2"),
    )


def weekly_active_users(events: DataFrame) -> DataFrame:
    """Exact trailing-7-day distinct users per active day — the
    engagement metric dashboards usually approximate (the HLL rollup
    is this engine's sketch path; this is the exact path). Spark
    windows cannot express COUNT(DISTINCT) OVER RANGE, and a naive
    per-day re-scan is O(days x corpus); instead each distinct
    (day, user) pair is EXPLODED to the <= 7 report days whose
    trailing week contains it, and a plain distinct count per report
    day finishes the job.

    Scale shape: the corpus collapses to distinct (day, user) pairs in
    one map-side-combined exchange; the explode multiplies that
    relation by at most 7 (constant); the final distinct-count is the
    second exchange. Report days are restricted to days with >= 1
    event (the spine the gap-fill op would fill; absence is reported
    by absence here).

    Queued for round 11 (`events_weekly_active_users`, ORACLE_R11)."""
    day_user = (
        events.select(
            F.to_date("ts").alias("day"), "user_id"
        ).distinct()
    )
    active_days = day_user.select("day").distinct()
    contributes = day_user.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add("day", 6))
        ).alias("report_day"),
        "user_id",
    )
    return (
        contributes.join(
            active_days.withColumnRenamed("day", "report_day"),
            "report_day",
            "left_semi",  # only days that actually had events report
        )
        .groupBy("report_day")
        .agg(F.count_distinct("user_id").alias("wau"))
        .select(
            F.date_format("report_day", "yyyyMMdd").alias("day"),
            F.col("wau").cast("long").alias("wau"),
        )
    )


# Round-11 promotion queue (the ORACLE_R10 pattern: library op + tests
# + ready oracle now, window slot next round).
ORACLE_R11 = {
    "events_weekly_active_users": """
        WITH day_user AS (
            SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        ),
        active AS (SELECT DISTINCT day FROM day_user),
        contributes AS (
            SELECT day + CAST(off AS INTEGER) AS report_day, user_id
            FROM day_user, (SELECT unnest(range(7)) AS off)
        )
        SELECT strftime(c.report_day, '%Y%m%d') AS day,
               CAST(count(DISTINCT c.user_id) AS BIGINT) AS wau
        FROM contributes c
        WHERE c.report_day IN (SELECT day FROM active)
        GROUP BY 1
    """,
    "events_burst_flags": f"""
        SELECT event_id, user_id, CAST(n_burst AS BIGINT) AS n_burst
        FROM (
            SELECT event_id, user_id,
                   count(*) OVER (
                       PARTITION BY user_id ORDER BY epoch_us(ts)
                       RANGE BETWEEN {BURST_WINDOW_S * 1_000_000 - 1}
                           PRECEDING AND CURRENT ROW
                   ) AS n_burst
            FROM events
        )
        WHERE n_burst >= {BURST_MIN_EVENTS}
    """,
}

# Round-12 promotion queue. Sorted-fold double discipline for the
# mean/m2 folds (DuckDB's first-element-seeded list_reduce ≡ Spark's
# 0.0 seed); integer floor-div for the lower-median index (a cast of
# the true division would round on one engine and truncate on the
# other); all-zero-gap users get an explicit NULL CV² on both sides.
ORACLE_R12 = {
    "events_inter_arrival_profile": f"""
        WITH g AS (
            SELECT user_id,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                   ) AS gap_us
            FROM events
        ),
        per AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
                   list_sort(list(gap_us)) AS gs
            FROM g WHERE gap_us IS NOT NULL GROUP BY user_id
        ),
        folded AS (
            SELECT user_id, n_gaps,
                   gs[CAST((n_gaps - 1) // 2 AS INTEGER) + 1]
                       AS median_gap_us,
                   list_reduce([CAST(x AS DOUBLE) for x in gs],
                               (a, b) -> a + b) / n_gaps AS mean_gap_us,
                   list_reduce([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                                for x in gs],
                               (a, b) -> a + b) / n_gaps AS m2
            FROM per
            WHERE n_gaps >= {INTER_ARRIVAL_MIN_EVENTS - 1}
        )
        SELECT user_id, n_gaps, median_gap_us, mean_gap_us,
               CASE WHEN mean_gap_us > 0
                    THEN (m2 - mean_gap_us * mean_gap_us)
                         / (mean_gap_us * mean_gap_us)
               END AS cv2
        FROM folded
    """,
}


def fulfillment_latency(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Per-priority EXACT order→ship latency quantiles (p50/p90/p99 in
    days, plus max) — the fulfillment-SLA distribution every ops
    dashboard reads, certified with the convention-free selection rule
    (`the element at sorted position ceil(q·n)`, integer arithmetic).

    Scale shape: unlike the per-source length quantiles (row_number
    window = one sort per group, single-reducer per group), latency in
    DAYS is a BOUNDED INTEGER DOMAIN, so the quantile is computed from
    the (priority, days) HISTOGRAM: the orderkey-co-partitioned join
    feeds a map-side-combined count whose output is |priorities| ×
    |distinct days| rows (hundreds), and the cumulative-sum window
    runs over that tiny relation — no corpus-sized sort anywhere, the
    same plan at 100 TB. Selection: the first histogram bin whose
    cumulative count reaches ceil(q·n) holds the order statistic.

    Queued for round 13 (`orders_fulfillment_latency`, ORACLE_R13)."""
    base = (
        orders.select("o_orderkey", "o_orderdate", "o_orderpriority")
        .join(
            lineitem.select("l_orderkey", "l_shipdate"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff("l_shipdate", "o_orderdate").cast("long").alias("days"),
        )
    )
    return fulfillment_latency_report(
        base.groupBy("priority", "days").agg(F.count(F.lit(1)).alias("cnt"))
    )


def fulfillment_latency_report(hist: DataFrame) -> DataFrame:
    """The histogram→quantiles stage of `fulfillment_latency`, shared
    with its streaming twin (jobs.latency_quantiles_job), which folds
    the same histogram across triggers. Input contract: one row per
    (priority, days) with its count `cnt`."""
    h = hist.withColumn(
        "cum", F.sum("cnt").over(Window.partitionBy("priority").orderBy("days"))
    ).withColumn("n", F.sum("cnt").over(Window.partitionBy("priority")))
    picks = {
        "p50_days": "(n + 1) div 2",
        "p90_days": "(9 * n + 9) div 10",
        "p99_days": "(99 * n + 99) div 100",
    }
    return h.groupBy("priority").agg(
        F.max("n").cast("long").alias("n_items"),
        *[
            F.min(F.when(F.col("cum") >= F.expr(pos), F.col("days")))
            .cast("long")
            .alias(name)
            for name, pos in picks.items()
        ],
        F.max("days").cast("long").alias("max_days"),
    )


def dau_wau_stickiness(events: DataFrame) -> DataFrame:
    """Per-day DAU/WAU stickiness ratio — the engagement metric read
    off the weekly_active_users machinery: of the users active in the
    trailing week, what fraction showed up today. One corpus scan:
    distinct (day, user) pairs (the only corpus-sized exchange), each
    exploded to its ≤7 contributing report days, then ONE aggregate
    computes both counts (WAU = distinct users in the window, DAU =
    distinct users whose own day IS the report day); report days with
    no own-day activity are dropped by the dau > 0 filter — the same
    active-day spine the WAU op uses, without a second pass. The
    ratio is one exact bigint/bigint IEEE division.

    Queued for round 13 (`events_dau_wau_stickiness`, ORACLE_R13)."""
    day_user = events.select(F.to_date("ts").alias("day"), "user_id").distinct()
    contributes = day_user.select(
        "user_id",
        "day",
        F.explode(F.sequence(F.col("day"), F.date_add("day", 6))).alias(
            "report_day"
        ),
    )
    agg = contributes.groupBy("report_day").agg(
        F.countDistinct("user_id").cast("long").alias("wau"),
        F.countDistinct(
            F.when(F.col("day") == F.col("report_day"), F.col("user_id"))
        )
        .cast("long")
        .alias("dau"),
    )
    return agg.filter(F.col("dau") > 0).select(
        F.date_format("report_day", "yyyyMMdd").alias("day"),
        "dau",
        "wau",
        (F.col("dau").cast("double") / F.col("wau")).alias("stickiness"),
    )


def supplier_revenue_gini(
    lineitem: DataFrame, supplier: DataFrame, nation: DataFrame
) -> DataFrame:
    """Per-nation Gini coefficient of supplier revenue — the
    concentration/inequality report sourcing teams read next to the
    Pareto cumulative (supplier_pareto says who the head is; this is
    the one-number inequality summary per market). Computed with the
    sorted-rank identity G = (2·Σ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx) —
    RATIONAL arithmetic over exact decimal revenue sums (no variance,
    no logs), one double cast per term at the end, so the result is
    engine-exact. Tied revenues are rank-ambiguous but Σ i·x₍ᵢ₎ is
    invariant under permuting equal values; the (revenue, suppkey)
    tie-break makes the plan deterministic anyway.

    Scale shape: the ONLY corpus-sized exchange is the per-supplier
    revenue aggregate (map-side combined on l_suppkey); everything
    after runs on the supplier-grain relation (|suppliers| rows —
    thousands, not billions), so the per-nation rank window is a sort
    of a tiny relation, not a corpus sort. Suppliers with no lineitems
    are out of scope by the inner join (the dormant-supplier report is
    tpch_q16's job); a zero-sales-inclusive variant is a left join +
    coalesce away.

    Queued for round 14 (`supplier_revenue_gini`, ORACLE_R14)."""
    rev = (
        lineitem.select(
            "l_suppkey",
            (
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (
                    F.lit(1).cast("decimal(3,2)")
                    - F.col("l_discount").cast("decimal(4,2)")
                )
            ).alias("r"),
        )
        .groupBy("l_suppkey")
        .agg(F.sum("r").alias("revenue"))
    )
    per = rev.join(
        supplier.select("s_suppkey", "s_nationkey"),
        rev.l_suppkey == F.col("s_suppkey"),
    ).join(F.broadcast(nation.select("n_nationkey", "n_name")),
           F.col("s_nationkey") == F.col("n_nationkey"))
    return revenue_gini_report(
        per.select(F.col("n_name").alias("nation"), "s_suppkey", "revenue")
    )


def revenue_gini_report(per_supplier: DataFrame) -> DataFrame:
    """The rank→Gini stage of `supplier_revenue_gini`, shared with its
    streaming twin (jobs.revenue_gini_job), which folds the same
    per-supplier revenue across triggers. Input contract: one row per
    (nation, s_suppkey) with its exact decimal `revenue`."""
    w = Window.partitionBy("nation").orderBy("revenue", "s_suppkey")
    ranked = per_supplier.withColumn("i", F.row_number().over(w))
    return (
        ranked.groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.sum("revenue").alias("_sum_rev"),
            F.sum(F.col("i") * F.col("revenue")).alias("_sum_i_rev"),
        )
        .select(
            "nation",
            "n_suppliers",
            F.col("_sum_rev").cast("double").alias("total_revenue"),
            # guard (ADVICE r11): the identity needs a strictly
            # positive total — an all-zero nation would divide by
            # zero and a negative total (returns-heavy input) would
            # silently sign-flip the index, so both get NULL
            F.when(
                F.col("_sum_rev") > 0,
                (
                    F.lit(2) * F.col("_sum_i_rev")
                    - (F.col("n_suppliers") + F.lit(1)) * F.col("_sum_rev")
                ).cast("double")
                / (F.col("n_suppliers") * F.col("_sum_rev")).cast("double"),
            ).alias("gini"),
        )
    )


def customer_balance_deciles(customer: DataFrame) -> DataFrame:
    """Per-segment EXACT account-balance deciles (d1..d9 plus n and
    min/max) — the credit-risk banding report, third application of
    the histogram-selection discipline (fulfillment latency, token
    length): balances are money, a CENTS-GRANULAR domain capped at
    ~1.1M distinct values however many customers exist, so the exact
    order statistic reads off a (segment, balance) count relation
    whose exchange is DOMAIN-bounded at 100 TB — never a row-grain
    per-group sort. The selected values are untouched doubles (no
    arithmetic), so cross-engine equality is bit-trivial; only the
    ceil(k·n/10) index arithmetic has to agree, and it is the same
    integer form the certified quantile ops use.

    Queued for round 14 (`customer_balance_deciles`, ORACLE_R14)."""
    return balance_deciles_report(
        customer.groupBy("c_mktsegment", "c_acctbal").agg(
            F.count(F.lit(1)).alias("cnt")
        )
    )


def balance_deciles_report(hist: DataFrame) -> DataFrame:
    """The histogram→deciles stage of `customer_balance_deciles`,
    shared with its streaming twin (jobs.balance_deciles_job), which
    folds the same histogram across triggers. Input contract: one row
    per (c_mktsegment, c_acctbal) with its count `cnt`."""
    h = hist.withColumn(
        "cum",
        F.sum("cnt").over(
            Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
        ),
    ).withColumn("n", F.sum("cnt").over(Window.partitionBy("c_mktsegment")))
    picks = {
        f"d{k}": f"({k} * n + 9) div 10" for k in range(1, 10)
    }
    return h.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.max("n").cast("long").alias("n_customers"),
        F.min("c_acctbal").alias("min_bal"),
        *[
            F.min(
                F.when(F.col("cum") >= F.expr(pos), F.col("c_acctbal"))
            ).alias(name)
            for name, pos in picks.items()
        ],
        F.max("c_acctbal").alias("max_bal"),
    )


def _q(fn, *tables):
    def runner(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(*[load_table(spark, sf_dir, t) for t in tables])

    return runner


QUERIES = {
    "orders_rollup": _q(orders_rollup, "orders"),
    "orders_cube": _q(orders_cube, "orders"),
    "orders_grouping_sets": _q(orders_grouping_sets, "orders"),
    "customers_without_orders": _q(customers_without_orders, "customer", "orders"),
    "daily_event_pivot": _q(daily_event_pivot, "events"),
    "nation_participation": _q(nation_participation, "customer", "supplier"),
    "events_distinct_users": _q(distinct_users_by_type, "events"),
    "events_distinct_users_approx": _q(
        distinct_users_approx_certified, "events"
    ),  # boolean-tolerance oracle: exact hash-checked, estimate pinned
    "lineitem_price_quantiles": _q(price_quantiles, "lineitem"),
    "events_deterministic_sample": _q(deterministic_sample, "events"),
    "events_stratified_sample": _q(stratified_sample, "events"),
    "events_profile": _q(profile_columns, "events"),
    "events_props_k_stats": _q(props_k_stats, "events"),
    "daily_revenue_ma7": _q(daily_revenue_ma7, "events"),
    "events_funnel": _q(events_funnel, "events"),
    "events_daily_anomalies": _q(daily_anomaly_flags, "events"),
    "events_cohort_retention": _q(cohort_retention, "events"),
    "basket_part_pairs": _q(basket_part_pairs, "lineitem"),
    "customer_rfm": _q(customer_rfm, "orders"),
    "lineitem_price_quantiles_approx": _q(
        price_quantiles_approx_certified, "lineitem"
    ),  # boolean-tolerance oracle: exact hash-checked, estimate pinned
    "events_user_value_ewma": _q(
        user_value_ewma, "events"
    ),  # rows-only: sequential recurrence, no SQL equivalent
    "data_quality_checks": _q(data_quality_checks, "customer", "orders", "lineitem"),
    "events_hourly_heatmap": _q(events_hourly_heatmap, "events"),
    "docs_length_histogram": _q(docs_length_histogram, "documents"),

    "orders_date_features": _q(orders_date_features, "orders"),
    "events_time_grain_rollup": _q(time_grain_rollup, "events"),
    "events_value_percentiles": _q(value_percentiles_by_type, "events"),
    "basket_association_rules": _q(basket_association_rules, "lineitem"),
    "events_value_winsorized": _q(value_winsorized, "events"),
    "events_daily_trend": _q(daily_trend_fit, "events"),
    "events_type_transitions": _q(event_type_transitions, "events"),
    "customer_record_linkage": _q(customer_record_linkage, "customer"),
    "customer_record_linkage_multipass": _q(
        customer_record_linkage_multipass, "customer"
    ),
    "events_seasonal_residuals": _q(seasonal_residuals, "events"),
    # round 10: value-ordered cumulative (ABC) + interval-overlap count
    "lineitem_supplier_pareto": _q(supplier_pareto, "lineitem"),
    "orders_open_backlog": _q(orders_open_backlog, "orders", "lineitem"),
}

_PROFILE_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]

_STRATA_CASE = " ".join(
    f"WHEN event_type = '{t}' THEN {p}" for t, p in sorted(STRATA_PCT.items())
)

ORACLE = {
    "orders_rollup": """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
                   AS total_value
        FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    "orders_cube": """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "orders_grouping_sets": """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
        FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
    "customers_without_orders": """
        SELECT c_custkey, c_name, c_mktsegment FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "nation_participation": """
        SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
               coalesce(n_customers, 0) AS n_customers,
               coalesce(n_suppliers, 0) AS n_suppliers
        FROM (SELECT c_nationkey AS nationkey, count(*) AS n_customers
              FROM customer GROUP BY 1) c
        FULL OUTER JOIN
             (SELECT s_nationkey AS nationkey, count(*) AS n_suppliers
              FROM supplier GROUP BY 1) s
        USING (nationkey)
    """,
    "daily_event_pivot": """
        SELECT strftime(ts, '%Y%m%d') AS day,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
               CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        FROM events GROUP BY 1
    """,
    "events_distinct_users": """
        SELECT event_type, count(DISTINCT user_id) AS n_users
        FROM events GROUP BY event_type
    """,
    "lineitem_price_quantiles": """
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.25) AS p25,
               quantile_cont(l_extendedprice, 0.5)  AS p50,
               quantile_cont(l_extendedprice, 0.9)  AS p90,
               quantile_cont(l_extendedprice, 0.99) AS p99
        FROM lineitem GROUP BY l_returnflag
    """,
    "lineitem_price_quantiles_approx": """
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.25) AS p25,
               quantile_cont(l_extendedprice, 0.5)  AS p50,
               quantile_cont(l_extendedprice, 0.9)  AS p90,
               quantile_cont(l_extendedprice, 0.99) AS p99,
               TRUE AS p25_within_5pct, TRUE AS p50_within_5pct,
               TRUE AS p90_within_5pct, TRUE AS p99_within_5pct
        FROM lineitem GROUP BY l_returnflag
    """,
    "events_distinct_users_approx": """
        SELECT event_type,
               COUNT(DISTINCT user_id) AS n_users,
               TRUE AS approx_within_5pct
        FROM events GROUP BY event_type
    """,
    "events_deterministic_sample": """
        SELECT event_type, count(*) AS n_sampled
        FROM events
        WHERE ((event_id % 2147483647) * 2654435761) % 100 < 10
        GROUP BY event_type
    """,
    "events_stratified_sample": f"""
        SELECT event_id, event_type FROM events
        WHERE ((event_id % 2147483647) * 2654435761) % 100
              < (CASE {_STRATA_CASE} END)
    """,
    "orders_date_features": """
        SELECT o_orderkey,
               CAST(year(o_orderdate) AS INTEGER) AS y,
               CAST(quarter(o_orderdate) AS INTEGER) AS q,
               CAST(month(o_orderdate) AS INTEGER) AS m,
               CAST(strftime(o_orderdate, '%w') AS INTEGER) + 1 AS dow_sun1,
               strftime(date_trunc('month', o_orderdate), '%Y-%m-%d')
                   AS month_start,
               CAST(date_diff('day', o_orderdate,
                              TIMESTAMP '2002-01-01 00:00:00') AS INTEGER)
                   AS age_days
        FROM orders
    """,
    "daily_revenue_ma7": """
        WITH daily AS (
            SELECT strftime(ts, '%Y%m%d') AS day,
                   SUM(CAST(value AS DECIMAL(18,6))) AS revenue_dec
            FROM events WHERE event_type = 'purchase' GROUP BY 1
        )
        SELECT day,
               CAST(revenue_dec AS DOUBLE) AS revenue,
               CAST(SUM(revenue_dec) OVER w AS DOUBLE)
                   / COUNT(*) OVER w AS revenue_ma7
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    "events_props_k_stats": """
        SELECT event_type, count(*) AS n,
               CAST(sum(k) AS BIGINT) AS k_sum,
               CAST(min(k) AS INTEGER) AS k_min,
               CAST(max(k) AS INTEGER) AS k_max
        FROM (SELECT event_type,
                     CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
              FROM events)
        WHERE k IS NOT NULL
        GROUP BY event_type
    """,
    "events_profile": " UNION ALL ".join(
        f"""
        SELECT '{c}' AS column_name,
               CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
               count(DISTINCT {c}) AS n_distinct,
               CAST(min({c}) AS VARCHAR) AS min_value,
               CAST(max({c}) AS VARCHAR) AS max_value
        FROM events
        """
        for c in _PROFILE_COLS
    ),
    "events_funnel": """
        WITH first_view AS (
            SELECT user_id, min(ts) AS first_view FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ),
        first_click AS (
            SELECT e.user_id, min(e.ts) AS first_click
            FROM events e JOIN first_view v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts > v.first_view
            GROUP BY e.user_id
        ),
        first_purchase AS (
            SELECT e.user_id, min(e.ts) AS first_purchase
            FROM events e JOIN first_click c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.first_click
            GROUP BY e.user_id
        )
        SELECT '1_view' AS stage, count(*) AS n_users FROM first_view
        UNION ALL
        SELECT '2_view_click', count(*) FROM first_click
        UNION ALL
        SELECT '3_view_click_purchase', count(*) FROM first_purchase
    """,
    "events_hourly_heatmap": """
        SELECT CAST(strftime(ts, '%w') AS INTEGER) + 1 AS dow_sun1,
               CAST(hour(ts) AS INTEGER) AS hour,
               count(*) AS n_events
        FROM events GROUP BY 1, 2
    """,
    "docs_length_histogram": """
        SELECT CAST(floor(n_chars / 100) AS BIGINT) AS bucket,
               count(*) AS n_docs,
               min(n_chars) AS min_chars,
               max(n_chars) AS max_chars,
               CAST(floor(n_chars / 100) AS BIGINT) * 100 AS bucket_lo
        FROM documents
        GROUP BY 1
    """,
    "data_quality_checks": """
        SELECT 'orders_pk_duplicates' AS check_name,
               CAST(count(*) AS BIGINT) AS n_violations
        FROM (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1)
        UNION ALL
        SELECT 'orders_fk_customer_orphans', CAST(count(*) AS BIGINT)
        FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
        UNION ALL
        SELECT 'lineitem_fk_orders_orphans', CAST(count(*) AS BIGINT)
        FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        UNION ALL
        SELECT 'orders_totalprice_nulls', CAST(count(*) AS BIGINT)
        FROM orders WHERE o_totalprice IS NULL
        UNION ALL
        SELECT 'lineitem_qty_nonpositive', CAST(count(*) AS BIGINT)
        FROM lineitem WHERE l_quantity <= 0
        UNION ALL
        SELECT 'lineitem_discount_out_of_range', CAST(count(*) AS BIGINT)
        FROM lineitem WHERE l_discount < 0 OR l_discount > 1
    """,
    # Threshold-bucketed quartiles (VERDICT r13 #4): the mirror repeats
    # the selection rule — value at ascending position ceil(k·n/4)
    # (mirrored to n − ceil(k·n/4) + 1 for the descending metrics) read
    # off a value histogram — then assigns 1 + (#thresholds passed).
    # The histogram cum windows here are DuckDB-local; the Spark side
    # computes the same selections via the bucketed two-level form.
    "customer_rfm": """
        WITH base AS (
            SELECT o_custkey,
                   CAST(DATE '2002-01-01' - CAST(max(o_orderdate) AS DATE)
                        AS INTEGER) AS recency_days,
                   count(*) AS frequency,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
                       AS monetary
            FROM orders GROUP BY o_custkey
        ),
        rc AS (
            SELECT v, SUM(cnt) OVER (ORDER BY v) AS cum,
                   SUM(cnt) OVER () AS n
            FROM (SELECT recency_days AS v, count(*) AS cnt
                  FROM base GROUP BY 1)
        ),
        rt AS (
            SELECT MIN(CASE WHEN cum >= (1*n + 3) // 4 THEN v END) AS t1,
                   MIN(CASE WHEN cum >= (2*n + 3) // 4 THEN v END) AS t2,
                   MIN(CASE WHEN cum >= (3*n + 3) // 4 THEN v END) AS t3
            FROM rc
        ),
        fc AS (
            SELECT v, SUM(cnt) OVER (ORDER BY v) AS cum,
                   SUM(cnt) OVER () AS n
            FROM (SELECT frequency AS v, count(*) AS cnt
                  FROM base GROUP BY 1)
        ),
        ft AS (
            SELECT MIN(CASE WHEN cum >= n - (1*n + 3) // 4 + 1 THEN v END)
                       AS t1,
                   MIN(CASE WHEN cum >= n - (2*n + 3) // 4 + 1 THEN v END)
                       AS t2,
                   MIN(CASE WHEN cum >= n - (3*n + 3) // 4 + 1 THEN v END)
                       AS t3
            FROM fc
        ),
        mc AS (
            SELECT v, SUM(cnt) OVER (ORDER BY v) AS cum,
                   SUM(cnt) OVER () AS n
            FROM (SELECT monetary AS v, count(*) AS cnt
                  FROM base GROUP BY 1)
        ),
        mt AS (
            SELECT MIN(CASE WHEN cum >= n - (1*n + 3) // 4 + 1 THEN v END)
                       AS t1,
                   MIN(CASE WHEN cum >= n - (2*n + 3) // 4 + 1 THEN v END)
                       AS t2,
                   MIN(CASE WHEN cum >= n - (3*n + 3) // 4 + 1 THEN v END)
                       AS t3
            FROM mc
        )
        SELECT o_custkey, recency_days, frequency, monetary,
               CAST(1 + CAST(recency_days > rt.t1 AS INTEGER)
                      + CAST(recency_days > rt.t2 AS INTEGER)
                      + CAST(recency_days > rt.t3 AS INTEGER)
                    AS INTEGER) AS r_quartile,
               CAST(1 + CAST(frequency < ft.t1 AS INTEGER)
                      + CAST(frequency < ft.t2 AS INTEGER)
                      + CAST(frequency < ft.t3 AS INTEGER)
                    AS INTEGER) AS f_quartile,
               CAST(1 + CAST(monetary < mt.t1 AS INTEGER)
                      + CAST(monetary < mt.t2 AS INTEGER)
                      + CAST(monetary < mt.t3 AS INTEGER)
                    AS INTEGER) AS m_quartile
        FROM base, rt, ft, mt
    """,
    "events_cohort_retention": """
        WITH cohorts AS (
            SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
            FROM events GROUP BY user_id
        ),
        active AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        )
        SELECT c.cohort_day,
               CAST(a.day - c.cohort_day AS INTEGER) AS day_offset,
               count(*) AS n_users
        FROM active a JOIN cohorts c ON a.user_id = c.user_id
        WHERE a.day - c.cohort_day <= 14
        GROUP BY 1, 2
    """,
    "basket_part_pairs": """
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        )
        SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_orders
        FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        ORDER BY n_orders DESC, p1 ASC, p2 ASC
        LIMIT 25
    """,
    "events_daily_anomalies": """
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, count(*) AS cnt
            FROM events GROUP BY 1
        ),
        win AS (
            SELECT day, cnt,
                   CASE WHEN lag(day, 7) OVER (ORDER BY day) = day - 7
                        THEN avg(cnt) OVER w END AS trailing_avg
            FROM daily
            WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
        )
        SELECT day, cnt, trailing_avg,
               CASE WHEN trailing_avg IS NULL THEN FALSE
                    ELSE cnt > 1.5 * trailing_avg END AS is_anomaly
        FROM win
    """,
    # flat GROUP BYs from raw — must equal the hierarchical re-aggregation
    # exactly (decimal sums are order-insensitive)
    "events_time_grain_rollup": """
        SELECT 'day' AS grain, strftime(ts, '%Y-%m-%d') AS bucket, event_type,
               count(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        FROM events GROUP BY 2, 3
        UNION ALL
        SELECT 'month', strftime(ts, '%Y-%m'), event_type, count(*),
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        FROM events GROUP BY 2, 3
        UNION ALL
        SELECT 'year', strftime(ts, '%Y'), event_type, count(*),
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        FROM events GROUP BY 2, 3
    """,
    "events_value_percentiles": """
        SELECT event_type,
               quantile_disc(value, 0.25) AS p25,
               quantile_disc(value, 0.5) AS p50,
               quantile_disc(value, 0.9) AS p90,
               count(*) AS n
        FROM events GROUP BY event_type
    """,
    # Same dow median baseline and MAD selection — both medians as
    # EXPLICIT row_number = (n+1)//2 selections, mirroring the Spark
    # side exactly: percentile_disc's even-group index convention
    # drifted across DuckDB releases (rounds 5 AND 6 red), so no
    # quantile function appears anywhere in this oracle.
    "events_seasonal_residuals": """
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS y
            FROM events GROUP BY 1, 2
        ),
        d AS (
            -- strftime('%w') (0=Sunday, POSIX) is stable across DuckDB
            -- versions; dayofweek()'s convention drifted between
            -- releases, which cost this oracle its round-5 hash match.
            SELECT event_type, day,
                   CAST(strftime(day, '%w') AS INTEGER) + 1 AS dow, y
            FROM daily
        ),
        prof AS (
            SELECT event_type, dow, y AS dow_baseline
            FROM (
                SELECT event_type, dow, y,
                       ROW_NUMBER() OVER (
                           PARTITION BY event_type, dow ORDER BY y) AS rn,
                       COUNT(*) OVER (
                           PARTITION BY event_type, dow) AS n
                FROM d
            )
            WHERE rn = (n + 1) // 2
        ),
        resid AS (
            SELECT d.event_type, d.day, d.dow, d.y, prof.dow_baseline,
                   d.y - prof.dow_baseline AS residual
            FROM d JOIN prof USING (event_type, dow)
        ),
        mad AS (
            SELECT event_type, abs(residual) AS mad
            FROM (
                SELECT event_type, residual,
                       ROW_NUMBER() OVER (
                           PARTITION BY event_type
                           ORDER BY abs(residual)) AS rn,
                       COUNT(*) OVER (PARTITION BY event_type) AS n
                FROM resid
            )
            WHERE rn = (n + 1) // 2
        )
        SELECT r.event_type, r.day,
               r.y, r.dow_baseline, r.residual,
               abs(r.residual) > 3 * m.mad AS is_outlier
        FROM resid r JOIN mad m USING (event_type)
    """,
    # Same perturbation, same nation blocking, same distinct-char-bigram
    # Dice (integer set sizes, one double division), same best-match
    # tie order — linkage accuracy is itself part of the certified rows.
    "customer_record_linkage": f"""
        WITH base AS (
            SELECT c_custkey, c_name, c_nationkey,
                   CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS VARCHAR)
                       AS cents
            FROM customer
        ),
        dirty AS (
            SELECT c_custkey AS true_key, c_nationkey AS d_nation,
                   c_name || '|9' || substring(cents, 2) AS d_rec
            FROM base WHERE c_custkey % {ER_PERTURB_MOD} = 0
        ),
        clean AS (
            SELECT c_custkey AS cand_key, c_nationkey AS c_nation,
                   c_name || '|' || cents AS c_rec,
                   substring(c_name,
                             greatest(length(c_name) - {ER_BLOCK_NAME_CHARS - 1}, 1),
                             {ER_BLOCK_NAME_CHARS}) AS c_bk
            FROM base
            QUALIFY COUNT(*) OVER (PARTITION BY c_nationkey,
                       substring(c_name,
                                 greatest(length(c_name) - {ER_BLOCK_NAME_CHARS - 1}, 1),
                                 {ER_BLOCK_NAME_CHARS}))
                    <= {ER_MAX_BLOCK_ROWS}
        ),
        dirty_bk AS (
            SELECT *,
                   substring(split_part(d_rec, '|', 1),
                             greatest(length(split_part(d_rec, '|', 1))
                                          - {ER_BLOCK_NAME_CHARS - 1}, 1),
                             {ER_BLOCK_NAME_CHARS}) AS d_bk
            FROM dirty
        ),
        grams AS (
            SELECT true_key, cand_key,
                   list_distinct([substring(d_rec, i, 2)
                                  for i in range(1, length(d_rec))]) AS db,
                   list_distinct([substring(c_rec, i, 2)
                                  for i in range(1, length(c_rec))]) AS cb
            FROM dirty_bk JOIN clean ON d_nation = c_nation AND d_bk = c_bk
        ),
        pairs AS (
            SELECT true_key, cand_key,
                   2 * len(list_intersect(db, cb)) / (len(db) + len(cb))
                       AS dice
            FROM grams
            WHERE len(db) > 0 AND len(cb) > 0
        ),
        ranked AS (
            SELECT true_key, cand_key, dice,
                   ROW_NUMBER() OVER (PARTITION BY true_key
                       ORDER BY dice DESC, cand_key) AS rk
            FROM pairs WHERE dice >= {ER_MIN_DICE}
        )
        SELECT true_key, cand_key AS matched_key, dice,
               cand_key = true_key AS is_correct
        FROM ranked WHERE rk = 1
    """,
    # Two-pass mirror: pass 1 is the single-pass block join (clean-side
    # mega-blocks capped); pass 2 ranks BOTH sides globally on the
    # reversed record (ORDER BY sk, is_dirty, id — identical to the
    # Spark bucket-offset rank, since the bucket is a prefix of sk) and
    # pairs within |Δrank| ≤ w; scoring/selection run once over the
    # deduped union with the single-pass Dice + tie order.
    "customer_record_linkage_multipass": f"""
        WITH base AS (
            SELECT c_custkey, c_name, c_nationkey,
                   CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS VARCHAR)
                       AS cents
            FROM customer
        ),
        dirty AS (
            SELECT c_custkey AS true_key, c_nationkey AS d_nation,
                   c_name || '|9' || substring(cents, 2) AS d_rec
            FROM base WHERE c_custkey % {ER_PERTURB_MOD} = 0
        ),
        clean AS (
            SELECT c_custkey AS cand_key, c_nationkey AS c_nation,
                   c_name || '|' || cents AS c_rec
            FROM base
        ),
        capped AS (
            SELECT cand_key, c_nation, c_rec,
                   substring(split_part(c_rec, '|', 1),
                             greatest(length(split_part(c_rec, '|', 1))
                                          - {ER_BLOCK_NAME_CHARS - 1}, 1),
                             {ER_BLOCK_NAME_CHARS}) AS c_bk
            FROM clean
            QUALIFY COUNT(*) OVER (PARTITION BY c_nation,
                       substring(split_part(c_rec, '|', 1),
                                 greatest(length(split_part(c_rec, '|', 1))
                                              - {ER_BLOCK_NAME_CHARS - 1}, 1),
                                 {ER_BLOCK_NAME_CHARS}))
                    <= {ER_MAX_BLOCK_ROWS}
        ),
        dirty_bk AS (
            SELECT *,
                   substring(split_part(d_rec, '|', 1),
                             greatest(length(split_part(d_rec, '|', 1))
                                          - {ER_BLOCK_NAME_CHARS - 1}, 1),
                             {ER_BLOCK_NAME_CHARS}) AS d_bk
            FROM dirty
        ),
        p1 AS (
            SELECT true_key, cand_key
            FROM dirty_bk JOIN capped ON d_nation = c_nation AND d_bk = c_bk
        ),
        tagged AS (
            SELECT 1 AS is_dirty, true_key AS id, reverse(d_rec) AS sk
            FROM dirty
            UNION ALL
            SELECT 0 AS is_dirty, cand_key AS id, reverse(c_rec) AS sk
            FROM clean
        ),
        rnk AS (
            SELECT is_dirty, id,
                   ROW_NUMBER() OVER (ORDER BY sk, is_dirty, id) AS r
            FROM tagged
        ),
        p2 AS (
            SELECT d.id AS true_key, c.id AS cand_key
            FROM rnk d JOIN rnk c
              ON d.is_dirty = 1 AND c.is_dirty = 0
             AND abs(d.r - c.r) <= {SN_WINDOW}
        ),
        cand AS (
            SELECT DISTINCT true_key, cand_key
            FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
        ),
        grams AS (
            SELECT cand.true_key, cand.cand_key,
                   list_distinct([substring(d_rec, i, 2)
                                  for i in range(1, length(d_rec))]) AS db,
                   list_distinct([substring(c_rec, i, 2)
                                  for i in range(1, length(c_rec))]) AS cb
            FROM cand
            JOIN dirty USING (true_key)
            JOIN clean USING (cand_key)
        ),
        pairs AS (
            SELECT true_key, cand_key,
                   2 * len(list_intersect(db, cb)) / (len(db) + len(cb))
                       AS dice
            FROM grams
            WHERE len(db) > 0 AND len(cb) > 0
        ),
        sel AS (
            SELECT true_key, cand_key, dice,
                   ROW_NUMBER() OVER (PARTITION BY true_key
                       ORDER BY dice DESC, cand_key) AS rk
            FROM pairs WHERE dice >= {ER_MIN_DICE}
        )
        SELECT true_key, cand_key AS matched_key, dice,
               cand_key = true_key AS is_correct
        FROM sel WHERE rk = 1
    """,
    # Rational support/confidence/lift: long counts, double division at
    # the end, lift's cross-product in integer arithmetic first.
    "basket_association_rules": f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        item_cnt AS (
            SELECT l_partkey, count(*) AS n_item FROM items GROUP BY 1
        ),
        t AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM items),
        pairs AS (
            SELECT a.l_partkey AS antecedent, b.l_partkey AS consequent,
                   count(*) AS n_both
            FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
                                     AND a.l_partkey != b.l_partkey
            GROUP BY 1, 2
            HAVING count(*) >= {MIN_RULE_ORDERS}
        )
        SELECT p.antecedent, p.consequent, p.n_both,
               ca.n_item AS n_ante, cc.n_item AS n_cons,
               p.n_both::DOUBLE / t.n_baskets AS support,
               p.n_both::DOUBLE / ca.n_item AS confidence,
               (p.n_both * t.n_baskets)::DOUBLE / (ca.n_item * cc.n_item)
                   AS lift
        FROM pairs p
        JOIN item_cnt ca ON ca.l_partkey = p.antecedent
        JOIN item_cnt cc ON cc.l_partkey = p.consequent
        CROSS JOIN t
    """,
    # Normal-equation OLS: integer sums, two double divisions — mirrors
    # the Spark expression order exactly (n*sxy - sx*sy etc.).
    "events_daily_trend": """
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS y
            FROM events GROUP BY 1, 2
        ),
        d AS (
            SELECT event_type,
                   CAST(day - min(day) OVER (PARTITION BY event_type)
                       AS BIGINT) AS x,
                   y
            FROM daily
        ),
        agg AS (
            SELECT event_type,
                   count(*) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * y) AS BIGINT) AS sxy,
                   CAST(sum(x * x) AS BIGINT) AS sxx
            FROM d GROUP BY 1
        )
        SELECT event_type, n,
               CASE WHEN n * sxx - sx * sx != 0 THEN
                   (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)
               END AS slope_per_day,
               CASE WHEN n * sxx - sx * sx != 0 THEN
                   (sy - (n * sxy - sx * sy)::DOUBLE
                             / (n * sxx - sx * sx) * sx) / n
               END AS intercept
        FROM agg
    """,
    "events_type_transitions": """
        WITH pairs AS (
            SELECT event_type AS from_type,
                   lead(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS to_type
            FROM events
        ),
        cnt AS (
            SELECT from_type, to_type, count(*) AS n
            FROM pairs WHERE to_type IS NOT NULL
            GROUP BY 1, 2
        )
        SELECT from_type, to_type, n,
               n::DOUBLE / sum(n) OVER (PARTITION BY from_type) AS p
        FROM cnt
    """,
    "events_value_winsorized": """
        WITH th AS (
            SELECT event_type,
                   quantile_disc(value, 0.01) AS p_lo,
                   quantile_disc(value, 0.99) AS p_hi
            FROM events GROUP BY event_type
        )
        SELECT e.event_id, e.event_type, e.value,
               least(greatest(e.value, th.p_lo), th.p_hi)
                   AS value_winsorized,
               (e.value < th.p_lo OR e.value > th.p_hi) AS was_clipped
        FROM events e JOIN th USING (event_type)
    """,
    # Decimal-exact revenue + cumulative, doubles only in the final
    # divisions of already-exact operands (the tpch q1 convention);
    # DuckDB's single window mirrors the range-bucketed two-stage
    # cumsum because both follow the same unique (rev desc, suppkey)
    # order.
    "lineitem_supplier_pareto": """
        WITH rev AS (
            SELECT l_suppkey,
                   SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                       * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS rev_dec
            FROM lineitem GROUP BY 1
        ),
        t AS (SELECT CAST(SUM(rev_dec) AS DOUBLE) AS total_rev FROM rev),
        r AS (
            SELECT l_suppkey, rev_dec,
                   ROW_NUMBER() OVER w AS pareto_rank,
                   CAST(SUM(rev_dec) OVER
                        (w ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_double
            FROM rev
            WINDOW w AS (ORDER BY rev_dec DESC, l_suppkey)
        )
        SELECT l_suppkey,
               CAST(rev_dec AS DOUBLE) AS revenue,
               CAST(rev_dec AS DOUBLE) / total_rev AS share,
               cum_double / total_rev AS cum_share,
               CAST(pareto_rank AS BIGINT) AS pareto_rank,
               CASE WHEN cum_double / total_rev <= 0.80 THEN 'A'
                    WHEN cum_double / total_rev <= 0.95 THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM r, t
    """,
    # Same delta encoding: +1 at open, -1 at close+1, cumsum over the
    # calendar-bounded day spine.
    "orders_open_backlog": """
        WITH spans AS (
            SELECT CAST(o.o_orderdate AS DATE) AS open_day,
                   MAX(CAST(l.l_shipdate AS DATE)) AS close_day
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            GROUP BY o.o_orderkey, 1
        ),
        deltas AS (
            SELECT open_day AS day, 1 AS d, 1 AS op, 0 AS cl FROM spans
            UNION ALL SELECT close_day + 1, -1, 0, 0 FROM spans
            UNION ALL SELECT close_day, 0, 0, 1 FROM spans
        ),
        daily AS (
            SELECT day, SUM(d) AS delta, SUM(op) AS n_opened,
                   SUM(cl) AS n_closed
            FROM deltas GROUP BY 1
        )
        SELECT strftime(day, '%Y%m%d') AS day,
               CAST(n_opened AS BIGINT) AS n_opened,
               CAST(n_closed AS BIGINT) AS n_closed,
               CAST(SUM(delta) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS backlog
        FROM daily
    """,
}

# Round 11: promoted on schedule (library + tests + audited oracles
# held through round 10; the window slot is this round's registry
# edit). events_inter_arrival_profile stays in ORACLE_R12.
ORACLE.update(ORACLE_R11)
QUERIES.update({
    "events_burst_flags": _q(burst_flags, "events"),
    "events_weekly_active_users": _q(weekly_active_users, "events"),
})

# Round 12: promoted on schedule (library + sorted-fold parity tests
# held through rounds 10-11; the window slot is this round's registry
# edit).
ORACLE.update(ORACLE_R12)
QUERIES.update({
    "events_inter_arrival_profile": _q(inter_arrival_profile, "events"),
})

# Round-13 promotion queue (library op + tests + audited oracle now,
# window slot in round 13 per the COVERAGE.md deferral arithmetic).
# The latency mirror uses the same histogram-selection arithmetic as
# the op — the selection rule, not the engine's quantile convention —
# and date_diff('day', start, end) ≡ Spark's datediff(end, start).
ORACLE_R13 = {
    "orders_fulfillment_latency": """
        WITH base AS (
            SELECT o_orderpriority AS priority,
                   date_diff('day', o_orderdate, l_shipdate) AS days
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ),
        hist AS (
            SELECT priority, days, count(*) AS cnt
            FROM base GROUP BY 1, 2
        ),
        h AS (
            SELECT priority, days, cnt,
                   SUM(cnt) OVER (
                       PARTITION BY priority ORDER BY days
                   ) AS cum,
                   SUM(cnt) OVER (PARTITION BY priority) AS n
            FROM hist
        )
        SELECT priority,
               CAST(MAX(n) AS BIGINT) AS n_items,
               CAST(MIN(CASE WHEN cum >= (n + 1) // 2 THEN days END)
                    AS BIGINT) AS p50_days,
               CAST(MIN(CASE WHEN cum >= (9 * n + 9) // 10 THEN days END)
                    AS BIGINT) AS p90_days,
               CAST(MIN(CASE WHEN cum >= (99 * n + 99) // 100 THEN days END)
                    AS BIGINT) AS p99_days,
               CAST(MAX(days) AS BIGINT) AS max_days
        FROM h GROUP BY priority
    """,
    "events_dau_wau_stickiness": """
        WITH day_user AS (
            SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        ),
        contributes AS (
            SELECT user_id, day, day + CAST(off AS INTEGER) AS report_day
            FROM day_user, (SELECT unnest(range(7)) AS off)
        ),
        agg AS (
            SELECT report_day,
                   count(DISTINCT user_id) AS wau,
                   count(DISTINCT CASE WHEN day = report_day
                                       THEN user_id END) AS dau
            FROM contributes GROUP BY 1
        )
        SELECT strftime(report_day, '%Y%m%d') AS day,
               CAST(dau AS BIGINT) AS dau,
               CAST(wau AS BIGINT) AS wau,
               CAST(dau AS DOUBLE) / wau AS stickiness
        FROM agg WHERE dau > 0
    """,
}
# Round 13: promoted on schedule (library + fixture tests + audited
# oracles held through rounds 11-12; the window slot is this round's
# registry edit, per the COVERAGE.md deferral arithmetic).
ORACLE.update(ORACLE_R13)
QUERIES.update({
    "orders_fulfillment_latency": _q(fulfillment_latency, "orders", "lineitem"),
    "events_dau_wau_stickiness": _q(dau_wau_stickiness, "events"),
})

# Round-14 promotion queue. The mirror repeats the sorted-rank Gini
# identity over the same decimal-exact revenue sums; the rank window
# shares the (revenue, suppkey) tie-break, and SUM(i * revenue) is
# permutation-invariant over tied revenues, so the decimals agree
# exactly and the double casts round identically.
ORACLE_R14 = {
    "supplier_revenue_gini": """
        WITH rev AS (
            SELECT l_suppkey,
                   SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                       * (CAST(1 AS DECIMAL(3,2))
                          - CAST(l_discount AS DECIMAL(4,2)))) AS revenue
            FROM lineitem GROUP BY 1
        ),
        ranked AS (
            SELECT n.n_name AS nation, s.s_suppkey, r.revenue,
                   ROW_NUMBER() OVER (
                       PARTITION BY n.n_name
                       ORDER BY r.revenue, s.s_suppkey
                   ) AS i
            FROM rev r
            JOIN supplier s ON r.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
        )
        SELECT nation,
               CAST(COUNT(*) AS BIGINT) AS n_suppliers,
               CAST(SUM(revenue) AS DOUBLE) AS total_revenue,
               CASE WHEN SUM(revenue) > 0 THEN
                   CAST(2 * SUM(i * revenue)
                        - (COUNT(*) + 1) * SUM(revenue) AS DOUBLE)
                       / CAST(COUNT(*) * SUM(revenue) AS DOUBLE)
               END AS gini
        FROM ranked GROUP BY nation
    """,
}

# Round-14 queue, third analytics member: same histogram-selection
# mirror as the latency oracle, decile index arithmetic spelled as
# (k*n + 9) // 10 = ceil(k*n/10) on both sides; the selected balances
# are raw doubles, so value equality needs no tolerance.
ORACLE_R14.update({
    "customer_balance_deciles": """
        WITH hist AS (
            SELECT c_mktsegment, c_acctbal, count(*) AS cnt
            FROM customer GROUP BY 1, 2
        ),
        h AS (
            SELECT c_mktsegment, c_acctbal, cnt,
                   SUM(cnt) OVER (
                       PARTITION BY c_mktsegment ORDER BY c_acctbal
                   ) AS cum,
                   SUM(cnt) OVER (PARTITION BY c_mktsegment) AS n
            FROM hist
        )
        SELECT c_mktsegment AS segment,
               CAST(MAX(n) AS BIGINT) AS n_customers,
               MIN(c_acctbal) AS min_bal,
               MIN(CASE WHEN cum >= (1 * n + 9) // 10 THEN c_acctbal END) AS d1,
               MIN(CASE WHEN cum >= (2 * n + 9) // 10 THEN c_acctbal END) AS d2,
               MIN(CASE WHEN cum >= (3 * n + 9) // 10 THEN c_acctbal END) AS d3,
               MIN(CASE WHEN cum >= (4 * n + 9) // 10 THEN c_acctbal END) AS d4,
               MIN(CASE WHEN cum >= (5 * n + 9) // 10 THEN c_acctbal END) AS d5,
               MIN(CASE WHEN cum >= (6 * n + 9) // 10 THEN c_acctbal END) AS d6,
               MIN(CASE WHEN cum >= (7 * n + 9) // 10 THEN c_acctbal END) AS d7,
               MIN(CASE WHEN cum >= (8 * n + 9) // 10 THEN c_acctbal END) AS d8,
               MIN(CASE WHEN cum >= (9 * n + 9) // 10 THEN c_acctbal END) AS d9,
               MAX(c_acctbal) AS max_bal
        FROM h GROUP BY c_mktsegment
    """,
})

# Round 14: promoted on schedule (library + fixture tests + audited
# oracles held through rounds 12-13, rehearsed 6/6 at sf0.01 both
# rounds; the window slot is this round's registry edit, per the
# COVERAGE.md deferral arithmetic).
ORACLE.update(ORACLE_R14)
QUERIES.update({
    "supplier_revenue_gini": _q(
        supplier_revenue_gini, "lineitem", "supplier", "nation"
    ),
    "customer_balance_deciles": _q(customer_balance_deciles, "customer"),
})


def supplier_revenue_hhi(
    lineitem: DataFrame, supplier: DataFrame, nation: DataFrame
) -> DataFrame:
    """Per-nation Herfindahl–Hirschman index of supplier revenue —
    the regulator's concentration number next to the Gini's
    inequality number (HHI answers "could one supplier's failure
    take the market down", Gini answers "how unequal is the split";
    sourcing teams read both). HHI = Σ sᵢ² over revenue shares =
    Σ rᵢ² / (Σ r)². Revenue sums are exact decimals; each rᵢ is cast
    to double ONCE and squared per-row (deterministic), and the
    per-nation Σ rᵢ² uses the module's sorted-fold discipline
    (collect + array_sort + left fold — the identical operand
    sequence on both engines), so the one division at the end is
    engine-exact. top1_share = max(rᵢ)/Σr, both exact before their
    single casts.

    Scale shape: identical to supplier_revenue_gini — the only
    corpus-sized exchange is the map-side-combined per-supplier
    revenue aggregate; the fold/max/total all run on the
    supplier-grain relation (thousands of rows), so the collected
    per-nation list is |suppliers in nation|, never corpus-sized.

    Queued for round 15 (`supplier_revenue_hhi`, ORACLE_R15)."""
    rev = (
        lineitem.select(
            "l_suppkey",
            (
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (
                    F.lit(1).cast("decimal(3,2)")
                    - F.col("l_discount").cast("decimal(4,2)")
                )
            ).alias("r"),
        )
        .groupBy("l_suppkey")
        .agg(F.sum("r").alias("revenue"))
    )
    per = (
        rev.join(
            supplier.select("s_suppkey", "s_nationkey"),
            rev.l_suppkey == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            "revenue",
            (
                F.col("revenue").cast("double")
                * F.col("revenue").cast("double")
            ).alias("r2"),
        )
    )
    agg = per.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum("revenue").alias("_sum_rev"),
        F.max("revenue").alias("_max_rev"),
        F.aggregate(
            F.array_sort(F.collect_list("r2")), F.lit(0.0), lambda a, x: a + x
        ).alias("_sum_r2"),
    )
    total = F.col("_sum_rev").cast("double")
    return agg.select(
        "nation",
        "n_suppliers",
        total.alias("total_revenue"),
        # same positivity guard as the Gini op: an all-zero nation
        # would divide by zero, a returns-negative total would make
        # shares meaningless — both report NULL
        F.when(F.col("_sum_rev") > 0, F.col("_sum_r2") / (total * total))
        .alias("hhi"),
        F.when(
            F.col("_sum_rev") > 0,
            F.col("_max_rev").cast("double") / total,
        ).alias("top1_share"),
    )


# Round-15 promotion queue. The mirror repeats the decimal-exact
# revenue sums, squares each supplier's double-cast revenue per-row,
# and folds the SORTED square list (list_sum(list_sort(...)) — the
# centroid discipline), so hhi/top1_share divisions see identical
# operands on both engines.
ORACLE_R15 = {
    "supplier_revenue_hhi": """
        WITH rev AS (
            SELECT l_suppkey,
                   SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                       * (CAST(1 AS DECIMAL(3,2))
                          - CAST(l_discount AS DECIMAL(4,2)))) AS revenue
            FROM lineitem GROUP BY 1
        ),
        per AS (
            SELECT n.n_name AS nation, r.revenue,
                   CAST(r.revenue AS DOUBLE) * CAST(r.revenue AS DOUBLE)
                       AS r2
            FROM rev r
            JOIN supplier s ON r.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
        )
        SELECT nation,
               CAST(COUNT(*) AS BIGINT) AS n_suppliers,
               CAST(SUM(revenue) AS DOUBLE) AS total_revenue,
               CASE WHEN SUM(revenue) > 0 THEN
                   list_sum(list_sort(list(r2)))
                       / (CAST(SUM(revenue) AS DOUBLE)
                          * CAST(SUM(revenue) AS DOUBLE))
               END AS hhi,
               CASE WHEN SUM(revenue) > 0 THEN
                   CAST(MAX(revenue) AS DOUBLE)
                       / CAST(SUM(revenue) AS DOUBLE)
               END AS top1_share
        FROM per GROUP BY nation
    """,
}


def user_activity_gini(events: DataFrame) -> DataFrame:
    """Per-event-type Gini of user activity plus the top-decile share
    — "does 1% of users generate 90% of the traffic": the
    concentration gate a training-data pipeline reads before trusting
    engagement-weighted sampling, and the bot-farm tripwire (organic
    populations sit near 0.3-0.6; a scripted swarm pushes both numbers
    toward 1).

    This is the GINI-VIA-HISTOGRAM formulation — the rank-window
    identity (supplier_revenue_gini) needs a per-partition sort of
    every ranked row, which for per-USER activity would mean sorting
    millions of users per type; activity counts instead live on a tiny
    integer domain, so the sufficient statistic is the (type, count →
    n_users) histogram and every rank quantity is an arithmetic
    series over cumulative counts: users holding count c occupy ranks
    (cum−n+1..cum), so Σ i·x over the run is c·(2·cum−n+1)·n/2 —
    EXACT bigints end to end (consecutive-integer sums are always
    even before the halving), one double division per output column.
    The same selection arithmetic yields the bottom-90% event mass,
    hence the top-decile share, with no second pass.

    Scale shape: one map-side-combined (type, user) count, one
    map-side-combined histogram over it, then the cumulative window
    runs over |distinct activity counts| rows per type (hundreds) —
    no corpus-sized or population-sized sort anywhere, the same plan
    at 100 TB. Queued for round 15 (`events_user_activity_gini`,
    ORACLE_R15)."""
    per_user = events.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    return activity_gini_report(per_user)


def activity_gini_report(per_user: DataFrame) -> DataFrame:
    """The histogram→Gini stage of `user_activity_gini`, split out so
    the streaming twin folds its (type, user, c) state and applies the
    IDENTICAL report — stream/batch parity by construction, not by
    parallel maintenance. Input contract: one row per (event_type,
    user_id) with its long count `c`."""
    hist = per_user.groupBy("event_type", "c").agg(
        F.count(F.lit(1)).cast("long").alias("n_u")
    )
    w = Window.partitionBy("event_type").orderBy("c")
    h = hist.withColumn("cum", F.sum("n_u").over(w)).withColumn(
        "n", F.sum("n_u").over(Window.partitionBy("event_type"))
    )
    agg = h.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_users"),
        F.sum(F.col("c") * F.col("n_u")).cast("long").alias("total_events"),
        F.sum(
            F.col("c")
            * F.expr("((2 * cum - n_u + 1) * n_u) div 2")
        )
        .cast("long")
        .alias("_sum_i_x"),
        # bottom-90% event mass: users ranked <= k = (9n) div 10
        # contribute their full runs below the threshold and a partial
        # slice of the run where k lands
        F.sum(
            F.col("c")
            * F.greatest(
                F.lit(0).cast("long"),
                F.least(
                    F.col("n_u"),
                    F.expr("(9 * n) div 10") - (F.col("cum") - F.col("n_u")),
                ),
            )
        )
        .cast("long")
        .alias("_bottom90_events"),
    )
    return agg.select(
        "event_type",
        "n_users",
        "total_events",
        F.when(
            F.col("total_events") > 0,
            (
                F.lit(2) * F.col("_sum_i_x")
                - (F.col("n_users") + F.lit(1)) * F.col("total_events")
            ).cast("double")
            / (F.col("n_users") * F.col("total_events")).cast("double"),
        ).alias("gini"),
        F.when(
            F.col("total_events") > 0,
            (F.col("total_events") - F.col("_bottom90_events")).cast(
                "double"
            )
            / F.col("total_events").cast("double"),
        ).alias("top_decile_share"),
    )


# Round-15 queue, second analytics member. The mirror repeats the
# histogram-Gini arithmetic: consecutive-rank sums as arithmetic
# series over cumulative counts — every quantity an exact bigint,
# the divisions single.
ORACLE_R15.update({
    "events_user_activity_gini": """
        WITH per_user AS (
            SELECT event_type, user_id, count(*) AS c
            FROM events GROUP BY 1, 2
        ),
        hist AS (
            SELECT event_type, c, count(*) AS n_u
            FROM per_user GROUP BY 1, 2
        ),
        h AS (
            SELECT event_type, c, n_u,
                   SUM(n_u) OVER (
                       PARTITION BY event_type ORDER BY c
                   ) AS cum,
                   SUM(n_u) OVER (PARTITION BY event_type) AS n
            FROM hist
        ),
        agg AS (
            SELECT event_type,
                   MAX(n) AS n_users,
                   SUM(c * n_u) AS total_events,
                   SUM(c * (((2 * cum - n_u + 1) * n_u) // 2))
                       AS sum_i_x,
                   SUM(c * GREATEST(0,
                           LEAST(n_u, (9 * n) // 10 - (cum - n_u))))
                       AS bottom90_events
            FROM h GROUP BY event_type
        )
        SELECT event_type,
               CAST(n_users AS BIGINT) AS n_users,
               CAST(total_events AS BIGINT) AS total_events,
               CASE WHEN total_events > 0 THEN
                   CAST(2 * sum_i_x - (n_users + 1) * total_events
                        AS DOUBLE)
                       / CAST(n_users * total_events AS DOUBLE)
               END AS gini,
               CASE WHEN total_events > 0 THEN
                   CAST(total_events - bottom90_events AS DOUBLE)
                       / CAST(total_events AS DOUBLE)
               END AS top_decile_share
        FROM agg
    """,
})

# Round 14: the R15 pair promoted ONE ROUND EARLY (VERDICT r13 #3 —
# drain the queue, don't deepen it): library + audited oracles held
# since round 13, parity-rehearsed at sf0.01 in rounds 13 and 14, the
# activity-gini streaming twin measured flat at the 10× step
# (SCALE.md §4-r13d). They take window slots this round (staleness at
# birth), displacing tail fillers per the re-run greedy audit.
ORACLE.update(ORACLE_R15)
QUERIES.update({
    "supplier_revenue_hhi": _q(
        supplier_revenue_hhi, "lineitem", "supplier", "nation"
    ),
    "events_user_activity_gini": _q(user_activity_gini, "events"),
})


def daily_mad_anomalies(events: DataFrame, k: int = 3) -> DataFrame:
    """Robust volume-anomaly screen: flag days whose event count sits
    more than k median-absolute-deviations from the all-time median.
    The companion to `daily_anomaly_flags` (trailing-mean × factor):
    the trailing mean is itself dragged by the anomalies it is
    supposed to catch (one 10× day inflates the next week's baseline
    by 2.3×, masking follow-on spikes), while median/MAD have a 50%
    breakdown point — the screen still works when half the window is
    garbage, which is exactly the regime a backfill incident creates.

    Exactness: daily counts are integers, so the lower-median (the
    module's order-statistic selection over the count histogram) is
    an integer, every |cnt − median| deviation is an integer, the MAD
    is again an integer median, and the flag is a PURE INTEGER
    comparison |cnt − median| > k·MAD — no float anywhere in the
    verdict; robust_z is the one IEEE division, NULL when MAD = 0
    (a constant series has no scale to score against).

    Scale shape: one map-side-combined shuffle to daily counts; all
    medians and windows run on the DAY-grain relation, which is
    calendar-bounded (decades of data < 10⁴ rows) — the single
    unpartitioned windows here are over that tiny relation, never the
    corpus. Queued for round 16 (`events_daily_mad_anomalies`,
    ORACLE_R16)."""
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    return mad_report(daily, k)


def mad_report(daily: DataFrame, k: int = 3) -> DataFrame:
    """The median/MAD stage of `daily_mad_anomalies`, split out so the
    streaming twin folds its (day, cnt) state and applies the
    IDENTICAL screen — stream/batch parity by construction. Input
    contract: one row per day with its long count `cnt`."""
    n_days = Window.partitionBy()
    w_cnt = Window.orderBy("cnt", "day")
    med = (
        daily.withColumn("rn", F.row_number().over(w_cnt))
        .withColumn("n", F.count(F.lit(1)).over(n_days))
        .select(
            F.min(
                F.when(F.col("rn") >= F.expr("(n + 1) div 2"), F.col("cnt"))
            ).alias("median_cnt")
        )
    )
    dev = daily.crossJoin(F.broadcast(med)).withColumn(
        "dev", F.abs(F.col("cnt") - F.col("median_cnt"))
    )
    w_dev = Window.orderBy("dev", "day")
    mad = (
        dev.withColumn("rn", F.row_number().over(w_dev))
        .withColumn("n", F.count(F.lit(1)).over(n_days))
        .select(
            F.min(
                F.when(F.col("rn") >= F.expr("(n + 1) div 2"), F.col("dev"))
            ).alias("mad")
        )
    )
    return dev.crossJoin(F.broadcast(mad)).select(
        "day",
        "cnt",
        "median_cnt",
        "mad",
        (F.col("dev") > F.lit(k) * F.col("mad")).alias("is_anomaly"),
        F.when(
            F.col("mad") > 0,
            F.col("dev").cast("double") / F.col("mad").cast("double"),
        ).alias("robust_z"),
    )


WILSON_Z = 1.96  # 95% two-sided; a fixed literal on BOTH engines


def supplier_return_rate_wilson(lineitem: DataFrame) -> DataFrame:
    """Per-supplier return rate with its Wilson 95% score interval —
    the uncertainty-aware version of "which suppliers have elevated
    returns": a 3-line supplier at 2/3 returned LOOKS worse than a
    3000-line supplier at 40% but its lower bound says you know
    almost nothing, and ranking by `wilson_lb` instead of p̂ is the
    standard fix (the same estimator behind Reddit's comment sort and
    any CTR ranker). Counts are exact bigints; p̂ is one division;
    the interval is one fixed double expression (z = 1.96 literal,
    sqrt is IEEE exactly-rounded) written with IDENTICAL operand
    order in the oracle, so both engines produce the same doubles.

    Scale shape: ONE map-side-combined aggregate on l_suppkey (the
    conditional count rides the same pass); output is supplier-grain.
    Queued for round 16 (`supplier_return_rate_wilson`, ORACLE_R16)."""
    agg = lineitem.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
        )
        .cast("long")
        .alias("n_returns"),
    )
    z2 = WILSON_Z * WILSON_Z
    n = F.col("n_lines").cast("double")
    p = F.col("n_returns").cast("double") / n
    center = p + F.lit(z2) / (F.lit(2.0) * n)
    margin = F.lit(WILSON_Z) * F.sqrt(
        p * (F.lit(1.0) - p) / n + F.lit(z2) / (F.lit(4.0) * n * n)
    )
    denom = F.lit(1.0) + F.lit(z2) / n
    return agg.select(
        "l_suppkey",
        "n_lines",
        "n_returns",
        p.alias("p_hat"),
        ((center - margin) / denom).alias("wilson_lb"),
        ((center + margin) / denom).alias("wilson_ub"),
    )


# Round-16 promotion queue. The MAD mirror repeats the order-statistic
# selection twice (counts, then deviations) with the same (value, day)
# tie-break; the verdict is integer-only. The Wilson mirror spells the
# interval with the IDENTICAL operand order (every +,*,/ and the sqrt
# are exactly-rounded IEEE ops, so same sequence = same doubles) — and
# every numeric literal is CAST to DOUBLE first: DuckDB parses `1.96`
# as DECIMAL(3,2), so a bare `1.96 * 1.96` is the exact decimal 3.8416
# rather than the double product 3.8415999999999997, a one-ulp oracle
# mismatch caught live at sf0.01 (the round-13 instance of the
# round-10 bare-decimal-literal rule).
ORACLE_R16 = {
    "events_daily_mad_anomalies": """
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1
        ),
        m AS (
            SELECT MIN(CASE WHEN rn >= (n + 1) // 2 THEN cnt END)
                       AS median_cnt
            FROM (SELECT cnt,
                         ROW_NUMBER() OVER (ORDER BY cnt, day) AS rn,
                         COUNT(*) OVER () AS n
                  FROM daily)
        ),
        dev AS (
            SELECT d.day, d.cnt, m.median_cnt,
                   ABS(d.cnt - m.median_cnt) AS dev
            FROM daily d CROSS JOIN m
        ),
        md AS (
            SELECT MIN(CASE WHEN rn >= (n + 1) // 2 THEN dev END) AS mad
            FROM (SELECT dev,
                         ROW_NUMBER() OVER (ORDER BY dev, day) AS rn,
                         COUNT(*) OVER () AS n
                  FROM dev)
        )
        SELECT day,
               CAST(cnt AS BIGINT) AS cnt,
               CAST(median_cnt AS BIGINT) AS median_cnt,
               CAST(mad AS BIGINT) AS mad,
               dev > 3 * mad AS is_anomaly,
               CASE WHEN mad > 0
                    THEN CAST(dev AS DOUBLE) / CAST(mad AS DOUBLE)
               END AS robust_z
        FROM dev CROSS JOIN md
    """,
    "supplier_return_rate_wilson": """
        WITH agg AS (
            SELECT l_suppkey,
                   CAST(count(*) AS BIGINT) AS n_lines,
                   CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_returns
            FROM lineitem GROUP BY 1
        )
        SELECT l_suppkey, n_lines, n_returns,
               CAST(n_returns AS DOUBLE) / CAST(n_lines AS DOUBLE) AS p_hat,
               ((CAST(n_returns AS DOUBLE) / CAST(n_lines AS DOUBLE)
                 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (2.0 * CAST(n_lines AS DOUBLE)))
                - CAST(1.96 AS DOUBLE) * sqrt(
                      (CAST(n_returns AS DOUBLE) / CAST(n_lines AS DOUBLE))
                      * (1.0 - CAST(n_returns AS DOUBLE)
                               / CAST(n_lines AS DOUBLE))
                      / CAST(n_lines AS DOUBLE)
                      + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (4.0 * CAST(n_lines AS DOUBLE)
                                  * CAST(n_lines AS DOUBLE))))
               / (1.0 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / CAST(n_lines AS DOUBLE)) AS wilson_lb,
               ((CAST(n_returns AS DOUBLE) / CAST(n_lines AS DOUBLE)
                 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (2.0 * CAST(n_lines AS DOUBLE)))
                + CAST(1.96 AS DOUBLE) * sqrt(
                      (CAST(n_returns AS DOUBLE) / CAST(n_lines AS DOUBLE))
                      * (1.0 - CAST(n_returns AS DOUBLE)
                               / CAST(n_lines AS DOUBLE))
                      / CAST(n_lines AS DOUBLE)
                      + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (4.0 * CAST(n_lines AS DOUBLE)
                                  * CAST(n_lines AS DOUBLE))))
               / (1.0 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / CAST(n_lines AS DOUBLE)) AS wilson_ub
        FROM agg
    """,
}


# log10(1 + 1/d) for d = 1..9, precomputed once in Python and embedded
# as DOUBLE literals on BOTH engines — the op itself never calls a
# transcendental, so there is no libm-divergence surface.
BENFORD_SHARES = {
    1: 0.3010299956639812,
    2: 0.17609125905568124,
    3: 0.12493873660829992,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}


def price_benford_screen(lineitem: DataFrame) -> DataFrame:
    """Benford first-significant-digit screen over extended prices —
    the forensic data-quality tripwire: naturally occurring
    multi-magnitude amounts follow log-uniform first digits
    (30.1% ones … 4.6% nines), and a synthetic, capped, or tampered
    feed shows up as excess mass on specific digits long before any
    row-level rule fires. One row per digit with observed share, the
    Benford share, and their ratio; the flat-distribution excess on
    uniform generators (≈0.37× on 1s, ≈2.4× on 9s) is itself the
    fingerprint that a column is synthetic — which this corpus's own
    fixture test demonstrates.

    Portability: the first significant digit is extracted from the
    CENTS bigint's decimal string (integer formatting is identical on
    every engine; float formatting is NOT), the Benford shares are
    fixed double literals on both sides, and the two ratios are
    single IEEE divisions of exact/deterministic operands.

    Scale shape: one map-side-combined 9-group aggregate over the
    scan; everything after is a 9-row relation.
    Queued for round 16 (`lineitem_price_benford`, ORACLE_R16)."""
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    counts = (
        lineitem.filter(F.col("l_extendedprice") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    total = Window.partitionBy()
    share = F.col("n").cast("double") / F.sum("n").over(total).cast("double")
    benford = F.element_at(
        F.create_map(
            *[
                x
                for d, s in sorted(BENFORD_SHARES.items())
                for x in (F.lit(d), F.lit(s))
            ]
        ),
        F.col("digit"),
    )
    return counts.select(
        "digit",
        "n",
        share.alias("share"),
        benford.alias("benford_share"),
        (share / benford).alias("excess_ratio"),
    )


_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN CAST({s!r} AS DOUBLE)" for d, s in BENFORD_SHARES.items()
)

# Round-16 queue, fourth member. The mirror extracts the digit from
# the identical cents-bigint string, embeds the SAME double literals
# (CAST ... AS DOUBLE — the bare-decimal-literal rule above), and
# performs the same two single divisions.
ORACLE_R16.update({
    "lineitem_price_benford": f"""
        WITH counts AS (
            SELECT CAST(SUBSTR(CAST(CAST(round(l_extendedprice * 100)
                                          AS BIGINT) AS VARCHAR), 1, 1)
                        AS INTEGER) AS digit,
                   CAST(count(*) AS BIGINT) AS n
            FROM lineitem WHERE l_extendedprice > 0
            GROUP BY 1
        )
        SELECT digit, n,
               CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE) AS share,
               (CASE digit {_BENFORD_CASE} END) AS benford_share,
               (CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE))
                   / (CASE digit {_BENFORD_CASE} END) AS excess_ratio
        FROM counts
    """,
})

# Round 15: the R16 trio promoted ONE ROUND EARLY (VERDICT r14 #2 —
# keep draining the queue): library + fixture tests + audited oracles
# held since round 13, parity-rehearsed at sf0.01 in rounds 13, 14 and
# 15; the daily_mad streaming twin has been live since r13 and the
# growth rows live in SCALE.md §4-r13e. They take window slots this
# round (staleness at birth), displacing tail fillers per the re-run
# greedy audit.
ORACLE.update(ORACLE_R16)
QUERIES.update({
    "events_daily_mad_anomalies": _q(daily_mad_anomalies, "events"),
    "supplier_return_rate_wilson": _q(supplier_return_rate_wilson, "lineitem"),
    "lineitem_price_benford": _q(price_benford_screen, "lineitem"),
})


# Shared CUSUM slack divisor (mean/20 = 5% per day in scaled units),
# interpolated into BOTH the operator default and the oracle mirror so
# a change to one can't silently desynchronize the other (ADVICE r13;
# the SURVIVAL_HORIZON_DAYS discipline).
CUSUM_SLACK_DEN = 20


def cusum_level_shift(
    events: DataFrame, slack_den: int = CUSUM_SLACK_DEN
) -> DataFrame:
    """Two-sided CUSUM departure screen over the daily event-count
    series — the LEVEL-SHIFT complement to `daily_mad_anomalies`: the
    MAD screen catches point spikes but is blind to a feed that
    quietly settles at a new volume (a dropped producer, a doubled
    region), which is exactly what the cumulative sum accumulates.
    Page's classic recursion S⁺ᵢ = max(0, S⁺ᵢ₋₁ + (xᵢ − μ − s)) is
    evaluated in CLOSED FORM — Sᵢ = Pᵢ − min(0, min_{j≤i} Pⱼ) for the
    prefix sums P of the slack-adjusted deviations — so the whole
    statistic is two running-sum windows plus two running-min windows,
    no recursion and no iteration.

    Exactness: everything is scaled by n_days so it stays in BIGINT —
    the deviation of day i is (cntᵢ·n − total), the slack is
    total div slack_den (= mean/slack_den per day in scaled units;
    the default 5% sits below normal daily noise so the statistic
    accumulates on real wander but the threshold only fires on a
    sustained run), and the alarm threshold is total (= one full
    mean-day of accumulated excess). The verdict is a pure integer
    comparison; there is NO float anywhere in the operator. Overflow
    envelope: n_days²·max_daily_cnt must stay under 2⁶³ — at 10⁴ days
    of 10¹⁰ events/day the running sums peak near 10¹⁸, inside bigint.

    Reading the output: against the GLOBAL mean, a mid-series level
    shift shows as a sustained low-side run before the change and a
    high-side run after it — the flagged runs bracket the change
    point (offline CUSUM/binary-segmentation semantics, not the
    online baseline-anchored variant; the streaming twin re-screens
    per trigger the same way).

    Scale shape: one map-side-combined shuffle to daily counts; all
    four windows run on the DAY-grain relation (calendar-bounded,
    decades < 10⁴ rows — the `mad_report` envelope).
    Queued for round 17 (`events_cusum_level_shift`, ORACLE_R17)."""
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    return cusum_report(daily, slack_den)


def cusum_report(
    daily: DataFrame, slack_den: int = CUSUM_SLACK_DEN
) -> DataFrame:
    """The CUSUM stage of `cusum_level_shift`, split out so the
    streaming twin folds its (day, cnt) state and applies the
    IDENTICAL screen — stream/batch parity by construction. Input
    contract: one row per day with its long count `cnt`."""
    whole = Window.partitionBy()
    run = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    g = daily.withColumn(
        "n_days", F.count(F.lit(1)).over(whole).cast("long")
    ).withColumn("total", F.sum("cnt").over(whole).cast("long"))
    slack = F.expr(f"total div {int(slack_den)}")
    dev = F.col("cnt") * F.col("n_days") - F.col("total")
    s = g.withColumn("p", F.sum(dev - slack).over(run)).withColumn(
        "q", F.sum(-dev - slack).over(run)
    )
    zero = F.lit(0).cast("long")
    pos = F.col("p") - F.least(zero, F.min("p").over(run))
    neg = F.col("q") - F.least(zero, F.min("q").over(run))
    return s.select(
        "day",
        "cnt",
        pos.alias("cusum_pos"),
        neg.alias("cusum_neg"),
        ((pos > F.col("total")) | (neg > F.col("total"))).alias(
            "shift_flag"
        ),
    )


Z_95 = 1.96  # two-sided 95%; a fixed literal on BOTH engines


def ab_conversion_ztest(events: DataFrame) -> DataFrame:
    """Two-proportion pooled z-test on 24-hour ACTIVATION (a purchase
    within 24h of the user's first observed event) between the two
    halves of a deterministic user split (user_id mod 2 — the same
    stable-id bucketing an experiment assignment service does; swap
    in `functions.core.hash_bucket` for salted assignments). This is
    the experiment readout every growth pipeline runs: the unit of
    analysis is the USER (so one click-happy user can't carry a
    variant), the metric is time-bounded the way real conversion
    metrics are (an ever-expanding "did they EVER purchase" window
    saturates to p̂ = 1 on any long-lived corpus — including this
    one — and tests nothing), the z statistic is the classic
    pooled-variance form, and the verdict is |z| > 1.96.

    Exactness: timestamp comparisons are exact microsecond integers;
    the four counts are exact bigints; p̂s and the z are fixed double
    expressions written with IDENTICAL operand order in the oracle
    (every +,*,/ and the sqrt are exactly-rounded IEEE ops, so same
    sequence = same doubles); z is NULL and `significant` FALSE when
    the pooled variance is 0 (all or none converted — no scale to
    test against).

    Scale shape: the per-user first-event timestamp is a window over
    user_id and the per-user flag a groupBy on the SAME key — one
    exchange serves both; then a 1-row conditional aggregate. Output
    is a single row.
    Queued for round 17 (`events_ab_conversion_ztest`, ORACLE_R17)."""
    w_user = Window.partitionBy("user_id")
    tagged = events.withColumn("first_ts", F.min("ts").over(w_user))
    per_user = tagged.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (
                    F.col("ts")
                    < F.col("first_ts") + F.expr("INTERVAL 24 HOURS")
                ),
                1,
            ).otherwise(0)
        ).alias("converted")
    )
    is_a = F.col("user_id") % 2 == 0
    agg = per_user.agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(is_a, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("conv_a"),
        F.sum(F.when(~is_a, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(~is_a, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("conv_b"),
    )
    n_a = F.col("n_a").cast("double")
    n_b = F.col("n_b").cast("double")
    p_a = F.col("conv_a").cast("double") / n_a
    p_b = F.col("conv_b").cast("double") / n_b
    p_pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    var = (p_pool * (F.lit(1.0) - p_pool)) * (
        F.lit(1.0) / n_a + F.lit(1.0) / n_b
    )
    z = (p_a - p_b) / F.sqrt(var)
    return agg.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        p_a.alias("p_a"),
        p_b.alias("p_b"),
        F.when(var > 0, z).alias("z"),
        F.when(var > 0, F.abs(z) > F.lit(Z_95))
        .otherwise(F.lit(False))
        .alias("significant"),
    )


# Round-17 promotion queue. The CUSUM mirror spells the same closed
# form (prefix sums + running mins of integer-scaled deviations) with
# the same `div` truncation on non-negative operands; the verdict is
# integer-only. The z-test mirror repeats the pooled-z expression with
# the IDENTICAL operand order, every numeric literal CAST to DOUBLE
# first (the bare-decimal-literal rule — DuckDB parses `1.96` as
# DECIMAL, one ulp off the double product).
ORACLE_R17 = {
    "events_cusum_level_shift": f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1
        ),
        g AS (
            SELECT day, cnt,
                   CAST(COUNT(*) OVER () AS BIGINT) AS n_days,
                   CAST(SUM(cnt) OVER () AS BIGINT) AS total
            FROM daily
        ),
        s AS (
            SELECT day, cnt, total,
                   SUM(cnt * n_days - total - total // {CUSUM_SLACK_DEN})
                       OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS p,
                   SUM(-(cnt * n_days - total) - total // {CUSUM_SLACK_DEN})
                       OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS q
            FROM g
        ),
        m AS (
            SELECT day, cnt, total,
                   p - LEAST(0, MIN(p) OVER (ORDER BY day
                                             ROWS UNBOUNDED PRECEDING))
                       AS cusum_pos,
                   q - LEAST(0, MIN(q) OVER (ORDER BY day
                                             ROWS UNBOUNDED PRECEDING))
                       AS cusum_neg
            FROM s
        )
        SELECT day, cnt,
               CAST(cusum_pos AS BIGINT) AS cusum_pos,
               CAST(cusum_neg AS BIGINT) AS cusum_neg,
               cusum_pos > total OR cusum_neg > total AS shift_flag
        FROM m
    """,
    "events_ab_conversion_ztest": """
        WITH tagged AS (
            SELECT user_id, event_type, ts,
                   MIN(ts) OVER (PARTITION BY user_id) AS first_ts
            FROM events
        ),
        per_user AS (
            SELECT user_id,
                   MAX(CASE WHEN event_type = 'purchase'
                             AND ts < first_ts + INTERVAL 24 HOUR
                            THEN 1 ELSE 0 END) AS converted
            FROM tagged GROUP BY 1
        ),
        agg AS (
            SELECT
                CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_a,
                CAST(SUM(CASE WHEN user_id % 2 = 0 THEN converted ELSE 0 END)
                     AS BIGINT) AS conv_a,
                CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END)
                     AS BIGINT) AS n_b,
                CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 0 ELSE converted END)
                     AS BIGINT) AS conv_b
            FROM per_user
        ),
        x AS (
            SELECT n_a, conv_a, n_b, conv_b,
                   CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
                   CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
                   CAST(conv_a + conv_b AS DOUBLE)
                       / CAST(n_a + n_b AS DOUBLE) AS p_pool
            FROM agg
        ),
        v AS (
            SELECT *,
                   (p_pool * (CAST(1.0 AS DOUBLE) - p_pool))
                       * (CAST(1.0 AS DOUBLE) / CAST(n_a AS DOUBLE)
                          + CAST(1.0 AS DOUBLE) / CAST(n_b AS DOUBLE))
                       AS var
            FROM x
        )
        SELECT n_a, conv_a, n_b, conv_b, p_a, p_b,
               CASE WHEN var > 0 THEN (p_a - p_b) / sqrt(var) END AS z,
               CASE WHEN var > 0
                    THEN abs((p_a - p_b) / sqrt(var))
                         > CAST(1.96 AS DOUBLE)
                    ELSE FALSE
               END AS significant
        FROM v
    """,
}

# Round 16: the R17 pair lands at its scheduled bound (VERDICT r15 #2,
# COVERAGE round-16 checklist #2): library + fixture tests + audited
# oracles held since round 13, parity-rehearsed at sf0.01 every round
# since; the CUSUM streaming twin has been live since r13. They take
# window slots this round (staleness at birth), displacing tail
# fillers per the re-run greedy audit.
ORACLE.update(ORACLE_R17)
QUERIES.update({
    "events_cusum_level_shift": _q(cusum_level_shift, "events"),
    "events_ab_conversion_ztest": _q(ab_conversion_ztest, "events"),
})


def price_qty_ols(lineitem: DataFrame) -> DataFrame:
    """Simple linear regression (OLS) of extended price on quantity —
    the first regression any pricing/forecast pipeline fits, here as
    a single-pass aggregate: slope, intercept, and r² from the five
    raw moments Σx, Σy, Σxy, Σx², Σy². In real TPC-H the price IS
    quantity × unit price (r² near 1); on THIS corpus's synthetic
    generator the fit reads r² ≈ 10⁻⁵ — prices are drawn independent
    of quantity — which is exactly the one-row broken-feed reading
    the op exists to give before any model trains on the column pair.

    Exactness: x is the quantity bigint, y the CENTS bigint; all five
    moments accumulate in DECIMAL(38,0) — exact and order-free where
    double sums would be run-order-dependent (Σy² ≈ 10²⁶ at 10¹²
    rows, far past both int64 and 2⁵³). The closed-form estimates
    convert each exact moment to a double once (correctly-rounded,
    verified identical across engines by the parity hash) and apply
    a fixed-order expression; slope/r² are NULL on a degenerate
    design (constant x — nothing to regress on).

    Scale shape: ONE map-side-combined aggregate over the scan;
    output is a single row.
    Queued for round 18 (`lineitem_price_qty_ols`, ORACLE_R18)."""
    x = F.col("l_quantity").cast("long")
    y = F.round(F.col("l_extendedprice") * 100).cast("long")
    dec = "decimal(38,0)"
    agg = lineitem.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x.cast(dec)).alias("sx"),
        F.sum(y.cast(dec)).alias("sy"),
        F.sum((x * y).cast(dec)).alias("sxy"),
        F.sum((x * x).cast(dec)).alias("sxx"),
        F.sum((y * y).cast(dec)).alias("syy"),
    )
    return ols_estimates(agg)


def ols_estimates(moments: DataFrame) -> DataFrame:
    """The closed-form stage of `price_qty_ols`, split out so the
    streaming twin folds its six-number moment state and applies the
    IDENTICAL estimator — stream/batch parity by construction. Input
    contract: one row with (n, sx, sy, sxy, sxx, syy), the sums in
    DECIMAL(38,0)."""
    n_d = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    num = n_d * sxy - sx * sy
    den = n_d * sxx - sx * sx
    deny = n_d * syy - sy * sy
    slope = num / den
    return moments.select(
        "n",
        F.when(den > 0, slope).alias("slope_cents_per_unit"),
        F.when(
            den > 0, (sy - slope * sx) / n_d
        ).alias("intercept_cents"),
        F.when(
            (den > 0) & (deny > 0), (num * num) / (den * deny)
        ).alias("r2"),
    )


# Round-18 promotion queue. The mirror accumulates the same five
# HUGEINT-exact moments and applies the identical fixed-order
# closed form; every moment is cast to DOUBLE exactly once.
ORACLE_R18 = {
    "lineitem_price_qty_ols": """
        WITH agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   SUM(CAST(CAST(l_quantity AS BIGINT) AS HUGEINT)) AS sx,
                   SUM(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                            AS HUGEINT)) AS sy,
                   SUM(CAST(CAST(l_quantity AS BIGINT)
                            * CAST(round(l_extendedprice * 100) AS BIGINT)
                            AS HUGEINT)) AS sxy,
                   SUM(CAST(CAST(l_quantity AS BIGINT)
                            * CAST(l_quantity AS BIGINT) AS HUGEINT)) AS sxx,
                   SUM(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                            * CAST(round(l_extendedprice * 100) AS BIGINT)
                            AS HUGEINT)) AS syy
            FROM lineitem
        )
        SELECT n,
               CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                    THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               END AS slope_cents_per_unit,
               CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                    THEN (CAST(sy AS DOUBLE)
                          - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                            * CAST(sx AS DOUBLE))
                         / CAST(n AS DOUBLE)
               END AS intercept_cents,
               CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                     AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
                    THEN ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                          * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
                         / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
               END AS r2
        FROM agg
    """,
}


SURVIVAL_HORIZON_DAYS = 14


def activation_survival(
    events: DataFrame, horizon_days: int = SURVIVAL_HORIZON_DAYS
) -> DataFrame:
    """Kaplan-Meier time-to-activation curve: for each day t since a
    user's first-seen event, the estimated probability they have NOT
    yet made their first purchase — with users whose observation
    window ends before day t right-CENSORED, which is the whole point
    of KM over a naive conversion-by-day histogram: late cohorts
    haven't had time to convert, and counting them as non-converters
    biases every day's rate down. The z-test op answers "did variant
    B activate more?"; this answers "WHEN does activation happen" —
    the retention/LTV modeling input.

    Exactness: event and censor times are exact integer day offsets
    (microsecond arithmetic, integer div); the at-risk counts are a
    suffix sum over the ≤horizon-row day table; each hazard factor
    (n_t − d_t)/n_t is one division; and the survival prefix product
    is a SEQUENTIAL TIME-ORDERED fold of those factors (collect_list
    over the day-ordered running window + F.aggregate ≡ windowed
    list + list_reduce) — deterministic on both engines, no
    logarithm/exp detour.

    Scale shape: one user-grain exchange builds (time, event) per
    user (first-seen window + groupBy share the user_id shuffle; the
    observation end is a 1-row broadcast normalizer); everything
    after runs on the ≤horizon+1-row day table.
    Queued for round 18 (`users_activation_survival`, ORACLE_R18)."""
    w_user = Window.partitionBy("user_id")
    # ts is TIMESTAMP_NTZ; unix_micros needs TIMESTAMP — the session
    # timezone is pinned UTC, so the cast is a stable bijection
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    tagged = events.withColumn("first_us", F.min(us).over(w_user))
    per_user = tagged.groupBy("user_id").agg(
        F.min("first_us").alias("first_us"),
        F.min(
            F.when(F.col("event_type") == "purchase", us)
        ).alias("purchase_us"),
    )
    obs_end = events.agg(F.max(us).alias("end_us"))
    return survival_report(per_user, obs_end, horizon_days)


def survival_report(
    per_user: DataFrame, obs_end: DataFrame, horizon_days: int
) -> DataFrame:
    """The KM stage of `activation_survival`, split out so the
    streaming twin folds its (user, first_us, purchase_us) state and
    applies the IDENTICAL estimator — stream/batch parity by
    construction. Input contract: one row per user (first_us,
    purchase_us nullable), plus a 1-row obs_end(end_us)."""
    day_us = 86_400_000_000
    # 1-row observation-end normalizer
    pu = per_user.crossJoin(F.broadcast(obs_end))
    t_event = F.expr(f"(purchase_us - first_us) div {day_us}").cast("long")
    t_cens = F.expr(f"(end_us - first_us) div {day_us}").cast("long")
    h = F.lit(int(horizon_days)).cast("long")
    converted = F.col("purchase_us").isNotNull() & (t_event <= F.least(t_cens, h))
    pu = pu.select(
        F.when(converted, t_event)
        .otherwise(F.least(t_cens, h))
        .alias("t_days"),
        converted.cast("int").alias("event"),
    )
    table = pu.groupBy("t_days").agg(
        F.sum("event").cast("long").alias("d_events"),
        F.sum(F.lit(1) - F.col("event")).cast("long").alias("c_censored"),
    )
    w_suffix = Window.orderBy("t_days").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    table = table.withColumn(
        "n_at_risk",
        F.sum(F.col("d_events") + F.col("c_censored")).over(w_suffix)
        .cast("long"),
    )
    factor = (
        F.col("n_at_risk") - F.col("d_events")
    ).cast("double") / F.col("n_at_risk").cast("double")
    w_run = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        table.withColumn("factors", F.collect_list(factor).over(w_run))
        .select(
            "t_days",
            "n_at_risk",
            "d_events",
            "c_censored",
            F.aggregate(
                F.col("factors"), F.lit(1.0), lambda acc, x: acc * x
            ).alias("survival"),
        )
    )


ORACLE_R18.update({
    "users_activation_survival": f"""
        WITH tagged AS (
            SELECT user_id, event_type,
                   epoch_us(ts) AS us,
                   MIN(epoch_us(ts)) OVER (PARTITION BY user_id)
                       AS first_us
            FROM events
        ),
        per_user AS (
            SELECT user_id, MIN(first_us) AS first_us,
                   MIN(CASE WHEN event_type = 'purchase' THEN us END)
                       AS purchase_us
            FROM tagged GROUP BY 1
        ),
        obs AS (SELECT MAX(epoch_us(ts)) AS end_us FROM events),
        pu AS (
            SELECT CASE WHEN purchase_us IS NOT NULL
                         AND (purchase_us - first_us) // 86400000000
                             <= LEAST((end_us - first_us) // 86400000000,
                                      {SURVIVAL_HORIZON_DAYS})
                        THEN (purchase_us - first_us) // 86400000000
                        ELSE LEAST((end_us - first_us) // 86400000000,
                                   {SURVIVAL_HORIZON_DAYS})
                   END AS t_days,
                   CASE WHEN purchase_us IS NOT NULL
                         AND (purchase_us - first_us) // 86400000000
                             <= LEAST((end_us - first_us) // 86400000000,
                                      {SURVIVAL_HORIZON_DAYS})
                        THEN 1 ELSE 0
                   END AS event
            FROM per_user CROSS JOIN obs
        ),
        t AS (
            SELECT t_days,
                   CAST(SUM(event) AS BIGINT) AS d_events,
                   CAST(SUM(1 - event) AS BIGINT) AS c_censored
            FROM pu GROUP BY 1
        ),
        r AS (
            SELECT *,
                   CAST(SUM(d_events + c_censored)
                            OVER (ORDER BY t_days
                                  ROWS BETWEEN CURRENT ROW
                                  AND UNBOUNDED FOLLOWING) AS BIGINT)
                       AS n_at_risk
            FROM t
        )
        SELECT CAST(t_days AS BIGINT) AS t_days, n_at_risk, d_events,
               c_censored,
               list_reduce(
                   list_prepend(CAST(1.0 AS DOUBLE),
                       list(CAST(n_at_risk - d_events AS DOUBLE)
                            / CAST(n_at_risk AS DOUBLE))
                           OVER (ORDER BY t_days
                                 ROWS UNBOUNDED PRECEDING)),
                   (a, b) -> a * b) AS survival
        FROM r
    """,
})


# The permutation-rank Mann-Whitney refuses corpora past this size:
# its global rank window puts every observation through ONE task (the
# quality_length_spearman guard playbook — VERDICT r13 #5's class,
# caught here by the queued-op window audit before promotion).
MANNWHITNEY_EXACT_MAX_ROWS = 5_000_000


def ab_value_mannwhitney(
    events: DataFrame, max_rows: int = MANNWHITNEY_EXACT_MAX_ROWS
) -> DataFrame:
    """Mann-Whitney U test on event values between the two halves of
    the user_id mod 2 split — the nonparametric companion to the
    activation z-test: proportions answer "did more convert", this
    answers "did the VALUE distribution shift" without assuming
    normality (one whale in variant B wrecks a t-test; ranks don't
    care). Permutation-rank variant: global ranks are row_numbers
    with an event_id tie-break (deterministic on both engines; equal
    to classic midrank MW whenever values are tie-free, which
    continuous values are a.s.), U = R_a − n_a(n_a+1)/2, and z is the
    standard normal approximation — valid at the n this op is for.

    Exactness: ranks are exact integers; the rank sum accumulates in
    DECIMAL(38,0) (Σranks ~ n² overflows bigint past n ≈ 3·10⁹); U,
    the mean n_a·n_b/2 and variance n_a·n_b(n+1)/12 convert to
    doubles in fixed operand order; z is NULL when either variant is
    empty (nothing to compare).

    Scale shape: one global rank sort — ONE task holding every
    observation, which is why this op is GUARDED at `max_rows` (one
    column-pruned count): past the cap it refuses and names
    `ab_value_mannwhitney_histogram`, the exact classic-midrank form
    whose only windows run over the VALUE histogram. Queued for
    round 18 (`events_ab_mannwhitney`, ORACLE_R18)."""
    d = events.filter(F.col("value").isNotNull()).select(
        "event_id", "user_id", "value"
    )
    # Guard on the FILTERED relation the rank window actually consumes
    # (ADVICE r14 #2: counting raw events refuses a mostly-null corpus
    # whose windowed payload is well under the cap).
    n_in = d.count()
    if n_in > max_rows:
        raise ValueError(
            f"ab_value_mannwhitney computes exact permutation ranks "
            f"via a total-order window and is capped at {max_rows} "
            f"non-null-value rows (got {n_in}). Use "
            "ab_value_mannwhitney_histogram — classic midrank MW with "
            "tie-corrected variance, computed from the value histogram "
            "with no row-grain window — or pre-sample below the cap."
        )
    w = Window.orderBy("value", "event_id")
    ranked = d.withColumn("r", F.row_number().over(w).cast("long"))
    is_a = F.col("user_id") % 2 == 0
    dec = "decimal(38,0)"
    agg = ranked.agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(~is_a, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(is_a, F.col("r")).otherwise(0).cast(dec)).alias("ra"),
    )
    n_a = F.col("n_a").cast("double")
    n_b = F.col("n_b").cast("double")
    u_a = F.col("ra").cast("double") - (n_a * (n_a + F.lit(1.0))) / F.lit(
        2.0
    )
    mu = (n_a * n_b) / F.lit(2.0)
    var = (n_a * n_b * (n_a + n_b + F.lit(1.0))) / F.lit(12.0)
    z = (u_a - mu) / F.sqrt(var)
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return agg.select(
        "n_a",
        "n_b",
        F.when(ok, u_a).alias("u_a"),
        F.when(ok, z).alias("z"),
        F.when(ok, F.abs(z) > F.lit(Z_95))
        .otherwise(F.lit(False))
        .alias("significant"),
    )


def ab_value_mannwhitney_histogram(events: DataFrame) -> DataFrame:
    """Classic midrank Mann-Whitney from the (value, variant)
    HISTOGRAM — the 100 TB path the permutation op's guard names.
    Every quantity MW actually needs is a histogram functional:
    the midrank of a tied run is before + (t+1)/2, so
    ΣR_a = Σ_v a(v)·(2·before(v) + t(v) + 1) / 2 — accumulated as
    the INTEGER 2·ΣR_a in DECIMAL(38,0), exact for any corpus — and
    the tie-corrected variance term Σ(t³−t) is another exact decimal
    sum over the same relation. With tie-free values this equals the
    permutation-rank op exactly (midrank = the unique rank); with
    ties it is the TEXTBOOK statistic (the permutation form's
    event_id tie-break is the approximation, not this).

    Scale shape: one map-side-combined shuffle to the value histogram
    (micros-granular money domain — the customer_balance_deciles
    boundedness argument), ONE cumulative window over that histogram,
    a 1-row aggregate. No row-grain window, no total-order sort of
    observations. z is NULL when a variant is empty or every value is
    tied (zero variance — nothing to rank)."""
    is_a = F.col("user_id") % 2 == 0
    d = events.filter(F.col("value").isNotNull()).select(
        "value", is_a.alias("in_a")
    )
    hist = d.groupBy("value").agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0))
        .cast("long")
        .alias("a_cnt"),
        F.count(F.lit(1)).cast("long").alias("t"),
    )
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
    h = hist.withColumn(
        "before", F.coalesce(F.sum("t").over(w), F.lit(0)).cast("long")
    )
    dec = "decimal(38,0)"
    agg = h.agg(
        F.sum("a_cnt").cast("long").alias("n_a"),
        F.sum(F.col("t") - F.col("a_cnt")).cast("long").alias("n_b"),
        F.sum(
            (
                F.col("a_cnt")
                * (F.lit(2) * F.col("before") + F.col("t") + F.lit(1))
            ).cast(dec)
        ).alias("ra2"),
        F.sum(
            (F.col("t") * F.col("t") * F.col("t") - F.col("t")).cast(dec)
        ).alias("tie3"),
    )
    n_a = F.col("n_a").cast("double")
    n_b = F.col("n_b").cast("double")
    n = n_a + n_b
    u_a = F.col("ra2").cast("double") / F.lit(2.0) - (
        n_a * (n_a + F.lit(1.0))
    ) / F.lit(2.0)
    mu = (n_a * n_b) / F.lit(2.0)
    var = (n_a * n_b) / F.lit(12.0) * (
        (n + F.lit(1.0))
        - F.col("tie3").cast("double") / (n * (n - F.lit(1.0)))
    )
    z = (u_a - mu) / F.sqrt(var)
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0) & (var > 0)
    return agg.select(
        "n_a",
        "n_b",
        F.when(ok, u_a).alias("u_a"),
        F.when(ok, z).alias("z"),
        F.when(ok, F.abs(z) > F.lit(Z_95))
        .otherwise(F.lit(False))
        .alias("significant"),
    )


CHI2_95_DOF1 = 3.841458820694124  # qchisq(.95, 1), fixed literal


def ab_srm_check(events: DataFrame) -> DataFrame:
    """Sample-ratio-mismatch guard — the FIRST check any experiment
    readout must pass: under a healthy 50/50 assignment the user
    counts in the two variants differ only by chance, and a χ²(1)
    statistic above the 3.84 critical value means the randomization
    or logging is broken — in which case every downstream metric
    (the z-test, the Mann-Whitney, the survival curves) is reporting
    on a biased population and must not be read. Output: the two
    user counts, χ², and the verdict.

    Exactness: counts are exact bigints off one user-grain exchange;
    e = n/2 and χ² = (n_a−e)²/e + (n_b−e)²/e are fixed-order double
    expressions; the critical value is a fixed literal on both
    engines (no CDF evaluation anywhere). χ² is NULL on an empty
    table. Queued for round 18 (`events_ab_srm_check`, ORACLE_R18)."""
    per_user = events.select("user_id").distinct()
    is_a = F.col("user_id") % 2 == 0
    agg = per_user.agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(~is_a, 1).otherwise(0)).cast("long").alias("n_b"),
    )
    n_a = F.col("n_a").cast("double")
    n_b = F.col("n_b").cast("double")
    e = (n_a + n_b) / F.lit(2.0)
    chi2 = ((n_a - e) * (n_a - e)) / e + ((n_b - e) * (n_b - e)) / e
    return agg.select(
        "n_a",
        "n_b",
        F.when(e > 0, chi2).alias("chi2"),
        F.when(e > 0, chi2 > F.lit(CHI2_95_DOF1))
        .otherwise(F.lit(False))
        .alias("srm_suspect"),
    )


ORACLE_R18.update({
    "events_ab_mannwhitney": """
        WITH d AS (
            SELECT event_id, user_id, value FROM events
            WHERE value IS NOT NULL
        ),
        r AS (
            SELECT user_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY value, event_id)
                        AS BIGINT) AS r
            FROM d
        ),
        agg AS (
            SELECT CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_a,
                   CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END)
                        AS BIGINT) AS n_b,
                   SUM(CAST(CASE WHEN user_id % 2 = 0 THEN r ELSE 0 END
                            AS HUGEINT)) AS ra
            FROM r
        )
        SELECT n_a, n_b,
               CASE WHEN n_a > 0 AND n_b > 0
                    THEN CAST(ra AS DOUBLE)
                         - (CAST(n_a AS DOUBLE)
                            * (CAST(n_a AS DOUBLE) + 1.0)) / 2.0
               END AS u_a,
               CASE WHEN n_a > 0 AND n_b > 0
                    THEN ((CAST(ra AS DOUBLE)
                           - (CAST(n_a AS DOUBLE)
                              * (CAST(n_a AS DOUBLE) + 1.0)) / 2.0)
                          - (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
                            / 2.0)
                         / sqrt((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                                 * (CAST(n_a AS DOUBLE)
                                    + CAST(n_b AS DOUBLE) + 1.0)) / 12.0)
               END AS z,
               CASE WHEN n_a > 0 AND n_b > 0
                    THEN abs(((CAST(ra AS DOUBLE)
                               - (CAST(n_a AS DOUBLE)
                                  * (CAST(n_a AS DOUBLE) + 1.0)) / 2.0)
                              - (CAST(n_a AS DOUBLE)
                                 * CAST(n_b AS DOUBLE)) / 2.0)
                             / sqrt((CAST(n_a AS DOUBLE)
                                     * CAST(n_b AS DOUBLE)
                                     * (CAST(n_a AS DOUBLE)
                                        + CAST(n_b AS DOUBLE) + 1.0))
                                    / 12.0))
                         > CAST(1.96 AS DOUBLE)
                    ELSE FALSE
               END AS significant
        FROM agg
    """,
    "events_ab_srm_check": """
        WITH u AS (SELECT DISTINCT user_id FROM events),
        agg AS (
            SELECT CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_a,
                   CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END)
                        AS BIGINT) AS n_b
            FROM u
        )
        SELECT n_a, n_b,
               CASE WHEN (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) / 2.0
                         > 0
                    THEN ((CAST(n_a AS DOUBLE)
                           - (CAST(n_a AS DOUBLE)
                              + CAST(n_b AS DOUBLE)) / 2.0)
                          * (CAST(n_a AS DOUBLE)
                             - (CAST(n_a AS DOUBLE)
                                + CAST(n_b AS DOUBLE)) / 2.0))
                         / ((CAST(n_a AS DOUBLE)
                             + CAST(n_b AS DOUBLE)) / 2.0)
                         + ((CAST(n_b AS DOUBLE)
                             - (CAST(n_a AS DOUBLE)
                                + CAST(n_b AS DOUBLE)) / 2.0)
                            * (CAST(n_b AS DOUBLE)
                               - (CAST(n_a AS DOUBLE)
                                  + CAST(n_b AS DOUBLE)) / 2.0))
                           / ((CAST(n_a AS DOUBLE)
                               + CAST(n_b AS DOUBLE)) / 2.0)
               END AS chi2,
               CASE WHEN (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) / 2.0
                         > 0
                    THEN (((CAST(n_a AS DOUBLE)
                            - (CAST(n_a AS DOUBLE)
                               + CAST(n_b AS DOUBLE)) / 2.0)
                           * (CAST(n_a AS DOUBLE)
                              - (CAST(n_a AS DOUBLE)
                                 + CAST(n_b AS DOUBLE)) / 2.0))
                          / ((CAST(n_a AS DOUBLE)
                              + CAST(n_b AS DOUBLE)) / 2.0)
                          + ((CAST(n_b AS DOUBLE)
                              - (CAST(n_a AS DOUBLE)
                                 + CAST(n_b AS DOUBLE)) / 2.0)
                             * (CAST(n_b AS DOUBLE)
                                - (CAST(n_a AS DOUBLE)
                                   + CAST(n_b AS DOUBLE)) / 2.0))
                            / ((CAST(n_a AS DOUBLE)
                                + CAST(n_b AS DOUBLE)) / 2.0))
                         > CAST('3.841458820694124' AS DOUBLE)
                    ELSE FALSE
               END AS srm_suspect
        FROM agg
    """,
})


KS_C_95 = 1.3581015157406195  # sqrt(-ln(.025)/2), fixed literal


def ab_value_ks_test(events: DataFrame) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test on event values between the
    user_id mod 2 variants — the SHAPE-sensitive member of the
    toolkit: the z-test sees proportions, Mann-Whitney sees location,
    KS sees ANY distribution difference (variance inflation, a new
    mode, a truncated tail) because the statistic is the largest gap
    between the two empirical CDFs. D = max_v |F_a(v) − F_b(v)|,
    evaluated at VALUE grain so cross-variant ties are handled
    exactly (both ECDFs step together at a shared value — no
    tie-break perturbation at all).

    Exactness: per-value counts and their running sums are exact
    integers; the gap numerator |cum_a·n_b − cum_b·n_a| accumulates
    in DECIMAL(38,0) (cum·n ~ n² overflows bigint past ~3·10⁹ rows);
    D is ONE division of the exact max; the α=.05 critical value
    c·√((n_a+n_b)/(n_a·n_b)) uses the fixed literal c = √(−ln(.025)/2)
    precomputed in Python (no transcendental at query time — the
    Benford discipline). NULL when either variant is empty.

    Scale shape: one map-side-combined value-grain aggregate, one
    value-ordered running window, one 1-row max. The global window
    is the honest exact-ECDF cost, as in the Spearman/MW sorts.
    Queued for round 19 (`events_ab_ks_test`, ORACLE_R19)."""
    d = events.filter(F.col("value").isNotNull()).select(
        "user_id", "value"
    )
    is_a = F.col("user_id") % 2 == 0
    per_value = d.groupBy("value").agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("long").alias("a_cnt"),
        F.sum(F.when(~is_a, 1).otherwise(0)).cast("long").alias("b_cnt"),
    )
    run = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dec = "decimal(38,0)"
    cum = per_value.select(
        F.sum("a_cnt").over(run).cast(dec).alias("cum_a"),
        F.sum("b_cnt").over(run).cast(dec).alias("cum_b"),
    )
    totals = per_value.agg(
        F.sum("a_cnt").cast("long").alias("n_a"),
        F.sum("b_cnt").cast("long").alias("n_b"),
    )
    # 1-row totals normalizer
    gaps = cum.crossJoin(F.broadcast(totals)).select(
        F.abs(
            F.col("cum_a") * F.col("n_b").cast(dec)
            - F.col("cum_b") * F.col("n_a").cast(dec)
        ).alias("gap"),
        "n_a",
        "n_b",
    )
    agg = gaps.groupBy("n_a", "n_b").agg(F.max("gap").alias("d_num"))
    n_a = F.col("n_a").cast("double")
    n_b = F.col("n_b").cast("double")
    d_stat = F.col("d_num").cast("double") / (n_a * n_b)
    crit = F.lit(KS_C_95) * F.sqrt((n_a + n_b) / (n_a * n_b))
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return agg.select(
        "n_a",
        "n_b",
        F.when(ok, d_stat).alias("d_stat"),
        F.when(ok, crit).alias("ks_crit"),
        F.when(ok, d_stat > crit)
        .otherwise(F.lit(False))
        .alias("significant"),
    )


# Round-19 promotion queue (the toolkit's shape-sensitive member).
ORACLE_R19 = {
    "events_ab_ks_test": """
        WITH d AS (
            SELECT user_id, value FROM events WHERE value IS NOT NULL
        ),
        pv AS (
            SELECT value,
                   CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS a_cnt,
                   CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END)
                        AS BIGINT) AS b_cnt
            FROM d GROUP BY 1
        ),
        tot AS (
            SELECT CAST(SUM(a_cnt) AS BIGINT) AS n_a,
                   CAST(SUM(b_cnt) AS BIGINT) AS n_b
            FROM pv
        ),
        cum AS (
            SELECT CAST(SUM(a_cnt) OVER w AS HUGEINT) AS cum_a,
                   CAST(SUM(b_cnt) OVER w AS HUGEINT) AS cum_b
            FROM pv
            WINDOW w AS (ORDER BY value ROWS UNBOUNDED PRECEDING)
        ),
        agg AS (
            SELECT t.n_a, t.n_b,
                   MAX(ABS(c.cum_a * CAST(t.n_b AS HUGEINT)
                           - c.cum_b * CAST(t.n_a AS HUGEINT))) AS d_num
            FROM cum c CROSS JOIN tot t
            GROUP BY t.n_a, t.n_b
        )
        SELECT n_a, n_b,
               CASE WHEN n_a > 0 AND n_b > 0
                    THEN CAST(d_num AS DOUBLE)
                         / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
               END AS d_stat,
               CASE WHEN n_a > 0 AND n_b > 0
                    THEN CAST('1.3581015157406195' AS DOUBLE)
                         * sqrt((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                                / (CAST(n_a AS DOUBLE)
                                   * CAST(n_b AS DOUBLE)))
               END AS ks_crit,
               CASE WHEN n_a > 0 AND n_b > 0
                    THEN CAST(d_num AS DOUBLE)
                         / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
                         > CAST('1.3581015157406195' AS DOUBLE)
                           * sqrt((CAST(n_a AS DOUBLE)
                                   + CAST(n_b AS DOUBLE))
                                  / (CAST(n_a AS DOUBLE)
                                     * CAST(n_b AS DOUBLE)))
                    ELSE FALSE
               END AS significant
        FROM agg
    """,
}


def ab_value_effect_size(events: DataFrame) -> DataFrame:
    """Cohen's d between the variants' value distributions — the
    EFFECT-SIZE companion to the significance tests: at a million
    users everything is "significant"; d says whether the shift is
    worth shipping (0.2 small / 0.5 medium / 0.8 large, the standard
    benchmarks). d = (mean_b − mean_a) / pooled_sd with the
    (n−1)-weighted pooled variance.

    Exactness: values are quantized to MICROS bigints first (the
    cents trick one unit down), so Σv and Σv² accumulate in
    DECIMAL(38,0) — exact and order-free where double sums are
    run-order-dependent — and the means/variances are fixed-order
    double expressions over those exact moments (divided back by 10⁶
    and 10¹² respectively). NULL when either variant has < 2 values
    or the pooled variance is 0.

    Scale shape: one 1-row conditional aggregate over the scan —
    six moments per variant, no shuffle beyond the map-side combine.
    Queued for round 19 (`events_ab_effect_size`, ORACLE_R19)."""
    d = events.filter(F.col("value").isNotNull())
    v = F.round(F.col("value") * 1_000_000).cast("long")
    is_a = F.col("user_id") % 2 == 0
    dec = "decimal(38,0)"
    agg = d.agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(~is_a, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(is_a, v).otherwise(0).cast(dec)).alias("s_a"),
        F.sum(F.when(~is_a, v).otherwise(0).cast(dec)).alias("s_b"),
        F.sum(F.when(is_a, v * v).otherwise(0).cast(dec)).alias("ss_a"),
        F.sum(F.when(~is_a, v * v).otherwise(0).cast(dec)).alias("ss_b"),
    )
    micro = F.lit(1_000_000.0)
    n_a = F.col("n_a").cast("double")
    n_b = F.col("n_b").cast("double")
    mean_a = (F.col("s_a").cast("double") / n_a) / micro
    mean_b = (F.col("s_b").cast("double") / n_b) / micro
    var_a = (
        (F.col("ss_a").cast("double") - (F.col("s_a").cast("double") * F.col("s_a").cast("double")) / n_a)
        / (n_a - F.lit(1.0))
    ) / (micro * micro)
    var_b = (
        (F.col("ss_b").cast("double") - (F.col("s_b").cast("double") * F.col("s_b").cast("double")) / n_b)
        / (n_b - F.lit(1.0))
    ) / (micro * micro)
    pooled = (
        (n_a - F.lit(1.0)) * var_a + (n_b - F.lit(1.0)) * var_b
    ) / (n_a + n_b - F.lit(2.0))
    ok = (F.col("n_a") > 1) & (F.col("n_b") > 1)
    dd = (mean_b - mean_a) / F.sqrt(pooled)
    return agg.select(
        "n_a",
        "n_b",
        F.when(F.col("n_a") > 0, mean_a).alias("mean_a"),
        F.when(F.col("n_b") > 0, mean_b).alias("mean_b"),
        F.when(ok & (pooled > 0), dd).alias("cohens_d"),
    )


ORACLE_R19.update({
    "events_ab_effect_size": """
        WITH d AS (
            SELECT user_id,
                   CAST(round(value * 1000000) AS BIGINT) AS v
            FROM events WHERE value IS NOT NULL
        ),
        agg AS (
            SELECT
                CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_a,
                CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END)
                     AS BIGINT) AS n_b,
                SUM(CAST(CASE WHEN user_id % 2 = 0 THEN v ELSE 0 END
                         AS HUGEINT)) AS s_a,
                SUM(CAST(CASE WHEN user_id % 2 = 0 THEN 0 ELSE v END
                         AS HUGEINT)) AS s_b,
                SUM(CAST(CASE WHEN user_id % 2 = 0 THEN v * v ELSE 0 END
                         AS HUGEINT)) AS ss_a,
                SUM(CAST(CASE WHEN user_id % 2 = 0 THEN 0 ELSE v * v END
                         AS HUGEINT)) AS ss_b
            FROM d
        ),
        x AS (
            SELECT n_a, n_b,
                   (CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)) / 1000000.0
                       AS mean_a,
                   (CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / 1000000.0
                       AS mean_b,
                   ((CAST(ss_a AS DOUBLE)
                     - (CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE))
                       / CAST(n_a AS DOUBLE))
                    / (CAST(n_a AS DOUBLE) - 1.0))
                       / (1000000.0 * 1000000.0) AS var_a,
                   ((CAST(ss_b AS DOUBLE)
                     - (CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE))
                       / CAST(n_b AS DOUBLE))
                    / (CAST(n_b AS DOUBLE) - 1.0))
                       / (1000000.0 * 1000000.0) AS var_b
            FROM agg
        ),
        p AS (
            SELECT *,
                   ((CAST(n_a AS DOUBLE) - 1.0) * var_a
                    + (CAST(n_b AS DOUBLE) - 1.0) * var_b)
                   / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2.0)
                       AS pooled
            FROM x
        )
        SELECT n_a, n_b,
               CASE WHEN n_a > 0 THEN mean_a END AS mean_a,
               CASE WHEN n_b > 0 THEN mean_b END AS mean_b,
               CASE WHEN n_a > 1 AND n_b > 1 AND pooled > 0
                    THEN (mean_b - mean_a) / sqrt(pooled)
               END AS cohens_d
        FROM p
    """,
})


UPLIFT_DECILES = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)


def ab_quantile_uplift(events: DataFrame) -> DataFrame:
    """Per-segment, per-decile treatment effect on event values — the
    readout that tells you WHERE in the distribution the treatment
    acts: a mean shift (Cohen's d) can't distinguish "everyone +5%"
    from "the top decile +50%, the median untouched", and those ship
    very different features. For each event type and decile 0.1..0.9,
    the exact control and treatment quantiles (user_id mod 2 split)
    and their difference.

    Exactness: percentile_disc — DISCRETE selection, so every
    quantile is an ACTUAL data value and bit-matches any engine (the
    interpolated variant mixes doubles in engine-specific order; the
    `value_percentiles_by_type` rule); uplift is one subtraction of
    exact values. NULL quantiles (an empty variant within a segment)
    propagate to NULL uplift.

    Scale shape: ONE partial-agg shuffle on event_type; all 18
    selections ride the same grouped sorted multiset (the grouped-
    summary envelope — for unbounded groups switch to the KLL
    variant); the decile unpivot is an inline array explode on the
    |types|-row result.
    Queued for round 19 (`events_ab_quantile_uplift`, ORACLE_R19)."""
    d = events.filter(F.col("value").isNotNull())

    def q(p: float, variant: int) -> Column:
        return F.expr(
            f"percentile_disc({p}) WITHIN GROUP (ORDER BY value) "
            f"FILTER (WHERE user_id % 2 = {variant})"
        )

    agg = d.groupBy("event_type").agg(
        *[q(p, 0).alias(f"a{i}") for i, p in enumerate(UPLIFT_DECILES)],
        *[q(p, 1).alias(f"b{i}") for i, p in enumerate(UPLIFT_DECILES)],
    )
    rows = agg.select(
        "event_type",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).alias("decile"),
                        F.col(f"a{i}").alias("q_a"),
                        F.col(f"b{i}").alias("q_b"),
                    )
                    for i, p in enumerate(UPLIFT_DECILES)
                ]
            )
        ).alias("s"),
    )
    return rows.select(
        "event_type",
        F.col("s.decile").alias("decile"),
        F.col("s.q_a").alias("q_a"),
        F.col("s.q_b").alias("q_b"),
        (F.col("s.q_b") - F.col("s.q_a")).alias("uplift"),
    )


_UPLIFT_BRANCH = " UNION ALL ".join(
    f"""SELECT event_type, CAST({p!r} AS DOUBLE) AS decile,
        percentile_disc({p!r}) WITHIN GROUP (ORDER BY value)
            FILTER (WHERE user_id % 2 = 0) AS q_a,
        percentile_disc({p!r}) WITHIN GROUP (ORDER BY value)
            FILTER (WHERE user_id % 2 = 1) AS q_b
        FROM d GROUP BY event_type"""
    for p in UPLIFT_DECILES
)

ORACLE_R19.update({
    "events_ab_quantile_uplift": f"""
        WITH d AS (
            SELECT event_type, user_id, value FROM events
            WHERE value IS NOT NULL
        ),
        u AS ({_UPLIFT_BRANCH})
        SELECT event_type, decile, q_a, q_b, q_b - q_a AS uplift
        FROM u
    """,
})


# Benjamini–Hochberg step-up machinery: two-sided z critical values
# for every (m, k) the procedure can need, computed ONCE in Python at
# import (stdlib statistics.NormalDist — no scipy) and embedded as the
# SAME string-form double literals on both engines (the NDCG_DISCOUNTS
# discipline: no transcendental runs at query time on either side, so
# the decision column hash-certifies exactly). BH on two-sided z-tests
# needs no p-values at all: p_i = 2(1 − Φ(|z_i|)) is monotone
# decreasing in |z_i|, so "sort p ascending" is "sort |z| descending"
# and the step-up test p_(k) ≤ k·q/m is |z|_(k) ≥ Φ⁻¹(1 − k·q/(2m)).
FDR_Q_NUM = 1
FDR_Q_DEN = 20  # q = 0.05
BH_MAX_M = 16  # event-type dictionaries are far smaller
import statistics as _stats  # noqa: E402  (stdlib; import-time only)

BH_CRIT = {
    m * 100 + k: _stats.NormalDist().inv_cdf(
        1.0 - (k * FDR_Q_NUM) / (2.0 * m * FDR_Q_DEN)
    )
    for m in range(1, BH_MAX_M + 1)
    for k in range(1, m + 1)
}


def ab_fdr_bh(events: DataFrame) -> DataFrame:
    """Per-event-type A/B incidence z-tests with Benjamini–Hochberg
    FDR control — the multiple-testing step every experiment readout
    needs once it reports more than one metric: five event types give
    five hypotheses, and at α=0.05 a naive per-test verdict
    manufactures a significant finding from pure noise roughly one
    experiment in four. BH (step-up at q = FDR_Q) bounds the expected
    FALSE-DISCOVERY share among the rejected set, the standard
    middle ground between nothing and Bonferroni.

    Per event type t: the unit of analysis is the USER (the
    ab_conversion_ztest rule), the metric is 24-HOUR ACTIVATION on
    that type — did the user emit ≥1 event of type t within 24h of
    their first observed event (the ztest's time-bounded metric
    generalized per type; unbounded ever-did-it incidence saturates
    to p̂ = 1 for every type on any long-lived corpus and tests
    nothing) — and the statistic is the classic pooled two-proportion
    z between the deterministic arms user_id % 2. Types with zero
    pooled variance (all or no users activate on the type) are
    untestable: z is NULL, they are EXCLUDED from m, and they can
    never be rejected. The BH step-up then runs rank-wise on
    |z| descending (event_type tie-break): k* = max{k : |z|_(k) ≥
    crit(k, m)} and every rank ≤ k* rejects.

    Exactness: the four counts are exact bigints; z is the identical
    fixed-order double expression on both engines (the ztest
    discipline); crit(k, m) is a shared string-form double literal;
    so rank, flag, k* and the rejected verdict are all engine-exact.

    Scale shape: ONE map-side-combined shuffle to (user, type) grain
    — the pair min-timestamp relation, from which the per-user first
    timestamp, the arm populations, the type dictionary, AND the
    activation set all derive (the fold the streaming twin persists:
    min is idempotent and commutative, so the same report stage runs
    live over the folded state — stream/batch parity by shared code);
    then a type-grain conditional aggregate joined to the 1-row
    arm-population normalizer, ONE partition-less rank window over
    the |event types|-row relation (dictionary-bounded by
    construction — the allowlist class) and a 1-row k* normalizer.
    Nothing after the first aggregate scales with row count.
    Queued for round 19 (`events_ab_fdr_bh`, ORACLE_R19)."""
    pair_mins = events.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("min_ts")
    )
    return fdr_bh_report(pair_mins)


def fdr_bh_report(pair_mins: DataFrame) -> DataFrame:
    """The BH stage of `ab_fdr_bh`, split out so the streaming twin
    folds its (user_id, event_type, min_ts) state and applies the
    IDENTICAL screen — stream/batch parity by construction (the
    cusum_report pattern). Input contract: one row per (user, type)
    pair ever observed, carrying the pair's MINIMUM event timestamp;
    a user's first-seen timestamp and 24h activation set both derive
    from it exactly."""
    is_a = F.col("user_id") % 2 == 0
    user_min = pair_mins.groupBy("user_id").agg(
        F.min("min_ts").alias("first_ts")
    )
    pop = user_min.agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(~is_a, 1).otherwise(0)).cast("long").alias("n_b"),
    )
    ut = (
        pair_mins.join(user_min, "user_id")
        .filter(
            F.col("min_ts") < F.col("first_ts") + F.expr("INTERVAL 24 HOURS")
        )
        .select("user_id", "event_type")
    )
    # LEFT join from the full type dictionary: a type nobody activates
    # on must surface as an untestable 0/0 row, not vanish (the
    # threshold_yield_curve zero-preservation rule)
    conv = pair_mins.select("event_type").distinct().join(
        ut.groupBy("event_type").agg(
            F.sum(F.when(is_a, 1).otherwise(0)).cast("long").alias("conv_a"),
            F.sum(F.when(~is_a, 1).otherwise(0)).cast("long").alias("conv_b"),
        ),
        "event_type",
        "left",
    ).select(
        "event_type",
        F.coalesce("conv_a", F.lit(0)).cast("long").alias("conv_a"),
        F.coalesce("conv_b", F.lit(0)).cast("long").alias("conv_b"),
    )
    # 1-row normalizer — the bounded crossJoin idiom
    base = conv.crossJoin(F.broadcast(pop))
    n_a = F.col("n_a").cast("double")
    n_b = F.col("n_b").cast("double")
    p_a = F.col("conv_a").cast("double") / n_a
    p_b = F.col("conv_b").cast("double") / n_b
    p_pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    var = (p_pool * (F.lit(1.0) - p_pool)) * (
        F.lit(1.0) / n_a + F.lit(1.0) / n_b
    )
    z = (p_a - p_b) / F.sqrt(var)
    # the outer guard must be a SEPARATE when: an empty arm makes the
    # 1/n division inside `var` itself raise under ANSI, so var may
    # only be evaluated once both arms are known non-empty (If
    # branches short-circuit in codegen; surfaced by the hypothesis
    # sweep on a one-arm corpus)
    scored = base.select(
        "event_type",
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.when(var > 0, z),
        ).alias("z"),
    ).localCheckpoint(eager=True)
    # ^ |event types| rows; four downstream branches (m, rank, k*,
    #   untestable) read it — without the checkpoint each branch
    #   re-runs the corpus-sized distinct aggregates above
    testable = scored.filter(F.col("z").isNotNull())
    m_rel = testable.agg(
        F.count(F.lit(1)).cast("long").alias("m_tests")
    )
    crit_map = F.create_map(
        *[
            x
            for key, v in sorted(BH_CRIT.items())
            for x in (F.lit(key), F.lit(v))
        ]
    )
    # dictionary-bounded relation (|event types| rows) — the justified
    # partition-less-window class (tests/test_plans.py allowlist)
    w = Window.orderBy(F.desc(F.abs(F.col("z"))), F.asc("event_type"))
    ranked = (
        testable.crossJoin(F.broadcast(m_rel))
        .withColumn("bh_rank", F.row_number().over(w).cast("long"))
        .withColumn(
            "crit",
            F.element_at(
                crit_map,
                (F.col("m_tests") * 100 + F.col("bh_rank")).cast("int"),
            ),
        )
    )
    kstar = ranked.agg(
        F.max(
            F.when(F.abs(F.col("z")) >= F.col("crit"), F.col("bh_rank"))
        ).alias("k_star")
    )
    rejected = ranked.crossJoin(F.broadcast(kstar)).select(
        "event_type",
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        "z",
        "m_tests",
        "bh_rank",
        "crit",
        F.coalesce(
            F.col("bh_rank") <= F.col("k_star"), F.lit(False)
        ).alias("rejected"),
    )
    nl = F.lit(None)
    untestable = scored.filter(F.col("z").isNull()).crossJoin(
        F.broadcast(m_rel)
    ).select(
        "event_type",
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        "z",
        "m_tests",
        nl.cast("long").alias("bh_rank"),
        nl.cast("double").alias("crit"),
        F.lit(False).alias("rejected"),
    )
    return rejected.unionByName(untestable)


# STRING-form double literals (the _DISC_CASE rule: bare 17-digit
# decimals parse as DECIMAL in DuckDB, one ulp off).
_BH_CRIT_CASE = " ".join(
    f"WHEN {key} THEN CAST('{v!r}' AS DOUBLE)"
    for key, v in sorted(BH_CRIT.items())
)

ORACLE_R19.update({
    "events_ab_fdr_bh": f"""
        WITH users AS (SELECT DISTINCT user_id FROM events),
        pop AS (
            SELECT
                CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_a,
                CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END)
                     AS BIGINT) AS n_b
            FROM users
        ),
        tagged AS (
            SELECT user_id, event_type, ts,
                   MIN(ts) OVER (PARTITION BY user_id) AS first_ts
            FROM events
        ),
        ut AS (
            SELECT DISTINCT user_id, event_type FROM tagged
            WHERE ts < first_ts + INTERVAL 24 HOUR
        ),
        conv AS (
            SELECT t.event_type,
                   CAST(COALESCE(c.conv_a, 0) AS BIGINT) AS conv_a,
                   CAST(COALESCE(c.conv_b, 0) AS BIGINT) AS conv_b
            FROM (SELECT DISTINCT event_type FROM events) t
            LEFT JOIN (
                SELECT event_type,
                       SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                           AS conv_a,
                       SUM(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END)
                           AS conv_b
                FROM ut GROUP BY 1
            ) c USING (event_type)
        ),
        x AS (
            SELECT c.event_type, p.n_a, c.conv_a, p.n_b, c.conv_b,
                   CAST(c.conv_a AS DOUBLE) / CAST(p.n_a AS DOUBLE) AS p_a,
                   CAST(c.conv_b AS DOUBLE) / CAST(p.n_b AS DOUBLE) AS p_b,
                   CAST(c.conv_a + c.conv_b AS DOUBLE)
                       / CAST(p.n_a + p.n_b AS DOUBLE) AS p_pool
            FROM conv c CROSS JOIN pop p
        ),
        v AS (
            SELECT *,
                   (p_pool * (CAST(1.0 AS DOUBLE) - p_pool))
                       * (CAST(1.0 AS DOUBLE) / CAST(n_a AS DOUBLE)
                          + CAST(1.0 AS DOUBLE) / CAST(n_b AS DOUBLE))
                       AS var
            FROM x
        ),
        scored AS (
            -- the arm guard mirrors the operator's nested when: with
            -- an empty arm, DuckDB's 0/0 makes var NaN (NaN > 0 is
            -- false) so the bare CASE already yields NULL, but the
            -- explicit predicate keeps the two engines' semantics
            -- aligned by construction rather than by IEEE accident
            SELECT event_type, n_a, conv_a, n_b, conv_b,
                   CASE WHEN n_a > 0 AND n_b > 0 AND var > 0
                        THEN (p_a - p_b) / sqrt(var) END AS z
            FROM v
        ),
        m AS (
            SELECT CAST(count(*) AS BIGINT) AS m_tests
            FROM scored WHERE z IS NOT NULL
        ),
        ranked AS (
            SELECT s.*, m.m_tests,
                   CAST(ROW_NUMBER() OVER (
                       ORDER BY abs(s.z) DESC, s.event_type ASC
                   ) AS BIGINT) AS bh_rank
            FROM scored s CROSS JOIN m
            WHERE s.z IS NOT NULL
        ),
        critd AS (
            SELECT *,
                   (CASE m_tests * 100 + bh_rank {_BH_CRIT_CASE} END)
                       AS crit
            FROM ranked
        ),
        ks AS (
            SELECT MAX(CASE WHEN abs(z) >= crit THEN bh_rank END)
                       AS k_star
            FROM critd
        )
        SELECT c.event_type, c.n_a, c.conv_a, c.n_b, c.conv_b, c.z,
               c.m_tests, c.bh_rank, c.crit,
               COALESCE(c.bh_rank <= k.k_star, FALSE) AS rejected
        FROM critd c CROSS JOIN ks k
        UNION ALL
        SELECT s.event_type, s.n_a, s.conv_a, s.n_b, s.conv_b, s.z,
               m.m_tests, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
               FALSE
        FROM scored s CROSS JOIN m
        WHERE s.z IS NULL
    """,
})
