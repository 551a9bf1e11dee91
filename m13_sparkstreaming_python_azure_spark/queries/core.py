"""Core relational queries — SURVEY.md §2 parity surface on the driver
star-schema fixtures (scans, filters, aggregates, windows, joins, sorts,
set ops, scalar functions).

Float-hash rule (see .claude/skills/verify/SKILL.md): never hash-compare a
raw avg()/sum() double — round sums to 2 decimals on both sides; derive
averages as round(sum,2)/count so the division inputs are bit-identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from m13_sparkstreaming_python_azure_spark.catalog import load_table
from m13_sparkstreaming_python_azure_spark.operators.aggregate import (
    distinct_values,
    rollup_stats,
)
from m13_sparkstreaming_python_azure_spark.operators.join import (
    anti_join,
    enrich_join,
    semi_join,
)
from m13_sparkstreaming_python_azure_spark.operators.window import (
    top1_per_group,
    topk,
)
from m13_sparkstreaming_python_azure_spark.operators.zorder import (
    zorder_key_orders_sql,
)
from m13_sparkstreaming_python_azure_spark.streaming.pipeline import await_query


def events_daily(spark: SparkSession, sf_dir: str, approx: bool) -> DataFrame:
    """The reference's signature aggregate (stream.ipynb:117-121) mapped onto
    the events fixture: (event_type, day) ← (city, wthr_date), user_id ← id,
    value ← avg_tmpr_c."""
    events = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    distinct_expr = (
        F.approx_count_distinct("user_id")
        if approx
        else F.countDistinct("user_id")
    )
    # Cross-engine float discipline, two layers:
    # 1. sum as decimal(18,6) — exact and fold-order independent, where a
    #    double sum can land either side of a rounding boundary depending
    #    on partial-sum order;
    # 2. round the avg as floor(x*1e4 + 0.5)/1e4 instead of engine round()
    #    — the quotient routinely hits exact 4-decimal halves (decimal sum
    #    ÷ count), where Spark (BigDecimal HALF_UP) and C-library rounding
    #    disagree; floor over identical IEEE doubles cannot.
    dec_sum = F.sum(F.col("value").cast("decimal(18,6)"))
    quotient = F.round(dec_sum, 2).cast("double") / F.count("value")
    return events.groupBy("event_type", "event_date").agg(
        distinct_expr.alias("distinct_users"),
        (F.floor(quotient * 10000 + F.lit(0.5)) / 10000).alias("avg_value"),
        F.round(F.max("value"), 4).alias("max_value"),
        F.round(F.min("value"), 4).alias("min_value"),
    )


_EVENTS_LANDING_CACHE: dict = {}


def _events_day_landing(spark: SparkSession, sf_dir: str):
    """Day-partitioned parquet landing dir of the events table — the
    reference's incremental-hotel-weather layout (upload.py:68-74) built
    once as a shared source fixture. Memoized per (process, sf_dir):
    several streaming gate queries consume the identical layout, and
    rebuilding it per query would bill the same write job to every one of
    them in the bench suite. Streams only ever READ the dir (each query
    keeps its own checkpoint/sink), so sharing is race-free. Returns
    (root, schema)."""
    import os
    import tempfile

    key = os.path.abspath(sf_dir)
    hit = _EVENTS_LANDING_CACHE.get(key)
    if hit is not None and os.path.isdir(hit[0]):
        return hit
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    root = tempfile.mkdtemp(prefix="events-landing-")
    # repartition by the partition column first: one file per day instead
    # of (shuffle partitions x days) tiny files
    ev.repartition("event_date").write.mode("overwrite").partitionBy(
        "event_date"
    ).parquet(root)
    schema = spark.read.parquet(root).schema
    _EVENTS_LANDING_CACHE[key] = (root, schema)
    return root, schema


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A3-A5 + P1/P4 batch flavor: TPC-H Q1-style grouped stats with a
    pushed-down date filter."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_daily_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference aggregate (A1-A5), exact-distinct flavor for the oracle."""
    return events_daily(spark, sf_dir, approx=False)


def q_daily_event_stats_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-parity flavor: approx_count_distinct (HLL++ rsd 0.05,
    stream.ipynb:118). The HLL++ estimate itself is engine-specific, so
    the GATE output is the oracle-able derived invariant (VERDICT r8
    #3): the exact stats plus ``approx_ok`` = |HLL − exact| within the
    documented tolerance (3×rsd relative, +3 absolute slack). The
    approximation still runs in the same aggregate — a broken HLL path
    flips approx_ok and the hash. Tests additionally pin the golden
    HLL++ values byte-exactly."""
    events = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    dec_sum = F.sum(F.col("value").cast("decimal(18,6)"))
    quotient = F.round(dec_sum, 2).cast("double") / F.count("value")
    agg = events.groupBy("event_type", "event_date").agg(
        F.countDistinct("user_id").alias("distinct_users_exact"),
        F.approx_count_distinct("user_id").alias("__approx"),
        (F.floor(quotient * 10000 + F.lit(0.5)) / 10000).alias("avg_value"),
        F.round(F.max("value"), 4).alias("max_value"),
        F.round(F.min("value"), 4).alias("min_value"),
    )
    tol = F.greatest(
        F.col("distinct_users_exact") * F.lit(0.15), F.lit(3.0)
    )
    return agg.select(
        "event_type",
        "event_date",
        "distinct_users_exact",
        (
            F.abs(F.col("__approx") - F.col("distinct_users_exact")) <= tol
        ).cast("int").alias("approx_ok"),
        "avg_value",
        "max_value",
        "min_value",
    )


def q_best_day_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1+P5+O1: the flagship window query (stream.ipynb:178-187) on events:
    per event_type the day with most distinct users (ties → latest day),
    top-10 types by that peak. Deterministic full-key tie-break."""
    agg = events_daily(spark, sf_dir, approx=False)
    best = top1_per_group(
        agg, ["event_type"], [F.desc("distinct_users"), F.desc("event_date")]
    )
    return topk(best, [F.desc("distinct_users"), F.asc("event_type")], 10)


def q_semi_join_building(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 idiomatic: orders of BUILDING-segment customers via left-semi join
    (replaces the reference's collect()+isin, stream.ipynb:255-258)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    return semi_join(
        orders, cust.select(F.col("c_custkey").alias("o_custkey")), "o_custkey"
    ).select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )


def q_anti_join_no_recent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no order after a cutoff date
    (non-vacuous, unlike no-orders-ever — every customer has orders)."""
    cust = load_table(spark, sf_dir, "customer")
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1997-06-01"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return anti_join(cust, recent, "c_custkey").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1-style enrichment chain (fact ⋈ broadcast dims): revenue per nation,
    lineitem⋈orders⋈customer⋈nation⋈region."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).join(
        cust, orders.o_custkey == cust.c_custkey
    )
    joined = enrich_join(joined, nation, on=[joined.c_nationkey == nation.n_nationkey])
    joined = enrich_join(joined, region, on=[nation.n_regionkey == region.r_regionkey])
    return joined.groupBy("r_name", "n_name").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: global top-k via TakeOrderedAndProject, full-key tie-break."""
    orders = load_table(spark, sf_dir, "orders")
    return topk(orders, [F.desc("o_totalprice"), F.asc("o_orderkey")], 10).select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )


def q_distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: distinct set projection."""
    return distinct_values(load_table(spark, sf_dir, "customer"), ["c_mktsegment"])


def q_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup subtotals (§2.4 GAP coverage): order counts/totals by
    (orderstatus, orderpriority) hierarchy."""
    orders = load_table(spark, sf_dir, "orders")
    out = rollup_stats(orders, ["o_orderstatus", "o_orderpriority"], "o_totalprice")
    return out.select(
        "o_orderstatus",
        "o_orderpriority",
        "n_rows",
        F.round("sum_o_totalprice", 2).alias("sum_total"),
    )


def q_in_list_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 verbatim: IN-list predicate (Column.isin — compiles to the same
    semi-join semantics as the reference's stream.ipynb:258)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.filter(F.col("event_type").isin("click", "view", "purchase"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 scalar surface: string/date/math/conditional functions in one
    projection over orders (Catalyst folds these into the scan stage)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.upper(F.col("o_orderpriority")).alias("priority_upper"),
        F.substring(F.col("o_orderstatus"), 1, 1).alias("status_1"),
        F.concat_ws("-", F.col("o_orderstatus"), F.col("o_orderpriority")).alias(
            "status_priority"
        ),
        F.length(F.col("o_orderpriority")).alias("priority_len"),
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
        F.round(F.abs(F.col("o_totalprice") - 100000.0), 2).alias("abs_diff"),
        F.round(F.sqrt(F.col("o_totalprice")), 4).alias("sqrt_price"),
        F.when(F.col("o_totalprice") > 200000, F.lit("high"))
        .when(F.col("o_totalprice") > 50000, F.lit("mid"))
        .otherwise(F.lit("low"))
        .alias("price_band"),
        (F.col("o_orderkey") % 7).alias("key_mod7"),
    )


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 set operations: union / intersect / except of the customer and
    supplier nation-key sets, tagged by operation."""
    cust_nations = distinct_values(
        load_table(spark, sf_dir, "customer"), ["c_nationkey"]
    ).select(F.col("c_nationkey").alias("nationkey"))
    supp_nations = distinct_values(
        load_table(spark, sf_dir, "supplier"), ["s_nationkey"]
    ).select(F.col("s_nationkey").alias("nationkey"))
    u = cust_nations.union(supp_nations).distinct().withColumn("op", F.lit("union"))
    i = cust_nations.intersect(supp_nations).withColumn("op", F.lit("intersect"))
    e = cust_nations.exceptAll(supp_nations).withColumn("op", F.lit("except"))
    return u.unionByName(i).unionByName(e).select("op", "nationkey")


def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 GAP analytics: lag/lead + 3-row moving average per user over
    event time (full-key ordering for determinism)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wavg = w.rowsBetween(-2, 0)
    return events.select(
        "user_id",
        "event_id",
        F.round("value", 2).alias("value"),
        F.round(F.lag("value", 1).over(w), 2).alias("prev_value"),
        F.round(F.lead("value", 1).over(w), 2).alias("next_value"),
        F.round(F.round(F.sum("value").over(wavg), 2) / F.count("value").over(wavg), 4).alias(
            "moving_avg3"
        ),
    )


def q_asof_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (SURVEY §2.3 GAP row): for each purchase event, the user's
    latest non-purchase event at-or-before the purchase time. Non-purchase
    events are pre-deduplicated to one row per (user_id, ts) — max event_id
    wins — so both the engine and the oracle's ASOF JOIN are deterministic
    under timestamp ties. (Orders and events deliberately live in disjoint
    epochs in the fixtures, so the as-of anchors come from events itself.)"""
    from m13_sparkstreaming_python_azure_spark.operators.join import asof_join

    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    others = (
        events.filter(F.col("event_type") != "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("event_id"),
            F.max_by("event_type", "event_id").alias("event_type"),
        )
    )
    joined = asof_join(
        purchases, others, on=["user_id"], left_ts="ts", right_ts="ts"
    )
    return joined.select(
        "purchase_id",
        "user_id",
        # string cast: with NULLs, pandas renders int64 as float ("123.0")
        # on one side and not the other — stringify before the value hash
        F.col("event_id").cast("string").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
    )


def q_range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join (SURVEY §2.3 GAP row): per purchase event, how
    many same-user events landed in the hour up to and including it."""
    from m13_sparkstreaming_python_azure_spark.operators.join import range_join

    events = load_table(spark, sf_dir, "events")
    # ts may arrive as TIMESTAMP_NTZ (parquet isAdjustedToUTC=false); NTZ has
    # no direct numeric cast, so hop through TIMESTAMP (session tz is UTC).
    ts_s = F.col("ts").cast("timestamp").cast("double")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        (ts_s - 3600.0).alias("lo"),
        ts_s.alias("hi"),
    )
    ev = events.select("user_id", ts_s.alias("ev_s"))
    joined = range_join(
        ev, purchases, "ev_s", "lo", "hi", bucket_width=3600.0, on=["user_id"]
    )
    return joined.groupBy("purchase_id").agg(
        F.count(F.lit(1)).alias("n_events_prev_hour")
    )


def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-dimensional subtotals (SURVEY §2.4 GAP row): CUBE over
    (status, priority) — Expand + one hash aggregate, single shuffle."""
    from m13_sparkstreaming_python_azure_spark.operators.aggregate import cube_stats

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_totalprice", F.round("o_totalprice", 2)
    )
    out = cube_stats(orders, ["o_orderstatus", "o_orderpriority"], "o_totalprice")
    return out.withColumn("sum_o_totalprice", F.round("sum_o_totalprice", 2))


def q_tumbling_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling windows (SURVEY §2.5/§2.9 GAP rows), batch flavor
    of the streaming windowed aggregate: 1-hour buckets via ``F.window``
    (epoch-aligned, equivalent to date_trunc('hour') for whole-hour
    windows)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def q_hopping_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) event-time windows — duration 2h, slide 1h, so
    every event contributes to exactly TWO overlapping windows. Spark's
    ``F.window(ts, '2 hours', '1 hour')`` explodes each row into its
    containing windows before the aggregate (state/output is
    duration÷slide × tumbling — the scale cost of overlap is explicit).
    The oracle reproduces the two epoch-aligned window starts per event."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (gap 30 min) in batch mode — the same
    ``session_window_aggregate`` code path the streaming tests run, here
    oracle-checked against an independent SQL gaps-and-islands
    formulation (new session when the gap to the previous event is
    ≥ the session gap; Spark session windows are [start, start+gap))."""
    from m13_sparkstreaming_python_azure_spark.streaming.stateful import (
        session_window_aggregate,
    )

    ev = load_table(spark, sf_dir, "events")
    agg = session_window_aggregate(
        ev, gap="30 minutes", watermark_delay=None
    )
    return agg.select(
        F.date_format(F.col("session.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        "user_id",
        "n_events",
        "sum_value",
    )


def q_distinct_users_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch rollup (the scale path for the reference's
    approx_count_distinct): build per-(event_type, day) sketches, then
    answer per-event_type distinct users by sketch UNION — no raw rescan.
    Estimates are engine-specific (Datasketches HLL), so the gate hashes
    the derived invariant instead (VERDICT r8 #3): exact counts +
    est-within-tolerance flags; tests assert the tighter rsd bound."""
    from m13_sparkstreaming_python_azure_spark.operators.aggregate import (
        build_distinct_sketches,
        rollup_distinct_from_sketches,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    daily = build_distinct_sketches(ev, ["event_type", "event_date"], "user_id")
    est = rollup_distinct_from_sketches(daily, ["event_type"])
    # gate output is the oracle-able invariant (VERDICT r8 #3): exact
    # per-type distinct count + est_ok = rollup estimate within 10%
    # (+3 absolute) of exact — the sketch union still runs and feeds
    # the flag, so a broken rollup flips the hash
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("distinct_users_exact")
    )
    tol = F.greatest(
        F.col("distinct_users_exact") * F.lit(0.10), F.lit(3.0)
    )
    return exact.join(F.broadcast(est), on="event_type").select(
        "event_type",
        "distinct_users_exact",
        (
            F.abs(
                F.col("distinct_estimate")
                - F.col("distinct_users_exact")
            ) <= tol
        ).cast("int").alias("est_ok"),
    )


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (median/p90/p99) — the
    order-statistics aggregate class. At 100 TB prefer
    ``percentile_approx`` (mergeable sketch, one pass); the exact variant
    here is the oracle-checkable anchor."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
    )


def q_value_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx — the one-pass mergeable-sketch percentile path
    (KLL-style) that replaces exact percentiles at 100 TB: partials merge
    map-side like any aggregate instead of sorting each group.

    The returned element is engine-specific, but the algorithm's
    GUARANTEE is not: with accuracy A the exact rank of the returned
    value is within n/A of the target rank. The gate hashes that
    invariant (VERDICT r8 #3): per group, n plus a rank-ok flag per
    percentile, computed by joining the estimates back and counting
    values strictly-below / at-or-below each estimate. A sketch
    regression flips the flags and the hash."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    ap = ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 10000).alias("__p50"),
        F.percentile_approx("value", 0.9, 10000).alias("__p90"),
        F.percentile_approx("value", 0.99, 10000).alias("__p99"),
    )
    j = ev.join(F.broadcast(ap), on="event_type")
    counted = j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            c
            for p in ("p50", "p90", "p99")
            for c in (
                F.count_if(F.col("value") < F.col(f"__{p}")).alias(
                    f"__lt_{p}"
                ),
                F.count_if(F.col("value") <= F.col(f"__{p}")).alias(
                    f"__le_{p}"
                ),
            )
        ],
    )
    slack = F.col("n") * F.lit(1.0 / 10000) + F.lit(1.0)

    def rank_ok(p: str, frac: float):
        target = F.col("n") * F.lit(frac)
        return (
            (F.col(f"__lt_{p}") <= target + slack)
            & (F.col(f"__le_{p}") >= target - slack)
        ).cast("int").alias(f"{p}_rank_ok")

    return counted.select(
        "event_type",
        "n",
        rank_ok("p50", 0.5),
        rank_ok("p90", 0.9),
        rank_ok("p99", 0.99),
    )


def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample stddev/variance + min/max spread per group (moment
    aggregates; single shuffle, partial-merge like sum/avg)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.stddev_samp("value"), 4).alias("stddev_value"),
        F.round(F.var_samp("value"), 4).alias("var_value"),
        F.round(F.max("value") - F.min("value"), 4).alias("value_range"),
        F.count(F.lit(1)).alias("n"),
    )


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join with selective filters on both fact
    sides, grouped revenue, top-10. Catalyst pushes both date filters into
    the scans and broadcast-joins the filtered customer side."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-06-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-06-01")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
    )
    agg = joined.groupBy(
        "l_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate")
    ).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )
    return topk(agg, [F.desc("revenue"), F.asc("l_orderkey")], 10)


def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer, top 20 —
    filter on the fact side, broadcast dims, grouped revenue, top-k."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
    )
    joined = enrich_join(joined, nation, on=[joined.c_nationkey == nation.n_nationkey])
    agg = joined.groupBy("c_custkey", "c_name", "n_name").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )
    return topk(agg, [F.desc("revenue"), F.asc("c_custkey")], 20)


def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of orders: per-column row/null/distinct counts
    in ONE scan (see operators.aggregate.profile_columns)."""
    from m13_sparkstreaming_python_azure_spark.operators.aggregate import (
        profile_columns,
    )

    orders = load_table(spark, sf_dir, "orders")
    return profile_columns(
        orders, ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    )


def q_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentiles from a mergeable histogram sketch (operators/histogram):
    build per-(type, day) sketches in one scan, merge them down to
    per-type, estimate p50/p90/p99 from the merged state — the
    sketch-once / query-many pattern for 100 TB percentile dashboards.
    The per-day → merged step is the mergeability proof under the gate."""
    from m13_sparkstreaming_python_azure_spark.operators.histogram import (
        build_histogram,
        histogram_quantiles,
        merge_histograms,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    daily = build_histogram(
        ev, "value", ["event_type", "event_date"], 0.0, 500.0, 100
    )
    merged = merge_histograms(daily, ["event_type"])
    return histogram_quantiles(
        merged, ["event_type"], [0.5, 0.9, 0.99], 0.0, 500.0, 100
    )


def q_streaming_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The histogram sketch running as a STREAM: events replayed as a
    file-arrival stream, each micro-batch folded to its own sketch by
    foreachBatch (append-only batch=<id> dirs, idempotent on replay),
    quantiles computed from the merge-on-read state. Must hash-match the
    same batch SQL as histogram_quantiles — streaming↔batch parity for
    the sketch path, under the driver gate.

    maxFilesPerTrigger forces MULTIPLE micro-batches, so the merge step
    is genuinely exercised (one batch would make merging vacuous)."""
    import os
    import tempfile
    import uuid

    from m13_sparkstreaming_python_azure_spark.operators.histogram import (
        histogram_quantiles,
    )
    from m13_sparkstreaming_python_azure_spark.sources.filestream import (
        parquet_file_stream,
    )
    from m13_sparkstreaming_python_azure_spark.streaming.pipeline import (
        read_merged_histogram,
        write_foreach_batch_histogram,
    )

    src, schema = _events_day_landing(spark, sf_dir)
    root = tempfile.mkdtemp(prefix=f"stream-hist-{uuid.uuid4().hex[:8]}-")
    sink, ck = (os.path.join(root, d) for d in ("sink", "ck"))
    stream = parquet_file_stream(spark, src, schema, max_files_per_trigger=8)
    q = write_foreach_batch_histogram(
        stream, sink, ck, "value", ["event_type"], 0.0, 500.0, 100
    ).trigger(availableNow=True).start()
    await_query(q)
    merged = read_merged_histogram(spark, sink, ["event_type"])
    return histogram_quantiles(
        merged, ["event_type"], [0.5, 0.9, 0.99], 0.0, 500.0, 100
    )


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: trade volume between two nations in BOTH directions
    (customer-nation ↔ supplier-nation), per ship year — nation again in
    two roles, with a pair-disjunction predicate that Catalyst pushes into
    the broadcast joins."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    joined = (
        li.join(F.broadcast(orders.select("o_orderkey", "o_custkey")),
                li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(supp.select("s_suppkey", "s_nationkey")),
              li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .filter(
            ((F.col("cust_nation") == "NATION_3") & (F.col("supp_nation") == "NATION_8"))
            | ((F.col("cust_nation") == "NATION_8") & (F.col("supp_nation") == "NATION_3"))
        )
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_promo_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of multi-column brackets (brand ×
    size × quantity) over the part join — the predicate class that tests
    OR-pushdown and join-input pruning. Each bracket alone is selective;
    Catalyst pushes the common part of the disjunction to both scans."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    bracket1 = (
        (F.col("p_brand") == "Brand#1")
        & (F.col("p_size") <= 10)
        & F.col("l_quantity").between(1, 20)
    )
    bracket2 = (
        (F.col("p_brand") == "Brand#3")
        & (F.col("p_size") <= 25)
        & F.col("l_quantity").between(10, 35)
    )
    return (
        joined.filter(bracket1 | bracket2)
        .groupBy("p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CDC apply (I/U/D change feed → table state) in one keyed
    full-outer join — operators/merge.apply_cdc. The change set is
    synthesized deterministically from orders: every %7 key deleted,
    every remaining %5 key re-priced +10%, every %11 key cloned as an
    insert under a shifted key."""
    from m13_sparkstreaming_python_azure_spark.operators.merge import apply_cdc

    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    updates = (
        orders.filter((k % 5 == 0) & (k % 7 != 0))
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
        .withColumn("op", F.lit("U"))
    )
    deletes = orders.filter(k % 7 == 0).withColumn("op", F.lit("D"))
    inserts = (
        orders.filter(k % 11 == 0)
        .withColumn("o_orderkey", k + 10_000_000)
        .withColumn("op", F.lit("I"))
    )
    changes = updates.unionByName(deletes).unionByName(inserts)
    out = apply_cdc(orders, changes, ["o_orderkey"])
    return out.select(
        "o_orderkey",
        "o_orderstatus",
        (F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)) / 100).alias(
            "o_totalprice"
        ),
    )


def q_incremental_view_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (operators/ivm.py): a per-status
    orders aggregate advances from v1 to v2 by applying ONLY the pre/post
    change images (deletes %7, reprices %5, status moves %13 — a
    group-crossing update — inserts %11 under shifted keys), never
    rereading the table. Exact-decimal sums make the incremental result
    row-identical to the oracle's full recompute over v2."""
    from m13_sparkstreaming_python_azure_spark.operators.ivm import (
        grouped_view,
        incremental_refresh,
        table_changes_images,
    )

    v1 = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    v2 = (
        v1.filter(k % 7 != 0)
        .withColumn(
            "o_totalprice",
            F.when(k % 5 == 0, F.col("o_totalprice") * 1.1).otherwise(
                F.col("o_totalprice")
            ),
        )
        .withColumn(
            "o_orderstatus",
            F.when(k % 13 == 0, F.lit("X")).otherwise(
                F.col("o_orderstatus")
            ),
        )
        .unionByName(
            v1.filter(k % 11 == 0).withColumn("o_orderkey", k + 10_000_000)
        )
    )
    prev = grouped_view(v1, ["o_orderstatus"], ["o_totalprice"])
    images = table_changes_images(v1, v2, ["o_orderkey"])
    out = incremental_refresh(
        prev, images, ["o_orderstatus"], ["o_totalprice"]
    )
    return out.select(
        "o_orderstatus",
        "n_rows",
        F.round("sum_o_totalprice", 2).cast("double").alias("sum_totalprice"),
    )


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD history build (operators/merge.scd2_from_changes): a
    synthetic 3-version change feed over orders (base, %5-key reprice,
    %10-key second reprice) becomes validity intervals via one keyed
    window — valid_from/valid_to/is_current, no self-join."""
    from m13_sparkstreaming_python_azure_spark.operators.merge import (
        scd2_from_changes,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    k = F.col("o_orderkey")
    price = (F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)) / 100).alias(
        "price"
    )
    v0 = orders.select("o_orderkey", price, F.lit(0).alias("version"))
    v1 = (
        orders.filter(k % 5 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
        .select("o_orderkey", price, F.lit(1).alias("version"))
    )
    v2 = (
        orders.filter(k % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.21)
        .select("o_orderkey", price, F.lit(2).alias("version"))
    )
    changes = v0.unionByName(v1).unionByName(v2)
    return scd2_from_changes(changes, ["o_orderkey"], "version")


def q_zscore_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature standardization (operators/feature.py JVM path):
    z-score of value within each event_type — one window shuffle, moments
    from exact decimal sums. The applyInPandas grouped-map twin is pinned
    equal by test."""
    from m13_sparkstreaming_python_azure_spark.operators.feature import (
        zscore_window,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return zscore_window(ev, ["event_type"], "value")


def q_frequent_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters: top-3 users by event count within each event type.
    count-aggregate → per-group rank → filter, which Spark ≥3.5 plans as
    WindowGroupLimit (per-partition top-k before the window shuffle) —
    the scalable exact form of frequent-item queries. Full tie-break
    (count desc, user_id asc) keeps it deterministic."""
    from m13_sparkstreaming_python_azure_spark.operators.window import (
        topk_per_group,
    )

    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return topk_per_group(
        counts, ["event_type"], [F.desc("n_events"), F.asc("user_id")], k=3
    )


def q_ivm_join_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance (operators/ivm.
    join_view_refresh — the join sibling of incremental_view_refresh's
    aggregate IVM): the orders⋈customer view advances across a batch
    that inserts orders (the %97 slice appears), deletes orders (the
    %89 slice vanishes), AND updates the customer dimension (+100
    balance for nation 5) — fact and dimension changing in the same
    refresh, the corner that breaks naive delta joins. Delta-detect on
    both sides, repair only the affected view keys via a semi-join-
    pruned keyed recompute; the result must equal the full A_new⋈B_new
    join row for row, which is exactly what the oracle states. Cost is
    O(|changes|), never a view rebuild — at 100 TB the view survives
    arbitrarily many refreshes without ever being rebuilt."""
    from m13_sparkstreaming_python_azure_spark.operators.ivm import (
        join_view_refresh,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey", "c_acctbal"
    )
    a_old = orders.filter(F.col("o_orderkey") % 97 != 0)
    a_new = orders.filter(F.col("o_orderkey") % 89 != 0)
    b_old = customer
    b_new = customer.withColumn(
        "c_acctbal",
        F.when(
            F.col("c_nationkey") == 5, F.col("c_acctbal") + F.lit(100.0)
        ).otherwise(F.col("c_acctbal")),
    )

    def view_rows(a, b):
        return a.join(b, a["o_custkey"] == b["c_custkey"]).select(
            "o_orderkey",
            F.floor("o_totalprice").cast("long").alias("price"),
            F.col("c_mktsegment").alias("segment"),
            F.floor("c_acctbal").cast("long").alias("bal"),
        )

    v_old = view_rows(a_old, b_old)
    return join_view_refresh(
        v_old, a_old, a_new, b_old, b_new,
        "o_orderkey", "c_custkey", "o_custkey", view_rows,
    )


CORE_ORACLES_IVM_JOIN = """
    SELECT o.o_orderkey,
           CAST(floor(o.o_totalprice) AS BIGINT) AS price,
           c.c_mktsegment AS segment,
           CAST(CASE WHEN c.c_nationkey = 5
                     THEN floor(c.c_acctbal + CAST(100.0 AS DOUBLE))
                     ELSE floor(c.c_acctbal) END AS BIGINT) AS bal
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderkey % 89 <> 0
"""


def q_change_feed_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre/post-image change data feed between two table versions
    (operators/ivm.table_changes_images — the Delta CDF
    ``_change_type`` + both-images shape downstream IVM consumes):
    version A drops the %83 order slice (later inserts), version B
    drops the %79 slice (deletes) and reprices open orders +10
    (updates). One key-partitioned full-outer join classifies every
    changed key; unchanged rows never leave the diff. The oracle
    states the same classification as a FULL OUTER CASE join."""
    from m13_sparkstreaming_python_azure_spark.operators.ivm import (
        table_changes_images,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.floor("o_totalprice").cast("long").alias("price"),
    )
    old = base.filter(F.col("o_orderkey") % 83 != 0)
    new = base.filter(F.col("o_orderkey") % 79 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        (
            F.col("price")
            + F.when(F.col("o_orderstatus") == "O", F.lit(10)).otherwise(
                F.lit(0)
            )
        ).alias("price"),
    )
    images = table_changes_images(old, new, ["o_orderkey"])
    return images.select(
        "o_orderkey",
        "_change_type",
        F.col("__old")["price"].alias("old_price"),
        F.col("__new")["price"].alias("new_price"),
    )


CORE_ORACLES_CDF_IMAGES = """
    WITH base AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(floor(o_totalprice) AS BIGINT) AS price
        FROM orders
    ), old AS (
        SELECT * FROM base WHERE o_orderkey % 83 <> 0
    ), new AS (
        SELECT o_orderkey, o_orderstatus,
               price + CASE WHEN o_orderstatus = 'O' THEN 10 ELSE 0 END
                   AS price
        FROM base WHERE o_orderkey % 79 <> 0
    ), j AS (
        SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
               o.price AS old_price, n.price AS new_price,
               CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                    WHEN n.o_orderkey IS NULL THEN 'delete'
                    WHEN o.price <> n.price
                         OR o.o_orderstatus <> n.o_orderstatus
                        THEN 'update'
               END AS _change_type
        FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    )
    SELECT o_orderkey, _change_type, old_price, new_price
    FROM j WHERE _change_type IS NOT NULL
"""


def q_supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the supplier co-occurrence graph (suppliers linked
    when they serve the same order) — the iterative-join algorithm class,
    5 fixed power iterations (see operators/graph.pagerank for the
    cross-engine determinism contract). The oracle unrolls the same five
    iterations as SQL CTEs."""
    from m13_sparkstreaming_python_azure_spark.operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # Pair generation via ONE shuffle (groupBy orderkey) + JVM-side double
    # explode of the per-order supplier set — vs the naive self-join, which
    # shuffles lineitem twice and emits k² duplicate pairs per order before
    # distinct. Safe because per-order supplier counts are bounded small
    # (TPC-H: ≤7); for unbounded group sizes fall back to the equi-self-join.
    # r13 (guide §2.3, VERDICT r12 #7): emit each unordered pair ONCE
    # (sorted set, i<j slice) and symmetrize AFTER the distinct — the
    # distinct's exchange carries half the pre-distinct wedge rows
    # (measured 1.54 -> 1.18 s for the edge relation at sf0.1; edge
    # multiset proven identical).
    sets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_suppkey")).alias("ss")
    )
    und = (
        sets.select(F.posexplode("ss").alias("i", "src"), "ss")
        .select("src", F.explode(F.expr("slice(ss, i + 2, size(ss))")).alias("dst"))
        .distinct()
    )
    edges = und.unionAll(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return pagerank(edges, iterations=5).select(
        F.col("node").alias("suppkey"), "rank"
    )


def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counting (clustering-coefficient numerator) over
    a deterministic sparse graph built from customer keys — binary-tree
    edges (k, k÷2) plus chain edges (k, k−1), which plant a known triangle
    at every odd k. Ordered-triple enumeration, two equi-joins
    (operators/graph.triangle_counts); the oracle replays the same
    construction in SQL."""
    from m13_sparkstreaming_python_azure_spark.operators.graph import (
        triangle_counts,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("bigint").alias("k")
    )
    tree = cust.filter(F.col("k") >= 2).select(
        F.col("k").alias("src"), (F.col("k") / 2).cast("bigint").alias("dst")
    )
    chain = cust.filter(F.col("k") >= 1).select(
        F.col("k").alias("src"), (F.col("k") - 1).alias("dst")
    )
    edges = tree.unionByName(chain)
    return triangle_counts(edges).select(
        F.col("node").alias("custkey"), "n_triangles"
    )


def q_robust_outlier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier statistics — median / MAD and the
    modified-z outlier count (0.6745·|x−med|/MAD > 3.5), the
    skew-resistant complement to the mean/std z-score (`zscore_by_type`).
    Exact interpolated percentiles (both engines use lower+frac·(upper−
    lower)), grid-snapped at 1e-6 before reuse so downstream comparisons
    are engine-identical."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")

    def grid(c):
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    med = ev.groupBy("event_type").agg(
        grid(F.percentile("value", F.lit(0.5))).alias("med")
    )
    dev = ev.join(F.broadcast(med), on="event_type").withColumn(
        "__dev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        grid(F.percentile("__dev", F.lit(0.5))).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), on="event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(
                F.lit(0.6745) * F.col("__dev") / F.col("mad") > 3.5
            ).alias("n_outliers"),
        )
    )


def q_streaming_append_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK SEMANTICS under the oracle gate: events replayed as a
    multi-batch file stream, tumbling 1h windows with a 1h watermark in
    APPEND mode — only FINALIZED windows (window_end ≤ final watermark =
    max event time − delay) may emit. The oracle derives exactly that set
    from batch SQL, so late-data/window-finalization behavior is
    hash-checked, not just unit-tested."""
    import os
    import tempfile
    import uuid

    from m13_sparkstreaming_python_azure_spark.sources.filestream import (
        parquet_file_stream,
    )

    root, schema = _events_day_landing(spark, sf_dir)
    # half the files per trigger → exactly 2+ micro-batches: the watermark
    # must ADVANCE across batches for finalization to be exercised, and
    # two batches prove that at half the micro-batch overhead of many
    stream = parquet_file_stream(spark, root, schema, max_files_per_trigger=16)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
    )
    name = f"append_windows_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    await_query(q)
    return spark.table(name).select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join under the oracle gate
    (§2.9 GAP): purchases matched to same-user clicks in the preceding
    24 h, both sides replayed as file streams, quiesced with
    availableNow. The 90-day watermark delay exceeds the fixture's
    30-day span, so no state eviction can drop a match and the final
    append-mode sink equals the batch interval join exactly — at
    production scale the delay shrinks to the real late-data bound and
    state stays bounded by rate × (delay + lag). Raw pairs aggregate
    per purchase day AFTER quiescing (a second stateful streaming agg
    would gate emission on the watermark instead)."""
    import tempfile
    import uuid

    from m13_sparkstreaming_python_azure_spark.sources.filestream import (
        parquet_file_stream,
    )
    from m13_sparkstreaming_python_azure_spark.streaming.stateful import (
        stream_stream_interval_join,
    )

    root, schema = _events_day_landing(spark, sf_dir)
    # 16 of the ~30 day-files per trigger → exactly 2 micro-batches:
    # enough to prove cross-batch join state, half the per-batch overhead
    s1 = parquet_file_stream(spark, root, schema, max_files_per_trigger=16)
    s2 = parquet_file_stream(spark, root, schema, max_files_per_trigger=16)
    joined = stream_stream_interval_join(
        s1.filter(F.col("event_type") == "purchase"),
        s2.filter(F.col("event_type") == "click"),
        key="user_id",
        max_lag="24 hours",
        watermark_delay="90 days",
    ).select(
        F.date_format(F.col("l.ts"), "yyyy-MM-dd").alias("purchase_date"),
        F.col("l.event_id").alias("purchase_id"),
        F.col("r.event_id").alias("click_id"),
    )
    name = f"ssj_gate_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_query(q)
    return (
        spark.table(name)
        .groupBy("purchase_date")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("purchase_id").alias("n_purchases"),
            F.countDistinct("click_id").alias("n_clicks"),
        )
    )


def q_streaming_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT SEMI join under the oracle gate
    (§2.9 GAP — the existence-check flavor: inner emits one row PER
    matching pair, semi emits each left row ONCE if ANY match exists,
    which is what funnel/eligibility pipelines actually want):
    purchases that had at least one same-user click in the preceding
    24 h, both sides replayed as 2-micro-batch file streams, quiesced
    with availableNow. Same eviction math as the interval join — the
    90-day watermark delay exceeds the fixture span so no match can
    drop; at production scale the delay shrinks to the real late-data
    bound and per-side state stays rate × (delay + lag). The oracle is
    the batch EXISTS twin; each purchase counting exactly once (never
    once per click) is exactly what the hash pins."""
    import uuid

    from m13_sparkstreaming_python_azure_spark.sources.filestream import (
        parquet_file_stream,
    )
    from m13_sparkstreaming_python_azure_spark.streaming.stateful import (
        stream_stream_interval_join,
    )

    root, schema = _events_day_landing(spark, sf_dir)
    s1 = parquet_file_stream(spark, root, schema, max_files_per_trigger=16)
    s2 = parquet_file_stream(spark, root, schema, max_files_per_trigger=16)
    joined = stream_stream_interval_join(
        s1.filter(F.col("event_type") == "purchase"),
        s2.filter(F.col("event_type") == "click"),
        key="user_id",
        max_lag="24 hours",
        watermark_delay="90 days",
        how="left_semi",
    ).select(
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("purchase_date"),
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
    )
    name = f"sssj_gate_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_query(q)
    return (
        spark.table(name)
        .groupBy("purchase_date")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def q_streaming_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming latest-state materialization under the gate: events
    replayed as a 2-micro-batch file stream, folded by foreachBatch into
    a keyed parquet target keeping each user's max-(ts, event_id) row.
    The fold is order-independent (max is commutative + idempotent), so
    the final target must equal the one-shot batch argmax regardless of
    file arrival order — the CDC-materialization twin of cdc_apply,
    driven from a stream."""
    import os
    import tempfile

    from m13_sparkstreaming_python_azure_spark.sources.filestream import (
        parquet_file_stream,
    )
    from m13_sparkstreaming_python_azure_spark.streaming.pipeline import (
        write_foreach_batch_latest,
    )

    src, schema = _events_day_landing(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="latest-state-")
    sink, ck = (os.path.join(root, d) for d in ("sink", "ck"))
    stream = parquet_file_stream(spark, src, schema, max_files_per_trigger=16)
    q = (
        write_foreach_batch_latest(
            # shared landing carries all columns; project in-stream
            stream.select("event_id", "ts", "user_id", "event_type", "value"),
            sink,
            ck,
            keys=["user_id"], order_cols=["ts", "event_id"],
        )
        .trigger(availableNow=True)
        .start()
    )
    await_query(q)
    from m13_sparkstreaming_python_azure_spark.sources.snapshots import (
        read_snapshot,
    )

    state = read_snapshot(spark, sink)
    return state.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "event_type",
        "value",
    )


def q_streaming_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming materialized-view maintenance under the gate: events
    replayed as a multi-batch file stream fold into a latest-per-user
    keyed snapshot table, and AFTER EVERY COMMIT the downstream grouped
    view (rows + value sum per event_type) advances incrementally via
    refresh_view_snapshot — per-user latest rows CHANGE across batches,
    so the view absorbs genuine updates and group moves, not just
    inserts. The returned view must equal the one-shot batch argmax
    aggregate regardless of arrival order."""
    import os
    import tempfile

    from m13_sparkstreaming_python_azure_spark.operators.ivm import (
        refresh_view_snapshot,
    )
    from m13_sparkstreaming_python_azure_spark.sources.filestream import (
        parquet_file_stream,
    )
    from m13_sparkstreaming_python_azure_spark.sources.snapshots import (
        keyed_batch_sink,
        read_snapshot,
    )

    src, schema = _events_day_landing(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="view-maint-")
    base, view, ck = (os.path.join(root, d) for d in ("base", "view", "ck"))
    table_sink = keyed_batch_sink(
        base, keys=["user_id"], mode="latest", order_cols=["ts", "event_id"]
    )

    def _sink_then_refresh(batch_df, batch_id):
        table_sink(batch_df, batch_id)
        refresh_view_snapshot(
            spark, base, view, ["user_id"], ["event_type"], ["value"]
        )

    stream = parquet_file_stream(spark, src, schema, max_files_per_trigger=16)
    q = (
        stream.select("event_id", "ts", "user_id", "event_type", "value")
        .writeStream.foreachBatch(_sink_then_refresh)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    await_query(q)
    return read_snapshot(spark, view).select(
        "event_type",
        "n_rows",
        F.round("sum_value", 2).cast("double").alias("sum_value"),
    )


def q_incremental_ingest_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-pruned incremental ingest end-to-end under the gate (the
    Auto-Loader-notification-mode analogue, VERDICT r1 #6): the
    day-partitioned events landing is discovered by
    ``sources.fileindex.DayPartitionedLister`` — sealed day dirs are never
    re-listed, so per-poll listing cost is bound to unseen days — and each
    poll's new files are appended to a manifest-versioned snapshot table
    exactly once (batch_id guard). The final table's per-(type, day)
    aggregate must equal the one-shot batch aggregate over events."""
    import os
    import tempfile

    from m13_sparkstreaming_python_azure_spark.sources.fileindex import (
        DayPartitionedLister,
        incremental_snapshot_ingest,
    )
    from m13_sparkstreaming_python_azure_spark.sources.snapshots import (
        read_snapshot,
    )

    src, _schema = _events_day_landing(spark, sf_dir)
    # per-invocation scratch: the landing dir is a SHARED memoized fixture,
    # so the processed-manifest must live elsewhere or a second run (bench
    # reps) would see everything already ingested
    scratch = tempfile.mkdtemp(prefix="incr-ingest-")
    table = os.path.join(scratch, "table")
    lister = DayPartitionedLister(
        src,
        state_path=os.path.join(scratch, "processed.json"),
        day_prefix="event_date=",
    )
    batch = 0
    while (
        incremental_snapshot_ingest(spark, lister, table, batch_id=batch)
        is not None
    ):
        batch += 1
    ingested = read_snapshot(spark, table).withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    dec_sum = F.sum(F.col("value").cast("decimal(18,6)"))
    return ingested.groupBy("event_type", "event_date").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(dec_sum, 2).cast("double").alias("sum_value"),
    )


def q_notification_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILE-NOTIFICATION discovery mode under the gate (sources/
    fileevents — the Auto Loader notification-mode analogue the
    listing-based incremental_ingest_daily can't prove): four event
    chunks land via ``notify_write`` (staged write + one published
    event each), a fifth copy of chunk 1 lands WITHOUT an event (a
    writer violating the notification contract) and must stay
    invisible — were it discovered, the per-day counts would double and
    the hash would catch it. The EventDrivenLister consumes the event
    log with a persisted cursor (exactly-once, O(new events) per poll,
    zero directory listing) and feeds the same snapshot-table ingest;
    the final aggregate must equal the one-shot batch aggregate."""
    import os
    import tempfile

    from m13_sparkstreaming_python_azure_spark.sources.fileevents import (
        EventDrivenLister,
        FileEventLog,
        notify_write,
    )
    from m13_sparkstreaming_python_azure_spark.sources.fileindex import (
        incremental_snapshot_ingest,
    )
    from m13_sparkstreaming_python_azure_spark.sources.snapshots import (
        read_snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    scratch = tempfile.mkdtemp(prefix="notify-ingest-")
    data, table = (os.path.join(scratch, d) for d in ("data", "table"))
    log = FileEventLog(os.path.join(scratch, "events-log"))
    lister = EventDrivenLister(log, os.path.join(scratch, "cursor.json"))
    bounds = ["2024-01-08", "2024-01-16", "2024-01-24"]
    chunks = [
        ev.filter(F.col("ts") < bounds[0]),
        ev.filter((F.col("ts") >= bounds[0]) & (F.col("ts") < bounds[1])),
        ev.filter((F.col("ts") >= bounds[1]) & (F.col("ts") < bounds[2])),
        ev.filter(F.col("ts") >= bounds[2]),
    ]
    batch = 0
    for i, ch in enumerate(chunks):
        notify_write(ch, data, log)
        if i == 0:
            # contract violation: a file with NO event — must stay invisible
            chunks[0].limit(50).write.mode("append").parquet(data)
        if incremental_snapshot_ingest(spark, lister, table, batch_id=batch) is not None:
            batch += 1
    ingested = read_snapshot(spark, table).withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    dec_sum = F.sum(F.col("value").cast("decimal(18,6)"))
    return ingested.groupBy("event_type", "event_date").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(dec_sum, 2).cast("double").alias("sum_value"),
    )


def q_snapshot_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-level change data feed between two table versions under the
    gate: v1 = orders as-is; v2 drops every 13th key (deletes), zeroes
    the price of every remaining 7th key (updates), and lands shifted
    copies of every 11th key (inserts). ``snapshot_changes`` must emit
    exactly that diff — postimages for insert/update, the old row for
    delete — computed by one full-outer key join between version reads
    (``sources/snapshots.py``)."""
    import os
    import tempfile

    from m13_sparkstreaming_python_azure_spark.sources.snapshots import (
        snapshot_changes,
        write_snapshot,
    )

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"),
    )
    table = os.path.join(tempfile.mkdtemp(prefix="cdf-"), "table")
    write_snapshot(base, table)
    k = F.col("o_orderkey")
    v2 = (
        base.filter(k % 13 != 0)
        .withColumn(
            "o_totalprice",
            F.when(k % 7 == 0, F.lit(0.0)).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            base.filter(k % 11 == 0).select(
                (k + 5000000).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                F.lit(1.0).alias("o_totalprice"),
            )
        )
    )
    write_snapshot(v2, table)
    return snapshot_changes(spark, table, ["o_orderkey"], 1, 2)


def q_streaming_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING (hopping) event-time windows under the gate — the §2.9
    window family member the tumbling gate can't prove: every event
    belongs to len/slide = 4 overlapping windows (2h windows hopping
    every 30min), and APPEND mode may emit exactly the windows whose end
    ≤ final watermark (max event time − 1h). The oracle expands each
    event into its 4 window starts arithmetically and applies the same
    finalization cut, so overlap assignment AND finalization are
    hash-checked. State: one row per (open window, type) — bounded by
    watermark horizon × 4, the documented sliding-window multiplier."""
    import os
    import tempfile
    import uuid

    from m13_sparkstreaming_python_azure_spark.sources.filestream import (
        parquet_file_stream,
    )

    root, schema = _events_day_landing(spark, sf_dir)
    stream = parquet_file_stream(spark, root, schema, max_files_per_trigger=16)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", "2 hours", "30 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
    )
    name = f"sliding_windows_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    await_query(q)
    return spark.table(name).select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication under the gate (§2.9 GAP dropDuplicates):
    every event lands TWICE in the landing dir (two partition trees);
    the watermarked stream dedups on event_id across micro-batches, so
    per-day counts over the quiesced append sink must equal the batch
    distinct counts. Dedup state is keyed by event_id and evicted once
    the watermark passes — with delay ≥ span nothing evicts here, at
    production scale the delay bounds state to rate × delay."""
    import os
    import tempfile
    import uuid

    from m13_sparkstreaming_python_azure_spark.sources.filestream import (
        parquet_file_stream,
    )

    # memoized like _events_day_landing (shared fixture prep, read-only use)
    key = (os.path.abspath(sf_dir), "doubled")
    hit = _EVENTS_LANDING_CACHE.get(key)
    if hit is not None and os.path.isdir(hit[0]):
        root, schema = hit
    else:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type"
        ).withColumn("event_date", F.date_format("ts", "yyyy-MM-dd"))
        root = tempfile.mkdtemp(prefix="stream-dedup-")
        # two writes into ONE partition tree (overwrite, then append):
        # every event exists in two files of its day dir, and with half
        # the files per trigger the duplicate usually arrives in a
        # different micro-batch
        for mode in ("overwrite", "append"):
            ev.repartition("event_date").write.mode(mode).partitionBy(
                "event_date"
            ).parquet(root)
        schema = spark.read.parquet(root).schema
        _EVENTS_LANDING_CACHE[key] = (root, schema)
    stream = parquet_file_stream(spark, root, schema, max_files_per_trigger=30)
    deduped = (
        stream.withWatermark("ts", "90 days")
        .dropDuplicates(["event_id"])
    )
    name = f"dedup_gate_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_query(q)
    return (
        spark.table(name)
        .groupBy("event_date", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def q_salted_revenue_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated fact join (operators/skew.salted_join): lineitem's
    join key is salted and the orders side replicated, so one hot order
    key spreads over ``salt`` reducers instead of one straggler. The
    result set is salt-invariant (each left row meets each matching right
    row exactly once, on its own replica), which the plain-join oracle
    checks."""
    from m13_sparkstreaming_python_azure_spark.operators.skew import (
        salted_join,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(li, orders, on="l_orderkey", salt=8)
    return joined.groupBy("o_orderpriority").agg(
        F.round(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            ),
            2,
        ).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_bloom_pruned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning (operators/bloom.bloom_pruned_join — the
    explicit runtime-filter pattern): high-value orders (~4% of the dim)
    fold to a 16 KiB bitmap, the lineitem fact side is pre-filtered by
    pure JVM bit probes BEFORE the join shuffle, and the real join drops
    the bloom's false positives — so the result is EXACTLY the plain
    join's (the oracle), while the shuffle carries only ~the matching
    fraction of the fact. The at-scale alternative when the dim keyset is
    too big to broadcast as a set."""
    from m13_sparkstreaming_python_azure_spark.operators.bloom import (
        bloom_pruned_join,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_extendedprice",
        "l_discount",
    )
    big_orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 480000)
        .select("o_orderkey", "o_orderpriority")
    )
    joined = bloom_pruned_join(li, big_orders, on="o_orderkey")
    return joined.groupBy("o_orderpriority").agg(
        F.round(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            ),
            2,
        ).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key over two order dimensions — the
    expression that drives operators/zorder.write_zordered. Gated here so
    the bit-interleave arithmetic is oracle-checked; the file-skipping
    payoff is asserted in tests (parquet footer min/max pruning)."""
    from m13_sparkstreaming_python_azure_spark.operators.zorder import (
        zorder_key_orders_expr,
    )

    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey", zorder_key_orders_expr().alias("zkey")
    )


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: the 6-table join chain (lineitem ⋈ orders ⋈
    customer ⋈ supplier ⋈ nation ⋈ region) with the customer-nation =
    supplier-nation locality constraint, region + order-year filters,
    revenue per nation.

    Scale shape: lineitem is the only fact side; every other table is a
    broadcast dim, so the whole chain is map-side — one shuffle total (the
    final 25-group aggregate). The non-equi locality constraint rides the
    supplier broadcast join as an extra predicate rather than forcing a
    second shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    joined = (
        li.join(F.broadcast(orders.select("o_orderkey", "o_custkey")),
                li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supp.select("s_suppkey", "s_nationkey")),
            (li.l_suppkey == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
    )
    joined = enrich_join(joined, nation, on=[F.col("s_nationkey") == nation.n_nationkey])
    joined = enrich_join(joined, region, on=[nation.n_regionkey == region.r_regionkey])
    return joined.groupBy("n_name").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier-nation's (NATION_3) share of revenue among
    EUROPE-customer orders, per order year — nation joined in TWO roles
    (customer side for the region filter, supplier side for the share
    numerator), conditional aggregation for the ratio.

    Float discipline (verify SKILL.md): numerator and denominator sum as
    decimal(18,6) (exact, fold-order independent); the quotient rounds via
    floor(x*1e4+0.5)/1e4 on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cust_nation = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    supp_nation = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    joined = (
        li.join(F.broadcast(orders.select("o_orderkey", "o_custkey", "o_orderdate")),
                li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cust_nation), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cn_region") == region.r_regionkey)
        .join(F.broadcast(supp.select("s_suppkey", "s_nationkey")),
              li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("sn_key"))
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    agg = joined.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.sum(F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(F.lit(0)))
        .alias("__num"),
        F.sum(rev).alias("__den"),
    )
    share = F.col("__num").cast("double") / F.col("__den").cast("double")
    return agg.select(
        "o_year",
        (F.floor(share * 10000 + F.lit(0.5)) / 10000).alias("mkt_share"),
        F.round(F.col("__den"), 2).cast("double").alias("total_revenue"),
    )


def q_regression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregates (regr_slope/intercept/r2): value
    trended against event time per type — single-pass co-moment
    aggregates, partial-mergeable like sum/avg. Time axis is hours since
    2024-01-01 to keep magnitudes sane; floor-rounding at 1e-6 (the
    core.py float rule) keeps both engines' co-moment folds hash-equal."""
    ev = load_table(spark, sf_dir, "events")
    x = "(unix_timestamp(ts) - 1704067200) / 3600.0"

    # rounding granularity tracks magnitude: co-moment folds differ across
    # engines by ~1e-7 RELATIVE, so the unit-scale slope/r2 take 1e-6 but
    # the ~50-scale intercept only survives hashing at 1e-4
    def fl(expr: str, scale: float):
        return F.floor(F.expr(expr) * scale + F.lit(0.5)) / scale

    return ev.groupBy("event_type").agg(
        fl(f"regr_slope(value, {x})", 1e6).alias("slope"),
        fl(f"regr_intercept(value, {x})", 1e4).alias("intercept"),
        fl(f"regr_r2(value, {x})", 1e6).alias("r2"),
        F.expr(f"regr_count(value, {x})").alias("n"),
    )


def q_hourly_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization (hypertable-rollup class): dense hourly
    spine per event_type with zero-filled empty buckets and forward-filled
    last bucket sum."""
    from m13_sparkstreaming_python_azure_spark.operators.timeseries import (
        resample_ffill,
    )

    ev = load_table(spark, sf_dir, "events")
    return resample_ffill(ev, "event_type", "ts", "value")


def q_pattern_subsequence_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series subsequence similarity search (cf. the EDBT'19 streaming
    time-series similarity line in PAPERS.md): per user, the window of
    their value series closest to a fixed ramp pattern — squared-Euclidean
    over decimal-exact sums, earliest-start tie-break."""
    from m13_sparkstreaming_python_azure_spark.operators.timeseries import (
        subsequence_search,
    )

    ev = load_table(spark, sf_dir, "events")
    pattern = [50.0, 100.0, 150.0, 200.0, 250.0, 300.0, 350.0, 400.0]
    return subsequence_search(ev, "user_id", pattern)


def q_streaming_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EWMA control chart under the gate — the ORDER-DEPENDENT
    stateful operator (streaming/stateful.ewma_with_state): events replay
    as a 3-chunk file stream in event-time order (chunk boundaries at day
    10/20, processAllAvailable between chunks, so micro-batch boundaries
    respect (ts, event_id) order), per-key GroupState carries the ring
    buffer of the last 21 values across batches, and every event emits
    its smoothed level in update mode. Must hash-match the BATCH EWMA SQL
    (same fold, same exact power-of-two weights) — streaming↔batch parity
    for arbitrary stateful Python operators, not just commutative folds."""
    import os
    import tempfile
    import uuid

    from m13_sparkstreaming_python_azure_spark.sources.filestream import (
        parquet_file_stream,
    )
    from m13_sparkstreaming_python_azure_spark.sources.replay import publish_chunk
    from m13_sparkstreaming_python_azure_spark.streaming.stateful import (
        ewma_with_state,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    root = tempfile.mkdtemp(prefix="ewma-stream-")
    land, ck = (os.path.join(root, d) for d in ("land", "ck"))
    chunks = [
        ev.filter(F.col("ts") < "2024-01-11"),
        ev.filter((F.col("ts") >= "2024-01-11") & (F.col("ts") < "2024-01-21")),
        ev.filter(F.col("ts") >= "2024-01-21"),
    ]
    publish_chunk(chunks[0], land)
    stream = parquet_file_stream(spark, land, ev.schema)
    name = f"ewma_stream_{uuid.uuid4().hex[:8]}"
    q = (
        ewma_with_state(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ck)
        .start()
    )
    q.processAllAvailable()
    for ch in chunks[1:]:
        publish_chunk(ch, land)
        q.processAllAvailable()
    q.stop()
    return spark.table(name)


def q_theta_sketch_audiences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra (Spark 4 Datasketches functions) — the
    audience-overlap computation HLL cannot do: HLL unions but never
    intersects, theta sketches support intersection and difference with
    bounded error. Purchasers and clickers each fold to one sketch
    (mergeable, one pass over events), then purchasers∩clickers,
    purchasers∖clickers and the union are estimated from the TWO sketches
    alone — no raw-data re-scan, the at-scale pattern for audience / id
    overlap dashboards across billions of ids. Single-row broadcast
    cross join of two scalar aggregates (the decorrelated-scalar shape).
    Estimates are sketch-based, so the gate hashes the derived invariant
    (VERDICT r8 #3): the five EXACT set-algebra counts plus a flag per
    estimate asserting the sketch landed within 5% (+3 absolute) of
    exact — every theta operation still runs and feeds its flag."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").agg(
        F.theta_sketch_agg("user_id").alias("p")
    )
    c = ev.filter(F.col("event_type") == "click").agg(
        F.theta_sketch_agg("user_id").alias("c")
    )
    est = p.crossJoin(c).select(
        F.theta_sketch_estimate("p").alias("__e_p"),
        F.theta_sketch_estimate("c").alias("__e_c"),
        F.theta_sketch_estimate(F.theta_intersection("p", "c")).alias(
            "__e_both"
        ),
        F.theta_sketch_estimate(F.theta_difference("p", "c")).alias(
            "__e_ponly"
        ),
        F.theta_sketch_estimate(F.theta_union("p", "c")).alias("__e_either"),
    )
    flags = ev.filter(
        F.col("event_type").isin("purchase", "click")
    ).groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("__p"),
        F.max((F.col("event_type") == "click").cast("int")).alias("__c"),
    )
    exact = flags.agg(
        F.sum("__p").alias("n_purchasers"),
        F.sum("__c").alias("n_clickers"),
        F.sum(F.col("__p") * F.col("__c")).alias("n_both"),
        F.sum(F.col("__p") * (1 - F.col("__c"))).alias("n_purchase_only"),
        F.count(F.lit(1)).alias("n_either"),
    )

    def ok(est_col: str, exact_col: str) -> Column:
        tol = F.greatest(F.col(exact_col) * F.lit(0.05), F.lit(3.0))
        return (
            F.abs(F.col(est_col) - F.col(exact_col)) <= tol
        ).cast("int").alias(exact_col + "_est_ok")

    return exact.crossJoin(F.broadcast(est)).select(
        "n_purchasers",
        "n_clickers",
        "n_both",
        "n_purchase_only",
        "n_either",
        ok("__e_p", "n_purchasers"),
        ok("__e_c", "n_clickers"),
        ok("__e_both", "n_both"),
        ok("__e_ponly", "n_purchase_only"),
        ok("__e_either", "n_either"),
    )


def q_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL quantile sketches (Spark 4 Datasketches functions) — the
    mergeable percentile path with PROVEN error bounds, successor to both
    the exact sort (value_percentiles) and the hand-rolled histogram
    (histogram_quantiles): each half of the month folds to its own
    sketch inside ONE grouped aggregate (conditional inputs), the two
    merge with kll_sketch_merge_double — the mergeability that lets
    per-partition/per-day sketches roll up without re-scanning raw data —
    and p50/p90/p99 read off the merged state.

    Gate output is the oracle-able invariant (VERDICT r8 #3): n_values
    is EXACT by the KLL contract (get_n counts inputs), and each
    quantile estimate's exact rank must land within 5% of its target
    (KLL k=200's normalized rank error is ~1.65% at 99% confidence, so
    the flag only flips on a real regression). Estimates still come off
    the merged sketch — merge + query feed every flag."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "value", "ts"
    )
    first_half = F.dayofmonth("ts") <= 15
    per_type = ev.groupBy("event_type").agg(
        F.kll_sketch_agg_double(
            F.when(first_half, F.col("value"))
        ).alias("a"),
        F.kll_sketch_agg_double(
            F.when(~first_half, F.col("value"))
        ).alias("b"),
    )
    merged = per_type.select(
        "event_type", F.kll_sketch_merge_double("a", "b").alias("sk")
    )
    est = merged.select(
        "event_type",
        F.kll_sketch_get_n_double("sk").alias("n_values"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.5)).alias("__p50"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.9)).alias("__p90"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.99)).alias("__p99"),
    )
    j = ev.join(F.broadcast(est), on="event_type")
    counted = j.groupBy("event_type").agg(
        F.first("n_values").alias("n_values"),
        F.count(F.lit(1)).alias("__n"),
        *[
            c
            for p in ("p50", "p90", "p99")
            for c in (
                F.count_if(F.col("value") < F.col(f"__{p}")).alias(
                    f"__lt_{p}"
                ),
                F.count_if(F.col("value") <= F.col(f"__{p}")).alias(
                    f"__le_{p}"
                ),
            )
        ],
    )
    slack = F.col("__n") * F.lit(0.05) + F.lit(1.0)

    def rank_ok(p: str, frac: float) -> Column:
        target = F.col("__n") * F.lit(frac)
        return (
            (F.col(f"__lt_{p}") <= target + slack)
            & (F.col(f"__le_{p}") >= target - slack)
        ).cast("int").alias(f"{p}_rank_ok")

    return counted.select(
        "event_type",
        "n_values",
        rank_ok("p50", 0.5),
        rank_ok("p90", 0.9),
        rank_ok("p99", 0.99),
    )


def q_ewma_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart (operators/timeseries.ewma_control_chart): per
    event_type, the exponentially-smoothed level of the value series and
    a 3-sigma anomaly flag on the one-step-ahead residual. Decay is fixed
    at alpha = 0.5 so every weight is an exact power of two and both
    engines fold the same doubles in the same order (no pow()); outputs
    are 1e-6 grid-snapped before the threshold compare."""
    from m13_sparkstreaming_python_azure_spark.operators.timeseries import (
        ewma_control_chart,
    )

    ev = load_table(spark, sf_dir, "events")
    return ewma_control_chart(ev, "event_type", max_lag=20, sigma_mult=3.0)


def q_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality drift monitor: per-event-type JS divergence of the
    value distribution, first half of the month vs the second — the check
    a corpus pipeline runs between versions before shipping a refresh."""
    from m13_sparkstreaming_python_azure_spark.operators.histogram import (
        distribution_drift,
    )

    ev = load_table(spark, sf_dir, "events")
    first = ev.filter(F.col("ts") < "2024-01-16")
    second = ev.filter(F.col("ts") >= "2024-01-16")
    return distribution_drift(
        first, second, "value", ["event_type"], 0.0, 500.0, 50
    )


def q_streaming_daily_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REFERENCE'S ACTUAL SHAPE under the oracle gate: events replayed
    as a file-arrival stream (upload.py:80-106 pattern), consumed by the
    Structured Streaming pipeline (stream.ipynb:111-148) in complete mode,
    quiesced with availableNow — the returned sink table must hash-match
    the plain batch SQL over the same rows (streaming↔batch parity as a
    driver-checked invariant, not just a unit test).

    Aggregates are the mergeable subset (count/sum/min/max — streaming
    forbids exact DISTINCT; the approx flavor is covered rows-only by
    daily_event_stats_approx)."""
    import tempfile
    import uuid

    from m13_sparkstreaming_python_azure_spark.streaming.pipeline import (
        StreamingAggPipeline,
    )

    # one hive-partitioned landing dir like the reference's, shared across
    # the streaming gate queries (the per-day arrival cadence is exercised
    # by the replay-harness tests)
    root, schema = _events_day_landing(spark, sf_dir)

    def transform(stream: DataFrame) -> DataFrame:
        return stream.groupBy("event_type", "event_date").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.round(F.min("value"), 4).alias("min_value"),
            F.round(F.max("value"), 4).alias("max_value"),
        )

    pipe = StreamingAggPipeline(
        spark,
        root,
        schema,
        transform,
        query_name=f"stream_daily_{uuid.uuid4().hex[:8]}",
    )
    out = pipe.run_available_now()
    pipe.stop()
    return out


CORE_QUERIES = {
    "pricing_summary": q_pricing_summary,
    "daily_event_stats": q_daily_event_stats,
    "daily_event_stats_approx": q_daily_event_stats_approx,
    "incremental_ingest_daily": q_incremental_ingest_daily,
    "notification_ingest": q_notification_ingest,
    "snapshot_change_feed": q_snapshot_change_feed,
    "best_day_top10": q_best_day_top10,
    "semi_join_building": q_semi_join_building,
    "anti_join_no_recent_orders": q_anti_join_no_recent_orders,
    "revenue_by_nation": q_revenue_by_nation,
    "topk_orders": q_topk_orders,
    "distinct_segments": q_distinct_segments,
    "rollup_orders": q_rollup_orders,
    "in_list_filter": q_in_list_filter,
    "scalar_functions": q_scalar_functions,
    "set_ops": q_set_ops,
    "window_lag_lead": q_window_lag_lead,
    "asof_last_event": q_asof_last_event,
    "range_join_events": q_range_join_events,
    "cube_orders": q_cube_orders,
    "tumbling_event_windows": q_tumbling_event_windows,
    "hopping_windows": q_hopping_windows,
    "session_windows": q_session_windows,
    "distinct_users_sketch_rollup": q_distinct_users_sketch_rollup,
    "value_percentiles": q_value_percentiles,
    "value_percentiles_approx": q_value_percentiles_approx,
    "stats_moments": q_stats_moments,
    "profile_orders": q_profile_orders,
    "shipping_priority": q_shipping_priority,
    "returned_items": q_returned_items,
    "local_supplier_volume": q_local_supplier_volume,
    "nation_market_share": q_nation_market_share,
    "histogram_quantiles": q_histogram_quantiles,
    "distribution_drift": q_distribution_drift,
    "streaming_histogram_quantiles": q_streaming_histogram_quantiles,
    "streaming_append_windows": q_streaming_append_windows,
    "streaming_sliding_windows": q_streaming_sliding_windows,
    "streaming_interval_join": q_streaming_interval_join,
    "streaming_semi_join": q_streaming_semi_join,
    "streaming_latest_state": q_streaming_latest_state,
    "streaming_dedup": q_streaming_dedup,
    "salted_revenue_join": q_salted_revenue_join,
    "bloom_pruned_revenue": q_bloom_pruned_revenue,
    "frequent_users": q_frequent_users,
    "volume_shipping": q_volume_shipping,
    "promo_bracket_revenue": q_promo_bracket_revenue,
    "cdc_apply": q_cdc_apply,
    "scd2_history": q_scd2_history,
    "zscore_by_type": q_zscore_by_type,
    "supplier_pagerank": q_supplier_pagerank,
    "triangle_counts": q_triangle_counts,
    "incremental_view_refresh": q_incremental_view_refresh,
    "ivm_join_refresh": q_ivm_join_refresh,
    "change_feed_images": q_change_feed_images,
    "robust_outlier_stats": q_robust_outlier_stats,
    "streaming_view_maintenance": q_streaming_view_maintenance,
    "zorder_key": q_zorder_key,
    "regression_stats": q_regression_stats,
    "hourly_gap_fill": q_hourly_gap_fill,
    "pattern_subsequence_search": q_pattern_subsequence_search,
    "ewma_anomalies": q_ewma_anomalies,
    "streaming_ewma": q_streaming_ewma,
    "theta_sketch_audiences": q_theta_sketch_audiences,
    "kll_quantiles": q_kll_quantiles,
    "streaming_daily_stats": q_streaming_daily_stats,
}

_EVENTS_DAILY_SQL = """
            SELECT event_type,
                   strftime(ts, '%Y-%m-%d') AS event_date,
                   count(DISTINCT user_id) AS distinct_users,
                   floor(CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2)
                              AS DOUBLE) / count(value) * 10000 + 0.5)
                       / 10000 AS avg_value,
                   round(max(value), 4) AS max_value,
                   round(min(value), 4) AS min_value
            FROM events
            GROUP BY event_type, strftime(ts, '%Y-%m-%d')
"""

CORE_ORACLES = {
    "pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_extendedprice), 4) AS avg_price,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "daily_event_stats": _EVENTS_DAILY_SQL,
    "snapshot_change_feed": """
        WITH base AS (
            SELECT o_orderkey, o_orderstatus,
                   round(o_totalprice, 2) AS o_totalprice
            FROM orders
        )
        SELECT o_orderkey, o_orderstatus,
               0.0 AS o_totalprice, 'update' AS _change_type
        FROM base WHERE o_orderkey % 13 <> 0 AND o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey, o_orderstatus, o_totalprice, 'delete'
        FROM base WHERE o_orderkey % 13 = 0
        UNION ALL
        SELECT o_orderkey + 5000000, 'N', 1.0, 'insert'
        FROM base WHERE o_orderkey % 11 = 0
    """,
    "notification_ingest": """
        SELECT event_type,
               strftime(ts, '%Y-%m-%d') AS event_date,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS sum_value
        FROM events
        GROUP BY event_type, strftime(ts, '%Y-%m-%d')
    """,
    "incremental_ingest_daily": """
        SELECT event_type,
               strftime(ts, '%Y-%m-%d') AS event_date,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS sum_value
        FROM events
        GROUP BY event_type, strftime(ts, '%Y-%m-%d')
    """,
    "best_day_top10": f"""
        WITH agg AS ({_EVENTS_DAILY_SQL}),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY event_type
                ORDER BY distinct_users DESC, event_date DESC
            ) AS row_num
            FROM agg
        )
        SELECT event_type, event_date, distinct_users,
               avg_value, max_value, min_value
        FROM ranked WHERE row_num = 1
        ORDER BY distinct_users DESC, event_type ASC
        LIMIT 10
    """,
    "semi_join_building": """
        SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
        FROM orders
        WHERE o_custkey IN (
            SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        )
    """,
    "anti_join_no_recent_orders": """
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer c
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= TIMESTAMP '1997-06-01'
        )
    """,
    "revenue_by_nation": """
        SELECT r_name, n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    """,
    "topk_orders": """
        SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 10
    """,
    "distinct_segments": """
        SELECT DISTINCT c_mktsegment FROM customer
    """,
    "rollup_orders": """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_rows,
               round(sum(o_totalprice), 2) AS sum_total
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    "in_list_filter": """
        SELECT event_type, count(*) AS n_events
        FROM events
        WHERE event_type IN ('click', 'view', 'purchase')
        GROUP BY event_type
    """,
    "scalar_functions": """
        SELECT o_orderkey,
               upper(o_orderpriority) AS priority_upper,
               substr(o_orderstatus, 1, 1) AS status_1,
               concat_ws('-', o_orderstatus, o_orderpriority) AS status_priority,
               length(o_orderpriority) AS priority_len,
               year(o_orderdate) AS order_year,
               month(o_orderdate) AS order_month,
               strftime(o_orderdate, '%Y-%m-%d') AS order_day,
               round(abs(o_totalprice - 100000.0), 2) AS abs_diff,
               round(sqrt(o_totalprice), 4) AS sqrt_price,
               CASE WHEN o_totalprice > 200000 THEN 'high'
                    WHEN o_totalprice > 50000 THEN 'mid'
                    ELSE 'low' END AS price_band,
               o_orderkey % 7 AS key_mod7
        FROM orders
    """,
    "set_ops": """
        WITH c AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
             s AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
        SELECT 'union' AS op, nationkey FROM (SELECT nationkey FROM c UNION SELECT nationkey FROM s)
        UNION ALL
        SELECT 'intersect' AS op, nationkey FROM (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s)
        UNION ALL
        SELECT 'except' AS op, nationkey FROM (SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s)
    """,
    "window_lag_lead": """
        SELECT user_id, event_id,
               round(value, 2) AS value,
               round(lag(value, 1) OVER w, 2) AS prev_value,
               round(lead(value, 1) OVER w, 2) AS next_value,
               round(round(sum(value) OVER w3, 2) / count(value) OVER w3, 4) AS moving_avg3
        FROM events
        WHERE user_id < 50
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
               w3 AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
    "asof_last_event": """
        WITH ev AS (
            SELECT user_id, ts,
                   max(event_id) AS event_id,
                   arg_max(event_type, event_id) AS event_type
            FROM events WHERE event_type <> 'purchase'
            GROUP BY user_id, ts
        )
        SELECT p.event_id AS purchase_id,
               p.user_id,
               CAST(e.event_id AS VARCHAR) AS last_event_id,
               e.event_type AS last_event_type
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN ev e
          ON p.user_id = e.user_id AND e.ts <= p.ts
    """,
    "scd2_history": """
        WITH changes AS (
            SELECT o_orderkey, floor(o_totalprice * 100 + 0.5) / 100 AS price,
                   0 AS version
            FROM orders
            UNION ALL
            SELECT o_orderkey,
                   floor(o_totalprice * 1.1 * 100 + 0.5) / 100, 1
            FROM orders WHERE o_orderkey % 5 = 0
            UNION ALL
            SELECT o_orderkey,
                   floor(o_totalprice * 1.21 * 100 + 0.5) / 100, 2
            FROM orders WHERE o_orderkey % 10 = 0
        )
        SELECT o_orderkey, price, version,
               version AS valid_from,
               lead(version) OVER w AS valid_to,
               lead(version) OVER w IS NULL AS is_current
        FROM changes
        WINDOW w AS (PARTITION BY o_orderkey ORDER BY version)
    """,
    "streaming_dedup": """
        SELECT strftime(ts, '%Y-%m-%d') AS event_date, event_type,
               count(DISTINCT event_id) AS n_events
        FROM events
        GROUP BY strftime(ts, '%Y-%m-%d'), event_type
    """,
    "streaming_latest_state": """
        SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC
            ) AS rn FROM events
        ) WHERE rn = 1
    """,
    "salted_revenue_join": """
        SELECT o_orderpriority,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    """,
    "bloom_pruned_revenue": """
        SELECT o_orderpriority,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_totalprice > 480000
        GROUP BY o_orderpriority
    """,
    "streaming_semi_join": """
        SELECT strftime(p.ts, '%Y-%m-%d') AS purchase_date,
               count(*) AS n_purchases,
               count(DISTINCT p.user_id) AS n_users
        FROM events p
        WHERE p.event_type = 'purchase'
          AND EXISTS (
              SELECT 1 FROM events c
              WHERE c.event_type = 'click'
                AND c.user_id = p.user_id
                AND c.ts >= p.ts - INTERVAL 24 HOUR
                AND c.ts <= p.ts
          )
        GROUP BY 1
    """,
    "streaming_interval_join": """
        SELECT strftime(l.ts, '%Y-%m-%d') AS purchase_date,
               count(*) AS n_pairs,
               count(DISTINCT l.event_id) AS n_purchases,
               count(DISTINCT r.event_id) AS n_clicks
        FROM events l JOIN events r
          ON l.user_id = r.user_id
         AND r.ts >= l.ts - INTERVAL 24 HOUR
         AND r.ts <= l.ts
        WHERE l.event_type = 'purchase' AND r.event_type = 'click'
        GROUP BY 1
    """,
    "range_join_events": """
        SELECT p.event_id AS purchase_id, count(*) AS n_events_prev_hour
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        JOIN events e
          ON e.user_id = p.user_id
         AND epoch(e.ts) >= epoch(p.ts) - 3600.0
         AND epoch(e.ts) <= epoch(p.ts)
        GROUP BY p.event_id
    """,
    "cube_orders": """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_rows,
               round(sum(round(o_totalprice, 2)), 2) AS sum_o_totalprice
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "tumbling_event_windows": """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               count(*) AS n_events,
               round(sum(value), 2) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    "session_windows": """
        WITH marked AS (
            SELECT user_id, ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        numbered AS (
            SELECT *, sum(new_session) OVER (
                PARTITION BY user_id ORDER BY ts
                ROWS UNBOUNDED PRECEDING
            ) AS session_no
            FROM marked
        )
        SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               user_id,
               count(*) AS n_events,
               round(sum(value), 2) AS sum_value
        FROM numbered
        GROUP BY user_id, session_no
    """,
    "value_percentiles": """
        SELECT event_type,
               round(quantile_cont(value, 0.5), 4) AS p50,
               round(quantile_cont(value, 0.9), 4) AS p90,
               round(quantile_cont(value, 0.99), 4) AS p99
        FROM events
        GROUP BY event_type
    """,
    # derived-invariant oracles (VERDICT r8 #3): the approx/sketch gates
    # hash exact values + within-tolerance flags, so the oracle emits
    # the exact side and constant-true flags
    "daily_event_stats_approx": """
        SELECT event_type,
               strftime(ts, '%Y-%m-%d') AS event_date,
               count(DISTINCT user_id) AS distinct_users_exact,
               1 AS approx_ok,
               floor(CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2)
                          AS DOUBLE) / count(value) * 10000 + 0.5)
                   / 10000 AS avg_value,
               round(max(value), 4) AS max_value,
               round(min(value), 4) AS min_value
        FROM events
        GROUP BY event_type, strftime(ts, '%Y-%m-%d')
    """,
    "distinct_users_sketch_rollup": """
        SELECT event_type,
               count(DISTINCT user_id) AS distinct_users_exact,
               1 AS est_ok
        FROM events
        GROUP BY event_type
    """,
    "value_percentiles_approx": """
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               1 AS p50_rank_ok, 1 AS p90_rank_ok, 1 AS p99_rank_ok
        FROM events
        GROUP BY event_type
    """,
    "kll_quantiles": """
        SELECT event_type,
               CAST(count(value) AS BIGINT) AS n_values,
               1 AS p50_rank_ok, 1 AS p90_rank_ok, 1 AS p99_rank_ok
        FROM events
        GROUP BY event_type
    """,
    "theta_sketch_audiences": """
        WITH flags AS (
            SELECT user_id,
                   max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS p,
                   max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                       AS c
            FROM events
            WHERE event_type IN ('purchase', 'click')
            GROUP BY user_id
        )
        SELECT CAST(sum(p) AS BIGINT) AS n_purchasers,
               CAST(sum(c) AS BIGINT) AS n_clickers,
               CAST(sum(p * c) AS BIGINT) AS n_both,
               CAST(sum(p * (1 - c)) AS BIGINT) AS n_purchase_only,
               CAST(count(*) AS BIGINT) AS n_either,
               1 AS n_purchasers_est_ok,
               1 AS n_clickers_est_ok,
               1 AS n_both_est_ok,
               1 AS n_purchase_only_est_ok,
               1 AS n_either_est_ok
        FROM flags
    """,
    "stats_moments": """
        SELECT event_type,
               round(stddev_samp(value), 4) AS stddev_value,
               round(var_samp(value), 4) AS var_value,
               round(max(value) - min(value), 4) AS value_range,
               count(*) AS n
        FROM events
        GROUP BY event_type
    """,
    "profile_orders": """
        SELECT 'o_orderkey' AS column, count(*) AS n_rows,
               count(*) - count(o_orderkey) AS n_null,
               count(DISTINCT o_orderkey) AS n_distinct FROM orders
        UNION ALL
        SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
               count(DISTINCT o_custkey) FROM orders
        UNION ALL
        SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
               count(DISTINCT o_orderstatus) FROM orders
        UNION ALL
        SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
               count(DISTINCT o_orderpriority) FROM orders
    """,
    "shipping_priority": """
        SELECT l_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1997-06-01'
          AND l_shipdate > TIMESTAMP '1997-06-01'
        GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d')
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """,
    "returned_items": """
        SELECT c_custkey, c_name, n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
    """,
    "zorder_key": zorder_key_orders_sql(),
    "volume_shipping": """
        SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
               year(l_shipdate) AS l_year,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE (cn.n_name = 'NATION_3' AND sn.n_name = 'NATION_8')
           OR (cn.n_name = 'NATION_8' AND sn.n_name = 'NATION_3')
        GROUP BY sn.n_name, cn.n_name, year(l_shipdate)
    """,
    "promo_bracket_revenue": """
        SELECT p_brand,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size <= 10
               AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#3' AND p_size <= 25
               AND l_quantity BETWEEN 10 AND 35)
        GROUP BY p_brand
    """,
    "streaming_sliding_windows": """
        WITH mx AS (
            SELECT max(epoch_us(ts)) AS mu FROM events
        ), expanded AS (
            SELECT ((epoch_us(ts) // 1800000000) - i.i) * 1800000000 AS ws_us,
                   event_type, value
            FROM events
            CROSS JOIN (SELECT unnest(range(0, 4)) AS i) i
        )
        SELECT strftime(make_timestamp(ws_us), '%Y-%m-%d %H:%M:%S')
                   AS window_start,
               event_type,
               count(*) AS n_events,
               CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS sum_value
        FROM expanded, mx
        WHERE ws_us + 7200000000 <= mu - 3600000000
        GROUP BY 1, 2
    """,
    "streaming_append_windows": """
        WITH mx AS (
            SELECT max(epoch_us(ts)) AS mu FROM events
        )
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                   AS window_start,
               event_type,
               count(*) AS n_events,
               CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS sum_value
        FROM events, mx
        WHERE epoch_us(date_trunc('hour', ts)) + 3600000000
              <= mu - 3600000000
        GROUP BY 1, 2
    """,
    "cdc_apply": """
        WITH kept AS (
            SELECT o_orderkey, o_orderstatus, o_totalprice
            FROM orders
            WHERE o_orderkey % 7 <> 0
              AND NOT (o_orderkey % 5 = 0)
        ), updated AS (
            SELECT o_orderkey, o_orderstatus, o_totalprice * 1.1 AS o_totalprice
            FROM orders
            WHERE o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0
        ), inserted AS (
            SELECT o_orderkey + 10000000 AS o_orderkey, o_orderstatus,
                   o_totalprice
            FROM orders WHERE o_orderkey % 11 = 0
        )
        SELECT o_orderkey, o_orderstatus,
               floor(o_totalprice * 100 + 0.5) / 100 AS o_totalprice
        FROM (
            SELECT * FROM kept
            UNION ALL SELECT * FROM updated
            UNION ALL SELECT * FROM inserted
        )
    """,
    "zscore_by_type": """
        WITH m AS (
            SELECT event_type,
                   count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s,
                   CAST(sum(CAST(value * value AS DECIMAL(38,12)))
                        AS DOUBLE) AS ss
            FROM events GROUP BY event_type
        )
        SELECT event_id, e.event_type, value,
               floor((value - s / n)
                     / sqrt((ss - s * s / n) / (n - 1))
                     * 1e4 + 0.5) / 1e4 AS zscore
        FROM events e JOIN m ON e.event_type = m.event_type
    """,
    "hopping_windows": """
        WITH expanded AS (
            SELECT event_type, value,
                   unnest([date_trunc('hour', ts),
                           date_trunc('hour', ts) - INTERVAL 1 HOUR])
                       AS window_start
            FROM events
        )
        SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               count(*) AS n_events,
               CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS sum_value
        FROM expanded
        GROUP BY window_start, event_type
    """,
    "frequent_users": """
        WITH counts AS (
            SELECT event_type, user_id, count(*) AS n_events
            FROM events GROUP BY event_type, user_id
        )
        SELECT event_type, user_id, n_events, row_num FROM (
            SELECT event_type, user_id, n_events,
                   CAST(row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY n_events DESC, user_id ASC) AS INT)
                       AS row_num
            FROM counts
        ) WHERE row_num <= 3
    """,
    "distribution_drift": """
        WITH binned AS (
            SELECT event_type,
                   CAST(least(49, greatest(0,
                        floor((value - 0.0) / 10.0))) AS INT) AS bin,
                   count(*) FILTER (ts <  TIMESTAMP '2024-01-16') AS n_a,
                   count(*) FILTER (ts >= TIMESTAMP '2024-01-16') AS n_b
            FROM events GROUP BY 1, 2
        ), tot AS (
            SELECT event_type, sum(n_a) AS tot_a, sum(n_b) AS tot_b
            FROM binned GROUP BY 1
        ), terms AS (
            SELECT b.event_type,
                   (CASE WHEN n_a > 0 THEN (n_a / tot_a)
                         * ln((n_a / tot_a)
                              / ((n_a / tot_a + n_b / tot_b) / 2))
                         ELSE 0.0 END
                    + CASE WHEN n_b > 0 THEN (n_b / tot_b)
                           * ln((n_b / tot_b)
                                / ((n_a / tot_a + n_b / tot_b) / 2))
                           ELSE 0.0 END) / 2 AS term,
                   tot_a, tot_b
            FROM binned b JOIN tot USING (event_type)
        )
        SELECT event_type,
               round(sum(floor(term * 1e4 + 0.5) / 1e4), 4) AS js_divergence,
               CAST(max(tot_a) AS BIGINT) AS n_a,
               CAST(max(tot_b) AS BIGINT) AS n_b
        FROM terms GROUP BY event_type
    """,
    "histogram_quantiles": """
        WITH hist AS (
            SELECT event_type,
                   CAST(least(99, greatest(0, floor((value - 0.0) / 5.0)))
                        AS INT) AS bin,
                   count(*) AS n
            FROM events GROUP BY 1, 2
        ), cum AS (
            SELECT event_type, bin, n,
                   sum(n) OVER (PARTITION BY event_type ORDER BY bin
                                ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(n) OVER (PARTITION BY event_type) AS total
            FROM hist
        ), hit AS (
            SELECT event_type, q, bin, n, cum, q * total AS target,
                   row_number() OVER (PARTITION BY event_type, q
                                      ORDER BY bin) AS rn
            FROM cum CROSS JOIN (SELECT unnest([0.5, 0.9, 0.99]) AS q) qs
            WHERE cum >= q * total
        )
        SELECT event_type, q,
               floor((0.0 + 5.0 * (bin + (target - (cum - n)) / n))
                     * 1e4 + 0.5) / 1e4 AS quantile_est
        FROM hit WHERE rn = 1
    """,
    "local_supplier_volume": """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
          AND o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY n_name
    """,
    "nation_market_share": """
        SELECT year(o_orderdate) AS o_year,
               floor(
                   CAST(sum(CASE WHEN sn.n_name = 'NATION_3'
                            THEN CAST(l_extendedprice * (1 - l_discount)
                                      AS DECIMAL(18,6))
                            ELSE 0 END) AS DOUBLE)
                   / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(18,6))) AS DOUBLE)
                   * 1e4 + 0.5) / 1e4 AS mkt_share,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS total_revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region ON cn.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE r_name = 'EUROPE'
        GROUP BY year(o_orderdate)
    """,
    "regression_stats": """
        SELECT event_type,
               floor(regr_slope(value, (epoch(ts) - 1704067200) / 3600.0)
                     * 1e6 + 0.5) / 1e6 AS slope,
               floor(regr_intercept(value, (epoch(ts) - 1704067200) / 3600.0)
                     * 1e4 + 0.5) / 1e4 AS intercept,
               floor(regr_r2(value, (epoch(ts) - 1704067200) / 3600.0)
                     * 1e6 + 0.5) / 1e6 AS r2,
               CAST(regr_count(value, (epoch(ts) - 1704067200) / 3600.0)
                    AS BIGINT) AS n
        FROM events
        GROUP BY event_type
    """,
    "pattern_subsequence_search": """
        WITH series AS (
            SELECT user_id, list(value ORDER BY ts, event_id) AS vals
            FROM events GROUP BY user_id
        ), ok AS (
            SELECT user_id, vals, len(vals) AS n_points
            FROM series WHERE len(vals) >= 8
        ), wins AS (
            SELECT user_id, n_points,
                   unnest(generate_series(1, n_points - 7)) AS start
            FROM ok
        ), scored AS (
            SELECT w.user_id, w.n_points, w.start,
                   list_sum(list_transform(generate_series(0, 7), j ->
                       CAST((o.vals[w.start + j]
                             - [50.0,100.0,150.0,200.0,250.0,300.0,350.0,400.0][j + 1])
                            * (o.vals[w.start + j]
                             - [50.0,100.0,150.0,200.0,250.0,300.0,350.0,400.0][j + 1])
                            AS DECIMAL(18,6)))) AS d2
            FROM wins w JOIN ok o ON w.user_id = o.user_id
        )
        SELECT user_id, n_points, start AS best_start,
               CAST(d2 AS DOUBLE) AS best_dist2
        FROM scored
        QUALIFY row_number() OVER (
            PARTITION BY user_id ORDER BY d2, start) = 1
    """,
    "streaming_ewma": """
        WITH s AS (
            SELECT event_id, event_type, ts,
                   list(CAST(value AS DOUBLE)) OVER (
                       PARTITION BY event_type ORDER BY ts, event_id
                       ROWS BETWEEN 20 PRECEDING AND CURRENT ROW) AS vals
            FROM events
        )
        SELECT event_id, event_type,
               floor(
                   list_reduce(
                       list_transform(range(1, len(vals) + 1),
                           i -> vals[i] / CAST(1 << (len(vals) - i) AS DOUBLE)),
                       (a, b) -> a + b)
                   / (CAST(2.0 AS DOUBLE)
                      - CAST(1.0 AS DOUBLE)
                        / CAST(1 << (len(vals) - 1) AS DOUBLE))
                   * 1e6 + CAST(0.5 AS DOUBLE)) / 1e6 AS ewma
        FROM s
    """,
    "ewma_anomalies": """
        WITH s AS (
            SELECT event_id, event_type, ts, CAST(value AS DOUBLE) AS v,
                   list(CAST(value AS DOUBLE)) OVER (
                       PARTITION BY event_type ORDER BY ts, event_id
                       ROWS BETWEEN 20 PRECEDING AND CURRENT ROW) AS vals
            FROM events
        ), e AS (
            SELECT event_id, event_type, v,
                   floor(
                       list_reduce(
                           list_transform(range(1, len(vals) + 1),
                               i -> vals[i] / CAST(1 << (len(vals) - i) AS DOUBLE)),
                           (a, b) -> a + b)
                       / (CAST(2.0 AS DOUBLE)
                          - CAST(1.0 AS DOUBLE)
                            / CAST(1 << (len(vals) - 1) AS DOUBLE))
                       * 1e6 + CAST(0.5 AS DOUBLE)) / 1e6 AS ewma,
                   row_number() OVER (
                       PARTITION BY event_type ORDER BY ts, event_id) AS rn
            FROM s
        ), lagged AS (
            SELECT event_id, event_type, v, ewma,
                   lag(ewma) OVER (
                       PARTITION BY event_type ORDER BY rn) AS prev
            FROM e
        ), st AS (
            SELECT event_type, count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv,
                   CAST(sum(CAST(CAST(value AS DOUBLE) * CAST(value AS DOUBLE)
                                 AS DECIMAL(27,12))) AS DOUBLE) AS sv2
            FROM events GROUP BY event_type
        )
        SELECT l.event_id, l.event_type, l.ewma,
               coalesce(
                   floor(abs(l.v - l.prev) * 1e6 + CAST(0.5 AS DOUBLE)) / 1e6
                   > floor(CAST(3.0 AS DOUBLE)
                           * sqrt((st.sv2 - st.sv * st.sv / st.n) / (st.n - 1))
                           * 1e6 + CAST(0.5 AS DOUBLE)) / 1e6,
                   false) AS is_anomaly
        FROM lagged l JOIN st USING (event_type)
    """,
    "hourly_gap_fill": """
        WITH b AS (
            SELECT event_type, date_trunc('hour', ts) AS bucket_start,
                   count(*) AS n_events,
                   CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
                       AS sum_value
            FROM events
            GROUP BY 1, 2
        ), spine AS (
            SELECT event_type,
                   unnest(generate_series(min(bucket_start), max(bucket_start),
                                          INTERVAL 1 HOUR)) AS bucket_start
            FROM b GROUP BY event_type
        )
        SELECT s.event_type,
               strftime(s.bucket_start, '%Y-%m-%d %H:%M:%S') AS bucket_start,
               coalesce(b.n_events, 0) AS n_events,
               coalesce(b.sum_value, 0.0) AS sum_value,
               last_value(b.sum_value IGNORE NULLS) OVER (
                   PARTITION BY s.event_type ORDER BY s.bucket_start
                   ROWS UNBOUNDED PRECEDING
               ) AS ffill_sum
        FROM spine s
        LEFT JOIN b ON b.event_type = s.event_type
                   AND b.bucket_start = s.bucket_start
    """,
    "streaming_daily_stats": """
        SELECT event_type,
               strftime(ts, '%Y-%m-%d') AS event_date,
               count(*) AS n_events,
               round(sum(value), 2) AS sum_value,
               round(min(value), 4) AS min_value,
               round(max(value), 4) AS max_value
        FROM events
        GROUP BY event_type, strftime(ts, '%Y-%m-%d')
    """,
}

# The streaming sketch must reproduce the batch sketch exactly —
# identical oracle, different execution path (streaming↔batch parity).
CORE_ORACLES["streaming_histogram_quantiles"] = CORE_ORACLES[
    "histogram_quantiles"
]

CORE_ORACLES["ivm_join_refresh"] = CORE_ORACLES_IVM_JOIN
CORE_ORACLES["change_feed_images"] = CORE_ORACLES_CDF_IMAGES
CORE_ORACLES["incremental_view_refresh"] = """
        WITH v1 AS (
            SELECT o_orderkey AS k, o_orderstatus AS s, o_totalprice AS p
            FROM orders
        ), v2 AS (
            SELECT k,
                   CASE WHEN k % 13 = 0 THEN 'X' ELSE s END AS s,
                   CASE WHEN k % 5 = 0 THEN p * CAST(1.1 AS DOUBLE)
                        ELSE p END AS p
            FROM v1 WHERE k % 7 <> 0
            UNION ALL
            SELECT k + 10000000, s, p FROM v1 WHERE k % 11 = 0
        )
        SELECT s AS o_orderstatus,
               count(*) AS n_rows,
               CAST(round(sum(CAST(p AS DECIMAL(27,6))), 2) AS DOUBLE)
                   AS sum_totalprice
        FROM v2 GROUP BY s
    """

CORE_ORACLES["streaming_view_maintenance"] = """
        WITH ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC
            ) AS rn
            FROM events
        ), latest AS (
            SELECT event_type, value FROM ranked WHERE rn = 1
        )
        SELECT event_type, count(*) AS n_rows,
               CAST(round(sum(CAST(value AS DECIMAL(27,6))), 2) AS DOUBLE)
                   AS sum_value
        FROM latest GROUP BY event_type
    """

CORE_ORACLES["robust_outlier_stats"] = """
        WITH med AS (
            SELECT event_type,
                   floor(quantile_cont(value, 0.5) * 1e6
                         + CAST(0.5 AS DOUBLE)) / 1e6 AS med
            FROM events GROUP BY event_type
        ), dev AS (
            SELECT e.event_type, med, abs(value - med) AS d
            FROM events e JOIN med USING (event_type)
        ), mad AS (
            SELECT event_type,
                   floor(quantile_cont(d, 0.5) * 1e6
                         + CAST(0.5 AS DOUBLE)) / 1e6 AS mad
            FROM dev GROUP BY event_type
        )
        SELECT dev.event_type, dev.med, mad.mad,
               count(*) AS n,
               CAST(count(*) FILTER (
                   WHERE CAST(0.6745 AS DOUBLE) * dev.d / mad.mad > 3.5
               ) AS BIGINT) AS n_outliers
        FROM dev JOIN mad USING (event_type)
        GROUP BY dev.event_type, dev.med, mad.mad
    """

CORE_ORACLES["triangle_counts"] = """
        WITH e0 AS (
            SELECT CAST(c_custkey AS BIGINT) AS src,
                   CAST(c_custkey // 2 AS BIGINT) AS dst
            FROM customer WHERE c_custkey >= 2
            UNION ALL
            SELECT CAST(c_custkey AS BIGINT),
                   CAST(c_custkey - 1 AS BIGINT)
            FROM customer WHERE c_custkey >= 1
        ), e AS (
            SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM e0 WHERE src <> dst
        ), tri AS (
            SELECT x.a, x.b, y.b AS c
            FROM e x
            JOIN e y ON x.b = y.a
            JOIN e z ON z.a = x.a AND z.b = y.b
        ), corners AS (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ), pern AS (
            SELECT node, count(*) AS cnt FROM corners GROUP BY node
        ), nodes AS (
            SELECT a AS node FROM e UNION SELECT b FROM e
        )
        SELECT node AS custkey, COALESCE(cnt, 0) AS n_triangles
        FROM nodes LEFT JOIN pern USING (node)
    """

CORE_ORACLES["supplier_pagerank"] = """
        WITH edges AS (
            SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
            FROM lineitem a
            JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                           AND a.l_suppkey <> b.l_suppkey
        ), deg AS (
            SELECT src, count(*) AS d FROM edges GROUP BY src
        ), r0 AS (
            SELECT DISTINCT src AS node, CAST(1.0 AS DOUBLE) AS rank
            FROM edges
        ), r1 AS (
            SELECT e.dst AS node,
                   floor((0.15 + 0.85 * CAST(sum(CAST(r.rank / deg.d
                              AS DECIMAL(27,12))) AS DOUBLE)) * 1e9 + 0.5)
                       / 1e9 AS rank
            FROM edges e
            JOIN r0 r ON e.src = r.node
            JOIN deg ON deg.src = e.src
            GROUP BY e.dst
        ), r2 AS (
            SELECT e.dst AS node,
                   floor((0.15 + 0.85 * CAST(sum(CAST(r.rank / deg.d
                              AS DECIMAL(27,12))) AS DOUBLE)) * 1e9 + 0.5)
                       / 1e9 AS rank
            FROM edges e
            JOIN r1 r ON e.src = r.node
            JOIN deg ON deg.src = e.src
            GROUP BY e.dst
        ), r3 AS (
            SELECT e.dst AS node,
                   floor((0.15 + 0.85 * CAST(sum(CAST(r.rank / deg.d
                              AS DECIMAL(27,12))) AS DOUBLE)) * 1e9 + 0.5)
                       / 1e9 AS rank
            FROM edges e
            JOIN r2 r ON e.src = r.node
            JOIN deg ON deg.src = e.src
            GROUP BY e.dst
        ), r4 AS (
            SELECT e.dst AS node,
                   floor((0.15 + 0.85 * CAST(sum(CAST(r.rank / deg.d
                              AS DECIMAL(27,12))) AS DOUBLE)) * 1e9 + 0.5)
                       / 1e9 AS rank
            FROM edges e
            JOIN r3 r ON e.src = r.node
            JOIN deg ON deg.src = e.src
            GROUP BY e.dst
        ), r5 AS (
            SELECT e.dst AS node,
                   floor((0.15 + 0.85 * CAST(sum(CAST(r.rank / deg.d
                              AS DECIMAL(27,12))) AS DOUBLE)) * 1e9 + 0.5)
                       / 1e9 AS rank
            FROM edges e
            JOIN r4 r ON e.src = r.node
            JOIN deg ON deg.src = e.src
            GROUP BY e.dst
        )
        SELECT node AS suppkey, rank FROM r5
"""
