"""Advanced analytics operators: as-of join, range join, rollup,
pivot, top-N per group, exact percentiles, and three more TPC-H-style
queries.

Scale notes (100 TB posture):

- **As-of join** (`asof_last_touch`): the classic finance/attribution
  operator Spark lacks natively. Implemented as the *union-and-window*
  plan: tag both sides, union, one window over (key, time) carrying the
  last right-side row forward via `last(..., ignorenulls=True)`. Cost
  is ONE shuffle on the join key — no range explosion, no per-key
  driver loop, skew behaves like any window. This is the standard
  distributed as-of strategy (the same shape Flink/kdb+ use).
- **Range join** (`range_join_touch_counts`): naive time-interval
  joins explode; the scalable form buckets time to the window width
  and joins on (key, bucket) with the right side exploded to the
  buckets it can serve (here: its own hour and the next). Shuffle keys
  stay uniform; the residual interval filter is cheap post-join.
- **Rollup/pivot**: `F.rollup` + `grouping_id` and a fixed-value-list
  `pivot` keep everything in one partial-aggregable hash aggregate.
- **Percentiles**: `percentile(...)` here is the exact (sort-based)
  form so the DuckDB oracle matches bit-for-bit; at 100 TB swap in
  `approx_percentile` (t-digest, mergeable, one pass) — same plan
  shape, documented tolerance.

Money math uses the fixed-point cents trick from `plans.tpch` so sums
are bit-identical across engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..datamodel import load_table
from .tpch import (
    REVENUE_S_SQL,
    _cents,
    _exact_sum,
    _money,
    _revenue_s,
    _sql_cents,
    _sql_money,
)


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


TOUCH_TYPES = ("click", "view")


def q_asof_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase matched to the user's most
    recent click/view at-or-before it (ASOF semantics, `<=`).

    Union-and-window implementation — one shuffle on user_id; the
    window carries the latest touch forward into every purchase row.
    Oracle: DuckDB's native ASOF LEFT JOIN.
    """
    from ..operators.asof import asof_join

    events = _t(spark, sf_dir, "events")
    touches = events.filter(F.col("event_type").isin(*TOUCH_TYPES)).select(
        "user_id", F.col("ts").alias("touch_ts"),
        F.col("event_id").alias("touch_id"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    return asof_join(
        purchases, touches, on=["user_id"],
        left_ts="purchase_ts", right_ts="touch_ts",
        right_tiebreak="touch_id",
    ).select(
        "purchase_id",
        "user_id",
        "purchase_ts",
        "touch_id",
        "touch_ts",
        (F.unix_micros(F.col("purchase_ts")) - F.unix_micros(F.col("touch_ts")))
        .alias("micros_since_touch"),
    )


def q_asof_next_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each purchase matched to the user's NEXT error
    event at-or-after it (time-to-failure analysis). Same single
    window shuffle as the backward form, frame reversed."""
    from ..operators.asof import asof_join

    events = _t(spark, sf_dir, "events")
    errors = events.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("error_ts"),
        F.col("event_id").alias("error_id"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    return asof_join(
        purchases, errors, on=["user_id"],
        left_ts="purchase_ts", right_ts="error_ts",
        right_tiebreak="error_id", direction="forward",
    ).select(
        "purchase_id",
        "user_id",
        "purchase_ts",
        "error_id",
        "error_ts",
        (F.unix_micros(F.col("error_ts")) - F.unix_micros(F.col("purchase_ts")))
        .alias("micros_to_error"),
    )


def q_range_join_touch_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Touches in the hour before each purchase (interval join).

    Bucketed implementation: both sides keyed by (user_id, epoch-hour);
    each touch is exploded to the two hour-buckets whose purchases it
    can precede. Equi-join + residual filter — no range explosion.
    """
    events = _t(spark, sf_dir, "events")
    hour = lambda c: (F.unix_micros(c) / F.lit(3_600_000_000)).cast("long")  # noqa: E731
    touches = (
        events.filter(F.col("event_type").isin(*TOUCH_TYPES))
        .select(
            "user_id",
            F.col("ts").alias("touch_ts"),
            F.explode(F.array(hour(F.col("ts")), hour(F.col("ts")) + 1)).alias(
                "bucket"
            ),
        )
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        hour(F.col("ts")).alias("bucket"),
    )
    # r19 (guide §2.4/§3): LEFT-join the touches with the range
    # predicate in the join condition and count matches per purchase
    # in ONE aggregation — zero rows still yield their group (the
    # null row counts as 0), so the old inner-join + count + second
    # LEFT join back to the purchase spine (which planned as a
    # SortMergeJoin) disappears. One join + one groupBy instead of
    # two joins + one groupBy; output identical.
    matched = (
        purchases.join(
            touches,
            (purchases["user_id"] == touches["user_id"])
            & (purchases["bucket"] == touches["bucket"])
            & (F.col("touch_ts") < F.col("purchase_ts"))
            & (
                F.col("touch_ts")
                >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")
            ),
            "left",
        )
        .groupBy("purchase_id")
        .agg(F.count("touch_ts").alias("touches_1h"))
    )
    return matched.select("purchase_id", "touches_1h")


def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order revenue ROLLUP over (region, nation) with grouping_id —
    region subtotals and a grand total in one hash aggregate."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    )
    return joined.rollup("r_name", "n_name").agg(
        F.grouping_id().cast("int").alias("grp"),
        F.count("*").alias("order_count"),
        _money(_exact_sum(_cents("o_totalprice")), 100).alias("revenue"),
    )


def q_nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per nation with percent-of-total — the share-of-whole
    window (sum over an empty partition) computed on the tiny
    POST-aggregate relation, never on the fact table."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    per_nation = (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(_exact_sum(_cents("o_totalprice")).alias("cents"))
    )
    from ..functions.windows import bounded_spec

    # |nations| = 25 rows: deliberate single-partition share window
    total = F.sum("cents").over(bounded_spec(per_nation))
    return per_nation.select(
        "n_name",
        F.round(F.col("cents").cast("double") / 100, 2).alias("revenue"),
        F.round(F.lit(100.0) * F.col("cents") / total, 4).alias("revenue_pct"),
    )


def q_customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days between consecutive orders per customer (lag window) and
    the per-customer cadence summary — the repeat-behavior metric."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        "o_custkey",
        F.datediff(
            "o_orderdate", F.lag("o_orderdate").over(w)
        ).alias("gap_days"),
    )
    return (
        gaps.filter(F.col("gap_days").isNotNull())
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_gaps"),
            F.min("gap_days").alias("min_gap_days"),
            F.max("gap_days").alias("max_gap_days"),
            F.round(F.avg("gap_days"), 4).alias("avg_gap_days"),
        )
    )


def q_user_segments_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra over user cohorts: purchasers INTERSECT error-free
    users, and purchasers EXCEPT clickers — planned as left-semi /
    left-anti joins (no materialized id lists). One row per segment."""
    ev = _t(spark, sf_dir, "events")

    def users_of(t):
        return ev.filter(F.col("event_type") == t).select("user_id").distinct()

    purchasers = users_of("purchase")
    clickers = users_of("click")
    erroring = users_of("error")
    loyal = purchasers.intersect(ev.select("user_id").distinct().exceptAll(erroring))
    silent_buyers = purchasers.exceptAll(clickers)
    return spark.createDataFrame(
        [("purchasers",), ("error_free_purchasers",), ("non_clicking_purchasers",)],
        "segment string",
    ).join(
        purchasers.agg(F.count("*").alias("n")).select(
            F.lit("purchasers").alias("segment"), "n"
        )
        .unionByName(
            loyal.agg(F.count("*").alias("n")).select(
                F.lit("error_free_purchasers").alias("segment"), "n"
            )
        )
        .unionByName(
            silent_buyers.agg(F.count("*").alias("n")).select(
                F.lit("non_clicking_purchasers").alias("segment"), "n"
            )
        ),
        "segment",
    ).select("segment", F.col("n").cast("long").alias("n_users"))


def q_revenue_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS — (segment, priority), (segment), (priority), ():
    four report grains in ONE hash aggregate instead of four scans."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]
    )
    joined.createOrReplaceTempView("ord_cust_gs")
    return spark.sql(
        f"""
        SELECT c_mktsegment, o_orderpriority,
               CAST(GROUPING_ID() AS INT) AS grp,
               COUNT(*) AS order_count,
               ROUND(CAST(SUM({_sql_cents('o_totalprice')}) AS DOUBLE) / 100, 2)
                 AS revenue
        FROM ord_cust_gs
        GROUP BY GROUPING SETS ((c_mktsegment, o_orderpriority),
                                (c_mktsegment), (o_orderpriority), ())
        """
    )


def q_events_hourly_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity heatmap: events per (day-of-week, hour-of-day) — the
    seasonality fingerprint; one partial-aggregable groupBy."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.dayofweek("ts").alias("dow"), F.hour("ts").alias("hour")
    ).agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("unique_users"),
    )


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def q_daily_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events per day pivoted to one column per type. The value list is
    fixed so the schema is static (no extra distinct-scan job)."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("event_date"))
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .select(
            "event_date",
            *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in EVENT_TYPES],
        )
    )


def q_daily_event_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MELT — the inverse reshaping of `daily_event_pivot`: the wide
    per-day matrix back to long (event_date, event_type, n_events)
    rows via `unpivot` (Spark plans it as an Expand — one pass, no
    join, no shuffle beyond the pivot's own aggregate). Round-trip
    sanity: unpivot(pivot(x)) == the plain groupBy — which is exactly
    the DuckDB oracle, so the driver hash proves the round trip."""
    wide = q_daily_event_pivot(spark, sf_dir)
    return wide.unpivot(
        ["event_date"],
        [f"n_{t}" for t in EVENT_TYPES],
        "event_type",
        "n_events",
    ).withColumn(
        "event_type", F.expr("substring(event_type, 3)")
    )


TOP_PARTS_N = 3


def q_top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts by revenue within each brand: broadcast dim join,
    one agg, one window rank. Revenue is exact cents so the ranking is
    deterministic across engines."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    per_part = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "p_partkey", "p_name")
        .agg(_money(_exact_sum(_revenue_s()), 10000).alias("revenue"))
    )
    w = Window.partitionBy("p_brand").orderBy(
        F.col("revenue").desc(), F.col("p_partkey")
    )
    return (
        per_part.withColumn("brand_rank", F.row_number().over(w))
        .filter(F.col("brand_rank") <= TOP_PARTS_N)
        .select("p_brand", "brand_rank", "p_partkey", "p_name", "revenue")
    )


PCTS = (0.25, 0.5, 0.75, 0.9)


def q_event_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantiles of event value per type (linear interpolation —
    identical to DuckDB quantile_cont). 100 TB path: approx_percentile
    (mergeable t-digest sketch), same plan shape."""
    events = _t(spark, sf_dir, "events")
    pct_arr = ", ".join(f"{p}D" for p in PCTS)
    agg = events.groupBy("event_type").agg(
        F.expr(f"percentile(value, array({pct_arr}))").alias("qs")
    )
    return agg.select(
        "event_type", F.posexplode("qs").alias("pos", "q")
    ).select(
        "event_type",
        F.element_at(
            F.array(*[F.lit(int(p * 100)) for p in PCTS]), F.col("pos") + 1
        ).alias("pct"),
        F.round("q", 6).alias("value"),
    )


APPROX_PCT_ACC = 1000  # approx_percentile rank-error guarantee: 1/1000
APPROX_PCT_BAND_PPM = 20_000  # attested band: 2% of n (20x the guarantee)


def q_approx_percentile_attest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-attested 100 TB percentile path: ``approx_percentile``
    (mergeable quantile sketch, one pass, partial-aggregable) with its
    rank-error guarantee checked IN THE QUERY.

    The sketch's returned values are implementation-specific, so the
    attestation is done in RANK space, where the guarantee actually
    lives: for each returned quantile q at percentile p, count the rows
    with ``value <= q`` and verify ``|cnt_le/n - p| <= band`` — entirely
    in integer arithmetic (``|cnt_le*1e6 - pct_ppm*n| <= n*band_ppm``,
    decimal-widened so ANSI mode can't overflow). The hashed output is
    (event_type, pct, n_rows, in_band); the DuckDB oracle emits the
    same keys with ``in_band = 1``, so an out-of-band sketch turns the
    driver row red. Band is 2% of n vs the sketch's 0.1% guarantee —
    the slack absorbs ties on ``value`` (cnt_le counts ALL duplicates
    of q; measured max tie depth is 12 rows at sf0.1, well under the
    band).

    The second pass over events is the attestation harness, not the
    production plan — at 100 TB you run the sketch pass alone and rely
    on the (now driver-proven) guarantee. Exact twin:
    `event_value_percentiles`."""
    events = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    pct_arr = ", ".join(f"{p}D" for p in PCTS)
    qs = (
        events.groupBy("event_type")
        .agg(
            F.expr(
                f"approx_percentile(value, array({pct_arr}),"
                f" {APPROX_PCT_ACC})"
            ).alias("qs")
        )
        .select("event_type", F.posexplode("qs").alias("pos", "q"))
        .select(
            "event_type",
            F.element_at(
                F.array(*[F.lit(int(p * 1_000_000)) for p in PCTS]),
                F.col("pos") + 1,
            ).alias("pct_ppm"),
            "q",
        )
    )
    ranks = (
        events.join(F.broadcast(qs), "event_type")
        .groupBy("event_type", "pct_ppm")
        .agg(
            F.sum(
                F.when(F.col("value") <= F.col("q"), 1).otherwise(0)
            ).alias("cnt_le"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    dev = F.expr(
        "abs(CAST(cnt_le AS DECIMAL(38,0)) * 1000000"
        " - CAST(pct_ppm AS DECIMAL(38,0)) * n_rows)"
    )
    band = F.expr(
        f"CAST(n_rows AS DECIMAL(38,0)) * {APPROX_PCT_BAND_PPM}"
    )
    return ranks.select(
        "event_type",
        F.expr("CAST(pct_ppm div 10000 AS INT)").alias("pct"),
        "n_rows",
        (dev <= band).cast("long").alias("in_band"),
    )


def q_tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by revenue lost to returned items in
    one quarter."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_money(_exact_sum(_revenue_s()), 10000).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def q_tpch_q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share for one month (conditional agg
    over a broadcast dim join; one pass)."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = _revenue_s()
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .agg(
            _exact_sum(promo).alias("promo_s"),
            _exact_sum(rev).alias("total_s"),
        )
        .select(
            F.round(F.lit(100.0) * F.col("promo_s") / F.col("total_s"), 4)
            .alias("promo_revenue_pct"),
            _money(F.col("promo_s"), 10000).alias("promo_revenue"),
            _money(F.col("total_s"), 10000).alias("total_revenue"),
        )
    )


Q18_QTY = 300


def q_tpch_q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: customers whose single order exceeds the quantity
    threshold (agg → having → join back; the having filter runs before
    the join so only qualifying orders shuffle)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(_money(_exact_sum(_cents("l_quantity")), 100).alias("sum_qty"))
        .filter(F.col("sum_qty") > Q18_QTY)
    )
    return (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            _money(_cents("o_totalprice"), 100).alias("o_totalprice"),
            "sum_qty",
        )
    )


#: round-1-unchecked queries first — the correctness driver walks
#: this dict in order under a bounded budget (see registry.py).
QUERIES = {
    "nation_revenue_share": q_nation_revenue_share,
    "customer_order_gaps": q_customer_order_gaps,
    "user_segments_setops": q_user_segments_setops,
    "daily_event_pivot": q_daily_event_pivot,
    "daily_event_unpivot": q_daily_event_unpivot,
    "top_parts_per_brand": q_top_parts_per_brand,
    "event_value_percentiles": q_event_value_percentiles,
    "approx_percentile_attest": q_approx_percentile_attest,
    "tpch_q10_returned_items": q_tpch_q10_returned_items,
    "tpch_q14_promo_effect": q_tpch_q14_promo_effect,
    "tpch_q18_large_volume": q_tpch_q18_large_volume,
    "asof_last_touch": q_asof_last_touch,
    "asof_next_error": q_asof_next_error,
    "range_join_touch_counts": q_range_join_touch_counts,
    "revenue_rollup": q_revenue_rollup,
    "revenue_grouping_sets": q_revenue_grouping_sets,
    "events_hourly_heatmap": q_events_hourly_heatmap,
}

_OP = _sql_cents("o_totalprice")
_REV_MONEY = _sql_money(REVENUE_S_SQL, 10000)
_Q = _sql_cents("l_quantity")

_TOUCH_SQL = ", ".join(f"'{t}'" for t in TOUCH_TYPES)

_TOUCH_CTE = f"""
touches AS (SELECT user_id, ts, MAX(event_id) AS touch_id
            FROM events WHERE event_type IN ({_TOUCH_SQL})
            GROUP BY user_id, ts),
purchases AS (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase')
""".strip()

_PIVOT_COLS = ",\n       ".join(
    f"COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS n_{t}"
    for t in EVENT_TYPES
)

_PCT_LIST = ", ".join(str(p) for p in PCTS)
_PCT_LABELS = ", ".join(str(int(p * 100)) for p in PCTS)

ORACLES = {
    "asof_last_touch": f"""
WITH {_TOUCH_CTE}
SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
       t.touch_id, t.ts AS touch_ts,
       epoch_us(p.ts) - epoch_us(t.ts) AS micros_since_touch
FROM purchases p ASOF LEFT JOIN touches t
  ON p.user_id = t.user_id AND t.ts <= p.ts""",
    "asof_next_error": """
WITH errs AS (SELECT user_id, ts, MIN(event_id) AS error_id
              FROM events WHERE event_type = 'error'
              GROUP BY user_id, ts),
p AS (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase')
SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
       e.error_id, e.ts AS error_ts,
       epoch_us(e.ts) - epoch_us(p.ts) AS micros_to_error
FROM p ASOF LEFT JOIN errs e
  ON p.user_id = e.user_id AND e.ts >= p.ts""",
    "range_join_touch_counts": """
WITH t AS (SELECT user_id, ts FROM events
           WHERE event_type IN ('click','view')),
p AS (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase')
SELECT p.event_id AS purchase_id, COUNT(t.ts) AS touches_1h
FROM p LEFT JOIN t
  ON t.user_id = p.user_id
 AND t.ts < p.ts AND t.ts >= p.ts - INTERVAL 1 HOUR
GROUP BY p.event_id""",
    "revenue_rollup": f"""
SELECT r_name, n_name, CAST(GROUPING(r_name, n_name) AS INT) AS grp,
       COUNT(*) AS order_count,
       ROUND(CAST(SUM({_OP}) AS DOUBLE) / 100, 2) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)""",
    "user_segments_setops": """
WITH purchasers AS (SELECT DISTINCT user_id FROM events
                    WHERE event_type = 'purchase'),
clickers AS (SELECT DISTINCT user_id FROM events
             WHERE event_type = 'click'),
erroring AS (SELECT DISTINCT user_id FROM events
             WHERE event_type = 'error'),
all_users AS (SELECT DISTINCT user_id FROM events)
SELECT 'purchasers' AS segment, COUNT(*) AS n_users FROM purchasers
UNION ALL
SELECT 'error_free_purchasers', COUNT(*) FROM (
  SELECT user_id FROM purchasers
  INTERSECT
  (SELECT user_id FROM all_users EXCEPT SELECT user_id FROM erroring))
UNION ALL
SELECT 'non_clicking_purchasers', COUNT(*) FROM (
  SELECT user_id FROM purchasers EXCEPT SELECT user_id FROM clickers)""",
    "nation_revenue_share": f"""
WITH per_nation AS (
  SELECT n_name, SUM({_sql_cents('o_totalprice')}) AS cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name)
SELECT n_name,
       ROUND(CAST(cents AS DOUBLE) / 100, 2) AS revenue,
       ROUND(100.0 * CAST(cents AS DOUBLE)
             / CAST(SUM(cents) OVER () AS DOUBLE), 4) AS revenue_pct
FROM per_nation""",
    "customer_order_gaps": """
WITH gaps AS (
  SELECT o_custkey,
         datediff('day',
                  lag(o_orderdate) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey),
                  o_orderdate) AS gap_days
  FROM orders)
SELECT o_custkey,
       COUNT(*) AS n_gaps,
       CAST(MIN(gap_days) AS INT) AS min_gap_days,
       CAST(MAX(gap_days) AS INT) AS max_gap_days,
       ROUND(AVG(gap_days), 4) AS avg_gap_days
FROM gaps WHERE gap_days IS NOT NULL
GROUP BY o_custkey""",
    "revenue_grouping_sets": f"""
SELECT c_mktsegment, o_orderpriority,
       CAST(GROUPING(c_mktsegment, o_orderpriority) AS INT) AS grp,
       COUNT(*) AS order_count,
       ROUND(CAST(SUM({_sql_cents('o_totalprice')}) AS DOUBLE) / 100, 2)
         AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY GROUPING SETS ((c_mktsegment, o_orderpriority),
                        (c_mktsegment), (o_orderpriority), ())""",
    "events_hourly_heatmap": """
SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow, CAST(hour(ts) AS INT) AS hour,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS unique_users
FROM events GROUP BY dow, hour""",
    "daily_event_unpivot": f"""
WITH days AS (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS event_date
              FROM events),
t(event_type) AS (VALUES {", ".join(f"('{t}')" for t in EVENT_TYPES)}),
cnt AS (SELECT strftime(ts, '%Y-%m-%d') AS event_date, event_type,
               COUNT(*) AS c
        FROM events GROUP BY 1, 2)
SELECT days.event_date, t.event_type,
       CAST(COALESCE(cnt.c, 0) AS BIGINT) AS n_events
FROM days CROSS JOIN t
LEFT JOIN cnt ON cnt.event_date = days.event_date
             AND cnt.event_type = t.event_type""",
    "daily_event_pivot": f"""
SELECT strftime(ts, '%Y-%m-%d') AS event_date,
       {_PIVOT_COLS}
FROM events GROUP BY event_date""",
    "top_parts_per_brand": f"""
SELECT p_brand, brand_rank, p_partkey, p_name, revenue FROM (
  SELECT p_brand, p_partkey, p_name,
         {_REV_MONEY} AS revenue,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY p_brand
           ORDER BY {_REV_MONEY} DESC,
                    p_partkey) AS INT) AS brand_rank
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand, p_partkey, p_name)
WHERE brand_rank <= {TOP_PARTS_N}""",
    "event_value_percentiles": f"""
WITH q AS (SELECT event_type,
                  quantile_cont(value, [{_PCT_LIST}]) AS qs
           FROM events GROUP BY event_type)
SELECT event_type,
       unnest([{_PCT_LABELS}]) AS pct,
       ROUND(unnest(qs), 6) AS value
FROM q""",
    "approx_percentile_attest": f"""
WITH n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows
           FROM events WHERE value IS NOT NULL GROUP BY event_type)
SELECT event_type, pct, n_rows, CAST(1 AS BIGINT) AS in_band
FROM n CROSS JOIN (SELECT unnest([{_PCT_LABELS}]) AS pct) p""",
    "tpch_q10_returned_items": f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       {_REV_MONEY} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20""",
    "tpch_q14_promo_effect": f"""
SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                                   THEN {REVENUE_S_SQL} ELSE 0 END) AS DOUBLE)
             / CAST(SUM({REVENUE_S_SQL}) AS DOUBLE), 4) AS promo_revenue_pct,
       {_sql_money(f"CASE WHEN p_type = 'PROMO' "
                   f"THEN {REVENUE_S_SQL} ELSE 0 END", 10000)} AS promo_revenue,
       {_REV_MONEY} AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""",
    "tpch_q18_large_volume": f"""
WITH big AS (
  SELECT l_orderkey,
         ROUND(CAST(SUM({_Q}) AS DOUBLE) / 100, 2) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING ROUND(CAST(SUM({_Q}) AS DOUBLE) / 100, 2) > {Q18_QTY}
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate,
       ROUND(CAST({_OP} AS DOUBLE) / 100, 2) AS o_totalprice, sum_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey""",
}


def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact QUANTITY-WEIGHTED median unit price per return flag —
    the weighted-quantile primitive (half the shipped QUANTITY sits
    at or below this price), which plain percentile/median operators
    can't express.
    Registered in round 6.
    Exactness: the median is an exact DATA ELEMENT — the smallest
    price (integer cents) whose cumulative quantity weight w_cum
    satisfies 2*w_cum >= w_total — never an interpolation, so both
    engines pick the identical integer under the deterministic price
    order.

    Scale shape (why this survives 100 TB where a naive weighted
    median dies): the cumulative walk runs over the (flag, price)
    DISTINCT-REDUCED relation, not raw lineitem — one map-side-
    combinable groupBy collapses billions of rows to |flags| x
    |distinct prices| cells, then the window sorts only those cells
    per flag. The same two-phase shape as every sketch here; swap the
    cells for `fixed_hist_cells` when even the distinct price set is
    too wide."""
    li = _t(spark, sf_dir, "lineitem")
    cells = (
        li.select(
            "l_returnflag",
            _cents("l_extendedprice").alias("price_c"),
            F.col("l_quantity").cast("long").alias("w"),
        )
        .groupBy("l_returnflag", "price_c")
        .agg(F.sum("w").alias("w"))
    )
    wf = Window.partitionBy("l_returnflag")
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("price_c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    walked = cells.select(
        "l_returnflag", "price_c", "w",
        F.sum("w").over(wcum).alias("w_cum"),
        F.sum("w").over(wf).alias("w_total"),
    )
    return (
        walked.filter(2 * F.col("w_cum") >= F.col("w_total"))
        .groupBy("l_returnflag")
        .agg(
            F.min("price_c").alias("median_price_cents"),
            F.min_by(F.col("w_cum"), F.col("price_c")).alias(
                "w_cum_at_median"
            ),
            F.first("w_total").alias("w_total"),
        )
        .select(
            "l_returnflag",
            F.col("median_price_cents").cast("long").alias(
                "median_price_cents"
            ),
            F.col("w_cum_at_median").cast("long").alias("w_cum_at_median"),
            F.col("w_total").cast("long").alias("w_total"),
        )
    )


#: DuckDB twin of weighted_median_price (round-6 registration).
WEIGHTED_MEDIAN_ORACLE = f"""
WITH cells AS (
  SELECT l_returnflag, {_sql_cents('l_extendedprice')} AS price_c,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2),
walked AS (
  SELECT l_returnflag, price_c, w,
         CAST(SUM(w) OVER (PARTITION BY l_returnflag ORDER BY price_c
                           ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS w_cum,
         CAST(SUM(w) OVER (PARTITION BY l_returnflag) AS BIGINT)
           AS w_total
  FROM cells)
SELECT l_returnflag,
       CAST(MIN(price_c) AS BIGINT) AS median_price_cents,
       CAST(MIN_BY(w_cum, price_c) AS BIGINT) AS w_cum_at_median,
       CAST(MIN(w_total) AS BIGINT) AS w_total
FROM walked WHERE 2 * w_cum >= w_total
GROUP BY l_returnflag"""


def part_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) inventory classification: parts ranked by revenue,
    class A while the running share of total revenue is <= 80%, B to
    95%, C after — the classic "which 20% of SKUs carry 80% of the
    business" cut that drives stocking policy.
    Registered in round 6.

    Exactness: revenue in exact integer cents-scale units
    (the shared _revenue_s expression); running share compared by
    integer CROSS-MULTIPLICATION (cum * 100 vs total * 80) — no
    divided percentage ever enters the class decision; cum_ppm is
    emitted via one truncating div for display. Deterministic order
    (revenue desc, partkey).

    Scale shape: one map-side-combinable part rollup over lineitem;
    the ranking window runs on the DISTINCT-REDUCED part relation
    (|parts| rows — the weighted_median_price argument); the grand
    total broadcasts from the same window pass."""
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        _exact_sum(_revenue_s()).alias("rev")
    )
    # running revenue + rank over the |parts| relation via ONE
    # two-phase ranged scan (a global cum/rank window here is a
    # single-task sort of the whole part dimension at scale); the
    # descending revenue order rides the negated-key ascending sort,
    # and the grand total is a broadcast 1-row aggregate.
    from ..operators.packing import ranged_scan

    base = per_part.withColumn("_g", F.lit(0)).withColumn(
        "_negrev", -F.col("rev")
    ).withColumn("_one", F.lit(1))
    scanned = ranged_scan(
        base, ["_g"], ["_negrev", "l_partkey"],
        [("rev", "cum"), ("_one", "rank")],
    )
    tot = scanned.agg(F.sum("rev").alias("total"))
    ranked = scanned.crossJoin(F.broadcast(tot)).select(
        "l_partkey", "rev", "cum", "total", "rank"
    )
    abc = (
        F.when(F.col("cum") * 100 <= F.col("total") * 80, F.lit("A"))
        .when(F.col("cum") * 100 <= F.col("total") * 95, F.lit("B"))
        .otherwise(F.lit("C"))
    )
    return ranked.select(
        "l_partkey",
        F.col("rank").cast("int").alias("rank"),
        F.col("rev").cast("decimal(38,0)").cast("string").alias(
            "revenue_units"
        ),
        F.expr(
            "CAST(CAST(cum AS DECIMAL(38,0)) * 1000000 div total"
            " AS BIGINT)"
        ).alias("cum_ppm"),
        abc.alias("abc_class"),
    )


#: DuckDB twin of part_abc_classification (round-6+ registration).
ABC_ORACLE = f"""
WITH per_part AS (
  SELECT l_partkey, CAST(SUM({REVENUE_S_SQL}) AS HUGEINT) AS rev
  FROM lineitem GROUP BY l_partkey),
ranked AS (
  SELECT l_partkey, rev,
         SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                        ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(rev) OVER () AS total,
         ROW_NUMBER() OVER (ORDER BY rev DESC, l_partkey) AS rank
  FROM per_part)
SELECT l_partkey,
       CAST(rank AS INT) AS rank,
       CAST(rev AS VARCHAR) AS revenue_units,
       CAST(cum * 1000000 // total AS BIGINT) AS cum_ppm,
       CASE WHEN cum * 100 <= total * 80 THEN 'A'
            WHEN cum * 100 <= total * 95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM ranked"""


FULFILL_QS = (50, 90, 99)


def order_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-last-shipment latency quantiles PER PRIORITY class —
    the fulfillment SLA report (does '1-URGENT' actually ship
    faster?). Exact rank-space quantiles over the DISTINCT-REDUCED
    (priority, lag_days) cells: per order, lag = days from
    o_orderdate to its LAST l_shipdate (the order isn't done until
    the last line ships); per priority, the {FULFILL_QS} quantiles
    are exact data elements at ceil(q*n/100) ranks over the
    cumulative cell walk.
    Registered in round 6.
    Scale shape: one lineitem groupBy (per-order max shipdate), one
    broadcast-dim... no — orders is the fact here: the order join
    shuffles on o_orderkey (the key every downstream join reuses),
    then (priority, lag) cells distinct-reduce before any window
    (the weighted_median_price argument)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    last_ship = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("last_ship")
    )
    lag = orders.join(
        last_ship, orders["o_orderkey"] == F.col("l_orderkey")
    ).select(
        "o_orderpriority",
        F.datediff("last_ship", "o_orderdate").alias("lag_days"),
    )
    cells = lag.groupBy("o_orderpriority", "lag_days").agg(
        F.count(F.lit(1)).alias("c")
    )
    wcum = (
        Window.partitionBy("o_orderpriority")
        .orderBy("lag_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("o_orderpriority")
    walked = cells.select(
        "o_orderpriority", "lag_days", "c",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wn).alias("n"),
    )
    qs = F.explode(
        F.array(*[F.lit(q) for q in FULFILL_QS])
    ).alias("q")
    targets = walked.select(
        "o_orderpriority", "lag_days", "cum", "n", qs
    ).withColumn("target", F.expr("(q * n + 99) div 100"))
    return (
        targets.filter(F.col("cum") >= F.col("target"))
        .groupBy("o_orderpriority", "q", "target")
        .agg(F.min("lag_days").alias("lag_days"))
        .select(
            "o_orderpriority",
            F.col("q").cast("int").alias("q"),
            F.col("target").cast("long").alias("target_rank"),
            F.col("lag_days").cast("long").alias("lag_days"),
        )
    )


#: DuckDB twin of order_fulfillment_latency (round-6+ registration).
FULFILLMENT_ORACLE = f"""
WITH last_ship AS (
  SELECT l_orderkey, MAX(l_shipdate) AS last_ship
  FROM lineitem GROUP BY l_orderkey),
lag AS (
  SELECT o_orderpriority,
         datediff('day', CAST(o_orderdate AS DATE),
                  CAST(last_ship AS DATE)) AS lag_days
  FROM orders JOIN last_ship ON o_orderkey = l_orderkey),
cells AS (
  SELECT o_orderpriority, lag_days, COUNT(*) AS c
  FROM lag GROUP BY 1, 2),
walked AS (
  SELECT o_orderpriority, lag_days, c,
         SUM(c) OVER (PARTITION BY o_orderpriority ORDER BY lag_days
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(c) OVER (PARTITION BY o_orderpriority) AS n
  FROM cells)
SELECT o_orderpriority,
       CAST(q AS INT) AS q,
       CAST((q * n + 99) // 100 AS BIGINT) AS target_rank,
       CAST(MIN(lag_days) AS BIGINT) AS lag_days
FROM walked, (SELECT unnest({list(FULFILL_QS)}) AS q) qq
WHERE cum >= (q * n + 99) // 100
GROUP BY o_orderpriority, q, (q * n + 99) // 100"""


BASKET_TOP_K = 20


def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket mining, the frequent-PAIR core: the top
    {BASKET_TOP_K} part pairs most often bought in the SAME order,
    with support counts — the co-purchase signal behind "frequently
    bought together".
    Registered in round 6.
    Scale shape: the within-order self-join is bounded by
    (lines-per-order choose 2) — a per-order constant (~7 lines →
    ≤21 pairs), never a corpus-quadratic term; parts distinct-reduce
    per order FIRST so multi-line repeats of one part count once;
    the pair groupBy runs on uniform (part, part) keys; the top-K
    window runs on the pair-support rollup. Deterministic order
    (support desc, part_1, part_2)."""
    li = _t(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a = op.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_1")
    )
    b = op.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_2")
    )
    pairs = (
        a.join(b, "ok")
        .filter(F.col("part_1") < F.col("part_2"))
        .groupBy("part_1", "part_2")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    from ..functions.windows import ranked_top_k

    return ranked_top_k(
        pairs,
        [F.col("support").desc(), F.col("part_1"), F.col("part_2")],
        BASKET_TOP_K,
    ).select(
        F.col("rank").cast("int").alias("rank"),
        "part_1",
        "part_2",
        F.col("support").cast("long").alias("support"),
    )


#: DuckDB twin of basket_part_pairs (round-6+ registration).
BASKET_ORACLE = f"""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part_1, b.l_partkey AS part_2,
         COUNT(*) AS support
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY support DESC, part_1, part_2)
            AS INT) AS rank,
       part_1, part_2, CAST(support AS BIGINT) AS support
FROM pairs
QUALIFY rank <= {BASKET_TOP_K}"""


# --- Round-6 registrations into the driver contract
# --- (queries()/oracle_sql()).
QUERIES["weighted_median_price"] = weighted_median_price
ORACLES["weighted_median_price"] = WEIGHTED_MEDIAN_ORACLE
QUERIES["part_abc_classification"] = part_abc_classification
ORACLES["part_abc_classification"] = ABC_ORACLE
QUERIES["order_fulfillment_latency"] = order_fulfillment_latency
ORACLES["order_fulfillment_latency"] = FULFILLMENT_ORACLE
QUERIES["basket_part_pairs"] = basket_part_pairs
ORACLES["basket_part_pairs"] = BASKET_ORACLE
