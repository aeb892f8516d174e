"""Event-stream analytics (batch form).

The streaming twins live in ``streaming/``; these batch plans define
the exact semantics (and the DuckDB oracles) the streaming versions
must converge to — the standard lambda-parity check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..datamodel import load_table

SESSION_GAP_MIN = 30


def q_events_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type: counts, sums, uniques."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.round(F.col("value") * 100).cast("long")).cast("double") / 100, 2).alias("total_value"),
            F.count_distinct("user_id").alias("unique_users"),
        )
    )


def sessionize(ev: DataFrame, gap_min: int = SESSION_GAP_MIN) -> DataFrame:
    """Gap-based sessionization (gap_min of inactivity closes a
    session). Classic two-window formulation: flag session starts via
    lag(ts), then running-sum the flags to get a per-user session
    index. One shuffle by user_id; both windows share the
    partitioning. Input: (user_id, event_id, ts, value)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond precision (timestamp→long cast would truncate to
    # whole seconds and split sessions differently than the oracle)
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    new_session = F.when(
        gap.isNull() | (gap > gap_min * 60 * 1_000_000), 1
    ).otherwise(0)
    sessions = ev.withColumn("session_idx", F.sum(new_session).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ))
    return (
        sessions.groupBy("user_id", "session_idx")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(F.sum(F.round(F.col("value") * 100).cast("long")).cast("double") / 100, 2).alias("total_value"),
        )
    )


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(load_table(spark, sf_dir, "events"))


MOVING_DAYS = 7


def q_events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average of daily value per event_type — the
    trend-smoothing window every ops dashboard runs. Two-level plan:
    daily exact-cents aggregate first (shrinks the window input by
    ~1000×), then a rangeBetween frame over day numbers so gaps in the
    calendar don't silently widen the frame. The moving aggregate is
    emitted as exact integers (cents sum + day count) — NEVER a
    round(double-division) in a hashed column: Spark rounds decimal
    HALF_UP while DuckDB rounds the binary double, so a divided ratio
    can land on opposite sides of a half-boundary (drove the one red
    CORRECTNESS_r01 row). Consumers divide at display time."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("d"), "event_type"
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        F.count("*").alias("n_events"),
    )
    dnum = F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
    w = (
        Window.partitionBy("event_type")
        .orderBy(dnum)
        .rangeBetween(-(MOVING_DAYS - 1), 0)
    )
    return daily.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "event_type",
        F.round(F.col("cents").cast("double") / 100, 2).alias("day_value"),
        F.sum("cents").over(w).alias("moving_cents"),
        F.count(F.lit(1)).over(w).alias("moving_days"),
        F.sum("n_events").over(w).alias("moving_events"),
    )


ROLLING_DAYS = 7


def q_events_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct active users per observed day — the DAU/
    WAU family's hard member, because COUNT(DISTINCT) doesn't compose
    across a sliding frame (a rangeBetween window can't merge sets).

    Scalable exact plan: (1) distinct-reduce to (day, user) pairs
    first — map-side combinable, shrinks events by the per-day repeat
    factor; (2) each pair fans out to the <=7 window-END days it
    contributes to (bounded explode — never a range self-join);
    (3) count-distinct per end day, keeping only days that exist in
    the data. Shuffle keys are calendar days — uniform by construction.
    At 100 TB the same shape runs with KMV/HLL partials instead of
    step 3's exact distinct (`sketch_distinct_users` is the mergeable
    building block); this query is the exact oracle-able twin."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    days = daily.select("d").distinct()
    cover = daily.select(
        F.explode(
            F.expr(f"sequence(0, {ROLLING_DAYS - 1})")
        ).alias("off"),
        "d",
        "user_id",
    ).select(F.date_add("d", F.col("off")).alias("day"), "user_id")
    return (
        cover.join(
            F.broadcast(days), cover["day"] == days["d"], "left_semi"
        )
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("users_7d"))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"), "users_7d"
        )
    )


EWMA_K = 8  # truncation depth: dropped tail weight <= 2^-8 of total
#: weight for lag j (j=0 is the current row): 2^(K-1-j) — the alpha=1/2
#: exponential-smoothing weights scaled by 2^K so everything is exact
#: integer arithmetic (no float state, no division in a hashed column).
EWMA_WEIGHTS = tuple(1 << (EWMA_K - 1 - j) for j in range(EWMA_K))


def ewma_smooth(ev: DataFrame) -> DataFrame:
    """Truncated exponential moving average of event value per
    event_type, time-ordered — the trend-smoothing report (reference
    sample_queries.sql:275 is the unsmoothed daily-trend hook).

    s_n = alpha*x_n + (1-alpha)*s_{n-1} with alpha=1/2 expands to
    weights (1/2)^(j+1) on lag j; truncating at K=8 lags and scaling
    by 2^K makes every weight a power-of-two INTEGER, so the smoothed
    value is an exact integer pair (ewma_num, ewma_den): numerator =
    sum of weighted micro-value lags, denominator = sum of the weights
    actually present (warm-up rows have fewer lags). Consumers divide
    at display time; the hashed output never contains a float fold.
    Truncation drops <0.4% of the weight mass.

    Plan: ONE window (shuffle by event_type, sort by ts) carrying all
    K lag expressions — partial nothing, no self-join, codegen keeps
    the K-term dot product in one stage. The streaming twin
    (streaming/stateful.py stream_ewma) holds the last K-1 values per
    key as state and must produce identical rows (lambda parity)."""
    x = ev.select(
        "event_id",
        "event_type",
        "ts",
        F.round(F.col("value") * 1_000_000).cast("long").alias("micros"),
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    lags = [F.lag("micros", j).over(w) for j in range(EWMA_K)]
    num = sum(
        (F.coalesce(lag, F.lit(0)) * wgt for lag, wgt in zip(lags, EWMA_WEIGHTS)),
        start=F.lit(0),
    )
    den = sum(
        (F.when(lag.isNotNull(), wgt).otherwise(0) for lag, wgt in zip(lags, EWMA_WEIGHTS)),
        start=F.lit(0),
    )
    return x.select(
        "event_id",
        "event_type",
        "micros",
        num.cast("long").alias("ewma_num"),
        den.cast("int").alias("ewma_den"),
    )


def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ewma_smooth(load_table(spark, sf_dir, "events"))


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: signup → first click after signup → first
    purchase after that click, per user; output is the stage-reach
    table every growth dashboard needs. One aggregation per user
    (conditional min-timestamps — no self-joins), then a count rollup.
    """
    ev = load_table(spark, sf_dir, "events")
    # r19 single-pass form (guide §2.4): the old shape joined three
    # per-user aggregates back together — 6 events scans, 5 joins and
    # 6 exchanges for what is one ordered pass per user. Running
    # "stage reached at-or-before this row" minima over a RANGE frame
    # (peers included, so a click at the signup's exact timestamp
    # still qualifies — the `>=` tie semantics of the join form) turn
    # the chain into two stacked windows sharing one user_id exchange:
    #   sig_so_far   = min signup ts over rows with ts <= current ts
    #   click_so_far = min ts of clicks with sig_so_far set (a click
    #                  qualifies iff SOME signup is at-or-before it,
    #                  i.e. iff min-signup-ts <= its ts)
    #   a purchase qualifies iff click_so_far is set at its row
    # then one per-user aggregate and the count rollup. 1 scan, 1
    # window exchange, 0 joins — output identical (oracle-proven).
    w = Window.partitionBy("user_id").orderBy("ts").rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sig_so_far = F.min(
        F.when(F.col("event_type") == "signup", F.col("ts"))
    ).over(w)
    staged = ev.select(
        "user_id", "ts", "event_type", sig_so_far.alias("t_sig")
    )
    click_so_far = F.min(
        F.when(
            (F.col("event_type") == "click") & F.col("t_sig").isNotNull(),
            F.col("ts"),
        )
    ).over(w)
    staged = staged.select(
        "user_id", "ts", "event_type", "t_sig",
        click_so_far.alias("t_clk"),
    )
    per_user = staged.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.col("ts"))
        ).alias("t_signup"),
        F.min(F.col("t_clk")).alias("t_first_click"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & F.col("t_clk").isNotNull(),
                F.col("ts"),
            )
        ).alias("t_first_buy"),
    )
    return per_user.agg(
        F.count(F.col("t_signup")).alias("n_signup"),
        F.count(F.col("t_first_click")).alias("n_click_after_signup"),
        F.count(F.col("t_first_buy")).alias("n_purchase_after_click"),
    )


def q_events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, counted per
    active-day offset — the (cohort × day) retention triangle. Two
    aggregations; the cohort map rides a broadcast join."""
    ev = load_table(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    active = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    return (
        active.join(F.broadcast(first_day), "user_id")
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort"),
            F.datediff("day", "cohort_day").alias("day_offset"),
        )
        .agg(F.count("*").alias("n_active_users"))
    )


ANOMALY_SIGMAS = 2.0
TRAIL_DAYS = 7


def q_events_daily_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days whose value deviates 2σ from the trailing-week baseline,
    per event type. All window inputs are EXACT integer cents (sums
    and sums-of-squares), so mean/σ/z derive from identical integers
    in both engines — float drift can't flip the anomaly flag. The
    trailing baseline is emitted as exact (trailing_cents, n_prior),
    not a divided mean: round(division, 4) can straddle a half-
    boundary between Spark's decimal HALF_UP and DuckDB's binary
    rounding. z survives because its denominator is a sqrt — the
    rounded value essentially never lands on an exact boundary."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d"), "event_type").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("c")
    )
    dnum = F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
    w = (
        Window.partitionBy("event_type")
        .orderBy(dnum)
        .rangeBetween(-TRAIL_DAYS, -1)  # strictly prior days
    )
    # attach ALL window columns before any filter — a later filter
    # would silently re-scope the window to the surviving rows
    win = daily.select(
        "d",
        "event_type",
        "c",
        F.count("c").over(w).alias("n_prior"),
        F.sum("c").over(w).alias("s"),
        F.sum(F.col("c") * F.col("c")).over(w).alias("ss"),
    ).filter(F.col("n_prior") >= 3)  # need a baseline
    mean = F.col("s").cast("double") / F.col("n_prior")
    var = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n_prior")
    ) / (F.col("n_prior") - 1)
    z = F.round((F.col("c").cast("double") - mean) / F.sqrt(var), 4)
    return win.withColumn("z", z).select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "event_type",
        F.round(F.col("c").cast("double") / 100, 2).alias("day_value"),
        F.col("s").alias("trailing_cents"),
        F.col("n_prior").alias("n_prior"),
        "z",
        (F.abs(F.col("z")) > ANOMALY_SIGMAS).cast("int").alias("is_anomaly"),
    )


def q_events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical time rollup (hypertable-style continuous
    aggregate): day → month → grand total grains from ONE hash
    aggregate via ROLLUP, exact integer cents throughout. At 100 TB
    the day grain is what a materialized rollup table stores; coarser
    grains are re-aggregations of it — same shape as here."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.date_format("ts", "yyyy-MM").alias("month"),
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .rollup("month", "day")
        .agg(
            F.grouping_id().cast("int").alias("grp"),
            F.count("*").alias("n_events"),
            F.round(F.sum("cents").cast("double") / 100, 2).alias("total_value"),
        )
    )


def q_events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill + forward-fill: one row per (event_type, day)
    over each type's observed [first, last] day span, zero on silent
    days, with the last observed daily total carried forward — the
    resample/backfill primitive every time-series consumer needs over
    sparse event data (TimescaleDB's time_bucket_gapfill + locf).

    Scale shape: the dense calendar is generated per type from a
    ~|types|-row span aggregate via sequence+explode (never a cross
    join against a calendar table), then ONE left join back to the
    daily aggregate and a forward-fill window per type. All values
    exact integer cents."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("d"), "event_type"
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    spans = daily.groupBy("event_type").agg(
        F.min("d").alias("mn"), F.max("d").alias("mx")
    )
    cal = spans.select(
        "event_type",
        F.explode(
            F.sequence("mn", "mx", F.expr("INTERVAL 1 DAY"))
        ).alias("d"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cal.join(daily, ["event_type", "d"], "left")
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.coalesce("cents", F.lit(0)).alias("day_cents"),
            (F.col("cents").isNull().cast("int")).alias("is_gap"),
            F.last("cents", ignorenulls=True).over(w).alias("locf_cents"),
        )
    )


def q_event_type_daily_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-type event stats with exact fixed-point value sums."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.round(F.col("value") * 100).cast("long")).cast("double") / 100, 2).alias("total_value"),
            F.round(F.min("value"), 2).alias("min_value"),
            F.round(F.max("value"), 2).alias("max_value"),
        )
    )


def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull the JSON `props.k` field and
    aggregate — the JSON-column source-format path (JVM-side
    get_json_object, no Python)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("k").cast("long").alias("sum_k"),
        )
    )


def q_events_dedup_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming watermarked dedup: collapse
    at-least-once-delivery duplicates — same (user_id, event_type,
    value-cents) inside the same 1-hour tumbling window — keeping the
    smallest event_id. One shuffle on the dedup key (window start
    rides the key, so state never outlives its hour — the exact
    batch analogue of watermark-bounded streaming state). Returns the
    per-window survivor count and duplicate count."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    hour = F.date_trunc("hour", F.col("ts"))
    w = Window.partitionBy(hour, "user_id", "event_type", cents).orderBy(
        "event_id"
    )
    kept = ev.withColumn("__r", F.row_number().over(w))
    return kept.groupBy(
        F.date_format(hour, "yyyy-MM-dd HH:00").alias("window_start")
    ).agg(
        F.count(F.when(F.col("__r") == 1, 1)).alias("n_unique"),
        F.count(F.when(F.col("__r") > 1, 1)).alias("n_duplicates"),
    )


def q_events_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill with LINEAR interpolation — the sibling of
    `events_gap_fill`'s carry-forward: silent days get the straight
    line between the surrounding observed daily totals, in exact
    integer cents (interp = prev + (next-prev) * pos div len; `div`
    and DuckDB `//` both truncate toward zero, so either sign of the
    slope is engine-identical — no float lerp in a hashed column).

    Same scale shape as gap_fill: dense calendar from the per-type
    span aggregate (sequence+explode, no calendar cross join), one
    left join, then two one-pass windows (last-non-null backward,
    first-non-null forward) over the ORIGINAL frame — deriving both
    bounds in one projection avoids the aliased-frame re-shuffle."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("d"), "event_type"
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    spans = daily.groupBy("event_type").agg(
        F.min("d").alias("mn"), F.max("d").alias("mx")
    )
    cal = spans.select(
        "event_type",
        F.explode(
            F.sequence("mn", "mx", F.expr("INTERVAL 1 DAY"))
        ).alias("d"),
    )
    wb = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_d = F.when(F.col("cents").isNotNull(), F.col("d"))
    j = (
        cal.join(daily, ["event_type", "d"], "left")
        .select(
            "event_type",
            "d",
            "cents",
            F.last("cents", ignorenulls=True).over(wb).alias("pc"),
            F.last(obs_d, ignorenulls=True).over(wb).alias("pd"),
            F.first("cents", ignorenulls=True).over(wf).alias("nc"),
            F.first(obs_d, ignorenulls=True).over(wf).alias("nd"),
        )
    )
    interp = F.when(F.col("cents").isNotNull(), F.col("cents")).otherwise(
        F.col("pc")
        + F.expr("((nc - pc) * datediff(d, pd)) div datediff(nd, pd)")
    )
    return j.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.coalesce("cents", F.lit(0)).alias("day_cents"),
        (F.col("cents").isNull().cast("int")).alias("is_gap"),
        interp.cast("long").alias("interp_cents"),
    )


def events_type_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-series correlation frame: for every pair of event types,
    the Pearson components of their DAILY-TOTAL series (n, sums,
    cross-products in exact integer cents) plus the signed squared
    correlation in ppm — which metrics move together, the first
    question a time-series analyst asks of a metrics warehouse.

    Exactness strategy: Pearson r is irrational, so the emitted
    statistic is r_sign * r^2 in ppm computed with one integer `div`
    over DECIMAL(38,0) products. The series runs at WHOLE-UNIT scale
    (cents div 100): the squared numerator (n*Sxy - Sx*Sy)^2 is
    ~(n * total^2)^2, which at daily-cents scale already bursts 38
    digits at sf0.1 — unit scale keeps it ~1e31 with headroom to
    ~sf10 while changing r^2 only in the 5th decimal. Every output
    column is engine-exact, making this directly oracle-able
    (registered in round 6).

    Scale shape: one map-side-combinable daily groupBy; the pair join
    runs on the TINY (day, type, cents) rollup (|days| x |types|
    rows), never on events; days with no row for a type count as 0
    via an inner join on the shared day spine (both series defined on
    the same observed days)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(
        F.expr(
            "CAST(sum(CAST(round(value * 100) AS BIGINT)) div 100"
            " AS BIGINT)"
        ).alias("cents")
    )
    days = daily.select("day").distinct()
    types = daily.select("event_type").distinct()
    spine = days.crossJoin(types)
    filled = (
        spine.join(daily, ["day", "event_type"], "left")
        .select(
            "day",
            "event_type",
            F.coalesce("cents", F.lit(0)).alias("cents"),
        )
        .localCheckpoint(eager=True)  # tiny: |days| x |types| rows
    )
    a = filled.select(
        "day", F.col("event_type").alias("type_1"), F.col("cents").alias("x")
    )
    b = filled.select(
        "day", F.col("event_type").alias("type_2"), F.col("cents").alias("y")
    )
    pairs = a.join(b, "day").filter(F.col("type_1") < F.col("type_2"))
    agg = pairs.groupBy("type_1", "type_2").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"
    varx = "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"
    vary = "CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy"
    return agg.select(
        "type_1",
        "type_2",
        F.col("n").cast("long").alias("n_days"),
        F.col("sx").cast("long").alias("sum_1"),
        F.col("sy").cast("long").alias("sum_2"),
        F.col("sxy").cast("long").alias("sum_cross"),
        F.expr(
            f"CASE WHEN ({varx}) = 0 OR ({vary}) = 0 THEN CAST(0 AS BIGINT)"
            f" ELSE CAST(sign({num}) AS BIGINT)"
            f" * (CAST(({num}) * ({num}) AS DECIMAL(38,0)) * 1000000"
            f" div CAST(({varx}) * ({vary}) AS DECIMAL(38,0))) END"
        ).alias("r2_signed_ppm"),
    )


def q_events_wow_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period reporting: weekly totals per event type with
    the week-over-week delta and integer-ppm relative change (lag()
    over the ALREADY-AGGREGATED weekly frame — the window moves
    |weeks|×|types| rows, never raw events; delta arithmetic is exact
    integer cents, relative change is `div` over |prev| so truncation
    direction matches DuckDB `//` for either sign; first week emits
    NULLs identically in both engines)."""
    ev = load_table(spark, sf_dir, "events")
    weekly = ev.groupBy(
        F.date_format(F.date_trunc("WEEK", F.col("ts")), "yyyy-MM-dd")
        .alias("week"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("week")
    return (
        weekly.withColumn("prev", F.lag("cents").over(w))
        .select(
            "week",
            "event_type",
            "n_events",
            "cents",
            (F.col("cents") - F.col("prev")).alias("delta_cents"),
            F.when(
                F.col("prev").isNull() | (F.col("prev") == 0),
                F.lit(None).cast("long"),
            )
            .otherwise(
                # numerator widened to DECIMAL(38,0) (repo ppm
                # convention): raw BIGINT (cents-prev)*1e6 would throw
                # ARITHMETIC_OVERFLOW under ANSI once weekly totals
                # pass ~9.2e12 cents; `div` still yields BIGINT, so
                # the output type (and the r4 proof) is unchanged
                F.expr(
                    "CAST(cents - prev AS DECIMAL(38,0))"
                    " * 1000000 div abs(prev)"
                )
            )
            .alias("change_ppm"),
        )
    )


QUERIES = {
    "events_wow_change": q_events_wow_change,
    "events_interpolate_linear": q_events_interpolate_linear,
    "events_dedup_windowed": q_events_dedup_windowed,
    "events_windowed_agg": q_events_windowed_agg,
    "events_sessionize": q_events_sessionize,
    "events_moving_avg": q_events_moving_avg,
    "events_ewma": q_events_ewma,
    "events_rolling_distinct_users": q_events_rolling_distinct_users,
    "events_daily_anomalies": q_events_daily_anomalies,
    "events_gap_fill": q_events_gap_fill,
    "events_time_rollup": q_events_time_rollup,
    "events_funnel": q_events_funnel,
    "events_cohort_retention": q_events_cohort_retention,
    "event_type_daily_stats": q_event_type_daily_stats,
    "events_json_props": q_events_json_props,
}

#: events.ts is TIMESTAMP(NANOS) in parquet — normalize to micros
#: exactly like datamodel.load_table before any windowing.
_EV = ("ev AS (SELECT event_id, make_timestamp(epoch_ns(ts) // 1000) AS ts, "
       "user_id, event_type, value, props FROM events)")

_VAL_SUM = ("ROUND(CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE)"
            " / 100, 2)")

ORACLES = {
    "events_dedup_windowed": """
WITH ranked AS (
  SELECT DATE_TRUNC('hour', ts) AS h,
         ROW_NUMBER() OVER (
           PARTITION BY DATE_TRUNC('hour', ts), user_id, event_type,
                        CAST(ROUND(value * 100, 0) AS BIGINT)
           ORDER BY event_id) AS r
  FROM events)
SELECT strftime(h, '%Y-%m-%d %H:00') AS window_start,
       COUNT(CASE WHEN r = 1 THEN 1 END) AS n_unique,
       COUNT(CASE WHEN r > 1 THEN 1 END) AS n_duplicates
FROM ranked GROUP BY h""",
    "events_time_rollup": """
SELECT strftime(ts, '%Y-%m') AS month,
       strftime(ts, '%Y-%m-%d') AS day,
       CAST(GROUPING(month, day) AS INT) AS grp,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE)
             / 100, 2) AS total_value
FROM events GROUP BY ROLLUP (month, day)""",
    "events_daily_anomalies": f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, event_type,
         SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS c
  FROM events GROUP BY d, event_type),
win AS (
  SELECT d, event_type, c,
         COUNT(c) OVER w AS n_prior,
         SUM(c) OVER w AS s,
         SUM(c * c) OVER w AS ss
  FROM daily
  WINDOW w AS (PARTITION BY event_type
               ORDER BY datediff('day', DATE '1970-01-01', d)
               RANGE BETWEEN {TRAIL_DAYS} PRECEDING AND 1 PRECEDING)),
scored AS (
  SELECT d, event_type, c, n_prior, s,
         ROUND((CAST(c AS DOUBLE) - CAST(s AS DOUBLE) / n_prior)
               / sqrt((CAST(ss AS DOUBLE)
                       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n_prior)
                      / (n_prior - 1)), 4) AS z
  FROM win WHERE n_prior >= 3)
SELECT strftime(d, '%Y-%m-%d') AS day, event_type,
       ROUND(CAST(c AS DOUBLE) / 100, 2) AS day_value,
       CAST(s AS BIGINT) AS trailing_cents,
       CAST(n_prior AS BIGINT) AS n_prior,
       z,
       CAST(CASE WHEN abs(z) > {ANOMALY_SIGMAS} THEN 1 ELSE 0 END AS INT)
         AS is_anomaly
FROM scored""",
    "events_funnel": """
WITH su AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup
  FROM events GROUP BY user_id),
fc AS (
  SELECT e.user_id, MIN(e.ts) AS t_first_click
  FROM events e JOIN su ON e.user_id = su.user_id
  WHERE e.event_type = 'click' AND e.ts >= su.t_signup
  GROUP BY e.user_id),
fb AS (
  SELECT e.user_id, MIN(e.ts) AS t_first_buy
  FROM events e JOIN fc ON e.user_id = fc.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= fc.t_first_click
  GROUP BY e.user_id)
SELECT COUNT(su.t_signup) AS n_signup,
       COUNT(fc.t_first_click) AS n_click_after_signup,
       COUNT(fb.t_first_buy) AS n_purchase_after_click
FROM su
LEFT JOIN fc ON su.user_id = fc.user_id
LEFT JOIN fb ON su.user_id = fb.user_id""",
    "events_cohort_retention": """
WITH first_day AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
  FROM events GROUP BY user_id),
active AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort,
       CAST(datediff('day', cohort_day, day) AS INT) AS day_offset,
       COUNT(*) AS n_active_users
FROM active JOIN first_day USING (user_id)
GROUP BY cohort, day_offset""",
    "events_wow_change": """
WITH weekly AS (
  SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
         event_type,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events GROUP BY 1, 2),
lagged AS (
  SELECT *, LAG(cents) OVER (PARTITION BY event_type ORDER BY week)
              AS prev
  FROM weekly)
SELECT week, event_type, n_events, cents,
       cents - prev AS delta_cents,
       CASE WHEN prev IS NULL OR prev = 0 THEN NULL
            ELSE CAST((cents - prev) * 1000000 // abs(prev) AS BIGINT)
       END AS change_ppm
FROM lagged""",
    "events_interpolate_linear": """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, event_type,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY d, event_type),
spans AS (SELECT event_type, MIN(d) AS mn, MAX(d) AS mx
          FROM daily GROUP BY event_type),
cal AS (SELECT event_type,
               CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE)
                 AS d
        FROM spans),
j AS (
  SELECT event_type, d, cents,
         last_value(cents IGNORE NULLS) OVER wb AS pc,
         last_value(CASE WHEN cents IS NOT NULL THEN d END IGNORE NULLS)
           OVER wb AS pd,
         first_value(cents IGNORE NULLS) OVER wf AS nc,
         first_value(CASE WHEN cents IS NOT NULL THEN d END IGNORE NULLS)
           OVER wf AS nd
  FROM cal LEFT JOIN daily USING (event_type, d)
  WINDOW wb AS (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
       COALESCE(cents, 0) AS day_cents,
       CAST(CASE WHEN cents IS NULL THEN 1 ELSE 0 END AS INT) AS is_gap,
       CAST(CASE WHEN cents IS NOT NULL THEN cents
                 ELSE pc + ((nc - pc) * (d - pd)) // (nd - pd)
            END AS BIGINT) AS interp_cents
FROM j""",
    "events_gap_fill": """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, event_type,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY d, event_type),
spans AS (SELECT event_type, MIN(d) AS mn, MAX(d) AS mx
          FROM daily GROUP BY event_type),
cal AS (SELECT event_type,
               CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE)
                 AS d
        FROM spans)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
       COALESCE(cents, 0) AS day_cents,
       CAST(CASE WHEN cents IS NULL THEN 1 ELSE 0 END AS INT) AS is_gap,
       last_value(cents IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY d
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_cents
FROM cal LEFT JOIN daily USING (event_type, d)""",
    "events_moving_avg": f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, event_type,
         SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS cents,
         COUNT(*) AS n_events
  FROM events GROUP BY d, event_type)
SELECT strftime(d, '%Y-%m-%d') AS day, event_type,
       ROUND(CAST(cents AS DOUBLE) / 100, 2) AS day_value,
       CAST(SUM(cents) OVER w AS BIGINT) AS moving_cents,
       COUNT(*) OVER w AS moving_days,
       CAST(SUM(n_events) OVER w AS BIGINT) AS moving_events
FROM daily
WINDOW w AS (PARTITION BY event_type
             ORDER BY datediff('day', DATE '1970-01-01', d)
             RANGE BETWEEN {MOVING_DAYS - 1} PRECEDING AND CURRENT ROW)""",
    "events_ewma": f"""
WITH {_EV},
x AS (SELECT event_id, event_type, ts,
             CAST(ROUND(value * 1000000, 0) AS BIGINT) AS micros FROM ev)
SELECT event_id, event_type, micros,
       CAST({" + ".join(f"COALESCE(LAG(micros, {j}) OVER w, 0) * {wgt}"
                        for j, wgt in enumerate(EWMA_WEIGHTS))}
            AS BIGINT) AS ewma_num,
       CAST({" + ".join(
           f"CASE WHEN LAG(micros, {j}) OVER w IS NOT NULL"
           f" THEN {wgt} ELSE 0 END"
           for j, wgt in enumerate(EWMA_WEIGHTS))}
            AS INT) AS ewma_den
FROM x
WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)""",
    "events_rolling_distinct_users": f"""
WITH dd AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
days AS (SELECT DISTINCT d FROM dd)
SELECT strftime(days.d, '%Y-%m-%d') AS day,
       COUNT(DISTINCT dd.user_id) AS users_7d
FROM days JOIN dd
  ON dd.d BETWEEN days.d - {ROLLING_DAYS - 1} AND days.d
GROUP BY days.d""",
    "events_windowed_agg": f"""
WITH {_EV}
SELECT DATE_TRUNC('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {_VAL_SUM} AS total_value,
       COUNT(DISTINCT user_id) AS unique_users
FROM ev
GROUP BY DATE_TRUNC('hour', ts), event_type""",
    "events_sessionize": f"""
WITH {_EV},
flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > {SESSION_GAP_MIN * 60} * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
              ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
              AS session_idx
  FROM flagged
)
SELECT user_id, session_idx,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       {_VAL_SUM} AS total_value
FROM sessions
GROUP BY user_id, session_idx""",
    "event_type_daily_stats": f"""
WITH {_EV}
SELECT strftime(ts, '%Y-%m-%d') AS day,
       event_type,
       COUNT(*) AS n_events,
       {_VAL_SUM} AS total_value,
       ROUND(MIN(value), 2) AS min_value,
       ROUND(MAX(value), 2) AS max_value
FROM ev
GROUP BY strftime(ts, '%Y-%m-%d'), event_type""",
    "events_json_props": """
WITH k AS (
  SELECT event_type, CAST(props->>'$.k' AS INT) AS k FROM events
)
SELECT event_type,
       COUNT(k) AS n_with_k,
       MIN(k) AS min_k,
       MAX(k) AS max_k,
       CAST(SUM(k) AS BIGINT) AS sum_k
FROM k
GROUP BY event_type""",
}


SEASONAL_HALF = 3  # centered +/-3-day trend window (7-day MA)


def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite seasonal decomposition of the per-type daily series —
    trend (centered 7-day moving average), day-of-week seasonal
    component, and residual — entirely in EXACT integer arithmetic so
    every column sits under the cross-engine value hash (no
    loess/floats anywhere):
    Registered in round 6.
    Exactness strategy (the events_daily_anomalies / correlation
    playbook): the series runs in whole units (daily cents div 100);
    trend is emitted as the exact pair (trend_sum, 7) rather than a
    divided mean; the detrended value is the integer 7*c - trend_sum;
    the seasonal fit per (event_type, epoch_dow) is the exact pair
    (s_sum, s_n) over INTERIOR days only (full 7-day windows, so
    every detrended value shares the denominator 7); the residual is
    the integer numerator detr*s_n - s_sum over the implied
    denominator 7*s_n. Day-of-week is epoch_days % 7 — identical
    arithmetic in both engines, immune to locale dayofweek()
    conventions.

    Scale shape: ONE map-side-combinable daily groupBy over events is
    the only big shuffle; the trend window partitions by event_type
    over the tiny daily rollup; the seasonal fit aggregates that
    rollup to |types| x 7 rows and broadcast-joins back. All window
    columns attach to the ORIGINAL daily frame before any filter or
    alias (the re-shuffle trap documented in balance_scd2)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("d"), "event_type"
    ).agg(
        F.expr(
            "CAST(sum(CAST(round(value * 100) AS BIGINT)) div 100"
            " AS BIGINT)"
        ).alias("c")
    ).localCheckpoint(eager=True)  # tiny |days| x |types| rollup, read
    # by the trend window AND (via interior) the seasonal fit + final
    # join: truncating here stops the static plan re-deriving the full
    # events aggregation per consumer (the correlation-frame pattern)
    dnum = F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
    wtr = (
        Window.partitionBy("event_type")
        .orderBy(dnum)
        .rangeBetween(-SEASONAL_HALF, SEASONAL_HALF)
    )
    base = daily.select(
        "d",
        "event_type",
        "c",
        (dnum % 7).alias("dow"),
        F.sum("c").over(wtr).alias("trend_sum"),
        F.count("c").over(wtr).alias("trend_n"),
    ).filter(F.col("trend_n") == 2 * SEASONAL_HALF + 1)
    detr = (F.lit(2 * SEASONAL_HALF + 1) * F.col("c")
            - F.col("trend_sum"))
    interior = base.withColumn("detr", detr)
    seasonal = interior.groupBy("event_type", "dow").agg(
        F.sum("detr").alias("s_sum"), F.count(F.lit(1)).alias("s_n")
    )
    return (
        interior.join(F.broadcast(seasonal), ["event_type", "dow"])
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "event_type",
            "c",
            "trend_sum",
            "detr",
            F.col("dow").cast("int").alias("dow"),
            "s_sum",
            "s_n",
            (F.col("detr") * F.col("s_n") - F.col("s_sum")).alias(
                "resid_num"
            ),
        )
    )


#: DuckDB twin of events_seasonal_decompose, held for the round-6
#: registration (the r5 window is reserved for the proof backlog).
SEASONAL_ORACLE = f"""
WITH {_EV},
daily AS (
  SELECT CAST(ts AS DATE) AS d, event_type,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) // 100
              AS BIGINT) AS c
  FROM ev GROUP BY 1, 2),
base AS (
  SELECT d, event_type, c,
         CAST(datediff('day', DATE '1970-01-01', d) % 7 AS BIGINT)
           AS dow,
         CAST(SUM(c) OVER w AS BIGINT) AS trend_sum,
         COUNT(c) OVER w AS trend_n
  FROM daily
  WINDOW w AS (PARTITION BY event_type
               ORDER BY datediff('day', DATE '1970-01-01', d)
               RANGE BETWEEN {SEASONAL_HALF} PRECEDING
                 AND {SEASONAL_HALF} FOLLOWING)),
interior AS (
  SELECT *, {2 * SEASONAL_HALF + 1} * c - trend_sum AS detr
  FROM base WHERE trend_n = {2 * SEASONAL_HALF + 1}),
seasonal AS (
  SELECT event_type, dow, CAST(SUM(detr) AS BIGINT) AS s_sum,
         COUNT(*) AS s_n
  FROM interior GROUP BY event_type, dow)
SELECT strftime(i.d, '%Y-%m-%d') AS day, i.event_type, i.c,
       i.trend_sum, i.detr, CAST(i.dow AS INT) AS dow,
       s.s_sum, s.s_n,
       CAST(i.detr * s.s_n - s.s_sum AS BIGINT) AS resid_num
FROM interior i JOIN seasonal s USING (event_type, dow)"""


MAD_K = 3  # robust anomaly threshold: dev > MAD_K * MAD


def events_robust_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) anomaly detection over the per-type daily
    series — the breakdown-point-0.5 twin of events_daily_anomalies'
    mean/σ z-score, which a single fat-fingered day can drag; the
    median absolute deviation cannot be moved by fewer than half the
    points.
    Registered in round 6.
    Exactness strategy: medians are EXACT ELEMENTS, not interpolated
    — the lower median is the row at rank (n+1) div 2 under the
    deterministic total order (value, day), so both engines pick the
    identical integer (no percentile interpolation, no float). MAD is
    the same exact-rank median of |c - med|. The flag compares
    integers: dev > MAD_K * mad.

    Scale shape: one map-side-combinable daily groupBy over events;
    both median ranks are windows over the tiny (day, type) rollup;
    the per-type median/MAD tables (|types| rows) broadcast back."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("d"), "event_type"
    ).agg(
        F.expr(
            "CAST(sum(CAST(round(value * 100) AS BIGINT)) div 100"
            " AS BIGINT)"
        ).alias("c")
    ).localCheckpoint(eager=True)  # tiny rollup read by 4 consumers
    # (median rank, devs, MAD rank, final frame) — truncate once
    wv = Window.partitionBy("event_type").orderBy("c", "d")
    wn = Window.partitionBy("event_type")
    ranked = daily.select(
        "d", "event_type", "c",
        F.row_number().over(wv).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    med = ranked.filter(
        F.col("rn") == F.expr("(n + 1) div 2")
    ).select("event_type", F.col("c").alias("med"))
    devs = daily.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("c") - F.col("med"))
    )
    wd = Window.partitionBy("event_type").orderBy("dev", "d")
    mad = (
        devs.select(
            "event_type", "dev",
            F.row_number().over(wd).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("dev").alias("mad"))
    )
    return (
        devs.join(F.broadcast(mad), "event_type")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "event_type", "c", "med", "dev", "mad",
            (F.col("dev") > MAD_K * F.col("mad")).cast("int").alias(
                "is_anomaly"
            ),
        )
    )


#: DuckDB twin of events_robust_anomalies (round-6 registration).
ROBUST_ANOMALY_ORACLE = f"""
WITH {_EV},
daily AS (
  SELECT CAST(ts AS DATE) AS d, event_type,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) // 100
              AS BIGINT) AS c
  FROM ev GROUP BY 1, 2),
med AS (
  SELECT event_type, c AS med FROM (
    SELECT event_type, c,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY c, d) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM daily) WHERE rn = (n + 1) // 2),
devs AS (
  SELECT daily.d, daily.event_type, daily.c, med.med,
         abs(daily.c - med.med) AS dev
  FROM daily JOIN med USING (event_type)),
mad AS (
  SELECT event_type, dev AS mad FROM (
    SELECT event_type, dev, d,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY dev, d) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM devs) WHERE rn = (n + 1) // 2)
SELECT strftime(devs.d, '%Y-%m-%d') AS day, devs.event_type, devs.c,
       devs.med, devs.dev, mad.mad,
       CAST(devs.dev > {MAD_K} * mad.mad AS INT) AS is_anomaly
FROM devs JOIN mad USING (event_type)"""


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: for
    every ordered pair of event types, how often does a user's next
    event follow the previous one — THE navigation/behavior-flow
    summary (what follows a signup? what precedes an error?).
    Registered in round 6.

    Per user, events order by (ts, event_id) — a total order both
    engines share (ts alone ties at whole-second boundaries); each
    consecutive pair emits one (from_type, to_type) observation; the
    matrix aggregates counts plus a row-normalized probability in
    integer ppm (truncating div, exact).

    Scale shape: ONE window exchange on user_id (the lag rides the
    per-user sort) and one map-side-combinable groupBy on the tiny
    (from, to) key space — |types|^2 result rows. No self-join: the
    classic sessionization-adjacent pattern done with lag, not a
    time-range join."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id", "ts", "event_id", "event_type",
            F.lag("event_type").over(w).alias("from_type"),
        )
        .filter(F.col("from_type").isNotNull())
        .select("from_type", F.col("event_type").alias("to_type"))
    )
    wrow = Window.partitionBy("from_type")
    counted = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    return counted.select(
        "from_type",
        "to_type",
        F.col("n").cast("long").alias("n"),
        F.sum("n").over(wrow).cast("long").alias("n_from"),
        F.expr(
            "CAST(n * 1000000 div sum(n) OVER "
            "(PARTITION BY from_type) AS BIGINT)"
        ).alias("p_ppm"),
    )


#: DuckDB twin of event_transition_matrix (round-6 registration).
TRANSITION_ORACLE = f"""
WITH {_EV},
pairs AS (
  SELECT LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS from_type,
         event_type AS to_type
  FROM ev),
counted AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM pairs WHERE from_type IS NOT NULL
  GROUP BY from_type, to_type)
SELECT from_type, to_type,
       CAST(n AS BIGINT) AS n,
       CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS n_from,
       CAST(n * 1000000 // SUM(n) OVER (PARTITION BY from_type)
            AS BIGINT) AS p_ppm
FROM counted"""


FUNNEL_LATENCY_QS = (25, 50, 75, 90)


def funnel_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How long does the funnel take? Exact quantiles of the
    signup→purchase completion latency over converting users — the
    time-to-convert distribution growth teams watch next to the
    stage-reach counts (q_events_funnel).
    Registered in round 6.

    Exactness: latency is exact integer MICROSECONDS
    (unix_micros(t_first_buy) - unix_micros(t_signup)); each quantile
    is the exact ELEMENT at rank ceil(q*n/100) under the
    deterministic (latency, user_id) order — no interpolation
    anywhere (the events_robust_anomalies playbook).

    Scale shape: the funnel's own conditional-min aggregations (no
    self-join explosion), then ONE rank window over the converting-
    user relation — the small end of the funnel, but still a global
    sort: if conversions ever rival corpus size, swap the exact rank
    for the mergeable histogram/equi-depth sketch (same output
    contract, operators/sketches.py) — the documented exact→sketch
    trade this catalog makes everywhere."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.col("ts"))
        ).alias("t_signup"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("t_click")
    )
    first_click = (
        clicks.join(per_user, "user_id")
        .filter(F.col("t_click") >= F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("t_click").alias("t_first_click"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("t_buy")
    )
    first_buy = (
        purchases.join(first_click, "user_id")
        .filter(F.col("t_buy") >= F.col("t_first_click"))
        .groupBy("user_id")
        .agg(F.min("t_buy").alias("t_first_buy"))
    )
    lat = (
        per_user.join(first_buy, "user_id")
        .select(
            "user_id",
            (
                F.unix_micros("t_first_buy") - F.unix_micros("t_signup")
            ).alias("latency_us"),
        )
    )
    # global rank over the per-converting-user relation via the
    # two-phase ranged scan (this grows with the user dimension — a
    # row_number() OVER (ORDER BY ...) window here is a single-task
    # sort at scale); n is a broadcast 1-row aggregate.
    from ..operators.packing import ranged_row_number

    rn_df = ranged_row_number(lat, ["latency_us", "user_id"], "rn")
    n_agg = rn_df.agg(F.count(F.lit(1)).alias("n"))
    ranked = rn_df.crossJoin(F.broadcast(n_agg)).select(
        "latency_us", "rn", "n"
    )
    qs = F.explode(
        F.array(*[F.lit(q) for q in FUNNEL_LATENCY_QS])
    ).alias("q")
    targets = ranked.select("rn", "latency_us", "n", qs).withColumn(
        "target", F.expr("(q * n + 99) div 100")
    )
    return (
        targets.filter(F.col("rn") == F.col("target"))
        .select(
            F.col("q").cast("int").alias("q"),
            F.col("target").cast("long").alias("target_rank"),
            F.col("n").cast("long").alias("n_converted"),
            F.col("latency_us").cast("long").alias("latency_us"),
        )
    )


#: DuckDB twin of funnel_latency_quantiles (round-6 registration).
FUNNEL_LATENCY_ORACLE = f"""
WITH {_EV},
per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup
  FROM ev GROUP BY user_id),
first_click AS (
  SELECT c.user_id, MIN(c.ts) AS t_first_click
  FROM ev c JOIN per_user USING (user_id)
  WHERE c.event_type = 'click' AND c.ts >= per_user.t_signup
  GROUP BY c.user_id),
first_buy AS (
  SELECT p.user_id, MIN(p.ts) AS t_first_buy
  FROM ev p JOIN first_click USING (user_id)
  WHERE p.event_type = 'purchase' AND p.ts >= first_click.t_first_click
  GROUP BY p.user_id),
lat AS (
  SELECT per_user.user_id,
         epoch_us(t_first_buy) - epoch_us(t_signup) AS latency_us
  FROM per_user JOIN first_buy USING (user_id)),
ranked AS (
  SELECT latency_us,
         ROW_NUMBER() OVER (ORDER BY latency_us, user_id) AS rn,
         COUNT(*) OVER () AS n
  FROM lat)
SELECT CAST(q AS INT) AS q,
       CAST((q * n + 99) // 100 AS BIGINT) AS target_rank,
       CAST(n AS BIGINT) AS n_converted,
       CAST(latency_us AS BIGINT) AS latency_us
FROM ranked, (SELECT unnest({list(FUNNEL_LATENCY_QS)}) AS q) qq
WHERE rn = (q * n + 99) // 100"""


TOP_PATHS_K = 10


def session_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence mining over sessions: the TOP-{TOP_PATHS_K} 3-step
    behavior paths (event-type trigrams WITHIN a session, consecutive
    by time) across the corpus — "what do users actually do" as a
    ranked path table, the navigation-analysis staple.
    Registered in round 6.

    Plan: the sessionize windows (start-flag lag + running-sum index)
    and the two path lags all share ONE user_id exchange —
    hashpartitioning(user_id) satisfies the finer (user, session)
    clustering, so the finer window adds a sort, not a shuffle
    (plan-asserted). The trigram groupBy reduces to |types|^3 keys;
    the final top-K window runs on that tiny relation. Deterministic
    order: (n desc, path asc)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(
        F.unix_micros(F.col("ts"))
    ).over(w)
    new_session = F.when(
        gap.isNull() | (gap > SESSION_GAP_MIN * 60 * 1_000_000), 1
    ).otherwise(0)
    sessions = ev.select(
        "user_id", "ts", "event_id", "event_type"
    ).withColumn(
        "session_idx",
        F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    ws = Window.partitionBy("user_id", "session_idx").orderBy(
        "ts", "event_id"
    )
    tri = (
        sessions.withColumn("t1", F.lag("event_type", 2).over(ws))
        .withColumn("t2", F.lag("event_type", 1).over(ws))
        .filter(F.col("t1").isNotNull())
        .select(
            F.concat_ws(
                ">", F.col("t1"), F.col("t2"), F.col("event_type")
            ).alias("path")
        )
    )
    counts = tri.groupBy("path").agg(F.count(F.lit(1)).alias("n"))
    from ..functions.windows import ranked_top_k

    return ranked_top_k(
        counts, [F.col("n").desc(), F.col("path")], TOP_PATHS_K
    ).select(
        F.col("rank").cast("int").alias("rank"),
        "path",
        F.col("n").cast("long").alias("n"),
    )


#: DuckDB twin of session_top_paths (round-6+ registration).
TOP_PATHS_ORACLE = f"""
WITH {_EV},
flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                   > {SESSION_GAP_MIN} * 60 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sessions AS (
  SELECT *, SUM(new_session) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM flagged),
tri AS (
  SELECT LAG(event_type, 2) OVER ws AS t1,
         LAG(event_type, 1) OVER ws AS t2,
         event_type AS t3
  FROM sessions
  WINDOW ws AS (PARTITION BY user_id, session_idx
                ORDER BY ts, event_id)),
counts AS (
  SELECT t1 || '>' || t2 || '>' || t3 AS path, COUNT(*) AS n
  FROM tri WHERE t1 IS NOT NULL
  GROUP BY 1)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, path) AS INT) AS rank,
       path, CAST(n AS BIGINT) AS n
FROM counts
QUALIFY rank <= {TOP_PATHS_K}"""


def events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness (Fano factor) of daily event arrivals per type:
    variance-to-mean ratio of the daily counts — VMR >> 1 flags
    bursty/clumped traffic (incident retries, bot storms), VMR ≈ 1
    is Poisson-like organic arrival. Emitted as the exact integer
    Pearson-style components (n, sum, sum of squares) plus the
    ppm-scaled VMR computed with one truncating div over
    DECIMAL(38,0) products — no float in any hashed column.
    Registered in round 6.

    vmr_ppm = 1e6 * (n*ss - s^2) / (s * (n-1))  [sample variance /
    mean, common-denominator integer form]. Types observed on a
    single day report vmr_ppm = 0 by convention (no variance
    estimate). One daily groupBy + one per-type rollup."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("d"), "event_type"
    ).agg(F.count(F.lit(1)).alias("c"))
    return (
        daily.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("c").alias("s"),
            F.sum(F.col("c") * F.col("c")).alias("ss"),
        )
        .select(
            "event_type",
            F.col("n_days").cast("long").alias("n_days"),
            F.col("s").cast("long").alias("total_events"),
            F.col("ss").cast("long").alias("sum_sq"),
            F.expr(
                "CAST(CASE WHEN n_days < 2 THEN 0 ELSE "
                "(CAST(n_days AS DECIMAL(38,0)) * ss - "
                "CAST(s AS DECIMAL(38,0)) * s) * 1000000 div "
                "(CAST(s AS DECIMAL(38,0)) * (n_days - 1)) END "
                "AS BIGINT)"
            ).alias("vmr_ppm"),
        )
    )


#: DuckDB twin of events_burstiness (round-6+ registration).
BURSTINESS_ORACLE = f"""
WITH {_EV},
daily AS (
  SELECT CAST(ts AS DATE) AS d, event_type, COUNT(*) AS c
  FROM ev GROUP BY 1, 2)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(c) AS BIGINT) AS total_events,
       CAST(SUM(c * c) AS BIGINT) AS sum_sq,
       CAST(CASE WHEN COUNT(*) < 2 THEN 0 ELSE
            (COUNT(*) * SUM(CAST(c AS HUGEINT) * c)
             - SUM(CAST(c AS HUGEINT)) * SUM(c)) * 1000000
            // (SUM(CAST(c AS HUGEINT)) * (COUNT(*) - 1)) END
            AS BIGINT) AS vmr_ppm
FROM daily GROUP BY event_type"""


def events_hour_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHEN does each event type happen, normalized: the (type, hour)
    contingency table with per-cell LIFT in integer ppm — observed
    count over the independence expectation row_total*col_total/N
    (lift 1e6 = "this type is indifferent to this hour"; errors at
    3am, purchases at noon show as >1e6 cells). The normalized
    companion of the raw-count hourly heatmap.
    Registered in round 6.

    Exactness: lift_ppm = o * N * 1e6 div (r * c) — one truncating
    div over DECIMAL(38,0) products (counts to ~1e12 stay inside 38
    digits with the 1e6 scale). Epoch-hour extraction is hour() on
    the shared micros-normalized timestamp. One map-side-combinable
    groupBy; marginals are windows over the <=24*|types| cells."""
    ev = load_table(spark, sf_dir, "events")
    from ..functions.windows import bounded_spec

    cells = hour_cells(ev)
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("hour")
    wn = bounded_spec(cells)  # <= 24*|event types| cells by construction
    m = cells.select(
        "event_type", "hour", "o",
        F.sum("o").over(wr).alias("r"),
        F.sum("o").over(wc).alias("c"),
        F.sum("o").over(wn).alias("n"),
    )
    return m.select(
        "event_type",
        F.col("hour").cast("int").alias("hour"),
        F.col("o").cast("long").alias("n_events"),
        F.col("r").cast("long").alias("type_total"),
        F.col("c").cast("long").alias("hour_total"),
        F.expr(
            "CAST(CAST(o AS DECIMAL(38,0)) * n * 1000000 "
            "div (CAST(r AS DECIMAL(38,0)) * c) AS BIGINT)"
        ).alias("lift_ppm"),
    )


#: DuckDB twin of events_hour_lift (round-6+ registration).
HOUR_LIFT_ORACLE = f"""
WITH {_EV},
cells AS (
  SELECT event_type, EXTRACT(hour FROM ts) AS hour, COUNT(*) AS o
  FROM ev GROUP BY 1, 2),
m AS (
  SELECT event_type, hour, o,
         SUM(o) OVER (PARTITION BY event_type) AS r,
         SUM(o) OVER (PARTITION BY hour) AS c,
         SUM(o) OVER () AS n
  FROM cells)
SELECT event_type, CAST(hour AS INT) AS hour,
       CAST(o AS BIGINT) AS n_events,
       CAST(r AS BIGINT) AS type_total,
       CAST(c AS BIGINT) AS hour_total,
       CAST(CAST(o AS HUGEINT) * n * 1000000
            // (CAST(r AS HUGEINT) * c) AS BIGINT) AS lift_ppm
FROM m"""


#: DuckDB twin of events_type_correlation — written in r5 to upgrade
#: the r4 prebuilt from Python-twin-only to oracle-ready (same
#: unit-scale integer Pearson components; HUGEINT carries the squared
#: numerator).
TYPE_CORRELATION_ORACLE = f"""
WITH {_EV},
daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) // 100
              AS BIGINT) AS cents
  FROM ev GROUP BY 1, 2),
spine AS (
  SELECT d.day, t.event_type
  FROM (SELECT DISTINCT day FROM daily) d,
       (SELECT DISTINCT event_type FROM daily) t),
filled AS (
  SELECT spine.day, spine.event_type,
         COALESCE(daily.cents, 0) AS cents
  FROM spine LEFT JOIN daily USING (day, event_type)),
pairs AS (
  SELECT a.event_type AS type_1, b.event_type AS type_2,
         a.cents AS x, b.cents AS y
  FROM filled a JOIN filled b
    ON a.day = b.day AND a.event_type < b.event_type),
agg AS (
  SELECT type_1, type_2, COUNT(*) AS n,
         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM pairs GROUP BY type_1, type_2)
SELECT type_1, type_2,
       CAST(n AS BIGINT) AS n_days,
       CAST(sx AS BIGINT) AS sum_1,
       CAST(sy AS BIGINT) AS sum_2,
       CAST(sxy AS BIGINT) AS sum_cross,
       CAST(CASE WHEN (n * sxx - sx * sx) = 0
                   OR (n * syy - sy * sy) = 0 THEN 0
            ELSE CAST(sign(n * sxy - sx * sy) AS HUGEINT)
                 * ((n * sxy - sx * sy) * (n * sxy - sx * sy)
                    * 1000000
                    // ((n * sxx - sx * sx) * (n * syy - sy * sy)))
            END AS BIGINT) AS r2_signed_ppm
FROM agg"""


REPURCHASE_QS = (25, 50, 75, 90)


def interpurchase_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repurchase-cadence distribution: exact quantiles of the gap in
    days between a user's CONSECUTIVE purchases — the metric behind
    replenishment emails and churn-risk windows ("the median
    repurchaser returns in N days; 90% return within M").
    Registered in round 6.

    Exactness: gaps from the per-user lag window under the (ts,
    event_id) total order, in whole days; quantiles are exact
    elements at ceil(q*n/100) ranks over the DISTINCT-REDUCED
    gap-day cells (the rank-walk pattern: one lag window on the
    purchase stream, one tiny cell groupBy, windows over <=
    |distinct gaps| rows)."""
    ev = load_table(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        purch.select(
            "user_id", "ts", "event_id",
            F.lag(F.to_date("ts")).over(w).alias("prev_d"),
        )
        .filter(F.col("prev_d").isNotNull())
        .select(
            F.datediff(F.to_date("ts"), F.col("prev_d")).alias("gap_days")
        )
    )
    from ..functions.windows import bounded_spec

    # <= |distinct day gaps| cells (bounded by the corpus day span):
    # deliberate single-partition cumulation over the tiny rollup
    cells = gaps.groupBy("gap_days").agg(F.count(F.lit(1)).alias("c"))
    wcum = bounded_spec(cells).orderBy("gap_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = bounded_spec(cells)
    walked = cells.select(
        "gap_days", "c",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    qs = F.explode(
        F.array(*[F.lit(q) for q in REPURCHASE_QS])
    ).alias("q")
    targets = walked.select("gap_days", "cum", "n", qs).withColumn(
        "target", F.expr("(q * n + 99) div 100")
    )
    return (
        targets.filter(F.col("cum") >= F.col("target"))
        .groupBy("q", "target")
        .agg(
            F.min("gap_days").alias("gap_days"),
            F.first("n").alias("n_gaps"),
        )
        .select(
            F.col("q").cast("int").alias("q"),
            F.col("target").cast("long").alias("target_rank"),
            F.col("n_gaps").cast("long").alias("n_gaps"),
            F.col("gap_days").cast("long").alias("gap_days"),
        )
    )


#: DuckDB twin of interpurchase_quantiles (round-6+ registration).
INTERPURCHASE_ORACLE = f"""
WITH {_EV},
purch AS (SELECT * FROM ev WHERE event_type = 'purchase'),
gaps AS (
  SELECT datediff('day',
           LAG(CAST(ts AS DATE)) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id),
           CAST(ts AS DATE)) AS gap_days
  FROM purch
  QUALIFY gap_days IS NOT NULL),
cells AS (SELECT gap_days, COUNT(*) AS c FROM gaps GROUP BY gap_days),
walked AS (
  SELECT gap_days, c,
         SUM(c) OVER (ORDER BY gap_days ROWS UNBOUNDED PRECEDING)
           AS cum,
         SUM(c) OVER () AS n
  FROM cells)
SELECT CAST(q AS INT) AS q,
       CAST((q * n + 99) // 100 AS BIGINT) AS target_rank,
       CAST(n AS BIGINT) AS n_gaps,
       CAST(MIN(gap_days) AS BIGINT) AS gap_days
FROM walked, (SELECT unnest({list(REPURCHASE_QS)}) AS q) qq
WHERE cum >= (q * n + 99) // 100
GROUP BY q, (q * n + 99) // 100, n"""


def hour_cells(events_df: DataFrame) -> DataFrame:
    """(event_type, hour, o) contingency counters — the mergeable
    core of events_hour_lift, shared by the streaming twin
    (streaming/stateful.stream_hour_cells): cells add across
    micro-batches, bounded at 24 * |types|."""
    return events_df.groupBy(
        "event_type", F.hour("ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("o"))


# --- Round-6 registrations into the driver contract
# --- (queries()/oracle_sql()).
QUERIES["events_seasonal_decompose"] = events_seasonal_decompose
ORACLES["events_seasonal_decompose"] = SEASONAL_ORACLE
QUERIES["events_robust_anomalies"] = events_robust_anomalies
ORACLES["events_robust_anomalies"] = ROBUST_ANOMALY_ORACLE
QUERIES["event_transition_matrix"] = event_transition_matrix
ORACLES["event_transition_matrix"] = TRANSITION_ORACLE
QUERIES["funnel_latency_quantiles"] = funnel_latency_quantiles
ORACLES["funnel_latency_quantiles"] = FUNNEL_LATENCY_ORACLE
QUERIES["session_top_paths"] = session_top_paths
ORACLES["session_top_paths"] = TOP_PATHS_ORACLE
QUERIES["events_burstiness"] = events_burstiness
ORACLES["events_burstiness"] = BURSTINESS_ORACLE
QUERIES["events_hour_lift"] = events_hour_lift
ORACLES["events_hour_lift"] = HOUR_LIFT_ORACLE
QUERIES["events_type_correlation"] = events_type_correlation
ORACLES["events_type_correlation"] = TYPE_CORRELATION_ORACLE
QUERIES["interpurchase_quantiles"] = interpurchase_quantiles
ORACLES["interpurchase_quantiles"] = INTERPURCHASE_ORACLE


#: session-depth histogram buckets (events per session)
DEPTH_EDGES = (1, 3, 7, 15)


def events_session_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement-depth profile: sessions bucketed by event count
    (1 / 2-3 / 4-7 / 8-15 / 16+) with session and event totals per
    bucket — the first chart a product team draws over sessionized
    traffic. Composes the proven sessionize pass (one user_id
    shuffle) with a tiny 5-bucket rollup. Registered in round 6."""
    s = sessionize(load_table(spark, sf_dir, "events"))
    bucket = (
        F.when(F.col("n_events") <= 1, F.lit("1"))
        .when(F.col("n_events") <= 3, F.lit("2-3"))
        .when(F.col("n_events") <= 7, F.lit("4-7"))
        .when(F.col("n_events") <= 15, F.lit("8-15"))
        .otherwise(F.lit("16+"))
    )
    return s.groupBy(bucket.alias("depth_bucket")).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.min("n_events").cast("long").alias("min_depth"),
        F.max("n_events").cast("long").alias("max_depth"),
    )


#: DuckDB twin of events_session_depth_histogram (r7 registration).
SESSION_DEPTH_ORACLE = f"""
WITH {_EV},
flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                   > {SESSION_GAP_MIN * 60} * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id,
         CAST(SUM(new_session) OVER (PARTITION BY user_id
              ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS session_idx
  FROM flagged
),
per AS (
  SELECT user_id, session_idx, CAST(COUNT(*) AS BIGINT) AS n
  FROM sessions GROUP BY user_id, session_idx
)
SELECT CASE WHEN n <= 1 THEN '1' WHEN n <= 3 THEN '2-3'
            WHEN n <= 7 THEN '4-7' WHEN n <= 15 THEN '8-15'
            ELSE '16+' END AS depth_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(MIN(n) AS BIGINT) AS min_depth,
       CAST(MAX(n) AS BIGINT) AS max_depth
FROM per GROUP BY 1"""


QUERIES["events_session_depth_histogram"] = events_session_depth_histogram
ORACLES["events_session_depth_histogram"] = SESSION_DEPTH_ORACLE


# ---------------------------------------------------------------------------
# Round-7 operators.
# ---------------------------------------------------------------------------

def events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per day — THE product-engagement ratio
    (what fraction of the week's active users showed up today): DAU,
    trailing-{ROLLING_DAYS}-day WAU, and stickiness in exact integer
    ppm, built on the proven rolling-distinct shape (distinct-reduce
    to (day, user) pairs, bounded fan-out to window ends — never a
    range self-join; at 100 TB swap the exact distinct for the KMV
    merge twin exactly as events_rolling_distinct_users documents).
    Added in round 7."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    days = daily.select("d").distinct()
    dau = daily.groupBy("d").agg(
        F.count_distinct("user_id").alias("dau")
    )
    cover = daily.select(
        F.explode(F.expr(f"sequence(0, {ROLLING_DAYS - 1})")).alias(
            "off"
        ),
        "d",
        "user_id",
    ).select(F.date_add("d", F.col("off")).alias("day"), "user_id")
    wau = (
        cover.join(
            F.broadcast(days), cover["day"] == days["d"], "left_semi"
        )
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, dau["d"] == wau["day"])
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
            F.expr(
                "CAST(CAST(dau AS DECIMAL(38,0)) * 1000000 div wau"
                " AS BIGINT)"
            ).alias("stickiness_ppm"),
        )
    )


STICKINESS_ORACLE = f"""
WITH dd AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
days AS (SELECT DISTINCT d FROM dd),
dau AS (SELECT d, COUNT(DISTINCT user_id) AS dau FROM dd GROUP BY d),
wau AS (SELECT days.d, COUNT(DISTINCT dd.user_id) AS wau
        FROM days JOIN dd
          ON dd.d BETWEEN days.d - {ROLLING_DAYS - 1} AND days.d
        GROUP BY days.d)
SELECT strftime(dau.d, '%Y-%m-%d') AS day,
       CAST(dau.dau AS BIGINT) AS dau,
       CAST(wau.wau AS BIGINT) AS wau,
       CAST(CAST(dau.dau AS HUGEINT) * 1000000 // wau.wau AS BIGINT)
         AS stickiness_ppm
FROM dau JOIN wau ON dau.d = wau.d"""


# Registered r8.
QUERIES["events_stickiness"] = events_stickiness
ORACLES["events_stickiness"] = STICKINESS_ORACLE
