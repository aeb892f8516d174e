"""Deterministic distributed sketches.

Spark's built-in sketches (approx_count_distinct's HLL++,
approx_percentile's KLL) are approximate AND implementation-specific —
no other engine reproduces their exact outputs, so they can't sit
under a value-hash correctness oracle. The sketches here are chosen to
be BOTH distributed-friendly and bit-reproducible: every hash is an
md5 prefix (the repo's determinism rule) and every estimator is exact
integer arithmetic, so DuckDB derives the identical sketch from the
same rows.

KMV (k-minimum-values): keep the k smallest 60-bit hashes of the
distinct keys; the k-th smallest h_k estimates the distinct count as
(k-1) * 2^60 / h_k (uniform order statistics). Mergeable: union two
sketches' hash sets and re-take the k smallest — the shape that
distributes (partial per partition/day, merge in the combiner).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..datamodel import load_table
from ..functions.text import md5_long, md5_long_sql

KMV_K = 16
HASH_SPACE = 1 << 60  # md5_long is a 60-bit hash


def q_sketch_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-user estimate per event_type, next to the exact
    count so the sketch error is visible in the result itself.

    Plan shape at 100 TB: one distinct-reduce on (type, hash) — the
    heavy phase, map-side combinable — then the k-smallest rank runs
    per type. The estimator floor((k-1) * 2^60 / h_k) is exact integer
    division (decimal-widened: (k-1) << 60 overflows int64), so both
    engines compute the identical estimate from the identical hash."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "event_type", md5_long(F.col("user_id").cast("string")).alias("h")
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    kth = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == KMV_K)
        .select("event_type", F.col("h").alias("kth_min_hash"))
    )
    exact = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("exact_distinct")
    )
    est = F.expr(
        f"CAST({KMV_K - 1} AS DECIMAL(38,0)) * {HASH_SPACE} div kth_min_hash"
    )
    return kth.join(exact, "event_type").select(
        "event_type",
        "kth_min_hash",
        est.alias("est_distinct"),
        "exact_distinct",
    )


HLL_RSD = 0.02
HLL_BAND_PCT = 10  # ±10% = 5 standard errors at rsd=0.02


def q_approx_distinct_attest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-attested 100 TB distinct-count path: Spark's built-in
    ``approx_count_distinct`` (HyperLogLog++, mergeable, one pass, no
    shuffle of raw keys) checked against the exact count IN THE QUERY.

    HLL++ output is implementation-specific, so the sketch value itself
    can't sit under a cross-engine value hash. Instead the hashed
    columns are the group key, the exact count, and an integer
    ``in_band`` verdict computed in exact integer space:
    ``|approx - exact| * 100 <= exact * HLL_BAND_PCT``. The DuckDB
    oracle emits ``in_band = 1`` unconditionally — if Spark's sketch
    ever drifts past the band the hash mismatches and the driver turns
    the row red. HLL++ is hash-based and deterministic, so the verdict
    is stable run-over-run on the same input.

    At 100 TB this is the production plan for distinct users (the
    exact groupBy-distinct twin `sketch_distinct_users` is the
    oracle-able KMV variant): partial HLL buffers merge in the
    combiner, no (type, user) distinct-reduce shuffle at all."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct"),
        F.expr(f"approx_count_distinct(user_id, {HLL_RSD}D)").alias(
            "approx"
        ),
    )
    return per.select(
        "event_type",
        "exact_distinct",
        (
            F.abs(F.col("approx") - F.col("exact_distinct")) * 100
            <= F.col("exact_distinct") * HLL_BAND_PCT
        )
        .cast("long")
        .alias("in_band"),
    )


TOP_KEYS = 10
PPM = 1_000_000


def q_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew pre-flight: the top heavy keys of events.user_id
    with each key's integer-ppm share of all rows — the audit run
    BEFORE shuffling 100 TB on a key, deciding between a plain shuffle
    join, AQE skew splitting, or an explicit salt (operators/skew.py).

    One map-side-combinable count per key, then a global top-N (AQE
    partial TopK under the window). The grand total is a 1-row scalar
    aggregate broadcast-cross-joined into the top-k result — an
    all-rows SUM window over the unpartitioned counts relation would
    stream every distinct key through a single task (no WindowGroupLimit
    pushdown for it, unlike the rank<=N filter), making the skew audit
    itself a single-reducer pass at the scale it guards. share_ppm is
    exact integer div — the skew verdict must not depend on float
    rendering."""
    ev = load_table(spark, sf_dir, "events")
    from ..functions.windows import ranked_top_k

    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_rows"))
    total = counts.agg(F.sum("n_rows").alias("total"))
    return (
        ranked_top_k(
            counts, [F.col("n_rows").desc(), F.col("user_id")], TOP_KEYS
        )
        .crossJoin(F.broadcast(total))
        .select(
            F.col("rank").cast("int").alias("rank"),
            "user_id",
            "n_rows",
            F.expr(f"CAST(n_rows AS DECIMAL(38,0)) * {PPM} div total")
            .cast("long").alias("share_ppm"),
        )
    )


CMS_DEPTH = 4
CMS_WIDTH = 256


def cms_bucket(i: Column, key: Column) -> Column:
    """Row i's CMS bucket for a key — namespaced md5 ('cms<i>:<key>'),
    never reusing one digest for two decisions."""
    return F.pmod(
        md5_long(
            F.concat(F.lit("cms"), i.cast("string"), F.lit(":"),
                     key.cast("string"))
        ),
        F.lit(CMS_WIDTH),
    )


def cms_grid(ev: DataFrame) -> DataFrame:
    """events → the depth×width CMS counter grid (i, bucket, c) of
    user_id frequencies. Pure declarative transformation, so the SAME
    code runs batch or streaming: on a batch frame it plans a map-side
    combinable sum; on a streaming frame Spark maintains the cells as
    MERGEABLE STATE (cell-wise addition — exactly the CMS merge
    operation) and `streaming.stateful.stream_cms_counters` drains it
    incrementally. Lambda parity is pinned by tests/test_streaming.py:
    the drained streaming grid equals this grid over the unioned
    batches, cell for cell."""
    hashed = ev.select(
        "user_id",
        F.explode(F.expr(f"sequence(0, {CMS_DEPTH - 1})")).alias("i"),
    ).withColumn("bucket", cms_bucket(F.col("i"), F.col("user_id")))
    return hashed.groupBy("i", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )


def cms_grid_for(df: DataFrame, key: str) -> DataFrame:
    """Generic keyed CMS grid: (i, bucket, c) counters of `key`'s
    frequencies — `cms_grid` for any relation/column (same namespaced
    hashes, so grids over DIFFERENT relations are comparable)."""
    hashed = df.select(
        F.col(key).alias("k"),
        F.explode(F.expr(f"sequence(0, {CMS_DEPTH - 1})")).alias("i"),
    ).withColumn("bucket", cms_bucket(F.col("i"), F.col("k")))
    return hashed.groupBy("i", "bucket").agg(F.count(F.lit(1)).alias("c"))


def cms_join_cardinality(grid_a: DataFrame, grid_b: DataFrame) -> DataFrame:
    """Equi-join SIZE estimate from two CMS grids — the classic
    sketch inner product (AMS/CMS): per depth row, sum over buckets of
    c_a * c_b over-counts |A ⋈ B| (colliding keys only add mass), and
    the minimum across the {CMS_DEPTH} independent rows is the
    estimate. This is what a cost-based planner wants BEFORE running a
    100 TB join: both grids are tiny mergeable counter tables built
    with one scan each — the join itself never runs. est >= exact by
    construction (pinned by test with the deterministic hash family).
    """
    a = grid_a.select("i", "bucket", F.col("c").alias("ca"))
    b = grid_b.select("i", "bucket", F.col("c").alias("cb"))
    per_row = (
        a.join(b, ["i", "bucket"])
        .groupBy("i")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("ip"))
    )
    return per_row.agg(F.min("ip").cast("long").alias("est_join_rows"))


def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters: the top keys' exact counts next
    to their CMS estimates, both engines deriving the IDENTICAL sketch
    (namespaced md5 row hashes, exact integer counters) so the
    approximate structure itself sits under the value-hash oracle.

    Why CMS at 100 TB: the counter table is a fixed depth x width
    integer grid — mergeable by cell-wise addition across partitions,
    days, or clusters, so "top keys over any ad-hoc union of slices"
    never re-reads the raw data. The estimate only over-counts
    (cms_est >= n_rows, by construction), bounded by sum/width per row.

    Plan: distinct-reduce to per-key counts first (the only big
    shuffle), fan each key out DEPTH ways (bounded explode), build the
    1024-cell grid with a map-side-combinable sum, then estimate just
    the top keys against the broadcast grid. Hash rows are namespaced
    ('cms<i>:') — never reusing one digest for two decisions."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_rows"))
    hashed = counts.select(
        "user_id",
        "n_rows",
        F.explode(F.expr(f"sequence(0, {CMS_DEPTH - 1})")).alias("i"),
    ).withColumn("bucket", cms_bucket(F.col("i"), F.col("user_id")))
    counters = hashed.groupBy("i", "bucket").agg(
        F.sum("n_rows").alias("c")
    )
    from ..functions.windows import ranked_top_k

    top = ranked_top_k(
        counts, [F.col("n_rows").desc(), F.col("user_id")], TOP_KEYS
    ).select(F.col("rank").cast("int").alias("rank"), "user_id", "n_rows")
    est = (
        hashed.join(top.select("user_id"), "user_id", "left_semi")
        .join(F.broadcast(counters), ["i", "bucket"])
        .groupBy("user_id")
        .agg(F.min("c").alias("cms_est"))
    )
    return top.join(est, "user_id").select(
        "rank", "user_id", "n_rows", "cms_est"
    )


PLAN_TARGET_ROWS = 1 << 16
PLAN_CPUS = 32


def q_shuffle_plan_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew audit taken to its conclusion: emit the SHUFFLE PLAN
    for joining on events.user_id — per top key the salt factor
    (ceil(rows / target), 1 = no salting needed) and the partition
    count sized for the non-hot remainder. Mirrors
    `sources.bucketing.plan_skewed_shuffle` in row units, all integer
    arithmetic, so the DuckDB oracle derives the identical plan
    (tests/test_sampling_skew.py additionally pins query == planner).

    On this corpus every key is uniform, so the plan honestly says
    "salt_factor 1 everywhere, floor partitions" — the audit verdict
    that lets 100 TB skip salting. The hot-key branch is exercised by
    the planner unit tests with synthetic skew. Production confs plan
    in BYTES via `plan_shuffle_partitions_from_skew` fed by
    `q_join_key_skew`'s ppm table."""
    ev = load_table(spark, sf_dir, "events")
    from ..functions.windows import ranked_top_k

    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_rows"))
    totals = counts.agg(
        F.sum("n_rows").alias("total"),
        F.sum(
            F.when(
                F.col("n_rows") > PLAN_TARGET_ROWS, F.col("n_rows")
            ).otherwise(0)
        ).alias("hot_rows"),
    )
    t, c = PLAN_TARGET_ROWS, PLAN_CPUS
    return (
        ranked_top_k(
            counts, [F.col("n_rows").desc(), F.col("user_id")], TOP_KEYS
        )
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("rank").cast("int").alias("rank"),
            "user_id",
            "n_rows",
            F.expr(
                f"CAST(CASE WHEN n_rows > {t}"
                f" THEN (n_rows + {t - 1}) div {t}"
                f" ELSE 1 END AS INT)"
            ).alias("salt_factor"),
            F.expr(
                f"CAST(greatest({c}, CASE WHEN total > hot_rows"
                f" THEN (total - hot_rows + {t - 1}) div {t}"
                f" ELSE {c} END) AS INT)"
            ).alias("n_partitions"),
        )
    )


def q_rolling_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct users per day via KMV SKETCH MERGE — the
    approximate scale twin of `events_rolling_distinct_users` (which
    re-counts every (day,user) pair per window end).

    This is the shape that wins at 100 TB: (1) reduce each day to its
    k-minimum-values sketch ONCE (k smallest 60-bit user hashes — the
    only pass over the raw pairs); (2) fan the <=k hashes per day out
    to the <=7 window ends (bounded explode over the TINY sketch
    relation, <= 7k rows per day, not over events); (3) per window end,
    merge = union the candidate hashes, dedupe, re-take the k smallest.
    The KMV merge property makes step 3 exact w.r.t. the union sketch:
    any hash among the union's k smallest is necessarily among its own
    day's k smallest. Windows covering fewer than k distinct users
    degrade to the EXACT count (n_sketch < k ⇒ every hash is present).
    All-deterministic (md5 hash space, integer floor-div estimator), so
    DuckDB derives the identical sketch — the approximate structure
    itself sits under the value-hash oracle."""
    from ..plans.events_queries import ROLLING_DAYS

    ev = load_table(spark, sf_dir, "events")
    daily = ev.select(
        F.to_date("ts").alias("d"),
        md5_long(F.col("user_id").cast("string")).alias("h"),
    ).distinct()
    wd = Window.partitionBy("d").orderBy("h")
    sketch = (
        daily.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") <= KMV_K)
        .select("d", "h")
    )
    days = daily.select("d").distinct()
    cover = sketch.select(
        F.explode(F.expr(f"sequence(0, {ROLLING_DAYS - 1})")).alias("off"),
        "d",
        "h",
    ).select(F.date_add("d", F.col("off")).alias("day"), "h")
    cand = (
        cover.join(F.broadcast(days), cover["day"] == days["d"], "left_semi")
        .select("day", "h")
        .distinct()
    )
    we = Window.partitionBy("day").orderBy("h")
    merged = (
        cand.withColumn("rn", F.row_number().over(we))
        .filter(F.col("rn") <= KMV_K)
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_sketch"),
            F.max("h").alias("kth_min_hash"),
        )
    )
    est = F.when(
        F.col("n_sketch") < KMV_K, F.col("n_sketch").cast("long")
    ).otherwise(
        F.expr(
            f"CAST({KMV_K - 1} AS DECIMAL(38,0)) * {HASH_SPACE}"
            " div kth_min_hash"
        )
    )
    return merged.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_sketch",
        "kth_min_hash",
        est.alias("est_users_7d"),
    )


HIST_NBUCKETS = 256
HIST_QUANTILES = (25, 50, 75, 90, 99)


def q_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles from a fixed equi-width integer histogram — the
    mergeable-sketch answer to percentiles (the quantile sibling of
    the CMS grid: 256 integer counters that merge by cell-wise
    addition across partitions/days/clusters, then any quantile reads
    off the cumulative histogram). Unlike approx_percentile's KLL,
    this sketch is a DETERMINISTIC function of the data, so the full
    structure sits under the cross-engine value hash — no error band
    needed; the price is resolution fixed by the bucket width instead
    of adaptive rank error.

    Everything is exact integer: bucket width = ceil(range/256),
    bucket = (cents-min) div w, target rank = ceil(q*n/100); the
    answer row per quantile is the first bucket whose cumulative count
    reaches the target, reported as [lo, hi] cents bounds with the
    rank mass below it. Plan: one min/max/count scan (broadcast 1-row
    scalar), one map-side-combinable 256-cell histogram, and a window
    over <=256 rows."""
    ev = load_table(spark, sf_dir, "events")
    cents = ev.select(
        F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    stats = cents.agg(
        F.min("cents").alias("mn"),
        F.max("cents").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    b = cents.crossJoin(F.broadcast(stats)).withColumn(
        "w",
        F.expr(f"greatest(1L, (mx - mn + 1 + {HIST_NBUCKETS - 1})"
               f" div {HIST_NBUCKETS})"),
    )
    hist = (
        b.withColumn("bucket", F.expr("(cents - mn) div w"))
        .groupBy("bucket", "mn", "w", "n")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from ..functions.windows import bounded_spec

    # fixed HIST_NBUCKETS cells: deliberate single-partition cumsum
    wcum = bounded_spec(hist).orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn("cum", F.sum("c").over(wcum))
    qs = F.explode(
        F.array(*[F.lit(q) for q in HIST_QUANTILES])
    ).alias("q")
    targets = stats.select(qs, F.expr("(q * n + 99) div 100").alias("target"))
    hit = (
        cum.join(F.broadcast(targets), F.col("cum") >= F.col("target"))
        .groupBy("q", "target")
        .agg(
            F.min("bucket").alias("bucket"),
            F.min_by(F.col("cum") - F.col("c"), F.col("bucket")).alias(
                "n_below"
            ),
            F.first("mn").alias("mn"),
            F.first("w").alias("w"),
        )
    )
    return hit.select(
        F.col("q").cast("int").alias("q"),
        F.col("target").cast("long").alias("target_rank"),
        F.col("bucket").cast("long").alias("bucket"),
        F.expr("mn + bucket * w").cast("long").alias("lo_cents"),
        F.expr("mn + (bucket + 1) * w - 1").cast("long").alias("hi_cents"),
        F.col("n_below").cast("long").alias("n_below"),
    )


EQD_NB = 64        # coarse equi-width cells (pass 1)
EQD_SUB = 64       # sub-cells per heavy cell (pass 2)
EQD_QUANTILES = HIST_QUANTILES


def equidepth_cells(
    cents: DataFrame, stats: DataFrame, heavy: DataFrame
) -> DataFrame:
    """(bucket, sub, c) refined-histogram cells for a data subset,
    given GLOBAL boundaries: `stats` (1 row: mn, n, w) and `heavy`
    (the coarse cells to split). Because the boundaries are inputs,
    cells built on disjoint subsets MERGE by cell-wise addition —
    the property the merge==direct test pins."""
    b = cents.crossJoin(F.broadcast(stats)).withColumn(
        "bucket", F.expr("(cents - mn) div w")
    )
    flagged = b.join(F.broadcast(heavy), "bucket", "left")
    return (
        flagged.withColumn(
            "sub",
            F.when(
                F.col("is_heavy").isNull(), F.lit(0).cast("long")
            ).otherwise(
                F.expr("(cents - mn - bucket * w) div sub_w")
            ),
        )
        .groupBy("bucket", "sub")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def equidepth_boundaries(cents: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Pass-1 scan: the 1-row global stats and the heavy-cell list
    (coarse cells holding more than the average n/{EQD_NB} mass, each
    with its sub-cell width). Both are deterministic functions of the
    data and themselves mergeable (min/max/count + counter addition),
    so a 100 TB deployment computes them once per epoch and shares
    them across every partial sketch.

    Both frames are localCheckpointed (1 row / <= {EQD_NB} rows):
    stats feeds the coarse histogram AND the quantile targets, heavy
    is broadcast twice (cell building + final bound lookup) — without
    materialization every consumer re-runs its own scan of the data
    (measured ~4-5 scans instead of the documented two passes)."""
    stats = cents.agg(
        F.min("cents").alias("mn"),
        F.max("cents").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    ).withColumn(
        "w",
        F.expr(
            f"greatest(1L, (mx - mn + 1 + {EQD_NB - 1}) div {EQD_NB})"
        ),
    ).select("mn", "n", "w").localCheckpoint(eager=True)
    h1 = (
        cents.crossJoin(F.broadcast(stats))
        .withColumn("bucket", F.expr("(cents - mn) div w"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c1"), F.first("n").alias("n"),
             F.first("w").alias("w"))
    )
    heavy = h1.filter(F.expr(f"c1 > n div {EQD_NB}")).select(
        "bucket",
        F.lit(1).alias("is_heavy"),
        F.expr(f"greatest(1L, (w + {EQD_SUB - 1}) div {EQD_SUB})").alias(
            "sub_w"
        ),
    ).localCheckpoint(eager=True)
    return stats, heavy


def equidepth_quantiles_by_group(
    keyed: DataFrame, group: str = "g", value: str = "cents"
) -> DataFrame:
    """PER-GROUP adaptive quantiles: the two-pass equi-depth sketch
    with every boundary derived PER GROUP KEY (per-group min/max/
    count, per-group heavy cells) — one pair of scans covers every
    group simultaneously (groupBy agg + histogram groupBy, both
    map-side combinable), which is how a 100 TB deployment computes
    per-tenant / per-event-type percentile frames: never one job per
    group. Window functions run per group partition (bounded by
    {EQD_NB}x{EQD_SUB} cells per group). Same output contract as
    q_equidepth_quantiles plus the group column;
    Registered in round 6.
    """
    stats = (
        keyed.groupBy(group)
        .agg(
            F.min(value).alias("mn"),
            F.max(value).alias("mx"),
            F.count(F.lit(1)).alias("n"),
        )
        .withColumn(
            "w",
            F.expr(
                f"greatest(1L, (mx - mn + 1 + {EQD_NB - 1}) div {EQD_NB})"
            ),
        )
        .select(group, "mn", "n", "w")
        .localCheckpoint(eager=True)
    )
    b = keyed.join(F.broadcast(stats), group).withColumn(
        "bucket", F.expr(f"({value} - mn) div w")
    )
    h1 = b.groupBy(group, "bucket").agg(
        F.count(F.lit(1)).alias("c1"),
        F.first("n").alias("n"),
        F.first("w").alias("w"),
    )
    heavy = (
        h1.filter(F.expr(f"c1 > n div {EQD_NB}"))
        .select(
            group,
            "bucket",
            F.lit(1).alias("is_heavy"),
            F.expr(
                f"greatest(1L, (w + {EQD_SUB - 1}) div {EQD_SUB})"
            ).alias("sub_w"),
        )
        .localCheckpoint(eager=True)
    )
    flagged = b.join(F.broadcast(heavy), [group, "bucket"], "left")
    cells = (
        flagged.withColumn(
            "sub",
            F.when(
                F.col("is_heavy").isNull(), F.lit(0).cast("long")
            ).otherwise(F.expr(f"({value} - mn - bucket * w) div sub_w")),
        )
        .groupBy(group, "bucket", "sub")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wcum = (
        Window.partitionBy(group)
        .orderBy("bucket", "sub")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = cells.withColumn("cum", F.sum("c").over(wcum))
    qs = F.explode(
        F.array(*[F.lit(q) for q in EQD_QUANTILES])
    ).alias("q")
    targets = stats.select(
        group, qs, F.expr("(q * n + 99) div 100").alias("target"),
        "mn", "w",
    )
    hit = (
        cum.join(F.broadcast(targets), group)
        .filter(F.col("cum") >= F.col("target"))
        .withColumn("cell", F.struct("bucket", "sub", "c", "cum"))
        .groupBy(group, "q", "target")
        .agg(
            F.min_by("cell", F.struct("bucket", "sub")).alias("cell"),
            F.first("mn").alias("mn"),
            F.first("w").alias("w"),
        )
    ).join(
        F.broadcast(
            heavy.select(
                F.col(group).alias("hg"), F.col("bucket").alias("hb"),
                "sub_w",
            )
        ),
        (F.col(group) == F.col("hg"))
        & (F.col("cell.bucket") == F.col("hb")),
        "left",
    )
    sub_w = F.col("sub_w")
    lo = F.when(
        sub_w.isNull(), F.expr("mn + cell.bucket * w")
    ).otherwise(F.expr("mn + cell.bucket * w") + F.col("cell.sub") * sub_w)
    hi = F.when(
        sub_w.isNull(), F.expr("mn + (cell.bucket + 1) * w - 1")
    ).otherwise(
        F.least(
            F.expr("mn + cell.bucket * w")
            + (F.col("cell.sub") + 1) * sub_w - 1,
            F.expr("mn + (cell.bucket + 1) * w - 1"),
        )
    )
    return hit.select(
        group,
        F.col("q").cast("int").alias("q"),
        F.col("target").cast("long").alias("target_rank"),
        F.col("cell.bucket").cast("long").alias("bucket"),
        F.col("cell.sub").cast("long").alias("sub"),
        lo.cast("long").alias("lo_cents"),
        hi.cast("long").alias("hi_cents"),
        (F.col("cell.cum") - F.col("cell.c")).cast("long").alias("n_below"),
        sub_w.isNotNull().cast("int").alias("refined"),
    )


def q_equidepth_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADAPTIVE quantile sketch: two-pass equi-depth refinement of the
    equi-width histogram (`histogram_quantiles`' documented weakness
    on long-tailed values). Pass 1 scans min/max/count and the coarse
    {EQD_NB}-cell histogram; cells holding more than average mass —
    where the distribution actually lives — are split into {EQD_SUB}
    sub-cells in pass 2, so bound width shrinks by up to {EQD_SUB}x
    exactly where quantiles land, t-digest's adaptivity with NONE of
    its merge-order sensitivity: every structure here is a
    DETERMINISTIC function of the data, fully under the cross-engine
    value hash, and cells merge by addition given the shared pass-1
    boundaries (merge==direct test-pinned).

    Plan: two scans (the price of adaptivity), both map-side
    combinable groupBys on integer cell ids; heavy list and 1-row
    stats broadcast; final window over <= {EQD_NB}*{EQD_SUB} cells."""
    ev = load_table(spark, sf_dir, "events")
    cents = ev.select(
        F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    stats, heavy = equidepth_boundaries(cents)
    cells = equidepth_cells(cents, stats, heavy)
    from ..functions.windows import bounded_spec

    # <= EQD_NB*EQD_SUB cells: deliberate single-partition cumsum
    wcum = bounded_spec(cells).orderBy("bucket", "sub").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cells.withColumn("cum", F.sum("c").over(wcum))
    qs = F.explode(
        F.array(*[F.lit(q) for q in EQD_QUANTILES])
    ).alias("q")
    targets = stats.select(
        qs, F.expr("(q * n + 99) div 100").alias("target"), "mn", "w"
    )
    hit = (
        cum.join(
            F.broadcast(targets), F.col("cum") >= F.col("target")
        )
        .withColumn(
            "cell", F.struct("bucket", "sub", "c", "cum")
        )
        .groupBy("q", "target")
        .agg(
            F.min_by("cell", F.struct("bucket", "sub")).alias("cell"),
            F.first("mn").alias("mn"),
            F.first("w").alias("w"),
        )
    ).join(
        F.broadcast(heavy.select(F.col("bucket").alias("hb"), "sub_w")),
        F.col("cell.bucket") == F.col("hb"),
        "left",
    )
    sub_w = F.col("sub_w")
    lo = F.when(
        sub_w.isNull(), F.expr("mn + cell.bucket * w")
    ).otherwise(
        F.expr("mn + cell.bucket * w")
        + F.col("cell.sub") * sub_w
    )
    hi = F.when(
        sub_w.isNull(), F.expr("mn + (cell.bucket + 1) * w - 1")
    ).otherwise(
        F.least(
            F.expr("mn + cell.bucket * w")
            + (F.col("cell.sub") + 1) * sub_w - 1,
            F.expr("mn + (cell.bucket + 1) * w - 1"),
        )
    )
    return hit.select(
        F.col("q").cast("int").alias("q"),
        F.col("target").cast("long").alias("target_rank"),
        F.col("cell.bucket").cast("long").alias("bucket"),
        F.col("cell.sub").cast("long").alias("sub"),
        lo.cast("long").alias("lo_cents"),
        hi.cast("long").alias("hi_cents"),
        (F.col("cell.cum") - F.col("cell.c")).cast("long").alias("n_below"),
        sub_w.isNotNull().cast("int").alias("refined"),
    )


QUERIES = {
    "histogram_quantiles": q_histogram_quantiles,
    "equidepth_quantiles": q_equidepth_quantiles,
    "rolling_distinct_kmv": q_rolling_distinct_kmv,
    "sketch_distinct_users": q_sketch_distinct_users,
    "approx_distinct_attest": q_approx_distinct_attest,
    "join_key_skew": q_join_key_skew,
    "heavy_hitters_cms": q_heavy_hitters_cms,
    "shuffle_plan_events": q_shuffle_plan_events,
}

_H = md5_long_sql("CAST(user_id AS VARCHAR)")

from ..plans.events_queries import ROLLING_DAYS as _RD

ORACLES = {
    "equidepth_quantiles": f"""
WITH cents AS (SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
               FROM events),
stats AS (SELECT MIN(cents) AS mn, MAX(cents) AS mx,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM cents),
params AS (SELECT mn, n,
                  greatest(1, (mx - mn + 1 + {EQD_NB - 1}) // {EQD_NB}) AS w
           FROM stats),
b AS (SELECT cents, mn, n, w, (cents - mn) // w AS bucket
      FROM cents CROSS JOIN params),
h1 AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c1,
              MIN(n) AS n, MIN(w) AS w
       FROM b GROUP BY bucket),
heavy AS (SELECT bucket,
                 greatest(1, (w + {EQD_SUB - 1}) // {EQD_SUB}) AS sub_w
          FROM h1 WHERE c1 > n // {EQD_NB}),
b2 AS (SELECT b.bucket,
              CASE WHEN h.bucket IS NULL THEN 0
                   ELSE (b.cents - b.mn - b.bucket * b.w) // h.sub_w
              END AS sub
       FROM b LEFT JOIN heavy h ON h.bucket = b.bucket),
h2 AS (SELECT bucket, sub, CAST(COUNT(*) AS BIGINT) AS c
       FROM b2 GROUP BY bucket, sub),
cum AS (SELECT *, CAST(SUM(c) OVER (ORDER BY bucket, sub
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM h2),
targets AS (SELECT q, (q * n + 99) // 100 AS target, mn, w
            FROM params CROSS JOIN
                 (SELECT unnest({list(EQD_QUANTILES)}) AS q)),
hit AS (
  SELECT t.q, t.target,
         MIN_BY(cum.bucket, cum.bucket * {EQD_SUB} + cum.sub) AS bucket,
         MIN_BY(cum.sub, cum.bucket * {EQD_SUB} + cum.sub) AS sub,
         MIN_BY(cum.cum - cum.c, cum.bucket * {EQD_SUB} + cum.sub)
           AS n_below,
         MIN(t.mn) AS mn, MIN(t.w) AS w
  FROM targets t JOIN cum ON cum.cum >= t.target
  GROUP BY t.q, t.target)
SELECT CAST(hit.q AS INT) AS q,
       CAST(hit.target AS BIGINT) AS target_rank,
       CAST(hit.bucket AS BIGINT) AS bucket,
       CAST(hit.sub AS BIGINT) AS sub,
       CAST(CASE WHEN h.sub_w IS NULL THEN mn + hit.bucket * w
                 ELSE mn + hit.bucket * w + hit.sub * h.sub_w
            END AS BIGINT) AS lo_cents,
       CAST(CASE WHEN h.sub_w IS NULL THEN mn + (hit.bucket + 1) * w - 1
                 ELSE least(mn + hit.bucket * w
                              + (hit.sub + 1) * h.sub_w - 1,
                            mn + (hit.bucket + 1) * w - 1)
            END AS BIGINT) AS hi_cents,
       CAST(hit.n_below AS BIGINT) AS n_below,
       CAST(CASE WHEN h.sub_w IS NULL THEN 0 ELSE 1 END AS INT) AS refined
FROM hit LEFT JOIN heavy h ON h.bucket = hit.bucket""",
    "histogram_quantiles": f"""
WITH cents AS (SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
               FROM events),
stats AS (SELECT MIN(cents) AS mn, MAX(cents) AS mx,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM cents),
params AS (SELECT mn, n,
                  greatest(1, (mx - mn + 1 + {HIST_NBUCKETS - 1})
                              // {HIST_NBUCKETS}) AS w
           FROM stats),
hist AS (
  SELECT (cents - mn) // w AS bucket, mn, w, n,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM cents CROSS JOIN params
  GROUP BY 1, 2, 3, 4),
cum AS (
  SELECT *, CAST(SUM(c) OVER (ORDER BY bucket
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM hist),
targets AS (
  SELECT q, (q * n + 99) // 100 AS target
  FROM params CROSS JOIN (SELECT unnest({list(HIST_QUANTILES)}) AS q)),
hit AS (
  SELECT t.q, t.target, MIN(cum.bucket) AS bucket,
         MIN_BY(cum.cum - cum.c, cum.bucket) AS n_below,
         MIN_BY(cum.mn, cum.bucket) AS mn,
         MIN_BY(cum.w, cum.bucket) AS w
  FROM targets t JOIN cum ON cum.cum >= t.target
  GROUP BY t.q, t.target)
SELECT CAST(q AS INT) AS q,
       CAST(target AS BIGINT) AS target_rank,
       CAST(bucket AS BIGINT) AS bucket,
       CAST(mn + bucket * w AS BIGINT) AS lo_cents,
       CAST(mn + (bucket + 1) * w - 1 AS BIGINT) AS hi_cents,
       CAST(n_below AS BIGINT) AS n_below
FROM hit""",
    "rolling_distinct_kmv": f"""
WITH daily AS (SELECT DISTINCT CAST(ts AS DATE) AS d, {_H} AS h
               FROM events),
sketch AS (
  SELECT d, h FROM (
    SELECT d, h, ROW_NUMBER() OVER (PARTITION BY d ORDER BY h) AS rn
    FROM daily)
  WHERE rn <= {KMV_K}
),
days AS (SELECT DISTINCT d FROM daily),
cand AS (
  SELECT DISTINCT days.d AS day, sketch.h
  FROM days JOIN sketch
    ON sketch.d BETWEEN days.d - {_RD - 1} AND days.d
),
merged AS (
  SELECT day,
         CAST(COUNT(*) AS BIGINT) AS n_sketch,
         MAX(h) AS kth_min_hash
  FROM (
    SELECT day, h,
           ROW_NUMBER() OVER (PARTITION BY day ORDER BY h) AS rn
    FROM cand)
  WHERE rn <= {KMV_K}
  GROUP BY day
)
SELECT strftime(day, '%Y-%m-%d') AS day, n_sketch, kth_min_hash,
       CASE WHEN n_sketch < {KMV_K} THEN n_sketch
            ELSE CAST((CAST({KMV_K - 1} AS HUGEINT) * {HASH_SPACE})
                      // kth_min_hash AS BIGINT)
       END AS est_users_7d
FROM merged""",
    "sketch_distinct_users": f"""
WITH d AS (SELECT DISTINCT event_type, {_H} AS h FROM events),
r AS (SELECT event_type, h,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM d),
kth AS (SELECT event_type, h AS kth_min_hash FROM r WHERE rn = {KMV_K}),
exact AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS exact_distinct
          FROM d GROUP BY event_type)
SELECT event_type, kth_min_hash,
       CAST((CAST({KMV_K - 1} AS HUGEINT) * {HASH_SPACE}) // kth_min_hash
            AS BIGINT) AS est_distinct,
       exact_distinct
FROM kth JOIN exact USING (event_type)""",
    "approx_distinct_attest": """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
       CAST(1 AS BIGINT) AS in_band
FROM events GROUP BY event_type""",
    "join_key_skew": f"""
WITH counts AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows
                FROM events GROUP BY user_id),
t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total FROM counts),
r AS (SELECT user_id, n_rows,
             CAST(ROW_NUMBER() OVER (ORDER BY n_rows DESC, user_id)
                  AS INT) AS rank
      FROM counts)
SELECT rank, user_id, n_rows,
       CAST((CAST(n_rows AS HUGEINT) * {PPM}) // total AS BIGINT)
         AS share_ppm
FROM r CROSS JOIN t WHERE rank <= {TOP_KEYS}""",
    "heavy_hitters_cms": f"""
WITH counts AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows
                FROM events GROUP BY user_id),
hashes AS (
  SELECT user_id, n_rows, i,
         {md5_long_sql("'cms' || i || ':' || CAST(user_id AS VARCHAR)")}
           % {CMS_WIDTH} AS bucket
  FROM counts
  CROSS JOIN (SELECT unnest(range({CMS_DEPTH})) AS i)),
counters AS (SELECT i, bucket, CAST(SUM(n_rows) AS BIGINT) AS c
             FROM hashes GROUP BY i, bucket),
r AS (SELECT user_id, n_rows,
             CAST(ROW_NUMBER() OVER (ORDER BY n_rows DESC, user_id)
                  AS INT) AS rank
      FROM counts),
est AS (SELECT h.user_id, CAST(MIN(c.c) AS BIGINT) AS cms_est
        FROM hashes h JOIN counters c USING (i, bucket)
        GROUP BY h.user_id)
SELECT rank, user_id, n_rows, cms_est
FROM r JOIN est USING (user_id) WHERE rank <= {TOP_KEYS}""",
    "shuffle_plan_events": f"""
WITH counts AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows
                FROM events GROUP BY user_id),
t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total,
             CAST(COALESCE(SUM(CASE WHEN n_rows > {PLAN_TARGET_ROWS}
                                    THEN n_rows END), 0) AS BIGINT)
               AS hot_rows
      FROM counts),
r AS (SELECT user_id, n_rows,
             CAST(ROW_NUMBER() OVER (ORDER BY n_rows DESC, user_id)
                  AS INT) AS rank
      FROM counts)
SELECT rank, user_id, n_rows,
       CAST(CASE WHEN n_rows > {PLAN_TARGET_ROWS}
                 THEN (n_rows + {PLAN_TARGET_ROWS - 1})
                      // {PLAN_TARGET_ROWS}
                 ELSE 1 END AS INT) AS salt_factor,
       CAST(GREATEST({PLAN_CPUS},
                     CASE WHEN total > hot_rows
                          THEN (total - hot_rows + {PLAN_TARGET_ROWS - 1})
                               // {PLAN_TARGET_ROWS}
                          ELSE {PLAN_CPUS} END) AS INT) AS n_partitions
FROM r CROSS JOIN t WHERE rank <= {TOP_KEYS}""",
}


FIXED_HIST_W = 500  # fixed 5-unit (500-cent) bucket width


def fixed_hist_cells(events_df: DataFrame) -> DataFrame:
    """Per-event-type FIXED-width value histogram cells — the
    streaming-safe variant of q_histogram_quantiles' data-derived
    width: a stream cannot re-derive min/max without rescanning
    history, so the width is a declared constant and the cell ids
    float with the data (bounded in practice by the value range,
    exactly like the CMS grid is bounded by depth*width). Cells merge
    by addition, so a streaming groupBy's state IS the sketch — one
    code path for batch and stream (the cms_grid pattern)."""
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        events_df.select(
            "event_type", cents.alias("cents")
        )
        .withColumn("bucket", F.expr(f"cents div {FIXED_HIST_W}"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def hist_quantiles_from_cells(cells: DataFrame) -> DataFrame:
    """Read quantiles off drained histogram cells (batch result or
    streamed state snapshot — same relation either way): cumulative
    count per event_type in bucket order, first bucket reaching each
    ceil(q*n/100) target, reported as exact [lo, hi) cent bounds."""
    wn = Window.partitionBy("event_type")
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = cells.select(
        "event_type", "bucket", "c",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wn).alias("n"),
    )
    qs = F.explode(
        F.array(*[F.lit(q) for q in HIST_QUANTILES])
    ).alias("q")
    targets = cum.select("event_type", "bucket", "cum", "n", qs).withColumn(
        "target", F.expr("(q * n + 99) div 100")
    )
    return (
        targets.filter(F.col("cum") >= F.col("target"))
        .groupBy("event_type", "q", "target")
        .agg(F.min("bucket").alias("bucket"))
        .select(
            "event_type",
            F.col("q").cast("int").alias("q"),
            F.col("target").cast("long").alias("target_rank"),
            "bucket",
            (F.col("bucket") * FIXED_HIST_W).alias("lo_cents"),
            ((F.col("bucket") + 1) * FIXED_HIST_W - 1).alias("hi_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Round-6 registrations of the r6 prebuilds: the Python-twin-pinned
# operators get DuckDB oracles and join the driver contract.
# ---------------------------------------------------------------------------

def q_cms_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join cardinality estimate — what a cost-based planner wants
    BEFORE shuffling 100 TB: the CMS inner-product (AMS) estimate of
    |events ⋈ purchase-events| on user_id, from two tiny mergeable
    counter grids built with one scan each; the join itself never
    runs. Deterministic namespaced hashes put the sketch itself under
    the value-hash oracle; est >= exact by construction (test-pinned
    alongside)."""
    ev = load_table(spark, sf_dir, "events")
    ga = cms_grid_for(ev.select("user_id"), "user_id")
    gb = cms_grid_for(
        ev.filter(F.col("event_type") == "purchase").select("user_id"),
        "user_id",
    )
    return cms_join_cardinality(ga, gb)


QUERIES["cms_join_cardinality"] = q_cms_join_cardinality

_CMS_B = md5_long_sql("'cms' || i || ':' || CAST(user_id AS VARCHAR)")

ORACLES["cms_join_cardinality"] = f"""
WITH ia AS (SELECT user_id, i,
                   {_CMS_B} % {CMS_WIDTH} AS bucket
            FROM events
            CROSS JOIN (SELECT unnest(range({CMS_DEPTH})) AS i)),
ib AS (SELECT user_id, i,
              {_CMS_B} % {CMS_WIDTH} AS bucket
       FROM events
       CROSS JOIN (SELECT unnest(range({CMS_DEPTH})) AS i)
       WHERE event_type = 'purchase'),
ga AS (SELECT i, bucket, CAST(COUNT(*) AS BIGINT) AS ca
       FROM ia GROUP BY i, bucket),
gb AS (SELECT i, bucket, CAST(COUNT(*) AS BIGINT) AS cb
       FROM ib GROUP BY i, bucket),
ip AS (SELECT ga.i, CAST(SUM(ca * cb) AS BIGINT) AS ip
       FROM ga JOIN gb USING (i, bucket) GROUP BY ga.i)
SELECT CAST(MIN(ip) AS BIGINT) AS est_join_rows FROM ip"""


def q_equidepth_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type adaptive quantiles: the grouped two-pass
    equi-depth sketch (equidepth_quantiles_by_group) over value cents
    — per-tenant percentile frames from ONE shared pair of scans,
    never one job per group."""
    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select(
        F.col("event_type").alias("g"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return equidepth_quantiles_by_group(keyed, "g", "cents")


QUERIES["equidepth_by_group"] = q_equidepth_by_group

ORACLES["equidepth_by_group"] = f"""
WITH cents AS (SELECT event_type AS g,
                      CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
               FROM events),
stats AS (SELECT g, MIN(cents) AS mn, MAX(cents) AS mx,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM cents GROUP BY g),
params AS (SELECT g, mn, n,
                  greatest(1, (mx - mn + 1 + {EQD_NB - 1}) // {EQD_NB}) AS w
           FROM stats),
b AS (SELECT c.g, c.cents, p.mn, p.n, p.w,
             (c.cents - p.mn) // p.w AS bucket
      FROM cents c JOIN params p USING (g)),
h1 AS (SELECT g, bucket, CAST(COUNT(*) AS BIGINT) AS c1,
              MIN(n) AS n, MIN(w) AS w
       FROM b GROUP BY g, bucket),
heavy AS (SELECT g, bucket,
                 greatest(1, (w + {EQD_SUB - 1}) // {EQD_SUB}) AS sub_w
          FROM h1 WHERE c1 > n // {EQD_NB}),
b2 AS (SELECT b.g, b.bucket,
              CASE WHEN h.bucket IS NULL THEN 0
                   ELSE (b.cents - b.mn - b.bucket * b.w) // h.sub_w
              END AS sub
       FROM b LEFT JOIN heavy h ON h.g = b.g AND h.bucket = b.bucket),
h2 AS (SELECT g, bucket, sub, CAST(COUNT(*) AS BIGINT) AS c
       FROM b2 GROUP BY g, bucket, sub),
cum AS (SELECT *, CAST(SUM(c) OVER (PARTITION BY g ORDER BY bucket, sub
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM h2),
targets AS (SELECT g, q, (q * n + 99) // 100 AS target, mn, w
            FROM params CROSS JOIN
                 (SELECT unnest({list(EQD_QUANTILES)}) AS q)),
hit AS (
  SELECT t.g, t.q, t.target,
         MIN_BY(cum.bucket, cum.bucket * {EQD_SUB} + cum.sub) AS bucket,
         MIN_BY(cum.sub, cum.bucket * {EQD_SUB} + cum.sub) AS sub,
         MIN_BY(cum.cum - cum.c, cum.bucket * {EQD_SUB} + cum.sub)
           AS n_below,
         MIN(t.mn) AS mn, MIN(t.w) AS w
  FROM targets t JOIN cum ON cum.g = t.g AND cum.cum >= t.target
  GROUP BY t.g, t.q, t.target)
SELECT hit.g AS g,
       CAST(hit.q AS INT) AS q,
       CAST(hit.target AS BIGINT) AS target_rank,
       CAST(hit.bucket AS BIGINT) AS bucket,
       CAST(hit.sub AS BIGINT) AS sub,
       CAST(CASE WHEN h.sub_w IS NULL THEN mn + hit.bucket * w
                 ELSE mn + hit.bucket * w + hit.sub * h.sub_w
            END AS BIGINT) AS lo_cents,
       CAST(CASE WHEN h.sub_w IS NULL THEN mn + (hit.bucket + 1) * w - 1
                 ELSE least(mn + hit.bucket * w
                              + (hit.sub + 1) * h.sub_w - 1,
                            mn + (hit.bucket + 1) * w - 1)
            END AS BIGINT) AS hi_cents,
       CAST(hit.n_below AS BIGINT) AS n_below,
       CAST(CASE WHEN h.sub_w IS NULL THEN 0 ELSE 1 END AS INT) AS refined
FROM hit LEFT JOIN heavy h ON h.g = hit.g AND h.bucket = hit.bucket"""


PARETO_TOP_PCT = 1  # top 1% of users


def events_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration audit: what integer-ppm share of all
    events the top {PARETO_TOP_PCT}% of users generate — the
    one-number skew summary next to join_key_skew's per-key table
    (a high share says the workload concentrates on few keys; feeds
    the same salting decision). Registered in round 6.

    Scale shape: per-user counts (one map-side-combinable shuffle),
    then rank AND running event total in ONE two-phase ranged scan
    (ranged_scan — never a global window over the user dimension);
    totals broadcast from a 1-row aggregate; the answer is the single
    cum row at rank ceil(n/100)."""
    from .packing import ranged_scan

    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_rows"))
    base = (
        counts.withColumn("_g", F.lit(0))
        .withColumn("_neg", -F.col("n_rows"))
        .withColumn("_one", F.lit(1))
    )
    scanned = ranged_scan(
        base, ["_g"], ["_neg", "user_id"],
        [("n_rows", "cum"), ("_one", "rn")],
    )
    totals = scanned.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n_rows").alias("total_rows"),
    )
    k = F.expr(f"(n_users + {100 // PARETO_TOP_PCT} - 1)"
               f" div {100 // PARETO_TOP_PCT}")
    return (
        scanned.crossJoin(F.broadcast(totals))
        .withColumn("_k", k)
        .filter(F.col("rn") == F.col("_k"))
        .select(
            F.col("n_users").cast("long").alias("n_users"),
            F.col("_k").cast("long").alias("top_users"),
            F.col("cum").cast("long").alias("top_rows"),
            F.col("total_rows").cast("long").alias("total_rows"),
            F.expr(
                "CAST(CAST(cum AS DECIMAL(38,0)) * 1000000"
                " div total_rows AS BIGINT)"
            ).alias("share_ppm"),
        )
    )


#: DuckDB twin of events_pareto_share (r7 registration).
PARETO_ORACLE = f"""
WITH counts AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows
                FROM events GROUP BY user_id),
r AS (SELECT n_rows,
             CAST(ROW_NUMBER() OVER (ORDER BY n_rows DESC, user_id)
                  AS BIGINT) AS rn,
             CAST(SUM(n_rows) OVER (ORDER BY n_rows DESC, user_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM counts),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(n_rows) AS BIGINT) AS total_rows
      FROM counts)
SELECT t.n_users,
       CAST((t.n_users + {100 // PARETO_TOP_PCT} - 1)
            // {100 // PARETO_TOP_PCT} AS BIGINT) AS top_users,
       r.cum AS top_rows,
       t.total_rows,
       CAST(CAST(r.cum AS HUGEINT) * 1000000 // t.total_rows
            AS BIGINT) AS share_ppm
FROM r, t
WHERE r.rn = (t.n_users + {100 // PARETO_TOP_PCT} - 1)
             // {100 // PARETO_TOP_PCT}"""


QUERIES["events_pareto_share"] = events_pareto_share
ORACLES["events_pareto_share"] = PARETO_ORACLE


# ---------------------------------------------------------------------------
# Round-7 operators.
# ---------------------------------------------------------------------------

SRC_KMV_K = 64  # sketch size per source for the pairwise Jaccard


def source_jaccard_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-to-source Jaccard similarity from per-source
    KMV SKETCHES — the scale path next to `source_overlap_matrix`'s
    exact shared-gram counts: at 100 TB you cannot join two sources'
    full shingle sets, but each source reduces to its k smallest
    60-bit shingle hashes in ONE pass, and any pair's Jaccard is then
    estimated from two k-element arrays (the standard KMV estimator:
    take the k smallest of the union, count how many live in both
    sketches). Deterministic md5 hash space end to end, so the sketch
    — and therefore the estimate — is bit-identical in both engines.
    Added in round 7.

    Scale shape: one distinct-reduce on (source, hash) — map-side
    combinable, the only pass over raw shingles — then per-source
    bottom-k and a broadcast |sources|^2 pair join over <= k-element
    arrays. Nothing downstream of the sketch touches corpus-scale
    data."""
    from ..functions.text import shingles_from_tokens, tokens

    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select("source", tokens(F.col("text")).alias("toks"))
    sh = tk.select(
        "source",
        F.explode(shingles_from_tokens(F.col("toks"))).alias("sh"),
    )
    d = sh.select("source", md5_long(F.col("sh")).alias("h")).distinct()
    w = Window.partitionBy("source").orderBy("h")
    sk = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SRC_KMV_K)
        .groupBy("source")
        .agg(F.sort_array(F.collect_list("h")).alias("sk"))
    )
    a = sk.select(F.col("source").alias("source_a"), F.col("sk").alias("ska"))
    b = sk.select(F.col("source").alias("source_b"), F.col("sk").alias("skb"))
    pairs = a.join(
        F.broadcast(b), F.col("source_a") < F.col("source_b")
    ).withColumn(
        "uk",
        F.slice(
            F.array_sort(F.array_union("ska", "skb")), 1, SRC_KMV_K
        ),
    )
    return pairs.select(
        "source_a",
        "source_b",
        F.size("uk").cast("int").alias("k_used"),
        F.size(
            F.array_intersect(F.array_intersect("uk", "ska"), "skb")
        ).cast("long").alias("n_both"),
        F.expr(
            "CAST(CAST(size(array_intersect(array_intersect(uk, ska),"
            " skb)) AS DECIMAL(38,0)) * 1000000 div size(uk) AS BIGINT)"
        ).alias("jaccard_ppm"),
    )


_SJ_NORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

SOURCE_JACCARD_KMV_ORACLE = f"""
WITH docs AS (SELECT source, string_split({_SJ_NORM}, ' ') AS toks
              FROM documents),
g AS (SELECT source,
             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
      FROM docs, unnest(range(1, len(toks) - 1)) AS u(i)
      WHERE len(toks) >= 3),
d AS (SELECT DISTINCT source,
             ('0x' || substring(md5(sh), 1, 15))::BIGINT AS h
      FROM g),
sk AS (SELECT source, h FROM (
         SELECT source, h,
                ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
         FROM d) WHERE rn <= {SRC_KMV_K}),
pairs AS (SELECT a.source AS source_a, b.source AS source_b
          FROM (SELECT DISTINCT source FROM sk) a
          JOIN (SELECT DISTINCT source FROM sk) b
            ON a.source < b.source),
uh AS (SELECT p.source_a, p.source_b, s.h
       FROM pairs p JOIN sk s ON s.source IN (p.source_a, p.source_b)
       GROUP BY 1, 2, 3),
uk AS (SELECT source_a, source_b, h FROM (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY source_a, source_b
                                      ORDER BY h) AS rn
         FROM uh) WHERE rn <= {SRC_KMV_K}),
ku AS (SELECT source_a, source_b, COUNT(*) AS k_used
       FROM uk GROUP BY 1, 2),
ovl AS (SELECT u.source_a, u.source_b, COUNT(*) AS n_both
        FROM uk u
        JOIN sk x ON x.source = u.source_a AND x.h = u.h
        JOIN sk y ON y.source = u.source_b AND y.h = u.h
        GROUP BY 1, 2)
SELECT k.source_a, k.source_b,
       CAST(k.k_used AS INT) AS k_used,
       CAST(COALESCE(o.n_both, 0) AS BIGINT) AS n_both,
       CAST(CAST(COALESCE(o.n_both, 0) AS HUGEINT) * 1000000
            // k.k_used AS BIGINT) AS jaccard_ppm
FROM ku k LEFT JOIN ovl o USING (source_a, source_b)"""


# Registered r8.
QUERIES["source_jaccard_kmv"] = source_jaccard_kmv
ORACLES["source_jaccard_kmv"] = SOURCE_JACCARD_KMV_ORACLE


# ---------------------------------------------------------------------------
# Round-8 operators.
# ---------------------------------------------------------------------------

SRC_DRIFT_K = 48  # per-(source, period) sketch size — cells are smaller
#: period grain in days (1 = daily; a weekly deployment sets 7 and
#: nothing else changes — both engines divide the same epoch-days)
DRIFT_PERIOD_DAYS = 1


def source_jaccard_drift(
    spark: SparkSession, sf_dir: str, period_days: int | None = None
) -> DataFrame:
    """Period-over-period content drift per source from per-(source,
    epoch-day) KMV sketches — the temporal twin of
    `source_jaccard_kmv` (pairwise across sources) and the
    set-similarity companion of `source_familiarity_drift`
    (distributional): a provider silently changing its content MIX
    shows up as a Jaccard drop between consecutive period sketch
    cells. Arrival periods come from the ingest event stream
    (event_id = doc_id); the grain is epoch DAYS because the test
    corpus' ingest span is days — at a production weekly cadence the
    same plan runs with `div 7` on the period expression (the
    cohort_ltv convention) and nothing else changes. Shingle hashing
    is the deterministic md5 space, so the sketch and the estimate
    are bit-identical across engines. Added in round 8.

    Scale shape: ONE distinct-reduce on (source, period, hash) is the
    only pass over corpus-scale shingles (map-side combinable); the
    per-cell bottom-k and the lag() pairing both run over <= k-row
    cells — at 100 TB the period-over-period compare ships
    |sources| x |periods| x k longs, nothing more."""
    from ..functions.text import shingles_from_tokens, tokens

    if period_days is None:
        period_days = DRIFT_PERIOD_DAYS
    docs = load_table(spark, sf_dir, "documents")
    ingest = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("doc_id"),
        F.expr(
            "datediff(to_date(ts), DATE '1970-01-01')"
            f" div {period_days}"
        ).alias("epoch_day"),
    )
    tk = (
        docs.select("doc_id", "source", tokens(F.col("text")).alias("toks"))
        .join(ingest, "doc_id")
    )
    sh = tk.select(
        "source",
        "epoch_day",
        F.explode(shingles_from_tokens(F.col("toks"))).alias("sh"),
    )
    d = sh.select(
        "source", "epoch_day", md5_long(F.col("sh")).alias("h")
    ).distinct()
    w = Window.partitionBy("source", "epoch_day").orderBy("h")
    sk = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SRC_DRIFT_K)
        .groupBy("source", "epoch_day")
        .agg(F.sort_array(F.collect_list("h")).alias("sk"))
    )
    wlag = Window.partitionBy("source").orderBy("epoch_day")
    p = (
        sk.select(
            "source",
            "epoch_day",
            "sk",
            F.lag("epoch_day").over(wlag).alias("prev_day"),
            F.lag("sk").over(wlag).alias("prev_sk"),
        )
        .filter(F.col("prev_day").isNotNull())
        .withColumn(
            "uk",
            F.slice(
                F.array_sort(F.array_union("sk", "prev_sk")), 1, SRC_DRIFT_K
            ),
        )
    )
    return p.select(
        "source",
        F.col("epoch_day").cast("long").alias("epoch_day"),
        F.col("prev_day").cast("long").alias("prev_day"),
        F.size("uk").cast("int").alias("k_used"),
        F.size(
            F.array_intersect(F.array_intersect("uk", "sk"), "prev_sk")
        ).cast("long").alias("n_both"),
        F.expr(
            "CAST(CAST(size(array_intersect(array_intersect(uk, sk),"
            " prev_sk)) AS DECIMAL(38,0)) * 1000000 div size(uk)"
            " AS BIGINT)"
        ).alias("jaccard_ppm"),
    )


def source_jaccard_drift_oracle(period_days: int | None = None) -> str:
    """DuckDB twin of :func:`source_jaccard_drift` at the same grain
    — a builder so the weekly cadence (period_days=7) is testable
    with the registered daily default unchanged."""
    if period_days is None:
        period_days = DRIFT_PERIOD_DAYS
    return f"""
WITH docs AS (SELECT d.doc_id, d.source,
                     datediff('day', DATE '1970-01-01',
                              CAST(e.ts AS DATE))
                       // {period_days} AS epoch_day,
                     string_split({_SJ_NORM}, ' ') AS toks
              FROM documents d JOIN events e ON e.event_id = d.doc_id),
g AS (SELECT source, epoch_day,
             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
      FROM docs, unnest(range(1, len(toks) - 1)) AS u(i)
      WHERE len(toks) >= 3),
dh AS (SELECT DISTINCT source, epoch_day,
              ('0x' || substring(md5(sh), 1, 15))::BIGINT AS h
       FROM g),
sk AS (SELECT source, epoch_day, h FROM (
         SELECT source, epoch_day, h,
                ROW_NUMBER() OVER (PARTITION BY source, epoch_day
                                   ORDER BY h) AS rn
         FROM dh) WHERE rn <= {SRC_DRIFT_K}),
wk AS (SELECT DISTINCT source, epoch_day FROM sk),
pairs AS (SELECT source, epoch_day,
                 LAG(epoch_day) OVER (PARTITION BY source
                                       ORDER BY epoch_day) AS prev_day
          FROM wk),
pp AS (SELECT * FROM pairs WHERE prev_day IS NOT NULL),
uh AS (SELECT p.source, p.epoch_day, p.prev_day, s.h
       FROM pp p JOIN sk s ON s.source = p.source
            AND s.epoch_day IN (p.epoch_day, p.prev_day)
       GROUP BY 1, 2, 3, 4),
uk AS (SELECT source, epoch_day, prev_day, h FROM (
         SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY source, epoch_day, prev_day
                  ORDER BY h) AS rn
         FROM uh) WHERE rn <= {SRC_DRIFT_K}),
ku AS (SELECT source, epoch_day, prev_day, COUNT(*) AS k_used
       FROM uk GROUP BY 1, 2, 3),
ovl AS (SELECT u.source, u.epoch_day, u.prev_day, COUNT(*) AS n_both
        FROM uk u
        JOIN sk x ON x.source = u.source
             AND x.epoch_day = u.epoch_day AND x.h = u.h
        JOIN sk y ON y.source = u.source
             AND y.epoch_day = u.prev_day AND y.h = u.h
        GROUP BY 1, 2, 3)
SELECT k.source,
       CAST(k.epoch_day AS BIGINT) AS epoch_day,
       CAST(k.prev_day AS BIGINT) AS prev_day,
       CAST(k.k_used AS INT) AS k_used,
       CAST(COALESCE(o.n_both, 0) AS BIGINT) AS n_both,
       CAST(CAST(COALESCE(o.n_both, 0) AS HUGEINT) * 1000000
            // k.k_used AS BIGINT) AS jaccard_ppm
FROM ku k LEFT JOIN ovl o USING (source, epoch_day, prev_day)"""


SOURCE_JACCARD_DRIFT_ORACLE = source_jaccard_drift_oracle()

QUERIES["source_jaccard_drift"] = source_jaccard_drift
ORACLES["source_jaccard_drift"] = SOURCE_JACCARD_DRIFT_ORACLE
