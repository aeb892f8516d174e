"""Finance query catalog — Spark plans + DuckDB oracle SQL.

Parity surface: reference src/sample_queries.sql (12 queries over the
balance-history output) plus the pipeline stages themselves
(fifo_matching, balance_history, current_balances, analytics summary).

Every public ``q_*`` function takes (spark, sf_dir) and returns a
DataFrame; ``ORACLES`` maps the same keys to equivalent ANSI SQL that
DuckDB runs over the raw parquet views. Monetary outputs are rounded to
2 decimals on BOTH sides: window/aggregate summation order differs
between engines (Spark streams the frame, DuckDB uses segment trees),
so raw doubles can differ in the low bits while being the same money.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..datamodel import load_table
from ..operators.balance import balance_history, current_balances
from ..operators.fifo import fifo_match, validate_results
from ..sources.ingest import TRANSACTIONS_SQL, transactions_from_events

ASOF = "2024-01-20 00:00:00"  # fixed as-of date for Q1/Q5/Q7/Q8/Q9-style queries
START = "2024-01-10 00:00:00"  # fixed start date for Q6

# ---------------------------------------------------------------------------
# Shared oracle CTEs (DuckDB). `txns` mirrors sources/ingest.py, `matched`
# mirrors operators/fifo.py, `history` mirrors operators/balance.py.
# ---------------------------------------------------------------------------

TXNS_CTE = f"txns AS ({TRANSACTIONS_SQL.strip()})"

MATCHED_CTE = """
earned AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY customerid
                               ORDER BY createdat, trans_id) AS rn
  FROM txns WHERE tctype = 'earned'
),
redeemers AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY customerid
                               ORDER BY createdat, trans_id) AS rn
  FROM txns WHERE tctype IN ('spent', 'expired')
),
matched AS (
  SELECT e.trans_id, e.tctype, e.createdat, e.customerid, e.amount,
         r.trans_id AS redeemid
  FROM earned e
  LEFT JOIN redeemers r ON e.customerid = r.customerid AND e.rn = r.rn
  UNION ALL
  SELECT trans_id, tctype, createdat, customerid, amount,
         CAST(NULL AS BIGINT) AS redeemid
  FROM redeemers
)
""".strip()

HISTORY_CTE = """
history AS (
  SELECT customerid AS customer_id,
         createdat AS transaction_date,
         trans_id AS transaction_id,
         tctype AS transaction_type,
         amount AS transaction_amount,
         SUM(CASE WHEN tctype = 'earned' THEN ABS(amount) ELSE 0 END) OVER w
           AS cumulative_earned,
         SUM(CASE WHEN tctype = 'spent' THEN ABS(amount) ELSE 0 END) OVER w
           AS cumulative_spent,
         SUM(CASE WHEN tctype = 'expired' THEN ABS(amount) ELSE 0 END) OVER w
           AS cumulative_expired,
         SUM(CASE WHEN tctype = 'earned' THEN ABS(amount) ELSE 0 END) OVER w
         - SUM(CASE WHEN tctype = 'spent' THEN ABS(amount) ELSE 0 END) OVER w
         - SUM(CASE WHEN tctype = 'expired' THEN ABS(amount) ELSE 0 END) OVER w
           AS current_balance
  FROM txns
  WINDOW w AS (PARTITION BY customerid ORDER BY createdat, trans_id
               ROWS UNBOUNDED PRECEDING)
)
""".strip()

CURRENT_CTE = """
current_balances AS (
  SELECT customer_id,
         ROUND(current_balance, 2) AS current_balance,
         ROUND(cumulative_earned, 2) AS cumulative_earned,
         ROUND(cumulative_spent, 2) AS cumulative_spent,
         ROUND(cumulative_expired, 2) AS cumulative_expired
  FROM history
  QUALIFY ROW_NUMBER() OVER (PARTITION BY customer_id
    ORDER BY transaction_date DESC, transaction_id DESC) = 1
)
""".strip()

PRELUDE = f"WITH {TXNS_CTE},\n{MATCHED_CTE},\n{HISTORY_CTE},\n{CURRENT_CTE}"


def _txns(spark: SparkSession, sf_dir: str) -> DataFrame:
    return transactions_from_events(load_table(spark, sf_dir, "events"))


def _history(spark: SparkSession, sf_dir: str) -> DataFrame:
    return balance_history(_txns(spark, sf_dir))


def delta_cents_col():
    """Signed HALF-UP integer cents per transaction (+earned,
    -spent/-expired) — the one money fold shared by TWAB, drawdown,
    concentration, and the streaming drawdown twin. Oracles embed
    DELTA_CENTS_SQL, so the Spark and SQL sides can never diverge."""
    mag = F.round(F.abs(F.col("amount")) * 100).cast("long")
    return F.when(F.col("tctype") == "earned", mag).otherwise(-mag)


#: DuckDB twin of delta_cents_col (bit-identical by TWAB's proof).
DELTA_CENTS_SQL = (
    "CASE WHEN tctype = 'earned'"
    " THEN CAST(ROUND(ABS(amount) * 100, 0) AS BIGINT)"
    " ELSE -CAST(ROUND(ABS(amount) * 100, 0) AS BIGINT) END"
)


def _round_money(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    out = df
    for c in cols:
        out = out.withColumn(c, F.round(F.col(c), 2))
    return out


MONEY = ("current_balance", "cumulative_earned", "cumulative_spent",
         "cumulative_expired")


def _current(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _round_money(current_balances(_history(spark, sf_dir)), MONEY)


# ---------------------------------------------------------------------------
# Pipeline-stage queries
# ---------------------------------------------------------------------------

def q_ingest_transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _txns(spark, sf_dir)


def q_fifo_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fifo_match(_txns(spark, sf_dir))


def q_balance_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = _history(spark, sf_dir)
    return _round_money(h, MONEY)


def q_current_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _current(spark, sf_dir)


def q_analytics_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global summary metrics (reference build_analytics report)."""
    t = _txns(spark, sf_dir)
    cur = _current(spark, sf_dir)
    totals = t.agg(
        F.round(F.sum(F.when(F.col("tctype") == "earned", F.col("amount")).otherwise(0.0)), 2).alias("total_earned"),
        F.round(F.sum(F.when(F.col("tctype") == "spent", F.abs("amount")).otherwise(0.0)), 2).alias("total_spent"),
        F.round(F.sum(F.when(F.col("tctype") == "expired", F.abs("amount")).otherwise(0.0)), 2).alias("total_expired"),
        F.count(F.when(F.col("tctype") == "earned", 1)).alias("earned_transaction_count"),
        F.count(F.when(F.col("tctype") == "spent", 1)).alias("spent_transaction_count"),
        F.count(F.when(F.col("tctype") == "expired", 1)).alias("expired_transaction_count"),
    )
    balances = cur.agg(
        F.round(F.sum("current_balance"), 2).alias("total_current_balance"),
        F.count("*").alias("total_customers"),
        F.count(F.when(F.col("current_balance") > 0, 1)).alias("customers_with_positive_balance"),
    )
    return totals.crossJoin(balances)


# ---------------------------------------------------------------------------
# sample_queries.sql parity (Q1..Q12)
# ---------------------------------------------------------------------------

def q_balance_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1: last balance on or before ASOF, per customer."""
    h = _history(spark, sf_dir)
    key = F.struct("transaction_date", "transaction_id")
    return (
        h.filter(F.col("transaction_date") <= F.lit(ASOF).cast("timestamp"))
        .groupBy("customer_id")
        .agg(
            F.max("transaction_date").alias("balance_as_of_date"),
            F.round(F.max_by(F.col("current_balance"), key), 2).alias("thrive_cash_balance"),
        )
    )


def q_month_end_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4: balance at end of each month, per customer."""
    h = _history(spark, sf_dir)
    key = F.struct("transaction_date", "transaction_id")
    return (
        h.groupBy(
            "customer_id",
            F.date_trunc("month", F.col("transaction_date")).alias("month"),
        )
        .agg(
            F.max("transaction_date").alias("last_transaction_date"),
            F.round(F.max_by(F.col("current_balance"), key), 2).alias("month_end_balance"),
        )
    )


def q_customers_above_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5: customers with balance > 100 as of ASOF."""
    return q_balance_asof(spark, sf_dir).filter(F.col("thrive_cash_balance") > 100)


def q_balance_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6: balance change between START and ASOF per customer
    (generalized from the reference's single-customer form)."""
    h = _history(spark, sf_dir)
    key = F.struct("transaction_date", "transaction_id")
    start = (
        h.filter(F.col("transaction_date") <= F.lit(START).cast("timestamp"))
        .groupBy("customer_id")
        .agg(F.round(F.max_by(F.col("current_balance"), key), 2).alias("start_balance"))
    )
    end = (
        h.filter(F.col("transaction_date") <= F.lit(ASOF).cast("timestamp"))
        .groupBy("customer_id")
        .agg(F.round(F.max_by(F.col("current_balance"), key), 2).alias("end_balance"))
    )
    return start.join(end, "customer_id").select(
        "customer_id",
        "start_balance",
        "end_balance",
        F.round(F.col("end_balance") - F.col("start_balance"), 2).alias("balance_change"),
    )


def q_top_customers_by_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7: top 10 customers by current balance (deterministic
    tie-break on customer_id)."""
    cur = _current(spark, sf_dir)
    return cur.orderBy(F.col("current_balance").desc(), F.col("customer_id")).limit(10)


def q_zero_balance_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8: customers whose as-of balance is (approximately) zero."""
    return q_balance_asof(spark, sf_dir).filter(F.col("thrive_cash_balance") == 0)


def q_balance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9: distribution of as-of balances."""
    asof = q_balance_asof(spark, sf_dir)
    return asof.agg(
        F.count_distinct("customer_id").alias("total_customers"),
        F.round(F.avg("thrive_cash_balance"), 2).alias("avg_balance"),
        F.round(F.min("thrive_cash_balance"), 2).alias("min_balance"),
        F.round(F.max("thrive_cash_balance"), 2).alias("max_balance"),
        F.round(F.sum("thrive_cash_balance"), 2).alias("total_balance"),
    )


def q_transactions_on_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10: all transactions on a given calendar date."""
    h = _history(spark, sf_dir)
    return h.filter(
        F.to_date("transaction_date") == F.lit("2024-01-15").cast("date")
    ).select(
        "customer_id",
        "transaction_date",
        "transaction_id",
        "transaction_type",
        "transaction_amount",
        F.round("current_balance", 2).alias("balance_after_transaction"),
    )


def q_daily_balance_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11: end-of-day balance snapshots per customer/day."""
    h = _history(spark, sf_dir)
    key = F.struct("transaction_date", "transaction_id")
    return (
        h.groupBy("customer_id", F.date_format("transaction_date", "yyyy-MM-dd").alias("date"))
        .agg(
            F.max("transaction_date").alias("last_transaction_time"),
            F.round(F.max_by(F.col("current_balance"), key), 2).alias("current_balance"),
        )
    )


def q_never_spent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12: earned but never spent/expired."""
    cur = _current(spark, sf_dir)
    return cur.filter(
        (F.col("cumulative_spent") == 0)
        & (F.col("cumulative_expired") == 0)
        & (F.col("cumulative_earned") > 0)
    )


RESULT_CHECKS = (
    "redeemid_not_a_redeemer",
    "redeemer_used_more_than_once",
    "redeemid_on_redeemer_row",
    "balance_mismatch",
)


def q_validate_results_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Violation counts per result-validation rule (reference
    validate_results re-expressed; zero rows are reported explicitly
    so the output certifies which checks ran)."""
    matched = fifo_match(_txns(spark, sf_dir))
    counts = validate_results(matched).groupBy("check").agg(
        F.count("*").alias("violations")
    )
    names = spark.createDataFrame([(c,) for c in RESULT_CHECKS], "check string")
    return names.join(counts, "check", "left").select(
        "check",
        F.coalesce(F.col("violations"), F.lit(0)).cast("long").alias("violations"),
    )


def q_incremental_balance_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly-fold pattern: balances = snapshot(before ASOF) ⊕ deltas
    (after ASOF), via operators.balance.incremental_balance_update.
    The oracle is the FULL recompute over all transactions — a
    cross-formulation equivalence check, not a restatement."""
    from ..operators.balance import incremental_balance_update

    txns = _txns(spark, sf_dir)
    cutoff = F.lit(ASOF).cast("timestamp")
    snapshot = current_balances(
        balance_history(txns.filter(F.col("createdat") < cutoff))
    )
    updated = incremental_balance_update(
        snapshot, txns.filter(F.col("createdat") >= cutoff)
    )
    return _round_money(updated, MONEY)


def q_balance_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build from the transaction
    stream: each per-customer balance state becomes a validity row
    [effective_from, effective_to) with an is_current flag — the
    standard warehouse dimension the reference's balance-history
    change ledger feeds (reference src/thrive_cash_processing_dag.py
    build_analytics keeps only the latest state; SCD2 keeps them all,
    queryable as-of any time). One exchange + one sort total — see
    operators.balance.balance_scd2 for why it is built in one pass
    instead of layered on the aliased history frame."""
    from ..operators.balance import balance_scd2

    return balance_scd2(_txns(spark, sf_dir))


def q_balance_scd2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 merge-into upsert: the dimension as of ASOF folded forward
    with the post-ASOF transaction batch
    (operators.balance.scd2_apply_increment). The oracle is the FULL
    SCD2 recompute over all transactions — a cross-formulation
    equivalence check (same pattern as incremental_balance_update),
    proving close-and-append equals rebuild."""
    from ..operators.balance import balance_scd2, scd2_apply_increment

    txns = _txns(spark, sf_dir)
    cutoff = F.lit(ASOF).cast("timestamp")
    prev = balance_scd2(txns.filter(F.col("createdat") < cutoff))
    return scd2_apply_increment(
        prev, txns.filter(F.col("createdat") >= cutoff)
    )


def _ntile4_sql(rn: str, n: str) -> str:
    """Exact ``ntile(4)`` from a 1-based global row number: the first
    ``n mod 4`` tiles hold ``n div 4 + 1`` rows, the rest one fewer —
    the ANSI ntile contract, evaluated in integer space so Spark and
    DuckDB agree bit-for-bit. Pairs with ranged_row_number to replace
    the single-task ``ntile() OVER (ORDER BY ...)`` window.
    greatest(q,1) guards the (never-taken when n < 4) else branch
    against a div-by-zero under ANSI mode."""
    q = f"({n} div 4)"
    r = f"({n} % 4)"
    return (
        f"CAST(CASE WHEN {rn} <= {r} * ({q} + 1) "
        f"THEN ({rn} + {q}) div ({q} + 1) "
        f"ELSE {r} + ({rn} - {r} * ({q} + 1) + {q} - 1) div greatest({q}, 1) "
        f"END AS INT)"
    )


def q_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers bucketed into balance quartiles with per-quartile
    stats — the segmentation step finance reporting layers on Q7/Q9.

    Scale posture: quartile assignment is an exact integer ntile
    derived from a global row number computed by the two-phase ranged
    scan (operators/packing.py ranged_row_number) — no
    ``ntile() OVER (ORDER BY ...)`` single-task window. The descending
    balance order is expressed as an ascending sort on the negated
    balance with the customer_id tiebreak, so the total order (and
    therefore every tile) is bit-identical to the old global-window
    form."""
    from ..operators.packing import ranged_row_number

    cur = _current(spark, sf_dir).withColumn(
        "_negbal", -F.col("current_balance")
    )
    ranked = ranged_row_number(
        cur, ["_negbal", "customer_id"], "_rn"
    )
    n_agg = ranked.agg(F.count(F.lit(1)).alias("_n"))
    tiled = ranked.crossJoin(F.broadcast(n_agg)).select(
        "customer_id",
        "current_balance",
        F.expr(_ntile4_sql("_rn", "_n")).alias("quartile"),
    )
    return tiled.groupBy("quartile").agg(
        F.count("*").alias("n_customers"),
        F.round(F.min("current_balance"), 2).alias("min_balance"),
        F.round(F.max("current_balance"), 2).alias("max_balance"),
        F.round(F.sum("current_balance"), 2).alias("total_balance"),
    )


AGING_BUCKETS_SQL = (
    "CASE WHEN age_days < 7 THEN '0-6d' WHEN age_days < 14 THEN '7-13d' "
    "WHEN age_days < 21 THEN '14-20d' ELSE '21d+' END"
)


def q_balance_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aging report: unredeemed earned value bucketed by age as of the
    catalog ASOF date — the expiry-risk view a rewards program's
    finance team watches. One pass over the matched table; the
    unmatched-earned filter prunes before the aggregate."""
    matched = fifo_match(_txns(spark, sf_dir))
    aged = (
        matched.filter(
            (F.col("tctype") == "earned")
            & F.col("redeemid").isNull()
            & (F.col("createdat") <= F.lit(ASOF).cast("timestamp"))
        )
        .withColumn(
            "age_days",
            F.datediff(F.lit(ASOF).cast("timestamp"), F.col("createdat")),
        )
        .withColumn("age_bucket", F.expr(AGING_BUCKETS_SQL))
    )
    return aged.groupBy("age_bucket").agg(
        F.count("*").alias("n_unredeemed"),
        F.round(
            F.sum(F.round(F.col("amount") * 100).cast("long")).cast("double")
            / 100,
            2,
        ).alias("value_at_risk"),
    )


def q_balance_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each customer's standing in the balance distribution:
    percent_rank and cumulative distribution, deterministic via the
    (balance, customer_id) total order.

    Scale posture: ranks come from the two-phase ranged scan
    (operators/packing.py ranged_row_number), not a
    ``percent_rank() OVER (ORDER BY ...)`` global window — that form
    sorts the whole customer dimension in ONE task. Because the order
    is total (customer_id tiebreak), rank == row_number and there are
    no peer groups, so pct_rank = (rn-1)/(n-1) and cume_dist = rn/n
    reproduce the window functions' doubles bit-for-bit."""
    from ..operators.packing import ranged_row_number

    cur = _current(spark, sf_dir)
    ranked = ranged_row_number(
        cur, ["current_balance", "customer_id"], "_rn"
    )
    n_agg = ranked.agg(F.count(F.lit(1)).alias("_n"))
    return ranked.crossJoin(F.broadcast(n_agg)).select(
        "customer_id",
        "current_balance",
        F.round(
            F.when(F.col("_n") == 1, F.lit(0.0)).otherwise(
                (F.col("_rn") - 1) / (F.col("_n") - 1)
            ),
            6,
        ).alias("pct_rank"),
        F.round(F.col("_rn") / F.col("_n"), 6).alias("cume_dist"),
    )


QUERIES = {
    "ingest_transactions": q_ingest_transactions,
    "fifo_matching": q_fifo_matching,
    "incremental_balance_update": q_incremental_balance_update,
    "balance_quartiles": q_balance_quartiles,
    "balance_aging": q_balance_aging,
    "balance_percentiles": q_balance_percentiles,
    "balance_scd2": q_balance_scd2,
    "balance_scd2_incremental": q_balance_scd2_incremental,
    "validate_results_summary": q_validate_results_summary,
    "balance_history": q_balance_history,
    "current_balances": q_current_balances,
    "analytics_summary": q_analytics_summary,
    "balance_asof": q_balance_asof,
    "month_end_balance": q_month_end_balance,
    "customers_above_threshold": q_customers_above_threshold,
    "balance_change": q_balance_change,
    "top_customers_by_balance": q_top_customers_by_balance,
    "zero_balance_customers": q_zero_balance_customers,
    "balance_stats": q_balance_stats,
    "transactions_on_date": q_transactions_on_date,
    "daily_balance_snapshots": q_daily_balance_snapshots,
    "never_spent_customers": q_never_spent_customers,
}

_ASOF_SQL = f"""
asof_bal AS (
  SELECT customer_id,
         transaction_date AS balance_as_of_date,
         ROUND(current_balance, 2) AS thrive_cash_balance
  FROM history
  WHERE transaction_date <= TIMESTAMP '{ASOF}'
  QUALIFY ROW_NUMBER() OVER (PARTITION BY customer_id
    ORDER BY transaction_date DESC, transaction_id DESC) = 1
)
""".strip()

ORACLES = {
    "ingest_transactions": f"WITH {TXNS_CTE} SELECT * FROM txns",
    "fifo_matching": f"{PRELUDE} SELECT * FROM matched",
    "balance_history": f"""{PRELUDE}
SELECT customer_id, transaction_date, transaction_id, transaction_type,
       transaction_amount,
       ROUND(cumulative_earned, 2) AS cumulative_earned,
       ROUND(cumulative_spent, 2) AS cumulative_spent,
       ROUND(cumulative_expired, 2) AS cumulative_expired,
       ROUND(current_balance, 2) AS current_balance
FROM history""",
    "current_balances": f"{PRELUDE} SELECT * FROM current_balances",
    "incremental_balance_update": (
        f"{PRELUDE} SELECT * FROM current_balances"
    ),
    "balance_scd2": f"""{PRELUDE}
SELECT customer_id,
       ROUND(current_balance, 2) AS balance,
       transaction_date AS effective_from,
       transaction_id,
       LEAD(transaction_date) OVER w AS effective_to,
       CAST(CASE WHEN LEAD(transaction_date) OVER w IS NULL
                 THEN 1 ELSE 0 END AS INT) AS is_current
FROM history
WINDOW w AS (PARTITION BY customer_id
             ORDER BY transaction_date, transaction_id)""",
    "balance_scd2_incremental": f"""{PRELUDE}
SELECT customer_id,
       ROUND(current_balance, 2) AS balance,
       transaction_date AS effective_from,
       transaction_id,
       LEAD(transaction_date) OVER w AS effective_to,
       CAST(CASE WHEN LEAD(transaction_date) OVER w IS NULL
                 THEN 1 ELSE 0 END AS INT) AS is_current
FROM history
WINDOW w AS (PARTITION BY customer_id
             ORDER BY transaction_date, transaction_id)""",
    "balance_percentiles": f"""{PRELUDE}
SELECT customer_id, current_balance,
       ROUND(percent_rank() OVER w, 6) AS pct_rank,
       ROUND(cume_dist() OVER w, 6) AS cume_dist
FROM current_balances
WINDOW w AS (ORDER BY current_balance, customer_id)""",
    "balance_aging": f"""{PRELUDE},
aged AS (
  SELECT datediff('day', createdat, TIMESTAMP '{ASOF}') AS age_days,
         amount
  FROM matched
  WHERE tctype = 'earned' AND redeemid IS NULL
    AND createdat <= TIMESTAMP '{ASOF}')
SELECT {AGING_BUCKETS_SQL} AS age_bucket,
       COUNT(*) AS n_unredeemed,
       ROUND(CAST(SUM(CAST(ROUND(amount * 100, 0) AS BIGINT)) AS DOUBLE)
             / 100, 2) AS value_at_risk
FROM aged GROUP BY age_bucket""",
    "balance_quartiles": f"""{PRELUDE},
tiled AS (
  SELECT customer_id, current_balance,
         CAST(ntile(4) OVER (ORDER BY current_balance DESC, customer_id)
              AS INT) AS quartile
  FROM current_balances)
SELECT quartile, COUNT(*) AS n_customers,
       ROUND(MIN(current_balance), 2) AS min_balance,
       ROUND(MAX(current_balance), 2) AS max_balance,
       ROUND(SUM(current_balance), 2) AS total_balance
FROM tiled GROUP BY quartile""",
    "analytics_summary": f"""{PRELUDE}
SELECT * FROM (
  SELECT ROUND(SUM(CASE WHEN tctype='earned' THEN amount ELSE 0 END), 2) AS total_earned,
         ROUND(SUM(CASE WHEN tctype='spent' THEN ABS(amount) ELSE 0 END), 2) AS total_spent,
         ROUND(SUM(CASE WHEN tctype='expired' THEN ABS(amount) ELSE 0 END), 2) AS total_expired,
         COUNT(CASE WHEN tctype='earned' THEN 1 END) AS earned_transaction_count,
         COUNT(CASE WHEN tctype='spent' THEN 1 END) AS spent_transaction_count,
         COUNT(CASE WHEN tctype='expired' THEN 1 END) AS expired_transaction_count
  FROM txns
), (
  SELECT ROUND(SUM(current_balance), 2) AS total_current_balance,
         COUNT(*) AS total_customers,
         COUNT(CASE WHEN current_balance > 0 THEN 1 END) AS customers_with_positive_balance
  FROM current_balances
)""",
    "validate_results_summary": f"""{PRELUDE}
SELECT 'redeemid_not_a_redeemer' AS check,
       (SELECT COUNT(*) FROM matched m
        WHERE m.redeemid IS NOT NULL
          AND m.redeemid NOT IN (SELECT trans_id FROM redeemers)) AS violations
UNION ALL
SELECT 'redeemer_used_more_than_once',
       (SELECT COUNT(*) FROM (
          SELECT redeemid FROM matched WHERE redeemid IS NOT NULL
          GROUP BY redeemid HAVING COUNT(*) > 1))
UNION ALL
SELECT 'redeemid_on_redeemer_row',
       (SELECT COUNT(*) FROM matched
        WHERE tctype IN ('spent','expired') AND redeemid IS NOT NULL)
UNION ALL
SELECT 'balance_mismatch',
       (SELECT COUNT(*) FROM (
          SELECT customerid,
                 SUM(CASE WHEN tctype='earned' THEN amount ELSE 0 END) AS earned,
                 SUM(CASE WHEN tctype='spent' THEN ABS(amount) ELSE 0 END) AS spent,
                 SUM(CASE WHEN tctype='expired' THEN ABS(amount) ELSE 0 END) AS expired,
                 SUM(CASE WHEN tctype='earned' AND redeemid IS NULL
                          THEN amount ELSE 0 END) AS remaining
          FROM matched GROUP BY customerid
          HAVING ABS(earned - (spent + expired + remaining)) > 0.01))""",
    "balance_asof": f"{PRELUDE},\n{_ASOF_SQL} SELECT * FROM asof_bal",
    "month_end_balance": f"""{PRELUDE}
SELECT customer_id,
       DATE_TRUNC('month', transaction_date) AS month,
       transaction_date AS last_transaction_date,
       ROUND(current_balance, 2) AS month_end_balance
FROM history
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY customer_id, DATE_TRUNC('month', transaction_date)
  ORDER BY transaction_date DESC, transaction_id DESC) = 1""",
    "customers_above_threshold": f"""{PRELUDE},
{_ASOF_SQL}
SELECT * FROM asof_bal WHERE thrive_cash_balance > 100""",
    "balance_change": f"""{PRELUDE},
s AS (
  SELECT customer_id, ROUND(current_balance, 2) AS start_balance
  FROM history WHERE transaction_date <= TIMESTAMP '{START}'
  QUALIFY ROW_NUMBER() OVER (PARTITION BY customer_id
    ORDER BY transaction_date DESC, transaction_id DESC) = 1
),
e AS (
  SELECT customer_id, ROUND(current_balance, 2) AS end_balance
  FROM history WHERE transaction_date <= TIMESTAMP '{ASOF}'
  QUALIFY ROW_NUMBER() OVER (PARTITION BY customer_id
    ORDER BY transaction_date DESC, transaction_id DESC) = 1
)
SELECT s.customer_id, s.start_balance, e.end_balance,
       ROUND(e.end_balance - s.start_balance, 2) AS balance_change
FROM s JOIN e ON s.customer_id = e.customer_id""",
    "top_customers_by_balance": f"""{PRELUDE}
SELECT * FROM current_balances
ORDER BY current_balance DESC, customer_id
LIMIT 10""",
    "zero_balance_customers": f"""{PRELUDE},
{_ASOF_SQL}
SELECT * FROM asof_bal WHERE thrive_cash_balance = 0""",
    "balance_stats": f"""{PRELUDE},
{_ASOF_SQL}
SELECT COUNT(DISTINCT customer_id) AS total_customers,
       ROUND(AVG(thrive_cash_balance), 2) AS avg_balance,
       ROUND(MIN(thrive_cash_balance), 2) AS min_balance,
       ROUND(MAX(thrive_cash_balance), 2) AS max_balance,
       ROUND(SUM(thrive_cash_balance), 2) AS total_balance
FROM asof_bal""",
    "transactions_on_date": f"""{PRELUDE}
SELECT customer_id, transaction_date, transaction_id, transaction_type,
       transaction_amount,
       ROUND(current_balance, 2) AS balance_after_transaction
FROM history
WHERE CAST(transaction_date AS DATE) = DATE '2024-01-15'""",
    "daily_balance_snapshots": f"""{PRELUDE}
SELECT customer_id,
       strftime(transaction_date, '%Y-%m-%d') AS date,
       transaction_date AS last_transaction_time,
       ROUND(current_balance, 2) AS current_balance
FROM history
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY customer_id, CAST(transaction_date AS DATE)
  ORDER BY transaction_date DESC, transaction_id DESC) = 1""",
    "never_spent_customers": f"""{PRELUDE}
SELECT * FROM current_balances
WHERE cumulative_spent = 0 AND cumulative_expired = 0
  AND cumulative_earned > 0""",
}


def overdraft_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overdraft screen over the spend stream: every 'spent'
    transaction annotated with the balance the customer held JUST
    BEFORE it (the lag of the running ledger) and just after, with
    flags for landing negative and for being the transaction that
    CROSSED zero — the point-in-time dimensional lookup the SCD2
    dimension exists to answer, collapsed to its exact window form
    (probe set == transaction set, so the asof is a lag, no join at
    all).
    Registered in round 6.
    Engine parity: prev/post are the SAME ordered window sum both
    engines compute bit-identically (the balance_history contract);
    flags compare those identical doubles, rounding only at the
    emitted edge. One exchange total: prev and post are two FRAMES of
    one window spec over the ORIGINAL transaction columns — layering
    a lag on the aliased ledger frame would re-shuffle (the
    balance_scd2 trap, measured 2 exchanges before this form)."""
    txns = _txns(spark, sf_dir)
    signed = F.when(
        F.col("tctype") == "earned", F.abs(F.col("amount"))
    ).otherwise(-F.abs(F.col("amount")))
    w = Window.partitionBy("customerid").orderBy("createdat", "trans_id")
    post = F.sum(signed).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev = F.coalesce(
        F.sum(signed).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0.0),
    )
    flagged = txns.select(
        F.col("trans_id").alias("transaction_id"),
        F.col("customerid").alias("customer_id"),
        F.col("createdat").alias("transaction_date"),
        "tctype",
        F.col("amount"),
        post.alias("post_balance_raw"),
        prev.alias("prev_balance_raw"),
    ).filter(F.col("tctype") == "spent")
    return flagged.select(
        "transaction_id",
        "customer_id",
        "transaction_date",
        F.round("amount", 2).alias("amount"),
        F.round("prev_balance_raw", 2).alias("prev_balance"),
        F.round("post_balance_raw", 2).alias("post_balance"),
        (F.col("post_balance_raw") < 0).cast("int").alias("is_overdraft"),
        ((F.col("prev_balance_raw") >= 0) & (F.col("post_balance_raw") < 0))
        .cast("int")
        .alias("crossed_zero"),
    )


#: DuckDB twin of overdraft_flags (round-6 registration). Same
#: SIGNED single-window sum as the Spark side (one float
#: accumulation order both engines share — mixing it with history's
#: three-sum ledger would differ in association, not just rounding).
OVERDRAFT_ORACLE = f"""WITH {TXNS_CTE},
lagged AS (
  SELECT trans_id AS transaction_id, customerid AS customer_id,
         createdat AS transaction_date, tctype,
         amount,
         SUM(CASE WHEN tctype = 'earned' THEN ABS(amount)
                  ELSE -ABS(amount) END) OVER (
           PARTITION BY customerid ORDER BY createdat, trans_id
           ROWS UNBOUNDED PRECEDING) AS post_balance_raw,
         COALESCE(SUM(CASE WHEN tctype = 'earned' THEN ABS(amount)
                           ELSE -ABS(amount) END) OVER (
           PARTITION BY customerid ORDER BY createdat, trans_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS prev_balance_raw
  FROM txns)
SELECT transaction_id, customer_id, transaction_date,
       ROUND(amount, 2) AS amount,
       ROUND(prev_balance_raw, 2) AS prev_balance,
       ROUND(post_balance_raw, 2) AS post_balance,
       CAST(post_balance_raw < 0 AS INT) AS is_overdraft,
       CAST(prev_balance_raw >= 0 AND post_balance_raw < 0 AS INT)
         AS crossed_zero
FROM lagged WHERE tctype = 'spent'"""


DIFF_T1 = "2024-01-10 00:00:00"
DIFF_T2 = ASOF  # 2024-01-20


def balance_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff: the per-customer balance table as-of
    T1 vs as-of T2, classified into inserted / changed / unchanged
    rows — the generic "what changed between two snapshots" operator
    every warehouse reconciliation job needs (deletes can't occur in
    an append-only ledger, so the class is asserted empty rather than
    modeled).
    Registered in round 6.
    Both snapshots derive from ONE pass over the ledger: conditional
    max_by aggregations at the two cutoffs share a single groupBy
    (never two scans + a full outer join — the naive diff shape). A
    materialized-snapshot deployment diffs two stored tables with the
    same output contract; this form proves the semantics against the
    ledger itself.

    Engine parity: each snapshot balance is the max_by/(arg_max)
    element under the shared (transaction_date, transaction_id)
    order — an exact data element, rounded only at the edge."""
    txns = _txns(spark, sf_dir)
    signed = F.when(
        F.col("tctype") == "earned", F.abs(F.col("amount"))
    ).otherwise(-F.abs(F.col("amount")))
    w = Window.partitionBy("customerid").orderBy("createdat", "trans_id")
    post = F.sum(signed).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ledger = txns.select(
        "customerid", "createdat", "trans_id", post.alias("bal")
    )
    t1 = F.lit(DIFF_T1).cast("timestamp")
    t2 = F.lit(DIFF_T2).cast("timestamp")
    key = F.struct("createdat", "trans_id")
    snap = ledger.groupBy("customerid").agg(
        F.max_by(
            F.when(F.col("createdat") <= t1, F.col("bal")),
            F.when(F.col("createdat") <= t1, key),
        ).alias("bal_t1"),
        F.max_by(
            F.when(F.col("createdat") <= t2, F.col("bal")),
            F.when(F.col("createdat") <= t2, key),
        ).alias("bal_t2"),
    )
    change = (
        F.when(F.col("bal_t1").isNull() & F.col("bal_t2").isNotNull(),
               F.lit("inserted"))
        .when(F.round("bal_t1", 2) != F.round("bal_t2", 2),
              F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        snap.filter(F.col("bal_t2").isNotNull())
        .select(
            F.col("customerid").alias("customer_id"),
            F.round("bal_t1", 2).alias("balance_t1"),
            F.round("bal_t2", 2).alias("balance_t2"),
            change.alias("change_type"),
        )
    )


#: DuckDB twin of balance_snapshot_diff (round-6 registration).
SNAPSHOT_DIFF_ORACLE = f"""WITH {TXNS_CTE},
ledger AS (
  SELECT customerid, createdat, trans_id,
         SUM(CASE WHEN tctype = 'earned' THEN ABS(amount)
                  ELSE -ABS(amount) END) OVER (
           PARTITION BY customerid ORDER BY createdat, trans_id
           ROWS UNBOUNDED PRECEDING) AS bal
  FROM txns),
s1 AS (
  SELECT customerid, bal AS bal_t1 FROM ledger
  WHERE createdat <= TIMESTAMP '{DIFF_T1}'
  QUALIFY ROW_NUMBER() OVER (PARTITION BY customerid
    ORDER BY createdat DESC, trans_id DESC) = 1),
s2 AS (
  SELECT customerid, bal AS bal_t2 FROM ledger
  WHERE createdat <= TIMESTAMP '{DIFF_T2}'
  QUALIFY ROW_NUMBER() OVER (PARTITION BY customerid
    ORDER BY createdat DESC, trans_id DESC) = 1)
SELECT s2.customerid AS customer_id,
       ROUND(s1.bal_t1, 2) AS balance_t1,
       ROUND(s2.bal_t2, 2) AS balance_t2,
       CASE WHEN s1.bal_t1 IS NULL THEN 'inserted'
            WHEN ROUND(s1.bal_t1, 2) <> ROUND(s2.bal_t2, 2)
              THEN 'changed'
            ELSE 'unchanged' END AS change_type
FROM s2 LEFT JOIN s1 USING (customerid)"""


def customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — THE classic customer-value grid: per
    customer, Recency (days from last spend to the catalog ASOF),
    Frequency (spend count) and Monetary (total spent cents), each
    quartiled 1..4 by ntile under a deterministic total order, plus
    the combined 'rfm' code (111 = best: recent, frequent, big).
    Registered in round 6.
    Determinism: ntile over (metric, customer_id) — ties split by
    id identically in both engines; recency in whole days from the
    fixed ASOF; monetary in exact integer cents. Customers with no
    spend are excluded (they have no R).

    Scale posture: the three quartiles are exact integer ntiles from
    three ranged-scan row numbers (operators/packing.py
    ranged_row_number + _ntile4_sql) — never three stacked global
    ntile windows, which would push the whole customer dimension
    through ONE task three times. Descending orders (frequency,
    monetary) ride the negated-key ascending sort; the total order,
    and therefore every tile, is bit-identical to the window form."""
    from ..operators.packing import ranged_row_number

    txns = _txns(spark, sf_dir)
    spent = txns.filter(F.col("tctype") == "spent")
    per_cust = spent.groupBy("customerid").agg(
        F.max("createdat").alias("last_spend"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(
            F.round(F.abs(F.col("amount")) * 100).cast("long")
        ).alias("monetary_cents"),
    )
    asof = F.lit(ASOF).cast("timestamp")
    base = per_cust.withColumn(
        "recency_days", F.datediff(F.to_date(asof), F.to_date("last_spend"))
    ).withColumn(
        "_negf", -F.col("frequency")
    ).withColumn(
        "_negm", -F.col("monetary_cents")
    )
    ranked = ranged_row_number(base, ["recency_days", "customerid"], "_rn_r")
    ranked = ranged_row_number(ranked, ["_negf", "customerid"], "_rn_f")
    ranked = ranged_row_number(ranked, ["_negm", "customerid"], "_rn_m")
    n_agg = ranked.agg(F.count(F.lit(1)).alias("_n"))
    tiled = ranked.crossJoin(F.broadcast(n_agg)).select(
        F.col("customerid").alias("customer_id"),
        F.col("recency_days").cast("int").alias("recency_days"),
        F.col("frequency").cast("long").alias("frequency"),
        F.col("monetary_cents").cast("long").alias("monetary_cents"),
        F.expr(_ntile4_sql("_rn_r", "_n")).alias("r_quartile"),
        F.expr(_ntile4_sql("_rn_f", "_n")).alias("f_quartile"),
        F.expr(_ntile4_sql("_rn_m", "_n")).alias("m_quartile"),
    )
    return tiled.withColumn(
        "rfm",
        (F.col("r_quartile") * 100 + F.col("f_quartile") * 10
         + F.col("m_quartile")).cast("int"),
    )


#: DuckDB twin of customer_rfm (round-6+ registration).
RFM_ORACLE = f"""WITH {TXNS_CTE},
per_cust AS (
  SELECT customerid,
         MAX(createdat) AS last_spend,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(ROUND(ABS(amount) * 100, 0) AS BIGINT))
              AS BIGINT) AS monetary_cents
  FROM txns WHERE tctype = 'spent' GROUP BY customerid),
base AS (
  SELECT *,
         datediff('day', CAST(last_spend AS DATE),
                  CAST(TIMESTAMP '{ASOF}' AS DATE)) AS recency_days
  FROM per_cust)
SELECT customerid AS customer_id,
       CAST(recency_days AS INT) AS recency_days,
       CAST(frequency AS BIGINT) AS frequency,
       monetary_cents,
       CAST(ntile(4) OVER (ORDER BY recency_days, customerid) AS INT)
         AS r_quartile,
       CAST(ntile(4) OVER (ORDER BY frequency DESC, customerid) AS INT)
         AS f_quartile,
       CAST(ntile(4) OVER (ORDER BY monetary_cents DESC, customerid)
            AS INT) AS m_quartile,
       CAST(ntile(4) OVER (ORDER BY recency_days, customerid) * 100
            + ntile(4) OVER (ORDER BY frequency DESC, customerid) * 10
            + ntile(4) OVER (ORDER BY monetary_cents DESC, customerid)
            AS INT) AS rfm
FROM base"""


def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value triangle: customers grouped by FIRST-
    SPEND week, tracked by weeks-since-first-spend, with per-cell
    spend cents, active customers, and the cohort's CUMULATIVE spend
    — the LTV curve finance teams read next to cohort retention
    (events_cohort_retention counts activity; this one counts
    money).
    Registered in round 6.
    Exactness: everything integer — epoch-week = epoch_days div 7
    (engine-neutral, no locale week rules), spend in exact cents,
    cumulative sums over the tiny (cohort, age) rollup. Plan: one
    per-customer first-spend agg (broadcast back), one
    map-side-combinable (cohort, age) rollup, one cumulative window
    over it."""
    txns = _txns(spark, sf_dir)
    spent = txns.filter(F.col("tctype") == "spent").select(
        "customerid",
        "createdat",
        F.round(F.abs(F.col("amount")) * 100).cast("long").alias("cents"),
    )
    week = lambda c: F.expr(  # noqa: E731
        f"datediff(to_date({c}), DATE '1970-01-01') div 7"
    )
    first = spent.groupBy("customerid").agg(
        F.min("createdat").alias("first_spend")
    )
    j = spent.join(F.broadcast(first), "customerid").select(
        week("first_spend").alias("cohort_week"),
        (week("createdat") - week("first_spend")).alias("age_weeks"),
        "customerid",
        "cents",
    )
    cells = j.groupBy("cohort_week", "age_weeks").agg(
        F.sum("cents").alias("spend_cents"),
        F.count_distinct("customerid").alias("active_customers"),
    )
    wcum = (
        Window.partitionBy("cohort_week")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    size = first.groupBy(
        week("first_spend").alias("cohort_week")
    ).agg(F.count(F.lit(1)).alias("cohort_size"))
    return (
        cells.join(F.broadcast(size), "cohort_week")
        .select(
            F.col("cohort_week").cast("long").alias("cohort_week"),
            F.col("age_weeks").cast("long").alias("age_weeks"),
            F.col("cohort_size").cast("long").alias("cohort_size"),
            F.col("active_customers").cast("long").alias(
                "active_customers"
            ),
            F.col("spend_cents").cast("long").alias("spend_cents"),
            F.sum("spend_cents").over(wcum).cast("long").alias(
                "cum_spend_cents"
            ),
        )
    )


#: DuckDB twin of cohort_ltv (round-6+ registration).
COHORT_LTV_ORACLE = f"""WITH {TXNS_CTE},
spent AS (
  SELECT customerid, createdat,
         CAST(ROUND(ABS(amount) * 100, 0) AS BIGINT) AS cents
  FROM txns WHERE tctype = 'spent'),
first AS (
  SELECT customerid, MIN(createdat) AS first_spend
  FROM spent GROUP BY customerid),
j AS (
  SELECT datediff('day', DATE '1970-01-01',
                  CAST(first_spend AS DATE)) // 7 AS cohort_week,
         datediff('day', DATE '1970-01-01',
                  CAST(createdat AS DATE)) // 7
         - datediff('day', DATE '1970-01-01',
                    CAST(first_spend AS DATE)) // 7 AS age_weeks,
         spent.customerid, cents
  FROM spent JOIN first USING (customerid)),
cells AS (
  SELECT cohort_week, age_weeks,
         CAST(SUM(cents) AS BIGINT) AS spend_cents,
         COUNT(DISTINCT customerid) AS active_customers
  FROM j GROUP BY 1, 2),
size_ AS (
  SELECT datediff('day', DATE '1970-01-01',
                  CAST(first_spend AS DATE)) // 7 AS cohort_week,
         COUNT(*) AS cohort_size
  FROM first GROUP BY 1)
SELECT cells.cohort_week, cells.age_weeks,
       CAST(size_.cohort_size AS BIGINT) AS cohort_size,
       CAST(cells.active_customers AS BIGINT) AS active_customers,
       cells.spend_cents,
       CAST(SUM(cells.spend_cents) OVER (
         PARTITION BY cells.cohort_week ORDER BY cells.age_weeks
         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_spend_cents
FROM cells JOIN size_ USING (cohort_week)"""


# --- Round-6 registrations into the driver contract
# --- (queries()/oracle_sql()).
QUERIES["overdraft_flags"] = overdraft_flags
ORACLES["overdraft_flags"] = OVERDRAFT_ORACLE
QUERIES["balance_snapshot_diff"] = balance_snapshot_diff
ORACLES["balance_snapshot_diff"] = SNAPSHOT_DIFF_ORACLE
QUERIES["customer_rfm"] = customer_rfm
ORACLES["customer_rfm"] = RFM_ORACLE
QUERIES["cohort_ltv"] = cohort_ltv
ORACLES["cohort_ltv"] = COHORT_LTV_ORACLE


def customer_inactivity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn-risk screen: customers bucketed by days since their LAST
    transaction as of the catalog ASOF date — the inactivity
    companion of balance_aging (that one ages unredeemed VALUE; this
    one ages the customer relationship). One groupBy over the
    transaction stream + a tiny 4-bucket rollup. Registered in round 6."""
    txns = _txns(spark, sf_dir)
    last = (
        txns.filter(
            F.col("createdat") <= F.lit(ASOF).cast("timestamp")
        )
        .groupBy("customerid")
        .agg(F.max("createdat").alias("last_txn"))
        .withColumn(
            "idle_days",
            F.datediff(
                F.to_date(F.lit(ASOF).cast("timestamp")),
                F.to_date("last_txn"),
            ),
        )
    )
    bucket = F.expr(
        "CASE WHEN idle_days < 7 THEN '0-6d'"
        " WHEN idle_days < 14 THEN '7-13d'"
        " WHEN idle_days < 21 THEN '14-20d'"
        " ELSE '21d+' END"
    )
    return last.groupBy(bucket.alias("idle_bucket")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.min("idle_days").cast("int").alias("min_idle_days"),
        F.max("idle_days").cast("int").alias("max_idle_days"),
    )


#: DuckDB twin of customer_inactivity_buckets (r7 registration).
INACTIVITY_ORACLE = f"""WITH {TXNS_CTE},
last AS (
  SELECT customerid, MAX(createdat) AS last_txn
  FROM txns WHERE createdat <= TIMESTAMP '{ASOF}'
  GROUP BY customerid),
aged AS (
  SELECT customerid,
         datediff('day', CAST(last_txn AS DATE),
                  CAST(TIMESTAMP '{ASOF}' AS DATE)) AS idle_days
  FROM last)
SELECT CASE WHEN idle_days < 7 THEN '0-6d'
            WHEN idle_days < 14 THEN '7-13d'
            WHEN idle_days < 21 THEN '14-20d'
            ELSE '21d+' END AS idle_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(MIN(idle_days) AS INT) AS min_idle_days,
       CAST(MAX(idle_days) AS INT) AS max_idle_days
FROM aged GROUP BY 1"""


QUERIES["customer_inactivity_buckets"] = customer_inactivity_buckets
ORACLES["customer_inactivity_buckets"] = INACTIVITY_ORACLE


# ---------------------------------------------------------------------------
# Round-7 operators.
# ---------------------------------------------------------------------------

def time_weighted_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average balance (TWAB) per customer over
    [first transaction, ASOF) — the creditworthiness/interest-accrual
    metric the reference's balance catalog lacks: a customer who held
    900 for three weeks ranks above one who spiked to 1000 for an
    hour. Added in round 7.

    Exactness: balance deltas in half-up integer cents (the rfm
    convention), segment durations in exact epoch MICROS
    (unix_micros / epoch_us agree engine-to-engine), the
    cents x micros products summed in DECIMAL(38,0) (a month of
    micros x 1e7 cents overflows int64), one truncating div by the
    window span at the end. Customers whose first transaction is at
    or after ASOF are excluded (they have no window).

    Scale shape: ONE exchange+sort per customer serves the running
    balance AND the lead() segment end (the scd2 one-pass
    discipline: both windows derive from the ORIGINAL columns before
    any aliasing), then one map-side-combinable per-customer rollup."""
    txns = _txns(spark, sf_dir)
    asof_us = F.unix_micros(F.lit(ASOF).cast("timestamp"))
    cb = txns.filter(
        F.col("createdat") < F.lit(ASOF).cast("timestamp")
    ).select(
        "customerid",
        "createdat",
        "trans_id",
        delta_cents_col().alias("delta_cents"),
    )
    w = (
        Window.partitionBy("customerid")
        .orderBy("createdat", "trans_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wl = Window.partitionBy("customerid").orderBy("createdat", "trans_id")
    seg = cb.select(
        "customerid",
        F.sum("delta_cents").over(w).alias("bal_cents"),
        F.unix_micros(F.col("createdat")).alias("t0"),
        F.coalesce(
            F.lead(F.unix_micros(F.col("createdat"))).over(wl), asof_us
        ).alias("t1"),
        F.min(F.unix_micros(F.col("createdat")))
        .over(Window.partitionBy("customerid"))
        .alias("tfirst"),
    )
    return seg.groupBy("customerid").agg(
        F.count(F.lit(1)).cast("long").alias("n_txns"),
        F.expr(
            "CAST((CAST(" + str(_ASOF_US_SQL) + " AS BIGINT) - min(tfirst))"
            " div 1000000 AS BIGINT)"
        ).alias("window_seconds"),
        F.expr(
            "CAST(SUM(CAST(bal_cents AS DECIMAL(38,0)) * (t1 - t0))"
            f" div ({_ASOF_US_SQL} - min(tfirst)) AS BIGINT)"
        ).alias("twab_cents"),
    ).select(
        F.col("customerid").alias("customer_id"),
        "n_txns",
        "window_seconds",
        "twab_cents",
    )


#: epoch micros of ASOF, shared by the Spark aggregate SQL snippets
#: and readable in the oracle below (UTC, second-aligned timestamp)
import datetime as _dt  # noqa: E402

_ASOF_US_SQL = int(
    _dt.datetime.strptime(ASOF, "%Y-%m-%d %H:%M:%S")
    .replace(tzinfo=_dt.timezone.utc)
    .timestamp()
    * 1_000_000
)

TWAB_ORACLE = f"""WITH {TXNS_CTE},
cb AS (
  SELECT customerid, createdat, trans_id,
         {DELTA_CENTS_SQL} AS delta_cents
  FROM txns WHERE createdat < TIMESTAMP '{ASOF}'),
seg AS (
  SELECT customerid,
         SUM(delta_cents) OVER w AS bal_cents,
         epoch_us(createdat) AS t0,
         COALESCE(LEAD(epoch_us(createdat)) OVER w2,
                  {_ASOF_US_SQL}) AS t1,
         MIN(epoch_us(createdat))
           OVER (PARTITION BY customerid) AS tfirst
  FROM cb
  WINDOW w AS (PARTITION BY customerid ORDER BY createdat, trans_id
               ROWS UNBOUNDED PRECEDING),
         w2 AS (PARTITION BY customerid ORDER BY createdat, trans_id))
SELECT customerid AS customer_id,
       CAST(COUNT(*) AS BIGINT) AS n_txns,
       CAST(({_ASOF_US_SQL} - MIN(tfirst)) // 1000000 AS BIGINT)
         AS window_seconds,
       CAST(SUM(CAST(bal_cents AS HUGEINT) * (t1 - t0))
            // ({_ASOF_US_SQL} - MIN(tfirst)) AS BIGINT) AS twab_cents
FROM seg GROUP BY customerid"""


# Registered r8.
QUERIES["time_weighted_balance"] = time_weighted_balance
ORACLES["time_weighted_balance"] = TWAB_ORACLE


# ---------------------------------------------------------------------------
# Round-8 operators.
# ---------------------------------------------------------------------------

def balance_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum DRAWDOWN per customer — the classic equity-curve risk
    metric applied to the rewards balance: the deepest peak-to-trough
    fall of the running balance over the customer's history (a
    customer who earned 1000 then spent it all has a 1000-cent
    drawdown even if they later recover). Surfaces burn-and-churn
    behavior the level-based catalog (aging, TWAB, RFM) can't see.
    Exact integer cents end-to-end; drawdown_ppm = max_dd x 1e6 div
    peak (0 when the balance never went positive). Added in round 8.

    Scale shape: ONE exchange+sort per customer serves BOTH window
    phases — the running-sum balance and the running max over it
    chain on the same (customerid) partitioning with the original
    column names kept (the scd2 discipline), so Spark reuses the
    exchange; then one map-side-combinable per-customer rollup."""
    return drawdown_from(_txns(spark, sf_dir))


def drawdown_from(txns: DataFrame) -> DataFrame:
    """The drawdown rollup over ANY transaction frame — shared by the
    sf_dir query above and the streaming twin's batch expectation."""
    cb = txns.select(
        "customerid",
        "createdat",
        "trans_id",
        delta_cents_col().alias("delta_cents"),
    )
    w = (
        Window.partitionBy("customerid")
        .orderBy("createdat", "trans_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bal = cb.withColumn("bal_cents", F.sum("delta_cents").over(w))
    # the equity curve starts at the customer's initial 0 balance, so
    # the running peak is seeded with 0: a customer who goes negative
    # on their first transaction has drawn down from 0, not from
    # their own first (negative) balance
    dd = bal.withColumn(
        "peak_cents", F.greatest(F.lit(0), F.max("bal_cents").over(w))
    )
    return dd.groupBy("customerid").agg(
        F.count(F.lit(1)).cast("long").alias("n_txns"),
        F.sum("delta_cents").cast("long").alias("final_cents"),
        F.max("peak_cents").cast("long").alias("peak_cents"),
        F.max(F.col("peak_cents") - F.col("bal_cents"))
        .cast("long")
        .alias("max_drawdown_cents"),
    ).select(
        F.col("customerid").alias("customer_id"),
        "n_txns",
        "final_cents",
        "peak_cents",
        "max_drawdown_cents",
        F.expr(
            "CASE WHEN peak_cents <= 0 THEN CAST(0 AS BIGINT) ELSE"
            " CAST(CAST(max_drawdown_cents AS DECIMAL(38,0)) * 1000000"
            " div peak_cents AS BIGINT) END"
        ).alias("drawdown_ppm"),
    )


DRAWDOWN_ORACLE = f"""WITH {TXNS_CTE},
cb AS (
  SELECT customerid, createdat, trans_id,
         {DELTA_CENTS_SQL} AS delta_cents
  FROM txns),
bal AS (
  SELECT customerid, createdat, trans_id, delta_cents,
         SUM(delta_cents) OVER w AS bal_cents
  FROM cb
  WINDOW w AS (PARTITION BY customerid ORDER BY createdat, trans_id
               ROWS UNBOUNDED PRECEDING)),
dd AS (
  SELECT customerid, delta_cents, bal_cents,
         GREATEST(0, MAX(bal_cents) OVER (PARTITION BY customerid
           ORDER BY createdat, trans_id
           ROWS UNBOUNDED PRECEDING)) AS peak_cents
  FROM bal)
SELECT customerid AS customer_id,
       CAST(COUNT(*) AS BIGINT) AS n_txns,
       CAST(SUM(delta_cents) AS BIGINT) AS final_cents,
       CAST(MAX(peak_cents) AS BIGINT) AS peak_cents,
       CAST(MAX(peak_cents - bal_cents) AS BIGINT)
         AS max_drawdown_cents,
       CAST(CASE WHEN MAX(peak_cents) <= 0 THEN 0
                 ELSE CAST(MAX(peak_cents - bal_cents) AS HUGEINT)
                      * 1000000 // MAX(peak_cents) END AS BIGINT)
         AS drawdown_ppm
FROM dd GROUP BY customerid"""


def balance_concentration_by_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Balance CONCENTRATION per market segment — the
    portfolio-risk view of the rewards liability: a segment whose
    outstanding balance is concentrated in a few customers is one
    churn event away from a redemption spike. Herfindahl–Hirschman
    index in exact integer parts-per-billion (sum of squared
    cent-shares: hhi_ppb = sum(bal^2) x 1e9 div total^2, 1e9 =
    monopoly) plus the top-holder share, over customers with a
    POSITIVE final balance (shares are undefined on a mixed-sign
    base). Added in round 8.

    Scale shape: one map-side-combinable per-customer fold over
    transactions (the only corpus-scale pass), a broadcast join to
    the customer dimension for the segment label, then a per-segment
    rollup over |customers| rows. Squares and totals widen to
    DECIMAL(38,0) before the one truncating div."""
    txns = _txns(spark, sf_dir)
    bal = (
        txns.groupBy("customerid")
        .agg(F.sum(delta_cents_col()).alias("bal_cents"))
        .filter(F.col("bal_cents") > 0)
    )
    seg = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("customerid"),
        F.col("c_mktsegment").alias("segment"),
    )
    lab = bal.join(F.broadcast(seg), "customerid", "left").select(
        F.coalesce(F.col("segment"), F.lit("UNKNOWN")).alias("segment"),
        "bal_cents",
    )
    return (
        lab.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("bal_cents").cast("long").alias("total_cents"),
            F.max("bal_cents").cast("long").alias("top_cents"),
            F.sum(
                F.col("bal_cents").cast("decimal(38,0)")
                * F.col("bal_cents")
            ).alias("sq"),
        )
        .select(
            "segment",
            "n_customers",
            "total_cents",
            F.expr(
                "CAST(CAST(top_cents AS DECIMAL(38,0)) * 1000000"
                " div total_cents AS BIGINT)"
            ).alias("top_share_ppm"),
            F.expr(
                "CAST(sq * 1000000000 div (CAST(total_cents AS"
                " DECIMAL(38,0)) * total_cents) AS BIGINT)"
            ).alias("hhi_ppb"),
        )
    )


CONCENTRATION_ORACLE = f"""WITH {TXNS_CTE},
bal AS (
  SELECT customerid, SUM({DELTA_CENTS_SQL}) AS bal_cents
  FROM txns GROUP BY customerid
  HAVING SUM({DELTA_CENTS_SQL}) > 0),
lab AS (
  SELECT COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment, b.bal_cents
  FROM bal b LEFT JOIN customer c ON c.c_custkey = b.customerid)
SELECT segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(bal_cents) AS BIGINT) AS total_cents,
       CAST(CAST(MAX(bal_cents) AS HUGEINT) * 1000000
            // SUM(bal_cents) AS BIGINT) AS top_share_ppm,
       CAST(SUM(CAST(bal_cents AS HUGEINT) * bal_cents) * 1000000000
            // (CAST(SUM(bal_cents) AS HUGEINT) * SUM(bal_cents))
            AS BIGINT) AS hhi_ppb
FROM lab GROUP BY segment"""

QUERIES["balance_drawdown"] = balance_drawdown
ORACLES["balance_drawdown"] = DRAWDOWN_ORACLE
QUERIES["balance_concentration_by_segment"] = balance_concentration_by_segment
ORACLES["balance_concentration_by_segment"] = CONCENTRATION_ORACLE


# ---------------------------------------------------------------------------
# r9-staged prebuilds, registered in round 10.
# ---------------------------------------------------------------------------

def balance_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-flow volatility per customer: the variance of the
    customer's DAILY net cash flow (earned minus spent/expired, in
    cents) — the risk companion to drawdown (depth of the worst
    fall) and TWAB (average level): a customer with violent daily
    swings and a flat net is invisible to both. Population variance
    emitted as exact integer cents^2 via the n*Σx² − (Σx)² identity
    (non-negative by construction, so DuckDB floor-division and
    Spark truncating `div` agree; a possibly-negative mean is
    deliberately NOT emitted — the two engines' integer divisions
    disagree below zero).

    Scale: two map-side-combinable rollups (daily cells, then
    per-customer moments); products of two BIGINT sums widen to
    DECIMAL(38,0) first (the ANSI-overflow rule)."""
    return volatility_from(_txns(spark, sf_dir))


def volatility_from(txns: DataFrame) -> DataFrame:
    """The daily-flow variance rollup over ANY transaction frame —
    shared by the sf_dir query above and the streaming twin's batch
    expectation (the drawdown_from convention)."""
    t = txns.select(
        "customerid",
        F.to_date("createdat").alias("d"),
        delta_cents_col().alias("dc"),
    )
    daily = t.groupBy("customerid", "d").agg(
        F.sum("dc").alias("flow")
    )
    agg = daily.groupBy("customerid").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("flow").cast("long").alias("net_cents"),
        F.sum(
            F.expr("CAST(flow AS DECIMAL(38,0)) * flow")
        ).alias("ss"),
    )
    return agg.select(
        F.col("customerid").alias("customer_id"),
        "n_days",
        "net_cents",
        F.expr(
            "CAST((n_days * ss - CAST(net_cents AS DECIMAL(38,0))"
            " * net_cents) div (CAST(n_days AS DECIMAL(38,0)) * n_days)"
            " AS BIGINT)"
        ).alias("flow_var_cents2"),
    )


BALANCE_VOLATILITY_ORACLE = f"""WITH {TXNS_CTE},
daily AS (
  SELECT customerid, CAST(createdat AS DATE) AS d,
         SUM({DELTA_CENTS_SQL}) AS flow
  FROM txns GROUP BY 1, 2),
agg AS (
  SELECT customerid,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(flow) AS BIGINT) AS net_cents,
         SUM(CAST(flow AS HUGEINT) * flow) AS ss
  FROM daily GROUP BY 1)
SELECT customerid AS customer_id, n_days, net_cents,
       CAST((n_days * ss - CAST(net_cents AS HUGEINT) * net_cents)
            // (CAST(n_days AS HUGEINT) * n_days) AS BIGINT)
         AS flow_var_cents2
FROM agg"""


#: fixed cent thresholds: rank-free buckets are engine-stable (a
#: quartile boundary tie would not be). The SQL case, the Spark
#: expression, and the streaming twin's Python fold are all built
#: from these two numbers.
BUCKET_LOW_CENTS, BUCKET_MID_CENTS = 10_000, 100_000

BUCKET_CASE = (
    "CASE WHEN bal_cents <= 0 THEN 'zero_or_neg'"
    f" WHEN bal_cents <= {BUCKET_LOW_CENTS} THEN 'low'"
    f" WHEN bal_cents <= {BUCKET_MID_CENTS} THEN 'mid'"
    " ELSE 'high' END"
)


def bucket_of_cents(bal: int) -> str:
    """Python twin of BUCKET_CASE (streaming state fold + tests)."""
    if bal <= 0:
        return "zero_or_neg"
    if bal <= BUCKET_LOW_CENTS:
        return "low"
    if bal <= BUCKET_MID_CENTS:
        return "mid"
    return "high"


def balance_bucket_migration(
    spark: SparkSession, sf_dir: str, period_fmt: str = "yyyy-MM-dd"
) -> DataFrame:
    """Period-over-period migration matrix of customers across fixed
    balance buckets (<=0 / <=100 / <=1000 / >1000 dollars in cents)
    — the cohort-health view: a heavy low→zero_or_neg flow is churn
    in progress, zero→mid is activation. Buckets are FIXED
    thresholds, not quartiles: rank-based boundaries tie-break
    differently across engines, fixed cents cannot. Transitions are
    between consecutive ACTIVE periods per customer (period-end
    cumulative balance after each period with transactions). The
    registered grain is a DAY because the test corpus' event span is
    days; the production monthly cadence is period_fmt="yyyy-MM" —
    exercised on a synthetic multi-month corpus, Spark==DuckDB, in
    tests/test_bucket_migration_monthly.py (the drift-grain
    convention: the format string is the ONLY thing that changes).

    Scale: the per-period rollup shuffles once on (customer, period)
    cells; then ONE exchange per customer serves BOTH the running-
    balance window and the bucket lag (chained on the same
    partitioning, original column names kept — the scd2 one-exchange
    discipline; 3 exchanges total, plan-pinned); the matrix is 16
    cells."""
    t = _txns(spark, sf_dir).select(
        "customerid",
        F.date_format("createdat", period_fmt).alias("mon"),
        delta_cents_col().alias("dc"),
    )
    monthly = t.groupBy("customerid", "mon").agg(
        F.sum("dc").alias("net")
    )
    w = (
        Window.partitionBy("customerid")
        .orderBy("mon")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wlag = Window.partitionBy("customerid").orderBy("mon")
    bal = monthly.select(
        "customerid",
        "mon",
        F.sum("net").over(w).alias("bal_cents"),
    )
    lab = bal.select(
        "customerid",
        F.expr(BUCKET_CASE).alias("bucket"),
        F.lag(F.expr(BUCKET_CASE)).over(wlag).alias("from_bucket"),
    ).filter(F.col("from_bucket").isNotNull())
    return lab.groupBy(
        "from_bucket", F.col("bucket").alias("to_bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))


def bucket_migration_oracle(fmt: str = "%Y-%m-%d") -> str:
    """DuckDB twin, grain-parameterized exactly like the Spark side
    (fmt is strftime syntax; '%Y-%m' is the production monthly
    cadence)."""
    return f"""WITH {TXNS_CTE},
monthly AS (
  SELECT customerid, strftime(createdat, '{fmt}') AS mon,
         SUM({DELTA_CENTS_SQL}) AS net
  FROM txns GROUP BY 1, 2),
bal AS (
  SELECT customerid, mon,
         SUM(net) OVER (PARTITION BY customerid ORDER BY mon
                        ROWS UNBOUNDED PRECEDING) AS bal_cents
  FROM monthly),
lab AS (
  SELECT customerid, {BUCKET_CASE} AS bucket,
         LAG({BUCKET_CASE}) OVER (PARTITION BY customerid
                                  ORDER BY mon) AS from_bucket
  FROM bal)
SELECT from_bucket, bucket AS to_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_transitions
FROM lab WHERE from_bucket IS NOT NULL
GROUP BY 1, 2"""


BUCKET_MIGRATION_ORACLE = bucket_migration_oracle()

QUERIES["balance_volatility"] = balance_volatility
ORACLES["balance_volatility"] = BALANCE_VOLATILITY_ORACLE
QUERIES["balance_bucket_migration"] = balance_bucket_migration
ORACLES["balance_bucket_migration"] = BUCKET_MIGRATION_ORACLE


# ---------------------------------------------------------------------------
# Round-10 operators.
# ---------------------------------------------------------------------------

#: velocity screen: trailing windows (seconds) and the integer burst
#: rule 12 * n_1h >= n_24h (1-hour rate at least twice the daily
#: average rate) with a minimum daily activity floor
VEL_HOUR_S, VEL_DAY_S = 3600, 86400
VEL_RATE_NUM = 12
VEL_MIN_DAY = 6


def txn_velocity_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transaction-velocity anti-fraud screen — the range-frame
    companion to overdraft_flags: per transaction, how many
    transactions (and spent cents) the customer produced in the
    trailing hour and day, flagging bursts where the 1-hour rate is
    at least twice the daily average (integer cross-multiplication:
    12*n_1h >= n_24h, with an n_24h >= {VEL_MIN_DAY} activity floor
    so singleton customers can't trip it). Timestamps compare as
    floor-epoch-seconds INTEGERS on both engines, so RANGE frame
    membership can never disagree.

    Scale: ONE exchange per customer serves both range frames (same
    partition+order — the scd2 shared-sort discipline); emitting
    only flagged rows keeps the result proportional to incidents,
    not to the corpus."""
    return _velocity_windowed(spark, sf_dir).filter(
        (VEL_RATE_NUM * F.col("n_1h") >= F.col("n_24h"))
        & (F.col("n_24h") >= VEL_MIN_DAY)
    )


def _velocity_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNFILTERED windowed velocity base (trailing 1h/24h counts
    + spent cents per transaction) — shared by the registered screen
    (which applies the VEL_RATE_NUM burst rule) and
    velocity_rate_sweep (which applies every rule in the sweep).
    Both RANGE frames ride one per-customer exchange."""
    t = _txns(spark, sf_dir).select(
        "trans_id",
        "customerid",
        F.unix_timestamp("createdat").alias("es"),
        delta_cents_col().alias("dc"),
    )
    w1 = (
        Window.partitionBy("customerid")
        .orderBy("es")
        .rangeBetween(-VEL_HOUR_S, 0)
    )
    wd = (
        Window.partitionBy("customerid")
        .orderBy("es")
        .rangeBetween(-VEL_DAY_S, 0)
    )
    spent = F.when(F.col("dc") < 0, -F.col("dc")).otherwise(F.lit(0))
    return t.select(
        "trans_id",
        "customerid",
        F.col("es").cast("long").alias("es"),
        F.count(F.lit(1)).over(w1).cast("long").alias("n_1h"),
        F.sum(spent).over(w1).cast("long").alias("spent_1h_cents"),
        F.count(F.lit(1)).over(wd).cast("long").alias("n_24h"),
    )


VELOCITY_ORACLE = f"""WITH {TXNS_CTE},
b AS (
  SELECT trans_id, customerid,
         CAST(epoch_ms(createdat) // 1000 AS BIGINT) AS es,
         {DELTA_CENTS_SQL} AS dc
  FROM txns),
wnd AS (
  SELECT trans_id, customerid, es,
         CAST(COUNT(*) OVER w1 AS BIGINT) AS n_1h,
         CAST(SUM(CASE WHEN dc < 0 THEN -dc ELSE 0 END) OVER w1
              AS BIGINT) AS spent_1h_cents,
         CAST(COUNT(*) OVER wd AS BIGINT) AS n_24h
  FROM b
  WINDOW w1 AS (PARTITION BY customerid ORDER BY es
                RANGE BETWEEN {VEL_HOUR_S} PRECEDING AND CURRENT ROW),
         wd AS (PARTITION BY customerid ORDER BY es
                RANGE BETWEEN {VEL_DAY_S} PRECEDING AND CURRENT ROW))
SELECT trans_id, customerid, es, n_1h, spent_1h_cents, n_24h
FROM wnd
WHERE {VEL_RATE_NUM} * n_1h >= n_24h AND n_24h >= {VEL_MIN_DAY}"""


# Round 11 registration of the r10-staged velocity screen.
QUERIES["txn_velocity_flags"] = txn_velocity_flags
ORACLES["txn_velocity_flags"] = VELOCITY_ORACLE


# ---------------------------------------------------------------------------
# Round-11 operators.
# ---------------------------------------------------------------------------

#: burst-rate multipliers swept by velocity_rate_sweep — the
#: registered VEL_RATE_NUM (12: the 1-hour rate at least TWICE the
#: daily average) bracketed by the strict 6 (at least equal) and the
#: loose 24 (at least 4x). rate_num * n_1h >= n_24h loosens as
#: rate_num grows, so flag volume is provably non-decreasing.
VEL_SWEEP_RATES = (6, 12, 24)


def velocity_rate_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert-volume curve of the velocity screen's burst threshold —
    the question an anti-fraud rollout actually asks ("how many
    alerts and how much exposure does each threshold produce?"),
    answered before touching the registered rule: for every
    multiplier in {VEL_SWEEP_RATES}, the flag count, distinct flagged
    customers, and the summed trailing-hour spend of flagged rows
    (alert-weighted exposure). The windowed base does NOT depend on
    the threshold, so the per-customer RANGE frames — the only heavy
    pass — run ONCE; the sweep is an integer explode + one rollup on
    <= |rates| cells (the pack_budget_sweep posture).

    Looser multipliers can only ADD flags (for fixed n_1h/n_24h,
    rate*n_1h >= n_24h relaxes as rate grows) — monotonicity
    test-pinned alongside the two-SF oracle compare."""
    base = _velocity_windowed(spark, sf_dir).filter(
        F.col("n_24h") >= VEL_MIN_DAY
    )
    sw = base.select(
        "customerid",
        "n_1h",
        "n_24h",
        "spent_1h_cents",
        F.explode(
            F.array(*[F.lit(r) for r in VEL_SWEEP_RATES])
        ).alias("rate_num"),
    ).filter(F.col("rate_num") * F.col("n_1h") >= F.col("n_24h"))
    return sw.groupBy("rate_num").agg(
        F.count(F.lit(1)).cast("long").alias("n_flags"),
        F.count_distinct("customerid").cast("long").alias("n_customers"),
        F.sum("spent_1h_cents").cast("long").alias("flagged_spent_cents"),
    ).select(
        F.col("rate_num").cast("int").alias("rate_num"),
        "n_flags",
        "n_customers",
        "flagged_spent_cents",
    )


VELOCITY_RATE_SWEEP_ORACLE = f"""WITH {TXNS_CTE},
b AS (
  SELECT trans_id, customerid,
         CAST(epoch_ms(createdat) // 1000 AS BIGINT) AS es,
         {DELTA_CENTS_SQL} AS dc
  FROM txns),
wnd AS (
  SELECT trans_id, customerid,
         CAST(COUNT(*) OVER w1 AS BIGINT) AS n_1h,
         CAST(SUM(CASE WHEN dc < 0 THEN -dc ELSE 0 END) OVER w1
              AS BIGINT) AS spent_1h_cents,
         CAST(COUNT(*) OVER wd AS BIGINT) AS n_24h
  FROM b
  WINDOW w1 AS (PARTITION BY customerid ORDER BY es
                RANGE BETWEEN {VEL_HOUR_S} PRECEDING AND CURRENT ROW),
         wd AS (PARTITION BY customerid ORDER BY es
                RANGE BETWEEN {VEL_DAY_S} PRECEDING AND CURRENT ROW)),
sp AS (SELECT unnest({list(VEL_SWEEP_RATES)}) AS rate_num)
SELECT CAST(sp.rate_num AS INT) AS rate_num,
       CAST(COUNT(*) AS BIGINT) AS n_flags,
       CAST(COUNT(DISTINCT customerid) AS BIGINT) AS n_customers,
       CAST(SUM(spent_1h_cents) AS BIGINT) AS flagged_spent_cents
FROM wnd, sp
WHERE sp.rate_num * n_1h >= n_24h AND n_24h >= {VEL_MIN_DAY}
GROUP BY sp.rate_num"""

QUERIES["velocity_rate_sweep"] = velocity_rate_sweep
ORACLES["velocity_rate_sweep"] = VELOCITY_RATE_SWEEP_ORACLE
