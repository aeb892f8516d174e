"""Analytics report builder (reference build_analytics parity).

Produces the same report shape as reference
src/thrive_cash_processing_dag.py:518 (summary metrics + top-10
customers by balance) from the distributed balance tables. The only
driver-side data are the report scalars and the 10 top rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_report(
    txns: DataFrame, balances: DataFrame, top_n: int = 10
) -> dict:
    """Summary metrics and the top `top_n` customers by balance.

    `txns` needs only `tctype` and `amount`: the transactions, or the
    fifo_match output, which holds the same rows. `balances` is
    current_balances output.
    """
    totals = txns.agg(
        F.round(F.sum(F.when(F.col("tctype") == "earned", F.col("amount")).otherwise(0.0)), 2).alias("total_earned"),
        F.round(F.sum(F.when(F.col("tctype") == "spent", F.abs("amount")).otherwise(0.0)), 2).alias("total_spent"),
        F.round(F.sum(F.when(F.col("tctype") == "expired", F.abs("amount")).otherwise(0.0)), 2).alias("total_expired"),
        F.count(F.when(F.col("tctype") == "earned", 1)).alias("earned_transaction_count"),
        F.count(F.when(F.col("tctype") == "spent", 1)).alias("spent_transaction_count"),
        F.count(F.when(F.col("tctype") == "expired", 1)).alias("expired_transaction_count"),
    ).collect()[0]

    balance_stats = balances.agg(
        F.round(F.sum("current_balance"), 2).alias("total_current_balance"),
        F.count("*").alias("total_customers"),
        F.count(F.when(F.col("current_balance") > 0, 1)).alias("customers_with_positive_balance"),
    ).collect()[0]

    top = (
        balances.orderBy(F.col("current_balance").desc(), F.col("customer_id"))
        .limit(top_n)
        .collect()
    )

    return {
        "summary_metrics": {
            **totals.asDict(),
            **balance_stats.asDict(),
        },
        "top_customers_by_balance": [r.asDict() for r in top],
    }
