"""FIFO matching scenario suite.

Ports the reference's test coverage (reference test/test_fifo_matching.py)
to the Spark implementation: 1:1 matching, no splitting, FIFO order,
per-customer independence, no-earned and excess-earned edge cases.
"""

from datetime import datetime

import pytest
from pyspark.sql import Row

from thrivefinancedatapipeline_spark.operators.fifo import (
    fifo_match,
    validate_results,
)

SCHEMA = "trans_id string, tctype string, createdat timestamp, customerid string, amount double"


def txn(tid, tctype, ts, cust, amount):
    return Row(
        trans_id=tid,
        tctype=tctype,
        createdat=datetime.fromisoformat(ts),
        customerid=cust,
        amount=float(amount),
    )


def run(spark, rows):
    df = spark.createDataFrame(rows, schema=SCHEMA)
    out = fifo_match(df).collect()
    return {r.trans_id: r for r in out}, out


def test_simple_one_to_one(spark):
    """Ref test 1: one earned, one spent → earned points at spent."""
    got, out = run(spark, [
        txn("E001", "earned", "2024-01-01", "C1", 100.0),
        txn("S001", "spent", "2024-01-05", "C1", -100.0),
    ])
    assert len(out) == 2
    assert got["E001"].redeemid == "S001"
    assert got["S001"].redeemid is None


def test_no_splitting(spark):
    """Ref test 2: amounts don't matter — earned $100 vs spent $60
    still matches 1:1 and the earned amount is untouched."""
    got, _ = run(spark, [
        txn("E001", "earned", "2024-01-01", "C1", 100.0),
        txn("S001", "spent", "2024-01-05", "C1", -60.0),
    ])
    assert got["E001"].redeemid == "S001"
    assert got["E001"].amount == 100.0


def test_fifo_order_oldest_first(spark):
    """Ref test 3: the OLDEST earned is consumed first."""
    got, _ = run(spark, [
        txn("E001", "earned", "2024-01-01", "C1", 50.0),
        txn("E002", "earned", "2024-01-02", "C1", 30.0),
        txn("E003", "earned", "2024-01-03", "C1", 20.0),
        txn("S001", "spent", "2024-01-10", "C1", -50.0),
    ])
    assert got["E001"].redeemid == "S001"
    assert got["E002"].redeemid is None
    assert got["E003"].redeemid is None


def test_multiple_redeemers_in_order(spark):
    """Redeemers consume earned in chronological rank order."""
    got, _ = run(spark, [
        txn("E001", "earned", "2024-01-01", "C1", 10.0),
        txn("E002", "earned", "2024-01-02", "C1", 10.0),
        txn("S001", "spent", "2024-01-03", "C1", -10.0),
        txn("X001", "expired", "2024-01-04", "C1", -10.0),
    ])
    assert got["E001"].redeemid == "S001"
    assert got["E002"].redeemid == "X001"


def test_no_earned_available(spark):
    """Spent with no earned → nothing to match, spent stays NULL."""
    got, out = run(spark, [
        txn("S001", "spent", "2024-01-05", "C1", -40.0),
    ])
    assert len(out) == 1
    assert got["S001"].redeemid is None


def test_per_customer_independence(spark):
    """Matching never crosses customers."""
    got, _ = run(spark, [
        txn("E1", "earned", "2024-01-01", "A", 10.0),
        txn("E2", "earned", "2024-01-01", "B", 10.0),
        txn("S1", "spent", "2024-01-02", "B", -10.0),
    ])
    assert got["E1"].redeemid is None
    assert got["E2"].redeemid == "S1"


def test_availability_not_time_gated(spark):
    """Parity quirk: the reference pops from the full earned list, so an
    earned row dated AFTER the redeemer can still be consumed
    (reference src/fifo_matching.py:82 — available list is all earned)."""
    got, _ = run(spark, [
        txn("S001", "spent", "2024-01-01", "C1", -10.0),
        txn("E001", "earned", "2024-02-01", "C1", 10.0),
    ])
    assert got["E001"].redeemid == "S001"


def test_redeemer_used_once(spark):
    """Each redeemer consumes exactly one earned (1:1)."""
    got, _ = run(spark, [
        txn("E001", "earned", "2024-01-01", "C1", 5.0),
        txn("E002", "earned", "2024-01-02", "C1", 5.0),
        txn("S001", "spent", "2024-01-03", "C1", -10.0),
    ])
    matched = [r for r in got.values() if r.redeemid is not None]
    assert len(matched) == 1 and matched[0].trans_id == "E001"


def test_validate_results_clean(spark):
    df = spark.createDataFrame(
        [
            txn("E001", "earned", "2024-01-01", "C1", 10.0),
            txn("S001", "spent", "2024-01-02", "C1", -10.0),
        ],
        schema=SCHEMA,
    )
    violations = validate_results(fifo_match(df)).collect()
    assert violations == []


def test_validate_results_flags_balance_mismatch(spark):
    """Unbalanced books (spent exceeds earned) show up as a
    balance_mismatch violation, mirroring reference validation 3."""
    df = spark.createDataFrame(
        [
            txn("E001", "earned", "2024-01-01", "C1", 10.0),
            txn("S001", "spent", "2024-01-02", "C1", -25.0),
        ],
        schema=SCHEMA,
    )
    violations = validate_results(fifo_match(df)).collect()
    assert {v.check for v in violations} == {"balance_mismatch"}


@pytest.mark.parametrize("n_earned,n_redeem", [(5, 3), (3, 5), (4, 4)])
def test_match_counts(spark, n_earned, n_redeem):
    rows = [
        txn(f"E{i}", "earned", f"2024-01-{i+1:02d}", "C1", 10.0)
        for i in range(n_earned)
    ] + [
        txn(f"S{i}", "spent", f"2024-02-{i+1:02d}", "C1", -10.0)
        for i in range(n_redeem)
    ]
    got, out = run(spark, rows)
    matched = [r for r in out if r.redeemid is not None]
    assert len(matched) == min(n_earned, n_redeem)
    assert len(out) == n_earned + n_redeem


def test_formulations_agree(spark, sf_dir):
    """Array formulation and rank-join formulation must be identical —
    on the real corpus AND on a string-keyed scenario with timestamp
    ties."""
    from thrivefinancedatapipeline_spark.datamodel import load_table
    from thrivefinancedatapipeline_spark.operators.fifo import (
        fifo_match_rank_join,
    )
    from thrivefinancedatapipeline_spark.sources.ingest import (
        transactions_from_events,
    )

    txns = transactions_from_events(load_table(spark, sf_dir, "events"))
    a = set(map(tuple, fifo_match(txns).collect()))
    b = set(map(tuple, fifo_match_rank_join(txns).collect()))
    assert a == b

    rows = [
        txn("E002", "earned", "2024-01-01", "C1", 10.0),
        txn("E001", "earned", "2024-01-01", "C1", 10.0),  # tie: id order
        txn("S001", "spent", "2024-01-02", "C1", -10.0),
        txn("S002", "expired", "2024-01-02", "C1", -10.0),
        txn("E003", "earned", "2024-01-01", "C2", 5.0),
        txn("S003", "spent", "2024-01-03", "C3", -5.0),
    ]
    df = spark.createDataFrame(rows, schema=SCHEMA)
    a = set(map(tuple, fifo_match(df).collect()))
    b = set(map(tuple, fifo_match_rank_join(df).collect()))
    assert a == b
