"""Round-7 operators, now registered: Spark == DuckDB at two SFs
plus per-operator invariants."""

import os

import duckdb


def _duck(d, sql, tables=("events",)):
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{d}/{t}.parquet')"
        )
    rows = con.execute(sql).fetchall()
    con.close()
    return rows


def _dirs(sf_dir):
    return [
        d
        for d in (sf_dir, sf_dir.replace("sf0.001", "sf0.01"))
        if os.path.isdir(d)
    ]


def test_session_depth_histogram_vs_duckdb(spark, sf_dir):
    from thrivefinancedatapipeline_spark.plans.events_queries import (
        SESSION_DEPTH_ORACLE,
        events_session_depth_histogram,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r)
            for r in events_session_depth_histogram(spark, d).collect()
        )
        want = sorted(tuple(r) for r in _duck(d, SESSION_DEPTH_ORACLE))
        assert got == want, f"session depth mismatch at {d}"
        # buckets partition the session set; depth bounds respect edges
        for b, n_sessions, n_events, mn, mx in got:
            assert n_sessions > 0 and mn <= mx
            assert n_events >= n_sessions * mn


def test_customer_inactivity_vs_duckdb(spark, sf_dir):
    from thrivefinancedatapipeline_spark.plans.finance_queries import (
        INACTIVITY_ORACLE,
        customer_inactivity_buckets,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r)
            for r in customer_inactivity_buckets(spark, d).collect()
        )
        want = sorted(tuple(r) for r in _duck(d, INACTIVITY_ORACLE))
        assert got == want, f"inactivity mismatch at {d}"
        for b, n, mn, mx in got:
            assert n > 0 and 0 <= mn <= mx


def test_events_pareto_share_vs_duckdb(spark, sf_dir):
    from thrivefinancedatapipeline_spark.operators.sketches import (
        PARETO_ORACLE,
        events_pareto_share,
    )

    for d in _dirs(sf_dir):
        rows = events_pareto_share(spark, d).collect()
        assert len(rows) == 1
        r = rows[0]
        want = _duck(d, PARETO_ORACLE)
        assert (
            r.n_users, r.top_users, r.top_rows, r.total_rows,
            r.share_ppm,
        ) == tuple(int(x) for x in want[0]), f"pareto mismatch at {d}"
        # top-1% can never hold less than its proportional share
        assert r.share_ppm * r.n_users >= 1_000_000 * r.top_users
        assert r.top_rows <= r.total_rows


def test_cluster_size_histogram_vs_duckdb(spark, sf_dir):
    from thrivefinancedatapipeline_spark.operators.dedup import (
        CLUSTER_HIST_ORACLE,
        dedup_cluster_size_histogram,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r)
            for r in dedup_cluster_size_histogram(spark, d).collect()
        )
        want = sorted(
            tuple(r) for r in _duck(d, CLUSTER_HIST_ORACLE, ("documents",))
        )
        assert got == want, f"cluster histogram mismatch at {d}"
        # every document is in exactly one cluster: totals partition
        n_docs = sum(r[2] for r in got)
        assert n_docs == spark.read.parquet(
            f"{d}/documents.parquet"
        ).count()
