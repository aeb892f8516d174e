"""Round-8 operators, now registered: Spark == DuckDB at two SFs
plus per-operator invariants."""

import os

import duckdb


def _duck(d, sql, tables=("documents",)):
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


def test_time_weighted_balance_vs_duckdb(spark, sf_dir):
    from thrivefinancedatapipeline_spark.plans.finance_queries import (
        TWAB_ORACLE,
        time_weighted_balance,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r) for r in time_weighted_balance(spark, d).collect()
        )
        want = sorted(
            tuple(r) for r in _duck(d, TWAB_ORACLE, tables=("events",))
        )
        assert got == want, f"TWAB mismatch at {d}"
        for _cust, n_txns, window_seconds, _twab in got:
            assert n_txns >= 1 and window_seconds >= 1
        # TWAB is a convex combination of held balances: it can never
        # exceed the max cumulative earned of any customer (loose
        # sanity that catches unit errors: cents stay cents)
        assert max(abs(r[3]) for r in got) < 10_000_000


def test_source_jaccard_kmv_vs_duckdb_and_bounds(spark, sf_dir):
    from thrivefinancedatapipeline_spark.operators.sketches import (
        SOURCE_JACCARD_KMV_ORACLE,
        SRC_KMV_K,
        source_jaccard_kmv,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r) for r in source_jaccard_kmv(spark, d).collect()
        )
        want = sorted(
            tuple(r) for r in _duck(d, SOURCE_JACCARD_KMV_ORACLE)
        )
        assert got == want, f"KMV jaccard mismatch at {d}"
        n_sources = _duck(
            d, "SELECT COUNT(DISTINCT source) FROM documents"
        )[0][0]
        assert len(got) == n_sources * (n_sources - 1) // 2
        for _a, _b, k_used, n_both, jac in got:
            assert 1 <= k_used <= SRC_KMV_K
            assert 0 <= n_both <= k_used
            assert 0 <= jac <= 1_000_000
            assert jac == n_both * 1_000_000 // k_used


def test_split_balance_audit_vs_duckdb(spark, sf_dir):
    from thrivefinancedatapipeline_spark.operators.sampling import (
        SPLIT_BALANCE_ORACLE,
        split_balance_audit,
    )

    for d in _dirs(sf_dir):
        got = {
            r.split: r for r in split_balance_audit(spark, d).collect()
        }
        want = {r[0]: r for r in _duck(d, SPLIT_BALANCE_ORACLE)}
        assert {
            k: tuple(v) for k, v in got.items()
        } == {k: tuple(v) for k, v in want.items()}, d
        assert set(got) == {"train", "val", "test"}
        # TV is a [0, 1] metric in ppm; the big split hugs the corpus
        for r in got.values():
            assert 0 <= r.tv_ppm <= 1_000_000
        assert got["train"].tv_ppm == min(r.tv_ppm for r in got.values())


def test_packing_efficiency_vs_duckdb(spark, sf_dir):
    from thrivefinancedatapipeline_spark.operators.packing import (
        PACK_BUDGET,
        PACKING_EFFICIENCY_ORACLE,
        packing_efficiency,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r) for r in packing_efficiency(spark, d).collect()
        )
        want = sorted(
            tuple(r) for r in _duck(d, PACKING_EFFICIENCY_ORACLE)
        )
        assert got == want, f"packing efficiency mismatch at {d}"
        for _lang, n_docs, total, n_packs, n_split, fill in got:
            assert n_docs > 0 and n_packs >= 1
            assert total <= n_packs * PACK_BUDGET  # capacity bound
            assert 0 < fill <= 1_000_000
            # streaming concat packing: at most one crosser per pack
            # boundary
            assert n_split <= n_packs


def test_ivfpq_distortion_audit_vs_duckdb(spark, sf_dir):
    from thrivefinancedatapipeline_spark.operators.similarity import (
        KM_K,
        _ivfpq_distortion_oracle,
        ivfpq_distortion_audit,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r) for r in ivfpq_distortion_audit(spark, d).collect()
        )
        want = sorted(
            tuple(r)
            for r in _duck(
                d, _ivfpq_distortion_oracle(), tables=("embeddings",)
            )
        )
        assert got == want, f"distortion mismatch at {d}"
        assert 1 <= len(got) <= KM_K
        for _cell, n_vecs, mean_sq, ppm in got:
            assert n_vecs > 0 and mean_sq >= 0
            # codes can only REMOVE residual energy: 0 <= ppm <= 1e6
            assert 0 <= ppm <= 1_000_000


def test_events_stickiness_vs_duckdb(spark, sf_dir):
    from thrivefinancedatapipeline_spark.plans.events_queries import (
        STICKINESS_ORACLE,
        events_stickiness,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r) for r in events_stickiness(spark, d).collect()
        )
        want = sorted(
            tuple(r)
            for r in _duck(d, STICKINESS_ORACLE, tables=("events",))
        )
        assert got == want, f"stickiness mismatch at {d}"
        for _day, dau, wau, ppm in got:
            # DAU is a subset of the trailing-window WAU by definition
            assert 1 <= dau <= wau
            assert 0 < ppm <= 1_000_000
            assert ppm == dau * 1_000_000 // wau


def test_r8_six_promoted_to_registered_catalog():
    """Round 8 registered the six r7-staged prebuilds: they must all
    be in the module QUERIES/ORACLES dicts (aggregated by the
    registry)."""
    from thrivefinancedatapipeline_spark.registry import (
        all_oracles,
        all_queries,
    )

    six = {
        "events_stickiness",
        "time_weighted_balance",
        "source_jaccard_kmv",
        "split_balance_audit",
        "packing_efficiency",
        "ivfpq_distortion_audit",
    }
    qs, os_ = all_queries(), all_oracles()
    assert six <= set(qs) and six <= set(os_)
