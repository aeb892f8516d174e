"""Round-9 operator, now registered: Spark == DuckDB at two SFs
plus per-operator invariants."""

import os

import duckdb


def _duck(d, sql, tables=("documents", "events")):
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


def test_source_jaccard_drift_vs_duckdb_and_bounds(spark, sf_dir):
    from thrivefinancedatapipeline_spark.operators.sketches import (
        SOURCE_JACCARD_DRIFT_ORACLE,
        SRC_DRIFT_K,
        source_jaccard_drift,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r) for r in source_jaccard_drift(spark, d).collect()
        )
        want = sorted(
            tuple(r) for r in _duck(d, SOURCE_JACCARD_DRIFT_ORACLE)
        )
        assert got == want, f"source_jaccard_drift mismatch at {d}"
        # non-vacuous at every SF: the corpus ingest span covers >= 2
        # epoch days for every source, so every source contributes at
        # least one consecutive-period comparison
        assert len(got) >= 1
        srcs = {r[0] for r in got}
        for src, day, prev, k_used, n_both, ppm in got:
            assert prev < day
            assert 1 <= k_used <= SRC_DRIFT_K
            assert 0 <= n_both <= k_used
            # ratio invariant catches DEFINITION bugs, not just math
            assert 0 <= ppm <= 1_000_000
            assert ppm == n_both * 1_000_000 // k_used
        # consecutive-period pairing: per (source, day) at most one row
        assert len(got) == len({(r[0], r[1]) for r in got})
        assert len(srcs) >= 1


def test_source_dup_matrix_vs_duckdb_and_bounds(spark, sf_dir):
    from thrivefinancedatapipeline_spark.operators.dedup import (
        SOURCE_DUP_MATRIX_ORACLE,
        source_dup_matrix,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r) for r in source_dup_matrix(spark, d).collect()
        )
        want = sorted(
            tuple(r) for r in _duck(d, SOURCE_DUP_MATRIX_ORACLE,
                                    tables=("documents",))
        )
        assert got == want, f"source_dup_matrix mismatch at {d}"
        assert len(got) >= 1
        for sa, sb, n_dup, na, nb, n_possible, ppm in got:
            assert sa <= sb  # unordered pair canonicalized
            assert n_dup >= 1 and na >= 1 and nb >= 1
            if sa == sb:
                assert n_possible == na * (na - 1) // 2
            else:
                assert n_possible == na * nb
            # definition-bug guard: rate can never exceed 1
            assert 0 < ppm <= 1_000_000
            assert ppm == n_dup * 1_000_000 // n_possible
        # each unordered pair appears at most once
        assert len(got) == len({(r[0], r[1]) for r in got})


def test_split_leakage_audit_vs_duckdb_and_bounds(spark, sf_dir):
    from thrivefinancedatapipeline_spark.operators.sampling import (
        _split_leakage_oracle,
        split_leakage_audit,
    )

    sql = _split_leakage_oracle()
    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r) for r in split_leakage_audit(spark, d).collect()
        )
        want = sorted(
            tuple(r) for r in _duck(d, sql, tables=("documents",))
        )
        assert got == want, f"split_leakage_audit mismatch at {d}"
        assert len(got) >= 1
        names = {"train", "val", "test"}
        for sa, sb, n_dup, na, nb, n_possible, ppm in got:
            assert sa in names and sb in names and sa <= sb
            assert n_dup >= 1 and na >= 1 and nb >= 1
            if sa == sb:
                assert n_possible == na * (na - 1) // 2
            else:
                assert n_possible == na * nb
            assert 0 < ppm <= 1_000_000
            assert ppm == n_dup * 1_000_000 // n_possible
        assert len(got) == len({(r[0], r[1]) for r in got})
        # the audit's split sizes agree with the registered
        # split-count audit (same split_column, same corpus)
        from thrivefinancedatapipeline_spark.operators.sampling import (
            q_dataset_split_counts,
        )

        sizes = {}
        for r in q_dataset_split_counts(spark, d).collect():
            sizes[r.split] = sizes.get(r.split, 0) + r.n_docs
        for sa, sb, _n, na, nb, _p, _ppm in got:
            assert sizes[sa] == na and sizes[sb] == nb


def test_balance_drawdown_vs_duckdb_and_bounds(spark, sf_dir):
    from thrivefinancedatapipeline_spark.plans.finance_queries import (
        DRAWDOWN_ORACLE,
        balance_drawdown,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r) for r in balance_drawdown(spark, d).collect()
        )
        want = sorted(
            tuple(r) for r in _duck(d, DRAWDOWN_ORACLE, tables=("events",))
        )
        assert got == want, f"balance_drawdown mismatch at {d}"
        assert len(got) >= 10
        for _cust, n_txns, final, peak, dd, ppm in got:
            assert n_txns >= 1
            # peak is a prefix max over balances including the last
            assert peak >= final
            # the trough after the peak is at most the final balance
            assert dd >= peak - final >= 0
            if peak > 0:
                assert 0 <= ppm <= dd * 1_000_000 // peak + 1
                assert ppm == dd * 1_000_000 // peak
            else:
                assert ppm == 0
        # the corpus contains real burn-and-churn customers
        assert any(r[4] > 0 for r in got)


def test_balance_drawdown_single_exchange_plan(spark, sf_dir):
    """The two window phases (running balance, running peak) chain on
    the same (customerid) partitioning with original column names —
    ONE exchange+sort serves both (the scd2 one-pass discipline)."""
    from thrivefinancedatapipeline_spark.plans.finance_queries import (
        balance_drawdown,
    )

    plan = (
        balance_drawdown(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1


def test_doc_length_outliers_vs_duckdb_and_python_replay(spark, sf_dir):
    from thrivefinancedatapipeline_spark.operators.textops import (
        DOC_LENGTH_OUTLIERS_ORACLE,
        LEN_MAD_K,
        doc_length_outliers,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r) for r in doc_length_outliers(spark, d).collect()
        )
        want = sorted(
            tuple(r)
            for r in _duck(d, DOC_LENGTH_OUTLIERS_ORACLE,
                           tables=("documents",))
        )
        assert got == want, f"doc_length_outliers mismatch at {d}"
        # exact Python replay: lower median at rank (n+1) div 2, MAD
        # the same rank over |len - med|, the strongest oracle for an
        # exact-element definition
        import duckdb as _dd

        con = _dd.connect()
        rows = con.execute(
            f"SELECT lang, n_chars FROM "
            f"read_parquet('{d}/documents.parquet')"
        ).fetchall()
        con.close()
        by_lang = {}
        for lang, n in rows:
            by_lang.setdefault(lang, []).append(n)
        for lang, n_docs, med, mad, n_out, ppm in got:
            ls = sorted(by_lang[lang])
            assert n_docs == len(ls)
            pymed = ls[(len(ls) + 1) // 2 - 1]
            assert med == pymed
            dv = sorted(abs(x - pymed) for x in ls)
            pymad = dv[(len(dv) + 1) // 2 - 1]
            assert mad == pymad
            assert n_out == sum(
                1 for x in ls if abs(x - pymed) > LEN_MAD_K * pymad
            )
            assert 0 <= ppm <= 1_000_000
            assert ppm == n_out * 1_000_000 // n_docs


def test_balance_concentration_vs_duckdb_and_bounds(spark, sf_dir):
    from thrivefinancedatapipeline_spark.plans.finance_queries import (
        CONCENTRATION_ORACLE,
        balance_concentration_by_segment,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r)
            for r in balance_concentration_by_segment(spark, d).collect()
        )
        want = sorted(
            tuple(r)
            for r in _duck(d, CONCENTRATION_ORACLE,
                           tables=("events", "customer"))
        )
        assert got == want, f"balance_concentration mismatch at {d}"
        assert len(got) >= 2
        for _seg, n, total, top_ppm, hhi in got:
            assert n >= 1 and total > 0
            # equal-shares lower bound and monopoly upper bound
            assert 1_000_000_000 // n <= hhi <= 1_000_000_000
            assert 1_000_000 // n <= top_ppm <= 1_000_000
            # top-holder share squared can never exceed the HHI
            assert top_ppm * top_ppm <= hhi * 1_000_000 + 1_000_000


def test_r9_six_promoted_to_registered_catalog():
    """Round 9 registered the six r8-staged prebuilds: they must all
    be in the module QUERIES/ORACLES dicts (aggregated by the
    registry)."""
    from thrivefinancedatapipeline_spark.registry import (
        all_oracles,
        all_queries,
    )

    six = {
        "source_jaccard_drift",
        "source_dup_matrix",
        "split_leakage_audit",
        "balance_drawdown",
        "doc_length_outliers",
        "balance_concentration_by_segment",
    }
    qs, os_ = all_queries(), all_oracles()
    assert six <= set(qs) and six <= set(os_)


def test_staged_prebuild_plan_shapes(spark, sf_dir):
    """Scale-posture guards for the staged ops: no SortMergeJoin
    anywhere (joins are broadcast or key-partitioned aggregation),
    and dimension/rollup joins broadcast. Counts are measured from
    the intended plans; a regression to a shuffled join flips SMJ
    positive long before it hurts at sf0.01."""
    from thrivefinancedatapipeline_spark.operators.sketches import (
        source_jaccard_drift,
    )
    from thrivefinancedatapipeline_spark.operators.textops import (
        doc_length_outliers,
    )
    from thrivefinancedatapipeline_spark.plans.finance_queries import (
        balance_concentration_by_segment,
    )

    for name, df, min_bhj in [
        (
            "concentration",
            balance_concentration_by_segment(spark, sf_dir),
            1,  # the customer-dimension join
        ),
        (
            "length_outliers",
            doc_length_outliers(spark, sf_dir),
            2,  # med + mad broadcast back to cells
        ),
        ("jaccard_drift", source_jaccard_drift(spark, sf_dir), 0),
    ]:
        plan = (
            df._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("SortMergeJoin") == 0, name
        assert plan.count("BroadcastHashJoin") >= min_bhj, name
