"""Round-10 operators, now registered: Spark == DuckDB at two SFs
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


def test_source_token_cost_curve_vs_duckdb_and_bounds(spark, sf_dir):
    from thrivefinancedatapipeline_spark.operators.packing import (
        PACK_BUDGET,
        SOURCE_TOKEN_COST_CURVE_ORACLE,
        TOKEN_COST_GRID,
        source_token_cost_curve,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r)
            for r in source_token_cost_curve(spark, d).collect()
        )
        want = sorted(
            tuple(r)
            for r in _duck(d, SOURCE_TOKEN_COST_CURVE_ORACLE)
        )
        assert got == want, f"source_token_cost_curve mismatch at {d}"
        srcs = {r[0] for r in got}
        # full grid per source, no dropped cells
        assert len(got) == len(srcs) * len(TOKEN_COST_GRID)
        for (src, win, stride, n_docs, raw, nch, ctoks, packs,
             blowup, fill) in got:
            assert (win, stride) in TOKEN_COST_GRID
            assert n_docs >= 1 and raw >= n_docs  # >= 1 token per doc
            assert nch >= n_docs                  # >= 1 chunk per doc
            assert ctoks >= raw                   # overlap only adds
            assert packs == (ctoks + PACK_BUDGET - 1) // PACK_BUDGET
            # definition invariants (the fill<=1e6 rule that caught
            # packing_efficiency's undercounted tail)
            assert 0 < fill <= 1_000_000
            assert blowup >= 1_000_000
            assert blowup == ctoks * 1_000_000 // raw
            if win == stride:
                # no overlap => chunking is a pure partition of the
                # token stream
                assert ctoks == raw and blowup == 1_000_000


def test_token_cost_curve_matches_real_chunker_at_production_point(
    spark, sf_dir
):
    """The closed-form cell arithmetic equals the materializing
    chunker at the production (CHUNK_TOKENS, CHUNK_STRIDE) point:
    per source, n_chunks and chunk_tokens match q_corpus_chunk
    exactly — the curve prices what the pipeline actually ships."""
    from pyspark.sql import functions as F

    from thrivefinancedatapipeline_spark.datamodel import load_table
    from thrivefinancedatapipeline_spark.operators.packing import (
        source_token_cost_curve,
    )
    from thrivefinancedatapipeline_spark.operators.textops import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        q_corpus_chunk,
    )

    d = sf_dir
    curve = {
        r["source"]: (r["n_chunks"], r["chunk_tokens"])
        for r in source_token_cost_curve(spark, d).collect()
        if r["win_tokens"] == CHUNK_TOKENS
        and r["stride_tokens"] == CHUNK_STRIDE
    }
    src = load_table(spark, d, "documents").select("doc_id", "source")
    real = {
        r["source"]: (r["n"], r["t"])
        for r in q_corpus_chunk(spark, d)
        .join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_tokens").alias("t"),
        )
        .collect()
    }
    assert curve == real


def test_near_dup_severity_histogram_vs_duckdb_and_bounds(
    spark, sf_dir
):
    from thrivefinancedatapipeline_spark.operators.dedup import (
        NEAR_DUP_SEVERITY_ORACLE,
        SEVERITY_BUCKET_PPM,
        near_dup_severity_histogram,
        q_dedup_minhash_lsh,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r)
            for r in near_dup_severity_histogram(spark, d).collect()
        )
        want = sorted(
            tuple(r) for r in _duck(d, NEAR_DUP_SEVERITY_ORACLE)
        )
        assert got == want, f"severity histogram mismatch at {d}"
        assert len(got) >= 1
        for lo, n in got:
            # tau = 0.8 floor; 1e6 is the exact-duplicate bucket
            assert 800_000 <= lo <= 1_000_000
            assert lo % SEVERITY_BUCKET_PPM == 0
            assert n >= 1
        # conservation: every verified pair lands in exactly one cell
        assert sum(n for _, n in got) == q_dedup_minhash_lsh(
            spark, d
        ).count()


def test_source_token_yield_vs_duckdb_and_bounds(spark, sf_dir):
    from thrivefinancedatapipeline_spark.operators.dedup import (
        SOURCE_TOKEN_YIELD_ORACLE,
        source_token_yield,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r) for r in source_token_yield(spark, d).collect()
        )
        want = sorted(
            tuple(r) for r in _duck(d, SOURCE_TOKEN_YIELD_ORACLE)
        )
        assert got == want, f"source_token_yield mismatch at {d}"
        assert len(got) >= 2
        for src, n_docs, raw, ex, near, ex_ppm, near_ppm in got:
            # a near survivor (cluster min) is always an exact
            # survivor (content-hash min): identical texts share a
            # simhash, so exact-dup groups are cluster subsets
            assert 0 <= near <= ex <= raw
            assert n_docs >= 1 and raw >= n_docs
            assert ex_ppm == ex * 1_000_000 // raw
            assert near_ppm == near * 1_000_000 // raw


def test_quality_split_drift_vs_duckdb_and_bounds(spark, sf_dir):
    from thrivefinancedatapipeline_spark.operators.sampling import (
        _quality_split_drift_oracle,
        quality_split_drift,
    )

    oracle = _quality_split_drift_oracle()
    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r) for r in quality_split_drift(spark, d).collect()
        )
        want = sorted(tuple(r) for r in _duck(d, oracle))
        assert got == want, f"quality_split_drift mismatch at {d}"
        splits = {r[0] for r in got}
        assert splits == {"train", "val", "test"}
        by_split = {}
        for split, bucket, n, ppm in got:
            assert bucket in {"low", "medium", "high"}
            assert n >= 1 and 0 < ppm <= 1_000_000
            by_split.setdefault(split, []).append(ppm)
        for split, ppms in by_split.items():
            # floor rounding loses < 1 ppm per bucket
            assert 1_000_000 - len(ppms) < sum(ppms) <= 1_000_000


def test_balance_volatility_vs_duckdb_and_cross_op(spark, sf_dir):
    from thrivefinancedatapipeline_spark.plans.finance_queries import (
        BALANCE_VOLATILITY_ORACLE,
        balance_drawdown,
        balance_volatility,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r) for r in balance_volatility(spark, d).collect()
        )
        want = sorted(
            tuple(r)
            for r in _duck(d, BALANCE_VOLATILITY_ORACLE, ("events",))
        )
        assert got == want, f"balance_volatility mismatch at {d}"
        for _cid, n_days, _net, var in got:
            assert n_days >= 1
            assert var >= 0  # n*Σx² − (Σx)² is non-negative
        # cross-operator conservation: per-customer net flow equals
        # drawdown's final balance (same delta_cents fold)
        net = {r[0]: r[2] for r in got}
        final = {
            r["customer_id"]: r["final_cents"]
            for r in balance_drawdown(spark, d).collect()
        }
        assert net == final


def test_balance_bucket_migration_vs_duckdb_and_bounds(
    spark, sf_dir
):
    from thrivefinancedatapipeline_spark.plans.finance_queries import (
        BUCKET_MIGRATION_ORACLE,
        balance_bucket_migration,
    )

    buckets = {"zero_or_neg", "low", "mid", "high"}
    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r)
            for r in balance_bucket_migration(spark, d).collect()
        )
        want = sorted(
            tuple(r)
            for r in _duck(d, BUCKET_MIGRATION_ORACLE, ("events",))
        )
        assert got == want, f"bucket_migration mismatch at {d}"
        assert len(got) >= 2  # non-vacuous at every SF (day grain)
        for frm, to, n in got:
            assert frm in buckets and to in buckets and n >= 1


def test_staged_r10_plan_shapes(spark, sf_dir):
    """Scale-posture guards: no SortMergeJoin anywhere; the
    migration's two per-customer windows share ONE exchange (3
    exchanges total: period cells, customer windows, matrix cells) —
    a regression to a stacked-window re-shuffle flips the count."""
    from thrivefinancedatapipeline_spark.operators.packing import (
        source_token_cost_curve,
    )
    from thrivefinancedatapipeline_spark.operators.sampling import (
        quality_split_drift,
    )
    from thrivefinancedatapipeline_spark.plans.finance_queries import (
        balance_bucket_migration,
        balance_volatility,
    )

    for name, df, max_exch in [
        ("token_cost_curve", source_token_cost_curve(spark, sf_dir), 2),
        ("quality_split_drift", quality_split_drift(spark, sf_dir), 2),
        ("balance_volatility", balance_volatility(spark, sf_dir), 2),
        ("bucket_migration", balance_bucket_migration(spark, sf_dir), 3),
    ]:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("SortMergeJoin") == 0, name
        assert plan.count("Exchange") <= max_exch, (
            name,
            plan.count("Exchange"),
        )


def test_chunk_near_dup_rate_vs_duckdb_and_bounds(spark, sf_dir):
    from thrivefinancedatapipeline_spark.operators.textops import (
        CHUNK_NEAR_DUP_ORACLE,
        chunk_near_dup_rate,
        q_chunk_dedup,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r) for r in chunk_near_dup_rate(spark, d).collect()
        )
        want = sorted(
            tuple(r) for r in _duck(d, CHUNK_NEAR_DUP_ORACLE)
        )
        assert got == want, f"chunk_near_dup_rate mismatch at {d}"
        assert len(got) >= 2
        for _lang, n_chunks, n_near, ppm in got:
            assert 0 <= n_near <= n_chunks
            assert ppm == n_near * 1_000_000 // n_chunks
        # conservation: denominators cover every surviving chunk
        assert sum(r[1] for r in got) == q_chunk_dedup(
            spark, d
        ).count()


def test_knn_ivfpq_filtered_vs_duckdb_and_predicate(spark, sf_dir):
    from thrivefinancedatapipeline_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
        _ivfpq_filtered_oracle,
        ivfpq_knn_filtered,
    )

    oracle = _ivfpq_filtered_oracle()
    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r) for r in ivfpq_knn_filtered(spark, d).collect()
        )
        want = sorted(
            tuple(r) for r in _duck(d, oracle, ("embeddings",))
        )
        assert got == want, f"knn_ivfpq_filtered mismatch at {d}"
        # every query finds a full top-k even under the ~50% filter
        assert len(got) == N_QUERIES * TOP_K
        # every returned neighbor satisfies the metadata predicate,
        # queries are NEVER their own neighbor
        labels = dict(
            _duck(d, "SELECT vec_id, label FROM embeddings",
                  ("embeddings",))
        )
        for q, n, rank in got:
            assert labels[n] % 2 == 0
            assert q != n
            assert 1 <= rank <= TOP_K


def test_hybrid_search_rrf_vs_duckdb_and_bounds(spark, sf_dir):
    from thrivefinancedatapipeline_spark.operators.similarity import (
        HY_K,
        HY_QUERIES,
        HYBRID_RRF_ORACLE,
        RRF_K,
        hybrid_search_rrf,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r) for r in hybrid_search_rrf(spark, d).collect()
        )
        want = sorted(
            tuple(r)
            for r in _duck(d, HYBRID_RRF_ORACLE,
                           ("documents", "embeddings"))
        )
        assert got == want, f"hybrid_search_rrf mismatch at {d}"
        assert len(got) == HY_QUERIES * HY_K
        max_single = 1_000_000_000 // (RRF_K + 1)
        for q, n, score, rank in got:
            assert q != n and 1 <= rank <= HY_K
            # a doc in both lists beats the best single-list score cap
            assert 0 < score <= 2 * max_single
        # fusion sanity: every query's top fused doc appears in at
        # least one leg's top-k by construction (score > 0)
        assert all(r[2] > 0 for r in got)


def test_source_token_cost_drift_vs_duckdb_and_bounds(spark, sf_dir):
    from thrivefinancedatapipeline_spark.operators.packing import (
        TOKEN_COST_DRIFT_ORACLE,
        source_token_cost_drift,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r)
            for r in source_token_cost_drift(spark, d).collect()
        )
        want = sorted(
            tuple(r)
            for r in _duck(d, TOKEN_COST_DRIFT_ORACLE,
                           ("documents", "events"))
        )
        assert got == want, f"token_cost_drift mismatch at {d}"
        assert len(got) >= 2
        for src, day, prev, n_docs, cur, prv, ratio in got:
            assert prev < day and n_docs >= 1
            assert cur >= 1 and prv >= 1  # >= 1 token per active day
            assert ratio == cur * 1_000_000 // prv
        # consecutive-period pairing: one row per (source, day)
        assert len(got) == len({(r[0], r[1]) for r in got})


def test_source_curation_funnel_vs_duckdb_and_monotonicity(
    spark, sf_dir
):
    from thrivefinancedatapipeline_spark.operators.quality import (
        CURATION_FUNNEL_ORACLE,
        source_curation_funnel,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r)
            for r in source_curation_funnel(spark, d).collect()
        )
        want = sorted(
            tuple(r) for r in _duck(d, CURATION_FUNNEL_ORACLE)
        )
        assert got == want, f"curation_funnel mismatch at {d}"
        assert len(got) >= 2
        for (_src, raw, clean, dd, fin, rt, ft, ppm) in got:
            # the funnel ONLY narrows, stage by stage
            assert raw >= clean >= dd >= fin >= 0
            assert rt >= ft >= 0
            assert ppm == ft * 1_000_000 // rt
        # non-vacuous: every stage drops SOMETHING corpus-wide
        assert sum(r[1] for r in got) > sum(r[2] for r in got)
        assert sum(r[2] for r in got) >= sum(r[3] for r in got)
        assert sum(r[3] for r in got) > sum(r[4] for r in got)


def test_r10_eleven_promoted_to_registered_catalog():
    """Round 10 registered the eleven r9-staged prebuilds: all in the
    module QUERIES/ORACLES dicts (aggregated by the registry)."""
    from thrivefinancedatapipeline_spark.registry import (
        all_oracles,
        all_queries,
    )

    eleven = {
        "source_token_cost_curve",
        "near_dup_severity_histogram",
        "source_token_yield",
        "quality_split_drift",
        "balance_volatility",
        "balance_bucket_migration",
        "chunk_near_dup_rate",
        "knn_ivfpq_filtered",
        "hybrid_search_rrf",
        "source_token_cost_drift",
        "source_curation_funnel",
    }
    qs, os_ = all_queries(), all_oracles()
    assert eleven <= set(qs) and eleven <= set(os_)
