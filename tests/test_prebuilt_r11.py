"""Round-11 operators, now registered: Spark == DuckDB at two SFs
plus per-operator invariants."""

import os

import duckdb


def _duck(d, sql, tables=("documents", "embeddings")):
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


def test_hybrid_indexed_vs_duckdb_and_bounds(spark, sf_dir):
    from thrivefinancedatapipeline_spark.operators.similarity import (
        HY_K,
        HY_QUERIES,
        HYBRID_RRF_INDEXED_ORACLE,
        hybrid_search_rrf_indexed,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r)
            for r in hybrid_search_rrf_indexed(spark, d).collect()
        )
        want = sorted(tuple(r) for r in _duck(d, HYBRID_RRF_INDEXED_ORACLE))
        assert got == want, f"hybrid_search_rrf_indexed mismatch at {d}"
        per_q = {}
        for qid, _nid, score, rank in got:
            per_q.setdefault(qid, []).append((rank, score))
        assert set(per_q) == set(range(HY_QUERIES))
        for rows in per_q.values():
            rows.sort()
            assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
            assert len(rows) <= HY_K
            assert [r[1] for r in rows] == sorted(
                (r[1] for r in rows), reverse=True
            )


def test_source_quota_sampler_vs_duckdb_and_bounds(spark, sf_dir):
    from pyspark.sql import functions as F

    from thrivefinancedatapipeline_spark.operators.sampling import (
        QUOTA_DENOM,
        QUOTA_SAMPLER_ORACLE,
        quota_sample_docs,
        source_quota_sampler,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r) for r in source_quota_sampler(spark, d).collect()
        )
        want = sorted(tuple(r) for r in _duck(d, QUOTA_SAMPLER_ORACLE))
        assert got == want, f"source_quota_sampler mismatch at {d}"

        srcs = [r[0] for r in got]
        assert len(srcs) == len(set(srcs)) >= 2
        total = sum(r[3] for r in got)  # src_tokens over all sources
        fair = (total // QUOTA_DENOM) // len(srcs)
        max_nt = {
            r["source"]: r["mx"]
            for r in quota_sample_docs(spark, d)
            .groupBy("source")
            .agg(F.max("nt").alias("mx"))
            .collect()
        }
        for src, n_sel, sel, src_tok, quota, fill, _ck in got:
            assert quota == min(src_tok, fair)
            assert n_sel >= 1 and 0 < sel <= src_tok
            if quota == src_tok:
                # quota covers the source: everything ships
                assert sel == src_tok
            else:
                # greedy prefix fills the quota, overshooting by at
                # most one document
                assert quota <= sel < quota + max_nt[src]
            assert fill == sel * 1_000_000 // quota


def test_contrastive_negatives_vs_duckdb_and_exclusions(spark, sf_dir):
    from pyspark.sql import functions as F

    from thrivefinancedatapipeline_spark.operators.similarity import (
        CN_HARD,
        CN_RAND,
        CONTRASTIVE_NEGATIVES_ORACLE,
        N_QUERIES,
        _bucketed,
        _vectors,
        contrastive_negatives,
        q_knn_bruteforce_cosine,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r) for r in contrastive_negatives(spark, d).collect()
        )
        want = sorted(
            tuple(r) for r in _duck(d, CONTRASTIVE_NEGATIVES_ORACLE)
        )
        assert got == want, f"contrastive_negatives mismatch at {d}"

        top = {
            (r.query_id, r.neighbor_id)
            for r in q_knn_bruteforce_cosine(spark, d).collect()
        }
        b = _bucketed(_vectors(spark, d))
        qb = b.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), "table", "bucket"
        )
        mates = {
            (r.query_id, r.neighbor_id)
            for r in qb.join(
                b.select(
                    F.col("vec_id").alias("neighbor_id"),
                    "table",
                    "bucket",
                ),
                ["table", "bucket"],
            )
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id")
            .distinct()
            .collect()
        }
        counts = {}
        for qid, nid, kind, rank in got:
            counts[(qid, kind)] = counts.get((qid, kind), 0) + 1
            assert (qid, nid) not in top  # never a potential positive
            assert qid != nid
            if kind == "hard":
                assert (qid, nid) in mates  # hard = bucket collision
            else:
                assert (qid, nid) not in mates  # rand = easy
            assert 1 <= rank <= (CN_HARD if kind == "hard" else CN_RAND)
        for (qid, kind), n in counts.items():
            assert n <= (CN_HARD if kind == "hard" else CN_RAND)
        # non-vacuous: every anchor mined at least one of each kind
        assert {q for q, k in counts if k == "hard"} == set(
            range(N_QUERIES)
        )
        assert {q for q, k in counts if k == "rand"} == set(
            range(N_QUERIES)
        )


def test_codec_attest2_vs_duckdb_and_nondegeneracy(spark, sf_dir):
    from thrivefinancedatapipeline_spark.multimodal.binary_ops import (
        CODEC_ATTEST2_ORACLE,
        q_multimodal_codec_attest2,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r)
            for r in q_multimodal_codec_attest2(spark, d).collect()
        )
        want = sorted(
            tuple(r)
            for r in _duck(d, CODEC_ATTEST2_ORACLE, tables=("documents",))
        )
        assert got == want, f"codec_attest2 mismatch at {d}"
        # the four arrangements must actually differ (a codec that
        # ignored its arrangement and echoed another's decode would
        # collide columns on every row)
        diff = [
            r for r in got
            if len({r[1], r[2], r[3], r[4]}) == 4
        ]
        assert len(diff) > len(got) * 9 // 10


def test_staged_r11_plan_shapes(spark, sf_dir):
    """Scale-posture guards for the r11-staged ops: no SortMergeJoin
    anywhere (quotas and anchors broadcast; LSH/lexical candidates
    join on uniform keys or stay key-partitioned), and the quota
    sampler's exchange budget holds (token cells, per-source window,
    source rollup — plus AQE bookkeeping, never a join shuffle).

    The join and budget guards read the static plan, before AQE can
    turn a statically planned SortMergeJoin into a broadcast on tiny
    runtime sizes. Round-robin spreads
    (functions/layout.ensure_min_parallelism) sit outside the budget
    and are pinned exactly on the final adaptive plan: the
    one-row-group test embeddings make q_knn_bruteforce_cosine spread
    its corpus side, and contrastive_negatives runs that spread once:
    the static plan prints it in both Union branches, but the final
    plan's second branch reuses the broadcast top-k of the first.
    Every other exchange (hash, range, single-partition, broadcast)
    counts against the budget."""
    from thrivefinancedatapipeline_spark.operators.sampling import (
        source_quota_sampler,
    )
    from thrivefinancedatapipeline_spark.operators.similarity import (
        contrastive_negatives,
    )
    from thrivefinancedatapipeline_spark.plans.finance_queries import (
        txn_velocity_flags,
    )

    for name, df, max_exch, n_spread in [
        ("source_quota_sampler", source_quota_sampler(spark, sf_dir), 6, 0),
        ("contrastive_negatives", contrastive_negatives(spark, sf_dir), 14, 1),
        # both range frames share ONE per-customer exchange
        ("txn_velocity_flags", txn_velocity_flags(spark, sf_dir), 1, 0),
    ]:
        static = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=false" in static, name
        assert static.count("SortMergeJoin") == 0, name
        other = static.count("Exchange") - static.count(
            "Exchange RoundRobinPartitioning"
        )
        assert other <= max_exch, (name, other)
        df.collect()
        final = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final, name
        final = final.split("== Initial Plan ==")[0]
        spread = final.count("Exchange RoundRobinPartitioning")
        assert spread == n_spread, (name, spread)


def test_knn_mmr_diversified_vs_duckdb_and_properties(spark, sf_dir):
    from thrivefinancedatapipeline_spark.operators.similarity import (
        MMR_K,
        MMR_ORACLE,
        N_QUERIES,
        _mmr_pool,
        knn_mmr_diversified,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r) for r in knn_mmr_diversified(spark, d).collect()
        )
        want = sorted(
            tuple(r) for r in _duck(d, MMR_ORACLE, tables=("embeddings",))
        )
        assert got == want, f"knn_mmr_diversified mismatch at {d}"

        pool = {}
        for r in _mmr_pool(spark, d).select(
            "query_id", "neighbor_id", "rel"
        ).collect():
            pool.setdefault(r.query_id, {})[r.neighbor_id] = r.rel
        per_q = {}
        for qid, nid, rank, rel, dv in got:
            per_q.setdefault(qid, []).append((rank, nid, rel, dv))
            assert nid in pool[qid] and rel == pool[qid][nid]
        assert set(per_q) == set(range(N_QUERIES))
        diversified = 0
        for qid, rows in per_q.items():
            rows.sort()
            assert [r[0] for r in rows] == list(range(1, MMR_K + 1))
            assert len({r[1] for r in rows}) == MMR_K  # distinct picks
            # first pick is the pure-relevance argmax, no diversity yet
            assert rows[0][3] == 0
            assert rows[0][2] == max(pool[qid].values())
            # non-vacuous diversity: the MMR set differs from the pure
            # top-K relevance prefix for at least one query
            topk = {
                n
                for n, _r in sorted(
                    pool[qid].items(), key=lambda kv: (-kv[1], kv[0])
                )[:MMR_K]
            }
            if {r[1] for r in rows} != topk:
                diversified += 1
        assert diversified >= 1, "MMR degenerated to pure top-k everywhere"


def test_dedup_keep_priority_vs_duckdb_and_choice_law(spark, sf_dir):
    from pyspark.sql import functions as F

    from thrivefinancedatapipeline_spark.functions.text import normalize
    from thrivefinancedatapipeline_spark.operators.dedup import (
        KEEP_PRIORITY_ORACLE,
        _docs,
        dedup_keep_priority,
        q_dedup_keep_canonical,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r) for r in dedup_keep_priority(spark, d).collect()
        )
        want = sorted(
            tuple(r)
            for r in _duck(d, KEEP_PRIORITY_ORACLE, tables=("documents",))
        )
        assert got == want, f"dedup_keep_priority mismatch at {d}"

        # group accounting: every document is in exactly one group
        n_docs = _docs(spark, d).count()
        assert sum(r[3] for r in got) == n_docs
        # same GROUPS as the min-id canonical filter, possibly
        # different survivors — the survivor COUNT must match
        assert len(got) == q_dedup_keep_canonical(spark, d).count()

        # the choice law, recomputed independently: per content hash
        # the survivor minimizes (src rank, raw length, doc_id)
        rows = (
            _docs(spark, d)
            .select(
                "doc_id",
                F.expr("CAST(substring(source, 4) AS BIGINT)").alias("p"),
                F.length("text").alias("nc"),
                F.md5(normalize(F.col("text"))).alias("ch"),
            )
            .collect()
        )
        best = {}
        for r in rows:
            k = (r.p, r.nc, r.doc_id)
            if r.ch not in best or k < best[r.ch]:
                best[r.ch] = k
        assert {r[0] for r in got} == {k[2] for k in best.values()}


def test_txn_velocity_flags_vs_duckdb_and_window_law(spark, sf_dir):
    from pyspark.sql import functions as F

    from thrivefinancedatapipeline_spark.plans.finance_queries import (
        VEL_DAY_S,
        VEL_HOUR_S,
        VEL_MIN_DAY,
        VEL_RATE_NUM,
        VELOCITY_ORACLE,
        _txns,
        delta_cents_col,
        txn_velocity_flags,
    )

    def _duck_ev(d, sql):
        import duckdb as _dd

        con = _dd.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{d}/events.parquet')"
        )
        rows = con.execute(sql).fetchall()
        con.close()
        return rows

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r) for r in txn_velocity_flags(spark, d).collect()
        )
        want = sorted(tuple(r) for r in _duck_ev(d, VELOCITY_ORACLE))
        assert got == want, f"txn_velocity_flags mismatch at {d}"

        total = _txns(spark, d).count()
        assert 0 < len(got) < total  # non-vacuous, non-universal
        for _t, _c, _es, n1, sp1, n24 in got:
            assert 1 <= n1 <= n24
            assert sp1 >= 0
            assert VEL_RATE_NUM * n1 >= n24 and n24 >= VEL_MIN_DAY

        # independent window-law recompute for the two busiest
        # flagged customers: trailing counts from raw rows
        flagged_custs = sorted(
            {c for _t, c, _es, _n1, _s, _n24 in got}
        )[:2]
        raw = (
            _txns(spark, d)
            .filter(F.col("customerid").isin(flagged_custs))
            .select(
                "trans_id",
                "customerid",
                F.unix_timestamp("createdat").alias("es"),
                delta_cents_col().alias("dc"),
            )
            .collect()
        )
        per = {}
        for r in raw:
            per.setdefault(r.customerid, []).append(
                (int(r.es), int(r.trans_id), int(r.dc))
            )
        expect = set()
        for cust, rows in per.items():
            for es, tid, _dc in rows:
                n1 = sum(1 for e, _t, _x in rows if es - VEL_HOUR_S <= e <= es)
                n24 = sum(1 for e, _t, _x in rows if es - VEL_DAY_S <= e <= es)
                sp1 = sum(
                    -x for e, _t, x in rows
                    if es - VEL_HOUR_S <= e <= es and x < 0
                )
                if VEL_RATE_NUM * n1 >= n24 and n24 >= VEL_MIN_DAY:
                    expect.add((tid, cust, es, n1, sp1, n24))
        assert {
            r for r in got if r[1] in flagged_custs
        } == expect


def test_dedup_cluster_keep_priority_vs_duckdb_and_laws(spark, sf_dir):
    from thrivefinancedatapipeline_spark.operators.dedup import (
        CLUSTER_KEEP_PRIORITY_ORACLE,
        _docs,
        dedup_cluster_keep_priority,
        q_dedup_clusters,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r)
            for r in dedup_cluster_keep_priority(spark, d).collect()
        )
        want = sorted(
            tuple(r)
            for r in _duck(
                d, CLUSTER_KEEP_PRIORITY_ORACLE, tables=("documents",)
            )
        )
        assert got == want, f"dedup_cluster_keep_priority mismatch at {d}"

        cc = q_dedup_clusters(spark, d).collect()
        clusters = {}
        for r in cc:
            clusters.setdefault(r.cluster_id, set()).add(r.doc_id)
        # one survivor per cluster, membership conserved
        assert {r[0] for r in got} == set(clusters)
        assert sum(r[4] for r in got) == _docs(spark, d).count()
        for cid, did, _lang, _src, n in got:
            assert did in clusters[cid]
            assert n == len(clusters[cid])
        # the survivor need not be the min-id LABEL where trust ranks
        # disagree — require at least one cluster to show the
        # difference, or every multi-member cluster to be
        # single-source (vacuity guard)
        multi = [r for r in got if r[4] > 1]
        if multi:
            assert any(r[0] != r[1] for r in multi) or all(
                len({d2 for d2 in clusters[r[0]]}) == 1 for r in multi
            )


def test_mmr_diversity_cost_vs_duckdb_and_bounds(spark, sf_dir):
    from thrivefinancedatapipeline_spark.operators.similarity import (
        MMR_COST_ORACLE,
        N_QUERIES,
        mmr_diversity_cost,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r) for r in mmr_diversity_cost(spark, d).collect()
        )
        want = sorted(
            tuple(r)
            for r in _duck(d, MMR_COST_ORACLE, tables=("embeddings",))
        )
        assert got == want, f"mmr_diversity_cost mismatch at {d}"
        assert {r[0] for r in got} == set(range(N_QUERIES))
        for _q, top_rel, mmr_rel, ppm in got:
            # the plain top-K is the relevance OPTIMUM over the pool:
            # diversification can only give ground (<= 1e6), and the
            # first MMR pick alone guarantees a positive floor
            assert 0 < mmr_rel <= top_rel
            assert 0 < ppm <= 1_000_000
            assert ppm == mmr_rel * 1_000_000 // top_rel
        # non-vacuous: diversity actually costs something somewhere
        assert any(r[3] < 1_000_000 for r in got)


def test_hybrid_fusion_coverage_vs_duckdb_and_conservation(spark, sf_dir):
    from thrivefinancedatapipeline_spark.operators.similarity import (
        HY_K,
        HY_QUERIES,
        HYBRID_COVERAGE_ORACLE,
        hybrid_fusion_coverage,
        hybrid_search_rrf,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r) for r in hybrid_fusion_coverage(spark, d).collect()
        )
        want = sorted(tuple(r) for r in _duck(d, HYBRID_COVERAGE_ORACLE))
        assert got == want, f"hybrid_fusion_coverage mismatch at {d}"
        assert {r[0] for r in got} == set(range(HY_QUERIES))
        fused_n = {}
        for r in hybrid_search_rrf(spark, d).collect():
            fused_n[r.query_id] = fused_n.get(r.query_id, 0) + 1
        for q, nb, nl, nv in got:
            # every fused row is in at least one leg: categories
            # partition the fused set exactly
            assert nb + nl + nv == fused_n[q] <= HY_K
            assert min(nb, nl, nv) >= 0
        # the vector leg always contributes; the LEXICAL leg only
        # when it is non-empty at this SF — which is exactly the
        # degeneracy this audit exists to expose (at sf0.01 every
        # shared token exceeds LEX_DF_CAP, the leg is empty, and the
        # audit reports a pure-vector mix: verified here rather than
        # papered over)
        from thrivefinancedatapipeline_spark.operators.similarity import (
            _hybrid_lex_leg,
        )

        assert sum(r[1] + r[3] for r in got) > 0  # vector present
        lex_rows = _hybrid_lex_leg(spark, d).count()
        if lex_rows == 0:
            assert sum(r[1] + r[2] for r in got) == 0
        else:
            assert sum(r[1] + r[2] for r in got) > 0


def test_hybrid_fusion_coverage_lazy_flag(spark, sf_dir):
    # plan-only consumers can disable the construction-time
    # localCheckpoint (COVERAGE_EAGER=False): construction stays lazy
    # and the result is identical to the eager path
    from thrivefinancedatapipeline_spark.operators import similarity

    eager = sorted(
        tuple(r)
        for r in similarity.hybrid_fusion_coverage(spark, sf_dir).collect()
    )
    similarity.COVERAGE_EAGER = False
    try:
        df = similarity.hybrid_fusion_coverage(spark, sf_dir)
        # lazy construction keeps full lineage: parquet scans visible
        assert df.inputFiles(), "lazy path severed lineage"
        assert sorted(tuple(r) for r in df.collect()) == eager
    finally:
        similarity.COVERAGE_EAGER = True
