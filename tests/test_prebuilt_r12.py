"""Round-12 operators, now registered: Spark == DuckDB at two SFs
plus per-operator invariants.

The r11 theme is knob-sweep telemetry: each sweep rides the proven
machinery of a registered operator (probe counts, DF stop rules,
banding configs, pack budgets) and emits the tuning curve a 100 TB
deployment reads before turning the knob."""

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


def test_codec_attest3_vs_duckdb_and_arrangements(spark, sf_dir):
    from thrivefinancedatapipeline_spark.multimodal.binary_ops import (
        CODEC_ATTEST3_ORACLE,
        q_multimodal_codec_attest3,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r)
            for r in q_multimodal_codec_attest3(spark, d).collect()
        )
        want = sorted(tuple(r) for r in _duck(d, CODEC_ATTEST3_ORACLE))
        assert got == want, f"codec_attest3 mismatch at {d}"
        assert all(all(v > 0 for v in r[1:]) for r in got)
        # the depth arrangements must not shadow each other: identity
        # vs reversed digit order differ unless the digest is a
        # palindrome — across a corpus at least one doc must differ
        assert any(r[1] != r[2] for r in got), "pal8 == pal4 everywhere"
        assert any(r[1] != r[3] for r in got), "pal8 == pal1 everywhere"


def test_hybrid_probe_sweep_vs_duckdb_and_shape(spark, sf_dir):
    from thrivefinancedatapipeline_spark.operators.similarity import (
        HY_K,
        HY_QUERIES,
        HYBRID_PROBE_SWEEP_ORACLE,
        PROBE_SWEEP,
        hybrid_probe_sweep,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r) for r in hybrid_probe_sweep(spark, d).collect()
        )
        want = sorted(
            tuple(r) for r in _duck(d, HYBRID_PROBE_SWEEP_ORACLE)
        )
        assert got == want, f"hybrid_probe_sweep mismatch at {d}"
        per_np = {}
        for np_, qid, n_ret, ppm in got:
            per_np.setdefault(np_, set()).add(qid)
            assert 0 <= n_ret <= HY_K
            assert ppm == n_ret * 1_000_000 // HY_K
        assert set(per_np) == set(PROBE_SWEEP)
        for qids in per_np.values():
            assert qids == set(range(HY_QUERIES))
        # non-vacuity: at the widest probe the fusion must retain
        # SOMETHING of the exact hybrid (the lexical leg alone
        # guarantees overlap even if ANN recall were zero)
        widest = max(PROBE_SWEEP)
        assert sum(r[2] for r in got if r[0] == widest) > 0


def test_lex_cap_sweep_vs_duckdb_and_monotonicity(spark, sf_dir):
    from thrivefinancedatapipeline_spark.operators.similarity import (
        LEX_CAP_SWEEP_ORACLE,
        LEX_SWEEP_DENOMS,
        lex_cap_sweep,
    )

    for d in _dirs(sf_dir):
        got = sorted(tuple(r) for r in lex_cap_sweep(spark, d).collect())
        want = sorted(tuple(r) for r in _duck(d, LEX_CAP_SWEEP_ORACLE))
        assert got == want, f"lex_cap_sweep mismatch at {d}"
        by_denom = {r[0]: r for r in got}
        assert set(by_denom) == set(LEX_SWEEP_DENOMS)
        # loosening the stop rule (smaller denominator -> higher
        # threshold) can only ADD indexable terms, posting mass, and
        # candidate pairs
        ordered = [by_denom[dn] for dn in sorted(LEX_SWEEP_DENOMS,
                                                 reverse=True)]
        for prev, cur in zip(ordered, ordered[1:]):
            assert cur[1] >= prev[1]  # df_threshold
            assert cur[2] >= prev[2]  # n_terms
            assert cur[3] >= prev[3]  # posting_mass
            assert cur[5] >= prev[5]  # n_query_pairs
        assert ordered[-1][2] > 0, "loosest rule indexes nothing"


def test_minhash_band_sweep_vs_duckdb_and_nesting(spark, sf_dir):
    from thrivefinancedatapipeline_spark.operators.dedup import (
        K,
        MINHASH_BAND_SWEEP_ORACLE,
        MINHASH_SWEEP_ROWS,
        dedup_minhash_band_sweep,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r)
            for r in dedup_minhash_band_sweep(spark, d).collect()
        )
        want = sorted(
            tuple(r) for r in _duck(d, MINHASH_BAND_SWEEP_ORACLE)
        )
        assert got == want, f"minhash_band_sweep mismatch at {d}"
        by_r = {r[0]: r for r in got}
        assert set(by_r) == set(MINHASH_SWEEP_ROWS)
        for r, row in by_r.items():
            assert row[1] == K // r  # n_bands
            assert 0 <= row[3] <= row[2]  # verified <= candidates
            expect = (
                1_000_000
                if row[2] == 0
                else row[3] * 1_000_000 // row[2]
            )
            assert row[4] == expect
        # aligned-block nesting: an r-row band collision implies both
        # constituent (r/2)-row bands collide, so candidate and
        # verified sets can only SHRINK as rows-per-band doubles
        ordered = [by_r[r] for r in sorted(MINHASH_SWEEP_ROWS)]
        for prev, cur in zip(ordered, ordered[1:]):
            assert cur[2] <= prev[2]  # n_candidates
            assert cur[3] <= prev[3]  # n_verified
        assert ordered[0][2] > 0, "loosest banding found no candidates"


def test_pack_budget_sweep_vs_duckdb_and_bounds(spark, sf_dir):
    from thrivefinancedatapipeline_spark.operators.packing import (
        PACK_BUDGET_SWEEP_ORACLE,
        PACK_SWEEP_BUDGETS,
        pack_budget_sweep,
    )

    for d in _dirs(sf_dir):
        got = sorted(tuple(r) for r in pack_budget_sweep(spark, d).collect())
        want = sorted(tuple(r) for r in _duck(d, PACK_BUDGET_SWEEP_ORACLE))
        assert got == want, f"pack_budget_sweep mismatch at {d}"
        langs = {r[1] for r in got}
        assert len(got) == len(PACK_SWEEP_BUDGETS) * len(langs)
        by_lang = {}
        for budget, lang, n_docs, total, n_packs, n_split, fill in got:
            assert n_packs == -(-total // budget)
            assert 0 <= n_split <= n_docs
            assert fill <= 1_000_000
            assert fill == total * 1_000_000 // (n_packs * budget)
            by_lang.setdefault(lang, {})[budget] = (total, n_packs, n_split)
        for rows in by_lang.values():
            totals = {v[0] for v in rows.values()}
            assert len(totals) == 1  # budget never changes the corpus
            ordered = [rows[b] for b in sorted(PACK_SWEEP_BUDGETS)]
            for prev, cur in zip(ordered, ordered[1:]):
                # budgets divide each other: larger-budget boundaries
                # are a subset, so packs and split docs only shrink
                assert cur[1] <= prev[1]
                assert cur[2] <= prev[2]


def test_velocity_rate_sweep_vs_duckdb_and_monotonicity(spark, sf_dir):
    from thrivefinancedatapipeline_spark.plans.finance_queries import (
        VEL_RATE_NUM,
        VEL_SWEEP_RATES,
        VELOCITY_ORACLE,
        VELOCITY_RATE_SWEEP_ORACLE,
        velocity_rate_sweep,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r) for r in velocity_rate_sweep(spark, d).collect()
        )
        want = sorted(
            tuple(r)
            for r in _duck(
                d, VELOCITY_RATE_SWEEP_ORACLE, tables=("events",)
            )
        )
        assert got == want, f"velocity_rate_sweep mismatch at {d}"
        by_rate = {r[0]: r for r in got}
        assert set(by_rate) <= set(VEL_SWEEP_RATES)
        # looser multipliers can only ADD flags / customers / exposure
        present = [by_rate[r] for r in sorted(by_rate)]
        for prev, cur in zip(present, present[1:]):
            assert cur[1] >= prev[1]
            assert cur[2] >= prev[2]
            assert cur[3] >= prev[3]
        # the sweep's registered-rate point equals the registered
        # screen's flag count (screen and sweep can never disagree)
        flags = _duck(d, VELOCITY_ORACLE, tables=("events",))
        assert by_rate[VEL_RATE_NUM][1] == len(flags)


def test_codec_attest4_vs_duckdb_and_arrangements(spark, sf_dir):
    from thrivefinancedatapipeline_spark.multimodal.binary_ops import (
        CODEC_ATTEST4_ORACLE,
        q_multimodal_codec_attest4,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r)
            for r in q_multimodal_codec_attest4(spark, d).collect()
        )
        want = sorted(tuple(r) for r in _duck(d, CODEC_ATTEST4_ORACLE))
        assert got == want, f"codec_attest4 mismatch at {d}"
        assert all(all(v > 0 for v in r[1:]) for r in got)
        # no two columns may shadow each other corpus-wide (distinct
        # arrangements is the design invariant)
        cols = list(zip(*[r[1:] for r in got]))
        for i in range(len(cols)):
            for j in range(i + 1, len(cols)):
                assert cols[i] != cols[j], f"columns {i},{j} identical"


def _simple_plan(df):
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="simple")
    return buf.getvalue()


def test_sweep_plans_are_one_pass(spark, sf_dir):
    """The sweeps' scale claims as PLAN pins, not prose: the swept
    dimension must not multiply the heavy pass. pack_budget_sweep
    reads documents ONCE (one prefix sum serves all budgets);
    velocity_rate_sweep reads events ONCE (one window pass serves all
    thresholds); lex_cap_sweep's documents scans stay bounded by the
    shared posting build + the single loose candidate join, not by
    the number of swept rules."""
    from thrivefinancedatapipeline_spark.operators.packing import (
        pack_budget_sweep,
    )
    from thrivefinancedatapipeline_spark.plans.finance_queries import (
        velocity_rate_sweep,
    )

    import re

    plan = _simple_plan(pack_budget_sweep(spark, sf_dir))
    # the swept dimension appears as ONE explode sitting ABOVE the
    # corpus prefix-sum window — sweeping never re-runs the heavy
    # pass. The ranged scan contributes a second, BOUNDED window
    # (the per-partition offset roll-up over n_partitions rows) and
    # checkpoints its base, so no parquet scan shows in this plan
    # (the documented localCheckpoint lineage rule).
    assert plan.count("Generate explode") == 1
    assert len(re.findall(r"\+- Window ", plan)) == 2
    assert plan.index("Generate explode") < plan.index("+- Window ")
    plan = _simple_plan(velocity_rate_sweep(spark, sf_dir))
    # ONE events scan, ONE window serving both RANGE frames, the
    # rate explode above it, and only the window + rollup exchanges
    assert plan.count("Scan parquet") == 1
    assert len(re.findall(r"\+- Window ", plan)) == 1
    assert plan.count("Generate explode") == 1
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.index("Generate explode") < plan.index("+- Window ")
    from thrivefinancedatapipeline_spark.operators import similarity

    similarity.COVERAGE_EAGER = False  # plan-only: no eager checkpoint
    try:
        plan = _simple_plan(similarity.lex_cap_sweep(spark, sf_dir))
    finally:
        similarity.COVERAGE_EAGER = True
    # posting build (docs scan) appears for: the term stats, the
    # loose term filter, the two posting sides of the single
    # candidate join, plus count-only n_docs scans that read ZERO
    # columns (ReadSchema: struct<>) — NOT once more per swept rule
    # (3 rules share them all; the eager path also checkpoints the
    # DF stats, collapsing the first two)
    assert plan.count("Scan parquet") <= 7


def test_quota_denom_sweep_vs_duckdb_and_nesting(spark, sf_dir):
    from pyspark.sql import functions as F

    from thrivefinancedatapipeline_spark.operators.sampling import (
        QUOTA_DENOM,
        QUOTA_DENOM_SWEEP_ORACLE,
        QUOTA_SAMPLER_ORACLE,
        QUOTA_SWEEP_DENOMS,
        quota_denom_sweep,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r) for r in quota_denom_sweep(spark, d).collect()
        )
        want = sorted(
            tuple(r) for r in _duck(d, QUOTA_DENOM_SWEEP_ORACLE)
        )
        assert got == want, f"quota_denom_sweep mismatch at {d}"
        by_dn = {r[0]: r for r in got}
        assert set(by_dn) == set(QUOTA_SWEEP_DENOMS)
        # growing the budget (smaller denominator) only EXTENDS each
        # source's fixed-order selected prefix: docs/tokens/quota/
        # capped sources all non-decreasing
        ordered = [by_dn[dn] for dn in sorted(QUOTA_SWEEP_DENOMS,
                                              reverse=True)]
        for prev, cur in zip(ordered, ordered[1:]):
            assert cur[1] >= prev[1]  # n_docs_selected
            assert cur[2] >= prev[2]  # sel_tokens
            assert cur[3] >= prev[3]  # total_quota
            assert cur[4] >= prev[4]  # n_sources_capped
        # the full-corpus point still does NOT ship everything: the
        # fair share has no redistribution (the quota_select
        # contract), so only sources at or under the average are
        # capped by their own size — pinned against a direct
        # recompute of the capped-source count
        full = by_dn[1]
        n_capped = int(
            _duck(
                d,
                """WITH s AS (SELECT source,
                         SUM(len(string_split(lower(trim(
                           regexp_replace(text, '\\s+', ' ', 'g'))),
                           ' '))) AS st
                       FROM documents GROUP BY 1),
                t AS (SELECT SUM(st) AS tt, COUNT(*) AS ns FROM s)
                SELECT COUNT(*) FROM s, t
                WHERE s.st <= t.tt // t.ns""",
            )[0][0]
        )
        assert full[4] == n_capped
        assert full[5] <= 1_100_000  # bounded one-doc overshoot
        # the registered-denominator point agrees with the registered
        # sampler's own rollup (sweep and sampler can never disagree)
        reg = _duck(d, QUOTA_SAMPLER_ORACLE)
        assert by_dn[QUOTA_DENOM][1] == sum(r[1] for r in reg)
        assert by_dn[QUOTA_DENOM][2] == sum(r[2] for r in reg)
        ck = 0
        for r in reg:
            ck ^= int(r[6])
        assert by_dn[QUOTA_DENOM][6] == ck


def test_shingle_cap_sweep_vs_duckdb_and_nesting(spark, sf_dir):
    from thrivefinancedatapipeline_spark.operators.dedup import (
        MAX_SHINGLE_DF,
        SHINGLE_CAP_SWEEP,
        SHINGLE_CAP_SWEEP_ORACLE,
        dedup_shingle_cap_sweep,
    )
    from thrivefinancedatapipeline_spark.operators.dedup import (
        ORACLES as _DEDUP_ORACLES,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r)
            for r in dedup_shingle_cap_sweep(spark, d).collect()
        )
        want = sorted(
            tuple(r) for r in _duck(d, SHINGLE_CAP_SWEEP_ORACLE)
        )
        assert got == want, f"shingle_cap_sweep mismatch at {d}"
        by_cell = {(r[0], r[1]): r for r in got}
        assert set(by_cell) <= {
            (k, c) for k in (0, 1) for c in SHINGLE_CAP_SWEEP
        }
        for row in by_cell.values():
            assert 0 <= row[3] <= row[2]  # verified <= candidates
        for keep in (0, 1):
            caps = sorted(c for k, c in by_cell if k == keep)
            # loosening the cap only ADDS candidates/verified
            for pc, cc in zip(caps, caps[1:]):
                assert by_cell[(keep, cc)][2] >= by_cell[(keep, pc)][2]
                assert by_cell[(keep, cc)][3] >= by_cell[(keep, pc)][3]
        # the hatch only ADDS candidates/verified at every cap (a
        # rank-kept row relaxes eff to 0, never tightens)
        for c in SHINGLE_CAP_SWEEP:
            if (0, c) in by_cell and (1, c) in by_cell:
                assert by_cell[(1, c)][2] >= by_cell[(0, c)][2]
                assert by_cell[(1, c)][3] >= by_cell[(0, c)][3]
        # the registered cell (hatch ON, cap 64) verifies exactly the
        # registered dedup_ngram_jaccard pair set (sweep and operator
        # can never disagree)
        reg = _duck(d, _DEDUP_ORACLES["dedup_ngram_jaccard"])
        assert by_cell[(1, MAX_SHINGLE_DF)][3] == len(reg)
