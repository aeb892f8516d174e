"""Round-13 operators, now registered: Spark == DuckDB at two SFs
plus per-operator invariants.

The r12 theme is end-to-end attestation: corpus_pipeline_attest folds
the ENTIRE run_corpus_pipeline funnel (decontaminate -> dedup ->
quality gate -> chunk -> chunk-dedup -> pack) into one oracled
relation whose counts are identity-pinned against the pipeline's own
driver-side report — the composition and its audit cannot drift."""

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


def test_corpus_pipeline_attest_vs_duckdb_and_funnel_shape(spark, sf_dir):
    from thrivefinancedatapipeline_spark.operators.quality import (
        PIPELINE_ATTEST_ORACLE,
        PIPELINE_STAGES,
        corpus_pipeline_attest,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r) for r in corpus_pipeline_attest(spark, d).collect()
        )
        want = sorted(tuple(r) for r in _duck(d, PIPELINE_ATTEST_ORACLE))
        assert got == want, f"corpus_pipeline_attest mismatch at {d}"
        by_ord = {r[0]: r for r in got}
        assert [by_ord[i][1] for i in range(1, 8)] == list(PIPELINE_STAGES)
        # the doc funnel strictly filters: counts monotone non-increasing
        doc_counts = [by_ord[i][2] for i in range(1, 5)]
        assert doc_counts == sorted(doc_counts, reverse=True)
        assert doc_counts[-1] > 0, "quality gate emptied the corpus"
        # chunk dedup only removes: rows and tokens shrink or hold
        assert by_ord[6][2] <= by_ord[5][2]
        assert by_ord[6][3] <= by_ord[5][3]
        # packing is a pure re-labeling of the unique chunks: token
        # total identical, and every pack except at most one tail per
        # lang stream is implied full (n_packs * budget >= tokens)
        assert by_ord[7][3] == by_ord[6][3]
        from thrivefinancedatapipeline_spark.operators.packing import (
            PACK_BUDGET,
        )

        assert by_ord[7][2] * PACK_BUDGET >= by_ord[7][3]
        # membership checksums attest real sets (0 = empty stage)
        assert all(by_ord[i][4] != 0 for i in range(1, 8))
        # a shrinking stage must CHANGE the membership checksum
        for a, b in ((1, 4), (5, 6)):
            if by_ord[a][2] != by_ord[b][2]:
                assert by_ord[a][4] != by_ord[b][4]


def test_corpus_pipeline_attest_matches_pipeline_report(spark, sf_dir):
    """The identity pin: the oracled attest's stage figures equal the
    driver-side report run_corpus_pipeline computes for itself — the
    audit and the pipeline cannot drift."""
    from thrivefinancedatapipeline_spark.operators.quality import (
        corpus_pipeline_attest,
    )
    from thrivefinancedatapipeline_spark.pipeline import (
        run_corpus_pipeline,
    )

    report = run_corpus_pipeline(spark, sf_dir)
    by_ord = {
        r["stage_ord"]: r
        for r in (
            x.asDict() for x in corpus_pipeline_attest(spark, sf_dir).collect()
        )
    }
    assert by_ord[1]["n_rows"] == report["n_documents"]
    assert by_ord[2]["n_rows"] == report["n_after_decontaminate"]
    assert by_ord[3]["n_rows"] == report["n_after_dedup"]
    assert by_ord[4]["n_rows"] == report["n_after_quality_gate"]
    assert by_ord[5]["n_rows"] == report["n_chunks"]
    assert by_ord[6]["n_rows"] == report["n_unique_chunks"]
    assert by_ord[7]["n_rows"] == report["n_packs"]
    assert by_ord[7]["n_tokens"] == report["total_tokens"]


def test_codec_attest5_vs_duckdb_and_stream_order(spark, sf_dir):
    from thrivefinancedatapipeline_spark.multimodal.binary_ops import (
        CODEC_ATTEST5_ORACLE,
        q_multimodal_codec_attest5,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r)
            for r in q_multimodal_codec_attest5(spark, d).collect()
        )
        want = sorted(tuple(r) for r in _duck(d, CODEC_ATTEST5_ORACLE))
        assert got == want, f"codec_attest5 mismatch at {d}"
        # pixels are bytes: the AVI column is strictly positive; the
        # PCM columns mix signs by construction (digits pull negative,
        # letters positive) — across a corpus both signs must appear
        # in the SAMPLE domain, and every sample exceeds int16, so a
        # width-truncating decode could not have matched the oracle
        assert all(r[1] > 0 for r in got)
        assert len({r[2] for r in got}) > 1
        assert len({r[3] for r in got}) > 1


def test_avi_audio_first_encoder_is_pixel_identical():
    """audio_first only PREPENDS a stream declaration: the decoded
    video is byte-identical to the single-stream form, and the
    container still round-trips through the chunk walker."""
    import hashlib

    from thrivefinancedatapipeline_spark.multimodal import avi

    px = hashlib.md5(b"order").digest() * 3  # 48 bytes = 4x4 RGB
    plain = avi.encode_avi_dib([px], 4, 4, fps=5)
    afirst = avi.encode_avi_dib([px], 4, 4, fps=5, audio_first=True)
    assert afirst != plain  # the audio strl is really in there
    dp = avi.decode_avi_frames(plain)
    da = avi.decode_avi_frames(afirst)
    assert [f["pixels"] for f in dp] == [f["pixels"] for f in da] == [px]
    assert avi.avi_stream_info(afirst)["handler"] == b"DIB "
    # container transparency holds in both forms
    assert avi.avi_frame_chunks(plain) == avi.avi_frame_chunks(afirst)


def test_dedup_cosine_tau_sweep_vs_duckdb_nesting_identity(spark, sf_dir):
    from thrivefinancedatapipeline_spark.operators.dedup import (
        COSINE_TAU_SWEEP,
        COSINE_TAU_SWEEP_ORACLE,
        COSINE_TAU,
        dedup_cosine_tau_sweep,
        q_dedup_embedding_lsh,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r) for r in dedup_cosine_tau_sweep(spark, d).collect()
        )
        want = sorted(
            tuple(r) for r in _duck(d, COSINE_TAU_SWEEP_ORACLE)
        )
        assert got == want, f"dedup_cosine_tau_sweep mismatch at {d}"
        # every swept cell present — a pair-killing threshold emits
        # its zero row instead of vanishing (degeneration detector)
        assert [r[0] for r in got] == sorted(COSINE_TAU_SWEEP)
        # one shared candidate denominator; pair counts NEST as the
        # threshold tightens (same scored relation, tighter filter)
        assert len({r[1] for r in got}) == 1
        counts = [r[2] for r in got]
        assert counts == sorted(counts, reverse=True)
        assert all(r[3] == r[2] * 1_000_000 // r[1] for r in got)
        # the registered point: pair count identical to the shipped
        # operator's output through the REGISTERED plan
        reg = q_dedup_embedding_lsh(spark, d).count()
        at_tau = {r[0]: r[2] for r in got}[int(COSINE_TAU * 1_000_000)]
        assert at_tau == reg, f"sweep disagrees with registered op at {d}"


def test_quality_gate_margin_sweep_vs_duckdb_nesting_identity(spark, sf_dir):
    from collections import defaultdict

    from pyspark.sql import functions as F

    from thrivefinancedatapipeline_spark.operators.quality import (
        GATE_KEEP_SWEEP,
        GATE_MARGIN_SWEEP_ORACLE,
        q_quality_gate_by_lang,
        quality_gate_margin_sweep,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r)
            for r in quality_gate_margin_sweep(spark, d).collect()
        )
        want = sorted(
            tuple(r) for r in _duck(d, GATE_MARGIN_SWEEP_ORACLE)
        )
        assert got == want, f"quality_gate_margin_sweep mismatch at {d}"
        # per-lang doc counts and chars NEST as the gate relaxes
        # (rank order fixed, keep threshold monotone)
        per_lang = defaultdict(dict)
        for keep_ppm, lang, n_docs, chars_kept, _cs in got:
            per_lang[lang][keep_ppm] = (n_docs, chars_kept)
        assert per_lang, "sweep emitted nothing"
        for lang, by_ppm in per_lang.items():
            pps = sorted(by_ppm)
            assert pps == sorted(GATE_KEEP_SWEEP), f"{lang} missing cells"
            docs = [by_ppm[p][0] for p in pps]
            chars = [by_ppm[p][1] for p in pps]
            assert docs == sorted(docs), f"{lang} doc counts not monotone"
            assert chars == sorted(chars), f"{lang} chars not monotone"
        # the registered median gate == the 500000 cells per lang
        reg = dict(
            (r["lang"], r["cnt"])
            for r in q_quality_gate_by_lang(spark, d)
            .groupBy("lang")
            .agg(F.count("*").alias("cnt"))
            .collect()
        )
        mid = {
            lang: by_ppm[500_000][0] for lang, by_ppm in per_lang.items()
        }
        assert mid == reg, f"sweep disagrees with registered gate at {d}"


def test_corpus_pipeline_attest_prod_vs_duckdb_and_shape(spark, sf_dir):
    from thrivefinancedatapipeline_spark.operators.quality import (
        PIPELINE_ATTEST_PROD_ORACLE,
        PIPELINE_PROD_STAGES,
        corpus_pipeline_attest_prod,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r)
            for r in corpus_pipeline_attest_prod(spark, d).collect()
        )
        want = sorted(
            tuple(r) for r in _duck(d, PIPELINE_ATTEST_PROD_ORACLE)
        )
        assert got == want, f"corpus_pipeline_attest_prod mismatch at {d}"
        by_ord = {r[0]: r for r in got}
        assert [by_ord[i][1] for i in range(1, 9)] == list(
            PIPELINE_PROD_STAGES
        )
        # the doc funnel (now incl. the quota stage) strictly filters
        doc_counts = [by_ord[i][2] for i in range(1, 6)]
        assert doc_counts == sorted(doc_counts, reverse=True)
        assert doc_counts[-1] > 0, "quota stage emptied the corpus"
        # quota never selects beyond the gate survivors' tokens
        assert by_ord[5][3] <= by_ord[4][3]
        # packing re-labels the unique chunks: token totals identical
        assert by_ord[7][3] == by_ord[8][3]
        assert all(by_ord[i][4] != 0 for i in range(1, 9))


def test_corpus_pipeline_attest_prod_matches_pipeline_report(
    spark, sf_dir
):
    """Identity with run_corpus_pipeline under BOTH production flags
    (token_budget_quota=True, dedup='priority')."""
    from thrivefinancedatapipeline_spark.operators.quality import (
        corpus_pipeline_attest_prod,
    )
    from thrivefinancedatapipeline_spark.pipeline import (
        run_corpus_pipeline,
    )

    report = run_corpus_pipeline(
        spark, sf_dir, token_budget_quota=True, dedup="priority"
    )
    by_ord = {
        r["stage_ord"]: r
        for r in (
            x.asDict()
            for x in corpus_pipeline_attest_prod(spark, sf_dir).collect()
        )
    }
    assert by_ord[1]["n_rows"] == report["n_documents"]
    assert by_ord[2]["n_rows"] == report["n_after_decontaminate"]
    assert by_ord[3]["n_rows"] == report["n_after_dedup"]
    assert by_ord[4]["n_rows"] == report["n_after_quality_gate"]
    assert by_ord[5]["n_rows"] == report["n_after_quota"]
    assert by_ord[5]["n_tokens"] == report["quota_tokens_selected"]
    assert by_ord[6]["n_rows"] == report["n_chunks"]
    assert by_ord[7]["n_rows"] == report["n_unique_chunks"]
    assert by_ord[8]["n_rows"] == report["n_packs"]
    assert by_ord[8]["n_tokens"] == report["total_tokens"]


def test_decontam_threshold_sweep_vs_duckdb_nesting_identity(spark, sf_dir):
    from thrivefinancedatapipeline_spark.operators.textops import (
        DECON_SWEEP_ORACLE,
        DECON_THRESHOLD_SWEEP,
        decontam_threshold_sweep,
        q_corpus_decontaminate,
    )

    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r)
            for r in decontam_threshold_sweep(spark, d).collect()
        )
        want = sorted(tuple(r) for r in _duck(d, DECON_SWEEP_ORACLE))
        assert got == want, f"decontam_threshold_sweep mismatch at {d}"
        assert [r[0] for r in got] == sorted(DECON_THRESHOLD_SWEEP)
        # one shared overlap denominator; flagged sets NEST as the
        # threshold rises (same counts, tighter filter)
        assert len({r[1] for r in got}) == 1
        flags = [r[2] for r in got]
        toks = [r[3] for r in got]
        assert flags == sorted(flags, reverse=True)
        assert toks == sorted(toks, reverse=True)
        # the m=1 row IS the registered rule: every overlapping doc
        reg = q_corpus_decontaminate(spark, d).count()
        assert flags[0] == reg == got[0][1]


def test_repeat_cap_sweep_vs_duckdb_monotone_identity(spark, sf_dir):
    from collections import defaultdict

    from thrivefinancedatapipeline_spark.operators.textops import (
        REPEAT_CAP_PPM,
        REPEAT_CAP_SWEEP,
        REPEAT_CAP_SWEEP_ORACLE,
        q_corpus_repeat_factors,
        repeat_cap_sweep,
    )

    assert REPEAT_CAP_PPM in REPEAT_CAP_SWEEP
    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r) for r in repeat_cap_sweep(spark, d).collect()
        )
        want = sorted(
            tuple(r) for r in _duck(d, REPEAT_CAP_SWEEP_ORACLE)
        )
        assert got == want, f"repeat_cap_sweep mismatch at {d}"
        per_lang = defaultdict(dict)
        for cap, lang, _nd, ntok, rep, eff in got:
            per_lang[lang][cap] = (rep, eff, ntok)
            assert rep <= cap  # the cap binds
            assert eff == ntok * rep // 1_000_000
        for lang, by_cap in per_lang.items():
            caps = sorted(by_cap)
            assert caps == sorted(REPEAT_CAP_SWEEP)
            reps = [by_cap[c][0] for c in caps]
            assert reps == sorted(reps), f"{lang} repeat not monotone"
        # the registered cap's rows == corpus_repeat_factors verbatim
        reg = {
            r["lang"]: r["repeat_ppm"]
            for r in q_corpus_repeat_factors(spark, d).collect()
        }
        mid = {
            lang: by_cap[REPEAT_CAP_PPM][0]
            for lang, by_cap in per_lang.items()
        }
        assert mid == reg, f"sweep disagrees with registered op at {d}"


def test_dedup_simhash_radius_sweep_vs_duckdb_nesting_identity(
    spark, sf_dir
):
    from thrivefinancedatapipeline_spark.operators.dedup import (
        SIM_BANDS,
        SIM_HAM_MAX,
        SIM_RADIUS_SWEEP,
        SIMHASH_RADIUS_SWEEP_ORACLE,
        dedup_simhash_radius_sweep,
        q_dedup_simhash_pairs,
    )

    # every swept radius stays inside the banding exactness guarantee
    assert max(SIM_RADIUS_SWEEP) == SIM_HAM_MAX == SIM_BANDS - 1
    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r)
            for r in dedup_simhash_radius_sweep(spark, d).collect()
        )
        want = sorted(
            tuple(r) for r in _duck(d, SIMHASH_RADIUS_SWEEP_ORACLE)
        )
        assert got == want, f"dedup_simhash_radius_sweep mismatch at {d}"
        assert [r[0] for r in got] == sorted(SIM_RADIUS_SWEEP)
        # pair counts NEST as the radius widens; the widest cell IS
        # the registered relation (count == the shared denominator)
        counts = [r[2] for r in got]
        assert counts == sorted(counts)
        assert len({r[1] for r in got}) == 1
        reg = q_dedup_simhash_pairs(spark, d).count()
        assert counts[-1] == reg == got[0][1]


def test_corpus_chunk_size_sweep_vs_duckdb_and_real_chunker(spark, sf_dir):
    """The analytic grid must agree with DuckDB AND, at the
    registered config, with the REAL chunker's own aggregate — the
    closed-form is verified by the operator it predicts."""
    from pyspark.sql import functions as F

    from thrivefinancedatapipeline_spark.operators.textops import (
        CHUNK_SIZE_GRID,
        CHUNK_SIZE_SWEEP_ORACLE,
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        corpus_chunk_size_sweep,
        q_corpus_chunk,
    )

    assert (CHUNK_TOKENS, CHUNK_STRIDE) in CHUNK_SIZE_GRID
    for d in _dirs(sf_dir):
        got = sorted(
            tuple(r) for r in corpus_chunk_size_sweep(spark, d).collect()
        )
        want = sorted(
            tuple(r) for r in _duck(d, CHUNK_SIZE_SWEEP_ORACLE)
        )
        assert got == want, f"corpus_chunk_size_sweep mismatch at {d}"
        assert [(r[0], r[1]) for r in got] == sorted(CHUNK_SIZE_GRID)
        # smaller windows emit MORE chunks; overhead >= 1e6 (overlap
        # only adds tokens) and grows as the window shrinks (same
        # 8-token overlap amortized over fewer tokens)
        by_ct = {r[0]: r for r in got}
        cts = sorted(by_ct)
        chunks = [by_ct[c][2] for c in cts]
        over = [by_ct[c][4] for c in cts]
        assert chunks == sorted(chunks, reverse=True)
        assert all(o >= 1_000_000 for o in over)
        assert over == sorted(over, reverse=True)
        # identity with the REAL chunker at the registered config
        real = (
            q_corpus_chunk(spark, d)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("n_tokens").cast("long")).alias("tok"),
            )
            .collect()[0]
        )
        cell = by_ct[CHUNK_TOKENS]
        assert cell[1] == CHUNK_STRIDE
        assert cell[2] == real["n"], f"chunk count formula wrong at {d}"
        assert cell[3] == real["tok"], f"token formula wrong at {d}"


def _simple_plan(df):
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="simple")
    return buf.getvalue()


def test_r13_sweep_plans_are_one_pass(spark, sf_dir):
    """The r13 sweeps' scale claims as PLAN pins: the swept dimension
    never multiplies the heavy pass. Checkpointed sweeps (cosine-tau,
    simhash-radius, decontam) show ZERO parquet scans (lineage
    severed — the documented localCheckpoint rule) and exactly two
    explodes (spine + grouped over the SAME materialized relation);
    the scan-based sweeps read their table ONCE with one explode."""
    import re

    from thrivefinancedatapipeline_spark.operators.dedup import (
        dedup_cosine_tau_sweep,
        dedup_simhash_radius_sweep,
    )
    from thrivefinancedatapipeline_spark.operators.quality import (
        quality_gate_margin_sweep,
    )
    from thrivefinancedatapipeline_spark.operators.textops import (
        corpus_chunk_size_sweep,
        decontam_threshold_sweep,
        repeat_cap_sweep,
    )

    # pure arithmetic over one scan: no window, no second pass
    p = _simple_plan(corpus_chunk_size_sweep(spark, sf_dir))
    assert p.count("Scan parquet") == 1
    assert p.count("Generate explode") == 1
    assert len(re.findall(r"\+- Window ", p)) == 0

    # one scan into the bounded per-lang aggregate; the two windows
    # are the |langs|-row total/count, never a data-dimension window
    p = _simple_plan(repeat_cap_sweep(spark, sf_dir))
    assert p.count("Scan parquet") == 1
    assert p.count("Generate explode") == 1
    assert len(re.findall(r"\+- Window ", p)) == 2

    # ONE lang shuffle serves both rank and size windows AND the
    # rollup (the explode preserves the partitioning columns); the
    # zero-cell spine costs one extra lang-only pruned scan and joins
    # by BROADCAST, never a sort-merge shuffle
    p = _simple_plan(quality_gate_margin_sweep(spark, sf_dir))
    assert p.count("Scan parquet") == 2
    assert p.count("Generate explode") == 2
    assert len(re.findall(r"\+- Window ", p)) == 2
    assert p.count("SortMergeJoin") == 0
    assert p.count("BroadcastExchange") == 1

    # checkpointed heavy pass: zero scans, spine + grouped explodes
    for fn in (
        dedup_cosine_tau_sweep,
        dedup_simhash_radius_sweep,
        decontam_threshold_sweep,
    ):
        p = _simple_plan(fn(spark, sf_dir))
        assert p.count("Scan parquet") == 0, fn.__name__
        assert p.count("Generate explode") == 2, fn.__name__


def test_chunk_size_formula_matches_brute_force_keep_rule():
    """The closed form under corpus_chunk_size_sweep, fuzzed over
    arbitrary (L, T, S) — the two-SF pins only exercise the swept
    grid; this explores the edges (L == T, L < S, S == T, L = 1):
    brute-force the chunker's own keep rule (s = 0 or s + T - S < L
    over stride multiples s <= L-1) and slice lengths, and the
    formula must agree exactly on both count and token total."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=400, deadline=None)
    @given(
        st.integers(min_value=1, max_value=300),
        st.integers(min_value=1, max_value=128),
        st.data(),
    )
    def check(L, T, data):
        S = data.draw(st.integers(min_value=1, max_value=T))
        starts = [
            s
            for s in range(0, L, S)
            if s == 0 or s + (T - S) < L
        ]
        brute_k = len(starts)
        brute_tok = sum(min(T, L - s) for s in starts)
        n_pos = (L - T + S - 1) // S if L > T else 0
        k = n_pos + 1
        tok = n_pos * T + min(T, L - n_pos * S)
        assert k == brute_k, (L, T, S)
        assert tok == brute_tok, (L, T, S)

    check()


def test_r13_nine_promoted_to_registered_catalog():
    """Round 13 registered the nine r12-staged prebuilds: all in the
    module QUERIES/ORACLES dicts (aggregated by the registry)."""
    from thrivefinancedatapipeline_spark.registry import (
        all_oracles,
        all_queries,
    )

    nine = {
        "corpus_pipeline_attest",
        "corpus_pipeline_attest_prod",
        "multimodal_codec_attest5",
        "dedup_cosine_tau_sweep",
        "quality_gate_margin_sweep",
        "decontam_threshold_sweep",
        "repeat_cap_sweep",
        "dedup_simhash_radius_sweep",
        "corpus_chunk_size_sweep",
    }
    qs, os_ = all_queries(), all_oracles()
    assert nine <= set(qs) and nine <= set(os_)
