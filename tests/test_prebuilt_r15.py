"""Round-15 operator, now registered: Spark == DuckDB at two SFs
plus identity pins to the registered batch operators.

The r14 theme closes the streaming verification gap the r13 verdict
named: the curation funnel's STREAMING head now carries the same
end-to-end oracle as the three ingestion sources — real JSONL drops,
the real streaming source, a multi-micro-batch availableNow drain,
and a DuckDB recompute of the whole funnel (shingles, blocklist,
clean rule, content dedup) from the original table."""

import os

import duckdb


def _dirs(sf_dir):
    return [
        d
        for d in (sf_dir, sf_dir.replace("sf0.001", "sf0.01"))
        if os.path.isdir(d)
    ]


def _match(spark, fn, sql, d):
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
        ),
    )
    from check_correctness import frame_hash

    sdf = fn(spark, d).toPandas()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{d}/{t}.parquet')"
        )
    odf = con.execute(sql).fetchdf()
    con.close()
    assert len(sdf) == len(odf)
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert frame_hash(sdf) == frame_hash(odf)
    return sdf


def test_corpus_funnel_stream_attest_vs_duckdb_end_to_end(spark, sf_dir):
    """JSONL export -> REAL streaming funnel (broadcast-blocklist
    decontamination + full-md5 dedup state across >= 2 micro-batches)
    -> availableNow drain == a DuckDB recompute of the entire funnel
    from the original table. Every emitted content group is a single
    row (n_variants == 1 unless two distinct texts collide in the
    60-bit checksum, which these corpora don't produce)."""
    from thrivefinancedatapipeline_spark.operators.textops import (
        FUNNEL_STREAM_ATTEST_ORACLE,
        q_corpus_funnel_stream_attest,
    )

    for d in _dirs(sf_dir):
        sdf = _match(spark, q_corpus_funnel_stream_attest,
                     FUNNEL_STREAM_ATTEST_ORACLE, d)
        assert (sdf.n_variants == 1).all()
        assert sdf.content_hash.is_unique


def test_corpus_funnel_stream_attest_identity_to_corpus_clean(
    spark, sf_dir
):
    """Cross-operator identity: the streaming funnel's emitted content
    set equals the registered BATCH corpus_clean deliverable's distinct
    content hashes — the two heads of the same funnel (one streaming,
    one batch) agree document-for-document on what ships."""
    from pyspark.sql import functions as F

    from thrivefinancedatapipeline_spark.datamodel import load_table
    from thrivefinancedatapipeline_spark.functions.text import md5_long
    from thrivefinancedatapipeline_spark.operators.textops import (
        QUERIES,
        q_corpus_funnel_stream_attest,
    )

    got = {
        r["content_hash"]
        for r in q_corpus_funnel_stream_attest(spark, sf_dir).collect()
    }
    clean_ids = QUERIES["corpus_clean"](spark, sf_dir).select("doc_id")
    want = {
        r["h"]
        for r in load_table(spark, sf_dir, "documents")
        .join(clean_ids, "doc_id")
        .select(md5_long(F.col("text")).alias("h"))
        .distinct()
        .collect()
    }
    assert got == want


def test_corpus_perplexity_buckets_vs_duckdb_two_sf(spark, sf_dir):
    """Spark == DuckDB at two SFs, plus the definition invariants:
    buckets are 1..3 per language, ntile sizes differ by <= 1 within a
    language, bucket score ranges are non-overlapping in order (ties
    may touch at the boundary, never cross), and every score is
    non-negative (bits = ilog2(N) - ilog2(n) >= 0 by construction)."""
    from thrivefinancedatapipeline_spark.operators.textops import (
        PERPLEXITY_BUCKETS_ORACLE,
        q_corpus_perplexity_buckets,
    )

    for d in _dirs(sf_dir):
        sdf = _match(spark, q_corpus_perplexity_buckets,
                     PERPLEXITY_BUCKETS_ORACLE, d)
        assert set(sdf.bucket) <= {1, 2, 3}
        assert (sdf.min_avg_bits_ppm >= 0).all()
        assert (sdf.max_avg_bits_ppm >= sdf.min_avg_bits_ppm).all()
        for lang, g in sdf.groupby("lang"):
            sizes = g.n_docs.tolist()
            assert max(sizes) - min(sizes) <= 1, (lang, sizes)
            g = g.sort_values("bucket")
            for (_, lo), (_, hi) in zip(g.iterrows(), g.iloc[1:].iterrows()):
                assert lo.max_avg_bits_ppm <= hi.min_avg_bits_ppm


def test_corpus_perplexity_buckets_exact_python_recompute(spark, sf_dir):
    """Implementation-independent semantics pin: a plain-Python
    recompute of the whole chain (normalize -> bigrams -> corpus
    counts -> integer bits via int.bit_length -> per-language ntile
    by (avg_bits_ppm, doc_id)) reproduces every output cell at
    sf0.001."""
    import re
    from collections import Counter

    import duckdb as _duck

    from thrivefinancedatapipeline_spark.operators.textops import (
        q_corpus_perplexity_buckets,
    )

    rows = _duck.connect().execute(
        f"SELECT doc_id, text, lang FROM "
        f"read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
    ).fetchall()

    def toks(t):
        return re.sub(r"\s+", " ", t).strip().lower().split(" ")

    per_doc = []
    corpus = Counter()
    for doc_id, text, lang in rows:
        bgs = ["%s %s" % p for p in zip(toks(text), toks(text)[1:])]
        corpus.update(bgs)
        per_doc.append((doc_id, lang, bgs))
    lbits = sum(corpus.values()).bit_length() - 1
    scored = {}
    for doc_id, lang, bgs in per_doc:
        if not bgs:
            continue
        bits = sum(lbits - (corpus[b].bit_length() - 1) for b in bgs)
        scored.setdefault(lang, []).append(
            (bits * 1_000_000 // len(bgs), doc_id, bits)
        )
    want = {}
    for lang, docs in scored.items():
        docs.sort()
        q, r = divmod(len(docs), 3)
        start = 0
        for b in range(1, 4):
            size = q + (1 if b <= r else 0)
            chunk = docs[start:start + size]
            start += size
            if not chunk:
                continue
            want[(lang, b)] = (
                len(chunk),
                sum(c[2] for c in chunk),
                min(c[0] for c in chunk),
                max(c[0] for c in chunk),
            )
    got = {
        (r["lang"], r["bucket"]): (
            r["n_docs"], r["total_bits"],
            r["min_avg_bits_ppm"], r["max_avg_bits_ppm"],
        )
        for r in q_corpus_perplexity_buckets(spark, sf_dir).collect()
    }
    assert got == want


def test_dedup_simhash_wide_pairs_vs_duckdb_two_sf(spark, sf_dir):
    """Spark == DuckDB at two SFs for the 120-bit wide simhash pairs
    (the r14 scale-up probe's candidate-volume fix), plus shape
    invariants: canonical pair order and hamming <= 3."""
    from thrivefinancedatapipeline_spark.operators.dedup import (
        SIMHASH_WIDE_PAIRS_ORACLE,
        q_dedup_simhash_wide_pairs,
    )

    for d in _dirs(sf_dir):
        sdf = _match(spark, q_dedup_simhash_wide_pairs,
                     SIMHASH_WIDE_PAIRS_ORACLE, d)
        if len(sdf):
            assert (sdf.doc_id_1 < sdf.doc_id_2).all()
            assert sdf.hamming.between(0, 3).all()


def test_dedup_simhash_wide_pairs_exact_python_recompute(spark, sf_dir):
    """Implementation-independent semantics pin at sf0.001: a plain
    Python recompute of the 120-bit fingerprint (disjoint md5 slices,
    majority bits) and a BRUTE-FORCE all-pairs hamming scan — so the
    banding's complete-recall guarantee (<= 3 flips leave >= 1 of 4
    30-bit bands intact) is checked against an implementation with no
    banding at all."""
    import hashlib
    import re as _re

    import duckdb as _duck

    from thrivefinancedatapipeline_spark.operators.dedup import (
        q_dedup_simhash_wide_pairs,
    )

    rows = _duck.connect().execute(
        f"SELECT doc_id, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
    ).fetchall()

    def fingerprint(text):
        toks = list(dict.fromkeys(
            _re.sub(r"\s+", " ", text).strip().lower().split(" ")
        ))
        lo_counts = [0] * 60
        hi_counts = [0] * 60
        for t in toks:
            hx = hashlib.md5(t.encode()).hexdigest()
            h, h2 = int(hx[:15], 16), int(hx[15:30], 16)
            for i in range(60):
                lo_counts[i] += (h >> i) & 1
                hi_counts[i] += (h2 >> i) & 1
        n = len(toks)
        lo = sum(1 << i for i in range(60) if 2 * lo_counts[i] > n)
        hi = sum(1 << i for i in range(60) if 2 * hi_counts[i] > n)
        return lo, hi

    fps = {doc_id: fingerprint(text) for doc_id, text in rows}
    want = set()
    ids = sorted(fps)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ham = (
                bin(fps[a][0] ^ fps[b][0]).count("1")
                + bin(fps[a][1] ^ fps[b][1]).count("1")
            )
            if ham <= 3:
                want.add((a, b, ham))
    got = {
        (r["doc_id_1"], r["doc_id_2"], r["hamming"])
        for r in q_dedup_simhash_wide_pairs(spark, sf_dir).collect()
    }
    assert got == want


def test_simhash_wide_fingerprint_edge_cases(spark):
    """Degenerate-text pin for the wide fingerprint helper on a
    synthetic frame: empty text, single token, repeated token,
    whitespace runs and mixed case all reproduce the exact Python
    fingerprint (disjoint md5 slices, majority bits) — the cells the
    parquet corpora may not cover densely."""
    import hashlib
    import re as _re

    from thrivefinancedatapipeline_spark.operators.dedup import (
        _simhash_wide_df,
    )

    texts = [
        "",
        " ",
        "one",
        "one one one",
        "  Mixed   CASE    and\truns ",
        "a b c d e f g h i j",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )

    def fingerprint(text):
        toks = list(dict.fromkeys(
            _re.sub(r"\s+", " ", text).strip().lower().split(" ")
        ))
        lo = hi = 0
        n = len(toks)
        for i in range(60):
            lc = hc = 0
            for t in toks:
                hx = hashlib.md5(t.encode()).hexdigest()
                lc += (int(hx[:15], 16) >> i) & 1
                hc += (int(hx[15:30], 16) >> i) & 1
            if 2 * lc > n:
                lo |= 1 << i
            if 2 * hc > n:
                hi |= 1 << i
        return lo, hi

    got = {
        r["doc_id"]: (r["sim_lo"], r["sim_hi"])
        for r in _simhash_wide_df(docs).collect()
    }
    want = {i: fingerprint(t) for i, t in enumerate(texts)}
    assert got == want
