"""Round-14 operators, now registered: Spark == DuckDB at two SFs
plus per-operator invariants.

The r13 theme is ingestion-to-checksum attestation: both raw sources
(binaryFile and wholetext) now carry an END-TO-END oracle — real files
written to disk, ingested back through the production source, decoded
/ checksummed, and compared against SQL computed straight from
md5(text) over the original table — plus two knob curves (MinHash
signature width, mixture sampling temperature), each identity-pinned
to its registered operator."""

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


def test_ingestion_codec_attest_vs_duckdb_end_to_end(spark, sf_dir):
    """write -> binaryFile ingest -> decode == SQL from md5(text):
    every document round-trips through a REAL file on disk; the
    content-hash id convention (doc_id == md5(payload), full 128-bit
    hex) is attested per row, and the byte length pins the canonical
    44-byte WAV header."""
    from thrivefinancedatapipeline_spark.multimodal.binary_ops import (
        INGEST_ATTEST_ORACLE,
        q_ingestion_codec_attest,
    )

    for d in _dirs(sf_dir):
        sdf = _match(spark, q_ingestion_codec_attest,
                     INGEST_ATTEST_ORACLE, d)
        assert (sdf.id_ok == 1).all()
        assert (sdf.n_bytes == 108).all()
        assert sdf.doc_id.is_unique


def test_ingestion_text_attest_vs_duckdb_collapse(spark, sf_dir):
    """wholetext round trip is byte-exact and the content-hash id
    collapses every copy across shard dirs: each content group counts
    BOTH shard copies of every original document sharing the text
    (n_files even, >= 2), and the checksum of the ROUND-TRIPPED text
    equals md5 of the original computed in SQL."""
    from thrivefinancedatapipeline_spark.operators.textops import (
        INGEST_TEXT_ATTEST_ORACLE,
        q_ingestion_text_attest,
    )

    for d in _dirs(sf_dir):
        sdf = _match(spark, q_ingestion_text_attest,
                     INGEST_TEXT_ATTEST_ORACLE, d)
        assert (sdf.n_files >= 2).all()
        assert (sdf.n_files % 2 == 0).all()
        assert sdf.rep_doc_id.is_unique


def test_dedup_minhash_perm_sweep_vs_duckdb_shape(spark, sf_dir):
    """Signature-width curve: Spark == DuckDB at both SFs; the pair
    relation is width-INDEPENDENT (same n_pairs and same membership
    checksum on every row — the sweep varies only the estimator), and
    every error is a valid ppm (abs of a difference of two [0, 1e6]
    shares, so <= 1e6; mean <= max)."""
    from thrivefinancedatapipeline_spark.operators.dedup import (
        MINHASH_PERM_SWEEP_ORACLE,
        PERM_SWEEP,
        dedup_minhash_perm_sweep,
    )

    for d in _dirs(sf_dir):
        sdf = _match(spark, dedup_minhash_perm_sweep,
                     MINHASH_PERM_SWEEP_ORACLE, d)
        assert sorted(sdf.n_perms) == sorted(PERM_SWEEP)
        assert sdf.n_pairs.nunique() == 1
        assert sdf.pairs_checksum.nunique() == 1
        assert (sdf.mean_abs_err_ppm <= sdf.max_abs_err_ppm).all()
        assert (sdf.max_abs_err_ppm <= 1_000_000).all()
        assert (sdf.mean_abs_err_ppm >= 0).all()


def test_dedup_minhash_perm_sweep_exact_python_recompute(spark, sf_dir):
    """The full estimator math recomputed EXACTLY in Python at the
    small SF: rebuild shingles, signatures, the registered banding's
    candidate pairs, exact Jaccard, and the per-width estimates from
    first principles (pure int arithmetic off hashlib.md5) and demand
    the operator's aggregate rows equal the recompute — an
    implementation-independent pin, not a second run of the same
    plan."""
    import hashlib
    import re

    from thrivefinancedatapipeline_spark.operators.dedup import (
        A,
        B,
        K,
        NB,
        P,
        PERM_SWEEP,
        R,
        _MPS_NS,
        dedup_minhash_perm_sweep,
    )

    d = sf_dir  # sf0.001 only: the recompute is O(pairs)
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{d}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }

    def md5_long(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    shingles = {}
    for doc_id, text in docs.items():
        toks = re.sub(r"\s+", " ", text).strip().lower().split(" ")
        shs = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }
        if shs:
            shingles[doc_id] = shs
    sigs = {}
    for doc_id, shs in shingles.items():
        hs = [md5_long(s) % P for s in shs]
        sigs[doc_id] = [
            min((A[j] * h + B[j]) % P for h in hs) for j in range(K)
        ]
    buckets = {}
    for doc_id, m in sigs.items():
        for b in range(NB):
            key = (b, tuple(m[b * R + r] for r in range(R)))
            buckets.setdefault(key, []).append(doc_id)
    cand = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cand.add((ids[i], ids[j]))
    rows = {}
    for n in PERM_SWEEP:
        errs, cs = [], 0
        for i1, i2 in cand:
            s1, s2 = shingles[i1], shingles[i2]
            common = len(s1 & s2)
            exact = common * 1_000_000 // (len(s1) + len(s2) - common)
            match = sum(
                1 for j in range(n) if sigs[i1][j] == sigs[i2][j]
            )
            errs.append(abs(match * 1_000_000 // n - exact))
            cs ^= md5_long(f"{_MPS_NS}{i1}:{i2}")
        rows[n] = (
            len(cand),
            (sum(errs) // len(cand)) if cand else 0,
            max(errs) if errs else 0,
            cs,
        )
    got = {
        int(r["n_perms"]): (
            int(r["n_pairs"]),
            int(r["mean_abs_err_ppm"]),
            int(r["max_abs_err_ppm"]),
            int(r["pairs_checksum"]),
        )
        for r in dedup_minhash_perm_sweep(spark, d).collect()
    }
    # Python ^ on positive ints vs Spark bit_xor on signed longs —
    # both stay below 2^60 here, so direct equality holds
    assert got == rows


def test_mixture_temperature_sweep_vs_duckdb_identity(spark, sf_dir):
    """Temperature curve: Spark == DuckDB at both SFs; the T=1 rows
    are IDENTICAL to the registered corpus_mixture_weights shares;
    every temperature's weights sum to at most 1e6 (floor-div losses
    only: at least 1e6 - n_cells); and the T=4 distribution is no
    more peaked than T=1 on its max cell (flattening direction, pinned
    loosely — floors can wobble ties on tiny corpora)."""
    from thrivefinancedatapipeline_spark.operators.textops import (
        MIXTURE_TEMP_SWEEP_ORACLE,
        QUERIES,
        mixture_temperature_sweep,
    )

    for d in _dirs(sf_dir):
        sdf = _match(spark, mixture_temperature_sweep,
                     MIXTURE_TEMP_SWEEP_ORACLE, d)
        reg = QUERIES["corpus_mixture_weights"](spark, d).toPandas()
        t1 = (
            sdf[sdf.t_temp == 1]
            .set_index(["lang", "source"])
            .weight_ppm.sort_index()
        )
        rg = reg.set_index(["lang", "source"]).share_ppm.sort_index()
        assert (t1 == rg).all()
        for t in sdf.t_temp.unique():
            w = sdf[sdf.t_temp == t].weight_ppm
            assert 1_000_000 - len(w) <= w.sum() <= 1_000_000
        # flattening: T=4's most-sampled cell takes no larger a share
        # than T=1's (strictly smaller on any non-uniform corpus)
        assert (
            sdf[sdf.t_temp == 4].weight_ppm.max()
            <= sdf[sdf.t_temp == 1].weight_ppm.max()
        )


def test_ingestion_stream_attest_vs_duckdb_end_to_end(spark, sf_dir):
    """export as JSONL -> REAL streaming source -> availableNow drain
    -> sink == SQL from the original table: every document rides the
    streaming path exactly once with (lang, source) intact and
    byte-exact text (md5 checksum parity); doc ids unique in the
    drained sink (exactly-once, no re-emission within one drain)."""
    from thrivefinancedatapipeline_spark.operators.textops import (
        INGEST_STREAM_ATTEST_ORACLE,
        q_ingestion_stream_attest,
    )

    for d in _dirs(sf_dir):
        sdf = _match(spark, q_ingestion_stream_attest,
                     INGEST_STREAM_ATTEST_ORACLE, d)
        assert sdf.doc_id.is_unique


def _simple_plan(df):
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="simple")
    return buf.getvalue()


def test_r14_sweep_plans_are_one_pass(spark, sf_dir):
    """The r14 sweeps' scale claims as PLAN pins (the r13 discipline):
    the swept dimension never multiplies the heavy pass."""
    import re

    from thrivefinancedatapipeline_spark.operators.dedup import (
        dedup_minhash_perm_sweep,
    )
    from thrivefinancedatapipeline_spark.operators.textops import (
        mixture_temperature_sweep,
    )

    # checkpointed scored relation: zero scans (lineage severed),
    # exactly two explodes — the estimate structs + the spine — and
    # the band/sig/array join subtree appears NOWHERE (it ran once at
    # checkpoint time; without the checkpoint it was duplicated under
    # the spine: 6 explodes, measured)
    p = _simple_plan(dedup_minhash_perm_sweep(spark, sf_dir))
    assert p.count("Scan parquet") == 0
    assert p.count("Generate explode") == 2

    # one column-pruned scan into the bounded (lang, source)
    # aggregate (partial agg map-side), one explode of the swept
    # temps over that aggregate, one window partitioned by the sweep
    # key — never a data-dimension window
    p = _simple_plan(mixture_temperature_sweep(spark, sf_dir))
    assert p.count("Scan parquet") == 1
    assert p.count("Generate explode") == 1
    assert len(re.findall(r"\+- Window ", p)) == 1
    assert "partial_sum" in p  # map-side combine reached the scan


def test_floor_sqrt_engine_exactness_property():
    """The engine-stability claim under mixture_temperature_sweep,
    fuzzed: floor(sqrt(x)) computed through an IEEE double (what both
    Spark and DuckDB evaluate) equals the exact integer sqrt for
    x across the full claimed range — including the adversarial
    neighborhoods k^2-1 / k^2 / k^2+1 where a misrounded sqrt would
    flip the floor, and the iterated form equals the exact 4th
    root."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    def via_double(x):
        return math.floor(math.sqrt(x))

    @settings(max_examples=300, deadline=None)
    @given(st.integers(min_value=0, max_value=1 << 52))
    def check(x):
        assert via_double(x) == math.isqrt(x)
        assert via_double(via_double(x)) == math.isqrt(math.isqrt(x))

    check()

    # adversarial boundaries: every k^2 +/- 1 for k spanning token
    # magnitudes up to the 2^26 edge of the claimed bound
    for k in [1, 2, 3, 255, 256, 65_535, 65_536, (1 << 26) - 1, 1 << 26]:
        for x in (k * k - 1, k * k, k * k + 1):
            if x >= 0:
                assert via_double(x) == math.isqrt(x)
