"""Round-16 operators, now registered: Spark == DuckDB at two SFs
plus identity/nesting pins to the registered operators.

The r15 theme extends the wide-simhash scale path's instrumentation:
the 120-bit relation is now the documented pair source for the graph
consumers above SIMHASH_WIDE_THRESHOLD_DOCS, so its radius curve (not
the 60-bit one) prices their pair volume; and rows-per-band=8 is
minhash's measured candidate-volume scale point (SCALEUP100_r14:
4.2M candidates at r=4 vs 170k at r=8 on 500k derived docs)."""

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
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet')"
    )
    odf = con.execute(sql).fetchdf()
    con.close()
    assert len(sdf) == len(odf)
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert frame_hash(sdf) == frame_hash(odf)
    return sdf


def test_wide_radius_sweep_vs_duckdb_two_sf(spark, sf_dir):
    """Spark == DuckDB at two SFs, plus the sweep invariants the
    registered 60-bit sweep pins: radii are exactly SIM_RADIUS_SWEEP,
    pair counts NEST (non-decreasing with radius), and the widest
    cell equals the full registered wide relation (count identity)."""
    from thrivefinancedatapipeline_spark.operators.dedup import (
        SIM_RADIUS_SWEEP,
        SIMHASH_WIDE_RADIUS_SWEEP_ORACLE,
        dedup_simhash_wide_radius_sweep,
        q_dedup_simhash_wide_pairs,
    )

    for d in _dirs(sf_dir):
        sdf = _match(spark, dedup_simhash_wide_radius_sweep,
                     SIMHASH_WIDE_RADIUS_SWEEP_ORACLE, d)
        assert sorted(sdf.ham_max) == sorted(SIM_RADIUS_SWEEP)
        s = sdf.sort_values("ham_max")
        assert s.n_pairs.is_monotonic_increasing
        n_wide = q_dedup_simhash_wide_pairs(spark, d).count()
        widest = s[s.ham_max == max(SIM_RADIUS_SWEEP)]
        assert int(widest.n_pairs.iloc[0]) == n_wide
        assert (s.n_pairs_widest == n_wide).all()


def test_wide_radius_sweep_namespace_disjoint():
    """The wide sweep's checksum namespace differs from the 60-bit
    sweep's — identical (doc_id_1, doc_id_2) pair sets in the two
    sweeps must not produce colliding checksums (the disjoint-slice
    discipline applied to attestation hashes)."""
    from thrivefinancedatapipeline_spark.operators.dedup import (
        _SRS_NS,
        _SRSW_NS,
    )

    assert _SRS_NS != _SRSW_NS


def test_minhash_lsh_r8_vs_duckdb_two_sf(spark, sf_dir):
    """Spark == DuckDB at two SFs for the r=8 pair finder, plus shape
    invariants: canonical order and the exact-Jaccard verify bound."""
    from thrivefinancedatapipeline_spark.operators.dedup import (
        JACCARD_DEN,
        JACCARD_NUM,
        MINHASH_LSH_R8_ORACLE,
        q_dedup_minhash_lsh_r8,
    )

    for d in _dirs(sf_dir):
        sdf = _match(spark, q_dedup_minhash_lsh_r8,
                     MINHASH_LSH_R8_ORACLE, d)
        assert len(sdf), "vacuous pin: no r8 pairs at this SF"
        assert (sdf.doc_id_1 < sdf.doc_id_2).all()
        union = sdf.shingles_1 + sdf.shingles_2 - sdf.common_shingles
        assert (
            JACCARD_DEN * sdf.common_shingles >= JACCARD_NUM * union
        ).all()


def test_minhash_lsh_r8_nests_in_registered_r4(spark, sf_dir):
    """Banding at r=8 implies BOTH constituent r=4 bands match, so the
    r8 candidate set — and therefore the identically-verified pair
    set — is a subset of the registered q_dedup_minhash_lsh's. The
    difference is the recall the wider banding trades away — strict
    at sf0.001 (27 vs 28 pairs, measured; also strict at sf0.1 where
    the band sweep prices 246 vs 256) so the subset pin can actually
    fail; the sets happen to coincide at sf0.01."""
    from thrivefinancedatapipeline_spark.operators.dedup import (
        q_dedup_minhash_lsh,
        q_dedup_minhash_lsh_r8,
    )

    for d in _dirs(sf_dir):
        r8 = {
            (r["doc_id_1"], r["doc_id_2"])
            for r in q_dedup_minhash_lsh_r8(spark, d).collect()
        }
        r4 = {
            (r["doc_id_1"], r["doc_id_2"])
            for r in q_dedup_minhash_lsh(spark, d).collect()
        }
        assert r8 <= r4
        if d.endswith("sf0.001"):
            assert r8 < r4, "r8 == r4 at sf0.001: banding knob vacuous"
