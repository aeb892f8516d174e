"""Standing end-of-round scale gate: value parity + wall ratios ABOVE
the bench SF, produced by ONE command (r15 verdict item 5).

r15 proved the derived single-file corpus is a valid
SPARK_GRAFT_SF_DIR target (15 queries hash-exact vs DuckDB at x32,
both r15 registrations at x100). This tool makes that check standing:
it builds the xM corpus ONCE (tools/scaleup_probe.build_scaled_dir —
half-spliced docs, single-file sf-dir layout, ROW_GROUP_SIZE 5000),
then on the same session

1. times the registered-path wide/scale targets at sf0.1 vs xM
   (the scaleup_probe warmup + noop-sink protocol), and
2. runs the check_correctness compare (row count + column set +
   order-insensitive value hash vs DuckDB) for the standing heavy
   dedup/text/ANN subset at xM,

and emits one JSON object with both sections. With --round N it also
writes SCALEUP_r{N}.json at the repo root (the artifact the judge
reads next to BENCH_r{N}.json).

Usage:
    python tools/scaleup_gate.py [--round N] [M]      # default M=32
    python tools/scaleup_gate.py 320 --timing a,b --parity a,b
                                  # subset overrides for extreme-M
                                  # volume-only runs (pair-finding ops
                                  # go density-quadratic by data
                                  # construction at large M)

Graph consumers are excluded from the DuckDB parity subset by design:
their registered default is the guarded 60-bit relation (sub-threshold
path), and a 37M-pair recursive CTE at x32 would stress DuckDB, not
the engine. Instead (r16 verdict item 5) they get their own VALUE
parity section: the wide pair relation is computed once at xM, the
distributed clusters_star + kcore consumers ride it via pairs_fn, and
each is checksum-compared against a bounded exact driver-side
recompute (min-label union-find / degree peel) from the same collected
edge list — one checksum-equality line per consumer in the artifact.
Skip with --no-graph (extreme-M volume-only runs, where derived pair
density is a stress bound, not a plan property).

Pair-density caveat (scaleup_probe docstring): derived halves are
reused ~M times, so pair-finding ratios at large M are stress bounds,
not plan properties — read them against the band-sweep candidate
model. Volume ops' ratios are trustworthy.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# check_correctness puts the repo root on sys.path and PYTHONPATH
from check_correctness import ROOT, TABLES, compare_frames  # noqa: E402
from scaleup_probe import BASE, _extra_probes, build_scaled_dir  # noqa: E402

#: timing targets — every registered wide/scale operator plus the two
#: graph consumers riding the registered 120-bit relation via pairs_fn
TIMING_QUERIES = [
    "dedup_simhash_wide_pairs",
    "dedup_simhash_wide_radius_sweep",
    "dedup_minhash_lsh_r8",
    "corpus_perplexity_buckets",
    "dedup_clusters_star_wide",
    "dedup_pagerank_wide",
]

#: standing parity subset — the heavy dedup/text/ANN family the r15
#: round proved at x32, plus the r16 registrations (their scale points)
PARITY_QUERIES = [
    "dedup_exact",
    "dedup_simhash",
    "dedup_simhash_wide_pairs",
    "dedup_simhash_wide_radius_sweep",
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_r8",
    "dedup_containment",
    "corpus_perplexity_buckets",
    "corpus_vocabulary",
    "corpus_length_histogram",
    "text_token_count",
    "text_quality_score",
    "text_lang_id",
    "text_fingerprint",
    "text_tfidf_top_terms",
    "knn_bruteforce_cosine",
    "embedding_centroids",
]


#: ceiling on the wide-pair relation the driver-side exact recomputes
#: will collect (mirrors dedup.DRIVER_CC_MAX_EDGES' role): the
#: recomputes are O(rounds * E) pure Python after an Arrow transfer,
#: and derived pair density grows ~M^2 — above this, record a skip
#: instead of OOMing the driver hours into a timing run. x320 measured
#: 12.56M pairs and completed comfortably; 24M is ~2x that headroom.
GRAPH_PARITY_MAX_EDGES = int(
    os.environ.get("SPARK_GRAFT_GRAPH_PARITY_MAX_EDGES", 24_000_000)
)


def _graph_consumer_parity(spark, xm_dir: str) -> dict:
    """Value parity for the wide-relation graph consumers at xM
    (r16 verdict item 5): distributed clusters_star and kcore vs
    bounded exact Python recomputes over the SAME wide pair relation.

    The wide pairs are computed ONCE and localCheckpointed; both
    distributed consumers ride the pinned relation via pairs_fn, and
    the exact recomputes (min-label union-find; degree-peel to the
    k-core fixpoint) run on the collected edge list — bounded like a
    broadcast threshold (254k edges at x32, 1.5M at x100; Arrow
    transfer, driver-side ints). Each consumer emits one
    checksum-equality verdict: md5 over sorted "id|label" lines,
    computed identically from both sides."""
    import hashlib

    from thrivefinancedatapipeline_spark.operators.dedup import (
        KCORE_K,
        PR_DAMP_DEN,
        PR_DAMP_NUM,
        PR_ITERS,
        PR_TOTAL,
        kcore_decompose,
        q_dedup_clusters_star,
        q_dedup_pagerank,
        q_dedup_simhash_wide_pairs,
    )

    wide = q_dedup_simhash_wide_pairs(spark, xm_dir).localCheckpoint(
        eager=True
    )
    n_wide = wide.count()
    if n_wide > GRAPH_PARITY_MAX_EDGES:
        return {
            "wide_pairs": n_wide,
            "skipped": (
                f"wide-pair relation exceeds the driver recompute "
                f"ceiling ({n_wide} > {GRAPH_PARITY_MAX_EDGES}); "
                f"raise SPARK_GRAFT_GRAPH_PARITY_MAX_EDGES to force"
            ),
        }
    pdf = wide.select("doc_id_1", "doc_id_2").toPandas()
    edges = list(zip(pdf["doc_id_1"].tolist(), pdf["doc_id_2"].tolist()))

    def checksum(mapping: dict) -> str:
        lines = sorted(f"{k}|{v}" for k, v in mapping.items())
        return hashlib.md5("\n".join(lines).encode()).hexdigest()

    out: dict = {"wide_pairs": len(edges)}

    # --- clusters_star vs exact min-label union-find over all docs ---
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    doc_ids = (
        spark.read.parquet(os.path.join(xm_dir, "documents.parquet"))
        .select("doc_id")
        .toPandas()["doc_id"]
        .tolist()
    )
    exact_cc = {d: find(d) for d in doc_ids}
    got_cc = q_dedup_clusters_star(
        spark, xm_dir, pairs_fn=lambda s, d: wide
    ).toPandas()
    spark_cc = dict(
        zip(got_cc["doc_id"].tolist(), got_cc["cluster_id"].tolist())
    )
    cs_e, cs_s = checksum(exact_cc), checksum(spark_cc)
    out["clusters_star"] = {
        "n_docs": len(doc_ids),
        "checksum_exact": cs_e,
        "checksum_spark": cs_s,
        "match": cs_e == cs_s,
    }

    # --- kcore vs exact degree peel to the unique k-core fixpoint ---
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    while True:
        drop = {v for v in alive if len(adj[v] & alive) < KCORE_K}
        if not drop:
            break
        alive -= drop
    exact_core = {v: len(adj[v] & alive) for v in alive}
    got_kc = kcore_decompose(
        spark, xm_dir, pairs_fn=lambda s, d: wide
    ).toPandas()
    spark_core = dict(
        zip(got_kc["doc_id"].tolist(), got_kc["core_deg"].tolist())
    )
    cs_e, cs_s = checksum(exact_core), checksum(spark_core)
    out["kcore"] = {
        "core_size": len(exact_core),
        "checksum_exact": cs_e,
        "checksum_spark": cs_s,
        "match": cs_e == cs_s,
    }

    # --- pagerank vs exact integer power iteration (the operator's
    # published formulation is all positive integer floor-divisions,
    # so a Python mirror reproduces it bit-for-bit) ---
    deg: dict = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    n = len(doc_ids)
    mass0 = PR_TOTAL // n
    base = ((PR_DAMP_DEN - PR_DAMP_NUM) * mass0) // PR_DAMP_DEN
    mass = {d: mass0 for d in doc_ids}
    for _ in range(PR_ITERS):
        insum: dict = {}
        for a, b in edges:
            insum[b] = insum.get(b, 0) + mass[a] // deg[a]
            insum[a] = insum.get(a, 0) + mass[b] // deg[b]
        mass = {
            d: base + (PR_DAMP_NUM * insum.get(d, 0)) // PR_DAMP_DEN
            for d in doc_ids
        }
    exact_pr = {
        d: f"{deg.get(d, 0)}:{mass[d]}" for d in doc_ids
    }
    got_pr = q_dedup_pagerank(
        spark, xm_dir, pairs_fn=lambda s, d: wide
    ).toPandas()
    spark_pr = {
        r.doc_id: f"{r.degree}:{r.mass_scaled}"
        for r in got_pr.itertuples(index=False)
    }
    cs_e, cs_s = checksum(exact_pr), checksum(spark_pr)
    out["pagerank"] = {
        "n_docs": len(exact_pr),
        "checksum_exact": cs_e,
        "checksum_spark": cs_s,
        "match": cs_e == cs_s,
    }
    return out


def main() -> None:
    import duckdb

    from thrivefinancedatapipeline_spark.session import get_spark

    import __spark_entry__ as entrymod

    argv = sys.argv[1:]
    rnd = None
    timing_names = TIMING_QUERIES
    parity_names = PARITY_QUERIES
    run_graph = True
    if "--no-graph" in argv:
        run_graph = False
        argv.remove("--no-graph")
    if "--round" in argv:
        i = argv.index("--round")
        rnd = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]
    if "--timing" in argv:
        i = argv.index("--timing")
        timing_names = [s for s in argv[i + 1].split(",") if s]
        if not timing_names:
            # empty subset would exit 0 having run nothing —
            # green-by-vacuity, forbidden for subset tools
            print("ERROR: --timing parsed to an empty query list")
            raise SystemExit(2)
        argv = argv[:i] + argv[i + 2:]
    if "--parity" in argv:
        i = argv.index("--parity")
        parity_names = [s for s in argv[i + 1].split(",") if s]
        if not parity_names:
            print("ERROR: --parity parsed to an empty query list")
            raise SystemExit(2)
        argv = argv[:i] + argv[i + 2:]
    m = int(argv[0]) if argv else 32

    # validate names BEFORE paying the SparkSession spin-up: only the
    # query registry is needed for the green-by-vacuity guard
    qs = {**entrymod.queries(), **_extra_probes()}
    oracles = entrymod.oracle_sql()
    unknown = sorted(
        (set(timing_names) | set(parity_names)) - set(qs)
    )
    if unknown:
        print(f"ERROR: unknown queries: {unknown}")
        raise SystemExit(2)

    # private warehouse: hermetic against concurrent pytest/sweeps
    wh = tempfile.mkdtemp(prefix="tfdp-wh-gate-")
    spark = get_spark("scaleup-gate", warehouse_dir=wh)
    # single-file derived tables are only as parallel as their row
    # groups — split to row-group granularity (the r15 layout lesson)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(2 * 1024 * 1024))

    out_dir = tempfile.mkdtemp(prefix="scaleup_gate_sf_")
    result: dict = {"m": m}
    if rnd is not None:
        result["round"] = rnd
    try:
        t0 = time.perf_counter()
        build_scaled_dir(spark, out_dir, m)
        result["build_s"] = round(time.perf_counter() - t0, 1)

        def force(df):
            df.write.mode("overwrite").format("noop").save()

        timing: dict = {}
        for name in timing_names:
            per: dict[str, float] = {}
            for label, d in (("sf0.1", BASE), (f"x{m}", out_dir)):
                force(qs[name](spark, d))  # untimed warmup (codegen)
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                force(qs[name](spark, d))
                per[label] = round(time.perf_counter() - t0, 3)
                spark.catalog.clearCache()
            per["ratio"] = round(per[f"x{m}"] / max(per["sf0.1"], 1e-9), 2)
            per["ratio_per_mx"] = round(per["ratio"] / m, 3)
            timing[name] = per
            print(f"  time {name:32s} {per}", file=sys.stderr)
        result["timing"] = timing

        con = duckdb.connect()
        # extreme-M oracles (r=4 banding at 1.6M docs ≈ 43M candidate
        # pairs) OOM-kill the in-process DuckDB without a cap: bound
        # it and let joins SPILL instead (measured: 77 GB RSS kill at
        # x320 before this). Cap at half of physical RAM so a smaller
        # host still gets the protection (r17 ADVICE); override via
        # SPARK_GRAFT_DUCK_MEM (e.g. '24GB').
        duck_mem = os.environ.get("SPARK_GRAFT_DUCK_MEM")
        if not duck_mem:
            total_gb = (
                os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
            ) // (1 << 30)
            duck_mem = f"{max(4, min(40, total_gb // 2))}GB"
        con.execute(f"SET memory_limit='{duck_mem}'")
        con.execute(f"SET temp_directory='{out_dir}/duckspill'")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{out_dir}/{t}.parquet'"
            )
        greens: list[str] = []
        fails: list[dict] = []
        t_par = time.perf_counter()
        for name in parity_names:
            t_q = time.perf_counter()
            try:
                sdf = qs[name](spark, out_dir).toPandas()
                odf = con.execute(oracles[name]).fetchdf()
            except Exception as exc:  # noqa: BLE001
                fails.append({"query": name, "error": str(exc)[:300]})
                print(f"  FAIL {name}: {exc}", file=sys.stderr)
                continue
            problems = compare_frames(sdf, odf)
            if problems:
                fails.append({"query": name, "error": "; ".join(problems)})
                print(f"  FAIL {name}: {problems}", file=sys.stderr)
            else:
                greens.append(name)
                print(
                    f"  ok   {name}: rows={len(sdf)} "
                    f"({time.perf_counter() - t_q:.1f}s)",
                    file=sys.stderr,
                )
        con.close()
        result["oracle_parity"] = {
            "corpus": (
                f"derived x{m} single-file sf-dir layout "
                f"(build {result['build_s']}s)"
            ),
            "queries_green": greens,
            "failures": len(fails),
            "failed": fails,
            "wall_s": round(time.perf_counter() - t_par, 1),
        }
        graph_fails = 0
        if run_graph:
            t_g = time.perf_counter()
            # a mid-section crash (driver OOM, Arrow failure) must not
            # discard the completed timing + parity results above:
            # record it in the artifact and exit non-zero (r17 ADVICE)
            try:
                gp = _graph_consumer_parity(spark, out_dir)
            except Exception as exc:  # noqa: BLE001
                gp = {"error": str(exc)[:500]}
                graph_fails = 1
                print(f"  FAIL graph section: {exc}", file=sys.stderr)
            gp["wall_s"] = round(time.perf_counter() - t_g, 1)
            result["graph_consumer_parity"] = gp
            if "skipped" in gp:  # documented bound, not a failure
                print(f"  skip graph: {gp['skipped']}", file=sys.stderr)
            for name in ("clusters_star", "kcore", "pagerank"):
                if name not in gp:
                    continue
                verdict = "ok  " if gp[name]["match"] else "FAIL"
                print(f"  {verdict} graph {name}: {gp[name]}",
                      file=sys.stderr)
                graph_fails += 0 if gp[name]["match"] else 1
        print(json.dumps(result))
        if rnd is not None:
            path = os.path.join(ROOT, f"SCALEUP_r{rnd}.json")
            with open(path, "w") as f:
                json.dump(result, f, indent=1)
            print(f"wrote {path}", file=sys.stderr)
        if fails or graph_fails:
            raise SystemExit(1)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(wh, ignore_errors=True)


if __name__ == "__main__":
    main()
