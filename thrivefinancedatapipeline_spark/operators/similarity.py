"""Similarity search over the `embeddings` table.

- knn_bruteforce_cosine: exact top-k per query vector. The query set is
  tiny and broadcast; the candidate side streams — at 100 TB this is
  one pass over the corpus with a per-partition top-k (Spark's window
  rank pushes a partial TopK under AQE).
- knn_lsh: random-hyperplane LSH, MULTI-TABLE form: L independent
  hash tables of k planes each. Single-table sign-LSH has recall
  p^k per neighbor (p = 1 - θ/π); with L tables it is 1-(1-p^k)^L —
  the standard recall lever (k controls precision/bucket size, L
  controls recall). Hyperplane sign matrices are deterministic
  module-level literals (md5-seeded), embedded in BOTH the Spark
  plan and the DuckDB oracle, so even the approximate path is
  bit-exactly checkable. Bucket join keys are (table, signature) —
  L * 2^k buckets, uniform for random-ish vectors.
"""

from __future__ import annotations

import hashlib

# module-level so the pandas-UDF kernels' type hints (string
# annotations under `from __future__ import annotations`) resolve in
# this module's globals at decoration time
import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..datamodel import load_table
from ..functions.vector import as_double_vec, dot as _dot_v, norm as _norm_v

N_QUERIES = 10   # query set: vec_id < 10
TOP_K = 10
DIM = 64
K_PLANES = 4     # planes per hash table (bucket selectivity)
L_TABLES = 4     # independent tables (recall amplification)


def _plane_sign(j: int, i: int) -> float:
    """Deterministic ±1.0 from md5 — public construction, same value
    embedded in the SQL oracle."""
    h = hashlib.md5(f"plane{j}dim{i}".encode()).digest()[0]
    return 1.0 if h & 1 else -1.0


#: PLANES[t][j] = plane j of table t
PLANES = [
    [[_plane_sign(t * K_PLANES + j, i) for i in range(DIM)] for j in range(K_PLANES)]
    for t in range(L_TABLES)
]


def _vectors(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    v = as_double_vec(F.col("embedding"))
    return emb.select("vec_id", v.alias("v"), _norm_v(v).alias("nrm"))


def _dot(a, b):
    return _dot_v(a, b)


def q_knn_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: rank for each query vector (vec_id < N).

    The broadcast-query crossJoin streams the corpus side, so that side
    is spread when its scan has too few row groups
    (functions/layout.py): 0.56 -> 0.46 s at sf0.1 on 4 vCPUs."""
    from ..functions.layout import ensure_min_parallelism

    e = _vectors(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    c = ensure_min_parallelism(
        e.select(
            F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"),
            F.col("nrm").alias("cn"),
        )
    )
    cos = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank")
    )


def _table_bucket_expr(t: int):
    """Sign-bit signature of hash table t against its k planes."""
    bucket = None
    for j, plane in enumerate(PLANES[t]):
        lit_plane = F.array(*[F.lit(s) for s in plane])
        proj = _dot(F.col("v"), lit_plane)
        bit = F.when(proj > 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("int")


def _bucketed(e: DataFrame) -> DataFrame:
    """(vec_id, v, nrm) -> one row per hash table: (..., table, bucket)."""
    entries = F.array(
        *[
            F.struct(
                F.lit(t).alias("table"), _table_bucket_expr(t).alias("bucket")
            )
            for t in range(L_TABLES)
        ]
    )
    return e.select(
        "vec_id", "v", "nrm", F.explode(entries).alias("tb")
    ).select(
        "vec_id", "v", "nrm",
        F.col("tb.table").alias("table"), F.col("tb.bucket").alias("bucket"),
    )


def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: candidates are the union of the query's
    bucket across the L hash tables, deduped, re-ranked by exact
    cosine. Multi-table is the recall lever single-bucket LSH lacks:
    1-(1-p^k)^L vs p^k per true neighbor."""
    b = _bucketed(_vectors(spark, sf_dir))
    q = b.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("nrm").alias("qn"), "table", "bucket",
    )
    c = b.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"),
        F.col("nrm").alias("cn"), "table", "bucket",
    )
    cos = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    e = _vectors(spark, sf_dir)
    qv = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cv = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    return (
        F.broadcast(q.select("query_id", "table", "bucket"))
        .join(c.select("neighbor_id", "table", "bucket"), ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # a pair can collide in several tables - count it once
        .select("query_id", "neighbor_id")
        .distinct()
        .join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank")
    )


def _centroid_cols():
    """Element-wise mean of the embedding per group WITHOUT exploding:
    64 partial-aggregable avg expressions — the shuffle carries one
    64-double agg state per (group, partition), not dim× row blowup.
    Rounded to 6 decimals so downstream assignment is bit-identical
    across engines."""
    return [
        F.round(F.avg(F.element_at(F.col("embedding"), i + 1).cast("double")), 6)
        for i in range(DIM)
    ]


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, flat (label, dim, centroid, n)."""
    emb = load_table(spark, sf_dir, "embeddings")
    agg = emb.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.array(*_centroid_cols()).alias("cv"),
    )
    return agg.select(
        "label", "n_vectors", F.posexplode("cv").alias("dim", "centroid")
    ).select("label", F.col("dim").cast("int").alias("dim"), "centroid", "n_vectors")


N_PROBE = 2

# --- k-means coarse quantizer (deterministic, oracle-exact) ----------
#
# The quantizer is TRAINED, not a label stand-in: md5-seeded initial
# cells, KM_ITERS unrolled Lloyd iterations over an md5 hash-sample of
# the corpus. Everything runs in exact integer micros so the DuckDB
# oracle reproduces the centroids bit-for-bit:
# - vectors → integer micros (float→double cast + round: identical
#   IEEE ops both engines; a float can never land on an exact
#   half-micro, so the round is tie-free),
# - squared-L2 distances are pure BIGINT mul/add (|x| < 1e6 micros →
#   64 * (2e6)^2 ≈ 2.6e14, far inside int64),
# - centroid update floor(sum/count) uses FLOOR(double division) in
#   BOTH engines (Python driver-side vs DuckDB — same IEEE division;
#   DuckDB's // truncates toward zero, which would disagree with any
#   floor on negative sums, so it is deliberately avoided).
#
# Training collects the bounded hash-sample once and runs Lloyd
# driver-side (the FAISS/MLlib shape — quantizers train on a small
# sample, never the corpus); the final assignment is a pure per-row
# projection against literal centroids — no shuffle, no broadcast
# table, nothing but codegen arithmetic.
KM_K = 8           # cells
KM_ITERS = 2       # unrolled Lloyd iterations
KM_SAMPLE_MOD = 4  # train on the 1/4 md5 hash-sample
MICRO = 1_000_000


def to_int_vecs(emb: DataFrame) -> DataFrame:
    """(vec_id, xi) from any (vec_id, embedding) relation — the
    exact-integer-micros projection every quantized path shares
    (batch tables, index appends, streaming micro-batches)."""
    xi = F.expr(
        f"transform(embedding, x -> "
        f"CAST(ROUND(CAST(x AS DOUBLE) * {MICRO}, 0) AS BIGINT))"
    )
    return emb.select("vec_id", xi.alias("xi"))


def _int_vecs(spark, sf_dir):
    """(vec_id, xi): the embedding in exact integer micros."""
    return to_int_vecs(load_table(spark, sf_dir, "embeddings"))


def _cell_structs(cents):
    """array<struct<d, cell>> of exact integer squared-L2 distances to
    every trained centroid; struct comparison is lexicographic, so
    array_min == argmin by (dist asc, cell asc) and array_sort's
    prefix == the probe list.

    Formulation measured, not assumed: the centroids are one literal
    array<struct<cell, c>> folded with zip_with/aggregate, NOT k*64
    unrolled mul/add expressions. The unrolled form explodes into a
    ~512-term codegen tree that Janino compiles pathologically slowly
    (10.5 s vs 1.7 s for the full sf0.1 assignment — 6x), while the
    HOF form is a small interpreted expression whose per-row cost is
    k*dim integer ops. At billion-vector scale the assignment would
    move to a numpy Pandas UDF; the semantics (and the DuckDB oracle)
    are unchanged either way."""
    cent_lit = "array(" + ",".join(
        f"named_struct('cell', {int(cell)}, "
        f"'c', array({','.join(str(int(x)) for x in cv)}))"
        for cell, cv in cents
    ) + ")"
    return F.expr(
        f"transform({cent_lit}, ct -> named_struct("
        f"'d', aggregate(zip_with(xi, ct.c, (x, c) -> (x - c) * (x - c)), "
        f"0L, (acc, e) -> acc + e), "
        f"'cell', ct.cell))"
    )


def _train_centroids(
    iv: DataFrame, track: list | None = None, iters: int | None = None
) -> list[tuple[int, list[int]]]:
    """md5-seeded init, KM_ITERS Lloyd rounds on the md5 hash-sample.
    `track`, if given, collects the EXACT integer re-assignment count
    of each round's reassignment step — the quantizer-convergence audit
    (0 at the tail = Lloyd reached a fixpoint on this sample).

    The sample is collected ONCE and the Lloyd rounds run driver-side
    in exact integer numpy — the FAISS/MLlib shape: the coarse
    quantizer trains on a small bounded sample (KM_SAMPLE_MOD is the
    knob; size it so the sample stays ~1e5 rows at any corpus scale)
    while the full corpus only ever sees the final literal-centroid
    projection. Per-iteration Spark jobs (scan + 65-agg collect +
    512-term reassignment projection, twice) cost ~9 s of pure
    codegen/scheduling overhead at sf0.1 for 500 sample rows —
    driver-side training is <0.1 s and at scale the collect is
    O(sample), not O(corpus).

    Determinism / oracle parity (bit-for-bit vs the DuckDB SQL twin):
    init cell = 60-bit md5-prefix(vec_id) % K — the same
    hash in Python's hashlib, Spark's md5/conv and DuckDB's md5;
    centroid update floor(float(exact int sum) / n) is one IEEE double
    division in every engine (int sums < 1e11 are exact in float64);
    distances/reassignment are pure int64 arithmetic with (dist, cell)
    tie-break. A cell that loses all members simply disappears.
    Returns [(cell, centroid_micros)] sorted by cell.
    """
    import hashlib

    import numpy as np

    from ..functions.text import md5_long

    h = md5_long(F.col("vec_id").cast("string"))
    pdf = iv.filter(h % KM_SAMPLE_MOD == 0).toPandas()
    X = np.array(pdf["xi"].tolist(), dtype=np.int64)
    # init cell comes from digest chars 16-30 — DISJOINT from the
    # sampling key (chars 1-15): reusing the same 60 bits for both
    # "h % 4 == 0" and "h % 8" would confine init to cells {0, 4}
    # (every sampled hash is ≡ 0 mod 4) and collapse the quantizer
    # to two cells
    hs = np.array(
        [
            int(hashlib.md5(str(v).encode()).hexdigest()[15:30], 16)
            for v in pdf["vec_id"].tolist()
        ],
        dtype=np.int64,
    )
    assign = hs % KM_K
    rounds = KM_ITERS if iters is None else iters
    cents: list[tuple[int, list[int]]] = []
    for it in range(rounds):
        cents = []
        for cell in np.unique(assign):
            member = X[assign == cell]
            cv = np.floor(
                member.sum(axis=0, dtype=np.int64) / float(len(member))
            )
            cents.append((int(cell), [int(c) for c in cv]))
        if it == rounds - 1:
            break  # final reassignment happens in the Spark plan
        C = np.array([cv for _, cv in cents], dtype=np.int64)
        # ||x-c||^2 = ||x||^2 - 2x.c + ||c||^2, all exact int64
        # (O(n*k) memory, no n*k*dim broadcast temp)
        d2 = (
            (X * X).sum(axis=1, dtype=np.int64)[:, None]
            - 2 * (X @ C.T)
            + (C * C).sum(axis=1, dtype=np.int64)[None, :]
        )
        # argmin returns the FIRST min index; cents is sorted by cell,
        # so ties break toward the lowest cell — same as (d, cell)
        # struct-min in Spark and ORDER BY dist, cell in DuckDB
        cell_ids = np.array([c for c, _ in cents], dtype=np.int64)
        new_assign = cell_ids[np.argmin(d2, axis=1)]
        if track is not None:
            track.append(int((new_assign != assign).sum()))
        assign = new_assign
    return cents


def lloyd_convergence_counts(
    spark: SparkSession, sf_dir: str, iters: int | None = None
) -> list[int]:
    """Exact integer re-assignment counts for each Lloyd round of the
    coarse-quantizer training (bounded sample, driver-side — the same
    code path ivf_knn/knn_ivfpq train with). A tail of zeros attests
    the quantizer CONVERGED within KM_ITERS; a nonzero tail says more
    rounds would still move centroids. Deterministic by construction
    (md5 sample + init), so the curve is a reproducible artifact."""
    track: list[int] = []
    _train_centroids(_int_vecs(spark, sf_dir), track=track, iters=iters)
    return track


#: trained-quantizer memo keyed by (embeddings path, file mtime) — a
#: coarse quantizer is a train-once artifact (the FAISS shape: train
#: offline, reuse across queries); the mtime key invalidates it if the
#: corpus file is rewritten. Deterministic training makes the cached
#: value identical to a retrain, so oracle parity is unaffected.
_CENT_CACHE: dict = {}


def _trained_centroids_cached(spark, sf_dir: str, iv: DataFrame):
    import os

    path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        key = (path, os.path.getmtime(path))
    except OSError:
        key = None
    if key is not None and key in _CENT_CACHE:
        return _CENT_CACHE[key]
    cents = _train_centroids(iv)
    if key is not None:
        _CENT_CACHE[key] = cents
    return cents


def q_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a trained k-means coarse quantizer: vectors
    assigned to their nearest centroid cell; each query probes its
    N_PROBE nearest cells and exact-ranks only those candidates — the
    100 TB shape for billion-vector search.

    Cell assignment and probing are per-batch vectorized kernels
    against the trained centroids (exact int64 numpy inside a pandas
    UDF — no shuffle, no per-vector window; see the r19 kernel section
    above for the measured interpreted-HOF → numpy win and the
    bit-identical tie-break argument). Only the candidate join and the
    final top-k window shuffle, both on the pruned candidate set.
    Recomputing the vector relation beats caching — wide array columns
    cost more to materialize columnar than to re-scan (measured, not
    assumed)."""
    iv = _int_vecs(spark, sf_dir)
    cents = _trained_centroids_cached(spark, sf_dir, iv)
    asg = iv.select(
        F.col("vec_id").alias("neighbor_id"),
        pd_assign_cells(cents)("xi").alias("cell"),
    )
    probe = (
        iv.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.explode(pd_probe_cells(cents, N_PROBE)("xi")).alias("cell"),
        )
    )
    e = _vectors(spark, sf_dir)
    qv = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cv = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    cos = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        F.broadcast(probe)
        .join(asg, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank")
    )


RP_DIM = 16  # Johnson-Lindenstrauss target dimension (64 → 16)


def _rp_sign(j: int, i: int) -> float:
    """±1 entry of JL projection row j — md5-namespaced 'rp...' keys,
    DISJOINT from the LSH 'plane...' digest space (never reuse one
    hash for two decisions)."""
    h = hashlib.md5(f"rp{j}dim{i}".encode()).digest()[0]
    return 1.0 if h & 1 else -1.0


#: RP_PLANES[j] = projection row j (±1 Achlioptas-style entries)
RP_PLANES = [[_rp_sign(j, i) for i in range(DIM)] for j in range(RP_DIM)]


RP_CANDIDATES = 100  # projected-space candidate pool per query


def q_knn_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse-then-rerank kNN via Johnson-Lindenstrauss random
    projection (64 → 16 dims, deterministic ±1 rows): rank candidates
    in the CHEAP projected space (4× fewer multiplies per pair), keep
    the top RP_CANDIDATES per query, then re-rank just that pool with
    EXACT full-dimension cosine — the standard two-stage ANN shape
    (measured recall@10 vs bruteforce: 0.56 at sf0.01 with a 10%
    candidate pool; ranking directly in the projected space without
    rerank measured 0.14-0.20 on these near-uniform synthetic vectors
    and was rejected). Recall floor pinned in
    tests/test_similarity_recall.py.

    Scale posture: projections are 16 codegen dot folds per vector
    (the same per-row cost knn_lsh pays for its 16 plane signs),
    computed once; the expensive full-dim cosine runs only on
    RP_CANDIDATES rows per query instead of the corpus. Both engines
    fold projections and cosines in index order — bit-identical
    two-stage ranking."""
    e = _vectors(spark, sf_dir)
    proj = F.array(
        *[
            _dot(F.col("v"), F.array(*[F.lit(s) for s in RP_PLANES[j]]))
            for j in range(RP_DIM)
        ]
    )
    p = e.select("vec_id", "v", "nrm", proj.alias("pv")).withColumn(
        "pn", _norm_v(F.col("pv"))
    )
    q = p.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("pv").alias("qv"),
        F.col("pn").alias("qn"), F.col("v").alias("qfull"),
        F.col("nrm").alias("qfn"),
    )
    c = p.select(
        F.col("vec_id").alias("neighbor_id"), F.col("pv").alias("cv"),
        F.col("pn").alias("cn"), F.col("v").alias("cfull"),
        F.col("nrm").alias("cfn"),
    )
    pcos = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    fcos = _dot(F.col("qfull"), F.col("cfull")) / (
        F.col("qfn") * F.col("cfn")
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("pcos").desc(), F.col("neighbor_id")
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("fcos").desc(), F.col("neighbor_id")
    )
    return (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("pcos", pcos)
        .withColumn("prank", F.row_number().over(wp))
        .filter(F.col("prank") <= RP_CANDIDATES)
        .withColumn("fcos", fcos)
        .withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank")
    )


QUERIES = {
    "knn_random_projection": q_knn_random_projection,
    "knn_bruteforce_cosine": q_knn_bruteforce_cosine,
    "knn_lsh": q_knn_lsh,
    "embedding_centroids": q_embedding_centroids,
    "ivf_knn": q_ivf_knn,
}


def _plane_sql(t: int, j: int) -> str:
    vals = ", ".join(str(s) for s in PLANES[t][j])
    return f"list_dot_product(v, [{vals}])"


def table_bucket_sql(t: int) -> str:
    """DuckDB twin of _table_bucket_expr(t) (shared with dedup)."""
    return " + ".join(
        f"(CASE WHEN {_plane_sql(t, j)} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(K_PLANES)
    )


#: (vec_id, table, bucket) across all L tables, given a CTE exposing v
BANDS_SQL = "\nUNION ALL\n".join(
    f"SELECT vec_id, {t} AS table_id, CAST({table_bucket_sql(t)} AS INT)"
    f" AS bucket FROM e"
    for t in range(L_TABLES)
)

_VEC_CTE = """
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings)
""".strip()

_CENT_CTES = """
cexp AS (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS el,
                generate_subscripts(embedding, 1) AS pos
         FROM embeddings),
cagg AS (SELECT label, pos, ROUND(AVG(el), 6) AS c
         FROM cexp GROUP BY label, pos)
""".strip()

_RP_LIST_SQL = ", ".join(
    "list_dot_product(v, [" + ", ".join(str(s) for s in RP_PLANES[j]) + "])"
    for j in range(RP_DIM)
)

ORACLES = {
    "knn_random_projection": f"""
WITH {_VEC_CTE},
p AS (SELECT vec_id, v, nrm, [{_RP_LIST_SQL}] AS pv FROM e),
pn AS (SELECT vec_id, v, nrm, pv,
              sqrt(list_dot_product(pv, pv)) AS pnrm FROM p),
cand AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         q.v AS qv, q.nrm AS qn, c.v AS cv, c.nrm AS cn
  FROM pn q JOIN pn c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY q.vec_id
    ORDER BY list_dot_product(q.pv, c.pv) / (q.pnrm * c.pnrm) DESC,
             c.vec_id) <= {RP_CANDIDATES})
SELECT query_id, neighbor_id,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY query_id
         ORDER BY list_dot_product(qv, cv) / (qn * cn) DESC,
                  neighbor_id) AS INT) AS rank
FROM cand
QUALIFY rank <= {TOP_K}""",
    "embedding_centroids": f"""
WITH {_CENT_CTES},
n AS (SELECT label, COUNT(*) AS n_vectors FROM embeddings GROUP BY label)
SELECT cagg.label, CAST(pos - 1 AS INT) AS dim, c AS centroid, n.n_vectors
FROM cagg JOIN n ON cagg.label = n.label""",
    "ivf_knn": f"""
WITH {_VEC_CTE},
em AS (SELECT vec_id,
              [CAST(ROUND(x * {MICRO}, 0) AS BIGINT) for x in v] AS xi
       FROM e),
ux AS (SELECT vec_id, unnest(xi) AS x,
              generate_subscripts(xi, 1) AS pos FROM em),
samp AS (SELECT vec_id,
                ('0x' || substring(md5(vec_id::VARCHAR), 1, 15))::BIGINT AS h,
                ('0x' || substring(md5(vec_id::VARCHAR), 16, 15))::BIGINT AS h2
         FROM em),
a0 AS (SELECT vec_id, CAST(h2 % {KM_K} AS INT) AS cell
       FROM samp WHERE h % {KM_SAMPLE_MOD} = 0),
c1 AS (SELECT cell, pos,
              CAST(FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
       FROM a0 JOIN ux USING (vec_id) GROUP BY cell, pos),
d1 AS (SELECT u.vec_id, c1.cell, SUM((u.x - c1.c) * (u.x - c1.c)) AS dist
       FROM ux u JOIN a0 USING (vec_id) JOIN c1 ON u.pos = c1.pos
       GROUP BY u.vec_id, c1.cell),
a1 AS (SELECT vec_id, cell FROM (
         SELECT vec_id, cell,
                ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY dist, cell) AS rn
         FROM d1) WHERE rn = 1),
c2 AS (SELECT cell, pos,
              CAST(FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
       FROM a1 JOIN ux USING (vec_id) GROUP BY cell, pos),
d2 AS (SELECT u.vec_id, c2.cell, SUM((u.x - c2.c) * (u.x - c2.c)) AS dist
       FROM ux u JOIN c2 ON u.pos = c2.pos
       GROUP BY u.vec_id, c2.cell),
ranked AS (SELECT vec_id, cell,
                  ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cell) AS rn
           FROM d2),
asg AS (SELECT vec_id AS neighbor_id, cell FROM ranked WHERE rn = 1),
probe AS (SELECT vec_id AS query_id, cell FROM ranked
          WHERE vec_id < {N_QUERIES} AND rn <= {N_PROBE}),
cand AS (SELECT p.query_id, a.neighbor_id
         FROM probe p JOIN asg a USING (cell)
         WHERE p.query_id <> a.neighbor_id)
SELECT cand.query_id, cand.neighbor_id,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY cand.query_id
         ORDER BY list_dot_product(q.v, nb.v) / (q.nrm * nb.nrm) DESC,
                  cand.neighbor_id) AS INT) AS rank
FROM cand
JOIN e q ON q.vec_id = cand.query_id
JOIN e nb ON nb.vec_id = cand.neighbor_id
QUALIFY rank <= {TOP_K}""",
    "knn_bruteforce_cosine": f"""
WITH {_VEC_CTE}
SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY q.vec_id
         ORDER BY list_dot_product(q.v, c.v) / (q.nrm * c.nrm) DESC,
                  c.vec_id) AS INT) AS rank
FROM e q JOIN e c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
QUALIFY rank <= {TOP_K}""",
    "knn_lsh": f"""
WITH {_VEC_CTE},
bands AS ({BANDS_SQL}),
cand AS (
  SELECT DISTINCT bq.vec_id AS query_id, bc.vec_id AS neighbor_id
  FROM bands bq JOIN bands bc
    ON bq.table_id = bc.table_id AND bq.bucket = bc.bucket
  WHERE bq.vec_id < {N_QUERIES} AND bq.vec_id <> bc.vec_id)
SELECT cand.query_id, cand.neighbor_id,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY cand.query_id
         ORDER BY list_dot_product(q.v, nb.v) / (q.nrm * nb.nrm) DESC,
                  cand.neighbor_id) AS INT) AS rank
FROM cand
JOIN e q ON q.vec_id = cand.query_id
JOIN e nb ON nb.vec_id = cand.neighbor_id
QUALIFY rank <= {TOP_K}""",
}


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric distance computation (ADC)
# ---------------------------------------------------------------------------
# The third classic ANN family next to ivf_knn (coarse quantizer) and
# knn_random_projection (JL coarse-then-rerank): split the 64-dim
# vector into PQ_M subspaces, train an independent PQ_K-centroid
# codebook per subspace on the SAME bounded md5 hash-sample ivf uses,
# and store each corpus vector as PQ_M small codes (8 bytes/vector
# here vs 512 for raw doubles — the memory lever that makes
# billion-vector search fit RAM; Jegou et al., "Product Quantization
# for Nearest Neighbor Search", TPAMI 2011).  Queries stay
# full-precision: each query precomputes a lookup table of exact
# integer squared distances from ITS sub-vectors to every codebook
# centroid (ADC), so scanning a candidate costs PQ_M table lookups —
# no per-pair vector math at all.  The ADC scan ranks a top-
# PQ_CANDIDATES pool per query, then the pool (and only the pool) is
# re-ranked with exact full-dimension cosine — the same two-stage
# shape knn_random_projection measured as mandatory on these
# near-uniform synthetic vectors.
#
# Everything is deterministic and oracle-replayable: training is the
# ivf Lloyd loop per subspace (shared md5 init, floor-division
# centroid updates, (dist, cell) tie-breaks), distances are exact
# int64 micros, and the DuckDB oracle replays training + encode + ADC
# in SQL (unrolled PQ_ITERS like ivf_knn's c1/c2 chain).
#
# Pre-built for a round-6 registration (the r5 correctness window is
# reserved for draining the r1/r2 proof backlog); until then the
# Spark-vs-DuckDB comparison runs in tests/test_similarity_recall.py.

PQ_M = 8            # subspaces
PQ_SUB = DIM // PQ_M
PQ_K = 16           # centroids per subspace codebook
PQ_CANDIDATES = 100  # ADC pool per query, exact-reranked


def _train_pq_codebooks(iv: DataFrame) -> list:
    """Per-subspace Lloyd training on the shared bounded hash-sample.

    Same determinism contract as _train_centroids (which see): sample
    filter = md5 chars 1-15 % KM_SAMPLE_MOD, init cell = chars 16-30 %
    PQ_K (disjoint digest slices), KM_ITERS unrolled rounds,
    floor(float(int sum)/n) centroid updates, first-min (dist, cell)
    tie-breaks.  All PQ_M codebooks train from ONE collected sample —
    the collect is O(sample), never O(corpus).  Returns
    books[m] = [(cell, centroid_micros[PQ_SUB])] sorted by cell.
    """
    import hashlib

    import numpy as np

    from ..functions.text import md5_long

    h = md5_long(F.col("vec_id").cast("string"))
    pdf = iv.filter(h % KM_SAMPLE_MOD == 0).toPandas()
    X = np.array(pdf["xi"].tolist(), dtype=np.int64)
    hs = np.array(
        [
            int(hashlib.md5(str(v).encode()).hexdigest()[15:30], 16)
            for v in pdf["vec_id"].tolist()
        ],
        dtype=np.int64,
    )
    books = []
    for m in range(PQ_M):
        Xm = X[:, m * PQ_SUB : (m + 1) * PQ_SUB]
        assign = hs % PQ_K
        cents: list = []
        for it in range(KM_ITERS):
            cents = []
            for cell in np.unique(assign):
                member = Xm[assign == cell]
                cv = np.floor(
                    member.sum(axis=0, dtype=np.int64) / float(len(member))
                )
                cents.append((int(cell), [int(c) for c in cv]))
            if it == KM_ITERS - 1:
                break
            C = np.array([cv for _, cv in cents], dtype=np.int64)
            d2 = (
                (Xm * Xm).sum(axis=1, dtype=np.int64)[:, None]
                - 2 * (Xm @ C.T)
                + (C * C).sum(axis=1, dtype=np.int64)[None, :]
            )
            cell_ids = np.array([c for c, _ in cents], dtype=np.int64)
            assign = cell_ids[np.argmin(d2, axis=1)]
        books.append(cents)
    return books


#: path -> (mtime, books). Keyed by PATH with the mtime stored in the
#: value so a regenerated file REPLACES its stale entry instead of
#: accumulating one per mtime (long-lived drivers never leak old
#: codebooks).
_PQ_CACHE: dict = {}


def _pq_codebooks_cached(sf_dir: str, iv: DataFrame) -> list:
    import os

    path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        return _train_pq_codebooks(iv)
    hit = _PQ_CACHE.get(path)
    if hit is not None and hit[0] == mtime:
        return hit[1]
    books = _train_pq_codebooks(iv)
    _PQ_CACHE[path] = (mtime, books)
    return books


def _pq_encode_expr(books: list, col: str = "xi"):
    """array<int> of PQ_M codes per row: code m = 1-based FLAT index
    (into the concatenated LUT) of the nearest codebook-m centroid by
    exact integer squared L2, ties toward the lowest cell.  One
    literal array fold per subspace (the measured anti-Janino form —
    see _cell_structs), never k*dim unrolled arithmetic.  `col` is
    the integer vector column — raw micros for flat PQ, the coarse
    residual for IVF-PQ."""
    per_m = []
    off = 0
    for m, book in enumerate(books):
        lit = "array(" + ",".join(
            f"named_struct('i', {off + i + 1}, "
            f"'c', array({','.join(str(int(x)) for x in cv)}))"
            for i, (_cell, cv) in enumerate(book)
        ) + ")"
        sub = f"slice({col}, {m * PQ_SUB + 1}, {PQ_SUB})"
        per_m.append(
            f"array_min(transform({lit}, ct -> named_struct("
            f"'d', aggregate(zip_with({sub}, ct.c, "
            f"(x, c) -> (x - c) * (x - c)), 0L, (acc, e) -> acc + e), "
            f"'i', ct.i))).i"
        )
        off += len(book)
    return F.expr("array(" + ",".join(per_m) + ")")


def _pq_lut_expr(books: list, col: str = "xi"):
    """array<long> ADC lookup table per QUERY row: entry for flat
    index i = exact integer squared L2 from the query's subspace-m
    sub-vector to that codebook centroid.  Computed only on the
    N_QUERIES broadcast rows — sum(len(book_m)) <= PQ_M*PQ_K entries.
    `col` as in _pq_encode_expr."""
    entries = []
    for m, book in enumerate(books):
        sub = f"slice({col}, {m * PQ_SUB + 1}, {PQ_SUB})"
        for _cell, cv in book:
            lit = "array(" + ",".join(str(int(x)) for x in cv) + ")"
            entries.append(
                f"aggregate(zip_with({sub}, {lit}, "
                f"(x, c) -> (x - c) * (x - c)), 0L, (acc, e) -> acc + e)"
            )
    return F.expr("array(" + ",".join(entries) + ")")


# ---------------------------------------------------------------------------
# r19 vectorized exact-integer kernels (guide §4.2): the quantizer
# replay math (coarse assign, probe ranking, PQ encode, ADC LUT) moves
# from per-row interpreted HOF folds to whole-batch numpy int64 inside
# pandas UDFs. Two measured costs disappear: (1) the interpreted
# lambda evaluation (~1600 array ops per row — HOFs never enter
# whole-stage codegen), and (2) the driver-side parse/analysis of the
# multi-KB literal expression trees on every query construction
# (~1.0 s of knn_ivfpq's wall at sf0.1 was F.expr parsing). Arithmetic
# is UNCHANGED: same int64 sums/products (||x||² - 2x·c + ||c||² is
# exact and overflow-free at |x| < 2^21 per coordinate), same
# first-min tie-breaks (np.argmin returns the first minimum and every
# centroid list is sorted by cell, so ties resolve toward the lowest
# cell/flat index exactly like the (d, cell) struct-min), same
# lexsort-by-(d, cell) probe order as slice(array_sort(...)).
# knn_ivfpq measured 3.23 s → 1.32 s at sf0.1, output bit-identical
# (tests/test_ann_kernels_r19.py pins kernel == expression parity).
# The expression builders above remain the executable reference
# implementations those parity tests compare against.
# ---------------------------------------------------------------------------


def _np_stack(s):
    return np.array(s.tolist(), dtype=np.int64)


def _coarse_np(coarse):
    return (
        np.array([c for c, _ in coarse], dtype=np.int64),
        np.array([cv for _, cv in coarse], dtype=np.int64),
    )


def _np_d2(X, C):
    """Exact int64 squared-L2 matrix: ||x||² - 2x·c + ||c||² equals
    Σ(x-c)² term-for-term in integer arithmetic (no rounding), and
    every term fits int64 at micro-scaled coordinates."""
    return (
        (X * X).sum(axis=1, dtype="int64")[:, None]
        - 2 * (X @ C.T)
        + (C * C).sum(axis=1, dtype="int64")[None, :]
    )


def _books_np(books):
    """[(flat_offset, centroid_matrix)] per subspace — flat 1-based
    code/LUT indexing identical to _pq_encode_expr/_pq_lut_expr."""
    out, off = [], 0
    for book in books:
        out.append((off, np.array([cv for _, cv in book], dtype=np.int64)))
        off += len(book)
    return out


#: Kernels are returned NON-DETERMINISTIC (they are pure — this is an
#: optimizer fence, guide §4.4): join-key null-safety filters otherwise
#: get pushed below the ArrowEvalPython node and the whole batch kernel
#: is evaluated TWICE per corpus row (measured: ivf_knn planned 3
#: ArrowEvalPython nodes for 2 kernel calls; 2 after the fence, output
#: identical).
def _nd(k):
    return k.asNondeterministic()


def pd_assign_cells(coarse, with_d2: bool = False):
    """pandas UDF: xi -> nearest coarse cell (int), or
    struct<cell, d2> when the caller also needs the distance
    (coreset). First-min ties toward the lowest cell."""
    cells, C = _coarse_np(coarse)
    if not with_d2:

        @F.pandas_udf("int")
        def k(xi: pd.Series) -> pd.Series:
            X = _np_stack(xi)
            return pd.Series(
                cells[np.argmin(_np_d2(X, C), axis=1)].astype("int32")
            )

        return _nd(k)

    @F.pandas_udf("cell int, d2 bigint")
    def k2(xi: pd.Series) -> pd.DataFrame:
        X = _np_stack(xi)
        d2 = _np_d2(X, C)
        idx = np.argmin(d2, axis=1)
        return pd.DataFrame(
            {
                "cell": cells[idx].astype("int32"),
                "d2": d2[np.arange(len(idx)), idx],
            }
        )

    return _nd(k2)


def pd_probe_cells(coarse, n_probe: int):
    """pandas UDF: xi -> the n_probe nearest cells ordered by
    (d2 asc, cell asc) — the probe list slice(array_sort(structs))
    produced."""
    cells, C = _coarse_np(coarse)

    @F.pandas_udf("array<int>")
    def k(xi: pd.Series) -> pd.Series:
        X = _np_stack(xi)
        d2 = _np_d2(X, C)
        out = []
        for r in range(X.shape[0]):
            order = np.lexsort((cells, d2[r]))[:n_probe]
            out.append([int(c) for c in cells[order]])
        return pd.Series(out)

    return _nd(k)


def pd_pq_encode(books):
    """pandas UDF: integer vector -> PQ codes (flat 1-based indices),
    one argmin per subspace — _pq_encode_expr's exact twin."""
    books_np = _books_np(books)

    @F.pandas_udf("array<int>")
    def k(col: pd.Series) -> pd.Series:
        X = _np_stack(col)
        codes = np.empty((X.shape[0], len(books_np)), dtype=np.int32)
        for m, (off, B) in enumerate(books_np):
            sub = X[:, m * PQ_SUB : (m + 1) * PQ_SUB]
            codes[:, m] = off + np.argmin(_np_d2(sub, B), axis=1) + 1
        return pd.Series(list(codes))

    return _nd(k)


def pd_pq_lut(books):
    """pandas UDF: query vector (raw or residual) -> flat ADC lookup
    table — _pq_lut_expr's exact twin."""
    books_np = _books_np(books)

    @F.pandas_udf("array<bigint>")
    def k(col: pd.Series) -> pd.Series:
        X = _np_stack(col)
        lut = np.concatenate(
            [
                _np_d2(X[:, m * PQ_SUB : (m + 1) * PQ_SUB], B)
                for m, (_off, B) in enumerate(books_np)
            ],
            axis=1,
        )
        return pd.Series(list(lut))

    return _nd(k)


def pd_ivfpq_encode(coarse, books):
    """pandas UDF: xi -> struct<cell, codes>: coarse assign, exact
    integer residual, residual PQ encode — one boundary crossing for
    the whole encode pass."""
    cells, C = _coarse_np(coarse)
    books_np = _books_np(books)

    @F.pandas_udf("cell int, codes array<int>")
    def k(xi: pd.Series) -> pd.DataFrame:
        X = _np_stack(xi)
        idx = np.argmin(_np_d2(X, C), axis=1)
        R = X - C[idx]
        codes = np.empty((X.shape[0], len(books_np)), dtype=np.int32)
        for m, (off, B) in enumerate(books_np):
            sub = R[:, m * PQ_SUB : (m + 1) * PQ_SUB]
            codes[:, m] = off + np.argmin(_np_d2(sub, B), axis=1) + 1
        return pd.DataFrame(
            {"cell": cells[idx].astype("int32"), "codes": list(codes)}
        )

    return _nd(k)


def pd_ivfpq_probes(coarse, books, n_probe: int):
    """pandas UDF: query xi -> array of (probed cell, per-cell
    residual ADC LUT) ordered by (d2, cell) — the query side of the
    IVFADC scan in one crossing; callers explode."""
    cells, C = _coarse_np(coarse)
    books_np = _books_np(books)

    @F.pandas_udf("array<struct<cell:int, lut:array<bigint>>>")
    def k(xi: pd.Series) -> pd.Series:
        X = _np_stack(xi)
        d2 = _np_d2(X, C)
        out = []
        for r in range(X.shape[0]):
            order = np.lexsort((cells, d2[r]))[:n_probe]
            Q = X[r][None, :] - C[order]
            luts = np.concatenate(
                [
                    _np_d2(Q[:, m * PQ_SUB : (m + 1) * PQ_SUB], B)
                    for m, (_off, B) in enumerate(books_np)
                ],
                axis=1,
            )
            out.append(
                [
                    {
                        "cell": int(cells[order[j]]),
                        "lut": [int(v) for v in luts[j]],
                    }
                    for j in range(len(order))
                ]
            )
        return pd.Series(out)

    return _nd(k)


#: unrolled ADC distance: 8 static element_at terms instead of an
#: interpreted aggregate() fold per candidate pair (CLAUDE.md rule:
#: unroll small expressions, fold big literal tables — this is 8
#: terms, fully codegen-able)
_ADC_EXPR = " + ".join(
    f"element_at(lut, element_at(codes, {j + 1}))" for j in range(PQ_M)
)


def pq_adc_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC two-stage kNN — (query_id, neighbor_id, rank).

    Plan shape (audited in tests/test_similarity_recall.py):
    - corpus side is ONE narrow projection (vec_id + PQ_M ints) — the
      compressed-index relation PQ exists to produce; no shuffle;
    - the 10 query rows compute their ADC LUT and broadcast;
    - the ADC scan is a broadcast crossJoin whose per-pair cost is a
      PQ_M-term lookup fold (element_at into the LUT) — no vector
      arithmetic per pair, the defining ADC property;
    - one window ranks the pool (the only shuffle: corpus rows x
      N_QUERIES, each a handful of ints), then the tiny pool
      broadcast-joins back to full vectors for the exact rerank.

    At 100 TB the codes relation is ~12 bytes/vector — the ADC scan
    reads 40x less than a raw-vector sweep and parallelizes per
    partition with zero skew (every partition scans for all queries).
    """
    iv = _int_vecs(spark, sf_dir)
    books = _pq_codebooks_cached(sf_dir, iv)
    # r20: ensure_min_parallelism on the codes side was tried and
    # REVERTED (measured 0.99 -> 1.16 s at sf0.1): the ADC fold is 8
    # codegen lookups per pair — too cheap to out-earn the repartition
    # of the xi arrays, unlike the interpreted-dot crossJoins.
    codes = iv.select(
        F.col("vec_id").alias("neighbor_id"),
        pd_pq_encode(books)("xi").alias("codes"),
    )
    qlut = iv.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        pd_pq_lut(books)("xi").alias("lut"),
    )
    adc = F.expr(_ADC_EXPR)
    wp = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("neighbor_id")
    )
    pool = (
        F.broadcast(qlut)
        .crossJoin(codes)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("adc_d2", adc)
        .withColumn("prank", F.row_number().over(wp))
        .filter(F.col("prank") <= PQ_CANDIDATES)
        .select("query_id", "neighbor_id")
    )
    e = _vectors(spark, sf_dir)
    qv = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cv = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    cos = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    wf = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        F.broadcast(pool)
        .join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank")
    )


def _pq_oracle_sql() -> str:
    """DuckDB twin: replays per-subspace training (shared init,
    unrolled 2 Lloyd rounds), encode, the ADC scan as a relational
    LUT join, and the exact rerank.  Held for round-6 registration as
    'knn_pq_adc'."""
    return f"""
WITH {_VEC_CTE},
em AS (SELECT vec_id,
              [CAST(ROUND(x * {MICRO}, 0) AS BIGINT) for x in v] AS xi
       FROM e),
ux AS (SELECT vec_id, unnest(xi) AS x,
              generate_subscripts(xi, 1) AS pos FROM em),
uxm AS (SELECT vec_id, x, pos,
               CAST((pos - 1) // {PQ_SUB} AS INT) AS m FROM ux),
samp AS (SELECT vec_id,
                ('0x' || substring(md5(vec_id::VARCHAR), 1, 15))::BIGINT AS h,
                ('0x' || substring(md5(vec_id::VARCHAR), 16, 15))::BIGINT AS h2
         FROM em),
a0 AS (SELECT vec_id, CAST(h2 % {PQ_K} AS INT) AS cell
       FROM samp WHERE h % {KM_SAMPLE_MOD} = 0),
c1 AS (SELECT cell, pos,
              CAST(FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
       FROM a0 JOIN uxm USING (vec_id) GROUP BY cell, pos),
d1 AS (SELECT u.vec_id, u.m, c1.cell,
              SUM((u.x - c1.c) * (u.x - c1.c)) AS dist
       FROM uxm u JOIN a0 USING (vec_id) JOIN c1 ON u.pos = c1.pos
       GROUP BY u.vec_id, u.m, c1.cell),
a1 AS (SELECT vec_id, m, cell FROM (
         SELECT vec_id, m, cell,
                ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                   ORDER BY dist, cell) AS rn
         FROM d1) WHERE rn = 1),
c2 AS (SELECT a1.cell, u.pos,
              CAST(FLOOR(CAST(SUM(u.x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
       FROM a1 JOIN uxm u
         ON u.vec_id = a1.vec_id AND u.m = a1.m
       GROUP BY a1.cell, u.pos),
dn AS (SELECT u.vec_id, u.m, c2.cell,
              SUM((u.x - c2.c) * (u.x - c2.c)) AS dist
       FROM uxm u JOIN c2 ON u.pos = c2.pos
       GROUP BY u.vec_id, u.m, c2.cell),
codes AS (SELECT vec_id AS neighbor_id, m, cell FROM (
            SELECT vec_id, m, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                      ORDER BY dist, cell) AS rn
            FROM dn) WHERE rn = 1),
qd AS (SELECT vec_id AS query_id, m, cell, dist
       FROM dn WHERE vec_id < {N_QUERIES}),
pool AS (SELECT query_id, neighbor_id FROM (
           SELECT qd.query_id, nb.neighbor_id,
                  ROW_NUMBER() OVER (
                    PARTITION BY qd.query_id
                    ORDER BY SUM(qd.dist), nb.neighbor_id) AS prank
           FROM codes nb
           JOIN qd ON qd.m = nb.m AND qd.cell = nb.cell
           WHERE qd.query_id <> nb.neighbor_id
           GROUP BY qd.query_id, nb.neighbor_id)
         WHERE prank <= {PQ_CANDIDATES})
SELECT pool.query_id, pool.neighbor_id,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY pool.query_id
         ORDER BY list_dot_product(q.v, nb.v) / (q.nrm * nb.nrm) DESC,
                  pool.neighbor_id) AS INT) AS rank
FROM pool
JOIN e q ON q.vec_id = pool.query_id
JOIN e nb ON nb.vec_id = pool.neighbor_id
QUALIFY rank <= {TOP_K}"""


# ---------------------------------------------------------------------------
# IVF-PQ: coarse quantizer + product-quantized RESIDUALS (FAISS IVFPQ)
# ---------------------------------------------------------------------------

def _train_ivfpq_books(iv: DataFrame, coarse: list) -> list:
    """PQ codebooks trained on coarse-quantization RESIDUALS of the
    shared bounded hash-sample — the Jegou et al. 2011 IVFADC recipe:
    residuals concentrate around 0 regardless of which cell a vector
    lives in, so ONE set of codebooks serves every cell (the memory
    trick that makes IVFPQ practical).  Determinism contract as
    everywhere: the sample's coarse assignment replays the final
    Lloyd reassignment exactly (int64 distances, (dist, cell)
    tie-break); PQ init uses a NAMESPACED digest ('pq' || vec_id) —
    disjoint by construction from the sampling and coarse-init
    slices (never reuse one hash for two correlated decisions)."""
    import hashlib

    import numpy as np

    from ..functions.text import md5_long

    h = md5_long(F.col("vec_id").cast("string"))
    pdf = iv.filter(h % KM_SAMPLE_MOD == 0).toPandas()
    X = np.array(pdf["xi"].tolist(), dtype=np.int64)
    cell_ids = np.array([c for c, _ in coarse], dtype=np.int64)
    C = np.array([cv for _, cv in coarse], dtype=np.int64)
    d2 = (
        (X * X).sum(axis=1, dtype=np.int64)[:, None]
        - 2 * (X @ C.T)
        + (C * C).sum(axis=1, dtype=np.int64)[None, :]
    )
    R = X - C[np.argmin(d2, axis=1)]
    hs = np.array(
        [
            int(hashlib.md5(f"pq{v}".encode()).hexdigest()[:15], 16)
            for v in pdf["vec_id"].tolist()
        ],
        dtype=np.int64,
    )
    books = []
    for m in range(PQ_M):
        Rm = R[:, m * PQ_SUB : (m + 1) * PQ_SUB]
        assign = hs % PQ_K
        cents: list = []
        for it in range(KM_ITERS):
            cents = []
            for cell in np.unique(assign):
                member = Rm[assign == cell]
                cv = np.floor(
                    member.sum(axis=0, dtype=np.int64) / float(len(member))
                )
                cents.append((int(cell), [int(c) for c in cv]))
            if it == KM_ITERS - 1:
                break
            Cm = np.array([cv for _, cv in cents], dtype=np.int64)
            dd = (
                (Rm * Rm).sum(axis=1, dtype=np.int64)[:, None]
                - 2 * (Rm @ Cm.T)
                + (Cm * Cm).sum(axis=1, dtype=np.int64)[None, :]
            )
            ids = np.array([c for c, _ in cents], dtype=np.int64)
            assign = ids[np.argmin(dd, axis=1)]
        books.append(cents)
    return books


#: path -> (mtime, books); same latest-only policy as _PQ_CACHE.
_IVFPQ_CACHE: dict = {}


def _ivfpq_books_cached(sf_dir: str, iv: DataFrame, coarse: list) -> list:
    import os

    path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        return _train_ivfpq_books(iv, coarse)
    hit = _IVFPQ_CACHE.get(path)
    if hit is not None and hit[0] == mtime:
        return hit[1]
    books = _train_ivfpq_books(iv, coarse)
    _IVFPQ_CACHE[path] = (mtime, books)
    return books


def _coarse_map_expr(coarse: list) -> str:
    """SQL literal map cell -> centroid array (for residual math)."""
    keys = ",".join(str(int(c)) for c, _ in coarse)
    vals = ",".join(
        "array(" + ",".join(str(int(x)) for x in cv) + ")"
        for _, cv in coarse
    )
    return f"map_from_arrays(array({keys}), array({vals}))"


def ivfpq_knn(
    spark: SparkSession, sf_dir: str, n_probe: int = N_PROBE
) -> DataFrame:
    """IVF-PQ ANN — the full FAISS IVFADC shape, assembled from the
    two proven parts: the trained coarse quantizer prunes the corpus
    to N_PROBE cells per query (ivf_knn), and product-quantized
    RESIDUALS give each candidate an 8-lookup asymmetric distance
    (pq_adc_knn) — at billion-vector scale the index is cell-
    partitioned 8-byte codes, the scan touches only probed cells,
    and no raw vector is read until the final rerank.
    Registered in round 6.

    Plan shape: corpus side is ONE projection computing (cell from
    the literal coarse centroids, residual via a literal cell→
    centroid map, PQ codes from the literal residual codebooks) —
    narrow (vec_id, cell, 8 codes), no shuffle; query side explodes
    to (query, probed cell) rows each carrying a per-cell residual
    LUT (N_QUERIES * N_PROBE rows, broadcast); the candidate join is
    an equi-join on cell (never a full crossJoin — the IVF pruning
    is IN the join key, the defining difference from flat PQ); one
    pool window; tiny-pool broadcast rerank in exact full-dim
    cosine."""
    iv = _int_vecs(spark, sf_dir)
    coarse = _trained_centroids_cached(spark, sf_dir, iv)
    books = _ivfpq_books_cached(sf_dir, iv, coarse)
    codes = _ivfpq_encode(iv, coarse, books)
    probes = _ivfpq_probes(iv, coarse, books, n_probe)
    return _ivfpq_rank(spark, sf_dir, probes, codes)


def _ivfpq_encode(iv: DataFrame, coarse: list, books: list) -> DataFrame:
    """(neighbor_id, cell, codes): coarse cell assignment + residual
    PQ encode against a GIVEN quantizer (no training) — shared by the
    in-query ivfpq_knn, the index build, and the encode-only append
    path."""
    k = pd_ivfpq_encode(coarse, books)
    return iv.select(
        F.col("vec_id").alias("neighbor_id"), k("xi").alias("e")
    ).select(
        "neighbor_id",
        F.col("e.cell").alias("cell"),
        F.col("e.codes").alias("codes"),
    )


def _ivfpq_probes(
    iv: DataFrame, coarse: list, books: list, n_probe: int = N_PROBE
) -> DataFrame:
    """(query_id, cell, lut): each query exploded to its n_probe
    nearest cells with the per-cell residual ADC lookup table."""
    k = pd_ivfpq_probes(coarse, books, n_probe)
    return (
        iv.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), k("xi").alias("ps"))
        .select("query_id", F.explode("ps").alias("p"))
        .select(
            "query_id",
            F.col("p.cell").alias("cell"),
            F.col("p.lut").alias("lut"),
        )
    )


def _ivfpq_rank(
    spark: SparkSession, sf_dir: str, probes: DataFrame, codes: DataFrame
) -> DataFrame:
    """The IVFADC scan + exact rerank given probe LUTs and a code
    relation (inline-computed or read from the persisted index —
    output is identical either way, which is what the index parity
    test pins)."""
    adc = F.expr(_ADC_EXPR)
    wp = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("neighbor_id")
    )
    pool = (
        F.broadcast(probes)
        .join(codes, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("adc_d2", adc)
        .withColumn("prank", F.row_number().over(wp))
        .filter(F.col("prank") <= PQ_CANDIDATES)
        .select("query_id", "neighbor_id")
    )
    e = _vectors(spark, sf_dir)
    qv = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cv = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    cos = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    wf = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        F.broadcast(pool)
        .join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank")
    )


def _ivfpq_oracle_sql(
    n_probe: int = N_PROBE, corpus_where: str = ""
) -> str:
    """DuckDB twin: replays coarse training (the ivf_knn chain),
    residuals, residual-PQ training (namespaced 'pq' digest init),
    encode, the per-(query, probed-cell) residual LUT, the
    cell-pruned ADC scan, and the exact rerank. `corpus_where` is an
    extra predicate on the ADC pool's corpus side (`a.vec_id`) — the
    filtered-ANN variant; training always sees the FULL corpus."""
    return f"""
WITH {_VEC_CTE},
em AS (SELECT vec_id,
              [CAST(ROUND(x * {MICRO}, 0) AS BIGINT) for x in v] AS xi
       FROM e),
ux AS (SELECT vec_id, unnest(xi) AS x,
              generate_subscripts(xi, 1) AS pos FROM em),
samp AS (SELECT vec_id,
                ('0x' || substring(md5(vec_id::VARCHAR), 1, 15))::BIGINT AS h,
                ('0x' || substring(md5(vec_id::VARCHAR), 16, 15))::BIGINT AS h2
         FROM em),
a0 AS (SELECT vec_id, CAST(h2 % {KM_K} AS INT) AS cell
       FROM samp WHERE h % {KM_SAMPLE_MOD} = 0),
c1 AS (SELECT cell, pos,
              CAST(FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
       FROM a0 JOIN ux USING (vec_id) GROUP BY cell, pos),
d1 AS (SELECT u.vec_id, c1.cell, SUM((u.x - c1.c) * (u.x - c1.c)) AS dist
       FROM ux u JOIN a0 USING (vec_id) JOIN c1 ON u.pos = c1.pos
       GROUP BY u.vec_id, c1.cell),
a1 AS (SELECT vec_id, cell FROM (
         SELECT vec_id, cell,
                ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY dist, cell) AS rn
         FROM d1) WHERE rn = 1),
c2 AS (SELECT cell, pos,
              CAST(FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
       FROM a1 JOIN ux USING (vec_id) GROUP BY cell, pos),
cd AS (SELECT u.vec_id, c2.cell, SUM((u.x - c2.c) * (u.x - c2.c)) AS dist
       FROM ux u JOIN c2 ON u.pos = c2.pos
       GROUP BY u.vec_id, c2.cell),
cranked AS (SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cell) AS rn
            FROM cd),
asg AS (SELECT vec_id, cell FROM cranked WHERE rn = 1),
probe AS (SELECT vec_id AS query_id, cell FROM cranked
          WHERE vec_id < {N_QUERIES} AND rn <= {n_probe}),
rx AS (SELECT u.vec_id, u.pos,
              CAST((u.pos - 1) // {PQ_SUB} AS INT) AS m,
              u.x - c2.c AS r
       FROM ux u JOIN asg USING (vec_id)
       JOIN c2 ON c2.cell = asg.cell AND c2.pos = u.pos),
psamp AS (SELECT vec_id,
                 CAST(('0x' || substring(md5('pq' || vec_id::VARCHAR),
                                         1, 15))::BIGINT % {PQ_K}
                      AS INT) AS cell
          FROM a0),
pqc1 AS (SELECT ps.cell, rx.pos,
                CAST(FLOOR(CAST(SUM(rx.r) AS DOUBLE) / COUNT(*))
                     AS BIGINT) AS c
         FROM psamp ps JOIN rx USING (vec_id) GROUP BY ps.cell, rx.pos),
pqd1 AS (SELECT rx.vec_id, rx.m, pqc1.cell,
                SUM((rx.r - pqc1.c) * (rx.r - pqc1.c)) AS dist
         FROM rx JOIN psamp USING (vec_id)
         JOIN pqc1 ON pqc1.pos = rx.pos
         GROUP BY rx.vec_id, rx.m, pqc1.cell),
pqa1 AS (SELECT vec_id, m, cell FROM (
           SELECT vec_id, m, cell,
                  ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                     ORDER BY dist, cell) AS rn
           FROM pqd1) WHERE rn = 1),
pqc2 AS (SELECT pqa1.cell, rx.pos,
                CAST(FLOOR(CAST(SUM(rx.r) AS DOUBLE) / COUNT(*))
                     AS BIGINT) AS c
         FROM pqa1 JOIN rx
           ON rx.vec_id = pqa1.vec_id AND rx.m = pqa1.m
         GROUP BY pqa1.cell, rx.pos),
pqdn AS (SELECT rx.vec_id, rx.m, pqc2.cell,
                SUM((rx.r - pqc2.c) * (rx.r - pqc2.c)) AS dist
         FROM rx JOIN pqc2 ON pqc2.pos = rx.pos
         GROUP BY rx.vec_id, rx.m, pqc2.cell),
codes AS (SELECT vec_id AS neighbor_id, m, cell FROM (
            SELECT vec_id, m, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                      ORDER BY dist, cell) AS rn
            FROM pqdn) WHERE rn = 1),
qres AS (SELECT u.vec_id AS query_id, p.cell AS probe_cell, u.pos,
                CAST((u.pos - 1) // {PQ_SUB} AS INT) AS m,
                u.x - c2.c AS r
         FROM ux u
         JOIN probe p ON p.query_id = u.vec_id
         JOIN c2 ON c2.cell = p.cell AND c2.pos = u.pos),
qd AS (SELECT q.query_id, q.probe_cell, q.m, pqc2.cell,
              SUM((q.r - pqc2.c) * (q.r - pqc2.c)) AS dist
       FROM qres q JOIN pqc2 ON pqc2.pos = q.pos
       GROUP BY q.query_id, q.probe_cell, q.m, pqc2.cell),
pool AS (SELECT query_id, neighbor_id FROM (
           SELECT qd.query_id, nb.neighbor_id,
                  ROW_NUMBER() OVER (
                    PARTITION BY qd.query_id
                    ORDER BY SUM(qd.dist), nb.neighbor_id) AS prank
           FROM asg a
           JOIN qd ON qd.probe_cell = a.cell
           JOIN codes nb ON nb.neighbor_id = a.vec_id
                        AND nb.m = qd.m AND nb.cell = qd.cell
           WHERE qd.query_id <> a.vec_id{corpus_where}
           GROUP BY qd.query_id, nb.neighbor_id)
         WHERE prank <= {PQ_CANDIDATES})
SELECT pool.query_id, pool.neighbor_id,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY pool.query_id
         ORDER BY list_dot_product(q.v, nb.v) / (q.nrm * nb.nrm) DESC,
                  pool.neighbor_id) AS INT) AS rank
FROM pool
JOIN e q ON q.vec_id = pool.query_id
JOIN e nb ON nb.vec_id = pool.neighbor_id
QUALIFY rank <= {TOP_K}"""


K_NOISE = 5  # neighbors consulted per vector for the label audit


def label_noise_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise screen over the embedding corpus: for EVERY vector,
    the fraction of its approximate nearest neighbors that carry a
    DIFFERENT label (integer ppm) — the standard kNN-disagreement
    signal for mislabeled training examples (Confident-Learning-style
    audits start exactly here). Vectors whose neighborhoods
    overwhelmingly disagree are the review queue.
    Registered in round 6.

    Candidates come from the SAME multi-table hyperplane LSH banding
    as knn_lsh/dedup_embedding_lsh (deterministic literal planes, so
    even this audit is bit-checkable); each vector exact-ranks only
    its bucket-mates (top-{K_NOISE} by cosine, (cos desc, id)
    tie-break) — the all-corpus version of the query-side kNN, still
    never an all-pairs join. Vectors with no bucket-mates drop out
    (documented; L tables make that vanishingly rare).

    Scale shape: the (table, bucket) self-join is the proven
    dedup_embedding_lsh relation; the rank window partitions per
    vector over its own candidates; the final groupBy is per vector.
    Carrying (v, nrm) through the candidate join is the measured
    winner for small candidate sets (the simhash first-band lesson:
    measured per operator, not assumed)."""
    b = _bucketed(_vectors(spark, sf_dir))
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label"
    )
    a_side = b.join(emb, "vec_id").select(
        F.col("vec_id").alias("a_id"), F.col("v").alias("av"),
        F.col("nrm").alias("an"), F.col("label").alias("a_label"),
        "table", "bucket",
    )
    c_side = b.join(emb, "vec_id").select(
        F.col("vec_id").alias("c_id"), F.col("v").alias("cv"),
        F.col("nrm").alias("cn"), F.col("label").alias("c_label"),
        "table", "bucket",
    )
    cand = (
        a_side.join(c_side, ["table", "bucket"])
        .filter(F.col("a_id") != F.col("c_id"))
        .select("a_id", "a_label", "av", "an",
                "c_id", "c_label", "cv", "cn")
        .distinct()
    )
    cos = _dot(F.col("av"), F.col("cv")) / (F.col("an") * F.col("cn"))
    w = Window.partitionBy("a_id").orderBy(
        F.col("cos").desc(), F.col("c_id")
    )
    top = (
        cand.withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= K_NOISE)
    )
    return (
        top.groupBy("a_id", "a_label")
        .agg(
            F.count(F.lit(1)).alias("n_neighbors"),
            F.sum(
                (F.col("c_label") != F.col("a_label")).cast("long")
            ).alias("n_disagree"),
        )
        .select(
            F.col("a_id").alias("vec_id"),
            F.col("a_label").alias("label"),
            F.col("n_neighbors").cast("long").alias("n_neighbors"),
            F.col("n_disagree").cast("long").alias("n_disagree"),
            F.expr(
                "CAST(n_disagree * 1000000 div n_neighbors AS BIGINT)"
            ).alias("noise_ppm"),
        )
    )


#: DuckDB twin of label_noise_audit (round-6+ registration).
LABEL_NOISE_ORACLE = f"""
WITH {_VEC_CTE},
bands AS ({BANDS_SQL}),
cand AS (
  SELECT DISTINCT ba.vec_id AS a_id, bc.vec_id AS c_id
  FROM bands ba JOIN bands bc
    ON ba.table_id = bc.table_id AND ba.bucket = bc.bucket
  WHERE ba.vec_id <> bc.vec_id),
top AS (
  SELECT cand.a_id, cand.c_id
  FROM cand
  JOIN e a ON a.vec_id = cand.a_id
  JOIN e c ON c.vec_id = cand.c_id
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY cand.a_id
    ORDER BY list_dot_product(a.v, c.v) / (a.nrm * c.nrm) DESC,
             cand.c_id) <= {K_NOISE})
SELECT top.a_id AS vec_id,
       la.label AS label,
       CAST(COUNT(*) AS BIGINT) AS n_neighbors,
       CAST(COUNT(CASE WHEN lc.label <> la.label THEN 1 END)
            AS BIGINT) AS n_disagree,
       CAST(COUNT(CASE WHEN lc.label <> la.label THEN 1 END)
            * 1000000 // COUNT(*) AS BIGINT) AS noise_ppm
FROM top
JOIN embeddings la ON la.vec_id = top.a_id
JOIN embeddings lc ON lc.vec_id = top.c_id
GROUP BY top.a_id, la.label"""


def coreset_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-representative CORESET selection: one medoid-style
    representative per trained coarse cell (the member closest to its
    centroid, ties toward the lowest id) plus the cell's population —
    the cheap diverse-subset primitive data-curation pipelines use for
    eval-set seeding and dedup-aware subsampling (k-center-greedy's
    first-order approximation, one pass instead of k passes).
    Registered in round 6.

    Scale shape: cell+distance are ONE literal-centroid projection
    per row (the ivf assignment expression, both struct fields used);
    the argmin per cell is a map-side-combinable min_by groupBy over
    KM_K cells. No window over the corpus, no join at all."""
    iv = _int_vecs(spark, sf_dir)
    cents = _trained_centroids_cached(spark, sf_dir, iv)
    k = pd_assign_cells(cents, with_d2=True)
    asg = iv.select("vec_id", k("xi").alias("a")).select(
        "vec_id",
        F.col("a.cell").alias("cell"),
        F.col("a.d2").alias("d2"),
    )
    return (
        asg.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min_by(
                F.col("vec_id"), F.struct("d2", "vec_id")
            ).alias("rep_vec_id"),
            F.min(F.struct("d2", "vec_id")).getField("d2").alias(
                "rep_d2"
            ),
        )
        .select(
            F.col("cell").cast("int").alias("cell"),
            F.col("rep_vec_id").cast("long").alias("rep_vec_id"),
            F.col("rep_d2").cast("long").alias("rep_d2"),
            F.col("n_members").cast("long").alias("n_members"),
        )
    )


#: DuckDB twin of coreset_representatives (round-6+ registration).
CORESET_ORACLE = f"""
WITH {_VEC_CTE},
em AS (SELECT vec_id,
              [CAST(ROUND(x * {MICRO}, 0) AS BIGINT) for x in v] AS xi
       FROM e),
ux AS (SELECT vec_id, unnest(xi) AS x,
              generate_subscripts(xi, 1) AS pos FROM em),
samp AS (SELECT vec_id,
                ('0x' || substring(md5(vec_id::VARCHAR), 1, 15))::BIGINT AS h,
                ('0x' || substring(md5(vec_id::VARCHAR), 16, 15))::BIGINT AS h2
         FROM em),
a0 AS (SELECT vec_id, CAST(h2 % {KM_K} AS INT) AS cell
       FROM samp WHERE h % {KM_SAMPLE_MOD} = 0),
c1 AS (SELECT cell, pos,
              CAST(FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
       FROM a0 JOIN ux USING (vec_id) GROUP BY cell, pos),
d1 AS (SELECT u.vec_id, c1.cell, SUM((u.x - c1.c) * (u.x - c1.c)) AS dist
       FROM ux u JOIN a0 USING (vec_id) JOIN c1 ON u.pos = c1.pos
       GROUP BY u.vec_id, c1.cell),
a1 AS (SELECT vec_id, cell FROM (
         SELECT vec_id, cell,
                ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY dist, cell) AS rn
         FROM d1) WHERE rn = 1),
c2 AS (SELECT cell, pos,
              CAST(FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
       FROM a1 JOIN ux USING (vec_id) GROUP BY cell, pos),
cd AS (SELECT u.vec_id, c2.cell, SUM((u.x - c2.c) * (u.x - c2.c)) AS dist
       FROM ux u JOIN c2 ON u.pos = c2.pos
       GROUP BY u.vec_id, c2.cell),
asg AS (SELECT vec_id, cell, dist FROM (
          SELECT vec_id, cell, dist,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                                    ORDER BY dist, cell) AS rn
          FROM cd) WHERE rn = 1),
rep AS (SELECT cell, vec_id AS rep_vec_id, dist AS rep_d2 FROM (
          SELECT cell, vec_id, dist,
                 ROW_NUMBER() OVER (PARTITION BY cell
                                    ORDER BY dist, vec_id) AS rn
          FROM asg) WHERE rn = 1),
pop AS (SELECT cell, COUNT(*) AS n_members FROM asg GROUP BY cell)
SELECT CAST(rep.cell AS INT) AS cell,
       CAST(rep.rep_vec_id AS BIGINT) AS rep_vec_id,
       CAST(rep.rep_d2 AS BIGINT) AS rep_d2,
       CAST(pop.n_members AS BIGINT) AS n_members
FROM rep JOIN pop USING (cell)"""


# --- Round-6 registrations into the driver contract
# --- (queries()/oracle_sql()).
QUERIES["knn_pq_adc"] = pq_adc_knn
ORACLES["knn_pq_adc"] = _pq_oracle_sql()
QUERIES["knn_ivfpq"] = ivfpq_knn
ORACLES["knn_ivfpq"] = _ivfpq_oracle_sql()
QUERIES["label_noise_audit"] = label_noise_audit
ORACLES["label_noise_audit"] = LABEL_NOISE_ORACLE
QUERIES["coreset_representatives"] = coreset_representatives
ORACLES["coreset_representatives"] = CORESET_ORACLE


# ---------------------------------------------------------------------------
# Persisted IVF-PQ index — the maintained-table ANN posture.
#
# ivfpq_knn COMPUTES its index artifacts per run (memoized only
# in-process); at billion-vector scale those are train-once artifacts
# the query path should READ. This is the vector-side twin of the
# MinHash corpus band index (operators/dedup.py
# build_minhash_band_index): trained coarse centroids + residual PQ
# codebooks persist as tiny catalog "header" tables, and the 8-byte
# code table persists PARTITIONED BY CELL, so a probe's scan prunes to
# exactly the probed cells (PartitionFilters at the parquet scan — the
# FAISS "touch only probed inverted lists" property, expressed as
# partition pruning). The probe side is a broadcast, so the code scan
# feeds the join with NO shuffle Exchange at all (test-asserted), and
# appends are ENCODE-ONLY against the stored quantizer — the corpus is
# never retrained or re-encoded (parity test-pinned).
# ---------------------------------------------------------------------------

IVFPQ_CENTROIDS_TABLE = "ivfpq_centroids"
IVFPQ_CODEBOOKS_TABLE = "ivfpq_codebooks"
IVFPQ_CODES_TABLE = "ivfpq_codes"


def _drop_table(spark: SparkSession, table: str) -> None:
    """DROP + clear any orphan managed-table location (a crashed
    earlier write leaves a directory the next creation refuses)."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    if wh.startswith("file:"):
        import shutil
        from urllib.parse import urlparse

        shutil.rmtree(
            f"{urlparse(wh).path}/{table.lower()}", ignore_errors=True
        )


def build_ivfpq_index(spark: SparkSession, sf_dir: str) -> None:
    """Train once, persist everything: coarse centroids and PQ
    codebooks as exact-integer header tables, the corpus codes as a
    cell-partitioned catalog table. Deterministic training makes a
    rebuild bit-identical, so the probe's parity with ivfpq_knn is
    exact, not approximate."""
    iv = _int_vecs(spark, sf_dir)
    coarse = _trained_centroids_cached(spark, sf_dir, iv)
    books = _ivfpq_books_cached(sf_dir, iv, coarse)

    import os

    src_dir = os.path.abspath(sf_dir)
    _drop_table(spark, IVFPQ_CENTROIDS_TABLE)
    spark.createDataFrame(
        # source_sf_dir stamps WHICH corpus built this index so a
        # cross-process probe against a foreign index errors instead
        # of silently returning that corpus's neighbors
        [(int(c), [int(x) for x in cv], src_dir) for c, cv in coarse],
        "cell int, centroid array<bigint>, source_sf_dir string",
    ).write.format("parquet").saveAsTable(IVFPQ_CENTROIDS_TABLE)

    _drop_table(spark, IVFPQ_CODEBOOKS_TABLE)
    rows = []
    for m, book in enumerate(books):
        for i, (cell, cv) in enumerate(book):
            # i is the within-book position the FLAT ADC index derives
            # from (see _pq_encode_expr) — persisted so reconstruction
            # preserves code/LUT alignment exactly
            rows.append((m, i, int(cell), [int(x) for x in cv]))
    spark.createDataFrame(
        rows, "m int, i int, cell int, centroid array<bigint>"
    ).write.format("parquet").saveAsTable(IVFPQ_CODEBOOKS_TABLE)

    _drop_table(spark, IVFPQ_CODES_TABLE)
    (
        _ivfpq_encode(iv, coarse, books)
        .write.format("parquet")
        .partitionBy("cell")
        .saveAsTable(IVFPQ_CODES_TABLE)
    )


def _index_table(spark: SparkSession, table: str) -> DataFrame:
    """Read an index table — from the session catalog when present,
    else from its warehouse directory (saveAsTable's catalog entry is
    per-session with the in-memory catalog, but the parquet layout on
    disk is durable; partition discovery recovers the cell
    partitioning on the path read)."""
    if spark.catalog.tableExists(table):
        return spark.table(table)
    import os
    from urllib.parse import urlparse

    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    if wh.startswith("file:"):
        path = f"{urlparse(wh).path}/{table.lower()}"
        if os.path.isdir(path):
            return spark.read.parquet(path)
    raise ValueError(
        f"index table {table} not built — run build_ivfpq_index first"
    )


def index_source_sf_dir(spark: SparkSession) -> str | None:
    """The corpus directory the persisted index was built from (the
    stamp build_ivfpq_index writes into the centroids header table).
    None for a pre-stamp index layout (no such column)."""
    head = _index_table(spark, IVFPQ_CENTROIDS_TABLE)
    if "source_sf_dir" not in head.columns:
        return None
    row = head.select(F.min("source_sf_dir").alias("d")).collect()[0]
    return row.d


def load_ivfpq_quantizer(spark: SparkSession) -> tuple[list, list]:
    """(coarse, books) reconstructed from the header tables — the
    'load the index header' step; tiny (<= KM_K + PQ_M*PQ_K rows)."""
    coarse = sorted(
        (int(r.cell), [int(x) for x in r.centroid])
        for r in _index_table(spark, IVFPQ_CENTROIDS_TABLE).collect()
    )
    by_m: dict = {}
    for r in _index_table(spark, IVFPQ_CODEBOOKS_TABLE).collect():
        by_m.setdefault(int(r.m), []).append(
            (int(r.i), int(r.cell), [int(x) for x in r.centroid])
        )
    books = [
        [(cell, cv) for _i, cell, cv in sorted(by_m[m])]
        for m in sorted(by_m)
    ]
    # Contract (r20): the persisted codes are arrays of exactly
    # len(books) entries, and every reader (_ADC_EXPR unrolls PQ_M
    # element_at terms) assumes that width == the CURRENT PQ_M. A
    # stale index from a different PQ_M would otherwise surface as an
    # ANSI INVALID_ARRAY_INDEX (or a silently-truncated sum) deep in
    # execution — fail loudly at load instead.
    if len(books) != PQ_M:
        raise ValueError(
            f"persisted IVF-PQ index has {len(books)} subspace "
            f"codebooks but this build uses PQ_M={PQ_M} — rebuild the "
            "index (build_ivfpq_index / `ann-index build`)"
        )
    return coarse, books


def append_ivfpq_index(spark: SparkSession, new_int_vecs: DataFrame) -> None:
    """Index maintenance: encode a (small) new delivery with the
    STORED quantizer — no retrain, no touch of existing codes — and
    append into the cell-partitioned code table. Appending equals
    having encoded the union in one pass (same frozen quantizer), the
    invariant the maintenance parity test pins."""
    coarse, books = load_ivfpq_quantizer(spark)
    codes = _ivfpq_encode(new_int_vecs, coarse, books)
    if spark.catalog.tableExists(IVFPQ_CODES_TABLE):
        (
            codes.write.format("parquet")
            .mode("append")
            .partitionBy("cell")
            .saveAsTable(IVFPQ_CODES_TABLE)
        )
    else:
        # catalog entry is per-session; append into the durable
        # warehouse layout directly (same cell partitioning)
        import os
        from urllib.parse import urlparse

        wh = spark.conf.get("spark.sql.warehouse.dir", "")
        path = f"{urlparse(wh).path}/{IVFPQ_CODES_TABLE.lower()}"
        if not (wh.startswith("file:") and os.path.isdir(path)):
            raise ValueError(
                f"index table {IVFPQ_CODES_TABLE} not built"
            )
        codes.write.mode("append").partitionBy("cell").parquet(path)


def probe_ivfpq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ivfpq_knn with every index artifact READ instead of computed:
    quantizer from the header tables, codes from the cell-partitioned
    table pruned to the probed cells (the probed-cell set is known
    from the bounded query side before the corpus scan — collected
    like any 1-row budget guard). Output rows are IDENTICAL to
    ivfpq_knn over the same corpus (parity test-pinned). Refuses to
    probe an index STAMPED with a different source corpus — the stamp
    lives in the persisted centroids header, so the guard holds
    across processes (CLI probes included), not just in-process."""
    import os

    built_from = index_source_sf_dir(spark)
    if built_from is not None and built_from != os.path.abspath(sf_dir):
        raise ValueError(
            f"persisted IVF-PQ index was built from {built_from!r}, "
            f"not {os.path.abspath(sf_dir)!r} — rebuild with "
            "build_ivfpq_index (or `ann-index build`) for this corpus"
        )
    coarse, books = load_ivfpq_quantizer(spark)
    iv = _int_vecs(spark, sf_dir)
    probes = _ivfpq_probes(iv, coarse, books)
    probed_cells = sorted(
        int(r.cell) for r in probes.select("cell").distinct().collect()
    )
    codes = _index_table(spark, IVFPQ_CODES_TABLE).filter(
        F.col("cell").isin(probed_cells)
    )
    return _ivfpq_rank(spark, sf_dir, probes, codes)


def q_embedding_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE embedding centroid vs the global corpus centroid —
    the domain-drift audit for a multi-feed corpus (a feed whose
    centroid points away from the corpus is a different distribution:
    new domain, new language mix, or a scraper gone wrong). Everything
    hashable is exact integer: centroids in floor-averaged micros (the
    one IEEE double division both engines share, the ivf_knn
    discipline), dot products and squared norms as BIGINT sums, and
    the alignment emitted as SIGNED squared-cosine ppm
    (dot^2 * 1e6 div (|c|^2 |g|^2), negated when the dot is negative)
    — no sqrt, no float in any hashed column.

    Scale shape: one embeddings scan, a 64-way bounded posexplode,
    one map-side-combinable (source, pos) rollup; everything after
    runs on |sources| x dim rows. The doc join ships only
    (doc_id, source)."""
    iv = _int_vecs(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    px = iv.join(src, "vec_id").select(
        "source", F.posexplode("xi").alias("pos", "x")
    )
    per = px.groupBy("source", "pos").agg(
        F.sum("x").alias("s"), F.count(F.lit(1)).alias("n")
    )
    cent = per.select(
        "source",
        "pos",
        F.expr("CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT)").alias("c"),
        "n",
    )
    gper = px.groupBy("pos").agg(
        F.sum("x").alias("gs"), F.count(F.lit(1)).alias("gn")
    )
    glob = gper.select(
        "pos",
        F.expr("CAST(floor(CAST(gs AS DOUBLE) / gn) AS BIGINT)").alias("g"),
    )
    j = cent.join(F.broadcast(glob), "pos")
    agg = j.groupBy("source").agg(
        F.expr("CAST(min(n) AS BIGINT)").alias("n_vecs"),
        F.sum(F.col("c") * F.col("g")).alias("dot_global"),
        F.sum(F.col("c") * F.col("c")).alias("norm_sq"),
        F.sum(F.col("g") * F.col("g")).alias("global_norm_sq"),
    )
    mag = F.expr(
        "CAST(CAST(dot_global AS DECIMAL(38,0)) * dot_global * 1000000"
        " div (CAST(norm_sq AS DECIMAL(38,0)) * global_norm_sq)"
        " AS BIGINT)"
    )
    return agg.select(
        "source",
        "n_vecs",
        F.col("dot_global").cast("long").alias("dot_global"),
        F.col("norm_sq").cast("long").alias("norm_sq"),
        F.col("global_norm_sq").cast("long").alias("global_norm_sq"),
        F.when(F.col("dot_global") < 0, -mag).otherwise(mag)
        .cast("long")
        .alias("cos2_ppm_signed"),
    )


QUERIES["embedding_source_drift"] = q_embedding_source_drift

ORACLES["embedding_source_drift"] = f"""
WITH em AS (SELECT vec_id,
                   [CAST(ROUND(x * {MICRO}, 0) AS BIGINT)
                    for x in CAST(embedding AS DOUBLE[])] AS xi
            FROM embeddings),
src AS (SELECT doc_id AS vec_id, source FROM documents),
px2 AS (SELECT s.source, unnest(em.xi) AS x,
               generate_subscripts(em.xi, 1) AS pos
        FROM em JOIN src s USING (vec_id)),
per AS (SELECT source, pos, CAST(SUM(x) AS BIGINT) AS sm,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM px2 GROUP BY source, pos),
cent AS (SELECT source, pos,
                CAST(FLOOR(CAST(sm AS DOUBLE) / n) AS BIGINT) AS c, n
         FROM per),
gper AS (SELECT pos, CAST(SUM(x) AS BIGINT) AS gsm,
                CAST(COUNT(*) AS BIGINT) AS gn
         FROM px2 GROUP BY pos),
gcent AS (SELECT pos,
                CAST(FLOOR(CAST(gsm AS DOUBLE) / gn) AS BIGINT) AS g
         FROM gper),
agg AS (SELECT source, CAST(MIN(n) AS BIGINT) AS n_vecs,
               CAST(SUM(c * g) AS BIGINT) AS dot_global,
               CAST(SUM(c * c) AS BIGINT) AS norm_sq,
               CAST(SUM(g * g) AS BIGINT) AS global_norm_sq
        FROM cent JOIN gcent USING (pos) GROUP BY source)
SELECT source, n_vecs, dot_global, norm_sq, global_norm_sq,
       CAST(CASE WHEN dot_global < 0 THEN
              -(CAST(dot_global AS HUGEINT) * dot_global * 1000000
                // (CAST(norm_sq AS HUGEINT) * global_norm_sq))
            ELSE
              CAST(dot_global AS HUGEINT) * dot_global * 1000000
                // (CAST(norm_sq AS HUGEINT) * global_norm_sq)
            END AS BIGINT) AS cos2_ppm_signed
FROM agg"""


def knn_ivfpq_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`knn_ivfpq` answered FROM the persisted index: builds the
    centroid/codebook/code tables once per session if absent (the
    train-once posture — in production they already exist), then runs
    the read-only partition-pruned probe. Output is row-identical to
    the in-query ivfpq, so the SAME oracle attests the
    maintained-index deployment under the driver. Registered r6.
    One corpus per index: the PERSISTED source stamp (not a
    per-process memo) decides whether the existing index serves this
    sf_dir — rebuilt when it was built from a different corpus. The
    stamp alone is not sufficient evidence of a COMPLETE index (a
    build that crashed after the stamped centroids table, or codes
    dropped separately, leaves a valid stamp over missing tables), so
    a rebuild also triggers when any of the three tables is
    unreadable."""
    import os

    from pyspark.errors import AnalysisException

    try:
        built_from = index_source_sf_dir(spark)
        # all three tables must be present — the stamp lives in the
        # FIRST table the build writes, so it can survive a partial
        # build; an unreadable codebooks/codes table means rebuild,
        # never a permanent error. AnalysisException covers the
        # dir-exists-but-unreadable case (a crashed write leaving
        # only _temporary: read.parquet can't infer a schema).
        _index_table(spark, IVFPQ_CODEBOOKS_TABLE)
        _index_table(spark, IVFPQ_CODES_TABLE)
    except (ValueError, AnalysisException):
        built_from = None  # no index, or a partial one
    if built_from != os.path.abspath(sf_dir):
        build_ivfpq_index(spark, sf_dir)
    return probe_ivfpq_index(spark, sf_dir)


QUERIES["knn_ivfpq_index_probe"] = knn_ivfpq_index_probe
ORACLES["knn_ivfpq_index_probe"] = _ivfpq_oracle_sql()


def knn_ivfpq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ measures its OWN recall under the driver oracle — the
    lsh_recall_audit discipline applied to the ANN capstone: per
    query, how many of the exact bruteforce top-{TOP_K} the IVF-PQ
    chain returns, as an integer-ppm recall. Both sides are
    deterministic, so the recall itself is a reproducible number the
    cross-engine hash can attest (the DuckDB twin nests both
    registered oracle chains as FROM-subqueries and joins them).

    Scale posture: the audit runs on the bounded N_QUERIES query set
    — never corpus-scale — and reuses the two registered plans
    verbatim; at 100 TB you run it on a sampled query panel after
    every index rebuild."""
    return _ivfpq_recall(spark, sf_dir, N_PROBE)


def _ivfpq_recall(
    spark: SparkSession, sf_dir: str, n_probe: int
) -> DataFrame:
    """Per-query recall@{TOP_K} of the IVF-PQ chain at a given probe
    count vs the exact bruteforce top-k — the shared body of the
    registered audit (N_PROBE) and the probe sweep."""
    bf = q_knn_bruteforce_cosine(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    iv = ivfpq_knn(spark, sf_dir, n_probe).select(
        "query_id", F.col("neighbor_id").alias("ann_neighbor")
    )
    hits = (
        bf.join(
            iv,
            (bf["query_id"] == iv["query_id"])
            & (bf["neighbor_id"] == iv["ann_neighbor"]),
            "left",
        )
        .select(bf["query_id"], iv["ann_neighbor"])
        .groupBy("query_id")
        .agg(F.count("ann_neighbor").alias("n_hits"))
    )
    return hits.select(
        "query_id",
        F.col("n_hits").cast("long").alias("n_hits"),
        F.expr(
            f"CAST(CAST(n_hits AS DECIMAL(38,0)) * 1000000"
            f" div {TOP_K} AS BIGINT)"
        ).alias("recall_ppm"),
    )


def _ivfpq_recall_oracle(n_probe: int = N_PROBE) -> str:
    bf = ORACLES["knn_bruteforce_cosine"]
    iv = _ivfpq_oracle_sql(n_probe)
    return f"""
SELECT b.query_id,
       CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_hits,
       CAST(CAST(COUNT(i.neighbor_id) AS HUGEINT) * 1000000
            // {TOP_K} AS BIGINT) AS recall_ppm
FROM ({bf}) b
LEFT JOIN ({iv}) i
  ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
GROUP BY b.query_id"""


QUERIES["knn_ivfpq_recall_audit"] = knn_ivfpq_recall_audit
ORACLES["knn_ivfpq_recall_audit"] = _ivfpq_recall_oracle()


#: probe counts swept by knn_ivfpq_probe_sweep — N_PROBE (the
#: registered operating point) plus two doublings; the top point
#: probes all KM_K coarse cells, so the curve ends at the index's
#: PQ-limited recall ceiling (the knee is visible, not extrapolated)
PROBE_SWEEP = (N_PROBE, 2 * N_PROBE, 4 * N_PROBE)


def knn_ivfpq_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall/cost CURVE of the IVF-PQ index under the driver
    oracle: knn_ivfpq_recall_audit evaluated at every probe count in
    {PROBE_SWEEP} (N_PROBE=2 of {KM_K} cells — the registered
    operating point — and two doublings, the last probing every
    cell), one row per (n_probe, query). Doubling the probed cells
    roughly doubles the candidate scan cost at 100 TB (the scan is
    cell-pruned, so cost ~ cells-touched), and the top point is the
    index's PQ-limited ceiling — the 3-point curve shows the knee a
    deployment tunes against; measuring it under the same nested
    cross-engine oracle keeps the curve honest rather than
    anecdotal. Registered r7; extended to three points r8.

    Scale posture: the quantizer is trained ONCE (both sweep points
    share the cached coarse/PQ tables — only the bounded query side
    re-probes); bruteforce ground truth is the bounded N_QUERIES
    panel, never corpus-scale."""
    out = None
    for np_ in PROBE_SWEEP:
        r = _ivfpq_recall(spark, sf_dir, np_).select(
            F.lit(np_).cast("int").alias("n_probe"),
            "query_id", "n_hits", "recall_ppm",
        )
        out = r if out is None else out.unionByName(r)
    return out


def _ivfpq_sweep_oracle() -> str:
    parts = [
        f"SELECT CAST({np_} AS INT) AS n_probe, query_id, n_hits,"
        f" recall_ppm FROM ({_ivfpq_recall_oracle(np_)})"
        for np_ in PROBE_SWEEP
    ]
    return "\nUNION ALL\n".join(parts)


QUERIES["knn_ivfpq_probe_sweep"] = knn_ivfpq_probe_sweep
ORACLES["knn_ivfpq_probe_sweep"] = _ivfpq_sweep_oracle()


# ---------------------------------------------------------------------------
# IVF-PQ distortion audit (registered below).
# ---------------------------------------------------------------------------

def ivfpq_distortion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-coarse-cell PQ QUANTIZATION-ERROR audit — the third leg of
    the ANN quality triple (recall audits search quality, the Lloyd
    counts attest coarse convergence; this measures how much residual
    energy the 8-byte codes FAIL to capture). distortion_ppm = sum of
    per-vector minimum squared code distances x 1e6 div the summed
    residual energy: 0 = codes reproduce residuals exactly, 1e6 =
    codes carry no information. A cell whose ppm is an outlier has a
    codebook trained on somebody else's residual distribution — the
    signal that triggers retraining in production.

    Exactness: every distance is exact int64 (micros diffs squared,
    summed over 8-dim subspaces), per-cell sums widen to
    DECIMAL(38,0), one truncating div each for the mean and the ppm.

    Scale shape: ONE projection over the corpus (a numpy batch
    kernel: cell assign + residual + 8 subspace minima), then a
    map-side-combinable per-cell rollup. No joins, no windows."""
    iv = _int_vecs(spark, sf_dir)
    coarse = _trained_centroids_cached(spark, sf_dir, iv)
    books = _ivfpq_books_cached(sf_dir, iv, coarse)
    cells, C = _coarse_np(coarse)
    books_np = _books_np(books)

    # r19 vectorized kernel (see the kernel section): coarse assign +
    # residual + per-subspace MIN distance + residual energy in one
    # batch — same exact int64 math as the literal-fold form
    @F.pandas_udf("cell int, sq_err bigint, energy bigint")
    def k(xi: pd.Series) -> pd.DataFrame:
        X = _np_stack(xi)
        idx = np.argmin(_np_d2(X, C), axis=1)
        R = X - C[idx]
        sq = np.zeros(X.shape[0], dtype=np.int64)
        for m, (_off, B) in enumerate(books_np):
            sub = R[:, m * PQ_SUB : (m + 1) * PQ_SUB]
            sq += _np_d2(sub, B).min(axis=1)
        return pd.DataFrame(
            {
                "cell": cells[idx].astype("int32"),
                "sq_err": sq,
                "energy": (R * R).sum(axis=1, dtype="int64"),
            }
        )

    per_vec = iv.select(_nd(k)("xi").alias("a")).select(
        F.col("a.cell").alias("cell"),
        F.col("a.sq_err").alias("sq_err"),
        F.col("a.energy").alias("energy"),
    )
    agg = per_vec.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.col("sq_err").cast("decimal(38,0)")).alias("sq_sum"),
        F.sum(F.col("energy").cast("decimal(38,0)")).alias("en_sum"),
    )
    return agg.select(
        F.col("cell").cast("int").alias("cell"),
        F.col("n_vecs").cast("long").alias("n_vecs"),
        F.expr("CAST(sq_sum div n_vecs AS BIGINT)").alias(
            "mean_sq_err"
        ),
        F.expr(
            "CAST(sq_sum * 1000000 div en_sum AS BIGINT)"
        ).alias("distortion_ppm"),
    )


def _ivfpq_distortion_oracle() -> str:
    """Reuses the registered IVF-PQ oracle's training/encode chain
    verbatim (split before its query-side CTEs) — the audit and the
    search oracle can never train different quantizers."""
    full = _ivfpq_oracle_sql()
    prefix = full.split("qres AS")[0]
    return prefix + """md AS (SELECT vec_id, m, MIN(dist) AS dmin
      FROM pqdn GROUP BY vec_id, m),
dv AS (SELECT vec_id, SUM(dmin) AS sq_err FROM md GROUP BY vec_id),
en AS (SELECT vec_id, SUM(r * r) AS energy FROM rx GROUP BY vec_id)
SELECT CAST(a.cell AS INT) AS cell,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CAST(sq_err AS HUGEINT)) // COUNT(*) AS BIGINT)
         AS mean_sq_err,
       CAST(SUM(CAST(sq_err AS HUGEINT)) * 1000000
            // SUM(CAST(energy AS HUGEINT)) AS BIGINT)
         AS distortion_ppm
FROM asg a JOIN dv USING (vec_id) JOIN en USING (vec_id)
GROUP BY a.cell"""


# Registered r8.
QUERIES["ivfpq_distortion_audit"] = ivfpq_distortion_audit
ORACLES["ivfpq_distortion_audit"] = _ivfpq_distortion_oracle()


# ---------------------------------------------------------------------------
# r9-staged prebuilds, registered in round 10.
# ---------------------------------------------------------------------------

#: metadata predicate for the filtered-ANN variant (embeddings.label)
ANN_FILTER_SQL = "label % 2 = 0"


def ivfpq_knn_filtered(
    spark: SparkSession, sf_dir: str, n_probe: int = N_PROBE
) -> DataFrame:
    """FILTERED ANN — top-k under a metadata predicate, the feature
    every production vector store ships (search only documents with
    license X / language Y): the full IVF-PQ pipeline with the
    corpus side restricted to `ANN_FILTER_SQL` rows. The filter
    composes INTO the plan at the right altitude: pushed to the
    embeddings SCAN (only allowed rows are residual-encoded — at
    billion-vector scale the codes relation itself shrinks), while
    the QUANTIZER is trained on the FULL corpus, so the filtered and
    unfiltered indexes share one set of centroids/codebooks and a
    deployment can serve any predicate from one trained model (the
    FAISS IDSelector posture, not a per-predicate re-train). Queries
    are never filtered; self-matches are excluded as usual.

    Post-filter ranking is exact within the probed cells: the ADC
    pool ranks only allowed candidates, so selective predicates
    never silently shrink below k by pool displacement — the
    standard filtered-ANN failure this form avoids by construction."""
    iv = _int_vecs(spark, sf_dir)
    coarse = _trained_centroids_cached(spark, sf_dir, iv)
    books = _ivfpq_books_cached(sf_dir, iv, coarse)
    corpus = to_int_vecs(
        load_table(spark, sf_dir, "embeddings").filter(
            F.expr(ANN_FILTER_SQL)
        )
    )
    codes = _ivfpq_encode(corpus, coarse, books)
    probes = _ivfpq_probes(iv, coarse, books, n_probe)
    return _ivfpq_rank(spark, sf_dir, probes, codes)


def _ivfpq_filtered_oracle() -> str:
    return _ivfpq_oracle_sql(
        corpus_where=(
            "\n             AND a.vec_id IN "
            f"(SELECT vec_id FROM embeddings WHERE {ANN_FILTER_SQL})"
        )
    )


#: hybrid search: queries, fused top-k, lexical stop rule, RRF
#: constant. The stop threshold is CORPUS-RELATIVE — a token is
#: indexable iff df <= max(LEX_DF_CAP, n_docs div LEX_DF_DENOM) —
#: because a fixed cap silently empties the lexical leg as the
#: corpus grows (measured: cap 64 left ZERO indexable tokens at
#: sf0.01, making the registered hybrid vector-only at the proof SF
#: — the degeneracy hybrid_fusion_coverage exists to expose).
HY_QUERIES = 5
HY_K = 10
LEX_DF_CAP = 64
LEX_DF_DENOM = 20
RRF_K = 60


def _hybrid_lex_leg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id, lex_rank): the DF-capped inverted-index
    lexical top-k over distinct BIGRAMS — shared by the exact and
    index-probe fusions. Bigrams, not unigrams: on a small shared
    vocabulary every unigram is a stopword at corpus scale (measured:
    zero indexable unigrams past sf0.001), while bigram DF keeps real
    rare terms at every SF — the term-length lever production lexical
    retrieval pulls for the same reason (phrase terms beat bag-of-
    stopwords)."""
    post, nd = _lex_postings(spark, sf_dir)
    w = (
        post.groupBy("t")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(nd))
        .filter(
            F.expr(
                f"df <= greatest({LEX_DF_CAP}, n_docs div {LEX_DF_DENOM})"
            )
        )
        .select("t", F.expr("CAST(1000000 div df AS BIGINT)").alias("wt"))
    )
    pw = post.join(w, "t")
    qp = pw.filter(F.col("doc_id") < HY_QUERIES).select(
        F.col("doc_id").alias("query_id"), "t"
    )
    cp = pw.select(F.col("doc_id").alias("neighbor_id"), "t", "wt")
    wl = Window.partitionBy("query_id").orderBy(
        F.col("lex_score").desc(), F.col("neighbor_id")
    )
    return (
        qp.join(cp, "t")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("wt").alias("lex_score"))
        .withColumn("lex_rank", F.row_number().over(wl))
        .filter(F.col("lex_rank") <= HY_K)
        .select("query_id", "neighbor_id", "lex_rank")
    )


def _lex_postings(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(post, nd): the distinct-bigram posting relation (doc_id, t)
    and the broadcastable 1-row doc count — the corpus-side base the
    lexical leg and lex_cap_sweep share."""
    from ..functions.text import shingles_from_tokens, tokens

    base = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    # transform + explode in ONE projection: an intermediate array
    # column invites CollapseProject to inline tokens() into every
    # element access of the NEXT projection's lambda — measured 18 s
    # vs 0.7 s for this posting build at sf0.1 (the quadratic
    # shingles_from_tokens trap, one projection removed)
    post = base.select(
        "doc_id",
        F.explode(shingles_from_tokens(F.col("toks"), 2)).alias("t"),
    )
    nd = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return post, nd


def _rrf_fuse(lex: DataFrame, vec: DataFrame) -> DataFrame:
    """Fuse (query_id, neighbor_id, lex_rank) with (query_id,
    neighbor_id, vec_rank) in integer rank space: rrf = Σ 1e9 //
    (RRF_K + rank) over the lists containing the doc. Consumes ONLY
    ranks, so any vector leg with the (query_id, neighbor_id,
    vec_rank) shape — exact scan or persisted-index probe — fuses
    identically."""
    fused = lex.join(vec, ["query_id", "neighbor_id"], "full_outer").withColumn(
        "rrf_score",
        F.expr(
            f"coalesce(1000000000 div ({RRF_K} + lex_rank), 0)"
            f" + coalesce(1000000000 div ({RRF_K} + vec_rank), 0)"
        ).cast("long"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("neighbor_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= HY_K)
        .select(
            "query_id",
            "neighbor_id",
            "rrf_score",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval — lexical + vector search fused by reciprocal
    rank (RRF, Cormack et al.): for each query document, an
    inverted-index lexical top-k (integer idf weights 1e6//df over
    shared rare tokens; tokens above LEX_DF_CAP are stop-tokens —
    the MAX_SHINGLE_DF posture, which also bounds the candidate
    join) and an exact cosine top-k over the aligned embedding
    (vec_id == doc_id in this corpus) are combined in RANK space:
    rrf = Σ 1e9 // (60 + rank) over the lists containing the doc —
    integer-exact, so the fusion itself is oracle-provable even
    though the vector leg orders by a float cosine (ties broken by
    id, the proven knn convention).

    Scale: the lexical leg is the DF-capped inverted-index join
    (uniform keys, candidate count bounded by cap x |query terms|);
    the vector leg here is the exact broadcast scan (HY_QUERIES
    rows) — `hybrid_search_rrf_indexed` swaps in the persisted
    IVF-PQ index probe for that leg, and the fusion is unchanged
    because RRF consumes only ranks (parity where the probe's list
    matches is pinned in tests/test_hybrid_indexed.py)."""
    return _rrf_fuse(
        _hybrid_lex_leg(spark, sf_dir), _hybrid_exact_vec_leg(spark, sf_dir)
    )


def _hybrid_exact_vec_leg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id, vec_rank): the exact broadcast-scan
    cosine top-{HY_K} vector leg of hybrid_search_rrf — shared with
    hybrid_probe_sweep, whose exact-hybrid reference fuses it against
    the same checkpointed lexical leg as the swept probe fusions."""
    e = _vectors(spark, sf_dir)
    qv = e.filter(F.col("vec_id") < HY_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cv = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        cv.join(F.broadcast(qv))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos", _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
        )
        .withColumn("vec_rank", F.row_number().over(wv))
        .filter(F.col("vec_rank") <= HY_K)
        .select("query_id", "neighbor_id", "vec_rank")
    )


def hybrid_search_rrf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deployment variant hybrid_search_rrf's docstring promises:
    the vector leg is the PERSISTED IVF-PQ index probe (train-once
    tables, cell-pruned code scan, exact rerank — the
    knn_ivfpq_index_probe path, self-healing build included) instead
    of the exact broadcast scan; the lexical leg and the RRF fusion
    are the SAME code. TOP_K == HY_K and the probe's query set
    (vec_id < N_QUERIES) covers vec_id < HY_QUERIES, so the probe's
    (query_id, neighbor_id, rank) drops in as vec_rank directly.
    For every query where the probe's top-k list equals the exact
    leg's list, the fused rows are IDENTICAL to hybrid_search_rrf
    (test-pinned); elsewhere they differ exactly where ANN recall
    differs — the fusion adds no error of its own."""
    vec = (
        knn_ivfpq_index_probe(spark, sf_dir)
        .filter(F.col("query_id") < HY_QUERIES)
        .select(
            "query_id", "neighbor_id", F.col("rank").alias("vec_rank")
        )
    )
    return _rrf_fuse(_hybrid_lex_leg(spark, sf_dir), vec)


def _hybrid_rrf_oracle(vec_leg: str) -> str:
    """DuckDB twin of the RRF fusion, parameterized by the vector
    leg — `vec_leg` is any subquery producing (query_id, neighbor_id,
    vec_rank). The lexical CTE chain and the fusion are shared text,
    so the exact and indexed oracles can only diverge where the Spark
    variants do: the vector leg."""
    return f"""
WITH {_VEC_CTE},
toks AS (SELECT doc_id,
                string_split(
                  lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                  ' ') AS tl
         FROM documents),
bgl AS (SELECT doc_id,
               list_distinct([tl[i] || ' ' || tl[i + 1]
                              for i in range(1, len(tl))]) AS bgs
        FROM toks WHERE len(tl) >= 2),
post AS (SELECT doc_id, unnest(bgs) AS t FROM bgl),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
w AS (SELECT t, CAST(1000000 // COUNT(*) AS BIGINT) AS wt
      FROM post, nd GROUP BY t, nd.n_docs
      HAVING COUNT(*) <= greatest({LEX_DF_CAP},
                                  nd.n_docs // {LEX_DF_DENOM})),
pw AS (SELECT post.doc_id, post.t, w.wt FROM post JOIN w USING (t)),
lexs AS (
  SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
         SUM(c.wt) AS lex_score
  FROM pw q JOIN pw c ON c.t = q.t AND c.doc_id <> q.doc_id
  WHERE q.doc_id < {HY_QUERIES}
  GROUP BY 1, 2),
lex AS (SELECT query_id, neighbor_id, lex_rank FROM (
          SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY lex_score DESC, neighbor_id) AS lex_rank
          FROM lexs) WHERE lex_rank <= {HY_K}),
vec AS ({vec_leg}),
fused AS (
  SELECT COALESCE(l.query_id, v.query_id) AS query_id,
         COALESCE(l.neighbor_id, v.neighbor_id) AS neighbor_id,
         CAST(COALESCE(1000000000 // ({RRF_K} + l.lex_rank), 0)
              + COALESCE(1000000000 // ({RRF_K} + v.vec_rank), 0)
              AS BIGINT) AS rrf_score
  FROM lex l FULL OUTER JOIN vec v
    ON v.query_id = l.query_id AND v.neighbor_id = l.neighbor_id)
SELECT query_id, neighbor_id, rrf_score,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         ORDER BY rrf_score DESC, neighbor_id) AS INT) AS rank
FROM fused
QUALIFY rank <= {HY_K}"""


_EXACT_VEC_LEG = f"""SELECT query_id, neighbor_id, vec_rank FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.v, c.v) / (q.nrm * c.nrm)
                     DESC, c.vec_id) AS vec_rank
          FROM e q JOIN e c ON c.vec_id <> q.vec_id
          WHERE q.vec_id < {HY_QUERIES}) WHERE vec_rank <= {HY_K}"""

HYBRID_RRF_ORACLE = _hybrid_rrf_oracle(_EXACT_VEC_LEG)

#: the indexed variant's vector leg: the ENTIRE registered IVF-PQ
#: oracle chain (coarse train → residual PQ → ADC → exact rerank) as
#: a nested subquery — the knn_ivfpq_recall_audit composition trick
HYBRID_RRF_INDEXED_ORACLE = _hybrid_rrf_oracle(
    f"""SELECT query_id, neighbor_id, rank AS vec_rank
          FROM ({_ivfpq_oracle_sql()})
          WHERE query_id < {HY_QUERIES}"""
)

QUERIES["knn_ivfpq_filtered"] = ivfpq_knn_filtered
ORACLES["knn_ivfpq_filtered"] = _ivfpq_filtered_oracle()
QUERIES["hybrid_search_rrf"] = hybrid_search_rrf
ORACLES["hybrid_search_rrf"] = HYBRID_RRF_ORACLE


# ---------------------------------------------------------------------------
# Round-10 operators.
# ---------------------------------------------------------------------------

#: contrastive mining: negatives per anchor per kind, and the
#: exclusion horizon (exact top-TOP_K are potential POSITIVES — never
#: emitted as negatives of either kind)
CN_HARD = 5
CN_RAND = 5
CN_NS = "cneg:"


def contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic triplet mining for contrastive training — the
    dataset-assembly step next to similarity search itself: per
    anchor (the standard vec_id < N_QUERIES query set), CN_HARD
    'hard' negatives drawn from the anchor's LSH bucket-mates (the
    collision structure the registered knn_lsh already attests:
    close enough to collide, excluded from the exact top-TOP_K so
    they are not positives) and CN_RAND 'rand' easy negatives drawn
    from the rest of the corpus (neither top-TOP_K nor bucket-mate).
    Both picks are namespaced-md5-hash order — membership is a pure
    function of the ids, so the mined set is rerun/engine stable (no
    rand(), the determinism rule every sampler here follows).

    Scale: hard candidates are bucket-join bounded (the knn_lsh
    plan); the easy pool is corpus-wide per anchor but the pick is a
    per-anchor hash top-k window (AQE partial top-k caps the sort —
    at 100 TB you'd threshold the hash instead of ranking; same
    arithmetic). Anchors broadcast everywhere."""
    from ..functions.text import md5_long

    top = q_knn_bruteforce_cosine(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    b = _bucketed(_vectors(spark, sf_dir))
    qb = b.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "table", "bucket"
    )
    mates = (
        F.broadcast(qb)
        .join(b.select(F.col("vec_id").alias("neighbor_id"), "table", "bucket"),
              ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    pick_h = md5_long(
        F.concat(
            F.lit(CN_NS),
            F.col("query_id").cast("string"),
            F.lit(":"),
            F.col("neighbor_id").cast("string"),
        )
    )
    wp = Window.partitionBy("query_id").orderBy("h", "neighbor_id")
    # both exclusion sets are anchor-bounded (<= N_QUERIES x TOP_K and
    # the bucket-collision set): broadcast them so the anti-joins are
    # BroadcastHashJoins, never shuffles of the corpus-wide side
    hard = (
        mates.join(F.broadcast(top), ["query_id", "neighbor_id"], "left_anti")
        .withColumn("h", pick_h)
        .withColumn("pick_rank", F.row_number().over(wp))
        .filter(F.col("pick_rank") <= CN_HARD)
        .select("query_id", "neighbor_id", F.lit("hard").alias("kind"),
                "pick_rank")
    )
    anchors = (
        _vectors(spark, sf_dir)
        .filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"))
    )
    pool = (
        _vectors(spark, sf_dir)
        .select(F.col("vec_id").alias("neighbor_id"))
        .crossJoin(F.broadcast(anchors))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(F.broadcast(top), ["query_id", "neighbor_id"], "left_anti")
        .join(F.broadcast(mates), ["query_id", "neighbor_id"], "left_anti")
    )
    rand = (
        pool.withColumn("h", pick_h)
        .withColumn("pick_rank", F.row_number().over(wp))
        .filter(F.col("pick_rank") <= CN_RAND)
        .select("query_id", "neighbor_id", F.lit("rand").alias("kind"),
                "pick_rank")
    )
    return hard.unionAll(rand).select(
        "query_id",
        F.col("neighbor_id").alias("neg_id"),
        "kind",
        F.col("pick_rank").cast("int").alias("pick_rank"),
    )


from ..functions.text import md5_long_sql as _md5_long_sql  # noqa: E402

_CN_H_SQL = _md5_long_sql(
    f"'{CN_NS}' || CAST(query_id AS VARCHAR) || ':'"
    " || CAST(neighbor_id AS VARCHAR)"
)

CONTRASTIVE_NEGATIVES_ORACLE = f"""
WITH {_VEC_CTE},
bands AS ({BANDS_SQL}),
top AS (SELECT query_id, neighbor_id FROM ({ORACLES["knn_bruteforce_cosine"]})),
mates AS (
  SELECT DISTINCT bq.vec_id AS query_id, bc.vec_id AS neighbor_id
  FROM bands bq JOIN bands bc
    ON bq.table_id = bc.table_id AND bq.bucket = bc.bucket
  WHERE bq.vec_id < {N_QUERIES} AND bq.vec_id <> bc.vec_id),
hard AS (
  SELECT query_id, neighbor_id, {_CN_H_SQL} AS h
  FROM mates m
  WHERE NOT EXISTS (SELECT 1 FROM top t
                    WHERE t.query_id = m.query_id
                      AND t.neighbor_id = m.neighbor_id)),
hk AS (
  SELECT query_id, neighbor_id, 'hard' AS kind,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY h, neighbor_id) AS INT) AS pick_rank
  FROM hard QUALIFY pick_rank <= {CN_HARD}),
pool AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM e q JOIN e c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
  WHERE NOT EXISTS (SELECT 1 FROM top t
                    WHERE t.query_id = q.vec_id
                      AND t.neighbor_id = c.vec_id)
    AND NOT EXISTS (SELECT 1 FROM mates m
                    WHERE m.query_id = q.vec_id
                      AND m.neighbor_id = c.vec_id)),
pr AS (SELECT query_id, neighbor_id, {_CN_H_SQL} AS h FROM pool),
rk AS (
  SELECT query_id, neighbor_id, 'rand' AS kind,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY h, neighbor_id) AS INT) AS pick_rank
  FROM pr QUALIFY pick_rank <= {CN_RAND})
SELECT query_id, neighbor_id AS neg_id, kind, pick_rank FROM hk
UNION ALL
SELECT query_id, neighbor_id AS neg_id, kind, pick_rank FROM rk"""


#: MMR diversified retrieval: relevance pool size, picks, integer
#: trade-off weights (score = REL_W*rel_dot - DIV_W*max_sim_dot)
MMR_POOL = 20
MMR_K = 5
MMR_REL_W = 7
MMR_DIV_W = 3


def _mmr_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id, rel, cx): each query's MMR_POOL most
    relevant corpus vectors by EXACT INTEGER dot product over the
    micro-scaled embeddings (floats never cross an engine boundary —
    the quantized-path convention), candidate vectors carried for
    the in-group pairwise diversity dots."""
    iv = _int_vecs(spark, sf_dir)
    q = iv.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("xi").alias("qx")
    )
    c = iv.select(
        F.col("vec_id").alias("neighbor_id"), F.col("xi").alias("cx")
    )
    dot = F.expr(
        "aggregate(zip_with(qx, cx, (a, b) -> a * b), 0L,"
        " (acc, x) -> acc + x)"
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("neighbor_id")
    )
    return (
        c.join(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rel", dot)
        .withColumn("prank", F.row_number().over(wr))
        .filter(F.col("prank") <= MMR_POOL)
        .select("query_id", "neighbor_id", "rel", "cx")
    )


def knn_mmr_diversified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance DIVERSIFIED top-k (Carbonell &
    Goldstein 1998) — the retrieval op that keeps a training-data
    sampler from returning five copies of the same boilerplate: from
    each query's exact integer-relevance pool, greedily pick MMR_K
    items maximizing REL_W*rel - DIV_W*(max similarity to anything
    already picked), ties to the smaller id. All arithmetic is exact
    integer over micro-scaled vectors, so the greedy trace (pick
    order, rel and div dots) is oracle-provable — the DuckDB twin
    unrolls the MMR_K greedy steps as chained CTEs (the bpe_train_k
    unrolled-loop precedent).

    Scale: the pool is a top-MMR_POOL window per query over one
    broadcast-join scan (the knn shape); the greedy runs per query
    in an applyInPandas kernel over MMR_POOL rows — O(K * POOL^2)
    integer ops on bounded groups, never the corpus."""
    import pandas as pd

    pool = _mmr_pool(spark, sf_dir)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = sorted(
            zip(pdf["neighbor_id"], pdf["rel"], pdf["cx"]),
            key=lambda r: (-int(r[1]), int(r[0])),
        )
        vecs = {int(n): [int(v) for v in cx] for n, _r, cx in rows}
        rels = {int(n): int(r) for n, r, _cx in rows}
        qid = int(pdf["query_id"].iloc[0])
        selected: list[int] = []
        out = {
            "query_id": [], "neighbor_id": [], "mmr_rank": [],
            "rel_dot": [], "div_dot": [],
        }

        def dot(a, b):
            return sum(x * y for x, y in zip(a, b))

        for rank in range(1, min(MMR_K, len(rows)) + 1):
            best = None
            for n in rels:
                if n in selected:
                    continue
                dv = (
                    max(dot(vecs[n], vecs[s]) for s in selected)
                    if selected
                    else 0
                )
                score = MMR_REL_W * rels[n] - MMR_DIV_W * dv
                key = (-score, n)
                if best is None or key < best[0]:
                    best = (key, n, dv)
            _k, n, dv = best
            selected.append(n)
            out["query_id"].append(qid)
            out["neighbor_id"].append(n)
            out["mmr_rank"].append(rank)
            out["rel_dot"].append(rels[n])
            out["div_dot"].append(dv)
        return pd.DataFrame(out)

    return pool.groupBy("query_id").applyInPandas(
        run,
        schema="query_id long, neighbor_id long, mmr_rank int,"
        " rel_dot long, div_dot long",
    )


def _mmr_oracle_sql() -> str:
    """DuckDB twin: integer pool + pairwise dots, then the MMR_K
    greedy steps UNROLLED — step i picks the argmax of
    REL_W*rel - DIV_W*max(d to the i-1 already-selected)."""
    steps = ["""
s1 AS (
  SELECT query_id, neighbor_id, rel, 1 AS mmr_rank,
         CAST(0 AS BIGINT) AS div_dot
  FROM pool
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY rel DESC, neighbor_id) = 1),
sel1 AS (SELECT * FROM s1)""".strip()]
    for i in range(2, MMR_K + 1):
        steps.append(f"""
c{i} AS (
  SELECT p.query_id, p.neighbor_id, p.rel, MAX(d.d) AS dv
  FROM pool p
  LEFT JOIN sel{i - 1} done
    ON done.query_id = p.query_id
   AND done.neighbor_id = p.neighbor_id
  JOIN sel{i - 1} s ON s.query_id = p.query_id
  JOIN pp d ON d.query_id = p.query_id
           AND d.a = p.neighbor_id AND d.b = s.neighbor_id
  WHERE done.neighbor_id IS NULL
  GROUP BY 1, 2, 3),
s{i} AS (
  SELECT query_id, neighbor_id, rel, {i} AS mmr_rank, dv AS div_dot
  FROM c{i}
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY {MMR_REL_W} * rel - {MMR_DIV_W} * dv DESC,
                     neighbor_id) = 1),
sel{i} AS (SELECT * FROM sel{i - 1} UNION ALL SELECT * FROM s{i})"""
                     .strip())
    chain = ",\n".join(steps)
    return f"""
WITH iv AS (
  SELECT vec_id,
         [CAST(ROUND(x * {MICRO}, 0) AS BIGINT)
          for x in CAST(embedding AS DOUBLE[])] AS xi
  FROM embeddings),
ux AS (SELECT vec_id, unnest(xi) AS x,
              generate_subscripts(xi, 1) AS pos FROM iv),
rel AS (
  SELECT qa.vec_id AS query_id, cb.vec_id AS neighbor_id,
         CAST(SUM(qa.x * cb.x) AS BIGINT) AS rel
  FROM ux qa JOIN ux cb USING (pos)
  WHERE qa.vec_id < {N_QUERIES} AND qa.vec_id <> cb.vec_id
  GROUP BY 1, 2),
pool AS (
  SELECT query_id, neighbor_id, rel
  FROM rel
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY rel DESC, neighbor_id) <= {MMR_POOL}),
pp AS (
  SELECT p1.query_id, p1.neighbor_id AS a, p2.neighbor_id AS b,
         CAST(SUM(xa.x * xb.x) AS BIGINT) AS d
  FROM pool p1
  JOIN pool p2 ON p2.query_id = p1.query_id
              AND p2.neighbor_id <> p1.neighbor_id
  JOIN ux xa ON xa.vec_id = p1.neighbor_id
  JOIN ux xb ON xb.vec_id = p2.neighbor_id AND xb.pos = xa.pos
  GROUP BY 1, 2, 3),
{chain}
SELECT query_id, neighbor_id, CAST(mmr_rank AS INT) AS mmr_rank,
       rel AS rel_dot, div_dot
FROM sel{MMR_K}"""


MMR_ORACLE = _mmr_oracle_sql()


def mmr_diversity_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What diversification COSTS in relevance — the recall-audit
    discipline applied to MMR: per query, the exact-integer relevance
    mass of the MMR_K diversified picks vs the plain top-MMR_K
    relevance picks, as an integer ppm ratio (1e6 = free diversity).
    Both sides reuse the SAME pool relation, so the audit cannot
    drift from the operator it audits (the distortion-audit rule)."""
    pool = _mmr_pool(spark, sf_dir).select("query_id", "neighbor_id", "rel")
    wr = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("neighbor_id")
    )
    top = (
        pool.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= MMR_K)
        .groupBy("query_id")
        .agg(F.sum("rel").alias("top_rel"))
    )
    mmr = (
        knn_mmr_diversified(spark, sf_dir)
        .groupBy("query_id")
        .agg(F.sum("rel_dot").alias("mmr_rel"))
    )
    return (
        top.join(mmr, "query_id")
        .select(
            "query_id",
            F.col("top_rel").cast("long").alias("top_rel"),
            F.col("mmr_rel").cast("long").alias("mmr_rel"),
            F.expr(
                "CAST(CAST(mmr_rel AS DECIMAL(38,0)) * 1000000"
                " div top_rel AS BIGINT)"
            ).alias("retention_ppm"),
        )
    )


MMR_COST_ORACLE = f"""
WITH m AS (SELECT * FROM ({_mmr_oracle_sql()})),
pool AS (
  SELECT query_id, neighbor_id, rel FROM (
    SELECT qa.vec_id AS query_id, cb.vec_id AS neighbor_id,
           CAST(SUM(qa.x * cb.x) AS BIGINT) AS rel
    FROM (SELECT vec_id, unnest([CAST(ROUND(x * {MICRO}, 0) AS BIGINT)
                                 for x in CAST(embedding AS DOUBLE[])]) AS x,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings) qa
    JOIN (SELECT vec_id, unnest([CAST(ROUND(x * {MICRO}, 0) AS BIGINT)
                                 for x in CAST(embedding AS DOUBLE[])]) AS x,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings) cb USING (pos)
    WHERE qa.vec_id < {N_QUERIES} AND qa.vec_id <> cb.vec_id
    GROUP BY 1, 2)
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY rel DESC, neighbor_id) <= {MMR_POOL}),
top AS (
  SELECT query_id, SUM(rel) AS top_rel FROM (
    SELECT query_id, rel,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY rel DESC, neighbor_id) AS rn
    FROM pool) WHERE rn <= {MMR_K} GROUP BY 1),
mm AS (SELECT query_id, SUM(rel_dot) AS mmr_rel FROM m GROUP BY 1)
SELECT t.query_id,
       CAST(t.top_rel AS BIGINT) AS top_rel,
       CAST(mm.mmr_rel AS BIGINT) AS mmr_rel,
       CAST(CAST(mm.mmr_rel AS HUGEINT) * 1000000 // t.top_rel
            AS BIGINT) AS retention_ppm
FROM top t JOIN mm USING (query_id)"""


#: hybrid_fusion_coverage materializes its two bounded leg relations
#: with localCheckpoint(eager=True) at query-CONSTRUCTION time (two
#: corpus-side jobs run when the DataFrame is merely built). Plan-only
#: consumers (autotune / window introspection) that must construct the
#: query lazily can set this False: the legs then keep full lineage and
#: the corpus-side plans are re-derived per use (correct, slower).
COVERAGE_EAGER = True


def hybrid_fusion_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explainability audit of the RRF fusion: per query, how many of
    the fused top-k came from BOTH legs, lexical only, and vector
    only — the telemetry a hybrid-retrieval deployment watches (a
    degenerate mix means one leg is dead weight). Recomputes the two
    leg relations the registered hybrid uses VERBATIM and labels
    fused membership, so the audit cannot drift from the fusion.
    Both legs are bounded (<= HY_QUERIES x HY_K rows), so they
    localCheckpoint once instead of re-deriving the corpus-side
    plans for the fusion AND each membership label (measured 3.1x
    per 100x before, sub-linear after). NOTE: with COVERAGE_EAGER
    (the default) construction executes those jobs eagerly."""
    lex = _hybrid_lex_leg(spark, sf_dir)
    if COVERAGE_EAGER:
        lex = lex.localCheckpoint(eager=True)
    e = _vectors(spark, sf_dir)
    qv = e.filter(F.col("vec_id") < HY_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cv = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    vec = (
        cv.join(F.broadcast(qv))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos", _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
        )
        .withColumn("vec_rank", F.row_number().over(wv))
        .filter(F.col("vec_rank") <= HY_K)
        .select("query_id", "neighbor_id", "vec_rank")
    )
    if COVERAGE_EAGER:
        vec = vec.localCheckpoint(eager=True)
    fused = _rrf_fuse(lex, vec).select("query_id", "neighbor_id")
    labeled = (
        fused.join(
            F.broadcast(lex.select("query_id", "neighbor_id", "lex_rank")),
            ["query_id", "neighbor_id"],
            "left",
        )
        .join(
            F.broadcast(vec),
            ["query_id", "neighbor_id"],
            "left",
        )
    )
    in_lex = F.col("lex_rank").isNotNull().cast("long")
    in_vec = F.col("vec_rank").isNotNull().cast("long")
    return labeled.groupBy("query_id").agg(
        F.sum(in_lex * in_vec).cast("long").alias("n_both"),
        F.sum(in_lex * (1 - in_vec)).cast("long").alias("n_lex_only"),
        F.sum((1 - in_lex) * in_vec).cast("long").alias("n_vec_only"),
    )


HYBRID_COVERAGE_ORACLE = f"""
WITH fused AS (SELECT query_id, neighbor_id
               FROM ({_hybrid_rrf_oracle(_EXACT_VEC_LEG)})),
{_VEC_CTE},
toks AS (SELECT doc_id,
                string_split(
                  lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                  ' ') AS tl
         FROM documents),
bgl AS (SELECT doc_id,
               list_distinct([tl[i] || ' ' || tl[i + 1]
                              for i in range(1, len(tl))]) AS bgs
        FROM toks WHERE len(tl) >= 2),
post AS (SELECT doc_id, unnest(bgs) AS t FROM bgl),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
w AS (SELECT t, CAST(1000000 // COUNT(*) AS BIGINT) AS wt
      FROM post, nd GROUP BY t, nd.n_docs
      HAVING COUNT(*) <= greatest({LEX_DF_CAP},
                                  nd.n_docs // {LEX_DF_DENOM})),
pw AS (SELECT post.doc_id, post.t, w.wt FROM post JOIN w USING (t)),
lexs AS (
  SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
         SUM(c.wt) AS lex_score
  FROM pw q JOIN pw c ON c.t = q.t AND c.doc_id <> q.doc_id
  WHERE q.doc_id < {HY_QUERIES}
  GROUP BY 1, 2),
lex AS (SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY lex_score DESC, neighbor_id) AS lex_rank
          FROM lexs) WHERE lex_rank <= {HY_K}),
vec AS (SELECT query_id, neighbor_id FROM ({_EXACT_VEC_LEG}))
SELECT f.query_id,
       CAST(COUNT(CASE WHEN l.neighbor_id IS NOT NULL
                        AND v.neighbor_id IS NOT NULL THEN 1 END)
            AS BIGINT) AS n_both,
       CAST(COUNT(CASE WHEN l.neighbor_id IS NOT NULL
                        AND v.neighbor_id IS NULL THEN 1 END)
            AS BIGINT) AS n_lex_only,
       CAST(COUNT(CASE WHEN l.neighbor_id IS NULL
                        AND v.neighbor_id IS NOT NULL THEN 1 END)
            AS BIGINT) AS n_vec_only
FROM fused f
LEFT JOIN lex l ON l.query_id = f.query_id
               AND l.neighbor_id = f.neighbor_id
LEFT JOIN vec v ON v.query_id = f.query_id
               AND v.neighbor_id = f.neighbor_id
GROUP BY 1"""


# Round 11 registration of the r10 retrieval operators (each two-SF
# pinned in tests/test_prebuilt_r11.py).
QUERIES["hybrid_search_rrf_indexed"] = hybrid_search_rrf_indexed
ORACLES["hybrid_search_rrf_indexed"] = HYBRID_RRF_INDEXED_ORACLE
QUERIES["contrastive_negatives"] = contrastive_negatives
ORACLES["contrastive_negatives"] = CONTRASTIVE_NEGATIVES_ORACLE
QUERIES["knn_mmr_diversified"] = knn_mmr_diversified
ORACLES["knn_mmr_diversified"] = MMR_ORACLE
QUERIES["mmr_diversity_cost"] = mmr_diversity_cost
ORACLES["mmr_diversity_cost"] = MMR_COST_ORACLE
QUERIES["hybrid_fusion_coverage"] = hybrid_fusion_coverage
ORACLES["hybrid_fusion_coverage"] = HYBRID_COVERAGE_ORACLE


# ---------------------------------------------------------------------------
# Round-11 operators.
# ---------------------------------------------------------------------------


def hybrid_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cost/quality curve of the INDEXED hybrid — the
    knn_ivfpq_probe_sweep discipline lifted to the fusion: for every
    probe count in {PROBE_SWEEP}, fuse the IVF-PQ vector leg at that
    probe count with the (shared, checkpointed) lexical leg and
    count, per query, how many of the EXACT hybrid's fused top-{HY_K}
    the swept fusion retains (integer-ppm retention). Doubling probed
    cells roughly doubles the ANN scan cost at 100 TB, so the curve
    is exactly the knob a hybrid deployment tunes: where retention
    plateaus, extra probes buy nothing. Divergence can only enter
    through ANN recall — the fusion consumes ranks (the
    hybrid_search_rrf_indexed invariant), which keeps the whole curve
    oracle-provable.

    Scale posture: the lexical leg and the exact-hybrid reference are
    built ONCE (bounded <= HY_QUERIES x HY_K rows, checkpointed under
    COVERAGE_EAGER); the quantizer trains once across sweep points
    (cached coarse/PQ tables); each sweep point re-probes only the
    bounded query side."""
    lex = _hybrid_lex_leg(spark, sf_dir)
    if COVERAGE_EAGER:
        lex = lex.localCheckpoint(eager=True)
    ex = _rrf_fuse(lex, _hybrid_exact_vec_leg(spark, sf_dir)).select(
        "query_id", F.col("neighbor_id").alias("ex_neighbor")
    )
    if COVERAGE_EAGER:
        ex = ex.localCheckpoint(eager=True)
    out = None
    for np_ in PROBE_SWEEP:
        vec = (
            ivfpq_knn(spark, sf_dir, np_)
            .filter(F.col("query_id") < HY_QUERIES)
            .select(
                "query_id", "neighbor_id",
                F.col("rank").alias("vec_rank"),
            )
        )
        fused = _rrf_fuse(lex, vec).select("query_id", "neighbor_id")
        r = (
            fused.join(
                ex,
                (fused["query_id"] == ex["query_id"])
                & (fused["neighbor_id"] == ex["ex_neighbor"]),
                "left",
            )
            .select(fused["query_id"], ex["ex_neighbor"])
            .groupBy("query_id")
            .agg(F.count("ex_neighbor").cast("long").alias("n_retained"))
            .select(
                F.lit(np_).cast("int").alias("n_probe"),
                "query_id",
                "n_retained",
                F.expr(
                    "CAST(CAST(n_retained AS DECIMAL(38,0)) * 1000000"
                    f" div {HY_K} AS BIGINT)"
                ).alias("retention_ppm"),
            )
        )
        out = r if out is None else out.unionByName(r)
    return out


def _hybrid_probe_sweep_oracle() -> str:
    legs = []
    for np_ in PROBE_SWEEP:
        leg = f"""SELECT query_id, neighbor_id, rank AS vec_rank
          FROM ({_ivfpq_oracle_sql(np_)})
          WHERE query_id < {HY_QUERIES}"""
        legs.append(
            f"SELECT CAST({np_} AS INT) AS n_probe, query_id,"
            f" neighbor_id FROM ({_hybrid_rrf_oracle(leg)})"
        )
    fused = "\nUNION ALL\n".join(legs)
    return f"""
WITH ex AS (SELECT query_id, neighbor_id FROM ({HYBRID_RRF_ORACLE})),
h AS ({fused})
SELECT h.n_probe, h.query_id,
       CAST(COUNT(e.neighbor_id) AS BIGINT) AS n_retained,
       CAST(CAST(COUNT(e.neighbor_id) AS HUGEINT) * 1000000
            // {HY_K} AS BIGINT) AS retention_ppm
FROM h LEFT JOIN ex e
  ON e.query_id = h.query_id AND e.neighbor_id = h.neighbor_id
GROUP BY 1, 2"""


HYBRID_PROBE_SWEEP_ORACLE = _hybrid_probe_sweep_oracle()


#: stop-rule denominators swept by lex_cap_sweep — the registered
#: LEX_DF_DENOM (20) bracketed by a 4x tighter and a 4x looser rule;
#: the threshold is greatest(LEX_DF_CAP, n_docs div denom), so at
#: tiny corpora all three collapse onto the absolute cap (the
#: degeneration the sweep exists to expose is corpus-relative).
LEX_SWEEP_DENOMS = (80, 20, 5)


def lex_cap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Health curve of the lexical leg's DF stop rule — the telemetry
    that would have caught the r10 unigram degeneration BEFORE it
    shipped: for each denominator in {LEX_SWEEP_DENOMS}, how many
    distinct bigrams stay indexable under df <= greatest(LEX_DF_CAP,
    n_docs div denom), their total posting mass, an order-independent
    md5 checksum of WHICH terms (bit_xor — so the driver attests the
    set, not just its size), and how many (query, candidate) pairs
    the leg would consider. A tightening rule that drives n_terms or
    n_query_pairs toward zero is a dead lexical leg; the curve shows
    where the knee sits at the current corpus scale.

    Scale posture: the posting build and DF counts run ONCE (shared
    with the registered leg via _lex_postings); the 3-point spine
    multiplies only the per-TERM stats relation, and the candidate
    join runs once at the LOOSEST rule — per-pair MIN shared df then
    classifies every pair under every tighter rule for free (a pair
    is considered under a rule iff its best shared term clears it)."""
    from ..functions.text import md5_long

    post, nd = _lex_postings(spark, sf_dir)
    dfs = (
        post.groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .withColumn("h", md5_long(F.col("t")))
    )
    if COVERAGE_EAGER:
        dfs = dfs.localCheckpoint(eager=True)
    spine = F.explode(
        F.array(*[F.lit(d) for d in LEX_SWEEP_DENOMS])
    ).alias("df_denom")
    terms = (
        dfs.crossJoin(F.broadcast(nd))
        .select("df", "h", "n_docs", spine)
        .withColumn(
            "df_threshold",
            F.expr(f"greatest({LEX_DF_CAP}, n_docs div df_denom)").cast(
                "long"
            ),
        )
        .filter(F.col("df") <= F.col("df_threshold"))
        .groupBy("df_denom")
        .agg(
            F.min("df_threshold").alias("df_threshold"),
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum("df").cast("long").alias("posting_mass"),
            F.expr("bit_xor(h)").alias("terms_checksum"),
        )
    )
    loose = dfs.crossJoin(F.broadcast(nd)).filter(
        F.expr(
            f"df <= greatest({LEX_DF_CAP},"
            f" n_docs div {min(LEX_SWEEP_DENOMS)})"
        )
    ).select("t", "df")
    qp = (
        post.filter(F.col("doc_id") < HY_QUERIES)
        .withColumnRenamed("doc_id", "query_id")
        .join(loose, "t")
    )
    cp = post.withColumnRenamed("doc_id", "neighbor_id")
    pairs = (
        qp.join(cp, "t")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.min("df").alias("mdf"))
    )
    pair_counts = (
        pairs.crossJoin(F.broadcast(nd))
        .select("mdf", "n_docs", spine)
        .filter(
            F.expr(
                f"mdf <= greatest({LEX_DF_CAP}, n_docs div df_denom)"
            )
        )
        .groupBy("df_denom")
        .agg(F.count(F.lit(1)).cast("long").alias("n_query_pairs"))
    )
    return terms.join(pair_counts, "df_denom", "left").select(
        F.col("df_denom").cast("int").alias("df_denom"),
        "df_threshold",
        "n_terms",
        "posting_mass",
        "terms_checksum",
        F.coalesce(F.col("n_query_pairs"), F.lit(0).cast("long")).alias(
            "n_query_pairs"
        ),
    )


from ..functions.text import md5_long_sql as _md5_long_sql  # noqa: E402

LEX_CAP_SWEEP_ORACLE = f"""
WITH toks AS (SELECT doc_id,
                string_split(
                  lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                  ' ') AS tl
         FROM documents),
bgl AS (SELECT doc_id,
               list_distinct([tl[i] || ' ' || tl[i + 1]
                              for i in range(1, len(tl))]) AS bgs
        FROM toks WHERE len(tl) >= 2),
post AS (SELECT doc_id, unnest(bgs) AS t FROM bgl),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
dfs AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df,
               {_md5_long_sql('t')} AS h
        FROM post GROUP BY t),
sp AS (SELECT unnest({list(LEX_SWEEP_DENOMS)}) AS df_denom),
thr AS (SELECT df_denom,
               CAST(greatest({LEX_DF_CAP}, nd.n_docs // df_denom)
                    AS BIGINT) AS df_threshold
        FROM sp, nd),
terms AS (SELECT t.df_denom,
                 MIN(t.df_threshold) AS df_threshold,
                 CAST(COUNT(*) AS BIGINT) AS n_terms,
                 CAST(SUM(d.df) AS BIGINT) AS posting_mass,
                 BIT_XOR(d.h) AS terms_checksum
          FROM thr t JOIN dfs d ON d.df <= t.df_threshold
          GROUP BY 1),
loose AS (SELECT t, df FROM dfs, nd
          WHERE df <= greatest({LEX_DF_CAP},
                               nd.n_docs // {min(LEX_SWEEP_DENOMS)})),
pw AS (SELECT post.doc_id AS query_id, post.t, loose.df
       FROM post JOIN loose USING (t)
       WHERE post.doc_id < {HY_QUERIES}),
pairs AS (SELECT q.query_id, c.doc_id AS neighbor_id,
                 MIN(q.df) AS mdf
          FROM pw q JOIN post c ON c.t = q.t
                                AND c.doc_id <> q.query_id
          GROUP BY 1, 2),
pc AS (SELECT t.df_denom,
              CAST(COUNT(*) AS BIGINT) AS n_query_pairs
       FROM thr t JOIN pairs p ON p.mdf <= t.df_threshold
       GROUP BY 1)
SELECT CAST(terms.df_denom AS INT) AS df_denom, df_threshold, n_terms,
       posting_mass, terms_checksum,
       COALESCE(pc.n_query_pairs, 0) AS n_query_pairs
FROM terms LEFT JOIN pc ON pc.df_denom = terms.df_denom"""

QUERIES["hybrid_probe_sweep"] = hybrid_probe_sweep
ORACLES["hybrid_probe_sweep"] = HYBRID_PROBE_SWEEP_ORACLE
QUERIES["lex_cap_sweep"] = lex_cap_sweep
ORACLES["lex_cap_sweep"] = LEX_CAP_SWEEP_ORACLE
