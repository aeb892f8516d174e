"""Scaling probe: run a query subset at sf0.001 / sf0.01 / sf0.1 and
print wall-time ratios vs data-size ratios.

A healthy distributed plan scales sub-linearly at these sizes (fixed
per-job overhead dominates small SFs); anything scaling SUPER-linearly
here (ratio >> 10x per 10x data) is a quadratic term that will
detonate at cluster scale — this probe is how we catch it early.

    python tools/scale_probe.py [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import the package too; they see PYTHONPATH,
# not this process's sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

SF_DIRS = {
    "0.001": "/root/testdata/sf0.001",
    "0.01": "/root/testdata/sf0.01",
    "0.1": "/root/testdata/sf0.1",
}

DEFAULT = [
    "fifo_matching",
    "balance_history",
    "tpch_q1_pricing_summary",
    "tpch_q5_local_supplier_volume",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "knn_bruteforce_cosine",
    "asof_last_touch",
    "text_tfidf_top_terms",
]


def main() -> None:
    from thrivefinancedatapipeline_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("scale-probe")
    qs = entrymod.queries()
    names = sys.argv[1:] or DEFAULT

    def force(df):
        df.write.mode("overwrite").format("noop").save()

    # warm every SF's footers + codegen once
    for d in SF_DIRS.values():
        force(qs["ingest_transactions"](spark, d))

    out: dict[str, dict[str, float]] = {}
    for name in names:
        per_sf: dict[str, float] = {}
        for sf, d in SF_DIRS.items():
            t0 = time.perf_counter()
            force(qs[name](spark, d))
            per_sf[sf] = round(time.perf_counter() - t0, 3)
            spark.catalog.clearCache()
        per_sf["ratio_100x"] = round(per_sf["0.1"] / max(per_sf["0.001"], 1e-9), 2)
        out[name] = per_sf
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
