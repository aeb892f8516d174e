"""Round-20 interleaved same-JVM A/B harness (guide §1: measure first;
VERDICT r19 items 2-5).

Each named experiment builds an OLD and a NEW DataFrame form of the
same computation; runs alternate OLD/NEW in one JVM (noop-forced,
clearCache + System.gc between runs) so JIT tiering and host drift hit
both sides equally. Steal ticks are sampled per run — a pair whose
combined steal exceeds the gate is discarded and re-run.

    python tools/ab_r20.py [exp ...] [--pairs N] [--scale M]

With --scale M, the events-derived experiments run over an in-memory
M-times replica of the events relation (user_id*M+k, event_id*M+k —
per-key history size constant, key cardinality scaled M-fold), local-
Checkpointed once so derivation cost is outside the timed region.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _host_sample  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
STEAL_GATE_PER_PAIR = 200  # ticks (USER_HZ=100) — 2 s stolen vCPU


def force(df):
    df.write.mode("overwrite").format("noop").save()


# --------------------------------------------------------------------
# OLD forms (verbatim from commit 52b1c3e, the r19 opening tree)
# --------------------------------------------------------------------

def _balance_history_old(matched):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = (
        Window.partitionBy("customerid")
        .orderBy("createdat", "trans_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = lambda t: F.sum(  # noqa: E731
        F.when(F.col("tctype") == t, F.abs(F.col("amount"))).otherwise(0.0)
    ).over(w)
    return matched.select(
        F.col("customerid").alias("customer_id"),
        F.col("createdat").alias("transaction_date"),
        F.col("trans_id").alias("transaction_id"),
        F.col("tctype").alias("transaction_type"),
        F.col("amount").alias("transaction_amount"),
        cum("earned").alias("cumulative_earned"),
        cum("spent").alias("cumulative_spent"),
        cum("expired").alias("cumulative_expired"),
        (cum("earned") - cum("spent") - cum("expired")).alias(
            "current_balance"
        ),
    )


def _range_join_old(events):
    from pyspark.sql import functions as F

    TOUCH_TYPES = ("click", "view")
    hour = lambda c: (  # noqa: E731
        F.unix_micros(c) / F.lit(3_600_000_000)
    ).cast("long")
    touches = events.filter(
        F.col("event_type").isin(*TOUCH_TYPES)
    ).select(
        "user_id",
        F.col("ts").alias("touch_ts"),
        F.explode(
            F.array(hour(F.col("ts")), hour(F.col("ts")) + 1)
        ).alias("bucket"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        hour(F.col("ts")).alias("bucket"),
    )
    matched = (
        purchases.join(touches, ["user_id", "bucket"])
        .filter(
            (F.col("touch_ts") < F.col("purchase_ts"))
            & (
                F.col("touch_ts")
                >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")
            )
        )
        .groupBy("purchase_id")
        .agg(F.count("*").alias("touches_1h"))
    )
    return (
        purchases.select("purchase_id")
        .join(matched, "purchase_id", "left")
        .select(
            "purchase_id",
            F.coalesce(F.col("touches_1h"), F.lit(0)).alias("touches_1h"),
        )
    )


def _range_join_new(events):
    from pyspark.sql import functions as F

    TOUCH_TYPES = ("click", "view")
    hour = lambda c: (  # noqa: E731
        F.unix_micros(c) / F.lit(3_600_000_000)
    ).cast("long")
    touches = events.filter(
        F.col("event_type").isin(*TOUCH_TYPES)
    ).select(
        "user_id",
        F.col("ts").alias("touch_ts"),
        F.explode(
            F.array(hour(F.col("ts")), hour(F.col("ts")) + 1)
        ).alias("bucket"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        hour(F.col("ts")).alias("bucket"),
    )
    return (
        purchases.join(
            touches,
            (purchases["user_id"] == touches["user_id"])
            & (purchases["bucket"] == touches["bucket"])
            & (F.col("touch_ts") < F.col("purchase_ts"))
            & (
                F.col("touch_ts")
                >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")
            ),
            "left",
        )
        .groupBy("purchase_id")
        .agg(F.count("touch_ts").alias("touches_1h"))
        .select("purchase_id", "touches_1h")
    )


# --------------------------------------------------------------------


def _experiments(spark, scale: int):
    from pyspark.sql import functions as F

    from thrivefinancedatapipeline_spark.datamodel import load_table
    from thrivefinancedatapipeline_spark.operators.balance import (
        balance_history,
    )
    from thrivefinancedatapipeline_spark.sources.ingest import (
        transactions_from_events,
    )

    events = load_table(spark, SF_DIR, "events")
    if scale > 1:
        k = F.explode(F.sequence(F.lit(0), F.lit(scale - 1))).alias("k")
        events = events.select("*", k).select(
            (F.col("event_id") * scale + F.col("k")).alias("event_id"),
            (F.col("user_id") * scale + F.col("k")).alias("user_id"),
            "event_type",
            "ts",
            "value",
            *[
                c
                for c in events.columns
                if c not in (
                    "event_id", "user_id", "event_type", "ts", "value"
                )
            ],
        )
    events = events.localCheckpoint(eager=True)
    txns = transactions_from_events(events).localCheckpoint(eager=True)

    from thrivefinancedatapipeline_spark.operators import dedup as D

    from thrivefinancedatapipeline_spark.functions.text import (
        md5_long,
        tokens as _tokens,
    )

    def simhash_old():
        docs = D._docs(spark, SF_DIR)
        toks = F.array_distinct(_tokens(F.col("text")))
        hs = F.transform(toks, md5_long)
        return docs.select("doc_id", hs.alias("hs")).select(
            "doc_id",
            F.expr(f"CAST({D._SIM_PACK} AS BIGINT)").alias("simhash"),
        )

    return {
        "balance_history": (
            lambda: _balance_history_old(txns),
            lambda: balance_history(txns),
        ),
        "range_join": (
            lambda: _range_join_old(events),
            lambda: _range_join_new(events),
        ),
        "simhash": (
            simhash_old,
            lambda: D._simhash_df(D._docs(spark, SF_DIR)),
        ),
    }


def main() -> int:
    from thrivefinancedatapipeline_spark.session import get_spark

    args = [a for a in sys.argv[1:]]
    pairs = 6
    scale = 1
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--pairs":
            pairs = int(args[i + 1])
            i += 2
        elif args[i] == "--scale":
            scale = int(args[i + 1])
            i += 2
        else:
            names.append(args[i])
            i += 1

    spark = get_spark("ab-r20")
    exps = _experiments(spark, scale)
    names = names or list(exps)

    for name in names:
        old_fn, new_fn = exps[name]
        spark.sparkContext.setJobDescription(f"ab:{name}:warmup")
        force(old_fn())
        force(new_fn())
        spark.catalog.clearCache()
        spark._jvm.System.gc()
        olds, news = [], []
        attempts = 0
        while len(olds) < pairs and attempts < pairs * 3:
            attempts += 1
            h0 = _host_sample()
            spark.sparkContext.setJobDescription(f"ab:{name}:old")
            t0 = time.perf_counter()
            force(old_fn())
            t_old = time.perf_counter() - t0
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"ab:{name}:new")
            t0 = time.perf_counter()
            force(new_fn())
            t_new = time.perf_counter() - t0
            spark.catalog.clearCache()
            spark._jvm.System.gc()
            h1 = _host_sample()
            steal = h1.get("steal_ticks", 0) - h0.get("steal_ticks", 0)
            if steal > STEAL_GATE_PER_PAIR:
                print(
                    f"  [{name}] pair discarded: steal={steal}",
                    file=sys.stderr,
                )
                continue
            olds.append(t_old)
            news.append(t_new)
        mo, mn = statistics.median(olds), statistics.median(news)
        print(
            f"{name}: scale={scale} pairs={len(olds)} "
            f"old={mo:.3f}s (spread {max(olds)-min(olds):.3f}) "
            f"new={mn:.3f}s (spread {max(news)-min(news):.3f}) "
            f"new/old={mn/mo:.3f}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
