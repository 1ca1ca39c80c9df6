"""Floor decomposition for headline keys whose sf10 ratio rests on the
"single-box decode + job floor" argument (r7 verdict asked for measured
proof): run each key's full query alongside twins that isolate (a) the
bare job/materialization floor and (b) the input scan+decode, all in ONE
fresh-JVM session under the exact bench prep (the tools/bench_conf.py
admissibility rule — in-session probes overstate warmth, so each arm is
1 warm-up + best-of-3 like the real protocol).

Usage: python tools/decompose_floor.py [--sf DIR]

Prints one JSON line: {arm: seconds, ...} — record the analysis in
BASELINE.md next to the q1/fn_json decompositions.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F

from kwery_spark.session import builder


def _best_of(fn, n: int = 3) -> float:
    fn()  # warm-up
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return min(times)


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/repo/.data/sf10"
    if args and args[0] == "--sf":
        sf_dir = args[1]
    spark = builder("decompose-floor").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import kwery_spark.all_ops  # noqa: F401
    import bench
    from kwery_spark.catalog import table
    from kwery_spark.registry import QUERIES

    bench._prep(spark, sf_dir)

    out: dict[str, float] = {}

    # ---- shared floor: one-job, one-row materialization through Arrow
    out["floor_1job"] = _best_of(lambda: spark.range(1).toPandas())

    # ---- stream_tumbling: events scan+decode vs full date_trunc agg
    ev = lambda: table(spark, sf_dir, "events")  # noqa: E731
    out["tumbling_scan_decode"] = _best_of(
        # decode exactly the columns the query touches (ts, event_type,
        # value) into one global agg — no grouping, so the delta to the
        # full key is the 3.6k-group hash aggregate itself
        lambda: ev()
        .agg(
            F.avg(F.unix_micros("ts")),
            F.count("event_type"),
            F.avg("value"),
        )
        .toPandas()
    )
    out["stream_tumbling_full"] = _best_of(
        lambda: QUERIES["stream_tumbling"](spark, sf_dir).toPandas()
    )

    # ---- agg_grouping_sets: orders scan vs single-set agg vs 3-set Expand
    od = lambda: table(spark, sf_dir, "orders")  # noqa: E731
    out["gsets_scan_decode"] = _best_of(
        lambda: od()
        .agg(
            F.count("o_orderstatus"),
            F.count("o_orderpriority"),
            F.avg("o_totalprice"),
        )
        .toPandas()
    )
    out["gsets_single_set"] = _best_of(
        lambda: od()
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)), F.sum("o_totalprice"))
        .toPandas()
    )
    out["agg_grouping_sets_full"] = _best_of(
        lambda: QUERIES["agg_grouping_sets"](spark, sf_dir).toPandas()
    )

    # ---- sim_knn_bruteforce: embeddings scan vs dot-everywhere vs full
    from kwery_spark.operators.similarity import _vecs, dot

    out["knn_scan_decode"] = _best_of(
        lambda: _vecs(spark, sf_dir)
        .agg(F.avg(F.element_at("v", 1)), F.count(F.lit(1)))
        .toPandas()
    )

    def _dot_no_topk():
        vecs = _vecs(spark, sf_dir)
        q = vecs.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
        from pyspark.sql.functions import broadcast

        (
            vecs.crossJoin(broadcast(q))
            .select(dot("v", "qv").alias("score"))
            .agg(F.avg("score"))
            .toPandas()
        )

    out["knn_dot_no_topk"] = _best_of(_dot_no_topk)
    out["sim_knn_bruteforce_full"] = _best_of(
        lambda: QUERIES["sim_knn_bruteforce"](spark, sf_dir).toPandas()
    )

    # ---- q3 (bucketed path): per-stage twins under the same prep
    from kwery_spark.catalog import bucketed_db

    bdb = bucketed_db(spark, sf_dir)
    if bdb is not None:
        cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
        out["q3_lineitem_scan_agg"] = _best_of(
            # the revenue-per-orderkey pre-aggregate alone (bucketed, so
            # exchange-free) — the fact-side scan+decode+sum the query
            # cannot avoid
            lambda: spark.table(f"{bdb}.lineitem")
            .filter(F.col("l_shipdate") > cutoff)
            .groupBy("l_orderkey")
            .agg(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).alias("revenue")
            )
            .agg(F.count(F.lit(1)), F.avg("revenue"))
            .toPandas()
        )
        out["q3_orders_scan"] = _best_of(
            lambda: spark.table(f"{bdb}.orders")
            .filter(F.col("o_orderdate") < cutoff)
            .agg(F.count(F.lit(1)), F.avg("o_totalprice"))
            .toPandas()
        )
        out["q3_customer_scan"] = _best_of(
            lambda: table(spark, sf_dir, "customer")
            .filter(F.col("c_mktsegment") == "BUILDING")
            .agg(F.count(F.lit(1)))
            .toPandas()
        )
        out["q3_full"] = _best_of(
            lambda: QUERIES["q3_shipping_priority"](spark, sf_dir).toPandas()
        )

    print(json.dumps({k: round(v, 3) for k, v in out.items()}))


if __name__ == "__main__":
    main()
