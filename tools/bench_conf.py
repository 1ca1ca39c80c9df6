"""Config experiment harness: run a subset of headline keys under conf
overrides given as KEY=VALUE args, fresh JVM per invocation.

Usage: python tools/bench_conf.py [--sf DIR] [--prep] [--keys a,b] k=v ...

--sf DIR   bench against DIR instead of /root/testdata/sf0.1
--prep     run the bench.py offline prep first (bench._prep) so the
           experiment measures the same storage/catalog state and confs
           as the real bench; command-line confs are re-applied after it
--keys     comma-separated subset of the headline keys (faster A/Bs)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kwery_spark.session import builder

KEYS = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "win_row_number",
    "text_tokenize",
    "fn_json",
    "join_semi",
    "stream_tumbling",
    "sim_knn_bruteforce",
    "agg_grouping_sets",
]


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    prep = False
    confs = []
    keys = KEYS
    while args:
        a = args.pop(0)
        if a == "--sf":
            sf_dir = args.pop(0)
        elif a == "--prep":
            prep = True
        elif a == "--keys":
            keys = args.pop(0).split(",")
        else:
            confs.append(a)
    b = builder("bench-conf")
    for arg in confs:
        k, v = arg.split("=", 1)
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import kwery_spark.all_ops  # noqa: F401
    from kwery_spark.registry import QUERIES

    if prep:
        import bench

        bench._prep(spark, sf_dir)
        # confs pinned on the command line win over the prep's own
        for arg in confs:
            k, v = arg.split("=", 1)
            if spark.conf.isModifiable(k):
                spark.conf.set(k, v)
    out = {}
    for key in keys:
        times = []
        for i in range(4):
            t0 = time.perf_counter()
            QUERIES[key](spark, sf_dir).toPandas()  # Arrow path, same as bench.py
            dt = time.perf_counter() - t0
            if i > 0:
                times.append(dt)
        out[key] = round(min(times), 3)
    out["TOTAL"] = round(sum(out.values()), 3)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
