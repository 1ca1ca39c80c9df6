"""fn_json parse-strategy experiment (r5, VERDICT item 1).

Fresh JVM per invocation; one variant per run so JIT/page-cache warmth
can't bleed between strategies.

Usage: python tools/exp_json.py VARIANT [--sf DIR]
  VARIANT in: from_json | variant | get_json_object | json_tuple | regexp
          | stored | shredded | string_from_json | string_get_json

r5 arms (from_json/variant/...) parse a STRING props column per query —
they predate the ingest-time VARIANT layout and now stage their own
string-typed events copy. r6 arms (VERDICT r5 item 5, measured at sf10):
  stored           events.props as plain stored VARIANT binary (the
                   shipping path, catalog.optimize_layout)
  shredded         VARIANT written with writeShredding.enabled, read
                   with pushVariantIntoScan (re-measuring the r5 sf3
                   rejection at a scan-dominated SF)
  string_from_json props stored as raw JSON string, query-time
                   from_json with the pruned 'k INT' schema
  string_get_json  props stored as raw JSON string, get_json_object
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from kwery_spark.session import builder


def main() -> None:
    variant = sys.argv[1]
    sf_dir = "/root/repo/.data/sf3"
    if "--sf" in sys.argv:
        sf_dir = sys.argv[sys.argv.index("--sf") + 1]
    b = builder("exp-json")
    if variant == "shredded":
        b = b.config("spark.sql.variant.pushVariantIntoScan", "true")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    from kwery_spark.catalog import _SCRATCH, analyze_tables, optimize_layout, scan_splits, table

    optimize_layout(spark, sf_dir)
    analyze_tables(spark, sf_dir)
    import pyarrow.parquet as _pq

    rows = _pq.ParquetFile(os.path.join(sf_dir, "lineitem.parquet")).metadata.num_rows
    spark.conf.set("spark.sql.shuffle.partitions", str(min(64, max(8, rows // 500_000))))

    # --- r6 fixture staging (one-time per corpus, outside timing) ---
    exp_root = os.path.join(_SCRATCH, "exp_json", os.path.basename(sf_dir.rstrip("/")))

    def _staged(kind: str) -> str:
        """events copy with props in the requested representation."""
        out = os.path.join(exp_root, kind, "events.parquet")
        if not os.path.exists(os.path.join(out, "_SUCCESS")):
            ev = table(spark, sf_dir, "events")  # optimized: props is VARIANT
            if kind == "string":
                ev = ev.withColumn("props", F.to_json("props"))
            if kind == "shredded":
                spark.conf.set("spark.sql.variant.writeShredding.enabled", "true")
            ev.repartition(16).write.mode("overwrite").parquet(out)
            if kind == "shredded":
                spark.conf.set("spark.sql.variant.writeShredding.enabled", "false")
        return out

    def build():
        if variant in ("shredded", "string_from_json", "string_get_json",
                       "from_json", "get_json_object", "json_tuple", "regexp",
                       "variant"):
            # all non-"stored" arms need a staged copy: the optimized
            # layout's props is VARIANT, so string-parsing arms read the
            # string twin and the shredded arm its shredded twin
            src_path = _staged("shredded" if variant == "shredded" else "string")
            ev = spark.read.parquet(src_path).select("event_type", "props")
        else:
            ev = table(spark, sf_dir, "events").select("event_type", "props")
            target = max(8, spark.sparkContext.defaultParallelism // 2)
            if scan_splits(sf_dir, "events") < target // 2:
                ev = ev.repartition(target)
        if variant == "stored":
            # props is already VariantType in the optimized layout
            k = F.expr("variant_get(props, '$.k', 'int')")
        elif variant == "shredded":
            k = F.expr("variant_get(props, '$.k', 'int')")
        elif variant == "string_from_json":
            k = F.from_json(F.col("props"), "k INT").getField("k")
        elif variant == "string_get_json":
            k = F.get_json_object(F.col("props"), "$.k").cast("int")
        elif variant == "from_json":
            k = F.from_json(F.col("props"), "k INT").getField("k")
        elif variant == "variant":
            k = F.expr("variant_get(parse_json(props), '$.k', 'int')")
        elif variant == "get_json_object":
            k = F.get_json_object(F.col("props"), "$.k").cast("int")
        elif variant == "json_tuple":
            ev = ev.select("event_type", F.json_tuple(F.col("props"), "k").alias("ks"))
            k = F.col("ks").cast("int")
        elif variant == "regexp":
            k = F.regexp_extract(F.col("props"), r'"k"\s*:\s*(-?\d+)', 1).cast("int")
        else:
            raise SystemExit(f"unknown variant {variant}")
        return (
            ev.withColumn("k", k)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.avg("k").alias("avg_k"),
                F.max("k").alias("max_k"),
                F.sum(F.when(F.col("k") > 50, 1).otherwise(0)).alias("n_high_k"),
            )
        )

    times = []
    for i in range(4):
        t0 = time.perf_counter()
        build().toPandas()
        dt = time.perf_counter() - t0
        if i > 0:
            times.append(dt)
    print(json.dumps({variant: round(min(times), 3), "all": [round(t, 3) for t in times]}))


if __name__ == "__main__":
    main()
