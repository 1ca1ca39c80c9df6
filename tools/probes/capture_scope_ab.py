"""Scope check for the r16 checkpoint-capture fix: the first isolated
sf10 sweep showed the _pair_weights family winning under capture but
graph_triangle_count / graph_kcore (consumers of the events-based
_contracted_copurchase, whose redges build is a rep-pair join AQE might
skew-split) and text_tfidf / text_rake_keywords drifting UP. Same-box
alternating A/B, a cleared session memo (catalog.memo) per arm rep, capture
on vs off, to decide whether capture should be scoped out of the
contraction builds.

Usage: python tools/probes/capture_scope_ab.py <sf_dir> [reps]
"""
import os
import sys
import time

sys.path.insert(0, "/root/repo")
sf_dir = sys.argv[1]
reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
import pyarrow.parquet as pq

rows = pq.ParquetFile(os.path.join(sf_dir, "lineitem.parquet")).metadata.num_rows
from kwery_spark.session import builder

spark = (
    builder("capture-scope-ab")
    .config("spark.sql.shuffle.partitions", str(min(64, max(8, rows // 500_000))))
    .config("spark.sql.files.maxPartitionBytes", str(16 << 20))
    .config("spark.sql.files.minPartitionNum", "64")
    .config("spark.sql.files.openCostInBytes", str(128 << 10))
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
spark.conf.set("spark.kwery.bucketed", "false")  # sweep protocol

import kwery_spark.all_ops  # noqa: F401
from kwery_spark.catalog import _MEMO
from kwery_spark.registry import QUERIES

KEYS = [
    "graph_triangle_count",
    "graph_kcore",
    "graph_assortativity",
    "text_tfidf",
    "text_rake_keywords",
    "text_pmi_cooccurrence",
]

# warm the session so arm 1 doesn't eat first-action init
import pyspark.sql.functions as F

spark.range(1_000_000).groupBy((F.col("id") % 2).alias("k")).count().collect()
from kwery_spark.catalog import table

table(spark, sf_dir, "region").count()

times = {k: {"on": [], "off": []} for k in KEYS}
for rep in range(reps):
    for arm in ("on", "off"):
        spark.conf.set(
            "spark.kwery.ckpt.capture", "true" if arm == "on" else "false"
        )
        # cold state per arm-rep: contraction/memos rebuilt
        _MEMO.clear()
        for key in KEYS:
            t0 = time.perf_counter()
            n = QUERIES[key](spark, sf_dir).count()
            dt = time.perf_counter() - t0
            times[key][arm].append(dt)
            print(f"  rep{rep} capture={arm:3s} {key}: {dt:.2f}s rows={n}",
                  flush=True)
spark.conf.set("spark.kwery.ckpt.capture", "true")
for key in KEYS:
    on, off = times[key]["on"], times[key]["off"]
    print(
        f"KEY {key}: capture-on best {min(on):.2f}s {['%.1f' % x for x in on]} "
        f"| capture-off best {min(off):.2f}s {['%.1f' % x for x in off]}"
    )
print("loadavg:", os.getloadavg())
