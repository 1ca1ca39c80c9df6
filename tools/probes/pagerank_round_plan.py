"""Plan evidence for the r16 checkpoint partitioning capture: build
pagerank's round-1 subtrees (c-message join and the two rank updates)
off the committed artifacts with spark.kwery.ckpt.capture on vs off and
count Exchange/Sort nodes. Under broken capture (off), the pair
checkpoint reads UnknownPartitioning and every round re-exchanges it.

Usage: python tools/probes/pagerank_round_plan.py <sf_dir> [out_dir]
With out_dir, writes graph_pagerank_round_{before,after}.txt plan dumps.
"""
import os
import sys

sys.path.insert(0, "/root/repo")
sf_dir = sys.argv[1]
out_dir = sys.argv[2] if len(sys.argv) > 2 else None
from kwery_spark.session import builder

spark = builder("pagerank-round-plan").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
import pyspark.sql.functions as F
from pyspark.sql.functions import broadcast

import kwery_spark.all_ops  # noqa: F401
from kwery_spark.catalog import _MEMO, broadcast_fits
from kwery_spark.operators import graph as G
from kwery_spark.plans.inspect import formatted_plan

for arm in ("off", "on"):
    spark.conf.set("spark.kwery.ckpt.capture", "false" if arm == "off" else "true")
    _MEMO.clear()
    w = G._pair_weights(spark, sf_dir)
    pairs = w.select("c", "s")
    degc = G._lckpt(pairs.groupBy("c").agg(F.count(F.lit(1)).alias("degc")))
    degs = G._lckpt(pairs.groupBy("s").agg(F.count(F.lit(1)).alias("degs")))
    prc = degc.select("c", "degc", F.lit(0.5).alias("pr"))
    c_msgs = pairs.join(prc, "c").select(
        "s", (F.col("pr") / F.col("degc")).alias("m")
    )
    contrib_s = c_msgs.groupBy("s").agg(F.sum("m").alias("contrib"))
    small_s = broadcast_fits(sf_dir, "supplier", 16)
    s_side = degs.select("s", F.lit(0.25).alias("m"))
    s_msgs = pairs.join(broadcast(s_side) if small_s else s_side, "s").select(
        "c", "m"
    )
    contrib_c = s_msgs.groupBy("c").agg(F.sum("m").alias("contrib"))
    upd_c = degc.join(contrib_c, "c", "left").select(
        "c", F.coalesce("contrib", F.lit(0.0)).alias("pr")
    )
    dump = []
    for name, df in (
        ("contrib_s (pairs zip prc on c, groupBy s)", contrib_s),
        ("upd_c (bcast-join groupBy c, left-join degc)", upd_c),
    ):
        plan = formatted_plan(df)
        print(
            f"capture={arm:3s} {name}: Exchange={plan.count('Exchange')} "
            f"Sort={plan.count('Sort ')} SMJ={plan.count('SortMergeJoin')}"
        )
        dump.append(f"== {name} ==\n{plan}")
    if out_dir:
        os.makedirs(out_dir, exist_ok=True)
        suffix = "before" if arm == "off" else "after"
        with open(
            os.path.join(out_dir, f"graph_pagerank_round_{suffix}.txt"), "w"
        ) as f:
            f.write(
                "pagerank round-1 subtrees (the final plan is checkpoint-"
                f"fed, so the changed subtree is dumped — VERDICT r15 #7); "
                f"capture={'off (pre-r16)' if arm == 'off' else 'on (r16)'}\n\n"
                + "\n\n".join(dump)
            )
