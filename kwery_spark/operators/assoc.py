"""Market-basket association rules — the classic co-occurrence analytics
family (Agrawal/Srikant a-priori semantics, materialized exhaustively over
a spec-bounded item vocabulary instead of candidate generation).

Baskets are orders; items are the part BRANDS purchased in the order
(p_brand is spec-fixed at 25 values, so the directed-rule space is at most
25x24 = 600 rows regardless of corpus size — the pair space is bounded by
CONTENT cardinality, per the repo's scale rule). Pair generation happens
map-side from each basket's collected item set (<=25 elements), never via
a row-level self-join, so the only shuffles are the basket groupBy and the
600-key rule aggregation.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from kwery_spark.catalog import broadcast_fits, round6, table
from kwery_spark.registry import register


@register(
    "assoc_basket_rules",
    oracle="""
    WITH baskets AS (
        SELECT DISTINCT l.l_orderkey AS bkt, p.p_brand AS item
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    n AS (
        SELECT CAST(count(DISTINCT bkt) AS BIGINT) AS n_baskets FROM baskets
    ),
    item_n AS (
        SELECT item, CAST(count(*) AS BIGINT) AS n_item
        FROM baskets GROUP BY item
    ),
    pair_n AS (
        SELECT a.item AS antecedent, b.item AS consequent,
               CAST(count(*) AS BIGINT) AS n_ab
        FROM baskets a JOIN baskets b
          ON a.bkt = b.bkt AND a.item <> b.item
        GROUP BY a.item, b.item
    )
    SELECT p.antecedent, p.consequent, p.n_ab,
           ia.n_item AS n_ante, ic.n_item AS n_cons, n.n_baskets,
           floor(CAST(p.n_ab AS DOUBLE) / n.n_baskets
                 * 1000000.0 + 0.5) / 1000000.0 AS support,
           floor(CAST(p.n_ab AS DOUBLE) / ia.n_item
                 * 1000000.0 + 0.5) / 1000000.0 AS confidence,
           floor((CAST(p.n_ab AS DOUBLE) * n.n_baskets)
                 / (CAST(ia.n_item AS DOUBLE) * ic.n_item)
                 * 1000000.0 + 0.5) / 1000000.0 AS lift
    FROM pair_n p
    JOIN item_n ia ON p.antecedent = ia.item
    JOIN item_n ic ON p.consequent = ic.item
    CROSS JOIN n
    WHERE p.n_ab * 100 >= n.n_baskets
    ORDER BY antecedent, consequent
    """,
)
def assoc_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed association rules antecedent->consequent over order
    baskets of part brands, with the three canonical measures: support
    (P(A,B)), confidence (P(B|A)) and lift (P(A,B)/(P(A)P(B))), at a
    relative min-support of 1% of baskets (scale-invariant threshold).

    Exactness: all counts are integers; support/confidence are single
    divisions and lift is one division of two exact integer-valued
    double products (counts stay far below 2^53 per factor), so both
    engines compute bit-identical doubles before the shared round6
    (floor-based — plain round diverges per-ulp at exact integer-ratio ties).

    Scale: lineitem joins the partkey->brand map broadcast under a
    plan-time footer byte gate (r14 — plain join past the gate), baskets
    aggregate per order with map-side combine, and pairs are generated
    from each order's <=25-element
    brand set via a double explode — per-row bounded work, no self-join
    on a content key. The rule aggregation lands on <=600 keys; the
    item totals (<=25 rows) and the 1-row basket count are broadcast.
    At 100 TB every stage stays linear in lineitem."""
    # r15 (VERDICT r14 #4): under the orderkey-bucketed warehouse layout
    # (bench _prep builds it; offline-maintenance class) the basket
    # aggregation's groupBy(l_orderkey) — the r14 decomposition's linear
    # dominant term — rides the bucketing EXCHANGE-FREE: the bucketed
    # scan reports hash(l_orderkey) partitioning and the broadcast part
    # join preserves it (broadcast residuals never destroy the bucket
    # distribution — they sit between scan and agg here, not between a
    # zipper's legs, so the r9 q5 trap does not apply). Raw fallback for
    # layout-less sessions (sweeps grade raw corpora on purpose) and
    # under the spark.kwery.bucketed kill switch (catalog.bucketed_db).
    from kwery_spark.catalog import bucketed_db, bucketed_table

    bdb = bucketed_db(spark, sf_dir)
    if bdb is not None:
        li = bucketed_table(spark, bdb, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
    else:
        li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # r14 (the q16 pmap pattern): the partkey->brand map grows linearly
    # with part cardinality (~150 MB estimated at sf30) — under the
    # session's 1MB planner threshold the join otherwise SMJs, shuffling
    # ALL of lineitem on partkey before the orderkey shuffle the basket
    # agg needs anyway. Broadcast the map while the build provably fits
    # the byte budget (plan-time footer gate, catalog.broadcast_fits —
    # same sanctioned class as q16/pagerank/BFS); past the gate the
    # plain join degrades instead of OOMing, and a partkey-bucketed
    # layout recovers the difference at 100-TB part cardinality.
    # Measured fresh-JVM alternating A/B, sweep confs, sf30: basket
    # build 28.9-30.8 -> 21.3-22.2 s, values equal (probe pmap_ab,
    # BASELINE.md "Retired probes").
    part_side = (
        F.broadcast(part) if broadcast_fits(sf_dir, "part", 24) else part
    )
    # r8: basket counts sum identically over DISTINCT basket contents
    # weighted by multiplicity (exact algebra, oracle unchanged) — the
    # upscale clones orders, so the double explode paid 10x at sf10;
    # the checkpoint also stops the 60M join+collect_set from re-running
    # once per consumer leg (it fed n, item_n AND pair_n before)
    sets = (
        li.join(part_side, li.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("p_brand")).alias("items"))
        .groupBy("items")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
        .localCheckpoint(eager=True)
    )
    n = sets.agg(F.sum("m").cast("long").alias("n_baskets"))
    item_n = (
        sets.select(F.explode("items").alias("item"), "m")
        .groupBy("item")
        .agg(F.sum("m").cast("long").alias("n_item"))
    )
    pair_n = (
        sets.select(F.explode("items").alias("antecedent"), "items", "m")
        .select("antecedent", F.explode("items").alias("consequent"), "m")
        .filter(F.col("antecedent") != F.col("consequent"))
        .groupBy("antecedent", "consequent")
        .agg(F.sum("m").cast("long").alias("n_ab"))
    )
    ia = item_n.select(
        F.col("item").alias("antecedent"), F.col("n_item").alias("n_ante")
    )
    ic = item_n.select(
        F.col("item").alias("consequent"), F.col("n_item").alias("n_cons")
    )
    rules = (
        pair_n.join(F.broadcast(ia), "antecedent")
        .join(F.broadcast(ic), "consequent")
        .crossJoin(F.broadcast(n))
        .filter(F.col("n_ab") * 100 >= F.col("n_baskets"))
    )
    ab = F.col("n_ab").cast("double")
    return (
        rules.select(
            "antecedent",
            "consequent",
            "n_ab",
            "n_ante",
            "n_cons",
            "n_baskets",
            # round6, not round(.,6): integer-count ratios can land on
            # exact 6th-decimal ties (catalog.round6, driver-r9 class)
            round6(ab / F.col("n_baskets")).alias("support"),
            round6(ab / F.col("n_ante")).alias("confidence"),
            round6(
                (ab * F.col("n_baskets"))
                / (F.col("n_ante").cast("double") * F.col("n_cons"))
            ).alias("lift"),
        )
        .coalesce(1)
        .sortWithinPartitions("antecedent", "consequent")
    )
