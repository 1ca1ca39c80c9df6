"""Warehouse maintenance operators: MERGE-style upsert and SCD type-2
history building — the two table-maintenance shapes every lakehouse
deployment runs nightly.

Both are expressed as single declarative plans (full-outer join /
window runs), so they inherit Spark's shuffle partitioning on the
natural key and scale with the key cardinality, never the driver.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from kwery_spark.catalog import table
from kwery_spark.registry import register


@register(
    "merge_upsert",
    oracle="""
    WITH target AS (
        SELECT o_orderkey, o_orderpriority, o_totalprice
        FROM orders WHERE o_orderkey <= 10000
    ),
    source AS (
        SELECT o_orderkey, o_orderpriority,
               round(o_totalprice * 1.1, 2) AS new_price
        FROM orders WHERE o_orderkey BETWEEN 5000 AND 15000
    ),
    merged AS (
        SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
               coalesce(s.o_orderpriority, t.o_orderpriority) AS o_orderpriority,
               coalesce(s.new_price, t.o_totalprice) AS price,
               CASE WHEN t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
                         THEN 'updated'
                    WHEN s.o_orderkey IS NOT NULL THEN 'inserted'
                    ELSE 'unchanged' END AS action
        FROM target t FULL JOIN source s ON t.o_orderkey = s.o_orderkey
    )
    SELECT o_orderpriority, action,
           count(*) AS n_rows,
           CAST(sum(CAST(floor(price) AS BIGINT)) AS BIGINT) AS price_checksum
    FROM merged
    GROUP BY o_orderpriority, action
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (WHEN MATCHED UPDATE / WHEN NOT MATCHED
    INSERT) as one full-outer join + coalesce projection — the engine-
    agnostic core of Delta/Iceberg MERGE, which at scale is exactly this
    plan plus file rewrite bookkeeping. Target = order snapshot (keys
    <= 10000); source = overlapping update batch (5000..15000, +10%
    price). Per (priority, action) row counts + a floored-price checksum
    gate the merged content, not just cardinalities. The join shuffles
    both sides on the natural key — at 100 TB this is the same
    co-partitioned plan, and bucketing the target by key (sink_bucketed)
    removes its shuffle entirely."""
    o = table(spark, sf_dir, "orders")
    target = o.filter(F.col("o_orderkey") <= 10000).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    source = o.filter(F.col("o_orderkey").between(5000, 15000)).select(
        F.col("o_orderkey").alias("s_orderkey"),
        F.col("o_orderpriority").alias("s_priority"),
        F.round(F.col("o_totalprice") * 1.1, 2).alias("new_price"),
    )
    merged = target.join(
        source, target.o_orderkey == source.s_orderkey, "full"
    ).select(
        F.coalesce("s_priority", "o_orderpriority").alias("o_orderpriority"),
        F.coalesce("new_price", "o_totalprice").alias("price"),
        F.when(
            F.col("o_orderkey").isNotNull() & F.col("s_orderkey").isNotNull(),
            "updated",
        )
        .when(F.col("s_orderkey").isNotNull(), "inserted")
        .otherwise("unchanged")
        .alias("action"),
    )
    return merged.groupBy("o_orderpriority", "action").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.floor("price").cast("long")).alias("price_checksum"),
    )


@register(
    "scd2_dimension",
    oracle="""
    WITH ordered AS (
        SELECT o_custkey, o_orderpriority,
               CAST(o_orderdate AS TIMESTAMP) AS odate, o_orderkey,
               CASE WHEN lag(o_orderpriority) OVER w IS DISTINCT FROM o_orderpriority
                    THEN 1 ELSE 0 END AS changed
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    runs AS (
        SELECT o_custkey, o_orderpriority, odate,
               CAST(sum(changed) OVER (PARTITION BY o_custkey
                    ORDER BY odate, o_orderkey ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS version
        FROM ordered
    ),
    collapsed AS (
        SELECT o_custkey, version,
               min(o_orderpriority) AS o_orderpriority,
               min(odate) AS valid_from
        FROM runs GROUP BY o_custkey, version
    )
    SELECT o_custkey, version, o_orderpriority, valid_from,
           lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY version)
               AS valid_to,
           lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY version)
               IS NULL AS is_current
    FROM collapsed
    """,
)
def scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: collapse each customer's order
    stream into priority-change history rows with [valid_from, valid_to)
    ranges and a current flag. The classic gaps-and-islands build:
    change flag (lag) → running sum = version → collapse runs → lead for
    the closing timestamp. Every window shares one shuffle on o_custkey;
    determinism from the (o_orderdate, o_orderkey) tiebreak. At 100 TB
    this is the standard backfill for dimension tables — key-partitioned,
    no driver state."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderpriority",
        F.col("o_orderdate").alias("odate"),
        "o_orderkey",
    )
    w = Window.partitionBy("o_custkey").orderBy("odate", "o_orderkey")
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    changed = F.when(
        ~F.lag("o_orderpriority").over(w).eqNullSafe(F.col("o_orderpriority")), 1
    ).otherwise(0)
    runs = (
        o.withColumn("changed", changed)
        .withColumn("version", F.sum("changed").over(cum).cast("long"))
        .groupBy("o_custkey", "version")
        .agg(
            F.min("o_orderpriority").alias("o_orderpriority"),
            F.min("odate").alias("valid_from"),
        )
    )
    vw = Window.partitionBy("o_custkey").orderBy("version")
    valid_to = F.lead("valid_from").over(vw)
    return runs.select(
        "o_custkey",
        "version",
        "o_orderpriority",
        "valid_from",
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )


@register(
    "warehouse_cdc_apply",
    oracle="""
    WITH changelog AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
               CASE event_type WHEN 'signup' THEN 'I'
                               WHEN 'error'  THEN 'D'
                               ELSE 'U' END AS op
        FROM events
    ),
    latest AS (
        SELECT user_id, op, round(value, 6) AS last_value, ts AS last_ts,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM changelog
    ),
    counts AS (
        SELECT user_id, count(*) AS n_ops,
               CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_deletes
        FROM changelog
        GROUP BY user_id
    )
    SELECT l.user_id, l.op AS last_op, l.last_value, l.last_ts,
           c.n_ops, c.n_deletes
    FROM latest l JOIN counts c ON c.user_id = l.user_id
    WHERE l.rn = 1 AND l.op <> 'D'
    """,
)
def warehouse_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog application: collapse an ordered insert/update/delete
    change stream to the current snapshot — the core of every lakehouse
    ingestion job (Debezium -> table). The event stream stands in as the
    changelog: signup=INSERT, error=DELETE (tombstone), others=UPDATE.
    Latest-op-wins per key by (ts, event_id); keys whose last op is a
    tombstone drop out of the snapshot.

    Scale: one hash partitioning on the primary key serves the ranking
    window AND the per-key op counters (Catalyst reuses the exchange);
    no driver state, no order-sensitive accumulation — the rank picks
    the winner regardless of partition arrival order, which is exactly
    why MERGE-on-read table formats use this same rewrite.
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    latest = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("op").alias("last_op"),
            F.round("value", 6).alias("last_value"),
            F.col("ts").alias("last_ts"),
        )
    )
    counts = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_ops"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("n_deletes"),
    )
    return latest.filter(F.col("last_op") != "D").join(counts, "user_id")


@register(
    "warehouse_incremental_view",
    oracle="""
    WITH base AS (
        SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    ),
    inserts AS (
        SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    ),
    deletes AS (
        SELECT * FROM base
        WHERE o_orderstatus = 'F'
          AND o_orderdate < TIMESTAMP '1994-01-01 00:00:00'
    ),
    final_state AS (
        SELECT * FROM base
        WHERE NOT (o_orderstatus = 'F'
                   AND o_orderdate < TIMESTAMP '1994-01-01 00:00:00')
        UNION ALL
        SELECT * FROM inserts
    ),
    truth AS (
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE), 2)
                   AS total_price
        FROM final_state GROUP BY o_orderpriority
    ),
    delta AS (
        SELECT o_orderpriority,
               CAST((SELECT count(*) FROM inserts i
                     WHERE i.o_orderpriority = t.o_orderpriority) AS BIGINT)
                   AS n_inserted,
               CAST((SELECT count(*) FROM deletes d
                     WHERE d.o_orderpriority = t.o_orderpriority) AS BIGINT)
                   AS n_deleted
        FROM (SELECT DISTINCT o_orderpriority FROM orders) t
    )
    SELECT t.o_orderpriority, t.n_orders, t.total_price,
           d.n_inserted, d.n_deleted
    FROM truth t JOIN delta d USING (o_orderpriority)
    ORDER BY t.o_orderpriority
    """,
)
def warehouse_incremental_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (IVM): refresh a per-priority
    (count, sum) aggregate view from a change batch WITHOUT rescanning
    the base — the materialized-view delta algebra (V' = V ⊕ agg(I) ⊖
    agg(D)) that Materialize/Delta Live Tables/Snowflake dynamic tables
    run. The corpus supplies a deterministic split: base = pre-1997
    orders (the stored view), inserts = 1997+ orders, deletes = base
    orders finalized before 1994 (retention purge). Spark computes the
    three partial aggregates and COMBINES them group-wise; the oracle
    recomputes the final state from scratch — parity proves the delta
    algebra gives the exact rescan answer. Count and DECIMAL(18,2) sums
    are the classic self-maintainable aggregates (no per-group rescan
    even for deletes, unlike MIN/MAX).

    Scale: at 100 TB the base aggregate is the STORED view (read back,
    not recomputed — here recomputed once to stand in for it); each
    refresh touches only the delta partitions. Three bounded-key
    aggregations (<=5 groups each), one coalesced combine; DECIMAL sums
    make every ⊕/⊖ order-independent."""
    o = table(spark, sf_dir, "orders")
    cut = F.lit("1997-01-01 00:00:00").cast("timestamp")
    purge = F.lit("1994-01-01 00:00:00").cast("timestamp")
    base = o.filter(F.col("o_orderdate") < cut)
    inserts = o.filter(F.col("o_orderdate") >= cut)
    deletes = base.filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_orderdate") < purge)
    )

    def part(df: DataFrame, n: str, s: str) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias(n),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(s),
        )

    v = (
        part(base, "n_b", "s_b")
        .join(part(inserts, "n_i", "s_i"), "o_orderpriority", "full_outer")
        .join(part(deletes, "n_d", "s_d"), "o_orderpriority", "full_outer")
    )
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        v.select(
            "o_orderpriority",
            (
                F.coalesce("n_b", F.lit(0))
                + F.coalesce("n_i", F.lit(0))
                - F.coalesce("n_d", F.lit(0))
            )
            .cast("long")
            .alias("n_orders"),
            F.round(
                (
                    F.coalesce(F.col("s_b"), zero)
                    + F.coalesce(F.col("s_i"), zero)
                    - F.coalesce(F.col("s_d"), zero)
                ).cast("double"),
                2,
            ).alias("total_price"),
            F.coalesce("n_i", F.lit(0)).cast("long").alias("n_inserted"),
            F.coalesce("n_d", F.lit(0)).cast("long").alias("n_deleted"),
        )
        .coalesce(1)
        .sortWithinPartitions("o_orderpriority")
    )


@register(
    "join_temporal_pit",
    oracle="""
    WITH ordered AS (
        SELECT o_custkey, o_orderpriority,
               CAST(o_orderdate AS TIMESTAMP) AS odate, o_orderkey,
               CASE WHEN lag(o_orderpriority) OVER w
                         IS DISTINCT FROM o_orderpriority
                    THEN 1 ELSE 0 END AS changed
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    runs AS (
        SELECT o_custkey, o_orderpriority, odate,
               CAST(sum(changed) OVER (PARTITION BY o_custkey
                    ORDER BY odate, o_orderkey ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS version
        FROM ordered
    ),
    dim AS (
        SELECT o_custkey, version,
               min(o_orderpriority) AS prio,
               min(odate) AS valid_from,
               lead(min(odate)) OVER (PARTITION BY o_custkey
                                      ORDER BY version) AS valid_to
        FROM runs GROUP BY o_custkey, version
    ),
    ev AS (
        SELECT user_id, event_type,
               CAST(round(value, 2) AS DECIMAL(18,2)) AS v,
               date_trunc('day', CAST(ts AS TIMESTAMP)) AS d
        FROM events
    ),
    pit AS (
        SELECT e.event_type,
               coalesce(x.prio, 'no_history') AS prio_at_event, e.v
        FROM ev e LEFT JOIN dim x
          ON e.user_id = x.o_custkey
         AND x.valid_from <= e.d
         AND (x.valid_to IS NULL OR e.d < x.valid_to)
    )
    SELECT prio_at_event, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(v) AS DOUBLE), 6) AS total_value
    FROM pit GROUP BY prio_at_event, event_type
    ORDER BY prio_at_event, event_type
    """,
)
def join_temporal_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (bitemporal AS-OF) dimension join — the
    feature-store/audit query: each event picks up the SCD2 dimension
    row that was in force AT the event's date (the customer's priority
    regime built by scd2_dimension), never a later one (no feature
    leakage). Events before the customer's first regime fall into
    'no_history'.

    Spark-side the lookup is the union+window carry, NOT a range join:
    dimension-change rows and events interleave per user ordered by
    (day, tag, version) — changes sort before same-day events, and a
    same-day regime pair collapses to its latest version, exactly the
    empty-interval semantics of the oracle's INDEPENDENT range-join
    formulation (valid_from <= d < valid_to). One shuffle on the user
    key serves the carry; the rollup lands on the <=5x5 grid.

    Exactness: values accumulate DECIMAL(18,2); dates are exact; the
    only float op is the final cast.

    Scale: the dim build and the carry share the user-key
    partitioning; nothing driver-side; at 100 TB this is one
    key-partitioned pass over dim-changes + events, while the naive
    range join would shuffle events against every historical regime."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderpriority",
        F.date_trunc("day", "o_orderdate").alias("odate"),
        "o_orderkey",
    )
    w = Window.partitionBy("o_custkey").orderBy("odate", "o_orderkey")
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    changed = F.when(
        ~F.lag("o_orderpriority").over(w).eqNullSafe(F.col("o_orderpriority")),
        1,
    ).otherwise(0)
    dim = (
        o.withColumn("changed", changed)
        .withColumn("version", F.sum("changed").over(cum).cast("long"))
        .groupBy("o_custkey", "version")
        .agg(
            F.min("o_orderpriority").alias("prio"),
            F.min("odate").alias("valid_from"),
        )
    )
    changes = dim.select(
        F.col("o_custkey").alias("uid"),
        F.col("valid_from").alias("d"),
        F.lit(0).alias("tag"),
        "version",
        F.col("prio").alias("prio_state"),
        F.lit(None).cast("string").alias("event_type"),
        F.lit(None).cast("decimal(18,2)").alias("v"),
    )
    ev = table(spark, sf_dir, "events").select(
        F.col("user_id").alias("uid"),
        F.date_trunc("day", "ts").alias("d"),
        F.lit(1).alias("tag"),
        F.lit(None).cast("long").alias("version"),
        F.lit(None).cast("string").alias("prio_state"),
        "event_type",
        F.round("value", 2).cast("decimal(18,2)").alias("v"),
    )
    carry_w = (
        Window.partitionBy("uid")
        .orderBy("d", "tag", "version")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = changes.unionAll(ev).select(
        "tag",
        "event_type",
        "v",
        F.last("prio_state", ignorenulls=True).over(carry_w).alias("prio_at"),
    )
    return (
        carried.filter(F.col("tag") == 1)
        .groupBy(
            F.coalesce(F.col("prio_at"), F.lit("no_history")).alias(
                "prio_at_event"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("v").cast("double"), 6).alias("total_value"),
        )
        .coalesce(1)
        .sortWithinPartitions("prio_at_event", "event_type")
    )
