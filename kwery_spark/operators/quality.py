"""Data-quality operators: table profiling, expectation checks, and
distribution-drift monitoring.

The shapes every ingestion pipeline runs before anything else:
``profile_table`` (per-column null/distinct/min/max summary — the
"describe" a warehouse materializes into its catalog),
``dq_expectations`` (rule assertions with violation counts — the
Great-Expectations/dbt-test shape, as one declarative plan), and
``dq_drift_psi`` (Population Stability Index between time slices — the
drift monitor production score/feature pipelines alert on).

Scale notes: profiling is a single full-scan aggregate (the multi
count-distinct expands rows by #profiled-columns before the partial
aggregate — Spark's standard expand strategy, shuffle carries only
group keys); expectations are per-table scalar aggregates merged in one
pass plus referential checks as anti-join counts. Nothing is collected
driver-side; output is O(#columns + #rules).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from kwery_spark.catalog import round6, table
from kwery_spark.registry import register


@register(
    "profile_table",
    oracle="""
    WITH base AS (SELECT * FROM orders)
    SELECT 'o_orderkey' AS col_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_val,
           CAST(max(o_orderkey) AS VARCHAR) AS max_val
    FROM base
    UNION ALL
    SELECT 'o_custkey', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_custkey) AS BIGINT),
           CAST(count(DISTINCT o_custkey) AS BIGINT),
           CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
    FROM base
    UNION ALL
    SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_orderstatus) AS BIGINT),
           CAST(count(DISTINCT o_orderstatus) AS BIGINT),
           min(o_orderstatus), max(o_orderstatus)
    FROM base
    UNION ALL
    SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_totalprice) AS BIGINT),
           CAST(count(DISTINCT o_totalprice) AS BIGINT),
           CAST(CAST(round(min(o_totalprice), 2) AS DECIMAL(18,2)) AS VARCHAR),
           CAST(CAST(round(max(o_totalprice), 2) AS DECIMAL(18,2)) AS VARCHAR)
    FROM base
    UNION ALL
    SELECT 'o_orderdate', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_orderdate) AS BIGINT),
           CAST(count(DISTINCT o_orderdate) AS BIGINT),
           strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S'),
           strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S')
    FROM base
    UNION ALL
    SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_orderpriority) AS BIGINT),
           CAST(count(DISTINCT o_orderpriority) AS BIGINT),
           min(o_orderpriority), max(o_orderpriority)
    FROM base
    ORDER BY col_name
    """,
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of ``orders``: rows / nulls / exact distinct /
    min / max per column, one output row per column. Values are
    rendered to strings with type-aware formatting (DECIMAL(18,2) for
    doubles, second-precision timestamps) so both engines print
    identically.

    Scale (r16 rewrite, VERDICT r15 #4): the old "ONE aggregate job"
    shape put all 6 exact countDistincts in a single aggregate, which
    Catalyst plans as an EXPAND ×7 — every orders row duplicated once
    per distinct column + once for the plain aggs — so 45M rows at sf30
    became 315M wide rows through the partial aggregate. The fresh-JVM
    decomposition (probe profile_decomp, BASELINE.md "Retired probes", sf30,
    noop sink) priced it: bare 6-col scan 0.52 s, the same aggregate
    MINUS the distincts 1.86 s, ONE single-column countDistinct 3.24 s, the
    committed multi-distinct form 36.8 s — the expand machinery alone
    is ~30 s of a 37 s key. Now each column profiles in its OWN
    single-distinct aggregate (planned with a per-column partial
    groupBy — no expand, map-side partial distinct, column-pruned
    1-column parquet scans) and the 6 one-row results union. Same
    exact counts/min/max, same output schema; measured same-session
    A/B at sf30: old 38.9 → new 10.28 s (-74%), rows exactly equal.
    At 100 TB columnar scans make the 6 narrow re-scans
    byte-equivalent to one wide scan, and the expand's 7× row stream
    is gone."""
    o = table(spark, sf_dir, "orders")
    dec = "decimal(18,2)"

    def _fmt(col: str, typ: str, agg) -> F.Column:
        c = agg(col)
        if typ == "double":
            return F.round(c, 2).cast(dec).cast("string")
        if typ == "timestamp":
            return F.date_format(c, "yyyy-MM-dd HH:mm:ss")
        return c.cast("string")

    # pinned to the 6 columns the oracle profiles (ADVICE r5): deriving
    # the list from the live schema would silently emit extra rows if a
    # regenerated corpus ever grew a column, failing the gate confusingly
    profiled = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
    types = {f.name: f.dataType.simpleString() for f in o.schema.fields}
    cols = [(name, types[name]) for name in profiled]
    per_col = []
    for name, typ in cols:
        per_col.append(
            o.select(name)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.when(F.col(name).isNull(), 1).otherwise(0)).alias(
                    "n_nulls"
                ),
                F.countDistinct(name).alias("n_distinct"),
                _fmt(name, typ, F.min).alias("min_val"),
                _fmt(name, typ, F.max).alias("max_val"),
            )
            .select(
                F.lit(name).alias("col_name"),
                F.col("n_rows").cast("long").alias("n_rows"),
                F.col("n_nulls").cast("long").alias("n_nulls"),
                F.col("n_distinct").cast("long").alias("n_distinct"),
                "min_val",
                "max_val",
            )
        )
    out = per_col[0]
    for frame in per_col[1:]:
        out = out.unionByName(frame)
    return out.coalesce(1).sortWithinPartitions("col_name")


@register(
    "dq_expectations",
    oracle="""
    WITH r AS (
        SELECT 'l_quantity_in_1_50' AS rule,
               CAST(sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END)
                    AS BIGINT) AS n_violations
        FROM lineitem
        UNION ALL
        SELECT 'l_quantity_le_45',
               CAST(sum(CASE WHEN l_quantity <= 45 THEN 0 ELSE 1 END) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'l_discount_in_0_01',
               CAST(sum(CASE WHEN l_discount BETWEEN 0 AND 0.1 THEN 0 ELSE 1 END)
                    AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'l_shipdate_not_null',
               CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'o_totalprice_positive',
               CAST(sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'o_orderkey_unique',
               CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'fk_orders_customer',
               CAST((SELECT count(*) FROM orders o
                     WHERE NOT EXISTS (SELECT 1 FROM customer c
                                       WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
        UNION ALL
        SELECT 'fk_lineitem_orders',
               CAST((SELECT count(*) FROM lineitem l
                     WHERE NOT EXISTS (SELECT 1 FROM orders o
                                       WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
    )
    SELECT rule, n_violations, n_violations = 0 AS passed
    FROM r
    ORDER BY rule
    """,
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation suite over lineitem/orders: range checks, a
    deliberately-failing tight bound (l_quantity <= 45 — ~10% of rows
    violate, so the FAIL path is exercised), null checks, primary-key
    uniqueness, and two referential-integrity rules. Output: one row
    per rule with the violation count and a pass flag.

    Scale (r13 rewrite — the triage A/B read ×5.5 warm sf10→sf30 on ×3
    data): the scalar range/null rules per table fuse into ONE
    conditional-sum scan each; PK uniqueness and the lineitem→orders FK
    check now share ONE orders groupBy(o_orderkey) aggregate SHAPE —
    uniqueness is sum(cnt)-count over it (the old COUNT(DISTINCT)
    pushed 45M keys through its own separate distinct shuffle), and
    the FK anti join's build side is the same definition. The physical
    exchanges do NOT dedupe (r14, ADVICE r13 verified: column pruning
    drops cnt_o from the FK leg, and even with identical canonical
    subtrees ReusedExchange never fired under AQE on or off on this
    corpus), so both legs pay a hash-partition of orders keys; the
    measured r13 win came from ELIMINATING the COUNT(DISTINCT) leg's
    third shuffle + its spill, not from exchange reuse. The orders→customer FK stays a plain anti join (the custkey
    pre-aggregate only reduces ~10× against a 4.5M-row dimension side
    — measured marginal), and the lineitem probe side stays RAW (a
    groupBy(l_orderkey) pre-aggregate measured 8.2 vs 4.9 s at sf10:
    the 60M-row hash agg costs more than its shuffle reduction saves
    until the anti shuffle would spill). Measured same-session warm
    best-of-3, sweep confs: sf30 26.8 → 14.0 s, sf10 4.9 → 5.7 s —
    scaling ×5.5 → ×2.46 on ×3 data; the old superlinearity was the
    COUNT(DISTINCT) + anti-join shuffles spilling together at sf30.
    All outputs are scalars unioned into an O(#rules) result."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")

    li_scalars = li.agg(
        F.sum(
            F.when(F.col("l_quantity").between(1, 50), 0).otherwise(1)
        ).alias("l_quantity_in_1_50"),
        F.sum(F.when(F.col("l_quantity") <= 45, 0).otherwise(1)).alias(
            "l_quantity_le_45"
        ),
        F.sum(
            F.when(F.col("l_discount").between(0.0, 0.1), 0).otherwise(1)
        ).alias("l_discount_in_0_01"),
        F.sum(F.when(F.col("l_shipdate").isNull(), 1).otherwise(0)).alias(
            "l_shipdate_not_null"
        ),
    )
    o_scalars = o.agg(
        F.sum(F.when(F.col("o_totalprice") > 0, 0).otherwise(1)).alias(
            "o_totalprice_positive"
        ),
    )
    # ONE orderkey aggregation DEFINITION serves PK uniqueness AND the
    # FK probe side (shared shape; the exchanges do not physically
    # dedupe — see the docstring)
    oagg = o.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("cnt_o"))
    uniq = oagg.agg(
        (F.sum("cnt_o") - F.count(F.lit(1))).alias("o_orderkey_unique")
    )
    # no explicit broadcast hint: customer grows linearly with SF, so the
    # build-side choice belongs to AQE/autoBroadcastJoinThreshold (ADVICE
    # r5 — explicit broadcast() is reserved for provably-fixed-size sides).
    # At gate SFs the key column is well under threshold and AQE still
    # broadcasts it; at cluster scale it degrades gracefully to a shuffle.
    fk_oc = o.join(
        c.select("c_custkey"),
        F.col("c_custkey") == F.col("o_custkey"),
        "left_anti",
    ).agg(F.count(F.lit(1)).alias("fk_orders_customer"))
    # raw lineitem probes the SAME oagg definition the uniqueness leg
    # aggregates — a lineitem-side pre-aggregate measured SLOWER
    # at sf10 (8.2 vs 4.9 s: the 60M-row hash agg costs more than the
    # ~4x shuffle reduction saves until the anti shuffle spills)
    fk_lo = li.select("l_orderkey").join(
        oagg.select("o_orderkey"),
        F.col("o_orderkey") == F.col("l_orderkey"),
        "left_anti",
    ).agg(F.count(F.lit(1)).alias("fk_lineitem_orders"))

    def _rows(df: DataFrame) -> DataFrame:
        names = df.columns
        stack = ", ".join(f"'{n}', `{n}`" for n in names)
        return df.select(
            F.expr(f"stack({len(names)}, {stack}) AS (rule, n_violations)")
        )

    out = (
        _rows(li_scalars)
        .unionAll(_rows(o_scalars))
        .unionAll(_rows(uniq))
        .unionAll(_rows(fk_oc))
        .unionAll(_rows(fk_lo))
    )
    return (
        out.select(
            "rule",
            F.col("n_violations").cast("long").alias("n_violations"),
            (F.col("n_violations") == 0).alias("passed"),
        )
        .coalesce(1)
        .sortWithinPartitions("rule")
    )


@register(
    "dq_drift_psi",
    oracle="""
    WITH b AS (
        SELECT o_orderpriority AS prio,
               CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 'ref'
                    ELSE 'cur' END AS slice,
               least(9, greatest(0,
                   CAST(floor(o_totalprice / 50000.0) AS INTEGER))) AS bucket
        FROM orders
    ),
    c AS (
        SELECT prio, bucket,
               sum(CASE WHEN slice = 'ref' THEN 1 ELSE 0 END) AS n_ref,
               sum(CASE WHEN slice = 'cur' THEN 1 ELSE 0 END) AS n_cur
        FROM b GROUP BY 1, 2
    ),
    tot AS (
        SELECT prio, sum(n_ref) AS t_ref, sum(n_cur) AS t_cur
        FROM c GROUP BY 1
    ),
    con AS (
        SELECT c.prio, c.bucket,
               CAST(round(
                   ((c.n_cur + 1.0) / (t.t_cur + 10.0)
                    - (c.n_ref + 1.0) / (t.t_ref + 10.0))
                   * ln(((c.n_cur + 1.0) / (t.t_cur + 10.0))
                        / ((c.n_ref + 1.0) / (t.t_ref + 10.0))), 9)
                   AS DECIMAL(25,9)) AS contrib
        FROM c JOIN tot t USING (prio)
    ),
    ranked AS (
        SELECT prio, bucket, contrib,
               row_number() OVER (PARTITION BY prio
                                  ORDER BY contrib DESC, bucket) AS rk
        FROM con
    )
    SELECT t.prio AS o_orderpriority,
           CAST(t.t_ref AS BIGINT) AS n_ref,
           CAST(t.t_cur AS BIGINT) AS n_cur,
           round(CAST((SELECT sum(contrib) FROM con
                       WHERE con.prio = t.prio) AS DOUBLE), 6) AS psi,
           CAST((SELECT bucket FROM ranked
                 WHERE ranked.prio = t.prio AND rk = 1) AS BIGINT)
               AS worst_bucket
    FROM tot t
    ORDER BY 1
    """,
)
def dq_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between a reference and a current time
    slice of orders (split at 1998-01-01), per order priority: the
    standard distribution-drift monitor every production feature/score
    pipeline runs. o_totalprice is bucketed on FIXED 50k-wide edges
    (quantile edges would make bucket membership itself data-dependent
    and flaky near boundaries); shares are Laplace-smoothed
    ((n+1)/(N+10)) so empty buckets contribute finite PSI; each
    bucket's (pc-pr)*ln(pc/pr) contribution is rounded to 9dp and
    summed as DECIMAL (order-independent, the repo's standard
    treatment), then rounded to 6dp. worst_bucket = argmax contribution
    (bucket-id tiebreak, deterministic).

    Scale: ONE scan of orders partially aggregated map-side into the
    bounded (priority x slice x 10-bucket) grid; everything downstream
    (totals, contributions, argmax window) runs on <=50 rows. The
    window partitions by priority — no global window."""
    o = table(spark, sf_dir, "orders")
    bucket = F.least(
        F.lit(9),
        F.greatest(
            F.lit(0), F.floor(F.col("o_totalprice") / 50000.0).cast("int")
        ),
    )
    is_ref = F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    c = (
        o.select(
            F.col("o_orderpriority").alias("prio"),
            bucket.alias("bucket"),
            F.when(is_ref, 1).otherwise(0).alias("ref"),
        )
        .groupBy("prio", "bucket")
        .agg(
            F.sum("ref").alias("n_ref"),
            F.sum(1 - F.col("ref")).alias("n_cur"),
        )
    )
    tot = c.groupBy("prio").agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    pc = (F.col("n_cur") + 1.0) / (F.col("t_cur") + 10.0)
    pr = (F.col("n_ref") + 1.0) / (F.col("t_ref") + 10.0)
    con = c.join(tot, "prio").select(
        "prio",
        "bucket",
        F.round((pc - pr) * F.log(pc / pr), 9).cast("decimal(25,9)").alias("contrib"),
    )
    from pyspark.sql import Window

    rk = F.row_number().over(
        Window.partitionBy("prio").orderBy(F.col("contrib").desc(), "bucket")
    )
    worst = con.withColumn("rk", rk).filter(F.col("rk") == 1).select(
        "prio", F.col("bucket").alias("worst_bucket")
    )
    psi = con.groupBy("prio").agg(
        F.round(F.sum("contrib").cast("double"), 6).alias("psi")
    )
    return (
        tot.join(psi, "prio")
        .join(worst, "prio")
        .select(
            F.col("prio").alias("o_orderpriority"),
            F.col("t_ref").cast("long").alias("n_ref"),
            F.col("t_cur").cast("long").alias("n_cur"),
            "psi",
            F.col("worst_bucket").cast("long"),
        )
        .coalesce(1)
        .sortWithinPartitions("o_orderpriority")
    )


_BENFORD_P = {
    1: "0.3010299956639812", 2: "0.17609125905568124", 3: "0.12493873660829992",
    4: "0.09691001300805642", 5: "0.07918124604762482", 6: "0.06694678963061322",
    7: "0.05799194697768673", 8: "0.05115252244738129", 9: "0.04575749056067514",
}

# bare decimal literals parse as DECIMAL in both engines and the
# chi-square's square then overflows DECIMAL(38) — force DOUBLE per arm
_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN '{d}' THEN CAST({p} AS DOUBLE)" for d, p in _BENFORD_P.items()
) + " ELSE CAST(0.0 AS DOUBLE) END"


@register(
    "dq_benford",
    oracle=f"""
    WITH digits AS (
        SELECT substring(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                         1, 1) AS digit
        FROM orders WHERE o_totalprice >= 1.0
    ),
    counts AS (
        SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM digits GROUP BY digit
    ),
    tot AS (
        SELECT digit, n_obs, CAST(sum(n_obs) OVER () AS BIGINT) AS n_total,
               {_BENFORD_CASE} AS exp_p
        FROM counts
    )
    SELECT digit, n_obs,
           round(CAST(n_obs AS DOUBLE) / n_total, 6) AS obs_p,
           round(exp_p, 6) AS exp_p,
           round((n_obs - n_total*exp_p)*(n_obs - n_total*exp_p)
                 / (n_total*exp_p), 6) AS chi2_part
    FROM tot
    ORDER BY digit
    """,
)
def dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit conformance check on order totals — the
    classic fraud/quality screen for financial columns (Benford 1938;
    Nigrini's forensic-accounting usage). Emits per-digit observed vs
    expected share and the chi-square contribution.

    Exactness: the first significant digit comes from the DECIMAL(18,2)
    string rendering (exact and identical in both engines — never
    float-to-string, never log10); counts are integers, the Benford
    probabilities are shared double literals, so every chi-square term
    is computed from bit-identical scalars.

    Scale: one map-side-combined groupBy to NINE rows; the total-count
    window runs over those 9 (declared GLOBAL_WIN, audit-measured).
    The expensive part at 100 TB is the scan, which prunes to the one
    column it needs."""
    from pyspark.sql import Window

    digits = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") >= 1.0)
        .select(
            F.substring(
                F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
            ).alias("digit")
        )
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    w = Window.partitionBy()
    tot = counts.select(
        "digit",
        "n_obs",
        F.sum("n_obs").over(w).cast("long").alias("n_total"),
        F.expr(_BENFORD_CASE).alias("exp_p"),
    )
    np_ = F.col("n_total") * F.col("exp_p")
    return (
        tot.select(
            "digit",
            "n_obs",
            F.round(F.col("n_obs").cast("double") / F.col("n_total"), 6).alias(
                "obs_p"
            ),
            F.round("exp_p", 6).alias("exp_p"),
            F.round((F.col("n_obs") - np_) * (F.col("n_obs") - np_) / np_, 6).alias(
                "chi2_part"
            ),
        )
        .coalesce(1)
        .sortWithinPartitions("digit")
    )


_FD_CANDIDATES = [
    # (fd label, table, determinant col, dependent col)
    ("orders.o_orderkey->o_orderstatus", "orders", "o_orderkey", "o_orderstatus"),
    ("orders.o_custkey->o_orderstatus", "orders", "o_custkey", "o_orderstatus"),
    ("customer.c_custkey->c_nationkey", "customer", "c_custkey", "c_nationkey"),
    ("customer.c_nationkey->c_mktsegment", "customer", "c_nationkey", "c_mktsegment"),
    ("nation.n_nationkey->n_regionkey", "nation", "n_nationkey", "n_regionkey"),
    ("supplier.s_suppkey->s_nationkey", "supplier", "s_suppkey", "s_nationkey"),
    ("part.p_partkey->p_brand", "part", "p_partkey", "p_brand"),
    ("part.p_brand->p_type", "part", "p_brand", "p_type"),
    ("lineitem.l_orderkey->l_returnflag", "lineitem", "l_orderkey", "l_returnflag"),
    ("lineitem.l_partkey->l_suppkey", "lineitem", "l_partkey", "l_suppkey"),
]


def _fd_oracle() -> str:
    parts = []
    for fd, tbl, det, dep in _FD_CANDIDATES:
        parts.append(f"""
        SELECT '{fd}' AS fd,
               (SELECT CAST(count(DISTINCT {det}) AS BIGINT) FROM {tbl})
                   AS det_cnt,
               (SELECT CAST(count(*) AS BIGINT)
                FROM (SELECT DISTINCT {det}, {dep} FROM {tbl})) AS pair_cnt""")
    return (
        "WITH c AS (" + " UNION ALL ".join(parts) + """)
    SELECT fd, det_cnt, pair_cnt,
           CASE WHEN det_cnt = pair_cnt THEN 1 ELSE 0 END AS holds,
           round(CAST(det_cnt AS DOUBLE) / pair_cnt, 6) AS strength
    FROM c ORDER BY fd
    """
    )


@register("dq_fd_discovery", oracle=_fd_oracle())
def dq_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery over a declared candidate set —
    the schema-profiling primitive behind tools like Metanome/HyFD: an
    FD det->dep holds exactly when |distinct(det)| = |distinct(det,
    dep)|, and the ratio of the two is the standard FD-strength score
    (1.0 = exact dependency; the PK-shaped candidates hold, the
    behavioral ones measurably don't). Ten candidates across five
    tables, including both true dependencies (key->attribute) and
    plausible-but-false ones.

    Exactness: both sides are exact distinct counts on non-null
    columns (identical NULL semantics is moot), and the score is one
    double division rounded at 6dp.

    Scale: each candidate is a two-column pruned scan feeding a
    partial-aggregated distinct count — Spark expands the multi-column
    count-distinct pair into one Expand + two-phase aggregate, all
    map-side combined; the union of ten 1-row results is plan glue,
    not data movement. At 100 TB the cost is ten pruned column scans
    (or one shared scan per table if fused by the cache layer), never
    a pairwise space."""
    rows = None
    for fd, tbl, det, dep in _FD_CANDIDATES:
        d = table(spark, sf_dir, tbl).select(det, dep)
        agg = d.agg(
            F.countDistinct(F.col(det)).cast("long").alias("det_cnt"),
            F.countDistinct(F.col(det), F.col(dep))
            .cast("long")
            .alias("pair_cnt"),
        ).select(
            F.lit(fd).alias("fd"),
            "det_cnt",
            "pair_cnt",
            F.when(F.col("det_cnt") == F.col("pair_cnt"), 1)
            .otherwise(0)
            .alias("holds"),
            F.round(
                F.col("det_cnt").cast("double") / F.col("pair_cnt"), 6
            ).alias("strength"),
        )
        rows = agg if rows is None else rows.unionAll(agg)
    return rows.coalesce(1).sortWithinPartitions("fd")


_RI_CANDIDATES = [
    # (fk label, child table, child key, parent table, parent key)
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("events.user_id->customer", "events", "user_id", "customer", "c_custkey"),
]


def _ri_oracle() -> str:
    parts = []
    for fk, child, ck, parent, pk in _RI_CANDIDATES:
        parts.append(f"""
        SELECT '{fk}' AS fk,
               (SELECT CAST(count(*) AS BIGINT) FROM {child}) AS n_child,
               (SELECT CAST(count(*) AS BIGINT) FROM {child} c
                WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                                  WHERE p.{pk} = c.{ck})) AS n_orphans""")
    return (
        "WITH r AS (" + " UNION ALL ".join(parts) + """)
    SELECT fk, n_child, n_orphans,
           CASE WHEN n_orphans = 0 THEN 1 ELSE 0 END AS ri_holds,
           round(CAST(n_orphans AS DOUBLE) / n_child, 6) AS orphan_rate
    FROM r ORDER BY fk
    """
    )


def _ri_parent_broadcastable(sf_dir: str, child: str, parent: str) -> bool:
    """The r15 plan-time broadcast gate for one RI leg, extracted so the
    decision logic is unit-testable without a scale run (ADVICE r15):
    nation (spec-constant 25 rows) always broadcasts; any other parent
    broadcasts only under BOTH the catalog.broadcast_fits byte gate AND
    a child:parent footer-row ratio >= 6 (the orders leg, ratio 4,
    measured a 4.28 -> 7.61 s LOSS broadcasting at sf10 — the
    hashed-relation build overtakes the shuffle saving)."""
    from kwery_spark.catalog import broadcast_fits, parquet_rows

    return parent == "nation" or (
        broadcast_fits(sf_dir, parent, 8)
        and parquet_rows(sf_dir, child) >= 6 * parquet_rows(sf_dir, parent)
    )


@register("dq_referential_integrity", oracle=_ri_oracle())
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table referential-integrity validation — the DQ check run
    before trusting any join: for five declared FK relationships,
    count child rows whose key has no parent (LEFT ANTI join), the
    orphan rate, and a holds flag. The single-table complement is
    dq_expectations; this one guards the JOIN graph itself (an orphan
    rate > 0 silently deflates every inner join downstream).

    Exactness: pure integer counts; one division.

    Scale: each candidate is a left-anti equi-join on the key. r15
    continuation (the r14 partkey-map class): under the session's 1MB
    planner threshold every non-nation parent SMJ'd, shuffling the full
    child key column per leg. The parent side is a key-only projection
    (8B payload), so it broadcasts under TWO plan-time footer gates:
    the catalog.broadcast_fits byte gate AND a child:parent row-ratio
    >= 6 — the per-leg fresh-JVM A/B at sf10
    (probe heavy_keys_decomp, BASELINE.md "Retired probes", fresh DataFrame per
    rep) read part (ratio 30) 2.97 -> 1.16 s, customer legs (ratios 10
    / 6.7) 1.16 -> 0.82 / 1.51 -> 0.75 s, but orders (ratio 4, 15M keys)
    4.28 -> 7.61 s — the single-threaded hashed-relation build
    overtakes the shuffle saving, so the ratio gate keeps that leg on
    the SMJ. Both gates are footer metadata (no job); ratios are fixed
    properties of this schema, so the same decisions hold at any SF,
    and the byte gate still bounds absolute size (a 100-TB customer
    falls back to the shuffle — degrades, never OOMs). nation is the
    spec-constant 25-row dim and broadcasts unconditionally. Counts
    partial-aggregate map-side. Five independent pairs union into the
    5-row report."""
    rows = None
    for fk, child, ck, parent, pk in _RI_CANDIDATES:
        c = table(spark, sf_dir, child).select(F.col(ck).alias("k"))
        p = table(spark, sf_dir, parent).select(F.col(pk).alias("k"))
        if _ri_parent_broadcastable(sf_dir, child, parent):
            p = F.broadcast(p)
        orphans = c.join(p, "k", "left_anti").agg(
            F.count(F.lit(1)).cast("long").alias("n_orphans")
        )
        total = c.agg(F.count(F.lit(1)).cast("long").alias("n_child"))
        row = total.crossJoin(F.broadcast(orphans)).select(
            F.lit(fk).alias("fk"),
            "n_child",
            "n_orphans",
            F.when(F.col("n_orphans") == 0, 1).otherwise(0).alias("ri_holds"),
            F.round(
                F.col("n_orphans").cast("double") / F.col("n_child"), 6
            ).alias("orphan_rate"),
        )
        rows = row if rows is None else rows.unionAll(row)
    return rows.coalesce(1).sortWithinPartitions("fk")


@register(
    "dq_outlier_iqr",
    oracle="""
    WITH q AS (
        SELECT o_orderpriority,
               quantile_cont(CAST(o_totalprice AS DOUBLE), 0.25) AS q1,
               quantile_cont(CAST(o_totalprice AS DOUBLE), 0.75) AS q3
        FROM orders GROUP BY o_orderpriority
    ),
    f AS (
        SELECT o_orderpriority, q1, q3,
               q1 - 1.5 * (q3 - q1) AS lo,
               q3 + 1.5 * (q3 - q1) AS hi
        FROM q
    )
    SELECT o.o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN CAST(o.o_totalprice AS DOUBLE) < f.lo
                           OR CAST(o.o_totalprice AS DOUBLE) > f.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           floor(CAST(sum(CASE WHEN CAST(o.o_totalprice AS DOUBLE) < f.lo
                                 OR CAST(o.o_totalprice AS DOUBLE) > f.hi
                               THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
                 * 1000000.0 + 0.5) / 1000000.0 AS outlier_frac,
           floor(f.q1 * 1000000.0 + 0.5) / 1000000.0 AS q1,
           floor(f.q3 * 1000000.0 + 0.5) / 1000000.0 AS q3,
           floor(max(CASE WHEN CAST(o.o_totalprice AS DOUBLE) > f.hi
                          THEN CAST(o.o_totalprice AS DOUBLE) END)
                 * 1000000.0 + 0.5) / 1000000.0 AS max_high_outlier
    FROM orders o JOIN f ON o.o_orderpriority = f.o_orderpriority
    GROUP BY o.o_orderpriority, f.q1, f.q3, f.lo, f.hi
    ORDER BY priority
    """,
)
def dq_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR-fence outlier screen per group: exact q1/q3 of order
    value per priority class, fences at 1.5x IQR, and the count /
    fraction / worst offender outside them — the distribution-shaped
    data-quality gate that catches fat tails dq_expectations' fixed
    thresholds can't (fences adapt to each group's own spread).

    Exactness: quantile interpolation runs on identical doubles in both
    engines (Spark percentile == DuckDB quantile_cont, same positional
    formula over the same cast-to-double cent-grid values); fence
    arithmetic is IEEE +/-/* of those identical doubles, so the
    per-row fence comparison is bit-deterministic; the outlier fraction
    is an integer ratio rounded via catalog.round6 (the driver-r9 tie
    class).

    Scale: phase 1 aggregates the exact per-group quantiles (|groups| =
    5; at 100 TB swap percentile -> approx_percentile, same plan shape);
    phase 2 re-scans with the 5-row fence table broadcast — counting is
    map-side-combined, nothing is collected driver-side."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority", F.col("o_totalprice").cast("double").alias("v")
    )
    q = o.groupBy("o_orderpriority").agg(
        F.expr("percentile(v, 0.25)").alias("q1"),
        F.expr("percentile(v, 0.75)").alias("q3"),
    )
    f = q.select(
        "o_orderpriority",
        "q1",
        "q3",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    is_out = (F.col("v") < F.col("lo")) | (F.col("v") > F.col("hi"))
    return (
        o.join(F.broadcast(f), "o_orderpriority")
        .groupBy(F.col("o_orderpriority").alias("priority"), "q1", "q3")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.when(is_out, 1).otherwise(0)).cast("long").alias(
                "n_outliers"
            ),
            round6(
                F.sum(F.when(is_out, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("outlier_frac"),
            round6(
                F.max(F.when(F.col("v") > F.col("hi"), F.col("v")))
            ).alias("max_high_outlier"),
        )
        .select(
            "priority",
            "n_rows",
            "n_outliers",
            "outlier_frac",
            round6(F.col("q1")).alias("q1"),
            round6(F.col("q3")).alias("q3"),
            "max_high_outlier",
        )
        .coalesce(1)
        .sortWithinPartitions("priority")
    )
