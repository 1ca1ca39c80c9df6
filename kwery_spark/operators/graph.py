"""Graph operators over relational data (SURVEY §2.12 extensions).

Connected components already lives in dedup.dedup_clusters (min-label
propagation to fixpoint); this module adds PageRank — the canonical
iterative-graph workload — over the purchase graph derived from the
corpus: customer c and supplier s are linked when c bought from s
(lineitem ⋈ orders), materialized as two directed edges so every node
has in- and out-links (no dangling-mass handling needed).

Scale notes: edges come from one equi-join + distinct; each PageRank
iteration is one join (rank → edges) + one groupBy(dst) shuffle —
the standard Pregel-on-relational decomposition. Rank state lives in a
DataFrame (never on the driver); lineage is truncated per round with
localCheckpoint, like ml_kmeans. A fixed 3-iteration unroll keeps the
op deterministic and lets the oracle replay every round as a CTE.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.functions import broadcast

from kwery_spark.catalog import _SCRATCH, memo, table
from kwery_spark.registry import register

_D = 0.85  # damping


# The family's checkpointed artifacts are memoized (catalog.memo) and
# keyed on the lineitem fingerprint (the contracted co-purchase graph on
# the events one): every graph key derives from the same weighted
# customer-supplier pair table, and at scale that build, not the rounds,
# dominates each iterative key. A standalone run builds what it always
# built; a multi-key session pays each build once and every later
# consumer starts from the checkpoint scan.

from kwery_spark.catalog import lckpt as _lckpt
from kwery_spark.catalog import snap_captured as _snap_captured

# _lckpt: localCheckpoint with partitioning/ordering capture
# (catalog.snap_captured — the r16 UnknownPartitioning fix) for the
# small per-round rank/label/degree frames whose c/s-partitioning the
# next round's zip join relies on. Until r16, every such claim was
# fiction under AQE: each pagerank round re-exchanged the 59M/176M-row
# pair table it was documented to zip on.


def _ckpt(df: DataFrame) -> DataFrame:
    """Disk-backed lineage truncation for iterative state. localCheckpoint
    pins partitions in executor memory — fine for the per-round rank/label
    frames, but the sf10 purchase graph's ~100M-edge set exhausted the
    local heap through exactly that pinning (r5 sweep: pagerank OOM at
    sf10). checkpoint() writes to the scratch checkpoint dir instead —
    the same durable-storage checkpoint a cluster deployment uses — at
    the cost of a re-read per iteration. Applied to the LARGE immutable
    frames (edge sets); small per-round frames keep localCheckpoint.
    r16: materialized via _snap_captured, so consumers actually see the
    stored partitioning/ordering."""
    import os
    import shutil

    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isEmpty():
        root = os.path.join(_SCRATCH, "checkpoints")
        os.makedirs(root, exist_ok=True)
        # Reliable checkpoints are only auto-cleaned while the context
        # lives (cleanCheckpoints GC hook, set in session.py); whatever a
        # dead session left behind stays forever (ADVICE r5: GB-scale
        # leakage across gate/bench/sweep runs). Same dead-pid discipline
        # as the warehouse fixtures: each process checkpoints under
        # pid<pid>/, and any sibling whose pid fails kill(pid, 0) is swept
        # here. Legacy bare-UUID dirs (pre-r6 layout) can't be attributed
        # to a live process and are swept too.
        for entry in os.listdir(root):
            stale = False
            if entry.startswith("pid") and entry[3:].isdigit():
                pid = int(entry[3:])
                if pid != os.getpid():
                    try:
                        os.kill(pid, 0)
                    except ProcessLookupError:
                        stale = True
                    except PermissionError:
                        pass  # alive but owned by another user — keep
            else:
                stale = True  # pre-r6 bare UUID dir: owner unknowable
            if stale:
                shutil.rmtree(os.path.join(root, entry), ignore_errors=True)
        base = os.path.join(root, f"pid{os.getpid()}")
        os.makedirs(base, exist_ok=True)
        sc.setCheckpointDir(base)
    return _snap_captured(df, lambda d: d.checkpoint(eager=True))



def _pair_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE canonical shared graph artifact: the weighted distinct
    customer-supplier pair table (c=2*custkey, s=2*suppkey+1, wt =
    lineitem multiplicity), c-partitioned and disk-checkpointed, memoized
    per session+corpus. Every graph key is a projection of it:
    the bidirected edge set is its key set, LPA's degree caps are windows
    over wt, common-neighbor weights ARE wt, degrees are its per-key
    counts. One 60M-row (sf10) join feeds the whole family instead of
    each key re-paying it — at sf30 the build dominated all three
    iterative keys (r9 decomposition)."""
    # The effective arm (bucketed zipper vs raw scans) is resolved before
    # the memo probe and folded into the artifact name, so flipping the
    # spark.kwery.bucketed kill switch mid-session never serves the other
    # arm's checkpoint (rows are identical either way).
    from kwery_spark.catalog import bucketed_db, bucketed_table

    bdb = None
    if (spark.conf.get("spark.kwery.bucketed", "true") or "").lower() != "false":
        bdb = bucketed_db(spark, sf_dir)

    def build() -> DataFrame:
        # r14 (VERDICT r13 item 4): when the orderkey-bucketed warehouse
        # layout exists (bench _prep builds it; the offline-maintenance
        # class), the orders⋈lineitem feed zips bucket-to-bucket with ZERO
        # exchange on either input — measured sf30 fresh-JVM A/B: build+ckpt
        # 58.7 s (raw scans, both sides shuffled) → 42.1 s (zipper), rows
        # identical (176,061,300). At 100 TB this is the co-located fact
        # layout every warehouse keeps anyway. Raw fallback otherwise (the
        # sweep protocol reads raw corpora); same kill switch as
        # tpch._maybe_bucketed. Measured non-levers for the raw arm, so the
        # next reader doesn't re-chase them: spark.checkpoint.compress
        # shrinks the 8.3 GB checkpoint 7.5x but costs ~+5 s write for
        # ~-1.1 s/read (two interleaved A/B pairs — null for a single-key
        # build, marginal family-wide); map-side partial agg <2% (r12,
        # multiplicity ~1.015); the repartition(c) is load-bearing (every
        # zip consumer) and the sort feeds LPA's window.
        if bdb is not None:
            li = bucketed_table(spark, bdb, "lineitem").select(
                "l_orderkey", "l_suppkey"
            )
            orders = bucketed_table(spark, bdb, "orders").select(
                "o_orderkey", "o_custkey"
            )
        else:
            li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
            orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        # c-partitioned + sorted before the checkpoint (LPA's customer-side
        # cap window runs exchange-free off it, the r9 LPA layout). Design
        # A/B/C measured at sf10 (family totals 215.7 / 230.9 / 251.0 s vs
        # 283.0 r10): routing every edge consumer through this one sorted
        # checkpoint costs the FIRST builder ~+40 s but repays it twice over
        # in LPA/common-neighbors/degree reuse — family total is the graded
        # quantity, so the shared artifact is imposed, not opportunistic.
        # r12 fuse: repartition(c) BEFORE the groupBy — HashPartitioning(c)
        # satisfies the (c,s) aggregation's clustered distribution, so the
        # agg runs exchange-free on the c-partitioned stream and the old
        # shape's SECOND 176M-row exchange (post-agg repartition) vanishes.
        # The map-side partial agg it gives up was worthless here: the
        # corpus averages ~1.015 lineitems per distinct pair, so partial
        # aggregation shrank the shuffle <2%. Measured sf30 fresh-JVM: LPA
        # cold total 128.2 s (old) → 123.0 s (fused), identical values.
        # The stored sort stays: it elides the per-round SMJ sorts of every
        # zip consumer (sort-free and shuffle-hash arms: BASELINE.md).
        pre = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .select(
                (F.col("o_custkey") * 2).alias("c"),
                (F.col("l_suppkey") * 2 + 1).alias("s"),
            )
            .repartition("c")
            .groupBy("c", "s")
            .agg(F.count(F.lit(1)).alias("wt"))
            .sortWithinPartitions("c")
        )
        return _ckpt(pre)

    artifact = "pair_weights_bkt" if bdb is not None else "pair_weights"
    return memo(spark, sf_dir, ("lineitem",), artifact, build)


def _purchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirected customer↔supplier purchase graph with LONG node ids
    (customer k → 2k, supplier k → 2k+1), shared by BFS and any
    consumer that genuinely walks both directions (pagerank stopped
    being one in r13 — its bipartite half-updates run straight off
    _pair_weights, see graph_pagerank). r8 rewrite, measured at sf10 (117.4M
    edges): the four ops each built this graph with STRING node ids
    ('c'||key) and a redundant second distinct — the string keys alone
    made the build 116 s vs 69 s with longs (every shuffle hashes and
    compares 8-char strings), and the outer distinct after the union
    shuffled all 117M rows to remove nothing (base pairs are already
    distinct, and the two directions cannot collide: even→odd vs
    odd→even). Edges are hash-partitioned and sorted on src before the
    disk checkpoint (_ckpt, the r5 OOM lesson — never pin the edge set
    in executor memory), so each Pregel round's src-keyed join starts
    from co-partitioned input. Node ids render back to the public
    'c{k}'/'s{k}' strings only in final projections (_node_str).

    The distinct pair set comes from _pair_weights' checkpoint (its key
    set — the groupBy subsumes the old distinct), and the finished edge
    frame is memoized per session+corpus."""

    def build() -> DataFrame:
        base = _pair_weights(spark, sf_dir).select(
            F.col("c").alias("src"), F.col("s").alias("dst")
        )
        return _ckpt(
            base.union(base.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .repartition("src")
            .sortWithinPartitions("src")
        )

    return memo(spark, sf_dir, ("lineitem",), "edges", build)


def _node_str(col):
    """Render a long node id back to the public label: 2k → 'c{k}',
    2k+1 → 's{k}' — bit-identical to the strings the ops emitted when
    they carried them through every shuffle."""
    return F.concat(
        F.when(col % 2 == 0, F.lit("c")).otherwise(F.lit("s")),
        F.shiftright(col, 1).cast("string"),
    )


def _pagerank_oracle(iters: int = 3) -> str:
    sql = """
    WITH base AS (
        SELECT DISTINCT 'c' || o.o_custkey AS src, 's' || l.l_suppkey AS dst
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    e AS (SELECT src, dst FROM base UNION SELECT dst, src FROM base),
    nodes AS (SELECT DISTINCT src AS node FROM e),
    nn AS (SELECT count(*) AS n FROM nodes),
    deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
    p0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM nodes)"""
    for i in range(1, iters + 1):
        sql += f""",
    p{i} AS (
        SELECT n.node,
               0.15 / (SELECT n FROM nn)
                 + 0.85 * coalesce(s.contrib, 0) AS pr
        FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, sum(p.pr / d.outdeg) AS contrib
            FROM e JOIN p{i - 1} p ON p.node = e.src
                   JOIN deg d ON d.src = e.src
            GROUP BY e.dst) s USING (node))"""
    sql += f"""
    SELECT node, round(pr, 6) AS pagerank FROM p{iters}
    """
    return sql


@register("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 fixed iterations) on the bidirected
    customer↔supplier purchase graph. Deterministic: fixed iteration
    count, uniform init, float sums whose ulp-level order noise is
    absorbed by the final 6dp round (same argument as ml_kmeans).

    r13 bipartite rewrite (VERDICT r12 #5: sf30 read 192.8-220.4 s,
    ×3.9 vs sf10, 9% of the whole sweep). The purchase graph is
    BIPARTITE — every edge joins a customer to a supplier — so rank
    never flows c→c or s→s, and the Pregel round decomposes into two
    INDEPENDENT half-updates over the 59M-row undirected pair table
    instead of one join over the 352M-row (sf30) bidirected edge set:

      contrib→s = pairs ⋈_c (pr_c/deg_c), groupBy(s): the pair
        checkpoint is c-partitioned (_pair_weights), pr_c rides the
        same partitioning through every round (groupBy and left-join
        on c reuse it; _lckpt captures outputPartitioning — r16: plain
        localCheckpoint under AQE records UnknownPartitioning, so
        until the _snap_captured fix every round silently re-exchanged
        the pair table this design claims to zip on),
        so the join is a ZIP — the only exchange is the map-side
        partially-aggregated s-message shuffle (≤ partitions × |S|
        rows, vs the old plan's 352M-row contribution stream).
      contrib→c = pairs ⋈_s broadcast(pr_s/deg_s), groupBy(c): the
        supplier side is |S| rows (300k at sf30, ~5 MB) — broadcast,
        gated on the parquet-footer supplier count like q16's pmap
        (past the gate it degrades to a shuffle join on s, never an
        OOM); the groupBy(c) is then EXCHANGE-FREE on the pair
        checkpoint's partitioning.

    The 352M-edge bidirected union + srcdeg window + disk checkpoint
    the r12 form built vanishes from this key — pagerank now runs
    straight off the family's shared _pair_weights checkpoint.
    Decomposition at sf30 (tools/decompose_pagerank.py, fresh JVM, 64
    partitions): _pair_weights build+ckpt 68.7 s (the shared family
    cost every first graph key pays) + degc/degs ckpts 6.7/5.8 s +
    rounds 20.3/19.7/16.8 s (honest ~19 s/round linear work over 59M
    pairs) + final materialize 4.4 s = 143.2 s. Measured cold sweep
    A/B same box/protocol: sf30 200.3 s (r12 form) → 138.3 s; sf10
    53.1 (r12 sweep) → 51.4 s (sf10 is build-dominated, so the round
    win shows at scale: sf10→sf30 now ×2.7 on ×3 data, linear).
    Values value-hash-identical vs the oracle at sf0.01 (the two
    half-sums partition the same addend sets the old groupBy(dst)
    summed — bipartiteness means no node receives from both sides)."""
    from kwery_spark.catalog import broadcast_fits

    w = _pair_weights(spark, sf_dir)
    pairs = w.select("c", "s")
    # distinct-partner degrees. degc's groupBy rides the pair
    # checkpoint's c-partitioning (no exchange); degs pays the one
    # |pairs|→|S| shuffle. Both are localCheckpoint'd: every round (and
    # the node-count scalar) re-reads them instead of re-scanning pairs.
    degc = _lckpt(pairs.groupBy("c").agg(F.count(F.lit(1)).alias("degc")))
    degs = _lckpt(pairs.groupBy("s").agg(F.count(F.lit(1)).alias("degs")))
    nn = (
        degc.agg(F.count(F.lit(1)).alias("k"))
        .unionAll(degs.agg(F.count(F.lit(1)).alias("k")))
        .agg(F.sum("k").cast("double").alias("n"))
        .localCheckpoint(eager=True)  # one row
    )
    prc = degc.crossJoin(broadcast(nn)).select(
        "c", "degc", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    prs = degs.crossJoin(broadcast(nn)).select(
        "s", "degs", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    # broadcast gate: the supplier rank side is provably |supplier| rows
    # of (long, double) — byte-derived bound (ADVICE r13), same rule as
    # q16's pmap gate
    small_s = broadcast_fits(sf_dir, "supplier", 16)
    for _ in range(3):
        c_msgs = pairs.join(prc, "c").select(
            "s", (F.col("pr") / F.col("degc")).alias("m")
        )
        contrib_s = c_msgs.groupBy("s").agg(F.sum("m").alias("contrib"))
        s_side = prs.select("s", (F.col("pr") / F.col("degs")).alias("m"))
        s_msgs = pairs.join(
            broadcast(s_side) if small_s else s_side, "s"
        ).select("c", "m")
        contrib_c = s_msgs.groupBy("c").agg(F.sum("m").alias("contrib"))
        prc = _lckpt(
            degc.join(contrib_c, "c", "left")
            .crossJoin(broadcast(nn))
            .select(
                "c",
                "degc",
                (
                    F.lit(1 - _D) / F.col("n")
                    + F.lit(_D) * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("pr"),
            )
        )
        prs = _lckpt(
            degs.join(contrib_s, "s", "left")
            .crossJoin(broadcast(nn))
            .select(
                "s",
                "degs",
                (
                    F.lit(1 - _D) / F.col("n")
                    + F.lit(_D) * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("pr"),
            )
        )
    return prc.select(
        _node_str(F.col("c")).alias("node"), F.round("pr", 6).alias("pagerank")
    ).unionAll(
        prs.select(
            _node_str(F.col("s")).alias("node"), F.round("pr", 6).alias("pagerank")
        )
    )


def _contracted_copurchase(spark: SparkSession, sf_dir: str):
    """Content-contracted co-purchase graph shared by the triangle census
    and the k-core peel: users grouped by their EXACT purchase-hour set
    (structural equivalence — identical hour-set means identical
    adjacency), so all graph arithmetic runs on set-representatives with
    multiplicities. Returns (groups, redges), both localCheckpointed:
    groups = (ck, m, hs, clique) where clique=1 iff the group's users
    form an internal clique (|H| >= 2 shared hours, the w>=2 denoise);
    redges = (ca, cb, ma, mb) rep pairs sharing >= 2 hours, ca < cb.

    Memoized per session+corpus, keyed on the events fingerprint: the
    triangle census, k-core and assortativity consume the identical
    contraction, so a multi-key session runs the events scan + rep join
    once for the three of them."""

    def build():
        purch = (
            table(spark, sf_dir, "events")
            .filter(F.col("event_type") == "purchase")
            .select("user_id", F.date_trunc("hour", "ts").alias("hr"))
            .distinct()
        )
        groups = (
            purch.groupBy("user_id")
            .agg(F.sort_array(F.collect_list("hr")).alias("hs"))
            .groupBy(
                F.md5(
                    F.concat_ws(
                        ",", F.transform("hs", lambda h: h.cast("string"))
                    )
                ).alias("ck")
            )
            .agg(
                F.count(F.lit(1)).alias("m"),
                F.first("hs").alias("hs"),
            )
            .select(
                "ck",
                "m",
                "hs",
                (F.size("hs") >= 2).cast("int").alias("clique"),
            )
        )
        # one rep-level pass serves edge gen, degree agg, and the triple join.
        # PLAIN localCheckpoint on purpose (r16 scope A/B,
        # tools/probes/capture_scope_ab.py): these frames are rep-level
        # small, but their builds are joins where AQE's runtime re-planning
        # (runtime SMJ->BHJ on the rep-pair join, partition coalescing)
        # dominates — capture (AQE-off snap) regressed triangle 7.6->21.9 s
        # and kcore 5.7->9.4 s at sf10. Capture pays only where downstream
        # zips on a BIG checkpoint outweigh the build's lost AQE
        # (_pair_weights family).
        groups = groups.localCheckpoint(eager=True)
        gh = groups.select("ck", "m", F.explode("hs").alias("hr"))
        ga = gh.select(F.col("ck").alias("ca"), F.col("m").alias("ma"), "hr")
        gb = gh.select(F.col("ck").alias("cb"), F.col("m").alias("mb"), "hr")
        redges = (
            ga.join(gb, "hr")
            .filter(F.col("ca") < F.col("cb"))
            .groupBy("ca", "cb", "ma", "mb")
            .agg(F.count(F.lit(1)).alias("w"))
            .filter(F.col("w") >= 2)
            .select("ca", "cb", "ma", "mb")
        )
        redges = redges.localCheckpoint(eager=True)  # see groups note above
        return groups, redges

    return memo(spark, sf_dir, ("events",), "contracted", build)


@register(
    "graph_triangle_count",
    oracle="""
    WITH purch AS (
        SELECT DISTINCT user_id,
               date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr
        FROM events WHERE event_type = 'purchase'
    ),
    ew AS (
        SELECT a.user_id AS u, b.user_id AS v, count(*) AS w
        FROM purch a JOIN purch b
          ON a.hr = b.hr AND a.user_id < b.user_id
        GROUP BY 1, 2
    ),
    edges AS (SELECT u, v FROM ew WHERE w >= 2),
    deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
            SELECT u AS node FROM edges
            UNION ALL
            SELECT v AS node FROM edges
        ) ends GROUP BY node
    ),
    wedge AS (
        SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges FROM deg
    ),
    tri AS (
        -- u < v < w triple with all three edges; each triangle once
        SELECT CAST(count(*) AS BIGINT) AS n_triangles
        FROM edges e1
        JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
           w.n_wedges,
           t.n_triangles,
           round(3.0 * t.n_triangles / w.n_wedges, 6) AS closure_ratio
    FROM tri t, wedge w
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle census + global clustering coefficient of the
    co-purchase graph (users co-purchasing in >=2 distinct hours; the
    w>=2 threshold is the r5 co-occurrence denoise, applied identically
    in the oracle). Outputs edge count, wedge count (standard undirected
    paths-of-length-2, sum-over-nodes C(d,2)), triangle count, and
    transitivity 3*T/W.

    r7 rewrite — CONTENT-CONTRACTED, the discipline every pair operator
    here follows (working-notes scale rule): the corpus upscale clones
    user behavior, so users are grouped by their EXACT hour-set (md5 of
    the sorted hours; 150k users -> 1.5k distinct sets at sf10) and all
    graph arithmetic runs on set-representatives with multiplicities:

      * every user pair within a group shares its whole hour-set, so a
        group with |H|>=2 expands to an internal clique: C(m,2) edges;
      * every cross pair between groups i,j shares exactly |Hi ∩ Hj|
        hours — one rep-pair test (hour-blocked equi-join over 1.5k
        reps) decides ALL mi*mj expanded edges at once;
      * degrees are group-uniform: d_i = Σ_adj m_j + (m_i-1)[clique],
        so wedges Σ_u C(d_u,2) = Σ_i m_i*C(d_i,2) — exact, analytic;
      * triangles decompose by how many groups they touch:
        3 groups — enumerate contracted triangles (u<v<w triple join on
        the 28.7k-edge rep graph at sf10 — trivial) weighted mi*mj*mk;
        2 groups — C(mi,2)*mj per clique-side of each rep edge;
        1 group — C(mi,3) per clique group.

    The r6 form materialized the per-hour user pair join (2.85 BILLION
    rows at sf10 — the 480 s sweep TIMEOUT was edge GENERATION, not the
    wedge work); the contracted form runs the same census in seconds and
    its cost is bounded by CONTENT cardinality, exactly the property the
    upscale is designed to punish. The oracle computes the same census
    directly on the expanded graph — parity proves the expansion algebra.
    (The pre-r7 output reported ORIENTED wedge counts — an id-dependent
    quantity under degree-orientation tie-breaks; the standard undirected
    definition reported now is permutation-invariant, which is what makes
    the contraction exact.)"""
    groups, redges = _contracted_copurchase(spark, sf_dir)
    info = groups.select("ck", "m", "clique")
    # expanded edge count: cross products + internal cliques
    cross_e = redges.agg(
        F.coalesce(F.sum(F.col("ma") * F.col("mb")), F.lit(0))
        .cast("long")
        .alias("ce")
    )
    intra_e = info.agg(
        F.coalesce(
            F.sum(F.col("clique") * F.col("m") * (F.col("m") - 1) / 2),
            F.lit(0),
        )
        .cast("long")
        .alias("ie")
    )
    # group-uniform degree: sum of adjacent multiplicities + own clique
    adj_m = (
        redges.select(F.col("ca").alias("ck"), F.col("mb").alias("am"))
        .unionAll(
            redges.select(F.col("cb").alias("ck"), F.col("ma").alias("am"))
        )
        .groupBy("ck")
        .agg(F.sum("am").alias("s"))
    )
    degs = info.join(adj_m, "ck", "left").select(
        "ck",
        "m",
        "clique",
        (
            F.coalesce(F.col("s"), F.lit(0))
            + (F.col("m") - 1) * F.col("clique")
        ).alias("d"),
    )
    n_wedges = degs.agg(
        F.sum(F.col("m") * F.col("d") * (F.col("d") - 1) / 2)
        .cast("long")
        .alias("n_wedges")
    )
    # triangles: 3-group (contracted triple join), 2-group, 1-group terms
    e12 = redges.select(F.col("ca").alias("a"), F.col("cb").alias("b"))
    e23 = redges.select(F.col("ca").alias("b"), F.col("cb").alias("c"))
    e13 = redges.select(F.col("ca").alias("a"), F.col("cb").alias("c"))
    m_of = lambda side: info.select(  # noqa: E731
        F.col("ck").alias(side), F.col("m").alias(f"m_{side}")
    )
    t3 = (
        e12.join(e23, "b")
        .join(e13, ["a", "c"], "left_semi")
        .join(m_of("a"), "a")
        .join(m_of("b"), "b")
        .join(m_of("c"), "c")
        .agg(
            F.coalesce(
                F.sum(F.col("m_a") * F.col("m_b") * F.col("m_c")), F.lit(0)
            )
            .cast("long")
            .alias("t3")
        )
    )
    cl = info.select("ck", "clique")
    t2 = (
        redges.join(
            cl.select(F.col("ck").alias("ca"), F.col("clique").alias("qa")),
            "ca",
        )
        .join(
            cl.select(F.col("ck").alias("cb"), F.col("clique").alias("qb")),
            "cb",
        )
        .agg(
            F.coalesce(
                F.sum(
                    F.col("qa") * (F.col("ma") * (F.col("ma") - 1) / 2) * F.col("mb")
                    + F.col("qb") * (F.col("mb") * (F.col("mb") - 1) / 2) * F.col("ma")
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("t2")
        )
    )
    t1 = info.agg(
        F.coalesce(
            F.sum(
                F.col("clique")
                * (F.col("m") * (F.col("m") - 1) * (F.col("m") - 2) / 6)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("t1")
    )
    return (
        t3.join(broadcast(t2))
        .join(broadcast(t1))
        .join(broadcast(cross_e))
        .join(broadcast(intra_e))
        .join(broadcast(n_wedges))
        .select(
            (F.col("ce") + F.col("ie")).alias("n_edges"),
            "n_wedges",
            (F.col("t3") + F.col("t2") + F.col("t1")).alias("n_triangles"),
            F.round(
                F.lit(3.0)
                * (F.col("t3") + F.col("t2") + F.col("t1"))
                / F.col("n_wedges"),
                6,
            ).alias("closure_ratio"),
        )
    )



def _bfs_oracle(rounds: int = 3) -> str:
    sql = """
    WITH base AS (
        SELECT DISTINCT 'c' || o.o_custkey AS src, 's' || l.l_suppkey AS dst
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    e AS (SELECT src, dst FROM base UNION SELECT dst, src FROM base),
    d0 AS (SELECT 'c0' AS node, 0 AS dist)"""
    for i in range(1, rounds + 1):
        sql += f""",
    d{i} AS (
        SELECT node, min(dist) AS dist FROM (
            SELECT node, dist FROM d{i - 1}
            UNION ALL
            SELECT e.dst AS node, d.dist + 1 AS dist
            FROM e JOIN d{i - 1} d ON e.src = d.node
        ) frontier GROUP BY node)"""
    sql += f"""
    SELECT node, CAST(dist AS BIGINT) AS dist FROM d{rounds}
    """
    return sql


@register("graph_shortest_path", oracle=_bfs_oracle())
def graph_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-round BFS: unweighted shortest-path distances from customer
    node 'c0' on the bidirected purchase graph, 3 fixed rounds (so the
    oracle replays each round as a CTE — same determinism contract as
    graph_pagerank, but integer min instead of float sums: bit-exact).

    Each round is the relational Pregel step — min-relaxation over the
    edge set from the previous round's state. State lives in DataFrames;
    lineage is cut per round with localCheckpoint so the unrolled plan
    doesn't grow multiplicatively. At 100 TB this is the exact shape
    GraphX/GraphFrames lower BFS to — no driver-side frontier, no
    per-row Python.

    r13 bipartite rewrite (the pagerank treatment, same round): after
    pagerank stopped building the bidirected edge checkpoint, this key
    inherited the full 352M-row (sf30) _purchase_edges build it used to
    reuse — sweep read 33.1 s (r12, subsidized) → 82.2 s (r13 sweep,
    paying the build alone). BFS on a bipartite graph alternates sides
    every hop, so the synchronous relaxation splits into two
    INDEPENDENT half-steps over the 59M-row pair checkpoint, both
    computed from the PREVIOUS state (synchronous = the oracle's
    per-round CTE):

      dist'_s = min(dist_s, min over pairs of dist_c + 1): the pair ⋈
        dist_c join rides the checkpoint's c-partitioning (dist_c is
        kept c-partitioned through every round), the per-s min
        PARTIAL-aggregates map-side into the one ≤ partitions × |S|
        shuffle, and the merge with the carried dist_s is a full-outer
        ZIP of two s-partitioned frames.
      dist'_c = min(dist_c, min over pairs of dist_s + 1): dist_s is
        ≤ |S| rows — broadcast, gated on the parquet-footer supplier
        count like pagerank's rank side — so the per-c min and the
        full-outer merge with dist_c are both EXCHANGE-FREE.

    Measured sweep-context A/B at sf30 (pagerank first, so the family
    build is shared, matching registry order): 82.2 → 28.4 s; sf10
    26.5 → 9.7 s. Values bit-exact (integer min over the identical
    reachable set — each node's in-neighbors live entirely on the
    other side).
    """
    from kwery_spark.catalog import broadcast_fits

    pairs = _pair_weights(spark, sf_dir).select("c", "s")
    # |supplier| rows of (long, int) — byte-derived bound (ADVICE r13)
    small_s = broadcast_fits(sf_dir, "supplier", 16)
    # source 'c0' = customer 0 = long id 0; supplier side starts empty
    dc = spark.range(1).select(
        F.lit(0).cast("long").alias("c"), F.lit(0).alias("dist")
    )
    ds = spark.range(0).select(
        F.col("id").alias("s"), F.lit(0).alias("dist")
    )
    for _ in range(3):
        # both half-steps read the PREVIOUS round's state (synchronous)
        step_s = (
            pairs.join(dc, "c")
            .groupBy("s")
            .agg((F.min("dist") + 1).alias("nd"))
        )
        step_c = (
            pairs.join(broadcast(ds) if small_s else ds, "s")
            .groupBy("c")
            .agg((F.min("dist") + 1).alias("nd"))
        )
        ds = _lckpt(
            ds.join(step_s, "s", "full")
            .select("s", F.least("dist", "nd").alias("dist"))
        )
        dc = _lckpt(
            dc.join(step_c, "c", "full")
            .select("c", F.least("dist", "nd").alias("dist"))
        )
    return dc.select(
        _node_str(F.col("c")).alias("node"),
        F.col("dist").cast("long").alias("dist"),
    ).unionAll(
        ds.select(
            _node_str(F.col("s")).alias("node"),
            F.col("dist").cast("long").alias("dist"),
        )
    )


_LPA_CAP = 16  # neighbors kept per node (by purchase weight, ties on id)


def _capped_purchase_edges(spark: SparkSession, sf_dir: str, k: int = _LPA_CAP) -> DataFrame:
    """Degree-capped bidirected purchase graph for LPA (r9, VERDICT item
    4): each node keeps only its top-``k`` neighbors by purchase weight
    (lineitem multiplicity per customer-supplier pair), deterministic
    ties on the neighbor id. Neighborhood capping/sampling is the
    standard treatment that keeps label propagation linear in nodes
    instead of in hub degree at scale — the sf10 supplier side averages
    ~580 neighbors, so the cap cuts the edge set ~5x and every one of
    the 3 vote rounds with it. The weighted pair table is disk-
    checkpointed once (it feeds both direction caps — differently-
    partitioned windows would otherwise re-run the 60M-row join each,
    the r8 alias-re-execution lesson). r11: that weighted pair table IS
    _pair_weights (identical values), so the build is shared with the
    rest of the family and the finished capped edge set is memoized per
    session+corpus; each cap window pays its own partition+sort (the
    shared artifact stays partition-neutral — see _pair_weights)."""

    def build() -> DataFrame:
        w = _pair_weights(spark, sf_dir)
        wc = Window.partitionBy("c").orderBy(F.col("wt").desc(), F.col("s"))
        ws = Window.partitionBy("s").orderBy(F.col("wt").desc(), F.col("c"))
        fwd = (
            w.withColumn("rk", F.row_number().over(wc))
            .filter(F.col("rk") <= k)
            .select(F.col("c").alias("src"), F.col("s").alias("dst"))
        )
        rev = (
            w.withColumn("rk", F.row_number().over(ws))
            .filter(F.col("rk") <= k)
            .select(F.col("s").alias("src"), F.col("c").alias("dst"))
        )
        # the two directions cannot collide (even->odd vs odd->even), so the
        # union needs no distinct; src-partitioned like _purchase_edges so
        # each vote round's join starts co-partitioned
        return _ckpt(fwd.union(rev).repartition("src").sortWithinPartitions("src"))

    return memo(spark, sf_dir, ("lineitem",), f"edges_capped_{k}", build)


def _lpa_oracle(rounds: int = 3, k: int = _LPA_CAP) -> str:
    # numeric node ids (customer k -> 2k, supplier k -> 2k+1) and
    # NUMERIC plurality tiebreaks, mirroring the r8 Spark rewrite;
    # labels render to 'c{k}'/'s{k}' only in the final projection.
    # r9: the graph is the IDENTICAL degree-capped edge set the Spark
    # side builds (_capped_purchase_edges) — top-k neighbors per node by
    # (purchase count DESC, neighbor id), replayed here with the same
    # window algebra.
    sql = f"""
    WITH w AS MATERIALIZED (
        SELECT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s,
               count(*) AS wt
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    ),
    e AS MATERIALIZED (
        SELECT c AS src, s AS dst FROM (
            SELECT c, s, row_number() OVER (
                PARTITION BY c ORDER BY wt DESC, s) AS rk FROM w) _f
        WHERE rk <= {k}
        UNION ALL
        SELECT s AS src, c AS dst FROM (
            SELECT c, s, row_number() OVER (
                PARTITION BY s ORDER BY wt DESC, c) AS rk FROM w) _r
        WHERE rk <= {k}
    ),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM e)"""
    for i in range(1, rounds + 1):
        sql += f""",
    l{i} AS MATERIALIZED (
        SELECT node, label FROM (
            SELECT e.dst AS node, l.label,
                   row_number() OVER (
                       PARTITION BY e.dst
                       ORDER BY count(*) DESC, l.label) AS rn
            FROM e JOIN l{i - 1} l ON l.node = e.src
            GROUP BY e.dst, l.label) votes
        WHERE rn = 1)"""
    sql += f"""
    SELECT CASE WHEN label % 2 = 0 THEN 'c' || (label // 2)
                ELSE 's' || (label // 2) END AS community,
           CAST(count(*) AS BIGINT) AS n_members
    FROM l{rounds} GROUP BY label
    ORDER BY n_members DESC, community LIMIT 20
    """
    return sql


@register("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by label propagation (Raghavan et al. 2007),
    3 synchronous rounds on the bidirected purchase graph: every node
    adopts its neighbors' plurality label, ties to the lexicographically
    smallest — which makes each round a pure (count desc, label asc)
    argmax, bit-deterministic and CTE-replayable (classic async LPA is
    order-dependent; the synchronous variant trades convergence speed
    for exactly this determinism).

    Scale: one groupBy(dst, label) count + one per-dst argmax window per
    round — two shuffles on node keys, Pregel-shaped like the BFS/
    PageRank siblings; label state stays distributed, lineage cut per
    round. Output is the top-20 community size table.

    r9: votes run on the DEGREE-CAPPED graph (_capped_purchase_edges,
    top-16 neighbors per node by purchase weight) — the standard
    neighborhood-sampling treatment for LPA at scale; the full 117M-edge
    set made this the registry's heaviest key (169 s sf10 / 536 s sf30)
    while adding no community signal over the strongest-edge
    neighborhoods. The oracle unrolls the identical capped graph."""
    edges = _capped_purchase_edges(spark, sf_dir)
    from pyspark.sql import Window

    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    # plurality ties break on the NUMERIC node id since r8 (labels ride
    # the shuffles as longs — the string form paid 8-char hashing and
    # lexicographic compares in every round); the oracle unrolls the
    # identical numeric algebra and both engines render 'c{k}'/'s{k}'
    # only at the end
    w = Window.partitionBy("node").orderBy(F.col("n").desc(), F.col("label"))
    # r12: repartition(node) BEFORE the vote count (the q16/q21 fuse) —
    # the agg AND the plurality-argmax window then both run exchange-
    # free on that one partitioning, where groupBy(node, label) used to
    # hash on the pair and the window re-exchanged its output. Warm-
    # edges same-session A/B at sf30: rounds 29.2 s → 26.9 s. The
    # map-side partial vote count it forgoes bought little (vote rows
    # ≈ edge rows until labels converge).
    for _ in range(3):
        labels = _lckpt(
            edges.join(labels.hint("shuffle_hash"), edges.src == labels.node)
            .select(F.col("dst").alias("node"), "label")
            .repartition("node")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )
    return (
        labels.groupBy(F.col("label").alias("lbl"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
        .select(_node_str(F.col("lbl")).alias("community"), "n_members")
        .orderBy(F.col("n_members").desc(), "community")
        .limit(20)
    )


@register(
    "graph_common_neighbors",
    oracle="""
    WITH w AS (
        SELECT o.o_custkey AS custkey, l.l_suppkey AS suppkey,
               count(*) AS nl
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2
    ),
    capped AS (
        SELECT custkey, suppkey FROM (
            SELECT custkey, suppkey,
                   row_number() OVER (PARTITION BY custkey
                                      ORDER BY nl DESC, suppkey) AS rk
            FROM w)
        WHERE rk <= 10
    ),
    deg AS (SELECT suppkey, count(*) AS d FROM capped GROUP BY suppkey),
    pairs AS (
        SELECT a.suppkey AS s1, b.suppkey AS s2, count(*) AS common
        FROM capped a JOIN capped b
          ON a.custkey = b.custkey AND a.suppkey < b.suppkey
        GROUP BY 1, 2
    )
    SELECT p.s1, p.s2, p.common,
           round(p.common * 1.0 / (da.d + db.d - p.common), 6) AS jaccard
    FROM pairs p
    JOIN deg da ON da.suppkey = p.s1
    JOIN deg db ON db.suppkey = p.s2
    ORDER BY p.common DESC, p.s1, p.s2
    LIMIT 20
    """,
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the customer-supplier purchase graph: for
    supplier pairs, the number of shared customers (common neighbors)
    and the Jaccard overlap of their customer sets, top-20 pairs.

    Scale: the pair generator is DEGREE-CAPPED — each customer
    contributes only their top-10 suppliers by purchase volume
    (deterministic tiebreak on suppkey), so pair fan-out is bounded at
    C(10,2)=45 rows per customer regardless of corpus size: the classic
    fragment-and-cap treatment that keeps common-neighbor joins linear
    in the node count instead of quadratic in hub degree. Shuffles:
    (cust,supp) weight agg, the cap window (both on custkey), the
    pair count (on the pair key), and two small degree joins. The
    top-20 is a TakeOrdered, not a global sort.

    Determinism: counts are integral; jaccard is one division rounded
    to 6dp; ordering ties broken by (s1, s2).

    r11 shared-build fast path: if the session already holds the family's
    checkpointed _pair_weights (a multi-key sweep/gate session), decode it
    (custkey = c>>1, suppkey = s>>1, nl = wt — exact) instead of re-paying
    the 60M-row join; standalone runs keep the original single-pass plan
    (this key reads the weight table once, so it must not pay a
    checkpoint write of its own — the degree_distribution rule)."""
    w_shared = memo(spark, sf_dir, ("lineitem",), "pair_weights") or memo(
        spark, sf_dir, ("lineitem",), "pair_weights_bkt"
    )
    if w_shared is not None:
        w = w_shared.select(
            F.shiftright("c", 1).alias("custkey"),
            F.shiftright("s", 1).alias("suppkey"),
            F.col("wt").alias("nl"),
        )
    else:
        li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        w = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy(
                F.col("o_custkey").alias("custkey"),
                F.col("l_suppkey").alias("suppkey"),
            )
            .agg(F.count(F.lit(1)).alias("nl"))
        )
    win = Window.partitionBy("custkey").orderBy(
        F.col("nl").desc(), F.col("suppkey")
    )
    capped = _lckpt(
        w.withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") <= 10)
        .select("custkey", "suppkey")
        # referenced by BOTH pair-join sides and the degree table — the
        # 60M-row join + cap window re-ran once per alias before r8
        # (same finding as dedup_simhash); <=10 rows per customer, so
        # the materialization is small by construction
    )
    deg = capped.groupBy("suppkey").agg(F.count(F.lit(1)).alias("d"))
    a = capped.alias("a")
    b = capped.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.custkey") == F.col("b.custkey"))
            & (F.col("a.suppkey") < F.col("b.suppkey")),
        )
        .groupBy(
            F.col("a.suppkey").alias("s1"), F.col("b.suppkey").alias("s2")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    da = deg.select(F.col("suppkey").alias("s1"), F.col("d").alias("d1"))
    db = deg.select(F.col("suppkey").alias("s2"), F.col("d").alias("d2"))
    return (
        # degree table grows with supplier count (linear in SF) — leave
        # the build-side choice to AQE rather than an explicit broadcast
        # hint (ADVICE r5); at gate SFs it still auto-broadcasts.
        pairs.join(da, "s1")
        .join(db, "s2")
        .select(
            "s1",
            "s2",
            "common",
            F.round(
                F.col("common") * 1.0 / (F.col("d1") + F.col("d2") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.col("common").desc(), "s1", "s2")
        .limit(20)
    )


@register(
    "graph_degree_distribution",
    oracle="""
    WITH base AS (
        SELECT DISTINCT 'c' || o.o_custkey AS src, 's' || l.l_suppkey AS dst
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    e AS (SELECT src, dst FROM base UNION SELECT dst, src FROM base),
    deg AS (SELECT src AS node, count(*) AS degree FROM e GROUP BY src)
    SELECT CASE WHEN substring(node, 1, 1) = 'c' THEN 'customer'
                ELSE 'supplier' END AS side,
           CAST(degree AS BIGINT) AS degree,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM deg
    GROUP BY 1, 2
    ORDER BY side, degree
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the bidirected customer↔supplier purchase
    graph, split by node side — the first diagnostic run on any graph
    (skew detection: a heavy-tailed side means the downstream pair/
    message operators need salting). Same edge derivation as
    graph_pagerank.

    Scale: edge build is one equi-join + distinct; degrees are one
    count per node; the histogram collapses to |distinct degrees| rows.
    All shuffles keyed on node or (side, degree)."""
    # single-pass consumer: the iterative ops' checkpointed edge frame
    # would cost a 117M-row disk write this key reads exactly once (r8
    # sweep: 84 s with the shared checkpoint vs the form below). The
    # bidirected union is also unnecessary — deg(node) is just how many
    # distinct pairs the node appears in, so explode BOTH endpoints of
    # each undirected pair and count: one evaluation of the join, no
    # union branch re-running it, no checkpoint. r11: in a multi-key
    # session that already paid the family's _pair_weights or bidirected
    # edge checkpoint, read the pair set / degrees from it instead
    # (exact same rows — the bidirected set counts each pair from both
    # ends, so a plain per-src count over it IS the degree).
    w_shared = memo(spark, sf_dir, ("lineitem",), "pair_weights") or memo(
        spark, sf_dir, ("lineitem",), "pair_weights_bkt"
    )
    edges_shared = memo(spark, sf_dir, ("lineitem",), "edges")
    if w_shared is not None:
        base = w_shared.select(
            F.col("c").alias("src"), F.col("s").alias("dst")
        )
    elif edges_shared is not None:
        base = None
        deg = (
            edges_shared.groupBy(F.col("src").alias("node"))
            .agg(F.count(F.lit(1)).alias("degree"))
        )
    else:
        li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        base = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .select(
                (F.col("o_custkey") * 2).alias("src"),
                (F.col("l_suppkey") * 2 + 1).alias("dst"),
            )
            .distinct()
        )
    if base is not None:
        deg = (
            base.select(
                F.explode(F.array(F.col("src"), F.col("dst"))).alias("node")
            )
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
    return (
        deg.groupBy(
            F.when(F.col("node") % 2 == 0, "customer")
            .otherwise("supplier")
            .alias("side"),
            "degree",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .select("side", F.col("degree").cast("long").alias("degree"), "n_nodes")
        .coalesce(1)
        .sortWithinPartitions("side", "degree")
    )


def _kcore_oracle(k: int = 3, rounds: int = 6) -> str:
    """Unrolled k-core peel on the EXPANDED co-purchase graph — the
    oracle deliberately pays the full user-level pair join (fine at the
    sf0.01 gate scale) so parity proves the contracted peel's expansion
    algebra, exactly like the triangle census oracle."""
    # Every CTE is MATERIALIZED: DuckDB inlines plain CTEs per
    # reference, so an unrolled peel would re-expand the base pair join
    # ~5^rounds times (observed as an fd-exhaustion blowup, the DuckDB
    # twin of the Spark CTE re-evaluation rule in the repo notes).
    sql = """
    WITH purch AS MATERIALIZED (
        SELECT DISTINCT user_id,
               date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr
        FROM events WHERE event_type = 'purchase'
    ),
    pe AS MATERIALIZED (
        SELECT a.user_id AS u, b.user_id AS v
        FROM purch a JOIN purch b
          ON a.hr = b.hr AND a.user_id < b.user_id
        GROUP BY a.user_id, b.user_id
        HAVING count(*) >= 2
    ),
    a0 AS MATERIALIZED (SELECT DISTINCT user_id AS node FROM purch),
    e0 AS MATERIALIZED (SELECT u, v FROM pe)"""
    for i in range(1, rounds + 1):
        p = i - 1
        sql += f""",
    d{i} AS MATERIALIZED (
        SELECT node, count(*) AS d FROM (
            SELECT u AS node FROM e{p} UNION ALL SELECT v AS node FROM e{p}
        ) GROUP BY node
    ),
    a{i} AS MATERIALIZED (
        SELECT a.node FROM a{p} a JOIN d{i} d ON a.node = d.node
        WHERE d.d >= {k}
    ),
    e{i} AS MATERIALIZED (
        SELECT e.u, e.v FROM e{p} e
        JOIN a{i} x ON e.u = x.node
        JOIN a{i} y ON e.v = y.node
    )"""
    parts = [
        f"""
        SELECT {i} AS peel_round,
               (SELECT CAST(count(*) AS BIGINT) FROM a{i}) AS n_users,
               (SELECT CAST(count(*) AS BIGINT) FROM e{i}) AS n_edges"""
        for i in range(0, rounds + 1)
    ]
    sql += ",\n    s AS (" + " UNION ALL ".join(parts) + ")"
    sql += """
    SELECT peel_round, n_users, n_edges,
           CAST(coalesce(lag(n_users) OVER (ORDER BY peel_round) - n_users,
                         0) AS BIGINT) AS removed_users,
           CASE WHEN peel_round > 0
                     AND lag(n_users) OVER (ORDER BY peel_round) = n_users
                THEN 1 ELSE 0 END AS converged
    FROM s ORDER BY peel_round
    """
    return sql


@register("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (Seidman 1983 / the Matula-Beck peel) of the
    co-purchase graph at k=3: repeatedly delete every user with degree
    < 3 in the surviving subgraph; after 6 rounds emit the per-round
    life table (survivors, surviving expanded edges, removals, and a
    converged flag once a round removes nobody).

    CONTENT-CONTRACTED peel: users with the same purchase-hour set are
    structurally equivalent — same cross-group adjacency, same internal
    clique — so their expanded degree is group-uniform
    (d_i = sum_adj m_j + (m_i-1)*clique_i) and a peel round removes a
    group either entirely or not at all. The iteration therefore runs
    on the <=1.5k set-representatives (at sf10) with multiplicities,
    never on the user-level pair graph the r6 triangle form paid 2.85 B
    rows for; the oracle peels the EXPANDED graph and parity proves the
    contraction exact round by round.

    Scale: rep frames are localCheckpointed every round (the iterative
    discipline — no lineage growth, events scanned exactly once at
    contraction time and absent from the final plan); each round is a
    bounded-size semi-join + aggregate. The per-round stat rows are
    1-row aggregates composed via declared broadcast crossJoins, and
    the lag window runs over the 7-row round table (declared
    GLOBAL_WIN)."""
    k, rounds = 3, 6
    groups, redges = _contracted_copurchase(spark, sf_dir)
    alive = groups.select("ck", "m", "clique")
    edges = redges

    def _stats(i: int, alive: DataFrame, edges: DataFrame) -> DataFrame:
        ucnt = alive.agg(
            F.coalesce(F.sum("m"), F.lit(0)).cast("long").alias("n_users")
        )
        ce = edges.agg(
            F.coalesce(F.sum(F.col("ma") * F.col("mb")), F.lit(0))
            .cast("long")
            .alias("ce")
        )
        ie = alive.agg(
            F.coalesce(
                F.sum(F.col("clique") * F.col("m") * (F.col("m") - 1) / 2),
                F.lit(0),
            )
            .cast("long")
            .alias("ie")
        )
        return (
            ucnt.crossJoin(broadcast(ce))
            .crossJoin(broadcast(ie))
            .select(
                F.lit(i).alias("peel_round"),
                "n_users",
                (F.col("ce") + F.col("ie")).cast("long").alias("n_edges"),
            )
        )

    summaries = [_stats(0, alive, edges)]
    for i in range(1, rounds + 1):
        adj = (
            edges.select(F.col("ca").alias("ck"), F.col("mb").alias("am"))
            .unionAll(
                edges.select(F.col("cb").alias("ck"), F.col("ma").alias("am"))
            )
            .groupBy("ck")
            .agg(F.sum("am").alias("s"))
        )
        alive = (
            alive.join(adj, "ck", "left")
            .select(
                "ck",
                "m",
                "clique",
                (
                    F.coalesce(F.col("s"), F.lit(0))
                    + (F.col("m") - 1) * F.col("clique")
                ).alias("d"),
            )
            .filter(F.col("d") >= k)
            .select("ck", "m", "clique")
            .coalesce(1)
            .localCheckpoint(eager=True)
        )
        edges = (
            edges.join(
                alive.select(F.col("ck").alias("ca")), "ca", "left_semi"
            )
            .join(alive.select(F.col("ck").alias("cb")), "cb", "left_semi")
            .coalesce(1)
            .localCheckpoint(eager=True)
        )
        summaries.append(_stats(i, alive, edges))

    rounds_df = summaries[0]
    for s in summaries[1:]:
        rounds_df = rounds_df.unionAll(s)
    w = Window.orderBy("peel_round")
    prev = F.lag("n_users").over(w)
    return (
        rounds_df.select(
            "peel_round",
            "n_users",
            "n_edges",
            F.coalesce(prev - F.col("n_users"), F.lit(0))
            .cast("long")
            .alias("removed_users"),
            F.when(
                (F.col("peel_round") > 0) & (prev == F.col("n_users")), 1
            )
            .otherwise(0)
            .alias("converged"),
        )
        .coalesce(1)
        .sortWithinPartitions("peel_round")
    )


@register(
    "graph_assortativity",
    oracle="""
    WITH purch AS MATERIALIZED (
        SELECT DISTINCT user_id,
               date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr
        FROM events WHERE event_type = 'purchase'
    ),
    pe AS MATERIALIZED (
        SELECT a.user_id AS u, b.user_id AS v
        FROM purch a JOIN purch b
          ON a.hr = b.hr AND a.user_id < b.user_id
        GROUP BY a.user_id, b.user_id
        HAVING count(*) >= 2
    ),
    deg AS MATERIALIZED (
        SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
            SELECT u AS node FROM pe UNION ALL SELECT v AS node FROM pe
        ) GROUP BY node
    ),
    es AS (
        SELECT CAST(count(*) AS BIGINT) AS m,
               CAST(sum(CAST(du.d AS DECIMAL(38,0))
                        * CAST(dv.d AS DECIMAL(38,0))) AS DECIMAL(38,0))
                   AS s_jk,
               CAST(sum(CAST(du.d AS DECIMAL(38,0))
                        + CAST(dv.d AS DECIMAL(38,0))) AS DECIMAL(38,0))
                   AS s_sum,
               CAST(sum(CAST(du.d AS DECIMAL(38,0))
                            * CAST(du.d AS DECIMAL(38,0))
                        + CAST(dv.d AS DECIMAL(38,0))
                            * CAST(dv.d AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS s_sq
        FROM pe JOIN deg du ON pe.u = du.node
                JOIN deg dv ON pe.v = dv.node
    )
    SELECT m AS n_edges,
           CAST(s_jk AS BIGINT) AS sum_jk,
           CAST(s_sum AS BIGINT) AS sum_deg,
           CAST(s_sq AS BIGINT) AS sum_degsq,
           round(
               (CAST(s_jk AS DOUBLE) / m
                - (CAST(s_sum AS DOUBLE) / (2 * m))
                  * (CAST(s_sum AS DOUBLE) / (2 * m)))
               / (CAST(s_sq AS DOUBLE) / (2 * m)
                  - (CAST(s_sum AS DOUBLE) / (2 * m))
                    * (CAST(s_sum AS DOUBLE) / (2 * m))), 6)
               AS assortativity
    FROM es
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002, eq. 4) of the
    co-purchase graph: the Pearson correlation of the degrees at the
    two ends of every edge — positive means hubs attach to hubs
    (social-network-like), negative means hub-and-spoke.

    CONTENT-CONTRACTED evaluation: degrees are group-uniform (the
    kcore argument), and every expanded edge's endpoint-degree pair is
    determined by its rep pair (cross edges: ma*mb copies of (da, db))
    or its clique (C(m,2) copies of (d, d)), so the three edge sums
    Σjk, Σ(j+k), Σ(j²+k²) reduce to exact multiplicity-weighted sums
    over the <=28.7k rep edges + <=1.5k groups. The oracle computes
    the same sums edge-by-edge on the EXPANDED graph — parity proves
    the algebra. Sums accumulate DECIMAL(38,0) integers (deg² x edge
    counts exceed BIGINT at sf10); the correlation is assembled from
    exact scalars with IEEE ops only.

    Scale: the contraction's one hour-blocked rep join, two broadcast
    degree lookups on the rep table, a single-row aggregate."""
    groups, redges = _contracted_copurchase(spark, sf_dir)
    info = groups.select("ck", "m", "clique")
    adj_m = (
        redges.select(F.col("ca").alias("ck"), F.col("mb").alias("am"))
        .unionAll(
            redges.select(F.col("cb").alias("ck"), F.col("ma").alias("am"))
        )
        .groupBy("ck")
        .agg(F.sum("am").alias("s"))
    )
    degs = info.join(adj_m, "ck", "left").select(
        "ck",
        "m",
        "clique",
        (
            F.coalesce(F.col("s"), F.lit(0))
            + (F.col("m") - 1) * F.col("clique")
        )
        .cast("decimal(38,0)")
        .alias("d"),
    )
    da = degs.select(F.col("ck").alias("ca"), F.col("d").alias("da"))
    db = degs.select(F.col("ck").alias("cb"), F.col("d").alias("db"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    cross = (
        redges.join(F.broadcast(da), "ca")
        .join(F.broadcast(db), "cb")
        .agg(
            F.sum(dec("ma") * dec("mb")).alias("m_e"),
            F.sum(dec("ma") * dec("mb") * F.col("da") * F.col("db")).alias(
                "s_jk"
            ),
            F.sum(
                dec("ma") * dec("mb") * (F.col("da") + F.col("db"))
            ).alias("s_sum"),
            F.sum(
                dec("ma")
                * dec("mb")
                * (
                    F.col("da") * F.col("da")
                    + F.col("db") * F.col("db")
                )
            ).alias("s_sq"),
        )
    )
    intra = degs.agg(
        F.sum(dec("clique") * dec("m") * (dec("m") - 1) / 2)
        .cast("decimal(38,0)")
        .alias("m_i"),
        F.sum(
            dec("clique") * dec("m") * (dec("m") - 1) / 2
            * F.col("d") * F.col("d")
        ).alias("i_jk"),
        F.sum(
            dec("clique") * dec("m") * (dec("m") - 1) / 2 * 2 * F.col("d")
        ).alias("i_sum"),
        F.sum(
            dec("clique") * dec("m") * (dec("m") - 1) / 2
            * 2 * F.col("d") * F.col("d")
        ).alias("i_sq"),
    )
    t = cross.crossJoin(broadcast(intra)).select(
        (F.coalesce(F.col("m_e"), F.lit(0)) + F.coalesce(F.col("m_i"), F.lit(0))).alias("m"),
        (F.coalesce(F.col("s_jk"), F.lit(0)) + F.coalesce(F.col("i_jk"), F.lit(0))).alias("s_jk"),
        (F.coalesce(F.col("s_sum"), F.lit(0)) + F.coalesce(F.col("i_sum"), F.lit(0))).alias("s_sum"),
        (F.coalesce(F.col("s_sq"), F.lit(0)) + F.coalesce(F.col("i_sq"), F.lit(0))).alias("s_sq"),
    )
    md = F.col("m").cast("double")
    mean_half = F.col("s_sum").cast("double") / (2 * md)
    return t.select(
        F.col("m").cast("long").alias("n_edges"),
        F.col("s_jk").cast("long").alias("sum_jk"),
        F.col("s_sum").cast("long").alias("sum_deg"),
        F.col("s_sq").cast("long").alias("sum_degsq"),
        F.round(
            (F.col("s_jk").cast("double") / md - mean_half * mean_half)
            / (
                F.col("s_sq").cast("double") / (2 * md)
                - mean_half * mean_half
            ),
            6,
        ).alias("assortativity"),
    )
