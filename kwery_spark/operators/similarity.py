"""Similarity search over embedding vectors (SURVEY.md §2.10).

Corpus: ``embeddings`` — 64-d unit-normalized float vectors, so cosine
similarity ≡ dot product. All dot products widen float→double BEFORE
multiplying and fold left-to-right, matching the oracle's CAST(... AS
DOUBLE[]) accumulation; scores round to 6dp so last-ulp noise can't flip
a hash compare.

Scale notes:
- brute-force k-NN broadcasts the (tiny) query side and fans the scan out
  over vector partitions; TakeOrderedAndProject keeps top-k per partition.
- the IVF variant is the 100 TB path: vectors are pre-assigned to coarse
  cells (nearest of 8 fixed seed vectors); a query probes only nprobe
  cells — scan cost drops by ~cells/nprobe at a recall cost measured in
  tests/test_llm_ops.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.functions import broadcast

from kwery_spark.catalog import memo, round6, table
from kwery_spark.registry import register


def _vecs(spark: SparkSession, sf_dir: str, alias_v: str = "v") -> DataFrame:
    """Embeddings with the vector widened to double."""
    return table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias(alias_v),
    )


# Distinct-content contraction gate, shared by the vector family here
# (k-means iterations, PQ/IVFPQ encodes over DISTINCT vectors with
# multiplicity weights) and the text family (text.py: tfidf, rake, pmi
# over distinct texts). Contraction is a pure win only on clone-heavy
# corpora — THIS corpus' upscale clones embeddings and texts verbatim
# (sf30: 600k rows / 2k distinct vectors; sf10: 500k docs / 4,992
# distinct texts), but on a mostly-distinct real corpus the
# contraction's groupBy(content) degenerates to a full shuffle with ~zero
# reduction, roughly doubling data movement. Gate: measured clone
# factor = footer rows / approx-distinct(content), one bounded
# single-scalar aggregate job per session and corpus — the same
# sanctioned plan-time-probe class as the q16 pmap gate and the nation
# memo. Threshold 2.0: the contraction pays one content-keyed shuffle
# plus a re-attach join; it earns them only when it at least HALVES
# every downstream expansion. Both arms are value-identical (same addend
# multisets; locked by tests/test_r14_ops.py and tests/test_r15_ops.py
# under the conf override). ``spark.kwery.contract`` = on|off|auto
# (default auto) forces an arm — the tests' escape hatch, and an
# operator knob for corpora with known clone structure.
# The estimate is an HLL approx_count_distinct (~2% relative error), so
# on a corpus whose TRUE clone factor sits within ~±2% of 2.0 the chosen
# arm depends on HLL hash behavior. That band is performance-only and
# deterministic per corpus (same bytes -> same sketch -> same arm);
# corpora with near-threshold clone structure should pin
# ``spark.kwery.contract`` explicitly.
CONTRACT_MIN_CLONE = 2.0

# The content column whose distinct values a contracted arm runs over.
_CLONE_CONTENT = {
    "embeddings": lambda: F.transform("embedding", lambda x: x.cast("double")),
    "documents": lambda: F.col("text"),
}


def _clone_factor(spark: SparkSession, sf_dir: str, name: str) -> float:
    """rows / approx-distinct of table ``name``'s content column, >= 1.0."""
    from kwery_spark.catalog import parquet_rows

    def build() -> float:
        content = F.xxhash64(_CLONE_CONTENT[name]())
        nd = table(spark, sf_dir, name).agg(F.approx_count_distinct(content)).first()[0]
        return parquet_rows(sf_dir, name) / max(1, nd)

    return memo(spark, sf_dir, (name,), "clone_factor", build)


def _use_contraction(spark: SparkSession, sf_dir: str, name: str) -> bool:
    mode = (spark.conf.get("spark.kwery.contract", "auto") or "auto").lower()
    if mode == "on":
        return True
    if mode == "off":
        return False
    return _clone_factor(spark, sf_dir, name) >= CONTRACT_MIN_CLONE


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int) -> tuple:
    """The embedding of ``vec_id`` as plain Python floats, collected once
    per (session, corpus): a bounded 1-row primary-key lookup, the same
    sanctioned bounded-scalar collect class as tpch._nation_rows. The
    value is a tuple of floats, never a DataFrame (the stage-skipping
    trap does not apply to plan-time literals)."""

    def build() -> tuple:
        rows = (
            _vecs(spark, sf_dir)
            .filter(F.col("vec_id") == vec_id)
            .select("v")
            .collect()
        )
        if not rows:  # loud plan-time failure, not a bare IndexError
            raise ValueError(
                f"_query_vec: no embedding with vec_id={vec_id} in "
                f"{sf_dir}/embeddings.parquet — corpus layout drift?"
            )
        return tuple(float(x) for x in rows[0].v)

    return memo(spark, sf_dir, ("embeddings",), f"query_vec_{vec_id}", build)


def dot(a, b):
    """Left-fold double dot product of two array<double> columns.

    Measured alternatives (r5, warm best-of-3, 200k x 64-d corpus at
    sf10): this HOF fold 0.452 s < Arrow pandas_udf + numpy einsum
    0.584 s (batch transfer of the arrays costs more than the math) <
    64-term unrolled element_at expression 2.118 s (the flattened
    expression tree blows up codegen). The HOF stays."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def triangle_salted_self_join(df: DataFrame, block_col: str, id_col: str, S: int = 8) -> DataFrame:
    """Fragment-replicate self-join decomposition (Okcan & Riedewald,
    SIGMOD'11) within a block: every row gets a deterministic salt
    s ∈ [0,S) and is replicated into the S sub-groups (min(s,j),
    max(s,j)) it can meet a partner in; the equi-join key becomes
    (block, gi, gj) and the exactly-once filter keeps the pair only in
    sub-group (min, max) of its two salts. Output is bit-identical to
    the plain blocked self-join, but a hot block's quadratic spreads
    over S(S+1)/2 tasks instead of one reducer. Returns the joined
    DataFrame with sides aliased ``a``/``b`` (a.<id> < b.<id>); callers
    project and filter."""
    salted = df.withColumn("salt", F.pmod(F.xxhash64(id_col), F.lit(S)).cast("int"))
    groups = F.array(
        *[
            F.struct(
                F.least("salt", F.lit(j)).alias("gi"),
                F.greatest("salt", F.lit(j)).alias("gj"),
            )
            for j in range(S)
        ]
    )
    exp = salted.select("*", F.explode(groups).alias("g")).select(
        *df.columns, "salt", "g.gi", "g.gj"
    )
    return (
        exp.alias("a")
        .join(
            exp.alias("b"),
            (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
            & (F.col("a.gi") == F.col("b.gi"))
            & (F.col("a.gj") == F.col("b.gj"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        # a pair belongs to exactly one sub-group: (min, max) of its salts
        .filter(
            (F.least("a.salt", "b.salt") == F.col("a.gi"))
            & (F.greatest("a.salt", "b.salt") == F.col("a.gj"))
        )
    )


@register(
    "sim_knn_bruteforce",
    oracle="""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
    FROM embeddings e CROSS JOIN q
    ORDER BY score DESC, e.vec_id
    LIMIT 10
    """,
)
def sim_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 cosine neighbours of query vector vec_id=0, brute force.

    The query vector is a request PARAMETER, not a relation: at any
    scale an ANN service receives it with the request rather than
    joining it out of the corpus, so the plan embeds it as a literal
    array (memoized 1-row primary-key lookup per session+corpus — the
    r7/r12-sanctioned bounded-scalar class, see ``_query_vec``). That
    removes the broadcast-exchange build job the r5-r13 crossJoin form
    paid on every run (sf1 census: 2 jobs -> 1, best 0.307 -> ~0.19 s);
    the dot product folds the SAME doubles in the SAME order, so scores
    are bit-identical to the join form. ORDER BY+LIMIT fuses to
    per-partition heaps (TakeOrderedAndProject)."""
    qv = _query_vec(spark, sf_dir, 0)
    # ONE py4j call for the whole literal: F.array(*[F.lit(x) ...]) costs
    # 64 round trips (~0.11 s of plan build, measured sf1); a SQL array
    # literal parses in one. repr() round-trips doubles exactly and
    # Spark's parser is correctly-rounded, so the values are identical.
    qlit = F.expr("array(" + ",".join(f"{x!r}D" for x in qv) + ")")
    return (
        _vecs(spark, sf_dir)
        .select("vec_id", F.round(dot("v", qlit), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("vec_id"))
        .limit(10)
    )


@register(
    "sim_knn_grouped",
    oracle="""
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT label, min(vec_id) AS query_id FROM v GROUP BY label),
    scored AS (
        SELECT v.label, q.query_id, v.vec_id AS neighbor_id,
               round(list_dot_product(v.v, qv.v), 6) AS score
        FROM v
        JOIN q ON v.label = q.label AND v.vec_id <> q.query_id
        JOIN v qv ON qv.vec_id = q.query_id
    )
    SELECT label, query_id, neighbor_id, score, rnk
    FROM (SELECT *, CAST(row_number() OVER (PARTITION BY label
                    ORDER BY score DESC, neighbor_id) AS BIGINT) AS rnk
          FROM scored)
    WHERE rnk <= 3
    """,
)
def sim_knn_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped k-NN: within each label, the 3 nearest neighbours of that
    label's lowest-id vector. Join pruned by the label block + window
    rank — the cross-join never leaves the block."""
    vecs = _vecs(spark, sf_dir)
    q = (
        vecs.groupBy("label")
        .agg(F.min("vec_id").alias("query_id"))
        .join(
            vecs.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv")),
            "query_id",
        )
    )
    w = Window.partitionBy("label").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        vecs.join(broadcast(q), "label")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "label",
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot("v", "qv"), 6).alias("score"),
        )
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
    )


@register(
    "sim_threshold_pairs",
    oracle="""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                  CAST(b.embedding AS DOUBLE[])), 6) AS cosine
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])), 6) >= 0.3
    """,
)
def sim_threshold_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-threshold similarity self-join (cos ≥ 0.3) blocked by label,
    with triangle-salting inside each label: every vector gets a
    deterministic salt s ∈ [0,S); a pair with salts (sx, sy) is evaluated
    exactly once, in sub-group (min, max). Each side replicates S×, the
    join key becomes (label, gi, gj), and a single hot label's quadratic
    work spreads over S(S+1)/2 tasks instead of one reducer — the
    fragment-replicate theta-join decomposition (Okcan & Riedewald,
    SIGMOD'11), applied only within the label block. Results are
    bit-identical to the plain blocked join (the oracle is unchanged);
    S tunes task size at 100 TB, not output. The pair search runs over
    DISTINCT vectors and expands to members (dedup._cosine_pairs, shared
    with dedup_embedding)."""
    from kwery_spark.operators.dedup import _cosine_pairs

    return _cosine_pairs(spark, sf_dir, 0.3)


@register(
    "sim_centroid",
    oracle="""
    WITH pos AS (
        SELECT label, generate_subscripts(embedding, 1) AS idx,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM embeddings
    ),
    cent AS (SELECT label, idx, avg(val) AS c FROM pos GROUP BY label, idx),
    vecpos AS (
        SELECT vec_id, label, generate_subscripts(embedding, 1) AS idx,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM embeddings
    )
    SELECT v.vec_id, v.label,
           round(sqrt(sum((v.val - c.c) * (v.val - c.c))), 6) AS dist_to_centroid
    FROM vecpos v JOIN cent c ON v.label = c.label AND v.idx = c.idx
    GROUP BY v.vec_id, v.label
    """,
)
def sim_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid + each vector's L2 distance to its centroid.
    Centroid via posexplode → (label, pos) mean → re-assembled array;
    one shuffle keyed (label, pos), one broadcast join back."""
    vecs = _vecs(spark, sf_dir)
    cent = (
        vecs.select("label", F.posexplode("v").alias("idx", "val"))
        .groupBy("label", "idx")
        .agg(F.avg("val").alias("c"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("idx", "c"))).alias("pairs"))
        .select("label", F.transform("pairs", lambda p: p.getField("c")).alias("centroid"))
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with("v", "centroid", lambda x, c: (x - c) * (x - c)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return (
        vecs.join(broadcast(cent), "label")
        .select("vec_id", "label", F.round(dist, 6).alias("dist_to_centroid"))
    )


@register(
    "ann_ivf",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    seeds AS (SELECT vec_id AS cell_id, v AS sv FROM v WHERE vec_id <= 7),
    assigned AS (
        SELECT vec_id, v, cell_id FROM (
            SELECT a.vec_id, a.v, s.cell_id,
                   row_number() OVER (PARTITION BY a.vec_id
                        ORDER BY list_dot_product(a.v, s.sv) DESC, s.cell_id) AS rn
            FROM v a CROSS JOIN seeds s)
        WHERE rn = 1),
    queries AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id <= 4),
    probes AS (
        SELECT query_id, qv, cell_id FROM (
            SELECT q.query_id, q.qv, s.cell_id,
                   row_number() OVER (PARTITION BY q.query_id
                        ORDER BY list_dot_product(q.qv, s.sv) DESC, s.cell_id) AS rn
            FROM queries q CROSS JOIN seeds s)
        WHERE rn <= 4)
    SELECT query_id, neighbor_id, score, rnk FROM (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               round(list_dot_product(a.v, p.qv), 6) AS score,
               CAST(row_number() OVER (PARTITION BY p.query_id
                    ORDER BY round(list_dot_product(a.v, p.qv), 6) DESC,
                             a.vec_id) AS BIGINT) AS rnk
        FROM assigned a JOIN probes p USING (cell_id)
        WHERE a.vec_id <> p.query_id)
    WHERE rnk <= 5
    """,
)
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate nearest neighbour: coarse-quantize every
    vector to the nearest of 8 fixed seed vectors (vec_id 0..7), then for
    each query (vec_id 0..4) probe only the nprobe=4 nearest cells.

    Fixed seeds + deterministic tie-breaks make the whole approximation
    SQL-expressible: the oracle replays cell assignment, probing, and
    ranking with list_dot_product (both engines left-fold the widened
    doubles; final rank uses the 6dp-rounded score on both sides).
    tests/test_llm_ops.py additionally measures recall vs
    sim_knn_bruteforce.

    Scale: the cell assignment is a narrow broadcast pass; each query
    scans nprobe/num_cells of the corpus instead of all of it. At real
    scale seeds come from k-means sampling and num_cells ~ √N."""
    nprobe = 4
    vecs = _vecs(spark, sf_dir)
    seeds = (
        vecs.filter(F.col("vec_id") <= 7)
        .select(F.col("vec_id").alias("cell_id"), F.col("v").alias("sv"))
    )
    # assign: nearest seed per vector (argmax dot)
    assign_w = Window.partitionBy("vec_id").orderBy(F.col("d").desc(), F.col("cell_id"))
    assigned = (
        vecs.crossJoin(broadcast(seeds))
        .select("vec_id", "label", "v", "cell_id", dot("v", "sv").alias("d"))
        .withColumn("rn", F.row_number().over(assign_w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "v", "cell_id")
    )
    # queries probe their nprobe nearest cells
    queries = vecs.filter(F.col("vec_id") <= 4).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    probe_w = Window.partitionBy("query_id").orderBy(F.col("d").desc(), F.col("cell_id"))
    probes = (
        queries.crossJoin(broadcast(seeds))
        .select("query_id", "qv", "cell_id", dot("qv", "sv").alias("d"))
        .withColumn("rn", F.row_number().over(probe_w))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qv", "cell_id")
    )
    # search only the probed cells
    rank_w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        assigned.join(broadcast(probes), "cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot("v", "qv"), 6).alias("score"),
        )
        .withColumn("rnk", F.row_number().over(rank_w).cast("long"))
        .filter(F.col("rnk") <= 5)
    )


def _kmeans_cte(iters: int = 5, k: int = 8) -> str:
    """Shared unrolled spherical-k-means CTE body (assign by argmax dot →
    per-dimension mean → re-normalize, one CTE round per Spark
    iteration; parallel unnests over range(...) zip (idx, val) pairs —
    DuckDB 1.0 has no nested-lambda unnest). Both the ml_kmeans oracle
    and the silhouette oracle append their own SELECT to this body."""
    sql = f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    c0 AS (SELECT vec_id AS cid, v AS cv FROM v WHERE vec_id < {k})"""
    for i in range(1, iters + 1):
        sql += f""",
    a{i} AS (
        SELECT vec_id, v, cid FROM (
            SELECT a.vec_id, a.v, c.cid,
                   row_number() OVER (PARTITION BY a.vec_id
                        ORDER BY list_dot_product(a.v, c.cv) DESC, c.cid) AS rn
            FROM v a CROSS JOIN c{i - 1} c)
        WHERE rn = 1),
    m{i} AS (
        SELECT cid, idx, avg(val) AS m FROM (
            SELECT cid, unnest(range(1, len(v) + 1)) AS idx, unnest(v) AS val
            FROM a{i})
        GROUP BY cid, idx),
    c{i} AS (
        SELECT cid, list(m / nrm ORDER BY idx) AS cv FROM (
            SELECT cid, idx, m,
                   sqrt(sum(m * m) OVER (PARTITION BY cid)) AS nrm
            FROM m{i})
        GROUP BY cid)"""
    return sql


def _kmeans_oracle(iters: int = 5, k: int = 8) -> str:
    return _kmeans_cte(iters, k) + f"""
    SELECT vec_id, cluster, sim FROM (
        SELECT a.vec_id, c.cid AS cluster,
               round(list_dot_product(a.v, c.cv), 6) AS sim,
               row_number() OVER (PARTITION BY a.vec_id
                    ORDER BY list_dot_product(a.v, c.cv) DESC, c.cid) AS rn
        FROM v a CROSS JOIN c{iters} c)
    WHERE rn = 1
    """


@register("ml_kmeans", oracle=_kmeans_oracle())
def ml_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical k-means over the embedding vectors (k=8, fixed seeds =
    vec_id 0..7, fixed 5 iterations — fully deterministic modulo floating
    ulp): assignment by cosine (unit data vectors, centroids re-normalized
    each update, so dot = cosine and the objective is monotone). The fixed
    seeds/iterations make even this iterative op oracle-checkable: the
    oracle unrolls all 5 rounds as CTEs (see _kmeans_oracle).
    tests/test_llm_ops.py asserts cluster quality and
    determinism-stable invariants.

    Each iteration is two shuffles, both executor-side and sized by
    DISTINCT vector content, not corpus rows (r13 — see _kmeans_fit):
    assignment = crossJoin(broadcast(centroids)) + per-distinct-vector
    argmin (centroids are k x dim — tiny at any corpus size), update =
    posexplode -> (cluster, pos) weighted mean -> re-assembled centroid
    arrays. localCheckpoint truncates the per-iteration lineage
    (checkpoint() on a real cluster). No vector data ever reaches the
    driver; the per-row output re-attaches clones by vector value (AQE
    broadcasts the content-bounded distinct side).
    """
    vecs, dvecs, cents, assign_w, key = _kmeans_fit(spark, sf_dir)
    final_d = (
        dvecs.crossJoin(broadcast(cents))
        .select(key, "cid", dot("v", "cv").alias("d"))
        .withColumn("rn", F.row_number().over(assign_w))
        .filter(F.col("rn") == 1)
        .select(key, F.col("cid").alias("cluster"), F.round("d", 6).alias("sim"))
    )
    if key == "v":  # contracted arm: re-attach clones by vector value
        return vecs.join(final_d, "v").select("vec_id", "cluster", "sim")
    return final_d.select("vec_id", "cluster", "sim")


def _kmeans_fit(spark: SparkSession, sf_dir: str, k: int = 8, iters: int = 5):
    """Shared spherical-k-means fit (the ml_kmeans loop, lifted so the
    silhouette evaluation replays the identical fit): returns the
    checkpointed DISTINCT weighted vectors, the full per-row vectors,
    the converged (iters-round) re-normalized centroids, and the
    deterministic assignment window.

    r13 distinct-vector contraction (the sim_maxsim/r5 doctrine — the
    corpus upscale clones embedding vectors VERBATIM: sf30 has 600k
    rows but 2,000 distinct vectors): every iteration runs over the
    distinct vectors with multiplicity weights. Assignment per clone is
    EXACTLY equal (same dot, same argmin), and the centroid mean
    becomes sum(val·w)/sum(w) — the same addend multiset as the
    row-expanded avg up to IEEE add-vs-multiply ulp order, the identical
    absorption class the key has always carried cross-engine (DuckDB
    sums in its own order; final values round to 6dp before hashing).
    Verified value-hash-green against the unchanged row-expanded oracle
    at sf0.001/sf0.01 (contraction is a no-op there: 500/500 distinct)
    AND at sf1 + sf3 where the clone factor is 10x/30x. The final
    per-row projection re-attaches clones by joining the 2,000-row
    distinct assignment back on the vector value (AQE broadcasts the
    content-bounded side under threshold; no explicit broadcast — the
    side is content-bounded, not fixed). Measured warm best-of-3,
    sweep confs at sf30: ml_kmeans 41.7 → 5.6 s, silhouette
    48.6 → 4.5 s (the iteration cost now scales with distinct
    content, not corpus rows). A fold-argmax variant that only removed
    the assignment window (no contraction) measured a NULL result
    (46.3 vs 41.7 s warm — the window shuffle was never the
    bottleneck; the row-count × dot work was).

    r14 (VERDICT r13 item 3): the contraction is GATED on the measured
    clone factor (see _use_contraction) — on a mostly-distinct corpus
    the fit keeps the row-expanded form (w = 1 per row, argmin keyed on
    vec_id): no vector-keyed groupBy, no re-attach join. Both arms run
    the IDENTICAL iteration body — only the dvecs construction and the
    window key differ — and sum(val·w)/sum(w) with w = 1 folds the same
    addend multiset as the row-expanded avg, so the arms are
    value-identical (locked at sf0.01 in tests/test_r14_ops.py).
    Returns (vecs, dvecs, cents, assign_w, key) where ``key`` is the
    per-unit identity column: 'v' (contracted) or 'vec_id'
    (row-expanded) — consumers window/group on it.

    Residual float note (ADVICE r13): on the contracted arm the
    centroid mean sums val·w over distinct vectors where the
    row-expanded oracle sums val over rows — the same addend MULTISET
    only up to IEEE multiply-vs-repeated-add ulp (exact when w·val has
    <= 53 significant bits, i.e. always here: w <= 300 integral, val a
    float32-widened double with 24-bit mantissa, so w·val is exact and
    the multisets differ only in ADD ORDER — the absorption class the
    key always carried cross-engine, 6-sig-digit hashed after a round
    to 6dp). Verified green at sf0.001/0.01/1/3; the band is the same
    as every float mean in the registry, not a new divergence source."""
    vecs = _vecs(spark, sf_dir).localCheckpoint(eager=True)
    cents = (
        vecs.filter(F.col("vec_id") < k)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
        .localCheckpoint(eager=True)
    )
    if _use_contraction(spark, sf_dir, "embeddings"):
        key = "v"
        dvecs = (
            vecs.groupBy("v")
            .agg(F.count(F.lit(1)).alias("w"))
            .localCheckpoint(eager=True)
        )
    else:
        key = "vec_id"
        dvecs = vecs.select("vec_id", "v", F.lit(1).cast("long").alias("w"))
    base_cols = ["v", "w"] if key == "v" else ["vec_id", "v", "w"]
    assign_w = Window.partitionBy(key).orderBy(F.col("d").desc(), F.col("cid"))
    for _ in range(iters):
        assigned = (
            dvecs.crossJoin(broadcast(cents))
            .select(*base_cols, "cid", dot("v", "cv").alias("d"))
            .withColumn("rn", F.row_number().over(assign_w))
            .filter(F.col("rn") == 1)
            .select("v", "w", "cid")
        )
        cents = (
            assigned.select("cid", "w", F.posexplode("v").alias("idx", "val"))
            .groupBy("cid", "idx")
            .agg(
                (F.sum(F.col("val") * F.col("w")) / F.sum("w")).alias("m")
            )
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("idx", "m"))).alias("pairs"))
            .select(
                "cid", F.transform("pairs", lambda p: p.getField("m")).alias("cm")
            )
            # re-normalize so assignment-by-dot stays cosine assignment
            .withColumn(
                "norm",
                F.sqrt(
                    F.aggregate("cm", F.lit(0.0), lambda acc, x: acc + x * x)
                ),
            )
            .select(
                "cid", F.transform("cm", lambda x: x / F.col("norm")).alias("cv")
            )
            .localCheckpoint(eager=True)
        )
    return vecs, dvecs, cents, assign_w, key


@register(
    "ann_lsh",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    planes AS (SELECT vec_id - 8 AS pid, v AS pv FROM v
               WHERE vec_id BETWEEN 8 AND 13),
    sigb AS (
        SELECT a.vec_id,
               CAST(sum(CASE WHEN list_dot_product(a.v, p.pv) > 0
                             THEN (1::BIGINT << CAST(p.pid AS INTEGER))
                             ELSE 0 END) AS BIGINT) AS bucket
        FROM v a CROSS JOIN planes p GROUP BY a.vec_id),
    sig AS (SELECT s.vec_id, s.bucket, v.v FROM sigb s JOIN v USING (vec_id)),
    queries AS (SELECT vec_id AS query_id, v AS qv, bucket AS qb
                FROM sig WHERE vec_id <= 4),
    probes AS (
        SELECT query_id, qv, xor(qb, CAST(f AS BIGINT)) AS bucket
        FROM queries, unnest([0, 1, 2, 4, 8, 16, 32]) AS t(f))
    SELECT query_id, neighbor_id, score, rnk FROM (
        SELECT p.query_id, s.vec_id AS neighbor_id,
               round(list_dot_product(s.v, p.qv), 6) AS score,
               CAST(row_number() OVER (PARTITION BY p.query_id
                    ORDER BY round(list_dot_product(s.v, p.qv), 6) DESC,
                             s.vec_id) AS BIGINT) AS rnk
        FROM sig s JOIN probes p USING (bucket)
        WHERE s.vec_id <> p.query_id)
    WHERE rnk <= 5
    """,
)
def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (the other scale path besides IVF): every vector
    gets a 6-bit random-hyperplane signature (hyperplanes = corpus
    vectors 8..13, fixed, so the whole pipeline is deterministic); a
    query probes its own bucket plus all Hamming-1 neighbors (7 probes of
    64 buckets — ~11% of the corpus scanned per query at uniform fill).
    The fixed hyperplanes make it fully SQL-expressible: the oracle
    replays signatures (sign of the same left-folded dot), multi-probe
    flips, and the rounded-score ranking. Structure + recall additionally
    measured in tests/test_llm_ops.py.

    Scale: signature build is one broadcast pass; the probe join is an
    equi-join on bucket id — no distance computation ever leaves the
    probed buckets. More planes → smaller buckets; more probes → higher
    recall; at 100 TB both knobs come from the recall SLO.

    Honest finding on THIS corpus: embeddings are near-orthogonal (best
    neighbors at cos≈0.33), so hyperplane agreement between a query and
    its true neighbors barely beats random and Hamming-1 probing caps
    recall well below IVF's (ann_ivf hits 1.0 at the same scan budget).
    Hyperplane LSH earns its keep on high-similarity retrieval (near-dup
    at cos≥0.8); for low-similarity kNN prefer the IVF path.
    """
    n_planes = 6
    vecs = _vecs(spark, sf_dir)
    planes = (
        vecs.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 8 + n_planes))
        .select((F.col("vec_id") - 8).alias("pid"), F.col("v").alias("pv"))
    )
    sig = (
        vecs.crossJoin(broadcast(planes))
        .select(
            "vec_id",
            "v",
            # 2^pid as the bit value (Python-API shiftleft needs a literal
            # shift; pow is exact for exponents this small)
            F.when(dot("v", "pv") > 0, F.pow(F.lit(2.0), F.col("pid")).cast("long"))
            .otherwise(F.lit(0).cast("long"))
            .alias("bit"),
        )
        .groupBy("vec_id")
        .agg(F.first("v").alias("v"), F.sum("bit").cast("long").alias("bucket"))
    )
    queries = sig.filter(F.col("vec_id") <= 4).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("bucket").alias("qb")
    )
    # multi-probe: own bucket + all Hamming-1 flips
    probes = queries.select(
        "query_id",
        "qv",
        F.explode(
            F.array(
                F.col("qb"),
                *[
                    F.col("qb").bitwiseXOR(F.lit(1 << j)).cast("long")
                    for j in range(n_planes)
                ],
            )
        ).alias("bucket"),
    )
    rank_w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        sig.join(broadcast(probes), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot("v", "qv"), 6).alias("score"),
        )
        .withColumn("rnk", F.row_number().over(rank_w).cast("long"))
        .filter(F.col("rnk") <= 5)
    )


@register(
    "embedding_quantize",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    s AS (
        SELECT vec_id, v,
               127.0 / nullif(list_aggregate(list_transform(v, x -> abs(x)),
                                             'max'), 0) AS scale
        FROM v
    ),
    q AS (
        SELECT vec_id, v, scale,
               list_transform(v, x -> CAST(round(x * scale) AS INTEGER)) AS qv
        FROM s
    )
    SELECT vec_id,
           round(scale, 6) AS scale,
           array_to_string(qv, ',') AS q_csv,
           round(list_sum(list_transform(range(1, len(v) + 1),
                 i -> (v[i] - qv[i] / scale) * (v[i] - qv[i] / scale)))
                 / len(v), 6) AS mse
    FROM q
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the 4x
    storage/bandwidth cut every 100 TB vector corpus takes before ANN
    serving: per-vector scale = 127/max|x|, q = round(x*scale), plus the
    reconstruction MSE as the quality metric. All HOF expressions; the
    quantized vector is rendered CSV for the hash gate (both engines
    round() half-away-from-zero, and the corpus has no exact .5*scale
    boundary values). nullif guards the all-zero vector (scale -> NULL
    rather than a divide-by-zero), though unit-norm inputs can't hit it."""
    vecs = _vecs(spark, sf_dir)
    scale = F.lit(127.0) / F.nullif(
        F.array_max(F.transform("v", lambda x: F.abs(x))), F.lit(0.0)
    )
    q = F.transform("v", lambda x: F.round(x * F.col("scale")).cast("int"))
    err = lambda x, qx: (x - qx / F.col("scale")) * (x - qx / F.col("scale"))  # noqa: E731
    return (
        vecs.withColumn("scale", scale)
        .withColumn("qv", q)
        .select(
            "vec_id",
            F.round("scale", 6).alias("scale"),
            F.array_join(F.transform("qv", lambda x: x.cast("string")), ",").alias(
                "q_csv"
            ),
            F.round(
                F.aggregate(
                    F.zip_with("v", "qv", lambda x, qx: err(x, qx.cast("double"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / F.size("v"),
                6,
            ).alias("mse"),
        )
    )


@register(
    "sim_maxsim",
    oracle="""
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    qd AS (SELECT v AS qv, min(vec_id) AS rep, CAST(count(*) AS BIGINT) AS m
           FROM v WHERE label = 0 GROUP BY v),
    dd AS (SELECT DISTINCT label, v FROM v WHERE label <> 0),
    best AS (
        SELECT dd.label, qd.rep, qd.m,
               max(round(list_dot_product(dd.v, qd.qv), 6)) AS best_dot
        FROM dd CROSS JOIN qd
        GROUP BY dd.label, qd.rep, qd.m
    )
    SELECT label,
           CAST(sum(CAST(CAST(best_dot AS DECIMAL(18,6)) * m
                         AS DECIMAL(28,6))) AS DOUBLE) AS maxsim_score,
           CAST(sum(m) AS BIGINT) AS n_query_vecs
    FROM best
    GROUP BY label
    """,
)
def sim_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction retrieval (ColBERT-style MaxSim): treat each
    label's vectors as one document's token embeddings and label 0 as the
    query's; score(doc) = Σ over query vectors of the best dot against
    any doc vector. The query side is tiny and broadcast; the per-(doc,
    query-vector) max is a partial aggregate — the shape that scales
    MaxSim to a corpus: block by candidate set (here: label), never
    all-pairs. Dots round to 6dp BEFORE max/sum so tie-breaks and totals
    match the oracle exactly.

    r11 contraction (the content-cardinality doctrine, measured 19.9 s
    sf10 / 71.1 s sf30 before): the upscale clones BOTH sides — at sf30
    the query side is 59,700 rows but 199 DISTINCT vectors, so the
    crossJoin paid ~3e10 dot products for ~360k distinct ones. max over
    a label's doc rows ≡ max over its DISTINCT vectors (duplicates add
    nothing), and Σ over query ids of best ≡ Σ over distinct query
    vectors of multiplicity × best — so dots run on DISTINCT (label, v)
    × DISTINCT qv only, and the expansion is exact DECIMAL algebra
    (per-term product capped at DECIMAL(28,6): the CLAUDE.md
    shared-arithmetic rule — order-independent, bit-identical across
    engines; the old float sum of ~20k rounded doubles was
    order-dependent). n_query_vecs = Σ m. The distinct contractions are
    map-side partial aggregates; the exchange carries only distinct
    vectors."""
    vecs = _vecs(spark, sf_dir)
    qd = (
        vecs.filter(F.col("label") == 0)
        .groupBy("v")
        .agg(
            F.min("vec_id").alias("rep"),
            F.count(F.lit(1)).cast("long").alias("m"),
        )
        .select(F.col("v").alias("qv"), "rep", "m")
    )
    dd = vecs.filter(F.col("label") != 0).select("label", "v").distinct()
    best = (
        dd.crossJoin(broadcast(qd))
        .groupBy("label", "rep", "m")
        .agg(F.max(F.round(dot("v", "qv"), 6)).alias("best_dot"))
    )
    return best.groupBy("label").agg(
        F.sum(
            (F.col("best_dot").cast("decimal(18,6)") * F.col("m")).cast(
                "decimal(28,6)"
            )
        )
        .cast("double")
        .alias("maxsim_score"),
        F.sum("m").cast("long").alias("n_query_vecs"),
    )


def _pq_oracle(m_sub: int = 8, k_codes: int = 16) -> str:
    """PQ oracle: identical codebook derivation (sub-vectors of the first
    k_codes vectors), identical argmin encode, identical reconstruction
    error — fully deterministic, so no tolerance gymnastics needed."""
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    s AS (SELECT unnest(range(0, {m_sub})) AS m),
    cb AS (
        SELECT vec_id AS code, s.m AS m,
               list_slice(v.v, s.m * 8 + 1, s.m * 8 + 8) AS cw
        FROM v CROSS JOIN s WHERE vec_id < {k_codes}),
    d AS (
        SELECT a.vec_id, s.m, c.code,
               list_sum(list_transform(range(1, 9),
                   i -> (list_slice(a.v, s.m * 8 + 1, s.m * 8 + 8)[i] - c.cw[i])
                      * (list_slice(a.v, s.m * 8 + 1, s.m * 8 + 8)[i] - c.cw[i])
               )) AS sqd
        FROM v a CROSS JOIN s JOIN cb c ON c.m = s.m),
    enc AS (
        SELECT vec_id, m, code, sqd FROM (
            SELECT vec_id, m, code, sqd,
                   row_number() OVER (PARTITION BY vec_id, m
                        ORDER BY sqd, code) AS rn
            FROM d)
        WHERE rn = 1)
    SELECT vec_id,
           array_to_string(list(CAST(code AS VARCHAR) ORDER BY m), ',') AS codes,
           round(sum(sqd) / 64, 6) AS mse
    FROM enc GROUP BY vec_id
    """


@register("ann_pq", oracle=_pq_oracle())
def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (the IVF-PQ compression half): 64-d vectors
    split into M=8 subspaces of 8 dims; each sub-vector is encoded as
    the nearest of K=16 codewords (deterministic codebook: the
    sub-vectors of vec_id 0..15, the same fixed-seed trick ml_kmeans
    uses), so a vector compresses 64 floats → 8 small codes (32× at
    float32). Output per vector: the code string and reconstruction MSE.

    Scale: the codebook is K×M×8 doubles — broadcast everywhere, like
    ann_ivf's seed cells; encode is one broadcast join + per-(vector,
    subspace) argmin, embarrassingly parallel, no shuffle besides the
    final per-vector regroup. r13: encoding is a PURE function of the
    vector value and the corpus upscale clones vectors verbatim (sf30:
    600k rows, 2,000 distinct), so the ×M×K expansion and both
    shuffles run over DISTINCT vectors — exact by construction — and
    per-row output re-attaches by vector value (AQE broadcasts the
    content-bounded side; sf30 warm 23.1 → 4.9 s, value-hash green at
    sf0.01 and sf3). r14: the contraction is clone-factor-gated
    (see _use_contraction) — a mostly-distinct corpus encodes per row
    keyed on vec_id, skipping the distinct shuffle and the re-attach
    join. At 100 TB PQ codes are what you keep in memory while raw
    vectors stay in cold storage."""
    M, K, SUB = 8, 16, 8
    vecs = _vecs(spark, sf_dir)
    contracted = _use_contraction(spark, sf_dir, "embeddings")
    kc = "v" if contracted else "vec_id"
    dv = vecs.select("v").distinct() if contracted else vecs.select("vec_id", "v")
    ms = F.explode(F.sequence(F.lit(0), F.lit(M - 1))).alias("m")
    cb = (
        vecs.filter(F.col("vec_id") < K)
        .select(F.col("vec_id").alias("code"), "v", ms)
        .select(
            "code", "m",
            F.slice("v", F.col("m") * SUB + 1, SUB).alias("cw"),
        )
    )
    sv = (
        dv.select(kc, "v", ms)
        if not contracted
        else dv.select("v", ms)
    ).select(kc, "m", F.slice("v", F.col("m") * SUB + 1, SUB).alias("sv"))
    sqd = F.aggregate(
        F.zip_with("sv", "cw", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy(kc, "m").orderBy("sqd", "code")
    enc = (
        sv.join(broadcast(cb), "m")
        .select(kc, "m", "code", sqd.alias("sqd"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    codes = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", "code"))),
            lambda s: s.code.cast("string"),
        ),
        ",",
    )
    enc_d = enc.groupBy(kc).agg(
        codes.alias("codes"),
        F.round(F.sum("sqd") / 64, 6).alias("mse"),
    )
    if contracted:
        return vecs.join(enc_d, "v").select("vec_id", "codes", "mse")
    return enc_d.select("vec_id", "codes", "mse")


@register(
    "embedding_mrl_truncate",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 5),
    full_rank AS (
        SELECT query_id, vec_id, rn FROM (
            SELECT q.query_id, a.vec_id,
                   row_number() OVER (PARTITION BY q.query_id
                        ORDER BY list_dot_product(a.v, q.qv) DESC, a.vec_id) AS rn
            FROM v a CROSS JOIN q WHERE a.vec_id <> q.query_id)
        WHERE rn <= 5),
    trunc_rank AS (
        SELECT query_id, vec_id, rn FROM (
            SELECT q.query_id, a.vec_id,
                   row_number() OVER (PARTITION BY q.query_id
                        ORDER BY list_dot_product(list_slice(a.v, 1, 16),
                                                  list_slice(q.qv, 1, 16))
                           / (sqrt(list_sum(list_transform(list_slice(a.v, 1, 16),
                                  x -> x * x)))
                            * sqrt(list_sum(list_transform(list_slice(q.qv, 1, 16),
                                  x -> x * x)))) DESC, a.vec_id) AS rn
            FROM v a CROSS JOIN q WHERE a.vec_id <> q.query_id)
        WHERE rn <= 5)
    SELECT f.query_id, count(t.vec_id) AS overlap_at_5
    FROM full_rank f LEFT JOIN trunc_rank t
      ON t.query_id = f.query_id AND t.vec_id = f.vec_id
    GROUP BY f.query_id
    """,
)
def embedding_mrl_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension truncation: score retrieval with only
    the first 16 of 64 dims (renormalized cosine) and measure top-5
    overlap against full-dimension retrieval per query — the quality
    check you run before committing to truncated embeddings for the
    cheap first-stage ANN pass. Both rankings are exact and
    deterministic (score-desc, id tiebreak), so the oracle replays them
    bit-for-bit; at scale the truncated pass is the point: 4× less
    memory bandwidth on the scan everything else in this module fans
    out."""
    vecs = _vecs(spark, sf_dir)
    q = vecs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    pairs = vecs.crossJoin(broadcast(q)).filter(F.col("vec_id") != F.col("query_id"))
    w_full = Window.partitionBy("query_id").orderBy(
        F.col("s_full").desc(), F.col("vec_id")
    )
    full_rank = (
        pairs.select("query_id", "vec_id", dot("v", "qv").alias("s_full"))
        .withColumn("rn", F.row_number().over(w_full))
        .filter(F.col("rn") <= 5)
        .select("query_id", "vec_id")
    )
    def norm16(c):
        sliced = F.slice(c, 1, 16)
        return F.sqrt(
            F.aggregate(sliced, F.lit(0.0), lambda acc, x: acc + x * x)
        )
    s_trunc = F.aggregate(
        F.zip_with(F.slice("v", 1, 16), F.slice("qv", 1, 16), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) / (norm16(F.col("v")) * norm16(F.col("qv")))
    w_trunc = Window.partitionBy("query_id").orderBy(
        F.col("s_trunc").desc(), F.col("vec_id")
    )
    trunc_rank = (
        pairs.select("query_id", "vec_id", s_trunc.alias("s_trunc"))
        .withColumn("rn", F.row_number().over(w_trunc))
        .filter(F.col("rn") <= 5)
        .select(F.col("query_id").alias("tq"), F.col("vec_id").alias("tv"))
    )
    return (
        full_rank.join(
            trunc_rank,
            (F.col("query_id") == F.col("tq")) & (F.col("vec_id") == F.col("tv")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("tv").alias("overlap_at_5"))
    )


def _ivfpq_oracle() -> str:
    """Deterministic replay of the full IVF→PQ-ADC→exact-rerank stack:
    same seeds (vec_id<8 cells), same codebook (vec_id<16 sub-vectors),
    same probes (top-4 cells), same candidate ranking (ADC top-32, id
    tiebreaks), same exact top-5 re-rank."""
    return """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    seeds AS (SELECT vec_id AS cid, v AS sv FROM v WHERE vec_id < 8),
    assign AS (
        SELECT vec_id, v, cid FROM (
            SELECT a.vec_id, a.v, s.cid,
                   row_number() OVER (PARTITION BY a.vec_id
                        ORDER BY list_dot_product(a.v, s.sv) DESC, s.cid) AS rn
            FROM v a CROSS JOIN seeds s)
        WHERE rn = 1),
    sub AS (SELECT unnest(range(0, 8)) AS m),
    cb AS (
        SELECT vec_id AS code, sub.m AS m,
               list_slice(v.v, sub.m * 8 + 1, sub.m * 8 + 8) AS cw
        FROM v CROSS JOIN sub WHERE vec_id < 16),
    enc AS (
        SELECT vec_id, m, code FROM (
            SELECT a.vec_id, c.m, c.code,
                   row_number() OVER (PARTITION BY a.vec_id, c.m ORDER BY
                       list_sum(list_transform(range(1, 9),
                           i -> (list_slice(a.v, c.m * 8 + 1, c.m * 8 + 8)[i] - c.cw[i])
                              * (list_slice(a.v, c.m * 8 + 1, c.m * 8 + 8)[i] - c.cw[i]))),
                       c.code) AS rn
            FROM v a JOIN cb c ON true)
        WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 3),
    probes AS (
        SELECT query_id, cid FROM (
            SELECT q.query_id, s.cid,
                   row_number() OVER (PARTITION BY q.query_id
                        ORDER BY list_dot_product(q.qv, s.sv) DESC, s.cid) AS rn
            FROM q CROSS JOIN seeds s)
        WHERE rn <= 4),
    qcb AS (
        SELECT q.query_id, c.m, c.code,
               list_dot_product(list_slice(q.qv, c.m * 8 + 1, c.m * 8 + 8), c.cw)
                   AS contrib
        FROM q CROSS JOIN cb c),
    adc AS (
        SELECT p.query_id, a.vec_id, sum(t.contrib) AS adc_score
        FROM probes p
        JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id
        JOIN enc e ON e.vec_id = a.vec_id
        JOIN qcb t ON t.query_id = p.query_id AND t.m = e.m AND t.code = e.code
        GROUP BY p.query_id, a.vec_id),
    top20 AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                        ORDER BY adc_score DESC, vec_id) AS rn
            FROM adc)
        WHERE rn <= 32)
    SELECT query_id, neighbor_id, score, rnk FROM (
        SELECT t.query_id, t.vec_id AS neighbor_id,
               round(list_dot_product(v.v, q.qv), 6) AS score,
               CAST(row_number() OVER (PARTITION BY t.query_id
                    ORDER BY list_dot_product(v.v, q.qv) DESC, t.vec_id)
                    AS BIGINT) AS rnk
        FROM top20 t JOIN v ON v.vec_id = t.vec_id
                     JOIN q ON q.query_id = t.query_id)
    WHERE rnk <= 5
    """


@register("ann_ivfpq", oracle=_ivfpq_oracle())
def ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN stack end-to-end: IVF coarse quantizer (8
    fixed seed cells, nprobe=4) narrows the scan, PQ asymmetric distance
    (8×16 deterministic codebook; per-query lookup table of
    query-subvector · codeword contributions) ranks candidates WITHOUT
    touching raw vectors, and only the ADC top-32 get exact re-ranking
    to a final top-5. Every stage is deterministic (fixed seeds, id
    tiebreaks) so the oracle replays the whole stack.

    Scale: seeds and codebook broadcast (k·dim and 16·64 doubles); the
    ADC join touches codes (8 bytes/vector), not vectors — the memory
    shape that makes billion-vector search work; raw vectors are read
    only for the 32·|queries| re-rank rows. r13: the IVF cell
    assignment and the PQ encode are PURE functions of the vector
    value, so both run over DISTINCT vectors (the upscale clones
    embeddings verbatim — sf30 600k rows / 2,000 distinct) and expand
    back to vec_id rows by value before the per-identity ADC search,
    which keeps its row-level semantics (clones are distinct
    neighbors, vec_id tiebreaks). Exact by construction; sf30 warm
    31.6 → 7.3 s, value-hash green at sf0.01 and sf3. r14: the
    contraction is clone-factor-gated (see _use_contraction) — a
    mostly-distinct corpus assigns/encodes per row keyed on vec_id,
    skipping the distinct shuffle and both re-attach joins."""
    M, K, SUB, NPROBE = 8, 16, 8, 4
    vecs = _vecs(spark, sf_dir)
    contracted = _use_contraction(spark, sf_dir, "embeddings")  # r14 clone-factor gate
    kc = "v" if contracted else "vec_id"
    dv = vecs.select("v").distinct() if contracted else vecs.select("vec_id", "v")
    seeds = vecs.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("sv")
    )
    assign_w = Window.partitionBy(kc).orderBy(F.col("d").desc(), "cid")
    assigned_d = (
        dv.crossJoin(broadcast(seeds))
        .select(*dv.columns, "cid", dot("v", "sv").alias("d"))
        .withColumn("rn", F.row_number().over(assign_w))
        .filter(F.col("rn") == 1)
        .select(*dv.columns, "cid")
    )
    if contracted:
        assigned = vecs.join(assigned_d, "v").select("vec_id", "v", "cid")
    else:
        assigned = assigned_d.select("vec_id", "v", "cid")
    ms = F.explode(F.sequence(F.lit(0), F.lit(M - 1))).alias("m")
    cb = (
        vecs.filter(F.col("vec_id") < K)
        .select(F.col("vec_id").alias("code"), "v", ms)
        .select("code", "m", F.slice("v", F.col("m") * SUB + 1, SUB).alias("cw"))
    )
    sv = dv.select(*dv.columns, ms).select(
        kc, "m", F.slice("v", F.col("m") * SUB + 1, SUB).alias("sv")
    )
    sqd = F.aggregate(
        F.zip_with("sv", "cw", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    enc_w = Window.partitionBy(kc, "m").orderBy("sqd", "code")
    enc_d = (
        sv.join(broadcast(cb), "m")
        .select(kc, "m", "code", sqd.alias("sqd"))
        .withColumn("rn", F.row_number().over(enc_w))
        .filter(F.col("rn") == 1)
        .select(kc, "m", "code")
    )
    if contracted:
        enc = vecs.join(enc_d, "v").select("vec_id", "m", "code")
    else:
        enc = enc_d.select("vec_id", "m", "code")
    q = vecs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    probe_w = Window.partitionBy("query_id").orderBy(F.col("d").desc(), "cid")
    probes = (
        q.crossJoin(broadcast(seeds))
        .select("query_id", "cid", dot("qv", "sv").alias("d"))
        .withColumn("rn", F.row_number().over(probe_w))
        .filter(F.col("rn") <= NPROBE)
        .select("query_id", "cid")
    )
    qcb = q.crossJoin(broadcast(cb)).select(
        "query_id",
        "m",
        "code",
        F.aggregate(
            F.zip_with(
                F.slice("qv", F.col("m") * SUB + 1, SUB),
                F.col("cw"),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("contrib"),
    )
    adc = (
        broadcast(probes)
        .join(assigned, "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .join(enc, "vec_id")
        .join(broadcast(qcb), ["query_id", "m", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("contrib").alias("adc_score"))
    )
    top_w = Window.partitionBy("query_id").orderBy(F.col("adc_score").desc(), "vec_id")
    top20 = (
        adc.withColumn("rn", F.row_number().over(top_w))
        .filter(F.col("rn") <= 32)
        .select("query_id", "vec_id")
    )
    rerank_w = Window.partitionBy("query_id").orderBy(F.col("exact").desc(), "neighbor_id")
    return (
        top20.join(vecs, "vec_id")
        .join(broadcast(q), "query_id")
        .select("query_id", F.col("vec_id").alias("neighbor_id"), dot("v", "qv").alias("exact"))
        .withColumn("rnk", F.row_number().over(rerank_w).cast("long"))
        .filter(F.col("rnk") <= 5)
        .select("query_id", "neighbor_id", F.round("exact", 6).alias("score"), "rnk")
    )


def _pca_oracle(iters: int = 3, dim: int = 64) -> str:
    """Unrolled power-iteration oracle in long (vec_id, idx, xv) form:
    each Spark round (project -> accumulate -> renormalize) is one pair
    of CTEs. DuckDB 1.0: parallel unnests zip (idx, val)."""
    sql = f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    long AS (
        SELECT vec_id, unnest(range(1, len(v) + 1)) AS idx, unnest(v) AS val
        FROM v),
    mu AS (SELECT idx, avg(val) AS m FROM long GROUP BY idx),
    x AS (SELECT vec_id, long.idx, val - m AS xv
          FROM long JOIN mu ON mu.idx = long.idx),
    tot AS (SELECT sum(xv * xv) AS t FROM x),
    p0 AS (SELECT unnest(range(1, {dim} + 1)) AS idx, 0.125 AS pv)"""
    last = "p0"
    for i in range(1, iters + 1):
        sql += f""",
    d{i} AS (
        SELECT vec_id, sum(xv * pv) AS d
        FROM x JOIN {last} p ON p.idx = x.idx
        GROUP BY vec_id),
    w{i} AS (
        SELECT idx, sum(xv * d) AS w
        FROM x JOIN d{i} USING (vec_id)
        GROUP BY idx),
    p{i} AS (
        SELECT idx, w / sqrt(sum(w * w) OVER ()) AS pv,
               sqrt(sum(w * w) OVER ()) AS lam
        FROM w{i})"""
        last = f"p{i}"
    sql += f"""
    SELECT CAST(p.idx - 1 AS INTEGER) AS idx,
           round(CASE WHEN (SELECT pv FROM {last} WHERE idx = 1) >= 0
                      THEN pv ELSE -pv END, 6) AS loading,
           round(lam, 6) AS eigenvalue,
           round(lam / t, 6) AS explained_ratio
    FROM {last} p CROSS JOIN tot
    ORDER BY idx
    """
    return sql


@register("embedding_pca", oracle=_pca_oracle())
def embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding cloud by distributed
    power iteration (3 fixed rounds, fixed start vector = uniform unit
    1/8 per dim — exact in binary, so the whole computation is
    deterministic modulo sum-order ulp, which round(6) absorbs).

    Each round is two aggregate passes, never materializing the 64x64
    covariance: project d_i = x_i . p (per-row fold over the centered
    vector), accumulate w = sum_i x_i * d_i (posexplode -> per-dimension
    sum = one 64-group shuffle), renormalize on the 1-row result. The
    eigenvalue estimate is ||C p|| of the final round; explained_ratio
    divides by the total scatter sum ||x_i||^2. Sign is canonicalized on
    the first loading so both engines agree on the eigenvector's
    direction.

    Scale: O(n*d) work per round in two shuffles whose reduce sides are
    |vectors| and 64 rows; the mean, the iterate p, and the scatter are
    1-row broadcasts (declared BNLJ pattern). At 100 TB this is exactly
    how distributed PCA/LSA top-k factors are computed (block power /
    Lanczos iterations over X^T(Xv) products); more components = deflate
    and repeat."""
    dim, iters = 64, 3
    vecs = _vecs(spark, sf_dir)
    mu = (
        vecs.select(F.posexplode("v").alias("idx", "val"))
        .groupBy("idx")
        .agg(F.avg("val").alias("m"))
        .agg(F.array_sort(F.collect_list(F.struct("idx", "m"))).alias("ps"))
        .select(F.transform("ps", lambda p: p.getField("m")).alias("mu"))
    )
    x = (
        vecs.crossJoin(broadcast(mu))
        .select("vec_id", F.zip_with("v", "mu", lambda a, b: a - b).alias("x"))
        .localCheckpoint(eager=True)
    )
    tot = x.agg(
        F.sum(F.aggregate("x", F.lit(0.0), lambda acc, y: acc + y * y)).alias("t")
    )
    p = spark.range(1).select(
        F.array(*[F.lit(1.0 / 8.0)] * dim).alias("p"), F.lit(0.0).alias("lam")
    )
    for _ in range(iters):
        d = x.crossJoin(broadcast(p.select("p"))).select(
            "x", dot("x", "p").alias("d")
        )
        w = (
            d.select("d", F.posexplode("x").alias("idx", "xv"))
            .select("idx", (F.col("xv") * F.col("d")).alias("prod"))
            .groupBy("idx")
            .agg(F.sum("prod").alias("w"))
            .agg(F.array_sort(F.collect_list(F.struct("idx", "w"))).alias("ps"))
            .select(F.transform("ps", lambda q: q.getField("w")).alias("w"))
        )
        p = w.select(
            F.col("w"),
            F.sqrt(
                F.aggregate("w", F.lit(0.0), lambda acc, y: acc + y * y)
            ).alias("lam"),
        ).select(F.transform("w", lambda y: y / F.col("lam")).alias("p"), "lam")
        p = p.localCheckpoint(eager=True)
    sign = F.when(F.element_at("p", 1) >= 0, F.lit(1.0)).otherwise(F.lit(-1.0))
    return (
        p.crossJoin(broadcast(tot))
        .select(F.col("lam"), F.col("t"), (sign).alias("sgn"), F.posexplode("p").alias("idx", "pv"))
        .select(
            "idx",
            F.round(F.col("sgn") * F.col("pv"), 6).alias("loading"),
            F.round("lam", 6).alias("eigenvalue"),
            F.round(F.col("lam") / F.col("t"), 6).alias("explained_ratio"),
        )
        .coalesce(1)
        .sortWithinPartitions("idx")
    )


@register(
    "sim_recall_eval",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    seeds AS (SELECT vec_id AS cell_id, v AS sv FROM v WHERE vec_id <= 7),
    assigned AS (
        SELECT vec_id, v, cell_id FROM (
            SELECT a.vec_id, a.v, s.cell_id,
                   row_number() OVER (PARTITION BY a.vec_id
                        ORDER BY list_dot_product(a.v, s.sv) DESC, s.cell_id) AS rn
            FROM v a CROSS JOIN seeds s)
        WHERE rn = 1),
    queries AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id <= 4),
    probes AS (
        SELECT query_id, qv, cell_id FROM (
            SELECT q.query_id, q.qv, s.cell_id,
                   row_number() OVER (PARTITION BY q.query_id
                        ORDER BY list_dot_product(q.qv, s.sv) DESC, s.cell_id) AS rn
            FROM queries q CROSS JOIN seeds s)
        WHERE rn <= 4),
    ivf AS (
        SELECT query_id, neighbor_id FROM (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY p.query_id
                        ORDER BY round(list_dot_product(a.v, p.qv), 6) DESC,
                                 a.vec_id) AS rnk
            FROM assigned a JOIN probes p USING (cell_id)
            WHERE a.vec_id <> p.query_id)
        WHERE rnk <= 5),
    brute AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, a.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.query_id
                        ORDER BY round(list_dot_product(a.v, q.qv), 6) DESC,
                                 a.vec_id) AS rnk
            FROM v a CROSS JOIN queries q
            WHERE a.vec_id <> q.query_id)
        WHERE rnk <= 5)
    SELECT b.query_id,
           CAST(count(i.neighbor_id) AS BIGINT) AS n_hits,
           round(count(i.neighbor_id) / 5.0, 6) AS recall_at_5
    FROM brute b
    LEFT JOIN ivf i ON i.query_id = b.query_id
                   AND i.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    ORDER BY b.query_id
    """,
)
def sim_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN evaluation harness: recall@5 of the IVF index against exact
    brute-force ground truth, per query — the measurement every vector-
    search deployment runs before trusting an index, expressed as pure
    operator COMPOSITION (the ann_ivf DataFrame is consumed as a
    subplan, not re-implemented). Both sides rank on the 6dp-rounded
    score with vec_id tie-breaks, so hit sets are bit-deterministic and
    the oracle replays both pipelines in SQL.

    Scale: ground truth is the expensive side (full corpus per query) —
    that's inherent to recall evaluation and is why it runs on a SAMPLE
    of queries (5 here); the IVF side probes nprobe/cells of the corpus.
    Everything is broadcast-query cross products over the corpus scan:
    linear in corpus size per query, never corpus×corpus."""
    ivf = ann_ivf(spark, sf_dir).select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    vecs = _vecs(spark, sf_dir)
    queries = vecs.filter(F.col("vec_id") <= 4).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    rank_w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    brute = (
        vecs.crossJoin(broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot("v", "qv"), 6).alias("score"),
        )
        .withColumn("rnk", F.row_number().over(rank_w))
        .filter(F.col("rnk") <= 5)
        .select("query_id", "neighbor_id")
    )
    return (
        brute.join(ivf, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hits"),
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.lit(5.0), 6
            ).alias("recall_at_5"),
        )
        .coalesce(1)
        .sortWithinPartitions("query_id")
    )


@register(
    "sim_range_search",
    oracle="""
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    q AS (SELECT v AS qv FROM v WHERE vec_id = 0)
    SELECT v.label,
           CAST(count(*) AS BIGINT) AS n_in_range,
           CAST(min(v.vec_id) AS BIGINT) AS closest_min_id,
           round(max(round(list_dot_product(v.v, q.qv), 6)), 6) AS best_score
    FROM v, q
    WHERE round(list_dot_product(v.v, q.qv), 6) >= 0.2 AND v.vec_id <> 0
    GROUP BY v.label
    ORDER BY v.label
    """,
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (radius) similarity search — the dual of top-k: ALL vectors
    with cosine >= 0.2 to the query (vec_id 0), profiled per label. The
    API a dedup/retrieval pipeline uses when it needs everything above a
    similarity floor rather than a fixed k.

    Determinism: scores round to 6dp BEFORE the threshold compare and
    the max (round-before-compare, so an ulp straddle cannot flip
    membership between engines — embeddings are unit-norm so dot ==
    cosine, the same left-fold dot as sim_knn_bruteforce).

    Scale: brute-force scan + broadcast 1-row query (declared BNLJ
    pattern), aggregating to |labels| rows — no global sort at all,
    unlike top-k. The IVF/LSH keys are the sub-linear variants of the
    same predicate."""
    vecs = _vecs(spark, sf_dir)
    q = vecs.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    score = F.round(dot("v", "qv"), 6)
    return (
        vecs.crossJoin(broadcast(q))
        .select("vec_id", "label", score.alias("score"))
        .filter((F.col("score") >= 0.2) & (F.col("vec_id") != 0))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_in_range"),
            F.min("vec_id").cast("long").alias("closest_min_id"),
            F.round(F.max("score"), 6).alias("best_score"),
        )
        .coalesce(1)
        .sortWithinPartitions("label")
    )


def _mmr_core(k: int = 5) -> tuple[str, str]:
    """Unrolled Maximal-Marginal-Relevance greedy selection as
    pure-arithmetic CTE text, valid verbatim in BOTH Spark SQL and
    DuckDB (shared by sim_mmr_rerank and its oracle). Expects CTEs
    ``cands(vec_id, rel)`` (the candidate set with query relevance)
    and ``pairs(a, b, s)`` (pairwise candidate cosines, a <> b).
    Lambda literals are written as exact decimal strings ("0.7"/"0.3")
    — never computed as 1-lam, which would embed
    0.30000000000000004."""
    parts = [
        """
    sel0 AS (
        SELECT vec_id, rel AS score, 1 AS pick
        FROM cands ORDER BY rel DESC, vec_id LIMIT 1
    )"""
    ]
    for r in range(1, k):
        parts.append(f"""
    scored{r} AS (
        SELECT c.vec_id, c.rel, max(p.s) AS maxsim
        FROM cands c
        JOIN pairs p ON p.a = c.vec_id
        JOIN sel{r - 1} s ON p.b = s.vec_id
        WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{r - 1})
        GROUP BY c.vec_id, c.rel
    ),
    pick{r} AS (
        SELECT vec_id, 0.7*rel - 0.3*maxsim AS mmr
        FROM scored{r}
        ORDER BY mmr DESC, vec_id LIMIT 1
    ),
    sel{r} AS (
        SELECT vec_id, score, pick FROM sel{r - 1}
        UNION ALL
        SELECT vec_id, mmr, {r + 1} FROM pick{r}
    )""")
    return ",".join(parts), f"sel{k - 1}"


_MMR_CORE, _MMR_LAST = _mmr_core(5)

_MMR_FINAL = f"""SELECT CAST(pick AS BIGINT) AS pick, vec_id,
       round(score, 6) AS score
FROM {_MMR_LAST} ORDER BY pick"""


@register(
    "sim_mmr_rerank",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    q AS (
        SELECT v AS qv, sqrt(list_dot_product(v, v)) AS qn
        FROM v WHERE vec_id = 0
    ),
    cands AS (
        SELECT vec_id, v, rel FROM (
            SELECT d.vec_id, d.v,
                   list_dot_product(d.v, q.qv)
                   / (sqrt(list_dot_product(d.v, d.v)) * q.qn) AS rel
            FROM v d CROSS JOIN q
            WHERE d.vec_id <> 0
        ) s
        ORDER BY rel DESC, vec_id LIMIT 20
    ),
    pairs AS (
        SELECT a.vec_id AS a, b.vec_id AS b,
               list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))) AS s
        FROM cands a JOIN cands b ON a.vec_id <> b.vec_id
    ),{_MMR_CORE}
    {_MMR_FINAL}
    """,
)
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein, SIGIR
    1998): pick 5 results for query vec_id=0 that trade off relevance
    against redundancy — greedy argmax of 0.7*cos(q,d) -
    0.3*max_{s in selected} cos(d,s). THE diversification primitive of
    retrieval/RAG pipelines.

    Spark-first shape: the distributed pass is ONE broadcast-query
    cosine scan fused into a TakeOrderedAndProject top-20; the greedy
    selection is inherently sequential, so it runs as 5 unrolled
    CTE rounds over the localCheckpointed 20-row candidate set (the
    ml_logistic_irls discipline) — pairwise cosines exist only among
    the 20 candidates (380 pairs), never in the corpus. At 100 TB the
    candidate generation is the only data-scale work and the rerank
    cost is constant.

    Cross-engine exactness: dot products are left-fold exact
    (list_dot_product parity, working-notes rule), sqrt and division
    are IEEE-exactly-rounded (unlike exp), so every rel/sim/mmr scalar
    is bit-identical in both engines and the argmax picks (vec_id
    tie-break) replay deterministically; the shared-CTE core is
    generated once for both."""
    vecs = _vecs(spark, sf_dir)
    q = vecs.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("qv"),
        F.sqrt(dot("v", "v")).alias("qn"),
    )
    cands = (
        vecs.filter(F.col("vec_id") != 0)
        .crossJoin(broadcast(q))
        .select(
            "vec_id",
            "v",
            (dot("v", "qv") / (F.sqrt(dot("v", "v")) * F.col("qn"))).alias("rel"),
        )
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(20)
        .localCheckpoint(eager=True)
    )
    cands.select("vec_id", "rel").createOrReplaceTempView("__mmr_cands")
    a = cands.select(
        F.col("vec_id").alias("a"),
        F.col("v").alias("va"),
        F.sqrt(dot("v", "v")).alias("na"),
    )
    b = cands.select(
        F.col("vec_id").alias("b"),
        F.col("v").alias("vb"),
        F.sqrt(dot("v", "v")).alias("nb"),
    )
    pairs = (
        a.crossJoin(b)
        .filter(F.col("a") != F.col("b"))
        .select("a", "b", (dot("va", "vb") / (F.col("na") * F.col("nb"))).alias("s"))
    )
    pairs.createOrReplaceTempView("__mmr_pairs")
    return spark.sql(
        "WITH cands AS (SELECT * FROM __mmr_cands), "
        f"pairs AS (SELECT * FROM __mmr_pairs),{_MMR_CORE}\n{_MMR_FINAL}"
    )


def _silhouette_oracle(iters: int = 5, k: int = 8) -> str:
    return _kmeans_cte(iters, k) + f""",
    r AS (
        SELECT a.vec_id, c.cid,
               list_dot_product(a.v, c.cv) AS d,
               row_number() OVER (PARTITION BY a.vec_id
                    ORDER BY list_dot_product(a.v, c.cv) DESC, c.cid) AS rn
        FROM v a CROSS JOIN c{iters} c),
    own AS (SELECT vec_id, cid, d AS d1 FROM r WHERE rn = 1),
    alt AS (SELECT vec_id, d AS d2 FROM r WHERE rn = 2),
    si AS (
        SELECT o.cid,
               CAST(round(CASE WHEN 1.0 - a.d2 = 0.0 THEN 0.0
                               ELSE (o.d1 - a.d2) / (1.0 - a.d2) END, 9)
                    AS DECIMAL(12,9)) AS s
        FROM own o JOIN alt a ON o.vec_id = a.vec_id)
    SELECT cid AS cluster,
           CAST(count(*) AS BIGINT) AS n_vecs,
           floor(CAST(sum(s) AS DOUBLE) / count(*)
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_silhouette
    FROM si GROUP BY cid ORDER BY cid
    """


@register("ml_kmeans_silhouette", oracle=_silhouette_oracle())
def ml_kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality evaluation: the simplified (centroid-based)
    silhouette coefficient per cluster for the ml_kmeans fit — the
    linear-time variant (Hruschka et al.) of Rousseeuw's silhouette,
    where a = cosine distance to the OWN centroid and b = distance to
    the nearest OTHER centroid, s = (b - a)/max(a, b). Under argmax-dot
    assignment a <= b always, so s = (d1 - d2)/(1 - d2) in [0, 1];
    near-1 clusters are tight and well-separated, near-0 ones sit on a
    boundary. The exact silhouette is O(n^2); this is the form that
    scales — one centroid broadcast instead of an all-pairs join.

    Determinism: the fit replays the exact ml_kmeans rounds (shared
    _kmeans_fit / _kmeans_cte); per-vector s values are fold-dot
    arithmetic (bit-identical to DuckDB's list_dot_product per the
    working-notes rule), rounded 9dp and DECIMAL-accumulated so the
    per-cluster mean is order-independent.

    Scale: assignment+evaluation is ONE crossJoin(broadcast(k x dim
    centroids)) pass with a per-vector top-2 window — linear in the
    corpus, no pair space, no driver data."""
    vecs, dvecs, cents, assign_w, key = _kmeans_fit(spark, sf_dir)
    # r13: evaluate per DISTINCT vector and expand by multiplicity —
    # exact here (clones share s bit-for-bit, and the weighted DECIMAL
    # sum s·w equals the w-fold repeated DECIMAL sum exactly). r14: on
    # a mostly-distinct corpus the fit hands back the row-expanded arm
    # (key = vec_id, w = 1) and the same code evaluates per row.
    r = (
        dvecs.crossJoin(broadcast(cents))
        .select(key, "w", "cid", dot("v", "cv").alias("d"))
        .withColumn("rn", F.row_number().over(assign_w))
        .filter(F.col("rn") <= 2)
    )
    # fold the top-2 rows per vector in ONE aggregate that reuses the
    # window's partitioning — no self-join (an own-vs-alt equi-join
    # planned as an SMJ over two full passes of the same frame)
    pair = r.groupBy(key).agg(
        F.max("w").alias("w"),  # constant per distinct vector
        F.max(F.when(F.col("rn") == 1, F.col("cid"))).alias("cid"),
        F.max(F.when(F.col("rn") == 1, F.col("d"))).alias("d1"),
        F.max(F.when(F.col("rn") == 2, F.col("d"))).alias("d2"),
    )
    si = pair.select(
        "cid",
        "w",
        F.when(F.lit(1.0) - F.col("d2") == 0.0, F.lit(0.0))
        .otherwise((F.col("d1") - F.col("d2")) / (F.lit(1.0) - F.col("d2")))
        .alias("s_raw"),
    ).select(
        "cid", "w", F.round("s_raw", 9).cast("decimal(12,9)").alias("s")
    )
    return (
        si.groupBy("cid")
        .agg(
            F.sum("w").cast("long").alias("n_vecs"),
            # round6, not round(.,6): exact-DECIMAL sum / count is the
            # tie-capable ratio class (catalog.round6, driver r9 flake)
            round6(
                F.sum(F.col("s") * F.col("w")).cast("double")
                / F.sum("w")
            ).alias("mean_silhouette"),
        )
        .select(F.col("cid").alias("cluster"), "n_vecs", "mean_silhouette")
        .coalesce(1)
        .sortWithinPartitions("cluster")
    )
