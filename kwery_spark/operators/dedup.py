"""Deduplication operators for training-data pipelines (SURVEY.md §2.10).

Exact, MinHash-LSH, SimHash, and n-gram-Jaccard dedup over ``documents``,
plus embedding-cosine near-dup over ``embeddings``. Everything except
SimHash is pure relational/HOF Spark — no Python in the row path.

Scale notes (the whole point of these ops):
- exact dedup: one shuffle on the content hash.
- MinHash-LSH: the O(n²) pair space never materializes — candidates come
  from an equi-join on (band_id, band_hash), and only candidates are
  verified with exact Jaccard. Parameters (k=128, b=32, r=4) put detection
  probability at τ=0.9 near 1-4e-15, so verified LSH output ≡ the exact
  pair set w.h.p. — which is what makes the DuckDB oracle applicable.
- n-gram Jaccard: candidates from an equi-join on (lang, minhash band).
- embedding near-dup: blocked by ``label``, triangle-salted within it.
- substring spans: equi-join on the 16-gram itself, with a document-
  frequency cap bounding the per-gram bucket.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from kwery_spark.catalog import table
from kwery_spark.registry import register

@register(
    "dedup_exact",
    oracle=r"""
    SELECT
        sha256(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_hash,
        min(doc_id) AS keeper_doc_id,
        count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: canonicalize (lower/trim/squeeze whitespace) → sha256
    → keep the lowest doc_id per hash. One shuffle on the hash."""
    docs = table(spark, sf_dir, "documents")
    canon = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    return (
        docs.select(F.sha2(canon, 256).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# The near-duplicate pair pipeline shared by the pair keys below. Each key
# contracts its rows to DISTINCT contents first (the content-cardinality
# rule: the corpus upscale clones rows verbatim, so a pair search over raw
# rows grows with the square of the clone factor), finds pairs between
# contents, and then either expands them to member pairs (_fan_out,
# _same_content_pairs) or reports them per band from multiplicities
# (_band_report). ``keyed`` is the member map: one row per member with its
# content key ``ckey``. Member ids named ``<stem>_id`` pair up as
# ``<stem>_a`` / ``<stem>_b``.

# Encodes a normalized (doc_a, doc_b) pair into one BIGINT so both engines
# can take an exact lexicographic MIN over pairs: doc_a*2^32 + doc_b.
# Safe while doc_id < 2^31 (sf100 has ~60M docs; 2^31 headroom is 35x).
_PAIR_ENC = 4294967296


def _pair_names(id_col: str) -> tuple[str, str]:
    stem = id_col.removesuffix("_id")
    return f"{stem}_a", f"{stem}_b"


def _fan_out(content_pairs: DataFrame, keyed: DataFrame, id_col: str, measure: str) -> DataFrame:
    """Member pairs of cross-content pairs: each (ckey_a, ckey_b, measure)
    row expands to |A| x |B| member pairs at that measure, ids ordered
    least/greatest. Linear in the output."""
    a, b = _pair_names(id_col)
    ka = keyed.select(F.col("ckey").alias("ckey_a"), F.col(id_col).alias("id_a"))
    kb = keyed.select(F.col("ckey").alias("ckey_b"), F.col(id_col).alias("id_b"))
    return (
        content_pairs.join(ka, "ckey_a")
        .join(kb, "ckey_b")
        .select(
            F.least("id_a", "id_b").alias(a),
            F.greatest("id_a", "id_b").alias(b),
            measure,
        )
    )


def _same_content_pairs(members: DataFrame, id_col: str) -> DataFrame:
    """Member pairs inside one content (x.ckey = y.ckey AND x.id < y.id)
    of a (ckey, ``id_col``) frame, as (ckey, <stem>_a, <stem>_b). The
    caller attaches the measure: a content's similarity to itself."""
    a, b = _pair_names(id_col)
    return (
        members.alias("x")
        .join(
            members.alias("y"),
            (F.col("x.ckey") == F.col("y.ckey"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(
            F.col("x.ckey").alias("ckey"),
            F.col(f"x.{id_col}").alias(a),
            F.col(f"y.{id_col}").alias(b),
        )
    )


def _band_report(keyed: DataFrame, cross_units: DataFrame, band: str, same_band: int) -> DataFrame:
    """Bounded per-band report of a doc-pair set, computed from content
    multiplicities without materializing a doc pair: per ``band`` value,
    the EXACT doc-pair count, the number of content-level units behind
    it, and the lexicographically smallest doc pair.

    ``cross_units`` has one row per cross-content pair: (``band``, rep_a,
    rep_b, cnt_a, cnt_b), reps being their contents' min doc_id. It
    contributes cnt_a*cnt_b pairs with exemplar (least(rep), greatest(rep)),
    which IS the unit's lexicographic min pair: the smaller rep is the
    unit's global min doc and its smallest partner in the other content
    is that content's rep. Each multi-member content of ``keyed``
    (doc_id, ckey) contributes C(cnt,2) pairs at ``same_band`` with
    exemplar (rep, second-smallest member), the latter from a SORTED
    collect (determinism rule).

    Exactness: counts are integer algebra and the exemplar MIN runs over
    doc_a*2^32+doc_b encodings (exact BIGINTs, _PAIR_ENC)."""
    enc = F.lit(_PAIR_ENC).cast("long")
    cross = cross_units.select(
        F.col(band),
        (F.col("cnt_a") * F.col("cnt_b")).cast("long").alias("n_pairs"),
        (F.least("rep_a", "rep_b") * enc + F.greatest("rep_a", "rep_b")).alias("ex"),
    )
    within = (
        keyed.groupBy("ckey")
        .agg(
            F.min("doc_id").alias("rep"),
            F.count(F.lit(1)).alias("cnt"),
            # try_: singleton groups have no second member; they are
            # filtered on cnt below, but the agg projection evaluates first
            F.try_element_at(F.array_sort(F.collect_list("doc_id")), F.lit(2)).alias("d2"),
        )
        .filter(F.col("cnt") >= 2)
        .select(
            F.lit(same_band).cast("long").alias(band),
            F.expr("CAST(cnt * (cnt - 1) DIV 2 AS BIGINT)").alias("n_pairs"),
            (F.col("rep") * enc + F.col("d2")).alias("ex"),
        )
    )
    return (
        cross.unionByName(within)
        .groupBy(band)
        .agg(
            F.sum("n_pairs").cast("long").alias("n_pairs"),
            F.count(F.lit(1)).cast("long").alias("n_units"),
            F.min("ex").alias("exmin"),
        )
        .select(
            band,
            "n_pairs",
            "n_units",
            F.shiftright("exmin", 32).cast("long").alias("ex_doc_a"),
            F.col("exmin").bitwiseAND(F.lit(4294967295)).cast("long").alias("ex_doc_b"),
        )
        .coalesce(1)
        .sortWithinPartitions(band)
    )


def _cosine_pairs(spark: SparkSession, sf_dir: str, tau: float) -> DataFrame:
    """Embedding pairs (vec_a, vec_b, cosine) with rounded cosine >= ``tau``
    inside one ``label``, over distinct (label, vector) contents.

    Unit vectors, so cosine = dot; floats widen to double BEFORE the
    multiply so Spark and the oracle accumulate identically, and scores
    round to 6dp. Rep pairs come from a triangle-salted label block
    (S=8, similarity.triangle_salted_self_join), so a hot label's pair
    space spreads over S(S+1)/2 tasks instead of one reducer. The dot of
    any member pair equals the dot of the reps because the arrays are
    identical, so the expansion keeps the exact oracle values; members of
    one content pair at dot(v, v), computed rather than assumed 1.0 (the
    float self-dot of a unit vector is ~1 ± ulp and the oracle computes
    the same fold)."""
    from kwery_spark.operators.similarity import _vecs, dot, triangle_salted_self_join

    keyed = _vecs(spark, sf_dir).withColumn(
        "ckey", F.md5(F.to_json(F.struct("label", "v")))
    )
    groups = keyed.groupBy("label", "ckey").agg(
        F.min("vec_id").alias("rep"), F.count(F.lit(1)).alias("cnt")
    )
    reps = groups.join(
        keyed.select(F.col("vec_id").alias("rep"), "v"), "rep"
    ).select("label", "ckey", "rep", "v")
    rep_pairs = (
        triangle_salted_self_join(reps, "label", "rep", S=8)
        .select(
            F.col("a.ckey").alias("ckey_a"),
            F.col("b.ckey").alias("ckey_b"),
            F.round(dot("a.v", "b.v"), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= tau)
    )
    self_cos = groups.filter(F.col("cnt") >= 2).join(
        keyed.select(F.col("vec_id").alias("rep"), "v"), "rep"
    ).select(F.col("ckey").alias("sckey"), F.round(dot("v", "v"), 6).alias("cosine"))
    within = (
        _same_content_pairs(keyed.select("ckey", "vec_id"), "vec_id")
        .join(self_cos, F.col("ckey") == F.col("sckey"))
        .select("vec_a", "vec_b", "cosine")
        .filter(F.col("cosine") >= tau)
    )
    return _fan_out(rep_pairs, keyed, "vec_id", "cosine").unionByName(within)


def _minhash(tokens: str, k: int) -> Column:
    """k seeded MinHash values of the array<string> column ``tokens``:
    entry i is the min over the set of xxhash64(i, token). Evaluate it on
    a STORED set column behind a barrier, so it runs once per row."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.array_min(F.transform(F.col(tokens), lambda t: F.xxhash64(i, t))),
    )


def _bands(mh: str, n_bands: int, rows: int) -> Column:
    """One (band_id, band_hash) row per band of the MinHash column ``mh``:
    band j is xxhash64 of rows [rows*j+1 .. rows*j+rows]."""
    return F.posexplode(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_bands - 1)),
            lambda j: F.xxhash64(F.slice(mh, j * rows + 1, rows)),
        )
    ).alias("band_id", "band_hash")


_JACCARD_ORACLE = """
    WITH toks AS (
        SELECT doc_id, list_distinct(str_split(text, ' ')) AS t
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_intersect(a.t, b.t))
             / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))) AS jaccard
    FROM toks a JOIN toks b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.t, b.t))
             / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))) >= 0.9
"""


def _near_dup_content_graph(spark: SparkSession, sf_dir: str):
    """Content-level near-dup graph: documents grouped by identical token
    set (ckey, rep = min doc_id, cnt), and the verified rep-level
    Jaccard>=0.9 pair graph from 256-hash MinHash LSH (32 bands x 8
    rows). dedup_minhash, _minhash_doc_pairs and dedup_clusters consume
    it; the LSH pair space is bounded by DISTINCT contents, never raw row
    count. Returns (keyed, groups, rep_pairs)."""
    raw = table(spark, sf_dir, "documents").select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("toks")
    )
    # eager checkpoints, not an exchange barrier: ReuseExchange only
    # dedupes plan-identical subtrees, and keyed/reps feed NON-identical
    # aliases (groups, the rep-toks join, both expansion legs, both
    # exact-verify sides), each of which would re-run the scan and the
    # md5/token work
    keyed = raw.select(
        "doc_id",
        "toks",
        F.md5(F.concat_ws(" ", F.array_sort("toks"))).alias("ckey"),
    ).localCheckpoint(eager=True)
    groups = keyed.groupBy("ckey").agg(
        F.min("doc_id").alias("rep"), F.count(F.lit(1)).alias("cnt")
    )
    reps = groups.join(
        keyed.select(F.col("doc_id").alias("rep"), "toks"), "rep"
    ).select("rep", "ckey", "cnt", "toks").localCheckpoint(eager=True)
    hashed = reps.select("rep", "toks", _minhash("toks", 256).alias("mh")).localCheckpoint(
        eager=True
    )
    bands = hashed.select("rep", _bands("mh", 32, 8))
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.rep") < F.col("b.rep")),
        )
        .select(F.col("a.rep").alias("rep_a"), F.col("b.rep").alias("rep_b"))
        .distinct()
    )
    ta = reps.select(F.col("rep").alias("rep_a"), F.col("toks").alias("toks_a"))
    tb = reps.select(F.col("rep").alias("rep_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - inter
    rep_pairs = (
        cand.join(ta, "rep_a")
        .join(tb, "rep_b")
        .select("rep_a", "rep_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.9)
    )
    return keyed, groups, rep_pairs


def _minhash_doc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full doc-level near-dup pair expansion (Jaccard >= 0.9) of the
    content-level MinHash-LSH graph: cross-content pairs fan out |A|x|B|
    at their verified jaccard, same-content groups emit their C(k,2)
    internal pairs at jaccard 1.0. Linear in the true pair output, which
    under clone-heavy corpora itself grows quadratically in clone
    multiplicity, so the registered key is the bounded report
    (dedup_minhash). Tests consume this expansion to cross-check it."""
    keyed, groups, rep_pairs = _near_dup_content_graph(spark, sf_dir)
    rep2key = groups.select("rep", "ckey")
    content_pairs = rep_pairs.join(
        rep2key.select(F.col("rep").alias("rep_a"), F.col("ckey").alias("ckey_a")),
        "rep_a",
    ).join(
        rep2key.select(F.col("rep").alias("rep_b"), F.col("ckey").alias("ckey_b")),
        "rep_b",
    )
    within = _same_content_pairs(keyed.select("ckey", "doc_id"), "doc_id").select(
        "doc_a", "doc_b", F.lit(1.0).alias("jaccard")
    )
    return _fan_out(content_pairs, keyed, "doc_id", "jaccard").unionByName(within)


@register(
    "dedup_minhash",
    oracle=f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, list_distinct(str_split(text, ' ')) AS t
        FROM documents
    ),
    ck AS MATERIALIZED (
        SELECT doc_id, md5(array_to_string(list_sort(t), ' ')) AS ckey
        FROM toks
    ),
    pairs AS MATERIALIZED (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               len(list_intersect(a.t, b.t))
                 / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)))
                 AS jaccard
        FROM toks a JOIN toks b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.t, b.t))
                 / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)))
                 >= 0.9
    ),
    units AS (
        SELECT p.doc_a, p.doc_b, p.jaccard,
               CASE WHEN ca.ckey < cb.ckey THEN ca.ckey ELSE cb.ckey END
                   AS ck_lo,
               CASE WHEN ca.ckey < cb.ckey THEN cb.ckey ELSE ca.ckey END
                   AS ck_hi
        FROM pairs p
        JOIN ck ca ON ca.doc_id = p.doc_a
        JOIN ck cb ON cb.doc_id = p.doc_b
    )
    SELECT CAST(floor(jaccard * 1000) AS BIGINT) AS jband,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT ck_lo || ck_hi) AS BIGINT) AS n_units,
           CAST(min(doc_a * {_PAIR_ENC} + doc_b) >> 32 AS BIGINT)
               AS ex_doc_a,
           CAST(min(doc_a * {_PAIR_ENC} + doc_b) & 4294967295 AS BIGINT)
               AS ex_doc_b
    FROM units
    GROUP BY 1 ORDER BY 1
    """,
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup REPORT (Jaccard >= 0.9) over the content-level
    graph (_near_dup_content_graph): per jaccard milliband
    (floor(j*1000)), the EXACT expanded doc-pair count, the number of
    content-level units behind it, and the lexicographically smallest
    exemplar pair.

    The registered output is this bounded summary, not the materialized
    pair list: under clone-heavy corpora the true pair count grows
    quadratically in clone multiplicity, so the pair list is all output
    materialization. The linear deliverable is the cluster membership
    (dedup_clusters) and this report is the audit artifact. _band_report
    computes the counts from multiplicities, so the plan is bounded by
    DISTINCT content cardinality; the full expansion is
    _minhash_doc_pairs. Same-content groups land in band 1000, and cross
    units never do: jaccard=1 iff equal token sets iff same content key.

    Exactness: jband floors a double product of an identically-computed
    ratio of ints (bit-identical across engines); counts and exemplars
    are exact integers (_band_report)."""
    keyed, groups, rep_pairs = _near_dup_content_graph(spark, sf_dir)
    ga = groups.select(F.col("rep").alias("rep_a"), F.col("cnt").alias("cnt_a"))
    gb = groups.select(F.col("rep").alias("rep_b"), F.col("cnt").alias("cnt_b"))
    cross_units = (
        rep_pairs.join(ga, "rep_a")
        .join(gb, "rep_b")
        .withColumn("jband", F.floor(F.col("jaccard") * 1000).cast("long"))
    )
    return _band_report(keyed, cross_units, "jband", 1000)


def _simhash_content_graph(spark: SparkSession, sf_dir: str):
    """Shared content-level SimHash graph: keyed (doc_id, ckey,
    checkpointed), and rep_pairs — bucket-blocked content-representative
    pairs at Hamming <= 8 carrying (rep_a, rep_b, ckey_a, ckey_b,
    cnt_a, cnt_b, hamming). Design notes live on dedup_simhash below;
    the registered summary and the full expansion (_simhash_doc_pairs)
    consume this one build."""
    raw = table(spark, sf_dir, "documents").select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("toks")
    )
    keyed = raw.select(
        "doc_id", F.md5(F.concat_ws(" ", F.array_sort("toks"))).alias("ckey")
    ).localCheckpoint(eager=True)
    groups = keyed.groupBy("ckey").agg(
        F.min("doc_id").alias("rep"), F.count(F.lit(1)).alias("cnt")
    )
    docs = (
        groups.join(
            raw.select(F.col("doc_id").alias("rep"), "toks"), "rep"
        )
        .select(
            "rep",
            "ckey",
            "cnt",
            F.transform(
                F.col("toks"),
                lambda t: F.conv(
                    F.substring(F.md5(t.cast("binary")), 1, 15), 16, 10
                ).cast("long"),
            ).alias("th"),
        )
    )
    # Per-bit ±1 vote sums over token hashes, one codegen'd SUM per bit;
    # split() never yields an empty array, so explode drops no content.
    votes = (
        docs.select("rep", "ckey", "cnt", F.explode("th").alias("h"))
        .groupBy("rep", "ckey", "cnt")
        .agg(
            *[
                F.sum(
                    F.when(
                        F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1,
                        1,
                    ).otherwise(-1)
                ).alias(f"v{b}")
                for b in range(60)
            ]
        )
    )
    assembled = F.lit(0).cast("long")
    for b in range(60):
        assembled = assembled.bitwiseOR(
            F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    sig = votes.select(
        "rep", "ckey", "cnt", assembled.alias("simhash")
    ).localCheckpoint(eager=True)
    # prefix-bucketed pair search over content representatives
    bucketed = sig.withColumn("bucket", F.shiftrightunsigned("simhash", 44))
    rep_pairs = (
        bucketed.alias("a")
        .join(
            bucketed.alias("b"),
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.rep") < F.col("b.rep")),
        )
        .select(
            F.col("a.rep").alias("rep_a"),
            F.col("b.rep").alias("rep_b"),
            F.col("a.ckey").alias("ckey_a"),
            F.col("b.ckey").alias("ckey_b"),
            F.col("a.cnt").alias("cnt_a"),
            F.col("b.cnt").alias("cnt_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= 8)
    )
    return keyed, rep_pairs


def _simhash_doc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full doc-level SimHash pair expansion (Hamming <= 8): cross-content
    pairs fan out |A|x|B| at the rep Hamming distance, same-content
    members pair at Hamming 0. Linear in the true pair output, which
    under clone-heavy corpora is itself clone-quadratic, so the
    registered key is the bounded report (dedup_simhash). Tests consume
    this expansion to cross-check it."""
    keyed, rep_pairs = _simhash_content_graph(spark, sf_dir)
    within = _same_content_pairs(keyed.select("ckey", "doc_id"), "doc_id").select(
        "doc_a", "doc_b", F.lit(0).cast("long").alias("hamming")
    )
    return _fan_out(rep_pairs, keyed, "doc_id", "hamming").unionByName(within)


@register(
    "dedup_simhash",
    oracle=f"""
    WITH docs AS MATERIALIZED (
        SELECT doc_id, list_distinct(str_split(text, ' ')) AS t
        FROM documents),
    th AS MATERIALIZED (
        SELECT doc_id,
               md5(array_to_string(list_sort(t), ' ')) AS ckey,
               list_transform(t,
                   x -> CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT))
                   AS th
        FROM docs),
    sigs AS MATERIALIZED (
        SELECT doc_id, ckey,
               CAST(list_sum(list_transform(range(0, 60), b ->
                   CASE WHEN list_sum(list_transform(th, h ->
                            CASE WHEN ((h >> CAST(b AS INTEGER)) & 1) = 1
                                 THEN 1 ELSE -1 END)) > 0
                        THEN (1::BIGINT << CAST(b AS INTEGER)) ELSE 0 END))
                    AS BIGINT) AS simhash
        FROM th),
    b AS MATERIALIZED (
        SELECT doc_id, ckey, simhash, simhash >> 44 AS bucket FROM sigs),
    pairs AS MATERIALIZED (
        SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b2.simhash)) AS BIGINT)
                   AS hamming,
               CASE WHEN a.ckey < b2.ckey THEN a.ckey ELSE b2.ckey END
                   AS ck_lo,
               CASE WHEN a.ckey < b2.ckey THEN b2.ckey ELSE a.ckey END
                   AS ck_hi
        FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id
        WHERE bit_count(xor(a.simhash, b2.simhash)) <= 8)
    SELECT hamming,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT ck_lo || ck_hi) AS BIGINT) AS n_units,
           CAST(min(doc_a * {_PAIR_ENC} + doc_b) >> 32 AS BIGINT)
               AS ex_doc_a,
           CAST(min(doc_a * {_PAIR_ENC} + doc_b) & 4294967295 AS BIGINT)
               AS ex_doc_b
    FROM pairs GROUP BY 1 ORDER BY 1
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup REPORT: 60-bit signature = sign of per-bit sums of
    token hashes; near-dups = pairs with small Hamming distance — emitted
    per Hamming band (0..8) as the EXACT expanded doc-pair count, the
    number of content-level units behind it, and the lexicographically
    smallest exemplar pair.

    The registered output is this bounded summary, not the materialized
    pair list, for the reason given on dedup_minhash; the full expansion
    is _simhash_doc_pairs. _band_report computes the counts from
    multiplicities. Unlike the Jaccard case, cross units CAN land in
    band 0: distinct token sets may collide on all 60 signature bits, and
    band 0 sums both unit kinds, identically in the oracle. hamming is a
    bit_count of identical integer signatures, so it is exact.

    Pure expression pipeline (no UDF). The token hash is the md5 hex
    prefix (15 hex chars = 60 bits) parsed base-16 — an engine-portable
    choice (Spark conv() ≡ DuckDB hex cast), so the whole pipeline is
    value-checked against the oracle, unlike xxhash64 which only Spark
    implements. tests/test_dedup.py additionally asserts high-Jaccard
    pairs land at low Hamming distance.

    Scale: the signature depends only on the token SET, so it is
    computed once per DISTINCT content (the content-cardinality rule:
    the doc-level form's prefix buckets inflate with the upscale's
    content duplication); the pair search blocks on the top-16 signature
    bits (prefix bucketing) so the quadratic term stays per-bucket.
    The cost to avoid is the signature's RE-EVALUATION, not its math: the
    bucket self-join would inline the whole signature pipeline into both
    sides, and every expansion leg would recompute keyed's
    md5-of-sorted-tokens. Both are localCheckpoint(eager)'d — sig is one
    row per DISTINCT content, keyed is (doc_id, ckey) — so every
    downstream join runs on materialized small tables (the final plan
    has NO parquet scan, locked in test_rewrites). The fold is posexplode
    + 60 codegen'd conditional SUMs (whole-stage codegen), bit-identical
    to and about twice as fast as a nested interpreted HOF lambda; the
    groupBy(rep) reuses the rep-join's partitioning, so the explode adds
    no exchange."""
    keyed, rep_pairs = _simhash_content_graph(spark, sf_dir)
    return _band_report(keyed, rep_pairs, "hamming", 0)


@register(
    "dedup_ngram_jaccard",
    oracle="""
    WITH grams AS (
        SELECT doc_id, lang,
               list_distinct(list_transform(
                   range(1, len(str_split(text, ' '))),
                   i -> str_split(text, ' ')[i] || ' ' || str_split(text, ' ')[i+1]
               )) AS g
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_intersect(a.g, b.g))
             / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) AS bigram_jaccard
    FROM grams a JOIN grams b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.g, b.g))
             / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.75
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram Jaccard near-dup (order-sensitive n-grams catch
    reorderings that token-set Jaccard misses), blocked by
    (lang, minhash band) — NOT by lang alone, which turns quadratic
    inside a hot lang ("en" is ~half of any real corpus).

    Candidate generation is MinHash LSH over the bigram set: 64 seeded
    xxhash64 min-hashes → 32 bands × 2 rows → equi-join on
    (lang, band_id, band_hash); candidates are then verified with EXACT
    bigram Jaccard, so the oracle stays the full within-lang exact pair
    set: P(miss | j ≥ 0.75) ≤ (1 − 0.75²)³² ≈ 3.3e-12 — the banding only
    prunes, the verification decides. Within a band bucket the pair space
    is |bucket|², not |lang|²."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    # bigrams via zip_with(head, tail): one walk of both slices, where a
    # sequence+element_at HOF pays an O(n) traversal per interpreted
    # lambda call; slice(toks, 2, n-1) of a 1-token doc is empty,
    # preserving the no-bigram guard
    grams = F.array_distinct(
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    )
    # contract identical (lang, text) contents first (content-cardinality
    # rule); grams, signatures and verification all run per
    # representative and doc pairs expand linearly in the true output.
    keyed = docs.select(
        "doc_id", "lang", F.md5(F.concat_ws("\x1f", "lang", "text")).alias("ckey")
    ).localCheckpoint(eager=True)
    cgroups = keyed.groupBy("lang", "ckey").agg(
        F.min("doc_id").alias("rep"), F.count(F.lit(1)).alias("cnt")
    )
    # eager checkpoint, not a repartition("rep") exchange barrier:
    # ReuseExchange only dedupes plan-identical subtrees, and the
    # verify-join aliases below are NOT plan-identical — a checkpoint
    # materializes the gram build exactly once for every consumer
    g = (
        cgroups.join(
            docs.select(F.col("doc_id").alias("rep"), "text"), "rep"
        )
        .select("rep", "ckey", "lang", grams.alias("g"))
        .localCheckpoint(eager=True)
    )
    # one 64-long signature row per distinct content, from the STORED g
    hashed = g.select("rep", "lang", _minhash("g", 64).alias("mh")).localCheckpoint(
        eager=True
    )
    bands = hashed.select("rep", "lang", _bands("mh", 32, 2))
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.rep") < F.col("b.rep")),
        )
        .select(F.col("a.rep").alias("rep_a"), F.col("b.rep").alias("rep_b"))
        .distinct()
    )
    ga = g.select(F.col("rep").alias("rep_a"), F.col("ckey").alias("ckey_a"),
                  F.col("g").alias("g_a"))
    gb = g.select(F.col("rep").alias("rep_b"), F.col("ckey").alias("ckey_b"),
                  F.col("g").alias("g_b"))
    inter = F.size(F.array_intersect("g_a", "g_b"))
    union = F.size("g_a") + F.size("g_b") - inter
    rep_pairs = (
        cand.join(ga, "rep_a")
        .join(gb, "rep_b")
        .select(
            "ckey_a", "ckey_b", (inter / union).alias("bigram_jaccard")
        )
        .filter(F.col("bigram_jaccard") >= 0.75)
    )
    # identical-content member pairs: bigram_jaccard = |g|/|g| = exactly
    # 1.0 in both engines; contents with EMPTY gram sets are excluded —
    # 0/0 is undefined in the oracle's division too
    nonempty = g.filter(F.size("g") >= 1).select("ckey")
    within = _same_content_pairs(
        keyed.join(nonempty, "ckey").select("ckey", "doc_id"), "doc_id"
    ).select("doc_a", "doc_b", F.lit(1.0).alias("bigram_jaccard"))
    return _fan_out(rep_pairs, keyed, "doc_id", "bigram_jaccard").unionByName(within)


@register(
    "dedup_embedding",
    oracle="""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                  CAST(b.embedding AS DOUBLE[])), 6) AS cosine
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])), 6) >= 0.35
    """,
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine >= 0.35) inside a
    ``label`` block, over distinct vectors (_cosine_pairs: triangle
    salting, double widening, 6dp rounding, member expansion).

    Why salting and not (label, LSH bucket): at τ = 0.35 every
    qualifying pair in this corpus lies at cosine 0.35–0.48 (measured),
    i.e. hyperplane-collision probability p = 1 − θ/π ≈ 0.61–0.66 per
    signature bit, while non-qualifying same-label pairs sit near p ≈
    0.5. Any (r, b) amplification driving the miss rate to ~0 at
    p ≈ 0.61 — (1 − p^r)^b ≤ 1e-9 — admits p = 0.5 pairs with
    probability ≈ 1, so the "buckets" would contain the whole block:
    recall-lossless LSH pruning does not exist below the separable
    regime, and a lossy bucket would silently change the exact answer
    set the oracle checks. The honest scale levers for exact
    low-threshold pair mining are (a) this fragment-replicate
    decomposition of the block quadratic and (b) raising τ into the LSH
    regime (dedup_minhash at τ = 0.9 shows that path)."""
    return _cosine_pairs(spark, sf_dir, 0.35)


@register(
    "dedup_semantic",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    planes AS (SELECT vec_id - 8 AS pid, v AS pv FROM v
               WHERE vec_id BETWEEN 8 AND 15),
    sig AS (
        SELECT a.vec_id, CAST(sum(CASE WHEN list_dot_product(a.v, p.pv) > 0
                      THEN (1::BIGINT << CAST(p.pid AS INTEGER))
                      ELSE 0 END) AS BIGINT) AS bucket
        FROM v a CROSS JOIN planes p GROUP BY a.vec_id),
    d AS (
        SELECT doc_id, bucket,
               list_distinct(str_split(lower(text), ' ')) AS toks
        FROM documents JOIN sig ON doc_id = vec_id)
    SELECT doc_a, doc_b, containment FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(len(list_intersect(a.toks, b.toks)) * 1.0
                     / least(len(a.toks), len(b.toks)), 6) AS containment
        FROM d a JOIN d b ON a.bucket = b.bucket AND a.doc_id < b.doc_id)
    WHERE containment >= 0.8
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup pairs: EMBEDDING blocking +
    TOKEN-CONTAINMENT verify — the composition SemDeDup-style pipelines
    run at corpus scale. Candidates are document pairs whose embeddings
    share an 8-bit random-hyperplane signature bucket (planes = corpus
    vectors 8..15, fixed — the ann_lsh determinism trick, so the oracle
    replays the identical buckets); each candidate is verified by exact
    token-set containment |A∩B|/min(|A|,|B|) >= 0.8. The semantic block
    finds near-dups that exact/shingle hashing misses (paraphrases land
    in the same bucket), while the containment verify keeps the output a
    checkable exact predicate rather than a similarity guess.

    Scale: the pair space is bounded by DISTINCT (text, vector) content
    (md5-contracted reps, the content-cardinality rule: the upscale
    clones docs 10x, so an uncontracted bucket join inflates 100x);
    within-bucket rep pairs are 2^8-partitioned by construction; member
    expansion is linear in the true output. One broadcast (8 plane
    vectors), equi-joins only, no Python."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    # one materialization carries (doc_id, ckey, text, v): both the
    # member map (`keyed`) and the content reps derive from it, so the
    # join + md5-over-(text, vector) runs ONCE instead of once per
    # consumer of the joined lineage
    base = (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .select(
            "doc_id",
            "text",
            "v",
            F.md5(F.to_json(F.struct("text", "v"))).alias("ckey"),
        )
        .localCheckpoint(eager=True)
    )
    keyed = base.select("doc_id", "ckey")
    # ckey is the md5 of exactly (text, v), so every group member carries
    # identical text/v; min_by on the unique doc_id keeps the pick
    # order-independent even if that invariant ever drifts (the bare
    # first() the repo rules ban would not)
    reps = base.groupBy("ckey").agg(
        F.min_by("text", "doc_id").alias("text"),
        F.min_by("v", "doc_id").alias("v"),
    )
    planes = emb.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 16)).select(
        (F.col("vec_id") - 8).alias("pid"), F.col("v").alias("pv")
    )
    from kwery_spark.operators.similarity import dot

    rsig = (
        reps.crossJoin(F.broadcast(planes))
        .select(
            "ckey",
            "text",
            F.when(
                dot("v", "pv") > 0, F.pow(F.lit(2.0), F.col("pid")).cast("long")
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("bit"),
        )
        .groupBy("ckey")
        .agg(
            # all 8 per-plane rows of a ckey carry the identical text;
            # min() is fully order-independent
            F.min("text").alias("text"),
            F.sum("bit").cast("long").alias("bucket"),
        )
        .select(
            "ckey",
            "bucket",
            F.array_distinct(F.split(F.lower("text"), " ")).alias("toks"),
        )
        # consumed by both self-join sides — materialize once; bounded
        # by distinct content
        .localCheckpoint(eager=True)
    )
    a, b = rsig.alias("a"), rsig.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.ckey") < F.col("b.ckey")),
        )
        .select(
            F.col("a.ckey").alias("ckey_a"),
            F.col("b.ckey").alias("ckey_b"),
            F.round(
                F.size(F.array_intersect("a.toks", "b.toks"))
                / F.least(F.size("a.toks"), F.size("b.toks")),
                6,
            ).alias("containment"),
        )
        .filter(F.col("containment") >= 0.8)
    )
    # identical-content member pairs: same text and vector, so same
    # bucket and containment = |g∩g|/|g| = exactly 1.0 in both engines
    # (token sets are never empty: split of any string yields >= 1 token)
    within = _same_content_pairs(keyed, "doc_id").select(
        "doc_a", "doc_b", F.lit(1.0).alias("containment")
    )
    return _fan_out(cand, keyed, "doc_id", "containment").unionByName(within)


@register(
    "dedup_clusters",
    oracle="""
    WITH RECURSIVE pairs AS (
    """
    + _JACCARD_ORACLE
    + """
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach AS (
        SELECT node, node AS root FROM nodes
        UNION
        SELECT e.dst AS node, r.root
        FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc_id, CAST(min(root) AS BIGINT) AS component
    FROM reach GROUP BY node
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate clusters: connected components over the
    verified near-dup pair graph (Jaccard >= 0.9), labeling every doc
    with the minimum doc_id reachable from it — the canonical keeper.

    Iterative min-label propagation, run to FIXPOINT (not a fixed
    iteration count, so arbitrarily long dup chains still converge to the
    exact components the recursive-CTE oracle computes). Each round is
    one join + one aggregate, all executor-side; the only driver values
    are the per-round change counters. localCheckpoint truncates the
    iterative lineage — on a cluster this is checkpoint() to durable
    storage. Convergence is O(diameter) rounds; near-dup clusters are
    near-cliques, so 2-3 rounds in practice.
    """
    keyed, groups, rep_pairs = _near_dup_content_graph(spark, sf_dir)
    # CC runs on the CONTENT graph (one node per distinct token set, the
    # rep doc_id as its label), not the doc graph: identical-content
    # members are Jaccard-1 near-dup cliques whose edges carry no
    # component information beyond membership, so contracting them first
    # shrinks the sf1 edge set from 96.7M doc pairs to ~1M rep pairs
    # (r5 sweep: doc-level CC exhausted executor memory at sf1; the
    # contracted form converges in seconds). Docs inherit their
    # content's component afterwards; the component label (min reachable
    # rep) IS the min reachable doc_id because each rep is its content's
    # min member.
    pairs = rep_pairs.select(
        F.col("rep_a").alias("doc_a"), F.col("rep_b").alias("doc_b")
    )
    edges = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).toDF("src", "dst")
    multi = groups.filter(F.col("cnt") >= 2).select("rep")
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(multi.select(F.col("rep").alias("node")))
        .distinct()
    )
    labels = (
        nodes.withColumn("component", F.col("node")).localCheckpoint(eager=True)
    )
    edges = edges.localCheckpoint(eager=True)
    for _ in range(50):  # hard bound; fixpoint reached in O(diameter)
        neigh = (
            edges.join(labels, edges.src == labels.node)
            .groupBy("dst")
            .agg(F.min("component").alias("ncomp"))
        )
        updated = (
            labels.join(neigh, labels.node == neigh.dst, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("ncomp"), F.col("component"))
                ).alias("component"),
                (F.coalesce(F.col("ncomp"), F.col("component")) < F.col("component"))
                .cast("long")
                .alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        n_changed = updated.agg(F.sum("changed")).collect()[0][0] or 0
        labels = updated.select("node", "component")
        if n_changed == 0:
            break
    # expand: every member of a participating content gets its content's
    # component; reps of multi-member contents participate even without
    # cross-content edges (their internal clique is the component)
    rep_labels = labels.select(F.col("node").alias("rep"), "component")
    return (
        groups.join(rep_labels, "rep")
        .join(keyed.select("ckey", "doc_id"), "ckey")
        .select("doc_id", "component")
    )


@register(
    "dedup_keep_best",
    oracle=r"""
    WITH scored AS (
        SELECT doc_id, lang,
               md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS chash,
               CAST(len(list_distinct(str_split(text, ' '))) AS DOUBLE)
                   / len(str_split(text, ' ')) AS ttr,
               len(str_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    ranked AS (
        SELECT *, row_number() OVER (
                   PARTITION BY chash
                   ORDER BY round(ttr, 6) DESC, doc_id) AS rk,
               count(*) OVER (PARTITION BY chash) AS group_size
        FROM scored
    )
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           round(ttr, 6) AS quality,
           CAST(group_size AS BIGINT) AS n_duplicates
    FROM ranked WHERE rk = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-selection dedup: within each exact-duplicate group
    (canonical-text md5), keep the HIGHEST-QUALITY copy (type-token
    ratio, doc_id tiebreak) instead of the arbitrary lowest id — the
    keeper policy production curation uses, since near-identical copies
    can differ in truncation or boilerplate. Same single hash shuffle as
    min-id dedup (pipeline_curate); only the ranking key changes. Quality
    rounds to 6dp BEFORE ranking so both engines agree on near-tie
    ordering."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    canon = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    ttr = F.round(
        F.size(F.array_distinct(toks)).cast("double") / F.size(toks), 6
    )
    w = Window.partitionBy("chash").orderBy(F.col("quality").desc(), "doc_id")
    wc = Window.partitionBy("chash")
    return (
        docs.select(
            "doc_id",
            "lang",
            canon.alias("chash"),
            F.size(toks).cast("long").alias("n_tokens"),
            ttr.alias("quality"),
        )
        .withColumn("rk", F.row_number().over(w))
        .withColumn("n_duplicates", F.count(F.lit(1)).over(wc).cast("long"))
        .filter(F.col("rk") == 1)
        .select("doc_id", "lang", "n_tokens", "quality", "n_duplicates")
    )


@register(
    "dedup_substring_grams",
    oracle="""
    WITH t AS (
        SELECT doc_id, str_split(text, ' ') AS toks,
               len(str_split(text, ' ')) AS n
        FROM documents
    ),
    g AS (
        SELECT DISTINCT doc_id, g FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, n - 15 + 1),
                       i -> array_to_string(list_slice(toks, i, i + 15), ' '))) AS g
            FROM t WHERE n >= 16)
    ),
    df AS (SELECT g FROM g GROUP BY g HAVING count(*) BETWEEN 2 AND 32)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_spans
    FROM g a JOIN df USING (g) JOIN g b USING (g)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= 3
    """,
)
def dedup_substring_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication (the capability suffix-array dedup à
    la RefinedWeb/BigCode targets): documents sharing verbatim 16-token
    spans, found without ever forming a doc×doc pair space. Every doc
    explodes its distinct 16-grams; pairs come from an equi-join ON THE
    GRAM ITSELF, so the quadratic term is per-gram bucket — and the
    document-frequency cap (a gram must appear in 2..32 docs) both
    drops boilerplate that would explode the bucket AND is the standard
    suffix-dedup trick for exactly that reason. Pairs sharing ≥3 capped
    spans are substring-duplication candidates. At 100 TB: one explode,
    one DF-count shuffle, one equi-join on gram — no all-pairs step
    anywhere; the 32-doc cap bounds any bucket at C(32,2) pairs.

    Content contraction: gram document-frequency is counted over
    DISTINCT contents, not raw rows — a corpus upscale that copies every
    doc 100x inflates row-level df by 100 and pushes EVERY gram past the
    [2,32] cap, silently emptying the result. Distinct-content df
    measures true cross-document reuse (copies are dedup_exact's
    finding, not substring reuse), keeps the cap meaningful at any
    duplication factor, and coincides exactly with the oracle's
    row-level form at gate SF where contents are unique. Cross-content rep pairs expand |A|x|B| to doc pairs with
    the same shared-span count; identical-content pairs are not emitted
    (they share everything by definition — that is exact duplication,
    a different operator's output)."""
    docs = table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id", F.md5(F.col("text")).alias("ckey")
    )
    groups = keyed.groupBy("ckey").agg(F.min("doc_id").alias("rep"))
    reps = groups.join(
        docs.select(F.col("doc_id").alias("rep"), "text"), "rep"
    )
    toks = F.split("text", " ")
    n = F.size(toks)
    grams16 = F.when(
        n >= 16,
        F.transform(
            F.sequence(F.lit(1), n - 15),
            lambda i: F.array_join(F.slice(toks, i, 16), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = (
        reps.select("rep", "ckey", F.explode(grams16).alias("g"))
        .distinct()
    )
    capped = (
        g.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= 32))
        .select("g")
    )
    ga = g.join(capped, "g").select(
        F.col("rep").alias("rep_a"), F.col("ckey").alias("ckey_a"), "g"
    )
    gb = g.select(
        F.col("rep").alias("rep_b"), F.col("ckey").alias("ckey_b"), "g"
    )
    rep_pairs = (
        ga.join(gb, "g")
        .filter(F.col("rep_a") < F.col("rep_b"))
        .groupBy("ckey_a", "ckey_b")
        .agg(F.count(F.lit(1)).alias("n_shared_spans"))
        .filter(F.col("n_shared_spans") >= 3)
    )
    return _fan_out(rep_pairs, keyed, "doc_id", "n_shared_spans")


@register(
    "dedup_url_canonical",
    oracle="""
    WITH u AS (
        SELECT doc_id,
               CASE doc_id % 3
                   WHEN 0 THEN 'https://site-' || (doc_id % 7) || '.example.com/'
                               || lang || '/p/' || (doc_id % 50)
                   WHEN 1 THEN 'https://site-' || (doc_id % 7) || '.example.com/'
                               || lang || '/p/' || (doc_id % 50)
                               || '?utm_source=feed&utm_campaign=x'
                   ELSE 'https://SITE-' || (doc_id % 7) || '.EXAMPLE.COM/'
                               || lang || '/p/' || (doc_id % 50) || '/#frag'
               END AS url
        FROM documents
    )
    SELECT canonical_url,
           count(*) AS n_variants,
           min(doc_id) AS keeper_doc_id
    FROM (
        SELECT doc_id,
               rtrim(regexp_replace(regexp_replace(lower(url),
                     '#.*$', '', 'g'), '\\?utm[^#]*', '', 'g'), '/')
                   AS canonical_url
        FROM u)
    GROUP BY canonical_url
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the web-crawl pipeline step that runs
    BEFORE content dedup: synthesize three noisy variants per logical
    page (clean / utm-tracking query / uppercase host + fragment),
    canonicalize (lowercase, strip fragment, strip utm query, trim
    trailing slash), and collapse to one row per canonical URL with a
    min-id keeper. One projection + one hash shuffle on the canonical
    key — identical shape to dedup_exact, so the 100 TB posture is the
    same: scale is bounded by distinct-URL cardinality, not crawl size."""
    docs = table(spark, sf_dir, "documents")
    site = (F.col("doc_id") % 7).cast("string")
    page = (F.col("doc_id") % 50).cast("string")
    base = F.concat(
        F.lit("https://site-"), site, F.lit(".example.com/"),
        F.col("lang"), F.lit("/p/"), page,
    )
    url = (
        F.when(F.col("doc_id") % 3 == 0, base)
        .when(F.col("doc_id") % 3 == 1, F.concat(base, F.lit("?utm_source=feed&utm_campaign=x")))
        .otherwise(
            F.concat(
                F.lit("https://SITE-"), site, F.lit(".EXAMPLE.COM/"),
                F.col("lang"), F.lit("/p/"), page, F.lit("/#frag"),
            )
        )
    )
    canonical = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.lower(url), r"#.*$", ""), r"\?utm[^#]*", ""
        ),
        r"/+$",
        "",
    )
    return (
        docs.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


@register(
    "dedup_incremental",
    oracle=r"""
    WITH canon AS (
        SELECT doc_id,
               md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h,
               list_distinct(str_split(text, ' ')) AS t
        FROM documents
    ),
    existing AS (SELECT * FROM canon WHERE doc_id % 5 <> 0),
    batch AS (SELECT * FROM canon WHERE doc_id % 5 = 0),
    near AS (
        SELECT DISTINCT b.doc_id
        FROM batch b JOIN existing e
          ON len(list_intersect(b.t, e.t))
               / (len(b.t) + len(e.t) - len(list_intersect(b.t, e.t))) >= 0.9
    )
    SELECT b.doc_id,
           CASE WHEN b.h IN (SELECT h FROM existing) THEN 'exact_dup'
                WHEN near.doc_id IS NOT NULL THEN 'near_dup'
                ELSE 'kept' END AS verdict
    FROM batch b LEFT JOIN near ON near.doc_id = b.doc_id
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the production shape: a NEW BATCH (docs with
    doc_id % 5 == 0 — an SF-independent slice) is deduplicated against
    the EXISTING corpus (the other 80%) only, never within itself; batch docs duplicating each other both
    survive (they'll meet in the next compaction). Verdict per batch
    doc: exact_dup (canonical md5 seen before) beats near_dup (token
    Jaccard ≥ 0.9 vs any existing doc) beats kept.

    Near-dup candidates come from a minhash band join (64 hashes, 32
    bands × 2 rows) BETWEEN batch and existing — never a batch×existing
    product: P(miss | j ≥ 0.9) ≤ (1 − 0.9²)³² ≈ 1e-23, so the
    LSH+exact-verify pipeline equals the oracle's full pair scan. At
    100 TB the existing side's band table is a precomputed index you
    append to per batch — exactly how production MinHash indexes run."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))).alias("h"),
        F.array_distinct(F.split("text", " ")).alias("t"),
    )
    hashed = docs.select("doc_id", "h", "t", _minhash("t", 64).alias("mh")).repartition(
        "doc_id"
    )
    bands = hashed.select("doc_id", _bands("mh", 32, 2))
    b_bands = bands.filter(F.col("doc_id") % 5 == 0)
    e_bands = bands.filter(F.col("doc_id") % 5 != 0)
    cand = (
        b_bands.alias("b")
        .join(
            e_bands.alias("e"),
            (F.col("b.band_id") == F.col("e.band_id"))
            & (F.col("b.band_hash") == F.col("e.band_hash")),
        )
        .select(
            F.col("b.doc_id").alias("b_id"), F.col("e.doc_id").alias("e_id")
        )
        .distinct()
    )
    bt = hashed.select(F.col("doc_id").alias("b_id"), F.col("t").alias("t_b"))
    et = hashed.select(F.col("doc_id").alias("e_id"), F.col("t").alias("t_e"))
    inter = F.size(F.array_intersect("t_b", "t_e"))
    union = F.size("t_b") + F.size("t_e") - inter
    near = (
        cand.join(bt, "b_id")
        .join(et, "e_id")
        .filter((inter / union) >= 0.9)
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
        .withColumn("is_near", F.lit(True))
    )
    exact = (
        docs.filter(F.col("doc_id") % 5 != 0)
        .select("h")
        .distinct()
        .withColumn("is_exact", F.lit(True))
    )
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    return (
        batch.join(exact, "h", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("is_exact").isNotNull(), "exact_dup")
            .when(F.col("is_near").isNotNull(), "near_dup")
            .otherwise("kept")
            .alias("verdict"),
        )
    )


@register(
    "dedup_lsh_recall_eval",
    oracle="""
    WITH alltoks AS (
        SELECT doc_id, lang, list_distinct(str_split(text, ' ')) AS t,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                           doc_id) AS rk
        FROM documents
    ),
    toks AS (SELECT doc_id, lang, t FROM alltoks WHERE rk <= 1000),
    truth AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM toks a JOIN toks b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.t, b.t))
                / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))) >= 0.5
    ),
    mh AS (
        SELECT doc_id, s.range AS seed,
               min(CAST('0x' || substr(md5(CAST(s.range AS VARCHAR) || '#' || tok),
                                       1, 12) AS BIGINT)) AS m
        FROM toks, range(32) s, unnest(t) AS u(tok)
        GROUP BY doc_id, s.range
    ),
    bands AS (
        SELECT doc_id, seed // 4 AS band_id,
               md5(string_agg(CAST(m AS VARCHAR), '|' ORDER BY seed)) AS band_hash
        FROM mh GROUP BY doc_id, seed // 4
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.band_id = b.band_id
            AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    )
    SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
           CAST((SELECT count(*) FROM cand JOIN truth USING (doc_a, doc_b))
                AS BIGINT) AS n_detected,
           CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
           round((SELECT count(*) FROM cand JOIN truth USING (doc_a, doc_b))
                 * 1.0 / nullif((SELECT count(*) FROM truth), 0), 6) AS recall,
           round((SELECT count(*) FROM cand JOIN truth USING (doc_a, doc_b))
                 * 1.0 / nullif((SELECT count(*) FROM cand), 0), 6) AS precision
    """,
)
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH quality evaluation — the measurement half of a dedup
    deployment: an UNDERSIZED MinHash-LSH (8 bands x 4 rows, so real
    misses occur: P(detect | j=0.5) ≈ 0.40 per the banding formula)
    is scored against exact lang-blocked Jaccard>=0.5 ground truth,
    reporting candidate recall and precision. Complements dedup_minhash
    (whose 32x4 configuration is effectively exact at j>=0.9) by
    quantifying what a cheaper sketch trades away.

    Both engines replay the identical md5-derived min-hashes (48-bit
    hex prefixes), so the candidate sets are bit-identical and the
    recall/precision numbers value-hash match — no tolerance games.

    Scale: the LSH side is band-bucketed (linear); the exact ground
    truth is the quadratic part and exists only because an eval needs
    truth. The audit therefore runs on a deterministic md5-rank SAMPLE
    capped at 1000 docs per lang — exactly how production dedup recall
    audits are done (truth over everything is the thing LSH exists to
    avoid). The cap is non-binding at gate SF (600 docs/lang), so the
    oracle values there are the full-population ones; at sf1+ the pair
    space stays fixed at <=5 x C(1000,2) instead of growing
    quadratically (the unsampled form ground a single task >9 min at
    sf1). Truth pairs additionally spread via the triangle-salt
    decomposition so a lang block never lands on one reducer."""
    from kwery_spark.operators.similarity import triangle_salted_self_join

    alltoks = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.array_distinct(F.split("text", " ")).alias("t")
    )
    rk = F.row_number().over(
        Window.partitionBy("lang").orderBy(
            F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
        )
    )
    toks = (
        alltoks.withColumn("rk", rk).filter(F.col("rk") <= 1000).drop("rk")
    )
    inter = F.size(F.array_intersect("a.t", "b.t"))
    union = F.size("a.t") + F.size("b.t") - inter
    truth = (
        triangle_salted_self_join(toks, "lang", "doc_id", S=8)
        .filter(inter / union >= 0.5)
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
    )
    mh = F.transform(
        F.sequence(F.lit(0), F.lit(31)),
        lambda s: F.array_min(
            F.transform(
                F.col("t"),
                lambda tok: F.conv(
                    F.substring(
                        F.md5(F.concat(s.cast("string"), F.lit("#"), tok)), 1, 12
                    ),
                    16,
                    10,
                ).cast("bigint"),
            )
        ),
    )
    hashed = toks.select("doc_id", mh.alias("mh")).repartition("doc_id")
    bands = hashed.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(7)),
                lambda j: F.md5(
                    F.concat_ws(
                        "|",
                        F.transform(
                            F.slice("mh", j * 4 + 1, 4),
                            lambda x: x.cast("string"),
                        ),
                    )
                ),
            )
        ).alias("band_id", "band_hash"),
    )
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_det = cand.join(truth, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).alias("n_detected")
    )
    return (
        n_truth.join(F.broadcast(n_det))
        .join(F.broadcast(n_cand))
        .select(
            "n_truth",
            "n_detected",
            "n_candidates",
            F.round(
                F.col("n_detected") * 1.0 / F.nullif(F.col("n_truth"), F.lit(0)), 6
            ).alias("recall"),
            F.round(
                F.col("n_detected")
                * 1.0
                / F.nullif(F.col("n_candidates"), F.lit(0)),
                6,
            ).alias("precision"),
        )
    )


@register(
    "dedup_fuzzy_names",
    oracle="""
    WITH named AS (
        SELECT p_partkey, p_name,
               str_split(p_name, ' ')[-1] AS block
        FROM part
    ),
    pairs AS (
        SELECT a.block,
               a.p_partkey AS key_a, b.p_partkey AS key_b,
               levenshtein(a.p_name, b.p_name) AS dist
        FROM named a JOIN named b
          ON a.block = b.block AND a.p_partkey < b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) <= 4
    )
    SELECT block,
           CAST(count(*) AS BIGINT) AS n_fuzzy_pairs,
           CAST(min(dist) AS INTEGER) AS min_dist,
           CAST(max(dist) AS INTEGER) AS max_dist
    FROM pairs
    GROUP BY block
    ORDER BY block
    """,
)
def dedup_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity resolution on names: part names whose edit distance
    is <=4, BLOCKED on the name's last token (the noun) so the pair
    space is linear in block count instead of quadratic in the catalog —
    the standard blocking-key design from record-linkage practice
    (candidate pairs only form inside a block). Per block: fuzzy-pair
    count and the distance range.

    Determinism: unit-cost Levenshtein integers; per-block aggregates of
    integers; block key from a deterministic token split (Spark
    element_at(-1) == DuckDB list[-1]).

    Scale: the naive row-level blocked join is quadratic in ROW count —
    at sf1 (names replicated 10x by the corpus upscale) it ground one
    hot noun block in a single task for >9 minutes. The scale-correct
    form groups to DISTINCT (block, name) first and weights each
    name-pair by multiplicity: cross-name pairs contribute
    cnt_a * cnt_b row pairs at their one computed distance, same-name
    duplicates contribute C(cnt,2) pairs at distance 0. The Levenshtein
    pair space is then bounded by the distinct-name vocabulary —
    IDENTICAL work at sf0.01 and sf100 — while the output still counts
    row-level pairs exactly like the oracle's plain quadratic
    (verified: same values at gate SF, sf1 runs in ~2 s vs the hang).
    This is the group-identical-values-first trick every record-linkage
    engine applies before distance computation."""
    named = table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.element_at(F.split("p_name", " "), -1).alias("block"),
    )
    names = named.groupBy("block", "p_name").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    a = names.alias("a")
    b = names.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    cross = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .select(
            F.col("a.block").alias("block"),
            dist.alias("dist"),
            (F.col("a.cnt") * F.col("b.cnt")).alias("n_pairs"),
        )
        .filter(F.col("dist") <= 4)
    )
    within = names.filter(F.col("cnt") >= 2).select(
        "block",
        F.lit(0).alias("dist"),
        (F.col("cnt") * (F.col("cnt") - 1) / 2).cast("long").alias("n_pairs"),
    )
    pairs = cross.unionByName(within)
    return (
        pairs.groupBy("block")
        .agg(
            F.sum("n_pairs").cast("long").alias("n_fuzzy_pairs"),
            F.min("dist").cast("int").alias("min_dist"),
            F.max("dist").cast("int").alias("max_dist"),
        )
        .coalesce(1)
        .sortWithinPartitions("block")
    )


@register(
    "dedup_boilerplate_segments",
    oracle="""
    WITH d AS (
        SELECT lang, md5(text) AS chash, text
        FROM documents
    ),
    contents AS (
        SELECT lang, chash, min(text) AS text, count(*) AS copies
        FROM d GROUP BY lang, chash
    ),
    c2 AS (
        SELECT lang, chash, copies,
               str_split(text, ' ') AS toks,
               len(str_split(text, ' ')) AS n
        FROM contents
    ),
    seg AS (
        SELECT lang, chash,
               unnest(list_transform(range(1, n - 6, 8),
                      s -> md5(array_to_string(list_slice(toks, s, s + 7), ' '))))
                   AS seg_hash
        FROM c2 WHERE n >= 8
    ),
    df AS (
        SELECT lang, seg_hash, count(DISTINCT chash) AS ncontent
        FROM seg GROUP BY lang, seg_hash
    ),
    occ AS (
        SELECT s.lang, s.chash,
               count(*) AS n_seg,
               count(*) FILTER (WHERE f.ncontent >= 3) AS n_boiler
        FROM seg s JOIN df f
          ON s.lang = f.lang AND s.seg_hash = f.seg_hash
        GROUP BY 1, 2
    )
    SELECT c2.lang,
           CAST(sum(c2.copies) AS BIGINT) AS n_docs,
           CAST(sum(coalesce(o.n_seg, 0) * c2.copies) AS BIGINT) AS n_segments,
           CAST(sum(coalesce(o.n_boiler, 0) * c2.copies) AS BIGINT)
               AS n_boiler_segments,
           round(CAST(sum(coalesce(o.n_boiler, 0) * c2.copies) AS DOUBLE)
                 / nullif(sum(coalesce(o.n_seg, 0) * c2.copies), 0), 6)
               AS boiler_share,
           CAST(sum((c2.n - 8 * coalesce(o.n_boiler, 0)) * c2.copies) AS BIGINT)
               AS tokens_kept
    FROM c2 LEFT JOIN occ o ON o.lang = c2.lang AND o.chash = c2.chash
    GROUP BY 1
    ORDER BY 1
    """,
)
def dedup_boilerplate_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-segment boilerplate accounting (the C4/RefinedWeb
    "dedupe repeated lines" transformation, adapted to this corpus's
    unpunctuated text): each document is cut into non-overlapping
    8-token segments; a segment whose normalized hash appears in >= 3
    DISTINCT contents of the same language is boilerplate (nav bars,
    license headers, templated intros), and the per-language rollup
    reports how many segments/tokens a removal pass would keep. This is
    the transform-side complement of dedup_substring_grams (which finds
    document PAIRS sharing spans; this one quantifies the removable
    mass without ever forming pairs).

    Scale: content-contracted end to end (the r5 content-cardinality
    rule) — segments explode over DISTINCT (lang, content), document
    frequency counts distinct contents, and raw-document weights
    re-enter only as the `copies` multiplier in the final bounded
    per-lang rollup, so a 100x-duplicated corpus does 1x the segment
    work. Shuffles: the content contraction, the (lang, seg_hash)
    df aggregate, one equi-join back on (lang, seg_hash) — linear,
    no pair space anywhere. Determinism: integer counts, one division
    rounded to 6dp."""
    docs = table(spark, sf_dir, "documents").select("lang", "text")
    keyed = docs.select("lang", F.md5("text").alias("chash"), "text")
    contents = keyed.groupBy("lang", "chash").agg(
        F.count(F.lit(1)).alias("copies"),
        # all texts within a chash group are identical; min() is the
        # deterministic way to carry one through the aggregate
        F.min("text").alias("text"),
    )
    toks = F.split("text", " ")
    n = F.size(toks)
    c2 = contents.select("lang", "chash", "copies", toks.alias("toks"), n.alias("n"))
    # sequence(1, n-7, 8) with n < 8 would generate a DESCENDING range
    # (working-notes sequence guard) — emit no segments instead
    seg_hashes = F.when(
        F.col("n") >= 8,
        F.transform(
            F.sequence(F.lit(1), F.col("n") - 7, F.lit(8)),
            lambda s: F.md5(F.array_join(F.slice("toks", s, 8), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    seg = c2.select(
        "lang", "chash", F.explode(seg_hashes).alias("seg_hash")
    )
    df_counts = (
        seg.distinct()
        .groupBy("lang", "seg_hash")
        .agg(F.count(F.lit(1)).alias("ncontent"))
    )
    occ = (
        seg.join(df_counts, ["lang", "seg_hash"])
        .groupBy("lang", "chash")
        .agg(
            F.count(F.lit(1)).alias("n_seg"),
            F.count(F.when(F.col("ncontent") >= 3, 1)).alias("n_boiler"),
        )
    )
    boiler_w = F.coalesce(F.col("n_boiler"), F.lit(0)) * F.col("copies")
    seg_w = F.coalesce(F.col("n_seg"), F.lit(0)) * F.col("copies")
    return (
        c2.join(occ, ["lang", "chash"], "left")
        .groupBy("lang")
        .agg(
            F.sum("copies").cast("long").alias("n_docs"),
            F.sum(seg_w).cast("long").alias("n_segments"),
            F.sum(boiler_w).cast("long").alias("n_boiler_segments"),
            F.round(
                F.sum(boiler_w).cast("double")
                / F.nullif(F.sum(seg_w), F.lit(0)),
                6,
            ).alias("boiler_share"),
            F.sum(
                (F.col("n") - 8 * F.coalesce(F.col("n_boiler"), F.lit(0)))
                * F.col("copies")
            )
            .cast("long")
            .alias("tokens_kept"),
        )
        .coalesce(1)
        .sortWithinPartitions("lang")
    )
