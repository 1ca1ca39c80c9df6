"""Near-duplicate family (kwery_spark/operators/dedup.py): the shared pair
pipeline against a brute-force expansion on a hand-built frame, the
banded reports against the full expansions they summarize, and the
invariants the oracle gate cannot pin down (LSH verification, SimHash
vs Jaccard agreement, cluster consistency, semantic blocking).
Everything is deterministic (seeded hashes, fixed corpus), so the
assertions are exact bounds, not statistics."""

from __future__ import annotations

import collections
import itertools
import math

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from kwery_spark.operators import dedup
from kwery_spark.registry import QUERIES, load_all

load_all()


def test_shared_pair_functions_match_brute_force(spark):
    """_fan_out, _same_content_pairs and _band_report on three contents
    of multiplicity 1, 2 and 3 and two cross-content pairs, against a
    Python expansion. The cross pair a-c lands in the same band as the
    same-content pairs (the SimHash band-0 case), so that band sums both
    unit kinds, two of which hold 3 pairs each."""
    members = {"a": [5], "b": [2, 7], "c": [1, 4, 9]}
    cross = [("a", "c", 0), ("b", "c", 3)]  # (ckey_a, ckey_b, band)
    same_band = 0
    keyed = spark.createDataFrame(
        [(d, ck) for ck, ds in members.items() for d in ds], "doc_id long, ckey string"
    )
    # (band, doc pair, content unit) of every member pair
    cross_pairs = [
        (band, (min(x, y), max(x, y)), (ca, cb))
        for ca, cb, band in cross
        for x in members[ca]
        for y in members[cb]
    ]
    same_pairs = [
        (same_band, (x, y), (ck, ck))
        for ck, ds in members.items()
        for x, y in itertools.combinations(sorted(ds), 2)
    ]

    content_pairs = spark.createDataFrame(cross, "ckey_a string, ckey_b string, hamming long")
    got = dedup._fan_out(content_pairs, keyed, "doc_id", "hamming")
    assert got.columns == ["doc_a", "doc_b", "hamming"]
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        (*pair, band) for band, pair, _ in cross_pairs
    )

    got = dedup._same_content_pairs(keyed.select("ckey", "doc_id"), "doc_id")
    assert got.columns == ["ckey", "doc_a", "doc_b"]
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        (unit[0], *pair) for _, pair, unit in same_pairs
    )

    want: dict[int, list] = {}
    for band, pair, unit in cross_pairs + same_pairs:
        ent = want.setdefault(band, [0, set(), pair])
        ent[0] += 1
        ent[1].add(unit)
        ent[2] = min(ent[2], pair)
    rep = {ck: min(ds) for ck, ds in members.items()}
    cross_units = spark.createDataFrame(
        [(band, rep[ca], rep[cb], len(members[ca]), len(members[cb])) for ca, cb, band in cross],
        "hamming long, rep_a long, rep_b long, cnt_a long, cnt_b long",
    )
    got = dedup._band_report(keyed, cross_units, "hamming", same_band).collect()
    assert [r.hamming for r in got] == sorted(want)
    for r in got:
        n_pairs, units, ex = want[r.hamming]
        assert (r.n_pairs, r.n_units, (r.ex_doc_a, r.ex_doc_b)) == (n_pairs, len(units), ex), r


def test_minhash_pairs_all_verified(spark, sf_dir):
    rows = dedup._minhash_doc_pairs(spark, sf_dir).collect()
    assert len(rows) > 5000  # corpus has built-in near-dups
    assert all(r.jaccard >= 0.9 for r in rows)
    assert all(r.doc_a < r.doc_b for r in rows)


# registered report -> (its full expansion, band column, band of one pair)
_REPORTS = {
    "dedup_minhash": (dedup._minhash_doc_pairs, "jband", lambda p: math.floor(p.jaccard * 1000)),
    "dedup_simhash": (dedup._simhash_doc_pairs, "hamming", lambda p: p.hamming),
}


@pytest.mark.parametrize("key", sorted(_REPORTS))
def test_summary_matches_expansion(spark, sf_dir, key):
    """The registered banded report must agree with the materialized
    doc-pair expansion band by band: pair counts computed from
    multiplicities, the lexicographically smallest exemplar, and n_units
    — the distinct content-pair count, re-derived here from the token
    sets (the oracle's count(DISTINCT ck_lo||ck_hi); the Spark side
    counts the rows of the union'd unit frames, so it needs its own
    cross-check)."""
    expansion, band_col, band_of = _REPORTS[key]
    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    content = {
        d: frozenset(t.split(" "))
        for d, t in zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist())
    }
    want: dict[int, list] = {}
    for p in expansion(spark, sf_dir).collect():
        ent = want.setdefault(band_of(p), [0, (1 << 62, 1 << 62), set()])
        ent[0] += 1
        ent[1] = min(ent[1], (p.doc_a, p.doc_b))
        ent[2].add(frozenset((content[p.doc_a], content[p.doc_b])))
    got = QUERIES[key](spark, sf_dir).collect()
    assert {r[band_col] for r in got} == set(want)
    for r in got:
        n_pairs, ex, units = want[r[band_col]]
        assert r.n_pairs == n_pairs, r
        assert (r.ex_doc_a, r.ex_doc_b) == ex, r
        assert r.n_units == len(units), r


def test_minhash_summary_counts_are_exact_longs(spark, sf_dir):
    """The banded report's counts are exact integer algebra (never float
    round-trips) and every band is inside the verify threshold."""
    rows = QUERIES["dedup_minhash"](spark, sf_dir).collect()
    assert rows, "corpus has built-in near-dups"
    for r in rows:
        assert isinstance(r.n_pairs, int) and r.n_pairs >= 1
        assert isinstance(r.n_units, int) and 1 <= r.n_units <= r.n_pairs
        assert 900 <= r.jband <= 1000
        assert r.ex_doc_a < r.ex_doc_b


def test_simhash_agrees_with_jaccard(spark, sf_dir):
    """Low-Hamming SimHash pairs should overwhelmingly be real near-dups:
    a majority of them must appear in the exact Jaccard>=0.9 pair set."""
    jac = {(r.doc_a, r.doc_b) for r in dedup._minhash_doc_pairs(spark, sf_dir).collect()}
    sim = {(r.doc_a, r.doc_b) for r in dedup._simhash_doc_pairs(spark, sf_dir).collect()}
    assert len(sim) > 1000
    assert len(jac & sim) / len(sim) > 0.4


def test_dedup_clusters_are_consistent(spark, sf_dir):
    """Every cluster member must reach its component root through the
    pair graph; component = min member; all pair endpoints clustered."""
    pairs = dedup._minhash_doc_pairs(spark, sf_dir).collect()
    comp = {r.doc_id: r.component for r in QUERIES["dedup_clusters"](spark, sf_dir).collect()}
    # both endpoints of every near-dup pair share a component
    for p in pairs:
        assert comp[p.doc_a] == comp[p.doc_b], (p.doc_a, p.doc_b)
    # the component id is the minimum doc_id of its members
    members = collections.defaultdict(list)
    for d, c in comp.items():
        members[c].append(d)
    for c, ds in members.items():
        assert c == min(ds)


def test_dedup_semantic_verify_and_expansion(spark, sf_dir):
    rows = QUERIES["dedup_semantic"](spark, sf_dir).collect()
    assert rows, "dedup_semantic empty at smoke SF"
    for r in rows:
        assert r.doc_a < r.doc_b, r
        assert 0.8 <= r.containment <= 1.0, r
    # every identical-(text, embedding) doc pair must be present with
    # containment exactly 1.0 (same vector => same bucket; same text =>
    # containment 1)
    from kwery_spark.catalog import table

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    keyed = docs.join(emb, docs.doc_id == emb.vec_id).select(
        "doc_id", F.md5(F.to_json(F.struct("text", "v"))).alias("ckey")
    )
    dup_pairs = {
        (r.a, r.b)
        for r in keyed.alias("x")
        .join(
            keyed.alias("y"),
            (F.col("x.ckey") == F.col("y.ckey"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .collect()
    }
    emitted = {(r.doc_a, r.doc_b): r.containment for r in rows}
    for p in dup_pairs:
        assert emitted.get(p) == 1.0, p


def test_dedup_semantic_pairs_share_a_bucket(spark, sf_dir):
    """Blocking soundness: every emitted pair's embeddings agree on all
    8 hyperplane signs (recomputed independently here)."""
    from kwery_spark.catalog import table
    from kwery_spark.operators.similarity import dot

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    planes = emb.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 16)).select(
        (F.col("vec_id") - 8).alias("pid"), F.col("v").alias("pv")
    )
    sig = {
        r.vec_id: r.bucket
        for r in emb.crossJoin(F.broadcast(planes))
        .select(
            "vec_id",
            F.when(dot("v", "pv") > 0, F.pow(F.lit(2.0), F.col("pid")).cast("long"))
            .otherwise(F.lit(0).cast("long"))
            .alias("bit"),
        )
        .groupBy("vec_id")
        .agg(F.sum("bit").cast("long").alias("bucket"))
        .collect()
    }
    for r in QUERIES["dedup_semantic"](spark, sf_dir).collect():
        assert sig[r.doc_a] == sig[r.doc_b], r
