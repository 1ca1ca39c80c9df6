"""Tests for the LLM-data-pipeline operators (similarity / multimodal /
UDF surface) that the oracle gate can't fully pin down: ANN recall and
the fake decoder's exact feature values; the dedup family is in
tests/test_dedup.py. Everything here is deterministic (seeded
hashes, fixed corpus), so assertions are exact-bound, not statistical.
"""

from __future__ import annotations

import hashlib

import pyarrow.parquet as pq
import pytest

import kwery_spark.all_ops  # noqa: F401 — populate registry
from kwery_spark.registry import QUERIES


@pytest.fixture(scope="module")
def sf001():
    return "/root/testdata/sf0.001"


def test_ann_ivf_recall_vs_bruteforce(spark, sf001):
    """IVF with nprobe=4 of 8 cells must recover >=4 of brute force's
    top-5 for the shared query vector (vec_id=0). Deterministic plan —
    observed recall is 5/5; threshold leaves headroom only for parameter
    tweaks, not randomness."""
    bf = [
        r.vec_id
        for r in QUERIES["sim_knn_bruteforce"](spark, sf001).collect()
        if r.vec_id != 0
    ][:5]
    ivf = QUERIES["ann_ivf"](spark, sf001).collect()
    got = {r.neighbor_id for r in ivf if r.query_id == 0}
    assert len(set(bf) & got) >= 4


def test_mm_decode_features_exact(spark, sf001):
    """The REAL encode→decode round-trip (PNG inflate+filter
    reconstruction / WAV chunk walk) must land features that match an
    independent local recomputation over the source bytes byte-for-byte
    (sha256 + 16-bin histogram + mean)."""
    out = {r.doc_id: r for r in QUERIES["mm_decode_features"](spark, sf001).collect()}
    tbl = pq.read_table(f"{sf001}/documents.parquet", columns=["doc_id", "text"])
    docs = dict(zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()))
    assert set(out) == set(docs)
    for doc_id in list(docs)[:25]:
        payload = docs[doc_id].encode()
        r = out[doc_id]
        assert r.content_sha256 == hashlib.sha256(payload).hexdigest()
        hist = [0] * 16
        for b in payload:
            hist[b >> 4] += 1
        assert r.hist_csv == ",".join(str(n) for n in hist)
        assert r.mean_byte == pytest.approx(sum(payload) / len(payload))


def test_mm_frame_sample_counts(spark, sf001):
    """Every wav asset yields ceil(len/256) frames, indices contiguous."""
    rows = QUERIES["mm_frame_sample"](spark, sf001).collect()
    tbl = pq.read_table(f"{sf001}/documents.parquet", columns=["doc_id", "text"])
    docs = dict(zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()))
    by_doc: dict[int, list[int]] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.frame_idx)
    for doc_id, idxs in by_doc.items():
        assert doc_id % 3 == 2  # wav = doc_id % 3 == 2
        n = (len(docs[doc_id].encode()) - 1) // 256 + 1
        assert sorted(idxs) == list(range(n))


def test_udf_surface_registered():
    for key in (
        "udf_python",
        "udf_pandas_scalar",
        "udaf_pandas_agg",
        "udf_grouped_map",
        "udf_map_batches",
        "udtf_python",
    ):
        assert key in QUERIES


def test_kmeans_clusters_quality(spark, sf001):
    rows = QUERIES["ml_kmeans"](spark, sf001).collect()
    assert len(rows) > 0
    clusters = {r.cluster for r in rows}
    assert clusters <= set(range(8)) and len(clusters) >= 4
    # cosine to own centroid should beat the corpus-wide mean pair sim by a
    # clear margin (deterministic given fixed seeds/iterations)
    avg_sim = sum(r.sim for r in rows) / len(rows)
    assert avg_sim > 0.1, avg_sim


def test_ann_lsh_structure_and_recall(spark, sf001):
    """LSH-ANN structural invariants + deterministic recall floor. The
    op's docstring records why recall trails IVF on this near-orthogonal
    corpus; the floor here pins the measured deterministic value."""
    rows = QUERIES["ann_lsh"](spark, sf001).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) <= {0, 1, 2, 3, 4}
    for q, rs in by_q.items():
        assert len(rs) <= 5
        assert sorted(r.rnk for r in rs) == list(range(1, len(rs) + 1))
        assert all(r.neighbor_id != q for r in rs)
    bf = [
        r.vec_id
        for r in QUERIES["sim_knn_bruteforce"](spark, sf001).collect()
        if r.vec_id != 0
    ][:5]
    got = {r.neighbor_id for r in by_q.get(0, [])}
    assert len(set(bf) & got) >= 2  # measured 3/5, deterministic


def test_pagerank_is_a_distribution(spark, sf_dir):
    """PageRank must conserve mass: ranks positive, summing to ~1 (the
    bidirected graph has no dangling nodes to leak mass through)."""
    rows = QUERIES["graph_pagerank"](spark, sf_dir).collect()
    assert rows
    total = sum(r.pagerank for r in rows)
    assert abs(total - 1.0) < 1e-3, total
    assert all(r.pagerank > 0 for r in rows)


def test_pq_codes_and_error_sane(spark, sf_dir):
    """PQ encode: every code in [0,16), one code per subspace, and the
    mean reconstruction error must beat the trivial all-zeros codebook
    (for unit vectors that baseline MSE is 1/64 per dimension-share =
    mean squared norm / 64)."""
    rows = QUERIES["ann_pq"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        codes = [int(c) for c in r.codes.split(",")]
        assert len(codes) == 8 and all(0 <= c < 16 for c in codes)
        assert r.mse >= 0
    avg_mse = sum(r.mse for r in rows) / len(rows)
    # all-zero reconstruction of a unit vector has MSE 1/64 per dim pair
    assert avg_mse < 1.0 / 64, avg_mse


def test_ivfpq_recall_vs_bruteforce(spark, sf_dir):
    """The IVF→PQ-ADC→rerank stack must recover most of the true top-5:
    per query, ≥3 of the exact brute-force top-5 (the compression +
    coarse probe trade recall for the memory/scan shape; the rerank
    stage keeps what survives candidate generation exact)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from kwery_spark.operators.similarity import _vecs, dot

    got = {}
    for r in QUERIES["ann_ivfpq"](spark, sf_dir).collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    vecs = _vecs(spark, sf_dir)
    q = vecs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("s").desc(), "vec_id")
    truth = {}
    for r in (
        vecs.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", dot("v", "qv").alias("s"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .collect()
    ):
        truth.setdefault(r.query_id, set()).add(r.vec_id)
    assert set(got) == set(truth)
    for qid in truth:
        overlap = len(got[qid] & truth[qid])
        assert overlap >= 3, (qid, got[qid], truth[qid])


def test_embedding_pca_invariants(spark, sf001):
    """Power iteration must emit a unit-norm component with a positive
    eigenvalue, canonical sign, and an explained ratio in (0, 1]."""
    rows = sorted(QUERIES["embedding_pca"](spark, sf001).collect(), key=lambda r: r.idx)
    assert len(rows) == 64 and [r.idx for r in rows] == list(range(64))
    norm = sum(r.loading ** 2 for r in rows) ** 0.5
    assert abs(norm - 1.0) < 1e-4, norm
    assert rows[0].loading >= 0  # sign canonicalization
    lam, ratio = rows[0].eigenvalue, rows[0].explained_ratio
    assert lam > 0 and 0 < ratio <= 1
    assert all(r.eigenvalue == lam and r.explained_ratio == ratio for r in rows)
