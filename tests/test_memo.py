"""Invariants of the session memo (kwery_spark/catalog.py ``memo``): a hit
returns exactly what a cold build returns, the key carries the corpus
directory and file fingerprints, negative probes are never stored, the
LRU cap holds, and racing builds share one stored value."""

from __future__ import annotations

import os
import shutil

import pytest

import kwery_spark.all_ops  # noqa: F401 — populate registry
from kwery_spark import catalog
from kwery_spark.operators import graph, similarity, text, tpch
from kwery_spark.registry import QUERIES

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


@pytest.fixture
def cold_memo():
    catalog._MEMO.clear()
    yield
    catalog._MEMO.clear()


def _rows(value):
    """Comparable rows of a memoized value (a frame, a tuple of frames,
    or a plain Python value)."""
    if isinstance(value, tuple) and value and hasattr(value[0], "collect"):
        return tuple(_rows(v) for v in value)
    if hasattr(value, "collect"):
        return sorted(map(tuple, value.collect()))
    return value


def _copy_corpus(dst) -> str:
    dst.mkdir()
    for name in os.listdir(SF001):
        shutil.copyfile(os.path.join(SF001, name), dst / name)
    return str(dst)


@pytest.mark.parametrize(
    "build",
    [
        text._contracted_docs,
        graph._pair_weights,
        graph._contracted_copurchase,
        tpch._nation_rows,
    ],
    ids=["contracted_docs", "pair_weights", "contracted_copurchase", "nation_rows"],
)
def test_artifact_hit_equals_cold(spark, cold_memo, build):
    """A hit is the stored value itself (no rebuild), and its rows equal
    a forced cold rebuild."""
    cold = build(spark, SF001)
    assert build(spark, SF001) is cold
    cold_rows = _rows(cold)
    catalog._MEMO.clear()
    rebuilt = _rows(build(spark, SF001))
    assert rebuilt == cold_rows and rebuilt


@pytest.mark.parametrize(
    "key", ["graph_degree_distribution", "graph_common_neighbors", "graph_shortest_path"]
)
def test_graph_key_hit_equals_cold(spark, cold_memo, key):
    """Every consumer of the family's memoized artifacts returns the
    same rows on the hit path as on the cold path."""
    cold = sorted(map(tuple, QUERIES[key](spark, SF001).collect()))
    catalog._MEMO.clear()
    graph._pair_weights(spark, SF001)
    graph._purchase_edges(spark, SF001)
    hot = sorted(map(tuple, QUERIES[key](spark, SF001).collect()))
    assert cold == hot


@pytest.mark.parametrize("name", ["embeddings", "documents"])
def test_clone_factor_memoized_single_job(spark, cold_memo, name):
    """The clone-factor probe runs one single-scalar aggregate job on
    first use and zero jobs on a hit."""
    similarity._clone_factor(spark, SF001, name)
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup())
    similarity._clone_factor(spark, SF001, name)
    assert set(st.getJobIdsForGroup()) == before


def test_memo_misses_on_another_corpus(spark, cold_memo):
    """Neither a scan plan (keyed on the directory alone) nor an artifact
    serves a different corpus dir. The artifact name carries the
    effective arm (raw vs bucketed zipper), so either one counts."""
    catalog.table(spark, SF001, "nation")
    assert catalog.memo(spark, SF01, (), "nation") is None
    graph._pair_weights(spark, SF001)
    names = ("pair_weights", "pair_weights_bkt")
    assert any(catalog.memo(spark, SF001, ("lineitem",), n) is not None for n in names)
    assert all(catalog.memo(spark, SF01, ("lineitem",), n) is None for n in names)


def test_memo_misses_after_corpus_file_changes(spark, cold_memo, tmp_path):
    """A corpus file rewritten at the same path (new mtime) misses."""
    corpus = _copy_corpus(tmp_path / "sf_touched")
    cold = text._contracted_docs(spark, corpus)
    assert text._contracted_docs(spark, corpus) is cold
    docs = os.path.join(corpus, "documents.parquet")
    st = os.stat(docs)
    os.utime(docs, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert catalog.memo(spark, corpus, ("documents",), "contracted_docs") is None


def test_negative_db_probe_is_not_memoized(spark, tmp_path):
    """bucketed_db answers None before build_bucketed and the db name
    after it in the same session: a negative probe is never stored."""
    corpus = _copy_corpus(tmp_path / "sf_probe")
    assert catalog.bucketed_db(spark, corpus) is None
    try:
        db = catalog.build_bucketed(spark, corpus)
        assert catalog.bucketed_db(spark, corpus) == db
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {catalog._bucketed_db_name(corpus)} CASCADE")


def test_memo_cap_holds(spark, cold_memo):
    """The LRU cap holds however many entries a session touches, and a
    hit makes its entry the most recently used."""
    cap = catalog._MEMO_CAP
    for i in range(cap + 5):
        catalog.memo(spark, SF001, (), f"fake_{i}", object)
    assert len(catalog._MEMO) == cap
    oldest = catalog.memo(spark, SF001, (), "fake_5")
    assert oldest is not None
    catalog.memo(spark, SF001, (), "fake_new", object)
    assert catalog.memo(spark, SF001, (), "fake_5") is oldest
    assert catalog.memo(spark, SF001, (), "fake_6") is None


def test_racing_builds_share_the_first_stored_value(spark, cold_memo):
    """Builds run outside the store's lock, so two callers of one name
    may both build; both get the value stored first. A build that stores
    the same name while it runs stands in for the other caller."""
    first = object()

    def build():
        catalog.memo(spark, SF001, (), "raced", lambda: first)
        return object()

    assert catalog.memo(spark, SF001, (), "raced", build) is first
    assert catalog.memo(spark, SF001, (), "raced") is first
