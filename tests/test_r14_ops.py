"""Round-14 invariants: the clone-factor contraction gate (VERDICT r13
item 3 — both arms of the distinct-vector contraction must be
value-identical and the auto gate must pick the arm the measured clone
factor prescribes), and the sim_knn query-vector literal (the memoized
1-row lookup must match a fresh collect and the plan must carry no
join)."""

from __future__ import annotations

import pytest

import kwery_spark.all_ops  # noqa: F401 — populate registry
from kwery_spark.operators import similarity as S
from kwery_spark.registry import QUERIES

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"

CONTRACTED_KEYS = ["ml_kmeans", "ml_kmeans_silhouette", "ann_pq", "ann_ivfpq"]


@pytest.mark.parametrize("key", CONTRACTED_KEYS)
def test_contraction_arms_value_identical(spark, key):
    """Forced-on (distinct-vector contraction) and forced-off
    (row-expanded) arms must produce the SAME rows at sf0.01 — the
    gate may only ever change the plan, never a value.

    ADVICE r14: float columns compare within 1e-9, not exactly — the
    contracted arm's groupBy(v) shuffle reorders centroid-sum addends,
    so a pre-round double can differ by ulps between arms; a
    tie-adjacent value under round(...,6) could then flake on exact
    tuple equality (the stream_asof_join r9 ulp-lottery class). Integer
    and string columns stay exact."""
    outs = {}
    for mode in ("on", "off"):
        spark.conf.set("spark.kwery.contract", mode)
        try:
            outs[mode] = sorted(map(tuple, QUERIES[key](spark, SF01).collect()))
        finally:
            spark.conf.unset("spark.kwery.contract")
    assert len(outs["on"]) == len(outs["off"])
    for ra, rb in zip(outs["on"], outs["off"]):
        assert len(ra) == len(rb)
        for va, vb in zip(ra, rb):
            if isinstance(va, float) and isinstance(vb, float):
                assert abs(va - vb) <= 1e-9, (ra, rb)
            else:
                assert va == vb, (ra, rb)


def test_clone_gate_auto_tracks_measured_factor(spark):
    """The gate's documented contract: contraction fires iff the
    measured clone factor >= CONTRACT_MIN_CLONE (2.0). The raw corpus
    is all-distinct (factor ~1) -> row-expanded; the conf override
    forces either arm regardless."""
    factor = S._clone_factor(spark, SF01, "embeddings")
    assert factor < S.CONTRACT_MIN_CLONE  # 500/500 distinct vectors
    assert S._use_contraction(spark, SF01, "embeddings") is False
    for mode, want in (("on", True), ("off", False)):
        spark.conf.set("spark.kwery.contract", mode)
        try:
            assert S._use_contraction(spark, SF01, "embeddings") is want
        finally:
            spark.conf.unset("spark.kwery.contract")


def test_parquet_rows_recurses_and_fails_loudly(spark, tmp_path):
    """parquet_rows and scan_splits are plan-time literal sources that
    share one listing: a partitioned (nested) layout must count fully,
    an empty dataset dir must raise, never return a silent 0 or 1, and
    an unreadable footer must raise, never count as one split."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from py4j.protocol import Py4JJavaError

    from kwery_spark.catalog import parquet_rows, scan_splits

    ds = tmp_path / "t.parquet" / "k=1"
    ds.mkdir(parents=True)
    pq.write_table(pa.table({"a": [1, 2, 3]}), ds / "part-0.parquet", row_group_size=2)
    (tmp_path / "t.parquet" / "_SUCCESS").write_text("")
    assert parquet_rows(str(tmp_path), "t") == 3
    assert scan_splits(spark, str(tmp_path), "t") == 2
    (tmp_path / "empty.parquet").mkdir()
    with pytest.raises(ValueError, match="no .parquet data files"):
        parquet_rows(str(tmp_path), "empty")
    with pytest.raises(ValueError, match="no .parquet data files"):
        scan_splits(spark, str(tmp_path), "empty")
    (tmp_path / "bad.parquet").mkdir()
    (tmp_path / "bad.parquet" / "part-0.parquet").write_bytes(b"not a parquet footer")
    with pytest.raises(Py4JJavaError):
        scan_splits(spark, str(tmp_path), "bad")


def test_broadcast_fits_bound():
    """The byte-derived gate: 16-byte rows disengage at ~11M rows
    (512 MB / 48 B), keeping every measured green point (<=6M rows)
    on the broadcast arm."""
    from kwery_spark import catalog

    bound = catalog.BROADCAST_BUDGET_BYTES // (16 * catalog._HASHED_RELATION_OVERHEAD)
    assert 6_000_000 < bound < 20_000_000


def test_pair_weights_bucketed_zipper_value_identical(spark):
    """r14: _pair_weights zips off the orderkey-bucketed layout when it
    exists (exchange-free join feed, sf30 build 58.7 -> 42.1 s) — the
    rows must be IDENTICAL to the raw-scan arm, and the kill switch
    must force the raw arm."""
    from kwery_spark.catalog import _MEMO, build_bucketed
    from kwery_spark.operators import graph

    build_bucketed(spark, SF001)  # idempotent; seconds at sf0.001
    _MEMO.clear()
    try:
        bucketed = sorted(
            map(tuple, graph._pair_weights(spark, SF001).collect())
        )
        _MEMO.clear()
        spark.conf.set("spark.kwery.bucketed", "false")
        try:
            raw = sorted(map(tuple, graph._pair_weights(spark, SF001).collect()))
        finally:
            spark.conf.unset("spark.kwery.bucketed")
        assert bucketed == raw and len(raw) > 0
    finally:
        _MEMO.clear()


def test_query_vec_matches_collect_and_plan_is_joinless(spark):
    """sim_knn_bruteforce r14: the memoized query vector equals a fresh
    per-run lookup, and the physical plan is scan->project->top-k with
    no join or exchange (the removed broadcast-build job must not come
    back)."""
    from pyspark.sql import functions as F

    qv = S._query_vec(spark, SF001, 0)
    fresh = tuple(
        float(x)
        for x in S._vecs(spark, SF001)
        .filter(F.col("vec_id") == 0)
        .first()
        .v
    )
    assert qv == fresh and len(qv) == 64
    from kwery_spark.plans.inspect import formatted_plan

    plan = formatted_plan(QUERIES["sim_knn_bruteforce"](spark, SF001))
    assert "Join" not in plan and "Exchange" not in plan
    assert "TakeOrderedAndProject" in plan


@pytest.mark.parametrize("key", ["assoc_basket_rules", "rec_item_item_cf"])
def test_partkey_map_broadcast_gate_fires(spark, key):
    """r14: assoc/rec broadcast the partkey->brand map under the footer
    byte gate (the q16 pmap pattern — sf30 A/B: assoc basket build
    28.9-30.8 -> 21.3-22.2 s, rec vecs build 34.8/40.9 -> 30.6/39.3 s,
    values equal). On the tiny test corpus the gate is engaged, so the
    physical plan must carry a BroadcastHashJoin on the part side — the
    lineitem partkey exchange must not exist."""
    from kwery_spark.catalog import broadcast_fits

    assert broadcast_fits(SF001, "part", 24)
    plan = (
        QUERIES[key](spark, SF001)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
