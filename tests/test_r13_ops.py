"""Round-13 invariants: the bipartite pagerank/BFS rewrites (family
contract — neither key may trigger the 352M bidirected edge build), a
local brute-force BFS recompute, the dq_expectations shared-shuffle
plan lock, and the adaptive-kNN cell-width formula's cross-engine
exactness contract."""

from __future__ import annotations

import math

import pyarrow.parquet as pq
import pytest

import kwery_spark.all_ops  # noqa: F401 — populate registry
from kwery_spark.plans import inspect
from kwery_spark.registry import QUERIES

SF001 = "/root/testdata/sf0.001"


def _clear_shared():
    from kwery_spark.catalog import _MEMO

    _MEMO.clear()


@pytest.mark.parametrize("key", ["graph_pagerank", "graph_shortest_path"])
def test_bipartite_keys_never_build_the_edge_frame(spark, key):
    """r13 family contract: the bipartite half-update keys run straight
    off _pair_weights — a cold run must NOT create the bidirected
    'edges' artifact (its 352M-row sf30 build is exactly
    what the rewrite deleted; recreating one silently would re-tax the
    family, the r13 BFS-subsidy lesson in CLAUDE.md)."""
    from kwery_spark.catalog import _MEMO

    _clear_shared()
    QUERIES[key](spark, SF001).collect()
    built = {k[-1] for k in _MEMO}
    # either arm's artifact counts (ADVICE r14: the name carries the arm)
    assert built & {"pair_weights", "pair_weights_bkt"}, built
    assert "edges" not in built, built
    _clear_shared()


def test_bfs_matches_local_bruteforce(spark):
    """3-hop distances from c0 recomputed locally over the distinct
    (custkey, suppkey) pair set must equal the registered key's rows."""
    li = pq.read_table(f"{SF001}/lineitem.parquet", columns=["l_orderkey", "l_suppkey"])
    orders = pq.read_table(
        f"{SF001}/orders.parquet", columns=["o_orderkey", "o_custkey"]
    )
    cust_of = dict(
        zip(orders["o_orderkey"].to_pylist(), orders["o_custkey"].to_pylist())
    )
    pairs = {
        (cust_of[ok], sk)
        for ok, sk in zip(
            li["l_orderkey"].to_pylist(), li["l_suppkey"].to_pylist()
        )
    }
    adj: dict[str, set[str]] = {}
    for c, s in pairs:
        adj.setdefault(f"c{c}", set()).add(f"s{s}")
        adj.setdefault(f"s{s}", set()).add(f"c{c}")
    dist = {"c0": 0}
    frontier = ["c0"]
    for d in (1, 2, 3):
        nxt = []
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = d
                    nxt.append(v)
        frontier = nxt
    got = {
        r.node: r.dist
        for r in QUERIES["graph_shortest_path"](spark, SF001).collect()
    }
    assert got == dist


def test_dq_expectations_shared_orderkey_agg_plan_lock(spark):
    """Plan lock (r13): PK-uniqueness must come from the shared
    groupBy(o_orderkey) aggregate DEFINITION, NOT a COUNT(DISTINCT)
    paying its own 45M-key distinct shuffle (the r12 ×5.5 sf30 spill).
    r14 correction (ADVICE r13): the two legs' exchanges do NOT dedupe
    at runtime — ReusedExchange was verified never to fire here under
    AQE on or off — so the lock is purely on shape and shuffle count.
    The shuffle-exchange budget is the measured r13 plan's 7; growth
    means a leg split off its own shuffle again."""
    plan = inspect.formatted_plan(QUERIES["dq_expectations"](spark, SF001))
    assert "count(distinct" not in plan.lower(), plan
    assert "CartesianProduct" not in plan, plan
    n_shuffles = sum(
        1
        for line in plan.splitlines()
        if line.strip().startswith("(") and ") Exchange" in line
    )
    assert n_shuffles <= 7, (n_shuffles, plan)


def test_knn_cell_width_formula():
    """The adaptive width must follow the documented ladder (s integer
    subdivisions of 5 degrees, s = floor(sqrt(n/43200))) and keep the
    expected points-per-cell inside [25, 100) once past the base grid —
    the bound that makes the candidate stream O(|probes|)."""
    from kwery_spark.operators.geo import knn_cell_width

    assert knn_cell_width(150) == 5.0  # sf0.001: base grid
    assert knn_cell_width(15_000) == 5.0  # sf0.1: still base
    assert knn_cell_width(1_500_000) == 1.0  # sf10: s=5
    assert knn_cell_width(4_500_000) == 0.5  # sf30: s=10
    for n in (200_000, 1_500_000, 4_500_000, 45_000_000):
        w = knn_cell_width(n)
        s = round(5.0 / w)
        assert abs(5.0 / s - w) < 1e-12  # integer subdivision
        per_cell = n * w * w / 43200.0
        assert 25.0 <= per_cell < 100.0 + 1e-9, (n, per_cell)
