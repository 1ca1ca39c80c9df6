"""Round-11 invariants: the r11 operator rewrites."""

import pytest

import kwery_spark.all_ops  # noqa: F401 — populate registry
from kwery_spark.registry import QUERIES


@pytest.fixture(scope="module")
def sf001():
    return "/root/testdata/sf0.001"


def test_pack_balanced_is_balanced_and_lossless(spark, sf001):
    """LPT-serpentine packing must conserve tokens exactly, size bins to
    ceil(total/4096), and beat trivial imbalance (makespan ratio close
    to 1 — decreasing-first placement's whole point)."""
    import math

    import pyspark.sql.functions as F

    from kwery_spark.catalog import table

    rows = {r.lang: r for r in QUERIES["pipeline_pack_balanced"](spark, sf001).collect()}
    truth = {
        r.lang: r.total
        for r in table(spark, sf001, "documents")
        .groupBy("lang")
        .agg(F.sum(F.size(F.split("text", " "))).alias("total"))
        .collect()
    }
    assert set(rows) == set(truth)
    for lang, r in rows.items():
        assert r.total_tokens == truth[lang]
        assert r.n_bins == math.ceil(truth[lang] / 4096)
        assert r.min_bin_tokens <= r.max_bin_tokens
        assert 1.0 <= r.makespan_ratio < 1.5  # LPT bound is 4/3 + rounding


def test_holt_winters_internal_identity(spark, sf001):
    """forecast must equal level + h*trend + seasonal (pre-round
    identity survives the shared 6dp round), one full season per type,
    seasonal slots cycling with h."""
    rows = QUERIES["events_forecast_holt_winters"](spark, sf001).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    assert len(by_type) == 5
    for t, rs in by_type.items():
        assert sorted(x.h for x in rs) == list(range(1, 8))
        assert all(x.t_days == 30 for x in rs)
        for x in rs:
            # each column is 6dp-rounded separately, so the identity
            # holds to the sum of the per-term rounding bounds
            assert abs(x.forecast - (x.level + x.h * x.trend + x.seasonal)) < 1e-5


def test_maintain_zorder_buckets_are_quadrants(spark, sf001):
    """The 4-bit Z prefix buckets are exact 64x64 grid quadrants, so
    every bucket's (ux, dx) envelope must fit one quadrant — the
    data-skipping property the maintenance op exists to create — and
    the compacted copy must conserve rows exactly."""
    import pyspark.sql.functions as F

    from kwery_spark.catalog import table

    rows = QUERIES["maintain_zorder_compact"](spark, sf001).collect()
    n_events = table(spark, sf001, "events").count()
    assert sum(r.n_rows for r in rows) == n_events
    for r in rows:
        assert 0 <= r.zbucket <= 15
        assert r.ux_max - r.ux_min <= 63, r
        assert r.dx_max - r.dx_min <= 63, r
    # quadrant identity: bucket bits are (dx7, ux7, dx6, ux6) from the
    # interleave order, so ux_min//64 and dx_min//64 must be constant
    # per bucket and equal to the bits' value
    for r in rows:
        assert r.ux_min // 64 == r.ux_max // 64
        assert r.dx_min // 64 == r.dx_max // 64


def test_maxsim_contraction_equals_naive(spark, sf001):
    """The r11 distinct-vector contraction of sim_maxsim must agree with
    the naive per-row formulation (every doc row × every query row,
    float-summed then rounded) to the old contract's own noise bound:
    the naive float sum of ~N rounded doubles carries order-dependent
    error, so compare at 1e-6 × n_query_vecs rather than exactly; counts
    and labels must match exactly."""
    import pyspark.sql.functions as F

    from kwery_spark.operators.similarity import _vecs, dot

    vecs = _vecs(spark, sf001)
    q = vecs.filter(F.col("label") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    naive = (
        vecs.filter(F.col("label") != 0)
        .crossJoin(F.broadcast(q))
        .groupBy("label", "q_id")
        .agg(F.max(F.round(dot("v", "qv"), 6)).alias("best_dot"))
        .groupBy("label")
        .agg(
            F.round(F.sum("best_dot"), 6).alias("maxsim_score"),
            F.count(F.lit(1)).alias("n_query_vecs"),
        )
        .collect()
    )
    want = {r.label: r for r in naive}
    got = QUERIES["sim_maxsim"](spark, sf001).collect()
    assert {r.label for r in got} == set(want)
    for r in got:
        w = want[r.label]
        assert r.n_query_vecs == w.n_query_vecs, r
        assert abs(r.maxsim_score - w.maxsim_score) <= 1e-6 * r.n_query_vecs, (
            r,
            w,
        )
