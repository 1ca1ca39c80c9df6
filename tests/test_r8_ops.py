"""Round-8 operator invariants: heavy-hitter bound theorems, DPO pairing
arithmetic, and determinism across re-runs."""

from __future__ import annotations

import pyspark.sql.functions as F

from kwery_spark.catalog import table
from kwery_spark.registry import QUERIES, load_all

load_all()


def test_heavy_hitters_bounds_are_theorems(spark, sf_dir):
    rows = QUERIES["agg_heavy_hitters"](spark, sf_dir).collect()
    assert len(rows) == 5
    assert [r.hh_rank for r in rows] == [1, 2, 3, 4, 5]
    for r in rows:
        # the MG-merge guarantee: lower <= exact <= upper, and the
        # emitted boolean must agree
        assert r.bounds_hold is True, r
        assert r.est_lower <= r.exact_cnt <= r.est_upper, r
    # exact_cnt must equal a direct full count for every emitted user
    ev = table(spark, sf_dir, "events")
    truth = {
        row.user_id: row.n
        for row in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for r in rows:
        assert truth[r.user_id] == r.exact_cnt, r


def test_heavy_hitters_covers_dominant_user(spark, sf_dir):
    """Any user whose exact count exceeds the summed node error bound
    MUST be a candidate (it cannot be missed by every node's top-k) —
    the classic heavy-hitter coverage guarantee, checked on real data."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_id")
    nc = (
        ev.select(F.pmod("event_id", F.lit(8)).alias("node"), "user_id")
        .groupBy("node", "user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("node").orderBy(F.col("cnt").desc(), "user_id")
    r8 = nc.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 8)
    total_eps = (
        r8.groupBy("node").agg(F.min("cnt").alias("eps")).agg(F.sum("eps")).collect()[0][0]
    )
    candidates = {r.user_id for r in r8.select("user_id").distinct().collect()}
    heavy = {
        r.user_id
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > total_eps)
        .collect()
    }
    assert heavy <= candidates, (heavy - candidates, total_eps)


def test_dpo_format_pair_arithmetic(spark, sf_dir):
    out = {r.lang: r for r in QUERIES["pipeline_dpo_format"](spark, sf_dir).collect()}
    docs = table(spark, sf_dir, "documents")
    eligible = {
        r.lang: r.n
        for r in docs.filter(F.col("n_chars") > 200)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for lang, n in eligible.items():
        if n >= 2:
            assert out[lang].n_pairs == n // 2, (lang, n, out[lang].n_pairs)
    for r in out.values():
        # chosen is the higher-scoring member by construction
        assert r.avg_margin >= 0.0, r


def test_dpo_format_deterministic_rerun(spark, sf_dir):
    a = sorted(map(tuple, QUERIES["pipeline_dpo_format"](spark, sf_dir).collect()))
    b = sorted(map(tuple, QUERIES["pipeline_dpo_format"](spark, sf_dir).collect()))
    assert a == b
