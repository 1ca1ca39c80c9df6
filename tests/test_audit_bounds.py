"""The plan audit's declared-BNLJ whitelist is bounded (VERDICT r3 item
6): a whitelisted key whose broadcast side grows past
BNLJ_BUILD_ROW_BOUND must be flagged, so the declaration can never mask
a regression."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql.functions import broadcast

from audit_plans import BNLJ_BUILD_ROW_BOUND, audit, bnlj_build_rows


def _crossjoin(spark, n_build: int):
    probe = spark.range(100).select(F.col("id").alias("p"))
    build = spark.range(n_build).select(F.col("id").alias("b"))
    return probe.crossJoin(broadcast(build)).groupBy().agg(
        F.count(F.lit(1)).alias("n")
    )


def test_tiny_declared_side_passes(spark):
    df = _crossjoin(spark, 3)
    assert audit("synthetic", df) == ["BNLJ"]
    sides = bnlj_build_rows(df)
    assert sides == [3]
    assert all(r <= BNLJ_BUILD_ROW_BOUND for r in sides)


def test_inflated_declared_side_fails(spark):
    # simulate a regression: the "provably tiny" side now carries 50k rows
    df = _crossjoin(spark, 50_000)
    assert audit("synthetic", df) == ["BNLJ"]
    sides = bnlj_build_rows(df)
    assert sides == [50_000]
    assert any(r > BNLJ_BUILD_ROW_BOUND for r in sides), (
        "an inflated build side must exceed the audit bound"
    )


def test_bound_headroom_matches_largest_declared_side():
    # largest real declared side today is ann_ivfpq's 128-entry codebook;
    # the bound gives ~8x parameter headroom but is far below any
    # SF-scaling table (smallest data table at sf0.01 = 100 suppliers
    # only; lineitem ~60k). If a declared side legitimately needs more,
    # raise the bound in the same commit that documents why.
    assert 128 < BNLJ_BUILD_ROW_BOUND < 60_000


# -- scale-sweep structural-empty declarations (VERDICT r8 item 5) --------


def test_undeclared_empty_is_a_sweep_failure():
    from scale_sweep import EXPECTED_EMPTY_AT, empty_is_declared, sf_of

    # declared key at/above its threshold: OK row
    assert empty_is_declared("pipeline_pretraining_corpus", "/x/.data/sf10")
    assert empty_is_declared("pipeline_pretraining_corpus", "/x/.data/sf3")
    # declared key BELOW its threshold: still a failure (gate SFs must
    # return rows — the sf0.01 CI ban owns that regime)
    assert not empty_is_declared("pipeline_pretraining_corpus", "/x/.data/sf1")
    # undeclared key: 0 rows is a failure at every SF
    assert "dedup_exact" not in EXPECTED_EMPTY_AT
    assert not empty_is_declared("dedup_exact", "/x/.data/sf30")
    # dir-name parsing; non-canonical dirs fail LOUDLY instead of
    # silently reading as SF 0 (r9 review)
    assert sf_of("/x/.data/sf10/") == 10.0
    assert sf_of("/root/testdata/sf0.01") == 0.01
    import pytest

    with pytest.raises(ValueError):
        sf_of("/x/.data/sf10_rebuild")
