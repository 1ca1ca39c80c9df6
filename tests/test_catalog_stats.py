"""CBO statistics (SURVEY §4) + registry completeness CI gates."""

from __future__ import annotations

import pytest

from kwery_spark.catalog import analyze_tables, table
from kwery_spark.registry import ORACLES, QUERIES, load_all

# Keys allowed to ship without a DuckDB oracle (driver records a weaker
# rows-only check and counts it as an ERR row when sampled). Keep this
# EMPTY: a new key must either carry an oracle or be added here with a
# written justification.
ROWS_ONLY_ALLOWED: set[str] = set()


def test_every_registered_key_has_an_oracle():
    load_all()
    missing = sorted(k for k in QUERIES if k not in ORACLES and k not in ROWS_ONLY_ALLOWED)
    assert not missing, (
        f"keys without a DuckDB oracle (guaranteed driver ERR rows): {missing}; "
        "add an oracle or justify in ROWS_ONLY_ALLOWED"
    )


def test_analyze_tables_records_cbo_stats(spark, sf_dir):
    db = analyze_tables(spark, sf_dir)
    # table-level stats: rowCount must be recorded and exact
    desc = {
        r.col_name: r.data_type
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {db}.orders").collect()
    }
    stats = desc.get("Statistics", "")
    assert "rows" in stats, f"no rowCount in catalog stats: {stats!r}"
    n_rows = int(stats.split(",")[1].strip().split(" ")[0])
    assert n_rows == table(spark, sf_dir, "orders").count()
    # column-level stats: NDV/min/max recorded for the join key
    col = spark.sql(f"DESCRIBE TABLE EXTENDED {db}.orders o_custkey").collect()
    col_stats = {r.info_name: r.info_value for r in col}
    assert col_stats.get("distinct_count") not in (None, "NULL")
    # catalog-table query results match the DataFrame path
    got = spark.sql(
        f"SELECT o_orderpriority, count(*) AS n FROM {db}.orders GROUP BY 1"
    ).collect()
    want = (
        table(spark, sf_dir, "orders").groupBy("o_orderpriority").count().collect()
    )
    assert {(r.o_orderpriority, r.n) for r in got} == {
        (r.o_orderpriority, r["count"]) for r in want
    }


def test_bucketed_tpch_arms_value_identical(spark, sf_dir):
    """q3/q5 read the orderkey-bucketed layout when the session has
    cbo.enabled AND a completed build_bucketed (the bench posture). The
    bucketed arms must return the raw arms' rows; the spark.kwery.bucketed
    kill switch forces the raw arm with the build present."""
    from kwery_spark.catalog import build_bucketed
    from kwery_spark.plans import inspect

    load_all()
    build_bucketed(spark, sf_dir)  # idempotent; seconds at sf0.001
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try:
        for key in ("q3_shipping_priority", "q5_local_supplier"):
            df = QUERIES[key](spark, sf_dir)
            # proves the bucketed arm engaged: the plan reads kwery_bkt_*
            assert "kwery_bkt_" in inspect.formatted_plan(df), key
            bucketed = sorted(map(tuple, df.collect()))
            spark.conf.set("spark.kwery.bucketed", "false")
            df = QUERIES[key](spark, sf_dir)
            assert "kwery_bkt_" not in inspect.formatted_plan(df), key
            raw = sorted(map(tuple, df.collect()))
            spark.conf.unset("spark.kwery.bucketed")
            assert len(raw) > 0 and len(bucketed) == len(raw), key
            for a, b in zip(bucketed, raw):
                for x, y in zip(a, b):
                    if isinstance(x, float):
                        assert abs(x - y) <= 1e-6 * max(1.0, abs(y)), (key, a, b)
                    else:
                        assert x == y, (key, a, b)
    finally:
        spark.conf.unset("spark.sql.cbo.enabled")
        spark.conf.unset("spark.kwery.bucketed")


@pytest.mark.slow
def test_no_oracle_returns_empty_at_gate_sf(oracle_sf_dir):
    """Empty-result ban (r7 verdict #1): a key whose oracle returns 0 rows
    at the gate SF passes its value-hash VACUOUSLY — the comparison has
    never seen a row, so a Spark-side bug returning empty for the wrong
    reason still passes (text_search and join_anti shipped that way for
    six rounds). Sweep every oracle in DuckDB at sf0.01 (the driver's
    gate SF) and fail on any empty result. Full sweep measured ~31 s
    (marked slow — `-m 'not slow'` skips it; the default run keeps it,
    it is the CI gate for the vacuous-oracle class)."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"),
    )
    from check import duck_conn

    load_all()
    conn = duck_conn(oracle_sf_dir)
    empty = sorted(
        key for key, sql in ORACLES.items()
        if conn.execute(f"SELECT count(*) FROM ({sql}) _t").fetchone()[0] == 0
    )
    conn.close()
    assert not empty, (
        f"oracles with 0 rows at the gate SF (vacuous value-check): {empty}; "
        "re-parameterize the key so the result is non-empty at sf0.01"
    )


def test_every_output_schema_is_driver_hashable(spark, sf_dir):
    """The grading driver value-hashes results via pandas factorize, which
    crashes on array/map/struct cells (CORRECTNESS_r01: agg_collect et
    al.). Guarantee the whole registry ships scalar-only output schemas:
    every complex value must be rendered to a string in the final
    projection. Builds every plan (and runs the streaming/iterative keys)
    at the smoke SF."""
    load_all()
    bad: dict[str, list[str]] = {}
    for key, fn in QUERIES.items():
        df = fn(spark, sf_dir)
        # decimal joins the array/map/struct/binary ban in r7: the driver
        # hasher sees Spark toPandas() Decimal objects vs DuckDB .df()
        # float64 for the same values (r6: agg_skew_twophase hash-fail on
        # bit-identical results) — final projections must CAST to DOUBLE.
        complex_cols = [
            f"{name}:{dtype}"
            for name, dtype in df.dtypes
            if dtype.startswith(("array", "map", "struct", "binary", "decimal"))
        ]
        if complex_cols:
            bad[key] = complex_cols
    assert not bad, f"driver-unhashable output columns: {bad}"
