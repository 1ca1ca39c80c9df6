"""Engine facade tests: the three public entry points agree with each
other on the same question (SQL string vs DataFrame builder vs packaged
operator)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from kwery_spark.engine import Engine


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return Engine(sf_dir, spark)


def test_sql_and_builder_agree(engine):
    via_sql = engine.sql(
        "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY o_orderstatus"
    )
    via_builder = (
        engine.table("orders").groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, via_sql.collect())) == sorted(
        map(tuple, via_builder.collect())
    )


def test_run_executes_registry_key(engine):
    rows = engine.run("q1_pricing_summary").collect()
    assert len(rows) == 6


def test_run_unknown_key_raises(engine):
    with pytest.raises(KeyError, match="unknown operator"):
        engine.run("no_such_op")


def test_all_tables_queryable(engine):
    for name in engine.tables():
        assert engine.sql(f"SELECT * FROM {name} LIMIT 1").count() in (0, 1)


def test_operators_listing(engine):
    ops = engine.operators()
    assert len(ops) >= 113
    assert "dedup_minhash" in ops and "stream_tumbling" in ops


# The 10 bench.py HEADLINE keys plus the relational, LLM-pipeline and sink
# keys of the olap-curate-write benchmark workload: together about 190
# generated classes at sf0.001, well above Spark's default codegen cache
# (spark.sql.codegen.cache.maxEntries=100), which evicts nearly all of them
# before the repeat run reaches them. No key here has an AQE-order-dependent
# plan, so a second run compiles exactly nothing.
_WARM_KEYS = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "win_row_number",
    "agg_grouping_sets",
    "stream_tumbling",
    "fn_json",
    "join_semi",
    "sim_knn_bruteforce",
    "text_tokenize",
    "join_multiway",
    "text_bm25",
    "dedup_exact",
    "pipeline_curate",
    "udf_pandas_scalar",
    "sink_training_shards",
    "merge_upsert",
)


def test_warm_pass_recompiles_nothing(engine, spark):
    """A repeated pass over the same keys finds every generated class in
    the codegen cache: Janino compiles nothing the second time."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def run_all() -> int:
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        for key in _WARM_KEYS:
            engine.run(key).toPandas()
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    run_all()
    assert run_all() == 0
