"""Catalog reads (kwery_spark/catalog.py): schemas come from parquet
footers on the driver, so resolving a read runs no Spark job, and the
schema is the one Spark's inference gives."""

from __future__ import annotations

import os
import shutil
import uuid
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from kwery_spark import catalog
from kwery_spark.sources.txnlog import TxnLogTable


@contextmanager
def counted_jobs(spark):
    """Collects the ids of the Spark jobs run inside the block."""
    sc = spark.sparkContext
    group = f"test_catalog_{uuid.uuid4().hex}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, "counted")
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _inferred(spark, *paths):
    return spark.read.parquet(*paths).schema


def test_footer_schema_equals_inferred_on_corpus_and_layout(spark, sf_dir):
    spark.conf.set(catalog._NANOS_CONF, "true")  # as catalog._events reads
    for name in catalog.TABLES:
        p = os.path.join(sf_dir, f"{name}.parquet")
        assert catalog.parquet_schema(spark, p) == _inferred(spark, p), name
    out = catalog.optimize_layout(spark, sf_dir)
    try:
        for name in (*catalog.TABLES, "customer_slim"):
            p = os.path.join(out, f"{name}.parquet")
            assert os.path.isdir(p)
            assert catalog.parquet_schema(spark, p) == _inferred(spark, p), name
    finally:
        catalog._OPTIMIZED.pop(sf_dir, None)


def test_footer_schema_equals_inferred_on_txnlog_commits(spark, sf_dir, tmp_path):
    t = TxnLogTable(str(tmp_path / "events_log"))
    events = catalog.table(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    t.commit(spark, events.filter(F.col("event_id") % 2 == 0), "append")
    t.commit(spark, events.filter(F.col("event_id") % 2 == 1), "append")
    dirs = [os.path.join(t.root, d) for d in t.live_dirs()]
    assert len(dirs) == 2
    assert catalog.parquet_schema(spark, dirs[0]) == _inferred(spark, dirs[0])
    assert t.read(spark).schema == _inferred(spark, *dirs)
    assert t.read(spark).count() == events.count()


def test_nanos_footer_maps_ts_to_bigint(spark, tmp_path):
    """A TIMESTAMP(NANOS) events file, the variant catalog._events reads
    with nanosAsLong on: the footer schema matches inference and keeps
    ts as raw int64 nanoseconds."""
    p = str(tmp_path / "events.parquet")
    ts = pa.array([1_700_000_000_123_456_789, 1_700_000_001_000_000_001], pa.timestamp("ns"))
    pq.write_table(pa.table({"event_id": [1, 2], "ts": ts}), p, version="2.6")
    assert "timeUnit=nanoseconds" in str(pq.ParquetFile(p).schema.column(1).logical_type)
    spark.conf.set(catalog._NANOS_CONF, "true")
    schema = catalog.parquet_schema(spark, p)
    assert schema == _inferred(spark, p)
    assert dict((f.name, f.dataType.simpleString()) for f in schema)["ts"] == "bigint"
    got = catalog._events(spark, p).orderBy("event_id").select(F.unix_micros("ts").alias("us"))
    assert [r.us for r in got.collect()] == [1_700_000_000_123_456, 1_700_000_001_000_000]


def test_register_views_runs_no_job(spark, sf_dir, tmp_path):
    """A fresh corpus path misses the memo, so every table's scan is
    built; resolving them all runs no Spark job."""
    corpus = str(tmp_path / "sf_copy")
    shutil.copytree(sf_dir, corpus)
    with counted_jobs(spark) as jobs:
        catalog.register_views(spark, corpus)
    assert jobs == []
    assert spark.sql("SELECT count(*) AS n FROM nation").collect()[0].n == 25


def test_register_views_pool_keeps_the_job_group(spark, sf_dir, monkeypatch):
    """register_views resolves tables on a thread pool; a job run there
    still lands in the caller's job group, so set-up job counts see it."""
    real = catalog.table

    def table_with_a_job(spark, sf_dir, name):
        spark.sparkContext.parallelize([0], 1).count()  # one job
        return real(spark, sf_dir, name)

    monkeypatch.setattr(catalog, "table", table_with_a_job)
    with counted_jobs(spark) as jobs:
        catalog.register_views(spark, sf_dir)
    assert len(jobs) == len(catalog.TABLES)


def test_read_parquet_rejects_partitioned_layout(spark, tmp_path):
    out = str(tmp_path / "by_k")
    spark.range(6).withColumn("k", F.col("id") % 2).write.partitionBy("k").parquet(out)
    with pytest.raises(ValueError, match="k=0|k=1"):
        catalog.read_parquet(spark, out)
    assert "k" in spark.read.parquet(out).columns


def test_row_stats_probe_runs_no_job(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(5).write.parquet(path)
    db = f"kwery_test_{uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE {db}")
    try:
        spark.catalog.createTable(f"{db}.t", path=path, source="parquet")
        with counted_jobs(spark) as jobs:
            before = catalog._has_row_stats(spark, f"{db}.t")
        spark.sql(f"ANALYZE TABLE {db}.t COMPUTE STATISTICS")
        with counted_jobs(spark) as more:
            after = catalog._has_row_stats(spark, f"{db}.t")
    finally:
        spark.sql(f"DROP DATABASE {db} CASCADE")
    assert (before, after) == (False, True)
    assert jobs + more == []
