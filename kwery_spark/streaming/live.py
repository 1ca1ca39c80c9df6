"""True Structured Streaming execution (SURVEY.md §2.9, rows-only keys).

These run real ``readStream`` → ``writeStream`` micro-batch queries over
the events parquet (file source, ``availableNow`` trigger → processes all
existing files then stops), with checkpoints in the repo-local scratch
dir. The driver's oracle can't see streaming semantics, so these keys get
rows-only checks; tests/test_streaming.py asserts equivalence with the
batch forms and exercises watermark late-data dropping on a crafted
micro-batch sequence.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from kwery_spark.catalog import (
    _SCRATCH,
    _corpus_fingerprint,
    _normalize_ts,
    parquet_schema,
    read_parquet,
)
from kwery_spark.registry import register

SCRATCH = os.path.join(_SCRATCH, "streaming")


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet with ts normalized to a
    proper µs timestamp column (same conversion as the batch catalog —
    the corpus has shipped ts as TIMESTAMP(NANOS) and as naive µs across
    driver rounds, so the file's own footer schema is authoritative; a
    hardcoded schema broke when the corpus was regenerated).

    Spark's file stream source requires a DIRECTORY; the corpus ships a
    single file, so it is staged (symlinked) into scratch once per SF.
    The stage dir name embeds the source-corpus fingerprint, so a
    regenerated corpus (the driver has rebuilt /root/testdata in place
    once already) gets a fresh stage instead of streaming stale data;
    the symlink create tolerates a concurrent-session race."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # same defensive UTC pin the batch catalog applies at table(): the
    # ntz->timestamp relabel in _normalize_ts is only exact under UTC,
    # and a driver-provided session may run a streaming key first
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = os.path.join(sf_dir, "events.parquet")
    fp = _corpus_fingerprint(sf_dir, ("events",))
    stage = os.path.join(
        SCRATCH, "events_src", sf_dir.strip("/").replace("/", "_") + "_" + fp
    )
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    if not os.path.lexists(link):
        try:
            os.symlink(src, link)
        except FileExistsError:
            pass  # concurrent session staged the same fingerprint
    # the stream source requires an explicit schema: the file's own
    # footer, read on the driver (no job)
    raw_schema = parquet_schema(spark, src)
    stream = spark.readStream.schema(raw_schema).format("parquet").load(stage)
    return _normalize_ts(stream)


def _run_to_memory(df: DataFrame, output_mode: str = "complete"):
    """Start the streaming query into a memory sink, process everything
    (availableNow), await termination; returns (spark_table_df, query)."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    ckpt = os.path.join(SCRATCH, name)
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    result = df.sparkSession.table(name)
    shutil.rmtree(ckpt, ignore_errors=True)
    return result, q


@register(
    "stream_watermark",
    oracle="""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type, count(*) AS n_events
    FROM events GROUP BY 1, 2
    """,
)
def stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling aggregate, executed as a REAL streaming query:
    events >10 min late (vs the max event time seen) are dropped before
    the windowed state. With a single availableNow batch nothing is late,
    so complete-mode output equals the batch tumbling aggregate — which is
    exactly what the oracle computes (date_trunc = epoch-aligned 1h
    window). The late-drop behavior itself is asserted in
    tests/test_streaming.py with a two-batch file sequence."""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    result, _ = _run_to_memory(agg, "complete")
    return result


# transformWithStateInPandas capability probe (VERDICT r2 item 6): the
# Spark 4 StatefulProcessor API ships a Python-side state server that
# imports google.protobuf at runtime. Probe once, record the verdict.
TWS_PROBE: dict[str, object] = {}


def tws_available() -> bool:
    if "available" not in TWS_PROBE:
        try:
            import google.protobuf  # noqa: F401  (TWS state-server wire format)
            from pyspark.sql.streaming.stateful_processor import (  # noqa: F401
                StatefulProcessor,
            )

            TWS_PROBE.update(available=True, reason="protobuf + StatefulProcessor importable")
        except ImportError as e:
            TWS_PROBE.update(available=False, reason=f"import failed: {e}")
    return bool(TWS_PROBE["available"])


def _stateful_via_apply_in_pandas(stream: DataFrame, out_schema: str) -> DataFrame:
    """Fallback path: applyInPandasWithState (Spark 3.4+ API)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    state_schema = "n bigint, total_cents bigint"

    def update(key, pdf_iter, state: GroupState):
        # accumulate exact integer CENTS, never floats — float state
        # would make the per-user total depend on micro-batch addition
        # order, diverging from the oracle's sum order (the sum-order
        # flake class); one final division renders dollars
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            cents += int((pdf["value"] * 100).round().astype("int64").sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [cents / 100.0],
            }
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def _stateful_via_tws(stream: DataFrame, out_schema: str) -> DataFrame:
    """Modern path: transformWithStateInPandas with a StatefulProcessor
    (Spark 4). Exercised only where the probe passes; semantically
    identical to the fallback."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState(
                "agg", "n bigint, total_cents bigint"
            )

        def handleInputRows(self, key, rows, timer_values):
            # exact integer cents — see the fallback path's comment
            n, cents = self._agg.get() if self._agg.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                cents += int(
                    (pdf["value"] * 100).round().astype("int64").sum()
                )
            self._agg.update((n, cents))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [cents / 100.0],
                }
            )

        def close(self) -> None:
            pass

    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


@register(
    "stream_stateful",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming op: per-user running event counter +
    total value, state surviving across micro-batches. After the stream
    drains, the final per-user state equals the batch aggregate, which
    the oracle recomputes exactly (state accumulates integer cents, the
    oracle sums DECIMAL(18,2) — both order-independent, one final float
    division each).

    The implementation capability-probes Spark 4's
    transformWithStateInPandas (the modern StatefulProcessor API) at
    call time and uses it when the environment supports it; otherwise it
    falls back to applyInPandasWithState — same semantics, older API.
    In this sandbox the probe reports unavailable (the TWS Python state
    server needs google.protobuf, which is not installed and installs
    are disallowed). The probe outcome is recorded in TWS_PROBE for
    auditability and pinned by tests/test_streaming.py."""
    stream = _events_stream(spark, sf_dir).select("user_id", "value")
    out_schema = "user_id bigint, n_events bigint, total_value double"

    if tws_available():
        counted = _stateful_via_tws(stream, out_schema)
    else:
        counted = _stateful_via_apply_in_pandas(stream, out_schema)
    result, _ = _run_to_memory(counted, "update")
    # update-mode memory sink may hold one row per state update; keep last
    return result.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("total_value").alias("total_value"),
    )


@register(
    "stream_late_metrics",
    oracle="""
    WITH w AS (
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h
        FROM events GROUP BY 1
    ),
    wm AS (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 10 MINUTE AS wmark
           FROM events)
    SELECT 'batchId' AS metric, 1.0 AS value
    UNION ALL SELECT 'numInputRows', 0.0
    UNION ALL SELECT 'stateRowsTotal',
        CAST((SELECT count(*) FROM w, wm WHERE h + INTERVAL 1 HOUR > wmark)
             AS DOUBLE)
    UNION ALL SELECT 'stateRowsUpdated', 0.0
    UNION ALL SELECT 'sinkRows',
        CAST((SELECT count(*) FROM w, wm WHERE h + INTERVAL 1 HOUR <= wmark)
             AS DOUBLE)
    """,
)
def stream_late_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming observability: run a watermarked windowed count in append
    mode and surface the query's progress metrics (batch id, input rows,
    state rows, sink rows) as a DataFrame. With an availableNow run,
    lastProgress is the final no-data flush batch (batchId=1, 0 input
    rows): it emits every window whose end <= watermark (max event time -
    10 min) and retains the rest in state — all of which the oracle
    recomputes from the batch table, making Spark's streaming-progress
    accounting itself value-checked."""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    result, q = _run_to_memory(agg, "append")
    progress = q.lastProgress or {}
    state = (progress.get("stateOperators") or [{}])[0]
    rows = [
        ("batchId", float(progress.get("batchId", -1))),
        ("numInputRows", float(progress.get("numInputRows", 0))),
        ("stateRowsTotal", float(state.get("numRowsTotal", 0))),
        ("stateRowsUpdated", float(state.get("numRowsUpdated", 0))),
        ("sinkRows", float(result.count())),
    ]
    return spark.createDataFrame(rows, "metric string, value double")


@register(
    "stream_foreach_batch",
    oracle="""
    SELECT event_type, count(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: the standard escape hatch for writing a stream
    into systems without a native streaming sink (JDBC upserts, MERGEs).
    Each micro-batch appends its per-type partial counts tagged with
    batch_id; the read-back deduplicates to one partial per
    (batch_id, event_type) BEFORE summing, so a batch replayed after a
    failure (at-least-once file appends) cannot double-count — idempotence
    lives at read time. The oracle checks the summed totals against the
    batch ground truth.
    """
    out = os.path.join(SCRATCH, "feb_out")
    shutil.rmtree(out, ignore_errors=True)
    ckpt = os.path.join(SCRATCH, f"feb_{uuid.uuid4().hex[:12]}")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_partial"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out)
        )

    q = (
        _events_stream(spark, sf_dir)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    shutil.rmtree(ckpt, ignore_errors=True)
    return (
        read_parquet(spark, out)
        # replay-dedupe: a re-run batch appends identical partials; keep
        # exactly one row per (batch_id, event_type)
        .groupBy("batch_id", "event_type")
        .agg(F.max("n_partial").alias("n_partial"))
        .groupBy("event_type")
        .agg(F.sum("n_partial").alias("n_events"))
    )
