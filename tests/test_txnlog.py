"""Transaction-log table (kwery_spark/sources/txnlog.py): multi-writer
CAS semantics, conflict detection, the commit audit, log replay, time
travel, the change feed, and the invariants of the keys built on it.

The concurrency tests run two REAL writer threads against one table
(Spark job submission is thread-safe); the put-if-absent commit record
makes version claims race-free, which is exactly what these pin down.
"""

from __future__ import annotations

import json
import os
import threading

import pyspark.sql.functions as F
import pytest

from kwery_spark.catalog import table
from kwery_spark.registry import QUERIES, load_all
from kwery_spark.sources.txnlog import AuditError, ConflictError, TxnLogTable

load_all()


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "table")


def test_append_replace_replay(spark, root):
    t = TxnLogTable(root)
    v0 = t.commit(spark, spark.range(10).select(F.col("id")), "append")
    v1 = t.commit(spark, spark.range(10, 15).select(F.col("id")), "append")
    assert (v0, v1) == (0, 1)
    assert t.read(spark).count() == 15
    evens = t.read(spark, v1).filter(F.col("id") % 2 == 0)
    v2 = t.commit(spark, evens, "replace", base_version=v1)
    assert v2 == 2
    assert sorted(r.id for r in t.read(spark).collect()) == [0, 2, 4, 6, 8, 10, 12, 14]
    # time travel: superseded versions stay addressable and immutable
    assert t.read(spark, 0).count() == 10
    assert t.read(spark, 1).count() == 15


def test_stale_replace_raises_and_claims_no_version(spark, root):
    t = TxnLogTable(root)
    t.commit(spark, spark.range(20), "append")
    snap = t.read(spark, 0)
    t.commit(spark, snap.filter("id < 10"), "replace", base_version=0)
    with pytest.raises(ConflictError):
        t.commit(spark, snap.filter("id >= 10"), "replace", base_version=0)
    assert t.latest_version() == 1  # the failed writer burned no version
    assert t.read(spark).count() == 10


def test_concurrent_appends_lose_nothing(spark, root):
    t = TxnLogTable(root)
    errors = []

    def writer(base: int):
        try:
            for k in range(3):
                t.commit(
                    spark, spark.range(base + k * 100, base + k * 100 + 10), "append"
                )
        except Exception as e:  # pragma: no cover - failure detail
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(b,)) for b in (0, 1000)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    # 6 commits, contiguous unique versions 0..5 — the CAS never
    # double-claimed or skipped a version under the race
    log = sorted(os.listdir(os.path.join(root, "_log")))
    assert [int(e[:-5]) for e in log if e.endswith(".json")] == list(range(6))
    expected = sorted(
        v for b in (0, 1000) for k in range(3) for v in range(b + k * 100, b + k * 100 + 10)
    )
    assert sorted(r.id for r in t.read(spark).collect()) == expected


def test_concurrent_replace_exactly_one_wins(spark, root):
    t = TxnLogTable(root)
    t.commit(spark, spark.range(100), "append")
    base = t.latest_version()
    snap = t.read(spark, base)
    outcomes = {}
    barrier = threading.Barrier(2)

    def writer(name: str, pred: str):
        df = snap.filter(pred)
        df.count()  # stage the compute before racing on the commit
        barrier.wait()
        try:
            outcomes[name] = t.commit(spark, df, "replace", base_version=base)
        except ConflictError:
            outcomes[name] = "conflict"

    threads = [
        threading.Thread(target=writer, args=("a", "id < 50")),
        threading.Thread(target=writer, args=("b", "id >= 50")),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert sorted(outcomes.values(), key=str) in ([1, "conflict"], ["conflict", 1])
    winner_rows = t.read(spark).count()
    assert winner_rows == 50  # exactly one rewrite applied, atomically


def test_commit_records_are_auditable(spark, root):
    t = TxnLogTable(root)
    t.commit(spark, spark.range(7), "append")
    v1 = t.commit(spark, spark.range(3), "append")
    t.commit(spark, t.read(spark, v1).filter("id = 0"), "replace", base_version=v1)
    with open(os.path.join(root, "_log", "00000002.json")) as f:
        rec = json.load(f)
    assert rec["operation"] == "replace"
    assert rec["base_version"] == 1
    assert rec["rows"] == 2  # audited count of id=0 from both appends
    assert len(rec["remove"]) == 2 and len(rec["add"]) == 1


def test_random_commit_sequences_replay_correctly(spark, tmp_path):
    """Property-style check over deterministic pseudo-random commit
    sequences: after any interleaving of appends and replaces, log
    replay must equal applying the same operations to a model set in
    commit order, at EVERY historical version (time travel included)."""
    import hashlib

    for seed in ("a", "b"):
        root = str(tmp_path / f"t_{seed}")
        t = TxnLogTable(root)
        model_history = []
        model = set()
        # deterministic op sequence derived from the seed (no RNG)
        ops = [
            ("append" if int(hashlib.md5(f"{seed}{i}".encode()).hexdigest(), 16) % 3
             else "replace")
            for i in range(6)
        ]
        for i, op in enumerate(ops):
            lo, hi = i * 20, i * 20 + 10
            batch = set(range(lo, hi))
            if op == "append":
                t.commit(spark, spark.range(lo, hi), "append")
                model |= batch
            else:
                base = t.latest_version()
                if base is None:
                    t.commit(spark, spark.range(lo, hi), "append")
                    model |= batch
                else:
                    kept = t.read(spark, base).filter("id % 2 = 0")
                    t.commit(spark, kept, "replace", base_version=base)
                    model = {x for x in model if x % 2 == 0}
            model_history.append(set(model))
        for v, expected in enumerate(model_history):
            got = {r.id for r in t.read(spark, v).collect()}
            assert got == expected, (seed, v)


def test_checkpoint_resume_and_time_travel_safety(spark, root):
    """live_dirs resumes from the newest checkpoint <= the requested
    version; a pinned version BELOW every checkpoint must fall back to
    full replay (never read future state); checkpoint content equals
    the full fold."""
    t = TxnLogTable(root)
    df = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v"))
    t.commit(spark, df.filter(F.col("id") < 5), "append")          # v0
    t.commit(spark, df.filter(F.col("id") >= 5), "append")         # v1
    base = t.latest_version()
    t.commit(spark, t.read(spark, base).filter(F.col("id") != 3),
             "replace", base_version=base)                          # v2
    assert t.write_checkpoint() == 2
    t.commit(spark, df.filter(F.col("id") == 3), "append")         # v3

    # checkpoint-path snapshot: resumed at v2, replayed only v3
    dirs, cp_used, n_tail = t.snapshot_dirs()
    assert cp_used == 2 and n_tail == 1
    # equals the checkpoint-free full fold
    full = []
    for i in range(t.latest_version() + 1):
        e = t.entry(i)
        full = [d for d in full if d not in set(e.get("remove", []))]
        full.extend(e.get("add", []))
    assert dirs == full
    # values: v2 dropped id=3, v3 re-added it
    got = sorted(r.id for r in t.read(spark).collect())
    assert got == list(range(10))
    # time travel BELOW the checkpoint ignores it entirely
    d1, cp1, n1 = t.snapshot_dirs(1)
    assert cp1 is None and n1 == 2
    assert sorted(r.id for r in t.read(spark, 1).collect()) == list(range(10))
    # time travel AT the checkpoint uses it with an empty tail
    d2, cp2, n2 = t.snapshot_dirs(2)
    assert cp2 == 2 and n2 == 0
    assert 3 not in {r.id for r in t.read(spark, 2).collect()}
    # checkpoint files never masquerade as commit records
    assert t.latest_version() == 3


def test_reader_keeps_its_snapshot_across_replace(spark, sf_dir, root):
    """A reader that resolved a version before a replace commit keeps
    seeing that version's data after it; the superseded version stays
    addressable (time travel)."""
    t = TxnLogTable(root)
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    v1 = t.commit(spark, cust, "append", expected_rows=cust.count())
    reader = t.read(spark)  # binds to v1's live files now
    v1_rows = reader.count()
    half = cust.filter(F.col("c_custkey") % 2 == 0)
    t.commit(spark, half, "replace", base_version=v1, expected_rows=half.count())
    assert t.latest_version() == v1 + 1
    assert reader.count() == v1_rows
    assert t.read(spark).count() == half.count() < v1_rows
    assert t.read(spark, v1).count() == v1_rows


def test_failed_audit_claims_no_version(spark, sf_dir, root):
    """A staged write whose re-read count misses the expectation raises
    AuditError, claims no version and removes its staged data dir."""
    t = TxnLogTable(root)
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    n = cust.count()
    v0 = t.commit(spark, cust, "append", expected_rows=n)
    short = cust.filter(F.col("c_custkey") % 3 == 0)
    with pytest.raises(AuditError):
        t.commit(spark, short, "replace", base_version=v0, expected_rows=n)
    assert t.latest_version() == v0
    assert len(os.listdir(t.data_dir)) == 1
    assert t.read(spark).count() == n


def test_changes_classify_every_commit(spark, root):
    """The change feed: an append commit's rows are inserts; a replace
    commit diffs on the key into delete / insert / update pre- and
    postimages, with a null-to-value change counted as an update."""
    t = TxnLogTable(root)
    rows = lambda *r: spark.createDataFrame(list(r), "k INT, v STRING")  # noqa: E731
    t.commit(spark, rows((1, "a"), (2, None), (3, "c")), "append")
    t.commit(spark, rows((4, "d")), "append")
    new = rows((1, "a"), (2, "b"), (4, "x"), (5, "e"))
    t.commit(spark, new, "replace", base_version=1)
    feed = t.changes(spark, "k")
    assert feed.columns == ["k", "v", "_change_type", "_commit_version"]
    got = sorted(map(tuple, feed.collect()), key=str)
    assert got == sorted([
        (1, "a", "insert", 0), (2, None, "insert", 0), (3, "c", "insert", 0),
        (4, "d", "insert", 1),
        (3, "c", "delete", 2), (5, "e", "insert", 2),
        (2, None, "update_preimage", 2), (2, "b", "update_postimage", 2),
        (4, "d", "update_preimage", 2), (4, "x", "update_postimage", 2),
    ], key=str)


def test_sink_snapshot_rerun_idempotent(spark, sf_dir):
    first = sorted(map(tuple, QUERIES["sink_snapshot"](spark, sf_dir).collect()))
    second = sorted(map(tuple, QUERIES["sink_snapshot"](spark, sf_dir).collect()))
    assert first == second


def test_vacuum_preserves_live_snapshot(spark, sf_dir):
    rows = QUERIES["warehouse_vacuum_retention"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_versions"] == 4
        assert r["dirs_written"] == 4
        assert r["dirs_vacuumed"] == 2
        assert r["dirs_live_latest"] == 1
        assert r["time_travel_ok"] == 1


def test_cdc_incremental_agg_ivm_parity(spark, sf_dir):
    rows = QUERIES["stream_cdc_incremental_agg"](spark, sf_dir).collect()
    assert rows, "no segments emitted"
    for r in rows:
        # the self-maintainability theorem: feed-applied view == rescan
        assert r.ivm_count_matches is True, r
        assert r.ivm_sum_matches is True, r
        assert r.n_rows >= 0 and r.n_change_rows >= r.n_rows, r
    # segment totals must agree with an independent recomputation of the
    # final state from the source table
    cust = table(spark, sf_dir, "customer")
    final = (
        cust.withColumn(
            "bal",
            F.when(
                F.col("c_mktsegment") == "BUILDING", F.col("c_acctbal") + 100.0
            ).otherwise(F.col("c_acctbal")),
        )
        .filter(F.col("bal") >= 0)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("bal").cast("decimal(18,2)")).cast("double"), 2).alias("s"),
        )
    )
    truth = {r.c_mktsegment: (r.n, r.s) for r in final.collect()}
    for r in rows:
        assert truth[r.c_mktsegment] == (r.n_rows, r.bal_sum), r
