"""Versioned parquet tables: a minimal transaction-log format over plain
parquet, and the one protocol by which every versioned table in the
engine publishes a version — the protocol Delta Lake and Iceberg are
built on, implemented directly:

    <root>/_log/<version %08d>.json   ordered, immutable commit records
    <root>/data/<txn-uuid>/           immutable data directories, one per
                                      commit (distributed parquet writes)

A commit record lists the data directories it ADDs and REMOVEs; the
table state at version V is the fold of records 0..V. Readers replay
the log — they never list data directories, so half-written data is
invisible by construction (the same reason Delta readers tolerate
orphaned files from failed writers), and a reader keeps the snapshot it
resolved while later versions commit. Superseded versions stay readable
(time travel) until vacuumed.

**Optimistic CAS**: a writer claims version N by creating ``_log/N.json``
with put-if-absent semantics — the record is fully written to a temp
file, then ``os.link``ed into place (hard-link creation is atomic and
fails with EEXIST if N is taken, so a record is complete the instant it
is visible and version numbers can never be double-claimed; on S3/ADLS
this maps to a conditional PUT, on HDFS to atomic rename). Losing the
race means someone else committed N:

- ``append`` commits conflict with nothing — the writer rebases
  automatically (claims N+1) and its files are appended after the
  winner's.
- ``replace`` commits (overwrite/MERGE rewrites) declare the snapshot
  version they were computed FROM; if anything committed after that
  base, the writer's inputs are stale and ``ConflictError`` is raised —
  the caller must re-read the new snapshot, recompute, and re-commit
  (write-serializable semantics, same default as Delta's
  ConcurrentAppendException path).

**Audit**: every commit re-reads its staged files and records their row
count. Given ``expected_rows`` (the writer's independently computed
expectation), a mismatch removes the staged directory and raises
``AuditError`` before any version is claimed, so a lost or duplicated
write never becomes visible.

**Change feed**: ``changes(spark, key)`` derives every commit's
row-level changes from the log, in the shape of Delta's
``table_changes``: append commits are exactly the files they added, and
replace commits are one full-outer key diff of the adjacent snapshots.

Scale: data reads/writes are ordinary distributed Spark jobs; only the
per-commit JSON records (bytes) touch the driver — identical split to
Delta's _delta_log. Log replay is O(commits) driver-side metadata, or
O(tail) after a checkpoint (``write_checkpoint``).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from functools import reduce
from operator import or_

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from kwery_spark.catalog import table
from kwery_spark.registry import register
from kwery_spark.sources.scans import pid_dir


class ConflictError(Exception):
    """A replace commit's base snapshot went stale: another writer
    committed after the version this writer read. Re-read + recompute +
    re-commit (or give up)."""


class AuditError(Exception):
    """A commit's staged files re-read to a row count other than the
    writer's expectation; the staged directory is removed and no version
    is claimed."""


class TxnLogTable:
    def __init__(self, root: str):
        self.root = root
        self.log_dir = os.path.join(root, "_log")
        self.data_dir = os.path.join(root, "data")
        os.makedirs(self.log_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # -- log plumbing -----------------------------------------------------

    def latest_version(self) -> int | None:
        versions = [
            int(e[:-5])
            for e in os.listdir(self.log_dir)
            if e.endswith(".json") and e[:-5].isdigit()
        ]
        return max(versions) if versions else None

    def entry(self, version: int) -> dict:
        """Commit metadata for one log version (operation, add/remove dir
        lists, base_version) — the read surface for log replay and
        change-feed consumers."""
        with open(os.path.join(self.log_dir, f"{version:08d}.json")) as f:
            return json.load(f)

    def live_dirs(self, version: int | None = None) -> list[str]:
        """Replay commits 0..version → the data directories that
        constitute that snapshot (in commit order: deterministic).
        Resumes from the newest checkpoint ≤ version when one exists
        (see write_checkpoint)."""
        return self.snapshot_dirs(version)[0]

    def snapshot_dirs(
        self, version: int | None = None
    ) -> tuple[list[str], int | None, int]:
        """(live dirs, checkpoint version used or None, tail records
        replayed after it). The replay starts from the newest checkpoint
        at-or-below ``version`` — O(tail) driver metadata instead of
        O(commits), exactly Delta's _last_checkpoint contract; a pinned
        time-travel version below every checkpoint falls back to full
        replay."""
        v = self.latest_version() if version is None else version
        if v is None:
            return [], None, 0
        live: list[str] = []
        start = 0
        cp = self.latest_checkpoint(v)
        if cp is not None:
            live = list(cp["live"])
            start = cp["version"] + 1
        for i in range(start, v + 1):
            e = self.entry(i)
            removed = set(e.get("remove", []))
            live = [d for d in live if d not in removed]
            live.extend(e.get("add", []))
        return live, (cp["version"] if cp is not None else None), v + 1 - start

    def write_checkpoint(self, version: int | None = None) -> int:
        """Fold commits 0..version into one checkpoint record
        (``<v>.checkpoint.json``). Idempotent (content is a pure function
        of the immutable log prefix); staged to a temp file and renamed
        so readers never see a partial record. Returns the checkpointed
        version."""
        v = self.latest_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no commits to checkpoint under {self.root}")
        live, _, _ = self.snapshot_dirs(v)
        final = os.path.join(self.log_dir, f"{v:08d}.checkpoint.json")
        tmp = os.path.join(self.log_dir, f".tmp_cp_{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump({"version": v, "live": live}, f)
        os.replace(tmp, final)
        return v

    def latest_checkpoint(self, version: int | None = None) -> dict | None:
        """Newest checkpoint record at-or-below ``version`` (or the
        newest overall when None)."""
        suffix = ".checkpoint.json"
        versions = [
            int(e[: -len(suffix)])
            for e in os.listdir(self.log_dir)
            if e.endswith(suffix) and e[: -len(suffix)].isdigit()
        ]
        if version is not None:
            versions = [c for c in versions if c <= version]
        if not versions:
            return None
        with open(
            os.path.join(self.log_dir, f"{max(versions):08d}{suffix}")
        ) as f:
            return json.load(f)

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Snapshot read (or time travel to a pinned version)."""
        dirs = self.live_dirs(version)
        if not dirs:
            raise FileNotFoundError(f"no committed snapshot under {self.root}")
        return spark.read.parquet(*[os.path.join(self.root, d) for d in dirs])

    def changes(self, spark: SparkSession, key: str) -> DataFrame:
        """Row-level change feed of every commit, in the shape of Delta's
        ``table_changes``: the table's columns plus ``_change_type``
        (insert / delete / update_preimage / update_postimage) and
        ``_commit_version``. The path is chosen per commit from its log
        record:

        - append: the changes are exactly the files the commit ADDed,
          tagged insert — no join, only that commit's files are read.
        - replace: one full-outer diff of the adjacent snapshots on
          ``key`` (one hash shuffle). Left-only keys are deletes,
          right-only keys inserts, and a key whose other columns differ
          (``eqNullSafe``) emits a preimage/postimage pair. The entries
          explode from one array, so the join is planned once rather
          than once per change type (Catalyst does not share
          unpersisted subplans).

        A format that stores change files at write time reads them
        instead; the diff is the fallback any time-travel table
        supports."""
        latest = self.latest_version()
        if latest is None:
            raise FileNotFoundError(f"no committed snapshot under {self.root}")
        parts = []
        for v in range(latest + 1):
            entry = self.entry(v)
            if entry["operation"] == "append":
                part = spark.read.parquet(
                    *[os.path.join(self.root, d) for d in entry["add"]]
                ).withColumn("_change_type", F.lit("insert"))
            else:
                part = self._replace_changes(spark, v, key)
            parts.append(part.withColumn("_commit_version", F.lit(v).cast("long")))
        return reduce(DataFrame.unionByName, parts)

    def _replace_changes(self, spark: SparkSession, version: int, key: str) -> DataFrame:
        pre = self.read(spark, version - 1)
        cols = pre.columns

        def side(df: DataFrame, prefix: str) -> DataFrame:
            return df.select(*[F.col(c).alias(prefix + c) for c in cols])

        def image(prefix: str, change: str):
            return F.struct(
                *[F.col(prefix + c).alias(c) for c in cols],
                F.lit(change).alias("_change_type"),
            )

        differs = reduce(
            or_,
            (~F.col("pre_" + c).eqNullSafe(F.col("post_" + c)) for c in cols if c != key),
            F.lit(False),
        )
        row_type = StructType([*pre.schema.fields, StructField("_change_type", StringType())])
        entries = (
            F.when(F.col("post_" + key).isNull(), F.array(image("pre_", "delete")))
            .when(F.col("pre_" + key).isNull(), F.array(image("post_", "insert")))
            .when(
                differs,
                F.array(image("pre_", "update_preimage"), image("post_", "update_postimage")),
            )
            .otherwise(F.array().cast(ArrayType(row_type)))
        )
        diff = side(pre, "pre_").join(
            side(self.read(spark, version), "post_"),
            F.col("pre_" + key) == F.col("post_" + key),
            "full",
        )
        return diff.select(F.explode(entries).alias("e")).select("e.*")

    # -- commit protocol --------------------------------------------------

    def _publish(self, version: int, record: dict) -> bool:
        """Put-if-absent of the commit record. True iff this writer won
        version ``version``."""
        final = os.path.join(self.log_dir, f"{version:08d}.json")
        tmp = os.path.join(self.log_dir, f".tmp_{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(record, f)
        try:
            os.link(tmp, final)  # atomic; EEXIST = lost the race
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def commit(
        self,
        spark: SparkSession,
        df: DataFrame,
        operation: str,
        base_version: int | None = None,
        expected_rows: int | None = None,
    ) -> int:
        """Write ``df`` as a new commit. ``operation``:

        - "append": add files to the current snapshot; auto-rebases on
          CAS loss (appends commute).
        - "replace": the new snapshot REPLACES everything live at
          ``base_version`` (required); raises ConflictError if any
          commit landed after it.

        With ``expected_rows``, raises AuditError when the staged files
        re-read to another count. Returns the committed version."""
        if operation not in ("append", "replace"):
            raise ValueError(f"unknown operation {operation!r}")
        if operation == "replace" and base_version is None:
            raise ValueError("replace requires base_version")
        txn = uuid.uuid4().hex
        rel = os.path.join("data", txn)
        path = os.path.join(self.root, rel)
        df.write.mode("errorifexists").parquet(path)  # immutable commit dir
        rows = spark.read.parquet(path).count()  # audit re-read (see module doc)
        if expected_rows is not None and rows != expected_rows:
            shutil.rmtree(path, ignore_errors=True)
            raise AuditError(f"staged {rows} rows, expected {expected_rows}")
        while True:
            latest = self.latest_version()
            if operation == "replace":
                if latest != base_version:
                    shutil.rmtree(path, ignore_errors=True)  # quarantine
                    raise ConflictError(
                        f"base v{base_version} is stale: latest is v{latest}"
                    )
                remove = self.live_dirs(base_version)
            else:
                remove = []
            n = 0 if latest is None else latest + 1
            record = {
                "version": n,
                "operation": operation,
                "base_version": base_version,
                "add": [rel],
                "remove": remove,
                "rows": rows,
                "schema": df.schema.simpleString(),
                "txn": txn,
            }
            if self._publish(n, record):
                return n
            # lost the CAS: appends rebase and retry; replaces re-check
            # staleness at the top of the loop (and raise there)


def _txn_root(sf_dir: str, name: str) -> str:
    """Per-process fixture root (ADVICE r4): the r4 root was keyed only by
    sf basename, so two concurrent check sessions running the same key
    rmtree'd each other's _log mid-protocol — the same cross-process race
    class scans._stage_once fixed with flock. A pid dir makes live
    sessions disjoint (no lock needed: the fixture is private state, not
    a shared stage)."""
    return pid_dir("txnlog", f"{name}_{os.path.basename(sf_dir.rstrip('/'))}")


def _fresh_table(sf_dir: str, name: str) -> TxnLogTable:
    """An empty table at this process's fixture root ``name``; the root is
    wiped first, so every fixture is idempotent across re-runs."""
    root = _txn_root(sf_dir, name)
    shutil.rmtree(root, ignore_errors=True)
    return TxnLogTable(root)


def _customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )


def _customer_log(spark: SparkSession, sf_dir: str, name: str) -> TxnLogTable:
    """The customer fixtures' shared prelude: a fresh table holding

      v0 append   two thirds of the customer rows (initial load)
      v1 append   the remaining third (late batch; appends commute)"""
    t = _fresh_table(sf_dir, name)
    cust = _customers(spark, sf_dir)
    t.commit(spark, cust.filter(F.col("c_custkey") % 3 != 0), "append")
    t.commit(spark, cust.filter(F.col("c_custkey") % 3 == 0), "append")
    return t


def bump_building(df: DataFrame) -> DataFrame:
    """The fixtures' MERGE: +100.0 balance for the BUILDING segment.
    Integral +100.0 keeps every balance exact in both engines."""
    return df.withColumn(
        "c_acctbal",
        F.when(
            F.col("c_mktsegment") == "BUILDING", F.col("c_acctbal") + 100.0
        ).otherwise(F.col("c_acctbal")),
    )


def _merged_customer_log(spark: SparkSession, sf_dir: str, name: str) -> TxnLogTable:
    """The prelude plus

      v2 replace  MERGE computed from v1: bump_building, then delete
                  still-negative balances"""
    t = _customer_log(spark, sf_dir, name)
    base = t.latest_version()
    merged = bump_building(t.read(spark, base)).filter(F.col("c_acctbal") >= 0)
    t.commit(spark, merged, "replace", base_version=base)
    return t


@register(
    "sink_snapshot",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_cust,
           CAST(sum(CAST(floor(c_acctbal) AS BIGINT)) AS BIGINT) AS bal_floor_sum,
           CAST(2 AS BIGINT) AS snapshot_version
    FROM customer WHERE c_acctbal >= 0
    GROUP BY c_mktsegment
    """,
)
def sink_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish lifecycle, then a read of the latest version:

      v1  full customer table          — audit passes, committed
      v2  negative balances deleted    — audit passes, committed
      v3  deliberately short write     — audit FAILS, never committed

    (log versions 0-2; the labels count from 1). The read-back must see
    exactly v2: the oracle recomputes v2's state from the source, and
    snapshot_version pins that the failed v3 commit claimed no version.
    Every expected count is computed from the source, independently of
    the staged files the audit re-reads."""
    t = _fresh_table(sf_dir, "snapshot")
    cust = _customers(spark, sf_dir)
    n_full = cust.count()
    v1 = t.commit(spark, cust, "append", expected_rows=n_full)
    v2_df = cust.filter(F.col("c_acctbal") >= 0)
    v2 = t.commit(spark, v2_df, "replace", base_version=v1, expected_rows=v2_df.count())
    # v3 stages a partial table but claims the full count: audit refuses
    bad = cust.filter(F.col("c_custkey") % 7 == 0)
    try:
        t.commit(spark, bad, "replace", base_version=v2, expected_rows=n_full)
    except AuditError:
        pass
    return (
        t.read(spark)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum(F.floor("c_acctbal").cast("long")).alias("bal_floor_sum"),
        )
        .withColumn("snapshot_version", F.lit(t.latest_version() + 1).cast("long"))
    )


@register(
    "sink_txn_log",
    oracle="""
    WITH merged AS (
        SELECT c_custkey, c_mktsegment,
               CASE WHEN c_mktsegment = 'BUILDING'
                    THEN c_acctbal + 100.0 ELSE c_acctbal END AS bal
        FROM customer
    )
    SELECT c_mktsegment,
           count(*) AS n_cust,
           CAST(sum(CAST(floor(bal) AS BIGINT)) AS BIGINT) AS bal_floor_sum,
           CAST(3 AS BIGINT) AS final_version,
           CAST(1 AS BIGINT) AS n_conflicts
    FROM merged
    WHERE bal >= 0
    GROUP BY c_mktsegment
    """,
)
def sink_txn_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full multi-writer lifecycle on the transaction-log table:

      v0 append   two thirds of the customer table (initial load)
      v1 append   the remaining third (late batch; appends commute)
      v2 replace  MERGE: +100.0 balance for the BUILDING segment,
                  computed FROM v1 — commits cleanly (base is latest)
      --          a second writer ALSO computes a rewrite from v1
                  (delete negative balances); its replace commit now
                  CONFLICTS with v2 and raises — detected, counted
      v3 replace  that writer re-reads v2, recomputes, re-commits

    The read-back replays the log to v3 and must equal "bump then
    delete" applied in commit order — which is what the oracle
    recomputes from the source table. final_version pins that the
    conflicting commit did NOT claim a version; n_conflicts pins that
    the conflict path actually fired. Floor-before-sum keeps the
    checksum order-independent."""
    t = _customer_log(spark, sf_dir, "customers")

    # writer A: MERGE computed from the v1 snapshot
    base_a = t.latest_version()
    snap_a = t.read(spark, base_a)
    t.commit(spark, bump_building(snap_a), "replace", base_version=base_a)

    # writer B: rewrite ALSO computed from v1 — stale by the time it
    # commits; must detect the conflict, rebase on v2, and re-commit
    n_conflicts = 0
    delete_neg = lambda df: df.filter(F.col("c_acctbal") >= 0)  # noqa: E731
    try:
        t.commit(spark, delete_neg(snap_a), "replace", base_version=base_a)
    except ConflictError:
        n_conflicts += 1
        base_b = t.latest_version()
        t.commit(
            spark, delete_neg(t.read(spark, base_b)), "replace", base_version=base_b
        )
    final_version = t.latest_version()

    return (
        t.read(spark)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum(F.floor("c_acctbal").cast("long")).alias("bal_floor_sum"),
        )
        .withColumn("final_version", F.lit(final_version).cast("long"))
        .withColumn("n_conflicts", F.lit(n_conflicts).cast("long"))
    )


@register(
    "warehouse_log_checkpoint",
    oracle="""
    WITH bumped AS (
        SELECT c_mktsegment,
               CASE WHEN c_mktsegment = 'BUILDING'
                    THEN c_acctbal + 100.0 ELSE c_acctbal END AS bal
        FROM customer
    ),
    late AS (
        SELECT c_mktsegment, c_acctbal AS bal
        FROM customer WHERE c_mktsegment = 'MACHINERY'
    ),
    snapshot AS (
        SELECT * FROM bumped UNION ALL SELECT * FROM late
    )
    SELECT c_mktsegment,
           count(*) AS n_cust,
           CAST(sum(CAST(floor(bal) AS BIGINT)) AS BIGINT) AS bal_floor_sum,
           CAST(2 AS BIGINT) AS checkpoint_version,
           CAST(1 AS BIGINT) AS n_tail_replayed,
           CAST(1 AS BIGINT) AS checkpoint_matches_full
    FROM snapshot
    GROUP BY c_mktsegment
    """,
)
def warehouse_log_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log checkpoint compaction (r9) — the piece the module doc
    deferred to "a production deployment": after v0/v1 appends and a v2
    replace (BUILDING +100.0 MERGE), the log is checkpointed at v2, then
    a LATE append (the MACHINERY batch, a legal duplicate append) lands
    as v3. The read replays checkpoint + 1 tail record instead of 4
    commits — Delta's _last_checkpoint contract, O(tail) driver
    metadata.

    Value-checked three ways: the per-segment counts/floor-checksums of
    the checkpoint-path read equal the oracle's recomputation of "bump
    then duplicate-append" in commit order; checkpoint_version /
    n_tail_replayed pin WHICH checkpoint served the read and that only
    the tail was replayed; checkpoint_matches_full is a Spark-side
    equality of the checkpoint-path dir list against a full 0..v replay
    (computed with the checkpoint records masked), which the oracle
    asserts true. Time-travel safety (a pinned version below the
    checkpoint must ignore it) is pinned in tests/test_txnlog.py."""
    t = _customer_log(spark, sf_dir, "cust_checkpoint")
    base = t.latest_version()
    t.commit(spark, bump_building(t.read(spark, base)), "replace", base_version=base)
    cp_version = t.write_checkpoint()
    late = _customers(spark, sf_dir).filter(F.col("c_mktsegment") == "MACHINERY")
    t.commit(spark, late, "append")

    dirs, cp_used, n_tail = t.snapshot_dirs()
    # independent full replay with the checkpoint masked: fold every
    # commit record from v0 (bytes-sized driver metadata, the pre-
    # checkpoint code path)
    full: list[str] = []
    for i in range(t.latest_version() + 1):
        e = t.entry(i)
        removed = set(e.get("remove", []))
        full = [d for d in full if d not in removed]
        full.extend(e.get("add", []))
    return (
        t.read(spark)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum(F.floor("c_acctbal").cast("long")).alias("bal_floor_sum"),
        )
        .withColumn("checkpoint_version", F.lit(cp_used).cast("long"))
        .withColumn("n_tail_replayed", F.lit(n_tail).cast("long"))
        .withColumn(
            "checkpoint_matches_full",
            F.lit(int(dirs == full and cp_used == cp_version)).cast("long"),
        )
    )


@register(
    "warehouse_merge_txn",
    oracle="""
    WITH target AS (
        SELECT o_orderkey, o_orderpriority, o_totalprice
        FROM orders WHERE o_orderkey <= 10000
    ),
    source AS (
        SELECT o_orderkey, o_orderpriority,
               round(o_totalprice * 1.1, 2) AS new_price
        FROM orders WHERE o_orderkey BETWEEN 5000 AND 15000
    ),
    merged AS (
        SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
               coalesce(s.o_orderpriority, t.o_orderpriority) AS o_orderpriority,
               coalesce(s.new_price, t.o_totalprice) AS price,
               CASE WHEN t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
                         THEN 'updated'
                    WHEN s.o_orderkey IS NOT NULL THEN 'inserted'
                    ELSE 'unchanged' END AS action
        FROM target t FULL JOIN source s ON t.o_orderkey = s.o_orderkey
    )
    SELECT o_orderpriority, action,
           count(*) AS n_rows,
           CAST(sum(CAST(floor(price) AS BIGINT)) AS BIGINT) AS price_checksum,
           CAST(1 AS BIGINT) AS table_version
    FROM merged
    GROUP BY o_orderpriority, action
    """,
)
def warehouse_merge_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """merge_upsert's MERGE, re-pointed at the transaction-log table
    (VERDICT r3 item 5): the target snapshot is SEEDED as an append
    commit (v0), the full-outer-join MERGE rewrite lands as a replace
    commit (v1), and the result is READ BACK by log replay — so the
    values the oracle checks round-tripped through the committed parquet
    files, not just a logical plan. Same merge semantics and checksum as
    merge_upsert, plus the committed version pin."""
    t = _fresh_table(sf_dir, "orders_merge")
    o = table(spark, sf_dir, "orders")
    target = o.filter(F.col("o_orderkey") <= 10000).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    base = t.commit(spark, target, "append")
    source = o.filter(F.col("o_orderkey").between(5000, 15000)).select(
        F.col("o_orderkey").alias("s_orderkey"),
        F.col("o_orderpriority").alias("s_priority"),
        F.round(F.col("o_totalprice") * 1.1, 2).alias("new_price"),
    )
    tgt = t.read(spark, base)
    merged = tgt.join(source, tgt.o_orderkey == source.s_orderkey, "full").select(
        F.coalesce("o_orderkey", "s_orderkey").alias("o_orderkey"),
        F.coalesce("s_priority", "o_orderpriority").alias("o_orderpriority"),
        F.coalesce("new_price", "o_totalprice").alias("price"),
        F.when(
            F.col("o_orderkey").isNotNull() & F.col("s_orderkey").isNotNull(),
            "updated",
        )
        .when(F.col("s_orderkey").isNotNull(), "inserted")
        .otherwise("unchanged")
        .alias("action"),
    )
    version = t.commit(spark, merged, "replace", base_version=base)
    return (
        t.read(spark, version)
        .groupBy("o_orderpriority", "action")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.floor("price").cast("long")).alias("price_checksum"),
        )
        .withColumn("table_version", F.lit(version).cast("long"))
    )


@register(
    "warehouse_snapshot_diff",
    oracle="""
    WITH v1 AS (
        SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
    ),
    v2 AS (
        SELECT c_custkey, c_mktsegment,
               CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal + 100.0
                    ELSE c_acctbal END AS c_acctbal
        FROM customer WHERE c_acctbal >= 0
    )
    SELECT
        CAST((SELECT count(*) FROM v2 WHERE c_custkey NOT IN
              (SELECT c_custkey FROM v1)) AS BIGINT) AS rows_added,
        CAST((SELECT count(*) FROM v1 WHERE c_custkey NOT IN
              (SELECT c_custkey FROM v2)) AS BIGINT) AS rows_removed,
        CAST((SELECT count(*) FROM v1 JOIN v2 USING (c_custkey)
              WHERE v1.c_acctbal <> v2.c_acctbal
                 OR v1.c_mktsegment <> v2.c_mktsegment) AS BIGINT)
            AS rows_changed,
        CAST((SELECT count(*) FROM v1 JOIN v2 USING (c_custkey)
              WHERE v1.c_acctbal = v2.c_acctbal
                AND v1.c_mktsegment = v2.c_mktsegment) AS BIGINT)
            AS rows_unchanged
    """,
)
def warehouse_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the table-format audit question "what changed
    between version N and N+1": two versions are committed with audited
    counts (v0 = full customer table; v1 = negative balances deleted,
    BUILDING balances adjusted +100), then both are read back (time
    travel) and diffed by primary key into added/removed/changed/
    unchanged counts — the Delta CDF / Iceberg changelog readout as
    summary counts.

    Scale: the diff is keyed on the primary key (two anti-join counts +
    one inner join, all shuffling on c_custkey); no driver-side data.

    Determinism: +100.0 on 2-decimal balances is exact; counts are
    integers; the oracle recomputes both versions from the source."""
    t = _fresh_table(sf_dir, "snapshot_diff")
    cust = _customers(spark, sf_dir)
    v1 = t.commit(spark, cust, "append", expected_rows=cust.count())
    v2_df = bump_building(cust.filter(F.col("c_acctbal") >= 0))
    v2 = t.commit(spark, v2_df, "replace", base_version=v1, expected_rows=v2_df.count())
    s1 = t.read(spark, v1).alias("v1")
    s2 = t.read(spark, v2).alias("v2")
    added = s2.join(s1, "c_custkey", "left_anti").agg(
        F.count(F.lit(1)).alias("rows_added")
    )
    removed = s1.join(s2, "c_custkey", "left_anti").agg(
        F.count(F.lit(1)).alias("rows_removed")
    )
    joined = s1.join(s2, "c_custkey")
    same = (F.col("v1.c_acctbal") == F.col("v2.c_acctbal")) & (
        F.col("v1.c_mktsegment") == F.col("v2.c_mktsegment")
    )
    changed = joined.agg(
        F.sum(F.when(~same, 1).otherwise(0)).cast("long").alias("rows_changed"),
        F.sum(F.when(same, 1).otherwise(0)).cast("long").alias("rows_unchanged"),
    )
    return (
        added.join(F.broadcast(removed))
        .join(F.broadcast(changed))
        .select(
            F.col("rows_added").cast("long"),
            F.col("rows_removed").cast("long"),
            "rows_changed",
            "rows_unchanged",
        )
    )


@register(
    "stream_cdc_feed",
    oracle="""
    WITH c AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
    v0 AS (SELECT * FROM c WHERE c_custkey % 3 <> 0),
    ins1 AS (SELECT * FROM c WHERE c_custkey % 3 = 0),
    bumped AS (
        SELECT c_custkey,
               CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal + 100.0
                    ELSE c_acctbal END AS newbal,
               c_acctbal AS oldbal
        FROM c
    ),
    feed AS (
        SELECT 0 AS commit_version, 'insert' AS change_type, c_acctbal AS bal
        FROM v0
        UNION ALL
        SELECT 1, 'insert', c_acctbal FROM ins1
        UNION ALL
        SELECT 2, 'delete', oldbal FROM bumped WHERE newbal < 0
        UNION ALL
        SELECT 2, 'update_preimage', oldbal FROM bumped
        WHERE newbal >= 0 AND newbal <> oldbal
        UNION ALL
        SELECT 2, 'update_postimage', newbal FROM bumped
        WHERE newbal >= 0 AND newbal <> oldbal
    )
    SELECT CAST(commit_version AS BIGINT) AS commit_version, change_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(bal) AS BIGINT)) AS BIGINT) AS bal_floor_sum
    FROM feed GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def stream_cdc_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed readout over the transaction-log table — the
    readChangeFeed surface of Delta/Iceberg as an incremental batch:
    every row-level change (insert / delete / update_preimage /
    update_postimage) of every commit, from ``TxnLogTable.changes``
    keyed by the primary key.

    The fixture commits three versions of the customer table:
      v0 append   two thirds of the rows (initial load)
      v1 append   the remaining third
      v2 replace  MERGE computed from v1: +100.0 balance for the
                  BUILDING segment, then delete still-negative balances

    so the two append commits take the feed's no-join path and the
    replace commit its one full-outer key diff. The feed is aggregated
    per (commit_version, change_type) into counts + a floor-sum balance
    checksum — order-independent and exact (+100.0 on integral-cent
    doubles is exact; floor-before-sum keeps the BIGINT checksum
    summation-order-free). The oracle recomputes the same three
    versions and the same diff algebra from the source table."""
    t = _merged_customer_log(spark, sf_dir, "cdc_feed")
    return (
        t.changes(spark, "c_custkey")
        .groupBy(
            F.col("_commit_version").alias("commit_version"),
            F.col("_change_type").alias("change_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.floor("c_acctbal").cast("long")).alias("bal_floor_sum"),
        )
        # <= 4 change types x commits: single-digit row count
        .coalesce(1)
        .sortWithinPartitions("commit_version", "change_type")
    )


@register(
    "warehouse_vacuum_retention",
    oracle="""
    WITH final AS (
        SELECT c_custkey, c_mktsegment,
               CASE WHEN c_mktsegment = 'BUILDING'
                    THEN c_acctbal + 100.0 ELSE c_acctbal END AS bal
        FROM customer
    )
    SELECT c_mktsegment,
           count(*) AS n_cust,
           CAST(sum(CAST(floor(bal) AS BIGINT)) AS BIGINT) AS bal_floor_sum,
           CAST(4 AS BIGINT) AS n_versions,
           CAST(4 AS BIGINT) AS dirs_written,
           CAST(2 AS BIGINT) AS dirs_vacuumed,
           CAST(1 AS BIGINT) AS dirs_live_latest,
           CAST(1 AS BIGINT) AS time_travel_ok
    FROM final
    WHERE bal >= 0
    GROUP BY c_mktsegment
    """,
)
def warehouse_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM with a retention horizon — the lakehouse maintenance op
    (Delta VACUUM / Iceberg expire_snapshots): after a 4-commit
    lifecycle (two appends, a MERGE-style replace, a delete-rewrite
    replace), physically delete every data directory not referenced by
    any snapshot inside the retention window (here: the latest TWO
    versions — the time-travel horizon), and prove the table still
    serves both retained snapshots afterwards.

      v0 append   two thirds of customer        -> dir d0
      v1 append   remaining third               -> dir d1
      v2 replace  +100.0 for BUILDING (from v1) -> dir d2 (removes d0,d1)
      v3 replace  delete negative bal (from v2) -> dir d3 (removes d2)

    Retained = dirs referenced by v2 or v3 = {d2, d3}; vacuumable =
    {d0, d1} — deleted with rmtree, then the LIVE read (v3) and the
    time-travel read (v2) are re-executed against the vacuumed table,
    so the emitted per-segment aggregate round-tripped through the
    post-vacuum files. The dir accounting (4 written / 2 vacuumed / 1
    live) is pinned as literals the oracle asserts, exactly like
    sink_txn_log's final_version/n_conflicts.

    Scale: vacuum planning is pure log arithmetic (set difference over
    the commit records — no data scan); the deletes are O(dead dirs).
    At 100 TB the same replay runs on the driver over the log, and the
    file deletes fan out to object storage unchanged. The only
    driver-side values are bounded fixture accounting scalars (the
    sanctioned class)."""
    t = _customer_log(spark, sf_dir, "vacuum")
    v1 = t.latest_version()
    v2 = t.commit(spark, bump_building(t.read(spark, v1)), "replace", base_version=v1)
    v3 = t.commit(
        spark,
        t.read(spark, v2).filter(F.col("c_acctbal") >= 0),
        "replace",
        base_version=v2,
    )
    n_versions = v3 + 1

    # -- vacuum: delete everything outside the 2-version retention window
    dirs_written = sorted(os.listdir(t.data_dir))
    retained: set[str] = set()
    for v in (v3 - 1, v3):
        retained.update(os.path.basename(d) for d in t.live_dirs(v))
    vacuumable = [d for d in dirs_written if d not in retained]
    for d in vacuumable:
        shutil.rmtree(os.path.join(t.data_dir, d), ignore_errors=True)

    # both retained snapshots must still be readable post-vacuum
    time_travel_ok = int(t.read(spark, v3 - 1).count() > 0)
    live = t.read(spark, v3)
    return (
        live.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum(F.floor("c_acctbal").cast("long")).alias("bal_floor_sum"),
        )
        .withColumn("n_versions", F.lit(n_versions).cast("long"))
        .withColumn("dirs_written", F.lit(len(dirs_written)).cast("long"))
        .withColumn("dirs_vacuumed", F.lit(len(vacuumable)).cast("long"))
        .withColumn(
            "dirs_live_latest", F.lit(len(t.live_dirs(v3))).cast("long")
        )
        .withColumn("time_travel_ok", F.lit(time_travel_ok).cast("long"))
    )


@register(
    "stream_cdc_incremental_agg",
    oracle="""
    WITH c AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
    bumped AS (
        SELECT c_custkey, c_mktsegment,
               CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal + 100.0
                    ELSE c_acctbal END AS newbal,
               c_acctbal AS oldbal
        FROM c
    ),
    deltas AS (
        -- v0+v1 appends: every source row arrives once as an insert
        SELECT c_mktsegment, 1 AS dc,
               CAST(c_acctbal AS DECIMAL(18,2)) AS db FROM c
        UNION ALL
        -- v2 replace: deletes (final balance negative)
        SELECT c_mktsegment, -1, CAST(oldbal AS DECIMAL(18,2))
        FROM bumped WHERE newbal < 0
        UNION ALL
        -- v2 replace: update preimages retract the old value
        SELECT c_mktsegment, -1, CAST(oldbal AS DECIMAL(18,2))
        FROM bumped WHERE newbal >= 0 AND newbal <> oldbal
        UNION ALL
        -- v2 replace: update postimages add the new value
        SELECT c_mktsegment, 1, CAST(newbal AS DECIMAL(18,2))
        FROM bumped WHERE newbal >= 0 AND newbal <> oldbal
    ),
    ivm AS (
        SELECT c_mktsegment,
               CAST(sum(dc) AS BIGINT) AS n_ivm,
               sum(CASE WHEN dc = 1 THEN db ELSE -db END) AS s_ivm,
               CAST(count(*) AS BIGINT) AS n_change_rows
        FROM deltas GROUP BY c_mktsegment
    ),
    truth AS (
        SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows,
               sum(CAST(newbal AS DECIMAL(18,2))) AS s_truth
        FROM bumped WHERE newbal >= 0 GROUP BY c_mktsegment
    )
    SELECT t.c_mktsegment, t.n_rows,
           round(CAST(t.s_truth AS DOUBLE), 2) AS bal_sum,
           i.n_change_rows,
           i.n_ivm = t.n_rows AS ivm_count_matches,
           i.s_ivm = t.s_truth AS ivm_sum_matches
    FROM truth t JOIN ivm i USING (c_mktsegment)
    ORDER BY t.c_mktsegment
    """,
)
def stream_cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance FED BY THE CHANGE FEED — the marriage
    of warehouse_incremental_view (the delta algebra V' = V ⊕ I ⊖ D) and
    stream_cdc_feed (the Delta-CDF-style row-level change derivation):
    a per-mktsegment (count, balance-sum) view is maintained purely from
    the transaction log's change records across three commits (two
    appends, then a MERGE-style replace that bumps BUILDING balances
    +100 and purges negatives), and the maintained view is verified
    against a from-scratch aggregate of the final snapshot. This is the
    Materialize / Delta Live Tables execution shape: the view never
    re-reads the base table, only the feed.

    Feed algebra: insert → (+1, +bal); delete → (−1, −bal); update →
    preimage (−1, −old) + postimage (+1, +new). Count and DECIMAL(18,2)
    sums are self-maintainable, so applying the signed deltas in ANY
    order gives the exact rescan answer — the equality booleans are
    theorems the oracle re-derives on the same commit algebra.

    Scale: append commits feed straight from the committed files (zero
    join work — the CDF cheap path); the replace commit pays one
    primary-key full-outer diff of adjacent snapshots. Every aggregate
    map-side-combines to <=|segments| groups; DECIMAL sums make ⊕/⊖
    order-independent. At 100 TB each refresh touches one commit's
    files, never the accumulated base."""
    t = _merged_customer_log(spark, sf_dir, "cdc_ivm")
    dec = "decimal(18,2)"
    # inserts and postimages add their row, deletes and preimages retract it
    sign = F.when(F.col("_change_type").isin("insert", "update_postimage"), 1)
    feed = t.changes(spark, "c_custkey").select(
        "c_mktsegment",
        sign.otherwise(-1).alias("dc"),
        F.col("c_acctbal").cast(dec).alias("db"),
    )
    ivm = feed.groupBy("c_mktsegment").agg(
        F.sum("dc").cast("long").alias("n_ivm"),
        F.sum(
            F.when(F.col("dc") == 1, F.col("db")).otherwise(-F.col("db"))
        ).alias("s_ivm"),
        F.count(F.lit(1)).cast("long").alias("n_change_rows"),
    )
    truth = (
        t.read(spark)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("c_acctbal").cast(dec)).alias("s_truth"),
        )
    )
    return (
        truth.join(ivm, "c_mktsegment")
        .select(
            "c_mktsegment",
            "n_rows",
            F.round(F.col("s_truth").cast("double"), 2).alias("bal_sum"),
            "n_change_rows",
            (F.col("n_ivm") == F.col("n_rows")).alias("ivm_count_matches"),
            (F.col("s_ivm") == F.col("s_truth")).alias("ivm_sum_matches"),
        )
        .coalesce(1)
        .sortWithinPartitions("c_mktsegment")
    )
