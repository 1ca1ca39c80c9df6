"""Benchmark harness (driver contract).

Runs the headline queries (BASELINE.md keys) at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints
ONE JSON line:  {"metric": ..., "value": N, "unit": "sec", "queries":
{...}, "sf": ..., "scaled": {...}}.

The printed line is kept COMPACT (< 2000 bytes): the driver's log capture
stores only the tail of stdout, and from r5-r10 the verbose line outgrew
it, so the recorded BENCH_r{N}.json carried an unparseable fragment
(parsed: null). The full per-section payload (LLM-key sections, prose
protocol notes, floor estimates) is written to ``BENCH_DETAIL.json``
next to this file; the printed line links to it via the "detail" field.

Protocol mirrors BASELINE.md: per query 1 warm-up run then best of 3
timed runs (the TPC-H trio gets one extra repetition AFTER the full pass
completes, BOTH engines — see TPCH_TRIO), timing = plan build + full
result materialization. Materialization uses the engine's fast path —
Arrow columnar transfer (toPandas) — matching DuckDB's in-process
columnar fetchall. Every timed run rebuilds the plan and re-executes all
stages (no shuffle-output reuse; see the note in kwery_spark/registry.py).

Load-gated trio repetition (r11, VERDICT r10 item 1): the TPC-H trio has
wobbled ±40% across driver rounds with an unchanged, closed plan — box
load during a section's best-of window poisons single-run mins. Each
section records loadavg before measuring; if the 1-minute load exceeds
LOAD_RERUN_THRESHOLD the trio gets ONE more repetition in BOTH engines
(symmetric, so the ratio is unbiased) and the section reports
``trio_rerun: true``. Bounded cost, deterministic protocol.

``scaled`` (added r4, VERDICT item 1): when benching the real sf0.1
corpus, the suite ALSO runs at sf1 (~6M lineitem), sf3 (~18M) and sf10
on deterministic key-shifted upscales of the driver corpus
(tools/gen_sf1.py), measuring DuckDB on the SAME files with the SAME
warm best-of protocol. Since r11 each scaled section runs in its OWN
subprocess (``bench.py --section sfN``): a fresh JVM per section, ending
the late-session GC-throttle that inflated the last section of a
long-lived multi-scale session (q5 sf10 measured 1.6 s fresh vs 3.7 s
late-session, r6) — and symmetric with DuckDB, which always got a fresh
connection per section. This is where the fixed ~0.15 s/job local-mode
scheduling floor amortizes and the engines compare on execution:
measured ratios fall from ~5x (sf0.1, floor-dominated) through ~1.3x
(sf3) to below 1x (sf10/sf30) — see BASELINE.md "Scale crossover".
Set SPARK_GRAFT_SCALED=0 to skip, SPARK_GRAFT_SF30=1 to add sf30.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from kwery_spark.session import get_spark

# Per-query local-mode floor estimate (BASELINE.md probes: ~55 ms Arrow
# materialization + ~60-76 ms per job, 2-9 jobs/query under AQE). Emitted
# with every section so "floor-dominated vs execution-bound" is
# machine-readable: spark_sec close to this is scheduling, not engine.
EST_FLOOR_SEC = 0.15

# Headline set = BASELINE.md's benchmark table keys.
HEADLINE = [
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
]


# LLM-pipeline keys measured in the scaled sections (r6, VERDICT r5
# item 7): the flagship curation family gets Spark-vs-baseline timing
# alongside the relational headline set. dedup_decontaminate stands in
# for the dedup family: dedup_minhash's ORACLE recomputes exact Jaccard
# truth — content-quadratic SQL that DuckDB cannot finish at sf1
# (>3 min, measured r6), so it cannot be a timed baseline; the
# decontamination equi-join is the same family with a scalable oracle
# (3.3 s at sf1). Kept out of the sf10 section — the pair-generating
# keys run minutes there (SCALESWEEP) and would blow the driver's
# bench patience for no extra signal.
LLM_KEYS = [
    "dedup_decontaminate",
    "text_bm25",
    "pipeline_curate",
]


# Extra after-the-pass repetition targets (VERDICT r8 item 2): the driver's
# r8 box read q1/q3 2-2.5x above the same-week fresh-JVM numbers with no
# code change — almost certainly background load during those keys'
# best-of window. One more repetition per TPC-H key, taken AFTER the
# whole headline pass (so it samples a different moment), narrows the
# window a transient spike can poison.
TPCH_TRIO = ["q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier"]

# 1-minute loadavg above which a section re-runs the TPC-H trio once more
# in BOTH engines (VERDICT r10 item 1). 4.0 = an eighth of this box's 32
# cores busy with something other than an idle bench — the r9/r10 driver
# rounds that flipped q5 across the 5x line ran their sf10 section at
# 1-min load 12 (recorded in those BENCH files), i.e. well above this.
LOAD_RERUN_THRESHOLD = 4.0

_REPO = os.path.dirname(os.path.abspath(__file__))


def _loadavg() -> list[float]:
    """1/5/15-min load, recorded per section so a bench reader can tell
    'engine regressed' from 'box was busy' (VERDICT r8 what's-wrong #1:
    the claim was inference; now it's measured)."""
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:  # platform without getloadavg
        return []


def _measure_spark(
    spark, queries, sf_dir: str, runs: int = 4, keys: list[str] | None = None
) -> dict[str, float]:
    """Per key: 1 warm-up + best of (runs-1), plan rebuilt every run.
    TPC-H trio keys get one extra repetition AFTER the whole pass
    completes — back-to-back, not interleaved between sections — so the
    extra sample lands at a different moment than the key's own
    best-of window (see TPCH_TRIO)."""
    results: dict[str, float] = {}
    for key in keys if keys is not None else HEADLINE:
        fn = queries.get(key)
        if fn is None:
            continue
        times = []
        for i in range(runs):
            t0 = time.perf_counter()
            fn(spark, sf_dir).toPandas()
            dt = time.perf_counter() - t0
            if i > 0:
                times.append(dt)
        results[key] = round(min(times), 4)
    _rerun_trio_spark(spark, queries, sf_dir, results)
    return results


def _duckdb_load(con, sf_dir: str, prep_tables: bool) -> None:
    """Register the corpus in a DuckDB connection — native tables for the
    scaled sections (the analogue of Spark's offline layout prep), views
    otherwise. Always OUTSIDE the timed region."""
    kind = "TABLE" if prep_tables else "VIEW"
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        sel = "*"
        if t == "events" and prep_tables:
            sel = "* REPLACE (CAST(props AS JSON) AS props)"
        con.execute(
            f"CREATE {kind} {t} AS SELECT {sel} FROM read_parquet('{sf_dir}/{t}.parquet')"
        )


def _rerun_trio_spark(spark, queries, sf_dir: str, results: dict[str, float]) -> None:
    """One extra timed repetition of each TPC-H trio key, min-merged into
    ``results``: at the end of every pass, and once more when load-gated
    (see LOAD_RERUN_THRESHOLD)."""
    for key in TPCH_TRIO:
        fn = queries.get(key)
        if fn is None or key not in results:
            continue
        t0 = time.perf_counter()
        fn(spark, sf_dir).toPandas()
        results[key] = round(min(results[key], time.perf_counter() - t0), 4)


def _rerun_trio_duckdb(
    sf_dir: str,
    oracles: dict[str, str],
    results: dict[str, float],
    prep_tables: bool = True,
) -> None:
    """Symmetric extra trio repetition for the baseline engine (a Spark-only
    extra min-sample would bias the ratio). Table load is untimed, exactly
    as in _measure_duckdb."""
    import duckdb

    con = duckdb.connect()
    _duckdb_load(con, sf_dir, prep_tables)
    _trio_duckdb(con, oracles, results)
    con.close()


def _trio_duckdb(con, oracles: dict[str, str], results: dict[str, float]) -> None:
    """One extra timed repetition of each TPC-H trio oracle on an open,
    loaded connection, min-merged into ``results``."""
    for key in TPCH_TRIO:
        sql = oracles.get(key)
        if sql is None or key not in results:
            continue
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        results[key] = round(min(results[key], time.perf_counter() - t0), 4)


def _measure_duckdb(
    sf_dir: str,
    oracles: dict[str, str],
    prep_tables: bool = False,
    runs: int = 4,
    keys: list[str] | None = None,
) -> dict[str, float]:
    """DuckDB on the same parquet files, same 1-warm-up best-of-3
    protocol, execute + full fetchall (its fast in-process path).

    ``prep_tables`` (scaled sections, ADVICE r4): load each parquet file
    into a native DuckDB table OUTSIDE the timed region — the equivalent
    of the offline optimize_layout+bucketing prep Spark gets — so the
    gate_2x comparison carries no storage-prep asymmetry. Measured at
    sf3: native tables run the headline oracles ~6% faster than parquet
    views (3.67 s vs 3.90 s), i.e. the r4 asymmetry flattered Spark's
    ratio by that much and is now removed.

    Semi-structured symmetry (r5): Spark's optimized layout stores
    events.props parsed into its native VARIANT binary at ingest
    (catalog.optimize_layout, declared there); the DuckDB prep
    correspondingly stores props as DuckDB's native JSON type. DuckDB's
    JSON type is string-backed (its ->> re-parses per query, measured
    ~equal to VARCHAR), Spark's VARIANT is binary-parsed — that is an
    engine-representation difference, not a prep difference; both
    engines get the same declared ingest step and the bench JSON says
    so (semi_structured_prep field)."""
    import duckdb

    con = duckdb.connect()
    _duckdb_load(con, sf_dir, prep_tables)
    results: dict[str, float] = {}
    for key in keys if keys is not None else HEADLINE:
        sql = oracles.get(key)
        if sql is None:
            continue
        times = []
        for i in range(runs):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            dt = time.perf_counter() - t0
            if i > 0:
                times.append(dt)
        results[key] = round(min(times), 4)
    # symmetric extra trio repetition (see TPCH_TRIO): more min-samples
    # for Spark only would bias the ratio, so the baseline gets the same
    _trio_duckdb(con, oracles, results)
    con.close()
    return results


def _prep(spark, sf_dir: str) -> None:
    from kwery_spark.catalog import (
        build_bucketed,
        optimize_layout,
        parquet_rows,
        shuffle_partitions,
    )

    optimize_layout(spark, sf_dir)
    # Step 2 of the offline maintenance: orders+lineitem hash-bucketed on
    # orderkey (catalog.build_bucketed) so the fact-chain joins in q3/q5
    # run exchange-free. Same values, different physical layout; cached
    # per session via the in-memory catalog + corpus fingerprint.
    build_bucketed(spark, sf_dir)
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    # Scale shuffle parallelism with the data, exactly as a cluster
    # deployment sizes it (~rows/500k, clamped): the fixed local 8 is
    # right at sf<=1 but becomes the bottleneck once per-partition
    # shuffle volume grows — measured at sf10: 22.0 s with 8 partitions
    # vs 14.7 s with 32 (fresh JVM, same protocol). Footer-metadata row
    # count, no job.
    rows = parquet_rows(sf_dir, "lineitem")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions(rows)))
    # Broadcast threshold scales with the corpus (measured fresh-JVM, r6):
    # at sf10 lifting the session's stat-less 1 MB guard to 32 MB turns
    # the 300k-key customer semi-join side into a planner-time broadcast
    # and halves q3 (2.5 s -> 1.15 s) — AQE's runtime SMJ->BHJ conversion
    # was measured NOT to recover this, it still pays the map-side shuffle
    # write. At sf1 the same 32 MB REGRESSES q3 (0.60 -> 1.06 s): the
    # whole fact side is small there, so the broadcast build costs more
    # than the shuffle it saves.
    if rows >= 15_000_000:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024)
        )
        # AQE earns its per-stage jobs once shuffles carry real volume
        # (runtime coalescing/skew handling): sf3 measured 4.27 on vs
        # 4.35 off (r12 fresh-JVM pairs), sf10 q5 1.009 on vs 1.111 off.
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    else:
        # restore the small-SF guard so _prep is order-independent — the
        # 32 MB setting measurably regresses sf1 and must not leak into a
        # later small-corpus section of the same session
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(1024 * 1024)
        )
        # Below ~15M rows the job floor dominates and AQE's one-job-per-
        # stage materialization is pure overhead: headline totals measured
        # fresh-JVM in r12 — sf1 2.76/2.77 off vs 3.07/3.14 on (−0.3 to
        # −0.4 s of the 2x-gate deficit), sf0.1 1.97 off vs 2.16 on. The
        # plans at these SFs don't need runtime re-planning (no skew, 12
        # partitions); at 100 TB every section is the >=15M branch.
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    # Split size matched to the v4 layout's 16 MB row groups: each split
    # holds exactly one row group, so no empty splits (the session-wide
    # 2 MB default generated ~650 no-op tasks per sf10 lineitem scan) and
    # no split ever decodes a partial row group.
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))


# sf10 runs 1 warm-up + best-of-2 (both engines, symmetric) to keep
# the whole bench inside the driver's patience; sf1/sf3 stay best-of-3.
# sf30 (the measured sub-1x crossover point, BASELINE.md r8-r10) is opt-in
# via SPARK_GRAFT_SF30=1 — its corpus derivation + layout prep alone
# run ~10 min cold, which the default driver budget can't afford.
SECTIONS: list[tuple[str, int, int]] = [
    ("sf1", 10, 4),
    ("sf3", 30, 4),
    ("sf10", 100, 3),
    ("sf30", 300, 3),  # env-gated, see _section_list
]


def _section_list() -> list[tuple[str, int, int]]:
    if os.environ.get("SPARK_GRAFT_SF30", "0") == "1":
        return SECTIONS
    return [s for s in SECTIONS if s[0] != "sf30"]


def _run_section(name: str, factor: int, runs: int, src_dir: str) -> dict:
    """ONE scaled-section measurement, meant to run in its own process
    (fresh JVM — see the module docstring): deterministic corpus
    derivation, DuckDB baseline on the same files, identical warm
    best-of protocol for both engines, load-gated extra trio repetition.
    Corpus + optimized layout + stats are all fingerprint-cached, so
    steady-state cost is just the measurements."""
    sys.path.insert(0, os.path.join(_REPO, "tools"))
    from gen_sf1 import ensure_scaled

    sf_dir = ensure_scaled(src_dir, os.path.join(_REPO, ".data", name), factor)
    oracles = entrymod.oracle_sql()
    queries = entrymod.queries()
    spark = get_spark(f"kwery-bench-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    load_before = _loadavg()
    base = _measure_duckdb(sf_dir, oracles, prep_tables=True, runs=runs)
    _prep(spark, sf_dir)
    res = _measure_spark(spark, queries, sf_dir, runs=runs)
    trio_rerun = bool(load_before) and load_before[0] > LOAD_RERUN_THRESHOLD
    if trio_rerun:
        _rerun_trio_spark(spark, queries, sf_dir, res)
        _rerun_trio_duckdb(sf_dir, oracles, base)
    total = round(sum(res.values()), 4)
    btotal = round(sum(base.values()), 4)
    llm: dict[str, dict] = {}
    if name in ("sf1", "sf3"):
        lbase = _measure_duckdb(
            sf_dir, oracles, prep_tables=True, runs=runs, keys=LLM_KEYS
        )
        lres = _measure_spark(spark, queries, sf_dir, runs=runs, keys=LLM_KEYS)
        llm = {
            "llm_queries": lres,
            "llm_baseline_queries": lbase,
            "llm_per_query_ratio": {
                k: round(lres[k] / lbase[k], 2) for k in lres if lbase.get(k)
            },
        }
    return {
        **llm,
        "queries": res,
        "loadavg_before": load_before,
        "loadavg_after": _loadavg(),
        "trio_rerun": trio_rerun,
        "fresh_process": True,
        "total": total,
        "baseline_queries": base,
        "baseline_total": btotal,
        "per_query_ratio": {
            k: round(res[k] / base[k], 2) for k in res if base.get(k)
        },
        "est_floor_sec": EST_FLOOR_SEC,
        "ratio_vs_baseline": round(total / btotal, 2) if btotal else None,
        "gate_2x": total <= 2 * btotal,
        "runs_per_query": runs,
        "duckdb_prep": "native-table load excluded from timing "
        "(mirrors Spark optimize_layout+bucketing offline prep)",
        "semi_structured_prep": "events.props stored in each engine's "
        "native semi-structured type at ingest (Spark VARIANT binary / "
        "DuckDB JSON); Spark's is binary-parsed, DuckDB's string-backed "
        "— engine representation difference, declared openly",
    }


def _scaled_sections(src_dir: str) -> dict[str, dict]:
    """Spawn each scaled section as a subprocess (``bench.py --section``)
    and collect its JSON. Fresh JVM per section; a section failure is
    recorded, never fatal to the bench line."""
    import subprocess

    out: dict[str, dict] = {}
    for name, factor, runs in _section_list():
        cmd = [
            sys.executable,
            os.path.join(_REPO, "bench.py"),
            "--section",
            name,
            "--factor",
            str(factor),
            "--runs",
            str(runs),
            "--src",
            src_dir,
        ]
        try:
            proc = subprocess.run(
                cmd, capture_output=True, text=True, timeout=3600
            )
            line = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
            if proc.returncode != 0 or not line:
                out[name] = {
                    "error": f"rc={proc.returncode}: {proc.stderr.strip()[-300:]}"
                }
                continue
            out[name] = json.loads(line)
        except Exception as e:  # section failure must never sink the bench
            out[name] = {"error": f"{type(e).__name__}: {e}"}
    return out


def _compact_line(payload: dict) -> dict:
    """The printed JSON line, slimmed to survive the driver's 2000-byte
    stdout-tail capture intact (module docstring). Per-query numbers are
    kept for the headline and sf10 sections (the graded per-query
    signals); sf1/sf3/sf30 carry totals + ratio + gate; everything else
    lives in BENCH_DETAIL.json."""
    line = {
        k: payload[k]
        for k in (
            "metric",
            "value",
            "unit",
            "queries",
            "loadavg_before",
            "trio_rerun",
            "sf",
        )
        if k in payload
    }
    line["detail"] = "BENCH_DETAIL.json"
    if "scaled" in payload:
        slim: dict[str, dict] = {}
        for name, sec in payload["scaled"].items():
            if "error" in sec:
                slim[name] = {"error": sec["error"][:160]}
                continue
            s = {
                k: sec[k]
                for k in (
                    "total",
                    "baseline_total",
                    "ratio_vs_baseline",
                    "gate_2x",
                    "trio_rerun",
                )
                if k in sec
            }
            if name == "sf10":
                s["queries"] = sec["queries"]
                s["baseline_queries"] = sec["baseline_queries"]
                s["per_query_ratio"] = sec["per_query_ratio"]
                s["loadavg_before"] = sec["loadavg_before"]
            slim[name] = s
        line["scaled"] = slim
    return line


def main() -> None:
    if "--section" in sys.argv:  # child mode: one scaled section, one line
        args = dict(zip(sys.argv[1::2], sys.argv[2::2]))
        section = _run_section(
            args["--section"],
            int(args["--factor"]),
            int(args["--runs"]),
            args["--src"],
        )
        print(json.dumps(section))
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("kwery-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # One-time storage/catalog prep OUTSIDE the timed region — the
    # offline maintenance any warehouse runs, declared openly here:
    # 1. optimize_layout: compact/split each table out of the
    #    generator's single-row-group files (which cap every scan at ONE
    #    task) into a multi-file layout so scans fan out over the cores.
    #    Values are bit-identical; nothing is pre-computed — decode,
    #    parse, joins and aggregation all still run inside the timed
    #    region. Non-bench sessions (incl. the correctness gate) keep
    #    reading the raw files.
    # 2. build_bucketed: orders+lineitem hash-bucketed on orderkey so
    #    the q3/q5 fact-chain joins run exchange-free.
    # Both steps are fingerprint-cached per session (in-memory catalog).
    _prep(spark, sf_dir)
    queries = entrymod.queries()
    load_before = _loadavg()
    results = _measure_spark(spark, queries, sf_dir)
    # Headline load gate: the DuckDB side of this section is BASELINE.md's
    # static measurement, so the extra repetition is Spark-only here — it
    # narrows the window a load spike can poison, exactly the unconditional
    # trio repetition the protocol already carries (declared openly).
    trio_rerun = bool(load_before) and load_before[0] > LOAD_RERUN_THRESHOLD
    if trio_rerun:
        _rerun_trio_spark(spark, queries, sf_dir, results)
    total = round(sum(results.values()), 4)
    payload = {
        "metric": "headline_queries_total_best_of_3",
        "value": total,
        "unit": "sec",
        "queries": results,
        "loadavg_before": load_before,
        "loadavg_after": _loadavg(),
        "trio_rerun": trio_rerun,
        "est_floor_sec": EST_FLOOR_SEC,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # Scale sections only on the real bench corpus (the sf0.01 smoke run
    # stays fast) unless explicitly disabled. The parent session is
    # stopped first so each section's fresh JVM doesn't contend with an
    # idle 16g heap.
    if sf_dir.rstrip("/").endswith("sf0.1") and os.environ.get(
        "SPARK_GRAFT_SCALED", "1"
    ) != "0":
        spark.stop()
        payload["scaled"] = _scaled_sections(sf_dir)
    try:
        with open(os.path.join(_REPO, "BENCH_DETAIL.json"), "w") as fh:
            json.dump(payload, fh, indent=1)
    except OSError:
        pass  # the printed line is the contract; the detail file is extra
    print(json.dumps(_compact_line(payload)))


if __name__ == "__main__":
    main()
