"""Scale sweep: execute every registry key against an upscaled corpus
with a per-key watchdog, so quadratic-in-rows operators surface as
TIMEOUT rows instead of silent multi-minute hangs (two were found and
fixed this way in round 5 — dedup_fuzzy_names and dedup_lsh_recall_eval
ran >9 min at sf1 before their rewrites).

Usage: python tools/scale_sweep.py [--sf .data/sf1]
                                   [--budget 60] [--json OUT]
                                   [--no-isolate] [key ...]

r16: per-MODULE process isolation (VERDICT r15 #1). A 323-key marathon
in one JVM accumulates session effects (GC throttle, executor-memory
fragmentation, ContextCleaner backlog) that made ~40% of r15's sweep
rows diverge from their fresh-JVM probe numbers and forced seven
separate classification A/Bs. The parent process now groups keys by
the registered function's module (families keep sharing one session so
the builders memoized in catalog.memo — the graph artifacts, the text
contraction checkpoint — stay amortized exactly as a family-at-a-time
production run would) and
spawns one child `scale_sweep.py --no-isolate` per group, mirroring
bench.py's r11 subprocess-per-section design. `--no-isolate` runs the
old single-session loop (child mode; also the escape hatch for
explicit same-session A/Bs).

Each key runs under a Spark job group; a timer cancels the group at the
budget and the key is recorded as TIMEOUT (the session survives —
cancellation is the supported per-query kill, no process restart).
Output: one line per key + optional JSON {key: {sec, rows|status}}.
A TIMEOUT is not automatically a defect — it is a flag to either fix
the operator's pair/shuffle structure or document why the budget does
not apply (e.g. deliberately exhaustive eval keys).
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

# Structurally-empty declarations (VERDICT r8 item 5): keys whose 0-row
# result at scale SFs is BY CONSTRUCTION, not a bug — declared here with
# the minimum scale factor at which emptiness is expected, mirroring the
# audit's declared-bounds pattern. An UNDECLARED 0-row result is recorded
# as status EMPTY and counts as a failure, so "correctly empty" stays
# distinguishable from "silently broken" where the sf0.01 empty-oracle CI
# ban can't see.
#   pipeline_pretraining_corpus: the gen_sf1 upscale clones every document
#     10x, so at >=sf3 every doc is benchmark-contaminated and the
#     decontamination filter removes the whole corpus (BASELINE.md r8;
#     gate SFs return 20 rows).
#   q11_important_parts: the importance threshold is a fixed FRACTION of
#     the total stock value; the key-shifted upscale multiplies the part
#     count, so every partkey's share dilutes below it from sf1 up
#     (sf0.01 returns rows).
EXPECTED_EMPTY_AT: dict[str, float] = {
    "pipeline_pretraining_corpus": 3,
    "q11_important_parts": 1,
}


def sf_of(sf_dir: str) -> float:
    """Scale factor parsed from the corpus dir name ('.../sf10' -> 10).
    Raises on a non-canonical dir name instead of silently returning a
    wrong scale (r9 review: a 0.0 fallback turned every declared
    structural empty into a reported failure on renamed dirs)."""
    m = re.search(r"sf([0-9]+(?:\.[0-9]+)?)$", sf_dir.rstrip("/"))
    if not m:
        raise ValueError(
            f"cannot parse a scale factor from corpus dir {sf_dir!r}; "
            "sweep dirs must end in sf<number> (e.g. .data/sf10)"
        )
    return float(m.group(1))


def empty_is_declared(key: str, sf_dir: str) -> bool:
    """True iff a 0-row result for ``key`` at this corpus is a declared
    structural empty (and so an OK sweep row, not a failure)."""
    return sf_of(sf_dir) >= EXPECTED_EMPTY_AT.get(key, float("inf"))


def sweep_confs(sf_dir: str) -> dict[str, int]:
    """The sweep's session sizing for the corpus at ``sf_dir``, read from
    the lineitem footer (no Spark job).

    Shuffle parallelism scales with the corpus exactly as a cluster
    deployment (and bench.py _prep) sizes it — the CLAUDE.md sizing rule:
    partitions must fit in executor memory at the target SF. The session
    default of 8 is right at sf<=1 but forces ~22M-row reducers at sf30,
    and the resulting sort/agg spill is superlinear: q16 measured 90.4 s
    at 8 partitions vs 47.8 s at 64 (identical plan, fresh JVM each,
    r12). Recorded in the sweep JSON _meta so cross-round totals are
    compared under known conditions.

    Scan split sizing (r12, two measured failure modes with one knob): a
    flat 2 MB maxPartitionBytes gives the sf30 lineitem 653 map tasks
    whose 64-reducer shuffle-block explosion doubles the join-heavy keys
    (q14 24.6 s vs 11.4 s at 16 MB), while a flat 16 MB collapses the
    4 MB documents file to 2 splits and starves the per-byte-expensive
    text/HOF keys of cores (text_rake 54.9 s vs 29.4 s at 2 MB). Spark's
    own split formula — split = min(maxPartitionBytes,
    max(openCostInBytes, bytes/minPartitionNum)) — serves both classes
    once minPartitionNum targets 2x cores and the openCost floor is
    small: big tables cap at 16 MB splits, small-but-expensive tables
    split to ~2x cores pieces. Measured sf10 on 32 cores (64): documents
    35 splits / lineitem 82; text_rake 18.3 s, q14 2.8 s — better than
    EITHER flat setting. The cores are the session's own
    (session.default_cpus), so the target follows the box.
    """
    from kwery_spark.catalog import parquet_rows, shuffle_partitions
    from kwery_spark.session import default_cpus

    return {
        "spark.sql.shuffle.partitions": shuffle_partitions(
            parquet_rows(sf_dir, "lineitem")
        ),
        "spark.sql.files.maxPartitionBytes": 16 << 20,
        "spark.sql.files.minPartitionNum": 2 * default_cpus(),
        "spark.sql.files.openCostInBytes": 128 << 10,
    }


def _parse_args(argv: list[str]) -> tuple[str, float, str | None, bool, list[str]]:
    sf_dir = os.path.join(_ROOT, ".data", "sf1")
    budget = 60.0
    out_json = None
    isolate = True
    keys: list[str] = []
    args = list(argv)
    while args:
        a = args.pop(0)
        if a == "--sf":
            sf_dir = args.pop(0)
        elif a == "--budget":
            budget = float(args.pop(0))
        elif a == "--json":
            out_json = args.pop(0)
        elif a == "--no-isolate":
            isolate = False
        else:
            keys.append(a)
    return sf_dir, budget, out_json, isolate, keys


def _registry_keys() -> tuple[list[str], dict[str, str]]:
    """All registry keys in registration order + key -> module map.
    Module import only (no Spark session) — safe in the parent process."""
    import kwery_spark.all_ops  # noqa: F401
    from kwery_spark.registry import QUERIES

    return list(QUERIES), {k: fn.__module__ for k, fn in QUERIES.items()}


def _run_inline(sf_dir: str, budget: float, keys: list[str]) -> dict[str, dict]:
    """The original single-session loop (child mode)."""
    from kwery_spark.session import get_spark

    spark = get_spark("scale-sweep")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    for k, v in sweep_confs(sf_dir).items():
        spark.conf.set(k, str(v))
    import kwery_spark.all_ops  # noqa: F401
    from kwery_spark.registry import QUERIES

    # Warm the session BEFORE any timed key (the bench.py protocol):
    # first-action lazy init — executor threads, codegen, filesystem +
    # parquet reader classes — was otherwise billed to each module
    # group's first key under r16's per-module isolation (+7-8 s rows
    # at sf10 on trivially-cheap first keys like q1_pricing_summary /
    # text_tokenize, first r16 sweep diff). One tiny shuffle + one tiny
    # parquet read; no operator state is prebuilt (memoized family
    # builders still pay their cold cost inside their first key's row,
    # exactly like r15's single-session sweeps).
    from pyspark.sql import functions as _F

    spark.range(1_000_000).groupBy((_F.col("id") % 10).alias("k")).count().collect()
    from kwery_spark.catalog import table as _table

    _table(spark, sf_dir, "region").count()

    if not keys:
        keys = list(QUERIES)
    results: dict[str, dict] = {}
    for key in keys:
        group = f"sweep-{key}"
        sc.setJobGroup(group, key, interruptOnCancel=True)
        cancelled = threading.Event()

        def _kill() -> None:
            cancelled.set()
            sc.cancelJobGroup(group)

        timer = threading.Timer(budget, _kill)
        timer.start()
        t0 = time.perf_counter()
        try:
            n = QUERIES[key](spark, sf_dir).count()
            dt = time.perf_counter() - t0
            if n == 0 and empty_is_declared(key, sf_dir):
                results[key] = {"sec": round(dt, 2), "rows": 0,
                                "empty_declared": True}
                print(f"[ok  ] {key}: {dt:.2f}s rows=0 (declared structural "
                      f"empty at this SF)", flush=True)
            elif n == 0:
                results[key] = {"sec": round(dt, 2), "status": "EMPTY",
                                "err": "0 rows, not declared in EXPECTED_EMPTY_AT"}
                print(f"[EMPTY] {key}: {dt:.2f}s — undeclared 0-row result",
                      flush=True)
            else:
                results[key] = {"sec": round(dt, 2), "rows": n}
                print(f"[ok  ] {key}: {dt:.2f}s rows={n}", flush=True)
        except Exception as e:  # cancellation surfaces as a Py4J error
            dt = time.perf_counter() - t0
            status = "TIMEOUT" if cancelled.is_set() else "ERR"
            results[key] = {"sec": round(dt, 2), "status": status,
                            "err": repr(e)[:200]}
            print(f"[{status}] {key}: {dt:.2f}s", flush=True)
        finally:
            timer.cancel()
            sc.setJobGroup("", "")
            # Release this key's py4j DataFrame refs deterministically so
            # ContextCleaner can unpersist its (local)checkpoint blocks
            # before the NEXT key asks for execution memory. Without it,
            # Python GC timing decides when blocks free, and a long
            # session can starve a later key (r11: q4 hit
            # UNABLE_TO_ACQUIRE_MEMORY at stage ~2900 of the sf30 sweep
            # while passing standalone and in the prior full sweep).
            import gc

            gc.collect()
    return results


def _run_isolated(sf_dir: str, budget: float, keys: list[str]) -> dict[str, dict]:
    """Parent mode: one child process per module group, sequential (the
    children must not contend for the box — same rule as bench.py's
    scaled sections). A child failure marks only its group's keys."""
    import subprocess
    import tempfile

    all_keys, key_mod = _registry_keys()
    if not keys:
        keys = all_keys
    unknown = [k for k in keys if k not in key_mod]
    if unknown:
        raise SystemExit(f"unknown keys: {unknown}")
    # Group by module, preserving registration order within and across
    # groups (order of first appearance).
    groups: dict[str, list[str]] = {}
    for k in keys:
        groups.setdefault(key_mod[k], []).append(k)

    results: dict[str, dict] = {}
    tool = os.path.abspath(__file__)
    for mod, gkeys in groups.items():
        short = mod.rsplit("kwery_spark.", 1)[-1]
        print(f"--- group {short} ({len(gkeys)} keys) ---", flush=True)
        with tempfile.NamedTemporaryFile(
            mode="r", suffix=".json", prefix="sweep_grp_", delete=False
        ) as tf:
            tmp_json = tf.name
        cmd = [sys.executable, tool, "--no-isolate", "--sf", sf_dir,
               "--budget", str(budget), "--json", tmp_json] + gkeys
        # Group wall budget: per-key budget x keys + JVM startup/teardown
        # slack. The per-key watchdog inside the child is the real limit;
        # this is only a hung-JVM backstop.
        wall = budget * len(gkeys) + 300
        try:
            proc = subprocess.run(
                cmd, capture_output=True, text=True, timeout=wall
            )
            for line in proc.stdout.splitlines():
                if line.startswith("["):
                    print(line, flush=True)
            with open(tmp_json) as f:
                child = json.load(f)
            child.pop("_meta", None)
            missing = [k for k in gkeys if k not in child]
            if proc.returncode != 0 and missing:
                err = proc.stderr.strip()[-200:]
                for k in missing:
                    child[k] = {"sec": 0.0, "status": "ERR",
                                "err": f"group rc={proc.returncode}: {err}"}
            results.update(child)
        except Exception as e:  # child crash/timeout must not sink the sweep
            for k in gkeys:
                results[k] = {"sec": 0.0, "status": "ERR",
                              "err": f"group {type(e).__name__}: {e}"[:200]}
            print(f"[ERR ] group {short}: {type(e).__name__}: {e}", flush=True)
        finally:
            try:
                os.unlink(tmp_json)
            except OSError:
                pass
    return results


def main() -> None:
    sf_dir, budget, out_json, isolate, keys = _parse_args(sys.argv[1:])

    # Validate the corpus dir name ONCE, before any key runs — inside the
    # per-key loop sf_of's ValueError would surface as scattered ERR rows
    # (and only for keys that return 0 rows), not the loud upfront
    # failure the contract intends (ADVICE r9).
    sf_of(sf_dir)

    if isolate:
        results = _run_isolated(sf_dir, budget, keys)
    else:
        results = _run_inline(sf_dir, budget, keys)

    total_bad = sum(1 for v in results.values() if "status" in v)
    print(f"\n{len(results) - total_bad}/{len(results)} within budget "
          f"({budget:.0f}s each)", flush=True)
    if out_json:
        # Children compute the same sizing from the same lineitem footer,
        # so these values hold for every group.
        confs = sweep_confs(sf_dir)
        meta = {
            "sf_dir": sf_dir,
            "isolation": "per-module" if isolate else "none",
            "shuffle_partitions": confs["spark.sql.shuffle.partitions"],
            "max_partition_bytes": confs["spark.sql.files.maxPartitionBytes"],
            "min_partition_num": confs["spark.sql.files.minPartitionNum"],
            "open_cost_bytes": confs["spark.sql.files.openCostInBytes"],
            "n_keys": len(results),
            "n_bad": total_bad,
            "total_sec": round(sum(v["sec"] for v in results.values()), 1),
        }
        results["_meta"] = meta
        with open(out_json, "w") as f:
            json.dump(results, f, indent=1, sort_keys=True)
        print(f"wrote {out_json}")


if __name__ == "__main__":
    main()
