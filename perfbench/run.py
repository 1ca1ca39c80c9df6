"""Repository benchmark: one closed-loop client driving the engine's public
entry points (``session.get_spark``, the ``catalog`` prep, ``Engine.run``)
on a ``local[nproc]`` session, with every result checked against the
DuckDB oracle.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

A run builds its inputs (prepare.py, untimed), sets up once from engine
import to the first query, runs one cold pass over the workload's keys
and then warm passes until at least MIN_WARM_PASSES have run and
``--seconds`` have passed. With ``--trace 0`` the last stdout line carries the
end-to-end metrics; with ``--trace 1`` it carries the per-layer metrics,
read from spans around each call into a layer and from Spark's status
store. The line before it is a JSON report with the environment, the
corpus, failures and the metrics of the other kind that the run saw.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

from prepare import digest, result_rows  # noqa: E402
from metrics import (  # noqa: E402
    Outcomes,
    percentile,
    samples_beyond,
    tail_percentile,
)
from spans import StatusStore, Tracer, add_counters, empty_counters, plan_counts  # noqa: E402
from workloads import WORKLOADS, Workload  # noqa: E402

# Files of the repository the benchmark drives; without them it refuses to run.
REQUIRED = ("kwery_spark/__init__.py", "bench.py", "tools/check.py", "tools/gen_sf1.py")

# Warm passes measured at least. Pass walls keep falling over the first
# passes while the JIT compiles, at a different pace in each run, and CPU
# contention from other guests on the host comes in episodes of tens of
# seconds (CPU steal of 1% to 24% per run was seen on a 4-vCPU machine).
# A short run sits on whatever part of those curves it hits, so the run
# averages every warm pass, at least six: 60 samples of ten keys, enough
# for a p75 tail.
MIN_WARM_PASSES = 6
KEY_TIMEOUT_S = 60.0
# Stop starting passes after this long, so a slowed run still exits in time.
RUN_DEADLINE_S = 150.0

END_TO_END_UNITS = {
    "setup_s": "s",
    "first_pass_s": "s",
    "wall_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
}

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "catalog.register_s": "s",
    "catalog.layout_s": "s",
    "catalog.analyze_s": "s",
    "catalog.bucket_s": "s",
    "catalog.prep_jobs": "count",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.build_jobs_first": "count",
    "catalyst.plan_s": "s",
    "catalyst.exchanges": "count",
    "catalyst.smj": "count",
    "catalyst.bhj": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.skipped_stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mem_mb": "MB",
    "exec.spill_disk_mb": "MB",
    "exec.core_busy": "ratio",
    "fetch.s": "s",
    "fetch.rows": "count",
    "fetch.mb": "MB",
    "sources.output_mb": "MB",
    "sources.write_amp": "ratio",
}

# catalog functions bench.py's prep calls, and the span each is timed under
CATALOG_PREP_SPANS = {
    "optimize_layout": "catalog.layout",
    "analyze_tables": "catalog.analyze",
    "build_bucketed": "catalog.bucket",
}


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _mem_total_mb() -> float | None:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return None


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for process {pid}")


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _free_disk_mb() -> float:
    return shutil.disk_usage(ROOT).free / 1e6


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _prepare(workload: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "prepare.py"), "--workload", workload],
        capture_output=True,
        text=True,
        timeout=800,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"prepare failed: {proc.stderr.strip()[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _reroot_scratch(root: str) -> None:
    """Point every engine module's SCRATCH constant at ``root``. The
    engine pins its sink scratch to an absolute directory; re-rooting it
    keeps a run's writes inside its own tree and lets the run delete
    them afterwards."""
    from kwery_spark.sources import scans

    old = scans.SCRATCH
    for name, mod in list(sys.modules.items()):
        value = getattr(mod, "SCRATCH", None)
        if name.startswith("kwery_spark") and isinstance(value, str) and value.startswith(old):
            mod.SCRATCH = root + value[len(old):]


def _fingerprint(pdf, types: dict) -> tuple | None:
    """Columns, types, row count and the sum of the row hashes of a
    result, or None when a cell is not hashable (list-valued columns)."""
    import pandas as pd

    try:
        h = int(pd.util.hash_pandas_object(pdf, index=False).sum())
    except TypeError:
        return None
    return tuple(pdf.columns), tuple(sorted(types.items())), len(pdf), h


@contextmanager
def _timed_prep(catalog, tracer: Tracer):
    """Time each catalog prep function under its layer span while
    bench.py's prep runs (it imports them from the catalog module at call
    time), then restore the originals."""
    saved = {name: getattr(catalog, name) for name in CATALOG_PREP_SPANS}

    def timed(fn, span):
        def call(*args, **kwargs):
            with tracer.span(span):
                return fn(*args, **kwargs)

        return call

    for name, span in CATALOG_PREP_SPANS.items():
        setattr(catalog, name, timed(saved[name], span))
    try:
        yield
    finally:
        for name, fn in saved.items():
            setattr(catalog, name, fn)


class Run:
    """One benchmark run of one workload in this process."""

    def __init__(self, wl: Workload, prep: dict, seed: int, seconds: float, trace: bool):
        self.wl = wl
        self.sf_dir = prep["dir"]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = _nproc()
        self.tracer = Tracer()
        self.outcomes = Outcomes()
        with open(prep["oracle_file"]) as f:
            self.oracle = json.load(f)
        self.rss: dict | None = None
        # key -> fingerprint of the last result that matched the oracle
        self.verified: dict = {}
        # per pass: {"latencies": [...], "counters": {...}, ...}
        self.passes: list[dict] = []

    # -- set-up --------------------------------------------------------------
    def setup(self) -> None:
        with self.tracer.span("setup"):
            sys.path.insert(0, ROOT)
            from kwery_spark import catalog, registry, session
            from kwery_spark.engine import Engine

            registry.load_all()
            _reroot_scratch(os.path.join(WORK, "scratch"))
            with self.tracer.span("session.start"):
                self.spark = session.get_spark(f"perfbench-{self.wl.name}", cpus=self.cores)
                self.spark.sparkContext.setLogLevel("ERROR")
                self.spark.range(1).count()  # first action: executor and JIT start
            self.sc = self.spark.sparkContext
            self.sc.setJobGroup("setup", "catalog set-up")
            if self.wl.prep:
                import bench

                with _timed_prep(catalog, self.tracer):
                    bench._prep(self.spark, self.sf_dir)
            with self.tracer.span("catalog.register"):
                self.engine = Engine(self.sf_dir, self.spark)
        self.store = StatusStore(self.spark) if self.trace else None
        self.setup_jobs = self.store.group_counters("setup")["jobs"] if self.trace else None
        import __spark_entry__  # noqa: F401  (loads the registry for tools/check)

        sys.path.insert(0, os.path.join(ROOT, "tools"))
        import check

        self.check = check

    # -- one request ---------------------------------------------------------
    def _verify(self, key: str, df, pdf) -> tuple[str | None, str]:
        """Compare a result with the key's oracle digest. A result with
        the same fingerprint as one that already matched the oracle in
        this run passes without re-normalising."""
        types = {c: self.check._norm_spark_type(t) for c, t in df.dtypes}
        seen = _fingerprint(pdf, types)
        if seen is not None and self.verified.get(key) == seen:
            return None, ""
        got = digest(list(pdf.columns), types, result_rows(pdf))
        want = self.oracle[key]
        if got == want:
            self.verified[key] = seen
            return None, ""
        diff = [k for k in want if got.get(k) != want[k]]
        return "mismatch", f"differs in {diff}"

    def execute(self, key: str, tag: str, record: dict) -> None:
        sc = self.sc
        build_group, exec_group = f"{tag}:{key}:build", f"{tag}:{key}:exec"
        state = {"timed_out": False}

        def cancel() -> None:
            state["timed_out"] = True
            sc.cancelJobGroup(build_group)
            sc.cancelJobGroup(exec_group)

        timer = threading.Timer(KEY_TIMEOUT_S, cancel)
        failure, detail, df, pdf = None, "", None, None
        with self.tracer.span("key") as span:
            timer.start()
            try:
                sc.setJobGroup(build_group, key)
                with self.tracer.span("operators.build"):
                    df = self.engine.run(key)
                sc.setJobGroup(exec_group, key)
                if self.trace:
                    with self.tracer.span("catalyst.plan"):
                        df._jdf.queryExecution().executedPlan()
                with self.tracer.span("exec.fetch") as fetch_span:
                    pdf = df.toPandas()
            except Exception as e:  # a failed request is counted, not fatal
                failure = "timeout" if state["timed_out"] else "error"
                detail = f"{type(e).__name__}: {str(e)[:200]}"
            finally:
                timer.cancel()
        latency = span.end - span.start
        if failure is None and latency > KEY_TIMEOUT_S:
            failure, detail = "timeout", f"{latency:.1f} s"
        if failure is None:
            with self.tracer.span("check"):
                failure, detail = self._verify(key, df, pdf)
        self.outcomes.record(key, failure, detail)
        if failure is None:
            # a failed request has no latency: it counts in failed_frac
            record["latencies"].append(latency)
            record["by_key"][key] = latency
            if self.trace:
                self._collect(key, df, pdf, build_group, exec_group, fetch_span, record)
        sc.setJobGroup("idle", "between requests")

    def _collect(self, key, df, pdf, build_group, exec_group, fetch_span, record) -> None:
        with self.tracer.span("trace.collect"):
            build = self.store.group_counters(build_group)
            action = self.store.group_counters(exec_group)
            plan = plan_counts(df)
            c = record["counters"]
            add_counters(c, build)
            add_counters(c, action)
            record["build_jobs"] += build["jobs"]
            for k, v in plan.items():
                record[k] += v
            fetch_s = (fetch_span.end - fetch_span.start) - action["job_seconds"]
            record["fetch_s"] += max(0.0, fetch_s)
            record["fetch_rows"] += len(pdf)
            record["fetch_bytes"] += int(pdf.memory_usage(deep=True).sum())
            if key in self.wl.sink_keys:
                s = record["sinks"]
                add_counters(s, build)
                add_counters(s, action)

    # -- passes ------------------------------------------------------------
    def run_pass(self, index: int, rng: random.Random) -> None:
        order = list(self.wl.keys)
        rng.shuffle(order)
        record = {
            "latencies": [],
            "by_key": {},
            "counters": empty_counters(),
            "sinks": empty_counters(),
            "build_jobs": 0,
            "exchanges": 0,
            "smj": 0,
            "bhj": 0,
            "fetch_s": 0.0,
            "fetch_rows": 0,
            "fetch_bytes": 0,
        }
        with self.tracer.span("pass") as span:
            idx = len(self.tracer.spans) - 1
            for key in order:
                self.execute(key, f"p{index}", record)
        # wall time the client spent in requests: the pass minus the
        # benchmark's own result checks
        record["wall"] = (span.end - span.start) - self.tracer.self_seconds("check", within=idx)
        record["span"] = idx
        self.passes.append(record)

    @property
    def warm(self) -> list[dict]:
        return self.passes[1:]

    def measure(self) -> None:
        rng = random.Random(self.seed)
        self.run_pass(0, rng)
        t0 = time.perf_counter()
        while True:
            self.run_pass(len(self.passes), rng)
            elapsed = time.perf_counter() - t0
            ran = len(self.passes) - 1
            if ran == MIN_WARM_PASSES:
                # peak RSS over a fixed amount of work, however many
                # passes fit in --seconds
                self._read_rss()
            if ran >= MIN_WARM_PASSES and elapsed >= self.seconds:
                break
            if time.perf_counter() - self.t_start > RUN_DEADLINE_S:
                break
        self.measured_s = time.perf_counter() - t0
        if self.rss is None:
            self._read_rss()

    def _read_rss(self) -> None:
        jvm_pid = self.sc._jvm.java.lang.ProcessHandle.current().pid()
        self.rss = {"python_mb": _vm_hwm_mb("self"), "jvm_mb": _vm_hwm_mb(jvm_pid)}

    @property
    def peak_rss_mb(self) -> float:
        return self.rss["python_mb"] + self.rss["jvm_mb"]

    # -- results -------------------------------------------------------------
    def end_to_end(self) -> dict:
        warm = self.warm
        lat = [x for p in warm for x in p["latencies"]]
        n_min = len(self.wl.keys) * MIN_WARM_PASSES
        tail_p = tail_percentile(n_min)
        self.tail = {"percentile": tail_p, "samples": len(lat),
                     "beyond": samples_beyond(len(lat), tail_p)}
        return {
            "setup_s": self.tracer.duration(0),
            "first_pass_s": self.passes[0]["wall"],
            "wall_s": sum(p["wall"] for p in warm) / len(warm),
            "latency_p50_s": statistics.median(lat),
            "latency_tail_s": percentile(lat, tail_p),
        }

    def per_layer(self) -> dict:
        t = self.tracer
        warm = self.warm
        n = len(warm)

        def mean(f) -> float:
            return sum(f(p) for p in warm) / n

        def layer_s(name: str):
            return lambda p: t.self_seconds(name, within=p["span"])

        def counter(name: str, scale: float = 1.0):
            return lambda p: p["counters"][name] * scale

        run_s = sum(p["counters"]["run_ms"] for p in warm) / 1e3
        job_s = sum(p["counters"]["job_seconds"] for p in warm)
        sink_out = sum(p["sinks"]["output_bytes"] for p in warm)
        sink_written = sum(
            p["sinks"]["output_bytes"] + p["sinks"]["shuffle_write_bytes"]
            + p["sinks"]["spill_disk_bytes"] for p in warm
        )
        setup = 0  # the set-up span is always the first span
        mb = 1e-6
        return {
            "session.start_s": t.self_seconds("session.start", within=setup),
            "session.peak_rss_mb": self.peak_rss_mb,
            "catalog.register_s": t.self_seconds("catalog.register", within=setup),
            "catalog.layout_s": t.self_seconds("catalog.layout", within=setup),
            "catalog.analyze_s": t.self_seconds("catalog.analyze", within=setup),
            "catalog.bucket_s": t.self_seconds("catalog.bucket", within=setup),
            "catalog.prep_jobs": self.setup_jobs,
            "operators.build_s": mean(layer_s("operators.build")),
            "operators.build_jobs": mean(lambda p: p["build_jobs"]),
            "operators.build_jobs_first": self.passes[0]["build_jobs"],
            "catalyst.plan_s": mean(layer_s("catalyst.plan")),
            "catalyst.exchanges": mean(lambda p: p["exchanges"]),
            "catalyst.smj": mean(lambda p: p["smj"]),
            "catalyst.bhj": mean(lambda p: p["bhj"]),
            "exec.jobs": mean(counter("jobs")),
            "exec.stages": mean(counter("stages")),
            "exec.skipped_stages": mean(counter("skipped_stages")),
            "exec.tasks": mean(counter("tasks")),
            "exec.failed_tasks": mean(counter("failed_tasks")),
            "exec.task_run_s": mean(counter("run_ms", 1e-3)),
            "exec.task_cpu_s": mean(counter("cpu_ns", 1e-9)),
            "exec.gc_s": mean(counter("gc_ms", 1e-3)),
            "exec.input_mb": mean(counter("input_bytes", mb)),
            "exec.shuffle_write_mb": mean(counter("shuffle_write_bytes", mb)),
            "exec.shuffle_read_mb": mean(counter("shuffle_read_bytes", mb)),
            "exec.spill_mem_mb": mean(counter("spill_mem_bytes", mb)),
            "exec.spill_disk_mb": mean(counter("spill_disk_bytes", mb)),
            "exec.core_busy": run_s / (job_s * self.cores) if job_s else 0.0,
            "fetch.s": mean(lambda p: p["fetch_s"]),
            "fetch.rows": mean(lambda p: p["fetch_rows"]),
            "fetch.mb": mean(lambda p: p["fetch_bytes"] * mb),
            "sources.output_mb": sink_out * mb / n,
            "sources.write_amp": sink_written / sink_out if sink_out else 0.0,
        }

    def environment(self) -> dict:
        conf = self.spark.conf
        return {
            "nproc": self.cores,
            "mem_total_mb": _mem_total_mb(),
            "session_master": self.sc.master,
            "session_cores": self.sc.defaultParallelism,
            "driver_memory": self.sc.getConf().get("spark.driver.memory"),
            "adaptive": conf.get("spark.sql.adaptive.enabled"),
            "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
            "spark": self.spark.version,
            "java": self.sc._jvm.java.lang.System.getProperty("java.version"),
        }

    def stop(self) -> None:
        """Stop the session and the JVM this process launched, and wait
        for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


RUN_DIRS = ("scratch", "spark-local", "tmp")


def _remove_run_leftovers() -> None:
    for sub in RUN_DIRS:
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)


def _keep_files_in_tree() -> None:
    """Send the session's spill, shuffle and temporary files, and the
    JVM's, under WORK instead of the system temporary directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not inside a kwery-spark checkout, missing {missing}", file=sys.stderr)
        return 2
    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    env = {"loadavg_before": os.getloadavg(), "free_disk_mb_before": _free_disk_mb()}
    steal0, total0 = _cpu_ticks()
    _remove_run_leftovers()
    _keep_files_in_tree()
    t0 = time.perf_counter()
    prep = _prepare(wl.name)
    prepare_s = time.perf_counter() - t0
    run = Run(wl, prep, args.seed, args.seconds, bool(args.trace))
    run.t_start = time.perf_counter()
    run.prepare_s = prepare_s
    try:
        run.setup()
        run.measure()
        e2e = run.end_to_end()
        layers = run.per_layer() if run.trace else None
        env.update(run.environment())
    finally:
        if hasattr(run, "spark"):
            run.stop()
        _remove_run_leftovers()
    steal1, total1 = _cpu_ticks()
    env.update(
        cpu_steal_frac=(steal1 - steal0) / max(1, total1 - total0),
        loadavg_after=os.getloadavg(),
        free_disk_mb_after=_free_disk_mb(),
        duckdb=_duckdb_version(),
        git_commit=_git_commit(),
    )
    o = run.outcomes
    report = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "measured_s": run.measured_s,
        "check_s": run.tracer.self_seconds("check"),
        "prepare_s": run.prepare_s,
        "warm_passes": len(run.warm),
        "pass_walls": [p["wall"] for p in run.passes],
        "keys": len(wl.keys),
        "failed_frac": o.failed_frac,
        "failures": o.failures,
        "failed_keys": o.failed_keys,
        "latency_tail": run.tail,
        "key_latency_p50": {
            k: statistics.median(ts)
            for k in wl.keys
            if (ts := [p["by_key"][k] for p in run.warm if k in p["by_key"]])
        },
        "peak_rss": run.rss,
        "peak_rss_mb": run.peak_rss_mb,
        "corpus": {k: prep[k] for k in ("sf", "fingerprint", "rows", "mb", "build_s",
                                        "oracle_computed")},
        "env": env,
        "end_to_end": e2e,
        "per_layer": layers,
    }
    print(json.dumps(report))
    chosen, units = (layers, PER_LAYER_UNITS) if run.trace else (e2e, END_TO_END_UNITS)
    result = {
        "correct": o.failed == 0,
        "attempted": o.attempted,
        "failed": o.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in chosen.items()},
    }
    print(json.dumps(result))
    return 0


def _duckdb_version() -> str:
    import duckdb

    return duckdb.__version__


if __name__ == "__main__":
    sys.exit(main())
