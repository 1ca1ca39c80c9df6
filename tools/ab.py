"""Fresh-JVM A/B harness: time registry keys under named conf arms, one
new JVM per arm and rep, and assert every arm returns the same values.

Usage: python tools/ab.py [--sf DIR] [--prep] [--keys a,b] [--reps N]
                          --arm NAME[:k=v,...] --arm ...

--sf DIR   corpus dir (default: bench.py's sf0.1 corpus)
--prep     run the bench.py offline prep first (bench._prep) so the
           experiment measures the same storage/catalog state and confs
           as the real bench; the arm's confs are re-applied after it.
           Without it the session gets the sweep's corpus sizing
           (scale_sweep.sweep_confs), under the arm's confs.
--keys     comma-separated registry keys (default: bench.HEADLINE)
--reps     fresh JVMs per arm (default 3); the arm order rotates from
           rep to rep so no arm always runs first
--arm      NAME, or NAME:k=v,k=v for the confs set on session.builder()

Each child times a fresh ``QUERIES[key](spark, sf_dir).toPandas()`` 4
times per key, drops the first, keeps the best of the other 3, and
hashes the rows with tools/check.py's normalisation. The parent prints
one JSON line ``{arm: {key: {"sec": median over reps, "sha": ...}}}``
and exits 1, naming the key and arms, if a key's hash differs across
arms or reps. Two checkouts compare by their printed hashes.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_arm(spec: str) -> tuple[str, dict[str, str]]:
    """``NAME[:k=v,...]`` -> (name, confs)."""
    name, _, body = spec.partition(":")
    confs = {}
    for item in filter(None, body.split(",")):
        k, eq, v = item.partition("=")
        if not eq:
            raise SystemExit(f"arm {spec!r}: {item!r} is not k=v")
        confs[k] = v
    if not name:
        raise SystemExit(f"arm {spec!r} has no name")
    return name, confs


def summarize(runs: dict[str, list[dict[str, dict]]]) -> tuple[dict, list[str]]:
    """Per arm, the list of child results (one per rep, each
    ``{key: {"sec", "sha"}}``) -> (``{arm: {key: {"sec": median, "sha"}}}``,
    one message per key whose hash is not the same in every run)."""
    out: dict[str, dict] = {}
    seen: dict[str, dict[str, set[str]]] = {}
    for arm, reps in runs.items():
        out[arm] = {}
        for key in reps[0]:
            for rep in reps:
                seen.setdefault(key, {}).setdefault(rep[key]["sha"], set()).add(arm)
            out[arm][key] = {
                "sec": round(statistics.median(r[key]["sec"] for r in reps), 3),
                "sha": reps[0][key]["sha"],
            }
    errors = [
        f"{key}: values differ: "
        + "; ".join(f"{sha} from {','.join(sorted(arms))}" for sha, arms in by_sha.items())
        for key, by_sha in seen.items()
        if len(by_sha) > 1
    ]
    return out, errors


def run_child(sf_dir: str, prep: bool, keys: list[str], confs: dict[str, str]) -> dict:
    """One arm in this process's fresh JVM -> ``{key: {"sec", "sha"}}``."""
    from kwery_spark.session import builder

    from check import norm_rows, pandas_rows
    from scale_sweep import sweep_confs

    b = builder("kwery-ab")
    for k, v in {**({} if prep else sweep_confs(sf_dir)), **confs}.items():
        b = b.config(k, str(v))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import kwery_spark.all_ops  # noqa: F401
    from kwery_spark.registry import QUERIES

    if prep:
        import bench

        bench._prep(spark, sf_dir)
        # the arm's confs win over the prep's own
        for k, v in confs.items():
            if spark.conf.isModifiable(k):
                spark.conf.set(k, v)
    out = {}
    for key in keys:
        times = []
        for i in range(4):
            t0 = time.perf_counter()
            df = QUERIES[key](spark, sf_dir)
            pdf = df.toPandas()  # Arrow path, same as bench.py
            dt = time.perf_counter() - t0
            if i > 0:
                times.append(dt)
        rows = norm_rows(df.columns, pandas_rows(pdf))
        out[key] = {
            "sec": round(min(times), 3),
            "sha": hashlib.sha256(repr(rows).encode()).hexdigest()[:16],
        }
    return out


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    prep = child = False
    keys = None
    reps = 3
    arms: dict[str, dict[str, str]] = {}
    specs: dict[str, str] = {}
    while args:
        a = args.pop(0)
        if a == "--sf":
            sf_dir = args.pop(0)
        elif a == "--prep":
            prep = True
        elif a == "--keys":
            keys = args.pop(0).split(",")
        elif a == "--reps":
            reps = int(args.pop(0))
        elif a == "--arm":
            spec = args.pop(0)
            name, confs = parse_arm(spec)
            if name in arms:
                raise SystemExit(f"arm {name!r} given twice")
            arms[name], specs[name] = confs, spec
        elif a == "--child":
            child = True
        else:
            raise SystemExit(f"unknown argument {a!r}; see the module docstring")
    if keys is None:
        import bench

        keys = bench.HEADLINE
    if child:
        (confs,) = arms.values()
        print(json.dumps(run_child(sf_dir, prep, keys, confs)))
        return
    if not arms or reps < 1:
        raise SystemExit("give at least one --arm and --reps >= 1")

    names = list(arms)
    runs: dict[str, list[dict]] = {n: [] for n in names}
    for rep in range(reps):
        shift = rep % len(names)
        for name in names[shift:] + names[:shift]:
            cmd = [sys.executable, os.path.abspath(__file__), "--child",
                   "--sf", sf_dir, "--keys", ",".join(keys), "--arm", specs[name]]
            proc = subprocess.run(cmd + (["--prep"] if prep else []),
                                  capture_output=True, text=True)
            if proc.returncode != 0:
                raise SystemExit(f"arm {name} rep {rep} failed "
                                 f"(rc={proc.returncode}):\n{proc.stderr[-2000:]}")
            runs[name].append(json.loads(proc.stdout.strip().splitlines()[-1]))
    out, errors = summarize(runs)
    print(json.dumps(out))
    if errors:
        sys.exit("\n".join(errors))


if __name__ == "__main__":
    main()
