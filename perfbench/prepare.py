"""Build step of a benchmark run, outside every timed region and outside
``setup_s``: generate the corpus, scale it with
``tools/gen_sf1.ensure_scaled``, and compute the DuckDB oracle digests of
the workload's keys once per corpus fingerprint and engine source.

Run as a child process by run.py, so its memory never counts in the
measured process's peak RSS. Prints one JSON object describing the
corpus and naming the digest file.

Usage: python3 perfbench/prepare.py --workload NAME
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "tools")]

import corpus  # noqa: E402
from workloads import BASE_SF, WORKLOADS  # noqa: E402

# kwery_spark.catalog.TABLES, without importing the engine here
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def corpus_info(sf_dir: str) -> dict:
    """Fingerprint ((size, mtime) of every table file), rows and MB."""
    import pyarrow.parquet as pq

    stats, rows, size = [], {}, 0
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        st = os.stat(path)
        stats.append((t, st.st_size, st.st_mtime_ns))
        rows[t] = pq.ParquetFile(path).metadata.num_rows
        size += st.st_size
    return {
        "dir": sf_dir,
        "fingerprint": hashlib.md5(repr(stats).encode()).hexdigest()[:12],
        "rows": rows,
        "mb": round(size / 1e6, 3),
    }


def source_hash() -> str:
    """Hash of the engine sources and the comparison code: an oracle
    digest is reused only for the code that produced it."""
    h = hashlib.md5()
    files = [os.path.join(ROOT, "tools", "check.py"), os.path.abspath(__file__)]
    for base, _dirs, names in os.walk(os.path.join(ROOT, "kwery_spark")):
        files += [os.path.join(base, n) for n in names if n.endswith(".py")]
    for path in sorted(files):
        h.update(path[len(ROOT):].encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def digest(cols: list[str], types: dict[str, str], rows) -> dict:
    """Order-insensitive summary of a result under tools/check.py's
    normalisation: sorted column names, normalised types, row count and
    a hash of the normalised, sorted rows. Rows are normalised as
    ``check.norm_rows`` does (``norm_cell`` per cell, columns by name,
    rows sorted by repr) and hashed one at a time, so only the row reprs
    are held, never a second copy of the rows or one string of them all."""
    from check import norm_cell

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    reprs = sorted(repr(tuple(norm_cell(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256()
    for r in reprs:
        h.update(r.encode())
        h.update(b"\n")
    return {
        "cols": sorted(cols),
        "types": {c: types[c] for c in sorted(cols)},
        "rows": len(reprs),
        "sha": h.hexdigest(),
    }


def result_rows(pdf):
    """A result's rows as ``check.pandas_rows`` gives them (the pandas
    dtypes the driver's hasher sees), one at a time instead of as a list."""
    return pdf.itertuples(index=False, name=None)


def oracle_digests(sf_dir: str, keys: list[str]) -> dict[str, dict]:
    # tools/gen_sf1 and tools/check put a fixed directory first on the
    # search path: load the entry module and the registry from this tree
    # before check can import them from there
    sys.path.insert(0, ROOT)
    import __spark_entry__  # noqa: F401
    from check import _norm_duck_type, duck_conn

    from kwery_spark.registry import ORACLES

    conn = duck_conn(sf_dir)
    out = {}
    for key in keys:
        rel = conn.sql(ORACLES[key])
        types = {c: _norm_duck_type(str(t)) for c, t in zip(rel.columns, rel.types)}
        out[key] = digest(list(rel.columns), types, result_rows(rel.df()))
    conn.close()
    return out


def prepare(name: str) -> dict:
    wl = WORKLOADS[name]
    t0 = time.perf_counter()
    base = corpus.ensure_corpus(os.path.join(WORK, "corpus", f"sf{BASE_SF:g}"), BASE_SF)
    sf_dir = base
    if wl.factor > 1:
        from gen_sf1 import ensure_scaled

        sf_dir = ensure_scaled(base, os.path.join(WORK, "corpus", wl.sf_label), wl.factor)
    info = corpus_info(sf_dir)
    path = os.path.join(
        WORK, "oracle", f"{info['fingerprint']}-{source_hash()}.json"
    )
    try:
        with open(path) as f:
            digests = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        digests = {}
    missing = [k for k in wl.keys if k not in digests]
    if missing:
        digests.update(oracle_digests(sf_dir, missing))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(digests, f)
        os.replace(path + ".tmp", path)
    info.update(
        sf=wl.sf_label,
        oracle_file=path,
        oracle_computed=missing,
        build_s=round(time.perf_counter() - t0, 3),
    )
    return info


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    print(json.dumps(prepare(ap.parse_args().workload)))


if __name__ == "__main__":
    main()
