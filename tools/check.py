"""Local stand-in for the driver's correctness gate.

For every key in ``queries()``: run the Spark query at sf0.01, run the
paired ``oracle_sql()`` in DuckDB over the same parquet (views
pre-registered as in ``__spark_entry__``), and compare row count, column
names, and values (order-insensitive, float-tolerant). Keys without an
oracle get a rows-only check (runs + rows >= 0).

Usage:  python tools/check.py [key ...]   (no args = all keys)
        python tools/check.py --sf /root/testdata/sf0.001 key
        python tools/check.py --sample 25 --seed 7   (seeded random sample)
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from kwery_spark.session import get_spark

DEFAULT_SF_DIR = "/root/testdata/sf0.01"

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    conn = duckdb.connect()
    for t in TABLES:
        conn.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return conn


_DUCK_TYPES = {
    "TINYINT": "i8", "SMALLINT": "i16", "INTEGER": "i32", "BIGINT": "i64",
    "HUGEINT": "i128", "UTINYINT": "u8", "USMALLINT": "u16", "UINTEGER": "u32",
    "UBIGINT": "u64", "FLOAT": "f32", "DOUBLE": "f64", "VARCHAR": "str",
    "BOOLEAN": "bool", "DATE": "date", "TIMESTAMP": "ts",
    "TIMESTAMP_NS": "ts!ns", "TIMESTAMP_MS": "ts!ms", "TIMESTAMP WITH TIME ZONE": "ts",
    "NUMBER": "f64",
}

_SPARK_TYPES = {
    "tinyint": "i8", "smallint": "i16", "int": "i32", "bigint": "i64",
    "float": "f32", "double": "f64", "string": "str", "boolean": "bool",
    "date": "date", "timestamp": "ts", "timestamp_ntz": "ts",
}


def _norm_duck_type(t: str) -> str:
    t = t.upper()
    if t.startswith("DECIMAL"):
        return "dec"
    if t.endswith("[]") or t.startswith("LIST") or t.startswith("ARRAY"):
        return "arr"
    return _DUCK_TYPES.get(t, t.lower())


def _norm_spark_type(t: str) -> str:
    if t.startswith("decimal"):
        return "dec"
    if t.startswith("array"):
        return "arr"
    return _SPARK_TYPES.get(t, t)


def norm_cell(v):
    import datetime as _dt
    import decimal as _decimal

    import numpy as _np

    if isinstance(v, _decimal.Decimal):
        # The driver's hasher normalizes floats but NOT Decimal objects, so
        # a DECIMAL-typed Spark output column hashes differently from the
        # float64 DuckDB .df() produces for the same values (r6 driver
        # finding: agg_skew_twophase values bit-identical yet hash-fail).
        # Fail loudly so no registry key can ship a decimal output column.
        raise TypeError(
            "decimal.Decimal output cell — DECIMAL output columns diverge "
            "between Spark toPandas() (Decimal) and DuckDB .df() (float64) "
            "in the driver hasher; CAST the final projection to DOUBLE with "
            "a matching round() in both engines"
        )
    if isinstance(v, (float, _np.floating)):
        if math.isnan(v):
            return "NaN"
        # round to 6 significant-ish digits so summation-order ulp noise
        # doesn't fail the compare (driver hashes similarly rounded values)
        return float(f"{float(v):.6g}")
    if isinstance(v, (bool, _np.bool_)):
        return bool(v)
    if isinstance(v, (int, _np.integer)):
        return int(v)
    if isinstance(v, (list, dict, _np.ndarray)):
        # The grading driver canonicalizes via pandas sort_values/factorize,
        # which raises `unhashable type: 'list'` on complex cells. Fail
        # identically here so driver-incompatible outputs can't pass
        # locally (CORRECTNESS_r01: agg_collect et al. burned on this).
        raise TypeError(
            f"unhashable type: {type(v).__name__!r} — complex output column "
            "crashes the driver hasher; render to string (concat_ws/to_json) "
            "in the final projection"
        )
    if v is None or v is getattr(__import__("pandas"), "NaT", None):
        return None
    if hasattr(v, "isoformat"):
        # normalize date-kind cells across materialization paths: DuckDB
        # .df() yields Timestamp('2020-01-01 00:00:00') for a DATE column
        # while Spark toPandas() yields datetime.date(2020, 1, 1)
        iso = v.isoformat()
        if isinstance(v, _dt.datetime) and iso.endswith("T00:00:00"):
            return iso[:10]
        return iso
    return v


def pandas_rows(pdf):
    """Materialized rows exactly as the driver's pandas hasher sees them
    (toPandas()/.df() dtypes — NOT collect()/fetchall(), whose Python
    scalars hid the r6 Decimal-vs-float64 divergence)."""
    return [tuple(r) for r in pdf.itertuples(index=False, name=None)]


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return out


def check_key(spark, conn, key, qfn, oracle, sf_dir, rec=None) -> tuple[bool, str]:
    rec = rec if rec is not None else {}
    t0 = time.perf_counter()
    df = qfn(spark, sf_dir)
    spark_cols = df.columns
    spark_rows = pandas_rows(df.toPandas())
    t_spark = time.perf_counter() - t0
    rec.update(rows=len(spark_rows), spark_sec=round(t_spark, 3))
    if oracle is None:
        rec.update(oracle=False)
        return True, f"rows-only: {len(spark_rows)} rows in {t_spark:.2f}s"
    rec.update(oracle=True)
    t0 = time.perf_counter()
    rel = conn.sql(oracle)
    duck_cols = list(rel.columns)
    duck_types = {c: _norm_duck_type(str(t)) for c, t in zip(rel.columns, rel.types)}
    duck_rows = pandas_rows(rel.df())
    t_duck = time.perf_counter() - t0
    spark_types = {c: _norm_spark_type(t) for c, t in df.dtypes}
    problems = []
    rows_match = len(spark_rows) == len(duck_rows)
    if not rows_match:
        problems.append(f"rowcount spark={len(spark_rows)} duck={len(duck_rows)}")
    schema_match = sorted(spark_cols) == sorted(duck_cols)
    if not schema_match:
        problems.append(f"cols spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
    else:
        type_diff = {
            c: (spark_types[c], duck_types[c])
            for c in spark_cols
            if spark_types[c] != duck_types[c]
        }
        if type_diff:
            schema_match = False
            problems.append(f"types differ {type_diff}")
    values_match = False
    if not problems:
        ns, nd = norm_rows(spark_cols, spark_rows), norm_rows(duck_cols, duck_rows)
        values_match = ns == nd
        if not values_match:
            diff = [(a, b) for a, b in zip(ns, nd) if a != b]
            problems.append(
                f"values differ in {len(diff)}/{len(ns)} rows; first: "
                f"spark={diff[0][0]!r} duck={diff[0][1]!r}"
            )
    rec.update(
        rows_match=rows_match,
        schema_match=schema_match,
        values_match=values_match,
        duck_sec=round(t_duck, 3),
    )
    if problems:
        return False, "; ".join(problems)
    return True, f"{len(spark_rows)} rows  spark={t_spark:.2f}s duck={t_duck*1000:.0f}ms"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="*")
    ap.add_argument("--sf", default=DEFAULT_SF_DIR)
    ap.add_argument(
        "--json",
        default=None,
        help="write a machine-readable per-key log (CHECKLOG) to this path",
    )
    ap.add_argument(
        "--vanilla",
        action="store_true",
        help="use a bare SparkSession (no kwery_spark.session conf) — the "
        "grading driver's own session shape; proves no key depends on "
        "builder-side configuration",
    )
    ap.add_argument(
        "--sample",
        type=int,
        default=None,
        metavar="N",
        help="check a deterministic random sample of N keys (driver-style "
        "blind-spot insurance; combine with --seed for fresh samples)",
    )
    ap.add_argument("--seed", type=int, default=0, help="sample seed")
    args = ap.parse_args()

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    keys = args.keys or list(queries)
    missing = [k for k in keys if k not in queries]
    if missing:
        print(f"unknown keys: {missing}")
        return 2
    if args.sample is not None:
        import random

        rng = random.Random(args.seed)
        keys = sorted(rng.sample(sorted(keys), min(args.sample, len(keys))))
        print(f"sampled {len(keys)} keys (seed {args.seed})")

    if args.vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("kwery-check-vanilla")
            .getOrCreate()
        )
    else:
        spark = get_spark("kwery-check")
    conn = duck_conn(args.sf)
    n_fail = 0
    log: dict[str, dict] = {}
    for key in keys:
        rec: dict = {}
        try:
            ok, msg = check_key(
                spark, conn, key, queries[key], oracles.get(key), args.sf, rec
            )
        except Exception as e:  # noqa: BLE001
            ok, msg = False, f"EXCEPTION {type(e).__name__}: {e}"
            rec.update(error=f"{type(e).__name__}: {e}")
        status = "PASS" if ok else "FAIL"
        rec.update(status=status)
        log[key] = rec
        n_fail += not ok
        print(f"[{status}] {key}: {msg}")
    print(f"\n{len(keys) - n_fail}/{len(keys)} passed")
    if args.json:
        import json

        with open(args.json, "w") as f:
            json.dump(
                {
                    "sf_dir": args.sf,
                    "n_keys": len(keys),
                    "n_pass": len(keys) - n_fail,
                    "keys": log,
                },
                f,
                indent=1,
            )
        print(f"wrote {args.json}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
