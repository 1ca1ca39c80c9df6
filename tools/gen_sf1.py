"""Deterministic sf1 corpus: 10x key-shifted replication of the
driver's sf0.1 testdata (VERDICT r3 next-round item 1).

Why: this box charges ~150 ms of scheduler floor per Spark job
(BASELINE.md), so the 10-query headline suite pays ~1.5 s before any
work — at sf0.1 the 2x-of-DuckDB gate (0.88 s) is arithmetically
unreachable. At sf1 (~6 M lineitem rows) the fixed floor amortizes
against 10x the real work and the comparison measures execution, not
scheduling latency.

How: every SF-scaling table is replicated FACTOR times with keys
shifted by replica_index * (max(key)+1) — keys start at 0 in this
corpus, so the +1 keeps replica key ranges disjoint (ADVICE r4: plain
max(key) collided replica i's key 0 with replica i-1's max). Foreign
keys shift by the same constants, so replica i of lineitem references
replica i of orders/part/supplier and every join's per-key group-size
distribution is preserved exactly (no synthetic skew, no broken FKs). region/nation
are fixed-size by construction and copy as-is. Timestamps, prices, and
text are untouched, so value distributions match the source corpus.
Pure SQL over the source + range(FACTOR): bit-deterministic given the
source files.

The output dir carries _SF1_META.json embedding a (size, mtime)
fingerprint of the SOURCE corpus — when the driver regenerates
/root/testdata (it has), the stale sf1 corpus is detected and rebuilt
instead of being silently reused.

Usage: python tools/gen_sf1.py [--src /root/testdata/sf0.1] [--out .data/sf1]
Library: ensure_scaled(src, out, factor) -> out (no-op when fresh), used by
bench.py and perfbench.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil

import duckdb

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FACTOR = 10

_SCALED = {
    "customer": """
        SELECT c_custkey + i * {C} AS c_custkey, c_name, c_nationkey,
               c_acctbal, c_mktsegment
        FROM customer, range({F}) t(i)
    """,
    "supplier": """
        SELECT s_suppkey + i * {S} AS s_suppkey, s_name, s_nationkey,
               s_acctbal
        FROM supplier, range({F}) t(i)
    """,
    "part": """
        SELECT p_partkey + i * {P} AS p_partkey, p_name, p_brand, p_type,
               p_size, p_retailprice
        FROM part, range({F}) t(i)
    """,
    "orders": """
        SELECT o_orderkey + i * {O} AS o_orderkey,
               o_custkey + i * {C} AS o_custkey,
               o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM orders, range({F}) t(i)
    """,
    "lineitem": """
        SELECT l_orderkey + i * {O} AS l_orderkey,
               l_partkey + i * {P} AS l_partkey,
               l_suppkey + i * {S} AS l_suppkey,
               l_linenumber, l_quantity, l_extendedprice, l_discount,
               l_tax, l_returnflag, l_linestatus, l_shipdate
        FROM lineitem, range({F}) t(i)
    """,
    "events": """
        SELECT event_id + i * {E} AS event_id, ts,
               user_id + i * {U} AS user_id,
               event_type, value, props
        FROM events, range({F}) t(i)
    """,
    "documents": """
        SELECT doc_id + i * {D} AS doc_id, text, lang, source, n_chars
        FROM documents, range({F}) t(i)
    """,
    "embeddings": """
        SELECT vec_id + i * {V} AS vec_id, embedding, label
        FROM embeddings, range({F}) t(i)
    """,
}
_COPIED = ("region", "nation")


def _src_fingerprint(src: str) -> str:
    stats = []
    for name in sorted(list(_SCALED) + list(_COPIED)):
        st = os.stat(os.path.join(src, f"{name}.parquet"))
        stats.append((name, st.st_size, st.st_mtime_ns))
    return hashlib.md5(repr(stats).encode()).hexdigest()[:12]


def ensure_scaled(src: str, out: str, factor: int = FACTOR) -> str:
    """Generate (or reuse, if the source fingerprint matches) a
    factor-x key-shifted corpus at ``out``. Returns ``out``."""
    # v2: shift constants are max+1 (disjoint replica key ranges). The
    # version tag invalidates corpora built by the max(key) generator.
    fp = f"{_src_fingerprint(src)}-x{factor}-v2"
    meta_path = os.path.join(out, "_SF1_META.json")
    try:
        with open(meta_path) as f:
            if json.load(f).get("fingerprint") == fp:
                return out
    except (FileNotFoundError, json.JSONDecodeError):
        pass
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    for t in list(_SCALED) + list(_COPIED):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}/{t}.parquet')"
        )
    shifts = {
        "C": con.execute("SELECT max(c_custkey) + 1 FROM customer").fetchone()[0],
        "S": con.execute("SELECT max(s_suppkey) + 1 FROM supplier").fetchone()[0],
        "P": con.execute("SELECT max(p_partkey) + 1 FROM part").fetchone()[0],
        "O": con.execute("SELECT max(o_orderkey) + 1 FROM orders").fetchone()[0],
        "E": con.execute("SELECT max(event_id) + 1 FROM events").fetchone()[0],
        "U": con.execute("SELECT max(user_id) + 1 FROM events").fetchone()[0],
        "D": con.execute("SELECT max(doc_id) + 1 FROM documents").fetchone()[0],
        "V": con.execute("SELECT max(vec_id) + 1 FROM embeddings").fetchone()[0],
        "F": factor,
    }
    for t, sql in _SCALED.items():
        con.execute(
            f"COPY ({sql.format(**shifts)}) TO '{tmp}/{t}.parquet' (FORMAT PARQUET)"
        )
    for t in _COPIED:
        con.execute(
            f"COPY (SELECT * FROM {t}) TO '{tmp}/{t}.parquet' (FORMAT PARQUET)"
        )
    con.close()
    with open(os.path.join(tmp, "_SF1_META.json"), "w") as f:
        json.dump({"source": src, "fingerprint": fp, "factor": factor}, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=os.path.join(_ROOT, ".data", "sf1"))
    ap.add_argument("--factor", type=int, default=FACTOR)
    args = ap.parse_args()
    out = ensure_scaled(args.src, args.out, args.factor)
    con = duckdb.connect()
    for t in sorted(list(_SCALED) + list(_COPIED)):
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{out}/{t}.parquet')"
        ).fetchone()[0]
        print(f"{t}: {n} rows")


if __name__ == "__main__":
    main()
