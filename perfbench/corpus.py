"""Deterministic synthetic corpus for the benchmark.

Writes the ten tables the engine reads (``kwery_spark.catalog.TABLES``)
with the schema and value domains documented in FIXTURES.md: a TPC-H-shaped
star schema, an ``events`` stream, a near-duplicate-heavy ``documents``
text column and L2-normalised 64-d ``embeddings``. Every table is one
single-row-group parquet file, the layout the engine's raw-file path and
its ``optimize_layout`` prep both expect.

The corpus depends only on the scale and ``CORPUS_SEED``, never on the
benchmark's ``--seed`` (which permutes key order), so the oracle digests
computed for one corpus serve every run.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
# Bump when the generator's output changes, so cached corpora and oracle
# digests built by an older generator are never reused.
GENERATOR_VERSION = 1

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
_PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
_LANGS = ["en", "fr", "zh", "es", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_EMBED_DIM = 64


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (FIXTURES.md row-count table)."""
    orders = int(1_500_000 * sf)
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": orders,
        "lineitem": 4 * orders,
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _days(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return (days * 86_400_000_000).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Token texts over a small vocabulary; ~40% of documents are light
    edits of an earlier one, so near-duplicate detection has real work."""
    docs: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.4:
            toks = docs[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                toks[int(rng.integers(0, len(toks)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
        else:
            length = int(rng.integers(10, 100))
            toks = [_VOCAB[j] for j in rng.integers(0, len(_VOCAB), length)]
        docs.append(" ".join(toks))
    return docs


def _embeddings(rng: np.random.Generator, n: int) -> tuple[pa.Array, np.ndarray]:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(0.0, 1.0, (10, _EMBED_DIM))
    vecs = centroids[labels] + rng.normal(0.0, 1.5, (n, _EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    offsets = np.arange(0, (n + 1) * _EMBED_DIM, _EMBED_DIM, dtype=np.int32)
    return pa.ListArray.from_arrays(offsets, pa.array(vecs.ravel(), pa.float32())), labels


def build_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(CORPUS_SEED)
    n = row_counts(sf)
    i32, i64 = pa.int32(), pa.int64()
    ids = {k: np.arange(v, dtype=np.int64) for k, v in n.items()}
    tables: dict[str, pa.Table] = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": pa.array(_REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": ids["customer"],
            "c_name": pa.array([f"Customer#{i:09d}" for i in ids["customer"]]),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
            "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
            "c_mktsegment": _pick(rng, _SEGMENTS, n["customer"]),
        }),
        "supplier": pa.table({
            "s_suppkey": ids["supplier"],
            "s_name": pa.array([f"Supplier#{i:09d}" for i in ids["supplier"]]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
            "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99),
        }),
    }
    adj = rng.integers(0, len(_PART_ADJ), n["part"])
    noun = rng.integers(0, len(_PART_NOUN), n["part"])
    tables["part"] = pa.table({
        "p_partkey": ids["part"],
        "p_name": pa.array([f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n["part"])]),
        "p_type": _pick(rng, _PART_TYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
        "p_retailprice": np.round(900.0 + (ids["part"] % 1000) * 0.1, 1),
    })
    tables["orders"] = pa.table({
        "o_orderkey": ids["orders"],
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": _pick(rng, ["O", "P", "F"], n["orders"]),
        "o_totalprice": _money(rng, n["orders"], 1000.0, 500000.0),
        "o_orderdate": _days(rng, n["orders"], "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, _PRIORITIES, n["orders"]),
    })
    nl = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], nl),
        "l_partkey": rng.integers(0, n["part"], nl),
        "l_suppkey": rng.integers(0, n["supplier"], nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04"),
    })
    ne = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400_000_000
    tables["events"] = pa.table({
        "event_id": ids["events"],
        "ts": np.sort(t0 + rng.integers(0, span, ne)).astype("datetime64[us]"),
        "user_id": rng.integers(0, max(10, ne // 66), ne),
        "event_type": _pick(rng, _EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)]),
    })
    docs = _documents(rng, n["documents"])
    tables["documents"] = pa.table({
        "doc_id": ids["documents"],
        "text": pa.array(docs),
        "lang": _pick(rng, _LANGS, n["documents"], p=_LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n["documents"])]),
        "n_chars": pa.array([len(d) for d in docs], i64),
    })
    emb, labels = _embeddings(rng, n["embeddings"])
    tables["embeddings"] = pa.table({
        "vec_id": ids["embeddings"],
        "embedding": emb,
        "label": pa.array(labels, i32),
    })
    return tables


def ensure_corpus(out: str, sf: float) -> str:
    """Write the corpus at ``out`` unless a complete one for the same
    scale and generator version is already there. Returns ``out``."""
    tag = {"sf": sf, "seed": CORPUS_SEED, "version": GENERATOR_VERSION}
    meta = os.path.join(out, "_CORPUS_META.json")
    try:
        with open(meta) as f:
            if json.load(f) == tag:
                return out
    except (FileNotFoundError, json.JSONDecodeError):
        pass
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tbl in build_tables(sf).items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"), row_group_size=max(1, tbl.num_rows))
    with open(os.path.join(tmp, "_CORPUS_META.json"), "w") as f:
        json.dump(tag, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
