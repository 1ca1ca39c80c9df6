"""Tests for the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import run  # noqa: E402
from metrics import (  # noqa: E402
    Outcomes,
    percentile,
    samples_beyond,
    tail_percentile,
    union_length,
    valid_name,
)
from spans import Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- tail percentile ---------------------------------------------------------

@pytest.mark.parametrize(
    "n, expected",
    [
        (10, None),   # even the median has only 5 beyond it
        (20, 50.0),   # rank 10, 10 beyond
        (39, 50.0),   # p75 rank 30 leaves 9 beyond
        (40, 75.0),   # p75 rank 30 leaves 10 beyond
        (99, 75.0),   # p90 rank 90 leaves 9 beyond
        (100, 90.0),
        (200, 95.0),
        (1000, 99.0),
        (10000, 99.9),
    ],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    p = tail_percentile(n)
    assert p == expected
    if p is not None:
        assert samples_beyond(n, p) >= 10


def test_tail_value_is_a_measured_sample_at_nearest_rank():
    samples = [float(i) for i in range(1, 41)]  # 1..40, shuffled order irrelevant
    assert percentile(list(reversed(samples)), 75.0) == 30.0
    assert samples_beyond(40, 75.0) == 10
    assert percentile(samples, 50.0) == 20.0


def test_workload_minimum_passes_support_the_tail():
    for wl in WORKLOADS.values():
        n_min = len(wl.keys) * run.MIN_WARM_PASSES
        assert tail_percentile(n_min) is not None, wl.name


# -- failure accounting ------------------------------------------------------

def test_failed_frac_counts_every_failure_kind_once():
    o = Outcomes()
    for _ in range(7):
        o.record("ok_key", None)
    o.record("bad", "error", "boom")
    o.record("slow", "timeout", "61 s")
    o.record("wrong", "mismatch", "sha")
    assert o.attempted == 10
    assert o.failed == 3
    assert o.failed_frac == pytest.approx(0.3)
    assert o.failures == {"error": 1, "timeout": 1, "mismatch": 1}
    assert set(o.failed_keys) == {"bad", "slow", "wrong"}


def test_failed_frac_of_nothing_attempted_is_zero():
    assert Outcomes().failed_frac == 0.0


def test_unknown_failure_kind_is_rejected():
    with pytest.raises(KeyError):
        Outcomes().record("k", "cosmic-ray")


# -- spans and self time -----------------------------------------------------

def _tracer_with(spans):
    """A tracer holding fixed (name, start, end, parent) spans."""
    t = Tracer()
    from spans import Span

    t.spans = [Span(n, s, e, p) for n, s, e, p in spans]
    return t


def test_self_time_subtracts_children():
    t = _tracer_with([
        ("key", 0.0, 10.0, None),
        ("operators.build", 1.0, 3.0, 0),
        ("exec.fetch", 4.0, 9.0, 0),
    ])
    assert t.self_time(0) == pytest.approx(10.0 - 2.0 - 5.0)
    assert t.self_time(1) == pytest.approx(2.0)


def test_self_time_counts_overlapping_children_once_and_clips_them():
    t = _tracer_with([
        ("setup", 0.0, 10.0, None),
        ("a", 2.0, 6.0, 0),
        ("b", 4.0, 8.0, 0),     # overlaps a: together they cover 2..8
        ("c", 9.0, 12.0, 0),    # runs past the parent: only 9..10 counts
        ("grandchild", 2.5, 3.0, 1),  # covered by its own parent, not by setup
    ])
    assert t.self_time(0) == pytest.approx(10.0 - 6.0 - 1.0)
    assert t.self_time(1) == pytest.approx(4.0 - 0.5)


def test_nested_spans_record_parents_and_find_within():
    t = Tracer()
    with t.span("pass"):
        with t.span("key"):
            with t.span("operators.build"):
                pass
    with t.span("pass"):
        with t.span("operators.build"):
            pass
    assert [s.parent for s in t.spans] == [None, 0, 1, None, 3]
    assert t.find("operators.build", within=0) == [2]
    assert t.find("operators.build") == [2, 4]
    assert t.self_time(1) <= t.duration(1)


def test_union_length():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert union_length([(5, 5), (2, 1)]) == 0.0


# -- names -------------------------------------------------------------------

@pytest.mark.parametrize("name", ["setup_s", "exec.core_busy", "olap-curate-write-sf0.05", "p50"])
def test_valid_names(name):
    assert valid_name(name)


@pytest.mark.parametrize("name", ["", "_lead", ".lead", "trailing\n", "has space", "slash/name", "x" * 65, "ü"])
def test_invalid_names(name):
    assert not valid_name(name)


def test_every_benchmark_name_is_valid_and_used_once():
    spec = _spec()
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert all(valid_name(n) for n in names)
    assert len(names) == len(set(names))


# -- BENCHMARK.json agrees with what the command prints -----------------------

def test_benchmark_json_matches_the_command():
    spec = _spec()
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    layers = {m["name"]: m for m in spec["per_layer"]}
    assert set(e2e) == set(run.END_TO_END_UNITS)
    assert set(layers) == set(run.PER_LAYER_UNITS)
    for name, m in e2e.items():
        assert m["unit"] == run.END_TO_END_UNITS[name]
        assert 0 < m["bound"] <= 0.25
    for name, m in layers.items():
        assert m["unit"] == run.PER_LAYER_UNITS[name]
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    for path in spec["paths"]:
        assert os.path.isdir(os.path.join(ROOT, path))
    assert spec["command"][1].startswith(spec["paths"][0] + "/")


def test_workload_sinks_are_workload_keys():
    for wl in WORKLOADS.values():
        assert set(wl.sink_keys) <= set(wl.keys)
        assert len(set(wl.keys)) == len(wl.keys)


def test_refuses_to_run_outside_a_checkout(tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    rc = run.main(["--workload", "interactive-sf0.01", "--seed", "1", "--seconds", "1"])
    assert rc != 0
    assert capsys.readouterr().out == ""


# -- result digests ----------------------------------------------------------

def test_digest_hashes_rows_as_check_normalises_them():
    import hashlib

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import norm_rows
    from prepare import digest

    cols = ["b", "a"]
    rows = [(2.0000001, "x"), (1.0, None), (3.5, "y")]
    types = {"a": "str", "b": "f64"}
    d = digest(cols, types, iter(rows))
    h = hashlib.sha256()
    for r in norm_rows(cols, rows):
        h.update(repr(r).encode() + b"\n")
    assert d == {"cols": ["a", "b"], "types": {"a": "str", "b": "f64"},
                 "rows": 3, "sha": h.hexdigest()}
    assert digest(cols, types, reversed(rows)) == d
    assert digest(cols, types, rows[:2] + [(3.5, "z")])["sha"] != d["sha"]


def test_fingerprint_of_list_cells_is_none():
    import pandas as pd

    plain = pd.DataFrame({"k": [1, 2], "v": ["a", "b"]})
    types = {"k": "i64", "v": "str"}
    fp = run._fingerprint(plain, types)
    assert fp == run._fingerprint(plain.iloc[::-1].reset_index(drop=True), types)
    assert fp != run._fingerprint(pd.DataFrame({"k": [1, 3], "v": ["a", "b"]}), types)
    assert run._fingerprint(pd.DataFrame({"k": [1], "v": [[1.0, 2.0]]}), types) is None


# -- corpus ------------------------------------------------------------------

def test_corpus_timestamps_are_naive_micros_like_the_fixture_files():
    import pyarrow as pa

    import corpus

    tables = corpus.build_tables(0.0001)
    naive_us = pa.timestamp("us")
    assert tables["events"].schema.field("ts").type == naive_us
    assert tables["orders"].schema.field("o_orderdate").type == naive_us
    assert tables["lineitem"].schema.field("l_shipdate").type == naive_us
    assert set(tables) == set(corpus.row_counts(0.0001))
