"""tools/ab.py: one fresh JVM per arm and rep, values asserted equal
across arms."""

from __future__ import annotations

import json
import subprocess
import sys

import ab


def test_two_arms_in_fresh_jvms_hash_equal(tmp_path, sf_dir):
    # cwd outside the checkout: the tool finds its package from __file__,
    # and the Python workers of mm_decode_features' mapInPandas find it
    # through the session's PYTHONPATH. A decoy package in the cwd stands
    # for another checkout; the workers must not import it.
    decoy = tmp_path / "kwery_spark"
    decoy.mkdir()
    (decoy / "__init__.py").write_text('raise ImportError("decoy package imported from the cwd")\n')
    proc = subprocess.run(
        [sys.executable, ab.__file__, "--sf", sf_dir,
         "--keys", "q1_pricing_summary,mm_decode_features", "--reps", "1",
         "--arm", "a", "--arm", "b:spark.sql.shuffle.partitions=4"],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"a", "b"}
    shas = {arm: out[arm]["q1_pricing_summary"]["sha"] for arm in out}
    assert shas["a"] == shas["b"], shas


def test_differing_hashes_fail_naming_key_and_arms():
    run = lambda sha: {"k1": {"sec": 1.0, "sha": "same"}, "k2": {"sec": 2.0, "sha": sha}}
    out, errors = ab.summarize({"on": [run("x"), run("x")], "off": [run("y")]})
    assert out["on"]["k2"] == {"sec": 2.0, "sha": "x"}
    assert len(errors) == 1
    assert errors[0].startswith("k2:") and "off" in errors[0] and "on" in errors[0]
    # a hash that changes between reps of ONE arm fails too
    _, errors = ab.summarize({"on": [run("x"), run("z")]})
    assert len(errors) == 1 and errors[0].startswith("k2:")
    assert ab.summarize({"on": [run("x")], "off": [run("x")]})[1] == []
