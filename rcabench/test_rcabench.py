"""Tests of the benchmark itself: inputs, output contract, count repeats.

    python3 -m pytest rcabench -q

Three tests run the benchmark through run.py (about three minutes).
"""
from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import run  # noqa: E402
from spans import _union_ms  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    CONFIG = json.load(_fh)


def _driver_rows():
    import inspect

    from riskloc_spark.operators.riskloc import riskloc

    return inspect.signature(riskloc).parameters["driver_rows"].default


def test_same_seed_same_inputs(tmp_path):
    a = gen.write_cases("derived_all", 7, str(tmp_path / "a"))
    b = gen.write_cases("derived_all", 7, str(tmp_path / "b"))
    c = gen.write_cases("derived_all", 8, str(tmp_path / "c"))
    assert a == b
    names = sorted(os.listdir(tmp_path / "a"))
    assert names == sorted(os.listdir(tmp_path / "b"))
    match, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b",
                                               names, shallow=False)
    assert not mismatch and not errors and len(match) == len(names)
    assert [x["label"] for x in c["cases"]] != [x["label"] for x in a["cases"]]


def test_case_leaf_counts_and_labels(tmp_path):
    m = gen.write_cases("derived_all", 3, str(tmp_path))
    for case in m["warmup"] + m["cases"]:
        with open(tmp_path / f"{case['stem']}.a.csv", encoding="utf-8") as fh:
            header, *rows = fh.read().splitlines()
        assert header == "a,b,c,d,real,predict"
        assert len(rows) == case["leaves"] <= _driver_rows()
        leaves = {",".join(r.split(",")[:4]) for r in rows}
        for cause in case["label"].split(";"):
            preds = dict(p.split("=") for p in cause.split("&"))
            assert any(all(v in leaf.split(",") for v in preds.values())
                       for leaf in leaves), cause


def test_workload_sides_of_driver_rows():
    import math

    for name, spec in WORKLOADS.items():
        for shape in spec["warmup"] + [spec["case"]]:
            n = math.prod(spec["params"][shape]["dimensions"].values())
            assert (n <= _driver_rows()) == spec["below"], (name, shape)


def test_design_covers_every_stratum():
    spec = WORKLOADS["small_plain"]
    block = spec["block"]
    slots = gen.design(spec)
    assert len(slots) == block
    for k in gen.design_keys(spec["params"][spec["case"]]):
        assert sorted(int(u[k] * block) for u in slots) == list(range(block))


def test_draw_ranges():
    spec = WORKLOADS["small_plain"]["params"]["S"]
    assert gen._draw(spec, "num_anomaly", 0.0) == 1
    assert gen._draw(spec, "num_anomaly", 0.999) == 3
    assert gen._draw(spec, "layer.2", 0.999) == 3
    assert gen._draw(spec, "noise_level", 0.5) == 0.01


def test_tail_and_union():
    assert run.tail(list(range(10))) is None
    t = run.tail(list(range(20)))
    assert t == {"value": 9, "percentile": 50.0, "n": 20}
    assert _union_ms([(0, 10), (5, 20), (30, 40)]) == 30
    assert _union_ms([]) == 0


def test_malformed_predictions():
    attrs = ["a", "b"]
    assert run.malformed(["a=a1&b=b2", "b=b3", "a=a1;a=a2&b=b1"], attrs) == []
    assert run.malformed(["a=b1", "c=c1", "a=a1&a=a2", "a", "b=b1;c=c1"],
                         attrs) == ["a=b1", "c=c1", "a=a1&a=a2", "a", "b=b1;c=c1"]


def test_check_flags_wrong_outputs():
    class Bench:
        driver_rows = 200_000

        def leaf_count(self, case):
            return case["leaves"]

    spec = WORKLOADS["large_plain"]
    manifest = {"cases": [{"stem": "case001", "leaves": 216_000}]}
    rec = {"case": "case001", "algo": "riskloc", "rep": 0, "tp": 1, "fp": 0,
           "fn": 0, "malformed": []}
    warm = {**rec, "case": "case000", "jobs": 20}
    assert run.check(spec, manifest, Bench(), [warm], [rec], []) == []
    # a warm-up cause missed, and the driver path taken above driver_rows
    missed = {**warm, "tp": 0, "fn": 1, "jobs": 1}
    failed = run.check(spec, manifest, Bench(), [missed], [rec], [])
    assert len(failed) == 2 and "cause not found" in failed[0]
    assert "not the distributed path" in failed[1]
    # a case on the wrong side of driver_rows
    small = {"cases": [{"stem": "case001", "leaves": 48_000}]}
    assert "wrong side" in run.check(spec, small, Bench(), [warm], [rec], [])[0]


def _run(workload, seed, trace, cwd=ROOT, seconds=1):
    return subprocess.run(
        [sys.executable, "rcabench/run.py", "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _check_contract(result, declared):
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["attempted"] >= 1 and result["failed"] == 0
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))


def test_untraced_output_carries_end_to_end_metrics():
    result = _result(_run("small_plain", 11, 0))
    _check_contract(result, CONFIG["end_to_end"])
    assert result["metrics"]["success_frac"]["value"] == 1.0


def test_traced_counts_repeat_exactly():
    first, second = (_result(_run("small_plain", 11, 1)) for _ in range(2))
    _check_contract(first, CONFIG["per_layer"])
    counts = [k for k in first["metrics"]
              if k.rsplit(".", 1)[1] in run.COUNTS]
    assert counts
    for k in counts:
        assert first["metrics"][k] == second["metrics"][k], k
    # the driver path runs a few jobs per riskloc call
    assert 1 <= first["metrics"]["operators.riskloc.jobs"]["value"] <= 5


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in CONFIG["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("small_plain", 1, 0, cwd=tmp_path)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
