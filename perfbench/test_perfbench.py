"""Tests of the benchmark itself.

Run with ``python3 -m pytest perfbench -q`` from the repository root.
The smoke runs start one Spark process each on tiny inputs, so the
whole file takes a few minutes.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from spans import Tracer  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
ALL_WORKLOADS = ["inventory_refresh", "fleet_analytics", "corpus_stream"]


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            path = os.path.join(d, f)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _inventory_trees(root: str, seed: int) -> str:
    model = gen.InventoryModel(seed=seed, types=20, regions=2, zones=2,
                               gcp_types=6, inspected=3)
    for k in range(3):
        model.advance()
        model.write_bronze(os.path.join(root, f"bronze{k}"))
        model.expect()
    return _tree_digest(root)


@pytest.mark.parametrize("make", [
    _inventory_trees,
    lambda root, seed: (gen.write_fleet(root, seed, 0.002),
                        _tree_digest(root))[1],
    lambda root, seed: (gen.write_documents(
        os.path.join(root, "lake"), os.path.join(root, "batch"), seed,
        200, 40), _tree_digest(root))[1],
], ids=["inventory", "fleet", "documents"])
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, make):
    a = make(str(tmp_path / "a"), 7)
    b = make(str(tmp_path / "b"), 7)
    c = make(str(tmp_path / "c"), 8)
    assert a == b
    assert a != c


def test_inventory_model_counts_churn():
    model = gen.InventoryModel(seed=3, types=40, regions=2, zones=2,
                               gcp_types=10, inspected=4)
    model.advance()
    cold = model.expect()
    assert cold["server"].inactive == 0
    assert model.changed == cold["server"].active + cold["server_price"].active
    model.advance()
    refresh = model.expect()
    # a retired server stays in the lake as inactive; new ones replace it
    assert refresh["server"].active == cold["server"].active
    assert refresh["server"].inactive == 2  # one aws, one gcp
    assert 0 < model.changed < cold["server_price"].active


def test_benchmark_json_contract():
    bench = _bench()
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    for m in bench["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    for w in bench["workloads"]:
        assert w["name"] in ALL_WORKLOADS and "\n" not in w["why"]


def test_span_self_time_and_job_attribution():
    t = Tracer(enabled=True)
    t.spans = [
        {"id": 0, "layer": "cli", "name": "cmd", "parent": None,
         "step": "s", "start": 0.0, "end": 10.0},
        {"id": 1, "layer": "sinks", "name": "write", "parent": 0,
         "step": "s", "start": 2.0, "end": 6.0},
        {"id": 2, "layer": "operators", "name": "op", "parent": 1,
         "step": "s", "start": 3.0, "end": 4.0},
    ]
    job = {"task_s": 1.0, "input_bytes": 5, "shuffle_bytes": 0,
           "spill_bytes": 0, "output_bytes": 7, "output_rows": 3}
    t.jobs = [dict(job, job=0, submitted=5.0),   # inside sinks only
              dict(job, job=1, submitted=3.5),   # innermost: operators
              dict(job, job=2, submitted=8.0)]   # back in cli
    m = t.layer_metrics()
    assert m["cli.self_s"] == pytest.approx(6.0)
    assert m["sinks.self_s"] == pytest.approx(3.0)
    assert m["operators.self_s"] == pytest.approx(1.0)
    assert (m["cli.jobs"], m["sinks.jobs"], m["operators.jobs"]) == (1, 1, 1)
    assert m["sinks.output_bytes"] == 7
    assert t.rows_written() == 3
    assert t.rows_written(steps={"other"}) == 0


def _run(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ALL_WORKLOADS)
def test_tiny_smoke_run(workload, trace):
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
    assert result["attempted"] >= 1
    bench = _bench()
    want = bench["per_layer"] if trace else bench["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in want}
    assert all(isinstance(v["value"], (int, float))
               for v in result["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    detail = json.loads(lines[-2])
    assert detail["workload"] == workload and detail["env"]["cpus"] >= 1
    assert all(NAME.match(k) for k in detail["steps"])


def test_fails_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run("inventory_refresh", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
