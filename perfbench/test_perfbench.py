"""The benchmark's own tests: the correctness model, the file → batch
mapping, span self times, and a smoke run of every workload against the
output contract in BENCHMARK.json.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

from perfbench import model
from perfbench.observe import Tracer
from perfbench.workloads import file_commits, p

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def test_model_accepts_one_forward_per_unseeded_content():
    cids = np.array([0, 1, 0, 2, 1, 3])
    failed, s = model.check(cids, 100, ["100", "101", "103"], {3}, 6, 3)
    assert failed == 0 and s["expected_forwarded"] == 3


@pytest.mark.parametrize(
    "fwd, n_input, dropped, want",
    [
        (["100", "101", "103", "105"], 6, 2, 1),  # seeded content forwarded
        (["100", "101", "103", "102"], 6, 2, 1),  # content forwarded twice
        (["100", "101"], 6, 3, 2),  # content 2 missing; balance short by one
        (["100", "101", "103"], 5, 3, 1),  # a message never consumed
        (["100", "101", "103", "999"], 6, 2, 1),  # unknown message id
    ],
)
def test_model_counts_each_disagreement(fwd, n_input, dropped, want):
    cids = np.array([0, 1, 0, 2, 1, 3])
    assert model.check(cids, 100, fwd, {3}, n_input, dropped)[0] == want


def _batch(bid, start_ms, trigger_ms):
    ts = f"2024-01-01T00:00:{start_ms // 1000:02d}.{start_ms % 1000:03d}Z"
    return {"batchId": bid, "timestamp": ts, "durationMs": {"triggerExecution": trigger_ms}}


def test_files_map_to_batches_by_cumulative_rows():
    b0, b1 = _batch(0, 1000, 500), _batch(1, 1500, 700)
    commits = file_commits([(b0, 20), (_batch(9, 0, 1), 0), (b1, 30)], [10, 10, 10, 20])
    base = commits[0] - 1.5
    assert [round(c - base, 3) for c in commits] == [1.5, 1.5, 2.2, 2.2]
    assert file_commits([(b0, 10)], [10, 10])[1] is None


def test_percentile_is_nearest_rank():
    v = list(range(1, 101))
    assert (p(v, 50), p(v, 90), p([7], 90)) == (50, 90, 7)


def test_self_time_subtracts_children_once():
    t = Tracer(enabled=True)
    root = t.add("run", 0.0, 10.0, None, "driver")
    a = t.add("a", 1.0, 5.0, root, "x")
    t.add("a1", 2.0, 3.0, a, "y")
    t.add("a2", 2.5, 4.0, a, "y")  # overlaps a1
    t.add("b", 4.0, 6.0, root, "z")  # overlaps a
    st = t.self_times()
    assert st == pytest.approx({"driver": 5.0, "x": 2.0, "y": 2.5, "z": 2.0})


def _run(args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "out", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = _run(["--workload", "replay_dup90", "--seed", "1", "--seconds", "1"], tmp_path)
    assert out.returncode != 0 and out.stdout == ""


@pytest.mark.parametrize(
    "workload, trace",
    # batch_dedup is not in BENCHMARK.json (see README.md) but must keep working
    [(w["name"], 0) for w in BENCH["workloads"]] + [("batch_dedup", 0), ("live_warm", 1)],
)
def test_smoke_run_meets_the_output_contract(workload, trace):
    out = _run(["--workload", workload, "--seed", "5", "--seconds", "1",
                "--trace", str(trace), "--smoke"])
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    spec = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in res["metrics"].items()
    }
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
