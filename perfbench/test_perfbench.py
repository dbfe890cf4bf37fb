"""Benchmark self-tests: span arithmetic, plus a smoke run of every
workload (tiny inputs, one cycle) in both modes.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spans import Span, layer_of, self_times, subtree_counts  # noqa: E402


def test_layer_of_takes_the_longest_prefix():
    assert layer_of("lake.merge.append") == "lake.merge"
    assert layer_of("lake.table.snapshot") == "lake.table"
    assert layer_of("operators.vocab.update_vocab") == "operators"
    assert layer_of("bench.cycle") == "bench"


def test_self_time_subtracts_the_union_of_children():
    root = Span(0, "bench.cycle", None, 0.0, 10.0)
    a = Span(1, "cdc.apply", 0, 1.0, 5.0, jobs=2)
    b = Span(2, "lake.merge.append", 1, 2.0, 4.0, jobs=3)
    # overlapping siblings (two threads) count their union once
    c = Span(3, "lake.table.lookup", 0, 4.0, 6.0, jobs=1)
    st = self_times([root, a, b, c])
    assert st[0] == pytest.approx(10.0 - 5.0)
    assert st[1] == pytest.approx(4.0 - 2.0)
    assert st[2] == pytest.approx(2.0)
    assert subtree_counts([root, a, b, c]) == {0: 6, 1: 5, 2: 3, 3: 1}


@pytest.mark.parametrize("workload", ["ingest_shipped", "follow_views"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(workload, trace, tmp_path):
    repo = os.path.dirname(HERE)
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=repo, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-2000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    with open(os.path.join(repo, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = spec["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in want}
    for m in want:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]


def test_refuses_to_run_outside_a_checkout(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench / name).write_text(open(os.path.join(HERE, name)).read())
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_shipped",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_lookup_keys_come_a_third_from_each_class():
    import numpy as np
    from workloads import pick_keys

    state = {f"doc-{i:012d}": ([i], 1, "s") for i in range(40) if i % 4}
    touched = [f"doc-{i:012d}" for i in range(20, 40)]
    keys = pick_keys(np.random.default_rng(0), state, touched, 9)
    assert len(keys) == len(set(keys)) == 9
    assert sum(k in state and k in touched for k in keys) == 3
    assert sum(k in state and k not in touched for k in keys) == 3
    assert sum(k not in state for k in keys) == 3
