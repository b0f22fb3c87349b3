"""Self-tests of the benchmark harness (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from datagen import generate  # noqa: E402
from layers import PER_LAYER  # noqa: E402
from stats import spread, tail  # noqa: E402
from workloads import WORKLOADS, build_ops, pass_order  # noqa: E402

import run  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize(
    "n, index, pct",
    [(100, 89, 90.0), (1000, 989, 99.0), (21, 10, 100 * 11 / 21), (20, 10, 55.0), (8, 4, 62.5), (1, 0, 100.0)],
)
def test_tail_keeps_ten_samples_beyond_and_never_drops_below_median(n, index, pct):
    xs = [float(i) for i in range(n)]
    value, p = tail(list(reversed(xs)))
    assert value == xs[index]
    assert p == pytest.approx(pct)
    if n > 20:
        assert sum(x > value for x in xs) == 10
    assert value >= sorted(xs)[(n - 1) // 2]


def test_tail_rejects_empty():
    with pytest.raises(ValueError):
        tail([])


def test_spread_is_iqr_over_median():
    assert spread([1.0, 1.0, 1.0, 1.0]) == 0.0
    assert spread([9.0, 10.0, 10.0, 11.0, 10.0]) == pytest.approx(0.1, abs=0.06)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_pass_order_is_a_seeded_permutation(name):
    ops = WORKLOADS[name].ops
    a = pass_order(ops, seed=7, n_pass=0)
    assert sorted(a) == sorted(ops)
    assert a == pass_order(ops, seed=7, n_pass=0)
    orders = {tuple(pass_order(ops, seed=s, n_pass=p)) for s in range(4) for p in range(3)}
    assert len(orders) > 1


def test_pass_count_follows_seconds_only():
    for wl in WORKLOADS.values():
        assert wl.passes(0.5) == 1
        assert wl.passes(3 * wl.pass_s) == 3


def test_seed_key_is_stable_across_processes():
    code = "import sys; sys.path.insert(0, %r); import run; print(run.hash_key('plain'), run.hash_key(3))" % HERE
    outs = {subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, check=True).stdout
            for _ in range(2)}
    assert len(outs) == 1


def test_every_workload_op_is_defined():
    ops = build_ops()
    for wl in WORKLOADS.values():
        for name in wl.ops + wl.warmup:
            assert name in ops, (wl.name, name)


def test_generated_tables_are_deterministic(tmp_path):
    generate(str(tmp_path / "a"), seed=3, sf=0.001)
    generate(str(tmp_path / "b"), seed=3, sf=0.001, tables=("events", "part"))
    generate(str(tmp_path / "c"), seed=4, sf=0.001, tables=("events",))
    for t in ("events", "part"):
        assert (tmp_path / "a" / f"{t}.parquet").read_bytes() == (tmp_path / "b" / f"{t}.parquet").read_bytes()
    assert (tmp_path / "a" / "events.parquet").read_bytes() != (tmp_path / "c" / "events.parquet").read_bytes()


def test_printed_metric_names_match_benchmark_json():
    cfg = _benchmark_json()
    window = {"lat": [1.0, 2.0, 3.0], "cpu": 3.0, "failed": 0}
    metrics, _ = run.end_to_end([1.0, 2.0, 3.0], window, 10 * run.MB)
    for m in cfg["end_to_end"]:
        assert m["name"] in metrics
        assert metrics[m["name"]]["unit"] == m["unit"]
        assert metrics[m["name"]]["value"] != 0
    assert [m["name"] for m in cfg["per_layer"]] == list(PER_LAYER)
    for m in cfg["per_layer"]:
        assert (m["unit"], m["better"]) == PER_LAYER[m["name"]]
    assert {w["name"] for w in cfg["workloads"]} <= set(WORKLOADS)


def test_setup_s_has_the_largest_bound():
    e2e = {m["name"]: m for m in _benchmark_json()["end_to_end"]}
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())


def test_exits_nonzero_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    run must fail fast and print no result line."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    cmd = _benchmark_json()["command"] + ["--workload", "array", "--seed", "1", "--seconds", "1", "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
