"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``.

The run tests start a real session per workload (about a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "tests"), HERE]

import inputs  # noqa: E402
import layers  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _f:
    BENCH = json.load(_f)


@pytest.fixture
def workdir(request):
    """A scratch directory inside the checkout, removed afterwards."""
    path = os.path.join(ROOT, ".perfbench", f"test-{request.node.name}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


def run_bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def result(proc: subprocess.CompletedProcess) -> dict:
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_inputs_follow_the_seed(workdir):
    a, b, c = (inputs.derive_tables(os.path.join(workdir, d), s, 0.1) for d, s in (("a", 7), ("b", 7), ("c", 8)))
    assert a == b
    a.pop("lineitem"), c.pop("lineitem")
    assert a == c  # the seed moves which rows are kept, not how many

    def read(d, table, col):
        return pq.read_table(os.path.join(workdir, d, f"{table}.parquet")).column(col).to_pylist()

    assert read("a", "orders", "o_orderkey") == read("b", "orders", "o_orderkey")
    assert read("a", "orders", "o_orderkey") != read("c", "orders", "o_orderkey")
    # lineitem follows its orders, so joins stay consistent
    assert set(read("a", "lineitem", "l_orderkey")) <= set(read("a", "orders", "o_orderkey"))


def test_stream_slices_cover_the_window_once():
    fact = pq.read_table(os.path.join(inputs.SNAPSHOT, "orders.parquet")).rename_columns(
        ["order_index", "custkey", "status", "total", "operating_date", "priority"]
    )
    slices = inputs.stream_slices(fact, 3, 240, 16, 0.1)
    keys = [k for s in slices for k in s.column("order_index").to_pylist()]
    assert len(keys) == len(set(keys)) > 0
    assert all(s.num_rows for s in slices)
    again = inputs.stream_slices(fact, 3, 240, 16, 0.1)
    assert [s.num_rows for s in slices] == [s.num_rows for s in again]


def test_check_catches_a_dropped_row():
    from check import Checker

    chk = Checker(inputs.SNAPSHOT)
    try:
        want = chk.sql("SELECT n_nationkey, n_name FROM nation")
        assert chk.same("nation", want.copy(), want)
        assert not chk.same("nation", want.iloc[1:], want)
        changed = want.copy()
        changed.loc[0, "n_name"] = "X"
        assert not chk.same("nation", changed, want)
        assert len(chk.mismatches) == 2
    finally:
        chk.close()


def test_cpu_time_counts_the_process_tree():
    import run

    before = run.tree_cpu_s()
    subprocess.run([sys.executable, "-c", "sum(range(60_000_000))"], check=True)
    assert run.tree_cpu_s() - before > 0.2  # the reaped child's time is counted


def test_metric_lists_match_benchmark_json():
    assert [m["name"] for m in BENCH["per_layer"]] == [n for n, _ in layers.per_layer_names()]
    assert all(m["unit"] == u for m, (_, u) in zip(BENCH["per_layer"], layers.per_layer_names()))


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_run_prints_every_metric(workload, trace):
    proc = run_bench("--workload", workload, "--seed", "1", "--seconds", "1", "--trace", trace)
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    out = result(proc)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = BENCH["per_layer" if trace == "1" else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {k: v["unit"] for k, v in out["metrics"].items()}
    assert all(np.isfinite(v["value"]) for v in out["metrics"].values())
    assert "error_rate" in proc.stdout and "MISMATCH" not in proc.stdout


def test_run_fails_on_a_dropped_row():
    proc = run_bench("--workload", "pos_serve", "--seed", "1", "--seconds", "1", "--fault", "drop_row")
    assert proc.returncode != 0
    out = result(proc)
    assert not out["correct"] and out["failed"] >= 1


def test_fails_without_the_package(workdir):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), workdir)
    shutil.copytree(HERE, os.path.join(workdir, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    proc = run_bench("--workload", "pos_batch", "--seed", "1", "--seconds", "1", "--trace", "0", cwd=workdir)
    assert proc.returncode != 0
    assert not proc.stdout.strip()


def test_quantile_is_nearest_rank():
    from workloads import quantile

    assert quantile([3.0, 1.0, 2.0], 0.5) == 2.0
    assert quantile(list(pd.Series(range(1, 11), dtype=float)), 0.9) == 9.0
