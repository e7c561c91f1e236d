"""Smoke tests of the benchmark itself (sf0.001, one warm operation).

    python3 -m pytest perfbench/tests -q

Each Spark case starts its own benchmark process (about 40-90 s each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import inputs  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run_bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    cmd = [*SPEC["command"], *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def test_seed_permutes_orderkeys_only():
    a, b = inputs.seeded_lineitem(0.001, 0), inputs.seeded_lineitem(0.001, 1)
    assert a.equals(inputs.seeded_lineitem(0.001, 0))
    assert a.drop(["l_orderkey"]).equals(b.drop(["l_orderkey"]))
    ka, kb = a.column("l_orderkey").to_numpy(), b.column("l_orderkey").to_numpy()
    assert (ka != kb).any()
    # a bijection: the group sizes per key are the same multiset
    assert sorted(Counter(ka).values()) == sorted(Counter(kb).values())


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_prints_every_metric_and_passes_checks(workload, trace):
    args = ("--workload", workload, "--seed", "3", "--seconds", "5", "--trace", str(trace))
    p = run_bench(ROOT, *args, "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 2
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], float)
    printed = {ln.split()[1]: ln.split()[3] for ln in lines if ln.startswith("metric ")}
    for name in ("setup_s", "wall_s", "cold_s", "triples_per_s", "cpu_s", "peak_rss_mb"):
        assert printed[name]  # name and unit on one line
    assert printed["failed_frac"] == "ratio"
    if workload == "pipeline_fresh":
        assert printed["written_mb"] == "MB"
    if trace:
        assert any(ln.startswith("layer trace.overhead_frac ") for ln in lines)


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path), tmp_path / path,
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    p = run_bench(str(tmp_path), "--workload", "kg_analytics", "--seed", "0",
                  "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert not p.stdout.strip()
