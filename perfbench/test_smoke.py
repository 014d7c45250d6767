"""Smoke test of the benchmark harness at toy size.

    python3 -m pytest perfbench/test_smoke.py -q

Runs each workload on a few dozen documents and toy catalog tables (a few
minutes in all: Spark's fixed cost per run dominates at this size) and
checks that every metric BENCHMARK.json names is printed with its unit,
that a deliberately wrong expectation fails the output check, that a run
leaves the checkout unchanged, and that the benchmark refuses to run where
the program is missing.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CONFIG = json.loads((ROOT / "BENCHMARK.json").read_text())


def snapshot(root: Path) -> dict[str, tuple[int, int]]:
    """(size, mtime) of every file under *root* outside .git."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if d != ".git"]
        for f in filenames:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def bench(root: Path, *args: str, timeout: int = 600) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, str(root / "perfbench" / "run.py"), "--seed", "7",
         "--seconds", "1", *args],
        cwd=root, capture_output=True, text=True, timeout=timeout,
    )


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def assert_metrics(res: dict, specs: list[dict]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in specs}
    got = {name: v["unit"] for name, v in res["metrics"].items()}
    assert got == want
    for name, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)), name


@pytest.mark.parametrize("workload", [w["name"] for w in CONFIG["workloads"]])
def test_workload_prints_every_metric(workload, tmp_path):
    before = snapshot(ROOT)
    plain = result(bench(ROOT, "--workload", workload, "--size", "toy", "--trace", "0"))
    assert plain["correct"] and plain["failed"] == 0
    assert_metrics(plain, CONFIG["end_to_end"])
    assert all(v["value"] > 0 for v in plain["metrics"].values())

    spans = tmp_path / "spans.json"
    traced = result(bench(ROOT, "--workload", workload, "--size", "toy", "--trace", "1",
                          "--spans", str(spans), "--corrupt-expected"))
    assert not traced["correct"] and traced["failed"] >= 1
    assert_metrics(traced, CONFIG["per_layer"])
    recorded = json.loads(spans.read_text())
    assert recorded and all({"id", "name", "parent", "start", "end"} <= set(s) for s in recorded)
    after = snapshot(ROOT)
    assert [p for p in set(before) | set(after) if before.get(p) != after.get(p)] == []


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    proc = bench(tmp_path, "--workload", CONFIG["workloads"][0]["name"], "--trace", "0",
                 timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
