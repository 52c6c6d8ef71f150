"""End-to-end checks of the benchmark command at the tiny "smoke" size.

    python3 -m pytest perfbench/tests -q

Each smoke run starts its own SparkSession (about a minute per run).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench.workloads import Ops

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True, text=True, timeout=180
    )


def test_every_declared_workload_is_implemented():
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in SPEC["workloads"]} == set(WORKLOADS)


def test_wrong_answer_and_exception_count_as_failed_operations():
    ops = Ops()
    ops.run("ok", lambda: 1, lambda r: [])
    ops.run("wrong", lambda: 2, lambda r: ["answer 2 want 1"])
    ops.run("crash", lambda: 1 / 0, lambda r: [])
    assert (ops.attempted, ops.failed, len(ops.latencies)) == (3, 2, 1)
    assert ops.failures[0] == "wrong: answer 2 want 1"
    assert ops.failures[1].startswith("crash: raised ZeroDivisionError")


def test_fails_without_printing_a_result_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    p = _run(str(tmp_path), "--workload", "archive_queries", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_run_passes_every_check(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", trace, "--size", "smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result, host, detail = json.loads(lines[-1]), json.loads(lines[-2]), json.loads(lines[-3])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, detail["failures"]
    assert result["attempted"] >= 2
    spec = SPEC["end_to_end"] if trace == "0" else SPEC["per_layer"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    if trace == "0":
        assert all(v["value"] > 0 for v in result["metrics"].values())
    assert host["nproc"] >= 1 and len(host["loadavg_start"]) == 3
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_tmp"))


def test_roots_of_killed_runs_are_removed(tmp_path):
    from perfbench.run import _remove_stale_roots

    for name in ("run-999999999", f"run-{os.getpid()}", "other"):
        (tmp_path / name).mkdir()
    _remove_stale_roots(str(tmp_path))
    assert sorted(os.listdir(tmp_path)) == ["other", f"run-{os.getpid()}"]
