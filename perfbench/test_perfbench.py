"""The benchmark's own tests: a one-pass run (``--seconds 1``) of every
workload on its benchmarked inputs, traced, checking the result line, the
correctness checks and that the layer spans account for each timed unit's
wall time to within 5%.

    python -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

Run from the repository root; each test starts its own Spark session
(one to two minutes each on a 4-core host).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join(ROOT, "perfbench", "run.py")
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = ("history_dashboard", "history_explore", "lifecycle", "gate_suite")


def _session_members(sid: int) -> list[str]:
    """``pid (name) state`` of every process, zombies too, in session ``sid``."""
    found = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if int(fields[3]) == sid:
            found.append(f"{stat[:stat.rindex(')') + 1]} {fields[0]}")
    return found


def _run(workload: str, trace: int, seed: int = 7) -> tuple[dict, dict]:
    proc = subprocess.Popen(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed), "--seconds", "1",
         "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    stdout, stderr = proc.communicate(timeout=600)
    assert proc.returncode == 0, stderr[-3000:]
    # every process the run started (the JVM, its launcher and workers, the
    # probe's spinners) has ended and been reaped by the time it exits
    assert _session_members(proc.pid) == []
    lines = stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_traced(workload):
    detail, result = _run(workload, trace=1)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, detail["failures"]
    assert result["attempted"] >= 1
    names = {m["name"] for m in BENCH["per_layer"]}
    assert set(result["metrics"]) == names
    # layer spans cover every request, gate and lifecycle stage to within 5%
    assert result["metrics"]["trace.max_unit_gap"]["value"] <= 0.05
    assert detail["host"]["par"] == min(16, detail["host"]["cpus"])
    assert detail["session"]["SPARK_GRAFT_CPUS"] == str(detail["host"]["cpus"])
    if workload == "gate_suite":
        assert result["metrics"]["memo.builds"]["value"] >= 1
        assert any(k.startswith("memo:") for k in detail["detail"])
    if workload in ("history_explore", "lifecycle"):
        # a cold planner runs Spark jobs of its own before the request's query
        assert result["metrics"]["plans.eager_jobs"]["value"] > 0
        assert result["metrics"]["sources.discovery_jobs"]["value"] > 0


def test_untraced_prints_end_to_end_metrics():
    _, result = _run("history_explore", trace=0)
    assert set(result["metrics"]) == {m["name"] for m in BENCH["end_to_end"]}
    for m in BENCH["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0


def test_refuses_to_run_outside_a_checkout(tmp_path):
    """Without the engine next to it the benchmark exits non-zero and prints
    no result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "lifecycle", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
