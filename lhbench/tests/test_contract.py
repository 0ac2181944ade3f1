"""BENCHMARK.json names exactly what a run prints; a smoke run of each
workload completes with every check passing."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

import pytest

from lhbench import env, metrics, run

BENCH = json.loads((env.REPO / "BENCHMARK.json").read_text())


def test_benchmark_json_lists_the_printed_metrics():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == metrics.PER_LAYER
    assert {w["name"] for w in BENCH["workloads"]} <= set(run.WORKLOADS)


def _left_behind(work_dir: str) -> list[str]:
    """Live processes whose environment names ``work_dir``: every process a
    run starts inherits ``TMPDIR`` under its work directory."""
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/environ", "rb") as f:
                if work_dir.encode() in f.read():
                    with open(f"/proc/{pid}/cmdline", "rb") as c:
                        found.append(f"{pid}: {c.read()[:200]!r}")
        except OSError:
            continue
    return found


def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, "lhbench/run.py", "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke"]
    # Output goes to files, not pipes: waiting on a pipe would also wait
    # for every process that inherited it, hiding one the run left behind.
    with tempfile.TemporaryFile("w+") as out, tempfile.TemporaryFile("w+") as err:
        proc = subprocess.Popen(cmd, cwd=env.REPO, stdout=out, stderr=err, text=True)
        proc.wait(timeout=600)
        left = _left_behind(f"{env.WORK_ROOT}/{workload}-{proc.pid}/")
        out.seek(0)
        err.seek(0)
        stdout, stderr = out.read(), err.read()
    assert proc.returncode == 0, stderr[-3000:]
    assert left == []
    return json.loads(stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_run(workload):
    result = _run(workload, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in BENCH["end_to_end"]}
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_smoke_traced_run_prints_the_per_layer_metrics():
    result = _run("cdc_ingest", 1)
    assert result["correct"] is True
    assert set(result["metrics"]) == {m["name"] for m in BENCH["per_layer"]}
    assert result["metrics"]["tablestore.merge_s"]["value"] > 0


def test_refuses_to_run_without_the_engine(tmp_path):
    (tmp_path / "lhbench").mkdir()
    for p in (env.REPO / "lhbench").glob("*.py"):
        (tmp_path / "lhbench" / p.name).write_text(p.read_text())
    cmd = [sys.executable, "lhbench/run.py", "--workload", "olap_mix", "--seed", "1", "--seconds", "1", "--trace", "0"]
    out = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0 and out.stdout.strip() == ""
