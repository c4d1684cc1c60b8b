"""Smoke test of the benchmark command at the tiny size (sf0.001, 300 files,
3 updates): every metric of BENCHMARK.json is printed with its unit, the
correctness gates run and pass, and the command fails without the package.

    python3 -m pytest layerbench/test_smoke.py -q -p no:cacheprovider

About four minutes on 4 cores: six Spark runs of 30-50 s each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# every workload run.py offers; BENCHMARK.json lists the ones that fit its
# time budget (tpch_owl is run by hand, NOTES.md)
WORKLOADS = ("tpch_owl", "code_kg", "kg_serve")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def bench(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = spec()["command"] + [
        "--workload", workload, "--seed", "1", "--seconds", "1",
        "--trace", str(trace), "--size", "tiny",
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def test_workloads_are_named() -> None:
    assert tuple(w["name"] for w in spec()["workloads"]) == ("code_kg", "kg_serve")


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run(workload: str, trace: int) -> None:
    out = bench(ROOT, workload, trace)
    assert out.returncode == 0, out.stderr[-3000:]
    *_, record_line, result_line = out.stdout.strip().splitlines()
    result = json.loads(result_line)
    record = json.loads(record_line.split(" ", 1)[1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = spec()["per_layer" if trace else "end_to_end"]
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in want}
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    assert record["gates"] and all(record["gates"].values()), record["gates"]
    assert record["seed"] == 1 and record["steal_s"] >= 0
    if workload == "kg_serve":
        assert record["updates"] == 3
    if trace and workload != "kg_serve":
        assert result["metrics"]["trace.span_coverage"]["value"] > 0.9


def test_fails_without_the_package(tmp_path) -> None:
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in spec()["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    out = bench(str(tmp_path), WORKLOADS[0], 0)
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
