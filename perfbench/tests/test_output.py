"""Output self-test: BENCHMARK.json follows the benchmark contract, every
workload prints a well-formed result at a tiny size with every declared
metric under its declared unit, and the run record names the headline
metrics. Without the program next to it the benchmark fails cleanly."""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import subprocess
import sys

import pytest

from perfbench import run
from perfbench.common import ROOT

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")
NAMED = {
    "stream_ingest": {"freshness_p50_s": "s", "freshness_p90_s": "s", "replay_events_per_s": "1/s"},
    "online_offline": {
        "lookup_p50_ms": "ms",
        "lookup_p90_ms": "ms",
        "upsert_p50_ms": "ms",
        "feature_read_s": "s",
        "curation_s": "s",
    },
}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_follows_the_contract():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert os.path.getsize(os.path.join(ROOT, "BENCHMARK.json")) <= 64 * 1024
    assert 1 <= len(spec["command"]) <= 32 and all(len(a) <= 200 for a in spec["command"])
    assert 1 <= len(spec["paths"]) <= 16
    for p in spec["paths"]:
        assert PATH.match(p) and not p.startswith("/") and ".." not in p.split("/")
        assert os.path.isdir(os.path.join(ROOT, p))
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert {k: m["unit"] for k, m in e2e.items()} == run.END_TO_END
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert m["better"] in ("lower", "higher") and 0 < m["bound"] <= 0.25
    assert e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert 1 <= len(spec["per_layer"]) <= 128
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and m["better"] in ("lower", "higher")
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]] + [w["name"] for w in spec["workloads"]]
    assert all(NAME.match(n) for n in names)
    assert len(set(m["name"] for m in spec["end_to_end"] + spec["per_layer"])) == len(spec["end_to_end"]) + len(
        spec["per_layer"]
    )
    assert all(UNIT.match(m["unit"]) for m in spec["end_to_end"] + spec["per_layer"])


def _run(cwd, workload, trace, seconds=1):
    env = dict(os.environ, PYTHONDONTWRITEBYTECODE="1")
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5", "--seconds", str(seconds)]
    return subprocess.run(cmd + ["--trace", str(trace)], cwd=cwd, env=env, capture_output=True, text=True, timeout=180)


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_tiny_runs_print_the_declared_metrics(workload):
    spec = _spec()
    for trace in (0, 1):  # untraced first: the traced run states its overhead against it
        p = _run(ROOT, workload, trace)
        assert p.returncode == 0, p.stderr[-3000:]
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] is True and result["failed"] == 0
        assert isinstance(result["attempted"], int) and result["attempted"] >= 1
        declared = spec["per_layer"] if trace else spec["end_to_end"]
        assert {k: m["unit"] for k, m in result["metrics"].items()} == {m["name"]: m["unit"] for m in declared}
        for m in result["metrics"].values():
            assert set(m) == {"value", "unit"}
            assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"])
        if not trace:
            assert all(m["value"] > 0 for m in result["metrics"].values())
        record = json.loads(lines[-2])["run_record"]
        assert {k: v["unit"] for k, v in record["named"].items()} == NAMED[workload]
        for key in ("nproc", "mem_total_mb", "heap", "spark_version", "git_head", "seed", "samples", "steal_pct"):
            assert key in record
        if trace:
            assert set(record["tracing_overhead"]) == set(run.END_TO_END)


def test_without_the_program_it_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in _spec()["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p, ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, run.WORKLOADS[0], 0)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
    assert not (tmp_path / ".perfbench_tmp").exists()
