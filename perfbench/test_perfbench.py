"""The benchmark's own tests: pinned metric names, the output contract,
and a smoke run of every workload at the smallest inputs.

    python -m pytest perfbench -q      (from the repository root)
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

import layertrace  # noqa: E402
import workloads  # noqa: E402
from run import percentile_report  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)

END_TO_END = {"setup_s", "turns_per_s", "pairwise_f1", "batch_p50_s", "assign_recall"}


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])


def test_metric_names_are_pinned():
    assert {m["name"] for m in BENCH["end_to_end"]} == END_TO_END
    assert [w["name"] for w in BENCH["workloads"]] == list(workloads.WORKLOADS)
    layer = {m["name"] for m in BENCH["per_layer"]}
    for name in layertrace.PIPELINE_LAYERS:
        for field in layertrace.LAYER_FIELDS + ("rows",):
            assert f"{name}.{field}" in layer
    for name in layertrace.DEDUP_LAYERS:
        for field in layertrace.LAYER_FIELDS + ("pairs",):
            assert f"dedup.{name}.{field}" in layer
    for name in ("lineage.cuts", "lineage.cut_s", "lineage.held_mb", "lineage.held_rdds",
                 "blocking.edge_yield", "resolve.unattributed_s", "failed_tasks"):
        assert name in layer
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])


def test_pairwise_f1_counts_pairs():
    fam = {"a": 0, "b": 0, "c": 0, "d": 1}
    assert workloads.pairwise_f1({"a": 1, "b": 1, "c": 1, "d": 2}, fam) == 1.0
    # a|b,c split: 1 of 3 true pairs found, no false pair
    assert workloads.pairwise_f1({"a": 1, "b": 2, "c": 2, "d": 3}, fam) == pytest.approx(0.5)


def test_percentile_needs_ten_samples_beyond():
    assert percentile_report([1.0, 2.0, 3.0])["high"] is None
    rep = percentile_report([float(i) for i in range(20)])
    assert rep["high"]["pct"] == 50 and rep["n"] == 20
    assert percentile_report([float(i) for i in range(100)])["high"]["pct"] == 90


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_smoke_end_to_end(workload):
    res, report = _result(_run(workload, trace=0))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    units = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == units
    assert all(v["value"] > 0 for v in res["metrics"].values())
    assert report["host"]["cores"] <= report["host"]["nproc"]


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_smoke_traced(workload):
    res, report = _result(_run(workload, trace=1))
    assert res["correct"]
    units = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == units
    with open(os.path.join(ROOT, report["spans"])) as f:
        spans = json.load(f)
    layers = (layertrace.PIPELINE_LAYERS if workload == "resolve_mixed"
              else layertrace.DEDUP_LAYERS)
    for layer in layers:
        assert spans["layer_wall_s"].get(layer, 0) > 0, layer
        assert f"layer:{layer}" in spans["job_groups"], layer
    assert all(s["end"] >= s["start"] for s in spans["spans"])


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("resolve_mixed", trace=0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
