"""Tiny-scale self-check of the benchmark (three to four minutes on 4 cores).

    python3 -m pytest perfbench/test_selfcheck.py -q

Runs every workload once at the ``tiny`` scale (corpus sf0.001, a few
thousand events, a few hundred documents) with tracing on and asserts
that every output check passes, that every end-to-end and per-layer
metric named in ``BENCHMARK.json`` is printed with its unit, and that
the span file is written. Also checks that the benchmark refuses to run
in a directory that holds only the benchmark.
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

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(cwd: str, workload: str, trace: int, scale: str = "tiny") -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", scale],
        cwd=cwd, capture_output=True, text=True, timeout=300)


def test_catalogue_matches_benchmark_json():
    from perfbench.metrics import END_TO_END, PER_LAYER, better

    assert {m["name"]: (m["unit"], m["better"]) for m in SPEC["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in SPEC["per_layer"]} == {
        n: (unit, better(n)) for n, (unit, _moves) in PER_LAYER.items()}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_prints_every_metric(workload):
    proc = _run(ROOT, workload, trace=1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    *_, detail_line, last_line = proc.stdout.strip().split("\n")
    last, detail = json.loads(last_line), json.loads(detail_line)
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0, detail["checks"]
    assert detail["checks"] and all(c["ok"] for c in detail["checks"])
    for m in SPEC["per_layer"]:
        assert last["metrics"][m["name"]]["unit"] == m["unit"]
        assert isinstance(last["metrics"][m["name"]]["value"], (int, float))
    for m in SPEC["end_to_end"]:
        got = detail["end_to_end"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0
    assert os.path.exists(os.path.join(ROOT, detail["span_file"]))


def test_untraced_last_line_is_end_to_end():
    proc = _run(ROOT, "ingest_pipeline", trace=0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    last = json.loads(proc.stdout.strip().split("\n")[-1])
    assert {n: v["unit"] for n, v in last["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC["end_to_end"]}


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = _run(str(tmp_path), "queries", trace=0)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
