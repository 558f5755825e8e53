"""Tests of the benchmark itself, at its smoke size.

    python -m pytest perfbench -q

Each smoke run starts its own Spark session, so the module takes a few
minutes; the fingerprint tests need no Spark.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import workloads  # noqa: E402

BENCH_SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run_bench(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result_line(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    proc = run_bench(tmp_path, "--workload", "hpo_short_trials", "--seed", "1",
                     "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_end_to_end_metrics_of_a_smoke_run():
    res = result_line(run_bench(ROOT, "--workload", "hpo_short_trials", "--seed", "3",
                                "--seconds", "1", "--trace", "0", "--size", "smoke"))
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    assert set(res["metrics"]) == {m["name"] for m in BENCH_SPEC["end_to_end"]}
    assert all(m["value"] > 0 for m in res["metrics"].values())


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_traced_smoke_run_reports_every_layer(workload):
    res = result_line(run_bench(ROOT, "--workload", workload, "--seed", "3",
                                "--seconds", "1", "--trace", "1", "--size", "smoke"))
    assert res["correct"] and res["failed"] == 0
    metrics = {k: v["value"] for k, v in res["metrics"].items()}
    assert set(metrics) == {m["name"] for m in BENCH_SPEC["per_layer"]}
    assert metrics["spark.jobs"] > 0 and metrics["spark.tasks"] > 0
    if workload.startswith("hpo_"):
        assert metrics["executor.calls"] > 0 and metrics["executor.tasks"] > 0
        assert metrics["experiment.persist_s"] > 0 and metrics["optimizer.next_batch_calls"] > 0
    if workload == "hpo_async_earlystop":
        assert metrics["store.appends"] > 0 and metrics["reporter.broadcasts"] > 0
    if workload == "corpus_build_cold":
        assert all(metrics[f"functions.{op}.jobs"] > 0 for op in workloads.CORPUS_OPS)


def test_fingerprint_ignores_row_order():
    rows = [(1, "a", 0.5), (2, "b", None), (3, "c", 1.25)]
    assert workloads.fingerprint(rows) == workloads.fingerprint(reversed(rows))
    assert workloads.fingerprint(rows) != workloads.fingerprint(rows[:2] + [(3, "c", 1.5)])


def test_wrong_fingerprint_fails_the_output_check():
    pinned = json.loads((BENCH / "spec.json").read_text())["fingerprints"]["smoke"]
    assert workloads.fingerprint_errors(dict(pinned), pinned) == []
    wrong = {**pinned, "dd8": {**pinned["dd8"], "hash": "0" * 16}}
    errors = workloads.fingerprint_errors(wrong, pinned)
    assert len(errors) == 1 and errors[0].startswith("dd8 fingerprint")
    assert workloads.fingerprint_errors({k: v for k, v in pinned.items() if k != "ann14"}, pinned)
