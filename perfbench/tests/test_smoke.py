"""Tiny-size end-to-end runs of every workload (each starts its own JVM;
about two minutes in all).

    python3 -m pytest perfbench/tests/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench.workloads import E2E_UNITS, LAYER_UNITS, MOR_LAYER_UNITS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join("perfbench", "run.py")


def bench(cwd, *args, timeout=300):
    return subprocess.run(
        [sys.executable, RUN, "--seed", "3", "--seconds", "20", "--size", "tiny", *args],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=timeout,
    )


def result(proc) -> dict:
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["backfill", "tail", "mor_reads"])
def test_untraced_run_is_correct_and_complete(workload):
    res = result(bench(ROOT, "--workload", workload, "--trace", "0"))
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == set(E2E_UNITS)
    for name, m in res["metrics"].items():
        assert m["unit"] == E2E_UNITS[name]
        assert m["value"] > 0, name


def test_traced_run_reports_every_layer_metric():
    proc = bench(ROOT, "--workload", "mor_reads", "--trace", "1")
    res = result(proc)
    assert res["correct"] is True
    assert set(res["metrics"]) == set(LAYER_UNITS) | set(MOR_LAYER_UNITS)
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["lakehouse.merge_cdc_s"] > 0
    assert m["engine.apply_batch_s"] >= m["engine.self_s"] > 0
    assert m["lakehouse.lookup_files_opened"] >= 1
    assert m["spark.jobs_per_commit"] >= 1
    assert "# tracing overhead on events_per_s" in proc.stdout


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "out", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = bench(str(tmp_path), "--workload", "backfill", timeout=180)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
