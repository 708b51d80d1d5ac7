"""Tiny-size smoke of every benchmark workload (a few minutes):

    python3 -m pytest perfbench/test_smoke.py -q

A clean run must pass its checks and print every end-to-end metric
with its unit; a traced run with one table row or query result
corrupted must fail, count the corruption in ``ops_failed_ratio`` and
still print every per-layer metric with its unit, non-zero for the
layers the workload exercises.
"""

from __future__ import annotations

import fnmatch
import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
# per-layer metrics each workload must measure as non-zero. Left out:
# GC time and lookup jobs, which may be 0, and maintenance bytes on
# ingest_cow, where compact_small_files finds no small-file bucket
# (each copy-on-write merge leaves one file per bucket), so maintenance
# is snapshot expiry alone and runs no Spark stage
EXERCISED = {
    "ingest_cow": [
        "streaming.*", "transforms.*", "merge.wall_p50_s", "merge.jobs", "merge.stages",
        "merge.executor_*", "merge.*_bytes", "merge.files_*", "merge.rewrite_amplification",
        "merge.winners_per_event", "maintain.wall_s", "spark.executor_cpu_s", "spark.jobs",
    ],
    "mor_mixed": [
        "transforms.*", "merge.wall_p50_s", "merge.jobs", "merge.stages", "merge.executor_*",
        "merge.files_written", "merge.rewrite_amplification", "merge.winners_per_event",
        "read.*", "lookup.wall_p50_ms", "maintain.*", "spark.executor_cpu_s", "spark.jobs",
    ],
    "query_suite": ["contract.*.warm_s", "spark.executor_cpu_s", "spark.jobs"],
}


def _run(workload: str, *extra: str) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "2", "--tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    return p.returncode, p.stdout.strip().splitlines()


def _assert_metrics(result: dict, wanted: list[dict]) -> None:
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_clean_run_prints_every_metric(workload):
    rc, lines = _run(workload, "--trace", "0")
    result = json.loads(lines[-1])
    assert rc == 0 and result["correct"] and result["failed"] == 0
    _assert_metrics(result, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert f"{workload} ops_failed_ratio = 0 ratio" in lines


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corruption_counts_as_failed(workload):
    rc, lines = _run(workload, "--trace", "1", "--corrupt")
    result = json.loads(lines[-1])
    assert rc == 1 and not result["correct"] and result["failed"] > 0
    _assert_metrics(result, SPEC["per_layer"])
    names = [n for n in result["metrics"]
             if any(fnmatch.fnmatchcase(n, p) for p in EXERCISED[workload])]
    assert names
    assert [n for n in names if result["metrics"][n]["value"] == 0] == []
    ratio = next(
        float(m.group(1)) for ln in lines
        if (m := re.fullmatch(rf"{workload} ops_failed_ratio = (\S+) ratio", ln))
    )
    assert ratio > 0
    assert ratio == pytest.approx(result["failed"] / result["attempted"], rel=1e-5)
