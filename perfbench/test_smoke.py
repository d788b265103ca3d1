"""Smoke tests of the benchmark command: ``python -m pytest perfbench -q``.

Each workload runs in ``--smoke`` mode (a fixed, small version: one timed
pass, or four increments on a 1500-row source) three times with one seed:
untraced once, traced twice. The tests check that every metric is printed
by name with its unit, that nothing failed, and that the counts repeat
between the two traced runs.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import END_TO_END, per_layer_names  # noqa: E402
from workloads import QUERY_MIX  # noqa: E402

WORKLOAD_METRICS = {
    "etl_sync": [
        ("rows_per_s", "rows/s"), ("trickle_sync_p50_s", "s"), ("trickle_sync_tail_s", "s"),
        ("bulk_sync_p50_s", "s"), ("read_after_sync_p50_s", "s"), ("write_amp", "ratio"),
        ("space_amp", "ratio"),
    ],
    "query_mix": [
        ("query_geomean_s", "s"), ("rows_per_s", "rows/s"), ("microbatch_p50_s", "s"),
        ("microbatch_tail_s", "s"),
    ],
}
# Counts the engine fixes for a given input: they must repeat exactly.
EXACT = {
    "etl_sync": ["io.buckets_touched", "io.rows_written", "operators.watermark_files",
                 "meta.load_log_files"],
    "query_mix": ["checkpointing.materialize_calls", "stream.batches", "stream.input_rows"],
}
# Job counts: adaptive execution submits each ready query stage as its own
# job, and how stages group into jobs depends on timing, so a count can
# differ by one between runs (seen on pagerank_link_graph: 24 then 23).
NEAR = {
    "etl_sync": ["api.sync_jobs", "spark.jobs"],
    "query_mix": [f"q.{q}.jobs" for q in QUERY_MIX] + ["spark.jobs"],
}
SEED = 5


def run(workload: str, trace: int) -> tuple[str, dict, dict]:
    out = subprocess.run(
        [sys.executable, f"{HERE}/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=False,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    run_dir = re.search(r"run_dir (\S+)", out.stdout).group(1)
    with open(f"{ROOT}/{run_dir}/result.json") as f:
        detail = json.load(f)
    return out.stdout, result, detail


def printed(stdout: str, name: str, unit: str) -> bool:
    return re.search(rf"^\s+{re.escape(name)}\s+\S+ {re.escape(unit)}\b", stdout, re.M) is not None


@pytest.fixture(scope="module", params=sorted(WORKLOAD_METRICS))
def runs(request):
    w = request.param
    return w, run(w, 0), run(w, 1), run(w, 1)


def test_end_to_end_metrics_printed_and_correct(runs):
    w, (stdout, result, detail), _, _ = runs
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert detail["end_to_end"]["fail_ratio"] == 0
    assert set(result["metrics"]) == {n for n, _ in END_TO_END}
    for name, unit in [*END_TO_END, ("fail_ratio", "ratio"), *WORKLOAD_METRICS[w]]:
        assert printed(stdout, name, unit), f"{name} [{unit}] not printed"
    for name, unit in END_TO_END:
        assert result["metrics"][name]["unit"] == unit
        assert result["metrics"][name]["value"] > 0


def test_layer_metrics_printed(runs):
    w, _, (stdout, result, detail), _ = runs
    assert result["correct"]
    assert set(result["metrics"]) == {n for n, _ in per_layer_names()}
    for name, unit in per_layer_names():
        assert printed(stdout, name, unit), f"{name} [{unit}] not printed"
    assert detail["layers"]["trace.reconcile_max_err"] <= 0.10


def test_exact_counts_repeat(runs):
    w, _, (_, a, da), (_, b, db) = runs
    for name in EXACT[w]:
        assert a["metrics"][name]["value"] == b["metrics"][name]["value"], name
        assert a["metrics"][name]["value"] > 0, name
    for name in NEAR[w]:
        va, vb = a["metrics"][name]["value"], b["metrics"][name]["value"]
        assert va > 0 and abs(va - vb) <= max(1, 0.1 * va), (name, va, vb)
    if w == "etl_sync":
        # Bytes are counted exactly, but Spark does not fix the row order
        # inside an output file or the number of files a bulk merge
        # writes, so compressed sizes differ slightly between runs.
        ea, eb = da["end_to_end"], db["end_to_end"]
        assert abs(ea["write_amp"] - eb["write_amp"]) <= 0.02 * ea["write_amp"]


def test_benchmark_json_matches_the_command():
    with open(f"{ROOT}/BENCHMARK.json") as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == per_layer_names()
    assert sorted(x["name"] for x in bench["workloads"]) == sorted(WORKLOAD_METRICS)
