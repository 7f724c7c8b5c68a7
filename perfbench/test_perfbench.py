"""Tests of the benchmark itself, on tiny seeded runs (sf0.01, one or
two rounds): every named metric is printed with its unit, a planted
wrong expected output is counted as a failure, and the benchmark
refuses to run without the package next to it.

    python3 -m pytest perfbench/test_perfbench.py -q

Each case starts its own benchmark process (and Spark session), so the
file takes a few minutes.
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

from tracer import LAYERS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)

WORKLOADS = ["etl_relational", "corpus_dedup", "stream_ingest"]
OPS = {"etl_relational": ["filter_agg", "join", "dedup_sort", "upsert"],
       "corpus_dedup": ["minhash_dedup", "simhash", "semdedup", "knn_join"],
       "stream_ingest": ["text_drain", "vector_drain", "maintain", "day"]}


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def _tiny(workload: str, trace: int, *extra: str):
    p = _run(ROOT, "--workload", workload, "--seed", "5", "--seconds", "1",
             "--trace", str(trace), "--sf", "0.01",
             "--rounds", str(1 + trace), *extra)
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    return lines, res


def _table(lines: list[str]) -> dict[str, tuple[float, str]]:
    """The printed metric table: ``# name value unit n pct`` rows."""
    out = {}
    for line in lines:
        parts = line.split()
        if len(parts) == 6 and parts[0] == "#":
            try:
                out[parts[1]] = (float(parts[2]), parts[3])
            except ValueError:
                pass
    return out


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_prints_every_end_to_end_metric(workload):
    lines, res = _tiny(workload, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 4
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())
    table = _table(lines)
    for name in ["setup_s", "rows_per_s", "fail_frac"] + [
            f"{op}_s" for op in OPS[workload]]:
        assert name in table, name
    assert table["fail_frac"] == (0.0, "frac")


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_every_layer_metric(workload):
    lines, res = _tiny(workload, 1)
    assert res["correct"], lines
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert want == {k: v[0] for k, v in LAYERS.items()}
    got = res["metrics"]
    assert {k: v["unit"] for k, v in got.items()} == want
    assert got["operators.task_s"]["value"] > 0
    assert got["session.start_s"]["value"] > 0
    if workload == "etl_relational":
        assert got["llmops.python_stages"]["value"] == 0
        assert got["sinks.write_amp"]["value"] > 0
    else:
        assert got["llmops.python_stages"]["value"] > 0
    if workload == "stream_ingest":
        assert got["streaming.batches"]["value"] > 0
        assert got["store.files_before"]["value"] > 0
    name = f"{workload}-seed5.json"
    with open(os.path.join(ROOT, ".bench_work", "traces", name)) as fh:
        trace = json.load(fh)
    assert trace["spans"] and all("t1" in s for s in trace["spans"])


def test_planted_wrong_expected_output_counts_as_failure():
    lines, res = _tiny("etl_relational", 0, "--plant-wrong")
    # warm-up and timed filter_agg both fail; nothing else does
    assert not res["correct"]
    assert res["failed"] == 2
    fail = _table(lines)["fail_frac"][0]
    assert fail == pytest.approx(res["failed"] / res["attempted"], abs=1e-4)
    assert "filter_agg" in "\n".join(x for x in lines if "failed" in x)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", "etl_relational", "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert "correct" not in p.stdout
