"""Benchmark tests: the result line, seed invariance, spans and counters.

Run from the repository root (about five minutes):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
sys.path[:0] = [str(BENCH), str(ROOT)]

import run  # noqa: E402
import tracing  # noqa: E402

RUNS = [
    ("warehouse_build", 101, 0),
    ("warehouse_build", 102, 1),
    ("analyst_mix", 101, 0),
    ("analyst_mix", 102, 1),
]


def _cli(workload: str, seed: int, trace: int, cwd: Path = ROOT):
    return subprocess.run(
        [sys.executable, str(cwd / "perfbench" / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.fixture(scope="module")
def runs():
    """The four CLI runs every test below reads (shortest window)."""
    out = {}
    for workload, seed, trace in RUNS:
        proc = _cli(workload, seed, trace)
        assert proc.returncode == 0, proc.stderr[-4000:]
        record = ROOT / ".perfbench" / "records" / f"{workload}-seed{seed}-trace{trace}.json"
        out[workload, trace] = (
            json.loads(proc.stdout.strip().splitlines()[-1]),
            json.loads(record.read_text()),
            proc.stderr,
        )
    return out


def test_benchmark_json_lists_what_the_command_prints():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == {"warehouse_build", "analyst_mix"}


def test_every_metric_is_printed_with_its_unit(runs):
    for (workload, trace), (result, record, stderr) in runs.items():
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0, record["problems"]
        assert result["attempted"] >= 1
        units = run.PER_LAYER if trace else run.END_TO_END
        assert {k: v["unit"] for k, v in result["metrics"].items()} == units
        for name, unit in units.items():
            assert any(
                line.split()[:1] == [name] and line.split()[-1] == unit
                for line in stderr.splitlines()
            ), f"{workload}: {name} not printed with {unit}"
        for name in run.END_TO_END if not trace else ():
            assert result["metrics"][name]["value"] > 0


def test_run_record_describes_itself(runs):
    for (_, trace), (_, record, _) in runs.items():
        for key in ("seed", "spark_graft_cpus", "nproc", "inputs", "loadavg_start",
                    "loadavg_end", "host_other_busy_s", "host_steal_s", "wall_s"):
            assert key in record, key
        # the traced run alternates one untraced and one traced unit
        assert record["untraced"]["samples"] >= (1 if trace else 2)


def test_two_seeds_give_identical_outputs(runs):
    a = runs["warehouse_build", 0][1]["details"]["model_outputs"]
    b = runs["warehouse_build", 1][1]["details"]["model_outputs"]
    assert {t: o["hash"] for t, o in a.items()} == {t: o["hash"] for t, o in b.items()}
    assert len(a) == 8
    a = runs["analyst_mix", 0][1]["details"]["result_hashes"]
    b = runs["analyst_mix", 1][1]["details"]["result_hashes"]
    assert a == b and len(a) == 12


def test_traced_run_spans_every_layer(runs):
    layers = {
        "warehouse_build": {"session", "setup", "sources", "plans.pipeline",
                            "plans.glamira", "plans.checks"},
        "analyst_mix": {"session", "setup", "plans"},
    }
    for workload, want in layers.items():
        spans = runs[workload, 1][1]["spans"]
        assert want <= {s["layer"] for s in spans}
        ids = {s["id"] for s in spans}
        for s in spans:
            assert s["parent"] is None or s["parent"] in ids
            assert 0 <= s["self_s"] <= s["end"] - s["start"] + 1e-9
    metrics = runs["warehouse_build", 1][0]["metrics"]
    assert metrics["pipeline.mart_fact_order_stages"]["value"] > 0
    assert metrics["sources.files_written"]["value"] > 0
    assert metrics["python.workers_started"]["value"] == 0
    metrics = runs["analyst_mix", 1][0]["metrics"]
    assert metrics["spark.stages"]["value"] > 0
    assert metrics["query.ann_cosine_topk_np_s"]["value"] > 0
    assert metrics["python.workers_started"]["value"] > 0


def test_self_time_subtracts_covered_child_time():
    parent = tracing.Span(0, "a", "p", None, None, 0.0, 10.0)
    kids = [
        tracing.Span(1, "b", "c1", None, 0, 1.0, 4.0),
        tracing.Span(2, "b", "c2", None, 0, 3.0, 5.0),  # overlaps c1
        tracing.Span(3, "b", "c3", None, 0, 7.0, 8.0),
    ]
    assert tracing.self_time(parent, [parent, *kids]) == pytest.approx(10 - 4 - 1)


def test_traced_counts_match_the_status_tracker():
    from glamira_batch_processing_spark import get_spark

    spark = get_spark("perfbench-tests")
    try:
        tracer = tracing.Tracer(enabled=True, spark=spark)
        tracer.start_counters()
        counters: dict = {}
        with tracer.operation("test", "group-count", "op-under-test", counters):
            spark.range(20000, numPartitions=3).selectExpr("id % 7 AS k").groupBy(
                "k"
            ).count().toPandas()
        tracer.stop_counters()

        tracker = spark.sparkContext.statusTracker()
        jobs = tracker.getJobIdsForGroup("op-under-test")
        stages = [
            tracker.getStageInfo(s)
            for j in jobs
            for s in tracker.getJobInfo(j).stageIds
        ]
        ran = [s for s in stages if s is not None and s.numCompletedTasks > 0]
        assert counters["spark.jobs"] == len(jobs) > 0
        assert counters["spark.stages"] == len(ran)
        assert counters["spark.tasks"] == sum(s.numCompletedTasks for s in ran)
        assert counters["spark.failed_tasks"] == 0
        assert counters["catalyst.optimization_ms"] >= 0
    finally:
        spark.stop()


def test_without_the_package_it_fails_without_a_result(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    proc = _cli("warehouse_build", 1, 0, cwd=tmp_path)
    assert proc.returncode != 0
    assert "correct" not in proc.stdout
