"""Benchmark command: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload warehouse_build --seed 1 --seconds 5 --trace 0

Run from the repository root. The command starts one Spark session at
``local[$SPARK_GRAFT_CPUS]`` (default: the cores this process may use),
generates the inputs from the seed, warms up, runs the timed window with
tracing off and checks every output. With ``--trace 1`` it then runs a
second, traced window and prints the per-layer metrics instead of the
end-to-end ones; the tracing overhead is the traced window's end-to-end
value minus the untraced one.

The last line of stdout is the result. A self-describing record (seed,
cores, load, inputs, samples, checks, spans) goes to
``.perfbench/records/``. Exits non-zero without a result when the
package or a set-up step is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import tracing
from workloads import ANALYST_QUERIES, MART_SQL, MODELS, WORKLOADS

ROOT = Path(__file__).resolve().parent.parent

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "ops_per_s": "1/s"}

#: Per-operation counters: median over the traced window's operations.
_PER_OP = {
    "sources.bytes_read": "bytes",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.busy_frac": "fraction",
    "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "spill.bytes": "bytes",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "sources.raw_write_s": "s",
    "sources.files_written": "count",
    "sources.bytes_written": "bytes",
    **_PER_OP,
    **{f"pipeline.{m}_s": "s" for m in MODELS},
    **{f"pipeline.{m}_stages": "count" for m in MODELS},
    "pipeline.checks_s": "s",
    "spark.failed_tasks": "count",
    "python.workers_started": "count",
    "python.cpu_s": "s",
    **{f"query.{q}_s": "s" for q in [*ANALYST_QUERIES, *MART_SQL]},
    "error_rate": "fraction",
    "trace.overhead_op_p50_s": "s",
    "trace.overhead_ops_per_s": "1/s",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment(work: Path) -> dict[str, str]:
    """Everything Spark and its Python workers write stays under ``work``,
    and the workers import the package from the checkout."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # HotSpot maps its counters to /tmp/hsperfdata_<user> unless told not to.
    no_perf_file = "-XX:+PerfDisableSharedMem"
    os.environ["SPARK_LAUNCHER_OPTS"] = no_perf_file
    return {
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} {no_perf_file}",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.showConsoleProgress": "false",
    }


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def op_totals(counters: dict) -> dict[str, float]:
    """A warehouse build's counters: the sum over its models."""
    if "models" not in counters:
        return counters
    total: dict[str, float] = {}
    for part in counters["models"].values():
        for k, v in part.items():
            total[k] = total.get(k, 0.0) + v
    total["wall_s"] = counters["wall_s"]
    return total


def per_layer(wl, traced, untraced, setup: dict, cores: int) -> dict[str, float]:
    ops = [op_totals(c) for c in traced.traced]
    m = {name: 0.0 for name in PER_LAYER}
    m["session.start_s"] = setup["session_start_s"]
    m["session.peak_rss_mb"] = setup["peak_rss_mb"]
    m["sources.raw_write_s"] = getattr(wl, "raw_write_s", 0.0)
    for key in _PER_OP:
        if key != "executor.busy_frac":
            m[key] = _median(o.get(key, 0.0) for o in ops)
    m["executor.busy_frac"] = _median(
        o.get("executor.run_s", 0.0) / (o["wall_s"] * cores) for o in ops
    )
    m["spark.failed_tasks"] = sum(o.get("spark.failed_tasks", 0) for o in ops)
    m["python.workers_started"] = len(wl.tracer.workers_seen)
    m["python.cpu_s"] = statistics.fmean(o.get("python.cpu_s", 0.0) for o in ops)
    builds = [c for c in traced.traced if "models" in c]
    for model in MODELS:
        m[f"pipeline.{model}_s"] = _median(b["models"][model]["wall_s"] for b in builds)
        m[f"pipeline.{model}_stages"] = _median(
            b["models"][model]["spark.stages"] for b in builds
        )
    m["pipeline.checks_s"] = getattr(wl, "checks_traced", {}).get("wall_s", 0.0)
    outputs = [b["outputs"] for b in getattr(wl, "builds", []) if "outputs" in b]
    if outputs:
        m["sources.files_written"] = _median(sum(t["files"] for t in o.values()) for o in outputs)
        m["sources.bytes_written"] = _median(sum(t["bytes"] for t in o.values()) for o in outputs)
    by_query: dict[str, list[float]] = {}
    for name, c in zip(traced.names, traced.traced):
        by_query.setdefault(name, []).append(c["wall_s"])
    for name, c in getattr(wl, "mart_traced", {}).items():
        by_query.setdefault(name, []).append(c["wall_s"])
    for name, walls in by_query.items():
        if f"query.{name}_s" in m:
            m[f"query.{name}_s"] = _median(walls)
    m["error_rate"] = wl.outcome.failed / max(1, wl.outcome.attempted)
    t_e2e, u_e2e = traced.end_to_end(), untraced.end_to_end()
    m["trace.overhead_op_p50_s"] = t_e2e["op_p50_s"] - u_e2e["op_p50_s"]
    m["trace.overhead_ops_per_s"] = t_e2e["ops_per_s"] - u_e2e["ops_per_s"]
    return m


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for both."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        # The JVM exits when its stdin closes.
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / "glamira_batch_processing_spark").is_dir() or not (
        ROOT / "__spark_entry__.py"
    ).is_file():
        print(f"perfbench: no glamira_batch_processing_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = ROOT / ".perfbench" / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    overrides = prepare_environment(work)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    record: dict = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "spark_graft_cpus": cores,
        "nproc": os.cpu_count(),
        "loadavg_start": tracing.loadavg(),
    }
    host0, steal0 = tracing.host_busy_seconds()
    own0, t_start = tracing.cpu_seconds(os.getpid()), time.time()

    tracer = tracing.Tracer(enabled=bool(args.trace))
    t0 = time.perf_counter()
    from glamira_batch_processing_spark import get_spark

    with tracer.span("session", "start"):
        spark = get_spark("perfbench", **overrides)
    session_start_s = time.perf_counter() - t0
    try:
        tracer.spark = spark
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.seconds, tracer)
        with tracer.span("setup", args.workload):
            wl.setup()
        setup_s = time.perf_counter() - t0

        tracer.enabled = False  # the timed window is never traced
        untraced, traced = wl.window(traced=bool(args.trace))
        if args.trace:
            tracer.start_counters()  # the mart checks are traced too
        details = wl.finish()
        tracer.stop_counters()

        jvm_pid = spark.sparkContext._gateway.proc.pid
        own_cpu = tracing.tree_cpu_seconds(os.getpid()) - own0
        setup = {
            "session_start_s": session_start_s,
            "peak_rss_mb": tracing.peak_rss_mb(jvm_pid) + tracing.peak_rss_mb(os.getpid()),
        }
    finally:
        stop_spark(spark)

    wall = time.time() - t_start
    host1, steal1 = tracing.host_busy_seconds()
    other = host1 - host0 - own_cpu
    record.update({
        "loadavg_end": tracing.loadavg(),
        "wall_s": wall,
        "own_cpu_s": own_cpu,
        "host_other_busy_s": other,
        "host_other_busy_frac": other / (wall * (os.cpu_count() or 1)),
        "host_steal_s": steal1 - steal0,
        "inputs": wl.inputs,
        "setup_s": setup_s,
        **setup,
        "untraced": {**untraced.end_to_end(), "samples": len(untraced.latencies),
                     "latencies": list(zip(untraced.names, untraced.latencies))},
        "details": details,
        "attempted": wl.outcome.attempted,
        "failed": wl.outcome.failed,
        "problems": wl.outcome.problems,
    })
    if traced is not None:
        metrics = per_layer(wl, traced, untraced, setup, cores)
        units = PER_LAYER
        record["traced"] = {**traced.end_to_end(), "samples": len(traced.latencies)}
        record["spans"] = tracer.span_dicts()
    else:
        metrics = {"setup_s": setup_s, **untraced.end_to_end()}
        units = END_TO_END
    record["metrics"] = metrics

    out = ROOT / ".perfbench" / "records"
    out.mkdir(parents=True, exist_ok=True)
    (out / f"{work.name}.json").write_text(json.dumps(record, indent=1, default=str) + "\n")
    shutil.rmtree(work, ignore_errors=True)

    for name, value in metrics.items():
        print(f"{name:36s} {value:14.6g} {units[name]}", file=sys.stderr)
    for problem in wl.outcome.problems:
        print(f"perfbench: FAILED {problem}", file=sys.stderr)
    print(json.dumps({
        "correct": wl.outcome.failed == 0,
        "attempted": wl.outcome.attempted,
        "failed": wl.outcome.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
