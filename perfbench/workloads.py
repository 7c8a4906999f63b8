"""The benchmark's workloads: set-up, timed windows and output checks.

Both workloads are closed loops with one client. An operation is one
full warehouse build (``warehouse_build``) or one query execution
(``analyst_mix``). Warm-up runs untimed, at the target size, inside the
set-up. The timed window runs whole operations (whole passes over the
query mix) until ``seconds`` have passed, and at least two builds or
two passes (24 queries), so no end-to-end value is a single sample.
Every output is checked after the window, never inside it.
"""

from __future__ import annotations

import json
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd

from inputs import relayout, write_analyst_tables
from tracing import Tracer

#: Raw events written by ``write_raw_tables`` for ``warehouse_build``.
RAW_EVENTS = 20000
WARMUP_BUILDS = 1
WARMUP_PASSES = 2

#: ``analyst_mix``: registered queries with a DuckDB oracle, and the
#: production twin checked against its oracled sibling.
ANALYST_QUERIES = [
    "q1_pricing_summary",
    "j2_revenue_by_nation",
    "q3_shipping_priority",
    "q8_market_share",
    "q11_important_stock",
    "w1_latest_order_per_customer",
    "funnel_view_click_purchase",
    "rolling_7d_active_users",
    "sessionize_gap30m",
    "glamira_e2e_revenue_rollup",
    "search_bm25_topk",
    "ann_cosine_topk_np",
]
#: Twins whose answers differ from their oracle in the last float digits
#: (numpy vs SQL summation order); compared after rounding floats.
TWIN_ORACLE = {"ann_cosine_topk_np": "ann_cosine_topk"}

#: Glamira DAG models in dependency order (checked against the
#: pipeline's manifest after the first build).
MODELS = [
    "stg_location",
    "stg_order",
    "stg_customer",
    "stg_product",
    "customer_email_scd",
    "mart_dim_customer",
    "mart_dim_product",
    "mart_dim_location",
    "mart_dim_date",
    "mart_fact_order",
    "int_order_qa",
    "int_customer_email_qa",
    "audit_null_rates_stg_order",
    "audit_orphan_rates",
]

#: dbt-style tests, run on the last build: (model, check, columns).
CHECKS = [
    ("mart_fact_order", "unique", ["item_key"]),
    ("mart_fact_order", "not_null", ["item_key", "order_id", "date"]),
    ("mart_dim_customer", "unique", ["user_db_id"]),
    ("mart_dim_product", "unique", ["product_id"]),
    ("mart_dim_location", "unique", ["location_key"]),
    ("int_order_qa", "unique", ["item_key"]),
    ("int_customer_email_qa", "not_null", ["email_address", "user_db_id"]),
]

#: Columns stamped with the build time; left out of output hashes.
VOLATILE_COLUMNS = {"run_ts"}

#: Analyst queries over the marts: name -> DuckDB SQL over the mart
#: files (the Spark side is ``mart_query``).
_FACT_SQL = "read_parquet('{wd}/mart_fact_order/*/*.parquet', hive_partitioning = true)"
_PRODUCT_SQL = "read_parquet('{wd}/mart_dim_product/*.parquet')"
MART_SQL = {
    "mart_orders_in_range": f"""
        SELECT item_key, order_id, product_quantity,
               CAST(line_total_amount AS VARCHAR) AS line_total_amount,
               CAST(date AS VARCHAR) AS date
        FROM {_FACT_SQL}
        WHERE CAST(date AS VARCHAR) BETWEEN '2015-01-02' AND '2015-01-05'""",
    "mart_revenue_by_day_currency": f"""
        SELECT CAST(date AS VARCHAR) AS date, currency_code,
               count(*) AS n_lines, CAST(sum(product_quantity) AS BIGINT) AS quantity,
               CAST(sum(line_total_amount) AS VARCHAR) AS revenue
        FROM {_FACT_SQL}
        GROUP BY 1, 2""",
    "mart_top_products": f"""
        SELECT p.product_id, p.sku, CAST(sum(f.product_quantity) AS BIGINT) AS quantity,
               CAST(sum(f.line_total_amount_usd) AS VARCHAR) AS revenue_usd
        FROM {_FACT_SQL} f JOIN {_PRODUCT_SQL} p ON f.product_key = p.product_key
        GROUP BY p.product_id, p.sku
        ORDER BY quantity DESC, p.product_id
        LIMIT 10""",
}


def mart_query(spark, wd: str, name: str):
    from pyspark.sql import functions as F

    fact = spark.read.parquet(f"{wd}/mart_fact_order")
    if name == "mart_orders_in_range":
        day = F.col("date").cast("string")
        return fact.filter(day.between("2015-01-02", "2015-01-05")).select(
            "item_key",
            "order_id",
            "product_quantity",
            F.col("line_total_amount").cast("string").alias("line_total_amount"),
            day.alias("date"),
        )
    if name == "mart_revenue_by_day_currency":
        return fact.groupBy(F.col("date").cast("string").alias("date"), "currency_code").agg(
            F.count("*").alias("n_lines"),
            F.sum("product_quantity").alias("quantity"),
            F.sum("line_total_amount").cast("string").alias("revenue"),
        )
    if name == "mart_top_products":
        prod = spark.read.parquet(f"{wd}/mart_dim_product").select(
            "product_key", "product_id", "sku"
        )
        return (
            fact.select("product_key", "product_quantity", "line_total_amount_usd")
            .join(prod, "product_key")
            .groupBy("product_id", "sku")
            .agg(
                F.sum("product_quantity").alias("quantity"),
                F.sum("line_total_amount_usd").cast("string").alias("revenue_usd"),
            )
            .orderBy(F.desc("quantity"), "product_id")
            .limit(10)
        )
    raise KeyError(name)


# ----------------------------------------------------------- results


@dataclass
class Window:
    """One timed window: operation latencies and the wall it spanned."""

    latencies: list[float] = field(default_factory=list)
    names: list[str] = field(default_factory=list)
    units: int = 0
    wall_s: float = 0.0
    traced: list[dict] = field(default_factory=list)

    def end_to_end(self) -> dict[str, float]:
        return {
            "op_p50_s": statistics.median(self.latencies),
            "ops_per_s": len(self.latencies) / self.wall_s,
        }


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def record(self, ok: bool, problem: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(problem)


# ----------------------------------------------------- output checks


def frame_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash of a frame's rows (columns sorted)."""
    df = df[sorted(c for c in df.columns if c not in VOLATILE_COLUMNS)]
    rows = pd.util.hash_pandas_object(df.astype(str), index=False).to_numpy(np.uint64)
    return f"{int(rows.sum(dtype=np.uint64)):016x}:{len(df)}"


def table_outputs(workdir: Path) -> dict[str, dict]:
    """Row count, files, bytes and output hash of each table model."""
    import pyarrow.dataset as ds

    out = {}
    for path in sorted(p for p in workdir.iterdir() if p.is_dir()):
        files = list(path.rglob("*.parquet"))
        table = ds.dataset(path, format="parquet", partitioning="hive").to_table()
        out[path.name] = {
            "rows": table.num_rows,
            "hash": frame_hash(table.to_pandas()),
            "files": len(files),
            "bytes": sum(f.stat().st_size for f in files),
        }
    return out


def compare(spark_pdf: pd.DataFrame, ref_pdf: pd.DataFrame, name: str, round_floats: bool) -> list[str]:
    from tests.oracle_diff import compare_frames

    if round_floats:
        spark_pdf, ref_pdf = spark_pdf.round(9), ref_pdf.round(9)
    return compare_frames(spark_pdf, ref_pdf, name)


# ------------------------------------------------------- the workloads


class Workload:
    """What both workloads share: operation ids, timed windows, failed tasks."""

    name = ""
    min_units = 1

    def __init__(self, spark, work: Path, seed: int, seconds: float, tracer: Tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.outcome = Outcome()
        self.inputs: dict[str, int] = {}
        self.warmup_s: list[float] = []
        self.groups: list[str] = []
        self._ops = 0

    def op_id(self, tag: str) -> str:
        self._ops += 1
        op = f"op{self._ops}:{tag}"
        self.groups.append(op)
        return op

    def window(self, traced: bool = False) -> tuple[Window, Window | None]:
        """Run whole units (builds, passes) until ``seconds`` have passed
        and each window holds at least ``min_units`` units.

        When ``traced``, units alternate between the untraced window and
        the traced one, so both see the same warm-up drift and their
        difference is the tracing overhead; each then needs one unit.
        """
        plain, probed = Window(), Window() if traced else None
        need = 1 if traced else self.min_units
        t0 = time.perf_counter()
        i = 0
        while (
            plain.units < need
            or (probed is not None and probed.units < need)
            or time.perf_counter() - t0 < self.seconds
        ):
            w = probed if probed is not None and i % 2 else plain
            if w is probed:
                self.tracer.start_counters()
            u0 = time.perf_counter()
            self.unit(w, "traced" if w is probed else "timed")
            w.wall_s += time.perf_counter() - u0
            w.units += 1
            if w is probed:
                self.tracer.stop_counters()
            i += 1
        self.verify()
        return plain, probed

    def check_failed_tasks(self) -> None:
        failed = self.tracer.failed_tasks(self.groups)
        self.groups.clear()
        for _ in range(failed):
            self.outcome.record(False, "failed task attempt")

    # subclasses: setup(), unit(window, label), verify(), finish() -> dict


class WarehouseBuild(Workload):
    name = "warehouse_build"
    min_units = 2  # builds

    def setup(self) -> None:
        from glamira_batch_processing_spark.sources.raw_generator import write_raw_tables

        raw0, raw = self.work / "raw_written", self.work / "raw"
        with self.tracer.span("sources", "raw_write"):
            t = time.perf_counter()
            write_raw_tables(self.spark, str(raw0), n_events=RAW_EVENTS)
            self.raw_write_s = time.perf_counter() - t
        self.inputs = relayout(raw0, raw, self.seed)
        read = self.spark.read.parquet
        self.raw = {n: read(str(raw / f"{n}.parquet")) for n in self.inputs}
        self.expected: dict[str, str] | None = None
        self.builds: list[dict] = []
        self.model_order = MODELS
        self.pending: list[tuple[int, Path, str]] = []
        for _ in range(WARMUP_BUILDS):
            self.warmup_s.append(self.build("warmup", None))
        self.verify()

    def build(self, label: str, w: Window | None) -> float:
        """One full DAG build; returns its latency."""
        from glamira_batch_processing_spark.plans.glamira import build_glamira_pipeline

        n = len(self.builds) + len(self.pending)
        workdir = self.work / "models" / f"b{n}"
        traced = self.tracer.counting and label == "traced"
        counters: dict = {"models": {}}
        error = ""
        t0 = time.perf_counter()
        try:
            with self.tracer.span("plans.pipeline", "build", f"b{n}"):
                p = build_glamira_pipeline(
                    self.spark,
                    raw_events=self.raw["raw_events"],
                    raw_product=self.raw["raw_product"],
                    raw_ip_locations=self.raw["raw_ip_locations"],
                    workdir=str(workdir),
                )
                for model in self.model_order:
                    c = {} if traced else None
                    with self.tracer.operation("plans.glamira", model, self.op_id(f"b{n}/{model}"), c):
                        p.ref(model)
                    if traced:
                        counters["models"][model] = c
            if n == 0:
                check_model_order(p.manifest()["models"], self.model_order)
            self.last_pipeline = p
        except Exception as exc:  # a failed build is counted, not fatal
            error = f"build {n}: {type(exc).__name__}: {exc}"
        latency = time.perf_counter() - t0
        if w is not None and not error:
            w.latencies.append(latency)
            w.names.append("build")
            if traced:
                counters["wall_s"] = latency
                w.traced.append(counters)
        self.pending.append((n, workdir, error))
        return latency

    def verify(self) -> None:
        """Check every build since the last call: each table model's rows
        hash the same in every build and, at the pinned size, every seed."""
        import shutil

        pinned = pinned_outputs(self.name, RAW_EVENTS)
        for n, workdir, error in self.pending:
            if error:
                self.builds.append({"error": error})
                self.outcome.record(False, error)
                continue
            outputs = table_outputs(workdir)
            self.builds.append({"outputs": outputs})
            self.expected = self.expected or {t: o["hash"] for t, o in outputs.items()}
            drift = sorted({
                t for ref in (self.expected, pinned or {}) for t in ref
                if outputs.get(t, {}).get("hash") != ref[t]
            })
            problem = f"build {n}: output hash differs for {drift}" if drift else ""
            self.outcome.record(not problem, problem)
            if workdir != self.pending[-1][1]:
                shutil.rmtree(workdir, ignore_errors=True)
        self.last_workdir = self.pending[-1][1] if self.pending else None
        self.pending.clear()
        self.check_failed_tasks()

    def run_checks(self) -> dict[str, int]:
        """The dbt-style tests on the last build's marts and QA views."""
        from glamira_batch_processing_spark.plans import checks

        p, violations = self.last_pipeline, {}
        c = {} if self.tracer.counting else None
        with self.tracer.operation("plans.checks", "checks", self.op_id("checks"), c):
            for model, kind, cols in CHECKS:
                fn = checks.check_unique if kind == "unique" else checks.check_not_null
                violations[f"{kind}:{model}:{','.join(cols)}"] = fn(p.ref(model), cols)
        self.checks_traced = c or {}
        bad = {k: v for k, v in violations.items() if v}
        self.outcome.record(not bad, f"test violations {bad}")
        return violations

    def unit(self, w: Window, label: str) -> None:
        self.build(label, w)

    def finish(self) -> dict:
        """Mart queries against DuckDB over the mart files last written."""
        import duckdb

        violations = self.run_checks()
        wd = str(self.last_workdir)
        duck = duckdb.connect()
        self.mart_traced: dict[str, dict] = {}
        try:
            for name, sql in MART_SQL.items():
                c = {} if self.tracer.counting else None
                try:
                    with self.tracer.operation("sources", name, self.op_id(name), c):
                        got = mart_query(self.spark, wd, name).toPandas()
                    problems = compare(got, duck.sql(sql.format(wd=wd)).df(), name, False)
                except Exception as exc:
                    problems = [f"{name}: {type(exc).__name__}: {exc}"]
                if c:
                    self.mart_traced[name] = c
                self.outcome.record(not problems, "; ".join(problems))
        finally:
            duck.close()
        last = self.builds[-1].get("outputs", {})
        return {
            "raw_events": RAW_EVENTS,
            "model_outputs": last,
            "test_violations": violations,
            "warmup_build_s": self.warmup_s,
        }


class AnalystMix(Workload):
    name = "analyst_mix"
    min_units = 2  # passes of twelve queries

    def setup(self) -> None:
        import duckdb

        import __spark_entry__ as contract

        data = self.work / "data"
        self.inputs = write_analyst_tables(data, self.seed)
        self.sf_dir = str(data)
        self.queries = contract.queries()
        oracles = contract.oracle_sql()
        self.duck = duckdb.connect()
        for table in self.inputs:
            self.duck.execute(f"CREATE VIEW {table} AS SELECT * FROM '{data}/{table}.parquet'")
        self.reference = {
            q: self.duck.sql(oracles[TWIN_ORACLE.get(q, q)]).df() for q in ANALYST_QUERIES
        }
        self.rng = np.random.default_rng(self.seed)
        self.pending: list[tuple[str, pd.DataFrame]] = []
        self.result_hashes: dict[str, str] = {}
        for _ in range(WARMUP_PASSES):
            t = time.perf_counter()
            self.unit(None, "warmup")
            self.warmup_s.append(time.perf_counter() - t)
        self.verify()

    def unit(self, w: Window | None, label: str) -> None:
        """One pass: every query once, in an order drawn from the seed."""
        traced = self.tracer.counting and label == "traced"
        for q in self.rng.permutation(ANALYST_QUERIES):
            c = {} if traced else None
            t0 = time.perf_counter()
            try:
                with self.tracer.operation("plans", q, self.op_id(q), c):
                    got = self.queries[q](self.spark, self.sf_dir).toPandas()
            except Exception as exc:
                self.outcome.record(False, f"{q}: {type(exc).__name__}: {exc}")
                continue
            latency = time.perf_counter() - t0
            self.pending.append((q, got))
            if w is not None:
                w.latencies.append(latency)
                w.names.append(q)
                if traced:
                    w.traced.append(c)

    def verify(self) -> None:
        """Every execution's answer against the DuckDB oracle's."""
        for q, got in self.pending:
            problems = compare(got, self.reference[q], q, q in TWIN_ORACLE)
            self.outcome.record(not problems, "; ".join(problems))
            self.result_hashes.setdefault(q, frame_hash(got.round(9) if q in TWIN_ORACLE else got))
        self.pending.clear()
        self.check_failed_tasks()

    def finish(self) -> dict:
        self.duck.close()
        return {"warmup_pass_s": self.warmup_s, "result_hashes": self.result_hashes}


WORKLOADS = {cls.name: cls for cls in (WarehouseBuild, AnalystMix)}


def check_model_order(manifest: dict, order: list[str]) -> None:
    seen: set[str] = set()
    for model in order:
        missing = set(manifest[model]["depends_on"]) - seen
        if missing:
            raise RuntimeError(f"{model} is timed before its dependencies {sorted(missing)}")
        seen.add(model)


def pinned_outputs(workload: str, size: int) -> dict | None:
    """Output hashes every seed must give, from ``expected.json``."""
    path = Path(__file__).with_name("expected.json")
    if not path.exists():
        return None
    return json.loads(path.read_text()).get(workload, {}).get(str(size))
