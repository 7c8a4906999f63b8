"""A minimal dbt-like model pipeline on Spark DataFrames.

The reference's "engine" is dbt rendering SQL models into a DAG of
views/tables (SURVEY.md §3.1). Here a model is a named function
``(Pipeline) -> DataFrame``; ``ref()`` resolves dependencies and the
materialization decides whether the plan stays lazy (view — Catalyst
inlines it downstream, exactly like BigQuery inlining staging views) or
is persisted to parquet (table/snapshot — cuts recomputation and gives
marts a stable scan). Tables are written only when a workdir is given;
without one they stay lazy like views.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


def _parquet_footer_rows(path: str) -> int:
    """Row count of a written parquet directory from file footers only.

    ``num_rows`` lives in each file's footer metadata, so this is a
    driver-side metadata read — no Spark job, no data scan. Replaces
    the per-table ``df.count()`` that added a full extra job to every
    table materialization (ADVICE r5: a contributor to the round-5
    driver-bench regression).
    """
    from pathlib import Path

    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in Path(path).rglob("*.parquet")
        if f.is_file()
    )


@dataclass
class Model:
    name: str
    fn: Callable[["Pipeline"], DataFrame]
    materialized: str = "view"  # view | table
    partition_by: str | None = None  # table-only: partition column


@dataclass
class Pipeline:
    spark: SparkSession
    workdir: str | None = None
    sources: dict[str, DataFrame] = field(default_factory=dict)
    models: dict[str, Model] = field(default_factory=dict)
    _built: dict[str, DataFrame] = field(default_factory=dict)
    _results: list[dict] = field(default_factory=list)
    _deps: dict[str, set] = field(default_factory=dict)
    _src_deps: dict[str, set] = field(default_factory=dict)
    _build_stack: list[str] = field(default_factory=list)

    def add_source(self, name: str, df: DataFrame) -> None:
        self.sources[name] = df

    def model(self, name: str, materialized: str = "view", partition_by: str | None = None):
        def deco(fn: Callable[[Pipeline], DataFrame]):
            self.models[name] = Model(name, fn, materialized, partition_by)
            return fn

        return deco

    def source(self, name: str) -> DataFrame:
        if self._build_stack:
            self._src_deps.setdefault(self._build_stack[-1], set()).add(name)
        return self.sources[name]

    def ref(self, name: str) -> DataFrame:
        """Build (once) and return a model; recursion builds the DAG in
        dependency order, like dbt's ref()."""
        if self._build_stack:
            # dependency edge: the model currently building referenced us
            self._deps.setdefault(self._build_stack[-1], set()).add(name)
        if name in self._built:
            return self._built[name]
        if name not in self.models:
            raise KeyError(f"unknown model: {name}")
        m = self.models[name]
        import time

        t0 = time.perf_counter()
        self._build_stack.append(name)
        try:
            df = m.fn(self)
            rows: int | None = None
            if m.materialized == "table" and self.workdir:
                path = f"{self.workdir}/{m.name}"
                writer = df.write.mode("overwrite")
                if m.partition_by:
                    # Day-partitioned warehouse layout (ref: load_to_bigquery
                    # TimePartitioning) -> downstream partition pruning.
                    writer = writer.partitionBy(m.partition_by)
                writer.parquet(path)
                # The writer already knows the schema: reading back with it
                # skips parquet schema inference, a one-task job per table.
                # A partition column still comes back last, with its type.
                df = self.spark.read.schema(df.schema).parquet(path)
                # run_results row counts come from the freshly-written
                # parquet footers (num_rows metadata), not a second full
                # Spark job — the unconditional df.count() here added
                # per-table latency to every pipeline run (ADVICE r5).
                rows = _parquet_footer_rows(path)
        except Exception as exc:
            self._results.append(
                {
                    "model": m.name,
                    "materialized": m.materialized,
                    "status": "error",
                    "rows": None,
                    "elapsed_s": round(time.perf_counter() - t0, 4),
                    "message": f"{type(exc).__name__}: {exc}",
                }
            )
            raise
        finally:
            self._build_stack.pop()
        self._results.append(
            {
                "model": m.name,
                "materialized": m.materialized,
                "status": "success",
                # views stay lazy (dbt likewise reports no row count for
                # views); tables report the materialized row count.
                "rows": rows,
                "elapsed_s": round(time.perf_counter() - t0, 4),
                "message": None,
            }
        )
        self._built[name] = df
        df.createOrReplaceTempView(m.name)
        return df

    def run(self, names: list[str] | None = None) -> dict[str, DataFrame]:
        for n in names or list(self.models):
            self.ref(n)
        return dict(self._built)

    def run_results(self) -> list[dict]:
        """Per-model build records in build order — the analog of dbt's
        ``target/run_results.json`` (status / timing / materialization;
        ref: SURVEY §3.1 dbt-run lifecycle). One entry per model built
        in this pipeline instance; models pulled in transitively by
        ``ref()`` appear before their dependents."""
        return list(self._results)

    def manifest(self) -> dict:
        """The dbt ``manifest.json`` analog: every model with its
        materialization and the model/source dependency edges observed
        while building (edges are recorded by ``ref()``/``source()``
        calls inside model functions, so the graph reflects what the
        DAG actually used, not an annotation that can drift)."""
        return {
            "models": {
                m.name: {
                    "materialized": m.materialized,
                    "partition_by": m.partition_by,
                    "depends_on": sorted(self._deps.get(m.name, ())),
                    "sources": sorted(self._src_deps.get(m.name, ())),
                }
                for m in self.models.values()
            }
        }

    def write_manifest(self) -> str:
        """Persist ``manifest.json`` under the workdir."""
        import json
        from pathlib import Path

        if not self.workdir:
            raise ValueError("write_manifest requires a workdir")
        path = Path(self.workdir) / "manifest.json"
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.manifest(), indent=1) + "\n")
        return str(path)

    def write_run_results(self) -> str:
        """Persist ``run_results.json`` under the workdir (the dbt
        artifact location analog). Returns the path written."""
        import json
        from pathlib import Path

        if not self.workdir:
            raise ValueError("write_run_results requires a workdir")
        path = Path(self.workdir) / "run_results.json"
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(
            json.dumps({"results": self._results}, indent=1) + "\n"
        )
        return str(path)
