"""Declarative stage-DAG pipeline (SURVEY.md §3.1 / §7 Phase 1.6).

The reference's ``run_pipeline`` (``etl.py:281-314``) ran six stage
functions strictly sequentially even though five of them were mutually
independent, and cut lineage by writing parquet then re-reading it.
This Pipeline generalizes that pattern:

  - Stages declare their inputs by name; the DAG is resolved
    topologically, so independent stages' plans are built independently
    (Spark schedules their jobs concurrently when actions overlap).
  - ``materialize=True`` marks an explicit lineage-cut boundary
    (write parquet + re-read — the reference's implicit checkpoint
    pattern made first-class). At 100 TB a deliberate materialization
    point bounds recomputation and lets downstream stages read a
    pruned, partitioned copy instead of re-running upstream lineage.

We intentionally compile to plain DataFrames and let Catalyst do ALL
optimization — there is no custom IR (SURVEY.md §3 conclusion).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from graphlib import TopologicalSorter

from pyspark.sql import DataFrame, SparkSession

from udacity_capstone_data_engineering_spark.sources.sinks import write_parquet


@dataclass
class Stage:
    name: str
    fn: Callable[..., DataFrame]  # receives resolved input DataFrames
    inputs: list[str] = field(default_factory=list)
    materialize: bool = False
    partition_by: list[str] | None = None


class Pipeline:
    """A named DAG of DataFrame-producing stages."""

    def __init__(self, spark: SparkSession, workdir: str | None = None):
        self.spark = spark
        self.workdir = workdir
        self._stages: dict[str, Stage] = {}

    def stage(
        self,
        name: str,
        inputs: list[str] | None = None,
        materialize: bool = False,
        partition_by: list[str] | None = None,
    ):
        """Decorator: register a stage function."""

        def wrap(fn: Callable[..., DataFrame]):
            self._stages[name] = Stage(
                name, fn, inputs or [], materialize, partition_by
            )
            return fn

        return wrap

    def add(self, stage: Stage) -> None:
        self._stages[stage.name] = stage

    def _materialize(self, st: Stage, df: DataFrame) -> DataFrame:
        if not self.workdir:
            raise ValueError(
                f"stage {st.name!r} asks to materialize but Pipeline has no workdir"
            )
        path = write_parquet(df, self.workdir, st.name, partition_by=st.partition_by)
        return self.spark.read.parquet(path)

    def run(self) -> dict[str, DataFrame]:
        """Resolve the DAG topologically and build every stage's DataFrame."""
        graph = {s.name: set(s.inputs) for s in self._stages.values()}
        results: dict[str, DataFrame] = {}
        for name in TopologicalSorter(graph).static_order():
            st = self._stages[name]
            df = st.fn(*(results[i] for i in st.inputs))
            if st.materialize:
                df = self._materialize(st, df)
            results[name] = df
        return results
