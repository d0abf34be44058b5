"""Query registry backing ``__spark_entry__``.

Every operator from SURVEY.md §2 registers itself here via the ``@query``
decorator: a name, a ``(spark, sf_dir) -> DataFrame`` callable, and (when the
semantics are ANSI-SQL-expressible) the DuckDB oracle SQL string the driver
runs side-by-side. Registration happens at import time; ``load_all_modules``
imports every operator module exactly once.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL twin; None → driver's rows-only check
    doc: str


REGISTRY: dict[str, QuerySpec] = {}

_MODULES = (
    "reconciliation_hive_data_spark.plans.recon",
    "reconciliation_hive_data_spark.plans.api",
    "reconciliation_hive_data_spark.plans.llm",
    "reconciliation_hive_data_spark.streaming.stream_ops",
    "reconciliation_hive_data_spark.udfs",
    "reconciliation_hive_data_spark.functions.scalars",
    "reconciliation_hive_data_spark.sources.files",
    "reconciliation_hive_data_spark.operators.joins",
    "reconciliation_hive_data_spark.operators.aggregates",
    "reconciliation_hive_data_spark.operators.windows",
    "reconciliation_hive_data_spark.operators.filters",
    "reconciliation_hive_data_spark.operators.sortlimit",
    "reconciliation_hive_data_spark.operators.setops",
    "reconciliation_hive_data_spark.plans.lsh_variants",
    "reconciliation_hive_data_spark.plans.scale_ops",
    "reconciliation_hive_data_spark.plans.pipeline_ops",
    "reconciliation_hive_data_spark.plans.recon_scale",
    "reconciliation_hive_data_spark.plans.corpus_ops",
    "reconciliation_hive_data_spark.plans.tpch",
    "reconciliation_hive_data_spark.plans.sketches",
    "reconciliation_hive_data_spark.functions.modern",
    "reconciliation_hive_data_spark.sources.python_ds",
)

_loaded = False


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query registration: {name}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


def load_all_modules() -> None:
    global _loaded
    if _loaded:
        return
    for m in _MODULES:
        importlib.import_module(m)
    _loaded = True


def all_queries() -> dict[str, QueryFn]:
    """Every registered query, in registration order."""
    load_all_modules()
    return {name: spec.fn for name, spec in REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    """The oracle of every query that has one, in registration order."""
    load_all_modules()
    return {
        name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None
    }


def get(name: str) -> QuerySpec:
    load_all_modules()
    return REGISTRY[name]
