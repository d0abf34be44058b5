"""Few-row frames run as few-task stages.

Two session-level mechanisms keep a stage no wider than its data at
fixture scale: AQE may coalesce the shuffle partitions of a persisted
plan (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``), and
driver-built frames are Arrow-built ``LocalTableScan``s
(``catalog.local_frame``) rather than Python-worker RDD scans. These tests
pin the helper against ``spark.createDataFrame`` and budget the tasks of
the two queries whose eager jobs read persisted frames.
"""

from __future__ import annotations

import ast
import datetime
import os

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from bench import group_counts
from reconciliation_hive_data_spark import registry
from reconciliation_hive_data_spark.catalog import local_frame

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "reconciliation_hive_data_spark",
)

_DDL = "s string, n bigint, x double, ts timestamp"
_UTC = datetime.timezone.utc
_DDL_ROWS = [
    ("a", 1, 1.5, datetime.datetime(2024, 1, 1, 12, 30, 5, 123456, tzinfo=_UTC)),
    ("", -(2**62), -0.0, datetime.datetime(1999, 12, 31, 23, 59, 59, tzinfo=_UTC)),
    (None, None, None, None),
]
_STRUCT = StructType(
    [
        StructField("k", LongType(), nullable=False),
        StructField("v", StringType(), nullable=True),
    ]
)


@pytest.mark.parametrize(
    "rows, schema",
    [
        (_DDL_ROWS, _DDL),
        ([], _DDL),
        ([(1, "x"), (2, None)], _STRUCT),
        ([], _STRUCT),
    ],
    ids=["ddl", "ddl-empty", "struct", "struct-empty"],
)
def test_local_frame_matches_create_dataframe(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema  # StructField equality covers nullability
    assert got.collect() == want.collect()


def test_local_frame_plans_a_local_table_scan(spark):
    plan = local_frame(spark, _DDL_ROWS, _DDL)._jdf.queryExecution().executedPlan()
    text = plan.toString()
    assert "LocalTableScan" in text and "ExistingRDD" not in text, text


def test_no_create_dataframe_outside_local_frame():
    """Every driver-built frame in the package goes through ``local_frame``."""
    calls = []
    for dirpath, _, files in os.walk(_PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            for fn in ast.walk(tree):
                if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                for node in ast.walk(fn):
                    if (
                        isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "createDataFrame"
                    ):
                        calls.append((os.path.relpath(path, _PKG), fn.name))
    assert calls == [("catalog.py", "local_frame")], calls


def test_spark_fixture_lets_aqe_coalesce_cached_plans(spark):
    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    assert spark.conf.get(key) == "true"


@pytest.mark.parametrize("name", ["x_bpe_rounds_n", "recon_remediate"])
def test_persisted_query_task_budget(spark, sf_dir, name):
    """``fn()`` plus the noop write of a query whose eager jobs read a
    persisted aggregate. With its shuffle partitions coalesced, each of
    those jobs runs about one task per stage: 14 tasks for each query on
    4 cores at sf0.001 (8 shuffle partitions), where writing a local frame
    runs one task per core, up to its row count. Uncoalesced, every scan
    of the persisted frame runs all 8 partitions: 49 and 42 tasks."""
    registry.load_all_modules()
    sc = spark.sparkContext
    group = f"test_persisted_query_task_budget:{name}"
    sc.setJobGroup(group, group)
    try:
        registry.get(name).fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    finally:
        sc._jsc.clearJobGroup()
    jobs, tasks = group_counts(sc, group)
    assert jobs > 0
    assert tasks <= 16 + sc.defaultParallelism, (jobs, tasks)
