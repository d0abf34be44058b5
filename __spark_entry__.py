"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash). ``queries()`` and ``oracle_sql()`` list
the registry in registration order.

Implementation lives in ``reconciliation_hive_data_spark``; every operator
from SURVEY.md §2 registers itself into the query registry with its DuckDB
oracle twin (or consciously rows-only where semantics aren't
SQL-expressible — see registry entries with ``oracle=None``).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from reconciliation_hive_data_spark import registry  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (recon_order_totals, SURVEY.md §7.2) on sf0.001."""
    registry.load_all_modules()
    return registry.get("recon_order_totals").fn(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return registry.all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle twin per query (absent → driver's rows-only check)."""
    return registry.all_oracles()
