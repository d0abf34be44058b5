"""Round-18 optimization-round pins: the plan rewrites must not change any
result multiset (parity covers the registered fixtures; these pin the
internals the rewrites touched directly)."""

from __future__ import annotations

from pyspark.sql import functions as F

from reconciliation_hive_data_spark.catalog import load
from reconciliation_hive_data_spark.plans.recon import orders_target


def _union_orders_target(orders):
    """The pre-r18 two-scan UNION ALL spelling, kept here as the
    independent expectation for the single-scan explode rewrite."""
    kept = orders.filter(F.col("o_orderkey") % 1000 != 7)
    perturbed = kept.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 1000 == 13, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderdate",
        F.when(F.col("o_orderkey") % 1000 == 34, F.lit(None).cast("string"))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
    )
    dups = perturbed.filter(F.col("o_orderkey") % 1000 == 21)
    return perturbed.unionAll(dups)


def test_orders_target_single_scan_multiset_identical(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    got = sorted(map(tuple, orders_target(orders).collect()))
    want = sorted(map(tuple, _union_orders_target(orders).collect()))
    assert got == want and len(got) > 0


def test_orders_target_single_scan_plan(spark, sf_dir):
    """The rewrite's whole point: exactly ONE parquet scan in the target
    derivation (the union spelling carried two)."""
    orders = load(spark, sf_dir, "orders")
    plan = orders_target(orders)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Relation") == 1
