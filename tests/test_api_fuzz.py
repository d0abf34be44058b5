"""Property-based fault-injection fuzz for the ReconPair API: inject a
random combination of faults (drops, duplicates, value drift, nulls) at
random key residues, then assert the reconciliation reports recover the
exact injected fault sets — no more, no fewer.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from reconciliation_hive_data_spark.catalog import load
from reconciliation_hive_data_spark.plans.api import ReconPair

MOD = 100


@st.composite
def fault_plan(draw):
    residues = st.integers(min_value=0, max_value=MOD - 1)
    drop = draw(residues)
    dup = draw(residues.filter(lambda r: r != drop))
    drift = draw(residues.filter(lambda r: r not in (drop, dup)))
    null = draw(residues.filter(lambda r: r not in (drop, dup, drift)))
    return drop, dup, drift, null


@pytest.mark.soak
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(plan=fault_plan())
def test_injected_faults_recovered_exactly(spark, sf_dir, plan):
    _assert_faults_recovered(spark, sf_dir, plan)


def test_fixed_fault_plan_recovered_exactly(spark, sf_dir):
    """One fixed (drop, dup, drift, null) plan of the fuzz above, run by
    default."""
    _assert_faults_recovered(spark, sf_dir, (3, 17, 42, 71))


def _assert_faults_recovered(spark, sf_dir, plan):
    drop, dup, drift, null = plan
    orders = load(spark, sf_dir, "orders")
    key = F.col("o_orderkey")

    tgt = orders.filter(key % MOD != drop).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.when(key % MOD == drift, F.col("o_totalprice") + 5.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderdate",
        F.when(key % MOD == null, F.lit(None).cast("string"))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
    )
    tgt = tgt.unionByName(tgt.filter(key % MOD == dup))

    pair = ReconPair(
        source=orders,
        target=tgt,
        keys=["o_orderkey"],
        compare_cols={
            "o_totalprice": "double",
            "o_orderpriority": "string",
        },
        tolerance=1.0,
    )

    def keys_with_residue(r: int) -> set[int]:
        keys = {
            row.o_orderkey
            for row in orders.filter(key % MOD == r).select("o_orderkey").collect()
        }
        assert keys, f"fixture must contain keys at residue {r}"
        return keys

    missing = {
        r.o_orderkey
        for r in pair.key_diff().filter("side = 'MISSING_IN_TARGET'").collect()
    }
    assert missing == keys_with_residue(drop)

    dups = {r.o_orderkey for r in pair.duplicate_keys().collect()}
    assert dups == keys_with_residue(dup)

    cells = pair.cell_diff().collect()
    assert {r.o_orderkey for r in cells if r.col_name == "o_totalprice"} == (
        keys_with_residue(drift)
    )
    assert {r.o_orderkey for r in cells if r.col_name == "o_orderpriority"} == (
        keys_with_residue(null)
    )


def test_null_double_with_tolerance_is_reported(spark, sf_dir):
    """A null-vs-value mismatch in a double column must be reported even
    when tolerance > 0: |s - t| is NULL when either side is null, and a
    naive `~(eq | within_tol)` arm evaluates to NULL and silently drops the
    row from cell_diff (and undercounts summary's cell_diffs)."""
    import pytest

    orders = load(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    null_r = 7
    tgt = orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.when(key % MOD == null_r, F.lit(None).cast("double"))
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    expected = {
        r.o_orderkey for r in orders.filter(key % MOD == null_r).collect()
    }
    assert expected, "fixture must contain keys at the chosen residue"

    pair = ReconPair(
        source=orders,
        target=tgt,
        keys=["o_orderkey"],
        compare_cols={"o_totalprice": "double"},
        tolerance=1.0,
    )
    assert {r.o_orderkey for r in pair.cell_diff().collect()} == expected

    # symmetric: null on the SOURCE side must be reported too
    swapped = ReconPair(
        source=tgt,
        target=orders,
        keys=["o_orderkey"],
        compare_cols={"o_totalprice": "double"},
        tolerance=1.0,
    )
    assert {r.o_orderkey for r in swapped.cell_diff().collect()} == expected

    # and summary()'s cell_diffs row counts them
    n = (
        pair.summary()
        .filter("check = 'cell_diffs'")
        .collect()[0]
        .violations
    )
    assert n == len(expected)

    # config errors: a compare column missing from the target is a clear
    # ValueError at construction, not an AnalysisException mid-check
    with pytest.raises(ValueError, match="not in target"):
        ReconPair(
            source=orders,
            target=tgt.drop("o_totalprice"),
            keys=["o_orderkey"],
            compare_cols={"o_totalprice": "double"},
        )
