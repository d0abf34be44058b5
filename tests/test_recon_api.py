"""Generic ReconPair API tests: the self-recon-clean / injected-fault
metamorphic properties, on two different tables, through the public API."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from reconciliation_hive_data_spark.catalog import load
from reconciliation_hive_data_spark.plans import api
from reconciliation_hive_data_spark.plans.api import ReconPair


@pytest.fixture(scope="module")
def orders_pair(spark, sf_dir):
    return api.orders_pair(load(spark, sf_dir, "orders"))


def test_self_pair_summary_all_match(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    pair = ReconPair(
        source=orders,
        target=orders,
        keys=["o_orderkey"],
        compare_cols={"o_totalprice": "double", "o_orderstatus": "string"},
    )
    rows = pair.summary().collect()
    assert len(rows) == 6
    assert all(r.status == "MATCH" and r.violations == 0 for r in rows)


def test_faulty_pair_detects_every_fault_class(spark, sf_dir, orders_pair):
    got = {r.check: r.violations for r in orders_pair.summary().collect()}
    assert got["keys_missing"] > 0          # %1000==7 drops
    assert got["duplicate_keys"] > 0        # %1000==21 dups
    assert got["cell_diffs"] > 0            # %1000==13 drift + %1000==34 nulls
    assert got["row_hash_diffs"] > 0
    assert got["fingerprint_diffs"] > 0


def test_cell_diff_respects_tolerance(spark, sf_dir, orders_pair):
    # drift is exactly +1.0 > tolerance 0.5 → reported; a looser pair hides it
    drift = orders_pair.cell_diff().filter("col_name = 'o_totalprice'").count()
    assert drift > 0
    loose = ReconPair(
        source=orders_pair.source,
        target=orders_pair.target,
        keys=["o_orderkey"],
        compare_cols={"o_totalprice": "double"},
        tolerance=2.0,
    )
    assert loose.cell_diff().filter("col_name = 'o_totalprice'").count() == 0


def test_api_on_second_table(spark, sf_dir):
    """Generality: same API, different table, different key arity."""
    li = load(spark, sf_dir, "lineitem")
    tgt = li.filter((F.col("l_orderkey") % 97 != 0) | (F.col("l_linenumber") != 1))
    pair = ReconPair(
        source=li,
        target=tgt,
        keys=["l_orderkey", "l_linenumber"],
        compare_cols={"l_quantity": "double", "l_returnflag": "string"},
    )
    missing = pair.key_diff()
    # (l_orderkey, l_linenumber) is not unique in the synthetic lineitem, so
    # compare against DISTINCT dropped keys, not dropped rows
    expected = (
        li.filter((F.col("l_orderkey") % 97 == 0) & (F.col("l_linenumber") == 1))
        .select("l_orderkey", "l_linenumber")
        .distinct()
        .count()
    )
    assert missing.filter("side = 'MISSING_IN_TARGET'").count() == expected
    assert missing.filter("side = 'MISSING_IN_SOURCE'").count() == 0


def test_bad_config_rejected(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    with pytest.raises(ValueError, match="unknown kind"):
        ReconPair(orders, orders, ["o_orderkey"], {"o_totalprice": "money"})
    with pytest.raises(ValueError, match="not in source"):
        ReconPair(orders, orders, ["nope"], {"o_totalprice": "double"})


def test_keys_only_pair_runs_every_check(spark):
    """With no compare columns every check still plans and runs; there
    are no cells to compare, so cell_diff is empty but keeps its schema.
    A NULL key never joins, so key_diff reports each side's NULL key on
    that side."""
    pair = ReconPair(
        source=spark.createDataFrame([(1,), (2,), (None,)], "k long"),
        target=spark.createDataFrame([(2,), (3,), (None,)], "k long"),
        keys=["k"],
        compare_cols={},
    )
    for check in (
        pair.row_counts,
        pair.key_diff,
        pair.duplicate_keys,
        pair.row_hash_diff,
        pair.fingerprints,
        pair.summary,
    ):
        check().collect()
    assert sorted(
        (r.k is None, r.k or 0, r.side) for r in pair.key_diff().collect()
    ) == [
        (False, 1, "MISSING_IN_TARGET"),
        (False, 3, "MISSING_IN_SOURCE"),
        (True, 0, "MISSING_IN_SOURCE"),
        (True, 0, "MISSING_IN_TARGET"),
    ]
    cells = pair.cell_diff()
    assert cells.columns == ["k", "col_name", "src_val", "tgt_val"]
    assert cells.count() == 0


def test_drift_clean_and_faulty(spark, sf_dir, orders_pair):
    """Self-pair drifts exactly zero in every bucket; the faulty pair's
    +1.0 price drift on 0.1% of keys is sub-threshold (PSI stays under
    the 0.2 alerting line) — drift is the shape check, not the row check."""
    clean = ReconPair(
        source=orders_pair.source,
        target=orders_pair.source,
        keys=["o_orderkey"],
        compare_cols={"o_totalprice": "double"},
    )
    assert all(
        r.psi == 0.0 for r in clean.drift("o_totalprice", 50000.0).collect()
    )
    faulty = orders_pair.drift("o_totalprice", 50000.0).collect()
    assert sum(r.psi for r in faulty) < 0.2

    with pytest.raises(ValueError):
        orders_pair.drift("o_orderkey", 50000.0)  # not a compare column


def test_sample_audit_matches_fault_classes(spark, sf_dir, orders_pair):
    """The 1/16 sample audit must see only the four known statuses, find a
    MATCH majority, and — because the fixture's faults hit 0.1% of keys —
    usually at least one non-MATCH class; crucially the self-pair audits
    100% MATCH."""
    clean = ReconPair(
        source=orders_pair.source,
        target=orders_pair.source,
        keys=["o_orderkey"],
        compare_cols={"o_totalprice": "double"},
    )
    rows = {r.status: r.n_keys for r in clean.sample_audit().collect()}
    assert set(rows) == {"MATCH"}

    audited = {r.status: r.n_keys for r in orders_pair.sample_audit().collect()}
    assert set(audited) <= {
        "MATCH", "MISMATCH", "MISSING_IN_SOURCE", "MISSING_IN_TARGET"
    }
    assert audited["MATCH"] > sum(v for k, v in audited.items() if k != "MATCH")


# 27 and 59 are keys whose md5 hex starts with '0', so sample_audit("0")
# samples every row below.
@pytest.mark.parametrize(
    "src_rows, tgt_rows, keys, want",
    [
        # composite-key self-pair: the join must use every key column, or
        # each (k1) group cross-matches its rows
        (
            [(27, 1, "a"), (27, 2, "b"), (59, 1, "c"), (59, 2, "d")],
            None,
            ["k1", "k2"],
            {"MATCH": 4},
        ),
        # one exact duplicate target row counts once
        (
            [(27, 1, "a"), (59, 1, "b")],
            [(27, 1, "a"), (27, 1, "a"), (59, 1, "b")],
            ["k1"],
            {"MATCH": 2},
        ),
    ],
    ids=["composite_key", "duplicate_target_row"],
)
def test_sample_audit_joins_every_key_and_dedups(spark, src_rows, tgt_rows, keys, want):
    schema = "k1 long, k2 long, v string"
    src = spark.createDataFrame(src_rows, schema)
    tgt = src if tgt_rows is None else spark.createDataFrame(tgt_rows, schema)
    pair = ReconPair(src, tgt, keys, {"v": "string"})
    assert {r.status: r.n_keys for r in pair.sample_audit("0").collect()} == want
