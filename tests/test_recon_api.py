"""Generic ReconPair API tests: the self-recon-clean / injected-fault
metamorphic properties, on two different tables, through the public API."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from reconciliation_hive_data_spark.canonical import dround, money_sum
from reconciliation_hive_data_spark.catalog import load
from reconciliation_hive_data_spark.plans import api
from reconciliation_hive_data_spark.plans.api import ReconPair
from reconciliation_hive_data_spark.plans.recon import orders_target

from .conftest import SF_CORRECT


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
    are no cells to compare, so cell_diff is empty but keeps its schema,
    and fingerprints() reports row_count alone. A NULL key never joins,
    so key_diff reports each side's NULL key on that side, and summary()
    counts 4 missing keys."""
    pair = ReconPair(
        source=spark.createDataFrame([(1,), (2,), (None,)], "k long"),
        target=spark.createDataFrame([(2,), (3,), (None,)], "k long"),
        keys=["k"],
        compare_cols={},
    )
    for check in (pair.row_counts, pair.duplicate_keys, pair.row_hash_diff):
        check().collect()
    assert [tuple(r) for r in pair.fingerprints().collect()] == [
        ("row_count", 3.0, 3.0, 0.0, "MATCH")
    ]
    assert {r.check: r.violations for r in pair.summary().collect()} == {
        "count_diff_grains": 0,
        "keys_missing": 4,
        "duplicate_keys": 0,
        "row_hash_diffs": 0,
        "cell_diffs": 0,
        "fingerprint_diffs": 0,
    }
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


def _fingerprints_reference(pair: ReconPair):
    """``ReconPair.fingerprints()`` in its previous spelling: one aggregate
    per side with a ``countDistinct`` per column, each side unpivoted and
    the two joined on the metric name."""

    def side_agg(df):
        aggs = [F.count("*").cast("double").alias("row_count")]
        for col, kind in pair.compare_cols.items():
            aggs.append(
                F.sum(F.when(F.col(col).isNull(), 1).otherwise(0))
                .cast("double")
                .alias(f"nulls__{col}")
            )
            aggs.append(F.countDistinct(col).cast("double").alias(f"distinct__{col}"))
            if kind in ("int", "double"):
                aggs.append(money_sum(col, f"sum__{col}"))
                aggs.append(F.min(col).cast("double").alias(f"min__{col}"))
                aggs.append(F.max(col).cast("double").alias(f"max__{col}"))
        return df.agg(*aggs)

    s, t = side_agg(pair.source), side_agg(pair.target)
    metrics = s.columns
    stack = ", ".join(f"'{m}', `{m}`" for m in metrics)

    def unpivot(df, val):
        return df.selectExpr(f"stack({len(metrics)}, {stack}) as (metric, {val})")

    j = unpivot(s, "sval").join(unpivot(t, "tval"), "metric")
    return j.select(
        "metric",
        dround("sval", 4).alias("src_val"),
        dround("tval", 4).alias("tgt_val"),
        dround(F.col("sval") - F.col("tval"), 4).alias("diff"),
        F.when(
            F.col("sval").eqNullSafe(F.col("tval"))
            | (F.abs(F.col("sval") - F.col("tval")) < 1e-9),
            "MATCH",
        )
        .otherwise("FP_DIFF")
        .alias("status"),
    )


def _orders_sf001(spark):
    return load(spark, SF_CORRECT, "orders")


def _doubles_pair(spark, src_vals, tgt_vals):
    schema = "k long, d double, s string"
    return ReconPair(
        spark.createDataFrame([(i, v, None) for i, v in enumerate(src_vals)], schema),
        spark.createDataFrame([(i, v, "x") for i, v in enumerate(tgt_vals)], schema),
        ["k"],
        {"d": "double", "s": "string"},
    )


def _mixed_types_pair(spark):
    """Each compare column has a different type on each side."""
    d, ts = dt.date, dt.datetime
    src = spark.createDataFrame(
        [(1, 5, 1.5, d(2020, 1, 1)), (2, None, 0.1, d(2020, 1, 2)),
         (3, 7, -0.0, None), (4, 2**31 - 1, 3.25, d(2020, 1, 2))],
        "k long, i int, f float, t date",
    )
    tgt = spark.createDataFrame(
        [(1, 5, 1.5, ts(2020, 1, 1)), (2, 3, 0.1, ts(2020, 1, 2, 0, 0, 1)),
         (3, 7, 0.0, None), (4, 2**35, 3.25, ts(2020, 1, 2))],
        "k long, i bigint, f double, t timestamp",
    )
    return ReconPair(src, tgt, ["k"], {"i": "int", "f": "double", "t": "ts"})


_FP_PAIRS = {
    "orders_sf001": lambda spark: api.orders_pair(_orders_sf001(spark)),
    "empty_target": lambda spark: api.orders_pair(
        _orders_sf001(spark), _orders_sf001(spark).filter("false")
    ),
    "both_empty": lambda spark: api.orders_pair(
        _orders_sf001(spark).filter("false"), _orders_sf001(spark).filter("false")
    ),
    "all_null_column": lambda spark: _doubles_pair(spark, [None, None], [1.0, None]),
    "signed_zero_and_nan": lambda spark: _doubles_pair(
        spark, [-0.0, 0.0, float("nan"), 2.5], [0.0, float("nan"), float("nan"), -0.0]
    ),
    "mixed_types": _mixed_types_pair,
}


@pytest.mark.parametrize("case", list(_FP_PAIRS))
def test_fingerprints_match_count_distinct_reference(spark, case):
    """The single-pipeline fingerprints equal the previous countDistinct
    spelling row for row, with the same schema, on empty sides, all-NULL
    columns, signed zeros and NaN, and sides of different types."""
    pair = _FP_PAIRS[case](spark)
    got, want = pair.fingerprints(), _fingerprints_reference(pair)
    assert got.schema == want.schema

    def rows(df):
        return sorted(df.collect(), key=lambda r: [(v is None, str(v)) for v in r])

    assert rows(got) == rows(want)


def test_summary_repeats_without_codegen_or_expand(spark, sf_dir, tmp_path):
    """Two reads of the same files plan the same generated code: once the
    first summary() has run, the second compiles no class, and it runs at
    most 9 jobs. fingerprints() plans no distinct-aggregate Expand, whose
    column order varied from one read to the next."""
    orders = load(spark, sf_dir, "orders")
    orders.write.parquet(str(tmp_path / "src"))
    orders_target(orders).write.parquet(str(tmp_path / "tgt"))

    def read_pair():
        return api.orders_pair(
            spark.read.parquet(str(tmp_path / "src")),
            spark.read.parquet(str(tmp_path / "tgt")),
        )

    first = {r.check: r.violations for r in read_pair().summary().collect()}
    sc = spark.sparkContext
    compiles = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
    pair = read_pair()
    before = compiles.METRIC_COMPILATION_TIME().getCount()
    group = "test_summary_repeats_without_codegen_or_expand"
    sc.setJobGroup(group, group)
    try:
        second = {r.check: r.violations for r in pair.summary().collect()}
    finally:
        sc._jsc.clearJobGroup()
    assert compiles.METRIC_COMPILATION_TIME().getCount() - before == 0
    assert second == first
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 9, jobs
    plan = pair.fingerprints()._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
