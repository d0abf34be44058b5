"""``compare_sides`` is the one two-sided grain compare. Each check that
runs on it is pinned here against its two-aggregates-plus-join spelling,
kept as a test-local reference, on the edges the fixtures do not hold:
NULL keys and grains on both sides, grains on one side only, empty
sides, and a keys-only pair. Results are compared as row multisets and
schemas with nullability. Every recon check also runs on empty copies
of the standard pair."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from reconciliation_hive_data_spark import registry
from reconciliation_hive_data_spark.canonical import dround, money_sum
from reconciliation_hive_data_spark.catalog import load
from reconciliation_hive_data_spark.plans import api
from reconciliation_hive_data_spark.plans.api import ReconPair
from reconciliation_hive_data_spark.plans.recon import _NULLPROF_COLS, orders_target
from reconciliation_hive_data_spark.plans.recon_scale import (
    bucket_hash_report,
    psi_frame,
    remediation_apply_report,
    remediation_plan,
)

from .test_round10_properties import _write_orders

# ---------------------------------------------------------------------------
# the two-aggregates-plus-join spellings the checks had before
# ---------------------------------------------------------------------------


def _ref_row_counts(pair, grain=None):
    gcols = [grain] if grain else []

    def side(df, name):
        g = df.groupBy(*gcols) if gcols else df.groupBy()
        return g.agg(F.count("*").alias(name))

    s, t = side(pair.source, "src_cnt"), side(pair.target, "tgt_cnt")
    j = s.join(t, gcols, "full_outer") if gcols else s.crossJoin(t)
    src, tgt = F.coalesce("src_cnt", F.lit(0)), F.coalesce("tgt_cnt", F.lit(0))
    return j.select(
        *gcols,
        src.alias("src_cnt"),
        tgt.alias("tgt_cnt"),
        (src - tgt).alias("diff"),
        F.when(src == tgt, "MATCH").otherwise("COUNT_DIFF").alias("status"),
    )


def _ref_key_diff(pair):
    key = list(pair.keys)
    s = pair.source.select(*key).distinct().withColumn("_s", F.lit(1))
    t = pair.target.select(*key).distinct().withColumn("_t", F.lit(1))
    return (
        s.join(t, key, "full_outer")
        .filter(F.col("_s").isNull() | F.col("_t").isNull())
        .select(
            *key,
            F.when(F.col("_t").isNull(), "MISSING_IN_TARGET")
            .otherwise("MISSING_IN_SOURCE")
            .alias("side"),
        )
    )


def _ref_psi(src, tgt, value_col, width, top_bucket):
    bucket = F.least(F.floor(F.col(value_col) / width), F.lit(top_bucket)).cast("int")
    src_b = src.select(bucket.alias("bucket")).groupBy("bucket").count()
    tgt_b = tgt.select(bucket.alias("bucket")).groupBy("bucket").count()
    j = (
        src_b.alias("s")
        .join(tgt_b.alias("t"), F.col("s.bucket") == F.col("t.bucket"), "full_outer")
        .select(
            F.coalesce("s.bucket", "t.bucket").alias("bucket"),
            F.coalesce("s.count", F.lit(0)).alias("n_src"),
            F.coalesce("t.count", F.lit(0)).alias("n_tgt"),
        )
    )
    everything = Window.partitionBy()
    n = top_bucket + 1
    p_src = (F.col("n_src") + 1) / (F.sum("n_src").over(everything) + n)
    p_tgt = (F.col("n_tgt") + 1) / (F.sum("n_tgt").over(everything) + n)
    return j.select(
        "bucket",
        "n_src",
        "n_tgt",
        F.round(p_src, 6).alias("p_src"),
        F.round(p_tgt, 6).alias("p_tgt"),
        F.round((p_src - p_tgt) * F.log(p_src / p_tgt), 6).alias("psi"),
    )


def _ref_partition_drill(orders):
    def side(df, cnt, sm):
        return df.groupBy(
            F.date_trunc("month", F.col("o_orderdate")).alias("pmonth")
        ).agg(F.count("*").alias(cnt), money_sum("o_totalprice", sm))

    j = side(orders, "src_cnt", "src_sum").join(
        side(orders_target(orders), "tgt_cnt", "tgt_sum"), "pmonth", "full_outer"
    )
    scnt, tcnt = F.coalesce("src_cnt", F.lit(0)), F.coalesce("tgt_cnt", F.lit(0))
    ssum = F.coalesce("src_sum", F.lit(0.0))
    tsum = F.coalesce("tgt_sum", F.lit(0.0))
    return j.select(
        F.date_format("pmonth", "yyyy-MM").alias("pmonth"),
        scnt.alias("src_cnt"),
        tcnt.alias("tgt_cnt"),
        dround(ssum, 2).alias("src_sum"),
        dround(tsum, 2).alias("tgt_sum"),
        F.when((scnt == tcnt) & (F.abs(ssum - tsum) < 0.005), "MATCH")
        .otherwise("PARTITION_DIFF")
        .alias("status"),
    )


def _ref_null_profile(orders):
    key = F.col("o_orderkey")
    tgt = (
        orders.withColumn(
            "o_orderstatus",
            F.when(key % 97 == 0, F.lit(None).cast("string")).otherwise(
                F.col("o_orderstatus")
            ),
        )
        .withColumn(
            "o_totalprice",
            F.when(key % 101 == 0, F.lit(float("nan"))).otherwise(F.col("o_totalprice")),
        )
        .withColumn(
            "o_orderpriority",
            F.when(key % 89 == 0, F.lit("")).otherwise(F.col("o_orderpriority")),
        )
    )

    def profile(df):
        aggs, fields = [], []
        for c, klass in _NULLPROF_COLS:
            col = F.col(c)
            zero = F.lit(0).cast("bigint")
            aggs += [
                F.sum(F.when(col.isNull(), 1).otherwise(0)).cast("bigint").alias(f"null_{c}"),
                (
                    F.sum(F.when(col == "", 1).otherwise(0)).cast("bigint")
                    if klass == "string"
                    else zero
                ).alias(f"blank_{c}"),
                (
                    F.sum(F.when(F.isnan(col), 1).otherwise(0)).cast("bigint")
                    if klass == "double"
                    else zero
                ).alias(f"nan_{c}"),
            ]
            fields.append(
                F.struct(
                    F.lit(c).alias("col_name"),
                    F.col(f"null_{c}").alias("n_null"),
                    F.col(f"blank_{c}").alias("n_blank"),
                    F.col(f"nan_{c}").alias("n_nan"),
                )
            )
        return df.agg(*aggs).select(F.inline(F.array(*fields)))

    s, t = profile(orders).alias("s"), profile(tgt).alias("t")
    same = (
        (F.col("s.n_null") == F.col("t.n_null"))
        & (F.col("s.n_blank") == F.col("t.n_blank"))
        & (F.col("s.n_nan") == F.col("t.n_nan"))
    )
    return s.join(t, F.col("s.col_name") == F.col("t.col_name")).select(
        F.col("s.col_name").alias("col_name"),
        *[
            F.col(f"{a}.n_{k}").alias(f"{side}_{k}")
            for k in ("null", "blank", "nan")
            for a, side in (("s", "src"), ("t", "tgt"))
        ],
        F.when(same, "MATCH").otherwise("DRIFT").alias("status"),
    )


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _rows(df):
    return sorted(
        map(tuple, df.collect()),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )


def _assert_same(got, want, schema=True):
    if schema:
        assert got.schema == want.schema
    assert _rows(got) == _rows(want)


def _pair_frame(spark, rows):
    return spark.createDataFrame(rows, "k bigint, g string, v double")


#: name → (source rows, target rows) of (k, g, v)
_PAIRS = {
    "null_keys_and_grains_both_sides": (
        [(1, "a", 1.0), (2, "a", 2.0), (None, None, 3.0), (None, "b", 4.0), (5, None, 5.0)],
        [(1, "a", 1.0), (3, "b", 7.0), (None, None, 3.0), (None, None, 9.0), (6, "c", 250.0)],
    ),
    "one_sided_grains": (
        [(1, "a", 10.0), (2, "a", 20.0), (3, "s_only", 30.0)],
        [(1, "a", 10.0), (4, "t_only", 990.0), (4, "t_only", 990.0)],
    ),
    "empty_source": ([], [(1, "a", 1.0), (None, None, None), (2, "b", 120.0)]),
    "empty_target": ([(1, "a", 1.0), (None, None, None), (2, "b", 120.0)], []),
    "both_empty": ([], []),
}


def _pair(spark, case, compare_cols=None):
    src, tgt = _PAIRS[case]
    return ReconPair(
        source=_pair_frame(spark, src),
        target=_pair_frame(spark, tgt),
        keys=["k"],
        compare_cols={"g": "string", "v": "double"} if compare_cols is None else compare_cols,
    )


# ---------------------------------------------------------------------------
# each moved check equals its old spelling
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("case", sorted(_PAIRS))
def test_row_counts_and_key_diff_match_join_spelling(spark, case):
    for pair in (_pair(spark, case), _pair(spark, case, compare_cols={})):
        _assert_same(pair.row_counts("g"), _ref_row_counts(pair, "g"))
        _assert_same(pair.row_counts(), _ref_row_counts(pair))
        _assert_same(pair.key_diff(), _ref_key_diff(pair))


def test_null_grain_and_key_stay_one_row_per_side(spark):
    pair = _pair(spark, "null_keys_and_grains_both_sides")
    nulls = [r for r in pair.row_counts("g").collect() if r.g is None]
    assert sorted((r.src_cnt, r.tgt_cnt) for r in nulls) == [(0, 2), (2, 0)]
    missing = [r.side for r in pair.key_diff().collect() if r.k is None]
    assert sorted(missing) == ["MISSING_IN_SOURCE", "MISSING_IN_TARGET"]


@pytest.mark.parametrize("case", sorted(_PAIRS))
def test_psi_frame_matches_join_spelling(spark, case):
    pair = _pair(spark, case)
    got = psi_frame(pair.source, pair.target, "v", 100.0, 9)
    want = _ref_psi(pair.source, pair.target, "v", 100.0, 9)
    # least(…, top) is never NULL, so the bucket is no longer nullable
    assert not got.schema["bucket"].nullable
    assert got.schema.fieldNames() == want.schema.fieldNames()
    for f in got.schema.fields[1:]:
        assert f == want.schema[f.name]
    _assert_same(got, want, schema=False)


def _orders_rows():
    """(key, cust, status, price, day, prio): a NULL key and NULL dates on
    both sides, a month holding only keys the target drops (%1000 == 7),
    a duplicated key (%1000 == 21), and keys hitting each null-profile
    degradation (%97, %101, %89)."""
    return [
        (1, 1, "O", 10.0, 0, "1-URGENT"),
        (21, 2, "F", 20.5, 1, "2-HIGH"),
        (97, 3, None, 30.25, 2, ""),
        (101, 4, "O", 40.0, 3, None),
        (89, 5, "P", 50.0, 4, "3-MEDIUM"),
        (7, 6, "O", 60.0, 400, "1-URGENT"),
        (1007, 7, "F", 70.0, 401, "5-LOW"),
        (13, 8, "O", 80.0, None, "4-NOT SPECIFIED"),
        (None, 9, "F", 90.0, None, "1-URGENT"),
        (None, 10, "O", 95.0, 5, None),
    ]


@pytest.mark.parametrize(
    "case",
    ["nulls_and_one_sided_months", "only_dropped_keys", "empty"],
)
def test_partition_drill_and_null_profile_match_join_spelling(spark, tmp_path, case):
    rows = {
        "nulls_and_one_sided_months": _orders_rows(),
        "only_dropped_keys": [r for r in _orders_rows() if r[0] in (7, 1007)],
        "empty": [],
    }[case]
    d = str(tmp_path)
    _write_orders(spark, d, rows)
    registry.load_all_modules()
    orders = load(spark, d, "orders")
    drill = registry.get("recon_partition_drill").fn(spark, d)
    _assert_same(drill, _ref_partition_drill(orders))
    prof = registry.get("recon_null_profile").fn(spark, d)
    _assert_same(prof, _ref_null_profile(orders))


# ---------------------------------------------------------------------------
# plan shape: one shuffle, no join
# ---------------------------------------------------------------------------


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_moved_checks_plan_one_exchange_and_no_join(spark, sf_dir):
    pair = api.orders_pair(load(spark, sf_dir, "orders"))
    registry.load_all_modules()
    drill = registry.get("recon_partition_drill").fn(spark, sf_dir)
    for name, df in (
        ("key_diff", pair.key_diff()),
        ("row_counts", pair.row_counts("o_orderstatus")),
        ("recon_partition_drill", drill),
    ):
        plan = _plan(df)
        assert len(re.findall(r"\bExchange ", plan)) == 1, (name, plan)
        assert "Join" not in plan, (name, plan)


# ---------------------------------------------------------------------------
# empty sides of the standard pair
# ---------------------------------------------------------------------------


def _checks(pair):
    """Every ReconPair check plus the Merkle reports, collected."""
    src, tgt = pair.source, pair.target
    return {
        "summary": {r.check: r.violations for r in pair.summary().collect()},
        "row_counts": pair.row_counts("o_orderstatus").collect(),
        "row_counts_global": pair.row_counts().collect(),
        "key_diff": pair.key_diff().collect(),
        "duplicate_keys": pair.duplicate_keys().collect(),
        "row_hash_diff": pair.row_hash_diff().collect(),
        "cell_diff": pair.cell_diff().collect(),
        "fingerprints": pair.fingerprints().collect(),
        "drift": pair.drift("o_totalprice", 50000.0).collect(),
        "sample_audit": pair.sample_audit("0").collect(),
        "bucket_hash_report": bucket_hash_report(src, tgt).collect(),
        "remediation_plan": remediation_plan(src, tgt).collect(),
        "remediation_apply_report": remediation_apply_report(src, tgt).collect(),
    }


@pytest.mark.parametrize("empty", ["source", "target"])
def test_one_empty_side_reports_every_key_missing(spark, sf_dir, empty):
    orders = load(spark, sf_dir, "orders")
    none = orders.filter(F.lit(False))
    src, tgt = (none, orders_target(orders)) if empty == "source" else (orders, none)
    full = tgt if empty == "source" else src
    n_keys = full.select("o_orderkey").distinct().count()
    n_rows = full.count()
    got = _checks(api.orders_pair(src, tgt))

    assert got["summary"]["keys_missing"] == n_keys
    assert got["summary"]["count_diff_grains"] == 1
    assert got["summary"]["row_hash_diffs"] == got["summary"]["cell_diffs"] == 0
    assert len(got["key_diff"]) == n_keys
    want_side = "MISSING_IN_SOURCE" if empty == "source" else "MISSING_IN_TARGET"
    assert {r.side for r in got["key_diff"]} == {want_side}
    [total] = got["row_counts_global"]
    assert (total.src_cnt + total.tgt_cnt, total.status) == (n_rows, "COUNT_DIFF")
    assert all(r.status == "COUNT_DIFF" for r in got["row_counts"])
    assert got["row_hash_diff"] == got["cell_diff"] == []
    assert sum(r.n_bad_keys for r in got["bucket_hash_report"]) == n_keys
    action = "delete" if empty == "source" else "insert"
    assert {r.action for r in got["remediation_plan"]} == {action}
    assert len(got["remediation_plan"]) == n_keys
    [applied] = got["remediation_apply_report"]
    assert (applied.action, applied.n_keys, applied.n_residual_keys) == (action, n_keys, 0)


def test_both_empty_sides_match_everywhere(spark, sf_dir):
    none = load(spark, sf_dir, "orders").filter(F.lit(False))
    got = _checks(api.orders_pair(none))

    assert set(got["summary"].values()) == {0}
    assert [tuple(r) for r in got["row_counts_global"]] == [(0, 0, 0, "MATCH")]
    assert all(r.status == "MATCH" for r in got["fingerprints"])
    for check in (
        "row_counts",
        "key_diff",
        "duplicate_keys",
        "row_hash_diff",
        "cell_diff",
        "drift",
        "sample_audit",
        "bucket_hash_report",
        "remediation_plan",
        "remediation_apply_report",
    ):
        assert got[check] == [], check
