"""Round-19 optimization-round pins: the plan rewrites must not change any
result multiset (parity covers the registered fixtures; these pin the
internals the rewrites touched directly, including NULL-key edge rows the
fixtures don't contain)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from reconciliation_hive_data_spark.canonical import canonical_row_hash
from reconciliation_hive_data_spark.catalog import load
from reconciliation_hive_data_spark.plans.recon import _ORDER_HASH_COLS, orders_target
from reconciliation_hive_data_spark.plans.recon_scale import (
    _BH_BUCKETS,
    _bh_bad,
    _bh_bucket_digests,
    _bh_key_diff,
    _bh_source_words,
    _bh_words,
    bucket_hash_report,
)

_ORDERS_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def _frame(spark, rows):
    return spark.createDataFrame(
        [tuple(r) for r in rows],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )


def _row(k, price=10.0):
    return (
        k,
        (k or 0) % 97,
        "O",
        price,
        datetime.datetime(2024, 1, 1, 0, 0, 0),
        "1-URGENT",
    )


# ---------------------------------------------------------------------------
# Merkle recon: the union-tagged compare against per-side aggregates joined
# full-outer, spelled out here without the module's helpers.
# ---------------------------------------------------------------------------


def _ref_words(df):
    """(bucket, k, w1, w2): md5(key) bucket and the canonical row hash's
    first two 32-bit words."""
    h = canonical_row_hash(_ORDER_HASH_COLS)
    md5_key = F.md5(F.col("o_orderkey").cast("string"))
    return df.select(
        F.pmod(
            F.conv(F.substring(md5_key, 1, 4), 16, 10).cast("bigint"),
            F.lit(_BH_BUCKETS),
        ).alias("bucket"),
        F.col("o_orderkey").alias("k"),
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint").alias("w1"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint").alias("w2"),
    )


def _ref_side(words, grain, tag):
    """One side's count and decimal mod-2^32 word sums per grain."""
    return words.groupBy(*grain).agg(
        F.count("*").alias(f"{tag}_cnt"),
        *(
            (F.sum(F.col(w).cast("decimal(38,0)")) % F.lit(4294967296))
            .cast("bigint")
            .alias(f"{tag}_d{i}")
            for i, w in ((1, "w1"), (2, "w2"))
        ),
    )


def _digest_join_spelling(src, tgt):
    """Per-side bucket digests joined full-outer: the independent
    expectation for the union-tagged digest."""
    return _ref_side(_ref_words(src), ["bucket"], "src").join(
        _ref_side(_ref_words(tgt), ["bucket"], "tgt"), "bucket", "full_outer"
    )


def _digests(src, tgt):
    return _bh_bucket_digests(_bh_words(src), _bh_words(tgt)).drop("_agree")


def _sorted_rows(df):
    return sorted(
        map(tuple, df.collect()),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )


def test_digest_both_matches_join_spelling_on_fixture(spark, sf_dir):
    src = load(spark, sf_dir, "orders")
    tgt = orders_target(src)
    got = _sorted_rows(_digests(src, tgt))
    want = _sorted_rows(_digest_join_spelling(src, tgt))
    assert got == want and len(got) > 0


def test_digest_both_matches_join_spelling_with_null_keys(spark):
    # NULL keys produce a NULL md5 bucket; the full-outer join never
    # matches NULL = NULL, so each side's NULL-bucket digest must stay its
    # own row — the union-tagged aggregate reproduces that via _nullside.
    src = _frame(spark, [_row(1), _row(2), _row(None), _row(None, 99.0)])
    tgt = _frame(spark, [_row(1), _row(3), _row(None, 42.0)])
    got = _sorted_rows(_digests(src, tgt))
    want = _sorted_rows(_digest_join_spelling(src, tgt))
    assert got == want
    # two distinct NULL-bucket rows, one per side
    nulls = [r for r in got if r[0] is None]
    assert len(nulls) == 2
    assert sorted((r[1] is None, r[4] is None) for r in nulls) == [
        (False, True),
        (True, False),
    ]


def test_source_digest_rows_reverify_like_source_rows(spark):
    """The re-verify digests the source's bucket digest rows (n = count,
    words = digests) against target words; that must equal digesting the
    source rows themselves, NULL-bucket rows and multi-row buckets
    included."""
    src = _frame(
        spark,
        [_row(1), _row(2), _row(2, 21.0), _row(2, 22.0), _row(3)]
        + [_row(None), _row(None, 99.0)],
    )
    tgt = _frame(spark, [_row(1), _row(2), _row(4), _row(None, 42.0)])
    src_rows = _bh_source_words(
        _bh_bucket_digests(_bh_words(src), _bh_words(tgt))
    )
    got = _sorted_rows(
        _bh_bucket_digests(src_rows, _bh_words(tgt)).drop("_agree")
    )
    want = _sorted_rows(_digest_join_spelling(src, tgt))
    assert got == want
    # the duplicated key's bucket carries three source rows in one word row
    assert max(r[1] or 0 for r in got) == 3
    assert len([r for r in got if r[0] is None]) == 2


def test_bad_both_is_materialized_and_bucket_bounded(spark, sf_dir):
    """_bh_bad returns a checkpointed (scan-free) frame so consumers fan
    out against materialized rows, never a re-inlined digest subtree."""
    src = load(spark, sf_dir, "orders")
    tgt = orders_target(src)
    bad = _bh_bad(src, tgt)
    plan = bad._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan and "parquet" not in plan
    assert bad.count() <= _BH_BUCKETS + 2  # + one NULL-bucket row per side


def test_key_diff_matches_two_aggregate_spelling(spark, sf_dir):
    """The union-tagged (bucket, k) drill equals per-side aggregates over
    the bad buckets joined full-outer, row for row."""
    src = load(spark, sf_dir, "orders")
    tgt = orders_target(src)
    bad = _bh_bad(src, tgt)

    def keyed(side, tag):
        words = _ref_words(side).join(F.broadcast(bad.select("bucket")), "bucket")
        return _ref_side(words, ["bucket", "k"], tag)

    want_df = (
        keyed(src, "src")
        .join(keyed(tgt, "tgt"), ["bucket", "k"], "full_outer")
        .filter(
            ~(
                F.col("src_cnt").eqNullSafe(F.col("tgt_cnt"))
                & F.col("src_d1").eqNullSafe(F.col("tgt_d1"))
                & F.col("src_d2").eqNullSafe(F.col("tgt_d2"))
            )
        )
    )
    got = _sorted_rows(_bh_key_diff(src, tgt, bad).drop("_agree"))
    want = _sorted_rows(want_df)
    assert got == want and len(got) > 0


def test_same_digest_filter_on_clean_pair_is_empty(spark):
    src = _frame(spark, [_row(1), _row(2), _row(3)])
    assert _bh_bad(src, src).count() == 0


def test_bucket_hash_report_repeats_without_codegen(spark, sf_dir, tmp_path):
    """Two reads of the same files plan the same generated code: once the
    first report has run, the second compiles no class, runs at most 8
    jobs and returns the same rows."""
    orders = load(spark, sf_dir, "orders")
    orders.write.parquet(str(tmp_path / "src"))
    orders_target(orders).write.parquet(str(tmp_path / "tgt"))

    def read_report():
        return bucket_hash_report(
            spark.read.parquet(str(tmp_path / "src")),
            spark.read.parquet(str(tmp_path / "tgt")),
        )

    first = _sorted_rows(read_report())
    sc = spark.sparkContext
    compiles = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
    src = spark.read.parquet(str(tmp_path / "src"))
    tgt = spark.read.parquet(str(tmp_path / "tgt"))
    before = compiles.METRIC_COMPILATION_TIME().getCount()
    group = "test_bucket_hash_report_repeats_without_codegen"
    sc.setJobGroup(group, group)
    try:
        second = _sorted_rows(bucket_hash_report(src, tgt))
    finally:
        sc._jsc.clearJobGroup()
    assert compiles.METRIC_COMPILATION_TIME().getCount() - before == 0
    assert second == first and len(first) > 0
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 8, jobs


# ---------------------------------------------------------------------------
# ReconPair.summary() fusion: every check's count must equal the standalone
# (unfused) method's row count — the pre-r19 summary spelling.
# ---------------------------------------------------------------------------


def _unfused_summary_counts(pair):
    return {
        "count_diff_grains": pair.row_counts(None)
        .filter("status != 'MATCH'")
        .count(),
        "keys_missing": pair.key_diff().count(),
        "duplicate_keys": pair.duplicate_keys().count(),
        "row_hash_diffs": pair.row_hash_diff().count(),
        "cell_diffs": pair.cell_diff().count(),
        "fingerprint_diffs": pair.fingerprints()
        .filter("status != 'MATCH'")
        .count(),
    }


def _fused_summary_counts(pair):
    rows = pair.summary().collect()
    assert sorted(r.check for r in rows) == sorted(_SUMMARY_CHECKS)
    for r in rows:
        assert r.status == ("MATCH" if r.violations == 0 else "DIFF")
    return {r.check: r.violations for r in rows}


_SUMMARY_CHECKS = [
    "count_diff_grains",
    "keys_missing",
    "duplicate_keys",
    "row_hash_diffs",
    "cell_diffs",
    "fingerprint_diffs",
]

_ORDERS_COMPARE = {
    "o_custkey": "int",
    "o_orderstatus": "string",
    "o_totalprice": "double",
    "o_orderdate": "ts",
    "o_orderpriority": "string",
}


def _pair(spark, src_rows, tgt_rows, tolerance=0.5):
    from reconciliation_hive_data_spark.plans.api import ReconPair

    return ReconPair(
        source=_frame(spark, src_rows),
        target=_frame(spark, tgt_rows),
        keys=["o_orderkey"],
        compare_cols=dict(_ORDERS_COMPARE),
        tolerance=tolerance,
    )


def test_summary_fused_matches_unfused_on_fixture(spark, sf_dir):
    from reconciliation_hive_data_spark.plans.api import ReconPair

    orders = load(spark, sf_dir, "orders")
    mk = lambda: ReconPair(  # noqa: E731 - fresh pair per pass (summary persists)
        source=orders,
        target=orders_target(orders, faulty=True),
        keys=["o_orderkey"],
        compare_cols=dict(_ORDERS_COMPARE),
        tolerance=0.5,
    )
    assert _fused_summary_counts(mk()) == _unfused_summary_counts(mk())


def test_summary_fused_matches_unfused_on_hostile_pair(spark):
    # NULL keys on both sides (never equi-join: each side's NULL-key rows
    # count as missing AND as a duplicate-key group), duplicate target keys
    # with divergent payloads (distinct-hash fanout + deterministic
    # survivor), duplicate SOURCE keys, tolerance-straddling money drift,
    # and a null-vs-value cell diff.
    src = [
        _row(1, 10.0),
        _row(2, 20.0),
        _row(2, 21.0),          # dup source key, divergent payload
        _row(3, 30.0),
        _row(None, 1.0),
        _row(None, 2.0),        # two NULL-key source rows
        _row(7, 70.0),
    ]
    t3 = list(_row(3, 30.2));  t3[5] = None  # within tolerance + nulled col
    tgt = [
        _row(1, 10.0),
        _row(2, 20.6),          # outside tolerance 0.5
        _row(2, 20.0),
        _row(2, 19.0),          # triple target key, three payloads
        tuple(t3),
        _row(None, 1.0),        # one NULL-key target row
        _row(9, 90.0),          # target-only key
        _row(9, 90.0),          # + its copy: row counts now differ (7 vs 8)
    ]
    got = _fused_summary_counts(_pair(spark, src, tgt))
    want = _unfused_summary_counts(_pair(spark, src, tgt))
    assert got == want
    # sanity: the hostile pair actually exercises every check
    assert all(want[c] > 0 for c in _SUMMARY_CHECKS)


def test_summary_fused_empty_sides_all_match(spark):
    got = _fused_summary_counts(_pair(spark, [], []))
    assert got == {c: 0 for c in _SUMMARY_CHECKS}


# ---------------------------------------------------------------------------
# sketch_kmv single-pass rewrite: bit-identical to the TakeOrdered spelling
# ---------------------------------------------------------------------------


def test_sketch_kmv_matches_takeordered_spelling(spark, sf_dir):
    from reconciliation_hive_data_spark.plans.sketches import (
        _KMV_DOMAIN,
        _KMV_K,
        sketch_kmv,
    )

    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey").isNotNull())
    h = F.conv(
        F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 12), 16, 10
    )
    sides = {
        s: o.filter(F.col("o_orderstatus") == s)
        .select(h.cast("bigint").alias("h"))
        .distinct()
        for s in ("O", "F")
    }
    union = sides["O"].union(sides["F"]).distinct()

    def kmv(df, tag):
        return (
            df.orderBy("h")
            .limit(_KMV_K)
            .agg(F.max("h").alias(f"tau_{tag}"), F.count("*").alias(f"c_{tag}"))
        )

    def est(tag):
        return F.try_divide(
            (F.col(f"c_{tag}").cast("double") - 1.0) * float(_KMV_DOMAIN),
            F.col(f"tau_{tag}").cast("double"),
        )

    exact = o.agg(
        F.countDistinct(
            F.when(F.col("o_orderstatus") == "O", F.col("o_custkey"))
        ).alias("exact_a"),
        F.countDistinct(
            F.when(F.col("o_orderstatus") == "F", F.col("o_custkey"))
        ).alias("exact_b"),
    )
    exact_inter = (
        sides["O"].intersect(sides["F"]).agg(F.count("*").alias("exact_inter"))
    )
    want_df = (
        kmv(sides["O"], "a")
        .crossJoin(F.broadcast(kmv(sides["F"], "b")))
        .crossJoin(F.broadcast(kmv(union, "u")))
        .crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(exact_inter))
        .select(
            F.lit(_KMV_K).cast("bigint").alias("k"),
            est("a").alias("est_a"),
            est("b").alias("est_b"),
            est("u").alias("est_union"),
            (est("a") + est("b") - est("u")).alias("est_inter"),
            "exact_a",
            "exact_b",
            "exact_inter",
        )
    )
    got = [tuple(r) for r in sketch_kmv(spark, sf_dir).collect()]
    want = [tuple(r) for r in want_df.collect()]
    assert got == want  # bit-identical incl. the est_* doubles


# ---------------------------------------------------------------------------
# agg_approx tolerance floor (VERDICT r18 item 9): the sketch width must not
# silently loosen further — rsd stays <= 0.02 and the emitted assertion
# bound stays +/-10%.
# ---------------------------------------------------------------------------


def test_agg_approx_tolerance_floor(spark, sf_dir):
    import inspect

    from reconciliation_hive_data_spark.operators import aggregates

    src = inspect.getsource(aggregates.agg_approx)
    assert 'approx_count_distinct("user_id", 0.02)' in src
    assert 'approx_count_distinct("event_id", 0.02)' in src
    assert "F.lit(0.10)" in src
    # and the contract actually holds on the fixture
    row = aggregates.agg_approx(spark, sf_dir).collect()[0]
    assert row.users_within_tol and row.events_within_tol


# ---------------------------------------------------------------------------
# catalog.load relation cache: metadata reuse, stat-invalidated
# ---------------------------------------------------------------------------


def test_load_relation_cache_hits_and_invalidates(spark, sf_dir, tmp_path):
    import shutil

    from reconciliation_hive_data_spark import catalog

    a = catalog.load(spark, sf_dir, "orders")
    assert catalog.load(spark, sf_dir, "orders") is a  # same lazy relation

    tmp = str(tmp_path)
    shutil.copy(f"{sf_dir}/orders.parquet", f"{tmp}/orders.parquet")
    c1 = catalog.load(spark, tmp, "orders")
    assert catalog.load(spark, tmp, "orders") is c1
    n1 = c1.count()
    c1.limit(3).write.mode("overwrite").parquet(f"{tmp}/new.parquet")
    shutil.rmtree(f"{tmp}/orders.parquet", ignore_errors=True)
    import os

    if os.path.exists(f"{tmp}/orders.parquet"):
        os.remove(f"{tmp}/orders.parquet")
    shutil.move(f"{tmp}/new.parquet", f"{tmp}/orders.parquet")
    c2 = catalog.load(spark, tmp, "orders")
    assert c2 is not c1  # stat changed -> re-probed
    assert c2.count() == 3 and n1 > 3
