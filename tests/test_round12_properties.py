"""Round-12 property tests: the parquet footer-layout family.

ADVICE r11 item 4: the r10/r11 footer fixes each covered one flagged shape
(all-null groups, then one stats-less file). This generator owns the whole
family — per-file AND per-column ``write_statistics``, dictionary pages,
multi-row-group files via ``row_group_size``, empty files, all-null
chunks, mixed compression codecs (snappy/zstd/gzip/none — codec vintages
accumulate over a long-lived table's life) — and sweeps
recon_footer_stats plus sink_compact through the real load path on those
layouts.

recon_footer_stats is checked two ways:
- against an independent Python model of the footer contract (what the
  rollup + verdict MUST say given the written layout), on every example;
- against its DuckDB oracle whenever the layout is fully stats-bearing
  (the only case where the oracle's ``consistent=TRUE`` premise holds —
  pyarrow-written statistics are correct, so footer==scan by
  construction).
"""

from __future__ import annotations

import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from .parity import compare as _compare

_COLS = ("l_extendedprice", "l_quantity")


# (orderkey, extprice_cents | None, quantity | None, returnflag)
_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=40),
        st.one_of(st.none(), st.integers(min_value=0, max_value=100_000)),
        st.one_of(st.none(), st.integers(min_value=1, max_value=50)),
        st.sampled_from(["A", "N", "R"]),
    ),
    min_size=0,
    max_size=8,
)

#: one parquet file: rows, write_statistics (bool or per-column subset),
#: use_dictionary, row_group_size (None → single group), codec — a
#: long-lived table accumulates codec vintages as cluster defaults change,
#: so the footer check must read mixed-codec dirs like any other
_FILES = st.lists(
    st.tuples(
        _ROWS,
        st.sampled_from([True, False, ("l_extendedprice",), ("l_quantity",)]),
        st.booleans(),
        st.sampled_from([None, 1, 2, 3]),
        st.sampled_from(["snappy", "zstd", "gzip", "none"]),
    ),
    min_size=1,
    max_size=3,
).filter(lambda fs: sum(len(f[0]) for f in fs) >= 1)


def _col_values(rows, col):
    if col == "l_extendedprice":
        return [None if r[1] is None else r[1] / 100.0 for r in rows]
    return [None if r[2] is None else float(r[2]) for r in rows]


def _write_layout(d: str, files) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    tdir = os.path.join(d, "lineitem.parquet")
    os.makedirs(tdir, exist_ok=True)
    for i, spec in enumerate(files):
        rows, stats, use_dict, rg_size = spec[:4]
        codec = spec[4] if len(spec) > 4 else "snappy"
        tbl = pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in rows], pa.int64()),
                "l_extendedprice": pa.array(
                    _col_values(rows, "l_extendedprice"), pa.float64()
                ),
                "l_discount": pa.array([0.0] * len(rows), pa.float64()),
                "l_tax": pa.array([0.0] * len(rows), pa.float64()),
                "l_quantity": pa.array(
                    _col_values(rows, "l_quantity"), pa.float64()
                ),
                "l_returnflag": pa.array([r[3] for r in rows], pa.string()),
            }
        )
        kw = {
            "write_statistics": stats if isinstance(stats, bool) else list(stats),
            "use_dictionary": use_dict,
            "compression": codec,
        }
        if rg_size is not None:
            kw["row_group_size"] = rg_size
        pq.write_table(tbl, f"{tdir}/part-{i}.parquet", **kw)
    return tdir


def _expected_footer(files, tdir):
    """Independent model of the footer contract.

    Row-group BOUNDARIES come from the written files' metadata (pyarrow
    owns the chunking); everything else — per-group null counts, min/max,
    the unknown flag, the null-skipping rollups, and the null-safe
    verdict — is re-derived from the layout spec in plain Python, so a
    footer mis-read or a rollup/verdict bug in the Spark plan cannot
    self-confirm."""
    import pyarrow.parquet as pq

    groups = {c: [] for c in _COLS}
    all_vals = {c: [] for c in _COLS}
    for i, spec in enumerate(files):
        rows, stats = spec[0], spec[1]
        md = pq.ParquetFile(f"{tdir}/part-{i}.parquet").metadata
        vals = {c: _col_values(rows, c) for c in _COLS}
        off = 0
        for g in range(md.num_row_groups):
            n = md.row_group(g).num_rows
            for c in _COLS:
                has_stats = stats is True or (stats is not False and c in stats)
                chunk = vals[c][off : off + n]
                present = [v for v in chunk if v is not None]
                if n == 0:
                    # a zero-row group is fully known whatever its footer
                    # carries: zero nulls, no min/max, never unknown
                    groups[c].append((0, 0, None, None, False))
                elif has_stats:
                    groups[c].append(
                        (
                            n,
                            n - len(present),
                            min(present) if present else None,
                            max(present) if present else None,
                            False,
                        )
                    )
                else:
                    groups[c].append((n, None, None, None, True))
            off += n
        for c in _COLS:
            all_vals[c].extend(vals[c])

    def eq(a, b):  # eqNullSafe
        return (a is None and b is None) or a == b

    out = {}
    for c in _COLS:
        rows_, nulls_, mins_, maxs_, unk_ = zip(*groups[c])
        known_nulls = [x for x in nulls_ if x is not None]
        mins = [x for x in mins_ if x is not None]
        maxs = [x for x in maxs_ if x is not None]
        footer = {
            "footer_rows": sum(rows_),
            "footer_nulls": sum(known_nulls) if known_nulls else None,
            "footer_min": round(min(mins), 6) if mins else None,
            "footer_max": round(max(maxs), 6) if maxs else None,
            "footer_unknown": any(unk_),
        }
        present = [v for v in all_vals[c] if v is not None]
        scan = {
            "scan_rows": len(all_vals[c]),
            "scan_nulls": len(all_vals[c]) - len(present),
            "scan_min": round(min(present), 6) if present else None,
            "scan_max": round(max(present), 6) if present else None,
        }
        out[c] = {
            **footer,
            **scan,
            "consistent": (
                eq(footer["footer_rows"], scan["scan_rows"])
                and eq(footer["footer_nulls"], scan["scan_nulls"])
                and eq(footer["footer_min"], scan["scan_min"])
                and eq(footer["footer_max"], scan["scan_max"])
                and not footer["footer_unknown"]
            ),
        }
    return out


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(files=_FILES)
def test_footer_stats_owns_the_layout_family(spark, files):
    """recon_footer_stats vs the independent model on random mixed
    layouts; plus DuckDB oracle parity whenever every file is fully
    stats-bearing (the oracle's consistent=TRUE premise)."""
    import shutil
    import tempfile

    from reconciliation_hive_data_spark import registry

    registry.load_all_modules()
    d = tempfile.mkdtemp(prefix="rhds_footer_fam_")
    try:
        tdir = _write_layout(d, files)
        want = _expected_footer(files, tdir)
        got = {
            r.col_name: r
            for r in registry.get("recon_footer_stats").fn(spark, d).collect()
        }
        assert sorted(got) == sorted(want)
        for c, exp in want.items():
            r = got[c]
            for k in (
                "footer_rows",
                "scan_rows",
                "footer_nulls",
                "scan_nulls",
                "footer_min",
                "scan_min",
                "footer_max",
                "scan_max",
                "consistent",
            ):
                assert getattr(r, k) == exp[k], (c, k, exp, r.asDict())
        if all(f[1] is True for f in files):
            spec = registry.get("recon_footer_stats")
            assert not _compare(spec.fn(spark, d), spec.oracle, d, "footer")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_sink_compact_on_hostile_layout(spark, tmp_path):
    """sink_compact (real write + input_file_name read-back) through the
    real load path on a deliberately hostile source layout: a stats-less
    file, a dictionary-paged multi-row-group file, an empty file, and
    null quantities — vs its pure-arithmetic DuckDB oracle."""
    d = str(tmp_path)
    files = [
        # 5 rows, stats off, single group
        (
            [(k, 100 * k, None if k % 2 else k + 1, "ANR"[k % 3]) for k in range(5)],
            False,
            False,
            None,
        ),
        # 7 rows, dictionary pages, 2-row groups, zstd
        (
            [(3 * k + 1, None, 7, "A") for k in range(7)],
            True,
            True,
            2,
            "zstd",
        ),
        # empty file (one 0-row row group)
        ([], True, False, None),
    ]
    _write_layout(d, files)
    from reconciliation_hive_data_spark import registry

    registry.load_all_modules()
    spec = registry.get("sink_compact")
    assert not _compare(spec.fn(spark, d), spec.oracle, d, "sink_compact")
    # and the footer check stays sane on the same hostile dir: the
    # stats-less file forces INCONSISTENT on both compared columns
    rows = {
        r.col_name: r
        for r in registry.get("recon_footer_stats").fn(spark, d).collect()
    }
    assert not rows["l_extendedprice"].consistent
    assert not rows["l_quantity"].consistent


def test_footer_stats_per_column_statistics_asymmetry(spark, tmp_path):
    """Per-COLUMN write_statistics (the shape neither r10 nor r11
    covered): one file carries stats only for l_extendedprice, so
    l_quantity must read INCONSISTENT via rg_unknown while
    l_extendedprice stays CONSISTENT — same file, split verdict."""
    d = str(tmp_path)
    _write_layout(
        d,
        [
            ([(1, 10_000, 5, "A"), (2, 30_000, 9, "N")], True, False, None),
            ([(3, 20_000, 7, "R")], ("l_extendedprice",), False, None),
        ],
    )
    from reconciliation_hive_data_spark import registry

    registry.load_all_modules()
    rows = {
        r.col_name: r
        for r in registry.get("recon_footer_stats").fn(spark, d).collect()
    }
    p = rows["l_extendedprice"]
    assert p.consistent and p.footer_min == 100.0 and p.footer_max == 300.0
    q = rows["l_quantity"]
    assert not q.consistent
    # the null-skipping rollups still agree on what they can see — only
    # the explicit unknown flag flips the verdict
    assert q.footer_rows == q.scan_rows == 3
    assert q.footer_nulls == q.scan_nulls == 0


# ---------------------------------------------------------------------------
# s_watermark — the metamorphic checks its docstring promises
# ---------------------------------------------------------------------------


def test_s_watermark_equals_batch_twin_on_closed_windows(spark):
    """Exact batch-twin equality for the rows-only s_watermark on the
    single-file fixture: with one parquet file the availableNow replay is
    one micro-batch, so nothing is dropped mid-stream and append mode
    must emit EXACTLY the hour windows whose end is at or before the
    final watermark (max shifted event time - 10 min), with counts equal
    to the batch aggregation's. This pins the whole result, not just the
    row count the driver's rows-only check sees."""
    from pyspark.sql import functions as F

    from reconciliation_hive_data_spark.catalog import load
    from reconciliation_hive_data_spark.streaming.stream_ops import s_watermark

    sf = "/root/testdata/sf0.001"
    got = sorted((r.win_start, r.n) for r in s_watermark(spark, sf).collect())

    ev = load(spark, sf, "events").withColumn(
        "ts",
        F.when(
            F.col("event_id") % 500 == 0, F.col("ts") - F.expr("INTERVAL 2 HOURS")
        ).otherwise(F.col("ts")),
    )
    wm = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 10 MINUTES")).alias("wm")
    )
    twin = (
        ev.groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
        .crossJoin(F.broadcast(wm))  # 1-row scalar attach
        .where(F.col("window.end") <= F.col("wm"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "n",
        )
    )
    want = sorted((r.win_start, r.n) for r in twin.collect())
    assert got == want and len(got) > 0


def test_watermark_drops_late_rows_across_micro_batches(spark, tmp_path):
    """The late-row drop s_watermark's plan relies on, demonstrated on a
    controlled two-micro-batch stream built exactly like the operator
    (file source -> withWatermark 10 min -> 1 h tumbling window -> append
    to memory). The watermark lags one micro-batch (batch N's max event
    time only takes effect in batch N+1 — verified empirically: a
    straggler arriving ONE batch after the closing event still merges),
    so the 10:40 straggler is delivered TWO batches after the 14:00 event
    that closes its window; it must then be DROPPED from the final
    result, not merged into a reopened window."""
    import os
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    d = str(tmp_path)

    def write(name, mtime, ts_list):
        path = os.path.join(d, name)
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(range(len(ts_list)), pa.int64()),
                    "ts": pa.array(ts_list, pa.timestamp("us")),
                }
            ),
            path,
        )
        os.utime(path, (mtime, mtime))

    day = "2024-03-01"
    t = lambda hm: datetime.fromisoformat(f"{day} {hm}:00")
    # batch 0: two rows in the 10:00 window, then 14:00 -> at batch 0's
    # end the watermark becomes 13:50 > 11:00, closing the 10:00 window
    write("a.parquet", 1_000_000_000, [t("10:00"), t("10:20"), t("14:00")])
    # batch 1: 15:30 advances the watermark (to 15:20, effective batch 2)
    # and closes the 14:00 window with n=1
    write("b.parquet", 1_000_000_100, [t("15:30")])
    # batch 2: the 10:40 straggler — its window end (11:00) is far behind
    # the in-effect watermark (15:20) and its state is long evicted ->
    # dropped, not merged or re-emitted
    write("c.parquet", 1_000_000_200, [t("10:40")])

    agg = (
        spark.readStream.schema("event_id bigint, ts timestamp")
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(d)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "n",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_late_drop")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.win_start, r.n) for r in spark.table("wm_late_drop").collect()
    )
    # 10:00 window holds 2, NOT 3: the straggler was dropped. The 15:00
    # window never closes (watermark 15:20 < 16:00) so it is absent.
    assert got == [(f"{day} 10:00:00", 2), (f"{day} 14:00:00", 1)]


# ---------------------------------------------------------------------------
# TPC-H differential fuzz — boundary-heavy synthetic tables
# ---------------------------------------------------------------------------

from datetime import datetime, timedelta  # noqa: E402


def _oracle_parity(spark, d, names):
    from reconciliation_hive_data_spark import registry

    registry.load_all_modules()
    problems = []
    for name in names:
        spec = registry.get(name)
        problems += _compare(spec.fn(spark, d), spec.oracle, d, name)
    assert not problems, problems


#: order dates straddling Q4's [1996-01-01, 1996-04-01) quarter edges
_ORDER_DATES = [
    datetime(1995, 12, 31, 23, 59, 59),
    datetime(1996, 1, 1),
    datetime(1996, 2, 15, 12, 0, 0),
    datetime(1996, 3, 31, 23, 59, 59),
    datetime(1996, 4, 1),
]
#: ship offsets straddling Q4's strictly-greater +90-day lateness edge
_SHIP_DELTAS = [
    timedelta(days=89),
    timedelta(days=90),
    timedelta(days=90, seconds=1),
    timedelta(days=91),
]
#: absolute ship dates on Q6's year window and Q1's <= 1998-09-02 cut
_SHIP_DATES = [
    datetime(1996, 1, 1),
    datetime(1996, 12, 31, 23, 59, 59),
    datetime(1997, 1, 1),
    datetime(1998, 9, 2),
    datetime(1998, 9, 2, 0, 0, 1),
]

# one lineitem: qty (23/24 on Q6's < 24 edge; None exercises null-skip
# aggregation in both engines), price cents, discount on Q6's BETWEEN
# 0.05..0.07 edges, tax, flags, ship spec ("rel", i) = orderdate + delta
# or ("abs", i) = absolute boundary date
_TPCH_LINE = st.tuples(
    # 23/24 sit on Q6's < 24 edge; 100/125/126 let 2-3-line orders straddle
    # Q18's strictly-greater sum(qty) > 250 HAVING edge (125+125 = 250 out,
    # 125+126 in); None exercises null-skip aggregation in both engines
    st.sampled_from([1.0, 23.0, 24.0, 100.0, 125.0, 126.0, None]),
    st.integers(min_value=1, max_value=100_000),
    st.sampled_from([0.04, 0.05, 0.06, 0.07, 0.08]),
    st.sampled_from([0.0, 0.02, 0.08]),
    st.sampled_from(["A", "N", "R"]),
    st.sampled_from(["O", "F"]),
    st.one_of(
        st.tuples(st.just("rel"), st.integers(0, len(_SHIP_DELTAS) - 1)),
        st.tuples(st.just("abs"), st.integers(0, len(_SHIP_DATES) - 1)),
    ),
)

#: customers: key, nationkey (cntry_class = %5 for Q22), acctbal drawn
#: from a SMALL money pool so exact-average collisions happen (Q22's
#: strictly-greater c_acctbal > avg edge: an all-equal class excludes
#: everyone), mktsegment
_TPCH_CUSTOMERS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=20),
        st.integers(min_value=0, max_value=9),
        st.sampled_from([None, -5.0, 0.0, 0.01, 500.0, 1000.0]),
        st.sampled_from(["BUILDING", "AUTOMOBILE"]),
    ),
    min_size=0,
    max_size=8,
    unique_by=lambda c: c[0],
)

#: orders: key, custkey, priority, orderdate index, and 0-3 lines each
_TPCH_ORDERS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=999),
        st.integers(min_value=1, max_value=20),
        st.sampled_from(["1-URGENT", "2-HIGH", "3-MEDIUM"]),
        st.integers(0, len(_ORDER_DATES) - 1),
        st.lists(_TPCH_LINE, min_size=0, max_size=3),
    ),
    min_size=0,
    max_size=12,
    unique_by=lambda o: o[0],
)


def _write_tpch_tables(spark, d: str, orders, orphans, customers=()):
    """Full-schema customer + orders + lineitem parquet via Spark (INT96
    timestamps — every example also exercises the loader's vintage
    routing). Customer keys only partially overlap order custkeys, so
    zero-order customers (Q13's c_count=0 bucket, Q22's NOT EXISTS) and
    customerless orders both occur."""
    o_rows, l_rows = [], []
    for key, cust, prio, di, lines in orders:
        odate = _ORDER_DATES[di]
        o_rows.append((key, cust, "O", 1000.0, odate, prio))
        for ln, (qty, cents, disc, tax, rf, ls, ship) in enumerate(lines):
            sdate = (
                odate + _SHIP_DELTAS[ship[1]]
                if ship[0] == "rel"
                else _SHIP_DATES[ship[1]]
            )
            l_rows.append(
                (key, 1, 1, ln, qty, cents / 100.0, disc, tax, rf, ls, sdate)
            )
    for i, (qty, cents, disc, tax, rf, ls, ship) in enumerate(orphans):
        sdate = _SHIP_DATES[ship[1] if ship[0] == "abs" else 0]
        l_rows.append(
            (10_000 + i, 1, 1, 0, qty, cents / 100.0, disc, tax, rf, ls, sdate)
        )
    if customers is not None:
        spark.createDataFrame(
            [
                (key, f"Customer#{key}", nat, bal, seg)
                for key, nat, bal, seg in customers
            ],
            "c_custkey bigint, c_name string, c_nationkey int,"
            " c_acctbal double, c_mktsegment string",
        ).coalesce(1).write.mode("overwrite").parquet(d + "/customer.parquet")
    spark.createDataFrame(
        o_rows,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(d + "/orders.parquet")
    spark.createDataFrame(
        l_rows,
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(d + "/lineitem.parquet")


@pytest.mark.soak
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    orders=_TPCH_ORDERS,
    orphans=st.lists(_TPCH_LINE, max_size=3),
    customers=_TPCH_CUSTOMERS,
)
def test_tpch_boundaries_match_oracle_on_fuzzed_tables(
    spark, orders, orphans, customers
):
    """tpch_q1 / q4 / q6 / q13 / q18 / q22 vs their DuckDB oracles on
    synthetic tables that concentrate on every predicate edge: the
    <= / < / BETWEEN date cuts must break identically in both engines,
    the strictly-greater +90-day lateness edge must exclude the
    exact-boundary line, Q18's sum(qty) > 250 HAVING must re-aggregate
    decimal-exactly, Q22's c_acctbal > avg threshold must not drift
    cross-engine even when balances tie the average exactly, null
    qty/discount must flow through filter + decimal aggregation the same
    way, and orderless lineitems / lineless orders / zero-order
    customers land on the correct side of each join."""
    import shutil
    import tempfile

    from reconciliation_hive_data_spark import registry

    registry.load_all_modules()
    d = tempfile.mkdtemp(prefix="rhds_tpch_fuzz_")
    try:
        _write_tpch_tables(spark, d, orders, orphans, customers)
        _oracle_parity(
            spark,
            d,
            ("tpch_q1", "tpch_q4", "tpch_q6", "tpch_q13", "tpch_q18", "tpch_q22"),
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# Window-family tie fuzz — every win_* ordering claims totality; prove it
# on tables where ties are the NORM, not the exception
# ---------------------------------------------------------------------------

_WIN_TS_POOL = [
    datetime(2024, 5, 1, 10, 0, 0),
    datetime(2024, 5, 1, 10, 0, 0),  # doubled: exact-duplicate ts dominate
    datetime(2024, 5, 1, 10, 30, 0),
    datetime(2024, 5, 1, 11, 0, 0),  # exactly 3600 s after base — the
    datetime(2024, 5, 1, 11, 0, 1),  # RANGE 3600 PRECEDING in/out edge
    datetime(2024, 5, 1, 12, 0, 0),
]

_WIN_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),  # user_id: dense partitions
        st.integers(0, len(_WIN_TS_POOL) - 1),
        st.sampled_from(["click", "view", "buy"]),
        st.sampled_from([None, 0.0, 1.25, 99.99]),
    ),
    min_size=0,
    max_size=15,
)

_WIN_ORDERS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=999),
        st.integers(min_value=1, max_value=3),  # custkey: dense partitions
        st.sampled_from(["O", "F", "P"]),
        # tie-heavy prices + NULL (r14 ASC-null-order audit: the engines'
        # bare-ASC NULL defaults are opposite; win_ntile's pinned
        # NULLS LAST and the DESC windows' agreeing nulls-last default
        # must hold under NULL order keys, not just ties)
        st.sampled_from([None, 100.0, 100.0, 250.5, 999.99]),
    ),
    min_size=0,
    max_size=12,
    unique_by=lambda o: o[0],
)


def _write_win_tables(spark, d, events, orders, customers):
    spark.createDataFrame(
        [
            (i, _WIN_TS_POOL[ti], u, et, v, "{}")
            for i, (u, ti, et, v) in enumerate(events)
        ],
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(d + "/events.parquet")
    spark.createDataFrame(
        [
            (k, c, s, p, datetime(1996, 2, 1), "1-URGENT")
            for k, c, s, p in orders
        ],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(d + "/orders.parquet")
    spark.createDataFrame(
        [(k, f"Customer#{k}", n, b, seg) for k, n, b, seg in customers],
        "c_custkey bigint, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string",
    ).coalesce(1).write.mode("overwrite").parquet(d + "/customer.parquet")


@pytest.mark.soak
@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    events=_WIN_EVENTS,
    orders=_WIN_ORDERS,
    customers=_TPCH_CUSTOMERS,
)
def test_window_family_total_ordering_under_ties(spark, events, orders, customers):
    """The whole §2e window family vs oracles on tie-saturated tables:
    duplicate timestamps per user (most events share one of ~5 instants),
    duplicate prices per customer, duplicate balances per segment. Every
    window's documented tie-break (event_id / orderkey / custkey) must
    make row_number, ntile buckets, lag/lead neighbours, first/last,
    running frames, and the RANGE 3600-second in/out edge land
    identically in both engines — a partial ordering would pass on the
    tie-free fixture and diverge here."""
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="rhds_win_fuzz_")
    try:
        _write_win_tables(spark, d, events, orders, customers)
        _oracle_parity(
            spark,
            d,
            (
                "win_rownum",
                "win_rank",
                "win_ntile",
                "win_lag",
                "win_running",
                "win_moving",
                "win_range",
                "win_firstlast",
                "win_sessionize",
            ),
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# Aggregate-family fuzz — null group keys, mode ties, dangling FKs
# ---------------------------------------------------------------------------

# orderkeys up to 200 so agg_nullcount's deterministic %100 null injection
# fires on some examples; rf/ls nullable so CUBE/ROLLUP/GROUPING SETS mix
# data-null group rows with subtotal rows (both engines must emit BOTH)
_AGG_LINES = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=200),
        st.sampled_from([None, 1.0, 23.0, 24.0]),     # qty
        st.integers(min_value=1, max_value=100_000),  # price cents
        st.sampled_from([0.0, 0.05, 0.1]),            # discount
        st.sampled_from([None, "A", "N", "R"]),       # returnflag
        st.sampled_from([None, "O", "F"]),            # linestatus
        st.integers(0, len(_SHIP_DATES) - 1),
    ),
    min_size=0,
    max_size=15,
)

_AGG_ORDERS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=999),
        st.integers(min_value=1, max_value=3),
        st.sampled_from(["O", "F", "P"]),
        st.sampled_from([100.0, 100.0, 999.99]),
        st.integers(0, len(_ORDER_DATES) - 1),  # duplicate dates per cust
        st.sampled_from(["1-URGENT", "2-HIGH"]),
    ),
    min_size=0,
    max_size=12,
    unique_by=lambda o: o[0],
)

_AGG_QUERIES = (
    "agg_count", "agg_having", "agg_firstlast", "agg_bitmap",
    "agg_basic", "agg_distinct", "agg_stats", "agg_nullcount",
    "agg_multikey", "agg_cube", "agg_gsets", "agg_pivot", "agg_corr",
    "agg_approx", "agg_histogram", "agg_mode",
    "agg_rollup", "agg_collect", "agg_groupingid",
)


def _write_agg_tables(spark, d, lines, orders, events, customers):
    spark.createDataFrame(
        [
            (k, 1, 1, i, qty, cents / 100.0, disc, 0.02, rf, ls,
             _SHIP_DATES[si])
            for i, (k, qty, cents, disc, rf, ls, si) in enumerate(lines)
        ],
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(d + "/lineitem.parquet")
    spark.createDataFrame(
        [
            (k, c, st_, p, _ORDER_DATES[di], pr)
            for k, c, st_, p, di, pr in orders
        ],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(d + "/orders.parquet")
    spark.createDataFrame(
        [
            (i, _WIN_TS_POOL[ti], u, et, v, "{}")
            for i, (u, ti, et, v) in enumerate(events)
        ],
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(d + "/events.parquet")
    spark.createDataFrame(
        [(k, f"Customer#{k}", n, b, seg) for k, n, b, seg in customers],
        "c_custkey bigint, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string",
    ).coalesce(1).write.mode("overwrite").parquet(d + "/customer.parquet")
    # fixed dims: nations 0-7 over 3 regions; customer nationkeys 8-9
    # dangle, dropping out of the inner joins identically in both engines
    spark.createDataFrame(
        [(k, f"NATION{k:02d}", k % 3) for k in range(8)],
        "n_nationkey int, n_name string, n_regionkey int",
    ).coalesce(1).write.mode("overwrite").parquet(d + "/nation.parquet")
    spark.createDataFrame(
        [(0, "AFRICA"), (1, "AMERICA"), (2, "ASIA")],
        "r_regionkey int, r_name string",
    ).coalesce(1).write.mode("overwrite").parquet(d + "/region.parquet")


@pytest.mark.soak
@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lines=_AGG_LINES,
    orders=_AGG_ORDERS,
    events=_WIN_EVENTS,
    customers=_TPCH_CUSTOMERS,
)
def test_aggregate_family_matches_oracle_on_hostile_inputs(
    spark, lines, orders, events, customers
):
    """The whole §2d family vs oracles on inputs the fixture never
    produces: NULL group keys flowing through CUBE/ROLLUP/GROUPING SETS
    alongside the subtotal rows they could alias (the coalesce-sentinel
    trap — both engines must emit data-null AND subtotal rows), modal
    ties resolved by the pinned (count DESC, user ASC) rule, duplicate
    order dates per customer resolved by agg_firstlast's composite
    sort key, null-skipping decimal sums/avgs/corr with n=1 and
    zero-variance groups, and customers whose nationkey has no nation
    row (dangling FK drops out of every join identically)."""
    import shutil
    import tempfile

    from reconciliation_hive_data_spark import registry

    registry.load_all_modules()
    d = tempfile.mkdtemp(prefix="rhds_agg_fuzz_")
    try:
        _write_agg_tables(spark, d, lines, orders, events, customers)
        # the grouping-sets family diverges BY DESIGN on an empty input
        # (Spark emits no grand-total row where the SQL standard emits
        # one) — same classification as tools/empty_sweep.py's KNOWN
        # ledger; skip those queries when their effective input is empty
        names = list(_AGG_QUERIES)
        if not lines:
            names = [q for q in names if q not in ("agg_cube", "agg_gsets")]
        if not any(n <= 7 for _, n, _b, _s in customers):
            names = [
                q for q in names if q not in ("agg_rollup", "agg_groupingid")
            ]
        _oracle_parity(spark, d, names)
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# Relational-family fuzz — joins / set ops / filters / sort-limit on
# null-key, duplicate-heavy, boundary-value inputs
# ---------------------------------------------------------------------------

#: part names around the LIKE '%red%' / rlike '^Brand#1[0-9]$' edges:
#: substring-in-the-middle hits (fred, reddish), case misses (Red),
#: near-misses (bored: no 'red' run)
_PART_NAMES = ["burnished red copper", "reddish steel", "fred metal",
               "Red brass", "bored plastic", "green tin"]
_PART_BRANDS = ["Brand#09", "Brand#10", "Brand#19", "Brand#1A", "Brand#20"]

_REL_PARTS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=99),
        st.sampled_from(_PART_NAMES),
        st.sampled_from(_PART_BRANDS),
        st.sampled_from(["STANDARD", "PROMO"]),
        st.integers(min_value=1, max_value=50),
        st.integers(min_value=100, max_value=200_000),  # retailprice cents
    ),
    min_size=0,
    max_size=8,
    unique_by=lambda p: p[0],
)

#: orders with prices straddling join_theta's > 300000.0 cut and heavy
#: per-price ties for the sort/limit tie-breaks
_REL_ORDERS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=200),  # overlaps lineitem keys
        st.integers(min_value=1, max_value=25),   # custkey: dangles vs 1-20
        st.sampled_from(["O", "F", "P"]),
        st.sampled_from([100.0, 100.0, 300000.0, 300000.01, 999999.99]),
        st.integers(0, len(_ORDER_DATES) - 1),
        st.sampled_from(["1-URGENT", "2-HIGH"]),
    ),
    min_size=0,
    max_size=12,
    unique_by=lambda o: o[0],
)

_REL_QUERIES = (
    "join_inner", "join_broadcast", "join_outer", "join_semi", "join_anti",
    "join_theta", "join_multiway", "join_self", "join_asof", "join_range",
    "set_union", "set_except", "set_intersect", "set_dedup", "set_bagops",
    "filter_pred", "filter_in_between", "filter_like", "filter_nullsafe",
    "proj_compute", "sort_multi", "limit_topk", "topk_pergroup",
    # md5-deterministic sketches + the Bloom-pruned join on the same
    # hostile keys, and the calendar-completeness recon over events whose
    # hour gaps produce MISSING/SPARSE rows
    "sketch_bloom", "sketch_cms", "sketch_hll", "sketch_kmv",
    "join_bloomprune", "recon_partition_complete",
    # the scale-plan variants (salted agg/join, metadata re-aggregation,
    # z-order linearization, gap fill) over the same hostile inputs —
    # each must stay row-identical to its unsalted/direct oracle
    "agg_salted", "join_skew_salted", "agg_reaggregate", "x_zorder",
    "x_gapfill",
)


@pytest.mark.soak
@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lines=_AGG_LINES,
    orders=_REL_ORDERS,
    events=_WIN_EVENTS,
    customers=_TPCH_CUSTOMERS,
    parts=_REL_PARTS,
)
def test_relational_family_matches_oracle_on_hostile_inputs(
    spark, lines, orders, events, customers, parts
):
    """Joins / set ops / filters / sort-limit vs oracles on inputs built
    to break sloppy relational semantics: duplicate join keys on both
    sides (fan-out joins), keys present on only one side (outer-null
    fill, semi/anti membership), null flags flowing through predicates
    and set ops with bag semantics, theta-join prices exactly on the
    > 300000 cut, LIKE/regex pattern edges (substring hits, case misses,
    boundary brands), and tie-saturated prices under every
    sort/limit/top-k tie-break. Events reuse the tie-dense pool so the
    as-of join resolves exact-equal timestamps identically."""
    import shutil
    import tempfile

    from reconciliation_hive_data_spark import registry

    registry.load_all_modules()
    d = tempfile.mkdtemp(prefix="rhds_rel_fuzz_")
    try:
        _write_agg_tables(spark, d, lines, orders, events, customers)
        spark.createDataFrame(
            [
                (k, nm, br, ty, sz, cents / 100.0)
                for k, nm, br, ty, sz, cents in parts
            ],
            "p_partkey bigint, p_name string, p_brand string, p_type string,"
            " p_size int, p_retailprice double",
        ).coalesce(1).write.mode("overwrite").parquet(d + "/part.parquet")
        _oracle_parity(spark, d, _REL_QUERIES)
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# Streaming-family fuzz — micro-batch replays vs batch oracles on
# boundary-heavy synthetic events
# ---------------------------------------------------------------------------

#: fixture event-type domain (stream-stream joins purchases against views)
_STREAM_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),
        st.integers(0, len(_WIN_TS_POOL) - 1),
        st.sampled_from(["click", "view", "purchase", "signup", "error"]),
        st.sampled_from([None, 0.0, 1.25, 99.99]),
    ),
    min_size=0,
    max_size=15,
)

_STREAM_QUERIES = (
    "src_stream", "s_tumbling", "s_sliding", "s_session", "s_dedup_state",
    "s_stream_static", "s_stateful_custom", "s_foreachbatch",
    "s_checkpoint_resume", "s_stream_stream",
)


@pytest.mark.soak
@settings(
    max_examples=2,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=_STREAM_EVENTS, customers=_TPCH_CUSTOMERS)
def test_streaming_family_matches_oracle_on_boundary_events(
    spark, events, customers
):
    """The §2k micro-batch replays vs their batch-SQL oracles on events
    whose timestamps sit on the exact semantic edges: duplicate instants
    (same user, same µs), a gap of exactly 30 minutes (the session-window
    strictly-greater cut), the tumbling/sliding hour boundary, and null
    values through the windowed decimal sums. The stream source reads a
    single pyarrow-written µs-timestamp file — the non-nanos vintage of
    the loader probe — while customer arrives as a Spark-written dir, so
    the stream-static join crosses both vintage paths."""
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from reconciliation_hive_data_spark import registry

    registry.load_all_modules()
    d = tempfile.mkdtemp(prefix="rhds_stream_fuzz_")
    try:
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(range(len(events)), pa.int64()),
                    "ts": pa.array(
                        [_WIN_TS_POOL[ti] for _, ti, _t, _v in events],
                        pa.timestamp("us"),
                    ),
                    "user_id": pa.array([u for u, *_ in events], pa.int64()),
                    "event_type": pa.array(
                        [t for _, _ti, t, _v in events], pa.string()
                    ),
                    "value": pa.array(
                        [v for *_, v in events], pa.float64()
                    ),
                    "props": pa.array(["{}"] * len(events), pa.string()),
                }
            ),
            f"{d}/events.parquet",
        )
        spark.createDataFrame(
            [(k, f"Customer#{k}", n, b, seg) for k, n, b, seg in customers],
            "c_custkey bigint, c_name string, c_nationkey int,"
            " c_acctbal double, c_mktsegment string",
        ).coalesce(1).write.mode("overwrite").parquet(d + "/customer.parquet")
        _oracle_parity(spark, d, _STREAM_QUERIES)
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# Embeddings-family fuzz — degenerate vectors through the similarity path
# ---------------------------------------------------------------------------

#: deterministic hostile vector shapes (dim 64, float32 like the fixture):
#: the all-zero vector (norm 0 -> cosine x/0), exact axis dups, a pair
#: rotated just inside / just outside the cos >= 0.999 dedup cut
#: (eps 0.04 -> cos ~0.9992 in; eps 0.05 -> ~0.99875 out), a negated and
#: a scaled copy (cos -1 / +1), and a first-coordinate bucket-edge value
_VEC_KINDS = (
    "zero", "e0", "e0_eps4", "e0_eps5", "e1", "neg_e0", "scaled_e0",
    "mix", "c0_edge",
)


def _mk_vec(kind):
    v = [0.0] * 64
    if kind == "e0":
        v[0] = 1.0
    elif kind == "e0_eps4":
        v[0], v[1] = 1.0, 0.04
    elif kind == "e0_eps5":
        v[0], v[1] = 1.0, 0.05
    elif kind == "e1":
        v[1] = 1.0
    elif kind == "neg_e0":
        v[0] = -1.0
    elif kind == "scaled_e0":
        v[0] = 2.0
    elif kind == "mix":
        v[0] = v[1] = 0.70710678
    elif kind == "c0_edge":
        v[0], v[2] = 0.224, 0.9746  # c0 on a floor(c0/0.0448) bucket edge
    return v


_EMB_SPECS = st.lists(
    st.tuples(st.sampled_from(_VEC_KINDS), st.integers(min_value=0, max_value=9)),
    min_size=1,
    max_size=12,
)

_EMB_QUERIES = (
    "x_dedup_embed", "x_sim_search", "x_sim_ivf", "x_sim_pairs",
    "x_knn_graph", "x_embed_quantize", "x_embed_quantize_perdim",
    "x_dedup_semantic",  # r18: joins the family + r13 hostile-vector zoo
    "x_sim_recall",  # r18: ANN recall calibration joins the same zoo
)


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(specs=_EMB_SPECS)
def test_embedding_family_matches_oracle_on_degenerate_vectors(spark, specs):
    """The similarity/quantization family vs oracles on vectors the
    fixture never contains: zero-norm vectors (cosine division by zero —
    including as the vec_id=0 probe x_sim_search queries with), exact
    duplicates and scaled copies (cosine ties for the top-k tie-breaks),
    pairs straddling the cos >= 0.999 dedup cut, antipodal vectors, and
    zero-range quantization dimensions."""
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from reconciliation_hive_data_spark import registry

    registry.load_all_modules()
    d = tempfile.mkdtemp(prefix="rhds_emb_fuzz_")
    try:
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(range(len(specs)), pa.int64()),
                    "embedding": pa.array(
                        [_mk_vec(k) for k, _l in specs],
                        pa.list_(pa.float32()),
                    ),
                    "label": pa.array([l for _k, l in specs], pa.int32()),
                }
            ),
            f"{d}/embeddings.parquet",
        )
        _oracle_parity(spark, d, _EMB_QUERIES)
    finally:
        shutil.rmtree(d, ignore_errors=True)
