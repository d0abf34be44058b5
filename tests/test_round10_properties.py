"""Round-10 property tests.

1. Fractional-second session gaps (ADVICE r9): win_sessionize and
   attribution_report now compare gaps at µs precision, matching the
   oracles' ``ts - lag(ts) > INTERVAL 30 MINUTE`` on ALL inputs — the old
   ``cast('long')`` whole-second truncation could flip sessions for gaps
   inside (1800 s, 1801 s) when the fractional parts aligned, and the
   round-9 fuzz only generated whole-second timestamps. These tests
   generate µs-precision timestamps biased onto the exact boundary.

2. Differential fault-injection fuzz for the recon composites
   (recon_celldiff, recon_snapshot_cdc, recon_agg_drift): synthetic
   parquet written into a temp sf_dir, operators exercised UNCHANGED
   through the real load path, every injected fault class asserted
   detected and clean rows asserted silent (VERDICT r9 item 3).
"""

from __future__ import annotations

from collections import defaultdict

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# fractional-second session gaps
# ---------------------------------------------------------------------------

_GAP_US = 1_800_000_000  # 30 minutes in microseconds


def _ref_attribution_us(rows):
    """µs-exact reference first/last-touch attribution.

    rows: (user_id, ts_us, event_id, event_type, value); the session rule
    is strictly-greater on the µs gap — identical to the DuckDB oracle's
    ``> INTERVAL 30 MINUTE`` on TIMESTAMP (µs) columns."""
    by_user = defaultdict(list)
    for r in rows:
        by_user[r[0]].append(r)
    out = defaultdict(lambda: [0, 0, 0.0, 0.0])
    for rs in by_user.values():
        rs.sort(key=lambda r: (r[1], r[2]))
        sessions, prev = [], None
        for r in rs:
            if prev is None or r[1] - prev > _GAP_US:
                sessions.append([])
            sessions[-1].append(r)
            prev = r[1]
        for s in sessions:
            sv = float(sum(r[4] for r in s))
            out[s[0][3]][0] += 1
            out[s[0][3]][2] += sv
            out[s[-1][3]][1] += 1
            out[s[-1][3]][3] += sv
    return {
        src: (fc, lc, fv if fc else None, lv if lc else None)
        for src, (fc, lc, fv, lv) in out.items()
    }


# µs timestamps biased onto the exact 30-minute boundary: a base second
# drawn near multiples of 1800 s plus an INDEPENDENT µs fraction, so
# examples land in (1800 s, 1801 s) gaps with every fractional alignment —
# the region where whole-second truncation disagreed with the oracle.
_TS_US = st.one_of(
    st.integers(min_value=0, max_value=4_000_000_000),  # ~0..4000 s, any µs
    st.tuples(
        st.sampled_from([0, 1799, 1800, 1801, 3600, 5400]),
        st.sampled_from([0, 1, 250_000, 500_000, 999_999]),
    ).map(lambda t: t[0] * 1_000_000 + t[1]),
)

_EVENTS_US = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # user_id
        _TS_US,
        st.sampled_from(["click", "view", "buy"]),  # event_type
        st.integers(min_value=0, max_value=9),  # value (exact in double)
    ),
    min_size=1,
    max_size=25,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=_EVENTS_US)
def test_attribution_fractional_ts_matches_reference(spark, events):
    """Attribution must agree with the µs-exact reference when timestamps
    carry sub-second precision: a gap of 1800.000001 s starts a new
    session, a gap of exactly 1800.0 s does not, regardless of how the
    fractional parts of the two endpoints align."""
    from reconciliation_hive_data_spark.plans.pipeline_ops import attribution_report

    rows = [
        (u, ts_us, i, etype, float(val))
        for i, (u, ts_us, etype, val) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows,
        "user_id bigint, ts_us bigint, event_id bigint,"
        " event_type string, value double",
    ).select(
        "user_id",
        F.timestamp_micros("ts_us").alias("ts"),
        "event_id",
        "event_type",
        "value",
    )
    got = {
        r.source: (
            r.first_touch_sessions,
            r.last_touch_sessions,
            r.first_touch_value,
            r.last_touch_value,
        )
        for r in attribution_report(df).collect()
    }
    assert got == _ref_attribution_us(rows)


def test_sessionize_boundary_gap_matches_oracle(spark, tmp_path):
    """Deterministic pin of the exact failure mode the cast('long') code
    had: prev ts fractional part 0.7 s, next event at +1800.5 s — the
    whole-second diff is 1800 (old code: same session) but the true gap is
    1800.5 s (> 30 min → NEW session, per the oracle). Runs win_sessionize
    UNCHANGED through the real load path on synthetic parquet and compares
    against the DuckDB oracle side-by-side."""
    import duckdb

    from reconciliation_hive_data_spark import registry

    registry.load_all_modules()
    base = 1_700_000_000_000_000  # µs
    rows = [
        # user 7: the old-bug gap (floor diff 1800, true gap 1800.5 s)
        (1, base + 700_000, 7, "click", 1.0, "{}"),
        (2, base + 700_000 + 1_800_500_000, 7, "view", 2.0, "{}"),
        # user 8: gap exactly 1800.0 s → SAME session (strictly-greater)
        (3, base, 8, "click", 1.0, "{}"),
        (4, base + _GAP_US, 8, "buy", 3.0, "{}"),
        # user 9: floor diff 1801 but true gap 1800.2 s → new session both
        # before and after the fix (floor disagreement the other way is
        # impossible: floor can only under-count, never over-count, a gap
        # whose true value exceeds the floor diff by < 1 s)
        (5, base + 900_000, 9, "click", 1.0, "{}"),
        (6, base + 900_000 + 1_800_200_000, 9, "view", 1.0, "{}"),
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id bigint, ts_us bigint, user_id bigint,"
        " event_type string, value double, props string",
    ).select(
        "event_id",
        F.timestamp_micros("ts_us").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    ).coalesce(1).write.mode("overwrite").parquet(d + "/events.parquet")

    spec = registry.get("win_sessionize")
    got = sorted(
        (r.user_id, r.session_idx, r.n_events)
        for r in spec.fn(spark, d).collect()
    )
    con = duckdb.connect()
    try:
        # Spark wrote a directory of part files (unlike the driver's
        # single-file fixtures), so glob inside it
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM"
            f" read_parquet('{d}/events.parquet/*.parquet')"
        )
        want = sorted(
            (r[0], r[1], r[4])
            for r in con.execute(spec.oracle).fetchall()
        )
    finally:
        con.close()
    assert got == want
    # and the semantics themselves: user 7 split, user 8 merged
    per_user = defaultdict(int)
    for u, _, _ in got:
        per_user[u] += 1
    assert per_user[7] == 2 and per_user[8] == 1 and per_user[9] == 2


# ---------------------------------------------------------------------------
# fault-injection differential fuzz: recon_celldiff / recon_snapshot_cdc /
# recon_agg_drift on synthetic orders through the real load path
# ---------------------------------------------------------------------------
#
# The fault fixture keys on o_orderkey % 1000: 7 → deleted in target,
# 13 → price +1.0, 34 → priority nulled, 21 → duplicated (orders_target)
# or re-keyed insert (+10M, _orders_v2). The driver's orders fixture never
# has NULL prices/priorities on those residues, so the fault rules' null
# edges (null+1.0 stays null → NOT a diff; nulling an already-null
# priority → NOT a diff) were unexercised. Each example writes synthetic
# orders.parquet into a temp sf_dir, runs the registered query UNCHANGED
# through the real load path, and replays its own DuckDB oracle on the
# same dir — the driver's exact check, on inputs the driver never
# generates.


def _write_orders(spark, d: str, rows) -> None:
    """rows: (key, cust, status, price, day, prio) → {d}/orders.parquet.
    o_orderdate materializes as a whole-second timestamp (day offsets from
    a fixed epoch; NULL for a NULL day); Spark writes INT96 here,
    exercising the loader's vintage routing on every example."""
    spark.createDataFrame(
        [
            (k, c, s, p, None if day is None else 1_500_000_000 + day * 86_400, prio)
            for k, c, s, p, day, prio in rows
        ],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, sec bigint, o_orderpriority string",
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.timestamp_seconds("sec").alias("o_orderdate"),
        "o_orderpriority",
    ).coalesce(1).write.mode("overwrite").parquet(d + "/orders.parquet")


def _oracle_parity(spark, d: str, names) -> None:
    from reconciliation_hive_data_spark import registry

    try:
        from .parity import compare
    except ImportError:  # imported as a top-level module (scripted hunts)
        from parity import compare

    registry.load_all_modules()
    problems = []
    for name in names:
        spec = registry.get(name)
        problems += compare(spec.fn(spark, d), spec.oracle, d, name)
    assert not problems, problems


_RECON_QUERIES = ("recon_celldiff", "recon_snapshot_cdc", "recon_agg_drift")

#: every orders-only recon composite (recon_crossformat/api_summary are
#: artifact-based and covered by test_api_fuzz; order_totals/footer_stats/
#: partition_complete read other tables)
_RECON_ALL_ORDERS = _RECON_QUERIES + (
    "recon_rowcount",
    "recon_colfp",
    "recon_keys_missing",
    "recon_keys_dup",
    "recon_rowhash",
    "recon_tolerance",
    "recon_partition_drill",
    "recon_schema",
    "recon_null_profile",
    "recon_sample_audit",
    "recon_bucket_hash",
    "recon_bucket_drill",
    # r15 second slot: the layout-migration audits read orders only; the
    # family's fault corpus adds NULL-price/priority shapes to their own
    # pinned pools (test_round15_partition_evolve_bpe_n.py)
    "recon_partition_evolve",
    "recon_layout_compact",
    # r16: the drill-consuming remediation tier (orders-only; its
    # delete-arm/election pins live in test_round16_remediate.py)
    "recon_remediate",
    # r17: the successive-compaction audit (orders-only; its dynamic-
    # overwrite scoping + replica pins live in
    # test_round17_compact_incremental.py)
    "recon_compact_incremental",
)


@pytest.mark.soak
def test_recon_fault_classes_detected_exactly(spark, tmp_path):
    """One synthetic table covering every fault class plus the null edges;
    assert the reports list EXACTLY the injected faults (independent
    Python expectation), then replay all three DuckDB oracles on the same
    dir for full parity."""
    rows = [
        # (key, cust, status, price, day, prio)
        (1007, 1, "O", 100.00, 0, "1-URGENT"),  # residue 7 → deleted
        (2013, 2, "F", 250.50, 1, "3-MEDIUM"),  # price drift detected
        (3013, 3, "O", None, 2, "3-MEDIUM"),  # null price: drift is a no-op
        (4034, 4, "P", 300.00, 3, "1-URGENT"),  # priority nulled → detected
        (5034, 5, "F", 400.00, 4, None),  # already-null priority: no-op
        (6021, 6, "O", 500.25, 5, "3-MEDIUM"),  # dup (tgt) / insert (v2)
        (8000, 7, "F", 600.00, 6, "1-URGENT"),  # clean row
    ]
    d = str(tmp_path)
    _write_orders(spark, d, rows)

    from reconciliation_hive_data_spark import registry

    registry.load_all_modules()

    diffs = {
        (r.o_orderkey, r.col_name)
        for r in registry.get("recon_celldiff").fn(spark, d).collect()
    }
    assert diffs == {(2013, "o_totalprice"), (4034, "o_orderpriority")}

    cdc = {
        r.orderkey: (r.op, r.changed_cols)
        for r in registry.get("recon_snapshot_cdc").fn(spark, d).collect()
    }
    assert cdc == {
        1007: ("DELETE", ""),
        2013: ("UPDATE", "o_totalprice"),
        4034: ("UPDATE", "o_orderpriority"),
        10006021: ("INSERT", ""),
    }  # 3013/5034 null-edge faults are no-ops, 6021's v2 original unchanged

    drift = registry.get("recon_agg_drift").fn(spark, d).collect()
    # src keeps all 7 rows; target drops 1007, duplicates 6021 → 7 again
    assert sum(r.n_src for r in drift) == 7 and sum(r.n_tgt for r in drift) == 7
    # null prices bucket to NULL on both sides and must not crash the PSI

    # full oracle-parity sweep of EVERY orders-only recon composite on the
    # fault-covering synthetic table — the driver's check on a table shape
    # (null price/priority on fault residues) its fixtures never produce
    _oracle_parity(spark, d, _RECON_ALL_ORDERS)


_STATUSES = st.sampled_from(["O", "F", "P"])
_PRIO = st.one_of(st.none(), st.sampled_from(["1-URGENT", "3-MEDIUM", "5-LOW"]))
_PRICE = st.one_of(
    st.none(),
    # money-class: ≤2 decimal places (canonical.py: only true ≤6dp values
    # may round-trip through the celldiff DECIMAL(28,6) serialization)
    st.integers(min_value=0, max_value=60_000_000).map(lambda c: c / 100.0),
)

_ORDERS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=50),  # key base (unique)
        st.sampled_from([0, 7, 13, 21, 34, 999]),  # fault residue
        st.integers(min_value=1, max_value=9),  # cust
        _STATUSES,
        _PRICE,
        st.integers(min_value=0, max_value=90),  # day
        _PRIO,
    ),
    min_size=1,
    max_size=20,
    unique_by=lambda t: t[0],
)


def _write_lineitem(spark, d: str, rows) -> None:
    """rows: (l_orderkey, extprice, discount, tax, quantity) →
    {d}/lineitem.parquet. Money-class values only (≤2dp; the 3-factor
    gross product is then ≤6dp — exact in the DECIMAL(18,6) route)."""
    spark.createDataFrame(
        rows,
        "l_orderkey bigint, l_extendedprice double, l_discount double,"
        " l_tax double, l_quantity double",
    ).coalesce(1).write.mode("overwrite").parquet(d + "/lineitem.parquet")


_LINEITEMS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=12),  # l_orderkey — overlaps AND
        # exceeds the orders key range, so orphan lineitems (null header →
        # VALUE_DIFF via the CASE fall-through) and lineitem-less orders
        # (MISSING_IN_LINEITEM) both occur
        st.one_of(
            st.none(),
            st.integers(min_value=0, max_value=1_000_00).map(lambda c: c / 100.0),
        ),
        st.sampled_from([0.0, 0.01, 0.05, 0.1]),  # discount, 2dp
        st.sampled_from([0.0, 0.02, 0.08]),  # tax, 2dp
        st.one_of(st.none(), st.integers(min_value=1, max_value=50).map(float)),
    ),
    min_size=0,
    max_size=25,
)

_HEADER_ORDERS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),  # o_orderkey (unique)
        _PRICE,  # header total — rarely equals the line sum, so VALUE_DIFF,
        # boundary |diff| ≤ 0.01 MATCH, and null-header rows all occur
    ),
    min_size=0,
    max_size=10,
    unique_by=lambda t: t[0],
)


@pytest.mark.soak
@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(headers=_HEADER_ORDERS, lines=_LINEITEMS)
def test_order_totals_matches_oracle_on_fuzzed_tables(spark, headers, lines):
    """recon_order_totals (the flagship) vs its oracle on random
    header↔line mixes: lineitem-less orders, orphan lineitems (null
    header price), null extendedprice/quantity, and diffs straddling the
    0.01 tolerance boundary."""
    import shutil
    import tempfile

    rows = [
        (k, 0, "O", p, 0, "1-URGENT") for k, p in headers
    ]  # header fixture reuses the orders writer; only key+price matter
    d = tempfile.mkdtemp(prefix="rhds_ot_fuzz_")
    try:
        _write_orders(spark, d, rows)
        _write_lineitem(spark, d, lines)
        _oracle_parity(spark, d, ("recon_order_totals",))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_footer_stats_all_null_column_consistent(spark, tmp_path):
    """A row group whose column is entirely null has footer statistics but
    NO min/max; the footer reader used to crash on float(None) there. It
    must instead roll the column up to null min/max — agreeing with the
    scan side — and report it CONSISTENT (null-safe compare), with the
    null count still exact. Oracle replayed on the same dir."""
    d = str(tmp_path)
    _write_lineitem(
        spark,
        d,
        [(1, 100.0, 0.0, 0.0, None), (2, 200.25, 0.05, 0.02, None)],
    )

    from reconciliation_hive_data_spark import registry

    registry.load_all_modules()
    rows = {
        r.col_name: r for r in registry.get("recon_footer_stats").fn(spark, d).collect()
    }
    q = rows["l_quantity"]
    assert q.consistent and q.footer_nulls == 2 and q.footer_min is None
    p = rows["l_extendedprice"]
    assert p.consistent and p.footer_nulls == 0 and p.footer_min == 100.0
    _oracle_parity(spark, d, ("recon_footer_stats",))


def test_footer_stats_statsless_row_group_reads_inconsistent(spark, tmp_path):
    """A NON-empty row group written without statistics must force the
    column INCONSISTENT even when the null-skipping rollups happen to
    agree with the scan (0 actual nulls, min/max inside a stats-bearing
    neighbour's range) — the shape ADVICE r10 flagged: SUM/MIN/MAX skip
    the unknown group, so without the explicit per-group unknown flag the
    column silently read CONSISTENT."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path)
    schema = pa.schema(
        [
            ("l_orderkey", pa.int64()),
            ("l_extendedprice", pa.float64()),
            ("l_discount", pa.float64()),
            ("l_tax", pa.float64()),
            ("l_quantity", pa.float64()),
        ]
    )

    def tbl(rows):
        cols = list(zip(*rows))
        return pa.table(
            {f.name: pa.array(cols[i], f.type) for i, f in enumerate(schema)}
        )

    tdir = f"{d}/lineitem.parquet"
    import os

    os.makedirs(tdir)
    # stats-bearing file spans [100, 300]; the stats-less file's values sit
    # strictly inside that range with zero nulls — the silent-consistent trap
    pq.write_table(
        tbl([(1, 100.0, 0.0, 0.0, 1.0), (2, 300.0, 0.0, 0.0, 9.0)]),
        f"{tdir}/part-0.parquet",
    )
    pq.write_table(
        tbl([(3, 200.0, 0.0, 0.0, 5.0)]),
        f"{tdir}/part-1.parquet",
        write_statistics=False,
    )

    from reconciliation_hive_data_spark import registry

    registry.load_all_modules()
    rows = {
        r.col_name: r
        for r in registry.get("recon_footer_stats").fn(spark, d).collect()
    }
    for c in ("l_extendedprice", "l_quantity"):
        r = rows[c]
        # rollups still agree (footer_nulls sums only the known groups)...
        assert r.footer_rows == r.scan_rows == 3, c
        assert r.footer_nulls == r.scan_nulls == 0, c
        # ...but the unknown group must force the verdict to inconsistent
        assert not r.consistent, c


def test_degenerate_groups_yield_null_stats_not_crash(spark, tmp_path):
    """n=1 groups have no sample variance/correlation and a zero-range
    dimension has no quantization grid: all three must yield NULL (the
    oracles' DuckDB x/0→NULL convention) instead of the ANSI
    DIVIDE_BY_ZERO abort they raised before try_divide. From the round-10
    single-row registry sweep (tools/empty_sweep.py onerow)."""
    import pyarrow.parquet as pq

    d = str(tmp_path)
    for t in ("lineitem", "embeddings"):
        pq.write_table(
            pq.read_table(f"/root/testdata/sf0.001/{t}.parquet").slice(0, 1),
            f"{d}/{t}.parquet",
        )

    from reconciliation_hive_data_spark import registry

    registry.load_all_modules()
    (corr_row,) = registry.get("agg_corr").fn(spark, d).collect()
    assert corr_row.n_rows == 1
    assert corr_row.corr_qty_price is None and corr_row.cov_qty_price is None
    (stats_row,) = registry.get("agg_stats").fn(spark, d).collect()
    assert stats_row.stddev_qty is None and stats_row.var_qty is None
    assert stats_row.mean_qty is not None  # mean exists at n=1
    (q_row,) = registry.get("x_embed_quantize_perdim").fn(spark, d).collect()
    # every dimension's range is zero → every code degenerates to 255 on
    # both engines (NULL division → least() skips nulls)
    assert set(q_row.codes.split(",")) == {"255"}
    _oracle_parity(
        spark, d, ("agg_corr", "agg_stats", "x_embed_quantize_perdim")
    )


def test_partitioned_sink_empty_write_reads_back(spark, tmp_path):
    """A partitionBy write of an EMPTY frame produces a zero-file layout
    that schema inference cannot read back (AnalysisException); the sinks
    now read with the written frame's explicit schema, so an empty load
    round-trips to an empty report — with oracle parity — instead of
    aborting. From the round-10 all-empty registry sweep."""
    import pyarrow.parquet as pq

    d = str(tmp_path)
    for t in ("lineitem", "orders"):
        pq.write_table(
            pq.read_schema(f"/root/testdata/sf0.001/{t}.parquet").empty_table(),
            f"{d}/{t}.parquet",
        )

    from reconciliation_hive_data_spark import registry

    registry.load_all_modules()
    for q in ("sink_partitioned", "sink_compact", "scan_partition_pruned"):
        assert registry.get(q).fn(spark, d).count() == 0, q
    _oracle_parity(
        spark, d, ("sink_partitioned", "sink_compact", "scan_partition_pruned")
    )


def test_footer_stats_empty_table_consistent(spark, tmp_path):
    """A zero-row parquet file (pyarrow writes one 0-row row group with no
    statistics struct) must reconcile CONSISTENT: 0 rows == 0 rows, zero
    nulls by definition of an empty group, null min/max on both sides.
    From the round-10 all-empty registry sweep (tools/empty_sweep.py)."""
    import pyarrow.parquet as pq

    d = str(tmp_path)
    sch = pq.read_schema("/root/testdata/sf0.001/lineitem.parquet")
    pq.write_table(sch.empty_table(), f"{d}/lineitem.parquet")

    from reconciliation_hive_data_spark import registry

    registry.load_all_modules()
    rows = registry.get("recon_footer_stats").fn(spark, d).collect()
    assert len(rows) == 2 and all(r.consistent for r in rows)
    assert all(r.footer_rows == 0 and r.footer_nulls == 0 for r in rows)
    _oracle_parity(spark, d, ("recon_footer_stats",))


def _write_events_us(spark, d: str, rows) -> None:
    """rows: (user_id, ts_us, event_id, event_type, value) →
    {d}/events.parquet (µs-precision timestamps)."""
    spark.createDataFrame(
        [(eid, ts_us, u, etype, val, "{}") for u, ts_us, eid, etype, val in rows],
        "event_id bigint, ts_us bigint, user_id bigint,"
        " event_type string, value double, props string",
    ).select(
        "event_id",
        F.timestamp_micros("ts_us").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    ).coalesce(1).write.mode("overwrite").parquet(d + "/events.parquet")


_EVENT_TS_US = st.one_of(
    # draws biased onto exact hour boundaries and their µs neighbours, so
    # the calendar's hour-truncation edges are exercised
    st.integers(min_value=0, max_value=20).map(lambda h: h * 3_600_000_000),
    st.tuples(
        st.integers(min_value=0, max_value=20),
        st.sampled_from([1, 999_999, 1_800_000_000, 3_599_999_999]),
    ).map(lambda t: t[0] * 3_600_000_000 + t[1]),
)

_CAL_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # user
        _EVENT_TS_US,
        st.sampled_from(["click", "view"]),
        st.integers(min_value=0, max_value=9),
    ),
    min_size=1,  # bounds need ≥1 event; the hourly calendar spans min→max
    max_size=30,
)


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=_CAL_EVENTS)
def test_partition_complete_matches_oracle_on_fuzzed_events(spark, events):
    """recon_partition_complete vs its oracle on random sparse event
    streams: single-event calendars, MISSING hours between sparse
    clusters, counts straddling the SPARSE threshold (n < 5), and events
    exactly on / 1 µs around hour boundaries."""
    import shutil
    import tempfile

    rows = [
        (u, ts_us, i, etype, float(val))
        for i, (u, ts_us, etype, val) in enumerate(events)
    ]
    d = tempfile.mkdtemp(prefix="rhds_pc_fuzz_")
    try:
        _write_events_us(spark, d, rows)
        _oracle_parity(spark, d, ("recon_partition_complete",))
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# documents edge-case sweep: short docs through the text/dedup family
# ---------------------------------------------------------------------------
#
# The driver's documents fixture has no short docs, so the <3-token path
# of the shingle pipeline was unexercised — and shingles3 crashed on it:
# sequence(0, size-3) runs DESCENDING when size < 3 (Spark's sequence
# counts down) and slice(…, 0, 3) aborts the query. The guard now drops
# short docs before the transform, matching the oracles' positional
# self-join (which derives no shingles for them).


def _write_documents(spark, d: str, docs) -> None:
    """docs: (doc_id, text, lang, source); n_chars derives from text."""
    rows = [(i, t, l, s, len(t)) for i, t, l, s in docs]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")


_EDGE_DOCS = [
    (0, "", "en", "src0"),  # empty text (zero shingles, one empty "token")
    (1, "word", "en", "src0"),  # single token
    (8, "two words", "en", "src0"),  # two tokens — still below shingle width
    (2, "word word word word word", "en", "src1"),  # one distinct token
    (3, "the quick brown fox jumps over the lazy dog again and again", "es", "src1"),
    (4, "the quick brown fox jumps over the lazy dog again and again", "es", "src1"),
    (5, "the quick brown fox jumps over the lazy cat again and again", "es", "src2"),
    (6, "spark table join merge scan filter window batch stream row "
        "column value key order part " * 4, "zh", "src2"),
    (7, "hello, world. mixed CASE tokens! with punct?", "en", "src3"),
]

#: every documents-only oracle query (x_dedup_embed & friends need
#: embeddings; the MLlib twins are rows-only and covered by the fuzz below)
_DOCS_QUERIES = (
    "x_chunk_docs", "x_chunk_pack", "x_corpus_clean", "x_corpus_stats",
    "x_dedup_clusters", "x_dedup_containment", "x_dedup_editdist",
    "x_dedup_exact", "x_dedup_incremental", "x_dedup_near", "x_dedup_ngram",
    "x_dedup_simhash", "x_dedup_simhash_banded", "x_dedup_url",
    "x_doc_outliers", "x_text_fingerprint", "x_text_langid",
    "x_text_perplexity", "x_text_pii", "x_text_quality",
    "x_text_repetition", "x_text_tfidf", "x_text_tokcount",
    "x_text_tokens", "x_token_pmi", "x_vocab_coverage", "x_decontaminate",
)


@pytest.mark.soak
def test_text_family_matches_oracle_on_edge_documents(spark, tmp_path):
    """All 27 documents-only oracle queries replayed against DuckDB on a
    corpus of edge shapes: empty text, 1- and 2-token docs (below shingle
    width — the crash that motivated this sweep), a doc with one distinct
    token, an exact-dup pair, a one-token-off near-dup, and
    punctuation/mixed-case tokens."""
    d = str(tmp_path)
    _write_documents(spark, d, _EDGE_DOCS)
    _oracle_parity(spark, d, _DOCS_QUERIES)


def test_near_dup_family_on_edge_documents(spark, tmp_path):
    """The MinHash-LSH family on the edge corpus in the default run: the
    three oracle-backed queries match DuckDB, and the indexed form equals
    x_dedup_near row for row (docs below shingle width get no signature in
    either)."""
    import glob
    import os
    import shutil

    from reconciliation_hive_data_spark.artifacts import artifact_location
    from reconciliation_hive_data_spark.plans.llm import x_dedup_near
    from reconciliation_hive_data_spark.plans.pipeline_ops import x_dedup_near_indexed

    d = str(tmp_path)
    _write_documents(spark, d, _EDGE_DOCS)
    _oracle_parity(
        spark, d, ("x_dedup_near", "x_dedup_containment", "x_minhash_jaccard_est")
    )
    try:
        indexed = sorted(x_dedup_near_indexed(spark, d).collect())
    finally:  # the index of a temp corpus must not outlive it in the warehouse
        for p in glob.glob(artifact_location(spark, d, "neardup_idx") + "*"):
            if os.path.isdir(p):
                shutil.rmtree(p)
            else:
                os.remove(p)
    assert indexed == sorted(x_dedup_near(spark, d).collect())
    assert indexed  # docs 3 and 4 are exact duplicates


_DOC_TEXT = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
    min_size=0,
    max_size=12,
).map(" ".join)

_FUZZ_DOCS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),  # doc_id (unique)
        _DOC_TEXT,  # 0..12 tokens from a 5-word vocab → dense dup/near-dup
        # space AND plenty of sub-shingle-width docs
        st.sampled_from(["en", "es"]),
        st.sampled_from(["src0", "src1"]),
    ),
    min_size=1,
    max_size=10,
    unique_by=lambda t: t[0],
)


@pytest.mark.soak
@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=_FUZZ_DOCS)
def test_shingle_dedup_matches_oracle_on_fuzzed_docs(spark, docs):
    """The three shingle-based dedup queries vs their oracles on random
    tiny-vocab corpora: heavy duplicate density, docs straddling the
    3-token shingle threshold, and empty texts — the band join, Jaccard
    verify, and signature pipelines must agree with DuckDB exactly."""
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="rhds_docs_fuzz_")
    try:
        _write_documents(spark, d, docs)
        _oracle_parity(
            spark, d,
            ("x_dedup_near", "x_dedup_containment", "x_dedup_simhash_banded"),
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(orders=_ORDERS)
def test_recon_composites_match_oracle_on_fuzzed_orders(spark, orders):
    """Random fault mixes, null prices/priorities, and empty fault classes
    must keep Spark and the DuckDB oracle in exact agreement for all three
    composites — including examples where a residue class is entirely
    absent (empty report sections) and where every row is faulty."""
    import shutil
    import tempfile

    rows = [
        (base * 1000 + res, c, s, p, day, prio)
        for base, res, c, s, p, day, prio in orders
    ]
    d = tempfile.mkdtemp(prefix="rhds_recon_fuzz_")
    try:
        _write_orders(spark, d, rows)
        _oracle_parity(spark, d, _RECON_QUERIES)
    finally:
        shutil.rmtree(d, ignore_errors=True)
