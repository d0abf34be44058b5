"""Round-15 second-slot pins: recon_partition_evolve (SURVEY §7.6.5) and
x_bpe_rounds_n (SURVEY §7.6.4).

recon_partition_evolve is the partition-dimension sibling of
recon_schema_evolve: two LAYOUT vintages (v1 unpartitioned, v2 Hive-style
month-partitioned) reconciled per calendar month with a directory-key-vs-
derived-key drift count. Its hostile pool covers the shapes a layout
migration actually produces:

- NULL / negative / int64-extreme order keys — the pmod split must
  PARTITION the table (r14 s_checkpoint_resume class).
- NULL order dates — the null-key spill: v2 routes them to
  __HIVE_DEFAULT_PARTITION__, v1 derives NULL, and the report carries
  exactly one NULL_KEY row outside the calendar.
- Month gaps — calendar months no vintage landed must surface as MISSING
  (the silently-skipped-load-window recon_partition_complete catches on
  the hour grain, here on the month grain across two layouts).
- Single-parity key sets — one side fileless: the unreadable-dir guard
  (empty v2 partitionBy write raises UNABLE_TO_INFER_SCHEMA on read)
  and the V1_ONLY/V2_ONLY statuses.
- Empty source — empty report on both engines.

x_bpe_rounds_n iterates x_bpe_round to N=3 with a marker PER merged
symbol (chr(1..3)); its semantic edges are the no-merge-round identity
(an empty election must NOT cascade-empty earlier rounds' results) and
marker-pair reformation ('aaaa' → round 2 elects (chr1, chr1), whose
expansion is ('aa','aa')).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from .test_round10_properties import _oracle_parity, _write_orders
from .test_round15_schema_evolve import _HOSTILE_KEYS, _write_docs

# ---------------------------------------------------------------------------
# recon_partition_evolve
# ---------------------------------------------------------------------------


def _write_orders_nullable_date(spark, d: str, rows) -> None:
    """(key, cust, status, price, day_or_None, prio) → orders.parquet with
    day=None materializing a NULL o_orderdate (the spill shape the
    fixed-epoch _write_orders cannot produce)."""
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


def test_hostile_keys_split_identically(spark, tmp_path):
    """The schema-evolve hostile key pool (NULL/negative/int64-extreme
    keys, NULL values riding them) through the LAYOUT audit."""
    d = str(tmp_path)
    _write_orders(spark, d, _HOSTILE_KEYS)
    _oracle_parity(spark, d, ("recon_partition_evolve",))


def test_null_dates_spill_and_month_gap(spark, tmp_path):
    """NULL dates (both parities → both vintages spill), a ~3-month
    calendar gap between day 10 and day 100, and a v2-only month."""
    d = str(tmp_path)
    rows = [
        (0, 1, "O", 10.0, 0, "5-LOW"),      # v1, month A
        (1, 2, "O", 11.0, 0, "5-LOW"),      # v2, month A
        (2, 3, "F", 12.0, 10, "5-LOW"),     # v1, month A
        (3, 4, "F", 13.0, None, "5-LOW"),   # v2, NULL date → spill
        (4, 5, "P", 14.0, None, "5-LOW"),   # v1, NULL date → spill
        (5, 6, "O", 15.0, 100, "5-LOW"),    # v2, month D (gap B, C)
        (7, 7, "O", 16.0, 101, "5-LOW"),    # v2, month D again → V2_ONLY
    ]
    _write_orders_nullable_date(spark, d, rows)
    _oracle_parity(spark, d, ("recon_partition_evolve",))
    # independent expectation: exactly one NULL_KEY row carrying both
    # spills, and the interior months read MISSING
    from reconciliation_hive_data_spark.plans.recon_scale import (
        recon_partition_evolve,
    )

    out = {r.o_month: r for r in recon_partition_evolve(spark, d).collect()}
    nk = out[None]
    assert (nk.n_v1, nk.n_v2, nk.status) == (1, 1, "NULL_KEY")
    assert {m for m, r in out.items() if r.status == "MISSING"} == {
        "2017-08", "2017-09",
    }
    assert out["2017-10"].status == "V2_ONLY"
    assert out["2017-07"].status == "MIXED"
    assert all(r.n_key_drift == 0 for r in out.values())


@pytest.mark.soak
def test_single_parity_sides_fileless(spark, tmp_path):
    """ALL-odd keys leave v1 with an empty (but readable) plain dir; ALL-
    even keys leave v2's partitioned dir fileless (read raises — the
    explicit-schema guard) — both must still reconcile against the
    oracle's view of the same split."""
    d = str(tmp_path)
    _write_orders(
        spark, d, [(2 * i + 1, i, "O", 1.0 * i, i, "5-LOW") for i in range(6)]
    )
    _oracle_parity(spark, d, ("recon_partition_evolve",))
    _write_orders(
        spark, d, [(2 * i, i, "O", 1.0 * i, i, "5-LOW") for i in range(6)]
    )
    _oracle_parity(spark, d, ("recon_partition_evolve",))


def test_all_null_dates_only_spill_row(spark, tmp_path):
    """Every date NULL: no calendar exists (bounds are NULL) and the
    report is exactly the NULL_KEY spill row; v2's layout holds only the
    default partition directory."""
    d = str(tmp_path)
    _write_orders_nullable_date(
        spark,
        d,
        [(i, i, "O", 1.0, None, "5-LOW") for i in range(4)],
    )
    _oracle_parity(spark, d, ("recon_partition_evolve",))


def test_empty_source_empty_report(spark, tmp_path):
    d = str(tmp_path)
    _write_orders(spark, d, [])
    _oracle_parity(spark, d, ("recon_partition_evolve",))


def test_partition_evolve_plan_shape(spark, sf_dir):
    """Scale contract: the data-sized work is the ONE narrow
    (month, vintage, drift) count — no cartesian, no broadcast of a
    data-sized side; the calendar explode and final month-grain full
    outer join run on months-sized frames."""
    from reconciliation_hive_data_spark.plans.recon_scale import (
        recon_partition_evolve,
    )

    from .test_plans import plan

    p = plan(recon_partition_evolve(spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    # both layout scans feed ONE aggregate exchange (the union's groupBy);
    # everything after is months-sized
    assert p.count(") SortMergeJoin") <= 1, p


# ---------------------------------------------------------------------------
# x_bpe_rounds_n
# ---------------------------------------------------------------------------


def test_bpe_n_first_merge_matches_single_round(spark, sf_dir):
    """Invariant: round 1 of the unrolled loop IS x_bpe_round's election —
    same words, same rule (marker space == raw text in round 1)."""
    from reconciliation_hive_data_spark.plans.corpus_ops import (
        x_bpe_round,
        x_bpe_rounds_n,
    )

    single = x_bpe_round(spark, sf_dir).select("merged_pair").first()
    multi = {
        r.rn: (r.s1, r.s2)
        for r in x_bpe_rounds_n(spark, sf_dir)
        .filter("kind = 'merge'")
        .collect()
    }
    assert single.merged_pair == multi[1][0] + multi[1][1]
    assert set(multi) == {1, 2, 3}


def test_bpe_n_marker_pair_reformation(spark, tmp_path):
    """'aaaa'-heavy corpus: round 1 merges 'aa' → chr1; round 2's top pair
    is (chr1, chr1), whose merge is a marker-sided symbol and whose
    expanded report sides are ('aa', 'aa') — the §7.6.4 risk note
    (replace must run on the MARKER form) exercised end to end."""
    d = str(tmp_path)
    _write_docs(spark, d, ["aaaa aaaa aaaa", "aaaab baaaa", "aaaa aa"])
    _oracle_parity(spark, d, ("x_bpe_rounds_n",))
    from reconciliation_hive_data_spark.plans.corpus_ops import (
        x_bpe_rounds_n,
    )

    merges = {
        r.rn: (r.s1, r.s2)
        for r in x_bpe_rounds_n(spark, d).filter("kind = 'merge'").collect()
    }
    assert merges[1] == ("a", "a")
    assert merges[2] == ("aa", "aa")


def test_bpe_n_merge_exhaustion_is_identity(spark, tmp_path):
    """A corpus whose vocabulary collapses before round 3 (every word is a
    repeated two-letter run): later rounds collect an empty pair
    histogram, elect nothing, and must leave the word table and the
    earlier rounds' merges as they are (the oracle's NULL election over
    the never-matching sentinel). Also the no-pairs-at-all and empty
    corpora."""
    d = str(tmp_path)
    # vocabulary {ab}: round 1 merges (a,b); marker words are then all
    # single-symbol -> rounds 2 and 3 have no pairs
    _write_docs(spark, d, ["ab ab ab", "ab", None])
    _oracle_parity(spark, d, ("x_bpe_rounds_n",))
    from reconciliation_hive_data_spark.plans.corpus_ops import (
        x_bpe_rounds_n,
    )

    out = x_bpe_rounds_n(spark, d).collect()
    assert [(r.rn, r.s1, r.s2) for r in out if r.kind == "merge"] == [
        (1, "a", "b")
    ]
    assert [r for r in out if r.kind == "pair"] == []
    # single-letter words only: no pairs anywhere, fully empty report
    _write_docs(spark, d, ["a b c", "a a"])
    _oracle_parity(spark, d, ("x_bpe_rounds_n",))
    # empty / all-null corpus
    _write_docs(spark, d, [None, ""])
    _oracle_parity(spark, d, ("x_bpe_rounds_n",))


def test_bpe_n_tiebreak_prefers_marker_pairs(spark, tmp_path):
    """The documented tie rule: elections order by (cnt DESC, marker-space
    pair text ASC), and markers sort BEFORE letters (chr(1..3) < 'a' in
    binary collation on both engines) — a tied round-2 election prefers
    the pair touching the round-1 merge."""
    d = str(tmp_path)
    # round 1: 'ab' wins (3×, vs 2× for the rest). round 2 candidates:
    # (chr1, 'c') from 'abc' ×2 and ('x', 'y') from 'xy' ×2 tie on count;
    # chr1 < 'x' elects (ab, c).
    _write_docs(spark, d, ["ab abc abc", "xy xy"])
    _oracle_parity(spark, d, ("x_bpe_rounds_n",))
    from reconciliation_hive_data_spark.plans.corpus_ops import (
        x_bpe_rounds_n,
    )

    merges = {
        r.rn: (r.s1, r.s2)
        for r in x_bpe_rounds_n(spark, d).filter("kind = 'merge'").collect()
    }
    assert merges[1] == ("a", "b")
    assert merges[2] == ("ab", "c")


def test_bpe_n_single_corpus_scan(spark, sf_dir, monkeypatch):
    """Scale contract inherited from x_bpe_round: one x_bpe_rounds_n call
    reads the corpus once, into the persisted word table, and every pair
    histogram after that reads the cached words (its optimized plan has
    no leaf but the InMemoryRelation). The driver election keeps fn() plus
    the noop write at <= 11 Spark jobs: one collected aggregate per round,
    one for the final top-20, and the write of the local report."""
    from reconciliation_hive_data_spark.catalog import load
    from reconciliation_hive_data_spark.plans import corpus_ops

    load(spark, sf_dir, "documents")  # schema inference is not fn()'s job
    leaves = []
    pairs = corpus_ops._bpe_pairs

    def spy(df, word_col):
        plan = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        leaves.append({plan.apply(i).nodeName() for i in range(plan.size())})
        return pairs(df, word_col)

    monkeypatch.setattr(corpus_ops, "_bpe_pairs", spy)
    sc = spark.sparkContext
    group = "test_bpe_n_single_corpus_scan"
    sc.setJobGroup(group, group)
    try:
        corpus_ops.x_bpe_rounds_n(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    finally:
        sc._jsc.clearJobGroup()
    assert leaves == [{"InMemoryRelation"}] * (corpus_ops._BPE_N + 1)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 11, jobs


# ---------------------------------------------------------------------------
# recon_layout_compact (§7.6.6)
# ---------------------------------------------------------------------------


def test_layout_compact_hostile_keys_and_null_dates(spark, tmp_path):
    """NULL/negative/int64-extreme keys (NULL shard → v1's default dir;
    pmod vs C-% parity) and NULL dates (both inventories spill to the
    NULL month, which must JOIN across vintages — the eqNullSafe month
    join) through the full oracle."""
    d = str(tmp_path)
    _write_orders(spark, d, _HOSTILE_KEYS)
    _oracle_parity(spark, d, ("recon_layout_compact",))
    rows = [
        (0, 1, "O", 10.0, 0, "5-LOW"),
        (None, 2, "F", 11.0, None, "5-LOW"),   # NULL key AND NULL date
        (5, 3, "P", 12.0, None, "5-LOW"),      # NULL date, real shard
        (-7, 4, "O", 13.0, 40, "5-LOW"),
    ]
    _write_orders_nullable_date(spark, d, rows)
    _oracle_parity(spark, d, ("recon_layout_compact",))


def test_layout_compact_verdict_classes(spark, tmp_path):
    """Independent expectation: a month whose keys all share one shard is
    EQUAL (the migration buys nothing there); a month spanning all 4
    shards is IMPROVED; a month with a NULL key counts the default dir
    as one more v1 file."""
    d = str(tmp_path)
    rows = [
        # month A (day 0): keys 1, 5, 9 — all shard 1 → v1_files = 1
        (1, 1, "O", 1.0, 0, "5-LOW"),
        (5, 1, "O", 1.0, 1, "5-LOW"),
        (9, 1, "O", 1.0, 2, "5-LOW"),
        # month B (day 40): keys 0..3 — all four shards → v1_files = 4
        (0, 2, "O", 1.0, 40, "5-LOW"),
        (2, 2, "O", 1.0, 41, "5-LOW"),
        (7, 2, "O", 1.0, 42, "5-LOW"),
        (13, 2, "O", 1.0, 43, "5-LOW"),
        # month C (day 80): one real shard + a NULL key → v1_files = 2
        (4, 3, "O", 1.0, 80, "5-LOW"),
        (None, 3, "O", 1.0, 81, "5-LOW"),
    ]
    _write_orders_nullable_date(spark, d, rows)
    _oracle_parity(spark, d, ("recon_layout_compact",))
    from reconciliation_hive_data_spark.plans.recon_scale import (
        recon_layout_compact,
    )

    out = {r.o_month: r for r in recon_layout_compact(spark, d).collect()}
    assert (out["2017-07"].v1_files, out["2017-07"].verdict) == (1, "EQUAL")
    assert (out["2017-08"].v1_files, out["2017-08"].verdict) == (4, "IMPROVED")
    assert (out["2017-10"].v1_files, out["2017-10"].verdict) == (2, "IMPROVED")
    assert all(r.v2_files == 1 for r in out.values())
    assert all(r.n_rows_v1 == r.n_rows_v2 for r in out.values())


def test_layout_compact_empty_source(spark, tmp_path):
    d = str(tmp_path)
    _write_orders(spark, d, [])
    _oracle_parity(spark, d, ("recon_layout_compact",))


def test_layout_compact_plan_shape(spark, sf_dir):
    """No cartesian/BNL; each inventory contributes its own aggregate and
    the month-grain join runs on two months-sized frames."""
    from reconciliation_hive_data_spark.plans.recon_scale import (
        recon_layout_compact,
    )

    from .test_plans import plan

    p = plan(recon_layout_compact(spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert p.count(") SortMergeJoin") <= 1, p


# ---------------------------------------------------------------------------
# x_bpe_apply (§7.6.7)
# ---------------------------------------------------------------------------


def test_bpe_apply_known_answer(spark, tmp_path):
    """Vocabulary {ab: 4}: one merge (a,b), rounds 2-3 identity; the
    tokenization is a single 'ab' token per word occurrence — top list
    [('ab', 4)], total_tokens 4, total_chars 8."""
    d = str(tmp_path)
    _write_docs(spark, d, ["ab ab ab", "ab", None])
    _oracle_parity(spark, d, ("x_bpe_apply",))
    from reconciliation_hive_data_spark.plans.corpus_ops import x_bpe_apply

    out = x_bpe_apply(spark, d).collect()
    toks = [(r.rn, r.token, r.cnt) for r in out if r.kind == "token"]
    stats = {r.token: r.cnt for r in out if r.kind == "stat"}
    assert toks == [(1, "ab", 4)]
    assert stats == {"total_tokens": 4, "total_chars": 8}


def test_bpe_apply_mixed_tokens_and_compression(spark, tmp_path):
    """The marker-reformation corpus tokenizes through two stacked merges
    ('aa' then 'aaaa'); leftover single letters coexist with merged
    tokens in the top list, and the stat pair measures the compression."""
    d = str(tmp_path)
    _write_docs(spark, d, ["aaaa aaaa aaaa", "aaaab baaaa", "aaaa aa"])
    _oracle_parity(spark, d, ("x_bpe_apply",))
    from reconciliation_hive_data_spark.plans.corpus_ops import x_bpe_apply

    out = x_bpe_apply(spark, d).collect()
    toks = {r.token: r.cnt for r in out if r.kind == "token"}
    stats = {r.token: r.cnt for r in out if r.kind == "stat"}
    # merges: (a,a) -> chr1, (chr1,chr1) -> chr2, then round 3 ties
    # (chr2,b) vs (b,chr2) at count 1 and the marker-first rule elects
    # (chr2,b) -> chr3 = 'aaaab'. Final vocab: chr2(4), chr3(1),
    # b chr2(1), chr1(1).
    assert toks == {"aaaa": 5, "aaaab": 1, "b": 1, "aa": 1}
    assert stats["total_chars"] == 4 * 4 + 5 + 5 + 2  # 28
    assert stats["total_tokens"] == 4 + 1 + 2 + 1  # 8


def test_bpe_apply_degenerate_corpora(spark, tmp_path):
    """No-merge corpora: single-letter words (tokens == chars) and the
    empty corpus (empty top list; stats both 0)."""
    d = str(tmp_path)
    _write_docs(spark, d, ["a b c", "a a"])
    _oracle_parity(spark, d, ("x_bpe_apply",))
    from reconciliation_hive_data_spark.plans.corpus_ops import x_bpe_apply

    stats = {
        r.token: r.cnt
        for r in x_bpe_apply(spark, d).collect()
        if r.kind == "stat"
    }
    assert stats["total_tokens"] == stats["total_chars"] == 5
    _write_docs(spark, d, [None, ""])
    _oracle_parity(spark, d, ("x_bpe_apply",))
    stats = {
        r.token: r.cnt
        for r in x_bpe_apply(spark, d).collect()
        if r.kind == "stat"
    }
    assert stats == {"total_tokens": 0, "total_chars": 0}


# ---------------------------------------------------------------------------
# r15 signed-zero audit pins outside the embeddings family
# ---------------------------------------------------------------------------


def test_log_centered_tiny_negative_price(spark, tmp_path):
    """udf_pandas emits ROUND(ln(price) - 10, 6): price 22026.46 (2dp,
    money-class-drawable, just below e^10) makes the argument ≈ -2.4e-7 —
    the DuckDB-ROUND-keeps--0.0 class (canonical.py hazard #4), now
    normalized with + 0.0 in the oracle."""
    d = str(tmp_path)
    _write_orders(
        spark,
        d,
        [
            (1, 1, "O", 22026.46, 0, "5-LOW"),   # ln - 10 ≈ -2.4e-7
            (2, 2, "O", 22026.47, 1, "5-LOW"),   # ≈ +2.2e-7 (control)
            (3, 3, "O", 100.0, 2, "5-LOW"),
        ],
    )
    _oracle_parity(spark, d, ("udf_pandas",))


def test_fn_array_all_tiny_negative_vector(spark, tmp_path):
    """fn_array's max_elem rounds an array element: an all-tiny-negative
    vector's max (-1e-30) rounds to -0.0 on DuckDB only — pinned through
    the + 0.0 normalization."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path)
    vecs = [[-1e-30] * 64, [1.0] + [0.0] * 63, [-0.0] * 64]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vecs)), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array(
                    [i % 3 for i in range(len(vecs))], pa.int32()
                ),
            }
        ),
        d + "/embeddings.parquet",
    )
    _oracle_parity(spark, d, ("fn_array",))
