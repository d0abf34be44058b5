"""Property tests for the round-7 operators, beyond oracle parity: each
query's load-bearing invariant is re-derived from an INDEPENDENT
implementation (pyarrow/numpy/python) or from a differently-shaped Spark
plan, so a bug that slipped past the (same-shaped) oracle still fails here.
"""

from __future__ import annotations

import pytest
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from reconciliation_hive_data_spark.plans.corpus_ops import (
    _PACK_CAP,
    _WINDOW,
    x_chunk_docs,
    x_chunk_pack,
)
from reconciliation_hive_data_spark.plans.llm import (
    x_dedup_containment,
    x_dedup_near,
    x_minhash_jaccard_est,
)
from reconciliation_hive_data_spark.plans.recon import recon_null_profile
from reconciliation_hive_data_spark.plans.sketches import join_bloomprune
from reconciliation_hive_data_spark.sources.files import sink_compact


def test_sink_compact_counts_real_files(spark, sf_dir):
    """File counts must come from the physical directory listing and equal
    the write contract's promise: one file per (l_returnflag, shard)
    combo present in the data — recomputed here from the pyarrow-read
    source, not from the sink."""
    rows = {r.l_returnflag: r for r in sink_compact(spark, sf_dir).collect()}
    src = pq.read_table(
        os.path.join(sf_dir, "lineitem.parquet"),
        columns=["l_orderkey", "l_returnflag"],
    ).to_pylist()
    combos: dict[str, set[int]] = {}
    totals: dict[str, int] = {}
    for rec in src:
        combos.setdefault(rec["l_returnflag"], set()).add(rec["l_orderkey"] % 16)
        totals[rec["l_returnflag"]] = totals.get(rec["l_returnflag"], 0) + 1
    assert set(rows) == set(combos)
    for flag, r in rows.items():
        assert r.n_files == len(combos[flag])
        assert r.n_rows == totals[flag]
        assert r.verdict == ("COMPACT" if r.n_files > r.target_files else "OK")
        # ceil semantics: target_files is the least count covering n_rows
        assert (r.target_files - 1) * 800 < r.n_rows <= r.target_files * 800


def test_bloomprune_equals_plain_semijoin(spark, sf_dir):
    """The Bloom stage is physical-only: the result must equal a direct
    (bloom-free, differently-planned) semi-join aggregate."""
    from reconciliation_hive_data_spark.catalog import load

    got = {r.c_mktsegment: r for r in join_bloomprune(spark, sf_dir).collect()}
    urgent = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    plain = (
        load(spark, sf_dir, "customer")
        .join(urgent, "c_custkey", "left_semi")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_acctbal"),
        )
        .collect()
    )
    assert len(plain) == len(got)
    for r in plain:
        g = got[r.c_mktsegment]
        assert g.n_customers == r.n_customers
        assert g.sum_acctbal == r.sum_acctbal


def test_jaccard_est_bounds_and_neardup_consistency(spark, sf_dir):
    """Estimator invariants: every candidate pair shares >= 1 full band
    (n_match >= 2), both jaccards live in [0, 1], est is k/8 exactly,
    filtering the calibration at >= 0.5 reproduces x_dedup_near's pair set
    (same pipeline, independently re-run), and x_dedup_containment's pairs
    are calibration candidates (same LSH candidates, another verifier)."""
    rows = x_minhash_jaccard_est(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 2 <= r.n_match <= 8
        assert r.est_jaccard == r.n_match / 8.0
        assert 0.0 < r.jaccard <= 1.0
        assert abs(r.abs_err - abs(r.est_jaccard - r.jaccard)) == 0.0
    est_pairs = {(r.doc_a, r.doc_b) for r in rows if r.jaccard >= 0.5}
    near_pairs = {(r.doc_a, r.doc_b) for r in x_dedup_near(spark, sf_dir).collect()}
    assert est_pairs == near_pairs
    cand_pairs = {(r.doc_a, r.doc_b) for r in rows}
    cont_pairs = {
        (r.doc_a, r.doc_b) for r in x_dedup_containment(spark, sf_dir).collect()
    }
    assert cont_pairs <= cand_pairs


def test_chunk_pack_conserves_tokens_and_respects_cap(spark, sf_dir):
    """Packing must conserve chunks and tokens exactly (nothing dropped,
    nothing double-packed) and no sequence may overshoot the cap by a full
    chunk (cumsum binning: overshoot < _WINDOW)."""
    chunks = x_chunk_docs(spark, sf_dir).agg(
        F.count("*").alias("n"), F.sum("n_tokens").alias("tok")
    ).first()
    packed = x_chunk_pack(spark, sf_dir).collect()
    assert sum(r.n_chunks for r in packed) == chunks.n
    assert sum(r.seq_tokens for r in packed) == chunks.tok
    for r in packed:
        assert r.seq_tokens < _PACK_CAP + _WINDOW
        assert 1 <= r.n_docs <= r.n_chunks


def test_null_profile_drift_matches_key_arithmetic(spark, sf_dir):
    """The injected drift is an exact function of key arithmetic — recompute
    every target-side count from the pyarrow-read source (independent of
    both Spark and DuckDB) and require equality, not just DRIFT flags."""
    import math

    got = {r.col_name: r for r in recon_null_profile(spark, sf_dir).collect()}
    src = pq.read_table(os.path.join(sf_dir, "orders.parquet")).to_pylist()
    n_status = sum(
        1 for r in src if r["o_orderkey"] % 97 == 0 or r["o_orderstatus"] is None
    )
    n_blank = sum(
        1 for r in src if r["o_orderkey"] % 89 == 0 or r["o_orderpriority"] == ""
    )
    n_nan = sum(
        1
        for r in src
        if r["o_orderkey"] % 101 == 0
        or (r["o_totalprice"] is not None and math.isnan(r["o_totalprice"]))
    )
    assert got["o_orderstatus"].tgt_null == n_status
    assert got["o_orderpriority"].tgt_blank == n_blank
    assert got["o_totalprice"].tgt_nan == n_nan
    # untouched columns must report MATCH; touched ones DRIFT (the fixture
    # guarantees at least one key hits each modulus at every sf)
    for c in ("o_orderkey", "o_custkey", "o_orderdate"):
        assert got[c].status == "MATCH"
    for c in ("o_orderstatus", "o_orderpriority", "o_totalprice"):
        assert got[c].status == "DRIFT"


def test_skew_salted_join_is_row_identical_to_unsalted(spark, sf_dir):
    """The salt must be invisible in the output: the salted shuffle join's
    rows must equal the plain (broadcast-eligible) join's rows bit-exactly
    — same ids, same shares — and every event must appear exactly once
    (a salt-replication bug would duplicate or drop fact rows)."""
    from reconciliation_hive_data_spark.catalog import load
    from reconciliation_hive_data_spark.plans.scale_ops import join_skew_salted

    got = join_skew_salted(spark, sf_dir)
    ev = load(spark, sf_dir, "events")
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()
    dim = ev.groupBy("event_type").agg(
        F.count("*").alias("type_n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("type_sum"),
    )
    plain = (
        ev.join(F.broadcast(dim), "event_type")
        .select(
            "event_id",
            "event_type",
            "type_n",
            (F.col("value") / F.col("type_sum")).alias("value_share"),
        )
    )
    assert got.exceptAll(plain).count() == 0
    assert plain.exceptAll(got).count() == 0


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@pytest.mark.soak
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    k=st.integers(min_value=1, max_value=32),
    rows=st.lists(
        st.tuples(st.integers(0, 999), st.sampled_from(["a", "b", "c", "d"])),
        min_size=1,
        max_size=24,
        unique_by=lambda t: t[0],
    ),
)
def test_salted_join_is_salt_count_invariant(spark, k, rows):
    """salted_join must be row-identical to the plain join for ANY salt
    count k — inner (every fact key present in dim) and left (key 'd' has
    no dim row, so its fact rows must survive exactly once with nulls).
    A replication bug (missing salt value, off-by-one sequence bound,
    salt-type mismatch) breaks one of these for some k."""
    from reconciliation_hive_data_spark.plans.scale_ops import salted_join

    fact = spark.createDataFrame(rows, "id long, key string")
    dim = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "key string, payload int"
    )
    for how in ("inner", "left"):
        got = salted_join(fact, dim, ["key"], "id", k, how=how)
        plain = fact.join(dim, "key", how)
        assert got.exceptAll(plain).count() == 0
        assert plain.exceptAll(got).count() == 0


def test_salted_join_survives_null_salt_source(spark):
    """A NULL salt_src value must not lose the row: crc32(NULL) is NULL,
    so without the coalesce the fact row's salt is NULL, the equi-join on
    keys+__salt finds no dim replica, and the row is dropped (inner) or
    wrongly null-padded (left) — breaking the documented row-identical
    guarantee (r7 ADVICE item)."""
    from reconciliation_hive_data_spark.plans.scale_ops import salted_join

    fact = spark.createDataFrame(
        [(1, "a"), (None, "a"), (None, "b"), (3, "d")], "id long, key string"
    )
    dim = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "key string, payload int"
    )
    for how in ("inner", "left"):
        got = salted_join(fact, dim, ["key"], "id", 8, how=how)
        plain = fact.join(dim, "key", how)
        assert got.exceptAll(plain).count() == 0
        assert plain.exceptAll(got).count() == 0


def test_dedup_embed_matches_numpy_all_pairs(spark, sf_dir):
    """The bucket equi-join candidate generation must find EXACTLY the
    pairs a brute-force all-pairs numpy recompute finds — a lost
    bucket-boundary pair (off-by-one in the home±1 explode, a wrong
    bucket width vs the √0.002 bound) shows up here as a missing row."""
    import numpy as np

    from reconciliation_hive_data_spark.plans.llm import x_dedup_embed

    got = {
        (r.vec_a, r.vec_b)
        for r in x_dedup_embed(spark, sf_dir).collect()
    }
    tbl = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).to_pylist()
    rows = [(r["vec_id"], r["label"], np.array(r["embedding"], dtype=np.float64)) for r in tbl]
    rows += [
        (vid + 1000000, lab, emb) for vid, lab, emb in rows if vid % 100 == 0
    ]
    expected = set()
    for i, (ia, la, ea) in enumerate(rows):
        for ib, lb, eb in rows[i + 1 :]:
            if la != lb:
                continue
            va, vb = (ia, ib) if ia < ib else (ib, ia)
            cos = float(ea @ eb) / (np.linalg.norm(ea) * np.linalg.norm(eb))
            if cos >= 0.999 - 1e-12:
                expected.add((va, vb))
    # symmetric epsilon band: exclude pairs whose numpy cosine sits within
    # 1e-9 of the threshold from the strict equality (engine fold order
    # may land the other side, same guard as the doc-outliers test)
    borderline = {
        (va, vb)
        for i, (ia, la, ea) in enumerate(rows)
        for ib, lb, eb in rows[i + 1 :]
        if la == lb
        for va, vb in [((ia, ib) if ia < ib else (ib, ia))]
        if abs(
            float(ea @ eb) / (np.linalg.norm(ea) * np.linalg.norm(eb)) - 0.999
        )
        < 1e-9
    }
    assert got - borderline == expected - borderline
