"""Exactness backstops for the rows-only registry entries (and the
independent recompute behind fn_hash_spark's pinned oracle).

``fn_hash_spark`` gained a full DuckDB oracle in r8 (Spark-computed known
answers carried as a generated VALUES table); the tests here stay as the
INDEPENDENT leg — per-row comparison against Python ``zlib``/``hashlib``
(no Spark, no DuckDB) over the same literal domain, plus pinned
known-answer literals for the Spark-only hashes (xxhash64 seed-42 and
Murmur3 are specified by Spark and stable across versions — a change is a
correctness event, not noise). Without this leg the oracle would only
prove Spark equals its own generated table.

``x_multimodal_binary`` (binary + Python UDF) keeps its byte-exact
pyarrow recompute. ``s_watermark`` stays uncovered by design: its
late-row drop set depends on micro-batch arrival order, which a batch
twin cannot reproduce.
"""

from __future__ import annotations

import hashlib
import os
import zlib

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from reconciliation_hive_data_spark.functions.scalars import fn_hash_spark
from reconciliation_hive_data_spark.plans.llm import x_multimodal_binary

# Known-answer rows computed once from Spark's specified hash functions
# (xxhash64 with default seed 42; Murmur3 via F.hash).
_XX64_RECON_HIVE = 6725705221551110458
_MURMUR3_RECON = 836002276


def test_fn_hash_spark_known_answers(spark):
    row = (
        spark.range(1)
        .select(
            F.xxhash64(F.lit("reconciliation"), F.lit("hive")).alias("xx"),
            F.hash(F.lit("reconciliation")).alias("mm"),
        )
        .first()
    )
    assert row.xx == _XX64_RECON_HIVE
    assert row.mm == _MURMUR3_RECON


def test_fn_hash_spark_crc_sha_match_python(spark, sf_dir):
    """crc32 and sha256 have independent Python implementations: every row
    of the query must match them byte-for-byte over the literal domain (a
    third engine alongside Spark and the pinned oracle — this is what
    keeps the generated VALUES table honest for crc, and sha256 honest
    beyond the DuckDB recompute)."""
    got = {r.n: r for r in fn_hash_spark(spark, sf_dir).collect()}
    assert len(got) == 2000
    for n, r in got.items():
        raw = str(n).encode()
        assert r.crc == zlib.crc32(raw)
        assert r.sha256 == hashlib.sha256(raw).hexdigest()


def test_rows_only_driver_counts_pinned(spark):
    """Rows-only-by-design queries are externally gated on row count
    ALONE. Pin their sf0.01
    counts (the driver's correctness scale) here so a silent row-count
    drift is caught by every pytest run in between: 720 for s_watermark's
    windowed sessions (byte-identical in every driver row since round 2).
    fn_hash_spark left this cohort in r8 (full oracle) but keeps its 2000
    literal-domain rows — pinned for driver row-count continuity."""
    from reconciliation_hive_data_spark.streaming.stream_ops import s_watermark

    sf001 = "/root/testdata/sf0.01"
    assert fn_hash_spark(spark, sf001).count() == 2000
    assert s_watermark(spark, sf001).count() == 720


def test_multimodal_binary_decoder_is_exact(spark, sf_dir):
    """The stub decoder's outputs are fully determined by the source bytes:
    payload_len == byte length, head_hex == first-8-byte hex, declared_len
    == n_chars — all re-derived here from the pyarrow-read source."""
    got = {r.doc_id: r for r in x_multimodal_binary(spark, sf_dir).collect()}
    src = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"),
        columns=["doc_id", "text", "n_chars"],
    ).to_pylist()
    assert len(src) == len(got)
    for rec in src:
        r = got[rec["doc_id"]]
        raw = rec["text"].encode()
        assert r.mime == "text/plain"
        assert r.payload_len == len(raw)
        assert r.declared_len == rec["n_chars"]
        assert r.head_hex == raw[:8].hex()


def test_bloom_has_no_false_negatives_and_sane_fp_rate(spark, sf_dir):
    """The Bloom pre-filter contract: every true member reports MAYBE
    (zero false negatives — the invariant that makes skipping the big
    join safe), and the false-positive count stays under a loose bound
    for 8192 bits / 4 hashes at fixture cardinality."""
    from reconciliation_hive_data_spark.plans.sketches import sketch_bloom

    rows = {r["verdict"]: r["n"] for r in sketch_bloom(spark, sf_dir).collect()}
    assert "FALSE_NEGATIVE" not in rows  # not even representable, by design
    n_members = rows.get("TRUE_POSITIVE", 0)
    assert n_members > 0
    # m/n >= 8192/1500 bits per key, k=4 -> theoretical fp ~ 2%; allow 10%
    non_members = rows.get("FALSE_POSITIVE", 0) + rows.get("TRUE_NEGATIVE", 0)
    if non_members:
        assert rows.get("FALSE_POSITIVE", 0) / non_members < 0.10


def test_cms_never_underestimates(spark, sf_dir):
    """Count-min guarantees est >= true for every key (collisions only
    ever add), and est == true for keys whose every row is collision-free."""
    from reconciliation_hive_data_spark.plans.sketches import sketch_cms

    rows = sketch_cms(spark, sf_dir).collect()
    assert rows
    assert all(r["est_count"] >= r["true_count"] for r in rows)


def test_hll_estimate_within_expected_error(spark, sf_dir):
    """64 registers -> standard error ~1.04/sqrt(64) = 13%; the raw
    estimator (no bias correction) should still land within 35% on the
    fixture cardinalities."""
    from reconciliation_hive_data_spark.plans.sketches import sketch_hll

    r = sketch_hll(spark, sf_dir).collect()[0]
    assert r["m"] == 64
    rel_err = abs(r["raw_estimate"] - r["exact_distinct"]) / r["exact_distinct"]
    assert rel_err < 0.35
