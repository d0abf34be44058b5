"""Exactness backstops for the rows-only registry entries and for the
Python hash reference behind fn_hash_spark's oracle.

``fn_hash_spark``'s oracle carries xxhash64, crc32 and Murmur3 as a VALUES
table computed by ``functions/hashref.py`` (a reference that does not use
Spark) and ``zlib.crc32``. The tests here pin that reference against
Spark on the byte lengths the 1..2000 domain never reaches (xxhash64's 8-
and 32-byte lanes, tails of every length, non-ASCII and NUL), and check
crc32/sha256 per row against Python ``zlib``/``hashlib``.

``x_multimodal_binary`` (binary + Python UDF) keeps its byte-exact
pyarrow recompute. ``s_watermark`` stays uncovered by design: its
late-row drop set depends on micro-batch arrival order, which a batch
twin cannot reproduce.
"""

from __future__ import annotations

import hashlib
import os
import random
import zlib

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from reconciliation_hive_data_spark.functions import hashref
from reconciliation_hive_data_spark.functions.scalars import fn_hash_spark
from reconciliation_hive_data_spark.plans.llm import x_multimodal_binary

# Known answers of Spark's specified hashes (xxhash64 with default seed 42;
# Murmur3 via F.hash).
_XX64_RECON_HIVE = 6725705221551110458
_MURMUR3_RECON = 836002276

# Byte-length buckets of xxhash64's code paths: tail only, 4-byte word,
# 8-byte lanes, 32-byte stripes.
_LENGTH_BUCKETS = ((0, 4), (4, 8), (8, 32), (32, 140))


def _seeded_strings(n: int = 320, seed: int = 7) -> list[str]:
    """``n`` strings spread evenly over ``_LENGTH_BUCKETS`` (by UTF-8 byte
    length), drawn from ASCII, 2-, 3- and 4-byte characters and NUL."""
    rng = random.Random(seed)
    alphabet = "abcXYZ019 -\x00éß€中😀"
    out = []
    for i in range(n):
        lo, hi = _LENGTH_BUCKETS[i % len(_LENGTH_BUCKETS)]
        target = rng.randrange(lo, hi)
        s = ""
        while len(s.encode()) < target:
            s += rng.choice(alphabet)
        if len(s.encode()) >= hi:  # a multi-byte char overshot the bucket
            s = s[:-1]
        out.append(s)
    return out


def test_fn_hash_spark_known_answers(spark):
    """The Python reference equals Spark's xxhash64 (one and two columns)
    and Murmur3 on every lane, and both give the pinned literals."""
    xx_recon = hashref.xxhash64(b"reconciliation")
    assert hashref.xxhash64(b"hive", xx_recon) == _XX64_RECON_HIVE
    assert hashref.murmur3(b"reconciliation") == _MURMUR3_RECON
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

    strs = _seeded_strings()
    sizes = [len(s.encode()) for s in strs]
    for lo, hi in _LENGTH_BUCKETS:
        assert sum(lo <= b < hi for b in sizes) == len(strs) // len(_LENGTH_BUCKETS)
    assert any("\x00" in s for s in strs)
    assert any(b > len(s) for s, b in zip(strs, sizes))
    pairs = list(zip(strs, strs[1:] + strs[:1]))
    got = (
        spark.createDataFrame(
            list(enumerate(pairs)), "i int, p struct<s: string, t: string>"
        )
        .select(
            "i",
            F.xxhash64("p.s").alias("xx"),
            F.xxhash64("p.s", "p.t").alias("xx2"),
            F.hash("p.s").alias("mm"),
        )
        .collect()
    )
    assert len(got) == len(pairs)
    for r in got:
        s, t = (x.encode() for x in pairs[r.i])
        assert (r.xx, r.xx2, r.mm) == (
            hashref.xxhash64(s),
            hashref.xxhash64(t, hashref.xxhash64(s)),
            hashref.murmur3(s),
        ), pairs[r.i]


def test_fn_hash_spark_crc_sha_match_python(spark, sf_dir):
    """crc32 and sha256 have Python implementations in the standard
    library: every row of the query must match them byte for byte over the
    literal domain, which checks sha256 against a third engine besides
    Spark and DuckDB."""
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
    fn_hash_spark has a full oracle but keeps its 2000 literal-domain rows
    pinned here too."""
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
