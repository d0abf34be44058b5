"""LSH variant operators: banded SimHash Hamming-neighborhood search and
the MLlib LSH twins (SURVEY.md §2j alternates).

Three operators complete the near-dup / ANN story beyond plans/llm.py:

- ``x_dedup_simhash_banded`` — the full Charikar scheme: pairs within
  Hamming distance ≤ 3 of each other's 32-bit SimHash, found by band
  blocking (4 × 8-bit pieces; by pigeonhole any pair differing in ≤ 3 bits
  agrees exactly on ≥ 1 piece), candidates verified with
  ``bit_count(xor)``. Deterministic ⇒ fully oracle-checked.
- ``x_dedup_minhash_mllib`` / ``x_sim_brp_mllib`` — the documented MLlib
  path (MinHashLSH / BucketedRandomProjectionLSH): what a user reaches for
  at 100 TB when cross-engine reproducibility is NOT required. Seeded and
  deterministic within one Spark version, but the hash families are
  implementation-defined ⇒ rows-only checks, with the md5-derived
  formulations in plans/llm.py as the hash-verified primary path.

Scale shape: banding keeps candidate generation an equi join on
(band, piece) — cost tracks true near-dup density, not n². The MLlib ops
inherit the same property from their hash-table joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, local_frame
from ..registry import query
from .llm import (
    DOCS_DUP_CTE,
    documents_dup,
    shingles3,
    simhash_from_tokens,
)

# ---------------------------------------------------------------------------
# x_dedup_simhash_banded — Hamming ≤ 3 via 4×8-bit band blocking
# ---------------------------------------------------------------------------

# SimHash over DISTINCT 3-word shingles, not unigram tokens: the fixture
# corpus shares one ~40-word vocabulary, so unigram signatures of unrelated
# docs land within Hamming 3 of each other (measured: 36k pairs at sf0.01 —
# the same degeneration x_dedup_near hit with unigram shingles). 3-word
# shingles are near-unique across unrelated docs ⇒ ~independent signatures
# (expected Hamming ≈ 16) and candidates collapse to true near-dups.
_BANDED_ORACLE = DOCS_DUP_CTE + """
, raw AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents_dup
),
stoks AS (
  SELECT DISTINCT t0.doc_id, t0.tok || ' ' || t1.tok || ' ' || t2.tok AS tok
  FROM raw t0
  JOIN raw t1 ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1
  JOIN raw t2 ON t2.doc_id = t0.doc_id AND t2.pos = t0.pos + 2
),
bits AS (
  SELECT t.doc_id, p.pos,
         CASE WHEN substr(md5(t.tok), p.pos + 1, 1)
                   IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END AS w
  FROM stoks t CROSS JOIN (SELECT unnest(range(0, 32)) AS pos) p
),
sums AS (SELECT doc_id, pos, SUM(w) AS s FROM bits GROUP BY doc_id, pos),
sh AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << pos ELSE 0 END)
              AS BIGINT) AS simhash
  FROM sums GROUP BY doc_id
),
pieces AS (
  SELECT doc_id, simhash, b.b AS band, (simhash >> (b.b * 8)) & 255 AS piece
  FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS b) b
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sa,
                  c.doc_id AS doc_b, c.simhash AS sb
  FROM pieces a JOIN pieces c
    ON a.band = c.band AND a.piece = c.piece AND a.doc_id < c.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM cands WHERE bit_count(xor(sa, sb)) <= 3
"""


@query("x_dedup_simhash_banded", oracle=_BANDED_ORACLE)
def x_dedup_simhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup with a Hamming-≤3 neighborhood (the full Charikar
    scheme, not just signature equality): 32-bit SimHash over distinct
    3-word shingles, split into 4 bands of 8 bits; any pair within Hamming
    3 differs in at most 3 bits, which touch at most 3 bands, so the pair
    agrees EXACTLY on at least one band — candidate generation is an equi
    join on (band, piece), never all-pairs. Candidates are then verified
    with bit_count(xor) ≤ 3. Identical bit ops on both engines ⇒ fully
    hash-checked.

    The signature table is materialized (localCheckpoint) before the band
    self-join: it is doc-count-sized (two columns), while its lineage —
    shingle explode + 32-way md5 aggregate over the corpus — is the
    expensive part. Without the checkpoint both join sides carry that
    lineage and only AQE exchange reuse stops a double (or, post-AQE-replan,
    triple) computation; reuse held in local runs but not under the
    driver's loaded box (r4 bench: 18.3 s vs 2.0 s local). At 100 TB the
    same move is writing the signature index once, never re-deriving it
    per join side."""
    sh = simhash_from_tokens(shingles3(documents_dup(spark, sf_dir))).localCheckpoint()
    pieces = sh.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("band"),
    ).withColumn(
        "piece", F.expr("shiftright(simhash, CAST(band * 8 AS INT)) & CAST(255 AS BIGINT)")
    )
    a = pieces.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"), "band", "piece"
    )
    c = pieces.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"), "band", "piece"
    )
    cands = (
        a.join(c, ["band", "piece"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "sa", "doc_b", "sb")
        .distinct()
    )
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return cands.filter(hamming <= 3).select(
        "doc_a", "doc_b", hamming.cast("int").alias("hamming")
    )


# ---------------------------------------------------------------------------
# x_dedup_minhash_mllib — MLlib MinHashLSH twin (rows-only)
# ---------------------------------------------------------------------------


@query("x_dedup_minhash_mllib", oracle=None)
def x_dedup_minhash_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup via MLlib (seeded): 3-word shingles → binary
    HashingTF vectors → MinHashLSH(4 tables) → approxSimilarityJoin at
    Jaccard distance ≤ 0.5. The production-library path for 100 TB when
    bit-level cross-engine reproducibility is not required; the hash family
    is implementation-defined ⇒ rows-only (the md5-derived x_dedup_near is
    the hash-verified primary). Fixed seed makes the run deterministic
    within one Spark version. 4 hash tables recover the exact same 369
    pairs x_dedup_near verifies at sf0.1 in a quarter of 8 tables' join
    cost (the candidate union grows with table count); 2 tables start
    missing mid-Jaccard pairs.

    The feature table is persisted before the join — the self-join reads it
    from both sides (plus the model transform), so uncached it recomputes
    the shingle→collect_set chain three times (measured 3.3× slower at
    sf0.1). Caching the input is the standard MLlib-LSH usage pattern; the
    cached table is doc-count-sized (one shingle-set row per doc), not
    corpus-sized."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    d = documents_dup(spark, sf_dir)
    sets = (
        shingles3(d)
        .groupBy("doc_id")
        .agg(F.collect_set("tok").alias("shingles"))
        .filter(F.size("shingles") > 0)  # MinHash requires ≥1 non-zero entry
    )
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True
    )
    feats = tf.transform(sets).persist()
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=4, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.5, distCol="jaccard_dist")
    out = (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round("jaccard_dist", 6).alias("jaccard_dist"),
        )
    )
    # Materialize the (tiny) pair result while the feature cache is hot,
    # then RELEASE the cache: returning a lazy plan over a still-persisted
    # doc-count-sized table would pin executor storage for the session
    # lifetime (bench loops, repeated dedup runs). The checkpointed result
    # is dropped by the ContextCleaner when callers let it go.
    out = out.localCheckpoint()
    feats.unpersist()
    return out


# ---------------------------------------------------------------------------
# x_sim_brp_mllib — MLlib BucketedRandomProjectionLSH ANN twin (rows-only)
# ---------------------------------------------------------------------------


@query("x_sim_brp_mllib", oracle=None)
def x_sim_brp_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Euclidean ANN via MLlib BucketedRandomProjectionLSH (seeded):
    embeddings → dense vectors → 4 hash tables → top-10 approximate nearest
    neighbours of the probe vector (vec_id=0, the same probe as
    x_sim_search). The random projections are implementation-defined ⇒
    rows-only; the deterministic sign-signature IVF (x_sim_ivf) is the
    hash-verified primary. The probe vector necessarily arrives driver-side
    — it is the user's query input, not a distributed collect."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = load(spark, sf_dir, "embeddings").withColumn(
        "vec", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    # the probe fetch doubles as the empty guard: no probe row → no
    # neighbours, returned as an EMPTY frame with the output schema
    # (MLlib's fit itself raises on an empty dataset — empty_sweep ledger)
    probe_row = e.filter(F.col("vec_id") == 0).select("vec").head()
    if probe_row is None:
        return local_frame(
            spark, [], e.select("vec_id", "label").schema
        ).withColumn("euclid_dist", F.lit(None).cast("double"))
    probe = probe_row[0]
    lsh = BucketedRandomProjectionLSH(
        inputCol="vec", outputCol="hashes", bucketLength=2.0, numHashTables=4, seed=42
    )
    model = lsh.fit(e)
    nn = model.approxNearestNeighbors(
        e.filter(F.col("vec_id") != 0), probe, 10, distCol="euclid_dist"
    )
    return nn.select("vec_id", "label", F.round("euclid_dist", 6).alias("euclid_dist"))
