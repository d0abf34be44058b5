"""LLM-data-pipeline operators (SURVEY.md §2j + the north-star mandate):
deduplication (exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding
cosine), similarity search (brute-force + bucketed ANN), text analysis
(tokens, TF-IDF, language-ID, quality scoring, fingerprinting) and
multimodal (embedding centroid) — all as single declarative DataFrame
expressions with DuckDB oracle twins.

Determinism: MLlib's MinHashLSH/BucketedRandomProjectionLSH are
seed/impl-nondeterministic across engines, so the LSH family here is
re-derived from md5 — cross-engine reproducible bit-for-bit
(SURVEY.md §7.3.6) — while staying the genuinely scalable formulation:
every stage is a groupBy/join on a band/bucket key, i.e. plain shuffles
that AQE can size, with no all-pairs blowup outside a bucket.

Vector math: element-wise float→double promotion (exact), then identical
left-folds on both engines ⇒ bitwise-equal doubles (DuckDB's native
list_dot_product computes in float32 — probed 2026-08-13 — and is NOT used).

100 TB notes: shingle/minhash stages are linear maps (narrow); candidate
generation joins on (band, signature) so cost scales with true-duplicate
density, not n²; embedding search buckets by sign-signature (IVF-style
coarse quantization) to cut the scan per query; centroids are algebraic
partial aggregations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load
from ..registry import query

# ---------------------------------------------------------------------------
# derived fixtures (FIXTURES.md §B.4) + shared vector helpers
# ---------------------------------------------------------------------------

DOCS_DUP_CTE = """
WITH documents_dup AS (
  SELECT doc_id, text, lang, source, n_chars FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
  FROM documents WHERE doc_id % 50 = 0
)
"""

EMB_DUP_CTE = """
WITH embeddings_dup AS (
  SELECT vec_id, embedding, label FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, embedding, label
  FROM embeddings WHERE vec_id % 100 = 0
)
"""


def documents_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-injected documents fixture, single-scan: the %50==0 echo
    rows come from an ``explode`` over a per-row offset array instead of a
    ``UNION ALL`` of a second filtered scan — every consumer plan reads the
    corpus ONCE (a union re-scans it per reference; at 100 TB that is a
    second full pass for 2% extra rows).
    Multiset identical — only adjacency differs — and every consumer is
    order-insensitive (aggregates, equi-joins, the md5 permutations).
    The oracle-side DOCS_DUP_CTE keeps its UNION ALL spelling."""
    d = load(spark, sf_dir, "documents")
    offs = (
        F.when(F.col("doc_id") % 50 == 0, F.array(F.lit(0), F.lit(1000000)))
        .otherwise(F.array(F.lit(0)))
    )
    dup = (
        d.withColumn("_off", F.explode(offs))
        .withColumn("doc_id", F.col("doc_id") + F.col("_off"))
        .drop("_off")
    )
    # The fixture is one single-row-group file ⇒ the scan is one task, and
    # every narrow op downstream (shingling, 8-way hash explode) would run
    # on one core until the first shuffle. Spread the tiny doc set across
    # the cluster first; at real scale the input arrives multi-file and this
    # repartition collapses to a cheap rebalance of small-file skew.
    return dup.repartition(spark.sparkContext.defaultParallelism, "doc_id")


def embeddings_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-injected embeddings fixture, single-scan (see
    documents_dup — same explode-over-offsets construction, same multiset)."""
    e = load(spark, sf_dir, "embeddings")
    offs = (
        F.when(F.col("vec_id") % 100 == 0, F.array(F.lit(0), F.lit(1000000)))
        .otherwise(F.array(F.lit(0)))
    )
    return (
        e.withColumn("_off", F.explode(offs))
        .withColumn("vec_id", F.col("vec_id") + F.col("_off"))
        .drop("_off")
    )


def dot(a: str, b: str) -> Column:
    """Σ a_i·b_i with float→double promotion and a left fold — the exact
    op-order DuckDB's index-fold twin uses ⇒ bitwise-identical results."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def duck_dot(a: str, b: str) -> str:
    # list_prepend(0.0, ...): seed the fold with +0.0 exactly like the
    # Spark twin's F.aggregate initial value. Seedless list_reduce starts
    # from the first ELEMENT, so an all-(-0.0)-products list (zero vector
    # against a negative one) summed to -0.0 here while Spark's
    # 0.0 + (-0.0) = +0.0 killed the sign — a raw signed-zero divergence
    # in every unrounded cosine emission (r15 full-suite hypothesis find;
    # the sibling ROUND-of-tiny-negative class is normalized with + 0.0
    # at the emission sites).
    return (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, 1 + len({a})),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (x, y) -> x + y)"
    )


def cosine(a: str, b: str) -> Column:
    """try_divide, not ``/``: a zero-norm (corrupt/padded) vector anywhere
    in the corpus would ANSI-abort the whole job on plain division; NULL
    matches DuckDB's x/0 convention and falls out of every >= threshold
    filter (found by the r12 embeddings fuzz)."""
    return F.try_divide(dot(a, b), F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def duck_cosine(a: str, b: str) -> str:
    return (
        f"{duck_dot(a, b)} / (sqrt({duck_dot(a, a)}) * sqrt({duck_dot(b, b)}))"
    )


def tokens(df: DataFrame, distinct: bool) -> DataFrame:
    """(doc_id, tok) pairs; ``distinct`` → set semantics (shingle sets)."""
    arr = F.split("text", " ")
    if distinct:
        arr = F.array_distinct(arr)
    return df.select("doc_id", F.explode(arr).alias("tok"))


def shingles3(df: DataFrame) -> DataFrame:
    """Distinct 3-word shingles per doc, built array-side (zip of the token
    array with its own 1- and 2-shifts) — a narrow map, no window shuffle.

    Docs with fewer than 3 tokens have no 3-shingle and are filtered out
    BEFORE the transform (the same guard _grams8 carries): without it,
    ``sequence(0, size - 3)`` runs DESCENDING for short docs (Spark's
    sequence counts down when end < start) and ``slice(…, 0, 3)`` aborts
    the whole query. Dropping them matches the oracles' positional
    self-join shingle derivation, which yields no rows for short docs."""
    toks = F.split("text", " ")
    return df.filter(F.size(toks) >= 3).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(0, size(split(text, ' ')) - 3),"
                    " k -> concat_ws(' ', slice(split(text, ' '), k + 1, 3)))"
                )
            )
        ).alias("tok"),
    )


def minhash_signatures(toks: DataFrame) -> DataFrame:
    """(doc_id, mh1..mh8, n): the 8 md5-derived min-hashes of each doc's
    shingle set plus its shingle count, in ONE groupBy(doc_id). Each
    permutation is a different min-aggregate over the same shingle rows,
    so there is no ×8 explode and no (doc_id, i) shuffle; the count (the
    Jaccard and containment denominators) rides along."""
    return toks.groupBy("doc_id").agg(
        *[
            F.min(
                F.substring(F.md5(F.concat_ws(":", F.lit(str(i)), F.col("tok"))), 1, 8)
            ).alias(f"mh{i}")
            for i in range(1, 9)
        ],
        F.count("*").alias("n"),
    )


def band_signatures(sigs: DataFrame) -> DataFrame:
    """(doc_id, n, band, sig): 4 LSH bands × 2 rows, each band's signature
    the '|'-joined pair of its min-hashes — built array-side from the mh
    columns and exploded, a narrow map."""
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).cast("bigint").alias("band"),
                F.concat_ws("|", f"mh{2 * b + 1}", f"mh{2 * b + 2}").alias("sig"),
            )
            for b in range(4)
        ]
    )
    return sigs.select("doc_id", "n", F.explode(band_arr).alias("bs")).select(
        "doc_id", "n", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )


def lsh_candidates(bands: DataFrame) -> DataFrame:
    """(doc_a, na, doc_b, nb): distinct pairs with doc_a < doc_b that share
    at least one full band. The equi-join on (band, sig) bounds the
    quadratic term: cost tracks duplicate density, not n²."""
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), "band", "sig"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"), "band", "sig"
    )
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "na", "doc_b", "nb")
        .distinct()
    )


def shingle_overlap(pairs: DataFrame, toks: DataFrame, *carry: str) -> DataFrame:
    """``pairs`` (doc_a, na, doc_b, nb, *carry) plus ``ninter``, the exact
    size of the two docs' shingle-set intersection. ``toks`` is read on both
    sides behind different shuffle keys, so callers persist it (or read it
    from an index) when it also fed the signatures."""
    ta = toks.select(F.col("doc_id").alias("doc_a"), "tok")
    tb = toks.select(F.col("doc_id").alias("doc_b"), "tok")
    return (
        pairs.join(ta, "doc_a")
        .join(tb, ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b", "na", "nb", *carry)
        .agg(F.count("*").alias("ninter"))
    )


# ---------------------------------------------------------------------------
# x_dedup_exact — hash-groupBy exact dedup
# ---------------------------------------------------------------------------

_DEDUP_EXACT_ORACLE = DOCS_DUP_CTE + """
SELECT md5(text) AS text_md5,
       MIN(doc_id) AS survivor_id,
       COUNT(*) AS n_copies
FROM documents_dup GROUP BY md5(text)
"""


@query("x_dedup_exact", oracle=_DEDUP_EXACT_ORACLE)
def x_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, survivor = min doc_id
    (deterministic, SURVEY.md §7.3.4). At 100 TB: hash first, group on the
    16-byte digest, never shuffle the raw text."""
    d = documents_dup(spark, sf_dir)
    return d.groupBy(F.md5("text").alias("text_md5")).agg(
        F.min("doc_id").alias("survivor_id"),
        F.count("*").alias("n_copies"),
    )


# ---------------------------------------------------------------------------
# x_dedup_near — MinHash + LSH banding (md5-derived, cross-engine exact)
# ---------------------------------------------------------------------------

#: shared CTE chain, the DuckDB twin of shingles3 → minhash_signatures →
#: band_signatures → lsh_candidates → shingle_overlap: 3-shingles → 8 md5
#: min-hashes → band signatures → candidate pairs → shingle counts + exact
#: intersections. Each oracle of the family (x_dedup_near,
#: x_dedup_containment, x_minhash_jaccard_est) adds only its own final
#: select, so every query built from those functions is checked against
#: one derivation.
_NEAR_CTES = DOCS_DUP_CTE + """
, raw AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents_dup
),
toks AS (
  SELECT DISTINCT t0.doc_id, t0.tok || ' ' || t1.tok || ' ' || t2.tok AS tok
  FROM raw t0
  JOIN raw t1 ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1
  JOIN raw t2 ON t2.doc_id = t0.doc_id AND t2.pos = t0.pos + 2
),
hashes AS (
  SELECT t.doc_id, i.i,
         substr(md5(CAST(i.i AS VARCHAR) || ':' || t.tok), 1, 8) AS h
  FROM toks t CROSS JOIN (SELECT unnest(range(1, 9)) AS i) i
),
minh AS (SELECT doc_id, i, MIN(h) AS mh FROM hashes GROUP BY doc_id, i),
sigs AS (
  SELECT doc_id, (i - 1) // 2 AS band, string_agg(mh, '|' ORDER BY i) AS sig
  FROM minh GROUP BY doc_id, (i - 1) // 2
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
             AND a.doc_id < b.doc_id
),
tokn AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS ninter
  FROM cands c
  JOIN toks ta ON ta.doc_id = c.doc_a
  JOIN toks tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
  GROUP BY c.doc_a, c.doc_b
)"""

_NEAR_ORACLE = _NEAR_CTES + """
SELECT i.doc_a, i.doc_b,
       ROUND(CAST(i.ninter AS DOUBLE) / (na.n + nb.n - i.ninter), 6) AS jaccard
FROM inter i
JOIN tokn na ON na.doc_id = i.doc_a
JOIN tokn nb ON nb.doc_id = i.doc_b
WHERE CAST(i.ninter AS DOUBLE) / (na.n + nb.n - i.ninter) >= 0.5
"""


@query("x_dedup_near", oracle=_NEAR_ORACLE)
def x_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate detection: 3-word-shingle MinHash (8 perms from md5) →
    LSH bands (4 bands × 2 rows) → candidate join on band signature → exact
    Jaccard verification ≥ 0.5. The md5-derived permutations make the whole
    pipeline reproducible on any engine, unlike MLlib's MinHashLSH; the
    shape (band-key join, verify only candidates) is exactly how dedup runs
    at 100 TB — cost tracks duplicate density, not n².

    Shingle width is load-bearing: UNIGRAM sets over this corpus's ~40-word
    vocabulary overlap so heavily that banding degenerates quadratic
    (measured: 9.6M candidate pairs at sf0.1); 3-gram shingles are
    order-sensitive and near-unique across random docs, so candidates
    collapse to true near-dups (the same reason production dedup shingles
    at n≥3).

    The shingle table is consumed THREE times (the signature aggregate and
    both sides of the intersection verify), each behind a different shuffle
    key — exchange reuse cannot unify them, so without an explicit persist
    the scan + shingle explode runs three times. It is persisted for the
    duration of the query and released after the (tiny) result is
    materialized. At 100 TB this is the persisted-shingle-index pattern
    x_dedup_near_indexed uses: write the shingle and signature index once,
    run every downstream pass against it."""
    toks = shingles3(documents_dup(spark, sf_dir)).persist()
    inter = shingle_overlap(
        lsh_candidates(band_signatures(minhash_signatures(toks))), toks
    )
    j = F.col("ninter").cast("double") / (F.col("na") + F.col("nb") - F.col("ninter"))
    out = inter.filter(j >= 0.5).select(
        "doc_a", "doc_b", F.round(j, 6).alias("jaccard")
    )
    # Materialize the pair result while the shingle cache is hot, then
    # release the cache (same lifecycle as x_dedup_minhash_mllib).
    out = out.localCheckpoint()
    toks.unpersist()
    return out


# ---------------------------------------------------------------------------
# x_dedup_simhash — 32-bit SimHash from md5 nibble sign bits
# ---------------------------------------------------------------------------

#: shared CTE chain computing per-doc 32-bit SimHash signatures (``sh``)
#: from documents_dup — used by x_dedup_simhash here and the banded
#: Hamming-neighborhood variant in plans/lsh_variants.py
SIMHASH_SH_CTES = """
, toks AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents_dup
),
bits AS (
  SELECT t.doc_id, p.pos,
         CASE WHEN substr(md5(t.tok), p.pos + 1, 1)
                   IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END AS w
  FROM toks t CROSS JOIN (SELECT unnest(range(0, 32)) AS pos) p
),
sums AS (SELECT doc_id, pos, SUM(w) AS s FROM bits GROUP BY doc_id, pos),
sh AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << pos ELSE 0 END)
              AS BIGINT) AS simhash
  FROM sums GROUP BY doc_id
)
"""

_SIMHASH_ORACLE = DOCS_DUP_CTE + SIMHASH_SH_CTES + """
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash AS simhash
FROM sh a JOIN sh b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
"""


def simhash_from_tokens(toks: DataFrame) -> DataFrame:
    """(doc_id, simhash) — 32-bit SimHash from (doc_id, tok) feature rows,
    bit p = sign of the token-weight sum at p (weight ±1 from the top bit
    of md5 hex digit p). The classic Charikar scheme re-derived from md5
    for cross-engine determinism. The feature choice matters: unigram
    tokens for equality grouping (x_dedup_simhash), 3-word shingles for
    Hamming-neighborhood search (x_dedup_simhash_banded) — unigrams over a
    small shared vocabulary put unrelated docs within small Hamming
    distance of each other.

    Shape: 32 conditional ±1 sums in ONE groupBy(doc_id) — a single
    map-side-combining shuffle of the feature rows. The naive alternative
    (explode each feature ×32 positions, then aggregate (doc_id, pos))
    shuffles 32× the rows for identical results."""
    hashed = toks.select("doc_id", F.md5("tok").alias("h"))
    sums = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.substring("h", p + 1, 1).isin(
                        "8", "9", "a", "b", "c", "d", "e", "f"
                    ),
                    1,
                ).otherwise(-1)
            ).alias(f"s{p}")
            for p in range(32)
        ]
    )
    sig = None
    for p in range(32):
        bit = F.when(F.col(f"s{p}") > 0, F.lit(1 << p).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sig = bit if sig is None else sig + bit
    return sums.select("doc_id", sig.cast("bigint").alias("simhash"))


@query("x_dedup_simhash", oracle=_SIMHASH_ORACLE)
def x_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: identical docs collide exactly; near-identical docs
    land within small Hamming distance. Emits same-signature (Hamming-0)
    pairs; the banded Hamming-≤3 neighborhood search is
    x_dedup_simhash_banded (plans/lsh_variants.py). The doc-count-sized
    signature table is checkpointed before the self-join so the md5
    aggregation chain runs once regardless of exchange-reuse (see the
    banded variant's docstring for the measured driver-side cost)."""
    sh = simhash_from_tokens(
        tokens(documents_dup(spark, sf_dir), distinct=True)
    ).localCheckpoint()
    a, b = sh.alias("a"), sh.alias("b")
    return a.join(
        b,
        (F.col("a.simhash") == F.col("b.simhash"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.simhash").alias("simhash"),
    )


# ---------------------------------------------------------------------------
# x_dedup_ngram — word-bigram Jaccard within (lang, source) blocks
# ---------------------------------------------------------------------------

_NGRAM_ORACLE = DOCS_DUP_CTE + """
, toks AS (
  SELECT doc_id, lang, source, tok, pos
  FROM (SELECT doc_id, lang, source,
               unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents_dup)
),
grams AS (
  SELECT DISTINCT a.doc_id, a.lang, a.source, a.tok || ' ' || b.tok AS gram
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
gn AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
pairs AS (
  SELECT ga.doc_id AS doc_a, gb.doc_id AS doc_b, COUNT(*) AS ninter
  FROM grams ga
  JOIN grams gb ON ga.lang = gb.lang AND ga.source = gb.source
               AND ga.gram = gb.gram AND ga.doc_id < gb.doc_id
  GROUP BY ga.doc_id, gb.doc_id
)
SELECT p.doc_a, p.doc_b,
       ROUND(CAST(p.ninter AS DOUBLE) / (na.n + nb.n - p.ninter), 6) AS jaccard
FROM pairs p JOIN gn na ON na.doc_id = p.doc_a JOIN gn nb ON nb.doc_id = p.doc_b
WHERE CAST(p.ninter AS DOUBLE) / (na.n + nb.n - p.ninter) >= 0.8
"""


@query("x_dedup_ngram", oracle=_NGRAM_ORACLE)
def x_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram (word-bigram) Jaccard dedup, blocked by (lang, source):
    blocking keys bound the pair space — the difference between n² and
    feasible at scale. Bigram sets preserve word order that unigram Jaccard
    ignores. Reports pairs with J ≥ 0.8."""
    d = documents_dup(spark, sf_dir)
    toks = d.select(
        "doc_id",
        "lang",
        "source",
        F.posexplode(F.split("text", " ")).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = (
        toks.withColumn("nxt", F.lead("tok").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(
            "doc_id",
            "lang",
            "source",
            F.concat_ws(" ", "tok", "nxt").alias("gram"),
        )
        .distinct()
    )
    gn = grams.groupBy("doc_id").agg(F.count("*").alias("n"))
    ga = grams.select(
        F.col("doc_id").alias("doc_a"), "lang", "source", "gram"
    )
    gb = grams.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("source").alias("source_b"),
        F.col("gram").alias("gram_b"),
    )
    pairs = (
        ga.join(
            gb,
            (F.col("lang") == F.col("lang_b"))
            & (F.col("source") == F.col("source_b"))
            & (F.col("gram") == F.col("gram_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("ninter"))
    )
    na = gn.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = gn.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    j = F.col("ninter").cast("double") / (F.col("na") + F.col("nb") - F.col("ninter"))
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(j >= 0.8)
        .select("doc_a", "doc_b", F.round(j, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# x_dedup_embed — embedding-cosine near-dup (injected exact dups)
# ---------------------------------------------------------------------------

_EMBED_DEDUP_ORACLE = EMB_DUP_CTE + f"""
, n AS (
  SELECT vec_id, label, embedding,
         sqrt({duck_dot('embedding', 'embedding')}) AS nrm
  FROM embeddings_dup
)
SELECT vec_a, vec_b, label, ROUND(cos_raw, 6) + 0.0 AS cos_sim FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
         {duck_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) AS cos_raw
  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
) WHERE cos_raw >= 0.999 AND NOT isnan(cos_raw)
"""
# ^ NOT isnan (r13 embeddings fuzz): DuckDB's NaN-is-greatest made a
# NaN cosine (NaN-component vector) satisfy >= 0.999; NaN means
# "incomparable" here, the same verdict as the zero-norm NULL.


#: Bucket width for the first-coordinate blocking key: cos ≥ 0.999 ⟹
#: ‖û−v̂‖² = 2(1−cos) ≤ 0.002 ⟹ |Δc0| ≤ √0.002 ≈ 0.044721 < _EMBED_W,
#: so a qualifying pair's floor(c0/_EMBED_W) buckets differ by AT MOST 1.
_EMBED_W = 0.0448


@query("x_dedup_embed", oracle=_EMBED_DEDUP_ORACLE)
def x_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: same-label pairs with cosine ≥ 0.999.
    Finds the injected duplicate vectors exactly.

    Candidate generation is an EQUI-join on a derived blocking key, not an
    all-pairs-within-label join: cos ≥ 0.999 ⟹ ‖û−v̂‖² = 2(1−cos) ≤
    0.002 ⟹ the first normalized coordinates differ by ≤ √0.002 ≈
    0.04472 < _EMBED_W, so a qualifying pair's floor(c0/_EMBED_W) buckets
    differ by at most 1. Side A explodes to its home bucket ± 1 (×3 rows)
    and joins side B's home bucket — each qualifying pair matches exactly
    ONCE (B has one home bucket), so no dedup is needed, and no
    qualifying pair can be lost (necessary condition). This moved the
    coordinate pruning from a post-join filter into the join KEY:
    measured 3.05 s → 0.89 s at sf0.1, bit-identical output. At 100 TB
    the same shape holds — shuffle volume is 3×|corpus| + bucket-local
    pairs instead of label-local all-pairs; the label and the second
    coordinate's 0.0448 bound remain filters inside the join.

    Norms and the two normalized coordinates are precomputed per vector
    BEFORE the pair join (linear work), and the table is localCheckpoint'd
    so the 64-wide norm fold doesn't re-run once per join side (exchange
    reuse doesn't cover the two differently-projected sides)."""
    e = embeddings_dup(spark, sf_dir)
    n = e.withColumn("nrm", F.sqrt(dot("embedding", "embedding")))
    # try_divide: a zero-norm vector has no direction — NULL coordinates
    # give it a NULL bucket (never equi-joined) and it can never qualify
    # as a near-dup, instead of ANSI-aborting the job (r12 embeddings fuzz)
    n = (
        n.withColumn(
            "c0", F.try_divide(F.element_at("embedding", 1), F.col("nrm"))
        )
        .withColumn(
            "c1", F.try_divide(F.element_at("embedding", 2), F.col("nrm"))
        )
        .withColumn("b0", F.floor(F.col("c0") / _EMBED_W).cast("long"))
        .localCheckpoint()
    )
    a = n.select(
        F.col("vec_id").alias("vec_a"),
        F.col("label"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
        F.col("c0").alias("c0a"),
        F.col("c1").alias("c1a"),
        F.explode(
            F.array(F.col("b0") - 1, F.col("b0"), F.col("b0") + 1)
        ).alias("jb"),
    )
    b = n.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label").alias("label_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
        F.col("c0").alias("c0b"),
        F.col("c1").alias("c1b"),
        F.col("b0").alias("jb"),
    )
    coord_bound = (F.abs(F.col("c0a") - F.col("c0b")) <= _EMBED_W) & (
        F.abs(F.col("c1a") - F.col("c1b")) <= _EMBED_W
    )
    cos = F.try_divide(dot("ea", "eb"), F.col("na") * F.col("nb"))
    return (
        a.join(b, ["jb"])
        .filter(
            (F.col("label") == F.col("label_b"))
            & (F.col("vec_a") < F.col("vec_b"))
            & coord_bound
        )
        # NaN exclusion (r13 embeddings fuzz): a NaN-component vector has a
        # NaN norm and NaN cosine — "incomparable", same verdict as the
        # r12 zero-norm NULL. Without the guard each engine's NaN-is-
        # greatest comparison admits a different pair subset: Spark's
        # coord_bound drops NaN pairs (NaN <= W is false) but a pair of
        # Inf vectors (finite c0, NaN cosine) would pass `>= 0.999`,
        # while the oracle's all-pairs spelling admits every NaN pair.
        # nanvl→NULL (not a ~isnan conjunct): NULL falls out of `>=` with
        # the SAME verdict, and the single predicate keeps the 64-element
        # dot fold evaluated ONCE per candidate pair — the two-conjunct
        # spelling inlined the fold twice and measured 0.55 → 1.6 s.
        .withColumn(
            "cos_sim_raw", F.nanvl(cos, F.lit(None).cast("double"))
        )
        .filter(F.col("cos_sim_raw") >= 0.999)
        .select(
            "vec_a", "vec_b", "label", F.round("cos_sim_raw", 6).alias("cos_sim")
        )
    )


# ---------------------------------------------------------------------------
# x_sim_search — brute-force cosine top-k (the exact baseline)
# ---------------------------------------------------------------------------

_SIM_SEARCH_ORACLE = f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, e.label,
         {duck_cosine('e.embedding', 'q.qe')} AS cos_raw
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> 0
)
SELECT vec_id, label, ROUND(cos_raw, 6) + 0.0 AS cos_sim
FROM scored ORDER BY cos_raw DESC, vec_id LIMIT 10
"""


@query("x_sim_search", oracle=_SIM_SEARCH_ORACLE)
def x_sim_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against the probe vector (vec_id=0,
    FIXTURES.md §B.6), self-match excluded, vec_id tie-break. The exact
    baseline every ANN variant (x_sim_ivf) is judged against. Plans as a
    broadcast of the 1-row query side + TakeOrderedAndProject."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", cosine("embedding", "qe").alias("cos_raw"))
    )
    return (
        scored.orderBy(F.col("cos_raw").desc(), F.col("vec_id"))
        .limit(10)
        .select("vec_id", "label", F.round("cos_raw", 6).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# x_sim_ivf — sign-signature bucketed ANN (IVF-style coarse quantization)
# ---------------------------------------------------------------------------


def ivf_sig() -> Column:
    """The deterministic 8-bit sign signature of a vector's first 8 dims —
    the IVF-centroid stand-in shared by x_sim_ivf and x_dedup_semantic
    (single source so the two ops can never bucket differently).
    get(), not embedding[i-1] (r13 embeddings fuzz): ordinal access on a
    truncated/empty vector ABORTS the job (INVALID_ARRAY_INDEX); get()
    returns NULL out of bounds, NULL > 0 is false, so missing dims
    contribute sign-bit 0 — same as the oracle's NULL-yielding b[i]."""
    return F.aggregate(
        F.expr(
            "transform(sequence(1, 8), i -> CASE WHEN CAST(get(embedding, i-1) AS DOUBLE) > 0"
            " THEN CAST(shiftleft(CAST(1 AS BIGINT), i - 1) AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END)"
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


#: DuckDB twin of :func:`ivf_sig` over table alias-free `embedding`.
IVF_SIG_SQL = """CAST(list_reduce(list_transform(range(1, 9),
              i -> CASE WHEN CAST(embedding[i] AS DOUBLE) > 0
                        THEN CAST(1 AS BIGINT) << (i - 1) ELSE 0 END),
              (x, y) -> x + y) AS BIGINT)"""


_SIM_IVF_ORACLE = f"""
WITH b AS (
  SELECT vec_id, label, embedding,
         CAST(list_reduce(list_transform(range(1, 9),
              i -> CASE WHEN CAST(embedding[i] AS DOUBLE) > 0
                        THEN CAST(1 AS BIGINT) << (i - 1) ELSE 0 END),
              (x, y) -> x + y) AS BIGINT) AS bucket
  FROM embeddings
),
q AS (SELECT embedding AS qe, bucket AS qb FROM b WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, e.label, e.bucket,
         {duck_cosine('e.embedding', 'q.qe')} AS cos_raw
  FROM b e JOIN q ON e.bucket = q.qb
  WHERE e.vec_id <> 0
)
SELECT vec_id, label, bucket, ROUND(cos_raw, 6) + 0.0 AS cos_sim
FROM scored ORDER BY cos_raw DESC, vec_id LIMIT 10
"""


@query("x_sim_ivf", oracle=_SIM_IVF_ORACLE)
def x_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10: coarse-quantize every vector to an 8-bit sign signature
    of its first 8 dims (a deterministic stand-in for IVF centroids), search
    only the query's bucket. ~1/256 of the scan per probe at uniform spread —
    the inverted-file structure at scale is a partition-pruned read on
    bucket. Deterministic ⇒ fully oracle-checked (unlike MLlib LSH)."""
    e = load(spark, sf_dir, "embeddings")
    # signature via the shared ivf_sig() helper (docstring there carries
    # the r13 get()-not-ordinal note); identical expression, shared with
    # x_dedup_semantic so the two ops can never bucket differently
    b = e.withColumn("bucket", ivf_sig())
    q = b.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), F.col("bucket").alias("qb")
    )
    scored = (
        b.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q), F.col("bucket") == F.col("qb"))
        .select("vec_id", "label", "bucket", cosine("embedding", "qe").alias("cos_raw"))
    )
    return (
        scored.orderBy(F.col("cos_raw").desc(), F.col("vec_id"))
        .limit(10)
        .select("vec_id", "label", "bucket", F.round("cos_raw", 6).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# x_dedup_semantic — SemDeDup-style within-bucket semantic prune (round 18)
# ---------------------------------------------------------------------------

_SEM_TAU = 0.99

_SEM_ORACLE = EMB_DUP_CTE + f"""
, n AS (
  SELECT vec_id, embedding,
         {IVF_SIG_SQL} AS bucket,
         sqrt({duck_dot('embedding', 'embedding')}) AS nrm
  FROM embeddings_dup
),
-- equal-length guard: Spark's zip_with pads the SHORTER array with NULL
-- (dot NULL, cos NULL, pair excluded) while duck_dot ranges over the
-- FIRST argument's length (a shorter first side would yield a partial,
-- non-NULL dot) — the explicit guard makes the engines agree; a NULL
-- embedding has NULL len and falls out the same way
w AS (
  SELECT a.vec_id, MIN(b.vec_id) AS witness_id
  FROM n a JOIN n b ON a.bucket = b.bucket AND b.vec_id < a.vec_id
  WHERE len(a.embedding) = len(b.embedding)
    AND {duck_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm)
        >= {_SEM_TAU}
  GROUP BY 1
)
SELECT n.vec_id,
       n.bucket,
       CASE WHEN w.witness_id IS NULL THEN 'keep' ELSE 'drop' END AS action,
       CAST(w.witness_id AS BIGINT) AS witness_id
FROM n LEFT JOIN w ON n.vec_id = w.vec_id
"""


@query("x_dedup_semantic", oracle=_SEM_ORACLE)
def x_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic prune (SURVEY §7.14 vet note; Abbas et al.
    2023, arXiv:2303.09540): coarse-cluster embeddings, keep ONE member
    of every within-cluster semantic-duplicate group, emit the
    write-ready verdict list — (vec_id, bucket, action keep/drop,
    witness_id). Our deterministic formulation keeps the op fully
    oracle-checkable where the paper's fitted k-means would not be:

    - cluster = :func:`ivf_sig`'s 8-bit sign signature (the shared IVF
      centroid stand-in — x_sim_ivf buckets identically by construction);
    - a vector DROPS iff some LOWER-id vector in the same bucket has
      cosine >= 0.99 with it; the reported witness is the MINIMUM such
      id. Keep-earliest greedy on vec_id (unique — the registered dup
      fixture derives +1M ids, the documented injectivity precondition),
      independent of the witness's own verdict — exactly the paper's
      cluster-prune semantics with vec_id as keep priority.

    Cross-engine float story (all existing probed conventions, §7.14
    note): the threshold compare sees BIT-IDENTICAL doubles — dot() and
    duck_dot() fold float32→double products in identical index order
    with identical +0.0 seeds (the r15 signed-zero closure), and norms
    multiply in the same order — so a cosine landing exactly on 0.99
    cannot fork the engines. Zero-norm vectors: try_divide / DuckDB x/0
    both yield NULL → never drop, never witness (r12 fuzz convention).
    Different-length pairs: Spark's zip_with NULL-pads → NULL cos; the
    oracle mirrors it with an explicit equal-length guard (duck_dot
    alone would compute a partial dot when the FIRST side is shorter).
    NULL/short vectors take sign-bit 0 for missing dims (get()
    convention, ivf_sig docstring).

    Runs over embeddings_dup (the +1M exact-duplicate injection), so
    drop traffic exists at every sf: each injected twin drops with its
    original (or an earlier cosine-duplicate) as witness.

    Scale shape: the signature + norm pass is one linear scan
    (localCheckpointed — both pair sides and the final attach reuse it
    without re-deriving); candidate generation is an EQUI-join on
    bucket — never all-pairs (the IVF prune; at 100 TB widen the
    signature to cap bucket size, the same knob x_sim_ivf documents, or
    swap in x_dedup_embed's coordinate-bucket key for threshold-lossless
    pruning); the witness MIN is bucket-local and map-side combinable;
    the verdict list is corpus-sized with NO wide payload (embeddings
    stay out of the final projection). The cross-bucket recall trade is
    the paper's own: near-dups straddling a sign boundary are missed by
    design (pinned in tests), the price of never scanning all pairs."""
    e = embeddings_dup(spark, sf_dir)
    n = (
        e.select("vec_id", ivf_sig().alias("bucket"), "embedding")
        .withColumn("nrm", F.sqrt(dot("embedding", "embedding")))
        .localCheckpoint()
    )
    a = n.select(
        F.col("vec_id").alias("id_a"),
        F.col("bucket").alias("bucket_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = n.select(
        F.col("vec_id").alias("id_b"),
        F.col("bucket").alias("bucket_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    wit = (
        a.join(
            b,
            (F.col("bucket_a") == F.col("bucket_b"))
            & (F.col("id_b") < F.col("id_a")),
        )
        .filter(
            F.try_divide(dot("ea", "eb"), F.col("na") * F.col("nb"))
            >= F.lit(_SEM_TAU)
        )
        .groupBy("id_a")
        .agg(F.min("id_b").alias("witness_id"))
    )
    return (
        n.join(wit, n["vec_id"] == wit["id_a"], "left")
        .select(
            "vec_id",
            F.col("bucket").cast("bigint").alias("bucket"),
            F.when(F.col("witness_id").isNull(), "keep")
            .otherwise("drop")
            .alias("action"),
            F.col("witness_id").cast("bigint").alias("witness_id"),
        )
        .localCheckpoint()  # corpus-sized; driver count+collect reuse
    )


# ---------------------------------------------------------------------------
# x_sim_recall — ANN recall calibration (exact top-k vs IVF top-k, round 18)
# ---------------------------------------------------------------------------

_RECALL_K = 10

_RECALL_COS_GUARD = """CASE WHEN len({v}) = len(q.qe)
              THEN {dot} / ({nrm} * q.qn) END"""

_SIM_RECALL_ORACLE = f"""
WITH n AS (
  SELECT vec_id, embedding,
         {IVF_SIG_SQL} AS bucket,
         sqrt({duck_dot('embedding', 'embedding')}) AS nrm
  FROM embeddings
),
q AS (
  SELECT vec_id AS qid, bucket AS qb, embedding AS qe, nrm AS qn
  FROM n WHERE ((vec_id % 100) + 100) % 100 = 1
),
-- equal-length guard: same asymmetry x_dedup_semantic documents
-- (duck_dot ranges over the FIRST argument's length; Spark's zip_with
-- NULL-pads), so different-length pairs are excluded identically
sc AS (
  SELECT q.qid, q.qb, n.vec_id, n.bucket,
         {_RECALL_COS_GUARD.format(v='n.embedding',
                                   dot=duck_dot('n.embedding', 'q.qe'),
                                   nrm='n.nrm')} AS cos
  FROM n, q WHERE n.vec_id <> q.qid
),
sc2 AS (SELECT * FROM sc WHERE cos IS NOT NULL),
ex AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id)
             AS rn
    FROM sc2
  ) WHERE rn <= {_RECALL_K}
),
iv AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id)
             AS rn
    FROM sc2 WHERE bucket = qb
  ) WHERE rn <= {_RECALL_K}
),
exc AS (SELECT qid, COUNT(*) AS n_exact FROM ex GROUP BY 1),
ivc AS (SELECT qid, COUNT(*) AS n_ivf FROM iv GROUP BY 1),
hit AS (
  SELECT ex.qid, COUNT(*) AS n_hit
  FROM ex JOIN iv ON ex.qid = iv.qid AND ex.vec_id = iv.vec_id
  GROUP BY 1
)
SELECT q.qid,
       CAST(COALESCE(exc.n_exact, 0) AS BIGINT) AS n_exact,
       CAST(COALESCE(ivc.n_ivf, 0) AS BIGINT) AS n_ivf,
       CAST(COALESCE(hit.n_hit, 0) AS BIGINT) AS n_hit,
       COALESCE(hit.n_hit, 0) / 10.0 AS recall_at_10
FROM q LEFT JOIN exc ON q.qid = exc.qid
       LEFT JOIN ivc ON q.qid = ivc.qid
       LEFT JOIN hit ON q.qid = hit.qid
"""


@query("x_sim_recall", oracle=_SIM_RECALL_ORACLE)
def x_sim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall calibration (SURVEY §7.14 r19-queue vet note, built
    same-round per the r15/r17 late-vet precedent) — the embedding twin
    of x_minhash_jaccard_est: for the deterministic query sample
    (``pmod(vec_id, 100) == 1``), compare the EXACT cosine top-10 over
    the whole corpus against x_sim_ivf's bucket-restricted top-10 (the
    shared :func:`ivf_sig` quantizer) and report per query

      (qid, n_exact, n_ivf, n_hit, recall_at_10)

    — the measurement that justifies trusting the IVF prune at scale,
    exactly what x_minhash_jaccard_est does for MinHash banding.
    recall_at_10 is a RAW double division by the constant k (the
    repo-wide small-int-ratio convention — never engine ROUND); sub-k
    corpora report their true list sizes with the same denominator
    (documented, no LEAST fork). Ranks are total on both engines:
    cosines are bit-identical (shared fold order + seeds) and ties
    break by vec_id — the x_sim_ivf precedent. The query's self-row is
    excluded; NULL cosines (zero-norm / NULL / length-mismatched
    vectors, with the oracle's equal-length guard) fall out of both
    lists identically.

    Plan shape, by side: the EXACT side broadcasts the sample-sized
    query frame against one corpus scan — a deliberate
    BroadcastNestedLoopJoin (whitelisted in the plan lint): brute-force
    scoring has no equi key BY DEFINITION, the build side is bounded by
    the 1%% sample, and per-partition window partials keep the top-k
    exchange sample-sized. This is the calibration COST the op exists
    to price — at 100 TB you run it on a sampled corpus slice, the same
    story x_minhash_jaccard_est documents for its exact-Jaccard side.
    The IVF side is an EQUI-join on bucket (sample × bucket-mates —
    metadata-sized). The per-vector signature+norm table derives once,
    localCheckpointed, and feeds the query sample, both scoring sides,
    and nothing else; counts and the hit intersection are qid-keyed
    equi-joins."""
    e = load(spark, sf_dir, "embeddings")
    n = (
        e.select("vec_id", ivf_sig().alias("bucket"), "embedding")
        .withColumn("nrm", F.sqrt(dot("embedding", "embedding")))
        .localCheckpoint()
    )
    q = n.filter(F.pmod(F.col("vec_id"), F.lit(100)) == 1).select(
        F.col("vec_id").alias("qid"),
        F.col("bucket").alias("qb"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    cos = F.try_divide(dot("embedding", "qe"), F.col("nrm") * F.col("qn"))

    def topk(scored: DataFrame) -> DataFrame:
        w = Window.partitionBy("qid").orderBy(
            F.col("cos").desc(), F.col("vec_id")
        )
        return (
            scored.filter(F.col("cos").isNotNull())
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _RECALL_K)
            .select("qid", "vec_id")
        )

    exact = topk(
        n.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .withColumn("cos", cos)
    )
    ivf = topk(
        n.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("qb"))
            & (F.col("vec_id") != F.col("qid")),
        ).withColumn("cos", cos)
    )
    exc = exact.groupBy("qid").agg(F.count("*").alias("n_exact"))
    ivc = ivf.groupBy("qid").agg(F.count("*").alias("n_ivf"))
    hit = (
        exact.join(ivf, ["qid", "vec_id"])
        .groupBy("qid")
        .agg(F.count("*").alias("n_hit"))
    )
    zero = F.lit(0).cast("bigint")
    return (
        q.select("qid")
        .join(exc, "qid", "left")
        .join(ivc, "qid", "left")
        .join(hit, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_exact", zero).alias("n_exact"),
            F.coalesce("n_ivf", zero).alias("n_ivf"),
            F.coalesce("n_hit", zero).alias("n_hit"),
            (F.coalesce("n_hit", zero) / F.lit(10.0)).alias("recall_at_10"),
        )
        .localCheckpoint()  # sample-sized; driver count+collect reuse
    )


# ---------------------------------------------------------------------------
# x_sim_pairs — top-3 most-similar pairs per label
# ---------------------------------------------------------------------------

_SIM_PAIRS_ORACLE = f"""
WITH n AS (
  SELECT vec_id, label, embedding,
         sqrt({duck_dot('embedding', 'embedding')}) AS nrm
  FROM embeddings
),
pairs AS (
  SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
         {duck_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) AS cos_raw
  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT label, vec_a, vec_b, ROUND(cos_raw, 6) + 0.0 AS cos_sim, rn FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY label
                                    ORDER BY cos_raw DESC, vec_a, vec_b)
                 AS BIGINT) AS rn
  FROM pairs
) WHERE rn <= 3
"""


@query("x_sim_pairs", oracle=_SIM_PAIRS_ORACLE)
def x_sim_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine within each label block, keep top-3 pairs per label
    (rank deterministic via (vec_a, vec_b) tie-break). The label is the
    blocking key bounding the quadratic term; norms are precomputed per
    vector so pair rows evaluate a single fold (see x_dedup_embed)."""
    e = load(spark, sf_dir, "embeddings")
    n = e.withColumn("nrm", F.sqrt(dot("embedding", "embedding")))
    a = n.select(
        "label",
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = n.select(
        F.col("label").alias("label_b"),
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    pairs = a.join(
        b, (F.col("label") == F.col("label_b")) & (F.col("vec_a") < F.col("vec_b"))
    ).select(
        "label",
        "vec_a",
        "vec_b",
        # try_divide: zero-norm vectors NULL out instead of ANSI-aborting
        F.try_divide(dot("ea", "eb"), F.col("na") * F.col("nb")).alias("cos_raw"),
    )
    w = Window.partitionBy("label").orderBy(
        F.col("cos_raw").desc(), F.col("vec_a"), F.col("vec_b")
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select("label", "vec_a", "vec_b", F.round("cos_raw", 6).alias("cos_sim"), "rn")
    )


# ---------------------------------------------------------------------------
# x_text_tokens — term frequencies per language
# ---------------------------------------------------------------------------

_TOKENS_ORACLE = """
WITH toks AS (
  SELECT lang, unnest(string_split(lower(text), ' ')) AS term FROM documents
),
tf AS (SELECT lang, term, COUNT(*) AS n FROM toks GROUP BY lang, term)
SELECT lang, term, n, rn FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, term)
                 AS BIGINT) AS rn
  FROM tf
) WHERE rn <= 10
"""


@query("x_text_tokens", oracle=_TOKENS_ORACLE)
def x_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize → top-10 terms per language by frequency."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(F.split(F.lower("text"), " ")).alias("term"))
    tf = toks.groupBy("lang", "term").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("term"))
    return tf.withColumn("rn", F.row_number().over(w).cast("bigint")).filter(
        F.col("rn") <= 10
    )


# ---------------------------------------------------------------------------
# x_text_tfidf — pure-SQL TF-IDF, top-3 terms per doc
# ---------------------------------------------------------------------------

_TFIDF_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) AS tfidf_raw
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
)
SELECT doc_id, term, ROUND(tfidf_raw, 6) AS tfidf, rn FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf_raw DESC, term) AS BIGINT) AS rn
  FROM scored
) WHERE rn <= 3
"""


@query("x_text_tfidf", oracle=_TFIDF_ORACLE)
def x_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF (smoothed idf = ln((N+1)/(df+1))) with top-3 terms per doc.
    Two aggregations + a join — no MLlib needed; both aggs are algebraic."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    # N as a broadcast 1-row DataFrame, not a driver-side d.count(): the
    # whole operator stays ONE lazy plan (no extra job, composable), and the
    # corpus size rides along as a broadcast variable exactly like the SQL
    # twin's CROSS JOIN n.
    n = d.agg(F.count("*").alias("n_docs"))
    scored = tf.join(dfreq, "term").crossJoin(F.broadcast(n)).select(
        "doc_id",
        "term",
        (
            F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
        ).alias("tfidf_raw"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf_raw").desc(), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", F.round("tfidf_raw", 6).alias("tfidf"), "rn")
    )


# ---------------------------------------------------------------------------
# x_text_langid — n-gram-lexicon language ID heuristic
# ---------------------------------------------------------------------------

_LANGID_LEXICON = {
    "en": ["the", "a", "of", "and", "fast"],
    "de": ["der", "die", "das", "und", "nicht"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
    "zh": ["的", "是", "了", "在", "不"],
}

_LANGID_SCORE_SQL = " + ".join(
    f"(CASE WHEN ' ' || text || ' ' LIKE '% {w} %' THEN 1 ELSE 0 END)"
    for w in _LANGID_LEXICON["en"]
)

_LANGID_ORACLE = f"""
SELECT doc_id, lang AS labeled_lang,
       CASE WHEN ({_LANGID_SCORE_SQL}) > 0 THEN 'en' ELSE 'und' END
         AS predicted_lang,
       CAST({_LANGID_SCORE_SQL} AS INT) AS en_hits
FROM documents
"""


@query("x_text_langid", oracle=_LANGID_ORACLE)
def x_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: score text against per-language stopword
    lexicons; argmax wins ('und' when nothing matches). The synthetic corpus
    shares one English-ish vocabulary across lang labels (verified at survey
    time), so only the en lexicon fires — the operator is the real pipeline
    shape; swap lexicons for real corpora."""
    d = load(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    hits = None
    for w in _LANGID_LEXICON["en"]:
        h = F.when(padded.like(f"% {w} %"), 1).otherwise(0)
        hits = h if hits is None else hits + h
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.when(hits > 0, "en").otherwise("und").alias("predicted_lang"),
        hits.cast("int").alias("en_hits"),
    )


# ---------------------------------------------------------------------------
# x_text_quality — document quality scoring
# ---------------------------------------------------------------------------

_QUALITY_ORACLE = """
WITH t AS (
  SELECT doc_id, lang, n_chars,
         CAST(length(text) AS BIGINT) AS text_len,
         string_split(text, ' ') AS toks
  FROM documents
),
m AS (
  SELECT doc_id, lang, n_chars, text_len,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
         CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'of'))) AS BIGINT)
           AS n_stop
  FROM t
)
SELECT doc_id, lang, n_tokens, n_distinct,
       ROUND(CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS type_token_ratio,
       ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
       ROUND(CAST(text_len AS DOUBLE) / n_tokens, 6) AS avg_token_span,
       (text_len = n_chars) AS len_consistent
FROM m
"""


@query("x_text_quality", oracle=_QUALITY_ORACLE)
def x_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality metrics per doc: token count, type/token ratio, stopword
    ratio, average token span, and a metadata-consistency check
    (n_chars == length(text)) — the filter features of a pretraining-data
    quality gate."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks).cast("bigint")
    n_distinct = F.size(F.array_distinct(toks)).cast("bigint")
    n_stop = F.size(
        F.filter(toks, lambda x: x.isin("the", "a", "of"))
    ).cast("bigint")
    text_len = F.length("text").cast("bigint")
    return d.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct"),
        F.round(n_distinct.cast("double") / n_tokens, 6).alias("type_token_ratio"),
        F.round(n_stop.cast("double") / n_tokens, 6).alias("stopword_ratio"),
        F.round(text_len.cast("double") / n_tokens, 6).alias("avg_token_span"),
        (text_len == F.col("n_chars")).alias("len_consistent"),
    )


# ---------------------------------------------------------------------------
# x_text_tokcount — whitespace + BPE-ish token counting
# ---------------------------------------------------------------------------

_TOKCOUNT_ORACLE = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]{1,4}|[0-9]|[^a-zA-Z0-9 ]'))
            AS BIGINT) AS bpe_ish_tokens,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS char_estimate
FROM documents
"""


@query("x_text_tokcount", oracle=_TOKCOUNT_ORACLE)
def x_text_tokcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace tokens, a BPE-ish regex
    (sub-word chunks of ≤4 letters, digits, punctuation — the pre-tokenizer
    shape real BPE vocabularies induce), and the chars/4 rule of thumb.
    The budget arithmetic behind every pretraining data mix."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("ws_tokens"),
        F.size(
            F.expr("regexp_extract_all(text, '[a-zA-Z]{1,4}|[0-9]|[^a-zA-Z0-9 ]', 0)")
        )
        .cast("bigint")
        .alias("bpe_ish_tokens"),
        F.ceil(F.length("text") / 4.0).cast("bigint").alias("char_estimate"),
    )


# ---------------------------------------------------------------------------
# x_text_fingerprint — rolling-hash (winnowing-lite) fingerprint
# ---------------------------------------------------------------------------

_FPRINT_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
),
grams AS (
  SELECT t0.doc_id,
         md5(t0.tok || ' ' || t1.tok || ' ' || t2.tok || ' ' || t3.tok) AS gh
  FROM toks t0
  JOIN toks t1 ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1
  JOIN toks t2 ON t2.doc_id = t0.doc_id AND t2.pos = t0.pos + 2
  JOIN toks t3 ON t3.doc_id = t0.doc_id AND t3.pos = t0.pos + 3
)
SELECT doc_id, MIN(gh) AS fingerprint, COUNT(DISTINCT gh) AS n_grams
FROM grams GROUP BY doc_id
"""


@query("x_text_fingerprint", oracle=_FPRINT_ORACLE)
def x_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: hash every rolling word 4-gram, keep the min
    (winnowing with one band) + distinct-gram count. Equal fingerprints ⇒
    shared 4-gram content — the containment-detection primitive."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = (
        toks.withColumn("t1", F.lead("tok", 1).over(w))
        .withColumn("t2", F.lead("tok", 2).over(w))
        .withColumn("t3", F.lead("tok", 3).over(w))
        .filter(F.col("t3").isNotNull())
        .select(
            "doc_id",
            F.md5(F.concat_ws(" ", "tok", "t1", "t2", "t3")).alias("gh"),
        )
    )
    return grams.groupBy("doc_id").agg(
        F.min("gh").alias("fingerprint"),
        F.countDistinct("gh").alias("n_grams"),
    )


# ---------------------------------------------------------------------------
# x_corpus_clean — composed cleaning pipeline (quality gate → exact dedup)
# ---------------------------------------------------------------------------

_CORPUS_CLEAN_ORACLE = DOCS_DUP_CTE + """
, scored AS (
  SELECT doc_id, text, lang, source, n_chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS ttr
  FROM documents_dup
),
gated AS (
  SELECT * FROM scored
  WHERE n_tokens >= 10 AND ttr >= 0.3 AND length(text) = n_chars
),
dedup AS (
  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM gated
)
SELECT doc_id, lang, source, n_tokens, ROUND(ttr, 6) AS ttr
FROM dedup WHERE rn = 1
"""


@query("x_corpus_clean", oracle=_CORPUS_CLEAN_ORACLE)
def x_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline the individual operators exist
    for: quality gate (min tokens, type/token ratio, metadata consistency) →
    exact dedup (min-doc_id survivor per content hash) → surviving corpus.
    Single declarative plan: the gate is a pushable filter, the dedup one
    shuffle on the 16-byte content hash — at 100 TB this IS the shape of a
    cleaning run, with near-dup banding (x_dedup_near) slotted between the
    gate and the exact dedup."""
    d = documents_dup(spark, sf_dir)
    toks = F.split("text", " ")
    n_tokens = F.size(toks).cast("bigint")
    ttr = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    gated = (
        d.withColumn("n_tokens", n_tokens)
        .withColumn("ttr", ttr)
        .filter(
            (F.col("n_tokens") >= 10)
            & (F.col("ttr") >= 0.3)
            & (F.length("text") == F.col("n_chars"))
        )
    )
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        gated.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("doc_id", "lang", "source", "n_tokens", F.round("ttr", 6).alias("ttr"))
    )


# ---------------------------------------------------------------------------
# x_multimodal — per-label embedding centroid (typed-array column ops)
# ---------------------------------------------------------------------------

_MULTIMODAL_ORACLE = """
WITH flat AS (
  SELECT label,
         generate_subscripts(embedding, 1) - 1 AS pos,
         round(CAST(unnest(embedding) AS DOUBLE), 6) AS x
  FROM embeddings
)
SELECT label, CAST(pos AS INT) AS pos,
       CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS centroid,
       COUNT(*) AS n_vecs
FROM flat GROUP BY label, pos
"""


@query("x_multimodal", oracle=_MULTIMODAL_ORACLE)
def x_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the 64-d embeddings: posexplode → exact decimal
    mean per (label, dim). Elements are rounded to 6 dp before the decimal
    sum — float32 values never sit on 6-dp midpoints (dyadic-rational
    argument, canonical.py), so both engines recover identical decimals and
    the mean is order-independent. The multimodal pattern: array columns
    flatten to (key, pos, value), aggregate algebraically, re-assemble."""
    e = load(spark, sf_dir, "embeddings")
    flat = e.select(
        "label", F.posexplode("embedding").alias("pos", "xf")
    ).select(
        "label",
        F.col("pos").cast("int").alias("pos"),
        F.round(F.col("xf").cast("double"), 6).alias("x"),
    )
    return flat.groupBy("label", "pos").agg(
        (
            F.sum(F.col("x").cast("decimal(18,6)")).cast("double") / F.count("*")
        ).alias("centroid"),
        F.count("*").alias("n_vecs"),
    )


# ---------------------------------------------------------------------------
# x_multimodal_binary — opaque-binary column plumbing (decode stubbed)
# ---------------------------------------------------------------------------


_MULTIMODAL_BIN_ORACLE = """
SELECT doc_id,
       'text/plain' AS mime,
       CAST(strlen(text) AS INT) AS payload_len,
       CAST(n_chars AS INT) AS declared_len,
       lower(hex(substr(text, 1, 8))) AS head_hex
FROM documents
"""


@query("x_multimodal_binary", oracle=_MULTIMODAL_BIN_ORACLE)
def x_multimodal_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column pipeline: documents.text stands in as an
    opaque ``binary`` payload with typed metadata, processed by an
    Arrow-batched mapInPandas 'decoder'. The real decode (image/audio libs)
    is STUBBED with a deterministic fake — byte length + first-8-byte
    digest — because the codec libraries are not in this container; the
    Spark-side plumbing (binary schema, batch iteration, output schema) is
    real and is what matters at scale. The fake is deterministic on
    purpose, which upgrades even this UDF-plumbing query to a full
    oracle: DuckDB recomputes byte length and head-hex from the text
    (ASCII fixture ⇒ char offsets == byte offsets on both engines)."""
    import pandas as pd  # noqa: PLC0415 — executor-side import pattern

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("text").cast("binary").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.col("n_chars").cast("int").alias("declared_len"),
        ).alias("meta"),
    )

    out_schema = (
        "doc_id bigint, mime string, payload_len int, declared_len int, head_hex string"
    )

    def decode_batches(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": [m["mime"] for m in pdf["meta"]],
                    "payload_len": [len(b) for b in pdf["payload"]],
                    "declared_len": [m["declared_len"] for m in pdf["meta"]],
                    # deterministic fake for the real decoder (see docstring)
                    "head_hex": [bytes(b[:8]).hex() for b in pdf["payload"]],
                }
            )

    return d.mapInPandas(decode_batches, out_schema)


# ---------------------------------------------------------------------------
# x_dedup_containment — asymmetric shingle containment (quote/subset dup)
# ---------------------------------------------------------------------------

_CONTAIN_ORACLE = _NEAR_CTES + """
SELECT i.doc_a, i.doc_b,
       CAST(i.ninter AS DOUBLE) / LEAST(na.n, nb.n) AS containment
FROM inter i
JOIN tokn na ON na.doc_id = i.doc_a
JOIN tokn nb ON nb.doc_id = i.doc_b
WHERE CAST(i.ninter AS DOUBLE) / LEAST(na.n, nb.n) >= 0.9
"""


@query("x_dedup_containment", oracle=_CONTAIN_ORACLE)
def x_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup: |A∩B| / min(|A|,|B|) >= 0.9 over
    3-word shingle sets. Jaccard misses subset duplication — a short doc
    fully quoted inside a long one scores |A|/|B| (small) on Jaccard but
    ~1.0 on containment; this is the gate that catches quote/extract
    duplication in training corpora. Candidates and intersections come
    from the same minhash_signatures → band_signatures → lsh_candidates →
    shingle_overlap pipeline as x_dedup_near (one LSH index serves both
    verifiers); only the verification statistic differs. The
    containment ratio is emitted RAW (int/int double division is
    bit-identical cross-engine; engine-native ROUND on an arbitrary real
    is the midpoint class canonical.py §2 forbids). The shingle table
    persists for its three consumers and is released after the pair
    result materializes."""
    toks = shingles3(documents_dup(spark, sf_dir)).persist()
    inter = shingle_overlap(
        lsh_candidates(band_signatures(minhash_signatures(toks))), toks
    )
    # Plain `/` cannot divide by zero: na/nb are groupBy-count outputs — a
    # group exists only with >= 1 shingle row, so least(na, nb) >= 1 and the
    # ANSI zero-denominator abort is unreachable.
    cont = F.col("ninter").cast("double") / F.least("na", "nb")
    out = inter.filter(cont >= 0.9).select(
        "doc_a", "doc_b", cont.alias("containment")
    )
    out = out.localCheckpoint()
    toks.unpersist()
    return out


# ---------------------------------------------------------------------------
# x_minhash_jaccard_est — signature-estimated vs exact Jaccard
# ---------------------------------------------------------------------------

_JACC_EST_ORACLE = _NEAR_CTES + """
, matches AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_match
  FROM cands c
  JOIN minh a ON a.doc_id = c.doc_a
  JOIN minh b ON b.doc_id = c.doc_b AND b.i = a.i AND b.mh = a.mh
  GROUP BY c.doc_a, c.doc_b
)
SELECT m.doc_a, m.doc_b,
       CAST(m.n_match AS INT) AS n_match,
       m.n_match / 8.0 AS est_jaccard,
       CAST(i.ninter AS DOUBLE) / (na.n + nb.n - i.ninter) AS jaccard,
       ABS(m.n_match / 8.0
           - CAST(i.ninter AS DOUBLE) / (na.n + nb.n - i.ninter)) AS abs_err
FROM matches m
JOIN inter i ON i.doc_a = m.doc_a AND i.doc_b = m.doc_b
JOIN tokn na ON na.doc_id = m.doc_a
JOIN tokn nb ON nb.doc_id = m.doc_b
"""


@query("x_minhash_jaccard_est", oracle=_JACC_EST_ORACLE)
def x_minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash calibration: for every LSH candidate pair, the
    signature-estimated Jaccard (matching min-hash components / 8 — the
    unbiased MinHash estimator) side by side with the EXACT shingle-set
    Jaccard, plus the absolute estimation error. This is the measurement
    that justifies trusting x_dedup_near's banding at scale: it
    quantifies, per pair, how far the 8-permutation signature strays from
    truth (the md5-derived twin of what x_dedup_minhash_mllib can only
    rows-only-check, since MLlib's hash family is implementation-defined).

    Determinism: est = k/8 is a dyadic rational (exact in binary floating
    point — no decimal-midpoint hazard, per the canonical.py rule that
    small-integer ratios are emitted RAW, never rounded); the exact
    Jaccard and the error are single IEEE divisions/subtractions over
    bit-identical integers on both engines.

    Plan shape = x_dedup_near's (same shingle table persisted across the
    signature aggregate and both intersection sides, same band-key
    candidate join bounding the quadratic term), plus one extra
    broadcast-sized join attaching the 8 signature columns to each
    candidate pair. At 100 TB the calibration runs on a SAMPLE of
    candidate pairs (a deterministic mod filter on (doc_a, doc_b) slots in
    before the verify joins with the identical plan); the fixture corpus
    is small enough to calibrate every pair, which is also what the oracle
    must reproduce."""
    toks = shingles3(documents_dup(spark, sf_dir)).persist()
    # base has THREE consumers here (band signatures + both per-side
    # signature attaches) — persisted so the 8-permutation aggregate over
    # the shingle table runs once, not three times (the doc-count-sized
    # frame is cache-cheap at any scale).
    base = minhash_signatures(toks).persist()
    cands = lsh_candidates(band_signatures(base))
    # attach both signatures (doc-count-sized table, 8 short strings/row)
    ma = base.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(1, 9)],
    )
    mb = base.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(1, 9)],
    )
    n_match = None
    for i in range(1, 9):
        eq = (F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
        n_match = eq if n_match is None else n_match + eq
    est = (
        cands.join(ma, "doc_a")
        .join(mb, "doc_b")
        .select("doc_a", "doc_b", "na", "nb", n_match.alias("n_match"))
    )
    inter = shingle_overlap(est, toks, "n_match")
    exact = F.col("ninter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("ninter")
    )
    est_j = F.col("n_match") / F.lit(8.0)
    out = inter.select(
        "doc_a",
        "doc_b",
        F.col("n_match").cast("int").alias("n_match"),
        est_j.alias("est_jaccard"),
        exact.alias("jaccard"),
        F.abs(est_j - exact).alias("abs_err"),
    )
    out = out.localCheckpoint()
    base.unpersist()
    toks.unpersist()
    return out
