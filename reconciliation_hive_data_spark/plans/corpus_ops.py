"""Corpus-preparation operators (rounds 2 and 6): transforms a pretraining
data pipeline runs between "cleaned corpus" and "training shards", plus the
round-6 corpus-analysis trio (``x_knn_graph``, ``x_token_pmi``,
``x_doc_outliers``) — see each docstring for the scale shape.

- ``x_chunk_docs`` — overlapping token-window chunking (window 64, stride
  48): the context-window prep step that turns documents into model-sized
  pieces. Entirely narrow: tokenize → start offsets via an array
  ``sequence`` → ``posexplode`` — zero shuffles at any scale (plan-test
  asserted), because chunking is per-document and never needs another row.
  Trailing windows fully contained in the previous one are dropped (the
  standard rule: a new chunk must contribute at least stride new tokens,
  except the first).
- ``x_embed_quantize`` — scalar uint8 quantization of the embedding
  column: global [min, max] over all elements → per-element code
  ``floor((v - min) / (max - min) * 256)`` clamped to 255. The stats side
  is a 1-row two-phase aggregate broadcast back over the corpus (the same
  broadcast-scalar shape as x_text_tfidf's doc count), so the whole
  operator is one narrow pass plus a driver-free 1-row exchange. ``floor``
  (not ``round``) keeps the code grid exactly reproducible cross-engine:
  no decimal-midpoint rule is ever consulted (canonical.py hazard #2).
  At 100 TB this is the 4× storage/IO lever before ANN indexing
  (x_sim_ivf consumes the same vectors); codes are exact integers, so
  shards reconcile byte-for-byte after requantization.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load, local_frame
from ..registry import query
from .llm import dot, duck_dot

# ---------------------------------------------------------------------------
# x_chunk_docs — overlapping token-window chunking
# ---------------------------------------------------------------------------

_WINDOW = 64
_STRIDE = 48

#: shared CTE chain producing the chunk table (doc_id, toks, n, chunk_idx,
#: c_start) — consumed by x_chunk_docs' final projection here and re-packed
#: into training sequences by x_chunk_pack below. Concatenation reproduces
#: the pre-split _CHUNK_ORACLE byte-for-byte (oracle-snapshot stability).
_CHUNK_CTES = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents
),
s AS (
  SELECT doc_id, toks, n,
         list_filter(range(0, n, {_STRIDE}),
                     x -> x = 0 OR x < n - {_WINDOW - _STRIDE}) AS starts
  FROM t
),
e AS (
  SELECT doc_id, toks, n,
         generate_subscripts(starts, 1) - 1 AS chunk_idx,
         unnest(starts) AS c_start
  FROM s
)"""

_CHUNK_ORACLE = _CHUNK_CTES + f"""
SELECT doc_id,
       CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(c_start AS INT) AS chunk_start,
       CAST(LEAST({_WINDOW}, n - c_start) AS INT) AS n_tokens,
       md5(array_to_string(
         list_slice(toks, c_start + 1, c_start + {_WINDOW}), ' ')) AS chunk_md5
FROM e
"""


@query("x_chunk_docs", oracle=_CHUNK_ORACLE)
def x_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document into 64-token chunks with 16-token overlap
    (stride 48). Start offsets are an array-side ``sequence`` filtered to
    drop trailing windows that add fewer than stride new tokens; the md5
    of each chunk's text is the shard-level identity later dedup/recon
    stages key on. Narrow end-to-end: the output is chunk-count-sized but
    no row ever crosses a partition boundary."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    keep_new_tokens = _WINDOW - _STRIDE
    starts = F.filter(
        F.sequence(F.lit(0), n - 1, F.lit(_STRIDE)),
        lambda s: (s == 0) | (s < n - keep_new_tokens),
    )
    exploded = d.select(
        "doc_id", "text", F.posexplode(starts).alias("chunk_idx", "chunk_start")
    )
    toks2 = F.split("text", " ")
    n2 = F.size(toks2)
    chunk_text = F.concat_ws(
        " ", F.slice(toks2, F.col("chunk_start") + 1, F.lit(_WINDOW))
    )
    return exploded.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("chunk_start").cast("int").alias("chunk_start"),
        F.least(F.lit(_WINDOW), n2 - F.col("chunk_start"))
        .cast("int")
        .alias("n_tokens"),
        F.md5(chunk_text).alias("chunk_md5"),
    )


# ---------------------------------------------------------------------------
# x_embed_quantize — scalar uint8 quantization of the embedding column
# ---------------------------------------------------------------------------

_QUANT_ORACLE = """
WITH stats AS (
  SELECT CAST(MIN(list_min(embedding)) AS DOUBLE) AS mn,
         CAST(MAX(list_max(embedding)) AS DOUBLE) AS mx
  FROM embeddings
)
SELECT vec_id,
       CAST(len(embedding) AS INT) AS n_dims,
       array_to_string(list_transform(embedding,
         v -> CAST(LEAST(FLOOR((CAST(v AS DOUBLE) - mn) / (mx - mn) * 256),
                         255) AS INT)), ',') AS codes,
       mn AS scale_min,
       mx AS scale_max
FROM embeddings, stats
"""


@query("x_embed_quantize", oracle=_QUANT_ORACLE)
def x_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uint8 scalar quantization: one global [min, max] (1-row broadcast)
    and a narrow per-element ``floor`` onto the 256-level grid. Codes are
    exact integers — float→double promotion, subtraction, division and
    floor are bit-deterministic IEEE ops evaluated with identical
    association on both engines, so the full code string is hash-checked
    (not rows-only). Per-dimension (rather than global) scales would be
    the quality upgrade at scale: same plan with a posexplode + 64-row
    broadcast instead of the 1-row one."""
    e = load(spark, sf_dir, "embeddings")
    stats = e.agg(
        F.min(F.array_min("embedding")).cast("double").alias("mn"),
        F.max(F.array_max("embedding")).cast("double").alias("mx"),
    )
    mn, mx = F.col("mn"), F.col("mx")
    # try_divide: a zero-range corpus (every element identical) has no
    # grid — NULL quotient, and least() skips NULLs to the 255 clamp on
    # BOTH engines, instead of ANSI-aborting the job (r12 embeddings
    # fuzz; the perdim variant gained the same guard in r10).
    # nanvl (r13 embeddings fuzz): a NaN quotient (NaN component, or a
    # NaN/±Inf-poisoned grid) must not reach Spark's floor — floor casts
    # double→long with Java semantics, turning NaN into code 0, while
    # DuckDB's FLOOR keeps NaN and its NaN-is-greatest LEAST clamps to
    # 255. NaN→NULL routes both engines to the same 255 clamp.
    codes = F.transform(
        "embedding",
        lambda v: F.least(
            F.floor(
                F.nanvl(
                    F.try_divide(v.cast("double") - mn, mx - mn) * 256,
                    F.lit(None).cast("double"),
                )
            ),
            F.lit(255),
        ).cast("int"),
    )
    return e.crossJoin(F.broadcast(stats)).select(
        "vec_id",
        F.size("embedding").cast("int").alias("n_dims"),
        F.concat_ws(",", codes.cast("array<string>")).alias("codes"),
        mn.alias("scale_min"),
        mx.alias("scale_max"),
    )


# ---------------------------------------------------------------------------
# x_embed_quantize_perdim — per-dimension uint8 quantization
# ---------------------------------------------------------------------------

_QUANT_PERDIM_ORACLE = """
WITH flat AS (
  SELECT vec_id,
         unnest(embedding) AS x,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings
),
stats AS (
  SELECT pos,
         CAST(MIN(x) AS DOUBLE) AS mn,
         CAST(MAX(x) AS DOUBLE) AS mx
  FROM flat GROUP BY pos
),
codes AS (
  SELECT f.vec_id, f.pos,
         CAST(LEAST(FLOOR((CAST(f.x AS DOUBLE) - s.mn) / (s.mx - s.mn) * 256),
                    255) AS INT) AS code
  FROM flat f JOIN stats s USING (pos)
)
SELECT vec_id,
       CAST(COUNT(*) AS INT) AS n_dims,
       string_agg(code, ',' ORDER BY pos) AS codes
FROM codes GROUP BY vec_id
"""


@query("x_embed_quantize_perdim", oracle=_QUANT_PERDIM_ORACLE)
def x_embed_quantize_perdim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension uint8 quantization — the quality upgrade over
    x_embed_quantize's single global scale: each of the 64 dimensions gets
    its own [min, max] grid, so a dimension with small dynamic range keeps
    its resolution instead of collapsing into a few global levels.
    Plan: posexplode → 64-row per-dimension stats aggregate → broadcast
    join back on pos → floor onto the 256-level grid → re-assemble codes
    in pos order (array_sort over collected (pos, code) structs — no
    second window shuffle). Same cross-engine exactness argument as the
    global variant: float→double promotion, subtraction, division and
    floor consult no midpoint rule. The stats side is dims-count-sized
    (64 rows at any corpus scale) — always broadcastable."""
    e = load(spark, sf_dir, "embeddings")
    flat = e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "xf")
    ).select("vec_id", "pos", F.col("xf").cast("double").alias("x"))
    stats = flat.groupBy("pos").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    # try_divide: a zero-range dimension (constant column, or a 1-row
    # corpus) yields NULL, and least() skips nulls on BOTH engines, so the
    # degenerate code lands on 255 exactly like the oracle's x/0→NULL →
    # LEAST(NULL, 255); plain `/` raises DIVIDE_BY_ZERO under ANSI.
    # nanvl (r13 embeddings fuzz): same NaN routing as x_embed_quantize —
    # Spark's floor Java-casts NaN to 0 where DuckDB's LEAST clamps NaN
    # to 255; NaN→NULL lands both on the 255 clamp, and a NaN component
    # only poisons its own dimension's codes, not the whole vector.
    code = F.least(
        F.floor(
            F.nanvl(
                F.try_divide(F.col("x") - F.col("mn"), F.col("mx") - F.col("mn"))
                * 256,
                F.lit(None).cast("double"),
            )
        ),
        F.lit(255),
    ).cast("int")
    coded = flat.join(F.broadcast(stats), "pos").select(
        "vec_id", "pos", code.alias("code")
    )
    return coded.groupBy("vec_id").agg(
        F.count("*").cast("int").alias("n_dims"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "code"))),
                lambda s: s["code"].cast("string"),
            ),
            ",",
        ).alias("codes"),
    )


# ---------------------------------------------------------------------------
# x_knn_graph — k-nearest-neighbor graph within label blocks (round 6)
# ---------------------------------------------------------------------------

_KNN_K = 3

_KNN_ORACLE = f"""
WITH n AS (
  SELECT vec_id, label, embedding,
         sqrt({duck_dot('embedding', 'embedding')}) AS nrm
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS src_id, a.label, b.vec_id AS nbr_id,
         {duck_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) AS cos_sim
  FROM n a JOIN n b ON a.label = b.label AND a.vec_id <> b.vec_id
)
SELECT src_id, label, nbr_id, cos_sim, rn FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY src_id
                                    ORDER BY cos_sim DESC, nbr_id)
                 AS BIGINT) AS rn
  FROM pairs
) WHERE rn <= {_KNN_K}
"""


def _knn_half_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered half of the block-local pair set (src_id < nbr_id) with the
    cosine folded once per unordered pair. Kept un-checkpointed so the
    plan tests can assert the join keys on the label block. (An unrolled
    64-term add-chain was tried for the fold and measured 3× SLOWER than
    the interpreted higher-order fold — the giant codegen expression
    loses; keep the fold.)"""
    e = load(spark, sf_dir, "embeddings")
    n = e.withColumn("nrm", F.sqrt(dot("embedding", "embedding")))
    a = n.select(
        F.col("vec_id").alias("src_id"),
        "label",
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = n.select(
        F.col("label").alias("label_b"),
        F.col("vec_id").alias("nbr_id"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    return a.join(
        b,
        (F.col("label") == F.col("label_b")) & (F.col("src_id") < F.col("nbr_id")),
    ).select(
        "src_id",
        "label",
        "nbr_id",
        # try_divide: zero-norm vectors NULL out instead of ANSI-aborting
        F.try_divide(dot("ea", "eb"), F.col("na") * F.col("nb")).alias("cos_sim"),
    )


@query("x_knn_graph", oracle=_KNN_ORACLE)
def x_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN graph construction (k=3) over the embedding corpus: every
    vector's top-3 cosine neighbors within its label block — the structure
    SemDeDup-style semantic dedup and graph-based corpus clustering start
    from (x_sim_search answers one probe; this materializes the whole
    graph). Rank is deterministic via the (cos DESC, nbr_id) tie-break;
    the cosine is emitted raw (bit-identical fold, see dot()).

    At 100 TB: label is the blocking key bounding the quadratic term —
    production swaps it for an IVF/LSH bucket (x_sim_ivf's signature) with
    identical plan shape: norms precomputed once, equi-join on the block,
    per-src top-k via one window over block-local pairs. The k-sized
    output is corpus×k rows — linear in the corpus.

    Cosine is symmetric, so the 64-wide fold runs only on the ordered
    half (src_id < nbr_id); each half row then explodes into its two
    directed rows (forward + id-swapped mirror) in the same narrow
    stage — no checkpoint, no second scan, and the fold result is a
    plain column reference by explode time (CollapseProject keeps the
    non-cheap fold in its own projection, so it is NOT re-evaluated per
    direction — pinned by the plan test). Bit-identical to folding both
    directions: the fold sums the same per-index IEEE products in the
    same index order, and na*nb == nb*na by IEEE-754 multiply
    commutativity. Halves the dominant cost (r7 plan audit)."""
    half = _knn_half_pairs(spark, sf_dir)
    pairs = half.select(
        F.explode(
            F.array(
                F.struct("src_id", "label", "nbr_id", "cos_sim"),
                F.struct(
                    F.col("nbr_id").alias("src_id"),
                    F.col("label"),
                    F.col("src_id").alias("nbr_id"),
                    F.col("cos_sim"),
                ),
            )
        ).alias("e")
    ).select("e.*")
    w = Window.partitionBy("src_id").orderBy(F.col("cos_sim").desc(), F.col("nbr_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= _KNN_K)
    )


# ---------------------------------------------------------------------------
# x_token_pmi — adjacent-bigram collocation lift (round 6)
# ---------------------------------------------------------------------------

_PMI_MIN_PAIR = 10
_PMI_TOP = 20

_PMI_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term,
         generate_subscripts(string_split(lower(text), ' '), 1) AS pos
  FROM documents
),
uni AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM toks),
bg AS (
  SELECT a.term AS tok_a, b.term AS tok_b
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
btot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS bt FROM bg),
pc AS (
  SELECT tok_a, tok_b, COUNT(*) AS pair_n FROM bg
  GROUP BY tok_a, tok_b HAVING COUNT(*) >= {_PMI_MIN_PAIR}
),
scored AS (
  SELECT pc.tok_a, pc.tok_b, pc.pair_n,
         (CAST(pc.pair_n AS DOUBLE) / btot.bt)
         / ((CAST(ua.cnt AS DOUBLE) / tot.t) * (CAST(ub.cnt AS DOUBLE) / tot.t))
           AS lift
  FROM pc
  JOIN uni ua ON ua.term = pc.tok_a
  JOIN uni ub ON ub.term = pc.tok_b
  CROSS JOIN tot CROSS JOIN btot
)
SELECT tok_a, tok_b, pair_n, lift
FROM scored ORDER BY lift DESC, tok_a, tok_b LIMIT {_PMI_TOP}
"""


@query("x_token_pmi", oracle=_PMI_ORACLE)
def x_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-20 adjacent word bigrams by pointwise lift
    P(a,b) / (P(a)·P(b)) with support >= 10 — the association statistic
    under phrase detection and tokenizer-merge candidates (unigram surface
    is x_text_tokens/x_text_tfidf; this is the pairwise upgrade). The lift
    is a ratio of exact integer counts, so it is emitted RAW — ratios of
    small ints CAN land exactly on decimal midpoints, the class
    engine-native ROUND diverges on (canonical.py §2); unrounded, both
    engines evaluate the identical double expression bit-for-bit.

    At 100 TB: bigrams come from one lead() window per document partition;
    unigram and total counts are algebraic aggregates; the support
    threshold prunes the pair table BEFORE the two unigram joins (the
    small side broadcasts); top-20 is a TakeOrdered, not a global sort.

    Two-scan shape (r19, guide §2.4 — VERDICT r18 item 5): the pre-r19
    plan re-inlined the posexplode subtree at five sites (uni ×3 via
    ua/ub/tot, bg ×2 via btot/pc — 5 scans / 7 exchanges; persisting the
    token/bigram tables measured 1.6× slower, r18 negative result). Now
    the vocabulary aggregate is computed ONCE and localCheckpointed
    (vocab-sized — metadata, the _bh_bad class, unlike the row-sized
    token/bigram tables that made persist lose), and both corpus totals
    fall out of it arithmetically instead of re-scanning: total tokens
    t = Σ cnt, and total bigrams bt = t − #docs-with-tokens (every doc
    contributes exactly len−1 adjacent pairs; #docs-with-tokens rides the
    same aggregate as Σ[pos = 0]). One scan builds the vocabulary, one
    scan builds the support-filtered pair table — the only two passes the
    algorithm fundamentally needs."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split(F.lower("text"), " ")).alias("pos", "term")
    )
    uni = (
        toks.groupBy("term")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.when(F.col("pos") == 0, 1).otherwise(0)).alias("n_first"),
        )
        # vocab-sized checkpoint: +~0.1 s of fixed eager-action cost
        # locally (measured 0.66 → 0.76 s, within the driver's noise
        # floor) buys 3 re-inlined scan+explode+groupBy subtrees → 1 —
        # at 100 TB that is two fewer full corpus passes per run
        .localCheckpoint()
    )
    # exact-integer totals derived from the vocabulary: identical values to
    # the former COUNT(*) scans (sum of per-term counts / pairs-per-doc
    # arithmetic), cast to double at the very end as before
    tot = uni.agg(
        F.sum("cnt").cast("double").alias("t"),
        (F.sum("cnt") - F.sum("n_first")).cast("double").alias("bt"),
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        toks.withColumn("tok_b", F.lead("term").over(wdoc))
        .filter(F.col("tok_b").isNotNull())
        .select(F.col("term").alias("tok_a"), "tok_b")
    )
    pc = (
        bg.groupBy("tok_a", "tok_b")
        .agg(F.count("*").alias("pair_n"))
        .filter(F.col("pair_n") >= _PMI_MIN_PAIR)
    )
    ua = uni.select(F.col("term").alias("tok_a"), F.col("cnt").alias("cnt_a"))
    ub = uni.select(F.col("term").alias("tok_b"), F.col("cnt").alias("cnt_b"))
    scored = (
        pc.join(F.broadcast(ua), "tok_a")
        .join(F.broadcast(ub), "tok_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "tok_a",
            "tok_b",
            "pair_n",
            # Plain `/` adjudicated safe (r13 division audit): a scored row
            # exists only when pair_n >= _PMI_MIN_PAIR (10), which forces
            # bt >= 10 and t >= bt; cnt_a/cnt_b are groupBy counts >= 1, and
            # (cnt_a/t)*(cnt_b/t) >= 1/t² cannot underflow to 0.0 for any
            # realistic corpus (t < 1e15 ⇒ product > 1e-30 ≫ 5e-324). The
            # ANSI zero-denominator abort is unreachable on every branch.
            (
                (F.col("pair_n").cast("double") / F.col("bt"))
                / (
                    (F.col("cnt_a").cast("double") / F.col("t"))
                    * (F.col("cnt_b").cast("double") / F.col("t"))
                )
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.col("lift").desc(), F.col("tok_a"), F.col("tok_b")
    ).limit(_PMI_TOP)


# ---------------------------------------------------------------------------
# x_doc_outliers — per-language length outliers via exact moments (round 6)
# ---------------------------------------------------------------------------

_OUTLIER_Z = 1.5
_OUTLIER_MIN_GROUP = 5

#: GREATEST(...,0) under the sqrt mirrors agg_corr/agg_stats (r12): the
#: co-moment is mathematically >= 0 but can float-cancel to ~-1e-10 when a
#: group's variance is zero and sx*sx exceeds double's 2^53-exact range —
#: DuckDB's sqrt ERRORS on a negative where Spark's returns NaN.
_OUTLIER_ORACLE = f"""
WITH s AS (
  SELECT lang, COUNT(*) AS n,
         CAST(SUM(n_chars) AS DOUBLE) AS sx,
         CAST(SUM(n_chars * n_chars) AS DOUBLE) AS sxx
  FROM documents GROUP BY lang HAVING COUNT(*) >= {_OUTLIER_MIN_GROUP}
)
SELECT d.doc_id, d.lang, d.n_chars,
       (d.n_chars - s.sx / s.n)
         / sqrt(GREATEST(s.sxx - s.sx * s.sx / s.n, 0) / (s.n - 1)) AS z
FROM documents d JOIN s ON s.lang = d.lang
WHERE ABS((d.n_chars - s.sx / s.n)
          / sqrt(GREATEST(s.sxx - s.sx * s.sx / s.n, 0) / (s.n - 1)))
      >= {_OUTLIER_Z}
"""


@query("x_doc_outliers", oracle=_OUTLIER_ORACLE)
def x_doc_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributional outlier report: documents whose length sits >= 1.5
    sample standard deviations from their language's mean — the anomaly
    screen a corpus-health pipeline runs after x_corpus_stats says WHAT the
    distributions are. Moments come from EXACT integer sums (Σx, Σx² over
    int64 n_chars), so mean/σ/z are single double expressions over
    bit-identical inputs — deterministic cross-engine with no decimal
    routing, and the sample-σ closed form is the same partial-aggregatable
    shape agg_corr pinned (native stddev is merge-order-dependent).

    At 100 TB: one algebraic groupBy per language (the stats table is
    languages-count-sized — always broadcastable), then a narrow map
    over the corpus. Fixture int64 sums stay well inside 2^53-exact double
    range; petabyte corpora would widen the partials to DECIMAL(38,0) and
    keep the identical plan."""
    d = load(spark, sf_dir, "documents")
    s = (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_chars").cast("double").alias("sx"),
            F.sum(F.col("n_chars") * F.col("n_chars")).cast("double").alias("sxx"),
        )
        .filter(F.col("n") >= _OUTLIER_MIN_GROUP)
    )
    # greatest(...,0) mirrors agg_corr/agg_stats (r12): a zero-variance
    # group with sx*sx beyond 2^53 can cancel the exact-integer sxx to
    # ~-1e-10 — DuckDB's sqrt ERRORS on a negative where Spark NaNs.
    # try_divide (r12 fuzz): an exactly-zero-variance group (every doc the
    # same length — fixed-length records are legal data) makes σ = 0 and
    # ANSI division ABORTS the job; NULL z matches DuckDB's x/0 answer and
    # falls out of the |z| >= cutoff filter on both engines — zero spread
    # correctly yields zero outliers.
    z = F.try_divide(
        F.col("n_chars") - F.col("sx") / F.col("n"),
        F.sqrt(
            F.greatest(
                F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"), F.lit(0.0)
            )
            / (F.col("n") - 1)
        ),
    )
    return (
        d.join(F.broadcast(s), "lang")
        .filter(F.abs(z) >= _OUTLIER_Z)
        .select("doc_id", "lang", "n_chars", z.alias("z"))
    )


# ---------------------------------------------------------------------------
# x_chunk_pack — chunk → pack composite (round 7)
# ---------------------------------------------------------------------------

_PACK_CAP = 256  # token budget per packed training sequence (chunks are <=64)

_CHUNK_PACK_ORACLE = _CHUNK_CTES + f"""
, chunks AS (
  SELECT doc_id,
         CAST(chunk_idx AS INT) AS chunk_idx,
         CAST(LEAST({_WINDOW}, n - c_start) AS INT) AS n_tokens,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER % 16
           AS shard_id
  FROM e
),
c AS (
  SELECT shard_id, doc_id, chunk_idx, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard_id
                             ORDER BY doc_id, chunk_idx
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM chunks
)
SELECT shard_id,
       CAST(FLOOR((cum - n_tokens) / {_PACK_CAP}.0) AS BIGINT) AS seq_id,
       COUNT(*) AS n_chunks,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
FROM c GROUP BY shard_id, seq_id
"""


@query("x_chunk_pack", oracle=_CHUNK_PACK_ORACLE)
def x_chunk_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk → pack composite: the two corpus-prep stages a training-data
    pipeline actually runs back to back — overlapping 64-token chunking
    (x_chunk_docs' exact rule) followed by cumulative-sum packing of the
    chunks into ≤256-token training sequences (x_pack_sequences' exact
    rule, applied to chunks instead of whole documents). Verifies the
    COMPOSITION end to end: chunk boundaries, the md5-mod-16 shard
    assignment, and the running-total bin edges all have to agree with the
    oracle's independent recompute for the hash to pass. (As with all
    cumsum binning, the bin edge is where the running total BEFORE a chunk
    crosses the cap, so a sequence's token sum may overshoot 256 by up to
    one chunk's 63 tokens — the deterministic streaming-packing tradeoff,
    asserted in tests/test_round7_properties.py.)

    Plan shape: the chunk stage is entirely narrow (posexplode of
    array-side start offsets — zero shuffles, x_chunk_docs' plan), so the
    composite costs exactly ONE exchange: the window over (shard_id),
    ordered by (doc_id, chunk_idx), then a same-key groupBy that reuses
    the window's partitioning. At 100 TB the shard modulus grows with the
    corpus exactly as x_pack_sequences documents — parallelism is the
    shard count, never the language/sequence count, and no row ever
    crosses shards twice."""
    chunks = (
        x_chunk_docs(spark, sf_dir)
        .select("doc_id", "chunk_idx", "n_tokens")
        .withColumn(
            "shard_id",
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("int")
            % 16,
        )
    )
    w = (
        Window.partitionBy("shard_id")
        .orderBy("doc_id", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = chunks.withColumn("cum", F.sum("n_tokens").over(w))
    return (
        c.withColumn(
            "seq_id",
            F.floor(
                (F.col("cum") - F.col("n_tokens")) / F.lit(float(_PACK_CAP))
            ).cast("bigint"),
        )
        .groupBy("shard_id", "seq_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("seq_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# x_bpe_round — one deterministic BPE merge round (SURVEY §7.6.3)
# ---------------------------------------------------------------------------

_BPE_ORACLE = """
WITH words AS (
  -- ASCII-extract-then-lower (r15 soak): lower() BEFORE extraction is
  -- engine-forked on special case mappings ('İ' -> 'i'+combining dot on
  -- the JVM vs plain 'i' in utf8proc); lower() of a pure [a-zA-Z]+ token
  -- is engine-invariant
  SELECT lower(w) AS word, COUNT(*) AS wc
  FROM documents, UNNEST(regexp_extract_all(text, '[a-zA-Z]+')) AS t(w)
  GROUP BY 1
),
pre AS (
  SELECT substr(word, CAST(i AS INT), 1) AS s1,
         substr(word, CAST(i AS INT) + 1, 1) AS s2,
         SUM(wc) AS cnt
  FROM words, UNNEST(range(1, length(word))) AS g(i)
  GROUP BY 1, 2
),
best AS (
  SELECT s1 || s2 AS pair FROM pre
  ORDER BY cnt DESC, s1 ASC, s2 ASC LIMIT 1
),
merged AS (
  SELECT replace(w.word, b.pair, chr(1)) AS word, w.wc, b.pair
  FROM words w CROSS JOIN best b
),
post AS (
  SELECT pair AS merged_pair,
         CASE WHEN substr(word, CAST(i AS INT), 1) = chr(1)
              THEN pair ELSE substr(word, CAST(i AS INT), 1) END AS s1,
         CASE WHEN substr(word, CAST(i AS INT) + 1, 1) = chr(1)
              THEN pair ELSE substr(word, CAST(i AS INT) + 1, 1) END AS s2,
         SUM(wc) AS cnt
  FROM merged, UNNEST(range(1, length(word))) AS g(i)
  GROUP BY 1, 2, 3
)
SELECT merged_pair, s1, s2, CAST(cnt AS BIGINT) AS cnt,
       CAST(rn AS BIGINT) AS rn
FROM (
  SELECT *, row_number() OVER (ORDER BY cnt DESC, s1 ASC, s2 ASC) AS rn
  FROM post
) WHERE rn <= 20
"""


def _bpe_pairs(df: DataFrame, word_col: str) -> DataFrame:
    """Adjacent character pairs of ``word_col`` weighted by ``wc``; the
    length >= 2 guard keeps Spark's DESCENDING sequence(1, 0) away from
    single-letter words (the shingles3 abort class, SURVEY §7.7)."""
    return (
        df.filter(F.length(word_col) >= 2)
        .select(
            "*",
            F.explode(
                F.expr(
                    f"transform(sequence(1, length({word_col}) - 1),"
                    f" i -> struct(substring({word_col}, i, 1) AS s1,"
                    f" substring({word_col}, i + 1, 1) AS s2))"
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.s1").alias("s1"), F.col("p.s2").alias("s2"))
    )


def _bpe_words(docs: DataFrame) -> DataFrame:
    """Corpus → word-frequency table: the ONLY corpus-sized stage.

    Tokens are extracted from the RAW text as [a-zA-Z]+ runs and
    lowercased AFTER extraction — never ``lower(text)`` first, because
    Unicode case mapping is library-defined per engine, e.g.
    'İ' (U+0130) lowercases to 'i' + COMBINING DOT in the JVM but to
    plain ASCII 'i' in DuckDB's utf8proc, so pre-lowering forks the
    token set ('i','stanbul' vs 'istanbul') and with it every pair
    count. Extracting on the raw bytes keeps non-ASCII letters out of
    the alphabet on BOTH engines identically, and lower() over a pure
    ASCII token is engine-invariant by construction."""
    return (
        docs.select(
            F.explode(
                F.expr(
                    "transform(regexp_extract_all(text, '[a-zA-Z]+', 0),"
                    " w -> lower(w))"
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("wc"))
    )


@query("x_bpe_round", oracle=_BPE_ORACLE)
def x_bpe_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic BPE merge round over the corpus (SURVEY §7.6.3 —
    the tokenizer-construction step x_token_pmi points at): count adjacent
    symbol pairs across the word-frequency table, elect the global argmax
    pair (ties broken lexicographically on the pair text, so the merge is
    identical on every engine/cluster/run), apply the merge greedily
    left-to-right in every word, and emit the top-20 post-merge pair
    counts (cnt DESC, then s1, s2 ASC on the letter text) with the elected
    pair alongside — the vocabulary delta the next round would consume.

    Tokens are [a-zA-Z]+ runs of the RAW text lowercased after
    extraction (engine-invariant — see _bpe_words for the 'İ' case-
    mapping fork the pre-lowering form carried), so the symbol alphabet
    is closed (26 letters + the one merged symbol) and the chr(1) marker
    that stands in for the merged pair during the re-split is
    unreachable by construction — no hostile document content can forge
    or collide with it. ``replace(word, pair, mark)`` IS the greedy
    left-to-right non-overlapping merge (e.g. 'aaa' + pair 'aa' →
    ['aa','a']), exactly BPE's application rule for a round-1 merge of
    two single-char symbols.

    Scale shape: the corpus-sized work is ONE explode + word count into
    the persisted zipf-small vocabulary table. Two map-side-combinable
    pair histograms run over it, before and after the merge (applied as
    a literal replace), and each is collected to the driver: it is
    bounded by the alphabet (at most 27² rows), whatever the corpus size.
    The driver elects the merge from the first and builds the ≤ 20-row
    report from the second, with the marker expanded back to the pair
    text, so no election frame is joined back into a plan and no global
    sort or window runs on the cluster."""
    words = _bpe_words(load(spark, sf_dir, "documents")).persist()
    merges = _bpe_histogram(words)[:1]
    post = _bpe_histogram(_bpe_marked(words, merges))
    words.unpersist()
    pair = merges[0][0] + merges[0][1] if merges else None
    top = sorted(
        ((_bpe_expand(s1, merges), _bpe_expand(s2, merges), cnt) for s1, s2, cnt in post),
        key=lambda p: (-p[2], p[0], p[1]),
    )[:20]
    return local_frame(
        spark,
        [(pair, s1, s2, cnt, rn) for rn, (s1, s2, cnt) in enumerate(top, 1)],
        "merged_pair string, s1 string, s2 string, cnt bigint, rn bigint",
    )


# ---------------------------------------------------------------------------
# x_bpe_rounds_n — N=3 unrolled BPE merge rounds (SURVEY §7.6.4)
# ---------------------------------------------------------------------------

#: per-round merged-symbol markers — chr(1..3); the [a-z]-closed token
#: alphabet keeps every marker unforgeable by content, and 'ZZ' (uppercase
#: never survives the lowercasing) is the never-matching replace sentinel
#: that turns a no-merge round into the identity
_BPE_N = 3
_BPE_SENTINEL = "ZZ"

_BPE_PAIRS_SQL = """
  SELECT substr(word, CAST(i AS INT), 1) AS s1,
         substr(word, CAST(i AS INT) + 1, 1) AS s2,
         SUM(wc) AS cnt
  FROM {src}, UNNEST(range(1, length(word))) AS g(i)
  GROUP BY 1, 2
"""

_BPE_ROUND_SQL = """
pre{k} AS ({pairs}),
b{k} AS (
  SELECT t.s1, t.s2, t.cnt FROM (VALUES (1)) anchor(x)
  LEFT JOIN (SELECT s1, s2, cnt FROM pre{k}
             ORDER BY cnt DESC, s1 ASC, s2 ASC LIMIT 1) t ON TRUE
),
m{k} AS (
  SELECT replace(w.word, coalesce(b.s1 || b.s2, 'ZZ'), chr({k})) AS word,
         w.wc
  FROM {src} w CROSS JOIN b{k} b
)"""


def _bpe_rounds_cte_prefix() -> str:
    """The shared oracle machinery: words CTE + three unrolled merge-round
    blocks (pre{k}/b{k}/m{k}) — everything up to (not including) the
    report-specific tail. Shared by x_bpe_rounds_n and x_bpe_apply so the
    two oracles can never drift on the learned merges."""
    blocks = []
    src = "words"
    for k in range(1, _BPE_N + 1):
        blocks.append(
            _BPE_ROUND_SQL.format(
                k=k, src=src, pairs=_BPE_PAIRS_SQL.format(src=src)
            )
        )
        src = f"m{k}"
    return f"""
WITH words AS (
  SELECT lower(w) AS word, COUNT(*) AS wc
  FROM documents, UNNEST(regexp_extract_all(text, '[a-zA-Z]+')) AS t(w)
  GROUP BY 1
),
{",".join(blocks)}"""


def _bpe_expand_sql() -> str:
    """SQL expansion template ({col} placeholder): markers replaced in
    reverse order, since a later merge's definition may reference earlier
    markers."""
    expand = "{col}"
    for k in range(_BPE_N, 0, -1):
        expand = (
            f"replace({expand}, chr({k}), coalesce(e{k}, '{_BPE_SENTINEL}'))"
        )
    return expand


_BPE_EXPAND_TABS = "\n".join(
    f"CROSS JOIN (SELECT s1 || s2 AS e{k} FROM b{k}) x{k}"
    for k in range(1, _BPE_N + 1)
)


def _bpe_n_oracle() -> str:
    """Rounds prefix + the merge-list/top-20 report tail."""
    expand = _bpe_expand_sql()
    merges = "\n  UNION ALL ".join(
        f"SELECT 'merge' AS kind, {k} AS rn, s1, s2, cnt FROM b{k}"
        f" WHERE s1 IS NOT NULL"
        for k in range(1, _BPE_N + 1)
    )
    return f"""
{_bpe_rounds_cte_prefix()},
post AS (
  SELECT s1, s2, cnt,
         row_number() OVER (ORDER BY cnt DESC, s1 ASC, s2 ASC) AS rn
  FROM ({_BPE_PAIRS_SQL.format(src=f"m{_BPE_N}")})
),
raw AS (
  {merges}
  UNION ALL SELECT 'pair', rn, s1, s2, cnt FROM post WHERE rn <= 20
)
SELECT r.kind, CAST(r.rn AS BIGINT) AS rn,
       {expand.format(col="r.s1")} AS s1,
       {expand.format(col="r.s2")} AS s2,
       CAST(r.cnt AS BIGINT) AS cnt
FROM raw r
{_BPE_EXPAND_TABS}
"""


_BPE_N_ORACLE = _bpe_n_oracle()


def _bpe_histogram(marked: DataFrame) -> list[tuple[str, str, int]]:
    """One round's statistic: the adjacent-pair histogram of the
    marker-form word table, collected to the driver in election order
    (cnt DESC, then s1, s2 ASC by code point — the oracle's binary
    collation on this alphabet). The collect is bounded by the alphabet,
    not the corpus: at most (26 + _BPE_N)² rows."""
    rows = _bpe_pairs(marked, "word").agg(F.sum("wc").alias("cnt")).collect()
    return sorted(
        ((r.s1, r.s2, r.cnt) for r in rows), key=lambda p: (-p[2], p[0], p[1])
    )


def _bpe_merge_col(word: F.Column, merges: list) -> F.Column:
    """Greedy left-to-right application of the elected merges in round
    order: each 2-char marker-space pair text becomes its round's marker
    chr(k) (in marker space every symbol is one char, so single-string
    replace stays exact for merged-symbol sides). An empty election
    (None) is the identity."""
    for k, m in enumerate(merges, 1):
        if m is not None:
            word = F.replace(word, F.lit(m[0] + m[1]), F.lit(chr(k)))
    return word


def _bpe_marked(words: DataFrame, merges: list) -> DataFrame:
    """The word table in marker form after ``merges``."""
    return words.select(
        _bpe_merge_col(F.col("word"), merges).alias("word"), "wc"
    )


def _bpe_learn(words: DataFrame) -> list:
    """Run the _BPE_N merge rounds over the (already persisted) word
    table. Each round runs one aggregate, the pair histogram of ``words``
    with the merges so far applied as a literal replace chain, and
    collects it to the driver (bounded by the alphabet, not the corpus);
    its head is the election, and the driver plans the next round from
    it, so no election frame is ever joined back into a plan. Returns the
    per-round elections, (s1, s2, cnt) in marker space, or None for a
    round with no pairs."""
    merges: list = []
    for _ in range(_BPE_N):
        hist = _bpe_histogram(_bpe_marked(words, merges))
        merges.append(hist[0] if hist else None)
    return merges


def _bpe_expand(sym: str, merges: list) -> str:
    """Marker → letter text, in reverse marker order (a later merge's
    sides may contain earlier markers)."""
    for k in range(len(merges), 0, -1):
        if merges[k - 1] is not None:
            sym = sym.replace(chr(k), merges[k - 1][0] + merges[k - 1][1])
    return sym


@query("x_bpe_rounds_n", oracle=_BPE_N_ORACLE)
def x_bpe_rounds_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N=3 unrolled BPE merge rounds (SURVEY §7.6.4) — x_bpe_round
    iterated: each round counts adjacent marker-space symbol pairs over
    the word-frequency table, elects the argmax (cnt DESC, marker-space
    pair text ASC — markers sort before letters, so ties prefer pairs
    touching earlier merges; deterministic on both engines, binary
    collation over [a-z] + chr(1..3)), and applies the merge by rewriting
    the elected 2-char sequence to the round's own marker chr(k) — a
    marker PER merged symbol, so round-2/3 pairs whose sides are
    themselves merged symbols stay single-char replaces. Output: the
    ordered merge list (kind='merge', rn = round, sides + count at
    election) plus the final top-20 post-merge pair counts (kind='pair'),
    both with markers EXPANDED back to letter text (reverse marker order,
    since later merges' definitions reference earlier markers).

    Scale shape: the corpus-sized work is ONE explode + word count into
    the persisted zipf-small vocabulary table (x_bpe_round's contract).
    Each round is then one map-side-combinable pair-count aggregate over
    that table, with the earlier merges applied as a literal replace
    chain, and the driver collects it and elects the winner: the
    histogram is bounded by the alphabet ((26 + 3)² rows), whatever the
    corpus size, so the collect is the stage-boundary statistic the next
    round is planned from. A fourth histogram gives the top-20, and the
    ≤ 23-row report is built on the driver — 4 aggregates per call, and
    at 100 TB the corpus is still read once."""
    words = _bpe_words(load(spark, sf_dir, "documents")).persist()
    merges = _bpe_learn(words)
    post = _bpe_histogram(_bpe_marked(words, merges))
    words.unpersist()
    rows = [
        ("merge", k, m[0], m[1], m[2])
        for k, m in enumerate(merges, 1)
        if m is not None
    ] + [("pair", rn, *p) for rn, p in enumerate(post[:20], 1)]
    return local_frame(
        spark,
        [
            (kind, rn, _bpe_expand(s1, merges), _bpe_expand(s2, merges), cnt)
            for kind, rn, s1, s2, cnt in rows
        ],
        "kind string, rn bigint, s1 string, s2 string, cnt bigint",
    )


# ---------------------------------------------------------------------------
# x_bpe_apply — tokenize the corpus with the learned merges (SURVEY §7.6.7)
# ---------------------------------------------------------------------------

_BPE_APPLY_ORACLE = f"""
{_bpe_rounds_cte_prefix()},
tok AS (
  SELECT substr(word, CAST(i AS INT), 1) AS sym, SUM(wc) AS cnt
  FROM m{_BPE_N}, UNNEST(range(1, length(word) + 1)) AS g(i)
  GROUP BY 1
),
tokx AS (
  SELECT {_bpe_expand_sql().format(col="t.sym")} AS token, SUM(t.cnt) AS cnt
  FROM tok t
  {_BPE_EXPAND_TABS}
  GROUP BY 1
),
top AS (
  SELECT token, cnt,
         row_number() OVER (ORDER BY cnt DESC, token ASC) AS rn
  FROM tokx
),
stats AS (
  SELECT COALESCE((SELECT SUM(length(word) * wc) FROM m{_BPE_N}), 0)
           AS total_tokens,
         COALESCE((SELECT SUM(length(word) * wc) FROM words), 0)
           AS total_chars
)
SELECT 'token' AS kind, CAST(rn AS BIGINT) AS rn, token,
       CAST(cnt AS BIGINT) AS cnt
FROM top WHERE rn <= 20
UNION ALL
SELECT 'stat', 0, 'total_tokens', CAST(total_tokens AS BIGINT) FROM stats
UNION ALL
SELECT 'stat', 0, 'total_chars', CAST(total_chars AS BIGINT) FROM stats
"""


@query("x_bpe_apply", oracle=_BPE_APPLY_ORACLE)
def x_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus WITH the learned BPE merges (SURVEY §7.6.7) —
    the consumer of x_bpe_rounds_n's merge list: after the three learn
    rounds, each word's marker-space form IS its tokenization (one symbol
    per character: a letter or a merged-pair marker), so the report is

      kind='token', rn 1..20 — the top post-BPE token frequencies across
        the corpus (symbol occurrences weighted by word frequency,
        grouped by the token's SURFACE text, markers expanded), ordered
        (cnt DESC, token ASC);
      kind='stat' — total_tokens (corpus symbol count after the merges)
        vs total_chars (before), the compression the three merges buy.

    Surface-text grouping is the pinned semantic: two distinct merge
    identities can share a surface ('a'+chr1 vs chr2 when chr1='aa',
    chr2=('a',chr1) — both 'aaa'-adjacent shapes), and a frequency
    report over surface strings folds them identically on both engines;
    tokenizer IDs are a vocabulary-table concern, not a corpus-frequency
    one. Words are never empty ([a-zA-Z]+ extraction; replace keeps >= 1
    symbol), so the per-symbol ``sequence(1, length)`` never descends
    (the shingles3 abort class).

    Scale shape: the learn loop is x_bpe_rounds_n's (one corpus scan into
    the persisted word table, one bounded pair histogram per round);
    tokenization adds ONE more vocab-sized explode (symbols per marker
    word) into a map-side-combinable count whose result is bounded by the
    alphabet (<= 26 letters + 3 markers), collected to the driver. The
    report is built there: both stats follow from that histogram
    (total_tokens is its sum; total_chars weights each symbol by its
    expanded length, since expansion restores every word's text), and
    the <=22 rows go back as a local frame — the corpus is still read
    once."""
    words = _bpe_words(load(spark, sf_dir, "documents")).persist()
    merges = _bpe_learn(words)
    syms = (
        _bpe_marked(words, merges)
        .select(
            "wc",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(word)),"
                    " i -> substring(word, i, 1))"
                )
            ).alias("sym"),
        )
        .groupBy("sym")
        .agg(F.sum("wc").alias("cnt"))
        .collect()
    )
    words.unpersist()
    tokens: Counter = Counter()
    total_chars = 0
    for r in syms:
        token = _bpe_expand(r.sym, merges)
        tokens[token] += r.cnt
        total_chars += len(token) * r.cnt
    top = sorted(tokens.items(), key=lambda t: (-t[1], t[0]))[:20]
    return local_frame(
        spark,
        [("token", rn, tok, cnt) for rn, (tok, cnt) in enumerate(top, 1)]
        + [
            ("stat", 0, "total_tokens", sum(tokens.values())),
            ("stat", 0, "total_chars", total_chars),
        ],
        "kind string, rn bigint, token string, cnt bigint",
    )


# ---------------------------------------------------------------------------
# x_bpe_pack — sequence packing on POST-BPE token counts (SURVEY §7.12.2)
# ---------------------------------------------------------------------------

_BPE_PACK_CAP = 2048


def _bpe_pack_vmap_sql() -> str:
    """DuckDB word → marker-form-length map: the same nested replace chain
    the rounds prefix applies through m1..m{N}, but keeping the ORIGINAL
    word alongside (m{N} mutates the word column in place, losing the
    join key). Uses the b{k} elections from the shared prefix, so the
    merges can never drift from x_bpe_rounds_n / x_bpe_apply."""
    expr = "w.word"
    for k in range(1, _BPE_N + 1):
        expr = (
            f"replace({expr}, coalesce(b{k}.s1 || b{k}.s2,"
            f" '{_BPE_SENTINEL}'), chr({k}))"
        )
    crosses = " ".join(f"CROSS JOIN b{k}" for k in range(1, _BPE_N + 1))
    return f"SELECT w.word, length({expr}) AS toklen FROM words w {crosses}"


_BPE_PACK_ORACLE = f"""
{_bpe_rounds_cte_prefix()},
vmap AS ({_bpe_pack_vmap_sql()}),
occ AS (
  SELECT d.doc_id, lower(w) AS word, COUNT(*) AS oc
  FROM documents d, UNNEST(regexp_extract_all(d.text, '[a-zA-Z]+')) AS t(w)
  GROUP BY 1, 2
),
dt AS (
  SELECT o.doc_id, SUM(o.oc * v.toklen) AS n_tok
  FROM occ o JOIN vmap v USING (word)
  GROUP BY 1
),
t AS (
  SELECT d.doc_id, d.lang,
         ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::INTEGER % 16
           AS shard_id,
         COALESCE(dt.n_tok, 0) AS n_tok
  FROM documents d LEFT JOIN dt ON d.doc_id = dt.doc_id
),
c AS (
  SELECT lang, shard_id, doc_id, n_tok,
         SUM(n_tok) OVER (PARTITION BY lang, shard_id ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM t
)
SELECT lang, shard_id,
       CAST(FLOOR((cum - n_tok) / {_BPE_PACK_CAP}.0) AS BIGINT) AS seq_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS seq_tokens
FROM c GROUP BY lang, shard_id, seq_id
"""


def bpe_pack_plan(docs: DataFrame, cap: int = _BPE_PACK_CAP) -> DataFrame:
    """The reusable core of x_bpe_pack (docstring there): learn the
    _BPE_N merges over ``docs``, token-count each doc POST-BPE, pack by
    cumulative-sum binning at ``cap`` tokens per sequence."""
    words = _bpe_words(docs).persist()
    merges = _bpe_learn(words)
    words.unpersist()
    # each occurrence's post-BPE length: the elected merges re-applied
    # forward as a literal replace chain, the same projection the rounds
    # ran over the word table
    dt = (
        docs.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(regexp_extract_all(text, '[a-zA-Z]+', 0),"
                    " w -> lower(w))"
                )
            ).alias("word"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum(F.length(_bpe_merge_col(F.col("word"), merges))).alias(
                "n_tok"
            )
        )
    )
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 16
    )
    t = (
        docs.select("doc_id", "lang")
        .join(dt, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            shard.alias("shard_id"),
            F.coalesce("n_tok", F.lit(0)).alias("n_tok"),
        )
    )
    w = (
        Window.partitionBy("lang", "shard_id")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        t.withColumn("cum", F.sum("n_tok").over(w))
        .withColumn(
            "seq_id",
            F.floor(
                (F.col("cum") - F.col("n_tok")) / F.lit(float(cap))
            ).cast("bigint"),
        )
        .groupBy("lang", "shard_id", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("seq_tokens"),
        )
    )


@query("x_bpe_pack", oracle=_BPE_PACK_ORACLE)
def x_bpe_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing on POST-BPE token counts (SURVEY §7.12 candidate 2)
    — the bridge closing the chunk→tokenize→pack chain: x_pack_sequences'
    cumulative-sum binning, but with each document's token count taken
    AFTER x_bpe_rounds_n's three learned merges (the marker-form symbol
    count) instead of the whitespace split. Packing a tokenized corpus is
    the form a training pipeline actually runs: the 2048 cap is a budget
    in model tokens, and merge compression changes which documents share
    a sequence.

    Per-doc token count = the sum, over the doc's word occurrences, of
    each word's marker-form length under the SAME elections as the learn
    loop (``_bpe_learn``'s merges re-applied as a literal replace chain;
    the oracle reuses the shared rounds-CTE prefix, so the two engines
    cannot drift on the merges — the x_bpe_apply precedent). The per-doc
    tokenizer is ``_bpe_words``' exact extract-then-lower form (lower()
    of a pure [a-zA-Z]+ token is engine-invariant; pre-lowering is not,
    see the 'İ' case there). Docs with ZERO extractable words (or NULL
    text) survive via the left join + COALESCE 0 — they consume no
    capacity but still appear in packing on both engines, and a 0-token
    doc whose running total sits exactly ON a cap boundary lands in the
    NEXT sequence (floor(cum/cap): cum=4 cap=4 → seq 1).

    Scale shape: the learn loop is x_bpe_rounds_n's (one corpus scan into
    the persisted zipf-small word table, one driver-collected pair
    histogram per round, bounded by the alphabet); once the merges are
    elected the rest is one lazy plan: ONE more corpus-sized explode
    (per-doc word occurrences) into a map-side-combinable per-doc sum of
    replace-chain lengths — a projection, no join against the vocabulary
    — and x_pack_sequences' one exchange on the (lang, md5-mod-16 shard)
    composite window key — the 5-language skew funnel stays defeated, no
    global sort. Determinism precondition (the same as x_pack_sequences'):
    doc_id is the table's unique non-null key, so the ROWS-frame cumsum
    ordering is total. Core lives in :func:`bpe_pack_plan` — tests drive
    it with synthetic corpora for the independent-expectation pins
    (pure-Python BPE + packing replica, boundary zoo)."""
    return bpe_pack_plan(load(spark, sf_dir, "documents"))
