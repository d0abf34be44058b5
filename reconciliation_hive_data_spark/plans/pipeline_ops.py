"""Training-data pipeline operators, round 2: the cluster/selection layer
that sits on top of the §2j dedup/similarity primitives.

- ``x_dedup_clusters`` — connected components over duplicate *version
  chains*: near-dup pairs only say "A~B"; a real dedup pass must resolve
  transitive groups (A~B, B~C ⇒ {A,B,C} keep one). Implemented as
  iterative min-label propagation with pointer-jump shortcutting, run to
  a checked fixed point; oracle = DuckDB ``WITH RECURSIVE`` closure.
- ``x_decontaminate`` — benchmark decontamination: flag training docs
  sharing any 8-word-gram with a held-out eval set (the GPT-3/PaLM n-gram
  overlap rule). The eval gram set is tiny ⇒ broadcast; cost is one
  narrow gram explode over the corpus, no shuffle of raw text.
- ``x_sample_stratified`` — deterministic per-stratum downsampling by md5
  threshold: ``substr(md5(doc_id),1,8) < rate_hex(lang)``. Same-seed runs
  are reproducible byte-for-byte on any cluster size (no RNG state), and
  the kept set is a pure narrow filter — no shuffle at all.
- ``x_text_pii`` — PII scrubbing (emails/phones → placeholder tokens) as
  a narrow regexp map with a redaction count per doc. The fixture
  deterministically injects PII derived from doc_id so the scrub provably
  fires on every row (the synthetic corpus contains none).
- ``x_domain_mix`` — temperature-weighted domain mixing (α = 0.5): per
  source, token mass → sqrt-damped sampling weight → integer token
  budget. The global normalizer is an exact sorted left-fold so the
  double sum is order-independent cross-engine (canonical.py hazard #1).
- ``agg_quantile`` — exact interpolated percentiles (p25/50/75) per group
  via Spark ``percentile`` vs DuckDB ``quantile_cont`` — both engines
  interpolate ``lower + (pos-⌊pos⌋)·(higher-lower)`` at ``pos=p·(n-1)``
  in doubles, so results are bitwise-comparable.

100 TB notes: CC iterations are equi-joins on the (small) label frontier,
not the corpus, and pointer-jumping bounds rounds by log(diameter) with an
explicit convergence check; decontamination broadcasts the
eval grams (eval sets are KBs, corpora are TBs); stratified sampling and
PII scrubbing are stateless narrow maps that never shuffle; domain-mix
aggregates 20 rows after a map-side-combinable token count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load
from ..registry import query
from .llm import (
    DOCS_DUP_CTE,
    band_signatures,
    documents_dup,
    lsh_candidates,
    minhash_signatures,
    shingle_overlap,
    shingles3,
)

# ---------------------------------------------------------------------------
# x_dedup_clusters — transitive duplicate-cluster resolution
# ---------------------------------------------------------------------------

# Version-chain fixture: each doc_id % 50 == 0 gains TWO copies (+1M, +2M),
# and each doc_id % 250 == 0 gains THREE more (+3M, +4M, +5M) — edges link
# *consecutive versions* within an identical-text group, so components are
# chains of diameter 2 (most) and diameter 5 (every 250th doc). The deep
# chains exist specifically so a propagation loop with too few rounds
# under-merges and fails the recursive-closure oracle.
_DOCS3_CTE = """
WITH documents3 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 50 = 0
  UNION ALL
  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 50 = 0
  UNION ALL
  SELECT doc_id + 3000000, text FROM documents WHERE doc_id % 250 = 0
  UNION ALL
  SELECT doc_id + 4000000, text FROM documents WHERE doc_id % 250 = 0
  UNION ALL
  SELECT doc_id + 5000000, text FROM documents WHERE doc_id % 250 = 0
)
"""

_CLUSTERS_ORACLE = _DOCS3_CTE + """,
hashed AS (SELECT doc_id, md5(text) AS h FROM documents3),
chain AS (
  SELECT lag(doc_id) OVER (PARTITION BY h ORDER BY doc_id) AS src,
         doc_id AS dst
  FROM hashed
),
edges AS (
  SELECT src, dst FROM chain WHERE src IS NOT NULL
  UNION ALL
  SELECT dst, src FROM chain WHERE src IS NOT NULL
),
reach AS (
  WITH RECURSIVE r(node, lbl) AS (
    SELECT doc_id, doc_id FROM hashed
    UNION
    SELECT e.dst, r.lbl FROM r JOIN edges e ON e.src = r.node
  )
  SELECT node, MIN(lbl) AS cluster_id FROM r GROUP BY node
),
sized AS (
  SELECT node AS doc_id, cluster_id,
         COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
  FROM reach
)
SELECT doc_id, cluster_id, cluster_size FROM sized WHERE cluster_size >= 2
"""


def _documents3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-chain fixture: %50 keys echo at +1M/+2M, %250 keys deepen
    the chain at +3M/+4M/+5M. Single-scan explode-over-offsets (r18, guide
    §2.4) — the original 5-arm UNION ALL re-scanned the corpus SIX times
    per consumer-plan reference; multiset identical, consumers (md5 chain
    window + CC) order-insensitive."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    deep = F.col("doc_id") % 250 == 0
    dup = F.col("doc_id") % 50 == 0
    offs = (
        F.when(
            deep,
            F.array(*[F.lit(o) for o in
                      (0, 1000000, 2000000, 3000000, 4000000, 5000000)]),
        )
        .when(dup, F.array(F.lit(0), F.lit(1000000), F.lit(2000000)))
        .otherwise(F.array(F.lit(0)))
    )
    return (
        d.withColumn("_off", F.explode(offs))
        .withColumn("doc_id", F.col("doc_id") + F.col("_off"))
        .drop("_off")
    )


_CC_MAX_ROUNDS = 20


@query("x_dedup_clusters", oracle=_CLUSTERS_ORACLE)
def x_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve transitive duplicate clusters: pair output (A~B, B~C) from
    any near-dup detector is not actionable until grouped into components
    with one survivor each. Edges here are consecutive *versions* inside
    an identical-text group (a lag window over md5(text)), forming chains
    of diameter up to 5 in the fixture and unbounded depth in the wild.

    Min-label propagation runs to a *checked* fixed point, not a fixed
    round count: each round is (a) min over own+neighbor labels — one
    equi-join to the edge list + a min re-aggregate — then (b) a
    pointer-jump shortcut (replace each label by that label's own label),
    which halves remaining chain depth so convergence takes O(log d)
    rounds instead of O(d). Labels are node ids and both steps are
    monotone non-increasing, so the label SUM strictly decreases until
    the fixed point — one cheap scalar aggregate per round is the whole
    convergence check, and at the fixed point every edge joins equal
    labels, i.e. labels = per-component minima exactly. Rounds are capped
    (``_CC_MAX_ROUNDS``: 2^20-diameter chains) and non-convergence raises
    rather than silently under-merging. Each round localCheckpoints to
    keep lineage flat. Oracle: DuckDB WITH RECURSIVE transitive closure."""
    docs = _documents3(spark, sf_dir)
    hashed = docs.select("doc_id", F.md5("text").alias("h"))
    w = Window.partitionBy("h").orderBy("doc_id")
    chain = hashed.select(
        F.lag("doc_id").over(w).alias("src"), F.col("doc_id").alias("dst")
    ).filter(F.col("src").isNotNull())
    labels = connected_components(chain)
    sizes = labels.groupBy("lbl").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(sizes.filter(F.col("cluster_size") >= 2), "lbl")
        .select("doc_id", F.col("lbl").alias("cluster_id"), "cluster_size")
    )


def connected_components(chain: DataFrame) -> DataFrame:
    """Min-label connected components over an undirected edge list given as
    one-directional ``(src, dst)`` pairs — the fixed-point loop behind
    :func:`x_dedup_clusters`, factored out so property tests can feed
    arbitrary random topologies (the fixture only exercises chains).
    Returns ``(doc_id, lbl)`` where ``lbl`` is the component's minimum node
    id, for every edge-touched node (singletons never enter)."""
    # checkpointed once: every CC round broadcasts the edge list, and
    # without the checkpoint each round would re-run the upstream plan
    # that derives it (duplicate-density-sized, cheap to hold)
    edges = (
        chain.unionByName(
            chain.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .select(F.col("src").alias("e_src"), F.col("dst").alias("e_dst"))
        .localCheckpoint()
    )

    # Iterate on the edge-induced subgraph only: a node with no edge is a
    # singleton and can never reach the size>=2 output, so the CC rounds
    # touch a table sized by duplicate DENSITY, not corpus size. (Every
    # edge-node appears as e_src because edges carry both directions.)
    labels = (
        edges.select(F.col("e_src").alias("doc_id"))
        .distinct()
        .withColumn("lbl", F.col("doc_id"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("lbl")).first()[0]
    for _ in range(_CC_MAX_ROUNDS):
        # min(own label, neighbors' labels) as ONE union + min-agg: the
        # neighbor stream re-keys each label to the edge's far endpoint.
        # The edge list is duplicate-density-sized (≪ corpus); broadcast
        # it so each round is one shuffle (the min-agg), not two. At a
        # scale where edges outgrow broadcast, drop the hint — AQE picks
        # the join side from runtime stats.
        neigh = labels.join(
            F.broadcast(edges), labels["doc_id"] == F.col("e_src")
        ).select(F.col("e_dst").alias("doc_id"), "lbl")
        propagated = labels.unionByName(neigh).groupBy("doc_id").agg(
            F.min("lbl").alias("lbl")
        )
        # pointer-jump: lbl := lbl(lbl). A label is always a node id in
        # the same component, so the jump stays within the component while
        # collapsing chain depth geometrically (the "shortcut" half of the
        # large-star/small-star alternation).
        jump = propagated.select(
            F.col("doc_id").alias("j_id"), F.col("lbl").alias("j_lbl")
        )
        labels_next = (
            propagated.join(jump, propagated["lbl"] == jump["j_id"], "left")
            .select("doc_id", F.coalesce("j_lbl", "lbl").alias("lbl"))
            .localCheckpoint()
        )
        cur_sum = labels_next.agg(F.sum("lbl")).first()[0]
        labels = labels_next
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(
            f"connected_components: no fixed point after {_CC_MAX_ROUNDS} rounds"
        )
    return labels


# ---------------------------------------------------------------------------
# x_decontaminate — eval-set n-gram overlap flagging
# ---------------------------------------------------------------------------

_DECON_ORACLE = DOCS_DUP_CTE + """,
split AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents_dup
),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, len(toks) - 6),
           k -> array_to_string(list_slice(toks, k, k + 7), ' ')
         ))) AS gram
  FROM split WHERE len(toks) >= 8
),
bench AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0 AND doc_id < 1000000
),
train AS (
  SELECT * FROM grams WHERE NOT (doc_id % 97 = 0 AND doc_id < 1000000)
),
totals AS (SELECT doc_id, COUNT(*) AS n_grams FROM train GROUP BY doc_id),
hits AS (
  SELECT t.doc_id, COUNT(*) AS n_hits
  FROM train t JOIN bench b ON t.gram = b.gram
  GROUP BY t.doc_id
)
SELECT h.doc_id, h.n_hits, tt.n_grams,
       CAST(h.n_hits AS DOUBLE) / tt.n_grams AS contamination
FROM hits h JOIN totals tt ON h.doc_id = tt.doc_id
"""


def _grams8(df: DataFrame) -> DataFrame:
    """Distinct 8-word grams per doc, built array-side (narrow map — the
    same zero-shuffle construction as llm.shingles3)."""
    toks = F.split("text", " ")
    return (
        df.filter(F.size(toks) >= 8)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(0, size(split(text, ' ')) - 8),"
                        " k -> concat_ws(' ', slice(split(text, ' '), k + 1, 8)))"
                    )
                )
            ).alias("gram"),
        )
    )


@query("x_decontaminate", oracle=_DECON_ORACLE)
def x_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs that share any 8-word
    gram with the held-out eval slice (doc_id % 97 of the base corpus) —
    the n-gram overlap rule used to decontaminate GPT-3/PaLM training
    sets. The eval gram set is tiny and broadcast into the corpus-side
    gram stream, so the corpus is scanned once, narrowly; the only
    shuffle is the per-doc hit count. At 100 TB the eval set is still
    KBs ⇒ broadcast always works; the corpus-side gram explode is a
    narrow map that pipelines with the scan.

    The per-doc gram total deliberately does NOT go through the explode:
    it is ``size(array_distinct(...))`` computed array-side per row, so
    the explode runs once (for the hit join), not twice — a third of the
    round-2 plan's work, and the totals branch is now zero-shuffle."""
    docs = documents_dup(spark, sf_dir)
    is_bench = (F.col("doc_id") % 97 == 0) & (F.col("doc_id") < 1000000)
    gram_arr = F.array_distinct(
        F.expr(
            "transform(sequence(0, size(split(text, ' ')) - 8),"
            " k -> concat_ws(' ', slice(split(text, ' '), k + 1, 8)))"
        )
    )
    bench = _grams8(docs.filter(is_bench)).select("gram").distinct()
    train_docs = docs.filter(~is_bench)
    totals = train_docs.filter(F.size(F.split("text", " ")) >= 8).select(
        "doc_id", F.size(gram_arr).alias("n_grams")
    )
    hits = (
        _grams8(train_docs)
        .join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return hits.join(totals, "doc_id").select(
        "doc_id",
        "n_hits",
        "n_grams",
        # Plain `/` adjudicated safe (r13 division audit): the totals
        # branch keeps only docs with >= 8 tokens, which yield >= 1
        # distinct 8-gram, so n_grams >= 1 on every joined row; the ANSI
        # zero-denominator abort is unreachable (NULL text fails the
        # size filter and never reaches here).
        (F.col("n_hits").cast("double") / F.col("n_grams")).alias("contamination"),
    )


# ---------------------------------------------------------------------------
# x_sample_stratified — deterministic per-stratum downsampling
# ---------------------------------------------------------------------------

# Rebalance the language mix: halve the dominant 'en' stratum, quarter
# nothing, keep the rest. Thresholds are hex prefixes: lowercase-hex
# comparison of equal-length strings == numeric comparison of the 32-bit
# value, so `md5 < '80000000'` keeps an exact pseudo-random 50%.
_RATE_HEX = {"en": "80000000"}  # default: keep all

_STRAT_ORACLE = """
SELECT doc_id, lang, source FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
      < CASE lang WHEN 'en' THEN '80000000' ELSE 'g' END
"""


@query("x_sample_stratified", oracle=_STRAT_ORACLE)
def x_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for mix rebalancing: keep a doc
    iff ``substr(md5(doc_id), 1, 8) < rate_hex(lang)`` — here 50% of the
    dominant 'en' stratum, 100% of the rest. No RNG state: the kept set
    is a pure function of the key, so it is identical across cluster
    sizes, retries, and engines (md5 is the cross-engine primitive, as in
    the MinHash family). The whole operator is a narrow filter — zero
    shuffles, fully pushdown-friendly — which is what makes per-stratum
    subsampling free at 100 TB."""
    d = load(spark, sf_dir, "documents")
    thr = F.when(F.col("lang") == "en", F.lit(_RATE_HEX["en"])).otherwise(F.lit("g"))
    u = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    return d.filter(u < thr).select("doc_id", "lang", "source")


# ---------------------------------------------------------------------------
# x_text_pii — PII scrubbing with redaction counts
# ---------------------------------------------------------------------------

_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PHONE_RE = "\\b555-[0-9]{4}\\b"

_PII_ORACLE = f"""
WITH seeded AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com or 555-' ||
         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_EMAIL_RE}'))
            + len(regexp_extract_all(t, '{_PHONE_RE}')) AS BIGINT) AS n_redactions,
       md5(regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g')) AS clean_md5
FROM seeded
"""


@query("x_text_pii", oracle=_PII_ORACLE)
def x_text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: replace emails and phone numbers with placeholder tokens
    and count redactions per doc. The synthetic corpus contains no PII,
    so the fixture deterministically injects one email + one phone per
    doc (derived from doc_id) — the scrub provably fires on every row and
    the md5 of the cleaned text is cross-engine checkable. Narrow map,
    zero shuffles; the regexes stay in the ASCII subset both Java regex
    and RE2 agree on."""
    d = load(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(t, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    n_red = (
        F.regexp_count(t, F.lit(_EMAIL_RE)) + F.regexp_count(t, F.lit(_PHONE_RE))
    ).cast("bigint")
    return d.select(
        "doc_id", n_red.alias("n_redactions"), F.md5(clean).alias("clean_md5")
    )


# ---------------------------------------------------------------------------
# x_domain_mix — temperature-weighted domain mixing budgets
# ---------------------------------------------------------------------------

_MIX_ORACLE = """
WITH per_src AS (
  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_toks
  FROM documents GROUP BY source
),
denom AS (
  -- NULLS LAST pinned explicitly (r15: the r14 ASC-null-order class in
  -- its ARRAY-SIDE form — DuckDB's bare ORDER BY defaults nulls LAST
  -- while Spark's array_sort put the NULL-source struct FIRST, so the
  -- double fold rounded differently by one ulp whenever a NULL source
  -- group exists)
  SELECT list_reduce(list(sqrt(CAST(n_toks AS DOUBLE))
                          ORDER BY source NULLS LAST), (x, y) -> x + y) AS z
  FROM per_src
)
SELECT p.source, p.n_toks,
       sqrt(CAST(p.n_toks AS DOUBLE)) / d.z AS mix_weight,
       CAST(floor(sqrt(CAST(p.n_toks AS DOUBLE)) / d.z * 100000000) AS BIGINT)
         AS token_budget
FROM per_src p CROSS JOIN denom d
"""


@query("x_domain_mix", oracle=_MIX_ORACLE)
def x_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted domain mixing (α = 0.5, the multilingual-
    pretraining damping rule): per source, token mass → sqrt-damped
    weight → integer token budget out of a 100M-token allocation. The
    normalizer Σ√tᵢ is computed as a left-fold over the *source-ordered*
    list of per-domain values, so the double sum has one fixed operand
    order on both engines (canonical.py hazard #1 — a plain SUM(double)
    over 20 domains would be partial-agg-order-dependent). The heavy
    stage (token counting) is a map-side-combinable int sum; everything
    after runs on one row per domain."""
    d = load(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).alias("n_toks")
    )
    # The leading is-null flag pins the NULL-source struct LAST in the
    # array_sort (false < true), matching the oracle's NULLS LAST (r15:
    # the r14 ASC-null-order divergence class in its array-side form —
    # Spark's struct comparison put the NULL field FIRST, so the fold
    # order — and the double rounding — forked on a NULL source group).
    denom = per_src.select(
        F.struct(
            F.col("source").isNull().alias("k0"),
            "source",
            F.sqrt(F.col("n_toks").cast("double")).alias("r"),
        ).alias("s")
    ).agg(
        F.aggregate(
            F.array_sort(F.collect_list("s")),
            F.lit(0.0),
            lambda acc, x: acc + x["r"],
        ).alias("z")
    )
    # Plain `/` adjudicated safe (r13 division audit): z is the sum of
    # sqrt(n_toks) over every source group; each group has >= 1 doc and
    # size(split(text,' ')) >= 1 for non-NULL text, so z > 0 whenever any
    # weight row exists. All-NULL-text sources make z NULL (NULL division
    # is NULL, not an ANSI abort), and an empty documents table produces
    # zero rows so the expression never evaluates. z == 0.0 exactly is
    # unreachable.
    w = F.sqrt(F.col("n_toks").cast("double")) / F.col("z")
    return per_src.crossJoin(F.broadcast(denom)).select(
        "source",
        "n_toks",
        w.alias("mix_weight"),
        F.floor(w * 100000000).cast("bigint").alias("token_budget"),
    )


# ---------------------------------------------------------------------------
# agg_quantile — exact interpolated percentiles per group
# ---------------------------------------------------------------------------

_QUANTILE_ORACLE = """
SELECT l_returnflag,
       quantile_cont(CAST(l_quantity AS DOUBLE), 0.25) AS q25,
       quantile_cont(CAST(l_quantity AS DOUBLE), 0.5)  AS q50,
       quantile_cont(CAST(l_quantity AS DOUBLE), 0.75) AS q75
FROM lineitem GROUP BY l_returnflag
"""


@query("agg_quantile", oracle=_QUANTILE_ORACLE)
def agg_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (p25/p50/p75) of l_quantity per
    return flag: Spark's ``percentile`` and DuckDB's ``quantile_cont``
    both interpolate ``lower + (pos − ⌊pos⌋)·(higher − lower)`` at
    ``pos = p·(n−1)`` in doubles, so the results are bitwise-comparable
    (l_quantity is integer-valued ⇒ the interpolants are exact binary
    fractions). The exact percentile is a full-sort-per-group aggregate —
    fine for grouped quantiles where groups fit a partition; the 100 TB
    un-grouped path is ``approx_percentile`` (t-digest sketch, algebraic,
    map-side combinable), demonstrated rows-only in agg_approx."""
    li = load(spark, sf_dir, "lineitem")
    q = F.expr(
        "percentile(CAST(l_quantity AS DOUBLE), array(0.25D, 0.5D, 0.75D))"
    )
    return li.groupBy("l_returnflag").agg(
        q[0].alias("q25"), q[1].alias("q50"), q[2].alias("q75")
    )


# ---------------------------------------------------------------------------
# x_text_repetition — Gopher-style repetition quality signals
# ---------------------------------------------------------------------------

_REP_ORACLE = """
WITH split AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
grams AS (
  SELECT doc_id, toks, len(toks) AS n,
         list_transform(range(1, len(toks)),
                        k -> toks[k] || ' ' || toks[k + 1]) AS g2
  FROM split WHERE len(toks) >= 2
),
feats AS (
  SELECT doc_id, n,
         1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / n AS dup_word_frac,
         CAST(list_max(list_transform(list_distinct(toks),
               t -> len(list_filter(toks, x -> x = t)))) AS DOUBLE) / n
           AS top_word_frac,
         1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2)
           AS dup_2gram_frac
  FROM grams
)
SELECT doc_id, n AS n_toks, dup_word_frac, top_word_frac, dup_2gram_frac,
       (dup_word_frac < 0.9 AND top_word_frac < 0.3 AND dup_2gram_frac < 0.75)
         AS keep
FROM feats
"""


@query("x_text_repetition", oracle=_REP_ORACLE)
def x_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality gate (the Gopher/MassiveText §A1 rules
    adapted to the fixture's line-less corpus): duplicate-word fraction,
    top-word fraction, and duplicate-2-gram fraction per document, plus
    the keep/drop verdict. Every feature is computed array-side inside
    one narrow projection — no explode, no shuffle, nothing but the scan;
    per-doc work is bounded by document length, not corpus size, so the
    operator is embarrassingly parallel at 100 TB. Ratios are int/int
    divisions — bitwise identical on both engines.

    Two CPU levers (round 5, measured 2.8s → 1.0s at sf0.1): the token
    array binds ONCE as a projected column (the original expression
    re-split the text in six places and codegen does not CSE across
    lambda boundaries), and the top-word count is the longest run in the
    SORTED array — O(n log n) via run-start indices — instead of the
    O(distinct·n) count-each-distinct-token nested filter."""
    d = load(spark, sf_dir, "documents")
    # each stage binds as a projected column so no array expression is
    # re-evaluated inside a downstream lambda (no CSE across lambdas)
    bound = (
        d.select("doc_id", F.split("text", " ").alias("toks"))
        .filter(F.size("toks") >= 2)
        .withColumn("stoks", F.sort_array("toks"))
        .withColumn(
            # run-start indices in the sorted array (0-based; element_at
            # is 1-based)
            "starts",
            F.expr(
                "filter(sequence(0, size(stoks) - 1),"
                " i -> i = 0 OR element_at(stoks, i + 1)"
                " != element_at(stoks, i))"
            ),
        )
    )
    toks = F.col("toks")
    n = F.size(toks)
    g2 = F.expr(
        "transform(sequence(1, size(toks) - 1),"
        " k -> concat_ws(' ', slice(toks, k, 2)))"
    )
    # longest sorted run = max diff between consecutive run starts (with
    # the array length appended as the final boundary)
    top_cnt = F.expr(
        "array_max(zip_with("
        " concat(slice(starts, 2, size(toks)), array(size(toks))),"
        " starts, (e, s) -> e - s))"
    )
    # Plain `/` adjudicated safe (r13 division audit): the bound filter
    # keeps only size(toks) >= 2, so n >= 2 and g2 (the n-1 bigrams) is
    # never empty; NULL text fails the size filter upstream.
    dup_word = 1.0 - F.size(F.array_distinct(toks)).cast("double") / n
    top_word = top_cnt.cast("double") / n
    dup_2g = 1.0 - F.size(F.array_distinct(g2)).cast("double") / F.size(g2)
    return bound.select(
        "doc_id",
        n.alias("n_toks"),
        dup_word.alias("dup_word_frac"),
        top_word.alias("top_word_frac"),
        dup_2g.alias("dup_2gram_frac"),
        ((dup_word < 0.9) & (top_word < 0.3) & (dup_2g < 0.75)).alias("keep"),
    )


# ---------------------------------------------------------------------------
# x_dedup_url — URL canonicalization dedup
# ---------------------------------------------------------------------------

_URL_CTE = """
WITH urled AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://WWW.' ELSE 'http://' END
           || source || '.example.com/page/' || CAST(doc_id % 40 AS VARCHAR)
           || CASE WHEN doc_id % 2 = 0 THEN '/?utm_source=feed&ref=rss'
                   ELSE '' END AS url
  FROM documents
)
"""

_URL_ORACLE = _URL_CTE + """,
canon AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(lower(url), '^https?://(www\\.)?', ''),
             '[?#].*$', ''),
           '/+$', '') AS curl
  FROM urled
)
SELECT curl, MIN(doc_id) AS survivor_id, COUNT(*) AS n_copies
FROM canon GROUP BY curl HAVING COUNT(*) > 1
"""


@query("x_dedup_url", oracle=_URL_ORACLE)
def x_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup (the CommonCrawl-style pre-filter that
    runs before any content hashing): lowercase, strip scheme and www,
    drop query/fragment and trailing slashes, then keep one survivor per
    canonical URL. The fixture synthesizes scheme/case/tracking-param
    variants from doc_id so canonicalization provably merges rows the
    raw string would keep apart. Canonicalization is a narrow regexp
    chain; the dedup groupBy shuffles only the canonical URL + id —
    never document payloads (same shape as x_dedup_exact)."""
    d = load(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 3 == 0, F.lit("HTTPS://WWW.")).otherwise(
            F.lit("http://")
        ),
        F.col("source"),
        F.lit(".example.com/page/"),
        (F.col("doc_id") % 40).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("/?utm_source=feed&ref=rss")).otherwise(
            F.lit("")
        ),
    )
    curl = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.lower(url), "^https?://(www\\.)?", ""), "[?#].*$", ""
        ),
        "/+$",
        "",
    )
    return (
        d.select(F.col("doc_id"), curl.alias("curl"))
        .groupBy("curl")
        .agg(F.min("doc_id").alias("survivor_id"), F.count("*").alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


# ---------------------------------------------------------------------------
# x_dedup_incremental — dedup a delta batch against the ingested corpus
# ---------------------------------------------------------------------------

# NOTE: the CASE column comes FIRST so its doc_id reference provably binds
# to the source column, not DuckDB's lateral alias of doc_id + 1000000
_INCR_CTE = """
WITH delta AS (
  SELECT CASE WHEN doc_id % 20 = 0 THEN text
              ELSE text || ' fresh' || CAST(doc_id AS VARCHAR) END AS text,
         doc_id + 1000000 AS doc_id,
         lang
  FROM documents WHERE doc_id % 10 = 0
)
"""

_INCR_ORACLE = _INCR_CTE + """
SELECT d.doc_id, d.lang
FROM delta d
WHERE md5(d.text) IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM documents c WHERE md5(c.text) = md5(d.text))
"""
# ^ NOT EXISTS, not NOT IN (r13 hostile-docs fuzz): one NULL-text corpus
# row puts a NULL in a NOT IN list, which makes NOT IN never-true and
# rejects EVERY delta doc — three-valued logic poisoning the whole batch.
# NOT EXISTS with equality ignores NULL index rows, matching Spark's
# null-unsafe anti-join; the IS NOT NULL guard mirrors the plan's
# quarantine of unfingerprint-able delta docs.


@query("x_dedup_incremental", oracle=_INCR_ORACLE)
def x_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: a delta batch is admitted only where
    its content fingerprint is absent from the already-ingested corpus —
    the daily-crawl shape, where you never re-scan the corpus, only
    anti-join the delta against the fingerprint INDEX (md5 digests, not
    payloads). The fixture delta re-ingests every 10th doc; the % 20
    subset keeps its text verbatim (a true re-crawl duplicate, rejected)
    while the rest is genuinely revised (admitted). At 100 TB the digest
    index is the persisted artifact — 16 bytes/doc — and the anti-join
    shuffles delta-sized digest sets only; with the index bucketed on
    digest the join is exchange-free on the corpus side (join_bucketed's
    lever applied to dedup)."""
    d = load(spark, sf_dir, "documents")
    delta = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.when(F.col("doc_id") % 20 == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" fresh"), F.col("doc_id").cast("string")))
        .alias("text"),
        "lang",
    )
    index = d.select(F.md5("text").alias("fp"))
    return (
        delta.select("doc_id", "lang", F.md5("text").alias("fp"))
        # r13 hostile-docs fuzz: a NULL-text delta doc has a NULL
        # fingerprint — Spark's null-unsafe anti-join would ADMIT it
        # (NULL never equi-matches) while the oracle's three-valued
        # NOT IN rejects it. Rejecting is also the right ingest policy:
        # an unfingerprint-able (corrupt) document cannot be verified as
        # new, so it is quarantined rather than blindly admitted.
        .filter(F.col("fp").isNotNull())
        .join(index, "fp", "left_anti")
        .select("doc_id", "lang")
    )


# ---------------------------------------------------------------------------
# x_corpus_stats — per-language corpus health report
# ---------------------------------------------------------------------------

_STATS_ORACLE = """
WITH feats AS (
  SELECT lang, source, md5(text) AS fp,
         len(string_split(text, ' ')) AS n_toks,
         len(list_distinct(string_split(text, ' '))) AS n_uniq
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
       COUNT(DISTINCT source) AS n_sources,
       1.0 - CAST(COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*) AS dup_rate,
       CAST(SUM(n_toks) AS DOUBLE) / COUNT(*) AS mean_doc_tokens,
       CAST(SUM(CASE WHEN CAST(n_uniq AS DOUBLE) / n_toks > 0.1 THEN 1 ELSE 0 END)
            AS DOUBLE) / COUNT(*) AS quality_pass_rate
FROM feats GROUP BY lang
"""


@query("x_corpus_stats", oracle=_STATS_ORACLE)
def x_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus health report per language — the dashboard numbers a
    pretraining-data owner watches: doc/token volume, source diversity,
    exact-dup rate, mean doc length, and the fraction passing a lexical-
    diversity gate. One groupBy over array-side features (no explode, no
    second pass). Plan shape (verified via .explain): the two DISTINCT
    aggregates trigger Spark's Expand rewrite — each feature row fans to
    3 replicas tagged (fp-group, source-group, plain), partially
    aggregated map-side before ONE exchange whose cardinality is the
    distinct-fingerprint count. That shuffle is the irreducible cost of
    an exact dup_rate (the approximate path would swap in HLL sketches,
    as in agg_approx). Ratios are int/int divisions — bitwise identical
    on both engines."""
    toks = F.split("text", " ")
    feats = load(spark, sf_dir, "documents").select(
        "lang",
        "source",
        F.md5("text").alias("fp"),
        F.size(toks).alias("n_toks"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
    )
    return feats.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").alias("total_tokens"),
        F.countDistinct("source").alias("n_sources"),
        (1.0 - F.countDistinct("fp").cast("double") / F.count("*")).alias("dup_rate"),
        (F.sum("n_toks").cast("double") / F.count("*")).alias("mean_doc_tokens"),
        (
            F.sum(
                F.when(F.col("n_uniq").cast("double") / F.col("n_toks") > 0.1, 1).otherwise(0)
            ).cast("double")
            / F.count("*")
        ).alias("quality_pass_rate"),
    )


# ---------------------------------------------------------------------------
# win_sessionize — gap-based batch sessionization
# ---------------------------------------------------------------------------

_SESSIONIZE_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id, ts, event_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM flagged
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       COUNT(*) AS n_events
FROM numbered
GROUP BY user_id, session_idx
"""


@query("win_sessionize", oracle=_SESSIONIZE_ORACLE)
def win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (the batch twin of streaming s_session): a new
    session starts after a >30-minute silence; the classic two-window
    formulation — gap flag via lag, session index via running sum — then
    one rollup per (user, session). Both windows and the final groupBy
    share the user_id partitioning, so the whole operator is ONE shuffle
    (the sort inside each user partition is local). Timestamps format to
    second-precision text for the cross-engine hash (canonical.py #3);
    (ts, event_id) ordering makes tie-handling deterministic."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    prev = F.lag("ts").over(w)
    # µs-exact gap, matching the oracle's `ts - lag(ts) > INTERVAL 30 MINUTE`
    # on ALL inputs: cast('long') truncates to whole seconds, so a gap of
    # 1800.5 s could flip sessions vs the oracle when the fractional parts
    # align (fixture ts carries µs precision; caught by the r10 fuzz)
    new_s = F.when(
        prev.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev) > 1_800_000_000),
        1,
    ).otherwise(0)
    return (
        ev.select("user_id", "ts", "event_id", new_s.alias("new_session"))
        .select(
            "user_id",
            "ts",
            F.sum("new_session").over(run).cast("bigint").alias("session_idx"),
        )
        .groupBy("user_id", "session_idx")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            F.count("*").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# x_shard_balance — deterministic output sharding + balance report
# ---------------------------------------------------------------------------

_SHARD_ORACLE = """
WITH sharded AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER % 64
           AS shard_id,
         len(string_split(text, ' ')) AS n_toks
  FROM documents
)
SELECT shard_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS total_tokens
FROM sharded GROUP BY shard_id
"""


@query("x_shard_balance", oracle=_SHARD_ORACLE)
def x_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic output sharding for training-data writers: every doc
    lands in shard ``md5(doc_id)[:4] % 64`` — a pure function of the key,
    so shard membership is stable across runs, engines, and cluster
    sizes (no round-robin, no partition-index dependence), and md5
    uniformity balances both doc counts and token mass. The report is
    the per-shard histogram a writer checks before committing. At 100 TB
    the same expression feeds ``repartition(64, shard_id)`` so each task
    writes exactly one shard file (the join_bucketed file-layout lever
    applied to the sink side); 4 hex digits (16 bits) keeps the parsed
    value deterministic and overflow-free on both engines."""
    d = load(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 64
    )
    return (
        d.select(
            shard.alias("shard_id"),
            F.size(F.split("text", " ")).alias("n_toks"),
        )
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# x_eval_split — deterministic train/val/test assignment
# ---------------------------------------------------------------------------

_SPLIT_ORACLE = """
SELECT doc_id, lang,
       CASE
         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc' THEN 'train'
         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'val'
         ELSE 'test'
       END AS split
FROM documents
"""


@query("x_eval_split", oracle=_SPLIT_ORACLE)
def x_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by md5 range: the
    32-bit hex prefix of md5(doc_id) falls below 0xcccccccc (= 0.8) for
    train, below 0xe6666666 (= 0.9) for val, else test. Assignment is a
    pure function of the key — re-runs, engine swaps, and cluster
    resizes can never move a document across the split boundary (the
    leakage mode that silently contaminates evals when splits come from
    rand() or row position). A narrow zero-shuffle map, like
    x_sample_stratified; the two operators compose (sample within a
    split) because both condition on the same md5 stream."""
    d = load(spark, sf_dir, "documents")
    u = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    split = (
        F.when(u < "cccccccc", "train").when(u < "e6666666", "val").otherwise("test")
    )
    return d.select("doc_id", "lang", split.alias("split"))


# ---------------------------------------------------------------------------
# x_text_perplexity — unigram-LM quality scoring (CCNet-style)
# ---------------------------------------------------------------------------

_PPL_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
freqs AS (
  SELECT tok,
         CAST(COUNT(*) AS DOUBLE)
           / (SELECT COUNT(*) FROM toks) AS p
  FROM toks GROUP BY tok
),
scored AS (
  SELECT t.doc_id,
         CAST(ROUND(CAST(-ln(f.p) AS DECIMAL(28,6)), 6) AS DECIMAL(28,6))
           AS nll
  FROM toks t JOIN freqs f ON t.tok = f.tok
)
SELECT doc_id,
       COUNT(*) AS n_toks,
       CAST(SUM(nll) AS DOUBLE) / COUNT(*) AS avg_nll
FROM scored GROUP BY doc_id
"""


@query("x_text_perplexity", oracle=_PPL_ORACLE)
def x_text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score (the CCNet/perplexity-filter shape): each
    doc scores the mean negative log-probability of its tokens under the
    corpus unigram distribution — high avg_nll = rare-token soup, the
    docs a perplexity filter drops. Spark plan: one token explode feeds
    BOTH the frequency table and the scoring join (self-reusable scan);
    the tiny vocabulary broadcasts. Determinism: ln() values are rounded
    to 6 dp IN EXACT DECIMAL before the per-doc sum, so the aggregation
    is order-independent (canonical.py hazard #1 — a raw double sum of
    log-probs would be partial-agg-order-dependent); the corpus total
    rides along as a broadcast 1-row count, keeping the operator one
    lazy plan. At 100 TB the unigram table replaces the real KenLM
    scorer, which would run as a batched pandas UDF over the same
    pipeline shape."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    total = toks.agg(F.count("*").alias("n_total"))
    freqs = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .crossJoin(F.broadcast(total))
        .select("tok", (F.col("c").cast("double") / F.col("n_total")).alias("p"))
    )
    nll = F.round((-F.log("p")).cast("decimal(28,6)"), 6).cast("decimal(28,6)")
    scored = toks.join(F.broadcast(freqs), "tok").select("doc_id", nll.alias("nll"))
    # divide as DOUBLE (exact decimal sum → double, then one IEEE division)
    # — decimal/int division picks engine-specific result scales
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_toks"),
        (F.sum("nll").cast("double") / F.count("*")).alias("avg_nll"),
    )


# ---------------------------------------------------------------------------
# x_dedup_near_indexed — MinHash dedup over a PERSISTED signature index
# ---------------------------------------------------------------------------


@query("x_dedup_near_indexed", oracle=None)
def x_dedup_near_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The campaign form of x_dedup_near: shingles and LSH band signatures
    are INGESTED ONCE per source corpus into parquet index tables (one
    atomic artifact — artifacts.ensure_artifact owns path keying,
    content-fingerprint staleness, and rename-atomic publish) and every
    subsequent dedup run is just the candidate equi-join + Jaccard verify
    over the indexes — the corpus text is never re-read, never
    re-shingled, never re-hashed. This is PERF.md's 'persist the shingle
    table at scale' lever made concrete: locally the recompute wins inside
    ONE query, but across a dedup campaign (many runs, growing corpus) the
    index pays for itself on the second run. Registered rows-only ONLY
    because its result is identical by construction to x_dedup_near's
    (same md5 derivation) — the invariant test asserts pair-for-pair
    equality with that fully oracle-checked query, which is a stronger
    check than re-running the same SQL twice."""
    import os

    from ..artifacts import ensure_artifact

    def build(tmp: str) -> None:
        tok_tmp = os.path.join(tmp, "tokens")
        shingles3(documents_dup(spark, sf_dir)).write.mode("overwrite").parquet(tok_tmp)
        toks_idx = spark.read.parquet(tok_tmp)  # reuse the just-written index
        band_signatures(minhash_signatures(toks_idx)).write.mode("overwrite").parquet(
            os.path.join(tmp, "sigs")
        )

    # every helper the build delegates to is part of the index's version: an
    # edit to any of them must rebuild the index persisted under the warehouse
    loc, _ = ensure_artifact(
        spark, sf_dir, "neardup_idx", ["documents.parquet"], build,
        code=[documents_dup, shingles3, minhash_signatures, band_signatures],
    )
    toks = spark.read.parquet(os.path.join(loc, "tokens"))
    sigs = spark.read.parquet(os.path.join(loc, "sigs"))
    inter = shingle_overlap(lsh_candidates(sigs), toks)
    j = F.col("ninter").cast("double") / (F.col("na") + F.col("nb") - F.col("ninter"))
    return inter.filter(j >= 0.5).select(
        "doc_a", "doc_b", F.round(j, 6).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# x_dedup_editdist — Levenshtein fuzzy match of a delta batch, prefix-blocked
# ---------------------------------------------------------------------------

_EDITDIST_ORACLE = _INCR_CTE + """,
probe AS (
  SELECT doc_id, lang, text,
         md5(array_to_string(list_slice(string_split(text, ' '), 1, 5), ' '))
           AS blk
  FROM delta
),
corpus AS (
  SELECT doc_id, lang, text,
         md5(array_to_string(list_slice(string_split(text, ' '), 1, 5), ' '))
           AS blk
  FROM documents
)
SELECT p.doc_id AS delta_id,
       c.doc_id AS src_id,
       CAST(levenshtein(p.text, c.text) AS INT) AS edit_dist
FROM probe p JOIN corpus c ON p.blk = c.blk AND p.lang = c.lang
WHERE levenshtein(p.text, c.text) <= 32
"""


@query("x_dedup_editdist", oracle=_EDITDIST_ORACLE)
def x_dedup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) dedup of an incoming delta batch against the
    corpus: candidate pairs are generated by an EQUI join on a cheap block
    key — md5 of the first five tokens plus the language — and only the
    candidates pay the O(len²) Levenshtein DP, capped at distance 32.
    This catches the near-miss revisions x_dedup_incremental's exact-digest
    anti-join admits (the fixture's revised docs differ only by an appended
    ' fresh N' suffix ⇒ small distances; verbatim re-crawls score 0).
    Both engines implement the classic Wagner-Fischer metric ⇒ exact int
    parity. At 100 TB the block key bounds candidates by prefix-collision
    density, the same contract as every LSH operator here; widen the probe
    prefix to tighten blocks."""
    d = load(spark, sf_dir, "documents")
    delta = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.when(F.col("doc_id") % 20 == 0, F.col("text"))
        .otherwise(
            F.concat(F.col("text"), F.lit(" fresh"), F.col("doc_id").cast("string"))
        )
        .alias("text"),
        "lang",
    )
    blk = F.md5(F.concat_ws(" ", F.slice(F.split("text", " "), 1, 5)))
    probe = delta.select(
        F.col("doc_id").alias("delta_id"),
        F.col("lang").alias("p_lang"),
        F.col("text").alias("p_text"),
        blk.alias("blk"),
    )
    corpus = d.select(
        F.col("doc_id").alias("src_id"),
        F.col("lang").alias("c_lang"),
        F.col("text").alias("c_text"),
        blk.alias("blk"),
    )
    dist = F.levenshtein("p_text", "c_text")
    return (
        probe.join(corpus, ["blk"])
        .filter(F.col("p_lang") == F.col("c_lang"))
        .filter(dist <= 32)
        .select("delta_id", "src_id", dist.cast("int").alias("edit_dist"))
    )


# ---------------------------------------------------------------------------
# x_quality_gopher — Gopher-style rule-based quality gate
# ---------------------------------------------------------------------------

_GOPHER_ORACLE = """
WITH t AS (
  SELECT doc_id, lang,
         string_split(text, ' ') AS toks,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
  FROM documents
),
m AS (
  SELECT doc_id, lang, n_words,
         CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
           AS sum_word_len,
         CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))
              AS BIGINT) AS n_alpha_words,
         CAST(len(list_filter(toks, x -> x IN ('#', '...')))
              AS BIGINT) AS n_symbol_words,
         CAST(len(list_filter(toks,
              x -> x IN ('the', 'be', 'to', 'of', 'and', 'that', 'have',
                         'with'))) AS BIGINT) AS n_stop_words
  FROM t
),
r AS (
  SELECT doc_id, lang, n_words,
         ROUND(CAST(sum_word_len AS DOUBLE) / n_words, 6) AS mean_word_len,
         (n_words >= 50 AND n_words <= 100000) AS rule_word_count,
         (CAST(sum_word_len AS DOUBLE) / n_words >= 3.0
          AND CAST(sum_word_len AS DOUBLE) / n_words <= 10.0)
           AS rule_mean_word_len,
         (CAST(n_alpha_words AS DOUBLE) / n_words >= 0.8) AS rule_alpha,
         (CAST(n_symbol_words AS DOUBLE) / n_words <= 0.1) AS rule_symbol,
         (n_stop_words >= 2) AS rule_stopwords
  FROM m
)
SELECT doc_id, lang, n_words, mean_word_len,
       rule_word_count, rule_mean_word_len, rule_alpha, rule_symbol,
       rule_stopwords,
       (rule_word_count AND rule_mean_word_len AND rule_alpha
        AND rule_symbol AND rule_stopwords) AS gopher_pass
FROM r
"""


@query("x_quality_gopher", oracle=_GOPHER_ORACLE)
def x_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality gate (the published heuorithm family
    from the Gopher/MassiveText filtering pipeline): word-count bounds,
    mean-word-length bounds, minimum fraction of words containing an
    alphabetic character, maximum symbol-word ratio, and a minimum stopword
    count — each emitted as its own boolean so downstream analysis can
    attribute rejections, plus the conjunction. Entirely array-side narrow
    compute (one pass, zero shuffles); x_text_quality covers the
    statistical features, this covers the hard gate."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_words = F.size(toks).cast("bigint")
    sum_word_len = F.aggregate(
        F.transform(toks, lambda x: F.length(x).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-zA-Z]"))).cast("bigint")
    n_symbol = F.size(F.filter(toks, lambda x: x.isin("#", "..."))).cast("bigint")
    n_stop = F.size(
        F.filter(
            toks,
            lambda x: x.isin("the", "be", "to", "of", "and", "that", "have", "with"),
        )
    ).cast("bigint")
    mean_wl = sum_word_len.cast("double") / n_words
    rule_wc = (n_words >= 50) & (n_words <= 100000)
    rule_mwl = (mean_wl >= 3.0) & (mean_wl <= 10.0)
    rule_alpha = n_alpha.cast("double") / n_words >= 0.8
    rule_symbol = n_symbol.cast("double") / n_words <= 0.1
    rule_stop = n_stop >= 2
    return d.select(
        "doc_id",
        "lang",
        n_words.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        rule_wc.alias("rule_word_count"),
        rule_mwl.alias("rule_mean_word_len"),
        rule_alpha.alias("rule_alpha"),
        rule_symbol.alias("rule_symbol"),
        rule_stop.alias("rule_stopwords"),
        (rule_wc & rule_mwl & rule_alpha & rule_symbol & rule_stop).alias(
            "gopher_pass"
        ),
    )


# ---------------------------------------------------------------------------
# x_vocab_coverage — vocabulary size + top-k token coverage per language
# ---------------------------------------------------------------------------

_VOCAB_ORACLE = """
WITH tok AS (
  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
),
cnt AS (
  SELECT lang, tok, COUNT(*) AS c FROM tok GROUP BY lang, tok
),
ranked AS (
  SELECT lang, c,
         row_number() OVER (PARTITION BY lang ORDER BY c DESC, tok) AS rnk
  FROM cnt
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS vocab_size,
       CAST(SUM(c) AS BIGINT) AS total_tokens,
       ROUND(CAST(SUM(CASE WHEN rnk <= 10 THEN c ELSE 0 END) AS DOUBLE)
             / SUM(c), 6) AS top10_coverage,
       ROUND(CAST(SUM(CASE WHEN rnk <= 25 THEN c ELSE 0 END) AS DOUBLE)
             / SUM(c), 6) AS top25_coverage
FROM ranked GROUP BY lang
"""


@query("x_vocab_coverage", oracle=_VOCAB_ORACLE)
def x_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage profile per language: vocabulary size, token
    mass, and the fraction of that mass covered by the top-10 / top-25
    tokens — the numbers that size a tokenizer vocabulary and expose
    boilerplate-dominated corpora (high head coverage = templated text).
    One explode feeds a (lang, tok) count; ranking runs on the count
    table (vocab-sized, ≪ corpus) with a (count DESC, tok) total order so
    head membership is deterministic; the final rollup is lang-sized.
    Shuffle cost is the token count — map-side combinable — plus the
    vocab-sized rank exchange; the corpus text itself never shuffles."""
    d = load(spark, sf_dir, "documents")
    cnt = (
        d.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("c").desc(), F.col("tok"))
    ranked = cnt.withColumn("rnk", F.row_number().over(w))
    head = lambda k: F.sum(F.when(F.col("rnk") <= k, F.col("c")).otherwise(0))  # noqa: E731
    return ranked.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("vocab_size"),
        F.sum("c").cast("bigint").alias("total_tokens"),
        F.round(head(10).cast("double") / F.sum("c"), 6).alias("top10_coverage"),
        F.round(head(25).cast("double") / F.sum("c"), 6).alias("top25_coverage"),
    )


# ---------------------------------------------------------------------------
# x_attribution — first/last-touch attribution over event sessions
# ---------------------------------------------------------------------------

_ATTRIBUTION_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id, ts, event_id, event_type, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM flagged
),
fl AS (
  SELECT user_id, session_idx, value,
         first_value(event_type) OVER w2 AS first_src,
         last_value(event_type) OVER w2 AS last_src
  FROM numbered
  WINDOW w2 AS (PARTITION BY user_id, session_idx ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
per_session AS (
  SELECT user_id, session_idx, first_src, last_src,
         SUM(CAST(value AS DECIMAL(18,6))) AS sv
  FROM fl GROUP BY user_id, session_idx, first_src, last_src
),
credits AS (
  SELECT first_src AS source, 'first' AS touch, sv FROM per_session
  UNION ALL
  SELECT last_src AS source, 'last' AS touch, sv FROM per_session
)
SELECT source,
       CAST(SUM(CASE WHEN touch = 'first' THEN 1 ELSE 0 END) AS BIGINT)
         AS first_touch_sessions,
       CAST(SUM(CASE WHEN touch = 'last' THEN 1 ELSE 0 END) AS BIGINT)
         AS last_touch_sessions,
       CAST(SUM(CASE WHEN touch = 'first' THEN sv END) AS DOUBLE)
         AS first_touch_value,
       CAST(SUM(CASE WHEN touch = 'last' THEN sv END) AS DOUBLE)
         AS last_touch_value
FROM credits GROUP BY source
"""


def attribution_report(ev: DataFrame) -> DataFrame:
    """First/last-touch attribution over an events frame — the operator
    body behind :func:`x_attribution`, factored out so property tests can
    feed repartitioned/synthetic inputs (the bucket_hash_report pattern)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("ts").over(w)
    # µs-exact gap — same boundary semantics as win_sessionize and both
    # oracles' `> INTERVAL 30 MINUTE` (see the note there)
    new_s = F.when(
        prev.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev) > 1_800_000_000),
        1,
    ).otherwise(0)
    per_session = (
        ev.select("user_id", "ts", "event_id", "event_type", "value")
        .withColumn("new_session", new_s)
        .select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            "value",
            F.sum("new_session").over(run).cast("bigint").alias("session_idx"),
        )
        .groupBy("user_id", "session_idx")
        .agg(
            F.min_by("event_type", F.struct("ts", "event_id")).alias("first_src"),
            F.max_by("event_type", F.struct("ts", "event_id")).alias("last_src"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sv"),
        )
    )
    # both credit rows generate in the SAME narrow stage (explode of a 2-array
    # — x_knn_graph's mirror trick): a unionByName of two selects would
    # re-compute the whole session subplan twice
    credits = per_session.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("first_src").alias("source"),
                    F.lit("first").alias("touch"),
                    F.col("sv").alias("sv"),
                ),
                F.struct(
                    F.col("last_src").alias("source"),
                    F.lit("last").alias("touch"),
                    F.col("sv").alias("sv"),
                ),
            )
        ).alias("c")
    ).select("c.*")
    return credits.groupBy("source").agg(
        F.sum(F.when(F.col("touch") == "first", 1).otherwise(0))
        .cast("bigint")
        .alias("first_touch_sessions"),
        F.sum(F.when(F.col("touch") == "last", 1).otherwise(0))
        .cast("bigint")
        .alias("last_touch_sessions"),
        F.sum(F.when(F.col("touch") == "first", F.col("sv")))
        .cast("double")
        .alias("first_touch_value"),
        F.sum(F.when(F.col("touch") == "last", F.col("sv")))
        .cast("double")
        .alias("last_touch_value"),
    )


@query("x_attribution", oracle=_ATTRIBUTION_ORACLE)
def x_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch attribution over gap-based sessions: win_sessionize's
    30-minute-silence sessions, each crediting its full value once to the
    session's FIRST event type and once to its LAST, rolled up per source —
    the standard marketing-attribution composite (sessionize → windowed
    first/last → per-source credit rollup) built from proven parts.

    Plan shape: the session windows, the per-session min_by/max_by
    aggregate, and its value sum all cluster on user_id — hash-partitioning
    on user_id satisfies the (user_id, session_idx) clustering requirement
    (subset rule), so everything up to the credit rollup rides ONE exchange;
    the final per-source aggregate shuffles a sessions-count-sized table to
    at most |event_type| rows. Determinism: (ts, event_id) is a total order
    (event_id unique), so min_by/max_by on that struct pick exactly the
    oracle's first_value/last_value rows; session values sum in exact
    decimal (order-independent, re-aggregating exactly through the credit
    explode — canonical.money_sum's contract). At 100 TB the same plan
    holds with user_id as the natural high-cardinality key; the credit
    explode doubles only a sessions-sized SLIM projection (source, touch,
    sv), never the event payloads."""
    return attribution_report(load(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# x_dedup_drop_list — write-ready keep/drop list from duplicate clusters
# (round 17, §7.13 candidate 2)
# ---------------------------------------------------------------------------

_DROP_LIST_ORACLE = f"""
SELECT doc_id, cluster_id, cluster_size,
       CASE WHEN doc_id = cluster_id THEN 'keep' ELSE 'drop' END AS action
FROM ({_CLUSTERS_ORACLE.strip()}) clusters
"""


@query("x_dedup_drop_list", oracle=_DROP_LIST_ORACLE)
def x_dedup_drop_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-ready keep/drop list from duplicate clusters (SURVEY §7.13
    candidate 2) — the consumer completing cluster → elect → drop: from
    x_dedup_clusters' components, elect the canonical survivor per
    cluster and emit the list a dedup campaign's delete job executes:

      (doc_id, cluster_id, cluster_size, action keep|drop)

    one row per clustered doc (singletons never enter — cluster machinery
    already excludes size-1), exactly one 'keep' per cluster. The
    election IS the cluster label: min-label CC labels every component
    by its minimum doc_id, so ``action = keep iff doc_id = cluster_id``
    — no second election pass, and the two engines cannot disagree on
    ties because doc_id is the table's unique non-null key (the same
    total-order precondition documented on x_dedup_clusters / the r13
    derived-id injectivity note). Survivor-by-min-id is the standard
    deterministic campaign policy; a quality-scored election would swap
    the CASE for recon_remediate's min_by-struct pattern without
    touching the cluster machinery.

    Composition, not duplication: the plan is x_dedup_clusters' result
    with one narrow projection appended; the oracle wraps the cluster
    oracle's recursive-closure CTEs verbatim in one outer CASE — the two
    can never drift from the op they consume (the x_chunk_pack /
    x_bpe_apply shared-prefix precedent). Scale shape: inherited
    unchanged — the checked fixed-point CC over the duplicate-density-
    sized edge list, plus a zero-exchange projection."""
    return x_dedup_clusters(spark, sf_dir).withColumn(
        "action",
        F.when(F.col("doc_id") == F.col("cluster_id"), "keep").otherwise(
            "drop"
        ),
    )
