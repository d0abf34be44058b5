"""Round-15 recon_schema_evolve pins (SURVEY §7.6.2).

The migration audit distinguishes schema-fill nullness (the vintage never
carried the column; mergeSchema synthesized NULL) from real storage nulls
inside the owning vintage. The hostile pools here cover the shapes a
long-lived table's history actually produces:

- NULL / negative order keys — the pmod split must PARTITION the table
  (r14 s_checkpoint_resume class: a C-style ``% 2`` drops them from both
  vintages; NULLs must land deterministically with the odd keys).
- Vintage-skewed distribution — ALL keys one parity leaves the other
  vintage fileless, so its columns vanish from the merged schema entirely
  and footer-probed ownership must report zero presence (not crash, not
  assume the catalog).
- All-null ADDED column — every o_status_code value NULL in its owning
  vintage: n_null_real must equal the vintage's row count while
  n_null_fill stays the other vintage's (real vs fill separation under
  the degenerate case that looks exactly like fill).
- All-null DROPPED column — same separation on the pre-migration side.
- Empty source — both vintages empty; the report is the full 5-row
  catalog with all-zero counts (the oracle's single agg row behaves the
  same way).

Out of contract, pinned loudly rather than silently: a vintage that
CHANGES a column's type. Spark's parquet mergeSchema raises on
conflicting types (it merges field SETS, not type lattices), so a type
migration can never silently corrupt the audit — it needs a
cast-on-read plan, a different tool.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from .test_round10_properties import _oracle_parity, _write_orders

_HOSTILE_KEYS = [
    # (key, cust, status, price, day, prio): negative evens/odds, NULL key,
    # int64 extremes, and a NULL-status row riding a NULL key
    (0, 1, "O", 100.0, 0, "1-URGENT"),
    (-2, 2, "F", 200.0, 1, "3-MEDIUM"),
    (-3, 3, "P", 300.0, 2, "5-LOW"),
    (7, 4, None, None, 3, "2-HIGH"),
    (None, 5, None, 400.0, 4, "4-NOT SPECIFIED"),
    (9223372036854775807, 6, "O", 500.0, 5, "1-URGENT"),
    (-9223372036854775808, 7, "F", None, 6, "3-MEDIUM"),
]


def test_hostile_keys_split_and_count_identically(spark, tmp_path):
    d = str(tmp_path)
    _write_orders(spark, d, _HOSTILE_KEYS)
    _oracle_parity(spark, d, ("recon_schema_evolve",))


def test_vintage_skew_one_side_fileless(spark, tmp_path):
    """ALL odd keys: vintage v1 writes no files, o_totalprice exists in
    no footer, and presence/fill must come out of the FILES, not the
    catalog assumption."""
    d = str(tmp_path)
    _write_orders(
        spark,
        d,
        [(2 * i + 1, i, "O", 10.0 * i, i, "5-LOW") for i in range(8)],
    )
    _oracle_parity(spark, d, ("recon_schema_evolve",))


def test_all_null_added_column_is_real_not_fill(spark, tmp_path):
    d = str(tmp_path)
    _write_orders(
        spark,
        d,
        [(i, i, None, None if i % 2 == 0 else 1.0 * i, i, "5-LOW")
         for i in range(10)],
    )
    _oracle_parity(spark, d, ("recon_schema_evolve",))


def test_empty_source_reports_zero_catalog(spark, tmp_path):
    d = str(tmp_path)
    _write_orders(spark, d, [])
    _oracle_parity(spark, d, ("recon_schema_evolve",))


def test_merge_schema_type_conflict_fails_loudly(spark, tmp_path):
    """The documented out-of-contract fork: a column whose TYPE changed
    between vintages makes Spark's mergeSchema raise (merge of field sets,
    not a type lattice) — the audit can never silently mis-count a type
    migration as nullness."""
    root = str(tmp_path / "conflict")
    spark.createDataFrame([(1, 1.5)], "k bigint, v double").write.parquet(
        root + "/vintage=v1"
    )
    spark.createDataFrame([(2, "x")], "k bigint, v string").write.parquet(
        root + "/vintage=v2"
    )
    with pytest.raises(Exception, match="(?i)merge|incompatible|failed"):
        spark.read.option("mergeSchema", "true").parquet(root).collect()


def test_single_data_sized_exchange(spark, sf_dir):
    """Scale contract: the orders-sized read contributes exactly ONE
    shuffle (the groupBy(vintage) partial/final agg); everything after it
    runs on a metadata-sized long frame whose joins broadcast. Two
    Exchange nodes total — the second is the ≤2×|cols|-row per-column
    rollup — and no cartesian anywhere."""
    from reconciliation_hive_data_spark.plans.recon_scale import (
        recon_schema_evolve,
    )

    from .test_plans import plan

    p = plan(recon_schema_evolve(spark, sf_dir))
    assert p.count(") Exchange") == 2, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert "BroadcastHashJoin" in p


def test_fingerprint_status_nullsafe_empty_vs_empty(spark):
    """§7.7.2 polish pin: a metric NULL on BOTH sides (min/max/sum over an
    empty side) is equally absent — MATCH; NULL on exactly ONE side stays
    FP_DIFF. Before r15 the bare NULL comparison's when/otherwise read
    both cases as FP_DIFF on Spark and as 0-diff in the oracle."""
    from reconciliation_hive_data_spark.plans.api import ReconPair

    schema = "k bigint, v double"
    empty = spark.createDataFrame([], schema)
    one = spark.createDataFrame([(1, 2.5)], schema)

    both_empty = ReconPair(
        source=empty, target=empty, keys=["k"], compare_cols={"v": "double"}
    ).fingerprints()
    # 6 metrics: row_count, nulls__v, distinct__v, sum__v, min__v, max__v
    assert [r.status for r in both_empty.collect()] == ["MATCH"] * 6

    one_side = ReconPair(
        source=one, target=empty, keys=["k"], compare_cols={"v": "double"}
    ).fingerprints()
    # every metric is genuinely one-sided here: row_count 1 vs 0,
    # min/max/sum value vs NULL, and even nulls__v is 0 vs NULL (a SUM
    # over the empty side is NULL — absence, not zero)
    assert [r.status for r in one_side.collect()] == ["FP_DIFF"] * 6


def test_variant_exact_decimal_truncation_known_answers(spark):
    """Spark-side known answers for the r15 out-of-contract class
    (fractional literals with >15-16 significant digits): the variant
    parser stores them as exact DECIMAL(<=38) and the bigint extraction
    truncates the EXACT value — pinned here because no DuckDB oracle can
    express it (yyjson re-renders every DOUBLE-typed token through
    binary64 before a cast can see it; see the fn_variant oracle
    comment)."""
    cases = [
        ('{"k": 4611686018427387903.9}', 4611686018427387903),
        ('{"k": 9223372036854775807.5}', 9223372036854775807),
        ('{"k": -9223372036854775808.9}', -9223372036854775808),
        ('{"k": 9223372036854775808.5}', None),  # int-part past int64
        ('{"k": 2.9999995}', 2),  # no round-half carry, ever
        ('{"k": 1.5e3}', 1500),  # exponent forms parse exactly too
        # >38 significant digits: variant falls back to DOUBLE storage,
        # bigint extraction overflows -> NULL
        ('{"k": 123456789012345678901234567890123456789.5}', None),
    ]
    df = spark.createDataFrame([(s,) for s, _ in cases], "props string")
    got = {
        r.props: r.k
        for r in df.select(
            "props",
            F.try_variant_get(
                F.try_parse_json("props"), "$.k", "bigint"
            ).alias("k"),
        ).collect()
    }
    assert got == {s: exp for s, exp in cases}


def test_exact_decimal_sum_immune_to_partition_order(spark):
    """r15 exact-sum rewrite pin (ADVICE r14): a mixed-sign group whose
    TRUE sum fits int64 but whose partial sums can overflow it must
    aggregate to the true sum on every partitioning — try_sum NULLed
    depending on which values met first; the DECIMAL(38,0) sum is exact.
    A group whose true sum genuinely overflows stays NULL (the oracle's
    HUGEINT + TRY_CAST answer)."""
    from reconciliation_hive_data_spark import registry

    registry.load_all_modules()
    big = 9223372036854775807
    fits = [big, big, -big, -big, 7]  # true sum = 7; partials can overflow
    overflows = [big, big, -3]  # true sum = 2*int64max - 3 > int64max
    for sf_parts in (1, 5):
        rows = [(i, "mix", f'{{"k": {v}}}') for i, v in enumerate(fits)]
        rows += [
            (100 + i, "over", f'{{"k": {v}}}')
            for i, v in enumerate(overflows)
        ]
        df = spark.createDataFrame(
            rows, "event_id bigint, event_type string, props string"
        ).repartition(sf_parts)
        out = {
            r.event_type: r.sum_k
            for r in df.groupBy("event_type")
            .agg(
                F.expr(
                    "try_cast(sum(cast(try_variant_get(try_parse_json(props),"
                    " '$.k', 'bigint') AS decimal(38,0))) AS bigint)"
                ).alias("sum_k")
            )
            .collect()
        }
        assert out == {"mix": 7, "over": None}, (sf_parts, out)


# ---------------------------------------------------------------------------
# x_bpe_round pins (SURVEY §7.6.3)
# ---------------------------------------------------------------------------

def _write_docs(spark, d: str, texts) -> None:
    rows = [
        (i, t, "en", "src0", len(t) if t is not None else None)
        for i, t in enumerate(texts)
    ]
    spark.createDataFrame(
        rows,
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    ).coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")


def test_bpe_greedy_overlap_and_tiebreak(spark, tmp_path):
    """The two semantic edges of a BPE merge round, checked via the oracle:
    greedy left-to-right application on an overlapping run ('aaa' + pair
    aa → [aa, a], never [a, aa]) and the deterministic lexicographic
    tie-break when two pairs share the max count."""
    d = str(tmp_path)
    # 'aa' and 'ab' both occur 3 times; tie-break elects 'aa'.
    # 'aaab': pairs aa,aa,ab -> after merging aa greedily: [aa, a, b]
    _write_docs(spark, d, ["aaab aab", "ab aa", None, ""])
    _oracle_parity(spark, d, ("x_bpe_round",))


def test_bpe_degenerate_corpora(spark, tmp_path):
    """Single-letter-words-only corpus (no pairs exist anywhere -> empty
    report on both engines) and an all-null/empty corpus."""
    d = str(tmp_path)
    _write_docs(spark, d, ["a b c", "a a", None])
    _oracle_parity(spark, d, ("x_bpe_round",))
    _write_docs(spark, d, [None, ""])
    _oracle_parity(spark, d, ("x_bpe_round",))


def test_bpe_single_corpus_scan(spark, sf_dir, monkeypatch):
    """Scale contract: one x_bpe_round call reads the corpus once, into
    the persisted word table, and both pair histograms (before and after
    the merge) read the cached words (each optimized plan has no leaf but
    the InMemoryRelation). The driver election keeps fn() plus the noop
    write of the local report at <= 7 Spark jobs."""
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
    group = "test_bpe_single_corpus_scan"
    sc.setJobGroup(group, group)
    try:
        corpus_ops.x_bpe_round(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    finally:
        sc._jsc.clearJobGroup()
    assert leaves == [{"InMemoryRelation"}] * 2
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 7, jobs


def test_bpe_unicode_case_mapping_immune(spark, tmp_path):
    """r15 soak find, pinned: 'İ' (U+0130) lowercases to 'i' + COMBINING
    DOT on the JVM but to plain ASCII 'i' in DuckDB's utf8proc, so a
    lower(text)-BEFORE-extraction tokenizer forks the token set
    ('i','stanbul' vs 'istanbul') and with it every pair count. The
    ASCII-extract-then-lower form is engine-invariant: non-ASCII letters
    never enter the alphabet, and lower() over [a-zA-Z]+ is exact on
    both engines. Kelvin sign (U+212A) and ẞ (U+1E9E) ride along —
    the same special-case-mapping class."""
    d = str(tmp_path)
    _write_docs(
        spark,
        d,
        ["İstanbul İİ stan", "KKelvin kelvin",
         "ẞharp strasse", "mixed İstanbul kelvin strasse"],
    )
    _oracle_parity(spark, d, ("x_bpe_round",))


def test_domain_mix_null_source_fold_order(spark, tmp_path):
    """r15 full-suite hypothesis find, pinned deterministically: the
    x_domain_mix normalizer folds sqrt-weights in SOURCE order, but with
    a NULL source group Spark's array_sort put the NULL-field struct
    FIRST while DuckDB's bare ORDER BY put it LAST — the r14
    ASC-null-order divergence class in its ARRAY-SIDE form, which the
    r14 orderBy audit's sweep missed. The double sum then rounds
    differently by one ulp for value sets like this one (the pinned
    hostile corpus has a NULL source too, but its magnitudes happen to
    round identically under both orders — hence the explicit pin of the
    falsifying set). Both engines now fold NULLS LAST."""
    from .test_round13_docs_hostile_properties import (
        _write_documents_nullable,
    )

    docs = [
        (999990, "", "es", None),
        (1_099_511_627_776, "  ", "zh", "src1"),
        (-20, "alpha  beta  gamma  beta", "es", "src1"),
        (0, "beta  42", None, "src1"),
        (6, "  ", "es", None),
        (10, "alpha  gamma  42  alpha  gamma", None, "src1"),
        (7, " ", "en", None),
        (-1, "alpha  gamma  42  beta  alpha", "es", "src1"),
        (2, None, "en", "src0"),
        (3, "alpha  42", "es", "src0"),
        (1, " ", None, "src1"),
    ]
    d = str(tmp_path)
    _write_documents_nullable(spark, d, docs)
    _oracle_parity(spark, d, ("x_domain_mix",))
