"""Physical-plan shape assertions — the 100-TB design contract
(SURVEY.md §4): predicates reach the parquet scan, projections prune
columns, dims broadcast, facts don't, and aggregates are two-phase.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from reconciliation_hive_data_spark.catalog import load
from reconciliation_hive_data_spark.operators.joins import join_anti, join_broadcast
from reconciliation_hive_data_spark.sources.files import scan_pruned


def plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    p = plan(scan_pruned(spark, sf_dir))
    assert "PushedFilters" in p
    assert "l_quantity" in p.split("PushedFilters")[1][:200]


def test_column_pruning(spark, sf_dir):
    p = plan(scan_pruned(spark, sf_dir))
    # ReadSchema carries only the projected+filtered columns, not all 11
    read_schema = p.split("ReadSchema")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema
    assert "l_shipdate" not in read_schema
    assert "l_comment" not in read_schema


def test_dim_join_broadcasts(spark, sf_dir):
    p = plan(join_broadcast(spark, sf_dir))
    assert "BroadcastHashJoin" in p


def test_fact_anti_join_does_not_broadcast_fact(spark, sf_dir):
    p = plan(join_anti(spark, sf_dir))
    assert "LeftAnti" in p


def test_aggregate_is_two_phase(spark, sf_dir):
    df = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
    )
    p = plan(df)
    # partial + final HashAggregate = map-side combine before the shuffle
    assert p.count("HashAggregate") >= 2


def test_lsh_candidate_join_is_hash_join(spark, sf_dir):
    """The LSH candidate join must be an equi join on (band, sig) — a
    BroadcastNestedLoopJoin here means the blocking key got lost and the
    operator went quadratic. x_dedup_near materializes its result (its
    shingle cache must be released eagerly), so the banded SimHash variant
    — the same candidate-join shape, still lazy past its signature
    checkpoint — carries the assertion."""
    from reconciliation_hive_data_spark.plans.lsh_variants import (
        x_dedup_simhash_banded,
    )

    p = plan(x_dedup_simhash_banded(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_simhash_banded_signature_computed_once(spark, sf_dir):
    """The SimHash signature chain (shingle explode + 32-way md5 aggregate)
    must run exactly once: the band self-join reads a checkpointed
    signature table from both sides. md5 appearing in the final plan means
    the lineage leaked back in and each join side recomputes the corpus
    chain (the r4-bench 18 s regression shape)."""
    from reconciliation_hive_data_spark.plans.lsh_variants import (
        x_dedup_simhash_banded,
    )

    import re

    p = plan(x_dedup_simhash_banded(spark, sf_dir))
    assert "ExistingRDD" in p  # both join sides scan the checkpoint
    assert "md5" not in p  # the signature chain ran at checkpoint time
    # at most the candidate-distinct shuffle (band join broadcasts at test
    # sf; at worst it shuffles both sides) — more shuffles means a join
    # side re-derived the signature chain
    n_shuffles = len(re.findall(r"^\(\d+\) Exchange$", p, flags=re.M))
    assert n_shuffles <= 3


def test_asof_is_linear_window_not_join(spark, sf_dir):
    """The as-of join is the union+window formulation: strictly linear, one
    shuffle on user_id, NO join operator at all — a Join node here means the
    quadratic range-join candidate generation crept back in."""
    from reconciliation_hive_data_spark.operators.joins import join_asof

    p = plan(join_asof(spark, sf_dir))
    assert "Join" not in p
    assert "CartesianProduct" not in p
    assert "Window" in p


def test_self_join_has_composite_bucket_key(spark, sf_dir):
    """join_self must equi-join on (user_id, time-bucket), never user_id
    alone — the bare-user_id join materializes all per-user pairs before
    the band filter."""
    from reconciliation_hive_data_spark.operators.joins import join_self

    p = plan(join_self(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "jb" in p  # the bucket column participates in the join key


def test_bucketed_join_has_no_shuffle_exchange(spark, sf_dir):
    """join_bucketed: both sides written bucketBy(8, key) ⇒ the sort-merge
    join must read bucket-aligned files with NO shuffle exchange — a
    hashpartitioning Exchange here means the bucketing metadata got lost
    and the join re-shuffled both facts."""
    from reconciliation_hive_data_spark.plans.scale_ops import join_bucketed

    p = plan(join_bucketed(spark, sf_dir))
    assert "SortMergeJoin" in p
    # The tree block (before the node details) shows structure top-down:
    # the only Exchange allowed is the post-join aggregation's, which sits
    # ABOVE the SortMergeJoin — an Exchange below it (i.e. appearing after
    # it in the tree text) would mean a join input got re-shuffled.
    tree = p.split("\n\n")[0]
    join_inputs = tree.split("SortMergeJoin")[1]
    assert "Exchange" not in join_inputs


def test_salted_agg_is_two_phase_on_salt(spark, sf_dir):
    """agg_salted: the first aggregate must key on (flag, salt), the final
    on flag alone — and results must be bit-identical to the direct agg."""
    from reconciliation_hive_data_spark.plans.scale_ops import agg_salted

    p = plan(agg_salted(spark, sf_dir))
    assert "salt" in p
    assert p.count("HashAggregate") >= 3  # partial+final per phase, fused


def test_flagship_uses_exact_decimal_sum(spark, sf_dir):
    from reconciliation_hive_data_spark.plans.recon import recon_order_totals

    p = plan(recon_order_totals(spark, sf_dir))
    assert "sum(cast(" in p.lower()  # decimal-routed, order-independent


def test_events_ts_microsecond_parity(spark, sf_dir):
    """events ns→µs truncation must match DuckDB's read of the same file."""
    import duckdb

    ours = [
        r.ts
        for r in load(spark, sf_dir, "events")
        .orderBy("event_id")
        .limit(50)
        .select("ts")
        .collect()
    ]
    con = duckdb.connect()
    theirs = [
        r[0]
        for r in con.execute(
            f"SELECT ts FROM read_parquet('{sf_dir}/events.parquet')"
            " ORDER BY event_id LIMIT 50"
        ).fetchall()
    ]
    assert ours == theirs


def test_stratified_sample_is_narrow_zero_shuffle(spark, sf_dir):
    """x_sample_stratified: a pure filter — any Exchange means the
    'free at 100 TB' claim is false."""
    from reconciliation_hive_data_spark.plans.pipeline_ops import x_sample_stratified

    p = plan(x_sample_stratified(spark, sf_dir))
    assert "Exchange" not in p


def test_pii_scrub_is_narrow_zero_shuffle(spark, sf_dir):
    from reconciliation_hive_data_spark.plans.pipeline_ops import x_text_pii

    p = plan(x_text_pii(spark, sf_dir))
    assert "Exchange" not in p


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    """x_decontaminate: the eval gram set must broadcast into the corpus
    gram stream — a SortMergeJoin here would shuffle every corpus gram."""
    from reconciliation_hive_data_spark.plans.pipeline_ops import x_decontaminate

    p = plan(x_decontaminate(spark, sf_dir))
    assert "BroadcastHashJoin" in p


def test_dedup_clusters_no_cartesian(spark, sf_dir):
    from reconciliation_hive_data_spark.plans.pipeline_ops import x_dedup_clusters

    p = plan(x_dedup_clusters(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_sessionize_is_single_shuffle(spark, sf_dir):
    """win_sessionize: both windows and the rollup share the user_id
    partitioning — more than one Exchange node means a stage
    repartitioned needlessly. (Formatted explain prints each node as
    '(N) Exchange' with its hashpartitioning arguments on a separate
    line, so count node headers, not 'Exchange hashpartitioning'.)"""
    from reconciliation_hive_data_spark.plans.pipeline_ops import win_sessionize

    p = plan(win_sessionize(spark, sf_dir))
    assert p.count(") Exchange") == 1


def test_incremental_dedup_no_cartesian_and_digest_only_join(spark, sf_dir):
    from reconciliation_hive_data_spark.plans.pipeline_ops import x_dedup_incremental

    p = plan(x_dedup_incremental(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # the join key is the md5 digest — raw text must not cross the join
    assert "LeftAnti" in p


def test_shard_balance_is_one_aggregation(spark, sf_dir):
    from reconciliation_hive_data_spark.plans.pipeline_ops import x_shard_balance

    p = plan(x_shard_balance(spark, sf_dir))
    assert p.count(") Exchange") == 1  # partial+final agg around ONE shuffle


def test_chunking_is_narrow_zero_shuffle(spark, sf_dir):
    """x_chunk_docs: chunking is per-document — any Exchange means a row
    crossed a partition boundary it never needed to."""
    from reconciliation_hive_data_spark.plans.corpus_ops import x_chunk_docs

    p = plan(x_chunk_docs(spark, sf_dir))
    assert "Exchange" not in p


def test_sample_audit_filters_before_join(spark, sf_dir):
    """recon_sample_audit: the md5-prefix sample predicate must apply on
    BOTH join inputs below the shuffle — one occurrence means a side is
    hashing its full table and the 1/16-cost claim is false."""
    from reconciliation_hive_data_spark.plans.recon_scale import recon_sample_audit

    p = plan(recon_sample_audit(spark, sf_dir))
    assert p.count("substr") >= 2
    assert "CartesianProduct" not in p


def test_quantize_broadcasts_scalar_stats(spark, sf_dir):
    """x_embed_quantize: the 1-row [min,max] frame must broadcast into the
    corpus pass — a shuffle here would re-partition every vector to meet
    two scalars."""
    from reconciliation_hive_data_spark.plans.corpus_ops import x_embed_quantize

    p = plan(x_embed_quantize(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_editdist_blocks_and_never_goes_quadratic(spark, sf_dir):
    """x_dedup_editdist: candidates must come from an EQUI join on the
    block key — a nested-loop join here means every delta row compares
    against every corpus row and the O(len²) DP runs n·m times."""
    from reconciliation_hive_data_spark.plans.pipeline_ops import x_dedup_editdist

    p = plan(x_dedup_editdist(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_perdim_quantize_broadcasts_dim_stats(spark, sf_dir):
    """x_embed_quantize_perdim: the 64-row per-dimension stats frame must
    broadcast back into the flattened corpus — shuffling the corpus to
    meet 64 rows inverts the size relationship."""
    from reconciliation_hive_data_spark.plans.corpus_ops import x_embed_quantize_perdim

    p = plan(x_embed_quantize_perdim(spark, sf_dir))
    assert "BroadcastHashJoin" in p


def test_gopher_gate_is_narrow_zero_shuffle(spark, sf_dir):
    from reconciliation_hive_data_spark.plans.pipeline_ops import x_quality_gopher

    p = plan(x_quality_gopher(spark, sf_dir))
    assert "Exchange" not in p


def test_corr_is_one_pass_two_phase(spark, sf_dir):
    """agg_corr: all five co-moments must come from ONE partial+final
    aggregation — a second Exchange means a moment got its own pass."""
    from reconciliation_hive_data_spark.operators.aggregates import agg_corr

    p = plan(agg_corr(spark, sf_dir))
    assert p.count(") Exchange") == 1
    assert p.count("HashAggregate") >= 2


def test_footer_recon_scan_side_prunes_columns(spark, sf_dir):
    """recon_footer_stats: the scan side must read only the two compared
    columns (the footer side reads no data pages at all)."""
    from reconciliation_hive_data_spark.plans.recon_scale import recon_footer_stats

    p = plan(recon_footer_stats(spark, sf_dir))
    read_schemas = [
        seg.splitlines()[0] for seg in p.split("ReadSchema")[1:]
    ]
    assert read_schemas, "expected at least one parquet scan"
    assert all("l_comment" not in rs and "l_shipdate" not in rs for rs in read_schemas)


def test_partition_complete_calendar_is_not_a_driver_loop(spark, sf_dir):
    """recon_partition_complete: the calendar comes from ONE aggregate
    exploded in-plan (Generate over sequence), never a driver-side loop."""
    from reconciliation_hive_data_spark.plans.recon_scale import (
        recon_partition_complete,
    )

    p = plan(recon_partition_complete(spark, sf_dir))
    assert "Generate" in p
    assert "CartesianProduct" not in p


def test_tpch_q6_pushes_all_predicates_to_scan(spark, sf_dir):
    """Q6 is the pushdown litmus: every predicate is scan-pushable and the
    read schema needs only the four referenced columns."""
    from reconciliation_hive_data_spark.plans.tpch import tpch_q6

    p = plan(tpch_q6(spark, sf_dir))
    pushed = p.split("PushedFilters")[1].splitlines()[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed
    read_schema = p.split("ReadSchema")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema and "l_returnflag" not in read_schema


def test_tpch_q5_star_join_broadcasts_all_dims(spark, sf_dir):
    """The six-table star must broadcast every dimension side — the only
    shuffle-joined input pair is lineitem⋈orders."""
    from reconciliation_hive_data_spark.plans.tpch import tpch_q5

    p = plan(tpch_q5(spark, sf_dir))
    assert p.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_tpch_q18_having_is_semi_join_not_distinct_join(spark, sf_dir):
    """The qualifying-order subquery must reach lineitem as a left-semi
    join (one pass, no duplicate blowup)."""
    from reconciliation_hive_data_spark.plans.tpch import tpch_q18

    p = plan(tpch_q18(spark, sf_dir))
    assert "LeftSemi" in p


@pytest.mark.soak
def test_no_accidental_cartesian_or_bnl_anywhere(spark, sf_dir):
    """Repo-wide plan lint: no registered query may contain a
    CartesianProduct or BroadcastNestedLoopJoin unless whitelisted. A BNL
    with a 1-row build side (scalar attach: a global stat, probe vector,
    or corpus constant broadcast into a narrow map) is O(n) and safe at
    any scale; anything else is a missing equi-key waiting to go
    quadratic at 100 TB. New queries that trip this either get an equi
    key or an explicit entry here with the reason."""
    from reconciliation_hive_data_spark import registry

    registry.load_all_modules()
    allowed = {
        # intentional non-equi join surface (broadcast dim side, plan-tested)
        "join_theta",
        # 1-row broadcast scalar attaches:
        "agg_approx",        # two 1-row aggs cross-joined (Expand avoidance)
        "sketch_hll",        # exact-distinct count attached to the estimate
        "tpch_q22",          # decimal-exact average balance threshold
        "x_domain_mix",      # sorted-fold normalizer scalar
        "x_embed_quantize",  # global [min,max] grid row
        "x_sim_search",      # the probe vector row
        "x_sim_recall",      # the 1% query-sample broadcast against the
                             # corpus scan: brute-force exact scoring has
                             # no equi key by definition; sample-bounded
                             # build side (the calibration cost the op
                             # exists to price — r18 vet note)
        "x_text_perplexity", # corpus token-count scalar
        "x_text_tfidf",      # doc-count scalar for the IDF term
        "sketch_kmv",        # 1-row sketch/exact scalars cross-attached
        "x_token_pmi",       # token-total + bigram-total scalars
        # derived-partsupp fixture (supplier-count scalar) + their own
        # class-total / threshold scalars:
        "tpch_q2",
        "tpch_q11",
        "tpch_q16",
        "tpch_q20",
    }
    # row-at-a-time Python (BatchEvalPython) is the 10-100x-slower UDF
    # path; only the query whose purpose is to demonstrate (and cost) the
    # scalar-UDF surface may contain it — everything else must be
    # Arrow-vectorized (ArrowEvalPython / mapInPandas / mapInArrow)
    allowed_row_python = {"udf_scalar"}
    flagged = {}
    for name, spec in sorted(registry.REGISTRY.items()):
        p = plan(spec.fn(spark, sf_dir))
        hits = [
            t
            for t in ("CartesianProduct", "BroadcastNestedLoopJoin")
            if t in p and name not in allowed
        ]
        if "BatchEvalPython" in p and name not in allowed_row_python:
            hits.append("BatchEvalPython")
        if hits:
            flagged[name] = hits
    assert not flagged, f"unexpected plan shapes: {flagged}"


def test_bitmap_distinct_is_two_phase_bit_or(spark, sf_dir):
    """agg_bitmap's whole point is algebraic distinct counting: the word
    build must be a partial+final HashAggregate pair (map-side bit_or
    combine), never an Expand/distinct rewrite."""
    from reconciliation_hive_data_spark.operators.aggregates import agg_bitmap

    p = plan(agg_bitmap(spark, sf_dir))
    assert p.count("HashAggregate") >= 2
    assert "bit_or" in p


def test_kmv_is_single_pass(spark, sf_dir):
    """sketch_kmv's r19 single-pass shape: ONE source scan feeds one
    per-hash aggregate, one cumulative window derives every side's
    k-th-smallest order statistic, and one final aggregate emits all
    outputs — the pre-r19 TakeOrdered spelling re-inlined the
    distinct-hash subtree at six consumer sites (7 scans). A second
    Relation appearing here means a consumer fell off the shared
    aggregate and the scan fan-out came back."""
    from reconciliation_hive_data_spark.plans.sketches import sketch_kmv

    df = sketch_kmv(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("Relation") == 1
    p = plan(df)
    assert "Window" in p
    assert "CartesianProduct" not in p


def test_knn_graph_pair_join_is_equi_on_label(spark, sf_dir):
    """x_knn_graph's pair join must key on the label block — a
    BroadcastNestedLoopJoin means the blocking key got lost and the graph
    build went all-pairs quadratic. The join lives in the half-pair
    helper, asserted directly so the assertion stays pinned to the join
    itself rather than the full query's larger plan, and it must keep the src_id < nbr_id ordering filter — losing
    it doubles the fold work the mirror union exists to halve."""
    from reconciliation_hive_data_spark.plans.corpus_ops import _knn_half_pairs

    import re

    p = plan(_knn_half_pairs(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert re.search(r"src_id#\d+L? < nbr_id#\d+", p)  # ordering filter present


def test_dedup_embed_join_key_is_bucket_plus_label(spark, sf_dir):
    """x_dedup_embed's candidate join must hash on BOTH the coordinate
    bucket jb and the label equality: Catalyst extracts label==label_b
    from the post-join filter into the join key, and this pins it so a
    refactor can't silently demote label back to a filter evaluated over
    every bucket-local pair (r7 verdict design note)."""
    import re

    from reconciliation_hive_data_spark.plans.llm import x_dedup_embed

    p = plan(x_dedup_embed(spark, sf_dir))
    m = re.search(r"Left keys \[\d+\]: \[([^\]]*)\]", p)
    assert m, "no hash join with explicit keys in plan"
    keys = m.group(1)
    assert "jb#" in keys and "label#" in keys, keys


def test_knn_graph_mirror_folds_cosine_once_per_unordered_pair(spark, sf_dir):
    """The directed pair set comes from exploding each half row into its
    two mirrored directions, with the cosine a plain column reference by
    explode time. Exactly three folds may appear in the plan (one norm
    per join side + ONE pair cosine) — a fourth means CollapseProject
    inlined the fold into both mirror structs and every pair folds twice
    again (the pre-r8 cost the rewrite removed)."""
    from reconciliation_hive_data_spark.plans.corpus_ops import x_knn_graph

    p = plan(x_knn_graph(spark, sf_dir))
    assert "Generate" in p  # the mirror explode
    assert p.count("aggregate(") == 3
    assert p.count("zip_with") == 3


def test_pmi_unigram_joins_broadcast(spark, sf_dir):
    """x_token_pmi joins the (pruned) pair table to the two unigram count
    sides: both must broadcast — the pair table never re-shuffles for a
    vocabulary-sized right-hand side."""
    from reconciliation_hive_data_spark.plans.corpus_ops import x_token_pmi

    p = plan(x_token_pmi(spark, sf_dir))
    assert p.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in p  # top-20 is a TakeOrdered


def test_doc_outliers_stats_broadcast_back(spark, sf_dir):
    """x_doc_outliers: the per-language moment table is languages-sized
    and must broadcast; the corpus side stays un-shuffled (one narrow map
    after the broadcast join)."""
    from reconciliation_hive_data_spark.plans.corpus_ops import x_doc_outliers

    p = plan(x_doc_outliers(spark, sf_dir))
    assert "BroadcastHashJoin" in p


def test_chunk_pack_is_single_exchange(spark, sf_dir):
    """x_chunk_pack: the chunk stage is narrow and the (shard, seq)
    groupBy must reuse the shard-window's hash partitioning — exactly ONE
    Exchange in the whole plan. Two means the same-key clustering was
    lost and the corpus shuffles twice."""
    import re

    from reconciliation_hive_data_spark.plans.corpus_ops import x_chunk_pack

    p = plan(x_chunk_pack(spark, sf_dir))
    tree = p.split("\n\n")[0]
    n_shuffles = len(re.findall(r"\bExchange\b", tree))
    assert n_shuffles == 1, tree
    assert "Window" in tree


def test_bloomprune_broadcasts_filter_and_builds_it_once(spark, sf_dir):
    """join_bloomprune: all four word-table probe joins and the exact
    semi-join must be broadcast joins (the probe side never shuffles), and
    the word table must come from the checkpoint — a bit_or aggregate in
    the final plan means each broadcast re-ran the filter build."""
    from reconciliation_hive_data_spark.plans.sketches import join_bloomprune

    p = plan(join_bloomprune(spark, sf_dir))
    tree = p.split("\n\n")[0]
    assert tree.count("BroadcastHashJoin") == 5
    assert "SortMergeJoin" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    assert "bit_or" not in p  # word table read from the checkpoint
    assert "LeftSemi" in tree


def test_null_profile_is_one_pass_per_side(spark, sf_dir):
    """recon_null_profile: every counter of both sides must come from one
    two-phase aggregate over the union of one scan per side — two parquet
    scans total, one partial and one final aggregate, and no join."""
    from reconciliation_hive_data_spark.plans.recon import recon_null_profile

    p = plan(recon_null_profile(spark, sf_dir))
    tree = p.split("\n\n")[0]
    assert tree.count("Scan parquet") == 2
    assert tree.count("HashAggregate") == 2
    assert "Join" not in tree


def test_skew_salted_join_stays_on_shuffle_path(spark, sf_dir):
    """join_skew_salted: the dim join must NOT collapse to a broadcast
    (the hint pins the shuffle-hash path the operator exists to exercise)
    and the join keys must include the salt so hot keys actually spread."""
    from reconciliation_hive_data_spark.plans.scale_ops import join_skew_salted

    p = plan(join_skew_salted(spark, sf_dir))
    tree = p.split("\n\n")[0]
    assert "ShuffledHashJoin" in tree
    assert "BroadcastHashJoin" not in tree
    assert "salt" in p


def test_bucket_hash_drill_prunes_via_broadcast(spark, sf_dir):
    """recon_bucket_hash: the key-level drill must prune each side with a
    broadcast of the damage-sized bad-bucket list BEFORE the per-key
    exchange — both drill inputs join it as BroadcastHashJoin, and the
    digest tier is a two-phase (map-side-combined) aggregate."""
    from reconciliation_hive_data_spark.plans.recon_scale import recon_bucket_hash

    p = plan(recon_bucket_hash(spark, sf_dir))
    assert p.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p
    assert p.count("HashAggregate") >= 4
    # column pruning: scans carry only the 6 hash columns, never the
    # 3 unhashed ones (o_shippriority/o_clerk/o_comment stay on disk)
    for rs in p.split("ReadSchema")[1:]:
        first = rs.splitlines()[0]
        assert "o_comment" not in first and "o_clerk" not in first


def test_scan_partition_pruned_uses_directory_pruning(spark, sf_dir):
    """The partition-key predicate must be satisfied by DIRECTORY pruning
    (PartitionFilters on the scan node), never by row-group statistics: a
    PushedFilters entry for o_orderpriority would mean the layout's whole
    point — zero bytes read from non-matching partitions — was lost. The
    data-file read schema must carry only the referenced data columns
    (partition values come from directory names, o_custkey is pruned)."""
    from reconciliation_hive_data_spark.sources.files import scan_partition_pruned

    p = plan(scan_partition_pruned(spark, sf_dir))
    part_filters = p.split("PartitionFilters")[1].splitlines()[0]
    assert "o_orderpriority" in part_filters and "IN (1-URGENT,2-HIGH" in part_filters
    if "PushedFilters" in p:
        assert "o_orderpriority" not in p.split("PushedFilters")[1].splitlines()[0]
    read_schema = p.split("ReadSchema")[1].splitlines()[0]
    assert "o_orderpriority" not in read_schema
    assert "o_custkey" not in read_schema
    assert "o_totalprice" in read_schema


def test_attribution_single_session_exchange_and_no_union_recompute(spark, sf_dir):
    """x_attribution's session windows + per-session aggregate must all ride
    ONE user_id exchange (hash-partitioning on user_id satisfies the
    (user_id, session_idx) clustering by the subset rule), the two credit
    rows must come from a Generate (2-array explode) — a Union here means
    the session subplan is being computed twice — and the only other
    exchange is the final per-source rollup."""
    from reconciliation_hive_data_spark.plans.pipeline_ops import x_attribution

    p = plan(x_attribution(spark, sf_dir))
    assert p.count(") Exchange") == 2
    assert ") Generate" in p
    assert ") Union" not in p


def test_bucket_drill_prunes_via_broadcast(spark, sf_dir):
    """recon_bucket_drill inherits the drill shape: both key-level inputs
    broadcast-join the damage-sized bad-bucket list before any per-key
    exchange, and the scans stay pruned to the six hashed columns."""
    from reconciliation_hive_data_spark.plans.recon_scale import recon_bucket_drill

    p = plan(recon_bucket_drill(spark, sf_dir))
    assert p.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p
    for rs in p.split("ReadSchema")[1:]:
        first = rs.splitlines()[0]
        assert "o_comment" not in first and "o_clerk" not in first
