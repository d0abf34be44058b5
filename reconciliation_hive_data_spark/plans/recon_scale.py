"""Reconciliation at warehouse scale: the check shapes a 100 TB deployment
schedules beyond the per-load composites in plans/recon.py.

- ``recon_snapshot_cdc`` — snapshot-to-snapshot change capture: classify
  every key between table versions v1 and v2 as INSERT / UPDATE / DELETE
  with the changed-column list. This is the CDC deliverable a lakehouse
  emits between table versions; recon_celldiff reports cell values for
  common keys, this reports the *row lifecycle*. One full-outer sort-merge
  join on the key; the change test is column-local (no row serialization
  crosses the shuffle beyond the compared columns).
- ``recon_agg_drift`` — distribution drift between source and target as a
  Population Stability Index per value bucket. Row-level checks say which
  rows differ; drift checks say whether the *shape* moved (the check a
  data-quality monitor runs hourly because it only needs two 10-row
  aggregates, not a key join). Counts are exact integers; only the final
  (p_s - p_t)·ln(p_s/p_t) is floating, rounded 6 (plain round — arbitrary
  reals, see canonical.py).
- ``recon_sample_audit`` — the budget lever: full canonical-row-hash audit
  on a deterministic 1/16 key sample (md5 prefix, no RNG state — the same
  keys sample on every run and on any cluster size). At 100 TB this is the
  hourly check (1/16 of the shuffle), with the nightly full recon_rowhash
  run catching the rest; the sample predicate is a narrow filter applied
  BEFORE the join shuffle on both sides. It runs as
  ``ReconPair.sample_audit`` on the standard pair.
- ``recon_footer_stats`` / ``recon_partition_complete`` — metadata and
  landing checks: parquet footer statistics against a data scan, and
  hourly partition completeness.
- ``recon_bucket_hash`` → ``recon_bucket_drill`` → ``recon_remediate`` →
  ``recon_remediate_apply`` — the Merkle hierarchy: per-bucket digests,
  the differing keys inside the bad buckets, the write-ready fix-up list,
  and its application with a re-verify. Every both-sides compare in it is
  one union-tagged aggregate (:func:`plans.api.compare_sides`) at bucket
  or key grain.
- ``recon_schema_evolve`` / ``recon_partition_evolve`` /
  ``recon_layout_compact`` / ``recon_compact_incremental`` — migration
  audits: schema vintages, partition layouts and compaction rewrites
  checked against the data they must preserve.

100 TB notes: CDC joins key-on-key (sort-merge, AQE-sizable) and compares
only named columns; drift is one map-side-combinable count of both sides
into a 10-row frame (the window over it is driver-trivial); the
sample audit's cost scales with the sample fraction because the filter
prunes before the exchange — asserted by a plan test; the Merkle tiers
exchange metadata-sized digests and drill only inside damaged buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..artifacts import sink_dir
from ..canonical import (
    MONEY_SCALE,
    canonical_row_hash,
    canonical_row_hash_sql,
    canonical_row_text,
    canonical_row_text_sql,
    ts_str,
    ts_str_sql,
)
from ..catalog import load, local_frame
from ..registry import query
from .api import compare_sides
from .recon import _ORDER_HASH_COLS, ORDERS_TGT_CTE, orders_target

# ---------------------------------------------------------------------------
# recon_snapshot_cdc — table-version change-data-capture classification
# ---------------------------------------------------------------------------

# Snapshot v2 fixture: v1 = orders; v2 evolves it deterministically —
# keys %1000==7 deleted, %1000==13 price drifted, %1000==34 priority nulled,
# and for each key %1000==21 a NEW row (key+10M) inserted. Unlike
# recon.orders_target there is no duplicate-key fault: CDC semantics assume
# the key is a primary key in both versions.
_ORDERS_V2_CTE = """
WITH orders_v2 AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 1000 = 13 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate,
         CASE WHEN o_orderkey % 1000 = 34 THEN NULL
              ELSE o_orderpriority END AS o_orderpriority
  FROM orders WHERE o_orderkey % 1000 <> 7
  UNION ALL
  SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 1000 = 21
)
"""

#: columns whose change flips a row to UPDATE, in fixed output order
_CDC_COLS = (
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


def _orders_v2(orders: DataFrame) -> DataFrame:
    """v2 snapshot fixture in one scan of ``orders``, like
    :func:`orders_target`: %7 keys deleted (empty offset array), %21 keys
    additionally INSERTED at key+10M, the rest evolve in place. The %13 /
    %34 perturbations are disjoint from %21 (mod 1000), so applying them
    before the offset explode leaves the inserted copy raw — exactly the
    original ``evolved UNION ALL inserted`` multiset, minus one full
    source re-scan per plan reference."""
    key = F.col("o_orderkey")
    offs = (
        F.when(key % 1000 == 7, F.array().cast("array<int>"))
        .when(key % 1000 == 21, F.array(F.lit(0), F.lit(10000000)))
        .otherwise(F.array(F.lit(0)))
    )
    evolved = orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.when(key % 1000 == 13, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderdate",
        F.when(key % 1000 == 34, F.lit(None).cast("string"))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
        F.explode(offs).alias("_off"),
    )
    return (
        evolved.withColumn("o_orderkey", key + F.col("_off")).drop("_off")
    )


_CDC_DIFF_CASES = ",\n             ".join(
    f"CASE WHEN s.{c} IS DISTINCT FROM t.{c} THEN '{c}' END" for c in _CDC_COLS
)

_CDC_ORACLE = _ORDERS_V2_CTE + f""",
j AS (
  SELECT s.o_orderkey AS sk, t.o_orderkey AS tk,
         CASE WHEN s.o_orderkey IS NOT NULL AND t.o_orderkey IS NOT NULL THEN
           list_filter([
             {_CDC_DIFF_CASES}
           ], x -> x IS NOT NULL)
         ELSE CAST([] AS VARCHAR[]) END AS diffs
  FROM orders s FULL OUTER JOIN orders_v2 t ON s.o_orderkey = t.o_orderkey
)
SELECT COALESCE(sk, tk) AS orderkey,
       CASE WHEN tk IS NULL THEN 'DELETE'
            WHEN sk IS NULL THEN 'INSERT'
            ELSE 'UPDATE' END AS op,
       COALESCE(array_to_string(diffs, ','), '') AS changed_cols,
       CAST(len(diffs) AS INT) AS n_changed
FROM j
WHERE tk IS NULL OR sk IS NULL OR len(diffs) > 0
"""


@query("recon_snapshot_cdc", oracle=_CDC_ORACLE)
def recon_snapshot_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff as CDC: full-outer join v1↔v2 on the primary key,
    classify INSERT / UPDATE / DELETE, and name the changed columns (the
    per-column IS-DISTINCT-FROM array doubles as the change test and the
    change description). Unchanged rows never leave the plan — output is
    change-volume-sized, not table-sized. The double compare is exact
    (both versions computed the drift with the same IEEE op), and the
    timestamp column compares at its native precision."""
    src = load(spark, sf_dir, "orders")
    s = src.alias("s")
    t = _orders_v2(src).alias("t")
    sk, tk = F.col("s.o_orderkey"), F.col("t.o_orderkey")
    diffs = F.filter(
        F.array(
            *[
                F.when(
                    ~F.col(f"s.{c}").eqNullSafe(F.col(f"t.{c}")), F.lit(c)
                )
                for c in _CDC_COLS
            ]
        ),
        lambda x: x.isNotNull(),
    )
    both = sk.isNotNull() & tk.isNotNull()
    diffs = F.when(both, diffs).otherwise(F.array().cast("array<string>"))
    op = (
        F.when(tk.isNull(), "DELETE")
        .when(sk.isNull(), "INSERT")
        .when(F.size(diffs) > 0, "UPDATE")
    )
    return (
        s.join(t, sk == tk, "full_outer")
        .select(
            F.coalesce(sk, tk).alias("orderkey"),
            op.alias("op"),
            F.concat_ws(",", diffs).alias("changed_cols"),
            F.size(diffs).cast("int").alias("n_changed"),
        )
        .filter(F.col("op").isNotNull())
    )


# ---------------------------------------------------------------------------
# recon_agg_drift — Population Stability Index per value bucket
# ---------------------------------------------------------------------------

_DRIFT_ORACLE = ORDERS_TGT_CTE + """,
src_b AS (
  SELECT CAST(LEAST(FLOOR(o_totalprice / 50000), 9) AS INT) AS bucket,
         COUNT(*) AS n FROM orders GROUP BY 1
),
tgt_b AS (
  SELECT CAST(LEAST(FLOOR(o_totalprice / 50000), 9) AS INT) AS bucket,
         COUNT(*) AS n FROM orders_tgt GROUP BY 1
),
j AS (
  SELECT COALESCE(s.bucket, t.bucket) AS bucket,
         COALESCE(s.n, 0) AS n_src, COALESCE(t.n, 0) AS n_tgt
  FROM src_b s FULL OUTER JOIN tgt_b t ON s.bucket = t.bucket
),
p AS (
  SELECT bucket, n_src, n_tgt,
         (n_src + 1) / (SUM(n_src) OVER () + 10) AS p_src,
         (n_tgt + 1) / (SUM(n_tgt) OVER () + 10) AS p_tgt
  FROM j
)
SELECT bucket, n_src, n_tgt,
       ROUND(p_src, 6) AS p_src,
       ROUND(p_tgt, 6) AS p_tgt,
       ROUND((p_src - p_tgt) * LN(p_src / p_tgt), 6) + 0.0 AS psi
FROM p
"""


def psi_frame(
    src: DataFrame, tgt: DataFrame, value_col: str, width: float, top_bucket: int
) -> DataFrame:
    """Per-bucket PSI contributions between two distributions of
    ``value_col``, fixed-width buckets clamped at ``top_bucket``. The
    reusable core of recon_agg_drift — tests drive it with synthetic
    known-drift data to pin the check's sensitivity (identical inputs ⇒
    every psi contribution exactly 0; injected shift ⇒ Σpsi above the 0.2
    alerting convention)."""
    bucket = F.least(F.floor(F.col(value_col) / width), F.lit(top_bucket)).cast(
        "int"
    ).alias("bucket")
    n_buckets = top_bucket + 1
    c = compare_sides(
        src.select(bucket), tgt.select(bucket), ["bucket"], n=(F.sum, F.lit(1))
    )
    j = c.select(
        "bucket",
        F.coalesce("src_n", F.lit(0)).alias("n_src"),
        F.coalesce("tgt_n", F.lit(0)).alias("n_tgt"),
    )
    everything = Window.partitionBy()
    p_src = (F.col("n_src") + 1) / (F.sum("n_src").over(everything) + n_buckets)
    p_tgt = (F.col("n_tgt") + 1) / (F.sum("n_tgt").over(everything) + n_buckets)
    return j.select(
        "bucket",
        "n_src",
        "n_tgt",
        F.round(p_src, 6).alias("p_src"),
        F.round(p_tgt, 6).alias("p_tgt"),
        F.round((p_src - p_tgt) * F.log(p_src / p_tgt), 6).alias("psi"),
    )


@query("recon_agg_drift", oracle=_DRIFT_ORACLE)
def recon_agg_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift source↔target as per-bucket PSI contributions
    (sum > 0.2 = "shifted" by the usual monitoring convention). One exact
    union-tagged count of both sides (:func:`plans.api.compare_sides`)
    into a 10-row frame; the Laplace-smoothed (+1) fractions avoid ln(0)
    when a bucket empties. The empty-partition window over 10 rows is
    driver-trivial; everything below it is map-side-combinable. Drift
    checks are the cheap hourly tier: no key join, no row hashing — cost
    is one aggregate over both scans regardless of how many rows
    changed. Core math lives in ``psi_frame``, whose sensitivity
    is pinned by a synthetic known-drift test."""
    src = load(spark, sf_dir, "orders")
    return psi_frame(src, orders_target(src), "o_totalprice", 50000, 9)


# ---------------------------------------------------------------------------
# recon_sample_audit — canonical row-hash audit on a deterministic key sample
# ---------------------------------------------------------------------------

_SAMPLE_PRED = "substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'"

_SAMPLE_ORACLE = ORDERS_TGT_CTE + f""",
src_s AS (
  SELECT o_orderkey, {canonical_row_hash_sql(_ORDER_HASH_COLS)} AS h
  FROM orders WHERE {_SAMPLE_PRED}
),
tgt_s AS (
  SELECT o_orderkey, {canonical_row_hash_sql(_ORDER_HASH_COLS)} AS h
  FROM (SELECT DISTINCT * FROM orders_tgt) WHERE {_SAMPLE_PRED}
)
SELECT CASE WHEN t.o_orderkey IS NULL THEN 'MISSING_IN_TARGET'
            WHEN s.o_orderkey IS NULL THEN 'MISSING_IN_SOURCE'
            WHEN s.h = t.h THEN 'MATCH'
            ELSE 'MISMATCH' END AS status,
       COUNT(*) AS n_keys
FROM src_s s FULL OUTER JOIN tgt_s t ON s.o_orderkey = t.o_orderkey
GROUP BY 1
"""


@query("recon_sample_audit", oracle=_SAMPLE_ORACLE)
def recon_sample_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-fidelity row-hash audit on a deterministic 1/16 key sample:
    keys whose md5 hex starts with '0', the same keys on every run, engine
    and cluster size. Target-side exact-duplicate rows count once."""
    from .api import orders_pair

    return orders_pair(load(spark, sf_dir, "orders")).sample_audit("0")


# ---------------------------------------------------------------------------
# recon_footer_stats — parquet footer metadata vs data reconciliation
# ---------------------------------------------------------------------------

_FOOTER_COLS = ("l_extendedprice", "l_quantity")

_FOOTER_ORACLE = """
WITH s AS (
  SELECT 'l_extendedprice' AS col_name,
         COUNT(*) AS n_rows,
         COUNT(*) - COUNT(l_extendedprice) AS n_nulls,
         ROUND(CAST(MIN(l_extendedprice) AS DOUBLE), 6) + 0.0 AS mn,
         ROUND(CAST(MAX(l_extendedprice) AS DOUBLE), 6) + 0.0 AS mx
  FROM lineitem
  UNION ALL
  SELECT 'l_quantity',
         COUNT(*),
         COUNT(*) - COUNT(l_quantity),
         ROUND(CAST(MIN(l_quantity) AS DOUBLE), 6) + 0.0,
         ROUND(CAST(MAX(l_quantity) AS DOUBLE), 6) + 0.0
  FROM lineitem
)
SELECT col_name,
       n_rows AS footer_rows, n_rows AS scan_rows,
       n_nulls AS footer_nulls, n_nulls AS scan_nulls,
       mn AS footer_min, mn AS scan_min,
       mx AS footer_max, mx AS scan_max,
       TRUE AS consistent
FROM s
"""


@query("recon_footer_stats", oracle=_FOOTER_ORACLE)
def recon_footer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-vs-data reconciliation: per-row-group parquet footer
    statistics (min / max / null count / row count), read DISTRIBUTED via
    mapInPandas over the file list with pyarrow, rolled up to table level
    and compared against the same statistics computed by actually scanning
    the data. Corrupt footers silently break predicate pushdown and
    row-group pruning — this check catches them for the cost of footer
    reads (KBs per file) plus one scan, and at 100 TB the footer side
    alone is the fast tier: thousands of files fan out across executors
    with no data pages touched. The oracle computes the scan side and
    asserts footer == scan, so a footer mis-read here fails the hash
    check. Doubles compare exactly: parquet stats store the true binary
    values (rounded 6 on both sides for the money-class columns only)."""
    import os

    import pandas as pd

    li_path = os.path.join(sf_dir, "lineitem.parquet")
    files = [
        p.removeprefix("file:")
        for p in spark.read.parquet(li_path).inputFiles()
    ]
    fdf = local_frame(spark, [(p,) for p in files], "path string").repartition(
        min(len(files), 32)
    )
    want = _FOOTER_COLS

    def read_footers(batches):
        import pyarrow.parquet as pq

        for pdf in batches:
            rows: dict[str, list] = {
                "col_name": [], "rg_rows": [], "rg_nulls": [],
                "rg_min": [], "rg_max": [], "rg_unknown": [],
            }
            for path in pdf["path"]:
                md = pq.ParquetFile(path).metadata
                for i in range(md.num_row_groups):
                    rg = md.row_group(i)
                    for j in range(rg.num_columns):
                        c = rg.column(j)
                        if c.path_in_schema in want:
                            # an all-null row group has statistics but NO
                            # min/max (and a stats-less footer has neither):
                            # emit None — the table rollup's min/max skip
                            # nulls, and a column null in EVERY row group
                            # rolls up to null, matching the scan side's
                            # null min/max; float(st.min) would raise on
                            # exactly that shape.
                            st = c.statistics
                            has_nc = st is not None and st.has_null_count
                            has_mm = st is not None and st.has_min_max
                            nulls = st.null_count if has_nc else None
                            rows["col_name"].append(c.path_in_schema)
                            rows["rg_rows"].append(rg.num_rows)
                            rows["rg_nulls"].append(
                                nulls
                                if has_nc
                                # a zero-row group trivially has zero nulls
                                # even with no statistics struct (empty
                                # files written by pyarrow land here);
                                # stats absent on a NON-empty group stays
                                # None → unknown → inconsistent
                                else (0 if rg.num_rows == 0 else None)
                            )
                            rows["rg_min"].append(
                                float(st.min) if has_mm else None
                            )
                            rows["rg_max"].append(
                                float(st.max) if has_mm else None
                            )
                            # the rollup's SUM/MIN/MAX skip nulls, so a
                            # stats-less NON-empty group mixed with
                            # stats-bearing ones would silently drop out
                            # and could still read CONSISTENT; carry an
                            # explicit unknown flag instead. Unknown =
                            # non-empty group with no null count, or with
                            # values present but no recorded min/max (an
                            # all-null group with stats is NOT unknown —
                            # "no min/max" is the known truth there).
                            rows["rg_unknown"].append(
                                rg.num_rows > 0
                                and (
                                    not has_nc
                                    or (not has_mm and nulls < rg.num_rows)
                                )
                            )
            yield pd.DataFrame(rows)

    footer = fdf.mapInPandas(
        read_footers,
        "col_name string, rg_rows bigint, rg_nulls bigint,"
        " rg_min double, rg_max double, rg_unknown boolean",
    ).groupBy("col_name").agg(
        F.sum("rg_rows").alias("footer_rows"),
        F.sum("rg_nulls").alias("footer_nulls"),
        F.round(F.min("rg_min"), 6).alias("footer_min"),
        F.round(F.max("rg_max"), 6).alias("footer_max"),
        # any-semantics via int max — boolean MIN/MAX ordering is an
        # engine-dependent corner; the cast makes the intent
        # portable to engines without boolean ordering
        (F.max(F.col("rg_unknown").cast("int")) == 1).alias("footer_unknown"),
    )
    li = load(spark, sf_dir, "lineitem")
    scan = None
    for c in want:
        s = li.agg(
            F.count("*").alias("scan_rows"),
            (F.count("*") - F.count(c)).alias("scan_nulls"),
            F.round(F.min(c).cast("double"), 6).alias("scan_min"),
            F.round(F.max(c).cast("double"), 6).alias("scan_max"),
        ).select(F.lit(c).alias("col_name"), "*")
        scan = s if scan is None else scan.unionByName(s)
    j = footer.join(F.broadcast(scan), "col_name")
    # null-safe: an all-null column is CONSISTENT when both sides agree it
    # has no min/max (footer null-rollup == scan null). Unknown stats force
    # INCONSISTENT via the explicit per-row-group flag: the null-skipping
    # SUM/MIN/MAX rollups alone would let a stats-less non-empty group hide
    # behind its stats-bearing neighbours.
    consistent = (
        F.col("footer_rows").eqNullSafe(F.col("scan_rows"))
        & F.col("footer_nulls").eqNullSafe(F.col("scan_nulls"))
        & F.col("footer_min").eqNullSafe(F.col("scan_min"))
        & F.col("footer_max").eqNullSafe(F.col("scan_max"))
        & ~F.col("footer_unknown")
    )
    return j.select(
        "col_name",
        "footer_rows", "scan_rows",
        "footer_nulls", "scan_nulls",
        "footer_min", "scan_min",
        "footer_max", "scan_max",
        consistent.alias("consistent"),
    )


# ---------------------------------------------------------------------------
# recon_partition_complete — landed-partition completeness vs calendar
# ---------------------------------------------------------------------------

_PART_COMPLETE_ORACLE = """
WITH bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS mn,
         date_trunc('hour', MAX(ts)) AS mx
  FROM events
),
cal AS (
  SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour FROM bounds
),
landed AS (
  SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n
  FROM events GROUP BY 1
)
SELECT strftime(c.hour, '%Y-%m-%d %H:%M:%S') AS hour,
       CAST(COALESCE(l.n, 0) AS BIGINT) AS n_events,
       CASE WHEN l.n IS NULL THEN 'MISSING'
            WHEN l.n < 5 THEN 'SPARSE'
            ELSE 'OK' END AS status
FROM cal c LEFT JOIN landed l ON c.hour = l.hour
"""


@query("recon_partition_complete", oracle=_PART_COMPLETE_ORACLE)
def recon_partition_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-completeness audit: generate the full expected hourly
    calendar between the observed bounds (a 1-row aggregate exploded into
    the calendar — never a driver-side loop) and left-join the landed
    hourly counts; hours with no rows are MISSING, suspiciously thin ones
    SPARSE. This is the load-monitoring recon a scheduled ingest runs
    before any content check: a silently skipped load window is invisible
    to row-level recon (nothing to mismatch) but obvious here. The
    calendar is hours-sized (≪ data) and the landed side is one
    map-side-combinable count — no full-data shuffle at any scale."""
    ev = load(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("mn"),
        F.date_trunc("hour", F.max("ts")).alias("mx"),
    )
    cal = bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    landed = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count("*").alias("n")
    )
    status = (
        F.when(F.col("n").isNull(), "MISSING")
        .when(F.col("n") < 5, "SPARSE")
        .otherwise("OK")
    )
    return cal.join(landed, "hour", "left").select(
        ts_str("hour", "hour"),
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events"),
        status.alias("status"),
    )


# ---------------------------------------------------------------------------
# recon_bucket_hash — Merkle-style hierarchical reconciliation
# ---------------------------------------------------------------------------

#: digest-tier fan-out — the Merkle granularity knob. 4096 leaves keep the
#: bucket table metadata-sized while the drill prune stays effective even at
#: the fixture's deliberately dense 4-per-mille fault rate (256 leaves go
#: all-dirty at sf0.1, degenerating tier 2 into a full rehash; real Merkle
#: deployments size leaves to expected damage for exactly this reason)
_BH_BUCKETS = 4096
#: digest word modulus (2^32): exact decimal sum → mod → bigint on both engines
_BH_MOD = 4294967296


def _bh_bucket() -> F.Column:
    """md5-derived key bucket — cheap (hashes the key alone), so the drill
    tier can prune on it BEFORE paying for the full canonical row hash."""
    return F.pmod(
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 4), 16, 10)
        .cast("bigint"),
        F.lit(_BH_BUCKETS),
    )


def _bh_row_words() -> list[F.Column]:
    """One row's compare values: weight ``n = 1`` and the canonical row
    hash's first two 32-bit words ``w1``/``w2``."""
    h = canonical_row_hash(_ORDER_HASH_COLS)
    return [
        F.lit(1).cast("bigint").alias("n"),
        *(
            F.conv(F.substring(h, start, 8), 16, 10).cast("bigint").alias(name)
            for start, name in ((1, "w1"), (9, "w2"))
        ),
    ]


def _bh_words(df: DataFrame) -> DataFrame:
    """Narrow per-row projection ``(bucket, n, w1, w2)``: everything
    downstream aggregates THESE columns — the wide row never crosses a
    shuffle."""
    return df.select(_bh_bucket().alias("bucket"), *_bh_row_words())


def _bh_digest(w: F.Column) -> F.Column:
    """A word digest: the exact DECIMAL(38,0) sum of the words folded mod
    2^32, so it is partition- and order-invariant (decimal sums cannot
    overflow below ~1e28 rows per group)."""
    return (F.sum(w.cast("decimal(38,0)")) % F.lit(_BH_MOD)).cast("bigint")


def _bh_bucket_digests(
    src_words: DataFrame, tgt_words: DataFrame, grain: tuple[str, ...] = ("bucket",)
) -> DataFrame:
    """Both sides' weighted counts ``SUM(n)`` and word digests per
    ``grain`` (``src_cnt``/``src_d1``/``src_d2``, ``tgt_…``, ``_agree``):
    :func:`plans.api.compare_sides` over two ``_bh_words``-shaped frames.
    A side absent from a group reads NULL; NULL buckets (NULL keys) stay
    one row per side."""
    return compare_sides(
        src_words,
        tgt_words,
        grain,
        cnt=(F.sum, F.col("n")),
        d1=(_bh_digest, F.col("w1")),
        d2=(_bh_digest, F.col("w2")),
    )


def _bh_source_words(digests: DataFrame) -> DataFrame:
    """The source side of :func:`_bh_bucket_digests` as ``_bh_words`` rows:
    ``n`` = the bucket's count, words = its digests. A digest row sums mod
    2^32 exactly like the rows it summarizes, so re-digesting these rows
    against fresh target words gives the same compare as re-reading the
    source."""
    return digests.filter(F.col("src_cnt").isNotNull()).select(
        "bucket",
        F.col("src_cnt").alias("n"),
        F.col("src_d1").alias("w1"),
        F.col("src_d2").alias("w2"),
    )


def _bh_bad(src: DataFrame, tgt: DataFrame) -> DataFrame:
    """Digest-tier disagreement list, localCheckpoint-materialized:
    ``bad`` fans out to 2-3 physical-plan sites in every consumer (the two
    per-side broadcast prunes inside :func:`_bh_key_diff`, plus the
    report's own join back), and unmaterialized each site would re-inline
    the whole two-scan digest subtree. The frame is bucket-bounded
    (≤ ``_BH_BUCKETS`` + one NULL-bucket row per side) at ANY data size, so
    the checkpoint is metadata-sized and the digest tier runs exactly
    once."""
    digests = _bh_bucket_digests(_bh_words(src), _bh_words(tgt))
    return digests.filter(~F.col("_agree")).localCheckpoint()


def _bh_key_diff(src: DataFrame, tgt: DataFrame, bad: DataFrame) -> DataFrame:
    """Drill tier shared by recon_bucket_hash / recon_bucket_drill /
    remediation: broadcast the (≤ _BH_BUCKETS-row, damage-sized) bad-bucket
    list so each side is pruned BEFORE the per-key exchange — at 100 TB the
    key-level shuffle touches only the damaged buckets' rows. The prune
    joins on the CHEAP key-only bucket, then derives the row hash for
    survivors alone, so tier-2 CPU (not just shuffle) is bounded by the
    damage, not the table. Returns :func:`_bh_bucket_digests` at
    ``(bucket, k)`` grain — both hash words, so the drill resolves at the
    digest tier's 64-bit strength — for the differing keys only. NULL keys
    never reach it: their NULL bucket drops from the inner prune join."""
    bad_buckets = F.broadcast(bad.select("bucket"))

    def pruned_words(side: DataFrame) -> DataFrame:
        pruned = side.withColumn("bucket", _bh_bucket()).join(bad_buckets, "bucket")
        return pruned.select("bucket", F.col("o_orderkey").alias("k"), *_bh_row_words())

    digests = _bh_bucket_digests(pruned_words(src), pruned_words(tgt), ("bucket", "k"))
    return digests.filter(~F.col("_agree"))


def bucket_hash_report(src: DataFrame, tgt: DataFrame) -> DataFrame:
    """Two-tier Merkle reconciliation of ``src`` vs ``tgt`` on the orders
    schema: compare the ``_BH_BUCKETS`` per-bucket digests first, then
    drill key-level hashes ONLY inside buckets whose digests disagree.
    Returns one row per differing bucket with both sides' counts, digest
    words, and the number of differing keys inside it; identical tables
    produce zero rows."""
    bad = _bh_bad(src, tgt)
    key_diff = _bh_key_diff(src, tgt, bad)
    bad_keys = key_diff.groupBy("bucket").agg(F.count("*").alias("n_bad_keys"))

    zero = F.lit(0).cast("bigint")
    return bad.join(bad_keys, "bucket", "left").select(
        F.col("bucket").cast("bigint").alias("bucket"),
        F.coalesce("src_cnt", zero).alias("src_cnt"),
        F.coalesce("tgt_cnt", zero).alias("tgt_cnt"),
        "src_d1",
        "src_d2",
        "tgt_d1",
        "tgt_d2",
        F.coalesce("n_bad_keys", zero).alias("n_bad_keys"),
    )


_BH_WORDS_SQL = """
  SELECT o_orderkey AS k,
         ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4))::BIGINT % {nb}
           AS bucket,
         ('0x' || substr({h}, 1, 8))::BIGINT AS w1,
         ('0x' || substr({h}, 9, 8))::BIGINT AS w2
  FROM {table}
""".format

_BH_DIGEST_SQL = """
  SELECT bucket, COUNT(*) AS cnt,
         CAST(SUM(CAST(w1 AS DECIMAL(38,0))) % 4294967296 AS BIGINT) AS d1,
         CAST(SUM(CAST(w2 AS DECIMAL(38,0))) % 4294967296 AS BIGINT) AS d2
  FROM {words} GROUP BY bucket
""".format

# Shared CTE chain for the four bucket-recon oracles: per-side words and
# bucket digests, the disagreeing buckets, the per-key sums inside them and
# the differing keys (``drill``).
_BH_ORACLE_CTES = ORDERS_TGT_CTE + f""",
sw AS ({_BH_WORDS_SQL(table='orders', h=canonical_row_hash_sql(_ORDER_HASH_COLS), nb=_BH_BUCKETS)}),
tw AS ({_BH_WORDS_SQL(table='orders_tgt', h=canonical_row_hash_sql(_ORDER_HASH_COLS), nb=_BH_BUCKETS)}),
sd AS ({_BH_DIGEST_SQL(words='sw')}),
td AS ({_BH_DIGEST_SQL(words='tw')}),
bad AS (
  SELECT COALESCE(sd.bucket, td.bucket) AS bucket,
         sd.cnt AS src_cnt, td.cnt AS tgt_cnt,
         sd.d1 AS src_d1, sd.d2 AS src_d2,
         td.d1 AS tgt_d1, td.d2 AS tgt_d2
  FROM sd FULL OUTER JOIN td ON sd.bucket = td.bucket
  WHERE sd.cnt IS DISTINCT FROM td.cnt
     OR sd.d1 IS DISTINCT FROM td.d1
     OR sd.d2 IS DISTINCT FROM td.d2
),
sk AS (
  SELECT bucket, k, COUNT(*) AS c,
         CAST(SUM(CAST(w1 AS DECIMAL(38,0))) % 4294967296 AS BIGINT) AS kw1,
         CAST(SUM(CAST(w2 AS DECIMAL(38,0))) % 4294967296 AS BIGINT) AS kw2
  FROM sw WHERE bucket IN (SELECT bucket FROM bad) GROUP BY bucket, k
),
tk AS (
  SELECT bucket, k, COUNT(*) AS c,
         CAST(SUM(CAST(w1 AS DECIMAL(38,0))) % 4294967296 AS BIGINT) AS kw1,
         CAST(SUM(CAST(w2 AS DECIMAL(38,0))) % 4294967296 AS BIGINT) AS kw2
  FROM tw WHERE bucket IN (SELECT bucket FROM bad) GROUP BY bucket, k
),
drill AS (
  SELECT COALESCE(sk.bucket, tk.bucket) AS bucket,
         COALESCE(sk.k, tk.k) AS k,
         sk.c AS s_c, tk.c AS t_c
  FROM sk FULL OUTER JOIN tk ON sk.bucket = tk.bucket AND sk.k = tk.k
  WHERE sk.c IS DISTINCT FROM tk.c OR sk.kw1 IS DISTINCT FROM tk.kw1
     OR sk.kw2 IS DISTINCT FROM tk.kw2
)"""

# The remediation action of each differing key, shared by the two
# remediation oracles.
_BH_FAULTS_CTE = """,
faults AS (
  SELECT bucket, k, s_c, t_c,
         CASE WHEN s_c IS NULL THEN 'delete'
              WHEN t_c IS NULL THEN 'insert'
              WHEN s_c <> t_c THEN 'set_copies'
              ELSE 'update' END AS action
  FROM drill
)"""

_BUCKET_HASH_ORACLE = _BH_ORACLE_CTES + """,
kc AS (SELECT bucket, COUNT(*) AS n_bad_keys FROM drill GROUP BY 1)
SELECT CAST(bad.bucket AS BIGINT) AS bucket,
       CAST(COALESCE(src_cnt, 0) AS BIGINT) AS src_cnt,
       CAST(COALESCE(tgt_cnt, 0) AS BIGINT) AS tgt_cnt,
       src_d1, src_d2, tgt_d1, tgt_d2,
       CAST(COALESCE(kc.n_bad_keys, 0) AS BIGINT) AS n_bad_keys
FROM bad LEFT JOIN kc ON bad.bucket = kc.bucket
"""


@query("recon_bucket_hash", oracle=_BUCKET_HASH_ORACLE)
def recon_bucket_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style hierarchical reconciliation: the network-efficient
    100 TB recon shape. Tier 1 reduces each side to ``_BH_BUCKETS``
    order-independent bucket digests — md5-derived 32-bit words of the
    canonical row hash, summed exactly in DECIMAL(38,0) and folded mod
    2^32, so the digest is partition-order-invariant and the exchange
    carries a metadata-sized bucket table regardless of data size. Tier 2
    drills key-level hash compares ONLY inside the differing buckets,
    pruned by a broadcast of the damage-sized bad-bucket list before any
    key shuffle. A clean pair therefore costs one scan per side into one
    union-tagged, metadata-sized digest aggregate — recon_rowhash
    fidelity at recon_rowcount price — and a damaged pair localizes its
    blast radius to the listed buckets. Buckets come from md5(key), not
    the key itself, so the digest tier stays uniform under any key
    distribution. Faults surface as: dropped keys (count + digest), value
    drift and nulled columns (digest words), duplicated rows (count and
    per-key word sum)."""
    src = load(spark, sf_dir, "orders")
    return bucket_hash_report(src, orders_target(src))


# ---------------------------------------------------------------------------
# recon_bucket_drill — key-level fault listing inside flagged buckets
# ---------------------------------------------------------------------------

_BUCKET_DRILL_ORACLE = _BH_ORACLE_CTES + """
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(k AS BIGINT) AS o_orderkey,
       CAST(COALESCE(s_c, 0) AS BIGINT) AS src_copies,
       CAST(COALESCE(t_c, 0) AS BIGINT) AS tgt_copies,
       CASE WHEN s_c IS NULL THEN 'missing_in_source'
            WHEN t_c IS NULL THEN 'missing_in_target'
            WHEN s_c <> t_c THEN 'copy_count'
            ELSE 'drift' END AS fault
FROM drill
"""


@query("recon_bucket_drill", oracle=_BUCKET_DRILL_ORACLE)
def recon_bucket_drill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drill half of the Merkle hierarchy recon_bucket_hash opens:
    where the digest tier reports WHICH buckets disagree and how many
    keys inside each, this lists the actual per-key faults —
    one row per differing (bucket, key) with both sides' copy counts and a
    fault class: ``missing_in_source`` / ``missing_in_target`` (key on one
    side only), ``copy_count`` (both sides, different multiplicities — the
    duplicate-injection signature), ``drift`` (same multiplicity, hash
    words differ — a value change). This is the actionable remediation
    list a 100 TB reconciliation run hands to the fix-up job.

    Scale shape is inherited from _bh_key_diff: the bad-bucket list
    (≤ _BH_BUCKETS rows, damage-sized in practice) broadcasts, both sides
    prune BEFORE the per-key exchange, and the expensive row-hash
    derivation runs over flagged-bucket rows only — output and shuffle are
    bounded by the damage, never the table. The fault classification is a
    narrow projection over the drill join's result. Same standard faulty
    pair as recon_bucket_hash, so the two reports cross-check:
    n_bad_keys there == rows per bucket here (pinned in
    tests/test_round9_properties.py)."""
    src = load(spark, sf_dir, "orders")
    tgt = orders_target(src)
    kd = _bh_key_diff(src, tgt, _bh_bad(src, tgt))
    zero = F.lit(0).cast("bigint")
    return kd.select(
        F.col("bucket").cast("bigint").alias("bucket"),
        F.col("k").alias("o_orderkey"),
        F.coalesce("src_cnt", zero).alias("src_copies"),
        F.coalesce("tgt_cnt", zero).alias("tgt_copies"),
        F.when(F.col("src_cnt").isNull(), "missing_in_source")
        .when(F.col("tgt_cnt").isNull(), "missing_in_target")
        .when(F.col("src_cnt") != F.col("tgt_cnt"), "copy_count")
        .otherwise("drift")
        .alias("fault"),
    )


# ---------------------------------------------------------------------------
# recon_remediate — write-ready fix-up plan from the drill fault list
# ---------------------------------------------------------------------------

#: canonical-unit payload serialization for the remediation write list —
#: every field is the canonical projection of its hash column, so two source
#: copies that tie on the election key (the canonical row TEXT) are emitted
#: IDENTICALLY and the engines' arbitrary tie pick is value-invisible.
_REMEDIATE_PAYLOAD_SQL = f"""struct_pack(
           p_custkey := CAST(o_custkey AS BIGINT),
           p_orderstatus := o_orderstatus,
           p_totalprice := CAST(CAST(CAST(o_totalprice AS DOUBLE) + 0.0
                                     AS DECIMAL(28,{MONEY_SCALE})) AS DOUBLE),
           p_orderdate := {ts_str_sql('o_orderdate')},
           p_orderpriority := o_orderpriority)"""

_REMEDIATE_ORACLE = _BH_ORACLE_CTES + _BH_FAULTS_CTE + f""",
pay AS (
  SELECT o_orderkey AS pk,
         arg_min({_REMEDIATE_PAYLOAD_SQL},
                 {canonical_row_text_sql(_ORDER_HASH_COLS)}) AS p
  FROM orders
  WHERE o_orderkey IN (SELECT k FROM faults WHERE action <> 'delete')
  GROUP BY 1
)
SELECT CAST(f.bucket AS BIGINT) AS bucket,
       CAST(f.k AS BIGINT) AS o_orderkey,
       f.action,
       CAST(COALESCE(f.s_c, 0) AS BIGINT) AS src_copies,
       CAST(COALESCE(f.t_c, 0) AS BIGINT) AS tgt_copies,
       struct_extract(p.p, 'p_custkey') AS p_custkey,
       struct_extract(p.p, 'p_orderstatus') AS p_orderstatus,
       struct_extract(p.p, 'p_totalprice') AS p_totalprice,
       struct_extract(p.p, 'p_orderdate') AS p_orderdate,
       struct_extract(p.p, 'p_orderpriority') AS p_orderpriority
FROM faults f LEFT JOIN pay p ON f.k = p.pk
"""


@query("recon_remediate", oracle=_REMEDIATE_ORACLE)
def recon_remediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remediation tier below recon_bucket_drill: where drill
    reports WHAT disagrees (per-key copy counts + a fault class), this
    emits the WRITE-READY action list the fix-up job executes — one row
    per faulted key:

      ``action``      — 'insert' (key absent from target), 'delete' (key
                        absent from source: target-only garbage),
                        'set_copies' (both sides, different multiplicity —
                        converge target to src_copies of the elected
                        payload), 'update' (same multiplicity, value drift
                        — rewrite with the elected payload);
      ``src_copies`` / ``tgt_copies`` — the multiplicities to converge
                        between;
      ``p_*``         — the actual source payload columns for the write
                        actions (NULL row for 'delete'), serialized in
                        CANONICAL units (decimal-6 money, second-precision
                        date text) so the list is engine- and
                        file-format-portable.

    Payload election is deterministic for keys holding multiple distinct
    source copies: ``min_by`` over the canonical row TEXT
    (:func:`canonical_row_text` — unique per distinct canonical payload,
    so no hash-collision tie-break hazard; the DuckDB twin is ``arg_min``
    over the same string). The election key is total over the EMITTED
    values: payloads that tie on canonical text serialize identically in
    canonical units, so either engine's arbitrary tie pick is invisible.
    The struct (not per-column arg_min) form is load-bearing: DuckDB's
    scalar ``arg_min`` SKIPS rows whose value argument is NULL, which
    would resurrect a non-null payload field from a losing copy;
    ``struct_pack`` is never NULL as a whole, so NULL fields ride through
    faithfully on both engines.

    Scale shape: faults inherit _bh_key_diff's damage-bounded drill (the
    bad-bucket broadcast prunes both sides before any key-level exchange),
    and the payload fetch joins the source against the damage-sized
    write-key list with NO explicit broadcast hint: under the
    autoBroadcastJoinThreshold the optimizer (or AQE, from runtime sizes)
    broadcasts it and the 100 TB side never shuffles — the exact-membership
    degenerate of a Bloom-filter prune; if the fault list ever outgrows the
    threshold the plan degrades gracefully instead of force-broadcasting
    toward driver OOM, and Spark's runtime Bloom-filter join injection
    (spark.sql.optimizer.runtime.bloomFilter.enabled) expresses the same
    scan-side prune declaratively. The only new exchange is the damage-sized payload
    election groupBy. The faults frame persists across its two consumers
    (final select + write-key broadcast — the x_dedup_near precedent);
    the damage-sized result localCheckpoints before the cache releases.

    Keys NULL on either side never reach the drill on either engine (a
    NULL md5 bucket drops from the plan's inner prune join and the
    oracle's equi-join alike) — inherited recon_bucket_drill semantics,
    shared oracle CTEs. A clean pair yields zero rows. Core lives in
    :func:`remediation_plan` — tests drive it with synthetic pairs to pin
    the 'delete' arm (the standard faulty fixture has no target-only
    keys), the multi-copy election, and the NULL-payload-field ride."""
    src = load(spark, sf_dir, "orders")
    return remediation_plan(src, orders_target(src))


def remediation_plan(
    src: DataFrame, tgt: DataFrame, bad: DataFrame | None = None
) -> DataFrame:
    """The reusable core of recon_remediate (docstring there): drill-tier
    fault list → write-ready per-key action rows with deterministically
    elected canonical-unit source payloads.

    ``bad`` lets remediation_apply_report pass the disagreement list it
    derives from its own materialized both-sides digest, so the
    apply→re-verify pipeline digests the source once."""
    if bad is None:
        bad = _bh_bad(src, tgt)
    faults = (
        _bh_key_diff(src, tgt, bad)
        .select(
            "bucket",
            "k",
            "src_cnt",
            "tgt_cnt",
            F.when(F.col("src_cnt").isNull(), "delete")
            .when(F.col("tgt_cnt").isNull(), "insert")
            .when(F.col("src_cnt") != F.col("tgt_cnt"), "set_copies")
            .otherwise("update")
            .alias("action"),
        )
        .persist()
    )
    # No explicit broadcast HINT here: a hint is honored
    # unconditionally regardless of autoBroadcastJoinThreshold, so a heavily
    # damaged pair would force-broadcast an arbitrarily large key list and
    # risk driver OOM. Left to the optimizer, the damage-sized list
    # broadcasts under the threshold (AQE converts at runtime from actual
    # sizes) and degrades gracefully past it, where the runtime Bloom-filter
    # join injection expresses the same scan-side prune declaratively.
    write_keys = faults.filter(F.col("action") != "delete").select("k")
    payload = F.struct(
        F.col("o_custkey").cast("bigint").alias("p_custkey"),
        F.col("o_orderstatus").alias("p_orderstatus"),
        (F.col("o_totalprice").cast("double") + F.lit(0.0))
        .cast(f"decimal(28,{MONEY_SCALE})")
        .cast("double")
        .alias("p_totalprice"),
        ts_str("o_orderdate").alias("p_orderdate"),
        F.col("o_orderpriority").alias("p_orderpriority"),
    )
    pay = (
        src.join(write_keys, F.col("o_orderkey") == F.col("k"))
        .groupBy(F.col("o_orderkey").alias("pk"))
        .agg(
            F.min_by(payload, canonical_row_text(_ORDER_HASH_COLS)).alias("p")
        )
    )
    zero = F.lit(0).cast("bigint")
    out = (
        faults.join(pay, faults["k"] == pay["pk"], "left")
        .select(
            F.col("bucket").cast("bigint").alias("bucket"),
            F.col("k").cast("bigint").alias("o_orderkey"),
            "action",
            F.coalesce("src_cnt", zero).alias("src_copies"),
            F.coalesce("tgt_cnt", zero).alias("tgt_copies"),
            F.col("p.p_custkey").alias("p_custkey"),
            F.col("p.p_orderstatus").alias("p_orderstatus"),
            F.col("p.p_totalprice").alias("p_totalprice"),
            F.col("p.p_orderdate").alias("p_orderdate"),
            F.col("p.p_orderpriority").alias("p_orderpriority"),
        )
        .localCheckpoint()
    )
    faults.unpersist()
    return out


# ---------------------------------------------------------------------------
# recon_remediate_apply — apply the fix-up list, re-verify convergence
# ---------------------------------------------------------------------------

_REMEDIATE_APPLY_ORACLE = _BH_ORACLE_CTES + _BH_FAULTS_CTE + f""",
-- convergence prediction, derived INDEPENDENTLY of any simulated apply:
-- a non-delete faulted key converges iff all its source copies share one
-- canonical serialization (apply writes s_c copies of the single elected
-- payload, so a multi-payload source multiset can never be reproduced)
srctxt AS (
  SELECT o_orderkey AS k,
         COUNT(DISTINCT {canonical_row_text_sql(_ORDER_HASH_COLS)}) AS n_txt
  FROM orders
  WHERE o_orderkey IN (SELECT k FROM faults WHERE action <> 'delete')
  GROUP BY 1
),
resid AS (
  SELECT f.action, f.bucket, f.k
  FROM faults f JOIN srctxt s ON f.k = s.k
  WHERE f.action <> 'delete' AND s.n_txt > 1
),
pa AS (
  SELECT action, COUNT(*) AS n_keys,
         SUM(COALESCE(t_c, 0)) AS rows_removed,
         SUM(CASE WHEN action <> 'delete' THEN s_c ELSE 0 END)
           AS rows_inserted
  FROM faults GROUP BY 1
),
ra AS (
  SELECT action, COUNT(*) AS n_residual_keys,
         COUNT(DISTINCT bucket) AS n_residual_buckets
  FROM resid GROUP BY 1
)
SELECT pa.action,
       CAST(pa.n_keys AS BIGINT) AS n_keys,
       CAST(pa.rows_removed AS BIGINT) AS rows_removed,
       CAST(COALESCE(pa.rows_inserted, 0) AS BIGINT) AS rows_inserted,
       CAST(COALESCE(ra.n_residual_keys, 0) AS BIGINT) AS n_residual_keys,
       CAST(COALESCE(ra.n_residual_buckets, 0) AS BIGINT)
         AS n_residual_buckets
FROM pa LEFT JOIN ra ON pa.action = ra.action
"""


def remediation_apply_frames(
    src: DataFrame, tgt: DataFrame, bad: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """Apply :func:`remediation_plan`'s action list to ``tgt``; returns
    ``(plan, tgt_after)`` where ``tgt_after`` is the post-apply target
    (hash-column projection):

    - every faulted key's target rows are anti-joined out (NULL-key rows
      never match the anti-join condition, so they survive untouched —
      matching the drill, which never sees them);
    - every non-delete fault re-inserts ``src_copies`` copies of its
      elected canonical payload via ``explode(sequence(1, src_copies))``.
      The ``src_copies >= 1`` guard is LOAD-BEARING even though a groupBy
      count is always >= 1: Spark's ``sequence(1, 0)`` DESCENDS (emits
      [1, 0]) instead of dropping the row like DuckDB's ``range``, so any
      future zero-copy action arm would silently double-insert without it
      (pinned in tests/test_round18_remediate_apply.py).

    The re-inserted rows are the CANONICAL projection of the elected
    source copy (decimal-6 doubles, second-precision timestamps parsed
    back from the payload text) — the write list is engine-portable, so
    apply writes exactly what the list says, not a re-fetch of raw source
    rows. Canonical projection is hash-idempotent for money-class values
    and in-convention (1000-9999) years; outside those documented
    conventions a re-materialized row may hash differently from its
    source and surface as a spurious residual.

    Neither the anti-join list nor the payload frame carries a broadcast
    HINT (as in :func:`remediation_plan`): both are damage-sized, so AQE
    broadcasts them under the threshold and degrades gracefully past it."""
    plan = remediation_plan(src, tgt, bad=bad)  # localCheckpointed once
    cols = [name for name, _ in _ORDER_HASH_COLS]
    fault_keys = plan.select(F.col("o_orderkey").alias("fk"))
    kept = tgt.select(*cols).join(
        fault_keys, F.col("o_orderkey") == F.col("fk"), "left_anti"
    )
    ins = (
        plan.filter(
            (F.col("action") != "delete") & (F.col("src_copies") >= 1)
        )
        .withColumn(
            "copy_i", F.explode(F.sequence(F.lit(1), F.col("src_copies")))
        )
        .select(
            F.col("o_orderkey"),
            F.col("p_custkey").alias("o_custkey"),
            F.col("p_orderstatus").alias("o_orderstatus"),
            F.col("p_totalprice").alias("o_totalprice"),
            F.to_timestamp("p_orderdate", "yyyy-MM-dd HH:mm:ss").alias(
                "o_orderdate"
            ),
            F.col("p_orderpriority").alias("o_orderpriority"),
        )
    )
    return plan, kept.unionByName(ins.select(*cols))


def remediation_apply_report(src: DataFrame, tgt: DataFrame) -> DataFrame:
    """The reusable core of recon_remediate_apply (docstring there):
    apply the remediation plan, re-run the digest recon src vs post-apply
    target, and report per-action applied counts + residual convergence."""
    # ONE materialized digest action serves the whole pipeline: the
    # both-sides bucket digest is checkpointed once (bucket-bounded at any
    # data size), and both the fault-detection disagreement list and the
    # re-verify's source side derive from it, so the source is digested
    # once.
    both = _bh_bucket_digests(_bh_words(src), _bh_words(tgt)).localCheckpoint()
    bad = both.filter(~F.col("_agree"))
    plan, tgt_after = remediation_apply_frames(src, tgt, bad=bad)
    bad_after = (
        _bh_bucket_digests(_bh_source_words(both), _bh_words(tgt_after))
        .filter(~F.col("_agree"))
        .localCheckpoint()
    )
    resid = _bh_key_diff(src, tgt_after, bad_after).select("bucket", "k")
    zero = F.lit(0).cast("bigint")
    per_action = plan.groupBy("action").agg(
        F.count("*").alias("n_keys"),
        F.sum("tgt_copies").alias("rows_removed"),
        F.sum(
            F.when(F.col("action") != "delete", F.col("src_copies"))
            .otherwise(F.lit(0))
        ).alias("rows_inserted"),
    )
    # attribute each residual key to its action; a residual key ABSENT
    # from the plan means apply corrupted an untouched key — surface it
    # as action='corrupt' (the oracle never emits one, so parity fails)
    resid_by_action = (
        resid.join(
            plan.select(
                F.col("o_orderkey").alias("pk"),
                F.col("action").alias("p_action"),
            ),
            F.col("k") == F.col("pk"),
            "left",
        )
        .select(
            F.coalesce("p_action", F.lit("corrupt")).alias("action"),
            "bucket",
        )
        .groupBy("action")
        .agg(
            F.count("*").alias("n_residual_keys"),
            F.countDistinct("bucket").alias("n_residual_buckets"),
        )
    )
    return (
        per_action.join(resid_by_action, "action", "full_outer")
        .select(
            "action",
            F.coalesce("n_keys", zero).cast("bigint").alias("n_keys"),
            F.coalesce("rows_removed", zero)
            .cast("bigint")
            .alias("rows_removed"),
            F.coalesce("rows_inserted", zero)
            .cast("bigint")
            .alias("rows_inserted"),
            F.coalesce("n_residual_keys", zero)
            .cast("bigint")
            .alias("n_residual_keys"),
            F.coalesce("n_residual_buckets", zero)
            .cast("bigint")
            .alias("n_residual_buckets"),
        )
        .localCheckpoint()  # <= 5 rows; driver count+collect must not re-run
    )


@query("recon_remediate_apply", oracle=_REMEDIATE_APPLY_ORACLE)
def recon_remediate_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The convergence tier completing detect → plan → apply → verify:
    execute recon_remediate's write-ready action list against the target,
    then RE-RUN the digest reconciliation between the source and the
    post-apply target, reporting one row per action class:

      ``n_keys``         — faulted keys carrying this action;
      ``rows_removed``   — target rows anti-joined out (the key's full
                           target multiplicity — apply rewrites faulted
                           keys wholesale);
      ``rows_inserted``  — canonical payload copies written back
                           (``src_copies`` per non-delete key, exploded
                           via ``sequence(1, src_copies)`` under the
                           ``>= 1`` descend guard — Spark's
                           ``sequence(1, 0)`` returns [1, 0]);
      ``n_residual_keys`` / ``n_residual_buckets`` — convergence state
                           from the re-verify: keys (and their distinct
                           md5 buckets) STILL differing after apply.

    Under the single-payload write-list model a faulted key converges iff
    all its source copies share one canonical serialization; a key whose
    source holds >1 distinct payload is honestly residual (apply wrote
    ``s_c`` copies of the elected payload, which can never reproduce a
    multi-payload multiset). The DuckDB oracle re-derives the residual
    set from that arithmetic alone — COUNT(DISTINCT canonical text) per
    faulted source key — while the Spark side actually MATERIALIZES the
    post-apply target and re-runs the two-tier digest/drill recon, so a
    mis-scoped anti-join, a wrong copy count, or a corrupted payload
    breaks the hash. Residual keys not in the plan surface as
    action='corrupt', which the oracle never emits. The registered pair
    (unique source keys) fully converges: every action row reports zero
    residuals, matching recon_remediate's fault census.

    Scale shape: the plan inherits the damage-bounded drill; the apply is
    an unhinted anti-join against the damage-sized key list (AQE
    broadcast) plus a damage-sized explode — the 100 TB side never
    shuffles; the re-verify digests the post-apply target against the
    checkpointed source digest (the price of verification) plus a drill
    confined to still-bad buckets.
    The residual word-sum compare shares the recon's 64-bit fold model:
    a multi-payload source whose copies' hash words sum to the elected
    payload's exact multiple mod 2^32 would read as converged — the same
    accepted collision class as the digest tier itself."""
    src = load(spark, sf_dir, "orders")
    return remediation_apply_report(src, orders_target(src))


# ---------------------------------------------------------------------------
# recon_schema_evolve — schema-evolution reconciliation (§7.6.2)
# ---------------------------------------------------------------------------

#: The audited catalog: the union schema across vintages, with each column's
#: type (used to materialize an all-null column when NO file carries it —
#: e.g. an empty vintage, where mergeSchema has nothing to merge from).
#: o_totalprice exists only pre-migration (DROPPED by the v2 migration);
#: o_status_code only post-migration (ADDED by it).
_SE_CATALOG = (
    ("o_orderkey", "bigint"),
    ("o_custkey", "bigint"),
    ("o_orderdate", "timestamp"),
    ("o_totalprice", "double"),
    ("o_status_code", "string"),
)

_SE_ORACLE = """
WITH v AS (
  SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice, o_orderstatus,
         -- pmod split: NULL keys route to the post-migration vintage with
         -- the odd keys (CASE NULL = 0 is NULL -> ELSE), mirroring the
         -- plan's complement-keeps-NULL filter pair
         CASE WHEN ((o_orderkey % 2) + 2) % 2 = 0 THEN 'v1' ELSE 'v2' END
           AS vintage
  FROM orders
),
agg AS (
  SELECT COUNT(*) AS n_rows,
         COUNT(*) FILTER (WHERE vintage = 'v1') AS n_v1,
         COUNT(*) FILTER (WHERE vintage = 'v2') AS n_v2,
         COUNT(o_orderkey) AS nn_okey,
         COUNT(o_custkey) AS nn_ckey,
         COUNT(o_orderdate) AS nn_odate,
         COUNT(o_totalprice) FILTER (WHERE vintage = 'v1') AS nn_price,
         COUNT(o_orderstatus) FILTER (WHERE vintage = 'v2') AS nn_status
  FROM v
),
u AS (
  SELECT 'o_orderkey' AS col_name, n_rows, n_rows AS n_present,
         nn_okey AS n_nonnull FROM agg
  UNION ALL SELECT 'o_custkey', n_rows, n_rows, nn_ckey FROM agg
  UNION ALL SELECT 'o_orderdate', n_rows, n_rows, nn_odate FROM agg
  UNION ALL SELECT 'o_totalprice', n_rows, n_v1, nn_price FROM agg
  UNION ALL SELECT 'o_status_code', n_rows, n_v2, nn_status FROM agg
)
SELECT col_name,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_present AS BIGINT) AS n_schema_present,
       CAST(n_nonnull AS BIGINT) AS n_nonnull,
       CAST(n_rows - n_present AS BIGINT) AS n_null_fill,
       CAST(n_present - n_nonnull AS BIGINT) AS n_null_real
FROM u
"""


@query("recon_schema_evolve", oracle=_SE_ORACLE)
def recon_schema_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution reconciliation (SURVEY §7.6.2): the migration audit
    a long-lived table needs after its schema changed mid-history. Two
    parquet vintages of orders are written Hive-style under one root
    (``vintage=v1``: the pre-migration schema with o_totalprice;
    ``vintage=v2``: post-migration, o_totalprice DROPPED and o_status_code
    ADDED), the root is read back with ``mergeSchema``, and the report
    says — per union-schema column — how much of its nullness is
    *schema-fill* (the vintage never carried the column; mergeSchema
    synthesized NULL) vs *real* (the owning vintage stored NULL):

      (col_name, n_rows, n_schema_present, n_nonnull, n_null_fill,
       n_null_real)   with  n_null_fill = n_rows - n_schema_present
                      and   n_null_real = n_schema_present - n_nonnull.

    Per-vintage column ownership is NOT assumed from the catalog: it is
    probed from the written files' footers (a driver-side metadata read,
    no data IO — the file-level truth a migration audit must verify, and
    at 100 TB the same role is played by the table format's per-snapshot
    schema ids). The deterministic key split (pmod; the complement keeps
    NULL keys with the odd keys, as s_checkpoint_resume does) lets
    the oracle re-derive every count from the source table alone.

    Scale shape: ONE data-sized exchange — the groupBy(vintage) whose
    per-vintage (count(*), count(col)...) partials map-side combine; the
    stack to long form, the footer-presence broadcast join, and the final
    per-column rollup all run on a ≤ 2×|cols| metadata-sized frame. Types
    are stable across vintages by construction; a vintage that CHANGES a
    column's type is out of this operator's contract (Spark's mergeSchema
    fails loudly on conflicting types — pinned in
    tests/test_round15_schema_evolve.py — and auditing a type migration
    needs a cast-on-read plan, a different tool)."""
    import shutil

    from pyspark.errors import AnalysisException

    root = sink_dir(sf_dir, "orders_vintages")
    shutil.rmtree(root, ignore_errors=True)
    src = load(spark, sf_dir, "orders")
    even = F.pmod(F.col("o_orderkey"), 2) == 0
    src.filter(even).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    ).write.mode("overwrite").parquet(f"{root}/vintage=v1")
    src.filter(~even | even.isNull()).select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.col("o_orderstatus").alias("o_status_code"),
    ).write.mode("overwrite").parquet(f"{root}/vintage=v2")

    catalog_cols = [c for c, _ in _SE_CATALOG]
    present: list[tuple[str, str]] = []
    for vin in ("v1", "v2"):
        try:  # footer-probed ownership; an empty vintage owns nothing
            cols = spark.read.parquet(f"{root}/vintage={vin}").columns
        except AnalysisException:
            cols = []
        present += [(c, vin) for c in cols if c in catalog_cols]

    try:
        merged = spark.read.option("mergeSchema", "true").parquet(root)
    except AnalysisException:  # zero files in BOTH vintages (empty source)
        merged = local_frame(
            spark,
            [],
            ", ".join(f"{c} {t}" for c, t in _SE_CATALOG)
            + ", vintage string",
        )
    for c, t in _SE_CATALOG:  # columns no surviving file carries
        if c not in merged.columns:
            merged = merged.withColumn(c, F.lit(None).cast(t))

    per_v = merged.groupBy("vintage").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.count(c).alias(f"nn_{i}") for i, c in enumerate(catalog_cols)],
    )
    stack = ", ".join(f"'{c}', nn_{i}" for i, c in enumerate(catalog_cols))
    long = per_v.select(
        "vintage",
        "n",
        F.expr(
            f"stack({len(catalog_cols)}, {stack}) AS (col_name, n_nonnull)"
        ),
    )
    presence = local_frame(
        spark, present, "col_name string, vintage string"
    ).withColumn("present", F.lit(1))
    owned = F.col("present") == 1
    zero = F.lit(0).cast("bigint")
    grouped = (
        long.join(F.broadcast(presence), ["col_name", "vintage"], "left")
        .groupBy("col_name")
        .agg(
            F.sum("n").alias("g_rows"),
            F.sum(F.when(owned, F.col("n")).otherwise(0)).alias("g_present"),
            # gate on footer ownership: nullness OUTSIDE owning vintages is
            # schema fill by definition, never "real" storage nulls
            F.sum(F.when(owned, F.col("n_nonnull")).otherwise(0)).alias(
                "g_nonnull"
            ),
        )
    )
    spec = local_frame(spark, [(c,) for c in catalog_cols], "col_name string")
    return spec.join(F.broadcast(grouped), "col_name", "left").select(
        "col_name",
        F.coalesce("g_rows", zero).cast("bigint").alias("n_rows"),
        F.coalesce("g_present", zero).cast("bigint").alias("n_schema_present"),
        F.coalesce("g_nonnull", zero).cast("bigint").alias("n_nonnull"),
        (F.coalesce("g_rows", zero) - F.coalesce("g_present", zero))
        .cast("bigint")
        .alias("n_null_fill"),
        (F.coalesce("g_present", zero) - F.coalesce("g_nonnull", zero))
        .cast("bigint")
        .alias("n_null_real"),
    )


# ---------------------------------------------------------------------------
# recon_partition_evolve — partition-layout migration audit (§7.6.5)
# ---------------------------------------------------------------------------

_PE_ORACLE = """
WITH v AS (
  SELECT CASE WHEN ((o_orderkey % 2) + 2) % 2 = 0 THEN 'v1' ELSE 'v2' END
           AS vintage,
         -- the derived month key; lexicographic == chronological for
         -- 4-digit years, so string MIN/MAX bound the calendar exactly
         strftime(o_orderdate, '%Y-%m') AS m
  FROM orders
),
landed AS (
  SELECT m,
         COUNT(*) FILTER (WHERE vintage = 'v1') AS n_v1,
         COUNT(*) FILTER (WHERE vintage = 'v2') AS n_v2
  FROM v GROUP BY 1
),
bounds AS (SELECT MIN(m) AS mn, MAX(m) AS mx FROM landed WHERE m IS NOT NULL),
cal AS (
  SELECT strftime(unnest(generate_series(CAST(mn || '-01' AS DATE),
                                         CAST(mx || '-01' AS DATE),
                                         INTERVAL 1 MONTH)), '%Y-%m') AS m
  FROM bounds WHERE mn IS NOT NULL
)
SELECT COALESCE(c.m, l.m) AS o_month,
       CAST(COALESCE(l.n_v1, 0) AS BIGINT) AS n_v1,
       CAST(COALESCE(l.n_v2, 0) AS BIGINT) AS n_v2,
       CAST(COALESCE(l.n_v1, 0) + COALESCE(l.n_v2, 0) AS BIGINT) AS n_rows,
       -- the oracle pins ZERO drift: a hash-pass proves the written v2
       -- directory keys equal the data-derived months (sink_compact
       -- precedent — the on-disk layout must honor the write contract)
       CAST(0 AS BIGINT) AS n_key_drift,
       CASE WHEN COALESCE(c.m, l.m) IS NULL THEN 'NULL_KEY'
            WHEN COALESCE(l.n_v1, 0) + COALESCE(l.n_v2, 0) = 0 THEN 'MISSING'
            WHEN COALESCE(l.n_v1, 0) = 0 THEN 'V2_ONLY'
            WHEN COALESCE(l.n_v2, 0) = 0 THEN 'V1_ONLY'
            ELSE 'MIXED' END AS status
FROM cal c FULL OUTER JOIN landed l ON c.m = l.m
"""

#: columns both vintages carry in their data files (v2 additionally carries
#: the o_month partition directory key)
_PE_DATA_COLS = ("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
_PE_SCHEMA = (
    "o_orderkey bigint, o_custkey bigint, o_orderdate timestamp,"
    " o_totalprice double"
)


def _pe_month(col: str = "o_orderdate") -> F.Column:
    """The derived partition key a date-partitioned layout is keyed by."""
    return F.date_format(col, "yyyy-MM")


@query("recon_partition_evolve", oracle=_PE_ORACLE)
def recon_partition_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-layout migration audit (SURVEY §7.6.5) — the partition-
    dimension sibling of recon_schema_evolve: the same table exists in two
    LAYOUT vintages (v1: the legacy unpartitioned dump; v2: the migrated
    Hive-style layout partitioned by a derived month key), and the audit
    reconciles the two against the month calendar:

      (o_month, n_v1, n_v2, n_rows, n_key_drift, status)

    with status ∈ NULL_KEY (rows whose month key is NULL — v2 spills them
    into the __HIVE_DEFAULT_PARTITION__ directory, v1 derives NULL),
    MISSING (a calendar month no vintage landed), V1_ONLY / V2_ONLY /
    MIXED. ``n_key_drift`` counts v2 rows whose DIRECTORY key disagrees
    with the month re-derived from the row's own data — the check that the
    migration's layout actually honors its key derivation (the oracle pins
    it at zero from the source table, so a single mis-bucketed file fails
    the hash — the sink_compact convention). The two layouts CANNOT be
    read under one root (Spark rejects mixed partition depths), which is
    exactly the real-world shape: the audit reads each layout root with
    its own scan and unions the narrow (month, vintage, drift)
    projections — the wide row never crosses a shuffle.

    The vintage split is the family's deterministic pmod key split (NULL
    keys ride with the odd keys into v2 — complement-keeps-NULL, as in
    s_checkpoint_resume), so the oracle re-derives every count from
    the source table alone; a real migration cuts over on a date instead,
    and the audit is split-agnostic. Scale shape: ONE data-sized exchange
    (the groupBy(month × vintage-partials) count, map-side combinable);
    the calendar is a 1-row bounds agg exploded months-sized
    (recon_partition_complete precedent), and the final full-outer join
    runs on two months-sized frames. Out of scope, documented: years
    outside 1000-9999 (the two engines' year formatting/padding diverges
    there, and 'yyyy-MM' string order stops being chronological)."""
    import shutil

    from pyspark.errors import AnalysisException

    root = sink_dir(sf_dir, "orders_part_layouts")
    shutil.rmtree(root, ignore_errors=True)
    src = load(spark, sf_dir, "orders")
    even = F.pmod(F.col("o_orderkey"), 2) == 0
    src.filter(even).select(*_PE_DATA_COLS).write.mode("overwrite").parquet(
        f"{root}/v1"
    )
    # repartition by the partition key before the partitioned write (the
    # write.distribution-mode=hash shape): pins the layout
    # at one file per month REGARDLESS of scan width (without it, file
    # count = scan splits × months touched — the small-files anti-pattern
    # once the session's scan-parallelism floor splits the source), and
    # at 100 TB it is the standard clustered partitioned-write pattern.
    src.filter(~even | even.isNull()).select(
        *_PE_DATA_COLS, _pe_month().alias("o_month")
    ).repartition("o_month").write.mode("overwrite").partitionBy(
        "o_month"
    ).parquet(f"{root}/v2")

    def read_back(path: str, with_month: bool) -> DataFrame:
        schema = _PE_SCHEMA + (", o_month string" if with_month else "")
        try:
            df = spark.read.parquet(path)
        except AnalysisException:  # fileless vintage (empty side)
            return local_frame(spark, [], schema)
        if with_month and "o_month" not in df.columns:
            # an all-NULL-key v2 writes ONLY the default partition dir;
            # discovery then sees no partition column at all
            df = df.withColumn("o_month", F.lit(None).cast("string"))
        elif with_month:
            # 'yyyy-MM' keys infer as string on this Spark, but
            # partitionColumnTypeInference isn't pinned and the driver
            # supplies its own session — cast defensively so a conf
            # change can't fork the key type against the string oracle
            df = df.withColumn("o_month", F.col("o_month").cast("string"))
        return df

    zero = F.lit(0).cast("bigint")
    v1 = read_back(f"{root}/v1", with_month=False).select(
        _pe_month().alias("m"),
        F.lit("v1").alias("vintage"),
        zero.alias("drift"),
    )
    v2 = read_back(f"{root}/v2", with_month=True).select(
        F.col("o_month").alias("m"),
        F.lit("v2").alias("vintage"),
        # directory key vs data-derived key — NULL==NULL is agreement
        # (a NULL date can only land in the default partition)
        F.when(~F.col("o_month").eqNullSafe(_pe_month()), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("drift"),
    )
    landed = (
        v1.unionByName(v2)
        .groupBy("m")
        .agg(
            F.sum(F.when(F.col("vintage") == "v1", 1).otherwise(0)).alias(
                "n_v1"
            ),
            F.sum(F.when(F.col("vintage") == "v2", 1).otherwise(0)).alias(
                "n_v2"
            ),
            F.sum("drift").alias("n_drift"),
        )
    )
    bounds = landed.filter(F.col("m").isNotNull()).agg(
        F.min("m").alias("mn"), F.max("m").alias("mx")
    )
    cal = bounds.select(
        F.explode(
            F.sequence(
                F.to_date(F.concat("mn", F.lit("-01"))),
                F.to_date(F.concat("mx", F.lit("-01"))),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("d")
    ).select(F.date_format("d", "yyyy-MM").alias("cm"))
    # calendar months are never NULL, so plain equality routes the landed
    # NULL-month (spill) row to its own unmatched full-outer row
    j = cal.join(landed, cal["cm"] == landed["m"], "full_outer")
    month = F.coalesce("cm", "m")
    n_v1 = F.coalesce("n_v1", zero)
    n_v2 = F.coalesce("n_v2", zero)
    return j.select(
        month.alias("o_month"),
        n_v1.cast("bigint").alias("n_v1"),
        n_v2.cast("bigint").alias("n_v2"),
        (n_v1 + n_v2).cast("bigint").alias("n_rows"),
        F.coalesce("n_drift", zero).cast("bigint").alias("n_key_drift"),
        F.when(month.isNull(), "NULL_KEY")
        .when(n_v1 + n_v2 == 0, "MISSING")
        .when(n_v1 == 0, "V2_ONLY")
        .when(n_v2 == 0, "V1_ONLY")
        .otherwise("MIXED")
        .alias("status"),
    )


# ---------------------------------------------------------------------------
# recon_layout_compact — layout-migration file-locality audit (§7.6.6)
# ---------------------------------------------------------------------------

_LC_SHARDS = 4

_LC_ORACLE = f"""
WITH m AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS m,
         ((o_orderkey % {_LC_SHARDS}) + {_LC_SHARDS}) % {_LC_SHARDS} AS shard
  FROM orders
)
SELECT m AS o_month,
       CAST(COUNT(*) AS BIGINT) AS n_rows_v1,
       CAST(COUNT(*) AS BIGINT) AS n_rows_v2,
       -- v1 files touched by a month-predicate query: one file per shard
       -- dir (the write contract), so it is the month's distinct shard
       -- count (+ the default dir when NULL keys land in the month)
       CAST(COUNT(DISTINCT shard)
            + MAX(CASE WHEN shard IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS v1_files,
       CAST(1 AS BIGINT) AS v2_files,
       CASE WHEN m IS NULL THEN 'NULL_KEY'
            WHEN COUNT(DISTINCT shard)
                 + MAX(CASE WHEN shard IS NULL THEN 1 ELSE 0 END) > 1
              THEN 'IMPROVED'
            ELSE 'EQUAL' END AS verdict
FROM m GROUP BY 1
"""


@query("recon_layout_compact", oracle=_LC_ORACLE)
def recon_layout_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout-migration file-locality audit (SURVEY §7.6.6) —
    recon_partition_evolve's month grain joined with sink_compact's
    PHYSICAL file-inventory grain: the same orders table written under
    both layout vintages (v1: the legacy shard-only layout,
    ``shard = pmod(key, 4)`` — deterministic placement but month-blind;
    v2: the migrated month-partitioned layout), each file inventory read
    back via ``input_file_name()``, and the report says — per month —
    how many data files a month-predicate query must touch under each
    layout:

      (o_month, n_rows_v1, n_rows_v2, v1_files, v2_files, verdict)

    with verdict IMPROVED when the migration actually buys locality
    (v1 scatters the month over >1 shard file; v2 pins it to one),
    EQUAL when the month was already single-file, NULL_KEY for the
    default-partition spill. The oracle re-derives EVERY number from the
    source table's key arithmetic — v1_files as the month's distinct
    shard count, v2_files as the literal 1 — so a hash-pass proves both
    on-disk layouts honor their write contracts (one file per directory:
    a pre-write ``repartition`` on the partition key puts each dir's
    rows in exactly one task — the sink_compact discipline; bare
    ``repartition(n)`` placement would be partitioner-private and
    unverifiable, the §7.6.6 vet-note risk).

    Scale shape: two inventory scans, each contributing one
    map-side-combinable (month × file) count — the countDistinct runs on
    a months×files-sized frame, the wide row never shuffles; the final
    month-grain full-outer join runs on two months-sized aggregates. At
    100 TB this is the audit that prices the migration: the v1 column IS
    the scan amplification every month-scoped query pays until cutover."""
    import shutil

    from pyspark.errors import AnalysisException

    root = sink_dir(sf_dir, "orders_layout_compact")
    shutil.rmtree(root, ignore_errors=True)
    src = load(spark, sf_dir, "orders")
    v1w = src.withColumn("shard", F.pmod("o_orderkey", F.lit(_LC_SHARDS)))
    v1w.repartition("shard").write.mode("overwrite").partitionBy(
        "shard"
    ).parquet(f"{root}/v1")
    v2w = src.withColumn("o_month", _pe_month())
    v2w.repartition("o_month").write.mode("overwrite").partitionBy(
        "o_month"
    ).parquet(f"{root}/v2")

    def inventory(path: str, month_col) -> DataFrame:
        try:
            df = spark.read.parquet(path)
        except AnalysisException:  # fileless layout (empty source)
            return local_frame(spark, [], "m string, n bigint, f bigint")
        return (
            df.select(
                month_col(df).alias("m"),
                F.input_file_name().alias("fname"),
            )
            .groupBy("m")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("fname").alias("f"),
            )
        )

    # v1 is month-blind: the audit re-derives the would-be key from data;
    # v2's directory key IS the layout truth (drift belongs to
    # recon_partition_evolve)
    inv1 = inventory(f"{root}/v1", lambda df: _pe_month())
    inv2 = inventory(
        f"{root}/v2",
        # cast: partition-key inference of 'yyyy-MM' as string is not
        # conf-pinned (see read_back in recon_partition_evolve)
        lambda df: F.col("o_month").cast("string")
        if "o_month" in df.columns
        else F.lit(None).cast("string"),
    )
    j = inv1.alias("a").join(
        inv2.alias("b"), F.col("a.m").eqNullSafe(F.col("b.m")), "full_outer"
    )
    zero = F.lit(0).cast("bigint")
    month = F.coalesce("a.m", "b.m")
    v1f = F.coalesce("a.f", zero)
    return j.select(
        month.alias("o_month"),
        F.coalesce("a.n", zero).cast("bigint").alias("n_rows_v1"),
        F.coalesce("b.n", zero).cast("bigint").alias("n_rows_v2"),
        v1f.cast("bigint").alias("v1_files"),
        F.coalesce("b.f", zero).cast("bigint").alias("v2_files"),
        F.when(month.isNull(), "NULL_KEY")
        .when(v1f > 1, "IMPROVED")
        .otherwise("EQUAL")
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# recon_compact_incremental — successive-compaction incrementality audit
# (§7.12 candidate 3)
# ---------------------------------------------------------------------------

_CI_ORACLE = """
WITH m AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS m,
         COALESCE(((o_orderkey % 10) + 10) % 10, -1) AS k10,
         COALESCE(((o_orderkey % 50) + 50) % 50, -1) AS k50
  FROM orders
),
b AS (
  -- nm clamps off at max month 9999-12 (ADVICE r17): year 10000 formats
  -- as '+10000' on Spark vs '10000' on DuckDB, so the NEW-month branch
  -- is skipped at the convention edge instead (twin of the plan's guard)
  SELECT MIN(m) AS dm,
         CASE WHEN MAX(m) < '9999-12'
              THEN strftime(strptime(MAX(m) || '-01', '%Y-%m-%d')
                            + INTERVAL 1 MONTH, '%Y-%m')
              END AS nm
  FROM m WHERE m IS NOT NULL
),
-- the delta's dirty-month row count: dynamic overwrite only touches a
-- partition that appears in the WRITTEN data, so an all-filtered dirty
-- month is NOT recompacted (the vet-note hazard: dirtiness comes from
-- the delta's month keys, never from row diffs)
bd AS (
  SELECT COUNT(*) AS n_d FROM m, b WHERE m.m = b.dm AND m.k10 <> 3
),
before_t AS (SELECT m, COUNT(*) AS n_before FROM m GROUP BY 1),
after_t AS (
  SELECT m, COUNT(*) AS n_after FROM (
    SELECT m.m AS m FROM m, b, bd
    WHERE m.m IS NULL OR b.dm IS NULL OR m.m <> b.dm OR bd.n_d = 0
    UNION ALL
    SELECT m.m AS m FROM m, b, bd
    WHERE m.m = b.dm AND m.k10 <> 3 AND bd.n_d > 0
    UNION ALL
    SELECT b.nm AS m FROM m, b WHERE m.k50 = 0 AND b.nm IS NOT NULL
  ) GROUP BY 1
)
SELECT COALESCE(bf.m, af.m) AS o_month,
       CAST(COALESCE(bf.n_before, 0) AS BIGINT) AS n_rows_before,
       CAST(COALESCE(af.n_after, 0) AS BIGINT) AS n_rows_after,
       -- absence-from-before is n_before IS NULL, NOT bf.m IS NULL: a
       -- NULL_KEY month present before has bf.m NULL but keeps its file
       CAST(CASE WHEN bf.n_before IS NULL THEN 0
                 WHEN bf.m IS NOT DISTINCT FROM b.dm AND bd.n_d > 0 THEN 0
                 ELSE 1 END AS BIGINT) AS n_files_kept,
       CASE WHEN COALESCE(bf.m, af.m) IS NULL THEN 'NULL_KEY'
            WHEN bf.n_before IS NULL THEN 'NEW'
            WHEN bf.m IS NOT DISTINCT FROM b.dm AND bd.n_d > 0
              THEN 'RECOMPACTED'
            ELSE 'STABLE' END AS verdict
FROM before_t bf
FULL OUTER JOIN after_t af ON bf.m IS NOT DISTINCT FROM af.m
CROSS JOIN b CROSS JOIN bd
"""


@query("recon_compact_incremental", oracle=_CI_ORACLE)
def recon_compact_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Successive-compaction incrementality audit (SURVEY §7.12 candidate
    3) — the follow-on run recon_layout_compact points at: run-1 compacts
    orders month-partitioned (one file per month dir — the pre-write
    ``repartition`` discipline); a deterministic DELTA batch lands
    (a rewrite of the oldest month dropping its ``pmod(key,10)==3`` rows,
    plus a new-month batch of the ``pmod(key,50)==0`` rows landing in
    max-month + 1); run-2 applies the delta via per-write DYNAMIC
    partition overwrite (``.option("partitionOverwriteMode", "dynamic")``
    — per-write, no session-conf dependency: only the
    partitions present in the written data are replaced, and an empty
    delta is a safe no-op). The audit inventories data files per month
    BEFORE and AFTER run-2 via ``input_file_name()`` and emits

      (o_month, n_rows_before, n_rows_after, n_files_kept, verdict)

    with verdict STABLE (untouched month — its single file survives,
    n_files_kept = 1), RECOMPACTED (the dirty month — its file replaced,
    kept = 0), NEW (the fresh month), NULL_KEY (the default-partition
    spill, never in the delta by construction). The oracle re-derives
    every number from the source table's key/date arithmetic alone, so a
    hash-pass proves the incremental run touched ONLY the dirty months:
    a mis-scoped overwrite (whole-table truncate, or a static overwrite
    clearing untouched partitions) flips STABLE months' n_files_kept to
    0 and fails the hash. The vet-note hazard is modeled on both sides:
    a dirty month whose rewrite filters away EVERY row never appears in
    the written data, so dynamic overwrite leaves it untouched — the
    oracle gates RECOMPACTED on the delta's month keys (bd.n_d > 0),
    not on row diffs. File identity relies on Spark's per-job UUID part
    names (a replaced partition can never resurrect its old file name);
    one-file-per-dir relies on the repartition write contract
    (recon_layout_compact's discipline, oracle-pinned there).

    Scale shape: run-1 is the one table-sized write; the delta is
    delta-sized end to end (two pushed-down filters + a 1-row bounds
    aggregate broadcast-attached — no driver scalar, no collect); run-2
    rewrites only the dirty partitions' bytes — THE incremental-
    compaction win this audit prices: at 100 TB a full recompaction
    rewrites everything, the delta run rewrites two months. The
    inventories are manifest-sized metadata aggregates (months × files),
    joined at month grain; n_files_kept is a months×files-sized distinct
    pair intersection. Out of scope (family convention, documented at
    recon_partition_evolve): years outside 1000-9999."""
    import shutil

    from pyspark.errors import AnalysisException

    root = sink_dir(sf_dir, "orders_compact_incremental")
    shutil.rmtree(root, ignore_errors=True)
    src = load(spark, sf_dir, "orders")
    month = F.date_format("o_orderdate", "yyyy-MM")
    data = src.select(
        "o_orderkey",
        "o_totalprice",
        month.alias("o_month"),
        F.coalesce(F.pmod("o_orderkey", F.lit(10)), F.lit(-1)).alias("k10"),
        F.coalesce(F.pmod("o_orderkey", F.lit(50)), F.lit(-1)).alias("k50"),
    )
    tbl = f"{root}/orders_m"
    data.select("o_orderkey", "o_totalprice", "o_month").repartition(
        "o_month"
    ).write.mode("overwrite").partitionBy("o_month").parquet(tbl)

    def inventory(path: str) -> DataFrame:
        try:
            df = spark.read.parquet(path)
        except AnalysisException:  # fileless table (empty source)
            return local_frame(spark, [], "m string, fname string")
        mcol = (
            F.col("o_month").cast("string")
            if "o_month" in df.columns
            else F.lit(None).cast("string")
        )
        return df.select(mcol.alias("m"), F.input_file_name().alias("fname"))

    # BEFORE inventory must be materialized before run-2 replaces files
    inv_before = (
        inventory(tbl)
        .groupBy("m")
        .agg(
            F.count(F.lit(1)).alias("n_before"),
            F.collect_set("fname").alias("files_before"),
        )
        .localCheckpoint()
    )

    # nm guard: a max month of 9999-12 is IN the documented
    # 1000-9999 year convention, but max+1 lands in year 10000, where
    # Spark date_format 'yyyy' emits '+10000' and DuckDB strftime '%Y'
    # emits '10000' — clamp the NEW-month branch off instead (nm NULL →
    # the nm.isNotNull() filter below makes it a no-op on both engines).
    # Lexicographic < is chronological for in-convention 'yyyy-MM' text.
    bounds = data.filter(F.col("o_month").isNotNull()).agg(
        F.min("o_month").alias("dm"),
        F.when(
            F.max("o_month") < F.lit("9999-12"),
            F.date_format(
                F.add_months(
                    F.to_date(F.concat(F.max("o_month"), F.lit("-01"))), 1
                ),
                "yyyy-MM",
            ),
        ).alias("nm"),
    )
    withb = data.crossJoin(F.broadcast(bounds))
    delta = (
        withb.filter(
            (F.col("o_month") == F.col("dm")) & (F.col("k10") != 3)
        )
        .select("o_orderkey", "o_totalprice", "o_month")
        .unionByName(
            withb.filter((F.col("k50") == 0) & F.col("nm").isNotNull())
            .select("o_orderkey", "o_totalprice", F.col("nm").alias("o_month"))
        )
    )
    delta.repartition("o_month").write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("o_month").parquet(tbl)

    inv_after = (
        inventory(tbl)
        .groupBy("m")
        .agg(
            F.count(F.lit(1)).alias("n_after"),
            F.collect_set("fname").alias("files_after"),
        )
    )
    j = inv_before.alias("a").join(
        inv_after.alias("b"), F.col("a.m").eqNullSafe(F.col("b.m")), "full_outer"
    )
    zero = F.lit(0).cast("bigint")
    mo = F.coalesce("a.m", "b.m")
    kept = F.size(
        F.array_intersect(
            F.coalesce("files_before", F.array().cast("array<string>")),
            F.coalesce("files_after", F.array().cast("array<string>")),
        )
    )
    n_before = F.coalesce("n_before", zero)
    return j.select(
        mo.alias("o_month"),
        n_before.cast("bigint").alias("n_rows_before"),
        F.coalesce("n_after", zero).cast("bigint").alias("n_rows_after"),
        kept.cast("bigint").alias("n_files_kept"),
        F.when(mo.isNull(), "NULL_KEY")
        .when(n_before == 0, "NEW")
        .when(kept == 0, "RECOMPACTED")
        .otherwise("STABLE")
        .alias("verdict"),
        # months-sized; materialize NOW: the result reads the
        # sink lazily, and a subsequent invocation against the same sf_dir
        # rmtrees/rewrites that sink — an unevaluated report would
        # otherwise see the later run's files
    ).localCheckpoint()
