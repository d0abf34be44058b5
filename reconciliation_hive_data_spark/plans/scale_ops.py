"""Scale-lever operators: the specific mechanics a 100 TB deployment leans
on, each demonstrated as a named, oracle-checked query.

- ``join_bucketed`` — co-located join via bucketed tables: both facts
  written ``bucketBy`` the join key, so the join reads bucket-aligned
  files and needs NO shuffle exchange on either side (plan-test-enforced).
  At 100 TB this is the difference between re-shuffling 100 TB per join
  and a metadata-only alignment.
- ``agg_salted`` — two-phase salted aggregation for skewed keys:
  l_returnflag has 3 distinct values, so a direct groupBy lands 600k rows
  on 3 reducers; salting fans the partial aggregation out 16× and the
  final re-aggregate touches only 3×16 partial rows. Exact-decimal sums
  re-aggregate losslessly, so the result is bit-identical to the direct
  plan.
- ``s_stream_stream`` — stream-stream inner join (purchases ⋈ views within
  6 h per user) with both sides replayed from the file source. Inner
  stream-stream joins emit each match exactly once regardless of
  micro-batch timing, so the full-replay result equals the batch twin and
  stays hash-checkable. (Production adds watermarks to bound join state;
  the fixture replay is finite so none are needed for correctness here.)
- ``x_pack_sequences`` — LLM training sequence packing: documents greedily
  packed into ≤2048-token bins per language via a running token count
  (cumulative-sum binning). Packing runs inside (lang) blocks — the
  blocking key bounds the window so there is no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..artifacts import ensure_artifact
from ..canonical import money_sum, money_sum_sql, ts_str
from ..catalog import load
from ..registry import query

# ---------------------------------------------------------------------------
# join_bucketed — co-located join on bucketed tables (no shuffle exchange)
# ---------------------------------------------------------------------------

_BUCKETED_ORACLE = f"""
SELECT o.o_orderstatus AS o_orderstatus,
       COUNT(*) AS n_lines,
       {money_sum_sql('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderstatus
"""


@query("join_bucketed", oracle=_BUCKETED_ORACLE)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact join with ZERO shuffle: both sides are written as tables
    bucketed 8 ways on the join key (hash-partitioned at write time), so
    the sort-merge join reads bucket-aligned files directly — the physical
    plan has no Exchange on either join input (tests/test_plans.py). This
    is the bucketing lever from SURVEY.md §4: at 100 TB the facts are
    bucketed once at ingest and every subsequent key-join is
    metadata-aligned instead of re-shuffling the table."""
    import os

    # Ingest-once semantics: the bucketed FILES are the durable artifact
    # (that is the whole point of bucketing — pay the shuffle at write
    # time, never again). They are written once per source dataset to a
    # path keyed by the absolute sf_dir (artifacts.ensure_artifact owns
    # keying, content-fingerprint staleness, and rename-atomic publish);
    # any later session — including a fresh process whose per-process
    # Derby metastore starts empty — re-attaches with a metadata-only
    # CREATE TABLE ... CLUSTERED BY ... LOCATION over the existing files.
    # This is exactly the 100 TB deployment shape: catalog registration
    # over durable bucketed storage, not a rewrite.
    # Repartitioning to the bucket count before the write means each task
    # holds exactly one bucket ⇒ 8 files per table, not tasks×buckets.
    ddl = {
        "orders_bkt": (
            "o_orderkey BIGINT, o_orderstatus STRING",
            "o_orderkey",
            "orders",
            ("o_orderkey", "o_orderstatus"),
        ),
        "lineitem_bkt": (
            "l_orderkey BIGINT, l_extendedprice DOUBLE, l_discount DOUBLE",
            "l_orderkey",
            "lineitem",
            ("l_orderkey", "l_extendedprice", "l_discount"),
        ),
    }
    tables = {}
    for kind, (schema, key, src, cols) in ddl.items():

        def build(tmp: str, key: str = key, src: str = src, cols: tuple = cols) -> None:
            # bucketed writes must go through saveAsTable; stage under a
            # scratch catalog name, keep the (external) files, drop the name
            scratch = "rhds_bucket_build_scratch"
            spark.sql(f"DROP TABLE IF EXISTS {scratch}")
            (
                load(spark, sf_dir, src)
                .select(*cols)
                .repartition(8, key)
                .write.mode("overwrite")
                .bucketBy(8, key)
                .sortBy(key)
                .option("path", tmp)
                .saveAsTable(scratch)
            )
            spark.sql(f"DROP TABLE {scratch}")

        loc, rebuilt = ensure_artifact(spark, sf_dir, kind, [f"{src}.parquet"], build)
        t = os.path.basename(loc)
        if rebuilt:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        if not spark.catalog.tableExists(t):
            spark.sql(
                f"CREATE TABLE {t} ({schema}) USING PARQUET"
                f" CLUSTERED BY ({key}) SORTED BY ({key}) INTO 8 BUCKETS"
                f" LOCATION '{loc}'"
            )
        tables[kind] = t
    ob = spark.table(tables["orders_bkt"])
    lb = spark.table(tables["lineitem_bkt"])
    # merge hint: keep it a sort-merge join so the bucket alignment (not a
    # broadcast) is what eliminates the exchanges
    return (
        ob.hint("merge")
        .join(lb, ob.o_orderkey == lb.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_lines"),
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        )
    )


# ---------------------------------------------------------------------------
# agg_salted — two-phase salted aggregation for skewed keys
# ---------------------------------------------------------------------------

_SALTED_ORACLE = f"""
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       {money_sum_sql('l_quantity', 'sum_qty')},
       {money_sum_sql('l_extendedprice', 'sum_price')}
FROM lineitem GROUP BY l_returnflag
"""


@query("agg_salted", oracle=_SALTED_ORACLE)
def agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe aggregation: l_returnflag has 3 distinct values, so the
    direct groupBy funnels the whole table through 3 reducers. Phase 1
    aggregates on (l_returnflag, salt) with a 16-way salt (crc32 of the
    row's orderkey — deterministic, no rand()), spreading each hot key
    over 16 partitions; phase 2 re-aggregates the 3×16 partial rows.
    Decimal partial sums re-aggregate exactly, so the output is
    bit-identical to the direct plan — same oracle as a plain GROUP BY.
    This is the manual form of AQE skew-join salting, usable where AQE
    can't see the skew (first-shuffle aggregations)."""
    li = load(spark, sf_dir, "lineitem")
    salted = li.withColumn(
        "salt", F.pmod(F.crc32(F.col("l_orderkey").cast("string")), F.lit(16))
    )
    partial = salted.groupBy("l_returnflag", "salt").agg(
        F.count("*").alias("c"),
        F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("q"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).alias("p"),
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("c").alias("n_rows"),
        F.sum("q").cast("double").alias("sum_qty"),
        F.sum("p").cast("double").alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# join_skew_salted — salted shuffle join for skewed join keys
# ---------------------------------------------------------------------------

_SKEW_JOIN_SALT = 16


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    keys: list[str],
    salt_src: str,
    k: int,
    how: str = "inner",
) -> DataFrame:
    """Generic pre-salting equi-join: fact rows get a deterministic salt in
    [0, k) from crc32 of ``salt_src`` (any fact column with spread — no
    rand(), so retries/speculative tasks agree), the dim side is replicated
    once per salt value, and the join runs on keys + salt with a
    shuffle_hash hint. Each fact row matches exactly one replica of its dim
    row, so for inner/left joins the result is row-identical to the
    unsalted join while each hot key's rows spread over k partitions.
    A NULL ``salt_src`` value coalesces to '' before hashing — crc32(NULL)
    would yield a NULL salt and silently drop that fact row's dim match,
    breaking the row-identical guarantee. The salt column is internal and
    dropped from the output."""
    f = fact.withColumn(
        "__salt",
        F.pmod(
            F.crc32(F.coalesce(F.col(salt_src).cast("string"), F.lit(""))),
            F.lit(k),
        ),
    )
    d = dim.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0).cast("long"), F.lit(k - 1).cast("long"))),
    )
    return f.join(d.hint("shuffle_hash"), [*keys, "__salt"], how).drop("__salt")

_SKEW_JOIN_ORACLE = f"""
WITH d AS (
  SELECT event_type,
         COUNT(*) AS type_n,
         {money_sum_sql('value', 'type_sum')}
  FROM events GROUP BY event_type
)
SELECT e.event_id AS event_id,
       e.event_type AS event_type,
       d.type_n AS type_n,
       e.value / d.type_sum AS value_share
FROM events e JOIN d ON e.event_type = d.event_type
"""


@query("join_skew_salted", oracle=_SKEW_JOIN_ORACLE)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted SHUFFLE join for a skewed key: events joined to a per-type
    dimension on event_type (5 distinct values), so a plain shuffle join
    lands the whole fact table on 5 reducers. The fact side salts each row
    with pmod(crc32(event_id), 16) — deterministic, no rand() — and the
    dimension side is replicated once per salt value (explode over
    0..15), so the join key becomes (event_type, salt) and each hot key
    spreads over 16 partitions. The salt is an implementation detail: every
    fact row still matches exactly one dim replica, so the output is
    row-identical to the unsalted join and shares its oracle.

    The shuffle_hash hint keeps the dim on the shuffle path on purpose —
    at fixture scale Catalyst would broadcast it (the right call for a
    5-row dim, and ``join_broadcast`` covers it). This operator is the
    100 TB lever for the OTHER case: a dimension too large to broadcast
    joined on a skewed key — e.g. a multi-GB per-domain stats table joined
    to a crawl on domain, where 'en.wikipedia.org' is 1000× the median.
    AQE's skew-join split only kicks in for sort-merge joins after stats
    are observed; pre-salting handles the first shuffle and keys whose
    skew AQE underestimates. The replicate factor scales the dim 16× —
    chosen so each replica partition still fits a hash build.
    type_sum is an exact-decimal sum surfaced as double (canonical
    money_sum), and value / type_sum is IEEE double division — both
    bit-identical cross-engine, so the join stays fully hash-checkable."""
    ev = load(spark, sf_dir, "events")
    dim = ev.groupBy("event_type").agg(
        F.count("*").alias("type_n"),
        money_sum("value", "type_sum"),
    )
    joined = salted_join(ev, dim, ["event_type"], "event_id", _SKEW_JOIN_SALT)
    # try_divide, not `/`: an event_type whose values sum to exactly 0 is
    # legal data, and ANSI division ABORTS the whole job on it (caught by
    # the r12 relational fuzz). NULL is also DuckDB's x/0 answer, so the
    # oracle's plain division stays byte-identical.
    return joined.select(
        "event_id",
        "event_type",
        "type_n",
        F.try_divide(F.col("value"), F.col("type_sum")).alias("value_share"),
    )


# ---------------------------------------------------------------------------
# s_stream_stream — stream-stream inner band join
# ---------------------------------------------------------------------------

_STREAM_STREAM_ORACLE = """
SELECT p.event_id AS purchase_id,
       v.event_id AS view_id,
       p.user_id AS user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts
FROM events p JOIN events v
  ON p.user_id = v.user_id
 AND p.event_type = 'purchase' AND v.event_type = 'view'
 AND v.ts <= p.ts AND v.ts > p.ts - INTERVAL 6 HOUR
"""


@query("s_stream_stream", oracle=_STREAM_STREAM_ORACLE)
def s_stream_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases joined to the same user's views
    from the preceding 6 hours, both sides read as streams. Inner
    stream-stream joins buffer both inputs in state and emit every match
    exactly once whatever the micro-batch boundaries, so the full-replay
    result equals the batch twin — the one stream-stream shape that stays
    fully hash-checkable. Production bounds the state buffers with
    watermarks + time-range conditions (the range condition here already
    lets Spark evict views older than the 6 h horizon once a watermark is
    present); the finite fixture replay needs none for correctness."""
    from ..streaming.stream_ops import _events_stream, _run_to_memory

    ev_p = _events_stream(spark, sf_dir)
    ev_v = _events_stream(spark, sf_dir)
    p = ev_p.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    v = ev_v.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    j = p.join(
        v,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") > F.col("p_ts") - F.expr("INTERVAL 6 HOURS")),
    ).select(
        "purchase_id",
        "view_id",
        F.col("p_user").alias("user_id"),
        ts_str("p_ts", "purchase_ts"),
        ts_str("v_ts", "view_ts"),
    )
    return _run_to_memory(j, "s_stream_stream", "append")


# ---------------------------------------------------------------------------
# x_pack_sequences — LLM training sequence packing (cumsum binning)
# ---------------------------------------------------------------------------

_PACK_ORACLE = """
WITH t AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER % 16
           AS shard_id,
         len(string_split(text, ' ')) AS n_tok
  FROM documents
),
c AS (
  SELECT lang, shard_id, doc_id, n_tok,
         SUM(n_tok) OVER (PARTITION BY lang, shard_id ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM t
)
SELECT lang, shard_id,
       CAST(FLOOR((cum - n_tok) / 2048.0) AS BIGINT) AS seq_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS seq_tokens
FROM c GROUP BY lang, shard_id, seq_id
"""


@query("x_pack_sequences", oracle=_PACK_ORACLE)
def x_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: assign documents to ≤2048-token
    training sequences by a running token count within each (lang, shard)
    block (cumulative-sum binning — the streaming-friendly, deterministic
    approximation of bin packing: a doc starts a new sequence exactly when
    the running total before it has crossed the next 2048 boundary).
    The block key is (lang, md5-mod-16 shard), NOT lang alone: a 5-language
    corpus would otherwise funnel 100 TB through 5 window partitions. The
    deterministic shard (same primitive as x_shard_balance) multiplies the
    parallelism by 16× — at larger scale the modulus grows with the
    corpus — while every emitted sequence still respects the 2048 cap
    (packing quality is unchanged; only which bin a doc lands in moves).
    One exchange on the composite key; no global sort. Determinism
    precondition (r16 window-ordering audit): doc_id is the table's
    unique non-null key — tied or NULL doc_ids would make the ROWS-frame
    cumsum order-dependent on BOTH engines (the same scaffolding contract
    as the r13 derived-id injectivity note, SURVEY §7.9)."""
    d = load(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 16
    )
    t = d.select(
        "doc_id",
        "lang",
        shard.alias("shard_id"),
        F.size(F.split("text", " ")).alias("n_tok"),
    )
    w = (
        Window.partitionBy("lang", "shard_id")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = t.withColumn("cum", F.sum("n_tok").over(w))
    return (
        c.withColumn(
            "seq_id",
            F.floor((F.col("cum") - F.col("n_tok")) / F.lit(2048.0)).cast("bigint"),
        )
        .groupBy("lang", "shard_id", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("seq_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# scan_orc — ORC round-trip fidelity (second columnar format)
# ---------------------------------------------------------------------------

_ORC_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
"""


@query("scan_orc", oracle=_ORC_ORACLE)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC as the second columnar format: the events table is written to
    ORC once per source dataset (artifacts.ensure_artifact owns keying,
    content-fingerprint staleness, and atomic publish) and the query reads
    it BACK — the oracle aggregates the original parquet, so a pass proves
    lossless round-trip fidelity (int64, double, string) plus working
    pushdown/pruning through Spark's ORC reader. ORC rides the same
    vectorized + whole-stage-codegen path as parquet, so every scale
    property (predicate pushdown, column pruning, partition pruning)
    transfers unchanged."""

    def build(tmp: str) -> None:
        (
            load(spark, sf_dir, "events")
            .select("event_id", "event_type", "value")
            .write.mode("overwrite")
            .orc(tmp)
        )

    loc, _ = ensure_artifact(spark, sf_dir, "events_orc", ["events.parquet"], build)
    return (
        spark.read.orc(loc)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# agg_reaggregate — day rollup computed FROM hourly partials
# ---------------------------------------------------------------------------

_REAGG_ORACLE = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY day
"""


@query("agg_reaggregate", oracle=_REAGG_ORACLE)
def agg_reaggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup reuse (the continuous-aggregate / hypertable
    pattern): the DAY totals are computed FROM the HOURLY partial
    aggregate, never from raw events — counts add and exact decimal sums
    re-aggregate losslessly, so the result is bit-identical to the
    direct day aggregation the oracle runs. The load-bearing detail: the
    hourly partial keeps its sum as DECIMAL (casting to double at the
    hour grain would re-introduce order-dependent rounding at the day
    re-agg). At 100 TB this is the materialized-rollup lever: the hourly
    table is ~10⁴× smaller than raw events, and every coarser rollup
    (day/week/month) re-aggregates partials in milliseconds."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_dec"),
    )
    return (
        hourly.groupBy(
            F.date_format(F.date_trunc("day", "hour"), "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_dec").cast("double").alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# x_zorder — Z-order (Morton) clustering key + pruning effectiveness (round 5)
# ---------------------------------------------------------------------------

_ZORDER_ORACLE = """
WITH ranked AS (
  SELECT event_id,
         CAST(user_id % 256 AS BIGINT) AS ux,
         -- explicit FLOOR: DuckDB's // on DOUBLE does not floor, and its
         -- double->int CAST rounds where Spark's truncates
         CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) % 256 AS ty
  FROM events
),
z AS (
  SELECT event_id, ux, ty,
         -- fully parenthesized + summed: DuckDB's << / | precedence
         -- differs from Spark SQL's, and the disjoint bit terms sum
         -- identically to their OR
         (SELECT SUM((((ux >> i.i) & 1) << (2 * i.i))
                     + (((ty >> i.i) & 1) << ((2 * i.i) + 1)))
          FROM (SELECT unnest(range(0, 8)) AS i) i) AS zval
  FROM ranked
),
f AS (
  -- NULLS LAST pinned (r14 events fuzz): a NULL user_id makes zval NULL
  -- and the engines' bare-ASC defaults are opposite, shifting every
  -- file assignment by the NULL-row count
  SELECT *, ntile(16) OVER (ORDER BY zval NULLS LAST, event_id) AS file_id
  FROM z
)
SELECT CAST(file_id AS BIGINT) AS file_id, COUNT(*) AS n_rows,
       MIN(ux) AS min_u, MAX(ux) AS max_u,
       MIN(ty) AS min_t, MAX(ty) AS max_t,
       CAST((MAX(ux) - MIN(ux) + 1) * (MAX(ty) - MIN(ty) + 1) AS BIGINT)
         AS bbox_area
FROM f GROUP BY file_id
"""


@query("x_zorder", oracle=_ZORDER_ORACLE)
def x_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering: interleave the bits of two 8-bit
    dimension keys (user bucket x hour bucket) into one sort key, split
    the z-sorted rows into 16 'files', and report each file's per-
    dimension min/max bounding box. This is the layout lever behind
    OPTIMIZE ZORDER in lakehouse table formats: sorting by the interleaved
    key keeps BOTH dimensions' footer min/max ranges tight per file, so
    scans filtered on either dimension prune files — a single-column sort
    gives tight boxes in one dimension and full-range boxes in the other
    (visible here: z-ordered bbox_area sums far below a user_id-sorted
    layout's). The interleave is pure integer bit math — identical on
    both engines — and the ntile split carries an event_id tiebreak so
    the file assignment is deterministic.

    Scale note: the global ntile window funnels rows through one
    partition and exists here only because the oracle needs a pinned
    16-file assignment. The production form is
    ``repartitionByRange(n_files, 'zval').sortWithinPartitions('zval')``
    before the write — range boundaries from a sampled sketch, fully
    parallel, same bounding-box property."""
    ev = load(spark, sf_dir, "events")
    ranked = ev.select(
        "event_id",
        (F.col("user_id") % 256).cast("bigint").alias("ux"),
        (F.floor(F.unix_timestamp("ts") / 3600) % 256).cast("bigint").alias("ty"),
    )
    zbits = None
    for i in range(8):
        term = F.expr(
            f"(shiftleft((ux >> {i}) & 1, {2 * i}))"
            f" | (shiftleft((ty >> {i}) & 1, {2 * i + 1}))"
        )
        zbits = term if zbits is None else zbits + term
    z = ranked.withColumn("zval", zbits.cast("bigint"))
    w = Window.orderBy(F.col("zval").asc_nulls_last(), "event_id")
    f = z.withColumn("file_id", F.ntile(16).over(w).cast("bigint"))
    return f.groupBy("file_id").agg(
        F.count("*").alias("n_rows"),
        F.min("ux").alias("min_u"),
        F.max("ux").alias("max_u"),
        F.min("ty").alias("min_t"),
        F.max("ty").alias("max_t"),
        ((F.max("ux") - F.min("ux") + 1) * (F.max("ty") - F.min("ty") + 1))
        .cast("bigint")
        .alias("bbox_area"),
    )


# ---------------------------------------------------------------------------
# x_gapfill — hourly calendar densification + last-observation-carried-forward
# ---------------------------------------------------------------------------

_GAPFILL_ORACLE = """
WITH bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
  FROM events WHERE event_type = 'purchase'
),
cal AS (
  SELECT t.ts AS bucket FROM bounds,
         LATERAL unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS t(ts)
),
hourly AS (
  SELECT date_trunc('hour', ts) AS bucket,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
  FROM events WHERE event_type = 'purchase'
  GROUP BY date_trunc('hour', ts)
),
joined AS (
  SELECT c.bucket, h.sum_value,
         CASE WHEN h.bucket IS NULL THEN 1 ELSE 0 END AS filled
  FROM cal c LEFT JOIN hourly h ON h.bucket = c.bucket
)
SELECT bucket,
       COALESCE(sum_value,
                LAST_VALUE(sum_value IGNORE NULLS)
                  OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW)) AS sum_value,
       CAST(filled AS INT) AS filled
FROM joined
"""


@query("x_gapfill", oracle=_GAPFILL_ORACLE)
def x_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: densify the hourly purchase aggregate onto
    a complete calendar (bounds → in-plan sequence explode, the
    recon_partition_complete pattern) and fill the holes by carrying the
    last observation forward — last_value(ignorenulls) over an ordered
    window, the hypertable locf/gapfill composite. Each filled row is
    flagged so downstream consumers can tell measured from imputed.

    Scale: the calendar is bounds-derived (two scalars), the hourly agg
    is two-phase decimal-exact, and in production the LOCF window
    partitions by series key (one global series here, matching the
    single-series oracle) so state never crosses series."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    # `present` marks row-EXISTENCE through the calendar join: `filled`
    # must flag rows the calendar synthesized, and testing sum_value
    # IS NULL instead conflated them with MEASURED buckets whose every
    # purchase carries a NULL value (r14 events soak — the oracle's
    # h.bucket IS NULL got that row right, this plan flagged it imputed)
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("bucket")).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value")
    ).withColumn("present", F.lit(1))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    cal = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("bucket")
    )
    joined = cal.join(hourly, "bucket", "left").withColumn(
        "filled", F.when(F.col("present").isNull(), 1).otherwise(0).cast("int")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return joined.select(
        "bucket",
        F.coalesce(
            "sum_value", F.last("sum_value", ignorenulls=True).over(w)
        ).alias("sum_value"),
        "filled",
    )
