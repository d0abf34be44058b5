"""Join operators (SURVEY.md §2c).

Scale notes per operator: fact⋈fact joins (orders⋈lineitem) shuffle on the
join key and rely on AQE skew handling; fact⋈dim joins broadcast the dim
explicitly (`F.broadcast`) — at 100 TB the dims here (region/nation/part/
supplier/customer) stay orders of magnitude smaller than the facts. The
as-of join is the linear union+window formulation (no join node at all);
the banded self join equi-joins on a composite (user_id, time-bucket) key
so the band filter only ever sees a bounded candidate window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..canonical import money_sum, money_sum_sql, ts_str
from ..catalog import load, local_frame
from ..registry import query

# ---------------------------------------------------------------------------
# join_inner — FK equi join
# ---------------------------------------------------------------------------

_INNER_ORACLE = """
SELECT o.o_orderkey, o.o_totalprice, c.c_custkey, c.c_name, c.c_mktsegment
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_orderstatus = 'O'
"""


@query("join_inner", oracle=_INNER_ORACLE)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join orders→customer; Spark picks broadcast/SMJ via AQE."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    c = load(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment"
    )


# ---------------------------------------------------------------------------
# join_broadcast — explicit broadcast hash join, no shuffle of the fact side
# ---------------------------------------------------------------------------

_BROADCAST_ORACLE = f"""
SELECT p.p_brand AS p_brand,
       COUNT(*) AS n_lines,
       {money_sum_sql('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
"""


@query("join_broadcast", oracle=_BROADCAST_ORACLE)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast the part dim into the lineitem scan: the fact side never
    shuffles for the join, only for the (much smaller) brand aggregation."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_lines"),
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        )
    )


# ---------------------------------------------------------------------------
# join_outer — full outer with coalesced keys (recon row-diff backbone)
# ---------------------------------------------------------------------------

_OUTER_ORACLE = """
SELECT o.o_orderkey AS o_orderkey,
       o.o_orderstatus AS o_orderstatus,
       COALESCE(l.n_lines, 0) AS n_lines
FROM orders o LEFT OUTER JOIN (
  SELECT l_orderkey, COUNT(*) AS n_lines FROM lineitem GROUP BY l_orderkey
) l ON o.o_orderkey = l.l_orderkey
"""


@query("join_outer", oracle=_OUTER_ORACLE)
def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeping orders with zero lineitems (257 at sf0.01)."""
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.count("*").alias("cnt")
    )
    return o.join(l, o.o_orderkey == l.l_orderkey, "left_outer").select(
        "o_orderkey",
        "o_orderstatus",
        F.coalesce("cnt", F.lit(0)).alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# join_semi / join_anti — key-presence checks (THE recon ops)
# ---------------------------------------------------------------------------

_SEMI_ORACLE = """
SELECT o_orderkey, o_totalprice FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
  AND o.o_totalprice > 300000.0
"""


@query("join_semi", oracle=_SEMI_ORACLE)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi: orders that have at least one line item."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000.0)
    li = load(spark, sf_dir, "lineitem")
    return o.join(li, o.o_orderkey == li.l_orderkey, "left_semi").select(
        "o_orderkey", "o_totalprice"
    )


_ANTI_ORACLE = """
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
"""


@query("join_anti", oracle=_ANTI_ORACLE)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti: orders with no line items — guaranteed 257 rows at sf0.01
    (FIXTURES.md integrity facts). At 100 TB this is a sort-merge anti join
    on the shuffle key, never a broadcast (both sides fact-sized)."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return o.join(li, o.o_orderkey == li.l_orderkey, "left_anti").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


# ---------------------------------------------------------------------------
# join_theta — non-equi banded join
# ---------------------------------------------------------------------------

_THETA_ORACLE = """
WITH bands(band, lo, hi) AS (
  VALUES ('p00_050', 0.0, 50.0), ('p050_100', 50.0, 100.0),
         ('p100_200', 100.0, 200.0), ('p200_400', 200.0, 400.0),
         ('p400_inf', 400.0, 1e18)
)
SELECT b.band AS band, e.event_type AS event_type, COUNT(*) AS n
FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
GROUP BY b.band, e.event_type
"""


@query("join_theta", oracle=_THETA_ORACLE)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (range-band) join: events bucketed into value bands. The band
    table is a broadcast nested-loop side — tiny by construction, which is
    the only shape where a BNL join is acceptable at scale."""
    e = load(spark, sf_dir, "events")
    bands = local_frame(
        spark,
        [
            ("p00_050", 0.0, 50.0),
            ("p050_100", 50.0, 100.0),
            ("p100_200", 100.0, 200.0),
            ("p200_400", 200.0, 400.0),
            ("p400_inf", 400.0, 1e18),
        ],
        "band string, lo double, hi double",
    )
    return (
        e.join(F.broadcast(bands), (e.value >= bands.lo) & (e.value < bands.hi))
        .groupBy("band", "event_type")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# join_asof — nearest-earlier-event join (cross-checked vs DuckDB ASOF JOIN)
# ---------------------------------------------------------------------------

# Explicit argmax over (ts, event_id), NOT DuckDB's native ASOF JOIN: when
# several prior events share the same ts, ASOF's pick among them is
# unspecified, so the tie rule must be pinned identically on both engines
# (largest event_id among the latest-ts prior events — the same rule the
# Spark window's (ts, side, ev_id) ordering yields).
_ASOF_ORACLE = """
WITH ranked AS (
  SELECT p.event_id AS purchase_id,
         p.user_id AS user_id,
         p.ts AS p_ts,
         e.event_id AS prior_event_id,
         e.event_type AS prior_type,
         row_number() OVER (PARTITION BY p.event_id
                            ORDER BY e.ts DESC, e.event_id DESC) AS rn
  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
  JOIN (SELECT * FROM events WHERE event_type <> 'purchase') e
    ON p.user_id = e.user_id AND e.ts < p.ts
)
SELECT purchase_id, user_id,
       strftime(p_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       prior_event_id, prior_type
FROM ranked WHERE rn = 1
"""


@query("join_asof", oracle=_ASOF_ORACLE)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the latest earlier non-purchase event
    by the same user. Spark lacks a native as-of join; instead of the naive
    range join + top-1 (candidates = O(purchases × events-per-user), a
    blowup at long per-user histories), both sides go through ONE ts-ordered
    window per user: tag each row purchase/event, sort by (ts, side), and
    carry the last non-null event forward with ``last(..., ignorenulls)``
    over ``rowsBetween(unboundedPreceding, -1)``. Strictly linear — one
    shuffle on user_id, no join at all. Purchases sort before events at
    equal ts so the `e.ts < p.ts` strict inequality holds, and among
    equal-ts prior events the largest event_id wins (the window orders by
    (ts, side, ev_id), so the frame's last non-null is that argmax). The
    oracle pins the identical (ts DESC, event_id DESC) argmax explicitly
    rather than relying on ASOF JOIN's unspecified tie choice."""
    ev = load(spark, sf_dir, "events")
    is_p = F.col("event_type") == "purchase"
    u = ev.select(
        "user_id",
        "ts",
        # at equal ts the purchase (0) sorts before the event (1), so an
        # event with ts == purchase ts is outside the purchase's frame
        F.when(is_p, F.lit(0)).otherwise(F.lit(1)).alias("side"),
        F.when(is_p, F.col("event_id")).alias("purchase_id"),
        F.when(~is_p, F.col("event_id")).alias("ev_id"),
        F.when(~is_p, F.col("event_type")).alias("ev_type"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("side").asc(), F.asc_nulls_first("ev_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        u.withColumn("prior_event_id", F.last("ev_id", ignorenulls=True).over(w))
        .withColumn("prior_type", F.last("ev_type", ignorenulls=True).over(w))
        .filter(F.col("purchase_id").isNotNull() & F.col("prior_event_id").isNotNull())
        .select(
            "purchase_id",
            "user_id",
            ts_str("ts", "purchase_ts"),
            "prior_event_id",
            "prior_type",
        )
    )


# ---------------------------------------------------------------------------
# join_multiway — star-schema chain (TPC-H style)
# ---------------------------------------------------------------------------

_MULTIWAY_ORACLE = f"""
SELECT r.r_name AS region, n.n_name AS nation,
       COUNT(*) AS n_lines,
       {money_sum_sql('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
"""


@query("join_multiway", oracle=_MULTIWAY_ORACLE)
def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-hop star join: lineitem⋈orders⋈customer⋈nation⋈region → revenue per
    region/nation. orders⋈lineitem shuffles on orderkey; every dim hop is a
    broadcast, so the fact side shuffles exactly once."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_lines"),
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        )
    )


# ---------------------------------------------------------------------------
# join_self — pairwise comparison within one table
# ---------------------------------------------------------------------------

_SELF_ORACLE = """
SELECT a.event_id AS first_id, b.event_id AS next_id,
       a.user_id AS user_id, a.event_type AS first_type, b.event_type AS next_type
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 2 MINUTE
 AND a.event_id <> b.event_id
"""


@query("join_self", oracle=_SELF_ORACLE)
def join_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self join: pairs of events by the same user within 2 minutes —
    pairwise-comparison shape used by dedup and sessionization.

    Scale shape: joining on user_id alone materializes ALL per-user pairs
    before the ±2-minute band filter — quadratic in per-user history and
    skewed. Instead the equi key is the composite (user_id, 2-minute time
    bucket): the left side explodes into its own bucket and the successor
    bucket (the band is forward-only and ≤ one bucket wide, so b's bucket
    is a's or a's+1 — each qualifying pair matches exactly once, no dedup
    needed), the join is a plain equi join on (user_id, bucket), and the
    band predicate only ever sees candidates from a bounded 2-minute
    window. Intermediate size is O(events per 2-minute bucket), not
    O(events per user²)."""
    ev = load(spark, sf_dir, "events")
    bucket = F.floor(F.unix_timestamp("ts") / F.lit(120))
    a = (
        ev.withColumn("jb", F.explode(F.array(bucket, bucket + 1)))
        .alias("a")
    )
    b = ev.withColumn("jb", bucket).alias("b")
    return a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.jb") == F.col("b.jb"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 2 MINUTE"))
        & (F.col("a.event_id") != F.col("b.event_id")),
    ).select(
        F.col("a.event_id").alias("first_id"),
        F.col("b.event_id").alias("next_id"),
        F.col("a.user_id").alias("user_id"),
        F.col("a.event_type").alias("first_type"),
        F.col("b.event_type").alias("next_type"),
    )


# ---------------------------------------------------------------------------
# join_range — point-in-interval join via bucketed interval explode
# ---------------------------------------------------------------------------

_RANGE_ORACLE = """
WITH w AS (
  SELECT i AS window_id,
         TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 7 HOUR AS lo,
         TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 7 HOUR
           + INTERVAL 3 HOUR AS hi
  FROM (SELECT unnest(range(0, 100)) AS i)
)
SELECT w.window_id,
       COUNT(e.event_id) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM w JOIN events e ON e.ts >= w.lo AND e.ts < w.hi
GROUP BY w.window_id
"""


@query("join_range", oracle=_RANGE_ORACLE)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join executed as an EQUI join: each interval
    explodes into the hour buckets it covers, each point computes its
    single hour bucket, they equi-join on the bucket, and the residual
    range predicate filters within the bucket. An event's bucket is
    unique, so every (event, window) pair matches at most once — no
    post-join dedup. This is the scale pattern for the case join_theta's
    broadcast BNL cannot handle: when the interval side is too big to
    broadcast, bucketing turns the O(n·m) range join into a shuffle
    hash/merge join whose cost tracks true overlap density. Interval
    construction is in-plan (sequence + explode), never a driver loop.

    The grid width is chosen FROM the interval-length statistics (mean
    length rounded to whole hours, floor 1h) rather than fixed: a grid
    much finer than the intervals multiplies the exploded interval rows
    (24× for 1-day intervals on an hourly grid), one much coarser packs
    many events per bucket and the residual filter does the work the join
    key should have. Sizing the grid to the data keeps each interval at
    <= 2 bucket rows at any interval scale. The stat is a single-row
    aggregate over the dimension-sized interval table read driver-side —
    the same cardinality-statistic pattern a cost-based optimizer uses to
    pick a physical plan."""
    ev = load(spark, sf_dir, "events")
    t0 = F.lit("2024-01-01 00:00:00").cast("timestamp")
    w = (
        spark.range(100)
        .select(
            F.col("id").cast("int").alias("window_id"),
            (t0 + F.col("id") * F.expr("INTERVAL 7 HOURS")).alias("lo"),
            (
                t0
                + F.col("id") * F.expr("INTERVAL 7 HOURS")
                + F.expr("INTERVAL 3 HOURS")
            ).alias("hi"),
        )
    )
    avg_len_s = w.agg(
        F.avg(F.unix_timestamp("hi") - F.unix_timestamp("lo")).alias("s")
    ).first()["s"]
    width_s = 3600 * max(1, round(avg_len_s / 3600))  # fixture: 3h intervals → 3h grid
    bucket_of = lambda c: F.floor(F.unix_timestamp(c) / width_s)  # noqa: E731
    # interval side: one row per covered grid cell (end exclusive, so an
    # interval ending exactly on a cell boundary contributes no row there)
    wb = w.select(
        "window_id",
        "lo",
        "hi",
        F.explode(
            F.sequence(
                bucket_of("lo"),
                bucket_of(F.col("hi") - F.expr("INTERVAL 1 SECOND")),
            )
        ).alias("bucket"),
    )
    eb = ev.select("event_id", "value", "ts", bucket_of("ts").alias("bucket"))
    j = eb.join(wb, "bucket").filter(
        (F.col("ts") >= F.col("lo")) & (F.col("ts") < F.col("hi"))
    )
    return j.groupBy("window_id").agg(
        F.count("event_id").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )
