"""Reconciliation composites (SURVEY.md §2i) — the reference's signature
surface: the queries a Hive-data-reconciliation tool generates to verify that
a target table matches its source after an ETL load.

The reference genre emits per-check HiveQL and compares result sets in
Python; here each check IS a single declarative DataFrame expression, so the
comparison itself runs distributed and the report is itself a DataFrame
(DuckDB-oracle-checkable). At 100 TB every check below stays algebraic:
counts/sums/min/max/distinct fingerprints are partially aggregatable
(map-side combine), every per-grain compare of the two sides (row counts,
key diff, partition drill-down, null profile) is one union-tagged aggregate
(:func:`plans.api.compare_sides`: one shuffle, no join), and partition
drill-down bounds recompute blast radius to one partition. The
row-level checks (row counts, column fingerprints, key diff, duplicate keys,
row hash, cell diff, tolerance) are calls on :class:`plans.api.ReconPair`
over the standard pair (:func:`plans.api.orders_pair`); each query keeps
only its fixed metric names, columns and casts in a final select.

Source side = ``orders``; target side = a deterministic in-query perturbation
of orders (FIXTURES.md §B.2): per o_orderkey % 1000 — 7 → row dropped,
13 → o_totalprice drifted +1.0, 21 → row duplicated, 34 → o_orderpriority
nulled. Fault counts are exact functions of key arithmetic, which the
metamorphic tests in tests/test_recon_properties.py assert.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..canonical import (
    MONEY_SCALE,
    canonical_row_hash_sql,
    dround,
    money_sum,
    money_sum_sql,
)
from ..catalog import load, local_frame
from ..registry import query

# ---------------------------------------------------------------------------
# derived target fixture (FIXTURES.md §B.2) — built in-query, deterministic
# ---------------------------------------------------------------------------


def orders_target(orders: DataFrame, faulty: bool = True) -> DataFrame:
    """Target-side copy of orders; ``faulty=True`` injects the known faults.

    One scan of ``orders``: the duplicate-key fault is an
    ``explode(sequence(1, copies))`` over the perturbed row (copies = 2 for
    the %1000==21 keys), so each reference to the target in a consumer's
    plan reads the source once. Both copies are the same perturbed row,
    so the row multiset equals that of the DuckDB twin
    (:data:`ORDERS_TGT_CTE`, a UNION ALL); only row adjacency differs, and
    every consumer is order-insensitive (aggregates, joins, DISTINCT,
    md5-prefix sampling, smallest-hash survivors whose ties are identical
    rows)."""
    if not faulty:
        return orders
    kept = orders.filter(F.col("o_orderkey") % 1000 != 7)
    perturbed = kept.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 1000 == 13, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderdate",
        F.when(F.col("o_orderkey") % 1000 == 34, F.lit(None).cast("string"))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
    )
    copies = F.when(F.col("o_orderkey") % 1000 == 21, 2).otherwise(1)
    return (
        perturbed.withColumn("_copy_i", F.explode(F.sequence(F.lit(1), copies)))
        .drop("_copy_i")
    )


#: DuckDB CTE twin of :func:`orders_target` (faulty). Prepend to oracle SQL.
ORDERS_TGT_CTE = """
WITH orders_tgt AS (
  SELECT * FROM (
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderkey % 1000 = 13 THEN o_totalprice + 1.0
                ELSE o_totalprice END AS o_totalprice,
           o_orderdate,
           CASE WHEN o_orderkey % 1000 = 34 THEN NULL
                ELSE o_orderpriority END AS o_orderpriority
    FROM orders WHERE o_orderkey % 1000 <> 7
  )
  UNION ALL
  SELECT * FROM (
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderkey % 1000 = 13 THEN o_totalprice + 1.0
                ELSE o_totalprice END AS o_totalprice,
           o_orderdate,
           CASE WHEN o_orderkey % 1000 = 34 THEN NULL
                ELSE o_orderpriority END AS o_orderpriority
    FROM orders WHERE o_orderkey % 1000 <> 7 AND o_orderkey % 1000 = 21
  )
)
"""

#: canonical hash column recipe shared by rowhash/celldiff ops
_ORDER_HASH_COLS = [
    ("o_orderkey", "int"),
    ("o_custkey", "int"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "double"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "string"),
]


# ---------------------------------------------------------------------------
# recon_order_totals — FLAGSHIP (SURVEY.md §7.2)
# ---------------------------------------------------------------------------

_ORDER_TOTALS_ORACLE = """
WITH gross AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                       AS DECIMAL(18,6))) AS DOUBLE) AS line_total
  FROM lineitem GROUP BY l_orderkey
)
SELECT COALESCE(o.o_orderkey, g.l_orderkey) AS orderkey,
       o.o_totalprice AS o_totalprice,
       g.line_total AS line_total,
       CAST(ROUND(CAST(COALESCE(o.o_totalprice, 0) - COALESCE(g.line_total, 0) AS DECIMAL(28,6)), 2) AS DOUBLE) AS diff,
       CASE WHEN g.line_total IS NULL THEN 'MISSING_IN_LINEITEM'
            WHEN ABS(o.o_totalprice - g.line_total) <= 0.01 THEN 'MATCH'
            ELSE 'VALUE_DIFF' END AS status
FROM orders o FULL OUTER JOIN gross g ON o.o_orderkey = g.l_orderkey
"""


@query("recon_order_totals", oracle=_ORDER_TOTALS_ORACLE)
def recon_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: does each order header total match the sum of its line
    gross amounts? Exercises scan, arithmetic, exact-decimal agg, full-outer
    join, coalesce/when — and the 257 lineitem-less orders give guaranteed
    non-trivial MISSING rows (FIXTURES.md §A integrity facts)."""
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    gross = lineitem.groupBy("l_orderkey").agg(
        money_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")),
            "line_total",
        )
    )
    joined = orders.join(gross, orders.o_orderkey == gross.l_orderkey, "full_outer")
    return joined.select(
        F.coalesce("o_orderkey", "l_orderkey").alias("orderkey"),
        F.col("o_totalprice").alias("o_totalprice"),
        F.col("line_total").alias("line_total"),
        dround(
            F.coalesce("o_totalprice", F.lit(0.0)) - F.coalesce("line_total", F.lit(0.0)), 2
        ).alias("diff"),
        F.when(F.col("line_total").isNull(), "MISSING_IN_LINEITEM")
        .when(F.abs(F.col("o_totalprice") - F.col("line_total")) <= 0.01, "MATCH")
        .otherwise("VALUE_DIFF")
        .alias("status"),
    )


# ---------------------------------------------------------------------------
# recon_rowcount — per-grain row counts both sides + diff + flag
# ---------------------------------------------------------------------------

_ROWCOUNT_ORACLE = ORDERS_TGT_CTE + """
, s AS (SELECT o_orderstatus, COUNT(*) AS src_cnt FROM orders GROUP BY o_orderstatus),
  t AS (SELECT o_orderstatus, COUNT(*) AS tgt_cnt FROM orders_tgt GROUP BY o_orderstatus)
SELECT COALESCE(s.o_orderstatus, t.o_orderstatus) AS grain,
       COALESCE(s.src_cnt, 0) AS src_cnt,
       COALESCE(t.tgt_cnt, 0) AS tgt_cnt,
       COALESCE(s.src_cnt, 0) - COALESCE(t.tgt_cnt, 0) AS diff,
       CASE WHEN COALESCE(s.src_cnt, 0) = COALESCE(t.tgt_cnt, 0)
            THEN 'MATCH' ELSE 'COUNT_DIFF' END AS status
FROM s FULL OUTER JOIN t ON s.o_orderstatus = t.o_orderstatus
"""


@query("recon_rowcount", oracle=_ROWCOUNT_ORACLE)
def recon_rowcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE first recon check: per-partition-grain row counts, both sides.
    The grain column is reported as ``grain``."""
    from .api import orders_pair  # not at module top: api registers after recon

    return orders_pair(load(spark, sf_dir, "orders")).row_counts(
        "o_orderstatus"
    ).withColumnRenamed("o_orderstatus", "grain")


# ---------------------------------------------------------------------------
# recon_colfp — per-column fingerprints both sides, unpivoted to metric rows
# ---------------------------------------------------------------------------

#: ReconPair.fingerprints() metric → recon_colfp's metric name
_COLFP_METRICS = {
    "row_count": "row_count",
    "sum__o_totalprice": "sum_totalprice",
    "min__o_totalprice": "min_totalprice",
    "max__o_totalprice": "max_totalprice",
    "distinct__o_custkey": "distinct_custkey",
    "nulls__o_orderpriority": "null_orderpriority",
}

_FP_SIDE_SQL = """
SELECT CAST(COUNT(*) AS DOUBLE) AS row_count,
       {sum_sql},
       MIN(o_totalprice) AS min_totalprice,
       MAX(o_totalprice) AS max_totalprice,
       CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) AS distinct_custkey,
       CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         AS null_orderpriority
FROM {table}
"""


def _fp_unpivot_sql(side_cte: str) -> str:
    return " UNION ALL ".join(
        f"SELECT '{m}' AS metric, {m} AS val FROM {side_cte}"
        for m in _COLFP_METRICS.values()
    )


_COLFP_ORACLE = ORDERS_TGT_CTE + f"""
, sfp AS ({_FP_SIDE_SQL.format(table='orders', sum_sql=money_sum_sql('o_totalprice', 'sum_totalprice'))}),
  tfp AS ({_FP_SIDE_SQL.format(table='orders_tgt', sum_sql=money_sum_sql('o_totalprice', 'sum_totalprice'))}),
  su AS ({_fp_unpivot_sql('sfp')}),
  tu AS ({_fp_unpivot_sql('tfp')})
SELECT su.metric AS metric,
       CAST(ROUND(CAST(su.val AS DECIMAL(28,6)), 4) AS DOUBLE) AS src_val,
       CAST(ROUND(CAST(tu.val AS DECIMAL(28,6)), 4) AS DOUBLE) AS tgt_val,
       CAST(ROUND(CAST(su.val - tu.val AS DECIMAL(28,6)), 4) AS DOUBLE) AS diff,
       CASE WHEN su.val IS NOT DISTINCT FROM tu.val OR ABS(su.val - tu.val) < 1e-9
            THEN 'MATCH' ELSE 'FP_DIFF' END AS status
FROM su JOIN tu ON su.metric = tu.metric
"""


@query("recon_colfp", oracle=_COLFP_ORACLE)
def recon_colfp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-fingerprint reconciliation: (count, sum, min, max, distinct,
    nulls) per side, one output row per metric with diff + flag. Six rows
    of ``ReconPair.fingerprints()``, renamed; a metric NULL on both sides
    (sum, min or max of an all-NULL column) is a MATCH."""
    from .api import orders_pair

    fp = orders_pair(load(spark, sf_dir, "orders")).fingerprints()
    return fp.filter(F.col("metric").isin(*_COLFP_METRICS)).replace(
        _COLFP_METRICS, subset=["metric"]
    )


# ---------------------------------------------------------------------------
# recon_keys_missing — key-set diff, both directions
# ---------------------------------------------------------------------------

_KEYS_MISSING_ORACLE = ORDERS_TGT_CTE + """
SELECT o_orderkey, 'MISSING_IN_TARGET' AS side
FROM (SELECT DISTINCT o_orderkey FROM orders
      EXCEPT SELECT DISTINCT o_orderkey FROM orders_tgt)
UNION ALL
SELECT o_orderkey, 'MISSING_IN_SOURCE' AS side
FROM (SELECT DISTINCT o_orderkey FROM orders_tgt
      EXCEPT SELECT DISTINCT o_orderkey FROM orders)
"""


@query("recon_keys_missing", oracle=_KEYS_MISSING_ORACLE)
def recon_keys_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keys present on one side only, from one union-tagged per-key count
    of both sides (``ReconPair.key_diff``): one shuffle on the key, and no
    join, so neither fact-sized side is ever broadcast."""
    from .api import orders_pair

    return orders_pair(load(spark, sf_dir, "orders")).key_diff()


# ---------------------------------------------------------------------------
# recon_keys_dup — duplicate-key audit per side
# ---------------------------------------------------------------------------

_KEYS_DUP_ORACLE = ORDERS_TGT_CTE + """
SELECT 'target' AS side, o_orderkey, COUNT(*) AS cnt
FROM orders_tgt GROUP BY o_orderkey HAVING COUNT(*) > 1
UNION ALL
SELECT 'source' AS side, o_orderkey, COUNT(*) AS cnt
FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1
"""


@query("recon_keys_dup", oracle=_KEYS_DUP_ORACLE)
def recon_keys_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keys appearing more than once per side (source is clean by fixture
    design, so only injected target dups appear)."""
    from .api import orders_pair

    return orders_pair(load(spark, sf_dir, "orders")).duplicate_keys()


# ---------------------------------------------------------------------------
# recon_rowhash — md5 canonical row fingerprint diff
# ---------------------------------------------------------------------------

_ROWHASH_ORACLE = ORDERS_TGT_CTE + f"""
, sh AS (SELECT o_orderkey, {canonical_row_hash_sql(_ORDER_HASH_COLS)} AS h FROM orders),
  th AS (SELECT DISTINCT o_orderkey, {canonical_row_hash_sql(_ORDER_HASH_COLS)} AS h
         FROM orders_tgt)
SELECT sh.o_orderkey AS o_orderkey, sh.h AS src_hash, th.h AS tgt_hash
FROM sh JOIN th ON sh.o_orderkey = th.o_orderkey
WHERE sh.h <> th.h
"""


@query("recon_rowhash", oracle=_ROWHASH_ORACLE)
def recon_rowhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-hash diff: md5 over the canonical serialization of every compare
    column; emit keys whose hash differs between sides. The hash recipe
    (canonical.py) is the one thing Spark and DuckDB share (md5+text), and at
    scale it reduces a wide-row compare to an 8-byte-ish shuffle key."""
    from .api import orders_pair

    return orders_pair(load(spark, sf_dir, "orders")).row_hash_diff()


# ---------------------------------------------------------------------------
# recon_celldiff — cell-level mismatch report
# ---------------------------------------------------------------------------

_CELLDIFF_ORACLE = ORDERS_TGT_CTE + """
, j AS (
  SELECT s.o_orderkey AS k,
         CAST(CAST(s.o_totalprice AS DECIMAL(28,6)) AS VARCHAR) AS s_price,
         CAST(CAST(t.o_totalprice AS DECIMAL(28,6)) AS VARCHAR) AS t_price,
         s.o_orderpriority AS s_prio, t.o_orderpriority AS t_prio
  FROM orders s JOIN (SELECT DISTINCT * FROM orders_tgt) t
    ON s.o_orderkey = t.o_orderkey
)
SELECT k AS o_orderkey, col_name, src_val, tgt_val FROM (
  SELECT k, 'o_totalprice' AS col_name, s_price AS src_val, t_price AS tgt_val,
         (s_price IS DISTINCT FROM t_price) AS differs FROM j
  UNION ALL
  SELECT k, 'o_orderpriority', s_prio, t_prio,
         (s_prio IS DISTINCT FROM t_prio) FROM j
) WHERE differs
"""


@query("recon_celldiff", oracle=_CELLDIFF_ORACLE)
def recon_celldiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For key-matched rows: one output row per differing column —
    (key, column, source value, target value), values as canonical text
    so mixed column types share one report schema."""
    from .api import ReconPair

    orders = load(spark, sf_dir, "orders")
    return ReconPair(
        orders,
        orders_target(orders),
        ["o_orderkey"],
        {"o_totalprice": "double", "o_orderpriority": "string"},
    ).cell_diff()


# ---------------------------------------------------------------------------
# recon_tolerance — numeric compare within epsilon
# ---------------------------------------------------------------------------

_TOLERANCE_ORACLE = ORDERS_TGT_CTE + """
SELECT s.o_orderkey AS o_orderkey,
       s.o_totalprice AS src_price,
       t.o_totalprice AS tgt_price,
       CAST(ROUND(CAST(ABS(s.o_totalprice - t.o_totalprice) AS DECIMAL(28,6)), 4) AS DOUBLE) AS abs_diff,
       ROUND(ABS(s.o_totalprice - t.o_totalprice)
             / GREATEST(ABS(s.o_totalprice), 1e-12), 6) AS pct_diff
FROM orders s JOIN (SELECT DISTINCT * FROM orders_tgt) t
  ON s.o_orderkey = t.o_orderkey
WHERE ABS(s.o_totalprice - t.o_totalprice) > 0.5
"""


@query("recon_tolerance", oracle=_TOLERANCE_ORACLE)
def recon_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance compare: numeric equality within eps=0.5; report rows that
    exceed it with absolute and relative diff. Each source row is compared
    with its key's target survivor (``ReconPair._per_key``); a NULL price
    on either side is not a tolerance breach."""
    from .api import orders_pair

    pair = orders_pair(load(spark, sf_dir, "orders"))
    s_rows, t_agg = pair._per_key()
    sp, tp = F.col("o_totalprice"), F.col("_tr").getField("o_totalprice")
    return s_rows.join(t_agg, pair.keys).filter(F.abs(sp - tp) > 0.5).select(
        "o_orderkey",
        sp.alias("src_price"),
        tp.alias("tgt_price"),
        dround(F.abs(sp - tp), 4).alias("abs_diff"),
        F.round(F.abs(sp - tp) / F.greatest(F.abs(sp), F.lit(1e-12)), 6).alias("pct_diff"),
    )


# ---------------------------------------------------------------------------
# recon_partition_drill — per-partition fingerprint compare
# ---------------------------------------------------------------------------

_DRILL_ORACLE = ORDERS_TGT_CTE + f"""
, s AS (SELECT date_trunc('month', o_orderdate) AS pmonth, COUNT(*) AS src_cnt,
               {money_sum_sql('o_totalprice', 'src_sum')}
        FROM orders GROUP BY 1),
  t AS (SELECT date_trunc('month', o_orderdate) AS pmonth, COUNT(*) AS tgt_cnt,
               {money_sum_sql('o_totalprice', 'tgt_sum')}
        FROM orders_tgt GROUP BY 1)
SELECT strftime(COALESCE(s.pmonth, t.pmonth), '%Y-%m') AS pmonth,
       COALESCE(s.src_cnt, 0) AS src_cnt, COALESCE(t.tgt_cnt, 0) AS tgt_cnt,
       CAST(ROUND(CAST(COALESCE(s.src_sum, 0) AS DECIMAL(28,6)), 2) AS DOUBLE) AS src_sum,
       CAST(ROUND(CAST(COALESCE(t.tgt_sum, 0) AS DECIMAL(28,6)), 2) AS DOUBLE) AS tgt_sum,
       CASE WHEN COALESCE(s.src_cnt, 0) = COALESCE(t.tgt_cnt, 0)
             AND ABS(COALESCE(s.src_sum, 0) - COALESCE(t.tgt_sum, 0)) < 0.005
            THEN 'MATCH' ELSE 'PARTITION_DIFF' END AS status
FROM s FULL OUTER JOIN t ON s.pmonth = t.pmonth
"""


@query("recon_partition_drill", oracle=_DRILL_ORACLE)
def recon_partition_drill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition drill-down: fingerprints per load-month to localize a bad
    load. The 100-TB play: a mismatched month re-runs one partition's
    recon, not the whole table."""
    from .api import compare_sides

    orders = load(spark, sf_dir, "orders")
    month = F.date_trunc("month", F.col("o_orderdate")).alias("pmonth")
    c = compare_sides(
        orders.select(month, "o_totalprice"),
        orders_target(orders).select(month, "o_totalprice"),
        ["pmonth"],
        cnt=(F.sum, F.lit(1)),
        sum=(F.sum, F.col("o_totalprice").cast(f"decimal(18,{MONEY_SCALE})")),
    )
    scnt = F.coalesce("src_cnt", F.lit(0))
    tcnt = F.coalesce("tgt_cnt", F.lit(0))
    ssum = F.coalesce(F.col("src_sum").cast("double"), F.lit(0.0))
    tsum = F.coalesce(F.col("tgt_sum").cast("double"), F.lit(0.0))
    return c.select(
        F.date_format("pmonth", "yyyy-MM").alias("pmonth"),
        scnt.alias("src_cnt"),
        tcnt.alias("tgt_cnt"),
        dround(ssum, 2).alias("src_sum"),
        dround(tsum, 2).alias("tgt_sum"),
        F.when((scnt == tcnt) & (F.abs(ssum - tsum) < 0.005), "MATCH")
        .otherwise("PARTITION_DIFF")
        .alias("status"),
    )


# ---------------------------------------------------------------------------
# recon_schema — schema/metadata-level compare (the DESCRIBE-driven check)
# ---------------------------------------------------------------------------

#: Spark simpleString → engine-neutral coarse type class. Both engines map
#: into the same class vocabulary so the comparison is about *shape*, not
#: about each engine's type-name spelling (Spark says ``timestamp_ntz``
#: where DuckDB says ``TIMESTAMP`` for the identical parquet column).
_TYPE_CLASS = {
    "tinyint": "integer",
    "smallint": "integer",
    "int": "integer",
    "bigint": "integer",
    "float": "double",
    "double": "double",
    "string": "string",
    "date": "date",
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp",
    "boolean": "boolean",
}


def _type_class(simple: str) -> str:
    if simple.startswith("decimal"):
        return "decimal"
    return _TYPE_CLASS.get(simple, simple)


_DUCK_TYPE_CLASS = """
CASE WHEN column_type IN ('TINYINT','SMALLINT','INTEGER','BIGINT','HUGEINT',
                          'UTINYINT','USMALLINT','UINTEGER','UBIGINT')
          THEN 'integer'
     WHEN column_type IN ('FLOAT','DOUBLE') THEN 'double'
     WHEN column_type = 'VARCHAR' THEN 'string'
     WHEN column_type = 'DATE' THEN 'date'
     WHEN column_type LIKE 'TIMESTAMP%' THEN 'timestamp'
     WHEN column_type = 'BOOLEAN' THEN 'boolean'
     WHEN column_type LIKE 'DECIMAL%' THEN 'decimal'
     ELSE lower(column_type) END
"""

_SCHEMA_ORACLE = f"""
WITH src_cols AS (
  SELECT column_name AS col_name, {_DUCK_TYPE_CLASS} AS type_class
  FROM (DESCRIBE SELECT * FROM orders)
),
tgt_cols AS (
  SELECT column_name AS col_name, {_DUCK_TYPE_CLASS} AS type_class
  FROM (DESCRIBE SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(o_totalprice AS VARCHAR) AS o_totalprice,
               o_orderdate, CAST(1 AS BIGINT) AS o_load_batch
        FROM orders)
)
SELECT COALESCE(s.col_name, t.col_name) AS col_name,
       s.type_class AS src_type,
       t.type_class AS tgt_type,
       CASE WHEN s.col_name IS NULL THEN 'MISSING_IN_SOURCE'
            WHEN t.col_name IS NULL THEN 'MISSING_IN_TARGET'
            WHEN s.type_class = t.type_class THEN 'MATCH'
            ELSE 'TYPE_DIFF' END AS status
FROM src_cols s FULL OUTER JOIN tgt_cols t ON s.col_name = t.col_name
"""


@query("recon_schema", oracle=_SCHEMA_ORACLE)
def recon_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-level reconciliation — the check the reference genre runs FIRST
    (``DESCRIBE`` both tables, diff the column inventory) before spending a
    byte on data compares. Target here is a deliberately drifted orders
    schema: ``o_orderpriority`` dropped, ``o_totalprice`` retyped to string,
    ``o_load_batch`` added.

    Cross-engine twist: Spark introspects its DataFrame schema (parquet
    footer); the oracle runs DuckDB's ``DESCRIBE SELECT`` on the same tables
    — two independent schema readers mapped into one engine-neutral type
    vocabulary, so a pass proves both engines agree on the parquet schema,
    not just on data values.

    Scale note: schema recon is metastore-metadata-sized (one row per
    COLUMN, not per data row) — a driver-local build of the column inventory
    is the correct plan at any data scale; no cluster work is involved until
    a data-level check is chosen based on this diff.
    """
    orders = load(spark, sf_dir, "orders")
    tgt = (
        orders.drop("o_orderpriority")
        .withColumn("o_totalprice", F.col("o_totalprice").cast("string"))
        .withColumn("o_load_batch", F.lit(1).cast("bigint"))
    )

    def cols(df: DataFrame) -> DataFrame:
        rows = [(f.name, _type_class(f.dataType.simpleString())) for f in df.schema.fields]
        return local_frame(spark, rows, "col_name string, type_class string")

    s = cols(orders).alias("s")
    t = cols(tgt).alias("t")
    j = s.join(t, F.col("s.col_name") == F.col("t.col_name"), "full_outer")
    return j.select(
        F.coalesce(F.col("s.col_name"), F.col("t.col_name")).alias("col_name"),
        F.col("s.type_class").alias("src_type"),
        F.col("t.type_class").alias("tgt_type"),
        F.when(F.col("s.col_name").isNull(), "MISSING_IN_SOURCE")
        .when(F.col("t.col_name").isNull(), "MISSING_IN_TARGET")
        .when(F.col("s.type_class") == F.col("t.type_class"), "MATCH")
        .otherwise("TYPE_DIFF")
        .alias("status"),
    )


# ---------------------------------------------------------------------------
# recon_null_profile — per-column null / NaN / blank drift
# ---------------------------------------------------------------------------

#: (column, class) pairs profiled — blank applies to strings, NaN to doubles
_NULLPROF_COLS = (
    ("o_orderkey", "int"),
    ("o_custkey", "int"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "double"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "string"),
)

_NULLPROF_TGT_SQL = """
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 97 = 0 THEN NULL
              ELSE o_orderstatus END AS o_orderstatus,
         CASE WHEN o_orderkey % 101 = 0 THEN 'NaN'::DOUBLE
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate,
         CASE WHEN o_orderkey % 89 = 0 THEN ''
              ELSE o_orderpriority END AS o_orderpriority
  FROM orders
"""


def _nullprof_side_sql(table_expr: str) -> str:
    rows = []
    for c, klass in _NULLPROF_COLS:
        blank = (
            f"CAST(SUM(CASE WHEN {c} = '' THEN 1 ELSE 0 END) AS BIGINT)"
            if klass == "string"
            else "CAST(0 AS BIGINT)"
        )
        nan = (
            f"CAST(SUM(CASE WHEN isnan({c}) THEN 1 ELSE 0 END) AS BIGINT)"
            if klass == "double"
            else "CAST(0 AS BIGINT)"
        )
        rows.append(
            f"  SELECT '{c}' AS col_name,\n"
            f"         CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)"
            f" AS BIGINT) AS n_null,\n"
            f"         {blank} AS n_blank,\n"
            f"         {nan} AS n_nan\n"
            f"  FROM {table_expr}"
        )
    return "\n  UNION ALL\n".join(rows)


_NULLPROF_ORACLE = f"""
WITH tgt AS ({_NULLPROF_TGT_SQL}),
src_p AS (
{_nullprof_side_sql('orders')}
),
tgt_p AS (
{_nullprof_side_sql('tgt')}
)
SELECT s.col_name,
       s.n_null AS src_null, t.n_null AS tgt_null,
       s.n_blank AS src_blank, t.n_blank AS tgt_blank,
       s.n_nan AS src_nan, t.n_nan AS tgt_nan,
       CASE WHEN s.n_null = t.n_null AND s.n_blank = t.n_blank
                 AND s.n_nan = t.n_nan
            THEN 'MATCH' ELSE 'DRIFT' END AS status
FROM src_p s JOIN tgt_p t ON t.col_name = s.col_name
"""


@query("recon_null_profile", oracle=_NULLPROF_ORACLE)
def recon_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column null-profile reconciliation: NULL, empty-string, and NaN
    counts for every column on both sides, diffed column by column — the
    data-quality drift check that catches an ETL load silently turning
    values into missingness (a COALESCE dropped, a failed cast defaulting,
    a CSV hop reading '' where NULL was written) even when row counts and
    key sets still reconcile. Extends recon_schema one level deeper: that
    check diffs the column INVENTORY, this one diffs each column's
    missingness fingerprint.

    Target = orders with three deterministic degradations (keyed on
    o_orderkey modulus, like FIXTURES.md §B.2): % 97 → o_orderstatus
    NULLed, % 89 → o_orderpriority blanked, % 101 → o_totalprice → NaN.
    The three missingness classes are counted separately because they are
    NOT interchangeable: NULL survives casts, '' survives CSV round trips,
    NaN poisons sums — and a profile that lumps them hides exactly the
    drift class this check exists to name.

    Scale shape: ONE full-scan aggregate of both sides, a
    :func:`plans.api.compare_sides` with no grain, computes every counter
    as an algebraic conditional sum (map-side combining, no shuffle of
    data rows — the exchange carries a single partial-agg row per task);
    one ``inline`` then unpivots it to a row per column. Cost is one pass
    over each table regardless of column count; output is
    metadata-sized, like recon_schema."""
    from .api import compare_sides

    orders = load(spark, sf_dir, "orders")
    tgt = (
        orders.withColumn(
            "o_orderstatus",
            F.when(F.col("o_orderkey") % 97 == 0, F.lit(None).cast("string"))
            .otherwise(F.col("o_orderstatus")),
        )
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") % 101 == 0, F.lit(float("nan")))
            .otherwise(F.col("o_totalprice")),
        )
        .withColumn(
            "o_orderpriority",
            F.when(F.col("o_orderkey") % 89 == 0, F.lit(""))
            .otherwise(F.col("o_orderpriority")),
        )
    )
    metrics = {}
    for c, klass in _NULLPROF_COLS:
        col = F.col(c)
        metrics[f"null_{c}"] = (F.sum, F.when(col.isNull(), 1).otherwise(0))
        if klass == "string":
            metrics[f"blank_{c}"] = (F.sum, F.when(col == "", 1).otherwise(0))
        if klass == "double":
            metrics[f"nan_{c}"] = (F.sum, F.when(F.isnan(col), 1).otherwise(0))
    prof = compare_sides(orders, tgt, [], **metrics)

    kinds = ("null", "blank", "nan")

    def row(c: str) -> Column:
        def n(side: str, kind: str) -> Column:
            m = f"{kind}_{c}"
            v = F.col(f"{side}_{m}") if m in metrics else F.lit(0).cast("bigint")
            return v.alias(f"{side}_{kind}")

        return F.struct(
            F.lit(c).alias("col_name"), *[n(s, k) for k in kinds for s in ("src", "tgt")]
        )

    rows = [row(c) for c, _ in _NULLPROF_COLS]
    same = reduce(and_, [F.col(f"src_{k}") == F.col(f"tgt_{k}") for k in kinds])
    return prof.select(F.inline(F.array(*rows))).withColumn(
        "status", F.when(same, "MATCH").otherwise("DRIFT")
    )
