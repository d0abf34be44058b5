"""UDF / UDAF / UDTF surface (SURVEY.md §2l).

The engine's rule is builtins-first (every other module is UDF-free); this
module exists to prove the full Python extension surface with the
performance-correct variants: Arrow-batched pandas UDFs, grouped-agg pandas
UDFs, and applyInPandas — never row-at-a-time Python in a hot path. Each
UDF's semantics are deliberately SQL-expressible so even the Python path
stays oracle-checkable.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from .catalog import load
from .registry import query

# ---------------------------------------------------------------------------
# udf_scalar — row-at-a-time Python UDF (the slow path, shown once)
# ---------------------------------------------------------------------------

_SCALAR_ORACLE = """
SELECT c_custkey,
       upper(substr(c_mktsegment, 1, 1)) || lower(substr(c_mktsegment, 2))
         AS seg_title
FROM customer
"""


@query("udf_scalar", oracle=_SCALAR_ORACLE)
def udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar Python UDF (title-case a segment). Row-at-a-time Python costs
    a JVM↔Python round trip per batch of rows — present for surface
    completeness; everything else in this engine uses builtins."""

    # no type hints: with an explicit return type, hints make PySpark
    # try (and fail) to infer a pandas/arrow eval type and warn
    @F.udf(StringType())
    def title_case(s):
        return s[:1].upper() + s[1:].lower() if s else s

    c = load(spark, sf_dir, "customer")
    return c.select("c_custkey", title_case("c_mktsegment").alias("seg_title"))


# ---------------------------------------------------------------------------
# udf_pandas — Arrow-batched scalar pandas UDF
# ---------------------------------------------------------------------------

_PANDAS_ORACLE = """
SELECT o_orderkey,
       -- + 0.0: a price within half an ulp-of-6dp BELOW e^10 (22026.46
       -- is money-class-drawable) makes the argument a tiny negative,
       -- which DuckDB's ROUND keeps as -0.0 while Spark's round never
       -- emits signed zero (r15 signed-zero audit)
       ROUND(ln(o_totalprice) - 10.0, 6) + 0.0 AS log_centered
FROM orders
"""


@query("udf_pandas", oracle=_PANDAS_ORACLE)
def udf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized pandas UDF over Arrow batches — numpy log on a whole
    column per batch; the 10-100× faster Python path (SURVEY.md §2l)."""

    @F.pandas_udf("double")
    def log_centered(price: pd.Series) -> pd.Series:
        import numpy as np

        return np.log(price) - 10.0

    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey", F.round(log_centered("o_totalprice"), 6).alias("log_centered")
    )


# ---------------------------------------------------------------------------
# udaf_pandas — grouped-agg pandas UDF (trimmed mean)
# ---------------------------------------------------------------------------

_UDAF_ORACLE = """
SELECT o_orderstatus,
       CASE WHEN COUNT(*) > 2 THEN
         CAST(ROUND(CAST(
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             - MIN(o_totalprice) - MAX(o_totalprice)
           AS DECIMAL(28,6)) / (COUNT(*) - 2), 4) AS DOUBLE)
       ELSE
         CAST(ROUND(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
           AS DOUBLE) AS DECIMAL(28,6)) / COUNT(*), 4) AS DOUBLE)
       END AS trimmed_mean
FROM orders GROUP BY o_orderstatus
"""


@query("udaf_pandas", oracle=_UDAF_ORACLE)
def udaf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDF: mean with one min and one max dropped.
    math.fsum keeps the Python-side sum exact regardless of the partition
    order Spark feeds the group in — matching the oracle's exact decimal
    arithmetic (same determinism rule as canonical.money_sum). Rounding is
    ROUND_HALF_UP to match the oracle's half-away-from-zero DECIMAL ROUND
    (banker's rounding would diverge on exact 4-dp midpoints); groups of
    ≤2 rows fall back to the plain mean instead of dividing by zero."""
    import decimal

    @F.pandas_udf("double")
    def trimmed_mean(v: pd.Series) -> float:
        vals = v.to_numpy()
        if len(vals) > 2:
            total = math.fsum(vals) - vals.min() - vals.max()
            mean = total / (len(vals) - 2)
        else:
            mean = math.fsum(vals) / len(vals)
        return float(
            decimal.Decimal(repr(mean)).quantize(
                decimal.Decimal("0.0001"), rounding=decimal.ROUND_HALF_UP
            )
        )

    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        trimmed_mean("o_totalprice").alias("trimmed_mean")
    )


# ---------------------------------------------------------------------------
# udtf_lateral — true Python UDTF (table function, Spark 4)
# ---------------------------------------------------------------------------

_UDTF_LATERAL_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
  FROM documents
)
SELECT doc_id, CAST(pos AS INT) AS pos, tok, CAST(length(tok) AS INT) AS tok_len
FROM toks WHERE length(tok) >= 6
"""


@query("udtf_lateral", oracle=_UDTF_LATERAL_ORACLE)
def udtf_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function): one input row → many output rows via a
    LATERAL join — the Spark 4 extension point for custom generators. This
    one emits (pos, token, len) for long tokens; semantics deliberately
    SQL-expressible so even the UDTF path is oracle-checked. Declared
    ``useArrow=True`` so rows cross the Python boundary Arrow-batched
    (ArrowEvalPythonUDTF) instead of pickled row-at-a-time — the same
    vectorization rule every other Python-boundary operator follows
    (enforced by the plan lint in tests/test_plans.py)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, tok string, tok_len int", useArrow=True)
    class LongTokens:
        def eval(self, text: str):
            for pos, tok in enumerate((text or "").split(" ")):
                if len(tok) >= 6:
                    yield pos, tok, len(tok)

    spark.udtf.register("long_tokens", LongTokens)
    load(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        "SELECT d.doc_id, t.pos, t.tok, t.tok_len "
        "FROM documents d, LATERAL long_tokens(d.text) t"
    )


# ---------------------------------------------------------------------------
# udtf_apply — grouped map (applyInPandas) sessionization
# ---------------------------------------------------------------------------

_UDTF_ORACLE = """
WITH o AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       CAST(SUM(new_session) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM o GROUP BY user_id
"""


@query("udtf_apply", oracle=_UDTF_ORACLE)
def udtf_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas per-user sessionization (30-min gap): the whole user
    timeline arrives as one pandas frame, imperative logic runs locally,
    output is a per-group summary. Semantics match the pure-SQL lag+cumsum
    twin, so even the grouped-map path is oracle-checked (most UDTFs are
    rows-only; this one is deliberately not).

    Arrow-payload discipline: the timestamp is projected to epoch seconds
    JVM-side so the batch carries two int64 columns instead of a timestamp
    (+tie-break id) — measured 2.6× faster end-to-end at sf0.1. The
    oracle's (ts, event_id) tie-break is irrelevant to the RESULT: equal
    timestamps contribute a gap of 0 in any order, so the session count is
    tie-order-insensitive.

    Explicit cores-wide repartition before the grouped map (r19, guide
    §2.5/§4 — VERDICT r18 item 8): AQE's partition coalescing sizes
    shuffle partitions by BYTES, but a grouped-map stage's cost is one
    Python interpreter call per GROUP — on this fixture AQE collapsed the
    small exchange to ONE partition and serialized all 1500 per-user
    calls through a single worker (measured 2.39 s; cores-wide 0.54 s,
    rows identical). repartition(defaultParallelism, key) pins the
    exchange at session width — scale-adaptive (cluster width on a
    cluster, and it makes this query's runtime genuinely core-sensitive),
    and it satisfies the groupBy's distribution requirement, so there is
    still exactly ONE exchange."""

    def sessionize(pdf: pd.DataFrame) -> pd.DataFrame:
        gaps = pdf["ts_s"].sort_values().diff()
        new_sess = (gaps.isna()) | (gaps > 1800)
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_sessions": [int(new_sess.sum())],
                "n_events": [len(pdf)],
            }
        )

    ev = (
        load(spark, sf_dir, "events")
        .select("user_id", F.unix_timestamp("ts").alias("ts_s"))
        .repartition(spark.sparkContext.defaultParallelism, "user_id")
    )
    return ev.groupBy("user_id").applyInPandas(
        sessionize, "user_id bigint, n_sessions bigint, n_events bigint"
    )


# ---------------------------------------------------------------------------
# udf_maparrow — mapInArrow (RecordBatch-level Python, no pandas layer)
# ---------------------------------------------------------------------------

_MAPARROW_ORACLE = """
SELECT doc_id,
       CAST(strlen(text) AS INT) AS n_bytes,
       CAST(len(regexp_extract_all(text, '[aeiou]')) AS INT) AS n_vowels
FROM documents
"""


@query("udf_maparrow", oracle=_MAPARROW_ORACLE)
def udf_maparrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow: the lowest-overhead Python extension point — the UDF
    receives raw ``pyarrow.RecordBatch``es and answers with RecordBatches,
    skipping even the Arrow→pandas conversion mapInPandas pays (relevant
    when the per-batch work is itself Arrow-native, e.g. pyarrow.compute
    kernels or handing batches to a C++ library). Semantics deliberately
    SQL-expressible (UTF-8 byte length + vowel count via compute kernels)
    so this path is oracle-checked like the rest of the UDF surface."""

    def feature_batches(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            text = batch.column(1)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pc.cast(pc.binary_length(text), pa.int32()),
                    pc.cast(pc.count_substring_regex(text, "[aeiou]"), pa.int32()),
                ],
                names=["doc_id", "n_bytes", "n_vowels"],
            )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInArrow(
        feature_batches, "doc_id bigint, n_bytes int, n_vowels int"
    )
