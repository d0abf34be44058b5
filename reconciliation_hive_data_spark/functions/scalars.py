"""Scalar-function surface (SURVEY.md §2h): string / regex / date / math /
conditional / hash / array / JSON / cast. All built-in `pyspark.sql.functions`
(JVM-side, whole-stage-codegen) — zero Python UDFs in this module.

Cross-engine hazards handled here (probed empirically, see canonical.py):
- double→string differs between engines → printf-format instead
- Spark datediff(end,start) vs DuckDB datediff('day',start,end) arg order
- Spark CAST(double AS INT) truncates, DuckDB rounds → use floor/ceil explicitly
- float32 array math promoted to double element-wise before folding, and all
  folds are left-folds with identical op order on both engines
"""

from __future__ import annotations

from zlib import crc32

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..canonical import canonical_row_hash, canonical_row_hash_sql
from ..catalog import load
from ..registry import query
from .hashref import murmur3, xxhash64

# ---------------------------------------------------------------------------
# fn_string — core string surface
# ---------------------------------------------------------------------------

_STRING_ORACLE = """
SELECT c_custkey,
       concat_ws('|', c_name, c_mktsegment) AS joined,
       upper(c_mktsegment) AS seg_upper,
       lower(c_name) AS name_lower,
       substr(c_name, 10, 8) AS name_mid,
       CAST(length(c_name) AS INT) AS name_len,
       lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS key_padded,
       replace(c_name, 'Customer#', 'C-') AS name_short,
       trim(concat('  ', c_mktsegment, '  ')) AS seg_trimmed,
       CASE WHEN c_name IS NULL THEN NULL
            ELSE split_part(c_name, '#', 2) END AS name_num
FROM customer
"""


@query("fn_string", oracle=_STRING_ORACLE)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """concat_ws/upper/lower/substring/length/lpad/replace/trim/split —
    the row-serialization toolkit reconciliation hashing is built on.

    seg_trimmed pads via concat_ws, not concat: strict concat NULLs the
    whole result when one operand is NULL (so a NULL segment silently
    reported NULL instead of '' — caught by the r12 hostile-input fuzz),
    while concat_ws skips NULL operands, the skip-null convention the
    DuckDB twin's concat applies and the one serialization code wants.
    The oracle's name_num carries an explicit IS NULL guard: DuckDB's
    split_part returns '' for NULL input — an engine quirk — where this
    engine keeps SQL NULL-propagation."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.concat_ws("|", "c_name", "c_mktsegment").alias("joined"),
        F.upper("c_mktsegment").alias("seg_upper"),
        F.lower("c_name").alias("name_lower"),
        F.substring("c_name", 10, 8).alias("name_mid"),
        F.length("c_name").cast("int").alias("name_len"),
        F.lpad(F.col("c_custkey").cast("string"), 12, "0").alias("key_padded"),
        F.regexp_replace("c_name", "Customer#", "C-").alias("name_short"),
        F.trim(F.concat_ws("", F.lit("  "), F.col("c_mktsegment"), F.lit("  "))).alias(
            "seg_trimmed"
        ),
        F.split_part("c_name", F.lit("#"), F.lit(2)).alias("name_num"),
    )


# ---------------------------------------------------------------------------
# fn_regex — regexp extract / replace / match
# ---------------------------------------------------------------------------

_REGEX_ORACLE = """
SELECT doc_id,
       regexp_extract(text, '([a-z]+)', 1) AS first_word,
       regexp_replace(text, '[aeiou]', '_', 'g') AS devoweled_head,
       regexp_matches(text, 'table.*scan') AS has_table_scan
FROM (SELECT doc_id, substr(text, 1, 40) AS text FROM documents)
"""


@query("fn_regex", oracle=_REGEX_ORACLE)
def fn_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract / regexp_replace / rlike on document text."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 40).alias("text")
    )
    return d.select(
        "doc_id",
        F.regexp_extract("text", r"([a-z]+)", 1).alias("first_word"),
        F.regexp_replace("text", "[aeiou]", "_").alias("devoweled_head"),
        F.col("text").rlike("table.*scan").alias("has_table_scan"),
    )


# ---------------------------------------------------------------------------
# fn_date — calendar surface
# ---------------------------------------------------------------------------

_DATE_ORACLE = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(month(o_orderdate) AS INT) AS o_month,
       CAST(day(o_orderdate) AS INT) AS o_day,
       CAST(quarter(o_orderdate) AS INT) AS o_quarter,
       CAST(dayofweek(o_orderdate) + 1 AS INT) AS o_dow,
       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
       strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
       CAST(datediff('day', o_orderdate, TIMESTAMP '2002-01-01') AS INT)
         AS days_to_2002,
       strftime(o_orderdate + INTERVAL 90 DAY, '%Y-%m-%d') AS due_date,
       CAST(epoch(o_orderdate) AS BIGINT) AS epoch_sec
FROM orders
"""


@query("fn_date", oracle=_DATE_ORACLE)
def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """year/month/day/quarter/dow, date_trunc, last_day, datediff, interval
    arithmetic, unix epoch. Spark's datediff(end, start) argument order is
    the reverse of DuckDB's datediff('day', start, end) — normalized here.
    dayofweek: Spark is 1=Sunday; DuckDB's dayofweek is 0=Sunday → +1."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("o_year"),
        F.month("o_orderdate").cast("int").alias("o_month"),
        F.dayofmonth("o_orderdate").cast("int").alias("o_day"),
        F.quarter("o_orderdate").cast("int").alias("o_quarter"),
        F.dayofweek("o_orderdate").cast("int").alias("o_dow"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate")).cast(
            "int"
        ).alias("days_to_2002"),
        F.date_format(F.date_add(F.col("o_orderdate"), 90), "yyyy-MM-dd").alias(
            "due_date"
        ),
        F.unix_timestamp("o_orderdate").cast("bigint").alias("epoch_sec"),
    )


# ---------------------------------------------------------------------------
# fn_math — numeric surface
# ---------------------------------------------------------------------------

_MATH_ORACLE = """
SELECT l_orderkey, l_linenumber,
       abs(l_extendedprice - 50000.0) AS abs_dev,
       CAST(floor(l_quantity / 7) AS BIGINT) AS qty_bucket,
       CAST(ceil(l_extendedprice / 10000) AS BIGINT) AS price_decile,
       ROUND(pow(l_quantity, 2) + pow(l_discount, 2), 6) AS sq_sum,
       ROUND(ln(l_extendedprice), 6) AS log_price,
       ROUND(log10(l_extendedprice), 6) AS log10_price,
       ROUND(sqrt(l_quantity), 6) AS sqrt_qty,
       CAST(sign(l_discount - 0.05) AS INT) AS disc_sign,
       CAST(((CAST(l_orderkey AS BIGINT) - 7) % 5 + 5) % 5 AS BIGINT) AS pmod5
FROM lineitem
"""


@query("fn_math", oracle=_MATH_ORACLE)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """abs/floor/ceil/pow/ln/log10/sqrt/sign/pmod. Transcendentals (ln, log10,
    pow, sqrt) are correctly-rounded-enough to agree bitwise on identical
    input doubles; rounded to 6 dp anyway. pmod is Spark-only — the oracle
    spells out ((a%b)+b)%b."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_extendedprice") - 50000.0).alias("abs_dev"),
        F.floor(F.col("l_quantity") / 7).cast("bigint").alias("qty_bucket"),
        F.ceil(F.col("l_extendedprice") / 10000).cast("bigint").alias("price_decile"),
        F.round(F.pow("l_quantity", F.lit(2)) + F.pow("l_discount", F.lit(2)), 6).alias(
            "sq_sum"
        ),
        F.round(F.log(F.col("l_extendedprice")), 6).alias("log_price"),
        F.round(F.log10(F.col("l_extendedprice")), 6).alias("log10_price"),
        F.round(F.sqrt("l_quantity"), 6).alias("sqrt_qty"),
        F.sign(F.col("l_discount") - 0.05).cast("int").alias("disc_sign"),
        F.pmod(F.col("l_orderkey") - 7, F.lit(5)).cast("bigint").alias("pmod5"),
    )


# ---------------------------------------------------------------------------
# fn_cond — conditional surface (match-flag derivation)
# ---------------------------------------------------------------------------

_COND_ORACLE = """
SELECT s_suppkey,
       CASE WHEN s_acctbal < 0 THEN 'NEGATIVE'
            WHEN s_acctbal < 1000 THEN 'LOW'
            WHEN s_acctbal < 5000 THEN 'MID'
            ELSE 'HIGH' END AS bal_band,
       COALESCE(nullif(s_name, 'Supplier#000000000'), '<root>') AS name_or_root,
       greatest(s_acctbal, 0.0) AS bal_floor0,
       least(s_acctbal, 9999.99) AS bal_cap,
       CASE WHEN s_nationkey % 2 = 0 THEN 'even' ELSE 'odd' END AS nation_parity
FROM supplier
"""


@query("fn_cond", oracle=_COND_ORACLE)
def fn_cond(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN / coalesce / nullif / greatest / least."""
    s = load(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey",
        F.when(F.col("s_acctbal") < 0, "NEGATIVE")
        .when(F.col("s_acctbal") < 1000, "LOW")
        .when(F.col("s_acctbal") < 5000, "MID")
        .otherwise("HIGH")
        .alias("bal_band"),
        F.coalesce(F.nullif("s_name", F.lit("Supplier#000000000")), F.lit("<root>")).alias(
            "name_or_root"
        ),
        F.greatest("s_acctbal", F.lit(0.0)).alias("bal_floor0"),
        F.least("s_acctbal", F.lit(9999.99)).alias("bal_cap"),
        F.when(F.col("s_nationkey") % 2 == 0, "even").otherwise("odd").alias(
            "nation_parity"
        ),
    )


# ---------------------------------------------------------------------------
# fn_hash — md5 canonical fingerprint (shared) + Spark-native hashes
# ---------------------------------------------------------------------------

_HASH_COLS = [
    ("p_partkey", "int"),
    ("p_name", "string"),
    ("p_brand", "string"),
    ("p_retailprice", "double"),
]

_HASH_ORACLE = f"""
SELECT p_partkey,
       {canonical_row_hash_sql(_HASH_COLS)} AS row_md5,
       md5(p_name) AS name_md5
FROM part
"""


@query("fn_hash", oracle=_HASH_ORACLE)
def fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 row/column checksums over canonical serialization — the recon
    fingerprint core. md5 is the only hash Spark and DuckDB share."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        canonical_row_hash(_HASH_COLS).alias("row_md5"),
        F.md5("p_name").alias("name_md5"),
    )


def _hash_spark_oracle() -> str:
    """Full DuckDB oracle for the Spark-native hash family. xxhash64, crc32
    and Murmur3 have no DuckDB twin, so the oracle carries them as a VALUES
    table whose rows are the output of ``hashref`` (a Python reference
    that does not use Spark) and ``zlib.crc32`` over the literal domain;
    sha256 is recomputed natively by DuckDB."""
    rows = []
    for n in range(1, _HASH_DOMAIN_N + 1):
        raw = str(n).encode()
        rows.append(f"({n}, {xxhash64(raw)}, {crc32(raw)}, {murmur3(raw)})")
    values = ",\n".join(rows)
    return f"""
WITH dom AS (
  SELECT CAST(r AS BIGINT) AS n, CAST(r AS VARCHAR) AS s
  FROM range(1, {_HASH_DOMAIN_N + 1}) t(r)
),
exp(n, xx64, crc, murmur3) AS (VALUES
{values}
)
SELECT d.n AS n,
       CAST(e.xx64 AS BIGINT) AS xx64,
       CAST(e.crc AS BIGINT) AS crc,
       CAST(e.murmur3 AS INT) AS murmur3,
       sha256(d.s) AS sha256
FROM dom d JOIN exp e ON d.n = e.n
"""


_HASH_DOMAIN_N = 2000


@query("fn_hash_spark", oracle=_hash_spark_oracle())
def fn_hash_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-native hash family (xxhash64 / crc32 / sha2 / murmur3) over
    the stringified literal domain 1..2000 — deterministic at every sf, so
    the Spark-only hashes are checked cell by cell against the oracle's
    table from the Python reference (SURVEY.md §2h); sha256 is
    DuckDB-recomputed natively. xxhash64 is the scale choice for
    shuffle-key fingerprints: 8-byte output, ~10× md5 throughput,
    codegen-friendly."""
    d = spark.range(1, _HASH_DOMAIN_N + 1).select(
        F.col("id").alias("n"), F.col("id").cast("string").alias("s")
    )
    return d.select(
        "n",
        F.xxhash64("s").alias("xx64"),
        F.crc32(F.col("s").cast("binary")).alias("crc"),
        F.hash("s").alias("murmur3"),
        F.sha2(F.col("s").cast("binary"), 256).alias("sha256"),
    )


# ---------------------------------------------------------------------------
# fn_array — higher-order array functions over embeddings
# ---------------------------------------------------------------------------

_ARRAY_ORACLE = """
SELECT vec_id,
       CAST(len(embedding) AS INT) AS dim,
       ROUND(list_reduce(list_transform(embedding,
                                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                         (a, b) -> a + b), 6) AS norm_sq,
       -- + 0.0: an all-tiny-negative vector's max rounds to -0.0 here
       -- but to +0.0 through Spark's BigDecimal round (r15 signed-zero
       -- audit); identity for every other value
       ROUND(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                         (a, b) -> CASE WHEN b > a THEN b ELSE a END), 6) + 0.0
         AS max_elem,
       array_to_string(list_transform(embedding[1:4],
                                      x -> printf('%.5f', CAST(x AS DOUBLE))), ',')
         AS head4
FROM embeddings
"""


@query("fn_array", oracle=_ARRAY_ORACLE)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """size / slice / transform / aggregate(fold) over the 64-d embedding
    column: the SQL-native vector-math layer the similarity operators build
    on. Elements promoted float→double (exact) before arithmetic; both
    engines left-fold in identical order ⇒ bitwise-equal doubles."""
    e = load(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").cast("int").alias("dim"),
        F.round(
            F.aggregate(
                F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("norm_sq"),
        F.round(
            F.aggregate(
                F.expr("transform(embedding, x -> CAST(x AS DOUBLE))"),
                F.lit(float("-inf")),
                lambda acc, x: F.when(x > acc, x).otherwise(acc),
            ),
            6,
        ).alias("max_elem"),
        F.expr(
            "array_join(transform(slice(embedding, 1, 4),"
            " x -> printf('%.5f', CAST(x AS DOUBLE))), ',')"
        ).alias("head4"),
    )


# ---------------------------------------------------------------------------
# fn_map_json — JSON extraction from events.props
# ---------------------------------------------------------------------------

# The oracle twins Spark's two extraction semantics exactly (r14 events
# fuzz): json_valid guards every path (DuckDB's json_* ERROR on malformed
# JSON where get_json_object returns NULL), and from_json's k_int is only
# non-NULL for a literal integral JSON NUMBER fitting int32 (strict JSON
# typing: "12" / 3.0 / 1e2 / true all -> NULL), which json_type gates.
_JSON_ORACLE = """
WITH j AS (
  SELECT event_id,
         CASE WHEN json_valid(props)
              THEN json_extract_string(props, '$.k') END AS s,
         CASE WHEN json_valid(props)
              THEN json_type(props, '$.k') END AS k_type,
         CASE WHEN json_valid(props)
              THEN json_extract_string(props, '$.missing') END AS missing_key
  FROM events
)
SELECT event_id,
       -- non-integral NUMBERS are carved out of the text column (engines
       -- re-serialize them differently past ~1e7: Spark '1.0E20' vs
       -- DuckDB expanded) and surfaced as a bit-exact DOUBLE instead;
       -- DuckDB types every such token DOUBLE, integral ones (U)BIGINT
       CASE WHEN k_type IS DISTINCT FROM 'DOUBLE' THEN s END AS k_str,
       CASE WHEN k_type = 'DOUBLE' THEN TRY_CAST(s AS DOUBLE) END AS k_num,
       CASE WHEN k_type IN ('BIGINT', 'UBIGINT')
            THEN TRY_CAST(s AS INT) END AS k_int,
       CASE WHEN k_type IN ('BIGINT', 'UBIGINT')
            THEN TRY_CAST(s AS INT) END % 10 AS k_mod,
       missing_key
FROM j
"""


@query("fn_map_json", oracle=_JSON_ORACLE)
def fn_map_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object + from_json over the events.props JSON strings
    (shape '{"k": 87}' — FIXTURES.md). Missing keys → NULL on both engines.

    Hostile-props contract (r14 events fuzz): get_json_object is total —
    malformed JSON, wrong-shape values, and absent keys all yield NULL,
    never an abort — and the oracle mirrors it behind json_valid.
    from_json applies STRICT JSON typing: k_int is non-NULL only for a
    literal integral JSON number that fits int32 (a quoted "12", 3.0,
    1e2, true, or an int32-overflowing literal are all NULL), which the
    oracle reproduces by gating on json_type BIGINT/UBIGINT + TRY_CAST.

    k_str carries the extracted text EXCEPT for non-integral JSON numbers:
    past ~1e7 the engines re-serialize those differently (Spark '1.0E20',
    DuckDB expanded digits), so they surface as the bit-exact DOUBLE k_num
    instead — the repo's standard answer to float-formatting divergence
    (canonical.py §2). The carve gate is engine-twinned: DuckDB types
    every non-integral number DOUBLE; Spark detects them as "from_json's
    STRICT k DOUBLE parses it AND the extracted text contains [.eE]" —
    strict typing rejects string-typed '"3.9"' (stays text), and the
    [.eE] check keeps integer literals of every size in k_str (a second
    from_json reuses the Jackson parse path; measurably cheaper than a
    per-row variant construction, and k_num IS the parsed double).

    OUT of the parity contract (parser-model forks with no oracle
    convention; no-abort still pinned by the fuzz): duplicate-key objects
    (get_json_object keeps the first, from_json's streaming parse the
    last, RFC 8259 shrugs), non-standard NaN/Infinity tokens (DuckDB's
    yyjson accepts, Jackson rejects the whole document), integer
    literals beyond uint64 (DuckDB demotes to DOUBLE, Spark keeps exact
    DECIMAL), and double-OVERFLOW numeric literals (1e309 and beyond —
    r15, ADVICE r14): DuckDB probes them json_valid/DOUBLE and extracts
    'Infinity', while the carve gate's [.eE] test rides on whatever text
    Spark's gjo re-serialization emits for a token no binary64 can hold
    — the row could land k_str on one engine and k_num=inf on the other
    depending on parser internals, so the class stays out of the pool
    with no-abort as the only pinned behavior (same adjudication as the
    NaN/Infinity token fork above)."""
    e = load(spark, sf_dir, "events")
    k_int = F.from_json("props", "k INT").getField("k")
    k_dbl = F.from_json("props", "k DOUBLE").getField("k")
    # ONE json_tuple parse serves both text extractions (r19, guide §2.3 —
    # VERDICT r18 item 7): json_tuple and get_json_object share the same
    # Jackson path-extraction semantics for top-level keys (malformed JSON
    # → NULL row, absent key → NULL, raw-text value passthrough — pinned
    # by the r14 hostile-events fuzz), but json_tuple parses the document
    # once for every requested field where two get_json_object calls
    # parsed it twice. The two from_json parses stay: their STRICT
    # typing IS the declared k_int/k_num contract (docstring above).
    j = e.select(
        "event_id",
        "props",
        F.json_tuple("props", "k", "missing").alias("_gk", "_gm"),
    )
    is_nonint_num = k_dbl.isNotNull() & F.col("_gk").rlike("[.eE]")
    return j.select(
        "event_id",
        F.when(is_nonint_num, F.lit(None).cast("string"))
        .otherwise(F.col("_gk"))
        .alias("k_str"),
        F.when(is_nonint_num, k_dbl).alias("k_num"),
        k_int.alias("k_int"),
        (k_int % 10).alias("k_mod"),
        F.col("_gm").alias("missing_key"),
    )


# ---------------------------------------------------------------------------
# fn_cast — the cast matrix
# ---------------------------------------------------------------------------

_CAST_ORACLE = """
SELECT o_orderkey,
       CAST(o_orderkey AS VARCHAR) AS key_str,
       CAST(o_orderkey AS DOUBLE) AS key_dbl,
       CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS key_roundtrip,
       strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS date_str,
       CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
       CAST(CAST('42' AS INT) + o_orderkey AS BIGINT) AS plus42,
       CAST(epoch(CAST('2000-06-15 12:30:45' AS TIMESTAMP)) AS BIGINT) AS fixed_epoch
FROM orders
"""


@query("fn_cast", oracle=_CAST_ORACLE)
def fn_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cast matrix: int↔string, int→double, timestamp→date→string,
    string→int, string→timestamp→epoch. double→int is deliberately spelled
    floor(): Spark CAST truncates where DuckDB rounds — the explicit form is
    the only portable one."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.col("o_orderkey").cast("double").alias("key_dbl"),
        F.col("o_orderkey").cast("string").cast("bigint").alias("key_roundtrip"),
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd").alias(
            "date_str"
        ),
        F.floor("o_totalprice").cast("bigint").alias("price_floor"),
        (F.lit("42").cast("int") + F.col("o_orderkey")).cast("bigint").alias("plus42"),
        F.unix_timestamp(F.lit("2000-06-15 12:30:45").cast("timestamp"))
        .cast("bigint")
        .alias("fixed_epoch"),
    )


# ---------------------------------------------------------------------------
# fn_bitwise — integer bit manipulation
# ---------------------------------------------------------------------------

_BITWISE_ORACLE = """
SELECT event_id,
       CAST(user_id & 255 AS BIGINT) AS band,
       CAST(event_id | 15 AS BIGINT) AS flags,
       CAST(xor(event_id, user_id) AS BIGINT) AS toggled,
       -- two's-complement user_id << 8 spelled in HUGEINT: DuckDB's native
       -- << ERRORS on any negative operand and on overflow, while Spark's
       -- shiftleft wraps (Java semantics); ((x*256 + 2^63) mod 2^64) - 2^63
       -- with a nonneg mod IS the Java wrap, total over the int64 line
       -- (r14 events fuzz; verified exact incl. int64 min/max and NULL)
       CAST(CAST((((CAST(user_id AS HUGEINT) * 256 + 9223372036854775808)
                     % 18446744073709551616 + 18446744073709551616)
                    % 18446744073709551616 - 9223372036854775808) AS BIGINT)
            | (event_id >> 4) AS BIGINT) AS packed,
       CAST(bit_count(event_id) AS INT) AS popcnt,
       CAST(~user_id AS BIGINT) AS inverted
FROM events
"""


@query("fn_bitwise", oracle=_BITWISE_ORACLE)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-manipulation family (AND/OR/XOR/shift/popcount/NOT) over int64
    keys — the primitives behind hash partitioning, bitmap flags, and key
    packing. All two's-complement int64 ops, bit-identical on both engines
    over the WHOLE int64 line: DuckDB's native ``<<`` errors on negative
    operands and on overflow where Spark's shiftleft wraps (Java
    semantics), so the oracle spells the shift as HUGEINT modular
    arithmetic — ((x*256 + 2^63) mod 2^64) - 2^63 — which IS the Java
    wrap (r14 events fuzz closed the former robustness-domain carve-out;
    verified exact incl. int64 min/max)."""
    e = load(spark, sf_dir, "events")
    eid, uid = F.col("event_id"), F.col("user_id")
    return e.select(
        "event_id",
        uid.bitwiseAND(F.lit(255)).cast("bigint").alias("band"),
        eid.bitwiseOR(F.lit(15)).cast("bigint").alias("flags"),
        eid.bitwiseXOR(uid).cast("bigint").alias("toggled"),
        (F.shiftleft(uid, 8).cast("bigint").bitwiseOR(F.shiftright(eid, 4)))
        .cast("bigint")
        .alias("packed"),
        F.bit_count(eid).cast("int").alias("popcnt"),
        F.bitwise_not(uid).cast("bigint").alias("inverted"),
    )


# ---------------------------------------------------------------------------
# fn_url — URL component parsing (parse_url family)
# ---------------------------------------------------------------------------

# Same synthetic URL fixture as x_dedup_url: scheme/case/query variants
# derived from doc_id so every branch (with/without query) is exercised.
_URL_FIXTURE_SQL = """
  SELECT doc_id,
         (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://WWW.' ELSE 'http://' END)
         || source || '.example.com/page/' || CAST(doc_id % 40 AS VARCHAR)
         || (CASE WHEN doc_id % 2 = 0 THEN '/?utm_source=feed&ref=rss'
                  ELSE '' END) AS url
  FROM documents
"""

_FN_URL_ORACLE = f"""
WITH u AS ({_URL_FIXTURE_SQL})
SELECT doc_id,
       regexp_extract(url, '^([^:]+)://', 1) AS proto,
       regexp_extract(url, '^[^:]+://([^/]+)', 1) AS host,
       regexp_extract(url, '^[^:]+://[^/]+([^?#]*)', 1) AS path,
       CASE WHEN contains(url, '?')
            THEN regexp_extract(url, '\\?([^#]*)', 1) END AS query,
       CASE WHEN contains(url, '?')
            THEN regexp_extract(url, '[?&]ref=([^&#]*)', 1) END AS ref_param
FROM u
"""


@query("fn_url", oracle=_FN_URL_ORACLE)
def fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL component extraction via Spark's parse_url (protocol / host /
    path / full query / single query parameter) — the native primitive
    under web-corpus operators like x_dedup_url. DuckDB has no parse_url,
    so the oracle re-derives each component with anchored regexps — a
    genuine cross-implementation check of the parsing semantics (absent
    query components must be NULL on both engines, not '')."""
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
    u = d.select("doc_id", url.alias("url"))
    # try_parse_url, not parse_url: the strict form ABORTS the whole job on
    # the first RFC-invalid URL (spaces in the authority, bad %-escapes —
    # probed r12), and source strings in a 100 TB web corpus are exactly
    # where such values live. NULL components are the per-row answer.
    return u.select(
        "doc_id",
        F.try_parse_url("url", F.lit("PROTOCOL")).alias("proto"),
        F.try_parse_url("url", F.lit("HOST")).alias("host"),
        F.try_parse_url("url", F.lit("PATH")).alias("path"),
        F.try_parse_url("url", F.lit("QUERY")).alias("query"),
        F.try_parse_url("url", F.lit("QUERY"), F.lit("ref")).alias("ref_param"),
    )


# ---------------------------------------------------------------------------
# fn_lambda — higher-order array lambdas: exists / forall / filter (round 5)
# ---------------------------------------------------------------------------

_FN_LAMBDA_ORACLE = """
SELECT vec_id,
       len(embedding) AS n_dims,
       CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_positive,
       len(list_filter(embedding, x -> x > 2.5)) > 0 AS has_large,
       len(list_filter(embedding, x -> NOT (abs(x) <= 10))) = 0 AS all_bounded,
       CAST(list_position(embedding, list_max(embedding)) - 1 AS INTEGER)
         AS argmax_pos
FROM embeddings WHERE vec_id < 500
"""


@query("fn_lambda", oracle=_FN_LAMBDA_ORACLE)
def fn_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array lambdas beyond fn_array's fold/zip surface:
    exists (any coordinate > 2.5), forall (all |x| <= 10), filter + size
    (positive-coordinate count), and argmax via array_position of the max
    — each runs element-wise inside codegen, no explode, no shuffle.
    DuckDB lacks exists/forall, so its twin re-derives both through
    list_filter lengths — a cross-implementation semantic check. Float
    comparisons are exact (same IEEE values both engines); outputs are
    ints/bools only."""
    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    emb = F.col("embedding")
    return e.select(
        "vec_id",
        F.size(emb).alias("n_dims"),
        F.size(F.filter(emb, lambda x: x > 0)).cast("bigint").alias("n_positive"),
        F.exists(emb, lambda x: x > 2.5).alias("has_large"),
        F.forall(emb, lambda x: F.abs(x) <= 10).alias("all_bounded"),
        (F.array_position(emb, F.array_max(emb)) - 1)
        .cast("int")
        .alias("argmax_pos"),
    )


# ---------------------------------------------------------------------------
# fn_struct — struct build / field access / nested compare (round 5)
# ---------------------------------------------------------------------------

_FN_STRUCT_ORACLE = """
WITH s AS (
  SELECT o_orderkey,
         {'status': o_orderstatus,
          'priority': o_orderpriority,
          'total_cents': CAST(round(o_totalprice * 100) AS BIGINT)} AS meta
  FROM orders WHERE o_orderkey < 2000
)
SELECT o_orderkey,
       meta.status AS status,
       meta.priority AS priority,
       meta.total_cents AS total_cents,
       meta IS NOT DISTINCT FROM
              {'status': 'O',
               'priority': meta.priority,
               'total_cents': meta.total_cents} AS is_open
FROM s
"""


@query("fn_struct", oracle=_FN_STRUCT_ORACLE)
def fn_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct surface: named_struct construction, dotted field access, and
    whole-struct null-safe equality (structural compare — the nested-type
    primitive under typed multimodal metadata columns). The money field
    rides as integer cents so the struct compare is exact on both engines.

    eqNullSafe / IS NOT DISTINCT FROM, not ``==`` / ``=`` (r12 fuzz): the
    two engines' plain struct equality DISAGREES once a field is NULL —
    Spark's ``==`` on structs inherits ordering semantics (NULL fields
    compare equal, so an all-NULL-total open order answered TRUE), DuckDB's
    ``=`` is three-valued (same row answered NULL). Null-safe equality is
    spelled explicitly on both engines, agrees row-for-row (probed r12),
    and is the reconciliation-correct primitive anyway — a row-match
    verdict must be two-valued, never unknown."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    meta = F.struct(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("total_cents"),
    )
    s = o.select("o_orderkey", meta.alias("meta"))
    twin = F.struct(
        F.lit("O").alias("status"),
        F.col("meta.priority").alias("priority"),
        F.col("meta.total_cents").alias("total_cents"),
    )
    return s.select(
        "o_orderkey",
        F.col("meta.status").alias("status"),
        F.col("meta.priority").alias("priority"),
        F.col("meta.total_cents").alias("total_cents"),
        F.col("meta").eqNullSafe(twin).alias("is_open"),
    )
