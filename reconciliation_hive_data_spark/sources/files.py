"""Scan / source / sink operators (SURVEY.md §2a).

scan_parquet/scan_pruned are the read path every other operator builds on —
scan_pruned exists specifically so `.explain` shows PushedFilters +
ReadSchema pruning (verified in tests/test_plans.py). Sinks write under
``artifacts.sink_dir`` (per process and per sf) and return the read-back
DataFrame so the driver's rows-only check observes the round trip, not
just the write call.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import ensure_artifact, sink_dir
from ..catalog import load
from ..registry import query


# ---------------------------------------------------------------------------
# scan_parquet — full-table scan
# ---------------------------------------------------------------------------

_SCAN_ORACLE = """
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer
"""


@query("scan_parquet", oracle=_SCAN_ORACLE)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain parquet scan, all columns (schema from the footer)."""
    return load(spark, sf_dir, "customer")


# ---------------------------------------------------------------------------
# scan_pruned — projection + predicate pushed to the parquet reader
# ---------------------------------------------------------------------------

_PRUNED_ORACLE = """
SELECT l_orderkey, l_extendedprice
FROM lineitem
WHERE l_quantity > 45 AND l_returnflag = 'R'
"""


@query("scan_pruned", oracle=_PRUNED_ORACLE)
def scan_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned + filtered scan: the reader materializes 2 of 11
    columns and skips row groups via min/max stats — the difference between
    reading 100 TB and reading 2 TB of it."""
    return (
        load(spark, sf_dir, "lineitem")
        .filter((F.col("l_quantity") > 45) & (F.col("l_returnflag") == "R"))
        .select("l_orderkey", "l_extendedprice")
    )


# ---------------------------------------------------------------------------
# scan_csv_json — schema-applied text ingest (Hive TextFile SerDe analog)
# ---------------------------------------------------------------------------


_CSV_JSON_ORACLE = """
SELECT n_nationkey, n_name, n_regionkey, n_name AS j_name FROM nation
"""


@query("scan_csv_json", oracle=_CSV_JSON_ORACLE)
def scan_csv_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV + JSON ingest with explicit schemas: write nation out in both
    text formats, read back with `spark.read.schema(...)`, and join the two
    read-backs — proving schema-applied text ingest round-trips. The temp
    files are invisible to the oracle, but the round-trip RESULT is exactly
    the nation table — so the check is full-oracle anyway.

    Content contract (r14 JSON-ingest fuzz): both hops round-trip
    arbitrary string content — the CSV hop via sink_csv's hardened option
    set (with the same documented \\N-sentinel residue), the JSON hop by
    format construction (JSON-lines escapes newlines/controls/unicode;
    null fields are omitted on write and read back as NULL under the
    explicit schema)."""
    n = load(spark, sf_dir, "nation")
    csv_dir = sink_dir(sf_dir, "nation_csv")
    json_dir = sink_dir(sf_dir, "nation_json")
    # The CSV hop carries sink_csv's hardened option set (r14 JSON-ingest
    # fuzz; supersedes the r13 "defaults fine for [A-Z ]+ names"
    # adjudication): the INGEST operator should round-trip arbitrary
    # string content, not just the fixture's, so hostile names (newlines,
    # padding, '') survive both text hops identically. The JSON hop needs
    # no options — JSON-lines escapes everything (probed r14: newlines,
    # NUL bytes, U+2028/9, embedded JSON, 5 KB strings all exact).
    (
        n.write.mode("overwrite")
        .option("header", True)
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .option("nullValue", "\\N")
        .csv(csv_dir)
    )
    n.write.mode("overwrite").json(json_dir)
    schema = "n_nationkey int, n_name string, n_regionkey int"
    c = (
        spark.read.schema(schema)
        .option("header", True)
        .option("multiLine", True)
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .option("nullValue", "\\N")
        .option("emptyValue", "")
        .csv(csv_dir)
    )
    j = spark.read.schema(schema).json(json_dir).select(
        F.col("n_nationkey").alias("jk"), F.col("n_name").alias("j_name")
    )
    return c.join(j, c.n_nationkey == j.jk).select(
        "n_nationkey", "n_name", "n_regionkey", "j_name"
    )


# ---------------------------------------------------------------------------
# scan_hive — catalog/metastore round trip
# ---------------------------------------------------------------------------


_SCAN_HIVE_ORACLE = """
SELECT r_regionkey, r_name FROM region
"""


@query("scan_hive", oracle=_SCAN_HIVE_ORACLE)
def scan_hive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog round trip: saveAsTable → spark.read.table — the
    metastore-backed access path the reference's DESCRIBE-driven query
    generation relies on. Works against the session's catalog (embedded
    Derby metastore when Hive support is enabled, in-memory otherwise); the
    catalog round trip must hand back exactly the region table, which is
    what the oracle checks."""
    import shutil

    r = load(spark, sf_dir, "region")
    spark.sql("DROP TABLE IF EXISTS rhds_region_cat")
    # a previous session may have left the managed location behind without
    # the catalog entry; saveAsTable refuses to reuse it
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(
        warehouse.removeprefix("file:") + "/rhds_region_cat", ignore_errors=True
    )
    r.write.mode("overwrite").saveAsTable("rhds_region_cat")
    back = spark.read.table("rhds_region_cat")
    # schema comes back from the catalog, not the parquet footer
    return back.select("r_regionkey", "r_name").orderBy("r_regionkey")


# ---------------------------------------------------------------------------
# sink_parquet — persist + read back
# ---------------------------------------------------------------------------


_SINK_PARQUET_ORACLE = """
WITH gross AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                       AS DECIMAL(18,6))) AS DOUBLE) AS line_total
  FROM lineitem GROUP BY l_orderkey
),
report AS (
  SELECT CASE WHEN g.line_total IS NULL THEN 'MISSING_IN_LINEITEM'
              WHEN ABS(o.o_totalprice - g.line_total) <= 0.01 THEN 'MATCH'
              ELSE 'VALUE_DIFF' END AS status
  FROM orders o FULL OUTER JOIN gross g ON o.o_orderkey = g.l_orderkey
)
SELECT status, COUNT(*) AS n FROM report GROUP BY status
"""


@query("sink_parquet", oracle=_SINK_PARQUET_ORACLE)
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet sink round trip for a report table: the flagship recon
    output persisted, re-read, re-aggregated — and the re-aggregation must
    equal the oracle's direct computation (full write/read fidelity)."""
    from ..plans.recon import recon_order_totals

    out = sink_dir(sf_dir, "order_totals_report")
    recon_order_totals(spark, sf_dir).write.mode("overwrite").parquet(out)
    return (
        spark.read.parquet(out)
        .groupBy("status")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# sink_partitioned — Hive-style key=value layout + partition-pruned read-back
# ---------------------------------------------------------------------------


_SINK_PART_ORACLE = """
SELECT l_returnflag, COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_returnflag
"""


@query("sink_partitioned", oracle=_SINK_PART_ORACLE)
def sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """partitionBy write (key=value directories — the reference's
    reconciliation drill-down unit) and a partition-pruned read-back:
    the filter on the partition column prunes directories, not rows; the
    pruned read-back must equal the direct filtered aggregate (oracle)."""
    out = sink_dir(sf_dir, "lineitem_by_flag")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    # repartition by the partition key before the partitioned write (r19,
    # guide §6): pins file count at one per flag regardless of scan width
    # (the session's scan-parallelism floor otherwise multiplies files by
    # the split count) — the write.distribution-mode=hash shape at scale.
    li.repartition("l_returnflag").write.mode("overwrite").partitionBy(
        "l_returnflag"
    ).parquet(out)
    # explicit schema: skips footer-sampling inference AND keeps the
    # read-back well-defined when the written frame was empty (a
    # zero-file partitioned dir cannot be inferred — empty_sweep ledger)
    back = spark.read.schema(li.schema).parquet(out).filter(
        F.col("l_returnflag") == "R"
    )
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double").alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# sink_csv — CSV sink round trip (quoting/escaping + typed read-back)
# ---------------------------------------------------------------------------

_SINK_CSV_ORACLE = """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       -- twins try_cast(get_json_object(..)) (r14 events fuzz): total over
       -- malformed JSON (json_valid guard) and non-integral k ('3.9' /
       -- 'true' / '[1,2]' / '0x10' fail the integral-text gate exactly
       -- where Spark's try_cast yields NULL; DuckDB's bare CAST would
       -- ERROR or parse hex/exponent/decimal text)
       -- outer TRY_CAST twins Spark's try_sum (sum overflow -> NULL, not
       -- an ANSI abort; DuckDB's HUGEINT-internal sum never aborts)
       TRY_CAST(SUM(CASE WHEN json_valid(props) AND regexp_matches(
                       trim(json_extract_string(props, '$.k')),
                       '^[+-]?[0-9]+$')
                     THEN TRY_CAST(json_extract_string(props, '$.k')
                                   AS BIGINT) END) AS BIGINT) AS sum_k
FROM events GROUP BY event_type
"""


@query("sink_csv", oracle=_SINK_CSV_ORACLE)
def sink_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink round trip: events written with header + quoting (the
    props JSON column carries commas and embedded quotes, so the writer
    must quote-escape and the reader must undo it exactly), read back with
    an EXPLICIT schema — never inference, which at 100 TB means an extra
    pass and type flapping between loads — then re-aggregated, including a
    value parsed out of the round-tripped JSON. Doubles survive because
    Spark writes shortest round-trip representations; the oracle computes
    directly on the original parquet, so any quoting/precision loss in
    the CSV hop fails the hash."""
    out = sink_dir(sf_dir, "events_csv")
    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", "props"
    )
    # Hardened option set (r13 CSV content fuzz). The defaults silently
    # CORRUPT hostile-but-legal string content on the round trip:
    # an embedded newline split one row into a real row plus a phantom
    # null-keyed row (poisoning aggregates, not just that row), '' came
    # back as NULL, and leading/trailing spaces were trimmed ON WRITE.
    # Fixes: multiLine read (quoted newlines re-join; the sink controls
    # file count so cross-FILE parallelism survives at 100 TB even though
    # a multiLine file is not internally splittable), whitespace
    # preservation on both hops, and the Hive-standard \N sentinel so
    # NULL and '' stay distinct. Irreducible residue, verified against
    # every Spark option combination (quoteAll included): a field whose
    # entire content is the literal two characters \N reads back as NULL
    # — the sentinel collision every text serde shares; documents, not
    # data loss, since ingest contracts reserve the marker.
    (
        ev.write.mode("overwrite")
        .option("header", True)
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .option("nullValue", "\\N")
        .csv(out)
    )
    back = (
        spark.read.schema(
            "event_id bigint, event_type string, value double, props string"
        )
        .option("header", True)
        .option("multiLine", True)
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .option("nullValue", "\\N")
        .option("emptyValue", "")
        .csv(out)
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        # try_cast, not cast (r14 events fuzz): a props value whose k is a
        # non-numeric string ('{"k": "abc"}') ANSI-aborted the whole round
        # trip; one dirty row must degrade to NULL, not kill the sink job.
        # Exact DECIMAL(38,0) sum + final try_cast, not try_sum (r15,
        # ADVICE r14): try_sum NULLs on PARTIAL int64 overflow (partition-
        # order-dependent for mixed-sign groups whose true sum fits) where
        # the oracle's HUGEINT SUM NULLs only on true-sum overflow.
        F.expr(
            "try_cast(sum(cast(try_cast(get_json_object(props, '$.k')"
            " AS bigint) AS decimal(38,0))) AS bigint)"
        ).alias("sum_k"),
    )


# ---------------------------------------------------------------------------
# scan_text — line-oriented text source (round 5)
# ---------------------------------------------------------------------------

_SCAN_TEXT_ORACLE = """
SELECT doc_id, text FROM documents WHERE doc_id < 200
"""


@query("scan_text", oracle=_SCAN_TEXT_ORACLE)
def scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-file source: write a doc slice as one tab-separated line per
    document, read it back with the line reader, re-split. Text is the
    rawest corpus interchange format; the round trip is lossless here
    because the fixture text contains neither tabs nor newlines, so the
    read-back set hash-matches the parquet-derived oracle exactly. At
    100 TB the same reader streams line-splittable shards in parallel —
    one task per 128 MB split, no footer required."""
    path = sink_dir(sf_dir, "text_docs")
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    d.select(
        F.concat_ws("\t", F.col("doc_id").cast("string"), "text").alias("value")
    ).write.mode("overwrite").text(path)
    back = spark.read.text(path)
    tab = F.instr("value", "\t")
    return back.select(
        F.substring("value", 1, tab - 1).cast("bigint").alias("doc_id"),
        F.substring("value", tab + 1, F.length("value")).alias("text"),
    )


# ---------------------------------------------------------------------------
# scan_binaryfile — whole-file binary source (round 5)
# ---------------------------------------------------------------------------

_SCAN_BINARY_ORACLE = """
-- strlen = BYTE length (Spark sums bytes of file content); length() counts
-- characters and agrees only while the fixture text is pure ASCII
SELECT CAST(1 AS BIGINT) AS n_files,
       CAST(SUM(strlen(CAST(doc_id AS VARCHAR) || '	' || text) + 1) AS BIGINT)
         AS total_bytes
FROM documents WHERE doc_id < 200
"""


@query("scan_binaryfile", oracle=_SCAN_BINARY_ORACLE)
def scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque binary-file source — the multimodal ingestion entry point
    (images/audio arrive as whole files, not rows). Writes the scan_text
    slice as ONE file (coalesce(1) pins the file count), reads it back via
    the binaryFile reader, and reports file count + total payload bytes.
    Bytes are line-content-derived (sum of line length + newline), so the
    oracle recomputes them from the table regardless of row order inside
    the file. At 100 TB: binaryFile gives (path, length, content) per
    file with one task per file — pair it with mapInPandas decoders
    (x_multimodal_binary) for the decode stage."""
    path = sink_dir(sf_dir, "binary_docs")
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    d.select(
        F.concat_ws("\t", F.col("doc_id").cast("string"), "text").alias("value")
    ).coalesce(1).write.mode("overwrite").text(path)
    files = spark.read.format("binaryFile").load(path)
    return files.agg(
        F.count("*").alias("n_files"),
        F.sum(F.length("content")).cast("bigint").alias("total_bytes"),
    )


# ---------------------------------------------------------------------------
# scan_jdbc — JDBC source/sink round trip with a partitioned read (round 5)
# ---------------------------------------------------------------------------

_SCAN_JDBC_ORACLE = """
SELECT n_nationkey, n_name, n_regionkey FROM nation
"""

_DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"


@query("scan_jdbc", oracle=_SCAN_JDBC_ORACLE)
def scan_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC connector round trip against the embedded Derby engine that
    ships on Spark's classpath: write the nation dim to a JDBC table, read
    it back as a PARTITIONED scan (partitionColumn/numPartitions=4 — four
    concurrent connections each fetching a key range, the pattern that
    parallelizes RDBMS extraction at scale). The in-memory Derby URL is
    single-JVM, which local mode satisfies; on a real cluster the same
    code points at a networked RDBMS — only the URL changes. Lossless
    round trip ⇒ full oracle against the original parquet."""
    tag = os.path.basename(sf_dir.rstrip("/"))
    url = f"jdbc:derby:memory:rhds_{tag};create=true"
    n = load(spark, sf_dir, "nation")
    (
        n.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "nation_jdbc")
        .option("driver", _DERBY_DRIVER)
        .mode("overwrite")
        .save()
    )
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "nation_jdbc")
        .option("driver", _DERBY_DRIVER)
        .option("partitionColumn", "n_nationkey")
        .option("lowerBound", "0")
        .option("upperBound", "25")
        .option("numPartitions", "4")
        .load()
        .select("n_nationkey", "n_name", "n_regionkey")
    )


# ---------------------------------------------------------------------------
# sink_compact — small-file compaction planner over sink output (round 7)
# ---------------------------------------------------------------------------

_COMPACT_TARGET_ROWS = 800  # rows per compacted file at fixture scale


_SINK_COMPACT_ORACLE = f"""
WITH inv AS (
  SELECT l_returnflag, l_orderkey % 16 AS shard_id, COUNT(*) AS n_rows
  FROM lineitem GROUP BY l_returnflag, l_orderkey % 16
),
plan AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n_files,
         CAST(SUM(n_rows) AS BIGINT) AS n_rows,
         CAST(CEIL(CAST(SUM(n_rows) AS DOUBLE) / {_COMPACT_TARGET_ROWS})
              AS BIGINT) AS target_files
  FROM inv GROUP BY l_returnflag
)
SELECT l_returnflag, n_files, n_rows, target_files,
       CASE WHEN n_files > target_files THEN 'COMPACT' ELSE 'OK' END AS verdict
FROM plan
"""


@query("sink_compact", oracle=_SINK_COMPACT_ORACLE)
def sink_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner: write a deliberately over-sharded
    partitioned sink (partitionBy(l_returnflag, shard) after a same-key
    repartition — exactly one parquet file per (flag, shard) directory, 48
    directories for ~60 k rows: the classic small-files pathology every
    streaming/partitioned ingest produces), then read the PHYSICAL file
    inventory back via input_file_name() and emit the compaction plan
    per partition: file count, row count, the target file count at
    _COMPACT_TARGET_ROWS rows/file, and a COMPACT/OK verdict.

    The oracle recomputes the same plan from pure key arithmetic — it can
    because the write is deterministic (one file per modulus shard), so a
    hash-pass proves the physical layout on disk is exactly the one the
    write contract promises: file counts came from real directory
    listings, not from the same arithmetic.

    This is the planning half of OPTIMIZE/rewrite_data_files (Delta,
    Iceberg): the plan is partition-count-sized metadata, computed with
    one distributed file-listing scan (input_file_name is evaluated in
    the scan stage — no driver-side listFiles loop), and each COMPACT
    verdict maps to one independent rewrite job. At 100 TB the same query
    runs over the table's file manifest; rows-per-file generalizes to
    bytes-per-file with target 128 MB–1 GB, and the verdict threshold
    gains a min-file-count guard so near-target partitions aren't
    rewritten for a 2-file win."""
    out = sink_dir(sf_dir, "lineitem_smallfiles")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_quantity",
        "l_returnflag",
        (F.col("l_orderkey") % 16).cast("bigint").alias("shard_id"),
    )
    (
        li.repartition("l_returnflag", "shard_id")
        .write.mode("overwrite")
        .partitionBy("l_returnflag", "shard_id")
        .parquet(out)
    )
    inv = (
        # explicit schema: empty-write-safe read-back (see sink_partitioned)
        spark.read.schema(li.schema)
        .parquet(out)
        .select("l_returnflag", F.input_file_name().alias("fname"))
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("fname").alias("n_files"),
            F.count("*").alias("n_rows"),
        )
    )
    return inv.select(
        "l_returnflag",
        "n_files",
        "n_rows",
        F.ceil(F.col("n_rows") / F.lit(float(_COMPACT_TARGET_ROWS)))
        .cast("bigint")
        .alias("target_files"),
        F.when(
            F.col("n_files")
            > F.ceil(F.col("n_rows") / F.lit(float(_COMPACT_TARGET_ROWS))),
            "COMPACT",
        )
        .otherwise("OK")
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# scan_partition_pruned — directory pruning on a persisted partitioned layout
# ---------------------------------------------------------------------------

_SCAN_PART_PRUNED_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderpriority
"""


@query("scan_partition_pruned", oracle=_SCAN_PART_PRUNED_ORACLE)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-side twin of sink_partitioned: scan a PERSISTED Hive-style
    ``o_orderpriority=...`` layout with a partition-key predicate, so the
    filter is satisfied by DIRECTORY pruning (PartitionFilters in the scan
    node) rather than row-group statistics (PushedFilters) — 2 of 5
    directories are ever listed, and zero data bytes of the other three are
    read. tests/test_plans.py pins exactly that plan shape: the predicate
    must appear under PartitionFilters and must NOT fall through to the
    data-filter path.

    The layout is built once per source dataset via
    artifacts.ensure_artifact (content-fingerprinted, atomically
    published), which is the ingest-once half of the pattern: at 100 TB
    the partitioned table already exists — reading it with partition
    predicates IS the dominant scan shape, and this query is that path.
    The oracle recomputes the aggregate from the ORIGINAL parquet, so a
    hash-pass additionally proves the partitioned round trip lost nothing
    (keys, doubles, and the partition values themselves, which Spark
    re-reads from directory names, not file contents)."""

    src = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )

    def build(tmp: str) -> None:
        (
            src.repartition("o_orderpriority")
            .write.mode("overwrite")
            .partitionBy("o_orderpriority")
            .parquet(tmp)
        )

    loc, _ = ensure_artifact(
        spark, sf_dir, "orders_by_priority", ["orders.parquet"], build
    )
    return (
        # explicit schema: empty-write-safe read-back (see sink_partitioned)
        spark.read.schema(src.schema)
        .parquet(loc)
        .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )
