"""SparkSession builder for tests/bench.

The driver harness supplies its own session to ``__spark_entry__``; this
builder is for our own tests and bench runs. Conf choices (SURVEY.md §4/§6):

- AQE on: runtime shuffle coalescing, skew-join mitigation, broadcast
  conversion — the levers a 1000-executor deployment relies on.
- ``spark.sql.shuffle.partitions`` small for local sf<=0.1 benches (the
  200-partition default is pure scheduling overhead at this scale); on a
  real cluster this is AQE-managed from ``initialPartitionNum``.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- Arrow enabled for any pandas-UDF path.
- Generated code is reused across calls. The codegen class cache holds
  1000 entries (``spark.sql.codegen.cache.maxEntries``; Spark's default
  is 100), and class names carry no whole-stage codegen id
  (``spark.sql.codegen.useIdInClassName`` off). The cache is keyed by
  source text, and AQE numbers codegen stages in the order its query
  stages get planned, which varies between runs of one plan; with the id
  in the name, an unchanged plan could miss the cache. One pass of the
  benchmark's ``recon_dirty`` workload (ReconPair summary, key_diff,
  cell_diff and the bucket hash report on a 10k-row pair) needs 97
  classes. At 100 entries that working set evicts itself, and every pass
  recompiled about 80 classes; at 1000 a steady pass compiles none.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .artifacts import process_tmp_root


def get_spark(
    app_name: str = "reconciliation-hive-data-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    # Scan-parallelism floor, derived from the session width: a single
    # small parquet file is one split, so every projection after the scan,
    # CPU-bound interpreted folds included, would run on one core (and a
    # broadcast join keeps that partitioning). The floor splits small
    # inputs across the session's cores; at production scale splits far
    # outnumber cores and the floor does nothing. Env override, defaults
    # to the session width.
    scan_min = os.environ.get(
        "SPARK_SCAN_MIN_PARTITIONS",
        cpus if cpus != "*" else str(os.cpu_count() or 1),
    )
    # The floor only splits a file when the per-file open cost does not
    # dominate it: maxSplitBytes = min(maxPartitionBytes, max(
    # openCostInBytes, (totalBytes + nFiles * openCost) / minPartitionNum)),
    # so at the default 4 MB open cost only tables of 4 MB or more split.
    # A lower openCostInBytes (64 KB, 256 KB) did not measurably speed up
    # the fixture queries, so the engine default stays.
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.minPartitionNum", scan_min)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # Spark SQL + Hive integration (the reference's metastore-backed world):
    # embedded Derby metastore, homed in a per-process temp directory
    # (removed at exit) so concurrent sessions don't fight over the Derby
    # lock. Falls back to the in-memory catalog if Hive classes are
    # unavailable.
    builder = builder.config(
        "spark.driver.extraJavaOptions",
        f"-Dderby.system.home={process_tmp_root('rhds_derby_')}",
    )
    try:
        return builder.enableHiveSupport().getOrCreate()
    except Exception:
        return builder.getOrCreate()
