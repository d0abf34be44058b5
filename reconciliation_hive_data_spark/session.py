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
- DataFrame call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled``). PySpark 4 turns it
  on by default, and every ``functions.*``, ``Column`` and ``DataFrame``
  call then runs through ``pyspark.errors.utils._with_origin``: an active
  session lookup, a JVM class lookup, a ``spark.conf.get`` of the stack
  depth and a ``PySparkCurrentOrigin`` set and clear, each a py4j round
  trip, plus a Python stack walk and a failed ``import IPython`` that
  scans ``sys.path``. Building the plans of the benchmark's
  ``recon_dirty`` pair sends this many py4j commands per call (object
  releases not counted), with the capture on and off:

  ==============================  ======  =====
  call                            on      off
  ==============================  ======  =====
  ``ReconPair.summary()``         7,258   1,968
  ``bucket_hash_report``          3,173   1,213
  ``ReconPair.cell_diff()``       1,363     483
  ==============================  ======  =====

  What it costs: a runtime error's DataFrame query context no longer names
  the PySpark ``file:line`` that built the failing expression; the error
  class and message are unchanged. PySpark reads the setting once, at the
  first decorated call in the process (``is_debugging_enabled()`` caches
  it), so ``get_spark`` sets it before the session starts: a
  ``spark.conf.set`` on a running session comes too late. A session built elsewhere, such as one passed
  to ``__spark_entry__``, keeps PySpark's default.
- AQE may change the output partitioning of a persisted plan
  (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``). Spark
  plans a ``.persist()``ed query with AQE's partition coalescing off by
  default, so every scan of a persisted aggregate would run one task
  per shuffle partition, however few rows it holds. With the conf on, AQE
  coalesces the cached plan's shuffles by their runtime size like any
  other plan's. What it costs: a consumer that joins or groups a cached
  frame on the key it was shuffled by may need an exchange it skipped
  before, because the cached output no longer promises that
  partitioning. None of the engine's persisted frames gained one. Same
  process at sf0.01 on 4 cores, conf off and on, ``fn()`` plus the noop
  write, median of 6 warm runs:

  =========================  ===============  ===============
  query                      time             tasks
  =========================  ===============  ===============
  ``x_bpe_rounds_n``         1.57 → 0.92 s    169 → 14
  ``recon_remediate``        2.09 → 1.71 s    138 → 14
  ``recon_remediate_apply``  3.43 → 3.04 s    151 → 27
  =========================  ===============  ===============

  ``x_dedup_near``, ``x_dedup_containment``, ``x_minhash_jaccard_est``,
  ``x_dedup_simhash_banded`` and ``x_dedup_minhash_mllib`` also persist
  frames; they kept the same jobs, stages and tasks, and their times
  stayed within noise.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .artifacts import process_tmp_root


def get_spark(
    app_name: str = "reconciliation-hive-data-spark",
    shuffle_partitions: int = 32,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # Scan-parallelism floor, the session width: a single small parquet
    # file is one split, so every projection after the scan, CPU-bound
    # interpreted folds included, would run on one core (and a broadcast
    # join keeps that partitioning). The floor splits small inputs across
    # the session's cores; at production scale splits far outnumber cores
    # and the floor does nothing.
    scan_min = cpus if cpus != "*" else str(os.cpu_count() or 1)
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
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
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
