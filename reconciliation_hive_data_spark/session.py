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
    # Scan-parallelism FLOOR, derived from session width (r19, guide §6 /
    # §2 "make partitioning scale-adaptive"): a single small parquet file
    # is one 128MB-rule split, so every post-scan projection — including
    # CPU-bound interpreted folds like the cosine families — ran on ONE
    # core at bench scale (and a broadcast join keeps that partitioning).
    # The floor splits small inputs across the session's cores; at
    # production scale splits >> cores and the floor is a no-op. Env
    # override, defaults to the session width.
    scan_min = os.environ.get(
        "SPARK_SCAN_MIN_PARTITIONS",
        cpus if cpus != "*" else str(os.cpu_count() or 1),
    )
    # NOTE (r19 probe): the floor only bites when the per-file open cost
    # doesn't dominate it — maxSplitBytes = min(maxPartitionBytes,
    # max(openCostInBytes, (totalBytes + nFiles*openCost) /
    # minPartitionNum)) — so at the default 4 MB open cost only the
    # ≥4 MB fixture tables actually split. Lowering openCostInBytes to
    # 64 KB/256 KB to spread the sub-4 MB tables measured at the noise
    # floor over an 18-query slice (26.5 / 28.4 / 27.5 s for 64 K /
    # 256 K / 4 M) — the same verdict r18 reached for this knob — so the
    # engine default stays.
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
