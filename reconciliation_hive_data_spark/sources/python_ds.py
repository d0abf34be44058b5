"""Custom Python data source (Spark 4 DataSource API) — SURVEY.md §2a.

The Python DataSource API is Spark 4's extension point for connectors
without a JVM implementation: the reader declares its own InputPartitions
and each partition's ``read`` generator runs in a Python worker — real
parallel ingestion, plannable like any other scan. This module registers a
deterministic synthetic source (md5-derived columns) so the connector
machinery itself — registration, option passing, partition planning,
per-partition generators, Arrow hand-off — is oracle-verified: DuckDB
recomputes the identical rows from ``range()`` + md5.

At 100 TB the same four methods wrap any partitioned upstream (a REST
API with page tokens, a message queue with offset ranges, an in-house
storage format): one InputPartition per shard/page-range, and Spark
schedules them like file splits.
"""

from __future__ import annotations

import hashlib
import sys

from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from ..registry import query

_N = 2000
_PARTS = 8


class SynthReader(DataSourceReader):
    """Round-robin partitioned generator: partition p yields ids p, p+P,
    p+2P, ... — every partition is computable independently (no scan-time
    coordination), the property that lets Spark schedule the reads like
    file splits."""

    def __init__(self, options) -> None:
        self.n = int(options.get("n", _N))
        self.parts = int(options.get("parts", _PARTS))

    def partitions(self):
        return [InputPartition(i) for i in range(self.parts)]

    def read(self, partition):
        for i in range(partition.value, self.n, self.parts):
            h = hashlib.md5(str(i).encode()).hexdigest()
            yield (i, int(h[:2], 16) % 16, h[:8])


class SynthSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "rhds_synth"

    def schema(self) -> str:
        return "id bigint, bucket int, tag string"

    def reader(self, schema) -> SynthReader:
        return SynthReader(self.options)


_PYDS_ORACLE = f"""
SELECT range AS id,
       (('0x' || substr(md5(CAST(range AS VARCHAR)), 1, 2))::INTEGER % 16)
         AS bucket,
       substr(md5(CAST(range AS VARCHAR)), 1, 8) AS tag
FROM range({_N})
"""


@query("src_python_ds", oracle=_PYDS_ORACLE)
def src_python_ds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python data source end-to-end: register the connector class,
    read with options, 8 Python-worker partitions stream their rows
    through Arrow. The md5-derived columns make every row a pure function
    of its id, so DuckDB's range()-based twin hash-verifies the whole
    connector path. The module is pickled by value, so the Python workers
    need not import this package (they may run in any working directory)."""
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    spark.dataSource.register(SynthSource)
    return (
        spark.read.format("rhds_synth")
        .option("n", str(_N))
        .option("parts", str(_PARTS))
        .load()
    )
