"""Structured Streaming operators (SURVEY.md §2k).

Pattern: every stream runs the events fixture through
``readStream → transform → memory sink`` with ``Trigger.AvailableNow`` (the
stream processes the whole fixture as micro-batches, then stops), and the
returned DataFrame is the sink table — so the driver's oracle compares the
STREAM's output against the equivalent batch SQL (the "batch twin",
SURVEY.md §3.4). Only the watermark op stays rows-only: which windows are
finalized in append mode depends on micro-batch timing.

At scale these are the same queries against Kafka/file sources: state lives
in the per-partition StateStore, watermarks bound it, and the memory sink
becomes foreachBatch → parquet (s_foreachbatch shows that path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import sink_dir
from ..catalog import load
from ..registry import query

_EVENTS_RAW_SCHEMA = (
    "event_id bigint, ts bigint, user_id bigint, event_type string,"
    " value double, props string"
)

#: Schema for fixture vintages whose events.ts is a native µs timestamp
#: (no nanos-as-long read needed; TimestampType matches the batch path's
#: post-cast type so stream and batch twins stay value-identical).
_EVENTS_TS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string,"
    " value double, props string"
)

_counter = 0

#: State-store partition count for the fixture-scale replays. Streaming
#: state cost scales with partition count (one state dir + commit per
#: partition per batch), and 150 users don't need 32 of them — measured 2×
#: on the bench. At production scale this is sized to key cardinality ×
#: throughput, not left at the batch shuffle default.
_STREAM_STATE_PARTITIONS = "8"


#: Confs scoped to a stream run by :class:`_stream_conf`: state partition
#: count (the first checkpoint freezes the query's state partitioning) and
#: the nanos-as-long legacy parquet read (needed while micro-batches read
#: the ns-timestamp events file; restored afterwards so it never leaks into
#: later batch reads on the shared session).
_STREAM_CONFS = {
    "spark.sql.shuffle.partitions": _STREAM_STATE_PARTITIONS,
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


class _stream_conf:
    """Scoped session-conf overrides for one stream run (set on enter,
    restored to their prior values — or unset — on exit)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self.saved = {k: self.spark.conf.get(k, None) for k in _STREAM_CONFS}
        for k, v in _STREAM_CONFS.items():
            self.spark.conf.set(k, v)

    def __exit__(self, *exc):
        for k, prev in self.saved.items():
            if prev is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, prev)
        return False


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet (ns timestamps read as int64 and
    truncated to µs — same normalization as the batch path in catalog.load,
    so stream and batch twin see identical values). The explicit schema
    means no footer inference happens here; the nanos-as-long conf is
    applied by :class:`_stream_conf` around the actual micro-batch run."""
    from reconciliation_hive_data_spark.catalog import events_ts_is_nanos

    nanos = events_ts_is_nanos(sf_dir)
    schema = _EVENTS_RAW_SCHEMA if nanos else _EVENTS_TS_SCHEMA
    # the file stream source wants a directory; glob-filter to the one table
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir.rstrip("/"))
    )
    if nanos:
        return raw.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    return raw


def _run_to_memory(
    stream_df: DataFrame, name: str, mode: str = "complete"
) -> DataFrame:
    """Run an availableNow stream into a memory sink in output ``mode``
    (complete, append or update), return the sink."""
    global _counter
    _counter += 1
    table = f"{name}_{_counter}"
    with _stream_conf(stream_df.sparkSession):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(table)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return stream_df.sparkSession.table(table)


# ---------------------------------------------------------------------------
# src_stream — stream source replay == batch scan
# ---------------------------------------------------------------------------

_SRC_ORACLE = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
"""


@query("src_stream", oracle=_SRC_ORACLE)
def src_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream replay of events, aggregated per type — must
    equal the batch scan exactly (exactly-once file source semantics)."""
    s = _events_stream(spark, sf_dir)
    agg = s.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )
    return _run_to_memory(agg, "src_stream")


# ---------------------------------------------------------------------------
# s_tumbling — tumbling-window aggregation
# ---------------------------------------------------------------------------

_TUMBLING_ORACLE = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


@query("s_tumbling", oracle=_TUMBLING_ORACLE)
def s_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour tumbling window counts/sums on the stream; batch twin =
    date_trunc('hour')."""
    s = _events_stream(spark, sf_dir)
    agg = s.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )
    out = agg.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type",
        "n",
        "sum_value",
    )
    return _run_to_memory(out, "s_tumbling")


# ---------------------------------------------------------------------------
# s_sliding — sliding window (1 h window / 15 min slide)
# ---------------------------------------------------------------------------

_SLIDING_ORACLE = """
WITH k AS (SELECT unnest(range(0, 4)) AS k),
assigned AS (
  SELECT time_bucket(INTERVAL '15 minutes', e.ts) - k.k * INTERVAL '15 minutes'
           AS win_start,
         e.event_id, e.value
  FROM events e CROSS JOIN k
)
SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM assigned GROUP BY win_start
"""


@query("s_sliding", oracle=_SLIDING_ORACLE)
def s_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window 1h/15min: each event lands in 4 windows. The batch
    twin assigns windows arithmetically (bucket − k·slide) — same semantics
    Spark's window() uses internally."""
    s = _events_stream(spark, sf_dir)
    agg = s.groupBy(F.window("ts", "1 hour", "15 minutes")).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )
    out = agg.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "n",
        "sum_value",
    )
    return _run_to_memory(out, "s_sliding")


# ---------------------------------------------------------------------------
# s_session — gap-based session windows (30 min)
# ---------------------------------------------------------------------------

_SESSION_ORACLE = """
WITH o AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                   > 1800 OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sess AS (
  -- (ts, event_id) tiebreak, matching CTE o's lag ordering: the ROWS-frame
  -- cum over a ts-only ORDER relied on DuckDB's stable sort to keep tied
  -- (user, ts) rows in event_id order (r16 probe: 60 shuffled corpora
  -- never forked, but it is the engines' incidental stability, not a
  -- contract — the repo convention pins the tiebreak explicitly)
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM o
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events
FROM sess GROUP BY user_id, session_id
"""


@query("s_session", oracle=_SESSION_ORACLE)
def s_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user on the stream via
    session_window(); the batch twin is the lag+cumulative-sum session-id
    assignment — the two formulations must agree on session membership
    counts (SURVEY.md §7.3.5). Output is keyed by (user, session ordinal)
    so the comparison is timestamp-layout-independent."""
    s = _events_stream(spark, sf_dir)
    agg = s.groupBy(
        F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
    ).agg(F.count("*").alias("n_events"))
    sessions = agg.select("user_id", F.col("w.start").alias("start"), "n_events")
    sunk = _run_to_memory(sessions, "s_session")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("start")
    return sunk.select(
        "user_id",
        F.row_number().over(w).cast("bigint").alias("session_id"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# s_watermark — late-data drop (timing-dependent ⇒ rows-only)
# ---------------------------------------------------------------------------


@query("s_watermark", oracle=None)
def s_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling agg in append mode: a 10-minute watermark gates
    state eviction and late-row handling. Which windows are finalized
    depends on micro-batch boundaries ⇒ rows-only by design; the
    metamorphic checks live in tests/test_round12_properties.py — exact
    batch-twin equality on the closed-window set for the single-file
    fixture replay, and a controlled multi-batch stream proving the
    watermark drops stragglers whose window state was evicted."""
    s = _events_stream(spark, sf_dir)
    late = s.withColumn(
        "ts",
        F.when(
            F.col("event_id") % 500 == 0, F.col("ts") - F.expr("INTERVAL 2 HOURS")
        ).otherwise(F.col("ts")),
    )
    agg = (
        late.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "win_start"
            ),
            "n",
        )
    )
    return _run_to_memory(agg, "s_watermark", "append")


# ---------------------------------------------------------------------------
# s_dedup_state — stateful stream dedup
# ---------------------------------------------------------------------------


_DEDUP_STATE_ORACLE = """
SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
FROM events GROUP BY event_type
"""


@query("s_dedup_state", oracle=_DEDUP_STATE_ORACLE)
def s_dedup_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful dropDuplicates across micro-batches: first occurrence per
    event_id wins, dedup state bounded by the watermark. Duplicates are
    injected by unioning the stream with itself; deduplication must recover
    exactly the distinct event set (the oracle's batch COUNT DISTINCT)."""
    s = _events_stream(spark, sf_dir)
    dup = s.unionByName(s)  # every event twice across the replay
    dedup = (
        dup.withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_unique"))
    )
    return _run_to_memory(dedup, "s_dedup_state")


# ---------------------------------------------------------------------------
# s_stream_static — stream ⋈ static dimension
# ---------------------------------------------------------------------------

_STREAM_STATIC_ORACLE = """
SELECT c.c_mktsegment AS c_mktsegment, COUNT(*) AS n,
       CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
"""


@query("s_stream_static", oracle=_STREAM_STATIC_ORACLE)
def s_stream_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static join: enrich the event stream with the customer dim
    (broadcast per micro-batch), aggregate per segment — equals the batch
    join exactly."""
    s = _events_stream(spark, sf_dir)
    c = load(spark, sf_dir, "customer")
    j = s.join(F.broadcast(c), s.user_id == c.c_custkey)
    agg = j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )
    return _run_to_memory(agg, "s_stream_static")


# ---------------------------------------------------------------------------
# s_stateful_custom — applyInPandasWithState custom stateful operator
# ---------------------------------------------------------------------------

_STATEFUL_ORACLE = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(MAX(value) AS DOUBLE) AS max_value,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY user_id
"""


@query("s_stateful_custom", oracle=_STATEFUL_ORACLE)
def s_stateful_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState: a
    per-user accumulator (count, max, exact decimal sum) carried in
    GroupState across micro-batches. The replay covers the whole fixture, so
    on completion the state equals the batch aggregate — giving the custom
    state path a full oracle. The exact-sum discipline carries into Python:
    values are accumulated as integer micro-units (value × 10⁶, exact for
    the 2-dp fixture domain), mirroring canonical.money_sum."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    s = _events_stream(spark, sf_dir).select("user_id", "value")

    def track(key, pdfs, state: GroupState):
        # k counts NON-null values: SQL's MAX/SUM skip nulls and are NULL
        # when every value is null, while n_events counts every row — the
        # accumulator mirrors that split exactly (a NaN reaching the
        # int64 micro-unit cast raised and aborted the whole stream; found
        # by the r12 streaming fuzz on a null-valued event)
        n, k, mx, total_u = (
            state.get if state.exists else (0, 0, float("-inf"), 0)
        )
        for pdf in pdfs:
            n += len(pdf)
            vals = pdf["value"].dropna()
            if len(vals):
                k += len(vals)
                mx = max(mx, float(vals.max()))
                # vectorized micro-unit accumulation: one Arrow-batch-wide
                # pandas op, no per-row Python interpreter loop
                total_u += int(
                    (vals * 1_000_000).round().astype("int64").sum()
                )
        state.update((n, k, mx, total_u))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "max_value": [mx if k else None],
                "sum_value": [total_u / 1_000_000.0 if k else None],
            }
        )

    out = s.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType="user_id bigint, n_events bigint, max_value double,"
        " sum_value double",
        stateStructType="n bigint, k bigint, mx double, total_u bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sunk = _run_to_memory(out, "s_stateful_custom", "update")
    # update-mode emits one row per (user, batch); keep each user's final row
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        sunk.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# s_foreachbatch — micro-batch parquet sink with checkpoint
# ---------------------------------------------------------------------------


_FOREACHBATCH_ORACLE = """
SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
"""


@query("s_foreachbatch", oracle=_FOREACHBATCH_ORACLE)
def s_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: each micro-batch appends to parquet under a
    checkpointed query — the exactly-once-ish production sink pattern. The
    re-read output must carry every event exactly once (batch oracle)."""
    import shutil

    out = sink_dir(sf_dir, "foreachbatch_out")
    ckpt = sink_dir(sf_dir, "foreachbatch_ckpt")
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    s = _events_stream(spark, sf_dir).select("event_id", "event_type", "value")

    def write_batch(df: DataFrame, epoch_id: int) -> None:
        df.write.mode("append").parquet(out)

    with _stream_conf(spark):
        q = (
            s.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# s_stateful_v2 — transformWithStateInPandas (Spark 4 arbitrary state v2)
# ---------------------------------------------------------------------------

_STATEFUL_V2_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
"""


def _state_v2_available() -> bool:
    """transformWithStateInPandas speaks protobuf between the JVM and its
    Python state server; without the google.protobuf runtime the query
    crashes at plan time, so registration is gated on the import."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _register_if(available: bool, name: str, oracle: str):
    if available:
        return query(name, oracle=oracle)
    return lambda fn: fn


@_register_if(_state_v2_available(), "s_stateful_v2", _STATEFUL_V2_ORACLE)
def s_stateful_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful processing via the Spark 4 state-v2 API
    (``transformWithStateInPandas`` + ``StatefulProcessor`` with typed
    ``ValueState``): a per-event-type accumulator carried across
    micro-batches — the successor API to applyInPandasWithState
    (s_stateful_custom keeps the v1 surface) with composite state types,
    timers, and TTL. The replay covers the whole fixture, so final state
    equals the batch aggregate and the custom-state path gets a full
    oracle. Same exact-sum discipline: integer micro-units (value × 10⁶),
    vectorized over each Arrow batch.

    Registered only where google.protobuf is importable (the state-v2
    plan-time schema handshake needs it); in this container it is absent,
    so the v1 surface (s_stateful_custom) carries the driver row and this
    function documents the forward path. tests/test_session_micro.py has
    the gated smoke test."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.totals = handle.getValueState("totals", "n BIGINT, total_u BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            n, total_u = self.totals.get() if self.totals.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                if len(pdf):
                    total_u += int(
                        (pdf["value"] * 1_000_000).round().astype("int64").sum()
                    )
            self.totals.update((n, total_u))
            yield pd.DataFrame(
                {
                    "event_type": [key[0]],
                    "n_events": [n],
                    "sum_value": [total_u / 1_000_000.0],
                }
            )

        def close(self) -> None:
            pass

    s = _events_stream(spark, sf_dir).select("event_type", "value")
    out = s.groupBy("event_type").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType="event_type string, n_events bigint, sum_value double",
        outputMode="Update",
        timeMode="None",
    )
    sunk = _run_to_memory(out, "s_stateful_v2", "update")
    # update-mode emits one row per (key, batch); keep each key's final row
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy(F.col("n_events").desc())
    return (
        sunk.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# s_checkpoint_resume — incremental availableNow runs over one checkpoint
# ---------------------------------------------------------------------------

_CKPT_RESUME_ORACLE = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
"""


@query("s_checkpoint_resume", oracle=_CKPT_RESUME_ORACLE)
def s_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion via checkpoint resume — the periodic-batch
    streaming pattern (run AvailableNow on a schedule; each run processes
    ONLY files that arrived since the last, exactly once): stage half the
    events, run a stream into a parquet sink with a checkpoint, stage the
    other half, run the SAME stream again over the same checkpoint. The
    second run's source offset log skips batch one's files, yet the sink
    must aggregate to exactly the full batch result — duplicates would
    mean the checkpoint failed to deduplicate the replay, gaps would mean
    the new files were missed. Dirs are cleaned per call so every bench
    reps sees the same two-step story."""
    import shutil

    base = sink_dir(sf_dir, "ckpt_resume")
    src, sink, ckpt = f"{base}/src", f"{base}/sink", f"{base}/ckpt"
    shutil.rmtree(base, ignore_errors=True)

    ev = load(spark, sf_dir, "events")
    # the two staging filters must PARTITION the table (r14 events fuzz):
    # C-style `% 2` is -1 for negative ids and NULL for NULL ids, so the
    # old `== 0` / `== 1` pair silently dropped those rows from BOTH
    # batches; pmod is nonnegative and the complement keeps NULL ids
    even = F.pmod(F.col("event_id"), 2) == 0
    ev.filter(even).write.parquet(f"{src}/batch1")
    # parquet ts is already µs-normalized by catalog.load ⇒ plain ts schema
    stream = (
        spark.readStream.schema(_EVENTS_TS_SCHEMA)
        .format("parquet")
        .option("recursiveFileLookup", "true")
        .load(src)
    )

    def run_once() -> None:
        with _stream_conf(spark):
            q = (
                stream.writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    run_once()
    ev.filter(~even | even.isNull()).write.parquet(f"{src}/batch2")
    run_once()
    return (
        spark.read.schema(_EVENTS_TS_SCHEMA)
        .parquet(sink)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )
