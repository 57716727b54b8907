"""Structured Streaming operators over the events stream.

The reference has no streaming surface (Celery/Redis queueing intent
only, SURVEY.md §2.8); this is the Spark-native extension (§7.5):
event-time tumbling windows with watermark late-data policy, and session
windows. Semantics are defined by batch equivalence: the streaming
aggregation over a finite input must equal the corresponding batch
aggregation (tests/test_streaming.py), which is also what the
oracle-checked batch query ``q_events_window`` pins down.

Scale posture: watermark bounds state; windowed agg state is keyed by
(window, event_type) — low cardinality; file source here, Kafka in
production (same plan shape).

This module also holds the micro-batch harness every streaming query
in the package runs on: ``batch_file_stream`` (one parquet file per
micro-batch), ``drain_batches`` (the foreachBatch log drain) and
``run_to_completion`` (the memory-sink drain).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ai_data_pipeline_spark.catalog import load_table, normalize_timestamps, raw_table
from ai_data_pipeline_spark.session import session_scoped_cache
from ai_data_pipeline_spark.sources.readers import scratch_dir

def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-based streaming source over the events parquet (one file =
    one micro-batch under availableNow), under the schema the parquet
    itself reports and with ts normalized exactly as load_table does
    (session TZ is UTC, so wall-clock is preserved). A table written by
    Spark is a directory of part files and streams as that directory;
    the file source takes only directories, so a single file streams
    its parent under a file-name filter."""
    schema = raw_table(spark, sf_dir, "events").schema
    reader = spark.readStream.schema(schema).format("parquet")
    path = f"{sf_dir}/events.parquet"
    if os.path.isdir(path):
        raw = reader.load(path)
    else:
        raw = reader.option("pathGlobFilter", "events.parquet").load(sf_dir)
    return normalize_timestamps(raw, "events")


def windowed_counts_stream(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Event-time tumbling 5-minute windows with late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_timestamp("window.start").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_windows_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-user session windows (inactivity gap) — streaming-native
    equivalent of the batch sessionize operator."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("session_window.start").alias("start_us"),
            F.unix_micros("session_window.end").alias("end_us"),
            "n_events",
        )
    )


USER_STATS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("n_batches", T.LongType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("s", T.DoubleType()),
        T.StructField("b", T.LongType()),
    ]
)


def _user_stats_fn(key, pdf_iter, state):
    """Custom stateful operator body: accumulate per-user event count and
    value sum across micro-batches in GroupState. Value sum accumulates
    in per-event order only within numpy (order within a user is not
    guaranteed across engines), so equivalence tests compare at reduced
    precision / counts."""
    n, s, b = state.get if state.exists else (0, 0.0, 0)
    for pdf in pdf_iter:
        n += len(pdf)
        s += float(pdf["value"].sum())
        b += 1
    state.update((n, s, b))
    import pandas as pd

    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "sum_value": [s], "n_batches": [b]}
    )


def user_stats_stateful(events: DataFrame, timeout: str = "NoTimeout") -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    running per-user totals maintained in explicit GroupState — the
    escape hatch for semantics window/session aggs can't express.

    Scale posture: state is keyed by user_id (hash-partitioned across
    executors), one small tuple per user; watermark-based timeout would
    bound state for abandoned keys in production ("EventTimeTimeout").
    Update-mode output emits the running totals every micro-batch.
    """
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _user_stats_fn,
            outputStructType=USER_STATS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=timeout,
        )
    )


# --- the micro-batch harness ----------------------------------------------
#
# Every streaming query in the package runs on these three: a file
# stream over a list of batch DataFrames, a foreachBatch drain into a
# batch_id-partitioned log, and a memory-sink drain.

_STAGED_MTIME = 1_700_000_000  # staged files get mtimes 60 s apart from here


def batch_file_stream(
    spark: SparkSession,
    batches: Callable[[], list[DataFrame]],
    memo: tuple | None = None,
    staged: bool = False,
) -> DataFrame:
    """A file stream with one micro-batch per DataFrame of ``batches()``:
    each is written as one ``file_<i>.parquet`` and read back with
    maxFilesPerTrigger=1, under the schema of the batches it wrote.

    Unstaged, the order in which the file source takes the files is
    left to it, so a query whose answer must not depend on arrival
    order is exercised without that assumption. ``staged`` sets the
    mtimes in list order (the file source orders by modification time)
    for the queries whose contract IS the arrival order.

    With a ``memo`` key the files are written once per (session, key)
    and reused: the batches are a deterministic function of an
    immutable sf_dir, the files are read-only to their consumers, and
    each consumer keeps its own sink and checkpoint. ``batches`` is
    called only when the files are built."""
    cache = session_scoped_cache(spark, "batch_file_source")
    hit = cache.get(memo)
    if hit is None:
        dfs = batches()
        tmp = scratch_dir("batches_")
        src = f"{tmp}/src"
        os.makedirs(src)
        for i, df in enumerate(dfs):
            df.coalesce(1).write.parquet(f"{tmp}/b{i}")
            part = next(f for f in os.listdir(f"{tmp}/b{i}") if f.endswith(".parquet"))
            dst = f"{src}/file_{i}.parquet"
            os.rename(f"{tmp}/b{i}/{part}", dst)
            if staged:
                os.utime(dst, (_STAGED_MTIME + 60 * i,) * 2)
        hit = (src, dfs[0].schema)
        if memo is not None:
            cache[memo] = hit
    src, schema = hit
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)


def drain_batches(
    stream: DataFrame,
    per_batch: Callable[[DataFrame], DataFrame],
    output_mode: str = "append",
) -> DataFrame:
    """Drain a finite stream with availableNow through foreachBatch and
    return the log it wrote. Each micro-batch's ``per_batch(batch_df)``
    lands in its own ``batch_id=<n>`` directory with per-directory
    overwrite, so a replayed batch replaces itself instead of
    duplicating: the foreachBatch half of exactly-once (the
    checkpoint's offset log is the other half). Executors write
    straight to the log; nothing passes through the driver. The log
    reads back under the schema the batches wrote, plus ``batch_id``,
    so no schema-inference pass runs."""
    sink = scratch_dir("log_")
    written = {}

    def write(batch_df: DataFrame, batch_id: int) -> None:
        out = per_batch(batch_df)
        written["schema"] = out.schema
        out.write.mode("overwrite").parquet(f"{sink}/batch_id={batch_id}")

    (
        stream.writeStream.outputMode(output_mode)
        .foreachBatch(write)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    schema = T.StructType(
        written["schema"].fields + [T.StructField("batch_id", T.IntegerType())]
    )
    return stream.sparkSession.read.schema(schema).option("basePath", sink).parquet(sink)


def run_to_completion(
    stream_df: DataFrame, query_name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drain a finite stream with availableNow into a memory sink and
    return the materialized result (complete mode for aggregations;
    update mode for stateful operators, whose memory-sink rows are the
    per-batch emissions)."""
    (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return stream_df.sparkSession.sql(f"SELECT * FROM {query_name}")


# --- driver-contract streaming queries -------------------------------------
#
# Each runs a genuine Structured Streaming job (availableNow trigger,
# memory sink) and returns the drained result, so the DuckDB oracle
# checks the streaming path end-to-end via batch equivalence: on a
# finite input, windowed/sessionized/stateful streaming aggregation
# must equal the batch aggregation (no late data arrives after the
# final micro-batch, so the watermark drops nothing).


def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling event-time windows with watermark, streamed."""
    got = run_to_completion(
        windowed_counts_stream(read_events_stream(spark, sf_dir)),
        "drv_stream_tumbling",
    )
    return got.select(
        F.col("win_start").alias("win_start_sec"),
        "event_type",
        "n_events",
        "sum_value",
    )


STREAM_TUMBLING_ORACLE = """
SELECT (epoch_us(ts) // 1000000) - ((epoch_us(ts) // 1000000) % 300) AS win_start_sec,
       event_type, count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (30 min gap), streamed. Oracle is the
    gaps-and-islands sessionization: session start = first event,
    session end = last event + gap."""
    got = run_to_completion(
        session_windows_stream(read_events_stream(spark, sf_dir), gap="30 minutes"),
        "drv_stream_sessions",
    )
    return got.select("user_id", "start_us", "end_us", "n_events")


STREAM_SESSION_ORACLE = """
WITH flagged AS (
  SELECT user_id, epoch_us(ts) AS ts_us,
    -- Spark session_window merges [t, t+gap) windows on strict overlap,
    -- so a gap of exactly `gap` starts a NEW session (>=, not >)
    CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) >= 1800000000
         OR lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) IS NULL
         THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id, ts_us,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, min(ts_us) AS start_us,
       max(ts_us) + 1800000000 AS end_us,
       count(*) AS n_events
FROM numbered GROUP BY user_id, session_id
"""


def stream_stateful_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom GroupState operator (applyInPandasWithState), streamed;
    final per-user emission. Counts are exactly batch-equivalent; the
    double value-sum is dropped here because its accumulation order is
    engine-specific (the unit test checks it at reduced precision)."""
    got = run_to_completion(
        user_stats_stateful(read_events_stream(spark, sf_dir)),
        "drv_stream_stateful",
        output_mode="update",
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(
        F.desc("n_batches"), F.desc("n_events")
    )
    return (
        got.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events")
    )


STREAM_STATEFUL_ORACLE = """
SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
"""


def stream_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication with bounded state:
    `dropDuplicatesWithinWatermark` keeps one event per
    (user_id, event_type), holding each key in state only until the
    watermark passes it — the scale-safe streaming dedup (state size is
    bounded by keys-per-watermark-window, not by stream length). On a
    finite input whose final watermark never expires a key mid-run, the
    surviving key set equals batch DISTINCT, which is the oracle; the
    surviving *row* per key is arrival-order-dependent, so only the
    keys are projected."""
    events = read_events_stream(spark, sf_dir)
    deduped = events.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    got = run_to_completion(
        deduped.select("user_id", "event_type"),
        "drv_stream_dedup",
        output_mode="append",
    )
    return got.select("user_id", "event_type")


STREAM_DEDUP_ORACLE = """
SELECT DISTINCT user_id, event_type FROM events
"""


def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 1 h windows sliding by 15 min, streamed with a
    watermark — each event contributes to 4 windows of state, each
    expired once the watermark passes its end. Oracle = the batch
    sliding-window expansion (epoch-aligned window starts)."""
    events = read_events_stream(spark, sf_dir)
    got = run_to_completion(
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "3600 seconds", "900 seconds"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_timestamp("window.start").alias("win_start_sec"),
            "event_type",
            "n_events",
            "sum_value",
        ),
        "drv_stream_sliding",
    )
    return got


STREAM_SLIDING_ORACLE = """
SELECT ((epoch_us(ts) // 1000000) - ((epoch_us(ts) // 1000000) % 900))
         - u.k * 900 AS win_start_sec,
       event_type,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events, (SELECT unnest([0, 1, 2, 3]) AS k) u
GROUP BY 1, 2
"""


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: clicks joined to same-user purchases
    that follow within 30 minutes. Both sides carry watermarks and the
    join condition bounds event time on both sides — that pair is what
    lets Spark expire join state (a click older than the watermark plus
    the interval can never match again and is dropped), so state stays
    bounded on an unbounded stream. On finite input the result equals
    the batch interval join, which is the oracle."""
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    buys = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("b_user"),
            F.col("ts").alias("buy_ts"),
            F.col("event_id").alias("buy_id"),
        )
        .withWatermark("buy_ts", "10 minutes")
    )
    joined = clicks.join(
        buys,
        (F.col("c_user") == F.col("b_user"))
        & (F.col("buy_ts") >= F.col("click_ts"))
        & (F.col("buy_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    got = run_to_completion(
        joined.select(
            F.col("c_user").alias("user_id"),
            "click_id",
            "buy_id",
            F.unix_micros("click_ts").alias("click_us"),
            F.unix_micros("buy_ts").alias("buy_us"),
        ),
        "drv_stream_join",
        output_mode="append",
    )
    return got


STREAM_JOIN_ORACLE = """
SELECT a.user_id, a.event_id AS click_id, b.event_id AS buy_id,
       epoch_us(a.ts) AS click_us, epoch_us(b.ts) AS buy_us
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'purchase'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
"""


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the events stream joined to the static
    customer dimension (user_id = c_custkey), rolled up per market
    segment. The static side is re-read per micro-batch — the canonical
    dimension-enrichment topology: STATELESS (no join state accumulates,
    unlike stream-stream), so it scales to unbounded streams. The join
    strategy is left to AQE: customer scales with SF, so a hard
    broadcast hint would pin an OOM plan at cluster scale; at test
    scale the runtime still picks broadcast from actual sizes. On
    finite input it equals the batch join, which is the oracle."""
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    enriched = read_events_stream(spark, sf_dir).join(dim, "user_id")
    agg = enriched.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_events"),
        # exact distinct is a batch-only aggregate on streams; the
        # streaming idiom is approx_count_distinct or a chained
        # (segment, user) pre-agg — kept out to keep this stateless-ish
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )
    return run_to_completion(agg, "drv_stream_enrich")


STREAM_ENRICH_ORACLE = """
SELECT c_mktsegment AS segment, count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1
"""


def streaming_query_defs():
    """QueryDefs for __spark_entry__ (local import avoids a cycle)."""
    from ai_data_pipeline_spark.registry import QueryDef

    return [
        QueryDef("stream_tumbling_counts", stream_tumbling_counts, STREAM_TUMBLING_ORACLE),
        QueryDef("stream_static_enrich", stream_static_enrich, STREAM_ENRICH_ORACLE),
        QueryDef("stream_session_windows", stream_session_windows, STREAM_SESSION_ORACLE),
        QueryDef(
            "stream_stateful_user_counts",
            stream_stateful_user_counts,
            STREAM_STATEFUL_ORACLE,
        ),
        QueryDef("stream_dedup_pairs", stream_dedup_pairs, STREAM_DEDUP_ORACLE),
        QueryDef("stream_stream_join", stream_stream_join, STREAM_JOIN_ORACLE),
        QueryDef("stream_sliding_counts", stream_sliding_counts, STREAM_SLIDING_ORACLE),
    ]


QUERY_DEFS = streaming_query_defs()
