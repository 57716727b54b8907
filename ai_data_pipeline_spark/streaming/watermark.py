"""Watermark / late-data semantics, PROVEN with planted late rows
(VERDICT r11 task #5): an event-time tumbling daily aggregation under
``withWatermark("ts", "2 days")``, fed a micro-batch sequence whose
LAST batch carries only rows older than the in-effect watermark — the
oracle recomputes the aggregation EXCLUDING exactly those rows, so the
driver hash-check proves which late rows Spark dropped, not merely
that a stream ran.

Batch construction (all cuts are day-offsets from D0 = date(max ts),
so every batch's fate is unambiguous and oracle-expressible):

- batch 0 — "mid-age" rows, date(ts) in [D0-10, D0-3]. Watermark in
  effect: none yet -> admitted.
- batch 1 — the newest rows, date(ts) >= D0-2 (contains the global max
  ts M). Watermark in effect is at most max(batch0) - 2d < D0-4, and
  these windows end after D0-2 -> admitted. Advances max event time
  to M.
- batch 2 — a single synthetic nudge row AT ts = M (event_id = -1,
  filtered out of the aggregation downstream of the watermark node).
  Spark's late-record filter lags ONE micro-batch behind the
  documented watermark (measured on Spark 4 with availableNow — the
  first late batch after the watermark advances is still admitted),
  so this batch exists purely to burn the lag cycle: after it, the
  watermark M - 2 days is in effect under BOTH the documented and the
  observed (one-batch-lag) semantics.
- batch 3 — the PLANTED LATE rows, date(ts) <= D0-11. Their day
  windows end at most at D0-10 00:00 < M - 2d, so every row is
  dropped: the batch produces zero aggregation updates and the final
  counts exclude it entirely. (The splits are day-aligned, so no
  window ever straddles the admitted/late sets and the row-time vs
  window-end formulations of the drop predicate agree.)

Arrival order is pinned with explicit mtime staging (the opposite of
streaming/sketch.py's order-invariance design — watermark semantics
are arrival-order-dependent by definition, so the fixture makes the
order part of the contract). Aggregation runs in UPDATE mode through
foreachBatch into a per-batch log; by construction each day window is
touched by exactly one batch, so the log union IS the final state.

``emitted_by_watermark`` additionally documents append-mode emission:
a window is final (emittable) iff its end <= M - 2 days — computed
arithmetically from the data on both engines.

Scale: the per-batch aggregation is a keyed count with map-side
combines; state is one row per open day window (bounded by the
watermark horizon, not the corpus); the log grows |touched windows|
rows per batch. At 100 TB this is the standard sessionization /
rollup ingest shape: watermark bounds state, late data is dropped
deterministically instead of corrupting closed windows.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_data_pipeline_spark.catalog import load_table
from ai_data_pipeline_spark.registry import QueryDef
from ai_data_pipeline_spark.session import session_scoped_cache
from ai_data_pipeline_spark.streaming.windows import batch_file_stream, drain_batches

WM_DELAY_DAYS = 2
WM_MID_AGE_DAYS = 10  # admitted tier reaches back this many days from D0


def _late_drop_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the watermarked stream once per (session, sf_dir); return the
    update log read back. Memoized with the cls_linear_score discipline
    (immutable-sf_dir contract documented there)."""
    cache = session_scoped_cache(spark, "stream_wm_log")
    if sf_dir in cache:
        return cache[sf_dir]

    # ts is TIMESTAMP, as withWatermark requires (Spark 4 rejects
    # TIMESTAMP_NTZ as an event-time column:
    # EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE)
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id"
    )
    # D0 and M: one metadata-sized scalar collect (the
    # streaming/advanced.py precedent) — the max event time that the
    # batch cuts and the nudge row derive from.
    max_ts = e.agg(F.max("ts")).collect()[0][0]

    if max_ts is None:
        parts = [e, e, e, e]  # empty corpus: four empty batches
    else:
        d0 = max_ts.date()
        day = F.col("ts").cast("date")
        lo = F.lit(d0 - _dt.timedelta(days=WM_MID_AGE_DAYS))
        hi = F.lit(d0 - _dt.timedelta(days=WM_DELAY_DAYS + 1))
        nudge = spark.createDataFrame([(-1, max_ts, -1)], e.schema)
        parts = [
            e.filter((day >= lo) & (day <= hi)),
            e.filter(day > hi),
            nudge,
            e.filter(day < lo),  # the planted late rows
        ]

    # mtime staging ON PURPOSE: arrival order is the contract here
    stream = batch_file_stream(spark, lambda: parts, staged=True)
    agg = (
        stream.withWatermark("ts", f"{WM_DELAY_DAYS} days")
        # the nudge row advances event time at the watermark node but is
        # excluded from the counts (filter sits downstream of it)
        .filter(F.col("event_id") >= 0)
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )

    log = (
        drain_batches(
            agg,
            lambda upd: upd.select(
                F.col("w.start").cast("date").alias("window_day"), "n_events"
            ),
            output_mode="update",
        )
        .select("window_day", "n_events", F.col("batch_id").cast("long").alias("b"))
        .localCheckpoint()  # |touched windows| rows per batch
    )
    cache[sf_dir] = log
    return cache[sf_dir]


def stream_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final per-day counts after the watermarked stream — planted late
    rows (date <= D0-11, arriving last) dropped, everything newer
    admitted — plus the append-mode finality flag. Each window is
    touched by exactly one batch; max_by(n, batch) makes the read
    robust anyway."""
    log = _late_drop_log(spark, sf_dir)
    counts = log.groupBy("window_day").agg(
        F.max_by("n_events", "b").cast("long").alias("n_events")
    )
    m = (
        load_table(spark, sf_dir, "events")
        .agg(F.max("ts").alias("mx"))
    )
    emitted = (
        F.col("window_day").cast("timestamp") + F.expr("INTERVAL 1 DAY")
        <= F.col("mx") - F.expr(f"INTERVAL {WM_DELAY_DAYS} DAYS")
    )
    return (
        counts.crossJoin(F.broadcast(m))
        .select(
            "window_day",
            "n_events",
            emitted.cast("int").alias("emitted_by_watermark"),
        )
    )


STREAM_WM_ORACLE = f"""
WITH m AS (
  SELECT max(ts) AS mx, CAST(max(ts) AS DATE) AS d0 FROM events
), admitted AS (
  SELECT CAST(ts AS DATE) AS window_day
  FROM events CROSS JOIN m
  WHERE CAST(ts AS DATE) >= d0 - {WM_MID_AGE_DAYS}
), counts AS (
  SELECT window_day, CAST(count(*) AS BIGINT) AS n_events
  FROM admitted GROUP BY 1
)
SELECT window_day, n_events,
       CAST(CAST(window_day AS TIMESTAMP) + INTERVAL 1 DAY
            <= mx - INTERVAL {WM_DELAY_DAYS} DAY AS INT)
         AS emitted_by_watermark
FROM counts CROSS JOIN m
"""


QUERY_DEFS = [
    QueryDef(
        "stream_watermark_late_drop", stream_watermark_late_drop, STREAM_WM_ORACLE
    ),
]
