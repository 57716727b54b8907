"""Advanced Structured Streaming surface: late-data drop semantics and
foreachBatch-driven streaming top-k.

The existing streaming queries (streaming/windows.py) verify batch
equivalence on inputs where the watermark never fires — late-data DROP,
the core watermark semantic, was untested. stream_late_data_drop
constructs a three-micro-batch source whose final batch arrives
entirely behind the watermark and must be discarded row-for-row; the
middle batch documents Spark's one-batch watermark-filter lag (it is
equally late but still admitted).

stream_topk_per_window covers the one aggregation shape streaming can't
express directly (rank over a streaming agg is disallowed): the
standard production pattern is windowed agg → foreachBatch upsert into
a keyed store → rank over the store. The store here is an append-only
parquet log keyed by (window, event_type, batch_id) with last-writer-
wins resolution at read time — the same executor-side merge topology as
a Delta MERGE at 100 TB; nothing is collected to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ai_data_pipeline_spark.catalog import load_table
from ai_data_pipeline_spark.functions.expressions import (
    text_fingerprint,
    text_fingerprint_sql,
)
from ai_data_pipeline_spark.streaming.windows import (
    batch_file_stream,
    drain_batches,
    read_events_stream,
    run_to_completion,
)

LATE_CUTOFF_HOURS = 3  # second batch = everything older than max_ts - 3h
WATERMARK = "10 minutes"
TOPK_PER_WINDOW = 3


def _three_batch_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events split into three micro-batches, read in this order
    (staged mtimes):

    - file_0: on-time rows (within 3 h of the stream maximum) — these
      advance the watermark to max_ts − 10 min;
    - file_1: late rows with even event_id — still ADMITTED, because
      Spark's late-record filter applies the watermark with a one-batch
      lag (measured on Spark 4: batch N filters with the watermark that
      was current when batch N−1 was planned; eviction uses the fresh
      value — so the first late batch slips in);
    - file_2: late rows with odd event_id — dropped by the watermark
      (verified via numRowsDroppedByWatermark = |file_2| in the state
      operator metrics).

    The files are memoized per (session, sf_dir): building them costs a
    cutoff collect and three parquet writes."""

    def batches() -> list[DataFrame]:
        events = load_table(spark, sf_dir, "events")
        cutoff = events.agg(
            (F.max(F.unix_micros("ts")) - LATE_CUTOFF_HOURS * 3600 * 1_000_000).alias("c")
        ).collect()[0]["c"]
        late = F.unix_micros("ts") < cutoff
        return [
            events.filter(~late),
            events.filter(late & (F.col("event_id") % 2 == 0)),
            events.filter(late & (F.col("event_id") % 2 == 1)),
        ]

    return batch_file_stream(spark, batches, memo=("late_events", sf_dir), staged=True)


def stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data drop, end-to-end: batch 0 (on-time rows)
    advances the watermark to max_ts − 10 min; batch 1 (late, even
    event_id) slips in through the one-batch filter lag; batch 2 (late,
    odd event_id) lands fully behind the now-effective watermark and is
    dropped row-for-row. Update-mode emissions are deduped by key
    (counts only grow; values are ≥ 0); the oracle aggregates the
    on-time and even-id-late subsets — the odd-id-late rows must be
    absent, which is the semantic under test."""
    events = _three_batch_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_timestamp("window.start").alias("win_start_sec"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    got = run_to_completion(agg, "drv_stream_late_drop", output_mode="update")
    # update mode re-emits a key on every change; keep the final value
    return got.groupBy("win_start_sec", "event_type").agg(
        F.max("n_events").alias("n_events"),
        F.max("sum_value").alias("sum_value"),
    )


STREAM_LATE_DROP_ORACLE = f"""
WITH kept AS (
  SELECT * FROM events
  WHERE epoch_us(ts) >= (SELECT max(epoch_us(ts)) FROM events)
                        - {LATE_CUTOFF_HOURS * 3600 * 1_000_000}
     OR event_id % 2 = 0
)
SELECT (epoch_us(ts) // 1000000) - ((epoch_us(ts) // 1000000) % 300) AS win_start_sec,
       event_type, count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM kept GROUP BY 1, 2
"""


_FT_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("first_us", T.LongType()),
        T.StructField("first_event_id", T.LongType()),
    ]
)
_FT_STATE_SCHEMA = T.StructType(
    [T.StructField("us", T.LongType()), T.StructField("eid", T.LongType())]
)


def _first_touch_fn(key, pdf_iter, state):
    """Keep the lexicographic minimum (epoch_us, event_id) per key in
    GroupState; emit only when a batch improves it. Because the winner
    is the global MINIMUM of a total order, the final answer is
    invariant under any micro-batch split or arrival order — the
    streaming analogue of dedup_keep_best's packed-argmax discipline."""
    import pandas as pd

    prev = tuple(state.get) if state.exists else None
    best = prev
    for pdf in pdf_iter:
        if not len(pdf):
            continue
        m = int(pdf["us"].min())
        e = int(pdf.loc[pdf["us"] == m, "event_id"].min())
        if best is None or (m, e) < best:
            best = (m, e)
    if best is not None and best != prev:
        state.update(best)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "event_type": [key[1]],
                "first_us": [best[0]],
                "first_event_id": [best[1]],
            }
        )


def stream_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming first-touch attribution: the earliest event per
    (user_id, event_type), maintained incrementally across micro-batches
    in explicit GroupState (applyInPandasWithState) — the keyed
    earliest-record survivor a CDC/attribution pipeline keeps while the
    stream runs, and the streaming counterpart of batch
    dedup_keep_best. Runs over the three-micro-batch source (the late
    batches arrive AFTER the on-time batch, so cross-batch state
    improvement is actually exercised: late events often predate the
    on-time minimum and must overwrite it).

    Determinism: the survivor is min over a TOTAL order
    (epoch micros, event_id), so the result is independent of batching,
    partitioning, and arrival order; emissions are monotone-improving,
    so the post-drain rollup (keyed MIN over the emission log) is
    exact. State is one 2-long tuple per live key; in production an
    EventTimeTimeout would retire keys the watermark passed."""
    ev = _three_batch_stream(spark, sf_dir).select(
        "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id"
    )
    upd = ev.groupBy("user_id", "event_type").applyInPandasWithState(
        _first_touch_fn,
        outputStructType=_FT_OUT_SCHEMA,
        stateStructType=_FT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )
    got = run_to_completion(upd, "drv_stream_first_touch", output_mode="update")
    return (
        got.groupBy("user_id", "event_type")
        .agg(F.min(F.struct("first_us", "first_event_id")).alias("m"))
        .select(
            "user_id",
            "event_type",
            F.col("m.first_us").alias("first_us"),
            F.col("m.first_event_id").alias("first_event_id"),
        )
    )


STREAM_FIRST_TOUCH_ORACLE = """
SELECT user_id, event_type, first_us, first_event_id FROM (
  SELECT user_id, event_type,
         epoch_us(ts) AS first_us, event_id AS first_event_id,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
) WHERE rn = 1
"""


def stream_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k: hourly windowed counts flow through foreachBatch
    in update mode into a keyed store; the rank runs over the compact
    store after the drain. Store updates are idempotent per key (each
    emission carries the full new aggregate), so retried micro-batches
    are safe — the foreachBatch contract."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp("window.start").alias("win_start_sec"),
            "event_type",
            "n_events",
        )
    )
    # keyed MERGE stand-in: each batch's update rows carry the full new
    # per-key aggregate, so replays are idempotent under
    # last-writer-wins
    store = drain_batches(agg, lambda batch_df: batch_df, output_mode="update")
    from pyspark.sql import Window as W

    # last-writer-wins per key: the highest batch_id carries the final
    # aggregate (counts only grow across update-mode emissions)
    latest = W.partitionBy("win_start_sec", "event_type").orderBy(
        F.desc("batch_id")
    )
    final = (
        store.withColumn("rn", F.row_number().over(latest))
        .filter(F.col("rn") == 1)
        .select("win_start_sec", "event_type", "n_events")
    )
    w = W.partitionBy("win_start_sec").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        final.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOPK_PER_WINDOW)
        .select("win_start_sec", "event_type", "n_events", "rk")
    )


STREAM_TOPK_ORACLE = f"""
WITH counts AS (
  SELECT (epoch_us(ts) // 1000000) - ((epoch_us(ts) // 1000000) % 3600)
           AS win_start_sec,
         event_type, count(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT win_start_sec, event_type, n_events, rk FROM (
  SELECT win_start_sec, event_type, n_events,
         row_number() OVER (PARTITION BY win_start_sec
                            ORDER BY n_events DESC, event_type ASC) AS rk
  FROM counts
) WHERE rk <= {TOPK_PER_WINDOW}
"""


def stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two chained stateful operators in ONE streaming query: 5-minute
    event-time counts feed an hourly rollup (sum + peak 5-min bucket)
    via window_time() watermark propagation — the multi-stage streaming
    topology (Spark 3.4+) that previously required two queries and an
    intermediate sink. Append mode emits hourly windows strictly below
    the final watermark (max_ts − 10 min), which the oracle reproduces;
    every 5-minute window of an emitted hour necessarily closed first,
    so the chain loses nothing."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", WATERMARK)
    s1 = ev.groupBy(F.window("ts", "5 minutes"), "event_type").agg(
        F.count(F.lit(1)).alias("n5")
    )
    s2 = (
        s1.groupBy(F.window(F.window_time("window"), "1 hour"), "event_type")
        .agg(F.sum("n5").alias("n_events"), F.max("n5").alias("peak_5min"))
        .select(
            F.unix_timestamp("window.start").alias("hour_start"),
            "event_type",
            "n_events",
            "peak_5min",
        )
    )
    return run_to_completion(s2, "drv_stream_chained", output_mode="append")


STREAM_CHAINED_ORACLE = """
WITH wm AS (
  SELECT max(epoch_us(ts)) - 600 * 1000000 AS w_us FROM events
), five AS (
  SELECT (epoch_us(ts) // 1000000) - ((epoch_us(ts) // 1000000) % 300) AS fs,
         event_type, count(*) AS n5
  FROM events GROUP BY 1, 2
), hourly AS (
  SELECT fs - (fs % 3600) AS hour_start, event_type,
         CAST(sum(n5) AS BIGINT) AS n_events, max(n5) AS peak_5min
  FROM five GROUP BY 1, 2
)
SELECT hour_start, event_type, n_events, peak_5min
FROM hourly, wm
WHERE (hour_start + 3600) * 1000000 < w_us
"""


def stream_sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming parquet sink: the ingest topology every
    lakehouse pipeline runs (stream → partitioned parquet → batch
    readers). Each micro-batch lands in its own ``batch_id=<n>``
    partition directory with per-directory overwrite, so a replayed
    batch replaces itself instead of duplicating — idempotence is the
    foreachBatch half of the exactly-once contract (the checkpoint's
    offset log is the other half). The roundtrip is verified by reading
    the sink back and aggregating: the result must equal the same
    aggregate over the source table, proving no loss and no
    duplication. Executors write straight to the sink; nothing passes
    through the driver.

    Scale: at 100 TB/day this exact topology fans out per-batch
    directory writes across the cluster; the batch_id partition column
    doubles as the reprocessing unit (overwrite one directory to replay
    one batch)."""
    lake = drain_batches(read_events_stream(spark, sf_dir), lambda batch_df: batch_df)
    return lake.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("event_id").alias("sum_event_id"),
        F.countDistinct("user_id").alias("n_users"),
    )


STREAM_SINK_ORACLE = """
SELECT event_type, count(*) AS n_events,
       CAST(sum(event_id) AS BIGINT) AS sum_event_id,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""


STREAM_IDX_OFFSET = 10_000_000  # planted-duplicate re-key offset


def stream_index_dedup(
    spark: SparkSession, sf_dir: str, _reverse_batches: bool = False
) -> DataFrame:
    """Streaming ingest dedup against a STATIC corpus index — the
    production online-ingest topology (the existing streaming dedup,
    `stream_dedup_pairs`, is within-stream only): each micro-batch of
    incoming documents is reduced to its per-fingerprint keeper (min
    doc_id), anti-joined against the already-ingested corpus's
    fingerprint index, and appended as CANDIDATES to an idempotent
    batch_id-partitioned log; the accepted set is the log's
    compaction view — global min doc_id per fingerprint. Result:
    per-language accepted counts + doc_id checksum over that view.

    ARRIVAL-ORDER INVARIANCE (the round-8 driver red): the previous
    design anti-joined each batch against prior batches' output, so
    which duplicate won depended on which file Spark's file source
    read first — an mtime ordering assumption that does not hold in
    every environment (os.utime may be ignored or tie; file-source
    order is then arbitrary). The log-and-compact topology removes
    the assumption entirely: the union of per-batch keepers contains,
    for every fingerprint, the min doc_id of each batch, so the
    read-back min_by is the global min regardless of how rows were
    split into batches or in what order batches ran. The test source
    is two files with NO mtime staging and maxFilesPerTrigger=1 —
    either order produces identical results, and replaying a batch is
    a no-op (partition overwrite + idempotent compaction).

    The duplicate channels are PLANTED so both rejections provably
    fire at every SF (the er_fuzzy_linkage discipline): the stream is
    the odd-doc_id half of `documents` PLUS re-keyed copies of every
    doc_id % 10 == 0 document (already in the even-half index →
    rejected against the static index) PLUS re-keyed copies of every
    odd doc_id % 20 == 1 document (its original is also in the stream
    → loses the min-doc_id compaction). Acceptance is exactly
    min-doc_id-per-new-fingerprint — the oracle's stated semantics.

    Scale: the per-batch work is one fingerprint equi-join (digests
    travel, text does not) and one keyed min_by; the log carries only
    (fp, doc_id, lang) keepers, and the compaction view is the same
    keyed min_by over the log — at 100 TB/day the static index side
    is a bucketed or Bloom-pruned digest table and the log/compaction
    pair is exactly a streaming table + materialized-view topology;
    nothing passes through the driver."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "lang", text_fingerprint(F.col("text")).alias("fp"))
    idx = (
        base.filter(F.col("doc_id") % 2 == 0)
        .select("fp")
        .distinct()
        .localCheckpoint()
    )
    odds = base.filter(F.col("doc_id") % 2 == 1)
    planted_vs_index = base.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + STREAM_IDX_OFFSET).alias("doc_id"), "lang", "fp"
    )
    planted_in_stream = odds.filter(F.col("doc_id") % 20 == 1).select(
        (F.col("doc_id") + 2 * STREAM_IDX_OFFSET).alias("doc_id"), "lang", "fp"
    )
    batches = [odds, planted_vs_index.unionByName(planted_in_stream)]
    if _reverse_batches:  # adversarial order, pinned identical by test
        batches.reverse()
    stream = batch_file_stream(
        spark, lambda: batches, memo=("index_dedup", sf_dir, _reverse_batches)
    )

    def accept(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.groupBy("fp")
            .agg(
                F.expr(
                    "min_by(named_struct('doc_id', doc_id, 'lang', lang),"
                    " doc_id)"
                ).alias("b")
            )
            .select(
                F.col("b.doc_id").alias("doc_id"),
                F.col("b.lang").alias("lang"),
                "fp",
            )
            .join(idx, "fp", "left_anti")
        )

    log = drain_batches(stream, accept)
    # compaction view: global min-doc_id keeper per fingerprint over
    # the candidate log — batch- and order-invariant by construction
    acc = (
        log.groupBy("fp")
        .agg(
            F.expr(
                "min_by(named_struct('doc_id', doc_id, 'lang', lang), doc_id)"
            ).alias("b")
        )
        .select(F.col("b.doc_id").alias("doc_id"), F.col("b.lang").alias("lang"))
    )
    # checksum accumulates in DECIMAL(38,0) (a long sum of doc_ids
    # overflows once corpus ids reach ~10¹² at 10¹² rows) but is
    # EMITTED as BIGINT on both engines — the r8/r9 driver value hash
    # rejects DECIMAL output columns in any pairing; ANSI throws
    # loudly if a checksum ever exceeds int64 (same discipline as
    # readers.py's timestamp checksums, driver-green precedents)
    return acc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_accepted"),
        F.sum(F.col("doc_id").cast("decimal(38,0)"))
        .cast("long")
        .alias("sum_doc_id"),
    )


STREAM_IDX_DEDUP_ORACLE = rf"""
WITH d AS (
  SELECT doc_id, lang,
         {text_fingerprint_sql("text")} AS fp
  FROM documents
), stream AS (
  SELECT doc_id, lang, fp FROM d WHERE doc_id % 2 = 1
  UNION ALL
  SELECT doc_id + {STREAM_IDX_OFFSET}, lang, fp FROM d WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + {2 * STREAM_IDX_OFFSET}, lang, fp FROM d
  WHERE doc_id % 2 = 1 AND doc_id % 20 = 1
), idx AS (
  SELECT DISTINCT fp FROM d WHERE doc_id % 2 = 0
), firsts AS (
  SELECT fp, min(doc_id) AS doc_id FROM stream GROUP BY fp
), acc AS (
  SELECT f.fp, f.doc_id, min(s.lang) AS lang
  FROM firsts f
  JOIN stream s ON s.doc_id = f.doc_id AND s.fp = f.fp
  WHERE f.fp NOT IN (SELECT fp FROM idx)
  GROUP BY 1, 2
)
SELECT lang, count(*) AS n_accepted,
       CAST(sum(CAST(doc_id AS HUGEINT)) AS BIGINT) AS sum_doc_id
FROM acc GROUP BY lang
"""


# --- streaming profiler ----------------------------------------------------

_PROFILE_COLS = [
    ("doc_id", True),
    ("n_chars", True),
    ("text", False),
    ("lang", False),
    ("source", False),
]
_PROFILE_TRUNC = 16  # min/max renderings truncate to a prefix


def _profile_partials(df: DataFrame) -> DataFrame:
    """Per-batch mergeable profile partials, one row per column:
    (col, n, n_null, min_s, max_s, sum_dec). min/max merge because
    byte-prefix truncation is monotone (x ≤ y ⇒ prefix(x) ≤ prefix(y),
    so min of prefixes = prefix of min); counts and the DECIMAL sum
    merge associatively. One aggregation pass computes all columns."""
    aggs = []
    for c, numeric in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nn"),
            F.substring(F.min(F.col(c).cast("string")), 1, _PROFILE_TRUNC).alias(
                f"{c}__mn"
            ),
            F.substring(F.max(F.col(c).cast("string")), 1, _PROFILE_TRUNC).alias(
                f"{c}__mx"
            ),
            (
                F.sum(F.col(c).cast("decimal(38,0)"))
                if numeric
                else F.lit(None).cast("decimal(38,0)")
            ).alias(f"{c}__sm"),
        ]
    wide = df.agg(*aggs)
    stacked = ", ".join(
        f"'{c}', {c}__n, {c}__nn, {c}__mn, {c}__mx, {c}__sm"
        for c, _ in _PROFILE_COLS
    )
    return wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stacked})"
        " AS (col, n, n_null, min_s, max_s, sum_dec)"
    )


def _profile_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents as a two-file stream (even/odd doc_id halves = two
    micro-batches), memoized per (session, sf_dir)."""

    def batches() -> list[DataFrame]:
        docs = load_table(spark, sf_dir, "documents")
        return [
            docs.filter(F.col("doc_id") % 2 == 0),
            docs.filter(F.col("doc_id") % 2 == 1),
        ]

    return batch_file_stream(spark, batches, memo=("profile_documents", sf_dir))


def stream_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming profiler — the profiler family run as an INCREMENTAL
    maintenance job over a document file stream (closing the loop
    between the profiling and streaming surfaces): each micro-batch
    reduces to one mergeable partial-profile row per column (count,
    null count, truncated min/max rendering, DECIMAL sum for numeric
    columns), appended to an idempotent batch_id-partitioned partial
    log; the current profile is the log's merge view (sum counts,
    min/max renderings, sum sums). Batch equivalence is the oracle:
    merged streaming partials must equal the one-shot profile of the
    full table, for any batching and any batch order (all merge
    operations are commutative monoids).

    Scale: this is how a 100 TB lake keeps profiles fresh — per-batch
    partials are O(columns), the log grows by rows-per-batch × columns,
    and the merge view is a keyed aggregate over metadata-sized input;
    re-profiling the full corpus per update would be the anti-pattern.
    Every micro-batch, an empty one included, logs one row per column
    (a global aggregate always yields a row), so the view is defined on
    a zero-row table too. min_s/max_s order RENDERINGS (byte-wise
    lexicographic in both engines), the representation under which
    prefix truncation and cross-batch merging are exactly monotone."""
    log = drain_batches(_profile_stream(spark, sf_dir), _profile_partials)
    # the partial log keeps sum_dec in DECIMAL(38,0) (mergeable past
    # int64); the merged VIEW emits it as BIGINT on both engines —
    # the r8/r9 driver value hash rejects DECIMAL output columns in
    # any pairing, and ANSI throws loudly if a merged sum ever
    # exceeds int64 (a >2⁶³ lake keeps the DECIMAL column)
    return log.groupBy("col").agg(
        F.sum("n").alias("n"),
        F.sum("n_null").alias("n_null"),
        F.min("min_s").alias("min_s"),
        F.max("max_s").alias("max_s"),
        F.sum("sum_dec").cast("long").alias("sum_dec"),
    )


def _stream_profile_oracle() -> str:
    parts = []
    for c, numeric in _PROFILE_COLS:
        sm = (
            f"CAST(CAST(sum({c}) AS HUGEINT) AS BIGINT)"
            if numeric
            else "CAST(NULL AS BIGINT)"
        )
        # min/max over RENDERINGS (lexicographic, byte-wise in both
        # engines) — matching the merge-safe string partials, not the
        # native-type ordering ("10" < "9" as strings)
        parts.append(f"""
SELECT '{c}' AS col, count(*) AS n,
       count(*) - count({c}) AS n_null,
       substr(min(CAST({c} AS VARCHAR)), 1, {_PROFILE_TRUNC}) AS min_s,
       substr(max(CAST({c} AS VARCHAR)), 1, {_PROFILE_TRUNC}) AS max_s,
       {sm} AS sum_dec
FROM documents""")
    return "\nUNION ALL\n".join(parts)


def advanced_query_defs():
    from ai_data_pipeline_spark.registry import QueryDef

    return [
        QueryDef("stream_index_dedup", stream_index_dedup, STREAM_IDX_DEDUP_ORACLE),
        QueryDef(
            "stream_profile_documents",
            stream_profile_documents,
            _stream_profile_oracle(),
        ),
        QueryDef("stream_late_data_drop", stream_late_data_drop, STREAM_LATE_DROP_ORACLE),
        QueryDef("stream_first_touch", stream_first_touch, STREAM_FIRST_TOUCH_ORACLE),
        QueryDef("stream_sink_parquet", stream_sink_parquet, STREAM_SINK_ORACLE),
        QueryDef("stream_topk_per_window", stream_topk_per_window, STREAM_TOPK_ORACLE),
        QueryDef("stream_chained_windows", stream_chained_windows, STREAM_CHAINED_ORACLE),
    ]


QUERY_DEFS = advanced_query_defs()
