"""Streaming semantics pinned by batch equivalence (SURVEY.md §7.4):
a finite stream drained with availableNow must produce exactly the batch
aggregation result."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ai_data_pipeline_spark.catalog import load_table
from ai_data_pipeline_spark.streaming.windows import (
    read_events_stream,
    run_to_completion,
    session_windows_stream,
    user_stats_stateful,
    windowed_counts_stream,
)
from tests.conftest import SF_DIR


def windowed_counts_batch(events: DataFrame) -> DataFrame:
    """Batch-equivalent of windowed_counts_stream (same window origin:
    Spark's window() aligns tumbling windows to the epoch)."""
    return (
        events.groupBy(F.window("ts", "5 minutes"), "event_type")
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


def user_stats_batch(events: DataFrame) -> DataFrame:
    """Batch equivalent of the stateful operator's final state (counts are
    exactly comparable; double sums compared at reduced precision)."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value"),
    )


def _sorted_rows(df):
    cols = sorted(df.columns)
    return sorted([tuple(r[c] for c in cols) for r in df.collect()])


def test_windowed_agg_stream_equals_batch(spark):
    stream = read_events_stream(spark, SF_DIR)
    got = run_to_completion(windowed_counts_stream(stream), "t_win")
    expected = windowed_counts_batch(load_table(spark, SF_DIR, "events"))
    assert _sorted_rows(got) == _sorted_rows(expected)
    assert got.count() > 0


def test_stateful_user_stats_equals_batch(spark):
    """Custom GroupState operator: the last emission per user must match
    the batch groupBy (exact counts; double sums to 6 dp — accumulation
    order within a user differs between the stateful fold and the batch
    hash agg)."""
    stream = read_events_stream(spark, SF_DIR)
    got = run_to_completion(
        user_stats_stateful(stream), "t_state", output_mode="update"
    )
    # keep each user's final emission (max n_batches, then n_events)
    final = {}
    for r in got.collect():
        cur = final.get(r["user_id"])
        if cur is None or (r["n_batches"], r["n_events"]) >= (cur["n_batches"], cur["n_events"]):
            final[r["user_id"]] = r
    expected = {
        r["user_id"]: r
        for r in user_stats_batch(load_table(spark, SF_DIR, "events")).collect()
    }
    assert set(final) == set(expected)
    for uid, r in final.items():
        e = expected[uid]
        assert r["n_events"] == e["n_events"]
        assert abs(r["sum_value"] - e["sum_value"]) < 1e-6


def test_session_windows_run(spark):
    stream = read_events_stream(spark, SF_DIR)
    got = run_to_completion(session_windows_stream(stream), "t_sess")
    assert got.count() > 0
    # sessions are per-user disjoint intervals
    rows = got.collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append((r["start_us"], r["end_us"]))
    for spans in by_user.values():
        spans.sort()
        for (s1, e1), (s2, _) in zip(spans, spans[1:]):
            assert e1 <= s2, "overlapping sessions for a user"


def test_sink_parquet_batch_replay_is_idempotent(spark, tmp_path):
    """The exactly-once half the sink owns: re-running a micro-batch
    write must replace its directory, not duplicate rows (the offset
    log guarantees the other half)."""
    from ai_data_pipeline_spark.catalog import load_table

    sink = str(tmp_path / "lake")
    batch = load_table(spark, SF_DIR, "events").limit(100)

    def write_batch(batch_df, batch_id):
        batch_df.write.mode("overwrite").parquet(f"{sink}/batch_id={batch_id}")

    write_batch(batch, 0)
    n1 = spark.read.option("basePath", sink).parquet(sink).count()
    write_batch(batch, 0)  # replay the same batch
    n2 = spark.read.option("basePath", sink).parquet(sink).count()
    assert n1 == n2 == 100


def test_first_touch_equals_batch_min(spark):
    """The stateful first-touch survivor must equal the batch argmin of
    (epoch micros, event_id) per (user, event_type) — invariant under
    the three-micro-batch split (late batches arrive after the on-time
    batch, so the state genuinely improves across batches)."""
    from pyspark.sql import functions as F

    from ai_data_pipeline_spark.catalog import load_table
    from ai_data_pipeline_spark.streaming.advanced import stream_first_touch
    from tests.conftest import SF_DIR

    rows = (
        load_table(spark, SF_DIR, "events")
        .select(
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("us"),
            "event_id",
        )
        .collect()
    )
    want = {}
    for r in rows:
        k = (r.user_id, r.event_type)
        c = (r.us, r.event_id)
        if k not in want or c < want[k]:
            want[k] = c
    got = {
        (r.user_id, r.event_type): (r.first_us, r.first_event_id)
        for r in stream_first_touch(spark, SF_DIR).collect()
    }
    assert got == want
