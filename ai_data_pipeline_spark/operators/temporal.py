"""Time-series join operators Spark lacks natively: as-of join and
banded range join (north-star extensions; the reference implements no
joins at all — SURVEY.md §2.8).

Both are built so the physical plan contains NO cross product and NO
broadcast-nested-loop join — the failure mode of naive inequality joins
at 100 TB:

- **As-of join** (`q_asof_join`): union the two event streams with a
  side tag, hash-partition by key, sort within partition, and carry the
  last left-side timestamp forward with an `ignorenulls` running
  `last()` window. One shuffle on the join key, linear in-partition
  merge — the same plan shape a dedicated merge-based as-of operator
  would produce. Oracle: DuckDB's native ``ASOF LEFT JOIN``.

- **Range join** (`q_range_join`): a time-band inequality join
  rewritten as an equi-join on (key, time_bucket) with the probe side
  exploded into the two buckets its band can touch (bucket width =
  band width ⇒ explode factor exactly 2), then the exact band predicate
  as a post-join filter. Hash join on a composite key instead of a
  quadratic nested loop; skew stays bounded because buckets subdivide
  each user's timeline. Oracle: plain inequality join in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ai_data_pipeline_spark.catalog import load_table
from ai_data_pipeline_spark.functions import dec_sum, epoch_us, time_bucket_start
from ai_data_pipeline_spark.registry import QueryDef

RANGE_BAND_SEC = 14400  # 4 h — sized to the testdata's per-user event density
RANGE_BAND_US = RANGE_BAND_SEC * 1_000_000

ROLLUP_BUCKET_SEC = 3600  # 1 h hypertable chunk
SLIDE_WIDTH_SEC = 3600  # sliding window width
SLIDE_STEP_SEC = 900  # slide — width/step = 4 overlapping windows per event


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every purchase event, the most recent click (ts <= purchase
    ts) by the same user — LEFT as-of, so click-less purchases survive
    with nulls."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        epoch_us(F.col("ts")).alias("ts_us"),
        "event_type",
        "event_id",
    )
    # side tag 0 = build (click), 1 = probe (purchase); ordering by
    # (ts_us, side) makes the inclusive ts>= tie-break explicit
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts_us", F.lit(0).alias("side"), "event_id"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts_us", F.lit(1).alias("side"), "event_id"
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "side", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    merged = clicks.unionByName(purchases).withColumn(
        "click_ts_us",
        F.last(
            F.when(F.col("side") == 0, F.col("ts_us")), ignorenulls=True
        ).over(w),
    )
    return merged.filter(F.col("side") == 1).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts_us").alias("purchase_ts_us"),
        "click_ts_us",
        (F.col("ts_us") - F.col("click_ts_us")).alias("gap_us"),
    )


Q_ASOF_ORACLE = """
SELECT p.event_id AS purchase_id, p.user_id,
       epoch_us(p.ts) AS purchase_ts_us,
       epoch_us(c.ts) AS click_ts_us,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Errors within [purchase_ts, purchase_ts + 4h) per (purchase,
    user): the banded-bucket equi-join rewrite of a range join."""
    e = load_table(spark, sf_dir, "events")
    bucket = (F.col("ts_us") / F.lit(RANGE_BAND_US)).cast("long")
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            epoch_us(F.col("ts")).alias("ts_us"),
        )
        .withColumn("p_bucket", bucket)
        .withColumnRenamed("ts_us", "p_ts_us")
        # a band starting in bucket b can only reach errors in b or b+1
        .withColumn("bucket", F.explode(F.array(F.col("p_bucket"), F.col("p_bucket") + 1)))
        .drop("p_bucket")
    )
    errors = (
        e.filter(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user"),
            epoch_us(F.col("ts")).alias("e_ts_us"),
            F.col("value").alias("e_value"),
        )
        .withColumn("bucket", (F.col("e_ts_us") / F.lit(RANGE_BAND_US)).cast("long"))
    )
    joined = purchases.join(
        errors,
        on=[
            purchases["p_user"] == errors["e_user"],
            purchases["bucket"] == errors["bucket"],
        ],
    ).filter(
        (F.col("e_ts_us") >= F.col("p_ts_us"))
        & (F.col("e_ts_us") < F.col("p_ts_us") + RANGE_BAND_US)
    )
    return joined.groupBy(
        "purchase_id", F.col("p_user").alias("user_id")
    ).agg(
        F.count(F.lit(1)).alias("n_errors"),
        dec_sum(F.col("e_value"), 6).alias("sum_err_value"),
    )


Q_RANGE_ORACLE = f"""
SELECT p.event_id AS purchase_id, p.user_id,
       count(*) AS n_errors,
       CAST(SUM(CAST(er.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_err_value
FROM events p JOIN events er
  ON p.event_type = 'purchase' AND er.event_type = 'error'
 AND er.user_id = p.user_id
 AND epoch_us(er.ts) >= epoch_us(p.ts)
 AND epoch_us(er.ts) < epoch_us(p.ts) + {RANGE_BAND_US}
GROUP BY 1, 2
"""


def q_time_bucket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: hourly chunks per event
    type — counts, distinct users, value sum. The bucket is pure integer
    arithmetic on epoch seconds (`time_bucket_start`), so it serves as a
    hash-partitionable group/join key; at 100 TB this is the
    materialized rollup a time-series store would maintain incrementally
    (the streaming twin is windows.py's tumbling aggregate)."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        time_bucket_start(F.col("ts"), ROLLUP_BUCKET_SEC).alias("bucket_start_sec"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        dec_sum(F.col("value"), 6).alias("sum_value"),
    )


Q_TIME_BUCKET_ORACLE = f"""
SELECT (epoch_us(ts) // 1000000) - ((epoch_us(ts) // 1000000) % {ROLLUP_BUCKET_SEC})
         AS bucket_start_sec,
       event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping event-time windows (1 h wide, 15 min slide) per event
    type. Spark's `window()` expands each row into width/slide = 4
    epoch-aligned windows before the partial aggregation, so the shuffle
    carries only (window, type) partial aggregates — never the 4×
    exploded raw rows."""
    e = load_table(spark, sf_dir, "events")
    win = F.window(F.col("ts"), f"{SLIDE_WIDTH_SEC} seconds", f"{SLIDE_STEP_SEC} seconds")
    return (
        e.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum(F.col("value"), 6).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("win_start_sec"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# Each event at epoch-second t belongs to exactly width/step windows whose
# starts are floor(t/step)*step - k*step for k in 0..3 (all t >= 0 here).
Q_SLIDING_ORACLE = f"""
SELECT ((epoch_us(ts) // 1000000) - ((epoch_us(ts) // 1000000) % {SLIDE_STEP_SEC}))
         - u.k * {SLIDE_STEP_SEC} AS win_start_sec,
       event_type,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events, (SELECT unnest([0, 1, 2, 3]) AS k) u
GROUP BY 1, 2
"""


INCR_CUTOFF = "2024-01-20 00:00:00"


def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of the hourly rollup: the pre-cutoff
    rollup (the 'stored' continuous aggregate) is merged with the
    delta batch's rollup by re-aggregating their union on the bucket
    key — count and decimal-sum are associative, so merge == full
    recompute (the oracle computes the full recompute). At 100 TB this
    is the upsert path a materialized rollup takes per micro-batch:
    only |delta| + |touched buckets| rows move, never the history.
    (Distinct-user counts are deliberately absent here: COUNT DISTINCT
    is not mergeable — the sketch tier handles it via HLL union.)"""
    e = load_table(spark, sf_dir, "events")

    def hourly(df: DataFrame) -> DataFrame:
        return df.groupBy(
            time_bucket_start(F.col("ts"), ROLLUP_BUCKET_SEC).alias("bucket_start_sec"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_value_dec"),
        )

    stored = hourly(e.filter(F.col("ts") < F.lit(INCR_CUTOFF)))
    delta = hourly(e.filter(F.col("ts") >= F.lit(INCR_CUTOFF)))
    merged = (
        stored.unionByName(delta)
        .groupBy("bucket_start_sec", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value_dec").cast("double").alias("sum_value"),
        )
    )
    return merged


Q_INCREMENTAL_ORACLE = f"""
SELECT (epoch_us(ts) // 1000000) - ((epoch_us(ts) // 1000000) % {ROLLUP_BUCKET_SEC})
         AS bucket_start_sec,
       event_type,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_daily_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact daily active users — the COUNT DISTINCT that does NOT merge
    (hence the incremental-rollup operator excludes it; this is the
    exact tier, the HLL twin below is the mergeable 100 TB tier)."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.countDistinct("user_id").alias("daily_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


Q_DAILY_USERS_ORACLE = """
SELECT strftime(ts, '%Y-%m-%d') AS day,
       count(DISTINCT user_id) AS daily_users,
       count(*) AS n_events
FROM events GROUP BY 1
"""


# HLL estimate tolerance: approx_count_distinct(rsd=0.02) has standard
# error 2%; the flag uses 5σ = 10% two-sided, plus 2 absolute for tiny
# days (where the sparse-mode estimate is exact anyway). 3σ was the
# original bound, but an in-contract HLL++ still exceeds 3σ for ~0.3%
# of groups — a dataset with many days could red the driver check with
# no actual bug (deterministic per dataset, so a PERSISTENT false red
# for that SF; ADVICE r10). At 5σ the per-group false-flag probability
# is ~6e-7 while a broken/drifting sketch (tens of percent off) still
# trips it. Integer-exact predicate: |est − exact|·100 ≤ exact·10 + 200.
HLL_RSD = 0.02
HLL_TOL_PCT = 10
HLL_TOL_ABS = 2


def q_daily_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch tier of q_daily_distinct_users: approx_count_distinct
    (HyperLogLog++). HLL registers are mergeable, so daily sketches
    union into weekly/monthly counts without rescanning — the property
    the exact tier lacks.

    Raw estimates aren't cross-engine bit-comparable, so the oracle
    contract is the estimate's ACCURACY CLAIM instead (VERDICT r9 task
    #3): alongside the exact per-day count (oracle-identical), the
    query emits est_within_tol = [|est − exact| ≤ 10% + 2], the 5σ
    bound of the configured rsd=0.02 — the oracle asserts 1, so a
    drifting or broken sketch hash-reds loudly instead of hiding
    behind a rows-only check. Spark's HLL is deterministic for a given
    input set (fixed hash, commutative register merge), so the flag is
    batching- and partitioning-invariant. The exact count rides along
    only to anchor the tolerance; the 100 TB consumer drops it and
    keeps the mergeable sketch."""
    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.approx_count_distinct("user_id", HLL_RSD).alias("est"),
        F.countDistinct("user_id").alias("daily_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
    ok = (
        F.abs(F.col("est") - F.col("daily_users")) * 100
        <= F.col("daily_users") * HLL_TOL_PCT + HLL_TOL_ABS * 100
    )
    return agg.select(
        "day", "daily_users", "n_events", ok.cast("int").alias("est_within_tol")
    )


Q_DAILY_USERS_HLL_ORACLE = """
SELECT strftime(ts, '%Y-%m-%d') AS day,
       count(DISTINCT user_id) AS daily_users,
       count(*) AS n_events,
       1 AS est_within_tol
FROM events GROUP BY 1
"""


Z_BITS = 16


def _z_spark(u: str, t: str) -> str:
    """Bit-interleaved Z-value (Morton code) as a Spark SQL expression —
    generated from the same loop as the DuckDB dialect below, so both
    engines compute the identical integer."""
    return " + ".join(
        f"shiftleft(shiftright({u}, {b}) & 1, {2 * b + 1})"
        f" + shiftleft(shiftright({t}, {b}) & 1, {2 * b})"
        for b in range(Z_BITS)
    )


def _z_duck(u: str, t: str) -> str:
    return " + ".join(
        f"((({u} >> {b}) & 1) << {2 * b + 1})"
        f" + ((({t} >> {b}) & 1) << {2 * b})"
        for b in range(Z_BITS)
    )


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (user_id, event time) —
    the multi-dimensional layout primitive: sorting/range-partitioning
    a 100 TB table by this key co-locates rows that are close in BOTH
    dimensions, so per-file min/max statistics prune scans for either
    predicate (the effect behind Delta/Iceberg Z-ORDER, built from
    pure bit arithmetic — exact in any engine). Output: per Z-range
    bucket, row count and the user/time spans that landed in it."""
    e = load_table(spark, sf_dir, "events")
    z = e.select(
        F.expr(
            _z_spark("(user_id % 65536)", "(unix_seconds(ts) % 65536)")
        ).alias("z")
    )
    return (
        z.groupBy((F.col("z") / F.lit(1 << 26)).cast("long").alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("z").alias("z_min"),
            F.max("z").alias("z_max"),
        )
    )


Q_ZORDER_ORACLE = f"""
WITH z AS (
  SELECT {_z_duck("(user_id % 65536)", "((epoch_us(ts) // 1000000) % 65536)")} AS z
  FROM events
)
SELECT CAST(floor(z / {1 << 26}) AS BIGINT) AS z_bucket,
       count(*) AS n_rows, min(z) AS z_min, max(z) AS z_max
FROM z GROUP BY 1
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-transition matrix: per user, order events by
    (ts, event_id) — the id tiebreak makes the sequence total, hence
    engine-deterministic — and count (current → next) type bigrams.
    One shuffle (window on user_id), then a tiny (from, to) rollup:
    the sequence-mining primitive (Markov chains, funnel discovery)."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    steps = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    return steps.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )


Q_TRANSITIONS_ORACLE = """
WITH steps AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
)
SELECT from_type, to_type, count(*) AS n_transitions
FROM steps WHERE to_type IS NOT NULL
GROUP BY 1, 2
"""


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of `value` per user (hypertable-style):
    each observation holds until the next one; weight = microseconds to
    the next event. Integral = Σ value·dt with dt integer micros and
    value cast to decimal — exact and order-independent; last event of
    each user carries no interval. One window shuffle on user_id, then
    per-user aggregation on the same partitioning (no extra exchange)."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    stepped = e.select(
        "user_id",
        # fixed-point micro-units: floor of an exact double product is
        # engine-identical, unlike double→decimal rounding
        F.floor(F.col("value") * 1_000_000).alias("value_fp"),
        (F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts")).alias("dt_us"),
    ).filter(F.col("dt_us").isNotNull())
    # The 21-digit Σ value_fp·dt_us runs in DECIMAL(38,0) *internally*
    # (Java's decimal→double cast is not correctly rounded above 2^53,
    # the r4 hash miss), but the decimal intermediate is NOT emitted:
    # Spark decimal128 and DuckDB DECIMAL cross the driver's value hash
    # differently even when the printed values are identical (the r5
    # hash miss). The output carries only BIGINT columns:
    # twa_fp = floor(weighted_sum_fp / total_us) — exact integer
    # micro-value-units. Implemented as (a - a % b) / b: the decimal
    # remainder and subtraction are exact, the division then has an
    # integer quotient (≤ 10^6·max(value), far inside long range), so
    # the decimal division is lossless and engine-identical. value ≥ 0
    # in this domain, so truncating division and floor coincide.
    agg = stepped.groupBy("user_id").agg(
        F.sum(F.col("value_fp").cast("decimal(38,0)") * F.col("dt_us")).alias(
            "weighted_sum_fp"
        ),
        F.sum("dt_us").alias("total_us"),
    )
    return agg.select(
        "user_id",
        "total_us",
        (
            (F.col("weighted_sum_fp") - F.col("weighted_sum_fp") % F.col("total_us"))
            / F.col("total_us")
        )
        .cast("long")
        .alias("twa_fp"),
    )


Q_TWA_ORACLE = """
WITH stepped AS (
  SELECT user_id,
         CAST(floor(value * 1000000) AS BIGINT) AS value_fp,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - epoch_us(ts) AS dt_us
  FROM events
), agg AS (
  SELECT user_id,
         SUM(CAST(value_fp AS DECIMAL(38,0)) * dt_us) AS weighted_sum_fp,
         CAST(SUM(dt_us) AS BIGINT) AS total_us
  FROM stepped WHERE dt_us IS NOT NULL
  GROUP BY user_id
)
SELECT user_id, total_us,
       CAST(CAST(weighted_sum_fp AS HUGEINT) // CAST(total_us AS HUGEINT)
            AS BIGINT) AS twa_fp
FROM agg
"""


def q_scd2_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2-style history build: collapse each user's consecutive
    identical event_types into effective-dated rows
    (user, status, valid_from, valid_to, n_events) — the
    slowly-changing-dimension shape a CDC pipeline materializes from a
    change log. Gaps-and-islands: flag status changes with lag(), run a
    cumulative sum to number the islands, aggregate per island. One
    shuffle on user_id; both windows and the final groupBy share that
    partitioning. valid_to is the next island's start (open interval),
    NULL for the current status."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    flagged = e.select(
        "user_id",
        "event_id",
        F.col("event_type").alias("status"),
        F.unix_micros("ts").alias("ts_us"),
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        )
        .otherwise(0)
        .alias("chg"),
    )
    w_cum = (
        W.partitionBy("user_id")
        .orderBy(F.asc("ts_us"), F.asc("event_id"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    islands = flagged.withColumn("island", F.sum("chg").over(w_cum))
    hist = islands.groupBy("user_id", "island", "status").agg(
        F.min("ts_us").alias("valid_from_us"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w2 = W.partitionBy("user_id").orderBy(F.asc("island"))
    return hist.select(
        "user_id",
        "status",
        "valid_from_us",
        F.lead("valid_from_us").over(w2).alias("valid_to_us"),
        "n_events",
    )


Q_SCD2_ORACLE = """
WITH flagged AS (
  SELECT user_id, event_id, event_type AS status, epoch_us(ts) AS ts_us,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), islands AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                           ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
), hist AS (
  SELECT user_id, island, status,
         min(ts_us) AS valid_from_us, count(*) AS n_events
  FROM islands GROUP BY 1, 2, 3
)
SELECT user_id, status, valid_from_us,
       lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY island)
         AS valid_to_us,
       n_events
FROM hist
"""


def q_interval_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval concurrency via sweep-line: how many order lines are
    "in flight" (ordered but not yet shipped) on each calendar day —
    the classic overlapping-intervals aggregate (concurrent sessions,
    active loans, beds occupied) that naive SQL answers with an
    O(n·days) range join.

    Sweep-line decomposition: each interval contributes +1 on its start
    day and -1 the day after it ends; the daily concurrency is the
    running sum of deltas. The heavy stage — reducing n intervals to
    per-day deltas — is a keyed aggregate with map-side partials, so
    100 TB of intervals collapse to a calendar-sized relation (bounded
    by days, not rows) BEFORE the only ordered window runs; that final
    running sum is over the tiny date relation, which is why the
    single-partition window is safe here (and only here)."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.to_date("l_shipdate").alias("ship_d")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("ord_d")
    )
    j = l.join(o, l["l_orderkey"] == o["o_orderkey"]).select("ord_d", "ship_d")
    deltas = (
        j.select(F.col("ord_d").alias("d"), F.lit(1).alias("ns"), F.lit(0).alias("ne"))
        .unionByName(
            j.select(
                F.date_add("ship_d", 1).alias("d"),
                F.lit(0).alias("ns"),
                F.lit(1).alias("ne"),
            )
        )
        .groupBy("d")
        .agg(F.sum("ns").alias("n_start"), F.sum("ne").alias("n_end"))
    )
    w = W.orderBy("d").rowsBetween(W.unboundedPreceding, W.currentRow)
    return deltas.select(
        "d",
        "n_start",
        "n_end",
        F.sum(F.col("n_start") - F.col("n_end")).over(w).alias("in_flight"),
    )


Q_INTERVAL_SWEEP_ORACLE = """
WITH j AS (
  SELECT CAST(o_orderdate AS DATE) AS ord_d, CAST(l_shipdate AS DATE) AS ship_d
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), deltas AS (
  SELECT d, CAST(sum(ns) AS BIGINT) AS n_start, CAST(sum(ne) AS BIGINT) AS n_end
  FROM (
    SELECT ord_d AS d, 1 AS ns, 0 AS ne FROM j
    UNION ALL
    SELECT ship_d + 1, 0, 1 FROM j
  ) GROUP BY d
)
SELECT d, n_start, n_end,
       CAST(sum(n_start - n_end) OVER (ORDER BY d
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS in_flight
FROM deltas
"""


def q_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile — the baseline a capacity
    planner or anomaly detector normalizes against: events per weekday
    vs the all-days expectation, as an exact-ppm index (1 000 000 =
    exactly average). Counts are integers and the expectation is a
    cross-product comparison (n_events·n_days_total vs
    n_total·n_days_dow), so every index is engine-exact.

    Scale: one (weekday)-keyed aggregate with map-side partials over
    the scan plus a 7-row broadcast total — scan speed at any size."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.to_date("ts").alias("d"), F.dayofweek("ts").alias("dow")
    ).agg(F.count(F.lit(1)).alias("n"))
    per_dow = daily.groupBy("dow").agg(
        F.sum("n").alias("n_events"), F.count(F.lit(1)).alias("n_days")
    )
    totals = per_dow.agg(
        F.sum("n_events").alias("total_events"), F.sum("n_days").alias("total_days")
    )
    return per_dow.crossJoin(F.broadcast(totals)).select(
        "dow",
        "n_events",
        "n_days",
        # DECIMAL(38,0) numerator: n_events·total_days·10⁶ reaches
        # ~10²¹ at 10¹² events (int64 ANSI-throws); denominator stays
        # long-safe but rides the decimal division anyway
        F.expr(
            "cast((cast(n_events as decimal(38,0)) * total_days * 1000000)"
            " div (cast(n_days as decimal(38,0)) * total_events) as bigint)"
        ).alias("seasonal_index_ppm"),
    )


Q_SEASONAL_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, dayofweek(ts) + 1 AS dow, count(*) AS n
  FROM events GROUP BY 1, 2
), per_dow AS (
  SELECT dow, CAST(sum(n) AS BIGINT) AS n_events, count(*) AS n_days
  FROM daily GROUP BY dow
), totals AS (
  SELECT CAST(sum(n_events) AS BIGINT) AS total_events,
         CAST(sum(n_days) AS BIGINT) AS total_days
  FROM per_dow
)
SELECT dow, n_events, n_days,
       CAST((CAST(n_events AS HUGEINT) * total_days * 1000000)
            // (CAST(n_days AS HUGEINT) * total_events) AS BIGINT)
         AS seasonal_index_ppm
FROM per_dow CROSS JOIN totals
"""


PIVOT_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_pivot_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-type pivot via the DataFrame pivot() API — the
    wide-format report every dashboard export runs (one column per
    event type). The pivot value list is EXPLICIT
    (PIVOT_EVENT_TYPES): with an explicit list Spark skips the extra
    distinct-values job AND the output schema is fixed — both
    mandatory at 100 TB (an inferred pivot over high-cardinality
    values is a driver OOM). Unseen types coalesce to 0 so the shape
    is stable across scale factors.

    Scale: exactly one shuffle — pivot compiles to the same
    one-pass conditional aggregation the oracle spells out
    (map-side partials per (day, type) land as columns, not rows)."""
    e = load_table(spark, sf_dir, "events")
    piv = (
        e.select(F.to_date("ts").alias("day"), "event_type")
        .groupBy("day")
        .pivot("event_type", PIVOT_EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    total = sum(
        (F.coalesce(F.col(t), F.lit(0)) for t in PIVOT_EVENT_TYPES),
        F.lit(0),
    )
    return piv.select(
        "day",
        *[
            F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}")
            for t in PIVOT_EVENT_TYPES
        ],
        total.alias("n_total"),
    )


def _pivot_oracle() -> str:
    cols = ",\n       ".join(
        f"CAST(coalesce(sum(CASE WHEN event_type = '{t}' THEN 1 END), 0)"
        f" AS BIGINT) AS n_{t}"
        for t in PIVOT_EVENT_TYPES
    )
    in_list = ", ".join(f"'{t}'" for t in PIVOT_EVENT_TYPES)
    return f"""
SELECT CAST(ts AS DATE) AS day,
       {cols},
       CAST(coalesce(sum(CASE WHEN event_type IN ({in_list}) THEN 1 END), 0)
            AS BIGINT) AS n_total
FROM events GROUP BY 1
"""


QUERY_DEFS = [
    QueryDef("q_asof_join", q_asof_join, Q_ASOF_ORACLE),
    QueryDef("q_pivot_daily_events", q_pivot_daily_events, _pivot_oracle()),
    QueryDef("q_interval_sweep", q_interval_sweep, Q_INTERVAL_SWEEP_ORACLE),
    QueryDef("q_seasonal_index", q_seasonal_index, Q_SEASONAL_ORACLE),
    QueryDef("q_scd2_status_history", q_scd2_status_history, Q_SCD2_ORACLE),
    QueryDef("q_event_transitions", q_event_transitions, Q_TRANSITIONS_ORACLE),
    QueryDef("q_time_weighted_avg", q_time_weighted_avg, Q_TWA_ORACLE),
    QueryDef("q_zorder_layout", q_zorder_layout, Q_ZORDER_ORACLE),
    QueryDef("q_daily_distinct_users", q_daily_distinct_users, Q_DAILY_USERS_ORACLE),
    QueryDef("q_daily_users_hll", q_daily_users_hll, Q_DAILY_USERS_HLL_ORACLE),
    QueryDef("q_range_join", q_range_join, Q_RANGE_ORACLE),
    QueryDef("q_time_bucket_rollup", q_time_bucket_rollup, Q_TIME_BUCKET_ORACLE),
    QueryDef("q_sliding_window", q_sliding_window, Q_SLIDING_ORACLE),
    QueryDef("q_incremental_rollup", q_incremental_rollup, Q_INCREMENTAL_ORACLE),
]
