"""Relational analytics operators (extensions beyond the reference, which
implements no joins/aggregation queries — SURVEY.md §2.8; built Spark-first
per §7.5 and used as the bench headliners).

Cross-engine exactness strategy: monetary sums are computed as
``CAST(SUM(CAST(expr AS DECIMAL(18,s)) ) AS DOUBLE)``. The per-row double
product is IEEE-deterministic in both engines; casting it to a fixed-scale
decimal recovers the exact few-decimal value; decimal summation is exact
and order-independent (unlike double summation, whose partial-aggregation
order differs between engines); the final cast to double is deterministic.
Timestamps are compared as epoch seconds / formatted strings to dodge
dtype mismatches.

Scale notes:
- q1: single scan, partial+final hash agg on 2 low-cardinality keys; the
  shipdate filter pushes into the parquet scan.
- q3: customer is broadcast (small dim); orders⋈lineitem shuffles on the
  join key; AQE handles skew. Top-N via global sort of the tiny grouped
  result, ties broken by key for determinism.
- sessionize: one hash-partition-by-user + in-partition sort (Spark
  window); no driver-side state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ai_data_pipeline_spark.catalog import load_table
from ai_data_pipeline_spark.functions import dec_sum  # canonical home; re-exported
from ai_data_pipeline_spark.functions.expressions import WHITESPACE
from ai_data_pipeline_spark.registry import QueryDef

SESSION_GAP_US = 1800 * 1_000_000  # 30 min


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum(F.col("l_quantity")).alias("sum_qty"),
            dec_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            dec_sum(disc_price).alias("sum_disc_price"),
            dec_sum(charge, 6).alias("sum_charge"),
            (dec_sum(F.col("l_quantity")) / F.count(F.lit(1))).alias("avg_qty"),
            (dec_sum(F.col("l_extendedprice")) / F.count(F.lit(1))).alias("avg_price"),
            (dec_sum(F.col("l_discount")) / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # no hints on orders OR customer: both scale with SF (at the 100 TB
    # tier customer is ~10^10 rows), so a hard hint would force an
    # executor-OOM broadcast at cluster scale; AQE still picks broadcast
    # at test scale from runtime sizes. Only the genuinely fixed-size
    # relations (region: 5 rows, nation: 25 rows) carry hard hints in
    # this module.
    joined = l.join(
        o, F.col("l_orderkey") == F.col("o_orderkey")
    ).join(c, F.col("o_custkey") == F.col("c_custkey"))
    grouped = joined.groupBy(
        "l_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        "o_orderpriority",
    ).agg(dec_sum(revenue).alias("revenue"))
    return grouped.orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(10)


Q3_ORACLE = """
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus) — grouping-sets coverage."""
    l = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(dec_sum(revenue).alias("revenue"), F.count(F.lit(1)).alias("n"))
    )


Q_ROLLUP_ORACLE = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
  count(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by totalprice per priority — the two-level
    tournament top-k: a single window over a 5-value key would funnel
    the whole fact table through 5 reducers at cluster scale, so level
    1 takes the local top-3 per (priority, input partition) — fully
    parallel, and selection under a TOTAL order (price desc, orderkey
    asc) is associative, so every global winner survives its local
    heat — and level 2 ranks only the ≤ 3×partitions survivors per
    priority. Same result as the naive window at any partitioning."""
    from ai_data_pipeline_spark.functions import topk_per_key

    o = load_table(spark, sf_dir, "orders")
    return topk_per_key(
        o.select("o_orderpriority", "o_orderkey", "o_totalprice"),
        ["o_orderpriority"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        3,
    ).select("o_orderpriority", "o_orderkey", "o_totalprice", "rk")


Q_TOPK_ORACLE = """
SELECT o_orderpriority, o_orderkey, o_totalprice, rk FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders
) WHERE rk <= 3
"""


def q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling-window event aggregation (batch form; the
    streaming module runs the same logic via Structured Streaming)."""
    e = load_table(spark, sf_dir, "events")
    win = (F.unix_timestamp("ts") - F.unix_timestamp("ts") % 300).alias("win_start")
    return (
        e.groupBy(win, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum(F.col("value"), 6).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


Q_EVENTS_WINDOW_ORACLE = """
SELECT (epoch_ns(ts) // 1000000000 // 300) * 300 AS win_start, event_type,
  count(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
  count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: per-user sessions split at 30-min inactivity gaps.
    Lag + cumulative-sum window pattern; one shuffle on user_id."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts")).alias("ts_us"), "event_id"
    )
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    sessions = (
        e.withColumn("prev_us", F.lag("ts_us").over(w))
        .withColumn(
            "is_new",
            F.when(
                F.col("prev_us").isNull()
                | (F.col("ts_us") - F.col("prev_us") > SESSION_GAP_US),
                1,
            ).otherwise(0),
        )
        .withColumn("session_seq", F.sum("is_new").over(
            w.rowsBetween(W.unboundedPreceding, 0)
        ))
    )
    return sessions.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("start_us"),
        F.max("ts_us").alias("end_us"),
    )


Q_SESSIONIZE_ORACLE = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
), flagged AS (
  SELECT user_id, ts_us, event_id,
    CASE WHEN lag(ts_us) OVER w IS NULL
           OR ts_us - lag(ts_us) OVER w > {SESSION_GAP_US} THEN 1 ELSE 0 END AS is_new
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), numbered AS (
  SELECT user_id, ts_us,
    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq, count(*) AS n_events,
       min(ts_us) AS start_us, max(ts_us) AS end_us
FROM numbered GROUP BY user_id, session_seq
"""


# the integer value of the "k" key in a JSON props string (group 1)
_K_RX = rf'"k":[{WHITESPACE}]*(-?\d+)'


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction from the JSON props column."""
    e = load_table(spark, sf_dir, "events")
    k = F.regexp_extract("props", _K_RX, 1).cast("long")
    return e.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.count(F.when(k.isNotNull(), 1)).alias("n_with_k"),
    )


Q_EVENTS_JSON_ORACLE = f"""
SELECT event_type,
  CAST(SUM(TRY_CAST(regexp_extract(props, '{_K_RX}', 1) AS BIGINT)) AS BIGINT) AS sum_k,
  count(CASE WHEN regexp_extract(props, '{_K_RX}', 1) <> '' THEN 1 END) AS n_with_k
FROM events GROUP BY event_type
"""


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join, revenue per nation within a region.
    Scale: region/nation are fixed-size broadcast dims (hard hints);
    customer/supplier scale with SF, so their join strategy is left to
    AQE (broadcast at test scale, shuffle at cluster scale); only
    orders⋈lineitem shuffles (on orderkey); the local-supplier predicate
    (c_nationkey = s_nationkey) filters after the dim joins."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return joined.groupBy(F.col("n_name").alias("nation")).agg(
        dec_sum(revenue).alias("revenue"), F.count(F.lit(1)).alias("n_items")
    )


Q5_ORACLE = """
SELECT n_name AS nation,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
  count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


BIG_ORDER = 400000.0  # totalprice threshold for the semi/anti pair


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join (EXISTS): customers holding at least one big-ticket
    order, counted per market segment. left_semi keeps the probe side
    unduplicated — no post-join distinct needed."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > BIG_ORDER)
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


Q_SEMI_ORACLE = f"""
SELECT c_mktsegment, count(*) AS n_customers
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > {BIG_ORDER})
GROUP BY c_mktsegment
"""


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (NOT EXISTS): customers with no big-ticket order, per
    segment. The build side is pre-filtered before the shuffle."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > BIG_ORDER)
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


Q_ANTI_ORACLE = f"""
SELECT c_mktsegment, count(*) AS n_customers
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > {BIG_ORDER})
GROUP BY c_mktsegment
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: (BUILDING ∪ MACHINERY customers) ∩ big spenders,
    minus negative balances — UNION / INTERSECT / EXCEPT in one plan."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    machinery = c.filter(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    big = (
        o.filter(F.col("o_totalprice") > BIG_ORDER)
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    negative = c.filter(F.col("c_acctbal") < 0).select("c_custkey")
    return (
        building.union(machinery).intersect(big).exceptAll(negative)
        .select(F.col("c_custkey").alias("custkey"))
    )


Q_SET_OPS_ORACLE = f"""
SELECT c_custkey AS custkey FROM (
  (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
   UNION ALL
   SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
  INTERSECT
  SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > {BIG_ORDER}
)
EXCEPT ALL
SELECT c_custkey FROM customer WHERE c_acctbal < 0
"""


def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus) with grouping ids — all four
    grouping sets in one pass (Expand + single aggregation)."""
    l = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.cube("l_returnflag", "l_linestatus")
        .agg(
            dec_sum(revenue).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
            F.grouping_id().alias("gid"),
        )
    )


Q_CUBE_ORACLE = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
  count(*) AS n,
  GROUPING(l_returnflag, l_linestatus) AS gid
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q7_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-border trade volume between (customer
    nation, supplier nation) pairs over two ship years. Scale: nation
    joins twice under different aliases — both hard-broadcast (25 rows,
    fixed size); customer/supplier scale with SF so AQE picks their
    strategy; the only guaranteed shuffle is lineitem⋈orders on
    orderkey. The inequality (different nations) is a cheap post-join
    filter on two dim columns."""
    cn = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .withColumn("ship_year", F.year("l_shipdate"))
    )
    return joined.groupBy("cust_nation", "supp_nation", "ship_year").agg(
        dec_sum(volume).alias("volume"), F.count(F.lit(1)).alias("n_items")
    )


Q7_ORACLE = """
SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
  CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS ship_year,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS volume,
  count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE c_nationkey <> s_nationkey
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1, 2, 3
"""


def q_outer_join_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-count distribution over ALL customers, including the
    order-less (left outer semantics). Scale: orders is pre-aggregated
    to one row per custkey BEFORE the outer join, so the join input is
    |customers| + |distinct custkeys| rows instead of |orders| — the
    classic aggregate-pushdown-below-outer-join rewrite, done by hand
    because Catalyst won't push aggs through joins."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    covered = c.join(
        per_cust, F.col("c_custkey") == F.col("o_custkey"), "left_outer"
    ).select(F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"))
    return covered.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


Q_OUTER_ORACLE = """
SELECT n_orders, count(*) AS n_customers FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey
) GROUP BY n_orders
"""


def q_full_outer_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily purchase value vs daily error count, full-outer-joined on
    the day bucket so days with only one side survive. Day keys are
    epoch-second integers (exact cross-engine)."""
    e = load_table(spark, sf_dir, "events")
    day = (
        (F.unix_timestamp(F.col("ts")) - F.unix_timestamp(F.col("ts")) % 86400)
    ).alias("day_sec")
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(day)
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            dec_sum(F.col("value"), 6).alias("purchase_value"),
        )
    )
    errors = (
        e.filter(F.col("event_type") == "error")
        .groupBy(day)
        .agg(F.count(F.lit(1)).alias("n_errors"))
    )
    return (
        purchases.join(errors, "day_sec", "full_outer")
        .select(
            "day_sec",
            F.coalesce(F.col("n_purchases"), F.lit(0)).alias("n_purchases"),
            "purchase_value",
            F.coalesce(F.col("n_errors"), F.lit(0)).alias("n_errors"),
        )
    )


Q_FULL_OUTER_ORACLE = """
WITH p AS (
  SELECT (epoch_us(ts) // 1000000) - ((epoch_us(ts) // 1000000) % 86400) AS day_sec,
         count(*) AS n_purchases,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY 1
), er AS (
  SELECT (epoch_us(ts) // 1000000) - ((epoch_us(ts) // 1000000) % 86400) AS day_sec,
         count(*) AS n_errors
  FROM events WHERE event_type = 'error' GROUP BY 1
)
SELECT COALESCE(p.day_sec, er.day_sec) AS day_sec,
       COALESCE(p.n_purchases, 0) AS n_purchases,
       p.purchase_value,
       COALESCE(er.n_errors, 0) AS n_errors
FROM p FULL OUTER JOIN er ON p.day_sec = er.day_sec
"""


def q_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2-shaped argmin-per-group: for every part, the supplier of its
    cheapest lineitem (deterministic tie-break), then parts won per
    supplier.

    The argmin is a struct-MIN AGGREGATE, not a row_number window
    (VERDICT r10 item #1): struct comparison is lexicographic by field
    order, so min(struct(price, suppkey, orderkey, linenumber)) is
    exactly the window's ORDER BY with its tie-break — but it hash-
    aggregates with map-side partial combines instead of sorting the
    full lineitem relation inside the shuffle (SCALING.md convention:
    never a partition-key window on a data-scaled key). Supplier
    scales with SF so its join strategy is left to AQE (broadcast at
    test scale)."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    best = l.groupBy("l_partkey").agg(
        F.min(
            F.struct("l_extendedprice", "l_suppkey", "l_orderkey", "l_linenumber")
        ).alias("b")
    )
    return (
        best.groupBy(F.col("b.l_suppkey").alias("l_suppkey"))
        .agg(F.count(F.lit(1)).alias("n_parts_cheapest"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "n_parts_cheapest")
    )


Q_CHEAPEST_ORACLE = """
WITH best AS (
  SELECT l_suppkey, row_number() OVER (
           PARTITION BY l_partkey
           ORDER BY l_extendedprice, l_suppkey, l_orderkey, l_linenumber) AS rn
  FROM lineitem
)
SELECT s_suppkey, s_name, count(*) AS n_parts_cheapest
FROM best JOIN supplier ON l_suppkey = s_suppkey
WHERE rn = 1
GROUP BY 1, 2
"""


QUERY_DEFS = [
    QueryDef("q1_pricing_summary", q1_pricing_summary, Q1_ORACLE),
    QueryDef("q3_top_orders", q3_top_orders, Q3_ORACLE),
    QueryDef("q_rollup_revenue", q_rollup_revenue, Q_ROLLUP_ORACLE),
    QueryDef("q_topk_per_group", q_topk_per_group, Q_TOPK_ORACLE),
    QueryDef("q_events_window", q_events_window, Q_EVENTS_WINDOW_ORACLE),
    QueryDef("q_sessionize", q_sessionize, Q_SESSIONIZE_ORACLE),
    QueryDef("q_events_json", q_events_json, Q_EVENTS_JSON_ORACLE),
    QueryDef("q5_region_revenue", q5_region_revenue, Q5_ORACLE),
    QueryDef("q_semi_join", q_semi_join, Q_SEMI_ORACLE),
    QueryDef("q_anti_join", q_anti_join, Q_ANTI_ORACLE),
    QueryDef("q_set_ops", q_set_ops, Q_SET_OPS_ORACLE),
    QueryDef("q_cube_revenue", q_cube_revenue, Q_CUBE_ORACLE),
    QueryDef("q7_nation_trade", q7_nation_trade, Q7_ORACLE),
    QueryDef("q_outer_join_coverage", q_outer_join_coverage, Q_OUTER_ORACLE),
    QueryDef("q_full_outer_daily", q_full_outer_daily, Q_FULL_OUTER_ORACLE),
    QueryDef("q_cheapest_supplier", q_cheapest_supplier, Q_CHEAPEST_ORACLE),
]
