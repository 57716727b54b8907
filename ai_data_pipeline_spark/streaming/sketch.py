"""Streaming heavy hitters: Misra–Gries summary maintenance over a
micro-batched event stream (joins the streaming tier to the frequency
-sketch tier the way streaming/ivf.py joins it to similarity).

Production shape: a firehose of events lands in micro-batches; the
consumer wants "who are the heavy users so far" WITHOUT keeping the
full per-user count relation in state. Each micro-batch reduces to its
K-row canonical Misra–Gries summary plus a 1-row error budget (the
(K+1)-th largest count it truncated away), appended to an idempotent
summary log partitioned by the DATA's own decade bucket — state is
K rows per batch, not |users| rows.

The final relation merges the logged summaries with the MG merge rule
(sum guaranteed counts, re-truncate with the merged (K+1)-th value,
budgets ADD — Agarwal et al., "Mergeable Summaries", PODS'12) and
emits the two MG theorems plus the completeness guarantee as integer
predicates beside the exact whole-corpus counts, so the DuckDB oracle
re-derives the entire construction and asserts every flag: the
operators/sketches.py `sketch_mg_merge_days` contract, driven through
Structured Streaming.

ARRIVAL-ORDER INVARIANCE (the stream_index_dedup / stream_ivf
lesson): each batch file holds exactly one decade bucket of the month
(derived from row timestamps, not from arrival), the per-batch summary
is a pure function of its rows, and the log partition key is the
bucket FROM THE DATA — so neither batch order nor batch_id can change
the result; no mtime staging, maxFilesPerTrigger=1.

Scale: per batch one keyed count aggregate (map-side combines) and a
two-level tournament for the (K+1)-th order statistic; the log grows
K+1 rows per batch; the merge touches only the log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_data_pipeline_spark.catalog import load_table
from ai_data_pipeline_spark.registry import QueryDef
from ai_data_pipeline_spark.session import session_scoped_cache
from ai_data_pipeline_spark.operators.sketches import (
    MG_K,
    _mg_threshold,
    merge_mg_summaries,
)
from ai_data_pipeline_spark.streaming.windows import batch_file_stream, drain_batches

# Decade-of-month buckets 0,1,2 with day 31 CLAMPED into bucket 2 —
# without the clamp a 31st-day event maps to bucket 3, which the
# 3-file writer below would silently drop while the oracle keeps it.
_BUCKET_EXPR = "least((dayofmonth(ts) - 1) div 10, 2)"
_BUCKET_SQL = "least((EXTRACT(day FROM ts) - 1) // 10, 2)"


def _mg_summary_log(spark: SparkSession, sf_dir: str):
    """Run the maintenance stream once per (session, sf_dir); return
    (summaries, budgets) DataFrames read back from the log. Memoized
    with the cls_linear_score discipline (immutable-sf_dir contract
    documented there)."""
    cache = session_scoped_cache(spark, "stream_mg_log")
    if sf_dir in cache:
        return cache[sf_dir]

    e = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    # unstaged: the result must not depend on batch order
    stream = batch_file_stream(
        spark, lambda: [e.filter(F.expr(_BUCKET_EXPR) == b) for b in range(3)]
    )

    def summarize(batch_df: DataFrame) -> DataFrame:
        # one log for both: summary rows (bucket, user_id, g) carry no
        # t, and the per-bucket budget rows (bucket, t) carry no g
        counts = (
            batch_df.groupBy(
                F.expr(_BUCKET_EXPR).alias("bucket"), "user_id"
            ).agg(F.count(F.lit(1)).alias("c"))
        )
        t_tbl = _mg_threshold(counts, ["bucket"], "user_id")
        none = F.lit(None).cast("long")
        return (
            counts.join(t_tbl, "bucket")
            .filter(F.col("c") > F.col("t"))
            .select("bucket", "user_id", (F.col("c") - F.col("t")).alias("g"), none.alias("t"))
            .unionByName(t_tbl.select("bucket", none.alias("user_id"), none.alias("g"), "t"))
        )

    log = drain_batches(stream, summarize).localCheckpoint()  # ≤ K+1 rows/batch
    summaries = log.filter(F.col("t").isNull()).select("user_id", "g")
    budgets = log.filter(F.col("g").isNull()).select("t")
    cache[sf_dir] = (summaries, budgets)
    return cache[sf_dir]


def stream_mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merged heavy-hitter view over the streamed summary log —
    the merge rule and every guarantee flag come from the SHARED
    merge_mg_summaries helper (operators/sketches.py), so the
    streaming view and the batch proof sketch_mg_merge_days are the
    same construction by definition, fed different summary logs."""
    summaries, budgets = _mg_summary_log(spark, sf_dir)
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c_exact"))
    )
    return merge_mg_summaries(summaries, budgets, exact)


STREAM_MG_ORACLE = f"""
WITH bucketed AS (
  SELECT {_BUCKET_SQL} AS bucket, user_id, count(*) AS c
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT bucket, user_id, c,
         row_number() OVER (PARTITION BY bucket
                            ORDER BY c DESC, user_id) AS rk
  FROM bucketed
), t_b AS (
  SELECT bucket,
         CASE WHEN count(*) FILTER (WHERE rk = {MG_K + 1}) = 1
              THEN min(c) FILTER (WHERE rk = {MG_K + 1}) ELSE 0 END AS t
  FROM ranked GROUP BY 1
), pre AS (
  SELECT b.user_id, CAST(sum(b.c - t.t) AS BIGINT) AS c
  FROM bucketed b JOIN t_b t ON b.bucket = t.bucket
  WHERE b.c > t.t GROUP BY 1
), pre_ranked AS (
  SELECT user_id, c,
         row_number() OVER (ORDER BY c DESC, user_id) AS rk
  FROM pre
), budget AS (
  SELECT CAST((SELECT sum(t) FROM t_b) AS BIGINT) +
         (SELECT CASE WHEN count(*) FILTER (WHERE rk = {MG_K + 1}) = 1
                      THEN min(c) FILTER (WHERE rk = {MG_K + 1})
                      ELSE 0 END
          FROM pre_ranked) AS err_budget,
         (SELECT CASE WHEN count(*) FILTER (WHERE rk = {MG_K + 1}) = 1
                      THEN min(c) FILTER (WHERE rk = {MG_K + 1})
                      ELSE 0 END
          FROM pre_ranked) AS t_f
), exact AS (
  SELECT user_id, count(*) AS c_exact FROM events GROUP BY 1
), merged AS (
  SELECT p.user_id, p.c - b.t_f AS mg_count, b.err_budget
  FROM pre p CROSS JOIN budget b
  WHERE p.c > b.t_f
), missed AS (
  SELECT CASE WHEN count(*) = 0 THEN 1 ELSE 0 END AS completeness_ok
  FROM exact e CROSS JOIN budget b
  LEFT JOIN merged m ON e.user_id = m.user_id
  WHERE m.user_id IS NULL AND e.c_exact > b.err_budget
)
SELECT e.user_id, e.c_exact, m.mg_count, m.err_budget,
       CAST(m.mg_count <= e.c_exact AS INT) AS lower_ok,
       CAST(e.c_exact - m.mg_count <= m.err_budget AS INT) AS bound_ok,
       x.completeness_ok
FROM exact e JOIN merged m ON e.user_id = m.user_id
CROSS JOIN missed x
"""


QUERY_DEFS = [
    QueryDef("stream_mg_heavy_hitters", stream_mg_heavy_hitters, STREAM_MG_ORACLE),
]
