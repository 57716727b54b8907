"""Incremental ANN index maintenance: streaming upsert of IVF cell
assignments, joining the streaming tier to the similarity tier.

Production shape: an embedding store receives new and RE-EMBEDDED
vectors continuously; the IVF index (vec_id -> cell assignment) must
follow without a full rebuild. Each micro-batch:

    assign: batch vectors x broadcast centroid table -> nearest cell
            (max_by aggregate, the ann_ivf discipline - one copy of
            each vector rides the shuffle, nothing sorts)
    merge:  append (vec_id, version, cell_id) to an idempotent
            batch_id-partitioned assignment log

and the INDEX is the log's compaction view - max-version row per
vec_id - exactly the streaming-table + materialized-view topology of
stream_index_dedup (streaming/advanced.py), applied to index
maintenance. Centroids stay FROZEN across the update stream (the
production posture: re-clustering is a scheduled offline job;
assignment maintenance is the online path).

ARRIVAL-ORDER INVARIANCE: rows carry an explicit version; compaction
is max_by(version) per vec_id, so which micro-batch a row landed in -
and in which order batches ran - cannot change the result (the
stream_index_dedup lesson; no mtime staging, maxFilesPerTrigger=1).

The update stream is PLANTED so re-assignment provably fires at every
SF: version-1 rows re-embed every corpus vector with vec_id % 7 == 3
as its dimension-REVERSED embedding (list_reverse - deterministic in
both engines, norm-preserving, and far enough from the original that
a fraction of updated vectors provably changes cell).

Scale: the per-batch cost is |batch| x N_CELLS broadcast-join work
plus one keyed aggregate; the log carries fixed-width rows; the
compaction view is one keyed max_by. At 10^9 vectors/day this is a
streaming upsert into a bucketed assignment table - no full-index
rebuild, no driver participation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_data_pipeline_spark.registry import QueryDef
from ai_data_pipeline_spark.session import session_scoped_cache
from ai_data_pipeline_spark.operators.similarity import (
    N_CELLS,
    N_QUERIES,
    _assign_cos,
    _cos_cents,
    _cos_sql,
    _split,
    _vectors,
)
from ai_data_pipeline_spark.streaming.windows import batch_file_stream, drain_batches

UPDATE_MOD = 7  # vec_id % 7 == 3 gets a version-1 re-embedding
UPDATE_REM = 3


def _ivf_assignment_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the maintenance stream once per (session, sf_dir) and return
    the FULL assignment log (vec_id, version, cell_id) — both queries
    below are views over it. Memoized with the cls_linear_score
    discipline (immutable-sf_dir contract documented there)."""
    cache = session_scoped_cache(spark, "stream_ivf_log")
    if sf_dir in cache:
        return cache[sf_dir]

    e = _vectors(spark, sf_dir)
    corpus, _ = _split(e)
    cents = _cos_cents(e)

    batch0 = corpus.select("vec_id", F.lit(0).alias("version"), "v")
    batch1 = corpus.filter(
        F.col("vec_id") % UPDATE_MOD == UPDATE_REM
    ).select("vec_id", F.lit(1).alias("version"), F.reverse("v").alias("v"))

    # unstaged: the result must not depend on batch order
    stream = batch_file_stream(spark, lambda: [batch0, batch1])
    log = (
        # nearest cell per (vec_id, version): the ann_ivf max_by shape
        drain_batches(
            stream, lambda b: _assign_cos(b, cents, ["vec_id", "version"], [])
        )
        .select("vec_id", "version", "cell_id")
        .localCheckpoint()  # fixed-width index rows: the materialized view
    )
    cache[sf_dir] = log
    return log


def stream_ivf_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintained index after the update stream: latest-version cell
    assignment per vector, rolled up per cell (population + vec_id
    checksum). Oracle: DuckDB assigns the FINAL vector states (reversed
    embedding where version 1 exists) to their nearest centroids
    directly — incremental maintenance must equal the batch rebuild."""
    log = _ivf_assignment_log(spark, sf_dir)
    latest = (
        log.groupBy("vec_id")
        .agg(F.max_by("cell_id", "version").alias("cell_id"))
    )
    return latest.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(F.col("vec_id").cast("decimal(38,0)"))
        .cast("long")
        .alias("sum_vec_id"),
    )


def stream_ivf_cell_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-churn audit of the update stream: for every re-embedded
    vector, its (old_cell -> new_cell) transition, counted per pair
    (pairs with old == new are the stable mass). This is the
    measurement that prices an embedding-model refresh BEFORE running
    it at 10^9 vectors: migration fraction == fraction of the index
    whose postings must move."""
    log = _ivf_assignment_log(spark, sf_dir)
    v0 = log.filter(
        (F.col("version") == 0)
        & (F.col("vec_id") % UPDATE_MOD == UPDATE_REM)
    ).select("vec_id", F.col("cell_id").alias("old_cell"))
    v1 = log.filter(F.col("version") == 1).select(
        "vec_id", F.col("cell_id").alias("new_cell")
    )
    return (
        v0.join(v1, "vec_id")
        .groupBy("old_cell", "new_cell")
        .agg(F.count(F.lit(1)).alias("n_moved"))
    )


def _duck_assign(src_rel: str, vec_expr: str) -> str:
    """Nearest-centroid assignment of `vec_expr` over relation
    `src_rel` (must expose vec_id and v), as a DuckDB subquery."""
    cos = _cos_sql("fv", "cv")
    return f"""
  SELECT vec_id, cell_id FROM (
    SELECT s.vec_id, c.cell_id,
      row_number() OVER (PARTITION BY s.vec_id
                         ORDER BY {cos} DESC, c.cell_id ASC) AS rk
    FROM (SELECT vec_id, {vec_expr} AS fv FROM {src_rel}) s
    CROSS JOIN cents c
  ) WHERE rk = 1
"""


_DUCK_BASE = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), cents AS (
  SELECT vec_id AS cell_id, v AS cv FROM e
  WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + N_CELLS}
), corpus AS (
  SELECT vec_id, v FROM e WHERE vec_id >= {N_QUERIES}
)"""


STREAM_IVF_UPSERT_ORACLE = f"""{_DUCK_BASE}
, latest AS (
  SELECT vec_id,
         CASE WHEN vec_id % {UPDATE_MOD} = {UPDATE_REM}
              THEN list_reverse(v) ELSE v END AS v
  FROM corpus
), assigned AS ({_duck_assign("latest", "v")})
SELECT cell_id, count(*) AS n_vectors,
       CAST(sum(CAST(vec_id AS HUGEINT)) AS BIGINT) AS sum_vec_id
FROM assigned GROUP BY cell_id
"""


STREAM_IVF_MIGRATION_ORACLE = f"""{_DUCK_BASE}
, upd AS (
  SELECT vec_id, v FROM corpus WHERE vec_id % {UPDATE_MOD} = {UPDATE_REM}
), a0 AS ({_duck_assign("upd", "v")})
, a1 AS ({_duck_assign("upd", "list_reverse(v)")})
SELECT a0.cell_id AS old_cell, a1.cell_id AS new_cell,
       count(*) AS n_moved
FROM a0 JOIN a1 USING (vec_id)
GROUP BY 1, 2
"""


QUERY_DEFS = [
    QueryDef("stream_ivf_index_upsert", stream_ivf_index_upsert, STREAM_IVF_UPSERT_ORACLE),
    QueryDef(
        "stream_ivf_cell_migration",
        stream_ivf_cell_migration,
        STREAM_IVF_MIGRATION_ORACLE,
    ),
]
