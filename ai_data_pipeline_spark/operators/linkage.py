"""Entity resolution / fuzzy record linkage with blocking.

A core training-data-pipeline capability the reference only gestures at
via PII/identifier detection: match dirty records (OCR'd, truncated,
re-keyed) back to a master table without exact keys.

Scale design — the classic two-phase shape:
1. BLOCK: candidate pairs come from an equi-join on cheap blocking keys
   (here nation × market segment), never a cross join. The block join
   is one keyed shuffle; block granularity is the knob that bounds
   per-task pair counts at 100 TB (add name-prefix or sorted-
   neighborhood keys to split hot blocks — same plan, more key
   columns).
2. SCORE: the expensive edit-distance only runs inside blocks, JVM-side
   (`levenshtein` is a built-in in both engines, verified to agree,
   including transposition-free semantics and empty-string edge cases).
   Best match per dirty record = window argmin with (distance, key)
   tiebreak; linkage ambiguity (several distance-1 candidates) resolves
   deterministically and is visible in the emitted distance column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ai_data_pipeline_spark.catalog import load_table
from ai_data_pipeline_spark.functions.expressions import spread
from ai_data_pipeline_spark.registry import QueryDef

ER_MAX_DIST = 2  # levenshtein admission threshold inside a block
ER_PREFIX_LEN = 13  # name-prefix block key; truncation dirties the tail,
# so the prefix is edit-invariant for the true match and splits the
# coarse (nation × segment) blocks from ~n/750 rows to a handful —
# per-task pair counts stay bounded at 100 TB (sorted-neighborhood /
# multi-pass blocking is the production extension of the same idea).


def er_fuzzy_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link a deterministically-dirtied registry (every 3rd customer,
    last name character truncated) back to the master customer table:
    block on (nation, segment, name-prefix), score with levenshtein <= 2,
    keep the best match per dirty record."""
    c = load_table(spark, sf_dir, "customer")
    # spread: without it every in-block levenshtein runs serially in the
    # one scan task of the single-row-group testdata parquet
    dirty = spread(
        c.filter(F.col("c_custkey") % 3 == 0).select(
            F.col("c_custkey").alias("dirty_id"),
            F.expr("substr(c_name, 1, length(c_name) - 1)").alias("dirty_name"),
            F.col("c_nationkey").alias("d_nation"),
            F.col("c_mktsegment").alias("d_segment"),
        )
    )
    # Bounded-band levenshtein (threshold arg): O(threshold·n) per pair
    # instead of O(n·m), returning -1 above the cutoff — the admitted
    # distances are identical to the unbounded form, which is what the
    # (threshold-less) DuckDB oracle computes after its <= filter.
    cand = dirty.join(
        c,
        (F.col("d_nation") == F.col("c_nationkey"))
        & (F.col("d_segment") == F.col("c_mktsegment"))
        & (
            F.substring("dirty_name", 1, ER_PREFIX_LEN)
            == F.substring("c_name", 1, ER_PREFIX_LEN)
        ),
    ).withColumn("dist", F.levenshtein("dirty_name", "c_name", ER_MAX_DIST))
    w = W.partitionBy("dirty_id").orderBy(F.asc("dist"), F.asc("c_custkey"))
    return (
        cand.filter((F.col("dist") >= 0) & (F.col("dist") <= ER_MAX_DIST))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "dirty_id",
            F.col("c_custkey").alias("matched_custkey"),
            "dist",
        )
    )


# The oracle deliberately does NOT repeat the name-prefix blocking
# predicate: it is the unblocked spec (levenshtein <= 2 within the
# nation × segment block). The driver's comparison against the blocked
# Spark plan therefore PROVES the prefix blocking is lossless on this
# data, instead of assuming it on both sides.
ER_ORACLE = f"""
WITH dirty AS (
  SELECT c_custkey AS dirty_id,
         substr(c_name, 1, length(c_name) - 1) AS dirty_name,
         c_nationkey AS d_nation, c_mktsegment AS d_segment
  FROM customer WHERE c_custkey % 3 = 0
), cand AS (
  SELECT d.dirty_id, c.c_custkey,
         levenshtein(d.dirty_name, c.c_name) AS dist
  FROM dirty d
  JOIN customer c
    ON d.d_nation = c.c_nationkey AND d.d_segment = c.c_mktsegment
  WHERE levenshtein(d.dirty_name, c.c_name) <= {ER_MAX_DIST}
)
SELECT dirty_id, c_custkey AS matched_custkey, dist FROM (
  SELECT dirty_id, c_custkey, dist,
         row_number() OVER (PARTITION BY dirty_id
                            ORDER BY dist ASC, c_custkey ASC) AS rk
  FROM cand
) WHERE rk = 1
"""


def er_linkage_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy audit of the fuzzy-linkage stage: the dirtied registry
    is planted (dirty_id IS the master key it was derived from), so
    linkage quality is measurable exactly — ONE row with n_dirty,
    n_linked, n_correct (best match == the planted key), and
    precision / recall / F1 in ppm. This is the ER-family member of
    the audit-before-scale-up set (minhash estimate, LSH banding, IVF
    routing): the number that validates the blocking keys and the
    distance cutoff before an MDM consolidation commits to them.

    Scale: composes er_fuzzy_linkage (blocked, window bounded per
    dirty record) plus one count of the dirty side; the reconciliation
    is a 1-row × 1-row broadcast join. F1 = 2·correct/(linked+dirty)
    in one integer division (the cls_confusion_matrix identity)."""
    c = load_table(spark, sf_dir, "customer")
    totals = c.filter(F.col("c_custkey") % 3 == 0).agg(
        F.count(F.lit(1)).alias("n_dirty")
    )
    links = er_fuzzy_linkage(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_linked"),
        F.sum(
            (F.col("matched_custkey") == F.col("dirty_id")).cast("long")
        ).alias("n_correct"),
    )
    return links.crossJoin(F.broadcast(totals)).select(
        "n_dirty",
        "n_linked",
        "n_correct",
        F.expr(
            "cast((n_correct * 1000000) div nullif(n_linked, 0) as bigint)"
        ).alias("precision_ppm"),
        F.expr(
            "cast((n_correct * 1000000) div nullif(n_dirty, 0) as bigint)"
        ).alias("recall_ppm"),
        F.expr(
            "cast((2 * n_correct * 1000000) div nullif(n_linked + n_dirty, 0)"
            " as bigint)"
        ).alias("f1_ppm"),
    )


ER_EVAL_ORACLE = f"""
WITH links AS ({ER_ORACLE}),
l AS (
  SELECT count(*) AS n_linked,
         CAST(sum(CASE WHEN matched_custkey = dirty_id THEN 1 ELSE 0 END)
              AS BIGINT) AS n_correct
  FROM links
), t AS (
  SELECT count(*) AS n_dirty FROM customer WHERE c_custkey % 3 = 0
)
SELECT t.n_dirty, l.n_linked, l.n_correct,
       CAST((l.n_correct * 1000000) // nullif(l.n_linked, 0) AS BIGINT)
         AS precision_ppm,
       CAST((l.n_correct * 1000000) // nullif(t.n_dirty, 0) AS BIGINT)
         AS recall_ppm,
       CAST((2 * l.n_correct * 1000000) // nullif(l.n_linked + t.n_dirty, 0)
            AS BIGINT) AS f1_ppm
FROM l CROSS JOIN t
"""


GOLDEN_KEY_OFFSET = 20_000_000  # import-twin rec_id = master key + offset


def er_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship / golden-record selection — the step AFTER linkage
    in an MDM pipeline: each matched entity cluster merges into one
    record with field-level rules. The registry is master customers
    (CRM never captured the segment for every 5th one) unioned with a
    stale import twin for every 3rd customer (name truncated, balance
    50 behind, but the segment always present); the cluster id here is
    derivable from the planted key offset — in production it comes from
    ``er_fuzzy_linkage`` + ``dedup_clusters``.

    Field rules (each a ``min_by`` with an explicit tiebreak struct, so
    both engines agree exactly):
    - name: longest wins (completeness), then lexicographic, then rec_id
    - acctbal: most-trusted source wins (master over import)
    - segment: first NON-NULL by source rank — so entities whose master
      lacks the segment inherit it from the import twin, which is the
      whole point of survivorship.

    Scale: the merge is ONE keyed aggregate over the cluster id with
    map-side partial ``min_by`` combines — no window, no self-join;
    exactly the reduce a 10⁹-entity MDM consolidation runs."""
    c = load_table(spark, sf_dir, "customer")
    master = c.select(
        F.col("c_custkey").alias("rec_id"),
        F.col("c_custkey").alias("entity_id"),
        F.lit(0).alias("src_rank"),  # master is the trusted source
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
        F.when(F.col("c_custkey") % 5 != 0, F.col("c_mktsegment")).alias("segment"),
    )
    imported = c.filter(F.col("c_custkey") % 3 == 0).select(
        (F.col("c_custkey") + GOLDEN_KEY_OFFSET).alias("rec_id"),
        F.col("c_custkey").alias("entity_id"),
        F.lit(1).alias("src_rank"),
        F.expr("substr(c_name, 1, length(c_name) - 1)").alias("name"),
        (F.col("c_acctbal") - 50).alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )
    reg = master.unionByName(imported)
    return reg.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.min_by(
            "name", F.struct(-F.length("name"), F.col("name"), F.col("rec_id"))
        ).alias("golden_name"),
        F.min_by("acctbal", F.struct("src_rank", "rec_id")).alias("golden_acctbal"),
        F.min_by(
            "segment",
            F.struct(
                F.col("segment").isNull().cast("int"), F.col("src_rank"), F.col("rec_id")
            ),
        ).alias("golden_segment"),
    )


GOLDEN_ORACLE = f"""
WITH reg AS (
  SELECT c_custkey AS rec_id, c_custkey AS entity_id, 0 AS src_rank,
         c_name AS name, c_acctbal AS acctbal,
         CASE WHEN c_custkey % 5 <> 0 THEN c_mktsegment END AS segment
  FROM customer
  UNION ALL
  SELECT c_custkey + {GOLDEN_KEY_OFFSET}, c_custkey, 1,
         substr(c_name, 1, length(c_name) - 1), c_acctbal - 50, c_mktsegment
  FROM customer WHERE c_custkey % 3 = 0
), ranked AS (
  SELECT entity_id, name, acctbal, segment,
    row_number() OVER (PARTITION BY entity_id
      ORDER BY -length(name), name, rec_id) AS rk_name,
    row_number() OVER (PARTITION BY entity_id
      ORDER BY src_rank, rec_id) AS rk_bal,
    row_number() OVER (PARTITION BY entity_id
      ORDER BY CASE WHEN segment IS NULL THEN 1 ELSE 0 END, src_rank, rec_id)
      AS rk_seg
  FROM reg
)
SELECT entity_id,
       count(*) AS n_records,
       max(CASE WHEN rk_name = 1 THEN name END) AS golden_name,
       max(CASE WHEN rk_bal = 1 THEN acctbal END) AS golden_acctbal,
       max(CASE WHEN rk_seg = 1 THEN segment END) AS golden_segment
FROM ranked GROUP BY entity_id
"""


QUERY_DEFS = [
    QueryDef("er_fuzzy_linkage", er_fuzzy_linkage, ER_ORACLE),
    QueryDef("er_linkage_eval", er_linkage_eval, ER_EVAL_ORACLE),
    QueryDef("er_golden_record", er_golden_record, GOLDEN_ORACLE),
]
