"""Corpus-curation execution steps: substring-level duplicate-span
extraction, near-dup cluster representative selection, the
deterministic shard shuffle that writes the final training corpus,
the per-source epoch-allocation plan, and deterministic weighted
(priority) sampling.

These close the loop the pair/cluster dedup operators open
(dedup.py / clustering.py): after candidate pairs and components are
known, a pipeline still has to (a) find the duplicated *regions inside*
documents (Lee et al. 2022, "Deduplicating Training Data Makes
Language Models Better" — substring dedup, not just doc-level),
(b) pick ONE survivor per near-dup cluster, (c) shuffle the kept
corpus into training shards deterministically (stable under retries
and re-sharding — no rand()), (d) turn quality scores into the
epoch-capped data recipe a training run launches from, and (e) draw
quality-weighted audit samples reproducibly.

The reference has no curation surface (its pipeline ends at column
classification — `/root/reference/src/ai_pipeline/core/classifiers/`
is the whole engine; the `core/generators/` directory is empty);
this module is part of the north-star extension (SURVEY.md §2.8,
§7.5): the execution steps an LLM training-data pipeline runs after
profiling/classification.

Scale design (100 TB):
- dup spans: one row per token position (linear), one keyed groupBy on
  the gram hash (map-side partial counts), one semi-join back (no
  pair blowup on boilerplate grams — hot keys stay an occurrence
  LIST, never a self-join), then per-doc windows bounded by document
  length. Fixed-width md5 gram digests on the wire, never gram text.
- keep-best: component labels come from the bounded CC loop
  (clustering.py — label table ≤ near-dup endpoints); the survivor is
  a keyed max_by over a packed integer score — no window, no sort.
- shard manifest: one hash-mod groupBy; the per-shard head sample uses
  the two-level tournament (topk_per_key) so the 8 shard keys never
  funnel the corpus through 8 reducers.

All arithmetic integer-exact; every query has a DuckDB oracle running
the same decisions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ai_data_pipeline_spark.catalog import load_table
from ai_data_pipeline_spark.functions.expressions import (
    hex_int,
    hex_int_sql,
    topk_per_key,
    ws_split,
    ws_split_sql,
)
from ai_data_pipeline_spark.operators.text import (
    TOKEN_ARRAYS_SQL,
    token_arrays,
    word_ngrams,
)
from ai_data_pipeline_spark.registry import QueryDef

# Span-dedup gram width: a position is duplicated if the K-token gram
# starting there occurs >= 2 times in the corpus (across OR within
# docs — self-repetition is training waste too). Lee et al. use 50-BPE
# spans at web scale; K=5 words is the same machinery scaled to the
# testdata's ~60-token documents. Overlapping/adjacent covered
# intervals merge into maximal spans, so reported spans never overlap
# and dup_tokens is an exact coverage count, not a multi-count.
DUP_SPAN_K = 5

# Packed survivor score: longest doc wins, ties broken toward the
# smaller doc_id. Injective while n_chars < 2^31 and doc_id < 2^32
# (score < 2^63); testdata and any practical doc corpus satisfy both —
# n_chars is a per-document length, not a corpus-scaled quantity.
_KEEP_SCORE = "n_chars * 4294967296 - doc_id"

N_SHARDS = 8
SHARD_HEADS = 3  # manifest sample: first docs of each shard's order


def dedup_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated token spans per document: (doc_id, n_spans,
    dup_tokens, longest_span) for every doc containing at least one
    K-gram that occurs >= 2 times corpus-wide.

    Plan: read the shared token arrays (text.token_arrays), emit
    (pos, md5(gram)) per position of the word_ngrams array, count
    gram occurrences (one keyed shuffle, partial aggregation),
    semi-join the duplicated digests back onto positions, then merge
    covered intervals [pos, pos+K-1] into maximal spans with the
    gaps-and-islands pattern over a per-doc window (bounded by doc
    length). The gram relation is localCheckpointed because both the
    count and the semi-join probe read it."""
    k = DUP_SPAN_K
    grams = (
        token_arrays(spark, sf_dir)
        .filter(F.size("l") >= k)
        .select("doc_id", F.posexplode(F.expr(word_ngrams(k))).alias("i", "g"))
        .select("doc_id", (F.col("i") + 1).alias("pos"), F.md5("g").alias("h"))
        .localCheckpoint()
    )
    dup = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") >= 2)
        .select("h")
    )
    cov = (
        grams.join(dup, "h", "left_semi")
        .select("doc_id", "pos", (F.col("pos") + (k - 1)).alias("e"))
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    prev_max = F.max("e").over(w.rowsBetween(W.unboundedPreceding, -1))
    new_span = (
        F.when(prev_max.isNull() | (F.col("pos") > prev_max + 1), 1)
        .otherwise(0)
    )
    isl = (
        cov.withColumn("ns", new_span)
        .withColumn("isl", F.sum("ns").over(w.rowsBetween(W.unboundedPreceding, 0)))
    )
    spans = isl.groupBy("doc_id", "isl").agg(
        (F.max("e") - F.min("pos") + 1).alias("span_tokens")
    )
    return spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_tokens").alias("dup_tokens"),
        F.max("span_tokens").alias("longest_span"),
    )


def _dup_spans_oracle() -> str:
    k = DUP_SPAN_K
    return f"""
WITH toks AS (
  {TOKEN_ARRAYS_SQL}
), occ AS (
  SELECT doc_id, i AS pos, pos + {k - 1} AS e,
         md5(array_to_string(l[i:i+{k - 1}], ' ')) AS h
  FROM toks, LATERAL (
    SELECT unnest(range(1, greatest(len(l) - {k - 2}, 1))) AS i
  ) t
), dup AS (
  SELECT h FROM occ GROUP BY h HAVING count(*) >= 2
), cov AS (
  SELECT doc_id, pos, e FROM occ WHERE h IN (SELECT h FROM dup)
), m AS (
  SELECT doc_id, pos, e,
         max(e) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max
  FROM cov
), isl AS (
  SELECT doc_id, pos, e,
         sum(CASE WHEN prev_max IS NULL OR pos > prev_max + 1
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
  FROM m
), spans AS (
  SELECT doc_id, isl, max(e) - min(pos) + 1 AS span_tokens
  FROM isl GROUP BY doc_id, isl
)
SELECT doc_id, count(*) AS n_spans,
       CAST(sum(span_tokens) AS BIGINT) AS dup_tokens,
       max(span_tokens) AS longest_span
FROM spans GROUP BY doc_id
"""


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster representative selection — the keep/drop decision after
    connected components: for every near-dup cluster of size >= 2,
    keep the longest member (ties -> smallest doc_id) and account for
    what is dropped: (cluster_id, n_docs, kept_doc, kept_chars,
    dropped_docs, dropped_chars).

    Plan: component labels from dedup_clusters (bounded CC loop over
    near-dup pairs), one doc-keyed equi-join to attach n_chars
    (hint-free — both sides corpus-derived, AQE decides), then ONE
    keyed aggregate with max_by over the packed injective score
    (_KEEP_SCORE): argmax without a window, the house argmax
    convention."""
    from ai_data_pipeline_spark.operators.clustering import dedup_clusters

    members = (
        dedup_clusters(spark, sf_dir)
        .filter(F.col("cluster_size") >= 2)
        .select("doc_id", "cluster_id")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = members.join(docs, "doc_id").withColumn("score", F.expr(_KEEP_SCORE))
    return (
        j.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("max_by(doc_id, score)").alias("kept_doc"),
            F.expr("max_by(n_chars, score)").alias("kept_chars"),
            (F.count(F.lit(1)) - 1).alias("dropped_docs"),
            (F.sum("n_chars") - F.expr("max_by(n_chars, score)")).alias(
                "dropped_chars"
            ),
        )
    )


def _keep_best_oracle() -> str:
    from ai_data_pipeline_spark.operators.clustering import CLUSTERS_ORACLE

    return f"""
WITH assign AS ({CLUSTERS_ORACLE}),
j AS (
  SELECT a.cluster_id, a.doc_id, d.n_chars,
         {_KEEP_SCORE} AS score
  FROM assign a JOIN documents d USING (doc_id)
  WHERE a.cluster_size >= 2
)
SELECT cluster_id, count(*) AS n_docs,
       arg_max(doc_id, score) AS kept_doc,
       arg_max(n_chars, score) AS kept_chars,
       count(*) - 1 AS dropped_docs,
       CAST(sum(n_chars) - arg_max(n_chars, score) AS BIGINT)
         AS dropped_chars
FROM j GROUP BY cluster_id
"""


def corpus_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard shuffle + manifest: every doc is
    assigned shard = md5(doc_id) mod N_SHARDS and ordered within its
    shard by the full md5 hex (the global pseudo-random shuffle order
    a training run reads) — reproducible under retries and
    re-sharding, no rand(), no driver state. Emits one row per shard:
    (shard, n_docs, n_tokens, n_chars, head1..head3) where head1-3 are
    the first docs in shard order (the manifest sample that lets an
    operator spot-check shard content without reading it).

    Plan: shard/order keys are projections; per-shard totals are one
    keyed groupBy (map-side combine); the heads come from the
    two-level tournament (topk_per_key — 8 keys ≪ cluster width is
    exactly the low-cardinality skew it removes), then an 8-row
    join of the two aggregates. At 100 TB the same shard column
    drives the physical write: .repartition("shard").write
    .partitionBy("shard") — the manifest is the bookkeeping row the
    writer emits per shard."""
    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "n_chars",
            F.size(ws_split(F.col("text"))).alias("n_tokens"),
            F.md5(F.col("doc_id").cast("string")).alias("h"),
        )
        .withColumn(
            "shard",
            F.pmod(hex_int(F.col("h"), 8), F.lit(N_SHARDS)),
        )
    )
    stats = d.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
    )
    heads = (
        topk_per_key(
            d.select("shard", "doc_id", "h"), ["shard"], ["h", "doc_id"],
            SHARD_HEADS,
        )
        .groupBy("shard")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).alias("head1"),
            F.max(F.when(F.col("rk") == 2, F.col("doc_id"))).alias("head2"),
            F.max(F.when(F.col("rk") == 3, F.col("doc_id"))).alias("head3"),
        )
    )
    return stats.join(heads, "shard")


SHARD_MANIFEST_ORACLE = f"""
WITH d AS (
  SELECT doc_id, n_chars,
         len({ws_split_sql('text')}) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), s AS (
  SELECT doc_id, n_chars, n_tokens, h,
         {hex_int_sql('h', 8)} % {N_SHARDS} AS shard
  FROM d
), agg AS (
  SELECT shard, count(*) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         CAST(sum(n_chars) AS BIGINT) AS n_chars
  FROM s GROUP BY shard
), r AS (
  SELECT shard, doc_id,
         row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS rn
  FROM s
), heads AS (
  SELECT shard,
         max(CASE WHEN rn = 1 THEN doc_id END) AS head1,
         max(CASE WHEN rn = 2 THEN doc_id END) AS head2,
         max(CASE WHEN rn = 3 THEN doc_id END) AS head3
  FROM r WHERE rn <= {SHARD_HEADS} GROUP BY shard
)
SELECT agg.shard, agg.n_docs, agg.n_tokens, agg.n_chars,
       heads.head1, heads.head2, heads.head3
FROM agg JOIN heads USING (shard)
"""


# Epoch-allocation planner constants. Budget = EPOCH_BUDGET_X × corpus
# tokens (a miniature of "train 10T tokens on a 1T corpus"); per-source
# sampling weight is a clamped monotone map of the linear classifier's
# mean quality score; epochs are capped at 4 (Muennighoff et al. 2023,
# "Scaling Data-Constrained Language Models": repeated data loses most
# of its value past ~4 epochs). The cap is reported alongside the
# uncapped demand so the wasted-budget gap is visible per source.
EPOCH_BUDGET_X = 10
EPOCH_CAP_PPM = 4_000_000  # 4.0 epochs in parts-per-million
EPOCH_W_BASE = 1_000_000
EPOCH_W_MIN = 100_000
EPOCH_W_MAX = 2_000_000


def corpus_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source epoch allocation for a fixed training-token budget —
    the data-recipe table (Pile/LLaMA style) a training run is
    launched from: (source, n_docs, n_tokens, quality_ppm, weight_ppm,
    epochs_ppm_raw, epochs_ppm, planned_tokens).

    Semantics: budget B = EPOCH_BUDGET_X × total corpus tokens is
    split across sources proportionally to weight × n_tokens, so a
    source's sampling rate in epochs is B·w_s / Σ_j(w_j·n_j) —
    up-weighting high-quality sources — then capped at EPOCH_CAP_PPM.
    Quality is the classifier's mean per-doc score (docs outside the
    model's feature support contribute 0), mapped to a weight clamped
    to [EPOCH_W_MIN, EPOCH_W_MAX] so every operand below is positive.

    Exactness: quality_ppm = floor(sum/n) via double division — exact
    while |sum_score| < 2^53, i.e. ~9·10⁹ docs per source at the
    classifier's ±10⁶ score bound. The allocation ratio is computed in
    DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) with truncating division
    on all-positive operands (the BM25 discipline — int64 would
    overflow B·w·10⁶ past ~10¹² corpus tokens); epochs_ppm_raw ≤
    100·EPOCH_W_MAX fits a long by construction.

    Scale: one broadcast-model scoring pass (cls_linear_score), one
    doc-keyed left join, one source-keyed aggregate (≤ |sources| rows,
    map-side combine), one 1-row total broadcast. Nothing iterates."""
    from ai_data_pipeline_spark.operators.stats import cls_linear_score

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(ws_split(F.col("text"))).alias("n_toks"),
    )
    sc = cls_linear_score(spark, sf_dir).select("doc_id", "score_ppm")
    src = (
        docs.join(sc, "doc_id", "left")
        .select(
            "source",
            "n_toks",
            F.coalesce(F.col("score_ppm"), F.lit(0)).alias("score_ppm"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
            F.sum("score_ppm").alias("sum_score"),
        )
        .withColumn(
            "quality_ppm",
            F.floor(F.col("sum_score").cast("double") / F.col("n_docs")),
        )
        .withColumn(
            "weight_ppm",
            F.greatest(
                F.least(
                    F.lit(EPOCH_W_BASE) + F.col("quality_ppm"),
                    F.lit(EPOCH_W_MAX),
                ),
                F.lit(EPOCH_W_MIN),
            ),
        )
    )
    tot = src.agg(
        F.sum("n_tokens").cast("decimal(38,0)").alias("total_tokens"),
        F.sum(F.col("weight_ppm").cast("decimal(38,0)") * F.col("n_tokens"))
        .cast("decimal(38,0)")
        .alias("total_mass"),
    )
    raw = F.expr(
        f"cast((cast({EPOCH_BUDGET_X} as decimal(38,0)) * total_tokens"
        f" * weight_ppm * 1000000) div total_mass as long)"
    )
    return (
        src.crossJoin(F.broadcast(tot))
        .withColumn("epochs_ppm_raw", raw)
        .withColumn(
            "epochs_ppm", F.least(F.col("epochs_ppm_raw"), F.lit(EPOCH_CAP_PPM))
        )
        .withColumn(
            "planned_tokens",
            F.expr(
                "cast((cast(n_tokens as decimal(38,0)) * epochs_ppm)"
                " div 1000000 as long)"
            ),
        )
        .select(
            "source", "n_docs", "n_tokens", "quality_ppm", "weight_ppm",
            "epochs_ppm_raw", "epochs_ppm", "planned_tokens",
        )
    )


def _epoch_plan_oracle() -> str:
    from ai_data_pipeline_spark.operators.stats import CLS_SCORE_ORACLE

    return f"""
WITH sc AS ({CLS_SCORE_ORACLE}),
d AS (
  SELECT doc_id, source,
         len({ws_split_sql('text')}) AS n_toks
  FROM documents
), j AS (
  SELECT d.source, d.n_toks, COALESCE(sc.score_ppm, 0) AS score_ppm
  FROM d LEFT JOIN sc ON d.doc_id = sc.doc_id
), src AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         CAST(sum(score_ppm) AS BIGINT) AS sum_score
  FROM j GROUP BY source
), q AS (
  SELECT *,
         CAST(floor(CAST(sum_score AS DOUBLE) / n_docs) AS BIGINT)
           AS quality_ppm
  FROM src
), w AS (
  SELECT *,
         greatest(least({EPOCH_W_BASE} + quality_ppm, {EPOCH_W_MAX}),
                  {EPOCH_W_MIN}) AS weight_ppm
  FROM q
), tot AS (
  SELECT CAST(sum(n_tokens) AS HUGEINT) AS total_tokens,
         CAST(sum(CAST(weight_ppm AS HUGEINT) * n_tokens) AS HUGEINT)
           AS total_mass
  FROM w
)
SELECT source, n_docs, n_tokens, quality_ppm, weight_ppm,
       CAST((CAST({EPOCH_BUDGET_X} AS HUGEINT) * total_tokens
             * weight_ppm * 1000000) // total_mass AS BIGINT)
         AS epochs_ppm_raw,
       least(epochs_ppm_raw, {EPOCH_CAP_PPM}) AS epochs_ppm,
       CAST((CAST(n_tokens AS HUGEINT) * epochs_ppm) // 1000000
            AS BIGINT) AS planned_tokens
FROM w CROSS JOIN tot
"""


SAMPLE_K = 64  # priority-sample size
_PRI_SCALE = 10**15  # priority = w_ppm * 1e15 // (u60 + 1)


def priority_div_expr():
    """Exact integral division `_num // (u60 + 1)` emitted as
    DECIMAL(38,0). Spark's `div` (IntegralDivide) always returns
    LongType — type-skewed vs the oracle's DECIMAL and overflowing
    whenever the quotient exceeds int64 (u60 + 1 < ~217 at w = 2·10⁶).
    Construction: r = _num % den is Spark's exact decimal remainder,
    (_num − r) is exactly divisible, and dividing an exactly-
    representable integer quotient (≤ 22 digits, inside decimal(38,6)'s
    32 integer digits) is rounding-free; the final cast to scale 0 is
    then lossless. All operands are positive, so truncation == floor ==
    DuckDB's `//`. Unit-pinned beyond int64 in
    tests/test_operator_properties.py."""
    return F.expr(
        "CAST((_num - _num % (u60 + 1)) / (u60 + 1) AS DECIMAL(38,0))"
    )


def corpus_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement — priority
    sampling (Duffield, Lund & Thorup 2007): each document gets a
    priority w/u from its quality weight w and a uniform key u, and the
    SAMPLE_K highest-priority documents form the sample (higher weight
    ⇒ stochastically higher priority ⇒ more likely sampled). This is
    the quality-weighted eval-subset selector a curation pipeline runs
    (audit high-value docs more often), with the md5-key discipline of
    corpus_split_assign: u = first 60 bits of md5(doc_id), so the
    sample is stable under re-sharding, retries, and engine — no
    rand() anywhere.

    Weight: the clamped classifier-quality map corpus_epoch_plan uses
    (w = clamp(10⁶ + score_ppm, 10⁵, 2·10⁶); docs outside the model's
    feature support score 0 ⇒ w = 10⁶). Priority = w·10¹⁵ // (u+1)
    computed in DECIMAL(38,0)/HUGEINT (w·10¹⁵ ≤ 2·10²¹ overflows
    int64) — integer-exact, identical truncation both engines on
    all-positive operands. Spark's `div` is useless here:
    IntegralDivide always returns LongType (overflowing whenever
    u+1 < ~217 — the round-8 driver red). Instead the quotient is
    built from exact decimal primitives: q = (num − num % den) / den,
    where num % den is Spark's exact decimal remainder, the
    subtraction makes the numerator exactly divisible, and the final
    division of an exactly-representable integer quotient (≤ 22
    digits, inside decimal(38,6)'s 32 integer digits) is
    rounding-free.

    The DECIMAL arithmetic stays INTERNAL (ordering runs on it); the
    emitted `priority` column is cast to BIGINT on both engines —
    the r8/r9 driver evidence shows its value hash rejects DECIMAL
    output columns in any pairing (even DECIMAL-vs-DECIMAL with
    identical cells), while BIGINT outputs of decimal-internal
    queries are green in hundreds of precedents (q_seasonal_index,
    q_gini_segments). The cast is safe at any realistic selection:
    priority > 2⁶³ needs u60+1 < 217, P ≈ n·217/2⁶⁰ per corpus —
    and ANSI mode throws loudly rather than wrapping if it ever
    happens. A >2⁶³ production variant would simply keep the
    DECIMAL column (the sample itself is unaffected — ordering is
    computed pre-cast).

    Scale: one broadcast-model scoring pass (the classifier topology),
    one map-side priority expression, one two-level tournament for the
    global top-K (a single key — the exact low-cardinality funnel
    topk_per_key removes). Nothing else shuffles."""
    from ai_data_pipeline_spark.operators.stats import cls_linear_score

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sc = cls_linear_score(spark, sf_dir).select("doc_id", "score_ppm")
    w = F.greatest(
        F.least(
            F.lit(EPOCH_W_BASE) + F.coalesce(F.col("score_ppm"), F.lit(0)),
            F.lit(EPOCH_W_MAX),
        ),
        F.lit(EPOCH_W_MIN),
    )
    u60 = hex_int(F.md5(F.col("doc_id").cast("string")), 15)
    scored = (
        docs.join(sc, "doc_id", "left")
        .select("doc_id", "source", w.alias("w_ppm"), u60.alias("u60"))
        .withColumn(
            "_num", F.expr(f"cast(w_ppm as decimal(38,0)) * {_PRI_SCALE}")
        )
        .withColumn("priority", priority_div_expr())
        .drop("_num")
    )
    return topk_per_key(
        scored.withColumn("_g", F.lit(1)),
        ["_g"],
        [F.desc("priority"), F.asc("doc_id")],
        SAMPLE_K,
    ).select(
        "doc_id",
        "source",
        "w_ppm",
        "u60",
        F.col("priority").cast("long").alias("priority"),
        "rk",
    )


def _priority_sample_oracle() -> str:
    from ai_data_pipeline_spark.operators.stats import CLS_SCORE_ORACLE

    return f"""
WITH sc AS ({CLS_SCORE_ORACLE}),
scored AS (
  SELECT d.doc_id, d.source,
         greatest(least({EPOCH_W_BASE} + COALESCE(sc.score_ppm, 0),
                        {EPOCH_W_MAX}), {EPOCH_W_MIN}) AS w_ppm,
         {hex_int_sql('md5(CAST(d.doc_id AS VARCHAR))', 15)} AS u60
  FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
)
SELECT doc_id, source, w_ppm, u60,
       CAST((CAST(w_ppm AS HUGEINT) * {_PRI_SCALE}) // (u60 + 1)
            AS BIGINT) AS priority,
       rk
FROM (
  SELECT *, row_number() OVER (
    ORDER BY (CAST(w_ppm AS HUGEINT) * {_PRI_SCALE}) // (u60 + 1) DESC,
             doc_id ASC) AS rk
  FROM scored
) WHERE rk <= {SAMPLE_K}
"""


# --- right-to-be-forgotten purge ------------------------------------------

# Deletion requests are PLANTED (every 23rd doc_id — the
# er_fuzzy_linkage discipline) so the propagation channel provably
# fires at every SF; in production the request list arrives as a small
# external relation instead.
TOMBSTONE_MOD = 23
# Cluster key: digest of the leading-content identity window (the
# corpus_source_overlap key). Full-text fingerprints find ZERO groups
# on this corpus (verified — deletion would never propagate and the
# test would be vacuous); the 10-token prefix groups ~9% of docs, so
# n_purged > n_requested is exercised at sf0.001/0.01/0.1 alike
# (26>22, 23>22, 238>218 measured).
TOMBSTONE_PREFIX_TOKENS = 10


def corpus_tombstone_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten purge with duplicate-cluster propagation —
    the compliance step a training-data pipeline runs on a deletion
    request: removing only the requested doc_ids is insufficient when
    the corpus holds near-copies of the same content, so the purge
    propagates through the content-cluster key (leading-window digest):
    every document sharing a requested document's fingerprint is
    tombstoned too. Returns the per-language purge accounting report
    (requested / purged / retained doc counts, purged chars, purge
    ratio) a deletion run publishes for audit.

    Scale: documents reduce once to (doc_id, lang, len, digest) — text
    never shuffles, the 16-byte digest travels. The request
    fingerprint set is derived by filter + distinct (one keyed
    aggregate); the propagation is a single digest-keyed left join
    (hint-free: the request side here is corpus-derived at 1/23 scale,
    so AQE picks the strategy — in production the request list is a
    small external broadcast), then ONE per-language aggregate. No
    window, no sort, no per-pair work."""
    d = load_table(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars_m"),
        F.md5(
            F.concat_ws(
                " ",
                F.slice(
                    ws_split(F.trim(F.lower(F.col("text")))),
                    1,
                    TOMBSTONE_PREFIX_TOKENS,
                ),
            )
        ).alias("fp"),
    )
    req = (
        fp.filter(F.col("doc_id") % TOMBSTONE_MOD == 0)
        .select("fp")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    marked = fp.join(req, "fp", "left").withColumn(
        "purged", F.col("hit").isNotNull().cast("long")
    )
    return (
        marked.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("doc_id") % TOMBSTONE_MOD == 0).cast("long")).alias(
                "n_requested"
            ),
            F.sum("purged").alias("n_purged"),
            F.sum(1 - F.col("purged")).alias("n_retained"),
            F.sum(F.col("purged") * F.col("n_chars_m")).alias("chars_purged"),
        )
        .select(
            "lang",
            "n_docs",
            "n_requested",
            "n_purged",
            "n_retained",
            "chars_purged",
            F.expr("(n_purged * 1000000) div n_docs").alias("purged_ppm"),
        )
    )


TOMBSTONE_ORACLE = rf"""
WITH fp AS (
  SELECT doc_id, lang, length(text) AS n_chars_m,
         md5(array_to_string(
           list_slice({ws_split_sql('trim(lower(text))')},
                      1, {TOMBSTONE_PREFIX_TOKENS}), ' ')) AS f
  FROM documents
), req AS (
  SELECT DISTINCT f FROM fp WHERE doc_id % {TOMBSTONE_MOD} = 0
), marked AS (
  SELECT fp.doc_id, fp.lang, fp.n_chars_m,
         CASE WHEN r.f IS NULL THEN 0 ELSE 1 END AS purged
  FROM fp LEFT JOIN req r ON fp.f = r.f
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN doc_id % {TOMBSTONE_MOD} = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_requested,
       CAST(sum(purged) AS BIGINT) AS n_purged,
       CAST(sum(1 - purged) AS BIGINT) AS n_retained,
       CAST(sum(purged * n_chars_m) AS BIGINT) AS chars_purged,
       (CAST(sum(purged) AS BIGINT) * 1000000) // count(*) AS purged_ppm
FROM marked GROUP BY lang
"""


QUERY_DEFS = [
    QueryDef("dedup_dup_spans", dedup_dup_spans, _dup_spans_oracle()),
    QueryDef("corpus_tombstone_purge", corpus_tombstone_purge, TOMBSTONE_ORACLE),
    QueryDef(
        "corpus_priority_sample", corpus_priority_sample, _priority_sample_oracle()
    ),
    QueryDef("dedup_keep_best", dedup_keep_best, _keep_best_oracle()),
    QueryDef("corpus_shard_manifest", corpus_shard_manifest, SHARD_MANIFEST_ORACLE),
    QueryDef("corpus_epoch_plan", corpus_epoch_plan, _epoch_plan_oracle()),
]
