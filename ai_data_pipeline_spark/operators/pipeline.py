"""End-to-end composition queries: multiple operators chained in one
declarative plan, the way a production training-data pipeline or product
analytics job would run them. Catalyst fuses the stages — the value of
declaring the whole pipeline lazily instead of materializing between
steps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_data_pipeline_spark.catalog import load_table
from ai_data_pipeline_spark.functions.expressions import (
    hex_int,
    hex_int_sql,
    spread,
    text_fingerprint,
    text_fingerprint_sql,
    ws_split,
    ws_split_sql,
)
from ai_data_pipeline_spark.operators.text import TOKEN_RX, TOKEN_RX_SQL
from ai_data_pipeline_spark.registry import QueryDef

MIN_CHARS = 100  # quality gate: too-short docs dropped


def clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data cleaning pipeline in ONE plan:
    quality filter (length gate) → exact dedup (keep min doc_id per
    distinct text) → per-language corpus stats.

    Single scan; per-document stats (length, token count) are computed
    BEFORE the dedup shuffle, so the exchange carries (hash, doc_id,
    lang, two longs) — never the document text — and the dedup itself
    is a hash aggregation (map-side partial combine, no sort), not a
    row_number window. Duplicates have identical text, so the stats of
    the kept min-doc_id row equal any group member's; struct-min picks
    the representative deterministically. That is the 100 TB plan:
    text stays in the scan stage, shuffles move ~40-byte rows."""
    d = spread(load_table(spark, sf_dir, "documents"))
    n_tokens = F.regexp_count(F.col("text"), F.lit(TOKEN_RX))
    rows = d.filter(F.length("text") >= MIN_CHARS).select(
        F.md5("text").alias("h"),
        F.struct(
            F.col("doc_id"), F.col("lang"), F.length("text").alias("n_chars"),
            n_tokens.alias("n_tok"),
        ).alias("s"),
    )
    deduped = rows.groupBy("h").agg(F.min("s").alias("s"))  # min doc_id wins
    return deduped.groupBy("s.lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("s.n_chars").alias("sum_chars"),
        F.sum("s.n_tok").alias("sum_tokens"),
    )


CLEAN_CORPUS_ORACLE = f"""
WITH quality AS (
  SELECT * FROM documents WHERE length(text) >= {MIN_CHARS}
), deduped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
    FROM quality
  ) WHERE rk = 1
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
       CAST(sum(len(regexp_extract_all(text, '{TOKEN_RX_SQL}', 0))) AS BIGINT) AS sum_tokens
FROM deduped GROUP BY lang
"""


def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential conversion funnel view → click → purchase: a user
    advances a stage only with a later-or-equal event of the next type.

    Three aggs keyed on user_id — the exchange on user_id is planned
    once and reused (same partitioning all three stages)."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t1")
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    def stage(df, label):
        return df.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(label).alias("stage"), "n"
        )

    return (
        stage(s1, "1_view")
        .union(stage(s2, "2_click"))
        .union(stage(s3, "3_purchase"))
    )


EVENT_FUNNEL_ORACLE = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(ts) AS t2 FROM events e JOIN s1 USING (user_id)
  WHERE event_type = 'click' AND ts >= t1 GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(ts) AS t3 FROM events e JOIN s2 USING (user_id)
  WHERE event_type = 'purchase' AND ts >= t2 GROUP BY e.user_id
)
SELECT '1_view' AS stage, count(*) AS n FROM s1
UNION ALL SELECT '2_click', count(*) FROM s2
UNION ALL SELECT '3_purchase', count(*) FROM s3
"""


# CCNet/DataComp-style quality resampling thresholds. The tier cuts are
# FIXED constants in LM-score units (micro-bits per bigram), not
# corpus-relative quantiles: data-independent cuts keep the keep/drop
# decision of a document stable when the corpus is re-sharded or grows
# — the same determinism argument as hash-based split assignment
# (corpus_split_assign). CCNet's percentile variant needs one extra
# quantile pass (sketch_quantile_hist) to pick the constants.
LM_HEAD_BITS_PPM = 5_100_000  # <= head tier (fluent under the LM)
LM_TAIL_BITS_PPM = 5_600_000  # <= middle; above = tail
RESAMPLE_KEEP_PM = {"head": 1000, "middle": 500, "tail": 100}  # per-mille


def quality_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation decision the LM scorer and the linear
    classifier exist to feed (CCNet §4.4 / DataComp resampling): every
    scoreable document is assigned an LM-fluency tier
    (head/middle/tail by fixed mean-bits cuts) and a deterministic
    md5-coin keep decision at that tier's rate — head kept whole,
    middle half, tail 10%. Emits per-tier totals, kept counts, kept
    bigram mass, and the summed classifier score, so the table reads as
    both the resampling plan (how many tokens survive per tier) and a
    cross-check of the two quality signals (tail tiers should carry
    lower classifier scores).

    Scale: composes corpus_lm_quality and cls_linear_score — both
    broadcast-model pipelines whose only corpus-scaled shuffles are
    doc-keyed aggregates — plus one hint-free doc_id equi-join of the
    two per-doc relations (both corpus-sized: AQE decides) and a final
    3-row rollup. The md5 coin makes the sample reproducible under
    re-sharding — no rand(), no driver state."""
    from ai_data_pipeline_spark.operators.corpus import corpus_lm_quality
    from ai_data_pipeline_spark.operators.stats import cls_linear_score

    lm = corpus_lm_quality(spark, sf_dir)
    cls = cls_linear_score(spark, sf_dir).select("doc_id", "score_ppm")
    tier = (
        F.when(F.col("mean_bits_ppm") <= LM_HEAD_BITS_PPM, "head")
        .when(F.col("mean_bits_ppm") <= LM_TAIL_BITS_PPM, "middle")
        .otherwise("tail")
    )
    rate = (
        F.when(F.col("mean_bits_ppm") <= LM_HEAD_BITS_PPM, RESAMPLE_KEEP_PM["head"])
        .when(F.col("mean_bits_ppm") <= LM_TAIL_BITS_PPM, RESAMPLE_KEEP_PM["middle"])
        .otherwise(RESAMPLE_KEEP_PM["tail"])
    )
    coin = F.pmod(hex_int(F.md5(F.col("doc_id").cast("string")), 8), F.lit(1000))
    kept = (coin < rate).cast("long")
    return (
        lm.join(cls, "doc_id")
        .select(
            tier.alias("tier"),
            kept.alias("kept"),
            "n_bigrams",
            "mean_bits_ppm",
            "score_ppm",
        )
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").alias("n_kept"),
            F.sum(F.col("n_bigrams") * F.col("kept")).alias("kept_bigrams"),
            F.sum("mean_bits_ppm").alias("sum_mean_bits_ppm"),
            F.sum("score_ppm").alias("sum_score_ppm"),
        )
    )


def _quality_resample_oracle() -> str:
    from ai_data_pipeline_spark.operators.corpus import LM_QUALITY_ORACLE
    from ai_data_pipeline_spark.operators.stats import CLS_SCORE_ORACLE

    return f"""
WITH lm AS ({LM_QUALITY_ORACLE}),
cls AS ({CLS_SCORE_ORACLE}),
j AS (
  SELECT lm.doc_id, lm.n_bigrams, lm.mean_bits_ppm, cls.score_ppm,
         CASE WHEN lm.mean_bits_ppm <= {LM_HEAD_BITS_PPM} THEN 'head'
              WHEN lm.mean_bits_ppm <= {LM_TAIL_BITS_PPM} THEN 'middle'
              ELSE 'tail' END AS tier,
         CASE WHEN lm.mean_bits_ppm <= {LM_HEAD_BITS_PPM}
                THEN {RESAMPLE_KEEP_PM["head"]}
              WHEN lm.mean_bits_ppm <= {LM_TAIL_BITS_PPM}
                THEN {RESAMPLE_KEEP_PM["middle"]}
              ELSE {RESAMPLE_KEEP_PM["tail"]} END AS rate,
         {hex_int_sql('md5(CAST(lm.doc_id AS VARCHAR))', 8)}
           % 1000 AS coin
  FROM lm JOIN cls ON lm.doc_id = cls.doc_id
)
SELECT tier, count(*) AS n_docs,
       CAST(sum(CASE WHEN coin < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN coin < rate THEN n_bigrams ELSE 0 END) AS BIGINT)
         AS kept_bigrams,
       CAST(sum(mean_bits_ppm) AS BIGINT) AS sum_mean_bits_ppm,
       CAST(sum(score_ppm) AS BIGINT) AS sum_score_ppm
FROM j GROUP BY tier
"""


def doc_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document curation scorecard — the materialized feature table
    a real pipeline writes before the keep-decision, joining every
    independent quality signal per doc: exact-dup survivorship
    (normalized md5 fingerprint, min-doc_id keeper — text_fingerprint's
    grouping), the LM pseudo-perplexity tier (head/middle/tail by the
    fixed resampling cuts; docs too short for bigrams read 'nolm'),
    and the linear-classifier score (docs outside the model's feature
    support score 0). keep = dedup survivor AND LM tier ≠ tail —
    the deterministic hard-filter variant of quality_resample's
    probabilistic keep (both documented; a production run picks one).

    Scale: the fingerprint pass is one md5 groupBy + one hint-free
    fingerprint equi-join back (digests travel, text does not); LM and
    classifier are the broadcast-model pipelines; the three per-doc
    relations meet in hint-free doc_id equi-joins (all corpus-sized —
    AQE decides). Everything is one linear pass per signal plus
    doc-keyed joins: no windows, no self-joins."""
    from ai_data_pipeline_spark.operators.corpus import corpus_lm_quality
    from ai_data_pipeline_spark.operators.stats import cls_linear_score

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "lang",
        F.size(ws_split(F.col("text"))).alias("n_tokens"),
        text_fingerprint(F.col("text")).alias("fp"),
    )
    groups = d.groupBy("fp").agg(
        F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_dups")
    )
    lm = corpus_lm_quality(spark, sf_dir).select("doc_id", "mean_bits_ppm")
    cls = cls_linear_score(spark, sf_dir).select("doc_id", "score_ppm")
    tier = (
        F.when(F.col("mean_bits_ppm").isNull(), "nolm")
        .when(F.col("mean_bits_ppm") <= LM_HEAD_BITS_PPM, "head")
        .when(F.col("mean_bits_ppm") <= LM_TAIL_BITS_PPM, "middle")
        .otherwise("tail")
    )
    dup_loser = (
        (F.col("n_dups") >= 2) & (F.col("doc_id") != F.col("keep_doc_id"))
    ).cast("int")
    return (
        d.join(groups, "fp")
        .join(lm, "doc_id", "left")
        .join(cls, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "lang",
            "n_tokens",
            "mean_bits_ppm",
            F.coalesce(F.col("score_ppm"), F.lit(0)).alias("score_ppm"),
            tier.alias("lm_tier"),
            dup_loser.alias("is_dup_loser"),
            (
                (dup_loser == 0) & (tier != F.lit("tail"))
            )
            .cast("int")
            .alias("keep"),
        )
    )


def _doc_scorecard_oracle() -> str:
    from ai_data_pipeline_spark.operators.corpus import LM_QUALITY_ORACLE
    from ai_data_pipeline_spark.operators.stats import CLS_SCORE_ORACLE

    return rf"""
WITH lmq AS ({LM_QUALITY_ORACLE}),
cls AS ({CLS_SCORE_ORACLE}),
d AS (
  SELECT doc_id, source, lang,
         len({ws_split_sql('text')}) AS n_tokens,
         {text_fingerprint_sql("text")} AS fp
  FROM documents
), groups AS (
  SELECT fp, min(doc_id) AS keep_doc_id, count(*) AS n_dups
  FROM d GROUP BY fp
), j AS (
  SELECT d.doc_id, d.source, d.lang, d.n_tokens,
         lmq.mean_bits_ppm,
         COALESCE(cls.score_ppm, 0) AS score_ppm,
         CASE WHEN lmq.mean_bits_ppm IS NULL THEN 'nolm'
              WHEN lmq.mean_bits_ppm <= {LM_HEAD_BITS_PPM} THEN 'head'
              WHEN lmq.mean_bits_ppm <= {LM_TAIL_BITS_PPM} THEN 'middle'
              ELSE 'tail' END AS lm_tier,
         CAST(g.n_dups >= 2 AND d.doc_id <> g.keep_doc_id AS INT)
           AS is_dup_loser
  FROM d
  JOIN groups g USING (fp)
  LEFT JOIN lmq ON d.doc_id = lmq.doc_id
  LEFT JOIN cls ON d.doc_id = cls.doc_id
)
SELECT doc_id, source, lang, n_tokens, mean_bits_ppm, score_ppm,
       lm_tier, is_dup_loser,
       CAST(is_dup_loser = 0 AND lm_tier <> 'tail' AS INT) AS keep
FROM j
"""


CLS_FUNNEL_PCT_PPM = 500_000  # classifier stage keeps the top half


def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation funnel report — the per-stage survivor
    accounting (docs AND tokens) a production data-curation run
    publishes with every corpus release: ingest → exact-dedup survivor
    → LM quality (tier ≠ tail) → classifier approval, each stage
    cumulative over the previous, with retained-ppm ratios against
    ingest. Composes the materialized scorecard
    (pipeline_doc_scorecard), so the funnel is guaranteed consistent
    with the per-doc keep decisions it summarizes.

    The classifier stage is DISTRIBUTION-relative: it keeps documents
    at or above the corpus median of the quality score
    (cls_score_percentile's banded pct_ppm ≥ CLS_FUNNEL_PCT_PPM) —
    absolute slope thresholds do not transfer across corpus
    statistics (measured on the driver testdata: a fixed −450k ppm
    cut keeps 100% of LM survivors at sf0.1 and ~0% at sf0.001, while
    the top-half rule keeps ~50% at every SF). Documents the scorer
    never saw (no feature bucket) have no percentile and are dropped
    by the stage, explicitly.

    Scale: the scorecard's per-signal pipelines plus the percentile
    annotation (one doc-keyed equi-join), then ONE conditional
    aggregate over the joined relation (all four stages' doc/token
    sums in a single map-side-combined pass — the
    q_pivot_daily_events one-pass shape) and a 1-row → 4-row inline
    expansion. No second corpus scan, no window, nothing after the
    aggregate exceeds four rows."""
    from ai_data_pipeline_spark.operators.stats import cls_score_percentile

    sc = doc_scorecard(spark, sf_dir).join(
        cls_score_percentile(spark, sf_dir).select("doc_id", "pct_ppm"),
        "doc_id",
        "left",
    )
    s1 = F.col("is_dup_loser") == 0
    s2 = s1 & (F.col("lm_tier") != "tail")
    s3 = s2 & (F.col("pct_ppm") >= CLS_FUNNEL_PCT_PPM)
    agg = sc.agg(
        F.count(F.lit(1)).alias("d0"),
        F.sum("n_tokens").alias("t0"),
        F.sum(s1.cast("long")).alias("d1"),
        F.sum(s1.cast("long") * F.col("n_tokens")).alias("t1"),
        F.sum(s2.cast("long")).alias("d2"),
        F.sum(s2.cast("long") * F.col("n_tokens")).alias("t2"),
        F.sum(s3.cast("long")).alias("d3"),
        F.sum(s3.cast("long") * F.col("n_tokens")).alias("t3"),
    )
    # ppm ratios go through DECIMAL(38,0): the token sums reach ~10¹³
    # at 100 TB, so the ×10⁶ step would overflow int64 (ANSI throws);
    # the doc sums get the same cast for headroom uniformity. nullif
    # guards the empty-ingest corner (d0 = 0 would ANSI-throw): an
    # empty release report carries NULL ratios, not a crash.
    stages = ", ".join(
        f"named_struct('stage_id', {i}, 'stage', '{name}',"
        f" 'n_docs', d{i - 1}, 'n_tokens', t{i - 1},"
        f" 'docs_retained_ppm', cast((cast(d{i - 1} as decimal(38,0))"
        f" * 1000000) div nullif(d0, 0) as bigint),"
        f" 'tokens_retained_ppm', cast((cast(t{i - 1} as decimal(38,0))"
        f" * 1000000) div nullif(t0, 0) as bigint))"
        for i, name in enumerate(
            ["ingest", "dedup_survivor", "lm_not_tail", "cls_approved"], 1
        )
    )
    return agg.select(F.expr(f"inline(array({stages}))"))


def _funnel_oracle() -> str:
    rows = " UNION ALL ".join(
        f"SELECT {i} AS stage_id, '{name}' AS stage,"
        f" d{i - 1} AS n_docs, t{i - 1} AS n_tokens,"
        f" CAST((CAST(d{i - 1} AS HUGEINT) * 1000000) // nullif(d0, 0)"
        " AS BIGINT) AS docs_retained_ppm,"
        f" CAST((CAST(t{i - 1} AS HUGEINT) * 1000000) // nullif(t0, 0)"
        " AS BIGINT) AS tokens_retained_ppm"
        " FROM agg"
        for i, name in enumerate(
            ["ingest", "dedup_survivor", "lm_not_tail", "cls_approved"], 1
        )
    )
    from ai_data_pipeline_spark.operators.stats import CLS_PCT_ORACLE

    return f"""
WITH sc0 AS ({_doc_scorecard_oracle()}),
pct AS ({CLS_PCT_ORACLE}),
sc AS (
  SELECT sc0.*, pct.pct_ppm
  FROM sc0 LEFT JOIN pct ON sc0.doc_id = pct.doc_id
),
agg AS (
  SELECT count(*) AS d0, CAST(sum(n_tokens) AS BIGINT) AS t0,
         CAST(sum(CASE WHEN is_dup_loser = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS d1,
         CAST(sum(CASE WHEN is_dup_loser = 0 THEN n_tokens ELSE 0 END)
           AS BIGINT) AS t1,
         CAST(sum(CASE WHEN is_dup_loser = 0 AND lm_tier <> 'tail'
                       THEN 1 ELSE 0 END) AS BIGINT) AS d2,
         CAST(sum(CASE WHEN is_dup_loser = 0 AND lm_tier <> 'tail'
                       THEN n_tokens ELSE 0 END) AS BIGINT) AS t2,
         CAST(sum(CASE WHEN is_dup_loser = 0 AND lm_tier <> 'tail'
                       AND pct_ppm >= {CLS_FUNNEL_PCT_PPM}
                       THEN 1 ELSE 0 END) AS BIGINT) AS d3,
         CAST(sum(CASE WHEN is_dup_loser = 0 AND lm_tier <> 'tail'
                       AND pct_ppm >= {CLS_FUNNEL_PCT_PPM}
                       THEN n_tokens ELSE 0 END) AS BIGINT) AS t3
  FROM sc
)
{rows}
"""


QUERY_DEFS = [
    QueryDef("pipeline_clean_corpus", clean_corpus, CLEAN_CORPUS_ORACLE),
    QueryDef("pipeline_doc_scorecard", doc_scorecard, _doc_scorecard_oracle()),
    QueryDef("pipeline_quality_resample", quality_resample, _quality_resample_oracle()),
    QueryDef("pipeline_curation_funnel", curation_funnel, _funnel_oracle()),
    QueryDef("q_event_funnel", event_funnel, EVENT_FUNNEL_ORACLE),
]
