"""Training-corpus curation operators: benchmark decontamination,
Gopher-style repetition signals, deterministic split assignment, and
source-mixing weights.

These are the curation steps an LLM training-data pipeline runs between
raw ingestion and tokenization — the reference (a per-column profiler,
SURVEY.md §0) has no counterpart, so they extend the north-star text
surface (BASELINE.json) the same way dedup/similarity do.

Scale design:
- decontamination: the benchmark n-gram set is TINY relative to the
  corpus (eval suites are ~1e6 grams vs 1e11 docs), so it broadcasts;
  the corpus side streams map-side through the hash join and the only
  shuffle is the per-doc hit aggregation — linear, skew-free (keyed on
  doc_id).
- repetition signals: everything is per-document; the (doc, gram)
  aggregation is one keyed shuffle with map-side partial aggregation,
  and the doc_id re-aggregation reuses the same partitioning.
- split assignment: a pure projection (md5 bucket) — no shuffle until
  the final tiny (split, source) rollup. Hash-of-key splitting is the
  only split that stays stable when the corpus is re-sharded or
  appended to, which is why it beats rand() at 100 TB.
- mixing weights: two tiny aggregates over per-source token counts;
  the weight table is broadcast back for the actual downsample pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ai_data_pipeline_spark.catalog import load_table
from ai_data_pipeline_spark.functions.expressions import (
    hex_int,
    hex_int_sql,
    term_split,
    term_split_sql,
    ws_split,
    ws_split_sql,
)
from ai_data_pipeline_spark.operators.text import (
    TOKEN_ARRAYS_SQL,
    token_arrays,
    word_ngrams,
    word_ngrams_duck,
)
from ai_data_pipeline_spark.registry import QueryDef

DECON_N = 5  # tokens per contamination shingle (13 in prod; 5 so the
# synthetic 55-token docs actually collide — same plan shape)
DECON_BENCH_MOD = 7  # doc_id % 7 == 0 plays the held-out benchmark
# contamination flag threshold: n_hits * DEN >= n_grams * NUM (exact)
DECON_NUM, DECON_DEN = 1, 20  # 5% of a doc's distinct grams

REP_TOP_NUM, REP_TOP_DEN = 1, 10  # top-bigram fraction >= 10% -> flag

SPLIT_PCT = (96, 98)  # train < 96, val < 98, test < 100


def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (the eval-leakage scan every training
    run needs): distinct 5-gram shingles of the held-out set (doc_id %
    7 == 0) are broadcast; every other document reports how many of its
    distinct shingles leak, with an exact-rational contamination flag.
    Only contaminated docs are emitted — at corpus scale the clean
    (overwhelming) majority never leaves the map side."""
    grams = token_arrays(spark, sf_dir).select(
        "doc_id",
        F.explode(F.array_distinct(F.expr(word_ngrams(DECON_N)))).alias("gram"),
    )
    bench = (
        grams.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
        .select("gram")
        .distinct()
    )
    train = grams.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
    sizes = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        train.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        hits.join(sizes, "doc_id")
        .select(
            "doc_id",
            "n_grams",
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_grams"), 6).alias("hit_rate"),
            (F.col("n_hits") * DECON_DEN >= F.col("n_grams") * DECON_NUM)
            .cast("int")
            .alias("flag_contaminated"),
        )
    )


DECONTAMINATE_ORACLE = rf"""
WITH toks AS ({TOKEN_ARRAYS_SQL}),
grams AS (
  SELECT doc_id, unnest(list_distinct({word_ngrams_duck(DECON_N)})) AS gram FROM toks
),
bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % {DECON_BENCH_MOD} = 0),
train AS (SELECT * FROM grams WHERE doc_id % {DECON_BENCH_MOD} <> 0),
sizes AS (SELECT doc_id, count(*) AS n_grams FROM train GROUP BY 1),
hits AS (SELECT t.doc_id, count(*) AS n_hits
         FROM train t JOIN bench b USING (gram) GROUP BY 1)
SELECT h.doc_id, n_grams, n_hits,
       round(CAST(n_hits AS DOUBLE) / n_grams, 6) AS hit_rate,
       CAST(n_hits * {DECON_DEN} >= n_grams * {DECON_NUM} AS INT)
         AS flag_contaminated
FROM hits h JOIN sizes s ON h.doc_id = s.doc_id
"""


def corpus_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition metrics (Rae et al. 2021
    §A1.1 shape): top-bigram mass fraction and duplicate-bigram
    fraction, flagged with an exact-rational threshold. One (doc,
    bigram) keyed aggregation, then a doc_id rollup that AQE coalesces
    onto the same partitioning — no second wide shuffle."""
    toks = token_arrays(spark, sf_dir)
    bigrams = toks.select(
        "doc_id",
        F.explode(F.expr(word_ngrams(2))).alias("bigram"),
    )
    per_bigram = bigrams.groupBy("doc_id", "bigram").agg(
        F.count(F.lit(1)).alias("c")
    )
    return per_bigram.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.count(F.lit(1)).alias("n_distinct_bigrams"),
        F.max("c").alias("top_bigram_n"),
        F.round(F.max("c") / F.sum("c"), 6).alias("top_bigram_frac"),
        F.round((F.sum("c") - F.count(F.lit(1))) / F.sum("c"), 6).alias(
            "dup_bigram_frac"
        ),
        (F.max("c") * REP_TOP_DEN >= F.sum("c") * REP_TOP_NUM)
        .cast("int")
        .alias("flag_repetitive"),
    )


REPETITION_ORACLE = rf"""
WITH toks AS ({TOKEN_ARRAYS_SQL}),
bg AS (
  SELECT doc_id, unnest([array_to_string(l[i:i+1], ' ')
         for i in range(1, greatest(len(l)-1, 1)+1)]) AS bigram
  FROM toks
),
cnt AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_bigrams,
       count(*) AS n_distinct_bigrams,
       max(c) AS top_bigram_n,
       round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_bigram_frac,
       round(CAST(sum(c) - count(*) AS DOUBLE) / sum(c), 6) AS dup_bigram_frac,
       CAST(max(c) * {REP_TOP_DEN} >= sum(c) * {REP_TOP_NUM} AS INT)
         AS flag_repetitive
FROM cnt GROUP BY doc_id
"""


def _split() -> Column:
    """train/val/test by md5(doc_id) bucket 0-99 against SPLIT_PCT."""
    bucket = hex_int(F.md5(F.col("doc_id").cast("string")), 4) % 100
    return (
        F.when(bucket < SPLIT_PCT[0], "train")
        .when(bucket < SPLIT_PCT[1], "val")
        .otherwise("test")
    )


def _split_sql() -> str:
    """DuckDB twin of ``_split``."""
    bucket = f"{hex_int_sql('md5(CAST(doc_id AS VARCHAR))', 4)} % 100"
    return (
        f"CASE WHEN {bucket} < {SPLIT_PCT[0]} THEN 'train' "
        f"WHEN {bucket} < {SPLIT_PCT[1]} THEN 'val' ELSE 'test' END"
    )


def corpus_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by content-stable hash:
    md5(doc_id) bucket 0-99 → 96/2/2 split, rolled up per (split,
    source). Hash-of-key splitting survives re-sharding, appends, and
    re-runs — rand(seed) does not (partition-order dependent), which is
    why this is THE split idiom for 100 TB corpora."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            _split().alias("split"),
            "source",
            F.size(ws_split(F.col("text"))).alias("n_tok"),
            "doc_id",
        )
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


SPLIT_ASSIGN_ORACLE = rf"""
WITH b AS (
  SELECT doc_id, source,
         len({ws_split_sql('text')}) AS n_tok,
         {_split_sql()} AS split
  FROM documents
)
SELECT split,
       source,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       min(doc_id) AS min_doc_id,
       max(doc_id) AS max_doc_id
FROM b GROUP BY 1, 2
"""

LEAK_SHINGLE_K = 5  # token window for the cross-split leakage scan


def corpus_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→eval split leakage audit — the check that the held-out
    splits actually hold anything out: a val/test document sharing any
    LEAK_SHINGLE_K-token window with the train split will have its
    "held-out" content memorized verbatim, inflating eval scores (the
    within-corpus counterpart of corpus_decontaminate's external
    benchmark scan). Uses the SAME content-stable hash split as
    corpus_split_assign, so it audits the split the pipeline actually
    ships. Reports, per held-out split: docs, leaked docs (≥1 window
    seen in train), leak ppm, and distinct leaked windows.

    Docs shorter than the window contribute their full token sequence
    as one unit (the winnowing short-doc rule) — a 3-token val doc
    that appears verbatim in train is still a leak.

    Scale: windows travel as 16-byte md5 digests from the first
    projection (text never shuffles); the distinct gram relation is
    materialized ONCE (localCheckpoint — the corpus is scanned and
    tokenized exactly once; without it Spark re-derives the subtree
    for the train and held consumers, and a plan audit measured five
    corpus scans); leak detection is one digest-keyed semi-join (work
    ∝ shared digests) feeding ONE split-keyed distinct-count
    aggregate; totals come from a token-free scan joined on the ≤ 2
    split keys. The same bucketed-candidate discipline as the dedup
    family — no pair blowup, no corpus broadcast."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        _split().alias("split"),
        ws_split(F.lower(F.col("text"))).alias("l"),
    )
    grams = (
        base.select(
            "doc_id",
            "split",
            F.explode(F.expr(word_ngrams(LEAK_SHINGLE_K))).alias("gram"),
        )
        .select("doc_id", "split", F.md5("gram").alias("h"))
        .distinct()
        .localCheckpoint()  # tokenize/scan the corpus exactly once
    )
    train_h = grams.filter(F.col("split") == "train").select("h").distinct()
    held = grams.filter(F.col("split") != "train")
    per_split_leaks = (
        held.join(train_h, "h", "left_semi")
        .groupBy("split")
        .agg(
            F.countDistinct("doc_id").alias("n_leaked_docs"),
            F.countDistinct("h").alias("n_leaked_shingles"),
        )
    )
    docs_tot = (
        base.filter(F.col("split") != "train")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return docs_tot.join(F.broadcast(per_split_leaks), "split", "left").select(
        "split",
        "n_docs",
        F.coalesce("n_leaked_docs", F.lit(0)).alias("n_leaked_docs"),
        F.expr(
            "(coalesce(n_leaked_docs, 0) * 1000000) div n_docs"
        ).alias("leak_ppm"),
        F.coalesce("n_leaked_shingles", F.lit(0)).alias("n_leaked_shingles"),
    )


SPLIT_LEAKAGE_ORACLE = rf"""
WITH b AS (
  SELECT doc_id,
         {_split_sql()} AS split,
         {ws_split_sql('lower(text)')} AS l
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id, split,
         md5(array_to_string(l[i:i+{LEAK_SHINGLE_K - 1}], ' ')) AS h
  FROM b CROSS JOIN range(1, 100000) r(i)
  WHERE i <= greatest(len(l) - {LEAK_SHINGLE_K - 1}, 1)
), tr AS (
  SELECT DISTINCT h FROM grams WHERE split = 'train'
), held AS (
  SELECT * FROM grams WHERE split <> 'train'
), leaks AS (
  SELECT held.* FROM held JOIN tr ON held.h = tr.h
), doc_flags AS (
  SELECT b.split, b.doc_id,
         CASE WHEN b.doc_id IN (SELECT doc_id FROM leaks) THEN 1 ELSE 0 END
           AS lk
  FROM b WHERE b.split <> 'train'
), per_split AS (
  SELECT split, count(*) AS n_docs,
         CAST(sum(lk) AS BIGINT) AS n_leaked_docs
  FROM doc_flags GROUP BY split
), sh AS (
  SELECT split, count(DISTINCT h) AS n_leaked_shingles FROM leaks GROUP BY split
)
SELECT p.split, p.n_docs, p.n_leaked_docs,
       (p.n_leaked_docs * 1000000) // p.n_docs AS leak_ppm,
       COALESCE(sh.n_leaked_shingles, 0) AS n_leaked_shingles
FROM per_split p LEFT JOIN sh ON p.split = sh.split
"""


MIX_BUDGET_TOKENS = 10_000  # target corpus size for the mixing pass


def corpus_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixing (domain-weighting) plan: given a token budget and a
    uniform per-source target, emit each source's sampling weight
    min(1, target/available) and the token count it would contribute —
    the DoReMi/uniform-mixture bookkeeping step that decides sampling
    rates before the (cheap, hash-filtered) downsample pass."""
    d = load_table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(ws_split(F.col("text")))).alias("n_tokens"),
    )
    n_sources = per_source.agg(
        F.count(F.lit(1)).alias("n_sources")
    )
    return (
        per_source.crossJoin(F.broadcast(n_sources))
        .withColumn(
            "weight",
            F.round(
                F.least(
                    F.lit(1.0),
                    (F.lit(float(MIX_BUDGET_TOKENS)) / F.col("n_sources"))
                    / F.col("n_tokens"),
                ),
                6,
            ),
        )
        .withColumn(
            "planned_tokens",
            F.floor(F.col("weight") * F.col("n_tokens")).cast("long"),
        )
        .select("source", "n_docs", "n_tokens", "weight", "planned_tokens")
    )


MIXING_ORACLE = rf"""
WITH per_source AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len({ws_split_sql('text')})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
), ns AS (SELECT count(*) AS n_sources FROM per_source),
w AS (
  SELECT source, n_docs, n_tokens,
         round(least(1.0, (CAST({MIX_BUDGET_TOKENS} AS DOUBLE) / n_sources)
                          / n_tokens), 6) AS weight
  FROM per_source CROSS JOIN ns
)
SELECT source, n_docs, n_tokens, weight,
       CAST(floor(weight * n_tokens) AS BIGINT) AS planned_tokens
FROM w
"""


CTX_TOKENS = 64  # packed training-sequence length (2048/4096 in prod;
# 64 so the 55-token synthetic docs actually straddle boundaries)
PACK_STREAMS = 8  # independent packing streams == writer tasks at scale


def corpus_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chop sequence packing (the tokenizer→trainer step):
    docs are hashed into PACK_STREAMS independent streams, ordered by a
    content-stable key, concatenated, and chopped into CTX_TOKENS
    sequences; emits per-stream packing stats (sequences produced,
    boundary-straddling docs, tail fill).

    Scale: each stream is one window partition → one writer task; the
    ONLY shuffle is the hash repartition to streams (at 100 TB you set
    PACK_STREAMS to the cluster's write parallelism and every stream
    packs independently — no global order, no driver involvement).
    Integer-exact: offsets are cumulative int sums, chop is int div."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(ws_split(F.col("text"))).alias("n_tok"),
        (
            hex_int(F.md5(F.col("doc_id").cast("string")), 4) % PACK_STREAMS
        ).alias("stream"),
        F.md5(F.col("doc_id").cast("string")).alias("ord"),
    )
    w = (
        Window.partitionBy("stream")
        .orderBy("ord", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = (
        d.select(
            "stream",
            "n_tok",
            (F.sum("n_tok").over(w) - F.col("n_tok")).alias("start"),
        )
        .withColumn("first_seq", F.floor(F.col("start") / CTX_TOKENS))
        .withColumn(
            "last_seq",
            F.floor((F.col("start") + F.col("n_tok") - 1) / CTX_TOKENS),
        )
    )
    return packed.groupBy("stream").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        (F.floor((F.sum("n_tok") - 1) / CTX_TOKENS) + 1).alias("n_sequences"),
        F.sum((F.col("last_seq") > F.col("first_seq")).cast("int")).alias(
            "n_boundary_docs"
        ),
        F.max(F.col("last_seq") - F.col("first_seq") + 1).alias("max_doc_spans"),
        (
            F.sum("n_tok")
            - F.floor((F.sum("n_tok") - 1) / CTX_TOKENS) * CTX_TOKENS
        ).alias("tail_fill_tokens"),
    )


PACKING_ORACLE = rf"""
WITH d AS (
  SELECT doc_id,
         len({ws_split_sql('text')}) AS n_tok,
         {hex_int_sql('md5(CAST(doc_id AS VARCHAR))', 4)}
           % {PACK_STREAMS} AS stream,
         md5(CAST(doc_id AS VARCHAR)) AS ord
  FROM documents
), p AS (
  SELECT stream, n_tok,
         sum(n_tok) OVER (PARTITION BY stream ORDER BY ord, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tok AS start
  FROM d
), q AS (
  SELECT stream, n_tok,
         CAST(floor(CAST(start AS DOUBLE) / {CTX_TOKENS}) AS BIGINT) AS first_seq,
         CAST(floor(CAST(start + n_tok - 1 AS DOUBLE) / {CTX_TOKENS}) AS BIGINT)
           AS last_seq
  FROM p
)
SELECT stream,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(floor(CAST(sum(n_tok) - 1 AS DOUBLE) / {CTX_TOKENS}) AS BIGINT) + 1
         AS n_sequences,
       CAST(sum(CAST(last_seq > first_seq AS INT)) AS BIGINT) AS n_boundary_docs,
       max(last_seq - first_seq + 1) AS max_doc_spans,
       CAST(sum(n_tok)
         - (CAST(floor(CAST(sum(n_tok) - 1 AS DOUBLE) / {CTX_TOKENS}) AS BIGINT))
           * {CTX_TOKENS} AS BIGINT) AS tail_fill_tokens
FROM q GROUP BY stream
"""

VOCAB_TOP_K = 32  # in-vocabulary set: top-K tokens by global frequency
OOV_NUM, OOV_DEN = 1, 4  # flag docs with >= 25% out-of-vocab tokens


def corpus_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary (UNK-rate) filter: global term frequencies pick
    the top-K vocabulary (deterministic (count, token) rank); each doc
    reports its OOV token fraction with an exact-rational flag.

    Scale: the vocab is the classic tiny-side broadcast (a real
    tokenizer vocab is 32-256k entries ~ a few MB); per-doc counting is
    map-side against the broadcast set, and the only wide shuffle is
    the global tf aggregation — with map-side partial aggregation its
    reduce input is bounded by |vocab| per task, not corpus size."""
    toks = token_arrays(spark, sf_dir).select(
        "doc_id", F.explode("l").alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("c").desc(), F.col("tok"))
            ),
        )
        .filter(F.col("rnk") <= VOCAB_TOP_K)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tok",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tok"), 6).alias("oov_rate"),
            (F.col("n_oov") * OOV_DEN >= F.col("n_tok") * OOV_NUM)
            .cast("int")
            .alias("flag_oov"),
        )
    )


OOV_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, unnest({ws_split_sql('text')}) AS tok FROM documents
), vocab AS (
  SELECT tok FROM (
    SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) AS rnk
    FROM toks GROUP BY tok
  ) WHERE rnk <= {VOCAB_TOP_K}
)
SELECT t.doc_id,
       count(*) AS n_tok,
       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       round(CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS oov_rate,
       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * {OOV_DEN}
            >= count(*) * {OOV_NUM} AS INT) AS flag_oov
FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
GROUP BY t.doc_id
"""


DOMAIN_CAP_DOCS = 20  # max docs kept per source (per-domain quota;
# below the ~25 docs/source of sf0.01 so the drop path is exercised by
# the driver oracle, not just the keep-everything branch)


DOMAIN_CAP_BUCKET_HEX = 2  # md5-prefix bucket width (256 buckets; raise
# to 4 at petabyte domain sizes so candidate sets stay ~n/65536 + cap)


def corpus_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota sampling (the C4/RefinedWeb anti-domination
    step): cap each source at DOMAIN_CAP_DOCS documents, choosing
    survivors by content-stable md5-of-key order so the kept set is
    deterministic and survives re-sharding/appends (rand() does not).
    Emits the per-source keep/drop accounting the mixing pass consumes.

    Scale: the naive plan (row_number over PARTITION BY source) puts a
    dominant domain's entire row set on one reducer — the exact corpus
    shape the cap exists for. Instead, a two-pass exact-rank cutoff:
    (1) count docs per (source, md5-prefix bucket) — map-side
    combinable, 256 rows/domain; a running sum over those 256 rows
    finds the bucket holding the cap-th doc; (2) broadcast the cutoff
    table and keep only docs in buckets ≤ cutoff, so the per-domain
    ordering window runs over ~n/256 + cap candidate rows instead of n
    — bounded regardless of domain skew (deterministic, not sampled:
    the bucket cumsum is an exact rank bound). The text column is never
    shuffled; kept-set accounting joins back to the tiny per-domain
    count table."""
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.size(ws_split(F.col("text"))).alias("n_tok"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    ).withColumn("bkt", hex_int(F.col("h"), DOMAIN_CAP_BUCKET_HEX))
    bcounts = d.groupBy("source", "bkt").agg(F.count(F.lit(1)).alias("bn"))
    wb = Window.partitionBy("source").orderBy("bkt")  # ≤ 256 rows/domain
    cum = bcounts.withColumn("cum", F.sum("bn").over(wb))
    cutoff = (
        cum.filter(F.col("cum") >= DOMAIN_CAP_DOCS)
        .groupBy("source")
        .agg(F.min("bkt").alias("cut_bkt"))
    )
    totals = bcounts.groupBy("source").agg(F.sum("bn").alias("n_docs"))
    # cut_bkt is NULL for under-cap domains → keep every bucket
    thr = totals.join(cutoff, "source", "left")
    cand = d.join(F.broadcast(thr.select("source", "cut_bkt")), "source").filter(
        F.col("cut_bkt").isNull() | (F.col("bkt") <= F.col("cut_bkt"))
    )
    wk = Window.partitionBy("source").orderBy("h", "doc_id")  # bounded input
    kept = cand.withColumn("rk", F.row_number().over(wk)).filter(
        F.col("rk") <= DOMAIN_CAP_DOCS
    )
    kept_stats = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_tok").alias("kept_tokens"),
        F.min("doc_id").alias("min_kept_doc_id"),
        F.max("doc_id").alias("max_kept_doc_id"),
    )
    return totals.join(kept_stats, "source").select(
        "source",
        "n_docs",
        "n_kept",
        (F.col("n_docs") - F.col("n_kept")).alias("n_dropped"),
        "kept_tokens",
        "min_kept_doc_id",
        "max_kept_doc_id",
    )


DOMAIN_CAPS_ORACLE = rf"""
WITH ranked AS (
  SELECT source, doc_id,
         len({ws_split_sql('text')}) AS n_tok,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CAST(rk <= {DOMAIN_CAP_DOCS} AS INT)) AS BIGINT) AS n_kept,
       CAST(sum(CAST(rk > {DOMAIN_CAP_DOCS} AS INT)) AS BIGINT) AS n_dropped,
       CAST(sum(CASE WHEN rk <= {DOMAIN_CAP_DOCS} THEN n_tok ELSE 0 END) AS BIGINT)
         AS kept_tokens,
       min(CASE WHEN rk <= {DOMAIN_CAP_DOCS} THEN doc_id END) AS min_kept_doc_id,
       max(CASE WHEN rk <= {DOMAIN_CAP_DOCS} THEN doc_id END) AS max_kept_doc_id
FROM ranked GROUP BY source
"""


BPE_TOP_PAIRS = 10  # merge candidates to emit (one BPE training step)


def corpus_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training merge step: corpus-wide adjacent character-pair
    frequencies (weighted by word frequency), emitting the top merge
    candidates with a deterministic (freq DESC, pair ASC) rank — the
    inner loop of byte-pair-encoding tokenizer training.

    Scale: the word-frequency table (distinct words) is orders of
    magnitude smaller than the corpus, so pair explosion runs on the
    compressed representation — the same trick real BPE trainers use.
    Two keyed aggregations (word tf, then pair sum), both map-side
    combinable; the top-K is a tiny single-partition sort of the pair
    vocabulary, not the data."""
    words = (
        token_arrays(spark, sf_dir)
        .select(F.explode("l").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
        .filter(F.length("w") >= 2)
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "f",
    )
    ranked = (
        pairs.groupBy("pair")
        .agg(F.sum("f").alias("freq"))
        .withColumn(
            "rnk",
            F.row_number().over(Window.orderBy(F.col("freq").desc(), F.col("pair"))),
        )
        .filter(F.col("rnk") <= BPE_TOP_PAIRS)
    )
    return ranked.select("rnk", "pair", "freq")


BPE_ORACLE = rf"""
WITH wf AS (
  SELECT w, count(*) AS f FROM (
    SELECT unnest({ws_split_sql('text')}) AS w FROM documents
  ) GROUP BY w HAVING len(w) >= 2
), pairs AS (
  SELECT w[i:i+1] AS pair, f
  FROM wf CROSS JOIN range(1, 64) t(i)
  WHERE i <= len(w) - 1
), ranked AS (
  SELECT pair, CAST(sum(f) AS BIGINT) AS freq,
         row_number() OVER (ORDER BY sum(f) DESC, pair) AS rnk
  FROM pairs GROUP BY pair
)
SELECT rnk, pair, freq FROM ranked WHERE rnk <= {BPE_TOP_PAIRS}
"""


# docs whose mean token corpus-frequency falls below NUM/DEN of the
# corpus-wide mean are rarity-flagged (scale-free, exact rational)
RARITY_PCT_NUM, RARITY_PCT_DEN = 99, 100


def corpus_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-rarity quality signal (the CCNet-style "how ordinary is
    this document's vocabulary" filter, with exact integer arithmetic
    instead of an LM): per document, the sum and mean of the corpus-wide
    term frequency of each token occurrence. Boilerplate/common-word
    documents score high; rare-token (OCR garbage, wrong-language,
    codes) documents score low. The flag compares the doc mean against
    99% of the corpus mean as a decimal cross-product — scale-free (an
    absolute cutoff drifts with corpus size) and float-free (the
    products can pass 2^63 at corpus scale, hence decimal(38,0)).

    Scale: one keyed aggregation builds the global tf table; the
    corpus-mean numerator Σtf² and denominator Σtf reduce from that
    same table (two longs, broadcast back); the corpus streams through
    a token-keyed join against tf (the identical shape corpus_oov_rate
    uses), and the per-doc rollup is a doc_id-keyed agg."""
    toks = token_arrays(spark, sf_dir).select(
        "doc_id", F.explode("l").alias("tok")
    )
    tf = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    dec = "decimal(38,0)"
    glob = tf.agg(
        F.sum("tf").alias("g_n"),
        F.sum(F.col("tf").cast(dec) * F.col("tf")).alias("g_sum"),
    )
    per_doc = toks.join(tf, "tok").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"), F.sum("tf").alias("sum_tf")
    )
    return per_doc.crossJoin(F.broadcast(glob)).select(
        "doc_id",
        "n_tok",
        "sum_tf",
        F.round(F.col("sum_tf") / F.col("n_tok"), 6).alias("mean_tf"),
        (
            F.col("sum_tf").cast(dec) * F.col("g_n") * RARITY_PCT_DEN
            < F.col("n_tok").cast(dec) * F.col("g_sum") * RARITY_PCT_NUM
        )
        .cast("int")
        .alias("flag_rare"),
    )


RARITY_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, unnest({ws_split_sql('text')}) AS tok FROM documents
), tf AS (
  SELECT tok, count(*) AS tf FROM toks GROUP BY tok
), gtot AS (
  SELECT CAST(sum(tf) AS DECIMAL(38,0)) AS g_n,
         CAST(sum(CAST(tf AS DECIMAL(38,0)) * tf) AS DECIMAL(38,0)) AS g_sum
  FROM tf
), per_doc AS (
  SELECT doc_id, count(*) AS n_tok, CAST(sum(tf) AS BIGINT) AS sum_tf
  FROM toks t JOIN tf USING (tok)
  GROUP BY doc_id
)
SELECT doc_id, n_tok, sum_tf,
       round(CAST(sum_tf AS DOUBLE) / n_tok, 6) AS mean_tf,
       CAST(CAST(sum_tf AS DECIMAL(38,0)) * g_n * {RARITY_PCT_DEN}
            < CAST(n_tok AS DECIMAL(38,0)) * g_sum * {RARITY_PCT_NUM} AS INT)
         AS flag_rare
FROM per_doc CROSS JOIN gtot
"""


BPE_SEP = "\x1f"  # unit-separator delimiter between BPE units (absent
# from the corpus text; if it ever appeared, both engines would apply
# the identical delimiter logic, so parity still holds)


def corpus_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merge table (corpus_bpe_pair_stats) to
    tokenize the corpus — the encode step that turns a trained merge
    list into token counts, closing the tokenizer train→apply loop.

    Semantics (engine-identical by construction): each word becomes a
    delimiter-bounded unit sequence ("abc" → ␟a␟b␟c␟); merges apply in
    rank order, each rank as TWO left-to-right non-overlapping plain
    string-replace passes — the second pass catches an adjacent
    occurrence whose shared delimiter the first replace consumed. Plain
    replace() scans agree between Spark and DuckDB, so this documented
    two-pass approximation of greedy BPE is exactly reproducible.
    Output: per-language word/char/unit accounting with the achieved
    units-per-char compression.

    Scale: application runs over the distinct (lang, word) table (the
    same corpus-compression trick training uses); each merge step
    broadcasts ONE merge-table row — the model artifact — so the
    corpus-sized relation is never reshuffled between steps, and the
    merge table itself is localCheckpointed once instead of recomputing
    the training aggregation per step."""
    d = load_table(spark, sf_dir, "documents")
    lang_words = (
        d.select("lang", F.explode(ws_split(F.col("text"))).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("f"))
        .filter(F.length("w") >= 2)  # the trained vocabulary's domain
    )
    merges = (
        corpus_bpe_pair_stats(spark, sf_dir)
        .select(
            "rnk",
            F.concat(
                F.lit(BPE_SEP),
                F.substring("pair", 1, 1),
                F.lit(BPE_SEP),
                F.substring("pair", 2, 1),
                F.lit(BPE_SEP),
            ).alias("pat"),
            F.concat(F.lit(BPE_SEP), F.col("pair"), F.lit(BPE_SEP)).alias("rep"),
        )
        .localCheckpoint()  # 10 rows; avoids 10× re-training per step
    )
    spaced = lang_words.withColumn(
        "s",
        F.concat(F.regexp_replace("w", "(.)", BPE_SEP + "$1"), F.lit(BPE_SEP)),
    )
    for k in range(1, BPE_TOP_PAIRS + 1):
        mk = merges.filter(F.col("rnk") == k).select("pat", "rep")
        spaced = (
            spaced.crossJoin(F.broadcast(mk))
            .withColumn(
                "s",
                F.replace(
                    F.replace("s", F.col("pat"), F.col("rep")),
                    F.col("pat"),
                    F.col("rep"),
                ),
            )
            .drop("pat", "rep")
        )
    n_units = (
        F.length("s") - F.length(F.replace("s", F.lit(BPE_SEP), F.lit(""))) - 1
    )
    return spaced.groupBy("lang").agg(
        F.sum("f").alias("n_words"),
        F.sum(F.col("f") * F.length("w")).alias("n_chars"),
        F.sum(F.col("f") * n_units).alias("n_units"),
        F.round(
            F.sum(F.col("f") * n_units).cast("double")
            / F.sum(F.col("f") * F.length("w")),
            6,
        ).alias("units_per_char"),
    )


BPE_APPLY_ORACLE = rf"""
WITH RECURSIVE wf AS (
  SELECT w, count(*) AS f FROM (
    SELECT unnest({ws_split_sql('text')}) AS w FROM documents
  ) GROUP BY w HAVING len(w) >= 2
), ranked AS (
  SELECT pair, row_number() OVER (ORDER BY sum(f) DESC, pair) AS rnk
  FROM (
    SELECT w[i:i+1] AS pair, f FROM wf CROSS JOIN range(1, 64) t(i)
    WHERE i <= len(w) - 1
  ) GROUP BY pair
), merges AS (
  SELECT rnk,
         '{BPE_SEP}' || pair[1:1] || '{BPE_SEP}' || pair[2:2] || '{BPE_SEP}' AS pat,
         '{BPE_SEP}' || pair || '{BPE_SEP}' AS rep
  FROM ranked WHERE rnk <= {BPE_TOP_PAIRS}
), lw AS (
  SELECT lang, w, count(*) AS f FROM (
    SELECT lang, unnest({ws_split_sql('text')}) AS w FROM documents
  ) GROUP BY lang, w HAVING len(w) >= 2
), rec AS (
  SELECT lang, w, f, 0 AS step,
         regexp_replace(w, '(.)', '{BPE_SEP}\1', 'g') || '{BPE_SEP}' AS s
  FROM lw
  UNION ALL
  SELECT r.lang, r.w, r.f, r.step + 1,
         replace(replace(r.s, m.pat, m.rep), m.pat, m.rep)
  FROM rec r JOIN merges m ON m.rnk = r.step + 1
)
SELECT lang,
       CAST(sum(f) AS BIGINT) AS n_words,
       CAST(sum(f * len(w)) AS BIGINT) AS n_chars,
       CAST(sum(f * (len(s) - len(replace(s, '{BPE_SEP}', '')) - 1)) AS BIGINT)
         AS n_units,
       round(CAST(sum(f * (len(s) - len(replace(s, '{BPE_SEP}', '')) - 1)) AS DOUBLE)
             / sum(f * len(w)), 6) AS units_per_char
FROM rec WHERE step = {BPE_TOP_PAIRS}
GROUP BY lang
"""


BOILER_N = 2  # bigram unit (synthetic vocab is small -> bigrams recur)
BOILER_NUM, BOILER_DEN = 1, 5  # boilerplate: gram in >= 20% of source docs


OVERLAP_PREFIX_TOKENS = 20  # leading-content identity window


def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source content overlap — the merge diagnostic run before
    combining crawl dumps (consecutive CommonCrawl snapshots overlap
    heavily; blind unioning double-counts that mass): for every source
    pair, the number of shared distinct content digests and the Jaccard
    overlap in exact ppm. High-overlap pairs get deduped against each
    other first (or one side dropped) before the corpus-wide pass.

    Scale: documents reduce to distinct (source, digest) rows (one
    keyed aggregate, text never shuffled); the pair counts come from a
    digest-keyed self-join — work proportional to shared digests — and
    per-source totals are a tiny aggregate broadcast back. With S
    sources the output is ≤ S(S−1)/2 rows regardless of corpus size.

    The content key is the digest of the first OVERLAP_PREFIX_TOKENS
    tokens — leading-content identity catches exact duplicates AND
    shared-template / truncated-continuation overlap, the dominant
    inter-dump duplication modes (full-text digests additionally miss
    any pair differing in a trailing byte)."""
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        F.md5(
            F.concat_ws(
                " ", F.slice(ws_split(F.col("text")), 1, OVERLAP_PREFIX_TOKENS)
            )
        ).alias("h"),
    ).distinct()
    sizes = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = d.alias("a"), d.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "n_shared",
            F.expr(
                "(n_shared * 1000000) div (n_a + n_b - n_shared)"
            ).alias("jaccard_ppm"),
        )
    )


SOURCE_OVERLAP_ORACLE = rf"""
WITH d AS (
  SELECT DISTINCT source,
         md5(array_to_string(
           ({ws_split_sql('text')})[1:{OVERLAP_PREFIX_TOKENS}], ' ')) AS h
  FROM documents
), sizes AS (
  SELECT source, count(*) AS n FROM d GROUP BY source
), inter AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
  FROM d a JOIN d b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, sa.n AS n_a, sb.n AS n_b, n_shared,
       (n_shared * 1000000) // (sa.n + sb.n - n_shared) AS jaccard_ppm
FROM inter
JOIN sizes sa ON sa.source = source_a
JOIN sizes sb ON sb.source = source_b
"""


CHUNK_LEN = 128  # tokens per chunk
CHUNK_STRIDE = 96  # 32-token overlap between consecutive chunks


def corpus_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window chunking — the RAG/retrieval prep step that
    splits documents into CHUNK_LEN-token pieces advancing by
    CHUNK_STRIDE (so consecutive chunks share CHUNK_LEN−CHUNK_STRIDE
    tokens of context). Emits one row per chunk with its token span
    and an exact char length (sum of token lengths + single joining
    spaces), the relation an embedding stage consumes downstream.

    The chunk count per doc is ceil(max(n−overlap, 1) / stride); the
    final chunk is ragged. Scale: pure narrow transforms (sequence +
    slice over the token array) — chunking is map-side; the explode
    multiplies rows by ~n/stride, which is the intended fan-out of the
    operator, not a shuffle."""
    toks = token_arrays(spark, sf_dir)
    overlap = CHUNK_LEN - CHUNK_STRIDE
    chunks = toks.select(
        "doc_id",
        F.expr("size(l)").alias("n_tokens"),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(greatest(size(l) - {overlap}, 1)"
                f" / {CHUNK_STRIDE}.0) as int) - 1),"
                f" i -> slice(l, i * {CHUNK_STRIDE} + 1, {CHUNK_LEN}))"
            )
        ).alias("chunk_idx", "chunk"),
    )
    return chunks.select(
        "doc_id",
        "n_tokens",
        "chunk_idx",
        (F.col("chunk_idx") * CHUNK_STRIDE).alias("start_tok"),
        F.size("chunk").alias("chunk_tokens"),
        F.expr(
            "aggregate(chunk, cast(0 as bigint), (a, t) -> a + length(t))"
            " + greatest(size(chunk) - 1, 0)"
        ).alias("chunk_chars"),
    )


CHUNK_OVERLAP_ORACLE = rf"""
WITH toks AS ({TOKEN_ARRAYS_SQL}),
spans AS (
  SELECT doc_id, len(l) AS n_tokens,
         unnest(range(0, CAST(ceil(greatest(len(l) - {CHUNK_LEN - CHUNK_STRIDE}, 1)
                               / {CHUNK_STRIDE}.0) AS INT))) AS chunk_idx,
         l
  FROM toks
), chunks AS (
  SELECT doc_id, n_tokens, chunk_idx, chunk_idx * {CHUNK_STRIDE} AS start_tok,
         l[chunk_idx * {CHUNK_STRIDE} + 1 : chunk_idx * {CHUNK_STRIDE} + {CHUNK_LEN}]
           AS chunk
  FROM spans
)
SELECT doc_id, n_tokens, chunk_idx, start_tok,
       len(chunk) AS chunk_tokens,
       CAST(coalesce(list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(chunk, t -> CAST(length(t) AS BIGINT))),
              (a, b) -> a + b), 0)
            + greatest(len(chunk) - 1, 0) AS BIGINT) AS chunk_chars
FROM chunks
"""


def corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct 5-grams
    whose FIRST occurrence (lowest doc_id — stand-in for earliest
    ingest) is this doc. The dedup-adjacent curation signal that
    separates documents contributing new content from ones mostly
    re-shuffling text already in the corpus (near-dup families,
    quotation-heavy pages), used to weight or drop late arrivals.

    Scale shape: grams are md5-hashed before the wide stages, so the
    first-seen aggregate (min doc_id per gram, map-side partials) and
    the join back both shuffle 32-hex digests, never text — the same
    two-pass count/annotate plan as sentence-level dedup. Novelty is
    integer ppm (truncating division), engine-exact."""
    grams = (
        token_arrays(spark, sf_dir)
        .select(
            "doc_id",
            F.explode(F.array_distinct(F.expr(word_ngrams(DECON_N)))).alias("gram"),
        )
        .select("doc_id", F.md5("gram").alias("h"))
        .distinct()
    )
    first = grams.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(first, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long")).alias(
                "n_novel"
            ),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.expr("(n_novel * 1000000) div n_grams").alias("novelty_ppm"),
        )
    )


NGRAM_NOVELTY_ORACLE = rf"""
WITH toks AS ({TOKEN_ARRAYS_SQL}),
grams AS (
  SELECT DISTINCT doc_id, md5(gram) AS h FROM (
    SELECT doc_id, unnest(list_distinct({word_ngrams_duck(DECON_N)})) AS gram FROM toks
  )
), first AS (
  SELECT h, min(doc_id) AS first_doc FROM grams GROUP BY h
), per_doc AS (
  SELECT doc_id, count(*) AS n_grams,
         CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS n_novel
  FROM grams JOIN first USING (h) GROUP BY doc_id
)
SELECT doc_id, n_grams, n_novel,
       (n_novel * 1000000) // n_grams AS novelty_ppm
FROM per_doc
"""


def corpus_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level boilerplate detection (RefinedWeb/C4 intent: nav
    bars, license footers, and template text recur across most pages of
    a domain and should not count as content): an n-gram is boilerplate
    for a source when it appears in >= 30% of that source's documents;
    each document reports what fraction of its gram occurrences are
    boilerplate, plus a flag at >= 30% boilerplate mass.

    Scale shape: raw text leaves the scan only as the compressed
    (doc, gram, count) relation; doc-frequency is a keyed agg per
    (source, gram); the per-source doc totals are a tiny broadcast; the
    boilerplate gram set is per-source small (template text, not
    content) and joins back compressed — no window over a whole source,
    no driver collect."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    grams = token_arrays(spark, sf_dir).select(
        "doc_id",
        F.explode(F.expr(word_ngrams(BOILER_N))).alias("gram"),
    )
    occ = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    occ_src = occ.join(docs, "doc_id")
    src_sizes = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    boiler = (
        occ_src.groupBy("source", "gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .join(F.broadcast(src_sizes), "source")
        .filter(F.col("df") * BOILER_DEN >= F.col("n_docs") * BOILER_NUM)
        .select("source", "gram")
    )
    hits = (
        occ_src.join(boiler, ["source", "gram"])
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_boiler"))
    )
    totals = occ_src.groupBy("doc_id", "source").agg(
        F.sum("c").alias("n_grams")
    )
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "n_grams",
            F.coalesce("n_boiler", F.lit(0)).alias("n_boiler"),
            F.round(F.coalesce("n_boiler", F.lit(0)) / F.col("n_grams"), 6).alias(
                "boiler_frac"
            ),
            (
                F.coalesce("n_boiler", F.lit(0)) * BOILER_DEN
                >= F.col("n_grams") * BOILER_NUM
            )
            .cast("int")
            .alias("flag_boilerplate"),
        )
    )


BOILERPLATE_ORACLE = rf"""
WITH toks AS (
  {TOKEN_ARRAYS_SQL}
), grams AS (
  SELECT doc_id,
         unnest([array_to_string(l[i:i+{BOILER_N - 1}], ' ')
                 for i in range(1, greatest(len(l)-{BOILER_N - 1}, 1)+1)]) AS gram
  FROM toks
), occ AS (
  SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY 1, 2
), occ_src AS (
  SELECT o.doc_id, d.source, o.gram, o.c
  FROM occ o JOIN documents d ON o.doc_id = d.doc_id
), src_sizes AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY 1
), boiler AS (
  SELECT g.source, g.gram
  FROM (SELECT source, gram, count(*) AS df
        FROM occ_src GROUP BY 1, 2) g
  JOIN src_sizes s ON g.source = s.source
  WHERE g.df * {BOILER_DEN} >= s.n_docs * {BOILER_NUM}
), hits AS (
  SELECT o.doc_id, CAST(sum(o.c) AS BIGINT) AS n_boiler
  FROM occ_src o JOIN boiler b ON o.source = b.source AND o.gram = b.gram
  GROUP BY 1
), totals AS (
  SELECT doc_id, source, CAST(sum(c) AS BIGINT) AS n_grams
  FROM occ_src GROUP BY 1, 2
)
SELECT t.doc_id, t.source, t.n_grams,
       coalesce(h.n_boiler, 0) AS n_boiler,
       round(CAST(coalesce(h.n_boiler, 0) AS DOUBLE) / t.n_grams, 6)
         AS boiler_frac,
       CAST(coalesce(h.n_boiler, 0) * {BOILER_DEN}
            >= t.n_grams * {BOILER_NUM} AS INT) AS flag_boilerplate
FROM totals t LEFT JOIN hits h ON t.doc_id = h.doc_id
"""


def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (the multilingual/multi-domain
    sampling rule of mT5/XLM-R, tau = 0.5): a source's sampling share is
    proportional to n_tokens^tau, which up-weights small sources
    relative to proportional sampling while keeping large sources
    dominant. sqrt(bigint) is correctly-rounded IEEE in both engines, so
    freezing it to integer micro-units (floor(sqrt(n)*1e6)) makes every
    downstream ratio integer-exact and engine-identical — the same
    fixed-point discipline as emb_kmeans_fixed_point.

    Scale: one keyed agg to per-source token counts (map-side partials),
    a 1-row broadcast total, map-side share arithmetic."""
    d = load_table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(ws_split(F.col("text")))).alias("n_tokens"),
    )
    weighted = per_source.withColumn(
        "sqrt_fp",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1_000_000).cast("long"),
    )
    total = weighted.agg(F.sum("sqrt_fp").alias("total_fp"))
    return (
        weighted.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "sqrt_fp",
            F.floor(F.col("sqrt_fp") * 1_000_000 / F.col("total_fp"))
            .cast("long")
            .alias("share_ppm"),
            F.floor(
                F.lit(MIX_BUDGET_TOKENS)
                * (F.col("sqrt_fp") * 1_000_000 / F.col("total_fp"))
                / 1_000_000
            )
            .cast("long")
            .alias("planned_tokens"),
        )
    )


TEMPERATURE_MIX_ORACLE = rf"""
WITH per_source AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len({ws_split_sql('text')})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
), weighted AS (
  SELECT source, n_docs, n_tokens,
         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
           AS sqrt_fp
  FROM per_source
), tot AS (SELECT CAST(sum(sqrt_fp) AS BIGINT) AS total_fp FROM weighted)
SELECT source, n_docs, n_tokens, sqrt_fp,
       CAST(floor(sqrt_fp * 1000000.0 / total_fp) AS BIGINT) AS share_ppm,
       CAST(floor({MIX_BUDGET_TOKENS} * (sqrt_fp * 1000000.0 / total_fp)
                  / 1000000.0) AS BIGINT) AS planned_tokens
FROM weighted CROSS JOIN tot
"""


# --- CCNet-style n-gram LM quality scoring -------------------------------
# Wenzek et al., "CCNet: Extracting High Quality Monolingual Datasets
# from Web Crawl Data" (arXiv:1911.00359) scores web documents by the
# perplexity of a small LM trained on a trusted split and keeps the
# low-perplexity head. This is the same loop with the LM as a pruned
# token-bigram model trained on the held-IN split of the corpus itself,
# and perplexity replaced by BIT-QUANTIZED surprisal: for each bigram
# (w1, w2), surprisal = bits(c(w1)+V) − bits(c(w1,w2)+1) where
# bits(x) = ⌊log2 x⌋+1 (= length(bin(x)) — integer-exact in both
# engines, no floating log anywhere). That is −log2 of the add-one-
# smoothed conditional P(w2|w1) = (c(w1,w2)+1)/(c(w1)+V), rounded to
# whole bits — the deterministic-exactness trade the BM25 idf surrogate
# documents: a monotone, uniformly-quantized transform of the true
# surprisal, identical across engines by construction.
LM_HOLD_MOD = 5  # doc_id % 5 == 0 is the held-out split; rest trains
LM_TOP_BIGRAMS = 512  # pruned bigram-model size (top-K by count)
LM_TOP_CONTEXTS = 24  # pruned context-model size (top-K by count)

# Tokens: lowercase alpha runs (the text_bm25_topk tokenizer, no length
# floor). The CASE guards Spark's sequence(1, 0) = [1, 0] descending
# surprise on docs with < 2 tokens.
_LM_BIGRAMS_SPARK = (
    "CASE WHEN size(l) >= 2 THEN transform(sequence(1, size(l) - 1),"
    " i -> concat_ws(' ', element_at(l, i), element_at(l, i + 1)))"
    " ELSE array() END"
)


def _lm_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bg) — every consecutive-token bigram occurrence, as a
    single-space-joined string (tokens are alpha runs, so split_part /
    substring_index recover the context unambiguously)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        term_split("text", nonempty=True).alias("l"),
    )
    return d.select("doc_id", F.explode(F.expr(_LM_BIGRAMS_SPARK)).alias("bg"))


_LM_BG_DUCK = rf"""
  SELECT doc_id, unnest([l[i] || ' ' || l[i+1] for i in range(1, len(l))]) AS bg
  FROM (SELECT doc_id,
               {term_split_sql('text', nonempty=True)} AS l
        FROM documents)
"""


def corpus_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the pruned bigram LM on the held-in split: the
    LM_TOP_BIGRAMS most frequent bigrams (ties broken lexicographically
    — a total order, so the cut is engine-identical), each with its
    full context count. This is the model relation corpus_lm_quality
    broadcasts; emitting it as its own query makes the LM inspectable
    and oracle-checked independently of the scoring pass.

    Scale: bigram and context counts are linear keyed aggregates with
    map-side partials; the top-K cut is sort+limit, which Spark
    executes as TakeOrderedAndProject — per-partition top-K heaps
    merged on the driver (the tournament shape), never a full sort of
    the count relation.

    Round-14 (guide §2.3 — aggregate before you shuffle, once): the
    context count is a ROLLUP of the bigram count (c_ctx(w1) =
    Σ c_big over bigrams starting with w1 — every train occurrence is
    counted by exactly one bigram), so both model relations derive
    from ONE tokenize + (bg)-keyed aggregate instead of two full
    bigram passes. The shared count relation stays LAZY — its two
    consumers share the same (bg)-keyed exchange, which ReuseExchange
    dedupes inside the executed plan (an eager checkpoint of the
    distinct-bigram string relation measured slower — the r9
    wide-relation lesson, see corpus_lm_quality)."""
    bg = _lm_bigrams(spark, sf_dir).filter(F.col("doc_id") % LM_HOLD_MOD != 0)
    bgc = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c_big"))
    big = bgc.orderBy(F.desc("c_big"), F.asc("bg")).limit(LM_TOP_BIGRAMS)
    ctx = bgc.groupBy(F.substring_index("bg", " ", 1).alias("w1")).agg(
        F.sum("c_big").alias("c_ctx")
    )
    return big.withColumn("w1", F.substring_index("bg", " ", 1)).join(
        ctx, "w1"
    ).select("bg", "c_big", "c_ctx")


LM_TRAIN_ORACLE = f"""
WITH bg0 AS ({_LM_BG_DUCK}),
train_bg AS (SELECT * FROM bg0 WHERE doc_id % {LM_HOLD_MOD} <> 0),
big AS (
  SELECT bg, count(*) AS c_big FROM train_bg GROUP BY bg
  ORDER BY c_big DESC, bg ASC LIMIT {LM_TOP_BIGRAMS}
),
ctx AS (
  SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c_ctx
  FROM train_bg GROUP BY 1
)
SELECT big.bg, big.c_big, ctx.c_ctx
FROM big JOIN ctx ON split_part(big.bg, ' ', 1) = ctx.w1
"""


def corpus_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document's bit-quantized pseudo-perplexity under the
    pruned bigram LM — the corpus-quality filter between the heuristic
    signals (corpus_repetition_signals, corpus_token_rarity) and the
    supervised classifier (cls_linear_*). Per bigram occurrence:
    surprisal = max(bits(c_ctx + V) − bits(c_big + 1), 0) with pruned
    lookups coalesced to 0 (an out-of-model bigram or context scores as
    an unseen event; the max(·, 0) clamp makes the rare
    modeled-bigram/pruned-context combination harmless and is mirrored
    in the oracle). Emits per-doc bigram count, total surprisal bits,
    the fixed-point mean bits-per-bigram, and the split flag — the
    held-out rows (is_held = 1) are the honest quality read; train
    rows show memorization. Docs with < 2 tokens have no bigrams and
    are absent by construction.

    Scale: both model relations are LIMIT-bounded constants and the
    vocab size is a 1-row aggregate, so all three broadcasts are
    correct at any corpus size (the fixed-size-relation rule); the
    corpus side streams map-side through the lookups, and the only
    corpus-scaled shuffle is the final doc-keyed aggregate — the same
    train-small/apply-broadcast topology as cls_linear_score."""
    bg_all = _lm_bigrams(spark, sf_dir)
    train = bg_all.filter(F.col("doc_id") % LM_HOLD_MOD != 0)
    # ONE train-side tokenize + bigram aggregate feeds both model
    # relations: c_ctx is the w1-rollup of c_big (every train
    # occurrence is counted by exactly one bigram), so the second full
    # bigram pass the shipped plan ran for the context counts is
    # redundant (round-14, guide §2.3; corpus_lm_train has the same
    # derivation). Deliberately LAZY: both consumers share the same
    # (bg)-keyed exchange, which Spark's ReuseExchange dedupes inside
    # the one executed plan; an eager checkpoint of the
    # distinct-bigram string relation was TRIED and REVERTED (measured
    # loss — the r9 wide-relation lesson).
    bgc = train.groupBy("bg").agg(F.count(F.lit(1)).alias("c_big"))
    big = bgc.orderBy(F.desc("c_big"), F.asc("bg")).limit(LM_TOP_BIGRAMS)
    ctx = (
        bgc.groupBy(F.substring_index("bg", " ", 1).alias("w1"))
        .agg(F.sum("c_big").alias("c_ctx"))
        .orderBy(F.desc("c_ctx"), F.asc("w1"))
        .limit(LM_TOP_CONTEXTS)
    )
    vocab = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % LM_HOLD_MOD != 0)
        .select(F.explode(term_split("text", nonempty=True)).alias("tok"))
        .agg(F.countDistinct("tok").alias("v"))
    )
    surp = F.greatest(
        F.length(F.bin(F.coalesce(F.col("c_ctx"), F.lit(0)) + F.col("v")))
        - F.length(F.bin(F.coalesce(F.col("c_big"), F.lit(0)) + F.lit(1))),
        F.lit(0),
    ).cast("long")
    return (
        bg_all.withColumn("w1", F.substring_index("bg", " ", 1))
        .join(F.broadcast(big), "bg", "left")
        .join(F.broadcast(ctx), "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", surp.alias("surp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("surp").alias("surp_bits"),
        )
        .select(
            "doc_id",
            (F.col("doc_id") % LM_HOLD_MOD == 0).cast("int").alias("is_held"),
            "n_bigrams",
            "surp_bits",
            F.expr("(surp_bits * 1000000) div n_bigrams").alias(
                "mean_bits_ppm"
            ),
        )
    )


LM_QUALITY_ORACLE = f"""
WITH bg0 AS ({_LM_BG_DUCK}),
train_bg AS (SELECT * FROM bg0 WHERE doc_id % {LM_HOLD_MOD} <> 0),
big AS (
  SELECT bg, count(*) AS c_big FROM train_bg GROUP BY bg
  ORDER BY c_big DESC, bg ASC LIMIT {LM_TOP_BIGRAMS}
),
ctx AS (
  SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c_ctx
  FROM train_bg GROUP BY 1
  ORDER BY c_ctx DESC, w1 ASC LIMIT {LM_TOP_CONTEXTS}
),
vocab AS (
  SELECT count(DISTINCT tok) AS v FROM (
    SELECT unnest({term_split_sql('text', nonempty=True)}) AS tok
    FROM documents WHERE doc_id % {LM_HOLD_MOD} <> 0)
),
scored AS (
  SELECT b0.doc_id,
         greatest(length(bin(coalesce(ctx.c_ctx, 0) + vocab.v))
                  - length(bin(coalesce(big.c_big, 0) + 1)), 0) AS surp
  FROM bg0 b0
  LEFT JOIN big ON b0.bg = big.bg
  LEFT JOIN ctx ON split_part(b0.bg, ' ', 1) = ctx.w1
  CROSS JOIN vocab
)
SELECT doc_id,
       CAST(doc_id % {LM_HOLD_MOD} = 0 AS INT) AS is_held,
       count(*) AS n_bigrams,
       CAST(sum(surp) AS BIGINT) AS surp_bits,
       (CAST(sum(surp) AS BIGINT) * 1000000) // count(*) AS mean_bits_ppm
FROM scored GROUP BY doc_id
"""


def corpus_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching planner: group documents into
    power-of-two token-length bands (bucket = bit-length of the token
    count — the standard padded-batching stratification) and quantify,
    per band, the padding waste of batching within the band (pad to the
    band max) versus batching globally (pad to the corpus max). This is
    the table that justifies length bucketing before tokenized training
    or batched inference: the ppm columns ARE the fraction of padded
    positions that would be wasted compute.

    Scale: one map-side projection + one keyed aggregate into ≤ ~40
    bands (bit-length of any realistic document is < 40), then a 1-row
    broadcast of the global max — nothing data-scaled ever shuffles
    wider than the band rollup. Waste ratios are computed in
    DECIMAL(38,0) / HUGEINT: n_docs·max_tok·10⁶ overflows int64 once a
    band holds ~10⁹ docs of ~10⁴ tokens, well inside 100 TB reality."""
    d = load_table(spark, sf_dir, "documents").select(
        F.size(ws_split(F.col("text"))).cast("long").alias("n_tok")
    )
    per = d.groupBy(F.length(F.bin(F.col("n_tok"))).cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("sum_tokens"),
        F.max("n_tok").alias("max_tok"),
    )
    glob = per.agg(F.max("max_tok").alias("global_max"))
    return per.crossJoin(F.broadcast(glob)).select(
        "bucket",
        "n_docs",
        "sum_tokens",
        "max_tok",
        F.expr(
            "cast(((cast(n_docs as decimal(38,0)) * max_tok - sum_tokens)"
            " * 1000000) div (cast(n_docs as decimal(38,0)) * max_tok)"
            " as bigint)"
        ).alias("pad_waste_ppm"),
        F.expr(
            "cast(((cast(n_docs as decimal(38,0)) * global_max - sum_tokens)"
            " * 1000000) div (cast(n_docs as decimal(38,0)) * global_max)"
            " as bigint)"
        ).alias("global_pad_waste_ppm"),
    )


LENGTH_BUCKETS_ORACLE = rf"""
WITH d AS (
  SELECT len({ws_split_sql('text')}) AS n_tok FROM documents
), per AS (
  SELECT length(bin(n_tok)) AS bucket, count(*) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
         max(n_tok) AS max_tok
  FROM d GROUP BY 1
), gm AS (SELECT max(max_tok) AS global_max FROM per)
SELECT bucket, n_docs, sum_tokens, max_tok,
       CAST(((CAST(n_docs AS HUGEINT) * max_tok - sum_tokens) * 1000000)
            // (CAST(n_docs AS HUGEINT) * max_tok) AS BIGINT)
         AS pad_waste_ppm,
       CAST(((CAST(n_docs AS HUGEINT) * global_max - sum_tokens) * 1000000)
            // (CAST(n_docs AS HUGEINT) * global_max) AS BIGINT)
         AS global_pad_waste_ppm
FROM per CROSS JOIN gm
"""


def corpus_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row dataset card a training-data pipeline publishes with
    every corpus snapshot (the datasheet/data-card practice — Gebru et
    al. 2021): corpus size (docs, chars, whitespace tokens), diversity
    (distinct sources/langs), hygiene (empty-doc count, exact-duplicate
    ppm over raw text — dedup_exact's grouping key), all in ONE
    aggregation pass over the corpus.

    Scale: a single wide aggregate with map-side partials; the distinct
    counts are over enumerable-cardinality columns (sources, langs) and
    content (text) — at 100 TB the text-distinct becomes the digest
    count of the dedup index instead of a raw-text distinct (same
    number, already materialized by the dedup pipeline; here raw text
    keeps the oracle exact). The char/token sums accumulate in
    DECIMAL(38,0) but are EMITTED as BIGINT on both engines — the
    r8/r9 driver value hash rejects DECIMAL output columns in any
    pairing; ANSI throws loudly past int64 (a >2⁶³-char lake keeps
    the DECIMAL columns). n_empty counts via when/otherwise so NULL
    text contributes 0 — matching the oracle's CASE ... ELSE 0 even
    on an all-NULL-text corpus, where a bare cast-sum would merge to
    NULL (ADVICE r9). The duplicate ratio guards the empty corpus
    with a CASE instead of dividing by zero (ANSI would throw)."""
    d = load_table(spark, sf_dir, "documents")
    card = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("text").alias("n_distinct_texts"),
        F.sum(F.col("n_chars").cast("decimal(38,0)"))
        .cast("long")
        .alias("total_chars"),
        F.sum(
            F.size(ws_split(F.trim(F.col("text")))).cast("decimal(38,0)")
        )
        .cast("long")
        .alias("total_ws_tokens"),
        F.sum(
            F.when(F.length(F.trim(F.col("text"))) == 0, 1).otherwise(0)
        ).alias("n_empty"),
    )
    return card.select(
        "*",
        F.expr(
            "CASE WHEN n_docs = 0 THEN 0"
            " ELSE ((n_docs - n_distinct_texts) * 1000000) div n_docs END"
        ).alias("exact_dup_ppm"),
    )


DATASET_CARD_ORACLE = rf"""
SELECT count(*) AS n_docs,
       count(DISTINCT source) AS n_sources,
       count(DISTINCT lang) AS n_langs,
       count(DISTINCT text) AS n_distinct_texts,
       CAST(CAST(sum(n_chars) AS HUGEINT) AS BIGINT) AS total_chars,
       CAST(CAST(sum(len({ws_split_sql('trim(text)')}))
                 AS HUGEINT) AS BIGINT) AS total_ws_tokens,
       CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_empty,
       CASE WHEN count(*) = 0 THEN 0
            ELSE ((count(*) - count(DISTINCT text)) * 1000000) // count(*)
       END AS exact_dup_ppm
FROM documents
"""


QUERY_DEFS = [
    QueryDef("corpus_dataset_card", corpus_dataset_card, DATASET_CARD_ORACLE),
    QueryDef("corpus_decontaminate", corpus_decontaminate, DECONTAMINATE_ORACLE),
    QueryDef("corpus_lm_train", corpus_lm_train, LM_TRAIN_ORACLE),
    QueryDef("corpus_lm_quality", corpus_lm_quality, LM_QUALITY_ORACLE),
    QueryDef("corpus_length_buckets", corpus_length_buckets, LENGTH_BUCKETS_ORACLE),
    QueryDef(
        "corpus_boilerplate_ngrams", corpus_boilerplate_ngrams, BOILERPLATE_ORACLE
    ),
    QueryDef("corpus_temperature_mix", corpus_temperature_mix, TEMPERATURE_MIX_ORACLE),
    QueryDef(
        "corpus_repetition_signals",
        corpus_repetition_signals,
        REPETITION_ORACLE,
    ),
    QueryDef("corpus_split_assign", corpus_split_assign, SPLIT_ASSIGN_ORACLE),
    QueryDef("corpus_split_leakage", corpus_split_leakage, SPLIT_LEAKAGE_ORACLE),
    QueryDef("corpus_mixing_weights", corpus_mixing_weights, MIXING_ORACLE),
    QueryDef("corpus_sequence_packing", corpus_sequence_packing, PACKING_ORACLE),
    QueryDef("corpus_oov_rate", corpus_oov_rate, OOV_ORACLE),
    QueryDef("corpus_bpe_pair_stats", corpus_bpe_pair_stats, BPE_ORACLE),
    QueryDef("corpus_bpe_apply", corpus_bpe_apply, BPE_APPLY_ORACLE),
    QueryDef("corpus_token_rarity", corpus_token_rarity, RARITY_ORACLE),
    QueryDef("corpus_domain_caps", corpus_domain_caps, DOMAIN_CAPS_ORACLE),
    QueryDef("corpus_ngram_novelty", corpus_ngram_novelty, NGRAM_NOVELTY_ORACLE),
    QueryDef("corpus_chunk_overlap", corpus_chunk_overlap, CHUNK_OVERLAP_ORACLE),
    QueryDef("corpus_source_overlap", corpus_source_overlap, SOURCE_OVERLAP_ORACLE),
]
