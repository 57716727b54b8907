"""Text-analysis operators over the documents table (north-star extension,
BASELINE.json: language-ID, quality scoring, token counting, document
fingerprinting).

All are single-scan, shuffle-light (aggregations keyed on low-cardinality
columns), JVM-side expressions only — no Python UDFs in any hot path.
Cross-engine exactness: integer counts + decimal-exact ratios.

This module imports no other operator module, so it also holds the
front end every document operator shares: ``token_arrays`` (the one
whitespace tokenization of ``documents``, with ``TOKEN_ARRAYS_SQL`` its
DuckDB twin) and ``word_ngrams`` (the one sliding word-n-gram expression
over it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ai_data_pipeline_spark.catalog import load_table
from ai_data_pipeline_spark.functions.expressions import (
    spread,
    term_split,
    term_split_sql,
    text_fingerprint,
    text_fingerprint_sql,
    ws_split,
    ws_split_sql,
)
from ai_data_pipeline_spark.registry import QueryDef
from ai_data_pipeline_spark.session import session_scoped_cache

# Stopword sets for the n-gram/stopword language-ID heuristic. Tiny and
# deterministic on purpose: the score is count of stopword occurrences.
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein"],
    "fr": ["le", "la", "les", "et", "des", "est", "une"],
    "es": ["el", "la", "los", "de", "que", "es", "una"],
}

TOKEN_RX = r"[A-Za-z0-9]+(?:'[A-Za-z]+)?"  # BPE-ish word tokenizer
TOKEN_RX_SQL = TOKEN_RX.replace("'", "''")  # SQL-literal-escaped


def token_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, l)`` with ``l = ws_split(text)``: the whitespace
    tokens of ``documents``, spread and localCheckpointed once per
    (session, sf_dir) and read by every word-n-gram, chunking and
    vocabulary operator — the shared intermediate a curation pipeline
    persists between stages (weak-keyed per live session, see
    session.session_scoped_cache).

    Lambdas over the tokens must read this bound ``l``, never a split
    of ``text``: projection collapse inlines a split from an adjacent
    projection into the transform lambda body, which then re-evaluates
    the full split per element — O(tokens²) per document (measured 3x
    the whole operator's runtime). tests/test_plans.py pins the rule on
    every n-gram consumer."""
    cache = session_scoped_cache(spark, "corpus_tokens")
    if sf_dir not in cache:
        cache[sf_dir] = spread(
            load_table(spark, sf_dir, "documents").select(
                "doc_id", ws_split(F.col("text")).alias("l")
            )
        ).localCheckpoint()
    return cache[sf_dir]


# DuckDB twin of ``token_arrays`` (without the spread and checkpoint).
TOKEN_ARRAYS_SQL = f"SELECT doc_id, {ws_split_sql('text')} AS l FROM documents"


def word_ngrams(n: int) -> str:
    """Spark SQL: the sliding word n-grams of a token array column ``l``
    (a doc shorter than n tokens yields one shorter gram). Bind ``l``
    first — see ``token_arrays``."""
    return (
        f"transform(sequence(1, greatest(size(l) - {n - 1}, 1)),"
        f" i -> concat_ws(' ', slice(l, i, {n})))"
    )


def word_ngrams_duck(n: int) -> str:
    """DuckDB counterpart of ``word_ngrams``."""
    return (
        f"[array_to_string(l[i:i+{n - 1}], ' ') "
        f"for i in range(1, greatest(len(l)-{n - 1}, 1)+1)]"
    )


def _stopword_count_expr(col: str, words: list[str]):
    # regexp_count, not size(regexp_extract_all): counting must not
    # materialize every match into an array (GC-heavy on long docs —
    # the r9 bench-spike suspect); group 1 participates in every match
    # of this alternation, so the counts are identical.
    rx = r"\b(" + "|".join(words) + r")\b"
    return F.regexp_count(F.lower(F.col(col)), F.lit(rx))


def _stopword_count_sql(col: str, words: list[str]) -> str:
    rx = r"\b(" + "|".join(words) + r")\b"
    return f"len(regexp_extract_all(lower({col}), '{rx}', 1))"


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality metrics: lengths, token counts, ratios, and a
    deterministic quality score — aggregated per (lang, source)."""
    d = spread(load_table(spark, sf_dir, "documents"))
    n_tokens = F.regexp_count(F.col("text"), F.lit(TOKEN_RX))
    n_ws = F.size(ws_split(F.col("text")))
    n_punct = F.length(F.regexp_replace("text", r"[^.,;:!?]", ""))
    stop_en = _stopword_count_expr("text", LANG_STOPWORDS["en"])
    per_doc = d.select(
        "doc_id",
        "lang",
        "source",
        F.length("text").alias("n_chars_m"),
        n_tokens.alias("n_tokens"),
        n_ws.alias("n_ws_tokens"),
        n_punct.alias("n_punct"),
        stop_en.alias("n_stop_en"),
    )
    return per_doc.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars_m").alias("sum_chars"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.sum("n_ws_tokens").alias("sum_ws_tokens"),
        F.sum("n_punct").alias("sum_punct"),
        F.sum("n_stop_en").alias("sum_stop_en"),
        F.round(
            F.sum("n_tokens").cast("double") / F.sum("n_chars_m"), 6
        ).alias("tokens_per_char"),
    )


def _text_stats_oracle() -> str:
    stop = _stopword_count_sql("text", LANG_STOPWORDS["en"])
    return rf"""
WITH per_doc AS (
  SELECT doc_id, lang, source,
    length(text) AS n_chars_m,
    len(regexp_extract_all(text, '{TOKEN_RX_SQL}', 0)) AS n_tokens,
    len({ws_split_sql('text')}) AS n_ws_tokens,
    length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
    {stop} AS n_stop_en
  FROM documents
)
SELECT lang, source, count(*) AS n_docs,
  CAST(SUM(n_chars_m) AS BIGINT) AS sum_chars,
  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
  CAST(SUM(n_ws_tokens) AS BIGINT) AS sum_ws_tokens,
  CAST(SUM(n_punct) AS BIGINT) AS sum_punct,
  CAST(SUM(n_stop_en) AS BIGINT) AS sum_stop_en,
  round(CAST(SUM(n_tokens) AS DOUBLE) / SUM(n_chars_m), 6) AS tokens_per_char
FROM per_doc GROUP BY lang, source
"""


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality scoring: flags docs as low-quality on
    length / punctuation-ratio / token-length heuristics (integer-exact
    thresholds). Returns the flagged docs."""
    d = load_table(spark, sf_dir, "documents")
    n_chars = F.length("text")
    n_tokens = F.regexp_count(F.col("text"), F.lit(TOKEN_RX))
    n_punct = F.length(F.regexp_replace("text", r"[^.,;:!?]", ""))
    too_short = n_chars < 100
    # punct ratio > 10%  <=>  10*punct > chars
    punct_heavy = (10 * n_punct) > n_chars
    # avg token length < 3  <=>  chars < 3*tokens (whitespace approx)
    short_tokens = n_chars < 3 * n_tokens
    return (
        d.select(
            "doc_id",
            n_chars.alias("n_chars_m"),
            n_tokens.alias("n_tokens"),
            too_short.alias("too_short"),
            punct_heavy.alias("punct_heavy"),
            short_tokens.alias("short_tokens"),
        )
        .filter(F.col("too_short") | F.col("punct_heavy") | F.col("short_tokens"))
    )


QUALITY_ORACLE = rf"""
WITH per_doc AS (
  SELECT doc_id, length(text) AS n_chars_m,
    len(regexp_extract_all(text, '{TOKEN_RX_SQL}', 0)) AS n_tokens,
    length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct
  FROM documents
)
SELECT doc_id, n_chars_m, n_tokens,
  n_chars_m < 100 AS too_short,
  10*n_punct > n_chars_m AS punct_heavy,
  n_chars_m < 3*n_tokens AS short_tokens
FROM per_doc
WHERE n_chars_m < 100 OR 10*n_punct > n_chars_m OR n_chars_m < 3*n_tokens
"""


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID: score each language by stopword hits,
    argmax with deterministic tie-break (score desc, lang asc), compared
    against the labeled lang column as a confusion matrix."""
    d = spread(load_table(spark, sf_dir, "documents"))
    scored = d.select(
        "doc_id",
        "lang",
        *[
            _stopword_count_expr("text", ws).alias(f"s_{lg}")
            for lg, ws in LANG_STOPWORDS.items()
        ],
    )
    langs = list(LANG_STOPWORDS)
    # argmax via greatest + case cascade in lang order (ties -> first lang)
    best = F.greatest(*[F.col(f"s_{lg}") for lg in langs])
    pred = F.lit("unknown")
    for lg in reversed(langs):
        pred = F.when((F.col(f"s_{lg}") == best) & (best > 0), lg).otherwise(pred)
    return (
        scored.withColumn("predicted_lang", pred)
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _lang_id_oracle() -> str:
    score_cols = ", ".join(
        f"{_stopword_count_sql('text', ws)} AS s_{lg}"
        for lg, ws in LANG_STOPWORDS.items()
    )
    langs = list(LANG_STOPWORDS)
    greatest = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    pred = "'unknown'"
    for lg in reversed(langs):
        pred = f"CASE WHEN s_{lg} = best AND best > 0 THEN '{lg}' ELSE {pred} END"
    return f"""
WITH scored AS (
  SELECT doc_id, lang, {score_cols} FROM documents
), best_s AS (
  SELECT *, {greatest} AS best FROM scored
)
SELECT lang, {pred} AS predicted_lang, count(*) AS n_docs
FROM best_s GROUP BY 1, 2
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content fingerprinting: md5 of (lowercased,
    whitespace-collapsed) text — groups exact near-identical docs.
    Returns fingerprint groups with >= 1 member and the min doc_id kept."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", text_fingerprint(F.col("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_dups"))
    )


FINGERPRINT_ORACLE = f"""
SELECT {text_fingerprint_sql("text")} AS fingerprint,
       min(doc_id) AS keep_doc_id, count(*) AS n_dups
FROM documents GROUP BY 1
"""


WINNOW_K = 3  # tokens per k-gram
WINNOW_W = 4  # k-grams per winnowing window


def winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): hash every word k-gram (rolling k-gram + hash), slide a
    window of WINNOW_W consecutive hashes, keep each window's minimum —
    the selected set is a position-robust fingerprint.

    One scan + one window function + one distinct aggregation, all keyed
    per doc — shuffle is bounded by (doc_id) partitioning. Output:
    per-doc fingerprint-set size and the set's global minimum (compact
    and deterministically comparable)."""
    from pyspark.sql import Window as W

    grams = token_arrays(spark, sf_dir).select(
        "doc_id", F.posexplode(F.expr(word_ngrams(WINNOW_K))).alias("pos", "gram")
    ).select("doc_id", "pos", F.md5("gram").alias("h"))
    win = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(W.currentRow, WINNOW_W - 1)
    )
    # windows that extend past the last gram are dropped (full windows only)
    fps = (
        grams.withColumn("wmin", F.min("h").over(win))
        .withColumn("max_pos", F.max("pos").over(W.partitionBy("doc_id")))
        .filter(F.col("pos") <= F.col("max_pos") - (WINNOW_W - 1))
        .select("doc_id", "wmin")
        .distinct()
    )
    return fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.min("wmin").alias("min_fingerprint"),
    )


WINNOW_ORACLE = rf"""
WITH toks AS (
  {TOKEN_ARRAYS_SQL}
), grams AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(l[i:i+{WINNOW_K - 1}], ' ')) AS h
  FROM toks, unnest(range(1, greatest(len(l) - {WINNOW_K - 1}, 1) + 1)) AS t(i)
), winmins AS (
  SELECT doc_id, pos,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS wmin,
         max(pos) OVER (PARTITION BY doc_id) AS max_pos
  FROM grams
), fps AS (
  SELECT DISTINCT doc_id, wmin FROM winmins
  WHERE pos <= max_pos - {WINNOW_W - 1}
)
SELECT doc_id, count(*) AS n_fingerprints, min(wmin) AS min_fingerprint
FROM fps GROUP BY doc_id
"""


MIN_TERM_LEN = 4
TFIDF_TOP_K = 3


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K characteristic terms per document by tf·idf rank.

    The score is pure integer arithmetic — (tf · 10^6) div df — so the
    ranking is exact and engine-independent (tf/df ordering is identical
    to tf/ln(N/df) ordering for fixed N; no floating logs to mismatch).
    Scale: tokenize+explode is map-side; tf is one shuffle on
    (doc, term); the df join carries NO broadcast hint — vocabulary
    grows with the corpus (Heaps' law: billions of distinct terms at
    100 TB, typos/URLs included), so AQE must be free to choose
    broadcast at small scale and a term-keyed shuffle join (df_ is
    already partitioned by term from its groupBy) at cluster scale;
    the final top-K is a window on doc_id."""
    d = load_table(spark, sf_dir, "documents")
    terms = d.select(
        "doc_id",
        F.explode(term_split("text")).alias("term"),
    ).filter(F.length("term") >= MIN_TERM_LEN)
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(df_, "term").withColumn(
        "score", F.expr("(tf * 1000000) div df")
    )
    w = W.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "score", F.col("rnk").alias("term_rank"))
    )


TFIDF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({term_split_sql('text')}) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE length(term) >= {MIN_TERM_LEN} GROUP BY 1, 2
), df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df, (tf.tf * 1000000) // df.df AS score,
    row_number() OVER (PARTITION BY tf.doc_id
                       ORDER BY (tf.tf * 1000000) // df.df DESC, tf.term) AS term_rank
  FROM tf JOIN df USING (term)
)
SELECT doc_id, term, tf, df, score, term_rank
FROM scored WHERE term_rank <= {TFIDF_TOP_K}
"""


VOCAB_TOP_K = 25


def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level vocabulary: global term frequencies + doc frequencies,
    top-K by total count (ties broken by term). One row per top term plus
    the summary is derivable downstream; scale: tokenize is map-side,
    tf is one shuffle on term (map-side combine shrinks it to vocab
    size), top-K sorts the tiny vocab aggregate only."""
    d = load_table(spark, sf_dir, "documents")
    terms = d.select(
        "doc_id",
        F.explode(term_split("text")).alias("term"),
    ).filter(F.col("term") != "")
    vocab = terms.groupBy("term").agg(
        F.count(F.lit(1)).alias("total_tf"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )
    return (
        vocab.orderBy(F.desc("total_tf"), F.asc("term"))
        .limit(VOCAB_TOP_K)
        .withColumn(
            "rank",
            F.row_number().over(W.orderBy(F.desc("total_tf"), F.asc("term"))),
        )
    )


VOCAB_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({term_split_sql('text')}) AS term
  FROM documents
), vocab AS (
  SELECT term, count(*) AS total_tf, count(DISTINCT doc_id) AS doc_freq
  FROM toks WHERE term <> '' GROUP BY term
)
SELECT term, total_tf, doc_freq,
       row_number() OVER (ORDER BY total_tf DESC, term) AS rank
FROM vocab
ORDER BY total_tf DESC, term
LIMIT {VOCAB_TOP_K}
"""


MOJI_NONASCII_NUM, MOJI_NONASCII_DEN = 1, 4  # flag if > 25% non-ASCII


def encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-anomaly audit (the mojibake / binary-contamination gate
    a crawl corpus needs before tokenization): per (lang, source) slice,
    counts of U+FFFD replacement characters (lossy decode markers),
    C0 control characters (binary leakage), and non-ASCII codepoints,
    plus how many docs trip each signal and an exact-rational
    high-non-ASCII flag count.

    All three counters use the same length-minus-stripped formula in
    both engines (codepoint semantics are identical), so the aggregate
    is hash-exact. Scale: one narrow regex pass over the scan, then a
    tiny (lang, source)-keyed aggregate with map-side partials — scan
    speed at any corpus size."""
    d = spread(load_table(spark, sf_dir, "documents"))
    n_chars = F.length("text")
    n_repl = n_chars - F.length(F.regexp_replace("text", "�", ""))
    n_ctrl = n_chars - F.length(
        F.regexp_replace("text", r"[\x00-\x08\x0b\x0c\x0e-\x1f]", "")
    )
    n_nonascii = n_chars - F.length(F.regexp_replace("text", r"[^\x00-\x7f]", ""))
    per_doc = d.select(
        "lang",
        "source",
        n_chars.alias("n_chars"),
        n_repl.alias("n_repl"),
        n_ctrl.alias("n_ctrl"),
        n_nonascii.alias("n_nonascii"),
    )
    return per_doc.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_repl").alias("sum_repl_chars"),
        F.sum("n_ctrl").alias("sum_ctrl_chars"),
        F.sum("n_nonascii").alias("sum_nonascii_chars"),
        F.sum((F.col("n_repl") > 0).cast("long")).alias("n_docs_repl"),
        F.sum((F.col("n_ctrl") > 0).cast("long")).alias("n_docs_ctrl"),
        F.sum(
            (
                F.col("n_nonascii") * MOJI_NONASCII_DEN
                > F.col("n_chars") * MOJI_NONASCII_NUM
            ).cast("long")
        ).alias("n_docs_high_nonascii"),
    )


ENCODING_AUDIT_ORACLE = rf"""
WITH per_doc AS (
  SELECT lang, source, length(text) AS n_chars,
    length(text) - length(regexp_replace(text, '�', '', 'g')) AS n_repl,
    length(text) - length(regexp_replace(text, '[\x00-\x08\x0b\x0c\x0e-\x1f]', '', 'g')) AS n_ctrl,
    length(text) - length(regexp_replace(text, '[^\x00-\x7f]', '', 'g')) AS n_nonascii
  FROM documents
)
SELECT lang, source, count(*) AS n_docs,
  CAST(sum(n_repl) AS BIGINT) AS sum_repl_chars,
  CAST(sum(n_ctrl) AS BIGINT) AS sum_ctrl_chars,
  CAST(sum(n_nonascii) AS BIGINT) AS sum_nonascii_chars,
  CAST(sum(CASE WHEN n_repl > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_repl,
  CAST(sum(CASE WHEN n_ctrl > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_ctrl,
  CAST(sum(CASE WHEN n_nonascii * {MOJI_NONASCII_DEN} > n_chars * {MOJI_NONASCII_NUM}
           THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_high_nonascii
FROM per_doc GROUP BY lang, source
"""


def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point Flesch reading-ease per document — the readability
    gate corpus curation uses to route text to the right training mix
    (children's-book-simple vs academic). Words are alphabetic runs,
    sentences are terminator-punctuation runs (min 1), syllables are
    approximated by vowel groups (the standard heuristic). The score is
    Flesch's 206.835 − 1.015·(words/sentence) − 84.6·(syllables/word)
    computed in integer micro-units with truncating division, so both
    engines agree exactly; a 3-band difficulty label rides on top.

    Scale: one narrow regex pass over the scan — no shuffle at all
    until a consumer aggregates."""
    d = spread(load_table(spark, sf_dir, "documents"))
    s = F.lower(F.col("text"))
    # regexp_count, not size(regexp_extract_all): identical counts
    # without materializing every match into an array (~25% faster,
    # measured, and allocation-flat — the r9 bench-spike suspect)
    n_words = F.regexp_count(s, F.lit("[a-z]+")).cast("long")
    n_sents = F.greatest(
        F.regexp_count(F.col("text"), F.lit("[.!?]+")), F.lit(1)
    ).cast("long")
    n_syll = F.regexp_count(s, F.lit("[aeiou]+")).cast("long")
    per_doc = d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sents.alias("n_sents"),
        n_syll.alias("n_syll"),
    ).filter(F.col("n_words") > 0)
    wps = F.expr("(n_words * 1000) div n_sents")
    spw = F.expr("(n_syll * 1000) div n_words")
    return per_doc.select(
        "doc_id",
        "n_words",
        "n_sents",
        "n_syll",
        wps.alias("wps_milli"),
        spw.alias("spw_milli"),
        (F.lit(206_835_000) - 1015 * wps - 84_600 * spw).alias("flesch_fp"),
        F.when(
            F.lit(206_835_000) - 1015 * wps - 84_600 * spw >= 60_000_000, "easy"
        )
        .when(F.lit(206_835_000) - 1015 * wps - 84_600 * spw >= 30_000_000, "medium")
        .otherwise("hard")
        .alias("band"),
    )


TEXT_READABILITY_ORACLE = """
WITH per_doc AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS n_words,
         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sents,
         CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT) AS n_syll
  FROM documents
), scored AS (
  SELECT doc_id, n_words, n_sents, n_syll,
         (n_words * 1000) // n_sents AS wps_milli,
         (n_syll * 1000) // n_words AS spw_milli
  FROM per_doc WHERE n_words > 0
)
SELECT doc_id, n_words, n_sents, n_syll, wps_milli, spw_milli,
       206835000 - 1015 * wps_milli - 84600 * spw_milli AS flesch_fp,
       CASE WHEN 206835000 - 1015 * wps_milli - 84600 * spw_milli >= 60000000
              THEN 'easy'
            WHEN 206835000 - 1015 * wps_milli - 84600 * spw_milli >= 30000000
              THEN 'medium'
            ELSE 'hard' END AS band
FROM scored
"""


COVERAGE_KS = [100, 500, 2000]  # vocab sizes to evaluate


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve — the tokenizer-sizing decision: what
    share of the corpus's total token mass do the top-k terms cover,
    for k in COVERAGE_KS? The curve's knee tells you how large a
    word-level vocab (or how aggressive a BPE merge budget) must be
    before OOV mass is negligible. Shares are exact integer ppm.

    Scale: tf is one term-keyed shuffle with map-side combine (vocab-
    sized); the top-max(k) selection is a distributed TakeOrdered
    (orderBy+limit — no global sort), and the only ordered window runs
    over those max(k)=2000 rows. The grand total broadcasts."""
    d = load_table(spark, sf_dir, "documents")
    terms = d.select(
        F.explode(term_split("text")).alias("term")
    ).filter(F.col("term") != "")
    tf = terms.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    totals = tf.agg(
        F.sum("tf").alias("total_tokens"), F.count(F.lit(1)).alias("vocab_size")
    )
    top = tf.orderBy(F.desc("tf"), F.asc("term")).limit(max(COVERAGE_KS))
    ranked = top.withColumn(
        "rank", F.row_number().over(W.orderBy(F.desc("tf"), F.asc("term")))
    ).withColumn(
        "cum_tf",
        F.sum("tf").over(
            W.orderBy(F.desc("tf"), F.asc("term")).rowsBetween(
                W.unboundedPreceding, W.currentRow
            )
        ),
    )
    ks = spark.range(0, len(COVERAGE_KS)).select(
        F.element_at(
            F.array(*[F.lit(k) for k in COVERAGE_KS]), (F.col("id") + 1).cast("int")
        ).alias("k")
    )
    at_k = ks.join(
        F.broadcast(ranked.select("rank", "cum_tf")),
        ks["k"] >= ranked["rank"],
    ).groupBy("k").agg(
        F.max("rank").alias("n_terms"), F.max("cum_tf").alias("cum_tf")
    )
    return at_k.crossJoin(F.broadcast(totals)).select(
        "k",
        "n_terms",
        "cum_tf",
        "total_tokens",
        "vocab_size",
        F.expr("(cum_tf * 1000000) div total_tokens").alias("coverage_ppm"),
    )


def _vocab_coverage_oracle() -> str:
    ks = ", ".join(str(k) for k in COVERAGE_KS)
    return f"""
WITH toks AS (
  SELECT unnest({term_split_sql('text')}) AS term
  FROM documents
), tf AS (
  SELECT term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY term
), totals AS (
  SELECT CAST(sum(tf) AS BIGINT) AS total_tokens, count(*) AS vocab_size FROM tf
), ranked AS (
  SELECT tf, row_number() OVER (ORDER BY tf DESC, term) AS rank,
         CAST(sum(tf) OVER (ORDER BY tf DESC, term
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tf
  FROM tf
)
SELECT k, max(rank) AS n_terms, max(cum_tf) AS cum_tf,
       total_tokens, vocab_size,
       (max(cum_tf) * 1000000) // total_tokens AS coverage_ppm
FROM (SELECT unnest([{ks}]) AS k) ks
JOIN ranked ON ks.k >= ranked.rank
CROSS JOIN totals
GROUP BY k, total_tokens, vocab_size
"""


BM25_TOP_DOCS = 10
BM25_N_TERMS = 8
BM25_MIN_QTERM_LEN = 5


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval: for each of the BM25_N_TERMS highest-df
    query terms (length >= BM25_MIN_QTERM_LEN, df < N — universal terms
    have zero idf and rank nothing), the BM25_TOP_DOCS best documents — the inverted-
    index query shape behind corpus search and hard-negative mining.

    Exactness: BM25 with k1 = 6/5, b = 3/4 is a pure rational in
    (tf, dl, N, L): clearing denominators gives
    core = 22·tf·L / (10·L·tf + 3·L + 9·dl·N), and the idf uses the
    exact rational surrogate (2(N−df)+1)/(2df+1) ×1000 — the BM25+
    idf ARGUMENT without the cross-engine-risky ln (idf is constant
    per term, so per-term ranking is identical to log-idf BM25; the
    monotone-transform trick text_tfidf_top_terms already documents).
    Final score is one exact integer division — no floats anywhere.
    The cleared-denominator products are computed in DECIMAL(38,0)
    (Spark) / HUGEINT (DuckDB): in int64 the 22·tf·L·idf1000 numerator
    overflows past ~10¹³ total tokens (ADVICE r7); at 38-digit
    precision it is exact to ~10³¹ — beyond any physical corpus. All
    operands are positive, so Spark's truncating `div` and DuckDB's
    flooring `//` agree. The only int64 site left is the idf surrogate
    itself, exact to N ≈ 4.6·10¹⁵ docs.

    Scale: tokenize/tf/df are the TF-IDF passes (map-side explode, two
    keyed shuffles); the query-term relation is LIMIT-bounded by a
    constant, so its broadcast is correct at any corpus size; corpus
    scalars (N, L) ride a 1-row broadcast; the doc-length join carries
    no hint (corpus-sized relation — AQE decides); and the per-term
    top-k runs the two-level tournament (terms are a low-cardinality
    key — exactly the reducer funnel topk_per_key removes)."""
    from ai_data_pipeline_spark.functions import topk_per_key

    d = load_table(spark, sf_dir, "documents")
    terms = d.select(
        "doc_id",
        F.explode(term_split("text")).alias("term"),
    ).filter(F.length("term") >= MIN_TERM_LEN)
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = terms.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    scal = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    qterms = (
        df_.crossJoin(F.broadcast(scal.select(F.col("n_docs").alias("nd"))))
        .filter(
            (F.length("term") >= BM25_MIN_QTERM_LEN) & (F.col("df") < F.col("nd"))
        )
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(BM25_N_TERMS)
        .select("term", "df")
    )
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(scal))
        .select(
            "term",
            "df",
            "doc_id",
            "tf",
            "dl",
            F.expr(
                "(cast(22 as decimal(38,0)) * tf * total_len"
                " * ((2 * (n_docs - df) + 1) * 1000 div (2 * df + 1)))"
                " div (cast(10 as decimal(38,0)) * total_len * tf"
                "      + cast(3 as decimal(38,0)) * total_len"
                "      + cast(9 as decimal(38,0)) * dl * n_docs)"
            ).alias("bm25_fp"),
        )
    )
    return topk_per_key(
        scored, ["term"], [F.desc("bm25_fp"), F.asc("doc_id")], BM25_TOP_DOCS
    )


BM25_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({term_split_sql('text')}) AS term
  FROM documents
), ft AS (
  SELECT doc_id, term FROM toks WHERE length(term) >= {MIN_TERM_LEN}
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM ft GROUP BY 1, 2
), dl AS (
  SELECT doc_id, count(*) AS dl FROM ft GROUP BY 1
), scal AS (
  SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_len FROM dl
), df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
), qterms AS (
  SELECT term, df FROM df CROSS JOIN scal
  WHERE length(term) >= {BM25_MIN_QTERM_LEN} AND df < n_docs
  ORDER BY df DESC, term ASC LIMIT {BM25_N_TERMS}
), scored AS (
  -- HUGEINT products mirror Spark's DECIMAL(38,0): int64 would
  -- overflow the numerator past ~1e13 total tokens
  SELECT q.term, q.df, tf.doc_id, tf.tf, dl.dl,
         CAST((CAST(22 AS HUGEINT) * tf.tf * s.total_len
               * ((2 * (s.n_docs - q.df) + 1) * 1000 // (2 * q.df + 1)))
              // (CAST(10 AS HUGEINT) * s.total_len * tf.tf
                  + CAST(3 AS HUGEINT) * s.total_len
                  + CAST(9 AS HUGEINT) * dl.dl * s.n_docs) AS BIGINT) AS bm25_fp
  FROM tf JOIN qterms q USING (term) JOIN dl USING (doc_id) CROSS JOIN scal s
)
SELECT term, df, doc_id, tf, dl, bm25_fp, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY term
    ORDER BY bm25_fp DESC, doc_id ASC) AS rk
  FROM scored
) WHERE rk <= {BM25_TOP_DOCS}
"""


RAKE_MAX_PHRASE = 4  # candidate phrases longer than this are noise
RAKE_TOP_K = 3  # keywords kept per document
# RAKE breaks candidate phrases at stopwords; the en set is the same
# tiny deterministic list the language-ID heuristic declares.
RAKE_STOPWORDS = LANG_STOPWORDS["en"]


def text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010), exact and
    integer-deterministic: tokenize each document, break candidate
    phrases at stopwords (gaps-and-islands over token positions), score
    each word by degree/frequency — degree = Σ length of the phrases the
    word occurs in, frequency = its occurrence count, both PER DOCUMENT
    (RAKE's co-occurrence statistics are within-document by
    definition) — and score each phrase as the sum of its words'
    scores. Word scores floor to ppm BEFORE the phrase sum
    (floor-before-sum is the declared statistic, identical in both
    engines on non-negative operands). Top RAKE_TOP_K distinct phrases
    of ≤ RAKE_MAX_PHRASE words per document, ties broken by phrase
    text.

    Scale: one tokenize pass materialized behind an exchange
    (localCheckpoint — four consumers read it), then every shuffle is
    keyed by (doc_id[, isl|tok]) and every window is partitioned by
    doc_id — bounded by document length, never corpus-sized. The
    word-score join is (doc_id, tok)-equi-keyed with no hints. This is
    the per-doc keyword tagging stage of a corpus enrichment pipeline;
    the corpus-level counterpart (global salient terms) is
    text_tfidf_top_terms."""
    from pyspark.sql import Window as W

    d = spread(load_table(spark, sf_dir, "documents"))
    arr = F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RX), F.lit(0))
    toks = d.select("doc_id", F.posexplode(arr).alias("pos", "tok"))
    wdoc = W.partitionBy("doc_id").orderBy("pos")
    kept = (
        toks.filter(~F.col("tok").isin(*RAKE_STOPWORDS))
        .withColumn("isl", F.col("pos") - F.row_number().over(wdoc))
        .localCheckpoint()
    )
    plen = F.count(F.lit(1)).over(W.partitionBy("doc_id", "isl"))
    tokp = kept.withColumn("plen", plen)
    wscore = tokp.groupBy("doc_id", "tok").agg(
        F.expr("cast((sum(plen) * 1000000) div count(*) as bigint)").alias(
            "w_ppm"
        )
    )
    phrases = kept.groupBy("doc_id", "isl").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("phrase"),
    )
    pscore = (
        kept.join(wscore, ["doc_id", "tok"])
        .groupBy("doc_id", "isl")
        .agg(F.sum("w_ppm").alias("score_ppm"))
    )
    cand = (
        phrases.join(pscore, ["doc_id", "isl"])
        .filter(F.col("n_words") <= RAKE_MAX_PHRASE)
        .groupBy("doc_id", "phrase")
        .agg(
            F.max("n_words").alias("n_words"),
            F.count(F.lit(1)).alias("n_occ"),
            F.max("score_ppm").alias("score_ppm"),
        )
    )
    wrank = W.partitionBy("doc_id").orderBy(F.desc("score_ppm"), F.asc("phrase"))
    return (
        cand.withColumn("rk", F.row_number().over(wrank))
        .filter(F.col("rk") <= RAKE_TOP_K)
        .select("doc_id", "phrase", "n_words", "n_occ", "score_ppm", "rk")
    )


def _rake_oracle() -> str:
    stoplist = ", ".join(f"'{w}'" for w in RAKE_STOPWORDS)
    return f"""
WITH docs AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RX_SQL}', 0) AS l
  FROM documents
), toks AS (
  SELECT doc_id, i AS pos, l[i] AS tok
  FROM docs, LATERAL (SELECT unnest(range(1, len(l) + 1)) AS i) t
), kept AS (
  SELECT doc_id, pos, tok,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
  FROM toks WHERE tok NOT IN ({stoplist})
), plens AS (
  SELECT doc_id, isl, count(*) AS plen FROM kept GROUP BY 1, 2
), wscore AS (
  SELECT k.doc_id, k.tok,
         (CAST(sum(p.plen) AS BIGINT) * 1000000) // count(*) AS w_ppm
  FROM kept k JOIN plens p ON p.doc_id = k.doc_id AND p.isl = k.isl
  GROUP BY 1, 2
), phrases AS (
  SELECT doc_id, isl, count(*) AS n_words,
         string_agg(tok, ' ' ORDER BY pos) AS phrase
  FROM kept GROUP BY 1, 2
), pscore AS (
  SELECT k.doc_id, k.isl, CAST(sum(w.w_ppm) AS BIGINT) AS score_ppm
  FROM kept k JOIN wscore w ON w.doc_id = k.doc_id AND w.tok = k.tok
  GROUP BY 1, 2
), cand AS (
  SELECT p.doc_id, p.phrase, max(p.n_words) AS n_words,
         count(*) AS n_occ, CAST(max(s.score_ppm) AS BIGINT) AS score_ppm
  FROM phrases p JOIN pscore s ON s.doc_id = p.doc_id AND s.isl = p.isl
  WHERE p.n_words <= {RAKE_MAX_PHRASE}
  GROUP BY 1, 2
)
SELECT doc_id, phrase, n_words, n_occ, score_ppm, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
    ORDER BY score_ppm DESC, phrase ASC) AS rk
  FROM cand
) WHERE rk <= {RAKE_TOP_K}
"""


QUERY_DEFS = [
    QueryDef("text_stats", text_stats, _text_stats_oracle()),
    QueryDef("text_bm25_topk", text_bm25_topk, BM25_ORACLE),
    QueryDef("text_vocab_coverage", vocab_coverage, _vocab_coverage_oracle()),
    QueryDef("text_readability", text_readability, TEXT_READABILITY_ORACLE),
    QueryDef("text_encoding_audit", encoding_audit, ENCODING_AUDIT_ORACLE),
    QueryDef("text_quality_flags", quality_score, QUALITY_ORACLE),
    QueryDef("text_lang_id", lang_id, _lang_id_oracle()),
    QueryDef("text_fingerprint", doc_fingerprint, FINGERPRINT_ORACLE),
    QueryDef("text_winnowing", winnowing_fingerprint, WINNOW_ORACLE),
    QueryDef("text_tfidf_top_terms", tfidf_top_terms, TFIDF_ORACLE),
    QueryDef("text_vocab_top_terms", vocab_top_terms, VOCAB_ORACLE),
    QueryDef("text_keyword_rake", text_keyword_rake, _rake_oracle()),
]
