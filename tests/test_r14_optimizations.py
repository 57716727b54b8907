"""Focused pins for the round-14 optimization changes: the LM
context-count rollup derivation and the streaming source-fixture
memos. Each pins the INTERNAL property the optimization relies on, so
a future refactor that silently breaks the equivalence fails here, not
in a bench window."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_lm_ctx_rollup_equals_occurrence_count(spark):
    """corpus_lm_train derives c_ctx(w1) as the w1-rollup of the
    distinct-bigram counts; it must equal the pre-r14 formula (count of
    train bigram OCCURRENCES grouped by first word) exactly — every
    occurrence is counted by exactly one bigram."""
    from ai_data_pipeline_spark.operators.corpus import (
        LM_HOLD_MOD,
        _lm_bigrams,
        corpus_lm_train,
    )

    bg = _lm_bigrams(spark, SF_DIR).filter(F.col("doc_id") % LM_HOLD_MOD != 0)
    direct = {
        r["w1"]: r["c"]
        for r in bg.groupBy(F.substring_index("bg", " ", 1).alias("w1"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    got = corpus_lm_train(spark, SF_DIR).collect()
    assert got, "train model is empty at sf0.001"
    for r in got:
        w1 = r["bg"].split(" ", 1)[0]
        assert r["c_ctx"] == direct[w1], (r["bg"], r["c_ctx"], direct[w1])


def test_lm_quality_ctx_rollup_same_types(spark):
    """The rollup must not change column types (a SUM of counts is
    still LongType — the driver value hash is type-sensitive)."""
    from ai_data_pipeline_spark.operators.corpus import corpus_lm_train

    schema = {f.name: f.dataType.simpleString() for f in corpus_lm_train(spark, SF_DIR).schema}
    assert schema["c_ctx"] == "bigint"
    assert schema["c_big"] == "bigint"


def test_profile_stream_source_memoized_per_session(spark):
    """The two-file document source is built once per (session,
    sf_dir) in the batch-file source's memo and reused; the files must
    persist for the reuse."""
    import os

    from ai_data_pipeline_spark.session import session_scoped_cache
    from ai_data_pipeline_spark.streaming.advanced import _profile_stream

    cache = session_scoped_cache(spark, "batch_file_source")
    key = ("profile_documents", SF_DIR)
    _profile_stream(spark, SF_DIR)
    src, schema = cache[key]
    again = _profile_stream(spark, SF_DIR)
    assert cache[key] == (src, schema)
    assert src in again._jdf.queryExecution().analyzed().toString()
    assert sorted(os.listdir(src)) == ["file_0.parquet", "file_1.parquet"]


def test_stream_index_dedup_recomputes_per_call_with_memoized_source(spark):
    """The source files are memoized but the dedup computation is NOT:
    two invocations must drain their own candidate logs from the same
    source files and agree exactly (and with the reversed-batch
    adversarial order, which keys a separate memo entry)."""
    from ai_data_pipeline_spark.session import session_scoped_cache
    from ai_data_pipeline_spark.streaming.advanced import stream_index_dedup

    def run(reverse=False):
        df = stream_index_dedup(spark, SF_DIR, _reverse_batches=reverse)
        return sorted(map(tuple, df.collect())), set(df.inputFiles())

    cache = session_scoped_cache(spark, "batch_file_source")
    r1, log1 = run()
    src = cache[("index_dedup", SF_DIR, False)]
    r2, log2 = run()
    assert cache[("index_dedup", SF_DIR, False)] == src
    assert log1 and log2 and not log1 & log2  # each call wrote its own log
    assert r1 == r2
    r3, _ = run(reverse=True)
    assert r1 == r3  # arrival-order invariance, memoized per order key
    assert cache[("index_dedup", SF_DIR, True)][0] != src[0]
