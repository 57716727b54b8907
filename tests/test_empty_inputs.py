"""Empty-input robustness: at cluster scale, zero-row partitions and
zero-row tables (fresh ingest dates, filtered-out shards) are routine —
every operator family must plan and execute on them without errors.
The profiler must still emit one row per column (with null/zero stats);
data-plane operators must return clean empty results."""

from __future__ import annotations

import tempfile

import pytest

from ai_data_pipeline_spark.catalog import TABLES, load_table


@pytest.fixture(scope="module")
def empty_sf_dir(spark):
    tmp = tempfile.mkdtemp(prefix="adp_empty_")
    for t in TABLES:
        load_table(spark, "/root/testdata/sf0.001", t).limit(0).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/{t}.parquet")
    return tmp


def test_profiler_emits_all_columns_on_empty_table(spark, empty_sf_dir):
    from pyspark.sql import functions as F

    from ai_data_pipeline_spark.profiling.profiler import profile_table, profile_tables

    empty = load_table(spark, empty_sf_dir, "customer")
    rows = profile_table(empty, TABLES["customer"]).collect()
    assert len(rows) == len(TABLES["customer"])
    for r in rows:
        assert r["total_rows"] == 0
        assert r["null_count"] == 0
        assert r["unique_count"] == 0

    # one plan over many tables: an empty table beside a vector-only
    # table and one with quote/backtick column names
    vectors = spark.range(3).select(F.array(F.col("id").cast("float")).alias("v"))
    odd = spark.range(4).select(
        F.col("id").alias("weird`tick"), F.lit("x").alias("it's")
    )
    tables = [
        ("customer", empty, TABLES["customer"]),
        ("vectors", vectors, [("v", "vector")]),
        ("odd", odd, [("weird`tick", "long"), ("it's", "string")]),
    ]
    by_table = {}
    for r in profile_tables(tables).collect():
        by_table.setdefault(r["table_name"], []).append(r)
    assert {t: sorted(r["column_name"] for r in rs) for t, rs in by_table.items()} == {
        t: sorted(c for c, _ in cols) for t, _, cols in tables
    }
    assert [r["total_rows"] for r in by_table["customer"]] == [0] * len(TABLES["customer"])
    assert [r["total_rows"] for r in by_table["vectors"]] == [3]
    assert [r["total_rows"] for r in by_table["odd"]] == [4, 4]


@pytest.mark.parametrize(
    "family,qname",
    [
        ("relational", "q1_pricing_summary"),
        ("relational", "q3_top_orders"),
        ("temporal", "q_asof_join"),
        ("temporal", "q_interval_sweep"),
        ("dedup", "dedup_exact"),
        ("dedup", "dedup_sentences"),
        ("dedup", "dedup_incremental"),
        ("dedup", "dedup_minhash_lsh"),
        ("dedup", "dedup_minhash_estimate"),
        ("dedup", "dedup_lsh_recall"),
        ("dedup", "dedup_ngram_jaccard"),
        ("text", "text_stats"),
        ("text", "text_readability"),
        ("corpus", "corpus_repetition_signals"),
        ("corpus", "corpus_temperature_mix"),
        ("corpus", "corpus_ngram_novelty"),
        ("corpus", "corpus_lm_quality"),
        ("corpus", "corpus_length_buckets"),
        ("similarity", "ann_cosine_topk"),
        ("similarity", "ann_ivf_pq"),
        ("similarity", "emb_random_projection"),
        ("multimodal", "multimodal_shot_boundaries"),
        ("multimodal", "multimodal_header_meta"),
        ("quality", "dq_join_fanout_guard"),
        ("maintenance", "q_cdc_apply"),
        ("maintenance", "q_table_diff"),
        ("linkage", "er_golden_record"),
        ("stats", "q_gini_segments"),
        # round-8 late batches: calibration, compliance, audits
        ("stats", "cls_score_percentile"),
        ("pipeline", "pipeline_curation_funnel"),
        ("similarity", "emb_covariance_stats"),
        ("similarity", "emb_drift_monitor"),
        ("redact", "corpus_pii_scan"),
        ("curation", "corpus_tombstone_purge"),
        ("quality", "dq_l_diversity"),
        ("maintenance", "zonemap_skip_audit"),
        ("vault", "fd_discovery"),
        ("corpus", "corpus_split_leakage"),
        # empty-sink read-back (schema-explicit reader contract) and
        # the MLlib LSH empty-index guard — both found by running the
        # FULL contract against empty tables
        ("readers", "partitioned_roundtrip_events"),
        ("similarity", "ann_mllib_brp"),
        # round-9: codec roundtrips, log-star components, the decimal
        # priority-sample rewrite, and the streaming profiler
        ("multimodal", "multimodal_png_roundtrip"),
        ("multimodal", "multimodal_bmp_roundtrip"),
        ("multimodal", "multimodal_wav_roundtrip"),
        ("clustering", "dedup_clusters_logstar"),
        ("curation", "corpus_priority_sample"),
        ("streaming", "stream_profile_documents"),
        ("stats", "cls_reliability_bins"),
        ("similarity", "ann_ivf_cell_balance"),
        ("corpus", "corpus_dataset_card"),
        ("similarity", "emb_dim_variance_rank"),
        # round-11: the oracle-bearing audit twins (BRP recall flags;
        # HLL-profile tolerance + decision-stability flags), the
        # cross-modal agreement audit, and the adaptive-block rewrite
        ("similarity", "ann_mllib_brp_recall"),
        ("profiling", "profile_lineitem_approx_audit"),
        ("multimodal", "crossmodal_dedup_agreement"),
        ("multimodal", "multimodal_gif_roundtrip"),
        ("sketches", "sketch_kmv_users"),
        ("sketches", "sketch_kmv_jaccard"),
        ("sketches", "sketch_kmv_merge_days"),
        ("sketches", "sketch_mg_topk"),
        ("sketches", "sketch_mg_merge_days"),
        ("aqp", "aqp_sample_estimate"),
        ("aqp", "aqp_sample_staircase"),
        ("aqp", "aqp_stratified_allocation"),
        ("aqp", "aqp_group_estimate"),
        ("aqp", "aqp_universe_join"),
        ("analytic2", "q_decayed_heavy_hitters"),
        ("stats", "cls_fairness_audit"),
        ("aqp", "aqp_jackknife"),
        ("similarity", "dedup_embedding_cosine"),
        ("clustering", "dedup_clusters"),
        ("similarity", "ann_ivf_trained"),
        ("similarity", "ann_ivf_trained_recall"),
        ("streaming.watermark", "stream_watermark_late_drop"),
        ("unigram", "corpus_unigram_train"),
        ("unigram", "corpus_unigram_apply"),
        ("unigram", "corpus_unigram_roundtrip"),
        ("retrieval", "retrieval_ranking_metrics"),
        ("similarity", "ann_ivf_pq_trained"),
        ("similarity", "ann_ivf_pq_trained_audit"),
        ("unigram", "corpus_unigram_prune"),
        ("dedup", "dedup_lsh_band_tuning"),
        ("similarity", "emb_pq_residual_encode"),
        ("dedup", "dedup_containment"),
        ("aqp", "aqp_bootstrap"),
        ("aqp", "aqp_bootstrap_ratio"),
        ("similarity", "ann_ivf_pq_rerank"),
        ("unigram", "corpus_unigram_converge"),
        # every query that writes its own micro-batch files through the
        # shared batch-file source (zero-row batch files included), the
        # Python-source stream drained by the shared memory sink, and the
        # ten queries on the events file stream, which reads this
        # fixture's events.parquet directory as a directory stream
        ("streaming", "stream_tumbling_counts"),
        ("streaming", "stream_session_windows"),
        ("streaming", "stream_stateful_user_counts"),
        ("streaming", "stream_dedup_pairs"),
        ("streaming", "stream_sliding_counts"),
        ("streaming", "stream_stream_join"),
        ("streaming", "stream_static_enrich"),
        ("streaming", "stream_topk_per_window"),
        ("streaming", "stream_chained_windows"),
        ("streaming", "stream_sink_parquet"),
        ("streaming", "stream_index_dedup"),
        ("streaming", "stream_late_data_drop"),
        ("streaming", "stream_first_touch"),
        ("streaming.ivf", "stream_ivf_index_upsert"),
        ("streaming.ivf", "stream_ivf_cell_migration"),
        ("streaming.sketch", "stream_mg_heavy_hitters"),
        ("sources", "pyds_stream_agg"),
    ],
)
def test_operator_runs_clean_on_empty_tables(spark, empty_sf_dir, family, qname):
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    # executes without error; emptiness is the norm here. collect(), not
    # count(): a count lets Catalyst prune every unreferenced aggregate
    qs[qname](spark, empty_sf_dir).collect()


def test_trained_codebook_tiny_corpus_matches_standin_size(spark):
    """Review r13: a Bernoulli sample smaller than PQ_K must fall back
    to the full corpus, so the trained codebook never has fewer
    codewords than the stand-in book (which would let the
    oracle-pinned trained_no_worse flag flip on a legitimate tiny
    corpus). With a 15-vector corpus both books carry 15 codewords
    per subspace and the audit's predicates all hold."""
    import tempfile

    from pyspark.sql import functions as F

    from ai_data_pipeline_spark.operators.similarity import (
        N_QUERIES,
        PQ_K,
        _standin_pq_model,
        _trained_codebook,
        _vfp,
        ann_ivf_pq_trained_audit,
    )

    tmp = tempfile.mkdtemp(prefix="adp_tiny_")
    load_table(spark, "/root/testdata/sf0.001", "embeddings").filter(
        F.col("vec_id") < N_QUERIES + 15
    ).write.mode("overwrite").parquet(f"{tmp}/embeddings.parquet")

    book = _trained_codebook(spark, tmp)
    per_m = (
        book.groupBy("m").count().agg(F.min("count"), F.max("count")).collect()[0]
    )
    _, standin = _standin_pq_model(_vfp(spark, tmp))
    standin_per_m = (
        standin.groupBy("m").count().agg(F.max("count")).collect()[0][0]
    )
    # 15-vector corpus < PQ_K=16: both books clamp to 15 codewords
    assert per_m[0] == per_m[1] == min(PQ_K, 15)
    assert per_m[0] >= standin_per_m
    row = ann_ivf_pq_trained_audit(spark, tmp).collect()[0]
    assert row["trained_no_worse"] == 1
    assert row["k_ok"] == 1
