

def test_stream_index_dedup_rejects_both_planted_channels(spark):
    """Every planted duplicate must be rejected: no accepted doc_id
    carries a re-key offset (index dups land at +OFFSET, within-stream
    dups at +2*OFFSET), and the per-lang accepted counts equal the
    min-doc_id-per-new-fingerprint Python recompute."""
    from collections import Counter

    from ai_data_pipeline_spark.catalog import load_table
    from ai_data_pipeline_spark.streaming.advanced import (
        STREAM_IDX_OFFSET,
        stream_index_dedup,
    )
    from pyspark.sql import functions as F
    from tests.conftest import SF_DIR

    import hashlib
    import re

    docs = [
        (r.doc_id, r.lang, hashlib.md5(
            re.sub(r"\s+", " ", r.text.strip().lower()).encode()
        ).hexdigest())
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", "lang", "text")
        .collect()
    ]
    idx = {fp for d, _, fp in docs if d % 2 == 0}
    stream = [(d, lg, fp) for d, lg, fp in docs if d % 2 == 1]
    stream += [
        (d + STREAM_IDX_OFFSET, lg, fp) for d, lg, fp in docs if d % 10 == 0
    ]
    stream += [
        (d + 2 * STREAM_IDX_OFFSET, lg, fp)
        for d, lg, fp in docs
        if d % 2 == 1 and d % 20 == 1
    ]
    first = {}
    for d, lg, fp in sorted(stream):
        if fp not in idx and fp not in first:
            first[fp] = (d, lg)
    want_n = Counter(lg for d, lg in first.values())
    want_sum = Counter()
    for d, lg in first.values():
        want_sum[lg] += d

    rows = stream_index_dedup(spark, SF_DIR).collect()
    assert {r.lang: r.n_accepted for r in rows} == dict(want_n)
    assert {r.lang: r.sum_doc_id for r in rows} == dict(want_sum)
    # both rejection channels fired: the stream contained planted rows,
    # none survived
    assert all(d < STREAM_IDX_OFFSET for d, _ in first.values())
    assert sum(want_n.values()) < len(stream)


def test_stream_index_dedup_is_batch_order_invariant(spark):
    """The round-8 driver red: acceptance must NOT depend on which
    source file the stream processes first. The log-and-compact
    topology makes the accepted set a pure function of the row set, so
    running the planted-duplicates batch FIRST must give bit-identical
    results to the forward order."""
    from ai_data_pipeline_spark.streaming.advanced import stream_index_dedup
    from tests.conftest import SF_DIR

    fwd = sorted(map(tuple, stream_index_dedup(spark, SF_DIR).collect()))
    rev = sorted(
        map(
            tuple,
            stream_index_dedup(spark, SF_DIR, _reverse_batches=True).collect(),
        )
    )
    assert fwd == rev


def test_stream_profile_merge_equals_one_shot_profile(spark):
    """The merged streaming partials must equal the one-shot partial
    profile of the full table (batch equivalence of the commutative-
    monoid merges), and the per-column counts must match the table."""
    from ai_data_pipeline_spark.catalog import load_table
    from ai_data_pipeline_spark.streaming.advanced import (
        _profile_partials,
        stream_profile_documents,
    )
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    want = {
        r.col: (r.n, r.n_null, r.min_s, r.max_s, r.sum_dec)
        for r in _profile_partials(docs).collect()
    }
    got = {
        r.col: (r.n, r.n_null, r.min_s, r.max_s, r.sum_dec)
        for r in stream_profile_documents(spark, SF_DIR).collect()
    }
    assert got == want
    n_docs = docs.count()
    assert all(v[0] == n_docs for v in got.values())


def test_stream_ivf_upsert_equals_batch_rebuild(spark):
    """Incremental maintenance must equal the batch rebuild: the
    compacted streaming index (latest-version assignment per vector)
    must match assigning the FINAL vector states directly — computed
    here as an independent Spark A/B (the oracle proves the same via
    DuckDB)."""
    from pyspark.sql import functions as F

    from ai_data_pipeline_spark.catalog import load_table
    from ai_data_pipeline_spark.operators.similarity import (
        N_CELLS,
        N_QUERIES,
        _assign_cos,
    )
    from ai_data_pipeline_spark.streaming.ivf import (
        UPDATE_MOD,
        UPDATE_REM,
        stream_ivf_index_upsert,
    )
    from tests.conftest import SF_DIR

    got = {
        r.cell_id: (r.n_vectors, r.sum_vec_id)
        for r in stream_ivf_index_upsert(spark, SF_DIR).collect()
    }
    e = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    corpus = e.filter(F.col("vec_id") >= N_QUERIES)
    cents = e.filter(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + N_CELLS)
    ).select(F.col("vec_id").alias("cell_id"), F.col("v").alias("cv"))
    final = corpus.select(
        "vec_id",
        F.lit(0).alias("version"),
        F.when(
            F.col("vec_id") % UPDATE_MOD == UPDATE_REM, F.reverse("v")
        ).otherwise(F.col("v")).alias("v"),
    )
    want = {
        r.cell_id: (r.n_vectors, r.sum_vec_id)
        for r in _assign_cos(final, cents, ["vec_id", "version"], [])
        .groupBy("cell_id")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("vec_id").alias("sum_vec_id"),
        )
        .collect()
    }
    assert got == want


def test_stream_ivf_migration_consistent_with_upsert(spark):
    """The churn audit must tie out: per-vector transitions cover every
    updated vector exactly once, and at least one vector provably
    changes cell (the planted reversed-embedding channel fires)."""
    from pyspark.sql import functions as F

    from ai_data_pipeline_spark.catalog import load_table
    from ai_data_pipeline_spark.operators.similarity import N_QUERIES
    from ai_data_pipeline_spark.streaming.ivf import (
        UPDATE_MOD,
        UPDATE_REM,
        stream_ivf_cell_migration,
    )
    from tests.conftest import SF_DIR

    rows = stream_ivf_cell_migration(spark, SF_DIR).collect()
    n_updated = (
        load_table(spark, SF_DIR, "embeddings")
        .filter(
            (F.col("vec_id") >= N_QUERIES)
            & (F.col("vec_id") % UPDATE_MOD == UPDATE_REM)
        )
        .count()
    )
    assert sum(r.n_moved for r in rows) == n_updated
    assert sum(r.n_moved for r in rows if r.old_cell != r.new_cell) > 0


def test_stream_mg_summary_equals_direct_bucket_merge(spark):
    """The streamed Misra-Gries log must be a pure function of the
    data: merging the logged per-batch summaries has to equal the same
    canonical construction computed directly (per-decade counts ->
    offset summaries -> merge), and every guarantee flag must hold."""
    from pyspark.sql import functions as F

    from ai_data_pipeline_spark.catalog import load_table
    from ai_data_pipeline_spark.operators.sketches import _mg_threshold
    from ai_data_pipeline_spark.streaming.sketch import (
        _BUCKET_EXPR,
        stream_mg_heavy_hitters,
    )
    from tests.conftest import SF_DIR

    rows = stream_mg_heavy_hitters(spark, SF_DIR).collect()
    assert rows  # the fixture has distinguishable heavy users
    assert all(
        r.lower_ok == 1 and r.bound_ok == 1 and r.completeness_ok == 1
        for r in rows
    )

    e = load_table(spark, SF_DIR, "events")
    counts = e.groupBy(
        F.expr(_BUCKET_EXPR).alias("bucket"), "user_id"
    ).agg(F.count(F.lit(1)).alias("c"))
    t_b = _mg_threshold(counts, ["bucket"], "user_id")
    pre = (
        counts.join(t_b, "bucket")
        .filter(F.col("c") > F.col("t"))
        .groupBy("user_id")
        .agg(F.sum(F.col("c") - F.col("t")).alias("c"))
    )
    t_f = (
        _mg_threshold(pre.withColumn("_g", F.lit(0)), ["_g"], "user_id")
        .collect()[0]["t"]
    )
    want = {
        (r.user_id, r.c - t_f) for r in pre.collect() if r.c > t_f
    }
    assert {(r.user_id, r.mg_count) for r in rows} == want
