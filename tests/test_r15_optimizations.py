"""Focused pins for the IVF-PQ serving optimizations: the
single-pass assign+encode fusion and the broadcast-map ADC lookup.
Each pins the INTERNAL property the optimization relies on, so a
future refactor that silently breaks the equivalence fails here, not
in a bench window."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_ivfpq_fused_encode_matches_two_pass(spark):
    """The fused map-side (cell, codes[]) projection must reproduce the
    two-aggregate formulation exactly — same argmin, same
    (distance, id) tie-break — on every corpus vector."""
    import ai_data_pipeline_spark.operators.similarity as S

    vfp = S._vfp(spark, SF_DIR)
    cents, book = S._standin_pq_model(vfp)
    corpus = vfp.filter(F.col("vec_id") >= S.N_QUERIES)

    # the two-aggregate reference formulation
    assigned = {
        r["vec_id"]: r["cell"]
        for r in corpus.crossJoin(F.broadcast(cents))
        .withColumn("cdist", F.expr(S._int_l2("v_fp", "c_fp")))
        .groupBy("vec_id")
        .agg(F.min_by("cell", F.struct("cdist", "cell")).alias("cell"))
        .collect()
    }
    codes = {
        (r["vec_id"], r["m"]): r["code"]
        for r in S._pq_subvectors(vfp)
        .filter(F.col("vec_id") >= S.N_QUERIES)
        .join(F.broadcast(book), "m")
        .withColumn("d", F.expr(S._int_l2("sub", "csub")))
        .groupBy("vec_id", "m")
        .agg(F.min_by("code", F.struct("d", "code")).alias("code"))
        .collect()
    }

    # the shipped fused projection: the expressions _ivfpq_approx uses
    enc = (
        corpus.crossJoin(F.broadcast(S._pq_model_row(cents, book)))
        .select(
            "vec_id",
            F.expr(S._CELL_EXPR).alias("cell"),
            F.expr(S._CODES_EXPR).alias("codes"),
        )
        .collect()
    )
    assert enc, "empty corpus at the test SF"
    assert len(enc) == len(assigned)
    for r in enc:
        assert r["cell"] == assigned[r["vec_id"]], r
        for m in range(S.PQ_M):
            assert r["codes"][m] == codes[(r["vec_id"], m)], (r, m)


def test_pq_books_unique_per_code_and_lut_is_full(spark):
    """The ADC LUT is built with map_from_entries, which throws on a
    duplicate (q_id, m, code) key: both the stand-in and the trained
    codebook must be unique on (m, code), and the LUT must hold exactly
    one entry per (query, subspace, codeword)."""
    import ai_data_pipeline_spark.operators.similarity as S

    vfp = S._vfp(spark, SF_DIR)
    _, standin = S._standin_pq_model(vfp)
    rel = S._trained_pq_relations(spark, SF_DIR)
    assert rel is not None, "empty corpus at the test SF"
    _, trained = rel
    for book in (standin, trained):
        keys = [(r["m"], r["code"]) for r in book.select("m", "code").collect()]
        assert keys, "empty codebook at the test SF"
        assert len(keys) == len(set(keys)), sorted(keys)
        lut = S._adc_lut(S._split(vfp)[1], book).collect()[0]["lut_map"]
        assert len(lut) == S.N_QUERIES * S.PQ_M * S.PQ_K


def test_ivfpq_serving_reads_corpus_exactly_twice(spark):
    """The serving plan's raw-vector reads are exactly the two its
    docstring promises — encode and re-rank: two UNBOUNDED corpus
    scans (PushedFilters = vec_id >= N_QUERIES with no upper bound),
    and no SortMergeJoin anywhere (the candidate read must stay a
    broadcast join — an SMJ here shuffles the encoded corpus into
    N_CELLS partitions)."""
    import re

    from ai_data_pipeline_spark.operators.similarity import ann_ivf_pq

    # an earlier test in the shared session may have .cache()d the
    # embeddings relation, replacing parquet scans (and their
    # PushedFilters) with InMemoryTableScan — count on the real scans
    spark.catalog.clearCache()
    plan = _plan(ann_ivf_pq(spark, SF_DIR))
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    unbounded = [
        p
        for p in pushed
        if "GreaterThanOrEqual(vec_id,10)" in p and "LessThan" not in p
    ]
    assert len(unbounded) == 2, (len(unbounded), pushed)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivfpq_adc_score_is_projection_not_aggregate(spark):
    """The per-candidate ADC score must be the broadcast-map lookup
    projection — no posexplode fan-out and no (q_id, vec_id) aggregate
    after the encode. The only
    Generate (explode) nodes allowed in the serving plan belong to the
    codebook/LUT builders on the bounded model side."""
    from ai_data_pipeline_spark.operators.similarity import ann_ivf_pq

    plan = _plan(ann_ivf_pq(spark, SF_DIR))
    assert "map_from_entries" in plan  # the broadcast ADC table
    # every hash aggregate in the plan is a model/LUT builder (1-row
    # collect_list aggregates), never a partial_sum over candidates
    assert "partial_sum" not in plan, plan


def test_audit_distortion_single_pass_matches_per_book(spark):
    """The audit's fused two-codebook distortion pass must equal the
    per-book explode+join+min formulation it replaced, for both the
    stand-in and the trained codebook."""
    import ai_data_pipeline_spark.operators.similarity as S

    vfp = S._vfp(spark, SF_DIR)
    _, standin_book = S._standin_pq_model(vfp)

    def reference(book) -> int:
        rows = (
            S._pq_subvectors(vfp.filter(F.col("vec_id") >= S.N_QUERIES))
            .join(F.broadcast(book), "m")
            .select("vec_id", "m", F.expr(S._int_l2("sub", "csub")).alias("d"))
            .groupBy("vec_id", "m")
            .agg(F.min("d").alias("min_d"))
            .agg(F.coalesce(F.sum("min_d"), F.lit(0)).alias("dist"))
            .collect()
        )
        return int(rows[0]["dist"])

    fused = (
        vfp.filter(F.col("vec_id") >= S.N_QUERIES)
        .crossJoin(F.broadcast(S._book_row(standin_book, "book_arr")))
        .select(F.expr(S._pq_distortion_expr("book_arr")).alias("row_d"))
        .agg(F.coalesce(F.sum("row_d"), F.lit(0)).alias("dist"))
        .collect()
    )
    assert int(fused[0]["dist"]) == reference(standin_book)
