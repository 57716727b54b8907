"""Hybrid retrieval: reciprocal-rank fusion of a sparse (lexical,
inverted-index) ranker and a dense (embedding-cosine) ranker for
query-by-example search — the standard hybrid-search topology behind
RAG corpus retrieval (Cormack, Clarke & Buettcher 2009: RRF
outperforms any individual ranker it fuses).

The reference has no retrieval surface (its pipeline stops at
classification — see /root/reference/src/ai_pipeline/core/classifiers/
hybrid_classifier.py:1 for the whole extent); this module is part of
the north-star extension: a reference user curating LLM training data
needs query-by-example search to audit near-misses of the dedup and
quality stages.

Scale design (100 TB):
- The query set is a constant number of documents; every query-derived
  relation is additionally LIMIT-bounded (top RRF_MAX_QTERMS terms per
  query by idf) before it is broadcast — the fixed-size-relation rule.
- The sparse pass is the inverted-index shape text_bm25_topk documents:
  map-side explode, one (doc, term) distinct, one term-keyed df
  aggregate; candidates join the broadcast query terms on term (never
  a doc×doc join).
- Both per-query rankings run the two-level tournament (topk_per_key)
  because queries are a low-cardinality key — the reducer funnel the
  naive window would create.
- Fusion itself touches only the two ranked lists (≤ queries × depth
  rows each — constants), so the full-outer join and final top-k are
  driver-trivial at any corpus size.
- All ranking arithmetic is integer fixed-point: the idf surrogate is
  the exact rational (2(N−df)+1)·1000 div (2df+1) (monotone transform
  of the BM25+ idf — same trick text_bm25_topk documents), sparse
  scores are int64-safe to N ≈ 4.6·10¹⁵ docs, and the RRF score is
  10⁶ div (60 + rank) summed over the two lists — no floats anywhere
  except the dense cosine, which is IEEE-identical in both engines
  (channel-wise fold, rounded to 6 decimals; see similarity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_data_pipeline_spark.catalog import load_table
from ai_data_pipeline_spark.functions.expressions import (
    term_split,
    term_split_sql,
    topk_per_key,
)
from ai_data_pipeline_spark.operators.similarity import (
    _cos_sql,
    _cosine_udf,
)
from ai_data_pipeline_spark.operators.text import MIN_TERM_LEN
from ai_data_pipeline_spark.registry import QueryDef

RRF_N_QUERIES = 4  # doc_id < 4 are the query-by-example documents
RRF_MAX_QTERMS = 64  # per-query keyword budget (highest-idf terms)
RRF_DEPTH = 20  # depth of each ranked list entering the fusion
RRF_K = 60  # the canonical RRF dampening constant
RRF_TOP = 10  # fused results returned per query


def _doc_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, term) presence pairs — the inverted-index
    relation. One map-side explode + one distinct shuffle."""
    return (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(term_split("text")).alias("term"),
        )
        .filter(F.length("term") >= MIN_TERM_LEN)
        .distinct()
    )


def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of lexical and embedding retrieval: for
    each query document, rank the candidate corpus (documents that
    carry an embedding) twice — (a) sparse: sum of integer-idf weights
    over shared distinct terms, (b) dense: embedding cosine — and fuse
    with RRF(d) = Σ_lists 10⁶ div (60 + rank_list(d)), keeping the
    fused top RRF_TOP. Returns (q_id, doc_id, rk_sparse, rk_dense,
    rrf_ppm, rk); rk_sparse / rk_dense are null when the document
    reached the fused list through the other ranker only — exactly the
    complementary-evidence case RRF exists for."""
    # The inverted-index relation feeds THREE consumers (the df
    # aggregate, the query-term selection, the candidate side) and the
    # tokenization runs once per consumer. Checkpointing it was TRIED
    # and REVERTED in round-14: (doc_id, term) is a wide string
    # relation, and caching it measured 2.10 s vs 1.56 s inline — the
    # r9 minhash-digest lesson (codegen-fused recompute beats a wide
    # cache); the query-side consumers also prune to doc_id < 4 at the
    # scan, which a materialized relation cannot.
    terms = _doc_terms(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), F.col("embedding").alias("v")
    )
    nd = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    df_ = terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # per-query keyword set: top RRF_MAX_QTERMS terms by idf — the
    # LIMIT bound that makes the broadcast correct at any corpus size
    idf = F.expr("(2 * (n_docs - df) + 1) * 1000 div (2 * df + 1)")
    qterms = (
        terms.filter(F.col("doc_id") < RRF_N_QUERIES)
        .join(df_, "term")
        .crossJoin(F.broadcast(nd))
        .select(F.col("doc_id").alias("q_id"), "term", idf.alias("idf1000"))
    )
    qsel = topk_per_key(
        qterms, ["q_id"], [F.desc("idf1000"), F.asc("term")], RRF_MAX_QTERMS
    ).select("q_id", "term", "idf1000")

    cand_terms = terms.filter(F.col("doc_id") >= RRF_N_QUERIES).join(
        e.select("doc_id"), "doc_id", "left_semi"
    )
    sparse = (
        cand_terms.join(F.broadcast(qsel), "term")
        .groupBy("q_id", "doc_id")
        .agg(F.sum("idf1000").alias("sparse_fp"))
    )
    sparse_rank = topk_per_key(
        sparse, ["q_id"], [F.desc("sparse_fp"), F.asc("doc_id")], RRF_DEPTH
    ).select("q_id", "doc_id", F.col("rk").alias("rk_sparse"))

    qv = e.filter(F.col("doc_id") < RRF_N_QUERIES).select(
        F.col("doc_id").alias("q_id"), F.col("v").alias("qv")
    )
    dense = (
        e.filter(F.col("doc_id") >= RRF_N_QUERIES)
        .crossJoin(F.broadcast(qv))
        .select(
            "q_id",
            "doc_id",
            F.round(_cosine_udf("v", "qv"), 6).alias("cosine"),
        )
    )
    dense_rank = topk_per_key(
        dense, ["q_id"], [F.desc("cosine"), F.asc("doc_id")], RRF_DEPTH
    ).select("q_id", "doc_id", F.col("rk").alias("rk_dense"))

    rrf = F.coalesce(
        F.expr(f"1000000 div ({RRF_K} + rk_sparse)"), F.lit(0)
    ) + F.coalesce(F.expr(f"1000000 div ({RRF_K} + rk_dense)"), F.lit(0))
    fused = sparse_rank.join(dense_rank, ["q_id", "doc_id"], "full").select(
        "q_id", "doc_id", "rk_sparse", "rk_dense", rrf.alias("rrf_ppm")
    )
    return topk_per_key(
        fused, ["q_id"], [F.desc("rrf_ppm"), F.asc("doc_id")], RRF_TOP
    ).select("q_id", "doc_id", "rk_sparse", "rk_dense", "rrf_ppm", "rk")


def _rrf_oracle() -> str:
    cos = _cos_sql("e.v", "q.qv")
    return f"""
WITH terms AS (
  SELECT DISTINCT doc_id, term FROM (
    SELECT doc_id,
           unnest({term_split_sql('text')}) AS term
    FROM documents)
  WHERE length(term) >= {MIN_TERM_LEN}
), nd AS (
  SELECT count(*) AS n_docs FROM documents
), df AS (
  SELECT term, count(*) AS df FROM terms GROUP BY term
), qsel AS (
  SELECT q_id, term, idf1000 FROM (
    SELECT t.doc_id AS q_id, t.term,
           (2 * (n_docs - df) + 1) * 1000 // (2 * df + 1) AS idf1000,
           row_number() OVER (PARTITION BY t.doc_id
             ORDER BY (2 * (n_docs - df) + 1) * 1000 // (2 * df + 1) DESC,
                      t.term ASC) AS rk
    FROM terms t JOIN df USING (term) CROSS JOIN nd
    WHERE t.doc_id < {RRF_N_QUERIES}
  ) WHERE rk <= {RRF_MAX_QTERMS}
), cand AS (
  SELECT t.doc_id, t.term FROM terms t
  WHERE t.doc_id >= {RRF_N_QUERIES}
    AND t.doc_id IN (SELECT vec_id FROM embeddings)
), sparse_rank AS (
  SELECT q_id, doc_id, rk AS rk_sparse FROM (
    SELECT q_id, doc_id, sparse_fp,
           row_number() OVER (PARTITION BY q_id
             ORDER BY sparse_fp DESC, doc_id ASC) AS rk
    FROM (
      SELECT s.q_id, c.doc_id, CAST(sum(s.idf1000) AS BIGINT) AS sparse_fp
      FROM cand c JOIN qsel s USING (term)
      GROUP BY s.q_id, c.doc_id)
  ) WHERE rk <= {RRF_DEPTH}
), ev AS (
  SELECT vec_id AS doc_id, embedding::DOUBLE[] AS v FROM embeddings
), dense_rank AS (
  SELECT q_id, doc_id, rk AS rk_dense FROM (
    SELECT q_id, doc_id, cosine,
           row_number() OVER (PARTITION BY q_id
             ORDER BY cosine DESC, doc_id ASC) AS rk
    FROM (
      SELECT q.doc_id AS q_id, e.doc_id, round({cos}, 6) AS cosine
      FROM ev e
      CROSS JOIN (SELECT doc_id, v AS qv FROM ev
                  WHERE doc_id < {RRF_N_QUERIES}) q
      WHERE e.doc_id >= {RRF_N_QUERIES})
  ) WHERE rk <= {RRF_DEPTH}
), fused AS (
  SELECT coalesce(s.q_id, d.q_id) AS q_id,
         coalesce(s.doc_id, d.doc_id) AS doc_id,
         s.rk_sparse, d.rk_dense,
         coalesce(1000000 // ({RRF_K} + s.rk_sparse), 0)
         + coalesce(1000000 // ({RRF_K} + d.rk_dense), 0) AS rrf_ppm
  FROM sparse_rank s
  FULL OUTER JOIN dense_rank d
    ON s.q_id = d.q_id AND s.doc_id = d.doc_id
)
SELECT q_id, doc_id, rk_sparse, rk_dense, rrf_ppm, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
    ORDER BY rrf_ppm DESC, doc_id ASC) AS rk
  FROM fused
) WHERE rk <= {RRF_TOP}
"""


MMR_N_QUERIES = 4  # vec_id < 4 are the query vectors
MMR_POOL = 16  # relevance-ranked candidate pool entering the selection
MMR_SELECT = 5  # diverse results returned per query
MMR_LAMBDA_PPM = 700_000  # λ in ppm: 0.7·relevance − 0.3·redundancy

# micro-unit conversion of a 6-decimal-rounded cosine: ×10⁶ then round
# to the nearest integer. Both engines run the identical double ops
# (the ×10⁶ product of a 6-decimal value is integral up to one ulp, so
# the final round is deterministic), after which ALL selection
# arithmetic is exact int64.
_REL_U = "CAST(round(cosine * 1000000, 0) AS BIGINT)"


def retrieval_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diverse selection (Carbonell &
    Goldstein 1998): from each query's relevance-ranked candidate pool,
    greedily pick MMR_SELECT results maximizing
    λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s) — the de-duplicating
    re-rank that keeps a retrieval page (or a training-batch exemplar
    set) from filling up with near-copies of one hit. Pick 1 is the
    pure-relevance argmax (max over the empty selected set is defined
    as 0); ties break on vec_id.

    Exactness: cosines round to 6 decimals (cross-engine IEEE-identical
    — similarity.py header), convert once to integer micro-units, and
    every subsequent score is exact int64 (|λppm·rel_u| ≤ 10¹²);
    row-value tie-breaks are total, so the greedy trajectory is fully
    deterministic in both engines.

    Scale: candidate generation is the tournament top-MMR_POOL against
    a broadcast constant-size query set — the ann_cosine_topk plan.
    Everything after operates on the pooled relation
    (|queries|·MMR_POOL rows — a CONSTANT independent of corpus size,
    localCheckpointed so its three consumers re-read a materialized
    block instead of re-scanning the corpus). The greedy selection
    itself is inherently sequential per query over that bounded pool,
    so it runs as ONE `applyInPandas` over q_id groups (pool rows ∪
    pairwise-sim rows in a single keyed exchange) doing exact integer
    arithmetic in Python — one shuffle replaces MMR_SELECT−1 unrolled
    join+aggregate rounds (measured 4.9 s → the join ladder's ~25
    fixed-overhead stages dominated at sf0.1). Cosines stay in the
    proven cross-engine path (pandas_udf fold, rounded to 6 decimals)
    BEFORE the apply, so the Python stage touches only int64 values.
    No window, join, or broadcast ever scales with the corpus beyond
    the initial tournament."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    q = e.filter(F.col("vec_id") < MMR_N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    scored = (
        e.filter(F.col("vec_id") >= MMR_N_QUERIES)
        .crossJoin(F.broadcast(q))
        .select(
            "q_id",
            "vec_id",
            "v",
            F.round(_cosine_udf("v", "qv"), 6).alias("cosine"),
        )
    )
    pool = (
        topk_per_key(
            scored, ["q_id"], [F.desc("cosine"), F.asc("vec_id")], MMR_POOL
        )
        .select("q_id", "vec_id", "v", F.expr(_REL_U).alias("rel_u"))
        .localCheckpoint()
    )
    pa, pb = pool.alias("a"), pool.alias("b")
    pairs = pa.join(
        pb,
        (F.col("a.q_id") == F.col("b.q_id"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.q_id").alias("q_id"),
        F.col("a.vec_id").alias("a"),
        F.col("b.vec_id").alias("b"),
        F.round(F.round(_cosine_udf("a.v", "b.v"), 6) * 1_000_000, 0)
        .cast("bigint")
        .alias("sim_u"),
    )
    both = pool.select(
        "q_id",
        F.col("vec_id").alias("a"),
        F.lit(None).cast("bigint").alias("b"),
        F.col("rel_u").alias("val"),
    ).unionByName(pairs.select("q_id", "a", "b", F.col("sim_u").alias("val")))

    def greedy(pdf):
        import pandas as pd

        rel = {
            int(r.a): int(r.val)
            for r in pdf[pdf.b.isna()].itertuples()
        }
        sim: dict[tuple[int, int], int] = {}
        for r in pdf[pdf.b.notna()].itertuples():
            sim[(int(r.a), int(r.b))] = int(r.val)
        q_id = int(pdf.q_id.iloc[0])
        lam, lam_c = MMR_LAMBDA_PPM, 1_000_000 - MMR_LAMBDA_PPM
        selected: list[int] = []
        out = []
        while len(selected) < min(MMR_SELECT, len(rel)):
            best = None
            for d, r in rel.items():
                if d in selected:
                    continue
                ms = max((sim[(d, s)] for s in selected), default=0)
                score = lam * r - lam_c * ms if selected else lam * r
                key = (score, -d)
                if best is None or key > best[0]:
                    best = (key, d, r, ms if selected else 0, score)
            out.append(
                (q_id, len(selected) + 1, best[1], best[2], best[3], best[4])
            )
            selected.append(best[1])
        return pd.DataFrame(
            out,
            columns=["q_id", "pick", "vec_id", "rel_u", "maxsim_u", "mmr_score"],
        )

    return both.groupBy("q_id").applyInPandas(
        greedy,
        schema=(
            "q_id long, pick int, vec_id long, rel_u long,"
            " maxsim_u long, mmr_score long"
        ),
    )


def _mmr_oracle() -> str:
    lam = MMR_LAMBDA_PPM
    lam_c = 1_000_000 - MMR_LAMBDA_PPM
    cos_q = _cos_sql("e.v", "q.qv")
    cos_p = _cos_sql("a.v", "b.v")
    sql = f"""
WITH ev AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), qv AS (
  SELECT vec_id AS q_id, v AS qv FROM ev WHERE vec_id < {MMR_N_QUERIES}
), scored AS (
  SELECT q.q_id, e.vec_id, e.v, round({cos_q}, 6) AS cosine
  FROM ev e CROSS JOIN qv q WHERE e.vec_id >= {MMR_N_QUERIES}
), pool AS (
  SELECT q_id, vec_id, v, {_REL_U} AS rel_u FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
      ORDER BY cosine DESC, vec_id ASC) AS rk
    FROM scored
  ) WHERE rk <= {MMR_POOL}
), pairs AS (
  SELECT a.q_id, a.vec_id AS a, b.vec_id AS b,
         CAST(round(round({cos_p}, 6) * 1000000, 0) AS BIGINT) AS sim_u
  FROM pool a JOIN pool b
    ON a.q_id = b.q_id AND a.vec_id <> b.vec_id
), sel1 AS (
  SELECT q_id, vec_id, 1 AS pick, rel_u, CAST(0 AS BIGINT) AS maxsim_u,
         CAST({lam} * rel_u AS BIGINT) AS score
  FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
      ORDER BY rel_u DESC, vec_id ASC) AS rk
    FROM pool
  ) WHERE rk = 1
)"""
    prev = "sel1"
    for t in range(2, MMR_SELECT + 1):
        sql += f""", ms{t} AS (
  SELECT p.q_id, p.a AS vec_id, max(p.sim_u) AS maxsim_u
  FROM pairs p JOIN {prev} s ON p.q_id = s.q_id AND p.b = s.vec_id
  GROUP BY 1, 2
), s{t} AS (
  SELECT q_id, vec_id, {t} AS pick, rel_u, maxsim_u, score FROM (
    SELECT c.q_id, c.vec_id, c.rel_u, m.maxsim_u,
           CAST({lam} * c.rel_u - {lam_c} * m.maxsim_u AS BIGINT) AS score,
           row_number() OVER (PARTITION BY c.q_id
             ORDER BY {lam} * c.rel_u - {lam_c} * m.maxsim_u DESC,
                      c.vec_id ASC) AS rk
    FROM pool c JOIN ms{t} m ON m.q_id = c.q_id AND m.vec_id = c.vec_id
    WHERE NOT EXISTS (SELECT 1 FROM {prev} s
                      WHERE s.q_id = c.q_id AND s.vec_id = c.vec_id)
  ) WHERE rk = 1
), sel{t} AS (
  SELECT * FROM {prev} UNION ALL SELECT * FROM s{t}
)"""
        prev = f"sel{t}"
    return sql + (
        f"\nSELECT q_id, pick, vec_id, rel_u, maxsim_u,"
        f" score AS mmr_score FROM {prev}"
    )


import math as _math

# Position-discount weights for DCG, precomputed in PYTHON as integer
# micro-units (floor(1e6 / log2(i+1))) and interpolated as LITERALS
# into both engines — log2 never evaluates at query time, so the
# transcendental can't introduce cross-engine drift (the unigram-LM
# "no transcendentals in the plan" discipline applied to IR metrics).
# Derived from similarity.TOP_K so a k bump regenerates the table —
# a hardcoded 1..5 range would zero-weight ranks 6..k IDENTICALLY in
# both engines, a wrong-metric class the oracle cannot catch.
from ai_data_pipeline_spark.operators.similarity import TOP_K as _ANN_TOP_K

_DCG_W = {
    i: _math.floor(1_000_000 / _math.log2(i + 1))
    for i in range(1, _ANN_TOP_K + 1)
}


def _w_case(rank_col: str) -> str:
    """The discount table as one CASE expression over ``rank_col`` —
    the SINGLE source both engines interpolate (no string surgery)."""
    return (
        f"CASE {rank_col} "
        + " ".join(f"WHEN {i} THEN {w}" for i, w in _DCG_W.items())
        + " ELSE 0 END"
    )


def retrieval_ranking_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IR-evaluation closure for the ANN tier: MRR, DCG@k and nDCG@k of
    the IVF-routed ranking (ann_ivf) against the exact brute-force
    top-k (ann_cosine_topk) as graded ground truth — the measurement a
    100 TB index build reads BEFORE trusting cell routing in a RAG
    serving path, completing the audit set next to the set-overlap
    recall audits (ann_ivf_recall counts hits; this scores POSITIONS).

    Graded relevance of corpus vector v for query q is
    rel = k + 1 - exact_rank (5..1, 0 if outside the exact top-k), so
    the exact list in rank order IS the ideal ordering and
    IDCG = sum(rel_rk * W_rk) needs no extra sort. All metric
    arithmetic is exact integers: micro-unit discount weights (table
    above), mrr_ppm = 1e6 div first-relevant rank, ndcg_ppm =
    dcg * 1e6 div idcg — both rankings have DuckDB oracles, so every
    output digit is oracle-checked (no tolerance flags needed).

    Scale: composes two bounded plans; the reconciliation joins two
    k-rows-per-query relations and aggregates per query — negligible
    at any corpus size. The exact top-k relation (k·|queries| rows) is
    materialized once for its two consumers (the IDCG aggregate and
    the scored join) so the brute-force scoring pass runs exactly
    once; queries whose IVF list is EMPTY still emit a row with zero
    metrics via the idcg-side left join — the audit must surface the
    worst-routed queries, not drop them (live when pointed at a
    trained index whose cells can be empty)."""
    from ai_data_pipeline_spark.operators.similarity import (
        TOP_K,
        ann_cosine_topk,
        ann_ivf,
    )

    exact = (
        ann_cosine_topk(spark, sf_dir)
        .select(
            "q_id",
            "vec_id",
            (F.lit(TOP_K + 1) - F.col("rk")).alias("rel"),
            F.expr(_w_case("rk")).alias("w_ideal"),
        )
        .localCheckpoint()
    )
    idcg = exact.groupBy("q_id").agg(
        F.sum(F.col("rel") * F.col("w_ideal")).alias("idcg_micro")
    )
    ivf = ann_ivf(spark, sf_dir).select("q_id", "vec_id", "rk")
    scored = ivf.join(
        exact.select("q_id", "vec_id", "rel"), ["q_id", "vec_id"], "left"
    ).select(
        "q_id",
        "rk",
        F.coalesce("rel", F.lit(0)).alias("rel"),
        F.expr(_w_case("rk")).alias("w"),
    )
    per_q = scored.groupBy("q_id").agg(
        F.sum((F.col("rel") > 0).cast("long")).alias("n_rel"),
        F.sum(F.col("rel") * F.col("w")).alias("dcg_micro"),
        F.min(F.when(F.col("rel") > 0, F.col("rk"))).alias("first_rel"),
    )
    return (
        idcg.join(per_q, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_rel", F.lit(0)).alias("n_rel"),
            F.coalesce(
                F.expr("1000000 div first_rel"), F.lit(0)
            ).alias("mrr_ppm"),
            F.coalesce("dcg_micro", F.lit(0)).alias("dcg_micro"),
            "idcg_micro",
            F.coalesce(
                F.expr("dcg_micro * 1000000 div nullif(idcg_micro, 0)"),
                F.lit(0),
            ).alias("ndcg_ppm"),
        )
    )


def _ranking_metrics_oracle() -> str:
    from ai_data_pipeline_spark.operators.similarity import (
        ANN_TOPK_ORACLE,
        TOP_K,
        _ann_ivf_oracle,
    )

    return f"""
WITH ex AS ({ANN_TOPK_ORACLE}),
iv AS ({_ann_ivf_oracle()}),
exr AS (
  SELECT q_id, vec_id, {TOP_K} + 1 - rk AS rel, {_w_case("rk")} AS w_ideal
  FROM ex
),
idcg AS (
  SELECT q_id, CAST(sum(rel * w_ideal) AS BIGINT) AS idcg_micro
  FROM exr GROUP BY 1
),
scored AS (
  SELECT iv.q_id, iv.rk, coalesce(exr.rel, 0) AS rel,
         {_w_case("iv.rk")} AS w
  FROM iv LEFT JOIN exr ON iv.q_id = exr.q_id AND iv.vec_id = exr.vec_id
),
per_q AS (
  SELECT q_id,
         CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
         CAST(sum(rel * w) AS BIGINT) AS dcg_micro,
         min(CASE WHEN rel > 0 THEN rk END) AS first_rel
  FROM scored GROUP BY 1
)
SELECT i.q_id,
       CAST(coalesce(p.n_rel, 0) AS BIGINT) AS n_rel,
       CAST(coalesce(1000000 // p.first_rel, 0) AS BIGINT) AS mrr_ppm,
       CAST(coalesce(p.dcg_micro, 0) AS BIGINT) AS dcg_micro,
       i.idcg_micro,
       CAST(coalesce(p.dcg_micro * 1000000 // nullif(i.idcg_micro, 0), 0)
            AS BIGINT) AS ndcg_ppm
FROM idcg i LEFT JOIN per_q p ON p.q_id = i.q_id
"""


QUERY_DEFS = [
    QueryDef("retrieval_rrf_fusion", retrieval_rrf_fusion, _rrf_oracle()),
    QueryDef("retrieval_mmr_select", retrieval_mmr_select, _mmr_oracle()),
    QueryDef(
        "retrieval_ranking_metrics",
        retrieval_ranking_metrics,
        _ranking_metrics_oracle(),
    ),
]
