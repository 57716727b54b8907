"""Similarity search over the embeddings table (north-star extension).

- ``ann_cosine_topk``: exact brute-force top-k neighbors for a small query
  set. The query side is broadcast, so the big side streams once with no
  shuffle of the corpus; ranking is a per-query window top-k. This is the
  100 TB baseline: cost = |corpus| × |queries| × dim, embarrassingly
  parallel.
- ``ann_lsh_buckets``: random-hyperplane LSH. Hyperplane coefficients are
  derived from pure-integer arithmetic (LCG-style), so both engines
  compute bit-identical planes; bucket = sign-bit signature. At scale,
  top-k runs within buckets only.
- ``ann_ivf``: inverted-file ANN — coarse-quantize the corpus into cells,
  probe only the query's nearest cells.
- ``dedup_embedding_cosine``: embedding near-duplicate pairs (the exact
  verification primitive of embedding dedup).

Execution strategy — why pandas UDFs here and nowhere else in the repo:
dense dot products are the one workload where Spark SQL expressions lose.
A 64-term unrolled Add chain compiles into a single generated method that
blows past the JIT's huge-method bytecode limit, so the hot loop runs in
the JVM *bytecode interpreter* (~30× slower, measured); the higher-order
alternative (``aggregate(zip_with(...))``) is interpreted per element and
is just as slow. An Arrow-batched numpy kernel does the same math
vectorized across rows.

Float determinism (oracle = DuckDB ``list_reduce`` left-fold): the numpy
kernels accumulate with an explicit sequential fold over dimensions —
``acc += a[:, i] * b[:, i]`` for i = 0..63 — which is exactly the IEEE
op order ((((0 + t0) + t1) + t2)…) of the oracle's fold, vectorized over
the row axis. float32→float64 casts are exact; cosines are rounded to
6 dp for output. Rank ties break on vec_id.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, GroupedData, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, LongType

from ai_data_pipeline_spark.catalog import load_table
from ai_data_pipeline_spark.functions import spread, topk_per_key as _topk_per_key
from ai_data_pipeline_spark.registry import QueryDef

N_QUERIES = 10  # vec_id < 10 are the query vectors
TOP_K = 5
LSH_BITS = 12
EMB_DIM = 64
N_CELLS = 8  # IVF coarse centroids
N_PROBE = 2  # cells probed per query


def _fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot product as a sequential left-fold over dimensions:
    same IEEE op order as the oracle's list_reduce, vectorized over rows.
    (np.dot/BLAS would reorder the summation — not bit-stable across
    engines.)"""
    acc = np.zeros(a.shape[0], dtype=np.float64)
    for i in range(a.shape[1]):
        acc = acc + a[:, i] * b[:, i]
    return acc


def _stack(series: pd.Series) -> np.ndarray:
    return np.stack(series.to_numpy()).astype(np.float64)


@pandas_udf(DoubleType())
def _cosine_udf(va: pd.Series, vb: pd.Series) -> pd.Series:
    if len(va) == 0:
        return pd.Series(np.zeros(0, dtype=np.float64))
    a, b = _stack(va), _stack(vb)
    cos = _fold_dot(a, b) / (np.sqrt(_fold_dot(a, a)) * np.sqrt(_fold_dot(b, b)))
    return pd.Series(cos)


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )


def _split(rel: DataFrame, *q_cols: Column) -> tuple[DataFrame, DataFrame]:
    """(corpus, queries) of a vector relation: vec_id < N_QUERIES are the
    query vectors, every other row is the corpus. Given ``q_cols``, the
    query side is projected to (q_id, *q_cols); otherwise it is whole."""
    queries = rel.filter(F.col("vec_id") < N_QUERIES)
    if q_cols:
        queries = queries.select(F.col("vec_id").alias("q_id"), *q_cols)
    return rel.filter(F.col("vec_id") >= N_QUERIES), queries


def _standin(rel: DataFrame, n: int, *cols: Column | str) -> DataFrame:
    """The first ``n`` corpus rows (N_QUERIES <= vec_id < N_QUERIES + n)
    projected to ``cols``: the deterministic stand-in model (centroids,
    codewords) that keeps the ANN tier oracle-checkable end to end. At
    100 TB the model comes from k-means on a sample instead
    (``_trained_centroids``, ``_trained_codebook``)."""
    return rel.filter(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + n)
    ).select(*cols)


def _cos_cents(e: DataFrame) -> DataFrame:
    """Stand-in cosine centroids (cell_id = vec_id, cv) of ``_vectors``."""
    return _standin(
        e, N_CELLS, F.col("vec_id").alias("cell_id"), F.col("v").alias("cv")
    )


def _assign_cos(
    rel: DataFrame, cents: DataFrame, keys: list[str], payload: list[str]
) -> DataFrame:
    """Nearest-centroid cell of every row of ``rel`` (column v) against
    the broadcast (cell_id, cv) table, cos desc then cell_id asc, as
    (*keys, *payload, cell_id). It is a max_by aggregate over ``keys``,
    not a row_number window: the map-side partial combine collapses the
    N_CELLS candidate rows per key before the exchange, so ONE copy of
    each row (with its payload) rides the shuffle and nothing sorts."""
    scored = rel.crossJoin(F.broadcast(cents)).select(
        *keys, *payload, "cell_id", _cosine_udf("v", "cv").alias("c_cos")
    )
    # argmax ordered by (c_cos, -cell_id) lexicographic
    order = F.struct(F.col("c_cos").alias("c"), (-F.col("cell_id")).alias("nc"))
    if not payload:
        return scored.groupBy(*keys).agg(
            F.max_by(F.col("cell_id"), order).alias("cell_id")
        )
    return (
        scored.groupBy(*keys)
        .agg(F.max_by(F.struct("cell_id", *payload), order).alias("best"))
        .select(
            *keys,
            *[F.col(f"best.{c}").alias(c) for c in payload],
            F.col("best.cell_id").alias("cell_id"),
        )
    )


def _member(df: DataFrame, flag: str) -> DataFrame:
    """(q_id, vec_id, ``flag`` = 1): a top-k result as a membership
    relation for ``_reconcile``."""
    return df.select("q_id", "vec_id", F.lit(1).alias(flag))


def _reconcile(*rels: DataFrame) -> GroupedData:
    """Full-outer join of ``_member`` relations on (q_id, vec_id),
    grouped per query for ``_hits`` counts. Every side is |queries|·k
    rows, so the reconciliation is negligible at any corpus size."""
    return reduce(
        lambda a, b: a.join(b, ["q_id", "vec_id"], "full_outer"), rels
    ).groupBy("q_id")


def _hits(*flags: str) -> Column:
    """Per-query count of the pairs present in every flagged relation."""
    return F.sum(
        reduce(lambda a, b: a * b, [F.coalesce(f, F.lit(0)) for f in flags])
    )


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, q = _split(_vectors(spark, sf_dir), F.col("v").alias("qv"))
    pairs = corpus.crossJoin(F.broadcast(q))
    scored = pairs.select(
        "q_id", "vec_id", F.round(_cosine_udf("v", "qv"), 6).alias("cosine")
    )
    return _topk_per_key(
        scored, ["q_id"], [F.desc("cosine"), F.asc("vec_id")], TOP_K
    ).select("q_id", "vec_id", "cosine", "rk")


ANN_TOPK_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), q AS (
  SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q_id, e.vec_id,
    round(
      list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, {EMB_DIM}+1), i -> v[i]*qv[i])), (a,b) -> a+b)
      / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, {EMB_DIM}+1), i -> v[i]*v[i])), (a,b) -> a+b))
       * sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, {EMB_DIM}+1), i -> qv[i]*qv[i])), (a,b) -> a+b))),
      6) AS cosine
  FROM e CROSS JOIN q WHERE e.vec_id >= {N_QUERIES}
)
SELECT q_id, vec_id, cosine, rk FROM (
  SELECT q_id, vec_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rk
  FROM scored
) WHERE rk <= {TOP_K}
"""


def _plane_coef(j: int, i: int) -> int:
    """Deterministic pseudo-random hyperplane coefficient in [-32768, 32767]
    from pure integer arithmetic (identical in any engine / language)."""
    return ((1103515245 * (j * EMB_DIM + i) + 12345) % 65536) - 32768


_PLANES = np.array(
    [[_plane_coef(j, i) for i in range(EMB_DIM)] for j in range(LSH_BITS)],
    dtype=np.float64,
)


@pandas_udf(LongType())
def _lsh_bucket_udf(va: pd.Series) -> pd.Series:
    """Sign-bit signature over the deterministic hyperplanes. The oracle's
    per-plane dot is a left-assoc sum of products (no 0.0 seed); starting
    the fold at +0.0 is IEEE-identical for the sign test."""
    if len(va) == 0:
        return pd.Series(np.zeros(0, dtype=np.int64))
    a = _stack(va)
    bucket = np.zeros(a.shape[0], dtype=np.int64)
    for j in range(LSH_BITS):
        acc = np.zeros(a.shape[0], dtype=np.float64)
        for i in range(EMB_DIM):
            acc = acc + a[:, i] * _PLANES[j, i]
        bucket |= (acc > 0).astype(np.int64) << j
    return pd.Series(bucket)


def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bit LSH bucketing: 12 deterministic hyperplanes -> bucket id;
    returns bucket histogram (the scale path runs top-k within buckets)."""
    e = _vectors(spark, sf_dir)
    return (
        e.select("vec_id", _lsh_bucket_udf("v").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"), F.min("vec_id").alias("min_vec_id"))
    )


def _lsh_oracle() -> str:
    bucket_terms = []
    for j in range(LSH_BITS):
        coefs = [_plane_coef(j, i) for i in range(EMB_DIM)]
        dot = " + ".join(f"v[{i + 1}]*({c}.0)" for i, c in enumerate(coefs))
        bucket_terms.append(f"CASE WHEN ({dot}) > 0 THEN {2**j} ELSE 0 END")
    bucket = " + ".join(bucket_terms)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT ({bucket}) AS bucket, count(*) AS n_vectors, min(vec_id) AS min_vec_id
FROM e GROUP BY 1
"""


_DOT_SQL = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform(range(1, {d}+1), i -> {a}[i]*{b}[i])), (x,y) -> x+y)"
)


def _cos_sql(a: str, b: str) -> str:
    dot = _DOT_SQL.format(d=EMB_DIM, a=a, b=b)
    na = _DOT_SQL.format(d=EMB_DIM, a=a, b=a)
    nb = _DOT_SQL.format(d=EMB_DIM, a=b, b=b)
    return f"({dot} / (sqrt({na}) * sqrt({nb})))"


def _ivf_search(corpus: DataFrame, q: DataFrame, cents: DataFrame) -> DataFrame:
    """The IVF serving plan, shared by the deterministic-centroid query
    (``ann_ivf``) and the MLlib-KMeans-trained variant
    (``ann_ivf_trained``): assign corpus vectors to their nearest
    centroid cell, probe each query's N_PROBE nearest cells, exact
    cosine top-k within probed cells only.

    Scale: cost drops from |corpus|x|queries| to |corpus|x|queries|x
    N_PROBE/N_CELLS; the centroid table is broadcast (tiny), the corpus
    shuffles once on cell (one copy per vector: ``_assign_cos``),
    queries are broadcast to their probed cells."""
    assigned = _assign_cos(corpus, cents, ["vec_id"], ["v"])
    # probe: each query -> N_PROBE nearest centroids
    wq = W.partitionBy("q_id").orderBy(F.desc("q_cos"), F.asc("cell_id"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select("q_id", "qv", "cell_id", _cosine_udf("qv", "cv").alias("q_cos"))
        .withColumn("prk", F.row_number().over(wq))
        .filter(F.col("prk") <= N_PROBE)
        .select("q_id", "qv", "cell_id")
    )
    # search within probed cells only
    wk = W.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        assigned.join(F.broadcast(probes), "cell_id")
        .select("q_id", "vec_id", F.round(_cosine_udf("v", "qv"), 6).alias("cosine"))
        .withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= TOP_K)
        .select("q_id", "vec_id", "cosine", "rk")
    )


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: corpus is coarse-quantized to N_CELLS
    centroid cells; each query probes its N_PROBE nearest cells and runs
    exact cosine top-k within them only (plan shape in ``_ivf_search``).

    Centroids are the first N_CELLS corpus vectors (deterministic
    stand-in that keeps the query oracle-checkable end to end; the
    trained path is ``ann_ivf_trained``, whose MLlib-KMeans centroids
    have no DuckDB counterpart and whose guarantees are therefore
    audited by ``ann_ivf_trained_recall`` instead)."""
    e = _vectors(spark, sf_dir)
    corpus, q = _split(e, F.col("v").alias("qv"))
    return _ivf_search(corpus, q, _cos_cents(e))


def _ann_ivf_oracle() -> str:
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), cents AS (
  SELECT vec_id AS cell_id, v AS cv FROM e
  WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + N_CELLS}
), assigned AS (
  SELECT vec_id, v, cell_id FROM (
    SELECT e.vec_id, e.v, cents.cell_id,
      row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY {_cos_sql("v", "cv")} DESC, cell_id ASC) AS crk
    FROM e CROSS JOIN cents WHERE e.vec_id >= {N_QUERIES}
  ) WHERE crk = 1
), probes AS (
  SELECT q_id, qv, cell_id FROM (
    SELECT e.vec_id AS q_id, e.v AS qv, cents.cell_id,
      row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY {_cos_sql("v", "cv")} DESC, cell_id ASC) AS prk
    FROM e CROSS JOIN cents WHERE e.vec_id < {N_QUERIES}
  ) WHERE prk <= {N_PROBE}
)
SELECT q_id, vec_id, cosine, rk FROM (
  SELECT p.q_id, a.vec_id, round({_cos_sql("a.v", "p.qv")}, 6) AS cosine,
    row_number() OVER (PARTITION BY p.q_id
                       ORDER BY round({_cos_sql("a.v", "p.qv")}, 6) DESC, a.vec_id ASC) AS rk
  FROM assigned a JOIN probes p ON a.cell_id = p.cell_id
) WHERE rk <= {TOP_K}
"""


def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality audit of the IVF path: per query, how much of the
    exact brute-force top-k does the cell-routed search recover? This
    is the measurement that validates the (N_CELLS, N_PROBE) routing
    choice before a 100 TB index build — the ANN-family analogue of
    dedup_lsh_recall (banding) and dedup_minhash_estimate (signature
    width), completing the audit-before-scale-up set. A miss means the
    true neighbor's cell was not probed; n_ivf < k means the probed
    cells held fewer than k candidates.

    Scale: composes two already-bounded plans (the tournament
    brute-force ranking and the broadcast-centroid IVF ranking) and
    reconciles two k-row-per-query relations with one full-outer
    equi-join + a query-keyed aggregate (``_reconcile``). Ratios
    integer ppm (div == // on non-negatives)."""
    exact = _member(ann_cosine_topk(spark, sf_dir), "e")
    ivf = _member(ann_ivf(spark, sf_dir), "i")
    return _reconcile(exact, ivf).agg(
        _hits("e").cast("long").alias("n_exact"),
        _hits("i").cast("long").alias("n_ivf"),
        _hits("e", "i").cast("long").alias("n_hit"),
        F.expr(
            "cast((sum(coalesce(e, 0) * coalesce(i, 0)) * 1000000)"
            " div nullif(sum(coalesce(e, 0)), 0) as bigint)"
        ).alias("recall_ppm"),
    )


def _ann_ivf_recall_oracle() -> str:
    return f"""
WITH ex AS ({ANN_TOPK_ORACLE}), iv AS ({_ann_ivf_oracle()}),
j AS (
  SELECT coalesce(ex.q_id, iv.q_id) AS q_id,
         CASE WHEN ex.vec_id IS NULL THEN 0 ELSE 1 END AS e,
         CASE WHEN iv.vec_id IS NULL THEN 0 ELSE 1 END AS i
  FROM ex FULL OUTER JOIN iv
    ON ex.q_id = iv.q_id AND ex.vec_id = iv.vec_id
)
SELECT q_id, CAST(sum(e) AS BIGINT) AS n_exact,
       CAST(sum(i) AS BIGINT) AS n_ivf,
       CAST(sum(e * i) AS BIGINT) AS n_hit,
       CAST((sum(e * i) * 1000000) // nullif(sum(e), 0) AS BIGINT)
         AS recall_ppm
FROM j GROUP BY q_id
"""


def ann_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-population balance audit — the THIRD leg of the
    index-build audit set (dedup_lsh_recall: banding; ann_ivf_recall:
    routing recall; this: partition skew). At 100 TB the IVF cell map
    IS the physical partitioning of the vector index: a hot cell is a
    straggler executor at build time and a tail-latency probe at serve
    time, and empty cells are wasted routing capacity that silently
    degrades effective N_PROBE. Emits every cell (empty ones included,
    via a left join from the centroid list): member count, corpus
    share, and load factor vs perfect balance (load_ppm = n·N_CELLS·10⁶
    // total — 10⁶ means perfectly balanced, 2·10⁶ a 2× hot cell).

    Scale: the assignment subtree is ann_ivf's (``_assign_cos``); the
    audit itself aggregates to N_CELLS rows before anything else
    touches it. The long arithmetic n·N_CELLS·10⁶ holds to ~5·10¹¹
    vectors per index shard (beyond that, shard the index — the audit
    then runs per shard anyway). Non-negative operands, so Spark's
    truncating div and DuckDB's flooring // agree."""
    e = _vectors(spark, sf_dir)
    cents = _cos_cents(e)
    corpus, _ = _split(e)
    assigned = _assign_cos(corpus, cents, ["vec_id"], [])
    sizes = assigned.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n_vecs"))
    return (
        cents.select("cell_id")
        .join(sizes, "cell_id", "left")
        .select("cell_id", F.coalesce("n_vecs", F.lit(0)).alias("n_vecs"))
        .withColumn("total", F.sum("n_vecs").over(W.partitionBy()))  # N_CELLS rows
        .select(
            "cell_id",
            "n_vecs",
            F.expr("(n_vecs * 1000000) div nullif(total, 0)").alias("share_ppm"),
            F.expr(
                f"(n_vecs * {N_CELLS} * 1000000) div nullif(total, 0)"
            ).alias("load_ppm"),
        )
    )


def _ann_ivf_balance_oracle() -> str:
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), cents AS (
  SELECT vec_id AS cell_id, v AS cv FROM e
  WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + N_CELLS}
), assigned AS (
  SELECT vec_id, cell_id FROM (
    SELECT e.vec_id, cents.cell_id,
      row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY {_cos_sql("v", "cv")} DESC, cell_id ASC) AS crk
    FROM e CROSS JOIN cents WHERE e.vec_id >= {N_QUERIES}
  ) WHERE crk = 1
), sizes AS (
  SELECT c.cell_id,
         CAST(coalesce(count(a.vec_id), 0) AS BIGINT) AS n_vecs
  FROM cents c LEFT JOIN assigned a ON a.cell_id = c.cell_id
  GROUP BY c.cell_id
), tot AS (SELECT sum(n_vecs) AS total FROM sizes)
SELECT cell_id, n_vecs,
       CAST((n_vecs * 1000000) // nullif(total, 0) AS BIGINT) AS share_ppm,
       CAST((n_vecs * {N_CELLS} * 1000000) // nullif(total, 0) AS BIGINT)
         AS load_ppm
FROM sizes CROSS JOIN tot
"""


def ann_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval — the canonical ANN serving plan: candidate
    generation via multi-probe sign-LSH (each query probes its own
    bucket plus all Hamming-distance-1 neighbors, 1 + LSH_BITS probe
    buckets), then exact cosine re-rank of the candidates only, top-k
    per query with the candidate count exposed (recall diagnostics).

    Scale: the corpus is bucketed once by the deterministic hyperplane
    signature (a projection — no shuffle until the bucket equi-join);
    the probe table is |queries|×(1+LSH_BITS) rows and broadcasts; the
    re-rank kernel touches only candidates, i.e. |corpus|·probes/2^bits
    in expectation instead of |corpus|×|queries|. A corpus vector has
    exactly one bucket and a query's probe buckets are distinct, so no
    pair is scored twice."""
    e = _vectors(spark, sf_dir)
    bucketed = e.select("vec_id", "v", _lsh_bucket_udf("v").alias("bucket"))
    corpus, queries = _split(bucketed)
    flips = F.array(F.lit(0), *[F.lit(1 << j) for j in range(LSH_BITS)])
    probes = (
        queries.select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("qv"),
            F.explode(flips).alias("flip"),
            "bucket",
        )
        .select(
            "q_id", "qv", F.col("bucket").bitwiseXOR(F.col("flip")).alias("pb")
        )
    )
    cand = corpus.join(
        F.broadcast(probes), F.col("bucket") == F.col("pb")
    ).select("q_id", "vec_id", F.round(_cosine_udf("v", "qv"), 6).alias("cosine"))
    # Count + rank share ONE q_id exchange (two window ops over the same
    # partitioning), so candidate generation — the expensive part — runs
    # exactly once. Unlike the brute-force tiers (whose scored relation
    # is |corpus|×|queries| and therefore runs the _topk_per_key
    # tournament), the per-query candidate set here is
    # corpus·probes/2^LSH_BITS, and LSH_BITS is the documented scale
    # lever that grows with the corpus to keep buckets executor-sized —
    # so per-query window state stays bounded by design and a
    # reducer-per-query over candidates is the intended plan.
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        cand.withColumn("n_cand", F.count(F.lit(1)).over(W.partitionBy("q_id")))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("q_id", "vec_id", "cosine", "rk", "n_cand")
    )


def _ann_rerank_oracle() -> str:
    bucket_terms = []
    for j in range(LSH_BITS):
        coefs = [_plane_coef(j, i) for i in range(EMB_DIM)]
        dot = " + ".join(f"v[{i + 1}]*({c}.0)" for i, c in enumerate(coefs))
        bucket_terms.append(f"CASE WHEN ({dot}) > 0 THEN {2**j} ELSE 0 END")
    bucket = " + ".join(bucket_terms)
    flips = ", ".join(str(1 << j) for j in range(LSH_BITS))
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), bucketed AS (
  SELECT vec_id, v, ({bucket}) AS bucket FROM e
), probes AS (
  SELECT vec_id AS q_id, v AS qv, xor(bucket, flip) AS pb
  FROM bucketed CROSS JOIN (SELECT unnest([0, {flips}]) AS flip)
  WHERE vec_id < {N_QUERIES}
), cand AS (
  SELECT p.q_id, c.vec_id, round({_cos_sql("c.v", "p.qv")}, 6) AS cosine
  FROM bucketed c JOIN probes p ON c.bucket = p.pb
  WHERE c.vec_id >= {N_QUERIES}
)
SELECT q_id, vec_id, cosine, rk, n_cand FROM (
  SELECT q_id, vec_id, cosine,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cosine DESC, vec_id ASC) AS rk,
         count(*) OVER (PARTITION BY q_id) AS n_cand
  FROM cand
) WHERE rk <= {TOP_K}
"""


NEAR_DUP_COS = 0.4  # report threshold (data max ~0.51 — no exact dups planted)
# Target rows per block for the all-pairs block decomposition: blocks
# are collect_list'd into single rows, so a block must stay
# executor-task-sized. The sf1 memory-pressure sweep (SCALING.md r11)
# showed the FIXED block count letting per-task matrices grow
# quadratically with corpus size; the count now scales so per-task
# work stays ~BLOCK_ROWS² regardless of corpus size.
DEDUP_EMB_BLOCK_ROWS = 1024




def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a < b) pairs with
    cosine >= NEAR_DUP_COS.

    Exact all-pairs via a distributed block-matrix join (the classic
    O(n²/B) decomposition): vectors hash into B blocks, the B·(B+1)/2
    unordered block pairs join, and each block pair runs one vectorized
    numpy kernel. Nothing is collected to the driver and no single task
    sees more than two blocks. B is SIZED FROM THE CORPUS COUNT
    (ceil(n / DEDUP_EMB_BLOCK_ROWS), min 8) so per-task matrices stay
    ~BLOCK_ROWS² at any corpus size — the r11 sf1 memory-pressure sweep
    caught the earlier fixed B=8 letting per-task work grow
    quadratically with n; the one-scalar count that sizes B is plan
    metadata, not a data collect. Total work is still O(n²) — exact
    all-pairs is quadratic BY DEFINITION; the LSH/IVF tiers
    (ann_lsh_buckets / ann_ivf) are the sub-quadratic approximate path,
    and this operator is the exact verify primitive one runs on
    bounded candidate sets or bounded corpora.
    """
    e = _vectors(spark, sf_dir)
    n = e.count()
    n_blocks = max(8, -(-n // DEDUP_EMB_BLOCK_ROWS))
    blocks = (
        e.select((F.col("vec_id") % n_blocks).alias("blk"), "vec_id", "v")
        .groupBy("blk")
        .agg(F.collect_list(F.struct("vec_id", "v")).alias("vecs"))
    )
    block_pairs = (
        blocks.alias("a")
        .join(blocks.alias("b"), F.col("a.blk") <= F.col("b.blk"))
        .select(
            F.col("a.blk").alias("blk_a"),
            F.col("a.vecs").alias("va"),
            F.col("b.blk").alias("blk_b"),
            F.col("b.vecs").alias("vb"),
        )
        .repartition(n_blocks * (n_blocks + 1) // 2)
    )
    # Kernel prefilter uses a small slack below the threshold on the RAW
    # cosine; the exact decision (half-up 6 dp round, >= threshold) is
    # re-applied Spark-side so semantics match the oracle bit-for-bit.
    raw_cut = NEAR_DUP_COS - 1e-6

    def gen(it):
        for pdf in it:
            for va, vb, same in zip(
                pdf["va"], pdf["vb"], (pdf["blk_a"] == pdf["blk_b"])
            ):
                ids_a = np.array([r["vec_id"] for r in va], dtype=np.int64)
                A = np.stack([np.asarray(r["v"], dtype=np.float64) for r in va])
                ids_b = np.array([r["vec_id"] for r in vb], dtype=np.int64)
                B = np.stack([np.asarray(r["v"], dtype=np.float64) for r in vb])
                nA = np.sqrt(_fold_dot(A, A))
                nB = np.sqrt(_fold_dot(B, B))
                # (N, M) dot accumulated as a sequential fold over dims —
                # per-pair IEEE order identical to the oracle's list_reduce
                # (commutative per-term products, same summation order both
                # orientations, so emitting min/max ids is bit-stable).
                acc = np.zeros((A.shape[0], B.shape[0]), dtype=np.float64)
                for i in range(EMB_DIM):
                    acc += A[:, i : i + 1] * B[:, i]
                cos = acc / (nA[:, None] * nB[None, :])
                if same:
                    # same block appears once: keep one orientation
                    keep = (ids_a[:, None] < ids_b[None, :]) & (cos >= raw_cut)
                else:
                    # cross-block pair rows exist once; either orientation
                    # may hold the smaller id — keep both, emit (min, max)
                    keep = (ids_a[:, None] != ids_b[None, :]) & (cos >= raw_cut)
                ai, bi = np.nonzero(keep)
                yield pd.DataFrame(
                    {
                        "vec_a": np.minimum(ids_a[ai], ids_b[bi]),
                        "vec_b": np.maximum(ids_a[ai], ids_b[bi]),
                        "raw_cos": cos[ai, bi],
                    }
                )

    pairs = block_pairs.mapInPandas(
        gen, schema="vec_a long, vec_b long, raw_cos double"
    )
    return (
        pairs.select("vec_a", "vec_b", F.round("raw_cos", 6).alias("cosine"))
        .filter(F.col("cosine") >= NEAR_DUP_COS)
    )


DEDUP_EMB_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT vec_a, vec_b, cosine FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round({_cos_sql("a.v", "b.v")}, 6) AS cosine
  FROM e a JOIN e b ON a.vec_id < b.vec_id
) WHERE cosine >= {NEAR_DUP_COS}
"""


def ann_mllib_brp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib BucketedRandomProjectionLSH similarity join — the
    off-the-shelf scale path (SURVEY.md §4.2/§7.5): fit random
    projections on the corpus, approx-join queries within a Euclidean
    distance threshold. Declared rows-only: MLlib's internal random
    projections are seed-deterministic inside Spark but have no DuckDB
    counterpart to hash-compare against."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        array_to_vector(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("features"),
    )
    corpus, q = _split(e)
    if corpus.isEmpty():
        # MLlib refuses to fit on zero rows; an empty index answers
        # every query with zero matches — return the declared schema
        return spark.createDataFrame(
            [], "q_id long, vec_id long, dist double"
        )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=2.0, numHashTables=4, seed=7
    )
    model = lsh.fit(corpus)
    joined = model.approxSimilarityJoin(q, corpus, BRP_THRESHOLD, distCol="dist")
    return joined.select(
        F.col("datasetA.vec_id").alias("q_id"),
        F.col("datasetB.vec_id").alias("vec_id"),
        F.round("dist", 6).alias("dist"),
    )


# ann_mllib_brp contract constants (shared with the recall audit below).
BRP_THRESHOLD = 12.0
# Measured BRP recall vs the exact within-threshold set: the worst
# per-query recall is 88.0% / 93.7% / 88.4% at sf0.001/0.01/0.1
# (numHashTables=4 OR-amplification, bucketLength 2.0; every returned
# pair verified in the exact set — zero false positives). The floor is
# set WELL below the measured minimum so only a genuinely broken index
# (wrong projections, dropped hash tables, bad bucketing) trips it —
# not dataset-level variation.
BRP_RECALL_MIN_PCT = 60


@pandas_udf(DoubleType())
def _l2_udf(va: pd.Series, vb: pd.Series) -> pd.Series:
    """Euclidean distance with the oracle's IEEE op order: a sequential
    left-fold of squared differences over dimensions (see module
    docstring), then one sqrt."""
    if len(va) == 0:
        return pd.Series(np.zeros(0, dtype=np.float64))
    d = _stack(va) - _stack(vb)
    return pd.Series(np.sqrt(_fold_dot(d, d)))


def ann_mllib_brp_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-bearing audit of ``ann_mllib_brp``: the BRP candidate
    pairs themselves are MLlib-seed-dependent (no DuckDB counterpart),
    but their GUARANTEES are exact integer predicates — the
    ``sketch_quantile_tolerance`` recipe applied to the MLlib path. Per query point:

    - ``n_exact``     — #corpus vectors within BRP_THRESHOLD Euclidean
                        distance (exact; the oracle recomputes it with
                        the identical left-fold op order).
    - ``subset_ok``   — every BRP candidate pair IS a within-threshold
                        pair (approxSimilarityJoin post-filters on the
                        true distance, so a violation means the join's
                        distance column or filter broke).
    - ``recall_ok``   — the BRP candidate set covers ≥ BRP_RECALL_MIN_PCT
                        of the exact set (vacuously true when the exact
                        set is empty). Deterministic per dataset: MLlib's
                        projections are seed-pinned (seed=7) and the data
                        is fixed, so the flag is stable across runs.

    Membership is defined by THIS query's exact fold — a knife-edge pair
    whose distance sits within float noise of the threshold could in
    principle flip between MLlib's sqdist order and the fold, but the
    flag thresholds leave orders-of-magnitude more margin than one pair.

    Scale: the exact side is the brute-force crossJoin against the
    broadcast bounded query set (the same 100 TB baseline shape as
    ann_cosine_topk); the BRP side joins candidate pairs back on
    (q_id, vec_id) — candidates are a few per query, so the join is a
    broadcast hash join at any corpus size."""
    corpus, q = _split(_vectors(spark, sf_dir), F.col("v").alias("qv"))
    exact = (
        corpus.crossJoin(F.broadcast(q))
        .select("q_id", "vec_id", _l2_udf("v", "qv").alias("dist"))
        .filter(F.col("dist") <= BRP_THRESHOLD)
        .select("q_id", "vec_id", F.lit(1).alias("in_exact"))
    )
    n_exact = exact.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_exact"))
    brp = ann_mllib_brp(spark, sf_dir).select("q_id", "vec_id")
    brp_stats = (
        brp.join(F.broadcast(exact), ["q_id", "vec_id"], "left")
        .groupBy("q_id")
        .agg(
            F.sum(F.coalesce("in_exact", F.lit(0))).alias("n_hit"),
            F.sum(F.when(F.col("in_exact").isNull(), 1).otherwise(0)).alias(
                "n_false"
            ),
        )
    )
    return (
        q.select("q_id")
        .join(n_exact, "q_id", "left")
        .join(brp_stats, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_exact", F.lit(0)).alias("n_exact"),
            (
                F.coalesce("n_hit", F.lit(0)) * 100
                >= F.coalesce("n_exact", F.lit(0)) * BRP_RECALL_MIN_PCT
            )
            .cast("int")
            .alias("recall_ok"),
            (F.coalesce("n_false", F.lit(0)) == 0).cast("int").alias("subset_ok"),
        )
    )


def _brp_recall_oracle() -> str:
    sq_dist = (
        "list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(1, {EMB_DIM}+1), "
        "i -> (v[i]-qv[i])*(v[i]-qv[i]))), (x,y) -> x+y)"
    )
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), q AS (
  SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}
), exact AS (
  SELECT q_id, e.vec_id
  FROM e CROSS JOIN q
  WHERE e.vec_id >= {N_QUERIES} AND sqrt({sq_dist}) <= {BRP_THRESHOLD}
)
SELECT q.q_id,
       count(exact.vec_id) AS n_exact,
       1 AS recall_ok,
       1 AS subset_ok
FROM q LEFT JOIN exact ON q.q_id = exact.q_id
GROUP BY q.q_id
"""


# Trained-IVF contract constants. The recall floor is CORPUS-level and
# set well below the measured mean (see ann_ivf_trained_recall
# docstring) so only a genuinely broken index build trips it: per-QUERY recall legitimately reaches 0/5 when both
# probed cells miss a neighbor's cell (N_PROBE=2 of N_CELLS=8 on
# structureless synthetic vectors), so a per-query floor would bake an
# expected failure into the flag.
IVF_TRAINED_SAMPLE_FRACTION = 0.5
IVF_TRAINED_SEED = 7
IVF_TRAINED_RECALL_MIN_PCT = 10


def _trained_centroids(spark: SparkSession, sf_dir: str) -> DataFrame | None:
    """Fit MLlib KMeans (k = N_CELLS, seed-pinned) on a seeded sample of
    the corpus and return the trained centroids as a broadcastable
    (cell_id, cv) relation — the real index-TRAINING pass that
    SCALING.md previously conceded was a deterministic first-k
    stand-in. At 100 TB the fit runs on the same kind of seeded sample
    (k-means cost is per-sample-row, not per-corpus-row) and the
    resulting centroid table is a fixed-size model artifact (N_CELLS x
    EMB_DIM doubles) that broadcasts to every executor; collecting it
    to the driver is collecting the MODEL, not data. The fit runs once
    per (session, sf_dir) — train-once/serve-many is the production
    contract (the cls_linear_score memoization discipline; the
    immutable-sf_dir assumption is documented there)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from ai_data_pipeline_spark.session import session_scoped_cache

    cache = session_scoped_cache(spark, "ivf_trained_centroids")
    if sf_dir in cache:
        return cache[sf_dir]

    e = _vectors(spark, sf_dir)
    corpus = e.filter(F.col("vec_id") >= N_QUERIES)

    def _feats(df: DataFrame) -> DataFrame:
        return df.select(
            array_to_vector(
                F.transform("v", lambda x: x.cast("double"))
            ).alias("features")
        )

    feats = _feats(
        corpus.sample(fraction=IVF_TRAINED_SAMPLE_FRACTION, seed=IVF_TRAINED_SEED)
    )
    # A tiny corpus can Bernoulli-sample to ZERO rows (the sample is a
    # cost optimization, not semantics): fall back to the full corpus;
    # if the corpus itself is empty, KMeans cannot fit — memoize None
    # and let the caller emit the declared empty result. k clamps to
    # the training row count so a 1-vector fallback still fits. Both
    # count actions run only on this memoized cold path.
    n = feats.count()
    if n == 0:
        feats = _feats(corpus)
        n = feats.count()
        if n == 0:
            cache[sf_dir] = None
            return None
    km = KMeans(
        k=min(N_CELLS, n),
        seed=IVF_TRAINED_SEED,
        maxIter=20,
        featuresCol="features",
    )
    model = km.fit(feats)
    cents = [
        (int(i), [float(x) for x in c])
        for i, c in enumerate(model.clusterCenters())
    ]
    cache[sf_dir] = spark.createDataFrame(
        cents, "cell_id long, cv array<double>"
    )
    return cache[sf_dir]


def ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF over MLlib-KMeans-TRAINED centroids — the production index
    build (train on a seeded sample, broadcast the centroid model,
    serve through the shared ``_ivf_search`` plan). Declared rows-only:
    the trained centroids are MLlib-internal (k-means|| init + Lloyd
    iterations) with no DuckDB counterpart to hash-compare against; the
    path's GUARANTEES are oracle-checked by ``ann_ivf_trained_recall``,
    the ``ann_mllib_brp``/``ann_mllib_brp_recall`` recipe."""
    corpus, q = _split(_vectors(spark, sf_dir), F.col("v").alias("qv"))
    cents = _trained_centroids(spark, sf_dir)
    if cents is None:
        # empty corpus: KMeans cannot fit and an empty index answers
        # every query with zero matches — return the declared schema
        # (emptiness is detected once inside the memoized trainer, so
        # the serving hot path runs zero extra actions)
        return spark.createDataFrame(
            [], "q_id long, vec_id long, cosine double, rk int"
        )
    return _ivf_search(corpus, q, cents)


def ann_ivf_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-bearing audit of ``ann_ivf_trained``: the trained-IVF
    top-k membership is MLlib-seed-dependent (no DuckDB counterpart),
    but its GUARANTEES are exact integer predicates against the
    brute-force relation. One corpus-level row:

    - ``n_queries`` / ``n_exact_total`` — exact top-k census from
      ``ann_cosine_topk`` (oracle recomputes both).
    - ``k_ok``   — no query received more than TOP_K trained-IVF rows.
    - ``recall_floor_ok`` — trained-IVF hits cover >=
      IVF_TRAINED_RECALL_MIN_PCT of the exact top-k mass CORPUS-WIDE.
      Measured on the pinned seed: 24/50, 26/50, 14/50 hits (48% /
      52% / 28%) at sf0.001/0.01/0.1 — structureless synthetic
      vectors give k-means no cluster advantage, and per-query recall
      legitimately reaches 0/5 when both probed cells miss, so the
      flag is corpus-level with a 10% floor (~3x under the worst
      measured mean): it trips on a broken index build (wrong
      centroids, dropped cells, bad routing), not on routing
      variation.

    Determinism: KMeans is seed-pinned on a seed-pinned sample with
    deterministic input partitioning, so the flags are a fixed property
    of each fixture — verified at all three SFs (the BRP_RECALL_MIN_PCT
    argument).

    Scale: composes two bounded plans and reconciles two k-row-per-query
    relations (``_reconcile``) — negligible at any corpus size."""
    exact = _member(ann_cosine_topk(spark, sf_dir), "e")
    trained = _member(ann_ivf_trained(spark, sf_dir), "i")
    per_q = _reconcile(exact, trained).agg(
        _hits("e").alias("ne"), _hits("i").alias("ni"), _hits("e", "i").alias("nh")
    )
    return _recall_floor(per_q, IVF_TRAINED_RECALL_MIN_PCT)


def _recall_floor(per_q: DataFrame, min_pct: int, *extra: Column) -> DataFrame:
    """The trained-model audits' corpus-level row over per-query exact
    (ne), served (ni) and hit (nh) counts: the exact top-k census, k_ok
    (no query served more than TOP_K rows) and recall_floor_ok (hits
    cover >= ``min_pct`` of the exact mass), then ``extra`` aggregates.
    Empty inputs coalesce to the vacuous 1."""
    return per_q.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.coalesce(F.sum("ne"), F.lit(0)).cast("long").alias("n_exact_total"),
        F.coalesce((F.max("ni") <= TOP_K).cast("int"), F.lit(1)).alias("k_ok"),
        F.coalesce(
            (F.sum("nh") * 100 >= F.sum("ne") * min_pct).cast("int"), F.lit(1)
        ).alias("recall_floor_ok"),
        *extra,
    )


def _ivf_trained_recall_oracle() -> str:
    return f"""
WITH ex AS ({ANN_TOPK_ORACLE})
SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries,
       CAST(count(*) AS BIGINT) AS n_exact_total,
       1 AS k_ok, 1 AS recall_floor_ok
FROM ex
"""


def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid accumulators in fixed-point: posexplode the
    vector, floor(value·10⁶) per dimension (float32→double is exact, so
    the long is engine-identical), sum per (label, dim). Integer sums
    are order-independent — no float-accumulation divergence — and
    mergeable, so this is the shape a distributed k-means/IVF training
    step reduces at 100 TB: shuffle carries one long per (label, dim),
    never vectors. The centroid itself is sum_fp / n / 10⁶ downstream."""
    e = load_table(spark, sf_dir, "embeddings")
    dims = e.select(
        "label", F.posexplode(F.col("embedding")).alias("pos", "val")
    ).select(
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.floor(F.col("val").cast("double") * 1_000_000).alias("fp"),
    )
    return dims.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n_vecs"), F.sum("fp").alias("sum_fp")
    )


EMB_CENTROID_ORACLE = """
WITH dims AS (
  SELECT label,
         generate_subscripts(embedding, 1) AS dim,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS fp
  FROM embeddings
)
SELECT label, dim, count(*) AS n_vecs, CAST(sum(fp) AS BIGINT) AS sum_fp
FROM dims GROUP BY label, dim
"""


KMEANS_K = 8
KMEANS_ITERS = 2
_FP = "CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)"


def _int_l2(a: str, b: str) -> str:
    """Integer squared-L2 fold over two ×10⁶ fixed-point array columns —
    bit-identical in both engines (diffs ≤ ~2·10⁶, squares ≤ 4·10¹², sum
    over 64 dims ≤ 3·10¹⁴ — far inside long range)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
        " cast(0 as bigint), (acc, t) -> acc + t)"
    )


def _vfp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ×10⁶ fixed-point embedding relation (vec_id, v_fp)."""
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(f"transform(embedding, x -> {_FP})").alias("v_fp")
    )


def _dist_duck(v: str, c: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, {EMB_DIM} + 1), i -> ({v}[i] - {c}[i]) * ({v}[i] - {c}[i]))), "
        f"(a, b) -> a + b)"
    )


def emb_kmeans_fixed_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means, 2 iterations, in pure fixed-point integers —
    the iterative-ML training loop exactly verified against SQL
    (vs. ann_ivf, whose centroids are a deterministic stand-in):
    vectors quantize to ×10⁶ longs; distances are integer folds;
    centroid updates are integer sums + floor division (the one shared
    float op, exact because sums stay < 2⁵³); ties break on cell id.

    Scale shape per iteration: assignment = broadcast-K cross join
    (|corpus|×K integer folds, no shuffle of the corpus); update =
    posexplode → groupBy (cell, dim) carrying one long per cell-dim —
    the emb_label_centroids reduce. The driver loops over iterations
    only; the same loop trains on 10⁹ vectors with K in the thousands
    (assignment then goes through the pandas-UDF kernel and AQE picks
    shuffle strategy, but the relation algebra is unchanged)."""
    assigned, _ = _lloyd_fp(_vfp(spark, sf_dir).localCheckpoint())
    return assigned.select("vec_id", "cell")


def _lloyd_fp(vecs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """KMEANS_ITERS fixed-point Lloyd iterations over ``vecs`` (vec_id,
    v_fp) from the first KMEANS_K vectors. Returns the last assignment
    (vec_id, v_fp, cell) and the centroids (cell, c_fp) updated from
    it."""
    cents = vecs.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cell"), F.col("v_fp").alias("c_fp")
    )
    assigned = None
    for _ in range(KMEANS_ITERS):
        # nearest-centroid assignment as a min_by aggregate: map-side
        # partials collapse the K candidates per vector pre-exchange
        assigned = (
            vecs.crossJoin(F.broadcast(cents))
            .withColumn("dist", F.expr(_int_l2("v_fp", "c_fp")))
            .groupBy("vec_id")
            .agg(
                F.min_by(
                    F.struct("cell", "v_fp"), F.struct("dist", "cell")
                ).alias("best")
            )
            .select(
                "vec_id",
                F.col("best.v_fp").alias("v_fp"),
                F.col("best.cell").alias("cell"),
            )
        )
        dims = assigned.select("cell", F.posexplode("v_fp").alias("dim", "val"))
        cell_dims = dims.groupBy("cell", "dim").agg(
            F.sum("val").alias("s"), F.count(F.lit(1)).alias("n")
        )
        cents = (
            cell_dims.withColumn(
                "c", F.floor(F.col("s") / F.col("n")).cast("long")
            )
            .groupBy("cell")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(dim, c))), t -> t.c)"
                ).alias("c_fp")
            )
        )
    return assigned, cents


def _kmeans_oracle() -> str:
    base = f"""
WITH vecs AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[], x -> {_FP}) AS v_fp
  FROM embeddings
), c0 AS (
  SELECT vec_id AS cell, v_fp AS c_fp FROM vecs WHERE vec_id < {KMEANS_K}
)"""
    prev = "c0"
    final_assign = None
    for it in range(KMEANS_ITERS):
        a = f"a{it + 1}"
        c = f"c{it + 1}"
        base += f""", {a} AS (
  SELECT vec_id, v_fp, cell FROM (
    SELECT v.vec_id, v.v_fp, k.cell,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {_dist_duck("v.v_fp", "k.c_fp")} ASC, k.cell ASC) AS rk
    FROM vecs v CROSS JOIN {prev} k
  ) WHERE rk = 1
)"""
        base += f""", {c} AS (
  SELECT cell,
         list(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) ORDER BY dim) AS c_fp
  FROM (
    SELECT cell, dim, sum(val) AS s, count(*) AS n FROM (
      SELECT cell, generate_subscripts(v_fp, 1) AS dim, unnest(v_fp) AS val
      FROM {a}
    ) GROUP BY cell, dim
  ) GROUP BY cell
)"""
        prev = c
        final_assign = a
    return base + f"\nSELECT vec_id, cell FROM {final_assign}"


def emb_scalar_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column (the 4×
    memory-compression step before a 100 TB ANN index is servable):
    global per-dimension min/max, then code = floor((x-min)*255 /
    (max-min)); emits per-dimension code-distribution stats.

    Scale: the per-dim stats aggregate is tiny (EMB_DIM rows — a
    map-side-combined shuffle whose reduce input is EMB_DIM×tasks);
    the stats table broadcasts back so encoding itself is map-side and
    streaming. The same double-precision formula runs in both engines,
    so codes are compared exactly (summed, not sampled)."""
    x = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.posexplode("embedding").alias("dim", "xf"))
        .select("vec_id", "dim", F.col("xf").cast("double").alias("x"))
    )
    stats = x.groupBy("dim").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    codes = x.join(F.broadcast(stats), "dim").select(
        "dim",
        F.when(
            F.col("mx") > F.col("mn"),
            F.floor(
                ((F.col("x") - F.col("mn")) * 255) / (F.col("mx") - F.col("mn"))
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("code"),
    )
    return codes.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("code").alias("min_code"),
        F.max("code").alias("max_code"),
        F.countDistinct("code").alias("n_distinct_codes"),
        F.sum("code").alias("sum_codes"),
    )


QUANTIZE_ORACLE = f"""
WITH x AS (
  SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN range(1, {EMB_DIM} + 1) t(i)
), stats AS (
  SELECT dim, min(x) AS mn, max(x) AS mx FROM x GROUP BY dim
), codes AS (
  SELECT x.dim,
         CAST(CASE WHEN mx > mn
              THEN floor(((x - mn) * 255) / (mx - mn))
              ELSE 0 END AS BIGINT) AS code
  FROM x JOIN stats ON x.dim = stats.dim
)
SELECT dim, count(*) AS n_vecs, min(code) AS min_code, max(code) AS max_code,
       count(DISTINCT code) AS n_distinct_codes, CAST(sum(code) AS BIGINT) AS sum_codes
FROM codes GROUP BY dim
"""


SEMDEDUP_COS = 0.35  # within-cell keep threshold (data max ~0.49 in-cell)


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster the
    embedding space into cells, compare pairs ONLY within a cell, and
    drop every vector that has a lower-id cell-mate above the cosine
    threshold — the representative kept per duplicate group is the
    minimum id.

    Scale shape: this is the production alternative to exact all-pairs
    (``dedup_embedding_cosine``) — clustering bounds the quadratic term
    to cell size. Centroids are the same deterministic stand-in as
    ``ann_ivf`` (first N_CELLS corpus vectors; at 100 TB they come from
    MLlib KMeans on a sample) and broadcast; the corpus streams once
    through assignment (map-side, no shuffle), then shuffles once on
    cell_id for the within-cell self-join. A skewed mega-cell falls back
    to the block-pair decomposition of ``dedup_embedding_cosine`` within
    the cell. Output: one row per vector with its cell, keep/drop
    decision, the keeper it duplicates (min lower-id neighbor above
    threshold), and how many lower-id near-dups it has.
    """
    e = _vectors(spark, sf_dir)
    assigned = _assign_cos(e, _cos_cents(e), ["vec_id"], ["v"])
    a, b = assigned.alias("a"), assigned.alias("b")
    dup_pairs = (
        a.join(
            b,
            (F.col("a.cell_id") == F.col("b.cell_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("b.vec_id").alias("vec_id"),
            F.col("a.vec_id").alias("lo_id"),
            F.round(_cosine_udf("a.v", "b.v"), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= SEMDEDUP_COS)
        .groupBy("vec_id")
        .agg(
            F.min("lo_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_dup_lower"),
        )
    )
    return assigned.join(dup_pairs, "vec_id", "left").select(
        "vec_id",
        "cell_id",
        F.col("keeper_id").isNull().alias("kept"),
        "keeper_id",
        F.coalesce("n_dup_lower", F.lit(0)).alias("n_dup_lower"),
    )


def _semdedup_oracle() -> str:
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), cents AS (
  SELECT vec_id AS cell_id, v AS cv FROM e
  WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + N_CELLS}
), assigned AS (
  SELECT vec_id, v, cell_id FROM (
    SELECT e.vec_id, e.v, cents.cell_id,
      row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY {_cos_sql("v", "cv")} DESC, cell_id ASC) AS crk
    FROM e CROSS JOIN cents
  ) WHERE crk = 1
), dup_pairs AS (
  SELECT vec_id, min(lo_id) AS keeper_id, count(*) AS n_dup_lower FROM (
    SELECT b.vec_id, a.vec_id AS lo_id,
           round({_cos_sql("a.v", "b.v")}, 6) AS cosine
    FROM assigned a JOIN assigned b
      ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
  ) WHERE cosine >= {SEMDEDUP_COS} GROUP BY vec_id
)
SELECT s.vec_id, s.cell_id, d.keeper_id IS NULL AS kept, d.keeper_id,
       coalesce(d.n_dup_lower, 0) AS n_dup_lower
FROM assigned s LEFT JOIN dup_pairs d ON s.vec_id = d.vec_id
"""


RP_DIM = 16  # Johnson-Lindenstrauss target dimensionality


def _rp_sign(j: int, i: int) -> int:
    """Deterministic ±1 Rademacher sign for output dim j, input dim i.

    Same LCG family as ``_plane_coef`` with a different increment so the
    projection matrix is independent of the LSH hyperplanes; generated
    once in Python and inlined as literals into BOTH engines' queries,
    so no runtime hash-function parity is assumed."""
    return 1 if ((1103515245 * (j * EMB_DIM + i) + 54321) % 65536) >= 32768 else -1


_RP_SIGNS = [[_rp_sign(j, i) for i in range(EMB_DIM)] for j in range(RP_DIM)]


def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed random projection (Achlioptas 2003 / Johnson-Lindenstrauss)
    of the embedding column to RP_DIM dimensions — the dimensionality
    reduction applied before sketch-heavy stages (LSH, clustering) when
    64 dims of float32 per vector is still too wide for a 100 TB shuffle.

    Exactness: vectors quantize to ×10⁶ longs (float32→double exact),
    the projection is a ±1-weighted integer sum per output dim (≤ 64 ·
    2·10⁶ — far inside long range), so both engines produce identical
    bigints.

    Scale shape: the ±1 matrix is a compile-time constant folded into
    the expression — the whole operator is one narrow map over the scan
    (no shuffle, no broadcast, no UDF; whole-stage codegen end to end).
    At 1000 executors this runs at scan speed and reduces downstream
    shuffle width 4×."""
    # One 2-D literal: transform over the matrix rows keeps the codegen
    # compact (measured ~10% faster and far less first-run JIT variance
    # than RP_DIM separate aggregate expressions).
    mat = (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{s}L" for s in row) + ")"
            for row in _RP_SIGNS
        )
        + ")"
    )
    return _vfp(spark, sf_dir).select(
        "vec_id",
        F.posexplode(
            F.expr(
                f"transform({mat}, row -> aggregate("
                "zip_with(v_fp, row, (x, s) -> x * s),"
                " cast(0 as bigint), (acc, t) -> acc + t))"
            )
        ).alias("out_dim", "proj_fp"),
    )


def _rp_oracle() -> str:
    sign_rows = ",\n    ".join(
        f"({j}, [{', '.join(str(s) for s in _RP_SIGNS[j])}])"
        for j in range(RP_DIM)
    )
    return f"""
WITH vecs AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[], x -> {_FP}) AS v_fp
  FROM embeddings
), signs(out_dim, s) AS (
  VALUES
    {sign_rows}
)
SELECT vec_id, out_dim,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
         list_transform(range(1, {EMB_DIM} + 1), i -> v_fp[i] * s[i])),
         (a, b) -> a + b) AS proj_fp
FROM vecs CROSS JOIN signs
"""


PQ_M = 4  # subspaces
PQ_K = 16  # codewords per subspace
PQ_SUB = EMB_DIM // PQ_M  # dims per subspace


def emb_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization encode (Jégou et al. 2011): split each
    vector into PQ_M subspaces and replace each subvector with the id
    of its nearest codeword — the 64× memory compression (256 B →
    PQ_M bytes) that makes a trillion-vector ANN index fit in RAM.

    The codebook is a deterministic stand-in (subvectors of the
    N_QUERIES..N_QUERIES+PQ_K-1 corpus vectors — at 100 TB it comes
    from per-subspace k-means on a sample, same as ``ann_ivf``'s note).
    Distances are integer L2 over ×10⁶ fixed-point subvectors, so the
    argmin (ties → lowest code) is engine-exact.

    Scale shape: the codebook (PQ_M·PQ_K tiny rows) broadcasts; the
    corpus explodes to one row per (vector, subspace) and the argmin is
    a map-side-combined ``min_by`` aggregate — corpus shuffles only
    (vec_id, m, dist, code) tuples, never raw vectors, and the
    broadcast join itself is map-side. Output: one row per (vector,
    subspace) with the chosen code and its distortion."""
    subs = _pq_subvectors(_vfp(spark, sf_dir))
    return _pq_encode(subs, _standin_book(subs), ["vec_id"])


def _sub(arr: str, m: int) -> str:
    """Subspace ``m`` (PQ_SUB dims) of a fixed-point array column."""
    return f"slice({arr}, {m * PQ_SUB + 1}, {PQ_SUB})"


def _pq_subvectors(vfp: DataFrame, *keep: str) -> DataFrame:
    """Explode a ×10⁶ fixed-point vector relation (vec_id, *keep, v_fp)
    to one row per (vec_id, *keep, subspace m, PQ_SUB-dim subvector sub)
    — the input shape of every PQ stage (codebook build, corpus encode,
    query LUT)."""
    return vfp.select(
        "vec_id",
        *keep,
        F.posexplode(
            F.array(*[F.expr(_sub("v_fp", m)) for m in range(PQ_M)])
        ).alias("m", "sub"),
    )


def _standin_book(subs: DataFrame) -> DataFrame:
    """Stand-in codebook (m, code, csub): the subvectors of the first
    PQ_K corpus vectors, code = vec_id - N_QUERIES."""
    return _standin(
        subs,
        PQ_K,
        "m",
        (F.col("vec_id") - N_QUERIES).alias("code"),
        F.col("sub").alias("csub"),
    )


def _pq_encode(subs: DataFrame, book: DataFrame, keys: list[str]) -> DataFrame:
    """Nearest codeword per (*keys, m) against the broadcast book —
    integer-L2 argmin, ties to the lowest code — as (*keys, m, code,
    dist_fp). A min_by aggregate with map-side partials: the shuffle
    carries (keys, m, code, distance) tuples, never raw vectors."""
    return (
        subs.join(F.broadcast(book), "m")
        .select(*keys, "m", "code", F.expr(_int_l2("sub", "csub")).alias("d_fp"))
        .groupBy(*keys, "m")
        .agg(
            F.min_by("code", F.struct("d_fp", "code")).alias("code"),
            F.min("d_fp").alias("dist_fp"),
        )
    )


def _pq_oracle() -> str:
    return f"""
WITH vecs AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[], x -> {_FP}) AS v_fp
  FROM embeddings
), subs AS (
  SELECT vec_id, m,
         v_fp[m * {PQ_SUB} + 1 : m * {PQ_SUB} + {PQ_SUB}] AS sub
  FROM vecs CROSS JOIN range(0, {PQ_M}) t(m)
), cents AS (
  SELECT m, vec_id - {N_QUERIES} AS code, sub AS csub FROM subs
  WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + PQ_K}
), dists AS (
  SELECT s.vec_id, s.m, c.code,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(range(1, {PQ_SUB} + 1),
                          i -> (s.sub[i] - c.csub[i]) * (s.sub[i] - c.csub[i]))),
           (a, b) -> a + b) AS dist_fp
  FROM subs s JOIN cents c ON s.m = c.m
)
SELECT vec_id, m, code, dist_fp FROM (
  SELECT vec_id, m, code, dist_fp,
         row_number() OVER (PARTITION BY vec_id, m
                            ORDER BY dist_fp ASC, code ASC) AS rk
  FROM dists
) WHERE rk = 1
"""


IVFPQ_RERANK = 3 * TOP_K  # PQ shortlist size fed to the exact re-rank


def _int_l2_duck(a: str, b: str, d: int) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, {d} + 1), i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), "
        f"(x, y) -> x + y)"
    )


def _pq_model_row(cents: DataFrame, book: DataFrame) -> DataFrame:
    """The whole PQ model as ONE row of sorted struct arrays —
    (cents_arr: array<struct<cell, c_fp>>, book_arr: array<struct<m,
    code, csub>>) — so coarse assignment and PQ encoding can run as a
    single map-side projection over the corpus (broadcast-nested-loop
    against this 1-row relation) instead of two corpus-wide aggregates.
    Arrays are sort_array'd, so iteration order is (cell) / (m, code)
    ascending and ``array_min(struct(d, id))`` reproduces the
    min_by tie-break (lowest id on equal distance) exactly. Bounded:
    N_CELLS + PQ_M·PQ_K rows in total."""
    cents_arr = cents.agg(
        F.sort_array(F.collect_list(F.struct("cell", "c_fp"))).alias("cents_arr")
    )
    return cents_arr.crossJoin(_book_row(book, "book_arr"))


# The single-pass encode of one corpus row against the 1-row
# ``_pq_model_row``: coarse cell = array_min over the centroid
# distances, codes[m] = array_min over subspace m's codeword distances.
# Same integer arithmetic and (distance, id) tie-break as a min_by
# aggregate per model, but one map-side projection: one corpus scan and
# no shuffle before candidate pruning.
_CELL_EXPR = (
    "array_min(transform(cents_arr, c -> struct("
    f"{_int_l2('v_fp', 'c.c_fp')} AS d, c.cell AS cell))).cell"
)
_CODES_EXPR = "array({})".format(
    ", ".join(
        "array_min(transform(filter(book_arr, b -> b.m = "
        f"{m}), b -> struct("
        + _int_l2(_sub("v_fp", m), "b.csub")
        + " AS d, b.code AS code))).code"
        for m in range(PQ_M)
    )
)


def _ivfpq_approx(vfp: DataFrame, cents: DataFrame, book: DataFrame) -> DataFrame:
    """The ADC HALF of the IVF-PQ serving plan: coarse assignment, PQ
    encode (``_CELL_EXPR``, ``_CODES_EXPR``), probe, and the
    asymmetric-distance candidate scores — (q_id, vec_id,
    approx_dist_fp), BEFORE any shortlist/re-rank, so
    ``ann_ivf_pq_rerank`` can price the re-rank stage against the
    plain-ADC ranking on the same relation. Inputs as
    ``_ivfpq_search``."""
    corpus, queries = _split(vfp)
    model = F.broadcast(_pq_model_row(cents, book))
    enc = spread(corpus).crossJoin(model).select(
        "vec_id",
        F.expr(_CELL_EXPR).alias("cell"),
        F.expr(_CODES_EXPR).alias("codes"),
    )
    probes = (
        queries.withColumnRenamed("vec_id", "q_id")
        .crossJoin(F.broadcast(cents))
        .withColumn("cdist", F.expr(_int_l2("v_fp", "c_fp")))
        .withColumn(
            "prk",
            F.row_number().over(
                W.partitionBy("q_id").orderBy(F.asc("cdist"), F.asc("cell"))
            ),
        )
        .filter(F.col("prk") <= N_PROBE)
        .select("q_id", "cell")
    )
    adc_expr = " + ".join(
        "coalesce(try_element_at(lut_map, "
        f"(q_id * {PQ_M} + {m}) * {PQ_K} + codes[{m}]), cast(0 as bigint))"
        for m in range(PQ_M)
    )
    # probes is provably bounded (N_QUERIES × N_PROBE rows) but sits
    # behind a window whose size estimate the planner can't see
    # through — without the hint it picks a SortMergeJoin that
    # shuffles the whole encoded corpus into N_CELLS partitions.
    # Broadcasting keeps the inverted-list read map-side.
    return (
        enc.join(F.broadcast(probes), "cell")
        .crossJoin(F.broadcast(_adc_lut(queries, book)))
        .select("q_id", "vec_id", F.expr(adc_expr).alias("approx_dist_fp"))
    )


def _adc_lut(queries: DataFrame, book: DataFrame) -> DataFrame:
    """The ADC lookup table as ONE row holding a map keyed by the packed
    (q_id, m, code) — N_QUERIES·PQ_M·PQ_K entries. The per-candidate
    score is then a pure projection (PQ_M map lookups + adds — the
    literal FAISS ADC serving step): no explode, no join fan-out, and no
    candidate aggregate or its shuffle. ``_ivfpq_approx`` coalesces a
    missing key to 0, which gives inner-join semantics (a subspace
    absent from the book contributes nothing; a book missing an m
    entirely implies an empty book ⇒ empty corpus ⇒ no candidates)."""
    lut = (
        _pq_subvectors(queries)
        .withColumnRenamed("vec_id", "q_id")
        .join(F.broadcast(book), "m")
        .select("q_id", "m", "code", F.expr(_int_l2("sub", "csub")).alias("d_fp"))
    )
    # map_from_entries throws on a duplicate key: the book must be unique
    # on (m, code), as the stand-in and trained books are (test-pinned)
    return lut.agg(
        F.map_from_entries(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        (
                            (F.col("q_id") * PQ_M + F.col("m")) * PQ_K
                            + F.col("code")
                        ).alias("k"),
                        F.col("d_fp").alias("v"),
                    )
                )
            )
        ).alias("lut_map")
    )


def _adc_topk(approx: DataFrame, k: int) -> DataFrame:
    """The ``k`` best ADC candidates per query (approx_dist_fp asc,
    vec_id asc) as (q_id, vec_id, approx_dist_fp)."""
    w = W.partitionBy("q_id").orderBy(F.asc("approx_dist_fp"), F.asc("vec_id"))
    return (
        approx.withColumn("srk", F.row_number().over(w))
        .filter(F.col("srk") <= k)
        .select("q_id", "vec_id", "approx_dist_fp")
    )


def _ivfpq_rerank(approx: DataFrame, vfp: DataFrame) -> DataFrame:
    """The RE-RANK half: ADC top-IVFPQ_RERANK shortlist, then exact
    integer-L2 re-rank of only those rows to top-TOP_K — the stage
    where raw vectors are touched for the second and last time."""
    corpus, qv = _split(vfp, F.col("v_fp").alias("q_fp"))
    exact = (
        _adc_topk(approx, IVFPQ_RERANK)
        .join(corpus, "vec_id")
        .join(F.broadcast(qv), "q_id")
        .withColumn("exact_dist_fp", F.expr(_int_l2("v_fp", "q_fp")))
    )
    we = W.partitionBy("q_id").orderBy(F.asc("exact_dist_fp"), F.asc("vec_id"))
    return (
        exact.withColumn("rk", F.row_number().over(we))
        .filter(F.col("rk") <= TOP_K)
        .select("q_id", "vec_id", "approx_dist_fp", "exact_dist_fp", "rk")
    )


def _l2_truth(corpus: DataFrame, q: DataFrame) -> DataFrame:
    """The exact integer-L2 top-TOP_K of every query (q_id, q_fp) over
    ``corpus`` (d asc, vec_id asc) as a ``_member`` relation flagged
    ``e``. The stream is N_QUERIES integer folds per corpus row, so
    callers pass a ``spread`` corpus: it is CPU-bound on a single-task
    scan."""
    wk = W.partitionBy("q_id").orderBy(F.asc("d_fp"), F.asc("vec_id"))
    return _member(
        corpus.crossJoin(F.broadcast(q))
        .select("q_id", "vec_id", F.expr(_int_l2("v_fp", "q_fp")).alias("d_fp"))
        .withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= TOP_K),
        "e",
    )


def _ivfpq_search(vfp: DataFrame, cents: DataFrame, book: DataFrame) -> DataFrame:
    """The full IVF-PQ serving plan, shared by the deterministic-
    codebook query (``ann_ivf_pq``) and the MLlib-KMeans-trained
    variant (``ann_ivf_pq_trained``) — the ``_ivf_search`` precedent:
    ADC candidate scoring (``_ivfpq_approx``) composed with the exact
    re-rank (``_ivfpq_rerank``). Inputs: ``vfp`` (vec_id, v_fp) the
    ×10⁶ fixed-point relation (vec_id < N_QUERIES are the queries),
    ``cents`` (cell, c_fp) the coarse centroids, ``book`` (m, code,
    csub) the per-subspace codebook — both model relations are bounded
    and broadcast. Plan narrative in ``ann_ivf_pq``'s docstring."""
    return _ivfpq_rerank(_ivfpq_approx(vfp, cents, book), vfp)


def _fp_cents(vfp: DataFrame) -> DataFrame:
    """Stand-in fixed-point centroids (cell = vec_id - N_QUERIES, c_fp)."""
    return _standin(
        vfp,
        N_CELLS,
        (F.col("vec_id") - N_QUERIES).alias("cell"),
        F.col("v_fp").alias("c_fp"),
    )


def _standin_pq_model(vfp: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The deterministic stand-in (cents, book) that keeps ``ann_ivf_pq``
    oracle-checkable end to end — the trained model is
    ``_trained_pq_relations`` below."""
    return _fp_cents(vfp), _standin_book(_pq_subvectors(vfp))


def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search — the full production ANN index shape (FAISS
    IVFPQ; Jégou et al. 2011): coarse-quantize the corpus into N_CELLS
    inverted lists, PQ-encode every vector to PQ_M byte codes, answer a
    query by (1) probing its N_PROBE nearest cells, (2) scoring every
    candidate in those cells with an asymmetric-distance lookup table
    (query-subvector → codeword distances, PQ_M adds per candidate
    instead of EMB_DIM multiplies), (3) exact re-ranking the
    IVFPQ_RERANK best approximate hits. All distances are integer L2
    over ×10⁶ fixed-point vectors, so shortlist membership, ranks, and
    both distance columns are engine-exact. Centroids and codebook are
    the deterministic stand-in (``_standin_pq_model``) that keeps the
    query oracle-checkable end to end; the MLlib-KMeans-trained model
    serves through ``ann_ivf_pq_trained`` and is audited by
    ``ann_ivf_pq_trained_audit``.

    Scale shape: centroids, codebook, the 640-row ADC lookup table, and
    the query subvectors are all broadcast; the corpus streams once
    through assignment + encoding (map-side), candidates come from an
    equi-join on cell id (the inverted-list read), the per-candidate
    score is PQ_M lookups into the broadcast ADC map, and only
    IVFPQ_RERANK rows per query ever touch raw vectors again. This is
    exactly the memory/compute topology that serves billion-vector
    indexes: raw vectors are read twice (build, re-rank), never
    shuffled per query."""
    vfp = _vfp(spark, sf_dir)
    cents, book = _standin_pq_model(vfp)
    return _ivfpq_search(vfp, cents, book)


def _ivfpq_oracle() -> str:
    return f"""
WITH vfp AS (
  SELECT vec_id, list_transform(embedding::DOUBLE[], x -> {_FP}) AS v_fp
  FROM embeddings
), cents AS (
  SELECT vec_id - {N_QUERIES} AS cell, v_fp AS c_fp FROM vfp
  WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + N_CELLS}
), assigned AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, c.cell,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {_int_l2_duck("v.v_fp", "c.c_fp", EMB_DIM)} ASC, c.cell ASC) AS crk
    FROM vfp v CROSS JOIN cents c WHERE v.vec_id >= {N_QUERIES}
  ) WHERE crk = 1
), subs AS (
  SELECT vec_id, m, v_fp[m * {PQ_SUB} + 1 : m * {PQ_SUB} + {PQ_SUB}] AS sub
  FROM vfp CROSS JOIN range(0, {PQ_M}) t(m)
), book AS (
  SELECT m, vec_id - {N_QUERIES} AS code, sub AS csub FROM subs
  WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + PQ_K}
), codes AS (
  SELECT vec_id, m, code FROM (
    SELECT s.vec_id, s.m, b.code,
           row_number() OVER (PARTITION BY s.vec_id, s.m
             ORDER BY {_int_l2_duck("s.sub", "b.csub", PQ_SUB)} ASC, b.code ASC) AS rk
    FROM subs s JOIN book b ON s.m = b.m WHERE s.vec_id >= {N_QUERIES}
  ) WHERE rk = 1
), probes AS (
  SELECT q_id, cell FROM (
    SELECT v.vec_id AS q_id, c.cell,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {_int_l2_duck("v.v_fp", "c.c_fp", EMB_DIM)} ASC, c.cell ASC) AS prk
    FROM vfp v CROSS JOIN cents c WHERE v.vec_id < {N_QUERIES}
  ) WHERE prk <= {N_PROBE}
), lut AS (
  SELECT s.vec_id AS q_id, s.m, b.code,
         {_int_l2_duck("s.sub", "b.csub", PQ_SUB)} AS d_fp
  FROM subs s JOIN book b ON s.m = b.m WHERE s.vec_id < {N_QUERIES}
), approx AS (
  SELECT p.q_id, a.vec_id, CAST(sum(l.d_fp) AS BIGINT) AS approx_dist_fp
  FROM probes p
  JOIN assigned a ON p.cell = a.cell
  JOIN codes k ON k.vec_id = a.vec_id
  JOIN lut l ON l.q_id = p.q_id AND l.m = k.m AND l.code = k.code
  GROUP BY p.q_id, a.vec_id
), short AS (
  SELECT q_id, vec_id, approx_dist_fp FROM (
    SELECT q_id, vec_id, approx_dist_fp,
           row_number() OVER (PARTITION BY q_id
             ORDER BY approx_dist_fp ASC, vec_id ASC) AS srk
    FROM approx
  ) WHERE srk <= {IVFPQ_RERANK}
)
SELECT q_id, vec_id, approx_dist_fp, exact_dist_fp, rk FROM (
  SELECT s.q_id, s.vec_id, s.approx_dist_fp,
         {_int_l2_duck("cv.v_fp", "qv.v_fp", EMB_DIM)} AS exact_dist_fp,
         row_number() OVER (PARTITION BY s.q_id
           ORDER BY {_int_l2_duck("cv.v_fp", "qv.v_fp", EMB_DIM)} ASC, s.vec_id ASC) AS rk
  FROM short s
  JOIN vfp cv ON cv.vec_id = s.vec_id
  JOIN vfp qv ON qv.vec_id = s.q_id
) WHERE rk <= {TOP_K}
"""


def ann_ivf_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the exact re-rank stage BUYS (the standard FAISS serving
    recipe is ADC shortlist → exact re-rank; this query prices that
    recipe): per query, the recall against the
    exact global integer-L2 top-k of (a) the plain-ADC top-k (ranking
    candidates by quantized distance alone — what you'd serve without
    touching raw vectors again) vs (b) the re-ranked top-k (ADC
    top-IVFPQ_RERANK shortlist, exact re-rank — the shipped
    ``ann_ivf_pq`` path), on the SAME ``_ivfpq_approx`` candidate
    relation under the deterministic stand-in model, so every column
    is hash-exact in both engines — no audit twin needed.

    ``rerank_ge_adc`` is emitted per query and is a THEOREM, not a
    tuning observation: ADC-top-k ⊆ shortlist (both are ranked by the
    same approx distance, k ≤ R), and any true-top-k member inside the
    shortlist has one of the k smallest exact distances in the whole
    corpus — hence certainly among the k exact-smallest within the
    shortlist, so it survives the re-rank. Therefore
    |rerank∩truth| = |shortlist∩truth| ≥ |ADC-top-k∩truth| — the
    re-rank converts shortlist recall into served recall for free.
    The flag would catch any implementation drift (wrong tie-break,
    off-by-one shortlist) that breaks the subset structure. Measured
    uplift at sf0.001/0.01/0.1: ADC 5/4/1 hits → re-ranked 7/5/5 of
    50 (at sf0.1 the re-rank QUINTUPLES served recall — the shortlist
    holds far more truth than the quantized ADC order surfaces,
    exactly the FAISS rationale for re-ranking; the stand-in codebook
    makes ADC deliberately coarse, so the uplift is pronounced).

    Scale: composes three bounded plans — the shared ADC relation
    (broadcast models, inverted-list equi-join), one extra window over
    per-query candidates for the ADC baseline (bounded by the probe
    fan-in, same bound as the serving plan itself), the shared re-rank
    (IVFPQ_RERANK rows per query touch raw vectors), and the exact
    truth (one broadcast-query corpus stream) — reconciled with
    full-outer equi-joins on (q_id, vec_id) and a per-query aggregate.
    AQE dedupes the shared ``_ivfpq_approx`` exchange between the ADC
    and re-rank consumers at runtime."""
    vfp = _vfp(spark, sf_dir)
    cents, book = _standin_pq_model(vfp)
    # the candidate relation is fixed-width (q_id, vec_id, one bigint)
    # and bounded by probes × cell occupancy; it feeds BOTH rankings —
    # materialize once (the house multi-consumer convention; the raw
    # builder stays visible to plan tests via _ivfpq_approx itself).
    # EAGER: a lazy checkpoint's ExistingRDD scan carries no size
    # stats and degrades downstream joins to sort-merge
    approx = _ivfpq_approx(vfp, cents, book).localCheckpoint()
    adc = _member(_adc_topk(approx, TOP_K), "a")
    rr = _member(_ivfpq_rerank(approx, vfp), "r")
    corpus, q = _split(vfp, F.col("v_fp").alias("q_fp"))
    truth = _l2_truth(spread(corpus), q)
    return (
        _reconcile(truth, adc, rr)
        .agg(
            _hits("e").cast("long").alias("n_truth"),
            _hits("e", "a").cast("long").alias("adc_hits"),
            _hits("e", "r").cast("long").alias("rerank_hits"),
        )
        .select(
            "q_id",
            "n_truth",
            "adc_hits",
            "rerank_hits",
            (F.col("rerank_hits") >= F.col("adc_hits"))
            .cast("int")
            .alias("rerank_ge_adc"),
        )
    )


def _ivfpq_rerank_oracle() -> str:
    return f"""
WITH vfp AS (
  SELECT vec_id, list_transform(embedding::DOUBLE[], x -> {_FP}) AS v_fp
  FROM embeddings
), cents AS (
  SELECT vec_id - {N_QUERIES} AS cell, v_fp AS c_fp FROM vfp
  WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + N_CELLS}
), assigned AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, c.cell,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {_int_l2_duck("v.v_fp", "c.c_fp", EMB_DIM)} ASC, c.cell ASC) AS crk
    FROM vfp v CROSS JOIN cents c WHERE v.vec_id >= {N_QUERIES}
  ) WHERE crk = 1
), subs AS (
  SELECT vec_id, m, v_fp[m * {PQ_SUB} + 1 : m * {PQ_SUB} + {PQ_SUB}] AS sub
  FROM vfp CROSS JOIN range(0, {PQ_M}) t(m)
), book AS (
  SELECT m, vec_id - {N_QUERIES} AS code, sub AS csub FROM subs
  WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + PQ_K}
), codes AS (
  SELECT vec_id, m, code FROM (
    SELECT s.vec_id, s.m, b.code,
           row_number() OVER (PARTITION BY s.vec_id, s.m
             ORDER BY {_int_l2_duck("s.sub", "b.csub", PQ_SUB)} ASC, b.code ASC) AS rk
    FROM subs s JOIN book b ON s.m = b.m WHERE s.vec_id >= {N_QUERIES}
  ) WHERE rk = 1
), probes AS (
  SELECT q_id, cell FROM (
    SELECT v.vec_id AS q_id, c.cell,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {_int_l2_duck("v.v_fp", "c.c_fp", EMB_DIM)} ASC, c.cell ASC) AS prk
    FROM vfp v CROSS JOIN cents c WHERE v.vec_id < {N_QUERIES}
  ) WHERE prk <= {N_PROBE}
), lut AS (
  SELECT s.vec_id AS q_id, s.m, b.code,
         {_int_l2_duck("s.sub", "b.csub", PQ_SUB)} AS d_fp
  FROM subs s JOIN book b ON s.m = b.m WHERE s.vec_id < {N_QUERIES}
), approx AS (
  SELECT p.q_id, a.vec_id, CAST(sum(l.d_fp) AS BIGINT) AS approx_dist_fp
  FROM probes p
  JOIN assigned a ON p.cell = a.cell
  JOIN codes k ON k.vec_id = a.vec_id
  JOIN lut l ON l.q_id = p.q_id AND l.m = k.m AND l.code = k.code
  GROUP BY p.q_id, a.vec_id
), adc AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id
             ORDER BY approx_dist_fp ASC, vec_id ASC) AS ark
    FROM approx
  ) WHERE ark <= {TOP_K}
), short AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id
             ORDER BY approx_dist_fp ASC, vec_id ASC) AS srk
    FROM approx
  ) WHERE srk <= {IVFPQ_RERANK}
), rr AS (
  SELECT q_id, vec_id FROM (
    SELECT s.q_id, s.vec_id,
           row_number() OVER (PARTITION BY s.q_id
             ORDER BY {_int_l2_duck("cv.v_fp", "qv.v_fp", EMB_DIM)} ASC,
                      s.vec_id ASC) AS rk
    FROM short s
    JOIN vfp cv ON cv.vec_id = s.vec_id
    JOIN vfp qv ON qv.vec_id = s.q_id
  ) WHERE rk <= {TOP_K}
), truth AS (
  SELECT q_id, c_id AS vec_id FROM (
    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY {_int_l2_duck("c.v_fp", "q.v_fp", EMB_DIM)} ASC,
                      c.vec_id ASC) AS rk
    FROM vfp c CROSS JOIN vfp q
    WHERE c.vec_id >= {N_QUERIES} AND q.vec_id < {N_QUERIES}
  ) WHERE rk <= {TOP_K}
), uni AS (
  SELECT coalesce(t.q_id, x.q_id, r.q_id) AS q_id,
         CASE WHEN t.q_id IS NOT NULL THEN 1 ELSE 0 END AS e,
         CASE WHEN x.q_id IS NOT NULL THEN 1 ELSE 0 END AS a,
         CASE WHEN r.q_id IS NOT NULL THEN 1 ELSE 0 END AS r
  FROM truth t
  FULL OUTER JOIN adc x ON t.q_id = x.q_id AND t.vec_id = x.vec_id
  FULL OUTER JOIN rr r
    ON coalesce(t.q_id, x.q_id) = r.q_id
   AND coalesce(t.vec_id, x.vec_id) = r.vec_id
)
SELECT q_id,
       CAST(sum(e) AS BIGINT) AS n_truth,
       CAST(sum(e * a) AS BIGINT) AS adc_hits,
       CAST(sum(e * r) AS BIGINT) AS rerank_hits,
       CAST(sum(e * r) >= sum(e * a) AS INT) AS rerank_ge_adc
FROM uni GROUP BY q_id
"""


# Trained-PQ contract constants (the trained-IVF recipe applied per
# subspace). The recall floor is
# CORPUS-level for the same reason as IVF_TRAINED_RECALL_MIN_PCT:
# per-query recall legitimately reaches 0/5 when both probed cells
# miss on structureless synthetic vectors, so a per-query floor would
# bake an expected failure into the flag. The floor is LOWER than the
# trained-IVF one because IVF-PQ compounds two approximations (cell
# routing AND PQ-quantized ADC shortlisting): measured corpus recall
# on the pinned seed is 10/50, 13/50, 4/50 (20% / 26% / 8%) at
# sf0.001/0.01/0.1 — 2% is 4x under the worst measured, so the flag
# trips on a broken build (wrong codebook scale, dropped cells, bad
# routing → ~0 hits corpus-wide), not on routing variation.
PQ_TRAINED_RECALL_MIN_PCT = 2


def _trained_codebook(spark: SparkSession, sf_dir: str) -> DataFrame | None:
    """Fit one seed-pinned MLlib KMeans per PQ subspace (PQ_M fits of
    k = PQ_K) on the subvectors of a seeded corpus sample and return
    the trained codebook as a broadcastable (m, code, csub) relation
    with ×10⁶ fixed-point codewords — the real per-subspace codebook
    training pass (Jégou et al. 2011 §III) that ``emb_pq_encode``'s
    docstring promises at 100 TB; the oracle-checkable stand-in stays
    as ``_standin_pq_model``. Quantizing the trained centroids to the
    same ×10⁶ longs as the corpus keeps the serving plan
    (``_ivfpq_search``) byte-identical between the two models and all
    ADC distances exact integers; the ≤1e-6-per-dim quantization error
    is noise against the quantizer's own distortion.

    Scale: k-means cost is per-sample-row, not per-corpus-row; the
    sample is checkpointed once so the PQ_M fits scan it, not the
    corpus; the model (PQ_M·PQ_K rows) is a fixed-size artifact —
    collecting it to the driver is collecting the MODEL, not data.
    Train-once/serve-many: the fits run once per (session, sf_dir)
    with empty/tiny-corpus fallbacks inside the memoized trainer
    (the ``_trained_centroids`` discipline)."""
    import math

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from ai_data_pipeline_spark.session import session_scoped_cache

    cache = session_scoped_cache(spark, "pq_trained_codebook")
    if sf_dir in cache:
        return cache[sf_dir]

    corpus = _vectors(spark, sf_dir).filter(F.col("vec_id") >= N_QUERIES)
    sample = corpus.sample(
        fraction=IVF_TRAINED_SAMPLE_FRACTION, seed=IVF_TRAINED_SEED
    ).localCheckpoint()
    # Bernoulli can sample a tiny corpus BELOW PQ_K rows (or to zero) —
    # the sample is a cost optimization, not semantics, and a k-clamped
    # fit on fewer rows than the stand-in book's PQ_K codewords could
    # legitimately LOSE the audit's distortion comparison (the oracle
    # pins trained_no_worse = 1). Fall back to the full corpus whenever
    # the sample is smaller than PQ_K: then k = min(PQ_K, |corpus|)
    # matches the stand-in book's own size (it too has at most |corpus|
    # codewords). An empty corpus cannot train — memoize None and let
    # callers emit their declared empty result.
    n = sample.count()
    if n < PQ_K:
        sample = corpus.localCheckpoint()
        n = sample.count()
        if n == 0:
            cache[sf_dir] = None
            return None
    rows: list[tuple[int, int, list[int]]] = []
    for m in range(PQ_M):
        feats = sample.select(
            array_to_vector(
                F.expr(
                    f"transform(slice(v, {m * PQ_SUB + 1}, {PQ_SUB}),"
                    " x -> cast(x as double))"
                )
            ).alias("features")
        )
        km = KMeans(
            k=min(PQ_K, n),
            seed=IVF_TRAINED_SEED,
            maxIter=20,
            featuresCol="features",
        )
        model = km.fit(feats)
        rows.extend(
            (m, code, [int(math.floor(x * 1_000_000)) for x in c])
            for code, c in enumerate(model.clusterCenters())
        )
    cache[sf_dir] = spark.createDataFrame(
        rows, "m int, code long, csub array<bigint>"
    )
    return cache[sf_dir]


def ann_ivf_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ over the MLlib-KMeans-TRAINED model — trained coarse
    centroids (``_trained_centroids``) AND trained per-subspace
    codebook (``_trained_codebook``), served through the shared
    ``_ivfpq_search`` plan byte-for-byte. Declared rows-only: the
    trained model is MLlib-internal (k-means|| init + Lloyd
    iterations) with no DuckDB counterpart to hash-compare against;
    the path's GUARANTEES are oracle-checked by
    ``ann_ivf_pq_trained_audit`` (the ``ann_ivf_trained_recall``
    recipe)."""
    vfp = _vfp(spark, sf_dir)
    rel = _trained_pq_relations(spark, sf_dir)
    if rel is None:
        # empty corpus: nothing to train, an empty index answers every
        # query with zero matches — emptiness is detected once inside
        # the memoized trainers, zero extra actions on the hot path
        return spark.createDataFrame(
            [], "q_id long, vec_id long, approx_dist_fp bigint,"
            " exact_dist_fp bigint, rk int"
        )
    cents, book = rel
    return _ivfpq_search(vfp, cents, book)


def _trained_pq_relations(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame] | None:
    """(cents, book) of the TRAINED IVF-PQ model in serving form —
    trained coarse centroids quantized to ×10⁶ longs plus the trained
    per-subspace codebook — or None on an empty corpus. Shared by
    ``ann_ivf_pq_trained`` and the audit (which also needs the raw
    relations to build the ADC baseline on the same model)."""
    book = _trained_codebook(spark, sf_dir)
    cents_d = _trained_centroids(spark, sf_dir)
    if book is None or cents_d is None:
        return None
    cents = cents_d.select(
        F.col("cell_id").alias("cell"),
        F.expr(
            "transform(cv, x -> CAST(floor(x * 1000000) AS BIGINT))"
        ).alias("c_fp"),
    )
    return cents, book


def _book_row(book: DataFrame, alias: str) -> DataFrame:
    """A codebook as ONE row carrying a sorted array<struct<m, code,
    csub>> (the ``_pq_model_row`` discipline), so distortion scans can
    evaluate the min-codeword distance as a map-side expression."""
    return book.agg(
        F.sort_array(F.collect_list(F.struct("m", "code", "csub"))).alias(alias)
    )


def _pq_distortion_expr(arr: str) -> str:
    """Per-corpus-row total PQ distortion of v_fp under the codebook
    array column ``arr``: Σ_m min over that subspace's codewords of the
    integer subvector L2. A subspace with no codewords contributes 0 —
    exactly the rows the old broadcast-join formulation skipped."""
    return " + ".join(
        f"coalesce(array_min(transform(filter({arr}, b -> b.m = {m}), b -> "
        + _int_l2(_sub("v_fp", m), "b.csub")
        + ")), cast(0 as bigint))"
        for m in range(PQ_M)
    )


def ann_ivf_pq_trained_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-bearing audit of the trained PQ model: the trained codebook and the trained-IVF-PQ top-k are
    MLlib-seed-dependent (no DuckDB counterpart), but their GUARANTEES
    are exact integer predicates against oracle-recomputable relations.
    One corpus-level row:

    - ``n_queries`` / ``n_exact_total`` — census of the exact
      integer-L2 top-k relation (the same metric the PQ index
      approximates — NOT the cosine top-k, so the recall comparison is
      same-metric); the oracle recomputes both exactly.
    - ``standin_distortion_fp`` — total corpus quantization distortion
      under the deterministic stand-in codebook (oracle-exact: the
      ``emb_pq_encode`` relation summed).
    - ``trained_no_worse`` — [trained-codebook distortion ≤ stand-in
      distortion]: k-means minimizes exactly this objective on a 50%
      sample, so a trained book that loses to PQ_K arbitrary corpus
      vectors means a broken fit. Measured margin on the pinned seed:
      the trained book cuts distortion to 71–74% of the stand-in's at
      sf0.001/0.01/0.1.
    - ``k_ok`` — no query received more than TOP_K trained rows.
    - ``recall_floor_ok`` — trained IVF-PQ hits cover >=
      PQ_TRAINED_RECALL_MIN_PCT of the exact top-k mass CORPUS-WIDE
      (floor rationale: IVF_TRAINED_RECALL_MIN_PCT).
    - ``rerank_ge_adc_ok`` — the re-rank stage helps (or at worst
      ties) on the TRAINED path too: corpus-wide re-ranked hits ≥
      plain-ADC top-k hits on the same trained candidate relation
      (the ``ann_ivf_pq_rerank`` theorem — the subset argument is
      codebook-independent — exercised here against the MLlib model).

    Determinism: both KMeans fits are seed-pinned on seed-pinned
    samples with deterministic input partitioning, so every flag is a
    fixed property of the fixture — verified at all three SFs.

    Scale: composes three bounded plans (exact top-k = one broadcast-
    query corpus stream; two distortion passes = broadcast-book
    map-side aggregates; the trained serve = ``_ivfpq_search``) and
    reconciles k-row-per-query relations with one full-outer equi-join
    + tiny aggregates — the crossJoins at the end glue 1-row
    broadcast relations."""
    vfp = _vfp(spark, sf_dir)
    corpus, q = _split(vfp, F.col("v_fp").alias("q_fp"))
    corpus = spread(corpus)  # feeds the truth and the distortion pass
    exact = _l2_truth(corpus, q)
    rel = _trained_pq_relations(spark, sf_dir)
    if rel is None:
        # empty corpus: 0 ≤ 0 distortion and an empty top-k census —
        # the predicates hold vacuously, matching the oracle's
        # coalesced zeros
        book = spark.createDataFrame([], "m int, code long, csub array<bigint>")
        trained = spark.createDataFrame([], "q_id long, vec_id long, i int")
        adc_t = spark.createDataFrame([], "q_id long, vec_id long, a int")
    else:
        cents_t, book = rel
        # ONE trained ADC relation feeds both the plain-ADC baseline
        # and the re-ranked serving path, so the rerank-vs-ADC flag
        # compares two orderings of the same candidates (the
        # ann_ivf_pq_rerank construction on the trained model).
        # Materialized eagerly: without the checkpoint Catalyst inlines
        # the whole ADC subtree (coarse assignment + PQ encode + probe +
        # LUT joins) once per consumer. Eager, not lazy: the
        # checkpoint's computed size stats keep the downstream
        # full-outer joins broadcast-eligible
        approx_t = _ivfpq_approx(vfp, cents_t, book).localCheckpoint()
        adc_t = _member(_adc_topk(approx_t, TOP_K), "a")
        trained = _member(_ivfpq_rerank(approx_t, vfp), "i")
    _, standin_book = _standin_pq_model(vfp)
    per_q = _reconcile(exact, trained, adc_t).agg(
        _hits("e").alias("ne"),
        _hits("i").alias("ni"),
        _hits("e", "i").alias("nh"),
        _hits("e", "a").alias("na"),
    )
    recall = _recall_floor(
        per_q,
        PQ_TRAINED_RECALL_MIN_PCT,
        # theorem on the trained path too (ann_ivf_pq_rerank proves it
        # for the stand-in): re-ranked hits >= plain-ADC hits, any
        # codebook — the subset argument is codebook-independent
        F.coalesce(
            (F.sum("nh") >= F.sum("na")).cast("int"), F.lit(1)
        ).alias("rerank_ge_adc_ok"),
    )
    # Both codebooks' distortions in ONE corpus pass: the min-codeword
    # distance is a map-side expression against the broadcast 1-row
    # codebook arrays, so one scan evaluates both sums side by side.
    books_row = _book_row(standin_book, "sb_arr").crossJoin(
        _book_row(book, "tb_arr")
    )
    dists = (
        corpus.crossJoin(F.broadcast(books_row))
        .select(
            F.expr(_pq_distortion_expr("sb_arr")).alias("sd"),
            F.expr(_pq_distortion_expr("tb_arr")).alias("td"),
        )
        .agg(
            F.coalesce(F.sum("sd"), F.lit(0))
            .cast("long")
            .alias("standin_distortion_fp"),
            F.coalesce(F.sum("td"), F.lit(0))
            .cast("long")
            .alias("trained_distortion_fp"),
        )
    )
    return (
        recall.crossJoin(F.broadcast(dists))
        .select(
            "n_queries",
            "n_exact_total",
            "standin_distortion_fp",
            (F.col("trained_distortion_fp") <= F.col("standin_distortion_fp"))
            .cast("int")
            .alias("trained_no_worse"),
            "k_ok",
            "recall_floor_ok",
            "rerank_ge_adc_ok",
        )
    )


def _pq_trained_audit_oracle() -> str:
    return f"""
WITH vfp AS (
  SELECT vec_id, list_transform(embedding::DOUBLE[], x -> {_FP}) AS v_fp
  FROM embeddings
), ex AS (
  SELECT q_id, c_id FROM (
    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY {_int_l2_duck("c.v_fp", "q.v_fp", EMB_DIM)} ASC,
                      c.vec_id ASC) AS rk
    FROM vfp c CROSS JOIN vfp q
    WHERE c.vec_id >= {N_QUERIES} AND q.vec_id < {N_QUERIES}
  ) WHERE rk <= {TOP_K}
), subs AS (
  SELECT vec_id, m, v_fp[m * {PQ_SUB} + 1 : m * {PQ_SUB} + {PQ_SUB}] AS sub
  FROM vfp CROSS JOIN range(0, {PQ_M}) t(m)
), book AS (
  SELECT m, vec_id - {N_QUERIES} AS code, sub AS csub FROM subs
  WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + PQ_K}
), enc AS (
  SELECT s.vec_id, s.m,
         min({_int_l2_duck("s.sub", "b.csub", PQ_SUB)}) AS min_d
  FROM subs s JOIN book b ON s.m = b.m WHERE s.vec_id >= {N_QUERIES}
  GROUP BY s.vec_id, s.m
), census AS (
  SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries,
         CAST(count(*) AS BIGINT) AS n_exact_total
  FROM ex
), dist AS (
  SELECT CAST(COALESCE(sum(min_d), 0) AS BIGINT) AS standin_distortion_fp
  FROM enc
)
SELECT n_queries, n_exact_total, standin_distortion_fp,
       1 AS trained_no_worse, 1 AS k_ok, 1 AS recall_floor_ok,
       1 AS rerank_ge_adc_ok
FROM census CROSS JOIN dist
"""


def emb_pq_residual_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIDUAL product quantization — the actual FAISS IVFPQ encoding
    (Jégou et al. 2011 §III: PQ is applied to r = v − c(v), the vector
    MINUS its coarse centroid, not to v itself): residuals concentrate
    around the origin, so the PQ_K codewords per subspace spend their
    resolution where the mass is, typically halving distortion vs
    direct-vector PQ at the same code budget. ``emb_pq_encode`` is the
    direct-vector variant; this closes the encode tier to the full
    production recipe.

    Determinism: centroids and the residual codebook are the
    deterministic stand-in (centroids = first N_CELLS corpus vectors;
    codebook = the RESIDUAL subvectors of the first PQ_K corpus
    vectors), residuals are exact integer differences of ×10⁶
    fixed-point longs, and all distances are integer L2 — every
    column hash-exact in both engines (the trained-model tier serves
    through ``ann_ivf_pq_trained``).

    Scale shape: centroids and the residual codebook broadcast; the
    corpus streams once through assignment (min_by aggregate, map-side
    combine) and once through encode; the shuffle carries (vec_id,
    cell, m, code, dist) tuples, never raw vectors. Output: one row
    per (vector, subspace) with the assigned cell, chosen code, and
    residual distortion."""
    vfp = _vfp(spark, sf_dir)
    corpus, _ = _split(vfp)
    assigned = (
        corpus.crossJoin(F.broadcast(_fp_cents(vfp)))
        .withColumn("cdist", F.expr(_int_l2("v_fp", "c_fp")))
        .groupBy("vec_id")
        .agg(
            F.min_by(
                F.struct("cell", "c_fp", "v_fp"), F.struct("cdist", "cell")
            ).alias("best")
        )
        .select(
            "vec_id",
            F.col("best.cell").alias("cell"),
            F.expr("zip_with(best.v_fp, best.c_fp, (x, y) -> x - y)").alias(
                "v_fp"
            ),
        )
    )
    # carry `cell` through the subvector explode (no self-join back to
    # the shuffle-bearing assignment aggregate)
    rsubs = _pq_subvectors(assigned, "cell")
    return _pq_encode(rsubs, _standin_book(rsubs), ["vec_id", "cell"])


def _pq_residual_oracle() -> str:
    return f"""
WITH vfp AS (
  SELECT vec_id, list_transform(embedding::DOUBLE[], x -> {_FP}) AS v_fp
  FROM embeddings
), cents AS (
  SELECT vec_id - {N_QUERIES} AS cell, v_fp AS c_fp FROM vfp
  WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + N_CELLS}
), assigned AS (
  SELECT vec_id, cell,
         list_transform(range(1, {EMB_DIM} + 1),
                        i -> v_fp[i] - c_fp[i]) AS r_fp
  FROM (
    SELECT v.vec_id, c.cell, v.v_fp, c.c_fp,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {_int_l2_duck("v.v_fp", "c.c_fp", EMB_DIM)} ASC,
                      c.cell ASC) AS crk
    FROM vfp v CROSS JOIN cents c WHERE v.vec_id >= {N_QUERIES}
  ) WHERE crk = 1
), rsubs AS (
  SELECT vec_id, cell, m,
         r_fp[m * {PQ_SUB} + 1 : m * {PQ_SUB} + {PQ_SUB}] AS sub
  FROM assigned CROSS JOIN range(0, {PQ_M}) t(m)
), book AS (
  SELECT m, vec_id - {N_QUERIES} AS code, sub AS csub FROM rsubs
  WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + PQ_K}
), dists AS (
  SELECT s.vec_id, s.cell, s.m, b.code,
         {_int_l2_duck("s.sub", "b.csub", PQ_SUB)} AS d_fp
  FROM rsubs s JOIN book b ON s.m = b.m
)
SELECT vec_id, cell, m, code, dist_fp FROM (
  SELECT vec_id, cell, m, code, d_fp AS dist_fp,
         row_number() OVER (PARTITION BY vec_id, m
                            ORDER BY d_fp ASC, code ASC) AS rk
  FROM dists
) WHERE rk = 1
"""


PRE_DIM = 16  # prefix dims for the truncation-recall evaluation


def emb_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation-recall evaluation (the Matryoshka-representation
    question): if vectors are cut to their first PRE_DIM dims — the 4×
    cheaper index — how much of the full-dimension top-k survives?
    Per query: the overlap between full-dim and prefix-dim exact top-k
    lists and the recall in ppm. This is the measurement that decides
    whether the cheap index tier (prefix dims, random projection, PQ)
    is good enough for a corpus BEFORE committing a 100 TB build to it.

    Scale: one broadcast-query scoring pass over one corpus stream
    (the prefix cosine reads the same vectors, sliced), then ONE
    exchange on q_id carrying both rankings — two row_number operators
    under the same window partitioning share the shuffle (Spark plans
    Exchange → Sort → Window → Sort → Window), and the overlap is a
    direct conditional aggregation on the doubly-ranked relation, so
    there is no second corpus shuffle and no self-join. Float parity
    with the oracle is by construction, not assumption: _cosine_udf's
    _fold_dot sums dimensions in the same left-assoc IEEE order as the
    oracle's list_reduce, so the doubles are bit-identical before
    rounding and the 6dp rank keys cannot diverge at tie boundaries."""
    prefix = F.expr(f"slice(v, 1, {PRE_DIM})")
    corpus, q = _split(
        _vectors(spark, sf_dir), F.col("v").alias("qv"), prefix.alias("qp")
    )
    pairs = corpus.select("vec_id", "v", prefix.alias("vp")).crossJoin(
        F.broadcast(q)
    )
    w_full = W.partitionBy("q_id").orderBy(F.desc("cos_full"), F.asc("vec_id"))
    w_pre = W.partitionBy("q_id").orderBy(F.desc("cos_pre"), F.asc("vec_id"))
    scored = pairs.select(
        "q_id",
        "vec_id",
        F.round(_cosine_udf("v", "qv"), 6).alias("cos_full"),
        F.round(_cosine_udf("vp", "qp"), 6).alias("cos_pre"),
    )
    ranked = scored.withColumn("rk_full", F.row_number().over(w_full)).withColumn(
        "rk_pre", F.row_number().over(w_pre)
    )
    in_full = F.col("rk_full") <= TOP_K
    in_pre = F.col("rk_pre") <= TOP_K
    return (
        ranked.filter(in_full | in_pre)
        .groupBy("q_id")
        .agg(
            F.sum(in_full.cast("long")).alias("k"),
            F.sum((in_full & in_pre).cast("long")).alias("n_overlap"),
        )
        .select(
            "q_id",
            "k",
            "n_overlap",
            F.expr("(n_overlap * 1000000) div k").alias("recall_ppm"),
        )
    )


def _prefix_recall_oracle() -> str:
    def cos(d, a, b):
        dot = _DOT_SQL.format(d=d, a=a, b=b)
        na = _DOT_SQL.format(d=d, a=a, b=a)
        nb = _DOT_SQL.format(d=d, a=b, b=b)
        return f"({dot} / (sqrt({na}) * sqrt({nb})))"

    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), q AS (
  SELECT vec_id AS q_id, v AS qv, v[1:{PRE_DIM}] AS qp FROM e
  WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q_id, e.vec_id,
         round({cos(EMB_DIM, "e.v", "q.qv")}, 6) AS cos_full,
         round({cos(PRE_DIM, "e.v", "q.qp")}, 6) AS cos_pre
  FROM e CROSS JOIN q WHERE e.vec_id >= {N_QUERIES}
), full_k AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
      ORDER BY cos_full DESC, vec_id ASC) AS rk FROM scored
  ) WHERE rk <= {TOP_K}
), pre_k AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
      ORDER BY cos_pre DESC, vec_id ASC) AS rk FROM scored
  ) WHERE rk <= {TOP_K}
), overlap AS (
  SELECT f.q_id, count(*) AS n_overlap
  FROM full_k f JOIN pre_k p ON f.q_id = p.q_id AND f.vec_id = p.vec_id
  GROUP BY f.q_id
)
SELECT k.q_id, k.k, coalesce(o.n_overlap, 0) AS n_overlap,
       (coalesce(o.n_overlap, 0) * 1000000) // k.k AS recall_ppm
FROM (SELECT q_id, count(*) AS k FROM full_k GROUP BY q_id) k
LEFT JOIN overlap o ON k.q_id = o.q_id
"""


def emb_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table QA — the gate before any index build, catching
    the two classic upstream-pipeline failures: degenerate vectors
    (zero or near-zero norm from a crashed encoder) and exact-duplicate
    vectors (a retry loop that re-embedded the same rows). Per vector:
    the fixed-point squared norm, a near-zero flag, the size of its
    exact-duplicate group (keyed on the md5 of the quantized vector, so
    the groupBy shuffles digests, not vectors), and the min-id keeper
    flag. All integer-exact.

    Scale: one narrow map computes digest + norm, one digest-keyed
    aggregate sizes the dup groups (map-side partials), one join back —
    the exact-dedup plan shape applied to the vector column."""
    per_vec = _vfp(spark, sf_dir).select(
        "vec_id",
        F.md5(F.expr("cast(v_fp as string)")).alias("h"),
        F.expr(
            "aggregate(v_fp, cast(0 as bigint), (a, x) -> a + x * x)"
        ).alias("norm_sq_fp"),
    )
    groups = per_vec.groupBy("h").agg(
        F.count(F.lit(1)).alias("dup_group_size"),
        F.min("vec_id").alias("keeper_id"),
    )
    return per_vec.join(groups, "h").select(
        "vec_id",
        "norm_sq_fp",
        (F.col("norm_sq_fp") < 10**6).cast("int").alias("flag_degenerate"),
        "dup_group_size",
        (F.col("vec_id") == F.col("keeper_id")).cast("int").alias("keep"),
    )


def _emb_quality_oracle() -> str:
    # DuckDB list-of-bigint cast-to-string differs from Spark's array
    # rendering, so the digest key is rebuilt the same way both sides:
    # Spark `cast(array<bigint> as string)` renders `[a, b, ...]`,
    # which DuckDB reproduces with '[' || list concat ', ' || ']'.
    return f"""
WITH vfp AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[], x -> {_FP}) AS v_fp
  FROM embeddings
), per_vec AS (
  SELECT vec_id,
         md5('[' || array_to_string(v_fp, ', ') || ']') AS h,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(v_fp, x -> x * x)), (a, b) -> a + b) AS norm_sq_fp
  FROM vfp
), groups AS (
  SELECT h, count(*) AS dup_group_size, min(vec_id) AS keeper_id
  FROM per_vec GROUP BY h
)
SELECT vec_id, norm_sq_fp,
       CAST(norm_sq_fp < 1000000 AS INT) AS flag_degenerate,
       dup_group_size,
       CAST(vec_id = keeper_id AS INT) AS keep
FROM per_vec JOIN groups USING (h)
"""


def ann_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification — the label-propagation use of a similarity
    index (auto-tagging new documents from their embedded neighbors):
    each query vector takes the majority label of its TOP_K nearest
    corpus vectors (ties → smallest label), reported next to its actual
    label. The vote count makes prediction confidence visible.

    Scale: the same broadcast-query/corpus-stream top-k as
    ``ann_cosine_topk`` (at 100 TB the candidate stage swaps for
    IVF/LSH, same downstream vote), then a (query, label)-keyed vote
    count and a ``min_by`` winner — all bounded per query by TOP_K.
    Cross-engine ranking parity is by construction, not assumption:
    ``_fold_dot`` sums dimensions in the oracle's exact left-assoc
    IEEE order, so the 6dp cosine rank keys are bit-identical and
    top-k membership cannot flip at tie boundaries."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v"), "label"
    )
    corpus, q = _split(
        e, F.col("v").alias("qv"), F.col("label").alias("actual_label")
    )
    scored = corpus.crossJoin(F.broadcast(q)).select(
        "q_id",
        "actual_label",
        "vec_id",
        "label",
        F.round(_cosine_udf("v", "qv"), 6).alias("cosine"),
    )
    neighbors = _topk_per_key(
        scored, ["q_id"], [F.desc("cosine"), F.asc("vec_id")], TOP_K
    )
    votes = neighbors.groupBy("q_id", "actual_label", "label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    return votes.groupBy("q_id", "actual_label").agg(
        F.min_by("label", F.struct(-F.col("n_votes"), F.col("label"))).alias(
            "predicted_label"
        ),
        F.max("n_votes").alias("n_votes"),
    ).select(
        "q_id",
        "predicted_label",
        "actual_label",
        "n_votes",
        (F.col("predicted_label") == F.col("actual_label")).cast("int").alias(
            "correct"
        ),
    )


def _knn_classify_oracle() -> str:
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings
), q AS (
  SELECT vec_id AS q_id, v AS qv, label AS actual_label FROM e
  WHERE vec_id < {N_QUERIES}
), neighbors AS (
  SELECT q_id, actual_label, label FROM (
    SELECT q.q_id, q.actual_label, e.vec_id, e.label,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY round({_cos_sql("e.v", "q.qv")}, 6) DESC,
                      e.vec_id ASC) AS rk
    FROM e CROSS JOIN q WHERE e.vec_id >= {N_QUERIES}
  ) WHERE rk <= {TOP_K}
), votes AS (
  SELECT q_id, actual_label, label, count(*) AS n_votes
  FROM neighbors GROUP BY 1, 2, 3
), winner AS (
  SELECT q_id, actual_label, label AS predicted_label, n_votes FROM (
    SELECT q_id, actual_label, label, n_votes,
           row_number() OVER (PARTITION BY q_id
             ORDER BY n_votes DESC, label ASC) AS rk
    FROM votes
  ) WHERE rk = 1
)
SELECT q_id, predicted_label, actual_label, n_votes,
       CAST(predicted_label = actual_label AS INT) AS correct
FROM winner
"""


OUTLIER_MULT = 4  # flag vectors beyond 4x their cell's mean sq-distance


def emb_outlier_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding QA by distance-to-centroid: run the fixed-point
    k-means loop (same constants and arithmetic as
    emb_kmeans_fixed_point — integer folds, floor-division centroids),
    keep each vector's squared distance to its final centroid, and
    flag outliers at OUTLIER_MULT× the cell's mean squared distance —
    the off-manifold / corrupt-embedding screen a curation pipeline
    runs before trusting ANN candidates or semantic dedup.

    Exactness: distances are pure integer folds over ×10⁶ quantized
    vectors (bit-identical both engines); the outlier test multiplies
    instead of dividing — dist·n > MULT·sum_d — so no rounding exists
    anywhere in the flag; the reported cell mean is the one
    floor-of-double division (exact while sum_d < 2⁵³, i.e. ~30k
    vectors/cell at this quantization; the FLAG itself has no such
    bound). mean_dist products stay in long: dist ≤ 3·10¹⁴ (64 dims ×
    (2·10⁶)²), n·MULT· that needs DECIMAL past ~7000 vectors/cell —
    computed in DECIMAL(38,0)/HUGEINT like the house convention.

    Scale: assignment is the broadcast-K integer fold (corpus never
    shuffles for it); cell stats are a ≤K-row keyed aggregate joined
    back as a broadcast; one corpus-scaled exchange total per
    iteration (the assignment min_by groupBy).

    Deliberately LAZY. The loop (``_lloyd_fp``) is a single linear
    lineage chain (each iteration's cents is consumed exactly once by
    the next assignment); the plan's 24 embeddings scans / 64
    Exchanges come from the final pass referencing `assigned` twice
    (directly and inside the final `cents` broadcast). Checkpointing
    per-iteration `assigned`, one post-loop `assigned` or a narrow
    final-distances relation each measured slower than the lazy plan:
    eagerly materializing the 64-long-array column (or even the narrow
    distance relation, whose lineage must still evaluate the wide chain
    once as a blocking job) loses to the lazy duplicate recompute, whose
    duplicated subtrees are embarrassingly parallel scans+folds at this
    geometry. At a
    corpus scale where one assignment pass dominates, the standard
    Lloyd's-loop persist per iteration is the documented production
    posture (SCALING.md); it is a net loss at bench scale and is
    therefore not hard-coded."""
    assigned, cents = _lloyd_fp(_vfp(spark, sf_dir))
    # distance to the FINAL centroids (the loop's `dist` is to the
    # previous iteration's), then per-cell stats + multiplicative flag
    final = (
        assigned.join(F.broadcast(cents), "cell")
        .select("vec_id", "cell", F.expr(_int_l2("v_fp", "c_fp")).alias("dist"))
    )
    stats = final.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("dist").alias("sum_d"),
    )
    return (
        final.join(F.broadcast(stats), "cell")
        .select(
            "vec_id",
            "cell",
            "dist",
            F.floor(F.col("sum_d").cast("double") / F.col("n_vecs"))
            .cast("long")
            .alias("cell_mean_dist"),
            (
                F.col("dist").cast("decimal(38,0)") * F.col("n_vecs")
                > F.lit(OUTLIER_MULT) * F.col("sum_d").cast("decimal(38,0)")
            )
            .cast("int")
            .alias("is_outlier"),
        )
    )


def _outlier_oracle() -> str:
    base = f"""
WITH vecs AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[], x -> {_FP}) AS v_fp
  FROM embeddings
), c0 AS (
  SELECT vec_id AS cell, v_fp AS c_fp FROM vecs WHERE vec_id < {KMEANS_K}
)"""
    prev = "c0"
    final_assign = None
    for it in range(KMEANS_ITERS):
        a = f"a{it + 1}"
        c = f"c{it + 1}"
        base += f""", {a} AS (
  SELECT vec_id, v_fp, cell FROM (
    SELECT v.vec_id, v.v_fp, k.cell,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {_dist_duck("v.v_fp", "k.c_fp")} ASC, k.cell ASC) AS rk
    FROM vecs v CROSS JOIN {prev} k
  ) WHERE rk = 1
)"""
        base += f""", {c} AS (
  SELECT cell,
         list(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) ORDER BY dim) AS c_fp
  FROM (
    SELECT cell, dim, sum(val) AS s, count(*) AS n FROM (
      SELECT cell, generate_subscripts(v_fp, 1) AS dim, unnest(v_fp) AS val
      FROM {a}
    ) GROUP BY cell, dim
  ) GROUP BY cell
)"""
        prev = c
        final_assign = a
    return base + f""", fin AS (
  SELECT a.vec_id, a.cell,
         {_dist_duck("a.v_fp", "k.c_fp")} AS dist
  FROM {final_assign} a JOIN {prev} k USING (cell)
), st AS (
  SELECT cell, count(*) AS n_vecs, CAST(sum(dist) AS BIGINT) AS sum_d
  FROM fin GROUP BY cell
)
SELECT vec_id, fin.cell, dist,
       CAST(floor(CAST(sum_d AS DOUBLE) / n_vecs) AS BIGINT)
         AS cell_mean_dist,
       CAST(CAST(dist AS HUGEINT) * n_vecs
            > {OUTLIER_MULT} * CAST(sum_d AS HUGEINT) AS INT) AS is_outlier
FROM fin JOIN st ON fin.cell = st.cell
"""


HARD_NEG_MARGIN = 0.1  # semi-hard band below the best positive (FaceNet)


def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triplet-mining table for contrastive embedding training: for
    each anchor vector, the TOP_K most-similar DIFFERENT-label vectors
    (the hard negatives), each tagged against the anchor's best
    same-label candidate (the hardest positive) with the semi-hard
    flag of Schroff et al. 2015 (FaceNet): a negative is semi-hard
    when it scores below the best positive but within HARD_NEG_MARGIN
    of it — the band that drives useful gradients.

    Returns (q_id, q_label, neg_id, neg_label, cosine, rk,
    best_pos_cos, semi_hard). best_pos_cos is −1 when the anchor has
    no same-label candidate (every negative is then hard, none
    semi-hard — the strict comparisons are against −1).

    Exactness: cosines are the channel-wise IEEE fold both engines
    compute identically (rounded to 6 decimals — similarity.py header);
    the semi-hard comparison subtracts the same double literal from the
    same rounded double in both engines, so the flag is deterministic.

    Scale: the anchor relation is bounded by the N_QUERIES constant →
    its broadcast is correct at any corpus size; the best-positive is a
    keyed MAX aggregate (never a window); negatives rank through the
    two-level tournament (anchors are a low-cardinality key). The
    corpus-sized candidate scan is the oracle-checkable brute-force
    baseline — at 100 TB the same select/flag logic consumes candidate
    pairs from the bucketed generators (ann_ivf cells / ann_rerank
    multi-probe LSH) instead of the cross join, exactly as those
    operators document."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v"), "label"
    )
    corpus, q = _split(e, F.col("v").alias("qv"), F.col("label").alias("q_label"))
    scored = (
        corpus.crossJoin(F.broadcast(q))
        .select(
            "q_id",
            "q_label",
            "vec_id",
            "label",
            F.round(_cosine_udf("v", "qv"), 6).alias("cosine"),
        )
    )
    best_pos = (
        scored.filter(F.col("label") == F.col("q_label"))
        .groupBy("q_id")
        .agg(F.max("cosine").alias("best_pos_cos"))
    )
    negs = _topk_per_key(
        scored.filter(F.col("label") != F.col("q_label")),
        ["q_id"],
        [F.desc("cosine"), F.asc("vec_id")],
        TOP_K,
    )
    return (
        negs.join(F.broadcast(best_pos), "q_id", "left")
        .withColumn(
            "best_pos_cos", F.coalesce(F.col("best_pos_cos"), F.lit(-1.0))
        )
        .select(
            "q_id",
            "q_label",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            "cosine",
            "rk",
            "best_pos_cos",
            (
                (F.col("cosine") < F.col("best_pos_cos"))
                & (F.col("cosine") > F.col("best_pos_cos") - HARD_NEG_MARGIN)
            )
            .cast("int")
            .alias("semi_hard"),
        )
    )


def _hard_neg_oracle() -> str:
    cos = _cos_sql("e.v", "q.qv")
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings
), q AS (
  SELECT vec_id AS q_id, v AS qv, label AS q_label FROM e
  WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q.q_id, q.q_label, e.vec_id, e.label,
         round({cos}, 6) AS cosine
  FROM e CROSS JOIN q WHERE e.vec_id >= {N_QUERIES}
), best_pos AS (
  SELECT q_id, max(cosine) AS best_pos_cos FROM scored
  WHERE label = q_label GROUP BY q_id
), negs AS (
  SELECT q_id, q_label, vec_id, label, cosine, rk FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
      ORDER BY cosine DESC, vec_id ASC) AS rk
    FROM scored WHERE label <> q_label
  ) WHERE rk <= {TOP_K}
)
SELECT n.q_id, n.q_label, n.vec_id AS neg_id, n.label AS neg_label,
       n.cosine, n.rk,
       coalesce(b.best_pos_cos, -1.0) AS best_pos_cos,
       CAST(n.cosine < coalesce(b.best_pos_cos, -1.0)
            AND n.cosine > coalesce(b.best_pos_cos, -1.0)
                           - {HARD_NEG_MARGIN} AS INT) AS semi_hard
FROM negs n LEFT JOIN best_pos b ON n.q_id = b.q_id
"""


def emb_covariance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact covariance sufficient statistics of the embedding table —
    the single-pass reduction behind PCA / whitening / Mahalanobis
    screening: for every dimension pair (i ≤ j), the corpus sums
    (n, Σxᵢ, Σxⱼ, Σxᵢxⱼ) over ×10⁶ fixed-point values. The covariance
    matrix itself is a trivial driver-side closed form of these
    ((n·Σxy − Σx·Σy)/n²) finished in arbitrary precision; the
    operator's job at 100 TB is the one-pass EXACT statistics, kept
    integer so the merge is associative and engine-identical (a
    floored covariance division is deliberately NOT emitted: Spark
    `div` truncates while DuckDB `//` floors, and the numerator is
    negative-capable — the statistics are the portable artifact).

    Scale: the canonical map-side-combine shape — one `mapInPandas`
    pass computes per-Arrow-batch partials with a single numpy
    Gram-matrix op (AᵀA per batch; int64-exact: |v_fp| ≤ 2·10⁶ ⇒
    batch partial ≤ 4·10¹²·rows, inside int64 for any Arrow batch),
    emitting D(D+1)/2 rows per batch; the only shuffle carries those
    fixed-width partials (never vectors), and the final keyed sums run
    in DECIMAL(38,0)/HUGEINT — exact to ~10²⁵ corpus rows. Output is
    D(D+1)/2 = 2,080 rows regardless of corpus size.

    Cross-engine note: the merge runs in DECIMAL(38,0) internally,
    but the emitted statistics are cast to BIGINT on both engines —
    the r8/r9 driver evidence shows its value hash rejects DECIMAL
    output columns in any pairing (even DECIMAL-vs-DECIMAL with
    identical cells). The cast is comfortably safe here: the largest
    statistic is Σxᵢxⱼ ≤ n·(2·10⁶)² per dim pair, ~6.8·10¹⁶ measured
    at sf0.1 and inside int64 through ~sf1; ANSI mode throws loudly
    if a corpus ever exceeds it, and the >2⁶³ production variant is
    the same plan emitting the internal DECIMAL column unchanged."""
    e = load_table(spark, sf_dir, "embeddings").select(
        F.expr(f"transform(embedding, x -> {_FP})").alias("v_fp")
    )

    def partials(batches):
        import numpy as np
        import pandas as pd

        iu = np.triu_indices(EMB_DIM)
        for pdf in batches:
            if not len(pdf):
                continue
            # Defensive ingest (round-8 driver red was locally
            # unreproducible — the Arrow→pandas list-column conversion
            # is the one environment-sensitive step): verify the
            # stacked dtype BEFORE casting and fail loudly on anything
            # unexpected. The old unconditional astype(int64) would
            # turn a silently float64-converted chunk (e.g. a
            # null-bearing Arrow block: NaN→int64 is platform-defined
            # garbage) into wrong-but-plausible partials.
            a = np.stack(pdf["v_fp"].to_numpy())
            if a.ndim != 2 or a.shape[1] != EMB_DIM:
                raise ValueError(
                    f"covariance ingest: shape {a.shape}, expected (n,{EMB_DIM})"
                )
            if a.dtype.kind not in "iufO":
                raise ValueError(f"covariance ingest: dtype {a.dtype}")
            b = a.astype(np.int64)
            # exactness round-trip: catches NaN (NaN != anything),
            # non-integral floats, and any lossy object conversion
            if a.dtype.kind != "i" and not np.equal(b, a).all():
                raise ValueError(
                    f"covariance ingest: lossy int64 cast from {a.dtype}"
                )
            a = b
            mx = int(np.abs(a).max(initial=0))
            if len(pdf) * mx * mx > 9_000_000_000_000_000_000:
                raise ValueError(
                    f"covariance ingest: batch Gram partial may overflow"
                    f" int64 (rows={len(pdf)}, max|v|={mx})"
                )
            g = a.T @ a
            sx = a.sum(axis=0)
            if g.dtype != np.int64 or sx.dtype != np.int64:
                raise ValueError(
                    f"covariance partials: non-int64 accumulation"
                    f" ({g.dtype}/{sx.dtype})"
                )
            yield pd.DataFrame(
                {
                    "i": iu[0].astype("int32"),
                    "j": iu[1].astype("int32"),
                    "sxy": g[iu],
                    "sx": sx[iu[0]],
                    "sy": sx[iu[1]],
                    "n": np.full(len(iu[0]), len(pdf), dtype=np.int64),
                }
            )

    p = e.mapInPandas(
        partials, schema="i int, j int, sxy long, sx long, sy long, n long"
    )
    return p.groupBy("i", "j").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum(F.col("sx").cast("decimal(38,0)")).cast("long").alias("s_x"),
        F.sum(F.col("sy").cast("decimal(38,0)")).cast("long").alias("s_y"),
        F.sum(F.col("sxy").cast("decimal(38,0)")).cast("long").alias("s_xy"),
    )


EMB_COV_ORACLE = f"""
WITH e AS (
  SELECT list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x * 1000000) AS BIGINT)) AS v
  FROM embeddings
)
SELECT CAST(i - 1 AS INT) AS i, CAST(j - 1 AS INT) AS j,
       count(*) AS n,
       CAST(CAST(sum(v[i]) AS HUGEINT) AS BIGINT) AS s_x,
       CAST(CAST(sum(v[j]) AS HUGEINT) AS BIGINT) AS s_y,
       CAST(CAST(sum(v[i] * v[j]) AS HUGEINT) AS BIGINT) AS s_xy
FROM e, range(1, {EMB_DIM} + 1) t(i), range(1, {EMB_DIM} + 1) u(j)
WHERE i <= j
GROUP BY 1, 2
"""


def emb_dim_variance_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension variance ranking — the CONSUMER side of
    emb_covariance_stats, and the first question asked of it in
    practice: which embedding dimensions carry signal and which are
    near-constant (dead dims from a truncated encoder, padding, or a
    quantization bug)? Dimensions rank by the exact integer variance
    numerator n·Σx² − (Σx)² (population variance × n²) read off the
    statistics' DIAGONAL — n is identical across dims, so ordering by
    the numerator IS ordering by variance, with zero division or
    sqrt anywhere. flag_dead marks var_num = 0 (a literally constant
    dimension).

    Scale: inherits the one-pass map-side-combine reduction; this
    consumer touches only the D diagonal rows, and the ranking window
    orders a D-row relation (dimension count, never corpus). The
    numerator arithmetic runs in DECIMAL(38,0) (exact to ~10¹⁸ rows ×
    the ×10⁶ fixed-point value bound: n·Σx² ≤ 10³⁸); the emitted
    `var_num` is cast to BIGINT on both engines (the r8/r9 driver
    value hash rejects DECIMAL output columns in any pairing) —
    n·Σx² measured 6.8·10¹⁶ at sf0.1, inside int64 through ~sf1
    with ANSI throwing loudly beyond; a >2⁶³ corpus keeps the
    DECIMAL column (the ranking itself is computed pre-cast)."""
    diag = emb_covariance_stats(spark, sf_dir).filter(F.col("i") == F.col("j"))
    ranked = diag.select(
        F.col("i").alias("dim"),
        "n",
        (
            F.col("n").cast("decimal(38,0)") * F.col("s_xy")
            - F.col("s_x").cast("decimal(38,0)") * F.col("s_y")
        )
        .cast("decimal(38,0)")
        .alias("var_num"),
    )
    w = W.orderBy(F.desc("var_num"), F.asc("dim"))  # D rows — bounded
    return (
        ranked.withColumn("rk", F.row_number().over(w))
        .withColumn("flag_dead", (F.col("var_num") == 0).cast("int"))
        .withColumn("var_num", F.col("var_num").cast("long"))
    )


EMB_DIM_VAR_ORACLE = f"""
WITH cov AS ({EMB_COV_ORACLE}),
diag AS (
  SELECT i AS dim, n,
         CAST(n AS HUGEINT) * s_xy - CAST(s_x AS HUGEINT) * s_y
           AS var_num_h
  FROM cov WHERE i = j
)
SELECT dim, n, CAST(var_num_h AS BIGINT) AS var_num,
       row_number() OVER (ORDER BY var_num_h DESC, dim ASC) AS rk,
       CAST(var_num_h = 0 AS INT) AS flag_dead
FROM diag
"""


DRIFT_BAND_W = 250_000  # micro-units per histogram band (0.25 raw)


def emb_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding distribution drift monitor — the MLOps check run when
    a new corpus snapshot, encoder version, or ingest source lands: per
    embedding dimension, a two-sample chi-square statistic between a
    reference population and a candidate population over fixed value
    bands. Populations here are the deterministic halves vec_id%2
    (in production: yesterday's snapshot vs today's); the per-dim
    statistic ranks which dimensions moved, the first question a drift
    alert answers.

    Exactness: each band's chi-square term is the floor of an exact
    rational — (n_ref·N_cand − n_cand·N_ref)²·10⁶ div
    ((n_ref+n_cand)·N_ref·N_cand) in DECIMAL(38,0)/HUGEINT — so the
    per-dim SUM is an integer sum (order-independent, engine-identical),
    never a float accumulation. The squared numerator stays inside 38
    digits while population sizes N ≲ 3·10⁸ vectors; beyond that,
    band counts are pre-scaled (divide both populations by a common
    factor) before the statistic — the tau-b documented-bound
    convention. Term magnitude ≤ N·10⁶ keeps the BIGINT emit exact to
    N ~ 9·10¹² vectors.

    Scale: one posexplode pass (64 rows per vector — fixed fan-out),
    ONE keyed aggregate to (dim, band, pop) counts — map-side combined,
    output cardinality ≤ EMB_DIM × bands (a constant: |x| ≤ 2 in
    micro-units ⇒ ≤ 17 bands) — then the statistic on that constant
    relation with the two population sizes riding a 1-row broadcast.
    Vectors never shuffle."""
    e = load_table(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") % 2 == 0).cast("long").alias("is_ref"),
        F.posexplode("embedding").alias("dim", "x"),
    )
    banded = e.select(
        "is_ref",
        "dim",
        F.expr(
            f"CAST(floor(CAST(x AS DOUBLE) * 1000000 / {DRIFT_BAND_W})"
            " AS BIGINT)"
        ).alias("band"),
    )
    counts = banded.groupBy("dim", "band").agg(
        F.sum("is_ref").alias("n_ref"),
        F.sum(1 - F.col("is_ref")).alias("n_cand"),
    )
    pops = load_table(spark, sf_dir, "embeddings").agg(
        F.sum((F.col("vec_id") % 2 == 0).cast("long")).alias("nr"),
        F.sum((F.col("vec_id") % 2 != 0).cast("long")).alias("nc"),
    )
    terms = counts.crossJoin(F.broadcast(pops)).withColumn(
        "term_ppm",
        F.expr(
            "(CAST(n_ref AS DECIMAL(38,0)) * nc"
            "  - CAST(n_cand AS DECIMAL(38,0)) * nr)"
            " * (CAST(n_ref AS DECIMAL(38,0)) * nc"
            "    - CAST(n_cand AS DECIMAL(38,0)) * nr)"
            " * 1000000"
            " div (CAST(n_ref + n_cand AS DECIMAL(38,0)) * nr * nc)"
        ).cast("long"),
    )
    return terms.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n_bands"),
        F.sum("term_ppm").alias("drift_ppm"),
    )


EMB_DRIFT_ORACLE = f"""
WITH e AS (
  SELECT CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END AS is_ref,
         i - 1 AS dim,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 / {DRIFT_BAND_W})
              AS BIGINT) AS band
  FROM embeddings CROSS JOIN range(1, {EMB_DIM} + 1) t(i)
), counts AS (
  SELECT dim, band,
         CAST(sum(is_ref) AS BIGINT) AS n_ref,
         CAST(sum(1 - is_ref) AS BIGINT) AS n_cand
  FROM e GROUP BY 1, 2
), pops AS (
  SELECT CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nr,
         CAST(sum(CASE WHEN vec_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc
  FROM embeddings
)
SELECT dim, count(*) AS n_bands,
       CAST(sum(CAST(
         (CAST(n_ref AS HUGEINT) * nc - CAST(n_cand AS HUGEINT) * nr)
         * (CAST(n_ref AS HUGEINT) * nc - CAST(n_cand AS HUGEINT) * nr)
         * 1000000
         // (CAST(n_ref + n_cand AS HUGEINT) * nr * nc)
       AS BIGINT)) AS BIGINT) AS drift_ppm
FROM counts CROSS JOIN pops
GROUP BY dim
"""


QUERY_DEFS = [
    QueryDef("ann_cosine_topk", ann_cosine_topk, ANN_TOPK_ORACLE),
    QueryDef("emb_drift_monitor", emb_drift_monitor, EMB_DRIFT_ORACLE),
    QueryDef("emb_hard_negatives", emb_hard_negatives, _hard_neg_oracle()),
    QueryDef("emb_outlier_distance", emb_outlier_distance, _outlier_oracle()),
    QueryDef("ann_ivf_pq", ann_ivf_pq, _ivfpq_oracle()),
    QueryDef("ann_ivf_pq_rerank", ann_ivf_pq_rerank, _ivfpq_rerank_oracle()),
    QueryDef("emb_prefix_recall", emb_prefix_recall, _prefix_recall_oracle()),
    QueryDef("emb_quality_audit", emb_quality_audit, _emb_quality_oracle()),
    QueryDef("ann_knn_classify", ann_knn_classify, _knn_classify_oracle()),
    QueryDef("emb_random_projection", emb_random_projection, _rp_oracle()),
    QueryDef("emb_pq_encode", emb_pq_encode, _pq_oracle()),
    QueryDef(
        "emb_pq_residual_encode", emb_pq_residual_encode, _pq_residual_oracle()
    ),
    QueryDef("dedup_semantic", dedup_semantic, _semdedup_oracle()),
    QueryDef("emb_scalar_quantize", emb_scalar_quantize, QUANTIZE_ORACLE),
    QueryDef("emb_kmeans_fixed_point", emb_kmeans_fixed_point, _kmeans_oracle()),
    QueryDef("emb_label_centroids", emb_label_centroids, EMB_CENTROID_ORACLE),
    QueryDef("ann_lsh_buckets", ann_lsh_buckets, _lsh_oracle()),
    QueryDef("ann_rerank", ann_rerank, _ann_rerank_oracle()),
    QueryDef("ann_ivf", ann_ivf, _ann_ivf_oracle()),
    QueryDef("ann_ivf_recall", ann_ivf_recall, _ann_ivf_recall_oracle()),
    QueryDef("ann_ivf_cell_balance", ann_ivf_cell_balance, _ann_ivf_balance_oracle()),
    QueryDef("dedup_embedding_cosine", dedup_embedding_cosine, DEDUP_EMB_ORACLE),
    QueryDef("emb_covariance_stats", emb_covariance_stats, EMB_COV_ORACLE),
    QueryDef("emb_dim_variance_rank", emb_dim_variance_rank, EMB_DIM_VAR_ORACLE),
    QueryDef("ann_mllib_brp", ann_mllib_brp, None),  # rows-only (see docstring)
    # the oracle-bearing audit twin: BRP guarantees as integer predicates
    QueryDef("ann_mllib_brp_recall", ann_mllib_brp_recall, _brp_recall_oracle()),
    QueryDef("ann_ivf_trained", ann_ivf_trained, None),  # rows-only (see docstring)
    QueryDef(
        "ann_ivf_trained_recall", ann_ivf_trained_recall, _ivf_trained_recall_oracle()
    ),
    QueryDef("ann_ivf_pq_trained", ann_ivf_pq_trained, None),  # rows-only (see docstring)
    QueryDef(
        "ann_ivf_pq_trained_audit",
        ann_ivf_pq_trained_audit,
        _pq_trained_audit_oracle(),
    ),
]
