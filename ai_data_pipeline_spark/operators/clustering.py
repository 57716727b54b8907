"""Duplicate-cluster assignment: connected components over near-dup
pairs (the step after pair generation in a large-scale dedup pipeline —
every doc gets a cluster id = min doc_id of its component, so "keep one
per cluster" becomes a trivial filter).

Spark-first design: iterative min-label propagation (Pregel-style).
Each round every vertex takes the min of its own label and its
neighbors' labels; convergence in O(component diameter) rounds. The
driver loop iterates over *rounds* (a handful), never over rows; each
round is one shuffle join + one groupBy, with `localCheckpoint()`
cutting lineage so plans stay flat. At 100 TB the same loop holds —
edges come from LSH band candidates (linear), not all-pairs, and the
alternating large-star/small-star optimization (Kiveris et al.,
"Connected Components in MapReduce", SOCC'14) drops round count to
O(log d); plain propagation is used here because testdata components
have tiny diameters.

The DuckDB oracle computes the same components exactly via a recursive
CTE (transitive closure + min per reach set) — one of the few genuinely
iterative operators that still has an exact SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_data_pipeline_spark.catalog import load_table
from ai_data_pipeline_spark.operators.dedup import DEDUP_NGRAM_ORACLE, dedup_ngram_jaccard
from ai_data_pipeline_spark.registry import QueryDef
from ai_data_pipeline_spark.session import session_scoped_cache

CC_MAX_ITERS = 20

# The near-dup pair relation is the shared input of dedup_clusters and
# dedup_triangles, and each consumer references it from several join
# branches (2 in the symmetrized edge list, 3 in the triangle join).
# Without materialization Spark re-executes the whole shingle-join
# subtree once per branch per query (~5× the work). One eager
# localCheckpoint computes it once per
# (session, sf_dir) and every branch reads the materialized blocks.
# Cached per live session (weak-keyed — see session.session_scoped_cache).


def _near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cache = session_scoped_cache(spark, "clustering_pairs")
    if sf_dir not in cache:
        cache[sf_dir] = (
            dedup_ngram_jaccard(spark, sf_dir)
            .select("doc_a", "doc_b")
            .localCheckpoint()
        )
    return cache[sf_dir]


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id, cluster_size): connected components over
    n-gram-Jaccard near-dup pairs; cluster_id = min doc_id in component."""
    pairs = _near_dup_pairs(spark, sf_dir)
    # The edge set is small relative to the corpus (near-dup pairs
    # only), but NOT constant: duplicate-heavy corpora grow it
    # quadratically in per-cluster multiplicity (the r11 sf1
    # memory-pressure sweep measured ×100 edge mass at ×10 rows on a
    # 10-replica corpus — SCALING.md). The loop width therefore scales
    # with the measured edge count (pairs is already checkpointed, so
    # the sizing count is cheap plan metadata): ~100k edges/partition,
    # floor 8 so a tiny edge set still schedules a handful of tasks
    # instead of shuffle-partitions-many.
    n_edges = 2 * pairs.count()
    width = max(8, -(-n_edges // 100_000))
    sym = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .repartition(width, "src")
        .localCheckpoint()  # materialize once; reused every round
    )
    # Only edge-touched vertices enter the loop: isolated docs are their
    # own singleton component by definition, so the iterated label table
    # is bounded by |near-dup endpoints| (≪ corpus at any scale), and
    # each round shuffles only that.
    labels = (
        sym.select(F.col("src").alias("v"))
        .distinct()
        .withColumn("label", F.col("v"))
        .localCheckpoint()
    )
    for _ in range(CC_MAX_ITERS):
        prop = sym.join(labels, sym["src"] == labels["v"]).select(
            F.col("dst").alias("v"), F.col("label"), F.lit(False).alias("own")
        )
        # Fold the convergence check into the same groupBy: the vertex's
        # previous label rides along as min(label where own), so "did
        # anything change" is a cheap filter-count on the checkpointed
        # result — no second shuffle join per round.
        new = (
            labels.select("v", "label", F.lit(True).alias("own"))
            .union(prop)
            .groupBy("v")
            .agg(
                F.min("label").alias("label"),
                F.min(F.when(F.col("own"), F.col("label"))).alias("old_label"),
            )
            .localCheckpoint()
        )
        changed = new.filter(F.col("label") != F.col("old_label")).count()
        labels = new.select("v", "label")
        if changed == 0:
            break
    assign = (
        load_table(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("v"))
        .join(labels, "v", "left")
        .select(
            F.col("v").alias("doc_id"),
            F.coalesce(F.col("label"), F.col("v")).alias("cluster_id"),
        )
    )
    return _with_cluster_size(assign)


def _with_cluster_size(assign: DataFrame) -> DataFrame:
    """cluster_size as a keyed AGGREGATE + hash join back, not a
    cluster_id window: the window sorts the full corpus inside its
    shuffle, while the aggregate's map-side partial combines collapse
    each partition's cluster mass before the exchange (the
    q_cheapest_supplier convention — no sorting window on a
    data-scaled key)."""
    sizes = assign.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return assign.join(sizes, "cluster_id").select(
        "doc_id", "cluster_id", "cluster_size"
    )


# Round cap: alternating large/small-star converges in O(log² n)
# rounds worst-case (SoCC'14 Thm 2; a handful in practice — 3 at every
# tested SF). The cap is a backstop, NOT a correctness assumption:
# exhausting it RAISES (see below) rather than emitting the
# pre-fixpoint labels a truncated run would produce on an
# adversarially deep component (ADVICE r9).
LOGSTAR_MAX_ITERS = 32


def dedup_clusters_logstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii: "Connected
    Components in MapReduce and Beyond", SoCC'14) — the O(log d)-round
    variant of dedup_clusters' plain O(d) min-label propagation, and
    the round-count answer for adversarially deep duplicate chains
    (100 TB crawl graphs routinely contain long path components that
    would cost plain propagation hundreds of shuffle rounds).

    One round = two edge rewrites, each a single groupBy + join over
    the CURRENT edge set (which only shrinks toward star forests):
    - large-star: every node u links its LARGER neighbors to
      m(u) = min(Γ(u) ∪ {u});
    - small-star: every node u links its smaller neighbors (and
      itself) to m(u) = min of those.
    The fixpoint is a forest of stars centered at component minima, so
    labels read off as min(direct neighbor, self) — no global
    transitive closure ever materializes. Convergence detection is
    EXACT and two-tier: each round computes a cheap (count,
    order-insensitive hash-sum) signature in one aggregate action, and
    only when the signature REPEATS does the exact confirmation run —
    an empty exceptAll diff (counts equal + one-sided empty difference
    ⇒ set equality for deduplicated relations). The signature alone
    decided convergence before round 10 (collidable in principle); a
    count alone would trigger the exact diff EVERY round on
    path-shaped components, whose edge count is invariant across
    rewrites while the hash-sum keeps moving toward the minima — the
    signature prefilter restores one exact diff per query on exactly
    the adversarial shape this operator exists for. If
    LOGSTAR_MAX_ITERS rounds pass without a PROVEN fixpoint the
    operator RAISES, pointing at dedup_clusters as the O(d) fallback —
    it never silently emits the wrong labels a truncated
    star-contraction would produce.

    Same output contract and DuckDB recursive-CTE oracle as
    dedup_clusters; tests/test_operator_properties.py additionally pins
    label-for-label equality between the two implementations."""
    pairs = _near_dup_pairs(spark, sf_dir)
    # canonical (hi, lo) orientation; both rewrites emit it naturally
    edges = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("hi"),
            F.least("doc_a", "doc_b").alias("lo"),
        )
        .distinct()
        .repartition(8, "hi")
        .localCheckpoint()
    )
    def _sig(df: DataFrame):
        return tuple(
            df.agg(
                F.count(F.lit(1)), F.sum(F.hash("hi", "lo").cast("long"))
            ).first()
        )

    prev_sig = _sig(edges)
    converged = prev_sig[0] == 0
    for _ in range(LOGSTAR_MAX_ITERS):
        if converged:
            break
        # --- large-star: for each u, larger neighbors -> m(u)
        sym = edges.select(F.col("hi").alias("u"), F.col("lo").alias("v")).union(
            edges.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .distinct()
        )
        # --- small-star on the large-star output: for each hi node,
        # its (all-smaller) neighbors and itself -> their min
        smins = ls.groupBy("hi").agg(F.min("lo").alias("m"))
        ss = (
            ls.join(smins, "hi")
            .select(
                F.when(F.col("lo") != F.col("m"), F.col("lo"))
                .otherwise(F.col("hi"))
                .alias("hi"),
                F.col("m").alias("lo"),
            )
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
            .repartition(8, "hi")
            .localCheckpoint()
        )
        sig = _sig(ss)
        if sig[0] == 0 or (
            # signature match is the cheap prefilter; equality is then
            # PROVEN by the one-sided empty diff (counts already equal)
            sig == prev_sig
            and ss.exceptAll(edges).count() == 0
        ):
            converged = True  # exact fixpoint (or empty) — proven
        edges, prev_sig = ss, sig
    if not converged:
        raise RuntimeError(
            f"dedup_clusters_logstar: no star-forest fixpoint within "
            f"{LOGSTAR_MAX_ITERS} rounds ({prev_sig[0]} edges live) — "
            f"component depth exceeds the cap; use dedup_clusters "
            f"(O(d) min-label propagation) for this graph"
        )
    labels = edges.groupBy(F.col("hi").alias("v")).agg(
        F.min("lo").alias("label")
    )
    assign = (
        load_table(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("v"))
        .join(labels, "v", "left")
        .select(
            F.col("v").alias("doc_id"),
            F.coalesce(F.col("label"), F.col("v")).alias("cluster_id"),
        )
    )
    return _with_cluster_size(assign)


CLUSTERS_ORACLE = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({DEDUP_NGRAM_ORACLE})
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), reach(v, u) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.v, e.b FROM reach r JOIN edges e ON e.a = r.u
), assign AS (
  SELECT v AS doc_id, min(u) AS cluster_id FROM reach GROUP BY v
)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM assign
"""


def dedup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration over the near-dup graph (a < b < c via two
    joins on oriented edges): triangles mark tightly-coupled duplicate
    groups where pairwise-threshold decisions agree transitively —
    the standard graph-quality signal for an LSH candidate set.

    Scale shape: orienting edges low→high before joining bounds each
    join's fan-out by the max out-degree (the classic MapReduce
    triangle-count trick); both joins shuffle on a vertex key."""
    pairs = _near_dup_pairs(spark, sf_dir)
    e1 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = pairs.select(F.col("doc_a").alias("b2"), F.col("doc_b").alias("c"))
    e3 = pairs.select(F.col("doc_a").alias("a3"), F.col("doc_b").alias("c3"))
    wedges = e1.join(e2, F.col("b") == F.col("b2")).select("a", "b", "c")
    return (
        wedges.join(
            e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3"))
        )
        .select("a", "b", "c")
    )


TRIANGLES_ORACLE = f"""
WITH pairs AS (
  SELECT doc_a, doc_b FROM ({DEDUP_NGRAM_ORACLE})
)
SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
FROM pairs e1
JOIN pairs e2 ON e1.doc_b = e2.doc_a
JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
"""


PR_ITERS = 3
PR_SCALE = 1_000_000  # ranks as longs ×10⁶ — integer-exact across engines
PR_BASE = 150_000  # (1 - d) × SCALE with d = 0.85
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100


def _trade_graph(spark: SparkSession, sf_dir: str):
    """Directed nation-trade graph: customer nation → supplier nation,
    edge weight = number of trade lines; W_src = total out-weight."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    edges = (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        # customer/supplier scale with SF — no hard broadcast hints
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    out_w = edges.groupBy("src").agg(F.sum("w").alias("w_src"))
    return edges.join(out_w, "src")


def graph_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the nation-trade graph, 3 fixed
    iterations in pure integer arithmetic (ranks ×10⁶; per-edge
    contribution = (r·w) div W_src; damping 85/100 applied with integer
    division) — bit-identical in any engine, no float accumulation.

    Scale shape: each iteration is one shuffle of the edge relation on
    dst (ranks broadcast/co-partitioned); the driver loops over
    *iterations* only. The same loop runs a 10⁹-vertex web graph —
    edges partition by dst, ranks are the small relation per vertex.
    """
    edges = _trade_graph(spark, sf_dir).localCheckpoint()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    ranks = nodes.withColumn("r", F.lit(PR_SCALE).cast("long"))
    for _ in range(PR_ITERS):
        contribs = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .select(
                F.col("dst"),
                F.expr("(r * w) div w_src").alias("contrib"),
            )
            .groupBy("dst")
            .agg(F.sum("contrib").alias("in_sum"))
        )
        ranks = (
            nodes.join(contribs, nodes["node"] == contribs["dst"], "left_outer")
            .select(
                "node",
                (
                    F.lit(PR_BASE)
                    + F.expr(
                        f"({PR_DAMP_NUM} * coalesce(in_sum, 0)) div {PR_DAMP_DEN}"
                    )
                ).cast("long").alias("r"),
            )
        )
    return ranks.select(F.col("node").alias("nationkey"), F.col("r").alias("rank_fp"))


def _pagerank_oracle() -> str:
    base = """
WITH edges AS (
  SELECT c_nationkey AS src, s_nationkey AS dst, count(*) AS w
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1, 2
), wedges AS (
  SELECT e.*, ow.w_src FROM edges e
  JOIN (SELECT src, sum(w) AS w_src FROM edges GROUP BY src) ow USING (src)
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
  UNION
  SELECT DISTINCT dst FROM edges
), r0 AS (
  SELECT node, CAST({scale} AS BIGINT) AS r FROM nodes
)"""
    iters = ""
    prev = "r0"
    for k in range(1, PR_ITERS + 1):
        iters += f""", r{k} AS (
  SELECT n.node,
         CAST({PR_BASE} + ({PR_DAMP_NUM} * COALESCE(SUM((p.r * e.w) // e.w_src), 0)) // {PR_DAMP_DEN} AS BIGINT) AS r
  FROM nodes n
  LEFT JOIN wedges e ON e.dst = n.node
  LEFT JOIN {prev} p ON p.node = e.src
  GROUP BY n.node
)"""
        prev = f"r{k}"
    return (
        base.format(scale=PR_SCALE)
        + iters
        + f"\nSELECT node AS nationkey, r AS rank_fp FROM {prev}"
    )


QUERY_DEFS = [
    QueryDef("dedup_clusters", dedup_clusters, CLUSTERS_ORACLE),
    QueryDef("dedup_clusters_logstar", dedup_clusters_logstar, CLUSTERS_ORACLE),
    QueryDef("dedup_triangles", dedup_triangles, TRIANGLES_ORACLE),
    QueryDef("graph_pagerank_nations", graph_pagerank_nations, _pagerank_oracle()),
]
