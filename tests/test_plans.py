"""Physical-plan assertions: the scale-critical plan properties
(pushdown, pruning, broadcast, partial aggregation) must hold — a query
that silently full-scans or shuffle-joins a dim table is a perf bug even
when its results match the oracle."""

from __future__ import annotations

from pyspark.sql import functions as F

from ai_data_pipeline_spark.catalog import load_table
from ai_data_pipeline_spark.operators.analytic import (
    q17_small_quantity_revenue,
    q4_late_ship_orders,
)
from ai_data_pipeline_spark.operators.relational import (
    q1_pricing_summary,
    q3_top_orders,
    q5_region_revenue,
    q7_nation_trade,
    q_outer_join_coverage,
)
from ai_data_pipeline_spark.operators.temporal import (
    q_asof_join,
    q_range_join,
    q_sliding_window,
)
from ai_data_pipeline_spark.plans import (
    assert_hash_join_only,
    codegen_plan,
    executed_plan as _plan,
    formatted_plan as _formatted,
)
from tests.conftest import SF_DIR


def test_filter_pushdown_and_column_pruning(spark):
    df = (
        load_table(spark, SF_DIR, "lineitem")
        .filter(F.col("l_quantity") > 30.0)
        .select("l_orderkey")
    )
    plan = _formatted(df)
    assert "PushedFilters" in plan
    assert "GreaterThan(l_quantity,30.0)" in plan
    # scan schema pruned to the two referenced columns only
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema and "l_shipdate" not in read_schema


DIM_KEYS = ("c_custkey", "s_suppkey", "p_partkey")


def _assert_no_dim_key_exchange(plan: str) -> None:
    """The fact side must never re-shuffle on a dim key: SF-scaled
    relations (customer/supplier/part) carry no hard broadcast hints —
    their strategy is AQE's call — but at test scale size-based
    planning must still resolve them without exchanging the fact on
    custkey/suppkey/partkey. (Hard `BroadcastHashJoin` assertions were
    deliberately dropped: pinning broadcast on an SF-scaled relation is
    the one hint-class bug that works at sf0.1 and OOMs at 100 TB.)"""
    for seg in plan.split("hashpartitioning(")[1:]:
        keys = seg.split(")")[0]
        # a shuffle-join exchange partitions on exactly the join key; a
        # multi-key exchange is a (legitimate) aggregation exchange
        if keys.count("#") != 1:
            continue
        for k in DIM_KEYS:
            assert k not in keys, f"fact exchanged on dim key {k}:\n{plan}"


def test_q3_no_quadratic_join_single_fact_shuffle(spark):
    plan = assert_hash_join_only(q3_top_orders(spark, SF_DIR))
    _assert_no_dim_key_exchange(plan)


def test_q5_no_quadratic_join_single_fact_shuffle(spark):
    plan = assert_hash_join_only(q5_region_revenue(spark, SF_DIR))
    _assert_no_dim_key_exchange(plan)
    # region/nation are fixed-size and still hard-broadcast
    assert plan.count("BroadcastHashJoin") >= 2


def test_q1_partial_final_aggregation(spark):
    df = q1_pricing_summary(spark, SF_DIR)
    plan = _plan(df)
    # partial (map-side) + final hash aggregation around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan
    assert "WholeStageCodegen" in codegen_plan(df)


def test_q1_shipdate_filter_reaches_scan(spark):
    plan = _formatted(q1_pricing_summary(spark, SF_DIR))
    assert "PushedFilters" in plan and "l_shipdate" in plan


def test_partitioned_sink_prunes_partitions(spark, tmp_path):
    from ai_data_pipeline_spark.sources.readers import write_parquet

    src = load_table(spark, SF_DIR, "orders")
    out = str(tmp_path / "orders_by_status")
    write_parquet(src, out, partition_by=["o_orderstatus"])
    back = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    plan = _formatted(back)
    # the status predicate prunes directories instead of scanning+filtering
    assert "PartitionFilters" in plan and "o_orderstatus" in plan
    partition_filters = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    assert "o_orderstatus" in partition_filters
    expected = src.filter(F.col("o_orderstatus") == "F").count()
    assert back.count() == expected


def test_asof_join_is_single_shuffle_window(spark):
    """The as-of join must compile to union + window (one Exchange on
    user_id), never to a nested-loop inequality join."""
    plan = assert_hash_join_only(q_asof_join(spark, SF_DIR))
    assert "Window" in plan
    # one shuffle for the window partitioning (+AQE reads), no join node
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_range_join_is_hash_join(spark):
    """The banded range join must execute as an equi hash/merge join on
    (user, bucket) — the inequality stays a post-join filter."""
    plan = assert_hash_join_only(q_range_join(spark, SF_DIR))
    assert "Join" in plan  # some equi-join strategy was chosen


def test_q4_semi_join_strategy(spark):
    plan = assert_hash_join_only(q4_late_ship_orders(spark, SF_DIR))
    assert "LeftSemi" in plan


def test_q17_no_self_join(spark):
    """Q17's correlated average uses a window over l_partkey — lineitem
    must be scanned once, not self-joined."""
    plan = assert_hash_join_only(q17_small_quantity_revenue(spark, SF_DIR))
    assert plan.count("FileScan parquet") <= 2  # lineitem once + part once
    assert "Window" in plan


def test_q7_no_quadratic_join_single_fact_shuffle(spark):
    """Q7 joins 5 dimension-side tables (orders keyed, customer,
    supplier, nation×2) — no quadratic strategy, the fact never
    exchanges on a dim key, and the fixed-size nation aliases stay
    hard-broadcast."""
    plan = assert_hash_join_only(q7_nation_trade(spark, SF_DIR))
    _assert_no_dim_key_exchange(plan)
    assert plan.count("BroadcastHashJoin") >= 2  # nation×2


def test_outer_join_preaggregates_orders(spark):
    """The order-count distribution must aggregate orders per custkey
    BEFORE the outer join (agg-below-join rewrite): two aggregation
    levels, each partial+final."""
    plan = assert_hash_join_only(q_outer_join_coverage(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 4


def test_q6_all_predicates_pushed_no_join(spark):
    """Q6 is the I/O-bound best case: every predicate must reach the
    parquet scan and the plan must contain no join at all."""
    from ai_data_pipeline_spark.operators.tpch_extra import q6_forecast_revenue

    df = q6_forecast_revenue(spark, SF_DIR)
    plan = _formatted(df)
    assert "PushedFilters" in plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in plan
    assert "Join" not in _plan(df)
    assert _plan(df).count("HashAggregate") >= 2  # partial + final


def test_q10_broadcasts_fixed_dims(spark):
    from ai_data_pipeline_spark.operators.tpch_extra import q10_returned_items

    plan = assert_hash_join_only(q10_returned_items(spark, SF_DIR))
    _assert_no_dim_key_exchange(plan)
    assert plan.count("BroadcastHashJoin") >= 1  # nation (fixed-size)


def test_q16_anti_join_strategy(spark):
    """The NOT-IN supplier exclusion runs as an equi anti-join (never a
    quadratic strategy); the exclusion list scales with SF so its
    broadcast-vs-shuffle call belongs to AQE, not a hint."""
    from ai_data_pipeline_spark.operators.tpch_extra import q16_supplier_variety

    plan = assert_hash_join_only(q16_supplier_variety(spark, SF_DIR))
    assert "LeftAnti" in plan


def test_q18_aggregates_below_join(spark):
    """The quantity rollup must run BEFORE the joins (aggregate-below-
    join): the join input is |orders with qty>threshold|, not |lineitem|."""
    from ai_data_pipeline_spark.operators.tpch_extra import q18_large_orders

    plan = assert_hash_join_only(q18_large_orders(spark, SF_DIR))
    agg_pos = plan.find("HashAggregate")
    assert agg_pos != -1
    assert plan.count("HashAggregate") >= 2


def test_q19_single_scan_pair(spark):
    """Q19's three OR-bands must evaluate on one lineitem⋈part pass —
    no union-of-three-scans expansion."""
    from ai_data_pipeline_spark.operators.tpch_extra import q19_discounted_revenue

    plan = assert_hash_join_only(q19_discounted_revenue(spark, SF_DIR))
    assert plan.count("FileScan parquet") <= 2


def test_centroids_partial_agg_after_generate(spark):
    """The fixed-point centroid reduce must partially aggregate after the
    posexplode (Generate) so the shuffle carries (label, dim) longs,
    never exploded vector elements."""
    from ai_data_pipeline_spark.operators.similarity import emb_label_centroids

    plan = _plan(emb_label_centroids(spark, SF_DIR))
    assert "Generate" in plan
    assert plan.count("HashAggregate") >= 2


def test_sliding_window_partial_agg_after_expand(spark):
    """Sliding windows expand each row into width/slide windows map-side
    (Expand), then partially aggregate before the shuffle — the exchange
    must carry aggregates, not 4× raw rows."""
    df = q_sliding_window(spark, SF_DIR)
    plan = _plan(df)
    assert "Expand" in plan
    assert plan.count("HashAggregate") >= 2


def test_q8_no_quadratic_join_single_fact_shuffle(spark):
    """Q8's seven joins (part, customer, nation×2, region, supplier,
    orders at test SF): no quadratic strategy, no fact exchange on a
    dim key, fixed-size nation×2/region stay hard-broadcast."""
    from ai_data_pipeline_spark.operators.tpch_extra2 import q8_market_share

    plan = assert_hash_join_only(q8_market_share(spark, SF_DIR))
    _assert_no_dim_key_exchange(plan)
    assert plan.count("BroadcastHashJoin") >= 3  # nation×2 + region


def test_q9_like_filter_shrinks_join_input(spark):
    """Q9's p_name LIKE filter must land on the part scan (pushed or
    post-scan, but before any join), so the join input is the filtered
    subset, not the full part table."""
    from ai_data_pipeline_spark.operators.tpch_extra2 import q9_product_profit

    plan = assert_hash_join_only(q9_product_profit(spark, SF_DIR))
    _assert_no_dim_key_exchange(plan)
    assert plan.count("BroadcastHashJoin") >= 1  # nation (fixed-size)
    # the LIKE is evaluated below the join
    assert "Contains(p_name, widget)" in plan or "widget" in plan


def test_q21_single_fact_shuffle_for_windows(spark):
    """All q21 window passes partition by l_orderkey only — the
    two-key (orderkey, suppkey) exchange of the naive supplier-max
    formulation must not appear; lineitem shuffles once."""
    from ai_data_pipeline_spark.operators.tpch_extra2 import q21_waiting_suppliers

    plan = _plan(q21_waiting_suppliers(spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    for seg in plan.split("hashpartitioning(")[1:]:
        keys = seg.split(")")[0]
        if "l_orderkey" in keys:
            assert "l_suppkey" not in keys


def test_q11_single_lineitem_scan(spark):
    """Q11's global threshold re-aggregates the grouped per-part sums —
    raw lineitem must scan once, not twice."""
    from ai_data_pipeline_spark.operators.tpch_extra2 import q11_important_parts

    plan = _plan(q11_important_parts(spark, SF_DIR))
    assert plan.count("FileScan parquet") <= 2  # reused subplan may re-list


def test_sequence_packing_single_exchange(spark):
    """Packing's groupBy(stream) must reuse the window's
    hashpartitioning(stream) — one shuffle total, so at 100 TB the only
    data movement is the initial spray into packing streams."""
    from ai_data_pipeline_spark.operators.corpus import corpus_sequence_packing

    plan = _plan(corpus_sequence_packing(spark, SF_DIR))
    assert plan.count("Exchange") == 1
    assert "Window" in plan


def test_corpus_broadcast_joins(spark):
    """Decontamination's benchmark-gram set and the OOV vocab are
    tiny-side broadcasts; neither query may fall back to a sort-merge
    join of the corpus against them."""
    from ai_data_pipeline_spark.operators.corpus import (
        corpus_decontaminate,
        corpus_oov_rate,
    )

    for fn in (corpus_decontaminate, corpus_oov_rate):
        plan = _plan(fn(spark, SF_DIR))
        assert plan.count("BroadcastHashJoin") >= 1
        assert "SortMergeJoin" not in plan


def test_quantize_broadcasts_dim_stats(spark):
    """Scalar quantization joins every (vec, dim) element against the
    EMB_DIM-row stats table — must broadcast, and both aggregations
    must have map-side partial phases."""
    from ai_data_pipeline_spark.operators.similarity import emb_scalar_quantize

    plan = _plan(emb_scalar_quantize(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan
    assert "partial_min" in plan or "partial_count" in plan


def test_embedding_dedup_no_driver_collect(spark):
    """dedup_embedding_cosine must run as the distributed block-pair
    matrix join: the pair kernel is a MapInPandas over the joined block
    relation — no CollectLimit/driver materialization in the plan, and
    the block self-join may broadcast (B rows) but never sort-merge."""
    from ai_data_pipeline_spark.operators.similarity import (
        dedup_embedding_cosine,
    )

    df = dedup_embedding_cosine(spark, SF_DIR)
    plan = _plan(df)
    assert "MapInPandas" in plan
    assert "SortMergeJoin" not in plan
    assert "CollectLimit" not in plan


def test_er_linkage_blocked_broadcast_join(spark):
    """er_fuzzy_linkage's candidate join must be an equi-join on the
    blocking keys (broadcast at this dim size) with levenshtein only as
    a residual join condition — a cross/nested-loop join would mean the
    blocking keys stopped reaching the join planner."""
    from ai_data_pipeline_spark.operators.linkage import er_fuzzy_linkage

    plan = _plan(er_fuzzy_linkage(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "levenshtein" in plan  # residual condition, inside the block


def test_domain_caps_no_unbounded_source_window(spark):
    """corpus_domain_caps exists for corpora where one domain dominates;
    its ranking window must never receive a domain's full row set. The
    rewrite bounds it two ways, both visible in the plan: candidates are
    pre-filtered through the broadcast bucket-cutoff join (cut_bkt), and
    row_number-then-filter enables Spark's map-side WindowGroupLimit
    (Partial), capping shuffle input at DOMAIN_CAP_DOCS rows per task."""
    from ai_data_pipeline_spark.operators.corpus import corpus_domain_caps

    plan = _plan(corpus_domain_caps(spark, SF_DIR))
    assert "WindowGroupLimit" in plan and "Partial" in plan
    assert "cut_bkt" in plan
    assert "BroadcastHashJoin" in plan
    # only the candidate branch reads text; the counting scans prune to
    # (doc_id, source)
    text_scans = [
        ln for ln in plan.splitlines() if "ReadSchema" in ln and "text:string" in ln
    ]
    assert len(text_scans) == 1


def test_clean_corpus_dedup_is_hash_agg_not_window(spark):
    """pipeline_clean_corpus dedups via groupBy(content hash) with
    struct-min, so the plan must show map-side partial aggregation and
    NO row_number window (the old shape sorted full documents inside a
    window partition). Per-row stats are computed pre-shuffle, so text
    never crosses an exchange."""
    from ai_data_pipeline_spark.operators.pipeline import clean_corpus

    plan = _plan(clean_corpus(spark, SF_DIR))
    assert "Window" not in plan
    assert "partial_min" in plan  # map-side combine of the kept-row struct


def test_ann_rerank_broadcasts_probes_no_cartesian(spark):
    """Two-stage retrieval joins the corpus buckets against the tiny
    probe table — must be a broadcast equi-join on the bucket, never a
    cartesian/nested-loop over the corpus."""
    from ai_data_pipeline_spark.operators.similarity import ann_rerank

    plan = _plan(ann_rerank(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_referential_integrity_single_scan_per_child(spark):
    """The FK audit must scan each child table once (edges grouped per
    child, parents left-joined in) — no cartesian products, and the
    three lineitem edges must not triple-scan lineitem."""
    from ai_data_pipeline_spark.operators.quality import (
        dq_referential_integrity,
    )

    plan = _plan(dq_referential_integrity(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert plan.count("lineitem.parquet") == 1  # one child scan
    assert "BroadcastHashJoin" in plan


def test_token_rarity_partial_agg_and_broadcast_totals(spark):
    """The tf table must build with map-side partial aggregation and
    the two global totals must reach the per-doc rows via a broadcast
    (one row), not a shuffle."""
    from ai_data_pipeline_spark.operators.corpus import corpus_token_rarity

    plan = _plan(corpus_token_rarity(spark, SF_DIR))
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_semdedup_broadcasts_centroids_joins_on_cell(spark):
    """SemDeDup's assignment stage broadcasts the centroid table over a
    single corpus stream; the within-cell pair stage must be an
    equi-join keyed on cell_id — never an unkeyed nested loop over the
    whole corpus (the cell key is what bounds the quadratic term)."""
    from ai_data_pipeline_spark.operators.similarity import dedup_semantic

    plan = _plan(dedup_semantic(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan  # centroid broadcast (tiny)
    assert "CartesianProduct" not in plan
    assert "cell_id" in plan  # pair join carries the cell equi-key


def test_phash_pairs_band_equi_join_no_cartesian(spark):
    """The banded Hamming join must generate candidates via an
    equi-join on (band, band_val) — no all-pairs product anywhere, and
    one mapInPandas signature scan feeding both sides."""
    from ai_data_pipeline_spark.operators.multimodal import image_phash_pairs

    plan = _plan(image_phash_pairs(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band" in plan and "band_val" in plan


def test_boilerplate_no_source_window_broadcast_sizes(spark):
    """Boilerplate detection must never put a whole source in one task:
    no Window over source; the per-source doc totals and the boilerplate
    gram set join back via hash joins with map-side partial aggs."""
    from ai_data_pipeline_spark.operators.corpus import (
        corpus_boilerplate_ngrams,
    )

    plan = _plan(corpus_boilerplate_ngrams(spark, SF_DIR))
    assert "Window" not in plan
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BroadcastExchange" in plan  # src_sizes is broadcast


def test_temperature_mix_broadcast_total(spark):
    """The 1-row grand total must reach per-source rows via broadcast,
    and the per-source token agg must have map-side partials."""
    from ai_data_pipeline_spark.operators.corpus import corpus_temperature_mix

    plan = _plan(corpus_temperature_mix(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "partial_sum" in plan


def test_random_projection_is_map_only(spark):
    """The JL projection must compile to a single narrow map over the
    scan — the ±1 matrix is folded into the expression, so there is no
    join, no shuffle, and no Python worker anywhere in the plan."""
    from ai_data_pipeline_spark.operators.similarity import (
        emb_random_projection,
    )

    plan = _plan(emb_random_projection(spark, SF_DIR))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_pq_encode_broadcast_codebook_no_cartesian(spark):
    """PQ encode must broadcast the tiny codebook (an equi-join on the
    subspace id — never a cartesian product) and aggregate the argmin
    with map-side partials."""
    from ai_data_pipeline_spark.operators.similarity import emb_pq_encode

    plan = _plan(emb_pq_encode(spark, SF_DIR))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "partial_min" in plan  # map-side combine of the argmin


def test_sentence_dedup_shuffles_digests_not_text(spark):
    """Both wide stages of the line-dedup plan must key on the md5
    digest — sentence text never enters an exchange — and the
    doc-frequency aggregate must have map-side partials."""
    from ai_data_pipeline_spark.operators.dedup import dedup_sentences

    plan = _plan(dedup_sentences(spark, SF_DIR))
    assert "hashpartitioning(h#" in plan
    assert "partial_count" in plan
    assert "Window" not in plan


def test_incremental_dedup_keyed_joins_no_cartesian(spark):
    """Incremental dedup must resolve via digest-keyed joins and
    map-side-combined aggregates; no cartesian products, no windows
    (the keeper choice is a min-per-digest aggregate)."""
    from ai_data_pipeline_spark.operators.dedup import dedup_incremental

    plan = _plan(dedup_incremental(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "partial_count" in plan or "partial_min" in plan


def test_ivf_pq_broadcast_index_no_cartesian_on_corpus(spark):
    """IVF-PQ must broadcast the small index structures (centroids,
    codebook, ADC lookup table, query vectors); the candidate read is
    an equi-join on the cell id; no cartesian product anywhere (the
    centroid cross joins are broadcast-nested-loop over tiny sides)."""
    from ai_data_pipeline_spark.operators.similarity import ann_ivf_pq

    plan = _plan(ann_ivf_pq(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    assert "cell" in plan


def test_cdc_apply_no_window_keyed_merge(spark):
    """The CDC winner-per-key must be a max_by aggregate with map-side
    partials (no per-key Window), applied through one equi-join."""
    from ai_data_pipeline_spark.operators.maintenance import q_cdc_apply

    plan = _plan(q_cdc_apply(spark, SF_DIR))
    assert "Window" not in plan
    assert "partial_max_by" in plan or "partial_max" in plan
    assert "FullOuter" in plan or "full_outer" in plan.lower()


def test_interval_sweep_aggregates_before_window(spark):
    """The sweep's ordered window may only see the calendar-sized delta
    relation: the interval reduction must be a hash aggregate with
    map-side partials feeding a single window over `d`."""
    from ai_data_pipeline_spark.operators.temporal import q_interval_sweep

    plan = _plan(q_interval_sweep(spark, SF_DIR))
    assert "partial_sum" in plan
    # exactly one window operator, ordered by the date key
    assert plan.count("Window") >= 1
    assert "CartesianProduct" not in plan


def test_prefix_recall_broadcasts_queries_once(spark):
    """Both scoring passes must ride broadcast query vectors over the
    corpus stream — no non-broadcast cartesian anywhere."""
    from ai_data_pipeline_spark.operators.similarity import emb_prefix_recall

    plan = _plan(emb_prefix_recall(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_scd2_merge_is_join_plus_union_no_window(spark):
    """The incremental SCD2 MERGE must stay a key-equi-join plus union:
    no window operator and no cartesian product."""
    from ai_data_pipeline_spark.operators.maintenance import q_scd2_merge

    plan = _plan(q_scd2_merge(spark, SF_DIR))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "Union" in plan


def test_knn_classify_vote_has_partial_aggregation(spark):
    """The vote count must combine map-side before any exchange and the
    winner must come from an aggregate, not a per-query window over
    the scored corpus."""
    from ai_data_pipeline_spark.operators.similarity import ann_knn_classify

    plan = _plan(ann_knn_classify(spark, SF_DIR))
    assert "partial_count" in plan or "partial_min_by" in plan
    assert "CartesianProduct" not in plan


def test_minhash_lsh_shuffles_no_set_payload(spark):
    """The MinHash+LSH plan must never shuffle shingle sets: the
    signature relation is fixed-width (12 minhash slots + count) and
    candidate verification is a digest join — no collect_set anywhere,
    so no exchange carries an O(doc-size) array payload."""
    from ai_data_pipeline_spark.operators.dedup import dedup_minhash_lsh

    plan = _plan(dedup_minhash_lsh(spark, SF_DIR))
    assert "collect_set" not in plan
    assert "sset" not in plan
    assert "CartesianProduct" not in plan


def test_minhash_estimate_shuffles_no_set_payload(spark):
    """The calibration query follows the same discipline as the LSH
    dedup it audits: fixed-width signature relation, digest-join exact
    Jaccard — no collect_set payload in any exchange."""
    from ai_data_pipeline_spark.operators.dedup import dedup_minhash_estimate

    plan = _plan(dedup_minhash_estimate(spark, SF_DIR))
    assert "collect_set" not in plan
    assert "sset" not in plan
    assert "array_intersect" not in plan
    assert "CartesianProduct" not in plan


def test_prefix_recall_single_corpus_shuffle(spark):
    """Both top-k rankings must share ONE exchange on q_id (two Window
    operators under the same partitioning), with the overlap computed by
    direct aggregation — no second corpus shuffle, no self-join."""
    from ai_data_pipeline_spark.operators.similarity import emb_prefix_recall

    plan = _plan(emb_prefix_recall(spark, SF_DIR))
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # exactly one q_id exchange feeds both windows
    qid_exchanges = [
        seg for seg in plan.split("hashpartitioning(")[1:]
        if seg.split(")")[0].count("#") == 1 and "q_id" in seg.split(")")[0]
    ]
    assert len(qid_exchanges) <= 1, plan


def test_ivf_assignment_is_aggregate_not_window(spark):
    """Nearest-centroid assignment must be a max_by/min_by aggregate
    with map-side partial combine — never a row_number window over the
    corpus (which shuffles N_CELLS copies of every vector through a
    sort). The only windows left in the IVF plan partition by q_id
    (bounded probe + final top-k)."""
    from ai_data_pipeline_spark.operators.similarity import ann_ivf

    plan = _plan(ann_ivf(spark, SF_DIR))
    assert "partial_max_by" in plan or "partial_min_by" in plan
    for seg in plan.split("Window ")[1:]:
        spec = seg.split("\n")[0]
        assert "q_id" in spec, f"corpus-keyed window in IVF plan:\n{plan}"


def test_topk_per_group_is_two_level_tournament(spark):
    """The per-group top-k must run the two-level tournament: a local
    (group, partition) heat before the final per-group ranking — the
    single-window variant funnels the fact table through |groups|
    reducers at scale."""
    from ai_data_pipeline_spark.operators.relational import q_topk_per_group

    plan = _plan(q_topk_per_group(spark, SF_DIR))
    assert "SPARK_PARTITION_ID" in plan or "spark_partition_id" in plan
    assert plan.count("Window") >= 2


def test_cosine_topk_is_two_level_tournament(spark):
    """Brute-force cosine top-k must run the two-level tournament: the
    scored corpus ranks locally per (q_id, partition) before the final
    N_QUERIES-partition rank sees only the survivors."""
    from ai_data_pipeline_spark.operators.similarity import ann_cosine_topk

    plan = _plan(ann_cosine_topk(spark, SF_DIR))
    assert "SPARK_PARTITION_ID" in plan or "spark_partition_id" in plan
    assert plan.count("Window") >= 2


def test_quantile_hist_window_is_cell_bounded(spark):
    """The quantile sketch's cumulative window must run over the cell
    relation (≤ value_range/W rows), never raw data: the plan aggregates
    (partial+final) BEFORE the ordered window, and the only joins are
    against the broadcast 3-row target relation."""
    from ai_data_pipeline_spark.operators.sketches import sketch_quantile_hist

    plan = _plan(sketch_quantile_hist(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2
    agg_pos = plan.rfind("HashAggregate")
    win_pos = plan.rfind("Window")
    assert win_pos < agg_pos  # window sits above the aggregate in the tree
    assert "CartesianProduct" not in plan


def test_quantile_twophase_never_globally_sorts(spark):
    """The exact-quantile refinement must not contain a global sort of
    the fact table: no rangepartitioning exchange anywhere (the naive
    definition would need one), aggregation before the bounded cell
    window, and the in-bucket pass joins against the broadcast 3-row
    probe relation."""
    from ai_data_pipeline_spark.operators.sketches import q_quantile_exact_twophase

    plan = _plan(q_quantile_exact_twophase(spark, SF_DIR))
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2


def test_ngram_jaccard_self_join_is_df_capped(spark):
    """The standalone n-gram Jaccard self-join must run over the
    df-capped shingle universe: a semi-join against the df <= cap
    shingle relation sits below the pair join, so no single shingle can
    contribute more than C(NGRAM_DF_CAP, 2) join rows — without the cap
    a stop-phrase trigram shared by d docs yields d^2 rows on one key
    (quadratic on the skewed key at corpus scale)."""
    from ai_data_pipeline_spark.operators.dedup import dedup_ngram_jaccard

    plan = _plan(dedup_ngram_jaccard(spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_cls_linear_score_broadcasts_bounded_model(spark):
    """The classifier's apply side must join the corpus against a
    BROADCAST of the weight relation — the model is bounded by
    FEATURE_BUCKETS (a constant), so broadcast is correct at any corpus
    size, and scoring must stay one map-side join + one doc-keyed
    aggregate (no shuffle join against the model, no cartesian).
    Pins the raw plan builder: the public cls_linear_score memoizes
    behind a localCheckpoint (r10), which reads back as ExistingRDD."""
    from ai_data_pipeline_spark.operators.stats import _cls_linear_scored_plan

    plan = _plan(_cls_linear_scored_plan(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_cls_linear_eval_aggregates_before_window(spark):
    """The PR-curve query must never globally sort raw documents: scores
    reduce to the bounded fixed-width band relation (HashAggregate)
    BEFORE the cumulative window, and the totals join is a broadcast of
    a 1-row aggregate (no cartesian)."""
    from ai_data_pipeline_spark.operators.stats import cls_linear_eval

    plan = _plan(cls_linear_eval(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2
    agg_pos = plan.rfind("HashAggregate")
    win_pos = plan.rfind("Window")
    assert win_pos < agg_pos  # window sits above the aggregate in the tree
    assert "CartesianProduct" not in plan


def test_bm25_topk_is_tournament_with_bounded_broadcasts(spark):
    """BM25 retrieval must run the two-level tournament per term (terms
    are a low-cardinality key) and only hard-broadcast the LIMIT-bounded
    query-term relation and 1-row scalars — the doc-length join is
    corpus-sized and must carry no pinned broadcast."""
    from ai_data_pipeline_spark.operators.text import text_bm25_topk

    plan = _plan(text_bm25_topk(spark, SF_DIR))
    assert "SPARK_PARTITION_ID" in plan or "spark_partition_id" in plan
    assert plan.count("Window") >= 2
    assert "CartesianProduct" not in plan


def test_multiclass_winner_is_aggregate_not_window(spark):
    """The multiclass prediction must be a min_by keyed aggregate over
    the per-doc class scores (map-side combine), never a row_number
    window partitioned by doc_id — the keyed-argmax convention."""
    from ai_data_pipeline_spark.operators.stats import cls_linear_multiclass

    plan = _plan(cls_linear_multiclass(spark, SF_DIR))
    assert "min_by" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_lm_quality_broadcasts_bounded_models_and_tournament_cuts(spark):
    """The LM scorer's model lookups must be broadcast joins (both model
    relations are LIMIT-bounded constants, so broadcast is correct at
    any corpus size), the top-K cuts must run as TakeOrderedAndProject
    (per-partition heaps merged on the driver — never a full sort of
    the count relation), and nothing may go cartesian (the vocab join
    is a 1-row broadcast nested loop, which is the scalar pattern)."""
    from ai_data_pipeline_spark.operators.corpus import corpus_lm_quality

    plan = _plan(corpus_lm_quality(spark, SF_DIR))
    assert plan.count("TakeOrderedAndProject") >= 2
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_dup_spans_shuffles_digests_not_gram_text(spark):
    """Substring-span dedup must keep gram TEXT off the wire: the only
    corpus-scaled shuffles carry the fixed-width md5 digest (h) and
    integer positions; the duplicated-digest set joins back as a
    semi-join (occurrence list — no pair blowup on boilerplate grams);
    island windows run per doc_id, and there is no pair self-join or
    Cartesian product anywhere."""
    from ai_data_pipeline_spark.operators.curation import dedup_dup_spans

    plan = _plan(dedup_dup_spans(spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    # the gram string expression never appears as an Exchange output:
    # every Exchange row is (doc_id, pos, h) or narrower
    for seg in plan.split("Exchange")[1:]:
        head = seg[:200]
        assert "slice(l" not in head
    assert plan.count("Window") >= 2  # interval-union pair of windows


def test_keep_best_winner_is_aggregate_not_window(spark):
    """Survivor selection must be a keyed max_by aggregate over the
    packed score — no ranking window over the membership relation and
    no Cartesian product (the house argmax convention)."""
    from ai_data_pipeline_spark.operators.curation import dedup_keep_best

    plan = _plan(dedup_keep_best(spark, SF_DIR))
    assert "max_by" in plan
    assert "CartesianProduct" not in plan
    # the only Window in the tree is dedup_clusters' cluster_size count
    # — the keep decision itself adds none on top of it
    assert plan.count("Window") <= 1


def test_shard_manifest_heads_are_tournament(spark):
    """The per-shard head sample must run as the two-level tournament
    (8 shard keys ≪ cluster width): Spark's WindowGroupLimit partial
    pass (or the explicit _lrk local heat) must precede the final
    8-partition ranking, and per-shard totals must partially aggregate
    map-side."""
    from ai_data_pipeline_spark.operators.curation import corpus_shard_manifest

    plan = _plan(corpus_shard_manifest(spark, SF_DIR))
    assert (
        "WindowGroupLimit" in plan
        or "SPARK_PARTITION_ID" in plan
        or "spark_partition_id" in plan
    )
    assert "partial_count" in plan or "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_epoch_plan_is_aggregate_bounded(spark):
    """The epoch planner must stay aggregate-bounded: the only joins
    above the source-keyed aggregate are 1-row scalar broadcasts (the
    total-mass relation), the per-source stats partially aggregate
    map-side, and there is no window or Cartesian product anywhere —
    the corpus is touched exactly once per scoring pass."""
    from ai_data_pipeline_spark.operators.curation import corpus_epoch_plan

    plan = _plan(corpus_epoch_plan(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan  # 1-row total broadcast
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "partial_sum" in plan


def test_rrf_fusion_broadcasts_bounded_query_relations(spark):
    """Hybrid RRF must keep every query-derived relation broadcast
    (LIMIT-bounded keyword set, constant query-vector set) and run
    every per-query ranking as a tournament; no Cartesian product, and
    the only SortMergeJoin is the term-keyed df lookup (vocab-sized,
    not doc-pair-sized)."""
    from ai_data_pipeline_spark.operators.retrieval import retrieval_rrf_fusion

    plan = _plan(retrieval_rrf_fusion(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # sparse candidates x broadcast keywords
    assert "BroadcastNestedLoopJoin" in plan  # dense candidates x query vectors
    assert "WindowGroupLimit" in plan or "spark_partition_id" in plan
    assert plan.count("SortMergeJoin") <= 1
    assert "LeftSemi" in plan  # candidate restriction to embedding holders


def test_hard_negatives_best_positive_is_aggregate(spark):
    """Hard-negative mining must compute the best positive as a keyed
    MAX aggregate (never a window over candidates) and join only
    broadcast-sized relations against the corpus-scaled scan — no
    SortMergeJoin, no Cartesian product."""
    from ai_data_pipeline_spark.operators.similarity import emb_hard_negatives

    plan = _plan(emb_hard_negatives(spark, SF_DIR))
    assert "partial_max" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # constant-bounded anchor cross


def test_kendall_tau_grid_algebra_is_windowless(spark):
    """The tau-b pair algebra must run entirely on the banded grid: no
    window anywhere (the corpus reduces through one keyed aggregate),
    the grid self-join is a broadcast nested-loop over a band-bounded
    relation, and partial aggregation happens map-side."""
    from ai_data_pipeline_spark.operators.stats import quality_kendall_tau

    plan = _plan(quality_kendall_tau(spark, SF_DIR))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "partial_sum" in plan and "partial_count" in plan


def test_outlier_distance_is_windowless_min_by(spark):
    """The distance-to-centroid screen must keep the corpus unshuffled
    for assignment (broadcast-K nested loop + min_by aggregate — never
    a per-vector ranking window) and join only broadcast-sized cell
    relations; no SortMergeJoin, no Cartesian product anywhere."""
    from ai_data_pipeline_spark.operators.similarity import emb_outlier_distance

    plan = _plan(emb_outlier_distance(spark, SF_DIR))
    assert "Window" not in plan
    assert "min_by" in plan
    assert "BroadcastNestedLoopJoin" in plan  # broadcast-K assignment
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_priority_sample_is_tournament_topk(spark):
    """Priority sampling must rank through the two-level tournament
    (the sample is a single global key — the exact reducer funnel
    topk_per_key removes): the local heat must appear (partition-id
    window or WindowGroupLimit) before the bounded global ranking, and
    nothing is a Cartesian product. (The broadcast-model join lives
    inside the memoized scored relation since r10 and is pinned by
    test_cls_linear_score_broadcasts_bounded_model on the raw plan.)"""
    from ai_data_pipeline_spark.operators.curation import corpus_priority_sample

    plan = _plan(corpus_priority_sample(spark, SF_DIR))
    assert "WindowGroupLimit" in plan or "SPARK_PARTITION_ID" in plan
    assert "CartesianProduct" not in plan


def test_doc_scorecard_is_windowless_linear_joins(spark):
    """The scorecard must stay one linear pass per signal plus keyed
    equi-joins: no window anywhere, no Cartesian product, model
    lookups broadcast, and every corpus-sized join an equi-join."""
    from ai_data_pipeline_spark.operators.pipeline import doc_scorecard

    plan = _plan(doc_scorecard(spark, SF_DIR))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # LM / classifier model lookups


def test_pivot_compiles_to_single_pass_aggregate(spark):
    """An explicit-values pivot must compile to one conditional
    aggregation pass: map-side partials, no join, no window, no extra
    distinct-values job in the plan."""
    from ai_data_pipeline_spark.operators.temporal import q_pivot_daily_events

    plan = _plan(q_pivot_daily_events(spark, SF_DIR))
    assert "partial_count" in plan
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("Exchange") <= 2


def test_cls_roc_auc_aggregates_before_window(spark):
    """The AUC query must follow the eval query's shape: scores reduce
    to the bounded band relation BEFORE the cumulative window, and the
    final reduction is a plain aggregate — no corpus-sized sort and no
    cartesian anywhere."""
    from ai_data_pipeline_spark.operators.stats import cls_roc_auc

    plan = _plan(cls_roc_auc(spark, SF_DIR))
    agg_pos = plan.rfind("HashAggregate")
    win_pos = plan.rfind("Window")
    assert win_pos < agg_pos  # window sits above the band aggregate
    assert "CartesianProduct" not in plan


def test_cls_confusion_matrix_is_windowless_grid_reduction(spark):
    """The scorecard must reduce the corpus to the |langs|^2 confusion
    grid with keyed aggregates and keep the argmax as min_by — no
    window operator and no cartesian in the whole tree. The grid is
    localCheckpointed (one scoring run for both class rollups), so the
    min_by argmax is asserted on the composed scorer's plan and the
    windowless/cartesian-free property on the scorecard's."""
    from ai_data_pipeline_spark.operators.stats import (
        cls_confusion_matrix,
        cls_linear_multiclass,
    )

    scorer_plan = _plan(cls_linear_multiclass(spark, SF_DIR))
    assert "min_by" in scorer_plan
    plan = _plan(cls_confusion_matrix(spark, SF_DIR))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_dedup_lsh_recall_is_equi_joined_and_noncartesian(spark):
    """The banding audit composes two bounded candidate generators; its
    pair joins must all be equi-joins (band equi-join, shingle
    semi-join, full-outer pair reconciliation) with no cartesian and no
    pinned broadcast of an SF-scaled relation."""
    from ai_data_pipeline_spark.operators.dedup import dedup_lsh_recall

    plan = _plan(dedup_lsh_recall(spark, SF_DIR))
    assert "LeftSemi" in plan  # the df-cap screen
    assert "FullOuter" in plan  # the pair reconciliation
    assert "CartesianProduct" not in plan


def test_rake_windows_are_doc_partitioned(spark):
    """Every window in the RAKE plan must be partitioned by doc_id
    (bounded by document length) — no global window, no cartesian."""
    import re

    from ai_data_pipeline_spark.operators.text import text_keyword_rake

    plan = _plan(text_keyword_rake(spark, SF_DIR))
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "doc_id" in spec, spec
    assert "CartesianProduct" not in plan


def test_ann_ivf_recall_reconciliation_is_bounded(spark):
    """The recall audit's reconciliation must be a full-outer equi-join
    of two k-row-per-query relations plus a query-keyed aggregate — no
    cartesian anywhere in the composed tree."""
    from ai_data_pipeline_spark.operators.similarity import ann_ivf_recall

    plan = _plan(ann_ivf_recall(spark, SF_DIR))
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan


def test_retrieval_mmr_select_single_python_stage(spark):
    """The greedy selection must run as exactly ONE applyInPandas over
    q_id groups — not an unrolled join ladder — and the only corpus
    fan-out is the broadcast query cross join (no CartesianProduct).
    The candidate-pool ranking windows are q_id-partitioned."""
    from ai_data_pipeline_spark.operators.retrieval import (
        retrieval_mmr_select,
    )

    plan = _plan(retrieval_mmr_select(spark, SF_DIR))
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "CartesianProduct" not in plan


def test_cls_score_percentile_broadcasts_bounded_cdf(spark):
    """Percentile-rank must be aggregate-before-window: the cumulative
    window runs over the band histogram (post-aggregate), and the
    annotation joins the bounded cumulative table back by BROADCAST —
    the corpus side is never sorted or windowed."""
    from ai_data_pipeline_spark.operators.stats import cls_score_percentile

    plan = _plan(cls_score_percentile(spark, SF_DIR))
    agg_pos = plan.rfind("HashAggregate")
    win_pos = plan.rfind("Window")
    assert win_pos < agg_pos  # window sits above the band aggregate
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pipeline_curation_funnel_single_pass(spark):
    """The funnel must compute all four stages in ONE conditional
    aggregate over the annotated scorecard — a single final
    HashAggregate branch, the 4-row expansion via Generate(inline),
    no cartesian."""
    from ai_data_pipeline_spark.operators.pipeline import curation_funnel

    plan = _plan(curation_funnel(spark, SF_DIR))
    assert "Generate" in plan  # inline(array(named_struct...)) expansion
    assert "CartesianProduct" not in plan


def test_emb_covariance_stats_shuffles_partials_not_vectors(spark):
    """The covariance reduction must be map-side: one MapInPandas
    producing fixed-width partials, then the keyed aggregate — the
    shuffle never carries embedding vectors, and there is no join or
    cartesian at all."""
    from ai_data_pipeline_spark.operators.similarity import (
        emb_covariance_stats,
    )

    plan = _plan(emb_covariance_stats(spark, SF_DIR))
    assert "MapInPandas" in plan
    assert plan.rfind("MapInPandas") > plan.rfind("HashAggregate")
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_corpus_pii_scan_is_map_only(spark):
    """The PII scan must stay a pure projection + filter: no join, no
    aggregate, no window — the regex chains run inside the scan
    pipeline — and the scan must read only the three needed columns."""
    from ai_data_pipeline_spark.operators.redact import corpus_pii_scan

    df = corpus_pii_scan(spark, SF_DIR)
    plan = _plan(df)
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "HashAggregate" not in plan and "Window" not in plan
    fmt = _formatted(df)
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", fmt)
    assert schemas, fmt
    cols = {c.split(":")[0] for c in schemas[0].split(",")}
    assert cols == {"doc_id", "text", "lang"}


def test_tombstone_purge_digest_join_no_window(spark):
    """The purge propagation must be ONE digest-keyed left join (the
    16-byte fingerprint travels, text does not) feeding a partial+final
    per-language aggregate — no window, no cartesian, and the text
    column must not survive past the fingerprint projection."""
    from ai_data_pipeline_spark.operators.curation import (
        corpus_tombstone_purge,
    )

    plan = _plan(corpus_tombstone_purge(spark, SF_DIR))
    assert "LeftOuter" in plan
    assert "Window" not in plan and "CartesianProduct" not in plan
    assert "partial_count" in plan  # map-side combine before the shuffle


def test_dq_l_diversity_two_keyed_aggregates_no_join(spark):
    """l-diversity must be two map-side-combined aggregates (QI x band,
    then QI rollup) — no join, no window, nothing corpus-sized past the
    first shuffle."""
    from ai_data_pipeline_spark.operators.quality import dq_l_diversity

    plan = _plan(dq_l_diversity(spark, SF_DIR))
    assert "Join" not in plan and "Window" not in plan
    assert "partial_count" in plan


def test_zonemap_skip_audit_no_fact_join(spark):
    """The zone-stats aggregates must be map-side combined and the fact
    table must never join anything bigger than the 1-row scalar / 4-row
    predicate broadcasts — no sort-merge join, no window."""
    from ai_data_pipeline_spark.operators.maintenance import (
        zonemap_skip_audit,
    )

    plan = _plan(zonemap_skip_audit(spark, SF_DIR))
    assert "SortMergeJoin" not in plan and "Window" not in plan
    assert "partial_min" in plan or "partial_max" in plan


def test_fd_discovery_aggregates_only_no_join(spark):
    """FD discovery must be per-candidate keyed count-distinct
    aggregates + 1-row rollups unioned — no joins, no windows,
    map-side partial aggregation present."""
    from ai_data_pipeline_spark.operators.vault import fd_discovery

    plan = _plan(fd_discovery(spark, SF_DIR))
    assert "Join" not in plan and "Window" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_split_leakage_digest_semi_join(spark):
    """Leak detection must be a digest-keyed LeftSemi join (windows
    travel as md5 digests, text never shuffles) with no cartesian and
    no window."""
    from ai_data_pipeline_spark.operators.corpus import corpus_split_leakage

    plan = _plan(corpus_split_leakage(spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan and "Window" not in plan


def test_emb_drift_monitor_single_keyed_aggregate(spark):
    """Drift must reduce the exploded (dim, band, pop) rows in ONE
    map-side-combined aggregate; the statistic runs on the constant
    band relation with the 1-row population broadcast — no sort-merge
    join, no window, vectors never shuffle."""
    from ai_data_pipeline_spark.operators.similarity import (
        emb_drift_monitor,
    )

    plan = _plan(emb_drift_monitor(spark, SF_DIR))
    assert "SortMergeJoin" not in plan and "Window" not in plan
    assert "partial_sum" in plan
    assert "Generate" in plan  # the posexplode fan-out


def test_codec_roundtrips_are_single_python_stage(spark):
    """The codec roundtrips must be ONE mapInPandas over a doc_id-only
    scan — no join, no keyed shuffle: the decode/feature stage is the
    only work, and only fixed-width features leave it. The one exchange
    allowed is spread's round-robin, which moves doc_ids only."""
    from ai_data_pipeline_spark.operators.multimodal import (
        bmp_roundtrip,
        gif_roundtrip,
        png_roundtrip,
        wav_roundtrip,
    )

    for q in (png_roundtrip, bmp_roundtrip, gif_roundtrip, wav_roundtrip):
        df = q(spark, SF_DIR)
        plan = _plan(df)
        assert plan.count("MapInPandas") == 1
        assert "Join" not in plan
        assert "hashpartitioning" not in plan
        exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
        assert all("RoundRobinPartitioning" in ln for ln in exchanges), exchanges
        # column pruning: the scan reads doc_id only (text never moves)
        assert "ReadSchema: struct<doc_id:bigint>" in _formatted(df)


def test_sketch_quantile_tolerance_broadcasts_probes(spark):
    """The rank audit must be ONE conditional-count scan of lineitem
    against the BROADCAST 3-row probe relation (sketch values) — a
    bounded-side broadcast nested-loop, never a CartesianProduct, and
    no corpus sort anywhere."""
    from ai_data_pipeline_spark.operators.sketches import (
        sketch_quantile_tolerance,
    )

    plan = _plan(sketch_quantile_tolerance(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Sort" not in plan


def test_logstar_round_is_two_keyed_aggregates_no_cartesian(spark):
    """Each alternating-star rewrite is groupBy + equi-join over the
    CURRENT edge set only: the final assignment plan must contain no
    cartesian product and no broadcast of a data-scaled relation, and
    the labels must come from a keyed aggregate, not a global window."""
    from ai_data_pipeline_spark.operators.clustering import (
        dedup_clusters_logstar,
    )

    plan = _plan(dedup_clusters_logstar(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # r11: cluster_size is now an aggregate + hash join back (no
    # corpus-sorting window anywhere in the components plan)
    assert plan.count("Window") == 0


def test_cheapest_supplier_argmin_is_aggregate_not_window(spark):
    """The per-part argmin must be a struct-MIN hash aggregate with a
    map-side partial combine — never a row_number window sorting the
    full lineitem relation inside the l_partkey shuffle (VERDICT r10
    item #1; the SCALING.md no-data-scaled-window convention)."""
    from ai_data_pipeline_spark.operators.relational import (
        q_cheapest_supplier,
    )

    plan = _plan(q_cheapest_supplier(spark, SF_DIR))
    assert "Window" not in plan, f"window argmin over lineitem:\n{plan}"
    assert "partial_min" in plan


def test_brp_recall_exact_side_broadcasts_queries(spark):
    """The exact side of the BRP audit is the bounded-query-broadcast
    brute-force shape (the ann_cosine_topk baseline): the corpus must
    never be exchanged or nested-loop-joined against itself."""
    from ai_data_pipeline_spark.operators.similarity import (
        ann_mllib_brp_recall,
    )

    plan = _plan(ann_mllib_brp_recall(spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_stream_ivf_assign_is_aggregate_not_window(spark):
    """The streaming maintenance path's per-batch assignment must be
    the same max_by-aggregate shape as ann_ivf — one copy of each
    vector through the exchange, no corpus-keyed window sort."""
    from pyspark.sql import functions as F

    from ai_data_pipeline_spark.operators.similarity import (
        N_CELLS,
        N_QUERIES,
        _assign_cos,
    )

    e = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    batch = e.filter(F.col("vec_id") >= N_QUERIES).select(
        "vec_id", F.lit(0).alias("version"), "v"
    )
    cents = e.filter(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + N_CELLS)
    ).select(F.col("vec_id").alias("cell_id"), F.col("v").alias("cv"))
    # the per-batch call the stream's foreachBatch makes
    plan = _plan(_assign_cos(batch, cents, ["vec_id", "version"], []))
    assert "partial_max_by" in plan
    assert "Window" not in plan


def test_kmv_sketch_is_two_level_tournament(spark):
    """The KMV bottom-K must run the two-level tournament (local heat
    per partition before the final K-selection): the raw distinct-hash
    relation is corpus-scaled, so a single global window would funnel
    it through one reducer. The final windows run only over the
    <= K x partitions survivors."""
    from ai_data_pipeline_spark.operators.sketches import (
        sketch_kmv_jaccard,
        sketch_kmv_users,
    )

    for q in (sketch_kmv_users, sketch_kmv_jaccard):
        plan = _plan(q(spark, SF_DIR))
        # two ranking levels per bottom-K (the wide Project lines can
        # display-truncate the spark_partition_id expression, so assert
        # the tournament by its two Window levels)
        assert plan.count("Window") >= 2
        assert "CartesianProduct" not in plan


def test_decayed_heavy_hitters_aggregates_then_tournament(spark):
    """Decayed scoring must partial-aggregate (map-side combines of
    (user, weight) partials) and select the top K via the two-level
    tournament — no corpus-wide single-partition window; the only
    nested-loop join is the broadcast 1-row max-date scalar."""
    from ai_data_pipeline_spark.operators.analytic2 import (
        q_decayed_heavy_hitters,
    )

    plan = _plan(q_decayed_heavy_hitters(spark, SF_DIR))
    assert "partial_count" in plan or "partial_sum" in plan
    assert plan.count("Window") >= 2  # tournament levels
    assert "CartesianProduct" not in plan


def test_aqp_estimate_is_single_pruned_scan(spark):
    """The AQP estimate computes exact + sample + variance in ONE
    conditional-aggregation pass: exactly one lineitem scan, reading
    only the four columns the hash and the revenue need, with map-side
    partial aggregation — the shape whose production sibling reads
    1/64 of the bytes."""
    from ai_data_pipeline_spark.operators.aqp import (
        aqp_sample_estimate,
        aqp_sample_staircase,
    )

    for q in (aqp_sample_estimate, aqp_sample_staircase):
        df = q(spark, SF_DIR)
        plan = _plan(df)
        assert plan.count("Scan parquet") == 1
        assert "partial_" in plan  # map-side combine before the 1-row agg
        fmt = _formatted(df)
        import re

        m = re.search(r"ReadSchema: struct<([^>]*)>", fmt)
        assert m is not None
        cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert cols == {
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
            "l_discount",
        }


def test_ivf_trained_recall_broadcasts_and_aggregates(spark):
    """The trained-IVF audit composes two bounded plans: every small
    side broadcast, no CartesianProduct, and the reconciliation is a
    keyed aggregate over k-rows-per-query relations."""
    from ai_data_pipeline_spark.operators.similarity import (
        ann_ivf_trained_recall,
    )

    plan = _plan(ann_ivf_trained_recall(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # broadcast query sides


def test_pq_trained_audit_broadcasts_and_aggregates(spark):
    """The trained-PQ audit composes bounded plans: model relations and
    1-row distortion scalars broadcast (never CartesianProduct), PQ
    encode/distortion as map-side-combined keyed aggregates."""
    from ai_data_pipeline_spark.operators.similarity import (
        ann_ivf_pq_trained_audit,
    )

    plan = _plan(ann_ivf_pq_trained_audit(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # broadcast query/model sides
    assert "partial_" in plan  # map-side combines on encode + distortion


def test_pq_trained_serves_through_shared_plan(spark):
    """ann_ivf_pq and ann_ivf_pq_trained must produce the same plan
    SKELETON (both call _ivfpq_search): identical counts of every
    join/aggregate/window operator family, so a serving-plan
    regression (a dropped broadcast, a lost map-side combine, an extra
    sort) cannot hit one path only. Only the model-relation SOURCES
    may differ (parquet-derived stand-in vs createDataFrame model)."""
    import re
    from collections import Counter

    from ai_data_pipeline_spark.operators.similarity import (
        ann_ivf_pq,
        ann_ivf_pq_trained,
    )

    families = (
        "BroadcastHashJoin",
        "BroadcastNestedLoopJoin",
        "SortMergeJoin",
        "ShuffledHashJoin",
        "HashAggregate",
        "Window",
        "Sort",
        "CartesianProduct",
    )

    def skeleton(q):
        plan = _plan(q(spark, SF_DIR))
        nodes = re.findall(r"\b(\w+)\b", plan)
        return Counter(n for n in nodes if n in families), plan

    sk_std, plan_std = skeleton(ann_ivf_pq)
    sk_tr, plan_tr = skeleton(ann_ivf_pq_trained)
    assert sk_std == sk_tr, (sk_std, sk_tr)
    for plan in (plan_std, plan_tr):
        assert "CartesianProduct" not in plan
        assert "partial_" in plan  # map-side combines on encode + ADC sum


def test_unigram_prune_stays_arrow_and_aggregates(spark):
    """The prune turn reads its re-EM segmentation from the
    checkpointed relation (Scan ExistingRDD — the Arrow kernel runs
    once building it; the kernel's Arrow/never-BatchEval property is
    pinned on the family by test_unigram_family_aggregates_and_stays_
    arrow), recounts via map-side-combined aggregates, and glues its
    1-row stats with broadcast joins, never a CartesianProduct."""
    from ai_data_pipeline_spark.operators.unigram import corpus_unigram_prune

    plan = _plan(corpus_unigram_prune(spark, SF_DIR))
    assert "Scan ExistingRDD" in plan  # the checkpointed segmentation
    assert "BatchEvalPython" not in plan
    assert "partial_" in plan
    assert "CartesianProduct" not in plan


def test_unigram_converge_stays_arrow_and_aggregates(spark):
    """Both turn segmentations read from checkpointed relations (Scan
    ExistingRDD — each Arrow pass runs once), per-turn stats are
    map-side-combined aggregates, and the 1-row glue is broadcast,
    never a CartesianProduct."""
    from ai_data_pipeline_spark.operators.unigram import (
        corpus_unigram_converge,
    )

    plan = _plan(corpus_unigram_converge(spark, SF_DIR))
    assert "Scan ExistingRDD" in plan  # the checkpointed segmentations
    assert "BatchEvalPython" not in plan
    assert "partial_" in plan
    assert "CartesianProduct" not in plan


def test_lsh_band_tuning_generates_grid_and_broadcasts(spark):
    """The S-curve side must be a generated Range (no table scan for
    the math); the observed side reuses the bounded recall plans; the
    1-row glue is broadcast, never CartesianProduct."""
    from ai_data_pipeline_spark.operators.dedup import dedup_lsh_band_tuning

    plan = _plan(dedup_lsh_band_tuning(spark, SF_DIR))
    assert "Range (1, 1000" in plan  # the generated permille grid
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "partial_" in plan


def test_residual_pq_broadcasts_models_and_combines(spark):
    """Residual PQ: centroid/codebook model relations broadcast, the
    assignment and encode are map-side-combined aggregates, no
    CartesianProduct (the broadcast crossJoin against N_CELLS rows
    compiles to BroadcastNestedLoopJoin)."""
    from ai_data_pipeline_spark.operators.similarity import (
        emb_pq_residual_encode,
    )

    plan = _plan(emb_pq_residual_encode(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "partial_" in plan


def test_containment_joins_on_shingle_and_combines(spark):
    """Containment pairs come from the df-capped shingle equi-join
    (bounded fan-out), never a CartesianProduct; the intersection is a
    map-side-combined keyed count; the wrapper planting joins on the
    successor doc_id (equi-join). Asserted on the RAW scored builder
    (the public query checkpoints it for the census + output pair of
    consumers, hiding the subtree as Scan ExistingRDD)."""
    from ai_data_pipeline_spark.operators.dedup import (
        _containment_scored,
        dedup_containment,
    )

    plan = _plan(_containment_scored(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "partial_" in plan
    full = _plan(dedup_containment(spark, SF_DIR))
    assert "Scan ExistingRDD" in full  # checkpointed scored relation
    assert "CartesianProduct" not in full


def test_bootstrap_single_scan_and_combines(spark):
    """The bootstrap scans the lineitem sample, fans out replicates
    via a generated explode (map-side partial sums collapse each task
    to <= B rows), and glues 1-row aggregates by broadcast — no
    CartesianProduct, no second data scan beyond the HT side."""
    from ai_data_pipeline_spark.operators.aqp import aqp_bootstrap

    plan = _plan(aqp_bootstrap(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row HT side broadcast
    assert "partial_" in plan  # map-side combine on the replicate sums
    assert plan.count("Scan parquet") == 2  # replicate side + HT side


def test_ivfpq_rerank_shares_candidates_and_broadcasts_models(spark):
    """The ADC baseline and the re-ranked path must rank the SAME
    _ivfpq_approx relation (AQE dedupes the shared exchange at
    runtime); model relations and the query side broadcast; the only
    nested-loop joins are against broadcast bounded relations
    (centroids / 10-query side), never a CartesianProduct."""
    from ai_data_pipeline_spark.operators.similarity import ann_ivf_pq_rerank

    plan = _plan(ann_ivf_pq_rerank(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # broadcast centroid/query side
    assert "partial_" in plan  # map-side combines on the ADC sums


def test_bootstrap_ratio_prunes_before_rollup(spark):
    """The ratio bootstrap's only data-sized shuffle is the per-order
    rollup, and the 1/64 membership filter must sit BELOW it (63/64 of
    lineitem never rides the groupBy); replicate sums keep map-side
    combines; 1-row glue is broadcast, never CartesianProduct."""
    from ai_data_pipeline_spark.operators.aqp import aqp_bootstrap_ratio

    plan = _plan(aqp_bootstrap_ratio(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row pl/pop glue
    assert "partial_" in plan  # map-side combine on rollup + replicates
    # membership filter below the per-order rollup: the filter mentions
    # the md5-derived hash column and appears in the plan (pushed into
    # the scan stage, not applied post-aggregate)
    # three logical scans: exact side, plug-in side, replicate side —
    # the latter two end at the SAME per-order rollup exchange, which
    # AQE dedupes at runtime (ReusedExchange verified post-execution),
    # so the sample's shuffle is paid once
    assert plan.count("Scan parquet") == 3
    assert "md5" in plan and "% 64" in plan.replace("%64", "% 64")


def test_watermark_log_reads_checkpoint_once(spark):
    """The watermark query must read the materialized update log (Scan
    ExistingRDD), scan events parquet exactly once (the max-ts scalar),
    and join the 1-row scalar by broadcast, not CartesianProduct."""
    from ai_data_pipeline_spark.streaming.watermark import (
        stream_watermark_late_drop,
    )

    plan = _plan(stream_watermark_late_drop(spark, SF_DIR))
    assert "Scan ExistingRDD" in plan  # the checkpointed update log
    assert plan.count("Scan parquet") == 1  # only the max-ts scalar scan
    assert "CartesianProduct" not in plan


def test_unigram_family_aggregates_and_stays_arrow(spark):
    """Unigram training/apply must run the segmentation as an
    Arrow-batched pandas UDF over the DISTINCT-WORD relation with
    map-side partial aggregation on the recounts — never a
    row-at-a-time Python UDF, never a corpus-wide window (the only
    window ranks the bounded piece vocabulary)."""
    from ai_data_pipeline_spark.operators.unigram import (
        corpus_unigram_apply,
        corpus_unigram_train,
    )

    for q in (corpus_unigram_train, corpus_unigram_apply):
        plan = _plan(q(spark, SF_DIR))
        assert "ArrowEvalPython" in plan  # pandas UDF, not BatchEvalPython
        assert "BatchEvalPython" not in plan
        assert "partial_" in plan  # map-side combines on the recount
        assert "CartesianProduct" not in plan


def test_ranking_metrics_composes_bounded_plans(spark):
    """The IR-metrics query reconciles two k-rows-per-query relations:
    no CartesianProduct, query sides broadcast, metric arithmetic as
    keyed aggregates."""
    from ai_data_pipeline_spark.operators.retrieval import (
        retrieval_ranking_metrics,
    )

    plan = _plan(retrieval_ranking_metrics(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # broadcast query/centroid sides
    assert "partial_" in plan  # keyed metric aggregates combine map-side


def test_aqp_universe_join_broadcasts_scalar_sides(spark):
    """The three 1-row aggregates in aqp_universe_join combine via
    broadcast nested-loop joins, never a CartesianProduct — the house
    crossJoin-only-against-broadcast convention."""
    from ai_data_pipeline_spark.operators.aqp import aqp_universe_join

    plan = _plan(aqp_universe_join(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_mg_summary_counts_are_partial_aggregates(spark):
    """The Misra-Gries tier's only corpus-scaled stage is the per-scope
    count groupBy — it must partial-aggregate (map-side combines) in
    the RAW builder, and the public queries must materialize that
    relation ONCE (localCheckpoint): zero parquet scans downstream, so
    the corpus is scanned/shuffled exactly once however many views
    (threshold, survivors, budgets, exact) read the counts. The
    (K+1)-th-order-statistic selection rides the two-level tournament,
    never a global sort of a corpus-scaled relation. Round-14: the
    merge path's shared forks (thresholds, pre, joined) are themselves
    checkpointed (guide §2.4 — each shared stage runs once), so the
    tournament windows are pinned on the threshold BUILDER sub-plan,
    where they now execute; the public queries' final stages are
    checked for plan hygiene (no cartesian, no global sort)."""
    from ai_data_pipeline_spark.operators.sketches import (
        _mg_counts_plan,
        _mg_threshold,
        sketch_mg_merge_days,
        sketch_mg_topk,
    )

    raw_counts = _mg_counts_plan(spark, SF_DIR, ["event_type"])
    raw = _plan(raw_counts)
    assert "partial_count" in raw  # map-side combine on raw events

    # the (K+1)-th selection is the two-level tournament (2 windows,
    # local heat then survivors), never a global sort. A global sort
    # prints as a `Sort` detail block with the global flag `true`
    # (formatted explain never emits a 'GlobalSort' token — the
    # pre-r15 assert on it was vacuous, ADVICE r14) and plans one
    # `Exchange rangepartitioning`; assert on those representations.
    import re as _re

    def _has_global_sort(p: str) -> bool:
        return bool(
            _re.search(r"\(\d+\) Sort[^\n]*\nArguments: \[[^\n]*\], true,", p)
        ) or "rangepartitioning" in p

    thr = _plan(_mg_threshold(raw_counts.localCheckpoint(eager=False),
                              ["event_type"], "user_id"))
    assert thr.count("Window") >= 2
    assert not _has_global_sort(thr), thr

    for q in (sketch_mg_topk, sketch_mg_merge_days):
        plan = _plan(q(spark, SF_DIR))
        assert plan.count("Scan parquet") == 0  # counts materialized once
        assert "Scan ExistingRDD" in plan
        assert "CartesianProduct" not in plan
        assert not _has_global_sort(plan), plan
    # sketch_mg_topk keeps its tournament inline (single-consumer)
    assert _plan(sketch_mg_topk(spark, SF_DIR)).count("Window") >= 2


def test_ngram_lambdas_read_a_bound_token_array(spark):
    """No word-n-gram lambda may re-split the text: a split inlined into
    a transform lambda body re-evaluates per element, O(tokens²) per
    document (see text.token_arrays). The optimized plan prints each
    node on one line, so an inlined split shows up as
    ``slice(split(text#…`` on a ``lambdafunction(`` line."""
    from ai_data_pipeline_spark.operators.corpus import (
        corpus_boilerplate_ngrams,
        corpus_decontaminate,
        corpus_split_leakage,
    )
    from ai_data_pipeline_spark.operators.curation import dedup_dup_spans
    from ai_data_pipeline_spark.operators.dedup import (
        _containment_scored,
        dedup_chunk_passages,
        dedup_containment,
    )
    from ai_data_pipeline_spark.operators.text import winnowing_fingerprint

    for q in (
        winnowing_fingerprint,
        dedup_chunk_passages,
        dedup_dup_spans,
        dedup_containment,
        _containment_scored,
        corpus_decontaminate,
        corpus_boilerplate_ngrams,
        corpus_split_leakage,
    ):
        plan = q(spark, SF_DIR)._jdf.queryExecution().optimizedPlan().toString()
        for line in plan.splitlines():
            if "lambdafunction(" in line:
                assert "split(" not in line, (q.__name__, line)


def test_spread_repartitions_only_narrow_inputs(spark):
    """``spread`` widens an input with fewer partitions than the local
    parallelism to exactly that parallelism and returns a wide-enough
    input as is."""
    from ai_data_pipeline_spark.functions.expressions import spread

    par = spark.sparkContext.defaultParallelism
    narrow = spark.range(100).coalesce(1)
    assert spread(narrow).rdd.getNumPartitions() == par
    wide = spark.range(0, 100, 1, par)
    assert spread(wide) is wide


def test_spread_is_the_only_parallelism_repartition():
    """The spread policy lives in one place: no module but
    functions/expressions.py repartitions to ``defaultParallelism``
    (a module that names both is flagged, so a count bound to a local
    name first is caught too)."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "ai_data_pipeline_spark"
    offenders = [
        path.relative_to(pkg).as_posix()
        for path in sorted(pkg.rglob("*.py"))
        if "defaultParallelism" in (src := path.read_text())
        and ".repartition(" in src
    ]
    assert offenders == ["functions/expressions.py"]


def test_key_hash_is_spelled_only_in_expressions():
    """The cross-engine key-hash contract lives in one place: no module
    but functions/expressions.py parses a hex prefix (``F.conv(``,
    ``conv(substring``, ``'0x' ||``, a hex-digit ``instr`` lookup) or
    spells the text-fingerprint normalization
    (``regexp_replace(…trim(…lower``)."""
    import pathlib
    import re

    spelled = re.compile(
        r"F\.conv\(|conv\(substring|'0x' \|\||instr\('0123456789ABCDEF'|"
        r"regexp_replace\(\s*(?:F\.)?trim\(\s*(?:F\.)?lower"
    )
    pkg = pathlib.Path(__file__).resolve().parent.parent / "ai_data_pipeline_spark"
    offenders = [
        path.relative_to(pkg).as_posix()
        for path in sorted(pkg.rglob("*.py"))
        if spelled.search(path.read_text())
    ]
    assert offenders == ["functions/expressions.py"]


def test_whitespace_is_spelled_only_in_expressions():
    """What counts as whitespace or as a term is decided in one place: no
    module but functions/expressions.py holds a regex ``\\s`` (Java's
    includes \\x0B, DuckDB's does not) or the term break ``[^a-z]``, or
    calls DuckDB's split (``string_split_regex(``,
    ``regexp_split_to_array(``)."""
    import pathlib
    import re

    spelled = re.compile(r"\\s|\[\^a-z\]|string_split_regex\(|regexp_split_to_array\(")
    pkg = pathlib.Path(__file__).resolve().parent.parent / "ai_data_pipeline_spark"
    offenders = [
        path.relative_to(pkg).as_posix()
        for path in sorted(pkg.rglob("*.py"))
        if spelled.search(path.read_text())
    ]
    assert offenders == ["functions/expressions.py"]


def test_profile_plan_has_no_join_and_one_aggregation_for_many_tables(spark):
    """One profile plan serves one table or many: a single-table profile
    looks its name literals up by ``cid`` instead of joining them in,
    and ``profile_catalog`` runs the two-level aggregation once over all
    tables — one exchange keyed on ``(cid, render_l)`` and one keyed on
    ``cid``, whatever the number of tables."""
    import re

    import __spark_entry__ as entry_mod
    from ai_data_pipeline_spark.catalog import TABLES
    from ai_data_pipeline_spark.profiling.profiler import profile_table

    single = profile_table(load_table(spark, SF_DIR, "customer"), TABLES["customer"])
    optimized = single._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in optimized, optimized

    plan = _plan(entry_mod.queries()["profile_catalog"](spark, SF_DIR))
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*?), \d+\)", plan)
    keys = [re.sub(r"#\d+L?", "", k) for k in keys]
    assert keys.count("cid, render_l") == 1, plan
    assert keys.count("cid") == 1, plan


def test_profile_plan_runs_one_rlike_per_pattern(spark):
    """Every pattern sum the stats row carries is one the cascade reads,
    so the optimized lineitem profile holds exactly one ``RLIKE`` per
    pattern: none is computed and pruned, none is evaluated twice."""
    from ai_data_pipeline_spark.catalog import TABLES
    from ai_data_pipeline_spark.profiling.patterns import PATTERNS
    from ai_data_pipeline_spark.profiling.profiler import profile_table

    df = profile_table(load_table(spark, SF_DIR, "lineitem"), TABLES["lineitem"])
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("RLIKE") == len(PATTERNS), optimized


def test_profile_build_sends_few_py4j_commands(spark):
    """The profile plan is built from SQL text, not one Column-API round
    trip per column and pattern: a repeat build of the customer profile
    sends at most 500 py4j commands to the JVM."""
    from ai_data_pipeline_spark.catalog import TABLES
    from ai_data_pipeline_spark.profiling.profiler import profile_table

    df = load_table(spark, SF_DIR, "customer")
    profile_table(df, TABLES["customer"])
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting(*args, **kwargs):
        sent.append(1)
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        profile_table(df, TABLES["customer"])
    finally:
        client.send_command = send
    assert 0 < len(sent) <= 500, len(sent)
