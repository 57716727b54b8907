"""Unigram-LM (SentencePiece-style) tokenizer: train / apply /
roundtrip (VERDICT r11 task #6) — the OTHER standard LLM tokenizer
next to merge-based BPE (``corpus_bpe_pair_stats`` /
``corpus_bpe_apply``, corpus.py).

Construction (Kudo 2018, "Subword Regularization", arXiv:1804.10959 —
public method; the reference repo has no tokenizer, this is north-star
extension surface):

1. SEED vocabulary — substring counts over the DISTINCT-WORD table
   (the corpus-compression trick BPE training uses): every substring
   of length 1..UNI_MAX_PIECE of every word, weighted by word
   frequency; keep the top UNI_TOP_MULTI multi-char pieces by
   (count DESC, piece ASC) plus ALL single characters
   (SentencePiece's required-character coverage guarantee — every
   word is always segmentable).
2. One HARD-EM (Viterbi-EM) iteration — E-step: segment each distinct
   word with the seed scores by Viterbi; M-step: re-count piece usage
   weighted by word frequency. (SentencePiece runs soft-EM to
   convergence plus pruning; one hard-EM round is the
   oracle-checkable unit that exercises the full train loop —
   segment, recount, renormalize — the ``corpus_bpe_pair_stats``
   "one training step" scoping precedent.)
3. APPLY vocabulary — pieces with em_count > 0, plus single chars
   floored at count 1 (Laplace-style floor keeping coverage total);
   tokenize the corpus per language with the post-EM scores.

DETERMINISM (the emb_kmeans_fixed_point discipline, extended to the
Viterbi DP): all counts are exact integers; piece probabilities are
one correctly-rounded double division c/C (identical in Python,
Spark, DuckDB for c, C < 2^53); the DP recurrence multiplies doubles
in the SAME association order in both engines (best[i-l] * p, i
ascending), and uses ONLY +,*,/ — no transcendentals — so every DP
value is bit-identical cross-engine and the comparisons (p DESC,
piece-count ASC, piece-length DESC on ties) resolve identically.
Path reconstruction walks backward longest-piece-first re-checking
the same (product, count) equalities, which re-picks exactly the
forward choice. Output columns are integers (plus one round(x, 6)
ratio of identically-computed doubles).

Both engines cap words at UNI_MAX_WORD chars (the BPE oracle's
range(1,64) bound made explicit and two-sided, so parity holds on any
input).

Scale: training runs on the distinct-word relation (orders of
magnitude smaller than the corpus — the same compression real
trainers use); the vocabulary is a bounded MODEL artifact
(UNI_TOP_MULTI + |alphabet| rows) collected once per session and
broadcast into the Arrow-batched segmentation kernel (collecting the
model, not data — the _trained_centroids precedent); per-word Viterbi
is O(len * UNI_MAX_PIECE) inside a pandas UDF; the EM recount and all
per-language stats are keyed integer aggregates with map-side
combines. Nothing corpus-scaled is sorted, windowed, or collected.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from ai_data_pipeline_spark.catalog import load_table
from ai_data_pipeline_spark.functions.expressions import ws_split, ws_split_sql
from ai_data_pipeline_spark.operators.text import token_arrays
from ai_data_pipeline_spark.registry import QueryDef
from ai_data_pipeline_spark.session import session_scoped_cache

UNI_MAX_PIECE = 3  # max piece length (chars)
UNI_TOP_MULTI = 40  # multi-char pieces kept in the seed vocabulary
UNI_MAX_WORD = 63  # word-length cap, both engines (BPE range(1,64) bound)


def _word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct-word frequency table the whole family trains on —
    built from the session-checkpointed text.token_arrays (ONE
    corpus text split per session, shared with the n-gram/BPE family)
    and itself checkpoint-memoized: seed counts, the EM pass, and the
    apply/roundtrip segmentations all read the materialized word
    relation instead of re-splitting the corpus (it contains a
    shuffle and has 4+ consumers — the house materialize-once rule)."""
    cache = session_scoped_cache(spark, "unigram_wf")
    if sf_dir not in cache:
        cache[sf_dir] = (
            token_arrays(spark, sf_dir)
            .select(F.explode("l").alias("w"))
            .filter((F.length("w") >= 1) & (F.length("w") <= UNI_MAX_WORD))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("f"))
            .localCheckpoint()
        )
    return cache[sf_dir]


# Substrings of length 1..UNI_MAX_PIECE as a generated column (guarded:
# sequence(1, 0) would descend, so short words emit an empty array).
_PIECES_EXPR = f"""
explode(flatten(transform(sequence(1, {UNI_MAX_PIECE}), l ->
  CASE WHEN length(w) >= l
       THEN transform(sequence(1, length(w) - l + 1), i -> substring(w, i, l))
       ELSE array() END)))
"""


def _seed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed piece counts: (piece, c) for every kept vocabulary entry —
    all single chars, plus the top UNI_TOP_MULTI multi-char pieces.
    The piece domain is bounded by |alphabet|^UNI_MAX_PIECE, so the
    global rank is a tiny single-partition sort of the piece
    vocabulary, not the data (the corpus_bpe_pair_stats argument)."""
    pieces = (
        _word_freq(spark, sf_dir)
        .select(F.expr(_PIECES_EXPR).alias("piece"), "f")
        .groupBy("piece")
        .agg(F.sum("f").alias("c"))
    )
    singles = pieces.filter(F.length("piece") == 1)
    from pyspark.sql import Window as W

    multi = (
        pieces.filter(F.length("piece") >= 2)
        .withColumn(
            "rnk",
            F.row_number().over(
                W.orderBy(F.desc("c"), F.asc("piece"))
            ),
        )
        .filter(F.col("rnk") <= UNI_TOP_MULTI)
        .drop("rnk")
    )
    return singles.unionByName(multi)


def viterbi_segment(w: str, prob: dict[str, float]) -> list[str]:
    """Viterbi segmentation of one word under unigram piece
    probabilities. Plain-Python IEEE doubles; op order pinned to the
    oracle's recursive CTE (see module docstring): forward candidates
    evaluated l = 1..UNI_MAX_PIECE ascending with replace-on
    (p >, or p = and pieces <=) so equal-(p, k) ties go to the LONGER
    piece; backward reconstruction longest-first re-picks exactly the
    forward choice via the same (product, count) equalities."""
    L = len(w)
    best = [0.0] * (L + 1)
    ks = [0] * (L + 1)
    best[0] = 1.0
    for i in range(1, L + 1):
        bp, bk = -1.0, 0
        for l in (1, 2, 3):  # ascending: equal (p, k) -> longer l wins
            if l > i:
                break
            pc = prob.get(w[i - l : i])
            if pc is None:
                continue
            cp = best[i - l] * pc
            ck = ks[i - l] + 1
            if cp > bp or (cp == bp and ck <= bk) or bp < 0.0:
                bp, bk = cp, ck
        best[i], ks[i] = bp, bk
    # Coverage invariant (ADVICE r12): the vocabulary construction
    # guarantees every single character is a piece, so every position
    # is reachable. If a caller ever passes a coverage-broken dict
    # (e.g. a bad prune), fail LOUDLY here instead of silently
    # returning a non-reconstructing segmentation.
    if L and best[L] < 0.0:
        raise ValueError(
            "unigram vocabulary lost character coverage: "
            f"{w!r} has no full segmentation"
        )
    pieces: list[str] = []
    i = L
    while i > 0:
        for l in (3, 2, 1):  # longest-first re-picks the forward choice
            if l <= i:
                pc = prob.get(w[i - l : i])
                if (
                    pc is not None
                    and best[i - l] * pc == best[i]
                    and ks[i - l] + 1 == ks[i]
                ):
                    pieces.append(w[i - l : i])
                    i -= l
                    break
        else:
            raise ValueError(
                "unigram vocabulary lost character coverage: no piece "
                f"reconstructs position {i} of {w!r}"
            )
    pieces.reverse()
    # (no final join-check: the walk appends contiguous w[i-l:i]
    # slices down to position 0, so ''.join(pieces) == w holds by
    # construction whenever the loop completes — non-completion is
    # exactly the for-else raise above)
    return pieces


def _segment_udf(prob: dict[str, float]):
    """Arrow-batched wrapper around ``viterbi_segment`` over a broadcast
    piece->probability dict."""

    @pandas_udf(ArrayType(StringType()))
    def seg(ws: pd.Series) -> pd.Series:
        return pd.Series([viterbi_segment(w, prob) for w in ws])

    return seg


def _unigram_model(
    spark: SparkSession, sf_dir: str
) -> tuple[dict[str, int], int, dict[str, int], int, int]:
    """(seed_counts, seed_total, apply_counts, apply_total, em1_total),
    memoized per (session, sf_dir) — the bounded MODEL artifact (vocab
    dicts of at most UNI_TOP_MULTI + |alphabet| entries), collected
    once; the immutable-sf_dir contract is documented on
    session_scoped_cache. em1_total = the EM-1 segmentation's total
    corpus piece count (sum of the EM counts this pass already
    aggregates) — kept so consumers (`corpus_unigram_prune`) never
    re-run the EM-1 segmentation just to recover the scalar (review
    r13 finding, the r12 redundant-corpus-scan class)."""
    cache = session_scoped_cache(spark, "unigram_model")
    if sf_dir in cache:
        return cache[sf_dir]
    seed_rows = _seed_counts(spark, sf_dir).collect()
    seed = {r["piece"]: r["c"] for r in seed_rows}
    seed_total = sum(seed.values())
    prob = {p: c / seed_total for p, c in seed.items()} if seed_total else {}
    em_rows = (
        _word_freq(spark, sf_dir)
        .select(F.explode(_segment_udf(prob)("w")).alias("piece"), "f")
        .groupBy("piece")
        .agg(F.sum("f").alias("em"))
        .collect()
    )
    em = {r["piece"]: r["em"] for r in em_rows}
    em1_total = sum(em.values())
    # apply vocabulary: EM survivors + single-char coverage floor
    apply_counts = {
        p: em.get(p, 0) if em.get(p, 0) > 0 else 1
        for p in seed
        if em.get(p, 0) > 0 or len(p) == 1
    }
    apply_total = sum(apply_counts.values())
    cache[sf_dir] = (seed, seed_total, apply_counts, apply_total, em1_total)
    return cache[sf_dir]


def corpus_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One unigram-LM training round: the seed vocabulary next to its
    hard-EM re-estimated counts, ranked by post-EM usage. A piece with
    em_count = 0 is what SentencePiece's pruning step would drop — the
    rank IS the prune order."""
    seed, seed_total, _, _, _ = _unigram_model(spark, sf_dir)
    prob = {p: c / seed_total for p, c in seed.items()} if seed_total else {}
    vocab = _seed_counts(spark, sf_dir)
    em = (
        _word_freq(spark, sf_dir)
        .select(F.explode(_segment_udf(prob)("w")).alias("piece"), "f")
        .groupBy("piece")
        .agg(F.sum("f").alias("em_count"))
    )
    from pyspark.sql import Window as W

    return (
        vocab.join(em, "piece", "left")
        .select(
            "piece",
            F.length("piece").cast("int").alias("piece_len"),
            F.col("c").alias("seed_count"),
            F.coalesce("em_count", F.lit(0)).alias("em_count"),
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                W.orderBy(F.desc("em_count"), F.asc("piece"))
            ),
        )
    )


def corpus_unigram_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the post-EM vocabulary: per language,
    word/char/piece accounting and the achieved pieces-per-char — the
    corpus_bpe_apply output shape, under the unigram objective."""
    _, _, apply_counts, apply_total, _ = _unigram_model(spark, sf_dir)
    prob = (
        {p: c / apply_total for p, c in apply_counts.items()}
        if apply_total
        else {}
    )
    d = load_table(spark, sf_dir, "documents")
    lw = (
        d.select("lang", F.explode(ws_split(F.col("text"))).alias("w"))
        .filter((F.length("w") >= 1) & (F.length("w") <= UNI_MAX_WORD))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    segged = lw.withColumn("k", F.size(_segment_udf(prob)("w")))
    return segged.groupBy("lang").agg(
        F.sum("f").alias("n_words"),
        F.sum(F.col("f") * F.length("w")).alias("n_chars"),
        F.sum(F.col("f") * F.col("k")).alias("n_pieces"),
        F.round(
            F.sum(F.col("f") * F.col("k")).cast("double")
            / F.sum(F.col("f") * F.length("w")),
            6,
        ).alias("pieces_per_char"),
    )


def corpus_unigram_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-soundness audit (1 row): every segmented word must
    reconstruct exactly (concat of pieces == word), every emitted piece
    must be a vocabulary member, and the distinct-piece usage count is
    emitted so the oracle's independent segmentation must agree piece
    for piece — a wrong DP tie-break shows up here as a value
    mismatch, not just a flag. (Since the ADVICE r12 guard, the kernel
    itself raises on a non-reconstructing segmentation, so the
    Spark-side flags cannot silently report a failure — their checked
    content is the cross-engine agreement with the oracle's
    independently recomputed flags and census.)"""
    _, _, apply_counts, apply_total, _ = _unigram_model(spark, sf_dir)
    prob = (
        {p: c / apply_total for p, c in apply_counts.items()}
        if apply_total
        else {}
    )
    wf = _word_freq(spark, sf_dir)
    segged = wf.withColumn("pieces", _segment_udf(prob)("w")).localCheckpoint()
    # empty-vocab sentinel: array() of zero columns has element type
    # VOID, which array_except rejects against array<string>; "" can
    # never be a piece, so the sentinel changes nothing semantically
    vocab_lits = [F.lit(p) for p in sorted(apply_counts)] or [F.lit("")]
    vocab_arr = F.array(*vocab_lits)
    bad = (F.concat_ws("", F.col("pieces")) != F.col("w")).cast("long")
    oov = F.size(F.array_except(F.array_distinct("pieces"), vocab_arr)).cast(
        "long"
    )
    used = segged.select(F.explode("pieces").alias("piece")).agg(
        F.count_distinct("piece").cast("long").alias("n_pieces_used")
    )
    stats = segged.agg(
        F.count(F.lit(1)).alias("n_distinct_words"),
        F.coalesce(F.sum(bad), F.lit(0)).alias("n_bad_roundtrip"),
        F.coalesce((F.sum(bad) == 0).cast("int"), F.lit(1)).alias(
            "roundtrip_ok"
        ),
        F.coalesce((F.sum(oov) == 0).cast("int"), F.lit(1)).alias(
            "all_pieces_in_vocab"
        ),
    )
    return stats.crossJoin(F.broadcast(used))


# Multi-char pieces surviving the prune step: the post-EM apply
# vocabulary carries 18/20/22 multi-char pieces at sf0.001/0.01/0.1,
# so keeping 10 prunes 8-12 pieces at every fixture SF — a real prune,
# not a no-op.
UNI_PRUNE_KEEP_MULTI = 10


def corpus_unigram_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One PRUNING turn of the SentencePiece train loop (VERDICT r12
    task #4 — ``corpus_unigram_train`` notes "the rank IS the prune
    order"; this query proves it): take the post-EM apply vocabulary,
    drop the lowest-ranked multi-char pieces down to
    UNI_PRUNE_KEEP_MULTI survivors (em_count = 0 pieces are already
    gone from the apply vocabulary; single chars always survive —
    SentencePiece's required-character coverage), renormalize, re-run
    one EM pass on the pruned vocabulary, and emit the loop's
    loss/coverage trajectory as exact integers (1 row):

    - ``n_vocab_before`` / ``n_vocab_after`` / ``n_pruned`` — the prune
      census (apply vocabulary → pruned vocabulary).
    - ``n_pieces_em1`` — total corpus piece count of the EM-1
      segmentation (the pre-prune training state's E-step objective
      proxy: log-likelihood is transcendental and banned from oracle
      outputs, per-iteration piece totals are the exact-integer
      trajectory real trainers log).
    - ``n_pieces_em2`` / ``pieces_delta`` — the same total after
      prune + re-EM; a coarser vocabulary can only re-segment words
      with MORE or equal pieces given equal scores, but renormalized
      probabilities shift ties, so the delta is emitted signed rather
      than asserted.
    - ``n_em2_survivors`` — pieces still used after the re-EM (the
      NEXT turn's prune order census).
    - ``coverage_ok`` — every distinct word still reconstructs under
      the pruned vocabulary. Note the kernel RAISES on a
      coverage-broken vocabulary (ADVICE r12), so a true Spark-side
      failure crashes loudly rather than emitting 0; the emitted flag's
      checked content is the ORACLE's independent recomputation
      agreeing (plus the hash-exact piece totals, where any DP
      divergence surfaces as a value mismatch).

    Scale: the prune itself is driver-side arithmetic on the bounded
    MODEL artifact (the memoized vocab dicts, which also carry the
    EM-1 piece total — no re-segmentation to recover it); the re-EM
    pass is the family's standard shape — Arrow-batched Viterbi over
    the checkpointed distinct-word relation, keyed integer aggregates
    with map-side combines; the 1-row aggregates glue via broadcast
    crossJoin."""
    _, _, apply_counts, _, em1_total = _unigram_model(spark, sf_dir)
    # prune: keep all single chars + the top multi-char pieces by the
    # apply-count rank (count DESC, piece ASC) — the train rank order
    multis = sorted(
        ((p, c) for p, c in apply_counts.items() if len(p) >= 2),
        key=lambda kv: (-kv[1], kv[0]),
    )[:UNI_PRUNE_KEEP_MULTI]
    pruned = {p: c for p, c in apply_counts.items() if len(p) == 1}
    pruned.update(dict(multis))
    tot3 = sum(pruned.values())
    prob3 = {p: c / tot3 for p, c in pruned.items()} if tot3 else {}

    wf = _word_freq(spark, sf_dir)
    # n_pieces_em1 comes from the memoized model artifact (the EM pass
    # already aggregated it) — re-segmenting the word relation just to
    # recover this scalar would be a redundant full Arrow pass
    segged = wf.withColumn("pieces", _segment_udf(prob3)("w")).localCheckpoint()
    bad = (F.concat_ws("", F.col("pieces")) != F.col("w")).cast("long")
    em2_stats = segged.agg(
        F.coalesce(F.sum(F.col("f") * F.size("pieces")), F.lit(0))
        .cast("long")
        .alias("n_pieces_em2"),
        F.coalesce((F.sum(bad) == 0).cast("int"), F.lit(1)).alias("coverage_ok"),
    )
    survivors = segged.select(F.explode("pieces").alias("piece")).agg(
        F.count_distinct("piece").cast("long").alias("n_em2_survivors")
    )
    return em2_stats.crossJoin(F.broadcast(survivors)).select(
        F.lit(len(apply_counts)).cast("long").alias("n_vocab_before"),
        F.lit(len(pruned)).cast("long").alias("n_vocab_after"),
        F.lit(len(apply_counts) - len(pruned)).cast("long").alias("n_pruned"),
        F.lit(em1_total).cast("long").alias("n_pieces_em1"),
        "n_pieces_em2",
        (F.col("n_pieces_em2") - F.lit(em1_total)).cast("long").alias(
            "pieces_delta"
        ),
        "n_em2_survivors",
        "coverage_ok",
    )


# Turn-2 multi-char survivor target of the convergence loop: below the
# turn-1 keep (10) so the second prune is a real event at every
# fixture SF, above the alphabet floor so the vocabulary still
# carries multi-char structure.
UNI_CONVERGE_KEEP2 = 6


def corpus_unigram_converge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SentencePiece train loop RUN TO A TARGET, not just one turn
    (VERDICT r13 task #6 — ``corpus_unigram_prune`` proves a single
    EM→prune→re-EM turn; real trainers iterate until the vocabulary
    hits its size budget): two consecutive prune turns driven off each
    other's EM counts, with the exact-integer loss trajectory logged
    per turn (1 row):

    - turn 0 = the post-EM apply vocabulary (the ``_unigram_model``
      state) with its EM-1 corpus piece total;
    - turn 1 = prune multis to UNI_PRUNE_KEEP_MULTI by the train rank
      (count DESC, piece — the ``corpus_unigram_prune`` construction),
      renormalize, EM; its per-piece counts become the NEXT turn's
      rank order (the loop's defining property);
    - turn 2 = apply-rule the turn-1 EM counts (survivors + single-char
      coverage floor at count 1), prune multis to UNI_CONVERGE_KEEP2,
      renormalize, EM.

    Emitted: vocabulary census per turn, corpus piece totals per turn
    with signed deltas (the exact-integer objective proxy real
    trainers log — log-likelihood is transcendental and banned from
    oracle outputs), turn-2 survivor census, coverage flags, and two
    trajectory flags: ``vocab_monotone`` (sizes strictly fall to the
    target — true by construction at every fixture SF: 18/20/22
    multis → 10 → 6) and ``pieces_nondecreasing`` (a coarser
    vocabulary never needs fewer pieces — measured TRUE at all three
    SFs; emitted as data, not assumed: renormalized ties could flip
    it on another corpus, and both engines compute the same value
    either way).

    Scale: the prune/re-rank steps are driver-side arithmetic on the
    bounded MODEL artifact (vocab dicts); each turn costs one
    Arrow-batched Viterbi pass over the checkpointed distinct-word
    relation plus one bounded (vocab-sized) collect of EM counts —
    the train-once/serve-many discipline of the family. The oracle
    runs THREE recursive-CTE DP passes (EM-1, turn 1, turn 2), all
    MATERIALIZED (the DuckDB 1.0 re-inlining note) — the family's
    documented gate-cost class."""
    _, _, apply_counts, _, em1_total = _unigram_model(spark, sf_dir)
    # ---- turn 1: the corpus_unigram_prune construction
    multis = sorted(
        ((p, c) for p, c in apply_counts.items() if len(p) >= 2),
        key=lambda kv: (-kv[1], kv[0]),
    )[:UNI_PRUNE_KEEP_MULTI]
    vocab3 = {p: c for p, c in apply_counts.items() if len(p) == 1}
    vocab3.update(dict(multis))
    tot3 = sum(vocab3.values())
    prob3 = {p: c / tot3 for p, c in vocab3.items()} if tot3 else {}
    wf = _word_freq(spark, sf_dir)
    seg3 = wf.withColumn("pieces", _segment_udf(prob3)("w")).localCheckpoint()
    bad3 = (F.concat_ws("", F.col("pieces")) != F.col("w")).cast("long")
    t1 = seg3.agg(
        F.coalesce(F.sum(F.col("f") * F.size("pieces")), F.lit(0))
        .cast("long")
        .alias("n_pieces_t1"),
        F.coalesce((F.sum(bad3) == 0).cast("int"), F.lit(1)).alias("cov1"),
    )
    # turn-1 EM counts: the bounded model artifact for turn 2 (collect
    # is vocab-sized, not data-sized)
    em3_rows = (
        seg3.select(F.explode("pieces").alias("piece"), "f")
        .groupBy("piece")
        .agg(F.sum("f").alias("c"))
        .collect()
    )
    em3 = {r["piece"]: r["c"] for r in em3_rows}
    # ---- turn 2: apply-rule em3 over vocab3's support, prune to KEEP2
    applied4 = {
        p: (em3.get(p, 0) if em3.get(p, 0) > 0 else 1)
        for p in vocab3
        if em3.get(p, 0) > 0 or len(p) == 1
    }
    multis4 = sorted(
        ((p, c) for p, c in applied4.items() if len(p) >= 2),
        key=lambda kv: (-kv[1], kv[0]),
    )[:UNI_CONVERGE_KEEP2]
    vocab4 = {p: c for p, c in applied4.items() if len(p) == 1}
    vocab4.update(dict(multis4))
    tot4 = sum(vocab4.values())
    prob4 = {p: c / tot4 for p, c in vocab4.items()} if tot4 else {}
    seg4 = wf.withColumn("pieces", _segment_udf(prob4)("w")).localCheckpoint()
    bad4 = (F.concat_ws("", F.col("pieces")) != F.col("w")).cast("long")
    t2 = seg4.agg(
        F.coalesce(F.sum(F.col("f") * F.size("pieces")), F.lit(0))
        .cast("long")
        .alias("n_pieces_t2"),
        F.coalesce((F.sum(bad4) == 0).cast("int"), F.lit(1)).alias("cov2"),
    )
    surv = seg4.select(F.explode("pieces").alias("piece")).agg(
        F.count_distinct("piece").cast("long").alias("n_survivors_t2")
    )
    n0, n1, n2 = len(apply_counts), len(vocab3), len(vocab4)
    return (
        t1.crossJoin(F.broadcast(t2))
        .crossJoin(F.broadcast(surv))
        .select(
            F.lit(n0).cast("long").alias("n_vocab_t0"),
            F.lit(n1).cast("long").alias("n_vocab_t1"),
            F.lit(n2).cast("long").alias("n_vocab_t2"),
            F.lit(em1_total).cast("long").alias("n_pieces_em1"),
            "n_pieces_t1",
            "n_pieces_t2",
            (F.col("n_pieces_t1") - F.lit(em1_total))
            .cast("long")
            .alias("delta_t1"),
            (F.col("n_pieces_t2") - F.col("n_pieces_t1"))
            .cast("long")
            .alias("delta_t2"),
            "n_survivors_t2",
            (F.col("cov1") * F.col("cov2")).cast("int").alias("coverage_ok"),
            F.lit(1 if (n0 > n1 > n2) or n0 == 0 else 0)
            .cast("int")
            .alias("vocab_monotone"),
            (
                (F.col("n_pieces_t1") >= F.lit(em1_total))
                & (F.col("n_pieces_t2") >= F.col("n_pieces_t1"))
            )
            .cast("int")
            .alias("pieces_nondecreasing"),
        )
    )


# ---------------------------------------------------------------- oracle

_WF_SQL = rf"""
  SELECT w, count(*) AS f FROM (
    SELECT unnest({ws_split_sql('text')}) AS w FROM documents
  ) WHERE len(w) >= 1 AND len(w) <= {UNI_MAX_WORD} GROUP BY w
"""

_PIECES_SQL = f"""
  SELECT piece, CAST(sum(f) AS BIGINT) AS c FROM (
    SELECT w[i:i+l-1] AS piece, f
    FROM wf CROSS JOIN range(1, {UNI_MAX_PIECE + 1}) tl(l)
            CROSS JOIN range(1, {UNI_MAX_WORD + 1}) ti(i)
    WHERE i <= len(w) - l + 1
  ) GROUP BY piece
"""

_VOCAB_SQL = f"""
  SELECT piece, c FROM pieces WHERE len(piece) = 1
  UNION ALL
  SELECT piece, c FROM (
    SELECT piece, c, row_number() OVER (ORDER BY c DESC, piece) AS rnk
    FROM pieces WHERE len(piece) >= 2
  ) WHERE rnk <= {UNI_TOP_MULTI}
"""


def _viterbi_sql(vp: str, words: str, rec: str, walk: str) -> str:
    """The recursive Viterbi DP + backward path walk over the word
    relation ``words`` with the probability relation ``vp(piece, p)``,
    emitting ``walk`` rows (w, f, i=0, pieces). Mirrors _segment_udf op
    for op: candidates evaluated l = 1,2,3 with replace-on
    (p >, or p = and k <=); reconstruction longest-first on the same
    (product, count) equalities. List indexing: bests[m] holds DP
    position m-1."""
    conds = []
    for l in (2, 3):
        conds.append(
            f"v{l}.p IS NOT NULL AND (r.bests[r.j + 2 - {l}] * v{l}.p > {{prev_p}}"
            f" OR (r.bests[r.j + 2 - {l}] * v{l}.p = {{prev_p}}"
            f" AND r.ks[r.j + 2 - {l}] + 1 <= {{prev_k}}))"
        )
    p1 = "r.bests[r.j + 1] * v1.p"
    k1 = "r.ks[r.j + 1] + 1"
    p2 = "r.bests[r.j] * v2.p"
    k2 = "r.ks[r.j] + 1"
    p3 = "r.bests[r.j - 1] * v3.p"
    k3 = "r.ks[r.j - 1] + 1"
    c2 = conds[0].format(prev_p=p1, prev_k=k1)
    p12 = f"CASE WHEN {c2} THEN {p2} ELSE {p1} END"
    k12 = f"CASE WHEN {c2} THEN {k2} ELSE {k1} END"
    c3 = conds[1].format(prev_p=p12, prev_k=k12)
    chosen_p = f"CASE WHEN {c3} THEN {p3} ELSE {p12} END"
    chosen_k = f"CASE WHEN {c3} THEN {k3} ELSE {k12} END"

    def back(l: int) -> str:
        return (
            f"k.i >= {l} AND b{l}.p IS NOT NULL"
            f" AND k.bests[k.i + 1 - {l}] * b{l}.p = k.bests[k.i + 1]"
            f" AND k.ks[k.i + 1 - {l}] + 1 = k.ks[k.i + 1]"
        )

    return f"""
{rec} AS (
  SELECT w, f, 0 AS j,
         [1.0]::DOUBLE[] AS bests, [0]::BIGINT[] AS ks
  FROM {words}
  UNION ALL
  SELECT r.w, r.f, r.j + 1,
         r.bests || [{chosen_p}],
         r.ks || [{chosen_k}]
  FROM {rec} r
  LEFT JOIN {vp} v1 ON v1.piece = r.w[r.j + 1 : r.j + 1]
  LEFT JOIN {vp} v2 ON r.j + 1 >= 2 AND v2.piece = r.w[r.j : r.j + 1]
  LEFT JOIN {vp} v3 ON r.j + 1 >= 3 AND v3.piece = r.w[r.j - 1 : r.j + 1]
  WHERE r.j < len(r.w)
), {walk} AS (
  SELECT w, f, len(w) AS i, bests, ks, []::VARCHAR[] AS pieces
  FROM {rec} WHERE j = len(w)
  UNION ALL
  SELECT k.w, k.f,
         k.i - (CASE WHEN {back(3)} THEN 3
                     WHEN {back(2)} THEN 2 ELSE 1 END),
         k.bests, k.ks,
         list_prepend(
           k.w[k.i + 1 - (CASE WHEN {back(3)} THEN 3
                               WHEN {back(2)} THEN 2 ELSE 1 END) : k.i],
           k.pieces)
  FROM {walk} k
  LEFT JOIN {vp} b1 ON k.i >= 1 AND b1.piece = k.w[k.i : k.i]
  LEFT JOIN {vp} b2 ON k.i >= 2 AND b2.piece = k.w[k.i - 1 : k.i]
  LEFT JOIN {vp} b3 ON k.i >= 3 AND b3.piece = k.w[k.i - 2 : k.i]
  WHERE k.i > 0
)"""


def _train_oracle() -> str:
    return f"""
WITH RECURSIVE wf AS ({_WF_SQL}),
pieces AS ({_PIECES_SQL}),
vocab AS ({_VOCAB_SQL}),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS s FROM vocab),
vp AS (
  SELECT piece, CAST(c AS DOUBLE) / (SELECT CAST(s AS DOUBLE) FROM tot) AS p
  FROM vocab
),
{_viterbi_sql("vp", "wf", "rec", "walk")},
em AS (
  SELECT piece, CAST(sum(f) AS BIGINT) AS em_count FROM (
    SELECT unnest(pieces) AS piece, f FROM walk WHERE i = 0
  ) GROUP BY piece
)
SELECT v.piece, CAST(len(v.piece) AS INT) AS piece_len,
       v.c AS seed_count,
       CAST(coalesce(em.em_count, 0) AS BIGINT) AS em_count,
       CAST(row_number() OVER (ORDER BY coalesce(em.em_count, 0) DESC,
                               v.piece) AS INT) AS rnk
FROM vocab v LEFT JOIN em ON v.piece = em.piece
"""


_APPLY_VOCAB_SQL = """
  SELECT v.piece,
         CASE WHEN coalesce(em.em_count, 0) > 0 THEN em.em_count
              ELSE 1 END AS c
  FROM vocab v LEFT JOIN em ON v.piece = em.piece
  WHERE coalesce(em.em_count, 0) > 0 OR len(v.piece) = 1
"""


def _apply_prelude() -> str:
    """Everything through the post-EM apply-probability relation vp2.

    ``em`` and ``vocab2`` are MATERIALIZED: DuckDB 1.0 re-inlines a
    CTE per reference, and every re-evaluation of these two drags the
    whole pass-1 recursive Viterbi DP behind it — materializing them
    cut the roundtrip oracle from ~90 s to ~2 s at sf0.001 (and the
    prune oracle from >6 min to ~2 s), a pure gate-budget win with
    identical results (VERDICT r12 observation #2)."""
    return f"""
WITH RECURSIVE wf AS ({_WF_SQL}),
pieces AS ({_PIECES_SQL}),
vocab AS ({_VOCAB_SQL}),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS s FROM vocab),
vp AS (
  SELECT piece, CAST(c AS DOUBLE) / (SELECT CAST(s AS DOUBLE) FROM tot) AS p
  FROM vocab
),
{_viterbi_sql("vp", "wf", "rec", "walk")},
em AS MATERIALIZED (
  SELECT piece, CAST(sum(f) AS BIGINT) AS em_count FROM (
    SELECT unnest(pieces) AS piece, f FROM walk WHERE i = 0
  ) GROUP BY piece
),
vocab2 AS MATERIALIZED ({_APPLY_VOCAB_SQL}),
tot2 AS (SELECT CAST(sum(c) AS BIGINT) AS s FROM vocab2),
vp2 AS (
  SELECT piece, CAST(c AS DOUBLE) / (SELECT CAST(s AS DOUBLE) FROM tot2) AS p
  FROM vocab2
)"""


def _apply_oracle() -> str:
    return rf"""
{_apply_prelude()},
{_viterbi_sql("vp2", "wf", "rec2", "walk2").lstrip()},
lw AS (
  SELECT lang, w, count(*) AS f FROM (
    SELECT lang, unnest({ws_split_sql('text')}) AS w FROM documents
  ) WHERE len(w) >= 1 AND len(w) <= {UNI_MAX_WORD} GROUP BY lang, w
),
wdk AS (
  SELECT w, len(pieces) AS k FROM walk2 WHERE i = 0
)
SELECT lang,
       CAST(sum(f) AS BIGINT) AS n_words,
       CAST(sum(f * len(w)) AS BIGINT) AS n_chars,
       CAST(sum(f * k) AS BIGINT) AS n_pieces,
       round(CAST(sum(f * k) AS DOUBLE) / sum(f * len(w)), 6)
         AS pieces_per_char
FROM lw JOIN wdk USING (w)
GROUP BY lang
"""


def _roundtrip_oracle() -> str:
    return f"""
{_apply_prelude()},
{_viterbi_sql("vp2", "wf", "rec2", "walk2").lstrip()},
seg AS MATERIALIZED (SELECT w, f, pieces FROM walk2 WHERE i = 0),
used AS (
  SELECT CAST(count(DISTINCT piece) AS BIGINT) AS n_pieces_used FROM (
    SELECT unnest(pieces) AS piece FROM seg
  )
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_distinct_words,
         CAST(coalesce(sum(CASE WHEN list_aggregate(pieces, 'string_agg', '')
                                     IS DISTINCT FROM w THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_bad_roundtrip,
         CAST(coalesce(CAST(sum(CASE WHEN list_aggregate(pieces, 'string_agg', '')
                                          IS DISTINCT FROM w
                                     THEN 1 ELSE 0 END) = 0 AS INT), 1)
              AS INT) AS roundtrip_ok
  FROM seg
),
oovc AS (
  SELECT CAST(count(*) AS BIGINT) AS n_oov
  FROM (SELECT unnest(pieces) AS piece FROM seg) s
  LEFT JOIN vocab2 v USING (piece)
  WHERE v.piece IS NULL
)
SELECT n_distinct_words, n_bad_roundtrip, roundtrip_ok,
       CAST(n_oov = 0 AS INT) AS all_pieces_in_vocab,
       n_pieces_used
FROM stats CROSS JOIN oovc CROSS JOIN used
"""


def _prune_oracle() -> str:
    """Prune-turn oracle: the _apply_prelude (seed → EM-1 → apply
    vocabulary) plus the pruned vocabulary vocab3, its renormalized
    probabilities vp3, and a second recursive-CTE Viterbi pass — the
    same two-DP-pass cost class as the apply/roundtrip oracles
    (~2-3 min at sf0.01 each, documented in BASELINE.md's gate-budget
    note)."""
    return f"""
{_apply_prelude()},
vocab3 AS MATERIALIZED (
  SELECT piece, c FROM vocab2 WHERE len(piece) = 1
  UNION ALL
  SELECT piece, c FROM (
    SELECT piece, c, row_number() OVER (ORDER BY c DESC, piece) AS rnk
    FROM vocab2 WHERE len(piece) >= 2
  ) WHERE rnk <= {UNI_PRUNE_KEEP_MULTI}
),
tot3 AS (SELECT CAST(sum(c) AS BIGINT) AS s FROM vocab3),
vp3 AS (
  SELECT piece, CAST(c AS DOUBLE) / (SELECT CAST(s AS DOUBLE) FROM tot3) AS p
  FROM vocab3
),
{_viterbi_sql("vp3", "wf", "rec3", "walk3").lstrip()},
seg AS MATERIALIZED (SELECT w, f, pieces FROM walk3 WHERE i = 0),
vc AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM vocab2) AS n_vocab_before,
         (SELECT CAST(count(*) AS BIGINT) FROM vocab3) AS n_vocab_after
),
emt AS (
  SELECT CAST(coalesce(sum(em_count), 0) AS BIGINT) AS n_pieces_em1 FROM em
),
segstats AS (
  SELECT CAST(coalesce(sum(f * len(pieces)), 0) AS BIGINT) AS n_pieces_em2,
         CAST(coalesce(CAST(sum(CASE WHEN list_aggregate(pieces,
                                        'string_agg', '')
                                       IS DISTINCT FROM w
                                  THEN 1 ELSE 0 END) = 0 AS INT), 1)
              AS INT) AS coverage_ok
  FROM seg
),
surv AS (
  SELECT CAST(count(DISTINCT piece) AS BIGINT) AS n_em2_survivors
  FROM (SELECT unnest(pieces) AS piece FROM seg)
)
SELECT n_vocab_before, n_vocab_after,
       n_vocab_before - n_vocab_after AS n_pruned,
       n_pieces_em1, n_pieces_em2,
       n_pieces_em2 - n_pieces_em1 AS pieces_delta,
       n_em2_survivors, coverage_ok
FROM vc CROSS JOIN emt CROSS JOIN segstats CROSS JOIN surv
"""


def _converge_oracle() -> str:
    """Two prune turns = THREE recursive-CTE Viterbi passes (EM-1 via
    the prelude, then walk3/walk4), every multi-consumer stage
    MATERIALIZED — the family's documented gate-cost class."""
    return f"""
{_apply_prelude()},
vocab3 AS MATERIALIZED (
  SELECT piece, c FROM vocab2 WHERE len(piece) = 1
  UNION ALL
  SELECT piece, c FROM (
    SELECT piece, c, row_number() OVER (ORDER BY c DESC, piece) AS rnk
    FROM vocab2 WHERE len(piece) >= 2
  ) WHERE rnk <= {UNI_PRUNE_KEEP_MULTI}
),
tot3 AS (SELECT CAST(sum(c) AS BIGINT) AS s FROM vocab3),
vp3 AS (
  SELECT piece, CAST(c AS DOUBLE) / (SELECT CAST(s AS DOUBLE) FROM tot3) AS p
  FROM vocab3
),
{_viterbi_sql("vp3", "wf", "rec3", "walk3").lstrip()},
seg3 AS MATERIALIZED (SELECT w, f, pieces FROM walk3 WHERE i = 0),
em3 AS MATERIALIZED (
  SELECT piece, CAST(sum(f) AS BIGINT) AS c FROM (
    SELECT unnest(pieces) AS piece, f FROM seg3
  ) GROUP BY piece
),
vocab3a AS (
  SELECT v.piece, CASE WHEN coalesce(e.c, 0) > 0 THEN e.c ELSE 1 END AS c
  FROM vocab3 v LEFT JOIN em3 e USING (piece)
  WHERE coalesce(e.c, 0) > 0 OR len(v.piece) = 1
),
vocab4 AS MATERIALIZED (
  SELECT piece, c FROM vocab3a WHERE len(piece) = 1
  UNION ALL
  SELECT piece, c FROM (
    SELECT piece, c, row_number() OVER (ORDER BY c DESC, piece) AS rnk
    FROM vocab3a WHERE len(piece) >= 2
  ) WHERE rnk <= {UNI_CONVERGE_KEEP2}
),
tot4 AS (SELECT CAST(sum(c) AS BIGINT) AS s FROM vocab4),
vp4 AS (
  SELECT piece, CAST(c AS DOUBLE) / (SELECT CAST(s AS DOUBLE) FROM tot4) AS p
  FROM vocab4
),
{_viterbi_sql("vp4", "wf", "rec4", "walk4").lstrip()},
seg4 AS MATERIALIZED (SELECT w, f, pieces FROM walk4 WHERE i = 0),
vc AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM vocab2) AS n_vocab_t0,
         (SELECT CAST(count(*) AS BIGINT) FROM vocab3) AS n_vocab_t1,
         (SELECT CAST(count(*) AS BIGINT) FROM vocab4) AS n_vocab_t2
),
emt AS (
  SELECT CAST(coalesce(sum(em_count), 0) AS BIGINT) AS n_pieces_em1 FROM em
),
s3 AS (
  SELECT CAST(coalesce(sum(f * len(pieces)), 0) AS BIGINT) AS n_pieces_t1,
         CAST(coalesce(CAST(sum(CASE WHEN list_aggregate(pieces,
                                        'string_agg', '')
                                       IS DISTINCT FROM w
                                  THEN 1 ELSE 0 END) = 0 AS INT), 1)
              AS INT) AS cov1
  FROM seg3
),
s4 AS (
  SELECT CAST(coalesce(sum(f * len(pieces)), 0) AS BIGINT) AS n_pieces_t2,
         CAST(coalesce(CAST(sum(CASE WHEN list_aggregate(pieces,
                                        'string_agg', '')
                                       IS DISTINCT FROM w
                                  THEN 1 ELSE 0 END) = 0 AS INT), 1)
              AS INT) AS cov2
  FROM seg4
),
surv AS (
  SELECT CAST(count(DISTINCT piece) AS BIGINT) AS n_survivors_t2
  FROM (SELECT unnest(pieces) AS piece FROM seg4)
)
SELECT n_vocab_t0, n_vocab_t1, n_vocab_t2,
       n_pieces_em1, n_pieces_t1, n_pieces_t2,
       n_pieces_t1 - n_pieces_em1 AS delta_t1,
       n_pieces_t2 - n_pieces_t1 AS delta_t2,
       n_survivors_t2,
       cov1 * cov2 AS coverage_ok,
       CAST((n_vocab_t0 > n_vocab_t1 AND n_vocab_t1 > n_vocab_t2)
            OR n_vocab_t0 = 0 AS INT) AS vocab_monotone,
       CAST(n_pieces_t1 >= n_pieces_em1
            AND n_pieces_t2 >= n_pieces_t1 AS INT) AS pieces_nondecreasing
FROM vc CROSS JOIN emt CROSS JOIN s3 CROSS JOIN s4 CROSS JOIN surv
"""


QUERY_DEFS = [
    QueryDef("corpus_unigram_train", corpus_unigram_train, _train_oracle()),
    QueryDef("corpus_unigram_apply", corpus_unigram_apply, _apply_oracle()),
    QueryDef(
        "corpus_unigram_roundtrip", corpus_unigram_roundtrip, _roundtrip_oracle()
    ),
    QueryDef("corpus_unigram_prune", corpus_unigram_prune, _prune_oracle()),
    QueryDef(
        "corpus_unigram_converge", corpus_unigram_converge, _converge_oracle()
    ),
]
