"""Independent (non-DuckDB) invariant checks for the round-4 rewritten
operators: the block-pair embedding dedup must equal a direct in-memory
brute force, and per-domain quota caps must respect their accounting
identities. These catch decomposition bugs the oracle can also catch,
but from a second, independently-derived reference."""

from __future__ import annotations

import numpy as np
import pytest

from ai_data_pipeline_spark.catalog import load_table
from ai_data_pipeline_spark.operators.corpus import DOMAIN_CAP_DOCS, corpus_domain_caps
from ai_data_pipeline_spark.operators.similarity import (
    EMB_DIM,
    NEAR_DUP_COS,
    dedup_embedding_cosine,
)
from tests.conftest import SF_DIR


def _brute_force_pairs(spark):
    """All (a < b, cosine >= cut) pairs via one driver-side numpy pass —
    the reference implementation the distributed block join must match."""
    rows = (
        load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    mat = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    norms = np.zeros(len(rows))
    acc = np.zeros(len(rows))
    for i in range(EMB_DIM):
        acc = acc + mat[:, i] * mat[:, i]
    norms = np.sqrt(acc)
    out = set()
    for a in range(len(rows)):
        dot = np.zeros(len(rows))
        for i in range(EMB_DIM):
            dot = dot + mat[a, i] * mat[:, i]
        cos = dot / (norms[a] * norms)
        for b in np.nonzero(np.round(cos, 6) >= NEAR_DUP_COS)[0]:
            if ids[a] < ids[b]:
                out.add((int(ids[a]), int(ids[b])))
    return out


def test_block_pair_dedup_equals_brute_force(spark):
    got = {
        (r["vec_a"], r["vec_b"])
        for r in dedup_embedding_cosine(spark, SF_DIR).collect()
    }
    want = _brute_force_pairs(spark)
    assert got == want


def test_block_pair_dedup_emits_each_pair_once(spark):
    rows = dedup_embedding_cosine(spark, SF_DIR).collect()
    pairs = [(r["vec_a"], r["vec_b"]) for r in rows]
    assert len(pairs) == len(set(pairs))
    assert all(a < b for a, b in pairs)


def test_domain_caps_accounting_identities(spark):
    rows = corpus_domain_caps(spark, SF_DIR).collect()
    assert rows, "at least one source expected"
    for r in rows:
        assert r["n_kept"] + r["n_dropped"] == r["n_docs"]
        assert r["n_kept"] <= DOMAIN_CAP_DOCS
        # a source under the cap keeps everything
        if r["n_docs"] <= DOMAIN_CAP_DOCS:
            assert r["n_dropped"] == 0
        assert r["kept_tokens"] >= 0
        if r["n_kept"] > 0:
            assert r["min_kept_doc_id"] <= r["max_kept_doc_id"]


def test_domain_caps_deterministic_across_runs(spark):
    a = sorted(map(tuple, corpus_domain_caps(spark, SF_DIR).collect()))
    b = sorted(map(tuple, corpus_domain_caps(spark, SF_DIR).collect()))
    assert a == b


if __name__ == "__main__":
    pytest.main([__file__, "-q"])


# ---- exactness bounds for the four rows-only (sketch-tier) queries ----
# They have no DuckDB oracle by design; these tests pin their estimates
# to the exact twins so "rows-only" still carries quantitative evidence.


def test_hll_daily_users_within_5pct_of_exact(spark):
    from ai_data_pipeline_spark.operators.temporal import (
        q_daily_distinct_users,
        q_daily_users_hll,
    )

    exact = {
        r["day"]: r["daily_users"]
        for r in q_daily_distinct_users(spark, SF_DIR).collect()
    }
    rows = q_daily_users_hll(spark, SF_DIR).collect()
    got = {r["day"]: r["daily_users"] for r in rows}
    # the exact column must agree with the independent exact query,
    # and the 3σ tolerance flag (the oracle's contract since r10) must
    # hold on every day — HLL++ is exact below its sparse cutoff and
    # within 6%+2 beyond it at rsd=0.02
    assert got == exact
    assert all(r["est_within_tol"] == 1 for r in rows)


def test_percentile_approx_within_rank_tolerance(spark):
    """The per-group rank audit (oracle contract since r10) must report
    every (group, percentile) inside the sketch's guarantee, with the
    row counts and target ranks matching an exact Python recompute."""
    from ai_data_pipeline_spark.operators.analytic import q_percentiles_approx

    l = load_table(spark, SF_DIR, "lineitem")
    sizes = {}
    for v in l.select("l_returnflag").collect():
        sizes[v["l_returnflag"]] = sizes.get(v["l_returnflag"], 0) + 1
    rows = q_percentiles_approx(spark, SF_DIR).collect()
    assert len(rows) == 2 * len(sizes)  # (group, q_pct) grid complete
    for r in rows:
        n = sizes[r["l_returnflag"]]
        assert r["n_rows"] == n
        assert r["target_rank"] == (r["q_pct"] * n + 99) // 100
        assert r["sketch_rank_ok"] == 1, (r["l_returnflag"], r["q_pct"])


def test_profile_approx_distinct_within_5pct_of_exact(spark):
    from ai_data_pipeline_spark.catalog import TABLES
    from ai_data_pipeline_spark.profiling.profiler import profile_table

    df = load_table(spark, SF_DIR, "lineitem")
    exact = {
        r["column_name"]: r["unique_count"]
        for r in profile_table(df, TABLES["lineitem"]).collect()
    }
    approx = {
        r["column_name"]: r["unique_count"]
        for r in profile_table(df, TABLES["lineitem"], exact_distinct=False).collect()
    }
    assert set(approx) == set(exact)
    for col, n in exact.items():
        assert abs(approx[col] - n) <= max(1, 0.05 * n), (col, approx[col], n)


def test_brp_lsh_pairs_are_true_near_pairs(spark):
    """MLlib BRP-LSH has approximate RECALL but exact reported
    distances and an exact threshold filter: every emitted pair must be
    a true pair within the Euclidean threshold, with the distance equal
    to the directly-computed one."""
    from ai_data_pipeline_spark.operators.similarity import ann_mllib_brp

    got = ann_mllib_brp(spark, SF_DIR).collect()
    assert got, "LSH join returned no candidate pairs at test scale"
    rows = (
        load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in rows
    }
    for r in got:
        d = float(np.linalg.norm(vecs[r["q_id"]] - vecs[r["vec_id"]]))
        assert r["dist"] <= 12.0 + 1e-6
        assert abs(r["dist"] - round(d, 6)) <= 2e-6, (r, d)


# ---- round-5 operator invariants (independent of the DuckDB oracle) ----


def test_ann_rerank_scores_are_exact_and_bounded(spark):
    """Two-stage retrieval may miss candidates (approximate recall) but
    must never fabricate scores: every emitted cosine equals the
    directly-computed exact cosine for that pair, ranks are within
    TOP_K, and candidate counts never exceed the corpus size."""
    from ai_data_pipeline_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
        ann_rerank,
    )

    rows = ann_rerank(spark, SF_DIR).collect()
    assert rows, "multi-probe LSH returned no candidates at test scale"
    emb = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }
    n_corpus = sum(1 for v in emb if v >= N_QUERIES)

    def cos(a, b):
        # sequential fold, same op order as the kernel
        acc = na = nb = 0.0
        for i in range(len(a)):
            acc += a[i] * b[i]
            na += a[i] * a[i]
            nb += b[i] * b[i]
        return acc / (na**0.5 * nb**0.5)

    for r in rows:
        assert 1 <= r["rk"] <= TOP_K
        assert 1 <= r["n_cand"] <= n_corpus
        want = round(cos(emb[r["q_id"]], emb[r["vec_id"]]), 6)
        assert abs(r["cosine"] - want) <= 1e-6, (r, want)


def test_image_phash_matches_direct_computation(spark):
    """The 16-bit signature and total must equal a direct numpy
    recomputation from the raw bytes (crop/pad to 64x64, 4x4 tiles,
    bit j set iff tile_sum*16 > total_sum)."""
    from ai_data_pipeline_spark.operators.multimodal import (
        IMG_H,
        IMG_W,
        TILE_GRID,
        image_phash,
    )

    got = {r["doc_id"]: r for r in image_phash(spark, SF_DIR).collect()}
    docs = (
        load_table(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    )
    assert set(got) == {r["doc_id"] for r in docs}
    n_px = IMG_W * IMG_H
    th, tw = IMG_H // TILE_GRID, IMG_W // TILE_GRID
    for r in docs:
        a = np.frombuffer(r["text"].encode()[:n_px], dtype=np.uint8).astype(
            np.int64
        )
        if len(a) < n_px:
            a = np.pad(a, (0, n_px - len(a)))
        sums = (
            a.reshape(IMG_H, IMG_W)
            .reshape(TILE_GRID, th, TILE_GRID, tw)
            .sum(axis=(1, 3))
            .reshape(-1)
        )
        total = int(sums.sum())
        phash = sum(
            1 << j
            for j in range(TILE_GRID * TILE_GRID)
            if int(sums[j]) * TILE_GRID * TILE_GRID > total
        )
        row = got[r["doc_id"]]
        assert row["total_sum"] == total
        assert row["phash"] == phash
        assert 0 <= row["phash"] < (1 << TILE_GRID * TILE_GRID)


def test_semdedup_matches_brute_force_recompute(spark):
    """dedup_semantic's keep/drop decisions must equal a driver-side
    numpy recomputation of the full SemDeDup rule: nearest-centroid
    assignment (fold-order cosine, cell-id tiebreak) then min-lower-id
    keeper among in-cell neighbors at >= SEMDEDUP_COS."""
    from ai_data_pipeline_spark.operators.similarity import (
        N_CELLS,
        N_QUERIES,
        SEMDEDUP_COS,
        dedup_semantic,
    )

    rows = (
        load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    mat = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])

    def fold_dot(A, B):
        acc = np.zeros(A.shape[0])
        for i in range(EMB_DIM):
            acc = acc + A[:, i] * B[:, i]
        return acc

    norms = np.sqrt(fold_dot(mat, mat))
    cent_idx = [
        int(np.nonzero(ids == cid)[0][0])
        for cid in range(N_QUERIES, N_QUERIES + N_CELLS)
    ]
    # nearest centroid per vector (cos desc, cell_id asc)
    best_cell = {}
    for v in range(len(ids)):
        scored = []
        for ci in cent_idx:
            cos = float(
                fold_dot(mat[v : v + 1], mat[ci : ci + 1])[0]
                / (norms[v] * norms[ci])
            )
            scored.append((-cos, ids[ci]))
        best_cell[int(ids[v])] = int(min(scored)[1])
    expect = {}
    for v in range(len(ids)):
        vid = int(ids[v])
        lowers = [
            int(ids[u])
            for u in range(len(ids))
            if ids[u] < ids[v]
            and best_cell[int(ids[u])] == best_cell[vid]
            and round(
                float(
                    fold_dot(mat[v : v + 1], mat[u : u + 1])[0]
                    / (norms[v] * norms[u])
                ),
                6,
            )
            >= SEMDEDUP_COS
        ]
        expect[vid] = (
            best_cell[vid],
            not lowers,
            min(lowers) if lowers else None,
            len(lowers),
        )
    got = {
        r["vec_id"]: (r["cell_id"], r["kept"], r["keeper_id"], r["n_dup_lower"])
        for r in dedup_semantic(spark, SF_DIR).collect()
    }
    assert got == expect


def test_phash_pairs_banding_is_lossless_and_exact(spark):
    """The banded candidate join must achieve FULL recall at the
    Hamming threshold (pigeonhole guarantee: 4 bands, distance <= 3),
    and every emitted hamming must equal the popcount of the xor of the
    independently recomputed signatures."""
    from ai_data_pipeline_spark.operators.multimodal import (
        PHASH_HAM_MAX,
        SEG_BITS,
        image_phash_pairs,
    )

    docs = (
        load_table(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    )
    sig = {}
    for r in docs:
        a = np.frombuffer(r["text"].encode("utf-8"), dtype=np.uint8).astype(
            np.int64
        )
        n = len(a)
        segs = np.zeros(SEG_BITS, dtype=np.int64)
        for pos in range(n):
            segs[pos * SEG_BITS // n] += int(a[pos])
        total = int(a.sum())
        sig[r["doc_id"]] = int(
            sum(1 << j for j in range(SEG_BITS) if segs[j] * SEG_BITS > total)
        )
    expect = {
        (a, b): bin(sig[a] ^ sig[b]).count("1")
        for a in sig
        for b in sig
        if a < b and bin(sig[a] ^ sig[b]).count("1") <= PHASH_HAM_MAX
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in image_phash_pairs(spark, SF_DIR).collect()
    }
    assert got == expect


def test_boilerplate_fractions_recompute(spark):
    """Per-doc boilerplate fractions must equal a pure-Python counter
    recomputation of the df-threshold rule."""
    from collections import Counter, defaultdict

    from ai_data_pipeline_spark.operators.corpus import (
        BOILER_DEN,
        BOILER_N,
        BOILER_NUM,
        corpus_boilerplate_ngrams,
    )

    docs = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "source", "text")
        .collect()
    )
    import re

    grams = {}
    src_docs = Counter()
    for r in docs:
        toks = re.split(r"\s+", r["text"])
        gs = [
            " ".join(toks[i : i + BOILER_N])
            for i in range(max(len(toks) - BOILER_N + 1, 1))
        ]
        grams[r["doc_id"]] = (r["source"], Counter(gs))
        src_docs[r["source"]] += 1
    df = defaultdict(Counter)
    for src, ctr in grams.values():
        for g in ctr:
            df[src][g] += 1
    boiler = {
        (src, g)
        for src in df
        for g, d in df[src].items()
        if d * BOILER_DEN >= src_docs[src] * BOILER_NUM
    }
    got = {
        r["doc_id"]: (
            r["source"],
            r["n_grams"],
            r["n_boiler"],
            r["flag_boilerplate"],
        )
        for r in corpus_boilerplate_ngrams(spark, SF_DIR).collect()
    }
    assert set(got) == set(grams)
    for doc_id, (src, ctr) in grams.items():
        n_grams = sum(ctr.values())
        n_boiler = sum(c for g, c in ctr.items() if (src, g) in boiler)
        flag = int(n_boiler * BOILER_DEN >= n_grams * BOILER_NUM)
        assert got[doc_id] == (src, n_grams, n_boiler, flag), doc_id


def test_temperature_mix_fixed_point_identities(spark):
    """sqrt_fp must be the floor of sqrt in micro-units (checked by
    exact integer squaring), shares must sum to <= 1e6 and be within
    n_sources ppm of it (floor rounding), planned tokens <= budget."""
    from ai_data_pipeline_spark.operators.corpus import (
        MIX_BUDGET_TOKENS,
        corpus_temperature_mix,
    )

    rows = corpus_temperature_mix(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        fp = r["sqrt_fp"]
        # (fp/1e6)^2 <= n_tokens < ((fp+1)/1e6)^2, modulo the one-ulp
        # double multiply — allow the boundary by testing integers
        assert fp * fp <= r["n_tokens"] * 10**12 < (fp + 2) * (fp + 2)
    total_ppm = sum(r["share_ppm"] for r in rows)
    assert 10**6 - len(rows) <= total_ppm <= 10**6
    assert sum(r["planned_tokens"] for r in rows) <= MIX_BUDGET_TOKENS


def test_random_projection_matches_numpy(spark):
    """Every projected value must equal a direct numpy recomputation:
    floor(x*1e6) fixed-point vectors times the deterministic ±1 sign
    matrix."""
    import math

    from ai_data_pipeline_spark.operators.similarity import (
        _RP_SIGNS,
        RP_DIM,
        emb_random_projection,
    )

    emb = {
        r["vec_id"]: [int(math.floor(float(x) * 1_000_000)) for x in r["embedding"]]
        for r in load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }
    got = {
        (r["vec_id"], r["out_dim"]): r["proj_fp"]
        for r in emb_random_projection(spark, SF_DIR).collect()
    }
    assert len(got) == len(emb) * RP_DIM
    for (vid, j), proj in got.items():
        want = sum(s * x for s, x in zip(_RP_SIGNS[j], emb[vid]))
        assert proj == want, (vid, j, proj, want)


def test_pq_encode_matches_numpy_argmin(spark):
    """Every (vector, subspace) code must be the true integer-L2 argmin
    over the deterministic codebook (ties to the lowest code), and the
    reported distortion the true minimum."""
    import math

    from ai_data_pipeline_spark.operators.similarity import (
        N_QUERIES,
        PQ_K,
        PQ_M,
        PQ_SUB,
        emb_pq_encode,
    )

    emb = {
        r["vec_id"]: [int(math.floor(float(x) * 1_000_000)) for x in r["embedding"]]
        for r in load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }
    sub = lambda v, m: v[m * PQ_SUB : (m + 1) * PQ_SUB]  # noqa: E731
    book = {
        (m, c): sub(emb[N_QUERIES + c], m)
        for c in range(PQ_K)
        for m in range(PQ_M)
    }
    got = {
        (r["vec_id"], r["m"]): (r["code"], r["dist_fp"])
        for r in emb_pq_encode(spark, SF_DIR).collect()
    }
    assert len(got) == len(emb) * PQ_M
    for (vid, m), (code, dist) in got.items():
        dists = [
            sum((a - b) * (a - b) for a, b in zip(sub(emb[vid], m), book[(m, c)]))
            for c in range(PQ_K)
        ]
        best = min(dists)
        assert dist == best, (vid, m)
        assert code == dists.index(best), (vid, m)  # index() is first-min = lowest code


def test_sentence_dedup_direct_recompute(spark):
    """Per-doc sentence totals and duplicate counts must equal a direct
    Python recomputation (split, normalize, global doc-frequency)."""
    import re
    from collections import Counter

    from ai_data_pipeline_spark.operators.dedup import (
        SENT_MIN_CHARS,
        dedup_sentences,
    )

    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .collect()
    }
    per_doc = {
        did: {
            s.lower().strip()
            for s in re.split(r"\.\s+", text)
            if len(s.lower().strip()) >= SENT_MIN_CHARS
        }
        for did, text in docs.items()
    }
    df = Counter(s for sents in per_doc.values() for s in sents)
    got = {
        r["doc_id"]: (r["n_sents"], r["n_dup_sents"])
        for r in dedup_sentences(spark, SF_DIR).collect()
    }
    want_docs = {d for d, sents in per_doc.items() if sents}
    assert set(got) == want_docs
    for did in want_docs:
        n_dup = sum(1 for s in per_doc[did] if df[s] > 1)
        assert got[did] == (len(per_doc[did]), n_dup), did


def test_incremental_dedup_decisions(spark):
    """Keep/drop decisions must equal a direct recomputation: a batch
    doc is kept iff its normalized text has no base twin and it is the
    lowest-id batch holder of that content."""
    from collections import Counter

    from ai_data_pipeline_spark.operators.dedup import (
        INCR_BATCH_MOD,
        dedup_incremental,
    )

    rows = (
        load_table(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    )
    norm = {r["doc_id"]: r["text"].lower().strip() for r in rows}
    batch = {d: t for d, t in norm.items() if d % INCR_BATCH_MOD == 0}
    base_counts = Counter(
        t for d, t in norm.items() if d % INCR_BATCH_MOD != 0
    )
    first_batch = {}
    for d in sorted(batch):
        first_batch.setdefault(batch[d], d)
    got = {
        r["doc_id"]: (r["n_base_dups"], r["dup_within_batch"], r["keep"])
        for r in dedup_incremental(spark, SF_DIR).collect()
    }
    assert set(got) == set(batch)
    for d, t in batch.items():
        want = (
            base_counts[t],
            int(d > first_batch[t]),
            int(base_counts[t] == 0 and d == first_batch[t]),
        )
        assert got[d] == want, d


def test_encoding_audit_direct_recompute(spark):
    """Slice counters must equal a direct Python recomputation over the
    raw text (codepoint-level)."""
    from ai_data_pipeline_spark.operators.text import (
        MOJI_NONASCII_DEN,
        MOJI_NONASCII_NUM,
        encoding_audit,
    )

    rows = (
        load_table(spark, SF_DIR, "documents")
        .select("lang", "source", "text")
        .collect()
    )
    agg = {}
    for r in rows:
        t = r["text"]
        n_repl = t.count("�")
        n_ctrl = sum(
            1 for ch in t if ord(ch) < 0x20 and ch not in ("\t", "\n", "\r")
        )
        n_na = sum(1 for ch in t if ord(ch) > 0x7F)
        key = (r["lang"], r["source"])
        a = agg.setdefault(key, [0, 0, 0, 0, 0, 0, 0])
        a[0] += 1
        a[1] += n_repl
        a[2] += n_ctrl
        a[3] += n_na
        a[4] += int(n_repl > 0)
        a[5] += int(n_ctrl > 0)
        a[6] += int(n_na * MOJI_NONASCII_DEN > len(t) * MOJI_NONASCII_NUM)
    got = {
        (r["lang"], r["source"]): [
            r["n_docs"],
            r["sum_repl_chars"],
            r["sum_ctrl_chars"],
            r["sum_nonascii_chars"],
            r["n_docs_repl"],
            r["n_docs_ctrl"],
            r["n_docs_high_nonascii"],
        ]
        for r in encoding_audit(spark, SF_DIR).collect()
    }
    assert got == agg


def test_ivf_pq_matches_full_python_recompute(spark):
    """End-to-end IVF-PQ recompute in pure Python: cell assignment,
    PQ codes, probe lists, ADC scores, shortlist, exact re-rank — every
    emitted row (both distances and the rank) must match."""
    import math

    from ai_data_pipeline_spark.operators.similarity import (
        IVFPQ_RERANK,
        N_CELLS,
        N_PROBE,
        N_QUERIES,
        PQ_K,
        PQ_M,
        PQ_SUB,
        TOP_K,
        ann_ivf_pq,
    )

    emb = {
        r["vec_id"]: [int(math.floor(float(x) * 1_000_000)) for x in r["embedding"]]
        for r in load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }
    l2 = lambda a, b: sum((x - y) * (x - y) for x, y in zip(a, b))  # noqa: E731
    sub = lambda v, m: v[m * PQ_SUB : (m + 1) * PQ_SUB]  # noqa: E731
    cents = {c: emb[N_QUERIES + c] for c in range(N_CELLS)}
    book = {
        (m, c): sub(emb[N_QUERIES + c], m)
        for c in range(PQ_K)
        for m in range(PQ_M)
    }
    corpus = [v for v in emb if v >= N_QUERIES]
    qids = [v for v in emb if v < N_QUERIES]
    assigned = {
        vid: min(cents, key=lambda c: (l2(emb[vid], cents[c]), c))
        for vid in corpus
    }
    codes = {
        (vid, m): min(
            range(PQ_K), key=lambda c: (l2(sub(emb[vid], m), book[(m, c)]), c)
        )
        for vid in corpus
        for m in range(PQ_M)
    }
    want = {}
    for q in qids:
        probed = sorted(cents, key=lambda c: (l2(emb[q], cents[c]), c))[:N_PROBE]
        cand = [v for v in corpus if assigned[v] in probed]
        approx = {
            v: sum(l2(sub(emb[q], m), book[(m, codes[(v, m)])]) for m in range(PQ_M))
            for v in cand
        }
        short = sorted(cand, key=lambda v: (approx[v], v))[:IVFPQ_RERANK]
        ranked = sorted(short, key=lambda v: (l2(emb[q], emb[v]), v))[:TOP_K]
        for rk, v in enumerate(ranked, 1):
            want[(q, v)] = (approx[v], l2(emb[q], emb[v]), rk)
    got = {
        (r["q_id"], r["vec_id"]): (r["approx_dist_fp"], r["exact_dist_fp"], r["rk"])
        for r in ann_ivf_pq(spark, SF_DIR).collect()
    }
    assert got == want


def test_cdc_apply_decisions_match_python(spark):
    """Full CDC apply recompute in Python: latest-seq-wins per key,
    deletes removed, inserts added, updates overwrite."""
    from ai_data_pipeline_spark.operators.maintenance import (
        UPSERT_NEW_KEY_OFFSET,
        q_cdc_apply,
    )

    base = {
        r["o_orderkey"]: r["o_totalprice"]
        for r in load_table(spark, SF_DIR, "orders")
        .select("o_orderkey", "o_totalprice")
        .collect()
    }
    # change log: (key -> (seq, op, price)), max seq wins
    log = {}
    for k, p in base.items():
        if k % 7 == 0:
            log[k] = (1, "U", p + 10)
        if k % 21 == 0:
            log[k] = (2, "D", None)
        if k % 11 == 0:
            log[k + UPSERT_NEW_KEY_OFFSET] = (1, "I", p)
    want = {}
    for k, p in base.items():
        seq_op = log.get(k)
        if seq_op is None:
            want[k] = (p, "-")
        elif seq_op[1] != "D":
            want[k] = (seq_op[2], seq_op[1])
    for k, (seq, op, p) in log.items():
        if k not in base and op != "D":
            want[k] = (p, op)
    got = {
        r["o_orderkey"]: (r["o_totalprice"], r["last_op"])
        for r in q_cdc_apply(spark, SF_DIR).collect()
    }
    assert got == want


def test_interval_sweep_matches_python(spark):
    """Daily in-flight counts must equal a direct Python sweep over the
    joined (order date, ship date) intervals."""
    from collections import Counter

    from ai_data_pipeline_spark.operators.temporal import q_interval_sweep

    import datetime as dt

    l = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_shipdate").collect()
    o = {
        r["o_orderkey"]: r["o_orderdate"]
        for r in load_table(spark, SF_DIR, "orders")
        .select("o_orderkey", "o_orderdate")
        .collect()
    }
    starts, ends = Counter(), Counter()
    for r in l:
        starts[o[r["l_orderkey"]].date()] += 1
        ends[r["l_shipdate"].date() + dt.timedelta(days=1)] += 1
    days = sorted(set(starts) | set(ends))
    got = {
        r["d"]: (r["n_start"], r["n_end"], r["in_flight"])
        for r in q_interval_sweep(spark, SF_DIR).collect()
    }
    assert set(got) == set(days)
    run = 0
    for d in days:
        run += starts[d] - ends[d]
        assert got[d] == (starts[d], ends[d], run), d


def test_minhash_estimate_matches_python(spark):
    """Every audited pair's slice-match count, estimate, exact Jaccard,
    and error must equal a direct Python recomputation from the raw
    text (trigram shingles, double-md5 signature slices)."""
    import hashlib

    from ai_data_pipeline_spark.operators.dedup import (
        MINHASH_BAND_R,
        MINHASH_K,
        dedup_minhash_estimate,
    )

    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .collect()
    }

    def shingles(text):
        toks = [t for t in __import__("re").split(r"\s+", text)]
        n = max(len(toks) - 2, 1)
        return {" ".join(toks[i : i + 3]) for i in range(n)}

    def sig(ss):
        hh = [
            hashlib.md5(("0|" + s).encode()).hexdigest()
            + hashlib.md5(("1|" + s).encode()).hexdigest()
            for s in ss
        ]
        return [min(h[5 * j : 5 * j + 5] for h in hh) for j in range(MINHASH_K)]

    sh = {d: shingles(t) for d, t in docs.items()}
    sg = {d: sig(s) for d, s in sh.items() if s}
    rows = dedup_minhash_estimate(spark, SF_DIR).collect()
    assert rows
    n_bands = MINHASH_K // MINHASH_BAND_R
    for r in rows:
        a, b = r["doc_a"], r["doc_b"]
        k = sum(1 for j in range(MINHASH_K) if sg[a][j] == sg[b][j])
        inter = len(sh[a] & sh[b])
        un = len(sh[a] | sh[b])
        assert r["k_match"] == k, (a, b)
        assert r["est_ppm"] == k * 1_000_000 // MINHASH_K
        assert r["exact_ppm"] == inter * 1_000_000 // un
        assert r["err_ppm"] == abs(r["est_ppm"] - r["exact_ppm"])
        # candidates share a band -> at least one full band of slices match
        assert any(
            all(sg[a][bb * MINHASH_BAND_R + j] == sg[b][bb * MINHASH_BAND_R + j]
                for j in range(MINHASH_BAND_R))
            for bb in range(n_bands)
        )


def test_readability_matches_python(spark):
    """Flesch fixed-point scores must equal a direct Python recompute
    (alpha-run words, terminator-run sentences, vowel-group syllables,
    truncating division)."""
    import re

    from ai_data_pipeline_spark.operators.text import text_readability

    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .collect()
    }
    got = {r["doc_id"]: r for r in text_readability(spark, SF_DIR).collect()}
    want_ids = {
        d for d, t in docs.items() if re.findall(r"[a-z]+", t.lower())
    }
    assert set(got) == want_ids
    for d in want_ids:
        t = docs[d]
        nw = len(re.findall(r"[a-z]+", t.lower()))
        ns = max(len(re.findall(r"[.!?]+", t)), 1)
        sy = len(re.findall(r"[aeiou]+", t.lower()))
        wps, spw = nw * 1000 // ns, sy * 1000 // nw
        fl = 206_835_000 - 1015 * wps - 84_600 * spw
        band = "easy" if fl >= 60_000_000 else ("medium" if fl >= 30_000_000 else "hard")
        r = got[d]
        assert (
            r["n_words"], r["n_sents"], r["n_syll"], r["wps_milli"],
            r["spw_milli"], r["flesch_fp"], r["band"],
        ) == (nw, ns, sy, wps, spw, fl, band), d


def test_join_fanout_estimate_equals_actual_join_count(spark):
    """The guard's cardinality formula must be EXACT: for every edge,
    est_join_rows equals the row count of actually executing the join
    (the thing the guard exists to avoid doing at scale)."""
    from ai_data_pipeline_spark.operators.quality import (
        FANOUT_EDGES,
        dq_join_fanout_guard,
    )

    from pyspark.sql import functions as F

    got = {
        r["edge"]: r for r in dq_join_fanout_guard(spark, SF_DIR).collect()
    }
    assert len(got) == len(FANOUT_EDGES)
    for lt, lk, rt, rk in FANOUT_EDGES:
        l = load_table(spark, SF_DIR, lt).select(F.col(lk).alias("k"))
        r = load_table(spark, SF_DIR, rt).select(F.col(rk).alias("k"))
        actual = l.join(r, "k").count()
        row = got[f"{lt}.{lk}x{rt}.{rk}"]
        assert row["est_join_rows"] == actual, (lt, rt)
        assert row["flag_explosive"] == int(
            actual > 2 * max(row["n_left"], row["n_right"])
        )


def test_golden_record_survivorship_rules(spark):
    """Field-level survivorship must follow the declared rules, checked
    by direct Python recomputation: longest name wins, master balance
    wins, segment falls back across sources (entities whose master
    lacks the segment must inherit the import twin's)."""
    from ai_data_pipeline_spark.operators.linkage import er_golden_record

    cust = {
        r["c_custkey"]: r
        for r in load_table(spark, SF_DIR, "customer").collect()
    }
    got = {r["entity_id"]: r for r in er_golden_record(spark, SF_DIR).collect()}
    assert set(got) == set(cust)
    for k, c in cust.items():
        r = got[k]
        has_twin = k % 3 == 0
        assert r["n_records"] == (2 if has_twin else 1)
        # master name is strictly longer than the truncated twin
        assert r["golden_name"] == c["c_name"]
        assert r["golden_acctbal"] == c["c_acctbal"]  # master trusted
        if k % 5 == 0 and has_twin:
            assert r["golden_segment"] == c["c_mktsegment"]  # from twin
        elif k % 5 == 0:
            assert r["golden_segment"] is None  # nothing to inherit
        else:
            assert r["golden_segment"] == c["c_mktsegment"]


def test_table_diff_reconciles_with_cdc_log(spark):
    """The diff's class counts must reconcile exactly with the CDC
    change log's op counts: removed == deletes, added == inserts,
    changed == updates-not-deleted, unchanged == the rest."""
    from ai_data_pipeline_spark.operators.maintenance import q_table_diff

    keys = [
        r["o_orderkey"]
        for r in load_table(spark, SF_DIR, "orders").select("o_orderkey").collect()
    ]
    n = len(keys)
    n_del = sum(1 for k in keys if k % 21 == 0)
    n_upd = sum(1 for k in keys if k % 7 == 0 and k % 21 != 0)
    n_ins = sum(1 for k in keys if k % 11 == 0)
    got = {r["status"]: r["n_rows"] for r in q_table_diff(spark, SF_DIR).collect()}
    assert got.get("removed", 0) == n_del
    assert got.get("added", 0) == n_ins
    assert got.get("changed", 0) == n_upd
    assert got.get("unchanged", 0) == n - n_del - n_upd


def test_ngram_novelty_totals_and_first_doc(spark):
    """Novelty accounting: summed novel grams across docs equals the
    number of distinct grams in the corpus (each gram is novel exactly
    once), and the lowest doc_id is 100% novel."""
    from ai_data_pipeline_spark.operators.corpus import corpus_ngram_novelty

    rows = corpus_ngram_novelty(spark, SF_DIR).collect()
    assert rows
    total_novel = sum(r["n_novel"] for r in rows)
    import re
    from collections import defaultdict

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    per_doc = {}
    for r in docs:
        toks = re.split(r"\s+", r["text"])
        nmax = max(len(toks) - 4, 1)
        per_doc[r["doc_id"]] = {" ".join(toks[i : i + 5]) for i in range(nmax)}
    all_grams = set().union(*per_doc.values())
    assert total_novel == len(all_grams)
    first_doc = min(per_doc)
    got_first = next(r for r in rows if r["doc_id"] == first_doc)
    assert got_first["novelty_ppm"] == 1_000_000
    # spot-check one doc's counts directly
    gmin = defaultdict(lambda: 10**18)
    for d, gs in per_doc.items():
        for g in gs:
            gmin[g] = min(gmin[g], d)
    some = sorted(per_doc)[len(per_doc) // 2]
    want_novel = sum(1 for g in per_doc[some] if gmin[g] == some)
    got_some = next(r for r in rows if r["doc_id"] == some)
    assert got_some["n_grams"] == len(per_doc[some])
    assert got_some["n_novel"] == want_novel


def test_shot_boundaries_match_numpy(spark):
    """Cut decisions must equal a direct numpy recompute of frame
    energies and the rational jump test."""
    from ai_data_pipeline_spark.operators.multimodal import (
        FRAME_BYTES,
        SHOT_JUMP_DEN,
        SHOT_JUMP_NUM,
        shot_boundaries,
    )

    docs = {
        r["doc_id"]: r["text"].encode()
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .collect()
    }
    got = {
        r["doc_id"]: (r["n_frames"], r["n_boundaries"], r["first_cut"])
        for r in shot_boundaries(spark, SF_DIR).collect()
    }
    want_ids = {d for d, p in docs.items() if len(p) > 0}
    assert set(got) == want_ids
    for d in want_ids:
        p = docs[d]
        energies = [
            sum(p[i : i + FRAME_BYTES]) for i in range(0, len(p), FRAME_BYTES)
        ]
        cuts = []
        for f in range(1, len(energies)):
            prev, e = energies[f - 1], energies[f]
            is_cut = (e > 0) if prev == 0 else (
                abs(e - prev) * SHOT_JUMP_DEN >= prev * SHOT_JUMP_NUM
            )
            if is_cut:
                cuts.append(f)
        assert got[d] == (
            len(energies),
            len(cuts),
            cuts[0] if cuts else None,
        ), d


def test_header_meta_matches_struct_unpack(spark):
    """Parsed header dims must equal struct.unpack of the first 8
    payload bytes (big-endian uint32 pair)."""
    import struct

    from ai_data_pipeline_spark.operators.multimodal import (
        HDR_MAX_DIM,
        header_meta,
    )

    docs = {
        r["doc_id"]: r["text"].encode()
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .collect()
    }
    got = {r["doc_id"]: r for r in header_meta(spark, SF_DIR).collect()}
    assert set(got) == set(docs)
    for d, p in docs.items():
        r = got[d]
        assert r["n_bytes"] == len(p)
        if len(p) >= 8:
            w, h = struct.unpack(">II", p[:8])
            assert (r["hdr_w"], r["hdr_h"]) == (w, h), d
            assert r["flag_plausible"] == int(
                0 < w <= HDR_MAX_DIM and 0 < h <= HDR_MAX_DIM
            )
        else:
            assert r["hdr_w"] is None and r["hdr_h"] is None
            assert r["flag_plausible"] == 0


def test_gini_matches_python_and_bounds(spark):
    """Gini ppm must equal a direct Counter-based recompute and respect
    0 <= gini <= (1 - 1/k) bounds; majority share must be >= 1/k."""
    from collections import Counter, defaultdict

    from ai_data_pipeline_spark.operators.stats import q_gini_segments

    rows = (
        load_table(spark, SF_DIR, "customer")
        .select("c_nationkey", "c_mktsegment")
        .collect()
    )
    cells = defaultdict(Counter)
    for r in rows:
        cells[r["c_nationkey"]][r["c_mktsegment"]] += 1
    got = {r["c_nationkey"]: r for r in q_gini_segments(spark, SF_DIR).collect()}
    assert set(got) == set(cells)
    for nk, ctr in cells.items():
        n = sum(ctr.values())
        sum_sq = sum(v * v for v in ctr.values())
        want_gini = (n * n - sum_sq) * 1_000_000 // (n * n)
        r = got[nk]
        assert r["n_customers"] == n
        assert r["n_segments"] == len(ctr)
        assert r["gini_ppm"] == want_gini
        assert r["majority_ppm"] == max(ctr.values()) * 1_000_000 // n
        assert 0 <= r["gini_ppm"] <= 1_000_000 - 1_000_000 // len(ctr)
        assert r["majority_ppm"] >= 1_000_000 // len(ctr)


def test_prefix_recall_matches_numpy(spark):
    """Overlap counts must equal a direct numpy recompute of both
    top-k lists (full-dim and prefix-dim, round-6 cosines, vec_id
    tiebreak)."""
    from ai_data_pipeline_spark.operators.similarity import (
        N_QUERIES,
        PRE_DIM,
        TOP_K,
        emb_prefix_recall,
    )

    emb = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }

    def cos(a, b):
        acc = na = nb = 0.0
        for i in range(len(a)):
            acc += a[i] * b[i]
            na += a[i] * a[i]
            nb += b[i] * b[i]
        return round(acc / (na**0.5 * nb**0.5), 6)

    corpus = sorted(v for v in emb if v >= N_QUERIES)
    got = {r["q_id"]: r for r in emb_prefix_recall(spark, SF_DIR).collect()}
    for q in (v for v in emb if v < N_QUERIES):
        full = sorted(corpus, key=lambda v: (-cos(emb[q], emb[v]), v))[:TOP_K]
        pre = sorted(
            corpus,
            key=lambda v: (-cos(emb[q][:PRE_DIM], emb[v][:PRE_DIM]), v),
        )[:TOP_K]
        n_overlap = len(set(full) & set(pre))
        r = got[q]
        assert r["k"] == len(full)
        assert r["n_overlap"] == n_overlap, q
        assert r["recall_ppm"] == n_overlap * 1_000_000 // len(full)


def test_chunk_overlap_reconstruction(spark):
    """Chunk spans must tile each document with the declared stride and
    overlap: chunk i starts at i*stride, all but the last have full
    length, consecutive chunks share len-stride tokens, and the union
    of spans covers every token."""
    import re

    from ai_data_pipeline_spark.operators.corpus import (
        CHUNK_LEN,
        CHUNK_STRIDE,
        corpus_chunk_overlap,
    )

    docs = {
        r["doc_id"]: re.split(r"\s+", r["text"])
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .collect()
    }
    from collections import defaultdict

    got = defaultdict(dict)
    for r in corpus_chunk_overlap(spark, SF_DIR).collect():
        got[r["doc_id"]][r["chunk_idx"]] = r
    assert set(got) == set(docs)
    for d, toks in docs.items():
        n = len(toks)
        import math

        want_chunks = math.ceil(max(n - (CHUNK_LEN - CHUNK_STRIDE), 1) / CHUNK_STRIDE)
        assert set(got[d]) == set(range(want_chunks)), d
        for i in range(want_chunks):
            r = got[d][i]
            chunk = toks[i * CHUNK_STRIDE : i * CHUNK_STRIDE + CHUNK_LEN]
            assert r["start_tok"] == i * CHUNK_STRIDE
            assert r["chunk_tokens"] == len(chunk)
            assert r["chunk_chars"] == sum(len(t) for t in chunk) + max(
                len(chunk) - 1, 0
            )
        # coverage: last chunk must reach the end of the doc
        last = got[d][want_chunks - 1]
        assert last["start_tok"] + last["chunk_tokens"] == n


def test_vocab_coverage_matches_counter(spark):
    """Coverage points must equal a Counter-based recompute (rank by
    tf desc then term, cumulative mass at each k)."""
    import re
    from collections import Counter

    from ai_data_pipeline_spark.operators.text import (
        COVERAGE_KS,
        vocab_coverage,
    )

    ctr = Counter()
    for r in load_table(spark, SF_DIR, "documents").select("text").collect():
        for t in re.split(r"[^a-z]+", r["text"].lower()):
            if t:
                ctr[t] += 1
    ranked = sorted(ctr.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(ctr.values())
    got = {r["k"]: r for r in vocab_coverage(spark, SF_DIR).collect()}
    assert set(got) == set(COVERAGE_KS)
    for k in COVERAGE_KS:
        topk = ranked[:k]
        cum = sum(v for _, v in topk)
        r = got[k]
        assert r["n_terms"] == len(topk)
        assert r["cum_tf"] == cum
        assert r["total_tokens"] == total
        assert r["vocab_size"] == len(ctr)
        assert r["coverage_ppm"] == cum * 1_000_000 // total


def test_mad_outliers_matches_statistics_median(spark):
    """Median and MAD must equal statistics.median-based recompute
    (linear-interpolated medians on even counts match Spark's
    percentile), and outlier counts must follow the MAD_K rule."""
    import statistics
    from collections import defaultdict

    from ai_data_pipeline_spark.operators.analytic2 import MAD_K, q_mad_outliers

    vals = defaultdict(list)
    for r in (
        load_table(spark, SF_DIR, "lineitem")
        .select("l_returnflag", "l_quantity")
        .collect()
    ):
        vals[r["l_returnflag"]].append(r["l_quantity"])
    got = {r["l_returnflag"]: r for r in q_mad_outliers(spark, SF_DIR).collect()}
    assert set(got) == set(vals)
    for flag, xs in vals.items():
        med = statistics.median(xs)
        ads = [abs(x - med) for x in xs]
        mad = statistics.median(ads)
        r = got[flag]
        assert r["n"] == len(xs)
        assert abs(r["median_qty"] - med) <= 1e-6
        assert abs(r["mad_qty"] - mad) <= 1e-6
        assert r["n_outliers"] == sum(1 for a in ads if a > MAD_K * mad)


def test_emb_quality_audit_matches_python(spark):
    """Norms, duplicate-group sizes, and keeper flags must equal a
    direct recompute over the quantized vectors."""
    import math
    from collections import Counter

    from ai_data_pipeline_spark.operators.similarity import emb_quality_audit

    emb = {
        r["vec_id"]: tuple(
            int(math.floor(float(x) * 1_000_000)) for x in r["embedding"]
        )
        for r in load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }
    sizes = Counter(emb.values())
    keeper = {}
    for vid in sorted(emb):
        keeper.setdefault(emb[vid], vid)
    got = {r["vec_id"]: r for r in emb_quality_audit(spark, SF_DIR).collect()}
    assert set(got) == set(emb)
    for vid, v in emb.items():
        r = got[vid]
        norm_sq = sum(x * x for x in v)
        assert r["norm_sq_fp"] == norm_sq
        assert r["flag_degenerate"] == int(norm_sq < 10**6)
        assert r["dup_group_size"] == sizes[v]
        assert r["keep"] == int(keeper[v] == vid)


def test_source_overlap_matches_python(spark):
    """Pair counts and Jaccard ppm must equal a direct recompute over
    leading-prefix digests, and shared counts can never exceed either
    side's distinct-prefix count."""
    import re
    from collections import defaultdict

    from ai_data_pipeline_spark.operators.corpus import (
        OVERLAP_PREFIX_TOKENS,
        corpus_source_overlap,
    )

    by_src = defaultdict(set)
    for r in (
        load_table(spark, SF_DIR, "documents").select("source", "text").collect()
    ):
        toks = re.split(r"\s+", r["text"])[:OVERLAP_PREFIX_TOKENS]
        by_src[r["source"]].add(" ".join(toks))
    got = {
        (r["source_a"], r["source_b"]): r
        for r in corpus_source_overlap(spark, SF_DIR).collect()
    }
    want_pairs = {
        (a, b)
        for a in by_src
        for b in by_src
        if a < b and by_src[a] & by_src[b]
    }
    assert set(got) == want_pairs
    for (a, b), r in got.items():
        inter = len(by_src[a] & by_src[b])
        un = len(by_src[a] | by_src[b])
        assert r["n_a"] == len(by_src[a]) and r["n_b"] == len(by_src[b])
        assert r["n_shared"] == inter
        assert r["n_shared"] <= min(r["n_a"], r["n_b"])
        assert r["jaccard_ppm"] == inter * 1_000_000 // un


def test_seasonal_index_identities(spark):
    """Per-weekday counts must sum to the corpus total; the
    event-weighted mean index must be >= 1e6 - 7 ppm of exactly average
    (floor rounding); all 7 weekdays present."""
    from ai_data_pipeline_spark.operators.temporal import q_seasonal_index

    rows = q_seasonal_index(spark, SF_DIR).collect()
    assert {r["dow"] for r in rows} == set(range(1, 8))
    total_events = sum(r["n_events"] for r in rows)
    total_days = sum(r["n_days"] for r in rows)
    n = load_table(spark, SF_DIR, "events").count()
    assert total_events == n
    for r in rows:
        want = (
            r["n_events"] * total_days * 1_000_000
            // (r["n_days"] * total_events)
        )
        assert r["seasonal_index_ppm"] == want


def test_scd2_merge_version_invariants(spark):
    """Version-table invariants: exactly one current version per key,
    changed keys have a closed version ending where the new one starts,
    untouched keys keep a single open-ended version."""
    from collections import defaultdict

    from ai_data_pipeline_spark.operators.maintenance import (
        SCD2_EFFECTIVE,
        q_scd2_merge,
    )

    versions = defaultdict(list)
    for r in q_scd2_merge(spark, SF_DIR).collect():
        versions[r["c_custkey"]].append(r)
    keys = {
        r["c_custkey"]
        for r in load_table(spark, SF_DIR, "customer").select("c_custkey").collect()
    }
    assert set(versions) == keys
    for k, vs in versions.items():
        current = [v for v in vs if v["is_current"] == 1]
        assert len(current) == 1
        assert current[0]["valid_to"] is None
        if k % 10 == 0:
            assert len(vs) == 2
            closed = next(v for v in vs if v["is_current"] == 0)
            assert str(closed["valid_to"]) == SCD2_EFFECTIVE
            assert str(current[0]["valid_from"]) == SCD2_EFFECTIVE
            assert current[0]["bal"] == closed["bal"] + 100
        else:
            assert len(vs) == 1


def test_knn_classify_matches_python(spark):
    """Predicted labels must equal a direct Python recompute: exact
    top-k by round-6 cosine (vec_id tiebreak), majority vote with ties
    to the smallest label."""
    from collections import Counter

    from ai_data_pipeline_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
        ann_knn_classify,
    )

    rows = (
        load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding", "label")
        .collect()
    )
    emb = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in rows}
    lab = {r["vec_id"]: r["label"] for r in rows}

    def cos(a, b):
        acc = na = nb = 0.0
        for i in range(len(a)):
            acc += a[i] * b[i]
            na += a[i] * a[i]
            nb += b[i] * b[i]
        return round(acc / (na**0.5 * nb**0.5), 6)

    corpus = sorted(v for v in emb if v >= N_QUERIES)
    got = {r["q_id"]: r for r in ann_knn_classify(spark, SF_DIR).collect()}
    qids = [v for v in emb if v < N_QUERIES]
    assert set(got) == set(qids)
    for q in qids:
        topk = sorted(corpus, key=lambda v: (-cos(emb[q], emb[v]), v))[:TOP_K]
        votes = Counter(lab[v] for v in topk)
        best = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))
        r = got[q]
        assert r["predicted_label"] == best[0], q
        assert r["n_votes"] == best[1]
        assert r["actual_label"] == lab[q]
        assert r["correct"] == int(best[0] == lab[q])


def test_topk_tournament_is_partitioning_invariant(spark):
    """_topk_per_key's two-level tournament must return exactly the
    naive single-window top-k at EVERY physical partitioning — the
    associativity claim SCALING.md makes. Exercised across 1, 3, and 17
    input partitions (1 partition = degenerate heat; 17 = more
    partitions than groups) on a relation with deliberate score ties."""
    from pyspark.sql import Window, functions as F

    from ai_data_pipeline_spark.operators.similarity import _topk_per_key

    base = spark.range(0, 500).select(
        (F.col("id") % 7).alias("grp"),
        F.col("id").alias("item"),
        (F.col("id") % 13).alias("score"),  # ties within every group
    )
    order_cols = [F.desc("score"), F.asc("item")]
    naive = base.withColumn(
        "rk",
        F.row_number().over(Window.partitionBy("grp").orderBy(*order_cols)),
    ).filter(F.col("rk") <= 4)
    want = sorted(tuple(r) for r in naive.collect())
    for n_parts in (1, 3, 17):
        got = _topk_per_key(
            base.repartition(n_parts), ["grp"], order_cols, 4
        )
        assert sorted(tuple(r) for r in got.collect()) == want, n_parts


def test_quantile_hist_bound_holds_against_exact(spark):
    """The histogram quantile sketch guarantees
    est_lo <= true p-th value < est_lo + W. Checked against a
    driver-side exact quantile (sorted raw column) — an independent
    reference, not the DuckDB oracle."""
    from ai_data_pipeline_spark.operators.sketches import (
        QH_BUCKET_W,
        sketch_quantile_hist,
    )

    vals = sorted(
        r[0]
        for r in load_table(spark, SF_DIR, "lineitem")
        .select("l_extendedprice")
        .collect()
    )
    n = len(vals)
    for row in sketch_quantile_hist(spark, SF_DIR).collect():
        target = -(-row["q_pct"] * n // 100)  # ceil
        assert row["target_rank"] == target
        assert row["total_n"] == n
        exact = vals[target - 1]
        assert row["est_lo"] <= exact < row["est_lo"] + QH_BUCKET_W, (
            row["q_pct"],
            exact,
            row["est_lo"],
        )


def test_minhash_verify_equals_direct_set_intersection(spark):
    """The digest-join candidate verification must produce the same
    (pair, jaccard) set as a driver-side direct shingle-set
    intersection over the candidate pairs — independent of the DuckDB
    oracle and of the banding implementation."""
    from ai_data_pipeline_spark.operators.dedup import (
        JACCARD_DEN,
        JACCARD_NUM,
        dedup_minhash_lsh,
    )
    import re

    got = {
        (r["doc_a"], r["doc_b"]): (r["jaccard"])
        for r in dedup_minhash_lsh(spark, SF_DIR).collect()
    }
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SF_DIR, "documents").collect()
    }

    def shingles(text):
        # mirror dedup._shingles: whitespace split, word-trigram slices
        # with a greatest(n-2, 1) floor, distinct
        toks = re.split(r"\s+", text)
        return {
            " ".join(toks[i : i + 3])
            for i in range(max(len(toks) - 2, 1))
        }

    sets = {d: shingles(t) for d, t in docs.items()}
    for (a, b), jac in got.items():
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        assert JACCARD_DEN * inter >= JACCARD_NUM * union
        assert jac == round(inter / union, 6), (a, b)


def test_ngram_df_cap_screens_hot_shingles(spark):
    """A shingle shared by more than `cap` docs must vanish from the
    Jaccard universe (both intersection and sizes), while low-df
    shingles survive untouched — so no shingle can contribute more than
    C(cap, 2) rows to the pair self-join."""
    from ai_data_pipeline_spark.operators.dedup import (
        NGRAM_DF_CAP,
        _df_capped_shingles,
        _doc_shingles,
    )

    rows = [(d, "the quick fox") for d in range(10)]  # hot: df=10
    rows += [(0, "unique alpha zero"), (1, "unique alpha one")]
    sh = spark.createDataFrame(rows, ["doc_id", "shingle"])
    kept = _df_capped_shingles(sh, 5).collect()
    shingles = {r.shingle for r in kept}
    assert "the quick fox" not in shingles
    assert shingles == {"unique alpha zero", "unique alpha one"}

    # on the real corpus: post-cap document frequency is bounded by the cap
    real = _df_capped_shingles(_doc_shingles(spark, SF_DIR), NGRAM_DF_CAP)
    max_df = (
        real.groupBy("shingle").count().agg({"count": "max"}).collect()[0][0]
    )
    assert max_df is not None and max_df <= NGRAM_DF_CAP


def test_shingle_pair_queries_agree_on_shared_relations(spark):
    """The shingle-pair queries built on the same relations must agree:
    the LSH dedup emits exactly the estimate audit's candidates whose
    exact Jaccard is >= 0.5 (both verify the same banded candidates);
    the recall audit's truth set is the Jaccard >= 0.5 subset of the
    n-gram Jaccard pairs (both use the same capped pairs); and the
    band-tuning audit's truth pairs above the S-curve crossing are a
    subset of that truth set."""
    from ai_data_pipeline_spark.operators.dedup import (
        dedup_lsh_band_tuning,
        dedup_lsh_recall,
        dedup_minhash_estimate,
        dedup_minhash_lsh,
        dedup_ngram_jaccard,
    )

    lsh = {(r["doc_a"], r["doc_b"]) for r in dedup_minhash_lsh(spark, SF_DIR).collect()}
    est = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_minhash_estimate(spark, SF_DIR).collect()
        if r["exact_ppm"] >= 500_000
    }
    assert lsh and lsh == est

    n_truth = dedup_lsh_recall(spark, SF_DIR).collect()[0]["n_truth"]
    ngram_half = sum(
        2 * r["inter"] >= r["un"] for r in dedup_ngram_jaccard(spark, SF_DIR).collect()
    )
    assert n_truth > 0 and n_truth == ngram_half

    tuning = dedup_lsh_band_tuning(spark, SF_DIR).collect()[0]
    assert tuning["n_truth_above"] <= n_truth


def test_cls_linear_classifier_separates_and_bounds(spark):
    """The closed-form hashed-feature classifier must (a) emit a model
    no larger than FEATURE_BUCKETS rows, (b) score every document
    exactly once, and (c) actually separate the classes it was trained
    on (mean score of positive-label docs strictly above negative-label
    docs — word-presence features carry real language signal, so
    training-set separation is a correctness property of the closed
    form, not a hope)."""
    from ai_data_pipeline_spark.operators.stats import (
        FEATURE_BUCKETS,
        cls_linear_score,
        cls_linear_train,
    )
    from ai_data_pipeline_spark.catalog import load_table

    model = cls_linear_train(spark, SF_DIR)
    assert model.count() <= FEATURE_BUCKETS

    scored = cls_linear_score(spark, SF_DIR)
    n_docs = load_table(spark, SF_DIR, "documents").count()
    rows = scored.collect()
    assert len(rows) == n_docs

    pos = [r.score_ppm for r in rows if r.label == 1]
    neg = [r.score_ppm for r in rows if r.label == 0]
    assert pos and neg
    assert sum(pos) / len(pos) > sum(neg) / len(neg)


def test_cls_linear_eval_cumulative_identities(spark):
    """The banded PR curve must satisfy the exact accounting identities
    of a cumulative operating curve: the lowest band's cumulative counts
    equal the corpus totals (recall 100%, precision = base rate), recall
    is monotone non-increasing with band, and every band's cumulative
    counts equal the sum of bands above it."""
    from ai_data_pipeline_spark.operators.stats import (
        cls_linear_eval,
        cls_linear_score,
    )

    rows = sorted(cls_linear_eval(spark, SF_DIR).collect(), key=lambda r: -r.band)
    scored = cls_linear_score(spark, SF_DIR).collect()
    n, p = len(scored), sum(r.label for r in scored)

    cum_d = cum_p = 0
    prev_recall = None
    for r in rows:
        cum_d += r.n_docs
        cum_p += r.n_pos
        assert (r.cum_docs, r.cum_pos) == (cum_d, cum_p)
        assert r.precision_ppm == r.cum_pos * 1000000 // r.cum_docs
        if prev_recall is not None:
            assert r.recall_ppm >= prev_recall
        prev_recall = r.recall_ppm
    assert (cum_d, cum_p) == (n, p)
    assert rows[-1].recall_ppm == 1000000


def test_bm25_scores_match_python_recompute(spark):
    """The fixed-point BM25 must equal a direct Python recompute of
    22·tf·L·idf1000 // (10·L·tf + 3·L + 9·dl·N) for every emitted row,
    and each term must emit at most BM25_TOP_DOCS docs in strict
    (score desc, doc_id asc) order."""
    from collections import Counter

    from ai_data_pipeline_spark.operators.text import (
        BM25_TOP_DOCS,
        MIN_TERM_LEN,
        text_bm25_topk,
    )
    from ai_data_pipeline_spark.catalog import load_table
    import re

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    tf, dl = {}, Counter()
    for r in docs:
        toks = [t for t in re.split("[^a-z]+", r.text.lower()) if len(t) >= MIN_TERM_LEN]
        dl[r.doc_id] = len(toks)
        for t in toks:
            tf[(r.doc_id, t)] = tf.get((r.doc_id, t), 0) + 1
    n_docs = len([d for d in dl if dl[d] > 0])
    total_len = sum(dl.values())
    df = Counter(t for (_, t) in tf)

    rows = text_bm25_topk(spark, SF_DIR).collect()
    per_term = Counter(r.term for r in rows)
    assert per_term and max(per_term.values()) <= BM25_TOP_DOCS
    for r in rows:
        idf1000 = ((2 * (n_docs - df[r.term]) + 1) * 1000) // (2 * df[r.term] + 1)
        expect = (22 * tf[(r.doc_id, r.term)] * total_len * idf1000) // (
            10 * total_len * tf[(r.doc_id, r.term)]
            + 3 * total_len
            + 9 * dl[r.doc_id] * n_docs
        )
        assert r.bm25_fp == expect
        assert r.tf == tf[(r.doc_id, r.term)] and r.dl == dl[r.doc_id]


def test_multiclass_matches_full_python_recompute(spark):
    """The one-vs-rest classifier must match a from-scratch Python
    recompute row for row: md5-hashed presence features, closed-form
    per-(class, bucket) least-squares weights in floor-fixed-point,
    per-doc class-score sums, and the (score desc, class asc) argmax.
    (Note: the synthetic corpus draws the same vocabulary for every
    lang, so prediction ACCURACY is not a meaningful property here —
    exactness of the computation is.)"""
    import hashlib
    import math
    from collections import Counter, defaultdict

    from ai_data_pipeline_spark.operators.stats import (
        FEATURE_BUCKETS,
        cls_linear_multiclass,
    )
    from ai_data_pipeline_spark.catalog import load_table

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "text"
    ).collect()
    pres = set()
    for r in docs:
        for tok in r.text.split():
            if tok:
                h = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)
                pres.add((r.doc_id, r.lang, h % FEATURE_BUCKETS))
    n_lb = Counter((b, lg) for (_, lg, b) in pres)
    n_b = Counter(b for (_, _, b) in pres)
    p_c = Counter(r.lang for r in docs)
    n = len(docs)
    # full present-bucket × class grid: a (b, cls) pair with no positive
    # docs still gets the binary form's negative slope (n_lb = 0)
    w = {}
    for b in n_b:
        for lg in p_c:
            cnt = n_lb.get((b, lg), 0)
            den = n_b[b] * (n - n_b[b])
            w[(b, lg)] = (
                0 if den == 0
                else math.floor(float(n * cnt - n_b[b] * p_c[lg]) * 1e6 / den)
            )
    scores = defaultdict(int)
    actual = {}
    for (d, lg, b) in pres:
        actual[d] = lg
        for cls in p_c:
            scores[(d, cls)] += w[(b, cls)]
    expected = {}
    for d in actual:
        best = min(
            ((cls, s) for (dd, cls), s in scores.items() if dd == d),
            key=lambda t: (-t[1], t[0]),
        )
        expected[d] = (actual[d], best[0], best[1])

    rows = cls_linear_multiclass(spark, SF_DIR).collect()
    assert len(rows) == len(expected)
    for r in rows:
        a, p, s = expected[r.doc_id]
        assert (r.actual_lang, r.predicted_lang, r.best_score_ppm) == (a, p, s)
        assert r.correct == int(a == p)


def test_lm_quality_matches_full_python_recompute(spark):
    """The bit-quantized LM scorer must match a from-scratch Python
    recompute row for row: tokenization, train-split bigram/context
    counts, the (count desc, key asc) top-K cuts, add-one-smoothed
    surprisal in whole bits via int.bit_length, and the per-doc
    fixed-point mean. Also pins the semantics that pruned lookups
    coalesce to 0 and that sub-2-token docs are absent."""
    import re
    from collections import Counter, defaultdict

    from ai_data_pipeline_spark.operators.corpus import (
        LM_HOLD_MOD,
        LM_TOP_BIGRAMS,
        LM_TOP_CONTEXTS,
        corpus_lm_quality,
    )
    from ai_data_pipeline_spark.catalog import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    toks = {
        r.doc_id: [t for t in re.split("[^a-z]+", r.text.lower()) if t]
        for r in docs
    }
    bgs = {
        d: [f"{l[i]} {l[i + 1]}" for i in range(len(l) - 1)]
        for d, l in toks.items()
    }
    train_ids = [d for d in toks if d % LM_HOLD_MOD != 0]
    big_counts = Counter(b for d in train_ids for b in bgs[d])
    ctx_counts = Counter(b.split(" ")[0] for d in train_ids for b in bgs[d])
    big = dict(
        sorted(big_counts.items(), key=lambda kv: (-kv[1], kv[0]))[:LM_TOP_BIGRAMS]
    )
    ctx = dict(
        sorted(ctx_counts.items(), key=lambda kv: (-kv[1], kv[0]))[:LM_TOP_CONTEXTS]
    )
    v = len({t for d in train_ids for t in toks[d]})
    expected = {}
    for d, bl in bgs.items():
        if not bl:
            continue
        s = sum(
            max(
                (ctx.get(b.split(" ")[0], 0) + v).bit_length()
                - (big.get(b, 0) + 1).bit_length(),
                0,
            )
            for b in bl
        )
        expected[d] = (len(bl), s, (s * 1000000) // len(bl))

    rows = corpus_lm_quality(spark, SF_DIR).collect()
    assert len(rows) == len(expected)
    for r in rows:
        n, s, m = expected[r.doc_id]
        assert (r.n_bigrams, r.surp_bits, r.mean_bits_ppm) == (n, s, m)
        assert r.is_held == int(r.doc_id % LM_HOLD_MOD == 0)


def test_length_buckets_match_python_recompute(spark):
    """Each power-of-two length band's stats and both padding-waste
    ratios must equal a direct Python recompute (whitespace token
    counts, bit_length bucketing, exact integer floor division)."""
    from collections import defaultdict

    from ai_data_pipeline_spark.operators.corpus import corpus_length_buckets
    from ai_data_pipeline_spark.catalog import load_table

    import re

    docs = load_table(spark, SF_DIR, "documents").select("text").collect()
    per = defaultdict(lambda: [0, 0, 0])  # n_docs, sum_tokens, max_tok
    for r in docs:
        # mirror Spark split(text, '\s+'): count of split segments
        n = len(re.split(r"\s+", r.text))
        b = n.bit_length()
        per[b][0] += 1
        per[b][1] += n
        per[b][2] = max(per[b][2], n)
    gmax = max(v[2] for v in per.values())
    rows = corpus_length_buckets(spark, SF_DIR).collect()
    assert len(rows) == len(per)
    for r in rows:
        nd, st, mt = per[r.bucket]
        assert (r.n_docs, r.sum_tokens, r.max_tok) == (nd, st, mt)
        assert r.pad_waste_ppm == ((nd * mt - st) * 1000000) // (nd * mt)
        assert r.global_pad_waste_ppm == ((nd * gmax - st) * 1000000) // (nd * gmax)


def test_quality_resample_composition_identities(spark):
    """The resampling rollup must be exactly the tier/coin rollup of its
    two component queries' own outputs: recompute tiers, md5 coins, and
    keep decisions in Python from corpus_lm_quality and
    cls_linear_score rows, and match every aggregate cell."""
    import hashlib
    from collections import defaultdict

    from ai_data_pipeline_spark.operators.corpus import corpus_lm_quality
    from ai_data_pipeline_spark.operators.pipeline import (
        LM_HEAD_BITS_PPM,
        LM_TAIL_BITS_PPM,
        RESAMPLE_KEEP_PM,
        quality_resample,
    )
    from ai_data_pipeline_spark.operators.stats import cls_linear_score

    lm = {r.doc_id: r for r in corpus_lm_quality(spark, SF_DIR).collect()}
    cls = {r.doc_id: r.score_ppm for r in cls_linear_score(spark, SF_DIR).collect()}
    agg = defaultdict(lambda: [0, 0, 0, 0, 0])
    for d, r in lm.items():
        if d not in cls:
            continue
        if r.mean_bits_ppm <= LM_HEAD_BITS_PPM:
            tier = "head"
        elif r.mean_bits_ppm <= LM_TAIL_BITS_PPM:
            tier = "middle"
        else:
            tier = "tail"
        coin = int(hashlib.md5(str(d).encode()).hexdigest()[:8], 16) % 1000
        kept = int(coin < RESAMPLE_KEEP_PM[tier])
        a = agg[tier]
        a[0] += 1
        a[1] += kept
        a[2] += r.n_bigrams * kept
        a[3] += r.mean_bits_ppm
        a[4] += cls[d]
    rows = quality_resample(spark, SF_DIR).collect()
    assert {r.tier for r in rows} == set(agg)
    for r in rows:
        assert [r.n_docs, r.n_kept, r.kept_bigrams, r.sum_mean_bits_ppm,
                r.sum_score_ppm] == agg[r.tier]


def test_dup_spans_match_full_python_recompute(spark):
    """Substring-span dedup must equal a from-scratch Python recompute:
    whitespace tokenization, 5-gram occurrence counting on the RAW gram
    text (so the test also certifies the md5 digests collide nowhere on
    this corpus), interval union of [pos, pos+K-1] coverage with
    adjacency merging, and the per-doc span rollup."""
    import re
    from collections import Counter, defaultdict

    from ai_data_pipeline_spark.catalog import load_table
    from ai_data_pipeline_spark.operators.curation import (
        DUP_SPAN_K,
        dedup_dup_spans,
    )

    k = DUP_SPAN_K
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    toks = {r.doc_id: re.split(r"\s+", r.text) for r in docs}
    grams = {
        d: [" ".join(l[i:i + k]) for i in range(len(l) - k + 1)]
        for d, l in toks.items()
    }
    counts = Counter(g for gl in grams.values() for g in gl)
    expected = {}
    for d, gl in grams.items():
        starts = [i + 1 for i, g in enumerate(gl) if counts[g] >= 2]
        if not starts:
            continue
        spans = []
        for s in starts:
            e = s + k - 1
            if spans and s <= spans[-1][1] + 1:
                spans[-1][1] = max(spans[-1][1], e)
            else:
                spans.append([s, e])
        lens = [e - s + 1 for s, e in spans]
        expected[d] = (len(spans), sum(lens), max(lens))

    rows = dedup_dup_spans(spark, SF_DIR).collect()
    assert {r.doc_id for r in rows} == set(expected)
    for r in rows:
        assert (r.n_spans, r.dup_tokens, r.longest_span) == expected[r.doc_id]


def test_keep_best_identities(spark):
    """Every keep-best row must agree with the cluster membership the
    CC operator reports: the survivor is the (n_chars desc, doc_id asc)
    max of its cluster, counts foot, and dropped_chars is the exact
    residual mass."""
    from collections import defaultdict

    from ai_data_pipeline_spark.catalog import load_table
    from ai_data_pipeline_spark.operators.clustering import dedup_clusters
    from ai_data_pipeline_spark.operators.curation import dedup_keep_best

    chars = {
        r.doc_id: r.n_chars
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", "n_chars")
        .collect()
    }
    members = defaultdict(list)
    for r in dedup_clusters(spark, SF_DIR).collect():
        if r.cluster_size >= 2:
            members[r.cluster_id].append(r.doc_id)
    rows = dedup_keep_best(spark, SF_DIR).collect()
    assert {r.cluster_id for r in rows} == set(members)
    for r in rows:
        docs = members[r.cluster_id]
        want = min(docs, key=lambda d: (-chars[d], d))
        assert r.kept_doc == want
        assert r.kept_chars == chars[want]
        assert r.n_docs == len(docs)
        assert r.dropped_docs == len(docs) - 1
        assert r.dropped_chars == sum(chars[d] for d in docs) - chars[want]


def test_shard_manifest_matches_python_recompute(spark):
    """Shard assignment, per-shard totals, and the ordered head sample
    must equal a hashlib/md5 recompute — certifying the shuffle order
    is exactly md5(doc_id) and stable under Spark's partitioning."""
    import hashlib
    import re
    from collections import defaultdict

    from ai_data_pipeline_spark.catalog import load_table
    from ai_data_pipeline_spark.operators.curation import (
        N_SHARDS,
        SHARD_HEADS,
        corpus_shard_manifest,
    )

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "n_chars"
    ).collect()
    shards = defaultdict(list)
    for r in docs:
        h = hashlib.md5(str(r.doc_id).encode()).hexdigest()
        shard = int(h[:8], 16) % N_SHARDS
        shards[shard].append(
            (h, r.doc_id, len(re.split(r"\s+", r.text)), r.n_chars)
        )
    rows = corpus_shard_manifest(spark, SF_DIR).collect()
    assert {r.shard for r in rows} == set(shards)
    for r in rows:
        mem = sorted(shards[r.shard])
        assert r.n_docs == len(mem)
        assert r.n_tokens == sum(m[2] for m in mem)
        assert r.n_chars == sum(m[3] for m in mem)
        heads = [m[1] for m in mem[:SHARD_HEADS]] + [None] * SHARD_HEADS
        assert (r.head1, r.head2, r.head3) == tuple(heads[:SHARD_HEADS])


def test_epoch_plan_matches_python_recompute(spark):
    """The epoch-allocation plan must equal a from-scratch Python
    recompute over the classifier's own score output: per-source
    sufficient statistics, the clamped weight map, the allocation ratio
    in arbitrary-precision Python int (certifying the DECIMAL(38,0) /
    HUGEINT path never rounds), the 4-epoch cap, and planned tokens."""
    import math
    import re
    from collections import defaultdict

    from ai_data_pipeline_spark.catalog import load_table
    from ai_data_pipeline_spark.operators.curation import (
        EPOCH_BUDGET_X,
        EPOCH_CAP_PPM,
        EPOCH_W_BASE,
        EPOCH_W_MAX,
        EPOCH_W_MIN,
        corpus_epoch_plan,
    )
    from ai_data_pipeline_spark.operators.stats import cls_linear_score

    score = {
        r.doc_id: r.score_ppm
        for r in cls_linear_score(spark, SF_DIR).select("doc_id", "score_ppm").collect()
    }
    stats = defaultdict(lambda: [0, 0, 0])  # n_docs, n_tokens, sum_score
    for r in load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "text"
    ).collect():
        s = stats[r.source]
        s[0] += 1
        s[1] += len(re.split(r"\s+", r.text))
        s[2] += score.get(r.doc_id, 0)

    expected = {}
    for src, (n_docs, n_tokens, sum_score) in stats.items():
        quality = math.floor(sum_score / n_docs)  # double division, IEEE
        weight = max(min(EPOCH_W_BASE + quality, EPOCH_W_MAX), EPOCH_W_MIN)
        expected[src] = (n_docs, n_tokens, quality, weight)
    total_tokens = sum(v[1] for v in expected.values())
    total_mass = sum(v[3] * v[1] for v in expected.values())

    rows = corpus_epoch_plan(spark, SF_DIR).collect()
    assert {r.source for r in rows} == set(expected)
    for r in rows:
        n_docs, n_tokens, quality, weight = expected[r.source]
        assert (r.n_docs, r.n_tokens, r.quality_ppm, r.weight_ppm) == (
            n_docs, n_tokens, quality, weight,
        )
        raw = (EPOCH_BUDGET_X * total_tokens * weight * 1_000_000) // total_mass
        assert r.epochs_ppm_raw == raw
        assert r.epochs_ppm == min(raw, EPOCH_CAP_PPM)
        assert r.planned_tokens == (n_tokens * r.epochs_ppm) // 1_000_000
    # the cap only ever REMOVES budget: planned mass never exceeds B
    assert sum(r.planned_tokens for r in rows) <= EPOCH_BUDGET_X * total_tokens


def test_hard_negatives_match_python_recompute(spark):
    """Triplet mining must equal a from-scratch numpy recompute: the
    channel-wise cosine fold (same op order as the kernel), top-K
    different-label selection, the keyed best-positive max, and the
    FaceNet semi-hard band."""
    import numpy as np

    from ai_data_pipeline_spark.catalog import load_table
    from ai_data_pipeline_spark.operators.similarity import (
        HARD_NEG_MARGIN,
        N_QUERIES,
        TOP_K,
        emb_hard_negatives,
    )

    rows = load_table(spark, SF_DIR, "embeddings").collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
    labels = {r.vec_id: r.label for r in rows}
    cands = sorted(v for v in vecs if v >= N_QUERIES)

    def cos(a, b):
        va, vb = vecs[a], vecs[b]
        dot = na = nb = 0.0
        for i in range(len(va)):
            dot += va[i] * vb[i]
            na += va[i] * va[i]
            nb += vb[i] * vb[i]
        return float(np.round(dot / (np.sqrt(na) * np.sqrt(nb)), 6))

    expected = {}
    for q in sorted(v for v in vecs if v < N_QUERIES):
        scored = {c: cos(q, c) for c in cands}
        pos = [scored[c] for c in cands if labels[c] == labels[q]]
        bp = max(pos) if pos else -1.0
        negs = sorted(
            (c for c in cands if labels[c] != labels[q]),
            key=lambda c: (-scored[c], c),
        )[:TOP_K]
        for rk, c in enumerate(negs, 1):
            expected[(q, c)] = (
                labels[q], labels[c], scored[c], rk, bp,
                int(bp > scored[c] > bp - HARD_NEG_MARGIN),
            )

    out = emb_hard_negatives(spark, SF_DIR).collect()
    assert {(r.q_id, r.neg_id) for r in out} == set(expected)
    for r in out:
        ql, nl, c, rk, bp, semi = expected[(r.q_id, r.neg_id)]
        assert (r.q_label, r.neg_label, r.rk, r.semi_hard) == (ql, nl, rk, semi)
        assert abs(r.cosine - c) <= 1e-6
        assert abs(r.best_pos_cos - bp) <= 1e-6


def test_rrf_fusion_matches_python_recompute(spark):
    """Hybrid RRF retrieval must equal a from-scratch Python recompute
    of both rankers and the fusion: distinct-term inverted index,
    integer idf surrogate, per-query keyword LIMIT, sparse and dense
    rankings, and RRF = sum of 10^6 // (60 + rank)."""
    import re
    from collections import Counter

    import numpy as np

    from ai_data_pipeline_spark.catalog import load_table
    from ai_data_pipeline_spark.operators.retrieval import (
        RRF_DEPTH,
        RRF_K,
        RRF_MAX_QTERMS,
        RRF_N_QUERIES,
        RRF_TOP,
        retrieval_rrf_fusion,
    )
    from ai_data_pipeline_spark.operators.text import MIN_TERM_LEN

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    terms = {
        r.doc_id: {
            t
            for t in re.split(r"[^a-z]+", r.text.lower())
            if len(t) >= MIN_TERM_LEN
        }
        for r in docs
    }
    n = len(docs)
    df = Counter(t for s in terms.values() for t in s)
    emb = load_table(spark, SF_DIR, "embeddings").collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in emb}
    cands = sorted(v for v in vecs if v >= RRF_N_QUERIES and v in terms)

    def fold_cos(a, b):
        dot = na = nb = 0.0
        for i in range(len(a)):
            dot += a[i] * b[i]
            na += a[i] * a[i]
            nb += b[i] * b[i]
        return float(np.round(dot / (np.sqrt(na) * np.sqrt(nb)), 6))

    expected = {}
    for q in range(RRF_N_QUERIES):
        idf = {
            t: (2 * (n - df[t]) + 1) * 1000 // (2 * df[t] + 1)
            for t in terms[q]
        }
        qsel = dict(
            sorted(idf.items(), key=lambda kv: (-kv[1], kv[0]))[:RRF_MAX_QTERMS]
        )
        sparse = {
            c: sum(w for t, w in qsel.items() if t in terms[c]) for c in cands
        }
        sparse = {c: s for c, s in sparse.items() if s}  # no shared term -> no row
        s_rank = {
            c: rk
            for rk, c in enumerate(
                sorted(sparse, key=lambda c: (-sparse[c], c))[:RRF_DEPTH], 1
            )
        }
        dense = {c: fold_cos(vecs[q], vecs[c]) for c in cands}
        d_rank = {
            c: rk
            for rk, c in enumerate(
                sorted(dense, key=lambda c: (-dense[c], c))[:RRF_DEPTH], 1
            )
        }
        fused = {
            c: (1_000_000 // (RRF_K + s_rank[c]) if c in s_rank else 0)
            + (1_000_000 // (RRF_K + d_rank[c]) if c in d_rank else 0)
            for c in set(s_rank) | set(d_rank)
        }
        top = sorted(fused, key=lambda c: (-fused[c], c))[:RRF_TOP]
        for rk, c in enumerate(top, 1):
            expected[(q, c)] = (
                s_rank.get(c), d_rank.get(c), fused[c], rk
            )

    out = retrieval_rrf_fusion(spark, SF_DIR).collect()
    assert {(r.q_id, r.doc_id) for r in out} == set(expected)
    for r in out:
        assert (r.rk_sparse, r.rk_dense, r.rrf_ppm, r.rk) == expected[
            (r.q_id, r.doc_id)
        ]


def test_kendall_tau_matches_bruteforce_grid(spark):
    """The tau-b contingency algebra must equal a brute-force pass over
    the banded per-doc signals (taken from the two scorers' own
    outputs, each independently recompute-tested), and the pair
    accounting must foot: C + D + ties_x + ties_y - ties_xy = n0."""
    import math
    from collections import Counter

    from ai_data_pipeline_spark.operators.corpus import corpus_lm_quality
    from ai_data_pipeline_spark.operators.stats import (
        TAU_CLS_BAND_PPM,
        TAU_LM_BAND_PPM,
        cls_linear_score,
        quality_kendall_tau,
    )

    lm = {
        r.doc_id: r.mean_bits_ppm
        for r in corpus_lm_quality(spark, SF_DIR).collect()
    }
    cl = {
        r.doc_id: r.score_ppm for r in cls_linear_score(spark, SF_DIR).collect()
    }
    cells = Counter(
        (
            math.floor(lm[d] / TAU_LM_BAND_PPM),
            math.floor(cl[d] / TAU_CLS_BAND_PPM),
        )
        for d in lm
        if d in cl
    )
    n = sum(cells.values())
    grid = list(cells.items())
    C = D = 0
    for (bx1, by1), n1 in grid:
        for (bx2, by2), n2 in grid:
            if bx2 > bx1 and by2 > by1:
                C += n1 * n2
            elif bx2 > bx1 and by2 < by1:
                D += n1 * n2
    tx = Counter()
    ty = Counter()
    for (bx, by), m in grid:
        tx[bx] += m
        ty[by] += m
    n0 = n * (n - 1) // 2
    ties_x = sum(v * (v - 1) // 2 for v in tx.values())
    ties_y = sum(v * (v - 1) // 2 for v in ty.values())
    ties_xy = sum(m * (m - 1) // 2 for m in cells.values())

    [row] = quality_kendall_tau(spark, SF_DIR).collect()
    assert (row.n_docs, row.n_cells) == (n, len(grid))
    assert (row.concordant, row.discordant) == (C, D)
    assert (row.ties_x, row.ties_y, row.n0_pairs) == (ties_x, ties_y, n0)
    # pair accounting: every unordered pair is concordant, discordant,
    # or tied in at least one coordinate
    assert C + D + ties_x + ties_y - ties_xy == n0
    den = (n0 - ties_x) * (n0 - ties_y)
    # both engine paths apply the sign AFTER the all-positive division,
    # so mirror that order (sign*(num//den), not (sign*num)//den)
    want = (-1 if C < D else 1) * (((C - D) * (C - D) * 1_000_000) // den) if den else 0
    assert row.tau2_signed_ppm == want


def test_outlier_distance_matches_numpy_recompute(spark):
    """Distance-to-centroid QA must equal a from-scratch integer numpy
    recompute of the whole fixed-point k-means loop (quantize, 2
    Lloyd iterations, floor-division centroids), the final distances,
    and the multiplicative outlier flag."""
    import numpy as np

    from ai_data_pipeline_spark.catalog import load_table
    from ai_data_pipeline_spark.operators.similarity import (
        KMEANS_ITERS,
        KMEANS_K,
        OUTLIER_MULT,
        emb_outlier_distance,
    )

    rows = load_table(spark, SF_DIR, "embeddings").collect()
    ids = sorted(r.vec_id for r in rows)
    v = {
        r.vec_id: np.floor(
            np.asarray(r.embedding, dtype=np.float64) * 1_000_000
        ).astype(np.int64)
        for r in rows
    }
    cents = {c: v[c].copy() for c in ids if c < KMEANS_K}
    assign = {}
    for _ in range(KMEANS_ITERS):
        for i in ids:
            assign[i] = min(
                cents, key=lambda c: (int(((v[i] - cents[c]) ** 2).sum()), c)
            )
        for c in set(assign.values()):
            mem = np.stack([v[i] for i in ids if assign[i] == c])
            cents[c] = np.floor(
                mem.sum(axis=0, dtype=np.int64) / len(mem)
            ).astype(np.int64)
        cents = {c: cents[c] for c in set(assign.values())}
    dist = {i: int(((v[i] - cents[assign[i]]) ** 2).sum()) for i in ids}
    n_c = {c: sum(1 for i in ids if assign[i] == c) for c in cents}
    sum_c = {c: sum(dist[i] for i in ids if assign[i] == c) for c in cents}

    out = emb_outlier_distance(spark, SF_DIR).collect()
    assert {r.vec_id for r in out} == set(ids)
    for r in out:
        i = r.vec_id
        assert (r.cell, r.dist) == (assign[i], dist[i])
        assert r.cell_mean_dist == int(
            np.floor(sum_c[assign[i]] / n_c[assign[i]])
        )
        assert r.is_outlier == int(
            dist[i] * n_c[assign[i]] > OUTLIER_MULT * sum_c[assign[i]]
        )


def test_priority_sample_matches_python_recompute(spark):
    """Priority sampling must equal an arbitrary-precision Python
    recompute: md5 60-bit keys, the clamped quality-weight map over
    the classifier's own scores, exact integer priorities, and the
    global top-K with its deterministic tie-break."""
    import hashlib

    from ai_data_pipeline_spark.catalog import load_table
    from ai_data_pipeline_spark.operators.curation import (
        _PRI_SCALE,
        EPOCH_W_BASE,
        EPOCH_W_MAX,
        EPOCH_W_MIN,
        SAMPLE_K,
        corpus_priority_sample,
    )
    from ai_data_pipeline_spark.operators.stats import cls_linear_score

    score = {
        r.doc_id: r.score_ppm
        for r in cls_linear_score(spark, SF_DIR).select(
            "doc_id", "score_ppm"
        ).collect()
    }
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source"
    ).collect()
    pri = {}
    src = {}
    for r in docs:
        w = max(min(EPOCH_W_BASE + score.get(r.doc_id, 0), EPOCH_W_MAX),
                EPOCH_W_MIN)
        u = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:15], 16)
        pri[r.doc_id] = (w, u, (w * _PRI_SCALE) // (u + 1))
        src[r.doc_id] = r.source
    top = sorted(pri, key=lambda d: (-pri[d][2], d))[:SAMPLE_K]

    out = corpus_priority_sample(spark, SF_DIR).collect()
    assert [r.doc_id for r in sorted(out, key=lambda r: r.rk)] == top
    for r in out:
        w, u, p = pri[r.doc_id]
        assert (r.source, r.w_ppm, r.u60, int(r.priority)) == (
            src[r.doc_id], w, u, p,
        )


def test_doc_scorecard_composition_identities(spark):
    """The scorecard must agree row-for-row with its component signals
    recomputed independently: hashlib fingerprint groups, the LM and
    classifier operators' own outputs, the tier cuts, and the
    deterministic keep rule."""
    import hashlib
    import re
    from collections import defaultdict

    from ai_data_pipeline_spark.catalog import load_table
    from ai_data_pipeline_spark.operators.corpus import corpus_lm_quality
    from ai_data_pipeline_spark.operators.pipeline import (
        LM_HEAD_BITS_PPM,
        LM_TAIL_BITS_PPM,
        doc_scorecard,
    )
    from ai_data_pipeline_spark.operators.stats import cls_linear_score

    docs = load_table(spark, SF_DIR, "documents").collect()
    fp_groups = defaultdict(list)
    n_toks = {}
    meta = {}
    for r in docs:
        norm = re.sub(r"\s+", " ", r.text.lower().strip())
        fp_groups[hashlib.md5(norm.encode()).hexdigest()].append(r.doc_id)
        n_toks[r.doc_id] = len(re.split(r"\s+", r.text))
        meta[r.doc_id] = (r.source, r.lang)
    dup_loser = {
        d: int(len(g) >= 2 and d != min(g))
        for g in fp_groups.values()
        for d in g
    }
    lm = {
        r.doc_id: r.mean_bits_ppm
        for r in corpus_lm_quality(spark, SF_DIR).collect()
    }
    cls = {
        r.doc_id: r.score_ppm for r in cls_linear_score(spark, SF_DIR).collect()
    }

    rows = doc_scorecard(spark, SF_DIR).collect()
    assert {r.doc_id for r in rows} == set(n_toks)
    for r in rows:
        d = r.doc_id
        bits = lm.get(d)
        tier = (
            "nolm"
            if bits is None
            else "head"
            if bits <= LM_HEAD_BITS_PPM
            else "middle"
            if bits <= LM_TAIL_BITS_PPM
            else "tail"
        )
        assert (r.source, r.lang) == meta[d]
        assert r.n_tokens == n_toks[d]
        assert r.mean_bits_ppm == bits
        assert r.score_ppm == cls.get(d, 0)
        assert r.lm_tier == tier
        assert r.is_dup_loser == dup_loser[d]
        assert r.keep == int(dup_loser[d] == 0 and tier != "tail")


def test_pivot_daily_events_matches_python_recompute(spark):
    """The pivot must equal a per-day/type Counter over the raw events,
    with unseen types as 0 and the total covering only the pivoted
    types."""
    from collections import Counter

    from ai_data_pipeline_spark.catalog import load_table
    from ai_data_pipeline_spark.operators.temporal import (
        PIVOT_EVENT_TYPES,
        q_pivot_daily_events,
    )

    counts = Counter()
    for r in load_table(spark, SF_DIR, "events").select(
        "ts", "event_type"
    ).collect():
        counts[(r.ts.date(), r.event_type)] += 1
    days = {d for d, _ in counts}

    rows = q_pivot_daily_events(spark, SF_DIR).collect()
    assert {r.day for r in rows} == days
    for r in rows:
        per_type = [counts.get((r.day, t), 0) for t in PIVOT_EVENT_TYPES]
        assert [r[f"n_{t}"] for t in PIVOT_EVENT_TYPES] == per_type
        assert r.n_total == sum(per_type)


def test_csv_corrupt_ingest_channel_accounting(spark):
    """PERMISSIVE ingest must count poison lines instead of dropping
    them, keep their parseable fields, and leave good-row aggregates
    untouched — checked against a Decimal recompute from the parquet
    originals."""
    from decimal import ROUND_HALF_UP, Decimal

    from ai_data_pipeline_spark.catalog import load_table
    from ai_data_pipeline_spark.sources.readers import (
        CORRUPT_MOD,
        csv_corrupt_ingest,
    )

    cust = load_table(spark, SF_DIR, "customer").select(
        "c_custkey", "c_acctbal"
    ).collect()
    bad = [r for r in cust if r.c_custkey % CORRUPT_MOD == 0]
    good = [r for r in cust if r.c_custkey % CORRUPT_MOD != 0]
    q = Decimal("0.0001")
    want_bal = sum(
        Decimal(r.c_acctbal).quantize(q, ROUND_HALF_UP) for r in good
    )

    [row] = csv_corrupt_ingest(spark, SF_DIR).collect()
    assert (row.n_rows, row.n_bad, row.n_good) == (
        len(cust), len(bad), len(good),
    )
    assert row.sum_key_bad == (sum(r.c_custkey for r in bad) or None)
    assert abs(row.sum_bal_good - float(want_bal)) < 1e-6


def test_cls_roc_auc_matches_python_recompute(spark):
    """The banded AUC must equal a direct Python recompute of the
    tie-corrected Mann-Whitney statistic over the same CLS_BAND_PPM
    quantization of the scores, and the corpus totals must reconcile
    with the scoring pass."""
    from collections import Counter

    from ai_data_pipeline_spark.operators.stats import (
        CLS_BAND_PPM,
        cls_linear_score,
        cls_roc_auc,
    )
    import math

    scored = cls_linear_score(spark, SF_DIR).collect()
    bands = Counter()
    for r in scored:
        bands[math.floor(r.score_ppm / CLS_BAND_PPM)] += 1
    pos = Counter()
    for r in scored:
        if r.label == 1:
            pos[math.floor(r.score_ppm / CLS_BAND_PPM)] += 1

    p_total = sum(pos.values())
    n_total = len(scored)
    n_neg = n_total - p_total
    num = 0
    cum_pos = 0
    for b in sorted(bands, reverse=True):
        n_d, n_p = bands[b], pos.get(b, 0)
        cum_pos += n_p
        num += (n_d - n_p) * (2 * cum_pos - n_p)
    want_auc = (num * 1000000) // (2 * p_total * n_neg)

    [row] = cls_roc_auc(spark, SF_DIR).collect()
    assert (row.n_pos, row.n_neg, row.n_bands) == (
        p_total, n_neg, len(bands),
    )
    assert row.auc_ppm == want_auc
    # the trained classifier must rank better than chance on its own
    # training corpus (word presence carries real language signal)
    assert row.auc_ppm > 500000


def test_cls_confusion_matrix_reconciles_with_multiclass(spark):
    """The per-class scorecard must reconcile exactly with a Python
    tally of the multiclass predictions: supports sum to the corpus,
    predicted counts sum to the corpus, tp == per-class correct count,
    and every ppm ratio equals its integer-floor recompute."""
    from collections import Counter

    from ai_data_pipeline_spark.operators.stats import (
        cls_confusion_matrix,
        cls_linear_multiclass,
    )

    mc = cls_linear_multiclass(spark, SF_DIR).collect()
    support = Counter(r.actual_lang for r in mc)
    predicted = Counter(r.predicted_lang for r in mc)
    tp = Counter(
        r.actual_lang for r in mc if r.actual_lang == r.predicted_lang
    )

    rows = cls_confusion_matrix(spark, SF_DIR).collect()
    assert sorted(r.cls for r in rows) == sorted(
        set(support) | set(predicted)
    )
    assert sum(r.support for r in rows) == len(mc)
    assert sum(r.predicted_n for r in rows) == len(mc)
    for r in rows:
        assert r.support == support.get(r.cls, 0)
        assert r.predicted_n == predicted.get(r.cls, 0)
        assert r.tp == tp.get(r.cls, 0)
        if r.predicted_n:
            assert r.precision_ppm == r.tp * 1000000 // r.predicted_n
        else:
            assert r.precision_ppm is None
        assert r.recall_ppm == r.tp * 1000000 // r.support
        assert r.f1_ppm == 2 * r.tp * 1000000 // (r.support + r.predicted_n)


def test_dedup_lsh_recall_matches_python(spark):
    """The banding-audit row must equal a direct Python recompute of
    both pair universes: truth = df-capped trigram Jaccard >= 1/2
    pairs, candidates = pairs sharing at least one LSH band bucket."""
    import hashlib
    import re
    from collections import Counter, defaultdict
    from itertools import combinations

    from ai_data_pipeline_spark.operators.dedup import (
        JACCARD_DEN,
        JACCARD_NUM,
        MINHASH_BAND_R,
        MINHASH_K,
        NGRAM_DF_CAP,
        dedup_lsh_recall,
    )

    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .collect()
    }

    def shingles(text):
        toks = re.split(r"\s+", text)
        n = max(len(toks) - 2, 1)
        return {" ".join(toks[i : i + 3]) for i in range(n)}

    sh = {d: shingles(t) for d, t in docs.items()}
    df = Counter(s for ss in sh.values() for s in ss)
    capped = {d: {s for s in ss if df[s] <= NGRAM_DF_CAP} for d, ss in sh.items()}

    inv = defaultdict(set)
    for d, ss in capped.items():
        for s in ss:
            inv[s].add(d)
    pair_docs = {
        tuple(sorted(p))
        for members in inv.values()
        for p in combinations(members, 2)
    }
    truth = set()
    for a, b in pair_docs:
        inter = len(capped[a] & capped[b])
        un = len(capped[a]) + len(capped[b]) - inter
        if JACCARD_DEN * inter >= JACCARD_NUM * un:
            truth.add((a, b))

    def sig(ss):
        hh = [
            hashlib.md5(("0|" + s).encode()).hexdigest()
            + hashlib.md5(("1|" + s).encode()).hexdigest()
            for s in ss
        ]
        return [min(h[5 * j : 5 * j + 5] for h in hh) for j in range(MINHASH_K)]

    sg = {d: sig(ss) for d, ss in sh.items() if ss}
    n_bands = MINHASH_K // MINHASH_BAND_R
    cands = set()
    for bb in range(n_bands):
        buckets = defaultdict(set)
        for d, s in sg.items():
            buckets[
                tuple(s[bb * MINHASH_BAND_R : (bb + 1) * MINHASH_BAND_R])
            ].add(d)
        for members in buckets.values():
            for p in combinations(sorted(members), 2):
                cands.add(p)

    hit = truth & cands
    [row] = dedup_lsh_recall(spark, SF_DIR).collect()
    assert (row.n_truth, row.n_cands, row.n_hit) == (
        len(truth), len(cands), len(hit),
    )
    assert row.recall_ppm == (
        len(hit) * 1_000_000 // len(truth) if truth else None
    )
    assert row.precision_ppm == (
        len(hit) * 1_000_000 // len(cands) if cands else None
    )


def test_rake_keywords_match_python(spark):
    """Every emitted RAKE keyword row must equal a direct Python
    recompute: stopword-broken phrase islands, per-doc degree/frequency
    word scores floored to ppm, phrase sums, distinct-phrase top-3."""
    import re
    from collections import defaultdict

    from ai_data_pipeline_spark.operators.text import (
        RAKE_MAX_PHRASE,
        RAKE_STOPWORDS,
        RAKE_TOP_K,
        TOKEN_RX,
        text_keyword_rake,
    )

    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .collect()
    }
    stop = set(RAKE_STOPWORDS)
    want = []
    for d, t in docs.items():
        toks = re.findall(TOKEN_RX, t.lower())
        runs, cur = [], []
        for tok in toks:
            if tok in stop:
                if cur:
                    runs.append(cur)
                cur = []
            else:
                cur.append(tok)
        if cur:
            runs.append(cur)
        if not runs:
            continue
        deg, freq = defaultdict(int), defaultdict(int)
        for run in runs:
            for tok in run:
                deg[tok] += len(run)
                freq[tok] += 1
        w_ppm = {tok: deg[tok] * 1_000_000 // freq[tok] for tok in freq}
        by_phrase = defaultdict(list)
        for run in runs:
            if len(run) <= RAKE_MAX_PHRASE:
                by_phrase[" ".join(run)].append(
                    (len(run), sum(w_ppm[tok] for tok in run))
                )
        cand = [
            (phrase, occ[0][0], len(occ), occ[0][1])
            for phrase, occ in by_phrase.items()
        ]
        cand.sort(key=lambda x: (-x[3], x[0]))
        for rk, (phrase, n_words, n_occ, score) in enumerate(
            cand[:RAKE_TOP_K], start=1
        ):
            want.append((d, phrase, n_words, n_occ, score, rk))

    got = sorted(
        (r.doc_id, r.phrase, r.n_words, r.n_occ, r.score_ppm, r.rk)
        for r in text_keyword_rake(spark, SF_DIR).collect()
    )
    assert got == sorted(want)


def test_ann_ivf_recall_reconciles_component_rankings(spark):
    """The IVF recall audit must equal a direct reconciliation of its
    two component rankings (whose values are pinned by their own
    recompute tests): per query, n_exact = |exact top-k|, n_ivf =
    |IVF top-k|, n_hit = overlap, recall floored to ppm."""
    from collections import defaultdict

    from ai_data_pipeline_spark.operators.similarity import (
        TOP_K,
        ann_cosine_topk,
        ann_ivf,
        ann_ivf_recall,
    )

    exact = defaultdict(set)
    for r in ann_cosine_topk(spark, SF_DIR).collect():
        exact[r.q_id].add(r.vec_id)
    ivf = defaultdict(set)
    for r in ann_ivf(spark, SF_DIR).collect():
        ivf[r.q_id].add(r.vec_id)

    rows = {r.q_id: r for r in ann_ivf_recall(spark, SF_DIR).collect()}
    assert set(rows) == set(exact) | set(ivf)
    for q, r in rows.items():
        hit = len(exact[q] & ivf[q])
        assert (r.n_exact, r.n_ivf, r.n_hit) == (
            len(exact[q]), len(ivf[q]), hit,
        )
        assert r.n_exact == TOP_K
        assert r.recall_ppm == hit * 1_000_000 // len(exact[q])


def test_er_linkage_eval_matches_python(spark):
    """The linkage audit must equal a direct reconciliation of the
    linkage output against the planted ground truth (dirty_id IS the
    master key it was dirtied from)."""
    from ai_data_pipeline_spark.operators.linkage import (
        er_fuzzy_linkage,
        er_linkage_eval,
    )

    links = er_fuzzy_linkage(spark, SF_DIR).collect()
    n_dirty = (
        load_table(spark, SF_DIR, "customer")
        .filter("c_custkey % 3 = 0")
        .count()
    )
    n_linked = len(links)
    n_correct = sum(1 for r in links if r.matched_custkey == r.dirty_id)

    [row] = er_linkage_eval(spark, SF_DIR).collect()
    assert (row.n_dirty, row.n_linked, row.n_correct) == (
        n_dirty, n_linked, n_correct,
    )
    assert row.precision_ppm == n_correct * 1_000_000 // n_linked
    assert row.recall_ppm == n_correct * 1_000_000 // n_dirty
    assert row.f1_ppm == 2 * n_correct * 1_000_000 // (n_linked + n_dirty)
    # the planted dirtying (one char truncated) must be recoverable:
    # blocking + distance-1 linkage should be near-perfect on this data
    assert row.recall_ppm > 900_000


def test_retrieval_mmr_select_matches_python_greedy(spark):
    """The MMR trajectory must equal an independent Python greedy over
    the same pool: same per-dim cosine fold, same micro-unit
    conversion, same λ·rel − (1−λ)·maxsim scoring with (score desc,
    vec_id asc) ties — every pick, including its rel_u / maxsim_u /
    score provenance columns."""
    from ai_data_pipeline_spark.operators.retrieval import (
        MMR_LAMBDA_PPM,
        MMR_N_QUERIES,
        MMR_POOL,
        MMR_SELECT,
        retrieval_mmr_select,
    )

    emb = {
        r["vec_id"]: r["embedding"]
        for r in load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }

    def cos(a, b):
        acc = na = nb = 0.0
        for i in range(len(a)):
            acc += a[i] * b[i]
            na += a[i] * a[i]
            nb += b[i] * b[i]
        return round(acc / (na**0.5 * nb**0.5), 6)

    def u(c):
        return int(round(c * 1_000_000))

    lam, lam_c = MMR_LAMBDA_PPM, 1_000_000 - MMR_LAMBDA_PPM
    corpus = sorted(v for v in emb if v >= MMR_N_QUERIES)
    want = []
    for q in sorted(v for v in emb if v < MMR_N_QUERIES):
        pool = sorted(corpus, key=lambda v: (-cos(emb[q], emb[v]), v))[
            :MMR_POOL
        ]
        rel = {d: u(cos(emb[q], emb[d])) for d in pool}
        selp = []
        while len(selp) < min(MMR_SELECT, len(pool)):
            best = None
            for d in pool:
                if d in selp:
                    continue
                ms = max((u(cos(emb[d], emb[s])) for s in selp), default=0)
                score = lam * rel[d] - lam_c * ms if selp else lam * rel[d]
                key = (score, -d)
                if best is None or key > best[0]:
                    best = (key, d, ms, score)
            want.append(
                (q, len(selp) + 1, best[1], rel[best[1]], best[2], best[3])
            )
            selp.append(best[1])

    got = sorted(
        (r["q_id"], r["pick"], r["vec_id"], r["rel_u"], r["maxsim_u"],
         r["mmr_score"])
        for r in retrieval_mmr_select(spark, SF_DIR).collect()
    )
    assert got == sorted(want)
    # picks are distinct per query and pick 1 is the relevance argmax
    per_q = {}
    for q_id, pick, vec_id, rel_u, _, _ in got:
        per_q.setdefault(q_id, []).append(vec_id)
    for q_id, vids in per_q.items():
        assert len(vids) == len(set(vids)) == MMR_SELECT


def test_cls_score_percentile_matches_python_recompute(spark):
    """Per-doc percentile must equal the strictly-lower-band count over
    total from a Python recompute of the same banding, and must be
    non-decreasing in band."""
    import math

    from ai_data_pipeline_spark.operators.stats import (
        PCT_BAND_PPM,
        cls_linear_score,
        cls_score_percentile,
    )

    scored = {
        r.doc_id: r.score_ppm
        for r in cls_linear_score(spark, SF_DIR).collect()
    }
    n_total = len(scored)
    from collections import Counter

    hist = Counter(math.floor(s / PCT_BAND_PPM) for s in scored.values())
    below = {}
    acc = 0
    for b in sorted(hist):
        below[b] = acc
        acc += hist[b]

    rows = cls_score_percentile(spark, SF_DIR).collect()
    assert len(rows) == n_total
    prev = None
    for r in sorted(rows, key=lambda r: (r.band, r.doc_id)):
        b = math.floor(scored[r.doc_id] / PCT_BAND_PPM)
        assert r.band == b and r.n_below == below[b]
        assert r.pct_ppm == below[b] * 1_000_000 // n_total
        if prev is not None:
            assert r.pct_ppm >= prev if r.band >= prev_band else True
        prev, prev_band = r.pct_ppm, r.band


def test_pipeline_curation_funnel_reconciles_with_scorecard(spark):
    """The funnel rows must tally exactly with a Python pass over the
    joined scorecard + percentile relations, stages must be monotone
    non-increasing, and ingest must read 10^6 ppm."""
    from ai_data_pipeline_spark.operators.pipeline import (
        CLS_FUNNEL_PCT_PPM,
        curation_funnel,
        doc_scorecard,
    )
    from ai_data_pipeline_spark.operators.stats import cls_score_percentile

    pct = {
        r.doc_id: r.pct_ppm
        for r in cls_score_percentile(spark, SF_DIR).collect()
    }
    sc = doc_scorecard(spark, SF_DIR).collect()
    d = [0] * 4
    t = [0] * 4
    for r in sc:
        flags = [
            True,
            r.is_dup_loser == 0,
            r.is_dup_loser == 0 and r.lm_tier != "tail",
            r.is_dup_loser == 0
            and r.lm_tier != "tail"
            and pct.get(r.doc_id) is not None
            and pct[r.doc_id] >= CLS_FUNNEL_PCT_PPM,
        ]
        for i, f in enumerate(flags):
            if f:
                d[i] += 1
                t[i] += r.n_tokens

    rows = {r.stage_id: r for r in curation_funnel(spark, SF_DIR).collect()}
    assert len(rows) == 4
    for i in range(4):
        r = rows[i + 1]
        assert (r.n_docs, r.n_tokens) == (d[i], t[i])
        assert r.docs_retained_ppm == d[i] * 1_000_000 // d[0]
        assert r.tokens_retained_ppm == t[i] * 1_000_000 // t[0]
    assert rows[1].docs_retained_ppm == 1_000_000
    assert d[0] >= d[1] >= d[2] >= d[3] > 0


def test_emb_covariance_stats_matches_python_exact(spark):
    """All D(D+1)/2 sufficient-statistic rows must equal an exact
    big-int Python recompute over the same fixed-point quantization,
    and the derived covariance matrix must be symmetric PSD and match
    numpy's population covariance of the quantized data."""
    import math

    import numpy as np

    from ai_data_pipeline_spark.operators.similarity import (
        EMB_DIM,
        emb_covariance_stats,
    )

    vecs = [
        [int(math.floor(float(x) * 1_000_000)) for x in r.embedding]
        for r in load_table(spark, SF_DIR, "embeddings")
        .select("embedding")
        .collect()
    ]
    n = len(vecs)
    a = np.array(vecs, dtype=object)  # exact Python ints
    rows = emb_covariance_stats(spark, SF_DIR).collect()
    assert len(rows) == EMB_DIM * (EMB_DIM + 1) // 2
    cov = np.zeros((EMB_DIM, EMB_DIM))
    for r in rows:
        i, j = r.i, r.j
        assert i <= j and r.n == n
        sx = sum(int(v[i]) for v in vecs)
        sy = sum(int(v[j]) for v in vecs)
        sxy = sum(int(v[i]) * int(v[j]) for v in vecs)
        assert (int(r.s_x), int(r.s_y), int(r.s_xy)) == (sx, sy, sxy)
        c = (n * sxy - sx * sy) / (n * n)
        cov[i, j] = cov[j, i] = c
    want = np.cov(np.array(vecs, dtype=np.float64).T, bias=True)
    assert np.allclose(cov, want, rtol=1e-9, atol=1e-3)
    eig = np.linalg.eigvalsh(cov)
    assert eig.min() > -1e-6 * max(1.0, eig.max())


def test_corpus_pii_scan_matches_python_recompute(spark):
    """Every flagged row's typed counts, action, and redaction length
    accounting must equal a Python `re` recompute of the same planted
    augmentation — and the RAW corpus must stay PII-free (the planting
    assumption: all matches come from the planted channels)."""
    import re as _re

    from ai_data_pipeline_spark.operators.redact import (
        EMAIL_RX,
        IP_RX,
        PHONE_STRICT_RX,
        PII_EMAIL_MOD,
        PII_IP_MOD,
        PII_PHONE_MOD,
        PII_SSN_MOD,
        SSN_RX,
        corpus_pii_scan,
    )

    docs = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "lang", "text")
        .collect()
    )
    rx = {
        "n_email": _re.compile(EMAIL_RX),
        "n_ssn": _re.compile(SSN_RX),
        "n_phone": _re.compile(PHONE_STRICT_RX),
        "n_ip": _re.compile(IP_RX),
    }
    mask = {
        "n_email": "[EMAIL]",
        "n_ssn": "[SSN]",
        "n_phone": "[PHONE]",
        "n_ip": "[IP]",
    }
    want = {}
    for r in docs:
        for p in rx.values():  # raw corpus must be PII-free
            assert not p.search(r.text), (r.doc_id, p.pattern)
        a = r.text
        if r.doc_id % PII_EMAIL_MOD == 0:
            a += f" contact user{r.doc_id}@example.com"
        if r.doc_id % PII_PHONE_MOD == 0:
            a += f" call 415-555-{r.doc_id % 10000:04d}"
        if r.doc_id % PII_IP_MOD == 0:
            a += f" host 10.0.{r.doc_id % 256}.{(r.doc_id * 7) % 256}"
        if r.doc_id % PII_SSN_MOD == 0:
            a += f" id 123-45-{r.doc_id % 10000:04d}"
        counts = {k: len(p.findall(a)) for k, p in rx.items()}
        total = sum(counts.values())
        if total == 0:
            continue
        red = a
        for k in ("n_email", "n_ssn", "n_phone", "n_ip"):
            red = rx[k].sub(mask[k], red)
        want[r.doc_id] = (
            r.lang,
            counts["n_email"],
            counts["n_phone"],
            counts["n_ip"],
            counts["n_ssn"],
            total,
            "drop" if counts["n_ssn"] > 0 else "redact",
            len(a),
            len(red),
        )

    got = {
        r.doc_id: (
            r.lang,
            r.n_email,
            r.n_phone,
            r.n_ip,
            r.n_ssn,
            r.pii_total,
            r.action,
            r.aug_len,
            r.redacted_len,
        )
        for r in corpus_pii_scan(spark, SF_DIR).collect()
    }
    assert got == want
    # each planted channel contributes EXACTLY one typed match — the
    # four patterns never cross-match each other's planted strings
    for doc_id, row in got.items():
        assert row[1] == (1 if doc_id % PII_EMAIL_MOD == 0 else 0)
        assert row[2] == (1 if doc_id % PII_PHONE_MOD == 0 else 0)
        assert row[3] == (1 if doc_id % PII_IP_MOD == 0 else 0)
        assert row[4] == (1 if doc_id % PII_SSN_MOD == 0 else 0)


def test_partition_anomaly_flags_planted_outage(spark):
    """The deviation predicate must actually FIRE (the driver testdata
    is uniform by day, so the oracle alone only proves the all-quiet
    path): plant 10 steady days of 100 events, then a fully MISSING
    day (the spine must surface it as an n_rows=0 row and flag 100%
    loss), an outage day at 40 and a replay day at 220 (both beyond
    ±50% of the trailing mean → flags), and check the first day
    reports prior_days=0 with no flag (no baseline is not an
    anomaly)."""
    import datetime

    from ai_data_pipeline_spark.operators import quality as Q

    base = datetime.datetime(2024, 3, 1)
    rows = []
    day_counts = [100] * 10 + [0, 40, 220]  # day 10 fully missing
    eid = 0
    for d, n in enumerate(day_counts):
        for i in range(n):
            rows.append((eid, base + datetime.timedelta(days=d), eid % 37))
            eid += 1
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    real_load = Q.load_table
    try:
        Q.load_table = lambda s, sf, t: ev
        out = {r["day"]: r for r in Q.dq_partition_anomaly(spark, "x").collect()}
    finally:
        Q.load_table = real_load
    assert len(out) == len(day_counts)  # spine includes the missing day
    first, missing, outage, replay = (
        "2024-03-01", "2024-03-11", "2024-03-12", "2024-03-13",
    )
    assert out[first]["prior_days"] == 0
    assert out[first]["flag_volume_anomaly"] == 0
    assert out[missing]["n_rows"] == 0
    assert out[missing]["flag_volume_anomaly"] == 1  # 100% loss flags
    assert out[outage]["flag_volume_anomaly"] == 1  # 40 vs mean ~86
    assert out[replay]["flag_volume_anomaly"] == 1  # 220 vs mean ~77
    quiet = [d for d in out if d not in (first, missing, outage, replay)]
    assert all(out[d]["flag_volume_anomaly"] == 0 for d in quiet)


def test_tombstone_purge_matches_python_recompute(spark):
    """Per-language purge accounting must equal a Python recompute of
    the fingerprint propagation, satisfy purged+retained=docs and
    purged>=requested per language, and show real propagation
    (corpus-wide n_purged > n_requested) on this testdata."""
    import hashlib
    import re as _re

    from ai_data_pipeline_spark.operators.curation import (
        TOMBSTONE_MOD,
        TOMBSTONE_PREFIX_TOKENS,
        corpus_tombstone_purge,
    )

    docs = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "lang", "text")
        .collect()
    )
    fps, langs, lens = {}, {}, {}
    for r in docs:
        toks = _re.split(r"\s+", r.text.strip().lower())
        key = " ".join(toks[:TOMBSTONE_PREFIX_TOKENS])
        fps[r.doc_id] = hashlib.md5(key.encode()).hexdigest()
        langs[r.doc_id] = r.lang
        lens[r.doc_id] = len(r.text)
    req_fps = {f for d, f in fps.items() if d % TOMBSTONE_MOD == 0}
    want = {}
    for d, f in fps.items():
        lg = langs[d]
        n_docs, n_req, n_pur, chars = want.get(lg, (0, 0, 0, 0))
        purged = f in req_fps
        want[lg] = (
            n_docs + 1,
            n_req + (d % TOMBSTONE_MOD == 0),
            n_pur + purged,
            chars + (lens[d] if purged else 0),
        )

    rows = corpus_tombstone_purge(spark, SF_DIR).collect()
    assert {r.lang for r in rows} == set(want)
    for r in rows:
        n_docs, n_req, n_pur, chars = want[r.lang]
        assert (r.n_docs, r.n_requested, r.n_purged) == (n_docs, n_req, n_pur)
        assert r.chars_purged == chars
        assert r.n_purged + r.n_retained == r.n_docs
        assert r.n_purged >= r.n_requested
        assert r.purged_ppm == r.n_purged * 1_000_000 // r.n_docs
    assert sum(r.n_purged for r in rows) > sum(r.n_requested for r in rows)


def test_dq_l_diversity_matches_python_recompute(spark):
    """Each QI class's distinct-l, size, and dominant-value share must
    equal a Python recompute of the same banding, and every class must
    satisfy l_distinct <= class_size and top_share_ppm >= 1e6/l."""
    import math
    from collections import Counter, defaultdict

    from ai_data_pipeline_spark.operators.quality import (
        L_DIV,
        SENS_BAND,
        dq_l_diversity,
    )

    rows = (
        load_table(spark, SF_DIR, "customer")
        .select("c_nationkey", "c_mktsegment", "c_acctbal")
        .collect()
    )
    classes = defaultdict(Counter)
    for r in rows:
        classes[(r.c_nationkey, r.c_mktsegment)][
            math.floor(r.c_acctbal / SENS_BAND)
        ] += 1

    got = {
        (r.c_nationkey, r.c_mktsegment): r
        for r in dq_l_diversity(spark, SF_DIR).collect()
    }
    assert set(got) == set(classes)
    for key, cnt in classes.items():
        r = got[key]
        size = sum(cnt.values())
        assert r.class_size == size
        assert r.l_distinct == len(cnt)
        assert r.flag_below_l == int(len(cnt) < L_DIV)
        assert r.top_share_ppm == max(cnt.values()) * 1_000_000 // size
        assert r.l_distinct <= r.class_size
        # dominant share can't be below the uniform floor (both floored)
        assert r.top_share_ppm >= 1_000_000 // r.l_distinct


def test_zonemap_skip_audit_matches_python_recompute(spark):
    """Per-(layout, predicate) zone and row skip counts must equal a
    Python recompute of the zone min/max simulation, and the audit
    must reproduce its structural finding: the clustering-key range
    prunes zones under the clustered layout only, and non-key
    predicates prune nothing under either layout on this data."""
    from collections import defaultdict

    from ai_data_pipeline_spark.operators.maintenance import (
        ZONE_SPAN,
        zonemap_skip_audit,
    )

    rows = (
        load_table(spark, SF_DIR, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice")
        .collect()
    )
    n_zones = (max(r.l_orderkey for r in rows) + ZONE_SPAN) // ZONE_SPAN
    zones = defaultdict(list)
    for r in rows:
        zones[("clustered", r.l_orderkey // ZONE_SPAN)].append(r)
        zones[("scattered", r.l_orderkey % n_zones)].append(r)
    want = defaultdict(lambda: [0, 0, 0])  # (layout, pid) -> [nz, zskip, rskip]
    for (layout, _), zr in zones.items():
        min_ok = min(r.l_orderkey for r in zr)
        max_ok = max(r.l_orderkey for r in zr)
        max_q = max(r.l_quantity for r in zr)
        min_q = min(r.l_quantity for r in zr)
        min_p = min(r.l_extendedprice for r in zr)
        skips = {
            1: max_ok < 1200 or min_ok > 3399,
            2: max_q < 48,
            3: min_p >= 2000,
            4: min_q > 2,
        }
        for pid, sk in skips.items():
            acc = want[(layout, pid)]
            acc[0] += 1
            acc[1] += sk
            acc[2] += len(zr) if sk else 0

    got = {
        (r.layout, r.pred_id): r for r in zonemap_skip_audit(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for key, (nz, zskip, rskip) in want.items():
        r = got[key]
        assert (r.n_zones, r.zones_skipped, r.rows_skipped) == (nz, zskip, rskip)
        assert r.skip_ppm == zskip * 1_000_000 // nz
    assert got[("clustered", 1)].zones_skipped > 0
    assert got[("scattered", 1)].zones_skipped == 0
    for pid in (2, 3, 4):
        assert got[("clustered", pid)].zones_skipped == 0
        assert got[("scattered", pid)].zones_skipped == 0


def test_fd_discovery_matches_python_recompute(spark):
    """Every candidate row's exact violation accounting must equal a
    Python recompute over the collected table, the PK-determinant
    control must hold, and the known non-dependencies must fail with
    strength < 1."""
    from collections import defaultdict

    from ai_data_pipeline_spark.operators.vault import (
        FD_CANDIDATES,
        fd_discovery,
    )

    got = {
        (r.table_name, r.determinant, r.dependent): r
        for r in fd_discovery(spark, SF_DIR).collect()
    }
    assert set(got) == set(FD_CANDIDATES)
    for t, a, b in FD_CANDIDATES:
        vals = defaultdict(set)
        for row in load_table(spark, SF_DIR, t).select(a, b).collect():
            vals[row[0]].add(row[1])
        r = got[(t, a, b)]
        n_keys = len(vals)
        n_viol = sum(1 for s in vals.values() if len(s) > 1)
        assert r.n_keys == n_keys
        assert r.n_pairs == sum(len(s) for s in vals.values())
        assert r.n_violating_keys == n_viol
        assert r.max_fanout == max(len(s) for s in vals.values())
        assert r.fd_holds == int(n_viol == 0)
        assert r.strength_ppm == (n_keys - n_viol) * 1_000_000 // n_keys
    # structural findings on this data: the PK control holds, the
    # low-cardinality pairs fail in both directions
    assert got[("customer", "c_custkey", "c_mktsegment")].fd_holds == 1
    assert got[("customer", "c_nationkey", "c_mktsegment")].fd_holds == 0
    assert got[("customer", "c_mktsegment", "c_nationkey")].fd_holds == 0


def test_corpus_split_leakage_matches_python_recompute(spark):
    """Per-split leak accounting must equal a Python recompute of the
    same hash split + shingle windows (short docs contribute their
    full sequence), and the audit must find real but partial leakage
    on this data."""
    import hashlib
    import re as _re
    from collections import defaultdict

    from ai_data_pipeline_spark.operators.corpus import (
        LEAK_SHINGLE_K,
        SPLIT_PCT,
        corpus_split_leakage,
    )

    docs = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .collect()
    )

    def doc_split(doc_id: int) -> str:
        b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:4], 16) % 100
        return (
            "train"
            if b < SPLIT_PCT[0]
            else ("val" if b < SPLIT_PCT[1] else "test")
        )

    def windows(text: str) -> set:
        toks = _re.split(r"\s+", text.lower())
        n = max(len(toks) - LEAK_SHINGLE_K + 1, 1)
        return {
            hashlib.md5(
                " ".join(toks[i : i + LEAK_SHINGLE_K]).encode()
            ).hexdigest()
            for i in range(n)
        }

    train_h = set()
    held = []
    for r in docs:
        sp = doc_split(r.doc_id)
        ws = windows(r.text)
        if sp == "train":
            train_h |= ws
        else:
            held.append((sp, r.doc_id, ws))
    want = defaultdict(lambda: [0, 0, set()])  # split -> [docs, leaked, shingles]
    for sp, _, ws in held:
        leaked = ws & train_h
        acc = want[sp]
        acc[0] += 1
        acc[1] += bool(leaked)
        acc[2] |= leaked

    got = {r.split: r for r in corpus_split_leakage(spark, SF_DIR).collect()}
    assert set(got) == set(want)
    for sp, (n_docs, n_leaked, shingles) in want.items():
        r = got[sp]
        assert (r.n_docs, r.n_leaked_docs) == (n_docs, n_leaked)
        assert r.n_leaked_shingles == len(shingles)
        assert r.leak_ppm == n_leaked * 1_000_000 // n_docs
    # real but partial leakage: the audit discriminates on this corpus
    assert sum(r.n_leaked_docs for r in got.values()) > 0
    assert any(r.n_leaked_docs < r.n_docs for r in got.values())


def test_emb_drift_monitor_matches_python_recompute(spark):
    """Per-dim drift must equal a Python recompute of the banded
    two-sample chi-square with floor-of-exact-rational terms, and a
    dimension compared against itself must read zero drift."""
    import math
    from collections import Counter

    from ai_data_pipeline_spark.operators.similarity import (
        DRIFT_BAND_W,
        EMB_DIM,
        emb_drift_monitor,
    )

    rows = (
        load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    nr = sum(1 for r in rows if r.vec_id % 2 == 0)
    nc = len(rows) - nr
    counts = {d: Counter() for d in range(EMB_DIM)}  # band -> [ref, cand]
    for r in rows:
        ref = r.vec_id % 2 == 0
        for d, x in enumerate(r.embedding):
            band = math.floor(float(x) * 1_000_000 / DRIFT_BAND_W)
            counts[d][(band, ref)] += 1

    got = {r.dim: r for r in emb_drift_monitor(spark, SF_DIR).collect()}
    assert set(got) == set(range(EMB_DIM))
    for d in range(EMB_DIM):
        bands = {b for b, _ in counts[d]}
        want_ppm = 0
        for b in bands:
            n_ref = counts[d][(b, True)]
            n_cand = counts[d][(b, False)]
            diff = n_ref * nc - n_cand * nr
            want_ppm += diff * diff * 1_000_000 // ((n_ref + n_cand) * nr * nc)
        r = got[d]
        assert r.n_bands == len(bands)
        assert r.drift_ppm == want_ppm
        assert r.drift_ppm >= 0
    # identical populations would give 0 on every band; the halves here
    # are random splits of one population, so drift must be small
    # relative to a full-population statistic but need not be zero
    assert all(r.drift_ppm >= 0 for r in got.values())


def test_priority_div_expr_is_decimal_and_exact_beyond_int64(spark):
    """The round-8 driver red: priority must be DECIMAL(38,0) (never
    Spark's long-typed `div`) and exact even where the quotient
    overflows int64 — w=2·10⁶, u60=0 gives 2·10²¹ > 2⁶³−1. Pins the
    expression against Python arbitrary-precision floor division over
    the full operand envelope (tiny/huge denominators, min/max
    weights)."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from ai_data_pipeline_spark.operators.curation import (
        _PRI_SCALE,
        priority_div_expr,
    )

    cases = [
        (2_000_000, 0),            # quotient 2e21: beyond int64
        (2_000_000, 216),          # just past the old overflow edge
        (100_000, 0),
        (100_000, (1 << 60) - 1),  # max 60-bit key
        (1_234_567, 987_654_321_987_654_321),
        (2_000_000, (1 << 60) - 1),
        (1, 1),
    ]
    df = (
        spark.createDataFrame(cases, "w_ppm long, u60 long")
        .withColumn(
            "_num", F.expr(f"cast(w_ppm as decimal(38,0)) * {_PRI_SCALE}")
        )
        .withColumn("priority", priority_div_expr())
    )
    assert dict(df.dtypes)["priority"] == "decimal(38,0)"
    for r in df.collect():
        want = (r.w_ppm * _PRI_SCALE) // (r.u60 + 1)
        assert r.priority == Decimal(want), (r.w_ppm, r.u60)


def test_logstar_cc_equals_plain_propagation(spark):
    """The alternating large-star/small-star components must equal the
    plain min-label propagation label-for-label (same component minima,
    same sizes) — two independent algorithms over the same near-dup
    pair relation."""
    from ai_data_pipeline_spark.operators.clustering import (
        dedup_clusters,
        dedup_clusters_logstar,
    )

    plain = sorted(map(tuple, dedup_clusters(spark, SF_DIR).collect()))
    star = sorted(map(tuple, dedup_clusters_logstar(spark, SF_DIR).collect()))
    assert plain == star


def test_logstar_cc_deep_path_converges_in_log_rounds(spark):
    """A 64-node path component has diameter 63 — plain propagation
    needs ~63 rounds, the alternating-star algorithm must finish within
    its LOGSTAR_MAX_ITERS bound and still label every node with the
    component minimum. Pins the O(log d) claim on the worst-case shape
    (driven through the same rewrite loop via a monkeypatched pair
    relation)."""
    from pyspark.sql import functions as F

    from ai_data_pipeline_spark.operators import clustering as C
    from ai_data_pipeline_spark.session import session_scoped_cache

    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "doc_a long, doc_b long"
    )
    cache = session_scoped_cache(spark, "clustering_pairs")
    key = "__logstar_path_test__"
    cache[key] = pairs.localCheckpoint()
    real_load = C.load_table
    docs = spark.range(1, n + 1).select(F.col("id").alias("doc_id"))
    try:
        C.load_table = lambda s, d, t: docs
        out = C.dedup_clusters_logstar(spark, key).collect()
    finally:
        C.load_table = real_load
        cache.pop(key, None)
    assert len(out) == n
    assert all(r.cluster_id == 1 and r.cluster_size == n for r in out)


def test_logstar_cc_raises_on_round_cap_exhaustion(spark):
    """If the round cap is exhausted before the star-forest fixpoint is
    PROVEN, the operator must raise — never silently emit pre-fixpoint
    labels (ADVICE r9: a deep-enough component outruns any fixed cap,
    and the old checksum signature could collide). Driven by capping
    the loop at 1 round on a 64-node path."""
    import pytest
    from pyspark.sql import functions as F

    from ai_data_pipeline_spark.operators import clustering as C
    from ai_data_pipeline_spark.session import session_scoped_cache

    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "doc_a long, doc_b long"
    )
    cache = session_scoped_cache(spark, "clustering_pairs")
    key = "__logstar_exhaust_test__"
    cache[key] = pairs.localCheckpoint()
    real_load, real_cap = C.load_table, C.LOGSTAR_MAX_ITERS
    docs = spark.range(1, n + 1).select(F.col("id").alias("doc_id"))
    try:
        C.load_table = lambda s, d, t: docs
        C.LOGSTAR_MAX_ITERS = 1
        with pytest.raises(RuntimeError, match="no star-forest fixpoint"):
            C.dedup_clusters_logstar(spark, key)
    finally:
        C.load_table = real_load
        C.LOGSTAR_MAX_ITERS = real_cap
        cache.pop(key, None)


def test_reliability_bins_match_python_tally(spark):
    """Per-band positive rates and inversion flags must equal an exact
    Python recompute from the classifier's own scored relation."""
    from ai_data_pipeline_spark.operators.stats import (
        CLS_BAND_PPM,
        cls_linear_score,
        cls_reliability_bins,
    )

    scored = cls_linear_score(spark, SF_DIR).collect()
    import math
    from collections import defaultdict

    tally = defaultdict(lambda: [0, 0, 0])
    for r in scored:
        b = math.floor(r.score_ppm / CLS_BAND_PPM)
        tally[b][0] += 1
        tally[b][1] += r.label
        tally[b][2] += r.score_ppm
    want = {}
    prev = None
    for b in sorted(tally):
        n, p, s = tally[b]
        rate = (p * 1_000_000) // n
        want[b] = (n, p, s, rate, int(prev is not None and rate < prev))
        prev = rate
    got = {
        r.band: (r.n_docs, r.n_pos, int(r.sum_score), r.pos_rate_ppm,
                 r.flag_inversion)
        for r in cls_reliability_bins(spark, SF_DIR).collect()
    }
    assert got == want


def test_ivf_cell_balance_invariants(spark):
    """Every centroid appears exactly once; member counts total the
    corpus population; load factors are the exact integer identity
    n*N_CELLS*1e6 // total."""
    from ai_data_pipeline_spark.operators.similarity import (
        N_CELLS,
        N_QUERIES,
        ann_ivf_cell_balance,
        _vectors,
    )

    rows = ann_ivf_cell_balance(spark, SF_DIR).collect()
    assert len(rows) == N_CELLS
    assert len({r.cell_id for r in rows}) == N_CELLS
    total = sum(r.n_vecs for r in rows)
    n_corpus = _vectors(spark, SF_DIR).filter(f"vec_id >= {N_QUERIES}").count()
    assert total == n_corpus
    for r in rows:
        assert r.share_ppm == (r.n_vecs * 1_000_000) // total
        assert r.load_ppm == (r.n_vecs * N_CELLS * 1_000_000) // total


def test_dataset_card_matches_python_recompute(spark):
    """The one-row dataset card must equal an exact Python recompute
    over the collected corpus (including the whitespace-token count and
    the exact-duplicate ppm)."""
    import re

    from ai_data_pipeline_spark.operators.corpus import corpus_dataset_card

    docs = load_table(spark, SF_DIR, "documents").collect()
    n = len(docs)
    texts = [r.text for r in docs]
    want = (
        n,
        len({r.source for r in docs}),
        len({r.lang for r in docs}),
        len(set(texts)),
        sum(r.n_chars for r in docs),
        sum(len(re.split(r"\s+", t.strip())) for t in texts),
        sum(1 for t in texts if not t.strip()),
        ((n - len(set(texts))) * 1_000_000) // n if n else 0,
    )
    r = corpus_dataset_card(spark, SF_DIR).collect()[0]
    got = (
        r.n_docs, r.n_sources, r.n_langs, r.n_distinct_texts,
        int(r.total_chars), int(r.total_ws_tokens), r.n_empty,
        r.exact_dup_ppm,
    )
    assert got == want


def test_dim_variance_rank_matches_numpy(spark):
    """The per-dimension variance ranking must equal numpy's exact
    integer recompute over the quantized embedding matrix (same ×10⁶
    fixed-point), with n constant across dims and a total rank order."""
    import numpy as np

    from ai_data_pipeline_spark.operators.similarity import (
        emb_dim_variance_rank,
    )

    vecs = np.array(
        [
            np.floor(np.asarray(r.embedding, dtype=np.float64) * 1_000_000)
            for r in load_table(spark, SF_DIR, "embeddings").collect()
        ],
        dtype=np.int64,
    )
    n = len(vecs)
    var_num = {
        d: int(n) * int((vecs[:, d].astype(object) ** 2).sum())
        - int(vecs[:, d].sum()) ** 2
        for d in range(vecs.shape[1])
    }
    order = sorted(var_num, key=lambda d: (-var_num[d], d))
    want_rank = {d: i + 1 for i, d in enumerate(order)}
    rows = emb_dim_variance_rank(spark, SF_DIR).collect()
    assert len(rows) == vecs.shape[1]
    for r in rows:
        assert r.n == n
        assert int(r.var_num) == var_num[r.dim], r.dim
        assert r.rk == want_rank[r.dim]
        assert r.flag_dead == int(var_num[r.dim] == 0)


def test_mg_summary_theorems_against_python_model(spark):
    """The canonical Misra-Gries summary must satisfy, against an
    independent driver-side model of the exact counts: (a) at most K
    survivors per scope, (b) lower bound mg_count <= c_exact with gap
    <= err_budget, (c) err_budget * (K+1) <= scope mass, and
    (d) completeness - every item with c_exact > err_budget survives.
    Checked per event_type on the real fixture, with the model counts
    computed by collecting the raw table (independent of the query's
    own aggregation path)."""
    from collections import Counter

    from ai_data_pipeline_spark.catalog import load_table
    from ai_data_pipeline_spark.operators.sketches import MG_K, sketch_mg_topk
    from tests.conftest import SF_DIR

    model: dict[str, Counter] = {}
    for r in load_table(spark, SF_DIR, "events").select(
        "event_type", "user_id"
    ).collect():
        model.setdefault(r.event_type, Counter())[r.user_id] += 1

    rows = sketch_mg_topk(spark, SF_DIR).collect()
    assert rows
    by_scope: dict[str, list] = {}
    for r in rows:
        by_scope.setdefault(r.event_type, []).append(r)
    for et, scope_rows in by_scope.items():
        counts = model[et]
        n = sum(counts.values())
        assert len(scope_rows) <= MG_K
        budgets = {r.err_budget for r in scope_rows}
        assert len(budgets) == 1  # one threshold per scope
        t = budgets.pop()
        assert t * (MG_K + 1) <= n
        survivors = set()
        for r in scope_rows:
            assert r.c_exact == counts[r.user_id]
            assert r.mg_count == r.c_exact - t
            assert 0 < r.mg_count <= r.c_exact
            assert r.bound_ok == 1
            survivors.add(r.user_id)
        for uid, c in counts.items():
            if c > t:
                assert uid in survivors, (et, uid, c, t)


def test_mg_summary_is_partitioning_invariant(spark):
    """The MG threshold rides the topk tournament, so the summary must
    be identical at any physical partitioning of the input counts -
    pinned directly on the threshold helper across 1/3/17 partitions
    with deliberate count ties."""
    from pyspark.sql import functions as F

    from ai_data_pipeline_spark.operators.sketches import _mg_threshold

    base = spark.range(0, 300).select(
        (F.col("id") % 5).alias("scope"),
        F.col("id").alias("user_id"),
        (F.col("id") % 11 + 1).alias("c"),  # ties within every scope
    )
    want = None
    for n_parts in (1, 3, 17):
        got = sorted(
            tuple(r)
            for r in _mg_threshold(
                base.repartition(n_parts), ["scope"], "user_id"
            ).collect()
        )
        if want is None:
            want = got
        assert got == want, n_parts
