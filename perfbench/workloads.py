"""Workload definitions: which public calls each workload drives, the
input rows each operation declares, and the layers it stresses.

Every operation is timed as the call plus full materialization of its
result (``collect()``). ``.count()`` is never timed: Catalyst prunes every
aggregate the count does not reference, so the optimized plan of
``profile_table(...).count()`` contains no ``RLIKE`` at all, and at sf0.1 on
``local[4]`` ``profile_lineitem`` takes 1.16 s under ``.count()`` against
7.4-8.1 s under ``.collect()``.

Input rows are declared here per operation (the rows of the tables it
reads), never read from scan counts, so data skipping cannot lower
``wall.rows_per_s``.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

# Declared table rows of the vendored test data, per scale factor.
TABLE_ROWS = {
    "sf0.1": {
        "region": 5, "nation": 25, "customer": 15_000, "supplier": 1_000,
        "part": 20_000, "orders": 150_000, "lineitem": 600_000,
        "events": 100_000, "documents": 5_000, "embeddings": 2_000,
    },
    "sf0.001": {
        "region": 5, "nation": 25, "customer": 150, "supplier": 10,
        "part": 200, "orders": 1_500, "lineitem": 6_000,
        "events": 1_000, "documents": 500, "embeddings": 500,
    },
}


@dataclass(frozen=True)
class Op:
    """One operation: a profile request for ``table`` (kind ``profile``)
    or a contract query of ``__spark_entry__.queries()`` (kind ``query``)
    reading ``tables``."""

    name: str
    kind: str
    tables: tuple[str, ...]

    def declared_rows(self, scale: str) -> int:
        return sum(TABLE_ROWS[scale][t] for t in self.tables)


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[Op, ...]
    warmup: tuple[str, ...]  # op names run once on sf0.001 during set-up
    stresses: tuple[str, ...]
    bypasses: tuple[str, ...]
    why: str

    def order(self, seed: int) -> list[Op]:
        ops = list(self.ops)
        random.Random(seed).shuffle(ops)
        return ops

    def op(self, name: str) -> Op:
        return next(o for o in self.ops if o.name == name)


PROFILED_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_DOCS = ("documents",)
_EMB = ("embeddings",)

_CURATE_OPS = (
        Op("pipeline_clean_corpus", "query", _DOCS),
        Op("dedup_exact", "query", _DOCS),
        Op("dedup_minhash_lsh", "query", _DOCS),
        Op("text_stats", "query", _DOCS),
        Op("text_lang_id", "query", _DOCS),
        Op("corpus_decontaminate", "query", _DOCS),
        Op("corpus_repetition_signals", "query", _DOCS),
        Op("corpus_sequence_packing", "query", _DOCS),
        Op("corpus_pii_scan", "query", _DOCS),
        Op("ann_ivf_pq", "query", _EMB),
        Op("stream_profile_documents", "query", _DOCS),
)

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="profile",
            ops=tuple(Op(f"profile_{t}", "profile", (t,)) for t in PROFILED_TABLES),
            # one table per column family: numeric/decimal/date and strings,
            # timestamps, vectors (the non-scalar path)
            warmup=tuple(f"profile_{t}" for t in ("lineitem", "events", "embeddings")),
            stresses=("catalog", "profiling", "classify", "engine"),
            bypasses=("operators", "session caches", "streaming"),
            why=(
                "The paper's own operation: load_table -> profile_table -> "
                "HybridClassifier.classify, one request per table, from "
                "driver-bound (region, 5 rows) to regex- and shuffle-bound "
                "(lineitem, 11 columns)."
            ),
        ),
        Workload(
            name="curate",
            ops=_CURATE_OPS,
            warmup=tuple(o.name for o in _CURATE_OPS),
            stresses=("operators", "session caches", "streaming", "Arrow Python workers", "engine"),
            bypasses=("profiling", "classify"),
            why=(
                "LLM-corpus curation and the document profiling stream: "
                "Python workers, localCheckpoint and session_scoped_cache, "
                "whose fill cost the seeded order moves between ops. "
                "text_tfidf_top_terms, emb_kmeans_fixed_point, dedup_clusters, "
                "dedup_embedding_cosine, ann_cosine_topk, "
                "pipeline_doc_scorecard, multimodal_image_phash and "
                "stream_ivf_index_upsert are left out to keep a run within "
                "the time the benchmark is given."
            ),
        ),
    )
}
