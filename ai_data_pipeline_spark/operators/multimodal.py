"""Multimodal column support: opaque binary payloads with typed metadata,
decoded / feature-extracted via Arrow-batched pandas (north-star
extension).

Design (the part that matters at 100 TB):
- media are ``BinaryType`` columns + metadata struct; they flow through
  Spark untouched (no JVM<->Python crossing) until a decode stage;
- decode/feature-extract runs in ``mapInPandas`` — per-partition Arrow
  batches, vectorized pandas/numpy inside, schema declared up front;
- PNG, BMP, GIF and WAV decode for real through the stdlib-only codecs
  of functions/codecs.py, driven by one roundtrip kernel (the
  ``multimodal_*_roundtrip`` queries at the end of this module); no
  JPEG/WebP/MP3 codec is a dependency, so the other operators read
  documents.text bytes as stand-in payloads — the exact same plumbing
  (binary in → fixed-schema features out), oracle-checked
  byte-for-byte against DuckDB blob functions.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from functools import partial
from typing import NamedTuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ai_data_pipeline_spark.catalog import load_table
from ai_data_pipeline_spark.functions import codecs, spread
from ai_data_pipeline_spark.functions.expressions import (
    hex_int,
    hex_int_sql,
    text_fingerprint,
    text_fingerprint_sql,
)
from ai_data_pipeline_spark.registry import QueryDef

FEATURE_SCHEMA = "doc_id long, source string, n_bytes long, first_byte int, last_byte int, byte_sum long"


def _byte_feature_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched feature extraction, fully vectorized: the batch's
    payloads concatenate into one uint8 buffer (per-row cost is a single
    O(1) len()), and first/last bytes index via the segment offsets while
    byte sums come from one np.add.reduceat over the nonempty segment
    starts — no per-byte Python anywhere (int64 upcast before the
    reduction; summing uint8 would wrap at 255)."""
    for pdf in it:
        payloads = pdf["payload"]
        n = len(payloads)
        lens = np.fromiter((len(b) for b in payloads), dtype=np.int64, count=n)
        first = np.full(n, -1, dtype=np.int64)
        last = np.full(n, -1, dtype=np.int64)
        sums = np.zeros(n, dtype=np.int64)
        nz = lens > 0
        if nz.any():
            ends = np.cumsum(lens)
            starts = ends - lens
            buf = np.frombuffer(b"".join(payloads), dtype=np.uint8).astype(np.int64)
            first[nz] = buf[starts[nz]]
            last[nz] = buf[ends[nz] - 1]
            # empty segments have zero width, so consecutive nonempty
            # starts still delimit exact per-row extents
            sums[nz] = np.add.reduceat(buf, starts[nz])
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "source": pdf["source"],
                "n_bytes": lens,
                "first_byte": first,
                "last_byte": last,
                "byte_sum": sums,
            }
        )


def byte_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction through the multimodal path:
    documents.text encoded to a binary column stands in for media bytes;
    features aggregate per source."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.encode("text", "UTF-8").alias("payload")
    )
    feats = d.mapInPandas(_byte_feature_batches, schema=FEATURE_SCHEMA)
    return feats.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bytes").alias("sum_bytes"),
        F.min("first_byte").alias("min_first_byte"),
        F.max("last_byte").alias("max_last_byte"),
        F.sum("byte_sum").alias("sum_byte_sum"),
    )


# DuckDB mirror: hex-string view of the same utf-8 bytes (substring on
# BLOB is unsupported, so all byte access goes through hex(encode(text)));
# the byte at hex position p is hex_int_sql(h, 2, p).

BYTE_FEATURES_ORACLE = f"""
WITH hx AS (
  SELECT doc_id, source, hex(encode(text)) AS h FROM documents
), feats AS (
  SELECT doc_id, source,
    length(h) // 2 AS n_bytes,
    CASE WHEN length(h) = 0 THEN -1 ELSE {hex_int_sql('h', 2, 1)} END AS first_byte,
    CASE WHEN length(h) = 0 THEN -1
         ELSE {hex_int_sql('h', 2, 'length(h)-1')} END AS last_byte,
    coalesce(list_sum([{hex_int_sql('h', 2, 'i')} for i in range(1, length(h)+1, 2)]), 0) AS byte_sum
  FROM hx
)
SELECT source, count(*) AS n_docs, CAST(sum(n_bytes) AS BIGINT) AS sum_bytes,
       min(first_byte) AS min_first_byte, max(last_byte) AS max_last_byte,
       CAST(sum(byte_sum) AS BIGINT) AS sum_byte_sum
FROM feats GROUP BY source
"""


FRAME_BYTES = 32  # bytes per pseudo-frame
FRAME_STRIDE = 4  # keep every 4th frame

FRAME_SCHEMA = (
    "doc_id long, n_bytes long, n_frames long, n_sampled long, sampled_sum long"
)


def _frame_sample_batches(it):
    """Frame sampling over opaque binary payloads: treat the byte stream
    as fixed-size frames, keep every FRAME_STRIDE-th frame (the video
    keyframe-sampling access pattern), and reduce each kept frame.
    Vectorized numpy per Arrow batch — no per-byte Python."""
    for pdf in it:
        out = {"doc_id": [], "n_bytes": [], "n_frames": [], "n_sampled": [], "sampled_sum": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            a = np.frombuffer(payload, dtype=np.uint8)
            n = len(a)
            n_frames = -(-n // FRAME_BYTES)
            idx = np.arange(n) // FRAME_BYTES
            mask = (idx % FRAME_STRIDE) == 0
            out["doc_id"].append(doc_id)
            out["n_bytes"].append(n)
            out["n_frames"].append(n_frames)
            out["n_sampled"].append(-(-n_frames // FRAME_STRIDE))
            out["sampled_sum"].append(int(a[mask].sum()))
        yield pd.DataFrame(out)


def frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame sampling: binary payload -> every FRAME_STRIDE-th
    FRAME_BYTES-sized frame is kept and reduced. documents.text bytes
    stand in for video payloads; a real decoder slots into the same
    mapInPandas stage, as in the codec roundtrips below."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return d.mapInPandas(_frame_sample_batches, schema=FRAME_SCHEMA)


FRAME_SAMPLE_ORACLE = f"""
WITH hx AS (
  SELECT doc_id, hex(encode(text)) AS h, length(hex(encode(text)))//2 AS n FROM documents
)
SELECT doc_id, n AS n_bytes,
  (n + {FRAME_BYTES - 1}) // {FRAME_BYTES} AS n_frames,
  ((n + {FRAME_BYTES - 1}) // {FRAME_BYTES} + {FRAME_STRIDE - 1}) // {FRAME_STRIDE} AS n_sampled,
  CAST(coalesce(list_sum([ {hex_int_sql('h', 2, 'i')}
                     for i in range(1, length(h)+1, 2)
                     if ((((i-1)//2) // {FRAME_BYTES}) % {FRAME_STRIDE} = 0) ]), 0) AS BIGINT) AS sampled_sum
FROM hx
"""


IMG_W = 64  # pseudo-image width in bytes (row-major)
IMG_H = 64  # rows; payloads crop/zero-pad to IMG_W*IMG_H
TILE_GRID = 4  # 4x4 tiles → 16 tile sums per image


def _image_tile_batches(it):
    """2D tile pooling over opaque payloads: bytes as a row-major
    IMG_W×IMG_H uint8 grid (cropped / zero-padded — the letterbox
    convention), reduced to TILE_GRID² per-tile sums. This is the
    pooling/resize access pattern an image pipeline runs after decode,
    with stand-in bytes in place of a decoded image and the
    layout math real. Vectorized: one reshape+sum per image."""
    n_px = IMG_W * IMG_H
    th, tw = IMG_H // TILE_GRID, IMG_W // TILE_GRID
    for pdf in it:
        out = {"doc_id": [], "tile": [], "px_sum": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            a = np.frombuffer(payload[:n_px], dtype=np.uint8).astype(np.int64)
            if len(a) < n_px:
                a = np.pad(a, (0, n_px - len(a)))
            sums = (
                a.reshape(IMG_H, IMG_W)
                .reshape(TILE_GRID, th, TILE_GRID, tw)
                .sum(axis=(1, 3))
                .reshape(-1)
            )
            out["doc_id"].extend([doc_id] * (TILE_GRID * TILE_GRID))
            out["tile"].extend(range(TILE_GRID * TILE_GRID))
            out["px_sum"].extend(int(s) for s in sums)
        yield pd.DataFrame(out)


def image_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal tile pooling: binary payload → 4×4 grid of tile sums
    (exact integers). documents.text bytes stand in for decoded pixel
    buffers; a real decoder slots in front of the same kernel."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return d.mapInPandas(
        _image_tile_batches, schema="doc_id long, tile int, px_sum long"
    )


def _tile_expr() -> str:
    tw, th = IMG_W // TILE_GRID, IMG_H // TILE_GRID
    return (
        f"((pos // {IMG_W}) // {th}) * {TILE_GRID} + (pos % {IMG_W}) // {tw}"
    )


IMAGE_TILES_ORACLE = f"""
WITH hx AS (
  SELECT doc_id, hex(encode(text)) AS h FROM documents
), bytes AS (
  SELECT doc_id, (unnest(range(1, least(length(h), {2 * IMG_W * IMG_H}) + 1, 2)) - 1) // 2 AS pos, h
  FROM hx
), px AS (
  SELECT doc_id, pos, {hex_int_sql('h', 2, '2*pos + 1')} AS b FROM bytes
), tiles AS (
  SELECT doc_id, {_tile_expr()} AS tile, CAST(sum(b) AS BIGINT) AS px_sum
  FROM px GROUP BY 1, 2
), grid AS (
  SELECT d.doc_id, t.tile FROM documents d
  CROSS JOIN (SELECT unnest(range({TILE_GRID * TILE_GRID})) AS tile) t
)
SELECT g.doc_id, CAST(g.tile AS INT) AS tile, coalesce(t.px_sum, 0) AS px_sum
FROM grid g LEFT JOIN tiles t ON g.doc_id = t.doc_id AND g.tile = t.tile
"""


def _phash_relation(docs: DataFrame) -> DataFrame:
    """(doc_id, phash, total_sum) over any (doc_id, text) relation —
    the tile pass + threshold rollup shared by image_phash and the
    cross-modal agreement audit (which phashes an AUGMENTED corpus)."""
    from pyspark.sql import Window

    d = docs.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    tiles = d.mapInPandas(
        _image_tile_batches, schema="doc_id long, tile int, px_sum long"
    )
    n_tiles = TILE_GRID * TILE_GRID
    wt = Window.partitionBy("doc_id")  # 16 rows per partition
    flagged = tiles.withColumn("total_sum", F.sum("px_sum").over(wt)).withColumn(
        "bit",
        F.when(
            F.col("px_sum") * n_tiles > F.col("total_sum"),
            F.expr("shiftleft(1L, tile)"),
        ).otherwise(F.lit(0)),
    )
    return flagged.groupBy("doc_id").agg(
        F.sum("bit").alias("phash"), F.min("total_sum").alias("total_sum")
    )


def image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash-style image near-dup signature: bit j of the
    16-bit signature is set iff tile j's pixel sum exceeds the image
    mean (tile_sum · n_tiles > total_sum — an exact integer
    comparison, no float means). Images sharing a signature are
    near-dup candidates — the image analog of SimHash text dedup, and
    the standard cheap screen before pairwise image comparison at
    100 TB (groupBy on a 16-bit key: one keyed shuffle).

    Composed from the tile relation (one mapInPandas pass), a
    16-row-per-doc window for the image total, and a per-doc rollup on
    the same doc_id partitioning."""
    return _phash_relation(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


IMAGE_PHASH_ORACLE = f"""
WITH hx AS (
  SELECT doc_id, hex(encode(text)) AS h FROM documents
), bytes AS (
  SELECT doc_id, (unnest(range(1, least(length(h), {2 * IMG_W * IMG_H}) + 1, 2)) - 1) // 2 AS pos, h
  FROM hx
), px AS (
  SELECT doc_id, pos, {hex_int_sql('h', 2, '2*pos + 1')} AS b FROM bytes
), tiles AS (
  SELECT doc_id, {_tile_expr()} AS tile, CAST(sum(b) AS BIGINT) AS px_sum
  FROM px GROUP BY 1, 2
), flagged AS (
  SELECT doc_id, tile, px_sum,
         sum(px_sum) OVER (PARTITION BY doc_id) AS total_sum
  FROM tiles
)
SELECT doc_id,
       CAST(sum(CASE WHEN px_sum * {TILE_GRID * TILE_GRID} > total_sum
                     THEN (1 << tile) ELSE 0 END) AS BIGINT) AS phash,
       CAST(min(total_sum) AS BIGINT) AS total_sum
FROM flagged GROUP BY doc_id
"""


# --- cross-modal dedup agreement (round-11 frontier) -----------------------

CROSSMODAL_OFF = 10_000_000  # planted-twin doc_id re-key offset


def _augmented_corpus(docs: DataFrame) -> DataFrame:
    """documents + three deterministic planted twin channels (the
    er_fuzzy_linkage discipline — each channel provably fires at every
    SF; cross-engine equality holds because every transform is
    character-exact ASCII-safe SQL both engines implement identically):

    - BOTH twin   (doc_id % 10 == 0): verbatim copy → same text
      fingerprint AND same image phash.
    - IMAGE twin  (doc_id % 10 == 5, len ≥ 2): first two characters
      swapped — a byte permutation WITHIN tile 0, so every tile sum
      (hence the phash) is unchanged, while the normalized text
      fingerprint differs for any doc whose first two characters
      differ.
    - TEXT twin   (doc_id % 10 == 2): two trailing spaces appended —
      trim-normalization keeps the fingerprint identical, while the
      appended bytes land inside the pixel window (all test texts are
      shorter than IMG_W·IMG_H) and perturb the tile sums.
    """
    both = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + CROSSMODAL_OFF).alias("doc_id"), "text"
    )
    image = (
        docs.filter((F.col("doc_id") % 10 == 5) & (F.length("text") >= 2))
        .select(
            (F.col("doc_id") + 2 * CROSSMODAL_OFF).alias("doc_id"),
            F.concat(
                F.substring("text", 2, 1),
                F.substring("text", 1, 1),
                F.expr("substring(text, 3)"),
            ).alias("text"),
        )
    )
    text = docs.filter(F.col("doc_id") % 10 == 2).select(
        (F.col("doc_id") + 3 * CROSSMODAL_OFF).alias("doc_id"),
        F.concat("text", F.lit("  ")).alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(both).unionByName(
        image
    ).unionByName(text)


def crossmodal_dedup_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal dedup agreement audit: over the planted-twin corpus,
    how often do the TEXT near-dup screen (exact normalized
    fingerprint) and the IMAGE near-dup screen (tile phash over the
    byte payload) nominate the same duplicate pairs? The answer prices
    a cheap single-modality screen before trusting it to gate the
    other modality at 100 TB (e.g. dropping images because their
    caption text is a dup).

    Pair masses are computed WITHOUT enumerating pairs: per-key group
    counts n contribute C(n,2) = n·(n−1)/2, summed — three keyed
    aggregates over the corpus, no joins of data-scaled relations, so
    the audit runs at any corpus size (the pair-free trick that the
    pair-ENUMERATING screens, dedup_exact and image_phash_pairs,
    cannot use because they must emit the pairs). jaccard_ppm =
    |both| / |text ∪ image| in integer ppm (div == // on
    non-negatives)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    aug = _augmented_corpus(docs)
    fp = aug.select(
        "doc_id",
        text_fingerprint(F.col("text")).alias("fp"),
    )
    ph = _phash_relation(aug).select("doc_id", "phash")
    j = fp.join(ph, "doc_id").localCheckpoint()  # fixed-width, 3 consumers

    def pair_mass(cols: list, name: str) -> DataFrame:
        return (
            j.groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(
                F.coalesce(F.sum(F.expr("n * (n - 1) div 2")), F.lit(0))
                .cast("long")
                .alias(name)
            )
        )

    t = pair_mass(["fp"], "n_pairs_text")
    i = pair_mass(["phash"], "n_pairs_image")
    b = pair_mass(["fp", "phash"], "n_pairs_both")
    return (
        t.crossJoin(i)
        .crossJoin(b)
        .select(
            "n_pairs_text",
            "n_pairs_image",
            "n_pairs_both",
            F.expr(
                "cast(coalesce((n_pairs_both * 1000000)"
                " div nullif(n_pairs_text + n_pairs_image - n_pairs_both, 0),"
                " 0) as bigint)"
            ).alias("jaccard_ppm"),
        )
    )


def _crossmodal_oracle() -> str:
    n_tiles = TILE_GRID * TILE_GRID
    return f"""
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {CROSSMODAL_OFF}, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + {2 * CROSSMODAL_OFF},
         substr(text, 2, 1) || substr(text, 1, 1) || substr(text, 3)
  FROM documents WHERE doc_id % 10 = 5 AND length(text) >= 2
  UNION ALL
  SELECT doc_id + {3 * CROSSMODAL_OFF}, text || '  '
  FROM documents WHERE doc_id % 10 = 2
), hx AS (
  SELECT doc_id, hex(encode(text)) AS h FROM aug
), bytes AS (
  SELECT doc_id, (unnest(range(1, least(length(h), {2 * IMG_W * IMG_H}) + 1, 2)) - 1) // 2 AS pos, h
  FROM hx
), px AS (
  SELECT doc_id, pos, {hex_int_sql('h', 2, '2*pos + 1')} AS b FROM bytes
), tiles AS (
  SELECT doc_id, {_tile_expr()} AS tile, CAST(sum(b) AS BIGINT) AS px_sum
  FROM px GROUP BY 1, 2
), flagged AS (
  SELECT doc_id, tile, px_sum,
         sum(px_sum) OVER (PARTITION BY doc_id) AS total_sum
  FROM tiles
), ph AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN px_sum * {n_tiles} > total_sum
                       THEN (1 << tile) ELSE 0 END) AS BIGINT) AS phash
  FROM flagged GROUP BY doc_id
), joined AS (
  SELECT a.doc_id, {text_fingerprint_sql("a.text")} AS fp, ph.phash
  FROM aug a JOIN ph USING (doc_id)
), t AS (
  SELECT CAST(coalesce(sum(n * (n - 1) // 2), 0) AS BIGINT) AS n_pairs_text
  FROM (SELECT count(*) AS n FROM joined GROUP BY fp)
), i AS (
  SELECT CAST(coalesce(sum(n * (n - 1) // 2), 0) AS BIGINT) AS n_pairs_image
  FROM (SELECT count(*) AS n FROM joined GROUP BY phash)
), b AS (
  SELECT CAST(coalesce(sum(n * (n - 1) // 2), 0) AS BIGINT) AS n_pairs_both
  FROM (SELECT count(*) AS n FROM joined GROUP BY fp, phash)
)
SELECT n_pairs_text, n_pairs_image, n_pairs_both,
       CAST(coalesce((n_pairs_both * 1000000)
            // nullif(n_pairs_text + n_pairs_image - n_pairs_both, 0), 0)
            AS BIGINT) AS jaccard_ppm
FROM t CROSS JOIN i CROSS JOIN b
"""


AUDIO_FRAME = 64  # samples per analysis frame

AUDIO_SCHEMA = (
    "doc_id long, n_samples long, n_frames long, total_energy long,"
    " max_energy long, peak_frame long"
)


def _audio_energy_batches(it):
    """Waveform analysis over opaque payloads: bytes as centered 8-bit
    PCM, per-frame energy = Σ(sample−128)², peak-frame detection —
    the VAD/silence-trim access pattern, vectorized with reduceat."""
    for pdf in it:
        out = {
            "doc_id": [], "n_samples": [], "n_frames": [],
            "total_energy": [], "max_energy": [], "peak_frame": [],
        }
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            a = np.frombuffer(payload, dtype=np.uint8).astype(np.int64) - 128
            sq = a * a
            n = len(a)
            n_frames = -(-n // AUDIO_FRAME)
            energies = np.add.reduceat(sq, np.arange(0, n, AUDIO_FRAME)) if n else np.zeros(0, dtype=np.int64)
            out["doc_id"].append(doc_id)
            out["n_samples"].append(n)
            out["n_frames"].append(n_frames)
            out["total_energy"].append(int(sq.sum()))
            out["max_energy"].append(int(energies.max()) if n else 0)
            out["peak_frame"].append(int(energies.argmax()) if n else -1)
        yield pd.DataFrame(out)


def audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio path: binary payload → framed energy profile →
    peak frame. documents.text bytes stand in for PCM; a real decoder
    (see multimodal_wav_roundtrip) slots in front of the same kernel."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return d.mapInPandas(_audio_energy_batches, schema=AUDIO_SCHEMA)


AUDIO_ENERGY_ORACLE = f"""
WITH hx AS (
  SELECT doc_id, hex(encode(text)) AS h FROM documents
), bytes AS (
  SELECT doc_id,
         (unnest(range(1, length(h) + 1, 2)) - 1) // 2 AS pos,
         h
  FROM hx
), samples AS (
  SELECT doc_id, pos,
         {hex_int_sql('h', 2, '2*pos + 1')} - 128 AS s
  FROM bytes
), frames AS (
  SELECT doc_id, pos // {AUDIO_FRAME} AS frame, sum(s * s) AS energy,
         count(*) AS n_in_frame
  FROM samples GROUP BY 1, 2
), per_doc AS (
  SELECT doc_id,
         CAST(sum(n_in_frame) AS BIGINT) AS n_samples,
         count(*) AS n_frames,
         CAST(sum(energy) AS BIGINT) AS total_energy,
         CAST(max(energy) AS BIGINT) AS max_energy
  FROM frames GROUP BY 1
), peak AS (
  SELECT doc_id, frame AS peak_frame FROM (
    SELECT doc_id, frame,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY energy DESC, frame ASC) AS rk
    FROM frames
  ) WHERE rk = 1
)
SELECT d.doc_id, n_samples, n_frames, total_energy, max_energy, peak_frame
FROM per_doc d JOIN peak p ON d.doc_id = p.doc_id
"""


PHASH_BANDS = 4  # 32-bit signature -> 4 bands x 8 bits
PHASH_BAND_BITS = 8
PHASH_HAM_MAX = 3  # with 4 bands, any pair at Hamming <= 3 shares a band
# 32 signature segments: 8-bit bands give 256 bucket values per band, so
# expected bucket membership is n/256 — the 16-bit/4-bit variant had only
# 16 values per band and measurably degenerated toward all-pairs at
# sf0.1 (~312 docs per bucket -> ~3M candidate pairs). Widening the
# signature as the corpus grows is exactly the documented scale lever.
SEG_BITS = 32


def _seg_sig_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Content-adaptive SEG_BITS-bit signature (32 bits, 4×8-bit
    bands): the payload splits into
    SEG_BITS equal byte segments (boundaries scale with the payload, so
    every bit covers real content — unlike the fixed-canvas tile hash,
    whose zero-padded tiles are constant across documents); bit j is set
    iff segment j's byte sum exceeds the payload mean (exact integer
    cross-product test). One np.add.reduceat per row."""
    for pdf in it:
        doc_ids = pdf["doc_id"].to_numpy()
        sigs = np.zeros(len(doc_ids), dtype=np.int64)
        for r, payload in enumerate(pdf["payload"]):
            n = len(payload)
            if n == 0:
                continue
            a = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
            # segment of byte pos is pos*SEG_BITS // n, so segment j
            # starts at ceil(j*n / SEG_BITS)
            offs = -((np.arange(SEG_BITS, dtype=np.int64) * -n) // SEG_BITS)
            sums = np.add.reduceat(a, np.minimum(offs, n - 1))
            # reduceat yields a[off] (not 0) for empty segments — mask
            ends = np.append(offs[1:], n)
            sums[offs >= ends] = 0
            total = int(a.sum())
            bits = (sums * SEG_BITS > total).astype(np.int64)
            sigs[r] = int((bits << np.arange(SEG_BITS)).sum())
        yield pd.DataFrame({"doc_id": doc_ids, "phash": sigs})


def image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs via banded Hamming join on a
    perceptual signature — the LSH-banding trick applied to images:
    split the SEG_BITS-bit signature (32 bits) into PHASH_BANDS bands
    (8 bits each); by pigeonhole,
    any pair within Hamming distance PHASH_HAM_MAX (< #bands) agrees
    exactly on at least one band, so an equi-join on (band, band_value)
    generates every true candidate without an all-pairs product.
    Candidates are deduped (a pair can share several bands) and
    verified with an exact ``bit_count(xor)`` popcount.

    Scale: one keyed shuffle on the (band, value) key instead of O(n²)
    comparisons; at 100 TB you widen the signature (64-bit) and the
    bands so per-bucket membership stays executor-sized — same plan
    shape. The signature itself is one mapInPandas scan (content-
    adaptive segments, see _seg_sig_batches — the fixed-canvas tile
    hash of ``image_phash`` is near-constant on short payloads and
    would degenerate to all-pairs)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    sig = d.mapInPandas(_seg_sig_batches, schema="doc_id long, phash long")
    bands = sig.select(
        "doc_id",
        "phash",
        F.explode(F.array(*[F.lit(j) for j in range(PHASH_BANDS)])).alias("band"),
    ).withColumn(
        "band_val",
        F.expr(f"shiftright(phash, band * {PHASH_BAND_BITS}) & {2**PHASH_BAND_BITS - 1}"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.phash").alias("pa"),
            F.col("b.phash").alias("pb"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return (
        cand.withColumn("hamming", F.expr("bit_count(pa ^ pb)"))
        .filter(F.col("hamming") <= PHASH_HAM_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


IMAGE_PHASH_PAIRS_ORACLE = f"""
WITH hx AS (
  SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n FROM documents
), bytes AS (
  SELECT doc_id, n, (unnest(range(1, length(h) + 1, 2)) - 1) // 2 AS pos, h
  FROM hx
), px AS (
  SELECT doc_id, (pos * {SEG_BITS}) // n AS seg,
         {hex_int_sql('h', 2, '2*pos + 1')} AS b
  FROM bytes
), segs AS (
  SELECT doc_id, seg, CAST(sum(b) AS BIGINT) AS seg_sum FROM px GROUP BY 1, 2
), flagged AS (
  SELECT doc_id, seg, seg_sum,
         sum(seg_sum) OVER (PARTITION BY doc_id) AS total_sum
  FROM segs
), sig AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN seg_sum * {SEG_BITS} > total_sum
                       THEN (CAST(1 AS BIGINT) << seg) ELSE 0 END) AS BIGINT) AS phash
  FROM flagged GROUP BY doc_id
), bands AS (
  SELECT doc_id, phash, band,
         (phash >> (band * {PHASH_BAND_BITS})) & {2**PHASH_BAND_BITS - 1} AS band_val
  FROM sig CROSS JOIN (SELECT unnest(range({PHASH_BANDS})) AS band)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.phash AS pa, b.phash AS pb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(pa, pb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(pa, pb)) <= {PHASH_HAM_MAX}
"""


SHOT_JUMP_NUM, SHOT_JUMP_DEN = 3, 10  # boundary = >= 30% energy jump


def _frame_energy_batches(it: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
    """Per-frame byte-sum energies: one np.add.reduceat per payload
    (the same vectorized surface as the audio kernel); real codecs
    replace the byte-sum with a decoded-luma sum, same shape."""
    for pdf in it:
        doc_ids, frames, energies = [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            n = len(payload)
            if n == 0:
                continue
            a = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
            offs = np.arange(0, n, FRAME_BYTES, dtype=np.int64)
            sums = np.add.reduceat(a, offs)
            doc_ids.extend([doc_id] * len(offs))
            frames.extend(range(len(offs)))
            energies.extend(int(s) for s in sums)
        yield pd.DataFrame(
            {"doc_id": doc_ids, "frame": frames, "energy": energies}
        )


def shot_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection over the sampled frame stream — the
    temporal-structure pass a video curation pipeline runs to split
    footage into clips before captioning/embedding: a boundary is a
    relative energy jump >= SHOT_JUMP_NUM/SHOT_JUMP_DEN between
    consecutive frames (exact-rational test; a zero-energy previous
    frame is a boundary iff the current frame is non-zero). Emits per
    video: frame count, boundary count, and the first cut point.

    Scale: the frame explosion is a mapInPandas scan (one reduceat per
    payload); the lag window partitions by doc_id — state bounded by
    frames-per-video, never corpus size — and the rollup is a keyed
    aggregate with map-side partials."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    frames = d.mapInPandas(
        _frame_energy_batches, schema="doc_id long, frame int, energy long"
    )
    w = W.partitionBy("doc_id").orderBy("frame")
    flagged = frames.withColumn("prev", F.lag("energy").over(w)).withColumn(
        "is_cut",
        F.when(F.col("prev").isNull(), F.lit(0))
        .when((F.col("prev") == 0), (F.col("energy") > 0).cast("int"))
        .otherwise(
            (
                F.abs(F.col("energy") - F.col("prev")) * SHOT_JUMP_DEN
                >= F.col("prev") * SHOT_JUMP_NUM
            ).cast("int")
        ),
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum("is_cut").alias("n_boundaries"),
        F.min(F.when(F.col("is_cut") == 1, F.col("frame"))).alias("first_cut"),
    )


SHOT_BOUNDARIES_ORACLE = f"""
WITH hx AS (
  SELECT doc_id, hex(encode(text)) AS h FROM documents
  WHERE octet_length(encode(text)) > 0
), bytes AS (
  SELECT doc_id, (unnest(range(1, length(h) + 1, 2)) - 1) // 2 AS pos, h
  FROM hx
), fe AS (
  SELECT doc_id, pos // {FRAME_BYTES} AS frame,
         CAST(sum({hex_int_sql('h', 2, '2*pos + 1')}) AS BIGINT) AS energy
  FROM bytes GROUP BY 1, 2
), flagged AS (
  SELECT doc_id, frame, energy,
         lag(energy) OVER (PARTITION BY doc_id ORDER BY frame) AS prev
  FROM fe
), cuts AS (
  SELECT doc_id, frame,
         CASE WHEN prev IS NULL THEN 0
              WHEN prev = 0 THEN CAST(energy > 0 AS INT)
              ELSE CAST(abs(energy - prev) * {SHOT_JUMP_DEN}
                        >= prev * {SHOT_JUMP_NUM} AS INT) END AS is_cut
  FROM flagged
)
SELECT doc_id, count(*) AS n_frames,
       CAST(sum(is_cut) AS BIGINT) AS n_boundaries,
       min(CASE WHEN is_cut = 1 THEN frame END) AS first_cut
FROM cuts GROUP BY doc_id
"""


HDR_MAX_DIM = 16_000_000  # plausibility band for the fake width/height


def header_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata extraction from a binary column WITHOUT any
    Python: the first 8 payload bytes parse as two big-endian uint32s
    (standing in for an image header's width/height), entirely with
    built-in expressions (hex + base-16 conv) — the pattern for pulling
    typed fields out of binary lake columns at scan speed when the
    header layout is fixed. Emits the parsed dims and a plausibility
    flag; real formats swap the offsets, same plan (a magic-number
    dispatch CASE on the first bytes).

    Scale: narrow map over the scan, whole-stage codegen, no shuffle."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    hx = d.select(
        "doc_id",
        F.length("payload").alias("n_bytes"),
        F.hex(F.col("payload")).alias("h"),
    )
    w = F.when(F.col("n_bytes") >= 8, hex_int(F.col("h"), 8))
    hgt = F.when(F.col("n_bytes") >= 8, hex_int(F.col("h"), 8, start=9))
    return hx.select(
        "doc_id",
        "n_bytes",
        w.alias("hdr_w"),
        hgt.alias("hdr_h"),
        (
            w.isNotNull()
            & (w > 0)
            & (w <= HDR_MAX_DIM)
            & (hgt > 0)
            & (hgt <= HDR_MAX_DIM)
        )
        .cast("int")
        .alias("flag_plausible"),
    )


HEADER_META_ORACLE = f"""
WITH hx AS (
  SELECT doc_id, octet_length(encode(text)) AS n_bytes, hex(encode(text)) AS h
  FROM documents
), parsed AS (
  SELECT doc_id, n_bytes,
         CASE WHEN n_bytes >= 8
              THEN {hex_int_sql('h', 8)} END AS hdr_w,
         CASE WHEN n_bytes >= 8
              THEN {hex_int_sql('h', 8, start=9)} END AS hdr_h
  FROM hx
)
SELECT doc_id, n_bytes, hdr_w, hdr_h,
       CAST(coalesce(hdr_w > 0 AND hdr_w <= {HDR_MAX_DIM}
                     AND hdr_h > 0 AND hdr_h <= {HDR_MAX_DIM}, FALSE) AS INT)
         AS flag_plausible
FROM parsed
"""


# --- real-codec roundtrips -------------------------------------------------
# Deterministic media synthesized from doc_id arithmetic, encoded to a
# REAL container (PNG via zlib DEFLATE with chunk CRCs; BMP as an
# indexed-8 DIB with padded bottom-up rows; GIF87a via LZW; WAV via
# RIFF), decoded back with the spec-parsing decoders in
# functions/codecs.py, and feature-extracted — all inside one
# mapInPandas stage, one kernel driven by the codec table below. The
# oracle recomputes the features from the same closed-form pixel/sample
# definitions, so any codec defect (filtering, CRC, chunk walk, byte
# order) surfaces as a value mismatch; the stage additionally asserts
# decode(encode(x)) == x so corruption fails LOUDLY rather than
# producing plausible wrong features.

RT_W, RT_H = 24, 16  # synthesized image dims (384 px)
RS_H, RS_W = 8, 12  # nearest-neighbor resize target
WAV_N = 256  # samples per synthesized clip
WAV_RATE = 16_000

# BMP roundtrip: deliberately ODD width so the 4-byte row padding path
# is exercised (stride 24 for width 23), and a top-row feature so a
# decoder that forgot the bottom-up flip fails the oracle even though
# whole-image sums would still match.
BMP_W, BMP_H = 23, 14
GIF_W, GIF_H = 21, 13

_IMAGE_SCHEMA = (
    "doc_id long, width int, height int, px_sum long, px_min int, px_max int"
)
PNG_RT_SCHEMA = _IMAGE_SCHEMA + ", rs_sum long"
BMP_RT_SCHEMA = GIF_RT_SCHEMA = _IMAGE_SCHEMA + ", top_row_sum long"
WAV_RT_SCHEMA = (
    "doc_id long, n_samples long, sample_rate int, amp_sum long,"
    " energy long, s_min int, s_max int"
)


class _Codec(NamedTuple):
    """One roundtrip query: ``synth(doc_id, idx)`` builds the signal
    from ``n`` sample indices, ``roundtrip(x)`` encodes and decodes it
    to ``(decoded, meta)``, and ``features(decoded, meta)`` gives the
    output columns after ``doc_id``."""

    name: str
    n: int
    synth: Callable
    roundtrip: Callable
    features: Callable
    schema: str


def _gray_ramp(doc_id: int, idx, a: int, b: int, h: int, w: int):
    """Row-major pixel i of doc d is (d·a + i·b) mod 256."""
    return ((doc_id * a + idx * b) % 256).astype(np.uint8).reshape(h, w)


def _image_features(img, meta) -> dict:
    return {
        "width": meta["width"],
        "height": meta["height"],
        "px_sum": int(img.astype(np.int64).sum()),
        "px_min": int(img.min()),
        "px_max": int(img.max()),
    }


def _png_features(img, meta) -> dict:
    rs = codecs.resize_nearest(img, (RS_H, RS_W))
    return {**_image_features(img, meta), "rs_sum": int(rs.astype(np.int64).sum())}


def _top_row_features(img, meta) -> dict:
    return {
        **_image_features(img, meta),
        "top_row_sum": int(img[0].astype(np.int64).sum()),
    }


def _wav_roundtrip(samples):
    decoded, rate = codecs.wav_decode(codecs.wav_encode_pcm16(samples, rate=WAV_RATE))
    if rate != WAV_RATE:
        raise ValueError(f"WAV roundtrip changed the sample rate to {rate}")
    return decoded, rate


def _wav_features(s, rate) -> dict:
    s64 = s.astype(np.int64)
    return {
        "n_samples": len(s),
        "sample_rate": rate,
        "amp_sum": int(s64.sum()),
        "energy": int((s64 * s64).sum()),
        "s_min": int(s.min()),
        "s_max": int(s.max()),
    }


_CODECS = {
    "png": _Codec(
        "PNG",
        RT_W * RT_H,
        partial(_gray_ramp, a=31, b=7, h=RT_H, w=RT_W),
        lambda img: codecs.png_decode(codecs.png_encode_gray(img)),
        _png_features,
        PNG_RT_SCHEMA,
    ),
    "bmp": _Codec(
        "BMP",
        BMP_W * BMP_H,
        partial(_gray_ramp, a=13, b=5, h=BMP_H, w=BMP_W),
        lambda img: codecs.bmp_decode(codecs.bmp_encode_gray(img)),
        _top_row_features,
        BMP_RT_SCHEMA,
    ),
    "gif": _Codec(
        "GIF",
        GIF_W * GIF_H,
        partial(_gray_ramp, a=29, b=7, h=GIF_H, w=GIF_W),
        lambda img: codecs.gif_decode(codecs.gif_encode_gray(img)),
        _top_row_features,
        GIF_RT_SCHEMA,
    ),
    "wav": _Codec(
        "WAV",
        WAV_N,
        lambda doc_id, idx: (((doc_id * 7 + idx * 11) % 4096) - 2048).astype(np.int16),
        _wav_roundtrip,
        _wav_features,
        WAV_RT_SCHEMA,
    ),
}


def _roundtrip_batches(
    it: Iterator[pd.DataFrame], codec: _Codec
) -> Iterator[pd.DataFrame]:
    """synth → encode → decode → assert identity → features, per doc_id.
    Emitted stats come only from the decoded signal and its parsed
    header, so the oracle checks the codec, not the generator."""
    idx = np.arange(codec.n, dtype=np.int64)
    columns = [c.split()[0] for c in codec.schema.split(",")]
    for pdf in it:
        rows = []
        for doc_id in pdf["doc_id"].tolist():
            x = codec.synth(doc_id, idx)
            decoded, meta = codec.roundtrip(x)
            if not np.array_equal(decoded, x):
                raise ValueError(
                    f"{codec.name} roundtrip broke identity for doc {doc_id}"
                )
            rows.append({"doc_id": doc_id, **codec.features(decoded, meta)})
        yield pd.DataFrame(rows, columns=columns)


def _roundtrip(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One Arrow-batched Python stage over a doc_id-only scan, spread
    first for every codec: the kernel costs 0.5-0.7 ms of CPU per doc
    for GIF, ~0.12 ms for PNG and ~0.05 ms for BMP and WAV (one 4-vCPU
    VM), so at sf1 (50k docs) a single-task scan would hold ~30 s of GIF
    or ~6 s of PNG on one core. The round-robin exchange moves doc_ids
    only, never media, and spread no-ops at cluster scale where the
    scan already has many splits.

    Scale: the media path at 100 TB is exactly this shape — binary in
    object storage, decode + features in one Python stage, nothing but
    fixed-width features ever shuffled."""
    codec = _CODECS[name]
    kernel = partial(_roundtrip_batches, codec=codec)
    kernel.__name__ = f"_{name}_roundtrip_batches"  # the plan names the codec
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id"))
    return d.mapInPandas(kernel, schema=codec.schema)


def png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-PNG decode path: a spec-complete PNG (zlib + CRCs) parsed
    back (header, chunk walk, inflate, unfilter); width/height come
    from IHDR, sums from decoded pixels, plus a nearest-neighbor
    thumbnail sum."""
    return _roundtrip(spark, sf_dir, "png")


PNG_ROUNDTRIP_ORACLE = f"""
WITH px AS (
  SELECT doc_id, i, (doc_id * 31 + i * 7) % 256 AS p
  FROM documents, (SELECT unnest(range(0, {RT_W * RT_H})) AS i)
), base AS (
  SELECT doc_id, CAST(sum(p) AS BIGINT) AS px_sum,
         CAST(min(p) AS INT) AS px_min, CAST(max(p) AS INT) AS px_max
  FROM px GROUP BY doc_id
), rs AS (
  SELECT doc_id,
         CAST(sum((doc_id * 31
                   + (((y * {RT_H}) // {RS_H}) * {RT_W}
                      + (x * {RT_W}) // {RS_W}) * 7) % 256) AS BIGINT)
           AS rs_sum
  FROM documents,
       (SELECT unnest(range(0, {RS_H})) AS y),
       (SELECT unnest(range(0, {RS_W})) AS x)
  GROUP BY doc_id
)
SELECT b.doc_id, CAST({RT_W} AS INT) AS width, CAST({RT_H} AS INT) AS height,
       px_sum, px_min, px_max, rs_sum
FROM base b JOIN rs USING (doc_id)
"""


def _top_row_oracle(w: int, h: int, a: int, b: int) -> str:
    """DuckDB mirror of the BMP/GIF roundtrips: a w×h ``_gray_ramp``
    with multipliers a and b, plus the top-row feature."""
    return f"""
WITH px AS (
  SELECT doc_id, i, (doc_id * {a} + i * {b}) % 256 AS p
  FROM documents, (SELECT unnest(range(0, {w * h})) AS i)
)
SELECT doc_id, CAST({w} AS INT) AS width, CAST({h} AS INT) AS height,
       CAST(sum(p) AS BIGINT) AS px_sum,
       CAST(min(p) AS INT) AS px_min, CAST(max(p) AS INT) AS px_max,
       CAST(sum(CASE WHEN i < {w} THEN p ELSE 0 END) AS BIGINT)
         AS top_row_sum
FROM px GROUP BY doc_id
"""


def bmp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-BMP decode path: an indexed-8 BI_RGB DIB (identity palette,
    bottom-up padded rows) parsed back (header validation, palette
    check, flip, de-pad). The top-row sum pins scanline ORDER — a
    decoder that skipped the bottom-up flip reproduces every
    whole-image stat but fails it."""
    return _roundtrip(spark, sf_dir, "bmp")


BMP_ROUNDTRIP_ORACLE = _top_row_oracle(BMP_W, BMP_H, 13, 5)


def gif_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-GIF decode path: pixels LZW-compressed into a GIF87a
    (identity palette, variable-width codes, sub-block framing) and
    parsed back (signature/palette/framing validation, full LZW decode
    incl. the self-referential code case). Unlike PNG/BMP, the payload
    went through a REAL entropy coder — a single corrupted code shifts
    every later code, so the identity assert covers the whole bit
    stream. top_row_sum pins scanline order (GIF is top-down, the
    opposite of BMP, so a decoder confusing the two conventions fails
    exactly one of the twin queries)."""
    return _roundtrip(spark, sf_dir, "gif")


GIF_ROUNDTRIP_ORACLE = _top_row_oracle(GIF_W, GIF_H, 29, 7)


def wav_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-WAV decode path: 16-bit PCM in a RIFF container parsed back
    (chunk walk, fmt validation, LE samples); the energy features a
    speech-curation pipeline runs (sum/energy/range) come from the
    DECODED samples only."""
    return _roundtrip(spark, sf_dir, "wav")


WAV_ROUNDTRIP_ORACLE = f"""
WITH s AS (
  SELECT doc_id, ((doc_id * 7 + i * 11) % 4096) - 2048 AS v
  FROM documents, (SELECT unnest(range(0, {WAV_N})) AS i)
)
SELECT doc_id, count(*) AS n_samples, CAST({WAV_RATE} AS INT) AS sample_rate,
       CAST(sum(v) AS BIGINT) AS amp_sum,
       CAST(sum(v * v) AS BIGINT) AS energy,
       CAST(min(v) AS INT) AS s_min, CAST(max(v) AS INT) AS s_max
FROM s GROUP BY doc_id
"""


QUERY_DEFS = [
    QueryDef("multimodal_byte_features", byte_features, BYTE_FEATURES_ORACLE),
    QueryDef("multimodal_png_roundtrip", png_roundtrip, PNG_ROUNDTRIP_ORACLE),
    QueryDef("multimodal_bmp_roundtrip", bmp_roundtrip, BMP_ROUNDTRIP_ORACLE),
    QueryDef("multimodal_gif_roundtrip", gif_roundtrip, GIF_ROUNDTRIP_ORACLE),
    QueryDef("multimodal_wav_roundtrip", wav_roundtrip, WAV_ROUNDTRIP_ORACLE),
    QueryDef("multimodal_shot_boundaries", shot_boundaries, SHOT_BOUNDARIES_ORACLE),
    QueryDef("multimodal_header_meta", header_meta, HEADER_META_ORACLE),
    QueryDef("multimodal_image_phash_pairs", image_phash_pairs, IMAGE_PHASH_PAIRS_ORACLE),
    QueryDef("multimodal_frame_sample", frame_sample, FRAME_SAMPLE_ORACLE),
    QueryDef("multimodal_audio_energy", audio_energy, AUDIO_ENERGY_ORACLE),
    QueryDef("multimodal_image_tiles", image_tiles, IMAGE_TILES_ORACLE),
    QueryDef("multimodal_image_phash", image_phash, IMAGE_PHASH_ORACLE),
    QueryDef(
        "crossmodal_dedup_agreement", crossmodal_dedup_agreement, _crossmodal_oracle()
    ),
]
