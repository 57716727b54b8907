"""Advanced sources: binaryFile ingestion (the multimodal file-lake
path) and a Spark 4 Python DataSource API implementation.

Reference parity: the reference's only source intent is CSV upload
(SURVEY.md §2.1); these extend the source surface the way a 100 TB
training-data lake needs it:

- binaryFile: images/audio/video live as opaque files; `format
  ("binaryFile")` is the Spark-native way to scan them with pushed
  path filters, rows = (path, modificationTime, length, content).
  Here document texts stand in for media payloads (the container has
  no image libs — the multimodal decode stubs live in
  operators/multimodal.py); the plumbing (schema, file scan
  parallelism, binary content handling) is the real thing.
- Python DataSource API (Spark 4): custom connectors in pure Python
  with explicit input partitions — the modern escape hatch for
  systems Spark has no built-in reader for (feature stores, tick
  archives, internal KV exports). The demo source generates a
  deterministic integer-arithmetic relation, so the DuckDB oracle can
  reproduce it exactly from range() — proving the partition-parallel
  read path end-to-end, not just smoke.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_data_pipeline_spark.catalog import load_table
from ai_data_pipeline_spark.registry import QueryDef
from ai_data_pipeline_spark.sources.readers import scratch_dir
from ai_data_pipeline_spark.streaming.windows import run_to_completion

BINFILE_DOC_LIMIT = 200  # docs materialized as files (bounds file count)


def binfile_ingest_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → one UTF-8 file per doc → spark.read.format
    ("binaryFile") → byte/char stats per file, joined back by the
    doc_id parsed from the filename. At scale the same plan reads a
    bucket of media objects: the binary content column feeds the
    mapInPandas decode kernels of operators/multimodal.py."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < BINFILE_DOC_LIMIT)
        .select("doc_id", "text")
    )
    tmp = scratch_dir("binfile_")
    for r in docs.collect():  # driver-side write of the small fixture set
        with open(os.path.join(tmp, f"{r['doc_id']:08d}.txt"), "wb") as fh:
            fh.write(r["text"].encode("utf-8"))
    files = spark.read.format("binaryFile").option("pathGlobFilter", "*.txt").load(tmp)
    return files.select(
        F.regexp_extract(F.col("path"), r"(\d{8})\.txt$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.length(F.decode(F.col("content"), "UTF-8")).alias("n_chars_decoded"),
    )


BINFILE_ORACLE = f"""
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       length(text) AS n_chars_decoded
FROM documents
WHERE doc_id < {BINFILE_DOC_LIMIT}
"""


# --- Python DataSource API (Spark 4) ---------------------------------------

PYDS_ROWS = 100_000
PYDS_PARTITIONS = 8
PYDS_A = 1103515245
PYDS_C = 12345
PYDS_MOD = 2_147_483_648  # 2^31


def _register_synthetic_source(spark: SparkSession) -> None:
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class _RangePartition(InputPartition):
        def __init__(self, start: int, end: int):
            self.start = start
            self.end = end

    class _SyntheticReader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("rows", PYDS_ROWS))
            self.parts = int(options.get("partitions", PYDS_PARTITIONS))

        def partitions(self):
            step = (self.n + self.parts - 1) // self.parts
            return [
                _RangePartition(i * step, min((i + 1) * step, self.n))
                for i in range(self.parts)
            ]

        def read(self, partition):
            for i in range(partition.start, partition.end):
                score = (PYDS_A * i + PYDS_C) % PYDS_MOD
                yield (i, score, f"cat_{i % 7}")

    class SyntheticEventsDataSource(DataSource):
        @classmethod
        def name(cls):
            return "synthetic_events"

        def schema(self):
            return "id long, score long, category string"

        def reader(self, schema):
            return _SyntheticReader(self.options)

    spark.dataSource.register(SyntheticEventsDataSource)


def pyds_synthetic_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the custom Python data source (8 explicit input partitions,
    read in parallel) and aggregate per category — the oracle
    regenerates the identical relation from range(), so a partition
    boundary bug (dropped/duplicated rows) cannot hide."""
    _register_synthetic_source(spark)
    df = spark.read.format("synthetic_events").option("rows", PYDS_ROWS).load()
    return df.groupBy("category").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("score").alias("sum_score"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
    )


PYDS_ORACLE = f"""
WITH src AS (
  SELECT range AS id,
         ({PYDS_A} * range + {PYDS_C}) % {PYDS_MOD} AS score,
         'cat_' || CAST(range % 7 AS VARCHAR) AS category
  FROM range({PYDS_ROWS})
)
SELECT category, count(*) AS n, CAST(sum(score) AS BIGINT) AS sum_score,
       min(id) AS min_id, max(id) AS max_id
FROM src GROUP BY category
"""


PYDS_STREAM_ROWS = 50_000


def _register_synthetic_stream(spark: SparkSession) -> None:
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class _Reader(SimpleDataSourceStreamReader):
        """Offset-managed reader: the stream position is a plain dict
        checkpointed by Spark; readBetweenOffsets replays a committed
        range on recovery — the exactly-once contract."""

        def initialOffset(self):
            return {"pos": 0}

        def read(self, start):
            # rows are pickled into the prefetched partition — must be a
            # materialized sequence, not a generator
            pos = start["pos"]
            end = max(pos, PYDS_STREAM_ROWS)
            return self._rows(pos, end), {"pos": end}

        def readBetweenOffsets(self, start, end):
            return iter(self._rows(start["pos"], end["pos"]))

        @staticmethod
        def _rows(lo: int, hi: int):
            return [
                (i, (PYDS_A * i + PYDS_C) % PYDS_MOD, f"cat_{i % 7}")
                for i in range(lo, hi)
            ]

    class SyntheticStreamSource(DataSource):
        @classmethod
        def name(cls):
            return "synthetic_stream"

        def schema(self):
            return "id long, score long, category string"

        def simpleStreamReader(self, schema):
            return _Reader()

    spark.dataSource.register(SyntheticStreamSource)


def pyds_stream_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read through the Python DataSource API (Spark 4):
    a pure-Python source with dict offsets and replayable
    readBetweenOffsets, drained via availableNow into a memory sink,
    then aggregated per category. The oracle regenerates the stream
    content from range() — dropped or duplicated offsets cannot hide
    in the checksums."""
    _register_synthetic_stream(spark)
    df = spark.readStream.format("synthetic_stream").load()
    got = run_to_completion(df, "drv_pyds_stream", output_mode="append")
    return got.groupBy("category").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("score").alias("sum_score"),
        F.sum("id").alias("sum_id"),
    )


PYDS_STREAM_ORACLE = f"""
WITH src AS (
  SELECT range AS id,
         ({PYDS_A} * range + {PYDS_C}) % {PYDS_MOD} AS score,
         'cat_' || CAST(range % 7 AS VARCHAR) AS category
  FROM range({PYDS_STREAM_ROWS})
)
SELECT category, count(*) AS n, CAST(sum(score) AS BIGINT) AS sum_score, CAST(sum(id) AS BIGINT) AS sum_id
FROM src GROUP BY category
"""


QUERY_DEFS = [
    QueryDef("binfile_ingest_documents", binfile_ingest_documents, BINFILE_ORACLE),
    QueryDef("pyds_synthetic_agg", pyds_synthetic_agg, PYDS_ORACLE),
    QueryDef("pyds_stream_agg", pyds_stream_agg, PYDS_STREAM_ORACLE),
]
