"""Testdata catalog: fixed schemas of the driver-generated tables.

The schemas mirror /root/testdata/sf*/ (see TESTDATA.md / FIXTURES.md §F7).
They are hard-coded so the DuckDB oracle SQL generator (which has no
SparkSession) and the Spark-side profiler share one source of truth.

``kind`` is the engine's physical-type class used to pick the string
rendering for pattern matching (see profiling/profiler.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

# kind ∈ {int, long, double, string, timestamp, vector}
TABLES: dict[str, list[tuple[str, str]]] = {
    "region": [("r_regionkey", "int"), ("r_name", "string")],
    "nation": [("n_nationkey", "int"), ("n_name", "string"), ("n_regionkey", "int")],
    "customer": [
        ("c_custkey", "long"),
        ("c_name", "string"),
        ("c_nationkey", "int"),
        ("c_acctbal", "double"),
        ("c_mktsegment", "string"),
    ],
    "supplier": [
        ("s_suppkey", "long"),
        ("s_name", "string"),
        ("s_nationkey", "int"),
        ("s_acctbal", "double"),
    ],
    "part": [
        ("p_partkey", "long"),
        ("p_name", "string"),
        ("p_brand", "string"),
        ("p_type", "string"),
        ("p_size", "int"),
        ("p_retailprice", "double"),
    ],
    "orders": [
        ("o_orderkey", "long"),
        ("o_custkey", "long"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "double"),
        ("o_orderdate", "timestamp"),
        ("o_orderpriority", "string"),
    ],
    "lineitem": [
        ("l_orderkey", "long"),
        ("l_partkey", "long"),
        ("l_suppkey", "long"),
        ("l_linenumber", "int"),
        ("l_quantity", "double"),
        ("l_extendedprice", "double"),
        ("l_discount", "double"),
        ("l_tax", "double"),
        ("l_returnflag", "string"),
        ("l_linestatus", "string"),
        ("l_shipdate", "timestamp"),
    ],
    "events": [
        ("event_id", "long"),
        ("ts", "timestamp"),
        ("user_id", "long"),
        ("event_type", "string"),
        ("value", "double"),
        ("props", "string"),
    ],
    "documents": [
        ("doc_id", "long"),
        ("text", "string"),
        ("lang", "string"),
        ("source", "string"),
        ("n_chars", "long"),
    ],
    "embeddings": [("vec_id", "long"), ("embedding", "vector"), ("label", "int")],
}

def raw_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The table's parquet scan as encoded. Pandas-written parquet may
    carry TIMESTAMP(NANOS) columns, which Spark does not read natively;
    they read as raw nanosecond longs (legacy.parquet.nanosAsLong)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def normalize_timestamps(df: DataFrame, name: str) -> DataFrame:
    """Turn the declared timestamp columns of table ``name`` into
    TIMESTAMP, whatever their encoding: nanosecond longs convert to
    microsecond timestamps, and TIMESTAMP(MICROS, isAdjustedToUTC=false)
    columns, which Spark 4 infers as TIMESTAMP_NTZ, cast back to
    TIMESTAMP (session TZ is UTC, so the wall-clock values are unchanged
    and oracle parity holds). Works on batch and streaming frames alike,
    keeping the catalog schema (TABLES) authoritative."""
    declared = dict(TABLES.get(name, []))
    for field in df.schema.fields:
        if declared.get(field.name) != "timestamp":
            continue
        if isinstance(field.dataType, LongType):
            df = df.withColumn(
                field.name, F.expr(f"timestamp_micros({field.name} div 1000)")
            )
        elif isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan — Catalyst pushes filters/projections into
    it — with its timestamp columns normalized."""
    return normalize_timestamps(raw_table(spark, sf_dir, name), name)
