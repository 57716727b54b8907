"""Salting must change only the shuffle distribution, never the result."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ai_data_pipeline_spark.catalog import load_table
from ai_data_pipeline_spark.operators.skew import SALT_COL, salted_join
from tests.conftest import SF_DIR


def salted_count(df: DataFrame, key: str, n_salt: int = 16, seed: int = 42) -> DataFrame:
    """Two-phase aggregation for a skewed groupBy key: partial counts on
    (key, salt), then final on key — the map-side combine pattern made
    explicit when a single key's partial state overwhelms one reducer."""
    salted = df.withColumn(SALT_COL, F.floor(F.rand(seed) * n_salt).cast("int"))
    partial = salted.groupBy(key, SALT_COL).agg(F.count(F.lit(1)).alias("_c"))
    return partial.groupBy(key).agg(F.sum("_c").alias("n"))


def test_salted_join_equals_plain_join(spark):
    o = load_table(spark, SF_DIR, "orders")
    c = load_table(spark, SF_DIR, "customer")
    plain = o.join(c, o["o_custkey"] == c["c_custkey"]).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").alias("sk"),
        F.sum("c_custkey").alias("sc"),
    )
    salted = salted_join(o, c, "o_custkey", "c_custkey", n_salt=8).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").alias("sk"),
        F.sum("c_custkey").alias("sc"),
    )
    assert plain.collect() == salted.collect()


def test_salted_count_equals_plain_count(spark):
    o = load_table(spark, SF_DIR, "orders")
    plain = {
        r["o_custkey"]: r["n"]
        for r in o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    salted = {r["o_custkey"]: r["n"] for r in salted_count(o, "o_custkey", 8).collect()}
    assert plain == salted
