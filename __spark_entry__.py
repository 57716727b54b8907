"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)     — flagship: profile the customer table at sf0.001.
queries()        — one entry per implemented operator (SURVEY.md §2 keys).
oracle_sql()     — DuckDB-equivalent SQL for each query (correctness gate).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ai_data_pipeline_spark.catalog import TABLES, load_table
from ai_data_pipeline_spark.operators import (
    analytic,
    analytic2,
    aqp,
    clustering,
    corpus,
    curation,
    dedup,
    linkage,
    maintenance,
    multimodal,
    pipeline,
    quality,
    redact,
    relational,
    retrieval,
    sketches,
    sqlapi,
    stats,
    similarity,
    temporal,
    text,
    tpch_extra,
    tpch_extra2,
    udf_surface,
    unigram,
    vault,
)
from ai_data_pipeline_spark.sources import advanced as sources_advanced
from ai_data_pipeline_spark.sources import readers
from ai_data_pipeline_spark.streaming import advanced as streaming_advanced
from ai_data_pipeline_spark.streaming import ivf as streaming_ivf
from ai_data_pipeline_spark.streaming import sketch as streaming_sketch
from ai_data_pipeline_spark.streaming import watermark as streaming_watermark
from ai_data_pipeline_spark.streaming import windows as streaming_windows
from ai_data_pipeline_spark.profiling.profiler import (
    profile_summary,
    profile_table,
    profile_tables,
)
from ai_data_pipeline_spark.profiling.oracle import (
    profile_oracle_sql,
    profile_summary_oracle_sql,
)

QUERY_DEF_MODULES = [
    tpch_extra,
    tpch_extra2,
    temporal,
    streaming_windows,
    streaming_advanced,
    streaming_ivf,
    streaming_sketch,
    streaming_watermark,
    vault,
    readers,
    sources_advanced,
    text,
    multimodal,
    udf_surface,
    relational,
    stats,
    sketches,
    sqlapi,
    quality,
    redact,
    maintenance,
    pipeline,
    similarity,
    analytic,
    analytic2,
    clustering,
    corpus,
    curation,
    dedup,
    linkage,
    retrieval,
    aqp,
    unigram,
]

PROFILED_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: full semantic profile of the customer table."""
    df = load_table(spark, "/root/testdata/sf0.001", "customer")
    return profile_table(df, TABLES["customer"])


def _profile_query(table: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return profile_table(load_table(spark, sf_dir, table), TABLES[table])

    return run


def _summary_query(table: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return profile_summary(profile_table(load_table(spark, sf_dir, table), TABLES[table]))

    return run


def _profile_approx_query(table: str) -> Callable[[SparkSession, str], DataFrame]:
    """100 TB-tier profile: HLL approx_count_distinct instead of the exact
    Expand-based distinct. Declared rows-only (no oracle) — the raw
    sketch estimates are not bit-comparable across engines by design;
    the tier's GUARANTEES are driver-proven by the oracle-bearing audit
    twin profile_lineitem_approx_audit below."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return profile_table(
            load_table(spark, sf_dir, table), TABLES[table], exact_distinct=False
        )

    return run


# HLL tolerance for the approx-profile audit: the profiler's sketch runs
# at rsd=0.02 (profiler.py), so 5σ = 10% two-sided, plus 2 absolute for
# tiny columns where sparse-mode HLL is exact anyway — the same bound
# (and the same ~6e-7 per-column false-flag argument) as
# q_daily_users_hll (operators/temporal.py).
_APPROX_TOL_PCT = 10
_APPROX_TOL_ABS = 2


def _profile_approx_audit(table: str) -> Callable[[SparkSession, str], DataFrame]:
    """Oracle-bearing audit of the HLL profile tier (VERDICT r10 task
    #2, the sketch_quantile_tolerance recipe): per column, emit

    - ``unique_count``   — the EXACT distinct count (oracle-identical),
    - ``data_type``      — the cascade decision driven by the HLL
                           estimate (proves the sketch-driven semantic
                           typing agrees with the exact-driven oracle:
                           no profiled ratio sits close enough to a
                           cascade threshold for 0.8%-rsd drift to flip
                           a decision),
    - ``est_within_tol`` — [|hll − exact| ≤ 10% + 2], the 5σ bound of
                           the profiler's rsd=0.02 sketch.

    The audit intentionally runs BOTH tiers (two scans): it is the
    verification query one runs at a small SF before trusting the
    sketch tier on the full corpus, not the 100 TB production path."""
    from pyspark.sql import functions as F

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = load_table(spark, sf_dir, table)
        approx = profile_table(df, TABLES[table], exact_distinct=False).select(
            "column_name", "data_type", F.col("unique_count").alias("uc_hll")
        )
        exact = profile_table(df, TABLES[table]).select(
            "column_name", "unique_count"
        )
        ok = (
            F.abs(F.col("uc_hll") - F.col("unique_count")) * 100
            <= F.col("unique_count") * _APPROX_TOL_PCT + _APPROX_TOL_ABS * 100
        )
        return approx.join(exact, "column_name").select(
            "column_name",
            "data_type",
            "unique_count",
            ok.cast("int").alias("est_within_tol"),
        )

    return run


def _profile_approx_audit_oracle(table: str) -> str:
    return (
        "SELECT column_name, data_type, unique_count, 1 AS est_within_tol "
        f"FROM (\n{profile_oracle_sql(table, TABLES[table])}\n)"
    )


def _profile_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse sweep: profile every table in the catalog in one query
    (one melt and one two-level aggregation over all tables; the result
    is metadata-sized — one row per column — so a 10,000-table lake
    reduces to a small profile relation that is itself queryable)."""
    return profile_tables(
        [(t, load_table(spark, sf_dir, t), TABLES[t]) for t in PROFILED_TABLES]
    )


def _profile_catalog_oracle() -> str:
    return "\nUNION ALL\n".join(
        f"SELECT '{t}' AS table_name, * FROM ({profile_oracle_sql(t, TABLES[t])})"
        for t in PROFILED_TABLES
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for t in PROFILED_TABLES:
        q[f"profile_{t}"] = _profile_query(t)
    q["profile_summary_customer"] = _summary_query("customer")
    q["profile_summary_events"] = _summary_query("events")
    q["profile_lineitem_approx"] = _profile_approx_query("lineitem")
    q["profile_lineitem_approx_audit"] = _profile_approx_audit("lineitem")
    q["profile_catalog"] = _profile_catalog
    for mod in QUERY_DEF_MODULES:
        for d in mod.QUERY_DEFS:
            q[d.name] = d.fn
    return q


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}
    for t in PROFILED_TABLES:
        o[f"profile_{t}"] = profile_oracle_sql(t, TABLES[t])
    o["profile_summary_customer"] = profile_summary_oracle_sql("customer", TABLES["customer"])
    o["profile_summary_events"] = profile_summary_oracle_sql("events", TABLES["events"])
    o["profile_catalog"] = _profile_catalog_oracle()
    o["profile_lineitem_approx_audit"] = _profile_approx_audit_oracle("lineitem")
    for mod in QUERY_DEF_MODULES:
        for d in mod.QUERY_DEFS:
            if d.oracle is not None:
                o[d.name] = d.oracle
    return o
