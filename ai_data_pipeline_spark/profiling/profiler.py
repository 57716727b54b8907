"""Spark column profiler: one plan for one table or many.

Re-expresses the reference's per-column pandas loops
(pattern_classifier.py:110-137 / base.py:121-152) as one melt and one
two-level aggregation over every column of every profiled table, each
built from SQL text the way the cascade is:

    melt:    every column of every kind → (cid, lossless rendering)
             rows, cid a global column id                [map-side]
    level 1: groupBy(cid, render_l) count               [shuffle 1]
    level 2: groupBy(cid): counts, distinct count, one
             weighted regex-hit count per pattern (21),
             sorted sample                               [shuffle 2]

No per-column passes, no driver-side data loops: what leaves the
executors is one small stats row per column. Vector, binary and other
non-scalar columns melt like the rest — their rendering counts their
distinct values — but match no pattern and give no sample. The stats
rows then pick up their name literals from one literal array indexed
by cid, and the cascade runs on them as the same SQL expression strings
the DuckDB oracle uses (cascade.py). Since every piece is SQL text, a
plan build sends a few hundred py4j commands whatever the column count,
not one Column-API round trip per column and pattern.

Scale notes (100 TB posture):
- The scan is columnar parquet; Catalyst prunes to exactly the profiled
  columns.
- The exact distinct count is a count of level-1 groups, so no Expand
  operator; at the 100 TB tier ``exact_distinct=False`` swaps it for
  ``approx_count_distinct`` (HLL sketch) — the oracle-checked path keeps
  exact.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ai_data_pipeline_spark.functions import spread
from ai_data_pipeline_spark.profiling import cascade, patterns as P
from ai_data_pipeline_spark.profiling.cascade import spark_sq

SAMPLE_TRUNC = 40
SAMPLE_N = 5
SCALAR_KINDS = ("string", "int", "long", "double", "boolean", "timestamp", "date")


def kind_of(dtype: T.DataType) -> str:
    """Map a Spark physical type to the engine's rendering class."""
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType)):
        return "int"
    if isinstance(dtype, T.LongType):
        return "long"
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return "double"
    if isinstance(dtype, T.DecimalType):
        return "double"
    if isinstance(dtype, T.BooleanType):
        return "boolean"
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dtype, T.DateType):
        return "date"
    if isinstance(dtype, T.StringType):
        return "string"
    if isinstance(dtype, T.ArrayType) and isinstance(dtype.elementType, T.NumericType):
        return "vector"
    if isinstance(dtype, T.BinaryType):
        return "binary"
    return "other"


def render_sql(col: str, kind: str) -> str:
    """Lossless Spark SQL rendering of column ``col`` of ``kind``: the
    melted string. Distinct renderings are distinct values, so
    ``count(DISTINCT col)`` is a count of level-1 groups. Its DuckDB twin
    is ``oracle.duck_render``, which gives the *matching* rendering
    (what the regexes and the sample see); level 2 recovers that from
    this one by truncating timestamps to their first 19 characters and
    by dropping every non-scalar kind to NULL.

    - Scalar kinds agree byte for byte with ``duck_render``: a plain cast
      for ints, doubles and booleans, explicit formatting for dates and
      timestamps (microsecond precision here, Spark's resolution).
      Known divergence: Java renders doubles with |x| >= 1e7 and with
      0 < |x| < 1e-3 in scientific notation where DuckDB does not
      (12345678.5 is ``1.23456785E7`` vs ``12345678.5``; 0.0005 is
      ``5.0E-4`` vs ``0.0005``). Both ranges change the pattern hit
      counts and ``sample_values`` of such a column, not only its
      pattern ratios; the fix is ROADMAP.md open item 7.
    - Vectors add a float zero to each element, which folds -0.0 into
      0.0, and every NaN renders as ``NaN``: the distinct count is the
      one ``count(DISTINCT array<float>)`` gives in Spark and DuckDB.
    - Binary renders as ``hex``. Any other type (maps, structs,
      intervals, arrays of non-numbers) renders as the JSON of a
      one-field struct, which ``to_json`` writes for every type.

    The name is backtick-quoted: profiled inputs are arbitrary uploads,
    whose names may hold dots, spaces or backticks.
    """
    c = "`" + col.replace("`", "``") + "`"
    if kind == "string":
        return c
    if kind in ("int", "long", "double", "boolean"):
        return f"CAST({c} AS STRING)"
    if kind == "timestamp":
        return f"date_format({c}, 'yyyy-MM-dd HH:mm:ss.SSSSSS')"
    if kind == "date":
        return f"date_format({c}, 'yyyy-MM-dd')"
    if kind == "vector":
        return f"CAST(transform({c}, x -> x + CAST(0 AS FLOAT)) AS STRING)"
    if kind == "binary":
        return f"hex({c})"
    return f"CASE WHEN {c} IS NOT NULL THEN to_json(named_struct('v', {c})) END"


def _melt(df: DataFrame, cols: list[tuple[int, str, str]]) -> DataFrame:
    """One ``(cid, render_l)`` row per cell of ``df``."""
    cells = ", ".join(
        f"named_struct('cid', {i}, 'render_l', {render_sql(c, kind)})"
        for i, c, kind in cols
    )
    # spread: CPU-bound pass over a possibly single-task scan
    return spread(df).selectExpr(f"inline(array({cells}))")


def _in(ids: list[int]) -> str:
    return "cid IN (" + ", ".join(map(str, ids)) + ")"


def _stats(
    melts: list[DataFrame],
    cols: list[tuple[int, str, str]],
    exact_distinct: bool,
) -> DataFrame:
    """Stats rows of every column of every table: the two aggregation
    levels (module docstring) over the union of the melts.

    Why: regexes run on *distinct rendered values weighted by counts*, not
    on raw rows — for low-cardinality columns (flags, dates, quantities)
    that is orders of magnitude less regex work, and it is exactly
    equivalent because the hit count is sum(cnt · matches(v)) either way.
    The lossless rendering is injective, so count(distinct render) ==
    count(distinct value). Map-side partial aggregation absorbs the C×
    explode before the shuffle; high-cardinality columns degrade
    gracefully to ~row-count work (hash agg spills as needed).

    One neutral ``(cid, NULL, 0)`` row per column joins level 1, so a
    column of an empty table still gets its stats row: a NULL rendering
    adds nothing to any sum, count, distinct count or sample.

    Every aggregate is its own output column, so Catalyst prunes the
    ones the cascade does not read.
    """
    ids = ", ".join(str(i) for i, _, _ in cols)
    seed = melts[0].sparkSession.range(1).selectExpr(
        f"explode(array({ids})) AS cid",
        "CAST(NULL AS STRING) AS render_l",
        "CAST(0 AS BIGINT) AS cnt",
    )
    level1 = (
        reduce(DataFrame.union, melts)
        .groupBy("cid", "render_l")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .union(seed)
    )

    ts = [i for i, _, kind in cols if kind == "timestamp"]
    nonscalar = [i for i, _, kind in cols if kind not in SCALAR_KINDS]
    cases = (f" WHEN {_in(ts)} THEN substring(render_l, 1, 19)" if ts else "") + (
        f" WHEN {_in(nonscalar)} THEN NULL" if nonscalar else ""
    )
    render = f"CASE{cases} ELSE render_l END" if cases else "render_l"

    # rsd 0.02 (~2.7k registers, a few KB/column, still mergeable): keeps
    # the sketch within the ±5% bound the property tests pin (default
    # 0.05 measured 6.6% off on l_shipdate at sf0.001)
    n_distinct = (
        "count(render_l)" if exact_distinct else "approx_count_distinct(render_l, 0.02)"
    )
    aggs = [
        "sum(cnt) AS n_total",
        "sum(CASE WHEN render_l IS NOT NULL THEN cnt ELSE 0 END) AS n_nonnull",
        f"{n_distinct} AS n_distinct",
        *[
            f"sum(CASE WHEN render RLIKE {spark_sq(rx)} THEN cnt ELSE 0 END) AS h_{name}"
            for _, name, rx in P.PATTERNS
        ],
        "concat_ws(',', slice(array_sort(collect_set("
        f"substring(render, 1, {SAMPLE_TRUNC}))), 1, {SAMPLE_N})) AS sample_values",
    ]
    return (
        level1.selectExpr("*", f"{render} AS render")
        .groupBy("cid")
        .agg(*[F.expr(a) for a in aggs])
    )


def _name_struct(table_name: str, col: str, kind: str) -> str:
    """The name literals of one column as a Spark ``named_struct``."""
    fields = {"table_name": table_name, **P.name_literals(col, kind)}
    return "named_struct(" + ", ".join(
        f"'{k}', {spark_sq(v) if isinstance(v, str) else v}" for k, v in fields.items()
    ) + ")"


def profile_tables(
    tables: list[tuple[str, DataFrame, list[tuple[str, str]]]],
    exact_distinct: bool = True,
) -> DataFrame:
    """Profile every column of every ``(table_name, df, columns)`` in one
    plan → one row per column: ``table_name`` then
    cascade.PROFILE_COLUMNS."""
    cols, names, melts = [], [], []
    for table_name, df, columns in tables:
        table_cols = [(len(cols) + j, c, kind) for j, (c, kind) in enumerate(columns)]
        if table_cols:
            melts.append(_melt(df, table_cols))
        cols += table_cols
        names += [_name_struct(table_name, c, kind) for _, c, kind in table_cols]
    stats_rel = _stats(melts, cols, exact_distinct).selectExpr(
        "*", f"element_at(array({', '.join(names)}), cid + 1) AS lit"
    ).select("*", "lit.*")

    l1 = cascade.layer1_exprs()
    out = stats_rel.selectExpr("*", *[f"{sql} AS {name}" for name, sql in l1.items()])
    l2 = cascade.layer2_exprs()
    return out.selectExpr(
        "table_name", *[f"{sql} AS {name}" for name, sql in l2.items()]
    )


def profile_table(
    df: DataFrame,
    columns: list[tuple[str, str]] | None = None,
    exact_distinct: bool = True,
) -> DataFrame:
    """Profile every column of ``df`` → one profile row per column.

    Output schema: cascade.PROFILE_COLUMNS. Equivalent of the reference's
    ``analyze_dataframe`` (pattern_classifier.py:110-137): the one-table
    call of profile_tables. Adaptive execution runs each shuffle stage
    as its own Spark job: collecting the profile of a table runs 4 jobs,
    with or without vector columns (region, lineitem and embeddings at
    sf0.1 on local[4]).
    """
    if columns is None:
        columns = [(f.name, kind_of(f.dataType)) for f in df.schema.fields]
    return profile_tables([("", df, columns)], exact_distinct).drop("table_name")


def profile_summary(profile_df: DataFrame) -> DataFrame:
    """op14 summary rollup (base.py:82-106): counts by data_type + avg
    confidence, over the profile DataFrame."""
    return (
        profile_df.groupBy("data_type")
        .agg(
            F.count(F.lit(1)).alias("n_columns"),
            F.round(F.avg("confidence"), 6).alias("avg_confidence"),
        )
    )
