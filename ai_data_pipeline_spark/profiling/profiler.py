"""Spark column profiler: one plan for one table or many.

Re-expresses the reference's per-column pandas loops
(pattern_classifier.py:110-137 / base.py:121-152) as one melt and one
two-level aggregation over every profiled table:

    melt:    each table's scalar columns → (cid, lossless rendering) rows,
             cid a global column id                      [map-side]
    level 1: groupBy(cid, render_l) count               [shuffle 1]
    level 2: groupBy(cid): counts, distinct count, one
             weighted regex-hit count per pattern (21),
             sorted sample                               [shuffle 2]

No per-column passes, no driver-side data loops: what leaves the
executors is one small stats row per column. Vector/binary columns have
no string rendering; each table holding them adds one wide aggregate.
The stats rows then pick up their name literals from a literal array
indexed by cid, and the cascade runs on them as the same SQL expression
strings the DuckDB oracle uses (cascade.py).

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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ai_data_pipeline_spark.functions import spread
from ai_data_pipeline_spark.profiling import cascade, patterns as P

SAMPLE_TRUNC = 40
SAMPLE_N = 5


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
    if isinstance(dtype, T.ArrayType):
        return "vector"
    if isinstance(dtype, T.BinaryType):
        return "binary"
    return "other"


def _qcol(name: str) -> Column:
    """Backtick-quoted column reference: profiled inputs are arbitrary
    uploads, so names may contain dots/spaces that F.col would otherwise
    parse as struct access (op35 robustness)."""
    return F.col("`" + name.replace("`", "``") + "`")


def render_expr(col: str, kind: str) -> Column | None:
    """String rendering used for pattern matching — the Spark analogue of
    the reference's ``sample.astype(str)`` (pattern_classifier.py:73).

    Renderings are chosen to agree byte-for-byte with the DuckDB oracle's
    (oracle.py): plain cast for ints/doubles/bools, explicit second-
    precision formatting for timestamps. Known divergence, open: Java
    renders doubles with |x| >= 1e7 AND with 0 < |x| < 1e-3 in
    scientific notation where DuckDB does not (12345678.5 is
    ``1.23456785E7`` vs ``12345678.5``; 0.0005 is ``5.0E-4`` vs
    ``0.0005``). Both ranges change the pattern hit counts and
    ``sample_values`` of such a column, not only its pattern ratios;
    the fix is ROADMAP.md open item 5.
    """
    c = _qcol(col)
    if kind == "string":
        return c
    if kind in ("int", "long", "double", "boolean"):
        return c.cast("string")
    if kind == "timestamp":
        return F.date_format(c, "yyyy-MM-dd HH:mm:ss")
    if kind == "date":
        return F.date_format(c, "yyyy-MM-dd")
    return None  # vector/binary/other: no string rendering


def lossless_render_expr(col: str, kind: str) -> Column | None:
    """Injective string rendering — distinct renderings == distinct values,
    so ``count(distinct col)`` can be computed on the melted string stream.
    Identical to render_expr except timestamps keep microsecond precision
    (Spark's native resolution). The *matching* rendering is recovered from
    it by truncation (first 19 chars for timestamps)."""
    if kind == "timestamp":
        return F.date_format(_qcol(col), "yyyy-MM-dd HH:mm:ss.SSSSSS")
    return render_expr(col, kind)


def _melt(df: DataFrame, scalars: list[tuple[int, str, str]]) -> DataFrame:
    """One ``(cid, lossless_render)`` row per scalar cell of ``df``."""
    df = spread(df)  # CPU-bound pass over a possibly single-task scan
    return df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("cid"),
                        lossless_render_expr(c, kind).alias("render_l"),
                    )
                    for i, c, kind in scalars
                ]
            )
        ).alias("p")
    ).select("p.*")


def _scalar_stats(
    melts: list[DataFrame],
    scalars: list[tuple[int, str, str]],
    exact_distinct: bool,
) -> DataFrame:
    """Stats rows of the scalar columns of every table: the two
    aggregation levels (module docstring) over the union of the melts.

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
    """
    seed = melts[0].sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(i) for i, _, _ in scalars])).alias("cid"),
        F.lit(None).cast("string").alias("render_l"),
        F.lit(0).cast("long").alias("cnt"),
    )
    level1 = (
        reduce(DataFrame.union, melts)
        .groupBy("cid", "render_l")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .union(seed)
    )

    ts_cids = [i for i, _, kind in scalars if kind == "timestamp"]
    render = (
        F.when(F.col("cid").isin(ts_cids), F.substring("render_l", 1, 19)).otherwise(
            F.col("render_l")
        )
        if ts_cids
        else F.col("render_l")
    )
    level1 = level1.withColumn("render", render)

    n_distinct = (
        F.count("render_l")
        # rsd 0.02 (~2.7k registers, a few KB/column, still mergeable):
        # keeps the sketch within the ±5% bound the property tests pin
        # (default 0.05 measured 6.6% off on l_shipdate at sf0.001)
        if exact_distinct
        else F.approx_count_distinct("render_l", 0.02)
    )
    aggs = [
        F.sum("cnt").alias("n_total"),
        F.sum(F.when(F.col("render_l").isNotNull(), F.col("cnt")).otherwise(0)).alias(
            "n_nonnull"
        ),
        n_distinct.alias("n_distinct"),
    ]
    for pname, rx in ((n, x) for _, n, x in P.PATTERNS):
        aggs.append(
            F.sum(
                F.when(F.col("render").rlike(rx), F.col("cnt")).otherwise(0)
            ).alias(f"h_{pname}")
        )
    aggs.append(
        F.concat_ws(
            ",",
            F.slice(
                F.array_sort(F.collect_set(F.substring("render", 1, SAMPLE_TRUNC))),
                1,
                SAMPLE_N,
            ),
        ).alias("sample_values")
    )
    return level1.groupBy("cid").agg(*aggs)


def _nonscalar_stats(df: DataFrame, nonscalars: list[tuple[int, str, str]]) -> DataFrame:
    """Counts/distincts for vector/binary columns (no string rendering):
    one tiny wide agg, reshaped to per-cid rows."""
    aggs = [F.count(F.lit(1)).alias("n_total")]
    for i, c, _ in nonscalars:
        aggs.append(F.count(_qcol(c)).alias(f"c{i}__nonnull"))
        aggs.append(F.countDistinct(_qcol(c)).alias(f"c{i}__distinct"))
    wide = df.agg(*aggs)
    structs = []
    for i, c, _ in nonscalars:
        fields = [
            F.lit(i).alias("cid"),
            F.col("n_total").alias("n_total"),
            F.col(f"c{i}__nonnull").alias("n_nonnull"),
            F.col(f"c{i}__distinct").alias("n_distinct"),
        ]
        for pname in P.PATTERN_NAMES:
            fields.append(F.lit(None).cast("long").alias(f"h_{pname}"))
        fields.append(F.lit("").alias("sample_values"))
        structs.append(F.struct(*fields))
    return wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def profile_tables(
    tables: list[tuple[str, DataFrame, list[tuple[str, str]]]],
    exact_distinct: bool = True,
) -> DataFrame:
    """Profile every column of every ``(table_name, df, columns)`` in one
    plan → one row per column: ``table_name`` then
    cascade.PROFILE_COLUMNS."""
    names, melts, scalars, parts = [], [], [], []
    for table_name, df, columns in tables:
        cols = [(len(names) + j, c, kind) for j, (c, kind) in enumerate(columns)]
        names += [
            F.struct(
                F.lit(table_name).alias("table_name"),
                *[F.lit(v).alias(k) for k, v in P.name_literals(c, kind).items()],
            )
            for _, c, kind in cols
        ]
        table_scalars = [x for x in cols if render_expr(x[1], x[2]) is not None]
        nonscalars = [x for x in cols if x not in table_scalars]
        if table_scalars:
            melts.append(_melt(df, table_scalars))
            scalars += table_scalars
        if nonscalars:
            parts.append(_nonscalar_stats(df, nonscalars))
    if scalars:
        parts.insert(0, _scalar_stats(melts, scalars, exact_distinct))
    stats = reduce(DataFrame.unionByName, parts)
    stats_rel = stats.select(
        "*", F.element_at(F.array(*names), F.col("cid") + 1).alias("lit")
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
    as its own Spark job: collecting the profile of a scalar-only table
    runs 4 jobs, one with a vector column 6 (region and embeddings at
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
