"""Single-pass Spark column profiler.

Re-expresses the reference's per-column pandas loops
(pattern_classifier.py:110-137 / base.py:121-152) as ONE wide
``df.agg(...)`` over the whole table:

    count(*), and per column: count, count(distinct),
    one regex-hit count per pattern (21), BK-code hits, sorted sample

— a single scan with partial+final hash aggregation and whole-stage
codegen. No per-column passes, no driver-side data loops: the only thing
that leaves the executors is one tiny stats row of width O(C·P).

Scale notes (100 TB posture):
- The scan is columnar parquet; Catalyst prunes to exactly the profiled
  columns.
- ``count(distinct)`` over many columns expands via Spark's Expand
  operator (one replicated stream per distinct aggregate). That is the
  correct exact-path plan; at the 100 TB tier pass
  ``exact_distinct=False`` to use ``approx_count_distinct`` (HLL sketch,
  no Expand) — the oracle-checked path keeps exact.
- The cascade runs on the exploded stats rows (C rows), declared via the
  same SQL expression strings the DuckDB oracle uses (cascade.py).
"""

from __future__ import annotations

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
    the fix is ROADMAP.md open item 4.
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


def _scalar_stats(
    df: DataFrame, columns: list[tuple[str, str]], exact_distinct: bool
) -> DataFrame:
    """Per-column stats for scalar columns via melt + two-level aggregation.

    Plan shape (one scan, two keyed shuffles, NO Expand operator):

      scan → explode to (cid, lossless_render)            [C× rows, map-side]
           → groupBy(cid, render) count                   [shuffle 1: distincts]
           → groupBy(cid): weighted regex hits, counts,   [shuffle 2: C rows]
             distinct count, sorted sample

    Why: regexes run on *distinct rendered values weighted by counts*, not
    on raw rows — for low-cardinality columns (flags, dates, quantities)
    that is orders of magnitude less regex work, and it is exactly
    equivalent because the hit count is sum(cnt · matches(v)) either way.
    The lossless rendering is injective, so count(distinct render) ==
    count(distinct value). Map-side partial aggregation absorbs the C×
    explode before the shuffle; high-cardinality columns degrade
    gracefully to ~row-count work (hash agg spills as needed).
    """
    scalars = [
        (i, c, kind)
        for i, (c, kind) in enumerate(columns)
        if render_expr(c, kind) is not None
    ]
    if not scalars:
        return None
    df = spread(df)  # CPU-bound pass over a possibly single-task scan
    pairs = df.select(
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
    level1 = pairs.groupBy("cid", "render_l").agg(F.count(F.lit(1)).alias("cnt"))

    ts_cids = [i for i, c, kind in scalars if kind == "timestamp"]
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


def _nonscalar_stats(df: DataFrame, columns: list[tuple[str, str]]) -> DataFrame:
    """Counts/distincts for vector/binary columns (no string rendering):
    one tiny wide agg, reshaped to per-cid rows."""
    nonscalars = [
        (i, c, kind)
        for i, (c, kind) in enumerate(columns)
        if render_expr(c, kind) is None
    ]
    if not nonscalars:
        return None
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


def profile_table(
    df: DataFrame,
    columns: list[tuple[str, str]] | None = None,
    exact_distinct: bool = True,
) -> DataFrame:
    """Profile every column of ``df`` → one profile row per column.

    Output schema: cascade.PROFILE_COLUMNS. Equivalent of the reference's
    ``analyze_dataframe`` (pattern_classifier.py:110-137), as one Spark job.
    """
    if columns is None:
        columns = [(f.name, kind_of(f.dataType)) for f in df.schema.fields]

    stats = _scalar_stats(df, columns, exact_distinct)
    ns_stats = _nonscalar_stats(df, columns)
    if stats is None:
        stats = ns_stats
    elif ns_stats is not None:
        stats = stats.unionByName(ns_stats)

    spark = df.sparkSession
    flags = spark.createDataFrame(
        [
            (
                i,
                c,
                kind if kind in ("vector", "binary") else "scalar",
                P.name_has(c, P.ID_NAME_PARTS),
                "id" in c.lower(),
                P.name_has(c, ("id", "key")),
                P.name_has(c, P.BK_NAME_PARTS),
                P.name_pii(c),
                P.snake_case(c),
            )
            for i, (c, kind) in enumerate(columns)
        ],
        schema=(
            "cid int, column_name string, kind string, f_idname boolean, "
            "f_id_in_name boolean, f_pkname boolean, f_bkname boolean, "
            "f_name_pii string, f_suggested string"
        ),
    )
    stats_rel = (
        flags.join(stats, "cid", "left")
        .withColumn("n_total", F.coalesce("n_total", F.lit(0)))
        .withColumn("n_nonnull", F.coalesce("n_nonnull", F.lit(0)))
        .withColumn("n_distinct", F.coalesce("n_distinct", F.lit(0)))
        .withColumn("sample_values", F.coalesce("sample_values", F.lit("")))
    )

    l1 = cascade.layer1_exprs()
    out = stats_rel.selectExpr("*", *[f"{sql} AS {name}" for name, sql in l1.items()])
    l2 = cascade.layer2_exprs(None)
    return out.selectExpr(*[f"{sql} AS {name}" for name, sql in l2.items()])


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
