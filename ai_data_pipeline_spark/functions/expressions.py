"""Column-returning expression builders shared by the operator modules.

These are plain compositions of `pyspark.sql.functions` — they stay
inside whole-stage codegen (no UDFs) and keep one definition of the
cross-engine-exact arithmetic used by every oracle-checked query.

Cross-engine exactness (see operators/relational.py docstring for the
full argument): monetary/metric sums go through
``CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE)`` — the per-row double
is identical in Spark and DuckDB, decimal summation is exact and
order-independent (double summation is not, and partial-aggregation
order differs between engines), and the final double cast is
deterministic.

Key hashing: a key becomes a deterministic integer or digest that is
identical in both engines only through the builders below, each a
Spark ``Column`` with its DuckDB SQL twin beside it (``hex_int`` /
``hex_int_sql``, ``text_fingerprint`` / ``text_fingerprint_sql``).

Tokenization: whitespace is the one class ``WHITESPACE`` in every
cross-engine regex, and text becomes whitespace tokens only through
``ws_split`` / ``ws_split_sql`` and lowercase-letter terms only through
``term_split`` / ``term_split_sql``; ``split_sql`` is the one DuckDB
split.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Java's \s and DuckDB's (RE2) \s disagree on \x0B; spelling the class
# out makes both engines (and Python's re) match the same characters.
# WHITESPACE is a class body, to be placed inside [...].
WHITESPACE = r"\t\n\x0B\f\r "
WHITESPACE_RUN = f"[{WHITESPACE}]+"


def hex_int(hex: Column, n: int, start: int = 1) -> Column:
    """The ``n`` hex digits of ``hex`` from 1-based ``start`` as a long —
    an md5 prefix turned into a bucket, a sample draw or a parsed header
    field. Both engines agree only while ``n <= 15``: 16 digits can
    exceed int64, and then Spark raises CAST_INVALID_INPUT and DuckDB a
    ConversionException."""
    return F.conv(F.substring(hex, start, n), 16, 10).cast("long")


def hex_int_sql(hex: str, n: int, start: int | str = 1) -> str:
    """DuckDB twin of ``hex_int``; ``start`` may be a SQL expression."""
    return f"CAST(('0x' || substr({hex}, {start}, {n})) AS BIGINT)"


def text_fingerprint(col: Column) -> Column:
    """Exact-content fingerprint: md5 of the lowercased, trimmed text
    with every whitespace run collapsed to one space."""
    return F.md5(F.regexp_replace(F.trim(F.lower(col)), WHITESPACE_RUN, " "))


def text_fingerprint_sql(col: str) -> str:
    """DuckDB twin of ``text_fingerprint``."""
    return f"md5(regexp_replace(trim(lower({col})), '{WHITESPACE_RUN}', ' ', 'g'))"


def split_sql(col: str, rx: str) -> str:
    """DuckDB twin of ``F.split(col, rx)``: ``string_split_regex``, which
    like Spark keeps the empty tokens at either end. ``rx`` must not
    hold a quote."""
    return f"string_split_regex({col}, '{rx}')"


def ws_split(col: Column) -> Column:
    """The whitespace tokens of ``col``: split on runs of ``WHITESPACE``.
    Both engines split alike, leading and trailing empty tokens included:
    ``' a  b '`` gives ``['', 'a', 'b', '']`` in each."""
    return F.split(col, WHITESPACE_RUN)


def ws_split_sql(col: str) -> str:
    """DuckDB twin of ``ws_split``."""
    return split_sql(col, WHITESPACE_RUN)


# a term is a run of lowercase letters a-z, after lowercasing
TERM_BREAK = "[^a-z]+"


def term_split(col: str, nonempty: bool = False) -> Column:
    """The terms of the text in SQL column ``col``: lowercased, split on
    runs of ``TERM_BREAK``. Like ``ws_split`` both engines keep the empty
    end tokens (``'Hi, you!'`` gives ``['hi', 'you', '']``) unless
    ``nonempty`` filters them out. Written as SQL text, as its twin is."""
    terms = f"split(lower({col}), '{TERM_BREAK}')"
    return F.expr(f"filter({terms}, t -> t <> '')" if nonempty else terms)


def term_split_sql(col: str, nonempty: bool = False) -> str:
    """DuckDB twin of ``term_split``."""
    terms = split_sql(f"lower({col})", TERM_BREAK)
    return f"list_filter({terms}, t -> t <> '')" if nonempty else terms


def dec_sum(col: Column, scale: int = 4) -> Column:
    """Exact, order-independent cross-engine sum of a few-decimal double."""
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


def dec_avg(col: Column, scale: int = 4) -> Column:
    """Deterministic mean: exact decimal sum divided by count."""
    return dec_sum(col, scale) / F.count(F.lit(1))


def epoch_us(col: Column) -> Column:
    """Microseconds since epoch as a long — the engine's canonical
    event-time representation (integer arithmetic is exact and
    identical across engines; DuckDB counterpart: ``epoch_us(ts)``)."""
    return F.unix_micros(col)


def time_bucket_start(ts: Column, bucket_seconds: int) -> Column:
    """Hypertable-style time bucket: floor of event time to a fixed-width
    bucket, returned as epoch seconds (long). Pure integer arithmetic —
    exact in both engines and usable as an equi-join/group key, which is
    what turns range predicates into shuffle-friendly hash keys."""
    sec = F.unix_timestamp(ts)
    return sec - sec % bucket_seconds


def spread(df: DataFrame) -> DataFrame:
    """Redistribute a CPU-bound pass: a single-row-group parquet file
    scans as ONE task no matter its size, which serializes the per-row
    work onto one core. Repartition to the local parallelism when the
    scan has fewer partitions; no-ops at cluster scale where the scan
    already has thousands of splits. Callers' results are joins or
    aggregates over the rows, so they are partitioning-invariant."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        return df.repartition(parallelism)
    return df


def topk_per_key(df, keys: list, order_cols: list, k: int):
    """Two-level tournament top-k per key: level 1 ranks locally within
    (keys, input partition) — fully parallel, and because order_cols is
    a TOTAL order, selection is associative (every global winner wins
    its local heat) — level 2 ranks only the ≤ k×partitions survivors.
    The naive single window would funnel all rows for a key through one
    reducer: with |keys| ≪ cluster width (queries, priorities, market
    segments) that is the low-cardinality-partition skew this helper
    removes. Results are identical at any partitioning
    (tests/test_operator_properties.py pins the invariance). Adds
    column ``rk`` (1-based global rank within key).

    CALLER CONTRACT: ``order_cols`` MUST be a total order within each
    key (append a unique tie-breaker such as the row's id as the last
    order column). On ties the associativity argument above fails and
    results become silently partitioning-dependent — every current
    caller (ann_cosine_topk, ann_knn_classify, q_topk_per_group,
    q_stratified_sample) passes a unique id as its final order key."""
    from pyspark.sql import Window as W

    local = (
        df.withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_lrk",
            F.row_number().over(W.partitionBy(*keys, "_pid").orderBy(*order_cols)),
        )
        .filter(F.col("_lrk") <= k)
        .drop("_pid", "_lrk")
    )
    w = W.partitionBy(*keys).orderBy(*order_cols)
    return local.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)
