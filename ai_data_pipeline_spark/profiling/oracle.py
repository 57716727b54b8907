"""DuckDB oracle SQL generator for the profiler.

Emits ANSI SQL that reproduces profiler.profile_table exactly: the same
stats-row contract, then the SAME cascade expression strings
(cascade.py) — only the stats layer differs by dialect (regexp function,
rendering, array aggregation).
"""

from __future__ import annotations

from ai_data_pipeline_spark.profiling import cascade, patterns as P
from ai_data_pipeline_spark.profiling.cascade import _sq
from ai_data_pipeline_spark.profiling.profiler import SAMPLE_N, SAMPLE_TRUNC


def duck_render(col: str, kind: str) -> str:
    """The matching rendering of ``col`` — what the regexes and the
    sample see; its Spark twin is ``profiler.render_sql``. A non-scalar
    column renders as NULL: it adds no pattern hit and no sample."""
    if kind == "string":
        return col
    if kind in ("int", "long", "double", "boolean"):
        return f"CAST({col} AS VARCHAR)"
    if kind == "timestamp":
        return f"strftime({col}, '%Y-%m-%d %H:%M:%S')"
    if kind == "date":
        return f"strftime({col}, '%Y-%m-%d')"
    return "CAST(NULL AS VARCHAR)"


def _col_stats_sql(table: str, col: str, kind: str) -> str:
    lits = {
        k: _sq(v) if isinstance(v, str) else str(v)
        for k, v in P.name_literals(col, kind).items()
    }
    sel = [
        f"{lits.pop('column_name')} AS column_name",
        f"{lits.pop('kind')} AS kind",
        "count(*) AS n_total",
        f"count({col}) AS n_nonnull",
        f"count(DISTINCT {col}) AS n_distinct",
        *[
            f"count(*) FILTER (WHERE regexp_matches(render, {_sq(rx)})) AS h_{name}"
            for _, name, rx in P.PATTERNS
        ],
        "coalesce(array_to_string(list_slice(list_sort("
        f"array_agg(DISTINCT substr(render, 1, {SAMPLE_TRUNC})) "
        f"FILTER (WHERE render IS NOT NULL)), 1, {SAMPLE_N}), ','), '') AS sample_values",
        *[f"{v} AS {k}" for k, v in lits.items()],
    ]
    return (
        "SELECT " + ", ".join(sel)
        + f" FROM (SELECT {col}, {duck_render(col, kind)} AS render FROM {table}) __t"
    )


def profile_oracle_sql(table: str, columns: list[tuple[str, str]]) -> str:
    stats_union = "\nUNION ALL\n".join(
        _col_stats_sql(table, c, k) for c, k in columns
    )
    l1 = cascade.layer1_exprs()
    l1_sel = ", ".join(f"{sql} AS {name}" for name, sql in l1.items())
    l2 = cascade.layer2_exprs()
    l2_sel = ", ".join(f"{sql} AS {name}" for name, sql in l2.items())
    return (
        f"WITH stats AS (\n{stats_union}\n), "
        f"l1 AS (SELECT *, {l1_sel} FROM stats)\n"
        f"SELECT {l2_sel} FROM l1"
    )


def profile_summary_oracle_sql(table: str, columns: list[tuple[str, str]]) -> str:
    inner = profile_oracle_sql(table, columns)
    return (
        f"SELECT data_type, count(*) AS n_columns, "
        f"round(avg(confidence), 6) AS avg_confidence "
        f"FROM (\n{inner}\n) GROUP BY data_type"
    )
