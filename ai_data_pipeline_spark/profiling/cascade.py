"""Semantic-type decision cascade as dialect-neutral SQL expressions.

The profiler reduces each column to a small *stats row* (fixed schema,
below). The classification cascade (reference ops op13-op22,
pattern_classifier.py:139-258) is then generated ONCE as ANSI SQL
expression strings that both Spark (``selectExpr``) and DuckDB (the
correctness oracle) parse identically — so the engine and its oracle
cannot drift.

Stats-row contract (produced by profiler.py on Spark and oracle.py on
DuckDB, one row per profiled column):

    column_name  string   original column name
    kind         string   'scalar' | 'vector' | 'binary'
    n_total      bigint   count(*)
    n_nonnull    bigint   count(col)
    n_distinct   bigint   count(distinct col)           (nulls excluded)
    h_<pattern>  bigint   # of non-null string renderings matching <pattern>
    sample_values string  first 5 sorted distinct renderings (40-char cap)
    f_idname     boolean  name contains id|key|uuid|guid      (python-lit)
    f_id_in_name boolean  name contains 'id'                  (python-lit)
    f_pkname     boolean  name contains id|key                (python-lit)
    f_bkname     boolean  name contains a BK keyword          (python-lit)
    f_name_pii   string   PII level implied by the name       (python-lit)
    f_suggested  string   snake_case(name)                    (python-lit)

The python-lit fields, with column_name and kind, are
patterns.name_literals.

All thresholds are integer-exact (ratio >= a/b  <=>  b*hits >= a*n), so
no floating-point comparison can diverge between engines.
"""

from __future__ import annotations

from ai_data_pipeline_spark.profiling import patterns as P


def _sq(s: str) -> str:
    """SQL single-quoted string literal."""
    return "'" + s.replace("'", "''") + "'"


def spark_sq(s: str) -> str:
    """Spark SQL twin of ``_sq``: Spark unescapes backslashes in string
    literals (``'^\\d+$'`` would parse as ``^d+$``) and DuckDB does not,
    so a literal that may hold one (a regex, a column name) doubles
    them."""
    return _sq(s.replace("\\", "\\\\"))


def matched_sql(semantic_type: str) -> str:
    """ANY single pattern of this type matched >= 80% of non-null values
    (pattern_classifier.py:149-154)."""
    parts = [
        f"({P.MATCH_DEN}*h_{name} >= {P.MATCH_NUM}*n_nonnull)"
        for name, _ in P.patterns_of(semantic_type)
    ]
    return "(" + " OR ".join(parts) + ")"


def conditions() -> list[tuple[str, str, float]]:
    """Ordered (condition_sql, data_type, confidence) cascade — fixed-mode
    precedence per SURVEY.md §7.6 (identifier heuristic first, DATE before
    PHONE)."""
    id_a, id_b = P.UR_ID_HEUR
    fid_a, fid_b = P.UR_FALLBACK_ID
    fbk_a, fbk_b = P.UR_FALLBACK_BK
    return [
        ("kind = 'vector'", P.VECTOR, P.CONF_STRUCTURAL),
        ("kind = 'binary'", P.BINARY, P.CONF_STRUCTURAL),
        ("n_nonnull = 0", P.TEXT, 0.0),
        (f"(f_idname AND {id_b}*n_distinct > {id_a}*n_total)", P.IDENTIFIER, P.CONF_HEURISTIC_ID),
        (matched_sql(P.EMAIL), P.EMAIL, P.CONF_PATTERN),
        (matched_sql(P.DATE), P.DATE, P.CONF_PATTERN),
        (matched_sql(P.PHONE), P.PHONE, P.CONF_PATTERN),
        (matched_sql(P.NUMERIC), P.NUMERIC, P.CONF_PATTERN),
        (matched_sql(P.BOOLEAN), P.BOOLEAN, P.CONF_PATTERN),
        (f"(f_id_in_name AND {fid_b}*n_distinct > {fid_a}*n_total)", P.IDENTIFIER, P.CONF_FALLBACK_ID),
        (f"({fbk_b}*n_distinct < {fbk_a}*n_total AND n_total > 10)", P.BUSINESS_KEY, P.CONF_FALLBACK),
    ]


def layer1_exprs() -> dict[str, str]:
    """data_type + confidence (branch-dependent, so one CASE each with the
    same condition order)."""
    conds = conditions()
    dt = "CASE " + " ".join(f"WHEN {c} THEN {_sq(t)}" for c, t, _ in conds)
    dt += f" ELSE {_sq(P.TEXT)} END"
    conf = "CASE " + " ".join(
        f"WHEN {c} THEN CAST({v!r} AS DOUBLE)" for c, _, v in conds
    )
    conf += " ELSE CAST(0.5 AS DOUBLE) END"
    return {"data_type": dt, "confidence": conf}


PROFILE_COLUMNS = [
    "column_name",
    "suggested_name",
    "data_type",
    "confidence",
    "is_primary_key",
    "is_business_key",
    "pii_level",
    "total_rows",
    "null_count",
    "null_ratio",
    "unique_count",
    "unique_ratio",
    "sample_values",
    "business_meaning",
]


def _ratio_sql(numer: str) -> str:
    return (
        "CASE WHEN n_total = 0 THEN CAST(0 AS DOUBLE) "
        f"ELSE round(CAST({numer} AS DOUBLE) / n_total, 6) END"
    )


def layer2_exprs() -> dict[str, str]:
    """Final profile columns over the stats row + layer-1 ``data_type``.
    ``business_meaning`` is the op21 template for ``data_type``
    (pattern_classifier.py:243-258 shape) || the suggested name."""
    pk_a, pk_b = P.UR_PK
    bk_a, bk_b = P.UR_BK_STRUCT
    pk = (
        f"coalesce((({pk_b}*n_distinct >= {pk_a}*n_total AND f_pkname) OR "
        f"(n_distinct = n_total AND n_total > 0 AND data_type = {_sq(P.IDENTIFIER)})), FALSE)"
    )
    bk = (
        f"coalesce((f_bkname OR (data_type = {_sq(P.TEXT)} AND "
        f"{bk_b}*n_distinct < {bk_a}*n_total AND n_total > 10 AND "
        f"{P.BK_CODE_DEN}*h_bk_code >= {P.BK_CODE_NUM}*n_nonnull)), FALSE)"
    )
    pii = (
        f"CASE WHEN data_type IN ({_sq(P.EMAIL)}, {_sq(P.PHONE)}) "
        f"THEN {_sq(P.PII_HIGH)} ELSE f_name_pii END"
    )
    branches = " ".join(
        f"WHEN {_sq(t)} THEN {_sq(P.MEANING_TEMPLATES[t] + ' for ')}"
        for t in P.MEANING_TEMPLATES
    )
    meaning = (
        f"(CASE data_type {branches} ELSE {_sq('Attribute for ')} END"
        " || replace(f_suggested, '_', ' '))"
    )
    return {
        "column_name": "column_name",
        "suggested_name": "f_suggested",
        "data_type": "data_type",
        "confidence": "confidence",
        "is_primary_key": pk,
        "is_business_key": bk,
        "pii_level": pii,
        "total_rows": "n_total",
        "null_count": "n_total - n_nonnull",
        "null_ratio": _ratio_sql("n_total - n_nonnull"),
        "unique_count": "n_distinct",
        "unique_ratio": _ratio_sql("n_distinct"),
        "sample_values": "sample_values",
        "business_meaning": meaning,
    }
