"""Semantic type system: patterns, thresholds, and name heuristics.

Parity notes (reference: saipuli3872/ai-data-pipeline, read-only at
/root/reference — semantics re-derived, no code copied):

- 9-value semantic vocabulary (`DataType` enum, base.py:17-27):
  identifier, business_key, date, numeric, text, boolean, email, phone,
  address; PII levels none|low|medium|high (base.py:30-35). We add two
  structural extension types: ``vector`` (array<numeric> columns) and
  ``binary`` for multimodal payloads.
- Pattern matching runs on *string renderings* of values
  (pattern_classifier.py:73 `astype(str)`), anchored regexes, a type is
  claimed when any single pattern of that type matches >= 80% of the
  non-null values (pattern_classifier.py:149-154). Both reference email
  shapes are carried (strict anchored + the looser
  pattern_classifier.py:29 variant) and the full reference boolean set
  including on|off (pattern_classifier.py:56); bool_t_f is a deliberate
  extension beyond the reference (single-letter t/f renderings).
- Decision precedence is the "test-intent" fixed order documented in
  SURVEY.md §7.6: identifier-heuristic, EMAIL, DATE, PHONE, NUMERIC,
  BOOLEAN, then fallbacks — this fixes the reference's phone-before-date
  precedence bug (pattern_classifier.py:36,139-166) and its
  numeric-before-identifier ordering (test intent test_classifiers.py:44-65).
- PK/BK/PII/name heuristics mirror pattern_classifier.py:168-234.

All patterns are portable across Python `re`, Java regex (Spark `rlike`)
and RE2 (DuckDB `regexp_matches`): no lookaround, no named groups,
inline `(?i)` only.

All threshold comparisons are expressed over integer hit counts
(e.g. ratio >= 0.8  <=>  5*hits >= 4*n) so Spark and any ANSI-SQL oracle
decide identically with zero floating-point ambiguity.
"""

from __future__ import annotations

import re

from ai_data_pipeline_spark.functions.expressions import WHITESPACE

# --------------------------------------------------------------------------
# Semantic types
# --------------------------------------------------------------------------

IDENTIFIER = "identifier"
BUSINESS_KEY = "business_key"
DATE = "date"
NUMERIC = "numeric"
TEXT = "text"
BOOLEAN = "boolean"
EMAIL = "email"
PHONE = "phone"
ADDRESS = "address"  # in the vocabulary; no pattern rule produces it (parity)
VECTOR = "vector"  # extension: array<numeric> columns
BINARY = "binary"  # extension: multimodal payload columns

PII_NONE, PII_LOW, PII_MEDIUM, PII_HIGH = "none", "low", "medium", "high"
# Ordinal severity (fixes the reference's lexicographic-max PII merge bug,
# hybrid_classifier.py:210,232 — SURVEY.md §7.6 #1).
PII_ORDER = {PII_NONE: 0, PII_LOW: 1, PII_MEDIUM: 2, PII_HIGH: 3}

# --------------------------------------------------------------------------
# Patterns: (semantic_type, pattern_name, regex)
# --------------------------------------------------------------------------

# one phone-number separator: a whitespace character, hyphen or dot
_SEP = rf"[{WHITESPACE}\-\.]"

PATTERNS: list[tuple[str, str, str]] = [
    (EMAIL, "email_std", r"(?i)^[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}$"),
    # the reference's SECOND, looser email shape (pattern_classifier.py:29)
    # — any-single-pattern ≥80% semantics means unusual-but-valid locals
    # (e.g. quoted/underscored) claim email here where the strict anchor
    # alone would drop below threshold (VERDICT r9 parity gap #2)
    (EMAIL, "email_loose", r"(?i)^[a-z0-9_.+-]+@[a-z0-9_-]+\.[a-z0-9_.-]+$"),
    (DATE, "date_iso", r"^\d{4}-\d{2}-\d{2}$"),
    (DATE, "date_us", r"^\d{1,2}/\d{1,2}/\d{4}$"),
    (DATE, "date_iso_slash", r"^\d{4}/\d{1,2}/\d{1,2}$"),
    (DATE, "datetime_iso", r"^\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}(:\d{2})?(\.\d+)?$"),
    (DATE, "date_monthname", r"(?i)^[a-z]{3,9}\.? \d{1,2},? \d{4}$"),
    (PHONE, "phone_nanp", rf"^(\+?\d{{1,2}}{_SEP})?(\(\d{{3}}\){_SEP}?|\d{{3}}{_SEP})?\d{{3}}{_SEP}\d{{4}}$"),
    (PHONE, "phone_intl", r"^\+\d{7,15}$"),
    (PHONE, "phone_loose", rf"^\+?[\d{WHITESPACE}\-\(\)\.]{{10,18}}$"),
    (NUMERIC, "num_int", r"^-?\d+$"),
    (NUMERIC, "num_dec", r"^-?(\d+\.\d*|\.\d+)$"),
    (NUMERIC, "num_sci", r"(?i)^-?\d+(\.\d+)?e[+-]?\d+$"),
    (NUMERIC, "num_currency", r"^[-+]?[$]?\d{1,3}(,\d{3})*(\.\d+)?$"),
    (BOOLEAN, "bool_tf", r"(?i)^(true|false)$"),
    (BOOLEAN, "bool_yn", r"(?i)^(yes|no)$"),
    (BOOLEAN, "bool_yn1", r"(?i)^(y|n)$"),
    (BOOLEAN, "bool_01", r"^(0|1)$"),
    # on|off is in the reference's boolean set (pattern_classifier.py:56);
    # it was missing here through round 9, so an on/off column profiled
    # as text (VERDICT r9 parity gap #1)
    (BOOLEAN, "bool_onoff", r"(?i)^(on|off)$"),
    # extension beyond the reference: single-letter t/f renderings
    # (reference would profile such a column as text)
    (BOOLEAN, "bool_t_f", r"(?i)^(t|f)$"),
    # no identifier patterns: parity with pattern_classifier.py:146-147,
    # whose claim loop skips IDENTIFIER — identifiers are claimed by the
    # name+uniqueness heuristic (cascade.py), so a uuid or prefixed-number
    # pattern sum would be computed and never read.
    # business-key code shapes (pattern_classifier.py:205)
    (BUSINESS_KEY, "bk_code", r"^([A-Z]{2,4}|[A-Z][0-9]{1,3})$"),
]

def patterns_of(semantic_type: str) -> list[tuple[str, str]]:
    return [(name, rx) for typ, name, rx in PATTERNS if typ == semantic_type]


# --------------------------------------------------------------------------
# Integer-exact threshold predicates (shared Spark/SQL formulation)
# ratio >= num/den  <=>  den*hits >= num*n
# --------------------------------------------------------------------------

MATCH_NUM, MATCH_DEN = 4, 5  # >= 0.8 claim threshold (pattern_classifier.py:152)
BK_CODE_NUM, BK_CODE_DEN = 1, 2  # >= 0.5 BK structural threshold (:205)

# unique-ratio thresholds as (num, den) of dist/total comparisons
UR_ID_HEUR = (9, 10)  # > 0.9  (pattern_classifier.py:172)
UR_PK = (99, 100)  # >= 0.99 (:183)
UR_FALLBACK_ID = (19, 20)  # > 0.95 (:161)
UR_FALLBACK_BK = (1, 10)  # < 0.1  (:163)
UR_BK_STRUCT = (3, 10)  # < 0.3  (:201)

# --------------------------------------------------------------------------
# Name heuristics — pure functions of the column NAME, evaluated in Python
# at plan-build time and embedded as literals in BOTH dialects.
# --------------------------------------------------------------------------

ID_NAME_PARTS = ("id", "key", "uuid", "guid")  # pattern_classifier.py:171
BK_NAME_PARTS = (
    "code", "type", "status", "category", "class", "group", "dept", "region",
)  # pattern_classifier.py:196
PII_HIGH_PARTS = ("ssn", "social", "credit", "password", "secret")  # :218
PII_MEDIUM_PARTS = ("name", "address", "location", "birth")  # :222
PII_LOW_PARTS = ("first", "last", "city", "state", "zip")  # :226


def name_has(name: str, parts: tuple[str, ...]) -> bool:
    low = name.lower()
    return any(p in low for p in parts)


def name_pii(name: str) -> str:
    """PII level implied by the column name alone (op19 name branch)."""
    if name_has(name, PII_HIGH_PARTS):
        return PII_HIGH
    if name_has(name, PII_MEDIUM_PARTS):
        return PII_MEDIUM
    if name_has(name, PII_LOW_PARTS):
        return PII_LOW
    return PII_NONE


_CAMEL = re.compile(r"([a-z0-9])([A-Z])")
_NON_ALNUM = re.compile(r"[^A-Za-z0-9]+")
_MULTI_US = re.compile(r"_+")


def snake_case(name: str) -> str:
    """op20 name normalization (pattern_classifier.py:236-241):
    'Customer ID'->'customer_id', 'EmailAddress'->'email_address'."""
    s = _CAMEL.sub(r"\1_\2", name)
    s = _NON_ALNUM.sub("_", s)
    s = _MULTI_US.sub("_", s.lower())
    return s.strip("_")


def name_literals(name: str, kind: str) -> dict[str, object]:
    """The python-literal part of a column's stats row (cascade.py
    contract), which the Spark profiler and the DuckDB oracle both embed
    as literals."""
    return {
        "column_name": name,
        "kind": kind if kind in (VECTOR, BINARY) else "scalar",
        "f_idname": name_has(name, ID_NAME_PARTS),
        "f_id_in_name": "id" in name.lower(),
        "f_pkname": name_has(name, ("id", "key")),
        "f_bkname": name_has(name, BK_NAME_PARTS),
        "f_name_pii": name_pii(name),
        "f_suggested": snake_case(name),
    }


MEANING_TEMPLATES = {
    IDENTIFIER: "Unique identifier",
    BUSINESS_KEY: "Business key or category code",
    DATE: "Date or timestamp attribute",
    NUMERIC: "Numeric measure or quantity",
    TEXT: "Free-form text attribute",
    BOOLEAN: "Boolean flag",
    EMAIL: "Email address (PII)",
    PHONE: "Phone number (PII)",
    ADDRESS: "Postal address (PII)",
    VECTOR: "Embedding vector",
    BINARY: "Binary payload",
}


# Confidence constants (op22: pattern results carry 0.8,
# pattern_classifier.py:101,133; heuristic/fallback tiers are ours).
CONF_HEURISTIC_ID = 0.9
CONF_PATTERN = 0.8
CONF_FALLBACK_ID = 0.6
CONF_FALLBACK = 0.5
CONF_STRUCTURAL = 1.0  # vector/binary decided from the physical schema
