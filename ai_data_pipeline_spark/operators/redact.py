"""PII redaction: the enforcement counterpart to the reference's PII
*detection* (pattern_classifier.py:211-234 flags columns; a training
pipeline must also scrub values). Masks emails, phone numbers, and long
id digit-runs inside free text with `[EMAIL]` / `[PHONE]` / `[ID]`.

The testdata corpus contains no PII (verified), so the query
synthesizes a deterministic contact string per customer from its key —
the redaction expressions themselves are generic `regexp_replace`
chains over any string column. Patterns use only portable regex syntax
(character classes + bounded quantifiers — no lookaround), so Java
regex (Spark) and RE2 (DuckDB) agree; replacement order is
email → phone → id so the narrower patterns never eat a wider match's
prefix. Scale: pure per-row projection — no shuffle, stays in
whole-stage codegen end to end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_data_pipeline_spark.catalog import load_table
from ai_data_pipeline_spark.functions.expressions import spread
from ai_data_pipeline_spark.registry import QueryDef

EMAIL_RX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RX = r"\+?\d[\d-]{6,}\d"
ID_RX = r"\d{6,}"


def redact_pii(col: Column) -> Column:
    """Generic masking chain — usable on any string column."""
    out = F.regexp_replace(col, EMAIL_RX, "[EMAIL]")
    out = F.regexp_replace(out, PHONE_RX, "[PHONE]")
    return F.regexp_replace(out, ID_RX, "[ID]")


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    contact = F.concat(
        F.lit("Contact: "),
        F.col("c_name"),
        F.lit(" <user"),
        F.col("c_custkey").cast("string"),
        F.lit("@example.com> tel +1-555-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
        F.lit(" ref "),
        F.lpad(F.col("c_custkey").cast("string"), 9, "0"),
    )
    masked = redact_pii(contact)
    return c.select(
        "c_custkey",
        contact.alias("contact"),
        masked.alias("masked"),
        F.regexp_count(contact, F.lit(EMAIL_RX)).alias("n_emails"),
        F.regexp_count(contact, F.lit(PHONE_RX)).alias("n_phones"),
        F.regexp_count(masked, F.lit(r"\d{6,}")).alias("digits_left"),
    )


PII_REDACT_ORACLE = rf"""
WITH src AS (
  SELECT c_custkey,
         'Contact: ' || c_name || ' <user' || CAST(c_custkey AS VARCHAR)
         || '@example.com> tel +1-555-'
         || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
         || ' ref ' || lpad(CAST(c_custkey AS VARCHAR), 9, '0') AS contact
  FROM customer
), masked AS (
  SELECT c_custkey, contact,
         regexp_replace(
           regexp_replace(
             regexp_replace(contact, '{EMAIL_RX}', '[EMAIL]', 'g'),
             '{PHONE_RX}', '[PHONE]', 'g'),
           '{ID_RX}', '[ID]', 'g') AS masked
  FROM src
)
SELECT c_custkey, contact, masked,
       len(regexp_extract_all(contact, '{EMAIL_RX}')) AS n_emails,
       len(regexp_extract_all(contact, '{PHONE_RX}')) AS n_phones,
       len(regexp_extract_all(masked, '\d{{6,}}')) AS digits_left
FROM masked
"""


# --- corpus-scale PII scan over free text ---------------------------------
#
# The scan needs TYPED, disjoint counts (a per-type tally drives the
# per-type policy: SSN-bearing docs are dropped, the rest redacted), so
# it uses strict per-type patterns instead of the generic PHONE_RX
# above — `\+?\d[\d-]{6,}\d` would also match SSN-shaped strings and
# double-count them. The four patterns below are pairwise non-matching
# on each other's planted strings (verified in the unit recompute):
# phones are ddd-ddd-dddd, SSNs ddd-dd-dddd, IPs dotted quads, emails
# need '@'. Portable syntax only (classes + bounded quantifiers), so
# Java regex (Spark) and RE2 (DuckDB) agree.
PHONE_STRICT_RX = r"\d{3}-\d{3}-\d{4}"
SSN_RX = r"\d{3}-\d{2}-\d{4}"
IP_RX = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"

# The documents corpus contains no natural PII (verified — every
# pattern count is 0 over the raw text), so each PII channel is
# PLANTED deterministically per doc_id (the er_fuzzy_linkage /
# stream_index_dedup discipline): both engines apply the same
# augmentation, so detection, typed counts, the keep/redact/drop
# decision, and the redaction length accounting are all provably
# non-trivial at every SF (doc_id is dense, so every modulus fires).
PII_EMAIL_MOD = 7
PII_PHONE_MOD = 11
PII_IP_MOD = 13
PII_SSN_MOD = 17


def corpus_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale PII scan + policy decision over free text — the
    compliance pass an LLM training pipeline runs before release
    (extends the reference's column-level PII *flags*,
    pattern_classifier.py:211-234, to per-occurrence accounting inside
    document text): typed match counts per document (email / phone /
    IPv4 / SSN), the curation action they imply (`drop` when an SSN is
    present — unmaskable risk class; `redact` for the rest), and the
    redaction length accounting (aug_len vs redacted_len proves the
    masking transform ran and how much it removed). Returns the
    flagged docs only.

    Scale: pure per-row projection + filter — regex count and
    replace chains stay in whole-stage codegen, NO shuffle beyond the
    single round-robin width-normalizer (the testdata parquet is one
    row group → one scan task; at cluster scale the scan has real
    parallelism and the exchange is a no-op rebalance). Flagged-row
    output is a fixed fraction of the corpus (the planted moduli);
    text itself is never emitted, only lengths and counts."""
    d = spread(load_table(spark, sf_dir, "documents"))
    did = F.col("doc_id")

    def planted(mod: int, *parts) -> Column:
        return F.when(did % mod == 0, F.concat(*parts)).otherwise(F.lit(""))

    aug = F.concat(
        F.col("text"),
        planted(
            PII_EMAIL_MOD,
            F.lit(" contact user"),
            did.cast("string"),
            F.lit("@example.com"),
        ),
        planted(
            PII_PHONE_MOD,
            F.lit(" call 415-555-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
        ),
        planted(
            PII_IP_MOD,
            F.lit(" host 10.0."),
            (did % 256).cast("string"),
            F.lit("."),
            ((did * 7) % 256).cast("string"),
        ),
        planted(
            PII_SSN_MOD,
            F.lit(" id 123-45-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
        ),
    )
    # mask order email → ssn → phone → ip, identical in the oracle;
    # the four patterns are mutually non-overlapping so order is
    # documentation, not semantics
    masked = F.regexp_replace(aug, EMAIL_RX, "[EMAIL]")
    masked = F.regexp_replace(masked, SSN_RX, "[SSN]")
    masked = F.regexp_replace(masked, PHONE_STRICT_RX, "[PHONE]")
    masked = F.regexp_replace(masked, IP_RX, "[IP]")
    cnt = d.select(
        "doc_id",
        "lang",
        F.regexp_count(aug, F.lit(EMAIL_RX)).alias("n_email"),
        F.regexp_count(aug, F.lit(PHONE_STRICT_RX)).alias("n_phone"),
        F.regexp_count(aug, F.lit(IP_RX)).alias("n_ip"),
        F.regexp_count(aug, F.lit(SSN_RX)).alias("n_ssn"),
        F.length(aug).alias("aug_len"),
        F.length(masked).alias("redacted_len"),
    )
    total = F.col("n_email") + F.col("n_phone") + F.col("n_ip") + F.col("n_ssn")
    return (
        cnt.withColumn("pii_total", total.cast("long"))
        .filter(F.col("pii_total") > 0)
        .select(
            "doc_id",
            "lang",
            "n_email",
            "n_phone",
            "n_ip",
            "n_ssn",
            "pii_total",
            F.when(F.col("n_ssn") > 0, "drop")
            .otherwise("redact")
            .alias("action"),
            "aug_len",
            "redacted_len",
        )
    )


PII_SCAN_ORACLE = f"""
WITH aug AS (
  SELECT doc_id, lang,
    text
    || CASE WHEN doc_id % {PII_EMAIL_MOD} = 0
            THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
            ELSE '' END
    || CASE WHEN doc_id % {PII_PHONE_MOD} = 0
            THEN ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
            ELSE '' END
    || CASE WHEN doc_id % {PII_IP_MOD} = 0
            THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                 || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
            ELSE '' END
    || CASE WHEN doc_id % {PII_SSN_MOD} = 0
            THEN ' id 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
            ELSE '' END AS a
  FROM documents
), cnt AS (
  SELECT doc_id, lang,
    len(regexp_extract_all(a, '{EMAIL_RX}')) AS n_email,
    len(regexp_extract_all(a, '{PHONE_STRICT_RX}')) AS n_phone,
    len(regexp_extract_all(a, '{IP_RX}')) AS n_ip,
    len(regexp_extract_all(a, '{SSN_RX}')) AS n_ssn,
    length(a) AS aug_len,
    length(regexp_replace(regexp_replace(regexp_replace(regexp_replace(a,
      '{EMAIL_RX}', '[EMAIL]', 'g'),
      '{SSN_RX}', '[SSN]', 'g'),
      '{PHONE_STRICT_RX}', '[PHONE]', 'g'),
      '{IP_RX}', '[IP]', 'g')) AS redacted_len
  FROM aug
)
SELECT doc_id, lang, n_email, n_phone, n_ip, n_ssn,
       CAST(n_email + n_phone + n_ip + n_ssn AS BIGINT) AS pii_total,
       CASE WHEN n_ssn > 0 THEN 'drop' ELSE 'redact' END AS action,
       aug_len, redacted_len
FROM cnt
WHERE n_email + n_phone + n_ip + n_ssn > 0
"""


QUERY_DEFS = [
    QueryDef("pii_redact", pii_redact, PII_REDACT_ORACLE),
    QueryDef("corpus_pii_scan", corpus_pii_scan, PII_SCAN_ORACLE),
]
