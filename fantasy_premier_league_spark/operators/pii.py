"""PII detection and redaction — pure Column expressions, no UDFs.

A corpus release step the reference has no analog for (its data is public
match statistics) but every LLM training pipeline requires: find personally
identifying strings, count them per document, and replace them with typed
placeholder tokens.

Patterns are written in the regex subset common to Java (Spark's engine) and
RE2 (DuckDB and most scan-side engines): character classes, bounded repeats,
``\\b`` word boundaries — no backreferences or lookaround — so the exact same
pattern strings run JVM-side at scale AND in the correctness oracle.

Scale shape: redaction is a chain of ``regexp_replace`` Column ops inside
whole-stage codegen; counting uses ``regexp_count``. Zero shuffles, zero
Python — the scan cost IS the cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# (name, pattern, replacement) — order matters: email before phone so the
# digits inside an address are never half-redacted by a later rule.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def redact(col: F.Column) -> F.Column:
    """Replace every PII match with its typed placeholder, in rule order."""
    out = col
    for _, pattern, replacement in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, replacement)
    return out


def pii_profile(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document ``PII_PATTERNS`` counts + the redacted text and its
    content hash.

    Returns (id, n_<name>... , n_pii, redacted, redacted_key). The hash key
    lets a pipeline verify redaction idempotence (re-running changes
    nothing) and dedup the scrubbed corpus without re-reading full text.
    """
    c = F.col(text_col)
    counts = [F.regexp_count(c, F.lit(p)).alias(f"n_{name}") for name, p, _ in PII_PATTERNS]
    total = sum(F.regexp_count(c, F.lit(p)) for _, p, _ in PII_PATTERNS)
    red = redact(c)
    return df.select(
        F.col(id_col),
        *counts,
        total.alias("n_pii"),
        red.alias("redacted"),
        F.md5(red).alias("redacted_key"),
    )
