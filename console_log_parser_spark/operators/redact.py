"""PII redaction for training-data pipelines.

Before a corpus is used for training, personally identifiable
information (emails, IP addresses, phone numbers) is scrubbed and
replaced with typed placeholder tokens, and per-class hit counts are
kept for audit. This is part of the graft's training-data extension
surface (like dedup/sampling/decontamination); the reference's
operator inventory has no analog.

Scale design (100 TB corpus): the whole operator is a chain of
``regexp_count`` + ``regexp_replace`` built-in expressions — JVM-side,
whole-stage-codegen, zero shuffle, zero Python. Patterns are compiled
once per task by Catalyst; the operator is a pure map, so it composes
with any downstream stage without adding an exchange and is trivially
resumable (same input row -> same output row, no state).

Pattern notes: the regexes use only the Java-regex / RE2 common subset
(character classes, bounded repeats, ASCII ``\\b``) so the engine and
the DuckDB oracle agree byte-for-byte. Counts are measured on the RAW
text per class (an email whose domain is a literal IPv4 counts for
both classes — documented, tested); replacement is sequential
email -> phone -> ipv4, an order chosen so no placeholder token can
feed a later pattern (placeholders contain no digits or dots).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# (class, pattern, placeholder) — replacement applies in list order.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("phone", r"\+\d{2}-\d{3}-\d{3}-\d{4}", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def redact_pii(df: DataFrame) -> DataFrame:
    """Add ``text_redacted`` (text with every PII hit replaced by its typed
    placeholder) and one ``n_<class>`` long column per pattern class
    counting hits on the raw text. Pure map-side built-ins."""
    out = df
    for cls, pat, _ in PII_PATTERNS:
        out = out.withColumn(
            f"n_{cls}",
            F.regexp_count(F.col("text"), F.lit(pat)).cast("long"))
    red = F.col("text")
    for _, pat, tok in PII_PATTERNS:
        red = F.regexp_replace(red, pat, tok)
    return out.withColumn("text_redacted", red)
