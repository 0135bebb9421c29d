"""PII detection and redaction over text columns.

A training-data compliance pass: detect emails / IPv4 addresses / long
digit runs (phone-or-ID-shaped) and replace each with a typed placeholder
token, keeping per-document detection counts for audit.

Everything is Catalyst ``regexp_extract_all`` / ``regexp_replace``
(Column API — patterns are NOT routed through SQL literal parsing, which
would swallow backslashes) —
single-pass, whole-stage codegen, no shuffle, no Python. The patterns are
restricted to the regex subset that Java (Spark) and RE2 (DuckDB, the
oracle engine) interpret identically: greedy character classes and bounded
repetition, no backrefs, no lookaround — so the gate can replay redaction
byte-for-byte.

Order matters and is fixed: emails are scrubbed before IPs (an address like
``user@10.0.0.1`` is one email, not an email plus an IP), IPs before digit
runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Shared Java/RE2 subset. Kept deliberately simple — recall over precision
# (a redaction pass should over-trigger, not leak).
EMAIL_RE = "[A-Za-z0-9_.+-]+@[A-Za-z0-9.-]+"
IPV4_RE = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
DIGIT_RUN_RE = "[0-9]{7,}"  # phone / account / SSN-shaped

EMAIL_TOKEN = "<EMAIL>"
IP_TOKEN = "<IP>"
NUMBER_TOKEN = "<NUMBER>"


def pii_scrub(docs: DataFrame) -> DataFrame:
    """(doc_id, n_emails, n_ips, n_digit_runs, clean_text).

    Counts are detections in the ORIGINAL text; ``clean_text`` has each
    match replaced by its placeholder, applied email → IP → digit-run so
    later patterns never re-match inside an earlier placeholder. NULL
    text propagates: NULL counts and NULL clean_text (the SQL twin's
    regexp functions over NULL), not zeros-for-missing.
    """
    txt = F.col("text")
    n_email = F.size(F.regexp_extract_all(txt, F.lit(EMAIL_RE), F.lit(0)))
    after_email = F.regexp_replace(txt, EMAIL_RE, EMAIL_TOKEN)
    # IP/digit counts are measured on the email-scrubbed text (an email's
    # host part must not double-count as an IP) — same staging as the
    # replacement chain, replayable in SQL.
    return (
        docs.select(
            "doc_id",
            n_email.cast("long").alias("n_emails"),
            after_email.alias("_t1"),
        )
        .select(
            "doc_id",
            "n_emails",
            F.size(F.regexp_extract_all(F.col("_t1"), F.lit(IPV4_RE), F.lit(0)))
            .cast("long")
            .alias("n_ips"),
            F.regexp_replace(F.col("_t1"), IPV4_RE, IP_TOKEN).alias("_t2"),
        )
        .select(
            "doc_id",
            "n_emails",
            "n_ips",
            F.size(F.regexp_extract_all(F.col("_t2"), F.lit(DIGIT_RUN_RE), F.lit(0)))
            .cast("long")
            .alias("n_digit_runs"),
            F.regexp_replace(F.col("_t2"), DIGIT_RUN_RE, NUMBER_TOKEN).alias(
                "clean_text"
            ),
        )
    )
