"""PII redaction + text normalization for corpus preparation.

Patterns are written in the regex subset common to Java's engine (Spark) and
RE2 (DuckDB): character classes, bounded repetition, alternation, \\b word
boundaries — NO lookaround, NO backreferences (RE2 rejects both). That keeps
every redaction decision reproducible in the registry oracle, and incidentally
inside whole-stage codegen (no Python in the path — at 100 TB the text column
is the largest thing the engine touches).

Redaction replaces, never deletes, so token positions stay stable for
downstream alignment (a scrubbed doc keeps its shingle structure around the
placeholder).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Order matters: emails first (an email contains no ip/phone but a phone regex
#: could eat digits inside one), then ipv4, then intl phone.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"
PHONE_RE = r"\+[0-9]{7,15}\b"

EMAIL_TAG = "<EMAIL>"
IP_TAG = "<IP>"
PHONE_TAG = "<PHONE>"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def redact_emails(col: Column | str) -> Column:
    return F.regexp_replace(_c(col), EMAIL_RE, EMAIL_TAG)


def redact_ipv4(col: Column | str) -> Column:
    return F.regexp_replace(_c(col), IPV4_RE, IP_TAG)


def redact_phones(col: Column | str) -> Column:
    return F.regexp_replace(_c(col), PHONE_RE, PHONE_TAG)


def scrub_pii(col: Column | str) -> Column:
    """All redactions, in the documented order."""
    return redact_phones(redact_ipv4(redact_emails(col)))


def pii_count(col: Column | str) -> Column:
    """How many PII tokens a document carries (pre-scrub) — the corpus-audit
    metric a filtering threshold keys on."""
    c = _c(col)
    return (
        F.regexp_count(c, F.lit(EMAIL_RE))
        + F.regexp_count(c, F.lit(IPV4_RE))
        + F.regexp_count(c, F.lit(PHONE_RE))
    ).cast("long")
