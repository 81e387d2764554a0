"""PII detection and masking — scalar column functions for corpus
scrubbing.

The standard pre-training scrub: find and mask emails and IPv4 addresses
before text enters a training corpus. All codegen `regexp_*` expressions
(no UDFs); patterns avoid lookaround and alternation-order tricks so Java
regex (Spark) and RE2 (DuckDB) agree — both passes are exactly
SQL-replayable and oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# Java's \b is Unicode-aware (an accented letter counts as a word char)
# while RE2's is ASCII-only, so an IP glued to 'ñ' would mask in DuckDB
# but not Spark. The Spark-side pattern emulates RE2's ASCII \b with
# explicit lookaround (a Java-only feature — RE2 has none, so the oracle
# keeps plain \b); tests/test_fuzz_differential.py proves the two
# spellings equivalent on hostile strings.
IPV4_RE = (
    r"(?<![0-9A-Za-z_])\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}(?![0-9A-Za-z_])"
)

EMAIL_TOKEN = "<EMAIL>"
IP_TOKEN = "<IP>"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def count_emails(col: Column | str) -> Column:
    return F.size(F.regexp_extract_all(_c(col), F.lit(EMAIL_RE), 0)).cast("long")


def count_ipv4(col: Column | str) -> Column:
    return F.size(F.regexp_extract_all(_c(col), F.lit(IPV4_RE), 0)).cast("long")


def scrub_pii(col: Column | str) -> Column:
    """Mask every email then every IPv4 (in that order — an email's
    domain can contain digit runs an IP pattern would half-match)."""
    masked = F.regexp_replace(_c(col), EMAIL_RE, EMAIL_TOKEN)
    return F.regexp_replace(masked, IPV4_RE, IP_TOKEN)
