"""PII scrubbing — redact emails / IPv4 addresses / phone-like numbers.

The content-safety pass every public-web training pipeline runs before
tokenization (C4 strips pages on a blocklist and later pipelines redact
contact strings; see also the CCNet/RefinedWeb cleaning stages). Pure JVM
``regexp_replace`` chains — no Python in the hot path, one projection,
zero shuffles (the counts are per-row column math).

Pattern notes (cross-engine contract):
- every pattern is RE2-compatible (no lookaround, no backreferences), so
  the DuckDB oracle runs the IDENTICAL regex text — Java and RE2 agree
  on this subset;
- replacement order is load-bearing: emails first (their local parts can
  contain digit runs a phone pattern would eat), then IPv4 (digit-dot
  runs also phone-shaped), then phones — each replacement token contains
  no digits, so later passes cannot re-match earlier redactions;
- the phone pattern requires phone STRUCTURE (a leading '+', or three
  3-4-digit groups with single separators, or a long 0-prefixed digit
  run) and never matches across newlines. An earlier spelling put ``\\s``
  in its character class, which collapsed any space/newline-separated
  run of legitimate numbers (score tables, numbered lists, date columns)
  into a single ``<PHONE>`` — destroying non-PII content corpus-wide.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
# three RE2-safe alternatives, each demanding real phone structure:
#   1. international: leading '+' then 7-20 digits with (), space, ., -
#   2. grouped local: three 3-4 digit groups, ONE separator char between
#      each (space/./-), optional parens on the first group
#   3. contiguous national: 0-prefixed 10-15 digit run (word-bounded)
PHONE_RE = (
    r"\+[0-9][0-9 ().-]{5,18}[0-9]"
    r"|\(?[0-9]{3,4}\)?[ .-][0-9]{3,4}[ .-][0-9]{3,4}"
    r"|\b0[0-9]{9,14}\b"
)

def pii_columns(text: Column) -> dict[str, Column]:
    """The scrub as plain Columns — (clean_text, n_emails, n_ips,
    n_phones) — so callers carrying other columns (curate's PII stage)
    stay a NARROW projection instead of joining a scrub frame back on
    doc id (at crawl scale that join shuffles the text twice; locally
    AQE broadcasts, but the plan shape must not depend on it). Counts
    are taken pass-by-pass on the PROGRESSIVELY scrubbed text (an email
    is counted once as an email, never again as a phone) — same order
    as the replacements. ``regexp_count`` instead of
    ``size(regexp_extract_all(...))``: identical non-overlapping match
    counts without materializing an array of matched substrings per row
    (the scrub runs on every input document — allocation is the scaling
    cost on a shared-memory-bandwidth host)."""
    after_email = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    after_ip = F.regexp_replace(after_email, IPV4_RE, "<IP>")
    return {
        "clean_text": F.regexp_replace(after_ip, PHONE_RE, "<PHONE>"),
        "n_emails": F.regexp_count(text, F.lit(EMAIL_RE)).cast("bigint"),
        "n_ips": F.regexp_count(after_email, F.lit(IPV4_RE)).cast("bigint"),
        "n_phones": F.regexp_count(after_ip, F.lit(PHONE_RE)).cast("bigint"),
    }


def scrub_pii(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc, clean_text, n_emails, n_ips, n_phones) — see pii_columns."""
    cols = pii_columns(F.col(text_col))
    return docs.select(
        F.col(id_col).alias("doc"),
        cols["clean_text"].alias("clean_text"),
        cols["n_emails"].alias("n_emails"),
        cols["n_ips"].alias("n_ips"),
        cols["n_phones"].alias("n_phones"),
    )
