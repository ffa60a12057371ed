"""Surface-form normalization shared by canonicalization and its oracle.

normalize(s) = lowercase, punctuation ('-', '_', '/', ',', '.') -> space,
tokens sorted and re-joined with single spaces. Two aliases that differ only
by casing / punctuation / token order normalize identically — the
equivalence the reference approximates with hand-curated alias dictionaries
(/root/reference src/graphdb_connector/mapping.py:85-142) and we generalize
with an exact join on normalized aliases + connected components.

Implemented twice on purpose: once as a pure-Python function (oracle,
driver-side vocab prep) and once as JVM-side Column expressions so the
pipeline's normalization never leaves Tungsten codegen.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_PUNCT_RE = re.compile(r"[-_/,.]+")

# Java regex \s (the JVM twin's split class) is ASCII-only: [ \t\n\x0B\f\r].
# Python str.split() splits on ALL Unicode whitespace (NBSP, ideographic
# space, ...), which would make the two paths disagree on e.g. 'vitamin\xa0C'
# — so the Python twin splits on exactly the Java class.
_WS_RE = re.compile(r"[ \t\n\x0b\f\r]+")


def normalize_surface(s: str) -> str:
    toks = [t for t in _WS_RE.split(_PUNCT_RE.sub(" ", s.lower())) if t]
    return " ".join(sorted(toks))


def with_normalized(col: Column) -> Column:
    """JVM-side equivalent of :func:`normalize_surface` (built-ins only)."""
    cleaned = F.regexp_replace(F.lower(col), r"[-_/,.]+", " ")
    toks = F.filter(F.split(cleaned, r"\s+"), lambda t: t != F.lit(""))
    return F.array_join(F.array_sort(toks), " ")
