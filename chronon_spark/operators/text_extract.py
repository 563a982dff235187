"""Deterministic HTML -> text extraction (byte-identical per url invariant).

The north rule requires extracted text to be byte-identical per url across
runs and parallelism levels. This is guaranteed by construction: extraction
is a pure function of the html bytes (no randomness, no locale, no
library-version-dependent parsing), implemented as an Arrow-vectorized
pandas UDF (no per-row Python UDF in the Spark plan).

Extraction rules (pinned by tests/test_webtext_flagship.py):
1. decode utf-8 (errors="replace"),
2. drop <script>...</script> and <style>...</style> blocks,
3. strip all remaining tags,
4. decode the 5 XML entities (&amp; &lt; &gt; &quot; &#39;),
5. collapse whitespace runs to single spaces, strip ends.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

_SCRIPT = re.compile(rb"(?is)<(script|style)\b.*?</\1\s*>")
_TAG = re.compile(rb"(?s)<[^>]*>")
_WS = re.compile(r"\s+")
_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")]


def extract_text_bytes(html: bytes) -> str:
    """Pure-python reference implementation (used by the UDF and by tests)."""
    if html is None:
        return None
    stripped = _TAG.sub(b" ", _SCRIPT.sub(b" ", html))
    s = stripped.decode("utf-8", errors="replace")
    for ent, ch in _ENTITIES:
        s = s.replace(ent, ch)
    return _WS.sub(" ", s).strip()


def _extract_series(html: pd.Series) -> pd.Series:
    return html.map(extract_text_bytes)


def extract_text(html_col: str | Column = "html") -> Column:
    """Column expression: deterministic text extracted from html binary.

    The pandas UDF is built lazily (schema parsing needs an active session).
    """
    udf = pandas_udf(_extract_series, "string")
    col = F.col(html_col) if isinstance(html_col, str) else html_col
    return udf(col)


# Block-level elements whose boundaries become line breaks — how
# C4/trafilatura-style extractors recover line structure from html so
# line-level ops (boilerplate removal) have lines to act on.
_BLOCK = re.compile(
    rb"(?is)</?(p|div|br|li|ul|ol|h[1-6]|tr|table|section|article|"
    rb"header|footer|nav|blockquote)\b[^>]*>"
)
_HWS = re.compile(r"[^\S\n]+")  # horizontal whitespace only


def extract_text_lines_bytes(html: bytes) -> str:
    """Like extract_text_bytes but block-tag boundaries become newlines;
    each line is internally whitespace-collapsed, empty lines dropped."""
    if html is None:
        return None
    stripped = _TAG.sub(b" ", _BLOCK.sub(b"\n", _SCRIPT.sub(b" ", html)))
    s = stripped.decode("utf-8", errors="replace")
    for ent, ch in _ENTITIES:
        s = s.replace(ent, ch)
    lines = (_HWS.sub(" ", ln).strip() for ln in s.split("\n"))
    return "\n".join(ln for ln in lines if ln)


def _extract_lines_series(html: pd.Series) -> pd.Series:
    return html.map(extract_text_lines_bytes)


def extract_text_lines(html_col: str | Column = "html") -> Column:
    """Column expression: line-preserving text extraction (see
    extract_text_lines_bytes)."""
    udf = pandas_udf(_extract_lines_series, "string")
    col = F.col(html_col) if isinstance(html_col, str) else html_col
    return udf(col)
