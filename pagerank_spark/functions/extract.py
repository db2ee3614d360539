"""Page-content extraction as Arrow pandas UDFs.

These are the engine's analogue of the reference's edge-list parser
``getInputResultForCsc`` (/root/reference/kernel_bblock.cu:567-619): they turn
the raw page payload into the text column and the outlink list that becomes
the edge table. Per BASELINE.json ``input_hint`` the extracted text must be
byte-identical per url on every run — the UDFs are pure regex transforms of
the html bytes with no locale, time, or partition dependence.

Each UDF gets a batch as a pandas Series. ``_decode`` turns the bytes into
str one row at a time (a per-row ``.apply``); the regex passes after it
are vectorized pandas ``.str`` calls over the batch.

The UDFs are pure and cache nothing, so each scan of a frame that holds an
extraction column runs the UDF again, and Python dominates that cost. An
``explode`` of a UDF *output column* runs it twice per scan: Catalyst's
``InferFiltersFromGenerate`` adds ``size(col) > 0 AND isnotnull(col)`` below
the explode, and that filter plants a second ``ArrowEvalPython`` node.
Callers therefore either explode the UDF call itself, in the same
``select`` (``operators/anchors.py``, ``streaming/ingest.py``), or persist
the UDF output before the explode when several scans read it
(``operators/graph.py::edges_from_pages``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

_BODY_RE = r"(?s)<body>(.*)</body>"
_ANCHOR_RE = r"(?s)<a\b[^>]*>.*?</a>"
_TAG_RE = r"<[^>]+>"
_HREF_RE = r'href="([^"]+)"'


def _decode(html: pd.Series) -> pd.Series:
    return html.apply(lambda b: b.decode("utf-8", errors="replace") if b is not None else "")


@F.pandas_udf(T.StringType())
def extract_text(html: pd.Series) -> pd.Series:
    """body content minus anchors minus residual tags — deterministic."""
    s = _decode(html)
    body = s.str.extract(_BODY_RE, expand=False).fillna("")
    return body.str.replace(_ANCHOR_RE, "", regex=True).str.replace(_TAG_RE, "", regex=True)


@F.pandas_udf(T.ArrayType(T.StringType()))
def extract_outlinks(html: pd.Series) -> pd.Series:
    """All href targets in document order (duplicates kept: one anchor = one edge,
    mirroring the reference's one-line-per-edge input where duplicate lines add
    transition weight)."""
    s = _decode(html)
    body = s.str.extract(_BODY_RE, expand=False).fillna("")
    return body.str.findall(_HREF_RE)


# one anchor element -> (href, inner markup); inner tags are stripped after
_ANCHOR_PAIR_RE = r'(?s)<a\b[^>]*?href="([^"]+)"[^>]*>(.*?)</a>'


@F.pandas_udf(T.ArrayType(T.StructType([
    T.StructField("href", T.StringType()),
    T.StructField("anchor", T.StringType()),
])))
def extract_anchors(html: pd.Series) -> pd.Series:
    """(href, anchor-text) pairs in document order — the raw material of an
    inverted anchor-text index (the web-search signal: how OTHERS describe
    a page). Same pure-regex discipline as ``extract_outlinks``; anchor
    text is the element's inner content with residual tags stripped."""
    import re as _re
    tag = _re.compile(_TAG_RE)
    s = _decode(html)
    body = s.str.extract(_BODY_RE, expand=False).fillna("")
    return body.str.findall(_ANCHOR_PAIR_RE).apply(
        lambda pairs: [(h, tag.sub("", a)) for h, a in pairs])
