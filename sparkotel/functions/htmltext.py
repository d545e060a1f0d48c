"""Main-content text extraction from the ``html`` binary column.

The WET-extraction analogue of a Common-Crawl pipeline: drop
script/style/comment blocks, keep only paragraph (``<p>``) content —
title, nav, headings and footer are boilerplate — strip residual inline
tags, and decode the named HTML entities the escaper emits.  The whole
chain is JVM ``regexp_replace``/``replace`` expressions: zero UDF, zero
shuffle, whole-stage-codegen friendly, so at 100 TB it rides the scan.

The north-rule invariant (BASELINE.json input_hint: "byte-identical
extracted text per url") is enforced two ways: the ``html_extract_text``
driver query's oracle returns the ground-truth ``text`` column, and
tests/test_htmltext.py differential-tests this chain against the pure
Python twin (sparkotel.oracle.py_extract_text) on both the pages table
and adversarial fixtures.

Reference parity note: the collector has no HTML stage — this is a
SURVEY §2.16 training-data extension.  The block/paragraph split
mirrors the fileconsumer's split-then-trim shape
(/root/reference/pkg/stanza/fileconsumer/internal/splitter — split on
structure first, normalise after), applied to markup instead of lines.

Scope (documented): entity decoding covers the named set below;
numeric character references (``&#NNN;``/``&#xHH;``) pass through
unchanged — decoding them needs a chr() inside a replace, which is not
expressible as a JVM column op.  The synthetic corpus never emits them.
There is one engine, the JVM chain: no Python worker processes, a pure
whole-stage-codegen plan (the parse stage's reasoning, see
``pipeline.parse_stage``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Patterns shared (textually) with oracle.py_extract_text — keep in sync.
SCRIPT_RE = r"(?is)<script\b[^>]*>.*?</script\s*>"
STYLE_RE = r"(?is)<style\b[^>]*>.*?</style\s*>"
COMMENT_RE = r"(?s)<!--.*?-->"
PARA_RE = r"(?is)<p\b[^>]*>(.*?)</p\s*>"
TAG_RE = r"(?s)<[^>]+>"

# Unescape order matters: '&amp;' must decode LAST or escaped input
# like '&amp;lt;' would double-decode ('&lt;' is data, not markup).
ENTITIES = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&amp;", "&"),
]


def main_text(html: Column | str, charset: str = "UTF-8") -> Column:
    """Extracted main text (string Column) from an html binary column:
    a JVM regexp/replace chain, zero UDF."""
    col = F.col(html) if isinstance(html, str) else html
    s = F.decode(col, charset)
    s = F.regexp_replace(s, SCRIPT_RE, "")
    s = F.regexp_replace(s, STYLE_RE, "")
    s = F.regexp_replace(s, COMMENT_RE, "")
    paras = F.regexp_extract_all(s, F.lit(PARA_RE), 1)
    t = F.array_join(paras, "\n")
    t = F.regexp_replace(t, TAG_RE, "")
    for ent, ch in ENTITIES:
        t = F.replace(t, F.lit(ent), F.lit(ch))
    return t
