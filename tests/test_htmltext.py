"""Main-content extraction (functions/htmltext.py) — the north-rule
invariant "byte-identical extracted text per url" (BASELINE.json
input_hint), differential-tested against the pure-Python twin
(oracle.py_extract_text) and against the synthesis ground truth.

Reference shape: the collector's golden pipeline tests compare
extracted record bodies byte-for-byte
(/root/reference/pkg/stanza/fileconsumer/file_test.go readers); here
the "body" is the page's main text recovered from markup.
"""

from __future__ import annotations

from conftest import SF_DIR
from test_plans import plan_of

from sparkotel import oracle as O
from sparkotel import pages as P
from sparkotel.functions import htmltext as HT

# Adversarial document texts: entity-looking data, markup-looking data,
# multi-line bodies, unicode, empty.  The synthesis escapes them into
# the <p> block; extraction must return them byte-identically.
ADVERSARIAL = [
    "plain word soup body",
    "a < b && c > d",
    "literal &amp; and &lt; entities as data",
    "<script>alert(1)</script> injected markup",
    "first line\nsecond line\nthird",
    "café 日本語 — unicode",
    "",
    "&amp;amp; double-escaped",
    "trailing ampersand &",
    "<p>nested paragraph markup</p>",
]


def test_roundtrip_python_twins():
    """py_extract_text(py_html(page)) == page.text for adversarial bodies."""
    for i, body in enumerate(ADVERSARIAL):
        page = O.py_page(i, body, "en")
        assert O.py_extract_text(O.py_html(page)) == page["text"], body


def test_spark_extraction_matches_ground_truth(spark):
    """The JVM chain inverts the synthesis byte-identically on the real
    pages table (all rows at sf0.001)."""
    df = P.pages(spark, SF_DIR).select("url", "text", HT.main_text("html").alias("got"))
    bad = df.filter("got IS DISTINCT FROM text")
    assert bad.count() == 0, bad.limit(3).collect()


def test_spark_extraction_matches_python_twin_adversarial(spark):
    """Differential: the vectorized chain == the row-at-a-time twin on
    adversarial html strings (not just the synthesis shape)."""
    html_strings = [O.py_html(O.py_page(i, b, "en")) for i, b in enumerate(ADVERSARIAL)]
    # plus shapes the synthesis never emits: multiple <p>, attrs, case
    html_strings += [
        "<html><body><p>one</p><p>two</p></body></html>",
        '<html><body><P class="x">attr para</P></body></html>',
        "<html><body>no paragraphs at all</body></html>",
        "<html><style>a{color:red}</style><body><p>styled</p></body></html>",
        "<html><body><!-- c1 --><p>x<!-- inner --></p><!-- c2 --></body></html>",
        "<html><body><p>keep</p><script>drop()</script></body></html>",
        "<html><body><p>a&nbsp;b&quot;c&#39;d&apos;e</p></body></html>",
    ]
    rows = [(s,) for s in html_strings]
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "h string").select(
        "h", HT.main_text(F.col("h").cast("binary")).alias("got")
    )
    for h, got in df.collect():
        assert got == O.py_extract_text(h), h


def test_extraction_plan_is_scan_only(spark):
    """Zero Exchange, zero Python UDF: the extractor rides the scan at
    100 TB (regexp_replace/replace column ops only)."""
    df = P.pages(spark, SF_DIR).select("url", HT.main_text("html").alias("t"))
    plan = plan_of(df)
    assert "Exchange" not in plan
    assert "Python" not in plan and "BatchEvalPython" not in plan


def test_native_passes_numeric_refs_through(spark):
    """Numeric character references and entities outside the named set
    pass through unchanged (documented scope of the JVM chain)."""
    from pyspark.sql import functions as F

    h = "<html><body><p>A&#66;C &#x44; &eacute; &copy;2024</p></body></html>"
    r = spark.createDataFrame([(h,)], "h string").select(
        HT.main_text(F.col("h").cast("binary")).alias("native")
    ).first()
    assert r["native"] == "A&#66;C &#x44; &eacute; &copy;2024"
