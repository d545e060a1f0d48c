"""Row-level differential test: the vectorized Spark parse stage must be
byte-identical per url to the pure-Python row-at-a-time oracle
(BASELINE.json input_hint invariant)."""

from __future__ import annotations

import duckdb
from conftest import SF_DIR

from sparkotel import oracle as O
from sparkotel import pages as P
from sparkotel import pipeline as PL


def _docs_rows():
    return duckdb.sql(
        f"SELECT doc_id, text, lang FROM '{SF_DIR}/documents.parquet' ORDER BY doc_id"
    ).fetchall()


def test_pages_match_python_oracle(spark):
    P.load_tables(spark, SF_DIR, ["documents"])
    spark_rows = {
        r["url"]: r
        for r in spark.sql(P.spark_pages_sql()).drop("html").collect()
    }
    for doc_id, text, lang in _docs_rows():
        exp = O.py_page(doc_id, text, lang)
        got = spark_rows[exp["url"]]
        # byte-identical text per url
        assert got["text"] == exp["text"], f"text mismatch doc {doc_id}"
        assert got["warc_ts"] == exp["warc_ts"]
        assert got["lang"] == exp["lang"] and got["host"] == exp["host"]
    assert len(spark_rows) == len(_docs_rows())


def test_parse_matches_python_oracle(spark):
    parsed = PL.parse_stage(P.pages(spark, SF_DIR).drop("html"))
    spark_rows = {r["url"]: r for r in parsed.collect()}
    fields = [
        "ip", "user", "ts_str", "method", "path", "status", "nbytes",
        "_error", "log_ts", "severity_text", "severity_number",
    ]
    for doc_id, text, lang in _docs_rows():
        exp = O.py_parse(O.py_page(doc_id, text, lang))
        got = spark_rows[exp["url"]]
        for f in fields:
            assert got[f] == exp[f], f"doc {doc_id} field {f}: {got[f]!r} != {exp[f]!r}"


def test_route_matches_python_oracle(spark):
    out = PL.build(spark, SF_DIR)
    routed = {r["url"]: r for r in out["routed"].select("url", "route", "geo_country").collect()}
    for doc_id, text, lang in _docs_rows():
        exp_page = O.py_parse(O.py_page(doc_id, text, lang))
        got = routed[exp_page["url"]]
        geo = O.py_geo(doc_id % 500)
        exp_country = geo["geo_country"] if (geo and not exp_page["_error"]) else "--"
        assert got["geo_country"] == exp_country, f"doc {doc_id}"
        assert got["route"] == O.py_route(exp_page, exp_country), f"doc {doc_id}"
