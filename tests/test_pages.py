"""Cross-engine identity of the synthetic pages generator.

The driver's correctness gate compares Spark vs DuckDB value hashes;
this test is the same bar applied to the generator itself (minus the
binary html column, which is Spark-plumbing-only in oracle queries).
"""

from __future__ import annotations

from conftest import SF_DIR

from sparkotel import pages as P
from sparkotel.parity import duck_rows, spark_rows


def test_pages_cross_engine(spark, duck):
    P.load_tables(spark, SF_DIR, ["documents"])
    sdf = spark.sql(P.spark_pages_sql()).drop("html")
    srows = spark_rows(sdf)
    drows = duck_rows(
        duck, f"SELECT url, warc_ts, text, lang, host, doc_id FROM ({P.duckdb_pages_sql()}) p"
    )
    assert len(srows) == len(drows) > 0
    assert srows == drows


def test_pages_shape(spark):
    P.load_tables(spark, SF_DIR, ["documents"])
    df = spark.sql(P.spark_pages_sql())
    assert df.count() == df.select("url").distinct().count()
    # skew: top 3 hosts own ~50% of rows
    total = df.count()
    top3 = (
        df.groupBy("host").count().orderBy("count", ascending=False).limit(3)
    )
    top3_sum = sum(r["count"] for r in top3.collect())
    assert 0.4 <= top3_sum / total <= 0.6
    # ~3% malformed
    bad = df.filter("text LIKE 'MALFORMED%'").count()
    assert 0.02 <= bad / total <= 0.04
    # html is real bytes
    row = df.selectExpr("length(html) AS n", "substring(html, 1, 9) AS head").first()
    assert row["n"] > 20 and bytes(row["head"]) == b"<!DOCTYPE"


def test_geo_cross_engine(spark, duck):
    srows = spark_rows(spark.sql(P.spark_geo_sql()))
    drows = duck_rows(duck, P.duckdb_geo_sql())
    assert len(srows) == 450
    assert srows == drows


def test_lang_table(spark, duck):
    assert spark_rows(spark.sql(P.LANG_NAMES_SQL)) == duck_rows(duck, P.LANG_NAMES_SQL)
