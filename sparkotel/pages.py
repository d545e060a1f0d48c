"""Deterministic synthetic Common-Crawl-style ``pages`` table.

The north-star input (BASELINE.json ``input_hint``) is an Iceberg table
``(url string, warc_ts timestamp, html binary, text string, lang
string)``.  In this sandbox we synthesise it *deterministically* from
the driver-provided ``documents`` parquet (doc_id, text, lang, source,
n_chars) using only arithmetic + string ops that Spark SQL and DuckDB
evaluate identically, so every downstream operator can be
oracle-checked.  Row content is a pure function of ``doc_id`` — every
scale factor is a prefix-consistent superset (FIXTURES.md §1).

Shape mirrors the reference's stanza/filelog test corpora: line 1 of
``text`` is an Apache/NCSA access-log record (the thing
``regex_parser`` — /root/reference/pkg/stanza/operator/parser/regex/parser.go:39-67
— parses); ~3% of rows are malformed (``on_error`` paths); the host
distribution is skewed (top 3 hosts ≈ 50% of rows) to exercise salted
repartitioning.

Two dialects (Spark SQL and DuckDB) are generated from one template;
``tests/test_pages.py`` asserts row-identical output between them.  The
parse stage that reads these rows has one regex engine, native
``regexp_extract``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Regex parsed by the parse stage (JVM-regex ∩ python-re ∩ duckdb-RE2 safe).
LOG_PATTERN = (
    r'^(\S+) - (\S+) \[([^\]]+)\] "(\S+) (\S+) HTTP/1\.1" (\d+) (\d+)'
)
LOG_GROUPS = ["ip", "user", "ts_str", "method", "path", "status", "nbytes"]

_BASE_TS = "2024-03-15 00:00:00"

# ---------------------------------------------------------------------------
# dialect helpers
# ---------------------------------------------------------------------------


def html_body_expr(text: str = "text", url: str = "url", host: str = "host") -> str:
    """SQL (Spark ∩ DuckDB) for the page's html *string*.

    A realistic Common-Crawl page shape: doctype, head with title /
    style / script (the script legally contains raw ``<`` and ``&``),
    a comment, nav/h1/footer boilerplate, and the document text
    HTML-escaped inside the single ``<p>`` block.  The main-content
    extractor (functions/htmltext.py) must invert this exactly — the
    north-rule invariant "byte-identical extracted text per url" is
    driver-checked by the ``html_extract_text`` query.
    """
    esc = (
        f"replace(replace(replace({text}, '&', '&amp;'),"
        " '<', '&lt;'), '>', '&gt;')"
    )
    return (
        "'<!DOCTYPE html><html><head><title>' || " + url + " || '</title>'"
        " || '<style>body{margin:0;font:14px sans-serif}</style>'"
        " || '<script>if(1<2&&init){track(\"&\")}</script>'"
        " || '</head><body><!-- crawl snapshot --><h1>' || " + host + " || '</h1>'"
        " || '<nav><a href=\"/\">home</a> <a href=\"/about\">about</a></nav>'"
        " || '<p>' || " + esc + " || '</p>'"
        " || '<footer>&copy; ' || " + host + " || ' &amp; co</footer></body></html>'"
    )


def _tmpl(dialect: str, docs: str = "documents") -> str:
    """The pages SELECT in the given dialect ('spark' | 'duckdb').

    Layered subqueries (no lateral aliases) keep it portable.  CAST /
    FLOOR are explicit because Spark truncates double→int while DuckDB
    rounds — FLOOR first makes them agree.
    """
    if dialect == "spark":
        s = lambda x: f"CAST({x} AS STRING)"  # noqa: E731
        warc_ts = f"timestampadd(SECOND, off, timestamp'{_BASE_TS}')"
        html = f"CAST(({html_body_expr()}) AS BINARY)"
    elif dialect == "duckdb":
        s = lambda x: f"CAST({x} AS VARCHAR)"  # noqa: E731
        warc_ts = f"TIMESTAMP '{_BASE_TS}' + to_seconds(off)"
        html = f"encode({html_body_expr()})"
    else:  # pragma: no cover
        raise ValueError(dialect)

    return f"""
SELECT
  url, warc_ts, {html} AS html, text, lang, host, doc_id
FROM (
  SELECT
    'https://' || host || path AS url,
    {warc_ts} AS warc_ts,
    logline || chr(10) || doc_text AS text,
    lang, host, doc_id, off
  FROM (
    SELECT
      doc_id, doc_text, lang, off,
      'h' || {s('host_id')} || '.example.com' AS host,
      '/d/' || {s('doc_id')} || '/' || {s('doc_id % 7')} AS path,
      CASE WHEN doc_id % 33 = 0 THEN 'MALFORMED ' || {s('doc_id')}
           ELSE ip || ' - ' || usr || ' [' || ts_str || '] "'
                || method || ' ' || '/d/' || {s('doc_id')} || '/'
                || {s('doc_id % 7')} || ' HTTP/1.1" '
                || {s('status')} || ' ' || {s('nbytes')}
      END AS logline
    FROM (
      SELECT
        doc_id, doc_text, lang, host_id, off, status, nbytes,
        '10.0.' || {s('CAST(FLOOR(ip_id / 250.0) AS INT)')} || '.'
                || {s('ip_id % 250')} AS ip,
        CASE WHEN doc_id % 17 = 0 THEN 'frank'
             WHEN doc_id % 17 = 1 THEN 'alice' ELSE '-' END AS usr,
        CASE WHEN doc_id % 10 < 7 THEN 'GET'
             WHEN doc_id % 10 < 9 THEN 'POST' ELSE 'HEAD' END AS method,
        '15/Mar/2024:'
          || lpad({s('CAST(FLOOR(off / 3600.0) AS INT)')}, 2, '0') || ':'
          || lpad({s('CAST(FLOOR((off % 3600) / 60.0) AS INT)')}, 2, '0')
          || ':' || lpad({s('off % 60')}, 2, '0') || ' +0000' AS ts_str
      FROM (
        SELECT
          doc_id,
          text AS doc_text,
          lang,
          CASE WHEN doc_id % 10 < 2 THEN 0
               WHEN doc_id % 10 < 4 THEN 1
               WHEN doc_id % 10 = 4 THEN 2
               ELSE 3 + (doc_id % 197) END AS host_id,
          doc_id % 500 AS ip_id,
          doc_id % 86400 AS off,
          CASE WHEN doc_id % 20 < 12 THEN 200
               WHEN doc_id % 20 < 14 THEN 301
               WHEN doc_id % 20 = 14 THEN 304
               WHEN doc_id % 20 < 17 THEN 404
               WHEN doc_id % 20 = 17 THEN 403
               WHEN doc_id % 20 = 18 THEN 500
               ELSE 503 END AS status,
          (doc_id * 37) % 10000 AS nbytes
        FROM {docs}
      ) t1
    ) t2
  ) t3
) t4
"""


def spark_pages_sql(docs: str = "documents") -> str:
    return _tmpl("spark", docs)


def duckdb_pages_sql(docs: str = "documents") -> str:
    return _tmpl("duckdb", docs)


# ---------------------------------------------------------------------------
# lookup tables (broadcast enrich — FIXTURES.md §2)
# ---------------------------------------------------------------------------

_COUNTRIES = ["US", "DE", "FR", "JP", "GB", "BR", "IN", "CN", "ES", "NL"]


def _geo_sql(dialect: str) -> str:
    """geo_by_ip: 450 rows keyed by the ip strings the parse stage
    extracts; ids ≡ 7 (mod 10) are absent → ~10% lookup misses take the
    default (reference: processor/lookupprocessor/processor.go:209-237).
    Lat/lon use binary-exact fractions so doubles hash identically."""
    if dialect == "spark":
        src = "SELECT id FROM range(0, 500)"
        s = lambda x: f"CAST({x} AS STRING)"  # noqa: E731
    else:
        src = "SELECT range AS id FROM range(500)"
        s = lambda x: f"CAST({x} AS VARCHAR)"  # noqa: E731
    country = "CASE " + " ".join(
        f"WHEN id % 10 = {i} THEN '{c}'" for i, c in enumerate(_COUNTRIES)
    ) + " END"
    return f"""
SELECT
  '10.0.' || {s('CAST(FLOOR(id / 250.0) AS INT)')} || '.' || {s('id % 250')} AS ip,
  {country} AS geo_country,
  'city' || {s('id % 50')} AS geo_city,
  CAST((id % 180) - 90 AS DOUBLE) + 0.25 AS geo_lat,
  CAST((id % 360) - 180 AS DOUBLE) + 0.5 AS geo_lon
FROM ({src}) r
WHERE id % 10 <> 7
"""


def spark_geo_sql() -> str:
    return _geo_sql("spark")


def duckdb_geo_sql() -> str:
    return _geo_sql("duckdb")


def _cidr_sql(dialect: str) -> str:
    """cidr_blocks: a deterministic mmdb-like table of OVERLAPPING
    blocks at four prefix lengths, keyed so the parse-stage ips
    (10.0.{0,1}.{0..249}) exercise every geoip CIDR path — longest
    prefix beats shorter (/30 ⊂ /28 ⊂ /24), gaps fall through to the
    miss default (third-octet-1 ips whose /28 is absent, id % 3 = 0),
    and a never-matching /16 sits in the table as dead weight
    (processor/geoipprocessor/geoip_processor.go:57-126)."""
    if dialect == "spark":
        src = "SELECT id FROM range(0, 32)"
        s = lambda x: f"CAST({x} AS STRING)"  # noqa: E731
    else:
        src = "SELECT range AS id FROM range(32)"
        s = lambda x: f"CAST({x} AS VARCHAR)"  # noqa: E731
    return f"""
SELECT '10.0.' || {s('CAST(FLOOR(id / 16.0) AS INT)')} || '.'
       || {s('(id % 16) * 16')} || '/28' AS cidr,
       'B' || {s('id')} AS cidr_country,
       CAST(64500 + id AS BIGINT) AS cidr_asn
FROM ({src}) r WHERE id % 3 <> 0
UNION ALL SELECT '10.0.0.0/24', 'A0', CAST(64000 AS BIGINT)
UNION ALL SELECT '10.0.0.20/30', 'C20', CAST(64900 AS BIGINT)
UNION ALL SELECT '10.1.0.0/16', 'ZZ', CAST(63000 AS BIGINT)
"""


def spark_cidr_sql() -> str:
    return _cidr_sql("spark")


def duckdb_cidr_sql() -> str:
    return _cidr_sql("duckdb")


LANG_NAMES_SQL = """
SELECT * FROM (VALUES
  ('en', 'English',  'Germanic'),
  ('de', 'German',   'Germanic'),
  ('fr', 'French',   'Romance'),
  ('es', 'Spanish',  'Romance'),
  ('ja', 'Japanese', 'Japonic')
) AS t(lang, lang_name, lang_family)
"""


# ---------------------------------------------------------------------------
# Spark-side loaders
# ---------------------------------------------------------------------------

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def load_tables(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register the driver-provided parquet tables as temp views."""
    for name in tables or TABLES:
        spark.read.parquet(f"{sf_dir}/{name}.parquet").createOrReplaceTempView(name)


def pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic pages table (url, warc_ts, html, text, lang [,host,doc_id])."""
    load_tables(spark, sf_dir, ["documents"])
    return spark.sql(spark_pages_sql())


def pages_scaled(
    spark: SparkSession, sf_dir: str, replicate: int = 1, partitions: int | None = None
) -> DataFrame:
    """Bench-scale pages: replicate documents with shifted doc_ids.

    Row content stays a pure function of doc_id, so the replicated table
    keeps the generator's skew/malformed/status distributions — the
    deterministic stand-in for the 10^12-doc production table.

    Parallelism: the big side is a partitioned ``spark.range`` and the
    small documents table is broadcast-joined onto it — no shuffle, and
    the downstream pipeline inherits ``partitions`` tasks (a plain
    crossJoin would inherit the single input split of the small parquet
    and serialize the whole run on one core).
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    if replicate > 1:
        from pyspark.sql import functions as F

        n = docs.count()
        p = partitions or spark.sparkContext.defaultParallelism * 2
        ids = spark.range(0, n * replicate, 1, p)
        docs = (
            ids.join(
                F.broadcast(docs.withColumnRenamed("doc_id", "orig_id")),
                F.pmod(ids["id"], F.lit(n)) == F.col("orig_id"),
            )
            .select(F.col("id").alias("doc_id"), "text", "lang")
        )
    docs.createOrReplaceTempView("documents")
    return spark.sql(spark_pages_sql())


def geo_table(spark: SparkSession) -> DataFrame:
    return spark.sql(spark_geo_sql())


def cidr_table(spark: SparkSession) -> DataFrame:
    return spark.sql(spark_cidr_sql())


def lang_table(spark: SparkSession) -> DataFrame:
    return spark.sql(LANG_NAMES_SQL)
