"""Flagship parse → enrich → route → aggregate pipeline (SURVEY §7.3).

The one real query: extract access-log fields from line 1 of ``text``
via named-group regex; ``on_error=send`` keeps misses flagged with
``_error``; enrich ip → geo (broadcast, default "--") and lang →
lang_name/family; route (ordered):

  1. ``lang = 'en' AND status >= 500``  → sink ``errors_en``  (move)
  2. ``geo_country = 'DE'``             → sink ``de``         (copy;
     sees only rows route 1 didn't consume — logs.go:66-160)
  3. ``status >= 400``                  → sink ``errors_other`` (move)
  4. default                            → sink ``other``

then per-sink count-connector aggregates.  Column pruning matters at
scale: the pipeline never touches ``html`` (100 TB of it), and the
parquet scan should show only the referenced columns in ReadSchema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkotel import pages as P
from sparkotel.operators import aggregate as A
from sparkotel.operators import enrich as E
from sparkotel.operators import parse as PR
from sparkotel.operators.route import Route, assign_routes, route_outputs

ROUTES = [
    Route("lang = 'en' AND status >= 500", "errors_en", "move"),
    Route("geo_country = 'DE'", "de", "copy"),
    Route("status >= 400", "errors_other", "move"),
]

SINK_METRICS: dict[str, list[A.MetricDef]] = {
    "errors_en": [A.MetricDef("page.count.all", dims=("geo_country", "status"))],
    "errors_other": [
        A.MetricDef("page.count.all", dims=("geo_country", "status")),
        A.MetricDef("page.count.big", conditions=("nbytes > 4096",), dims=("host",)),
    ],
    "other": [
        A.MetricDef("page.count.all", dims=("geo_country", "status")),
        A.MetricDef(
            "page.count.by_lang_name",
            dims=("lang_name",),
            defaults={"lang_name": "unknown"},
        ),
        # dim sometimes missing and NO default → those rows excluded
        # (counter.go:64-67)
        A.MetricDef("page.count.matched_user", dims=("user",)),
    ],
    "de": [A.MetricDef("page.count.all", dims=("geo_country", "status"))],
}


def parse_stage(df: DataFrame, on_error: str = "send") -> DataFrame:
    """regex parse + type conversion + time + severity.

    The regex parse has one engine, native ``regexp_extract`` (one per
    group, whole-stage codegen, zero Python workers).  It was measured
    against a pandas-UDF and an RE2 (Arrow) arm on a 4-core host at
    local[4], 100,000 pages into a noop sink, medians of 4 rounds:
    0.56 s wall vs 0.72 s / 0.71 s, 1.84 CPU-s vs 2.66 / 2.58 —
    for a one-pass extraction the Arrow transfer and Python workers cost
    more than a faster kernel saves.
    """
    df = PR.regex_parser(df, P.LOG_PATTERN, P.LOG_GROUPS, "text", on_error)
    df = E.attr_convert(df, "status", "int")
    df = E.attr_convert(df, "nbytes", "bigint")
    # all fixture offsets are +0000; parse the naive prefix so the
    # result is session-timezone-independent (same trick both engines)
    df = df.withColumn("ts_naive", F.substring_index(F.col("ts_str"), " ", 1))
    df = PR.time_parser(df, "ts_naive", "%d/%b/%Y:%H:%M:%S", to="log_ts")
    df = df.drop("ts_naive")
    df = PR.severity_parser(df, "status")
    # '-' user means unauthenticated → NULL (missing attribute semantics)
    df = df.withColumn("user", F.when(F.col("user") != "-", F.col("user")))
    return df


def enrich_stage(spark: SparkSession, df: DataFrame) -> DataFrame:
    df = E.lookup_enrich(
        df,
        P.geo_table(spark),
        key="ip",
        defaults={"geo_country": "--", "geo_city": "--"},
    )
    df = E.lookup_enrich(
        df,
        P.lang_table(spark),
        key="lang",
        defaults={},
    )
    return df


def build(spark: SparkSession, sf_dir: str) -> dict:
    """Run the full pipeline lazily; returns all intermediate frames.

    The enriched prefix feeds 4 sinks + their aggregates — at scale it
    is either persisted (DISK_ONLY) or written to an intermediate table;
    here the frames stay lazy and the caller decides.
    """
    src = P.pages(spark, sf_dir).drop("html")  # prune the heavy column early
    parsed = parse_stage(src)
    enriched = enrich_stage(spark, parsed)
    routed = assign_routes(enriched, ROUTES, "other")
    sinks = route_outputs(enriched, ROUTES, "other")
    metrics = {
        sink: [A.connector_metric(sdf, m) for m in SINK_METRICS.get(sink, [])]
        for sink, sdf in sinks.items()
    }
    return {
        "source": src,
        "parsed": parsed,
        "enriched": enriched,
        "routed": routed,
        "sinks": sinks,
        "metrics": metrics,
    }
