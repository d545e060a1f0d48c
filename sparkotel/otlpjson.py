"""OTLP/JSON file source and sink.

Reference semantics:

- ``receiver/otlpjsonfilereceiver/file.go:74-107`` — each line of a
  watched file is one OTLP/JSON ``ExportLogsServiceRequest`` decoded by
  ``plog.JSONUnmarshaler``; every contained log record (across all
  ``resourceLogs[].scopeLogs[].logRecords[]``) is emitted downstream.
- ``exporter/fileexporter/file_exporter.go`` (JSON-lines mode) — the
  inverse: marshal one request per line via ``plog.JSONMarshaler``.

Spark-first shape: the proto3-JSON layout is a *static* nested schema,
so the whole parse is ``from_json`` + three ``explode`` generators —
pure Catalyst, whole-stage-codegen, no Python.  The marshal side is one
``groupBy`` on the resource identity (the batchperresourceattr split,
``pkg/batchperresourceattr``) + ``to_json`` of the rebuilt tree — one
shuffle, map-side combinable, and the shuffle key is the same resource
partitioning the downstream sink write wants, so at 100 TB the exchange
is shared with the sink's ``partitionBy``.

Proto3-JSON conventions honoured (public OTLP spec, opentelemetry-proto
``logs.proto`` / ``common.proto``):

- int64 fields (``timeUnixNano``, ``observedTimeUnixNano``,
  ``intValue``) are JSON **strings**;
- enums (``severityNumber``) and uint32 (``flags``, dropped counts) are
  JSON numbers;
- absent fields are omitted (``to_json`` drops nulls — the Spark
  default matches proto3 emit-defaults=false);
- ``traceId`` / ``spanId`` are lowercase hex strings (the engine's id
  representation throughout, see the OTTL e2e mirror notes);
- ``AnyValue`` variants: stringValue / intValue / doubleValue /
  boolValue / bytesValue (base64).  Nested kvlistValue/arrayValue
  attribute *values* are out of the static schema; flat attribute maps
  take their pcommon ``AsString`` form like the rest of the engine.

Divergence (documented): ``AsString`` of a double uses Spark's
``cast(string)`` (``1.5`` → ``"1.5"``, ``2.0`` → ``"2.0"``) where Go's
strconv prints ``"2"``; integer-valued doubles differ in the trailing
``.0``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# ---------------------------------------------------------------------------
# schema (DDL form) — ExportLogsServiceRequest per opentelemetry-proto
# ---------------------------------------------------------------------------

_ANYVALUE = (
    "struct<stringValue:string,intValue:string,doubleValue:double,"
    "boolValue:boolean,bytesValue:string>"
)
_KVLIST = f"array<struct<key:string,value:{_ANYVALUE}>>"
_LOG_RECORD = (
    "struct<"
    "timeUnixNano:string,observedTimeUnixNano:string,"
    "severityNumber:int,severityText:string,"
    f"body:{_ANYVALUE},attributes:{_KVLIST},"
    "droppedAttributesCount:int,flags:int,"
    "traceId:string,spanId:string,eventName:string>"
)
OTLP_LOGS_DDL = (
    "struct<resourceLogs:array<struct<"
    f"resource:struct<attributes:{_KVLIST},droppedAttributesCount:int>,"
    "scopeLogs:array<struct<"
    f"scope:struct<name:string,version:string,attributes:{_KVLIST}>,"
    f"logRecords:array<{_LOG_RECORD}>,"
    "schemaUrl:string>>,"
    "schemaUrl:string>>>"
)


def _any_as_string(v: Column) -> Column:
    """pcommon Value.AsString over the AnyValue variant struct."""
    return F.coalesce(
        v.getField("stringValue"),
        v.getField("intValue"),
        F.when(v.getField("boolValue").isNotNull(),
               F.when(v.getField("boolValue"), F.lit("true")).otherwise(F.lit("false"))),
        v.getField("doubleValue").cast("string"),
        v.getField("bytesValue"),
    )


def _kv_to_map(kvs: Column) -> Column:
    """KeyValue list → map<string,string> (AsString values, '' for a
    fully-absent AnyValue), empty map when the list itself is absent."""
    entries = F.transform(
        kvs,
        lambda kv: F.struct(
            kv.getField("key").alias("key"),
            F.coalesce(_any_as_string(kv.getField("value")), F.lit("")).alias("value"),
        ),
    )
    empty = F.map_from_arrays(
        F.array().cast("array<string>"), F.array().cast("array<string>")
    )
    return F.coalesce(F.map_from_entries(entries), empty)


def _unix_ts(field: str) -> Column:
    """proto3-JSON int64 nanos string (e.g. ``"lr.timeUnixNano"``) → µs
    ``timestamp_ntz``; absent or non-numeric → NULL.  ns → µs MUST be
    integral division: float `/` loses the low bits of an epoch-nano
    long (53-bit mantissa) and lands a µs off."""
    return F.timestamp_micros(
        F.expr(f"try_cast({field} as long) div 1000")
    ).cast("timestamp_ntz")


def _nanos(col: str) -> Column:
    """µs timestamp column → proto3-JSON int64 nanos string; NULL stays
    NULL, so ``to_json`` omits the field."""
    return (F.unix_micros(F.col(col).cast("timestamp")) * 1000).cast("string")


# ---------------------------------------------------------------------------
# source: otlpjsonfilereceiver analogue
# ---------------------------------------------------------------------------

RECORD_COLS = [
    "ts", "observed_ts", "severity_number", "severity_text", "body",
    "attributes", "resource", "scope_name", "scope_version",
    "trace_id", "span_id", "flags", "dropped_attributes_count",
]


def parse_otlp_logs(df: DataFrame, line_col: str = "line") -> DataFrame:
    """One OTLP/JSON request per input line → one row per log record.

    Mirrors ``plog.JSONUnmarshaler`` + the adapter fan-out in
    ``receiver/otlpjsonfilereceiver/file.go:86-101``.  Unparseable lines
    and empty requests yield no rows (the receiver's obsreport counts
    them as refused; use an ``on_error`` wrapper upstream to keep them).
    Pure generator pipeline: scan → from_json → 3× explode, no shuffle.
    """
    req = df.select(F.from_json(F.col(line_col), OTLP_LOGS_DDL).alias("req"))
    rl = req.select(F.explode("req.resourceLogs").alias("rl"))
    sl = rl.select(F.col("rl.resource").alias("res"), F.explode("rl.scopeLogs").alias("sl"))
    rec = sl.select("res", F.col("sl.scope").alias("scope"), F.explode("sl.logRecords").alias("lr"))
    lr = F.col("lr")
    return rec.select(
        _unix_ts("lr.timeUnixNano").alias("ts"),
        _unix_ts("lr.observedTimeUnixNano").alias("observed_ts"),
        F.coalesce(lr.getField("severityNumber"), F.lit(0)).alias("severity_number"),
        F.coalesce(lr.getField("severityText"), F.lit("")).alias("severity_text"),
        F.coalesce(_any_as_string(lr.getField("body")), F.lit("")).alias("body"),
        _kv_to_map(lr.getField("attributes")).alias("attributes"),
        _kv_to_map(F.col("res").getField("attributes")).alias("resource"),
        F.coalesce(F.col("scope").getField("name"), F.lit("")).alias("scope_name"),
        F.coalesce(F.col("scope").getField("version"), F.lit("")).alias("scope_version"),
        F.coalesce(lr.getField("traceId"), F.lit("")).alias("trace_id"),
        F.coalesce(lr.getField("spanId"), F.lit("")).alias("span_id"),
        F.coalesce(lr.getField("flags"), F.lit(0)).alias("flags"),
        F.coalesce(lr.getField("droppedAttributesCount"), F.lit(0)).alias("dropped_attributes_count"),
    )


# ---------------------------------------------------------------------------
# sink: fileexporter JSON-lines analogue
# ---------------------------------------------------------------------------

def _str_kvs(m: Column) -> Column:
    """map<string,string> → sorted KeyValue list with stringValue values."""
    return F.transform(
        F.array_sort(F.map_entries(m)),
        lambda e: F.struct(
            e.getField("key").alias("key"),
            F.struct(e.getField("value").alias("stringValue")).alias("value"),
        ),
    )


def to_otlp_logs_json(df: DataFrame) -> DataFrame:
    """Flat record rows (parse_otlp_logs shape) → one ``line`` per
    resource identity, each a full ExportLogsServiceRequest JSON.

    The grouping is the batchperresourceattr contract — every emitted
    request is single-valued on the resource — realised as a hash
    exchange on the (sorted resource entries, scope) key and a second
    metadata-sized exchange folding scopes under their resource.
    Records within a scope are ordered by (ts, span_id), scopes by
    (name, version), for deterministic output; a single degenerate
    resource at 100 TB should be pre-split upstream (route or
    time-bucket) before this grouping, same as any sink partition.

    String-valued attributes only (the engine's flat AsString maps);
    absent JSON fields are dropped by ``to_json`` like proto3.
    """
    rec = F.struct(
        _nanos("ts").alias("timeUnixNano"),
        _nanos("observed_ts").alias("observedTimeUnixNano"),
        F.when(F.col("severity_number") != 0, F.col("severity_number")).alias("severityNumber"),
        F.when(F.col("severity_text") != "", F.col("severity_text")).alias("severityText"),
        F.struct(F.col("body").alias("stringValue")).alias("body"),
        F.when(F.size(F.map_entries("attributes")) > 0, _str_kvs(F.col("attributes")))
        .alias("attributes"),
        F.when(F.col("trace_id") != "", F.col("trace_id")).alias("traceId"),
        F.when(F.col("span_id") != "", F.col("span_id")).alias("spanId"),
        F.when(F.col("flags") != 0, F.col("flags")).alias("flags"),
        F.when(F.col("dropped_attributes_count") != 0, F.col("dropped_attributes_count"))
        .alias("droppedAttributesCount"),
    )
    sort_key = F.struct(
        F.coalesce(F.unix_micros(F.col("ts").cast("timestamp")), F.lit(0)).alias("t"),
        F.col("span_id").alias("s"),
        rec.alias("rec"),
    )
    per_scope = (
        df.groupBy(
            F.array_sort(F.map_entries("resource")).alias("_res"),
            F.col("scope_name").alias("_sn"),
            F.col("scope_version").alias("_sv"),
        )
        .agg(F.array_sort(F.collect_list(sort_key)).alias("_keyed"))
    )
    scope_entry = F.struct(
        F.col("_sn").alias("n"),
        F.col("_sv").alias("v"),
        F.transform(F.col("_keyed"), lambda k: k.getField("rec")).alias("recs"),
    )
    per_res = (
        per_scope.groupBy("_res")
        .agg(F.array_sort(F.collect_list(scope_entry)).alias("_scopes"))
    )
    req = F.struct(
        F.array(
            F.struct(
                _res_struct(F.col("_res")).alias("resource"),
                F.transform(
                    F.col("_scopes"),
                    lambda s: F.struct(
                        F.struct(
                            F.when(s.getField("n") != "", s.getField("n")).alias("name"),
                            F.when(s.getField("v") != "", s.getField("v")).alias("version"),
                        ).alias("scope"),
                        s.getField("recs").alias("logRecords"),
                    ),
                ).alias("scopeLogs"),
            )
        ).alias("resourceLogs")
    )
    return per_res.select(F.to_json(req).alias("line"))


def to_otlp_traces_json(df: DataFrame) -> DataFrame:
    """Flat span rows (parse_otlp_traces shape) → one ``line`` per
    resource identity, each a full ExportTraceServiceRequest JSON — the
    fileexporter JSON-lines traces arm, same batchperresourceattr
    grouping/determinism contract as ``to_otlp_logs_json``.  Span
    EVENTS are not carried: the flat span frame drops them at parse
    (they live in the separate spanevent frame), so the round-trip
    guarantee covers the span-level fields."""
    rec = F.struct(
        F.when(F.col("trace_id") != "", F.col("trace_id")).alias("traceId"),
        F.when(F.col("span_id") != "", F.col("span_id")).alias("spanId"),
        F.when(F.col("parent_span_id") != "", F.col("parent_span_id")).alias("parentSpanId"),
        F.when(F.col("trace_state") != "", F.col("trace_state")).alias("traceState"),
        F.when(F.col("name") != "", F.col("name")).alias("name"),
        F.when(F.col("kind") != 0, F.col("kind")).alias("kind"),
        _nanos("start_ts").alias("startTimeUnixNano"),
        _nanos("end_ts").alias("endTimeUnixNano"),
        F.when(F.size(F.map_entries("attributes")) > 0, _str_kvs(F.col("attributes")))
        .alias("attributes"),
        F.when(
            (F.col("status_code") != 0) | (F.col("status_message") != ""),
            F.struct(
                F.when(F.col("status_code") != 0, F.col("status_code")).alias("code"),
                F.when(F.col("status_message") != "", F.col("status_message")).alias("message"),
            ),
        ).alias("status"),
    )
    sort_key = F.struct(
        F.coalesce(F.unix_micros(F.col("start_ts").cast("timestamp")), F.lit(0)).alias("t"),
        F.col("span_id").alias("s"),
        rec.alias("rec"),
    )
    per_scope = (
        df.groupBy(
            F.array_sort(F.map_entries("resource")).alias("_res"),
            F.col("scope_name").alias("_sn"),
        )
        .agg(F.array_sort(F.collect_list(sort_key)).alias("_keyed"))
    )
    scope_entry = F.struct(
        F.col("_sn").alias("n"),
        F.transform(F.col("_keyed"), lambda k: k.getField("rec")).alias("recs"),
    )
    per_res = (
        per_scope.groupBy("_res")
        .agg(F.array_sort(F.collect_list(scope_entry)).alias("_scopes"))
    )
    req = F.struct(
        F.array(
            F.struct(
                _res_struct(F.col("_res")).alias("resource"),
                F.transform(
                    F.col("_scopes"),
                    lambda s: F.struct(
                        F.struct(
                            F.when(s.getField("n") != "", s.getField("n")).alias("name"),
                        ).alias("scope"),
                        s.getField("recs").alias("spans"),
                    ),
                ).alias("scopeSpans"),
            )
        ).alias("resourceSpans")
    )
    return per_res.select(F.to_json(req).alias("line"))


def to_otlp_metrics_json(df: DataFrame) -> DataFrame:
    """Flat NUMBER-point rows (parse_otlp_metrics shape) → one ``line``
    per resource identity, each a full ExportMetricsServiceRequest —
    the fileexporter JSON-lines metrics arm.  Three-level fold:
    resource → scope → metric (name/unit/type/temporality/monotonic)
    → dataPoints.  Values marshal as ``asDouble`` (the engine collapsed
    the proto oneof at parse time — an asInt point round-trips to the
    same double, documented value-form divergence)."""
    dp = F.struct(
        _nanos("start_ts").alias("startTimeUnixNano"),
        _nanos("ts").alias("timeUnixNano"),
        F.col("value").alias("asDouble"),
        F.when(F.size(F.map_entries("attributes")) > 0, _str_kvs(F.col("attributes")))
        .alias("attributes"),
    )
    sort_key = F.struct(
        F.coalesce(F.unix_micros(F.col("ts").cast("timestamp")), F.lit(0)).alias("t"),
        F.to_json(F.array_sort(F.map_entries("attributes"))).alias("a"),
        dp.alias("dp"),
    )
    per_metric = (
        df.groupBy(
            F.array_sort(F.map_entries("resource")).alias("_res"),
            F.col("scope_name").alias("_sn"),
            F.col("metric_name").alias("_mn"),
            F.col("unit").alias("_unit"),
            F.col("metric_type").alias("_mt"),
            F.col("aggregation_temporality").alias("_at"),
            F.col("is_monotonic").alias("_mono"),
        )
        .agg(F.array_sort(F.collect_list(sort_key)).alias("_keyed"))
    )
    dps = F.transform(F.col("_keyed"), lambda k: k.getField("dp"))
    metric_entry = F.struct(
        F.col("_mn").alias("n"),
        F.col("_unit").alias("u"),
        F.col("_mt").alias("t"),
        F.col("_at").alias("at"),
        F.col("_mono").alias("mono"),
        dps.alias("dps"),
    )
    per_scope = per_metric.groupBy("_res", "_sn").agg(
        F.array_sort(F.collect_list(metric_entry)).alias("_metrics")
    )
    scope_entry = F.struct(
        F.col("_sn").alias("n"),
        F.transform(
            F.col("_metrics"),
            lambda m: F.struct(
                m.getField("n").alias("name"),
                F.when(m.getField("u") != "", m.getField("u")).alias("unit"),
                F.when(
                    m.getField("t") == "gauge",
                    F.struct(m.getField("dps").alias("dataPoints")),
                ).alias("gauge"),
                F.when(
                    m.getField("t") == "sum",
                    F.struct(
                        m.getField("dps").alias("dataPoints"),
                        m.getField("at").alias("aggregationTemporality"),
                        m.getField("mono").alias("isMonotonic"),
                    ),
                ).alias("sum"),
            ),
        ).alias("metrics"),
    )
    per_res = per_scope.groupBy("_res").agg(
        F.array_sort(F.collect_list(scope_entry)).alias("_scopes")
    )
    req = F.struct(
        F.array(
            F.struct(
                _res_struct(F.col("_res")).alias("resource"),
                F.transform(
                    F.col("_scopes"),
                    lambda s: F.struct(
                        F.struct(
                            F.when(s.getField("n") != "", s.getField("n")).alias("name"),
                        ).alias("scope"),
                        s.getField("metrics").alias("metrics"),
                    ),
                ).alias("scopeMetrics"),
            )
        ).alias("resourceMetrics")
    )
    return per_res.select(F.to_json(req).alias("line"))


def to_otlp_exp_histograms_json(df: DataFrame) -> DataFrame:
    """Flat exponential-histogram point rows (parse_otlp_exp_histograms
    shape) → one ``line`` per resource identity, each a full
    ExportMetricsServiceRequest — the fileexporter JSON-lines metrics
    arm for the exponentialHistogram oneof
    (exporter/fileexporter/file_exporter.go JSON marshal of
    pdata.Metrics).  uint64 fields marshal as strings per proto3-JSON;
    a zero-value Buckets half (offset 0, no counts) is omitted,
    matching proto3-JSON default omission, and re-ingests as the same
    normalized (0, []) pair."""
    def _half(off: str, cnts: str) -> Column:
        return F.when(
            (F.col(off) != 0) | (F.size(F.col(cnts)) > 0),
            F.struct(
                F.col(off).alias("offset"),
                F.when(
                    F.size(F.col(cnts)) > 0,
                    F.transform(F.col(cnts), lambda c: c.cast("string")),
                ).alias("bucketCounts"),
            ),
        )

    dp = F.struct(
        _nanos("start_ts").alias("startTimeUnixNano"),
        _nanos("ts").alias("timeUnixNano"),
        F.col("count").cast("string").alias("count"),
        F.col("sum").alias("sum"),
        F.col("min").alias("min"),
        F.col("max").alias("max"),
        F.col("scale").alias("scale"),
        F.col("zero_count").cast("string").alias("zeroCount"),
        F.when(F.col("zero_threshold") != 0.0, F.col("zero_threshold")).alias(
            "zeroThreshold"
        ),
        _half("positive_offset", "positive_bucket_counts").alias("positive"),
        _half("negative_offset", "negative_bucket_counts").alias("negative"),
        F.when(F.size(F.map_entries("attributes")) > 0, _str_kvs(F.col("attributes")))
        .alias("attributes"),
    )
    return _histograms_json(df, dp, "exponentialHistogram")


def to_otlp_histograms_json(df: DataFrame) -> DataFrame:
    """Flat explicit-histogram point rows (parse_otlp_histograms shape)
    → one ``line`` per resource identity, each a full
    ExportMetricsServiceRequest — the fileexporter JSON-lines arm for
    the ``histogram`` oneof.  Same shape rules as the exp-histogram
    arm: one unnamed scope, metrics per (name, temporality), uint64
    count/bucketCounts as strings per proto3-JSON, optional
    sum/min/max omitted when NULL (pdata presence), empty
    bucketCounts/explicitBounds omitted."""
    dp = F.struct(
        _nanos("start_ts").alias("startTimeUnixNano"),
        _nanos("ts").alias("timeUnixNano"),
        F.col("count").cast("string").alias("count"),
        F.col("sum").alias("sum"),
        F.col("min").alias("min"),
        F.col("max").alias("max"),
        F.when(
            F.size("bucket_counts") > 0,
            F.transform(F.col("bucket_counts"), lambda c: c.cast("string")),
        ).alias("bucketCounts"),
        F.when(F.size("explicit_bounds") > 0, F.col("explicit_bounds")).alias(
            "explicitBounds"
        ),
        F.when(F.size(F.map_entries("attributes")) > 0, _str_kvs(F.col("attributes")))
        .alias("attributes"),
    )
    return _histograms_json(df, dp, "histogram")


def to_otlp_summaries_json(df: DataFrame) -> DataFrame:
    """Flat summary point rows (parse_otlp_summaries shape) → one
    ``line`` per resource identity — the fileexporter JSON-lines arm
    for the ``summary`` oneof.  Scopes fold by name like the number
    arm; metrics per (name, unit); quantileValues reuse the flat
    ``array<struct<quantile,value>>`` column directly.  NOTE (proto3):
    SummaryDataPoint.sum has NO presence bit — a NULL sum marshals as
    absent and a conforming reader takes 0.0; fixtures use non-zero
    sums so round trips stay exact."""
    dp = F.struct(
        _nanos("start_ts").alias("startTimeUnixNano"),
        _nanos("ts").alias("timeUnixNano"),
        F.col("count").cast("string").alias("count"),
        F.col("sum").alias("sum"),
        F.when(F.size("quantiles") > 0, F.col("quantiles")).alias("quantileValues"),
        F.when(F.size(F.map_entries("attributes")) > 0, _str_kvs(F.col("attributes")))
        .alias("attributes"),
    )
    sort_key = F.struct(
        F.coalesce(F.unix_micros(F.col("ts").cast("timestamp")), F.lit(0)).alias("t"),
        F.to_json(F.array_sort(F.map_entries("attributes"))).alias("a"),
        dp.alias("dp"),
    )
    per_metric = df.groupBy(
        F.array_sort(F.map_entries("resource")).alias("_res"),
        F.col("scope_name").alias("_sn"),
        F.col("metric_name").alias("_mn"),
        F.col("unit").alias("_unit"),
    ).agg(F.array_sort(F.collect_list(sort_key)).alias("_keyed"))
    metric_entry = F.struct(
        F.col("_mn").alias("n"),
        F.col("_unit").alias("u"),
        F.transform(F.col("_keyed"), lambda k: k.getField("dp")).alias("dps"),
    )
    per_scope = per_metric.groupBy("_res", "_sn").agg(
        F.array_sort(F.collect_list(metric_entry)).alias("_metrics")
    )
    scope_entry = F.struct(
        F.col("_sn").alias("n"),
        F.transform(
            F.col("_metrics"),
            lambda m: F.struct(
                m.getField("n").alias("name"),
                F.when(m.getField("u") != "", m.getField("u")).alias("unit"),
                F.struct(m.getField("dps").alias("dataPoints")).alias("summary"),
            ),
        ).alias("metrics"),
    )
    per_res = per_scope.groupBy("_res").agg(
        F.array_sort(F.collect_list(scope_entry)).alias("_scopes")
    )
    req = F.struct(
        F.array(
            F.struct(
                _res_struct(F.col("_res")).alias("resource"),
                F.transform(
                    F.col("_scopes"),
                    lambda s: F.struct(
                        F.struct(
                            F.when(s.getField("n") != "", s.getField("n")).alias(
                                "name"
                            ),
                        ).alias("scope"),
                        s.getField("metrics").alias("metrics"),
                    ),
                ).alias("scopeMetrics"),
            )
        ).alias("resourceMetrics")
    )
    return per_res.select(F.to_json(req).alias("line"))


def _res_struct(res_entries) -> Column:
    """resource{attributes:[{key,value:{stringValue}}]} from sorted map
    entries; empty → attributes omitted."""
    return F.struct(
        F.when(
            F.size(res_entries) > 0,
            F.transform(
                res_entries,
                lambda e: F.struct(
                    e.getField("key").alias("key"),
                    F.struct(e.getField("value").alias("stringValue")).alias("value"),
                ),
            ),
        ).alias("attributes")
    )


def _histograms_json(df: DataFrame, dp: Column, arm: str) -> DataFrame:
    """The exp-histogram and explicit-histogram marshal: points ``dp``
    by (ts, attrs) under one Metric per (name, temporality) whose oneof
    is ``arm``, all in one unnamed scope per resource."""
    sort_key = F.struct(
        F.coalesce(F.unix_micros(F.col("ts").cast("timestamp")), F.lit(0)).alias("t"),
        F.to_json(F.array_sort(F.map_entries("attributes"))).alias("a"),
        dp.alias("dp"),
    )
    per_metric = df.groupBy(
        F.array_sort(F.map_entries("resource")).alias("_res"),
        F.col("metric_name").alias("_mn"),
        F.col("aggregation_temporality").alias("_at"),
    ).agg(F.array_sort(F.collect_list(sort_key)).alias("_keyed"))
    metric_entry = F.struct(
        F.col("_mn").alias("name"),
        F.struct(
            F.transform(F.col("_keyed"), lambda k: k.getField("dp")).alias(
                "dataPoints"
            ),
            F.col("_at").alias("aggregationTemporality"),
        ).alias(arm),
    )
    per_res = per_metric.groupBy("_res").agg(
        F.array_sort(F.collect_list(metric_entry)).alias("_metrics")
    )
    req = F.struct(
        F.array(
            F.struct(
                _res_struct(F.col("_res")).alias("resource"),
                F.array(
                    F.struct(
                        F.struct(
                            F.lit(None).cast("string").alias("name"),
                        ).alias("scope"),
                        F.col("_metrics").alias("metrics"),
                    )
                ).alias("scopeMetrics"),
            )
        ).alias("resourceMetrics")
    )
    return per_res.select(F.to_json(req).alias("line"))


def write_otlp_json_sink(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """fileexporter JSON-lines mode: marshal then write text lines."""
    to_otlp_logs_json(df).write.mode(mode).text(path)


# ---------------------------------------------------------------------------
# traces signal (ExportTraceServiceRequest) — feeds servicegraph /
# spanmetrics / tailsampling, whose operators take exactly this flat shape
# ---------------------------------------------------------------------------

_SPAN_EVENT = (
    f"struct<timeUnixNano:string,name:string,attributes:{_KVLIST},"
    "droppedAttributesCount:int>"
)
_SPAN = (
    "struct<traceId:string,spanId:string,parentSpanId:string,traceState:string,"
    "name:string,"
    "kind:int,startTimeUnixNano:string,endTimeUnixNano:string,"
    f"attributes:{_KVLIST},droppedAttributesCount:int,"
    f"events:array<{_SPAN_EVENT}>,"
    "status:struct<code:int,message:string>>"
)
OTLP_TRACES_DDL = (
    "struct<resourceSpans:array<struct<"
    f"resource:struct<attributes:{_KVLIST},droppedAttributesCount:int>,"
    "scopeSpans:array<struct<"
    f"scope:struct<name:string,version:string,attributes:{_KVLIST}>,"
    f"spans:array<{_SPAN}>,"
    "schemaUrl:string>>,"
    "schemaUrl:string>>>"
)


def parse_otlp_traces(df: DataFrame, line_col: str = "line") -> DataFrame:
    """One OTLP/JSON trace request per line → one row per span.

    Same generator pipeline as the logs signal
    (``receiver/otlpjsonfilereceiver/file.go:109-130``, traces branch).
    Span events explode separately via ``parse_otlp_spanevents``; links
    are outside the static schema (none of the ported connectors read
    them); ``kind``/``status.code`` stay numeric enums.
    """
    req = df.select(F.from_json(F.col(line_col), OTLP_TRACES_DDL).alias("req"))
    rl = req.select(F.explode("req.resourceSpans").alias("rs"))
    sl = rl.select(F.col("rs.resource").alias("res"), F.explode("rs.scopeSpans").alias("ss"))
    rec = sl.select("res", F.col("ss.scope").alias("scope"), F.explode("ss.spans").alias("sp"))
    sp = F.col("sp")
    return rec.select(
        F.coalesce(sp.getField("traceId"), F.lit("")).alias("trace_id"),
        F.coalesce(sp.getField("spanId"), F.lit("")).alias("span_id"),
        F.coalesce(sp.getField("parentSpanId"), F.lit("")).alias("parent_span_id"),
        F.coalesce(sp.getField("name"), F.lit("")).alias("name"),
        F.coalesce(sp.getField("kind"), F.lit(0)).alias("kind"),
        _unix_ts("sp.startTimeUnixNano").alias("start_ts"),
        _unix_ts("sp.endTimeUnixNano").alias("end_ts"),
        F.coalesce(sp.getField("status").getField("code"), F.lit(0)).alias("status_code"),
        F.coalesce(sp.getField("status").getField("message"), F.lit("")).alias("status_message"),
        F.coalesce(sp.getField("traceState"), F.lit("")).alias("trace_state"),
        _kv_to_map(sp.getField("attributes")).alias("attributes"),
        _kv_to_map(F.col("res").getField("attributes")).alias("resource"),
        F.coalesce(F.col("scope").getField("name"), F.lit("")).alias("scope_name"),
    )


def parse_otlp_spanevents(df: DataFrame, line_col: str = "line") -> DataFrame:
    """One row per span EVENT (the ottlspanevent transform context's
    frame, pkg/ottl/contexts/ottlspanevent/span_events.go): the event's
    own name/time/attributes plus ``event_index`` (position within the
    span, the context's pathGetSetter "event_index") and the enclosing
    span's identity columns for ``span.*`` paths."""
    req = df.select(F.from_json(F.col(line_col), OTLP_TRACES_DDL).alias("req"))
    rl = req.select(F.explode("req.resourceSpans").alias("rs"))
    sl = rl.select(F.col("rs.resource").alias("res"), F.explode("rs.scopeSpans").alias("ss"))
    rec = sl.select("res", F.col("ss.scope").alias("scope"), F.explode("ss.spans").alias("sp"))
    sp = F.col("sp")
    rec = rec.select(
        "*", F.posexplode(sp.getField("events")).alias("event_index", "ev")
    )
    ev = F.col("ev")
    return rec.select(
        F.coalesce(ev.getField("name"), F.lit("")).alias("event_name"),
        _unix_ts("ev.timeUnixNano").alias("ts"),
        F.col("event_index"),
        _kv_to_map(ev.getField("attributes")).alias("attributes"),
        F.coalesce(sp.getField("traceId"), F.lit("")).alias("trace_id"),
        F.coalesce(sp.getField("spanId"), F.lit("")).alias("span_id"),
        F.coalesce(sp.getField("name"), F.lit("")).alias("span_name"),
        F.coalesce(sp.getField("kind"), F.lit(0)).alias("span_kind"),
        F.coalesce(sp.getField("status").getField("code"), F.lit(0)).alias("status_code"),
        _kv_to_map(sp.getField("attributes")).alias("span_attributes"),
        _kv_to_map(F.col("res").getField("attributes")).alias("resource"),
        F.coalesce(F.col("scope").getField("name"), F.lit("")).alias("scope_name"),
    )


# ---------------------------------------------------------------------------
# metrics signal (ExportMetricsServiceRequest) — number + histogram points;
# feeds deltatocumulative / deltatorate / metricstransform
# ---------------------------------------------------------------------------

_NUM_DP = (
    "struct<startTimeUnixNano:string,timeUnixNano:string,"
    f"asDouble:double,asInt:string,attributes:{_KVLIST},flags:int>"
)
_HIST_DP = (
    "struct<startTimeUnixNano:string,timeUnixNano:string,"
    "count:string,sum:double,min:double,max:double,"
    "bucketCounts:array<string>,explicitBounds:array<double>,"
    f"attributes:{_KVLIST},flags:int>"
)
_SUMM_DP = (
    "struct<startTimeUnixNano:string,timeUnixNano:string,"
    "count:string,sum:double,"
    "quantileValues:array<struct<quantile:double,value:double>>,"
    f"attributes:{_KVLIST},flags:int>"
)
# ExponentialHistogramDataPoint (metrics.proto) — proto3-JSON uint64
# fields arrive as strings; positive/negative are Buckets{offset,counts}
_EXP_BUCKETS = "struct<offset:int,bucketCounts:array<string>>"
_EXP_DP = (
    "struct<startTimeUnixNano:string,timeUnixNano:string,"
    "count:string,sum:double,scale:int,zeroCount:string,"
    f"positive:{_EXP_BUCKETS},negative:{_EXP_BUCKETS},"
    "min:double,max:double,zeroThreshold:double,"
    f"attributes:{_KVLIST},flags:int>"
)
OTLP_METRICS_DDL = (
    "struct<resourceMetrics:array<struct<"
    f"resource:struct<attributes:{_KVLIST},droppedAttributesCount:int>,"
    "scopeMetrics:array<struct<"
    f"scope:struct<name:string,version:string,attributes:{_KVLIST}>,"
    "metrics:array<struct<name:string,description:string,unit:string,"
    f"gauge:struct<dataPoints:array<{_NUM_DP}>>,"
    f"sum:struct<dataPoints:array<{_NUM_DP}>,aggregationTemporality:int,isMonotonic:boolean>,"
    f"histogram:struct<dataPoints:array<{_HIST_DP}>,aggregationTemporality:int>,"
    f"exponentialHistogram:struct<dataPoints:array<{_EXP_DP}>,aggregationTemporality:int>,"
    f"summary:struct<dataPoints:array<{_SUMM_DP}>>>>,"
    "schemaUrl:string>>,"
    "schemaUrl:string>>>"
)


def parse_otlp_metrics(df: DataFrame, line_col: str = "line") -> DataFrame:
    """One OTLP/JSON metrics request per line → one row per NUMBER data
    point (gauge or sum); histogram points via ``parse_otlp_histograms``.

    The proto oneof (gauge | sum | histogram | …) becomes three nullable
    struct fields in the static schema; a number row carries which arm
    it came from (``metric_type``), the sum arm's temporality and
    monotonicity, and the point value as double (``asInt`` int64-string
    cast per proto3-JSON).  Histogram / exponentialHistogram / summary
    arms explode via their own parsers below.
    """
    rec = (
        _metric_base(df, line_col)
        .withColumn(
            "_dps",
            F.when(
                F.col("m").getField("gauge").isNotNull(),
                F.col("m").getField("gauge").getField("dataPoints"),
            ).otherwise(F.col("m").getField("sum").getField("dataPoints")),
        )
        .withColumn(
            "_type",
            F.when(F.col("m").getField("gauge").isNotNull(), F.lit("gauge"))
            .when(F.col("m").getField("sum").isNotNull(), F.lit("sum")),
        )
        .where(F.col("_type").isNotNull())
        .select("*", F.explode("_dps").alias("dp"))
    )
    dp = F.col("dp")
    msum = F.col("m").getField("sum")
    return rec.select(
        F.col("m").getField("name").alias("metric_name"),
        F.coalesce(F.col("m").getField("unit"), F.lit("")).alias("unit"),
        F.col("_type").alias("metric_type"),
        F.when(F.col("_type") == "sum",
               F.coalesce(msum.getField("aggregationTemporality"), F.lit(0)))
        .otherwise(F.lit(0)).alias("aggregation_temporality"),
        F.when(F.col("_type") == "sum",
               F.coalesce(msum.getField("isMonotonic"), F.lit(False)))
        .otherwise(F.lit(False)).alias("is_monotonic"),
        _unix_ts("dp.startTimeUnixNano").alias("start_ts"),
        _unix_ts("dp.timeUnixNano").alias("ts"),
        F.coalesce(dp.getField("asDouble"), dp.getField("asInt").try_cast("double")).alias("value"),
        _kv_to_map(dp.getField("attributes")).alias("attributes"),
        _kv_to_map(F.col("res").getField("attributes")).alias("resource"),
        F.coalesce(F.col("scope").getField("name"), F.lit("")).alias("scope_name"),
    )


def parse_otlp_histograms(df: DataFrame, line_col: str = "line") -> DataFrame:
    """Histogram data points from OTLP/JSON metrics lines: one row per
    point, bucketCounts cast string→long per proto3-JSON uint64."""
    rec = (
        _metric_base(df, line_col)
        .where(F.col("m").getField("histogram").isNotNull())
        .select("*", F.explode(F.col("m").getField("histogram").getField("dataPoints")).alias("dp"))
    )
    dp = F.col("dp")
    return rec.select(
        F.col("m").getField("name").alias("metric_name"),
        F.coalesce(
            F.col("m").getField("histogram").getField("aggregationTemporality"), F.lit(0)
        ).alias("aggregation_temporality"),
        _unix_ts("dp.startTimeUnixNano").alias("start_ts"),
        _unix_ts("dp.timeUnixNano").alias("ts"),
        # count is a plain fixed64 (no presence bit): absent == 0, like
        # pdata — keeps the JSON and proto parse twins identical
        F.coalesce(dp.getField("count").try_cast("long"), F.lit(0)).alias("count"),
        dp.getField("sum").alias("sum"),
        dp.getField("min").alias("min"),
        dp.getField("max").alias("max"),
        _longs(dp.getField("bucketCounts")).alias("bucket_counts"),
        F.coalesce(
            dp.getField("explicitBounds"), F.array().cast("array<double>")
        ).alias("explicit_bounds"),
        _kv_to_map(dp.getField("attributes")).alias("attributes"),
        _kv_to_map(F.col("res").getField("attributes")).alias("resource"),
    )


def parse_otlp_exp_histograms(df: DataFrame, line_col: str = "line") -> DataFrame:
    """ExponentialHistogram data points from OTLP/JSON metrics lines:
    one row per point, in the same flat column shape the engine's own
    exp-histogram producers use (aggregate.py spanmetrics /
    signaltometrics) so ingested points feed
    ``metricfuncs.convert_exponential_hist_to_explicit_hist`` directly.

    Mirrors pdata ``ExponentialHistogramDataPoint`` as consumed by
    connector/spanmetricsconnector/connector.go (exponential branch)
    and processor/transformprocessor/internal/metrics/
    func_convert_exponential_hist_to_explicit_hist.go: scale, zeroCount,
    zeroThreshold, and the positive/negative Buckets{offset,
    bucketCounts} halves (uint64 strings → long per proto3-JSON).
    Absent halves normalize to offset 0 / empty counts — pdata's
    zero-value Buckets."""
    rec = (
        _metric_base(df, line_col)
        .where(F.col("m").getField("exponentialHistogram").isNotNull())
        .select(
            "*",
            F.explode(
                F.col("m").getField("exponentialHistogram").getField("dataPoints")
            ).alias("dp"),
        )
    )
    dp = F.col("dp")
    return rec.select(
        F.col("m").getField("name").alias("metric_name"),
        F.coalesce(
            F.col("m").getField("exponentialHistogram").getField("aggregationTemporality"),
            F.lit(0),
        ).alias("aggregation_temporality"),
        _unix_ts("dp.startTimeUnixNano").alias("start_ts"),
        _unix_ts("dp.timeUnixNano").alias("ts"),
        # plain fixed64 count: absent == 0 (sum/min/max are presence-
        # tracked optionals and stay NULL when absent)
        F.coalesce(dp.getField("count").try_cast("long"), F.lit(0)).alias("count"),
        dp.getField("sum").alias("sum"),
        dp.getField("min").alias("min"),
        dp.getField("max").alias("max"),
        F.coalesce(dp.getField("scale"), F.lit(0)).alias("scale"),
        F.coalesce(dp.getField("zeroCount").try_cast("long"), F.lit(0)).alias("zero_count"),
        F.coalesce(dp.getField("zeroThreshold"), F.lit(0.0)).alias("zero_threshold"),
        F.coalesce(dp.getField("positive").getField("offset"), F.lit(0)).alias("positive_offset"),
        _longs(dp.getField("positive").getField("bucketCounts")).alias("positive_bucket_counts"),
        F.coalesce(dp.getField("negative").getField("offset"), F.lit(0)).alias("negative_offset"),
        _longs(dp.getField("negative").getField("bucketCounts")).alias("negative_bucket_counts"),
        _kv_to_map(dp.getField("attributes")).alias("attributes"),
        _kv_to_map(F.col("res").getField("attributes")).alias("resource"),
    )


def parse_otlp_summaries(df: DataFrame, line_col: str = "line") -> DataFrame:
    """Summary data points from OTLP/JSON metrics lines: one row per
    point, quantile values kept as an ``array<struct<quantile,value>>``
    so the convert_summary_* functions can read count/sum scalars or
    explode the quantiles (proto Summary has no temporality)."""
    rec = (
        _metric_base(df, line_col)
        .where(F.col("m").getField("summary").isNotNull())
        .select(
            "*",
            F.explode(
                F.col("m").getField("summary").getField("dataPoints")
            ).alias("dp"),
        )
    )
    dp = F.col("dp")
    return rec.select(
        F.col("m").getField("name").alias("metric_name"),
        F.coalesce(F.col("m").getField("unit"), F.lit("")).alias("unit"),
        _unix_ts("dp.startTimeUnixNano").alias("start_ts"),
        _unix_ts("dp.timeUnixNano").alias("ts"),
        # SummaryDataPoint has NO presence-tracked fields: absent count
        # and sum are the zero values, like pdata (and like the proto
        # decode twin) — not NULL
        F.coalesce(dp.getField("count").try_cast("long"), F.lit(0)).alias("count"),
        F.coalesce(dp.getField("sum"), F.lit(0.0)).alias("sum"),
        F.coalesce(
            dp.getField("quantileValues"),
            F.array().cast("array<struct<quantile:double,value:double>>"),
        ).alias("quantiles"),
        _kv_to_map(dp.getField("attributes")).alias("attributes"),
        _kv_to_map(F.col("res").getField("attributes")).alias("resource"),
        F.coalesce(F.col("scope").getField("name"), F.lit("")).alias("scope_name"),
    )


def _longs(counts: Column) -> Column:
    """proto3-JSON uint64 strings → longs; an absent repeated field is
    the empty list, as in pdata and the proto decode twin."""
    return F.coalesce(
        F.transform(counts, lambda c: c.try_cast("long")),
        F.array().cast("array<long>"),
    )


def _metric_base(df: DataFrame, line_col: str) -> DataFrame:
    req = df.select(F.from_json(F.col(line_col), OTLP_METRICS_DDL).alias("req"))
    rm = req.select(F.explode("req.resourceMetrics").alias("rm"))
    sm = rm.select(F.col("rm.resource").alias("res"), F.explode("rm.scopeMetrics").alias("sm"))
    return sm.select("res", F.col("sm.scope").alias("scope"), F.explode("sm.metrics").alias("m"))


# ---------------------------------------------------------------------------
# otlpjsonconnector: classify OTLP/JSON payloads embedded in log bodies
# and fan them out to the per-signal parsers
# ---------------------------------------------------------------------------

# connector/otlpjsonconnector/factory.go:19-21 — anchored key sniffers
OTLPJSON_LOG_RE = r'^\{\s*"resourceLogs"\s*:\s*\['
OTLPJSON_METRIC_RE = r'^\{\s*"resourceMetrics"\s*:\s*\['
OTLPJSON_TRACE_RE = r'^\{\s*"resourceSpans"\s*:\s*\['


def classify_otlpjson(df: DataFrame, body_col: str = "body") -> DataFrame:
    """Adds ``signal`` ∈ {logs, metrics, traces, invalid} per record —
    the connector's regex switch (otlpjsonconnector/logs.go:51-70; a
    payload matching none of the three sniffers is the logged
    "Invalid otlp payload" arm)."""
    b = F.col(body_col)
    return df.withColumn(
        "signal",
        F.when(b.rlike(OTLPJSON_LOG_RE), "logs")
        .when(b.rlike(OTLPJSON_METRIC_RE), "metrics")
        .when(b.rlike(OTLPJSON_TRACE_RE), "traces")
        .otherwise("invalid"),
    )


def route_otlpjson_bodies(df: DataFrame, body_col: str = "body") -> dict:
    """The full connector: one filter + parse per signal pipeline.
    Each arm only scans its own subset (predicate before from_json);
    malformed-but-matching payloads parse to NULL structs and drop out
    of the explodes, mirroring the reference's per-record error-log +
    continue (logs.go:55-61)."""
    c = classify_otlpjson(df, body_col)
    sel = lambda s: c.where(F.col("signal") == s).select(F.col(body_col).alias("line"))
    return {
        "logs": parse_otlp_logs(sel("logs")),
        "metrics": parse_otlp_metrics(sel("metrics")),
        "histograms": parse_otlp_histograms(sel("metrics")),
        "exp_histograms": parse_otlp_exp_histograms(sel("metrics")),
        "traces": parse_otlp_traces(sel("traces")),
    }
