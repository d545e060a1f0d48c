"""fileexporter proto arm — OTLP logs wire format + 4-byte BE framing
(exporter/fileexporter/marshaller.go:20-44, file_writer.go:43-52).

The golden-bytes test pins the encoder to the public proto3 wire
format independently of the decoder (a shared bug can't cancel out);
the cross-marshal test proves the proto and JSON sink→source paths
carry identical information.
"""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from sparkotel.otlpproto import (
    decode_logs_data,
    frame_messages,
    parse_otlp_proto_logs,
    to_otlp_logs_proto,
    write_otlp_proto_file,
)

FLAT_DDL = (
    "ts string, observed_ts string, severity_number int, severity_text string, "
    "body string, attributes map<string,string>, resource map<string,string>, "
    "scope_name string, scope_version string, trace_id string, span_id string, "
    "flags int, dropped_attributes_count int"
)


def _flat(spark, rows):
    return spark.createDataFrame(rows, FLAT_DDL).withColumns(
        {
            "ts": F.col("ts").cast("timestamp_ntz"),
            "observed_ts": F.col("observed_ts").cast("timestamp_ntz"),
        }
    )


ROWS = [
    (
        "2024-03-15 10:00:00.123456", "2024-03-15 10:00:01", 17, "ERROR",
        "boom", {"k": "1", "event.type": "error"}, {"service.name": "svc-1"},
        "gen", "1", "00" * 15 + "aa", "11" * 8, 2, 1,
    ),
    # all-defaults record: every scalar omitted on the wire
    ("2024-03-15 10:00:02", None, 0, "", "", {}, {"service.name": "svc-1"},
     "gen", "1", "", "", 0, 0),
    ("2024-03-15 11:00:00", None, 9, "INFO", "hi", {"a": "b"},
     {"service.name": "svc-2"}, "other", "2", "", "", 0, 3),
]


def test_golden_wire_bytes(spark):
    """Pin the encoder to the proto3 wire format by hand: one record,
    one scope, one resource attr — every byte computed from the public
    field numbers (logs.proto / common.proto / resource.proto)."""
    df = _flat(
        spark,
        [("2024-03-15 00:00:01", None, 9, "INFO", "hi", {},
          {"service.name": "s"}, "gen", "", "", "", 0, 0)],
    )
    msg = to_otlp_logs_proto(df).collect()[0]["msg"]

    ns = 1710460801 * 10**9  # 2024-03-15T00:00:01Z in epoch nanos
    rec = (
        b"\x09" + struct.pack("<Q", ns)  # time_unix_nano=1 fixed64
        + b"\x10\x09"  # severity_number=2 varint 9
        + b"\x1a\x04INFO"  # severity_text=3
        + b"\x2a\x04" + b"\x0a\x02hi"  # body=5 AnyValue{string_value="hi"}
    )
    kv = b"\x0a\x0cservice.name" + b"\x12\x03" + b"\x0a\x01s"
    resource = b"\x0a" + bytes([len(kv)]) + kv  # Resource.attributes=1
    scope = b"\x0a\x03gen"  # InstrumentationScope.name=1
    scope_logs = (
        b"\x0a" + bytes([len(scope)]) + scope  # ScopeLogs.scope=1
        + b"\x12" + bytes([len(rec)]) + rec  # ScopeLogs.log_records=2
    )
    rl = (
        b"\x0a" + bytes([len(resource)]) + resource  # ResourceLogs.resource=1
        + b"\x12" + bytes([len(scope_logs)]) + scope_logs  # .scope_logs=2
    )
    expected = b"\x0a" + bytes([len(rl)]) + rl  # LogsData.resource_logs=1
    assert bytes(msg) == expected


def test_framing_is_4_byte_big_endian(spark):
    df = _flat(spark, ROWS)
    for r in frame_messages(to_otlp_logs_proto(df)).collect():
        frame = bytes(r["frame"])
        assert struct.unpack(">I", frame[:4])[0] == len(frame) - 4


def test_roundtrip_exact(spark):
    df = _flat(spark, ROWS)
    back = parse_otlp_proto_logs(frame_messages(to_otlp_logs_proto(df)))
    cols = df.columns
    assert sorted(map(repr, back.select(cols).collect())) == sorted(
        map(repr, df.select(cols).collect())
    )


def test_cross_marshal_equivalence(spark):
    """proto sink→source carries exactly what the JSON sink→source does
    (same batchperresourceattr grouping contract)."""
    from sparkotel.otlpjson import parse_otlp_logs, to_otlp_logs_json

    df = _flat(spark, ROWS)
    via_proto = parse_otlp_proto_logs(frame_messages(to_otlp_logs_proto(df)))
    via_json = parse_otlp_logs(to_otlp_logs_json(df))
    cols = df.columns
    assert sorted(map(repr, via_proto.select(cols).collect())) == sorted(
        map(repr, via_json.select(cols).collect())
    )


def test_bytes_deterministic_under_repartition(spark):
    df = _flat(spark, ROWS)
    a = {bytes(r["msg"]) for r in to_otlp_logs_proto(df).collect()}
    b = {bytes(r["msg"]) for r in to_otlp_logs_proto(df.repartition(7)).collect()}
    assert a == b and len(a) == 2  # one message per resource identity


def test_corrupt_frame_raises(spark):
    bad = spark.createDataFrame(
        [(struct.pack(">I", 99) + b"\x0a\x00",)], "frame binary"
    )
    with pytest.raises(Exception, match="framing"):
        parse_otlp_proto_logs(bad).collect()


def test_single_file_writer_and_zstd_gate(spark, tmp_path):
    df = _flat(spark, ROWS)
    msgs = to_otlp_logs_proto(df)
    path = str(tmp_path / "logs.pb")
    assert write_otlp_proto_file(msgs, path) == 2
    # sequential reader over the framed file recovers every record
    rows = []
    with open(path, "rb") as fh:
        while True:
            hdr = fh.read(4)
            if not hdr:
                break
            (n,) = struct.unpack(">I", hdr)
            rows.extend(decode_logs_data(fh.read(n)))
    assert len(rows) == 3
    assert {r["body"] for r in rows} == {"boom", "", "hi"}
    with pytest.raises(NotImplementedError, match="zstd"):
        write_otlp_proto_file(msgs, path, compression="zstd")
    with pytest.raises(ValueError, match="not supported"):
        write_otlp_proto_file(msgs, path, compression="gzip")


# ---------------------------------------------------------------------------
# traces signal
# ---------------------------------------------------------------------------

SPAN_DDL = (
    "trace_id string, span_id string, parent_span_id string, name string, "
    "kind int, start_ts string, end_ts string, status_code int, "
    "status_message string, trace_state string, "
    "attributes map<string,string>, resource map<string,string>, "
    "scope_name string"
)

SPAN_ROWS = [
    ("ab" * 16, "cd" * 8, "ef" * 8, "op-a", 2, "2024-03-15 10:00:00.5",
     "2024-03-15 10:00:01", 2, "boom", "ot=th:8",
     {"user.id": "7"}, {"service.name": "svc-1"}, "tracer"),
    # all-defaults span
    ("", "", "", "", 0, "2024-03-15 10:00:02", None, 0, "", "",
     {}, {"service.name": "svc-1"}, "tracer"),
    ("aa" * 16, "bb" * 8, "", "op-b", 1, "2024-03-15 11:00:00",
     "2024-03-15 11:00:05", 0, "", "", {"x": "y"},
     {"service.name": "svc-2"}, "other"),
]


def _spans(spark):
    return spark.createDataFrame(SPAN_ROWS, SPAN_DDL).withColumns(
        {
            "start_ts": F.col("start_ts").cast("timestamp_ntz"),
            "end_ts": F.col("end_ts").cast("timestamp_ntz"),
        }
    )


def test_traces_roundtrip_exact(spark):
    from sparkotel.otlpproto import parse_otlp_proto_traces, to_otlp_traces_proto

    df = _spans(spark)
    back = parse_otlp_proto_traces(frame_messages(to_otlp_traces_proto(df)))
    cols = df.columns
    assert sorted(map(repr, back.select(cols).collect())) == sorted(
        map(repr, df.select(cols).collect())
    )


def test_traces_cross_marshal_equivalence(spark):
    from sparkotel.otlpjson import parse_otlp_traces, to_otlp_traces_json
    from sparkotel.otlpproto import parse_otlp_proto_traces, to_otlp_traces_proto

    df = _spans(spark)
    via_proto = parse_otlp_proto_traces(frame_messages(to_otlp_traces_proto(df)))
    via_json = parse_otlp_traces(to_otlp_traces_json(df))
    cols = df.columns
    assert sorted(map(repr, via_proto.select(cols).collect())) == sorted(
        map(repr, via_json.select(cols).collect())
    )


def test_traces_bytes_deterministic(spark):
    from sparkotel.otlpproto import to_otlp_traces_proto

    df = _spans(spark)
    a = {bytes(r["msg"]) for r in to_otlp_traces_proto(df).collect()}
    b = {bytes(r["msg"]) for r in to_otlp_traces_proto(df.repartition(5)).collect()}
    assert a == b and len(a) == 2


# ---------------------------------------------------------------------------
# metrics signal (number points)
# ---------------------------------------------------------------------------

POINT_DDL = (
    "metric_name string, unit string, metric_type string, "
    "aggregation_temporality int, is_monotonic boolean, "
    "start_ts string, ts string, value double, "
    "attributes map<string,string>, resource map<string,string>, "
    "scope_name string"
)

POINT_ROWS = [
    ("req.count", "1", "sum", 2, True, "2024-03-15 10:00:00",
     "2024-03-15 10:05:00", 42.0, {"k": "1"}, {"host.name": "h-1"}, "meter"),
    # oneof edge: a SET as_double of exactly 0.0 must survive the trip
    ("req.count", "1", "sum", 2, True, "2024-03-15 10:00:00",
     "2024-03-15 10:10:00", 0.0, {"k": "2"}, {"host.name": "h-1"}, "meter"),
    ("cpu.pct", "%", "gauge", 0, False, None,
     "2024-03-15 10:05:00", -1.5, {}, {"host.name": "h-2"}, "meter"),
]


def _points(spark):
    return spark.createDataFrame(POINT_ROWS, POINT_DDL).withColumns(
        {
            "start_ts": F.col("start_ts").cast("timestamp_ntz"),
            "ts": F.col("ts").cast("timestamp_ntz"),
        }
    )


def test_metrics_roundtrip_exact_including_zero_value(spark):
    from sparkotel.otlpproto import parse_otlp_proto_metrics, to_otlp_metrics_proto

    df = _points(spark)
    back = parse_otlp_proto_metrics(frame_messages(to_otlp_metrics_proto(df)))
    cols = df.columns
    assert sorted(map(repr, back.select(cols).collect())) == sorted(
        map(repr, df.select(cols).collect())
    )


def test_metrics_cross_marshal_equivalence(spark):
    from sparkotel.otlpjson import parse_otlp_metrics, to_otlp_metrics_json
    from sparkotel.otlpproto import parse_otlp_proto_metrics, to_otlp_metrics_proto

    df = _points(spark)
    via_proto = parse_otlp_proto_metrics(frame_messages(to_otlp_metrics_proto(df)))
    via_json = parse_otlp_metrics(to_otlp_metrics_json(df))
    cols = df.columns
    assert sorted(map(repr, via_proto.select(cols).collect())) == sorted(
        map(repr, via_json.select(cols).collect())
    )


def test_metrics_bytes_deterministic(spark):
    from sparkotel.otlpproto import to_otlp_metrics_proto

    df = _points(spark)
    a = {bytes(r["msg"]) for r in to_otlp_metrics_proto(df).collect()}
    b = {bytes(r["msg"]) for r in to_otlp_metrics_proto(df.repartition(5)).collect()}
    assert a == b and len(a) == 2


# ---------------------------------------------------------------------------
# metrics signal (exponential-histogram points)
# ---------------------------------------------------------------------------

EXP_DDL = (
    "metric_name string, aggregation_temporality int, start_ts string, "
    "ts string, count long, sum double, min double, max double, scale int, "
    "zero_count long, zero_threshold double, positive_offset int, "
    "positive_bucket_counts array<long>, negative_offset int, "
    "negative_bucket_counts array<long>, attributes map<string,string>, "
    "resource map<string,string>"
)

EXP_ROWS = [
    # negative scale and offsets exercise zigzag; sum exactly 0.0
    # exercises optional-double presence
    ("lat", 2, "2024-03-15 10:00:00", "2024-03-15 10:05:00", 7, 0.0,
     -3.5, 9.25, -2, 1, 0.0078125, -4, [1, 0, 2, 300], -1, [5],
     {"k": "a"}, {"host.name": "h-1"}),
    # NULL sum/min/max omit fields 5/12/13 entirely
    ("lat", 2, "2024-03-15 10:00:00", "2024-03-15 10:10:00", 0, None,
     None, None, 3, 0, 0.0, 0, [], 0, [], {"k": "b"}, {"host.name": "h-1"}),
    ("sz", 1, None, "2024-03-15 11:00:00", 2, 12.5, 1.0, 11.5, 0, 2,
     0.0, 130, [1, 1], 0, [], {}, {"host.name": "h-2"}),
]


def _exps(spark):
    return spark.createDataFrame(EXP_ROWS, EXP_DDL).withColumns(
        {
            "start_ts": F.col("start_ts").cast("timestamp_ntz"),
            "ts": F.col("ts").cast("timestamp_ntz"),
        }
    )


def test_exp_roundtrip_exact(spark):
    from sparkotel.otlpproto import (
        parse_otlp_proto_exp_histograms,
        to_otlp_exp_histograms_proto,
    )

    df = _exps(spark)
    back = parse_otlp_proto_exp_histograms(
        frame_messages(to_otlp_exp_histograms_proto(df))
    )
    cols = df.columns
    assert sorted(map(repr, back.select(cols).collect())) == sorted(
        map(repr, df.select(cols).collect())
    )


def test_exp_cross_marshal_equivalence(spark):
    from sparkotel.otlpjson import (
        parse_otlp_exp_histograms,
        to_otlp_exp_histograms_json,
    )
    from sparkotel.otlpproto import (
        parse_otlp_proto_exp_histograms,
        to_otlp_exp_histograms_proto,
    )

    df = _exps(spark)
    via_proto = parse_otlp_proto_exp_histograms(
        frame_messages(to_otlp_exp_histograms_proto(df))
    )
    via_json = parse_otlp_exp_histograms(to_otlp_exp_histograms_json(df))
    cols = df.columns
    assert sorted(map(repr, via_proto.select(cols).collect())) == sorted(
        map(repr, via_json.select(cols).collect())
    )


def test_zigzag_and_packed_primitives():
    from sparkotel.otlpproto import (
        _dec_packed_varints,
        _f_packed_varint,
        _unzigzag,
        _zigzag,
    )

    for n in [0, 1, -1, 2, -2, 130, -130, 2**31 - 1, -(2**31)]:
        assert _unzigzag(_zigzag(n)) == n
    # packed uint64 payload round-trips, empty omits the field
    assert _f_packed_varint(2, []) == b""
    enc = _f_packed_varint(2, [1, 0, 300])
    assert enc[0] == (2 << 3) | 2
    assert _dec_packed_varints(enc[2:]) == [1, 0, 300]


def test_null_maps_and_scope_encode_like_zero_values(spark):
    from datetime import datetime

    """proto3 has no NULL: an absent map or string IS the zero value.
    A row with NULL attributes/resource/scope must encode byte-identically
    to its ''/empty-map twin and must NOT vanish (pandas groupby drops
    NULL keys by default — the record would silently disappear from the
    marshal while the JSON arm keeps it)."""
    ddl = (
        "ts timestamp_ntz, observed_ts timestamp_ntz, severity_number int, "
        "severity_text string, body string, attributes map<string,string>, "
        "resource map<string,string>, scope_name string, scope_version string, "
        "trace_id string, span_id string, flags int, dropped_attributes_count int"
    )
    t0 = datetime(2024, 1, 1)

    def frame(attrs, res, sname, sver):
        return spark.createDataFrame(
            [
                (t0, t0, 9, "INFO", "hello", attrs, res, sname, sver,
                 "ab" * 16, "cd" * 8, 1, 0),
                (t0, t0, 5, "DEBUG", "other", {"k": "v"}, {"service.name": "s"},
                 "app", "1", "ab" * 16, "ef" * 8, 0, 0),
            ],
            ddl,
        )

    nulls = to_otlp_logs_proto(frame(None, None, None, None))
    zeros = to_otlp_logs_proto(frame({}, {}, "", ""))
    got_n = sorted(r["msg"] for r in nulls.collect())
    got_z = sorted(r["msg"] for r in zeros.collect())
    assert got_n == got_z

    # and the NULL-scoped record survives the round trip
    back = parse_otlp_proto_logs(frame_messages(nulls))
    assert back.count() == 2
    assert sorted(r["body"] for r in back.collect()) == ["hello", "other"]


def _hist_flat(spark):
    from datetime import datetime

    t0 = datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            ("h.lat", 1, t0, t0, 10, 55.5, 0.5, 20.0, [1, 2, 3, 4],
             [5.0, 10.0, 50.0], {"route": "/a"}, {"service.name": "s"}),
            ("h.lat", 1, t0, datetime(2024, 1, 1, 0, 1), 3, None, None, None,
             [3], [], {}, {"service.name": "s"}),
        ],
        "metric_name string, aggregation_temporality int, "
        "start_ts timestamp_ntz, ts timestamp_ntz, count long, sum double, "
        "min double, max double, bucket_counts array<long>, "
        "explicit_bounds array<double>, attributes map<string,string>, "
        "resource map<string,string>",
    )


def _summ_flat(spark):
    from datetime import datetime

    t0 = datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            ("s.lat", "ms", t0, t0, 9, 12.5, [(0.5, 1.0), (0.99, 7.5)],
             {"r": "/b"}, {"service.name": "s"}, "app"),
            ("s.lat", "ms", t0, datetime(2024, 1, 1, 0, 2), 2, 3.5, [],
             {}, {"service.name": "s"}, ""),
        ],
        "metric_name string, unit string, start_ts timestamp_ntz, "
        "ts timestamp_ntz, count long, sum double, "
        "quantiles array<struct<quantile:double,value:double>>, "
        "attributes map<string,string>, resource map<string,string>, "
        "scope_name string",
    )


def test_histogram_proto_roundtrip_exact(spark):
    """Explicit-histogram points survive marshal→frame→parse bit-exactly,
    including optional sum/min/max presence (row 2 has all three NULL)
    and the packed fixed64 bucket_counts / packed double explicit_bounds
    encodings."""
    from sparkotel.otlpproto import parse_otlp_proto_histograms, to_otlp_histograms_proto

    df = _hist_flat(spark)
    back = parse_otlp_proto_histograms(frame_messages(to_otlp_histograms_proto(df)))
    got = sorted(([r["count"], r["sum"], r["min"], r["max"],
                   list(r["bucket_counts"]), list(r["explicit_bounds"]),
                   dict(r["attributes"])] for r in back.collect()),
                 key=lambda x: x[0])
    assert got == [
        [3, None, None, None, [3], [], {}],
        [10, 55.5, 0.5, 20.0, [1, 2, 3, 4], [5.0, 10.0, 50.0], {"route": "/a"}],
    ]


def test_summary_proto_roundtrip_exact(spark):
    """Summary points survive marshal→frame→parse, quantile order
    preserved; proto3 Summary.sum has no presence bit so fixtures use
    non-zero sums (absent decodes to 0.0, like pdata)."""
    from sparkotel.otlpproto import parse_otlp_proto_summaries, to_otlp_summaries_proto

    df = _summ_flat(spark)
    back = parse_otlp_proto_summaries(frame_messages(to_otlp_summaries_proto(df)))
    got = sorted(
        ([r["count"], r["sum"], [(q["quantile"], q["value"]) for q in r["quantiles"]],
          r["scope_name"], r["unit"]] for r in back.collect()),
        key=lambda x: x[0],
    )
    assert got == [
        [2, 3.5, [], "", "ms"],
        [9, 12.5, [(0.5, 1.0), (0.99, 7.5)], "app", "ms"],
    ]


def test_histogram_summary_cross_marshal_equivalence(spark):
    """The JSON and proto arms of the new histogram/summary marshals
    must parse back to identical flat rows — same contract the logs and
    number-point arms already carry."""
    from sparkotel.otlpjson import (
        parse_otlp_histograms,
        parse_otlp_summaries,
        to_otlp_histograms_json,
        to_otlp_summaries_json,
    )
    from sparkotel.otlpproto import (
        parse_otlp_proto_histograms,
        parse_otlp_proto_summaries,
        to_otlp_histograms_proto,
        to_otlp_summaries_proto,
    )

    for df, parse_json, to_json, parse_proto, to_proto in (
        (_hist_flat(spark), parse_otlp_histograms, to_otlp_histograms_json,
         parse_otlp_proto_histograms, to_otlp_histograms_proto),
        (_summ_flat(spark), parse_otlp_summaries, to_otlp_summaries_json,
         parse_otlp_proto_summaries, to_otlp_summaries_proto),
    ):
        via_json = parse_json(to_json(df))
        via_proto = parse_proto(frame_messages(to_proto(df)))
        cols = df.columns
        assert sorted(map(repr, via_proto.select(cols).collect())) == sorted(
            map(repr, via_json.select(cols).collect())
        )


def test_null_count_encodes_as_zero_not_crash(spark):
    """Arrow hands a NULL long as float NaN — int(NaN or 0) is a batch
    killer (NaN is truthy).  pdata unmarshals an omitted count as 0, so
    a NULL-count point must encode like count=0 and round-trip to 0."""
    from datetime import datetime

    from sparkotel.otlpproto import (
        parse_otlp_proto_histograms,
        parse_otlp_proto_summaries,
        to_otlp_histograms_proto,
        to_otlp_summaries_proto,
    )

    t0 = datetime(2024, 1, 1)
    h = spark.createDataFrame(
        [("h", 1, t0, t0, None, 1.5, None, None, [1], [2.0], {}, {})],
        "metric_name string, aggregation_temporality int, "
        "start_ts timestamp_ntz, ts timestamp_ntz, count long, sum double, "
        "min double, max double, bucket_counts array<long>, "
        "explicit_bounds array<double>, attributes map<string,string>, "
        "resource map<string,string>",
    )
    [hr] = parse_otlp_proto_histograms(
        frame_messages(to_otlp_histograms_proto(h))
    ).collect()
    assert hr["count"] == 0 and hr["sum"] == 1.5

    s = spark.createDataFrame(
        [("s", "", t0, t0, None, None, [], {}, {}, "")],
        "metric_name string, unit string, start_ts timestamp_ntz, "
        "ts timestamp_ntz, count long, sum double, "
        "quantiles array<struct<quantile:double,value:double>>, "
        "attributes map<string,string>, resource map<string,string>, "
        "scope_name string",
    )
    [sr] = parse_otlp_proto_summaries(
        frame_messages(to_otlp_summaries_proto(s))
    ).collect()
    assert sr["count"] == 0 and sr["sum"] == 0.0  # Summary.sum: no presence


def test_decode_accepts_unpacked_repeated_fields():
    """Conforming proto3 parsers MUST accept unpacked encodings of
    packed-by-default repeated scalars (bucket_counts fixed64,
    explicit_bounds double)."""
    import struct as st

    from sparkotel.otlpproto import _tag, _varint, decode_histograms_data

    # HistogramDataPoint: count=4 fixed64(7), then UNPACKED field 6
    # (two fixed64 elements) and UNPACKED field 7 (one double)
    pt = (
        _tag(4, 1) + st.pack("<Q", 7)
        + _tag(6, 1) + st.pack("<Q", 3)
        + _tag(6, 1) + st.pack("<Q", 4)
        + _tag(7, 1) + st.pack("<d", 2.5)
    )
    hist = _tag(1, 2) + _varint(len(pt)) + pt + _tag(2, 0) + _varint(1)
    metric = _tag(1, 2) + _varint(1) + b"h" + _tag(9, 2) + _varint(len(hist)) + hist
    sm = _tag(2, 2) + _varint(len(metric)) + metric
    rm = _tag(2, 2) + _varint(len(sm)) + sm
    msg = _tag(1, 2) + _varint(len(rm)) + rm
    [r] = decode_histograms_data(msg)
    assert r["count"] == 7
    assert r["bucket_counts"] == [3, 4]
    assert r["explicit_bounds"] == [2.5]


def test_all_default_point_survives_roundtrip(spark):
    """An all-default data point / log record is still a list element:
    pdata emits tag + len 0 and keeps the row — dropping it would lose
    records silently."""
    from datetime import datetime

    from sparkotel.otlpproto import (
        parse_otlp_proto_summaries,
        to_otlp_summaries_proto,
    )

    t0 = datetime(2024, 1, 1)
    s = spark.createDataFrame(
        [
            # row 1: everything at the proto3 zero value → b'' payload
            ("", "", None, None, 0, 0.0, [], {}, {}, ""),
            ("s", "ms", t0, t0, 1, 2.0, [], {}, {}, ""),
        ],
        "metric_name string, unit string, start_ts timestamp_ntz, "
        "ts timestamp_ntz, count long, sum double, "
        "quantiles array<struct<quantile:double,value:double>>, "
        "attributes map<string,string>, resource map<string,string>, "
        "scope_name string",
    )
    back = parse_otlp_proto_summaries(frame_messages(to_otlp_summaries_proto(s)))
    assert back.count() == 2  # the zero-value point did NOT vanish


# SHA-256 over the sorted proto messages (joined by b"|") and the sorted
# JSON lines (joined by "\n") of each fixture: a refactor of either
# codec must keep every marshalled byte.
MARSHAL_DIGESTS = {
    "logs": (
        "60b6c9182875e3e1dfdacd6d98fc22126d51fb58d1d4067dc092f0774f309d02",
        "34c69a1c063694e358e23edf871e642a68fe081f47d53899aaed51c657f30b04",
    ),
    "traces": (
        "a1f10b4ac29745cbe11074a467ccb2adf71cd4dc4d4d8a4ad0d12edaff1c9e02",
        "b3fdad60d0714d04bef7dacc6b6d356238cf360373cb1c5010e663cf19b1721f",
    ),
    "metrics": (
        "bcf2e1806ffd5b41a1e40dda55e14008b14a49b5045292bc7331569066a47f34",
        "25e3c1ad59daee9f70f030cb8449a4e85ed5349686273ff43f68f21d73104bb2",
    ),
    "exp_histograms": (
        "ac64ab99619eacc10f747d5b44950eff0c26828d64a58cb0e9dfb3c5de5ec453",
        "268d95976d9205f58b460b975bcbbb1c554d510434640f506c78fb7a0ac93fa6",
    ),
    "histograms": (
        "d30aede800dcff52ec14e72446a63861f68e85f78b35041e94d1af1c6339c5e6",
        "971f279589a91e909e86eabe4dec9771a80c34b3a6b184f9615bca2a1b2bb79d",
    ),
    "summaries": (
        "9d13642ac9eae5363eaaa2ea8e8b9dcb0e1a588986f1ba95cc8816854aa763d3",
        "7887bd009958a81037dde1a067664a9d60e2b90f09de310e0ef804ede38918b7",
    ),
}

_FIXTURES = {
    "logs": lambda spark: _flat(spark, ROWS),
    "traces": _spans,
    "metrics": _points,
    "exp_histograms": _exps,
    "histograms": _hist_flat,
    "summaries": _summ_flat,
}


@pytest.mark.parametrize("signal", sorted(MARSHAL_DIGESTS))
def test_marshal_bytes_pinned(spark, signal):
    """Every proto message and JSON line of the six fixtures, pinned by
    digest; the traces arm also pins ``trace_proto_sizes``, which must
    stay the marshal byte for byte."""
    import hashlib

    from sparkotel import otlpjson, otlpproto

    df = _FIXTURES[signal](spark)
    msgs = sorted(
        bytes(r["msg"])
        for r in getattr(otlpproto, f"to_otlp_{signal}_proto")(df).collect()
    )
    lines = sorted(
        r["line"] for r in getattr(otlpjson, f"to_otlp_{signal}_json")(df).collect()
    )
    assert (
        hashlib.sha256(b"|".join(msgs)).hexdigest(),
        hashlib.sha256("\n".join(lines).encode()).hexdigest(),
    ) == MARSHAL_DIGESTS[signal]
    if signal == "traces":
        sizes = otlpproto.trace_proto_sizes(df, with_arrival=True).collect()
        assert sorted(tuple(r) for r in sizes) == [
            ("", 52, None),
            ("aa" * 16, 106, 1710500405000000),
            ("ab" * 16, 143, 1710496801000000),
        ]


# AnyValue arms (common.proto): (key, proto arm bytes, JSON value, AsString)
_ANY_ARMS = [
    ("k", b"\x18\x2a", {"intValue": "42"}, "42"),
    ("n", b"\x18" + b"\xf9" + b"\xff" * 8 + b"\x01", {"intValue": "-7"}, "-7"),
    ("t", b"\x10\x01", {"boolValue": True}, "true"),
    ("f", b"\x10\x00", {"boolValue": False}, "false"),
    ("x", b"\x3a\x04\x00\xffhi", {"bytesValue": "AP9oaQ=="}, "AP9oaQ=="),
    ("d", b"\x21" + struct.pack("<d", 1.5), {"doubleValue": 1.5}, "1.5"),
    ("e", b"\x21" + struct.pack("<d", 1e20), {"doubleValue": 1e20}, "1.0E20"),
    ("s", b"\x21" + struct.pack("<d", 1.2345e-5), {"doubleValue": 1.2345e-5}, "1.2345E-5"),
    ("a", b"\x2a\x00", {"arrayValue": {}}, ""),
]


def test_anyvalue_scalar_arms_decode_like_json(spark):
    """Every scalar AnyValue arm decodes to the string the JSON arm's
    pcommon AsString gives: int64 as signed decimal, bool as
    true/false, double as Spark's double-to-string, bytes as base64."""
    import json

    from sparkotel.otlpjson import parse_otlp_logs
    from sparkotel.otlpproto import _dec_kvs

    expected = {k: s for k, _, _, s in _ANY_ARMS}
    kvs = [
        b"\x0a\x01" + k.encode() + b"\x12" + bytes([len(arm)]) + arm
        for k, arm, _, _ in _ANY_ARMS
    ]
    assert _dec_kvs(kvs[:1]) == {"k": "42"}
    assert _dec_kvs(kvs) == expected
    attrs = [{"key": k, "value": v} for k, _, v, _ in _ANY_ARMS]
    line = json.dumps(
        {"resourceLogs": [{"scopeLogs": [{"logRecords": [{"attributes": attrs}]}]}]}
    )
    df = spark.createDataFrame([(line,)], "line string")
    assert parse_otlp_logs(df).first()["attributes"] == expected
