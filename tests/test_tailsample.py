"""Tail-sampling policy-vote semantics vs the reference evaluators
(processor/tailsamplingprocessor/internal/sampling/*.go, processor.go
makeDecision precedence)."""

from __future__ import annotations

from datetime import datetime, timedelta

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_DIR

from sparkotel import pages as P
from sparkotel import registry as R
from sparkotel.operators.tailsample import (
    DEFAULT_HASH_SALT,
    TailPolicy,
    fnv64_trace_sampled,
    probabilistic_threshold,
    sampled_spans,
    tail_sample,
)
from sparkotel.parity import duck_rows, spark_rows

T0 = datetime(2024, 1, 1, 0, 0, 0)


def _spans(spark, rows):
    """rows: (trace_id, span_id, start_offset_s, dur_ms, status, event_type, k)"""
    data = [
        (t, sid, T0 + timedelta(seconds=off), T0 + timedelta(seconds=off, milliseconds=dur), st, et, k)
        for (t, sid, off, dur, st, et, k) in rows
    ]
    return spark.createDataFrame(
        data,
        "trace_id string, span_id long, start_ts timestamp, end_ts timestamp, "
        "status_code int, event_type string, k long",
    )


def _dec(df):
    return {r["trace_id"]: (r["final_decision"], r["policy"]) for r in df.collect()}


def test_precedence_drop_beats_sampled(spark):
    # trace A matches both the drop policy and the sampled policy → dropped
    # (processor.go:821-825: Dropped takes precedence)
    spans = _spans(
        spark,
        [
            ("A", 1, 0, 1000, 2, "error", 1),
            ("B", 2, 0, 1000, 2, "error", 99),
            ("C", 3, 0, 1000, 0, "view", 99),
        ],
    )
    pol = [
        TailPolicy("errs", "status_code", status_codes=(2,)),
        TailPolicy(
            "drop-tiny",
            "drop",
            sub=(TailPolicy("tiny", "numeric_attribute", key="k", min_value=0, max_value=4),),
        ),
    ]
    d = _dec(tail_sample(spans, pol))
    assert d["A"] == ("dropped", "drop-tiny")
    assert d["B"] == ("sampled", "errs")
    assert d["C"] == ("not_sampled", None)


def test_first_policy_attribution(spark):
    # both policies sample trace A; the FIRST in config order is recorded
    # (processor.go:805-808)
    spans = _spans(spark, [("A", 1, 0, 5000, 2, "error", 9)])
    pol = [
        TailPolicy("slow", "latency", threshold_ms=1000),
        TailPolicy("errs", "status_code", status_codes=(2,)),
    ]
    d = _dec(tail_sample(spans, pol))
    assert d["A"] == ("sampled", "slow")


def test_string_attribute_invert_and_empty_values(spark):
    # invert: sample iff NO span matches; empty-string config values never
    # match (string_tag_filter.go:62-66)
    spans = _spans(
        spark,
        [
            ("A", 1, 0, 10, 0, "signup", 9),
            ("A", 2, 1, 10, 0, "view", 9),
            ("B", 3, 0, 10, 0, "view", 9),
            ("C", 4, 0, 10, 0, "", 9),
        ],
    )
    pol = [
        TailPolicy("no-signup", "string_attribute", key="event_type", values=("signup", ""), invert_match=True)
    ]
    d = _dec(tail_sample(spans, pol))
    assert d["A"][0] == "not_sampled"
    assert d["B"][0] == "sampled"
    assert d["C"][0] == "sampled"  # "" in values never matches


def test_and_not_wrappers(spark):
    spans = _spans(
        spark,
        [
            ("A", 1, 0, 10, 1, "purchase", 9),
            ("A", 2, 1, 10, 0, "view", 9),
            ("B", 3, 0, 10, 1, "purchase", 9),
        ],
    )
    pol = [
        TailPolicy(
            "buyers-multi",
            "and",
            sub=(
                TailPolicy("bought", "string_attribute", key="event_type", values=("purchase",)),
                TailPolicy("multi", "span_count", min_spans=2),
            ),
        ),
        TailPolicy(
            "not-purchase",
            "not",
            sub=(TailPolicy("p", "string_attribute", key="event_type", values=("purchase",)),),
        ),
    ]
    d = _dec(tail_sample(spans, pol))
    assert d["A"] == ("sampled", "buyers-multi")  # and: both subs sampled
    # B: and fails (1 span); not(purchase-match) = NotSampled
    assert d["B"][0] == "not_sampled"


def test_span_count_bounds(spark):
    spans = _spans(
        spark,
        [("A", i, i, 10, 0, "view", 9) for i in range(5)]
        + [("B", 10 + i, i, 10, 0, "view", 9) for i in range(2)]
        + [("C", 20, 0, 10, 0, "view", 9)],
    )
    pol = [TailPolicy("mid", "span_count", min_spans=2, max_spans=4)]
    d = _dec(tail_sample(spans, pol))
    assert d["A"][0] == "not_sampled"  # 5 > max
    assert d["B"][0] == "sampled"
    assert d["C"][0] == "not_sampled"


def test_latency_upper_threshold_prefix(spark):
    # latency.go:34-52: running scan in ingestion order; Sampled iff ANY
    # prefix has lower < dur ≤ upper — even when the FULL trace exceeds upper.
    spans = _spans(
        spark,
        [
            ("A", 1, 0, 3000, 0, "view", 9),    # prefix dur 3000ms ∈ (1000, 5000]
            ("A", 2, 10, 600000, 0, "view", 9), # full trace far beyond upper
            ("B", 1, 0, 500, 0, "view", 9),     # 500 ≤ lower → never in range
        ],
    )
    pol = [TailPolicy("band", "latency", threshold_ms=1000, upper_threshold_ms=5000)]
    d = _dec(tail_sample(spans, pol))
    assert d["A"][0] == "sampled"
    assert d["B"][0] == "not_sampled"
    # whole-trace-only evaluation would say A is not_sampled — guard that the
    # prefix semantics is what we implement
    pol2 = [TailPolicy("lower", "latency", threshold_ms=700000)]
    assert _dec(tail_sample(spans, pol2))["A"][0] == "not_sampled"


def test_probabilistic_exact_fnv(spark):
    # bit-exact vs the Python reference implementation of
    # FNV-1a-64(salt ‖ trace bytes) ≤ floor((2^64-1)·pct) (probabilistic.go)
    import hashlib

    from sparkotel.functions.exacthash import fnv1a_64

    tids = [hashlib.md5(f"t{i}".encode()).hexdigest() for i in range(200)]
    rows = [(t, i, 0, 10, 0, "view", 9) for i, t in enumerate(tids)]
    spans = _spans(spark, rows)
    pol = [TailPolicy("prob", "probabilistic", sampling_percentage=25.0)]
    d = _dec(tail_sample(spans, pol))
    thr = probabilistic_threshold(25.0)
    salt = DEFAULT_HASH_SALT.encode()
    for t in tids:
        want = "sampled" if fnv1a_64(salt + bytes.fromhex(t)) <= thr else "not_sampled"
        assert d[t][0] == want
    n = sum(1 for t in tids if d[t][0] == "sampled")
    assert 30 <= n <= 70  # ~25% of 200


def test_threshold_matches_go_bigfloat():
    # Go: floor(bigfloat(2^64-1) * ratio) for binary-exact ratios
    assert probabilistic_threshold(25.0) == (2**64 - 1) // 4
    assert probabilistic_threshold(50.0) == (2**64 - 1) // 2
    assert probabilistic_threshold(100.0) == 2**64 - 1
    assert probabilistic_threshold(0.0) == 0


def test_sampled_spans_semi_join(spark):
    spans = _spans(
        spark,
        [("A", 1, 0, 10, 2, "error", 9), ("A", 2, 1, 10, 0, "view", 9), ("B", 3, 0, 10, 0, "view", 9)],
    )
    dec = tail_sample(spans, [TailPolicy("errs", "status_code", status_codes=(2,))])
    out = sampled_spans(spans, dec)
    got = sorted((r["trace_id"], r["span_id"]) for r in out.collect())
    assert got == [("A", 1), ("A", 2)]  # whole trace released, B withheld


def test_span_k_matches_duck_twin_on_degenerate_props(spark, tmp_path):
    """The registry's span fixture reads ``k`` from the event's JSON
    props: NULL, empty, malformed, non-integer and array props give a
    NULL ``k`` on both engines instead of a cast or JSON error."""
    props = [None, "", "not json", '{"k": true}', "[1,2]", '{"k": 3}', '{"k": "7"}']
    ev = pq.read_table(f"{SF_DIR}/events.parquet").slice(0, len(props))
    ev = ev.set_column(ev.schema.get_field_index("props"), "props", pa.array(props, pa.string()))
    path = str(tmp_path / "events.parquet")
    pq.write_table(ev, path)
    try:
        got = spark_rows(R._spans(spark, str(tmp_path)).select("span_id", "k"))
    finally:
        P.load_tables(spark, SF_DIR, ["events"])
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{path}'")
    assert got == duck_rows(con, f"WITH {R._SPANS_SQL} SELECT span_id, k FROM spans")
    ids = ev.column("event_id").to_pylist()
    assert {sid: k for k, sid in got} == dict(zip(ids, [None] * 5 + [3, 7]))
