"""Spec-driven runner: end-to-end run, kill/resume, outputs."""

from __future__ import annotations

import os
import re
from urllib.parse import urlparse

from conftest import SF_DIR
from pyspark.sql import functions as F

from sparkotel import ledger as L
from sparkotel import pages as P
from sparkotel.config import PipelineSpec
from sparkotel.operators.aggregate import MetricDef, connector_metric
from sparkotel.otlpjson import parse_otlp_metrics
from sparkotel.registry import _verdict_rounds, build_registry, stalest_first
from sparkotel.runner import run

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "pipeline_m1.json")


def test_spec_roundtrip():
    spec = PipelineSpec.from_json(FIXTURE)
    assert spec.parse.groups[0] == "ip"
    assert [r.sink for r in spec.routes] == ["errors_en", "de", "errors_other"]
    assert spec.metrics["errors_other"][1].conditions == ["nbytes > 4096"]
    assert spec.n_buckets == 8


def test_runner_kill_resume(spark, tmp_path):
    spec = PipelineSpec.from_json(FIXTURE)
    src = P.pages(spark, SF_DIR).drop("html")
    out = str(tmp_path / "out")

    s1 = run(spark, src, spec, out, fail_after=3)
    assert s1 == {"committed": 3, "resumed_from": 0, "complete": False}
    assert len(L.committed_buckets(spark, f"{out}/_ledger", "routed")) == 3

    s2 = run(spark, src, spec, out)
    assert s2["complete"] and s2["resumed_from"] == 3 and s2["committed"] == 5
    assert s2["rows"] == src.count()

    routed = spark.read.parquet(f"{out}/routed")
    assert routed.select("url").distinct().count() == s2["rows"]

    # routes present and disjoint for moves
    routes = {r["route"] for r in routed.select("route").distinct().collect()}
    assert routes == {"errors_en", "errors_other", "other"}

    # metrics: sum of page.count.all over move sinks == rows with a
    # non-null status dim (missing-dim exclusion, counter.go:64-67)
    metrics = spark.read.parquet(f"{out}/metrics")
    total = sum(
        r["value"]
        for r in metrics.filter(
            "metric_name = 'page.count.all' AND sink <> 'de'"
        ).collect()
    )
    assert total == routed.filter("status IS NOT NULL").count()

    # copy-sink metrics counted independently
    de = metrics.filter("sink = 'de' AND metric_name = 'page.count.all'")
    assert sum(r["value"] for r in de.collect()) == routed.filter(
        "geo_country = 'DE'"
    ).count()

    # telemetry: one OTLP metrics request per committed bucket (its
    # resource), read back through the receiver and summed by the count
    # connector; received == routed, errors counted, and the routed
    # totals per bucket are the ledger's rows
    lines = spark.read.text(f"{out}/_telemetry")
    assert lines.count() == spec.n_buckets
    points = parse_otlp_metrics(lines, "value").select(
        F.substring_index("metric_name", ".", -1).alias("count"),
        F.col("resource")["bucket"].cast("int").alias("bucket"),
        "value",
        "ts",
    )
    sums = connector_metric(
        points, MetricDef("sum", (), ("count", "bucket"), {}, "value"), ts_col="ts"
    ).collect()
    tel = {(r["count"], r["bucket"]): r["value"] for r in sums}
    routed_tel = {b: v for (m, b), v in tel.items() if m == "routed"}
    assert len(routed_tel) == spec.n_buckets
    total = {m: sum(v for (mm, _), v in tel.items() if mm == m) for m in ("received", "routed")}
    assert total["received"] == total["routed"] == s2["rows"]
    assert sum(v for (m, _), v in tel.items() if m == "errors") > 0

    # transform statement applied (host_hash only on parsed rows)
    ok = routed.filter("NOT _error").limit(5).collect()
    assert all(len(r["host_hash"]) == 64 for r in ok)

    # the ledger's `rows` is each bucket's own count, as written, and
    # what the telemetry reports
    ledger_rows = {
        r["bucket"]: r["rows"]
        for r in spark.read.schema(L.LEDGER_SCHEMA).parquet(f"{out}/_ledger").collect()
    }
    written = {r["bucket"]: r["count"] for r in routed.groupBy("bucket").count().collect()}
    assert ledger_rows == {b: written.get(b, 0) for b in range(spec.n_buckets)}
    assert {b: int(v) for b, v in routed_tel.items()} == ledger_rows


def _final_plan_scans(desc: str, path: str) -> int:
    """Scans of ``path`` in a physical plan description; under AQE only
    those of its final plan (the initial plan lists each scan again)."""
    tree, _, details = desc.partition("\n\n(")
    ids = re.findall(r"Scan parquet\s+\((\d+)\)", tree.split("== Initial Plan ==")[0])
    blocks = {b.split(")", 1)[0]: b for b in details.split("\n\n(")}
    return sum(f"Location: InMemoryFileIndex [file:{path}]" in blocks.get(i, "") for i in ids)


def test_runner_reads_its_source_once(spark, tmp_path):
    """A complete run scans the input once: the one write job counts
    every bucket as it passes, so no commit, metric or telemetry record
    reads the input again."""
    spec = PipelineSpec.from_json(FIXTURE)
    src = P.pages(spark, SF_DIR).drop("html")
    (path,) = {urlparse(f).path for f in src.inputFiles()}
    store = spark._jsparkSession.sharedState().statusStore()

    def executions() -> list[int]:
        ex = store.executionsList()
        return [ex.apply(i).executionId() for i in range(ex.size())]

    before = set(executions())
    assert run(spark, src, spec, str(tmp_path / "out"))["complete"]
    descs = [
        store.execution(e).get().physicalPlanDescription()
        for e in executions() if e not in before
    ]
    assert sum(_final_plan_scans(d, path) for d in descs) == 1


def test_correctness_window_is_oracle_checked():
    """the driver records the first 50 registry queries, stalest verdict
    first; every one of them carries a DuckDB oracle, so each records a
    hash-checked row."""
    reg = build_registry()
    assert list(reg) == stalest_first(list(reg), _verdict_rounds())
    window = list(reg)[:50]
    assert len(window) == 50
    assert [n for n in window if reg[n].oracle is None] == []


def test_stalest_first_order():
    """queries never green sort first, then by the newest round each was
    green in; a row with any mismatch or an error is not green; ties and
    an empty verdict list keep the given order."""
    ok = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    rounds = [
        {"a": ok, "b": ok, "c": ok, "d": ok},
        {"b": ok, "c": {**ok, "hash_match": False}, "d": {**ok, "err": "boom"}},
        {"a": ok, "e": {**ok, "rows_match": False}, "f": {**ok, "schema_match": False}},
    ]
    names = ["a", "b", "c", "d", "e", "f", "g"]
    assert stalest_first(names, rounds) == ["e", "f", "g", "c", "d", "b", "a"]
    assert stalest_first(names, []) == names
