"""Spec-driven runner: end-to-end run, kill/resume, outputs."""

from __future__ import annotations

import os
from dataclasses import replace
from urllib.parse import urlparse

from conftest import SF_DIR

from sparkotel import ledger as L
from sparkotel import pages as P
from sparkotel.config import PipelineSpec
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

    # lineage table: per-partition rows for the routed stage (north
    # rule: per-partition lineage), one global row for the source
    lin = spark.read.parquet(f"{out}/lineage").collect()
    routed_rows = [r for r in lin if r["stage"] == "routed"]
    src_rows = [r for r in lin if r["stage"] == "source"]
    assert len(routed_rows) == spec.n_buckets
    assert sum(r["rows"] for r in routed_rows) == sum(r["rows"] for r in src_rows)
    assert sum(r["errors"] for r in routed_rows) > 0

    # transform statement applied (host_hash only on parsed rows)
    ok = routed.filter("NOT _error").limit(5).collect()
    assert all(len(r["host_hash"]) == 64 for r in ok)

    # the ledger's `rows` is each bucket's own count, as written
    ledger_rows = {
        r["bucket"]: r["rows"]
        for r in spark.read.schema(L.LEDGER_SCHEMA).parquet(f"{out}/_ledger").collect()
    }
    written = {r["bucket"]: r["count"] for r in routed.groupBy("bucket").count().collect()}
    assert ledger_rows == {b: written.get(b, 0) for b in range(spec.n_buckets)}


def test_runner_never_counts_its_source(spark, tmp_path, monkeypatch):
    """Each bucket's ledger rows come from its own write: every frame
    the runner counts reads files it wrote, never the input pages."""
    spec = replace(PipelineSpec.from_json(FIXTURE), n_buckets=2)
    src = P.pages(spark, SF_DIR).drop("html")
    out = str(tmp_path / "out")
    cls = type(src)
    counted = []
    real_count = cls.count

    def spy(df):
        counted.append(df.inputFiles())
        return real_count(df)

    monkeypatch.setattr(cls, "count", spy)
    assert run(spark, src, spec, out)["complete"]
    monkeypatch.undo()

    files = [urlparse(f).path for fs in counted for f in fs]
    assert files and all(f.startswith(out + "/") for f in files), files


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
