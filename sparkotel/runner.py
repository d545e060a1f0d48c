"""Spec-driven pipeline runner — the spark-submit entry point's core.

Composes the whole parse → enrich → filter/transform → route → sink
(+metrics, +telemetry) job from a PipelineSpec, with ledger-based
resumability: buckets already committed by a previous (killed) run are
skipped, sink writes are idempotent per bucket.

Usage (cluster):
    spark-submit --py-files sparkotel.zip jobs/run_pipeline.py \
        --spec tests/fixtures/pipeline_m1.json \
        --input /data/pages --output /data/out

A run reads its input once: ONE write job (scan → bucket filter →
codegen'd parse/enrich projections → broadcast joins → first-match
route) writes every pending bucket into the bucket+route-partitioned
sink with dynamic overwrite.  Two observations on that job count each
bucket's records where they pass: received before the pipeline, and
routed, ``_error`` and per-route rows after it.  Each bucket then
commits those rows to the ledger, and its counts go to
``{output}/_telemetry/`` as one OTLP metrics request (the obsreport
analogue, adapter/receiver.go:55-66).  Aggregates re-read the pruned
columns of the materialized sink table.

Trade-off: a kill during the job loses all of its buckets, where a job
per bucket lost one.  As with the reference fileconsumer's per-file
checkpoint, a bucket commits only after its write, and a bucket written
but not committed is rewritten by the next run.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from sparkotel import ledger as L
from sparkotel import pages as P
from sparkotel.config import PipelineSpec
from sparkotel.expr import apply_statements, compile_condition
from sparkotel.operators import enrich as E
from sparkotel.operators import parse as PR
from sparkotel.operators.aggregate import MetricDef, connector_metric
from sparkotel.operators.filter import filter_drop
from sparkotel.operators.route import Route, assign_routes
from sparkotel.otlpjson import to_otlp_metrics_json
from sparkotel.otlpproto import METRICS_FLAT_DDL
from sparkotel.session import local_frame


def _lookup_table(spark: SparkSession, name: str) -> DataFrame:
    if name == "geo_by_ip":
        return P.geo_table(spark)
    if name == "lang_names":
        return P.lang_table(spark)
    return spark.read.parquet(name)


def build_routed(spark: SparkSession, src: DataFrame, spec: PipelineSpec) -> DataFrame:
    """source → routed, fully lazy."""
    df = PR.regex_parser(
        src, spec.parse.pattern, spec.parse.groups, "text", spec.parse.on_error
    )
    for f_ in spec.parse.int_fields:
        df = E.attr_convert(df, f_, "bigint" if f_ == "nbytes" else "int")
    if spec.parse.time_from:
        df = df.withColumn("_ts_naive", F.substring_index(F.col(spec.parse.time_from), " ", 1))
        df = PR.time_parser(df, "_ts_naive", spec.parse.time_layout, to="log_ts").drop("_ts_naive")
    if spec.parse.severity_from:
        df = PR.severity_parser(
            df, spec.parse.severity_from, [tuple(m) for m in spec.parse.severity_mapping]
        )
    for lk in spec.lookups:
        df = E.lookup_enrich(
            df, _lookup_table(spark, lk.table), lk.key, lk.lookup_key, defaults=lk.defaults
        )
    if spec.filters:
        df = filter_drop(df, spec.filters)
    if spec.transform_statements:
        df = apply_statements(df, spec.transform_statements)
    routes = [Route(r.condition, r.sink, r.mode) for r in spec.routes]
    return assign_routes(df, routes, spec.default_sink)


def _telemetry_rows(buckets, received: dict, routed: dict, routes: list[str], t0, t1):
    """Each bucket's counts from the write's two observations as flat
    NUMBER-point rows (``otlpjson.parse_otlp_metrics`` shape), one delta
    sum per count; each bucket is its own resource."""
    for b in buckets:
        res = {"service.name": "sparkotel.runner", "bucket": str(b)}
        n_in = received[f"{b}.received"]
        points = [("received", {}, n_in), ("errors", {}, routed[f"{b}.errors"]),
                  ("dropped", {}, n_in - routed[f"{b}.rows"])]
        points += [("routed", {"route": r}, routed[f"{b}.route.{r}"]) for r in routes]
        for name, attrs, v in points:
            yield (f"sparkotel.runner.{name}", "{record}", "sum", 1, True,
                   t0, t1, float(v), attrs, res, "sparkotel.runner")


def run(
    spark: SparkSession,
    src: DataFrame,
    spec: PipelineSpec,
    output: str,
    resume: bool = True,
    fail_after: int | None = None,
) -> dict:
    """Execute the pipeline with ledger resumability.

    ``fail_after`` is the kill hook: commit at most that many of the
    written buckets, then return as a killed run would.

    Writes:
      {output}/routed/            bucket+route-partitioned records
      {output}/metrics/           per-sink count/sum-connector tables
      {output}/_telemetry/        per-bucket OTLP/JSON record counts
      {output}/_ledger/           commit log
    Returns summary counts.
    """
    ledger_path = f"{output}/_ledger"
    done = L.committed_buckets(spark, ledger_path, "routed") if resume else {}
    todo = [b for b in range(spec.n_buckets) if b not in done]
    # the values the route column takes: move sinks, then the default
    moves = [r.sink for r in spec.routes if r.mode == "move"]
    routes = list(dict.fromkeys(moves + [spec.default_sink]))
    new: dict[int, int] = {}
    if todo:
        t0 = datetime.now(timezone.utc)  # UTC wall time, as timestamp_ntz holds it
        on_b = {b: F.col("bucket") == b for b in todo}
        received = [F.count_if(c).alias(f"{b}.received") for b, c in on_b.items()]
        passed = {}
        for b, c in on_b.items():
            passed[f"{b}.rows"] = c
            passed[f"{b}.errors"] = c & F.col("_error")
            passed.update({f"{b}.route.{r}": c & (F.col("route") == r) for r in routes})
        obs_in, obs_out = Observation(), Observation()
        pending = L.with_bucket(src, "url", spec.n_buckets).filter(F.col("bucket").isin(todo))
        routed = build_routed(spark, pending.observe(obs_in, *received), spec).observe(
            obs_out, *[F.count_if(c).alias(k) for k, c in passed.items()]
        )
        (
            routed.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket", "route")
            .parquet(f"{output}/routed")
        )
        commit, got = todo[:fail_after], obs_out.get
        new = {b: got[f"{b}.rows"] for b in commit}
        L.commit_buckets(spark, ledger_path, "routed", new)
        rows = _telemetry_rows(commit, obs_in.get, got, routes, t0, datetime.now(timezone.utc))
        # one partition: the marshal's three groupBys then need no shuffle
        telemetry = local_frame(spark, list(rows), METRICS_FLAT_DDL).coalesce(1)
        to_otlp_metrics_json(telemetry).write.mode("append").text(f"{output}/_telemetry")
    if fail_after is not None:
        return {"committed": len(new), "resumed_from": len(done), "complete": False}

    back = spark.read.parquet(f"{output}/routed")
    # copy-mode routes see the full stream (plogutil copy semantics)
    copy_conds = {r.sink: r.condition for r in spec.routes if r.mode == "copy"}
    metric_frames = []
    for sink, defs in spec.metrics.items():
        if sink in copy_conds:
            sdf = back.filter(compile_condition(back, copy_conds[sink]))
        else:
            sdf = back.filter(F.col("route") == sink)
        for m in defs:
            metric_frames.append(
                connector_metric(
                    sdf,
                    MetricDef(m.name, tuple(m.conditions), tuple(m.dims), m.defaults, m.sum_attr),
                ).withColumn("sink", F.lit(sink))
            )
    if metric_frames:
        u = metric_frames[0]
        for a in metric_frames[1:]:
            u = u.unionByName(a, allowMissingColumns=True)
        u.write.mode("overwrite").parquet(f"{output}/metrics")

    return {
        "committed": len(new),
        "resumed_from": len(done),
        "complete": True,
        "rows": sum({**done, **new}.values()),
    }
