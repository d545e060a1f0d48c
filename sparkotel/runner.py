"""Spec-driven pipeline runner — the spark-submit entry point's core.

Composes the whole parse → enrich → filter/transform → route → sink
(+metrics, +lineage) job from a PipelineSpec, with ledger-based
resumability: buckets already committed by a previous (killed) run are
skipped, sink writes are idempotent per bucket.

Usage (cluster):
    spark-submit --py-files sparkotel.zip jobs/run_pipeline.py \
        --spec tests/fixtures/pipeline_m1.json \
        --input /data/pages --output /data/out

Each pending bucket is one write job (scan → codegen'd parse/enrich
projections → broadcast joins → first-match route → bucket filter) into
the bucket+route-partitioned sink, and its row count is observed on
that write, so committing it runs no second job.  The bucket is a hash
of the url, which the scan cannot prune on, so a run with n pending
buckets reads the input n + 1 times: once per bucket, and once more
for the lineage ``source`` row (``L.stage_metrics``).  Aggregates
re-read the pruned columns of the materialized sink table.
"""

from __future__ import annotations

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


def run(
    spark: SparkSession,
    src: DataFrame,
    spec: PipelineSpec,
    output: str,
    resume: bool = True,
    fail_after: int | None = None,
) -> dict:
    """Execute the pipeline with ledger resumability.

    Writes:
      {output}/routed/            bucket+route-partitioned records
      {output}/metrics/           per-sink count/sum-connector tables
      {output}/lineage/           stage metrics (obsreport analogue)
      {output}/_ledger/           commit log
    Returns summary counts.
    """
    routed = build_routed(spark, src, spec)
    ledger_path = f"{output}/_ledger"

    routed = L.with_bucket(routed, key="url", n_buckets=spec.n_buckets)
    done = L.committed_buckets(spark, ledger_path, "routed") if resume else set()
    todo = [b for b in range(spec.n_buckets) if b not in done]
    committed = 0
    for b in todo:
        obs = Observation()
        part = routed.filter(F.col("bucket") == b).observe(obs, F.count(F.lit(1)).alias("rows"))
        (
            part.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket", "route")
            .parquet(f"{output}/routed")
        )
        L.commit_bucket(spark, ledger_path, b, "routed", obs.get["rows"])
        committed += 1
        if fail_after is not None and committed >= fail_after:
            return {"committed": committed, "resumed_from": len(done), "complete": False}

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

    lineage = L.stage_metrics({"source": src, "routed": back})
    lineage.write.mode("overwrite").parquet(f"{output}/lineage")
    return {
        "committed": committed,
        "resumed_from": len(done),
        "complete": True,
        "rows": back.count(),
    }
