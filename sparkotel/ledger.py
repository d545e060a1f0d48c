"""Commit ledger — checkpoint-based resumability for batch runs.

Mirrors the reference's persistence contract: stanza operators persist
offsets through a scoped Persister (pkg/stanza/operator/persister.go,
pipeline/directed.go:54-68) and the fileconsumer restores reader
offsets on start so a restart continues where it stopped without
re-emitting committed data (fileconsumer/design.md:84-96, 180-207).

Batch-Spark design (SURVEY §7.4):
- the input is split into P deterministic buckets:
  ``bucket = pmod(xxhash64(url), P)`` — stable across runs and cluster
  sizes (the fingerprint analogue);
- after a bucket's sink write commits, one ledger row
  ``(bucket, stage, rows, ts)`` is appended (parquet append — each
  commit is its own file, so a crash mid-append leaves either a
  complete row-group or nothing); ``runner.run`` is the loop that
  writes one bucket per job and commits the row count it observed on
  that write;
- on restart, committed buckets are read back and only the remaining
  buckets are written;
- sink writes are idempotent per bucket (dynamic partition overwrite on
  the bucket column), so a bucket killed mid-write is safely rewritten.

Lineage/metrics: ``stage_metrics`` records rows in/out/errors per stage
per bucket — the obsreport analogue (adapter/receiver.go:55-66).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkotel.session import local_frame

LEDGER_SCHEMA = "bucket INT, stage STRING, rows BIGINT, committed_at DOUBLE"


def with_file_attrs(df: DataFrame, include_offset: bool = True) -> DataFrame:
    """fileconsumer resolved attributes
    (pkg/stanza/fileconsumer/attrs/attrs.go): ``log.file.path`` /
    ``log.file.name`` from the scan's actual file, plus a per-record
    offset.  All native: ``input_file_name()`` is free at the scan;
    the offset is ``monotonically_increasing_id`` — unique and ordered
    within a file-partition but intentionally NOT dense (a dense rank
    would force a global sort; the reference's byte offset is likewise
    only monotone per file).

    Apply DIRECTLY over the scan: ``input_file_name()`` evaluates empty
    once a limit/exchange boundary separates it from the file source."""
    df = df.withColumn("log_file_path", F.input_file_name()).withColumn(
        "log_file_name", F.element_at(F.split(F.input_file_name(), "/"), -1)
    )
    if include_offset:
        df = df.withColumn("record_offset", F.monotonically_increasing_id())
    return df


def with_bucket(df: DataFrame, key: str = "url", n_buckets: int = 16) -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int"))


def committed_buckets(spark: SparkSession, ledger_path: str, stage: str) -> set[int]:
    if not os.path.exists(ledger_path):
        return set()
    df = spark.read.schema(LEDGER_SCHEMA).parquet(ledger_path)
    return {
        r["bucket"] for r in df.filter(F.col("stage") == stage).select("bucket").distinct().collect()
    }


def commit_bucket(
    spark: SparkSession, ledger_path: str, bucket: int, stage: str, rows: int
) -> None:
    local_frame(
        spark, [(bucket, stage, rows, time.time())], LEDGER_SCHEMA
    ).coalesce(1).write.mode("append").parquet(ledger_path)


def stage_metrics(frames: dict[str, DataFrame]) -> DataFrame:
    """Lineage table: rows in/out/``_error`` rows per stage and partition
    bucket (the obsreport analogue, per-partition as the north rule
    requires; frames lacking a bucket column report as bucket -1)."""
    out = None
    for stage, df in frames.items():
        has_err = "_error" in df.columns
        if "bucket" in df.columns:
            grouped = df.groupBy(F.col("bucket"))
        else:
            grouped = df.groupBy(F.lit(-1).alias("bucket"))
        m = grouped.agg(
            F.count(F.lit(1)).alias("rows"),
            (
                F.sum(F.col("_error").cast("int")) if has_err else F.lit(0)
            ).alias("errors"),
        ).withColumn("stage", F.lit(stage))
        out = m if out is None else out.unionByName(m)
    return out.select("stage", "bucket", "rows", "errors")
