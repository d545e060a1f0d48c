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
- ``runner.run`` writes every pending bucket in one job and then
  appends one ledger row ``(bucket, stage, rows, ts)`` per bucket, all
  in one parquet file (``commit_buckets``): a crash mid-append leaves
  either the whole file or nothing; ``rows`` is the count observed on
  the write, so committing reads nothing back;
- on restart, committed buckets are read back (``committed_buckets``)
  and only the remaining buckets are written;
- sink writes are idempotent per bucket (dynamic partition overwrite on
  the bucket column), so a bucket written but not committed is safely
  rewritten.

The per-bucket counts the reference's obsreport keeps (accepted,
refused, dropped — adapter/receiver.go:55-66) are the runner's OTLP
telemetry records, not a table here.
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


def committed_buckets(spark: SparkSession, ledger_path: str, stage: str) -> dict[int, int]:
    """``{bucket: rows}`` of the stage's committed buckets; a bucket
    committed more than once (a run without resume) keeps its newest row."""
    if not os.path.exists(ledger_path):
        return {}
    rows = (
        spark.read.schema(LEDGER_SCHEMA).parquet(ledger_path)
        .filter(F.col("stage") == stage)
        .select("bucket", "rows", "committed_at")
        .collect()
    )
    return {r["bucket"]: r["rows"] for r in sorted(rows, key=lambda r: r["committed_at"])}


def commit_buckets(spark: SparkSession, ledger_path: str, stage: str, rows: dict[int, int]) -> None:
    """One ledger row per ``{bucket: rows}`` entry, appended as one file."""
    now = time.time()
    local_frame(
        spark, [(b, stage, n, now) for b, n in rows.items()], LEDGER_SCHEMA
    ).coalesce(1).write.mode("append").parquet(ledger_path)
