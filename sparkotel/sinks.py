"""Sinks — fileexporter-style partitioned, idempotent writes.

Reference semantics:
- fileexporter ``group_by``: one output stream per resource-attribute
  value (exporter/fileexporter/grouping_file_exporter.go, path template
  with ``*`` — config.go:70-116) → ``partitionBy(group_col)``.
- batchperresourceattr: split batches single-valued on an attr before
  export (pkg/batchperresourceattr/batchperresourceattr.go:213-234) →
  ``repartition(col)`` before the write.
- awss3exporter partitioned layout → directory partitioning.

Idempotence: dynamic partition overwrite (``partitionOverwriteMode=
dynamic``) so a re-run of a partition replaces exactly its own files —
the Iceberg ``overwrite`` analogue parquet supports locally.  This is
what makes the ledger-driven restart (sparkotel.ledger) exactly-once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_sink(
    df: DataFrame,
    path: str,
    group_by: str | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
    repartition_on_group: bool = False,
    compression: str | None = None,
) -> None:
    """Write one routed sink, optionally fileexporter-grouped.

    ``compression`` mirrors fileexporter's zstd option
    (exporter/fileexporter/config.go `compression: zstd`) — parquet
    accepts zstd/snappy/gzip, json/text gzip etc.; None keeps the
    format default (snappy for parquet)."""
    writer = df
    if group_by and repartition_on_group:
        writer = df.repartition(group_by)
    w = writer.write.mode(mode).option("partitionOverwriteMode", "dynamic")
    if compression:
        w = w.option("compression", compression)
    if group_by:
        w = w.partitionBy(group_by)
    w.format(fmt).save(path)
