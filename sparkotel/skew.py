"""Skew handling — heavy-hitter detection + salted repartitioning.

The pages host distribution is deliberately Zipf-ish (top 3 hosts own
~50% of rows).  At 10^12 rows, any shuffle keyed by ``host`` — the
per-host aggregates, a host-keyed enrichment — turns those hosts into
straggler partitions.  Two layers of defense:

1. AQE skew-join splitting (spark.sql.adaptive.skewJoin.enabled, on in
   sparkotel.session) handles join-side skew at runtime;
2. for groupBys, explicit salting: detect heavy hitters with a cheap
   pre-aggregate (itself map-side combined, so the skew never
   materializes), then aggregate heavy keys in two phases —
   (host, salt) partial → host final — while light keys aggregate
   directly.  This is the standard two-level combine; the partial pass
   bounds any single reducer's input at ~rows/salt_buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def heavy_hitters_frame(
    df: DataFrame, key: str, threshold_fraction: float = 0.05
) -> DataFrame:
    """Keys owning more than ``threshold_fraction`` of rows, as a frame.

    SINGLE pass over the input: one map-side-combined groupBy; the grand
    total comes from a two-level aggregate over the per-key counts — a
    map-side-combined ``agg(sum)`` down to ONE row, broadcast cross-joined
    back — never an unpartitioned window.  (The window form would funnel
    the whole per-key frame into one task: harmless for grouping keys
    like ``host``, a silent single-partition sort for a near-unique key
    passed by a future caller.)
    """
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("count"))
    total = counts.agg(F.sum("count").alias("_total"))
    return (
        counts.join(F.broadcast(total))
        .filter(F.col("count") > F.col("_total") * threshold_fraction)
        .drop("_total")
    )


def heavy_hitters(
    df: DataFrame, key: str, threshold_fraction: float = 0.05, max_keys: int = 256
) -> list:
    """Keys owning more than ``threshold_fraction`` of rows.

    The collect is bounded: at most ``max_keys`` (by construction at
    most 1/threshold_fraction keys can exceed the threshold, but the cap
    guards miscalibrated thresholds)."""
    hh = heavy_hitters_frame(df, key, threshold_fraction)
    return [
        r[key] for r in hh.orderBy(F.desc("count")).limit(max_keys).collect()
    ]


def add_salt(df: DataFrame, key: str, heavy: list, n_salt: int = 16, salt_col: str = "_salt") -> DataFrame:
    """salt = xxhash64(url) mod n for heavy keys, 0 for light keys."""
    is_heavy = F.col(key).isin(heavy) if heavy else F.lit(False)
    return df.withColumn(
        salt_col,
        F.when(is_heavy, F.pmod(F.xxhash64(F.col("url")), F.lit(n_salt)).cast("int")).otherwise(
            F.lit(0)
        ),
    )


def salted_count(df: DataFrame, key: str, heavy: list | None = None, n_salt: int = 16) -> DataFrame:
    """Two-phase skew-safe count by ``key`` (same result as a direct
    groupBy().count(), different physical plan)."""
    if heavy is None:
        heavy = heavy_hitters(df, key)
    salted = add_salt(df, key, heavy, n_salt)
    partial = salted.groupBy(key, "_salt").agg(F.count(F.lit(1)).alias("_partial"))
    return partial.groupBy(key).agg(F.sum("_partial").alias("count"))
