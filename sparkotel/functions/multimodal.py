"""Multimodal columns — binary payloads with typed metadata.

Images/audio/video are opaque ``binary`` columns.  The Spark-side
plumbing (schema, Arrow batch shape, mapInPandas partitioning) is real
and tested; the actual codec step is STUBBED (this container has no
image/audio libraries): ``decode_stub`` raises ``NotImplementedError``
for real formats and produces a deterministic fake feature vector for
the synthetic payloads, so the pipeline shape can be exercised
end-to-end.

At scale: mapInPandas streams Arrow batches through the Python worker —
the binary column is pruned everywhere else, and batch size is bounded
by spark.sql.execution.arrow.maxRecordsPerBatch, so executor memory
stays flat regardless of blob sizes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAGIC = {
    b"\x89PNG": "png",
    b"\xff\xd8\xff": "jpeg",
    b"GIF8": "gif",
    b"RIFF": "riff",
    b"<htm": "html",
    b"<HTM": "html",
    b"<!DO": "html",  # doctype-prefixed pages (pages.html_body_expr)
}

FEATURE_DIM = 4
FEATURE_SCHEMA = "url string, media_type string, n_bytes bigint, features array<double>"


def sniff_media_type(df: DataFrame, bin_col: str = "html", out: str = "media_type") -> DataFrame:
    """magic-byte detection as a native expression (no UDF).

    Compares hex of the binary prefix (a binary→string cast would mangle
    non-UTF-8 magic bytes like \\x89PNG)."""
    expr = None
    for magic, name in MAGIC.items():
        cond = F.hex(F.substring(F.col(bin_col), 1, len(magic))) == magic.hex().upper()
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return df.withColumn(out, expr.otherwise(F.lit("unknown")))


def decode_stub(payload: bytes, media_type: str) -> list[float]:
    """STUB codec.  Real decode (PIL/ffmpeg) is not available in this
    container; synthetic/html payloads get a deterministic fake feature
    (byte-prefix statistics) so tests exercise the full data path."""
    if media_type in ("png", "jpeg", "gif", "riff"):
        raise NotImplementedError(
            f"real {media_type} decoding requires imaging libraries not present here"
        )
    n = len(payload)
    prefix = payload[:64]
    return [
        float(n),
        float(sum(prefix) % 997),
        float(prefix[0]) if n else 0.0,
        float(prefix[-1]) if n else 0.0,
    ]


def extract_features(df: DataFrame, bin_col: str = "html", url_col: str = "url") -> DataFrame:
    """mapInPandas feature extraction — Arrow-batched, never per-row
    Python at the Spark API level; the batch loop is pandas-side."""
    df = sniff_media_type(df.select(url_col, bin_col), bin_col)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = pd.DataFrame(
                {
                    "url": pdf[url_col],
                    "media_type": pdf["media_type"],
                    # NULL payloads pass through as NULL rows (a crawl
                    # table always has some) instead of crashing on len()
                    "n_bytes": pdf[bin_col].map(
                        lambda p: None if p is None else len(p)
                    ),
                    "features": [
                        None if p is None else decode_stub(bytes(p), m)
                        for p, m in zip(pdf[bin_col], pdf["media_type"])
                    ],
                }
            )
            yield out

    return df.mapInPandas(batches, FEATURE_SCHEMA)


def frame_sample_plan(df: DataFrame, bin_col: str = "video", every_n: int = 30) -> DataFrame:
    """video frame-sampling plumbing: one row per sampled frame index.
    The decode is stubbed; the explode/partition shape is the real
    thing a frame-sampling pipeline needs."""
    n_frames = (F.length(F.col(bin_col)) / 1024).cast("int")  # fake frame count
    # a frameless video emits NO rows (image_patch_plan's guard) — not a
    # phantom frame 0
    idx = F.when(
        n_frames > 0, F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))
    ).otherwise(F.array().cast("array<int>"))
    return df.withColumn("frame_idx", F.explode(idx))


def image_patch_plan(
    df: DataFrame,
    width_col: str = "width",
    height_col: str = "height",
    patch: int = 16,
) -> DataFrame:
    """ViT-style image patching plumbing: one row per (patch_idx, px,
    py) over a ceil-divided patch grid.  The decode/resize is the
    documented stub (no imaging libs here); the grid arithmetic,
    explode shape, and per-image row fan-out are the real pipeline
    parts — a 224x224 image at patch 16 emits 196 rows.

    Pure generator (scan → explode → sink at 100 TB, no shuffle).
    """
    nx = F.ceil(F.col(width_col) / F.lit(patch)).cast("int")
    ny = F.ceil(F.col(height_col) / F.lit(patch)).cast("int")
    n = (nx * ny).cast("int")
    # zero-area images (width or height 0) emit NO patch rows — same
    # guard shape as audio_window_plan's n_win==0 arm; without it
    # sequence(0, greatest(n-1, 0)) fabricates a phantom patch_idx=0
    # with NULL px/py (mod/div by nx=0).
    idx = F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    out = df.withColumn("_nx", nx).withColumn(
        "patch_idx", F.explode(idx)
    )
    return (
        out.withColumn("px", (F.col("patch_idx") % F.col("_nx")).cast("int"))
        .withColumn("py", (F.col("patch_idx") / F.col("_nx")).cast("int"))
        .drop("_nx")
    )


def audio_window_plan(
    df: DataFrame,
    n_samples_col: str = "n_samples",
    sample_rate: int = 16000,
    win_ms: int = 25,
    hop_ms: int = 10,
) -> DataFrame:
    """STFT-style audio framing plumbing: one row per analysis window
    (start sample, end sample, t_ms) for win_ms windows advancing by
    hop_ms at ``sample_rate`` — the frame layout every feature
    extractor (fbank/MFCC) consumes.  Decode is the documented stub;
    the window arithmetic is exact integer math.  Pure generator."""
    win = sample_rate * win_ms // 1000
    hop = sample_rate * hop_ms // 1000
    n = F.col(n_samples_col).cast("bigint")
    n_win = F.when(n >= win, ((n - win) / hop).cast("bigint") + 1).otherwise(
        F.lit(0)
    )
    idx = F.when(
        n_win > 0, F.sequence(F.lit(0).cast("bigint"), n_win - 1)
    ).otherwise(F.array().cast("array<bigint>"))
    out = df.withColumn("win_idx", F.explode(idx))
    start = F.col("win_idx") * hop
    return (
        out.withColumn("start_sample", start)
        .withColumn("end_sample", start + win)
        .withColumn(
            "t_ms", (F.col("win_idx") * F.lit(hop_ms)).cast("bigint")
        )
        .withColumn("win_idx", F.col("win_idx").cast("int"))
    )
