"""Structured Streaming front end — the filelog-tailing analogue.

The reference's "stream" is a polling loop over files
(/root/reference/pkg/stanza/fileconsumer/file.go:436, design.md:98-183:
glob match → fingerprint → restore offsets → read new data).  Spark's
file-source streaming is the same contract done by the engine:
directory listing + exactly-once file tracking in the checkpoint (the
offset store), so the stanza persister/fingerprint machinery maps to
``readStream`` + ``checkpointLocation``.

The batch stages compose unchanged: parse/enrich are stateless
projections + stream-static broadcast joins, routing is a projection —
all streaming-compatible.  Stateful pieces:

- windowed per-host counts with a watermark (late-data bound) — the
  intervalprocessor under event time instead of wall clock
  (processor/intervalprocessor/processor.go:73-209);
- streaming dedup via ``dropDuplicates`` within the watermark — the
  logdedupprocessor's interval-scoped identity collapse
  (processor/logdedupprocessor/processor.go:32-140);
- fan-out via ``foreachBatch`` writing each route partition — the
  routingconnector in micro-batch form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkotel.pipeline import ROUTES, enrich_stage, parse_stage
from sparkotel.operators.route import assign_routes

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "host string, doc_id bigint"
)


def stream_pages(spark: SparkSession, input_dir: str, max_files: int = 10) -> DataFrame:
    """file-source stream over a pages parquet directory; maxFilesPerTrigger
    is the micro-batch analogue of the fileconsumer poll batch."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
        .drop("html")
    )


def routed_stream(spark: SparkSession, pages: DataFrame) -> DataFrame:
    parsed = parse_stage(pages)
    enriched = enrich_stage(spark, parsed)
    return assign_routes(enriched, ROUTES, "other")


def windowed_counts(
    df: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """event-time interval rollup with a late-data bound."""
    return (
        df.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), F.col("host"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("interval_start"), "host", "n")
    )


def dedup_stream(df: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """streaming logdedup: first occurrence per url within the watermark."""
    return df.withWatermark("warc_ts", watermark).dropDuplicates(["url"])


def stateful_recombine(
    df: DataFrame,
    is_first_pattern: str,
    source_col: str = "host",
    order_col: str = "ord",
    line_col: str = "line",
    timeout_ms: int = 0,
):
    """CUSTOM stateful operator via ``applyInPandasWithState`` — the
    true streaming analogue of the stanza recombine transformer
    (operator/transformer/recombine/transformer.go): per-source
    buffered lines persist in the state store ACROSS micro-batches,
    a record flushes when the next is_first boundary arrives, and
    ``timeout_ms`` > 0 force-flushes idle buffers
    (``forceFlushTimeout``) via a processing-time timeout.

    Emits (source, combined, n_lines, first_ord) in append mode.
    Incomplete trailing records stay buffered until a boundary or
    timeout — exactly the reference's behavior.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("source", StringType()),
            StructField("combined", StringType()),
            StructField("n_lines", LongType()),
            StructField("first_ord", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("lines", ArrayType(StringType())),
            StructField("ords", ArrayType(LongType())),
        ]
    )
    cols = ["source", "combined", "n_lines", "first_ord"]

    def fn(key, pdf_iter, state):
        import re

        first_re = re.compile(is_first_pattern)
        source = key[0]
        if state.hasTimedOut:
            lines, ords = state.get
            state.remove()
            if lines:
                yield pd.DataFrame(
                    [(source, "\n".join(lines), len(lines), ords[0])], columns=cols
                )
            return
        lines, ords = (list(state.get[0]), list(state.get[1])) if state.exists else ([], [])
        out_rows = []
        frames = [p for p in pdf_iter]
        rows = pd.concat(frames).sort_values(order_col) if frames else pd.DataFrame()
        for r in rows.to_dict("records"):
            line = r[line_col]
            if first_re.match(str(line)) and lines:
                out_rows.append((source, "\n".join(lines), len(lines), ords[0]))
                lines, ords = [], []
            lines.append(str(line))
            ords.append(int(r[order_col]))
        state.update((lines, ords))
        if timeout_ms:
            state.setTimeoutDuration(timeout_ms)
        if out_rows:
            yield pd.DataFrame(out_rows, columns=cols)

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms
        else GroupStateTimeout.NoTimeout
    )
    return df.groupBy(source_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", timeout
    )


def start_routed_sink(
    routed: DataFrame, out_dir: str, checkpoint: str, available_now: bool = True
):
    """routingconnector fan-out in micro-batch form: one partitioned
    write per micro-batch; the checkpoint dir is the offset/commit store
    (the stanza persister analogue)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("append")
            .partitionBy("route")
            .parquet(f"{out_dir}/routed")
        )

    writer = (
        routed.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_counts_sink(counts: DataFrame, query_name: str, available_now: bool = True):
    """windowed aggregate → in-memory sink (test/monitoring surface)."""
    writer = (
        counts.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_rate_limit(
    df: DataFrame,
    rate_num: int,
    rate_den: int,
    burst: int,
    key_col: str = "limiter_key",
    trace_col: str = "trace_id",
    arrival_col: str = "arrival_us",
    n_col: str = "n",
):
    """Streaming arm of the tail-sampling rate/bytes limiter
    (``operators.tailsample.token_bucket_admit``): the per-limiter token
    bucket state — (tokens in the 1/(10^6·rate_den)-token unit domain,
    last arrival µs) — persists in the state store across micro-batches
    via ``applyInPandasWithState``, so decisions equal the batch replay
    whenever micro-batches deliver each limiter's traces in arrival
    order (the same per-source ordering contract as
    ``stateful_recombine``).  Emits
    (limiter_key, trace_id, arrival_us, n, final_decision) in append
    mode, one row per trace as its decision is made.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from sparkotel.operators.tailsample import _bucket_fold

    out_schema = StructType(
        [
            StructField("limiter_key", StringType()),
            StructField("trace_id", StringType()),
            StructField("arrival_us", LongType()),
            StructField("n", LongType()),
            StructField("final_decision", StringType()),
        ]
    )
    state_schema = StructType(
        [StructField("tok", LongType()), StructField("last", LongType())]
    )
    cols = ["limiter_key", "trace_id", "arrival_us", "n", "final_decision"]

    def fn(key, pdf_iter, state):
        limiter = key[0]
        tok, last = state.get if state.exists else (None, None)
        frames = [p for p in pdf_iter]
        if not frames:
            return
        all_rows = pd.concat(frames)
        # same guard as token_bucket_admit.replay: a NULL arrival (no
        # completed span) or NULL cost has no place in the completion-
        # order replay — deny it without touching the bucket instead of
        # crashing the micro-batch on int(NaN)
        ok = all_rows[arrival_col].notna() & all_rows[n_col].notna()
        rows = all_rows[ok].sort_values(
            [arrival_col, trace_col], kind="mergesort"
        )
        arrivals = rows[arrival_col].tolist()
        costs = rows[n_col].tolist()
        out, tok, last = _bucket_fold(
            arrivals, costs, rate_num, rate_den, burst, tok, last
        )
        if last is not None:
            state.update((int(tok), int(last)))
        dead = all_rows[~ok]
        yield pd.DataFrame(
            {
                "limiter_key": limiter,
                "trace_id": rows[trace_col].tolist() + dead[trace_col].tolist(),
                "arrival_us": [int(a) for a in arrivals]
                + [None if pd.isna(a) else int(a) for a in dead[arrival_col]],
                "n": [int(n) for n in costs]
                + [None if pd.isna(n) else int(n) for n in dead[n_col]],
                "final_decision": ["sampled" if a else "not_sampled" for a in out]
                + ["not_sampled"] * len(dead),
            },
            columns=cols,
        )

    return (
        df.select(key_col, trace_col, arrival_col, n_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )
