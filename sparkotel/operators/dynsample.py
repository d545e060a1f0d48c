"""Dynamic sampling: first-match rules route traces to samplers whose
keep/drop decision is consistent-probability encoded in TraceState
(processor/dynamicsamplingprocessor/).

Batch semantics (README "How it works"; the buffering/decision-delay
machinery exists because a stream never sees a whole trace — a batch
table does, so steps 1-3 are free):

- rules evaluate IN ORDER per trace; a condition ``field == value``
  holds when ANY span (or its resource) carries it, ``field != value``
  when NO span does, ``status.code == N`` likewise; a rule with no
  conditions is a catch-all.  First match wins and its decision is
  final (rules.go).
- the matched sampler yields a 1-in-N rate: ``always_sample`` (N=1),
  ``deterministic`` (N = 100/percentage), ``dynamic`` (per-key batch
  analogue of ema_dynamic: each key of ``key_fields`` gets an equal
  share of the goal percentage, N_k = ceil(count_k / share)), and
  ``throughput`` (analogue of ema/windowed_throughput: share =
  goal_per_sec × interval / num_keys, N_k = ceil(count_k / share)).
  The EMA smoothing weight has no meaning in a single batch (there is
  no history to smooth), so the analogues are the weight→1 fixed point.
- keep/drop is the OTel consistent-probability rule: threshold
  T = 2^56 − floor(2^56 / N); the trace is kept iff the randomness
  value (the trace id's lowest 56 bits) ≥ T.  Every span of a kept
  trace gets ``otelcol.processor.dynamic_sampling.rule`` and the
  TraceState ``ot=th:<hex>`` annotation (threshold hex, trailing
  zeros trimmed, ``0`` = always sample).

Spark shape: ONE groupBy(trace_id) computes every rule's flags; the
adaptive samplers' per-rule scalars AND per-(rule, key) counts are both
map-side-combined aggregates broadcast-joined back (never a window over
a raw attribute key — hot keys would straggler); the per-span
annotation is a join back on trace_id.  No Python, no state.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparkotel.session import local_frame

RULE_ATTR = "otelcol.processor.dynamic_sampling.rule"

_COND_RE = re.compile(r"^\s*([\w.]+)\s*(==|!=)\s*(.+?)\s*$")
_TWO56 = 1 << 56


def _span_cond(field: str, value: str) -> Column:
    """Per-span predicate for `field == value` over span attributes,
    resource attributes, or status.code."""
    if field == "status.code":
        return F.col("status_code") == int(value)
    v = value.strip("\"'")
    # coalesce each side: an absent map key yields NULL and
    # `false OR NULL` is NULL, which would poison the any-span max
    return F.coalesce(F.col("attributes")[field] == v, F.lit(False)) | F.coalesce(
        F.col("resource")[field] == v, F.lit(False)
    )


def _threshold(n: Column) -> Column:
    """OTel consistent-probability threshold for a 1-in-N rate:
    T = 2^56 − floor(2^56 / N)."""
    return F.lit(_TWO56) - F.floor(F.lit(_TWO56) / n).cast("long")


def _th_hex(t: Column) -> Column:
    """TraceState `th` value: 14-digit hex, trailing zeros trimmed,
    '0' when the threshold is zero (always sample)."""
    full = F.lpad(F.conv(t.cast("string"), 10, 16), 14, "0")
    trimmed = F.regexp_replace(F.lower(full), "0+$", "")
    return F.when(t == 0, F.lit("0")).otherwise(
        F.when(trimmed == "", F.lit("0")).otherwise(trimmed)
    )


def _randomness() -> Column:
    """R value: lowest 56 bits of the trace id (its last 14 hex chars),
    per the W3C trace-context randomness convention."""
    return F.conv(F.substring(F.col("trace_id"), -14, 14), 16, 10).cast("long")


def dynamic_sampling(
    df: DataFrame, rules: list[dict], max_broadcast_keys: int = 1_000_000
) -> DataFrame:
    """Sample the span frame trace-by-trace.  ``rules`` entries:
    ``name``, optional ``conditions`` (list of strings), ``sampler`` =
    ``{"type": "always_sample" | "deterministic" | "dynamic" |
    "throughput", ...}`` with ``sampling_percentage`` /
    ``goal_sampling_percentage`` + ``key_fields`` /
    ``goal_throughput_per_sec`` + ``interval_seconds`` + ``key_fields``.
    Returns the kept spans annotated with the matched rule and the
    ``ot=th`` trace state.

    ``max_broadcast_keys`` bounds the per-key counts frame that may be
    broadcast: when the measured distinct-key total exceeds it the join
    falls back to an unhinted equi-join (AQE plans it), so a miskeyed
    config never force-broadcasts a huge frame."""
    if not rules:
        raise ValueError("at least one rule is required")
    parsed = []
    for r in rules:
        conds = []
        for c in r.get("conditions", []) or []:
            m = _COND_RE.match(c)
            if not m:
                raise ValueError(f"unsupported condition: {c!r}")
            conds.append((m.group(1), m.group(2), m.group(3)))
        parsed.append((r["name"], conds, r["sampler"]))

    # per-trace flags: for every (rule, condition), "any span matches"
    aggs = []
    for ri, (_, conds, sampler) in enumerate(parsed):
        for ci, (field, _, value) in enumerate(conds):
            aggs.append(
                F.max(_span_cond(field, value).cast("int")).alias(f"_c_{ri}_{ci}")
            )
        for ki, kf in enumerate(sampler.get("key_fields", []) or []):
            # trace key value: deterministic min over the trace's spans
            aggs.append(
                F.min(
                    F.coalesce(
                        F.col("attributes")[kf], F.col("resource")[kf], F.lit("")
                    )
                ).alias(f"_k_{ri}_{ki}")
            )
    traces = df.groupBy("trace_id").agg(*(aggs or [F.count(F.lit(1)).alias("_n")]))

    # first-match rule index (== needs any-match, != needs no-match)
    rule_idx = F.lit(-1)
    for ri in reversed(range(len(parsed))):
        _, conds, _ = parsed[ri]
        ok = F.lit(True)
        for ci, (_, op, _) in enumerate(conds):
            hit = F.col(f"_c_{ri}_{ci}") == 1
            ok = ok & (hit if op == "==" else ~hit)
        rule_idx = F.when(ok, F.lit(ri)).otherwise(rule_idx)
    traces = traces.withColumn("_rule", rule_idx)

    # per-rule scalars (total in-rule traces, distinct keys) as a tiny
    # broadcast side: a single-partition window over all in-rule traces
    # (the obvious alternative) would funnel every trace of a rule into
    # ONE task and hold every key in a collect_set — a guaranteed
    # straggler/OOM at 10^9 traces.  A map-side-combined aggregate plus
    # a broadcast join keeps the scalars scalar.
    scalars = None
    for ri, (_, _, sampler) in enumerate(parsed):
        if sampler["type"] not in ("dynamic", "throughput"):
            continue
        kf = sampler.get("key_fields", []) or []
        key = F.concat_ws("\x01", *[F.col(f"_k_{ri}_{i}") for i in range(len(kf))])
        row = (
            traces.where(F.col("_rule") == ri)
            .agg(
                F.count(F.lit(1)).alias("_total"),
                F.count_distinct(key).alias("_nkeys"),
            )
            .withColumn("_rule_s", F.lit(ri))
        )
        scalars = row if scalars is None else scalars.unionByName(row)
    if scalars is not None:
        # materialize the per-rule scalars driver-side (≤ one row per
        # rule) — the collected _nkeys then gates the key_counts
        # broadcast below for free, instead of assuming key cardinality
        # is small.  The literal frame joins back as a broadcast of a
        # handful of rows.
        scalar_rows = scalars.collect()
        nkeys_total = sum((r["_nkeys"] or 0) for r in scalar_rows)
        scalars_lit = local_frame(df.sparkSession, scalar_rows, scalars.schema)
        traces = traces.join(
            F.broadcast(scalars_lit), traces["_rule"] == scalars_lit["_rule_s"], "left"
        ).drop("_rule_s")

        # per-(rule, key) trace counts the same scale-safe way: a
        # map-side-combined groupBy plus a broadcast join.  A window
        # partitioned on (rule, key) — the previous form — funnels every
        # trace of one key into ONE task; keys are attribute values
        # (service/route names), exactly the skewed-key shape, so a hot
        # key at 10^9 traces is a guaranteed straggler.  The counts
        # frame is one row per distinct key; broadcasting it is safe
        # only while keys are genuinely low-cardinality, so the hint is
        # GATED on the measured _nkeys (collected above) — a miskeyed
        # config (e.g. key_fields = a near-unique id) falls back to an
        # unhinted equi-join AQE plans normally instead of a silent
        # driver OOM.
        key_expr = F.lit(None).cast("string")
        for ri, (_, _, sampler) in enumerate(parsed):
            if sampler["type"] not in ("dynamic", "throughput"):
                continue
            kf = sampler.get("key_fields", []) or []
            key = F.concat_ws(
                "\x01", *[F.col(f"_k_{ri}_{i}") for i in range(len(kf))]
            )
            key_expr = F.when(F.col("_rule") == ri, key).otherwise(key_expr)
        traces = traces.withColumn("_key", key_expr)
        key_counts = (
            traces.where(F.col("_key").isNotNull())
            .groupBy("_rule", "_key")
            .agg(F.count(F.lit(1)).alias("_count_k"))
            .withColumnsRenamed({"_rule": "_rule_k", "_key": "_key_k"})
        )
        if nkeys_total <= max_broadcast_keys:
            key_counts = F.broadcast(key_counts)
        traces = traces.join(
            key_counts,
            (traces["_rule"] == key_counts["_rule_k"])
            & (traces["_key"] == key_counts["_key_k"]),
            "left",
        ).drop("_rule_k", "_key_k")

    # per-rule 1-in-N rate
    rate = F.lit(None).cast("double")
    for ri, (_, _, sampler) in enumerate(parsed):
        stype = sampler["type"]
        if stype == "always_sample":
            n = F.lit(1.0)
        elif stype == "deterministic":
            pct = float(sampler["sampling_percentage"])
            if not 0 < pct <= 100:
                raise ValueError("sampling_percentage must be in (0, 100]")
            n = F.lit(100.0 / pct)
        elif stype in ("dynamic", "throughput"):
            # per-key counts joined in above (broadcast, no key shuffle)
            count_k = F.col("_count_k")
            if stype == "dynamic":
                g = float(sampler["goal_sampling_percentage"])
                share = (F.col("_total") * F.lit(g / 100.0)) / F.col("_nkeys")
            else:
                g = float(sampler["goal_throughput_per_sec"])
                interval = float(sampler.get("interval_seconds", 1.0))
                share = F.lit(g * interval) / F.col("_nkeys")
            n = F.greatest(F.lit(1.0), F.ceil(count_k / share).cast("double"))
        else:
            raise ValueError(f"unknown sampler type: {stype}")
        rate = F.when(F.col("_rule") == ri, n).otherwise(rate)
    traces = traces.withColumn("_n", rate)

    thr = _threshold(F.col("_n"))
    decided = traces.select(
        "trace_id",
        "_rule",
        thr.alias("_thr"),
        _th_hex(thr).alias("_th_hex"),
        (_randomness() >= thr).alias("_keep"),
    )
    names = F.array(*[F.lit(nm) for nm, _, _ in parsed])

    kept = df.join(decided, "trace_id").where(
        (F.col("_rule") >= 0) & F.col("_keep")
    )
    return (
        kept.withColumn(
            "attributes",
            F.map_concat(
                F.map_filter("attributes", lambda k, _: k != RULE_ATTR),
                F.map_from_arrays(
                    F.array(F.lit(RULE_ATTR)),
                    F.array(F.element_at(names, F.col("_rule") + 1)),
                ),
            ),
        )
        .withColumn("trace_state", F.concat(F.lit("ot=th:"), F.col("_th_hex")))
        .drop("_rule", "_thr", "_th_hex", "_keep")
    )
