"""Aggregate stage — count/sum connectors and the stateful-agg processors.

Reference semantics:
- countconnector: per metric def (name, OR-ed OTTL conditions, dim
  attrs with ``default_value``), count matching records grouped by the
  dim-attr map; a row missing a dim with no default is NOT counted
  (connector/countconnector/counter.go:39-148, miss-drop at 64-67);
  datapoints carry min/max timestamps of contributors (85-148).
- sumconnector: same shape, sum(numeric attr) (connector/sumconnector/).
- logdedupprocessor: collapse identical (body+attrs+severity) records →
  one + log_count, first/last ts (processor/logdedupprocessor/processor.go:32-140).
- groupbyattrsprocessor: promote record attrs to resource identity
  (processor/groupbyattrsprocessor/processor.go:63-99).
- intervalprocessor: fixed-interval rollup (processor/intervalprocessor/processor.go:73-209).
- deltatocumulative / cumulativetodelta: running sum / successive diff
  per stream id (processor/deltatocumulativeprocessor/,
  processor/cumulativetodeltaprocessor/).

Spark-first: all of these are single-shuffle ``groupBy().agg()`` with
map-side partial aggregation for free, or window functions partitioned
by the stream id.  We group by the dim COLUMNS directly — never by a
map-column hash — sidestepping the reference's content-hash grouping
(pkg/pdatautil/hash.go:100) while producing identical groups
(SURVEY §7.5.3).
"""

from __future__ import annotations

import re
from collections.abc import Mapping, Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


@dataclass
class MetricDef:
    """One count/sum-connector metric definition."""

    name: str
    conditions: Sequence[str] = ()  # OR-ed SQL predicates; empty = all rows
    dims: Sequence[str] = ()  # attribute columns to group by
    defaults: Mapping[str, object] = field(default_factory=dict)  # dim → default_value
    sum_attr: str | None = None  # None → count connector, else sum connector


def connector_metric(df: DataFrame, mdef: MetricDef, ts_col: str = "warc_ts") -> DataFrame:
    """count/sum-connector semantics for one metric def.

    Order of operations mirrors counter.go: condition filter → for each
    dim, rows where the dim is NULL take ``default_value`` if configured
    else are dropped (counter.go:64-67) → group → count/sum + min/max ts.
    """
    if mdef.conditions:
        df = df.filter(" OR ".join(f"({c})" for c in mdef.conditions))
    group_cols: list[Column] = []
    for d in mdef.dims:
        c = F.col(d)
        if d in mdef.defaults:
            c = F.coalesce(c, F.lit(mdef.defaults[d]))
        else:
            df = df.filter(F.col(d).isNotNull())
        group_cols.append(c.alias(d))
    value = (
        F.count(F.lit(1)).alias("value")
        if mdef.sum_attr is None
        else F.sum(F.col(mdef.sum_attr)).alias("value")
    )
    return (
        df.groupBy(*group_cols)
        .agg(
            value,
            F.min(ts_col).alias("start_ts"),
            F.max(ts_col).alias("end_ts"),
        )
        .withColumn("metric_name", F.lit(mdef.name))
    )


def contributions(
    sink_metrics: Mapping[str, Sequence[MetricDef]],
    route_col: str = "route",
    copy_conds: Mapping[str, str] | None = None,
) -> list[Column]:
    """One ``(sink, metric_name, dims, v)`` struct per (sink, metric
    def), NULL where the row does not contribute to it."""
    copy_conds = copy_conds or {}
    entries = []
    for sink, defs in sink_metrics.items():
        if sink in copy_conds:
            base = F.expr(copy_conds[sink])
        else:
            base = F.col(route_col) == sink
        for m in defs:
            cond = base
            if m.conditions:
                cond = cond & F.expr(" OR ".join(f"({c})" for c in m.conditions))
            kvs = []
            for d in m.dims:
                c = F.col(d)
                if d in m.defaults:
                    c = F.coalesce(c, F.lit(m.defaults[d]))
                else:
                    cond = cond & F.col(d).isNotNull()
                kvs.append(F.concat(F.lit(f"{d}="), c.cast("string")))
            value = (F.col(m.sum_attr) if m.sum_attr else F.lit(1)).cast("double")
            entries.append(
                F.when(
                    cond,
                    F.struct(
                        F.lit(sink).alias("sink"),
                        F.lit(m.name).alias("metric_name"),
                        F.concat_ws(",", *kvs).alias("dims"),
                        value.alias("v"),
                    ),
                )
            )
    return entries


def connector_metrics_single_pass(
    df: DataFrame,
    sink_metrics: Mapping[str, Sequence[MetricDef]],
    ts_col: str = "warc_ts",
    route_col: str = "route",
    copy_conds: Mapping[str, str] | None = None,
) -> DataFrame:
    """ALL metric defs of ALL sinks in ONE shuffle.

    Each row emits one contribution struct per matching (sink, metric)
    — built with a when() per def, exploded, NULLs dropped — then a single
    groupBy(sink, metric, canonical-dims-string) aggregates everything.
    Compared to one groupBy per metric def (13 jobs or a cached
    intermediate), this is one map-side-combinable pass with no cache
    and no interim IO: the shape that scales to 10^12 rows and is used
    by the bench.  Dims are serialized as a sorted ``k=v`` string
    (canonical — mirrors the reference's content-hash map grouping,
    pdatautil/hash.go:100, without hashing).

    Note: a variant grouping on raw dim-value columns (string built
    post-aggregation) was tried and measured 2-3x SLOWER at local[32]
    (wider structs + wider hash keys beat the per-row concat cost), so
    the per-row canonical string stays.

    Profiled again round 4 (bench's flat "aggregates" stage): over the
    recomputed pipeline at local[32]/500k docs, route-only = 1.04 s,
    this aggregate = 1.27 s — marginal cost ≈ 0.23 s; an int-def-index
    variant (struct carries an int, sink/metric names broadcast-joined
    back post-agg) measured 1.53 s, SLOWER — the two literal-string key
    columns are effectively free in the hash aggregate while the extra
    join is not.  The stage's apparent flatness across rounds is the
    deliberate no-cache pipeline recompute, not aggregate cost.

    The generator holds no higher-order function: the array is exploded
    as built and NULL contributions are dropped by a plain filter after
    it.  Compacting first with ``filter(array, x -> x IS NOT NULL)``
    puts ``Generate`` in ``CodegenFallback``, so every row evaluates the
    CASE/``struct``/``concat_ws`` entries interpreted; a JFR profile of
    six warm flagship passes over 50,000 pages (local[4], 4-core host)
    put 109 of 375 executor samples in that interpreted ``Generate``,
    and none once it was codegen'd.  Same rows, same single Exchange;
    ``test_plans`` pins ``*(n) Generate``.
    """
    entries = contributions(sink_metrics, route_col, copy_conds)
    ex = df.select(F.col(ts_col).alias("_ts"), F.explode(F.array(*entries)).alias("e"))
    ex = ex.filter(F.col("e").isNotNull())
    return (
        ex.groupBy(
            F.col("e.sink").alias("sink"),
            F.col("e.metric_name").alias("metric_name"),
            F.col("e.dims").alias("dims"),
        )
        .agg(
            F.sum("e.v").alias("value"),
            F.min("_ts").alias("start_ts"),
            F.max("_ts").alias("end_ts"),
        )
    )


def log_dedup(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str = "warc_ts",
    order_col: str = "url",
) -> DataFrame:
    """logdedupprocessor: one representative row per identical key set,
    plus log_count and first/last observed timestamps.  The
    representative is the minimum-``order_col`` row (deterministic,
    unlike the reference's arrival order which batch Spark has no use
    for)."""
    others = [c for c in df.columns if c not in key_cols]
    strukt = F.struct(*[F.col(order_col)] + [F.col(c) for c in others if c != order_col])
    return (
        df.groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("log_count"),
            F.min(ts_col).alias("first_observed"),
            F.max(ts_col).alias("last_observed"),
            F.min(strukt).alias("_rep"),
        )
        .withColumn(order_col, F.col(f"_rep.{order_col}"))
        .drop("_rep")
    )


def group_by_attrs(df: DataFrame, promote: Sequence[str], prefix: str = "resource_") -> DataFrame:
    """groupbyattrsprocessor: promote record attrs to resource identity.
    Columnar form makes regrouping free — we just rename/prefix; the
    'grouping' materialises whenever a downstream groupBy uses them."""
    for c in promote:
        df = df.withColumn(f"{prefix}{c}", F.col(c)).drop(c)
    return df


def interval_agg(
    df: DataFrame,
    interval: str = "1 hour",
    dims: Sequence[str] = (),
    ts_col: str = "warc_ts",
    value_col: str | None = None,
) -> DataFrame:
    """intervalprocessor: fixed-interval rollup keyed by truncated event
    time (batch analogue of its wall-clock ticker)."""
    unit = interval.split()[-1].rstrip("s")
    bucket = F.date_trunc(unit, F.col(ts_col)).alias("interval_start")
    aggs = [F.count(F.lit(1)).alias("n")]
    if value_col:
        aggs += [
            F.sum(value_col).alias("sum_value"),
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
        ]
    return df.groupBy(bucket, *[F.col(d) for d in dims]).agg(*aggs)


def service_graph_edges(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    type_col: str,
    client_type: str,
    server_type: str,
    ts_col: str,
) -> DataFrame:
    """servicegraphconnector analogue (connector/servicegraphconnector/):
    pair each *server* record with the most recent preceding *client*
    record of the same key — an as-of join composed from a running
    ``last(..., ignorenulls)`` window (Spark has no native as-of join;
    this is the standard single-shuffle composition, partitioned by the
    pairing key).

    Returns one edge per server record: key cols + client_ts, server_ts,
    latency_seconds (NULL client_ts = unmatched server record).
    """
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    client_ts = F.last(
        F.when(F.col(type_col) == client_type, F.col(ts_col)), ignorenulls=True
    ).over(w)
    return (
        df.withColumn("client_ts", client_ts)
        .filter(F.col(type_col) == server_type)
        .withColumn(
            "latency_seconds",
            F.round(
                (
                    F.unix_micros(F.col(ts_col).cast("timestamp"))
                    - F.unix_micros(F.col("client_ts").cast("timestamp"))
                )
                / 1000000.0,
                6,
            ),
        )
        .select(
            *key_cols,
            F.col(ts_col).alias("server_ts"),
            "client_ts",
            "latency_seconds",
        )
    )


def _order(ts_col) -> list:
    return list(ts_col) if isinstance(ts_col, (list, tuple)) else [ts_col]


def delta_to_cumulative(
    df: DataFrame, stream_cols: Sequence[str], ts_col, value_col: str, out: str = "cumulative"
) -> DataFrame:
    """Running accumulation per stream id (deltatocumulativeprocessor).
    ``ts_col`` may be a list for a total order (deterministic on ties)."""
    w = (
        Window.partitionBy(*stream_cols)
        .orderBy(*_order(ts_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(out, F.sum(value_col).over(w))


def cumulative_to_delta(
    df: DataFrame, stream_cols: Sequence[str], ts_col, value_col: str, out: str = "delta"
) -> DataFrame:
    """Successive difference per stream id (cumulativetodeltaprocessor);
    first point yields NULL (the reference drops the first observation)."""
    w = Window.partitionBy(*stream_cols).orderBy(*_order(ts_col))
    return df.withColumn(out, F.col(value_col) - F.lag(value_col).over(w))


def delta_to_rate(
    df: DataFrame,
    stream_cols: Sequence[str],
    ts_col,
    value_col: str,
    time_col: str | None = None,
    out: str = "rate",
) -> DataFrame:
    """deltatorateprocessor: delta value / seconds since the previous
    point of the same stream (processor/deltatorateprocessor/processor.go).
    First point (no interval) and zero-width intervals yield NULL.
    ``time_col`` names the timestamp column when ``ts_col`` is a
    multi-column total order."""
    order = _order(ts_col)
    tcol = time_col or order[0]
    w = Window.partitionBy(*stream_cols).orderBy(*order)
    dt = (
        F.unix_micros(F.col(tcol).cast("timestamp"))
        - F.unix_micros(F.lag(tcol).over(w).cast("timestamp"))
    ) / 1000000.0
    return df.withColumn(out, F.when(dt > 0, F.col(value_col) / dt))


_MT_AGGS = {
    "sum": lambda c: F.sum(c),
    "mean": lambda c: F.avg(c),
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
    "median": lambda c: F.median(c),
    "count": lambda c: F.count(c).cast("double"),
}


def _mt_rewrite_entries(attrs_col: str, fn) -> Column:
    """Rebuild the attribute map entry-by-entry via ``fn(entry) ->
    struct(key, value)`` — the columnar form of a label edit."""
    return F.map_from_entries(F.transform(F.map_entries(attrs_col), fn))


def _mt_merge(
    d: DataFrame,
    agg: str,
    metric_col: str,
    value_col: str,
    attrs_col: str,
) -> DataFrame:
    """Merge points that collide on full identity minus value — the
    reference's dataPointHashKey (aggregateutil/aggregate.go) over a
    flat frame: every non-value column is a group key, the attribute
    map keyed by its canonical sorted-entries string.  One map-side-
    combined hash aggregate; matched rows only (caller splits)."""
    if agg not in _MT_AGGS:
        raise ValueError(
            f"invalid aggregation_type: {agg!r}, one of {sorted(_MT_AGGS)}"
        )
    canon = F.array_join(
        F.array_sort(
            F.transform(
                F.map_entries(attrs_col),
                lambda e: F.concat_ws("\x01", e.getField("key"), e.getField("value")),
            )
        ),
        "\x02",
    )
    others = [c for c in d.columns if c not in (value_col, attrs_col)]
    return (
        d.groupBy(*others, canon.alias("_mt_canon"))
        .agg(
            _MT_AGGS[agg](value_col).alias(value_col),
            F.first(attrs_col).alias(attrs_col),
        )
        .drop("_mt_canon")
        .select(*d.columns)
    )


def metrics_transform(
    df: DataFrame,
    rules: Sequence[dict],
    metric_col: str = "metric",
    value_col: str = "value",
    attrs_col: str = "attributes",
) -> DataFrame:
    """metricstransformprocessor over a flat point frame
    (processor/metricstransformprocessor/config.go transforms;
    metrics_transform_processor_otlp.go:536-580 transformMetric).

    Each rule: ``{"action": "update" | "insert" | "combine",
    "match": name-or-regex, "match_labels": {k: v}?, "new_name": str?,
    "operations": [...]}``; the legacy shorthand ``{"match", "new_name"?,
    "scale"?}`` still works (action defaults to update).  Rules apply IN
    ORDER, each seeing the previous rule's output (the reference's
    transform loop); within a rule the rename lands first, then the
    operations in order (transformMetric).  Operations:

    - ``add_label`` (label, new_value)
    - ``update_label`` (label, new_label?, value_actions: [{value,
      new_value}]?)
    - ``delete_label_value`` (label, label_value) — drops matching points
    - ``experimental_scale_value`` (scale)
    - ``aggregate_labels`` (label_set, aggregation_type) — keep only the
      named labels, merge colliding points
    - ``aggregate_label_values`` (label, aggregated_values, new_value,
      aggregation_type) — fold the named values into one, merge
    - ``toggle_scalar_data_type`` — int↔double flip; a no-op here (the
      flat frame carries one double value column), kept for config parity

    ``insert`` copies the matched points, renames/transforms the copy,
    and appends it (the original passes through untouched).  ``combine``
    matches ``match`` as an anchored regex; named capture groups become
    labels on the combined points and the metric is renamed to
    ``new_name`` (README combine semantics; submatch labels via
    regexp_extract, plan-time group table from the compiled pattern).
    ``group`` (resource-level regrouping) is out of scope for a flat
    frame — documented divergence.

    Everything except the two aggregate_* merges is pure column math;
    the merges are one map-side-combined hash aggregate over matched
    rows each (unmatched rows bypass via union), so a hot metric name
    never single-tasks.
    """
    out = df
    cols = list(df.columns)
    for r in rules:
        action = r.get("action", "update")
        ops = list(r.get("operations") or [])
        if "scale" in r:  # legacy shorthand
            ops.append(
                {"action": "experimental_scale_value", "scale": r["scale"]}
            )

        if action == "combine":
            # Python re for the plan-time group-name table; the same
            # pattern goes to the JVM with (?P<n> → (?<n> (Java named-
            # group syntax) — submatch extraction itself uses indices,
            # valid in both engines.  Anchored full match.
            pat = re.compile(r["match"])
            jpat = f"^(?:{r['match'].replace('(?P<', '(?<')})$"
            m = F.col(metric_col).rlike(jpat)
            attrs = F.col(attrs_col)
            for gname, gidx in pat.groupindex.items():
                val = F.regexp_extract(metric_col, jpat, gidx)
                attrs = F.map_concat(
                    F.map_filter(attrs, lambda k, _: k != F.lit(gname)),
                    F.map_from_arrays(F.array(F.lit(gname)), F.array(val)),
                )
            work = out.where(m).withColumns(
                {attrs_col: attrs, metric_col: F.lit(r["new_name"])}
            )
            passthrough = out.where(~m)
        else:
            m = F.col(metric_col) == r["match"]
            for k, v in (r.get("match_labels") or {}).items():
                m = m & F.coalesce(F.col(attrs_col)[k] == v, F.lit(False))

            if action == "insert":
                work = out.where(m)
                passthrough = out
            elif action == "update":
                work = out.where(m)
                passthrough = out.where(~m)
            else:
                raise ValueError(f"unknown action: {action!r}")

            if r.get("new_name"):
                work = work.withColumn(metric_col, F.lit(r["new_name"]))

        for op in ops:
            a = op["action"]
            if a == "experimental_scale_value":
                work = work.withColumn(
                    value_col, F.col(value_col) * F.lit(float(op["scale"]))
                )
            elif a == "add_label":
                work = work.withColumn(
                    attrs_col,
                    F.map_concat(
                        F.map_filter(
                            attrs_col, lambda k, _: k != F.lit(op["label"])
                        ),
                        F.map_from_arrays(
                            F.array(F.lit(op["label"])),
                            F.array(F.lit(op["new_value"])),
                        ),
                    ),
                )
            elif a == "update_label":
                label = op["label"]
                new_label = op.get("new_label") or label
                vmap = {
                    va["value"]: va["new_value"]
                    for va in op.get("value_actions") or []
                }

                def _ent(e):
                    val = e.getField("value")
                    for old, new in vmap.items():
                        val = F.when(
                            (e.getField("key") == label) & (val == old),
                            F.lit(new),
                        ).otherwise(val)
                    return F.struct(
                        F.when(e.getField("key") == label, F.lit(new_label))
                        .otherwise(e.getField("key"))
                        .alias("key"),
                        val.alias("value"),
                    )

                work = work.withColumn(
                    attrs_col, _mt_rewrite_entries(attrs_col, _ent)
                )
            elif a == "delete_label_value":
                work = work.where(
                    ~F.coalesce(
                        F.col(attrs_col)[op["label"]] == op["label_value"],
                        F.lit(False),
                    )
                )
            elif a == "aggregate_labels":
                keep_arr = F.array(*[F.lit(k) for k in op["label_set"]])
                work = work.withColumn(
                    attrs_col,
                    F.map_filter(
                        attrs_col, lambda k, _: F.array_contains(keep_arr, k)
                    ),
                )
                work = _mt_merge(
                    work, op.get("aggregation_type", "sum"),
                    metric_col, value_col, attrs_col,
                )
            elif a == "aggregate_label_values":
                vals = F.array(*[F.lit(v) for v in op["aggregated_values"]])

                label, new_value = op["label"], op["new_value"]

                def _fold(e):
                    return F.struct(
                        e.getField("key").alias("key"),
                        F.when(
                            (e.getField("key") == label)
                            & F.array_contains(vals, e.getField("value")),
                            F.lit(new_value),
                        )
                        .otherwise(e.getField("value"))
                        .alias("value"),
                    )

                work = work.withColumn(
                    attrs_col, _mt_rewrite_entries(attrs_col, _fold)
                )
                work = _mt_merge(
                    work, op.get("aggregation_type", "sum"),
                    metric_col, value_col, attrs_col,
                )
            elif a == "toggle_scalar_data_type":
                pass  # documented no-op: flat frame has one double column
            else:
                raise ValueError(f"unknown operation action: {a!r}")

        out = passthrough.select(*cols).unionByName(work.select(*cols))
    return out


def metrics_generate(
    df: DataFrame,
    name: str,
    operand1: str,
    operand2: str,
    operation: str = "divide",
    dims: Sequence[str] = (),
    metric_col: str = "metric",
    value_col: str = "value",
) -> DataFrame:
    """metricsgenerationprocessor: derive a new metric from two existing
    ones per dimension group (processor/metricsgenerationprocessor/
    processor.go calculate rule).  Returns the input plus generated rows.

    One groupBy (conditional-aggregation pivot of the two operands), no
    self-join — the scale shape for 10^9 series."""
    ops = {
        "add": lambda a, b: a + b,
        "subtract": lambda a, b: a - b,
        "multiply": lambda a, b: a * b,
        "divide": lambda a, b: F.when(b != 0, a / b),
        "percent": lambda a, b: F.when(b != 0, a * 100.0 / b),
    }
    m, v = F.col(metric_col), F.col(value_col)
    derived = (
        df.filter(m.isin([operand1, operand2]))
        .groupBy(*dims)
        .agg(
            F.sum(F.when(m == operand1, v)).alias("_a"),
            F.sum(F.when(m == operand2, v)).alias("_b"),
        )
        .select(
            *dims,
            F.lit(name).alias(metric_col),
            ops[operation](F.col("_a"), F.col("_b")).alias(value_col),
        )
    )
    return df.select(*dims, metric_col, value_col).unionByName(derived)


def _exp_hist_parts(value_col: str, scale: int, zero_threshold: float):
    """Shared column math for the OTel exponential-histogram mapping.

    Per the lightstep go-expohisto structure the spanmetricsconnector
    aggregates into (expoHistToExponentialDataPoint,
    connector/spanmetricsconnector/internal/metrics/metrics.go:248-276),
    a datapoint has THREE ranges: a positive and a negative bucket half
    — both bucketed on |v| with the base-2 spec mapping
    ``index = ceil(log2(|v|) * 2^scale) - 1`` (buckets are
    lower-exclusive / upper-inclusive: bucket i covers
    (base^i, base^(i+1)], base = 2^(2^-scale)) — and a zero bucket for
    ``|v| <= zero_threshold``."""
    v = F.col(value_col).cast("double")
    is_zero = F.abs(v) <= F.lit(float(zero_threshold))
    sign = (
        F.when(is_zero, F.lit("zero"))
        .when(v < 0, F.lit("negative"))
        .otherwise(F.lit("positive"))
    )
    idx = F.when(
        ~is_zero,
        (F.ceil(F.log2(F.abs(v)) * F.lit(float(2 ** scale))) - 1).cast("int"),
    )
    return v, is_zero, sign, idx


def exponential_histogram(
    df: DataFrame,
    value_col: str,
    scale: int = 3,
    dims: Sequence[str] = (),
    zero_threshold: float = 0.0,
) -> DataFrame:
    """Base-2 exponential histogram buckets (positive + negative halves
    + zero bucket), one row per (dims, sign, bucket_index).  Pure column
    math + one map-side-combined groupBy; the zero row has a NULL
    bucket_index (its count is the datapoint's ZeroCount,
    metrics.go:256)."""
    v, _, sign, idx = _exp_hist_parts(value_col, scale, zero_threshold)
    return (
        df.filter(v.isNotNull())
        .groupBy(
            *[F.col(d) for d in dims],
            sign.alias("sign"),
            idx.alias("bucket_index"),
        )
        .agg(
            F.count(F.lit(1)).alias("bucket_count"),
            F.round(F.min(v), 6).alias("min_value"),
            F.round(F.max(v), 6).alias("max_value"),
        )
    )


def exponential_histogram_datapoint(
    df: DataFrame,
    value_col: str,
    scale: int = 3,
    dims: Sequence[str] = (),
    zero_threshold: float = 0.0,
) -> DataFrame:
    """The datapoint header the reference emits alongside the bucket
    halves (expoHistToExponentialDataPoint, metrics.go:248-258): count,
    sum, min, max (only for non-empty datapoints — groupBy emits no
    empty groups), zero_count, scale, zero_threshold."""
    v, is_zero, _, _ = _exp_hist_parts(value_col, scale, zero_threshold)
    return (
        df.filter(v.isNotNull())
        .groupBy(*[F.col(d) for d in dims])
        .agg(
            F.count(F.lit(1)).alias("count_value"),
            F.round(F.sum(v), 6).alias("sum_value"),
            F.round(F.min(v), 6).alias("min_value"),
            F.round(F.max(v), 6).alias("max_value"),
            F.sum(is_zero.cast("bigint")).alias("zero_count"),
            F.lit(scale).alias("scale"),
            F.lit(float(zero_threshold)).alias("zero_threshold"),
        )
    )
