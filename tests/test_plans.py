"""Physical-plan quality gates — the .explain('formatted') audit as
assertions, so plan regressions (lost pruning, surprise sort-merge
joins, shuffles on the parse path) fail CI instead of surfacing as a
10x slowdown at scale."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from conftest import SF_DIR

from sparkotel import pages as P
from sparkotel import pipeline as PL


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_column_pruning_reaches_scan(spark):
    """The pipeline reads only (doc_id, text, lang) from the documents
    parquet — never source/n_chars; html is generated+dropped before
    any action and must not appear in the scan either."""
    out = PL.build(spark, SF_DIR)
    plan = plan_of(out["routed"])
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schemas, "no parquet scan found"
    for rs in read_schemas:
        assert "n_chars" not in rs and "source" not in rs
        assert "html" not in rs


def test_enrich_joins_are_broadcast(spark):
    out = PL.build(spark, SF_DIR)
    plan = plan_of(out["enriched"])
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_parse_path_has_no_exchange(spark):
    """parse stage = scan + codegen'd projections; any Exchange here
    would shuffle the full 100 TB of text."""
    parsed = PL.parse_stage(P.pages(spark, SF_DIR).drop("html"))
    plan = plan_of(parsed)
    assert "Exchange" not in plan


def test_filter_pushdown(spark):
    """A filter on a source column reaches the parquet scan as a
    PushedFilter."""
    P.load_tables(spark, SF_DIR, ["documents"])
    df = spark.table("documents").filter("lang = 'en'").select("doc_id")
    plan = plan_of(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "lang" in pushed[0]


def test_single_pass_agg_one_shuffle(spark):
    """the single-pass multi-metric aggregate has exactly one
    hash-partitioned exchange (partial agg → exchange → final)."""
    from sparkotel.operators.aggregate import connector_metrics_single_pass

    out = PL.build(spark, SF_DIR)
    m = connector_metrics_single_pass(
        out["routed"], PL.SINK_METRICS, copy_conds={"de": "geo_country = 'DE'"}
    )
    plan = plan_of(m)
    n_shuffle = sum(
        1 for l in plan.splitlines() if l.strip().startswith("(") and ") Exchange" in l
        and "Broadcast" not in l
    )
    assert n_shuffle == 1, plan


def test_single_pass_agg_generate_is_codegend(spark):
    """The contribution explode runs inside a whole-stage-codegen stage
    (``*(n) Generate``): its generator holds no higher-order function,
    which would put ``Generate`` in ``CodegenFallback`` and evaluate
    every contribution entry interpreted."""
    from sparkotel.operators.aggregate import connector_metrics_single_pass

    out = PL.build(spark, SF_DIR)
    m = connector_metrics_single_pass(
        out["routed"], PL.SINK_METRICS, copy_conds={"de": "geo_country = 'DE'"}
    )
    m.collect()
    plan = m._jdf.queryExecution().executedPlan().toString()
    generates = [l for l in plan.splitlines() if "Generate explode(" in l]
    assert generates, plan
    assert any(re.search(r"\*\(\d+\) Generate explode\(", l) for l in generates), plan
    assert not any("lambdafunction" in l for l in generates), plan


def test_parse_first_line_cut_is_substring_index(spark):
    """``first_line`` and the naive-timestamp cut stop at the first
    delimiter (``substring_index``); ``split_part`` would split the whole
    page into an array first (``stringsplitsql``)."""
    plan = plan_of(PL.parse_stage(P.pages(spark, SF_DIR).drop("html"))).lower()
    assert "substring_index" in plan
    assert "stringsplitsql" not in plan


def _count_shuffles(plan: str) -> int:
    return sum(
        1 for l in plan.splitlines()
        if l.strip().startswith("(") and ") Exchange" in l and "Broadcast" not in l
    )


def test_metricfuncs_conversions_shuffle_free(spark):
    """convert/scale/copy/merge are projections (+ a union) — no
    exchange anywhere; the 100 TB cost is one scan."""
    import datetime as dt

    from sparkotel.operators import metricfuncs as MF

    ts = dt.datetime(2024, 1, 1)
    pts = spark.createDataFrame(
        [("m", "ms", "gauge", 0, False, None, ts, 1.0, {"k": "a"}, {"h": "1"}, "s")],
        "metric_name string, unit string, metric_type string,"
        " aggregation_temporality int, is_monotonic boolean,"
        " start_ts timestamp_ntz, ts timestamp_ntz, value double,"
        " attributes map<string,string>, resource map<string,string>,"
        " scope_name string",
    )
    chained = MF.copy_metric(
        MF.scale_metric(MF.convert_gauge_to_sum(pts, "delta", True), 2.0), name="x"
    )
    assert _count_shuffles(plan_of(chained)) == 0
    hist = spark.createDataFrame(
        [("h", 1, ts, ts, 10, 5.0, 1.0, 2.0, [1, 2], [1.0], {}, {})],
        "metric_name string, aggregation_temporality int, start_ts timestamp_ntz,"
        " ts timestamp_ntz, count long, sum double, min double, max double,"
        " bucket_counts array<long>, explicit_bounds array<double>,"
        " attributes map<string,string>, resource map<string,string>",
    )
    assert _count_shuffles(plan_of(MF.merge_histogram_buckets(hist, 2, "limit_buckets"))) == 0
    assert _count_shuffles(plan_of(MF.extract_percentile_metric(hist, 90.0))) == 0


def test_aggregate_on_attributes_one_shuffle(spark):
    """aggregate_on_attributes is exactly one map-side-combined hash
    aggregate — one exchange."""
    import datetime as dt

    from sparkotel.operators import metricfuncs as MF

    ts = dt.datetime(2024, 1, 1)
    pts = spark.createDataFrame(
        [("m", "ms", "gauge", 0, False, None, ts, 1.0, {"k": "a"}, {"h": "1"}, "s")],
        "metric_name string, unit string, metric_type string,"
        " aggregation_temporality int, is_monotonic boolean,"
        " start_ts timestamp_ntz, ts timestamp_ntz, value double,"
        " attributes map<string,string>, resource map<string,string>,"
        " scope_name string",
    )
    plan = plan_of(MF.aggregate_on_attributes(pts, "sum", ["k"]))
    assert _count_shuffles(plan) == 1, plan


def test_genai_rename_path_pure_column(spark):
    """the openllmetry source (no aggregator) compiles to projections
    only: zero exchanges AND zero python evals."""
    from sparkotel.operators.genai import genai_normalizer

    df = spark.createDataFrame(
        [("s", {"llm.request.type": "chat"})],
        "name string, attributes map<string,string>",
    )
    plan = plan_of(genai_normalizer(df, [{"name": "openllmetry"}]))
    assert _count_shuffles(plan) == 0
    assert "EvalPython" not in plan, plan  # no UDF nodes


def test_semconv_span_name_shuffle_free(spark):
    from sparkotel.operators.spanfuncs import set_semconv_span_name

    df = spark.createDataFrame(
        [("n", 2, {"http.request.method": "GET"})],
        "name string, kind int, attributes map<string,string>",
    )
    plan = plan_of(set_semconv_span_name(df, "1.40.0", "orig"))
    assert _count_shuffles(plan) == 0
    assert "EvalPython" not in plan, plan


def test_crawl_latest_single_shuffle(spark):
    """crawl-snapshot dedup = ONE map-side-combined shuffle on the
    canonical url; a second Exchange or a sort-merge join would be a
    plan regression."""
    from sparkotel.functions import weburl as W

    p = P.pages(spark, SF_DIR).select("doc_id", "url", "warc_ts")
    plan = plan_of(W.crawl_latest(p))
    ex = [l for l in plan.splitlines() if l.strip().endswith(")") and "Exchange (" in l]
    assert len(ex) == 1, plan
    assert "SortMergeJoin" not in plan
    # partial aggregate below the exchange (map-side combine)
    assert plan.count("SortAggregate") + plan.count("HashAggregate") >= 2


def test_repetition_and_scrub_plan_shape(spark):
    """the corpus-quality ops must stay free of cartesian products and
    unpartitioned windows (the two silent scale killers), and the
    repetition join back to the doc list must broadcast."""
    from sparkotel.functions import text as T

    docs = P.pages(spark, SF_DIR).select("doc_id", "text")
    # repetition metrics are per-document: both engines must plan as a
    # per-partition map — zero Exchange, zero joins
    for eng in ("native", "arrow"):
        rep = plan_of(T.repetition_features(docs, engine=eng))
        assert "Exchange" not in rep and "Join" not in rep and "Window" not in rep
    scrub = plan_of(T.scrub_repeated_spans(docs, w=4))
    assert "Cartesian" not in scrub and "Window" not in scrub


def test_repetition_splits_text_once(spark):
    """Guard the no-CSE fix: interpreted HOFs re-evaluate inlined
    subtrees, so repetition_features materializes the word array in its
    own projection.  If a future optimizer change collapses that
    projection back (re-inlining words(text) into all five gram folds —
    a measured 2.7x regression), this counts the split occurrences."""
    from sparkotel.functions.text import repetition_features

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = (
        repetition_features(docs, engine="native")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("split(") == 1, plan


def test_token_bucket_replay_is_two_exchanges(spark):
    """rate_limiting = one shuffle to aggregate per trace + one to
    co-locate each limiter shard for the sequential replay; anything
    more would re-shuffle the full span stream at scale."""
    from pyspark.sql import functions as F

    from sparkotel.registry import _spans
    from sparkotel.operators.tailsample import rate_limiting_decisions

    dec = rate_limiting_decisions(
        _spans(spark, SF_DIR), 1, 4800, 6, key=F.substring("trace_id", 1, 1)
    )
    plan = plan_of(dec)
    import re

    assert len(re.findall(r"\n\(\d+\) Exchange", plan)) == 2, plan
    assert "SortMergeJoin" not in plan


def test_composite_replay_adds_one_exchange_over_decisions(spark):
    """composite = the tail_sample decision groupBy (1 exchange) + the
    limiter-shard replay (1 exchange); the policy columns must stay
    column expressions, not extra shuffles."""
    from pyspark.sql import functions as F

    from sparkotel.registry import _spans
    from sparkotel.operators.tailsample import TailPolicy, composite_sample

    dec = composite_sample(
        _spans(spark, SF_DIR),
        subs=[
            (TailPolicy("errors", "status_code", status_codes=(2,)), 4),
            (TailPolicy("always", "always_sample"), 8),
        ],
        max_total_sps=10,
        key=F.substring("trace_id", 1, 1),
        clock_us=86_400_000_000,
    )
    plan = plan_of(dec)
    import re

    assert len(re.findall(r"\n\(\d+\) Exchange", plan)) == 2, plan


def test_bytes_limit_query_is_two_exchanges(spark):
    """bytes_limiting sizes + arrival come from ONE pass (with_arrival
    in trace_proto_sizes): per-trace encode exchange + limiter-shard
    replay exchange, no join back onto the span stream."""
    import re

    from sparkotel.registry import build_registry

    dec = build_registry()["tailsample_bytes_limit"].spark(spark, SF_DIR)
    plan = plan_of(dec)
    assert len(re.findall(r"\n\(\d+\) Exchange", plan)) == 2, plan
    assert "Join" not in plan


def test_simhash_pairs_plan_shape(spark):
    """The banded pairing is bucket combinatorics, never a join: no
    join operator of any kind in the plan (a self-join formulation
    would re-scan the input per side), and the text column is pruned
    to exactly (doc_id, text) at the scan."""
    from sparkotel.functions.dedup import simhash_pairs

    P.load_tables(spark, SF_DIR, ["documents"])
    plan = plan_of(simhash_pairs(spark.table("documents")))
    assert "Join" not in plan and "CartesianProduct" not in plan
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schemas and all(
        "n_chars" not in rs and "source" not in rs for rs in read_schemas
    )


def test_host_boilerplate_scrub_plan_no_forced_broadcast(spark):
    """The flagged-lines join-back stays unhinted (no BroadcastExchange
    in the pre-AQE plan): the flag table is corpus-derived, so a forced
    broadcast would be the decontaminate OOM pattern all over again."""
    from pyspark.sql import functions as F

    from sparkotel.functions.text import host_boilerplate_scrub

    P.load_tables(spark, SF_DIR, ["documents"])
    d = spark.table("documents").select(
        "doc_id", F.lit("h1").alias("host"), "text"
    )
    out = host_boilerplate_scrub(d)
    # Catalyst may legitimately pick broadcast from size stats on a
    # small fixture; what must NOT exist is a ResolvedHint forcing it
    # regardless of size (the decontaminate OOM pattern).  Hints
    # survive into the analyzed logical plan.
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "Hint" not in analyzed


def test_c4_line_scrub_pure_projection(spark):
    """C4 line/page cleaning is a per-document rendering + two array
    filters: zero Exchange, zero joins, zero windows — it must ride the
    scan (the repetition_features plan argument)."""
    from sparkotel.functions import text as T

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(T.c4_line_scrub(docs))
    assert "Exchange" not in plan and "Join" not in plan and "Window" not in plan


def test_url_blocklist_broadcast_no_shuffle(spark):
    """URL filtering joins the UT1-shaped blocklist broadcast-side and
    scores keywords as a projection: exactly one BroadcastHashJoin, no
    shuffle Exchange, no sort-merge join."""
    from sparkotel.functions import weburl as W

    pages = P.pages(spark, SF_DIR).select("url")
    bl = spark.createDataFrame(W.DEFAULT_BLOCKLIST, "host string, category string")
    plan = plan_of(W.url_blocklist_filter(pages, bl))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan
    shuffles = [
        l for l in plan.splitlines()
        if "Exchange " in l and "BroadcastExchange" not in l
    ]
    assert not shuffles, plan


def test_bm25_single_scan_topk_plan(spark):
    """BM25's per-doc tf/dl are projections and the corpus totals ride a
    broadcast one-row aggregate: the top-k must be TakeOrderedAndProject
    (per-partition heap), never a global Sort, and the only joins are
    broadcast nested-loop of the one-row totals."""
    from sparkotel.functions import text as T

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(T.bm25_topk(docs))
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan
