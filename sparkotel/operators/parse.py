"""Parse stage — vectorized re-expressions of the stanza parser operators.

Reference semantics (all paths cite /root/reference):
- ParserOperator harness: read ``parse_from``, write extracted fields,
  apply ``on_error`` ∈ {send, send_quiet, drop, drop_quiet}, optional
  ``if`` gate — pkg/stanza/operator/helper/parser.go:102-247,
  helper/transformer.go:43-51,142-194.
- regex_parser: RE2 named-capture groups, ≥1 group required —
  pkg/stanza/operator/parser/regex/parser.go:39-67.
- time_parser strptime layouts — pkg/stanza/operator/helper/time.go:95-224.
- severity_parser range aliases (2xx→info …) —
  pkg/stanza/operator/helper/severity_builder.go.
- json/csv/keyvalue/uri/trace parsers — operator/parser/*/parser.go.

Spark-first design: everything is a lazy DataFrame transformation.  The
regex parser has one engine, native ``regexp_extract`` (JVM, whole-stage
codegen, no Python workers): for a one-pass extraction the Arrow
transfer to a Python worker costs more than a faster kernel saves
(measurements in ``pipeline.parse_stage``).
Failed parses carry an ``_error`` lineage column instead of being
destroyed, so ``on_error=send`` forwards them unmodified
(helper/transformer.go:163-167).
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ON_ERROR_MODES = ("send", "send_quiet", "drop", "drop_quiet")

# stanza severity enum (pkg/stanza/entry/severity.go:11-40): trace=1,
# debug=5, info=9, warn=13, error=17, fatal=21 (+1..3 fine grades).
SEVERITY_NUMBER = {"trace": 1, "debug": 5, "info": 9, "warn": 13, "error": 17, "fatal": 21}


def full_severity_table() -> dict[str, int]:
    """The complete 25-level alias table
    (pkg/stanza/operator/helper/severity_builder.go): six base levels ×
    fine grades 2-4, plus the common text aliases."""
    table = {"default": 0}
    for base, n in SEVERITY_NUMBER.items():
        table[base] = n
        for i in (2, 3, 4):
            table[f"{base}{i}"] = n + i - 1
    table.update(
        {
            "trc": 1, "dbg": 5, "information": 9, "notice": 9,
            "warning": 13, "err": 17, "critical": 21, "crit": 21,
            "alert": 21, "emerg": 21, "emergency": 21, "catastrophe": 24,
        }
    )
    return table


def text_severity_parser(
    df: DataFrame, parse_from: str, aliases: dict[str, int] | None = None
) -> DataFrame:
    """Text-alias severity parsing over the full 25-level table (the
    severity_builder default mapping); unmatched text → 0/'default'.
    One broadcast literal map lookup — native, no UDF."""
    table = aliases or full_severity_table()
    num_map = F.create_map(*[x for k, v in table.items() for x in (F.lit(k), F.lit(v))])
    key = F.lower(F.btrim(F.col(parse_from).cast("string")))
    num = F.coalesce(num_map[key], F.lit(0))
    base = None
    for name, lo in sorted(SEVERITY_NUMBER.items(), key=lambda kv: kv[1]):
        cond = num.between(lo, lo + 3)
        base = F.when(cond, name) if base is None else base.when(cond, name)
    return df.withColumn("severity_number", num).withColumn(
        "severity_text", base.otherwise(F.lit("default"))
    )


def _apply_on_error(df: DataFrame, matched: Column, on_error: str) -> DataFrame:
    if on_error not in ON_ERROR_MODES:
        raise ValueError(f"on_error must be one of {ON_ERROR_MODES}")
    # NULL input: rlike yields NULL — un-matchable rows are errors
    df = df.withColumn("_error", ~F.coalesce(matched, F.lit(False)))
    if on_error.startswith("drop"):
        df = df.filter(~F.col("_error"))
    return df


def first_line(col: str | Column) -> Column:
    """The access-log record is line 1 of ``text``: everything before
    the first newline (the whole text when there is none, NULL for
    NULL).  ``substring_index`` stops at that newline; ``split_part``
    (the DuckDB twin's form, same result) splits the whole page with a
    quoted regex into an array first: 55 of 375 executor samples in a
    JFR profile of six warm flagship passes (local[4], 4-core host)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.substring_index(c, "\n", 1)


def regex_parser(
    df: DataFrame,
    pattern: str,
    groups: Sequence[str],
    parse_from: str | Column = "text",
    on_error: str = "send",
    line1: bool = True,
) -> DataFrame:
    """Extract positional/named groups into typed string columns: one
    ``regexp_extract`` per group — stays inside whole-stage codegen;
    Catalyst dedups the shared regex compile.  Patterns use JVM regex
    syntax (named groups as ``(?<n>``)."""
    src = first_line(parse_from) if line1 else (
        F.col(parse_from) if isinstance(parse_from, str) else parse_from
    )
    df = df.withColumn("_src", src)
    matched = F.col("_src").rlike(pattern)
    for i, g in enumerate(groups):
        df = df.withColumn(
            g, F.when(matched, F.regexp_extract(F.col("_src"), pattern, i + 1))
        )
    return _apply_on_error(df, matched, on_error).drop("_src")


# Spark datetime pattern translation for strptime directives
# (helper/time.go strptime layouts → JDK patterns).
_STRPTIME = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%b": "MMM", "%d": "dd",
    "%H": "HH", "%I": "hh", "%M": "mm", "%S": "ss", "%f": "SSSSSS",
    "%z": "Z", "%j": "DDD", "%p": "a", "%e": "d",
}


def strptime_to_spark(layout: str) -> str:
    out = layout
    for k, v in _STRPTIME.items():
        out = out.replace(k, v)
    return out


# Go reference-time layout tokens → JDK datetime pattern
# (pkg/stanza/operator/helper/time.go gotime branch; longest-first so
# "2006" wins over "06", "January" over "Jan").
_GOTIME = [
    ("2006", "yyyy"),
    ("January", "MMMM"),
    ("Jan", "MMM"),
    ("Monday", "EEEE"),
    ("Mon", "EEE"),
    (".000000000", ".SSSSSSSSS"),
    (".000000", ".SSSSSS"),
    (".000", ".SSS"),
    ("15", "HH"),
    ("01", "MM"),
    ("02", "dd"),
    ("03", "hh"),
    ("04", "mm"),
    ("05", "ss"),
    ("Z07:00", "XXX"),
    ("Z0700", "XX"),
    ("-07:00", "XXX"),
    ("-0700", "XX"),
    ("MST", "xx"),  # abbreviation slot; the data is pre-normalized to offsets
    ("PM", "a"),
    ("06", "yy"),
    ("002", "DDD"),
]


def gotime_to_spark(layout: str) -> str:
    """Go time.Format reference layout → Spark/JDK pattern."""
    out = ""
    i = 0
    while i < len(layout):
        for tok, rep in _GOTIME:
            if layout.startswith(tok, i):
                out += rep
                i += len(tok)
                break
        else:
            ch = layout[i]
            out += f"'{ch}'" if ch.isalpha() else ch
            i += 1
    return out


# classic timezone abbreviations → numeric offsets (helper/time.go
# location handling; JDK patterns cannot parse bare abbreviations)
TZ_ABBREVS = {
    "UTC": "+0000", "GMT": "+0000",
    "EST": "-0500", "EDT": "-0400",
    "CST": "-0600", "CDT": "-0500",
    "MST": "-0700", "MDT": "-0600",
    "PST": "-0800", "PDT": "-0700",
    "CET": "+0100", "CEST": "+0200",
    "JST": "+0900", "IST": "+0530",
}


def replace_tz_abbrevs(col: Column, abbrevs: dict[str, str] | None = None) -> Column:
    """'… 15:04:05 EST' → '… 15:04:05 -0500', per-row (a single chained
    regexp_replace pass per abbreviation, all native)."""
    for abbr, off in (abbrevs or TZ_ABBREVS).items():
        col = F.regexp_replace(col, rf"\b{abbr}\b", off)
    return col


def time_parser(
    df: DataFrame,
    parse_from: str = "ts_str",
    layout: str = "%d/%b/%Y:%H:%M:%S %z",
    layout_type: str = "strptime",
    to: str = "timestamp",
) -> DataFrame:
    """strptime/epoch time parsing (helper/time.go:95-224).

    ``try_to_timestamp`` keeps on_error=send rows NULL instead of
    failing the task (ANSI mode safe).
    """
    if layout_type in ("strptime", "gotime"):
        if layout_type == "gotime":
            fmt = gotime_to_spark(layout)
            needs_tz = "MST" in layout
        else:
            fmt = strptime_to_spark(layout.replace("%Z", "%z"))
            needs_tz = "%Z" in layout
        src = F.col(parse_from)
        if needs_tz:
            src = replace_tz_abbrevs(src)
        return df.withColumn(to, F.try_to_timestamp(src, F.lit(fmt)))
    if layout_type == "epoch":
        units = {
            "s": lambda c: F.timestamp_seconds(c.cast("long")),
            "ms": lambda c: F.timestamp_millis(c.cast("long")),
            "us": lambda c: F.timestamp_micros(c.cast("long")),
            "ns": lambda c: F.timestamp_micros((c.cast("long") / 1000).cast("long")),
        }
        return df.withColumn(to, units[layout](F.col(parse_from)))
    raise ValueError(f"unknown layout_type {layout_type!r}")


def severity_parser(
    df: DataFrame,
    parse_from: str = "status",
    mapping: Sequence[tuple[str, str]] = (("5xx", "error"), ("4xx", "warn"), ("2xx", "info"), ("3xx", "info")),
) -> DataFrame:
    """Range-alias severity mapping (severity_builder.go `2xx` ranges).

    Emits ``severity_number`` (stanza 25-level enum) + ``severity_text``.
    """
    c = F.col(parse_from).cast("int")
    expr_text = None
    for rng, name in mapping:
        lo = int(rng[0]) * 100
        cond = (c >= lo) & (c < lo + 100)
        expr_text = F.when(cond, F.lit(name)) if expr_text is None else expr_text.when(cond, F.lit(name))
    expr_text = expr_text.otherwise(F.lit("default"))
    num_map = F.create_map(
        *[x for k, v in SEVERITY_NUMBER.items() for x in (F.lit(k), F.lit(v))]
    )
    df = df.withColumn("severity_text", expr_text)
    return df.withColumn(
        "severity_number", F.coalesce(num_map[F.col("severity_text")], F.lit(0))
    )


def json_parser(df: DataFrame, parse_from: str, schema: str, to: str = "parsed") -> DataFrame:
    """fastjson body parse (operator/parser/jsonparser/parser.go:24-50)."""
    return df.withColumn(to, F.from_json(F.col(parse_from), schema))


def csv_parser(
    df: DataFrame, parse_from: str, header: Sequence[str], sep: str = ",", to: str = "parsed"
) -> DataFrame:
    """csv_parser (operator/parser/csv/parser.go:60-111)."""
    schema = ", ".join(f"{h} STRING" for h in header)
    return df.withColumn(to, F.from_csv(F.col(parse_from), schema, {"sep": sep}))


def key_value_parser(
    df: DataFrame, parse_from: str, pair_sep: str = " ", kv_sep: str = "=", to: str = "attributes"
) -> DataFrame:
    """key_value_parser (operator/parser/keyvalue/parser.go:32)."""
    return df.withColumn(
        to, F.str_to_map(F.col(parse_from), F.lit(pair_sep), F.lit(kv_sep))
    )


def uri_parser(df: DataFrame, parse_from: str = "url", prefix: str = "uri_") -> DataFrame:
    """uri_parser → scheme/host/path/query (operator/parser/uri/parser.go:31-38)."""
    c = F.col(parse_from)
    return (
        df.withColumn(f"{prefix}scheme", F.split_part(c, F.lit("://"), F.lit(1)))
        .withColumn(f"{prefix}host", F.parse_url(c, F.lit("HOST")))
        .withColumn(f"{prefix}path", F.parse_url(c, F.lit("PATH")))
        .withColumn(f"{prefix}query", F.parse_url(c, F.lit("QUERY")))
    )


SYSLOG_3164_RE = r"^<(\d+)>(\w{3} [ 0-9]\d \d{2}:\d{2}:\d{2}) (\S+) ([^:\[\s]+)(?:\[(\d+)\])?: (.*)$"


def syslog_parser(df: DataFrame, parse_from: str = "text", line1: bool = False) -> DataFrame:
    """RFC3164 syslog (operator/parser/syslog/parser.go:61-510, BSD
    branch): <PRI>TIMESTAMP HOST TAG[PID]: MSG.  severity = pri & 7,
    facility = pri >> 3, exactly the RFC split."""
    df = regex_parser(
        df,
        SYSLOG_3164_RE,
        ["pri", "sys_ts", "hostname", "appname", "proc_id", "message"],
        parse_from,
        on_error="send",
        line1=line1,
    )
    pri = F.col("pri").cast("int")
    return (
        df.withColumn("facility", (pri / 8).cast("int"))
        .withColumn("syslog_severity", pri % 8)
        .withColumn("proc_id", F.col("proc_id").cast("int"))
    )


SYSLOG_5424_RE = (
    r"^<(\d+)>(\d+) (\S+) (\S+) (\S+) (\S+) (\S+) (-|(?:\[[^\]]*\])+) ?(.*)$"
)
_SD_ELEMENT = r"\[([^\]]+)\]"
_SD_PARAM = r'(\S+)="([^"]*)"'


def syslog_parser_5424(
    df: DataFrame,
    parse_from: str = "text",
    line1: bool = False,
    octet_counting: bool = False,
) -> DataFrame:
    """RFC5424 syslog (operator/parser/syslog/parser.go:61-510, 5424
    branch): <PRI>VERSION TS HOSTNAME APP-NAME PROCID MSGID SD [MSG].

    - ``octet_counting`` strips the RFC6587 length prefix ("123 <34>1…")
      before parsing (parser.go octet-counting framing);
    - NILVALUE ('-') fields become NULL;
    - STRUCTURED-DATA parses into ``structured_data``
      map<string,string> keyed ``sdid.param`` — all native
      (regexp_extract_all + higher-order transforms, no UDF).
    """
    src = F.col(parse_from) if not line1 else first_line(parse_from)
    if octet_counting:
        src = F.regexp_replace(src, r"^\d+ ", "")
    df = df.withColumn("_src5424", src)
    df = regex_parser(
        df,
        SYSLOG_5424_RE,
        ["pri", "version", "sys_ts", "hostname", "appname", "proc_id", "msgid", "sd_raw", "message"],
        parse_from="_src5424",
        on_error="send",
        line1=False,
    )
    pri = F.col("pri").cast("int")
    for nil_col in ("hostname", "appname", "proc_id", "msgid"):
        df = df.withColumn(nil_col, F.when(F.col(nil_col) != "-", F.col(nil_col)))
    # SD elements -> entries ("sdid.param", value), flattened across
    # elements; '-' (no SD) and parse misses yield an empty map
    elements = F.regexp_extract_all(F.col("sd_raw"), F.lit(_SD_ELEMENT), 1)
    entries = F.flatten(
        F.transform(
            elements,
            lambda e: F.zip_with(
                F.transform(
                    F.regexp_extract_all(e, F.lit(_SD_PARAM), 1),
                    lambda k: F.concat(F.split_part(e, F.lit(" "), F.lit(1)), F.lit("."), k),
                ),
                F.regexp_extract_all(e, F.lit(_SD_PARAM), 2),
                lambda k, v: F.struct(k.alias("key"), v.alias("value")),
            ),
        )
    )
    df = df.withColumn(
        "structured_data",
        F.when(F.col("sd_raw").isNotNull() & (F.col("sd_raw") != "-"), F.map_from_entries(entries))
        .otherwise(
            F.map_from_entries(F.array().cast("array<struct<key:string,value:string>>"))
        ),
    )
    # RFC3339 timestamp (fractional seconds + 'Z' | numeric offset)
    ts = F.coalesce(
        F.try_to_timestamp(F.col("sys_ts"), F.lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
        F.try_to_timestamp(F.col("sys_ts"), F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")),
        F.try_to_timestamp(F.col("sys_ts"), F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")),
    )
    return (
        df.withColumn("log_ts", ts)
        .withColumn("facility", (pri / 8).cast("int"))
        .withColumn("syslog_severity", pri % 8)
        .withColumn("version", F.col("version").cast("int"))
        .withColumn("proc_id", F.col("proc_id").cast("int"))
        .drop("_src5424", "sd_raw")
    )


CRI_RE = r"^(\S+) (stdout|stderr) ([PF]) (.*)$"


def container_parser(df: DataFrame, parse_from: str = "line") -> DataFrame:
    """container formats (operator/parser/container/parser.go:72-474):
    docker JSON ({"log":...,"stream":...,"time":...}) vs containerd/CRI
    ("TIME STREAM P|F LOG") detected per row by the leading '{'."""
    c = F.col(parse_from)
    is_docker = c.startswith("{")
    docker = F.from_json(c, "log string, stream string, time string")
    return (
        df.withColumn("format", F.when(is_docker, "docker").otherwise("cri"))
        .withColumn(
            "log",
            # docker: strip ONE trailing newline — it is the record
            # separator the daemon appends to complete records, not
            # content (its absence marks a >16KB partial chunk)
            F.when(
                is_docker, F.regexp_replace(docker.getField("log"), r"\n$", "")
            ).otherwise(F.regexp_extract(c, CRI_RE, 4)),
        )
        .withColumn(
            "stream",
            F.when(is_docker, docker.getField("stream")).otherwise(
                F.regexp_extract(c, CRI_RE, 2)
            ),
        )
        .withColumn(
            "container_time",
            F.when(is_docker, docker.getField("time")).otherwise(
                F.regexp_extract(c, CRI_RE, 1)
            ),
        )
        .withColumn(
            "partial",
            # CRI: explicit P flag.  Docker: the daemon splits >16KB
            # lines WITHOUT a flag — a partial chunk is one whose log
            # payload does NOT end in a newline (parser.go docker
            # branch); complete docker records keep their trailing \n.
            F.when(
                is_docker,
                ~F.coalesce(
                    docker.getField("log").endswith("\n"), F.lit(True)
                ),
            ).otherwise(F.regexp_extract(c, CRI_RE, 3) == "P"),
        )
    )


def container_recombine(
    df: DataFrame, source_col: str, order_col: str, parse_from: str = "line"
) -> DataFrame:
    """CRI partial-line reassembly: ``P``-flagged lines concatenate with
    the following lines up to and including the next ``F`` line
    (operator/parser/container/parser.go:72-474 recombine wiring).

    is_last = NOT partial; a row starts a new record iff the previous
    row (same source, in offset order) was a record end.  Docker rows
    (partial always false) pass through one-line-per-record.
    """
    from pyspark.sql import Window

    parsed = container_parser(df, parse_from)
    w = Window.partitionBy(source_col).orderBy(order_col)
    parsed = parsed.withColumn(
        "_is_first", F.coalesce(F.lag(~F.col("partial")).over(w), F.lit(True))
    )
    from sparkotel.operators.recombine import recombine

    # CRI partial lines join with NO separator (the split was mid-line)
    return recombine(
        parsed, source_col, order_col, "log", F.col("_is_first"), combine_with=""
    )


def json_array_parser(df: DataFrame, parse_from: str, element: str = "bigint", to: str = "parsed") -> DataFrame:
    """json_array_parser (operator/parser/jsonarray/parser.go:33)."""
    return df.withColumn(to, F.from_json(F.col(parse_from), f"array<{element}>"))


def drain_templates(
    df: DataFrame, parse_from: str = "line", masks: tuple = (r"\d+",), placeholder: str = "<*>"
) -> DataFrame:
    """drain-lite log template mining (processor/drainprocessor/): mask
    variable tokens → template id, count + example per template.  The
    full Drain tree is unnecessary in batch: masking + groupBy gives the
    same fixed-depth clustering for numeric-variable logs, in one
    map-side-combined shuffle."""
    tpl = F.col(parse_from)
    for m in masks:
        tpl = F.regexp_replace(tpl, m, placeholder)
    return (
        df.withColumn("template", tpl)
        .groupBy("template")
        .agg(F.count(F.lit(1)).alias("n"), F.min(parse_from).alias("example"))
    )


def _drain_pre(df: DataFrame, parse_from: str, max_leaf: int) -> DataFrame:
    """distinct-line leaf routing for drain_tree_templates: collapse
    identical lines (map-side combinable), key by (n_tokens, t1, t2)
    — the depth-4 Drain tree's internal nodes — and salt-split any leaf
    whose DISTINCT-line population exceeds ``max_leaf``."""
    from pyspark.sql import Window
    src = df.groupBy(F.col(parse_from).alias("line")).agg(F.count(F.lit(1)).alias("cnt"))
    tok = F.split(F.col("line"), r"\s+")

    def mask(c):
        return F.when(c.rlike(r"^\d"), F.lit("<*>")).otherwise(F.coalesce(c, F.lit("")))

    pre = src.select(
        "line",
        "cnt",
        F.size(tok).alias("n_tokens"),
        mask(F.element_at(tok, 1)).alias("t1"),
        mask(F.element_at(tok, 2)).alias("t2"),
    )
    w = Window.partitionBy("n_tokens", "t1", "t2")
    n_salts = F.ceil(F.count(F.lit(1)).over(w) / F.lit(max_leaf)).cast("int")
    return pre.withColumn("salt", F.pmod(F.hash("line"), n_salts))


def drain_tree_templates(
    df: DataFrame,
    parse_from: str = "line",
    sim_threshold: float = 0.5,
    max_tokens_compared: int = 64,
    max_leaf: int = 50_000,
) -> DataFrame:
    """Full Drain log-template mining, distributed (the IBM Drain paper
    algorithm the reference's drainprocessor wraps).

    The Drain parse tree's internal levels — token count, then the first
    two tokens (numeric-leading tokens wildcarded), i.e. the paper's
    standard depth-4 tree — ARE a partitioning key, so the tree
    distributes as one groupBy; inside each leaf group the exact
    sequential Drain similarity clustering runs in pandas
    (``applyInPandas``, Arrow-batched): a line joins the first cluster
    whose positional token-match ratio ≥ ``sim_threshold`` (tokens
    already wildcarded in the template don't count against it, as in
    Drain's simSeq), else starts a new cluster; matched clusters
    generalize mismatching positions to ``<*>``.

    Scale / skew bounds (the greedy matcher is O(lines × clusters), so a
    hot leaf must never concentrate the corpus in one Python task):
    1. identical lines collapse FIRST via a map-side-combined groupBy —
       a flood of one repeated line enters the tree as a single row with
       a count;
    2. the token-2 tree level (faithful to Drain's depth-4 default)
       splits wildcard-first-token pileups like access logs;
    3. a leaf whose DISTINCT-line count still exceeds ``max_leaf`` is
       split deterministically by a line-hash salt; each salt shard
       mines templates independently and the final template
       re-aggregation merges shards.  Shards that generalize a template
       differently may over-split it (bounded-memory trade, same spirit
       as the LSH bucket cap) — raise ``max_leaf`` to taste.

    Deterministic: leaf processing order is the sorted distinct-line
    set, so results are invariant to input partitioning.  Returns
    (template, n, example).
    """
    import pandas as pd

    pre = _drain_pre(df, parse_from, max_leaf)

    def cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        clusters: list[tuple[list, int, str]] = []  # (template tokens, count, example)
        # lexicographic processing order: greedy clustering becomes a
        # pure function of the leaf's distinct-line set (deterministic
        # across runs/partitionings)
        for line, cnt in sorted(zip(pdf["line"], pdf["cnt"])):
            toks = str(line).split()
            best = None
            for idx, (tpl, _, _) in enumerate(clusters):
                if len(tpl) != len(toks):
                    continue
                same = sum(
                    1
                    for a, b in zip(tpl[:max_tokens_compared], toks[:max_tokens_compared])
                    if a == b
                )
                wild = sum(1 for a in tpl[:max_tokens_compared] if a == "<*>")
                denom = min(len(toks), max_tokens_compared)
                sim = (same + wild) / denom if denom else 1.0
                if sim >= sim_threshold:
                    best = idx
                    break
            if best is None:
                clusters.append((list(toks), int(cnt), str(line)))
            else:
                tpl, n, ex = clusters[best]
                merged = [a if a == b else "<*>" for a, b in zip(tpl, toks)]
                clusters[best] = (merged, n + int(cnt), ex)
        return pd.DataFrame(
            [(" ".join(tpl), n, ex) for tpl, n, ex in clusters],
            columns=["template", "n", "example"],
        )

    out_schema = "template string, n long, example string"
    leaves = pre.groupBy("n_tokens", "t1", "t2", "salt").applyInPandas(
        lambda pdf: cluster(pdf), out_schema
    )
    # identical templates can emerge in different leaves only when tree
    # keys differ — distinct Drain clusters; but re-aggregate to merge
    # salt shards and wildcarded-token collisions
    return leaves.groupBy("template").agg(
        F.sum("n").alias("n"), F.min("example").alias("example")
    )


def trace_parser(
    df: DataFrame, trace_from: str, span_from: str, to_hex: bool = True
) -> DataFrame:
    """hex → trace/span ids (operator/parser/trace/parser.go, helper/trace.go).

    Emits binary ids plus hex-string mirrors (pdata's TraceID.String()).
    """
    df = df.withColumn("trace_id", F.unhex(F.col(trace_from))).withColumn(
        "span_id", F.unhex(F.col(span_from))
    )
    if to_hex:
        df = df.withColumn("trace_id_hex", F.lower(F.hex(F.col("trace_id")))).withColumn(
            "span_id_hex", F.lower(F.hex(F.col("span_id")))
        )
    return df
