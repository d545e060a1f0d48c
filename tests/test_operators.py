"""Unit tests for individual operators over tiny in-memory frames —
the stanza table-driven style (SURVEY §5.1)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkotel.operators import aggregate as A
from sparkotel.operators import enrich as E
from sparkotel.operators import parse as PR
from sparkotel.operators import recombine as RC
from sparkotel.operators import transform as T
from sparkotel.operators.filter import probabilistic_sampler, redact
from sparkotel.operators.route import Route, route_outputs


@pytest.fixture(scope="module")
def logs(spark):
    return spark.createDataFrame(
        [
            (1, "a.com", 'x=1 y=2', "2024-03-15 01:00:00", 200),
            (2, "a.com", 'x=3', "2024-03-15 01:30:00", 500),
            (3, "b.com", 'y=9', "2024-03-15 02:10:00", 500),
            (4, "b.com", 'y=9', "2024-03-15 02:20:00", 500),
        ],
        "id long, host string, body string, ts_s string, status int",
    ).withColumn("ts", F.to_timestamp("ts_s"))


def test_key_value_parser(spark, logs):
    out = PR.key_value_parser(logs, "body")
    m = {r["id"]: r["attributes"] for r in out.collect()}
    assert m[1] == {"x": "1", "y": "2"} and m[2] == {"x": "3"}


def test_time_parser_epoch(spark):
    df = spark.createDataFrame([("1710460800",)], "e string")
    out = PR.time_parser(df, "e", layout_type="epoch", layout="s").first()
    assert out["timestamp"].year == 2024


def test_severity_ranges(spark, logs):
    out = PR.severity_parser(logs, "status")
    m = {r["id"]: (r["severity_text"], r["severity_number"]) for r in out.collect()}
    assert m[1] == ("info", 9) and m[2] == ("error", 17)


def test_on_error_modes(spark):
    df = spark.createDataFrame([("good 1",), ("bad",)], "text string")
    pat, groups = r"^(\w+) (\d+)$", ["w", "n"]
    send = PR.regex_parser(df, pat, groups, "text", "send", line1=False)
    assert send.count() == 2 and send.filter("_error").count() == 1
    drop = PR.regex_parser(df, pat, groups, "text", "drop", line1=False)
    assert drop.count() == 1


_LOG_LINE = '10.0.0.1 - alice [15/Mar/2024:00:00:00 +0000] "GET /a HTTP/1.1" 200 512'


def test_first_line_parse_matches_duck_twin_on_degenerate_rows(spark):
    """``regex_parser``'s first-line cut (``substring_index``) and the
    DuckDB twin's ``split_part(text, chr(10), 1)`` give the same rows on
    empty, newline-only, CRLF, very long and NULL text.  DuckDB's
    ``split_part(NULL, ...)`` is ``''`` where Spark's cut is NULL; both
    land in ``_error``.  The cut equals ``split_part`` in Spark too, for
    the newline and the space (the naive-timestamp cut) delimiters."""
    import duckdb

    from sparkotel import pages as P
    from sparkotel.parity import duck_rows, spark_rows

    texts = [
        "", "\n", "\n" + _LOG_LINE, _LOG_LINE + "\r\nx", _LOG_LINE + " " + "x" * 10_000,
        _LOG_LINE + "\n" + "x" * 10_000, "ü " + _LOG_LINE, None,
    ]
    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    pat = P.LOG_PATTERN
    groups = ",\n".join(
        f"CASE WHEN _m THEN regexp_extract(_line, '{pat}', {i + 1}) END AS {g}"
        for i, g in enumerate(P.LOG_GROUPS)
    )
    twin = f"""
      SELECT doc_id, text, NOT _m AS _error, {groups}
      FROM (SELECT doc_id, text, split_part(text, chr(10), 1) AS _line,
                   regexp_matches(split_part(text, chr(10), 1), '{pat}') AS _m
            FROM docs)"""
    out = PR.regex_parser(df, P.LOG_PATTERN, P.LOG_GROUPS)
    assert spark_rows(out) == duck_rows(con, twin)
    errors = {r["doc_id"]: r["_error"] for r in out.collect()}
    assert errors == {0: True, 1: True, 2: True, 3: False, 4: False, 5: False, 6: True, 7: True}
    for d in ("\n", " "):
        cut = spark_rows(df.select("doc_id", F.substring_index("text", d, 1).alias("c")))
        assert cut == spark_rows(
            df.select("doc_id", F.split_part("text", F.lit(d), F.lit(1)).alias("c"))
        )


def test_single_pass_contributions_match_compacted_explode(spark):
    """Exploding the contribution array as built and filtering NULLs
    after it gives the rows of the old ``explode(filter(array(...),
    x -> x IS NOT NULL))`` form: a row that fires no metric def, one that
    fires all seven, one with NULL dims (only the defaulted dim fires)."""
    import datetime as dt

    from sparkotel.parity import spark_rows
    from sparkotel.pipeline import SINK_METRICS

    ts = dt.datetime(2024, 3, 15)
    df = spark.createDataFrame(
        [
            (ts, "none", False, "FR", 200, 100, "h1", "English", "bob"),
            (ts + dt.timedelta(seconds=1), "other", True, "DE", 500, 5000, "h2", "German", "eve"),
            (ts + dt.timedelta(seconds=2), "other", True, None, None, None, None, None, None),
        ],
        "warc_ts timestamp, route string, fan_out boolean, geo_country string,"
        " status int, nbytes bigint, host string, lang_name string, user string",
    )

    def compacted(copy_conds):
        entries = A.contributions(SINK_METRICS, "route", copy_conds)
        arr = F.filter(F.array(*entries), lambda x: x.isNotNull())
        ex = df.select(F.col("warc_ts").alias("_ts"), F.explode(arr).alias("e"))
        return ex.groupBy(
            F.col("e.sink").alias("sink"),
            F.col("e.metric_name").alias("metric_name"),
            F.col("e.dims").alias("dims"),
        ).agg(
            F.sum("e.v").alias("value"),
            F.min("_ts").alias("start_ts"),
            F.max("_ts").alias("end_ts"),
        )

    fan_out = {s: "fan_out" for s in SINK_METRICS}
    for copy_conds, n_groups in ((fan_out, 8), ({"de": "geo_country = 'DE'"}, 5)):
        got = A.connector_metrics_single_pass(df, SINK_METRICS, copy_conds=copy_conds)
        want = spark_rows(compacted(copy_conds))
        assert spark_rows(got) == want and len(want) == n_groups


def test_attraction_ordering(spark, logs):
    out = E.apply_actions(
        logs,
        [
            {"action": "insert", "key": "env", "value": F.lit("prod")},
            {"action": "insert", "key": "env", "value": F.lit("IGNORED")},  # present → no-op
            {"action": "update", "key": "missing", "value": F.lit("x")},  # absent → no-op
            {"action": "upsert", "key": "host", "value": F.upper("host")},
            {"action": "hash", "key": "body"},
            {"action": "convert", "key": "status", "to": "string"},
        ],
    )
    r = out.filter("id = 1").first()
    assert r["env"] == "prod" and "missing" not in out.columns
    assert r["host"] == "A.COM" and len(r["body"]) == 64 and r["status"] == "200"


def test_route_copy_semantics(spark, logs):
    routes = [
        Route("status >= 500", "errors", "move"),
        Route("host = 'a.com'", "a_copy", "copy"),
    ]
    outs = route_outputs(logs, routes, "rest")
    got = {k: sorted(r["id"] for r in v.collect()) for k, v in outs.items()}
    assert got["errors"] == [2, 3, 4]
    # copy AFTER a move sees only the remaining stream (logs.go:66-160):
    # id 2 (a.com, 5xx) was consumed by route 1
    assert got["a_copy"] == [1]
    assert got["rest"] == [1]

    # copy BEFORE the move still sees the row, and the later move still
    # consumes it (copies never consume)
    outs2 = route_outputs(
        logs,
        [Route("host = 'a.com'", "a_copy", "copy"), Route("status >= 500", "errors", "move")],
        "rest",
    )
    got2 = {k: sorted(r["id"] for r in v.collect()) for k, v in outs2.items()}
    assert got2["a_copy"] == [1, 2] and got2["errors"] == [2, 3, 4] and got2["rest"] == [1]


def test_route_resource_context(spark):
    """resource-context routes move the WHOLE resource group (= host) when
    ANY of its records matches — including records that individually fail
    the predicate (plogutil.MoveResourcesIf, router.go:230-259)."""
    from sparkotel.operators.route import assign_routes

    df = spark.createDataFrame(
        [
            (1, "a.com", 200),  # a.com has a 5xx → whole host to incident
            (2, "a.com", 503),
            (3, "b.com", 404),  # no 5xx on b.com → record-context route
            (4, "b.com", 200),
            (5, "c.com", None),  # null condition = no match
        ],
        "id long, host string, status int",
    )
    routes = [
        Route("status >= 500", "incident", "move", context="resource"),
        Route("status >= 400", "errors", "move"),
    ]
    out = assign_routes(df, routes, "ok", resource_keys=["host"])
    got = {r["id"]: r["route"] for r in out.collect()}
    assert got == {1: "incident", 2: "incident", 3: "errors", 4: "ok", 5: "ok"}

    # resource-context copy: whole group duplicated, nothing consumed
    outs = route_outputs(
        df,
        [Route("status >= 500", "inc_copy", "copy", context="resource")],
        "rest",
        resource_keys=["host"],
    )
    got_c = {k: sorted(r["id"] for r in v.collect()) for k, v in outs.items()}
    assert got_c["rest"] == [1, 2, 3, 4, 5]
    assert got_c["inc_copy"] == [1, 2]


def test_roundrobin(spark, logs):
    from sparkotel.operators.route import round_robin

    out = round_robin(logs, 3, "id")
    assert {r["shard"] for r in out.collect()} == {0, 1, 2}


def test_log_dedup(spark, logs):
    out = A.log_dedup(logs.withColumnRenamed("id", "url"), ["host", "body"], "ts", "url")
    r = {(x["host"], x["body"]): x for x in out.collect()}
    dup = r[("b.com", "y=9")]
    assert dup["log_count"] == 2 and dup["url"] == 3
    assert dup["first_observed"] < dup["last_observed"]


def test_group_by_attrs(spark, logs):
    out = A.group_by_attrs(logs, ["host"])
    assert "resource_host" in out.columns and "host" not in out.columns


def test_sampler_deterministic(spark, logs):
    a = sorted(r["id"] for r in probabilistic_sampler(logs, 50.0, "id", mode="hash").collect())
    b = sorted(r["id"] for r in probabilistic_sampler(logs, 50.0, "id", mode="hash").collect())
    assert a == b  # reproducible, unlike rand()


def test_redact(spark, logs):
    df = PR.key_value_parser(logs, "body")
    out = redact(df, allowed_keys=["x"], blocked_values=[r"\d"])
    m = {r["id"]: r["attributes"] for r in out.collect()}
    assert m[1] == {"x": "****"} and "y" not in m[1]


def test_recombine_groups(spark):
    df = spark.createDataFrame(
        [
            ("s1", 1, "START a"),
            ("s1", 2, "  cont"),
            ("s1", 3, "START b"),
            ("s2", 1, "START c"),
        ],
        "src string, off int, line string",
    )
    out = RC.recombine(df, "src", "off", "line", F.col("line").startswith("START"))
    got = {(r["src"], r["group_id"]): r for r in out.collect()}
    assert got[("s1", 1)]["combined"] == "START a\n  cont"
    assert got[("s1", 2)]["combined"] == "START b"
    assert got[("s2", 1)]["n_lines"] == 1


def test_transformers_unit(spark, logs):
    df = T.add(logs, "k", "v")
    df = T.copy_field(df, "host", "h2")
    df = T.move(df, "h2", "h3")
    df = T.unquote(df.withColumn("qq", F.lit('"q"')), "qq")
    df = T.assign_keys(df.withColumn("arr", F.split(F.lit("a,b"), ",")), "arr", ["p1", "p2"])
    r = df.first()
    assert r["k"] == "v" and r["h3"] == r["host"] and r["qq"] == "q"
    assert r["p1"] == "a" and r["p2"] == "b"
    assert "arr" not in df.columns and "h2" not in df.columns
    # a key past the end of the list is NULL, as DuckDB's list[k]
    short = logs.limit(1).withColumn("arr", F.split(F.col("host"), ","))
    r = T.assign_keys(short, "arr", ["p1", "p2"]).first()
    assert r["p1"] == r["host"] and r["p2"] is None


def test_flatten_struct(spark):
    df = spark.createDataFrame([((1, "x"),)], "s struct<a:int,b:string>")
    out = T.flatten(df, "s")
    r = out.first()
    assert r["a"] == 1 and r["b"] == "x" and "s" not in out.columns


def test_flatten_map(spark):
    # map<string,map> shape: inner entries spliced up, sibling maps → JSON.
    df = spark.createDataFrame(
        [({"nested": {"a": "1"}, "other": {"z": "9"}},)],
        "m map<string,map<string,string>>",
    )
    r = T.flatten_map(df, "m", "nested").first()
    assert r["m"]["a"] == "1" and "nested" not in r["m"]
    assert '"z":"9"' in r["m"]["other"].replace(" ", "")
    # map<string,string> shape with a JSON-encoded inner object.
    df2 = spark.createDataFrame(
        [({"nested": '{"a":"1","b":"2"}', "keep": "v"},), ({"keep": "w"},)],
        "m map<string,string>",
    )
    rows = T.flatten_map(df2, "m", "nested").collect()
    assert rows[0]["m"] == {"keep": "v", "a": "1", "b": "2"}
    assert rows[1]["m"] == {"keep": "w"}


def test_unroll(spark):
    df = spark.createDataFrame([(1, ["a", "b"])], "id int, xs array<string>")
    out = T.unroll(df, "xs", "x")
    assert [r["x"] for r in out.collect()] == ["a", "b"]


def test_interval_and_delta(spark, logs):
    iv = A.interval_agg(logs, "1 hour", dims=("host",), ts_col="ts", value_col="status")
    assert iv.count() == 2  # (01h, a.com) and (02h, b.com)
    cum = A.delta_to_cumulative(logs, ["host"], ["ts"], "status")
    m = {r["id"]: r["cumulative"] for r in cum.collect()}
    assert m[1] == 200 and m[2] == 700 and m[4] == 1000
    d = A.cumulative_to_delta(logs, ["host"], ["ts"], "status")
    md = {r["id"]: r["delta"] for r in d.collect()}
    assert md[1] is None and md[2] == 300 and md[4] == 0


def test_service_graph_edges(spark):
    """as-of pairing: match, no-preceding-client, tie ordering
    (connector/servicegraphconnector store semantics)."""
    rows = [
        # u1: client at t1, servers at t2 and t4, newer client at t3
        ("u1", 1, "2024-01-01 00:00:01", "client"),
        ("u1", 2, "2024-01-01 00:00:02", "server"),
        ("u1", 3, "2024-01-01 00:00:03", "client"),
        ("u1", 4, "2024-01-01 00:00:04", "server"),
        # u2: server with NO preceding client -> NULL edge
        ("u2", 5, "2024-01-01 00:00:05", "server"),
        ("u2", 6, "2024-01-01 00:00:06", "client"),
        # u3: client and server at the SAME ts -> event_id breaks the tie,
        # client (id 7) precedes server (id 8) so they pair
        ("u3", 7, "2024-01-01 00:00:07", "client"),
        ("u3", 8, "2024-01-01 00:00:07", "server"),
    ]
    df = spark.createDataFrame(
        rows, "user_id string, event_id int, ts_s string, event_type string"
    ).withColumn("ts", F.col("ts_s").cast("timestamp"))
    out = A.service_graph_edges(
        df,
        key_cols=("user_id",),
        order_cols=("ts", "event_id"),
        type_col="event_type",
        client_type="client",
        server_type="server",
        ts_col="ts",
    )
    edges = {
        (r["user_id"], str(r["server_ts"])): (
            str(r["client_ts"]) if r["client_ts"] else None,
            r["latency_seconds"],
        )
        for r in out.collect()
    }
    assert edges[("u1", "2024-01-01 00:00:02")] == ("2024-01-01 00:00:01", 1.0)
    # most RECENT preceding client wins (t3, not t1)
    assert edges[("u1", "2024-01-01 00:00:04")] == ("2024-01-01 00:00:03", 1.0)
    assert edges[("u2", "2024-01-01 00:00:05")] == (None, None)
    assert edges[("u3", "2024-01-01 00:00:07")] == ("2024-01-01 00:00:07", 0.0)


def test_syslog_rfc5424(spark):
    """5424 branch: version, nil values, multi-element SD, octet framing
    (operator/parser/syslog/parser.go:61-510)."""
    line = (
        '<165>1 2003-10-11T22:14:15.003Z mymachine.example.com evntslog 123 ID47 '
        '[exampleSDID@32473 iut="3" eventSource="Application"][other x="y"] An application log'
    )
    df = spark.createDataFrame([(line,), ("<34>1 - - - - - -",)], "text string")
    out = {r["pri"]: r for r in PR.syslog_parser_5424(df).collect()}
    r = out["165"]
    assert r["version"] == 1 and r["facility"] == 20 and r["syslog_severity"] == 5
    assert r["hostname"] == "mymachine.example.com" and r["appname"] == "evntslog"
    assert r["proc_id"] == 123 and r["msgid"] == "ID47"
    assert r["message"] == "An application log"
    assert r["structured_data"]["exampleSDID@32473.iut"] == "3"
    assert r["structured_data"]["exampleSDID@32473.eventSource"] == "Application"
    assert r["structured_data"]["other.x"] == "y"
    assert str(r["log_ts"]).startswith("2003-10-11 22:14:15")
    nil = out["34"]
    assert nil["hostname"] is None and nil["msgid"] is None
    assert nil["structured_data"] == {}
    # octet-counting framing (RFC6587): length prefix stripped
    framed = spark.createDataFrame([(f"{len(line)} {line}",)], "text string")
    r2 = PR.syslog_parser_5424(framed, octet_counting=True).first()
    assert r2["hostname"] == "mymachine.example.com"


def test_container_recombine(spark):
    """CRI 'P' lines join with following lines through the next 'F'
    (container/parser.go recombine wiring); docker rows pass through."""
    rows = [
        ("c1", 1, "2024-01-01T00:00:00Z stdout P hel"),
        ("c1", 2, "2024-01-01T00:00:00Z stdout P lo "),
        ("c1", 3, "2024-01-01T00:00:00Z stdout F world"),
        ("c1", 4, "2024-01-01T00:00:01Z stdout F single"),
        ("c2", 5, '{"log":"docker line\\n","stream":"stdout","time":"t"}'),
        # docker >16KB split: chunk without trailing \n is partial and
        # joins the next chunk (the daemon's record separator rule)
        ("c3", 6, '{"log":"big-part1 ","stream":"stdout","time":"t"}'),
        ("c3", 7, '{"log":"big-part2\\n","stream":"stdout","time":"t"}'),
    ]
    df = spark.createDataFrame(rows, "container string, ord int, line string")
    out = PR.container_recombine(df, "container", "ord")
    got = {(r["container"], r["first_ord"]): (r["combined"], r["n_lines"]) for r in out.collect()}
    assert got[("c1", 1)] == ("hello world", 3)
    assert got[("c1", 4)] == ("single", 1)
    assert got[("c2", 5)] == ("docker line", 1)
    assert got[("c3", 6)] == ("big-part1 big-part2", 2)


def test_gotime_layouts_and_tz_abbrevs(spark):
    """gotime reference layouts + tz-abbreviation normalization
    (helper/time.go:95-224)."""
    df = spark.createDataFrame(
        [("15/Mar/2024:01:02:03 +0100",)], "t string"
    )
    out = PR.time_parser(df, "t", "02/Jan/2006:15:04:05 -0700", layout_type="gotime")
    assert str(out.first()["timestamp"]) == "2024-03-15 00:02:03"  # UTC session
    df2 = spark.createDataFrame([("2024 Mar 15 01:02:03 EST",)], "t string")
    out2 = PR.time_parser(df2, "t", "%Y %b %d %H:%M:%S %Z", layout_type="strptime")
    assert str(out2.first()["timestamp"]) == "2024-03-15 06:02:03"  # EST = UTC-5
    df3 = spark.createDataFrame([("2024 Mar 15 01:02:03 MST",)], "t string")
    out3 = PR.time_parser(df3, "t", "2006 Jan 02 15:04:05 MST", layout_type="gotime")
    assert str(out3.first()["timestamp"]) == "2024-03-15 08:02:03"  # MST = UTC-7


def test_hash_seed_sampler(spark):
    """FNV-1a-32 hash_seed mode matches the reference's computeHash
    bucketing (fnvhasher.go + sampler_mode.go:35-38)."""
    from sparkotel.functions.exacthash import fnv1a_32
    from sparkotel.operators.filter import hash_seed_sampler

    docs = spark.range(2000).selectExpr("cast(id as string) AS key")
    out = hash_seed_sampler(docs, 25.0, key="key", hash_seed=22)
    got = {r["key"] for r in out.collect()}
    seed = (22).to_bytes(4, "little")
    want = {
        str(i)
        for i in range(2000)
        if (fnv1a_32(seed + str(i).encode()) & 0x3FFF) < int(25.0 * 0x4000 / 100)
    }
    assert got == want
    assert 0.15 < len(got) / 2000 < 0.35  # ~25%


def test_drain_tree_templates(spark):
    """full Drain clustering: same-shape lines merge with <*> at variable
    positions; different lengths / first tokens stay separate clusters."""
    lines = [
        ("Receive block blk_1 from 10.0.0.1",),
        ("Receive block blk_2 from 10.0.0.2",),
        ("Receive block blk_3 from 10.0.0.9",),
        ("Delete block blk_4 now",),
        ("Delete block blk_5 now",),
        ("Totally different line shape here with many extra tokens",),
    ]
    df = spark.createDataFrame(lines, "line string")
    out = {r["template"]: r for r in PR.drain_tree_templates(df, sim_threshold=0.5).collect()}
    assert out["Receive block <*> from <*>"]["n"] == 3
    assert out["Delete block <*> now"]["n"] == 2
    assert out["Totally different line shape here with many extra tokens"]["n"] == 1
    # determinism: same result under different partitioning
    out2 = {
        r["template"]: r["n"]
        for r in PR.drain_tree_templates(df.repartition(5), sim_threshold=0.5).collect()
    }
    assert out2 == {k: v["n"] for k, v in out.items()}


def test_drain_tree_leaf_bound(spark):
    """a skewed corpus (every line shares token count + first two tree
    keys) must not concentrate in one Python task: identical lines
    collapse first, and a leaf over max_leaf DISTINCT lines salt-splits.
    The salt shards re-merge to the same templates."""
    # 1000 distinct lines + 5000 copies of one line, all in one tree leaf
    lines = spark.range(1000).selectExpr(
        "concat('session ', cast(id AS string), ' opened by admin') AS line"
    ).union(
        spark.range(5000).selectExpr("'session 0 opened by admin' AS line")
    )
    pre = PR._drain_pre(lines, "line", max_leaf=100)
    # identical-line flood collapsed to one distinct row per line
    assert pre.count() == 1000
    # the hot leaf split into ~10 salt shards, none oversized
    shards = pre.groupBy("n_tokens", "t1", "t2", "salt").count().collect()
    assert len(shards) >= 8
    assert max(r["count"] for r in shards) <= 200
    out = {r["template"]: r["n"] for r in PR.drain_tree_templates(lines, max_leaf=100).collect()}
    assert out == {"session <*> opened by admin": 6000}
    # bound disabled → identical result (salt shards merged cleanly)
    big = {r["template"]: r["n"] for r in PR.drain_tree_templates(lines).collect()}
    assert big == out


def test_exponential_histogram(spark):
    """full OTel exponential datapoint semantics (metrics.go:248-276):
    positive + negative halves bucketed on |v| with the spec mapping
    ceil(log2(|v|)*2^scale)-1 (upper-inclusive: exact power 4.0 at
    scale 3 lands in bucket 15, not 16), plus a zero bucket."""
    from sparkotel.operators import aggregate as A

    df = spark.createDataFrame(
        [(4.0,), (5.0,), (-4.0,), (0.0,), (1.0,)], "v double"
    )
    rows = {
        (r["sign"], r["bucket_index"]): r["bucket_count"]
        for r in A.exponential_histogram(df, "v", scale=3).collect()
    }
    assert rows == {
        ("positive", 15): 1,  # 4.0 = 2^2, upper-inclusive in (base^15, base^16]
        ("positive", 18): 1,  # 5.0: ceil(log2(5)*8)-1 = 18
        ("positive", -1): 1,  # 1.0 in (base^-1, 1]
        ("negative", 15): 1,  # |-4.0| mirrors the positive mapping
        ("zero", None): 1,
    }
    dp = A.exponential_histogram_datapoint(df, "v", scale=3).first()
    assert dp["count_value"] == 5 and dp["zero_count"] == 1
    assert dp["min_value"] == -4.0 and dp["max_value"] == 5.0
    assert dp["sum_value"] == 6.0 and dp["scale"] == 3


def test_split_by_pattern(spark):
    """split.go Config semantics: end-pattern tokens end at match end
    (+ EOF flush of the remainder), start-pattern tokens run between
    match starts (+ prefix flush), omit_pattern drops the delimiter."""
    from sparkotel.operators.recombine import split_by_pattern

    df = spark.createDataFrame([(1, "aENDbENDc")], "id long, text string")
    tok = lambda out: [r["line"] for r in out.orderBy("token_offset").collect()]
    assert tok(split_by_pattern(df, line_end_pattern="END")) == ["aEND", "bEND", "c"]
    assert tok(
        split_by_pattern(df, line_end_pattern="END", omit_pattern=True)
    ) == ["a", "b", "c"]

    df2 = spark.createDataFrame([(1, "xSTARTaSTARTb")], "id long, text string")
    assert tok(split_by_pattern(df2, line_start_pattern="START")) == [
        "x", "STARTa", "STARTb",
    ]
    assert tok(
        split_by_pattern(df2, line_start_pattern="START", omit_pattern=True)
    ) == ["x", "a", "b"]

    # multiline anchors work ((?m) like the reference's compile)
    df3 = spark.createDataFrame([(1, "one\nTWO three\nTWO four")], "id long, t string")
    assert tok(
        split_by_pattern(df3, text_col="t", line_start_pattern="^TWO")
    ) == ["one\n", "TWO three\n", "TWO four"]

    import pytest as _p
    with _p.raises(ValueError):
        split_by_pattern(df)
    with _p.raises(ValueError):
        split_by_pattern(df, line_start_pattern="a", line_end_pattern="b")


def test_stanza_filter_drop_ratio(spark):
    """transformer.go:26-99: matching entries drop; drop_ratio < 1 drops
    only the (deterministic-hash) fraction; NULL condition keeps."""
    import pytest

    from sparkotel.operators.filter import stanza_filter

    df = spark.range(1000).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") % 2 == 0, "error").otherwise("ok").alias("event_type"),
    )
    # ratio 1.0: every matching row drops
    full = stanza_filter(df, 'event_type == "error"', key="event_id")
    assert full.count() == 500
    assert full.where(F.col("event_type") == "error").count() == 0
    # ratio 0.5: roughly half the matching rows drop, non-matching all kept
    half = stanza_filter(df, 'event_type == "error"', drop_ratio=0.5, key="event_id")
    kept_err = half.where(F.col("event_type") == "error").count()
    assert 150 < kept_err < 350
    assert half.where(F.col("event_type") == "ok").count() == 500
    # deterministic: same rows every run
    assert sorted(r["event_id"] for r in half.collect()) == sorted(
        r["event_id"] for r in half.collect()
    )
    with pytest.raises(ValueError, match="drop_ratio"):
        stanza_filter(df, 'event_type == "error"', drop_ratio=0.0)


# ---------------------------------------------------------------------------
# geoip CIDR range semantics (SURVEY §2.5 escalation path)
# ---------------------------------------------------------------------------


def test_geoip_cidr_longest_prefix_and_misses(spark):
    """IP resolves WITHIN a block; among overlapping blocks the longest
    prefix wins (/30 beats /28 beats /24 beats /0); unmatched and
    malformed ips take the miss default
    (processor/geoipprocessor/geoip_processor.go:57-126)."""
    cidr = spark.createDataFrame(
        [
            ("10.0.0.0/24", "A0", 64000),
            ("10.0.0.16/28", "B1", 64501),
            ("10.0.0.20/30", "C20", 64900),
            ("10.1.0.0/16", "ZZ", 63000),
            ("0.0.0.0/0", "ALL", 1),
        ],
        "cidr string, geo_country string, geo_asn int",
    )
    df = spark.createDataFrame(
        [
            ("10.0.0.5",),  # /24 only
            ("10.0.0.17",),  # /28 beats /24
            ("10.0.0.21",),  # /30 beats /28 beats /24
            ("10.0.1.9",),  # only the /0 catch-all
            ("10.1.200.200",),  # the /16
            ("300.1.2.3",),  # octet out of range → miss
            ("not-an-ip",),  # malformed → miss
            (None,),  # NULL → miss
        ],
        "ip string",
    )
    got = {
        r["ip"]: (r["geo_country"], r["geo_asn"])
        for r in E.geoip_cidr_enrich(df, cidr, defaults={"geo_country": "--"}).collect()
    }
    assert got == {
        "10.0.0.5": ("A0", 64000),
        "10.0.0.17": ("B1", 64501),
        "10.0.0.21": ("C20", 64900),
        "10.0.1.9": ("ALL", 1),
        "10.1.200.200": ("ZZ", 63000),
        "300.1.2.3": ("--", None),
        "not-an-ip": ("--", None),
        None: ("--", None),
    }


def test_geoip_cidr_plan_no_fact_shuffle(spark, tmp_path):
    """Scale gate: the fact side must NOT shuffle and the range
    semantics must NOT plan as a BroadcastNestedLoopJoin — one
    BroadcastHashJoin per distinct prefix length, fact partitioning
    preserved (any Exchange in the plan keys on the dim-side _key)."""
    from test_plans import plan_of

    spark.range(0, 10_000).selectExpr(
        "concat('10.0.', CAST(id % 2 AS STRING), '.', CAST(id % 250 AS STRING)) AS ip",
        "id",
    ).write.mode("overwrite").parquet(str(tmp_path / "facts"))
    facts = spark.read.parquet(str(tmp_path / "facts"))
    cidr = spark.createDataFrame(
        [("10.0.0.0/24", "A0"), ("10.0.0.16/28", "B1"), ("10.1.0.0/16", "ZZ")],
        "cidr string, geo_country string",
    )
    plan = plan_of(E.geoip_cidr_enrich(facts, cidr, defaults={"geo_country": "--"}))
    assert "NestedLoop" not in plan
    # formatted output names each operator in the tree AND the details
    # section — count the detail headers "(N) BroadcastHashJoin"
    bhj = [
        line
        for line in plan.splitlines()
        if line.strip().startswith("(") and ") BroadcastHashJoin" in line
    ]
    assert len(bhj) == 3  # one per distinct plen
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "_key" in line, f"fact-side shuffle leaked: {line}"


def test_geoip_cidr_skips_out_of_range_prefix(spark):
    """A malformed block ('/40', '/-3') must be SKIPPED — the reference
    skips unparseable networks — not matched: Java's shift-amount & 63
    semantics would otherwise collapse both join keys to 0, making the
    bad block match EVERY ip and (numerically longest prefix) win every
    coalesce."""
    cidr = spark.createDataFrame(
        [("10.0.0.0/24", "A0"), ("10.0.0.0/40", "XX"), ("8.8.0.0/-3", "YY")],
        "cidr string, geo_country string",
    )
    df = spark.createDataFrame([("10.0.0.5",), ("9.9.9.9",)], "ip string")
    got = {
        r["ip"]: r["geo_country"]
        for r in E.geoip_cidr_enrich(df, cidr, defaults={"geo_country": "--"}).collect()
    }
    assert got == {"10.0.0.5": "A0", "9.9.9.9": "--"}


def test_geoip_cidr_all_blocks_unparseable(spark):
    """Zero valid prefix lengths (empty table, or every block skipped as
    unparseable) must yield the all-miss enrichment — defaults where
    given, typed NULL otherwise — not a plan-time coalesce() crash."""
    cidr = spark.createDataFrame(
        [("10.0.0.0/40", "XX", 1)], "cidr string, geo_country string, geo_asn int"
    )
    df = spark.createDataFrame([("10.0.0.5",), (None,)], "ip string")
    rows = E.geoip_cidr_enrich(df, cidr, defaults={"geo_country": "--"}).collect()
    assert {(r["geo_country"], r["geo_asn"]) for r in rows} == {("--", None)}
    empty = cidr.limit(0)
    rows = E.geoip_cidr_enrich(df, empty, defaults={"geo_country": "--"}).collect()
    assert {(r["geo_country"], r["geo_asn"]) for r in rows} == {("--", None)}
