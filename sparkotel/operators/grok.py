"""Grok pattern expansion → native regex parse.

Mirrors OTTL ``ExtractGrokPatterns``
(/root/reference/pkg/ottl/ottlfuncs/func_extract_grok_patterns.go:39-126):
a grok expression of ``%{PATTERN:name}`` / ``%{PATTERN:name:type}``
references is expanded (recursively, against a built-in + custom
dictionary) into one regex with named groups at PLAN TIME on the
driver; execution is the ordinary vectorized regex parse (native
``regexp_extract``, the parse stage's one engine) — per-row grok
interpretation never happens.

Typed captures (``:int``/``:float``) cast after extraction, like
go-grok's typed captures (func_extract_grok_patterns.go:109-122).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkotel.operators.parse import regex_parser

# core subset of the go-grok default pattern set (public grok dictionary)
GROK_PATTERNS: dict[str, str] = {
    "WORD": r"\b\w+\b",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"(?:[+-]?(?:[0-9]+))",
    "NUMBER": r"(?:[+-]?(?:[0-9]+(?:\.[0-9]+)?))",
    "BASE16NUM": r"(?:0[xX])?[0-9a-fA-F]+",
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "USER": r"[a-zA-Z0-9._-]+",
    "IPV4": r"(?:[0-9]{1,3}\.){3}[0-9]{1,3}",
    "IP": r"(?:[0-9]{1,3}\.){3}[0-9]{1,3}",
    "HOSTNAME": r"\b(?:[0-9A-Za-z][0-9A-Za-z-]{0,62})(?:\.(?:[0-9A-Za-z][0-9A-Za-z-]{0,62}))*\.?\b",
    "IPORHOST": r"\S+",
    "MONTH": r"\b(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)\b",
    "MONTHDAY": r"(?:0[1-9]|[12][0-9]|3[01]|[1-9])",
    "YEAR": r"(?:\d\d){1,2}",
    "TIME": r"[0-9]{2}:[0-9]{2}:[0-9]{2}",
    "HTTPDATE": r"[0-9]{2}/\w{3}/[0-9]{4}:[0-9]{2}:[0-9]{2}:[0-9]{2} [+-][0-9]{4}",
    "LOGLEVEL": r"(?:[Tt]race|TRACE|[Dd]ebug|DEBUG|[Ii]nfo|INFO|[Ww]arn(?:ing)?|WARN(?:ING)?|[Ee]rr(?:or)?|ERR(?:OR)?|[Ff]atal|FATAL)",
    "SYSLOGTIMESTAMP": r"\w{3} (?:[12][0-9]|3[01]| [1-9]|0[1-9]) [0-9]{2}:[0-9]{2}:[0-9]{2}",
    "QUOTEDSTRING": r'"(?:[^"\\]|\\.)*"',
    "UUID": r"[A-Fa-f0-9]{8}-(?:[A-Fa-f0-9]{4}-){3}[A-Fa-f0-9]{12}",
    # round-2 additions from the grok-patterns base set the reference's
    # ExtractGrokPatterns ships (vjeantet/grok default dictionary)
    "POSINT": r"\b(?:[1-9][0-9]*)\b",
    "NONNEGINT": r"\b(?:[0-9]+)\b",
    "BASE10NUM": r"(?<![0-9.+-])(?>[+-]?(?:(?:[0-9]+(?:\.[0-9]+)?)|(?:\.[0-9]+)))",
    "BASE16FLOAT": r"\b(?:0[xX])?(?:[0-9A-Fa-f]+(?:\.[0-9A-Fa-f]*)?|\.[0-9A-Fa-f]+)\b",
    "IPV6": r"(?:[0-9A-Fa-f]{0,4}:){2,7}[0-9A-Fa-f]{0,4}(?:%\w+)?",
    "MAC": r"(?:[A-Fa-f0-9]{2}[:-]){5}[A-Fa-f0-9]{2}",
    "ISO8601_TIMEZONE": r"(?:Z|[+-][0-9]{2}(?::?[0-9]{2})?)",
    "TIMESTAMP_ISO8601": (
        r"(?:\d\d){1,2}-(?:0[1-9]|1[0-2])-(?:0[1-9]|[12][0-9]|3[01])"
        r"[T ][0-9]{2}:[0-9]{2}(?::[0-9]{2}(?:\.[0-9]+)?)?"
        r"(?:Z|[+-][0-9]{2}(?::?[0-9]{2})?)?"
    ),
    "DATE_US": r"(?:0[1-9]|1[0-2])[/-](?:0[1-9]|[12][0-9]|3[01]|[1-9])[/-](?:\d\d){1,2}",
    "DATE_EU": r"(?:0[1-9]|[12][0-9]|3[01]|[1-9])[./-](?:0[1-9]|1[0-2])[./-](?:\d\d){1,2}",
    "DAY": r"(?:Mon(?:day)?|Tue(?:sday)?|Wed(?:nesday)?|Thu(?:rsday)?|Fri(?:day)?|Sat(?:urday)?|Sun(?:day)?)",
    "URIPROTO": r"[A-Za-z][A-Za-z0-9+.-]+",
    "URIHOST": r"\S+?(?::[0-9]+)?",
    "URIPATH": r"(?:/[A-Za-z0-9$.+!*'(){},~:;=@#%&_\[\]\-]*)+",
    "URIPARAM": r"\?[A-Za-z0-9$.+!*'|(){},~@#%&/=:;_?\[\]<>-]*",
    "PATH": r"(?:/[\w_%!$@:.,~-]+)+",
    "EMAILADDRESS": r"[a-zA-Z0-9_.+-]+@[a-zA-Z0-9-]+(?:\.[a-zA-Z0-9-]+)+",
    "PROG": r"[\w._/%-]+",
    "SYSLOGPROG": r"[\w._/%-]+(?:\[[0-9]+\])?",
    "HTTPDUSER": r"[a-zA-Z0-9._-]+|-",
}
# AWS ELB URI family (elastic/go-grok patterns, ECS field names — the
# library func_extract_grok_patterns.go resolves %{ELB_URI} against)
GROK_PATTERNS.update({
    "ELB_URIQUERY": r"[A-Za-z0-9$.+!*'|(){},~@#%&/=:;_?\-\[\]<>]*",
    "ELB_URIPATH": r"(?:/[A-Za-z0-9$.+!*'|(){},~:;=@#%&_\-]*)+",
    "ELB_URIHOST": "%{IPORHOST:url.domain}(?::%{POSINT:url.port:int})?",
    "ELB_URIPATHQUERY": r"%{ELB_URIPATH:url.path}(?:\?%{ELB_URIQUERY:url.query})?",
    "ELB_URI": "%{URIPROTO:url.scheme}://(?:%{USER:url.username}(?::[^@]*)?@)?"
               "(?:%{ELB_URIHOST})?(?:%{ELB_URIPATHQUERY})?",
})
GROK_PATTERNS["IPORHOST"] = "(?:%{IP}|%{HOSTNAME})"
# remainder of the go-grok base dictionary (public grok pattern set) —
# the long tail users hit when porting dashboards/configs verbatim
GROK_PATTERNS.update({
    "BOOLEAN": r"(?:true|false|TRUE|FALSE|True|False)",
    "EMAILLOCALPART": r"[a-zA-Z0-9!#$%&'*+\-/=?^_`{|}~]{1,64}"
                      r"(?:\.[a-zA-Z0-9!#$%&'*+\-/=?^_`{|}~]{1,62}){0,63}",
    "HOSTPORT": "%{IPORHOST}:%{POSINT}",
    "CISCOMAC": r"(?:[A-Fa-f0-9]{4}\.){2}[A-Fa-f0-9]{4}",
    "WINDOWSMAC": r"(?:[A-Fa-f0-9]{2}-){5}[A-Fa-f0-9]{2}",
    "COMMONMAC": r"(?:[A-Fa-f0-9]{2}:){5}[A-Fa-f0-9]{2}",
    "TTY": r"(?:/dev/(?:pts|tty(?:[pq])?)(?:\w+)?/?(?:[0-9]+))",
    "WINPATH": r"(?:[A-Za-z]+:|\\)(?:\\[^\\?*]*)+",
    "UNIXPATH": r"(?:/[\w_%!$@:.,+~-]+)+",
    "URIPATHPARAM": "%{URIPATH}(?:%{URIPARAM})?",
    # URIHOST above is a deliberately loose non-greedy form; URI needs
    # the classic greedy host (IPORHOST + optional port)
    "URI": "%{URIPROTO}://(?:%{USER}(?::[^@]*)?@)?"
           "(?:%{IPORHOST}(?::%{POSINT})?)?(?:%{URIPATHPARAM})?",
    "QS": "%{QUOTEDSTRING}",
    "HOUR": r"(?:2[0123]|[01]?[0-9])",
    "MINUTE": r"(?:[0-5][0-9])",
    "SECOND": r"(?:(?:[0-5]?[0-9]|60)(?:[:.,][0-9]+)?)",
    "DATE": "%{DATE_US}|%{DATE_EU}",
    "DATESTAMP": r"%{DATE}[- ]%{TIME}",
    "TZ": r"(?:[APMCE][SD]T|UTC|GMT)",
    "DATESTAMP_RFC822": "%{DAY} %{MONTH} %{MONTHDAY} %{YEAR} %{TIME} %{TZ}",
    "DATESTAMP_RFC2822": "%{DAY}, %{MONTHDAY} %{MONTH} %{YEAR} %{TIME} "
                         "%{ISO8601_TIMEZONE}",
    "DATESTAMP_OTHER": "%{DAY} %{MONTH} %{MONTHDAY} %{TIME} %{TZ} %{YEAR}",
    "DATESTAMP_EVENTLOG": "%{YEAR}%{MONTHNUM2}%{MONTHDAY}%{HOUR}%{MINUTE}%{SECOND}",
    "MONTHNUM": r"(?:0?[1-9]|1[0-2])",
    "MONTHNUM2": r"(?:0[1-9]|1[0-2])",
    "SYSLOGHOST": "%{IPORHOST}",
    "SYSLOGFACILITY": r"<%{NONNEGINT:log.syslog.facility.code:int}"
                      r"\.%{NONNEGINT:log.syslog.priority:int}>",
    "SYSLOGBASE": r"%{SYSLOGTIMESTAMP:timestamp} (?:%{SYSLOGFACILITY} )?"
                  r"%{SYSLOGHOST:host.hostname} %{SYSLOGPROG}:",
})
GROK_PATTERNS["COMMONAPACHELOG"] = (
    '%{IP:clientip} - %{NOTSPACE:auth} \\[%{HTTPDATE:timestamp}\\] '
    '"%{WORD:verb} %{NOTSPACE:request} HTTP/%{NUMBER:httpversion}" '
    '%{INT:response:int} %{INT:bytes:int}'
)

_REF = re.compile(r"%\{(\w+)(?::([\w@.\[\]]+))?(?::(int|float))?\}")


def expand_grok(
    expr: str, custom: dict[str, str] | None = None, _depth: int = 0
) -> tuple[str, list[tuple[str, str | None]]]:
    """grok expr → (regex with positional groups, [(name, type)])."""
    if _depth > 20:
        raise ValueError("grok: pattern recursion too deep")
    patterns = {**GROK_PATTERNS, **(custom or {})}
    captures: list[tuple[str, str | None]] = []

    def sub(m: re.Match) -> str:
        name, field, typ = m.group(1), m.group(2), m.group(3)
        if name not in patterns:
            raise KeyError(f"grok: unknown pattern %{{{name}}}")
        inner, inner_caps = expand_grok(patterns[name], custom, _depth + 1)
        if field:
            # plain (positional) capture group: named-group syntax differs
            # between Java ((?<n>)) and python ((?P<n>)) regex; extraction
            # is by index, names ride along in `captures` order.  The raw
            # field name is preserved (go-grok ECS names like url.scheme
            # keep their dots); column-producing callers sanitize.
            captures.append((field.replace("[", ".").replace("]", "").lstrip("."), typ))
            captures.extend(inner_caps)
            return f"({inner})"
        captures.extend(inner_caps)
        return f"(?:{inner})"

    out = _REF.sub(sub, expr)
    return out, captures


def grok_parser(
    df: DataFrame,
    expr: str,
    parse_from: str = "text",
    custom: dict[str, str] | None = None,
    on_error: str = "send",
    line1: bool = True,
    named_captures_only: bool = True,
) -> DataFrame:
    """ExtractGrokPatterns as a DataFrame stage.

    ``named_captures_only`` mirrors the reference's switch (unnamed
    top-level pattern groups are not emitted either way here, since
    expansion wraps them non-capturing)."""
    regex, captures = expand_grok(expr, custom)
    # column names can't carry dots — sanitize at the DataFrame layer only
    captures = [(re.sub(r"\W", "_", n), t) for n, t in captures]
    groups = [c[0] for c in captures]
    df = regex_parser(df, regex, groups, parse_from, on_error, line1)
    for name, typ in captures:
        if typ == "int":
            df = df.withColumn(name, F.col(name).cast("bigint"))
        elif typ == "float":
            df = df.withColumn(name, F.col(name).cast("double"))
    return df
