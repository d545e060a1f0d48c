"""Pipeline spec — the declarative config surface (our "YAML").

Mirrors the reference's collector config shape: receivers → processors
→ connectors → exporters becomes source → parse → enrich → routes →
sinks(+metrics).  Specs are JSON (tests/fixtures/pipeline_m1.json);
dataclasses keep the schema honest.

Reference anatomy being mirrored: operator configs self-register and
deserialize from YAML (pkg/stanza/operator/registry.go,
operator/parser/regex/config.go:49-92); the routing table is an ordered
list with per-route conditions (connector/routingconnector/config.go);
count-connector metric defs carry conditions/dims/default_value
(connector/countconnector/config.go).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field


@dataclass
class ParseSpec:
    pattern: str
    groups: list[str]
    on_error: str = "send"
    time_from: str | None = None
    time_layout: str = "%d/%b/%Y:%H:%M:%S"
    severity_from: str | None = None
    severity_mapping: list[list[str]] = field(
        default_factory=lambda: [["5xx", "error"], ["4xx", "warn"], ["2xx", "info"], ["3xx", "info"]]
    )
    int_fields: list[str] = field(default_factory=list)


@dataclass
class LookupSpec:
    table: str  # 'geo_by_ip' | 'lang_names' | a parquet path
    key: str
    lookup_key: str | None = None
    defaults: dict = field(default_factory=dict)


@dataclass
class RouteSpec:
    condition: str  # OTTL condition (compiled by sparkotel.expr)
    sink: str
    mode: str = "move"


@dataclass
class MetricSpec:
    name: str
    conditions: list[str] = field(default_factory=list)
    dims: list[str] = field(default_factory=list)
    defaults: dict = field(default_factory=dict)
    sum_attr: str | None = None


@dataclass
class PipelineSpec:
    parse: ParseSpec
    lookups: list[LookupSpec] = field(default_factory=list)
    transform_statements: list[str] = field(default_factory=list)  # OTTL
    filters: list[str] = field(default_factory=list)  # OTTL drop conditions
    routes: list[RouteSpec] = field(default_factory=list)
    default_sink: str = "other"
    metrics: dict[str, list[MetricSpec]] = field(default_factory=dict)
    n_buckets: int = 16

    @classmethod
    def from_json(cls, path: str) -> "PipelineSpec":
        with open(path) as f:
            raw = json.load(f)
        return cls(
            parse=ParseSpec(**raw["parse"]),
            lookups=[LookupSpec(**x) for x in raw.get("lookups", [])],
            transform_statements=raw.get("transform_statements", []),
            filters=raw.get("filters", []),
            routes=[RouteSpec(**x) for x in raw.get("routes", [])],
            default_sink=raw.get("default_sink", "other"),
            metrics={
                sink: [MetricSpec(**m) for m in defs]
                for sink, defs in raw.get("metrics", {}).items()
            },
            n_buckets=raw.get("n_buckets", 16),
        )
