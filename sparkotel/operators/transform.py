"""Field transformers — the stanza transformer operator family.

Reference (all under /root/reference/pkg/stanza/operator/transformer/):
add (add/transformer.go:37), remove, copy, move, retain, flatten,
assign_keys, unquote, regex_replace, sanitize_utf8, noop.  Each stanza
operator supports an ``if`` gate (helper/transformer.go:180-194) —
exposed here as the optional ``if_cond`` argument: rows failing the
gate pass through unchanged.

These are all zero-shuffle projections; Catalyst collapses chains of
them into a single whole-stage-codegen'd project node.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparkotel.expr import compile_condition


def _gate(df: DataFrame, col: str, new: Column, if_cond: str | Column | None) -> DataFrame:
    if if_cond is None:
        return df.withColumn(col, new)
    cond = compile_condition(df, if_cond) if isinstance(if_cond, str) else if_cond
    old = F.col(col) if col in df.columns else F.lit(None)
    return df.withColumn(col, F.when(cond, new).otherwise(old))


def add(df: DataFrame, field: str, value, if_cond=None) -> DataFrame:
    """add: static value or EXPR(...) (add/transformer.go:37)."""
    new = value if isinstance(value, Column) else F.lit(value)
    return _gate(df, field, new, if_cond)


def add_expr(df: DataFrame, field: str, sql_expr: str, if_cond=None) -> DataFrame:
    """add with EXPR(...) value — expr-lang ≈ Spark SQL expression."""
    return _gate(df, field, F.expr(sql_expr), if_cond)


def remove(df: DataFrame, fields: Sequence[str]) -> DataFrame:
    return df.drop(*fields)


def copy_field(df: DataFrame, src: str, dst: str, if_cond=None) -> DataFrame:
    return _gate(df, dst, F.col(src), if_cond)


def move(df: DataFrame, src: str, dst: str) -> DataFrame:
    return df.withColumnRenamed(src, dst)


def retain(df: DataFrame, fields: Sequence[str]) -> DataFrame:
    return df.select(*fields)


def flatten(df: DataFrame, struct_col: str, prefix: str = "") -> DataFrame:
    """lift nested struct one level (flatten/transformer.go:35)."""
    sub = df.schema[struct_col].dataType
    for f in sub.fields:
        df = df.withColumn(f"{prefix}{f.name}", F.col(f"{struct_col}.{f.name}"))
    return df.drop(struct_col)


def flatten_map(df: DataFrame, outer: str, inner_key: str) -> DataFrame:
    """flatten for map-typed nesting: splice entries of m[k] into m, dropping k
    (flatten/transformer.go:35-52, map-bodied branch).

    Two schema shapes are supported, both yielding ``map<string,string>``
    (Spark maps are homogeneous, so sibling nested maps are canonicalized to
    their JSON encoding — stanza's heterogeneous body can't be represented
    directly):
    * ``map<string, map<string,string>>`` — splice the inner map's entries;
      remaining nested-map siblings become JSON strings;
    * ``map<string, string>`` whose ``inner_key`` value holds a JSON object
      (the common shape after a json_parser stage) — ``from_json`` then splice.
    """
    from pyspark.sql.types import MapType, StringType

    dt = df.schema[outer].dataType
    if not isinstance(dt, MapType):
        raise TypeError(f"flatten_map requires a map column, got {dt.simpleString()}")
    rest = F.map_filter(F.col(outer), lambda k, _: k != F.lit(inner_key))
    inner = F.col(outer).getItem(inner_key)
    empty = F.create_map().cast("map<string,string>")
    if isinstance(dt.valueType, MapType):
        rest = F.transform_values(rest, lambda _, v: F.to_json(v))
        spliced = F.map_concat(rest, F.coalesce(inner, empty))
    else:
        parsed = F.from_json(inner, MapType(StringType(), StringType()))
        spliced = F.map_concat(rest, F.coalesce(parsed, empty))
    return df.withColumn(outer, spliced)


def assign_keys(df: DataFrame, arr_col: str, keys: Sequence[str]) -> DataFrame:
    """name positional list items (assignkeys/transformer.go:30); a key
    past the end of the list is NULL."""
    for i, k in enumerate(keys):
        df = df.withColumn(k, F.try_element_at(F.col(arr_col), F.lit(i + 1)))
    return df.drop(arr_col)


def unquote(df: DataFrame, field: str, if_cond=None) -> DataFrame:
    """strip one layer of wrapping double quotes (unquote/transformer.go:31)."""
    c = F.col(field)
    new = F.when(
        c.startswith('"') & c.endswith('"') & (F.length(c) >= 2),
        F.substring(c, 2, F.length(c) - 2),
    ).otherwise(c)
    return _gate(df, field, new, if_cond)


def regex_replace(df: DataFrame, field: str, pattern: str, replacement: str, if_cond=None) -> DataFrame:
    return _gate(df, field, F.regexp_replace(F.col(field), pattern, replacement), if_cond)


def sanitize_utf8(df: DataFrame, field: str) -> DataFrame:
    """replace invalid UTF-8 (sanitizeutf8/transformer.go:66-90) — a
    lossy decode/encode round-trip; valid input is a no-op."""
    return df.withColumn(field, F.decode(F.encode(F.col(field), "UTF-8"), "UTF-8"))


def noop(df: DataFrame) -> DataFrame:
    return df


def unroll(df: DataFrame, arr_col: str, out: str) -> DataFrame:
    """unrollprocessor: explode slice-bodied record into N records
    inheriting metadata (processor/unrollprocessor/README.md:27-33)."""
    return df.withColumn(out, F.explode(F.col(arr_col))).drop(arr_col)
