"""The one Spark-vs-DuckDB compare: both engines' rows go through ``norm``
as tuples over sorted column names, sorted by ``repr``.  DuckDB is read
with ``fetchall()``, not pandas (which turns a NULL integer into NaN), so
a NULL stays ``None`` and a NaN stays ``"NaN"`` on both sides."""

from __future__ import annotations

import datetime as dt
import decimal
import math

import duckdb

from sparkotel.pages import TABLES


def norm(v):
    """One value in the form both engines are compared in."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, decimal.Decimal):
        return norm(float(v))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if isinstance(v, dict):  # a DuckDB struct, or a map from either engine
        return tuple(sorted((norm(k), norm(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):  # a Spark struct (a Row is a tuple: test it first)
        return norm(v.asDict())
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def _rows(cols, rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=cols.__getitem__)
    return sorted((tuple(norm(r[i]) for i in order) for r in rows), key=repr)


def spark_rows(sdf) -> list[tuple]:
    """A Spark DataFrame's rows, normalised and sorted."""
    return _rows(sdf.columns, sdf.collect())


def duck_rows(con, sql: str) -> list[tuple]:
    """A DuckDB query's rows, normalised and sorted."""
    rel = con.sql(sql)
    return _rows(rel.columns, rel.fetchall())


def duck_con(sf_dir: str):
    """A DuckDB connection with one view per fixture table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con
