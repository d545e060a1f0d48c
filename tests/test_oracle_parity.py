"""Driver-style correctness gate run locally: every registry query's
Spark result must match its DuckDB oracle (row count + sorted-column
value equality, through ``sparkotel.parity``), at sf0.001 for speed.
This is the same comparison the harness runs at sf0.01."""

from __future__ import annotations

import re

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_DIR

from sparkotel import pages as P
from sparkotel.parity import duck_con, duck_rows, spark_rows
from sparkotel.registry import build_registry

REG = build_registry()


@pytest.mark.parametrize("name", [n for n, q in REG.items() if q.oracle])
def test_query_matches_oracle(spark, duck, name):
    q = REG[name]
    srows = spark_rows(q.spark(spark, SF_DIR))
    drows = duck_rows(duck, q.oracle)
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} vs {len(drows)}"
    assert len(srows) > 0, f"{name}: empty result"
    for i, (a, b) in enumerate(zip(srows, drows)):
        assert a == b, f"{name}: first mismatch at sorted row {i}:\n spark={a}\n duck ={b}"


def test_nan_and_null_match_across_engines(spark, duck):
    """A NaN equals a NaN, and a NULL integer (NaN on DuckDB's pandas
    path) equals a NULL."""
    sql = "SELECT CAST('NaN' AS DOUBLE) AS x, CAST(NULL AS BIGINT) AS n"
    assert spark_rows(spark.sql(sql)) == duck_rows(duck, sql)


def test_null_double_differs_from_nan(spark, duck):
    got = spark_rows(spark.sql("SELECT CAST(NULL AS DOUBLE) AS x"))
    assert got != duck_rows(duck, "SELECT 'NaN'::DOUBLE AS x")


def test_embedding_prep_matches_oracle_on_degenerate_vectors(spark, tmp_path):
    """An empty, a NULL and a zero embedding give a NULL ``e0`` on both
    engines, as DuckDB's ``unit[1]`` and ``x / 0`` do, instead of a Spark
    array-index or divide-by-zero error."""
    path = str(tmp_path / "embeddings.parquet")
    pq.write_table(pa.table({
        "vec_id": pa.array([0, 1, 2, 3], pa.int64()),
        "embedding": pa.array([[], None, [0.0, 0.0], [3.0, 4.0]], pa.list_(pa.float32())),
        "label": pa.array([0, 0, 0, 0], pa.int32()),
    }), path)
    q = REG["embedding_prep"]
    try:
        got = spark_rows(q.spark(spark, str(tmp_path)))
    finally:
        P.load_tables(spark, SF_DIR, ["embeddings"])
    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
    assert got == duck_rows(con, q.oracle)
    # columns sorted by name: e0 first, vec_id sixth
    assert {r[5]: r[0] for r in got} == {0: None, 1: None, 2: None, 3: 0.6}


_PROPS_ORACLES = [n for n, q in REG.items() if q.oracle and "json_valid(props)" in q.oracle]


def test_every_props_json_read_is_guarded():
    """An oracle reads ``events.props`` as JSON only through
    ``json_valid``: DuckDB's ``json_extract*`` raise on malformed JSON,
    where Spark's ``get_json_object``/``from_json`` give NULL."""
    bare = [
        n for n, q in REG.items() if q.oracle and re.search(r"json_extract\w*\(props", q.oracle)
    ]
    assert bare == [] and _PROPS_ORACLES


@pytest.mark.parametrize("name", _PROPS_ORACLES)
def test_props_oracle_survives_empty_props(name):
    """One ``''``-props events row is NULL JSON to the oracle, not an
    exception."""
    con = duck_con(SF_DIR)
    con.sql(
        f"CREATE OR REPLACE VIEW events AS SELECT * FROM '{SF_DIR}/events.parquet' UNION ALL"
        f" (SELECT * REPLACE ('' AS props) FROM '{SF_DIR}/events.parquet' LIMIT 1)"
    )
    assert con.sql("SELECT count(*) FROM events WHERE props = ''").fetchone() == (1,)
    duck_rows(con, REG[name].oracle)
