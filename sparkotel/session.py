"""SparkSession factory with scale-oriented defaults.

Designed for a multi-executor cluster (AQE on, skew-join splitting on,
Arrow enabled for pandas UDFs); tested on local[N].  Session timezone
is pinned to UTC so timestamps round-trip identically against the
DuckDB oracle (which uses naive/UTC timestamps).
"""

from __future__ import annotations

import os
from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app: str = "sparkotel",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with pipeline defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset so the
    same entry points work both under the driver harness and in tests.

    Call-site capture is off (``spark.python.sql.dataFrameDebugging``).
    When on, PySpark wraps every Column and DataFrame method to record
    the Python caller: a ``PySparkCurrentOrigin`` lookup, a read of
    ``spark.sql.stackTracesInDataFrameContext``, ``origin.set()`` and
    ``origin.clear()`` over Py4J, plus an ``inspect.stack()`` walk, per
    call.  Off, one flagship pass (build and collect) makes 1,685 Py4J
    calls instead of 3,618, and the ``semdedup`` build over the sf0.001
    fixture 7,119 instead of 11,146.  Errors keep their error class and
    message; they lose only the "DataFrame ... was called from
    file:line" fragment.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.pythonUDF.arrow.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], schema: StructType | str
) -> DataFrame:
    """Driver rows (tuples in schema order) as one Arrow table typed
    from ``schema`` — a ``LocalRelation`` even when empty or all-NULL;
    ``createDataFrame(list)`` plans a ``LogicalRDD`` whose pickled rows
    start a Python worker."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
