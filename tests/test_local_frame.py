"""Driver-built frames stay in the JVM: ``session.local_frame`` plans
as a ``LocalRelation`` (no Python worker decodes its rows), and every
site that builds a frame from driver-side rows goes through it."""

from __future__ import annotations

import pytest
from conftest import SF_DIR
from pyspark.sql import SparkSession
from pyspark.sql.types import DataType
from test_dynsample import _DDL, _t

from sparkotel import ledger as L
from sparkotel.functions import text as T
from sparkotel.operators.dynsample import dynamic_sampling
from sparkotel.registry import build_registry
from sparkotel.session import local_frame


def _plan(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def test_local_frame_keeps_types_on_empty_and_null(spark):
    ddl = "i int, s string, xs array<double>, d double"
    rows = [(1, "a", [1.0, None], 0.5), (None, None, None, None)]
    df = local_frame(spark, rows, ddl)
    assert _plan(df) == "LocalRelation"
    assert [tuple(r) for r in df.collect()] == rows
    assert df.schema == DataType.fromDDL(ddl)
    empty = local_frame(spark, [], df.schema)
    assert _plan(empty) == "LocalRelation"
    assert empty.schema == df.schema and empty.collect() == []
    nulls = local_frame(spark, [(None, None, None, None)], df.schema)
    assert nulls.schema == df.schema


def _commit_bucket(spark, tmp_path):
    L.commit_buckets(spark, str(tmp_path / "ledger"), "sink", {3: 7})
    assert L.committed_buckets(spark, str(tmp_path / "ledger"), "sink") == {3: 7}


def _dynsample(spark, tmp_path):
    rows = _t("00000000000001", n_spans=1, attrs={"route": "/a"})
    df = local_frame(spark, rows, _DDL)
    rules = [{"name": "adaptive", "sampler": {
        "type": "dynamic", "goal_sampling_percentage": 50, "key_fields": ["route"]}}]
    dynamic_sampling(df, rules).collect()


def _url_blocklist(spark, tmp_path):
    assert build_registry()["url_blocklist_filter"].spark(spark, SF_DIR).count() > 0


def _bpe_train(spark, tmp_path):
    docs = local_frame(spark, [(0, "ab ab abc")], "doc_id long, text string")
    out = T.bpe_train(docs)
    assert _plan(out) == "LocalRelation" and out.count() == 3


@pytest.mark.parametrize(
    "site", [_commit_bucket, _dynsample, _url_blocklist, _bpe_train],
    ids=["commit_bucket", "dynsample", "url_blocklist", "bpe_train"],
)
def test_driver_built_frames_are_local_relations(spark, monkeypatch, tmp_path, site):
    """every frame the site builds from driver rows plans as a
    ``LocalRelation``; ``createDataFrame(list)`` gave a ``LogicalRDD``."""
    plans = []
    create = SparkSession.createDataFrame

    def spy(self, *args, **kwargs):
        df = create(self, *args, **kwargs)
        plans.append(_plan(df))
        return df

    monkeypatch.setattr(SparkSession, "createDataFrame", spy)
    site(spark, tmp_path)
    assert plans and set(plans) == {"LocalRelation"}, plans
