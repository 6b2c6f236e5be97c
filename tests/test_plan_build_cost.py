"""Driver-side cost of building a query plan: py4j round trips, Spark jobs,
and the memoized parquet schema that saves a footer-inference job per read."""

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from py4j.java_gateway import GatewayClient
from pyspark.errors import AnalysisException
from pyspark.sql.types import LongType

from codex_africanus_spark.queries import registry
from codex_africanus_spark.sources import tables

# One build plus collect of corrupt_vis_apply_gains at sf0.001 before
# call-site capture was turned off and the schema memo added: 4,369-4,571
# py4j round trips and 8 jobs (4-vCPU Xeon VM, three repeats).
RECORDED_ROUND_TRIPS = 4369


def test_build_budget_corrupt_vis_apply_gains(spark, sf_dir, monkeypatch):
    fn = registry()["corrupt_vis_apply_gains"].fn
    fn(spark, sf_dir).toPandas()  # warm: schema memo, Python workers

    calls = [0]
    send = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        calls[0] += 1
        return send(self, *args, **kwargs)

    sc = spark.sparkContext
    group = "test_build_budget"
    sc.setJobGroup(group, group)
    monkeypatch.setattr(GatewayClient, "send_command", counting)
    try:
        fn(spark, sf_dir).toPandas()
    finally:
        monkeypatch.undo()
        sc.setJobGroup(None, None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 5, f"{jobs} jobs for one build plus collect"
    assert calls[0] <= RECORDED_ROUND_TRIPS // 2, f"{calls[0]} py4j round trips"


def _write(path, frame):
    pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), path)


def test_load_sees_rewritten_schema(spark, tmp_path):
    path = os.path.join(tmp_path, "nation.parquet")
    _write(path, pd.DataFrame({"n_nationkey": [1, 2], "n_name": ["a", "b"]}))
    first = tables.load(spark, "nation", str(tmp_path))
    assert first.columns == ["n_nationkey", "n_name"]
    assert tables.load(spark, "nation", str(tmp_path)).schema == first.schema

    os.remove(path)
    _write(path, pd.DataFrame({"n_nationkey": [3.5], "n_comment": ["c"], "n_extra": [7]}))
    again = tables.load(spark, "nation", str(tmp_path))
    assert again.columns == ["n_nationkey", "n_comment", "n_extra"]
    assert again.schema != first.schema
    assert again.collect()[0].asDict() == {"n_nationkey": 3.5, "n_comment": "c", "n_extra": 7}


def test_schema_memo_keyed_by_nanos_as_long(spark, tmp_path):
    path = os.path.join(tmp_path, "events.parquet")
    pq.write_table(pa.table({"ts": pa.array([1, 2], pa.timestamp("ns"))}), path)
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        assert tables.parquet_schema(spark, path)["ts"].dataType == LongType()
        # without nanosAsLong Spark rejects TIMESTAMP(NANOS): the memoized
        # long schema must not be handed out for the other conf value
        spark.conf.set(key, "false")
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            tables.parquet_schema(spark, path)
    finally:
        spark.conf.set(key, before)


def test_schema_memo_skips_directories(spark, tmp_path):
    assert tables.parquet_schema(spark, str(tmp_path)) is None
