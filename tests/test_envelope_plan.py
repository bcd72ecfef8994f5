"""The per-batch envelope plan: built from cached Columns in a bounded
number of py4j calls, broadcast against JVM-local dimensions (no Python
task), and fed by a stream whose schema is peeked once per directory."""

from __future__ import annotations

import gc

import py4j.clientserver
import pytest
from pyspark.errors import AnalysisException

from mysql_streamer_spark.cdc.pipeline import envelope_pipeline_df
from mysql_streamer_spark.schema.bootstrap import versioned_dim_rows
from mysql_streamer_spark.streaming import runner
from mysql_streamer_spark.streaming.ddl_barrier import (
    dim_from_interval_rows,
    route_data_events,
    stage_barrier_feed,
)
from mysql_streamer_spark.tables import load_table

#: py4j round trips allowed for one envelope plan build on a batch frame
#: (~66 measured; ~460 when every batch rebuilt its expressions)
PY4J_BUDGET = 100


def _py4j_calls(monkeypatch, fn) -> int:
    calls = []
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command):
        calls.append(command[:1])
        return send(self, command)

    gc.collect()
    with monkeypatch.context() as m:
        m.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)
        fn()
    return len(calls)


def test_envelope_plan_build_stays_within_py4j_budget(spark, sf_dir, monkeypatch):
    events = load_table(spark, sf_dir, "events")
    envelope_pipeline_df(events)  # the first build fills the caches
    # the least of three builds: a collector pass mid-build adds proxy frees
    calls = min(
        _py4j_calls(monkeypatch, lambda: envelope_pipeline_df(events)) for _ in range(3)
    )
    assert calls <= PY4J_BUDGET


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_broadcast_dimensions_are_jvm_local(spark, sf_dir, tmp_path):
    """The envelope's registry dimension and the DDL barrier's interval
    dimension scan a LocalTableScan: no Python RDD, so no Python task."""
    src = str(tmp_path / "feed")
    stage_barrier_feed(spark, sf_dir, src)
    feed = spark.read.parquet(src)
    plans = {
        "envelope": _executed(envelope_pipeline_df(load_table(spark, sf_dir, "events"))),
        "route_data_events": _executed(
            route_data_events(feed, dim_from_interval_rows(spark, versioned_dim_rows()))
        ),
    }
    for name, plan in plans.items():
        broadcast_side = plan[plan.index("BroadcastExchange"):]
        assert "LocalTableScan" in broadcast_side, f"{name}:\n{plan}"
        assert "ExistingRDD" not in plan, f"{name}:\n{plan}"
        assert "BroadcastHashJoin" in plan and "BuildRight" in plan, f"{name}:\n{plan}"


def _write_events(spark, sf_dir, path) -> None:
    load_table(spark, sf_dir, "events").limit(50).write.parquet(path)


def test_events_schema_is_peeked_once_per_directory(spark, sf_dir, spark_jobs, tmp_path):
    first, second = str(tmp_path / "a"), str(tmp_path / "b")
    _write_events(spark, sf_dir, first)
    _write_events(spark, sf_dir, second)
    streams = []
    assert spark_jobs(lambda: streams.append(runner.load_events_stream(spark, first))) >= 1
    assert spark_jobs(lambda: streams.append(runner.load_events_stream(spark, first))) == 0
    assert spark_jobs(lambda: streams.append(runner.load_events_stream(spark, second))) >= 1
    assert streams[0].schema == streams[1].schema == streams[2].schema
    assert all(s.isStreaming for s in streams)


def test_failed_peek_on_an_empty_directory_is_not_cached(spark, sf_dir, tmp_path):
    src = tmp_path / "empty"
    src.mkdir()
    with pytest.raises(AnalysisException):
        runner.load_events_stream(spark, str(src))
    staged = tmp_path / "staged"
    _write_events(spark, sf_dir, str(staged))
    for part in staged.glob("*.parquet"):
        part.rename(src / part.name)
    events = runner.load_events_stream(spark, str(src))
    assert "event_id" in events.columns
