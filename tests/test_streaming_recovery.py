"""Failure/restart tests for the streaming plane — the analogue of the
reference's tests/integration/failure_recovery_test.py:227-347 (stop the
service mid-stream after N events, restart, assert exactly-once delivery),
re-expressed as: crash the streaming query after N micro-batches, restart
from the same checkpoint, assert the sink holds every message exactly once.
"""

from __future__ import annotations

import pytest

from mysql_streamer_spark.cdc.pipeline import envelope_pipeline_df
from mysql_streamer_spark.streaming import (
    read_sink,
    run_envelope_stream,
)


@pytest.fixture()
def multi_file_events(spark, sf_dir, tmp_path):
    """The sf0.001 events table split into 4 files so availableNow +
    maxFilesPerTrigger=2 yields exactly 2 micro-batches."""
    from mysql_streamer_spark.tables import load_table

    src = str(tmp_path / "events_src")
    events = load_table(spark, sf_dir, "events")
    events.repartition(4).write.parquet(src)
    return src, events


def _expected(spark, src):
    return envelope_pipeline_df(spark.read.parquet(src))


def test_clean_run_matches_batch_plan(spark, multi_file_events, tmp_path):
    src, _ = multi_file_events
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    n_batches = run_envelope_stream(spark, src, out, ckpt, max_files_per_trigger=2)
    assert n_batches == 2
    got = read_sink(spark, out)
    expected = _expected(spark, src)
    assert got.count() == expected.count()
    assert (
        got.select("cluster_name", "txn_order").distinct().count() == expected.count()
    )


def test_crash_and_restart_is_exactly_once(spark, multi_file_events, tmp_path):
    src, _ = multi_file_events
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    # first run crashes after 1 successful micro-batch (unclean shutdown)
    with pytest.raises(Exception, match="injected crash"):
        run_envelope_stream(
            spark, src, out, ckpt, max_files_per_trigger=2, fail_after_batches=1
        )
    partial = read_sink(spark, out).count()
    expected = _expected(spark, src)
    assert 0 < partial < expected.count()

    # restart with the SAME checkpoint: replays the failed batch, drains rest
    run_envelope_stream(spark, src, out, ckpt, max_files_per_trigger=2)

    got = read_sink(spark, out)
    assert got.count() == expected.count(), "lost or duplicated messages"
    # idempotency key is unique -> no duplicate message survived the replay
    assert (
        got.select("cluster_name", "txn_order").distinct().count() == got.count()
    )
    # value-level equality with the batch plan (same rows, any order)
    assert (
        got.exceptAll(expected).count() == 0
        and expected.exceptAll(got).count() == 0
    )


def test_restart_after_success_is_a_noop(spark, multi_file_events, tmp_path):
    src, _ = multi_file_events
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_envelope_stream(spark, src, out, ckpt, max_files_per_trigger=2)
    n_more = run_envelope_stream(spark, src, out, ckpt, max_files_per_trigger=2)
    assert n_more == 0, "a drained checkpoint must not reprocess anything"
    expected = _expected(spark, src)
    assert read_sink(spark, out).count() == expected.count()


def test_state_table_and_metrics(spark, multi_file_events, tmp_path):
    """T4/K3 parity: the global_event_state-style row advances per batch;
    R8: the listener captures per-batch progress and flags no alerts."""
    from mysql_streamer_spark.cdc.positions import LogPosition
    from mysql_streamer_spark.streaming.metrics import (
        EnvelopeStreamListener,
        MetricsCollector,
    )
    from mysql_streamer_spark.streaming.state_table import load_state

    src, _ = multi_file_events
    out, ckpt, state = (str(tmp_path / d) for d in ("out", "ckpt", "state"))

    collector = MetricsCollector()
    listener = EnvelopeStreamListener(collector)
    spark.streams.addListener(listener)
    try:
        run_envelope_stream(
            spark, src, out, ckpt, max_files_per_trigger=2, state_dir=state
        )
    finally:
        spark.streams.removeListener(listener)

    pos, batch_id, clean = load_state(spark, state, "refresh_primary")
    assert isinstance(pos, LogPosition)
    assert batch_id == 1, "state row must reflect the LAST committed batch"
    # the saved position is the global high-water mark of the whole sink
    expected = _expected(spark, src)
    hi = expected.orderBy(expected.txn_order.desc()).limit(1).collect()[0]
    assert (pos.log_file, pos.log_pos, pos.offset) == (
        hi.log_file,
        hi.log_pos,
        hi.offset,
    )

    data_batches = [b for b in collector.batches if b.num_input_rows > 0]
    assert len(data_batches) == 2
    assert collector.total_rows == spark.read.parquet(src).count()
    assert collector.alerts == []
    # R8 commit-lag gauge: every batch recorded a positive lag that at
    # least covers its own execution time, and the percentile summary is
    # ordered and counts only data batches
    for b in data_batches:
        assert b.commit_lag_s >= b.duration_ms / 1000.0
    lags = collector.lag_percentiles()
    assert lags["batches"] == len(data_batches)
    assert 0 < lags["p50_s"] <= lags["p99_s"] <= lags["max_s"]


def test_topic_offsets_checkpoint(spark, multi_file_events, tmp_path):
    """K3 parity with data_event_checkpoint: per db.table topic, the saved
    high-water offset equals the sink's max txn_order and counts add up."""
    from pyspark.sql import functions as F
    from mysql_streamer_spark.streaming.state_table import load_topic_offsets

    src, _ = multi_file_events
    out, ckpt, state = (str(tmp_path / d) for d in ("out", "ckpt", "state"))
    run_envelope_stream(
        spark, src, out, ckpt, max_files_per_trigger=2, state_dir=state
    )
    saved = {
        r.topic: (r.max_txn_order, r.n_messages)
        for r in load_topic_offsets(spark, state).collect()
    }
    expected = {
        r.topic: (r.mx, r.n)
        for r in _expected(spark, src)
        .withColumn("topic", F.concat_ws(".", "database_name", "table_name"))
        .groupBy("topic")
        .agg(F.max("txn_order").alias("mx"), F.count("*").alias("n"))
        .collect()
    }
    assert saved == expected


def _raise_once(original, after_original: bool):
    """A stand-in that raises on its first call (after running the original
    when ``after_original``) and delegates on every later call."""
    calls = []

    def stand_in(*args, **kwargs):
        if calls:
            return original(*args, **kwargs)
        calls.append(1)
        if after_original:
            original(*args, **kwargs)
        raise RuntimeError("injected crash in the state commit")

    return stand_in


@pytest.mark.parametrize("crash_in", ["advance_state", "save_topic_offsets"])
def test_crash_after_sink_write_replays_into_consistent_state(
    spark, multi_file_events, tmp_path, monkeypatch, crash_in
):
    """The crash window between a batch's sink write and the engine's commit:
    before the state advance (the tail benchmark's crash), or right after
    the topic offsets were saved. The runner looks ``state_table`` functions up
    per batch, so the patched module attribute is what crashes. The restart
    replays batch 0 over its own sink directory, and the state then
    describes the sink exactly: no lost and no double-counted batch."""
    import os

    from pyspark.sql import functions as F

    from mysql_streamer_spark.streaming import state_table

    src, _ = multi_file_events
    out, ckpt, state = (str(tmp_path / d) for d in ("out", "ckpt", "state"))
    monkeypatch.setattr(
        state_table,
        crash_in,
        _raise_once(
            getattr(state_table, crash_in), after_original=crash_in == "save_topic_offsets"
        ),
    )

    def parts(batch_id):
        return {f for f in os.listdir(f"{out}/batch_id={batch_id}") if f.startswith("part-")}

    with pytest.raises(Exception, match="injected crash in the state commit"):
        run_envelope_stream(
            spark, src, out, ckpt, max_files_per_trigger=2, state_dir=state
        )
    first_attempt = parts(0)
    run_envelope_stream(spark, src, out, ckpt, max_files_per_trigger=2, state_dir=state)
    assert parts(0).isdisjoint(first_attempt), "batch 0 was not rewritten"

    got = read_sink(spark, out)
    expected = _expected(spark, src)
    assert got.count() == expected.count()
    assert got.select("cluster_name", "txn_order").distinct().count() == got.count()

    hi = got.orderBy(got.txn_order.desc()).limit(1).collect()[0]
    pos, batch_id, _ = state_table.load_state(spark, state, "refresh_primary")
    assert (pos.log_file, pos.log_pos, pos.offset) == (hi.log_file, hi.log_pos, hi.offset)
    assert batch_id == 1

    saved = {
        r.topic: (r.max_txn_order, r.n_messages)
        for r in state_table.load_topic_offsets(spark, state).collect()
    }
    in_sink = {
        r.topic: (r.mx, r.n)
        for r in got.groupBy(
            F.concat_ws(".", "database_name", "table_name").alias("topic")
        )
        .agg(F.max("txn_order").alias("mx"), F.count("*").alias("n"))
        .collect()
    }
    assert saved == in_sink


def test_upsert_state_crash_restart_equals_batch_latest(
    spark, multi_file_events, tmp_path
):
    """The incremental upsert table, crashed mid-run and restarted from the
    same checkpoint, must converge to EXACTLY the batch latest-state
    result — the materialized-view invariant under failure."""
    from pyspark.sql import functions as F

    from mysql_streamer_spark.skew import latest_by_key
    from mysql_streamer_spark.streaming.runner import (
        read_latest_state,
        run_upsert_stream,
    )

    src, _ = multi_file_events
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")

    with pytest.raises(Exception, match="injected crash"):
        run_upsert_stream(
            spark, src, state, ckpt, max_files_per_trigger=2, fail_after_batches=1
        )
    run_upsert_stream(spark, src, state, ckpt, max_files_per_trigger=2)

    got = read_latest_state(spark, state)
    env = _expected(spark, src)
    expected = latest_by_key(
        env,
        ["database_name", "table_name", "pk"],
        "txn_order",
        ["message_type", "payload_k", "payload_val"],
    )
    assert got.count() == expected.count()
    joined = got.alias("g").join(
        expected.alias("e"),
        on=["database_name", "table_name", "pk"],
    )
    mismatches = joined.filter(
        (F.col("g.txn_order") != F.col("e.txn_order"))
        | (F.col("g.message_type") != F.col("e.message_type"))
    ).count()
    assert mismatches == 0
