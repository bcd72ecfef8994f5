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

    pos, batch_id, clean = load_state(state, "refresh_primary")
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


def test_cluster_name_reaches_the_messages_and_the_state(
    spark, multi_file_events, tmp_path
):
    """The stream's cluster_name is stamped on every message (the IV scope
    keeps clusters apart by it), and it names the state document."""
    import os

    src, _ = multi_file_events
    out, ckpt, state = (str(tmp_path / d) for d in ("out", "ckpt", "state"))
    run_envelope_stream(
        spark, src, out, ckpt, max_files_per_trigger=2, state_dir=state,
        cluster_name="c2",
    )
    got = read_sink(spark, out).select("cluster_name").distinct().collect()
    assert [r.cluster_name for r in got] == ["c2"]
    assert "c2.json" in os.listdir(state)


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
        t: (o["max_txn_order"], o["n_messages"])
        for t, o in load_topic_offsets(state).items()
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
    pos, batch_id, _ = state_table.load_state(state, "refresh_primary")
    assert (pos.log_file, pos.log_pos, pos.offset) == (hi.log_file, hi.log_pos, hi.offset)
    assert batch_id == 1

    saved = {
        t: (o["max_txn_order"], o["n_messages"])
        for t, o in state_table.load_topic_offsets(state).items()
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


def test_profile_stream_replay_does_not_duplicate_its_batch(spark, sf_dir, tmp_path):
    """A batch replayed after a crash between its sink write and the engine
    commit overwrites its own sink directory instead of appending a second
    copy of its profile rows."""
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from mysql_streamer_spark.streaming.transform_state import run_profile_stream
    from mysql_streamer_spark.tables import table_path

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    events = pq.read_table(table_path(sf_dir, "events"))
    odd = pc.equal(pc.bit_wise_and(events["event_id"], 1), 1)
    for i, mask in enumerate((pc.invert(odd), odd)):
        path = f"{src}/half_{i}.parquet"
        pq.write_table(events.filter(mask), path)
        os.utime(path, (1_000_000 * (i + 1),) * 2)  # batch order = file order

    run_profile_stream(spark, src, out, ckpt)
    last = max(int(f) for f in os.listdir(f"{ckpt}/commits") if f.isdigit())
    assert last >= 1
    for f in (f"{last}", f".{last}.crc"):  # crash after the sink write
        os.remove(f"{ckpt}/commits/{f}")
    run_profile_stream(spark, src, out, ckpt)
    assert os.path.exists(f"{ckpt}/commits/{last}"), "the batch was not replayed"

    rows = spark.read.parquet(out)
    assert rows.filter(rows.batch_id == last).count() > 0
    assert rows.groupBy("user_id", "batch_id").count().filter("count > 1").count() == 0


_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
_PARTITIONS_KEY = "spark.sql.shuffle.partitions"


@pytest.fixture()
def hdfs_state_session(spark):
    """The session on Spark's default HDFS-backed state store and a shuffle
    partition count other than the stateful drain's (the session fixture
    is shared, so an earlier test may have switched either); both are put
    back afterwards."""
    prev = {k: spark.conf.get(k) for k in (_PROVIDER_KEY, _PARTITIONS_KEY)}
    spark.conf.set(
        _PROVIDER_KEY,
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    spark.conf.set(_PARTITIONS_KEY, "5")
    yield
    for k, v in prev.items():
        spark.conf.set(k, v)


def test_stateful_drain_freezes_its_policy_and_restores_the_session(
    spark, sf_dir, hdfs_state_session, tmp_path
):
    """A stateful stream's checkpoint records the RocksDB provider and the
    stateful partition count, and the session keeps its own values."""
    import json

    from mysql_streamer_spark.streaming.runner import (
        ROCKSDB_PROVIDER,
        STATE_PARTITIONS,
        run_windowed_stream,
    )
    from mysql_streamer_spark.tables import load_table

    before = {k: spark.conf.get(k) for k in (_PROVIDER_KEY, _PARTITIONS_KEY)}
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    load_table(spark, sf_dir, "events").repartition(2).write.parquet(src)

    run_windowed_stream(spark, src, out, ckpt)

    with open(f"{ckpt}/offsets/0") as fh:
        (meta,) = [json.loads(line) for line in fh if '"conf"' in line]
    assert meta["conf"][_PROVIDER_KEY] == ROCKSDB_PROVIDER
    assert meta["conf"][_PARTITIONS_KEY] == str(STATE_PARTITIONS) == "8"
    assert {k: spark.conf.get(k) for k in before} == before


def test_upsert_stream_writes_each_batchs_own_latest_rows(
    spark, multi_file_events, tmp_path
):
    """Each micro-batch of the upsert stream lands exactly the latest row
    per key of its OWN input under its batch id; no table-wide generation
    is re-read or rewritten."""
    import json
    import os

    from mysql_streamer_spark.skew import latest_by_key
    from mysql_streamer_spark.streaming.runner import run_upsert_stream

    keys = ["database_name", "table_name", "pk"]
    payload = ["message_type", "payload_k", "payload_val"]
    src, _ = multi_file_events
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")

    n = run_upsert_stream(spark, src, state, ckpt, max_files_per_trigger=1)

    assert n == 4
    entries = [d for d in os.listdir(state) if not d.startswith((".", "_"))]
    assert not any(d.startswith("gen=") for d in entries)
    assert sorted(entries) == [f"batch_id={i}" for i in range(n)]
    for i in range(n):
        with open(f"{ckpt}/sources/0/{i}") as fh:
            files = [json.loads(line)["path"] for line in fh.read().splitlines()[1:]]
        assert len(files) == 1
        env = envelope_pipeline_df(spark.read.parquet(*files))
        expected = latest_by_key(env, keys, "txn_order", payload)
        got = spark.read.parquet(f"{state}/batch_id={i}")
        assert got.columns == expected.columns
        assert got.exceptAll(expected).count() == 0
        assert expected.exceptAll(got).count() == 0


def test_query_scratch_dirs_are_removed_at_exit(sf_dir, monkeypatch):
    """A streaming query's work dir is registered for removal at
    interpreter exit (not sooner: the query returns a lazy frame over it)."""
    import atexit
    import shutil

    from mysql_streamer_spark.queries import streaming_q

    registered = []
    monkeypatch.setattr(atexit, "register", lambda *a: registered.append(a))
    work = streaming_q._staged_source(sf_dir)
    try:
        assert (shutil.rmtree, work, True) in registered
    finally:
        shutil.rmtree(work, True)
