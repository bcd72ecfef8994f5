"""Driver-side stream state (streaming/state_table.py): the position row and
per-topic offsets are JSON documents committed on the driver, so saving and
loading them runs no Spark job; only missing state reads as "never saved";
and the topic-offset merge is idempotent per batch id."""

from __future__ import annotations

import os
import time
import uuid

import pytest

from mysql_streamer_spark.cdc.positions import LogPosition
from mysql_streamer_spark.streaming import state_table

TOPIC_ROWS = [
    ("db", "users", 10),
    ("db", "users", 30),
    ("db", "orders", 20),
]


@pytest.fixture()
def batch(spark, tmp_path):
    """A committed batch as the runner sees it: read back from parquet."""
    path = str(tmp_path / "batch")
    spark.createDataFrame(
        TOPIC_ROWS, "database_name string, table_name string, txn_order long"
    ).write.parquet(path)
    return spark.read.parquet(path)


def _offsets(spark, state):
    return {
        r.topic: (r.max_txn_order, r.n_messages, r.batch_id)
        for r in state_table.load_topic_offsets(spark, state).collect()
    }


def _spark_jobs(spark, fn) -> int:
    """Spark jobs launched by ``fn()``, counted under a private job group.
    A marker job in a second group runs afterwards: the listener bus is
    FIFO, so once the marker is visible every job before it is counted."""
    sc = spark.sparkContext
    group, marker = f"g-{uuid.uuid4().hex}", f"m-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted")
    try:
        fn()
    finally:
        sc.setJobGroup(marker, "marker")
        spark.range(1).collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(marker):
        assert time.time() < deadline, "marker job never reached the status store"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


def test_state_io_launches_no_spark_job(spark, batch, tmp_path):
    state = str(tmp_path / "state")
    pos = LogPosition(log_file="mysql-bin.000002", log_pos=40, offset=1)
    assert _spark_jobs(spark, lambda: state_table.advance_state(
        spark, state, "c", pos, 0)) == 0
    assert _spark_jobs(spark, lambda: state_table.advance_state(
        spark, state, "c", pos, 1)) == 0
    assert _spark_jobs(spark, lambda: state_table.save_state(
        spark, state, "c", pos, 2)) == 0
    assert _spark_jobs(spark, lambda: state_table.load_state(spark, state, "c")) == 0

    # save_topic_offsets: exactly the jobs of its one aggregate over the batch
    # (the first save, and a second that merges into saved offsets)
    from pyspark.sql import functions as F

    def aggregate_only():
        topic = F.concat_ws(".", "database_name", "table_name").alias("topic")
        batch.groupBy(topic).agg(F.max("txn_order"), F.count("*")).collect()

    n_agg = _spark_jobs(spark, aggregate_only)
    assert n_agg >= 1
    for batch_id in (0, 1):
        assert _spark_jobs(spark, lambda: state_table.save_topic_offsets(
            batch, state, batch_id)) == n_agg


def test_state_is_json_under_state_dir(spark, tmp_path):
    state = str(tmp_path / "state")
    assert state_table.load_state(spark, state, "c") is None
    assert state_table.load_topic_offsets(spark, state).count() == 0
    low = LogPosition(log_file="mysql-bin.000001", log_pos=4, offset=0)
    high = LogPosition(log_file="mysql-bin.000001", log_pos=90, offset=0)
    state_table.advance_state(spark, state, "c", high, 0)
    state_table.advance_state(spark, state, "c", low, 1)  # never moves back
    assert state_table.load_state(spark, state, "c") == (high, 1, False)
    # only the committed document, no temp file left behind
    assert os.listdir(state) == ["c.json"]


def test_topic_offsets_replay_does_not_double_count(spark, batch, tmp_path):
    """A batch replayed after its offsets were saved (crash before the
    engine's commit) must leave the counts unchanged."""
    state = str(tmp_path / "state")
    state_table.save_topic_offsets(batch, state, 0)
    first = _offsets(spark, state)
    assert first == {"db.users": (30, 2, 0), "db.orders": (20, 1, 0)}
    state_table.save_topic_offsets(batch, state, 0)
    assert _offsets(spark, state) == first
    # a NEW batch id still merges
    state_table.save_topic_offsets(batch, state, 1)
    assert _offsets(spark, state) == {"db.users": (30, 4, 1), "db.orders": (20, 2, 1)}


def test_truncated_state_raises_instead_of_resetting(spark, batch, tmp_path):
    """Only a missing file means "no state": a truncated document must not
    silently reset the high-water mark or drop the topic history."""
    state = str(tmp_path / "state")
    pos = LogPosition(log_file="mysql-bin.000003", log_pos=8, offset=0)
    state_table.advance_state(spark, state, "c", pos, 0)
    state_table.save_topic_offsets(batch, state, 0)
    for name in ("c.json", "topic_offsets.json"):
        with open(os.path.join(state, name), "r+") as fh:
            fh.truncate(7)
    with pytest.raises(ValueError):
        state_table.load_state(spark, state, "c")
    with pytest.raises(ValueError):
        state_table.advance_state(spark, state, "c", pos, 1)
    with pytest.raises(ValueError):
        state_table.save_topic_offsets(batch, state, 1)
