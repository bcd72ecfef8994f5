"""Driver-side stream state (streaming/state_table.py): the position row and
per-topic offsets are JSON documents committed on the driver, so saving and
loading them runs no Spark job; one grouped aggregate over the committed
batch yields both; only missing state reads as "never saved"; and the
topic-offset merge is idempotent per batch id."""

from __future__ import annotations

import os

import pytest

from mysql_streamer_spark.cdc.positions import LogPosition
from mysql_streamer_spark.streaming import state_table

TOPIC_ROWS = [
    ("db", "users", 10, "mysql-bin.000001", 100, 0),
    ("db", "users", 30, "mysql-bin.000002", 4, 1),
    ("db", "orders", 20, "mysql-bin.000001", 200, 0),
]
TOPIC_SCHEMA = (
    "database_name string, table_name string, txn_order long,"
    " log_file string, log_pos long, offset int"
)


@pytest.fixture()
def batch(spark, tmp_path):
    """A committed batch as the runner sees it: read back from parquet."""
    path = str(tmp_path / "batch")
    spark.createDataFrame(TOPIC_ROWS, TOPIC_SCHEMA).write.parquet(path)
    return spark.read.parquet(path)


def _offsets(state):
    return {
        t: (o["max_txn_order"], o["n_messages"], o["batch_id"])
        for t, o in state_table.load_topic_offsets(state).items()
    }


def _marks(batch):
    return state_table.batch_position(batch)[1]


def _reference_aggregate(df):
    """One grouped aggregate over a committed batch, as the state needs it."""
    from pyspark.sql import functions as F

    topic = F.concat_ws(".", "database_name", "table_name").alias("topic")
    df.groupBy(topic).agg(
        F.max("txn_order"),
        F.count("*"),
        F.max_by(F.struct("log_file", "log_pos", "offset"), "txn_order"),
    ).collect()


def test_state_io_launches_no_spark_job(spark_jobs, batch, tmp_path):
    state = str(tmp_path / "state")
    pos = LogPosition(log_file="mysql-bin.000002", log_pos=40, offset=1)
    assert spark_jobs(lambda: state_table.advance_state(
        state, "c", pos, 0)) == 0
    assert spark_jobs(lambda: state_table.advance_state(
        state, "c", pos, 1)) == 0
    assert spark_jobs(lambda: state_table.save_state(
        state, "c", pos, 2)) == 0
    assert spark_jobs(lambda: state_table.load_state(state, "c")) == 0

    # batch_position: exactly the jobs of one grouped aggregate over the batch
    n_agg = spark_jobs(lambda: _reference_aggregate(batch))
    assert n_agg >= 1
    result = []
    assert spark_jobs(
        lambda: result.append(state_table.batch_position(batch))
    ) == n_agg
    marks = result[0][1]
    # save_topic_offsets and load_topic_offsets: none (the first save, and a
    # second that merges into saved offsets)
    for batch_id in (0, 1):
        assert spark_jobs(lambda: state_table.save_topic_offsets(
            marks, state, batch_id)) == 0
    assert spark_jobs(lambda: state_table.load_topic_offsets(state)) == 0


def test_state_is_json_under_state_dir(tmp_path):
    state = str(tmp_path / "state")
    assert state_table.load_state(state, "c") is None
    assert state_table.load_topic_offsets(state) == {}
    low = LogPosition(log_file="mysql-bin.000001", log_pos=4, offset=0)
    high = LogPosition(log_file="mysql-bin.000001", log_pos=90, offset=0)
    state_table.advance_state(state, "c", high, 0)
    state_table.advance_state(state, "c", low, 1)  # never moves back
    assert state_table.load_state(state, "c") == (high, 1, False)
    # only the committed document, no temp file left behind
    assert os.listdir(state) == ["c.json"]


def test_topic_offsets_replay_does_not_double_count(batch, tmp_path):
    """A batch replayed after its offsets were saved (crash before the
    engine's commit) must leave the counts unchanged."""
    state = str(tmp_path / "state")
    marks = _marks(batch)
    state_table.save_topic_offsets(marks, state, 0)
    first = _offsets(state)
    assert first == {"db.users": (30, 2, 0), "db.orders": (20, 1, 0)}
    state_table.save_topic_offsets(marks, state, 0)
    assert _offsets(state) == first
    # a NEW batch id still merges
    state_table.save_topic_offsets(marks, state, 1)
    assert _offsets(state) == {"db.users": (30, 4, 1), "db.orders": (20, 2, 1)}


def test_truncated_state_raises_instead_of_resetting(batch, tmp_path):
    """Only a missing file means "no state": a truncated document must not
    silently reset the high-water mark or drop the topic history."""
    state = str(tmp_path / "state")
    pos = LogPosition(log_file="mysql-bin.000003", log_pos=8, offset=0)
    marks = _marks(batch)
    state_table.advance_state(state, "c", pos, 0)
    state_table.save_topic_offsets(marks, state, 0)
    for name in ("c.json", "topic_offsets.json"):
        with open(os.path.join(state, name), "r+") as fh:
            fh.truncate(7)
    with pytest.raises(ValueError):
        state_table.load_state(state, "c")
    with pytest.raises(ValueError):
        state_table.advance_state(state, "c", pos, 1)
    with pytest.raises(ValueError):
        state_table.save_topic_offsets(marks, state, 1)


def test_readback_and_position_run_only_the_aggregate(spark, spark_jobs, tmp_path):
    """A batch read back under the schema it was written with runs no
    footer-inference job, so the read-back and the position together launch
    only the jobs of the one aggregate, and the position is the max row."""
    from mysql_streamer_spark.streaming import runner

    out = str(tmp_path / "out")
    written = spark.createDataFrame(TOPIC_ROWS, TOPIC_SCHEMA)
    runner.write_sink_batch(written, out, 0)
    reference = spark.read.parquet(f"{out}/batch_id=0")  # inference runs here
    n_agg = spark_jobs(lambda: _reference_aggregate(reference))
    result = []

    def readback_and_position():
        committed = runner.read_sink_batch(spark, out, 0, written.schema)
        result.append(state_table.batch_position(committed))

    assert spark_jobs(readback_and_position) == n_agg
    assert result == [(
        LogPosition(log_file="mysql-bin.000002", log_pos=4, offset=1),
        {"db.users": (30, 2), "db.orders": (20, 1)},
    )]
