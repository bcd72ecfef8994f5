"""Stateful streaming: a cross-batch per-user PROFILE maintainer on
``applyInPandasWithState``.

Every micro-batch merges its events into one GroupState profile per user
(first/last event time, event count, exact value cents) and emits the
UPDATED profile row — the incremental materialized-view pattern:
downstream consumers read the latest row per key and never rescan
history. The reference's analogue is the continuously-maintained state
tables its recovery path rebuilds (components/recovery_handler.py); here
state survives in the checkpoint and merging is associative, so a
crash/restart replays only the failed batch.

Scale shape: state is 4 longs per user, partitioned by the grouping key
(RocksDB state store); each micro-batch shuffles only its own rows by
user_id; Arrow batches cross to Python once per key-partition per batch.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any, Iterator

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import SparkSession

OUTPUT_SCHEMA = (
    "user_id long, first_ts_us long, last_ts_us long, "
    "n_events long, total_value_c long"
)
_STATE_SCHEMA = "first long, last long, n long, total_c long"

_OUT_COLUMNS = ["user_id", "first_ts_us", "last_ts_us", "n_events", "total_value_c"]


def _merge_profile(pdf_iter, prev: tuple | None) -> tuple:
    """The associative merge: fold this batch's rows into (min ts_us,
    max ts_us, count, exact cents-sum) and combine with the previous state
    tuple. Cents use floor(value*100+0.5), identical to the batch
    oracle."""
    import numpy as np
    import pandas as pd

    first = last = None
    n = 0
    total_c = 0
    for pdf in pdf_iter:
        ts_us = pd.to_datetime(pdf["ts"]).astype("int64") // 1000
        cents = np.floor(pdf["value"].to_numpy() * 100 + 0.5).astype("int64")
        b_first = int(ts_us.min())
        b_last = int(ts_us.max())
        first = b_first if first is None else min(first, b_first)
        last = b_last if last is None else max(last, b_last)
        n += int(len(pdf))
        total_c += int(cents.sum())
    if prev is not None:
        p_first, p_last, p_n, p_total = prev
        first = min(first, p_first)
        last = max(last, p_last)
        n += p_n
        total_c += p_total
    return (first, last, n, total_c)


def _merge_profile_groups(key: tuple, pdf_iter: Iterator[Any], state: Any):
    """_merge_profile against the user's GroupState: one state tuple of 4
    longs per user; emits the merged profile row each batch."""
    import pandas as pd

    (user_id,) = key
    merged = _merge_profile(pdf_iter, state.get if state.exists else None)
    state.update(merged)
    yield pd.DataFrame([(user_id, *merged)], columns=_OUT_COLUMNS)


def profile_stream(events: DataFrame) -> DataFrame:
    """events (streaming, with ``ts``, ``user_id`` and ``value``) -> the
    updated profile row of every user seen in each micro-batch. The latest
    row per user equals the batch aggregate over all events, which
    test_transform_with_state_profiles and the oracle pin."""
    return (
        events.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _merge_profile_groups,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_profile_stream(
    spark: "SparkSession",
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """availableNow drain; every batch's emitted profile rows land in the
    sink under their batch id (a replayed batch overwrites its own
    directory), so the sink holds the profile's full revision history and
    ``latest per user`` is the materialized view."""
    from mysql_streamer_spark.streaming.runner import (
        drain_stateful,
        load_events_stream,
        write_sink_batch,
    )

    events = load_events_stream(spark, source_dir, max_files_per_trigger)
    drain_stateful(
        spark,
        profile_stream(events)
        .writeStream.foreachBatch(
            lambda df, batch_id: write_sink_batch(df, out_dir, batch_id)
        )
        .outputMode("update"),
        checkpoint_dir,
    )
