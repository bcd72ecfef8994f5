"""Stateful streaming on Spark 4's ``transformWithStateInPandas`` — the
successor API to ``applyInPandasWithState`` (SPARK-49564 / the
StatefulProcessor model: typed composite state handles instead of one
opaque tuple, per-state TTL, timers, and RocksDB-native layout).

Operator: a cross-batch per-user PROFILE maintainer. Every micro-batch
merges its events into a ValueState profile (first/last event time, event
count, exact value cents) and emits the UPDATED profile row — the
incremental materialized-view pattern: downstream consumers read the
latest row per key and never rescan history. The reference's analogue is
the continuously-maintained state tables its recovery path rebuilds
(components/recovery_handler.py); here state survives in the checkpoint
and merging is associative, so a crash/restart replays only the failed
batch.

Scale shape: state is 4 longs per user, partitioned by the grouping key
(RocksDB state store); each micro-batch shuffles only its own rows by
user_id; Arrow batches cross to Python once per key-partition per batch.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any, Iterator

from pyspark.sql import DataFrame

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import SparkSession

from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

OUTPUT_SCHEMA = (
    "user_id long, first_ts_us long, last_ts_us long, "
    "n_events long, total_value_c long"
)
_STATE_SCHEMA = "first long, last long, n long, total_c long"

_OUT_COLUMNS = ["user_id", "first_ts_us", "last_ts_us", "n_events", "total_value_c"]


def _merge_profile(pdf_iter, prev: tuple | None) -> tuple:
    """The ONE associative merge both stateful APIs share: fold this
    batch's rows into (min ts_us, max ts_us, count, exact cents-sum) and
    combine with the previous state tuple. Cents use floor(value*100+0.5),
    identical to the batch oracle. Keeping it in one place is what makes
    the two paths byte-identical by construction."""
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


class UserProfileProcessor(StatefulProcessor):
    """Associative merge of (min ts, max ts, count, cents-sum) per user."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        from pyspark.sql.types import (
            LongType,
            StructField,
            StructType,
        )

        schema = StructType(
            [
                StructField("first", LongType()),
                StructField("last", LongType()),
                StructField("n", LongType()),
                StructField("total_c", LongType()),
            ]
        )
        self._profile = handle.getValueState("profile", schema)

    def handleInputRows(
        self, key: tuple, rows: Iterator[Any], timerValues: Any
    ) -> Iterator[Any]:
        import pandas as pd

        (user_id,) = key
        prev = self._profile.get() if self._profile.exists() else None
        merged = _merge_profile(rows, prev)
        self._profile.update(merged)
        yield pd.DataFrame([(user_id, *merged)], columns=_OUT_COLUMNS)

    def close(self) -> None:
        pass


def protobuf_available() -> bool:
    """transformWithStateInPandas speaks to the JVM state server over a
    protobuf protocol; the StatefulProcessor path can only RUN where
    google.protobuf exists (pyspark declares it only as an optional
    'connect' extra, and this container ships without it)."""
    import importlib.util

    try:
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:  # no 'google' namespace package at all
        return False


def _merge_profile_groups(key: tuple, pdf_iter: Iterator[Any], state: Any):
    """_merge_profile expressed against ``applyInPandasWithState``'s
    GroupState — the fallback engine for environments without
    google.protobuf. One state tuple of 4 longs per user; emits the merged
    profile row each batch, so the sink contract (latest row per key =
    batch aggregate) is identical on both paths by construction (both
    wrappers call the same merge)."""
    import pandas as pd

    (user_id,) = key
    merged = _merge_profile(pdf_iter, state.get if state.exists else None)
    state.update(merged)
    yield pd.DataFrame([(user_id, *merged)], columns=_OUT_COLUMNS)


def profile_stream(events: DataFrame, use_transform_with_state: bool | None = None) -> DataFrame:
    """The profile maintainer on whichever stateful API the environment can
    run: transformWithStateInPandas (typed state, TTL, timers — the
    successor API) where google.protobuf exists, else the semantically
    identical applyInPandasWithState fallback. Both partition state by
    user_id and carry 4 longs per key; the emitted rows are byte-identical,
    which test_transform_with_state_profiles pins against the batch
    aggregate (and the oracle checks end-to-end)."""
    grouped = events.select("user_id", "ts", "value").groupBy("user_id")
    if use_transform_with_state is None:
        use_transform_with_state = protobuf_available()
    if use_transform_with_state:
        return grouped.transformWithStateInPandas(
            statefulProcessor=UserProfileProcessor(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    from pyspark.sql.streaming.state import GroupStateTimeout

    return grouped.applyInPandasWithState(
        _merge_profile_groups,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_profile_stream(
    spark: "SparkSession",
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    state_partitions: int | None = None,
) -> None:
    """availableNow drain; every batch's emitted profile rows land in the
    sink under their batch id (a replayed batch overwrites its own
    directory), so the sink holds the profile's full revision history and
    ``latest per user`` is the materialized view."""
    from mysql_streamer_spark.streaming.runner import (
        STATE_PARTITIONS,
        drain,
        load_events_stream,
        pinned_state_partitions,
        use_rocksdb_state,
        write_sink_batch,
    )

    use_rocksdb_state(spark)
    events = load_events_stream(spark, source_dir, max_files_per_trigger)
    with pinned_state_partitions(spark, state_partitions or STATE_PARTITIONS):
        drain(
            profile_stream(events)
            .writeStream.foreachBatch(
                lambda df, batch_id: write_sink_batch(df, out_dir, batch_id)
            )
            .outputMode("update"),
            checkpoint_dir,
        )
