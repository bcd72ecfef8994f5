"""Custom stateful streaming operator: cross-batch sessionization with
``applyInPandasWithState`` — the escape hatch for stateful semantics the
built-in operators can't express (arbitrary per-key state machines).

Semantics: per user, events closer than ``GAP_MINUTES`` belong to one
session. A session EMITS only when it is provably closed — a later event
arrives beyond the gap — so emitted rows are immutable (exactly-once
friendly); the still-open session per user lives in the state store across
micro-batches and restarts.

Scale shape: state is (3 longs) per user; each micro-batch shuffles only
its own events by user_id, and Arrow moves the per-user batches to Python.
State-store size is O(active users), independent of history length.
"""

from __future__ import annotations

from typing import Any, Iterator

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

GAP_MINUTES = 30
_GAP_US = GAP_MINUTES * 60 * 1_000_000

#: epoch-microsecond longs keep the Arrow/state round-trip type-exact
OUTPUT_SCHEMA = (
    "user_id long, session_start_us long, session_end_us long, n_events long"
)
STATE_SCHEMA = "start long, end long, n long"


def _sessionize_fn(
    key: tuple, pdfs: Iterator[Any], state: GroupState
) -> Iterator[Any]:
    import pandas as pd

    (user_id,) = key
    if state.exists:
        start, end, n = state.get
    else:
        start = end = None
        n = 0

    closed: list[tuple[int, int, int, int]] = []
    ts_us: list[int] = []
    for pdf in pdfs:
        # pandas datetime64[ns/us] -> epoch µs
        vals = pd.to_datetime(pdf["ts"]).astype("int64") // 1000
        ts_us.extend(int(v) for v in vals)
    ts_us.sort()

    for t in ts_us:
        if start is None:
            start, end, n = t, t, 1
        elif t - end > _GAP_US:
            closed.append((user_id, start, end, n))
            start, end, n = t, t, 1
        else:
            end = t
            n += 1

    if start is not None:
        state.update((start, end, n))
    if closed:
        yield pd.DataFrame(
            closed,
            columns=["user_id", "session_start_us", "session_end_us", "n_events"],
        )


def sessionize_stream(events: DataFrame) -> DataFrame:
    """events (streaming, with ``ts`` and ``user_id``) -> closed sessions."""
    return (
        events.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_session_stream(
    spark, source_dir: str, out_dir: str, checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    from mysql_streamer_spark.streaming.runner import (
        drain_stateful,
        load_events_stream,
    )

    events = load_events_stream(spark, source_dir, max_files_per_trigger)
    drain_stateful(
        spark,
        sessionize_stream(events)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append"),
        checkpoint_dir,
    )
