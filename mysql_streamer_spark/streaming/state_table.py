"""State-table parity (T4/K3): the reference persists its resume position
as one row per cluster in ``global_event_state`` (models/
global_event_state.py:37-92) and per-topic offsets in
``data_event_checkpoint`` (models/data_event_checkpoint.py:38-143). Spark's
checkpoint already owns recovery; this state is an inspectable "where is
the pipeline" view kept as two driver-side JSON documents in ``state_dir``:
``<cluster>.json`` (the position row) and ``topic_offsets.json`` (per-topic
high-water marks). Each save is one ``storage.atomic_write_json`` commit
(temp file + fsync + rename). The one Spark job is ``batch_position``, a
single grouped aggregate over the batch just read back that yields both the
position and the per-topic marks; everything else is plain Python over the
two documents.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mysql_streamer_spark.cdc.positions import LogPosition, construct_position
from mysql_streamer_spark.storage import atomic_write_json, read_json

TOPIC_OFFSETS = "topic_offsets.json"


def _order(p: LogPosition) -> tuple:
    return (p.log_file, p.log_pos, p.offset or 0)


def batch_position(
    committed: DataFrame,
) -> tuple[LogPosition | None, dict[str, tuple[int, int]]]:
    """``(position, marks)`` of a committed envelope batch, from one grouped
    aggregate per ``db.table`` topic: ``marks`` maps each topic to
    ``(max_txn_order, n_messages)`` and ``position`` is the max-txn_order
    row's (None for an empty batch). txn_order is unique per row, so the
    topic with the largest max holds the batch's max row."""
    topic = F.concat_ws(".", "database_name", "table_name").alias("topic")
    position = F.max_by(F.struct("log_file", "log_pos", "offset"), "txn_order")
    rows = committed.groupBy(topic).agg(
        F.max("txn_order").alias("max_txn_order"),
        F.count("*").alias("n_messages"),
        position.alias("p"),
    ).collect()
    marks = {r.topic: (r.max_txn_order, r.n_messages) for r in rows}
    if not rows:
        return None, marks
    p = max(rows, key=lambda r: r.max_txn_order).p
    return LogPosition(log_file=p.log_file, log_pos=p.log_pos, offset=p.offset), marks


def save_state(
    state_dir: str,
    cluster_name: str,
    position: LogPosition,
    batch_id: int,
    is_clean_shutdown: bool = False,
) -> None:
    """Upsert-by-replace of the cluster's single state row."""
    os.makedirs(state_dir, exist_ok=True)
    atomic_write_json(
        os.path.join(state_dir, f"{cluster_name}.json"),
        {
            "cluster_name": cluster_name,
            "position": position.to_dict(),
            "batch_id": batch_id,
            "event_type": "data_event",
            "is_clean_shutdown": is_clean_shutdown,
            "time_updated": time.time(),
        },
    )


def advance_state(
    state_dir: str, cluster_name: str, position: LogPosition, batch_id: int
) -> None:
    """Monotone upsert: a position only ever advances (reference invariant —
    the saved position is a high-water mark, and micro-batches are not
    guaranteed to arrive in event order when backfilling many files)."""
    existing = load_state(state_dir, cluster_name)
    if existing is not None and _order(existing[0]) >= _order(position):
        position = existing[0]
    save_state(state_dir, cluster_name, position, batch_id)


def load_state(state_dir: str, cluster_name: str):
    """(LogPosition, batch_id, is_clean_shutdown) or None if never saved."""
    row = read_json(os.path.join(state_dir, f"{cluster_name}.json"))
    if row is None:
        return None
    pos = construct_position(row["position"])
    return pos, row["batch_id"], row["is_clean_shutdown"]


# -- per-topic offsets (reference data_event_checkpoint,
#    models/data_event_checkpoint.py:38-143: kafka_topic -> kafka_offset) --


def save_topic_offsets(
    marks: dict[str, tuple[int, int]], state_dir: str, batch_id: int
) -> None:
    """Merge one committed batch's per-topic marks (``batch_position``)
    into the saved ones (bulk upsert semantics of the reference's checkpoint
    table). Idempotent per batch id: a topic already saved at this batch id
    or later skips it, so a batch replayed after a crash between this save
    and the engine's commit is not counted twice."""
    path = os.path.join(state_dir, TOPIC_OFFSETS)
    offsets = read_json(path) or {}
    for topic, (max_txn_order, n_messages) in marks.items():
        unseen = {"max_txn_order": max_txn_order, "n_messages": 0, "batch_id": -1}
        old = offsets.get(topic, unseen)
        if old["batch_id"] < batch_id:
            offsets[topic] = {
                "max_txn_order": max(old["max_txn_order"], max_txn_order),
                "n_messages": old["n_messages"] + n_messages,
                "batch_id": batch_id,
            }
    os.makedirs(state_dir, exist_ok=True)
    atomic_write_json(path, offsets)


def load_topic_offsets(state_dir: str) -> dict[str, dict[str, int]]:
    """The saved per-topic offsets (``{}`` if none were saved yet)."""
    return read_json(os.path.join(state_dir, TOPIC_OFFSETS)) or {}
