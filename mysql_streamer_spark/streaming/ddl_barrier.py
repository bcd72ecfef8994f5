"""DDL-as-barrier in the streaming plane.

The reference serializes schema changes INSIDE the stream: when a
QueryEvent arrives it flushes the producer, checkpoints, executes the DDL
on the schema tracker, diffs, and registers the new schema version —
only then do subsequent row events resolve to the new schema id
(reference components/schema_event_handler.py:66-113; cache reset
schema_event_handler.py:115-121). This module is that protocol as a
Structured Streaming ``foreachBatch`` barrier:

- One ordered feed interleaves QueryEvents (schema-version DDL) and
  DataEvents (row changes), staged as ts-ordered files whose boundaries
  deliberately do NOT align with DDL positions — so the barrier is
  exercised both ACROSS micro-batches (an ALTER in batch k must route
  batch k+1's rows to the new id) and WITHIN one (rows before/after the
  ALTER inside the same batch must split).
- The handler applies each batch's DDL rows (a bounded control-plane
  collect — a handful of statements, never data) to a LIVE registry
  state, persists the post-batch state keyed by batch id (the schema-
  event checkpoint, T5), then routes the batch's data rows with ONE
  broadcast interval join against the accumulated version dimension —
  the data plane never leaves the JVM.
- Crash safety: state application is idempotent (set-union keyed by
  (db, table, version)) and the sink overwrites per batch id, so Spark's
  deterministic micro-batch replay after an unclean shutdown — including
  a crash BETWEEN the schema checkpoint and the data write, the exact
  window the reference's pre/post-DDL checkpoint dance exists for
  (schema_event_handler.py:183-203) — converges to the same output.

Scale shape: per batch, the driver touches only DDL rows and a
constant-size state file; data rows take a map-side broadcast join. At
100 TB the feed is a Kafka topic instead of staged files and nothing
else changes.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql_streamer_spark.cdc.source import (
    HEARTBEAT_DB,
    REFRESH_SUFFIX,
    events_as_cdc,
)
from mysql_streamer_spark.schema.bootstrap import interval_dim_df, versioned_dim_rows
from mysql_streamer_spark.storage import atomic_write_json, read_json
from mysql_streamer_spark.streaming.runner import drain, write_sink_batch
from mysql_streamer_spark.tables import load_table, local_frame

#: feed schema shared by QueryEvents and DataEvents (version/schema_id are
#: NULL on data rows; ts is the binlog-clock instant for both)
FEED_SCHEMA = (
    "kind string, database string, table string, ts timestamp, "
    "version int, schema_id int"
)

#: ts-ordered file boundaries for the staged feed — chosen so every DDL cut
#: (Jan 5/8/11/14, schema/bootstrap.py _version_cut) lands MID-file, never
#: on a boundary: the within-batch half of the barrier stays exercised.
FEED_BOUNDARIES = (
    "2024-01-03 00:00:00",
    "2024-01-07 00:00:00",
    "2024-01-10 00:00:00",
    "2024-01-13 00:00:00",
    "2024-01-20 00:00:00",
)


#: ddl_query_event_rows' columns, ts as its "%Y-%m-%d %H:%M:%S" string
_DDL_ROW_SCHEMA = pa.schema(
    [
        ("kind", pa.string()),
        ("database", pa.string()),
        ("table", pa.string()),
        ("ts", pa.string()),
        ("version", pa.int32()),
        ("schema_id", pa.int32()),
    ]
)


def ddl_query_event_rows() -> list[tuple[str, str, str, str, int, int]]:
    """The feed's QueryEvents: every version-creating DDL (version >= 2)
    with the instant it took effect."""
    return [
        ("ddl", db, table, eff, version, sid)
        for db, table, version, sid, eff, _end in versioned_dim_rows()
        if version > 1
    ]


def initial_state_entries() -> set[tuple[str, str, int, int, str]]:
    """Registry state at stream start: the version-1 entries (they predate
    the binlog window, VERSION_EPOCH)."""
    return {
        (db, table, version, sid, eff)
        for db, table, version, sid, eff, _end in versioned_dim_rows()
        if version == 1
    }


def stage_barrier_feed(spark: SparkSession, sf_dir: str, src_dir: str) -> int:
    """Materialize the interleaved QueryEvent+DataEvent feed as ts-ordered
    parquet files with strictly increasing mtimes (FileStreamSource admits
    oldest-first, so micro-batch order follows the binlog order). Returns
    the file count."""
    import shutil
    import tempfile

    os.makedirs(src_dir, exist_ok=True)
    cdc = events_as_cdc(load_table(spark, sf_dir, "events")).filter(
        (F.col("database") != HEARTBEAT_DB) & (F.col("database") != "test")
    )
    dml = cdc.select(
        F.lit("dml").alias("kind"),
        "database",
        F.replace(F.col("table"), F.lit(REFRESH_SUFFIX), F.lit("")).alias("table"),
        F.col("timestamp").alias("ts"),
        F.lit(None).cast("int").alias("version"),
        F.lit(None).cast("int").alias("schema_id"),
    )
    ddl = local_frame(spark, ddl_query_event_rows(), _DDL_ROW_SCHEMA).withColumn(
        "ts", F.to_timestamp("ts")
    )
    feed = dml.unionByName(ddl)

    # one scan, one job: each ts-range lands in its own chunk=i partition
    # directory. Hash-partitioning on the chunk value keeps every chunk's
    # rows in exactly ONE task (so each chunk=i dir still gets a single
    # file) while the chunks write in parallel — repartition(1) serialized
    # the whole feed through one core (guide §2.5 single-split feeds).
    chunk = F.lit(0)
    for b in FEED_BOUNDARIES:
        chunk = chunk + (F.col("ts") >= F.lit(b).cast("timestamp")).cast("int")
    tmp = tempfile.mkdtemp(prefix="mss_barrier_chunks_")
    feed.withColumn("chunk", chunk).repartition(
        len(FEED_BOUNDARIES) + 1, "chunk"
    ).write.mode("overwrite").partitionBy("chunk").parquet(tmp)
    base = os.stat(sf_dir).st_mtime
    n = 0
    for i in range(len(FEED_BOUNDARIES) + 1):
        cdir = os.path.join(tmp, f"chunk={i}")
        if not os.path.isdir(cdir):
            continue
        part = next(f for f in os.listdir(cdir) if f.endswith(".parquet"))
        dst = os.path.join(src_dir, f"chunk-{i:03d}.parquet")
        shutil.move(os.path.join(cdir, part), dst)
        os.utime(dst, (base + 10 * i, base + 10 * i))
        n += 1
    shutil.rmtree(tmp, ignore_errors=True)
    return n


def dim_from_interval_rows(
    spark: SparkSession,
    rows: list[tuple[str, str, int, int, str, str | None]],
) -> DataFrame:
    """Interval rows -> the typed version dimension frame, a JVM-local
    relation (no Python task scans it)."""
    return interval_dim_df(spark, rows).withColumnsRenamed(
        {"database": "d_db", "table": "d_table"}
    )


def route_data_events(feed: DataFrame, dim: DataFrame) -> DataFrame:
    """The barrier's data plane: DataEvents -> (db, table, version,
    schema_id, ts) via ONE broadcast interval join against the version
    dimension — each row matches exactly one validity interval, map-side.
    Pure over any feed (batch inside foreachBatch, or a streaming frame
    for plan audits)."""
    # data rows carry NULL version/schema_id placeholders — drop them so
    # the routed values come unambiguously from the dimension
    dml = feed.filter(F.col("kind") == "dml").select("database", "table", "ts")
    return dml.join(
        F.broadcast(dim),
        (dml.database == dim.d_db)
        & (dml.table == dim.d_table)
        & (dml.ts >= dim.eff_ts)
        & (dim.eff_end.isNull() | (dml.ts < dim.eff_end)),
        "inner",
    ).select("database", "table", "version", "schema_id", "ts")


class DdlBarrierHandler:
    """The foreachBatch barrier: apply this batch's QueryEvents to the live
    registry state (persisted per batch id — T5's schema-event checkpoint),
    then route the batch's DataEvents as-of their position via one
    broadcast interval join built from the accumulated state."""

    def __init__(
        self,
        out_dir: str,
        state_dir: str,
        fail_after_batches: int | None = None,
        fail_mode: str = "before",
    ):
        self.out_dir = out_dir
        self.state_dir = state_dir
        self.fail_after = fail_after_batches
        #: 'before' = crash before the batch runs at all; 'mid_ddl' = crash
        #: AFTER the schema-event checkpoint but BEFORE the data write —
        #: the exact unclean-shutdown-during-schema-event window the
        #: reference's pre/post-DDL checkpoint dance exists for
        #: (schema_event_handler.py:183-203)
        self.fail_mode = fail_mode
        self.done = 0
        #: loaded on the first batch, so nothing touches state_dir before
        #: the drain holds the namespace lock
        self.state: set[tuple[str, str, int, int, str]] | None = None

    # -- schema-event checkpoint ------------------------------------------
    def _state_files(self) -> list[tuple[int, str]]:
        out = []
        for f in os.listdir(self.state_dir):
            if f.startswith("after-") and f.endswith(".json"):
                out.append((int(f[len("after-") : -len(".json")]), f))
        return sorted(out)

    def _load_state(self) -> set[tuple[str, str, int, int, str]]:
        os.makedirs(self.state_dir, exist_ok=True)
        files = self._state_files()
        if not files:
            return set(initial_state_entries())
        _, latest = files[-1]
        return {tuple(e) for e in read_json(os.path.join(self.state_dir, latest))}

    def _save_state(self, batch_id: int) -> None:
        atomic_write_json(
            os.path.join(self.state_dir, f"after-{batch_id}.json"), sorted(self.state)
        )

    # -- the barrier -------------------------------------------------------
    def _dim_rows(self) -> list[tuple[str, str, int, int, str, str | None]]:
        """Accumulated state -> validity intervals [eff_ts, next version's
        eff_ts). The LAST known version is open-ended: rows logged after it
        route to it until a later DDL arrives — exactly the reference's
        cache semantics (the cache serves the current id until the next
        schema event resets it)."""
        by_table: dict[tuple[str, str], list[tuple[int, int, str]]] = {}
        for db, table, version, sid, eff in self.state:
            by_table.setdefault((db, table), []).append((version, sid, eff))
        rows: list[tuple[str, str, int, int, str, str | None]] = []
        for (db, table), versions in by_table.items():
            versions.sort()
            for i, (version, sid, eff) in enumerate(versions):
                end = versions[i + 1][2] if i + 1 < len(versions) else None
                rows.append((db, table, version, sid, eff, end))
        return rows

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if (
            self.fail_after is not None
            and self.fail_mode == "before"
            and self.done >= self.fail_after
        ):
            raise RuntimeError(f"injected crash before batch {batch_id}")
        spark = batch_df.sparkSession
        if self.state is None:
            self.state = self._load_state()
        # control plane: the batch's QueryEvents, applied in position order.
        # Idempotent set-union keyed by (db, table, version) — a replayed
        # batch re-applies harmlessly.
        ddls = (
            batch_df.filter(F.col("kind") == "ddl")
            .select("database", "table", "version", "schema_id", "ts")
            .collect()
        )
        for r in sorted(ddls, key=lambda r: (r["ts"], r["version"])):
            self.state.add(
                (
                    r["database"],
                    r["table"],
                    int(r["version"]),
                    int(r["schema_id"]),
                    r["ts"].strftime("%Y-%m-%d %H:%M:%S"),
                )
            )
        # schema-event checkpoint BEFORE the data write (the reference's
        # pre-DDL save): a crash in between replays into identical state.
        self._save_state(batch_id)
        if (
            self.fail_after is not None
            and self.fail_mode == "mid_ddl"
            and self.done >= self.fail_after
        ):
            raise RuntimeError(
                f"injected crash mid-DDL in batch {batch_id} "
                "(state checkpointed, data unwritten)"
            )

        dim = dim_from_interval_rows(spark, self._dim_rows())
        write_sink_batch(route_data_events(batch_df, dim), self.out_dir, batch_id)
        self.done += 1


def run_ddl_barrier_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    fail_after_batches: int | None = None,
    fail_mode: str = "before",
    max_files_per_trigger: int = 1,
) -> int:
    """Drain the staged feed through the DDL barrier; returns the number of
    micro-batches executed. Restart with the same dirs to recover from an
    injected crash (deterministic replay x idempotent sink x idempotent
    state application). A second driver on the same dirs raises
    SingletonLockHeld instead of interleaving schema-event checkpoints."""
    handler = DdlBarrierHandler(out_dir, state_dir, fail_after_batches, fail_mode)
    stream = (
        spark.readStream.schema(FEED_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )
    drain(stream.writeStream.foreachBatch(handler), checkpoint_dir)
    return handler.done
