"""Checkpointed streaming execution of the CDC envelope pipeline.

Re-expresses the reference's entire state/recovery subsystem with Spark
Structured Streaming primitives:

- T4 position checkpoint: the checkpoint directory. Spark records source
  offsets per micro-batch transactionally; recovery reads no hand-rolled
  ``global_event_state`` table (reference util/misc.py:89-114,
  base_parse_replication_stream.py:207-221).
- R2/R3 restart + unclean-shutdown recovery: restarting the query with the
  same checkpoint deterministically REPLAYS the failed micro-batch
  (reference replication_stream_restarter.py:31-100,
  recovery_handler.py:127-229).
- T6 exactly-once: the sink is idempotent by construction — each batch
  overwrites its own ``batch_id=N`` directory, so a replayed batch lands on
  top of its partial first attempt instead of duplicating it (the
  ``ensure_messages_published`` dedup, recovery_handler.py:160-168, as a
  sink property rather than a recovery pass).
- T7 singleton: every drain holds the checkpoint's namespace lock
  (streaming/singleton.py), the reference's ZKLock
  (base_parse_replication_stream.py:126-131) on the checkpoint's own
  storage, so a second driver on the same checkpoint refuses to start.
- T8 graceful shutdown: ``availableNow`` triggers drain all available input
  and terminate cleanly; an interrupted run is indistinguishable from a
  crash and heals by the same replay path.

``drain`` is that lifecycle (lock, checkpoint, trigger, terminate) and
``write_sink_batch`` that sink; every checkpointed stream in the package
goes through them, and the few streams that cannot use ``drain`` say why
where they start. ``drain_stateful`` is ``drain`` under the state-store
policy (RocksDB provider, ``STATE_PARTITIONS``), the one place a stream
with stateful operators gets it.

Scale: the micro-batch plan is envelope_pipeline_df — stateless projections
plus one broadcast join — so each batch parallelizes across the cluster
exactly like the batch plan; checkpoint I/O is per-batch constant-size
metadata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import StructType

from mysql_streamer_spark.cdc.pipeline import changelog_from_cdc, envelope_pipeline_df
from mysql_streamer_spark.cdc.source import events_as_cdc
from mysql_streamer_spark.skew import latest_by_key
from mysql_streamer_spark.streaming import state_table
from mysql_streamer_spark.streaming.singleton import NamespaceLock
from mysql_streamer_spark.tables import normalize_timestamps


#: Production state backend: RocksDB keeps stateful-operator state (dedup
#: keys, session windows, join buffers) on local disk with incremental
#: checkpointing — at 100 TB/day the dedup/session state exceeds executor
#: heap, where the default in-memory HDFS-backed provider OOMs. Bundled
#: with Spark 4; ``drain_stateful`` sets it for the query's start (the
#: provider is fixed per checkpoint lineage).
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

#: State-store partition count for every stateful stream here: the shuffle
#: partitions ``drain_stateful`` pins while the query starts. A stateful
#: operator materializes one RocksDB store instance PER shuffle partition
#: PER micro-batch (open + commit + checkpoint upload each; a stream-stream
#: join four), and the first start freezes the count into the checkpoint's
#: offset log, so it is sized to the stream's key volume up front, not
#: taken from the batch shuffle default. The fixtures here carry thousands
#: of state keys, where 8 stores already hold O(hundreds) keys each; a
#: 100 TB/day deployment sizes this to its key volume (e.g. thousands of
#: partitions) before it creates the checkpoint. Locally, inheriting the
#: batch default (=cores) meant 32 store open/commit cycles per micro-batch;
#: measured on the windowed stream at sf0.1 (min-of-4, alternating in-session
#: A/B): 32 partitions 2.97s vs 8 partitions 1.51s vs 4 partitions 1.37s,
#: with identical emitted rows — the per-store fixed cost dominates tiny
#: state.
STATE_PARTITIONS = 8


#: (applicationId, source_dir) -> the events schema read by the first
#: load_events_stream on that directory. The peek is a footer-read job over
#: the whole (growing) directory; a stream's files all share one schema, so
#: every later drain of the application reuses it. A failed peek (an empty
#: or missing directory) raises and caches nothing.
_SCHEMA_CACHE: dict[tuple[str, str], StructType] = {}


def load_events_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """readStream over an events parquet directory (schema inferred from a
    batch peek, once per application and directory; ts arrives as parquet
    TIMESTAMP(NANOS) -> long -> µs)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = (spark.sparkContext.applicationId, source_dir)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = _SCHEMA_CACHE[key] = spark.read.parquet(source_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    return normalize_timestamps(stream, ["ts"])


def drain(writer: DataStreamWriter, checkpoint_dir: str) -> None:
    """Run a configured stream (foreachBatch or file sink) on
    ``checkpoint_dir`` until it has processed all available input, then
    return. T7: at most one instance per namespace. Spark rejects a second
    query on a checkpoint within one session; the namespace lock extends
    that to a second driver process, which raises SingletonLockHeld before
    the query starts. The lock is released on any exit, and a hard kill
    releases it with the process. A source without availableNow support
    (the Python data sources) runs one batch instead, so a restart over an
    uncommitted batch replays only that batch."""
    with NamespaceLock(checkpoint_dir):
        writer.option("checkpointLocation", checkpoint_dir).trigger(
            availableNow=True
        ).start().awaitTermination()


def drain_stateful(
    spark: SparkSession, writer: DataStreamWriter, checkpoint_dir: str
) -> None:
    """``drain`` for a stream with stateful operators: the query starts on
    the RocksDB state store with ``STATE_PARTITIONS`` shuffle partitions,
    and the session gets its own two values back on any exit (the
    stateless drains keep the session's). The first start freezes both
    into the checkpoint's offset log and a restart reads them from there,
    so putting the session's values back never changes a stream."""
    conf = spark.conf
    provider = conf.get("spark.sql.streaming.stateStore.providerClass")
    partitions = conf.get("spark.sql.shuffle.partitions")
    try:
        conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
        conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
        drain(writer, checkpoint_dir)
    finally:
        conf.set("spark.sql.streaming.stateStore.providerClass", provider)
        conf.set("spark.sql.shuffle.partitions", partitions)


def write_sink_batch(df: DataFrame, out_dir: str, batch_id: int) -> None:
    """Overwrite-by-batch-id: replaying batch N after a crash overwrites its
    own directory — the write is idempotent, hence exactly-once end-to-end
    (deterministic replay x idempotent sink)."""
    df.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")


def run_envelope_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    fail_after_batches: int | None = None,
    state_dir: str | None = None,
    cluster_name: str = "refresh_primary",
) -> int:
    """Drain all available events through the envelope pipeline into the
    idempotent sink; returns the number of micro-batches executed.

    ``fail_after_batches=N`` injects a crash after N successful batches
    (mirrors the reference's RestartHelper stop-after-N hook,
    testing_helper/restart_helper.py:39-124) — the caller restarts with the
    same checkpoint to exercise recovery. Every message carries
    ``cluster_name``. ``state_dir`` additionally keeps the reference-parity
    state after each sink write, from one aggregate over the batch read back
    under its written schema: ``<cluster_name>.json`` (global_event_state)
    and ``topic_offsets.json`` (data_event_checkpoint), driver-side JSON
    committed by temp file + fsync + rename (streaming/state_table.py).
    """
    done = [0]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if fail_after_batches is not None and done[0] >= fail_after_batches:
            raise RuntimeError(f"injected crash before batch {batch_id}")
        env = envelope_pipeline_df(batch_df, cluster_name=cluster_name)
        write_sink_batch(env, out_dir, batch_id)
        if state_dir is not None:
            # module attributes, looked up per batch (callers may swap them)
            committed = read_sink_batch(spark, out_dir, batch_id, env.schema)
            pos, marks = state_table.batch_position(committed)
            if pos is not None:
                state_table.advance_state(state_dir, cluster_name, pos, batch_id)
                state_table.save_topic_offsets(marks, state_dir, batch_id)
        done[0] += 1

    events = load_events_stream(spark, source_dir, max_files_per_trigger)
    drain(events.writeStream.foreachBatch(process), checkpoint_dir)
    return done[0]


def run_changelog_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """The reference's changelog_mode as a checkpointed stream (its second
    binary, batch/parse_replication_stream.py with changelog_mode: true):
    each micro-batch projects admitted row events to the constant
    {table_schema, table_name, id} changelog shape under its batch id."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        write_sink_batch(changelog_from_cdc(events_as_cdc(batch_df)), out_dir, batch_id)

    events = load_events_stream(spark, source_dir, max_files_per_trigger)
    drain(events.writeStream.foreachBatch(process), checkpoint_dir)


def read_sink(spark: SparkSession, out_dir: str) -> DataFrame:
    """The sink's merged view (batch_id partition column dropped)."""
    return spark.read.parquet(out_dir).drop("batch_id")


def read_sink_batch(
    spark: SparkSession, out_dir: str, batch_id: int, schema: StructType
) -> DataFrame:
    """One committed batch's rows, read back under the ``schema`` it was
    written with (durable data only, and no footer-inference job)."""
    return spark.read.schema(schema).parquet(f"{out_dir}/batch_id={batch_id}")


def run_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "36500 days",
    max_files_per_trigger: int = 1,
) -> None:
    """Streaming duplicate suppression across micro-batches (T6's data-plane
    form): ``dropDuplicatesWithinWatermark`` keys the state store on
    event_id, so a replayed/duplicated delivery in ANY later micro-batch
    inside the watermark horizon is dropped, not re-emitted.

    Unlike plain ``dropDuplicates`` (state grows forever on an unbounded
    stream), the watermark bounds state: at 100 TB/day you set the delay to
    the real redelivery horizon (e.g. 7 days) and state stays
    O(events/horizon). Tests use an effectively-infinite delay so the
    assertion is exact.
    """
    events = load_events_stream(spark, source_dir, max_files_per_trigger)
    deduped = (
        events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "ts", "user_id", "event_type")
    )
    drain_stateful(
        spark,
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append"),
        checkpoint_dir,
    )


def windowed_counts_df(
    events: DataFrame, window: str = "1 hour", watermark: str = "1 hour"
) -> DataFrame:
    """The pure watermarked tumbling-window transform — shared by the
    streaming runner and the plan-shape audit (the same composition is
    auditable on a batch frame, where watermark is a no-op)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def run_windowed_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "1 hour",
    max_files_per_trigger: int = 1,
) -> None:
    """Watermarked tumbling-window aggregation to an append-mode parquet
    sink — the late-data-handling surface (SURVEY §2.8).

    Append mode emits a window only once its end passes the watermark
    (max event time - delay), i.e. it is guaranteed complete even with
    late/out-of-order events inside the delay; the engine's trailing
    no-data micro-batch flushes every window the final watermark
    finalizes. Windows still open when the stream drains are withheld —
    exactly-once rather than maybe-updated-later.
    """
    events = load_events_stream(spark, source_dir, max_files_per_trigger)
    agg = windowed_counts_df(events, window=window, watermark=watermark)
    drain_stateful(
        spark,
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append"),
        checkpoint_dir,
    )


def run_session_window_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    max_files_per_trigger: int = 32,
) -> None:
    """Watermarked SESSION-window aggregation to an append-mode sink — the
    native merging-session operator under streaming state. A session emits
    only once the watermark passes its end (last event + gap), so emitted
    sessions are final even with out-of-order events inside the delay;
    sessions still open when the stream drains stay in state, withheld."""
    events = load_events_stream(spark, source_dir, max_files_per_trigger)
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
    drain_stateful(
        spark,
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append"),
        checkpoint_dir,
    )


def run_interval_join_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    lookback: str = "30 minutes",
    watermark: str = "1 hour",
) -> None:
    """Stream-stream interval join: purchases matched to the same user's
    clicks in the trailing ``lookback`` window, append-mode to parquet.

    Both sides carry a watermark and the join predicate bounds event time
    on BOTH ends, so the state store evicts a click once the purchase-side
    watermark passes click.ts + lookback — state is O(events inside the
    watermark horizon), not O(stream). This is the streaming form of the
    attribution as-of/range join (analytics_asof_attribution): same
    semantics class, but incremental with bounded state instead of a
    batch shuffle. The parquet file sink requires append mode, which
    stream-stream INNER joins support; each emitted row is final (a match
    can never be retracted), so replay + the file sink's transactional
    commit log keeps the output exactly-once.
    """
    purchases = (
        load_events_stream(spark, source_dir, max_files_per_trigger=1)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    clicks = (
        load_events_stream(spark, source_dir, max_files_per_trigger=1)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    joined = purchases.join(
        clicks,
        F.expr(
            f"p_user = c_user AND c_ts >= p_ts - INTERVAL {lookback}"
            " AND c_ts <= p_ts"
        ),
    ).select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        "click_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
    )
    drain_stateful(
        spark,
        joined.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append"),
        checkpoint_dir,
    )


#: The upsert table's business key and the columns its latest row carries.
_UPSERT_KEYS = ["database_name", "table_name", "pk"]
_UPSERT_PAYLOAD = ["message_type", "payload_k", "payload_val"]


def run_upsert_stream(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    fail_after_batches: int | None = None,
) -> int:
    """Incrementally-maintained latest-state table (streaming MERGE/upsert):
    new keys insert, existing keys keep whichever version has the higher
    txn_order. ``read_latest_state`` over the final table equals the BATCH
    latest-state query over the full input (the materialized-view
    invariant), which is exactly what the oracle checks.

    Mechanics: each micro-batch writes only its own latest row per key
    under its batch id, and the read folds the partials with the same
    map-side-combinable max_by. txn_order is unique per key, so max_by over
    any union of per-batch partials equals the one-pass answer; per-batch
    work is proportional to the batch, not to the table. A replayed batch
    (crash between write and checkpoint commit) overwrites its own
    ``batch_id=N`` directory with identical rows, so recovery is
    exactly-once. Limits: storage grows with the changes (reduced per
    batch, never compacted) and every read folds all partials; a batch
    written but not yet committed is visible until its replay rewrites
    it, as in every per-batch-id sink here.

    Returns the number of micro-batches executed.
    """
    done = [0]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if fail_after_batches is not None and done[0] >= fail_after_batches:
            raise RuntimeError(f"injected crash before batch {batch_id}")
        env = envelope_pipeline_df(batch_df)
        write_sink_batch(
            latest_by_key(env, _UPSERT_KEYS, "txn_order", _UPSERT_PAYLOAD),
            state_dir,
            batch_id,
        )
        done[0] += 1

    events = load_events_stream(spark, source_dir, max_files_per_trigger)
    drain(events.writeStream.foreachBatch(process), checkpoint_dir)
    return done[0]


def read_latest_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The upsert table: the per-batch partials folded to one latest row
    per key."""
    return latest_by_key(
        read_sink(spark, state_dir), _UPSERT_KEYS, "txn_order", _UPSERT_PAYLOAD
    )
