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
- T8 graceful shutdown: ``availableNow`` triggers drain all available input
  and terminate cleanly; an interrupted run is indistinguishable from a
  crash and heals by the same replay path.

Scale: the micro-batch plan is envelope_pipeline_df — stateless projections
plus one broadcast join — so each batch parallelizes across the cluster
exactly like the batch plan; checkpoint I/O is per-batch constant-size
metadata.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql_streamer_spark.cdc.pipeline import envelope_pipeline_df
from mysql_streamer_spark.streaming import state_table


#: Production state backend: RocksDB keeps stateful-operator state (dedup
#: keys, session windows, join buffers) on local disk with incremental
#: checkpointing — at 100 TB/day the dedup/session state exceeds executor
#: heap, where the default in-memory HDFS-backed provider OOMs. Bundled
#: with Spark 4; set before a query's FIRST start (the provider is fixed
#: per checkpoint lineage).
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

#: Default state-store partition count for the stateful streams here.
#: A stateful operator materializes one RocksDB store instance PER shuffle
#: partition PER micro-batch (open + commit + checkpoint upload each), and
#: the count is frozen into the checkpoint at query creation — it is a
#: per-deployment knob sized to the stream's key cardinality/throughput up
#: front (the same knob run_interval_join_stream has always pinned), NOT
#: the batch shuffle default. The fixtures here carry thousands of state
#: keys, where 8 stores already hold O(hundreds) keys each; a 100 TB/day
#: deployment sizes this to its key volume (e.g. thousands of partitions)
#: when it creates the checkpoint. Locally, inheriting the batch default
#: (=cores) meant 32 store open/commit cycles per micro-batch; measured
#: on the windowed stream at sf0.1 (min-of-4, alternating in-session A/B):
#: 32 partitions 2.97s vs 8 partitions 1.51s vs 4 partitions 1.37s, with
#: identical emitted rows — the per-store fixed cost dominates tiny state.
STATE_PARTITIONS = 8


def use_rocksdb_state(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)


class pinned_state_partitions:
    """Pin spark.sql.shuffle.partitions while a streaming query STARTS
    (the value is captured into the checkpoint then), restoring the batch
    default afterwards — scoping the deployment knob to the stream."""

    def __init__(self, spark: SparkSession, n: int = STATE_PARTITIONS) -> None:
        self._spark = spark
        self._n = n

    def __enter__(self) -> None:
        self._prev = self._spark.conf.get("spark.sql.shuffle.partitions")
        self._spark.conf.set("spark.sql.shuffle.partitions", str(self._n))

    def __exit__(self, *exc: object) -> None:
        self._spark.conf.set("spark.sql.shuffle.partitions", self._prev)


def load_events_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """readStream over an events parquet directory (schema inferred from a
    batch peek; ts arrives as parquet TIMESTAMP(NANOS) -> long -> µs)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(source_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # watermarks reject TIMESTAMP_NTZ; session tz is UTC so the cast is
        # value-preserving and matches the batch loader's normalization
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _idempotent_parquet_sink(out_dir: str) -> Callable[[DataFrame, int], None]:
    """Overwrite-by-batch-id: replaying batch N after a crash overwrites its
    own directory — the write is idempotent, hence exactly-once end-to-end
    (deterministic replay x idempotent sink)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    return write_batch


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
    same checkpoint to exercise recovery. ``state_dir`` additionally keeps
    the reference-parity state after each sink write, derived from the batch
    read back from the sink: ``<cluster_name>.json`` (global_event_state)
    and ``topic_offsets.json`` (data_event_checkpoint), driver-side JSON
    committed by temp file + fsync + rename (streaming/state_table.py).
    """
    sink = _idempotent_parquet_sink(out_dir)
    done = [0]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if fail_after_batches is not None and done[0] >= fail_after_batches:
            raise RuntimeError(f"injected crash before batch {batch_id}")
        env = envelope_pipeline_df(batch_df)
        sink(env, batch_id)
        if state_dir is not None:
            # module attributes, looked up per batch (callers may swap them)
            committed = read_sink_batch(spark, out_dir, batch_id)
            pos = state_table.batch_position(committed)
            if pos is not None:
                state_table.advance_state(spark, state_dir, cluster_name, pos, batch_id)
                state_table.save_topic_offsets(committed, state_dir, batch_id)
        done[0] += 1

    events = load_events_stream(spark, source_dir, max_files_per_trigger)
    # T7: at most one instance per namespace. Spark rejects a second query
    # on this checkpoint within THIS session; the namespace lock
    # (streaming/singleton.py) extends the guarantee to a second driver
    # process — the reference's ZKLock
    # (base_parse_replication_stream.py:126-131), kept on the checkpoint's
    # own storage. Released on any exit, clean or injected-crash; a hard
    # kill leaves a dead-pid lock the next instance breaks as stale.
    from mysql_streamer_spark.streaming.singleton import NamespaceLock

    with NamespaceLock(checkpoint_dir):
        query = (
            events.writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return done[0]


def read_sink(spark: SparkSession, out_dir: str) -> DataFrame:
    """The sink's merged view (batch_id partition column dropped)."""
    return spark.read.parquet(out_dir).drop("batch_id")


def read_sink_batch(spark: SparkSession, out_dir: str, batch_id: int) -> DataFrame:
    """One committed batch's rows (reads back what was just written, so the
    position reflects durable data only)."""
    return spark.read.parquet(f"{out_dir}/batch_id={batch_id}")


def run_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "36500 days",
    max_files_per_trigger: int = 1,
    state_partitions: int = STATE_PARTITIONS,
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
    use_rocksdb_state(spark)
    events = load_events_stream(spark, source_dir, max_files_per_trigger)
    deduped = (
        events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "ts", "user_id", "event_type")
    )
    with pinned_state_partitions(spark, state_partitions):
        query = (
            deduped.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()


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
    state_partitions: int = STATE_PARTITIONS,
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
    use_rocksdb_state(spark)
    events = load_events_stream(spark, source_dir, max_files_per_trigger)
    agg = windowed_counts_df(events, window=window, watermark=watermark)
    with pinned_state_partitions(spark, state_partitions):
        query = (
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()


def run_session_window_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    max_files_per_trigger: int = 32,
    state_partitions: int = STATE_PARTITIONS,
) -> None:
    """Watermarked SESSION-window aggregation to an append-mode sink — the
    native merging-session operator under streaming state. A session emits
    only once the watermark passes its end (last event + gap), so emitted
    sessions are final even with out-of-order events inside the delay;
    sessions still open when the stream drains stay in state, withheld."""
    use_rocksdb_state(spark)
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
    with pinned_state_partitions(spark, state_partitions):
        query = (
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()


def run_interval_join_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    lookback: str = "30 minutes",
    watermark: str = "1 hour",
    state_partitions: int = 8,
) -> None:
    """Stream-stream interval join: purchases matched to the same user's
    clicks in the trailing ``lookback`` window, append-mode to parquet.

    ``state_partitions`` pins spark.sql.shuffle.partitions for this query:
    a stream-stream join materializes FOUR state stores per shuffle
    partition, and the count is frozen into the checkpoint at creation —
    it must be sized to the stream's key cardinality/throughput up front
    (a real deployment knob, not the batch shuffle default). The batch
    default is restored after the drain.

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
    use_rocksdb_state(spark)
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
    with pinned_state_partitions(spark, state_partitions):
        query = (
            joined.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()


def run_upsert_stream(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    fail_after_batches: int | None = None,
) -> int:
    """Incrementally-maintained latest-state table (streaming MERGE/upsert):
    each micro-batch's envelope messages upsert into a keyed state table —
    new keys insert, existing keys keep whichever version has the higher
    txn_order. The final table equals the BATCH latest-state query over
    the full input (the materialized-view invariant), which is exactly
    what the oracle checks.

    Mechanics: the state lives in generation directories (gen=N); each
    batch reads the previous generation, unions the batch's envelope,
    re-reduces with the same map-side-combinable max_by as the batch
    query, and writes gen=N+1. A replayed batch (crash between write and
    checkpoint commit) re-derives the same generation from the same
    inputs — the upsert is deterministic and idempotent per batch id, so
    recovery is exactly-once. At scale the state table would be bucketed
    by the business key so the per-batch reduce co-locates with no
    shuffle of the existing state (storage.write_bucketed); generations
    are how table formats without transactions emulate Delta/Iceberg
    commit atomicity.

    Returns the number of micro-batches executed.
    """
    import os as _os

    from mysql_streamer_spark.skew import latest_by_key

    keys = ["database_name", "table_name", "pk"]
    payload = ["message_type", "payload_k", "payload_val"]
    done = [0]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if fail_after_batches is not None and done[0] >= fail_after_batches:
            raise RuntimeError(f"injected crash before batch {batch_id}")
        env = envelope_pipeline_df(batch_df).select(*keys, "txn_order", *payload)
        gen_dir = f"{state_dir}/gen={batch_id}"
        prev = [
            f"{state_dir}/{d}"
            for d in (_os.listdir(state_dir) if _os.path.isdir(state_dir) else [])
            if d.startswith("gen=") and int(d.split("=")[1]) < batch_id
        ]
        if prev:
            latest_prev = max(prev, key=lambda p: int(p.split("=")[1]))
            merged = spark.read.parquet(latest_prev).unionByName(env)
        else:
            merged = env
        latest_by_key(merged, keys, "txn_order", payload).write.mode(
            "overwrite"
        ).parquet(gen_dir)
        done[0] += 1

    events = load_events_stream(spark, source_dir, max_files_per_trigger)
    query = (
        events.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return done[0]


def read_latest_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The newest generation of the upsert state table."""
    import os as _os

    gens = [
        d for d in _os.listdir(state_dir) if d.startswith("gen=")
    ]
    newest = max(gens, key=lambda d: int(d.split("=")[1]))
    return spark.read.parquet(f"{state_dir}/{newest}")
