"""Streaming-plane correctness query: run the CHECKPOINTED Structured
Streaming form of the envelope pipeline end-to-end (readStream ->
foreachBatch -> idempotent sink), then return the sink contents. The oracle
is the exact same SQL as the batch ``cdc_envelope`` — the streaming plane
must produce byte-identical messages to the batch plan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql_streamer_spark.queries.cdc import (
    _ENVELOPE_SELECT,
    _LATEST_STATE_ORACLE,
    _ORACLE_PIPELINE_CTES,
    _SECURE_WIRE_ORACLE,
)
from mysql_streamer_spark.queries.registry import QuerySpec
from mysql_streamer_spark.storage import scratch_dir
from mysql_streamer_spark.streaming import read_sink, run_envelope_stream
from mysql_streamer_spark.streaming.runner import (
    drain,
    run_windowed_stream,
    write_sink_batch,
)
from mysql_streamer_spark.tables import table_path


def _link_table(sf_dir: str, dst_dir: str, alias: str) -> None:
    """Symlink the events table into a stream-source dir. A driver
    sf_dir carries ONE parquet file; a materialized k-fold
    (tools/scale_probe.py --materialize) carries a Spark-written
    DIRECTORY — link its part files individually (FileStreamSource does
    not recurse into linked directories)."""
    p = table_path(sf_dir, "events")
    if os.path.isdir(p):
        parts = sorted(
            f for f in os.listdir(p) if f.endswith(".parquet")
        )
        for j, f in enumerate(parts):
            os.symlink(f"{p}/{f}", f"{dst_dir}/{alias}_{j}.parquet")
    else:
        os.symlink(p, f"{dst_dir}/{alias}.parquet")


def _staged_source(sf_dir: str) -> str:
    """The file stream source wants a directory; link the table in."""
    work = scratch_dir("mss_stream_")
    src = f"{work}/src"
    os.makedirs(src)
    _link_table(sf_dir, src, "events")
    return work


def q_streaming_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    work = _staged_source(sf_dir)
    run_envelope_stream(
        spark, f"{work}/src", f"{work}/out", f"{work}/ckpt", max_files_per_trigger=1
    )
    return read_sink(spark, f"{work}/out")


def q_streaming_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The envelope pipeline streamed from the PLUGGABLE Python source
    (connectors/python_source.py SimpleDataSourceStreamReader): offset-
    tracked micro-batches drain through foreachBatch into the idempotent
    per-batch-id sink, and the result must be byte-identical to the batch
    envelope — the streaming half of the custom-source equivalence that
    ``cdc_python_source_envelope`` proves for batch. (Reference S1 as a
    live source, low_level_binlog_stream_reader_wrapper.py:143-161.)"""
    from mysql_streamer_spark.cdc.pipeline import envelope_pipeline_df
    from mysql_streamer_spark.connectors.python_source import (
        stream_events_from_python_source,
    )

    import pyarrow.parquet as _pq

    work = scratch_dir("mss_pysrc_stream_")
    out, ckpt = f"{work}/out", f"{work}/ckpt"
    from mysql_streamer_spark.connectors.python_source import _parquet_files

    # size micro-batches to the feed (~2 batches at any SF): each batch
    # costs ~0.5-0.9s of fixed plan/commit overhead regardless of rows
    # (measured in SCALE.md's streaming-floor table), and TWO batches
    # already prove the offset-resume/multi-batch property this query
    # exists for — the 4-batch schedule bought nothing but overhead; the
    # dedicated resume tests (test_python_source_streaming.py) exercise
    # many-batch schedules with their own batch_rows
    total = sum(
        _pq.ParquetFile(f).metadata.num_rows
        for f in _parquet_files(table_path(sf_dir, "events"))
    )
    env = envelope_pipeline_df(
        stream_events_from_python_source(
            spark, sf_dir, batch_rows=max(500, (total + 1) // 2)
        )
    )

    # off runner.drain: under availableNow the simple reader serves only
    # its first batch_rows batch. This is a limit of PySpark 4.1's Python
    # data source API, not of the reader: it has no read-limit or
    # availableNow hook (_SimpleStreamReaderWrapper has no availableNow
    # path), and latestOffset() takes no start offset, so a reader cannot
    # pace itself across a restart. processAllAvailable drains it instead.
    q = (
        env.writeStream.foreachBatch(lambda df, i: write_sink_batch(df, out, i))
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return read_sink(spark, out)


def q_streaming_partitioned_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The envelope pipeline streamed from the EXECUTOR-PARALLEL form of
    the pluggable source (connectors/python_source.py
    BinlogEventsPartitionedStreamReader, ``.option("partitioned",
    "true")``): offsets are a pure function of the files on disk,
    ``partitions()`` tiles the offset range into per-file row ranges and
    each range is read on an executor as Arrow batches with row-group
    pruning — the 1000-executor drain/backfill path, where the
    simpleStreamReader remains the paced driver-side tail-follower. Same
    oracle as streaming_python_source: the result must hash-match the
    batch envelope, proving the parallel read loses and duplicates
    nothing."""
    from mysql_streamer_spark.cdc.pipeline import envelope_pipeline_df
    from mysql_streamer_spark.connectors.python_source import (
        stream_events_from_python_source,
    )

    work = scratch_dir("mss_pysrc_part_stream_")
    out, ckpt = f"{work}/out", f"{work}/ckpt"
    env = envelope_pipeline_df(
        stream_events_from_python_source(spark, sf_dir, partitioned=True)
    )
    drain(
        env.writeStream.foreachBatch(lambda df, i: write_sink_batch(df, out, i)),
        ckpt,
    )
    return read_sink(spark, out)


def q_streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling windows in append mode: only windows finalized
    by the final watermark (max ts - 1 hour) are emitted — the oracle
    applies the same finalization predicate to the batch aggregation."""
    work = _staged_source(sf_dir)
    run_windowed_stream(spark, f"{work}/src", f"{work}/out", f"{work}/ckpt")
    return spark.read.parquet(f"{work}/out")


#: window_end (= start + 1h) must be <= watermark (= max ts - 1h)
_WINDOWED_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events
FROM events, (SELECT max(ts) AS max_ts FROM events)
GROUP BY 1, 2, max_ts
HAVING window_start + INTERVAL 2 HOUR <= max_ts
"""


def q_streaming_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The source delivers EVERY event twice (the same file linked twice,
    one file per micro-batch = a full redelivery in a later batch);
    dropDuplicatesWithinWatermark state suppresses the second delivery, so
    the sink equals the plain events table — at-least-once transport turned
    exactly-once at the operator level."""
    from mysql_streamer_spark.streaming.runner import run_dedup_stream

    work = _staged_source(sf_dir)
    _link_table(sf_dir, f"{work}/src", "events_redelivered")
    run_dedup_stream(spark, f"{work}/src", f"{work}/out", f"{work}/ckpt")
    return spark.read.parquet(f"{work}/out")


_DEDUP_REPLAY_ORACLE = """
SELECT event_id, ts, user_id, event_type FROM events
"""


def q_streaming_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState sessionizer: emits a session only once a
    later event proves it closed; each user's final session stays open in
    the state store, so the oracle is the batch sessionization minus every
    user's last session."""
    from mysql_streamer_spark.streaming.stateful import run_session_stream

    work = _staged_source(sf_dir)
    run_session_stream(spark, f"{work}/src", f"{work}/out", f"{work}/ckpt")
    return spark.read.parquet(f"{work}/out")


_STATEFUL_SESSIONS_ORACLE = """
WITH marked AS (
  SELECT user_id, ts, event_id,
    CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
         THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts,
    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
), agg AS (
  SELECT user_id, session_id,
    epoch_us(min(ts)) AS session_start_us,
    epoch_us(max(ts)) AS session_end_us,
    count(*) AS n_events,
    max(session_id) OVER (PARTITION BY user_id) AS last_sess
  FROM sess
  GROUP BY user_id, session_id
)
SELECT user_id, session_start_us, session_end_us, n_events
FROM agg WHERE session_id < last_sess
"""


def q_streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of analytics_session_window: native session_window
    under a watermark in append mode. The fixture arrives as one
    micro-batch, so the final watermark is max(ts) - 1h and the sink holds
    exactly the sessions whose end (last event + 30 min gap) the watermark
    passed — the oracle applies the same finalization predicate to the
    batch sessionization (>= gap boundary: session_window's end bound is
    exclusive)."""
    from mysql_streamer_spark.streaming.runner import run_session_window_stream

    work = _staged_source(sf_dir)
    run_session_window_stream(spark, f"{work}/src", f"{work}/out", f"{work}/ckpt")
    return spark.read.parquet(f"{work}/out")


_SESSION_WINDOW_STREAM_ORACLE = """
WITH marked AS (
  SELECT user_id, ts,
    CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) >= 1800
         THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts,
    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
  FROM marked
), agg AS (
  SELECT user_id,
         min(ts) AS session_start,
         max(ts) + INTERVAL 30 MINUTE AS session_end,
         count(*) AS n_events
  FROM sess
  GROUP BY user_id, sid
)
SELECT user_id, session_start, session_end, n_events
FROM agg, (SELECT max(ts) AS max_ts FROM events)
WHERE session_end <= max_ts - INTERVAL 1 HOUR
"""


def q_streaming_upsert_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained latest-state table: each one-file-per-trigger
    micro-batch writes its own latest row per key under its batch id
    (streaming MERGE), and the partials folded on read must equal the
    batch latest-state query over all input — the materialized-view
    invariant, checked against the same oracle as cdc_latest_state."""
    from mysql_streamer_spark.streaming.runner import (
        read_latest_state,
        run_upsert_stream,
    )

    work = _staged_source(sf_dir)
    run_upsert_stream(spark, f"{work}/src", f"{work}/state", f"{work}/ckpt")
    return read_latest_state(spark, f"{work}/state")


def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (purchase ⋈ same-user clicks in the
    trailing 30 min) with watermarks on both sides — bounded join state.
    The whole fixture fits one micro-batch, so no match is dropped by
    watermark eviction and the batch SQL join is the exact oracle."""
    from mysql_streamer_spark.streaming.runner import run_interval_join_stream

    work = _staged_source(sf_dir)
    run_interval_join_stream(spark, f"{work}/src", f"{work}/out", f"{work}/ckpt")
    return spark.read.parquet(f"{work}/out")


_INTERVAL_JOIN_ORACLE = """
SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM events p
JOIN events c
  ON p.event_type = 'purchase' AND c.event_type = 'click'
 AND p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 30 MINUTE
 AND c.ts <= p.ts
"""


def q_streaming_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's changelog_mode as a CHECKPOINTED stream (its second
    binary, batch/parse_replication_stream.py with changelog_mode: true):
    each micro-batch projects admitted row events to the constant
    {table_schema, table_name, id} changelog shape and appends under its
    batch id. The oracle is the batch changelog SQL — streaming and batch
    planes must agree row-for-row."""
    from mysql_streamer_spark.streaming.runner import run_changelog_stream

    work = _staged_source(sf_dir)
    run_changelog_stream(spark, f"{work}/src", f"{work}/out", f"{work}/ckpt")
    return read_sink(spark, f"{work}/out")


def _streaming_changelog_oracle() -> str:
    from mysql_streamer_spark.queries.cdc import _CHANGELOG_ORACLE

    return _CHANGELOG_ORACLE


_STREAMING_CHANGELOG_ORACLE = _streaming_changelog_oracle()


def q_streaming_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming materialized-view maintenance — the streaming plane of
    ``cdc_incremental_agg``: the events feed is re-staged as FOUR range
    files so availableNow + maxFilesPerTrigger=1 drains it as four real
    micro-batches; each batch computes its own per-(table, day) signed
    delta partials through the SAME shared stage as the batch query
    (``incremental_daily_deltas``) and lands them under its batch id
    (idempotent overwrite — replay-safe, the T6 pattern); the final view
    folds the partials with ``fold_incremental_mv``. Because the delta
    stage is algebraic, four partial passes MUST merge to exactly the
    one-pass batch answer — that is the invariant the shared oracle
    checks, and the reason a production stream can maintain this view
    without ever rescanning the table."""
    from mysql_streamer_spark.cdc.pipeline import envelope_pipeline_df
    from mysql_streamer_spark.queries.cdc import (
        fold_incremental_mv,
        incremental_daily_deltas,
    )
    from mysql_streamer_spark.streaming.runner import load_events_stream
    from mysql_streamer_spark.tables import load_table

    work = scratch_dir("mss_incr_stream_")
    src = f"{work}/src"
    # four range files -> four micro-batches (the single driver parquet
    # would otherwise drain in one trigger and prove nothing incremental)
    load_table(spark, sf_dir, "events").repartitionByRange(
        4, "event_id"
    ).write.parquet(src)
    events = load_events_stream(spark, src, max_files_per_trigger=1)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        partials = incremental_daily_deltas(envelope_pipeline_df(batch_df))
        write_sink_batch(partials, f"{work}/deltas", batch_id)

    drain(events.writeStream.foreachBatch(process), f"{work}/ckpt")
    return fold_incremental_mv(read_sink(spark, f"{work}/deltas"))


def _streaming_incremental_agg_oracle() -> str:
    from mysql_streamer_spark.queries.cdc import _INCREMENTAL_AGG_ORACLE

    return _INCREMENTAL_AGG_ORACLE


def q_streaming_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A per-user profile maintained by ``applyInPandasWithState``
    (streaming/transform_state.py:profile_stream) across TWO micro-batches
    (the source is split in half, one file per trigger), so the second
    batch's emitted profiles are provably state-merged with the first. The
    final view — latest emitted row per user — must equal the batch
    aggregate over ALL events, which is the oracle. The query keeps the
    name of the API it was first written for (Spark 4's
    transformWithState), which is no longer used."""
    import duckdb

    from mysql_streamer_spark.streaming.transform_state import run_profile_stream

    work = scratch_dir("mss_tws_")
    src = f"{work}/src"
    os.makedirs(src)
    con = duckdb.connect()
    events_pq = table_path(sf_dir, "events")
    if os.path.isdir(events_pq):  # materialized k-fold: Spark parquet dir
        events_pq = f"{events_pq}/*.parquet"
    for tag, pred in (("a", "= 0"), ("b", "= 1")):
        con.execute(
            f"COPY (SELECT * FROM '{events_pq}' WHERE event_id % 2 {pred}) "
            f"TO '{src}/half_{tag}.parquet' (FORMAT PARQUET)"
        )
    con.close()
    # FileStreamSource orders by modification time; pin it so batch 0 is
    # always half_a (the result is order-independent, the plan is not)
    now = os.path.getmtime(f"{src}/half_b.parquet")
    os.utime(f"{src}/half_a.parquet", (now - 10, now - 10))

    run_profile_stream(spark, src, f"{work}/out", f"{work}/ckpt")
    hist = spark.read.parquet(f"{work}/out")
    return (
        hist.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("first_ts_us", "last_ts_us", "n_events", "total_value_c"),
                "batch_id",
            ).alias("p")
        )
        .select(
            "user_id",
            F.col("p.first_ts_us").alias("first_ts_us"),
            F.col("p.last_ts_us").alias("last_ts_us"),
            F.col("p.n_events").alias("n_events"),
            F.col("p.total_value_c").alias("total_value_c"),
        )
    )


_TRANSFORM_STATE_ORACLE = """
SELECT user_id,
       epoch_us(min(ts)) AS first_ts_us,
       epoch_us(max(ts)) AS last_ts_us,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_value_c
FROM events
GROUP BY user_id
"""


def q_streaming_secure_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's encrypted-publish golden behavior, STREAMED: the
    pluggable executor-parallel source drains micro-batches through
    envelope -> AES-CBC encrypt -> secure Avro wire encode, the raw wire
    BYTES land in the idempotent per-batch sink (what Kafka would carry),
    and the consumer side decodes + decrypts the sink back to the original
    envelope — hash-matched against the DIRECT batch envelope oracle. This
    is the streaming half of ``cdc_secure_wire_roundtrip``: the reference
    only ever publishes encrypted messages from its replication LOOP, so
    the parity claim needs the stream-shaped proof, not just the batch one
    (/root/reference/tests/integration/end_to_end_test.py:551-600).

    Scale shape: encrypt+encode runs as ONE fused map-only mapInArrow
    stage inside each micro-batch plan (connectors/secure_wire.py — the
    secure wire has no JVM codec path, so the fusion halves the Python
    stage boundaries per batch; differentially pinned bit-for-bit
    against the composed operators) — no stateful operator, no shuffle;
    the checkpointed source offsets give exactly-once wire output under
    restart like every other stream here."""
    from mysql_streamer_spark.cdc.encryption import (
        EncryptionConfig,
        resource_key_location,
    )
    from mysql_streamer_spark.cdc.pipeline import envelope_pipeline_df
    from mysql_streamer_spark.connectors.python_source import (
        stream_events_from_python_source,
    )
    from mysql_streamer_spark.connectors.secure_wire import (
        avro_open_secure_envelope,
        restore_opened_payloads,
        seal_to_avro,
    )

    work = scratch_dir("mss_secure_stream_")
    out, ckpt = f"{work}/out", f"{work}/ckpt"
    cfg = EncryptionConfig("AES_MODE_CBC-1", resource_key_location())
    env = envelope_pipeline_df(
        stream_events_from_python_source(spark, sf_dir, partitioned=True)
    )
    wire = seal_to_avro(env, cfg)
    drain(
        wire.writeStream.foreachBatch(lambda df, i: write_sink_batch(df, out, i)),
        ckpt,
    )

    landed = avro_open_secure_envelope(read_sink(spark, out), cfg).withColumn(
        "cipher_ok",
        F.col("payload_ciphertext").isNotNull()
        & (F.length("payload_ciphertext") > 0)
        & (F.length("payload_ciphertext") % 16 == 0)
        & (F.col("encryption_type") == F.lit("AES_MODE_CBC-1")),
    )
    restored = restore_opened_payloads(
        landed.withColumn("timestamp", F.timestamp_micros("ts_us")).drop("ts_us")
    )
    return restored.select(
        "schema_id",
        "cluster_name",
        "database_name",
        "table_name",
        "message_type",
        "timestamp",
        "log_file",
        "log_pos",
        "offset",
        "txn_order",
        "pk",
        "payload_k",
        "payload_val",
        "previous_payload_val",
        "cipher_ok",
        "meta_ok",
    )


def q_streaming_confluent_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry-integrated publish, STREAMED: micro-batches drain through
    envelope -> per-TABLE Avro encode (each row framed with its own
    table's registered schema id, the reference's Schematizer model) into
    the idempotent per-batch sink; the consumer side then resolves every
    landed frame's writer schema from its header alone and recovers table
    identity + payload — hash-matched against the direct batch envelope
    oracle. The streaming half of ``cdc_confluent_payload_roundtrip``,
    proving the broadcast registry codec composes with checkpointed
    micro-batch execution (the reference only ever publishes from its
    replication loop).

    Scale shape: encode is one mapInArrow stage inside each micro-batch
    plan — map-only, per-task compiled codecs; exactly-once wire output
    under restart via source offsets x per-batch-id overwrite."""
    from mysql_streamer_spark.cdc.pipeline import envelope_pipeline_df
    from mysql_streamer_spark.connectors.avro_wire import (
        confluent_payload_decode,
        payload_to_confluent,
    )
    from mysql_streamer_spark.connectors.python_source import (
        stream_events_from_python_source,
    )

    work = scratch_dir("mss_confluent_stream_")
    out, ckpt = f"{work}/out", f"{work}/ckpt"
    env = envelope_pipeline_df(
        stream_events_from_python_source(spark, sf_dir, partitioned=True)
    )
    wire = payload_to_confluent(env)
    drain(
        wire.writeStream.foreachBatch(lambda df, i: write_sink_batch(df, out, i)),
        ckpt,
    )
    return confluent_payload_decode(read_sink(spark, out))


def _confluent_publish_oracle() -> str:
    from mysql_streamer_spark.queries.cdc import _CONFLUENT_PAYLOAD_ORACLE

    return _CONFLUENT_PAYLOAD_ORACLE


# ---------------------------------------------------------------------------
# cross-batch late-data audit: watermark drops vs accepts, deterministically
# ---------------------------------------------------------------------------

#: every 5th event BEFORE the cut is withheld from its natural batch and
#: redelivered in the final micro-batch — genuinely late data
LATE_MODULUS = 5
#: event-time boundary between micro-batch A and micro-batch B (the
#: fixture spans Jan 2024 at every scale factor)
LATE_CUT = "2024-01-19 00:00:00"


def q_streaming_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data semantics of watermarked aggregation, exercised ACROSS
    micro-batches and hash-checked. Delivery schedule: batch A = events
    before LATE_CUT minus a withheld 20% sample; batch B = events from
    LATE_CUT on (advancing the watermark past A's windows); batch C =
    the withheld sample, now genuinely late. Spark filters late rows
    against the PREVIOUS batch's watermark and evicts/emits against the
    current one (the two-watermark design of SPARK-24634: a row is late
    only once its window was actually finalized in an earlier batch) —
    so C-rows whose window end ≤ max(A) - 1 h are DROPPED, C-rows in the
    boundary band (end inside (max(A) - 1 h, LATE_CUT + 1 h]) are
    ACCEPTED into still-open state, and the trailing no-data batch
    flushes everything the final watermark (max ts - 1 h) passes. The
    oracle replays exactly this schedule in SQL — batch-A watermark as a
    scalar subquery, the window_end acceptance predicate, final-
    watermark emission — so a hash match proves the engine's
    drop/accept/flush behaviour row for row, not just that 'some windows
    came out'. Both drop and accept branches are non-empty at every
    scale factor (asserted in tests).

    Scale shape: the streaming plan is the same watermarked tumbling
    aggregate as ``streaming_windowed_counts`` (RocksDB state, append
    mode); state is bounded by open windows x event types, never by
    history. File mtimes pin micro-batch order, mirroring a production
    source's ordered offsets."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    work = scratch_dir("mss_late_")
    src = f"{work}/src"
    os.makedirs(src)
    # split with pyarrow; normalize ts to µs (the same ns->µs truncation
    # tables.load_table applies) so the stream reader sees one type no
    # matter whether the input dir carries µs or ns timestamps
    tbl = pq.read_table(table_path(sf_dir, "events"))
    if tbl.schema.field("ts").type != pa.timestamp("us"):
        idx = tbl.schema.get_field_index("ts")
        tbl = tbl.set_column(
            idx, "ts", tbl["ts"].cast(pa.timestamp("us"))
        )
    ts = tbl["ts"].to_numpy().astype("datetime64[ns]")
    ids = tbl["event_id"].to_numpy()
    early = ts < np.datetime64(LATE_CUT.replace(" ", "T"))
    withheld = early & (ids % LATE_MODULUS == 0)
    for name, mask, mtime in (
        ("a_early.parquet", early & ~withheld, 1_000_000),
        ("b_tail.parquet", ~early, 2_000_000),
        ("c_late.parquet", withheld, 3_000_000),
    ):
        pq.write_table(tbl.filter(pa.array(mask)), f"{src}/{name}")
        # FileStreamSource orders new files by modification time: pin it
        os.utime(f"{src}/{name}", (mtime, mtime))
    run_windowed_stream(spark, src, f"{work}/out", f"{work}/ckpt")
    return spark.read.parquet(f"{work}/out")


_LATE_DATA_ORACLE = f"""
WITH early AS (
  SELECT * FROM events WHERE ts < TIMESTAMP '{LATE_CUT}'
), a AS (
  SELECT * FROM early WHERE event_id % {LATE_MODULUS} != 0
), c AS (
  SELECT * FROM early WHERE event_id % {LATE_MODULUS} = 0
), wm_a AS (
  -- watermark after batch A: the late-filter boundary batch C sees
  SELECT max(ts) - INTERVAL 1 HOUR AS wa FROM a
), wm_f AS (
  SELECT max(ts) - INTERVAL 1 HOUR AS wf FROM events
), accepted AS (
  SELECT ts, event_type FROM a
  UNION ALL
  SELECT ts, event_type FROM events WHERE ts >= TIMESTAMP '{LATE_CUT}'
  UNION ALL
  SELECT c.ts, c.event_type FROM c, wm_a
  WHERE date_trunc('hour', c.ts) + INTERVAL 1 HOUR > wa
)
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events
FROM accepted, wm_f
GROUP BY 1, 2, wf
HAVING window_start + INTERVAL 1 HOUR <= wf
"""


def q_streaming_ddl_barrier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDL-as-barrier IN the stream (reference schema_event_handler.py:
    66-113's flush -> checkpoint -> execute -> diff serialized inside the
    event order): QueryEvents and DataEvents interleave on ONE ordered
    feed whose micro-batch boundaries deliberately cut mid-segment, the
    foreachBatch handler applies each ALTER to a live registry state
    (persisted per batch id — the schema-event checkpoint T5), and every
    data row routes to the schema version in effect AT ITS POSITION.
    The oracle is the batch as-of routing (cdc_schema_version_routing's
    SQL) — a hash match proves the streaming barrier reproduces the
    as-of semantics exactly, with the registry STARTING at version 1
    and every later version arriving mid-stream.

    Scale shape: per micro-batch the driver touches only the DDL rows
    (bounded control plane) and one constant-size state file; data rows
    take a broadcast interval join, map-side. The final aggregate is the
    same partial-aggregated count as the batch twin."""
    from mysql_streamer_spark.streaming.ddl_barrier import (
        run_ddl_barrier_stream,
        stage_barrier_feed,
    )

    work = scratch_dir("mss_ddl_barrier_")
    src, out, ckpt, state = (
        f"{work}/src",
        f"{work}/out",
        f"{work}/ckpt",
        f"{work}/state",
    )
    stage_barrier_feed(spark, sf_dir, src)
    run_ddl_barrier_stream(spark, src, out, ckpt, state)
    routed = read_sink(spark, out)
    return routed.groupBy("database", "table", "version", "schema_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


def _ddl_barrier_oracle() -> str:
    from mysql_streamer_spark.queries.schema_registry import (
        _version_routing_oracle,
    )

    return _version_routing_oracle()


def q_streaming_txn_atomic_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transaction-atomic micro-batching via the S5 peek/pop lookahead
    (reference base_binlog_stream_reader_wrapper.py:22-49, here
    connectors/buffered.py): the pluggable source streams with
    ``txn_atomic=True``, so every micro-batch drains AT LEAST
    ``batch_rows`` events and then extends — by peeking, never consuming
    — to the next transaction boundary (txn = event_id div TXN_EVENTS).
    A consumer applying each batch atomically never sees half an
    upstream transaction.

    The oracle is closed-form: ``batch_rows`` is pinned to
    B = max(503, floor5(total/3)+3) ≡ 3 (mod 5), so every lookahead cut
    lands at stride S = B+2 (the next multiple of TXN_EVENTS) and batch
    membership is ``event_id div S`` — SQL a second engine can state
    independently. A reader that split a transaction (or mis-advanced
    the offset) shifts first/last/n_txns of some batch and hash-fails.

    Scale shape: the lookahead window is bounded (TXN_EVENTS rows past
    the target), the buffer refills in 256-row chunks, and the heavy
    plan stays downstream of the source — identical to the non-atomic
    reader's cost envelope."""
    import pyarrow.parquet as _pq

    from mysql_streamer_spark.connectors.buffered import DEFAULT_TXN_EVENTS
    from mysql_streamer_spark.connectors.python_source import (
        _parquet_files,
        stream_events_from_python_source,
    )

    total = sum(
        _pq.ParquetFile(f).metadata.num_rows
        for f in _parquet_files(table_path(sf_dir, "events"))
    )
    third = total // 3
    batch_rows = max(503, third - third % DEFAULT_TXN_EVENTS + 3)
    events = stream_events_from_python_source(
        spark, sf_dir, batch_rows=batch_rows, txn_atomic=True
    )
    work = scratch_dir("mss_txn_atomic_")
    out, ckpt = f"{work}/out", f"{work}/ckpt"

    # off runner.drain for the reason q_streaming_python_source gives
    q = (
        events.writeStream.foreachBatch(
            lambda df, i: write_sink_batch(df.select("event_id"), out, i)
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    sink = spark.read.parquet(out)  # keep the batch_id partition column
    txn = F.expr(f"event_id div {DEFAULT_TXN_EVENTS}")
    return (
        sink.groupBy(F.col("batch_id").cast("long").alias("batch_id"))
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct(txn).alias("n_txns"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
        )
    )


def _txn_atomic_batches_oracle() -> str:
    from mysql_streamer_spark.connectors.buffered import DEFAULT_TXN_EVENTS

    t = DEFAULT_TXN_EVENTS
    return f"""
WITH n AS (SELECT count(*) AS c FROM events),
s AS (
  SELECT greatest(503, (c // 3) - ((c // 3) % {t}) + 3) + {t - 3} AS stride
  FROM n
)
SELECT event_id // stride AS batch_id,
       count(*) AS n_rows,
       count(DISTINCT event_id // {t}) AS n_txns,
       min(event_id) AS first_event,
       max(event_id) AS last_event
FROM events, s
GROUP BY 1
"""


SPECS = [
    QuerySpec(
        "streaming_envelope",
        q_streaming_envelope,
        _ORACLE_PIPELINE_CTES + _ENVELOPE_SELECT,
    ),
    QuerySpec(
        "streaming_txn_atomic_batches",
        q_streaming_txn_atomic_batches,
        _txn_atomic_batches_oracle(),
    ),
    QuerySpec(
        "streaming_ddl_barrier",
        q_streaming_ddl_barrier,
        _ddl_barrier_oracle(),
    ),
    QuerySpec(
        "streaming_confluent_publish",
        q_streaming_confluent_publish,
        _confluent_publish_oracle(),
    ),
    QuerySpec("streaming_late_data", q_streaming_late_data, _LATE_DATA_ORACLE),
    QuerySpec(
        "streaming_secure_publish",
        q_streaming_secure_publish,
        _SECURE_WIRE_ORACLE,
    ),
    QuerySpec(
        "streaming_changelog",
        q_streaming_changelog,
        _STREAMING_CHANGELOG_ORACLE,
    ),
    QuerySpec(
        "streaming_incremental_agg",
        q_streaming_incremental_agg,
        _streaming_incremental_agg_oracle(),
    ),
    QuerySpec(
        "streaming_python_source",
        q_streaming_python_source,
        _ORACLE_PIPELINE_CTES + _ENVELOPE_SELECT,
    ),
    QuerySpec(
        "streaming_partitioned_source",
        q_streaming_partitioned_source,
        _ORACLE_PIPELINE_CTES + _ENVELOPE_SELECT,
    ),
    QuerySpec(
        "streaming_transform_with_state",
        q_streaming_transform_with_state,
        _TRANSFORM_STATE_ORACLE,
    ),
    QuerySpec(
        "streaming_windowed_counts",
        q_streaming_windowed_counts,
        _WINDOWED_ORACLE,
    ),
    QuerySpec(
        "streaming_stateful_sessions",
        q_streaming_stateful_sessions,
        _STATEFUL_SESSIONS_ORACLE,
    ),
    QuerySpec(
        "streaming_dedup_replay",
        q_streaming_dedup_replay,
        _DEDUP_REPLAY_ORACLE,
    ),
    QuerySpec(
        "streaming_session_window",
        q_streaming_session_window,
        _SESSION_WINDOW_STREAM_ORACLE,
    ),
    QuerySpec(
        "streaming_interval_join",
        q_streaming_interval_join,
        _INTERVAL_JOIN_ORACLE,
    ),
    QuerySpec(
        "streaming_upsert_state",
        q_streaming_upsert_state,
        _LATEST_STATE_ORACLE,
    ),
]




# ---------------------------------------------------------------------------
# streaming crawl ingest from the pluggable WARC source
# ---------------------------------------------------------------------------


def q_streaming_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl ingest as a LIVE stream: documents land as immutable WARC
    containers in a drop directory (the distributed file sink), then
    ``readStream.format("warc_files")`` — the in-repo pluggable source,
    connectors/warc.py — tails the directory with manifest-guarded,
    checkpoint-replayable offsets (one micro-batch partition per new
    container, parsed executor-side), drains through foreachBatch into
    the idempotent per-batch-id sink, and the streamed result must
    hash-match the same closed-form oracle as the batch file-ingest —
    the streaming half of the crawl-ingest equivalence, the same
    proof shape ``streaming_python_source`` gives the binlog source.

    Scale shape: the streaming grain is the container file (the unit a
    crawler deposits); offsets are a pure function of the directory, so
    replay after crash re-reads exactly the committed file set. No
    shuffle — parse, project, and sha are all within the per-file task."""
    from mysql_streamer_spark.connectors.warc import (
        register_warc_source,
        warc_write_files,
    )
    from mysql_streamer_spark.queries.pipeline import WARC_DATE
    from mysql_streamer_spark.tables import load_table, spread

    work = scratch_dir("mss_warc_stream_")
    drop, out, ckpt = f"{work}/drop", f"{work}/out", f"{work}/ckpt"

    docs = (
        spread(load_table(spark, sf_dir, "documents"))
        .select("doc_id", "source", "text")
        .filter(F.length("text") > 0)
    )
    warc_write_files(docs, drop, WARC_DATE)

    register_warc_source(spark)
    recs = (
        spark.readStream.format("warc_files")
        .option("path", drop)
        .option("types", "response")
        .load()
    )
    projected = recs.select(
        F.regexp_extract("record_id", r"<urn:doc:(\d+)>", 1)
        .cast("long")
        .alias("doc_id"),
        "content_type",
        F.length("payload").cast("long").alias("payload_bytes"),
        F.sha2("payload", 256).alias("payload_sha"),
    )

    drain(
        projected.writeStream.foreachBatch(
            lambda df, i: write_sink_batch(df, out, i)
        ),
        ckpt,
    )
    return read_sink(spark, out)


_WARC_STREAM_ORACLE = """
SELECT doc_id,
  CASE WHEN doc_id % 4 = 0 THEN 'text/html' ELSE 'text/plain' END
    AS content_type,
  CAST(strlen(text) AS BIGINT) AS payload_bytes,
  sha256(text) AS payload_sha
FROM documents WHERE length(text) > 0
"""


SPECS.append(
    QuerySpec(
        "streaming_warc_ingest",
        q_streaming_warc_ingest,
        _WARC_STREAM_ORACLE,
    )
)
