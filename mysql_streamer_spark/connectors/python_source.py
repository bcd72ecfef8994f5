"""A first-class pluggable source: the binlog-events feed as a PySpark
Python DataSource (Spark 4's ``pyspark.sql.datasource`` API).

The reference's S1 is a custom source — a fake-replica binlog tailer
(replication_handler/components/low_level_binlog_stream_reader_wrapper.py:143-161)
wired into its event loop. Spark's native extension point for "a source the
engine doesn't ship" is the DataSource API; this module implements it so
the CDC feed arrives through ``spark.read.format("binlog_events")`` exactly
like Kafka or JDBC would, instead of being special-cased in Python driver
code.

Scale design:

- ``partitions()`` maps one InputPartition per parquet ROW GROUP, so a
  1000-executor cluster reads a multi-row-group file fully in parallel —
  the same split granularity Spark's own parquet source uses.
- ``read()`` yields Arrow record batches (not Python tuples): the
  per-executor loop stays in pyarrow's native code and crosses into the
  JVM once per batch via Arrow IPC, not once per row.
- The source normalizes the timestamp column to int64 MICROSECONDS at the
  edge (nanos or micros parquet generations both land on ``ts_us``), so
  downstream plans are generation-independent — the same adaptation
  ``tables.load_table`` applies, pushed into the source where it belongs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

try:  # the DataSource API needs pyspark >= 4
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceStreamReader,
        DataSourceWriter,
        InputPartition,
        SimpleDataSourceStreamReader,
        WriterCommitMessage,
    )

    HAS_PYTHON_DATASOURCE = True
except ImportError:  # pragma: no cover - older runtimes
    HAS_PYTHON_DATASOURCE = False

    class DataSource:  # type: ignore[no-redef]
        pass

    class DataSourceReader:  # type: ignore[no-redef]
        pass

    class DataSourceStreamReader:  # type: ignore[no-redef]
        pass

    class DataSourceWriter:  # type: ignore[no-redef]
        pass

    class InputPartition:  # type: ignore[no-redef]
        pass

    class SimpleDataSourceStreamReader:  # type: ignore[no-redef]
        pass

    class WriterCommitMessage:  # type: ignore[no-redef]
        pass


#: Output schema of the source. ``ts_us`` is epoch microseconds (int64):
#: emitting the integer instead of a timestamp keeps the source exact and
#: engine-neutral; the reader wrapper below turns it into a session-UTC
#: TIMESTAMP in one cast.
BINLOG_SOURCE_SCHEMA = (
    "event_id long, ts_us long, user_id long, event_type string, "
    "value double, props string"
)


class _RowGroupPartition(InputPartition):
    def __init__(self, path: str, row_group: int):
        self.path = path
        self.row_group = row_group


def _parquet_files(path: str) -> list[str]:
    """A single parquet file, or every part file of a directory-shaped
    table (what Spark itself writes)."""
    import os

    if os.path.isdir(path):
        return sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
    return [path]


class BinlogEventsDataSource(DataSource):
    """``spark.read.format("binlog_events").option("path", ...)``."""

    @classmethod
    def name(cls) -> str:
        return "binlog_events"

    def schema(self) -> str:
        return BINLOG_SOURCE_SCHEMA

    def reader(self, schema) -> "BinlogEventsReader":
        return BinlogEventsReader(self.options)

    def simpleStreamReader(self, schema) -> "BinlogEventsStreamReader":
        return BinlogEventsStreamReader(self.options)

    def streamReader(self, schema) -> "BinlogEventsPartitionedStreamReader":
        """The EXECUTOR-PARALLEL streaming form, selected with
        ``.option("partitioned", "true")``. Without the option this
        raises PySparkNotImplementedError (the base implementation), so
        Spark falls back to the paced driver-side simpleStreamReader —
        both contracts stay live and separately tested."""
        if str(self.options.get("partitioned", "")).lower() != "true":
            return super().streamReader(schema)  # raises NotImplemented
        return BinlogEventsPartitionedStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> "ManifestJsonlWriter":
        """The WRITE half of the pluggable connector:
        ``df.write.format("binlog_events").mode(...).save(path)`` lands
        one JSONL shard per task plus a driver-committed ``_MANIFEST``
        — the same two-phase commit contract the reference's publish
        path needs (executor-side sends, driver-side position commit;
        SURVEY §2.5 K1/T4), expressed through the Python DataSource
        writer API so a custom sink is first-class next to the custom
        source."""
        return ManifestJsonlWriter(self.options, schema, overwrite)


class BinlogEventsReader(DataSourceReader):
    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("binlog_events source requires .option('path', ...)")
        self.path = path

    def partitions(self):
        import pyarrow.parquet as pq

        parts = [
            _RowGroupPartition(f, i)
            for f in _parquet_files(self.path)
            for i in range(pq.ParquetFile(f).metadata.num_row_groups)
        ]
        # an empty table (zero files or zero row groups) still needs one
        # partition so the scan yields an empty result, not a plan error
        return parts or [_RowGroupPartition("", -1)]

    def read(self, partition: _RowGroupPartition):
        import pyarrow.parquet as pq

        if partition.row_group < 0:  # empty-table sentinel partition
            return
        tbl = pq.ParquetFile(partition.path).read_row_group(
            partition.row_group, columns=_EVENT_COLUMNS
        )
        yield from _normalize_events(tbl).to_batches()


_EVENT_COLUMNS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


def _normalize_events(tbl):
    """Source-edge normalization shared by every reader form: ts to int64
    MICROSECONDS (nanos or micros parquet generations both land on
    ``ts_us``, matching tables.load_table / DuckDB truncation) and exact
    output types for BINLOG_SOURCE_SCHEMA."""
    import pyarrow as pa

    ts = tbl.column("ts")
    ts_type = ts.type
    if pa.types.is_timestamp(ts_type):
        unit = ts_type.unit
    elif pa.types.is_int64(ts_type):
        unit = "ns"  # legacy TIMESTAMP(NANOS) generations read as int64
    else:  # pragma: no cover - unknown future generation
        raise TypeError(f"unsupported ts type {ts_type}")
    ts_i64 = ts.cast(pa.int64(), safe=False)
    if unit == "ns":
        import pyarrow.compute as pc

        # ns -> µs truncation, same as tables.load_table / DuckDB
        ts_i64 = pc.divide(ts_i64, pa.scalar(1000, pa.int64()))
    elif unit != "us":  # pragma: no cover
        raise TypeError(f"unsupported ts unit {unit}")
    return pa.table(
        {
            "event_id": tbl.column("event_id").cast(pa.int64()),
            "ts_us": ts_i64.cast(pa.int64()),
            "user_id": tbl.column("user_id").cast(pa.int64()),
            "event_type": tbl.column("event_type").cast(pa.string()),
            "value": tbl.column("value").cast(pa.float64()),
            "props": tbl.column("props").cast(pa.string()),
        }
    )


#: rows per streaming micro-batch (the stream form of the reference's
#: producer buffer, base_parse_replication_stream.py:84-89)
STREAM_BATCH_ROWS = 500


class BinlogEventsStreamReader(SimpleDataSourceStreamReader):
    """The STREAMING form of the source: the binlog tail as an offset-
    tracked `readStream`. The offset is the absolute row index into the
    totally-ordered feed — the moral equivalent of (log_file, log_pos):
    Spark checkpoints it, and after a crash calls ``readBetweenOffsets``
    with the exact committed range, replaying the identical rows — the
    deterministic-replay half of exactly-once that the reference built
    by hand in its recovery handler (recovery_handler.py:127-229).

    The driver-side read is row-at-a-time by design: SimpleStream
    readers run on the driver and prefetch small batches; the heavy
    lifting stays in the downstream plan. A production source would
    implement the partitioned ``streamReader`` with executor-side Arrow
    reads like the batch half; the offset/replay contract — the part
    the test pins — is identical."""

    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("binlog_events source requires .option('path', ...)")
        self.path = path
        self.batch_rows = int(options.get("batchrows", STREAM_BATCH_ROWS))
        # S5: .option("txnatomic", "true") turns on peek/pop lookahead
        # batching — micro-batch cuts never split an upstream transaction
        # (txn = event_id div txnevents; see connectors/buffered.py).
        self.txn_atomic = str(options.get("txnatomic", "false")).lower() == "true"
        self.txn_events = int(options.get("txnevents", 0)) or None
        if self.txn_atomic and self.batch_rows <= 0:
            raise ValueError("txnatomic requires a positive batchrows")
        self._table = None

    def _load(self):
        if self._table is None:
            import pyarrow.parquet as pq

            # the whole fixture table stands in for the unbounded binlog;
            # sorted by event_id so offsets are stable and replayable
            tbl = pq.read_table(self.path).sort_by("event_id")
            self._table = tbl
        return self._table

    def initialOffset(self) -> dict:
        return {"row": 0}

    def _rows(self, start_row: int, end_row: int):
        import pyarrow as pa
        import pyarrow.compute as pc

        tbl = self._load().slice(start_row, end_row - start_row)
        ts = tbl.column("ts")
        # mirror the batch reader's type handling exactly: TIMESTAMP(NANOS)
        # generations may surface as either timestamp[ns] OR plain int64
        # nanos, and both must truncate ns -> µs; unknown shapes raise
        # instead of silently passing through 1000x-off values
        if pa.types.is_timestamp(ts.type):
            unit = ts.type.unit
        elif pa.types.is_int64(ts.type):
            unit = "ns"
        else:  # pragma: no cover - unknown future generation
            raise TypeError(f"unsupported ts type {ts.type}")
        ts_i64 = ts.cast(pa.int64(), safe=False)
        if unit == "ns":
            ts_i64 = pc.divide(ts_i64, pa.scalar(1000, pa.int64()))
        elif unit != "us":  # pragma: no cover
            raise TypeError(f"unsupported ts unit {unit}")
        # a LIST, not a generator: Spark's prefetch cache copy.copy()s the
        # iterator, which generators do not support. Columnar to_pydict +
        # zip beats per-scalar .as_py() indexing ~10x on wide batches.
        cols = pa.table(
            {
                "event_id": tbl.column("event_id"),
                "ts_us": ts_i64,
                "user_id": tbl.column("user_id"),
                "event_type": tbl.column("event_type"),
                "value": tbl.column("value").cast(pa.float64()),
                "props": tbl.column("props"),
            }
        ).to_pydict()
        return list(
            zip(
                cols["event_id"],
                cols["ts_us"],
                cols["user_id"],
                cols["event_type"],
                cols["value"],
                cols["props"],
            )
        )

    def read(self, start: dict):
        total = self._load().num_rows
        first = min(start["row"], total)
        if not self.txn_atomic:
            last = min(first + self.batch_rows, total)
            return iter(self._rows(first, last)), {"row": last}
        # Transaction-atomic cut (reference S5,
        # base_binlog_stream_reader_wrapper.py:22-49): wrap the feed in
        # the deque-buffered peek/pop stream and extend past batch_rows
        # while the PEEKED next event commits in the same transaction as
        # the last one taken. The offset advances by exactly the rows
        # consumed, so checkpoint replay (readBetweenOffsets) reproduces
        # the identical atomic batches.
        from mysql_streamer_spark.connectors.buffered import (
            DEFAULT_TXN_EVENTS,
            PeekPopEventStream,
            take_batch_atomic,
        )

        txn_events = self.txn_events or DEFAULT_TXN_EVENTS

        def fetch(row: int, n: int):
            return self._rows(min(row, total), min(row + n, total))

        # one refill covers the whole batch INCLUDING the lookahead
        # window, so the common trigger pays a single Arrow slice +
        # to_pydict conversion; only rows past the cut (≤ txn_events-1)
        # are discarded and re-read next trigger
        stream = PeekPopEventStream(
            fetch, first, refill_rows=self.batch_rows + txn_events
        )
        batch = take_batch_atomic(
            stream, self.batch_rows, lambda r: r[0] // txn_events
        )
        return iter(batch), {"row": first + len(batch)}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._rows(start["row"], end["row"]))

    def commit(self, end: dict) -> None:
        pass  # the feed is immutable; nothing to prune


#: application ids where the source is already registered (registration is
#: per-SparkSession; re-registering the same name raises)
_REGISTERED: set[str] = set()


class _RowRangePartition(InputPartition):
    """One executor read: rows [start_row, end_row) of one parquet file
    (file-local indices)."""

    def __init__(self, path: str, start_row: int, end_row: int):
        self.path = path
        self.start_row = start_row
        self.end_row = end_row


class BinlogEventsPartitionedStreamReader(DataSourceStreamReader):
    """Executor-parallel streaming reader — the scale form of the source.

    Offsets carry the per-file manifest: ``{"files": [[name, rows], ...],
    "row": N}`` over the file-concatenation order of the feed (files
    sorted by name, rows in file order — the binlog's arrival order).
    The manifest is the safety rail (ADVICE r5): a bare row count would
    silently remap already-committed offsets if a late-arriving file
    sorted BEFORE existing ones (duplicating/dropping rows on restart or
    between latestOffset and partitions within one trigger). Instead,
    every trigger verifies the observed file list is an APPEND-ONLY
    EXTENSION of the offset's manifest and fails loudly when it is not.
    ``latestOffset`` reports everything currently available (computed
    from parquet FOOTER metadata only — no data read on the driver), so
    a micro-batch drains what has arrived since the last trigger;
    ``partitions`` splits the offset range into per-file row ranges
    capped at ``partitionrows`` (default 20k), and each partition is read
    ON AN EXECUTOR as Arrow batches with row-group pruning. The reader
    keeps NO pacing state: offsets are a pure function of the files on
    disk, so crash/restart replay (Spark re-issues partitions() with the
    WAL's exact offsets) is deterministic by construction. V1 ``{"row":
    N}`` offsets from older checkpoints are still accepted (rows-only,
    no manifest to verify against).

    vs the simpleStreamReader: that one paces fixed-size batches through
    the driver (the incremental tail-follower); this one is the
    1000-executor drain/backfill path the batch reader already has."""

    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("binlog_events source requires .option('path', ...)")
        self.path = path
        self.partition_rows = int(options.get("partitionrows", 20_000))
        #: (path, size, mtime_ns) -> num_rows. Parquet files are immutable
        #: once written, so footer row counts are cached and each trigger
        #: (latestOffset AND partitions both need the counts) costs stat
        #: calls plus one footer parse per NEW file, not 2xN re-parses.
        self._rows_cache: dict[tuple[str, int, int], int] = {}
        #: manifest from the newest offset this reader instance has
        #: produced or validated — latestOffset checks monotonicity
        #: against it so a mid-run file-list mutation is caught at the
        #: trigger that observes it, not at the next restart.
        self._last_manifest: list[list] | None = None

    def _file_rows(self) -> list[tuple[str, int]]:
        import os

        import pyarrow.parquet as pq

        out = []
        for f in _parquet_files(self.path):
            st = os.stat(f)
            key = (f, st.st_size, st.st_mtime_ns)
            n = self._rows_cache.get(key)
            if n is None:
                n = pq.ParquetFile(f).metadata.num_rows
                self._rows_cache[key] = n
            out.append((f, n))
        return out

    @staticmethod
    def _manifest_of(files: list[tuple[str, int]]) -> list[list]:
        import os

        return [[os.path.basename(p), n] for p, n in files]

    @staticmethod
    def _require_extension(prev: list[list], cur: list[list], where: str) -> None:
        """Fail loudly unless ``cur`` is ``prev`` plus zero or more files
        appended AFTER it in sort order — the only mutation an immutable,
        name-ordered binlog feed can legally undergo. Anything else
        (a file inserted before existing ones, renamed, shrunk, grown, or
        removed) would remap committed offsets to different rows."""
        prev_t = [tuple(x) for x in prev]
        cur_t = [tuple(x) for x in cur]
        if cur_t[: len(prev_t)] != prev_t:
            raise ValueError(
                f"binlog_events feed mutated non-append-only ({where}): "
                f"committed manifest {prev_t} is not a prefix of observed "
                f"{cur_t}; refusing to remap committed offsets"
            )

    @staticmethod
    def _offset_rows(off: dict) -> int:
        if "files" in off:
            return sum(int(n) for _, n in off["files"])
        return int(off["row"])  # v1 checkpoint compatibility

    def initialOffset(self) -> dict:
        return {"files": [], "row": 0}

    def latestOffset(self) -> dict:
        manifest = self._manifest_of(self._file_rows())
        if self._last_manifest is not None:
            self._require_extension(self._last_manifest, manifest, "latestOffset")
        self._last_manifest = manifest
        return {"files": manifest, "row": sum(n for _, n in manifest)}

    def partitions(self, start: dict, end: dict):
        files = self._file_rows()
        observed = self._manifest_of(files)
        # the offsets' manifests must chain: start ⊑ end ⊑ observed
        if "files" in end:
            self._require_extension(end["files"], observed, "partitions/end")
        if "files" in start and "files" in end:
            self._require_extension(start["files"], end["files"], "partitions/start")
        s, e = self._offset_rows(start), self._offset_rows(end)
        parts: list[_RowRangePartition] = []
        base = 0
        for path, n in files:
            lo, hi = max(s - base, 0), min(e - base, n)
            pos = lo
            while pos < hi:
                step = min(self.partition_rows, hi - pos)
                parts.append(_RowRangePartition(path, pos, pos + step))
                pos += step
            base += n
        # an empty range still needs one partition for an empty batch
        return parts or [_RowRangePartition("", 0, 0)]

    def read(self, partition: _RowRangePartition):
        import pyarrow.parquet as pq

        if partition.end_row <= partition.start_row:
            return
        pf = pq.ParquetFile(partition.path)
        md = pf.metadata
        # row-group pruning: read only the groups overlapping the range
        first_kept = None
        base = 0
        groups = []
        for g in range(md.num_row_groups):
            n = md.row_group(g).num_rows
            if base + n > partition.start_row and base < partition.end_row:
                if first_kept is None:
                    first_kept = g
                    skipped_rows = base
                groups.append(g)
            base += n
        if not groups:
            return
        tbl = pf.read_row_groups(groups, columns=_EVENT_COLUMNS)
        local = partition.start_row - skipped_rows
        tbl = tbl.slice(local, partition.end_row - partition.start_row)
        yield from _normalize_events(tbl).to_batches()

    def commit(self, end: dict) -> None:
        pass  # offsets are a pure function of the files; nothing to prune


class _ShardCommit(WriterCommitMessage):
    """Per-task commit message: the staged shard file and its row count.
    Plain attributes only — this object is pickled from executor to
    driver by the DataSource write protocol."""

    def __init__(self, staged: str, rows: int):
        self.staged = staged
        self.rows = rows


class ManifestJsonlWriter(DataSourceWriter):
    """Two-phase-commit JSONL sink (FileOutputCommitter-v1 shape):

    - ``write`` (executor, per task): rows land in a ``_staging/`` shard
      under a task-unique name; nothing is visible to readers yet.
    - ``commit`` (driver, once, only after EVERY task succeeded): staged
      shards rename into place and ``_MANIFEST.json`` records every
      shard + row count — a reader that requires the manifest can never
      observe a torn write. Appends MERGE the new shards into any prior
      manifest, so earlier committed generations stay visible. On
      ``overwrite`` the new shards rename in and the new manifest lands
      (atomic tmp+rename) BEFORE old-generation files are deleted: a
      crash anywhere mid-commit leaves either the old manifest with all
      its shards intact, or the new manifest fully in force with at
      worst orphan old shards no manifest references.
    - ``abort`` (driver, on any task failure): staged shards are
      deleted; the directory is untouched. Both commit and abort also
      sweep ``_staging/`` clean so failed/speculative task attempts
      cannot leak shards across jobs.

    Assumes the sink path is on storage both executors and driver reach
    (the contract every Spark file sink already has). Scale shape: one
    sequential file per task, no driver data movement — the driver
    handles only commit messages (file name + count per task)."""

    def __init__(self, options, schema, overwrite: bool):
        import uuid

        self.path = options.get("path")
        if not self.path:
            raise ValueError("binlog_events writer requires .option('path', ...)")
        self.overwrite = overwrite
        # Job-unique token, minted driver-side at writer construction and
        # carried to every task via pickling: shard names embed it so the
        # staging sweep can distinguish THIS job's failed/speculative
        # attempts from another writer's in-flight shards (append mode
        # makes concurrent writers to one path plausible; a wholesale
        # rmtree of _staging/ would delete the other job's staged work
        # and fail its commit's os.replace).
        self.job_token = uuid.uuid4().hex

    def write(self, iterator) -> _ShardCommit:
        import json as _json
        import os
        import uuid

        staging = os.path.join(self.path, "_staging")
        os.makedirs(staging, exist_ok=True)
        shard = os.path.join(
            staging, f"part-{self.job_token}-{uuid.uuid4().hex}.jsonl"
        )
        n = 0
        with open(shard, "w", encoding="utf-8") as fh:
            for row in iterator:
                fh.write(
                    _json.dumps(
                        row.asDict(recursive=True), default=str, sort_keys=True
                    )
                )
                fh.write("\n")
                n += 1
        return _ShardCommit(shard, n)

    def commit(self, messages) -> None:
        import os

        from mysql_streamer_spark.storage import atomic_write_json, read_json

        manifest_path = os.path.join(self.path, "_MANIFEST.json")
        prior: list[dict] = []
        if not self.overwrite:
            # Append MERGES into the prior generation — without this a
            # second append would orphan every previously committed shard
            # (files present but absent from the manifest). An unreadable
            # manifest raises instead of silently orphaning them.
            prior = (read_json(manifest_path) or {}).get("shards", [])
        new = []
        for m in messages:
            final = os.path.join(self.path, os.path.basename(m.staged))
            os.replace(m.staged, final)
            new.append({"file": os.path.basename(final), "rows": m.rows})
        shards = sorted(prior + new, key=lambda s: s["file"])
        manifest = {
            "shards": shards,
            "total_rows": sum(s["rows"] for s in shards),
            "committed": True,
        }
        # Atomic manifest swap: tmp write + fsync + rename, so a reader never
        # sees a torn manifest and a crash before the rename leaves the prior
        # manifest (and its shards, still undeleted below) fully intact.
        atomic_write_json(manifest_path, manifest)
        if self.overwrite:
            # Old generation is deleted only AFTER the new manifest is in
            # force; orphans from a crash here are invisible to manifest
            # readers.
            keep = {s["file"] for s in shards}
            for f in os.listdir(self.path):
                if f.endswith(".jsonl") and f not in keep:
                    os.remove(os.path.join(self.path, f))
        self._sweep_staging()

    def abort(self, messages) -> None:
        import os

        for m in messages:
            if m is not None and os.path.exists(m.staged):
                os.remove(m.staged)
        self._sweep_staging()

    def _sweep_staging(self) -> None:
        """Remove THIS job's shards left by failed or speculative task
        attempts (they never appear in commit messages, so commit/abort
        alone leak them). Scoped by the job token so a concurrent writer's
        in-flight staged shards survive; the directory itself is removed
        only when nothing (ours or theirs) remains."""
        import os

        staging = os.path.join(self.path, "_staging")
        if not os.path.isdir(staging):
            return
        mine = f"part-{self.job_token}-"
        for f in os.listdir(staging):
            if f.startswith(mine):
                try:
                    os.remove(os.path.join(staging, f))
                except OSError:
                    pass
        try:
            os.rmdir(staging)  # succeeds only if empty
        except OSError:
            pass


def register_binlog_source(spark: SparkSession) -> None:
    if not HAS_PYTHON_DATASOURCE:  # pragma: no cover
        raise RuntimeError("pyspark.sql.datasource requires Spark >= 4")
    app_id = spark.sparkContext.applicationId
    if app_id in _REGISTERED:
        return
    spark.dataSource.register(BinlogEventsDataSource)
    _REGISTERED.add(app_id)


def events_from_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table THROUGH the pluggable source — same columns/types
    as ``tables.load_table(spark, sf_dir, "events")``, so every downstream
    CDC plan runs unchanged on either path."""
    import os

    register_binlog_source(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw = (
        spark.read.format("binlog_events")
        .option("path", os.path.join(sf_dir, "events.parquet"))
        .load()
    )
    return raw.select(
        "event_id",
        F.timestamp_micros("ts_us").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def stream_events_from_python_source(
    spark: SparkSession,
    sf_dir: str,
    batch_rows: int = STREAM_BATCH_ROWS,
    partitioned: bool = False,
    txn_atomic: bool = False,
    txn_events: int | None = None,
) -> DataFrame:
    """``readStream`` over the pluggable source: offset-tracked micro-
    batches of the events feed, same columns as the batch path.

    ``partitioned=True`` selects the executor-parallel streamReader
    (drain/backfill: each trigger takes everything available, read in
    parallel row ranges); the default is the paced driver-side simple
    reader (incremental tail: ``batch_rows`` per trigger).
    ``txn_atomic=True`` enables the S5 peek/pop lookahead cut: each
    micro-batch extends past ``batch_rows`` to the next transaction
    boundary so no upstream transaction splits across batches. Only the
    paced simple reader implements it — the partitioned reader drains
    everything available per trigger (nothing to cut), so combining the
    two is a contract error, not a silent downgrade."""
    import os

    if txn_atomic and partitioned:
        raise ValueError(
            "txn_atomic batching is a paced-reader feature; the partitioned "
            "drain reader takes all available rows per trigger"
        )

    register_binlog_source(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw = (
        spark.readStream.format("binlog_events")
        .option("path", os.path.join(sf_dir, "events.parquet"))
        .option("batchrows", str(batch_rows))
        .option("partitioned", "true" if partitioned else "false")
        .option("txnatomic", "true" if txn_atomic else "false")
        .option("txnevents", str(txn_events or 0))
        .load()
    )
    return raw.select(
        "event_id",
        F.timestamp_micros("ts_us").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
