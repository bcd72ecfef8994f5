"""The WRITE half of the pluggable-source story: a Python DataSource sink
with an atomic manifest-commit protocol.

The reference's sink is a Kafka producer whose position checkpoint commits
only after a successful flush (K1/T4: data_event_handler.py:54-67 +
util/misc.py:89-114 — publish, then save position in one transaction).
The table-storage equivalent of that contract is manifest committing, the
core idea of Delta/Iceberg: executors write immutable part files, the
DRIVER publishes a manifest listing exactly the committed parts, and
readers trust only the manifest — a crashed or retried task can leave
orphan files but can never corrupt a read, and overwrite is a one-file
manifest swap (snapshot isolation), not a directory mutation.

Scale notes: each executor task streams its partition through Arrow into
one parquet part (``DataSourceArrowWriter`` — batches, not row objects);
the driver handles only O(#tasks) commit messages. No coordination beyond
the final manifest write, which is what makes the protocol work on 1000
executors.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)

from mysql_streamer_spark.storage import atomic_write_json, fsync_dir, read_json


MANIFEST_NAME = "_MANIFEST.json"


class _PartCommit(WriterCommitMessage):
    def __init__(self, filename: str, n_rows: int):
        self.filename = filename
        self.n_rows = n_rows


class ManifestSinkDataSource(DataSource):
    """``df.write.format("manifest_sink").option("path", ...)``."""

    @classmethod
    def name(cls) -> str:
        return "manifest_sink"

    def writer(self, schema, overwrite: bool) -> "ManifestSinkWriter":
        return ManifestSinkWriter(self.options, overwrite=overwrite)

    def streamWriter(self, schema, overwrite: bool) -> "ManifestStreamWriter":
        return ManifestStreamWriter(self.options)


class ManifestSinkWriter(DataSourceArrowWriter):
    def __init__(self, options, overwrite: bool = True):
        path = options.get("path")
        if not path:
            raise ValueError("manifest_sink requires .option('path', ...)")
        self.path = path
        self.overwrite = overwrite

    def write(self, iterator) -> _PartCommit:
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(self.path, exist_ok=True)
        # a unique name per task ATTEMPT: a retried task writes a fresh
        # file and only the attempt whose commit message reaches the
        # driver lands in the manifest
        fname = f"part-{uuid.uuid4().hex}.parquet"
        batches = list(iterator)
        if batches:
            tbl = pa.Table.from_batches(batches)
        else:
            return _PartCommit("", 0)  # empty partition: nothing to publish
        with open(os.path.join(self.path, fname), "wb") as fh:
            pq.write_table(tbl, fh)
            # durable before the manifest that commit() writes names it
            fh.flush()
            os.fsync(fh.fileno())
        return _PartCommit(fname, tbl.num_rows)

    def commit(self, messages) -> None:
        files = [
            {"file": m.filename, "n_rows": m.n_rows}
            for m in messages
            if m is not None and m.filename
        ]
        head = latest_version(self.path)
        # honor the save mode: mode('append') carries the previous HEAD's
        # files forward into the new snapshot, mode('overwrite') swaps —
        # accepting append while implementing replace would silently drop
        # all previously committed rows for HEAD readers. The carried files
        # come from the VERSIONED manifest at `head` (the same source
        # latest_version derives from), not the HEAD pointer file — a crash
        # between the versioned write and the pointer swap would otherwise
        # make the two disagree and drop the crashed commit's rows.
        if not self.overwrite and head:
            try:
                files = read_manifest(self.path, head)["files"] + files
            except FileNotFoundError:  # pointer-only table (never happens
                files = read_manifest(self.path)["files"] + files  # via commit)
        version = head + 1
        manifest = {
            "version": version,
            "files": files,
            "n_rows": sum(f["n_rows"] for f in files),
        }
        # every commit writes an immutable versioned manifest (the log),
        # then atomically repoints the HEAD manifest: readers pin a
        # version for time travel or follow HEAD for latest — the
        # Delta/Iceberg snapshot-log idea in one file pair
        # no task creates the directory when no part was written (an empty
        # frame or first micro-batch to a new path)
        os.makedirs(self.path, exist_ok=True)
        fsync_dir(self.path)  # the parts' entries, before a manifest names them
        atomic_write_json(os.path.join(self.path, _versioned_name(version)), manifest)
        atomic_write_json(os.path.join(self.path, MANIFEST_NAME), manifest)

    def abort(self, messages) -> None:
        for m in messages or []:
            if m is not None and m.filename:
                try:
                    os.remove(os.path.join(self.path, m.filename))
                except FileNotFoundError:
                    pass


class ManifestStreamWriter(DataSourceStreamArrowWriter):
    """STREAMING manifest commits: every micro-batch publishes one
    versioned snapshot, and the batch->version ledger makes replay
    idempotent — if Spark re-runs batch N after a crash, the writer sees
    N already in the ledger and re-publishes the SAME version slot
    instead of appending a duplicate snapshot. Combined with the
    checkpointed source this is end-to-end exactly-once into a custom
    sink — the reference's producer-flush-then-save-position contract
    (util/misc.py:89-114) with the transactionality moved into the
    commit protocol where it belongs.

    Each snapshot is the micro-batch (a changelog ledger); readers union
    retained versions or follow HEAD for the latest batch. Executors
    stream Arrow batches into immutable parts exactly like the batch
    writer; only driver-side commit() differs."""

    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("manifest_sink requires .option('path', ...)")
        self.path = path
        self._delegate = ManifestSinkWriter(options)

    def write(self, iterator):
        return self._delegate.write(iterator)

    def _ledger_path(self) -> str:
        return os.path.join(self.path, "_BATCHES.json")

    def commit(self, messages, batchId: int) -> None:
        files = [
            {"file": m.filename, "n_rows": m.n_rows}
            for m in messages
            if m is not None and m.filename
        ]
        ledger = read_json(self._ledger_path()) or {}
        key = str(batchId)
        # replayed batch: reuse its version slot (the old snapshot's parts
        # become orphans — invisible to readers, reclaimed by vacuum)
        version = ledger.get(key, latest_version(self.path) + 1)
        manifest = {
            "version": version,
            "batch_id": batchId,
            "files": files,
            "n_rows": sum(f["n_rows"] for f in files),
        }
        # no task creates the directory when no part was written (an empty
        # frame or first micro-batch to a new path)
        os.makedirs(self.path, exist_ok=True)
        fsync_dir(self.path)  # the parts' entries, before a manifest names them
        atomic_write_json(os.path.join(self.path, _versioned_name(version)), manifest)
        ledger[key] = version
        atomic_write_json(self._ledger_path(), ledger)
        atomic_write_json(os.path.join(self.path, MANIFEST_NAME), manifest)

    def abort(self, messages, batchId: int) -> None:
        self._delegate.abort(messages)


def read_all_committed(spark: SparkSession, path: str) -> DataFrame:
    """Union of every retained snapshot — the full streamed ledger."""
    files = []
    for v in range(1, latest_version(path) + 1):
        try:
            manifest = read_manifest(path, v)
        except FileNotFoundError:  # vacuumed version
            continue
        files += [
            os.path.join(path, f["file"])
            for f in manifest["files"]
            if os.path.exists(os.path.join(path, f["file"]))
        ]
    if not files:
        raise ValueError(f"no committed data at {path}")
    return spark.read.parquet(*files)


_REGISTERED: set[str] = set()


def register_manifest_sink(spark: SparkSession) -> None:
    app_id = spark.sparkContext.applicationId
    if app_id in _REGISTERED:
        return
    spark.dataSource.register(ManifestSinkDataSource)
    _REGISTERED.add(app_id)


def write_with_manifest(df: DataFrame, path: str) -> None:
    """Publish ``df`` as the new HEAD snapshot (replace semantics — prior
    versions stay readable via time travel until vacuum). For accumulating
    writes use ``mode("append")``, which carries the previous HEAD's files
    forward into the new manifest."""
    register_manifest_sink(df.sparkSession)
    df.write.format("manifest_sink").option("path", path).mode("overwrite").save()


def _versioned_name(version: int) -> str:
    return f"_MANIFEST-v{version:08d}.json"


def latest_version(path: str) -> int:
    """Highest committed version, 0 if the table does not exist yet."""
    if not os.path.isdir(path):
        return 0
    versions = [
        int(f[len("_MANIFEST-v") : -len(".json")])
        for f in os.listdir(path)
        if f.startswith("_MANIFEST-v") and f.endswith(".json")
    ]
    return max(versions, default=0)


def read_manifest(path: str, version: int | None = None) -> dict:
    name = MANIFEST_NAME if version is None else _versioned_name(version)
    with open(os.path.join(path, name)) as fh:
        return json.load(fh)


def vacuum(path: str, keep_versions: int = 1) -> dict:
    """Delete part files no retained snapshot references (and the expired
    manifests themselves) — the explicit retention step that bounds
    storage, exactly like Delta's VACUUM: commits never delete data, so
    reclamation is a separate, operator-controlled decision. Returns the
    deletion report."""
    if keep_versions < 1:
        raise ValueError("must keep at least the latest version")
    head = latest_version(path)
    # clamp: retention larger than history keeps everything, and versions
    # already reclaimed by an earlier, tighter vacuum are simply skipped
    cutoff = max(1, head - keep_versions + 1)
    keep_files = set()
    for v in range(cutoff, head + 1):
        try:
            keep_files.update(f["file"] for f in read_manifest(path, v)["files"])
        except FileNotFoundError:  # vacuumed earlier with smaller retention
            continue
    removed_parts, removed_manifests = [], []
    for f in os.listdir(path):
        if f.startswith("part-") and f.endswith(".parquet") and f not in keep_files:
            os.remove(os.path.join(path, f))
            removed_parts.append(f)
        elif f.startswith("_MANIFEST-v") and f.endswith(".json"):
            if int(f[len("_MANIFEST-v") : -len(".json")]) < cutoff:
                os.remove(os.path.join(path, f))
                removed_manifests.append(f)
    return {
        "head_version": head,
        "retained_from": cutoff,
        "removed_parts": sorted(removed_parts),
        "removed_manifests": sorted(removed_manifests),
    }


def read_committed(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read ONLY manifested files — orphans from failed attempts (or any
    concurrent writer that never committed) are invisible. Pass
    ``version`` for time travel: old parts are never deleted by a
    commit, so every snapshot stays readable until explicit vacuum."""
    manifest = read_manifest(path, version)
    files = [os.path.join(path, f["file"]) for f in manifest["files"]]
    if not files:
        raise ValueError(f"empty manifest at {path}")
    return spark.read.parquet(*files)
