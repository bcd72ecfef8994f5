"""Manifest-commit sink: snapshot isolation and orphan invisibility."""

from __future__ import annotations

import os

import pytest


def test_manifest_sink_roundtrip(spark, sf_dir, tmp_path):
    from mysql_streamer_spark.connectors.manifest_sink import (
        read_committed,
        read_manifest,
        write_with_manifest,
    )
    from mysql_streamer_spark.tables import load_table

    events = load_table(spark, sf_dir, "events").repartition(4)
    out = str(tmp_path / "sink")
    write_with_manifest(events, out)

    manifest = read_manifest(out)
    assert manifest["n_rows"] == events.count()
    assert 1 <= len(manifest["files"]) <= 4

    got = read_committed(spark, out)
    assert got.count() == events.count()
    assert got.select("event_id").distinct().count() == events.count()


def test_manifest_reader_ignores_orphan_files(spark, sf_dir, tmp_path):
    """A file from a crashed/duplicated task attempt sits in the directory
    but is not in the manifest — readers must never see it."""
    from mysql_streamer_spark.connectors.manifest_sink import (
        read_committed,
        write_with_manifest,
    )
    from mysql_streamer_spark.tables import load_table

    events = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "sink")
    write_with_manifest(events.repartition(2), out)
    n = events.count()

    # plant an orphan: a valid parquet part that no commit message covered
    events.limit(7).toPandas().to_parquet(
        os.path.join(out, "part-orphan.parquet")
    )
    assert read_committed(spark, out).count() == n  # orphan invisible
    # a naive directory read would double-count
    naive = spark.read.parquet(out)
    assert naive.count() == n + 7


def test_manifest_overwrite_is_a_swap(spark, sf_dir, tmp_path):
    """A second commit replaces the manifest atomically: readers see the
    old snapshot or the new one, never a mix."""
    from mysql_streamer_spark.connectors.manifest_sink import (
        read_committed,
        read_manifest,
        write_with_manifest,
    )
    from mysql_streamer_spark.tables import load_table

    events = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "sink")
    write_with_manifest(events, out)
    first = set(f["file"] for f in read_manifest(out)["files"])

    half = events.filter("event_id % 2 = 0")
    write_with_manifest(half, out)
    second = read_manifest(out)
    assert set(f["file"] for f in second["files"]).isdisjoint(first)
    assert read_committed(spark, out).count() == half.count()


def test_manifest_time_travel(spark, sf_dir, tmp_path):
    """Old snapshots stay readable by version: parts are immutable and a
    commit only adds a manifest, never deletes data."""
    from mysql_streamer_spark.connectors.manifest_sink import (
        latest_version,
        read_committed,
        write_with_manifest,
    )
    from mysql_streamer_spark.tables import load_table

    events = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "sink")
    write_with_manifest(events, out)
    n_v1 = events.count()
    write_with_manifest(events.filter("event_id % 2 = 0"), out)

    assert latest_version(out) == 2
    assert read_committed(spark, out).count() < n_v1  # HEAD = v2
    assert read_committed(spark, out, version=1).count() == n_v1
    assert read_committed(spark, out, version=2).count() == read_committed(
        spark, out
    ).count()


def test_vacuum_reclaims_expired_snapshots(spark, sf_dir, tmp_path):
    """Vacuum removes exactly the parts only expired snapshots reference;
    the retained snapshots keep reading, expired ones become unreadable,
    and orphans (never manifested) are also swept."""
    import os
    import pytest

    from mysql_streamer_spark.connectors.manifest_sink import (
        read_committed,
        read_manifest,
        vacuum,
        write_with_manifest,
    )
    from mysql_streamer_spark.tables import load_table

    events = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "sink")
    write_with_manifest(events, out)                       # v1
    write_with_manifest(events.filter("event_id % 2 = 0"), out)  # v2
    v1_files = {f["file"] for f in read_manifest(out, 1)["files"]}
    n_head = read_committed(spark, out).count()

    report = vacuum(out, keep_versions=1)
    assert set(report["removed_parts"]) == v1_files
    assert report["removed_manifests"] == ["_MANIFEST-v00000001.json"]
    assert read_committed(spark, out).count() == n_head  # HEAD intact
    with pytest.raises(FileNotFoundError):
        read_manifest(out, 1)
    on_disk = {f for f in os.listdir(out) if f.endswith(".parquet")}
    assert on_disk == {f["file"] for f in read_manifest(out)["files"]}


def test_streaming_write_custom_source_to_custom_sink(spark, sf_dir, tmp_path):
    """The full pluggable loop: Python DataSource STREAM source ->
    writeStream.format("manifest_sink") -> one versioned snapshot per
    micro-batch; the union of snapshots is the exact feed, once."""
    from mysql_streamer_spark.connectors.manifest_sink import (
        read_all_committed,
        register_manifest_sink,
    )
    from mysql_streamer_spark.connectors.python_source import (
        stream_events_from_python_source,
    )
    from mysql_streamer_spark.tables import load_table

    register_manifest_sink(spark)
    out, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    df = stream_events_from_python_source(spark, sf_dir, batch_rows=400)
    q = (
        df.writeStream.format("manifest_sink")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    expected = load_table(spark, sf_dir, "events")
    got = read_all_committed(spark, out)
    assert got.count() == expected.count()
    assert got.select("event_id").distinct().count() == expected.count()


def test_streaming_write_replay_reuses_version_slot(spark, sf_dir, tmp_path):
    """A crash AFTER the sink publishes but BEFORE the checkpoint commits
    makes Spark re-run the same batch id; the ledger maps it back to its
    version slot so the feed is never double-published."""
    from mysql_streamer_spark.connectors.manifest_sink import (
        read_all_committed,
        register_manifest_sink,
    )
    from mysql_streamer_spark.connectors.python_source import (
        stream_events_from_python_source,
    )
    from mysql_streamer_spark.tables import load_table

    register_manifest_sink(spark)
    out = str(tmp_path / "sink")
    n_expected = load_table(spark, sf_dir, "events").count()

    # two runs against SEPARATE checkpoints replay the same batch ids —
    # a stronger duplication attack than a clean restart
    for attempt in range(2):
        ckpt = str(tmp_path / f"ckpt{attempt}")
        df = stream_events_from_python_source(spark, sf_dir, batch_rows=400)
        q = (
            df.writeStream.format("manifest_sink")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    got = read_all_committed(spark, out)
    assert got.count() == n_expected, "replayed batches double-published"
    assert got.select("event_id").distinct().count() == n_expected


def test_capstone_custom_source_envelope_custom_sink(spark, sf_dir, tmp_path):
    """The whole reference pipeline on pluggable parts: binlog feed via
    the Python DataSource STREAM source -> the envelope plan -> the
    manifest STREAMING sink — and the published table equals the batch
    envelope byte-for-byte (S1 -> DML path -> K1, all custom, once)."""
    from mysql_streamer_spark.cdc.pipeline import (
        envelope_pipeline,
        envelope_pipeline_df,
    )
    from mysql_streamer_spark.connectors.manifest_sink import (
        read_all_committed,
        register_manifest_sink,
    )
    from mysql_streamer_spark.connectors.python_source import (
        stream_events_from_python_source,
    )

    register_manifest_sink(spark)
    out, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    env = envelope_pipeline_df(
        stream_events_from_python_source(spark, sf_dir, batch_rows=400)
    )
    q = (
        env.writeStream.format("manifest_sink")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = read_all_committed(spark, out)
    expected = envelope_pipeline(spark, sf_dir)
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_append_mode_carries_previous_head_forward(spark, sf_dir, tmp_path):
    """mode('append') must accumulate: the new snapshot's manifest unions
    the previous HEAD's files, so HEAD readers keep every committed row
    (write_with_manifest stays the documented replace/swap)."""
    from mysql_streamer_spark.connectors.manifest_sink import (
        read_committed,
        register_manifest_sink,
        write_with_manifest,
    )
    from mysql_streamer_spark.tables import load_table

    events = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "sink")
    first = events.filter("event_id % 2 = 0")
    second = events.filter("event_id % 2 = 1")
    write_with_manifest(first, out)
    register_manifest_sink(spark)
    second.write.format("manifest_sink").option("path", out).mode("append").save()
    got = read_committed(spark, out)
    assert got.count() == events.count()
    # and overwrite still swaps
    write_with_manifest(first, out)
    assert read_committed(spark, out).count() == first.count()


def test_vacuum_retention_larger_than_history_keeps_everything(
    spark, sf_dir, tmp_path
):
    from mysql_streamer_spark.connectors.manifest_sink import (
        read_committed,
        vacuum,
        write_with_manifest,
    )
    from mysql_streamer_spark.tables import load_table

    events = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "sink")
    write_with_manifest(events, out)  # v1
    write_with_manifest(events.limit(10), out)  # v2
    report = vacuum(out, keep_versions=10)  # > history: no-op, no crash
    assert report["removed_parts"] == [] and report["removed_manifests"] == []
    assert read_committed(spark, out, version=1).count() == events.count()


def test_vacuum_after_tighter_vacuum_skips_missing_manifests(
    spark, sf_dir, tmp_path
):
    from mysql_streamer_spark.connectors.manifest_sink import (
        read_committed,
        vacuum,
        write_with_manifest,
    )
    from mysql_streamer_spark.tables import load_table

    events = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "sink")
    for k in (2, 3, 4):  # v1..v3
        write_with_manifest(events.limit(k), out)
    vacuum(out, keep_versions=1)  # drops v1+v2 manifests
    # wider retention window now includes already-deleted versions
    report = vacuum(out, keep_versions=3)
    assert report["head_version"] == 3
    assert read_committed(spark, out).count() == 4


def _record_fsyncs(monkeypatch) -> set[int]:
    """Inodes of every file or directory ``os.fsync`` is called on from
    now on."""
    synced: set[int] = set()
    real = os.fsync

    def fsync(fd):
        synced.add(os.fstat(fd).st_ino)
        real(fd)

    monkeypatch.setattr(os, "fsync", fsync)
    return synced


def test_jsonl_shard_is_fsynced_before_its_commit_message(tmp_path, monkeypatch):
    """A staged shard is durable before commit() can name it in a manifest."""
    from pyspark.sql import Row

    from mysql_streamer_spark.connectors.python_source import ManifestJsonlWriter

    synced = _record_fsyncs(monkeypatch)
    writer = ManifestJsonlWriter({"path": str(tmp_path)}, None, overwrite=True)
    msg = writer.write(iter([Row(a=1), Row(a=2)]))
    assert msg.rows == 2
    assert os.stat(msg.staged).st_ino in synced


def test_manifest_part_is_fsynced_before_its_commit_message(tmp_path, monkeypatch):
    """A part file is durable before commit() can name it in a manifest."""
    import pyarrow as pa

    from mysql_streamer_spark.connectors.manifest_sink import ManifestSinkWriter

    synced = _record_fsyncs(monkeypatch)
    writer = ManifestSinkWriter({"path": str(tmp_path)})
    msg = writer.write(iter(pa.table({"a": [1, 2]}).to_batches()))
    assert msg.n_rows == 2
    assert os.stat(os.path.join(tmp_path, msg.filename)).st_ino in synced


def test_atomic_write_json_fsyncs_the_directory_after_the_rename(
    tmp_path, monkeypatch
):
    """The rename that publishes a document is durable once the commit
    returns: the target's directory is fsynced."""
    from mysql_streamer_spark.storage import atomic_write_json, read_json

    synced = _record_fsyncs(monkeypatch)
    atomic_write_json(str(tmp_path / "state.json"), {"batch": 1})
    assert read_json(str(tmp_path / "state.json")) == {"batch": 1}
    assert os.stat(tmp_path).st_ino in synced


def test_jsonl_shard_renames_are_durable_before_the_manifest(tmp_path, monkeypatch):
    """commit() renames shards out of _staging/ into the table directory;
    that directory is fsynced before the manifest naming them commits."""
    from pyspark.sql import Row

    from mysql_streamer_spark import storage
    from mysql_streamer_spark.connectors.python_source import ManifestJsonlWriter

    synced = _record_fsyncs(monkeypatch)
    writer = ManifestJsonlWriter({"path": str(tmp_path)}, None, overwrite=True)
    msg = writer.write(iter([Row(a=1)]))
    table_dir_synced_at_manifest = []
    real = storage.atomic_write_json

    def commit_manifest(path, obj):
        table_dir_synced_at_manifest.append(os.stat(tmp_path).st_ino in synced)
        real(path, obj)

    monkeypatch.setattr(storage, "atomic_write_json", commit_manifest)
    writer.commit([msg])
    assert table_dir_synced_at_manifest == [True]
    assert storage.read_json(str(tmp_path / "_MANIFEST.json"))["total_rows"] == 1


@pytest.mark.parametrize("stream", [False, True])
def test_manifest_parts_are_durable_before_the_manifest(tmp_path, monkeypatch, stream):
    """The batch and the streaming writer fsync the directory holding the
    new parts before commit() writes a manifest naming them."""
    import pyarrow as pa

    from mysql_streamer_spark.connectors import manifest_sink

    synced = _record_fsyncs(monkeypatch)
    options = {"path": str(tmp_path)}
    if stream:
        writer = manifest_sink.ManifestStreamWriter(options)
    else:
        writer = manifest_sink.ManifestSinkWriter(options)
    msg = writer.write(iter(pa.table({"a": [1, 2]}).to_batches()))
    table_dir_synced_at_manifest = []
    real = manifest_sink.atomic_write_json

    def commit_manifest(path, obj):
        table_dir_synced_at_manifest.append(os.stat(tmp_path).st_ino in synced)
        real(path, obj)

    monkeypatch.setattr(manifest_sink, "atomic_write_json", commit_manifest)
    if stream:
        writer.commit([msg], 0)
    else:
        writer.commit([msg])
    # the stream writer also commits its batch ledger
    assert table_dir_synced_at_manifest == [True] * (3 if stream else 2)
    assert manifest_sink.read_manifest(str(tmp_path))["n_rows"] == 2


def test_batch_commit_without_parts_creates_the_table(tmp_path):
    """A write in which no task produced a part (an empty frame) still
    publishes version 1 on a path that does not exist yet."""
    from mysql_streamer_spark.connectors.manifest_sink import (
        ManifestSinkWriter,
        latest_version,
        read_manifest,
    )

    out = str(tmp_path / "fresh")
    ManifestSinkWriter({"path": out}).commit([])
    assert read_manifest(out) == {"version": 1, "files": [], "n_rows": 0}
    assert latest_version(out) == 1


def test_stream_commit_without_parts_creates_the_table(tmp_path):
    """An empty first micro-batch to a new path publishes version 1."""
    from mysql_streamer_spark.connectors.manifest_sink import (
        ManifestStreamWriter,
        latest_version,
        read_manifest,
    )

    out = str(tmp_path / "fresh")
    ManifestStreamWriter({"path": out}).commit([], 0)
    manifest = read_manifest(out)
    assert (manifest["version"], manifest["batch_id"], manifest["n_rows"]) == (1, 0, 0)
    assert latest_version(out) == 1
