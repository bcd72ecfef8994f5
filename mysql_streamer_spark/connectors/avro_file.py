"""Avro Object Container Files (OCF) — the reference ecosystem's at-rest
interchange format — as a distributed Spark sink and source.

Format per the public Avro 1.11 spec (Object Container Files section):

- header: magic ``Obj\\x01``, a map<string, bytes> of metadata
  (``avro.schema`` = the JSON schema, ``avro.codec``), then a 16-byte sync
  marker;
- each data block: record count (varint long), byte size of the
  (possibly compressed) record bytes (varint long), the bytes, then the
  file's sync marker again;
- ``deflate`` codec = raw DEFLATE (zlib with no header/checksum).

Scale shape: WRITE is ``foreachPartition``-free — a ``mapInArrow`` pass
emits one OCF file per input partition (the parquet part-file layout), so
1000 executors write 1000+ files with zero driver involvement and no
shuffle. READ lists the files with Spark's ``binaryFile`` source (one row
per file, whole-file content) and decodes blocks through ``avro_wire.py``'s
decode driver, a second ``mapInArrow`` pass — each file decodes
independently, parallelism = file count, the same contract as a parquet
scan over part files. Record encode/decode, the flat columns and the meta
array reuse the spec-pinned kernel and envelope layout in ``avro_wire.py``.
"""

from __future__ import annotations

import hashlib
import os
import uuid
import zlib
from typing import Any, Iterator

from mysql_streamer_spark.connectors.avro_wire import (
    ENVELOPE_SCHEMA_JSON,
    read_long,
    write_long,
)

MAGIC = b"Obj\x01"

#: records per OCF data block (the spec's writers default to blocks of a
#: few thousand; bounded so one block never buffers a partition)
BLOCK_RECORDS = 4096


def _encode_meta_map(meta: dict[str, bytes]) -> bytes:
    out = bytearray()
    if meta:
        write_long(out, len(meta))
        for k, v in meta.items():
            raw = k.encode("utf-8")
            write_long(out, len(raw))
            out += raw
            write_long(out, len(v))
            out += v
    write_long(out, 0)
    return bytes(out)


def _decode_meta_map(buf: bytes, pos: int) -> tuple[dict[str, bytes], int]:
    meta: dict[str, bytes] = {}
    while True:
        count, pos = read_long(buf, pos)
        if count == 0:
            return meta, pos
        if count < 0:  # size-prefixed block form
            count = -count
            _, pos = read_long(buf, pos)
        for _ in range(count):
            n, pos = read_long(buf, pos)
            key = buf[pos : pos + n].decode("utf-8")
            pos += n
            n, pos = read_long(buf, pos)
            meta[key] = bytes(buf[pos : pos + n])
            pos += n


def write_ocf(records: Iterator[dict], schema: Any, schema_json: str,
              fh, codec: str = "deflate", sync_seed: str = "") -> int:
    """Stream ``records`` into one OCF on ``fh``; returns the record count.
    The sync marker is derived deterministically from ``sync_seed`` (the
    spec only requires it be stable within the file)."""
    from mysql_streamer_spark.connectors.avro_wire import compile_encoder

    enc = compile_encoder(schema)
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported avro codec {codec!r}")
    sync = hashlib.md5(("ocf-sync:" + sync_seed).encode()).digest()
    meta = {
        "avro.schema": schema_json.encode("utf-8"),
        "avro.codec": codec.encode("utf-8"),
    }
    fh.write(MAGIC)
    fh.write(_encode_meta_map(meta))
    fh.write(sync)
    total = 0
    block: list[dict] = []

    def flush() -> None:
        nonlocal total
        if not block:
            return
        body = bytearray()
        for rec in block:
            enc(rec, body)
        raw = bytes(body)
        if codec == "deflate":
            comp = zlib.compressobj(wbits=-15)
            raw = comp.compress(raw) + comp.flush()
        head = bytearray()
        write_long(head, len(block))
        write_long(head, len(raw))
        fh.write(bytes(head))
        fh.write(raw)
        fh.write(sync)
        total += len(block)
        block.clear()

    for rec in records:
        block.append(rec)
        if len(block) >= BLOCK_RECORDS:
            flush()
    flush()
    return total


def read_ocf(buf: bytes, schema: Any) -> list[dict]:
    """Decode every record of one OCF byte string (schema must match the
    writer's — resolution against a different reader schema is out of
    scope for the envelope roundtrip)."""
    if buf[:4] != MAGIC:
        raise ValueError("not an avro object container file")
    meta, pos = _decode_meta_map(buf, 4)
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    from mysql_streamer_spark.connectors.avro_wire import compile_decoder

    dec = compile_decoder(schema)
    sync = buf[pos : pos + 16]
    pos += 16
    out: list[dict] = []
    n = len(buf)
    while pos < n:
        count, pos = read_long(buf, pos)
        size, pos = read_long(buf, pos)
        body = buf[pos : pos + size]
        pos += size
        if codec == "deflate":
            body = zlib.decompress(body, wbits=-15)
        elif codec != "null":
            raise ValueError(f"unsupported avro codec {codec!r}")
        at = 0
        for _ in range(count):
            rec, at = dec(body, at)
            out.append(rec)
        if at != len(body):
            raise ValueError("trailing bytes in avro block")
        if buf[pos : pos + 16] != sync:
            raise ValueError("sync marker mismatch")
        pos += 16
    return out


# ---------------------------------------------------------------------------
# Spark integration
# ---------------------------------------------------------------------------

def write_envelope_avro_files(env, path: str, codec: str = "deflate") -> None:
    """Distributed OCF sink: one ``part-*.avro`` per input partition,
    written executor-side (mapInArrow pass whose output is the 1-row
    per-partition manifest of what it wrote). ``path`` must be visible to
    every executor AND the driver (shared filesystem); local mode always
    qualifies."""
    import pyarrow as pa

    from mysql_streamer_spark.connectors.avro_wire import (
        ENVELOPE_SCHEMA,
        _flat_frame,
        _flat_names,
        _meta_for_row,
    )

    os.makedirs(path, exist_ok=True)

    def write_batches(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        # executor-side too: on a cluster the driver's makedirs only
        # touched ITS node; path must be a shared filesystem (NFS/DFS
        # mount) for the distributed write+list contract to hold — an
        # object-store flavor would swap open() for the Hadoop FS API
        os.makedirs(path, exist_ok=True)
        fname = f"part-{uuid.uuid4().hex}.avro"

        def rows() -> Iterator[dict]:
            for batch in batches:
                for row in batch.to_pylist():
                    row["meta"] = _meta_for_row(row, meta_version=1)
                    yield row

        with open(os.path.join(path, fname), "wb") as fh:
            n = write_ocf(
                rows(), ENVELOPE_SCHEMA, ENVELOPE_SCHEMA_JSON, fh,
                codec=codec, sync_seed=fname,
            )
        yield pa.RecordBatch.from_arrays(
            [pa.array([fname]), pa.array([n], pa.int64())], ["file", "n_rows"]
        )

    flat = _flat_frame(env, _flat_names(ENVELOPE_SCHEMA))
    # the collect() drives the write; the returned manifest rows are tiny
    manifest = flat.mapInArrow(write_batches, "file string, n_rows long").collect()
    if not manifest:
        # an EMPTY feed can plan to zero partitions (AQE coalesces the
        # spread exchange away), so no executor task ran and no file was
        # written; the glob reader requires >= 1 match, so keep the
        # sink's contract with one header-only OCF written driver-side
        fname = f"part-{uuid.uuid4().hex}.avro"
        with open(os.path.join(path, fname), "wb") as fh:
            write_ocf(
                iter(()), ENVELOPE_SCHEMA, ENVELOPE_SCHEMA_JSON, fh,
                codec=codec, sync_seed=fname,
            )


def read_envelope_avro_files(spark, path: str):
    """OCF source: Spark's binaryFile listing (one row per file) decoded
    file-parallel by the shared decode driver — each blob yields all its
    records — back to the flat envelope columns (+ meta_ok witness)."""
    from mysql_streamer_spark.connectors.avro_wire import (
        ENVELOPE_SCHEMA,
        _decode_envelopes,
    )

    files = spark.read.format("binaryFile").load(os.path.join(path, "*.avro"))
    return _decode_envelopes(
        files.select("content"),
        ENVELOPE_SCHEMA,
        lambda blob: read_ocf(blob, ENVELOPE_SCHEMA),
    )
