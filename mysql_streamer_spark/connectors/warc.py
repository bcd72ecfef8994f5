"""Pure-Python WARC/1.0 writer + reader (ISO 28500 / IIPC WARC spec).

WARC is the container every large-scale crawl corpus ships in (Common
Crawl, Internet Archive), which makes it the natural ingest format for a
100 TB training-data pipeline: a crawler emits concatenated WARC records,
and the pipeline's first stage walks those containers and extracts the
``response`` payloads. This module is the ingest twin of the in-repo
PNG/WAV/AVI codecs — a real, loudly-failing implementation of a public
byte format, built only from the published spec:

    record   = version CRLF *header CRLF payload CRLF CRLF
    version  = "WARC/1.0" | "WARC/1.1"
    header   = field-name ": " field-value CRLF
    payload  = exactly Content-Length octets

Records are concatenated back-to-back to form a WARC file. The reader is
a strict chunk walk: it validates the version line, requires
Content-Length, reads exactly that many octets, and requires the 4-octet
record terminator — a torn or lying container fails loudly rather than
resynchronizing silently (resync hides data loss at scale). Unknown
record types are length-walked and skipped, the same contract as the
unknown-chunk skip in the RIFF readers.

Determinism: the writer takes record ids and dates from the caller (no
uuid/clock reads), so encode -> parse roundtrips are bit-stable and
oracle-checkable.

Reference scope: Yelp/mysql_streamer has no crawl-ingest surface; this is
part of the training-data-pipeline extension (SURVEY.md §7 phases 4-5).
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

CRLF = b"\r\n"
WARC_VERSION = b"WARC/1.0"

#: Header emission order is fixed so serialized bytes are deterministic
#: and closed-form (oracle queries reconstruct records in SQL).
_HEADER_ORDER = (
    "WARC-Type",
    "WARC-Record-ID",
    "WARC-Date",
    "WARC-Target-URI",
    "Content-Type",
)


def warc_record(
    record_type: str,
    record_id: str,
    date: str,
    payload: bytes,
    target_uri: str | None = None,
    content_type: str | None = None,
) -> bytes:
    """Serialize ONE record. ``record_id``/``date`` come from the caller
    (deterministic by design — see module docstring)."""
    headers = {
        "WARC-Type": record_type,
        "WARC-Record-ID": record_id,
        "WARC-Date": date,
    }
    if target_uri is not None:
        headers["WARC-Target-URI"] = target_uri
    if content_type is not None:
        headers["Content-Type"] = content_type
    out = [WARC_VERSION, CRLF]
    for name in _HEADER_ORDER:
        if name in headers:
            out += [f"{name}: {headers[name]}".encode("utf-8"), CRLF]
    out += [f"Content-Length: {len(payload)}".encode("ascii"), CRLF, CRLF]
    out += [payload, CRLF, CRLF]
    return b"".join(out)


def warc_write(records: list[dict]) -> bytes:
    """Concatenate records (dicts with the ``warc_record`` kwargs) into
    one WARC file blob."""
    return b"".join(warc_record(**r) for r in records)


def warc_parse(blob: bytes, types: tuple[str, ...] | None = None) -> list[dict]:
    """Strict chunk walk over a WARC file. Returns one dict per record
    (``headers``: dict, ``payload``: bytes, ``record_len``: serialized
    octets incl. terminator), skipping — but still length-walking —
    records whose WARC-Type is not in ``types`` (None = keep all).

    Loud failures (ValueError) on: bad version line, truncated header
    block, missing/garbled Content-Length, payload shorter than declared,
    missing record terminator. A container that lies about lengths is
    corrupt; resynchronizing would silently drop records at scale.
    """
    out: list[dict] = []
    pos = 0
    n = len(blob)
    while pos < n:
        start = pos
        eol = blob.find(CRLF, pos)
        if eol < 0:
            raise ValueError(f"warc: no version line at offset {pos}")
        version = blob[pos:eol]
        if version not in (b"WARC/1.0", b"WARC/1.1"):
            raise ValueError(f"warc: bad version {version!r} at offset {pos}")
        pos = eol + 2
        headers: dict[str, str] = {}
        while True:
            eol = blob.find(CRLF, pos)
            if eol < 0:
                raise ValueError(f"warc: unterminated header block at {pos}")
            line = blob[pos:eol]
            pos = eol + 2
            if not line:
                break  # blank line: end of header block
            sep = line.find(b":")
            if sep < 0:
                raise ValueError(f"warc: malformed header {line!r}")
            headers[line[:sep].decode("utf-8")] = (
                line[sep + 1 :].strip().decode("utf-8")
            )
        try:
            clen = int(headers["Content-Length"])
        except (KeyError, ValueError):
            raise ValueError(
                f"warc: missing/garbled Content-Length in record at {start}"
            ) from None
        if clen < 0 or pos + clen + 4 > n:
            raise ValueError(
                f"warc: payload truncated (need {clen}+4 octets at {pos})"
            )
        payload = blob[pos : pos + clen]
        pos += clen
        if blob[pos : pos + 4] != CRLF + CRLF:
            raise ValueError(f"warc: missing record terminator at {pos}")
        pos += 4
        if types is None or headers.get("WARC-Type") in types:
            out.append(
                {
                    "headers": headers,
                    "payload": payload,
                    "record_len": pos - start,
                }
            )
    return out


def warc_write_files(docs, path: str, date: str) -> None:
    """Distributed WARC sink: one ``part-*.warc`` per input partition,
    written executor-side (mapInPandas pass whose output is the 1-row
    per-partition manifest of what it wrote; the collect() drives the
    write and ships only the manifest). ``docs`` must carry (doc_id,
    source, text); each document becomes a ``response`` record plus an
    interleaved ``metadata`` record the reader must length-skip. ``path``
    must be visible to every executor AND the driver (shared filesystem);
    local mode always qualifies — an object-store flavor would swap
    open() for the Hadoop FS API, same as the OCF sink
    (connectors/avro_file.py)."""
    import os
    import uuid

    import pandas as pd

    os.makedirs(path, exist_ok=True)

    def write_partition(batches):
        os.makedirs(path, exist_ok=True)  # executor-side on a cluster
        fname = f"part-{uuid.uuid4().hex}.warc"
        fh = None
        n = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if fh is None:
                fh = open(os.path.join(path, fname), "wb")
            for doc_id, source, text in zip(
                pdf["doc_id"], pdf["source"], pdf["text"]
            ):
                fh.write(
                    warc_record(
                        record_type="response",
                        record_id=f"<urn:doc:{doc_id}>",
                        date=date,
                        target_uri=(
                            f"http://{source}.example.com/doc/{doc_id}"
                        ),
                        content_type=(
                            "text/html" if doc_id % 4 == 0 else "text/plain"
                        ),
                        payload=text.encode("utf-8"),
                    )
                )
                fh.write(
                    warc_record(
                        record_type="metadata",
                        record_id=f"<urn:meta:{doc_id}>",
                        date=date,
                        content_type="application/warc-fields",
                        payload=f"via: crawler/{doc_id}".encode("ascii"),
                    )
                )
                n += 2
        if fh is None:
            return
        fh.close()
        yield pd.DataFrame({"file": [fname], "n_records": [n]})

    docs.mapInPandas(
        write_partition, "file string, n_records long"
    ).collect()


def warc_read_files(spark, path: str, types: tuple[str, ...] | None = None):
    """WARC file source: Spark's binaryFile listing (one row per .warc
    file) parsed file-parallel by the strict chunk walk — the shape of a
    real Common Crawl ingest, where containers sit in object storage and
    each task walks whole files. Returns one row per kept record with the
    core headers projected and the payload as bytes."""
    import os

    import pandas as pd

    if not _list_warc_files(path):
        # an empty crawl drop is a valid state (nothing deposited yet);
        # binaryFile's glob would throw PATH_NOT_FOUND instead
        return spark.createDataFrame(
            [],
            "record_id string, target_uri string, content_type string, "
            "payload binary, record_len long",
        )

    files = spark.read.format("binaryFile").load(os.path.join(path, "*.warc"))

    def parse_files(batches):
        for pdf in batches:
            rows: dict[str, list] = {
                "record_id": [],
                "target_uri": [],
                "content_type": [],
                "payload": [],
                "record_len": [],
            }
            for blob in pdf["content"]:
                for rec in warc_parse(bytes(blob), types=types):
                    h = rec["headers"]
                    rows["record_id"].append(h.get("WARC-Record-ID", ""))
                    rows["target_uri"].append(h.get("WARC-Target-URI", ""))
                    rows["content_type"].append(h.get("Content-Type", ""))
                    rows["payload"].append(rec["payload"])
                    rows["record_len"].append(rec["record_len"])
            yield pd.DataFrame(rows)

    return files.select("content").mapInPandas(
        parse_files,
        "record_id string, target_uri string, content_type string, "
        "payload binary, record_len long",
    )


# ---------------------------------------------------------------------------
# Pluggable streaming source: a crawl-drop directory of WARC files
# ---------------------------------------------------------------------------

_WARC_SOURCE_SCHEMA = (
    "record_id string, target_uri string, content_type string, "
    "payload binary, record_len long"
)


class _WarcFilePartition(InputPartition):
    """One executor read = one whole WARC container (the ingest grain:
    records inside a container are sequential by format, files are the
    parallel unit — same as the batch binaryFile path)."""

    def __init__(self, path: str):
        self.path = path


def _warc_file_rows(path: str, types: tuple[str, ...] | None):
    with open(path, "rb") as fh:
        blob = fh.read()
    for rec in warc_parse(blob, types=types):
        h = rec["headers"]
        yield (
            h.get("WARC-Record-ID", ""),
            h.get("WARC-Target-URI", ""),
            h.get("Content-Type", ""),
            rec["payload"],
            rec["record_len"],
        )


def _list_warc_files(path: str) -> list[str]:
    import os

    if not os.path.isdir(path):
        return []  # a drop directory that does not exist yet is empty
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".warc")
    )


def _types_option(options) -> tuple[str, ...] | None:
    raw = options.get("types")
    if not raw:
        return None
    return tuple(t.strip() for t in str(raw).split(",") if t.strip())


class WarcFilesDataSource(DataSource):
    """``spark.read/readStream.format("warc_files")`` over a directory of
    WARC containers — the crawl-drop ingest surface: a crawler (or a
    Common Crawl sync) deposits immutable ``*.warc`` files; the batch
    form lists and parses them file-parallel, the streaming form tails
    the directory with offset-tracked, checkpoint-replayable micro
    -batches. Options: ``path`` (required), ``types`` (comma list of
    WARC-Types to keep, e.g. ``response``; default all)."""

    @classmethod
    def name(cls) -> str:
        return "warc_files"

    def schema(self) -> str:
        return _WARC_SOURCE_SCHEMA

    def reader(self, schema) -> "WarcFilesReader":
        return WarcFilesReader(self.options)

    def streamReader(self, schema) -> "WarcFilesStreamReader":
        return WarcFilesStreamReader(self.options)


class WarcFilesReader(DataSourceReader):
    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("warc_files source requires .option('path', ...)")
        self.path = path
        self.types = _types_option(options)

    def partitions(self):
        return [_WarcFilePartition(p) for p in _list_warc_files(self.path)]

    def read(self, partition: _WarcFilePartition):
        yield from _warc_file_rows(partition.path, self.types)


class WarcFilesStreamReader(DataSourceStreamReader):
    """Offsets carry the FILE MANIFEST ``{"files": [[name, size], ...]}``.
    A crawl-drop directory is append-only by contract — containers are
    immutable once deposited, but their NAMES carry no arrival order
    (uuid part names), so the guard is SET-based rather than the binlog
    feed's name-prefix rail (python_source.py, ADVICE r5): every trigger
    verifies each committed container is still present with its committed
    size (removal, rename, truncation, or in-place append all fail
    loudly — any of them would remap committed offsets), and the new
    work is exactly the set difference. The manifest travels inside the
    checkpointed offsets, so crash/restart replay re-derives the same
    file set deterministically; each new container becomes one
    partition, read on an executor."""

    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("warc_files source requires .option('path', ...)")
        self.path = path
        self.types = _types_option(options)

    def _observed(self) -> list[list]:
        import os

        return [
            [os.path.basename(p), os.path.getsize(p)]
            for p in _list_warc_files(self.path)
        ]

    @staticmethod
    def _require_present(prev: list[list], cur: list[list], where: str) -> None:
        cur_sizes = {name: size for name, size in cur}
        for name, size in prev:
            if cur_sizes.get(name) != size:
                raise ValueError(
                    f"warc_files feed mutated non-append-only ({where}): "
                    f"committed container {name!r} (size {size}) is "
                    f"missing or resized in {sorted(cur_sizes)}; refusing "
                    "to remap committed offsets"
                )

    def initialOffset(self) -> dict:
        return {"files": []}

    def latestOffset(self) -> dict:
        return {"files": self._observed()}

    def partitions(self, start: dict, end: dict):
        import os

        observed = self._observed()
        self._require_present(end["files"], observed, "partitions/end")
        self._require_present(start["files"], end["files"], "partitions/start")
        committed = {name for name, _ in start["files"]}
        return [
            _WarcFilePartition(os.path.join(self.path, name))
            for name, _ in end["files"]
            if name not in committed
        ]

    def read(self, partition: _WarcFilePartition):
        yield from _warc_file_rows(partition.path, self.types)

    def commit(self, end: dict) -> None:
        pass  # offsets are pure functions of the immutable directory


_WARC_REGISTERED: set[str] = set()


def register_warc_source(spark) -> None:
    app_id = spark.sparkContext.applicationId
    if app_id in _WARC_REGISTERED:
        return
    spark.dataSource.register(WarcFilesDataSource)
    _WARC_REGISTERED.add(app_id)


# ---------------------------------------------------------------------------
# HTTP/1.1 response framing (what real WARC response payloads contain —
# Common Crawl stores the FULL HTTP response, content-type
# "application/http; msgtype=response", not a bare body)
# ---------------------------------------------------------------------------

_HTTP_REASONS = {200: "OK", 301: "Moved Permanently", 404: "Not Found"}


def http_response_bytes(
    status: int, body: bytes, headers: list[tuple[str, str]]
) -> bytes:
    """Serialize one HTTP/1.1 response (status line + headers in given
    order + CRLF CRLF + body). Content-Length is appended automatically
    as the last header so the framing is always self-describing."""
    out = [f"HTTP/1.1 {status} {_HTTP_REASONS[status]}".encode("ascii"), CRLF]
    for name, value in headers:
        out += [f"{name}: {value}".encode("utf-8"), CRLF]
    out += [f"Content-Length: {len(body)}".encode("ascii"), CRLF, CRLF, body]
    return b"".join(out)


def http_response_parse(payload: bytes) -> dict:
    """Strict parse of an HTTP/1.1 response: status line, header map,
    body split at the first CRLF CRLF. Loud ValueError on a missing
    header/body separator or a malformed status line — a torn response
    inside an intact WARC record means the CRAWLER wrote garbage, which
    an ingest pipeline must surface, not paper over."""
    sep = payload.find(CRLF + CRLF)
    if sep < 0:
        raise ValueError("http: no header/body separator")
    head = payload[:sep].decode("utf-8", errors="strict")
    lines = head.split("\r\n")
    parts = lines[0].split(" ", 2)
    if len(parts) < 2 or not parts[0].startswith("HTTP/"):
        raise ValueError(f"http: malformed status line {lines[0]!r}")
    try:
        status = int(parts[1])
    except ValueError:
        raise ValueError(f"http: non-numeric status in {lines[0]!r}") from None
    headers: dict[str, str] = {}
    for line in lines[1:]:
        k, _, v = line.partition(":")
        headers[k.strip()] = v.strip()
    return {"status": status, "headers": headers, "body": payload[sep + 4 :]}
