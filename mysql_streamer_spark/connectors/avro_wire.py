"""Avro binary wire format for the CDC envelope — the reference's published
message encoding, re-expressed as an Arrow-batched kernel.

The reference registers per-table Avro schemas with its schema store and
publishes every message Avro-encoded against them; the transaction-id meta
record it attaches is ``schema/avro_schema/log_transaction_id_v1.avsc``
({cluster_name: string, log_file: string, log_pos: int}, registered by
replication_handler/components/schema_wrapper.py:97-141).

The binary encoding is implemented here from the public Avro 1.11
specification (https://avro.apache.org/docs/1.11.1/specification/), with
neither the spark-avro datasource nor a Python avro package:

- ``int``/``long``: zigzag then base-128 little-endian varint;
- ``float``/``double``: 4/8 bytes IEEE-754 little-endian;
- ``string``/``bytes``: long length prefix + bytes;
- ``union``: long branch index, then the branch value;
- ``record``: field values concatenated in schema order;
- ``array``: non-empty count blocks terminated by a zero count.

The kernel is schema-driven (any schema built from the primitives above
encodes/decodes), and Spark-side every codec — plaintext and Confluent
here, secure in ``secure_wire.py``, files in ``avro_file.py`` — runs
through one driver pair under ``mapInArrow`` (Arrow batch transfer, no
row-at-a-time Python UDF serialization). The envelope's wire layout is
decided once, here: ``_flat_frame`` selects what an encoder reads
(``timestamp`` as int64 micros), ``_meta_for_row`` builds every
transaction-id meta array, ``_encode_map`` runs a per-row encode,
``_decode_map`` runs a ``bytes -> records`` function (a frame yields one
record, an OCF blob many), and ``_decode_envelopes`` turns each envelope
record into output columns derived from its Avro schema (``meta`` becomes
the ``meta_ok`` witness, ``timestamp`` becomes ``ts_us``).

This Python kernel is the codec on every deployment. Correctness is proven
three ways: unit tests pin the spec's own byte examples (zigzag vectors,
string framing); ``tests/test_avro_differential.py`` pins the bytes
against the Apache Avro Java implementation that ships with Spark core;
and the ``cdc_avro_roundtrip`` query encodes the full envelope, decodes it
back, and hash-matches the DIRECT envelope oracle, mirroring
``cdc_debezium_roundtrip``'s lossless-adapter proof.
"""

from __future__ import annotations

import json
import struct
from functools import partial
from typing import Any, Iterator

#: The meta record, field-for-field the reference's
#: log_transaction_id_v1.avsc (log_pos is ``int`` there — binlog offsets are
#: capped by max_binlog_size; values beyond 2^31 would need the v2 schema).
TRANSACTION_ID_SCHEMA: dict = {
    "type": "record",
    "name": "transaction_id",
    "namespace": "replication_handler",
    "fields": [
        {"name": "cluster_name", "type": "string"},
        {"name": "log_file", "type": "string"},
        {"name": "log_pos", "type": "int"},
    ],
}

#: v2 of the meta record: log_pos widened to ``long`` — the schema the
#: reference's store would register once binlog positions outgrow 32 bits
#: (int->long is a spec-legal promotion, so v2 READERS consume v1 data via
#: decode_resolved with no migration).
TRANSACTION_ID_V2_SCHEMA: dict = {
    "type": "record",
    "name": "transaction_id",
    "namespace": "replication_handler",
    "fields": [
        {"name": "cluster_name", "type": "string"},
        {"name": "log_file", "type": "string"},
        {"name": "log_pos", "type": "long"},
    ],
}

#: GTID-mode meta record, field-for-field the reference's
#: global_transaction_id_v1.avsc.
GLOBAL_TRANSACTION_ID_SCHEMA: dict = {
    "type": "record",
    "name": "global_transaction_id",
    "namespace": "replication_handler",
    "fields": [
        {"name": "cluster_name", "type": "string"},
        {"name": "gtid", "type": "string"},
    ],
}

#: The envelope message schema: the flat published-message fields
#: (util/message_builder.py:51-78's payload/position/meta surface) typed to
#: the envelope DataFrame's exact Spark types.
ENVELOPE_SCHEMA: dict = {
    "type": "record",
    "name": "envelope",
    "namespace": "replication_handler",
    "fields": [
        {"name": "schema_id", "type": ["null", "int"]},
        {"name": "cluster_name", "type": "string"},
        {"name": "database_name", "type": ["null", "string"]},
        {"name": "table_name", "type": ["null", "string"]},
        {"name": "message_type", "type": "string"},
        {
            "name": "timestamp",
            "type": ["null", {"type": "long", "logicalType": "timestamp-micros"}],
        },
        {"name": "log_file", "type": ["null", "string"]},
        {"name": "log_pos", "type": ["null", "long"]},
        {"name": "offset", "type": "int"},
        {"name": "txn_order", "type": ["null", "long"]},
        {"name": "pk", "type": ["null", "long"]},
        {"name": "payload_k", "type": ["null", "int"]},
        {"name": "payload_val", "type": ["null", "double"]},
        {"name": "previous_payload_val", "type": ["null", "double"]},
        {"name": "meta", "type": {"type": "array", "items": TRANSACTION_ID_SCHEMA}},
    ],
}

ENVELOPE_SCHEMA_JSON = json.dumps(ENVELOPE_SCHEMA)

#: envelope with the v2 (long log_pos) meta items — same flat fields
ENVELOPE_SCHEMA_V2: dict = {
    **ENVELOPE_SCHEMA,
    "fields": [
        *[f for f in ENVELOPE_SCHEMA["fields"] if f["name"] != "meta"],
        {"name": "meta", "type": {"type": "array", "items": TRANSACTION_ID_V2_SCHEMA}},
    ],
}

#: GTID-mode message: adds the gtid key and metas become the UNION of both
#: transaction-id record kinds — the reference attaches log_transaction_id
#: in binlog-position mode and global_transaction_id in GTID mode
#: (util/transaction_id.py:22-68), so one reader schema must accept either.
GTID_ENVELOPE_SCHEMA: dict = {
    "type": "record",
    "name": "gtid_envelope",
    "namespace": "replication_handler",
    "fields": [
        *[f for f in ENVELOPE_SCHEMA["fields"] if f["name"] != "meta"],
        {"name": "gtid", "type": "string"},
        {
            "name": "meta",
            "type": {
                "type": "array",
                "items": [TRANSACTION_ID_SCHEMA, GLOBAL_TRANSACTION_ID_SCHEMA],
            },
        },
    ],
}


# ---------------------------------------------------------------------------
# encoding kernel (pure functions over python values)
# ---------------------------------------------------------------------------

def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def write_long(out: bytearray, n: int) -> None:
    n = _zigzag(n) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def read_long(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return _unzigzag(acc), pos
        shift += 7


def _branch_name(schema: Any) -> str:
    if isinstance(schema, str):
        return schema
    return schema["type"] if isinstance(schema, dict) else str(schema)


def encode_value(schema: Any, value: Any, out: bytearray) -> None:
    """Append ``value`` encoded per ``schema`` (Avro binary spec) to out."""
    if isinstance(schema, list):  # union: branch index then value
        if value is None and "null" in schema:
            write_long(out, schema.index("null"))
            return
        branches = [(i, b) for i, b in enumerate(schema) if _branch_name(b) != "null"]
        if len(branches) > 1:
            # multi-branch union (e.g. the two transaction-id record
            # kinds): select the record branch whose field names match
            # the value — the spec's resolution is by branch schema
            for i, b in branches:
                if (
                    isinstance(b, dict)
                    and b.get("type") == "record"
                    and isinstance(value, dict)
                    and {f["name"] for f in b["fields"]} == set(value.keys())
                ):
                    write_long(out, i)
                    encode_value(b, value, out)
                    return
            raise ValueError(f"no union branch matches {value!r} in {schema!r}")
        for i, branch in branches:
            write_long(out, i)
            encode_value(branch, value, out)
            return
        raise ValueError(f"no union branch for {value!r} in {schema!r}")
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            for field in schema["fields"]:
                encode_value(field["type"], value[field["name"]], out)
            return
        if t == "array":
            if value:
                write_long(out, len(value))
                for item in value:
                    encode_value(schema["items"], item, out)
            write_long(out, 0)
            return
        schema = t  # logical types ride on their base primitive
    if schema in ("long", "int"):
        write_long(out, value)
    elif schema == "double":
        out += struct.pack("<d", value)
    elif schema == "float":
        out += struct.pack("<f", value)
    elif schema == "string":
        raw = value.encode("utf-8")
        write_long(out, len(raw))
        out += raw
    elif schema == "bytes":
        write_long(out, len(value))
        out += value
    elif schema == "boolean":
        out.append(1 if value else 0)
    elif schema == "null":
        if value is not None:
            raise ValueError("non-null value for null schema")
    else:
        raise ValueError(f"unsupported avro type: {schema!r}")


def decode_value(schema: Any, buf: bytes, pos: int) -> tuple[Any, int]:
    """Read one ``schema``-typed value from ``buf`` at ``pos``."""
    if isinstance(schema, list):
        idx, pos = read_long(buf, pos)
        return decode_value(schema[idx], buf, pos)
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            rec = {}
            for field in schema["fields"]:
                rec[field["name"]], pos = decode_value(field["type"], buf, pos)
            return rec, pos
        if t == "array":
            items = []
            while True:
                count, pos = read_long(buf, pos)
                if count == 0:
                    return items, pos
                if count < 0:  # block with byte-size prefix (spec-legal)
                    count = -count
                    _, pos = read_long(buf, pos)
                for _ in range(count):
                    item, pos = decode_value(schema["items"], buf, pos)
                    items.append(item)
        schema = t
    if schema in ("long", "int"):
        return read_long(buf, pos)
    if schema == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if schema == "float":
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if schema == "string":
        n, pos = read_long(buf, pos)
        return buf[pos : pos + n].decode("utf-8"), pos + n
    if schema == "bytes":
        n, pos = read_long(buf, pos)
        return bytes(buf[pos : pos + n]), pos + n
    if schema == "boolean":
        return buf[pos] == 1, pos + 1
    if schema == "null":
        return None, pos
    raise ValueError(f"unsupported avro type: {schema!r}")


# ---------------------------------------------------------------------------
# compiled kernels: walk the schema ONCE into closures (the hot-loop form
# the Spark paths run; encode_value/decode_value stay as the spec-shaped
# reference implementation the tests compare against)
# ---------------------------------------------------------------------------

def compile_encoder(schema: Any):
    """schema -> f(value, out: bytearray), dispatch resolved at compile
    time instead of per value (≈2x on the envelope encode loop)."""
    if isinstance(schema, list):
        branches = [(i, b) for i, b in enumerate(schema) if _branch_name(b) != "null"]
        null_idx = schema.index("null") if "null" in schema else None
        if null_idx is not None and len(branches) == 1:
            idx, branch = branches[0]
            inner = compile_encoder(branch)

            def enc_opt(v, out, _n=null_idx, _i=idx, _inner=inner):
                if v is None:
                    write_long(out, _n)
                else:
                    write_long(out, _i)
                    _inner(v, out)

            return enc_opt

        compiled = [
            (i, frozenset(f["name"] for f in b["fields"]) if isinstance(b, dict) and b.get("type") == "record" else None, compile_encoder(b))
            for i, b in branches
        ]

        def enc_union(v, out, _n=null_idx, _c=compiled, _s=schema):
            if v is None and _n is not None:
                write_long(out, _n)
                return
            if len(_c) == 1:
                write_long(out, _c[0][0])
                _c[0][2](v, out)
                return
            keys = set(v.keys()) if isinstance(v, dict) else None
            for i, names, inner in _c:
                if names is not None and names == keys:
                    write_long(out, i)
                    inner(v, out)
                    return
            raise ValueError(f"no union branch matches {v!r} in {_s!r}")

        return enc_union
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            fields = [(f["name"], compile_encoder(f["type"])) for f in schema["fields"]]

            def enc_record(v, out, _f=fields):
                for name, inner in _f:
                    inner(v[name], out)

            return enc_record
        if t == "array":
            item = compile_encoder(schema["items"])

            def enc_array(v, out, _item=item):
                if v:
                    write_long(out, len(v))
                    for x in v:
                        _item(x, out)
                write_long(out, 0)

            return enc_array
        return compile_encoder(t)
    if schema in ("long", "int"):

        def enc_long(v, out):
            write_long(out, v)

        return enc_long
    if schema == "double":
        pack = struct.pack

        def enc_double(v, out, _p=pack):
            out += _p("<d", v)

        return enc_double
    if schema == "float":
        pack = struct.pack

        def enc_float(v, out, _p=pack):
            out += _p("<f", v)

        return enc_float
    if schema == "string":

        def enc_string(v, out):
            raw = v.encode("utf-8")
            write_long(out, len(raw))
            out += raw

        return enc_string
    if schema == "bytes":

        def enc_bytes(v, out):
            write_long(out, len(v))
            out += v

        return enc_bytes
    if schema == "boolean":
        return lambda v, out: out.append(1 if v else 0)
    if schema == "null":
        return lambda v, out: None
    raise ValueError(f"unsupported avro type: {schema!r}")


def compile_decoder(schema: Any):
    """schema -> f(buf, pos) -> (value, pos), mirror of compile_encoder."""
    if isinstance(schema, list):
        branches = [compile_decoder(b) for b in schema]

        def dec_union(buf, pos, _b=branches):
            idx, pos = read_long(buf, pos)
            return _b[idx](buf, pos)

        return dec_union
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            fields = [(f["name"], compile_decoder(f["type"])) for f in schema["fields"]]

            def dec_record(buf, pos, _f=fields):
                rec = {}
                for name, inner in _f:
                    rec[name], pos = inner(buf, pos)
                return rec, pos

            return dec_record
        if t == "array":
            item = compile_decoder(schema["items"])

            def dec_array(buf, pos, _item=item):
                items = []
                while True:
                    count, pos = read_long(buf, pos)
                    if count == 0:
                        return items, pos
                    if count < 0:
                        count = -count
                        _, pos = read_long(buf, pos)
                    for _ in range(count):
                        x, pos = _item(buf, pos)
                        items.append(x)

            return dec_array
        return compile_decoder(t)
    if schema in ("long", "int"):
        return read_long
    if schema == "double":
        unpack = struct.unpack_from

        def dec_double(buf, pos, _u=unpack):
            return _u("<d", buf, pos)[0], pos + 8

        return dec_double
    if schema == "float":
        unpack = struct.unpack_from

        def dec_float(buf, pos, _u=unpack):
            return _u("<f", buf, pos)[0], pos + 4

        return dec_float
    if schema == "string":

        def dec_string(buf, pos):
            n, pos = read_long(buf, pos)
            return buf[pos : pos + n].decode("utf-8"), pos + n

        return dec_string
    if schema == "bytes":

        def dec_bytes(buf, pos):
            n, pos = read_long(buf, pos)
            return bytes(buf[pos : pos + n]), pos + n

        return dec_bytes
    if schema == "boolean":
        return lambda buf, pos: (buf[pos] == 1, pos + 1)
    if schema == "null":
        return lambda buf, pos: (None, pos)
    raise ValueError(f"unsupported avro type: {schema!r}")


# ---------------------------------------------------------------------------
# registry -> Avro schema (the Schematizer's CREATE TABLE -> Avro role)
# ---------------------------------------------------------------------------

#: Spark simpleString -> Avro primitive
_SPARK_TO_AVRO = {
    "tinyint": "int",
    "smallint": "int",
    "int": "int",
    "bigint": "long",
    "float": "float",
    "double": "double",
    "boolean": "boolean",
    "string": "string",
    "binary": "bytes",
}


#: sentinel: the DEFAULT literal has no representable Avro-default value
#: (e.g. CURRENT_TIMESTAMP on a long-based logical type) — omit the default.
_NO_DEFAULT = object()


def _default_json(lit: str, avro_type: str):
    """Registry DEFAULT literal -> the Avro-default JSON value.

    MySQL allows expression defaults (CURRENT_TIMESTAMP and friends) whose
    value is not a constant of the column's Avro base type; those return
    ``_NO_DEFAULT`` so the caller omits the ``default`` key rather than
    crash coercing ``int('CURRENT_TIMESTAMP')``."""
    if lit.upper() == "NULL":
        return None
    if lit.startswith("'"):
        return lit[1:-1].replace("''", "'")
    try:
        if avro_type in ("int", "long"):
            return int(lit)
        if avro_type in ("float", "double"):
            return float(lit)
    except ValueError:
        return _NO_DEFAULT
    if avro_type == "boolean":
        return lit == "1" or lit.lower() == "true"
    return lit


def avro_schema_for_entry(entry) -> dict:
    """One SchemaEntry (schema/registry.py) -> the Avro record schema the
    reference's Schematizer would register for it
    (schema_wrapper.py:97-141 registers the CREATE/ALTER statements and
    gets back exactly this kind of record — see the expected avro schema
    in acceptance/complex_statements.feature). Nullable columns become
    unions; a column's tracked DEFAULT literal becomes the Avro default,
    with branch order chosen so the default matches the first branch as
    the spec requires (null default -> ["null", T]; typed default ->
    [T, "null"])."""
    fields = []
    for f in entry.struct.fields:
        base = _SPARK_TO_AVRO.get(f.dataType.simpleString())
        if base is None:
            # timestamps and anything exotic ride as logical-typed longs
            base = {"type": "long", "logicalType": "timestamp-micros"}
        field: dict = {"name": f.name}
        lit = entry.defaults.get(f.name)
        if f.nullable:
            default = None if lit is None else _default_json(lit, _type_name(base))
            if default is None or default is _NO_DEFAULT:
                field["type"] = ["null", base]
                if default is None:
                    field["default"] = None
            else:
                field["type"] = [base, "null"]
                field["default"] = default
        else:
            field["type"] = base
            if lit is not None:
                default = _default_json(lit, _type_name(base))
                if default is not _NO_DEFAULT:
                    field["default"] = default
        fields.append(field)
    return {
        "type": "record",
        "name": entry.table,
        "namespace": f"replication_handler.{entry.database}",
        "fields": fields,
    }


# ---------------------------------------------------------------------------
# schema resolution (reader-schema evolution, per the spec's rules)
# ---------------------------------------------------------------------------

#: spec-legal primitive promotions writer -> reader
_PROMOTIONS = {
    ("int", "long"): int,
    ("int", "float"): float,
    ("int", "double"): float,
    ("long", "float"): float,
    ("long", "double"): float,
    ("float", "double"): float,
}


def _type_name(schema: Any) -> str:
    if isinstance(schema, str):
        return schema
    if isinstance(schema, list):
        return "union"
    return schema["type"]


def decode_resolved(writer: Any, reader: Any, buf: bytes, pos: int) -> tuple[Any, int]:
    """Decode bytes written with ``writer`` as ``reader`` sees them — the
    spec's schema-resolution rules, the runtime half of the registry's
    compatibility classification (schema_registry_compat decides whether
    this call CAN succeed; this call is what consumers then run):

    - reader fields missing from the writer take their ``default``;
    - writer fields missing from the reader are decoded and discarded;
    - primitive promotions (int->long->float->double) apply;
    - unions resolve recursively against the writer's actual branch.
    """
    if isinstance(writer, list):  # writer union: branch then resolve
        idx, pos = read_long(buf, pos)
        return decode_resolved(writer[idx], reader, buf, pos)
    if isinstance(reader, list):  # reader union: first matching branch
        for branch in reader:
            try:
                return decode_resolved(writer, branch, buf, pos)
            except _Unresolvable:
                continue
        raise _Unresolvable(f"no reader branch for writer {writer!r}")
    wt, rt = _type_name(writer), _type_name(reader)
    if wt == "record" and rt == "record":
        w_fields = writer["fields"]
        r_by_name = {f["name"]: f for f in reader["fields"]}
        rec: dict = {}
        for wf in w_fields:
            rf = r_by_name.get(wf["name"])
            if rf is None:  # removed in reader: decode and discard
                _, pos = decode_value(wf["type"], buf, pos)
                continue
            # matched field: resolve writer-typed bytes AS the reader's
            # type (promotions + nested record/union resolution apply)
            rec[wf["name"]], pos = decode_resolved(wf["type"], rf["type"], buf, pos)
        w_names = {f["name"] for f in w_fields}
        for rf in reader["fields"]:
            if rf["name"] not in w_names:
                if "default" not in rf:
                    raise _Unresolvable(f"reader field {rf['name']!r} has no default")
                rec[rf["name"]] = rf["default"]
        return rec, pos
    if wt == "array" and rt == "array":
        items = []
        while True:
            count, pos = read_long(buf, pos)
            if count == 0:
                return items, pos
            if count < 0:
                count = -count
                _, pos = read_long(buf, pos)
            for _ in range(count):
                item, pos = decode_resolved(writer["items"], reader["items"], buf, pos)
                items.append(item)
    if wt == rt:
        return decode_value(writer, buf, pos)
    promote = _PROMOTIONS.get((wt, rt))
    if promote is not None:
        val, pos = decode_value(writer, buf, pos)
        return promote(val), pos
    raise _Unresolvable(f"cannot resolve writer {wt!r} as reader {rt!r}")


class _Unresolvable(ValueError):
    pass


# ---------------------------------------------------------------------------
# Spark integration: the envelope's wire layout and the one driver pair
# ---------------------------------------------------------------------------

#: Avro primitive -> the Arrow type (alias) its decoded column carries
_ARROW_ALIAS = {
    "int": "int32",
    "long": "int64",
    "float": "float",
    "double": "double",
    "string": "string",
    "bytes": "binary",
    "boolean": "bool",
}


def _select_envelope_schema(gtid_mode: bool, meta_version: int) -> dict:
    if gtid_mode:
        if meta_version != 1:
            raise ValueError("gtid meta has no v2; meta_version applies to binlog mode")
        return GTID_ENVELOPE_SCHEMA
    if meta_version == 1:
        return ENVELOPE_SCHEMA
    if meta_version == 2:
        return ENVELOPE_SCHEMA_V2
    raise ValueError(f"unknown meta_version {meta_version}")


def _flat_names(record: dict) -> list[str]:
    """A message record's columns in schema order, minus the derived
    ``meta`` array."""
    return [f["name"] for f in record["fields"] if f["name"] != "meta"]


def _meta_for_row(row: dict, meta_version: int) -> list[dict]:
    """The transaction-id meta array of one envelope row — every encoder's
    and the decoders' ``meta_ok`` witness's. A GTID-mode row (one carrying
    ``gtid``) gets the global_transaction_id record; otherwise v1
    range-checks log_pos against the schema's 32-bit int (a 64-bit position
    would encode as a varint spec-strict int decoders reject); v2 carries
    long."""
    if "gtid" in row:
        return [{"cluster_name": row["cluster_name"], "gtid": row["gtid"]}]
    log_pos = int(row["log_pos"] or 0)
    if meta_version == 1 and not -(2**31) <= log_pos < 2**31:
        raise ValueError(
            f"log_pos {log_pos} exceeds the v1 meta schema's 32-bit int "
            "range; encode with meta_version=2 (long-typed meta schema)"
        )
    return [
        {
            "cluster_name": row["cluster_name"],
            "log_file": row["log_file"] or "",
            "log_pos": log_pos,
        }
    ]


def _flat_frame(df, names: list[str], *more):
    """The encode driver's input: the ``names`` columns of ``df``, with
    ``timestamp`` as exact int64 micros (the timestamp-micros logical type's
    base encoding, converted JVM-side so no float roundtrip), then the
    ``more`` columns."""
    from pyspark.sql import functions as F

    return df.select(
        *[
            F.unix_micros(F.col(c)).alias(c) if c == "timestamp" else F.col(c)
            for c in names
        ],
        *more,
    )


def _encode_map(flat, encode_row, keys: tuple[str, ...] = ()):
    """The one encode driver: flat frame -> one ``value: binary`` message per
    row, ``encode_row(row, out)`` appending a row's message to ``out`` (the
    compile_encoder convention). The ``keys`` columns of the frame ride
    alongside, ahead of ``value``. Arrow batch in, Python encode loop,
    Arrow batch out — map-side only, no shuffle."""
    import pyarrow as pa
    from pyspark.sql.types import BinaryType, StructField, StructType

    def encode_batches(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            out = []
            for row in batch.to_pylist():
                buf = bytearray()
                encode_row(row, buf)
                out.append(bytes(buf))
            yield pa.RecordBatch.from_arrays(
                [*(batch.column(k) for k in keys), pa.array(out, pa.binary())],
                [*keys, "value"],
            )

    schema = StructType(
        [StructField(k, flat.schema[k].dataType) for k in keys]
        + [StructField("value", BinaryType())]
    )
    return flat.mapInArrow(encode_batches, schema)


def _encode_envelopes(df, record: dict, meta_version: int):
    """Envelope rows -> Avro messages of ``record``, each carrying the meta
    array _meta_for_row derives from its position columns."""
    enc = compile_encoder(record)

    def encode_row(row: dict, out: bytearray) -> None:
        row["meta"] = _meta_for_row(row, meta_version)
        enc(row, out)

    return _encode_map(_flat_frame(df, _flat_names(record)), encode_row)


def _decode_frame(dec, raw: bytes, pos: int = 0) -> dict:
    """The one record ``dec`` reads from ``raw`` at ``pos``; a frame holds
    exactly one record, so bytes left after it are an error."""
    rec, end = dec(raw, pos)
    if end != len(raw):
        raise ValueError("trailing bytes after avro record")
    return rec


def _record_fields(record: dict) -> list:
    """The Arrow output columns of records decoded against ``record``: its
    fields in schema order, ``meta`` dropped (the ``meta_ok`` witness
    stands for it) and ``timestamp`` as ``ts_us`` int64 micros."""
    import pyarrow as pa

    fields = []
    for f in record["fields"]:
        name, t = f["name"], f["type"]
        if name == "meta":
            continue
        if isinstance(t, list):  # nullable: ["null", T]
            t = next(b for b in t if b != "null")
        fields.append(
            pa.field(
                "ts_us" if name == "timestamp" else name,
                pa.type_for_alias(_ARROW_ALIAS[_type_name(t)]),
            )
        )
    return fields


def _decode_map(wire, fields: list, records):
    """The one decode driver: ``records(*cells)`` turns one input row (its
    cells in column order: a frame or an OCF blob, plus any message key)
    into decoded output rows, dicts keyed by the names of the Arrow
    ``fields`` — one for a frame, many for an OCF blob. The Spark schema is
    derived from ``fields``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema

    schema = pa.schema(fields)

    def decode_batches(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            cols: dict[str, list] = {name: [] for name in schema.names}
            for cells in zip(*(c.to_pylist() for c in batch.columns)):
                for rec in records(*cells):
                    for k, v in rec.items():
                        cols[k].append(v)
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[f.name], f.type) for f in schema], schema=schema
            )

    return wire.mapInArrow(decode_batches, from_arrow_schema(schema))


def _decode_envelopes(wire, record: dict, records, extra=()):
    """Envelope decode over _decode_map: each record ``records(raw)`` yields
    becomes ``record``'s columns (_record_fields), the ``meta_ok`` witness
    (does the decoded meta array equal the one the encoder derives from the
    decoded position columns — the array-of-record path's own roundtrip
    witness), then the ``extra`` Arrow columns its records carry."""
    import pyarrow as pa

    def rows(raw):
        for rec in records(raw):
            # v2: a decoded position is compared, never range-checked
            rec["meta_ok"] = rec.pop("meta") == _meta_for_row(rec, 2)
            rec["ts_us"] = rec.pop("timestamp")
            yield rec

    fields = [*_record_fields(record), pa.field("meta_ok", pa.bool_()), *extra]
    return _decode_map(wire, fields, rows)


def envelope_to_avro(env, gtid_mode: bool = False, meta_version: int = 1):
    """Envelope DataFrame -> one ``value: binary`` column of Avro-encoded
    messages (the record count preserved 1:1), map-side only.

    ``gtid_mode`` mirrors the reference's two transaction-id kinds: the
    input must carry a ``gtid`` column, and the meta array encodes the
    global_transaction_id record through the UNION branch.

    ``meta_version=2`` publishes the long-typed transaction-id meta
    (TRANSACTION_ID_V2_SCHEMA) — required once binlog positions exceed 32
    bits; v1 fails loudly on such positions rather than emit varints
    spec-strict int decoders reject."""
    schema = _select_envelope_schema(gtid_mode, meta_version)
    return _encode_envelopes(env, schema, meta_version)


def avro_to_envelope(wire, gtid_mode: bool = False, meta_version: int = 1):
    """Inverse of envelope_to_avro: binary messages -> the flat envelope
    columns (``timestamp`` as ``ts_us``) plus ``meta_ok``; in gtid_mode the
    witness checks the decoded global_transaction_id union branch.

    ``meta_version`` must match the writer's (consumers reading ACROSS
    versions go through decode_resolved, which applies the spec's
    int->long promotion for v1 data under a v2 reader)."""
    schema = _select_envelope_schema(gtid_mode, meta_version)
    dec = compile_decoder(schema)
    return _decode_envelopes(wire, schema, lambda raw: (_decode_frame(dec, raw),))


# ---------------------------------------------------------------------------
# secure envelope: the encrypted-publish wire format (encryption + Avro)
# ---------------------------------------------------------------------------

#: flat (non-payload) envelope fields shared with the plaintext schema
_SECURE_FLAT = [
    f
    for f in ENVELOPE_SCHEMA["fields"]
    if f["name"]
    not in ("pk", "payload_k", "payload_val", "previous_payload_val", "meta")
]

#: The message layout the reference actually ships when
#: ``encryption_type`` is configured: routing/position fields plaintext
#: (partition routing must work without the key), payloads as AES-CBC
#: ciphertext with the IV and encryption_type carried in the message
#: (end_to_end_test.py:551-600's behavioral contract; the ciphertext
#: columns come from cdc/encryption.py).
SECURE_ENVELOPE_SCHEMA: dict = {
    "type": "record",
    "name": "secure_envelope",
    "namespace": "replication_handler",
    "fields": [
        *_SECURE_FLAT,
        {"name": "encryption_type", "type": "string"},
        {"name": "initialization_vector", "type": "bytes"},
        {"name": "payload_ciphertext", "type": ["null", "bytes"]},
        {"name": "previous_payload_ciphertext", "type": ["null", "bytes"]},
        {"name": "meta", "type": {"type": "array", "items": TRANSACTION_ID_SCHEMA}},
    ],
}


def secure_envelope_to_avro(published):
    """Encrypted envelope (cdc/encryption.py's published form) -> Avro
    binary messages, the same encode driver as envelope_to_avro; the
    ciphertext columns ride the spec's ``bytes`` framing."""
    return _encode_envelopes(published, SECURE_ENVELOPE_SCHEMA, meta_version=1)


def avro_to_secure_envelope(wire):
    """Inverse of secure_envelope_to_avro: binary messages back to the
    encrypted-envelope columns (plus ``meta_ok``), ready for
    cdc/encryption.py's decrypt_envelope."""
    dec = compile_decoder(SECURE_ENVELOPE_SCHEMA)
    return _decode_envelopes(
        wire, SECURE_ENVELOPE_SCHEMA, lambda raw: (_decode_frame(dec, raw),)
    )


# ---------------------------------------------------------------------------
# Confluent wire framing: magic byte + registry schema id ahead of the body
# ---------------------------------------------------------------------------

#: The standard Confluent Schema Registry wire format: one 0x00 magic byte,
#: then the registered schema id as a 4-byte big-endian int, then the Avro
#: binary body. This is the public-tech equivalent of the reference's
#: Schematizer integration (components/schema_wrapper.py:97-141): the
#: producer registers a schema, gets an authoritative id back, and FRAMES
#: every published message with that id so any ecosystem consumer can
#: resolve the writer schema from the header alone.
CONFLUENT_MAGIC = 0x00

#: registry id -> meta_version of the envelope writer schema it names.
#: Two generations are registered: 1001 is the original int-positioned
#: v1 meta envelope, 1002 the long-positioned v2 — the registry's own
#: schema-evolution pair, so a header-routed decode exercises real
#: cross-version resolution (int->long promotion under the v2 reader).
CONFLUENT_ENVELOPE_IDS: dict[int, int] = {1001: 1, 1002: 2}


def _confluent_header(sid: int) -> bytes:
    return bytes([CONFLUENT_MAGIC]) + sid.to_bytes(4, "big")


def envelope_to_confluent(env):
    """Envelope DataFrame (+ an int ``wire_schema_id`` naming the registered
    writer schema per row, keys of CONFLUENT_ENVELOPE_IDS) -> one
    ``value: binary`` column of Confluent-framed messages: magic 0x00 +
    big-endian schema id + Avro body encoded with THAT id's writer schema.

    Scale shape: map-only over the envelope partitioning — no shuffle, the
    5-byte header is a constant prepend. Rows whose id routes to the v1
    (int-positioned) schema are range-checked exactly like
    envelope_to_avro's v1 path."""
    from pyspark.sql import functions as F

    encoders = {
        sid: (
            _confluent_header(sid),
            compile_encoder(_select_envelope_schema(False, mv)),
            mv,
        )
        for sid, mv in CONFLUENT_ENVELOPE_IDS.items()
    }

    def encode_row(row: dict, out: bytearray) -> None:
        sid = row["wire_schema_id"]
        try:
            head, enc, mv = encoders[sid]
        except KeyError:
            raise ValueError(
                f"wire schema id {sid!r} is not registered "
                f"(known: {sorted(encoders)})"
            ) from None
        row["meta"] = _meta_for_row(row, mv)
        out += head
        enc(row, out)

    flat = _flat_frame(
        env,
        _flat_names(ENVELOPE_SCHEMA),
        F.col("wire_schema_id").cast("int").alias("wire_schema_id"),
    )
    return _encode_map(flat, encode_row)


def confluent_to_envelope(wire):
    """Inverse of envelope_to_confluent — the standard-consumer path: parse
    the 5-byte header, resolve the WRITER schema from the registry by the
    framed id, and decode the body against the consumer's own v2 READER
    schema via the spec's schema-resolution rules (decode_resolved), so
    v1-written int positions surface as the v2 reader's longs.

    Output: the flat envelope columns, the usual ``meta_ok`` witness, then
    ``wire_schema_id`` (from the header) and ``header_ok`` (magic byte
    correct and id registered — a non-Confluent or unknown-schema message
    fails loudly rather than decode garbage)."""
    import pyarrow as pa

    reader = ENVELOPE_SCHEMA_V2  # its long log_pos reads every writer's
    decoders = {}
    for sid, mv in CONFLUENT_ENVELOPE_IDS.items():
        writer = _select_envelope_schema(False, mv)
        decoders[sid] = (
            compile_decoder(reader)
            if writer == reader
            else partial(decode_resolved, writer, reader)
        )

    def records(raw):
        if len(raw) < 5:
            raise ValueError("message shorter than the Confluent header")
        magic = raw[0]
        sid = int.from_bytes(raw[1:5], "big")
        if magic != CONFLUENT_MAGIC or sid not in decoders:
            raise ValueError(f"bad Confluent header: magic={magic} schema_id={sid}")
        rec = _decode_frame(decoders[sid], raw, 5)
        rec["wire_schema_id"] = sid
        rec["header_ok"] = True
        return (rec,)

    extra = [pa.field("wire_schema_id", pa.int32()), pa.field("header_ok", pa.bool_())]
    return _decode_envelopes(wire, reader, records, extra)


# ---------------------------------------------------------------------------
# per-TABLE payload publish: the reference's actual Schematizer model — each
# table's registry entry IS the writer schema; messages frame its id
# ---------------------------------------------------------------------------


def registry_payload_schemas() -> dict[int, dict]:
    """schema_id -> the per-table Avro writer schema, for EVERY version the
    registry ever issued (consumers must resolve any id that was ever
    published) — the broadcastable codec half of the T1 schema cache."""
    from mysql_streamer_spark.schema.bootstrap import bootstrap_registry

    reg = bootstrap_registry()
    out: dict[int, dict] = {}
    for db, table in reg.tables():
        for e in reg.history(db, table):
            out[e.schema_id] = avro_schema_for_entry(e)
    return out


#: envelope payload columns -> registry column names (the fixture's tables
#: are all CREATE TABLE (pk, k, val, ...); evolution columns have no
#: envelope value and publish as their null branch)
_PAYLOAD_FIELD_MAP = {"pk": "pk", "k": "payload_k", "val": "payload_val"}


def payload_to_confluent(env):
    """Envelope -> Confluent-framed PER-TABLE payload messages: each row's
    payload is encoded with ITS OWN table's registered schema (selected by
    the envelope's schema_id — the reference's message_builder encodes
    payload_data against exactly the schema the Schematizer returned,
    util/message_builder.py:51-78 + schema_wrapper.py:97-141) and framed
    magic + big-endian id. ``txn_order`` rides alongside as the plaintext
    message key. Rows with no registered schema (the rename cache-reset
    window) cannot be published by a strict producer and are filtered,
    exactly like the reference blocking on registration.

    Scale shape: map-only over the envelope partitioning; one encoder per
    registered schema, compiled once and shipped with the task."""
    from pyspark.sql import functions as F

    encoders = {
        sid: (
            _confluent_header(sid),
            compile_encoder(schema),
            [f["name"] for f in schema["fields"]],
        )
        for sid, schema in registry_payload_schemas().items()
    }

    def encode_row(row: dict, out: bytearray) -> None:
        head, enc, names = encoders[row["schema_id"]]
        out += head
        enc(
            {name: row.get(_PAYLOAD_FIELD_MAP.get(name, "\x00missing")) for name in names},
            out,
        )

    flat = env.filter(F.col("schema_id").isNotNull()).select(
        "schema_id", "txn_order", "pk", "payload_k", "payload_val"
    )
    return _encode_map(flat, encode_row, keys=("txn_order",))


def confluent_payload_decode(
    wire, resolve_to_latest: bool = False, on_error: str = "raise"
):
    """Standard consumer for per-table payload messages: resolve the writer
    schema BY THE FRAMED ID from the registry, decode, and recover the
    table IDENTITY from the schema itself (record name + namespace carry
    db.table — nothing but the header names the table), plus the payload
    columns. A hash match against the envelope oracle therefore proves id
    -> schema -> identity -> values, end to end.

    ``resolve_to_latest`` makes it the EVOLVED consumer: bytes written
    with any historical version of a table decode under that table's
    LATEST registered schema via the spec's resolution rules (type
    promotions like view.k int->long apply; columns added later fill
    their defaults) — what a reader deployed against the current schema
    does when old-position messages replay.

    ``on_error``: ``'raise'`` (default) fails the job on the first
    undecodable frame — the reference's crash-the-loop behavior;
    ``'dlq'`` routes poison pills to a dead-letter column instead: the
    row survives with ``ok=false``, ``error_kind`` set, the plaintext
    key intact for reconciliation, and NULL identity/payload — so one
    corrupt message cannot take down a 100 TB backfill."""
    import pyarrow as pa

    from mysql_streamer_spark.schema.bootstrap import bootstrap_registry

    if on_error not in ("raise", "dlq"):
        raise ValueError(f"on_error must be 'raise' or 'dlq', got {on_error!r}")
    dlq = on_error == "dlq"

    fields = [
        pa.field("schema_id", pa.int32()),
        pa.field("database_name", pa.string()),
        pa.field("table_name", pa.string()),
        pa.field("txn_order", pa.int64()),
        pa.field("pk", pa.int64()),
        pa.field("payload_k", pa.int32()),
        pa.field("payload_val", pa.float64()),
        pa.field("header_ok", pa.bool_()),
    ] + ([pa.field("error_kind", pa.string())] if dlq else [])

    schemas = registry_payload_schemas()
    latest_sid: dict[tuple[str, str], int] = {}
    if resolve_to_latest:
        reg = bootstrap_registry()
        for db, table in reg.tables():
            latest_sid[(db, table)] = reg.get(db, table).schema_id
    decoders: dict[int, tuple] = {}
    for sid, schema in schemas.items():
        db = schema["namespace"].rsplit(".", 1)[-1]
        table = schema["name"]
        reader_id = latest_sid.get((db, table), sid)
        if reader_id == sid:
            dec = compile_decoder(schema)
        else:
            dec = partial(decode_resolved, schema, schemas[reader_id])
        decoders[sid] = (dec, db, table)

    def classify(raw):
        """(sid, db, table, rec) or raises ValueError with a stable
        error-kind prefix the DLQ column records."""
        # NULL / non-binary cells are poison pills too: without this
        # guard they'd raise TypeError past the ValueError net below
        # and crash the job in the exact mode DLQ promises to absorb.
        if raw is None or len(raw) < 5 or raw[0] != CONFLUENT_MAGIC:
            raise ValueError("bad_header")
        sid = int.from_bytes(raw[1:5], "big")
        if sid not in decoders:
            raise ValueError("unregistered_schema")
        dec, db, table = decoders[sid]
        try:
            rec = _decode_frame(dec, raw, 5)
        except Exception:
            raise ValueError("corrupt_body") from None
        return sid, db, table, rec

    def records(key, raw):
        try:
            sid, db, table, rec = classify(raw)
        except ValueError as ex:
            if not dlq:
                raise ValueError(
                    f"{ex} (txn_order={key}); rerun with "
                    "on_error='dlq' to route instead of fail"
                ) from None
            dead = dict.fromkeys(f.name for f in fields)
            dead.update(txn_order=key, header_ok=False, error_kind=str(ex))
            return (dead,)
        k = rec.get("k")
        row = {
            "schema_id": sid,
            "database_name": db,
            "table_name": table,
            "txn_order": key,
            "pk": rec["pk"],
            "payload_k": None if k is None else int(k),
            "payload_val": rec.get("val"),
            "header_ok": True,
        }
        if dlq:
            row["error_kind"] = None
        return (row,)

    return _decode_map(wire, fields, records)


def canonical_value(schema: Any):
    """A deterministic NON-NULL exemplar of ``schema`` — used to probe
    runtime resolvability (a union field must carry its value branch:
    testing with nulls would let an incompatible type change slip through
    the null branch)."""
    if isinstance(schema, list):
        branch = next(b for b in schema if _branch_name(b) != "null")
        return canonical_value(branch)
    t = _type_name(schema)
    if t == "record":
        return {f["name"]: canonical_value(f["type"]) for f in schema["fields"]}
    if t == "array":
        return [canonical_value(schema["items"])]
    return {
        "int": 1,
        "long": 1,
        "float": 1.5,
        "double": 1.5,
        "string": "x",
        "bytes": b"x",
        "boolean": True,
    }[t]


def schemas_resolvable(writer: Any, reader: Any) -> bool:
    """Can ``reader`` decode bytes actually WRITTEN with ``writer``? Probed
    at runtime: encode a canonical non-null record under the writer and
    attempt decode_resolved under the reader — the operational definition
    of compatibility (the same call consumers run), not a field-list
    heuristic."""
    enc = compile_encoder(writer)
    buf = bytearray()
    enc(canonical_value(writer), buf)
    try:
        _, end = decode_resolved(writer, reader, bytes(buf), 0)
    except (ValueError, KeyError, IndexError):
        return False
    return end == len(buf)
