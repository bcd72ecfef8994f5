"""Differential test of the in-house Avro kernel (connectors/avro_wire.py)
against the REFERENCE Apache Avro Java implementation (avro-1.12.1.jar,
bundled with Spark core and reachable over py4j).

VERDICT r4 item 3: the spec byte-vector tests pin primitives and the
roundtrip queries prove encode∘decode == id, but both sides of a roundtrip
share this repo's code — a compound framing bug (wrong union branch index,
array block shape, field order) could cancel itself out. Here the partner
is an independent implementation: property-generated (schema, value) pairs
are encoded by BOTH the in-house kernel and Java's GenericDatumWriter (fed
through the Avro JSON encoding, so no Python code touches the Java bytes)
and must agree BYTE-FOR-BYTE; the Java bytes are then decoded by the
in-house decoder and must reproduce the value exactly. The per-table
payload publish's numpy batch kernel is held to both partners: its frames
equal the compile_encoder row path's and Java's."""

from __future__ import annotations

import json
import math
import struct

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


# --- Java-side reference codec (via the Spark JVM) ------------------------

def _java_encode(
    spark, schema_json: str, avro_json_value: str, doubles: dict | None = None
) -> bytes:
    """Avro-JSON -> binary, entirely inside the Apache Avro Java library:
    jsonDecoder parses the canonical JSON form, GenericDatumWriter +
    directBinaryEncoder emit the binary encoding. ``doubles`` are top-level
    fields put into the parsed record afterwards as Java doubles: JSON has
    no NaN or infinity."""
    jvm = spark._jvm
    schema = jvm.org.apache.avro.Schema.Parser().parse(schema_json)
    decoder = jvm.org.apache.avro.io.DecoderFactory.get().jsonDecoder(
        schema, avro_json_value
    )
    reader = jvm.org.apache.avro.generic.GenericDatumReader(schema)
    rec = reader.read(None, decoder)
    for name, value in (doubles or {}).items():
        rec.put(name, value)
    baos = jvm.java.io.ByteArrayOutputStream()
    enc = jvm.org.apache.avro.io.EncoderFactory.get().directBinaryEncoder(
        baos, None
    )
    writer = jvm.org.apache.avro.generic.GenericDatumWriter(schema)
    writer.write(rec, enc)
    enc.flush()
    return bytes(baos.toByteArray())


def _branch_key(branch) -> str:
    """JSON union wrapper key: primitive name, or fullname for records."""
    if isinstance(branch, str):
        return branch
    if branch.get("type") == "record":
        ns = branch.get("namespace")
        return f"{ns}.{branch['name']}" if ns else branch["name"]
    return branch["type"]  # logical types wrap under their base name


def _to_avro_json(schema, value):
    """Python value -> the Avro JSON encoding jsonDecoder expects
    (union wrapping, bytes as ISO-8859-1 strings)."""
    if isinstance(schema, list):
        if value is None:
            return None
        branches = [b for b in schema if b != "null"]
        if len(branches) > 1 and isinstance(value, dict):
            # multi-record union: pick the branch whose field names match
            branches = [
                b
                for b in branches
                if isinstance(b, dict)
                and {f["name"] for f in b.get("fields", ())} == set(value)
            ]
        b = branches[0]
        return {_branch_key(b): _to_avro_json(b, value)}
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            return {
                f["name"]: _to_avro_json(f["type"], value[f["name"]])
                for f in schema["fields"]
            }
        if t == "array":
            return [_to_avro_json(schema["items"], v) for v in value]
        schema = t
    if schema == "bytes":
        return bytes(value).decode("latin-1")
    return value


# --- (schema, value) generator -------------------------------------------

_PRIMS = ("boolean", "int", "long", "float", "double", "string", "bytes")


def _value_strategy(prim: str):
    return {
        "boolean": st.booleans(),
        "int": st.integers(-(2**31), 2**31 - 1),
        "long": st.integers(-(2**63), 2**63 - 1),
        # width-exact, finite (NaN/inf are unrepresentable in JSON)
        "float": st.floats(width=32, allow_nan=False, allow_infinity=False),
        "double": st.floats(allow_nan=False, allow_infinity=False),
        "string": st.text(max_size=24),
        "bytes": st.binary(max_size=24),
    }[prim]


@st.composite
def _schema_and_value(draw, depth: int = 0):
    """One random record schema plus one conforming value."""
    n_fields = draw(st.integers(1, 4))
    fields, value = [], {}
    for i in range(n_fields):
        kind = draw(
            st.sampled_from(
                ["prim", "nullable", "array"] + (["record"] if depth == 0 else [])
            )
        )
        name = f"f{depth}_{i}"
        if kind == "prim":
            prim = draw(st.sampled_from(_PRIMS))
            ftype, fval = prim, draw(_value_strategy(prim))
        elif kind == "nullable":
            prim = draw(st.sampled_from(_PRIMS))
            ftype = ["null", prim]
            fval = draw(st.none() | _value_strategy(prim))
        elif kind == "array":
            prim = draw(st.sampled_from(_PRIMS))
            ftype = {"type": "array", "items": prim}
            fval = draw(st.lists(_value_strategy(prim), max_size=5))
        else:
            sub_schema, sub_value = draw(_schema_and_value(depth=depth + 1))
            sub_schema = dict(sub_schema, name=f"rec{depth}_{i}")
            ftype, fval = sub_schema, sub_value
        fields.append({"name": name, "type": ftype})
        value[name] = fval
    return {"type": "record", "name": f"root{depth}", "fields": fields}, value


def _narrow_floats(schema, value):
    """What the kernel's decode must return: float fields narrow to their
    float32 value (both implementations store 4 bytes)."""
    if isinstance(schema, list):
        if value is None:
            return None
        for b in schema:
            if b != "null":
                return _narrow_floats(b, value)
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            return {
                f["name"]: _narrow_floats(f["type"], value[f["name"]])
                for f in schema["fields"]
            }
        if t == "array":
            return [_narrow_floats(schema["items"], v) for v in value]
        schema = t
    if schema == "float":
        return struct.unpack("<f", struct.pack("<f", value))[0]
    return value


# --- the differential properties ------------------------------------------

@settings(
    max_examples=80,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_schema_and_value())
def test_kernel_encoding_is_byte_identical_to_java(spark, sv):
    from mysql_streamer_spark.connectors.avro_wire import (
        compile_decoder,
        compile_encoder,
    )

    schema, value = sv
    out = bytearray()
    compile_encoder(schema)(value, out)
    mine = bytes(out)

    avro_json = json.dumps(_to_avro_json(schema, value))
    theirs = _java_encode(spark, json.dumps(schema), avro_json)
    assert mine == theirs, (
        f"byte mismatch for schema={schema} value={value}: "
        f"mine={mine.hex()} java={theirs.hex()}"
    )

    # and the kernel decodes the JAVA bytes back to the exact value
    got, end = compile_decoder(schema)(theirs, 0)
    assert end == len(theirs)
    expected = _narrow_floats(schema, value)
    assert got == expected or _eq_mod_negzero(got, expected)


def _eq_mod_negzero(a, b):
    """dict equality that treats -0.0 == 0.0 the way == already does but
    survives nested NaN-free structures; kept for clarity of intent."""
    return a == b


def test_envelope_schema_encoding_matches_java(spark):
    """The production envelope schema, concrete row, byte-exact vs Java —
    ties the property above to the schema the engine actually publishes."""
    from mysql_streamer_spark.connectors.avro_wire import (
        ENVELOPE_SCHEMA,
        compile_encoder,
    )

    row = {
        "schema_id": 7,
        "cluster_name": "refresh_primary",
        "database_name": "yelp",
        "table_name": "business",
        "message_type": "update",
        "timestamp": 1704067200123456,
        "log_file": "binlog.000007",
        "log_pos": 119,
        "offset": 3,
        "txn_order": 987654321,
        "pk": 42,
        "payload_k": 5,
        "payload_val": 1234.5625,
        "previous_payload_val": None,
        "meta": [
            {
                "cluster_name": "refresh_primary",
                "log_file": "binlog.000007",
                "log_pos": 119,
            }
        ],
    }
    out = bytearray()
    compile_encoder(ENVELOPE_SCHEMA)(row, out)
    avro_json = json.dumps(_to_avro_json(ENVELOPE_SCHEMA, row))
    theirs = _java_encode(spark, json.dumps(ENVELOPE_SCHEMA), avro_json)
    assert bytes(out) == theirs


def test_kernel_path_taken_when_jvm_unavailable(spark, sf_dir):
    """With the guard False, envelope_to_avro must produce the Python
    kernel plan (mapInArrow), not a broken reference to to_avro."""
    from mysql_streamer_spark.cdc.pipeline import envelope_pipeline
    from mysql_streamer_spark.connectors.avro_wire import envelope_to_avro

    wire = envelope_to_avro(envelope_pipeline(spark, sf_dir))
    assert "MapInArrow" in wire._jdf.queryExecution().executedPlan().toString()


def test_v2_envelope_encoding_matches_java(spark):
    """The long-typed v2 meta schema, with a beyond-int32 position,
    byte-exact vs the Java implementation."""
    from mysql_streamer_spark.connectors.avro_wire import (
        ENVELOPE_SCHEMA_V2,
        compile_encoder,
    )

    row = {
        "schema_id": None,
        "cluster_name": "c",
        "database_name": "db",
        "table_name": "t",
        "message_type": "insert",
        "timestamp": 1704067200000000,
        "log_file": "binlog.000001",
        "log_pos": 2**40 + 123,
        "offset": 0,
        "txn_order": 1,
        "pk": 1,
        "payload_k": None,
        "payload_val": None,
        "previous_payload_val": None,
        "meta": [
            {
                "cluster_name": "c",
                "log_file": "binlog.000001",
                "log_pos": 2**40 + 123,
            }
        ],
    }
    out = bytearray()
    compile_encoder(ENVELOPE_SCHEMA_V2)(row, out)
    avro_json = json.dumps(_to_avro_json(ENVELOPE_SCHEMA_V2, row))
    theirs = _java_encode(spark, json.dumps(ENVELOPE_SCHEMA_V2), avro_json)
    assert bytes(out) == theirs


def test_secure_envelope_encoding_matches_java(spark):
    """The encrypted-publish wire schema (ciphertext as Avro bytes, IV +
    encryption_type in the message) byte-exact vs Java — including a null
    previous-payload union branch and non-UTF8 ciphertext bytes."""
    from mysql_streamer_spark.connectors.avro_wire import (
        SECURE_ENVELOPE_SCHEMA,
        compile_encoder,
    )

    row = {
        "schema_id": 3,
        "cluster_name": "refresh_primary",
        "database_name": "yelp",
        "table_name": "secret_table",
        "message_type": "create",
        "timestamp": 1704067200123456,
        "log_file": "binlog.000002",
        "log_pos": 777,
        "offset": 0,
        "txn_order": 42,
        "encryption_type": "AES_MODE_CBC-1",
        "initialization_vector": bytes(range(16)),
        "payload_ciphertext": bytes([0xFF, 0x00, 0x80, 0x7F] * 8),
        "previous_payload_ciphertext": None,
        "meta": [
            {
                "cluster_name": "refresh_primary",
                "log_file": "binlog.000002",
                "log_pos": 777,
            }
        ],
    }
    out = bytearray()
    compile_encoder(SECURE_ENVELOPE_SCHEMA)(row, out)
    avro_json = json.dumps(_to_avro_json(SECURE_ENVELOPE_SCHEMA, row))
    theirs = _java_encode(spark, json.dumps(SECURE_ENVELOPE_SCHEMA), avro_json)
    assert bytes(out) == theirs


def test_gtid_union_branch_selection_matches_java(spark):
    """The two transaction-id record kinds ride a union inside the meta
    array; branch INDEX bytes must agree with Java's resolution."""
    from mysql_streamer_spark.connectors.avro_wire import (
        GLOBAL_TRANSACTION_ID_SCHEMA,
        TRANSACTION_ID_SCHEMA,
        compile_encoder,
    )

    union_schema = {
        "type": "record",
        "name": "meta_only",
        "fields": [
            {
                "name": "meta",
                "type": {
                    "type": "array",
                    "items": [TRANSACTION_ID_SCHEMA, GLOBAL_TRANSACTION_ID_SCHEMA],
                },
            }
        ],
    }
    for value in (
        {"meta": [{"cluster_name": "c", "log_file": "b.1", "log_pos": 9}]},
        {"meta": [{"cluster_name": "c", "gtid": "uuid:17"}]},
    ):
        out = bytearray()
        compile_encoder(union_schema)(value, out)
        avro_json = json.dumps(_to_avro_json(union_schema, value))
        theirs = _java_encode(spark, json.dumps(union_schema), avro_json)
        assert bytes(out) == theirs, f"union mismatch for {value}"


def _java_decode_resolved(spark, writer_json: str, reader_json: str, payload: bytes):
    """Binary (writer schema) -> GenericRecord under READER schema via
    Java's ResolvingDecoder — the independent implementation of the
    spec's schema-resolution rules."""
    jvm = spark._jvm
    parser = jvm.org.apache.avro.Schema.Parser()
    w = parser.parse(writer_json)
    r = jvm.org.apache.avro.Schema.Parser().parse(reader_json)
    dec = jvm.org.apache.avro.io.DecoderFactory.get().binaryDecoder(
        payload, None
    )
    reader = jvm.org.apache.avro.generic.GenericDatumReader(w, r)
    return reader.read(None, dec)


def test_confluent_frame_resolution_matches_java(spark):
    """The Confluent consumer path differentially pinned: a v1-written
    envelope body (header stripped) is resolved under the v2 reader by
    BOTH our decode_resolved and Java's ResolvingDecoder; every field —
    including the int->long-promoted meta position — must agree."""
    from mysql_streamer_spark.connectors.avro_wire import (
        CONFLUENT_MAGIC,
        ENVELOPE_SCHEMA,
        ENVELOPE_SCHEMA_V2,
        compile_encoder,
        decode_resolved,
    )

    row = {
        "schema_id": 1001,
        "cluster_name": "refresh_primary",
        "database_name": "yelp",
        "table_name": "business",
        "message_type": "insert",
        "timestamp": 1704067200123456,
        "log_file": "binlog.000009",
        "log_pos": 2147483000,  # near the v1 int ceiling
        "offset": 0,
        "txn_order": 11,
        "pk": 8,
        "payload_k": 2,
        "payload_val": -0.5,
        "previous_payload_val": None,
        "meta": [
            {
                "cluster_name": "refresh_primary",
                "log_file": "binlog.000009",
                "log_pos": 2147483000,
            }
        ],
    }
    body = bytearray()
    compile_encoder(ENVELOPE_SCHEMA)(row, body)
    frame = bytes([CONFLUENT_MAGIC]) + (1001).to_bytes(4, "big") + bytes(body)

    # our strict consumer
    assert frame[0] == 0x00
    sid = int.from_bytes(frame[1:5], "big")
    assert sid == 1001
    ours, end = decode_resolved(ENVELOPE_SCHEMA, ENVELOPE_SCHEMA_V2, frame, 5)
    assert end == len(frame)

    theirs = _java_decode_resolved(
        spark,
        json.dumps(ENVELOPE_SCHEMA),
        json.dumps(ENVELOPE_SCHEMA_V2),
        bytes(body),
    )
    for f in (
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
    ):
        jv = theirs.get(f)
        if jv is not None and not isinstance(jv, (int, float, bool)):
            jv = str(jv)
        assert ours[f] == jv, f"field {f}: ours={ours[f]!r} java={jv!r}"
    jmeta = theirs.get("meta")
    assert jmeta.size() == 1 and len(ours["meta"]) == 1
    jm = jmeta.get(0)
    assert ours["meta"][0]["log_pos"] == jm.get("log_pos")
    assert isinstance(ours["meta"][0]["log_pos"], int)
    assert str(jm.get("log_file")) == ours["meta"][0]["log_file"]


# --- the per-table payload batch kernel ------------------------------------

def _payload_schema():
    """The columns payload_to_confluent's kernel reads, with the envelope's
    types."""
    import pyarrow as pa

    return pa.schema(
        [
            ("schema_id", pa.int32()),
            ("txn_order", pa.int64()),
            ("pk", pa.int64()),
            ("payload_k", pa.int32()),
            ("payload_val", pa.float64()),
        ]
    )


def _payload_batch(rows):
    """Payload rows, tuples in _payload_schema's column order, as one Arrow
    batch."""
    import pyarrow as pa

    schema = _payload_schema()
    return pa.RecordBatch.from_pylist(
        [dict(zip(schema.names, row)) for row in rows], schema=schema
    )


def _payload_record(schema, row) -> dict:
    """A payload row as its table schema's record: columns absent from the
    envelope are null."""
    from mysql_streamer_spark.connectors.avro_wire import _PAYLOAD_FIELD_MAP

    return {
        f["name"]: row.get(_PAYLOAD_FIELD_MAP.get(f["name"], ""))
        for f in schema["fields"]
    }


def _payload_row_path(schemas, row) -> bytes:
    """One row's frame the per-row way: header + compile_encoder of the
    row's table schema."""
    from mysql_streamer_spark.connectors.avro_wire import (
        _confluent_header,
        compile_encoder,
    )

    schema = schemas[row["schema_id"]]
    out = bytearray(_confluent_header(row["schema_id"]))
    compile_encoder(schema)(_payload_record(schema, row), out)
    return bytes(out)


def _payload_kernel_bytes(rows) -> list:
    from mysql_streamer_spark.connectors.avro_wire import (
        _payload_kernel,
        _payload_plans,
    )

    return _payload_kernel(*_payload_plans(), _payload_batch(rows)).to_pylist()


_I32 = (-(2**31), 2**31 - 1)
_I64 = (-(2**63), 2**63 - 1)
_SUBNORMALS = (5e-324, -5e-324, 2.2250738585072009e-308)


def _canonical_nan(x: float) -> float:
    """py4j hands Java every NaN as Double.NaN, so the doubles drawn carry
    that one NaN."""
    return math.nan if math.isnan(x) else x


_DOUBLES = st.floats().map(_canonical_nan) | st.sampled_from(
    (-0.0, 0.0, math.nan, math.inf, -math.inf, *_SUBNORMALS)
)


@st.composite
def _payload_rows(draw, max_rows: int = 12):
    from mysql_streamer_spark.connectors.avro_wire import registry_payload_schemas

    ids = sorted(registry_payload_schemas())
    n = draw(st.integers(1, max_rows))
    return [
        (
            draw(st.sampled_from(ids)),
            i,
            draw(st.integers(*_I64) | st.sampled_from(_I64 + (0, -1))),
            draw(st.none() | st.integers(*_I32) | st.sampled_from(_I32)),
            draw(st.none() | _DOUBLES),
        )
        for i in range(n)
    ]


def _java_payload_frame(spark, schemas, row) -> bytes:
    """One row's frame with the body encoded by Apache Avro Java."""
    from mysql_streamer_spark.connectors.avro_wire import _confluent_header

    schema = schemas[row["schema_id"]]
    record = _payload_record(schema, row)
    doubles = {}
    val = record["val"]
    if val is not None and not math.isfinite(val):
        doubles["val"], record["val"] = val, 0.0
    body = _java_encode(
        spark, json.dumps(schema), json.dumps(_to_avro_json(schema, record)), doubles
    )
    return _confluent_header(row["schema_id"]) + body


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_payload_rows())
def test_payload_kernel_matches_row_path_and_java(spark, rows):
    """Every registry payload schema id (evolution versions included):
    the batch kernel's frames equal the compile_encoder row path's and
    Apache Avro Java's, byte for byte, over nulls, int32/int64 extremes,
    -0.0, NaN, infinities and subnormals."""
    from mysql_streamer_spark.connectors.avro_wire import registry_payload_schemas

    schemas = registry_payload_schemas()
    got = _payload_kernel_bytes(rows)
    for row, frame in zip(_payload_batch(rows).to_pylist(), got, strict=True):
        assert frame == _payload_row_path(schemas, row), row
        assert frame == _java_payload_frame(spark, schemas, row), row


def test_payload_kernel_covers_every_registry_schema():
    """The plans cover ids 1-14, and one batch over all of them equals the
    row path (four plan groups in one batch)."""
    from mysql_streamer_spark.connectors.avro_wire import (
        _payload_plans,
        registry_payload_schemas,
    )

    schemas = registry_payload_schemas()
    assert sorted(schemas) == list(range(1, 15))
    plans, lut = _payload_plans()
    assert len(plans) > 1 and (lut[1:] >= 0).all()
    rows = [(sid, sid, -sid, None if sid % 3 else sid, sid / 7) for sid in schemas]
    want = [_payload_row_path(schemas, r) for r in _payload_batch(rows).to_pylist()]
    assert _payload_kernel_bytes(rows) == want


def test_payload_mixed_batch_keeps_row_order_and_key(spark):
    """payload_to_confluent over one partition whose batch mixes every
    schema id, shuffled: each output row is its input row's frame, in input
    order, keyed by that row's txn_order."""
    import random

    from mysql_streamer_spark.connectors.avro_wire import (
        payload_to_confluent,
        registry_payload_schemas,
    )
    from mysql_streamer_spark.tables import local_frame

    schemas = registry_payload_schemas()
    ids = sorted(schemas) * 5
    random.Random(7).shuffle(ids)
    rows = [
        (
            sid,
            1000 - i,
            i * 7919 - 2**40,
            None if i % 4 == 0 else i - 30,
            i / 3 if i % 5 else None,
        )
        for i, sid in enumerate(ids)
    ]
    frame = local_frame(spark, rows, _payload_schema()).coalesce(1)
    wire = payload_to_confluent(frame).collect()
    assert [r.txn_order for r in wire] == [r[1] for r in rows]
    want = [_payload_row_path(schemas, r) for r in _payload_batch(rows).to_pylist()]
    assert [bytes(r.value) for r in wire] == want


def test_payload_null_pk_raises():
    """pk is the one non-null payload field: a null there raises, as the
    row path does, instead of publishing a frame."""
    from mysql_streamer_spark.connectors.avro_wire import registry_payload_schemas

    rows = [(1, 1, 5, 1, 1.0), (11, 2, None, 1, 1.0)]
    with pytest.raises(ValueError, match="null in non-null field 'pk'"):
        _payload_kernel_bytes(rows)
    row = _payload_batch(rows).to_pylist()[1]
    with pytest.raises(TypeError):
        _payload_row_path(registry_payload_schemas(), row)


def test_payload_kernel_empty_batch_and_unregistered_id():
    assert _payload_kernel_bytes([]) == []
    with pytest.raises(ValueError, match=r"schema ids \[0, 99\] are not registered"):
        _payload_kernel_bytes([(99, 1, 1, 1, 1.0), (1, 2, 1, 1, 1.0), (0, 3, 1, 1, 1.0)])
