"""Avro binary kernel: spec byte-vector pins + roundtrip properties + the
Spark envelope roundtrip (connectors/avro_wire.py).

The byte vectors are the Avro specification's own examples
(https://avro.apache.org/docs/1.11.1/specification/#binary-encoding) — they
pin the ENCODER against the public standard, so the encode/decode pair
can't be "consistently wrong together" (the failure mode a pure roundtrip
check would miss).
"""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mysql_streamer_spark.connectors.avro_wire import (
    ENVELOPE_SCHEMA,
    TRANSACTION_ID_SCHEMA,
    decode_value,
    encode_value,
    read_long,
    write_long,
)


def enc(schema, value) -> bytes:
    out = bytearray()
    encode_value(schema, value, out)
    return bytes(out)


# --- spec byte vectors ------------------------------------------------------

@pytest.mark.parametrize(
    "n,expected",
    [
        (0, b"\x00"),
        (-1, b"\x01"),
        (1, b"\x02"),
        (-2, b"\x03"),
        (2, b"\x04"),
        (-64, b"\x7f"),
        (64, b"\x80\x01"),
        (-65, b"\x81\x01"),
        (8192, b"\x80\x80\x01"),
        (-(2**63), b"\xff\xff\xff\xff\xff\xff\xff\xff\xff\x01"),
        (2**63 - 1, b"\xfe\xff\xff\xff\xff\xff\xff\xff\xff\x01"),
    ],
)
def test_zigzag_varint_spec_vectors(n, expected):
    out = bytearray()
    write_long(out, n)
    assert bytes(out) == expected
    back, pos = read_long(bytes(out), 0)
    assert back == n and pos == len(expected)


def test_string_spec_vector():
    # the spec's example: "foo" -> 06 66 6f 6f
    assert enc("string", "foo") == b"\x06foo"


def test_array_of_longs_spec_vector():
    # the spec's example: [3, 27] -> 04 06 36 00
    assert enc({"type": "array", "items": "long"}, [3, 27]) == b"\x04\x06\x36\x00"


def test_union_null_and_branch():
    schema = ["null", "string"]
    assert enc(schema, None) == b"\x00"  # branch 0 = null, no payload
    assert enc(schema, "a") == b"\x02\x02a"  # branch 1, then length-1 string


def test_record_concatenates_fields_in_order():
    rec = {"cluster_name": "c", "log_file": "f.000001", "log_pos": 4}
    raw = enc(TRANSACTION_ID_SCHEMA, rec)
    assert raw == b"\x02c" + b"\x10f.000001" + b"\x08"
    back, end = decode_value(TRANSACTION_ID_SCHEMA, raw, 0)
    assert back == rec and end == len(raw)


def test_double_is_ieee_little_endian():
    import struct

    assert enc("double", 1.5) == struct.pack("<d", 1.5)


# --- roundtrip properties ---------------------------------------------------

@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
def test_long_roundtrip_property(n):
    out = bytearray()
    write_long(out, n)
    back, pos = read_long(bytes(out), 0)
    assert back == n and pos == len(out)


@settings(max_examples=200, deadline=None)
@given(
    st.fixed_dictionaries(
        {
            "schema_id": st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1)),
            "cluster_name": st.text(max_size=20),
            "database_name": st.one_of(st.none(), st.text(max_size=20)),
            "table_name": st.one_of(st.none(), st.text(max_size=20)),
            "message_type": st.sampled_from(["create", "update", "delete", "refresh"]),
            "timestamp": st.one_of(st.none(), st.integers(0, 2**52)),
            "log_file": st.one_of(st.none(), st.text(max_size=20)),
            "log_pos": st.one_of(st.none(), st.integers(0, 2**40)),
            "offset": st.integers(0, 2**16),
            "txn_order": st.one_of(st.none(), st.integers(0, 2**62)),
            "pk": st.one_of(st.none(), st.integers(-(2**62), 2**62)),
            "payload_k": st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1)),
            "payload_val": st.one_of(
                st.none(), st.floats(allow_nan=False, allow_infinity=True)
            ),
            "previous_payload_val": st.one_of(
                st.none(), st.floats(allow_nan=False, allow_infinity=True)
            ),
        }
    ),
    st.lists(
        st.fixed_dictionaries(
            {
                "cluster_name": st.text(max_size=10),
                "log_file": st.text(max_size=10),
                "log_pos": st.integers(-(2**31), 2**31 - 1),
            }
        ),
        max_size=3,
    ),
)
def test_envelope_record_roundtrip_property(flat, meta):
    rec = dict(flat, meta=meta)
    raw = enc(ENVELOPE_SCHEMA, rec)
    back, end = decode_value(ENVELOPE_SCHEMA, raw, 0)
    assert end == len(raw)
    for k, v in rec.items():
        if isinstance(v, float):
            assert back[k] == v or (math.isnan(v) and math.isnan(back[k]))
        else:
            assert back[k] == v, k


# --- the Spark path ---------------------------------------------------------

def test_spark_envelope_avro_roundtrip_is_lossless(spark, sf_dir):
    from pyspark.sql import functions as F

    from mysql_streamer_spark.cdc.pipeline import envelope_pipeline
    from mysql_streamer_spark.connectors.avro_wire import (
        avro_to_envelope,
        envelope_to_avro,
    )

    env = envelope_pipeline(spark, sf_dir)
    decoded = avro_to_envelope(envelope_to_avro(env)).withColumn(
        "timestamp", F.timestamp_micros("ts_us")
    )
    assert decoded.filter(~F.col("meta_ok")).count() == 0
    cols = [c for c in env.columns]
    left = env.select(*cols)
    right = decoded.select(*cols)
    # exact multiset equality both directions
    assert left.exceptAll(right).count() == 0
    assert right.exceptAll(left).count() == 0
    assert left.count() == right.count() > 0


# --- union-of-records (GTID mode) -------------------------------------------

def test_union_of_records_selects_branch_by_field_names():
    from mysql_streamer_spark.connectors.avro_wire import (
        GLOBAL_TRANSACTION_ID_SCHEMA,
    )

    union = [TRANSACTION_ID_SCHEMA, GLOBAL_TRANSACTION_ID_SCHEMA]
    log_rec = {"cluster_name": "c", "log_file": "f", "log_pos": 4}
    gtid_rec = {"cluster_name": "c", "gtid": "u:1"}
    for rec, idx in ((log_rec, 0), (gtid_rec, 1)):
        raw = enc(union, rec)
        assert raw[0] == idx * 2  # zigzag(branch index)
        back, end = decode_value(union, raw, 0)
        assert back == rec and end == len(raw)
    with pytest.raises(ValueError):
        enc(union, {"cluster_name": "c", "unknown": 1})


def test_spark_gtid_envelope_avro_roundtrip(spark, sf_dir):
    from pyspark.sql import functions as F

    from mysql_streamer_spark.cdc.pipeline import envelope_pipeline
    from mysql_streamer_spark.connectors.avro_wire import (
        avro_to_envelope,
        envelope_to_avro,
    )
    from mysql_streamer_spark.queries.cdc import GTID_SOURCE_UUID

    env = envelope_pipeline(spark, sf_dir).withColumn(
        "gtid",
        F.concat_ws(":", F.lit(GTID_SOURCE_UUID), F.col("txn_order").cast("string")),
    )
    decoded = avro_to_envelope(
        envelope_to_avro(env, gtid_mode=True), gtid_mode=True
    ).withColumn("timestamp", F.timestamp_micros("ts_us"))
    assert decoded.filter(~F.col("meta_ok")).count() == 0
    cols = env.columns
    assert env.select(*cols).exceptAll(decoded.select(*cols)).count() == 0
    assert decoded.select(*cols).exceptAll(env.select(*cols)).count() == 0


def test_decode_negative_block_count_array_form():
    """Spec-legal alternative array framing: a NEGATIVE item count followed
    by the block's byte size (writers may emit it for skippability). Our
    encoder never writes it, but a compliant reader must accept it."""
    out = bytearray()
    write_long(out, -2)            # block of 2 items, size-prefixed form
    write_long(out, 2)             # byte size of the block (2 varint bytes)
    write_long(out, 3)             # item 1
    write_long(out, 27)            # item 2
    write_long(out, 0)             # terminator
    items, end = decode_value({"type": "array", "items": "long"}, bytes(out), 0)
    assert items == [3, 27] and end == len(out)


# --- registry -> avro schema + reader-schema resolution ----------------------

def _chain_registry():
    from mysql_streamer_spark.schema.registry import SchemaRegistry

    reg = SchemaRegistry()
    reg.apply_statement(
        "CREATE TABLE emp (id int DEFAULT NULL, name varchar(64) NOT NULL,"
        " score int NOT NULL DEFAULT 0)",
        default_database="db",
    )
    return reg


def test_registry_entry_to_avro_schema_shapes():
    from mysql_streamer_spark.connectors.avro_wire import avro_schema_for_entry

    reg = _chain_registry()
    s = avro_schema_for_entry(reg.get("db", "emp"))
    by = {f["name"]: f for f in s["fields"]}
    # nullable + DEFAULT NULL -> ["null", T] with default null
    assert by["id"]["type"] == ["null", "int"] and by["id"]["default"] is None
    # NOT NULL, no default -> bare type, no default key
    assert by["name"]["type"] == "string" and "default" not in by["name"]
    # NOT NULL DEFAULT 0 -> typed default
    assert by["score"]["type"] == "int" and by["score"]["default"] == 0


def test_reader_schema_evolution_fills_added_default():
    """Encode under v1, ALTER ADD a defaulted column, decode the v1 bytes
    under v2 — the added field takes its registry default, exactly the
    consumer upgrade path the Schematizer's compatibility rules protect."""
    from mysql_streamer_spark.connectors.avro_wire import (
        avro_schema_for_entry,
        decode_resolved,
    )

    reg = _chain_registry()
    v1 = avro_schema_for_entry(reg.get("db", "emp"))
    row = {"id": 7, "name": "x", "score": 3}
    raw = enc(v1, row)
    reg.apply_statement(
        "ALTER TABLE emp ADD office varchar(32) DEFAULT 'hq'", default_database="db"
    )
    v2 = avro_schema_for_entry(reg.get("db", "emp"))
    got, end = decode_resolved(v1, v2, raw, 0)
    assert end == len(raw)
    assert got == {"id": 7, "name": "x", "score": 3, "office": "hq"}


def test_reader_schema_evolution_drops_removed_and_promotes():
    from mysql_streamer_spark.connectors.avro_wire import (
        avro_schema_for_entry,
        decode_resolved,
    )

    reg = _chain_registry()
    v1 = avro_schema_for_entry(reg.get("db", "emp"))
    raw = enc(v1, {"id": 7, "name": "x", "score": 3})
    reg.apply_statement("ALTER TABLE emp DROP name", default_database="db")
    reg.apply_statement("ALTER TABLE emp MODIFY score bigint NOT NULL", default_database="db")
    v3 = avro_schema_for_entry(reg.get("db", "emp"))
    got, _ = decode_resolved(v1, v3, raw, 0)
    # name decoded-and-discarded; score int -> long promotion
    assert got == {"id": 7, "score": 3}
    assert isinstance(got["score"], int)


def test_resolution_fails_without_default():
    from mysql_streamer_spark.connectors.avro_wire import (
        avro_schema_for_entry,
        decode_resolved,
    )

    reg = _chain_registry()
    v1 = avro_schema_for_entry(reg.get("db", "emp"))
    raw = enc(v1, {"id": 1, "name": "a", "score": 0})
    reg.apply_statement(
        "ALTER TABLE emp ADD must_have int NOT NULL", default_database="db"
    )
    v2 = avro_schema_for_entry(reg.get("db", "emp"))
    with pytest.raises(ValueError, match="no default"):
        decode_resolved(v1, v2, raw, 0)


# --- compiled kernels vs the reference implementation -------------------------

@settings(max_examples=150, deadline=None)
@given(
    st.fixed_dictionaries(
        {
            "schema_id": st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1)),
            "cluster_name": st.text(max_size=12),
            "database_name": st.one_of(st.none(), st.text(max_size=12)),
            "table_name": st.one_of(st.none(), st.text(max_size=12)),
            "message_type": st.sampled_from(["create", "update", "delete"]),
            "timestamp": st.one_of(st.none(), st.integers(0, 2**52)),
            "log_file": st.one_of(st.none(), st.text(max_size=12)),
            "log_pos": st.one_of(st.none(), st.integers(0, 2**40)),
            "offset": st.integers(0, 2**16),
            "txn_order": st.one_of(st.none(), st.integers(0, 2**62)),
            "pk": st.one_of(st.none(), st.integers(-(2**62), 2**62)),
            "payload_k": st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1)),
            "payload_val": st.one_of(st.none(), st.floats(allow_nan=False)),
            "previous_payload_val": st.one_of(st.none(), st.floats(allow_nan=False)),
        }
    ),
    st.lists(
        st.fixed_dictionaries(
            {
                "cluster_name": st.text(max_size=8),
                "log_file": st.text(max_size=8),
                "log_pos": st.integers(-(2**31), 2**31 - 1),
            }
        ),
        max_size=3,
    ),
)
def test_compiled_kernels_byte_identical_to_reference(flat, meta):
    """compile_encoder/compile_decoder must produce byte-identical output
    and value-identical decode vs the recursive reference implementation
    for every envelope the generator can produce."""
    from mysql_streamer_spark.connectors.avro_wire import (
        compile_decoder,
        compile_encoder,
    )

    rec = dict(flat, meta=meta)
    ref = enc(ENVELOPE_SCHEMA, rec)
    out = bytearray()
    compile_encoder(ENVELOPE_SCHEMA)(rec, out)
    assert bytes(out) == ref
    got_ref, _ = decode_value(ENVELOPE_SCHEMA, ref, 0)
    got_fast, end = compile_decoder(ENVELOPE_SCHEMA)(ref, 0)
    assert end == len(ref) and got_fast == got_ref


def test_compiled_union_of_records_matches_reference():
    from mysql_streamer_spark.connectors.avro_wire import (
        GLOBAL_TRANSACTION_ID_SCHEMA,
        GTID_ENVELOPE_SCHEMA,
        compile_decoder,
        compile_encoder,
    )

    union = [TRANSACTION_ID_SCHEMA, GLOBAL_TRANSACTION_ID_SCHEMA]
    for rec in (
        {"cluster_name": "c", "log_file": "f", "log_pos": 4},
        {"cluster_name": "c", "gtid": "u:1"},
    ):
        ref = enc(union, rec)
        out = bytearray()
        compile_encoder(union)(rec, out)
        assert bytes(out) == ref
        assert compile_decoder(union)(ref, 0) == decode_value(union, ref, 0)
    assert GTID_ENVELOPE_SCHEMA  # imported symbol exercised


def test_float_primitive_roundtrips_and_promotes():
    """FLOAT columns exist in the acceptance chain's own derived schema
    (salary float) — the codec must encode/decode them and promote
    float->double on resolution."""
    import struct

    from mysql_streamer_spark.connectors.avro_wire import (
        compile_decoder,
        compile_encoder,
        decode_resolved,
    )

    assert enc("float", 1.5) == struct.pack("<f", 1.5)
    out = bytearray()
    compile_encoder("float")(2.5, out)
    assert bytes(out) == struct.pack("<f", 2.5)
    assert compile_decoder("float")(bytes(out), 0) == (2.5, 4)
    schema_w = {"type": "record", "name": "r", "fields": [{"name": "salary", "type": "float"}]}
    schema_r = {"type": "record", "name": "r", "fields": [{"name": "salary", "type": "double"}]}
    raw = enc(schema_w, {"salary": 1.5})
    got, end = decode_resolved(schema_w, schema_r, raw, 0)
    assert got == {"salary": 1.5} and end == len(raw)


def test_resolution_applies_reader_type_to_matched_fields():
    """A matched field must resolve against the READER's type: promotions
    apply, and an incompatible type change raises instead of silently
    returning writer-typed values."""
    from mysql_streamer_spark.connectors.avro_wire import decode_resolved

    w = {"type": "record", "name": "r", "fields": [{"name": "x", "type": "int"}]}
    r_prom = {"type": "record", "name": "r", "fields": [{"name": "x", "type": "double"}]}
    raw = enc(w, {"x": 3})
    got, _ = decode_resolved(w, r_prom, raw, 0)
    assert got == {"x": 3.0} and isinstance(got["x"], float)
    r_bad = {"type": "record", "name": "r", "fields": [{"name": "x", "type": "string"}]}
    with pytest.raises(ValueError, match="cannot resolve"):
        decode_resolved(w, r_bad, raw, 0)


def test_resolution_fills_nested_added_default():
    from mysql_streamer_spark.connectors.avro_wire import decode_resolved

    inner_w = {"type": "record", "name": "i", "fields": [{"name": "a", "type": "int"}]}
    inner_r = {
        "type": "record",
        "name": "i",
        "fields": [{"name": "a", "type": "int"}, {"name": "b", "type": "int", "default": 9}],
    }
    w = {"type": "record", "name": "r", "fields": [{"name": "n", "type": inner_w}]}
    r = {"type": "record", "name": "r", "fields": [{"name": "n", "type": inner_r}]}
    raw = enc(w, {"n": {"a": 1}})
    got, _ = decode_resolved(w, r, raw, 0)
    assert got == {"n": {"a": 1, "b": 9}}


# ---------------------------------------------------------------------------
# Confluent wire framing (magic byte + registry schema id)
# ---------------------------------------------------------------------------


def test_confluent_frame_header_bytes_and_roundtrip(spark, sf_dir):
    """Every published message starts 0x00 + 4-byte big-endian registered
    id; both writer generations appear; decode resolves v1 bytes under
    the v2 reader losslessly."""
    from pyspark.sql import functions as F

    from mysql_streamer_spark.cdc.pipeline import envelope_pipeline
    from mysql_streamer_spark.connectors.avro_wire import (
        CONFLUENT_ENVELOPE_IDS,
        confluent_to_envelope,
        envelope_to_confluent,
    )

    env = envelope_pipeline(spark, sf_dir).limit(200).withColumn(
        "wire_schema_id",
        F.when(F.col("pk") % 2 == 0, F.lit(1001)).otherwise(F.lit(1002)),
    )
    env = env.cache()
    wire = envelope_to_confluent(env)
    frames = [r.value for r in wire.collect()]
    assert frames
    seen = set()
    for raw in frames:
        assert raw[0] == 0x00
        sid = int.from_bytes(raw[1:5], "big")
        assert sid in CONFLUENT_ENVELOPE_IDS
        seen.add(sid)
    assert seen == {1001, 1002}

    decoded = confluent_to_envelope(envelope_to_confluent(env))
    a = {
        (r.pk, r.payload_k, r.txn_order, r.payload_val)
        for r in env.select("pk", "payload_k", "txn_order", "payload_val").collect()
    }
    b = {
        (r.pk, r.payload_k, r.txn_order, r.payload_val)
        for r in decoded.select("pk", "payload_k", "txn_order", "payload_val").collect()
    }
    assert a == b
    flags = decoded.select("header_ok", "meta_ok").distinct().collect()
    assert [(r.header_ok, r.meta_ok) for r in flags] == [(True, True)]
    env.unpersist()


def test_confluent_frame_rejects_unknown_schema_id(spark, sf_dir):
    """An unregistered id must fail loudly at encode; a corrupted header
    must fail loudly at decode — never decode garbage."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from mysql_streamer_spark.cdc.pipeline import envelope_pipeline
    from mysql_streamer_spark.connectors.avro_wire import (
        confluent_to_envelope,
        envelope_to_confluent,
    )

    env = envelope_pipeline(spark, sf_dir).limit(5)
    bad = env.withColumn("wire_schema_id", F.lit(9999))
    with _pytest.raises(Exception, match="not registered"):
        envelope_to_confluent(bad).collect()

    good = env.withColumn("wire_schema_id", F.lit(1002))
    wire = envelope_to_confluent(good)
    corrupted = wire.select(
        F.concat(
            F.lit(bytearray([0x01])), F.expr("substring(value, 2)")
        ).alias("value")
    )
    with _pytest.raises(Exception, match="bad Confluent header"):
        confluent_to_envelope(corrupted).collect()


def test_confluent_payload_identity_comes_from_the_schema(spark, sf_dir):
    """Per-table publish: frames carry DIFFERENT registry ids per table,
    and the consumer recovers (database, table) purely from the
    header-resolved schema — matching the envelope row for every key."""
    from mysql_streamer_spark.cdc.pipeline import envelope_pipeline
    from mysql_streamer_spark.connectors.avro_wire import (
        confluent_payload_decode,
        payload_to_confluent,
    )
    from pyspark.sql import functions as F

    env = envelope_pipeline(spark, sf_dir).filter(
        F.col("schema_id").isNotNull()
    )
    wire = payload_to_confluent(env)
    ids = {
        int.from_bytes(r.value[1:5], "big") for r in wire.limit(400).collect()
    }
    assert len(ids) > 1, "all tables framed the same id — not per-table"

    decoded = confluent_payload_decode(wire)
    want = {
        (r.txn_order, r.database_name, r.table_name, r.schema_id)
        for r in env.select(
            "txn_order", "database_name", "table_name", "schema_id"
        ).collect()
    }
    got = {
        (r.txn_order, r.database_name, r.table_name, r.schema_id)
        for r in decoded.select(
            "txn_order", "database_name", "table_name", "schema_id"
        ).collect()
    }
    assert got == want


def test_confluent_evolution_wire_carries_multiple_versions(spark, sf_dir):
    """The as-of stamped wire must genuinely carry BOTH versions of a
    multi-version table (v1 before the cut, v2 after) and the latest-
    reader consumer must decode both — the promotion path is real, not
    vacuously same-schema."""
    from pyspark.sql import functions as F

    from mysql_streamer_spark.queries.cdc import (
        q_cdc_confluent_evolution_roundtrip,
    )
    from mysql_streamer_spark.schema.bootstrap import bootstrap_registry

    reg = bootstrap_registry()
    view_ids = {e.schema_id: e.version for e in reg.history("db_1", "view")}
    assert len(view_ids) == 2

    decoded = q_cdc_confluent_evolution_roundtrip(spark, str(sf_dir))
    per_version = {
        r.schema_id: r.n
        for r in decoded.filter(
            (F.col("database_name") == "db_1") & (F.col("table_name") == "view")
        )
        .groupBy("schema_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert set(per_version) == set(view_ids), per_version
    assert all(n > 0 for n in per_version.values())


def test_dlq_decode_error_kinds_and_raise_default(spark, sf_dir):
    """Each corruption class lands with its own stable error_kind under
    on_error='dlq'; the default consumer still fails loudly."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from mysql_streamer_spark.cdc.pipeline import envelope_pipeline
    from mysql_streamer_spark.connectors.avro_wire import (
        confluent_payload_decode,
        payload_to_confluent,
    )

    env = envelope_pipeline(spark, sf_dir).filter(
        F.col("schema_id").isNotNull()
    ).limit(30)
    wire = payload_to_confluent(env).cache()

    cases = {
        # magic byte wrong
        "bad_header": F.concat(
            F.lit(bytes([0x01])), F.expr("substring(value, 2)")
        ),
        # unknown registry id
        "unregistered_schema": F.concat(
            F.lit(bytes([0x00, 0x00, 0x00, 0x27, 0x0F])),
            F.expr("substring(value, 6)"),
        ),
        # truncated body
        "corrupt_body": F.expr("substring(value, 1, length(value) - 1)"),
    }
    for kind, expr in cases.items():
        bad = wire.select("txn_order", expr.alias("value"))
        rows = confluent_payload_decode(bad, on_error="dlq").collect()
        assert rows and all(
            (not r.header_ok) and r.error_kind == kind and r.table_name is None
            for r in rows
        ), kind
        with _pytest.raises(Exception, match=kind):
            confluent_payload_decode(bad).collect()
    wire.unpersist()


def test_dlq_keeps_good_rows_exact(spark, sf_dir):
    from pyspark.sql import functions as F

    from mysql_streamer_spark.cdc.pipeline import envelope_pipeline
    from mysql_streamer_spark.connectors.avro_wire import (
        confluent_payload_decode,
        payload_to_confluent,
    )

    env = envelope_pipeline(spark, sf_dir).filter(
        F.col("schema_id").isNotNull()
    ).limit(50)
    out = confluent_payload_decode(payload_to_confluent(env), on_error="dlq")
    got = {
        (r.txn_order, r.table_name, r.pk, r.header_ok, r.error_kind)
        for r in out.collect()
    }
    want = {
        (r.txn_order, r.table_name, r.pk, True, None)
        for r in env.select("txn_order", "table_name", "pk").collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# property test: Confluent frame header integrity under arbitrary ids
# ---------------------------------------------------------------------------

from hypothesis import given, settings as _hsettings
from hypothesis import strategies as _hst


@_hsettings(max_examples=50, deadline=None)
@given(sid=_hst.integers(min_value=0, max_value=2**31 - 1))
def test_confluent_header_id_roundtrips_any_registry_id(sid):
    """The 4-byte big-endian id field must carry ANY non-negative 32-bit
    registry id losslessly (the ids a large registry actually issues are
    not the fixture's 1001/1002)."""
    frame = bytes([0x00]) + sid.to_bytes(4, "big") + b"body"
    assert frame[0] == 0x00
    assert int.from_bytes(frame[1:5], "big") == sid
    assert frame[5:] == b"body"


@_hsettings(max_examples=40, deadline=None)
@given(
    pk=_hst.integers(min_value=-(2**62), max_value=2**62),
    k=_hst.one_of(_hst.none(), _hst.integers(min_value=-(2**31), max_value=2**31 - 1)),
    val=_hst.one_of(
        _hst.none(),
        _hst.floats(allow_nan=False, allow_infinity=False, width=64),
    ),
)
def test_payload_schema_roundtrip_property(pk, k, val):
    """Any (pk, k, val) combination — including NULL unions and extreme
    longs — roundtrips through a registry payload schema byte-exactly."""
    from mysql_streamer_spark.connectors.avro_wire import (
        avro_schema_for_entry,
        compile_decoder,
        compile_encoder,
    )
    from mysql_streamer_spark.schema.bootstrap import bootstrap_registry

    schema = avro_schema_for_entry(
        bootstrap_registry().get("db_0", "purchase")
    )
    rec = {
        f["name"]: None for f in schema["fields"]
    } | {"pk": pk, "k": k, "val": val}
    out = bytearray()
    compile_encoder(schema)(rec, out)
    got, end = compile_decoder(schema)(bytes(out), 0)
    assert end == len(out)
    assert got == rec


@pytest.mark.parametrize(
    "ftype, column",
    [
        ("string", "pk"),  # a mapped field of no plan kind
        ("float", "payload_val"),
        (["null", "int", "string"], "payload_k"),  # a multi-branch union
        ("long", None),  # non-null, no envelope column to fill it
    ],
)
def test_field_plan_rejects_unplanned_shapes_when_built(ftype, column):
    from mysql_streamer_spark.connectors.avro_wire import _field_plan

    schema = {"type": "record", "name": "t", "fields": [{"name": "f", "type": ftype}]}
    with pytest.raises(ValueError, match="outside the batch plan kinds"):
        _field_plan(schema, {"f": column} if column else {})


def test_field_plan_branch_order_follows_the_union():
    """A typed default puts the value branch first (``[T, "null"]``): the
    plan writes the union indices as declared, matching the row path."""
    from mysql_streamer_spark.connectors.avro_wire import _field_plan

    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "pk", "type": ["long", "null"], "default": 3},
            {"name": "extra", "type": ["string", "null"]},
        ],
    }
    assert _field_plan(schema, {"pk": "pk"}) == (
        ("pk", "long", "pk", 1, 0),
        ("extra", "null", None, 1, None),
    )


def test_payload_encode_plans_are_built_once(spark, sf_dir, monkeypatch):
    """payload_to_confluent reuses the process's plans: a second call (a
    second micro-batch) reads no registry schema and builds no plan."""
    from mysql_streamer_spark.cdc.pipeline import envelope_pipeline
    from mysql_streamer_spark.connectors import avro_wire

    env = envelope_pipeline(spark, sf_dir)
    avro_wire.payload_to_confluent(env)

    def forbidden(*_args):
        raise AssertionError("plans rebuilt")

    monkeypatch.setattr(avro_wire, "registry_payload_schemas", forbidden)
    monkeypatch.setattr(avro_wire, "_field_plan", forbidden)
    monkeypatch.setattr(avro_wire, "compile_encoder", forbidden)
    assert avro_wire.payload_to_confluent(env).limit(50).count() == 50
