"""Regression tests for the round-4 advisor findings: expression DEFAULTs
in the registry->Avro bridge, the v1 meta schema's 32-bit log_pos range,
placement clauses with trailing attributes, and timezone-independent
heartbeat epochs."""

from __future__ import annotations

import pytest


# --- avro_wire._default_json: expression defaults must not crash ----------

def _entry(create_sql: str):
    from mysql_streamer_spark.schema.registry import SchemaRegistry

    reg = SchemaRegistry()
    reg.apply_statement(create_sql, default_database="db")
    return reg.get("db", "emp")


def test_current_timestamp_default_omits_avro_default():
    """`created_at timestamp NOT NULL DEFAULT CURRENT_TIMESTAMP` maps to a
    long-based logical type; CURRENT_TIMESTAMP is not a long constant, so
    the Avro field must simply omit its default instead of crashing on
    int('CURRENT_TIMESTAMP')."""
    from mysql_streamer_spark.connectors.avro_wire import avro_schema_for_entry

    s = avro_schema_for_entry(
        _entry(
            "CREATE TABLE emp (id int NOT NULL,"
            " created_at timestamp NOT NULL DEFAULT CURRENT_TIMESTAMP)"
        )
    )
    by = {f["name"]: f for f in s["fields"]}
    assert by["created_at"]["type"] == {
        "type": "long",
        "logicalType": "timestamp-micros",
    }
    assert "default" not in by["created_at"]


def test_current_timestamp_default_on_nullable_column():
    from mysql_streamer_spark.connectors.avro_wire import avro_schema_for_entry

    s = avro_schema_for_entry(
        _entry("CREATE TABLE emp (updated_at timestamp DEFAULT CURRENT_TIMESTAMP)")
    )
    (f,) = s["fields"]
    # unrepresentable default -> nullable union with NO default key (a
    # "default": null here would claim the column defaults to null, which
    # is not what the DDL says)
    assert f["type"] == ["null", {"type": "long", "logicalType": "timestamp-micros"}]
    assert "default" not in f


def test_numeric_defaults_still_coerce():
    from mysql_streamer_spark.connectors.avro_wire import avro_schema_for_entry

    s = avro_schema_for_entry(
        _entry("CREATE TABLE emp (n int NOT NULL DEFAULT 7, f double DEFAULT 1.5)")
    )
    by = {f["name"]: f for f in s["fields"]}
    assert by["n"]["default"] == 7
    assert by["f"]["default"] == 1.5 and by["f"]["type"] == ["double", "null"]


# --- v1 meta schema: log_pos beyond 2^31 must fail loudly -----------------

def _encode_to_avro(df, tmp_path):
    from mysql_streamer_spark.connectors.avro_wire import envelope_to_avro

    envelope_to_avro(df).collect()


def _write_avro_files(df, tmp_path):
    from mysql_streamer_spark.connectors.avro_file import (
        write_envelope_avro_files,
    )

    write_envelope_avro_files(df, str(tmp_path / "ocf"))


@pytest.mark.parametrize(
    "encode",
    [_encode_to_avro, _write_avro_files],
    ids=["envelope_to_avro", "write_envelope_avro_files"],
)
def test_log_pos_beyond_int32_raises(spark, tmp_path, encode):
    from pyspark.sql import functions as F

    base = spark.range(1).select(
        F.lit(None).cast("int").alias("schema_id"),
        F.lit("refresh_primary").alias("cluster_name"),
        F.lit("db").alias("database_name"),
        F.lit("t").alias("table_name"),
        F.lit("insert").alias("message_type"),
        F.current_timestamp().alias("timestamp"),
        F.lit("binlog.000001").alias("log_file"),
        F.lit(2**31).cast("long").alias("log_pos"),
        F.lit(0).alias("offset"),
        F.lit(1).cast("long").alias("txn_order"),
        F.lit(1).cast("long").alias("pk"),
        F.lit(None).cast("int").alias("payload_k"),
        F.lit(None).cast("double").alias("payload_val"),
        F.lit(None).cast("double").alias("previous_payload_val"),
    )
    with pytest.raises(Exception) as ei:
        encode(base, tmp_path)
    assert "32-bit int range" in str(ei.value)


def test_v2_meta_schema_carries_64bit_log_pos(spark):
    """meta_version=2 (long-typed transaction-id meta) roundtrips the
    positions v1 must reject — the schema-versioning path the reference's
    store would take."""
    from pyspark.sql import functions as F

    from mysql_streamer_spark.connectors.avro_wire import (
        avro_to_envelope,
        envelope_to_avro,
    )

    big = 2**40 + 123
    base = spark.range(1).select(
        F.lit(None).cast("int").alias("schema_id"),
        F.lit("c").alias("cluster_name"),
        F.lit("db").alias("database_name"),
        F.lit("t").alias("table_name"),
        F.lit("insert").alias("message_type"),
        F.current_timestamp().alias("timestamp"),
        F.lit("binlog.000001").alias("log_file"),
        F.lit(big).cast("long").alias("log_pos"),
        F.lit(0).alias("offset"),
        F.lit(1).cast("long").alias("txn_order"),
        F.lit(1).cast("long").alias("pk"),
        F.lit(None).cast("int").alias("payload_k"),
        F.lit(None).cast("double").alias("payload_val"),
        F.lit(None).cast("double").alias("previous_payload_val"),
    )
    wire = envelope_to_avro(base, meta_version=2)
    row = avro_to_envelope(wire, meta_version=2).collect()[0]
    assert row.log_pos == big and row.meta_ok


def test_v1_bytes_resolve_under_v2_reader():
    """Consumer upgrade: v1-written meta (int log_pos) decodes under the
    v2 reader via the spec's int->long promotion inside array-of-record."""
    from mysql_streamer_spark.connectors.avro_wire import (
        TRANSACTION_ID_SCHEMA,
        TRANSACTION_ID_V2_SCHEMA,
        compile_encoder,
        decode_resolved,
    )

    value = {"cluster_name": "c", "log_file": "binlog.000009", "log_pos": 3992}
    out = bytearray()
    compile_encoder(TRANSACTION_ID_SCHEMA)(value, out)
    got, end = decode_resolved(
        TRANSACTION_ID_SCHEMA, TRANSACTION_ID_V2_SCHEMA, bytes(out), 0
    )
    assert end == len(out) and got == value


def test_log_pos_at_int32_boundary_encodes(spark):
    from pyspark.sql import functions as F

    from mysql_streamer_spark.connectors.avro_wire import envelope_to_avro

    base = spark.range(1).select(
        F.lit(None).cast("int").alias("schema_id"),
        F.lit("c").alias("cluster_name"),
        F.lit("db").alias("database_name"),
        F.lit("t").alias("table_name"),
        F.lit("insert").alias("message_type"),
        F.current_timestamp().alias("timestamp"),
        F.lit("binlog.000001").alias("log_file"),
        F.lit(2**31 - 1).cast("long").alias("log_pos"),
        F.lit(0).alias("offset"),
        F.lit(1).cast("long").alias("txn_order"),
        F.lit(1).cast("long").alias("pk"),
        F.lit(None).cast("int").alias("payload_k"),
        F.lit(None).cast("double").alias("payload_val"),
        F.lit(None).cast("double").alias("previous_payload_val"),
    )
    rows = envelope_to_avro(base).collect()
    assert len(rows) == 1 and len(rows[0].value) > 0


# --- ddl_parser: placement with trailing attribute clauses ----------------

def test_after_placement_survives_trailing_comment():
    from mysql_streamer_spark.schema.ddl_parser import parse_statement

    p = parse_statement(
        "ALTER TABLE db.t ADD office varchar(64) AFTER id COMMENT 'x'"
    )
    (op,) = p.alter_ops
    assert op.position == ("AFTER", "id")


def test_first_placement_survives_trailing_comment():
    from mysql_streamer_spark.schema.ddl_parser import parse_statement

    p = parse_statement("ALTER TABLE db.t ADD office varchar(64) FIRST COMMENT 'x'")
    (op,) = p.alter_ops
    assert op.position == "FIRST"


def test_column_named_first_is_not_a_placement():
    from mysql_streamer_spark.schema.ddl_parser import parse_statement

    p = parse_statement("ALTER TABLE db.t ADD first varchar(10)")
    (op,) = p.alter_ops
    assert op.column == "first" and op.position is None


def test_quoted_after_in_comment_is_not_a_placement():
    from mysql_streamer_spark.schema.ddl_parser import parse_statement

    p = parse_statement(
        "ALTER TABLE db.t ADD office varchar(64) COMMENT 'insert AFTER id'"
    )
    (op,) = p.alter_ops
    assert op.position is None


def test_double_quoted_after_in_comment_is_not_a_placement():
    """MySQL's default sql_mode allows double-quoted string literals;
    FIRST/AFTER inside one must not register as a placement."""
    from mysql_streamer_spark.schema.ddl_parser import parse_statement

    p = parse_statement(
        'ALTER TABLE db.t ADD office varchar(64) COMMENT "insert AFTER id"'
    )
    (op,) = p.alter_ops
    assert op.position is None
    p2 = parse_statement('ALTER TABLE db.t ADD office varchar(64) COMMENT "FIRST"')
    (op2,) = p2.alter_ops
    assert op2.position is None
    # placement BEFORE a double-quoted comment still registers
    p3 = parse_statement(
        'ALTER TABLE db.t ADD office varchar(64) AFTER id COMMENT "x"'
    )
    (op3,) = p3.alter_ops
    assert op3.position == ("AFTER", "id")


def test_placement_applies_in_registry_replay():
    """End-to-end: the trailing-COMMENT placement must actually position
    the column in the replayed schema, not silently append it."""
    from mysql_streamer_spark.schema.registry import SchemaRegistry

    reg = SchemaRegistry()
    reg.apply_statement(
        "CREATE TABLE t (id int NOT NULL, z int)", default_database="db"
    )
    reg.apply_statement(
        "ALTER TABLE t ADD office varchar(8) AFTER id COMMENT 'desk'",
        default_database="db",
    )
    assert [f.name for f in reg.get("db", "t").struct.fields] == [
        "id",
        "office",
        "z",
    ]


# --- positions: heartbeat epoch must be timezone-independent --------------

def test_heartbeat_epoch_invariant_under_session_timezone(spark):
    from datetime import datetime, timezone

    from mysql_streamer_spark.cdc.positions import position_for_timestamp

    epoch = 1704067200  # 2024-01-01T00:00:00Z, a fixed absolute instant
    target = datetime.fromtimestamp(epoch, tz=timezone.utc)
    hb = spark.sql(
        f"SELECT 1L AS serial, timestamp_seconds({epoch}) AS timestamp,"
        " 'binlog.000001' AS log_file, 100L AS log_pos"
    )
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        utc_pos = position_for_timestamp(hb, target, serial=1)
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        la_pos = position_for_timestamp(hb, target, serial=1)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    # same heartbeat instant -> same absolute epoch, whatever zone the
    # session rendered the collected naive datetime in
    assert utc_pos is not None and la_pos is not None
    assert utc_pos.hb_timestamp == la_pos.hb_timestamp == float(epoch)
