"""The Avro codec's shared decode path and its structure: every frame
decoder rejects trailing bytes (and the Confluent decoder a short header)
through the one decode driver, and the three codec modules run
``mapInArrow`` only in the encode/decode drivers and the OCF sink."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

CONNECTORS = Path(__file__).resolve().parent.parent / "mysql_streamer_spark" / "connectors"
CODEC_MODULES = ("avro_wire.py", "secure_wire.py", "avro_file.py")

#: the functions that may call ``mapInArrow`` in the codec modules
MAP_IN_ARROW_SITES = {
    "avro_wire.py::_encode_map",
    "avro_wire.py::_decode_map",
    "avro_file.py::write_envelope_avro_files",
}


@pytest.fixture(scope="module")
def cfg():
    from mysql_streamer_spark.cdc.encryption import (
        EncryptionConfig,
        resource_key_location,
    )

    return EncryptionConfig("AES_MODE_CBC-1", resource_key_location())


@pytest.fixture(scope="module")
def frames(spark, sf_dir, cfg):
    """One valid frame per wire format, from one envelope row."""
    from mysql_streamer_spark.cdc.pipeline import envelope_pipeline
    from mysql_streamer_spark.connectors.avro_wire import (
        envelope_to_avro,
        envelope_to_confluent,
    )
    from mysql_streamer_spark.connectors.secure_wire import seal_to_avro

    env = envelope_pipeline(spark, sf_dir).orderBy("txn_order").limit(1).cache()
    out = {
        "avro": envelope_to_avro(env).first().value,
        "secure": seal_to_avro(env, cfg).first().value,
        "confluent": envelope_to_confluent(
            env.withColumn("wire_schema_id", F.lit(1002))
        ).first().value,
    }
    env.unpersist()
    return {k: bytes(v) for k, v in out.items()}


def _avro_to_envelope(wire, cfg):
    from mysql_streamer_spark.connectors.avro_wire import avro_to_envelope

    return avro_to_envelope(wire)


def _avro_to_secure_envelope(wire, cfg):
    from mysql_streamer_spark.connectors.avro_wire import avro_to_secure_envelope

    return avro_to_secure_envelope(wire)


def _confluent_to_envelope(wire, cfg):
    from mysql_streamer_spark.connectors.avro_wire import confluent_to_envelope

    return confluent_to_envelope(wire)


def _avro_open_secure_envelope(wire, cfg):
    from mysql_streamer_spark.connectors.secure_wire import avro_open_secure_envelope

    return avro_open_secure_envelope(wire, cfg)


@pytest.mark.parametrize(
    "decode, fmt, corrupt, error",
    [
        (_avro_to_envelope, "avro", lambda b: b + b"\x00", "trailing bytes"),
        (_avro_to_secure_envelope, "secure", lambda b: b + b"\x00", "trailing bytes"),
        (_confluent_to_envelope, "confluent", lambda b: b + b"\x00", "trailing bytes"),
        (_avro_open_secure_envelope, "secure", lambda b: b + b"\x00", "trailing bytes"),
        (
            _confluent_to_envelope,
            "confluent",
            lambda b: b[:4],
            "shorter than the Confluent header",
        ),
    ],
    ids=[
        "avro_to_envelope-trailing",
        "avro_to_secure_envelope-trailing",
        "confluent_to_envelope-trailing",
        "avro_open_secure_envelope-trailing",
        "confluent_to_envelope-short",
    ],
)
def test_frame_decoders_reject_malformed_frames(
    spark, frames, cfg, decode, fmt, corrupt, error
):
    wire = spark.createDataFrame([(corrupt(frames[fmt]),)], "value binary")
    with pytest.raises(Exception, match=error):
        decode(wire, cfg).collect()


def _trees():
    for name in CODEC_MODULES:
        yield name, ast.parse((CONNECTORS / name).read_text())


def _map_in_arrow_callers() -> set[str]:
    """``module::function`` of the innermost function around every
    ``.mapInArrow(`` call (``<module>`` for a call outside any function)."""
    found = set()

    def visit(node: ast.AST, owner: str, name: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            owner = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "mapInArrow"
        ):
            found.add(f"{name}::{owner}")
        for child in ast.iter_child_nodes(node):
            visit(child, owner, name)

    for name, tree in _trees():
        visit(tree, "<module>", name)
    return found


def test_map_in_arrow_only_in_the_drivers_and_the_ocf_sink():
    assert _map_in_arrow_callers() == MAP_IN_ARROW_SITES


def test_secure_and_file_codecs_do_not_spell_the_envelope_columns():
    """``ts_us`` is derived from the Avro record in ``avro_wire.py``; a
    literal in the other two modules means they list the columns again."""
    spelled = [
        name
        for name, tree in _trees()
        if name != "avro_wire.py"
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and "ts_us" in node.value
    ]
    assert spelled == []
