"""Fused secure-wire kernels: seal + Avro-encode and decode + open, each
as ONE ``mapInArrow`` stage.

Why this module exists (optimization guide §4, the Python boundary): the
composed encrypted-publish path costs FOUR Python stage boundaries —

    cipher pandas-UDF -> Avro mapInArrow encode   (publish side)
    Avro mapInArrow decode -> cipher pandas-UDF   (consume side)

Each boundary pays Arrow serialization both ways plus a Python worker
round trip, and the cost is independent of parallelism (measured: a
32-way spread of the feed moved cdc_secure_wire_roundtrip by <1%). Every
Avro codec in this package runs as a Python kernel (``avro_wire.py``'s
encode and decode drivers), so fusing the cipher into the codec kernel
halves the boundaries without changing where the work runs.

The fusion changes WHERE the per-row work happens, never WHAT it is:

- the JVM still computes the canonical-JSON plaintext (``to_json``), the
  deterministic/random IV, the derived previous-payload IV, and the
  restored payload columns (``from_json``) — exactly the expressions the
  composed operators build, so float formatting and null semantics are
  byte-identical;
- the kernels call the SAME ``_seal``/``_open`` cipher primitives, the
  SAME compiled Avro encoder/decoder and the SAME encode/decode drivers as
  the composed path, so the envelope columns and the ``meta_ok`` witness
  come from ``avro_wire.py``'s one layout.

``tests/test_secure_wire_fused.py`` pins both directions differentially
against the composed operators (wire bytes bit-for-bit, restored rows
value-equal, ring + tamper behavior), so the fused kernels cannot drift
from the individually-verified cipher and codec operators they compose.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mysql_streamer_spark.cdc.encryption import (
    PAYLOAD_FIELDS,
    PREVIOUS_PAYLOAD_FIELDS,
    EncryptionConfig,
    _message_iv,
    _open,
    _prev_iv,
    _random_iv_udf,
    _restore_payload_columns,
    _seal,
)
from mysql_streamer_spark.connectors.avro_wire import (
    SECURE_ENVELOPE_SCHEMA,
    _decode_envelopes,
    _decode_frame,
    _encode_map,
    _flat_frame,
    _flat_names,
    _meta_for_row,
    _row_kernel,
    compile_decoder,
    compile_encoder,
)

#: secure-envelope fields the JVM hands the fused encode kernel verbatim
#: (everything but the two ciphertexts, which the kernel itself produces)
_PLAIN_FLAT_NAMES = [
    n
    for n in _flat_names(SECURE_ENVELOPE_SCHEMA)
    if n not in ("payload_ciphertext", "previous_payload_ciphertext")
]


def _prev_iv_py(iv: bytes) -> bytes:
    """Python twin of encryption._prev_iv — ``unhex(md5(hex(iv)))`` with
    Spark's ``hex`` semantics (uppercase digits). Pinned equivalent by
    test_secure_wire_fused.py::test_prev_iv_python_matches_jvm."""
    import hashlib

    return hashlib.md5(bytes(iv).hex().upper().encode("ascii")).digest()


def _resolve_ring(config_or_ring) -> dict[str, bytes]:
    if isinstance(config_or_ring, EncryptionConfig):
        return {config_or_ring.encryption_type: config_or_ring.load_key()}
    return dict(config_or_ring)


def seal_to_avro(
    env: DataFrame,
    config_or_ring,
    etype_col: "F.Column | None" = None,
    iv_mode: str = "deterministic",
) -> DataFrame:
    """Envelope -> encrypted secure-envelope Avro bytes in ONE Python
    stage. Equivalent to
    ``secure_envelope_to_avro(encrypt_envelope(env, cfg))`` (or the
    ``_with_ring`` form when ``etype_col`` routes rows to key
    generations) — bit-for-bit on the wire, pinned differentially."""
    ring = _resolve_ring(config_or_ring)
    if etype_col is None:
        if len(ring) != 1:
            raise ValueError("etype_col is required with a multi-key ring")
        etype_col = F.lit(next(iter(ring)))
    if iv_mode == "deterministic":
        iv = _message_iv(env.columns)
    elif iv_mode == "random":
        iv = _random_iv_udf()(F.lit(1))
    else:
        raise ValueError(
            f"iv_mode must be 'deterministic' or 'random', got {iv_mode!r}"
        )
    # the exact plaintext expressions _encrypt_with_ring builds: canonical
    # JSON on the JVM so float formatting never enters Python
    payload_json = F.to_json(F.struct(*[F.col(c) for c in PAYLOAD_FIELDS]))
    prev_json = F.when(
        F.col("previous_payload_val").isNotNull(),
        F.to_json(F.struct(*[F.col(c) for c in PREVIOUS_PAYLOAD_FIELDS])),
    )
    flat = env.withColumn("encryption_type", etype_col).withColumn(
        "initialization_vector", iv
    )
    flat = _flat_frame(
        flat,
        _PLAIN_FLAT_NAMES,
        _prev_iv(F.col("initialization_vector")).alias("__prev_iv"),
        payload_json.cast("binary").alias("__payload_json"),
        prev_json.cast("binary").alias("__prev_json"),
    )
    enc = compile_encoder(SECURE_ENVELOPE_SCHEMA)

    def encode_row(row: dict, out: bytearray) -> None:
        etype = row["encryption_type"]
        key = ring.get(etype)
        if key is None:
            raise ValueError(f"no key in ring for encryption_type {etype!r}")
        miv = row["initialization_vector"]
        pj, qj = row["__payload_json"], row["__prev_json"]
        row["payload_ciphertext"] = None if pj is None else _seal(key, pj, miv)
        row["previous_payload_ciphertext"] = (
            None if qj is None else _seal(key, qj, row["__prev_iv"])
        )
        row["meta"] = _meta_for_row(row, meta_version=1)
        enc(row, out)

    return _encode_map(flat, _row_kernel(encode_row))


def avro_open_secure_envelope(wire: DataFrame, config_or_ring) -> DataFrame:
    """Secure-envelope Avro bytes -> decoded columns WITH the payloads
    decrypted, in ONE Python stage: exactly avro_to_secure_envelope's
    columns (so consumer-side expressions like cipher_ok read unchanged)
    plus the two decrypted JSON strings. Equivalent to
    ``decrypt_envelope(avro_to_secure_envelope(wire), cfg)`` up to the
    JVM ``from_json`` restore — apply :func:`restore_opened_payloads`
    for the fully restored envelope. A tampered ciphertext still fails
    HMAC-first (same ``_open``), an unknown encryption_type still fails
    loudly (same no-key-in-ring error)."""
    import pyarrow as pa

    ring = _resolve_ring(config_or_ring)
    dec = compile_decoder(SECURE_ENVELOPE_SCHEMA)

    def records(raw: bytes):
        rec = _decode_frame(dec, raw)
        etype = rec["encryption_type"]
        key = ring.get(etype)
        if key is None:
            raise ValueError(f"no key in ring for encryption_type {etype!r}")
        miv = rec["initialization_vector"]
        ct, qt = rec["payload_ciphertext"], rec["previous_payload_ciphertext"]
        # strict decode is safe by invariant: _seal only ever encrypts
        # UTF-8 JSON the JVM rendered with to_json, so authenticated
        # plaintext is always valid UTF-8 (the composed path's
        # binary->string cast would silently replace invalid bytes;
        # nothing can produce them here, and HMAC rejects foreign
        # ciphertext before decode)
        rec["payload_plain"] = (
            None if ct is None else _open(key, ct, miv).decode("utf-8")
        )
        rec["previous_payload_plain"] = (
            None if qt is None else _open(key, qt, _prev_iv_py(miv)).decode("utf-8")
        )
        return (rec,)

    plain = [
        pa.field("payload_plain", pa.string()),
        pa.field("previous_payload_plain", pa.string()),
    ]
    return _decode_envelopes(wire, SECURE_ENVELOPE_SCHEMA, records, plain)


def restore_opened_payloads(opened: DataFrame) -> DataFrame:
    """JVM half of the consumer restore: ``from_json`` the decrypted JSON
    strings back into the typed payload columns — the same expressions
    (and drops) as encryption._restore_payload_columns, so the restored
    envelope is column-identical to the composed decrypt path."""
    return _restore_payload_columns(
        opened,
        F.col("payload_plain"),
        F.col("previous_payload_plain"),
    ).drop("payload_plain", "previous_payload_plain")
