"""Per-table Confluent payload encode, in process and without Spark: the
per-row path (``to_pylist`` + one ``compile_encoder`` call per row) against
the numpy batch kernel ``payload_to_confluent`` runs (``_payload_kernel``).

Builds a seeded flat batch of envelope payload rows over every registry
schema id (nulls in ``payload_k``/``payload_val``, full int32/int64 ranges,
doubles across all exponents), encodes it in Arrow batches of ``--batch``
rows (Spark's default ``maxRecordsPerBatch`` is 10000) with both paths,
checks that their frames are byte-identical, and prints one JSON line with
each path's best-of-``--reps`` time in µs/row.

Usage: python tools/wire_kernel_probe.py [--rows 40000] [--batch 10000]
                                         [--reps 5] [--seed 1]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def seeded_batch(rows: int, seed: int, ids: list[int]):
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    doubles = rng.standard_normal(rows) * 10.0 ** rng.integers(-300, 300, rows)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(rng.choice(ids, rows).astype(np.int32)),
            pa.array(np.arange(rows, dtype=np.int64)),
            pa.array(rng.integers(-(2**63), 2**63 - 1, rows, dtype=np.int64)),
            pa.array(
                rng.integers(-(2**31), 2**31, rows).astype(np.int32),
                mask=rng.random(rows) < 0.1,
            ),
            pa.array(doubles, mask=rng.random(rows) < 0.1),
        ],
        ["schema_id", "txn_order", "pk", "payload_k", "payload_val"],
    )


def row_encoder(schemas: dict):
    """The per-row path: each row's header plus its table schema's
    compile_encoder over the row's payload record."""
    import pyarrow as pa

    from mysql_streamer_spark.connectors.avro_wire import (
        _PAYLOAD_FIELD_MAP,
        _confluent_header,
        compile_encoder,
    )

    encoders = {
        sid: (
            _confluent_header(sid),
            compile_encoder(schema),
            [(f["name"], _PAYLOAD_FIELD_MAP.get(f["name"])) for f in schema["fields"]],
        )
        for sid, schema in schemas.items()
    }

    def encode(batch):
        out = []
        for row in batch.to_pylist():
            head, enc, names = encoders[row["schema_id"]]
            buf = bytearray(head)
            enc({name: row.get(column) for name, column in names}, buf)
            out.append(bytes(buf))
        return pa.array(out, pa.binary())

    return encode


def best_us_per_row(encode, batches, rows: int, reps: int) -> tuple[float, list]:
    best, out = float("inf"), []
    for _ in range(reps):
        t = time.perf_counter()
        out = [encode(b) for b in batches]
        best = min(best, time.perf_counter() - t)
    return best / rows * 1e6, out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rows", type=int, default=40_000)
    ap.add_argument("--batch", type=int, default=10_000)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    from functools import partial

    from mysql_streamer_spark.connectors.avro_wire import (
        _payload_kernel,
        _payload_plans,
        registry_payload_schemas,
    )

    schemas = registry_payload_schemas()
    batch = seeded_batch(args.rows, args.seed, sorted(schemas))
    batches = [batch.slice(i, args.batch) for i in range(0, args.rows, args.batch)]
    row_us, row_out = best_us_per_row(row_encoder(schemas), batches, args.rows, args.reps)
    kernel = partial(_payload_kernel, *_payload_plans())
    kernel_us, kernel_out = best_us_per_row(kernel, batches, args.rows, args.reps)
    identical = all(a.equals(b) for a, b in zip(row_out, kernel_out, strict=True))
    print(
        json.dumps(
            {
                "rows": args.rows,
                "batch": args.batch,
                "seed": args.seed,
                "row_us_per_row": round(row_us, 3),
                "kernel_us_per_row": round(kernel_us, 3),
                "speedup": round(row_us / kernel_us, 1),
                "byte_identical": identical,
                "arrow_nbytes": sum(a.nbytes for a in kernel_out),
            }
        )
    )
    return 0 if identical else 1


if __name__ == "__main__":
    sys.exit(main())
