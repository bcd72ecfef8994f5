"""Measure the per-micro-batch FIXED cost of the streaming plane — the
irreducible floor every streaming bench number sits on (VERDICT r7 #4).

Method: stream the same events feed through the pluggable Python source
into a count-only foreachBatch sink, varying ONLY the number of
micro-batches (batch_rows = ceil(total / N)); the data volume, plan, and
sink are held fixed, so wall(N) ≈ base + N * c where c is the per-batch
fixed cost (trigger + offset commit + plan + task scheduling) and base is
the one-time stream start/stop + the single pass over the data.

Prints one JSON line per N plus a fitted summary line.

Usage: python tools/streaming_floor.py [sf_dir]
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def run_once(spark, sf_dir: str, n_batches: int) -> tuple[float, int]:
    import pyarrow.parquet as pq

    from mysql_streamer_spark.connectors.python_source import (
        _parquet_files,
        stream_events_from_python_source,
    )
    from mysql_streamer_spark.tables import table_path

    total = sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in _parquet_files(table_path(sf_dir, "events"))
    )
    ckpt = tempfile.mkdtemp(prefix=f"mss_floor_{n_batches}_")
    seen = {"batches": 0}

    def handle(batch_df, batch_id) -> None:
        batch_df.count()
        seen["batches"] += 1

    src = stream_events_from_python_source(
        spark, sf_dir, batch_rows=max(1, -(-total // n_batches))
    )
    t0 = time.time()
    q = (
        src.writeStream.foreachBatch(handle)
        .option("checkpointLocation", f"{ckpt}/ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return time.time() - t0, seen["batches"]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from mysql_streamer_spark.session import get_spark

    spark = get_spark("streaming_floor")
    # warm: one throwaway stream so N=1 is not charged the first-stream
    # JVM/source initialization
    run_once(spark, sf_dir, 1)

    points: list[tuple[int, float]] = []
    for n in (1, 2, 4, 8):
        # min-of-2 per N (the bench discipline: host steal bursts)
        best, batches = min(
            (run_once(spark, sf_dir, n) for _ in range(2)), key=lambda t: t[0]
        )
        points.append((batches, best))
        print(
            json.dumps(
                {"probe": "streaming_floor", "n_batches": batches,
                 "sec": round(best, 3)}
            ),
            flush=True,
        )
    # least-squares fit wall = base + c * n
    n_mean = sum(n for n, _ in points) / len(points)
    t_mean = sum(t for _, t in points) / len(points)
    c = sum((n - n_mean) * (t - t_mean) for n, t in points) / sum(
        (n - n_mean) ** 2 for n, _ in points
    )
    base = t_mean - c * n_mean
    print(
        json.dumps(
            {
                "probe": "streaming_floor_fit",
                "per_batch_fixed_sec": round(c, 3),
                "base_sec": round(base, 3),
                "sf_dir": sf_dir,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
