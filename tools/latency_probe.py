"""Streaming-latency SLO probe (VERDICT r4 item 4).

Drives the custom Python stream source (connectors/python_source.py) ->
envelope pipeline -> manifest sink under ``trigger(processingTime='1
second')`` and records per-micro-batch commit lag from the
StreamingQueryListener (streaming/metrics.py). The reference's SLO is the
replication-delay gauge with a 600 s alert threshold
(simple_binlog_stream_reader_wrapper.py:102-108,
failure_recovery_test.py:148): a message arriving at trigger time is
committed at most (trigger interval + commit lag) later, so the printed
p50/p99 bound the engine's contribution to that gauge.

Usage: python tools/latency_probe.py [sf_dir] [n_batches]
Prints one JSON line with p50/p99/max commit lag + throughput.
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 20

    import pyarrow.parquet as pq

    from mysql_streamer_spark.cdc.pipeline import envelope_pipeline_df
    from mysql_streamer_spark.connectors.manifest_sink import (
        read_all_committed,
        register_manifest_sink,
    )
    from mysql_streamer_spark.connectors.python_source import (
        _parquet_files,
        stream_events_from_python_source,
    )
    from mysql_streamer_spark.session import get_spark
    from mysql_streamer_spark.streaming.metrics import (
        EnvelopeStreamListener,
        MetricsCollector,
    )
    from mysql_streamer_spark.tables import table_path

    spark = get_spark("latency_probe")
    register_manifest_sink(spark)

    total = sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in _parquet_files(table_path(sf_dir, "events"))
    )
    batch_rows = max(500, total // n_batches)
    work = tempfile.mkdtemp(prefix="mss_latency_probe_")
    out, ckpt = f"{work}/out", f"{work}/ckpt"

    collector = MetricsCollector()
    listener = EnvelopeStreamListener(collector)
    spark.streams.addListener(listener)

    env = envelope_pipeline_df(
        stream_events_from_python_source(spark, sf_dir, batch_rows=batch_rows)
    )
    t0 = time.time()
    q = (
        env.writeStream.format("manifest_sink")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        # drain: wait until the offset-tracked source reports no new rows
        # for a few consecutive ticks
        idle_ticks = 0
        while idle_ticks < 4:
            time.sleep(1.0)
            prog = q.lastProgress
            if prog is not None and prog.get("numInputRows", 0) == 0:
                idle_ticks += 1
            else:
                idle_ticks = 0
    finally:
        q.stop()
        spark.streams.removeListener(listener)
    wall = time.time() - t0

    committed = read_all_committed(spark, out).count()
    lags = collector.lag_percentiles()
    print(
        json.dumps(
            {
                "probe": "streaming_latency_slo",
                "sf_dir": sf_dir,
                "trigger": "processingTime=1s",
                "source_rows": total,
                "committed_rows": committed,
                "batch_rows": batch_rows,
                "commit_lag": lags,
                "rows_per_sec": round(collector.total_rows / max(wall, 1e-9)),
                "alert_threshold_s": collector.max_batch_seconds,
                "alerts": len(collector.alerts),
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
