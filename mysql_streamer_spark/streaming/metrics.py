"""Streaming metrics (R8): the reference emits per-event-type counters and
a replication-delay gauge with a Sensu alert above
``max_delay_allowed_in_seconds`` (batch/parse_replication_stream_internal.
py:47-88, simple_binlog_stream_reader_wrapper.py:81-124). The Spark-native
form is a StreamingQueryListener over micro-batch progress events:
rows/batch, processing rate, and batch duration come from the engine;
threshold breaches surface as flagged observations instead of a Sensu
client.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

#: Reference alert threshold (failure_recovery_test.py:148).
MAX_DELAY_ALLOWED_SECONDS = 600


@dataclass
class BatchMetric:
    batch_id: int
    num_input_rows: int
    duration_ms: int
    alert: bool
    #: seconds from the batch's trigger start to its commit, derived from
    #: the ENGINE's progress report (triggerExecution duration) — how long
    #: a message arriving at trigger time waited to be committed. This is
    #: the engine's contribution to the reference's replication-delay
    #: gauge (total delay ≤ trigger interval + this). Listener-queue
    #: delay is deliberately excluded (ADVICE r5: wall-clock now() in the
    #: callback inflated p99 with scheduling noise).
    commit_lag_s: float = 0.0


def _percentile(sorted_vals: list[float], q: float) -> float:
    """Nearest-rank percentile over a pre-sorted list (empty -> 0.0)."""
    if not sorted_vals:
        return 0.0
    idx = min(len(sorted_vals) - 1, max(0, int(round(q * (len(sorted_vals) - 1)))))
    return sorted_vals[idx]


@dataclass
class MetricsCollector:
    """Accumulated per-batch metrics for one streaming run."""

    max_batch_seconds: float = MAX_DELAY_ALLOWED_SECONDS
    batches: list[BatchMetric] = field(default_factory=list)

    @property
    def total_rows(self) -> int:
        return sum(b.num_input_rows for b in self.batches)

    @property
    def alerts(self) -> list[BatchMetric]:
        return [b for b in self.batches if b.alert]

    def lag_percentiles(self) -> dict[str, float]:
        """p50/p99/max commit lag across recorded batches (empty-input
        trigger ticks excluded — they commit nothing)."""
        lags = sorted(b.commit_lag_s for b in self.batches if b.num_input_rows > 0)
        return {
            "p50_s": round(_percentile(lags, 0.50), 3),
            "p99_s": round(_percentile(lags, 0.99), 3),
            "max_s": round(lags[-1] if lags else 0.0, 3),
            "batches": len(lags),
        }


class EnvelopeStreamListener(StreamingQueryListener):
    """Attach with ``spark.streams.addListener``; detach with
    ``removeListener`` when the run ends."""

    def __init__(self, collector: MetricsCollector) -> None:
        self.collector = collector

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        duration = p.durationMs["triggerExecution"]
        self.collector.batches.append(
            BatchMetric(
                batch_id=p.batchId,
                num_input_rows=p.numInputRows,
                duration_ms=duration,
                alert=duration / 1000.0 > self.collector.max_batch_seconds,
                # trigger start + triggerExecution IS the commit instant, so
                # the lag is the engine's own duration — immune to how long
                # this callback sat in the listener queue
                commit_lag_s=duration / 1000.0,
            )
        )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass
