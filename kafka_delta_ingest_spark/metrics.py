"""Observability: statsd metrics with the reference's metric names.

The reference emits counters/timers/gauges under the prefix
``kafka_delta_ingest`` through a queued statsd scope (reference
src/metrics.rs:221-301, 311-332). Here the same metric names are fed
from two Spark-native places:

* per-batch counters/gauges from ``IngestJob.process_batch`` (the
  foreachBatch body replaces the reference's run loop callsites,
  src/lib.rs:436-521);
* a ``StreamingQueryListener`` that maps Spark's progress events onto
  the batch/write lifecycle metrics (SURVEY M1: most of the
  reference's metric surface is covered by ``query.lastProgress``).

Transport is plain UDP statsd lines (``name:value|type``) — no client
library dependency; with no endpoint configured the sink buffers
in-process (tests read it directly).
"""

from __future__ import annotations

import socket
import time
from dataclasses import dataclass, field

DEFAULT_PREFIX = "kafka_delta_ingest"  # reference src/metrics.rs:321

# Metric names: reference src/metrics.rs:228-299.
MESSAGE_DESERIALIZED = "messages.deserialization.completed"
MESSAGE_DESERIALIZATION_FAILED = "messages.deserialization.failed"
MESSAGE_TRANSFORM_COMPLETED = "messages.transform.completed"
MESSAGE_TRANSFORM_FAILED = "messages.transform.failed"
RECORD_BATCH_STARTED = "recordbatch.started"
RECORD_BATCH_COMPLETED = "recordbatch.completed"
DELTA_WRITE_STARTED = "delta.write.started"
DELTA_WRITE_COMPLETED = "delta.write.completed"
DELTA_WRITE_FAILED = "delta.write.failed"
RECORD_BATCH_WRITE_DURATION = "recordbatch.write_duration"
DELTA_WRITE_DURATION = "delta.write.duration"
BUFFERED_RECORD_BATCHES = "buffered.record_batches"
MESSAGE_SIZE = "messages.size"
DELTA_ADD_FILE_SIZE = "delta.add.size"
BUFFER_LAG_TOTAL = "buffer.lag.total"
BUFFER_LAG_MAX = "buffer.lag.max"
BUFFER_LAG_MIN = "buffer.lag.min"
DELTA_WRITE_LAG_TOTAL = "delta.write.lag.total"


@dataclass
class IngestMetrics:
    """Queued statsd emitter (reference src/metrics.rs IngestMetrics)."""

    endpoint: str | None = None
    prefix: str = DEFAULT_PREFIX
    buffer: list[tuple[str, float, str]] = field(default_factory=list)

    def __post_init__(self):
        self._sock = None
        self._addr = None
        if self.endpoint:
            host, port = self.endpoint.rsplit(":", 1)
            self._addr = (host, int(port))
            self._sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)

    # -- statsd primitives --------------------------------------------------

    def _emit(self, name: str, value: float, kind: str) -> None:
        self.buffer.append((name, value, kind))
        if self._sock is not None:
            line = f"{self.prefix}.{name}:{value}|{kind}"
            try:
                self._sock.sendto(line.encode(), self._addr)
            except OSError:  # metrics must never fail the pipeline
                pass

    def count(self, name: str, value: int = 1) -> None:
        self._emit(name, value, "c")

    def timer_ms(self, name: str, millis: float) -> None:
        self._emit(name, millis, "ms")

    def gauge(self, name: str, value: float) -> None:
        self._emit(name, value, "g")

    # -- batch lifecycle (called from IngestJob.process_batch) --------------

    def record_batch(
        self,
        deserialized: int,
        deserialize_failed: int,
        transform_failed: int,
        write_duration_s: float,
        add_file_bytes: int,
        message_bytes: int,
    ) -> None:
        self.count(RECORD_BATCH_STARTED)
        # ``deserialized`` already excludes the deserialization failures
        # (reference increments per-message on each outcome).
        self.count(MESSAGE_DESERIALIZED, deserialized)
        self.count(MESSAGE_DESERIALIZATION_FAILED, deserialize_failed)
        self.count(MESSAGE_TRANSFORM_COMPLETED, deserialized - transform_failed)
        self.count(MESSAGE_TRANSFORM_FAILED, transform_failed)
        self.count(RECORD_BATCH_COMPLETED)
        self.count(DELTA_WRITE_STARTED)
        self.count(DELTA_WRITE_COMPLETED)
        self.timer_ms(DELTA_WRITE_DURATION, write_duration_s * 1000.0)
        self.gauge(DELTA_ADD_FILE_SIZE, add_file_bytes)
        self.gauge(BUFFERED_RECORD_BATCHES, 0)
        # payload bytes of the batch's messages
        self.count(MESSAGE_SIZE, message_bytes)

    def totals(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for name, value, kind in self.buffer:
            if kind == "c":
                out[name] = out.get(name, 0) + value
            else:
                out[name] = value
        return out


class ProgressListener:
    """StreamingQueryListener → statsd bridge (SURVEY M1/M2).

    Maps ``lastProgress`` onto the reference's write metrics; Kafka
    source lag (`buffer.lag.*`) comes from the progress `sources[].
    metrics` when the Kafka connector reports them.
    """

    def __init__(self, metrics: IngestMetrics):
        self.metrics = metrics

    def attach(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                outer.metrics.timer_ms(
                    RECORD_BATCH_WRITE_DURATION,
                    p.durationMs.get("addBatch", 0) if p.durationMs else 0,
                )
                outer.metrics.gauge("batch.num_input_rows", p.numInputRows)
                for src in p.sources or []:
                    lag = (src.metrics or {}).get("estimatedTotalBytesBehindLatest")
                    if lag is not None:
                        outer.metrics.gauge(BUFFER_LAG_TOTAL, float(lag))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _L()
        spark.streams.addListener(self._listener)

    def detach(self, spark) -> None:
        spark.streams.removeListener(self._listener)


def timed(fn):
    """(result, seconds) helper for write-duration metrics."""
    t0 = time.perf_counter()
    result = fn()
    return result, time.perf_counter() - t0
