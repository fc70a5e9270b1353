"""Spans around the ingest job's public calls, and the per-layer
metrics computed from them.

Spans are timed from the benchmark's side only: :meth:`Tracer.wrap`
replaces an instance attribute of the job (``job.plan``,
``job.table.write_batch``, ...) with a timed wrapper, so the program
runs unmodified. Every span records its name, start, end, parent span
and batch id; spans stay in memory and are written out at the end.

A traced run traces every even-numbered batch and leaves the odd ones
bare, so the same run also measures what tracing costs
(``trace.overhead``).
"""

from __future__ import annotations

import datetime as dt
import functools
import statistics
import time


def batch_traced(batch_id: int) -> bool:
    return batch_id % 2 == 0


class Tracer:
    """Records spans while :attr:`batch` is set to a traced batch id."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[dict] = []
        self.batch: int | None = None
        self._stack: list[int] = []

    def call(self, name: str, fn, *args, **kwargs):
        if self.batch is None:
            return fn(*args, **kwargs)
        span = {
            "name": name,
            "start": self.clock(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "batch": self.batch,
        }
        self._stack.append(len(self.spans))
        self.spans.append(span)
        try:
            result = fn(*args, **kwargs)
            # a commit's table version, or the DLQ's row count
            if hasattr(result, "version"):
                span["version"] = result.version
            elif isinstance(result, int):
                span["result"] = result
            return result
        finally:
            span["end"] = self.clock()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        setattr(owner, attr, traced)


def _ms(span: dict) -> float:
    return (span["end"] - span["start"]) * 1000.0


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def span_layers(spans: list[dict], log_format: str, first: int) -> dict[str, float]:
    """Per-layer medians over traced batches from batch ``first`` on.

    The root span of each batch is ``process_batch``; its self time is
    its duration minus that of its direct children."""
    roots, child_ms, plan_ms = [], {}, {}
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        b = s["batch"]
        if b < first:
            continue
        by_name.setdefault(s["name"], []).append(s)
        if s["parent"] is None:
            roots.append(s)
        elif spans[s["parent"]]["parent"] is None:
            child_ms[b] = child_ms.get(b, 0.0) + _ms(s)
        if s["name"] in ("plan", "split"):
            plan_ms[b] = plan_ms.get(b, 0.0) + _ms(s)
    writes = by_name.get("write_batch", [])

    def checkpointed(s: dict) -> bool:
        # Delta writes a checkpoint with every tenth version.
        v = s.get("version")
        return log_format == "delta" and isinstance(v, int) and v > 0 and v % 10 == 0

    ckpt = [_ms(s) for s in writes if checkpointed(s)]
    other = [_ms(s) for s in writes if not checkpointed(s)]
    return {
        "ingest.self_ms": _median(_ms(r) - child_ms.get(r["batch"], 0.0) for r in roots),
        "ingest.plan_ms": _median(plan_ms.values()),
        "sink.write_batch_ms": _median(_ms(s) for s in writes),
        "sink.table_schema_ms": _median(_ms(s) for s in by_name.get("table_schema", [])),
        "sink.checkpoint_extra_ms": _median(ckpt) - _median(other) if ckpt else 0.0,
        "dead_letters.write_ms": _median(_ms(s) for s in by_name.get("dlq_write", [])),
        "dead_letters.rows": _median(s.get("result", 0) for s in by_name.get("dlq_write", [])),
    }


def _epoch_s(stamp: str) -> float:
    return dt.datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


def streaming_layers(progress: list[dict], drain_end_epoch: float,
                     first: int) -> dict[str, float]:
    """Engine time outside ``addBatch`` from the query's progress
    reports (Structured Streaming's per-trigger ``durationMs``).

    ``progress`` holds one report per trigger; batches before ``first``
    are excluded. The drain window runs from the start of batch
    ``first``'s trigger to the moment the query was seen terminated.
    Every batch holds the same number of messages, so a ratio of
    trigger times is a ratio of throughputs."""
    trig = sorted(
        (p for p in progress if p["batchId"] >= first and p["numInputRows"] > 0),
        key=lambda p: p["batchId"],
    )
    if not trig:
        return {}
    starts = [_epoch_s(p["timestamp"]) for p in trig]
    execs = [p["durationMs"]["triggerExecution"] / 1000.0 for p in trig]
    gaps = [
        (starts[i + 1] - starts[i] - execs[i]) * 1000.0
        for i in range(len(trig) - 1)
    ]
    covered = sum(execs) + sum(gaps) / 1000.0
    wall = drain_end_epoch - starts[0]

    # Traced over bare throughput: each traced batch against the mean
    # of its two bare neighbours, so a warm-up trend cancels out.
    exec_ms = {p["batchId"]: p["durationMs"]["triggerExecution"] for p in trig}
    overhead = [
        (exec_ms[b - 1] + exec_ms[b + 1]) / 2 / exec_ms[b]
        for b in exec_ms
        if batch_traced(b) and b - 1 in exec_ms and b + 1 in exec_ms
    ]
    return {
        "streaming.overhead_ms": _median(
            p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0)
            for p in trig
        ),
        "streaming.wal_ms": _median(
            p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0)
            for p in trig
        ),
        "streaming.idle_ms": _median(gaps),
        "trace.coverage": covered / wall if wall > 0 else 0.0,
        "trace.overhead": _median(overhead),
    }
