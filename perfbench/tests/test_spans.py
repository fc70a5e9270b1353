"""Span bookkeeping and the per-layer arithmetic."""

import itertools

import run
import spans


class _Commit:
    def __init__(self, version):
        self.version = version


class _Job:
    def write(self, v):
        return _Commit(v)

    def dlq(self):
        return 3


def test_spans_nest_and_only_traced_batches_record():
    clock = itertools.count()
    tracer = spans.Tracer(clock=lambda: float(next(clock)))
    job = _Job()
    tracer.wrap(job, "write", "write_batch")
    tracer.wrap(job, "dlq", "dlq_write")

    def batch():
        job.write(10)
        return job.dlq()

    for b in range(3):
        tracer.batch = b if spans.batch_traced(b) else None
        tracer.call("process_batch", batch)
    assert [(s["name"], s["batch"], s["parent"]) for s in tracer.spans] == [
        ("process_batch", 0, None), ("write_batch", 0, 0), ("dlq_write", 0, 0),
        ("process_batch", 2, None), ("write_batch", 2, 3), ("dlq_write", 2, 3),
    ]
    assert tracer.spans[4]["version"] == 10 and tracer.spans[5]["result"] == 3


def test_self_time_subtracts_direct_children():
    def span(name, start, end, parent, batch=1, **kw):
        return {"name": name, "start": start, "end": end, "parent": parent, "batch": batch, **kw}

    trace = [
        span("process_batch", 0.0, 1.0, None),
        span("plan", 0.0, 0.1, 0),
        span("write_batch", 0.2, 0.6, 0, version=10),
        span("table_schema", 0.3, 0.35, 2),  # nested: not a direct child
        span("process_batch", 2.0, 2.5, None, batch=2),
        span("write_batch", 2.0, 2.2, 4, batch=2, version=11),
        span("dlq_write", 2.3, 2.4, 4, batch=2, result=100),
    ]
    layers = spans.span_layers(trace, "delta", 1)
    assert round(layers["ingest.self_ms"], 6) == round((500 + 200) / 2, 6)
    assert layers["dead_letters.rows"] == 100
    assert round(layers["sink.checkpoint_extra_ms"], 6) == 200.0
    assert spans.span_layers(trace, "hudi_mor", 1)["sink.checkpoint_extra_ms"] == 0.0


def test_tail_percentile_leaves_enough_batches_beyond():
    assert run.tail_percentile(100) == 90
    assert run.tail_percentile(40) == 75
    assert run.tail_percentile(12) == 75
    assert run.tail_percentile(3) == 50


def test_streaming_layers_from_progress_reports():
    def report(batch, start_s, exec_ms, add_ms):
        stamp = f"2026-01-01T00:00:{start_s:06.3f}Z"
        return {
            "batchId": batch, "timestamp": stamp, "numInputRows": 500,
            "durationMs": {"triggerExecution": exec_ms, "addBatch": add_ms,
                           "walCommit": 20, "commitOffsets": 10},
        }

    # batches 2..5 take 1 s each, 0.5 s apart at the start; batch 4 is traced
    progress = [report(1, 0.0, 900, 800)] + [
        report(b, 1.5 * (b - 2) + 1.0, 1000, 900) for b in range(2, 6)
    ]
    progress[3]["durationMs"]["triggerExecution"] = 1250  # batch 4
    end = spans._epoch_s("2026-01-01T00:00:06.500Z")
    got = spans.streaming_layers(progress, end, first=2)
    assert got["streaming.wal_ms"] == 30
    assert got["streaming.overhead_ms"] == 100
    assert round(got["trace.overhead"], 6) == 0.8  # 1000 / 1250
    assert round(got["streaming.idle_ms"], 3) == 500.0  # gaps 500, 500, 250
    assert round(got["trace.coverage"], 6) == 1.0
