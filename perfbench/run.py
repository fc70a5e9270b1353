"""Ingest-loop benchmark: drain a Kafka-layout backlog through
``IngestJob.run_stream`` (availableNow), check exactly-once, and report
the work each micro-batch costs and how long it takes.

Usage, from the repository root::

    python3 perfbench/run.py --workload trickle-delta --seed 1 --seconds 12 --trace 0

The generator writes one parquet file per micro-batch before any Spark
code is imported; the stream reads them with ``maxFilesPerTrigger=1``.
The loop is closed: the next batch starts when the previous one
commits. Spark runs as ``local[<cores>]`` with no other client threads.

``--trace 0`` reports the end-to-end metrics: set-up CPU seconds, Spark
jobs and tasks per batch, files per batch and bytes stored. These are
steady from run to run; wall-clock figures are not on a shared host
(see ``cpu.py``), so they are printed as lines but gate nothing.
``--trace 1`` wraps the job's calls in spans (every even batch) and
reports the per-layer metrics, wall-clock figures included. Either way
the last line of stdout is one JSON object, and a detail record
(environment, per-batch times, spans) is written under
``.perfbench/out/``. Work files live under ``.perfbench/work/`` and are
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import cpu  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402

APP_ID = "perfbench"
# The destination of __spark_entry__._ingest_job: date from the ts text,
# Kafka coordinates from the message metadata.
TRANSFORMS = {
    "date": "substr(ts, `0`, `10`)",
    "kafka_offset": "kafka.offset",
    "kafka_partition": "kafka.partition",
}
STREAM_TIMEOUT_S = 110  # a run must end within 180 s
# scan_s is the median of at least SCANS full scans, repeated until they
# span SCAN_SECONDS, so a fast table gets enough samples to be steady
SCANS, SCAN_SECONDS, MAX_SCANS = 3, 2.0, 10
SAMPLE_BATCHES = 4  # message_path.us_per_msg runs the last batches
SAMPLE_PASSES = 2  # ... and reports the best of this many passes
# what SparkContext.setJobGroup sets, restored after each batch
JOB_GROUP_PROPERTIES = ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel")

# Each untraced run gates on these. They count work (Spark jobs and
# tasks, files, bytes) or CPU seconds, not wall time: on a shared host
# the wall clock of the same code swings by up to 2x from minute to
# minute (see cpu.py), so the wall-clock figures are per-layer below.
END_TO_END_UNITS = {
    "setup_s": "s",
    "spark_jobs_per_batch": "count",
    "spark_tasks_per_batch": "count",
    "files_per_batch": "count",
    "log_bytes_per_commit": "B",
    "stored_bytes_per_msg": "B",
}
PER_LAYER_UNITS = {
    "engine.msgs_per_s": "1/s",
    "engine.batch_ms_p50": "ms",
    "engine.batch_ms_tail": "ms",
    "engine.batch_cpu_ms_p50": "ms",
    "engine.setup_wall_s": "s",
    "ingest.self_ms": "ms",
    "ingest.plan_ms": "ms",
    "sink.write_batch_ms": "ms",
    "sink.table_schema_ms": "ms",
    "sink.checkpoint_extra_ms": "ms",
    "dead_letters.write_ms": "ms",
    "dead_letters.rows": "count",
    "message_path.us_per_msg": "us",
    "streaming.overhead_ms": "ms",
    "streaming.wal_ms": "ms",
    "streaming.idle_ms": "ms",
    "reader.scan_s": "s",
    "trace.coverage": "ratio",
    "trace.overhead": "ratio",
}
ALL_UNITS = {**END_TO_END_UNITS, **PER_LAYER_UNITS}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def tail_percentile(n: int) -> int:
    """The highest of p90/p75/p50 with at least ten batches beyond it,
    or, in a run of fewer than 40 batches, a quarter of them."""
    need = max(1.0, min(10.0, n / 4))
    for p in (90, 75):
        if n * (100 - p) / 100 >= need:
            return p
    return 50


def percentile(values: list[float], p: int) -> float:
    """Linear-interpolated percentile (statistics.quantiles, inclusive)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def dir_bytes(path: str, under: str | None = None) -> int:
    """Bytes of the files below ``path``, or only of those below a
    subdirectory named ``under``."""
    total = 0
    for dirpath, _dirs, names in os.walk(path):
        if under is not None and under not in Path(dirpath).relative_to(path).parts:
            continue
        total += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
    return total


def data_files(path: str, log_dir: str) -> int:
    """Data files (parquet bases and Hudi log files) outside the log."""
    n = 0
    for dirpath, _dirs, names in os.walk(path):
        if log_dir in Path(dirpath).relative_to(path).parts:
            continue
        n += sum(
            1 for f in names
            if f.endswith(".parquet") or ".log." in f
        )
    return n


def destination_schema():
    """The 9-column destination of ``__spark_entry__._ingest_job``."""
    from pyspark.sql.types import StructType

    return StructType.fromDDL(
        "event_id bigint, user_id bigint, event_type string, value double, "
        "props string, ts timestamp_ntz, date string, kafka_offset bigint, "
        "kafka_partition int"
    )


def start_spark(work: Path):
    """Import the program and start its session, with every scratch
    directory inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    import tempfile

    tempfile.tempdir = None
    from kafka_delta_ingest_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cpus=cores(),
        extra_conf={
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # no hsperfdata file under the system temp directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def read_dead_letters(spark, path: str) -> list[str | None]:
    """``base64_bytes`` of every DLQ row, through the table's reader."""
    if os.path.isdir(os.path.join(path, "_delta_log")):
        from kafka_delta_ingest_spark.delta_standard import read_delta

        df = read_delta(spark, path)
    elif os.path.isdir(os.path.join(path, "_kdi_log")):
        from kafka_delta_ingest_spark.sinks.delta_like import DeltaLikeTable

        table = DeltaLikeTable(path)
        if not table.files_for():
            return []
        df = table.read(spark)
    else:
        return []
    return [r[0] for r in df.select("base64_bytes").collect()]


def job_counts(sc, batches: list[int]) -> dict[int, tuple[int, int]]:
    """(Spark jobs, tasks run) per batch. Jobs carry the batch's job
    group; jobs from helper threads carry none and are assigned to the
    batch whose grouped job ids bracket them."""
    st = sc.statusTracker()
    grouped = {
        b: sorted(st.getJobIdsForGroup(f"perfbench-{b}")) for b in batches
    }
    loose = st.getJobIdsForGroup(None)
    out = {}
    for b, ids in grouped.items():
        if ids:
            ids = ids + [j for j in loose if ids[0] < j < ids[-1]]
        stages = set()
        for j in ids:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None:
                tasks += info.numCompletedTasks
        out[b] = (len(ids), tasks)
    return out


def message_path_us(spark, job, backlog: gen.Backlog) -> float:
    """``split(plan(batch))`` over the last sample batches into a noop
    sink: serialization, transforms and coercions without the commit.
    Best of a few passes, in microseconds per message."""
    files = backlog.files[-SAMPLE_BATCHES:]
    raw = spark.read.schema(gen.RAW_DDL).parquet(*files)
    best = float("inf")
    for _ in range(SAMPLE_PASSES):
        t = time.perf_counter()
        good, dlq = job.split(job.plan(raw))
        good.write.format("noop").mode("overwrite").save()
        dlq.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t)
    return best / sum(backlog.batch_sizes[-SAMPLE_BATCHES:]) * 1e6


def ingest_options(w: gen.Workload, work: Path):
    from kafka_delta_ingest_spark.config import IngestOptions, MessageFormat

    return IngestOptions(
        topic=gen.TOPIC,
        table_uri=str(work / "table"),
        app_id=APP_ID,
        transforms=dict(TRANSFORMS),
        partition_by=list(w.partition_by),
        dlq_table_location=str(work / "dlq"),
        message_format=MessageFormat(w.message_format),
        avro_schema_json=json.dumps(gen.AVRO_SCHEMA) if w.message_format == "avro" else None,
        ends_at_latest_offsets=True,
        log_format=w.log_format,
        record_key=w.record_key,
    )


def instrument(job, sc, tracer: spans.Tracer | None, clock: cpu.CpuClock):
    """Time every ``foreachBatch`` call. Returns ``{batch: (start, end)}``
    in wall seconds, the same in CPU seconds, and the set of batches
    that returned, all filled as the stream runs.

    Each batch runs under its own Spark job group, so its jobs can be
    counted. With a tracer, spans wrap the job's calls on traced
    batches."""
    times: dict[int, tuple[float, float]] = {}
    cpu_times: dict[int, tuple[float, float]] = {}
    committed: set[int] = set()
    if tracer is not None:
        tracer.wrap(job, "plan", "plan")
        tracer.wrap(job, "split", "split")
        tracer.wrap(job.table, "table_schema", "table_schema")
        tracer.wrap(job.table, "write_batch", "write_batch")
        tracer.wrap(job.dlq, "write", "dlq_write")
    inner = job.process_batch

    def process_batch(raw, batch_id=0):
        on = tracer is not None and spans.batch_traced(batch_id)
        saved = {k: sc.getLocalProperty(k) for k in JOB_GROUP_PROPERTIES}
        sc.setJobGroup(f"perfbench-{batch_id}", f"batch {batch_id}")
        if on:
            tracer.batch = batch_id
        start, cpu_start = time.perf_counter(), clock()
        try:
            if on:
                result = tracer.call("process_batch", inner, raw, batch_id)
            else:
                result = inner(raw, batch_id)
            committed.add(batch_id)
            return result
        finally:
            times[batch_id] = (start, time.perf_counter())
            cpu_times[batch_id] = (cpu_start, clock())
            if on:
                tracer.batch = None
            for k, v in saved.items():
                sc.setLocalProperty(k, v)

    job.process_batch = process_batch
    return times, cpu_times, committed


def drain(spark, job, backlog: gen.Backlog, work: Path) -> tuple[list[dict], str | None]:
    """Run the availableNow query to termination. Returns its progress
    reports and the error that ended it, if any."""
    src = str(Path(backlog.files[0]).parent)
    raw = spark.readStream.schema(gen.RAW_DDL).option("maxFilesPerTrigger", 1).parquet(src)
    query = job.run_stream(spark, str(work / "checkpoint"), raw_stream=raw)
    error = None
    try:
        if not query.awaitTermination(STREAM_TIMEOUT_S):
            error = f"query still running after {STREAM_TIMEOUT_S} s"
            query.stop()
    except Exception as e:  # the query died: the run reports it as failed
        error = f"{type(e).__name__}: {e}"
    return [json.loads(p.json) for p in query.recentProgress], error


def verify(spark, sink, opts, job, backlog: gen.Backlog) -> list[str]:
    """Exactly-once: table rows, txn ledger, dead letters, counters."""
    rows = sink.read(spark).select(*gen.ROW_SCHEMA.names).toArrow()
    return (
        check.check_rows(rows, backlog.expected_rows)
        + check.check_ledger(sink.snapshot()["txn"], APP_ID, backlog.max_offsets)
        + check.check_dead_letters(
            read_dead_letters(spark, opts.dlq_table_location),
            backlog.expected_dlq_base64(),
        )
        + check.check_metrics(job.metrics_history, backlog.messages)
    )


def scan_seconds(spark, sink) -> list[float]:
    """Full scans (count plus checksum) through the table's public
    reader, each from a fresh read as a polling reader would make."""
    from pyspark.sql import functions as F

    out = []
    while len(out) < MAX_SCANS and (len(out) < SCANS or sum(out) < SCAN_SECONDS):
        t = time.perf_counter()
        sink.read(spark).agg(
            F.count("*"), F.bit_xor(F.xxhash64(*gen.ROW_SCHEMA.names))
        ).collect()
        out.append(time.perf_counter() - t)
    return out


def drive(spark, w: gen.Workload, backlog: gen.Backlog, traced: bool,
          work: Path, t_setup: float, clock: cpu.CpuClock,
          cpu_setup: float) -> tuple[dict, dict]:
    from kafka_delta_ingest_spark.ingest import IngestJob

    sc = spark.sparkContext
    opts = ingest_options(w, work)
    job = IngestJob(opts, destination_schema())
    tracer = spans.Tracer() if traced else None
    times, cpu_times, committed = instrument(job, sc, tracer, clock)
    t_query = time.perf_counter()
    progress, error = drain(spark, job, backlog, work)
    t_end, t_end_epoch = time.perf_counter(), time.time()
    phases = {"stream_start": t_query - t_setup, "drain_end": t_end - t_setup}

    n = len(backlog.files)
    problems = [error] if error else []
    if committed != set(range(n)):
        problems.append(f"committed batches {sorted(committed)}, expected 0..{n - 1}")
    # a fresh sink, so nothing the job cached answers for the table
    sink = IngestJob(opts, job.target_schema).table
    problems += verify(spark, sink, opts, job, backlog)
    phases["checked"] = time.perf_counter() - t_setup

    table = opts.table_uri
    log_dir = "_delta_log" if w.log_format == "delta" else ".hoodie"
    first = gen.first_measured(w, traced)
    measured = [b for b in sorted(times) if b >= first]
    timed = [(times[b][1] - times[b][0]) * 1000.0 for b in measured]
    tail_p = tail_percentile(len(timed))
    counts = job_counts(sc, measured)
    metrics = {
        # CPU seconds of this process and the JVM's process tree, from
        # the first Spark import until batch 0 commits
        "setup_s": cpu_times[0][1] - cpu_setup,
        "spark_jobs_per_batch": statistics.fmean(c[0] for c in counts.values()),
        "spark_tasks_per_batch": statistics.fmean(c[1] for c in counts.values()),
        "files_per_batch": data_files(table, log_dir) / max(1, len(committed)),
        "log_bytes_per_commit": dir_bytes(table, under=log_dir) / max(1, len(committed)),
        "stored_bytes_per_msg": dir_bytes(table) / (backlog.messages - len(backlog.bad_payloads)),
    }
    wall = {
        "engine.msgs_per_s": sum(backlog.batch_sizes[first:]) / (t_end - times[first - 1][1]),
        "engine.batch_ms_p50": statistics.median(timed),
        "engine.batch_ms_tail": percentile(timed, tail_p),
        "engine.batch_cpu_ms_p50": statistics.median(
            (cpu_times[b][1] - cpu_times[b][0]) * 1000.0 for b in measured),
        "engine.setup_wall_s": times[0][1] - t_setup,
    }
    detail = {
        "first_measured_batch": first,
        "batch_ms": timed,
        "batch_ms_tail_percentile": tail_p,
        "wall_clock": wall,
        "problems": problems,
        "phases": phases,
        "progress": progress,
        "spark_jobs_tasks": counts,
    }
    if tracer is not None:
        # the verification read has warmed the reader
        scans = scan_seconds(spark, sink)
        phases["scans"] = time.perf_counter() - t_setup
        layers = spans.span_layers(tracer.spans, w.log_format, first)
        layers.update(spans.streaming_layers(progress, t_end_epoch, first))
        layers.update(wall)
        layers.update({
            "reader.scan_s": statistics.median(scans),
            "message_path.us_per_msg": message_path_us(spark, job, backlog),
        })
        metrics = {k: layers[k] for k in PER_LAYER_UNITS}
        detail.update({"scan_s_runs": scans, "spans": tracer.spans})
    return metrics, detail


def environment(spark, w: gen.Workload, args, n_batches: int) -> dict:
    import platform

    import pyarrow
    import pyspark

    return {
        "nproc": cores(),
        "spark_master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "workload": w.name,
        "why": w.why,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "batches": n_batches,
        "msgs_per_batch": w.batch_msgs,
    }


def run(w: gen.Workload, args, work: Path) -> tuple[dict, dict]:
    t0 = time.perf_counter()
    n_batches = gen.backlog_batches(w, args.seconds, bool(args.trace))
    backlog = gen.generate(w, args.seed, n_batches, str(work / "src"))
    clock = cpu.CpuClock()
    t_setup, cpu_setup = time.perf_counter(), clock()
    spark = start_spark(work)
    try:
        clock.jvm_pid = spark.sparkContext._gateway.proc.pid
        env = environment(spark, w, args, n_batches)
        metrics, detail = drive(spark, w, backlog, bool(args.trace), work, t_setup,
                                clock, cpu_setup)
    finally:
        stop_spark(spark)
    detail["environment"] = env
    detail["phases"].update(generate=t_setup - t0, stopped=time.perf_counter() - t_setup)
    return metrics, detail


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "kafka_delta_ingest_spark" / "ingest.py").is_file():
        print(f"perfbench: no kafka_delta_ingest_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    # a terminated run still stops Spark and removes its work files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    w = gen.WORKLOADS[args.workload]
    work = ROOT / ".perfbench" / "work" / f"{w.name}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        metrics, detail = run(w, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    problems = detail["problems"]
    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    out = ROOT / ".perfbench" / "out"
    out.mkdir(parents=True, exist_ok=True)
    record = out / f"{w.name}-seed{args.seed}-trace{args.trace}.json"
    record.write_text(json.dumps({"metrics": metrics, **detail}, indent=1, default=str))
    print(json.dumps({"environment": detail["environment"]}))
    for name, value in {**metrics, **detail["wall_clock"]}.items():
        note = ""
        if name == "engine.batch_ms_tail":
            note = f"  (p{detail['batch_ms_tail_percentile']} of {len(detail['batch_ms'])} batches)"
        print(f"{name} = {value:.6g} {ALL_UNITS[name]}{note}")
    for p in problems:
        print(f"exactly-once: {p}")
    # Any problem, an uncommitted batch or a failed exactly-once check,
    # fails every batch: none of the output can be trusted.
    n = detail["environment"]["batches"]
    result = {
        "correct": not problems,
        "attempted": n,
        "failed": n if problems else 0,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
