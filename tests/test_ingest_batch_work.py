"""The fixed Spark work of one ingest batch, pinned by job count.

``IngestJob.process_batch`` persists one annotated frame and decides
the batch's txn offsets and dead-letter counts in a single aggregate
over it. A clean batch therefore runs three jobs: the cache build, the
aggregate and the data write. A batch with dead letters adds one DLQ
write. Jobs are counted per job group through the status tracker.
"""

import datetime
import json

from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from kafka_delta_ingest_spark.config import IngestOptions
from kafka_delta_ingest_spark.ingest import IngestJob

RAW_SCHEMA = (
    "value binary, partition int, offset long, topic string, "
    "timestamp timestamp, timestampType int"
)
SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("color", StringType()),
        StructField("ts", TimestampType()),
    ]
)
TS = datetime.datetime(2024, 1, 1)


def _raw(spark, payloads, partitions=1):
    rows = [
        (p, i % partitions, i, "t", TS, 0) for i, p in enumerate(payloads)
    ]
    # An RDD with an explicit schema: the scan has exactly `partitions`
    # splits and planning runs no job.
    rdd = spark.sparkContext.parallelize(rows, partitions)
    return spark.createDataFrame(rdd, RAW_SCHEMA)


def _good(i, ts="2021-11-11T22:11:58Z"):
    return bytearray(json.dumps({"id": i, "color": "red", "ts": ts}).encode())


def _run_in_group(spark, group, fn):
    """Run ``fn`` under job group ``group``; return its result and the
    task count of each job it ran, in job order."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description",
                  "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    tasks = []
    for j in sorted(st.getJobIdsForGroup(group)):
        stages = [st.getStageInfo(s) for s in st.getJobInfo(j).stageIds]
        tasks.append(sum(s.numCompletedTasks for s in stages if s is not None))
    return out, tasks


def _job(tmp_path, name, dlq=True):
    opts = IngestOptions(
        topic="t",
        table_uri=str(tmp_path / name),
        app_id=name,
        dlq_table_location=str(tmp_path / f"{name}-dlq") if dlq else None,
    )
    return IngestJob(opts, SCHEMA)


def test_clean_batch_runs_three_jobs(spark, tmp_path):
    job = _job(tmp_path, "clean")
    raw = _raw(spark, [_good(i) for i in range(6)] + [bytearray(b"")])
    m, tasks = _run_in_group(spark, "kdi-batch-clean", lambda: job.run_batch(raw))
    assert m.delta_write_num_records == 6
    assert m.messages_deserialization_failed == 0
    # cache build, fused offsets + DLQ-cause aggregate, data write;
    # no DLQ job when the batch has no dead letters
    assert tasks == [1, 1, 1]
    assert job.ledger_floors() == {0: 6}


def test_batch_with_dead_letters_runs_four_jobs(spark, tmp_path):
    job = _job(tmp_path, "dirty")
    payloads = [_good(i) for i in range(6)]
    payloads[2] = bytearray(b"{not json")
    payloads[4] = _good(4, ts="2021-11-11 22:11:58")  # not RFC3339: coercion fails
    raw = _raw(spark, payloads)
    m, tasks = _run_in_group(spark, "kdi-batch-dirty", lambda: job.run_batch(raw))
    assert m.delta_write_num_records == 4
    assert m.messages_deserialization_failed == 1
    assert m.messages_transform_failed == 1
    assert len(tasks) == 4, tasks
    assert spark.read.parquet(str(tmp_path / "dirty-dlq")).count() == 2


def test_cache_builds_at_input_width(spark, tmp_path):
    """coalesce(1) feeds only the aggregate: the decode that fills the
    cache still runs one task per input split."""
    job = _job(tmp_path, "wide", dlq=False)
    raw = _raw(spark, [_good(i) for i in range(40)], partitions=4)
    m, tasks = _run_in_group(spark, "kdi-batch-wide", lambda: job.run_batch(raw))
    assert m.delta_write_num_records == 40
    assert len(tasks) == 3, tasks
    cache, aggregate, _write = tasks
    assert cache == 4
    assert aggregate == 1
    assert job.ledger_floors() == {0: 36, 1: 37, 2: 38, 3: 39}


def test_overlap_legs_keep_the_job_group(spark):
    """Jobs submitted from io.overlap's driver threads carry the
    caller's job group, so a batch's count includes its sink's
    concurrent commit legs."""
    from kafka_delta_ingest_spark.io import overlap

    _, tasks = _run_in_group(
        spark,
        "kdi-overlap",
        lambda: overlap(lambda: spark.range(3).count(), lambda: spark.range(5).count()),
    )
    assert len(tasks) >= 2
