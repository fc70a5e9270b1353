"""Structured Streaming e2e: file-based stream → IngestJob.run_stream →
table + txn ledger; incremental checkpointed restarts; runtime schema
evolution; metrics emission.

Mirrors the reference's streaming integration pattern (SURVEY §5.2)
with a rate-limited file source standing in for Kafka (same column
layout as the Spark Kafka source), per SURVEY §5.3.
"""

import datetime
import json

from pyspark.sql import Row
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from kafka_delta_ingest_spark.config import IngestOptions
from kafka_delta_ingest_spark.ingest import IngestJob
from kafka_delta_ingest_spark.sinks.delta_like import DeltaLikeTable

RAW_SCHEMA = (
    "value binary, partition int, offset long, topic string, "
    "timestamp timestamp, timestampType int"
)

TABLE_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("color", StringType()),
    ]
)


def _rows(start: int, n: int, extra=None):
    out = []
    for i in range(start, start + n):
        payload = {"id": i, "color": "red" if i % 2 == 0 else "blue"}
        if extra:
            payload.update(extra(i))
        out.append(
            Row(
                value=bytearray(json.dumps(payload).encode()),
                partition=i % 2,
                offset=i,
                topic="t",
                timestamp=datetime.datetime(2024, 1, 1, 0, 0, i % 60),
                timestampType=0,
            )
        )
    return out


def _write_raw(spark, rows, path):
    spark.createDataFrame(rows, RAW_SCHEMA).coalesce(1).write.mode("append").parquet(
        path
    )


def _stream(spark, path):
    return spark.readStream.schema(RAW_SCHEMA).parquet(path)


def test_stream_available_now_end_to_end(spark, tmp_path):
    """X8 (ends_at_latest_offsets ≙ availableNow) + X1 txn ledger on a
    real streaming query with checkpointed incremental restart."""
    src = str(tmp_path / "src")
    table_dir = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    _write_raw(spark, _rows(0, 20), src)
    opts = IngestOptions(
        topic="t", table_uri=table_dir, app_id="stream_app", ends_at_latest_offsets=True
    )
    job = IngestJob(opts, TABLE_SCHEMA)
    q = job.run_stream(spark, ckpt, raw_stream=_stream(spark, src))
    q.awaitTermination(120)

    table = DeltaLikeTable(table_dir)
    got = {r["id"] for r in table.read(spark).collect()}
    assert got == set(range(20))
    # per-Kafka-partition txn offsets recorded (partitions 0/1, max ids)
    assert table.txn_version("stream_app-0") == 18
    assert table.txn_version("stream_app-1") == 19

    # restart with MORE files: only the new ones are processed
    _write_raw(spark, _rows(20, 10), src)
    job2 = IngestJob(opts, TABLE_SCHEMA)
    q2 = job2.run_stream(spark, ckpt, raw_stream=_stream(spark, src))
    q2.awaitTermination(120)
    got2 = sorted(r["id"] for r in table.read(spark).collect())
    assert got2 == list(range(30))  # no duplicates, no loss
    assert table.txn_version("stream_app-1") == 29


def test_schema_evolution_mid_stream(spark, tmp_path):
    """SURVEY §1.2: table schema evolves between batches; the writer
    adopts the new schema on its next batch (reference
    src/writer.rs:370-387, tests/schema_update_tests.rs:23-113); rows
    written before evolution read back with NULL for the new column."""
    src = str(tmp_path / "src")
    table_dir = str(tmp_path / "table")
    opts = IngestOptions(topic="t", table_uri=table_dir, app_id="evolve_app")

    job = IngestJob(opts, TABLE_SCHEMA)
    job.run_batch(
        spark.createDataFrame(_rows(0, 5), RAW_SCHEMA)
    )

    # ALTER TABLE ADD COLUMN size (external schema change)
    evolved = StructType(
        list(TABLE_SCHEMA.fields) + [StructField("size", IntegerType())]
    )
    table = DeltaLikeTable(table_dir)
    table.evolve_schema(evolved)

    # Same job object keeps running; next batch adopts the new schema.
    job.run_batch(
        spark.createDataFrame(
            _rows(5, 5, extra=lambda i: {"size": i * 10}), RAW_SCHEMA
        )
    )
    assert job.target_schema == evolved

    out = {r["id"]: (r["color"], r["size"]) for r in table.read(spark).collect()}
    assert len(out) == 10
    assert out[2] == ("red", None)  # pre-evolution row: new column NULL
    assert out[7] == ("blue", 70)


def test_schema_update_replay_while_stream_runs(spark, tmp_path):
    """Verbatim replay of the reference's evolve-while-streaming
    integration scenario (tests/schema_update_tests.rs:23-113) on the
    file-stream harness: a LIVE continuously-triggered query ingests a
    v1 message {id, date}; the table schema is altered to add 'color'
    BETWEEN micro-batches while the query keeps running; two v2
    messages {id, color, date} follow. Expected table content matches
    the reference assertion exactly — the pre-evolution row reads
    color=NULL, post-evolution rows carry their colors, everything
    partitioned by date."""
    import time

    src = str(tmp_path / "src")
    table_dir = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    v1_schema = StructType(
        [
            StructField("id", IntegerType()),
            StructField("date", StringType()),
        ]
    )
    v2_schema = StructType(
        [
            StructField("id", IntegerType()),
            StructField("color", StringType()),
            StructField("date", StringType()),
        ]
    )

    def msg(offset, payload):
        return Row(
            value=bytearray(json.dumps(payload).encode()),
            partition=0,
            offset=offset,
            topic="schema_update",
            timestamp=datetime.datetime(2024, 1, 1, 0, 0, offset),
            timestampType=0,
        )

    opts = IngestOptions(
        topic="schema_update",
        table_uri=table_dir,
        app_id="schema_update_app",
        partition_by=["date"],
        allowed_latency=1,  # 1s processingTime trigger: a live stream
    )
    job = IngestJob(opts, v1_schema)

    # send msg v1, start the stream
    _write_raw(spark, [msg(0, {"id": 1, "date": "default"})], src)
    q = job.run_stream(spark, ckpt, raw_stream=_stream(spark, src))
    table = DeltaLikeTable(table_dir)

    def wait_for_ids(want, timeout=90):
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            try:
                live = table.latest_version() >= 0
            except OSError:
                live = False
            if live:
                got = {r["id"] for r in table.read(spark).collect()}
                if got >= want:
                    return got
            time.sleep(0.5)
        raise AssertionError(f"stream never produced ids {want}")

    try:
        wait_for_ids({1})
        # update delta schema with new col 'color' — mid-stream, the
        # query is still running on its 1s trigger
        table.evolve_schema(v2_schema)
        # send a few messages with the new schema
        _write_raw(
            spark,
            [
                msg(1, {"id": 2, "color": "red", "date": "default"}),
                msg(2, {"id": 3, "color": "blue", "date": "default"}),
            ],
            src,
        )
        wait_for_ids({1, 2, 3})
    finally:
        q.stop()

    # the writer adopted the evolved schema without restarting
    assert job.target_schema == v2_schema
    content = sorted(
        (
            (r["id"], r["color"], r["date"])
            for r in table.read(spark).collect()
        )
    )
    assert content == [
        (1, None, "default"),  # v1 row: new column reads NULL
        (2, "red", "default"),
        (3, "blue", "default"),
    ]
    # partitioning survived the evolution commit
    assert table.snapshot()["metaData"]["partitionColumns"] == ["date"]


def test_streaming_curation_matches_batch_pipeline(spark, tmp_path):
    """Streaming twin of pipeline_corpus_curation: documents arrive in
    micro-batches; each batch is quality-filtered and exact-deduped
    BOTH within itself and against everything already admitted to the
    sink (the continuous-ingest dedup contract), then appended. After
    two waves the curated table must equal the batch pipeline run over
    the union — curation is replayable as either one batch plan or a
    resumable stream with identical results."""
    import pyspark.sql.functions as SF
    from pyspark.sql import Window

    src = str(tmp_path / "docs_src")
    table_dir = str(tmp_path / "curated")
    ckpt = str(tmp_path / "ckpt")

    def doc(i, text):
        return Row(doc_id=i, text=text)

    wave1 = [
        doc(0, "alpha beta gamma delta epsilon"),  # good
        doc(1, "too short"),  # 2 tokens: quality-filtered
        doc(2, "one two three four five six"),  # good
        doc(3, "alpha beta gamma delta epsilon"),  # dup of 0, same wave
    ]
    wave2 = [
        doc(10, "one two three four five six"),  # dup of 2, prior wave
        doc(11, "fresh unique content arriving later"),  # good
        doc(12, "tiny"),  # quality-filtered
    ]
    schema = "doc_id long, text string"

    def curate_batch(df, table):
        """Quality gate + within-batch dedup + against-sink dedup."""
        good = df.where(SF.size(SF.split(SF.col("text"), r"\s+")) >= 3)
        h = good.withColumn("h", SF.md5("text"))
        w = Window.partitionBy("h").orderBy("doc_id")
        first = (
            h.withColumn("_rn", SF.row_number().over(w))
            .where(SF.col("_rn") == 1)
            .drop("_rn")
        )
        try:
            existing = table.read(spark).select(SF.md5("text").alias("h"))
            fresh = first.join(existing, "h", "left_anti")
        except Exception:  # first batch: table not created yet
            fresh = first
        return fresh.drop("h")

    table = DeltaLikeTable(table_dir)

    def run_wave(rows, run_name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.option("checkpointLocation", ckpt)
            .foreachBatch(
                lambda df, bid: table.write_batch(curate_batch(df, table))
            )
            .trigger(availableNow=True)
            .queryName(run_name)
            .start()
        )
        q.awaitTermination(120)

    run_wave(wave1, "curate_w1")
    run_wave(wave2, "curate_w2")

    streamed = {
        (r.doc_id, r.text) for r in table.read(spark).collect()
    }

    # Batch twin over the union, same rules, one plan.
    union = spark.createDataFrame(wave1 + wave2, schema)
    batch = curate_batch(union, DeltaLikeTable(str(tmp_path / "nope")))
    want = {(r.doc_id, r.text) for r in batch.collect()}

    assert streamed == want
    assert streamed == {
        (0, "alpha beta gamma delta epsilon"),
        (2, "one two three four five six"),
        (11, "fresh unique content arriving later"),
    }


def test_metrics_recorded_per_batch(spark, tmp_path):
    """M1: statsd-named counters emitted from the batch lifecycle."""
    import time

    import pytest

    from kafka_delta_ingest_spark import metrics as M

    opts = IngestOptions(topic="t", table_uri=str(tmp_path / "table"), app_id="m")
    job = IngestJob(opts, TABLE_SCHEMA)
    # delta.write.duration times the table write alone: a slow DLQ
    # write must not show in it
    write_ms = []
    inner_write = job.table.write_batch

    def timed_write(*a, **k):
        t = time.perf_counter()
        try:
            return inner_write(*a, **k)
        finally:
            write_ms.append((time.perf_counter() - t) * 1000.0)

    def slow_dlq_write(*_a, **_k):
        time.sleep(0.5)
        return 0

    job.table.write_batch = timed_write
    job.dlq.write = slow_dlq_write
    rows = _rows(0, 8)
    rows[3] = Row(
        value=bytearray(b"{not json"),
        partition=0,
        offset=100,
        topic="t",
        timestamp=datetime.datetime(2024, 1, 1),
        timestampType=0,
    )
    job.run_batch(spark.createDataFrame(rows, RAW_SCHEMA))
    totals = job.metrics.totals()
    # 8 attempted, 1 corrupt, 1 empty tombstone: the success counter
    # counts messages that actually deserialized — failures and skipped
    # empties are not "deserialized".
    assert totals[M.MESSAGE_DESERIALIZED] == 6
    assert totals[M.MESSAGE_DESERIALIZATION_FAILED] == 1
    assert totals[M.RECORD_BATCH_COMPLETED] == 1
    assert totals[M.DELTA_WRITE_COMPLETED] == 1
    assert write_ms[0] <= totals[M.DELTA_WRITE_DURATION] < write_ms[0] + 250

    # delta.write.failed counts a table write that raises; the error
    # still fails the batch
    def failing_write(*_a, **_k):
        raise OSError("object store unavailable")

    job.table.write_batch = failing_write
    with pytest.raises(OSError, match="unavailable"):
        job.run_batch(spark.createDataFrame(_rows(8, 4), RAW_SCHEMA))
    totals = job.metrics.totals()
    assert totals[M.DELTA_WRITE_FAILED] == 1
    assert totals[M.DELTA_WRITE_COMPLETED] == 1


def test_watermark_drops_late_rows_across_restart(spark, tmp_path):
    """Event-time watermarking on a real stream: a checkpointed restart
    carries the watermark forward, and a row later than the watermark
    delay is dropped from its (already closed) window."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "wm-src")
    ckpt = str(tmp_path / "wm-ckpt")

    def event(ts_s, etype="click"):
        return Row(ts=datetime.datetime(2024, 1, 1, 0, 0, 0)
                   + datetime.timedelta(seconds=ts_s), event_type=etype)

    def run(rows, name):
        spark.createDataFrame(rows, "ts timestamp, event_type string").coalesce(
            1
        ).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("ts timestamp, event_type string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = (
            stream.withWatermark("ts", "30 seconds")
            .groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("ws"), "event_type", "n")
        )
        emitted = []
        q = (
            agg.writeStream.outputMode("append")
            .foreachBatch(
                lambda df, bid: emitted.extend(
                    (r["ws"], r["event_type"], r["n"]) for r in df.collect()
                )
            )
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {(ws, et): n for ws, et, n in emitted}

    import datetime

    # run 1: 3 events in minute-0, then minute-2 events that push the
    # watermark past minute-0 → minute-0 window closes and is emitted.
    out1 = run([event(1), event(20), event(45), event(130), event(140)], "wm1")
    m0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    m2 = datetime.datetime(2024, 1, 1, 0, 2, 0)
    assert out1.get((m0, "click")) == 3

    # run 2 (restart from checkpoint): one LATE row for minute-0 (beyond
    # the 30s delay) plus minute-4 rows that close minute-2.
    out2 = run([event(15), event(250), event(260)], "wm2")
    assert (m0, "click") not in out2        # late row dropped, window stays closed
    assert out2.get((m2, "click")) == 2     # minute-2 emitted WITHOUT late contamination


def test_progress_listener_lag_gauges_from_recorded_progress(spark):
    """M2: the lag-gauge math, driven by a RECORDED Kafka-connector
    progress payload (the `sources[].metrics` fields
    spark-sql-kafka publishes; no broker in this container — the
    connector-side values are replayed verbatim)."""
    from types import SimpleNamespace

    from kafka_delta_ingest_spark.metrics import (
        BUFFER_LAG_TOTAL,
        RECORD_BATCH_WRITE_DURATION,
        IngestMetrics,
        ProgressListener,
    )

    m = IngestMetrics()  # buffered only; no UDP endpoint
    pl = ProgressListener(m)
    pl.attach(spark)
    try:
        # Shape recorded from a spark-sql-kafka streaming query's
        # lastProgress (fields this listener consumes).
        progress = SimpleNamespace(
            durationMs={"addBatch": 734, "triggerExecution": 901},
            numInputRows=12000,
            sources=[
                SimpleNamespace(
                    metrics={
                        "estimatedTotalBytesBehindLatest": "18329",
                        "avgOffsetsBehindLatest": "61.0",
                    }
                )
            ],
        )
        pl._listener.onQueryProgress(SimpleNamespace(progress=progress))
        totals = m.totals()
        assert totals[BUFFER_LAG_TOTAL] == 18329.0
        assert totals[RECORD_BATCH_WRITE_DURATION] == 734
        assert totals["batch.num_input_rows"] == 12000
        # a progress tick with NO kafka metrics must not clobber the gauge
        pl._listener.onQueryProgress(
            SimpleNamespace(
                progress=SimpleNamespace(
                    durationMs={}, numInputRows=0, sources=[SimpleNamespace(metrics={})]
                )
            )
        )
        assert m.totals()[BUFFER_LAG_TOTAL] == 18329.0
    finally:
        pl.detach(spark)


def test_auto_optimize_compacts_during_ingest(spark, tmp_path):
    """B4 continuous file sizing (opt-in): with
    auto_optimize_interval=2, the ingest loop periodically bin-packs
    small files toward min_bytes_per_file; rows and the per-partition
    txn ledger are untouched, but the live file count stays bounded
    instead of growing one-per-batch."""
    plain_dir = str(tmp_path / "plain")
    auto_dir = str(tmp_path / "auto")

    def run(table_dir, interval):
        opts = IngestOptions(
            topic="t",
            table_uri=table_dir,
            app_id="auto_opt_app",
            auto_optimize_interval=interval,
        )
        job = IngestJob(opts, TABLE_SCHEMA)
        for wave in range(4):
            job.run_batch(
                spark.createDataFrame(_rows(wave * 5, 5), RAW_SCHEMA)
            )
        return DeltaLikeTable(table_dir)

    t_plain = run(plain_dir, 0)
    t_auto = run(auto_dir, 2)

    def live_files(t):
        return len(t._live_files(t.snapshot()))

    # identical rows and ledger either way
    assert {r["id"] for r in t_auto.read(spark).collect()} == set(range(20))
    assert t_auto.txn_version("auto_opt_app-0") == t_plain.txn_version(
        "auto_opt_app-0"
    )
    assert t_auto.txn_version("auto_opt_app-1") == t_plain.txn_version(
        "auto_opt_app-1"
    )
    # compaction actually fired: fewer live files than the plain run
    assert live_files(t_plain) >= 4
    assert live_files(t_auto) < live_files(t_plain)


def test_stream_into_standard_delta_log(spark, tmp_path):
    """The full streaming loop (X8 availableNow + X1 txn ledger +
    checkpointed restart) against a STANDARD _delta_log destination
    (log_format='delta'): the output table is consumable by any Delta
    reader, and exactly-once holds across a restart with new data —
    the reference daemon's complete contract on the standard layout."""
    from kafka_delta_ingest_spark.delta_standard import (
        DeltaStandardSink,
        read_delta,
    )

    src = str(tmp_path / "src")
    table_dir = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    _write_raw(spark, _rows(0, 20), src)
    opts = IngestOptions(
        topic="t", table_uri=table_dir, app_id="std_app",
        ends_at_latest_offsets=True, log_format="delta",
    )
    job = IngestJob(opts, TABLE_SCHEMA)
    q = job.run_stream(spark, ckpt, raw_stream=_stream(spark, src))
    q.awaitTermination(120)

    got = {r["id"] for r in read_delta(spark, table_dir).collect()}
    assert got == set(range(20))
    sink = DeltaStandardSink(table_dir)
    assert sink.w.txn_version("std_app-0") == 18
    assert sink.w.txn_version("std_app-1") == 19

    # restart with MORE files: only the new ones are processed
    _write_raw(spark, _rows(20, 10), src)
    job2 = IngestJob(opts, TABLE_SCHEMA)
    q2 = job2.run_stream(spark, ckpt, raw_stream=_stream(spark, src))
    q2.awaitTermination(120)
    got2 = sorted(r["id"] for r in read_delta(spark, table_dir).collect())
    assert got2 == list(range(30))  # no duplicates, no loss
    assert sink.w.txn_version("std_app-1") == 29


def test_stream_into_iceberg_with_checkpointed_restart(spark, tmp_path):
    """r8 (mirrors test_stream_into_standard_delta_log for
    log_format='iceberg', the r7 commit 0b34baa pattern): availableNow
    streaming into an Apache Iceberg destination, per-Kafka-partition
    offsets in the snapshot summaries, then a checkpointed RESTART
    with new data — no duplicates, no loss, one snapshot per
    successful batch."""
    from kafka_delta_ingest_spark.iceberg import (
        IcebergSink,
        read_iceberg,
        snapshots,
    )

    src = str(tmp_path / "src")
    table_dir = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    _write_raw(spark, _rows(0, 20), src)
    opts = IngestOptions(
        topic="t", table_uri=table_dir, app_id="ice_app",
        ends_at_latest_offsets=True, log_format="iceberg",
    )
    job = IngestJob(opts, TABLE_SCHEMA)
    q = job.run_stream(spark, ckpt, raw_stream=_stream(spark, src))
    q.awaitTermination(120)

    got = {r["id"] for r in read_iceberg(spark, table_dir).collect()}
    assert got == set(range(20))
    sink = IcebergSink(table_dir, TABLE_SCHEMA)
    assert sink.snapshot()["txn"] == {"ice_app-0": 18, "ice_app-1": 19}
    n_snaps_run1 = len(snapshots(table_dir))

    # restart with MORE files: only the new ones are processed
    _write_raw(spark, _rows(20, 10), src)
    job2 = IngestJob(opts, TABLE_SCHEMA)
    q2 = job2.run_stream(spark, ckpt, raw_stream=_stream(spark, src))
    q2.awaitTermination(120)
    got2 = sorted(
        r["id"] for r in read_iceberg(spark, table_dir).collect()
    )
    assert got2 == list(range(30))  # no duplicates, no loss
    assert sink.snapshot()["txn"]["ice_app-1"] == 29
    # one snapshot per successful batch: exactly one more landed
    assert len(snapshots(table_dir)) == n_snaps_run1 + 1


def test_stream_into_hudi_with_checkpointed_restart(spark, tmp_path):
    """r9 (completes the destination matrix: the kdi-Delta, standard
    Delta, and Iceberg legs have this e2e from r7/r8): availableNow
    streaming into an Apache Hudi CoW destination, per-Kafka-partition
    offsets in the completed commits' extraMetadata, then a
    checkpointed RESTART with new data — no duplicates, no loss, one
    completed instant per successful batch (the reference exactly-once
    scenario, tests/emails_s3_tests.rs:33-77)."""
    import os as _os

    from kafka_delta_ingest_spark.hudi import HudiSink, read_hudi

    def completed_instants(table_dir):
        hoodie = _os.path.join(table_dir, ".hoodie")
        return sorted(
            f for f in _os.listdir(hoodie) if f.endswith(".commit")
        )

    src = str(tmp_path / "src")
    table_dir = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    _write_raw(spark, _rows(0, 20), src)
    opts = IngestOptions(
        topic="t", table_uri=table_dir, app_id="hudi_app",
        ends_at_latest_offsets=True, log_format="hudi",
    )
    job = IngestJob(opts, TABLE_SCHEMA)
    q = job.run_stream(spark, ckpt, raw_stream=_stream(spark, src))
    q.awaitTermination(120)

    got = {r["id"] for r in read_hudi(spark, table_dir).collect()}
    assert got == set(range(20))
    sink = HudiSink(table_dir)
    assert sink.snapshot()["txn"] == {"hudi_app-0": 18, "hudi_app-1": 19}
    n_run1 = len(completed_instants(table_dir))

    # restart with MORE files: only the new ones are processed
    _write_raw(spark, _rows(20, 10), src)
    job2 = IngestJob(opts, TABLE_SCHEMA)
    q2 = job2.run_stream(spark, ckpt, raw_stream=_stream(spark, src))
    q2.awaitTermination(120)
    got2 = sorted(
        r["id"] for r in read_hudi(spark, table_dir).collect()
    )
    assert got2 == list(range(30))  # no duplicates, no loss
    assert sink.snapshot()["txn"]["hudi_app-1"] == 29
    # one completed instant per successful batch: exactly one more
    assert len(completed_instants(table_dir)) == n_run1 + 1


def test_stream_into_hudi_mor_with_checkpointed_restart(spark, tmp_path):
    """r10 (r9 verdict item 5 — the MoR destination had batch-level
    replay-skip + compaction tests but no kill-and-restart e2e like
    the CoW/Delta/Iceberg legs): availableNow streaming into a Hudi
    MERGE_ON_READ destination with record_key (DeltaStreamer's
    continuous UPSERT operation), then a checkpointed RESTART whose
    new data holds both CORRECTIONS to live keys and brand-new keys —
    no duplicates, no loss, exactly one deltacommit per successful
    batch, corrections land as HoodieLogFormat blocks (no base
    rewrite), inserts land as new base parquet file groups (the
    reference exactly-once scenario, tests/emails_s3_tests.rs:33-77,
    on the write-optimized table shape)."""
    import glob as _glob
    import os as _os

    from kafka_delta_ingest_spark.hudi import read_hudi

    def completed_deltacommits(table_dir):
        hoodie = _os.path.join(table_dir, ".hoodie")
        return sorted(
            f for f in _os.listdir(hoodie) if f.endswith(".deltacommit")
        )

    def log_files(table_dir):
        return [
            p for p in _glob.glob(_os.path.join(table_dir, "**", ".*"),
                                  recursive=True)
            if ".log." in _os.path.basename(p)
        ]

    def base_files(table_dir):
        return [
            p for p in _glob.glob(
                _os.path.join(table_dir, "**", "*.parquet"),
                recursive=True,
            )
            if "/.hoodie/" not in p
        ]

    src = str(tmp_path / "src")
    table_dir = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    _write_raw(spark, _rows(0, 20), src)
    opts = IngestOptions(
        topic="t", table_uri=table_dir, app_id="mor_app",
        ends_at_latest_offsets=True, log_format="hudi_mor",
        record_key="id",
    )
    job = IngestJob(opts, TABLE_SCHEMA)
    q = job.run_stream(spark, ckpt, raw_stream=_stream(spark, src))
    q.awaitTermination(120)

    got = {r["id"] for r in read_hudi(spark, table_dir).collect()}
    assert got == set(range(20))
    from kafka_delta_ingest_spark.hudi import HudiSink

    sink = HudiSink(table_dir, mor=True, record_key="id")
    assert sink.snapshot()["txn"] == {"mor_app-0": 18, "mor_app-1": 19}
    n_run1 = len(completed_deltacommits(table_dir))
    assert n_run1 >= 1
    assert log_files(table_dir) == []  # bootstrap batch = pure insert
    n_base_run1 = len(base_files(table_dir))

    # restart (fresh IngestJob, same checkpoint) with MORE files:
    # corrections for live keys 5 and 7 at offsets past the ledger
    # floor, plus new keys 20..29 — only the new file is processed
    corrections = [
        Row(
            value=bytearray(
                json.dumps({"id": i, "color": "green"}).encode()
            ),
            partition=off % 2,
            offset=off,
            topic="t",
            timestamp=datetime.datetime(2024, 1, 1, 0, 1, 0),
            timestampType=0,
        )
        for i, off in [(5, 30), (7, 31)]
    ]
    _write_raw(spark, _rows(20, 10) + corrections, src)
    job2 = IngestJob(opts, TABLE_SCHEMA)
    q2 = job2.run_stream(spark, ckpt, raw_stream=_stream(spark, src))
    q2.awaitTermination(120)

    rows2 = {
        r["id"]: r["color"]
        for r in read_hudi(spark, table_dir).collect()
    }
    assert sorted(rows2) == list(range(30))  # no duplicates, no loss
    # latest-wins served through the independent log-merge read
    assert rows2[5] == "green" and rows2[7] == "green"
    assert rows2[4] == "red" and rows2[9] == "blue"  # untouched keys
    assert sink.snapshot()["txn"] == {"mor_app-0": 30, "mor_app-1": 31}
    # exactly one more deltacommit for the one new batch
    assert len(completed_deltacommits(table_dir)) == n_run1 + 1
    # corrections appended as log blocks; inserts as NEW base groups
    assert len(log_files(table_dir)) >= 1
    assert len(base_files(table_dir)) > n_base_run1

    # replayed restart with NO new data: ledger floor + checkpoint
    # mean zero new instants
    job3 = IngestJob(opts, TABLE_SCHEMA)
    q3 = job3.run_stream(spark, ckpt, raw_stream=_stream(spark, src))
    q3.awaitTermination(120)
    assert len(completed_deltacommits(table_dir)) == n_run1 + 1
    assert sorted(
        r["id"] for r in read_hudi(spark, table_dir).collect()
    ) == list(range(30))
