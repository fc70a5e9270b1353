"""End-to-end ingest tests — the reference's integration-test pattern
(SURVEY §5.2): build messages → run ingest → read the table back →
assert exact rows, partitions, stats, and txn offsets."""

import datetime
import json
import os

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from kafka_delta_ingest_spark.config import IngestOptions
from kafka_delta_ingest_spark.ingest import IngestJob
from kafka_delta_ingest_spark.sinks.delta_like import DeltaLikeTable

# The reference's primary fixture schema (FIXTURES.md F1 web_requests,
# tests/data/web_requests/_delta_log/00000000000000000000.json).
WEB_REQUESTS_SCHEMA = StructType(
    [
        StructField(
            "meta",
            StructType(
                [
                    StructField(
                        "producer",
                        StructType([StructField("timestamp", StringType())]),
                    ),
                    StructField(
                        "kafka",
                        StructType(
                            [
                                StructField("offset", StringType()),
                                StructField("topic", StringType()),
                                StructField("partition", IntegerType()),
                            ]
                        ),
                    ),
                ]
            ),
        ),
        StructField("method", StringType()),
        StructField("session_id", StringType()),
        StructField("status", IntegerType()),
        StructField("url", StringType()),
        StructField("uuid", StringType()),
        StructField("date", StringType()),
    ]
)

# Canonical transforms from the reference quick start (README.adoc:41-49).
WEB_REQUESTS_TRANSFORMS = {
    "date": "substr(meta.producer.timestamp, `0`, `10`)",
    "meta.kafka.offset": "kafka.offset",
    "meta.kafka.partition": "kafka.partition",
    "meta.kafka.topic": "kafka.topic",
}


def _msg(i: int, partition: int, ts="2021-03-24T15:06:17.321710+00:00", extra=None):
    payload = {
        "meta": {"producer": {"timestamp": ts}},
        "method": "GET",
        "session_id": f"sess-{i % 3}",
        "status": 200 if i % 2 == 0 else 404,
        "url": f"/site/page{i}",
        "uuid": f"uuid-{i}",
    }
    if extra:
        payload.update(extra)
    return Row(
        value=bytearray(json.dumps(payload).encode()),
        partition=partition,
        offset=i,
        topic="web_requests",
        timestamp=datetime.datetime(2021, 3, 24, 15, 6, 17),
        timestampType=0,
    )


def _raw_df(spark, rows):
    schema = (
        "value binary, partition int, offset long, topic string, "
        "timestamp timestamp, timestampType int"
    )
    return spark.createDataFrame(rows, schema)


def test_web_requests_e2e(spark, tmp_path):
    # SURVEY §7.1 step 1: the minimum end-to-end slice.
    table = str(tmp_path / "web_requests")
    opts = IngestOptions(
        topic="web_requests",
        table_uri=table,
        app_id="wr",
        transforms=WEB_REQUESTS_TRANSFORMS,
        partition_by=["date"],
    )
    job = IngestJob(opts, WEB_REQUESTS_SCHEMA)
    raw = _raw_df(spark, [_msg(i, i % 2) for i in range(20)])
    m = job.run_batch(raw)
    assert m.version == 0
    assert m.delta_write_num_records == 20
    assert m.messages_deserialization_failed == 0

    back = DeltaLikeTable(table).read(spark)
    assert back.count() == 20
    r = back.filter(F.col("uuid") == "uuid-3").collect()[0]
    assert r.date == "2021-03-24"  # derived by substr transform
    assert r.meta.kafka.offset == "3"  # injected + coerced long→string
    assert r.meta.kafka.partition == 1
    assert r.meta.kafka.topic == "web_requests"
    assert r.status == 404
    assert r.meta.producer.timestamp == "2021-03-24T15:06:17.321710+00:00"

    # txn ledger: per-kafka-partition last offsets (reference
    # src/delta_helpers.rs:29-40).
    snap = DeltaLikeTable(table).snapshot()
    assert snap["txn"] == {"wr-0": 18, "wr-1": 19}


def test_idempotent_replay_skipped(spark, tmp_path):
    table = str(tmp_path / "t")
    opts = IngestOptions(table_uri=table, app_id="app", transforms={})
    schema = StructType([StructField("id", StringType())])
    job = IngestJob(opts, schema)
    raw = _raw_df(
        spark,
        [
            Row(
                value=bytearray(b'{"id": "1"}'),
                partition=0,
                offset=5,
                topic="t",
                timestamp=None,
                timestampType=0,
            )
        ],
    )
    m1 = job.run_batch(raw)
    assert not m1.skipped and m1.delta_write_num_records == 1
    #

    # Same offsets again → reference's AlreadyProcessedPartitionOffset
    # guard (src/value_buffers.rs:14-35): the write is skipped entirely.
    m2 = job.run_batch(raw)
    assert m2.skipped
    assert DeltaLikeTable(table).read(spark).count() == 1


def test_zero_offset_replay_skipped(spark, tmp_path):
    """Offset ZERO must count as "already stored" on replay — the falsy-
    zero bug class the reference pins with tests/offset_tests.rs:33-89
    (zero_offset_issue: a table holding partition 0 / offset 0 must not
    re-ingest message 0:0, while later offsets still flow)."""
    table = str(tmp_path / "t")
    opts = IngestOptions(table_uri=table, app_id="zero_offset", transforms={})
    schema = StructType([StructField("id", StringType())])
    job = IngestJob(opts, schema)

    def raw_at(offset, payload):
        return _raw_df(
            spark,
            [
                Row(
                    value=bytearray(payload),
                    partition=0,
                    offset=offset,
                    topic="t",
                    timestamp=None,
                    timestampType=0,
                )
            ],
        )

    m0 = job.run_batch(raw_at(0, b'{"id": "a"}'))
    assert not m0.skipped
    assert DeltaLikeTable(table).snapshot()["txn"] == {"zero_offset-0": 0}

    # Replay of offset 0: stored version 0 must be treated as present
    # (is-not-None semantics), not as falsy -> the write is skipped.
    m0r = job.run_batch(raw_at(0, b'{"id": "a"}'))
    assert m0r.skipped

    m1 = job.run_batch(raw_at(1, b'{"id": "b"}'))
    assert not m1.skipped
    assert DeltaLikeTable(table).read(spark).count() == 2


def test_deserialization_failure_routes_to_dlq(spark, tmp_path):
    table = str(tmp_path / "t")
    dlq_loc = str(tmp_path / "dlq")
    opts = IngestOptions(
        table_uri=table, app_id="app", dlq_table_location=dlq_loc
    )
    schema = StructType([StructField("id", StringType())])
    job = IngestJob(opts, schema)
    rows = [
        Row(
            value=bytearray(b'{"id": "1"}'),
            partition=0,
            offset=0,
            topic="t",
            timestamp=None,
            timestampType=0,
        ),
        Row(
            value=bytearray(b"this is not json"),
            partition=0,
            offset=1,
            topic="t",
            timestamp=None,
            timestampType=0,
        ),
        Row(  # empty payload: skipped, NOT dead-lettered (src/lib.rs:847-852)
            value=None,
            partition=0,
            offset=2,
            topic="t",
            timestamp=None,
            timestampType=0,
        ),
        Row(  # a partition holding only an empty payload
            value=bytearray(b""),
            partition=1,
            offset=7,
            topic="t",
            timestamp=None,
            timestampType=0,
        ),
    ]
    m = job.run_batch(_raw_df(spark, rows))
    assert m.delta_write_num_records == 1
    assert m.messages_deserialization_failed == 1
    dlq = spark.read.parquet(dlq_loc)
    assert dlq.count() == 1
    row = dlq.collect()[0]
    assert row.base64_bytes is not None
    import base64

    assert base64.b64decode(row.base64_bytes) == b"this is not json"
    # offsets advance past bad AND empty messages: the tombstone at
    # offset 2 counts as processed (reference src/lib.rs:847-852), so
    # the ledger records 2, not the last non-empty offset; partition 1,
    # which saw only an empty payload, still gets its entry.
    assert DeltaLikeTable(table).snapshot()["txn"] == {"app-0": 2, "app-1": 7}


def _dlq_batch(offsets):
    """Good rows at even offsets, undecodable payloads at odd ones."""
    return [
        Row(
            value=bytearray(
                b'{"id": "%d"}' % o if o % 2 == 0 else b"not json %d" % o
            ),
            partition=0,
            offset=o,
            topic="t",
            timestamp=None,
            timestampType=0,
        )
        for o in offsets
    ]


def _dlq_opts(tmp_path):
    return IngestOptions(
        table_uri=str(tmp_path / "t"),
        app_id="app",
        dlq_table_location=str(tmp_path / "dlq"),
    )


def test_replayed_batch_does_not_repeat_dead_letters(spark, tmp_path):
    """The DLQ commit carries the batch's txn map, so a replay of the
    same batch appends no dead letter twice, as the data commit is
    skipped too."""
    opts = _dlq_opts(tmp_path)
    job = IngestJob(opts, StructType([StructField("id", StringType())]))
    raw = _raw_df(spark, _dlq_batch(range(6)))
    assert job.run_batch(raw).messages_deserialization_failed == 3
    replay = job.run_batch(raw)
    assert replay.skipped
    assert spark.read.parquet(opts.dlq_table_location).count() == 3
    assert DeltaLikeTable(opts.table_uri).read(spark).count() == 3
    assert DeltaLikeTable(opts.dlq_table_location).snapshot()["txn"] == {"app-0": 5}


def test_crash_between_dlq_and_data_commit(spark, tmp_path):
    """Dead letters commit before the data. A crash between the two
    leaves the batch's offsets out of the data ledger, so a restarted
    job re-runs the batch: the DLQ commit is skipped by its txn, the
    data commits, and every message lands exactly once."""
    import base64

    opts = _dlq_opts(tmp_path)
    schema = StructType([StructField("id", StringType())])
    first, second = _dlq_batch(range(4)), _dlq_batch(range(4, 10))
    job = IngestJob(opts, schema)
    job.run_batch(_raw_df(spark, first))

    def crash(*_a, **_k):
        raise RuntimeError("killed after the DLQ commit")

    job.table.write_batch = crash
    with pytest.raises(RuntimeError, match="killed"):
        job.run_batch(_raw_df(spark, second))
    assert spark.read.parquet(opts.dlq_table_location).count() == 5

    restarted = IngestJob(opts, schema)
    for batch in (first, second):  # replay from before both batches
        restarted.run_batch(_raw_df(spark, batch))
    ids = sorted(int(r.id) for r in DeltaLikeTable(opts.table_uri).read(spark).collect())
    assert ids == [0, 2, 4, 6, 8]
    dead = sorted(
        base64.b64decode(r.base64_bytes).decode()
        for r in spark.read.parquet(opts.dlq_table_location).collect()
    )
    assert dead == sorted(f"not json {o}" for o in (1, 3, 5, 7, 9))
    assert DeltaLikeTable(opts.table_uri).snapshot()["txn"] == {"app-0": 9}


def test_coercion_failure_routes_to_dlq(spark, tmp_path):
    table = str(tmp_path / "t")
    dlq_loc = str(tmp_path / "dlq")
    opts = IngestOptions(table_uri=table, app_id="app", dlq_table_location=dlq_loc)
    schema = StructType(
        [StructField("id", StringType()), StructField("ts", TimestampType())]
    )
    job = IngestJob(opts, schema)
    rows = [
        Row(
            value=bytearray(b'{"id": "good", "ts": "2021-11-11T22:11:58Z"}'),
            partition=0,
            offset=0,
            topic="t",
            timestamp=None,
            timestampType=0,
        ),
        Row(  # Java-style timestamp: NOT RFC3339 → quarantined
            value=bytearray(b'{"id": "bad", "ts": "2021-11-11 22:11:58"}'),
            partition=0,
            offset=1,
            topic="t",
            timestamp=None,
            timestampType=0,
        ),
    ]
    m = job.run_batch(_raw_df(spark, rows))
    assert m.delta_write_num_records == 1
    good = DeltaLikeTable(table).read(spark).collect()
    assert len(good) == 1 and good[0].id == "good"
    dlq_rows = spark.read.parquet(dlq_loc).collect()
    assert len(dlq_rows) == 1
    assert json.loads(dlq_rows[0].json_string)["id"] == "bad"
    assert dlq_rows[0].error == "FailedToCoerceToDestinationSchema"


def test_null_partition_value_hive_default(spark, tmp_path):
    # reference tests/delta_partitions_tests.rs: null partition column →
    # __HIVE_DEFAULT_PARTITION__ directory.
    table = str(tmp_path / "t")
    opts = IngestOptions(table_uri=table, app_id="app", partition_by=["color"])
    schema = StructType(
        [StructField("id", StringType()), StructField("color", StringType())]
    )
    job = IngestJob(opts, schema)
    rows = [
        Row(
            value=bytearray(json.dumps({"id": str(i), "color": c}).encode()),
            partition=0,
            offset=i,
            topic="t",
            timestamp=None,
            timestampType=0,
        )
        for i, c in enumerate(["red", "blue", None])
    ]
    job.run_batch(_raw_df(spark, rows))
    import os

    dirs = {d for d in os.listdir(table) if d.startswith("color=")}
    assert dirs == {"color=red", "color=blue", "color=__HIVE_DEFAULT_PARTITION__"}
    back = DeltaLikeTable(table).read(spark)
    assert back.count() == 3
    assert back.filter(F.col("color").isNull()).count() == 1


def test_file_stats_recorded(spark, tmp_path):
    # reference src/writer.rs:657-1076 delta_stats_test (subset parity)
    table = str(tmp_path / "t")
    opts = IngestOptions(table_uri=table, app_id="app")
    schema = StructType(
        [StructField("id", StringType()), StructField("value", IntegerType())]
    )
    job = IngestJob(opts, schema)
    rows = [
        Row(
            value=bytearray(json.dumps({"id": f"id{i}", "value": i * 10}).encode()),
            partition=0,
            offset=i,
            topic="t",
            timestamp=None,
            timestampType=0,
        )
        for i in range(10)
    ]
    job.run_batch(_raw_df(spark, rows))
    snap = DeltaLikeTable(table).snapshot()
    stats = [f["stats"] for f in snap["files"]]
    assert sum(s["numRecords"] for s in stats) == 10
    all_mins = [s["minValues"].get("value") for s in stats if s["minValues"]]
    all_maxs = [s["maxValues"].get("value") for s in stats if s["maxValues"]]
    assert min(all_mins) == 0 and max(all_maxs) == 90


def test_checkpoint_every_10_commits(spark, tmp_path):
    # reference src/delta_helpers.rs:42-68 (X7)
    import os

    table = str(tmp_path / "t")
    opts = IngestOptions(table_uri=table, app_id="app")
    schema = StructType([StructField("id", StringType())])
    job = IngestJob(opts, schema)
    for i in range(11):
        rows = [
            Row(
                value=bytearray(json.dumps({"id": str(i)}).encode()),
                partition=0,
                offset=i,
                topic="t",
                timestamp=None,
                timestampType=0,
            )
        ]
        job.run_batch(_raw_df(spark, rows))
    log = os.listdir(f"{table}/_kdi_log")
    assert "checkpoint.00000000000000000010.json" in log
    assert "_last_checkpoint" in log
    snap = DeltaLikeTable(table).snapshot()
    assert snap["version"] == 10
    assert snap["txn"] == {"app-0": 10}
    assert DeltaLikeTable(table).read(spark).count() == 11


def test_optimize_compacts_small_files(spark, tmp_path):
    """B4/P4 substitute (SURVEY §7.2): bin-pack small files via OPTIMIZE
    with remove+add actions; row set unchanged; stats/txn preserved."""
    table_dir = str(tmp_path / "table")
    opts = IngestOptions(topic="t", table_uri=table_dir, app_id="opt")
    schema = StructType(
        [StructField("uuid", StringType()), StructField("status", IntegerType())]
    )
    job = IngestJob(opts, schema)
    # 5 commits → 5+ small files
    for batch in range(5):
        rows = [
            Row(
                value=bytearray(
                    json.dumps({"uuid": f"u-{batch}-{i}", "status": 200}).encode()
                ),
                partition=0,
                offset=batch * 10 + i,
                topic="t",
                timestamp=datetime.datetime(2024, 1, 1),
                timestampType=0,
            )
            for i in range(10)
        ]
        job.run_batch(spark.createDataFrame(rows, (
            "value binary, partition int, offset long, topic string, "
            "timestamp timestamp, timestampType int")))

    table = DeltaLikeTable(table_dir)
    before = table._live_files()
    assert len(before) >= 5
    rows_before = sorted(r["uuid"] for r in table.read(spark).collect())

    result = table.optimize(spark, target_file_bytes=10 * 1024 * 1024)
    assert not result.skipped
    after = table._live_files()
    assert len(after) < len(before)
    rows_after = sorted(r["uuid"] for r in table.read(spark).collect())
    assert rows_after == rows_before  # no loss, no dupes
    # txn ledger survives compaction
    assert table.txn_version("opt-0") == 49
    # second optimize is a no-op (already compact)
    assert table.optimize(spark, target_file_bytes=10 * 1024 * 1024).skipped


def test_web_requests_e2e_standard_delta_log(spark, tmp_path):
    """The reference pipeline into a STANDARD _delta_log destination
    (IngestOptions.log_format='delta'): same transforms, same txn
    exactly-once, but the output table reads back through the
    independent delta_standard.read_delta replay — the interop
    property the reference gets from delta-rs."""
    from kafka_delta_ingest_spark.delta_standard import (
        DeltaStandardSink,
        read_delta,
    )

    table = str(tmp_path / "web_requests_std")
    opts = IngestOptions(
        topic="web_requests",
        table_uri=table,
        app_id="wr",
        transforms=WEB_REQUESTS_TRANSFORMS,
        partition_by=["date"],
        log_format="delta",
    )
    job = IngestJob(opts, WEB_REQUESTS_SCHEMA)
    raw = _raw_df(spark, [_msg(i, i % 2) for i in range(20)])
    m = job.run_batch(raw)
    assert m.version == 0
    assert m.delta_write_num_records == 20

    back = read_delta(spark, table)
    assert back.count() == 20
    r = back.filter(F.col("uuid") == "uuid-3").collect()[0]
    assert r.date == "2021-03-24"
    assert r.meta.kafka.offset == "3"
    assert r.meta.kafka.partition == 1
    assert r.status == 404

    # txn ledger lives in the STANDARD log and drives replay-skip
    snap = DeltaStandardSink(table).snapshot()
    assert snap["txn"] == {"wr-0": 18, "wr-1": 19}
    m2 = job.run_batch(raw)  # identical batch = replay
    assert m2.skipped
    assert read_delta(spark, table).count() == 20
    # the log is pure standard protocol: every action kind is known
    import os as _os

    log = _os.path.join(table, "_delta_log")
    for fname in sorted(_os.listdir(log)):
        if not fname.endswith(".json"):
            continue
        for line in open(_os.path.join(log, fname)):
            kind = next(iter(json.loads(line)))
            assert kind in {"commitInfo", "protocol", "metaData",
                            "add", "remove", "txn"}


def test_web_requests_e2e_iceberg_destination(spark, tmp_path):
    """The reference pipeline into an Apache ICEBERG destination
    (IngestOptions.log_format='iceberg'): same transforms, exactly-
    once via per-partition offsets in the snapshot SUMMARY (the Flink
    connector's bookkeeping channel), read back through the
    independent read_iceberg metadata walk."""
    from kafka_delta_ingest_spark.iceberg import (
        IcebergSink,
        read_iceberg,
        snapshots,
    )

    table = str(tmp_path / "web_requests_ice")
    opts = IngestOptions(
        topic="web_requests",
        table_uri=table,
        app_id="wr",
        transforms=WEB_REQUESTS_TRANSFORMS,
        log_format="iceberg",
    )
    job = IngestJob(opts, WEB_REQUESTS_SCHEMA)
    raw = _raw_df(spark, [_msg(i, i % 2) for i in range(20)])
    m = job.run_batch(raw)
    assert m.delta_write_num_records == 20

    back = read_iceberg(spark, table)
    assert back.count() == 20
    r = back.filter(F.col("uuid") == "uuid-3").collect()[0]
    assert r.date == "2021-03-24"
    assert r.meta.kafka.offset == "3"
    assert r.status == 404

    # offsets live in the snapshot summary and drive replay-skip
    snap = snapshots(table)[-1]
    assert snap["summary"]["kdi.offsets.wr-0"] == "18"
    assert snap["summary"]["kdi.offsets.wr-1"] == "19"
    m2 = job.run_batch(raw)
    assert m2.skipped
    assert read_iceberg(spark, table).count() == 20
    assert len(snapshots(table)) == 1  # no second snapshot


def test_iceberg_destination_identity_partitioning(spark, tmp_path):
    """r8: IngestOptions.partition_by on the Iceberg destination lands
    as an IDENTITY partition spec (the reference's Hive-partitioned
    output, src/writer.rs:390-427): spec fields in metadata, hive
    directory layout under data/, typed partition values in manifest
    entries, partition columns reconstructed on read."""
    from kafka_delta_ingest_spark.iceberg import (
        load_metadata,
        plan_files,
        read_iceberg,
    )

    table = str(tmp_path / "x")
    opts = IngestOptions(
        topic="web_requests", table_uri=table, app_id="a",
        transforms=WEB_REQUESTS_TRANSFORMS,
        partition_by=["date"], log_format="iceberg",
    )
    job = IngestJob(opts, WEB_REQUESTS_SCHEMA)
    raw = _raw_df(
        spark,
        [_msg(0, 0), _msg(1, 1, ts="2021-03-25T01:00:00.000000+00:00")],
    )
    m = job.run_batch(raw)
    assert m.delta_write_num_records == 2
    meta = load_metadata(table)
    spec = meta["partition-specs"][0]["fields"]
    assert [(f["name"], f["transform"]) for f in spec] == [
        ("date", "identity")
    ]
    # manifest entries carry the partition values (plan-time pruning)
    data_files, _, _, _ = plan_files(table)
    assert data_files
    back = read_iceberg(spark, table)
    got = {r.uuid: r.date for r in back.collect()}
    assert got == {"uuid-0": "2021-03-24", "uuid-1": "2021-03-25"}
    # a later batch with a DIFFERENT partitioning is refused
    opts2 = IngestOptions(
        topic="web_requests", table_uri=table, app_id="a",
        transforms=WEB_REQUESTS_TRANSFORMS,
        partition_by=["status"], log_format="iceberg",
    )
    job2 = IngestJob(opts2, WEB_REQUESTS_SCHEMA)
    with pytest.raises(ValueError, match="declared identity spec"):
        job2.run_batch(_raw_df(spark, [_msg(2, 0)]))


def test_iceberg_seek_offsets_bootstrap(spark, tmp_path):
    """--seek_offsets against an Iceberg destination: the offsets land
    in an EMPTY bootstrap snapshot's summary, the ledger floor guard
    then drops already-covered rows from the first real batch."""
    from kafka_delta_ingest_spark.iceberg import read_iceberg

    table = str(tmp_path / "seek_ice")
    opts = IngestOptions(
        topic="web_requests", table_uri=table, app_id="wr",
        transforms=WEB_REQUESTS_TRANSFORMS,
        seek_offsets={0: 9, 1: 9}, log_format="iceberg",
    )
    from kafka_delta_ingest_spark.offsets import write_offsets_to_table

    job = IngestJob(opts, WEB_REQUESTS_SCHEMA)
    # --seek_offsets bootstrap: an EMPTY snapshot carrying the offsets
    write_offsets_to_table(job.table, opts.app_id, opts.seek_offsets)
    stored = job.table.snapshot()["txn"]
    assert stored == {"wr-0": 9, "wr-1": 9}
    # rows at or below the stored floors are replay-dropped
    raw = _raw_df(spark, [_msg(i, i % 2) for i in range(20)])
    m = job.run_batch(raw)
    assert m.delta_write_num_records == 10
    got = sorted(
        int(r.uuid.split("-")[1])
        for r in read_iceberg(spark, table).collect()
    )
    assert got == list(range(10, 20))


def test_schema_evolution_mid_stream_standard_log(spark, tmp_path):
    """The reference's evolve-while-streaming scenario
    (tests/schema_update_tests.rs:23-113, src/writer.rs:370-387) on the
    STANDARD _delta_log destination: an external ALTER (evolve_schema)
    lands between batches; the running job adopts it via sync_schema;
    pre-evolution rows read back with NULL in the new column through
    the independent protocol reader."""
    from kafka_delta_ingest_spark.delta_standard import (
        DeltaStandardWriter,
        delta_history,
        read_delta,
    )

    table = str(tmp_path / "std_evolve")
    opts = IngestOptions(
        topic="t", table_uri=table, app_id="ev", transforms={},
        log_format="delta",
    )
    v1 = StructType(
        [StructField("id", StringType()), StructField("color", StringType())]
    )
    job = IngestJob(opts, v1)

    def raw(lo, n, extra=None):
        rows = []
        for i in range(lo, lo + n):
            payload = {"id": str(i), "color": "red"}
            if extra:
                payload.update(extra(i))
            rows.append(
                Row(
                    value=bytearray(json.dumps(payload).encode()),
                    partition=0,
                    offset=i,
                    topic="t",
                    timestamp=None,
                    timestampType=0,
                )
            )
        return _raw_df(spark, rows)

    job.run_batch(raw(0, 3))

    # a stray column in the frame is REFUSED until the table evolves
    w = DeltaStandardWriter(table)
    with pytest.raises(ValueError, match="evolve_schema"):
        w.write(
            spark.createDataFrame(
                [("x", "blue", 1)], "id string, color string, size int"
            )
        )

    # ALTER TABLE ADD COLUMN size (external, standard metaData commit)
    v2 = StructType(
        list(v1.fields) + [StructField("size", IntegerType())]
    )
    ev = w.evolve_schema(v2)
    assert delta_history(table)[ev]["operation"] == "ADD COLUMNS"

    # same job keeps running; next batch adopts the evolved schema
    job.run_batch(raw(3, 3, extra=lambda i: {"size": i * 10}))
    assert job.target_schema == v2

    out = {
        r.id: (r.color, r.size)
        for r in read_delta(spark, table).collect()
    }
    assert len(out) == 6
    assert out["1"] == ("red", None)   # pre-evolution: NULL fill
    assert out["4"] == ("red", 40)     # post-evolution: value lands
    # exactly-once survives evolution: replay of batch 2 is skipped
    assert job.run_batch(raw(3, 3, extra=lambda i: {"size": i * 10})).skipped


def test_web_requests_e2e_hudi_destination(spark, tmp_path):
    """The reference pipeline into an Apache HUDI CoW destination
    (IngestOptions.log_format='hudi'): same transforms, exactly-once
    offsets in commit extraMetadata (DeltaStreamer's checkpoint slot),
    read-back through the independent read_hudi timeline walk."""
    from kafka_delta_ingest_spark.hudi import (
        HudiSink,
        completed_commits,
        read_hudi,
    )

    table = str(tmp_path / "web_requests_hudi")
    opts = IngestOptions(
        topic="web_requests",
        table_uri=table,
        app_id="wr",
        transforms=WEB_REQUESTS_TRANSFORMS,
        partition_by=["date"],
        log_format="hudi",
    )
    job = IngestJob(opts, WEB_REQUESTS_SCHEMA)
    raw = _raw_df(spark, [_msg(i, i % 2) for i in range(20)])
    m = job.run_batch(raw)
    assert not m.skipped and m.delta_write_num_records == 20

    back = read_hudi(spark, table)
    assert back.count() == 20
    r = back.filter(F.col("uuid") == "uuid-3").collect()[0]
    assert r.date == "2021-03-24"
    assert r.meta.kafka.offset == "3"
    assert r.status == 404
    # hive partition layout + hudi file naming
    import glob as _glob

    files = _glob.glob(table + "/date=2021-03-24/*.parquet")
    assert files and all("_0-1-0_" in os.path.basename(f) for f in files)
    # meta columns present in the files, dropped by the reader
    assert "_hoodie_commit_time" not in back.columns
    got_meta = read_hudi(spark, table, keep_meta=True)
    assert "_hoodie_record_key" in got_meta.columns

    # exactly-once: ledger in extraMetadata drives replay-skip
    snap = HudiSink(table).snapshot()
    assert snap["txn"] == {"wr-0": 18, "wr-1": 19}
    m2 = job.run_batch(raw)
    assert m2.skipped
    assert read_hudi(spark, table).count() == 20
    assert len(completed_commits(table)) == 1  # one commit per batch


def test_hudi_seek_offsets_bootstrap(spark, tmp_path):
    """--seek_offsets against a Hudi destination: offsets land in an
    EMPTY bootstrap commit's extraMetadata; the floor guard then drops
    already-covered rows."""
    from kafka_delta_ingest_spark.hudi import read_hudi
    from kafka_delta_ingest_spark.offsets import write_offsets_to_table

    table = str(tmp_path / "seek_hudi")
    opts = IngestOptions(
        topic="web_requests", table_uri=table, app_id="wr",
        transforms=WEB_REQUESTS_TRANSFORMS,
        seek_offsets={0: 9, 1: 9}, log_format="hudi",
    )
    job = IngestJob(opts, WEB_REQUESTS_SCHEMA)
    write_offsets_to_table(job.table, opts.app_id, opts.seek_offsets)
    assert job.table.snapshot()["txn"] == {"wr-0": 9, "wr-1": 9}
    raw = _raw_df(spark, [_msg(i, i % 2) for i in range(20)])
    m = job.run_batch(raw)
    assert m.delta_write_num_records == 10
    got = sorted(
        int(r.uuid.split("-")[1])
        for r in read_hudi(spark, table).collect()
    )
    assert got == list(range(10, 20))


def test_hudi_destination_clustering_optimize(spark, tmp_path):
    """auto-OPTIMIZE parity on the Hudi destination: small file
    groups cluster into one group per partition via replacecommit;
    rows and commit times survive."""
    from kafka_delta_ingest_spark.hudi import (
        HudiSink,
        plan_file_groups,
        read_hudi,
    )

    table = str(tmp_path / "hudi_clust")
    opts = IngestOptions(
        topic="web_requests", table_uri=table, app_id="wr",
        transforms=WEB_REQUESTS_TRANSFORMS, log_format="hudi",
    )
    job = IngestJob(opts, WEB_REQUESTS_SCHEMA)
    for b in range(3):
        job.run_batch(
            _raw_df(
                spark,
                [_msg(b * 10 + i, (b * 10 + i) % 2) for i in range(10)],
            )
        )
    groups_before, _ = plan_file_groups(table)
    sink = HudiSink(table)
    instant = sink.optimize(spark)
    assert instant is not None
    groups_after, _ = plan_file_groups(table)
    assert len(groups_after) < len(groups_before)
    back = read_hudi(spark, table)
    assert back.count() == 30
    assert {r.uuid for r in back.collect()} == {
        f"uuid-{i}" for i in range(30)
    }
    # clustering is a table service: a second run is a no-op
    assert sink.optimize(spark) is None


def test_iceberg_seek_bootstrap_preserves_partition_spec(spark, tmp_path):
    """r8 review: a --seek_offsets bootstrap commit (first commit on
    the table) must freeze the INTENDED identity spec, and later
    maintenance commits must never rebuild the spec from a
    default-empty writer instance."""
    from kafka_delta_ingest_spark.iceberg import (
        load_metadata,
        read_iceberg,
    )
    from kafka_delta_ingest_spark.offsets import write_offsets_to_table

    table = str(tmp_path / "seek_part_ice")
    opts = IngestOptions(
        topic="web_requests", table_uri=table, app_id="wr",
        transforms=WEB_REQUESTS_TRANSFORMS,
        partition_by=["date"], seek_offsets={0: 3, 1: 3},
        log_format="iceberg",
    )
    job = IngestJob(opts, WEB_REQUESTS_SCHEMA)
    write_offsets_to_table(job.table, opts.app_id, opts.seek_offsets)
    spec = load_metadata(table)["partition-specs"][0]["fields"]
    assert [(f["name"], f["transform"]) for f in spec] == [
        ("date", "identity")
    ]
    # the partitioned stream then writes normally over the bootstrap
    raw = _raw_df(spark, [_msg(i, i % 2) for i in range(10)])
    m = job.run_batch(raw)
    assert m.delta_write_num_records == 6  # offsets 0-3 floored per part
    spec2 = load_metadata(table)["partition-specs"][0]["fields"]
    assert [(f["name"], f["transform"]) for f in spec2] == [
        ("date", "identity")
    ]
    assert read_iceberg(spark, table).count() == 6


def test_hudi_raced_same_batch_skips(spark, tmp_path, monkeypatch):
    """r8 review: a sibling worker committing the SAME batch before
    our instant claim makes our commit a SKIP (post-claim ledger
    re-check), never a double-append."""
    from kafka_delta_ingest_spark.hudi import (
        HudiCowWriter,
        HudiSink,
        completed_commits,
        read_hudi,
    )

    table = str(tmp_path / "hudi_race")
    opts = IngestOptions(
        topic="web_requests", table_uri=table, app_id="wr",
        transforms=WEB_REQUESTS_TRANSFORMS, log_format="hudi",
    )
    raw = _raw_df(spark, [_msg(i, i % 2) for i in range(8)])
    job = IngestJob(opts, WEB_REQUESTS_SCHEMA)

    real_claim = HudiCowWriter._claim_instant
    fired = {"done": False}

    def claim_wrapper(self, action, attempts=100):
        if not fired["done"]:
            fired["done"] = True
            # the sibling lands the SAME batch first
            sibling = IngestJob(opts, WEB_REQUESTS_SCHEMA)
            sibling.run_batch(raw)
        return real_claim(self, action, attempts)

    monkeypatch.setattr(HudiCowWriter, "_claim_instant", claim_wrapper)
    m = job.run_batch(raw)
    assert m.skipped
    assert read_hudi(spark, table).count() == 8  # once, not twice
    assert len(completed_commits(table)) == 1
    snap = HudiSink(table).snapshot()
    assert snap["txn"] == {"wr-0": 6, "wr-1": 7}
