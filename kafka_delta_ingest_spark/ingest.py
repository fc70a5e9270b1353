"""IngestJob — the end-to-end Kafka→table pipeline as one Spark plan.

The reference's run loop (reference src/lib.rs:393-529) interprets
messages one at a time: deserialize → transform → coerce → buffer →
write → commit. Here the same dataflow is declared ONCE as a DataFrame
plan over the Kafka source and executed by Structured Streaming
micro-batches; ``foreachBatch`` hosts the three sink-boundary behaviors
that need custom logic (SURVEY §7.0): DLQ splitting, the
per-Kafka-partition txn offset ledger, and dlq_transforms.

Message path (one ``select``, whole-stage-codegen'd — the per-message
control flow of reference src/lib.rs:811-869 collapses into columnar
expressions):

1. deserialize (serialization.json_payload_to_struct, PERMISSIVE)
2. failed rows → DeadLetter{base64_bytes,...} (src/lib.rs:853-865)
3. transform (transforms.Transformer — kafka meta + JMESPath subset)
4. coerce onto the destination schema (coercions.apply_coercions)
5. non-conforming rows → DeadLetter{json_string,...} — the columnar
   replacement for the reference's row-level parquet quarantine
   (src/writer.rs:618-639): conformance is decided by predicates
   *before* the write, so good rows never pay for bad ones.
6. dead letters, then good rows, each committed with the batch's txn
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from kafka_delta_ingest_spark.config import IngestOptions, MessageFormat
from kafka_delta_ingest_spark.coercions import apply_coercions
from kafka_delta_ingest_spark.dead_letters import DeadLetterQueue, dead_letter_columns
from kafka_delta_ingest_spark.metrics import DELTA_WRITE_FAILED
from kafka_delta_ingest_spark.serialization import json_payload_to_struct
from kafka_delta_ingest_spark.sinks.delta_like import DeltaLikeTable
from kafka_delta_ingest_spark.transforms import Transformer

# Reserved names for Kafka metadata carried alongside the flattened
# payload (the payload owns the plain namespace, as in the reference
# where the message IS the top-level JSON object).
META = {
    "partition": "_kdi_partition",
    "offset": "_kdi_offset",
    "topic": "_kdi_topic",
    "timestamp": "_kdi_timestamp",
    "timestamp_type": "_kdi_timestamp_type",
}
CONFORM_COL = "_kdi_conforms"
ERROR_COL = "_kdi_error"
RAW_COL = "_kdi_raw_value"
PRE_COERCE_JSON_COL = "_kdi_pre_coerce_json"
SKIP_COL = "_kdi_skip"


@dataclass
class BatchMetrics:
    """Counters matching the reference's metric names (src/metrics.rs:221-301)."""

    messages_deserialized: int = 0
    messages_deserialization_failed: int = 0
    messages_transform_failed: int = 0
    delta_add_file_size: int = 0
    delta_write_num_records: int = 0
    version: int = -1
    skipped: bool = False


class IngestJob:
    def __init__(self, opts: IngestOptions, target_schema: StructType):
        self.opts = opts
        # Destination-driven schema (SURVEY §1.2): in real Delta mode this
        # is read from the table; here callers pass the table schema.
        self.target_schema = target_schema
        self.transformer = Transformer(
            opts.transforms,
            kafka_cols={
                "partition": META["partition"],
                "offset": META["offset"],
                "topic": META["topic"],
                "timestamp": META["timestamp"],
                "timestamp_type": META["timestamp_type"],
            },
        )
        fmt = getattr(opts, "log_format", "kdi")
        if fmt == "delta":
            # standard _delta_log destination: any Delta reader can
            # consume the output (reference src/delta_helpers.rs:15-40)
            from kafka_delta_ingest_spark.delta_standard import (
                DeltaStandardSink,
            )

            self.table = DeltaStandardSink(opts.table_uri)
        elif fmt == "iceberg":
            # Apache Iceberg destination: exactly-once offsets ride in
            # the snapshot summary (the Flink-connector bookkeeping
            # channel)
            from kafka_delta_ingest_spark.iceberg import IcebergSink

            self.table = IcebergSink(
                opts.table_uri, target_schema,
                partition_by=getattr(opts, "partition_by", None),
            )
        elif fmt in ("hudi", "hudi_mor"):
            # Apache Hudi destination: exactly-once offsets ride in
            # commit extraMetadata (DeltaStreamer's checkpoint slot).
            # "hudi_mor" + record_key streams every batch as an
            # UPSERT (DeltaStreamer's continuous upsert operation):
            # existing keys append log blocks, new keys base-insert.
            from kafka_delta_ingest_spark.hudi import HudiSink

            self.table = HudiSink(
                opts.table_uri,
                mor=(fmt == "hudi_mor"),
                record_key=getattr(opts, "record_key", None),
            )
        else:
            self.table = DeltaLikeTable(opts.table_uri)
        self.dlq = DeadLetterQueue(
            table_location=opts.dlq_table_location,
            dlq_transforms=opts.dlq_transforms,
            partition_by=None,
        )
        self.metrics_history: list[BatchMetrics] = []
        # Job-local counter for auto-OPTIMIZE cadence. Gating on the
        # table VERSION would be wrong twice over: OPTIMIZE's own
        # commit shifts subsequent versions (interval=2 degenerates to
        # compacting after EVERY batch), and replay-skipped batches
        # would count.
        self._commits_since_optimize = 0
        # Per-partition stored-offset floors, read lazily ONCE from the
        # table's txn ledger at the first batch (None = not yet read).
        self._offset_floors: dict[int, int] | None = None
        from kafka_delta_ingest_spark.metrics import IngestMetrics

        self.metrics = IngestMetrics(endpoint=opts.statsd_endpoint)

    # ------------------------------------------------------------------
    # Plan construction (pure — no actions)
    # ------------------------------------------------------------------

    def plan(self, raw: DataFrame) -> DataFrame:
        """Kafka-layout DataFrame → annotated row stream.

        ``raw`` must have the Spark Kafka source layout: ``value``
        (binary), ``partition`` (int), ``offset`` (long), ``topic``
        (string), ``timestamp`` (timestamp), ``timestampType`` (int).
        Output: destination-schema columns + META columns + ERROR_COL
        (non-null → dead letter) + CONFORM_COL. Empty payloads are
        skipped silently, not dead-lettered (reference src/lib.rs:847-852).
        """
        return self._annotate(raw).filter(~F.col(SKIP_COL)).drop(SKIP_COL)

    def _annotate(self, raw: DataFrame) -> DataFrame:
        """:meth:`plan` over EVERY message: empty or NULL payloads stay,
        flagged by SKIP_COL, because they still count as processed
        offsets in the txn ledger. The decoders receive NULL in their
        place, so no decoder parses them and no registry is asked for
        their schema."""
        skip = F.col("value").isNull() | (F.length("value") == 0)
        value = F.when(~skip, F.col("value"))
        fmt = self.opts.message_format
        if fmt in (
            MessageFormat.AVRO,
            MessageFormat.AVRO_SCHEMA_REGISTRY,
            MessageFormat.AVRO_SOE,
        ):
            from kafka_delta_ingest_spark.serialization import (
                avro_payload_to_json,
                avro_registry_to_json,
                json_text_to_struct,
            )

            if (
                fmt == MessageFormat.AVRO_SCHEMA_REGISTRY
                and self.opts.schema_registry_url
                and not self.opts.avro_schema_json
            ):
                # Per-message writer-schema resolution by the id in the
                # wire-format header (reference src/serialization.rs:212-241).
                text = avro_registry_to_json(
                    value,
                    self.opts.schema_registry_url,
                    fetcher=self.opts.schema_registry_fetcher,
                )
            else:
                text = avro_payload_to_json(
                    value,
                    avro_schema_json=self.opts.avro_schema_json,
                    confluent_wire_format=fmt == MessageFormat.AVRO_SCHEMA_REGISTRY,
                    soe_schemas=self.opts.soe_schemas
                    if fmt == MessageFormat.AVRO_SOE
                    else None,
                )
            parsed, err = json_text_to_struct(text, self.target_schema)
        else:
            parsed, err = json_payload_to_struct(
                value,
                self.target_schema,
                gzip=fmt == MessageFormat.JSON_GZIP,
                confluent_wire_format=fmt == MessageFormat.JSON_SCHEMA_REGISTRY,
            )

        staged = raw.select(
            parsed.alias("_payload"),
            err.alias(ERROR_COL),
            F.col("value").alias(RAW_COL),
            F.col("partition").alias(META["partition"]),
            F.col("offset").alias(META["offset"]),
            F.col("topic").alias(META["topic"]),
            F.col("timestamp").alias(META["timestamp"]),
            F.col("timestampType").alias(META["timestamp_type"]),
            skip.alias(SKIP_COL),
        )

        # Flatten payload to top level (the reference's message object),
        # carrying meta + error columns alongside.
        flat = staged.select(
            *[F.col(f"_payload.`{f.name}`").alias(f.name) for f in self.target_schema.fields],
            ERROR_COL,
            RAW_COL,
            SKIP_COL,
            *[F.col(c) for c in META.values()],
        )

        transformed = self.transformer.apply(flat)

        # Snapshot the PRE-coercion record as JSON for the quarantine
        # path: coercion nulls the offending field, so serializing the
        # coerced row would dead-letter a record with the bad value
        # already erased — undiagnosable and unreplayable (the
        # reference quarantines the record as it attempted to write it,
        # src/writer.rs:618-639). Column pruning drops this for the
        # good-row branch; only DLQ rows ever compute it.
        tcols = [
            f.name
            for f in self.target_schema.fields
            if f.name in transformed.columns
        ]
        pre = transformed.withColumn(
            PRE_COERCE_JSON_COL,
            F.to_json(F.struct(*[F.col(f"`{c}`") for c in tcols])),
        )
        coerced = apply_coercions(
            pre, self.target_schema, conform_col=CONFORM_COL, keep_extra=True
        )
        return coerced

    def split(self, planned: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(good rows projected to the destination schema, dead letters)."""
        target_cols = [f.name for f in self.target_schema.fields]
        good = (
            planned.filter(F.col(ERROR_COL).isNull() & F.col(CONFORM_COL))
            .select(*[F.col(f"`{c}`") for c in target_cols])
        )
        deser_failed = planned.filter(F.col(ERROR_COL).isNotNull())
        dlq_deser = deser_failed.select(
            *dead_letter_columns(F.col(RAW_COL), None, F.col(ERROR_COL))
        )
        nonconforming = planned.filter(F.col(ERROR_COL).isNull() & ~F.col(CONFORM_COL))
        dlq_bad = nonconforming.select(
            *dead_letter_columns(
                None,
                F.col(PRE_COERCE_JSON_COL),
                F.lit("FailedToCoerceToDestinationSchema"),
            )
        )
        return good, dlq_deser.unionByName(dlq_bad)

    # ------------------------------------------------------------------
    # Execution
    # ------------------------------------------------------------------

    def sync_schema(self) -> bool:
        """Adopt the table's current declared schema if it changed —
        runtime schema evolution (reference ``update_schema``
        src/writer.rs:370-387 + src/lib.rs:956-963: after a write the
        table metadata is re-read; on drift the Arrow schema and the
        coercion tree are rebuilt). Our plan is recompiled from
        ``target_schema`` every batch, so adopting the new StructType is
        the whole rebuild. Returns True when the schema changed."""
        declared = self.table.table_schema()
        if declared is not None and declared != self.target_schema:
            self.target_schema = declared
            return True
        return False

    def ledger_floors(self) -> dict[int, int]:
        """Stored per-partition offset floors for THIS app from the
        table's txn ledger.

        The reference seeds its per-partition ``ValueBuffer`` state from
        the same ledger at startup and seeks each consumer to
        ``stored + 1`` (src/lib.rs:1045-1075); any message at or below
        the stored offset is rejected as
        ``AlreadyProcessedPartitionOffset`` (src/lib.rs:812-819). The
        floors come from normal ingest commits, from ``--seek_offsets``
        bootstrap (src/offsets.rs), or from the latest-watermark
        bootstrap (:meth:`seek_to_high_watermark`)."""
        prefix = f"{self.opts.app_id}-"
        floors: dict[int, int] = {}
        for app, ver in self.table.snapshot()["txn"].items():
            tail = app[len(prefix):] if app.startswith(prefix) else ""
            if tail.isdigit():
                floors[int(tail)] = int(ver)
        return floors

    def seek_to_high_watermark(self, raw_static: DataFrame) -> None:
        """``auto_offset_reset=latest`` bootstrap for non-Kafka sources:
        record the source's CURRENT max offset per partition in the txn
        ledger, so the stream starts strictly after everything that
        already exists — the reference gets this from the broker by
        seeking to ``Offset::End`` (src/lib.rs:1060-1066); the real
        Kafka source from ``startingOffsets=latest``. File/test
        harnesses have no broker to ask, so the watermark is read from
        a static snapshot of the same source and applied through the
        exact ``--seek_offsets`` decision tree (offsets.py) — i.e.
        "latest" is modeled as an explicit seek to the observed high
        watermark, and the per-row ledger-floor guard enforces it."""
        from kafka_delta_ingest_spark.offsets import write_offsets_to_table

        marks = {
            int(r["p"]): int(r["o"])
            for r in raw_static.groupBy(F.col("partition").alias("p"))
            .agg(F.max("offset").alias("o"))
            .collect()
        }
        if marks:
            write_offsets_to_table(self.table, self.opts.app_id, marks)

    def _apply_offset_floors(self, raw: DataFrame) -> DataFrame:
        """Drop rows already covered by the ledger (B1/X3 row guard).

        Read once at the first batch — the reference seeds buffers once
        per assignment the same way — then applied as a pure map-side
        predicate on two int columns: free in steady state, where every
        incoming offset is beyond the floor. Spark's checkpoint makes
        this redundant for its own replays; it is the correctness gate
        for cross-engine restarts (a ledger written by another writer)
        and for seek/latest bootstraps on sources that cannot seek."""
        if self._offset_floors is None:
            self._offset_floors = self.ledger_floors()
        if not self._offset_floors:
            return raw
        pairs = [
            F.lit(x)
            for p, o in sorted(self._offset_floors.items())
            for x in (p, o)
        ]
        floor = F.coalesce(
            F.create_map(*pairs)[F.col("partition")], F.lit(-(1 << 62))
        )
        return raw.filter(F.col("offset") > floor)

    def process_batch(self, raw: DataFrame, batch_id: int = 0) -> BatchMetrics:
        """foreachBatch body: split, then commit dead letters and good
        rows, each under the batch's txn ledger."""
        import time as _time

        self.sync_schema()
        annotated = self._annotate(self._apply_offset_floors(raw)).persist()
        try:
            live = ~F.col(SKIP_COL)
            good, dlq = self.split(annotated.filter(live))

            # One aggregate decides the whole batch: per-Kafka-partition
            # last offsets → txn actions (reference
            # src/delta_helpers.rs:15-40), counting empty payloads as
            # processed (src/lib.rs:847-852), plus the dead letters by
            # cause — the reference keeps deserialization and coercion
            # failures in separate counters (src/metrics.rs).
            # coalesce(1) yields SinglePartition, which satisfies the
            # grouping distribution: no exchange, so no AQE map-stage
            # job. The decode stays parallel, because AQE first
            # materializes the cache as its own stage at input width.
            rows = (
                annotated.coalesce(1)
                .groupBy(F.col(META["partition"]).alias("p"))
                .agg(
                    F.max(META["offset"]).alias("o"),
                    F.sum(
                        (live & F.col(ERROR_COL).isNotNull()).cast("long")
                    ).alias("n_deser"),
                    F.sum(
                        (live & F.col(ERROR_COL).isNull() & ~F.col(CONFORM_COL))
                        .cast("long")
                    ).alias("n_coerce"),
                )
                .collect()
            )
            txn = {f"{self.opts.app_id}-{r['p']}": r["o"] for r in rows}
            n_deser = sum(r["n_deser"] or 0 for r in rows)
            n_coerce = sum(r["n_coerce"] or 0 for r in rows)

            # Dead letters commit FIRST, under the same txn: a replay, or
            # a restart after a crash before the data commit, finds the
            # ledger stored in the DLQ table and skips them there.
            if n_deser + n_coerce:
                self.dlq.write(dlq, txn=txn)

            m = BatchMetrics()
            t_write = _time.perf_counter()
            try:
                result = self.table.write_batch(
                    good, partition_by=self.opts.partition_by or None, txn=txn
                )
            except Exception:
                self.metrics.count(DELTA_WRITE_FAILED)
                raise
            write_s = _time.perf_counter() - t_write
            m.version = result.version
            m.skipped = result.skipped
            m.delta_write_num_records = result.num_records
            m.messages_deserialization_failed = n_deser
            m.messages_transform_failed = n_coerce
            m.messages_deserialized = m.delta_write_num_records + n_coerce
            # Continuous file sizing (opt-in): after every
            # auto_optimize_interval ingest commits, bin-pack small
            # files toward min_bytes_per_file — the Spark-idiomatic
            # substitute for the reference's held-open writers (B4,
            # doc/DESIGN.md:61-76; SURVEY §7.2). OPTIMIZE commits
            # remove+add atomically, so concurrent readers of any
            # version still see exactly one copy of every row, and the
            # txn ledger is untouched (compaction moves bytes, not
            # offsets).
            n_opt = self.opts.auto_optimize_interval
            if n_opt > 0 and not m.skipped:
                self._commits_since_optimize += 1
                if self._commits_since_optimize >= n_opt:
                    self._commits_since_optimize = 0
                    self.table.optimize(
                        raw.sparkSession,
                        target_file_bytes=self.opts.min_bytes_per_file,
                    )
            self.metrics_history.append(m)
            self.metrics.record_batch(
                deserialized=m.messages_deserialized,
                deserialize_failed=m.messages_deserialization_failed,
                transform_failed=n_coerce,
                write_duration_s=write_s,
                add_file_bytes=m.delta_add_file_size,
                num_records=m.delta_write_num_records,
            )
            return m
        finally:
            annotated.unpersist()

    def run_batch(self, raw: DataFrame) -> BatchMetrics:
        """One-shot ingest of a static DataFrame (the reference's
        ``--ends_at_latest_offsets`` mode ≙ trigger(availableNow))."""
        return self.process_batch(raw, batch_id=0)

    def run_stream(self, spark: SparkSession, checkpoint_dir: str, raw_stream=None):
        """Launch the streaming query.

        ``raw_stream`` defaults to the real Kafka source built from the
        options; tests inject a file/memory stream with the same layout.
        """
        if raw_stream is None:
            raw_stream = self.kafka_source(spark)
        writer = (
            raw_stream.writeStream.option("checkpointLocation", checkpoint_dir)
            .foreachBatch(lambda df, bid: self.process_batch(df, bid))
            .queryName(self.opts.app_id)
        )
        if self.opts.ends_at_latest_offsets:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=f"{self.opts.allowed_latency} seconds")
        return writer.start()

    def kafka_source(self, spark: SparkSession) -> DataFrame:
        """Build the Kafka source (requires the spark-sql-kafka package).

        Maps reference options: seek_offsets → startingOffsets JSON
        (src/offsets.rs), auto_offset_reset → earliest/latest
        (src/lib.rs:244-254), max_messages_per_batch → maxOffsetsPerTrigger.
        """
        import json as _json

        reader = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", self.opts.kafka_brokers)
            .option("subscribe", self.opts.topic)
            .option("failOnDataLoss", "false")
            # Direct mapping (SURVEY §2.4): maxOffsetsPerTrigger is a
            # TOTAL across partitions per micro-batch, same contract as
            # the reference's per-run batch bound.
            .option(
                "maxOffsetsPerTrigger",
                str(self.opts.max_messages_per_batch),
            )
        )
        if self.opts.seek_offsets:
            starting = {self.opts.topic: {str(p): o for p, o in self.opts.seek_offsets.items()}}
            reader = reader.option("startingOffsets", _json.dumps(starting))
        else:
            reader = reader.option("startingOffsets", self.opts.auto_offset_reset.value)
        for k, v in self.opts.kafka_settings.items():
            reader = reader.option(f"kafka.{k}", v)
        return reader.load()
