"""Dead-letter queue: failed-message capture and routing.

Rebuilds the reference's DLQ (reference src/dead_letters.rs) as a
DataFrame split inside the sink stage:

* ``DeadLetter`` shape {base64_bytes, json_string, error, timestamp(µs)}
  (src/dead_letters.rs:26-38): deserialization failures carry the
  base64-encoded raw payload; transform/coercion/write failures carry
  the message JSON text.
* Factory semantics (src/dead_letters.rs:145-219): default is a no-op
  sink; a table location enables a second append alongside the data
  table; a logging mode warns.
* ``dlq_transforms`` (src/dead_letters.rs:240-316): the same transform
  compiler runs over the DLQ rows (e.g. deriving a ``date`` partition
  from the failure timestamp).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

from kafka_delta_ingest_spark.transforms import Transformer

DEAD_LETTER_SCHEMA = StructType(
    [
        StructField("base64_bytes", StringType(), True),
        StructField("json_string", StringType(), True),
        StructField("error", StringType(), True),
        StructField("timestamp", TimestampType(), True),
    ]
)


def dead_letter_columns(
    raw_bytes: Column | None,
    json_string: Column | None,
    error: Column,
) -> list[Column]:
    """Build the DeadLetter projection.

    ``from_failed_deserialization`` carries bytes, no JSON
    (src/dead_letters.rs:58-69); transform/write failures carry JSON,
    no bytes (src/dead_letters.rs:44-56, 71-82).
    """
    return [
        (F.base64(raw_bytes) if raw_bytes is not None else F.lit(None).cast("string")).alias(
            "base64_bytes"
        ),
        (json_string if json_string is not None else F.lit(None).cast("string")).alias(
            "json_string"
        ),
        error.cast("string").alias("error"),
        F.current_timestamp().alias("timestamp"),
    ]


@dataclass
class DeadLetterQueue:
    """noop / delta-table / logging DLQ (src/dead_letters.rs:145-219)."""

    table_location: str | None = None
    dlq_transforms: dict[str, str] = field(default_factory=dict)
    log_only: bool = False
    partition_by: list[str] | None = None

    def write(
        self, dlq_df: DataFrame, sink_writer=None, txn: dict[str, int] | None = None
    ) -> int:
        """Write dead letters; returns the count routed (for metrics).

        ``txn`` (appId → offset) rides on the table commit, so a batch
        whose offsets the DLQ table already stores is not appended again."""
        if self.table_location is None and not self.log_only:
            return 0  # noop DLQ: dead letters are dropped (default)
        out = dlq_df
        if self.dlq_transforms:
            out = Transformer(self.dlq_transforms).apply(out)
        if self.log_only:
            n = out.count()
            if n:
                for row in out.select("error").limit(20).collect():
                    print(f"[dead-letter] {row.error}")
            return n
        if sink_writer is not None:
            return sink_writer(out, self.table_location, self.partition_by)
        # Delta-style synchronous append commit (reference insert_all,
        # src/dead_letters.rs:240-316 + src/writer.rs:577-601) — the DLQ
        # table gets the same txn-log/stats treatment as the data table.
        from kafka_delta_ingest_spark.sinks.delta_like import DeltaLikeTable

        result = DeltaLikeTable(self.table_location).write_batch(
            out, partition_by=self.partition_by, txn=txn, operation="WRITE"
        )
        return result.num_records
