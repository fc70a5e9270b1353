"""Seeded input generator: a Kafka-topic backlog as parquet files.

One file per micro-batch, in the Spark Kafka-source layout
(``value, partition, offset, topic, timestamp, timestampType``), with
contiguous offsets per partition across the whole backlog. Only
pyarrow and numpy are used (no Spark), so the program under test
receives nothing but the files.

The generator also returns what a correct ingest must produce: the
final table rows, the planted dead letters, and the per-partition
offset ledger.
"""

from __future__ import annotations

import base64
import os
import struct
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TOPIC = "events"
PARTITIONS = 8
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
USERS = 1500
# 2024-01-01T00:00:00 in microseconds since the epoch; events advance
# about 26 s apart (3,333 a day), so a 500-message batch spans one or
# two dates.
EPOCH_US = 1_704_067_200_000_000
STEP_US = 25_920_000

RAW_SCHEMA = pa.schema(
    [
        ("value", pa.binary()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("topic", pa.string()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("timestampType", pa.int32()),
    ]
)
RAW_DDL = (
    "value binary, partition int, offset long, topic string, "
    "timestamp timestamp, timestampType int"
)

# Destination columns checked row by row after the drain.
ROW_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
        ("ts", pa.timestamp("us")),
        ("date", pa.string()),
        ("kafka_offset", pa.int64()),
        ("kafka_partition", pa.int32()),
    ]
)

AVRO_SCHEMA = {
    "type": "record",
    "name": "Event",
    "fields": [
        {"name": "event_id", "type": "long"},
        {"name": "ts", "type": "string"},
        {"name": "user_id", "type": "long"},
        {"name": "event_type", "type": "string"},
        {"name": "value", "type": "double"},
        {"name": "props", "type": "string"},
    ],
}


@dataclass(frozen=True)
class Workload:
    name: str
    message_format: str  # "json" or "avro"
    log_format: str  # IngestOptions.log_format
    batch_msgs: int
    partition_by: tuple[str, ...] = ()
    record_key: str | None = None
    # share of each batch that re-sends keys the previous batch inserted
    resend_share: float = 0.0
    # share of each batch whose payload is truncated (a dead letter)
    bad_share: float = 0.0
    # leading batches left out of the traced run's timings: batch 0
    # (set-up) plus the first batches, while the JVM is still compiling
    # the batch path. An untraced run leaves out batch 0 only.
    warmup: int = 1
    # batches per second after warm-up on a 4-core box: sizes the
    # measured part of the backlog so it drains in about ``--seconds``
    pace: float = 1.0
    why: str = ""


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "trickle-delta", "json", "delta", 500, partition_by=("date",),
            warmup=8, pace=0.8,
            why="small clean JSON batches into _delta_log: per-batch fixed cost",
        ),
        Workload(
            "bulk-delta", "json", "delta", 50_000, partition_by=("date",),
            warmup=3, pace=0.35,
            why="large clean JSON batches into _delta_log: per-message cost",
        ),
        Workload(
            "upsert-hudi-mor", "avro", "hudi_mor", 5_000,
            record_key="event_id", resend_share=0.3, bad_share=0.02,
            warmup=3, pace=0.5,
            why="Avro upserts with dead letters into Hudi merge-on-read",
        ),
    )
}


def first_measured(w: Workload, traced: bool) -> int:
    """The first batch a run measures: after the warm-up in a traced
    run, whose metrics are timings; after batch 0 (set-up) otherwise."""
    return w.warmup if traced else 1


def backlog_batches(w: Workload, seconds: int, traced: bool) -> int:
    """Leading batches plus a measured drain of about ``seconds``, at
    least 4 batches long."""
    return first_measured(w, traced) + max(4, round(seconds * w.pace))


# ---------------------------------------------------------------------------
# Avro binary encoding, written here rather than taken from the program so
# that an encoder bug shared with the decoder under test cannot hide.
# ---------------------------------------------------------------------------


def _avro_long(out: bytearray, v: int) -> None:
    u = (v << 1) ^ (v >> 63)  # zigzag
    while u > 0x7F:
        out.append((u & 0x7F) | 0x80)
        u >>= 7
    out.append(u)


def _avro_string(out: bytearray, s: str) -> None:
    b = s.encode("utf-8")
    _avro_long(out, len(b))
    out += b


def avro_event(event_id: int, ts: str, user_id: int, event_type: str,
               value: float, props: str) -> bytes:
    """Encode one event against :data:`AVRO_SCHEMA`."""
    out = bytearray()
    _avro_long(out, event_id)
    _avro_string(out, ts)
    _avro_long(out, user_id)
    _avro_string(out, event_type)
    out += struct.pack("<d", value)
    _avro_string(out, props)
    return bytes(out)


@dataclass
class Backlog:
    files: list[str]
    batch_sizes: list[int]
    expected_rows: pa.Table  # final table, sorted by event_id
    bad_payloads: list[bytes]  # planted dead letters, in send order
    max_offsets: dict[int, int]  # partition -> last offset sent

    @property
    def messages(self) -> int:
        return sum(self.batch_sizes)

    def expected_dlq_base64(self) -> list[str]:
        return sorted(base64.b64encode(b).decode("ascii") for b in self.bad_payloads)


def _text(a) -> pa.Array:
    return pc.cast(pa.array(a), pa.string())


def _payloads(fmt: str, ids, ts_text, users, etypes, cents, ks) -> pa.Array:
    """One payload per row. Values are whole cents printed with two
    decimals, so the text parses to exactly ``cents / 100``."""
    value_text = pc.binary_join_element_wise(
        _text(cents // 100), pc.utf8_lpad(_text(cents % 100), 2, "0"), "."
    )
    props = pc.binary_join_element_wise('{"k": ', _text(ks), "}", "")
    etype_text = pa.array(np.asarray(EVENT_TYPES)[etypes])
    if fmt == "avro":
        return pa.array(
            [
                avro_event(i, t, u, e, c / 100, pr)
                for i, t, u, e, c, pr in zip(
                    ids.tolist(), ts_text.to_pylist(), users.tolist(),
                    etype_text.to_pylist(), cents.tolist(), props.to_pylist(),
                )
            ],
            pa.binary(),
        )
    text = pc.binary_join_element_wise(
        '{"event_id": ', _text(ids),
        ', "ts": "', ts_text,
        '", "user_id": ', _text(users),
        ', "event_type": "', etype_text,
        '", "value": ', value_text,
        ', "props": "{\\"k\\": ', _text(ks), '}"}',
        "",
    )
    return pc.cast(text, pa.binary())


def _ts_text(ts_us) -> pa.Array:
    """RFC 3339 text (microseconds, ``Z``) for UTC instants."""
    import datetime as dt

    days, us = np.divmod(np.asarray(ts_us) - EPOCH_US, 86_400_000_000)
    uniq, inv = np.unique(days, return_inverse=True)
    first = dt.date(2024, 1, 1)
    dates = np.asarray(
        [(first + dt.timedelta(days=int(d))).isoformat() for d in uniq]
    )[inv]
    secs, frac = np.divmod(us, 1_000_000)

    def pad(a, n):
        return pc.utf8_lpad(_text(a), n, "0")

    return pc.binary_join_element_wise(
        pa.array(dates), "T", pad(secs // 3600, 2), ":", pad(secs // 60 % 60, 2),
        ":", pad(secs % 60, 2), ".", pad(frac, 6), "Z", "",
    )


def generate(w: Workload, seed: int, n_batches: int, out_dir: str) -> Backlog:
    """Write ``n_batches`` parquet files under ``out_dir`` and return
    the expectation. The same (workload, seed, n_batches) always writes
    byte-identical files."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, zlib.crc32(w.name.encode())])
    cap = n_batches * w.batch_msgs
    # per-event state, indexed by event_id
    user = np.zeros(cap, np.int64)
    etype = np.zeros(cap, np.int64)
    ts_us = np.zeros(cap, np.int64)
    k = np.zeros(cap, np.int64)
    cents = np.zeros(cap, np.int64)
    offset = np.zeros(cap, np.int64)
    part = np.zeros(cap, np.int64)
    live = np.zeros(cap, bool)
    next_offset = np.zeros(PARTITIONS, np.int64)
    next_id = 0
    prev_inserted = np.zeros(0, np.int64)
    files, sizes, bad_payloads = [], [], []
    # Distinct mtimes in batch order: the file source orders by mtime,
    # so file k is always micro-batch k.
    mtime0 = 1_700_000_000
    for b in range(n_batches):
        n_resend = min(int(w.batch_msgs * w.resend_share), len(prev_inserted))
        n_new = w.batch_msgs - n_resend
        n_bad = int(w.batch_msgs * w.bad_share)
        new_ids = np.arange(next_id, next_id + n_new)
        next_id += n_new
        user[new_ids] = rng.integers(0, USERS, n_new)
        etype[new_ids] = rng.integers(0, len(EVENT_TYPES), n_new)
        ts_us[new_ids] = EPOCH_US + new_ids * STEP_US + rng.integers(0, STEP_US, n_new)
        k[new_ids] = rng.integers(0, 100, n_new)
        # re-sent keys are distinct within the batch
        resend = rng.choice(prev_inserted, n_resend, replace=False)
        ids = np.concatenate([resend, new_ids])
        batch_cents = rng.integers(0, 56_000, len(ids))
        bad = np.zeros(len(ids), bool)
        bad[n_resend + rng.choice(n_new, n_bad, replace=False)] = True
        order = rng.permutation(len(ids))
        ids, batch_cents, bad = ids[order], batch_cents[order], bad[order]

        p = user[ids] % PARTITIONS
        offs = np.zeros(len(ids), np.int64)
        for q in range(PARTITIONS):
            rows = np.flatnonzero(p == q)
            offs[rows] = next_offset[q] + np.arange(len(rows))
            next_offset[q] += len(rows)
        payloads = _payloads(
            w.message_format, ids, _ts_text(ts_us[ids]), user[ids],
            etype[ids], batch_cents, k[ids],
        )
        if bad.any():
            values = payloads.to_pylist()
            for i in np.flatnonzero(bad).tolist():
                values[i] = values[i][: len(values[i]) // 2]
                bad_payloads.append(values[i])
            payloads = pa.array(values, pa.binary())

        good = ids[~bad]
        cents[good] = batch_cents[~bad]
        offset[good] = offs[~bad]
        part[good] = p[~bad]
        live[good] = True
        prev_inserted = np.setdiff1d(good, resend, assume_unique=True)

        table = pa.table(
            [
                payloads,
                pa.array(p, pa.int32()),
                pa.array(offs, pa.int64()),
                pa.array([TOPIC] * len(ids), pa.string()),
                pa.array(ts_us[ids], pa.timestamp("us", tz="UTC")),
                pa.array(np.zeros(len(ids), np.int32)),
            ],
            schema=RAW_SCHEMA,
        )
        path = os.path.join(out_dir, f"batch-{b:05d}.parquet")
        pq.write_table(table, path, compression="snappy")
        os.utime(path, (mtime0 + b, mtime0 + b))
        files.append(path)
        sizes.append(len(ids))

    ids = np.flatnonzero(live)
    ts_text = _ts_text(ts_us[ids])
    expected = pa.table(
        [
            pa.array(ids, pa.int64()),
            pa.array(user[ids]),
            pa.array(np.asarray(EVENT_TYPES)[etype[ids]]),
            pa.array(cents[ids] / 100),
            pc.binary_join_element_wise('{"k": ', _text(k[ids]), "}", ""),
            pa.array(ts_us[ids], pa.timestamp("us")),
            pc.utf8_slice_codeunits(ts_text, 0, 10),
            pa.array(offset[ids]),
            pa.array(part[ids], pa.int32()),
        ],
        schema=ROW_SCHEMA,
    )
    return Backlog(
        files=files,
        batch_sizes=sizes,
        expected_rows=expected,
        bad_payloads=bad_payloads,
        max_offsets={q: int(o) - 1 for q, o in enumerate(next_offset) if o},
    )
