"""Exactly-once checks: what the ingest left behind against what the
generator sent. Each function returns a list of problems (empty when
the check passes), so a run reports every broken invariant at once."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc

from gen import ROW_SCHEMA


def check_rows(actual: pa.Table, expected: pa.Table) -> list[str]:
    """The table holds exactly the expected rows: one row per live
    key, each carrying the newest payload sent for that key."""
    got = actual.select(ROW_SCHEMA.names).cast(ROW_SCHEMA)
    ids = got.column("event_id")
    problems = []
    n_distinct = len(pc.unique(ids))
    if n_distinct != got.num_rows:
        problems.append(f"{got.num_rows - n_distinct} duplicate event_id rows")
    if got.num_rows != expected.num_rows:
        problems.append(f"table has {got.num_rows} rows, expected {expected.num_rows}")
    if problems:
        return problems
    got = got.sort_by("event_id")
    for name in ROW_SCHEMA.names:
        a, b = got.column(name), expected.column(name)
        if not a.equals(b):
            diff = pc.not_equal(a, b)
            i = pc.index(pc.fill_null(diff, True), True).as_py()
            problems.append(
                f"column {name} differs at event_id {got['event_id'][i]}: "
                f"{a[i]} != expected {b[i]}"
            )
    return problems


def check_ledger(txn: dict[str, int], app_id: str, max_offsets: dict[int, int]) -> list[str]:
    """The txn ledger records the last offset sent on every partition."""
    want = {f"{app_id}-{p}": o for p, o in max_offsets.items()}
    got = {k: int(v) for k, v in txn.items()}
    return [] if got == want else [f"txn ledger {got} != expected {want}"]


def check_dead_letters(base64_bytes: list[str | None], expected: list[str]) -> list[str]:
    """The DLQ holds exactly the planted bad payloads, once each."""
    got = sorted(b for b in base64_bytes if b is not None)
    problems = []
    if len(got) != len(base64_bytes):
        problems.append(f"{len(base64_bytes) - len(got)} dead letters without raw bytes")
    if got != expected:
        problems.append(f"{len(got)} dead letters, expected {len(expected)} planted")
    return problems


def check_metrics(history, messages: int) -> list[str]:
    """Per-batch counters account for every message sent: written rows
    plus dead letters of both causes."""
    written = sum(m.delta_write_num_records for m in history)
    failed = sum(
        m.messages_deserialization_failed + m.messages_transform_failed
        for m in history
    )
    if written + failed != messages:
        return [
            f"metrics_history counts {written} written + {failed} failed, "
            f"{messages} sent"
        ]
    return []
