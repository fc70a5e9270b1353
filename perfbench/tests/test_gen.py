"""The generator: determinism, Kafka offsets, planted dead letters,
upsert keys and the hand-written Avro encoder."""

import json
import struct
from pathlib import Path

import pyarrow.parquet as pq
import pytest

import gen

UPSERT = gen.WORKLOADS["upsert-hudi-mor"]
TRICKLE = gen.WORKLOADS["trickle-delta"]


def _files(backlog):
    return [pq.read_table(f) for f in backlog.files]


def test_same_seed_gives_byte_identical_input(tmp_path):
    a = gen.generate(UPSERT, 7, 3, str(tmp_path / "a"))
    b = gen.generate(UPSERT, 7, 3, str(tmp_path / "b"))
    c = gen.generate(UPSERT, 8, 3, str(tmp_path / "c"))
    bytes_of = lambda bl: [Path(f).read_bytes() for f in bl.files]  # noqa: E731
    assert bytes_of(a) == bytes_of(b)
    assert bytes_of(a) != bytes_of(c)
    assert a.expected_rows.equals(b.expected_rows)


@pytest.mark.parametrize("workload", [TRICKLE, UPSERT], ids=lambda w: w.name)
def test_offsets_are_contiguous_per_partition(tmp_path, workload):
    backlog = gen.generate(workload, 3, 4, str(tmp_path))
    seen: dict[int, list[int]] = {}
    for t in _files(backlog):
        assert t.schema == gen.RAW_SCHEMA
        for p, o in zip(t["partition"].to_pylist(), t["offset"].to_pylist()):
            seen.setdefault(p, []).append(o)
    assert set(seen) == set(range(gen.PARTITIONS))
    for p, offsets in seen.items():
        assert offsets == list(range(len(offsets))), p
        assert backlog.max_offsets[p] == len(offsets) - 1
    assert backlog.batch_sizes == [workload.batch_msgs] * 4
    assert backlog.messages == 4 * workload.batch_msgs


def test_planted_bad_count_is_exact(tmp_path):
    from kafka_delta_ingest_spark import avro_python

    schema = avro_python.parse_schema(json.dumps(gen.AVRO_SCHEMA))
    backlog = gen.generate(UPSERT, 5, 3, str(tmp_path))
    per_batch = int(UPSERT.batch_msgs * UPSERT.bad_share)
    assert len(backlog.bad_payloads) == 3 * per_batch == 300
    undecodable = []
    for t in _files(backlog):
        for v in t["value"].to_pylist():
            try:
                avro_python.decode(v, schema)
            except Exception:
                undecodable.append(v)
    assert sorted(undecodable) == sorted(backlog.bad_payloads)


def test_resent_keys_are_unique_in_a_batch_and_newest_value_wins(tmp_path):
    from kafka_delta_ingest_spark import avro_python

    schema = avro_python.parse_schema(json.dumps(gen.AVRO_SCHEMA))
    backlog = gen.generate(UPSERT, 9, 3, str(tmp_path))
    bad = set(backlog.bad_payloads)
    newest, prev = {}, set()
    for b, t in enumerate(_files(backlog)):
        good = [
            avro_python.decode(v, schema)
            for v in t["value"].to_pylist() if v not in bad
        ]
        ids = [e["event_id"] for e in good]
        assert len(ids) == len(set(ids))
        resent = set(ids) & set(newest)
        assert resent <= prev
        if b:
            assert len(resent) == int(UPSERT.batch_msgs * UPSERT.resend_share)
        prev = set(ids) - resent
        newest.update((e["event_id"], e["value"]) for e in good)
    rows = backlog.expected_rows
    assert dict(zip(rows["event_id"].to_pylist(), rows["value"].to_pylist())) == newest


def test_json_payload_matches_expected_row(tmp_path):
    backlog = gen.generate(TRICKLE, 4, 1, str(tmp_path))
    t = pq.read_table(backlog.files[0])
    first = json.loads(t["value"][0].as_py())
    rows = {r["event_id"]: r for r in backlog.expected_rows.to_pylist()}
    row = rows[first["event_id"]]
    assert first["value"] == row["value"]
    assert first["ts"] == row["ts"].strftime("%Y-%m-%dT%H:%M:%S.%fZ")
    assert row["date"] == first["ts"][:10]
    assert row["kafka_offset"] == t["offset"][0].as_py()
    assert row["kafka_partition"] == t["partition"][0].as_py() == first["user_id"] % 8


def test_avro_encoder_matches_hand_computed_bytes():
    got = gen.avro_event(64, "a", -1, "", 1.0, "k")
    want = (
        b"\x80\x01"  # 64 -> zigzag 128 -> varint with a continuation byte
        + b"\x02a"  # length 1 (zigzag 2), then the byte
        + b"\x01"  # -1 -> zigzag 1
        + b"\x00"  # empty string
        + b"\x00\x00\x00\x00\x00\x00\xf0\x3f"  # 1.0, little-endian IEEE double
        + b"\x02k"
    )
    assert got == want
    assert struct.unpack("<d", want[6:14])[0] == 1.0
