"""The exactly-once checks catch a lost row, a duplicate and a stale
upsert, and pass on an exact table."""

import pyarrow as pa

import check
import gen
from kafka_delta_ingest_spark.ingest import BatchMetrics


def _expected(tmp_path):
    return gen.generate(gen.WORKLOADS["upsert-hudi-mor"], 2, 2, str(tmp_path))


def test_exact_table_passes(tmp_path):
    backlog = _expected(tmp_path)
    shuffled = backlog.expected_rows.take(pa.array(range(backlog.expected_rows.num_rows - 1, -1, -1)))
    assert check.check_rows(shuffled, backlog.expected_rows) == []


def test_one_row_deleted_fails(tmp_path):
    rows = _expected(tmp_path).expected_rows
    assert check.check_rows(rows.slice(1), rows)


def test_one_row_duplicated_fails(tmp_path):
    rows = _expected(tmp_path).expected_rows
    assert check.check_rows(pa.concat_tables([rows, rows.slice(5, 1)]), rows)
    # duplicated in place of a lost row: the count still matches
    dup = pa.concat_tables([rows.slice(1), rows.slice(5, 1)])
    assert check.check_rows(dup, rows)


def test_stale_upsert_value_fails(tmp_path):
    rows = _expected(tmp_path).expected_rows
    values = rows["value"].to_pylist()
    values[3] += 1.0
    stale = rows.set_column(rows.schema.get_field_index("value"), "value", pa.array(values))
    assert check.check_rows(stale, rows)


def test_ledger_dead_letters_and_counters():
    assert check.check_ledger({"app-0": 4, "app-1": 9}, "app", {0: 4, 1: 9}) == []
    assert check.check_ledger({"app-0": 3, "app-1": 9}, "app", {0: 4, 1: 9})
    assert check.check_dead_letters(["b", "a"], ["a", "b"]) == []
    assert check.check_dead_letters(["a"], ["a", "b"])
    assert check.check_dead_letters(["a", "a", "b"], ["a", "b"])
    history = [
        BatchMetrics(delta_write_num_records=8, messages_deserialization_failed=2),
        BatchMetrics(delta_write_num_records=10),
    ]
    assert check.check_metrics(history, 20) == []
    assert check.check_metrics(history, 21)
