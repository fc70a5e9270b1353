"""The fixed Spark work of the Hudi keyed writes, pinned by job count.

``HudiCowWriter.upsert_batch``, ``HudiMorWriter.upsert_log_batch`` and
``HudiMorWriter.delete_log_batch`` share one match discovery: the
source is materialized once, one aggregate checks its keys, and the
live base files' key columns are probed with a broadcast of the
batch's keys. Jobs are counted per job group through the status
tracker. The table holds two 1,000-row inserts; the batch carries
1,000 keys, 500 of them already live.
"""

import os

import pytest

from kafka_delta_ingest_spark.hudi import (
    HudiCowWriter,
    HudiMorWriter,
    plan_file_groups,
    read_hudi,
)
from tests.test_ingest_batch_work import _run_in_group


def _rows(spark, lo, hi):
    rows = [(i, f"v{i}", float(i)) for i in range(lo, hi)]
    # one split, and planning runs no job
    rdd = spark.sparkContext.parallelize(rows, 1)
    return spark.createDataFrame(rdd, "id long, s string, v double")


def _table(spark, tmp_path, cls, name):
    w = cls(str(tmp_path / name), record_key="id")
    w.insert_batch(_rows(spark, 0, 1000))
    w.insert_batch(_rows(spark, 1000, 2000))
    return w


def _timeline(w):
    return sorted(os.listdir(os.path.join(w.path, ".hoodie")))


def test_cow_upsert_job_count(spark, tmp_path):
    w = _table(spark, tmp_path, HudiCowWriter, "cow")
    out, tasks = _run_in_group(
        spark, "hudi-cow-upsert",
        lambda: w.upsert_batch(_rows(spark, 1500, 2500)),
    )
    _instant, n_upd, n_ins = out
    assert (n_upd, n_ins) == (1, 1)
    # source checkpoint, key aggregate, key broadcast, probe scan,
    # matched-source checkpoint, touched fileIds; the update leg's
    # footer merge, four AQE stages of its merge join and fileId
    # repartition, and the rewrite; the insert write
    assert len(tasks) == 13, tasks
    assert read_hudi(spark, w.path).count() == 2500


def test_mor_upsert_job_count(spark, tmp_path):
    w = _table(spark, tmp_path, HudiMorWriter, "mor")
    out, tasks = _run_in_group(
        spark, "hudi-mor-upsert",
        lambda: w.upsert_log_batch(_rows(spark, 1500, 2500)),
    )
    _instant, n_log, n_ins, n_rec = out
    assert (n_log, n_ins, n_rec) == (1, 1, 1000)
    # source checkpoint, key aggregate, key broadcast, probe scan,
    # matched-source checkpoint, log leg (map stage + result), insert
    assert len(tasks) == 8, tasks
    assert read_hudi(spark, w.path).count() == 2500


def test_mor_delete_job_count(spark, tmp_path):
    w = _table(spark, tmp_path, HudiMorWriter, "mordel")
    out, tasks = _run_in_group(
        spark, "hudi-mor-delete",
        lambda: w.delete_log_batch(_rows(spark, 1500, 2500).select("id")),
    )
    assert out[1] == 1
    # dropDuplicates map stage, source checkpoint, key aggregate, key
    # broadcast, probe scan, matched-source checkpoint, delete-block
    # leg (map stage + result)
    assert len(tasks) == 8, tasks
    assert read_hudi(spark, w.path).count() == 1500


@pytest.mark.parametrize(
    "cls, write",
    [
        (HudiCowWriter, lambda w, df: w.upsert_batch(df)),
        (HudiMorWriter, lambda w, df: w.upsert_log_batch(df)),
    ],
    ids=["cow", "mor"],
)
def test_duplicate_keys_raise_before_any_base_file_scan(
    spark, tmp_path, cls, write
):
    w = _table(spark, tmp_path, cls, "dup")
    # Any scan of a live base file now fails with a parquet error, not
    # the duplicate-key ValueError.
    groups, _ = plan_file_groups(w.path)
    for g in groups.values():
        with open(g["base"], "wb") as f:
            f.write(b"not parquet")
    src = _rows(spark, 1500, 1510).unionByName(_rows(spark, 1505, 1506))
    timeline = _timeline(w)

    def run():
        with pytest.raises(ValueError, match="duplicate record keys"):
            write(w, src)

    _, tasks = _run_in_group(spark, f"hudi-dup-{cls.__name__}", run)
    # source checkpoint and the key aggregate
    assert len(tasks) <= 2, tasks
    # no instant was claimed: no .requested or .inflight left behind
    assert _timeline(w) == timeline


def test_cow_upsert_of_a_key_live_twice_keeps_its_row_count(spark, tmp_path):
    # insert_batch appends without a key check, so key 5 is live in two
    # file groups; the upsert replaces it in both and adds no row.
    w = HudiCowWriter(str(tmp_path / "twice"), record_key="id")
    w.insert_batch(_rows(spark, 0, 10))
    w.insert_batch(_rows(spark, 5, 6))
    upd = spark.createDataFrame([(5, "new", 5.0)], "id long, s string, v double")
    _instant, n_upd, n_ins = w.upsert_batch(upd)
    assert (n_upd, n_ins) == (2, 0)
    out = read_hudi(spark, w.path)
    assert out.count() == 11
    assert sorted(r.s for r in out.filter("id = 5").collect()) == ["new", "new"]
