"""Loaders for the driver's synthetic parquet tables (TESTDATA.md).

The testdata stores some timestamp columns as parquet TIMESTAMP(NANOS),
which Spark cannot read natively. With
``spark.sql.legacy.parquet.nanosAsLong=true`` those columns surface as
LongType nanoseconds; we convert to TIMESTAMP_NTZ (truncating to micros,
exactly what DuckDB does when it reads the same files).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Columns that are semantically timestamps in the testdata.
_TS_COLS = {
    "events": ["ts"],
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Defensive session conf: the harness may run queries in ITS OWN
    # SparkSession (not our factory). Without nanosAsLong the TIMESTAMP
    # (NANOS) columns in the testdata abort the scan with
    # PARQUET_TYPE_ILLEGAL; without UTC the timestamp formatting in the
    # transform queries would follow the machine timezone.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in _TS_COLS.get(name, []):
        if c in df.columns and isinstance(df.schema[c].dataType, LongType):
            # nanos-as-long → micros → naive timestamp (matches DuckDB's
            # truncating TIMESTAMP_NS → TIMESTAMP read of the same file).
            df = df.withColumn(
                c,
                F.timestamp_micros(F.expr(f"`{c}` div 1000")).cast("timestamp_ntz"),
            )
        elif c in df.columns:
            df = df.withColumn(c, F.col(c).cast("timestamp_ntz"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


# SparkContext.setJobGroup's thread-local properties.
_JOB_GROUP_KEYS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


def overlap(*thunks):
    """Run independent driver thunks (each typically submitting its
    own Spark jobs) CONCURRENTLY and return their results in order
    (guide §2.6: actions are only sequential because driver code calls
    them sequentially; FIFO scheduling back-fills executors freed by
    one job's task tail with the other job's tasks, and each leg's
    driver-side phases — staging walks, parquet-footer reads, file
    moves — overlap the other leg's executor work).  With a single
    thunk, runs it inline.  The first exception (in argument order)
    propagates after every thunk has finished, so no leg is abandoned
    mid-write. Each leg runs under the caller's job group, so its jobs
    are attributed to the same batch or query."""
    if len(thunks) == 1:
        return [thunks[0]()]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    group = {k: sc.getLocalProperty(k) for k in _JOB_GROUP_KEYS} if sc else {}

    def in_group(thunk):
        def run():
            for k, v in group.items():
                sc.setLocalProperty(k, v)
            return thunk()

        return run

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(in_group(t)) for t in thunks]
        results, first_err = [], None
        for f in futures:
            try:
                results.append(f.result())
            except BaseException as e:  # noqa: BLE001 — re-raised
                results.append(None)
                if first_err is None:
                    first_err = e
        if first_err is not None:
            raise first_err
        return results


def metadata_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """``createDataFrame`` for DRIVER-SIDE METADATA ROWS (file lists,
    fileId maps, partition-value frames) without the default
    parallelize width: ``createDataFrame(list)`` slices even a 6-row
    list across ``defaultParallelism`` partitions, so every tiny
    broadcast-build or metadata join paid a 32-empty-task stage
    (~0.5 s each measured in the Hudi upsert path at sf0.1). One slice
    per 4096 rows keeps the frame single-task for anything
    commit-metadata-sized while still splitting a genuinely large
    list."""
    rows = list(rows)
    n = max(1, min((len(rows) + 4095) // 4096, 64))
    if not rows:
        return spark.createDataFrame([], schema)
    try:
        sc = spark.sparkContext
    except Exception:
        # Spark Connect has no client-side SparkContext; fall back to
        # the plain (Connect-compatible) path and coalesce to the same
        # row-count-derived width.
        return spark.createDataFrame(rows, schema).coalesce(n)
    return spark.createDataFrame(sc.parallelize(rows, n), schema)
