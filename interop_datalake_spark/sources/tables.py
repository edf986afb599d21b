"""Table sources — parquet scans over the star-schema testdata.

Scan layer notes (scale stance): these are plain ``spark.read.parquet``
scans so Catalyst's predicate pushdown + column pruning reach the
parquet footers for free (check ``PushedFilters`` / ``ReadSchema`` in
``.explain("formatted")``). Partitioned lake tables (written by
``lake.publish``) additionally get Hive partition discovery and
partition pruning on ``fhir_tenant_id`` / ``_date``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: the driver-provided star schema + docs/embeddings (TESTDATA.md)
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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table. Column pruning/pushdown stay enabled
    because this returns the raw scan, never a cached/collected copy.

    ``events.ts`` normalization: depending on how the driver wrote the
    parquet it scans as BIGINT nanos (TIMESTAMP(NANOS) under
    ``spark.sql.legacy.parquet.nanosAsLong``) or as TIMESTAMP_NTZ
    (TIMESTAMP(MICROS), isAdjustedToUTC=false). Both normalize to a µs
    TIMESTAMP_LTZ here — the session timezone is pinned UTC, so the NTZ
    cast is value-preserving and every downstream operator (including
    LTZ-only functions like ``unix_micros``) sees one stable type.
    DuckDB's naive µs TIMESTAMP agrees with either, so oracles match to
    the microsecond.
    """
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def fan_out(df: DataFrame) -> DataFrame:
    """Spread a NARROW scan across the cluster before CPU-heavy
    per-row work (optimization guide §2.5, "input skew": a small
    single-file table scans as ONE task, serializing map-side compute
    — shingling, hashing, vector math — that the cluster could run in
    parallel; measured 32× under-parallelized at sf0.1 on local[32]).

    Scale-adaptive, never a constant: the target is
    ``defaultParallelism`` and the repartition only fires when the
    scan is NARROWER than that. A production-scale corpus scan
    already carries thousands of splits, so this is a plan-time no-op
    there — repartitioning it would shuffle the whole payload once
    for nothing (guide §2.3: shuffle fewer bytes).

    Only correct when every downstream consumer is row-placement-
    insensitive (joins/aggregations — the relational pipelines); keep
    it away from anything reading ``input_file_name()`` /
    ``_metadata`` / ``monotonically_increasing_id()``."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Small driver-local rows → DataFrame on ONE partition.

    ``createDataFrame(list)`` parallelizes to ``defaultParallelism``
    slices, so every downstream action pays ~cores near-empty tasks
    (measured ~4 ms/task fixed cost — a 50-row witness tail spent
    0.59 s where one slice spends 0.33 s). Witness tails and scalar
    fixtures are bounded (≤ a few thousand rows) by construction, so
    one partition is the right shape at ANY cluster size — this is
    bounded result assembly, not a data path."""
    if not rows:
        return spark.createDataFrame(rows, schema)
    # a parallelize-rooted frame: TxnTable's bounded-commit driver
    # write admits it as driver-resident (lake/txn.py:_driver_resident)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() queries."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
