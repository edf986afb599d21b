"""DatalakeSession — session factory + lake configuration.

Reference parity: ``DatalakeSpringConfig.kt:6-8`` (DI wiring) and
``OCIClient.kt:28-59`` (config-driven client: namespace/bucket/region →
here: lake root path). The reference wires an object-store
client per environment; we wire a SparkSession tuned for the lakehouse
workload and hold the lake root so every publish/retrieve call shares it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import SparkSession


#: Tuning applied to every session this module builds. Sized for the
#: local[32] test harness but every knob is the one you would also set
#: on a 1000-executor cluster (AQE does runtime re-planning, skew-join
#: handling, and shuffle-partition coalescing; Arrow makes the
#: pandas-UDF path batch-vectorized).
DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.shuffle.partitions": "32",
    # Spark 4 defaults ANSI on; keep it (stricter, closer to DuckDB oracle
    # semantics) — operators use try_* functions where nulls are wanted.
    "spark.sql.ansi.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # testdata events.ts is parquet TIMESTAMP(NANOS), which Spark's reader
    # rejects; read as long and convert in sources.tables.load_table
    # (DuckDB's TIMESTAMP is µs, so ns→µs truncation keeps oracle parity).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Timestamps are written as INT64 micros — the encoding Iceberg's
    # spec requires and the one pyarrow writes — instead of legacy
    # INT96, for which parquet footers carry no min/max. The footers
    # are the one source of TxnTable's per-file stats
    # (lake/txn.py:_footer_stats), so this is what gives timestamp
    # stats columns their bounds.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Write-commit overhead (optimization guide §1.2 step 2, measured
    # round 14: 180 → 125 ms per small commit write, ~30%): nothing in
    # this engine consumes _SUCCESS markers — TxnTable's manifest CAS
    # is the commit point and its file listers skip '_'-prefixed names
    # — and committer algorithm v2 (task commits rename straight to
    # the destination) is safe here by construction at ANY scale:
    # every data/DV/export write lands in a fresh per-commit UUID dir
    # that readers cannot see until the manifest/log references it, so
    # v2's partial-visibility-on-failure caveat has nothing to expose.
    "spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs": "false",
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
}


@dataclass
class DatalakeSession:
    """Wraps a SparkSession with the lake's root location.

    The reference's analog is the Spring-wired service pair holding an
    ``OCIClient`` (bucket + namespace + region, ``OCIClient.kt:28-59``);
    ours holds ``lake_root`` (filesystem/object-store URI). Every lake
    table under it is a manifest-committed ``TxnTable`` (``lake/txn.py``)
    of Parquet files. ``shared`` vs per-call clients
    (``OCIClient.kt:59,64-71``) map to SparkSession reuse — one session
    per process, getOrCreate.
    """

    lake_root: str
    spark: SparkSession

    @classmethod
    def build(
        cls,
        lake_root: str | None = None,
        master: str | None = None,
        app_name: str = "interop-datalake-spark",
        conf: dict | None = None,
    ) -> "DatalakeSession":
        builder = SparkSession.builder.appName(app_name)
        if master:
            builder = builder.master(master)
        merged = dict(DEFAULT_CONF)
        if conf:
            merged.update(conf)
        for k, v in merged.items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
        root = lake_root or os.environ.get("DATALAKE_ROOT", "/tmp/datalake")
        return cls(lake_root=root, spark=spark)

    # ---- table helpers -------------------------------------------------

    def table_path(self, table: str) -> str:
        """Physical location of a lake table under the root.

        Analog of the reference's bucket+prefix layout
        (``DatalakePublishService.kt:42`` "root: ehr")."""
        return f"{self.lake_root.rstrip('/')}/{table}"


def get_spark(
    master: str | None = None,
    app_name: str = "interop-datalake-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Bare SparkSession with the engine defaults (tests/bench use this)."""
    conf = dict(DEFAULT_CONF)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
