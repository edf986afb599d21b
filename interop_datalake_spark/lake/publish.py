"""Partitioned lake sinks — the reference's publish surface on Spark.

Reference parity:
- R1/R2 ``publishFHIRR4`` (``DatalakePublishService.kt:50-90``):
  empty-input no-op (:56-59), ingest-date stamp (:60), id-presence
  filter (:61), partitioned fan-out write (:66-76), raise-after-write
  when ids were missing (:83-88).
- R3 ``publishBinaryData`` (:100-120): keyed sink, no date partition.
- R7 ``publishRawData`` (:169-196): single-record sink, returns full URL.
- R4 ``runInPool`` (:126-146): the reference's bounded thread pool is
  Spark's task parallelism — ``repartition`` before write controls
  file count, the cluster scheduler controls concurrency.

Semantics deliberately improved (documented, SURVEY §7): the reference
performs N independent PUTs and raises afterwards, leaving partial
batches on failure (``DatalakePublishService.kt:79-88``). Here a batch
commits through the lake's ACID table format (``lake/txn.py``): the
write lands in an invisible per-commit subdir and ONE atomic manifest
commit publishes it — a crash anywhere leaves the previous snapshot
intact, and readers never see a partial batch. The *validation*
behavior is kept identical: publishing FHIR resources that lack ids
raises AFTER the valid subset is durably committed, and a Binary
batch with a missing id raises before anything is visible.
``session.acid=False`` falls back to plain Hive-layout writes (the
FileOutputCommitter path) for non-transactional deployments.

Scale design: tables are partitioned ``(resource_type, fhir_tenant_id,
_date)`` (Binary: tenant) with per-file ``resource_id`` min/max stats
recorded in the manifest, so downstream point reads prune first by
partition directory semantics and then by file stats.

One pass per ACID publish: the date stamp, the id filter and the
batch's ``total``/missing-id counts (an ``Observation``) all ride the
single write of the input, and a pre-commit gate on the commit
(``TxnTable.append``'s callable ``_props``) checks those counts after
the write and before the manifest CAS. An empty batch and a Binary
batch with a missing id are refused there: no version is made and the
staged files are deleted. The row count returned comes from the same
observation — no probe job before the write, no count job after it.
A batch built from Python rows (``createDataFrame`` of a list, pandas
or Arrow) is driver-resident, so the commit collects it once and
writes it on the driver (``lake/txn.py`` bounded-commit driver write):
one Spark job per publish call.
"""

from __future__ import annotations

import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from interop_datalake_spark.functions.uris import datalake_full_url, raw_data_file_path
from interop_datalake_spark.lake.txn import TxnTable
from interop_datalake_spark.session import DatalakeSession

FHIR_TABLE = "ehr"
BINARY_TABLE = "ehr_binary"
RAW_TABLE = "raw_data_response"

#: The session default committer is algorithm v2 (session.py), which is
#: safe for TxnTable because every ACID write lands in an invisible
#: per-commit UUID dir. The non-ACID fallback writes here append
#: straight into the LIVE directory-listed table path, where v2's task
#: commits would leave partial part-files visible after a mid-write
#: job failure. Scope v1 back onto exactly these writes (writer
#: options merge into the write job's Hadoop conf via
#: ``newHadoopConfWithOptions``): a failed non-ACID publish then
#: leaves only ignored ``_temporary`` content, as before round 14.
_NON_ACID_COMMITTER = {
    "mapreduce.fileoutputcommitter.algorithm.version": "1",
}


def _non_acid_writer(writer):
    for k, v in _NON_ACID_COMMITTER.items():
        writer = writer.option(k, v)
    return writer

#: manifest-table layouts for the reference's three publish surfaces —
#: partition columns mirror the reference's object-key templates
#: (``DatalakePublishService.kt:68-73`` fhir, ``:148-153`` binary,
#: ``:169-196`` raw); resource_id stats give point-lookup file skipping
TXN_LAYOUT = {
    FHIR_TABLE: {
        "partition_cols": ["resource_type", "fhir_tenant_id", "_date"],
        "stats_cols": ["resource_id"],
    },
    BINARY_TABLE: {
        "partition_cols": ["fhir_tenant_id"],
        "stats_cols": ["resource_id"],
    },
    RAW_TABLE: {"partition_cols": ["tenant_id"], "stats_cols": []},
}


def txn_table(session: DatalakeSession, table: str) -> TxnTable:
    """The manifest-committed handle for a lake table, with the
    publish surface's partition/stats layout when it has one."""
    layout = TXN_LAYOUT.get(table, {})
    return TxnTable(
        session,
        table,
        stats_cols=layout.get("stats_cols"),
        partition_cols=layout.get("partition_cols"),
    )


def _id_present():
    # built lazily: Column construction needs an active SparkContext
    return F.col("resource_id").isNotNull() & (F.col("resource_id") != "")


class MissingResourceIdError(ValueError):
    """Raised when a publish batch contained id-less resources — after
    the valid rows were written for FHIR (``DatalakePublishService.kt:83-88``),
    before anything is visible for Binary (:107)."""


class _EmptyBatch(Exception):
    """Pre-commit gate verdict: the batch had no rows, so no version."""


def _gated_append(session, table: str, df: DataFrame, gate) -> bool:
    """ACID append of ``df`` with ``gate`` as the pre-commit check
    (``TxnTable.append``'s callable ``_props``: it runs after the data
    write, once the batch's Observation metrics are ready, and a raise
    refuses the commit and deletes its staged files). Returns False
    when the gate found the batch empty (no version was made)."""
    try:
        txn_table(session, table).append(df, _props=gate)
    except _EmptyBatch:
        return False
    return True


def publish_fhir_r4(
    session: DatalakeSession, tenant_id: str, resources: DataFrame
) -> int:
    """Publish a (possibly mixed-type) batch of FHIR resources.

    ``resources`` needs columns ``resource_type, resource_id,
    resource_json`` (FIXTURES.md A1). Returns the number of rows
    written. Raises :class:`MissingResourceIdError` if any row lacked
    an id — after writing the valid rows (reference ordering,
    ``DatalakePublishService.kt:79-88``).
    """
    if not session.acid and not resources.head(1):
        return 0  # empty-input no-op (:56-59)

    obs = Observation("publish_fhir_r4")
    stamped = (
        resources.withColumn("fhir_tenant_id", F.lit(tenant_id))
        .withColumn("resource_type", F.lower(F.col("resource_type")))
        .withColumn("_date", F.current_date())  # ingest date (:60)
        .observe(
            obs,
            F.count(F.lit(1)).alias("total"),
            F.count(F.when(_id_present(), 1)).alias("valid"),
        )
    )
    valid = stamped.filter(_id_present())
    if session.acid:
        # ACID publish: one write + one atomic manifest commit; the
        # empty-input no-op (:56-59) is decided by the commit gate
        def gate():
            if not obs.get["total"]:
                raise _EmptyBatch

        if not _gated_append(session, FHIR_TABLE, valid, gate):
            return 0
    else:
        (
            _non_acid_writer(valid.write.mode("append"))
            .partitionBy("resource_type", "fhir_tenant_id", "_date")
            .format(session.format)
            .save(session.table_path(FHIR_TABLE))
        )
    metrics = obs.get
    dropped = metrics["total"] - metrics["valid"]
    if dropped:
        raise MissingResourceIdError(
            f"{dropped} resource(s) lacked FHIR IDs and were not published"
        )
    return metrics["valid"]


def publish_binary(
    session: DatalakeSession, tenant_id: str, binaries: DataFrame
) -> int:
    """Publish Binary resources keyed by (tenant, id); no date partition
    (``DatalakePublishService.kt:100-120``, path layout :148-153).

    Unlike FHIR publish, a missing id here is a hard error before
    anything is published — the reference dereferences ``binary.id!!``
    (:107), which throws before its upload starts. On an ACID session
    the batch is written once and the commit gate refuses it, so no
    version is made and its staged files are deleted; the non-ACID
    path probes the input before writing.
    """
    stamped = binaries.withColumn("fhir_tenant_id", F.lit(tenant_id))
    if not session.acid:
        if not binaries.head(1):
            return 0
        if binaries.filter(~_id_present()).head(1):
            raise MissingResourceIdError("Binary resources must all carry an id")
        (
            _non_acid_writer(stamped.write.mode("append"))
            .partitionBy("fhir_tenant_id")
            .format(session.format)
            .save(session.table_path(BINARY_TABLE))
        )
        return stamped.count()
    obs = Observation("publish_binary")
    observed = stamped.observe(
        obs,
        F.count(F.lit(1)).alias("total"),
        F.count(F.when(~_id_present(), 1)).alias("missing"),
    )

    def gate():
        metrics = obs.get
        if not metrics["total"]:
            raise _EmptyBatch
        if metrics["missing"]:
            raise MissingResourceIdError("Binary resources must all carry an id")

    if not _gated_append(session, BINARY_TABLE, observed, gate):
        return 0
    return obs.get["total"]


def overwrite_tenant_partition(
    session: DatalakeSession,
    table: str,
    tenant_id: str,
    replacement: DataFrame,
    partition_cols: tuple[str, ...] = ("fhir_tenant_id",),
) -> int:
    """Replace exactly one tenant's partitions, leaving every other
    tenant untouched (Delta ``replaceWhere`` / Hive dynamic-partition
    overwrite semantics). The reference has no rewrite operation at all
    — objects are only ever PUT by full key — so this is engine-layer
    surface (SURVEY §2.B "Sinks: overwrite-partition").

    Scale note: dynamic mode only rewrites partitions present in
    ``replacement``; a 1-tenant fix-up over a 100 TB lake touches one
    partition subtree, not the table. On an ACID session the swap of
    all affected partitions is additionally ONE atomic manifest commit
    (``TxnTable.overwrite_partitions``).
    """
    stamped = replacement.withColumn("fhir_tenant_id", F.lit(tenant_id))
    if session.acid and TxnTable(session, table).current_version() > 0:
        t = txn_table(session, table)
        t.overwrite_partitions(stamped)
        return stamped.count()
    spark = session.spark
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            _non_acid_writer(stamped.write.mode("overwrite"))
            .partitionBy(*partition_cols)
            .format(session.format)
            .save(session.table_path(table))
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return stamped.count()


def publish_raw_data(
    session: DatalakeSession, tenant_id: str, data: str, url: str
) -> str:
    """Single-record raw-response sink; returns the object's full URL
    (``DatalakePublishService.kt:169-196``).

    Wraps ``(url, now-as-ISO-string, body)`` exactly like
    ``RawDataWrapper`` (:198) — the timestamp is stored as an ISO-8601
    *string* for reference fidelity — under a fresh transaction UUID
    (:174).
    """
    txn_id = str(uuid.uuid4())
    now_iso = datetime.now(timezone.utc).replace(tzinfo=None).isoformat()
    row_df = session.spark.createDataFrame(
        [(tenant_id, txn_id, url, now_iso, data)],
        "tenant_id STRING, transaction_id STRING, url STRING, time STRING, body STRING",
    )
    if session.acid:
        txn_table(session, RAW_TABLE).append(row_df)
    else:
        (
            _non_acid_writer(row_df.write.mode("append"))
            .partitionBy("tenant_id")
            .format(session.format)
            .save(session.table_path(RAW_TABLE))
        )
    path = row_df.select(
        raw_data_file_path(F.col("tenant_id"), F.col("transaction_id")).alias("p")
    ).first()["p"]
    full_url = row_df.select(
        datalake_full_url(F.lit(path)).alias("u")
    ).first()["u"]
    return full_url
