"""Keyed lake reads — the reference's retrieve surface on Spark.

Reference parity (``DatalakeRetrieveService.kt``):
- R10 ``retrieveBinaryData(tenantId, resourceId)`` (:33-39): point
  lookup by composite key; missing → None (test :43-53).
- R8 ``retrieveBinaryData(urls)`` (:18-23): batch lookup; missing keys
  absent from the result (drop-missing, test :125-151) ≡ semi-join.
- R11 ``objectExists``/``binaryExists`` (:44-52): existence predicate.

Scale design: lake tables are manifest-committed ``TxnTable``s
(``lake/txn.py``); every lookup here prunes the FILE LIST first — by
recorded partition values (``fhir_tenant_id`` directory semantics) and
then by per-file ``resource_id`` min/max stats — before Spark plans
the scan, so a point read on a 100 TB table opens one partition's
intersecting files, not the table. Batch lookup is an IN-list over one
pruned scan — one scan for N keys, not N scans.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from interop_datalake_spark.lake.publish import BINARY_TABLE, FHIR_TABLE, txn_table
from interop_datalake_spark.lake.txn import TxnTable
from interop_datalake_spark.session import DatalakeSession


def _txn(session: DatalakeSession, table: str) -> TxnTable | None:
    """The table's manifest handle, if it has committed manifests."""
    t = txn_table(session, table)
    return t if t.current_version() > 0 else None


def read_lake_table(session: DatalakeSession, table: str) -> DataFrame | None:
    """A lake table's current snapshot, manifest-resolved. A table with
    no commits (or missing files) → None, mirroring 404→null
    (``OCIClient.kt:182-186``)."""
    t = _txn(session, table)
    if t is None:
        return None
    try:
        return t.read()
    except FileNotFoundError:
        return None


def _binary_lookup(
    session: DatalakeSession, tenant_id: str, resource_ids: list[str]
) -> DataFrame | None:
    """Pruned (tenant, ids) scan of the Binary table, or None when the
    table is missing/empty: the manifest prunes files by tenant
    partition and resource_id stats range before the scan is planned."""
    t = _txn(session, BINARY_TABLE)
    if t is None:
        return None
    try:
        df = t.read(
            partition_filter={"fhir_tenant_id": tenant_id},
            key_range=("resource_id", min(resource_ids), max(resource_ids)),
        )
    except FileNotFoundError:
        return None
    return df.filter(F.col("resource_id").isin(resource_ids))


def retrieve_binary(
    session: DatalakeSession, tenant_id: str, resource_id: str
) -> Row | None:
    """Point read by (tenant, id); None when absent."""
    df = _binary_lookup(session, tenant_id, [resource_id])
    return None if df is None else df.head()


def retrieve_binary_batch(
    session: DatalakeSession, tenant_id: str, resource_ids: Iterable[str]
) -> DataFrame:
    """Batch point lookup; rows for missing ids are simply absent
    (drop-missing semantics, ``DatalakeRetrieveServiceTest.kt:125-151``)."""
    ids = list(resource_ids)
    df = _binary_lookup(session, tenant_id, ids) if ids else None
    if df is None:
        schema = "fhir_tenant_id STRING, resource_id STRING, content_type STRING, resource_json STRING"
        return session.spark.createDataFrame([], schema)
    return df


def retrieve_binary_by_urls(
    session: DatalakeSession, urls: Iterable[str]
) -> DataFrame:
    """URL-keyed batch lookup — the reference's actual R8 signature
    (``retrieveBinaryData(urls: List<URI>)``): parse each object URL to
    its (tenant, id) key via the R14 template, drop malformed URLs
    (``OCIClientTest.kt:244-254`` → None, no read), drop missing keys
    (``DatalakeRetrieveServiceTest.kt:125-151``). Returns matched rows
    with their originating ``url`` column."""
    from interop_datalake_spark.functions.uris import parse_object_url

    url_list = [u for u in urls if u]
    df = read_lake_table(session, BINARY_TABLE)
    if df is None or not url_list:
        schema = (
            "url STRING, fhir_tenant_id STRING, resource_id STRING,"
            " content_type STRING, resource_json STRING"
        )
        return session.spark.createDataFrame([], schema)
    keys = (
        session.spark.createDataFrame([(u,) for u in url_list], "url STRING")
        .withColumn("_parsed", parse_object_url("url"))
        .filter(F.col("_parsed").isNotNull())  # malformed URL → dropped
        .withColumn(
            "fhir_tenant_id",
            F.regexp_extract(
                F.col("_parsed")["path"],
                r"ehr/Binary/fhir_tenant_id=([^/]+)/(.+)\.json",
                1,
            ),
        )
        .withColumn(
            "resource_id",
            F.regexp_extract(
                F.col("_parsed")["path"],
                r"ehr/Binary/fhir_tenant_id=([^/]+)/(.+)\.json",
                2,
            ),
        )
        .filter(F.col("resource_id") != "")  # non-Binary path shape → dropped
        .select("url", "fhir_tenant_id", "resource_id")
    )
    # key set is small (an API batch): broadcast it against the pruned scan
    return df.join(F.broadcast(keys), ["fhir_tenant_id", "resource_id"])


def binary_exists(session: DatalakeSession, tenant_id: str, resource_id: str) -> bool:
    """Existence check ≡ HEAD status==200 (``OCIClient.kt:231-247``)."""
    df = _binary_lookup(session, tenant_id, [resource_id])
    return df is not None and bool(df.head(1))


def retrieve_fhir(
    session: DatalakeSession,
    tenant_id: str,
    resource_type: str,
    resource_id: str | None = None,
) -> DataFrame:
    """Pruned scan of one (type, tenant) partition subtree, optionally
    narrowed to a single resource — the read-side twin of
    ``publish_fhir_r4``'s layout (``DatalakePublishService.kt:68-73``).
    The manifest drops every non-matching partition's
    files (and, for a point read, files whose resource_id stats range
    can't contain the id) before the scan is planned."""
    t = _txn(session, FHIR_TABLE)
    df = None
    if t is not None:
        try:
            df = t.read(
                partition_filter={
                    "resource_type": resource_type.lower(),
                    "fhir_tenant_id": tenant_id,
                },
                key_range=(
                    ("resource_id", resource_id, resource_id)
                    if resource_id is not None
                    else None
                ),
            )
        except FileNotFoundError:
            pass
    if df is None:
        schema = (
            "resource_id STRING, resource_json STRING, resource_type STRING,"
            " fhir_tenant_id STRING, _date DATE"
        )
        return session.spark.createDataFrame([], schema)
    return df
