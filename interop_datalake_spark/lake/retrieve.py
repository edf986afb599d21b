"""Keyed lake reads — the reference's retrieve surface on Spark.

Reference parity (``DatalakeRetrieveService.kt``):
- R10 ``retrieveBinaryData(tenantId, resourceId)`` (:33-39): point
  lookup by composite key; missing → None (test :43-53).
- R8 ``retrieveBinaryData(urls)`` (:18-23): batch lookup; missing keys
  absent from the result (drop-missing, test :125-151) ≡ semi-join.
- R11 ``objectExists``/``binaryExists`` (:44-52): existence predicate.

Scale design: lake tables are manifest-committed ``TxnTable``s
(``lake/txn.py``). Each call pins ONE snapshot version and prunes the
FILE LIST at it — by recorded partition values (``fhir_tenant_id``
directory semantics), then by per-file ``resource_id`` min/max stats —
so a point read on a 100 TB table touches one partition's intersecting
files, not the table. Those few files are read on the driver with
pyarrow (``TxnTable._driver_read``, bounded by the driver cap): no
Spark job runs. The point read and the existence check answer from the
Arrow rows; the batch, URL and FHIR reads return a frame built from
them (a local relation, so its actions run no job either). A lookup
the driver read declines — files past the cap, a deletion vector, a
file that differs from the log schema — plans the pruned Spark scan
instead, at the same version. A batch is one IN-list over one pruned
read; a URL batch parses its URLs on the driver and reads all their
keys the same way.
"""

from __future__ import annotations

import re
from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.conversion import ArrowTableToRowsConversion
from pyspark.sql.pandas.types import from_arrow_schema

from interop_datalake_spark.functions.uris import _URL_RE
from interop_datalake_spark.lake.publish import BINARY_TABLE, FHIR_TABLE, txn_table
from interop_datalake_spark.session import DatalakeSession

#: tenant and resource id in a Binary object path
#: (``DatalakePublishService.kt:148-153``)
_BINARY_PATH_RE = r"ehr/Binary/fhir_tenant_id=([^/]+)/(.+)\.json"

_BINARY_SCHEMA = (
    "fhir_tenant_id STRING, resource_id STRING, content_type STRING,"
    " resource_json STRING"
)

#: Java's line terminators: ``.`` matches none of them and ``$`` may
#: stand before a final one
_JAVA_EOL = "\n\r\u0085\u2028\u2029"


def _java_find(pattern: str) -> re.Pattern:
    """``pattern`` compiled so Python's ``search`` finds what Spark's
    ``regexp_extract`` (``java.util.regex`` ``find``) finds: outside a
    character class, ``.`` excludes every Java line terminator, not
    just ``\\n``, and ``$`` also matches before a final ``\\r\\n``,
    ``\\r``, ``\\u0085``, ``\\u2028`` or ``\\u2029``. Covers the plain
    patterns of this module (no flags, no quoting)."""
    out, i, in_class = [], 0, False
    while i < len(pattern):
        ch = pattern[i]
        if ch == "\\":
            out.append(pattern[i : i + 2])
            i += 2
            continue
        if in_class:
            in_class = ch != "]"
        elif ch == "[":
            in_class = True
        elif ch == ".":
            ch = f"[^{_JAVA_EOL}]"
        elif ch == "$":
            ch = f"(?=(?:\r\n|[{_JAVA_EOL}])?\\Z)"
        out.append(ch)
        i += 1
    return re.compile("".join(out))


_URL_FIND = _java_find(_URL_RE)
_BINARY_PATH_FIND = _java_find(_BINARY_PATH_RE)


def _binary_key(url: str) -> tuple[str, str] | None:
    """(tenant, resource id) of a Binary object URL, or None for a
    malformed URL (``OCIClientTest.kt:244-254``) or another path shape:
    ``parse_object_url`` and the ``regexp_extract`` pair over its path,
    evaluated on the driver."""
    m = _URL_FIND.search(url)
    p = _BINARY_PATH_FIND.search(m.group(3)) if m else None
    return (p.group(1), p.group(2)) if p else None


def _lookup(
    session: DatalakeSession,
    table: str,
    partition_filter: dict | None = None,
    key_range: tuple | None = None,
    keys: tuple[str, list] | None = None,
) -> pa.Table | DataFrame | None:
    """One pruned read of the table's current snapshot,
    ``keys=(col, values)`` as an IN filter: the Arrow rows of the
    driver read, or the Spark frame at the same version when that
    declines; None when the table has no commits or its files are gone
    (404 → null, ``OCIClient.kt:182-186``)."""
    t = txn_table(session, table)
    v = t.current_version()  # the one snapshot this call reads
    if v == 0:
        return None
    try:
        rows = t._driver_read(v, partition_filter, key_range, keys)
        if rows is not None:
            return rows
        df = t.read(
            version=v, partition_filter=partition_filter, key_range=key_range
        )
    except FileNotFoundError:
        return None
    return df if keys is None else df.filter(F.col(keys[0]).isin(keys[1]))


def _frame(session: DatalakeSession, rows: pa.Table | DataFrame) -> DataFrame:
    """A lookup's rows as a DataFrame; Arrow rows become a local
    relation with the Spark types they were read as."""
    if isinstance(rows, DataFrame):
        return rows
    schema = from_arrow_schema(rows.schema, prefer_timestamp_ntz=True)
    # one chunk: PySpark 4.1 drops the rows of a table whose chunks
    # include several empty ones (a scan yields one per file it skips)
    return session.spark.createDataFrame(rows.combine_chunks(), schema)


def _binary_rows(
    session: DatalakeSession, tenants: str | list[str], resource_ids: list[str]
):
    """The Binary rows of the tenant(s) with the ids: the tenant
    partitions, their files pruned by the ids' range, rows by the ids."""
    return _lookup(
        session,
        BINARY_TABLE,
        {"fhir_tenant_id": tenants},
        ("resource_id", min(resource_ids), max(resource_ids)),
        ("resource_id", resource_ids),
    )


def read_lake_table(session: DatalakeSession, table: str) -> DataFrame | None:
    """A lake table's current snapshot, manifest-resolved. A table with
    no commits (or missing files) → None, mirroring 404→null
    (``OCIClient.kt:182-186``)."""
    rows = _lookup(session, table)
    return None if rows is None else _frame(session, rows)


def retrieve_binary(
    session: DatalakeSession, tenant_id: str, resource_id: str
) -> Row | None:
    """Point read by (tenant, id); None when absent."""
    rows = _binary_rows(session, tenant_id, [resource_id])
    if rows is None:
        return None
    if isinstance(rows, DataFrame):
        return rows.head()
    if rows.num_rows == 0:
        return None
    schema = from_arrow_schema(rows.schema, prefer_timestamp_ntz=True)
    return ArrowTableToRowsConversion.convert(rows.slice(0, 1), schema)[0]


def retrieve_binary_batch(
    session: DatalakeSession, tenant_id: str, resource_ids: Iterable[str]
) -> DataFrame:
    """Batch point lookup; rows for missing ids are simply absent
    (drop-missing semantics, ``DatalakeRetrieveServiceTest.kt:125-151``)."""
    ids = list(resource_ids)
    rows = _binary_rows(session, tenant_id, ids) if ids else None
    if rows is None:
        return session.spark.createDataFrame([], _BINARY_SCHEMA)
    return _frame(session, rows)


def retrieve_binary_by_urls(
    session: DatalakeSession, urls: Iterable[str]
) -> DataFrame:
    """URL-keyed batch lookup — the reference's actual R8 signature
    (``retrieveBinaryData(urls: List<URI>)``): parse each object URL to
    its (tenant, id) key via the R14 template, drop malformed URLs
    (``OCIClientTest.kt:244-254`` → None, no read), drop missing keys
    (``DatalakeRetrieveServiceTest.kt:125-151``). Returns matched rows
    with their originating ``url`` column: one row per URL asked for
    (repeats included) and lake row of its key. The URLs are parsed on
    the driver and all their keys read through one pruned lookup."""
    keyed = [(u, k) for u in urls if u and (k := _binary_key(u))]
    # one pruned read for the whole batch; the join below keeps the
    # exact (tenant, id) pairs asked for
    rows = _binary_rows(
        session,
        sorted({t for _, (t, _) in keyed}),
        sorted({r for _, (_, r) in keyed}),
    ) if keyed else None
    if rows is None:
        return session.spark.createDataFrame([], _BINARY_SCHEMA + ", url STRING")
    key_cols = ["fhir_tenant_id", "resource_id"]
    if isinstance(rows, DataFrame):
        keys = session.spark.createDataFrame(
            [(u, t, r) for u, (t, r) in keyed],
            "url STRING, fhir_tenant_id STRING, resource_id STRING",
        )
        return rows.join(F.broadcast(keys), key_cols)
    at: dict[tuple, list[int]] = {}
    for i, k in enumerate(zip(*(rows.column(c).to_pylist() for c in key_cols))):
        at.setdefault(k, []).append(i)
    hits = [(u, i) for u, k in keyed for i in at.get(k, ())]
    # the join's column order: keys, then the table's other columns
    out = rows.take([i for _, i in hits]).select(
        key_cols + [c for c in rows.column_names if c not in key_cols]
    )
    return _frame(
        session,
        out.append_column("url", pa.array([u for u, _ in hits], pa.string())),
    )


def binary_exists(session: DatalakeSession, tenant_id: str, resource_id: str) -> bool:
    """Existence check ≡ HEAD status==200 (``OCIClient.kt:231-247``)."""
    rows = _binary_rows(session, tenant_id, [resource_id])
    if rows is None:
        return False
    if isinstance(rows, DataFrame):
        return bool(rows.head(1))
    return rows.num_rows > 0


def retrieve_fhir(
    session: DatalakeSession,
    tenant_id: str,
    resource_type: str,
    resource_id: str | None = None,
) -> DataFrame:
    """Pruned read of one (type, tenant) partition subtree, optionally
    narrowed to a single resource — the read-side twin of
    ``publish_fhir_r4``'s layout (``DatalakePublishService.kt:68-73``).
    The manifest drops every non-matching partition's files (and, for a
    point read, files whose resource_id stats range can't contain the
    id) before anything is read."""
    rows = _lookup(
        session,
        FHIR_TABLE,
        {"resource_type": resource_type.lower(), "fhir_tenant_id": tenant_id},
        ("resource_id", resource_id, resource_id)
        if resource_id is not None
        else None,
    )
    if rows is None:
        schema = (
            "resource_id STRING, resource_json STRING, resource_type STRING,"
            " fhir_tenant_id STRING, _date DATE"
        )
        return session.spark.createDataFrame([], schema)
    return _frame(session, rows)
