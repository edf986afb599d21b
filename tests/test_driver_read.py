"""Keyed reads on the driver: ``TxnTable._driver_read`` answers the
retrieve surface from manifest-resolved files with pyarrow and no Spark
job. It must be invisible — the same rows, field order and ``collect()``
as the Spark scan it replaces — and must hand every read it cannot
serve exactly back to Spark."""

import os
from datetime import datetime
from decimal import Decimal

import pyarrow as pa
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from interop_datalake_spark.functions.uris import parse_object_url
from interop_datalake_spark.lake import retrieve as ret
from interop_datalake_spark.lake.publish import (
    BINARY_TABLE,
    publish_binary,
    publish_fhir_r4,
    txn_table,
)
from interop_datalake_spark.lake.txn import TxnTable
from interop_datalake_spark.session import DatalakeSession

_KEY = "spark.interop.datalake.driverCommit.maxBytes"
BIN_SCHEMA = "resource_id STRING, content_type STRING, resource_json STRING"
FHIR_SCHEMA = "resource_type STRING, resource_id STRING, resource_json STRING"
URL_PREFIX = (
    "https://objectstorage.us-phoenix-1.oraclecloud.com/n/namespace/b/datalake/o/"
)
#: a partition value Spark's Hive escaper must percent-encode
ODD_TENANT = "t 50%+a"


@pytest.fixture()
def session(spark, tmp_path):
    return DatalakeSession(lake_root=str(tmp_path / "lake"), spark=spark)


@pytest.fixture()
def cap(spark):
    """``cap(n)`` sets the driver cap for the test (None = default)."""

    def set_cap(n):
        if n is None:
            spark.conf.unset(_KEY)
        else:
            spark.conf.set(_KEY, str(n))

    yield set_cap
    spark.conf.unset(_KEY)


def _url(tenant, rid):
    return f"{URL_PREFIX}ehr/Binary/fhir_tenant_id={tenant}/{rid}.json"


def _seed_typed(session, spark):
    """A Binary table whose rows carry TIMESTAMP, DECIMAL(10,2) and
    NULL values, in two tenants (one needing path escapes) and several
    files per tenant."""
    rows = [
        ("t1", "a", "pdf", "{}", datetime(2024, 1, 2, 3, 4, 5), Decimal("1.50")),
        ("t1", "b", None, "{}", None, Decimal("-7.25")),
        ("t1", "c", "mp4", None, datetime(1999, 12, 31, 23, 59, 59), None),
        ("t1", "d", "pdf", '{"x":1}', datetime(2030, 6, 1), Decimal("0.00")),
        (ODD_TENANT, "a", "pdf", "{}", datetime(2024, 1, 2), Decimal("9.99")),
    ]
    df = spark.createDataFrame(
        rows,
        "fhir_tenant_id STRING, resource_id STRING, content_type STRING,"
        " resource_json STRING, ts TIMESTAMP, amt DECIMAL(10,2)",
    ).repartition(3)
    txn_table(session, BINARY_TABLE).append(df)
    txn_table(session, BINARY_TABLE).append(
        spark.createDataFrame(
            [("t1", "e", "pdf", "{}", datetime(2024, 5, 5), Decimal("2.00"))],
            df.schema,
        )
    )


def _both_paths(cap, fn):
    """``fn()`` on the driver path and on the Spark path."""
    cap(None)
    driver = fn()
    cap(0)
    spark_side = fn()
    cap(None)
    return driver, spark_side


def test_driver_read_matches_spark_read(session, spark, cap):
    _seed_typed(session, spark)
    for tenant, rid in (("t1", "a"), ("t1", "b"), ("t1", "c"), (ODD_TENANT, "a"),
                        ("t1", "zz"), ("t1", "a0"), ("t9", "a")):
        d, s = _both_paths(cap, lambda: ret.retrieve_binary(session, tenant, rid))
        assert d == s
        if d is not None:
            assert d.__fields__ == s.__fields__
        d, s = _both_paths(cap, lambda: ret.binary_exists(session, tenant, rid))
        assert d is s
    ids = ["a", "b", "c", "d", "e", "missing"]
    d, s = _both_paths(
        cap, lambda: ret.retrieve_binary_batch(session, "t1", ids).collect()
    )
    assert d == s and len(d) == 5
    assert [r.__fields__ for r in d] == [r.__fields__ for r in s]
    urls = [_url("t1", "a"), _url(ODD_TENANT, "a"), _url("t1", "a"),
            _url("t1", "missing"), "not a url"]
    d, s = _both_paths(
        cap, lambda: ret.retrieve_binary_by_urls(session, urls).collect()
    )
    assert sorted(d) == sorted(s) and len(d) == 3
    assert d[0].__fields__ == s[0].__fields__


def test_fhir_read_matches_spark_read(session, spark, cap):
    """The DATE partition column ``_date`` and an escaped tenant value
    are injected from the manifest exactly as the Spark scan decodes
    them from the path."""
    for tenant in ("t1", ODD_TENANT):
        publish_fhir_r4(
            session,
            tenant,
            spark.createDataFrame(
                [("Patient", f"p{i}", f'{{"i":{i}}}') for i in range(4)]
                + [("Location", "l1", None)],
                FHIR_SCHEMA,
            ),
        )
    for tenant, rtype, rid in ((ODD_TENANT, "Patient", None), ("t1", "Patient", "p2"),
                               ("t1", "Location", None), ("t1", "Encounter", None)):
        d, s = _both_paths(
            cap, lambda: ret.retrieve_fhir(session, tenant, rtype, rid)
        )
        assert d.columns == s.columns
        assert d.schema.simpleString() == s.schema.simpleString()
        assert sorted(d.collect()) == sorted(s.collect())
    assert ret.retrieve_fhir(session, ODD_TENANT, "Patient").count() == 4


def test_frame_keeps_rows_behind_empty_chunks(session):
    """A scan yields an empty chunk for each file without a match;
    the frame built from it keeps every row."""
    empty = pa.table({"a": pa.array([], pa.string())})
    tbl = pa.concat_tables([empty, empty, pa.table({"a": ["x"]}), empty])
    assert ret._frame(session, tbl).collect() == [Row(a="x")]


def _driver_rows(t, tenant, rid):
    v = t.current_version()
    return t._driver_read(
        v,
        {"fhir_tenant_id": tenant},
        ("resource_id", rid, rid),
        ("resource_id", [rid]),
    )


def test_deletion_vector_falls_back(session, spark, jobs_of):
    publish_binary(
        session, "t1",
        spark.createDataFrame([("a", "pdf", "{}"), ("b", "mp4", "{}")], BIN_SCHEMA)
        .coalesce(1),
    )
    t = txn_table(session, BINARY_TABLE)
    assert _driver_rows(t, "t1", "a").num_rows == 1
    t.delete_where(F.col("resource_id") == "b", merge_on_read=True)
    assert _driver_rows(t, "t1", "a") is None
    row, jobs = jobs_of(lambda: ret.retrieve_binary(session, "t1", "a"))
    assert row["content_type"] == "pdf" and jobs
    assert ret.retrieve_binary(session, "t1", "b") is None


def test_file_before_added_column_falls_back(session, spark):
    publish_binary(
        session, "t1", spark.createDataFrame([("a", "pdf", "{}")], BIN_SCHEMA)
    )
    t = txn_table(session, BINARY_TABLE)
    t.append(
        spark.createDataFrame(
            [("t1", "b", "mp4", "{}", 7)],
            "fhir_tenant_id STRING, resource_id STRING, content_type STRING,"
            " resource_json STRING, extra INT",
        )
    )
    assert _driver_rows(t, "t1", "a") is None  # its file has no `extra`
    assert _driver_rows(t, "t1", "b").to_pylist()[0]["extra"] == 7
    row = ret.retrieve_binary(session, "t1", "a")
    assert row["content_type"] == "pdf" and row["extra"] is None


def test_read_over_cap_falls_back(session, spark, cap):
    doc = os.urandom(3000).hex()  # incompressible: > 1 KB on disk
    publish_binary(
        session, "t1",
        spark.createDataFrame([("a", "pdf", doc)], BIN_SCHEMA),
    )
    t = txn_table(session, BINARY_TABLE)
    assert os.path.getsize(t.files()[0]) > 1024
    cap(1024)
    assert _driver_rows(t, "t1", "a") is None
    assert ret.retrieve_binary(session, "t1", "a")["resource_json"] == doc
    cap(None)
    assert _driver_rows(t, "t1", "a").num_rows == 1


def _two_tenant_lake(session, spark):
    for tenant in ("t1", "t2"):
        publish_binary(
            session, tenant,
            spark.createDataFrame(
                [("a", "pdf", "{}"), ("b", "mp4", "{}"), ("d", "pdf", "{}")],
                BIN_SCHEMA,
            ).coalesce(1),  # one file whose id range holds the miss "c"
        )
        publish_fhir_r4(
            session, tenant,
            spark.createDataFrame([("Patient", "p1", "{}")], FHIR_SCHEMA),
        )


_READS = {
    "retrieve_binary hit": lambda s: ret.retrieve_binary(s, "t1", "a"),
    "retrieve_binary miss": lambda s: ret.retrieve_binary(s, "t1", "c"),
    "binary_exists": lambda s: ret.binary_exists(s, "t2", "c"),
    "retrieve_binary_batch": lambda s: ret.retrieve_binary_batch(
        s, "t1", ["a", "c", "d"]
    ).collect(),
    "retrieve_binary_by_urls": lambda s: ret.retrieve_binary_by_urls(
        s, [_url("t1", "a"), _url("t2", "b"), _url("t2", "c"), "bad"]
    ).collect(),
    "retrieve_fhir": lambda s: ret.retrieve_fhir(s, "t2", "Patient").collect(),
}


def test_keyed_reads_run_no_spark_job(session, spark, cap, jobs_of, monkeypatch):
    """Every retrieve call answers with no Spark job and lists the log
    once; with the driver cap at 0 each one runs a Spark job, so the
    fallback is live."""
    _two_tenant_lake(session, spark)
    calls = []
    orig = TxnTable.current_version

    def counted(self):
        calls.append(1)
        return orig(self)

    monkeypatch.setattr(TxnTable, "current_version", counted)
    for name, read in _READS.items():
        calls.clear()
        got, jobs = jobs_of(lambda: read(session))
        assert jobs == [], name
        assert len(calls) == 1, name
        cap(0)
        again, jobs = jobs_of(lambda: read(session))
        cap(None)
        assert jobs, name
        assert (sorted(got) if isinstance(got, list) else got) == (
            sorted(again) if isinstance(again, list) else again
        ), name


def test_url_parse_matches_spark(spark):
    """The driver URL parser equals ``parse_object_url`` plus the
    ``regexp_extract`` pair the Spark path runs."""
    urls = [
        "", "not a url", "https://objectstorage.example.com/o/",
        URL_PREFIX + "raw_data_response/tenant_id=t1/x", "ftp://datalake/t1",
        _url("t1", "a"), _url("t1", "a.json"), _url("t 1", "x/y"),
        _url("t1", ""), URL_PREFIX + "ehr/Binary/fhir_tenant_id=/a.json",
        "http://h/n/a/b/c/o/ehr/Binary/fhir_tenant_id=t/a.json",
        "https://h/n/a/b/c/o/x/ehr/Binary/fhir_tenant_id=t/a.jsonx",
        _url("t1", "a") + "\n", _url("t1", "a") + "\r", _url("t1", "a\rb"),
        _url("t1", "a") + "\r\n", _url("t1", "a") + " ",
    ]
    path_re = ret._BINARY_PATH_RE
    spark_side = (
        spark.createDataFrame([(u,) for u in urls], "url STRING")
        .withColumn("_parsed", parse_object_url("url"))
        .select(
            "url",
            F.col("_parsed").isNotNull().alias("ok"),
            F.regexp_extract(F.col("_parsed")["path"], path_re, 1).alias("t"),
            F.regexp_extract(F.col("_parsed")["path"], path_re, 2).alias("r"),
        )
        .collect()
    )
    for row in spark_side:
        want = (row["t"], row["r"]) if row["ok"] and row["r"] != "" else None
        assert ret._binary_key(row["url"]) == want, repr(row["url"])
    assert ret._binary_key(_url("t1", "a.json")) == ("t1", "a.json")


def test_read_pins_one_snapshot(session, spark, monkeypatch):
    """A commit landing between the log listing and file resolution
    does not leak into a read: its files, partition map and schema all
    come from one version."""
    t = TxnTable(session, "pinned", partition_cols=["p"])
    t.append(spark.createDataFrame([(1, "x")], "id INT, p STRING"))
    orig = TxnTable.resolve_files

    def commit_first(self, *a, **kw):
        if not getattr(self, "_raced", False):
            self._raced = True
            TxnTable(session, "pinned").append(
                spark.createDataFrame([(2, "y")], "id INT, p STRING")
            )
        return orig(self, *a, **kw)

    monkeypatch.setattr(TxnTable, "resolve_files", commit_first)
    assert sorted(tuple(r) for r in t.read().collect()) == [(1, "x")]
    assert t.current_version() == 2  # the racing commit did land
    monkeypatch.undo()
    assert sorted(tuple(r) for r in t.read().collect()) == [(1, "x"), (2, "y")]


def test_partition_filter_compares_typed_values(session, spark):
    t = TxnTable(session, "typed", partition_cols=["code"])
    t.append(
        spark.createDataFrame([(1, 5), (2, 7)], "id INT, code INT").coalesce(1)
    )
    v = t.current_version()
    for lit, n in ((5, 1), (5.0, 1), ("5", 1), ([5.0, 7], 2), (5.5, 0), (None, 0)):
        assert t.read(partition_filter={"code": lit}).count() == n, lit
        assert len(t.resolve_files(partition_filter={"code": lit})) == n, lit
    rows = t._driver_read(v, {"code": 5.0})
    assert rows.to_pylist() == [{"id": 1, "code": 5}]
    with pytest.raises(ValueError):
        t.read(partition_filter={"code": "five"})
