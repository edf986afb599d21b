"""Lake-layer semantics — the reference's pinned edge cases
(FIXTURES.md A1-A3; DatalakePublishServiceTest / DatalakeRetrieveServiceTest)."""

import pytest
from pyspark.sql import functions as F

from interop_datalake_spark.functions.uris import (
    binary_file_path,
    datalake_full_url,
    fhir_file_path,
    parse_object_url,
)
from interop_datalake_spark.lake.publish import (
    MissingResourceIdError,
    publish_binary,
    publish_fhir_r4,
    publish_raw_data,
)
from interop_datalake_spark.lake.retrieve import (
    binary_exists,
    retrieve_binary,
    retrieve_binary_batch,
    retrieve_fhir,
)
from interop_datalake_spark.session import DatalakeSession

FHIR_SCHEMA = "resource_type STRING, resource_id STRING, resource_json STRING"
BIN_SCHEMA = "resource_id STRING, content_type STRING, resource_json STRING"


@pytest.fixture()
def session(spark, tmp_path):
    return DatalakeSession(lake_root=str(tmp_path / "lake"), spark=spark)


def test_publish_mixed_types_and_retrieve(session, spark):
    # 2 Locations + 1 Practitioner in one batch (DatalakePublishServiceTest.kt:91)
    df = spark.createDataFrame(
        [
            ("Location", "loc1", '{"resourceType":"Location","id":"loc1"}'),
            ("Location", "loc2", '{"resourceType":"Location","id":"loc2"}'),
            ("Practitioner", "pr1", '{"resourceType":"Practitioner","id":"pr1"}'),
        ],
        FHIR_SCHEMA,
    )
    assert publish_fhir_r4(session, "mockTenant", df) == 3
    locs = retrieve_fhir(session, "mockTenant", "Location")
    assert locs.count() == 2
    one = retrieve_fhir(session, "mockTenant", "Practitioner", "pr1").collect()
    assert len(one) == 1 and one[0]["resource_json"].startswith('{"resourceType":"Practitioner"')


def test_publish_duplicate_id_across_types(session, spark):
    # Location 'abc' + Practitioner 'abc' → distinct partitions (Test.kt:48-65)
    df = spark.createDataFrame(
        [("Location", "abc", "{}"), ("Practitioner", "abc", "{}")], FHIR_SCHEMA
    )
    publish_fhir_r4(session, "t1", df)
    assert retrieve_fhir(session, "t1", "Location", "abc").count() == 1
    assert retrieve_fhir(session, "t1", "Practitioner", "abc").count() == 1


def test_publish_missing_ids_raises_after_writing_valid(session, spark):
    # NULL and '' ids rejected; valid rows still written; then raise
    # (DatalakePublishServiceTest.kt:96-124; ordering :79-88)
    df = spark.createDataFrame(
        [("Location", "ok", "{}"), ("Location", None, "{}"), ("Location", "", "{}")],
        FHIR_SCHEMA,
    )
    with pytest.raises(MissingResourceIdError):
        publish_fhir_r4(session, "t", df)
    assert retrieve_fhir(session, "t", "Location").count() == 1  # 'ok' persisted


def test_publish_empty_batch_noop(session, spark):
    # empty batch → zero writes (DatalakePublishServiceTest.kt:32-35)
    df = spark.createDataFrame([], FHIR_SCHEMA)
    assert publish_fhir_r4(session, "t", df) == 0
    assert retrieve_fhir(session, "t", "Location").count() == 0


def test_tenant_isolation(session, spark):
    df = spark.createDataFrame([("Patient", "p1", "{}")], FHIR_SCHEMA)
    publish_fhir_r4(session, "tenantA", df)
    assert retrieve_fhir(session, "tenantA", "Patient").count() == 1
    assert retrieve_fhir(session, "tenantB", "Patient").count() == 0


def test_binary_roundtrip_and_missing_is_none(session, spark):
    df = spark.createDataFrame(
        [("12345", "pdf", '{"resourceType":"Binary","id":"12345"}')], BIN_SCHEMA
    )
    assert publish_binary(session, "ronin", df) == 1
    row = retrieve_binary(session, "ronin", "12345")
    assert row is not None and row["content_type"] == "pdf"
    # missing key → None (DatalakeRetrieveServiceTest.kt:43-53)
    assert retrieve_binary(session, "ronin", "nope") is None
    assert retrieve_binary(session, "otherTenant", "12345") is None


def test_binary_batch_drops_missing(session, spark):
    df = spark.createDataFrame(
        [("a", "pdf", "{}"), ("b", "mp4", "{}")], BIN_SCHEMA
    )
    publish_binary(session, "t", df)
    got = retrieve_binary_batch(session, "t", ["a", "b", "missing"])
    assert sorted(r["resource_id"] for r in got.collect()) == ["a", "b"]


def _files_under(root):
    from pathlib import Path

    root = Path(root)
    return {p for p in root.rglob("*") if p.is_file()} if root.exists() else set()


def test_binary_requires_id(session, spark):
    """A Binary batch with a null or '' id is refused at the commit
    gate (reference :107): even mixed with valid rows, nothing becomes
    visible, no version is made and the staged files are deleted."""
    from interop_datalake_spark.lake.publish import txn_table

    publish_binary(
        session, "t", spark.createDataFrame([("a", "pdf", "{}")], BIN_SCHEMA)
    )
    t = txn_table(session, "ehr_binary")
    v0, files0 = t.current_version(), _files_under(t.root)
    for bad_id in (None, ""):
        df = spark.createDataFrame(
            [("b", "pdf", "{}"), (bad_id, "pdf", "{}"), ("c", "mp4", "{}")],
            BIN_SCHEMA,
        )
        with pytest.raises(MissingResourceIdError):
            publish_binary(session, "t", df)
        assert t.current_version() == v0
        assert _files_under(t.root) == files0
    got = retrieve_binary_batch(session, "t", ["a", "b", "c"]).collect()
    assert [r["resource_id"] for r in got] == ["a"]


@pytest.mark.parametrize("which", ["fhir", "binary"])
def test_publish_empty_batch_makes_no_version(session, spark, which):
    """Empty input makes no version and leaves no file, on a table
    that already has data (the empty-input no-op, reference :56-59)."""
    from interop_datalake_spark.lake.publish import txn_table

    publish, table, schema, row = {
        "fhir": (publish_fhir_r4, "ehr", FHIR_SCHEMA, ("Location", "x", "{}")),
        "binary": (publish_binary, "ehr_binary", BIN_SCHEMA, ("x", "pdf", "{}")),
    }[which]
    assert publish(session, "t", spark.createDataFrame([row], schema)) == 1
    t = txn_table(session, table)
    v0, files0 = t.current_version(), _files_under(t.root)
    assert publish(session, "t", spark.createDataFrame([], schema)) == 0
    assert t.current_version() == v0
    assert _files_under(t.root) == files0


def test_binary_exists(session, spark):
    df = spark.createDataFrame([("x", "pdf", "{}")], BIN_SCHEMA)
    publish_binary(session, "t", df)
    assert binary_exists(session, "t", "x") is True
    assert binary_exists(session, "t", "y") is False
    assert binary_exists(session, "u", "x") is False


def test_publish_path_is_manifest_committed_and_pruned(session, spark):
    """The flagship publish surface runs on TxnTable: commits are
    manifest versions and retrieval prunes the FILE LIST (partition +
    resource_id stats) before Spark plans the scan."""
    from interop_datalake_spark.lake.publish import txn_table

    for tenant in ("tA", "tB"):
        publish_fhir_r4(
            session, tenant,
            spark.createDataFrame(
                [("Location", f"{tenant}-{i}", "{}") for i in range(3)],
                FHIR_SCHEMA,
            ),
        )
    t = txn_table(session, "ehr")
    assert t.current_version() == 2  # one manifest commit per publish
    m = t.manifest()
    assert all("fhir_tenant_id" in m["partitions"][f] for f in m["files"])
    full = t.read()
    one_tenant = retrieve_fhir(session, "tA", "Location")
    assert len(one_tenant.inputFiles()) < len(full.inputFiles())
    assert one_tenant.count() == 3
    point = retrieve_fhir(session, "tA", "Location", "tA-1")
    assert point.count() == 1
    # binary point lookup prunes by tenant partition too
    publish_binary(
        session, "tA",
        spark.createDataFrame([("b1", "pdf", "{}")], BIN_SCHEMA),
    )
    publish_binary(
        session, "tB",
        spark.createDataFrame([("b2", "pdf", "{}")], BIN_SCHEMA),
    )
    row = retrieve_binary(session, "tA", "b1")
    assert row is not None and row["content_type"] == "pdf"


def test_publish_raw_returns_url(session, spark):
    from interop_datalake_spark.lake.retrieve import read_lake_table

    url = publish_raw_data(session, "mockTenant", "json data", "http://Epic.com")
    assert url.startswith(
        "https://objectstorage.us-phoenix-1.oraclecloud.com/n/namespace/b/datalake/o/"
    )
    assert "raw_data_response/tenant_id=mockTenant/transaction_id/" in url
    raw = read_lake_table(session, "raw_data_response")
    row = raw.first()
    assert row["url"] == "http://Epic.com" and row["body"] == "json data"
    assert isinstance(row["time"], str)  # stored as ISO string (RawDataWrapper)


def test_path_templates(spark):
    # golden path assertion with pinned date (DatalakePublishServiceTest.kt:39-93)
    df = spark.createDataFrame(
        [("Location", "abc", "mockTenant", "1990-01-03")],
        "rt STRING, rid STRING, t STRING, d STRING",
    )
    row = df.select(
        fhir_file_path("rt", "t", "rid", F.col("d").cast("date")).alias("fp"),
        binary_file_path("t", "rid").alias("bp"),
        datalake_full_url(F.lit("ehr/x")).alias("u"),
    ).first()
    assert row["fp"] == "ehr/location/fhir_tenant_id=mockTenant/_date=1990-01-03/abc.json"
    assert row["bp"] == "ehr/Binary/fhir_tenant_id=mockTenant/abc.json"
    assert row["u"] == "https://objectstorage.us-phoenix-1.oraclecloud.com/n/namespace/b/datalake/o/ehr/x"


def test_parse_object_url_malformed_is_null(spark):
    # malformed URL → None without a read (OCIClientTest.kt:244-254)
    df = spark.createDataFrame(
        [
            ("https://objectstorage.us-phoenix-1.oraclecloud.com/n/ns1/b/bkt/o/a/b.json",),
            ("",),
            ("https://example.com/wrong/shape",),
            ("https://objectstorage.host.com/n/ns/b/bkt",),  # missing /o/<path>
        ],
        "url STRING",
    )
    rows = df.select(parse_object_url("url").alias("p")).collect()
    assert rows[0]["p"]["namespace"] == "ns1"
    assert rows[0]["p"]["bucket"] == "bkt"
    assert rows[0]["p"]["path"] == "a/b.json"
    assert rows[1]["p"] is None and rows[2]["p"] is None and rows[3]["p"] is None




def test_publish_raw_runs_at_most_two_jobs(session, spark, jobs_of):
    """The append is one job and the URL one more: the path and the
    URL come from one projection, not two ``first()`` scans of the
    Python-built row (each a job per slice it has to reach)."""
    from interop_datalake_spark.lake.retrieve import read_lake_table

    url, jobs = jobs_of(
        lambda: publish_raw_data(session, "t1", "body", "http://Epic.com")
    )
    assert len(jobs) <= 2
    txn_id = read_lake_table(session, "raw_data_response").first()["transaction_id"]
    assert url == (
        "https://objectstorage.us-phoenix-1.oraclecloud.com/n/namespace/b/"
        f"datalake/o/raw_data_response/tenant_id=t1/transaction_id/{txn_id}"
    )
