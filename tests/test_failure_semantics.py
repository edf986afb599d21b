"""Write-failure semantics: a mid-write abort must leave no partial
table state visible. The reference pins upload retry/failure behavior
(``OCIClientTest.kt:201-222``, ``DatalakePublishServiceTest.kt:127-162``)
per object; our analog is the ``TxnTable`` commit protocol for
``publish_*`` and ``TxnTable.merge``: the write lands in an invisible
per-commit directory and only the manifest commit makes it visible, so
a failed write leaves the previous snapshot as it was."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from interop_datalake_spark.lake.publish import publish_fhir_r4, txn_table
from interop_datalake_spark.lake.retrieve import retrieve_fhir
from interop_datalake_spark.session import DatalakeSession

FHIR_SCHEMA = "resource_type STRING, resource_id STRING, resource_json STRING"


@pytest.fixture()
def session(spark, tmp_path):
    return DatalakeSession(lake_root=str(tmp_path / "lake"), spark=spark)


def _poison(col):
    """A column whose evaluation raises for rows marked '__BOOM__' —
    injects a task failure mid-job, after other tasks may have
    finished their writes."""

    @F.udf(returnType=StringType())
    def boom(v):
        if v == "__BOOM__":
            raise RuntimeError("injected mid-write failure")
        return v

    return boom(col)


def _seed(session, spark):
    base = spark.createDataFrame(
        [("Location", "a", '{"v":1}'), ("Location", "b", '{"v":1}')],
        FHIR_SCHEMA,
    )
    publish_fhir_r4(session, "t1", base)
    return {
        r["resource_id"]: r["resource_json"]
        for r in retrieve_fhir(session, "t1", "Location").collect()
    }


def test_publish_abort_leaves_no_partial_rows(session, spark):
    before = _seed(session, spark)

    bad = spark.createDataFrame(
        [("Location", "c", "{}"), ("Location", "d", "__BOOM__"),
         ("Location", "e", "{}"), ("Location", "f", "{}")],
        FHIR_SCHEMA,
    ).repartition(4).withColumn("resource_json", _poison(F.col("resource_json")))

    with pytest.raises(Exception):
        publish_fhir_r4(session, "t1", bad)

    after = {
        r["resource_id"]: r["resource_json"]
        for r in retrieve_fhir(session, "t1", "Location").collect()
    }
    assert after == before, "aborted publish leaked partial rows"


def test_txn_merge_abort_during_write_leaves_table_intact(session, spark):
    before = _seed(session, spark)
    t = txn_table(session, "ehr")
    v0 = t.current_version()
    cols = retrieve_fhir(session, "t1", "Location").columns
    keys = ["resource_type", "fhir_tenant_id", "resource_id"]

    def updates_df(rows):
        return (
            spark.createDataFrame(rows, FHIR_SCHEMA)
            .withColumn("fhir_tenant_id", F.lit("t1"))
            .withColumn("_date", F.current_date())
            .select(*cols)
        )

    bad = updates_df(
        [("location", "a", "__BOOM__"), ("location", "c", '{"v":9}')]
    ).withColumn("resource_json", _poison(F.col("resource_json")))

    with pytest.raises(Exception):
        t.merge(bad, keys)

    assert t.current_version() == v0, "aborted merge made a version"
    after = {
        r["resource_id"]: r["resource_json"]
        for r in retrieve_fhir(session, "t1", "Location").collect()
    }
    assert after == before, "aborted merge mutated the live table"

    # files staged by the failed write must not leak into the next merge
    good = updates_df([("location", "a", '{"v":2}'), ("location", "c", '{"v":1}')])
    t.merge(good, keys)
    final = {
        r["resource_id"]: r["resource_json"]
        for r in retrieve_fhir(session, "t1", "Location").collect()
    }
    assert final == {"a": '{"v":2}', "b": '{"v":1}', "c": '{"v":1}'}
