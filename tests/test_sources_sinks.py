"""Sources/sinks coverage: dynamic partition overwrite, bronze JSON
scan with corrupt-record capture, streaming foreachBatch sink."""

import pytest
from pyspark.sql import functions as F

from interop_datalake_spark.lake.publish import (
    overwrite_tenant_partition,
    publish_binary,
)
from interop_datalake_spark.lake.retrieve import retrieve_binary_batch
from interop_datalake_spark.lake.txn import TxnTable
from interop_datalake_spark.session import DatalakeSession
from interop_datalake_spark.sources.tables import load_table

BIN_SCHEMA = "resource_id STRING, content_type STRING, resource_json STRING"


def test_overwrite_partition_touches_one_tenant(spark, tmp_path):
    session = DatalakeSession(lake_root=str(tmp_path / "lake"), spark=spark)
    publish_binary(
        session, "tenantA",
        spark.createDataFrame([("a1", "pdf", "{}"), ("a2", "pdf", "{}")], BIN_SCHEMA),
    )
    publish_binary(
        session, "tenantB",
        spark.createDataFrame([("b1", "mp4", "{}")], BIN_SCHEMA),
    )
    # replace tenantA's partition with a single corrected row
    replacement = spark.createDataFrame([("a9", "pdf", '{"fixed":true}')], BIN_SCHEMA)
    n = overwrite_tenant_partition(session, "ehr_binary", "tenantA", replacement)
    assert n == 1
    a = retrieve_binary_batch(session, "tenantA", ["a1", "a2", "a9"])
    assert sorted(r["resource_id"] for r in a.collect()) == ["a9"]
    b = retrieve_binary_batch(session, "tenantB", ["b1"])
    assert [r["resource_id"] for r in b.collect()] == ["b1"]  # untouched


def test_overwrite_partition_on_empty_table_survives_publish(spark, tmp_path):
    """A partition overwrite on a table with no commits yet is a
    manifest commit like any other, so a later publish to another
    tenant keeps its rows visible."""
    session = DatalakeSession(lake_root=str(tmp_path / "lake"), spark=spark)
    replacement = spark.createDataFrame([("a9", "pdf", '{"fixed":true}')], BIN_SCHEMA)
    assert overwrite_tenant_partition(session, "ehr_binary", "tenantA", replacement) == 1
    publish_binary(
        session, "tenantB",
        spark.createDataFrame([("b1", "mp4", "{}")], BIN_SCHEMA),
    )
    a = retrieve_binary_batch(session, "tenantA", ["a9"])
    assert [r["resource_id"] for r in a.collect()] == ["a9"]
    b = retrieve_binary_batch(session, "tenantB", ["b1"])
    assert [r["resource_id"] for r in b.collect()] == ["b1"]


def test_overwrite_partition_on_fresh_table_outside_layout(spark, tmp_path):
    """A table outside TXN_LAYOUT with no commits is partitioned by
    the ``fhir_tenant_id`` column the overwrite stamps: each call
    replaces only its own tenant's rows."""
    session = DatalakeSession(lake_root=str(tmp_path / "lake"), spark=spark)
    ddl = "resource_id STRING, body STRING"
    for tenant, rows in (
        ("tA", [("r1", "x")]),
        ("tB", [("r2", "y"), ("r3", "z")]),
        ("tA", [("r4", "w")]),
    ):
        got = overwrite_tenant_partition(
            session, "other", tenant, spark.createDataFrame(rows, ddl)
        )
        assert got == len(rows)
    t = TxnTable(session, "other")
    assert t.manifest()["partition_cols"] == ["fhir_tenant_id"]
    assert sorted(
        (r["fhir_tenant_id"], r["resource_id"]) for r in t.read().collect()
    ) == [("tA", "r4"), ("tB", "r2"), ("tB", "r3")]


def test_streaming_foreach_batch_sink(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    events = load_table(spark, sf_dir, "events").limit(1000)
    events.repartition(2).write.parquet(src)
    batch_src = spark.read.parquet(src)

    def sink(batch_df, batch_id):
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out)
        )

    q = (
        spark.readStream.schema(batch_src.schema)
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    written = spark.read.parquet(out)
    assert written.count() == 1000
    assert "batch_id" in written.columns
