"""R18 observability analogs + silver-layer FHIR extraction."""

import logging

from pyspark.sql import functions as F

from interop_datalake_spark.lake.silver import extract_fields, to_silver
from interop_datalake_spark.observability import traced, with_metrics
from interop_datalake_spark.sources.tables import load_table

BRONZE = [
    ("patient", "p1", '{"id":"p1","gender":"female","birthDate":"1980-01-02","active":true,"extraField":"ignored"}'),
    ("patient", "p2", '{"id":"p2","gender":"male"}'),  # missing fields -> NULL
    ("patient", "p3", "not valid json"),  # malformed -> NULLs, row kept
]


def test_silver_from_json_partial_schema(spark):
    bronze = spark.createDataFrame(
        BRONZE, "resource_type STRING, resource_id STRING, resource_json STRING"
    )
    silver = to_silver(bronze, "Patient")
    got = {r["resource_id"]: r for r in silver.collect()}
    assert got["p1"]["gender"] == "female" and got["p1"]["active"] is True
    assert got["p2"]["birthDate"] is None  # schema evolution: absent -> NULL
    assert got["p3"]["gender"] is None  # malformed doc survives as NULLs
    assert got["p3"]["resource_json"] == "not valid json"  # bronze fidelity


def test_silver_get_json_object_paths(spark):
    bronze = spark.createDataFrame(
        BRONZE, "resource_type STRING, resource_id STRING, resource_json STRING"
    )
    out = extract_fields(bronze, {"gender": "$.gender", "bd": "$.birthDate"})
    got = {r["resource_id"]: (r["gender"], r["bd"]) for r in out.collect()}
    assert got["p1"] == ("female", "1980-01-02")
    assert got["p2"] == ("male", None)


def test_traced_logs_duration(caplog):
    @traced("unit_op")
    def fn(x):
        return x + 1

    with caplog.at_level(logging.INFO, logger="interop_datalake_spark"):
        assert fn(1) == 2
    assert any("op=unit_op status=ok" in r.getMessage() for r in caplog.records)


def test_with_metrics_single_pass(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    observed, obs = with_metrics(
        li, "scan_metrics", F.count(F.lit(1)).alias("rows"),
        F.round(F.sum("l_quantity"), 2).alias("qty"),
    )
    n = observed.count()
    assert obs.get["rows"] == n
    assert obs.get["qty"] > 0
