"""URL-keyed retrieval (R8's real signature) and concept-map
enrichment (INFX analog)."""

import pytest

from interop_datalake_spark.functions.uris import binary_file_path, datalake_full_url
from interop_datalake_spark.lake.publish import publish_binary
from interop_datalake_spark.lake.reference_data import (
    enrich_with_concept_map,
    load_concept_map,
    publish_concept_map,
)
from interop_datalake_spark.lake.retrieve import retrieve_binary_by_urls
from interop_datalake_spark.session import DatalakeSession

BIN_SCHEMA = "resource_id STRING, content_type STRING, resource_json STRING"


@pytest.fixture()
def session(spark, tmp_path):
    return DatalakeSession(lake_root=str(tmp_path / "lake"), spark=spark)


def _url(spark, tenant, rid):
    df = spark.createDataFrame([(tenant, rid)], "t STRING, r STRING")
    return df.select(
        datalake_full_url(binary_file_path("t", "r")).alias("u")
    ).first()["u"]


def test_retrieve_by_urls(session, spark):
    publish_binary(
        session, "tA",
        spark.createDataFrame([("x1", "pdf", "{}"), ("x2", "mp4", "{}")], BIN_SCHEMA),
    )
    urls = [
        _url(spark, "tA", "x1"),
        _url(spark, "tA", "x2"),
        _url(spark, "tA", "missing"),        # missing key -> absent
        "https://example.com/wrong/shape",    # malformed -> dropped, no read
        "",
    ]
    got = retrieve_binary_by_urls(session, urls)
    rows = {r["resource_id"]: r for r in got.collect()}
    assert sorted(rows) == ["x1", "x2"]
    assert rows["x1"]["url"] == urls[0]  # originating URL preserved


def test_retrieve_by_urls_empty_and_missing_table(session, spark):
    assert retrieve_binary_by_urls(session, []).count() == 0
    assert retrieve_binary_by_urls(session, ["https://x/n/a/b/c/o/d"]).count() == 0


def test_concept_map_roundtrip_and_enrich(session, spark):
    cmap = spark.createDataFrame(
        [("click", "engagement"), ("view", "engagement"), ("error", "fault")],
        "event_type STRING, category STRING",
    )
    publish_concept_map(session, "event_categories", cmap)
    loaded = load_concept_map(session, "event_categories")
    facts = spark.createDataFrame(
        [(1, "click"), (2, "error"), (3, "signup")], "id INT, event_type STRING"
    )
    out = enrich_with_concept_map(facts, loaded, "event_type")
    got = {r["id"]: r["category"] for r in out.collect()}
    assert got == {1: "engagement", 2: "fault", 3: None}  # gap visible, not dropped

