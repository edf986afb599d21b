from interop_datalake_spark.lake.publish import (
    overwrite_tenant_partition,
    publish_binary,
    publish_fhir_r4,
    publish_raw_data,
)
from interop_datalake_spark.lake.reference_data import (
    enrich_with_concept_map,
    load_concept_map,
    publish_concept_map,
)
from interop_datalake_spark.lake.retrieve import (
    binary_exists,
    retrieve_binary,
    retrieve_binary_batch,
    retrieve_binary_by_urls,
    retrieve_fhir,
)
from interop_datalake_spark.lake.silver import extract_fields, to_silver

__all__ = [
    "publish_fhir_r4",
    "publish_binary",
    "publish_raw_data",
    "overwrite_tenant_partition",
    "retrieve_binary",
    "retrieve_binary_batch",
    "retrieve_binary_by_urls",
    "retrieve_fhir",
    "binary_exists",
    "publish_concept_map",
    "load_concept_map",
    "enrich_with_concept_map",
    "extract_fields",
    "to_silver",
]
