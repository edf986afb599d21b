"""The shared stream-reader base (streaming/feed.py) under all five
``readStream`` formats: every format refuses a read without a
``path`` option, at schema resolution and at reader build."""

from __future__ import annotations

import pytest
from pyspark.sql.types import StructType

from interop_datalake_spark.streaming.delta_source import (
    DeltaAppendsDataSource,
    DeltaCdcDataSource,
    register_delta_source,
)
from interop_datalake_spark.streaming.iceberg_source import (
    IcebergAppendsDataSource,
    IcebergCdcDataSource,
    register_iceberg_source,
)
from interop_datalake_spark.streaming.txn_source import (
    TxnTableDataSource,
    register_txn_source,
)

SOURCES = [
    TxnTableDataSource,
    DeltaAppendsDataSource,
    DeltaCdcDataSource,
    IcebergAppendsDataSource,
    IcebergCdcDataSource,
]


@pytest.mark.parametrize("source", SOURCES, ids=lambda s: s.name())
def test_missing_path_option_raises(spark, source):
    fmt = source.name()
    with pytest.raises(ValueError, match=f"{fmt} source requires"):
        source({}).schema()
    with pytest.raises(ValueError, match=f"{fmt} source requires"):
        source({}).streamReader(StructType())
    for register in (
        register_txn_source, register_delta_source, register_iceberg_source
    ):
        register(spark)
    with pytest.raises(Exception, match=f"ValueError.*{fmt} source requires"):
        spark.readStream.format(fmt).load()

