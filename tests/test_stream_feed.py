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



def test_txntable_partition_values_are_not_unescaped_twice(spark, tmp_path):
    """The log records partition values already unescaped from their
    Hive directory names, so the ``txntable`` reader injects them as
    recorded: a value spelled like an escape ('%41') stays '%41', and
    the Hive null sentinel becomes NULL."""
    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession

    session = DatalakeSession(lake_root=str(tmp_path / "lake"), spark=spark)
    t = TxnTable(session, "pct", partition_cols=["site"])
    t.append(
        spark.createDataFrame(
            [(1, "%41"), (2, None), (3, "a b")], "k INT, site STRING"
        )
    )
    src = TxnTableDataSource({"path": str(t.root)})
    reader = src.streamReader(StructType.fromDDL(src.schema()))
    slices = reader.partitions({"version": 0}, {"version": 1})
    assert sorted(
        (s.constants["site"] or "") for s in slices
    ) == ["", "%41", "a b"]
