"""Bounded-commit driver write (round 15): the pyarrow fast path must
be invisible — identical visible table state to the distributed
writer, byte-identical Hive dir names, and the batched cached
transform-literal evaluation must equal the per-literal build."""

import os
import shutil
import tempfile
from datetime import date

import pytest
from pyspark.sql import functions as F

from interop_datalake_spark.lake.txn import (
    TxnTable,
    _part_dir_value,
    _plan_size_estimate,
)
from interop_datalake_spark.session import DatalakeSession

_KEY = "spark.interop.datalake.driverCommit.maxBytes"


@pytest.fixture()
def lake(tmp_path, spark):
    return DatalakeSession(lake_root=str(tmp_path / "lake"), spark=spark)


def _lifecycle(session, spark, sf_dir, driver_on: bool):
    spark.conf.set(_KEY, str(32 * 1024 * 1024) if driver_on else "0")
    try:
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey",
            F.col("o_custkey").alias("custkey"),
            F.col("o_totalprice").alias("price"),
            F.col("o_orderpriority").alias("prio"),  # values with spaces
        )
        t = TxnTable(
            session,
            f"t_{'on' if driver_on else 'off'}",
            stats_cols=["o_orderkey"],
            partition_cols=["prio"],
        )
        t.append(orders.filter(F.col("o_orderkey") < 300).repartition(3))
        t.merge(
            orders.filter(F.col("o_orderkey") < 100).withColumn(
                "price", F.col("price") + 1
            ),
            ["o_orderkey"],
        )
        t.delete_where(F.col("o_orderkey") % 7 == 0, merge_on_read=True)
        state = t._state(t.current_version())
        return {
            "snap": sorted(tuple(r) for r in t.read().collect()),
            "rng": sorted(
                tuple(r)
                for r in t.read(key_range=("o_orderkey", 50, 120)).collect()
            ),
            "pf": sorted(
                tuple(r)
                for r in t.read(
                    partition_filter={"prio": "4-NOT SPECIFIED"}
                ).collect()
            ),
            "files_per_commit": [
                len(t.commit_record(v).get("added", []))
                for v in range(1, t.current_version() + 1)
            ],
            "stats_set": sorted(
                tuple(sorted((k, str(v)) for k, v in st.items()))
                for st in state["stats"].values()
            ),
            "parts_set": sorted(
                tuple(sorted(p.items()))
                for p in state["partitions"].values()
            ),
            "history": [
                (h["version"], h["op"], h.get("rows_total"))
                for h in t.history()
            ],
        }
    finally:
        spark.conf.unset(_KEY)


def test_driver_commit_state_identical_to_distributed(lake, spark, sf_dir):
    a = _lifecycle(lake, spark, sf_dir, driver_on=False)
    b = _lifecycle(lake, spark, sf_dir, driver_on=True)
    assert a == b


def test_part_dir_value_matches_spark_escaper(spark, tmp_path):
    """Byte-identity of the driver writer's Hive dir names against
    Spark's own partitionBy output, over the tricky value classes
    (escaped chars, verbatim specials, unicode, null, empty)."""
    vals = [
        "4-NOT SPECIFIED", "a,b", "a+b", "a%b", "a=b", "a:b", "a#b",
        "ä", "a'b", "(x)", "a&b", "a\tb", "a{b", "a[b]", None, "",
        "plain",
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id INT, p STRING"
    )
    d = str(tmp_path / "esc")
    df.write.mode("overwrite").partitionBy("p").parquet(d)
    spark_dirs = {
        n[2:] for n in os.listdir(d) if n.startswith("p=")
    }
    ours = {_part_dir_value(v) for v in vals}
    assert ours == spark_dirs
    # int/date spellings
    assert _part_dir_value(5) == "5"
    assert _part_dir_value(date(2024, 1, 3)) == "2024-01-03"
    # refused types fall back to the distributed writer
    assert _part_dir_value(True) is None
    assert _part_dir_value(1.5) is None


def test_leaf_estimate_gates_like_broadcast(spark, sf_dir):
    scan = spark.read.parquet(f"{sf_dir}/orders.parquet")
    est = _plan_size_estimate(scan.filter(F.col("o_orderkey") < 10))
    assert est is not None and 0 < est < 64 * 1024 * 1024
    # joins must SUM the leaves, not multiply them
    two = scan.alias("a").join(
        spark.read.parquet(f"{sf_dir}/customer.parquet"),
        F.col("a.o_custkey") == F.col("c_custkey"),
    )
    assert _plan_size_estimate(two) < 64 * 1024 * 1024
    # RDD-backed local frames have no usable estimate -> None
    rdd_df = spark.createDataFrame(
        spark.sparkContext.parallelize([(1,)], 1), "x INT"
    )
    assert _plan_size_estimate(rdd_df) is None


def test_transform_literals_batched_equals_per_literal(lake, spark, sf_dir):
    """The cached batched probe path must return the same transform
    values as the historical per-literal expression build (replicated
    inline here — it still serves schema-less tables)."""
    import json as _json

    from pyspark.sql.types import StructType

    from interop_datalake_spark.lake.txn import _transform_value_expr

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderdate"
    )
    t = TxnTable(
        lake,
        "tl",
        stats_cols=["o_orderkey"],
        partition_transforms={
            "b": ["bucket_mm3", 8, "o_orderkey"],
            "tr": ["truncate", 100, "o_orderkey"],
        },
    )
    t.append(orders.limit(50))
    state = t._state(t.current_version())
    # the caller (resolve_files) only passes specs whose SOURCE is the
    # probed key column — both transforms here source o_orderkey
    specs = dict(state["partition_transforms"])
    values = [3, 17, 4242]
    got = t._transform_literals(specs, values, state)

    st = StructType.fromJson(_json.loads(state["schema"]))
    src_types = {f.name: f.dataType.simpleString() for f in st.fields}
    sel = [
        _transform_value_expr(
            F.lit(v), spec, src_types.get(spec[-1])
        ).alias(f"{name}__{i}")
        for name, spec in specs.items()
        for i, v in enumerate(values)
    ]
    row = spark.range(1).select(*sel).collect()[0]
    ref = {
        name: [row[f"{name}__{i}"] for i in range(len(values))]
        for name in specs
    }
    assert got == ref
    assert all(v is not None and 0 <= v < 8 for v in got["b"])
    assert got["tr"] == [0, 0, 4200]


# -- driver-resident inputs (createDataFrame of Python rows) -------------

_ROWS_SCHEMA = (
    "id BIGINT, tenant STRING, body STRING, price DOUBLE, "
    "amt DECIMAL(10,2), ts TIMESTAMP"
)


def _python_rows(spark):
    from datetime import datetime
    from decimal import Decimal

    return spark.createDataFrame(
        [
            (
                i,
                f"t{i % 3}",
                "x" * (i % 50),
                float("nan") if i % 11 == 0 else i / 7,
                Decimal(i) / 4,
                datetime(2024, 1, 1 + i % 28, i % 24),
            )
            for i in range(120)
        ],
        _ROWS_SCHEMA,
    )


def _spy_path(monkeypatch):
    """Record, per ``_driver_commit_write`` call, whether the driver
    write took the commit (True) or fell back (False)."""
    took: list[bool] = []
    real = TxnTable._driver_commit_write

    def spy(self, *a, **kw):
        got = real(self, *a, **kw)
        took.append(got is not None)
        return got

    monkeypatch.setattr(TxnTable, "_driver_commit_write", spy)
    return took


def _commit_shape(t):
    """Visible state of a one-commit table with the file names left
    out: per-file (partition, stats incl. rows), and the rows read."""
    m = t.manifest()
    files = sorted(
        (
            tuple(sorted(m["partitions"][f].items())),
            tuple(sorted((k, str(v)) for k, v in m["stats"][f].items())),
        )
        for f in m["files"]
    )
    rows = sorted(
        tuple("nan" if x != x else x for x in r) for r in t.read().collect()
    )
    return files, rows


def _append_python_rows(lake, spark, name, max_bytes=None):
    if max_bytes is not None:
        spark.conf.set(_KEY, str(max_bytes))
    try:
        t = TxnTable(lake, name, stats_cols=["id"], partition_cols=["tenant"])
        t.append(_python_rows(spark))
        return t
    finally:
        spark.conf.unset(_KEY)


def test_python_rows_commit_in_one_job(lake, spark, monkeypatch):
    """A ``createDataFrame(list)`` frame is driver-resident: its commit
    runs exactly one Spark job (the Arrow collect) and leaves the same
    state as the distributed writer — files per partition, rows, stats
    — including timestamp, decimal and NaN data columns."""
    took = _spy_path(monkeypatch)
    sc = spark.sparkContext
    sc.setJobGroup("driver-commit-one-job", "one job")
    try:
        on = _append_python_rows(lake, spark, "py_on")
        jobs = sc.statusTracker().getJobIdsForGroup("driver-commit-one-job")
    finally:
        sc.setJobGroup("", "")
    assert took == [True]
    assert len(jobs) == 1
    off = _append_python_rows(lake, spark, "py_off", max_bytes=0)
    assert took == [True, False]  # maxBytes=0 disables the driver write
    assert _commit_shape(on) == _commit_shape(off)


def test_python_rows_over_cap_fall_back(lake, spark, monkeypatch):
    """The post-collect cap: the same frame over a tiny maxBytes is
    collected, found too large, and written by the distributed writer
    with identical state."""
    took = _spy_path(monkeypatch)
    small = _append_python_rows(lake, spark, "py_small", max_bytes=1024)
    assert took == [False]
    ref = _append_python_rows(lake, spark, "py_ref")
    assert took == [False, True]
    assert _commit_shape(small) == _commit_shape(ref)


def test_checkpointed_frame_takes_distributed_path(lake, spark, monkeypatch):
    """A localCheckpoint()ed frame is not driver-resident (its rows live
    in executor block storage): no estimate, no lineage admission."""
    took = _spy_path(monkeypatch)
    t = TxnTable(lake, "ckpt", stats_cols=["id"], partition_cols=["tenant"])
    t.append(_python_rows(spark).localCheckpoint())
    assert took == [False]
    assert t.read().count() == 120


def test_driver_resident_lineage_rule(spark, tmp_path):
    import pandas as pd

    from interop_datalake_spark.lake.txn import _driver_resident

    sc = spark.sparkContext
    one = spark.createDataFrame([(1,)], "x INT")
    assert _driver_resident(one)
    assert _driver_resident(spark.createDataFrame([], "x INT"))
    assert _driver_resident(spark.createDataFrame(pd.DataFrame({"x": [1]})))
    assert _driver_resident(one.union(one).filter("x > 0"))
    assert not _driver_resident(one.localCheckpoint())
    both = sc.union([sc.parallelize([(1,)]), sc.parallelize([(2,)])])
    assert not _driver_resident(spark.createDataFrame(both, "x INT"))
    (tmp_path / "f.txt").write_text("1\n")
    text = sc.textFile(str(tmp_path / "f.txt")).map(lambda s: (s,))
    assert not _driver_resident(spark.createDataFrame(text, "s STRING"))
    # a file scan has an estimate and is not driver-resident
    spark.range(3).write.parquet(str(tmp_path / "p"))
    assert not _driver_resident(spark.read.parquet(str(tmp_path / "p")))


def test_exploding_join_over_cap_falls_back(lake, spark, monkeypatch):
    """The post-collect cap also bounds estimated frames: a join whose
    inputs are far under maxBytes but whose output is far over it is
    collected, refused and written by the distributed writer."""
    took = _spy_path(monkeypatch)
    a = spark.range(300).withColumnRenamed("id", "a")
    b = spark.range(300).withColumnRenamed("id", "b")
    frame = a.crossJoin(b)  # 90k rows from two 2.4 KB leaves
    assert _plan_size_estimate(frame) < 64 * 1024
    spark.conf.set(_KEY, str(64 * 1024))
    try:
        t = TxnTable(lake, "fanout", stats_cols=["a"])
        t.append(frame)
    finally:
        spark.conf.unset(_KEY)
    assert took == [False]
    assert t.read().count() == 90_000
