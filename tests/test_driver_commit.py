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


def _lifecycle(session, spark, sf_dir, driver_on: bool, **table_kw):
    spark.conf.set(_KEY, str(32 * 1024 * 1024) if driver_on else "0")
    try:
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey",
            F.col("o_custkey").alias("custkey"),
            F.col("o_totalprice").alias("price"),
            F.col("o_orderpriority").alias("prio"),  # values with spaces
            F.col("o_orderdate").cast("timestamp").alias("ts"),
            F.col("o_totalprice").cast("decimal(10,2)").alias("amt"),
        )
        t = TxnTable(
            session,
            f"t_{'on' if driver_on else 'off'}_{len(table_kw)}",
            **{
                "stats_cols": ["o_orderkey"],
                "partition_cols": ["prio"],
                **table_kw,
            },
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
    """Both writers leave identical state through an append, a merge
    and a vector delete: files per commit, partition values, per-file
    stats and every read."""
    a = _lifecycle(lake, spark, sf_dir, driver_on=False)
    b = _lifecycle(lake, spark, sf_dir, driver_on=True)
    assert a == b


@pytest.mark.parametrize(
    "table_kw",
    [
        {"stats_cols": ["o_orderkey", "ts", "amt", "prio"]},
        {"bloom_cols": ["custkey", "prio"]},
    ],
    ids=["typed_stats", "bloom"],
)
def test_driver_commit_stats_and_blooms_identical_to_distributed(
    lake, spark, sf_dir, table_kw
):
    """The same lifecycle with timestamp, decimal and path-encoded
    stats columns, and with blooms on a data column and on a
    path-encoded one (which records none): both writers agree."""
    a = _lifecycle(lake, spark, sf_dir, driver_on=False, **table_kw)
    b = _lifecycle(lake, spark, sf_dir, driver_on=True, **table_kw)
    assert a == b
    if "bloom_cols" in table_kw:
        stats = list(a["stats_set"])
        assert all(any(k == "bloom:custkey" for k, _ in st) for st in stats)
        assert not any(k == "bloom:prio" for st in stats for k, _ in st)


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


def test_run_starts_matches_python_grouping():
    """The driver write's native run split equals the per-row Python
    grouping it replaced: after one stable sort, each run of equal
    key tuples (NULL equal to NULL) holds exactly one group's rows,
    in input order."""
    import random

    import pyarrow as pa
    import pyarrow.compute as pc

    from interop_datalake_spark.lake.txn import _run_starts

    rng = random.Random(8)
    for n in (1, 2, 7, 200):
        tbl = pa.table(
            {
                "pid": pa.array([rng.randint(0, 3) for _ in range(n)], pa.int32()),
                "s": [rng.choice(["a", "b", None]) for _ in range(n)],
                "d": [rng.choice([date(2024, 1, 1), None]) for _ in range(n)],
            }
        )
        groups: dict[tuple, list[int]] = {}
        for i, k in enumerate(zip(*(tbl.column(c).to_pylist() for c in tbl.column_names))):
            groups.setdefault(k, []).append(i)
        order = pc.sort_indices(
            tbl, sort_keys=[(c, "ascending") for c in tbl.column_names]
        )
        starts = _run_starts(tbl.take(order))
        runs = [
            order.slice(lo, hi - lo).to_pylist()
            for lo, hi in zip(starts, starts[1:] + [n])
        ]
        assert sorted(runs) == sorted(groups.values())


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


def _append_python_rows(lake, spark, name, max_bytes=None, **table_kw):
    if max_bytes is not None:
        spark.conf.set(_KEY, str(max_bytes))
    try:
        t = TxnTable(
            lake,
            name,
            stats_cols=["id", "ts", "amt", "price"],
            partition_cols=["tenant"],
            **table_kw,
        )
        t.append(_python_rows(spark))
        return t
    finally:
        spark.conf.unset(_KEY)


def test_python_rows_commit_in_one_job(lake, spark, monkeypatch, jobs_of):
    """A ``createDataFrame(list)`` frame is driver-resident: its commit
    runs exactly one Spark job (the Arrow collect) — timestamp and
    decimal stats columns included, since their stats come from the
    footers — and leaves the same state as the distributed writer:
    files per partition, rows, stats. The NaN-holding DOUBLE stats
    column records no bounds on either path."""
    took = _spy_path(monkeypatch)
    on, jobs = jobs_of(lambda: _append_python_rows(lake, spark, "py_on"))
    assert took == [True]
    assert len(jobs) == 1
    st = on.manifest()["stats"]
    assert all(s["ts"][0] is not None and s["amt"][0] is not None for s in st.values())
    assert not any("price" in s for s in st.values())
    off = _append_python_rows(lake, spark, "py_off", max_bytes=0)
    assert took == [True, False]  # maxBytes=0 disables the driver write
    assert _commit_shape(on) == _commit_shape(off)


def test_bloom_commit_runs_one_bloom_job(lake, spark, monkeypatch, jobs_of):
    """After the data write, a commit runs a Spark job only for bloom
    columns, and then exactly one: the collect plus the bloom job on
    the driver path, the write plus the bloom job on the distributed
    path — each leaving the same blooms."""
    took = _spy_path(monkeypatch)
    on, jobs_on = jobs_of(
        lambda: _append_python_rows(lake, spark, "bl_on", bloom_cols=["body"]),
    )
    off, jobs_off = jobs_of(
        lambda: _append_python_rows(
            lake, spark, "bl_off", max_bytes=0, bloom_cols=["body"]
        ),
    )
    assert took == [True, False]
    assert (len(jobs_on), len(jobs_off)) == (2, 2)
    assert _commit_shape(on) == _commit_shape(off)
    assert all(
        isinstance(s.get("bloom:body"), dict)
        for s in on.manifest()["stats"].values()
    )
    assert on.read(bloom_eq={"body": "x" * 7}).count() == 3


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


def test_vector_write_keeps_post_collect_cap(lake, spark, monkeypatch):
    """The vector write shares the commit write's driver-collect gate,
    post-collect cap included: with the size estimate forced under a
    1 KB cap, a merge-on-read delete whose vector collects past the
    cap is written by the distributed writer, and deletes the same
    rows."""
    from pyspark.sql.readwriter import DataFrameWriter

    from interop_datalake_spark.lake import txn

    t = TxnTable(lake, "dvcap", stats_cols=["id"])
    t.append(spark.range(2000).withColumn("tag", F.lit("x")))
    saved: list[str] = []
    real = DataFrameWriter.parquet

    def spy(self, path, *a, **kw):
        saved.append(str(path))
        return real(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    monkeypatch.setattr(txn, "_plan_size_estimate", lambda df: 1)
    spark.conf.set(_KEY, "1024")
    try:
        t.delete_where(F.col("id") % 2 == 0, merge_on_read=True)
    finally:
        spark.conf.unset(_KEY)
    assert [p for p in saved if "/dv/" in p]
    assert t.read().count() == 1000
