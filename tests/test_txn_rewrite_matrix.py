"""Every row-level commit of ``TxnTable`` on both write paths: merge
(copy-on-write and merge-on-read), merge_sync (no scope, a scope
predicate, a partition-confined scope), delete_where/delete_keys (both
modes) and overwrite_partitions, each run once on the driver write
(default cap) and once on the distributed write (cap 0). Each cell pins
the rows read back, the versions the call made, its commit record's op
and fields, and the Spark jobs it ran."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from interop_datalake_spark.lake.txn import TxnTable
from interop_datalake_spark.session import DatalakeSession

_KEY = "spark.interop.datalake.driverCommit.maxBytes"
_SCHEMA = "id INT, p STRING, v STRING"


@pytest.fixture()
def lake(tmp_path, spark):
    return DatalakeSession(lake_root=str(tmp_path / "lake"), spark=spark)


def _rows(spark, rows):
    return spark.createDataFrame(rows, _SCHEMA)


def _a():
    return F.col("p") == "a"


#: op → (call, rows read back after it)
_OPS = {
    "merge": (
        lambda t, s: t.merge(_rows(s, [(2, "a", "n"), (4, "a", "n")]), ["id"]),
        [(1, "a", "x"), (2, "a", "n"), (3, "a", "x"), (4, "a", "n"),
         (10, "b", "x"), (11, "b", "x")],
    ),
    "merge_mor": (
        lambda t, s: t.merge(
            _rows(s, [(2, "a", "n"), (4, "a", "n")]), ["id"],
            merge_on_read=True,
        ),
        [(1, "a", "x"), (2, "a", "n"), (3, "a", "x"), (4, "a", "n"),
         (10, "b", "x"), (11, "b", "x")],
    ),
    "merge_sync": (
        lambda t, s: t.merge_sync(
            _rows(s, [(2, "a", "n"), (11, "b", "n")]), ["id"]
        ),
        [(2, "a", "n"), (11, "b", "n")],
    ),
    "merge_sync_scope": (
        lambda t, s: t.merge_sync(
            _rows(s, [(1, "a", "n"), (4, "a", "n")]), ["id"], scope=_a()
        ),
        [(1, "a", "n"), (4, "a", "n"), (10, "b", "x"), (11, "b", "x")],
    ),
    "merge_sync_partition": (
        lambda t, s: t.merge_sync(
            _rows(s, [(1, "a", "n"), (4, "a", "n")]), ["id"], scope=_a(),
            scope_partition_filter={"p": "a"},
        ),
        [(1, "a", "n"), (4, "a", "n"), (10, "b", "x"), (11, "b", "x")],
    ),
    "delete_where": (
        lambda t, s: t.delete_where(F.col("id") == 2),
        [(1, "a", "x"), (3, "a", "x"), (10, "b", "x"), (11, "b", "x")],
    ),
    "delete_where_mor": (
        lambda t, s: t.delete_where(F.col("id") == 2, merge_on_read=True),
        [(1, "a", "x"), (3, "a", "x"), (10, "b", "x"), (11, "b", "x")],
    ),
    "delete_keys": (
        lambda t, s: t.delete_keys(s.createDataFrame([(11,)], "id INT"), ["id"]),
        [(1, "a", "x"), (2, "a", "x"), (3, "a", "x"), (10, "b", "x")],
    ),
    "delete_keys_mor": (
        lambda t, s: t.delete_keys(
            s.createDataFrame([(11,)], "id INT"), ["id"], merge_on_read=True
        ),
        [(1, "a", "x"), (2, "a", "x"), (3, "a", "x"), (10, "b", "x")],
    ),
    "overwrite_partitions": (
        lambda t, s: t.overwrite_partitions(_rows(s, [(7, "a", "r")])),
        [(7, "a", "r"), (10, "b", "x"), (11, "b", "x")],
    ),
}

_BASE_FIELDS = {
    "version", "parent", "ts_utc", "op", "added", "removed", "rows_total",
    "stats", "partitions", "partition_cols", "partition_types",
    "partition_transforms",
}
_CS = {"schema"}
_CDV = {"dv"}
#: op → (commit op, record fields past the base ones, jobs per call on
#: the driver path, jobs per call on the distributed path, which data
#: writes of the driver-path call the driver writer took)
_EXPECT = {
    "delete_keys": ("delete", set(), 9, 9, [False]),
    "delete_keys_mor": ("delete", _CDV, 7, 7, []),
    "delete_where": ("delete", set(), 3, 3, [True]),
    "delete_where_mor": ("delete", _CDV, 1, 3, []),
    "merge": ("merge", _CS | {"partition_scoped"}, 6, 6, [False]),
    "merge_mor": ("merge", _CS | _CDV, 10, 10, [True]),
    "merge_sync": ("merge_sync", _CS, 1, 1, [False]),
    "merge_sync_partition": ("merge_sync", _CS, 8, 8, [False]),
    "merge_sync_scope": ("merge_sync", _CS, 8, 8, [False]),
    "overwrite_partitions": ("overwrite_partitions", _CS, 1, 1, [True]),
}


@pytest.mark.parametrize("path", ["driver", "distributed"])
@pytest.mark.parametrize("op", sorted(_OPS))
def test_rewrite_op_matrix(lake, spark, jobs_of, monkeypatch, op, path):
    took = []
    orig = TxnTable._driver_commit_write

    def spy(self, *a, **kw):
        got = orig(self, *a, **kw)
        took.append(got is not None)
        return got

    monkeypatch.setattr(TxnTable, "_driver_commit_write", spy)
    if path == "distributed":
        spark.conf.set(_KEY, "0")
    try:
        t = TxnTable(lake, f"m_{op}", partition_cols=["p"], stats_cols=["id"])
        t.append(_rows(spark, [(1, "a", "x"), (2, "a", "x"), (3, "a", "x")]))
        t.append(_rows(spark, [(10, "b", "x"), (11, "b", "x")]))
        call, want = _OPS[op]
        del took[:]
        got, jobs = jobs_of(lambda: call(t, spark))
    finally:
        spark.conf.unset(_KEY)
    op_name, extra, jobs_driver, jobs_dist, driver_took = _EXPECT[op]
    assert sorted(tuple(r) for r in t.read().collect()) == want
    assert t.current_version() == 3 and got == 3
    rec = t.commit_record(3)
    assert (rec["op"], set(rec)) == (op_name, _BASE_FIELDS | extra)
    if path == "driver":
        assert (len(jobs), took) == (jobs_driver, driver_took)
    else:
        assert (len(jobs), took) == (jobs_dist, [False] * len(driver_took))


@pytest.mark.parametrize("path", ["driver", "distributed"])
@pytest.mark.parametrize(
    "ddl, old, new, want",
    [
        (
            "STRING",
            [(1, None), (2, "a")],
            [(3, None)],
            [(2, "a"), (3, None)],
        ),
        # Spark's writer stores '' as the Hive NULL partition, so it
        # replaces (and reads back as) the NULL partition
        ("STRING", [(1, ""), (2, "a")], [(3, "")], [(2, "a"), (3, None)]),
        ("BOOLEAN", [(1, True), (2, False)], [(3, True)], [(2, False), (3, True)]),
    ],
    ids=["null", "empty", "boolean"],
)
def test_overwrite_partitions_replaces_null_and_boolean_partitions(
    lake, spark, jobs_of, ddl, old, new, want, path
):
    """The replaced partitions come from the partition values the
    snapshot records for the files just written, so a NULL, empty-string
    or boolean partition is replaced like any other; the call runs the
    data write and the stats job only — no partition collect before
    the write."""
    schema = f"id INT, p {ddl}"
    if path == "distributed":
        spark.conf.set(_KEY, "0")
    try:
        t = TxnTable(lake, f"op_{ddl}_{len(old[0])}", partition_cols=["p"])
        t.append(spark.createDataFrame(old, schema))
        _, jobs = jobs_of(
            lambda: t.overwrite_partitions(spark.createDataFrame(new, schema))
        )
    finally:
        spark.conf.unset(_KEY)
    assert sorted(tuple(r) for r in t.read().collect()) == want
    assert len(jobs) == 1


@pytest.mark.parametrize("path", ["driver", "distributed"])
def test_refused_vector_leaves_no_directory(lake, spark, path):
    """A deletion vector naming a file outside the snapshot is refused
    on both vector write paths, and the refusal deletes the vector
    directory it had written."""
    if path == "distributed":
        spark.conf.set(_KEY, "0")
    try:
        t = TxnTable(lake, f"dv_{path}", stats_cols=["id"])
        t.append(_rows(spark, [(1, "a", "x"), (2, "a", "x")]))
        # a range plan has a size estimate: the default cap takes the
        # driver write
        bogus = spark.range(1).select(
            F.lit("data/none.parquet").alias("file_key"),
            F.col("id").alias("row_idx"),
        )
        with pytest.raises(RuntimeError, match="unknown file"):
            t._write_dv_vector(bogus, t._state(t.current_version()))
    finally:
        spark.conf.unset(_KEY)
    dv = t.root / "dv"
    assert not dv.exists() or not any(dv.iterdir())
