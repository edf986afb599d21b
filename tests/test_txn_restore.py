"""RESTORE-to-version (lake/txn.py:TxnTable.restore): metadata-only
rollback that preserves history, refuses vacuumed targets, and blocks
rebase reordering across it."""

import pytest
from pyspark.sql import functions as F

from interop_datalake_spark.lake.txn import CommitConflictError, TxnTable
from interop_datalake_spark.session import DatalakeSession


@pytest.fixture()
def session(spark, tmp_path):
    return DatalakeSession(lake_root=str(tmp_path / "lake"), spark=spark)


@pytest.fixture()
def table(session):
    return TxnTable(session, "restore_demo")


def _df(spark, rows):
    return spark.createDataFrame(rows, "k INT, v STRING")


def _snap(table, version=None):
    return {(r["k"], r["v"]) for r in table.read(version=version).collect()}


def test_restore_rolls_back_and_preserves_history(table, spark):
    table.append(_df(spark, [(1, "a")]))
    table.append(_df(spark, [(2, "b")]))
    table.delete_where(F.col("k") == 1)  # v3
    assert _snap(table) == {(2, "b")}
    v = table.restore(2)
    assert v == 4  # restore is a NEW version, not history rewriting
    assert _snap(table) == {(1, "a"), (2, "b")}
    # time travel still sees the pre-restore state
    assert _snap(table, version=3) == {(2, "b")}
    assert table.manifest()["rows"] == 2
    assert table.commit_record(4)["op"] == "restore"


def test_restore_forward_again(table, spark):
    table.append(_df(spark, [(1, "a")]))
    table.overwrite(_df(spark, [(9, "z")]))  # v2
    table.restore(1)  # v3: back to {(1,a)}
    table.restore(2)  # v4: forward to the overwrite state again
    assert _snap(table) == {(9, "z")}


def test_restore_to_current_is_noop(table, spark):
    table.append(_df(spark, [(1, "a")]))
    assert table.restore(1) == 1
    assert table.current_version() == 1  # nothing committed


def test_restore_to_v0_empties_table(table, spark):
    table.append(_df(spark, [(1, "a")]))
    table.restore(0)
    m = table.manifest()
    assert m["files"] == [] and m["rows"] == 0
    # a COMMITTED empty state (schema recorded) reads as an empty
    # frame with the log schema — distinct from a never-written
    # table, which still raises (round 14; test_txn.py pins the
    # raise for the no-schema case)
    empty = table.read()
    assert empty.count() == 0
    assert empty.columns == ["k", "v"]
    assert table.current_version() == 2


def test_restore_rejects_future_version(table, spark):
    table.append(_df(spark, [(1, "a")]))
    with pytest.raises(ValueError):
        table.restore(5)


def test_restore_refuses_vacuumed_target(table, spark):
    table.append(_df(spark, [(1, "a")]))
    table.overwrite(_df(spark, [(2, "b")]))
    table.vacuum(keep_versions=1)  # v1's file is gone from disk
    with pytest.raises(FileNotFoundError):
        table.restore(1)


def test_restored_stats_support_pruning_reads(session, spark):
    """Files re-added by restore must carry their stats/partition
    metadata forward (state replay drops metadata at removal — restore
    re-supplies it)."""
    t = TxnTable(session, "restore_parts", partition_cols=["p"])
    t.append(spark.createDataFrame([(1, "x", "a"), (2, "y", "b")], "k INT, v STRING, p STRING"))
    t.overwrite(spark.createDataFrame([(3, "z", "c")], "k INT, v STRING, p STRING"))
    t.restore(1)
    m = t.manifest()
    assert m["partitions"], "restored files lost partition metadata"
    got = {r["k"] for r in t.read(partition_filter={"p": "a"}).collect()}
    assert got == {1}


def test_append_does_not_rebase_across_restore(table, spark):
    """A writer whose base moved because of a restore must raise, not
    silently reorder across a wholesale state replacement."""
    table.append(_df(spark, [(1, "a")]))
    table.append(_df(spark, [(2, "b")]))
    base = table.current_version()
    files, rows, stats, parts, ptypes = table._write_data(
        _df(spark, [(3, "c")]), table.manifest(base)
    )
    table.restore(1)  # intervening wholesale replacement
    with pytest.raises(CommitConflictError):
        table._commit_retry(
            base,
            op="append",
            added=files,
            removed=[],
            new_rows=rows,
            removed_rows=0,
            stats=stats,
            partitions=parts,
            partition_types=ptypes,
        )
