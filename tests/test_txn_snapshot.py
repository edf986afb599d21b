"""One snapshot per TxnTable operation: each op lists the log once for
its base, its write, commit and rebase check read the table layout
from that snapshot, and only the commit's pre-CAS check lists again.
A conflict carries the version its check found, so a rebase lists no
further. Epoch replays are decided on the same snapshot, before any
Spark job or data write."""

import os

import pytest
from pyspark.sql import functions as F

from interop_datalake_spark.lake import publish as pub
from interop_datalake_spark.lake.txn import CommitConflictError, TxnTable
from interop_datalake_spark.session import DatalakeSession

SCHEMA = "k INT, site STRING, v STRING"
FHIR_SCHEMA = "resource_type STRING, resource_id STRING, resource_json STRING"
BIN_SCHEMA = "resource_id STRING, content_type STRING, resource_json STRING"


@pytest.fixture()
def lake(tmp_path, spark):
    return DatalakeSession(lake_root=str(tmp_path / "lake"), spark=spark)


@pytest.fixture()
def listings(monkeypatch):
    """The handles of every ``current_version`` call, in call order."""
    calls = []
    orig = TxnTable.current_version

    def counted(self):
        calls.append(self)
        return orig(self)

    monkeypatch.setattr(TxnTable, "current_version", counted)
    return calls


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _rows(t):
    return sorted(tuple(r) for r in t.read().collect())


def test_every_op_lists_the_log_at_most_twice(lake, spark, listings):
    """Without a conflict, every public op and every publish call
    lists the log at most twice: once for its base snapshot and once
    in the commit's pre-CAS check. The ops run on a handle opened
    without a layout, which discovers it from the log."""
    TxnTable(lake, "ops", partition_cols=["site"], stats_cols=["k"]).append(
        _df(spark, [(1, "a", "x"), (2, "b", "y"), (3, "a", "z")])
    )
    t = TxnTable(lake, "ops", stats_cols=["k"])
    upd = _df(spark, [(1, "a", "x2"), (9, "b", "n")])
    ops = {
        "append": lambda: t.append(_df(spark, [(4, "b", "w")])),
        "append_epoch": lambda: t.append_epoch(_df(spark, [(5, "a", "e")]), 5),
        "stamp_epoch": lambda: t.stamp_epoch(6),
        "merge": lambda: t.merge(upd, ["k"]),
        "merge_on_read": lambda: t.merge(upd, ["k"], merge_on_read=True),
        "delete_where_mor": lambda: t.delete_where(
            F.col("k") == 2, merge_on_read=True
        ),
        "consolidate_vectors": t.consolidate_vectors,
        "merge_epoch": lambda: t.merge_epoch(upd, 7, ["k"]),
        "merge_sync": lambda: t.merge_sync(
            _df(spark, [(1, "a", "s")]),
            ["k"],
            scope=F.col("site") == "a",
            scope_partition_filter={"site": "a"},
        ),
        "delete_where": lambda: t.delete_where(F.col("k") == 4),
        "delete_keys": lambda: t.delete_keys(_df(spark, [(9, "b", "")]), ["k"]),
        "overwrite_partitions": lambda: t.overwrite_partitions(
            _df(spark, [(20, "b", "o")])
        ),
        "compact": t.compact,
        "restore": lambda: t.restore(2),
        "overwrite": lambda: t.overwrite(_df(spark, [(30, "c", "r")])),
        "publish_fhir_r4": lambda: pub.publish_fhir_r4(
            lake, "t1", spark.createDataFrame([("Patient", "p1", "{}")], FHIR_SCHEMA)
        ),
        "publish_binary": lambda: pub.publish_binary(
            lake, "t1", spark.createDataFrame([("b1", "pdf", "{}")], BIN_SCHEMA)
        ),
        "publish_raw_data": lambda: pub.publish_raw_data(lake, "t1", "d", "u"),
        "overwrite_tenant_partition": lambda: pub.overwrite_tenant_partition(
            lake,
            pub.BINARY_TABLE,
            "t1",
            spark.createDataFrame([("b2", "pdf", "{}")], BIN_SCHEMA),
        ),
    }
    counts = {}
    for name, op in ops.items():
        listings.clear()
        assert op() is not None, name
        counts[name] = len(listings)
    assert t.manifest()["epoch"] == 7
    assert {n: c for n, c in counts.items() if c > 2} == {}, counts


def _racing(t, monkeypatch, racer):
    """Make ``racer(other)`` commit, through a second handle, right
    after ``t``'s next data write — between its snapshot and its CAS."""
    other = TxnTable(t.session, t.name)
    real = t._write_data

    def write_then_race(*a, **kw):
        got = real(*a, **kw)
        monkeypatch.setattr(t, "_write_data", real)
        racer(other)
        return got

    monkeypatch.setattr(t, "_write_data", write_then_race)


@pytest.mark.parametrize("racer", ["append", "delete"])
def test_append_rebases_over_a_racing_commit(lake, spark, listings, racer):
    """A commit racing inside ``append``'s pre-commit gate: the blind
    append rebases over a racing append and over a racing rewrite,
    listing the log three times (its base, the check that found the
    racer, the re-check at the new base)."""
    t = TxnTable(lake, "race", partition_cols=["site"], stats_cols=["k"])
    t.append(_df(spark, [(1, "a", "x"), (2, "b", "y")]))
    other = TxnTable(lake, "race")

    def gate():
        if racer == "append":
            other.append(_df(spark, [(3, "b", "z")]))
        else:
            other.delete_where(F.col("site") == "b")

    listings.clear()
    assert t.append(_df(spark, [(4, "a", "w")]), _props=gate) == 3
    assert len([h for h in listings if h is t]) <= 3
    assert [h["op"] for h in t.history()] == ["append", racer, "append"]
    want = {(1, "a", "x"), (4, "a", "w")}
    if racer == "append":
        want |= {(2, "b", "y"), (3, "b", "z")}
    assert set(_rows(t)) == want


@pytest.mark.parametrize("racer_site", ["b", "a"])
def test_rewrite_rebases_or_raises_over_a_racing_commit(
    lake, spark, listings, monkeypatch, racer_site
):
    """A copy-on-write delete of partition ``a`` with an append racing
    in after its data write: an append to another partition is
    rebased over (three listings), one to the same partition makes
    the delete raise (two listings) and leaves the racer's state."""
    t = TxnTable(lake, "rw", partition_cols=["site"], stats_cols=["k"])
    t.append(_df(spark, [(1, "a", "x"), (2, "b", "y")]))
    _racing(
        t, monkeypatch, lambda o: o.append(_df(spark, [(3, racer_site, "z")]))
    )
    listings.clear()
    if racer_site == "b":
        assert t.delete_where(F.col("k") == 1) == 3
        assert len([h for h in listings if h is t]) <= 3
        assert set(_rows(t)) == {(2, "b", "y"), (3, "b", "z")}
    else:
        with pytest.raises(CommitConflictError, match="found v2"):
            t.delete_where(F.col("k") == 1)
        assert len([h for h in listings if h is t]) <= 2
        assert t.current_version() == 2
        assert set(_rows(t)) == {(1, "a", "x"), (2, "b", "y"), (3, "a", "z")}
    assert [h["op"] for h in t.history()][:2] == ["append", "append"]


def test_replayed_epoch_merge_runs_no_job_and_writes_nothing(lake, spark, jobs_of):
    """A merge or merge_sync whose epoch the table already applied
    returns before any Spark job or data write: no job, no staged
    ``data/`` directory, no version."""
    t = TxnTable(lake, "ep", stats_cols=["k"])
    t.append(_df(spark, [(1, "a", "x"), (2, "b", "y")]))
    upd = _df(spark, [(1, "a", "x2")])
    assert t.merge_epoch(upd, 3, ["k"])
    version = t.current_version()
    staged = set(os.listdir(t.root / "data"))
    replays = {
        "merge": lambda: t.merge(upd, ["k"], _epoch=3),
        "merge_on_read": lambda: t.merge(upd, ["k"], _epoch=2, merge_on_read=True),
        "merge_sync": lambda: t.merge_sync(upd, ["k"], _epoch=3),
        "merge_epoch": lambda: t.merge_epoch(upd, 1, ["k"]),
    }
    for name, replay in replays.items():
        got, jobs = jobs_of(replay)
        assert got in (None, False), name
        assert jobs == [], name
        assert set(os.listdir(t.root / "data")) == staged, name
    assert t.current_version() == version
    assert set(_rows(t)) == {(1, "a", "x2"), (2, "b", "y")}


def test_merge_on_read_merge_records_its_epoch(lake, spark):
    """A merge-on-read merge commits its epoch like the copy-on-write
    merge does, so its replay is a no-op."""
    t = TxnTable(lake, "mor_ep", stats_cols=["k"])
    t.append(_df(spark, [(1, "a", "x"), (2, "b", "y")]))
    t.stamp_epoch(7)
    upd = _df(spark, [(1, "a", "x2")])
    v = t.merge(upd, ["k"], _epoch=9, merge_on_read=True)
    assert t.commit_record(v)["epoch"] == 9
    assert t.manifest()["epoch"] == 9
    assert t.merge(upd, ["k"], _epoch=9, merge_on_read=True) is None
    assert t.current_version() == v
    assert set(_rows(t)) == {(1, "a", "x2"), (2, "b", "y")}
