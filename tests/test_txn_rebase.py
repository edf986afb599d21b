"""Rebase-on-conflict (lake/txn.py:_commit_retry): logically
compatible concurrent commits both succeed without recomputing data
files; genuinely overlapping rewrites still raise.

The TOCTOU staleness is simulated deterministically: the writer under
test resolves its base snapshot via a monkeypatched current_version()
that reports the OLD version exactly once, after a concurrent commit
has already landed — the same window the threaded race hits
nondeterministically.
"""

import pytest
from pyspark.sql import functions as F

from interop_datalake_spark.lake.txn import CommitConflictError, TxnTable
from interop_datalake_spark.session import DatalakeSession


@pytest.fixture()
def session(spark, tmp_path):
    return DatalakeSession(lake_root=str(tmp_path / "lake"), spark=spark)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k INT, v STRING")


def _tdf(spark, rows):
    return spark.createDataFrame(rows, "k INT, v STRING, tenant STRING")


def _snapshot(table):
    cols = [c for c in ("k", "v", "tenant") if c in table.read().columns]
    return {tuple(r[c] for c in cols) for r in table.read().collect()}


def _stale_once(monkeypatch, table_cls, stale_version):
    """First current_version() call reports the stale base; later calls
    (the CAS check inside _commit) see reality."""
    orig = table_cls.current_version
    state = {"first": True}

    def fake(self):
        if state["first"]:
            state["first"] = False
            return stale_version
        return orig(self)

    monkeypatch.setattr(table_cls, "current_version", fake)


def test_concurrent_appends_both_succeed(session, spark, monkeypatch):
    """Two blind appends racing on the same version: the loser rebases
    onto the winner's snapshot and commits the SAME staged files as the
    next version — no lost update, no recompute, both row sets live."""
    t = TxnTable(session, "reb_append")
    t.append(_df(spark, [(1, "a")]))
    base = t.current_version()

    # writer B stages its files against `base`
    files_b, rows_b, stats_b, parts_b, ptypes_b = t._write_data(
        _df(spark, [(3, "B")]), t.manifest(base)
    )
    # writer A lands first
    t.append(_df(spark, [(2, "A")]))

    v = t._commit_retry(
        base,
        op="append",
        added=files_b,
        removed=[],
        new_rows=rows_b,
        removed_rows=0,
        stats=stats_b,
        partitions=parts_b,
        partition_types=ptypes_b,
        incoming_schema=_df(spark, [(3, "B")]).schema,
    )
    assert v == base + 2  # rebased past A's commit
    assert _snapshot(t) == {(1, "a"), (2, "A"), (3, "B")}
    assert t.manifest()["rows"] == 3
    ops = [h["op"] for h in t.history()]
    assert ops == ["append", "append", "append"]


def test_public_append_rebases_through_stale_base(session, spark, monkeypatch):
    """The public append() path end-to-end: base resolved stale, CAS
    loses, rebase re-CAS wins — caller never sees the conflict."""
    t = TxnTable(session, "reb_public")
    t.append(_df(spark, [(1, "a")]))
    base = t.current_version()
    t.append(_df(spark, [(2, "A")]))  # concurrent writer already landed

    _stale_once(monkeypatch, TxnTable, base)
    v = t.append(_df(spark, [(3, "B")]))
    assert v == base + 2
    assert _snapshot(t) == {(1, "a"), (2, "A"), (3, "B")}


def test_disjoint_partition_merges_both_succeed(session, spark, monkeypatch):
    """Two concurrent MERGEs touching different tenant partitions (the
    reference's one-batch-per-tenant publish layout): the stale writer
    rebases because the touched partition sets are disjoint AND the
    merge key includes the partition column (so its key-match read was
    confined to its own partition — the serializability condition)."""
    t = TxnTable(
        session, "reb_merge", stats_cols=["k"], partition_cols=["tenant"]
    )
    t.append(
        _tdf(spark, [(0, "a0", "A"), (1, "a1", "A"), (100, "b0", "B"), (101, "b1", "B")])
    )
    base = t.current_version()

    # tenant-B writer lands its merge first
    t.merge(_tdf(spark, [(100, "B-upd", "B")]), key_cols=["k", "tenant"])

    # tenant-A writer resolved its snapshot before that commit
    _stale_once(monkeypatch, TxnTable, base)
    v = t.merge(
        _tdf(spark, [(0, "A-upd", "A"), (2, "A-new", "A")]),
        key_cols=["k", "tenant"],
    )
    assert v == base + 2
    assert _snapshot(t) == {
        (0, "A-upd", "A"),
        (1, "a1", "A"),
        (2, "A-new", "A"),
        (100, "B-upd", "B"),
        (101, "b1", "B"),
    }
    assert t.manifest()["rows"] == 5


def test_overlapping_merges_still_conflict(session, spark, monkeypatch):
    """Concurrent merges into the SAME partition overlap logically —
    the stale writer must still get CommitConflictError (rebasing would
    silently drop the first merge's effect on the rewritten files)."""
    t = TxnTable(
        session, "reb_overlap", stats_cols=["k"], partition_cols=["tenant"]
    )
    t.append(_tdf(spark, [(0, "a0", "A"), (1, "a1", "A")]))
    base = t.current_version()

    t.merge(_tdf(spark, [(0, "first", "A")]), key_cols=["k", "tenant"])

    _stale_once(monkeypatch, TxnTable, base)
    with pytest.raises(CommitConflictError):
        t.merge(_tdf(spark, [(1, "second", "A")]), key_cols=["k", "tenant"])
    # the winner's merge is intact
    assert (0, "first", "A") in _snapshot(t)


def test_cross_partition_key_merge_never_rebases(session, spark, monkeypatch):
    """A merge whose key does NOT include the partition columns reads
    every partition (a matching key may live anywhere), so it must NOT
    rebase even when the touched partitions are disjoint: two such
    merges inserting the same key into different partitions would both
    commit and break key uniqueness — a state no serial order
    produces."""
    t = TxnTable(
        session, "reb_xpart", stats_cols=["k"], partition_cols=["tenant"]
    )
    t.append(_tdf(spark, [(0, "a0", "A"), (100, "b0", "B")]))
    base = t.current_version()

    # writer1 inserts k=5 into tenant B (key k only: cross-partition read)
    t.merge(_tdf(spark, [(5, "w1", "B")]), key_cols=["k"])

    # writer2, staged against the stale base, inserts k=5 into tenant A
    _stale_once(monkeypatch, TxnTable, base)
    with pytest.raises(CommitConflictError):
        t.merge(_tdf(spark, [(5, "w2", "A")]), key_cols=["k"])
    # exactly one k=5 row survives
    assert sum(1 for r in _snapshot(t) if r[0] == 5) == 1


def test_unpartitioned_rewrite_never_rebases(session, spark, monkeypatch):
    """Without partition metadata a rewrite cannot prove disjointness —
    conservative conflict, exactly the pre-rebase behavior."""
    t = TxnTable(session, "reb_unpart", stats_cols=["k"])
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    base = t.current_version()
    t.merge(_df(spark, [(1, "first")]), key_cols=["k"])

    _stale_once(monkeypatch, TxnTable, base)
    with pytest.raises(CommitConflictError):
        t.delete_where(F.col("k") == 2)


def test_append_never_rebases_over_overwrite(session, spark, monkeypatch):
    """An intervening full overwrite replaces the table (schema
    included): any concurrent intent is void, even a blind append."""
    t = TxnTable(session, "reb_ovw")
    t.append(_df(spark, [(1, "a")]))
    base = t.current_version()
    t.overwrite(_df(spark, [(9, "z")]))

    _stale_once(monkeypatch, TxnTable, base)
    with pytest.raises(CommitConflictError):
        t.append(_df(spark, [(2, "b")]))


def test_rebase_refuses_over_unscoped_intervening_merge(
    session, spark, monkeypatch
):
    """The cross-writer half of the serializability check: the
    partition_scoped flag rides each merge's COMMIT RECORD, so a
    rewrite staged against a stale base refuses to rebase over an
    intervening merge whose key did not cover the partition columns —
    even though the touched partitions are disjoint (that merge's
    key-match read spanned partitions, so no serial order is
    provable)."""
    t = TxnTable(
        session, "reb_flag", stats_cols=["k"], partition_cols=["tenant"]
    )
    t.append(_tdf(spark, [(0, "a0", "A"), (100, "b0", "B")]))
    base = t.current_version()

    # intervening merge with key k only → recorded partition_scoped=False
    t.merge(_tdf(spark, [(100, "B-upd", "B")]), key_cols=["k"])
    assert t.commit_record(base + 1).get("partition_scoped") is False

    _stale_once(monkeypatch, TxnTable, base)
    with pytest.raises(CommitConflictError):
        t.merge(_tdf(spark, [(0, "A-upd", "A")]), key_cols=["k", "tenant"])

    # whereas a SCOPED intervening merge records True and rebase works
    t2 = TxnTable(
        session, "reb_flag2", stats_cols=["k"], partition_cols=["tenant"]
    )
    t2.append(_tdf(spark, [(0, "a0", "A"), (100, "b0", "B")]))
    base2 = t2.current_version()
    t2.merge(_tdf(spark, [(100, "B-upd", "B")]), key_cols=["k", "tenant"])
    assert t2.commit_record(base2 + 1).get("partition_scoped") is True
    _stale_once(monkeypatch, TxnTable, base2)
    v = t2.merge(_tdf(spark, [(0, "A-upd", "A")]), key_cols=["k", "tenant"])
    assert v == base2 + 2


def test_threaded_concurrent_appends_all_succeed(session, spark):
    """Four real writer threads appending simultaneously through the
    public API: whatever the interleaving, every append must succeed
    (blind appends always rebase), versions must be distinct and
    consecutive, and no rows may be lost."""
    import threading

    t0 = TxnTable(session, "reb_threads")
    t0.append(_df(spark, [(0, "seed")]))
    errors, versions = [], []
    lock = threading.Lock()

    def writer(i):
        try:
            v = TxnTable(session, "reb_threads").append(
                _df(spark, [(i, f"w{i}")])
            )
            with lock:
                versions.append(v)
        except Exception as e:  # noqa: BLE001 — the assertion is "none"
            with lock:
                errors.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(1, 5)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    assert not errors, f"concurrent appends must all succeed: {errors}"
    assert sorted(versions) == [2, 3, 4, 5]
    assert _snapshot(t0) == {
        (0, "seed"), (1, "w1"), (2, "w2"), (3, "w3"), (4, "w4")
    }
    assert t0.manifest()["rows"] == 5


def test_epoch_append_rebases_and_replay_stays_noop(session, spark, monkeypatch):
    """Streaming epoch appends keep exactly-once through a rebase: the
    epoch commit rebases over a concurrent plain append, and replaying
    the same epoch afterwards is still a no-op."""
    t = TxnTable(session, "reb_epoch")
    assert t.append_epoch(_df(spark, [(1, "a")]), epoch_id=1) == 1
    base = t.current_version()
    t.append(_df(spark, [(50, "x")]))  # concurrent non-epoch writer

    _stale_once(monkeypatch, TxnTable, base)
    assert t.append_epoch(_df(spark, [(2, "b")]), epoch_id=2) == base + 2
    assert _snapshot(t) == {(1, "a"), (50, "x"), (2, "b")}
    # replay of epoch 2 after the rebase: no-op
    assert t.append_epoch(_df(spark, [(2, "b")]), epoch_id=2) is None
    assert t.manifest()["rows"] == 3
