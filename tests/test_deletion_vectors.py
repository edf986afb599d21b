"""Deletion vectors — merge-on-read deletes (VERDICT round 5 item 5;
the Delta deletion-vector / Iceberg v2 position-delete design):
``delete_where(cond, merge_on_read=True)`` records per-file vectors of
deleted row positions in ONE commit that moves zero data bytes;
readers anti-join the vectors at scan time; ``compact()`` is the
reconciliation that rewrites files clean. The frequent-small-delete
path a 100 TB table needs — a copy-on-write delete of 100 rows can
rewrite gigabytes; a vector commit writes kilobytes.
"""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from interop_datalake_spark.lake.txn import TxnTable
from interop_datalake_spark.session import DatalakeSession


@pytest.fixture()
def lake(spark):
    root = tempfile.mkdtemp(prefix="txn_dv_")
    yield DatalakeSession(lake_root=root, spark=spark)
    shutil.rmtree(root, ignore_errors=True)


def _table(spark, lake, name, n=1000):
    t = TxnTable(lake, name, stats_cols=["k"])
    t.append(
        spark.range(0, n)
        .select(F.col("id").alias("k"), (F.col("id") % 7).alias("g"))
        .repartition(4)
    )
    return t


def _data_bytes(t):
    return {
        f: (t.root / f).stat().st_size for f in t.manifest()["files"]
    }


class TestDeletionVectors:
    def test_dv_delete_moves_zero_data_bytes(self, spark, lake):
        t = _table(spark, lake, "d1")
        before = _data_bytes(t)
        t.delete_where(F.col("k") % 10 == 3, merge_on_read=True)
        # the pinned byte-count contract: identical file set, every
        # data file byte-identical — the delete wrote only a vector
        assert _data_bytes(t) == before
        assert t.manifest()["rows"] == 900
        assert t.read().count() == 900
        assert t.read().filter(F.col("k") % 10 == 3).count() == 0
        # pre-delete snapshot intact (time travel)
        assert t.read(version=1).count() == 1000

    def test_vectors_stack_across_commits(self, spark, lake):
        t = _table(spark, lake, "d2")
        t.delete_where(F.col("k") % 10 == 3, merge_on_read=True)
        t.delete_where(F.col("k") < 50, merge_on_read=True)
        # 100 (k%10==3) + 45 (k<50 minus the 5 already gone)
        assert t.read().count() == 855
        assert t.manifest()["rows"] == 855
        got = {r["k"] for r in t.read().collect()}
        want = {
            k for k in range(1000) if k % 10 != 3 and k >= 50
        }
        assert got == want

    def test_no_match_is_clean_noop_commit(self, spark, lake):
        t = _table(spark, lake, "d3")
        v = t.delete_where(F.col("k") > 10**9, merge_on_read=True)
        assert v == 2
        assert t.manifest()["dvs"] == {}
        assert t.read().count() == 1000
        # the empty vector dir was cleaned up, not leaked
        assert not any((t.root / "dv").glob("*")) or not (
            t.root / "dv"
        ).exists()

    def test_copy_on_write_ops_do_not_resurrect(self, spark, lake):
        t = _table(spark, lake, "d4")
        t.delete_where(F.col("k") % 10 == 3, merge_on_read=True)
        # a rewriting delete over the SAME files must apply vectors
        # when rewriting (else soft-deleted rows come back to life)
        t.delete_where(F.col("k") >= 900)
        assert t.read().count() == 810  # 900 live - (100 - 10 soft-gone)
        assert t.read().filter(F.col("k") % 10 == 3).count() == 0
        # rewritten files carry no vectors
        m = t.manifest()
        assert all(f not in m["dvs"] for f in m["files"])

    def test_compact_reconciles_and_drops_vectors(self, spark, lake):
        t = _table(spark, lake, "d5")
        t.delete_where(F.col("k") % 10 == 3, merge_on_read=True)
        t.compact(target_files=2)
        m = t.manifest()
        assert m["dvs"] == {} and m["dv_deleted"] == {}
        assert len(m["files"]) == 2
        assert t.read().count() == 900 == m["rows"]

    def test_restore_replays_vector_state_both_directions(
        self, spark, lake
    ):
        t = _table(spark, lake, "d6")
        t.delete_where(F.col("k") % 10 == 3, merge_on_read=True)  # v2
        t.delete_where(F.col("k") < 50, merge_on_read=True)       # v3
        t.restore(2)
        assert t.read().count() == 900
        t.restore(1)
        assert t.read().count() == 1000
        t.restore(3)
        assert t.read().count() == 855

    def test_clone_carries_vectors(self, spark, lake):
        t = _table(spark, lake, "d7")
        t.delete_where(F.col("k") % 10 == 3, merge_on_read=True)
        c = t.clone_to("d7_branch")
        assert c.read().count() == 900
        assert c.read().filter(F.col("k") % 10 == 3).count() == 0
        # branches diverge independently: more deletes on the clone
        # leave the source untouched
        c.delete_where(F.col("k") < 100, merge_on_read=True)
        assert c.read().count() == 810
        assert t.read().count() == 900

    def test_change_feed_skips_vector_commits(self, spark, lake):
        t = _table(spark, lake, "d8")
        v = t.delete_where(F.col("k") % 10 == 3, merge_on_read=True)
        # the append-only feed documents: deletes are not emitted —
        # a vector commit adds no data files, so the window is empty
        assert t.read_changes(v - 1, v).count() == 0

    def test_vacuum_reclaims_obsolete_vectors_only(self, spark, lake):
        t = _table(spark, lake, "d9", n=200)
        t.delete_where(F.col("k") % 10 == 3, merge_on_read=True)  # v2
        live_dvs = {
            Path(p).parts[1]
            for paths in t.manifest()["dvs"].values()
            for p in paths
        }
        t.compact(target_files=1)  # v3: vectors obsolete
        t.append(
            spark.createDataFrame([(10**6, 0)], "k BIGINT, g BIGINT")
        )  # v4
        t.vacuum(keep_versions=2)  # retains v3..v4 — no vector live
        dv_dir = t.root / "dv"
        remaining = (
            {p.name for p in dv_dir.iterdir()} if dv_dir.exists() else set()
        )
        assert remaining & live_dvs == set()
        assert t.read().count() == 181

    def test_lineage_correct_when_root_contains_data_segment(
        self, spark
    ):
        """Review finding: extracting the FIRST 'data/' from the scan
        URI breaks for any lake root with '/data/' in its own path —
        lineage keys then never match the manifest and a copy-on-write
        delete silently no-ops. The extraction is anchored on the
        table root instead."""
        base = tempfile.mkdtemp(prefix="txn_dvroot_")
        root = str(Path(base) / "data" / "lakehouse")
        try:
            lake = DatalakeSession(lake_root=root, spark=spark)
            t = _table(spark, lake, "dd1", n=200)
            t.delete_where(F.col("k") % 10 == 3)  # copy-on-write
            assert t.read().count() == 180
            t.delete_where(F.col("k") < 20, merge_on_read=True)
            assert t.read().count() == 162  # 180 - (20 - 2 gone)
        finally:
            shutil.rmtree(base, ignore_errors=True)

    def test_lineage_correct_with_plus_and_percent_partitions(
        self, spark, lake
    ):
        """Review finding: Spark's url_decode is FORM-decoding ('+' →
        space); a literal '+' in a partition value must survive the
        lineage round trip, as must an escaped '%' (no double
        decode)."""
        t = TxnTable(lake, "dd2", partition_cols=["site"])
        t.append(
            spark.createDataFrame(
                [(1, "a+b"), (2, "50%"), (3, "plain")],
                "k INT, site STRING",
            )
        )
        t.delete_where(F.col("site") == "a+b")  # cow: needs lineage
        assert {r["site"] for r in t.read().collect()} == {"50%", "plain"}
        t.delete_where(F.col("site") == "50%", merge_on_read=True)
        assert {r["site"] for r in t.read().collect()} == {"plain"}

    def test_merge_on_read_equals_copy_on_write_merge(self, spark, lake):
        """DV MERGE (Delta's DV-enabled upsert): matched rows soft-
        delete by vector, updates land as new files — end state must
        equal the copy-on-write merge on identical inputs."""
        updates = spark.createDataFrame(
            [(3, 700), (998, 700), (5000, 700)], "k BIGINT, g BIGINT"
        )
        cow = _table(spark, lake, "m_cow")
        cow.merge(updates, ["k"])
        mor = _table(spark, lake, "m_mor")
        before = _data_bytes(mor)
        mor.merge(updates, ["k"], merge_on_read=True)
        want = sorted(
            (r["k"], r["g"]) for r in cow.read().collect()
        )
        got = sorted((r["k"], r["g"]) for r in mor.read().collect())
        assert got == want
        assert mor.manifest()["rows"] == cow.manifest()["rows"] == 1001
        # every PRE-EXISTING file is byte-identical — only new files
        after = _data_bytes(mor)
        assert all(after[f] == sz for f, sz in before.items())
        assert set(after) > set(before)  # the updates' new files

    def test_merge_on_read_stacks_with_dv_deletes_and_compacts(
        self, spark, lake
    ):
        t = _table(spark, lake, "m_stack")
        t.delete_where(F.col("k") % 10 == 3, merge_on_read=True)
        t.merge(
            spark.createDataFrame([(3, 700), (4, 700)], "k BIGINT, g BIGINT"),
            ["k"],
            merge_on_read=True,
        )
        # k=3 was soft-deleted then re-inserted by the merge; k=4
        # was soft-deleted BY the merge and replaced
        assert t.read().count() == 901  # 900 - old k=4 + two upserts
        got = {r["k"]: r["g"] for r in t.read().collect() if r["k"] < 6}
        assert got == {0: 0, 1: 1, 2: 2, 3: 700, 4: 700, 5: 5}
        t.compact(target_files=2)
        assert t.manifest()["dvs"] == {}
        assert t.read().count() == 901

    def test_change_feed_emits_vector_deletes_when_asked(
        self, spark, lake
    ):
        """CDF parity (Delta change feed on DV tables): with
        include_deletes=True, each vector commit emits its
        soft-deleted rows tagged _change_type='delete' — exact,
        because the vector names the positions; no snapshot diff."""
        t = _table(spark, lake, "cdf1", n=100)
        t.delete_where(F.col("k") < 10, merge_on_read=True)   # v2
        t.delete_where(F.col("k") % 10 == 5, merge_on_read=True)  # v3
        feed = t.read_changes(1, include_deletes=True)
        rows = [
            (r["_commit_version"], r["_change_type"], r["k"])
            for r in feed.collect()
        ]
        v2 = sorted(k for v, c, k in rows if v == 2 and c == "delete")
        v3 = sorted(k for v, c, k in rows if v == 3 and c == "delete")
        assert v2 == list(range(10))
        # 5 was already gone at v2 — only the NEW batch emits at v3
        assert v3 == [15, 25, 35, 45, 55, 65, 75, 85, 95]
        assert not [r for r in rows if r[1] == "insert"]
        # default call shape is unchanged (no _change_type column)
        assert "_change_type" not in t.read_changes(1).columns

    def test_change_feed_tags_dv_merge_inserts_and_deletes(
        self, spark, lake
    ):
        t = _table(spark, lake, "cdf2", n=100)
        t.merge(
            spark.createDataFrame(
                [(5, 700), (200, 700)], "k BIGINT, g BIGINT"
            ),
            ["k"],
            merge_on_read=True,
        )  # v2: soft-deletes old k=5, inserts both rows
        feed = t.read_changes(1, include_deletes=True)
        got = sorted(
            (r["_change_type"], r["k"], r["g"]) for r in feed.collect()
        )
        assert got == [
            ("delete", 5, 5),
            ("insert", 5, 700),
            ("insert", 200, 700),
        ]

    def test_dv_delete_retries_over_concurrent_append(
        self, spark, lake, monkeypatch
    ):
        """A vector CAS loser re-RUNS against the fresh snapshot (the
        correct serial order) instead of surfacing the conflict: a
        concurrent append's rows that match the predicate are deleted
        too — exactly what append-then-delete serialization means."""
        t = _table(spark, lake, "retry1")
        orig = t._write_dv_vector
        fired = {"done": False}

        def hook(matches, prev):
            if not fired["done"]:
                fired["done"] = True
                # another writer lands an append mid-flight → our CAS
                # loses and delete_where must re-run
                TxnTable(lake, "retry1", stats_cols=["k"]).append(
                    spark.createDataFrame(
                        [(1003, 0), (2000, 0)], "k BIGINT, g BIGINT"
                    )
                )
            return orig(matches, prev)

        monkeypatch.setattr(t, "_write_dv_vector", hook)
        t.delete_where(F.col("k") % 10 == 3, merge_on_read=True)
        # 1000 + 2 appended - 100 original matches - appended 1003
        assert t.read().count() == 901
        assert t.read().filter(F.col("k") % 10 == 3).count() == 0

    def test_two_threaded_dv_writers_both_land(self, spark, lake):
        """TRUE two-thread race (not simulated): two handles issue
        vector deletes with disjoint predicates concurrently; the CAS
        loser re-runs against the winner's snapshot and BOTH deletes
        land — no lost update, no double count."""
        import threading

        t = _table(spark, lake, "race2", n=400)
        errs = []

        def run(lo, hi):
            try:
                TxnTable(lake, "race2", stats_cols=["k"]).delete_where(
                    (F.col("k") >= lo) & (F.col("k") < hi),
                    merge_on_read=True,
                )
            except Exception as e:  # noqa: BLE001 - surface in assert
                errs.append(e)

        a = threading.Thread(target=run, args=(0, 50))
        b = threading.Thread(target=run, args=(350, 400))
        a.start(); b.start(); a.join(); b.join()
        assert not errs
        assert t.read().count() == 300
        assert t.manifest()["rows"] == 300
        assert t.current_version() == 3  # two vector commits landed

    def test_rebase_refused_over_concurrent_dv_delete(self, spark, lake):
        """Round-6 review repro: a copy-on-write rewrite staged
        against version N must NOT rebase over a concurrent vector
        delete on the files it removes — its rewritten data predates
        the vector, so a re-CAS would resurrect the soft-deleted rows
        (and the replay drops the vector with the removed file,
        hiding it). The conflict must raise; the correct serial order
        is a re-run."""
        from interop_datalake_spark.lake.txn import CommitConflictError

        t = TxnTable(lake, "race", partition_cols=["site"], stats_cols=["k"])
        t.append(
            spark.range(0, 100).select(
                F.col("id").alias("k"),
                F.when(F.col("id") < 50, "a").otherwise("b").alias("site"),
            )
        )  # v1
        # writer A stages a cow delete over partition a's files
        cond = (F.col("site") == "a") & (F.col("k") % 2 == 0)
        prev = t._state(1)
        touched = t.resolve_files(version=1, partition_filter={"site": "a"})
        remaining = t._load_files(touched, prev).filter(
            ~F.coalesce(cond, F.lit(False))
        )
        staged = t._write_data(remaining, prev)
        # writer B lands a merge-on-read delete on the same files first
        b = TxnTable(lake, "race", partition_cols=["site"], stats_cols=["k"])
        b.delete_where(
            (F.col("site") == "a") & (F.col("k") < 10), merge_on_read=True
        )  # v2: vector on partition a's files
        assert b.read().count() == 90
        with pytest.raises(CommitConflictError):
            t._commit_retry(
                1,
                op="delete",
                added=staged[0],
                removed=touched,
                new_rows=staged[1],
                removed_rows=50,
                stats=staged[2],
                partitions=staged[3],
                partition_types=staged[4],
            )
        # B's soft deletes intact; the re-run composes correctly
        assert t.read().count() == 90
        t.delete_where(cond)
        assert t.read().count() == 70  # 90 - (25 evens - 5 already gone)

    def test_stats_pruning_composes_with_vectors(self, spark, lake):
        t = TxnTable(lake, "d10", stats_cols=["k"])
        for lo in (0, 250, 500, 750):  # 4 files with disjoint k ranges
            t.append(
                spark.range(lo, lo + 250)
                .select(F.col("id").alias("k"))
                .coalesce(1)
            )
        t.delete_where(F.col("k") % 2 == 0, merge_on_read=True)
        # file-level skipping still keyed off write-time stats
        assert len(t.resolve_files(key_range=("k", 0, 100))) == 1
        got = t.read(key_range=("k", 0, 100)).count()
        assert got == 50  # odds only


class TestVectorReadPlan:
    def test_vector_parquets_scanned_once_per_read_plan(
        self, spark, lake
    ):
        """Round-8 verdict item 4 (drift profile): one read() = one
        scan of each relevant vector parquet — the vector side appears
        exactly once in the physical plan, with no broadcast-exchange
        job forced ahead of it (join strategy is AQE's, decided from
        the REAL build-side size; the explicit hint measured slower
        at every tested scale)."""
        t = _table(spark, lake, "dvplan")
        t.delete_where(F.col("k") < 100, merge_on_read=True)
        t.delete_where(F.col("g") == 3, merge_on_read=True)
        dv_paths = sorted(
            {p for ps in t.manifest()["dvs"].values() for p in ps}
        )
        assert len(dv_paths) == 2  # two stacked vector commits
        plan = t.read()._jdf.queryExecution().executedPlan().toString()
        # BOTH vector parquets enter through exactly ONE scan node
        # (their union is one multi-path scan, anti-joined once) —
        # the vector read schema appears once in the whole plan
        assert plan.count("struct<file_key:string,row_idx:bigint>") == 1
        # no broadcast-EXCHANGE job is forced ahead of the scan: the
        # strategy marker present is a join node, not an inserted
        # BroadcastExchange stage from an explicit hint
        assert "ResolvedHint" not in plan
        # and the read is still exact
        assert t.read().count() == 1000 - 100 - len(
            [k for k in range(100, 1000) if k % 7 == 3]
        )
