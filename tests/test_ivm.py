"""Incremental view maintenance (lake/ivm.py): a grouped count+sum
rollup maintained from TxnTable change deltas — exact because the
delete-emitting change feed signs every row (+insert/−delete). The
invariant under test everywhere: after any refresh, the view equals a
from-scratch recompute of the source snapshot.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from interop_datalake_spark.lake.ivm import IncrementalAggView
from interop_datalake_spark.lake.txn import TxnTable
from interop_datalake_spark.session import DatalakeSession


@pytest.fixture()
def lake(spark):
    root = tempfile.mkdtemp(prefix="txn_ivm_")
    yield DatalakeSession(lake_root=root, spark=spark)
    shutil.rmtree(root, ignore_errors=True)


def _batch(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") * 10).alias("v"),
    )


def _recompute(src):
    return {
        r["g"]: (r["n"], r["s"])
        for r in src.read()
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }


def _view_state(view):
    return {
        r["g"]: (r["n"], r["sum_v"]) for r in view.read().collect()
    }


class TestIncrementalAggView:
    def test_incremental_equals_recompute_through_appends_and_deletes(
        self, spark, lake
    ):
        src = TxnTable(lake, "src", stats_cols=["k"])
        src.append(_batch(spark, 0, 300))
        view = IncrementalAggView(lake, "v", src, ["g"], ["v"])
        view.refresh()
        assert _view_state(view.view) == _recompute(src)
        src.append(_batch(spark, 300, 450))
        view.refresh()
        assert _view_state(view.view) == _recompute(src)
        src.delete_where(F.col("k") % 2 == 0, merge_on_read=True)
        view.refresh()
        assert _view_state(view.view) == _recompute(src)

    def test_group_vanishes_when_count_hits_zero(self, spark, lake):
        src = TxnTable(lake, "src2", stats_cols=["k"])
        src.append(_batch(spark, 0, 30))
        view = IncrementalAggView(lake, "v2", src, ["g"], ["v"])
        view.refresh()
        assert set(_view_state(view.view)) == {"0", "1", "2"}
        src.delete_where(F.col("k") % 3 == 1, merge_on_read=True)
        view.refresh()
        got = _view_state(view.view)
        assert "1" not in got  # zero'd group removed, as recompute has it
        assert got == _recompute(src)

    def test_refresh_is_idempotent_and_exactly_once(self, spark, lake):
        src = TxnTable(lake, "src3", stats_cols=["k"])
        src.append(_batch(spark, 0, 60))
        view = IncrementalAggView(lake, "v3", src, ["g"], ["v"])
        assert view.refresh() is not None
        assert view.refresh() is None  # already current: no commit
        before = view.view.current_version()
        assert view.refresh() is None
        assert view.view.current_version() == before
        assert view.last_refreshed_version() == src.current_version()

    def test_dv_merge_in_window_applies_both_sides(self, spark, lake):
        src = TxnTable(lake, "src4", stats_cols=["k"])
        src.append(_batch(spark, 0, 90))
        view = IncrementalAggView(lake, "v4", src, ["g"], ["v"])
        view.refresh()
        # upsert: replace k=0 (g='0', v=0 → v=999), insert k=1000
        src.merge(
            spark.createDataFrame(
                [(0, "0", 999), (1000, "2", 5)], "k BIGINT, g STRING, v BIGINT"
            ),
            ["k"],
            merge_on_read=True,
        )
        view.refresh()
        assert _view_state(view.view) == _recompute(src)

    def test_rewriting_commit_detected_and_full_refresh_recovers(
        self, spark, lake
    ):
        src = TxnTable(lake, "src5", stats_cols=["k"])
        src.append(_batch(spark, 0, 60))
        view = IncrementalAggView(lake, "v5", src, ["g"], ["v"])
        view.refresh()
        src.delete_where(F.col("k") < 10)  # copy-on-write REWRITE
        with pytest.raises(ValueError, match="full_refresh"):
            view.refresh()
        view.full_refresh()
        assert _view_state(view.view) == _recompute(src)
        # incremental maintenance resumes cleanly after the resync
        src.append(_batch(spark, 100, 130))
        view.refresh()
        assert _view_state(view.view) == _recompute(src)

    def test_refresh_is_one_atomic_commit_even_with_dead_groups(
        self, spark, lake
    ):
        """Round-6 review: update + zero'd-group delete must land in
        the SAME commit (merge_sync's in-scope-unmatched-deletes), so
        no reader or crash can observe half a refresh."""
        src = TxnTable(lake, "src7", stats_cols=["k"])
        src.append(_batch(spark, 0, 30))
        view = IncrementalAggView(lake, "v7", src, ["g"], ["v"])
        view.refresh()
        v_before = view.view.current_version()
        src.delete_where(F.col("k") % 3 == 1, merge_on_read=True)
        src.append(_batch(spark, 60, 63))
        view.refresh()
        # exactly ONE view commit covered group shrink + group death
        # + group growth together
        assert view.view.current_version() == v_before + 1
        assert _view_state(view.view) == _recompute(src)

    def test_null_group_keys_are_refused_loudly(self, spark, lake):
        src = TxnTable(lake, "src8")
        src.append(
            spark.createDataFrame(
                [(1, None, 10), (2, "a", 20)], "k INT, g STRING, v INT"
            )
        )
        view = IncrementalAggView(lake, "v8", src, ["g"], ["v"])
        with pytest.raises(ValueError, match="NULL group-key"):
            view.refresh()

    def test_streaming_trigger_drives_continuous_refresh(
        self, spark, lake
    ):
        """Composition with the change-feed STREAM: readStream tails
        the source and each micro-batch triggers view.refresh() in
        foreachBatch — the continuous-rollup deployment shape.
        refresh() reads its own exact delta (including vector
        deletes) from the batch feed, so the stream is purely the
        trigger; idempotent epochs make replayed batches no-ops."""
        from interop_datalake_spark.streaming.txn_source import (
            read_txn_stream,
        )

        src = TxnTable(lake, "src_s", stats_cols=["k"])
        src.append(_batch(spark, 0, 60))                           # v1
        src.append(_batch(spark, 60, 90))                          # v2
        src.delete_where(F.col("k") % 3 == 2, merge_on_read=True)  # v3
        view = IncrementalAggView(lake, "v_s", src, ["g"], ["v"])
        stream = read_txn_stream(lake, "src_s", max_versions_per_trigger=1)
        q = (
            stream.writeStream.foreachBatch(
                lambda batch_df, epoch_id: view.refresh()
            )
            .trigger(availableNow=True)
            .option(
                "checkpointLocation",
                str(src.root.parent / "_ckpt_ivm_stream"),
            )
            .start()
        )
        q.awaitTermination(120)
        assert _view_state(view.view) == _recompute(src)
        assert view.last_refreshed_version() == src.current_version()

    def test_null_sum_retraction_matches_recompute(self, spark, lake):
        """Round-8 review: deleting the last NON-NULL contributor of a
        group must leave the stored sum NULL (the recompute answer
        over the remaining all-NULL rows), not 0 — additive sum state
        alone cannot tell the two apart; the signed non-NULL counter
        nn_<c> is the tiebreaker."""
        src = TxnTable(lake, "src_nn", stats_cols=["k"])
        src.append(
            spark.createDataFrame(
                [(1, "a", None), (2, "a", 5)], "k INT, g STRING, v INT"
            )
        )
        view = IncrementalAggView(lake, "v_nn", src, ["g"], ["v"])
        view.refresh()
        assert _view_state(view.view) == {"a": (2, 5)}
        src.delete_where(F.col("k") == 2, merge_on_read=True)
        view.refresh()
        assert _view_state(view.view) == {"a": (1, None)}
        assert _view_state(view.view) == _recompute(src)
        # and back: a non-NULL insert re-materializes the sum
        src.append(
            spark.createDataFrame([(3, "a", 7)], "k INT, g STRING, v INT")
        )
        view.refresh()
        assert _view_state(view.view) == {"a": (2, 7)}

    def test_all_null_sum_group_stays_null_not_zero(self, spark, lake):
        """Round-6 review: SUM of an all-NULL group is NULL in SQL; an
        incremental combine that coalesces both sides to 0 would
        silently store 0 where a recompute stores NULL."""
        src = TxnTable(lake, "src11", stats_cols=["k"])
        src.append(
            spark.createDataFrame(
                [(1, "a", 10)], "k INT, g STRING, v INT"
            )
        )
        view = IncrementalAggView(lake, "v11", src, ["g"], ["v"])
        view.refresh()
        # new group whose v is NULL in every row, via an incremental
        # window (the materialized-view path, not first-write)
        src.append(
            spark.createDataFrame(
                [(2, "nulls", None), (3, "nulls", None)],
                "k INT, g STRING, v INT",
            )
        )
        view.refresh()
        got = {r["g"]: (r["n"], r["sum_v"]) for r in view.read().collect()}
        assert got == {"a": (1, 10), "nulls": (2, None)}
        assert _view_state(view.view) == _recompute(src)

    def test_min_max_maintained_under_appends(self, spark, lake):
        """min/max are insert-decomposable: least/greatest against
        each batch's extremes. Timestamp max per group = the
        freshness rollup."""
        src = TxnTable(lake, "src9", stats_cols=["k"])
        src.append(
            spark.createDataFrame(
                [(1, "a", "2024-01-01 10:00:00"), (2, "b", "2024-01-02 09:00:00")],
                "k INT, g STRING, ts_s STRING",
            ).select("k", "g", F.col("ts_s").cast("timestamp").alias("ts"))
        )
        view = IncrementalAggView(
            lake, "v9", src, ["g"], min_cols=["k"], max_cols=["k", "ts"]
        )
        view.refresh()
        src.append(
            spark.createDataFrame(
                [(0, "a", "2024-01-05 00:00:00"), (9, "b", "2023-12-31 00:00:00")],
                "k INT, g STRING, ts_s STRING",
            ).select("k", "g", F.col("ts_s").cast("timestamp").alias("ts"))
        )
        view.refresh()
        got = {
            r["g"]: (r["min_k"], r["max_k"], str(r["max_ts"]))
            for r in view.read().collect()
        }
        assert got == {
            "a": (0, 1, "2024-01-05 00:00:00"),
            "b": (2, 9, "2024-01-02 09:00:00"),
        }

    def test_min_max_partial_repair_on_delete_window(self, spark, lake):
        """Round-7 contract change, pinned (round-7 verdict item 1): a
        delete window no longer refuses — the delete-touched groups'
        min/max are REPAIRED from a pruned live scan, the result must
        equal a recompute, and append-only maintenance resumes with no
        repair at all."""
        src = TxnTable(lake, "src10", stats_cols=["k"])
        src.append(_batch(spark, 0, 30))
        view = IncrementalAggView(
            lake, "v10", src, ["g"], ["v"], max_cols=["k"]
        )
        view.refresh()
        assert view.last_repair_scan_files is None  # first write: no repair
        # the deleted rows DO hold every group's max (k=27,28,29)
        src.delete_where(F.col("k") >= 27, merge_on_read=True)
        view.refresh()  # repairs, does not raise
        got = {
            r["g"]: (r["max_k"], r["n"], r["sum_v"])
            for r in view.read().collect()
        }
        assert got == {
            "0": (24, 9, 1080), "1": (25, 9, 1170), "2": (26, 9, 1260),
        }
        assert _view_state(view.view) == _recompute(src)
        # observability: the repair scanned a recorded, bounded file
        # set — a strict subset of nothing larger than the source
        assert view.last_repair_scan_files is not None
        all_files = set(src.manifest()["files"])
        assert set(view.last_repair_scan_files) <= all_files
        # append-only window afterwards: purely incremental, no repair
        src.append(_batch(spark, 100, 103))
        view.refresh()
        assert view.last_repair_scan_files is None
        got = {r["g"]: r["max_k"] for r in view.read().collect()}
        assert got == {"0": 102, "1": 100, "2": 101}

    def test_min_max_repair_eliminates_fully_deleted_group(
        self, spark, lake
    ):
        src = TxnTable(lake, "src12", stats_cols=["k"])
        src.append(
            spark.createDataFrame(
                [(1, "a", 5), (2, "b", 7), (3, "b", 9)],
                "k INT, g STRING, v INT",
            )
        )
        view = IncrementalAggView(
            lake, "v12", src, ["g"], ["v"], min_cols=["k"], max_cols=["k"]
        )
        view.refresh()
        src.delete_where(F.col("g") == "b", merge_on_read=True)
        view.refresh()
        got = {
            r["g"]: (r["n"], r["sum_v"], r["min_k"], r["max_k"])
            for r in view.read().collect()
        }
        # group b vanished exactly as a recompute drops it; group a
        # untouched (not in the repair set)
        assert got == {"a": (1, 5, 1, 1)}

    def test_min_max_repair_mixed_insert_delete_window(self, spark, lake):
        """One refresh window containing BOTH an append and a vector
        delete of the stored extreme: the count/sum algebra stays
        incremental, min/max of the touched groups repair, and the
        result equals a recompute."""
        src = TxnTable(lake, "src13", stats_cols=["k"])
        src.append(
            spark.createDataFrame(
                [(1, "a", 10), (5, "a", 50)], "k INT, g STRING, v INT"
            )
        )
        view = IncrementalAggView(
            lake, "v13", src, ["g"], ["v"], max_cols=["k"]
        )
        view.refresh()
        src.delete_where(F.col("k") == 5, merge_on_read=True)  # the max
        src.append(
            spark.createDataFrame(
                [(3, "a", 30), (2, "b", 20)], "k INT, g STRING, v INT"
            )
        )
        view.refresh()
        got = {
            r["g"]: (r["n"], r["sum_v"], r["max_k"])
            for r in view.read().collect()
        }
        assert got == {"a": (2, 40, 3), "b": (1, 20, 2)}
        assert _view_state(view.view) == _recompute(src)

    def test_min_max_repair_scan_prunes_far_apart_groups(
        self, spark, lake
    ):
        """Round-7 verdict item 2: the repair scan prunes PER GROUP.
        Deleting from the lowest and highest key-space groups must not
        drag the middle group's files into the scan — the old single
        (min, max) envelope did exactly that."""
        src = TxnTable(lake, "src14", stats_cols=["g"])
        for g, base in (("aaa", 0), ("mmm", 100), ("zzz", 200)):
            src.append(
                spark.createDataFrame(
                    [(base + i, g, (base + i) * 10) for i in range(4)],
                    "k INT, g STRING, v INT",
                ).coalesce(1)
            )
        view = IncrementalAggView(
            lake, "v14", src, ["g"], ["v"], max_cols=["k"]
        )
        view.refresh()
        # delete each end group's max-holder; 'mmm' untouched
        src.delete_where(F.col("k").isin(3, 203), merge_on_read=True)
        view.refresh()
        assert _view_state(view.view) == _recompute(src)
        got = {r["g"]: r["max_k"] for r in view.read().collect()}
        assert got == {"aaa": 2, "mmm": 103, "zzz": 202}
        scanned = set(view.last_repair_scan_files)
        m = src.manifest()
        mmm_files = {
            f
            for f in m["files"]
            if m["stats"].get(f, {}).get("g", [None])[0] == "mmm"
        }
        assert mmm_files, "expected per-group clustered files with g stats"
        assert not (scanned & mmm_files), (
            "repair scan must prune the untouched middle group "
            f"(scanned {scanned & mmm_files})"
        )
        assert len(scanned) < len(m["files"])

    def test_sum_cols_must_be_integral_refused_loudly(self, spark, lake):
        """Round-7 pin: a DOUBLE sum column would truncate per-delta
        (bigint delta casts) and silently diverge from a recompute —
        refused at construction while the log schema is available."""
        src = TxnTable(lake, "src15", stats_cols=["k"])
        src.append(
            spark.createDataFrame(
                [(1, "a", 1.5)], "k INT, g STRING, v DOUBLE"
            )
        )
        with pytest.raises(TypeError, match="integral"):
            IncrementalAggView(lake, "v15", src, ["g"], ["v"])

    def test_sum_type_guard_without_log_schema(self, spark, lake):
        """Round-7 advice (low): a view built over an EMPTY source has
        no log schema to check at construction — the first refresh
        after a DOUBLE column lands must refuse instead of silently
        truncating DOUBLE deltas."""
        src = TxnTable(lake, "src16", stats_cols=["k"])
        view = IncrementalAggView(lake, "v16", src, ["g"], ["v"])
        src.append(
            spark.createDataFrame(
                [(1, "a", 1.5)], "k INT, g STRING, v DOUBLE"
            )
        )
        with pytest.raises(TypeError, match="integral"):
            view.refresh()

    def test_full_refresh_force_recomputes_at_same_version(
        self, spark, lake
    ):
        """Round-7 advice (medium): the overwrite epoch no-op means a
        plain full_refresh() at an already-stamped source version
        silently skips — force=True is the documented divergence-
        recovery path and must recompute without regressing the
        watermark."""
        src = TxnTable(lake, "src17", stats_cols=["k"])
        src.append(_batch(spark, 0, 30))
        view = IncrementalAggView(lake, "v17", src, ["g"], ["v"])
        view.refresh()
        assert view.full_refresh() is None  # epoch no-op: same source v
        v_before = view.view.current_version()
        assert view.full_refresh(force=True) == v_before + 1
        assert _view_state(view.view) == _recompute(src)
        assert view.last_refreshed_version() == src.current_version()
        assert view.refresh() is None  # still current — no double apply

    def test_multi_key_and_new_groups(self, spark, lake):
        src = TxnTable(lake, "src6", stats_cols=["k"])
        src.append(
            spark.createDataFrame(
                [(1, "a", "x", 10), (2, "a", "y", 20)],
                "k INT, t STRING, u STRING, v INT",
            )
        )
        view = IncrementalAggView(lake, "v6", src, ["t", "u"], ["v"])
        view.refresh()
        src.append(
            spark.createDataFrame(
                [(3, "b", "x", 5), (4, "a", "x", 1)],
                "k INT, t STRING, u STRING, v INT",
            )
        )
        view.refresh()
        got = {
            (r["t"], r["u"]): (r["n"], r["sum_v"])
            for r in view.read().collect()
        }
        assert got == {
            ("a", "x"): (2, 11),
            ("a", "y"): (1, 20),
            ("b", "x"): (1, 5),
        }

    def test_consolidation_commit_is_delta_invisible_noop(
        self, spark, lake
    ):
        """consolidate_vectors() changes zero live rows — a refresh
        window containing one must neither raise (it is not a
        rewrite) nor change the view; composition with deletes and
        appends in the same window stays exact."""
        src = TxnTable(lake, "src18", stats_cols=["k"])
        src.append(_batch(spark, 0, 60))
        view = IncrementalAggView(
            lake, "v18", src, ["g"], ["v"], max_cols=["k"]
        )
        view.refresh()
        src.delete_where(F.col("k") % 7 == 0, merge_on_read=True)
        src.delete_where(F.col("k") % 11 == 0, merge_on_read=True)
        assert src.consolidate_vectors() is not None
        # window: two vector deletes + consolidation
        view.refresh()
        assert _view_state(view.view) == _recompute(src)
        # window: consolidation ONLY → empty delta, no view commit
        src.delete_where(F.col("k") % 13 == 0, merge_on_read=True)
        view.refresh()
        assert src.consolidate_vectors() is not None
        assert view.refresh() is None
        assert _view_state(view.view) == _recompute(src)


def _day_batch(spark, rows):
    """rows = [(k, day, v), ...]"""
    return spark.createDataFrame(rows, "k INT, day INT, v INT")


class TestWatermarkedLateData:
    """Round-6 item 5 / round-7 verdict item 8: groups older than
    max(watermark_col) − delay over the materialized view are FINAL;
    a window touching one applies the explicit late policy."""

    def test_late_refused_and_full_refresh_recovers(self, spark, lake):
        src = TxnTable(lake, "wm1", stats_cols=["k"])
        src.append(_day_batch(spark, [(1, 1, 10), (2, 2, 20), (3, 3, 30)]))
        view = IncrementalAggView(
            lake, "wmv1", src, ["day"], ["v"],
            watermark_col="day", watermark_delay=1,
        )
        view.refresh()
        # watermark = max(3) - 1 = 2: day-1 is final, day-2 is not
        src.append(_day_batch(spark, [(4, 1, 40)]))
        with pytest.raises(ValueError, match="watermark"):
            view.refresh()
        view.full_refresh()  # the documented deliberate resync
        got = {r["day"]: r["sum_v"] for r in view.read().collect()}
        assert got == {1: 50, 2: 20, 3: 30}
        # on-time maintenance resumes; AT-watermark (day 2) is on time
        src.append(_day_batch(spark, [(5, 2, 5), (6, 4, 60)]))
        view.refresh()
        got = {r["day"]: r["sum_v"] for r in view.read().collect()}
        assert got == {1: 50, 2: 25, 3: 30, 4: 60}

    def test_late_repair_incorporates_exactly(self, spark, lake):
        src = TxnTable(lake, "wm2", stats_cols=["k"])
        src.append(_day_batch(spark, [(1, 1, 10), (2, 3, 30)]))
        view = IncrementalAggView(
            lake, "wmv2", src, ["day"], ["v"],
            watermark_col="day", watermark_delay=1,
            late_policy="repair",
        )
        view.refresh()
        src.append(_day_batch(spark, [(3, 1, 5)]))  # late (wm = 2)
        view.refresh()
        assert view.last_late_groups == [(1,)]
        got = {r["day"]: (r["n"], r["sum_v"]) for r in view.read().collect()}
        assert got == {1: (2, 15), 3: (1, 30)}  # exact, recompute-equal

    def test_late_dropped_mirrors_spark_watermark_semantics(
        self, spark, lake
    ):
        src = TxnTable(lake, "wm3", stats_cols=["k"])
        src.append(_day_batch(spark, [(1, 1, 10), (2, 3, 30)]))
        view = IncrementalAggView(
            lake, "wmv3", src, ["day"], ["v"],
            watermark_col="day", watermark_delay=1,
            late_policy="drop",
        )
        view.refresh()
        # ONE window mixing a late group (day 1) and an on-time one
        # (day 4): the late delta drops, the on-time one applies
        src.append(_day_batch(spark, [(3, 1, 5), (4, 4, 40)]))
        view.refresh()
        assert view.last_late_groups == [(1,)]
        got = {r["day"]: r["sum_v"] for r in view.read().collect()}
        assert got == {1: 10, 3: 30, 4: 40}  # day-1 unchanged (dropped)
        # an ALL-late window: the delta is deliberately empty, but the
        # source version still STAMPS (round-8 review: without the
        # stamp every later refresh re-scans the accumulated late
        # commits — quadratic under a stalled backfill)
        src.append(_day_batch(spark, [(5, 1, 99)]))
        assert view.refresh() is not None  # epoch-only commit
        assert view.last_refreshed_version() == src.current_version()
        got = {r["day"]: r["sum_v"] for r in view.read().collect()}
        assert got == {1: 10, 3: 30, 4: 40}
        assert view.refresh() is None  # stamped: no rescan

    def test_watermark_col_must_be_a_key_col(self, spark, lake):
        src = TxnTable(lake, "wm4", stats_cols=["k"])
        with pytest.raises(ValueError, match="key_cols"):
            IncrementalAggView(
                lake, "wmv4", src, ["day"], ["v"], watermark_col="v"
            )

    def test_streaming_trigger_with_late_data_pinned_recovery(
        self, spark, lake
    ):
        """readStream drives refresh() per micro-batch; a late commit
        fails the stream under the refuse policy, full_refresh()
        resyncs AND stamps the window, so restarting the stream on the
        SAME checkpoint replays the failed trigger as a no-op —
        exactly-once recovery end to end."""
        from interop_datalake_spark.streaming.txn_source import (
            read_txn_stream,
        )

        src = TxnTable(lake, "wm_s", stats_cols=["k"])
        src.append(_day_batch(spark, [(1, 1, 10), (2, 3, 30)]))  # v1
        view = IncrementalAggView(
            lake, "wmv_s", src, ["day"], ["v"],
            watermark_col="day", watermark_delay=1,
        )
        view.refresh()  # materialize: watermark = 3 − 1 = 2
        src.append(_day_batch(spark, [(3, 1, 5)]))  # v2: late (day 1)
        ckpt = str(src.root.parent / "_ckpt_ivm_wm")

        def _run():
            stream = read_txn_stream(
                lake, "wm_s", max_versions_per_trigger=1
            )
            q = (
                stream.writeStream.foreachBatch(
                    lambda batch_df, epoch_id: view.refresh()
                )
                .trigger(availableNow=True)
                .option("checkpointLocation", ckpt)
                .start()
            )
            q.awaitTermination(120)

        from pyspark.errors.exceptions.captured import (
            StreamingQueryException,
        )

        with pytest.raises(StreamingQueryException, match="watermark"):
            _run()
        view.full_refresh()  # deliberate resync stamps src version
        _run()  # same checkpoint: replayed trigger no-ops, stream ends
        got = {r["day"]: r["sum_v"] for r in view.read().collect()}
        assert got == {1: 15, 3: 30}
        assert view.last_refreshed_version() == src.current_version()

    def test_watermark_is_monotone_under_max_group_delete(
        self, spark, lake
    ):
        """Round-8 review: deleting the max-key group must not REGRESS
        the watermark and silently re-open finalized history — the
        durable floor keeps it monotone, like Spark's."""
        src = TxnTable(lake, "wm5", stats_cols=["k"])
        src.append(
            _day_batch(spark, [(1, 1, 10), (2, 3, 30), (3, 10, 100)])
        )
        view = IncrementalAggView(
            lake, "wmv5", src, ["day"], ["v"],
            watermark_col="day", watermark_delay=1,
        )
        view.refresh()  # watermark floor = 10 − 1 = 9
        # vector-delete ALL of day 10: the view's max regresses to 3
        src.delete_where(F.col("day") == 10, merge_on_read=True)
        view.refresh()
        assert {r["day"] for r in view.read().collect()} == {1, 3}
        # day 3 was finalized at wm=9 — a late write must STILL refuse
        src.append(_day_batch(spark, [(4, 3, 5)]))
        with pytest.raises(ValueError, match="watermark"):
            view.refresh()

    def test_watermark_delay_type_validated_loudly(self, spark, lake):
        """Round-8 review: a delay that can't subtract from the
        column's type must refuse at construction, not TypeError deep
        inside the second refresh."""
        src = TxnTable(lake, "wm6", stats_cols=["k"])
        src.append(
            spark.createDataFrame(
                [(1, "2024-01-01 00:00:00", 10)],
                "k INT, ts_s STRING, v INT",
            ).select(
                "k", F.col("ts_s").cast("timestamp").alias("ts"), "v"
            )
        )
        with pytest.raises(TypeError, match="timedelta"):
            IncrementalAggView(
                lake, "wmv6", src, ["ts"], ["v"],
                watermark_col="ts", watermark_delay=3600,
            )
        # the correct type constructs and refreshes fine
        from datetime import timedelta

        view = IncrementalAggView(
            lake, "wmv6b", src, ["ts"], ["v"],
            watermark_col="ts", watermark_delay=timedelta(hours=1),
        )
        view.refresh()
        assert view.read().count() == 1

    def test_forced_full_refresh_resets_watermark_floor(
        self, spark, lake
    ):
        """Round-8 review 2: the durable floor survives a PLAIN
        full_refresh (monotone finality, intended) but a FORCED one —
        the rebuilt-source resync — must reset it, or refuse-policy
        views could never accept the rebuilt history."""
        src = TxnTable(lake, "wm7", stats_cols=["k"])
        src.append(
            _day_batch(spark, [(1, 1, 10), (2, 3, 30), (3, 10, 100)])
        )
        view = IncrementalAggView(
            lake, "wmv7", src, ["day"], ["v"],
            watermark_col="day", watermark_delay=1,
        )
        view.refresh()  # floor = 9
        src.delete_where(F.col("day") == 10)  # cow REWRITE
        with pytest.raises(ValueError, match="full_refresh"):
            view.refresh()
        view.full_refresh()  # plain: floor intentionally KEPT
        src.append(_day_batch(spark, [(4, 3, 5)]))
        with pytest.raises(ValueError, match="watermark"):
            view.refresh()  # still final under the stale-source floor
        view.full_refresh(force=True)  # deliberate resync: floor reset
        src.append(_day_batch(spark, [(5, 3, 7)]))
        view.refresh()  # day 3 is on time under the rebuilt watermark
        got = {r["day"]: r["sum_v"] for r in view.read().collect()}
        assert got == {1: 10, 3: 42}

    def test_decimal_watermark_column_roundtrips(self, spark, lake):
        """Round-8 review 2: Decimal key values must store/reload in
        the durable floor (json.dumps rejects Decimal) and a numeric
        delay must validate against decimal columns."""
        from decimal import Decimal

        src = TxnTable(lake, "wm8", stats_cols=["k"])
        src.append(
            spark.createDataFrame(
                [(1, Decimal("10.50"), 5), (2, Decimal("30.25"), 7)],
                "k INT, d DECIMAL(10,2), v INT",
            )
        )
        view = IncrementalAggView(
            lake, "wmv8", src, ["d"], ["v"],
            watermark_col="d", watermark_delay=1,
        )
        view.refresh()  # floor = 29.25, stored as a tagged Decimal
        assert view._stored_watermark() == Decimal("29.25")
        src.append(
            spark.createDataFrame(
                [(3, Decimal("10.50"), 9)], "k INT, d DECIMAL(10,2), v INT"
            )
        )
        with pytest.raises(ValueError, match="watermark"):
            view.refresh()  # 10.50 < 29.25: late, refused
        # float delay against a decimal column refuses at construction
        with pytest.raises(TypeError, match="watermark_delay"):
            IncrementalAggView(
                lake, "wmv8b", src, ["d"], ["v"],
                watermark_col="d", watermark_delay=0.5,
            )


class TestGroupCardinalityGuard:
    """Round-8 verdict item 7: the collected aggregated delta is
    capped at max_delta_groups + 1 rows by construction — beyond the
    cap the refresh degrades to the fully-distributed full recompute
    (default) or refuses, never OOMs the driver."""

    def test_degrades_to_full_recompute_beyond_cap(self, spark, lake):
        src = TxnTable(lake, "gsrc", stats_cols=["k"])
        src.append(_batch(spark, 0, 9))
        view = IncrementalAggView(
            lake, "gv", src, ["g"], ["v"], max_delta_groups=2
        )
        view.refresh()  # 3 groups > cap even at first materialization
        assert view.last_merge_mode == "full_recompute"
        assert _view_state(view.view) == _recompute(src)
        # a small window goes back to the scoped incremental path
        src.append(
            spark.createDataFrame(
                [(100, "0", 1)], "k LONG, g STRING, v LONG"
            ).coalesce(1)
        )
        view.refresh()
        assert view.last_merge_mode == "scoped"
        assert _view_state(view.view) == _recompute(src)

    def test_refuse_policy_raises_beyond_cap(self, spark, lake):
        src = TxnTable(lake, "rsrc", stats_cols=["k"])
        src.append(_batch(spark, 0, 9))
        view = IncrementalAggView(
            lake, "rv", src, ["g"], ["v"],
            max_delta_groups=2, large_delta_policy="refuse",
        )
        with pytest.raises(ValueError, match="max_delta_groups"):
            view.refresh()
        # full_refresh is the documented recovery
        assert view.full_refresh() is not None
        assert _view_state(view.view) == _recompute(src)

    def test_watermarked_drop_view_never_degrades_silently(
        self, spark, lake
    ):
        """A drop-policy watermarked view deliberately diverges from a
        recompute — an automatic full recompute would silently re-
        include dropped groups, so the burst must refuse even under
        the default degrade policy."""
        src = TxnTable(lake, "wsrc", stats_cols=["k"])
        src.append(_batch(spark, 0, 9))
        view = IncrementalAggView(
            lake, "wv", src, ["g"], ["v"],
            watermark_col="g", late_policy="drop",
            max_delta_groups=2,
        )
        with pytest.raises(ValueError, match="never degrades"):
            view.refresh()

    def test_bad_policy_refused_at_construction(self, spark, lake):
        src = TxnTable(lake, "bsrc", stats_cols=["k"])
        with pytest.raises(ValueError, match="large_delta_policy"):
            IncrementalAggView(
                lake, "bv", src, ["g"], ["v"],
                large_delta_policy="explode",
            )


class TestScopedViewRead:
    def test_refresh_touching_one_group_opens_fewer_view_files(
        self, spark, lake
    ):
        """The scoped view read opens only the view files the shared
        key resolver keeps for the window's groups — the same set
        merge_sync's scope-hit scan gets — never every view file."""
        src = TxnTable(lake, "sv_src", stats_cols=["k"])
        view = IncrementalAggView(lake, "sv_view", src, ["g"], ["v"])
        # one new group per window: each lands in its own view file
        for i, g in enumerate("abcd"):
            src.append(
                spark.createDataFrame(
                    [(i, g, i * 10)], "k INT, g STRING, v INT"
                ).coalesce(1)
            )
            view.refresh()
        view_files = view.view.manifest()["files"]
        assert len(view_files) >= 4
        src.append(
            spark.createDataFrame(
                [(9, "b", 5)], "k INT, g STRING, v INT"
            ).coalesce(1)
        )
        view.refresh()
        assert view.last_merge_mode == "scoped"
        assert view.last_view_scan_files is not None
        assert 0 < len(view.last_view_scan_files) < len(view_files)
        assert set(view.last_view_scan_files) <= set(view_files)
        assert _view_state(view.view) == _recompute(src)
