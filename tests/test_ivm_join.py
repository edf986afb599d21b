"""Incremental JOIN view maintenance (lake/ivm_join.py): an inner
equi-join of two TxnTables kept current by the bilinear delta rule
Δ(L⋈R) = ΔL⋈R_new + L_old⋈ΔR over the delete-emitting change feeds.
The invariant under test everywhere: after any refresh, the view
equals a from-scratch recompute of the two source snapshots."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from interop_datalake_spark.lake.ivm import IncrementalAggView
from interop_datalake_spark.lake.ivm_join import (
    _EPOCH_BASE,
    IncrementalJoinAggView,
    IncrementalJoinView,
)
from interop_datalake_spark.lake.txn import TxnTable
from interop_datalake_spark.session import DatalakeSession


@pytest.fixture()
def lake(spark):
    root = tempfile.mkdtemp(prefix="txn_ivmj_")
    yield DatalakeSession(lake_root=root, spark=spark)
    shutil.rmtree(root, ignore_errors=True)


def _mk(spark, rows, schema):
    # one file per append: small createDataFrames otherwise emit
    # empty stat-less part files that conservatively defeat the
    # pruning paths these tests pin
    return spark.createDataFrame(rows, schema).coalesce(1)


_L_SCHEMA = "o_id long, cust string, amount long"
_R_SCHEMA = "c_id long, cust string, segment string"


def _setup(spark, lake, **kw):
    left = TxnTable(lake, "l_src", stats_cols=["o_id", "cust"])
    right = TxnTable(lake, "r_src", stats_cols=["c_id", "cust"])
    view = IncrementalJoinView(
        lake, "j_view", left, right, on=["cust"],
        left_id="o_id", right_id="c_id",
        left_cols=["amount"], right_cols=["segment"], **kw,
    )
    return left, right, view


def _recompute(left, right):
    return sorted(
        map(
            tuple,
            left.read()
            .select("o_id", "cust", "amount")
            .join(right.read().select("c_id", "cust", "segment"), "cust")
            .select("cust", "o_id", "amount", "c_id", "segment")
            .collect(),
        )
    )


def _state(view):
    return sorted(
        map(
            tuple,
            view.read()
            .select("cust", "o_id", "amount", "c_id", "segment")
            .collect(),
        )
    )


class TestLifecycle:
    def test_incremental_equals_recompute_through_all_change_shapes(
        self, spark, lake
    ):
        left, right, view = _setup(spark, lake)
        right.append(
            _mk(spark, [(101, "a", "GOLD"), (102, "b", "SILVER")], _R_SCHEMA)
        )
        left.append(
            _mk(
                spark,
                [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "zz", 99)],
                _L_SCHEMA,
            )
        )
        assert view.refresh() == 1
        assert _state(view) == _recompute(left, right)
        # orphan o_id=4 ('zz' has no customer) must be absent
        assert all(t[0] != "zz" for t in _state(view))

        # both sides advance in one window; the former orphan matches
        left.append(_mk(spark, [(5, "b", 50)], _L_SCHEMA))
        right.append(_mk(spark, [(103, "zz", "BRONZE")], _R_SCHEMA))
        assert view.refresh() is not None
        assert _state(view) == _recompute(left, right)

        # vector deletes on both sides — including the cascade (right
        # 'b' delete removes every order of 'b')
        left.delete_where(F.col("o_id") == 1, merge_on_read=True)
        right.delete_where(F.col("cust") == "b", merge_on_read=True)
        assert view.refresh() is not None
        assert _state(view) == _recompute(left, right)

    def test_replay_is_noop(self, spark, lake):
        left, right, view = _setup(spark, lake)
        right.append(_mk(spark, [(101, "a", "GOLD")], _R_SCHEMA))
        left.append(_mk(spark, [(1, "a", 10)], _L_SCHEMA))
        v = view.refresh()
        assert v == 1
        assert view.refresh() is None  # same (lv, rv): no-op
        assert view.view.current_version() == v

    def test_only_right_advances(self, spark, lake):
        left, right, view = _setup(spark, lake)
        right.append(_mk(spark, [(101, "a", "GOLD")], _R_SCHEMA))
        left.append(_mk(spark, [(1, "a", 10), (2, "c", 5)], _L_SCHEMA))
        view.refresh()
        right.append(_mk(spark, [(102, "c", "IRON")], _R_SCHEMA))
        view.refresh()
        assert _state(view) == _recompute(left, right)
        assert view.last_refreshed_versions() == (1, 2)

    def test_pair_deleted_on_both_sides_same_window(self, spark, lake):
        """L row and its matching R row both vector-deleted in one
        window: the algebra must emit exactly one −1 (ΔL⋈R_new finds
        no surviving right row; L_old⋈ΔR finds the old left row)."""
        left, right, view = _setup(spark, lake)
        right.append(
            _mk(spark, [(101, "a", "GOLD"), (102, "b", "S")], _R_SCHEMA)
        )
        left.append(_mk(spark, [(1, "a", 10), (2, "b", 20)], _L_SCHEMA))
        view.refresh()
        left.delete_where(F.col("o_id") == 1, merge_on_read=True)
        right.delete_where(F.col("c_id") == 101, merge_on_read=True)
        view.refresh()
        assert _state(view) == _recompute(left, right)
        assert all(t[0] != "a" for t in _state(view))

    def test_update_in_place_replaces_payload(self, spark, lake):
        """delete + reinsert of the same right id with a new payload
        (net 0, one insert) must REPLACE the materialized payload."""
        left, right, view = _setup(spark, lake)
        right.append(_mk(spark, [(101, "a", "GOLD")], _R_SCHEMA))
        left.append(_mk(spark, [(1, "a", 10)], _L_SCHEMA))
        view.refresh()
        right.delete_where(F.col("c_id") == 101, merge_on_read=True)
        right.append(_mk(spark, [(101, "a", "PLATINUM")], _R_SCHEMA))
        view.refresh()
        assert _state(view) == [("a", 1, 10, 101, "PLATINUM")]
        assert _state(view) == _recompute(left, right)

    def test_both_sides_updated_same_window(self, spark, lake):
        """Left row and its matching right row BOTH updated
        (DV delete + re-append) in one window: the pair legitimately
        collects one insert from each delta term; the view must keep
        the row with BOTH fresh payloads — the ΔL⋈R_new term's, where
        both sides are current (post-review fix: a combined insert
        count falsely refused this workload, and an unprioritized
        payload max could have resurrected the stale L_old left
        payload from the L_old⋈ΔR term)."""
        left, right, view = _setup(spark, lake)
        right.append(_mk(spark, [(101, "a", "GOLD")], _R_SCHEMA))
        left.append(_mk(spark, [(1, "a", 10)], _L_SCHEMA))
        view.refresh()
        left.delete_where(F.col("o_id") == 1, merge_on_read=True)
        left.append(_mk(spark, [(1, "a", 11)], _L_SCHEMA))
        right.delete_where(F.col("c_id") == 101, merge_on_read=True)
        right.append(_mk(spark, [(101, "a", "PLATINUM")], _R_SCHEMA))
        view.refresh()
        assert _state(view) == [("a", 1, 11, 101, "PLATINUM")]
        assert _state(view) == _recompute(left, right)

    def test_multiple_updates_same_row_one_window(self, spark, lake):
        """A stalled view catching up on a busy source sees SEVERAL
        delete+re-append cycles for one row in a single window — a
        legal workload that must apply cleanly with the LATEST
        commit's payload (round-8 full-session review: the per-term
        insert count falsely refused it; the consistency unit is
        (pair, term, commit))."""
        left, right, view = _setup(spark, lake)
        right.append(_mk(spark, [(101, "a", "GOLD")], _R_SCHEMA))
        left.append(_mk(spark, [(1, "a", 10)], _L_SCHEMA))
        view.refresh()
        left.delete_where(F.col("o_id") == 1, merge_on_read=True)
        left.append(_mk(spark, [(1, "a", 11)], _L_SCHEMA))
        left.delete_where(F.col("o_id") == 1, merge_on_read=True)
        left.append(_mk(spark, [(1, "a", 12)], _L_SCHEMA))
        view.refresh()
        assert _state(view) == [("a", 1, 12, 101, "GOLD")]
        assert _state(view) == _recompute(left, right)

    def test_orphan_only_window_stamps_epoch(self, spark, lake):
        left, right, view = _setup(spark, lake)
        right.append(_mk(spark, [(101, "a", "GOLD")], _R_SCHEMA))
        left.append(_mk(spark, [(1, "a", 10)], _L_SCHEMA))
        view.refresh()
        before = _state(view)
        left.append(_mk(spark, [(9, "nope", 1)], _L_SCHEMA))  # orphan
        view.refresh()
        assert _state(view) == before
        # the window must still stamp, or every later refresh re-scans
        assert view.last_refreshed_versions() == (2, 1)

    def test_delete_after_partner_side_removed(self, spark, lake):
        """Right customer removed in window 1; its left orders deleted
        in window 2 — ΔL⋈R_new is empty (no partner), yet the view
        has nothing left to remove. The empty-terms branch must not
        crash and must stamp."""
        left, right, view = _setup(spark, lake)
        right.append(_mk(spark, [(101, "a", "GOLD")], _R_SCHEMA))
        left.append(_mk(spark, [(1, "a", 10)], _L_SCHEMA))
        view.refresh()
        right.delete_where(F.col("c_id") == 101, merge_on_read=True)
        view.refresh()
        assert _state(view) == []
        left.delete_where(F.col("o_id") == 1, merge_on_read=True)
        view.refresh()
        assert _state(view) == []
        assert view.last_refreshed_versions() == (
            left.current_version(),
            right.current_version(),
        )


class TestLeftOuterRead:
    def test_left_outer_equals_recompute(self, spark, lake):
        """read_left_outer() = inner view ∪ NULL-padded unmatched live
        left rows — must equal a from-scratch left outer join."""
        left, right, view = _setup(spark, lake)
        right.append(_mk(spark, [(101, "a", "GOLD")], _R_SCHEMA))
        left.append(
            _mk(
                spark,
                [(1, "a", 10), (4, "zz", 99)],  # zz is unmatched
                _L_SCHEMA,
            )
        )
        view.refresh()
        got = sorted(
            map(
                tuple,
                view.read_left_outer()
                .select("cust", "o_id", "amount", "c_id", "segment")
                .collect(),
            ),
            key=str,
        )
        expect = sorted(
            map(
                tuple,
                left.read()
                .select("o_id", "cust", "amount")
                .join(
                    right.read().select("c_id", "cust", "segment"),
                    "cust",
                    "left_outer",
                )
                .select("cust", "o_id", "amount", "c_id", "segment")
                .collect(),
            ),
            key=str,
        )
        assert got == expect
        assert any(t[3] is None for t in got)  # the padded row exists
        # a right arrival flips the padding to an inner row
        right.append(_mk(spark, [(103, "zz", "BRONZE")], _R_SCHEMA))
        view.refresh()
        got2 = {
            (r.o_id, r.c_id)
            for r in view.read_left_outer().collect()
        }
        assert (4, 103) in got2 and (4, None) not in got2


class TestStreamingTrigger:
    def test_stream_drives_continuous_join_refresh(self, spark, lake):
        """Composition with the change-feed STREAM (the same shape as
        the agg view's continuous-rollup deployment): readStream
        tails ONE source and each micro-batch triggers refresh() in
        foreachBatch. refresh() reads its own exact two-sided delta —
        the stream is purely the trigger, so right-side commits
        landing between batches are picked up too; idempotent packed
        epochs make replayed batches no-ops."""
        from interop_datalake_spark.streaming.txn_source import (
            read_txn_stream,
        )

        left, right, view = _setup(spark, lake)
        right.append(
            _mk(spark, [(100 + i, c, f"S{i}") for i, c in enumerate("abc")],
                _R_SCHEMA),
        )
        left.append(_mk(spark, [(1, "a", 10)], _L_SCHEMA))       # v1
        left.append(_mk(spark, [(2, "b", 20)], _L_SCHEMA))       # v2
        left.delete_where(F.col("o_id") == 1, merge_on_read=True)  # v3
        stream = read_txn_stream(lake, "l_src", max_versions_per_trigger=1)
        q = (
            stream.writeStream.foreachBatch(
                lambda batch_df, epoch_id: view.refresh()
            )
            .trigger(availableNow=True)
            .option(
                "checkpointLocation",
                str(left.root.parent / "_ckpt_ivmj_stream"),
            )
            .start()
        )
        q.awaitTermination(120)
        assert _state(view) == _recompute(left, right)
        assert view.last_refreshed_versions() == (
            left.current_version(),
            right.current_version(),
        )


class TestRefusals:
    def test_rewriting_commit_refused_full_refresh_recovers(
        self, spark, lake
    ):
        left, right, view = _setup(spark, lake)
        right.append(_mk(spark, [(101, "a", "GOLD")], _R_SCHEMA))
        left.append(
            _mk(spark, [(1, "a", 10), (2, "a", 20)], _L_SCHEMA)
        )
        view.refresh()
        # copy-on-write delete (merge_on_read=False) rewrites files
        left.delete_where(F.col("o_id") == 1)
        with pytest.raises(ValueError, match="rewrites files"):
            view.refresh()
        view.full_refresh()
        assert _state(view) == _recompute(left, right)
        # incremental maintenance resumes after the resync
        left.append(_mk(spark, [(3, "a", 30)], _L_SCHEMA))
        view.refresh()
        assert _state(view) == _recompute(left, right)

    def test_duplicate_right_id_refused(self, spark, lake):
        left, right, view = _setup(spark, lake)
        right.append(_mk(spark, [(101, "a", "GOLD")], _R_SCHEMA))
        left.append(_mk(spark, [(1, "a", 10)], _L_SCHEMA))
        view.refresh()
        # second right row with the SAME id and same join key: the
        # (o_id=1, c_id=101) pair gets a second +1 — unique-id breach
        right.append(_mk(spark, [(101, "a", "EVIL")], _R_SCHEMA))
        with pytest.raises(ValueError, match="unique-id contract"):
            view.refresh()

    def test_duplicate_id_at_initial_materialization_refused(
        self, spark, lake
    ):
        """Duplicate ids in the FIRST snapshot used to materialize
        silently — a later retraction then deleted BOTH copies
        (round-8 full-session review, reproduced). The initial
        materialization and full_refresh now run the distributed
        per-side uniqueness check."""
        left, right, view = _setup(spark, lake)
        right.append(_mk(spark, [(101, "a", "GOLD")], _R_SCHEMA))
        left.append(
            _mk(spark, [(1, "a", 10), (1, "a", 99)], _L_SCHEMA)  # dup id
        )
        with pytest.raises(ValueError, match="unique-id contract"):
            view.refresh()
        with pytest.raises(ValueError, match="unique-id contract"):
            view.full_refresh()

    def test_duplicate_id_with_orphan_key_refused(self, spark, lake):
        """A second left row reusing a MATERIALIZED id under a join
        key that matches nothing bypasses the delta entirely (its
        term is empty) — the empty-terms branch must refuse loudly,
        never silently delete the id's in-scope view rows
        (post-review fix: it used to sync empty over the scope)."""
        left, right, view = _setup(spark, lake)
        right.append(_mk(spark, [(101, "a", "GOLD")], _R_SCHEMA))
        left.append(_mk(spark, [(1, "a", 10)], _L_SCHEMA))
        view.refresh()
        left.append(_mk(spark, [(1, "zz", 99)], _L_SCHEMA))  # dup id
        with pytest.raises(ValueError, match="unique-id contract"):
            view.refresh()
        # the view was NOT corrupted by the refused window
        assert _state(view) == [("a", 1, 10, 101, "GOLD")]

    def test_initial_materialization_ignores_rewritten_history(
        self, spark, lake
    ):
        """A source compacted/rewritten BEFORE the view exists must
        not block the first refresh: initial materialization joins
        snapshots and never reads the feed (post-review fix: the
        delta-visibility assert ran unconditionally)."""
        left, right, view = _setup(spark, lake)
        right.append(_mk(spark, [(101, "a", "GOLD")], _R_SCHEMA))
        left.append(
            _mk(spark, [(1, "a", 10), (2, "a", 20)], _L_SCHEMA)
        )
        left.delete_where(F.col("o_id") == 2)  # copy-on-write rewrite
        assert view.refresh() is not None
        assert _state(view) == _recompute(left, right)

    def test_column_overlap_refused(self, spark, lake):
        left = TxnTable(lake, "l2", stats_cols=["o_id"])
        right = TxnTable(lake, "r2", stats_cols=["c_id"])
        with pytest.raises(ValueError, match="disjoint"):
            IncrementalJoinView(
                lake, "v2", left, right, on=["cust"],
                left_id="o_id", right_id="c_id",
                left_cols=["amount"], right_cols=["amount"],
            )

    def test_id_in_join_cols_refused(self, spark, lake):
        left = TxnTable(lake, "l3", stats_cols=["o_id"])
        right = TxnTable(lake, "r3", stats_cols=["c_id"])
        with pytest.raises(ValueError, match="identity"):
            IncrementalJoinView(
                lake, "v3", left, right, on=["o_id"],
                left_id="o_id", right_id="c_id",
            )

    def test_reserved_underscore_columns_refused(self, spark, lake):
        left = TxnTable(lake, "l4", stats_cols=["o_id"])
        right = TxnTable(lake, "r4", stats_cols=["c_id"])
        with pytest.raises(ValueError, match="reserved"):
            IncrementalJoinView(
                lake, "v4", left, right, on=["cust"],
                left_id="o_id", right_id="c_id",
                left_cols=["_sign"],
            )

    def test_epoch_pack_bound_refused(self, spark, lake):
        left, right, view = _setup(spark, lake)
        with pytest.raises(ValueError, match="packed-epoch bound"):
            view._pack(1, _EPOCH_BASE)


class TestScalePruning:
    def test_snapshot_read_is_pruned_to_changed_keys(self, spark, lake):
        """A one-key left append must NOT rescan the whole right
        snapshot: the right side's scan file set is a strict subset
        (the right table has multiple files with disjoint key
        ranges)."""
        left, right, view = _setup(spark, lake)
        # 4 separate right commits → ≥4 files with disjoint cust ranges
        for i, c in enumerate("abcd"):
            right.append(
                _mk(spark, [(100 + i, c, f"SEG{i}")], _R_SCHEMA)
            )
        left.append(
            _mk(spark, [(i, c, i * 10) for i, c in enumerate("abcd")],
                _L_SCHEMA),
        )
        view.refresh()
        n_right_files = len(right.manifest(right.current_version())["files"])
        assert n_right_files >= 4
        # window touching ONLY cust='c'
        left.append(_mk(spark, [(50, "c", 555)], _L_SCHEMA))
        view.refresh()
        scanned = view.last_snapshot_scan_files["right"]
        assert scanned is not None
        assert 0 < len(scanned) < n_right_files
        assert _state(view) == _recompute(left, right)

    def test_scoped_view_read_is_pruned(self, spark, lake):
        """The in-scope view read prunes by the changed ids' stats —
        refresh cost must not include a full view scan."""
        left, right, view = _setup(spark, lake)
        right.append(
            _mk(spark, [(100 + i, c, "S") for i, c in enumerate("abcd")],
                _R_SCHEMA),
        )
        # 4 separate view-feeding commits → view accrues several files
        for i, c in enumerate("abcd"):
            left.append(_mk(spark, [(i, c, i * 10)], _L_SCHEMA))
            view.refresh()
        view_files = len(
            view.view.manifest(view.view.current_version())["files"]
        )
        assert view_files >= 4
        left.delete_where(F.col("o_id") == 2, merge_on_read=True)
        view.refresh()
        assert _state(view) == _recompute(left, right)
        # the in-scope view read opened a strict subset of view files
        assert view.last_view_scan_files is not None
        assert 0 < len(view.last_view_scan_files) < view_files

    def test_full_refresh_force_at_stamped_versions(self, spark, lake):
        left, right, view = _setup(spark, lake)
        right.append(_mk(spark, [(101, "a", "GOLD")], _R_SCHEMA))
        left.append(_mk(spark, [(1, "a", 10)], _L_SCHEMA))
        view.refresh()
        assert view.full_refresh() is None  # same versions: no-op
        assert view.full_refresh(force=True) is not None
        assert _state(view) == _recompute(left, right)
        # epochs stamped verbatim: incremental resumes cleanly
        left.append(_mk(spark, [(2, "a", 20)], _L_SCHEMA))
        view.refresh()
        assert _state(view) == _recompute(left, right)


def _agg_setup(spark, lake):
    left = TxnTable(lake, "la_src", stats_cols=["o_id", "cust"])
    right = TxnTable(lake, "ra_src", stats_cols=["c_id", "cust"])
    view = IncrementalJoinAggView(
        lake, "ja_view", left, right, on=["cust"],
        key_cols=["segment"], sum_cols=["amount"],
    )
    return left, right, view


def _agg_recompute(left, right):
    return sorted(
        map(
            tuple,
            left.read()
            .join(right.read().select("cust", "segment"), "cust")
            .groupBy("segment")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("amount").alias("sum_amount"),
            )
            .collect(),
        )
    )


def _agg_state(view):
    return sorted(
        map(
            tuple,
            view.read().select("segment", "n", "sum_amount").collect(),
        )
    )


class TestJoinAggView:
    """Aggregate OVER a join maintained without materializing the
    join — the DBSP composition. Invariant: incremental ≡ a
    groupBy over a from-scratch join of the current snapshots."""

    def test_incremental_equals_recompute(self, spark, lake):
        left, right, view = _agg_setup(spark, lake)
        right.append(
            _mk(
                spark,
                [(101, "a", "GOLD"), (102, "b", "SILVER"),
                 (103, "c", "GOLD")],
                _R_SCHEMA,
            )
        )
        left.append(
            _mk(
                spark,
                [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "c", 5),
                 (9, "zz", 99)],  # orphan contributes nothing
                _L_SCHEMA,
            )
        )
        assert view.refresh() == 1
        assert _agg_state(view) == _agg_recompute(left, right)
        # both sides change in one window; a right delete cascades a
        # whole customer's orders out of its segment's rollup
        left.append(_mk(spark, [(5, "b", 40)], _L_SCHEMA))
        right.delete_where(F.col("cust") == "a", merge_on_read=True)
        view.refresh()
        assert _agg_state(view) == _agg_recompute(left, right)
        # a segment emptied entirely VANISHES (≡ recompute)
        right.delete_where(F.col("segment") == "SILVER", merge_on_read=True)
        view.refresh()
        assert _agg_state(view) == _agg_recompute(left, right)
        assert all(t[0] != "SILVER" for t in _agg_state(view))
        assert view.refresh() is None  # replay no-op

    def test_duplicate_ids_are_fine_for_aggregates(self, spark, lake):
        """Aggregates are multiset-linear: duplicate id values (which
        the JOIN VIEW refuses) just contribute their multiplicity —
        no unique-id contract."""
        left, right, view = _agg_setup(spark, lake)
        right.append(_mk(spark, [(101, "a", "GOLD")], _R_SCHEMA))
        left.append(_mk(spark, [(1, "a", 10)], _L_SCHEMA))
        view.refresh()
        left.append(_mk(spark, [(1, "a", 7)], _L_SCHEMA))  # dup o_id
        view.refresh()
        assert _agg_state(view) == _agg_recompute(left, right)
        assert _agg_state(view) == [("GOLD", 2, 17)]

    def test_non_integral_sum_refused(self, spark, lake):
        left = TxnTable(lake, "la2", stats_cols=["o_id"])
        right = TxnTable(lake, "ra2", stats_cols=["c_id"])
        right.append(_mk(spark, [(101, "a", "GOLD")], _R_SCHEMA))
        left.append(_mk(spark, [(1, "a", 10)], _L_SCHEMA))
        with pytest.raises(ValueError, match="non-integral"):
            IncrementalJoinAggView(
                lake, "ja2", left, right, on=["cust"],
                key_cols=["segment"], sum_cols=["segment"],
            )

    def test_ambiguous_column_refused(self, spark, lake):
        left = TxnTable(lake, "la3", stats_cols=["o_id"])
        right = TxnTable(lake, "ra3", stats_cols=["c_id"])
        # both sides get an 'amount' column
        right.append(
            _mk(spark, [(101, "a", 1)], "c_id long, cust string, amount long")
        )
        left.append(_mk(spark, [(1, "a", 10)], _L_SCHEMA))
        with pytest.raises(ValueError, match="both sources"):
            IncrementalJoinAggView(
                lake, "ja3", left, right, on=["cust"],
                key_cols=["cust"], sum_cols=["amount"],
            )

    def test_rewriting_commit_refused_full_refresh_recovers(
        self, spark, lake
    ):
        left, right, view = _agg_setup(spark, lake)
        right.append(_mk(spark, [(101, "a", "GOLD")], _R_SCHEMA))
        left.append(
            _mk(spark, [(1, "a", 10), (2, "a", 20)], _L_SCHEMA)
        )
        view.refresh()
        left.delete_where(F.col("o_id") == 1)  # copy-on-write rewrite
        with pytest.raises(ValueError, match="rewrites files"):
            view.refresh()
        view.full_refresh()
        assert _agg_state(view) == _agg_recompute(left, right)
        left.append(_mk(spark, [(3, "a", 30)], _L_SCHEMA))
        view.refresh()
        assert _agg_state(view) == _agg_recompute(left, right)

    def test_orphan_only_window_stamps(self, spark, lake):
        left, right, view = _agg_setup(spark, lake)
        right.append(_mk(spark, [(101, "a", "GOLD")], _R_SCHEMA))
        left.append(_mk(spark, [(1, "a", 10)], _L_SCHEMA))
        view.refresh()
        left.append(_mk(spark, [(9, "nope", 1)], _L_SCHEMA))
        view.refresh()
        assert _agg_state(view) == [("GOLD", 1, 10)]
        assert view.last_refreshed_versions() == (2, 1)

    def test_snapshot_pruned_by_changed_keys(self, spark, lake):
        left, right, view = _agg_setup(spark, lake)
        for i, c in enumerate("abcd"):
            right.append(_mk(spark, [(100 + i, c, f"SEG{i}")], _R_SCHEMA))
        left.append(
            _mk(spark, [(i, c, i * 10) for i, c in enumerate("abcd")],
                _L_SCHEMA),
        )
        view.refresh()
        n_right = len(right.manifest(right.current_version())["files"])
        assert n_right >= 4
        left.append(_mk(spark, [(50, "c", 555)], _L_SCHEMA))
        view.refresh()
        scanned = view.last_snapshot_scan_files["right"]
        assert 0 < len(scanned) < n_right
        assert _agg_state(view) == _agg_recompute(left, right)

    def test_null_sum_retraction_matches_recompute(self, spark, lake):
        """Deleting the last NON-NULL contributor must leave the sum
        NULL (what a recompute over the remaining all-NULL rows
        reports), not 0 — the nn_<c> counter makes retraction exact
        (round-8 review)."""
        left, right, view = _agg_setup(spark, lake)
        right.append(_mk(spark, [(101, "a", "GOLD")], _R_SCHEMA))
        left.append(
            _mk(spark, [(1, "a", None), (2, "a", 5)], _L_SCHEMA)
        )
        view.refresh()
        assert _agg_state(view) == [("GOLD", 2, 5)]
        left.delete_where(F.col("o_id") == 2, merge_on_read=True)
        view.refresh()
        assert _agg_state(view) == [("GOLD", 1, None)]
        assert _agg_state(view) == _agg_recompute(left, right)

    def test_refresh_after_all_groups_eliminated(self, spark, lake):
        """A committed file-less view (every group deleted) must keep
        refreshing — read() on an empty manifest raises, so the
        refresh substitutes an empty frame (round-8 review)."""
        left, right, view = _agg_setup(spark, lake)
        right.append(_mk(spark, [(101, "a", "GOLD")], _R_SCHEMA))
        left.append(_mk(spark, [(1, "a", 10)], _L_SCHEMA))
        view.refresh()
        left.delete_where(F.col("o_id") == 1, merge_on_read=True)
        view.refresh()
        assert _agg_state(view) == []
        # the view is now committed and file-less; keep going
        left.append(_mk(spark, [(2, "a", 20)], _L_SCHEMA))
        view.refresh()
        assert _agg_state(view) == [("GOLD", 1, 20)]
        assert _agg_state(view) == _agg_recompute(left, right)

    def test_generated_name_collision_refused(self, spark, lake):
        left = TxnTable(lake, "la5", stats_cols=["o_id"])
        right = TxnTable(lake, "ra5", stats_cols=["c_id"])
        with pytest.raises(ValueError, match="generated view columns"):
            IncrementalJoinAggView(
                lake, "ja5", left, right, on=["cust"],
                key_cols=["n"], sum_cols=["amount"],
            )

    def test_view_time_travel_composes(self, spark, lake):
        """The view IS a TxnTable, so time travel works for free: the
        view AS OF any refresh's commit equals a recompute at the
        source versions that refresh stamped."""
        left, right, view = _agg_setup(spark, lake)
        right.append(_mk(spark, [(101, "a", "GOLD")], _R_SCHEMA))
        left.append(_mk(spark, [(1, "a", 10)], _L_SCHEMA))
        v1 = view.refresh()
        left.append(_mk(spark, [(2, "a", 20)], _L_SCHEMA))
        view.refresh()
        # read the view at its FIRST refresh commit
        old = sorted(
            map(
                tuple,
                view.view.read(version=v1)
                .select("segment", "n", "sum_amount")
                .collect(),
            )
        )
        assert old == [("GOLD", 1, 10)]
        # the stamped epoch names the exact source versions it reflects
        ep = view.view.manifest(v1)["epoch"]
        from interop_datalake_spark.lake.ivm_join import unpack_epoch

        assert unpack_epoch(ep) == (1, 1)

    def test_lazy_resolution_on_empty_sources(self, spark, lake):
        """Constructing the view BEFORE either source has data must
        work (no log schema yet); the first refresh with data
        resolves sides."""
        left = TxnTable(lake, "la4", stats_cols=["o_id"])
        right = TxnTable(lake, "ra4", stats_cols=["c_id"])
        view = IncrementalJoinAggView(
            lake, "ja4", left, right, on=["cust"],
            key_cols=["segment"], sum_cols=["amount"],
        )
        assert view.refresh() is None  # both empty: nothing to do
        right.append(_mk(spark, [(101, "a", "GOLD")], _R_SCHEMA))
        assert view.refresh() is None  # left still empty
        left.append(_mk(spark, [(1, "a", 10)], _L_SCHEMA))
        assert view.refresh() is not None
        assert _agg_state(view) == [("GOLD", 1, 10)]


class TestLargeWindowGuards:
    """Round-8 verdict item 1: a change window above
    max_point_window_rows must refresh WITHOUT per-row driver
    collects and WITHOUT broadcasting the delta side — the envelope
    mode. Invariant: both modes produce the recompute."""

    def _spy_broadcast(self, monkeypatch):
        import interop_datalake_spark.lake.ivm_join as m

        calls = []
        real = m.F.broadcast

        def spy(df):
            calls.append(1)
            return real(df)

        monkeypatch.setattr(m.F, "broadcast", spy)
        return calls

    def _cap_collects(self, monkeypatch, cap):
        from pyspark.sql import DataFrame

        real = DataFrame.collect
        seen = []

        def capped(df):
            rows = real(df)
            seen.append(len(rows))
            assert len(rows) <= cap, (
                f"driver collect materialized {len(rows)} rows during "
                f"an envelope-mode refresh (cap {cap})"
            )
            return rows

        monkeypatch.setattr(DataFrame, "collect", capped)
        return seen

    def test_large_window_refreshes_in_envelope_mode(
        self, spark, lake, monkeypatch
    ):
        left, right, view = _setup(
            spark, lake, max_point_window_rows=3
        )
        right.append(
            _mk(spark, [(101, "a", "GOLD"), (102, "b", "SILVER")],
                _R_SCHEMA)
        )
        left.append(_mk(spark, [(1, "a", 10), (2, "b", 20)], _L_SCHEMA))
        view.refresh()  # initial snapshot join
        # the "bulk backfill": 6 changed rows > the 3-row cap
        left.append(
            _mk(spark,
                [(3, "a", 1), (4, "a", 2), (5, "b", 3),
                 (6, "b", 4), (7, "a", 5), (8, "b", 6)],
                _L_SCHEMA),
        )
        bc_calls = self._spy_broadcast(monkeypatch)
        self._cap_collects(monkeypatch, 8)
        assert view.refresh() is not None
        monkeypatch.undo()
        assert view.last_prune_mode == "envelope"
        assert bc_calls == [], "envelope mode must not broadcast"
        assert _state(view) == _recompute(left, right)

    def test_small_window_stays_per_id(self, spark, lake):
        left, right, view = _setup(spark, lake)  # default cap 100k
        right.append(_mk(spark, [(101, "a", "GOLD")], _R_SCHEMA))
        left.append(_mk(spark, [(1, "a", 10)], _L_SCHEMA))
        view.refresh()
        left.append(_mk(spark, [(2, "a", 20)], _L_SCHEMA))
        view.refresh()
        assert view.last_prune_mode == "per-id"
        assert _state(view) == _recompute(left, right)

    def test_envelope_mode_with_deletes_both_sides(self, spark, lake):
        """Signed deltas (vector deletes on BOTH sides) through the
        envelope path: untouched in-scope rows (the widened BETWEEN
        scope) must ride through unchanged."""
        left, right, view = _setup(
            spark, lake, max_point_window_rows=0
        )  # every non-empty window is "large"
        right.append(
            _mk(spark,
                [(101, "a", "GOLD"), (102, "b", "SILVER"),
                 (103, "c", "BRONZE")],
                _R_SCHEMA),
        )
        left.append(
            _mk(spark, [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
                _L_SCHEMA),
        )
        view.refresh()
        # one window: left delete + left append + right delete
        left.delete_where(F.col("o_id") == 1, merge_on_read=True)
        left.append(_mk(spark, [(4, "b", 40)], _L_SCHEMA))
        right.delete_where(F.col("c_id") == 103, merge_on_read=True)
        assert view.refresh() is not None
        assert view.last_prune_mode == "envelope"
        assert _state(view) == _recompute(left, right)
        # next incremental window still applies cleanly (epochs exact)
        left.append(_mk(spark, [(5, "a", 50)], _L_SCHEMA))
        right.append(_mk(spark, [(104, "a", "GOLD2")], _R_SCHEMA))
        view.refresh()
        assert _state(view) == _recompute(left, right)

    def test_envelope_orphan_window_stamps(self, spark, lake):
        left, right, view = _setup(
            spark, lake, max_point_window_rows=0
        )
        right.append(_mk(spark, [(101, "a", "GOLD")], _R_SCHEMA))
        left.append(_mk(spark, [(1, "a", 10)], _L_SCHEMA))
        view.refresh()
        # orphan keys only: joins nothing, must stamp not corrupt
        left.append(_mk(spark, [(9, "zz", 90)], _L_SCHEMA))
        view.refresh()
        assert view.last_prune_mode == "envelope"
        assert _state(view) == _recompute(left, right)
        assert view.last_refreshed_versions() == (
            left.current_version(), right.current_version()
        )

    def test_envelope_duplicate_id_still_refused(self, spark, lake):
        """The unique-id breach detection survives the mode switch
        (same shape as test_duplicate_id_with_orphan_key_refused: a
        re-inserted materialized id whose change joins nothing) — the
        envelope no-terms branch must detect "touched materialized
        id" with a distributed semi-join, since its widened scope
        makes the per-id mode's non-empty-scope test meaningless."""
        left, right, view = _setup(
            spark, lake, max_point_window_rows=0
        )
        right.append(
            _mk(spark, [(101, "a", "GOLD"), (102, "b", "SILVER")],
                _R_SCHEMA)
        )
        left.append(_mk(spark, [(1, "a", 10)], _L_SCHEMA))
        view.refresh()
        # dup id under an orphan join key: joins nothing, but id 1 is
        # materialized — must refuse, never silently delete in-scope
        left.append(_mk(spark, [(1, "zz", 99)], _L_SCHEMA))
        with pytest.raises(ValueError, match="unique-id"):
            view.refresh()

    def test_join_agg_envelope_beyond_key_cap(self, spark, lake):
        """>32 distinct changed join keys: the key list must never be
        collected — envelope pruning, result equals recompute."""
        left = TxnTable(lake, "le_src", stats_cols=["o_id", "cust"])
        right = TxnTable(lake, "re_src", stats_cols=["c_id", "cust"])
        view = IncrementalJoinAggView(
            lake, "je_view", left, right, on=["cust"],
            key_cols=["segment"], sum_cols=["amount"],
            max_point_window_rows=3,
        )
        custs = [f"c{i:03d}" for i in range(40)]
        right.append(
            _mk(spark,
                [(100 + i, c, f"S{i % 3}") for i, c in enumerate(custs)],
                _R_SCHEMA),
        )
        left.append(_mk(spark, [(0, "c000", 5)], _L_SCHEMA))
        view.refresh()
        # 40 changed keys in one window (> _PRUNE_KEYS_MAX and > the
        # 3-row broadcast gate)
        left.append(
            _mk(spark,
                [(i + 1, c, i * 10) for i, c in enumerate(custs)],
                _L_SCHEMA),
        )
        assert view.refresh() is not None
        assert view.last_prune_mode == "envelope"
        assert _agg_state(view) == _agg_recompute(left, right)

    def test_join_agg_group_cap_degrades_to_full_recompute(
        self, spark, lake
    ):
        left = TxnTable(lake, "lg_src", stats_cols=["o_id", "cust"])
        right = TxnTable(lake, "rg_src", stats_cols=["c_id", "cust"])
        view = IncrementalJoinAggView(
            lake, "jg_view", left, right, on=["cust"],
            key_cols=["segment"], sum_cols=["amount"],
            max_delta_groups=2,
        )
        right.append(
            _mk(spark,
                [(101, "a", "S1"), (102, "b", "S2"),
                 (103, "c", "S3"), (104, "d", "S4")],
                _R_SCHEMA),
        )
        left.append(_mk(spark, [(1, "a", 10)], _L_SCHEMA))
        view.refresh()
        # one window touching 3 groups > the 2-group cap
        left.append(
            _mk(spark, [(2, "b", 20), (3, "c", 30), (4, "d", 40)],
                _L_SCHEMA),
        )
        assert view.refresh() is not None
        assert view.last_merge_mode == "full_recompute"
        assert _agg_state(view) == _agg_recompute(left, right)
        # epoch stamped by the recompute: incremental resumes
        left.append(_mk(spark, [(5, "a", 50)], _L_SCHEMA))
        view.refresh()
        assert view.last_merge_mode == "scoped"
        assert _agg_state(view) == _agg_recompute(left, right)

    def test_join_agg_group_cap_refuse_policy(self, spark, lake):
        left = TxnTable(lake, "lr_src", stats_cols=["o_id", "cust"])
        right = TxnTable(lake, "rr_src", stats_cols=["c_id", "cust"])
        view = IncrementalJoinAggView(
            lake, "jr_view", left, right, on=["cust"],
            key_cols=["segment"], sum_cols=["amount"],
            max_delta_groups=1, large_delta_policy="refuse",
        )
        right.append(
            _mk(spark, [(101, "a", "S1"), (102, "b", "S2")], _R_SCHEMA)
        )
        left.append(_mk(spark, [(1, "a", 10)], _L_SCHEMA))
        view.refresh()
        left.append(_mk(spark, [(2, "a", 20), (3, "b", 30)], _L_SCHEMA))
        with pytest.raises(ValueError, match="max_delta_groups"):
            view.refresh()
        # full_refresh is the documented recovery
        assert view.full_refresh() is not None
        assert _agg_state(view) == _agg_recompute(left, right)


class TestOneCore:
    """The join-aggregate view is the composition of the join view's
    delta builder and the agg view's delta-apply step: over the same
    change sequence it must equal a groupBy over the join view, and
    both must equal a recompute."""

    def test_join_agg_equals_groupby_over_join_view(self, spark, lake):
        import random

        rng = random.Random(1307)
        left = TxnTable(lake, "lc_src", stats_cols=["o_id", "cust"])
        right = TxnTable(lake, "rc_src", stats_cols=["c_id", "cust"])
        join = IncrementalJoinView(
            lake, "jc_view", left, right, on=["cust"],
            left_id="o_id", right_id="c_id",
            left_cols=["amount"], right_cols=["segment"],
            max_point_window_rows=8,
        )
        rollup = IncrementalJoinAggView(
            lake, "jac_view", left, right, on=["cust"],
            key_cols=["segment"], sum_cols=["amount"],
            max_point_window_rows=8, max_delta_groups=3,
        )
        custs = [f"c{i}" for i in range(6)]

        def orders(ids):
            return _mk(
                spark,
                [
                    (i, rng.choice(custs + ["orphan"]),
                     None if i % 7 == 3 else rng.randrange(100))
                    for i in ids
                ],
                _L_SCHEMA,
            )

        def check(prune_mode=None, merge_mode=None):
            join.refresh()
            rollup.refresh()
            over_join = sorted(
                map(
                    tuple,
                    join.read()
                    .groupBy("segment")
                    .agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum("amount").alias("sum_amount"),
                    )
                    .collect(),
                )
            )
            assert _agg_state(rollup) == over_join
            assert over_join == _agg_recompute(left, right)
            assert _state(join) == _recompute(left, right)
            if prune_mode is not None:
                assert join.last_prune_mode == "envelope"
                assert rollup.last_prune_mode == "envelope"
            if merge_mode is not None:
                assert rollup.last_merge_mode == merge_mode

        right.append(
            _mk(spark,
                [(100 + i, c, f"S{i % 3}") for i, c in enumerate(custs)],
                _R_SCHEMA)
        )
        left.append(orders(range(10)))
        check()
        # appends on both sides
        left.append(orders(range(10, 13)))
        right.append(_mk(spark, [(106, "orphan", "S1")], _R_SCHEMA))
        check(merge_mode="scoped")
        # vector deletes on both sides
        gone = rng.sample(range(13), 2)
        left.delete_where(F.col("o_id").isin(gone), merge_on_read=True)
        right.delete_where(
            F.col("c_id") == 100 + rng.randrange(6), merge_on_read=True
        )
        check(merge_mode="scoped")
        # merge-on-read merges: updated orders (new customer or amount)
        # plus a new one; a customer moves segment
        left.merge(orders([i for i in range(13) if i not in gone][:2] + [13]),
                   ["o_id"], merge_on_read=True)
        right.merge(
            _mk(spark, [(101, "c1", "S2")], _R_SCHEMA),
            ["c_id"], merge_on_read=True,
        )
        check(merge_mode="scoped")
        # a window past max_point_window_rows: envelope mode
        left.append(orders(range(20, 32)))
        check(prune_mode="envelope")
        # a window touching more than max_delta_groups segments
        right.append(
            _mk(spark,
                [(200 + i, f"n{i}", f"T{i}") for i in range(4)],
                _R_SCHEMA)
        )
        left.append(
            _mk(spark, [(40 + i, f"n{i}", i) for i in range(4)], _L_SCHEMA)
        )
        check(merge_mode="full_recompute")
        # incremental again after the degrade
        left.delete_where(F.col("o_id") == 40, merge_on_read=True)
        left.append(orders([50]))
        check(merge_mode="scoped")

    def test_join_agg_reads_only_key_resolved_view_files(self, spark, lake):
        left, right, view = _agg_setup(spark, lake)
        right.append(
            _mk(spark,
                [(100 + i, c, f"SEG{i}") for i, c in enumerate("abcd")],
                _R_SCHEMA)
        )
        # one new segment per window: each lands in its own view file
        for i, c in enumerate("abcd"):
            left.append(_mk(spark, [(i, c, i * 10)], _L_SCHEMA))
            view.refresh()
        view_files = view.view.manifest()["files"]
        assert len(view_files) >= 4
        left.append(_mk(spark, [(9, "b", 5)], _L_SCHEMA))
        view.refresh()
        assert view.last_merge_mode == "scoped"
        assert 0 < len(view.last_view_scan_files) < len(view_files)
        assert _agg_state(view) == _agg_recompute(left, right)


class TestJobBudget:
    """Spark jobs per refresh of each view class on its own small
    fixture, counted by job group: the first refresh, an append window
    and a vector-delete window. The budgets are the counts measured
    before the views shared one delta builder and one delta-apply
    step (default test session, local[8]); sharing may only lower
    them."""

    def _windows(self, jobs_of, view, first, append, delete):
        counts = []
        for change in (first, append, delete):
            change()
            got, ids = jobs_of(view.refresh)
            assert got is not None
            counts.append(len(ids))
        return counts

    def test_agg_view(self, spark, lake, jobs_of):
        src = TxnTable(lake, "jb_src", stats_cols=["k"])
        view = IncrementalAggView(
            lake, "jb_agg", src, ["g"], ["v"], max_cols=["k"]
        )
        counts = self._windows(
            jobs_of,
            view,
            lambda: src.append(
                spark.range(0, 30)
                .select(
                    F.col("id").alias("k"),
                    (F.col("id") % 3).cast("string").alias("g"),
                    (F.col("id") * 10).alias("v"),
                )
                .coalesce(1)
            ),
            lambda: src.append(
                _mk(spark, [(100, "0", 1), (101, "1", 2)],
                    "k long, g string, v long")
            ),
            lambda: src.delete_where(
                F.col("k") % 5 == 0, merge_on_read=True
            ),
        )
        assert all(c <= b for c, b in zip(counts, (3, 11, 15))), counts

    def _join_windows(self, spark, jobs_of, left, right, view):
        def first():
            right.append(
                _mk(spark,
                    [(101, "a", "GOLD"), (102, "b", "SILVER"),
                     (103, "c", "GOLD")],
                    _R_SCHEMA)
            )
            left.append(
                _mk(spark,
                    [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "c", 5)],
                    _L_SCHEMA)
            )

        def append():
            left.append(_mk(spark, [(5, "b", 40), (6, "d", 7)], _L_SCHEMA))
            right.append(_mk(spark, [(104, "d", "BRONZE")], _R_SCHEMA))

        def delete():
            left.delete_where(F.col("o_id") == 1, merge_on_read=True)
            right.delete_where(F.col("c_id") == 102, merge_on_read=True)

        return self._windows(jobs_of, view, first, append, delete)

    def test_join_view(self, spark, lake, jobs_of):
        left, right, view = _setup(spark, lake)
        counts = self._join_windows(spark, jobs_of, left, right, view)
        assert all(c <= b for c, b in zip(counts, (9, 14, 22))), counts
        assert _state(view) == _recompute(left, right)

    def test_join_agg_view(self, spark, lake, jobs_of):
        left, right, view = _agg_setup(spark, lake)
        counts = self._join_windows(spark, jobs_of, left, right, view)
        assert all(c <= b for c, b in zip(counts, (4, 18, 22))), counts
        assert _agg_state(view) == _agg_recompute(left, right)
