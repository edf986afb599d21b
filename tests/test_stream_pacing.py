"""Backlog rate-limiting on the foreign-format streams
(streaming/pacing.py): a stream STARTING against — or catching up on —
a long history drains in bounded micro-batch hops for all four sources
(delta_appends, delta_cdc, iceberg_appends, iceberg_cdc), with the
first batch of a fresh or restarted run throttled like every other
(the round-13 first-batch-unthrottled caveat, eliminated).

Also pins the MEASURED Spark call-order facts the pacing design rests
on (test_measured_call_order) — if a Spark upgrade changes them, that
test fails before any double-delivery can."""

from __future__ import annotations

import shutil
import tempfile
import time

import pytest

from interop_datalake_spark.lake.delta_interop import export_delta_log
from interop_datalake_spark.lake.iceberg_interop import (
    export_iceberg_metadata,
)
from interop_datalake_spark.lake.txn import TxnTable
from interop_datalake_spark.session import DatalakeSession
from interop_datalake_spark.streaming.delta_source import (
    read_delta_cdc_stream,
    read_delta_stream,
)
from interop_datalake_spark.streaming.iceberg_source import (
    read_iceberg_cdc_stream,
    read_iceberg_stream,
)
from interop_datalake_spark.streaming.pacing import Pacer
from interop_datalake_spark.streaming.txn_source import read_txn_stream

pytestmark = pytest.mark.filterwarnings("ignore")


class TestPacer:
    def test_uncapped_passthrough_and_monotone(self):
        p = Pacer(0)
        assert p.advance(5, None) == 5
        # a shrinking "latest" (never happens on append-only logs, but
        # the guard must hold) cannot move the offset backwards
        assert p.advance(3, None) == 5

    def test_fresh_run_first_advance_is_capped(self):
        # latestOffset precedes initialOffset on fresh runs — the base
        # falls back to the configured start, so even the very first
        # advance is bounded
        p = Pacer(-1)
        assert p.advance(9, lambda b: b + 2) == 1
        assert p.advance(9, lambda b: b + 2) == 3

    def test_restart_note_seeds_base(self):
        # partitions(start, end) replays the checkpointed window
        # before the first latestOffset on restarts — note(end) must
        # win over the configured start
        p = Pacer(-1)
        p.note(4)
        assert p.advance(9, lambda b: b + 2) == 6

    def test_cap_beyond_latest_clamps(self):
        p = Pacer(0)
        assert p.advance(1, lambda b: b + 10) == 1


def _commits_of(bdf, col):
    return {r[col] for r in bdf.select(col).distinct().collect()}


def _drain_throttled(stream_df, ckpt, col, expected, cap):
    """Run ``stream_df`` with a processing-time trigger until every
    value of ``expected`` has been seen in ``col``; return the list of
    per-batch commit/snapshot sets. Asserts the throttle INSIDE the
    sink too (fail fast on an unbounded batch)."""
    batches: list[set] = []

    def sink(bdf, eid):
        vs = _commits_of(bdf, col)
        if vs:
            batches.append(vs)

    q = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if batches and set().union(*batches) == expected:
                break
            time.sleep(0.25)
    finally:
        q.stop()
    assert batches and set().union(*batches) == expected, batches
    assert all(len(b) <= cap for b in batches), batches
    assert len(batches) >= (len(expected) + cap - 1) // cap, batches
    return batches


@pytest.fixture()
def lake(spark):
    root = tempfile.mkdtemp(prefix="pacing_")
    yield DatalakeSession(lake_root=root, spark=spark)
    shutil.rmtree(root, ignore_errors=True)


def _build_history(spark, lake, name, n, exporter):
    t = TxnTable(lake, name, stats_cols=["k"])
    for i in range(n):
        t.append(spark.createDataFrame([(i,)], "k INT"))
        exporter(t)
    return t


class TestForeignStreamCatchup:
    """The headline scenario: a FRESH stream over an already-long
    history — round 13 planned it all as one unthrottleable opener;
    now it drains in ≤cap hops from the very first batch."""

    def test_delta_appends(self, spark, lake, tmp_path):
        t = _build_history(
            spark, lake, "pd1", 5,
            lambda t: export_delta_log(t, mode="mirror"),
        )
        batches = _drain_throttled(
            read_delta_stream(
                spark, str(t.root), max_versions_per_trigger=2
            ),
            str(tmp_path / "ck"),
            "_commit_version",
            {0, 1, 2, 3, 4},
            cap=2,
        )
        # opener bounded: the first batch is NOT the whole backlog
        assert batches[0] == {0, 1}, batches

    def test_delta_cdc(self, spark, lake, tmp_path):
        t = _build_history(
            spark, lake, "pd2", 5,
            lambda t: export_delta_log(t, mode="mirror"),
        )
        _drain_throttled(
            read_delta_cdc_stream(
                spark, str(t.root), max_versions_per_trigger=2
            ),
            str(tmp_path / "ck"),
            "_commit_version",
            {0, 1, 2, 3, 4},
            cap=2,
        )

    def test_iceberg_appends(self, spark, lake, tmp_path):
        t = _build_history(
            spark, lake, "pi1", 5, export_iceberg_metadata
        )
        batches = _drain_throttled(
            read_iceberg_stream(
                spark, str(t.root), max_snapshots_per_trigger=2
            ),
            str(tmp_path / "ck"),
            "_snapshot_id",
            set(range(1, 6)),  # exporter snapshot ids = versions 1..5
            cap=2,
        )
        assert batches[0] == {1, 2}, batches

    def test_iceberg_cdc(self, spark, lake, tmp_path):
        t = _build_history(
            spark, lake, "pi2", 5, export_iceberg_metadata
        )
        _drain_throttled(
            read_iceberg_cdc_stream(
                spark, str(t.root), max_snapshots_per_trigger=2
            ),
            str(tmp_path / "ck"),
            "_sequence_number",
            set(range(1, 6)),
            cap=2,
        )

    def test_txntable(self, spark, lake, tmp_path):
        """The native source paces through the same shared offset
        code as the four foreign formats."""
        _build_history(spark, lake, "pt1", 5, lambda t: None)
        batches = _drain_throttled(
            read_txn_stream(lake, "pt1", max_versions_per_trigger=2),
            str(tmp_path / "ck"),
            "_commit_version",
            {1, 2, 3, 4, 5},  # TxnTable versions start at 1
            cap=2,
        )
        assert batches[0] == {1, 2}, batches


class TestRestartThrottled:
    def test_delta_restart_first_batch_bounded_no_duplicates(
        self, spark, lake, tmp_path
    ):
        """Stop a throttled stream mid-backlog, extend the history,
        restart on the same checkpoint: the restart's batches stay ≤2
        commits (the old caveat exempted the first) and no commit is
        delivered twice across the runs."""
        t = _build_history(
            spark, lake, "pr1", 4,
            lambda t: export_delta_log(t, mode="mirror"),
        )
        ckpt = str(tmp_path / "ck")
        seen: list[set] = []

        def sink(bdf, eid):
            vs = _commits_of(bdf, "_commit_version")
            if vs:
                seen.append(vs)

        q = (
            read_delta_stream(
                spark, str(t.root), max_versions_per_trigger=2
            )
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 120
            while time.time() < deadline and not seen:
                time.sleep(0.2)
        finally:
            q.stop()
        assert seen and seen[0] == {0, 1}, seen
        first_run = set().union(*seen)

        for i in range(4, 6):
            t.append(spark.createDataFrame([(i,)], "k INT"))
            export_delta_log(t, mode="mirror")

        restart: list[set] = []

        def sink2(bdf, eid):
            vs = _commits_of(bdf, "_commit_version")
            if vs:
                restart.append(vs)

        q2 = (
            read_delta_stream(
                spark, str(t.root), max_versions_per_trigger=2
            )
            .writeStream.foreachBatch(sink2)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 120
            while time.time() < deadline:
                if restart and set().union(*restart) >= (
                    set(range(6)) - first_run
                ):
                    break
                time.sleep(0.25)
        finally:
            q2.stop()
        assert all(len(b) <= 2 for b in restart), restart
        # exactly-once across the stop/restart: Spark replays the last
        # UNCOMMITTED batch of run 1 (same offsets, same rows — that
        # replay is the API's at-least-once seam, not a pacing bug),
        # so dedupe the replayed batch before asserting disjointness
        replay = [b for b in restart if b == seen[-1]]
        fresh = [b for b in restart if b != seen[-1]]
        assert len(replay) <= 1, restart
        delivered = [v for b in fresh for v in b]
        assert len(delivered) == len(set(delivered)), restart
        assert not (set(delivered) & first_run), (seen, restart)
        assert set().union(first_run, *restart) == set(range(6))


def test_measured_call_order(spark, tmp_path):
    """Pin the TWO Spark facts streaming/pacing.py relies on
    (measured on 4.1.2): (a) a fresh run may call latestOffset before
    initialOffset — so the throttle must seed from the configured
    start, and (b) a RESTART calls partitions(start, end) on the
    checkpointed window BEFORE the first latestOffset — so note(end)
    reveals the true base. If (b) ever stops holding, throttled
    restarts could hand Spark an offset below its checkpoint; this
    test failing is the early warning."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    log_path = tmp_path / "calls.log"
    n_path = tmp_path / "n.txt"
    log_path.write_text("")
    n_path.write_text("2")

    class OrderProbeReader(DataSourceStreamReader):
        def __init__(self, log_file, n_file):
            self.log_file = log_file
            self.n_file = n_file

        def _log(self, msg):
            with open(self.log_file, "a") as f:
                f.write(msg + "\n")

        def initialOffset(self):
            self._log("initialOffset")
            return {"v": 0}

        def latestOffset(self):
            self._log("latestOffset")
            return {"v": int(open(self.n_file).read())}

        def partitions(self, start, end):
            self._log(f"partitions {start['v']} {end['v']}")
            return [
                InputPartition(i)
                for i in range(start["v"], end["v"])
            ]

        def commit(self, end):
            self._log("commit")

        def read(self, p):
            yield (p.value,)

    class OrderProbeSource(DataSource):
        @classmethod
        def name(cls):
            return "order_probe"

        def schema(self):
            return "v int"

        def streamReader(self, schema):
            return OrderProbeReader(
                self.options["log"], self.options["nfile"]
            )

    spark.dataSource.register(OrderProbeSource)
    ckpt = str(tmp_path / "ckpt")

    def tail_after(marker):
        lines = log_path.read_text().splitlines()
        return lines[lines.index(f"=== {marker}") + 1 :]

    def run(marker, bump_to):
        with open(log_path, "a") as f:
            f.write(f"=== {marker}\n")
        q = (
            spark.readStream.format("order_probe")
            .option("log", str(log_path))
            .option("nfile", str(n_path))
            .load()
            .writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        deadline = time.time() + 60
        while time.time() < deadline:
            if any(
                c.startswith("partitions") for c in tail_after(marker)
            ):
                break
            time.sleep(0.2)
        if bump_to:
            n_path.write_text(str(bump_to))
            time.sleep(2)
        q.stop()

    run("fresh", bump_to=None)
    run("restart", bump_to=5)

    lines = log_path.read_text().splitlines()
    fresh = lines[
        lines.index("=== fresh") + 1 : lines.index("=== restart")
    ]
    restart = lines[lines.index("=== restart") + 1 :]

    # (a) fresh: the first latestOffset comes before any partitions
    # call — only the configured start can seed the base
    assert fresh[0] == "latestOffset", fresh
    # (b) restart: partitions on the checkpointed window precedes the
    # first latestOffset
    first_latest = next(
        i for i, c in enumerate(restart) if c == "latestOffset"
    )
    replays = [
        c for c in restart[:first_latest] if c.startswith("partitions")
    ]
    assert replays, restart
    assert replays[0].split()[2] == "2", restart  # checkpointed end


def test_pacer_property_monotone_and_bounded():
    """Property fuzz: for ANY interleaving of note()s (restart
    replays) and advance()s over a nondecreasing head, the pacer's
    returned offsets are (a) nondecreasing, (b) never past the head,
    and (c) each advance moves at most `cap` past the highest offset
    previously revealed — the no-backwards / bounded-hop contract
    Spark's offset WAL depends on."""
    from hypothesis import given, strategies as st

    @given(
        st.integers(min_value=-1, max_value=3),
        st.lists(
            st.tuples(
                st.sampled_from(["note", "advance"]),
                st.integers(min_value=0, max_value=50),
            ),
            min_size=1,
            max_size=40,
        ),
        st.integers(min_value=1, max_value=5),
    )
    def run(start, ops, n):
        p = Pacer(start)
        head = start
        revealed = start
        last_ret = None
        for kind, bump in ops:
            head = max(head, revealed) + bump
            if kind == "note":
                # a replayed window end can never exceed what was
                # previously revealed (Spark replays its own WAL)
                p.note(revealed)
            else:
                ret = p.advance(head, lambda b: b + n)
                assert ret <= head
                assert ret <= revealed + n  # bounded hop
                if last_ret is not None:
                    assert ret >= last_ret  # monotone
                last_ret = ret
                revealed = max(revealed, ret)

    run()
