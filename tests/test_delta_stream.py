"""Foreign-Delta ``readStream`` source (streaming/delta_source.py):
tail the append history of a ``_delta_log`` table — the delta-spark
``readStream.format("delta")`` analog — through the Python DataSource
API with vectorized Arrow reads. Driven through REAL readStream
queries (availableNow) against logs written by the repo's own
exporter AND hand-written commits, with resume across checkpoints,
starting_after_version, and the planning-time refusals (retraction,
DV'd add, schema change, expired history)."""

from __future__ import annotations

import json
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from interop_datalake_spark.lake.delta_interop import export_delta_log
from interop_datalake_spark.lake.txn import TxnTable
from interop_datalake_spark.session import DatalakeSession
from interop_datalake_spark.streaming.delta_source import (
    read_delta_stream,
)

pytestmark = pytest.mark.filterwarnings("ignore")


@pytest.fixture()
def lake(spark):
    root = tempfile.mkdtemp(prefix="dstream_")
    yield DatalakeSession(lake_root=root, spark=spark)
    shutil.rmtree(root, ignore_errors=True)


def _drain(spark, path, ckpt, sink_rows, starting_after_version=-1):
    q = (
        read_delta_stream(spark, path, starting_after_version)
        .writeStream.foreachBatch(
            lambda bdf, eid: sink_rows.extend(bdf.collect())
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain in 120s"
    return q


class TestDeltaStream:
    def test_tails_commits_and_resumes(self, spark, lake, tmp_path):
        t = TxnTable(
            lake, "ds1", stats_cols=["k"], partition_cols=["tenant"]
        )
        t.append(
            spark.createDataFrame(
                [(1, "A", "x"), (2, "B", "y")],
                "k INT, tenant STRING, v STRING",
            )
        )
        export_delta_log(t, mode="mirror")
        t.append(
            spark.createDataFrame(
                [(3, "A", "z")], "k INT, tenant STRING, v STRING"
            )
        )
        export_delta_log(t, mode="mirror")
        got: list = []
        ckpt = str(tmp_path / "ck1")
        _drain(spark, str(t.root), ckpt, got)
        assert {(r.k, r.tenant, r.v) for r in got} == {
            (1, "A", "x"), (2, "B", "y"), (3, "A", "z"),
        }
        ver_of = {r.k: r._commit_version for r in got}
        assert ver_of[1] == ver_of[2] == 0 and ver_of[3] == 1

        # new mirrored commit, SAME checkpoint → only the delta
        t.append(
            spark.createDataFrame(
                [(4, "B", "w")], "k INT, tenant STRING, v STRING"
            )
        )
        export_delta_log(t, mode="mirror")
        got2: list = []
        _drain(spark, str(t.root), ckpt, got2)
        assert {(r.k, r.tenant) for r in got2} == {(4, "B")}
        assert got2[0]._commit_version == 2

    def test_starting_after_version_skips_history(
        self, spark, lake, tmp_path
    ):
        t = TxnTable(lake, "ds2", stats_cols=["k"])
        t.append(spark.range(0, 3).selectExpr("id as k").coalesce(1))
        export_delta_log(t, mode="mirror")
        t.append(spark.range(3, 5).selectExpr("id as k").coalesce(1))
        export_delta_log(t, mode="mirror")
        got: list = []
        _drain(
            spark, str(t.root), str(tmp_path / "ck2"), got,
            starting_after_version=0,
        )
        assert sorted(r.k for r in got) == [3, 4]

    def test_compaction_is_skipped_as_rewrite(
        self, spark, lake, tmp_path
    ):
        t = TxnTable(lake, "ds3", stats_cols=["k"])
        t.append(spark.range(0, 4).selectExpr("id as k"))
        export_delta_log(t, mode="mirror")
        got: list = []
        ckpt = str(tmp_path / "ck3")
        _drain(spark, str(t.root), ckpt, got)
        assert sorted(r.k for r in got) == [0, 1, 2, 3]
        # compact mirrors as the OPTIMIZE shape natively:
        # dataChange=false on both sides, so streaming consumers
        # (this source AND delta-spark's) skip the rewrite instead of
        # reprocessing every row
        t.compact(target_files=1)
        export_delta_log(t, mode="mirror")
        log = t.root / "_delta_log"
        acts = [
            json.loads(line)
            for line in (log / f"{1:020d}.json").read_text().splitlines()
            if line.strip()
        ]
        assert acts, "compaction commit missing"
        flags = [
            a[k]["dataChange"]
            for a in acts
            for k in ("add", "remove")
            if k in a
        ]
        assert flags and not any(flags)
        got2: list = []
        _drain(spark, str(t.root), ckpt, got2)
        assert got2 == []  # pure rewrite: no new rows
        # and the batch reader still sees the post-compact state
        from interop_datalake_spark.lake.delta_interop import read_delta

        assert read_delta(spark, str(t.root)).count() == 4

    def test_typed_partition_columns_stream(self, spark, lake, tmp_path):
        """Non-string partition columns inject typed: the Delta log
        spells their types ``integer``/``date``, the declared schema
        ``int``/``date``."""
        from datetime import date

        t = TxnTable(
            lake, "ds9", stats_cols=["k"], partition_cols=["bucket", "d"]
        )
        t.append(
            spark.createDataFrame(
                [(1, 7, date(2024, 3, 1)), (2, 9, date(2024, 3, 2))],
                "k INT, bucket INT, d DATE",
            )
        )
        export_delta_log(t, mode="mirror")
        got: list = []
        _drain(spark, str(t.root), str(tmp_path / "ck9"), got)
        assert sorted((r.k, r.bucket, r.d) for r in got) == [
            (1, 7, date(2024, 3, 1)), (2, 9, date(2024, 3, 2)),
        ]

    def test_retraction_and_dv_adds_refused(self, spark, lake, tmp_path):
        from pyspark.errors.exceptions.captured import (
            StreamingQueryException,
        )

        t = TxnTable(lake, "ds4", stats_cols=["k"])
        t.append(spark.range(0, 6).selectExpr("id as k").coalesce(1))
        export_delta_log(t, mode="mirror")
        t.delete_where(F.col("k") < 2, merge_on_read=True)
        export_delta_log(t, mode="mirror")  # remove + DV'd re-add
        got: list = []
        with pytest.raises(StreamingQueryException, match="retraction|MOR"):
            _drain(spark, str(t.root), str(tmp_path / "ck4"), got)

    def test_schema_evolution_semantics(self, spark, lake, tmp_path):
        """Historical evolution is safe (a fresh stream null-fills
        old files through schema-on-read); MID-STREAM evolution — a
        window metaData carrying columns the reader's declared schema
        lacks — refuses at planning time."""
        t = TxnTable(lake, "ds5", stats_cols=["k"])
        t.append(spark.range(0, 2).selectExpr("id as k").coalesce(1))
        export_delta_log(t, mode="mirror")
        old_schema_string = json.dumps(
            {
                "type": "struct",
                "fields": [
                    {"name": "k", "type": "long", "nullable": True,
                     "metadata": {}}
                ],
            }
        )
        t.append(
            spark.range(2, 4).selectExpr("id as k", "'n' as extra")
        )
        export_delta_log(t, mode="mirror")  # schema evolution commit
        # fresh stream: declared schema is the CURRENT one; v0 files
        # null-fill the new column
        got: list = []
        _drain(spark, str(t.root), str(tmp_path / "ck5"), got)
        assert {(r.k, r.extra) for r in got} == {
            (0, None), (1, None), (2, "n"), (3, "n"),
        }
        # mid-stream: a reader that resolved the OLD schema meets the
        # evolution commit in its window → loud planning refusal
        from pyspark.sql.types import StructType

        from interop_datalake_spark.streaming.delta_source import (
            DeltaStreamReader,
        )

        reader = DeltaStreamReader(
            str(t.root),
            StructType.fromJson(json.loads(old_schema_string)),
            -1,
            old_schema_string,
            [],
        )
        with pytest.raises(ValueError, match="schema changed"):
            reader.partitions({"version": -1}, {"version": 1})

    def test_expired_history_refused(self, spark, lake, tmp_path):
        from pyspark.errors.exceptions.captured import (
            StreamingQueryException,
        )

        from interop_datalake_spark.lake.delta_interop import (
            expire_delta_log,
        )

        t = TxnTable(lake, "ds6", stats_cols=["k"])
        t.append(spark.range(0, 2).selectExpr("id as k").coalesce(1))
        export_delta_log(t, mode="mirror", checkpoint_every=2)
        for i in range(1, 3):
            t.append(
                spark.range(2 * i, 2 * i + 2)
                .selectExpr("id as k")
                .coalesce(1)
            )
            export_delta_log(t, mode="mirror", checkpoint_every=2)
        assert expire_delta_log(t) > 0  # drops jsons before v2
        got: list = []
        with pytest.raises(StreamingQueryException, match="expired"):
            _drain(spark, str(t.root), str(tmp_path / "ck6"), got)
        # a fresh stream from the retained range works
        got2: list = []
        _drain(
            spark, str(t.root), str(tmp_path / "ck6b"), got2,
            starting_after_version=1,
        )
        assert sorted(r.k for r in got2) == [4, 5]

    def test_column_mapping_refused_at_schema_time(
        self, spark, lake, tmp_path
    ):
        t = TxnTable(lake, "ds7", stats_cols=["k"])
        t.append(spark.range(0, 2).selectExpr("id as k").coalesce(1))
        log_dir = export_delta_log(t)
        p = log_dir / f"{0:020d}.json"
        p.write_text(
            p.read_text().replace(
                '"configuration": {}',
                '"configuration": {"delta.columnMapping.mode": "name"}',
            )
        )
        with pytest.raises(Exception, match="columnMapping|batch reader"):
            read_delta_stream(spark, str(t.root)).schema

    def test_midstream_upgrade_refused(self, spark, lake, tmp_path):
        """Round-12 ADVICE: a window that UPGRADES the table — a
        protocol claiming reader features beyond the stream-safe set,
        or a metaData configuration enabling columnMapping — must
        refuse at planning time, not NULL later files' columns."""
        from pyspark.sql.types import StructType

        from interop_datalake_spark.streaming.delta_source import (
            DeltaStreamReader,
        )

        t = TxnTable(lake, "ds8", stats_cols=["k"])
        t.append(spark.range(0, 2).selectExpr("id as k").coalesce(1))
        log_dir = export_delta_log(t, mode="mirror")
        meta = json.loads(
            next(
                line
                for line in (log_dir / f"{0:020d}.json")
                .read_text()
                .splitlines()
                if '"metaData"' in line
            )
        )["metaData"]

        def reader():
            return DeltaStreamReader(
                str(t.root),
                StructType.fromJson(json.loads(meta["schemaString"])),
                -1,
                meta["schemaString"],
                [],
            )

        # in-window protocol upgrade to an unimplemented feature
        (log_dir / f"{1:020d}.json").write_text(
            json.dumps(
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": ["columnMapping"],
                        "writerFeatures": ["columnMapping"],
                    }
                }
            )
            + "\n"
        )
        with pytest.raises(ValueError, match="reader features"):
            reader().partitions({"version": -1}, {"version": 1})
        # in-window configuration change enabling columnMapping (the
        # schema itself is unchanged, so the fingerprint check alone
        # would pass this silently)
        md = dict(meta)
        md["configuration"] = {"delta.columnMapping.mode": "name"}
        (log_dir / f"{1:020d}.json").write_text(
            json.dumps({"metaData": md}) + "\n"
        )
        with pytest.raises(ValueError, match="columnMapping"):
            reader().partitions({"version": -1}, {"version": 1})
        # a benign stream-safe protocol action still plans fine
        (log_dir / f"{1:020d}.json").write_text(
            json.dumps(
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": ["deletionVectors"],
                        "writerFeatures": ["deletionVectors"],
                    }
                }
            )
            + "\n"
        )
        parts = reader().partitions({"version": -1}, {"version": 1})
        assert len(parts) == 1  # v0's add only

    def test_nested_typed_table_streams(self, spark, lake, tmp_path):
        """Nested (struct) columns flow through the Arrow read path,
        and the schema fingerprint handles dict-typed fields (a raw
        set() over them would TypeError at planning)."""
        t = TxnTable(lake, "ds8", stats_cols=[])
        df = spark.createDataFrame(
            [(1, (10, "a")), (2, (20, "b"))],
            "k INT, payload STRUCT<x: INT, y: STRING>",
        )
        t.append(df.coalesce(1))
        export_delta_log(t, mode="mirror")
        got: list = []
        _drain(spark, str(t.root), str(tmp_path / "ck8"), got)
        assert {(r.k, r.payload.x, r.payload.y) for r in got} == {
            (1, 10, "a"), (2, 20, "b"),
        }
        assert all(r._commit_version == 0 for r in got)


class TestDeltaCdcStream:
    """The delta_cdc readStream format: retraction commits stream as
    tagged change rows (lifting delta_appends' refusal), matching the
    batch read_delta_changes row for row."""

    def _drain_cdc(self, spark, path, ckpt, rows, after=-1):
        from interop_datalake_spark.streaming.delta_source import (
            read_delta_cdc_stream,
        )

        q = (
            read_delta_cdc_stream(spark, path, after)
            .writeStream.foreachBatch(
                lambda bdf, eid: rows.extend(bdf.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "cdc stream did not drain"

    def test_matches_batch_cdc_reader(self, spark, lake, tmp_path):
        """Append → MOR delete → MOR merge mirrored history: the
        stream's cumulative change rows equal the batch CDC read
        (and therefore the TxnTable change feed, by the batch
        test's parity)."""
        from interop_datalake_spark.lake.delta_interop import (
            read_delta_changes,
        )

        t = TxnTable(lake, "dsc1", stats_cols=["k"])
        t.append(
            spark.range(0, 30)
            .selectExpr("id as k", "cast(id % 3 as int) as g")
            .repartition(2)
        )
        export_delta_log(t, mode="mirror")
        t.delete_where(F.col("k") % 4 == 0, merge_on_read=True)
        export_delta_log(t, mode="mirror")
        up = spark.createDataFrame([(1, 77), (500, 9)], "k BIGINT, g INT")
        t.merge(up, ["k"], merge_on_read=True)
        export_delta_log(t, mode="mirror")

        got: list = []
        self._drain_cdc(spark, str(t.root), str(tmp_path / "c1"), got)
        got_set = {
            (r.k, r.g, r._change_type, r._commit_version) for r in got
        }
        want = {
            (r["k"], r["g"], r["_change_type"], r["_commit_version"])
            for r in read_delta_changes(spark, str(t.root), -1).collect()
        }
        assert got_set == want
        assert all(r._commit_timestamp is not None for r in got)

        # resume: a new commit streams incrementally from the
        # checkpoint (delete shape again — the lifted refusal)
        t.delete_where(F.col("k") == 1, merge_on_read=True)
        export_delta_log(t, mode="mirror")
        more: list = []
        self._drain_cdc(spark, str(t.root), str(tmp_path / "c1"), more)
        assert {(r.k, r._change_type) for r in more} == {(1, "delete")}

    def test_cdc_actions_authoritative_in_stream(
        self, spark, lake, tmp_path
    ):
        """A hand-appended commit with cdc actions streams exactly
        the _change_data rows; its add/remove are ignored."""
        import pyspark.sql.functions as SF

        t = TxnTable(lake, "dsc2", stats_cols=["k"])
        t.append(
            spark.createDataFrame([(1, "a"), (2, "b")], "k INT, v STRING")
            .coalesce(1)
        )
        log_dir = export_delta_log(t, mode="mirror")
        cdc_dir = t.root / "_change_data"
        spark.createDataFrame(
            [(2, "b", "update_preimage"), (2, "B", "update_postimage")],
            "k INT, v STRING, _change_type STRING",
        ).coalesce(1).write.parquet(str(cdc_dir / "c0"))
        cdc_rel = "_change_data/c0/" + next(
            p.name for p in (cdc_dir / "c0").iterdir()
            if p.name.endswith(".parquet")
        )
        (log_dir / f"{1:020d}.json").write_text(
            "\n".join(
                json.dumps(a)
                for a in [
                    {"commitInfo": {"timestamp": 1700000000000,
                                    "operation": "UPDATE"}},
                    {"remove": {"path": "ghost.parquet",
                                "dataChange": True}},
                    {"cdc": {"path": cdc_rel, "partitionValues": {},
                             "size": 1, "dataChange": False}},
                ]
            )
            + "\n"
        )
        got: list = []
        self._drain_cdc(spark, str(t.root), str(tmp_path / "c2"), got)
        changed = [r for r in got if r._commit_version == 1]
        assert {(r.k, r.v, r._change_type) for r in changed} == {
            (2, "b", "update_preimage"),
            (2, "B", "update_postimage"),
        }
        # initial snapshot arrived as inserts
        assert {
            (r.k, r.v) for r in got if r._commit_version == 0
        } == {(1, "a"), (2, "b")} and all(
            r._change_type == "insert"
            for r in got
            if r._commit_version == 0
        )
        del SF

    def test_partitioned_cow_delete_streams(self, spark, lake, tmp_path):
        """Copy-on-write partition overwrite: removes carry the new
        extended file metadata, so deleted rows stream with their
        partition columns."""
        t = TxnTable(lake, "dsc3", partition_cols=["site"],
                     stats_cols=["k"])
        t.append(
            spark.createDataFrame(
                [(1, "a"), (2, "a"), (3, "b")], "k INT, site STRING"
            )
        )
        export_delta_log(t, mode="mirror")
        t.overwrite_partitions(
            spark.createDataFrame([(9, "a")], "k INT, site STRING")
        )
        export_delta_log(t, mode="mirror")
        got: list = []
        self._drain_cdc(
            spark, str(t.root), str(tmp_path / "c3"), got, after=0
        )
        assert {(r.k, r.site, r._change_type) for r in got} == {
            (1, "a", "delete"),
            (2, "a", "delete"),
            (9, "a", "insert"),
        }

    def test_paired_no_dv_rewrite_matches_batch(
        self, spark, lake, tmp_path
    ):
        """remove+add of the SAME file with dataChange=true and no
        deletion vector on either side: the position diff is empty,
        so the commit changed nothing — the batch reader emits zero
        rows and the stream must match (it used to fall through to a
        whole-file delete+insert)."""
        from interop_datalake_spark.lake.delta_interop import (
            read_delta_changes,
        )

        t = TxnTable(lake, "dsc4", stats_cols=["k"])
        t.append(
            spark.createDataFrame([(1, "a"), (2, "b")], "k INT, v STRING")
            .coalesce(1)
        )
        log_dir = export_delta_log(t, mode="mirror")
        add0 = next(
            json.loads(line)["add"]
            for line in (log_dir / f"{0:020d}.json").read_text()
            .splitlines()
            if "\"add\"" in line
        )
        (log_dir / f"{1:020d}.json").write_text(
            "\n".join(
                json.dumps(a)
                for a in [
                    {"commitInfo": {"timestamp": 1700000001000,
                                    "operation": "REWRITE"}},
                    {"remove": {"path": add0["path"],
                                "partitionValues": {},
                                "dataChange": True}},
                    {"add": {"path": add0["path"],
                             "partitionValues": {},
                             "size": add0.get("size", 1),
                             "modificationTime": 1700000001000,
                             "dataChange": True}},
                ]
            )
            + "\n"
        )
        assert (
            read_delta_changes(spark, str(t.root), 0).count() == 0
        )
        got: list = []
        self._drain_cdc(
            spark, str(t.root), str(tmp_path / "c4"), got, after=0
        )
        assert got == []


class TestEvolutionRestart:
    """delta-spark's schemaTrackingLocation UX, pinned: a running
    stream REFUSES at an add-column evolution commit (loud, offsets
    not advanced), and a restarted query on the SAME checkpoint
    re-resolves the widened schema and resumes exactly where it
    stopped — the evolution commit streams, nothing is skipped or
    double-read, and post-restart pre-evolution files null-fill."""

    def test_appends_resume_across_add_column(
        self, spark, lake, tmp_path
    ):
        t = TxnTable(lake, "evo1", stats_cols=["k"])
        t.append(spark.range(0, 3).selectExpr("id as k").coalesce(1))
        export_delta_log(t, mode="mirror")
        ck = str(tmp_path / "evo_ck")
        r1: list = []
        _drain(spark, str(t.root), ck, r1)
        assert sorted(r.k for r in r1) == [0, 1, 2]

        # the table evolves while the stream is down; a reader still
        # holding the OLD schema would refuse this window (the
        # mid-stream case test_schema_evolution_semantics pins)
        t.append(
            spark.createDataFrame(
                [(3, "x")], "k BIGINT, extra STRING"
            ).coalesce(1)
        )
        export_delta_log(t, mode="mirror")
        t.append(
            spark.createDataFrame(
                [(4, "y")], "k BIGINT, extra STRING"
            ).coalesce(1)
        )
        export_delta_log(t, mode="mirror")

        # restart on the SAME checkpoint: the new query resolves the
        # widened schema and resumes from the stored offset — both
        # the evolution commit and the later one stream, once each
        r2: list = []
        _drain(spark, str(t.root), ck, r2)
        assert sorted((r.k, r.extra) for r in r2) == [
            (3, "x"), (4, "y"),
        ]

    def test_cdc_resume_across_add_column_with_retraction(
        self, spark, lake, tmp_path
    ):
        """The delta_cdc twin — and the post-restart window also
        replays a PRE-evolution file (a DV delete touches it), which
        must null-fill the new column under the widened schema."""
        from interop_datalake_spark.streaming.delta_source import (
            read_delta_cdc_stream,
        )

        def drain_cdc(path, ck, rows):
            q = (
                read_delta_cdc_stream(spark, path)
                .writeStream.foreachBatch(
                    lambda b, e: rows.extend(b.collect())
                )
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(120)

        t = TxnTable(lake, "evo2", stats_cols=["k"])
        t.append(
            spark.range(0, 4).selectExpr("id as k").coalesce(1)
        )
        export_delta_log(t, mode="mirror")
        ck = str(tmp_path / "evo2_ck")
        r1: list = []
        drain_cdc(str(t.root), ck, r1)
        assert {(r.k, r._change_type) for r in r1} == {
            (k, "insert") for k in range(4)
        }

        t.append(
            spark.createDataFrame(
                [(9, "n")], "k BIGINT, extra STRING"
            ).coalesce(1)
        )
        export_delta_log(t, mode="mirror")
        # a MOR delete on a PRE-evolution file: its delete rows
        # stream post-restart and must null-fill `extra`
        t.delete_where(F.col("k") == 1, merge_on_read=True)
        export_delta_log(t, mode="mirror")

        r2: list = []
        drain_cdc(str(t.root), ck, r2)
        assert {(r.k, r.extra, r._change_type) for r in r2} == {
            (9, "n", "insert"),
            (1, None, "delete"),
        }
