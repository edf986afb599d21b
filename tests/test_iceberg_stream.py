"""Streaming Iceberg source (streaming/iceberg_source.py) + the
pure-Python Avro reader it plans with (lake/avro_read.py): tail an
exported table's append history with readStream, resume from a
checkpoint, inject identity partition values, refuse non-append
snapshots — and pin the gateway-free Avro decoder byte-equal to the
bundled Java library on the exporter's own manifests."""

import json
import shutil
import struct
import tempfile
import zlib
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from interop_datalake_spark.lake.avro_read import read_avro_file
from interop_datalake_spark.lake.iceberg_interop import (
    export_iceberg_metadata,
    _jvm,
    _read_avro,
    _uri_to_path,
)
from interop_datalake_spark.lake.txn import TxnTable
from interop_datalake_spark.session import DatalakeSession
from interop_datalake_spark.streaming.iceberg_source import (
    read_iceberg_stream,
)

pytestmark = pytest.mark.filterwarnings("ignore")


@pytest.fixture()
def lake(spark):
    root = tempfile.mkdtemp(prefix="icestream_")
    yield DatalakeSession(lake_root=root, spark=spark)
    shutil.rmtree(root, ignore_errors=True)


def _drain(spark, path, ckpt, sink_rows, starting_after_sequence=0):
    q = (
        read_iceberg_stream(spark, path, starting_after_sequence)
        .writeStream.foreachBatch(
            lambda bdf, eid: sink_rows.extend(bdf.collect())
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain in 120s"
    return q


class TestAvroReader:
    def test_pure_python_decode_matches_java_library(self, spark, lake):
        t = TxnTable(lake, "av1", stats_cols=["k"], partition_cols=["tenant"])
        t.append(
            spark.createDataFrame(
                [(1, "A", "x"), (2, "B", "y")],
                "k INT, tenant STRING, v STRING",
            )
        )
        export_iceberg_metadata(t)
        meta = json.loads(
            (t.root / "metadata" / "v1.metadata.json").read_text()
        )
        ml = Path(_uri_to_path(meta["snapshots"][-1]["manifest-list"]))
        jrecs, _ = _read_avro(_jvm(spark), ml)
        precs, pmeta = read_avro_file(ml)
        assert len(precs) == len(jrecs) == 1
        assert str(jrecs[0].get("manifest_path")) == precs[0][
            "manifest_path"
        ]
        mp = Path(_uri_to_path(precs[0]["manifest_path"]))
        jm, _ = _read_avro(_jvm(spark), mp)
        pm, _ = read_avro_file(mp)
        assert len(pm) == len(jm) == 2
        for jr, pr in zip(jm, pm):
            jd, pd = jr.get("data_file"), pr["data_file"]
            assert str(jd.get("file_path")) == pd["file_path"]
            assert int(jd.get("record_count")) == pd["record_count"]
            assert {
                k: (None if v is None else str(v))
                for k, v in pd["partition"].items()
            } == {"tenant": str(jd.get("partition").get("tenant"))}

    def test_deflate_codec_and_blocked_arrays(self, tmp_path):
        """Hand-encode a container file per the public spec (zigzag
        varints, deflate blocks, negative-count array blocks) and
        decode it — spec-level coverage independent of any writer."""

        def zz(n: int) -> bytes:
            u = (n << 1) ^ (n >> 63)
            out = bytearray()
            while True:
                b = u & 0x7F
                u >>= 7
                if u:
                    out.append(b | 0x80)
                else:
                    out.append(b)
                    return bytes(out)

        def s(x: str) -> bytes:
            b = x.encode()
            return zz(len(b)) + b

        schema = {
            "type": "record",
            "name": "r",
            "fields": [
                {"name": "x", "type": "long"},
                {"name": "tags", "type": {"type": "array", "items": "string"}},
                {"name": "opt", "type": ["null", "double"]},
            ],
        }
        rec = (
            zz(7)
            # array in TWO blocks, the second size-prefixed (negative
            # count → byte size follows)
            + zz(1) + s("a")
            + zz(-1) + zz(len(s("b"))) + s("b")
            + zz(0)
            + zz(1) + struct.pack("<d", 2.5)
        )
        block = rec + rec
        payload = zlib.compress(block, 6)[2:-4]  # raw deflate
        sync = b"S" * 16
        meta = (
            zz(2)
            + s("avro.schema") + (lambda b: zz(len(b)) + b)(
                json.dumps(schema).encode()
            )
            + s("avro.codec") + (lambda b: zz(len(b)) + b)(b"deflate")
            + zz(0)
        )
        path = tmp_path / "hand.avro"
        path.write_bytes(
            b"Obj\x01" + meta + sync
            + zz(2) + zz(len(payload)) + payload + sync
        )
        recs, m = read_avro_file(path)
        assert recs == [
            {"x": 7, "tags": ["a", "b"], "opt": 2.5},
            {"x": 7, "tags": ["a", "b"], "opt": 2.5},
        ]

    def test_unsupported_codec_refused(self, tmp_path):
        def zz(n):
            u = (n << 1) ^ (n >> 63)
            out = bytearray()
            while True:
                b = u & 0x7F
                u >>= 7
                if u:
                    out.append(b | 0x80)
                else:
                    out.append(b)
                    return bytes(out)

        def kv(k, v):
            kb, vb = k.encode(), v
            return zz(len(kb)) + kb + zz(len(vb)) + vb

        meta = (
            zz(2)
            + kv("avro.schema", b'"long"')
            + kv("avro.codec", b"snappy")
            + zz(0)
        )
        p = tmp_path / "bad.avro"
        p.write_bytes(b"Obj\x01" + meta + b"S" * 16)
        with pytest.raises(ValueError, match="snappy"):
            read_avro_file(p)


class TestIcebergStream:
    def test_tails_snapshots_and_resumes(self, spark, lake, tmp_path):
        t = TxnTable(lake, "is1", stats_cols=["k"], partition_cols=["tenant"])
        t.append(
            spark.createDataFrame(
                [(1, "A", "x"), (2, "B", "y")],
                "k INT, tenant STRING, v STRING",
            )
        )
        export_iceberg_metadata(t)
        t.append(
            spark.createDataFrame(
                [(3, "A", "z")], "k INT, tenant STRING, v STRING"
            )
        )
        export_iceberg_metadata(t)
        got: list = []
        ckpt = str(tmp_path / "ck1")
        _drain(spark, str(t.root), ckpt, got)
        # identity partition values inject mid-schema, snapshot tags on
        assert {(r.k, r.tenant, r.v) for r in got} == {
            (1, "A", "x"), (2, "B", "y"), (3, "A", "z"),
        }
        snap_of = {r.k: r._snapshot_id for r in got}
        assert snap_of[1] == snap_of[2] != snap_of[3]

        # new export, SAME checkpoint → only the delta arrives
        t.append(
            spark.createDataFrame(
                [(4, "B", "w")], "k INT, tenant STRING, v STRING"
            )
        )
        export_iceberg_metadata(t)
        got2: list = []
        _drain(spark, str(t.root), ckpt, got2)
        assert {(r.k, r.tenant) for r in got2} == {(4, "B")}

    def test_starting_after_sequence_skips_history(
        self, spark, lake, tmp_path
    ):
        t = TxnTable(lake, "is2", stats_cols=["k"])
        t.append(spark.range(0, 3).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        t.append(spark.range(3, 5).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        got: list = []
        _drain(
            spark, str(t.root), str(tmp_path / "ck2"), got,
            starting_after_sequence=1,
        )
        assert sorted(r.k for r in got) == [3, 4]

    def test_non_append_snapshot_refused(self, spark, lake, tmp_path):
        from pyspark.errors.exceptions.captured import (
            StreamingQueryException,
        )

        t = TxnTable(lake, "is3", stats_cols=["k"])
        t.append(spark.range(0, 5).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        t.delete_where(F.col("k") == 2, merge_on_read=True)
        export_iceberg_metadata(t)  # overwrite snapshot (MOR delete)
        with pytest.raises(
            StreamingQueryException,
            match="adds delete files|cannot express",
        ):
            q = (
                read_iceberg_stream(spark, str(t.root))
                .writeStream.format("noop")
                .option(
                    "checkpointLocation", str(tmp_path / "ck3")
                )
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

    def test_v3_append_only_table_streams(self, spark, lake, tmp_path):
        """format-version 3 carries sequence numbers like v2: an
        append-only v3 table streams every row exactly once, and a v3
        snapshot that adds delete files still refuses."""
        from pyspark.sql.types import StructType

        from interop_datalake_spark.streaming.iceberg_source import (
            IcebergAppendsDataSource,
            IcebergStreamReader,
        )

        t = TxnTable(lake, "is5", stats_cols=["k"])
        t.append(spark.range(0, 3).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t, format_version=3)
        t.append(spark.range(3, 5).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        got: list = []
        _drain(spark, str(t.root), str(tmp_path / "ck5"), got)
        assert sorted(r.k for r in got) == [0, 1, 2, 3, 4]
        assert {r.k: r._snapshot_id for r in got} == {
            0: 1, 1: 1, 2: 1, 3: 2, 4: 2,
        }
        # a Puffin-DV delete snapshot, relabelled "append" the way a
        # foreign writer might: the delete-manifest check refuses it
        t.delete_where(F.col("k") == 1, merge_on_read=True)
        export_iceberg_metadata(t)
        meta_dir = t.root / "metadata"
        n = int((meta_dir / "version-hint.text").read_text())
        mp = meta_dir / f"v{n}.metadata.json"
        meta = json.loads(mp.read_text())
        assert meta["format-version"] == 3
        for snap in meta["snapshots"]:
            snap["summary"]["operation"] = "append"
        mp.write_text(json.dumps(meta))
        ds = IcebergAppendsDataSource({"path": str(t.root)})
        rdr = IcebergStreamReader(
            str(t.root), StructType.fromDDL(ds.schema()), 0
        )
        with pytest.raises(ValueError, match="adds delete files"):
            rdr.partitions({"seq": 0}, rdr.latestOffset())

    def test_nested_schema_refused_at_plan_time(self, spark, lake):
        t = TxnTable(lake, "is4", stats_cols=["k"])
        t.append(
            spark.range(2)
            .selectExpr("id as k", "named_struct('a', id) as s")
            .coalesce(1)
        )
        export_iceberg_metadata(t)
        with pytest.raises(Exception, match="nested|primitive"):
            read_iceberg_stream(spark, str(t.root)).writeStream


class TestExpireSnapshots:
    def test_expire_keeps_reachable_manifests(self, spark, lake):
        from interop_datalake_spark.lake.iceberg_interop import (
            expire_iceberg_snapshots,
            read_iceberg,
        )

        t = TxnTable(lake, "ex1", stats_cols=["k"])
        for lo, hi in ((0, 5), (5, 8), (8, 10)):
            t.append(
                spark.range(lo, hi).selectExpr("id as k").coalesce(1)
            )
            export_iceberg_metadata(t)
        meta_dir = t.root / "metadata"
        snaps_before = json.loads(
            (meta_dir / "v3.metadata.json").read_text()
        )["snapshots"]
        assert len(snaps_before) == 3
        expired = expire_iceberg_snapshots(t, keep_last=2)
        assert expired == [snaps_before[0]["snapshot-id"]]
        # current read still complete: snapshot 1's MANIFEST is
        # carried forward by the retained lists and must survive —
        # only its manifest LIST file is reclaimable
        back = read_iceberg(spark, str(t.root))
        assert sorted(r.k for r in back.collect()) == list(range(10))
        # retained time travel works; expired id refuses
        assert (
            read_iceberg(
                spark, str(t.root),
                snapshot_id=snaps_before[1]["snapshot-id"],
            ).count()
            == 8
        )
        with pytest.raises(ValueError, match="not present"):
            read_iceberg(
                spark, str(t.root),
                snapshot_id=snaps_before[0]["snapshot-id"],
            )
        # the expired snapshot's manifest-list file is gone
        ml0 = Path(_uri_to_path(snaps_before[0]["manifest-list"]))
        assert not ml0.exists()
        # round-11 advice: the expiry-published metadata must not
        # claim it was last updated BEFORE its own metadata-log tail
        m4 = json.loads((meta_dir / "v4.metadata.json").read_text())
        assert m4["last-updated-ms"] >= max(
            e["timestamp-ms"] for e in m4["metadata-log"]
        )

    def test_stream_resume_across_expiry_refuses(
        self, spark, lake, tmp_path
    ):
        from interop_datalake_spark.lake.iceberg_interop import (
            expire_iceberg_snapshots,
        )
        from pyspark.errors.exceptions.captured import (
            StreamingQueryException,
        )

        t = TxnTable(lake, "ex2", stats_cols=["k"])
        t.append(spark.range(0, 3).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        for lo, hi in ((3, 5), (5, 7)):
            t.append(
                spark.range(lo, hi).selectExpr("id as k").coalesce(1)
            )
            export_iceberg_metadata(t)
        expire_iceberg_snapshots(t, keep_last=1)
        # a fresh stream from seq 0 would need the expired history —
        # the expiry guard refuses instead of silently skipping rows
        with pytest.raises(
            StreamingQueryException, match="expired"
        ):
            q = (
                read_iceberg_stream(spark, str(t.root))
                .writeStream.format("noop")
                .option(
                    "checkpointLocation", str(tmp_path / "cke")
                )
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
        # starting after the retained boundary works
        got: list = []
        _drain(
            spark, str(t.root), str(tmp_path / "cke2"), got,
            starting_after_sequence=2,
        )
        assert sorted(r.k for r in got) == [5, 6]

    def test_expire_noop_and_floor(self, spark, lake):
        from interop_datalake_spark.lake.iceberg_interop import (
            expire_iceberg_snapshots,
        )

        t = TxnTable(lake, "ex3", stats_cols=["k"])
        t.append(spark.range(2).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        assert expire_iceberg_snapshots(t, keep_last=1) == []
        with pytest.raises(ValueError, match="keep_last"):
            expire_iceberg_snapshots(t, keep_last=0)

    def test_expired_version_cannot_reexport(self, spark, lake):
        from interop_datalake_spark.lake.iceberg_interop import (
            expire_iceberg_snapshots,
        )

        t = TxnTable(lake, "ex4", stats_cols=["k"])
        t.append(spark.range(0, 3).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        t.append(spark.range(3, 5).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        assert expire_iceberg_snapshots(t, keep_last=1) == [1]
        # round-10 review: re-exporting the expired version would
        # re-add its snapshot id at a HIGHER sequence number — a
        # resumed stream would re-emit its rows as fresh adds
        with pytest.raises(ValueError, match="EXPIRED"):
            export_iceberg_metadata(t, version=1)
        # and the guard survives a later export (property carried)
        t.append(spark.range(5, 6).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        with pytest.raises(ValueError, match="EXPIRED"):
            export_iceberg_metadata(t, version=1)

    def test_expire_reclaims_orphaned_delete_parquets(
        self, spark, lake
    ):
        from interop_datalake_spark.lake.iceberg_interop import (
            expire_iceberg_snapshots,
            read_iceberg,
        )

        t = TxnTable(lake, "ex5", stats_cols=["k"])
        t.append(spark.range(0, 8).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        t.delete_where(F.col("k") == 3, merge_on_read=True)
        export_iceberg_metadata(t)  # writes a position-delete parquet
        t.compact()  # reconciles the vector into clean files
        export_iceberg_metadata(t)
        meta_dir = t.root / "metadata"
        dels_before = list(meta_dir.glob("*-deletes.parquet"))
        assert dels_before  # the MOR export materialized one
        expire_iceberg_snapshots(t, keep_last=1)
        # only the expired snapshots referenced it — reclaimed
        assert not list(meta_dir.glob("*-deletes.parquet"))
        back = read_iceberg(spark, str(t.root))
        assert sorted(r.k for r in back.collect()) == [
            0, 1, 2, 4, 5, 6, 7,
        ]


class TestIcebergCdcStream:
    """The iceberg_cdc readStream: every snapshot's DIFF as tagged
    change rows, matching the batch
    read_iceberg_changes(include_deletes=True) row for row."""

    def _drain_cdc(self, spark, path, ckpt, rows, after=0):
        from interop_datalake_spark.streaming.iceberg_source import (
            read_iceberg_cdc_stream,
        )

        q = (
            read_iceberg_cdc_stream(spark, path, after)
            .writeStream.foreachBatch(
                lambda bdf, eid: rows.extend(bdf.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "cdc stream did not drain"

    def test_matches_batch_changelog(self, spark, lake, tmp_path):
        """append → append → MOR delete → cumulative MOR delete →
        compact (rewrite): the stream's cumulative change rows equal
        the batch changelog, and a checkpointed resume streams only
        the new snapshot."""
        from interop_datalake_spark.lake.iceberg_interop import (
            read_iceberg_changes,
        )

        t = TxnTable(lake, "icdc1", stats_cols=["k"])
        t.append(
            spark.range(0, 20).selectExpr("id as k").coalesce(1)
        )
        export_iceberg_metadata(t)
        base = json.loads(
            (t.root / "metadata" / "v1.metadata.json").read_text()
        )["current-snapshot-id"]
        t.append(
            spark.range(20, 30).selectExpr("id as k").coalesce(1)
        )
        export_iceberg_metadata(t)
        t.delete_where(F.col("k") % 4 == 0, merge_on_read=True)
        export_iceberg_metadata(t)
        t.delete_where(F.col("k") == 1, merge_on_read=True)
        export_iceberg_metadata(t)  # cumulative delete parquet
        t.compact()
        export_iceberg_metadata(t)  # rewrite: drops + adds

        got: list = []
        self._drain_cdc(spark, str(t.root), str(tmp_path / "ic1"), got)
        want = {
            (r["k"], r["_change_type"], r["_snapshot_id"])
            for r in read_iceberg_changes(
                spark, str(t.root), base, include_deletes=True
            ).collect()
        }
        # the stream ALSO covers the base snapshot (offset 0 = from
        # the beginning); align by starting the batch read before it
        base_rows = {
            (k, "insert", base) for k in range(20)
        }
        assert {
            (r.k, r._change_type, r._snapshot_id) for r in got
        } == want | base_rows
        assert all(r._commit_timestamp is not None for r in got)

        # resume: one more MOR delete streams incrementally
        t.delete_where(F.col("k") == 7, merge_on_read=True)
        export_iceberg_metadata(t)
        more: list = []
        self._drain_cdc(
            spark, str(t.root), str(tmp_path / "ic1"), more
        )
        assert {(r.k, r._change_type) for r in more} == {
            (7, "delete")
        }

    def test_v3_puffin_dvs_stream(self, spark, lake, tmp_path):
        """v3 Puffin deletion vectors: the DV diff streams
        executor-decoded, cumulative across snapshots."""
        t = TxnTable(lake, "icdc2", stats_cols=["k"])
        t.append(
            spark.range(0, 12).selectExpr("id as k").coalesce(1)
        )
        export_iceberg_metadata(t, format_version=3)
        t.delete_where(F.col("k").isin(2, 5), merge_on_read=True)
        export_iceberg_metadata(t)  # Puffin DV snapshot
        t.delete_where(F.col("k") == 9, merge_on_read=True)
        export_iceberg_metadata(t)  # cumulative Puffin DV

        got: list = []
        self._drain_cdc(spark, str(t.root), str(tmp_path / "ic2"), got)
        by_type: dict = {}
        for r in got:
            by_type.setdefault(r._change_type, set()).add(r.k)
        assert by_type["insert"] == set(range(12))
        assert by_type["delete"] == {2, 5, 9}
        # each delete emitted exactly once (the cumulative rule)
        assert (
            len([r for r in got if r._change_type == "delete"]) == 3
        )

    def test_shrinking_deletes_refuse(self, spark, lake, tmp_path):
        """A restored position (delete state SHRINKS) refuses like
        the batch reader — never a silent wrong change set."""
        from pyspark.errors.exceptions.captured import (
            StreamingQueryException,
        )

        t = TxnTable(lake, "icdc3", stats_cols=["k"])
        t.append(spark.range(0, 6).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        t.delete_where(F.col("k").isin(1, 2), merge_on_read=True)
        export_iceberg_metadata(t)
        t.restore(1)  # vector cleared: delete state shrinks
        t.append(spark.range(6, 7).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        got: list = []
        with pytest.raises(StreamingQueryException):
            self._drain_cdc(
                spark, str(t.root), str(tmp_path / "ic3"), got
            )
