"""Iceberg v2 metadata interop (lake/iceberg_interop.py): exporting a
TxnTable snapshot as an Iceberg Hadoop table (metadata json + Avro
manifest list + manifest, written through the bundled Avro Java
library) and reading it back with the self-contained reader. Mirrors
tests/test_delta_interop.py's export half: roundtrip equality,
snapshot append with EXISTING carry + stable identity, refusals,
manifest-level pruning, typed values."""

from __future__ import annotations

import json
import shutil
import tempfile
from datetime import date, datetime, timezone
from decimal import Decimal
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from interop_datalake_spark.lake.iceberg_interop import (
    export_iceberg_metadata,
    iceberg_files,
    read_iceberg,
)
from interop_datalake_spark.lake.txn import TxnTable
from interop_datalake_spark.session import DatalakeSession


@pytest.fixture()
def lake(spark):
    root = tempfile.mkdtemp(prefix="ice_")
    yield DatalakeSession(lake_root=root, spark=spark)
    shutil.rmtree(root, ignore_errors=True)


def _meta(t, n=None):
    d = t.root / "metadata"
    if n is None:
        n = int((d / "version-hint.text").read_text())
    return json.loads((d / f"v{n}.metadata.json").read_text())


class TestExportRoundtrip:
    def test_roundtrip_equals_snapshot(self, spark, lake):
        t = TxnTable(lake, "i1", stats_cols=["k"])
        t.append(
            spark.range(0, 50)
            .selectExpr("id as k", "concat('v', id) as v")
            .coalesce(1)
        )
        t.append(
            spark.range(50, 80)
            .selectExpr("id as k", "concat('v', id) as v")
            .coalesce(1)
        )
        export_iceberg_metadata(t)
        back = read_iceberg(spark, str(t.root))
        assert back.count() == 80
        assert sorted(r.k for r in back.collect()) == list(range(80))
        assert [f.name for f in back.schema.fields] == ["k", "v"]

    def test_metadata_shape_is_v2(self, spark, lake):
        t = TxnTable(lake, "i2", stats_cols=["k"])
        t.append(spark.range(5).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        m = _meta(t)
        assert m["format-version"] == 2
        for key in (
            "table-uuid",
            "last-sequence-number",
            "last-column-id",
            "schemas",
            "partition-specs",
            "sort-orders",
            "current-snapshot-id",
            "snapshots",
        ):
            assert key in m, key
        # the name mapping makes field-id-less parquet readable by
        # compliant engines — the standard migration property
        nm = json.loads(m["properties"]["schema.name-mapping.default"])
        assert {e["names"][0]: e["field-id"] for e in nm} == {"k": 1}
        assert (t.root / "metadata" / "version-hint.text").read_text() == "1"

    def test_snapshot_append_carries_existing_and_identity(
        self, spark, lake
    ):
        t = TxnTable(lake, "i3", stats_cols=["k"])
        t.append(spark.range(0, 10).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        uuid1 = _meta(t)["table-uuid"]
        snap1 = _meta(t)["current-snapshot-id"]
        t.append(spark.range(10, 15).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        m = _meta(t)
        assert m["table-uuid"] == uuid1  # stable identity
        assert len(m["snapshots"]) == 2
        assert m["last-sequence-number"] == 2
        # time travel to the first exported snapshot
        assert read_iceberg(spark, str(t.root), snapshot_id=snap1).count() == 10
        assert read_iceberg(spark, str(t.root)).count() == 15

    def test_reexport_unchanged_snapshot_is_noop(self, spark, lake):
        t = TxnTable(lake, "i4", stats_cols=["k"])
        t.append(spark.range(3).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        hint = (t.root / "metadata" / "version-hint.text").read_text()
        export_iceberg_metadata(t)  # same TxnTable version
        assert (
            t.root / "metadata" / "version-hint.text"
        ).read_text() == hint

    def test_schema_evolution_appends_schema_id(self, spark, lake):
        t = TxnTable(lake, "i5", stats_cols=["k"])
        t.append(spark.range(3).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        t.append(
            spark.range(3, 5)
            .selectExpr("id as k", "'x' as extra")
            .coalesce(1)
        )
        export_iceberg_metadata(t)
        m = _meta(t)
        assert len(m["schemas"]) == 2
        assert m["current-schema-id"] == 1
        back = read_iceberg(spark, str(t.root))
        assert back.count() == 5
        assert back.filter(F.col("extra").isNull()).count() == 3


class TestPartitioned:
    def test_identity_partition_injection_and_null(self, spark, lake):
        t = TxnTable(lake, "ip1", partition_cols=["tenant"])
        t.append(
            spark.createDataFrame(
                [(1, "A", "x"), (2, "B", "y"), (3, None, "z")],
                "k INT, tenant STRING, v STRING",
            )
        )
        export_iceberg_metadata(t)
        back = read_iceberg(spark, str(t.root))
        assert sorted(
            (r.k, r.tenant, r.v) for r in back.collect()
        ) == [(1, "A", "x"), (2, "B", "y"), (3, None, "z")]

    def test_partition_filter_prunes_files(self, spark, lake):
        t = TxnTable(lake, "ip2", partition_cols=["tenant"])
        t.append(
            spark.createDataFrame(
                [(1, "A", "x"), (2, "B", "y")],
                "k INT, tenant STRING, v STRING",
            )
        )
        export_iceberg_metadata(t)
        all_f = iceberg_files(spark, str(t.root))
        a_f = iceberg_files(
            spark, str(t.root), partition_filter={"tenant": "A"}
        )
        assert 0 < len(a_f) < len(all_f)

    def test_typed_int_partition(self, spark, lake):
        t = TxnTable(lake, "ip3", partition_cols=["bucket"])
        t.append(
            spark.createDataFrame(
                [(1, 7, "x"), (2, 9, "y")], "k INT, bucket INT, v STRING"
            )
        )
        export_iceberg_metadata(t)
        back = read_iceberg(spark, str(t.root))
        assert sorted((r.k, r.bucket) for r in back.collect()) == [
            (1, 7),
            (2, 9),
        ]
        assert dict(back.dtypes)["bucket"] == "int"

    def test_unmatched_file_path_raises(self, spark, lake, monkeypatch):
        """The consolidated read attaches partition values by file
        path; a file whose path matches no manifest entry must raise
        instead of reading its partition columns as NULL."""
        from interop_datalake_spark.lake import iceberg_interop as ii

        t = TxnTable(lake, "ip4", partition_cols=["tenant"])
        t.append(
            spark.createDataFrame([(1, "A"), (2, "B")], "k INT, tenant STRING")
        )
        export_iceberg_metadata(t)
        assert sorted(
            (r.k, r.tenant) for r in read_iceberg(spark, str(t.root)).collect()
        ) == [(1, "A"), (2, "B")]
        canon = ii._canon_path_expr
        monkeypatch.setattr(
            ii, "_canon_path_expr", lambda c: F.concat(canon(c), F.lit("#"))
        )
        with pytest.raises(Exception, match="no tenant value for file"):
            read_iceberg(spark, str(t.root)).collect()


class TestBoundsPruning:
    def test_key_range_prunes_by_binary_bounds(self, spark, lake):
        t = TxnTable(lake, "ib1", stats_cols=["k"])
        for i in range(4):  # 4 files, disjoint k ranges
            t.append(
                spark.range(i * 100, (i + 1) * 100)
                .selectExpr("id as k", "'x' as v")
                .coalesce(1)
            )
        export_iceberg_metadata(t)
        all_f = iceberg_files(spark, str(t.root))
        assert len(all_f) == 4
        point = iceberg_files(
            spark, str(t.root), key_range=("k", 150, 160)
        )
        assert len(point) == 1
        # the pruned read is exact after the residual filter
        got = (
            read_iceberg(spark, str(t.root), key_range=("k", 150, 160))
            .filter(F.col("k").between(150, 160))
            .count()
        )
        assert got == 11

    def test_string_bounds(self, spark, lake):
        t = TxnTable(lake, "ib2", stats_cols=["s"])
        t.append(
            spark.createDataFrame(
                [("apple",), ("banana",)], "s STRING"
            ).coalesce(1)
        )
        t.append(
            spark.createDataFrame(
                [("walnut",), ("zebra",)], "s STRING"
            ).coalesce(1)
        )
        export_iceberg_metadata(t)
        f = iceberg_files(
            spark, str(t.root), key_range=("s", "aardvark", "cherry")
        )
        assert len(f) == 1


class TestTypedValues:
    def test_date_timestamp_decimal_roundtrip(self, spark, lake):
        t = TxnTable(lake, "it1", stats_cols=["d"])
        rows = [
            (
                date(2024, 3, 1),
                datetime(2024, 3, 1, 12, 30, 0, tzinfo=timezone.utc),
                Decimal("12.34"),
                1.5,
                True,
            ),
            (
                date(2025, 1, 2),
                datetime(2025, 1, 2, 1, 2, 3, tzinfo=timezone.utc),
                Decimal("99.99"),
                -2.5,
                False,
            ),
        ]
        t.append(
            spark.createDataFrame(
                rows,
                "d DATE, ts TIMESTAMP, m DECIMAL(6,2), x DOUBLE, b BOOLEAN",
            ).coalesce(1)
        )
        export_iceberg_metadata(t)
        back = sorted(
            map(tuple, read_iceberg(spark, str(t.root)).collect())
        )
        assert [r[0] for r in back] == [date(2024, 3, 1), date(2025, 1, 2)]
        assert [r[2] for r in back] == [Decimal("12.34"), Decimal("99.99")]
        assert [r[3] for r in back] == [1.5, -2.5]
        # date bounds prune through the binary serialization
        f = iceberg_files(
            spark,
            str(t.root),
            key_range=("d", date(2024, 1, 1), date(2024, 12, 31)),
        )
        assert len(f) == 1


class TestRefusals:
    def test_oversized_vector_set_refused(self, spark, lake):
        from interop_datalake_spark.lake import iceberg_interop as ii

        t = TxnTable(lake, "ir1", stats_cols=["k"])
        t.append(spark.range(5).selectExpr("id as k").coalesce(1))
        t.delete_where(F.col("k") == 1, merge_on_read=True)
        orig = ii._DELETE_EXPORT_MAX_ROWS
        try:
            ii._DELETE_EXPORT_MAX_ROWS = 0
            with pytest.raises(ValueError, match="position-delete"):
                export_iceberg_metadata(t)
        finally:
            ii._DELETE_EXPORT_MAX_ROWS = orig
        # within the bound, the vectored snapshot exports as
        # merge-on-read (see TestMergeOnRead)
        export_iceberg_metadata(t)
        assert read_iceberg(spark, str(t.root)).count() == 4

    def test_xxhash_bucket_transform_refused(self, spark, lake):
        """bucket[N] cannot map: TxnTable hashes xxhash64, Iceberg's
        spec mandates murmur3-32 — a compliant engine's bucket
        pruning over the exported dir numbers would silently drop
        matching files."""
        t = TxnTable(
            lake,
            "ir2",
            partition_transforms={"k_bucket": ["bucket", 4, "k"]},
            stats_cols=["k"],
        )
        t.append(spark.range(5).selectExpr("id as k").coalesce(1))
        with pytest.raises(ValueError, match="murmur3"):
            export_iceberg_metadata(t)

    def test_unmappable_primitive_refused(self, spark, lake):
        # nested struct/array/map export since round 10
        # (TestNestedTypes); genuinely unmappable primitives
        # (interval/variant) still refuse loudly at the type mapper
        from interop_datalake_spark.lake.iceberg_interop import (
            _iceberg_type,
        )

        with pytest.raises(ValueError, match="cannot map"):
            _iceberg_type("interval day", "c")

    def test_unknown_snapshot_refused(self, spark, lake):
        t = TxnTable(lake, "ir4", stats_cols=["k"])
        t.append(spark.range(3).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        with pytest.raises(ValueError, match="not present"):
            read_iceberg(spark, str(t.root), snapshot_id=999)

    def test_missing_metadata_refused(self, spark, lake):
        t = TxnTable(lake, "ir5")
        t.append(spark.range(2).selectExpr("id as k"))
        with pytest.raises(FileNotFoundError):
            read_iceberg(spark, str(t.root))


class TestManifestInternals:
    def test_existing_entries_carry_origin_ids(self, spark, lake):
        """Second export: surviving files are EXISTING with the
        FIRST snapshot's id — the manifest-list counts split
        added/existing accordingly."""
        from interop_datalake_spark.lake.iceberg_interop import (
            _load_metadata,
            _read_avro,
            _uri_to_path,
        )

        t = TxnTable(lake, "im1", stats_cols=["k"])
        t.append(spark.range(0, 10).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        snap1 = _meta(t)["current-snapshot-id"]
        t.append(spark.range(10, 14).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        meta = _load_metadata(str(t.root))
        snap = next(
            s
            for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        jvm = spark._jvm
        lists, lmeta = _read_avro(
            jvm, Path(_uri_to_path(snap["manifest-list"]))
        )
        assert lmeta["format-version"] == "2"
        (mf,) = lists
        assert mf.get("added_files_count") == 1
        assert mf.get("existing_files_count") == 1
        assert mf.get("added_rows_count") == 4
        assert mf.get("existing_rows_count") == 10
        entries, emeta = _read_avro(
            jvm, Path(_uri_to_path(str(mf.get("manifest_path"))))
        )
        assert emeta["content"] == "data"
        by_status = {}
        for e in entries:
            by_status.setdefault(e.get("status"), []).append(e)
        assert set(by_status) == {0, 1}
        (existing,) = by_status[0]
        assert existing.get("snapshot_id") == snap1
        assert existing.get("sequence_number") == 1
        (added,) = by_status[1]
        assert added.get("snapshot_id") is None  # inherits


class TestRound9ReviewFixes:
    def test_vacuum_deletes_dangling_iceberg_export(self, spark, lake):
        """Round-9 review: vacuum must give the Iceberg export the
        same keep-or-delete contract as _delta_log — reclaiming a file
        the CURRENT snapshot references deletes metadata/ instead of
        leaving external engines dangling file:// URIs."""
        t = TxnTable(lake, "rv1", stats_cols=["k"])
        t.append(spark.range(10).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        t.overwrite(spark.range(3).selectExpr("id as k").coalesce(1))
        t.vacuum(keep_versions=1)  # reclaims v1's files
        assert not (t.root / "metadata" / "version-hint.text").exists()

    def test_vacuum_keeps_current_iceberg_export(self, spark, lake):
        t = TxnTable(lake, "rv2", stats_cols=["k"])
        t.append(spark.range(10).selectExpr("id as k").coalesce(1))
        t.delete_where(F.col("k") < 3)  # copy-on-write rewrite
        export_iceberg_metadata(t)  # current snapshot: post-delete
        removed = t.vacuum(keep_versions=1)
        assert removed > 0  # the pre-delete subdir was reclaimed
        assert (t.root / "metadata" / "version-hint.text").exists()
        assert read_iceberg(spark, str(t.root)).count() == 7

    def test_export_lock_excludes_concurrent_writers(self, spark, lake):
        import fcntl
        import os as _os

        t = TxnTable(lake, "rv3", stats_cols=["k"])
        t.append(spark.range(5).selectExpr("id as k").coalesce(1))
        fd = _os.open(
            t.root / ".iceberg_export.lock", _os.O_CREAT | _os.O_RDWR
        )
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            with pytest.raises(ValueError, match="lock"):
                export_iceberg_metadata(t)
        finally:
            _os.close(fd)
        export_iceberg_metadata(t)  # lock free: proceeds
        assert read_iceberg(spark, str(t.root)).count() == 5

    def test_reexport_of_older_version_refused(self, spark, lake):
        t = TxnTable(lake, "rv4", stats_cols=["k"])
        t.append(spark.range(5).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        t.append(spark.range(5, 8).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        with pytest.raises(ValueError, match="already exported"):
            export_iceberg_metadata(t, version=1)
        # time travel is the supported way to read the old version
        assert read_iceberg(spark, str(t.root), snapshot_id=1).count() == 5

    def test_metadata_json_published_atomically(self, spark, lake):
        """No .tmp files survive a successful export; the hint always
        points at a complete json."""
        t = TxnTable(lake, "rv5", stats_cols=["k"])
        t.append(spark.range(5).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        md = t.root / "metadata"
        assert not list(md.glob(".tmp-*"))
        n = int((md / "version-hint.text").read_text())
        json.loads((md / f"v{n}.metadata.json").read_text())


class TestTransformPartitions:
    def test_day_transform_exports_and_reads_back(self, spark, lake):
        """TxnTable days(ts) hidden partitioning exports as an Iceberg
        day transform with epoch-ordinal partition values; the source
        column lives in the data files, so the roundtrip needs no
        injection and values are exact."""
        t = TxnTable(
            lake, "tt1",
            partition_transforms={"ts_day": ("days", "ts")},
            stats_cols=["k"],
        )
        t.append(
            spark.createDataFrame(
                [
                    (1, datetime(2024, 3, 1, 10, 0, tzinfo=timezone.utc)),
                    (2, datetime(2024, 3, 2, 11, 0, tzinfo=timezone.utc)),
                ],
                "k INT, ts TIMESTAMP",
            )
        )
        export_iceberg_metadata(t)
        m = _meta(t)
        (spec,) = m["partition-specs"]
        assert [f["transform"] for f in spec["fields"]] == ["day"]
        back = read_iceberg(spark, str(t.root))
        assert back.count() == 2
        assert sorted(r.k for r in back.collect()) == [1, 2]
        # the manifest partition tuple stores the epoch day ordinal
        from interop_datalake_spark.lake.iceberg_interop import (
            _load_metadata,
            _read_avro,
            _resolve_snapshot,
            _uri_to_path,
        )

        meta = _load_metadata(str(t.root))
        snap = _resolve_snapshot(meta, None)
        jvm = spark._jvm
        lists, _ = _read_avro(
            jvm, Path(_uri_to_path(snap["manifest-list"]))
        )
        entries, _ = _read_avro(
            jvm, Path(_uri_to_path(str(lists[0].get("manifest_path"))))
        )
        days = sorted(
            e.get("data_file").get("partition").get("ts_day")
            for e in entries
        )
        assert days == [
            (date(2024, 3, 1) - date(1970, 1, 1)).days,
            (date(2024, 3, 2) - date(1970, 1, 1)).days,
        ]

    def test_truncate_transform_exports(self, spark, lake):
        t = TxnTable(
            lake, "tt2",
            partition_transforms={"uid_t": ("truncate", 2, "uid")},
            stats_cols=["k"],
        )
        t.append(
            spark.createDataFrame(
                [(1, "aa-x"), (2, "ab-y"), (3, "zz-q")],
                "k INT, uid STRING",
            )
        )
        export_iceberg_metadata(t)
        m = _meta(t)
        (spec,) = m["partition-specs"]
        assert [f["transform"] for f in spec["fields"]] == ["truncate[2]"]
        back = read_iceberg(spark, str(t.root))
        assert sorted((r.k, r.uid) for r in back.collect()) == [
            (1, "aa-x"), (2, "ab-y"), (3, "zz-q"),
        ]


class TestIncrementalAppendScan:
    def test_changes_between_snapshots(self, spark, lake):
        from interop_datalake_spark.lake.iceberg_interop import (
            read_iceberg_changes,
        )

        t = TxnTable(lake, "ic1", stats_cols=["k"])
        t.append(spark.range(0, 10).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)  # snapshot 1
        t.append(spark.range(10, 14).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)  # snapshot 2
        t.append(spark.range(14, 16).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)  # snapshot 3
        ch = read_iceberg_changes(spark, str(t.root), 1)
        rows = sorted((r.k, r._snapshot_id) for r in ch.collect())
        assert [k for k, _ in rows] == list(range(10, 16))
        assert {s for k, s in rows if k < 14} == {2}
        assert {s for k, s in rows if k >= 14} == {3}
        # bounded window
        mid = read_iceberg_changes(spark, str(t.root), 1, 2)
        assert sorted(r.k for r in mid.collect()) == list(range(10, 14))

    def test_empty_window_and_unknown_snapshot(self, spark, lake):
        from interop_datalake_spark.lake.iceberg_interop import (
            read_iceberg_changes,
        )

        t = TxnTable(lake, "ic2", stats_cols=["k"])
        t.append(spark.range(5).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        cur = _meta(t)["current-snapshot-id"]
        assert read_iceberg_changes(spark, str(t.root), cur).count() == 0
        with pytest.raises(ValueError, match="not present"):
            read_iceberg_changes(spark, str(t.root), 999)


class TestChangesReviewFixes:
    def test_rewrite_snapshot_refuses_incremental_scan(self, spark, lake):
        """Round-9 review: the exporter labels a file-dropping export
        'overwrite' (compact/delete rewrote files), so the incremental
        append scan REFUSES instead of silently re-emitting rewritten
        rows as fresh changes."""
        from interop_datalake_spark.lake.iceberg_interop import (
            read_iceberg_changes,
        )

        t = TxnTable(lake, "cr1", stats_cols=["k"])
        t.append(spark.range(0, 10).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        t.append(spark.range(10, 12).selectExpr("id as k").coalesce(1))
        t.compact()  # rewrites everything into fresh files
        export_iceberg_metadata(t)
        m = _meta(t)
        assert m["snapshots"][-1]["summary"]["operation"] == "overwrite"
        with pytest.raises(ValueError, match="overwrite"):
            read_iceberg_changes(spark, str(t.root), 1)
        # full reads are unaffected
        assert read_iceberg(spark, str(t.root)).count() == 12

    def test_partitioned_changes_inject_identity_values(
        self, spark, lake
    ):
        """Round-9 review: the changes scan must apply the same Column
        Projection injection as read_iceberg — hive-layout files omit
        the partition column."""
        from interop_datalake_spark.lake.iceberg_interop import (
            read_iceberg_changes,
        )

        t = TxnTable(lake, "cr2", partition_cols=["tenant"])
        t.append(
            spark.createDataFrame(
                [(1, "A", "x")], "k INT, tenant STRING, v STRING"
            )
        )
        export_iceberg_metadata(t)
        t.append(
            spark.createDataFrame(
                [(2, "B", "y"), (3, "A", "z")],
                "k INT, tenant STRING, v STRING",
            )
        )
        export_iceberg_metadata(t)
        rows = sorted(
            (r.k, r.tenant, r._snapshot_id)
            for r in read_iceberg_changes(spark, str(t.root), 1).collect()
        )
        assert rows == [(2, "B", 2), (3, "A", 2)]

    def test_empty_window_schema_is_stable(self, spark, lake):
        from interop_datalake_spark.lake.iceberg_interop import (
            read_iceberg_changes,
        )

        t = TxnTable(lake, "cr3", stats_cols=["k"])
        t.append(spark.range(3).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        cur = _meta(t)["current-snapshot-id"]
        empty = read_iceberg_changes(spark, str(t.root), cur)
        t.append(spark.range(3, 5).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        full = read_iceberg_changes(spark, str(t.root), cur)
        # identical column names + types whether the window is empty
        # or populated (nullability differs by construction: a literal
        # column is non-nullable — schema-sensitive sinks key on type)
        assert empty.dtypes == full.dtypes
        assert dict(full.dtypes)["_snapshot_id"] == "bigint"

    def test_spec_evolution_allocates_fresh_field_ids(self, spark, lake):
        """Round-9 review: a NEW partition spec's field-ids continue
        from last-partition-id + 1 — never reusing an id for a
        different (source, transform) pair."""
        t = TxnTable(lake, "cr4", partition_cols=["tenant"])
        t.append(
            spark.createDataFrame(
                [(1, "A", "eu")], "k INT, tenant STRING, region STRING"
            )
        )
        export_iceberg_metadata(t)
        # evolve the spec: repartition the table by region
        t2 = TxnTable(lake, "cr4", partition_cols=["region"])
        t2.append(
            spark.createDataFrame(
                [(2, "B", "us")], "k INT, tenant STRING, region STRING"
            )
        )
        t2.compact()  # rewrite everything under the current spec
        export_iceberg_metadata(t2)
        m = _meta(t2)
        by_spec = {
            s["spec-id"]: [f["field-id"] for f in s["fields"]]
            for s in m["partition-specs"]
        }
        assert by_spec[0] == [1000]
        assert by_spec[1] == [1001]  # fresh id, never 1000 reused
        assert m["default-spec-id"] == 1
        assert m["last-partition-id"] == 1001
        assert read_iceberg(spark, str(t2.root)).count() == 2


class TestMergeOnRead:
    """Iceberg v2 position deletes: a vectored TxnTable snapshot
    exports a DELETE manifest + position-delete parquet, and the
    reader applies them by (path, pos) at the v2 sequence rule —
    merge-on-read without compaction."""

    def test_vectored_export_reads_back_exact(self, spark, lake):
        t = TxnTable(lake, "mor1", stats_cols=["k"])
        t.append(
            spark.range(0, 100)
            .selectExpr("id as k", "concat('v', id) as v")
            .coalesce(1)
        )
        t.delete_where(F.col("k") % 10 == 0, merge_on_read=True)
        t.delete_where(F.col("k") == 55, merge_on_read=True)  # stacked
        export_iceberg_metadata(t)
        back = read_iceberg(spark, str(t.root))
        expect = sorted(
            k for k in range(100) if k % 10 != 0 and k != 55
        )
        assert sorted(r.k for r in back.collect()) == expect
        # the delete parquet carries the spec's RESERVED field ids
        import pyarrow.parquet as pq

        (dp,) = list((t.root / "metadata").glob("*-deletes.parquet"))
        sch = pq.read_schema(str(dp))
        assert (
            sch.field("file_path").metadata[b"PARQUET:field_id"]
            == b"2147483546"
        )
        assert (
            sch.field("pos").metadata[b"PARQUET:field_id"]
            == b"2147483545"
        )
        m = _meta(t)
        assert m["snapshots"][-1]["summary"]["operation"] == "overwrite"

    def test_mor_then_append_snapshot_sequencing(self, spark, lake):
        """A later APPEND snapshot's rows are untouched by the earlier
        delete file (delete seq < new data seq — the v2 rule), while
        the old files' deletes still apply."""
        t = TxnTable(lake, "mor2", stats_cols=["k"])
        t.append(spark.range(0, 10).selectExpr("id as k").coalesce(1))
        t.delete_where(F.col("k") < 3, merge_on_read=True)
        export_iceberg_metadata(t)  # snapshot: deletes 0,1,2
        t.append(spark.range(100, 103).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        back = sorted(
            r.k for r in read_iceberg(spark, str(t.root)).collect()
        )
        assert back == list(range(3, 10)) + [100, 101, 102]
        # time travel to the vectored snapshot
        assert (
            read_iceberg(spark, str(t.root), snapshot_id=2).count() == 7
        )

    def test_partitioned_mor_roundtrip(self, spark, lake):
        t = TxnTable(lake, "mor3", partition_cols=["tenant"])
        t.append(
            spark.createDataFrame(
                [(1, "A", "x"), (2, "A", "y"), (3, "B", "z")],
                "k INT, tenant STRING, v STRING",
            )
        )
        t.delete_where(F.col("k") == 2, merge_on_read=True)
        export_iceberg_metadata(t)
        back = sorted(
            (r.k, r.tenant)
            for r in read_iceberg(spark, str(t.root)).collect()
        )
        assert back == [(1, "A"), (3, "B")]
        # the unpartitioned delete spec rode into the metadata
        m = _meta(t)
        assert any(not s["fields"] for s in m["partition-specs"])

    def test_mor_snapshot_refuses_incremental_scan(self, spark, lake):
        from interop_datalake_spark.lake.iceberg_interop import (
            read_iceberg_changes,
        )

        t = TxnTable(lake, "mor4", stats_cols=["k"])
        t.append(spark.range(5).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        t.delete_where(F.col("k") == 0, merge_on_read=True)
        export_iceberg_metadata(t)
        with pytest.raises(ValueError, match="overwrite"):
            read_iceberg_changes(spark, str(t.root), 1)

    def test_compact_after_mor_export_continues(self, spark, lake):
        """compact() reconciles the vectors; the next export drops the
        delete manifest and reads stay exact."""
        t = TxnTable(lake, "mor5", stats_cols=["k"])
        t.append(spark.range(0, 20).selectExpr("id as k").coalesce(1))
        t.delete_where(F.col("k") < 5, merge_on_read=True)
        export_iceberg_metadata(t)
        t.compact()
        export_iceberg_metadata(t)
        assert sorted(
            r.k for r in read_iceberg(spark, str(t.root)).collect()
        ) == list(range(5, 20))

    def test_unchanged_vectors_carry_and_appends_stay_appends(
        self, spark, lake
    ):
        """Round-9 review 3: a pure append on a table with a STANDING
        (unchanged) vector state carries the previous delete manifest
        verbatim — no duplicate delete parquet, the snapshot stays an
        'append', and the incremental scan keeps working (carried
        deletes have older seqs and cannot touch the new rows)."""
        from interop_datalake_spark.lake.iceberg_interop import (
            read_iceberg_changes,
        )

        t = TxnTable(lake, "mor6", stats_cols=["k"])
        t.append(spark.range(0, 10).selectExpr("id as k").coalesce(1))
        t.delete_where(F.col("k") < 3, merge_on_read=True)
        export_iceberg_metadata(t)  # regenerates: snapshot 2, overwrite
        n_del_files = len(
            list((t.root / "metadata").glob("*-deletes.parquet"))
        )
        t.append(spark.range(100, 103).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)  # vectors unchanged: carry
        assert (
            len(list((t.root / "metadata").glob("*-deletes.parquet")))
            == n_del_files
        )
        m = _meta(t)
        assert m["snapshots"][-1]["summary"]["operation"] == "append"
        # the incremental scan over the append window works
        ch = read_iceberg_changes(spark, str(t.root), 2)
        assert sorted(r.k for r in ch.collect()) == [100, 101, 102]
        # and the full read still applies the carried deletes
        assert sorted(
            r.k for r in read_iceberg(spark, str(t.root)).collect()
        ) == list(range(3, 10)) + [100, 101, 102]

    def test_changed_vectors_regenerate(self, spark, lake):
        t = TxnTable(lake, "mor7", stats_cols=["k"])
        t.append(spark.range(0, 10).selectExpr("id as k").coalesce(1))
        t.delete_where(F.col("k") == 0, merge_on_read=True)
        export_iceberg_metadata(t)
        t.delete_where(F.col("k") == 1, merge_on_read=True)  # new vector
        export_iceberg_metadata(t)
        m = _meta(t)
        assert m["snapshots"][-1]["summary"]["operation"] == "overwrite"
        assert (
            len(list((t.root / "metadata").glob("*-deletes.parquet")))
            == 2
        )
        assert sorted(
            r.k for r in read_iceberg(spark, str(t.root)).collect()
        ) == list(range(2, 10))


class TestNestedTypes:
    """Round-9 verdict item 5: struct/array/map columns export with
    proper nested field ids + name mapping and round-trip through the
    self-contained reader — the repo's own FHIR silver frames
    (lake/silver.py SILVER_SCHEMAS) are nested, so the most on-theme
    tables must round-trip."""

    def test_struct_array_map_roundtrip(self, spark, lake):
        t = TxnTable(lake, "inest", stats_cols=["k"])
        df = (
            spark.range(0, 20)
            .selectExpr(
                "id as k",
                "named_struct('a', id, 'b', concat('x', id), "
                "'c', named_struct('d', id * 2)) as s",
                "array(id, id + 1) as arr",
                "map(concat('m', id), id) as mp",
            )
            .coalesce(1)
        )
        t.append(df)
        export_iceberg_metadata(t)
        back = read_iceberg(spark, str(t.root))
        assert back.schema.simpleString() == df.schema.simpleString()
        got = sorted(back.collect(), key=lambda r: r.k)
        want = sorted(df.collect(), key=lambda r: r.k)
        assert got == want

    def test_nested_field_ids_unique_and_mapped(self, spark, lake):
        t = TxnTable(lake, "inest2", stats_cols=["k"])
        t.append(
            spark.range(3)
            .selectExpr(
                "id as k",
                "named_struct('a', id, 'b', array(id)) as s",
                "map('x', named_struct('y', id)) as mp",
            )
            .coalesce(1)
        )
        export_iceberg_metadata(t)
        m = _meta(t)
        schema = m["schemas"][-1]

        def _walk(t_):
            if not isinstance(t_, dict):
                return
            if t_["type"] == "struct":
                for f in t_["fields"]:
                    yield f["id"]
                    yield from _walk(f["type"])
            elif t_["type"] == "list":
                yield t_["element-id"]
                yield from _walk(t_["element"])
            elif t_["type"] == "map":
                yield t_["key-id"]
                yield from _walk(t_["key"])
                yield t_["value-id"]
                yield from _walk(t_["value"])

        all_ids = list(_walk(schema))
        assert len(all_ids) == len(set(all_ids))  # unique across tree
        assert m["last-column-id"] == max(all_ids)
        nm = json.loads(m["properties"]["schema.name-mapping.default"])
        s_entry = next(e for e in nm if e["names"] == ["s"])
        child_names = {f["names"][0] for f in s_entry["fields"]}
        assert child_names == {"a", "b"}
        mp_entry = next(e for e in nm if e["names"] == ["mp"])
        kv = {f["names"][0] for f in mp_entry["fields"]}
        assert kv == {"key", "value"}

    def test_fhir_silver_observation_roundtrip(self, spark, lake):
        from interop_datalake_spark.lake.silver import to_silver

        bronze = spark.createDataFrame(
            [
                (
                    "obs1",
                    '{"id":"obs1","status":"final",'
                    '"valueQuantity":{"value":7.5,"unit":"mg"}}',
                ),
                (
                    "obs2",
                    '{"id":"obs2","status":"amended",'
                    '"valueQuantity":{"value":1.25,"unit":"ml"}}',
                ),
            ],
            "doc_id STRING, resource_json STRING",
        )
        silver = to_silver(bronze, "observation").drop("resource_json")
        t = TxnTable(lake, "ifhir", stats_cols=["doc_id"])
        t.append(silver.coalesce(1))
        export_iceberg_metadata(t)
        back = read_iceberg(spark, str(t.root))
        got = sorted(back.collect(), key=lambda r: r.doc_id)
        want = sorted(silver.collect(), key=lambda r: r.doc_id)
        assert got == want
        assert got[0].valueQuantity.unit == "mg"

    def test_schema_append_keeps_existing_nested_ids(self, spark, lake):
        """Pre-order id stability: appending a top-level column must
        not renumber any existing (nested) field id — Iceberg readers
        key columns by id, so a renumber silently remaps data."""
        t = TxnTable(lake, "inest3", stats_cols=["k"])
        t.append(
            spark.range(3)
            .selectExpr("id as k", "named_struct('a', id) as s")
            .coalesce(1)
        )
        export_iceberg_metadata(t)
        before = _meta(t)["schemas"][-1]
        t.append(
            spark.range(3, 6)
            .selectExpr(
                "id as k",
                "named_struct('a', id) as s",
                "concat('n', id) as extra",
            )
            .coalesce(1)
        )
        export_iceberg_metadata(t)
        after = _meta(t)["schemas"][-1]
        by_name_before = {f["name"]: f for f in before["fields"]}
        by_name_after = {f["name"]: f for f in after["fields"]}
        for name, f in by_name_before.items():
            assert by_name_after[name] == f  # id AND nested ids stable
        assert by_name_after["extra"]["id"] == _meta(t)["last-column-id"]


def _add_eq_delete_snapshot(
    spark, t, rows, columns, eq_cols, partition=None, spec_id=None,
    force_seq=None, equality_ids="auto",
):
    """Hand-craft a FOREIGN-style equality-delete snapshot (the Flink
    CDC producer shape) on an exported Iceberg table: a content=2
    delete parquet + delete manifest + new manifest list carrying the
    previous snapshot's manifests forward, published as a new metadata
    version. ``partition``/``spec_id`` scope the delete to one
    partition tuple of a partitioned spec; default is an
    unpartitioned-spec (global) delete. ``force_seq`` overrides the
    new snapshot's sequence number (strict-inequality tests).
    Returns the new snapshot id."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import uuid as _uuid

    from interop_datalake_spark.lake.iceberg_interop import (
        _MANIFEST_FILE_SCHEMA,
        _AvroFileWriter,
        _jvm,
        _manifest_entry_schema,
        _partition_avro_fields,
        _partition_field_avro_type,
        _read_avro,
        _uri_to_path,
    )

    meta_dir = t.root / "metadata"
    n = int((meta_dir / "version-hint.text").read_text())
    meta = json.loads((meta_dir / f"v{n}.metadata.json").read_text())
    schema = next(
        s
        for s in meta["schemas"]
        if s["schema-id"] == meta["current-schema-id"]
    )
    name_to_id = {f["name"]: f["id"] for f in schema["fields"]}
    ids_to_type = {f["id"]: f["type"] for f in schema["fields"]}
    eq_ids = (
        [name_to_id[c] for c in eq_cols]
        if equality_ids == "auto"
        else equality_ids
    )
    jvm = _jvm(spark)
    seq = (
        int(meta["last-sequence-number"]) + 1
        if force_seq is None
        else force_seq
    )
    snap_id = max(s["snapshot-id"] for s in meta["snapshots"]) + 1000
    specs = list(meta["partition-specs"])

    # 1. the delete parquet (columns by name, like Flink writes)
    dp = meta_dir / f"eqdel-{_uuid.uuid4().hex}.parquet"
    pq.write_table(
        pa.table({c: list(v) for c, v in zip(columns, zip(*rows))}),
        dp,
    )

    # 2. spec + partition tuple of the delete file
    if partition is not None:
        spec = next(s for s in specs if s["spec-id"] == spec_id)
        pfields = _partition_avro_fields(spec["fields"], ids_to_type)
        part_record = {}
        for pf in spec["fields"]:
            at = _partition_field_avro_type(pf, ids_to_type)
            branch = at["type"] if isinstance(at, dict) else at
            v = partition.get(pf["name"])
            part_record[pf["name"]] = None if v is None else {branch: v}
        del_spec_id = spec_id
        spec_json = json.dumps(spec["fields"])
    else:
        empty = next((s for s in specs if not s["fields"]), None)
        if empty is None:
            del_spec_id = max(s["spec-id"] for s in specs) + 1
            specs.append({"spec-id": del_spec_id, "fields": []})
        else:
            del_spec_id = empty["spec-id"]
        pfields, part_record, spec_json = [], {}, "[]"

    # 3. delete manifest
    dm = meta_dir / f"{_uuid.uuid4().hex}-eqdel-m0.avro"
    dw = _AvroFileWriter(
        jvm,
        _manifest_entry_schema(pfields),
        dm,
        {
            "schema": json.dumps(schema),
            "schema-id": schema["schema-id"],
            "partition-spec": spec_json,
            "partition-spec-id": del_spec_id,
            "format-version": "2",
            "content": "deletes",
        },
    )
    dw.append_json(
        {
            "status": 1,
            "snapshot_id": None,
            "sequence_number": None,  # inherits the list entry's seq
            "file_sequence_number": None,
            "data_file": {
                "content": 2,  # EQUALITY_DELETES
                "file_path": dp.resolve().as_uri(),
                "file_format": "PARQUET",
                "partition": part_record,
                "record_count": len(rows),
                "file_size_in_bytes": dp.stat().st_size,
                "lower_bounds": None,
                "upper_bounds": None,
                "equality_ids": (
                    {"array": eq_ids} if eq_ids is not None else None
                ),
            },
        }
    )
    dw.close()

    # 4. manifest list: carry the previous snapshot's manifests
    prev_snap = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    carried, _m = _read_avro(
        jvm, Path(_uri_to_path(prev_snap["manifest-list"]))
    )
    names_int = [
        "manifest_length", "partition_spec_id", "content",
        "sequence_number", "min_sequence_number", "added_snapshot_id",
        "added_files_count", "existing_files_count",
        "deleted_files_count", "added_rows_count",
        "existing_rows_count", "deleted_rows_count",
    ]
    ml = meta_dir / f"snap-{snap_id}-{_uuid.uuid4().hex}.avro"
    lw = _AvroFileWriter(
        jvm,
        _MANIFEST_FILE_SCHEMA,
        ml,
        {
            "snapshot-id": snap_id,
            "parent-snapshot-id": meta["current-snapshot-id"],
            "sequence-number": seq,
            "format-version": "2",
        },
    )
    for rec in carried:
        lw.append_json(
            {
                "manifest_path": str(rec.get("manifest_path")),
                **{nm: int(rec.get(nm)) for nm in names_int},
            }
        )
    lw.append_json(
        {
            "manifest_path": dm.resolve().as_uri(),
            "manifest_length": dm.stat().st_size,
            "partition_spec_id": del_spec_id,
            "content": 1,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snap_id,
            "added_files_count": 1,
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": len(rows),
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }
    )
    lw.close()

    # 5. new metadata version
    meta2 = dict(meta)
    meta2["partition-specs"] = specs
    meta2["last-sequence-number"] = max(
        seq, int(meta["last-sequence-number"])
    )
    meta2["current-snapshot-id"] = snap_id
    meta2["snapshots"] = meta["snapshots"] + [
        {
            "snapshot-id": snap_id,
            "parent-snapshot-id": meta["current-snapshot-id"],
            "sequence-number": seq,
            "timestamp-ms": 0,
            "manifest-list": ml.resolve().as_uri(),
            "summary": {"operation": "overwrite"},
            "schema-id": schema["schema-id"],
        }
    ]
    (meta_dir / f"v{n + 1}.metadata.json").write_text(
        json.dumps(meta2)
    )
    (meta_dir / "version-hint.text").write_text(str(n + 1))
    return snap_id


def _add_upsert_snapshot(
    spark, t, rows, columns, del_positions, parent_del=None
):
    """Hand-craft a FOREIGN Flink-style upsert-checkpoint snapshot on
    an exported UNPARTITIONED Iceberg table: ONE commit that both ADDS
    a data parquet (``rows`` over ``columns``) and position-deletes
    ``del_positions`` of that SAME file — the within-checkpoint upsert
    shape real Flink writers produce. ``parent_del`` optionally adds
    (existing_data_file_uri, pos) pairs to the same delete file so the
    test can mix same-snapshot and parent-live targets. Returns the
    new snapshot id."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import uuid as _uuid

    from interop_datalake_spark.lake.iceberg_interop import (
        _MANIFEST_FILE_SCHEMA,
        _AvroFileWriter,
        _jvm,
        _manifest_entry_schema,
        _read_avro,
        _uri_to_path,
    )

    meta_dir = t.root / "metadata"
    n = int((meta_dir / "version-hint.text").read_text())
    meta = json.loads((meta_dir / f"v{n}.metadata.json").read_text())
    schema = next(
        s
        for s in meta["schemas"]
        if s["schema-id"] == meta["current-schema-id"]
    )
    jvm = _jvm(spark)
    seq = int(meta["last-sequence-number"]) + 1
    snap_id = max(s["snapshot-id"] for s in meta["snapshots"]) + 1000
    specs = list(meta["partition-specs"])
    del_spec_id = next(
        s["spec-id"] for s in specs if not s["fields"]
    )

    # 1. the new data parquet
    dp = meta_dir / f"upsert-{_uuid.uuid4().hex}.parquet"
    pq.write_table(
        pa.table({c: list(v) for c, v in zip(columns, zip(*rows))}),
        dp,
    )

    # 2. the position-delete parquet: same-snapshot pairs + optional
    # parent-live pairs, exactly as one Flink checkpoint writes them
    pairs = [(dp.resolve().as_uri(), int(p)) for p in del_positions]
    pairs += [(u, int(p)) for u, p in (parent_del or [])]
    delp = meta_dir / f"posdel-{_uuid.uuid4().hex}.parquet"
    pq.write_table(
        pa.table(
            {
                "file_path": pa.array(
                    [u for u, _ in pairs], pa.string()
                ),
                "pos": pa.array([p for _, p in pairs], pa.int64()),
            }
        ),
        delp,
    )

    def _manifest(parquet, content, count):
        mf = meta_dir / f"{_uuid.uuid4().hex}-m0.avro"
        w = _AvroFileWriter(
            jvm,
            _manifest_entry_schema([]),
            mf,
            {
                "schema": json.dumps(schema),
                "schema-id": schema["schema-id"],
                "partition-spec": "[]",
                "partition-spec-id": del_spec_id,
                "format-version": "2",
                "content": "data" if content == 0 else "deletes",
            },
        )
        w.append_json(
            {
                "status": 1,
                "snapshot_id": None,
                "sequence_number": None,
                "file_sequence_number": None,
                "data_file": {
                    "content": content,
                    "file_path": parquet.resolve().as_uri(),
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": count,
                    "file_size_in_bytes": parquet.stat().st_size,
                    "lower_bounds": None,
                    "upper_bounds": None,
                    "equality_ids": None,
                },
            }
        )
        w.close()
        return mf

    dm = _manifest(dp, 0, len(rows))
    xm = _manifest(delp, 1, len(pairs))

    # 3. manifest list: carry previous manifests + both new ones
    prev_snap = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    carried, _m = _read_avro(
        jvm, Path(_uri_to_path(prev_snap["manifest-list"]))
    )
    names_int = [
        "manifest_length", "partition_spec_id", "content",
        "sequence_number", "min_sequence_number", "added_snapshot_id",
        "added_files_count", "existing_files_count",
        "deleted_files_count", "added_rows_count",
        "existing_rows_count", "deleted_rows_count",
    ]
    ml = meta_dir / f"snap-{snap_id}-{_uuid.uuid4().hex}.avro"
    lw = _AvroFileWriter(
        jvm,
        _MANIFEST_FILE_SCHEMA,
        ml,
        {
            "snapshot-id": snap_id,
            "parent-snapshot-id": meta["current-snapshot-id"],
            "sequence-number": seq,
            "format-version": "2",
        },
    )
    for rec in carried:
        lw.append_json(
            {
                "manifest_path": str(rec.get("manifest_path")),
                **{nm: int(rec.get(nm)) for nm in names_int},
            }
        )
    for mf, content, count in ((dm, 0, len(rows)), (xm, 1, len(pairs))):
        lw.append_json(
            {
                "manifest_path": mf.resolve().as_uri(),
                "manifest_length": mf.stat().st_size,
                "partition_spec_id": del_spec_id,
                "content": content,
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": snap_id,
                "added_files_count": 1,
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": count,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
            }
        )
    lw.close()

    # 4. new metadata version
    meta2 = dict(meta)
    meta2["last-sequence-number"] = seq
    meta2["current-snapshot-id"] = snap_id
    meta2["snapshots"] = meta["snapshots"] + [
        {
            "snapshot-id": snap_id,
            "parent-snapshot-id": meta["current-snapshot-id"],
            "sequence-number": seq,
            "timestamp-ms": 0,
            "manifest-list": ml.resolve().as_uri(),
            "summary": {"operation": "overwrite"},
            "schema-id": schema["schema-id"],
        }
    ]
    (meta_dir / f"v{n + 1}.metadata.json").write_text(
        json.dumps(meta2)
    )
    (meta_dir / "version-hint.text").write_text(str(n + 1))
    return snap_id


class TestEqualityDeletes:
    """Round-9 verdict item 4: content=2 delete files (the Flink CDC
    producer shape) apply as keyed anti-joins at the v2 STRICT
    sequence rule instead of refusing."""

    def _table(self, spark, lake, name, **kw):
        t = TxnTable(lake, name, stats_cols=["k"], **kw)
        t.append(
            spark.range(0, 10)
            .selectExpr("id as k", "concat('v', id) as v")
            .coalesce(1)
        )
        export_iceberg_metadata(t)
        return t

    def test_global_equality_delete_applies(self, spark, lake):
        t = self._table(spark, lake, "ieq1")
        first = _meta(t)["current-snapshot-id"]
        _add_eq_delete_snapshot(
            spark, t, [(2,), (5,), (77,)], ["k"], ["k"]
        )
        back = read_iceberg(spark, str(t.root))
        assert sorted(r.k for r in back.collect()) == [
            0, 1, 3, 4, 6, 7, 8, 9,
        ]
        # time travel to the pre-delete snapshot still sees all rows
        old = read_iceberg(spark, str(t.root), snapshot_id=first)
        assert old.count() == 10

    def test_strict_sequence_rule(self, spark, lake):
        """A delete whose sequence number EQUALS the data file's must
        NOT apply (spec: strictly greater — an upsert's insert half
        survives its own delete half; position deletes use ≥)."""
        t = self._table(spark, lake, "ieq2")
        data_seq = 1  # single export: its data files carry seq 1
        _add_eq_delete_snapshot(
            spark, t, [(2,)], ["k"], ["k"], force_seq=data_seq
        )
        back = read_iceberg(spark, str(t.root))
        assert back.count() == 10  # nothing deleted

    def test_partition_scoped_delete(self, spark, lake):
        t = TxnTable(
            lake, "ieq3", stats_cols=["k"], partition_cols=["tenant"]
        )
        t.append(
            spark.range(0, 6).selectExpr(
                "id as k",
                "CASE WHEN id < 3 THEN 'a' ELSE 'b' END as tenant",
            )
        )
        export_iceberg_metadata(t)
        m = _meta(t)
        data_spec_id = next(
            s["spec-id"]
            for s in m["partition-specs"]
            if s["fields"]
        )
        # delete k∈{1,4} but scoped to tenant='a': only k=1 goes
        _add_eq_delete_snapshot(
            spark,
            t,
            [(1,), (4,)],
            ["k"],
            ["k"],
            partition={"tenant": "a"},
            spec_id=data_spec_id,
        )
        back = read_iceberg(spark, str(t.root))
        assert sorted(r.k for r in back.collect()) == [0, 2, 3, 4, 5]

    def test_null_safe_matching(self, spark, lake):
        t = TxnTable(lake, "ieq4", stats_cols=["k"])
        t.append(
            spark.range(0, 4)
            .selectExpr(
                "id as k",
                "CASE WHEN id % 2 = 0 THEN NULL "
                "ELSE concat('v', id) END as v",
            )
            .coalesce(1)
        )
        export_iceberg_metadata(t)
        # equality on v with a NULL delete row: NULL matches NULL
        _add_eq_delete_snapshot(
            spark, t, [(None,)], ["v"], ["v"]
        )
        back = read_iceberg(spark, str(t.root))
        assert sorted(r.k for r in back.collect()) == [1, 3]

    def test_missing_equality_ids_refused(self, spark, lake):
        t = self._table(spark, lake, "ieq5")
        _add_eq_delete_snapshot(
            spark, t, [(2,)], ["k"], ["k"], equality_ids=None
        )
        with pytest.raises(ValueError, match="equality_ids"):
            read_iceberg(spark, str(t.root))


class TestChangesCDC:
    """Round-9 verdict item 6: include_deletes=True diffs non-append
    snapshots into insert/delete events (the
    TxnTable.read_changes(include_deletes=True) mirror) instead of
    refusing."""

    def _events(self, df):
        return sorted(
            (r._snapshot_id, r._change_type, r.k) for r in df.collect()
        )

    def test_mor_delete_window(self, spark, lake):
        from interop_datalake_spark.lake.iceberg_interop import (
            read_iceberg_changes,
        )

        t = TxnTable(lake, "cdc1", stats_cols=["k"])
        t.append(
            spark.range(0, 10)
            .selectExpr("id as k", "concat('v', id) as v")
            .coalesce(1)
        )
        export_iceberg_metadata(t)
        snap1 = _meta(t)["current-snapshot-id"]
        t.delete_where(F.col("k").isin(3, 7), merge_on_read=True)
        export_iceberg_metadata(t)
        snap2 = _meta(t)["current-snapshot-id"]
        # append mode still refuses the delete-carrying snapshot
        with pytest.raises(ValueError, match="delete|overwrite"):
            read_iceberg_changes(spark, str(t.root), snap1)
        ch = read_iceberg_changes(
            spark, str(t.root), snap1, include_deletes=True
        )
        assert self._events(ch) == [
            (snap2, "delete", 3),
            (snap2, "delete", 7),
        ]

    def test_overwrite_window_diffs(self, spark, lake):
        from interop_datalake_spark.lake.iceberg_interop import (
            read_iceberg_changes,
        )

        t = TxnTable(lake, "cdc2", stats_cols=["k"])
        t.append(spark.range(0, 3).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        snap1 = _meta(t)["current-snapshot-id"]
        t.overwrite(
            spark.range(100, 102).selectExpr("id as k").coalesce(1)
        )
        export_iceberg_metadata(t)
        snap2 = _meta(t)["current-snapshot-id"]
        ch = read_iceberg_changes(
            spark, str(t.root), snap1, include_deletes=True
        )
        assert self._events(ch) == [
            (snap2, "delete", 0),
            (snap2, "delete", 1),
            (snap2, "delete", 2),
            (snap2, "insert", 100),
            (snap2, "insert", 101),
        ]

    def test_append_window_emits_inserts_only(self, spark, lake):
        from interop_datalake_spark.lake.iceberg_interop import (
            read_iceberg_changes,
        )

        t = TxnTable(lake, "cdc3", stats_cols=["k"])
        t.append(spark.range(0, 2).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        snap1 = _meta(t)["current-snapshot-id"]
        t.append(spark.range(2, 4).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        snap2 = _meta(t)["current-snapshot-id"]
        ch = read_iceberg_changes(
            spark, str(t.root), snap1, include_deletes=True
        )
        assert self._events(ch) == [
            (snap2, "insert", 2),
            (snap2, "insert", 3),
        ]
        # CDC agrees with the append scan on pure-append windows
        plain = read_iceberg_changes(spark, str(t.root), snap1)
        assert sorted(r.k for r in plain.collect()) == [2, 3]

    def test_equality_delete_window_emits_matched_rows(
        self, spark, lake
    ):
        from interop_datalake_spark.lake.iceberg_interop import (
            read_iceberg_changes,
        )

        t = TxnTable(lake, "cdc4", stats_cols=["k"])
        t.append(
            spark.range(0, 6)
            .selectExpr("id as k", "concat('v', id) as v")
            .coalesce(1)
        )
        export_iceberg_metadata(t)
        snap1 = _meta(t)["current-snapshot-id"]
        snap2 = _add_eq_delete_snapshot(
            spark, t, [(1,), (4,), (99,)], ["k"], ["k"]
        )
        ch = read_iceberg_changes(
            spark, str(t.root), snap1, include_deletes=True
        )
        assert self._events(ch) == [
            (snap2, "delete", 1),
            (snap2, "delete", 4),
        ]
        # and the full read agrees with the event fold
        assert sorted(
            r.k for r in read_iceberg(spark, str(t.root)).collect()
        ) == [0, 2, 3, 5]


class TestChangesCDCReviewFixes:
    """Round-10 review pass 1: stale-delete re-emission, fold order,
    working-column collisions."""

    def test_same_snapshot_add_plus_pos_delete(self, spark, lake):
        """Round-11 advice (medium): a foreign snapshot that BOTH adds
        a data file and position-deletes some of its rows (the Flink
        within-checkpoint upsert) must emit inserts only for the
        surviving rows and NO delete events for rows never visible at
        the parent — the old fold (raw inserts + delete events, with
        deletes ordered first) resolved those rows to PRESENT while
        read_iceberg correctly showed them deleted."""
        from interop_datalake_spark.lake.iceberg_interop import (
            read_iceberg,
            read_iceberg_changes,
        )

        t = TxnTable(lake, "cdc_upsert", stats_cols=["k"])
        t.append(
            spark.range(0, 3)
            .selectExpr("id as k", "concat('v', id) as v")
            .coalesce(1)
        )
        export_iceberg_metadata(t)
        snap1 = _meta(t)["current-snapshot-id"]
        # one foreign commit: add k=10..14, pos-delete positions 1,3
        snap2 = _add_upsert_snapshot(
            spark,
            t,
            [(10 + i, f"v{10 + i}") for i in range(5)],
            ["k", "v"],
            [1, 3],
        )
        ch = read_iceberg_changes(
            spark, str(t.root), snap1, include_deletes=True
        )
        events = sorted(
            (r._snapshot_id, r._change_type, r.k) for r in ch.collect()
        )
        assert events == [
            (snap2, "insert", 10),
            (snap2, "insert", 12),
            (snap2, "insert", 14),
        ]
        # the event fold agrees with the full read at snap2
        assert sorted(
            r.k for r in read_iceberg(spark, str(t.root)).collect()
        ) == [0, 1, 2, 10, 12, 14]

    def test_same_snapshot_upsert_mixed_with_parent_target(
        self, spark, lake
    ):
        """The same upsert checkpoint also pos-deletes a PARENT-live
        row: that one still emits a delete event, while the
        same-snapshot kills emit nothing."""
        from interop_datalake_spark.lake.iceberg_interop import (
            read_iceberg_changes,
        )

        t = TxnTable(lake, "cdc_upsert2", stats_cols=["k"])
        t.append(
            spark.range(0, 3)
            .selectExpr("id as k", "concat('v', id) as v")
            .coalesce(1)
        )
        export_iceberg_metadata(t)
        snap1 = _meta(t)["current-snapshot-id"]
        meta = _meta(t)
        # resolve the parent data file's URI from the live read plan
        from interop_datalake_spark.lake.iceberg_interop import (
            _snapshot_entries_all,
            _resolve_snapshot,
        )

        s = _resolve_snapshot(meta, snap1)
        data, _dels = _snapshot_entries_all(spark, meta, s)
        parent_uri = str(data[0][1].get("file_path"))
        # parent file was written by coalesce(1) ordered 0,1,2 →
        # position 1 is k=1
        snap2 = _add_upsert_snapshot(
            spark,
            t,
            [(20, "v20"), (21, "v21")],
            ["k", "v"],
            [0],
            parent_del=[(parent_uri, 1)],
        )
        ch = read_iceberg_changes(
            spark, str(t.root), snap1, include_deletes=True
        )
        events = sorted(
            (r._change_type, r.k) for r in ch.collect()
        )
        assert events == [("delete", 1), ("insert", 21)]
        assert snap2 is not None

    def test_cumulative_delete_files_never_reemit(self, spark, lake):
        """The exporter serializes the FULL DV state per vectored
        export, so a later snapshot's delete file re-lists earlier
        pairs — the window must emit only the window's deletions
        (the TxnTable sibling's 'never re-emitted twice' guarantee)."""
        from interop_datalake_spark.lake.iceberg_interop import (
            read_iceberg_changes,
        )

        t = TxnTable(lake, "cdcr1", stats_cols=["k"])
        t.append(
            spark.range(0, 10).selectExpr("id as k").coalesce(1)
        )
        export_iceberg_metadata(t)
        t.delete_where(F.col("k") == 3, merge_on_read=True)
        export_iceberg_metadata(t)
        snap2 = _meta(t)["current-snapshot-id"]
        t.delete_where(F.col("k") == 7, merge_on_read=True)
        export_iceberg_metadata(t)
        snap3 = _meta(t)["current-snapshot-id"]
        ch = read_iceberg_changes(
            spark, str(t.root), snap2, include_deletes=True
        )
        assert sorted(
            (r._snapshot_id, r._change_type, r.k) for r in ch.collect()
        ) == [(snap3, "delete", 7)]  # k=3 deleted BEFORE the window

    def test_rewrite_window_folds_to_unchanged(self, spark, lake):
        from interop_datalake_spark.lake.iceberg_interop import (
            read_iceberg_changes,
        )

        t = TxnTable(lake, "cdcr2", stats_cols=["k"])
        t.append(spark.range(0, 5).selectExpr("id as k").coalesce(2))
        export_iceberg_metadata(t)
        snap1 = _meta(t)["current-snapshot-id"]
        t.compact()
        export_iceberg_metadata(t)
        ch = read_iceberg_changes(
            spark, str(t.root), snap1, include_deletes=True
        ).collect()
        # full churn (documented), but the ordinal fold is lossless:
        # per key, the LAST event by (snapshot, ordinal) is an insert
        last = {}
        for r in sorted(
            ch, key=lambda r: (r._snapshot_id, r._change_ordinal)
        ):
            last[r.k] = r._change_type
        assert last == {k: "insert" for k in range(5)}

    def test_working_column_collision_refused(self, spark, lake):
        t = TxnTable(lake, "cdcr3", stats_cols=["k"])
        t.append(
            spark.range(0, 3)
            .selectExpr("id as k", "id as _dataseq")
            .coalesce(1)
        )
        export_iceberg_metadata(t)
        _add_eq_delete_snapshot(spark, t, [(1,)], ["k"], ["k"])
        with pytest.raises(ValueError, match="_dataseq"):
            read_iceberg(spark, str(t.root))


class TestIcebergRefs:
    """Branches/tags (the metadata refs map): set/drop, read-by-ref,
    main-branch follow, and the refs-retain expiry contract."""

    def test_tag_read_carry_and_expiry(self, spark, lake):
        from interop_datalake_spark.lake.iceberg_interop import (
            expire_iceberg_snapshots,
            iceberg_drop_ref,
            iceberg_set_ref,
            read_iceberg,
            resolve_iceberg_ref,
        )

        t = TxnTable(lake, "refs1", stats_cols=["k"])
        t.append(spark.range(0, 5).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        s1 = iceberg_set_ref(t, "v1.0")  # tag the current snapshot
        iceberg_set_ref(t, "main", ref_type="branch")
        t.append(spark.range(5, 8).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        t.append(spark.range(8, 9).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)

        # the tag still reads the old snapshot; main followed exports
        assert read_iceberg(spark, str(t.root), ref="v1.0").count() == 5
        meta_dir = t.root / "metadata"
        n = int((meta_dir / "version-hint.text").read_text())
        meta = json.loads(
            (meta_dir / f"v{n}.metadata.json").read_text()
        )
        assert meta["refs"]["v1.0"]["snapshot-id"] == s1
        assert (
            meta["refs"]["main"]["snapshot-id"]
            == meta["current-snapshot-id"]
        )
        assert resolve_iceberg_ref(meta, "main") == meta[
            "current-snapshot-id"
        ]
        with pytest.raises(ValueError, match="not found"):
            read_iceberg(spark, str(t.root), ref="nope")
        with pytest.raises(ValueError, match="not both"):
            read_iceberg(
                spark, str(t.root), ref="v1.0", snapshot_id=s1
            )

        # expiry RETAINS the tagged snapshot despite keep_last=1
        expired = expire_iceberg_snapshots(t, keep_last=1)
        meta = json.loads(
            (
                meta_dir
                / f"v{int((meta_dir / 'version-hint.text').read_text())}.metadata.json"
            ).read_text()
        )
        kept_ids = {s["snapshot-id"] for s in meta["snapshots"]}
        assert s1 in kept_ids and len(expired) == 1
        assert read_iceberg(spark, str(t.root), ref="v1.0").count() == 5

        # dropping the tag releases it; the next expiry removes it
        iceberg_drop_ref(t, "v1.0")
        iceberg_drop_ref(t, "main")
        expired2 = expire_iceberg_snapshots(t, keep_last=1)
        assert s1 in expired2
        with pytest.raises(ValueError, match="not found"):
            resolve_iceberg_ref(str(t.root), "v1.0")
        with pytest.raises(ValueError, match="not found"):
            iceberg_drop_ref(t, "v1.0")

    def test_tag_unknown_snapshot_refuses(self, spark, lake):
        from interop_datalake_spark.lake.iceberg_interop import (
            iceberg_set_ref,
        )

        t = TxnTable(lake, "refs2", stats_cols=["k"])
        t.append(spark.range(0, 3).selectExpr("id as k").coalesce(1))
        export_iceberg_metadata(t)
        with pytest.raises(ValueError, match="not present"):
            iceberg_set_ref(t, "bad", snapshot_id=12345)
        with pytest.raises(ValueError, match="tag' or 'branch"):
            iceberg_set_ref(t, "x", ref_type="wat")


def test_parquet_position_delete_with_referenced_data_file(spark, lake):
    """The spec allows PARQUET position-delete files to carry the
    optional referenced_data_file single-file hint — that must stay a
    parquet delete (the (file_path, pos) content is authoritative),
    not route to the DV branch and refuse on missing blob
    coordinates. Both the batch reader and the iceberg_cdc stream
    classifier handle it."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as papq

    from interop_datalake_spark.lake.iceberg_interop import (
        _MANIFEST_FILE_SCHEMA,
        _AvroFileWriter,
        _jvm,
        _manifest_entry_schema,
        _read_avro,
        _uri_to_path,
        read_iceberg,
    )

    t = TxnTable(lake, "refdel", stats_cols=["k"])
    t.append(spark.range(0, 8).selectExpr("id as k").orderBy("k").coalesce(1))
    export_iceberg_metadata(t)
    meta_dir = t.root / "metadata"
    meta = json.loads((meta_dir / "v1.metadata.json").read_text())
    schema = meta["schemas"][0]
    jvm = _jvm(spark)

    # the data file URI
    snap = meta["snapshots"][0]
    lists, _ = _read_avro(jvm, Path(_uri_to_path(snap["manifest-list"])))
    entries, _ = _read_avro(
        jvm, Path(_uri_to_path(str(lists[0].get("manifest_path"))))
    )
    uri = str(entries[0].get("data_file").get("file_path"))

    # a position-delete PARQUET killing rows 2 and 5, with the
    # reserved field ids
    del_pq = meta_dir / f"{_uuid.uuid4().hex}-refdel.parquet"
    pq_schema = pa.schema(
        [
            pa.field("file_path", pa.string(), nullable=False,
                     metadata={b"PARQUET:field_id": b"2147483546"}),
            pa.field("pos", pa.int64(), nullable=False,
                     metadata={b"PARQUET:field_id": b"2147483545"}),
        ]
    )
    papq.write_table(
        pa.Table.from_arrays(
            [pa.array([uri, uri]), pa.array([2, 5], pa.int64())],
            schema=pq_schema,
        ),
        str(del_pq),
    )

    seq = int(meta["last-sequence-number"]) + 1
    snap_id = snap["snapshot-id"] + 777
    specs = list(meta["partition-specs"])
    del_spec_id = next(
        (s["spec-id"] for s in specs if not s["fields"]), None
    )
    if del_spec_id is None:
        del_spec_id = max(s["spec-id"] for s in specs) + 1
        specs.append({"spec-id": del_spec_id, "fields": []})
    dm = meta_dir / f"{_uuid.uuid4().hex}-refdel-m0.avro"
    dw = _AvroFileWriter(
        jvm,
        _manifest_entry_schema([], v3_dv=True),
        dm,
        {
            "schema": json.dumps(schema),
            "schema-id": schema["schema-id"],
            "partition-spec": "[]",
            "partition-spec-id": del_spec_id,
            "format-version": "2",
            "content": "deletes",
        },
    )
    dw.append_json(
        {
            "status": 1,
            "snapshot_id": None,
            "sequence_number": None,
            "file_sequence_number": None,
            "data_file": {
                "content": 1,
                "file_path": del_pq.resolve().as_uri(),
                "file_format": "PARQUET",  # NOT a puffin DV
                "partition": {},
                "record_count": 2,
                "file_size_in_bytes": del_pq.stat().st_size,
                "lower_bounds": None,
                "upper_bounds": None,
                "equality_ids": None,
                "referenced_data_file": {"string": uri},  # the hint
                "content_offset": None,
                "content_size_in_bytes": None,
            },
        }
    )
    dw.close()
    ml = meta_dir / f"snap-{snap_id}-{_uuid.uuid4().hex}.avro"
    lw = _AvroFileWriter(
        jvm, _MANIFEST_FILE_SCHEMA, ml,
        {
            "snapshot-id": snap_id,
            "parent-snapshot-id": snap["snapshot-id"],
            "sequence-number": seq,
            "format-version": "2",
        },
    )
    names_int = [
        "manifest_length", "partition_spec_id", "content",
        "sequence_number", "min_sequence_number", "added_snapshot_id",
        "added_files_count", "existing_files_count",
        "deleted_files_count", "added_rows_count",
        "existing_rows_count", "deleted_rows_count",
    ]
    for rec in lists:
        lw.append_json(
            {
                "manifest_path": str(rec.get("manifest_path")),
                **{nm: int(rec.get(nm)) for nm in names_int},
            }
        )
    lw.append_json(
        {
            "manifest_path": dm.resolve().as_uri(),
            "manifest_length": dm.stat().st_size,
            "partition_spec_id": del_spec_id,
            "content": 1,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snap_id,
            "added_files_count": 1,
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": 2,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }
    )
    lw.close()
    meta2 = dict(meta)
    meta2["partition-specs"] = specs
    meta2["last-sequence-number"] = seq
    meta2["current-snapshot-id"] = snap_id
    meta2["snapshots"] = meta["snapshots"] + [
        {
            "snapshot-id": snap_id,
            "parent-snapshot-id": snap["snapshot-id"],
            "sequence-number": seq,
            "timestamp-ms": snap["timestamp-ms"] + 1000,
            "manifest-list": ml.resolve().as_uri(),
            "summary": {"operation": "overwrite"},
            "schema-id": schema["schema-id"],
        }
    ]
    (meta_dir / "v2.metadata.json").write_text(json.dumps(meta2))
    (meta_dir / "version-hint.text").write_text("2")

    # batch: the parquet delete applies (rows 2 and 5 gone)
    got = {r["k"] for r in read_iceberg(spark, str(t.root)).collect()}
    assert got == {0, 1, 3, 4, 6, 7}
    # stream classifier: the delete diffs, not refuses
    from interop_datalake_spark.streaming.iceberg_source import (
        _live_state,
        _specs_for,
    )

    _data, dels = _live_state(meta2, meta2["snapshots"][-1])
    assert [d["spec"][0] for d in dels] == ["parquet"]
    assert _specs_for(dels, uri, 1)


class TestRowLineage:
    """Iceberg v3 ROW LINEAGE (round 14): next-row-id / first-row-id
    assignment on export, manifest first_row_id (explicit + the
    null-inheritance rule for foreign writers), the _row_id /
    _last_updated_sequence_number read projection, and
    lineage-preserving compaction via materialized reserved-id
    columns — stable across append → compact → read, invisible to
    every schema-on-read consumer."""

    def _table(self, spark, lake, name):
        from interop_datalake_spark.lake.iceberg_interop import (
            export_iceberg_metadata,
        )

        t = TxnTable(lake, name, stats_cols=["k"])
        t.append(
            spark.createDataFrame(
                [(i, f"a{i}") for i in range(5)], "k INT, v STRING"
            ).coalesce(1)
        )
        export_iceberg_metadata(t, format_version=3)
        t.append(
            spark.createDataFrame(
                [(i, f"b{i}") for i in range(5, 8)], "k INT, v STRING"
            ).coalesce(1)
        )
        export_iceberg_metadata(t)
        return t

    def _lineage(self, spark, t):
        from interop_datalake_spark.lake.iceberg_interop import (
            read_iceberg,
        )

        df = read_iceberg(spark, str(t.root), with_lineage=True)
        return {
            r.k: (r._row_id, r._last_updated_sequence_number)
            for r in df.collect()
        }

    def test_assignment_and_metadata_fields(self, spark, lake):
        t = self._table(spark, lake, "rl1")
        meta_dir = t.root / "metadata"
        n = int((meta_dir / "version-hint.text").read_text())
        meta = json.loads(
            (meta_dir / f"v{n}.metadata.json").read_text()
        )
        assert meta["next-row-id"] == 8
        snaps = {
            s["sequence-number"]: s for s in meta["snapshots"]
        }
        assert snaps[1]["first-row-id"] == 0
        assert snaps[2]["first-row-id"] == 5
        got = self._lineage(spark, t)
        assert got == {
            **{i: (i, 1) for i in range(5)},
            **{i: (i, 2) for i in range(5, 8)},
        }

    def test_existing_entries_carry_first_row_id(self, spark, lake):
        from interop_datalake_spark.lake.avro_read import (
            read_avro_file,
        )
        from interop_datalake_spark.lake.iceberg_interop import (
            _uri_to_path,
        )

        t = self._table(spark, lake, "rl2")
        meta_dir = t.root / "metadata"
        n = int((meta_dir / "version-hint.text").read_text())
        meta = json.loads(
            (meta_dir / f"v{n}.metadata.json").read_text()
        )
        cur = next(
            s
            for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        ml, _ = read_avro_file(_uri_to_path(cur["manifest-list"]))
        data_mf = next(m for m in ml if (m.get("content") or 0) == 0)
        # the manifest-list carries the snapshot's first-row-id
        assert data_mf["first_row_id"] == 5
        entries, _ = read_avro_file(
            _uri_to_path(str(data_mf["manifest_path"]))
        )
        by_status = {}
        for e in entries:
            by_status.setdefault(e["status"], []).append(
                e["data_file"]["first_row_id"]
            )
        assert by_status[0] == [0]  # EXISTING keeps its original
        assert by_status[1] == [5]  # ADDED assigned from the cursor

    def test_compact_preserves_lineage_and_stays_invisible(
        self, spark, lake
    ):
        from interop_datalake_spark.lake.iceberg_interop import (
            compact_preserving_row_lineage,
            export_iceberg_metadata,
            read_iceberg,
        )

        t = self._table(spark, lake, "rl3")
        before = self._lineage(spark, t)
        compact_preserving_row_lineage(t, target_files=1)
        export_iceberg_metadata(t)
        assert self._lineage(spark, t) == before
        # materialized columns invisible to schema-on-read consumers
        assert read_iceberg(spark, str(t.root)).columns == ["k", "v"]
        assert t.read().columns == ["k", "v"]

    def test_lineage_survives_dv_delete(self, spark, lake):
        from interop_datalake_spark.lake.iceberg_interop import (
            export_iceberg_metadata,
        )
        from pyspark.sql import functions as F

        t = self._table(spark, lake, "rl4")
        t.delete_where(F.col("k") % 2 == 1, merge_on_read=True)
        export_iceberg_metadata(t)
        got = self._lineage(spark, t)
        # survivors keep their original ids; deleted rows vanish
        assert got == {
            **{i: (i, 1) for i in (0, 2, 4)},
            6: (6, 2),
        }

    def test_v2_history_upgrade_reads_null_lineage(self, spark, lake):
        from interop_datalake_spark.lake.iceberg_interop import (
            export_iceberg_metadata,
            read_iceberg,
        )

        t = TxnTable(lake, "rl5", stats_cols=["k"])
        t.append(
            spark.createDataFrame([(0,), (1,)], "k INT").coalesce(1)
        )
        export_iceberg_metadata(t)  # v2
        t.append(
            spark.createDataFrame([(2,)], "k INT").coalesce(1)
        )
        export_iceberg_metadata(t, format_version=3)  # upgrade
        df = read_iceberg(spark, str(t.root), with_lineage=True)
        got = {
            r.k: (r._row_id, r._last_updated_sequence_number)
            for r in df.collect()
        }
        # pre-upgrade file: unknown lineage → NULL ids (the spec's
        # upgraded-table rule); the seq still projects
        assert got[0] == (None, 1) and got[1] == (None, 1)
        # the upgrade snapshot assigns from 0
        assert got[2] == (0, 2)

    def test_foreign_null_inheritance(self):
        from interop_datalake_spark.lake.iceberg_interop import (
            _lineage_first_rows,
        )

        mf = {"manifest_path": "m1", "first_row_id": 100}
        data_e = [
            # foreign writer: ADDED entries with null first_row_id
            ({"status": 1}, {"file_path": "f1", "record_count": 4,
                             "first_row_id": None}, [], mf),
            ({"status": 1}, {"file_path": "f2", "record_count": 3,
                             "first_row_id": None}, [], mf),
            # EXISTING with explicit value — no cursor advance
            ({"status": 0}, {"file_path": "f0", "record_count": 9,
                             "first_row_id": 7}, [], mf),
            ({"status": 1}, {"file_path": "f3", "record_count": 2,
                             "first_row_id": None}, [], mf),
        ]
        assert _lineage_first_rows(data_e) == {
            "f1": 100, "f2": 104, "f0": 7, "f3": 107,
        }

    def test_refusals(self, spark, lake):
        from interop_datalake_spark.lake.iceberg_interop import (
            compact_preserving_row_lineage,
            export_iceberg_metadata,
        )

        t = TxnTable(lake, "rl6", stats_cols=["k"])
        t.append(
            spark.createDataFrame([(0,)], "k INT").coalesce(1)
        )
        export_iceberg_metadata(t)  # v2
        with pytest.raises(ValueError, match="format-version 3"):
            compact_preserving_row_lineage(t)
        export_iceberg_metadata2 = export_iceberg_metadata
        t.append(
            spark.createDataFrame([(1,)], "k INT").coalesce(1)
        )
        export_iceberg_metadata2(t, format_version=3)
        t.append(
            spark.createDataFrame([(2,)], "k INT").coalesce(1)
        )  # table moved past the export
        with pytest.raises(ValueError, match="re-export"):
            compact_preserving_row_lineage(t)


class TestEqualityDeleteWrite:
    """Equality-delete WRITE (round 14,
    export_iceberg_metadata(equality_delete_cols=...)): the snapshot's
    deletion vectors export as ONE content=2 keyed delete file —
    applied by this repo's own reader (the same code path the foreign
    Flink-CDC fixtures pin) — with loud refusals whenever the
    conversion is not provably position-equivalent."""

    def test_roundtrip_matches_txn_state(self, spark, lake):
        t = TxnTable(lake, "eqw1", stats_cols=["k"])
        t.append(
            spark.createDataFrame(
                [(i, f"v{i}") for i in range(10)], "k INT, v STRING"
            ).coalesce(1)
        )
        export_iceberg_metadata(t)
        t.delete_where(F.col("k") % 3 == 0, merge_on_read=True)
        export_iceberg_metadata(t, equality_delete_cols=["k"])
        got = sorted(
            r.k for r in read_iceberg(spark, str(t.root)).collect()
        )
        assert got == sorted(r.k for r in t.read().collect())
        # the delete file is REALLY content=2 with the schema's ids
        from interop_datalake_spark.lake.avro_read import (
            read_avro_file,
        )
        from interop_datalake_spark.lake.iceberg_interop import (
            _uri_to_path,
        )

        meta_dir = t.root / "metadata"
        n = int((meta_dir / "version-hint.text").read_text())
        meta = json.loads(
            (meta_dir / f"v{n}.metadata.json").read_text()
        )
        cur = next(
            s
            for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        ml, _ = read_avro_file(_uri_to_path(cur["manifest-list"]))
        del_mf = next(m for m in ml if (m.get("content") or 0) == 1)
        entries, _ = read_avro_file(
            _uri_to_path(str(del_mf["manifest_path"]))
        )
        dfr = entries[0]["data_file"]
        assert dfr["content"] == 2
        assert dfr["equality_ids"] == [1]  # field id of k
        assert dfr["record_count"] == 4  # keys 0,3,6,9

        # CDC still surfaces the deletions
        from interop_datalake_spark.lake.iceberg_interop import (
            read_iceberg_changes,
        )

        ch = read_iceberg_changes(
            spark, str(t.root), include_deletes=True,
            from_snapshot_id=1,
        )
        assert sorted(
            (r.k, r._change_type) for r in ch.collect()
        ) == [(0, "delete"), (3, "delete"), (6, "delete"),
              (9, "delete")]

    def test_refuses_same_snapshot_vectored_files(self, spark, lake):
        # a FULL first export: every file is ADDED at the delete's
        # own sequence — the strict rule would resurrect the rows
        t = TxnTable(lake, "eqw2", stats_cols=["k"])
        t.append(
            spark.createDataFrame(
                [(i,) for i in range(4)], "k INT"
            ).coalesce(1)
        )
        t.delete_where(F.col("k") == 1, merge_on_read=True)
        with pytest.raises(ValueError, match="strict sequence rule"):
            export_iceberg_metadata(t, equality_delete_cols=["k"])

    def test_refuses_live_key_clash(self, spark, lake):
        t = TxnTable(lake, "eqw3", stats_cols=["k"])
        t.append(
            spark.createDataFrame(
                [(1, "a"), (1, "b"), (2, "c")], "k INT, v STRING"
            ).coalesce(1)
        )
        export_iceberg_metadata(t)
        t.delete_where(F.col("v") == "a", merge_on_read=True)
        with pytest.raises(ValueError, match="LIVE row shares"):
            export_iceberg_metadata(t, equality_delete_cols=["k"])

    def test_refuses_unknown_or_nested_column(self, spark, lake):
        t = TxnTable(lake, "eqw4", stats_cols=["k"])
        t.append(
            spark.createDataFrame([(1,)], "k INT").coalesce(1)
        )
        export_iceberg_metadata(t)
        t.delete_where(F.col("k") == 1, merge_on_read=True)
        with pytest.raises(ValueError, match="top-level primitive"):
            export_iceberg_metadata(
                t, equality_delete_cols=["nope"]
            )

    def test_style_switch_regenerates_not_carries(self, spark, lake):
        """The dv-state fingerprint includes the delete STYLE: an
        unchanged vector state re-exported in the other style must
        regenerate the delete files, never carry the old shape."""
        t = TxnTable(lake, "eqw5", stats_cols=["k"])
        t.append(
            spark.createDataFrame(
                [(i,) for i in range(6)], "k INT"
            ).coalesce(1)
        )
        export_iceberg_metadata(t)
        t.delete_where(F.col("k") >= 4, merge_on_read=True)
        export_iceberg_metadata(t)  # position style
        # new txn version (epoch stamp) so the snapshot id moves and
        # a re-export is possible with the SAME vector state
        t.stamp_epoch(7)
        export_iceberg_metadata(t, equality_delete_cols=["k"])
        got = sorted(
            r.k for r in read_iceberg(spark, str(t.root)).collect()
        )
        assert got == [0, 1, 2, 3]
        from interop_datalake_spark.lake.avro_read import (
            read_avro_file,
        )
        from interop_datalake_spark.lake.iceberg_interop import (
            _uri_to_path,
        )

        meta_dir = t.root / "metadata"
        n = int((meta_dir / "version-hint.text").read_text())
        meta = json.loads(
            (meta_dir / f"v{n}.metadata.json").read_text()
        )
        cur = next(
            s
            for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        ml, _ = read_avro_file(_uri_to_path(cur["manifest-list"]))
        del_mfs = [m for m in ml if (m.get("content") or 0) == 1]
        kinds = set()
        for dm in del_mfs:
            entries, _ = read_avro_file(
                _uri_to_path(str(dm["manifest_path"]))
            )
            kinds |= {e["data_file"]["content"] for e in entries}
        assert kinds == {2}, kinds  # equality only — no stale carry


class TestChangesLineage:
    def test_append_scan_surfaces_row_ids(self, spark, lake):
        """read_iceberg_changes(with_lineage=True): the incremental
        append feed carries each new row's assigned v3 _row_id — the
        update-tracking key consumers fold on."""
        from interop_datalake_spark.lake.iceberg_interop import (
            export_iceberg_metadata,
            read_iceberg_changes,
        )

        t = TxnTable(lake, "chl1", stats_cols=["k"])
        t.append(
            spark.createDataFrame(
                [(i,) for i in range(4)], "k INT"
            ).coalesce(1)
        )
        export_iceberg_metadata(t, format_version=3)
        t.append(
            spark.createDataFrame(
                [(i,) for i in range(4, 7)], "k INT"
            ).coalesce(1)
        )
        export_iceberg_metadata(t)
        ch = read_iceberg_changes(
            spark, str(t.root), from_snapshot_id=1,
            with_lineage=True,
        )
        got = {
            r.k: (
                r._row_id,
                r._last_updated_sequence_number,
                r._snapshot_id,
            )
            for r in ch.collect()
        }
        assert got == {4: (4, 2, 2), 5: (5, 2, 2), 6: (6, 2, 2)}

    def test_changelog_mode_refuses_lineage(self, spark, lake):
        from interop_datalake_spark.lake.iceberg_interop import (
            export_iceberg_metadata,
            read_iceberg_changes,
        )

        t = TxnTable(lake, "chl2", stats_cols=["k"])
        t.append(
            spark.createDataFrame([(0,)], "k INT").coalesce(1)
        )
        export_iceberg_metadata(t, format_version=3)
        with pytest.raises(ValueError, match="append scan's option"):
            read_iceberg_changes(
                spark, str(t.root), from_snapshot_id=1,
                include_deletes=True, with_lineage=True,
            )


class TestLineageRewriteGate:
    def test_plain_compact_refuses_under_v3(self, spark, lake):
        """A lineage-losing rewrite (plain compact) on a v3-exported
        table refuses; compact_preserving_row_lineage passes."""
        from interop_datalake_spark.lake.iceberg_interop import (
            compact_preserving_row_lineage,
            export_iceberg_metadata,
            read_iceberg,
        )

        t = TxnTable(lake, "lg1", stats_cols=["k"])
        t.append(
            spark.createDataFrame(
                [(i,) for i in range(6)], "k INT"
            ).coalesce(1)
        )
        export_iceberg_metadata(t, format_version=3)
        t.append(
            spark.createDataFrame([(6,)], "k INT").coalesce(1)
        )
        export_iceberg_metadata(t)
        before = {
            r.k: r._row_id
            for r in read_iceberg(
                spark, str(t.root), with_lineage=True
            ).collect()
        }
        t.compact()
        with pytest.raises(ValueError, match="re-identify"):
            export_iceberg_metadata(t)
        # the restore path: undo nothing — just rewrite WITH lineage
        # (the preserving compact requires a current export, which
        # still points at the pre-compact snapshot; rebuild from it)
        t.restore(2)  # back to the pre-compact state
        export_iceberg_metadata(t)
        compact_preserving_row_lineage(t)
        export_iceberg_metadata(t)
        after = {
            r.k: r._row_id
            for r in read_iceberg(
                spark, str(t.root), with_lineage=True
            ).collect()
        }
        assert after == before

    def test_v2_compact_still_exports(self, spark, lake):
        from interop_datalake_spark.lake.iceberg_interop import (
            export_iceberg_metadata,
            read_iceberg,
        )

        t = TxnTable(lake, "lg2", stats_cols=["k"])
        t.append(
            spark.createDataFrame([(1,), (2,)], "k INT").coalesce(1)
        )
        export_iceberg_metadata(t)  # v2 — no lineage, no gate
        t.append(
            spark.createDataFrame([(3,)], "k INT").coalesce(1)
        )
        export_iceberg_metadata(t)
        t.compact()
        export_iceberg_metadata(t)
        assert read_iceberg(spark, str(t.root)).count() == 3


class TestTimestampNtz:
    def test_ntz_roundtrip_with_bounds(self, spark, lake):
        """Spark TIMESTAMP_NTZ is exactly Iceberg's zoneless
        `timestamp` — the reader always mapped it back; round 14
        makes the WRITE side symmetric (schema, bounds serialization,
        bound-pruned reads)."""
        from datetime import datetime as _dt

        from interop_datalake_spark.lake.iceberg_interop import (
            export_iceberg_metadata,
            iceberg_files,
            read_iceberg,
        )

        t = TxnTable(lake, "ntz1", stats_cols=["ts"])
        t.append(
            spark.createDataFrame(
                [(_dt(2020, 1, 1, 12), 1), (_dt(2020, 6, 1), 2)],
                "ts TIMESTAMP_NTZ, k INT",
            ).coalesce(1)
        )
        t.append(
            spark.createDataFrame(
                [(_dt(2024, 3, 1, 8, 30), 3)],
                "ts TIMESTAMP_NTZ, k INT",
            ).coalesce(1)
        )
        export_iceberg_metadata(t)
        meta_dir = t.root / "metadata"
        n = int((meta_dir / "version-hint.text").read_text())
        meta = json.loads(
            (meta_dir / f"v{n}.metadata.json").read_text()
        )
        fld = next(
            f
            for f in meta["schemas"][0]["fields"]
            if f["name"] == "ts"
        )
        assert fld["type"] == "timestamp"  # zoneless, not timestamptz
        df = read_iceberg(spark, str(t.root))
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
        assert {r.k for r in df.collect()} == {1, 2, 3}
        # bounds serialized → file-level skipping prunes by the ntz
        # range (2 files; the probe covers only the 2024 file)
        pruned = iceberg_files(
            spark, str(t.root),
            key_range=("ts", _dt(2023, 1, 1), _dt(2025, 1, 1)),
        )
        assert len(pruned) == 1
