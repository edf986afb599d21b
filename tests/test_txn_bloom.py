"""Per-file Bloom indexes (TxnTable bloom_cols): point-lookup file
pruning on high-cardinality unclustered columns — where min/max stats
can't prune — with the no-false-negative guarantee and the over-full →
'always scan' degradation pinned.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest

from interop_datalake_spark.lake.txn import TxnTable
from interop_datalake_spark.session import DatalakeSession


@pytest.fixture()
def lake(spark):
    root = tempfile.mkdtemp(prefix="txn_bloom_")
    yield DatalakeSession(lake_root=root, spark=spark)
    shutil.rmtree(root, ignore_errors=True)


def _batch(spark, tags):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(tags)], "k INT, tag STRING"
    ).coalesce(1)


class TestBloomPruning:
    def test_point_lookup_prunes_files(self, spark, lake):
        t = TxnTable(lake, "b", bloom_cols=["tag"])
        # 4 commits → 4 files, disjoint tag vocabularies
        for grp in range(4):
            t.append(_batch(spark, [f"g{grp}_x{i}" for i in range(20)]))
        all_files = t.manifest()["files"]
        assert len(all_files) == 4
        kept = t.resolve_files(bloom_eq={"tag": "g2_x7"})
        assert len(kept) < 4
        rows = t.read(bloom_eq={"tag": "g2_x7"}).collect()
        assert [r["tag"] for r in rows] == ["g2_x7"]

    def test_no_false_negatives_for_every_present_value(self, spark, lake):
        t = TxnTable(lake, "b2", bloom_cols=["tag"])
        batches = [[f"g{g}_v{i}" for i in range(10)] for g in range(3)]
        for tags in batches:
            t.append(_batch(spark, tags))
        m = t.manifest()
        for g, tags in enumerate(batches):
            for tag in tags:
                kept = t.resolve_files(bloom_eq={"tag": tag})
                got = t.read(bloom_eq={"tag": tag}).count()
                assert got == 1, (tag, kept)

    def test_absent_value_usually_prunes_everything(self, spark, lake):
        # 3 files × 20 keys, 4096 bits: P(all files false-positive) is
        # negligible; at least one file must be pruned, and the read
        # returns zero rows either way
        t = TxnTable(lake, "b3", bloom_cols=["tag"])
        for g in range(3):
            t.append(_batch(spark, [f"g{g}_{i}" for i in range(20)]))
        kept = t.resolve_files(bloom_eq={"tag": "nowhere_to_be_found"})
        assert len(kept) < 3
        if kept:
            assert t.read(bloom_eq={"tag": "nowhere_to_be_found"}).count() == 0

    def test_overfull_bloom_degrades_to_scan_not_false_negative(
        self, spark, lake
    ):
        t = TxnTable(lake, "b4", bloom_cols=["tag"], bloom_bits=8)
        t.append(_batch(spark, [f"v{i}" for i in range(200)]))
        rel = t.manifest()["files"][0]
        assert t.manifest()["stats"][rel]["bloom:tag"] == "FULL"
        assert t.read(bloom_eq={"tag": "v123"}).count() == 1

    def test_files_without_bloom_are_kept_conservatively(self, spark, lake):
        plain = TxnTable(lake, "b5")  # no bloom_cols at write time
        plain.append(_batch(spark, ["old1", "old2"]))
        t = TxnTable(lake, "b5", bloom_cols=["tag"])
        t.append(_batch(spark, ["new1", "new2"]))
        # the un-indexed old file must survive pruning for any probe
        # (the indexed new file is correctly pruned away)
        kept = t.resolve_files(bloom_eq={"tag": "old2"})
        old_file = plain.manifest()["files"][0]
        assert old_file in kept
        assert t.read(bloom_eq={"tag": "old2"}).count() == 1

    def test_non_string_column_probe_casts_to_log_type(self, spark, lake):
        # xxhash64(INT 5) != xxhash64(BIGINT 5): the probe literal must
        # be cast to the column's log-schema type or every lookup on a
        # BIGINT column false-negatives (review finding, verified live)
        t = TxnTable(lake, "bi", bloom_cols=["uid"])
        for g in range(3):
            t.append(
                spark.createDataFrame(
                    [(g * 100 + i,) for i in range(20)], "uid BIGINT"
                ).coalesce(1)
            )
        assert t.read(bloom_eq={"uid": 205}).count() == 1
        assert len(t.resolve_files(bloom_eq={"uid": 205})) < 3

    def test_mixed_bloom_bits_handles_probe_per_file(self, spark, lake):
        # files written under bloom_bits=1024 and =4096 coexist in one
        # snapshot; the self-describing {bits, pos} format probes each
        # file mod ITS OWN bits — a reopened handle can't drift
        a = TxnTable(lake, "mx", bloom_cols=["tag"], bloom_bits=1024)
        a.append(_batch(spark, [f"a{i}" for i in range(10)]))
        b = TxnTable(lake, "mx", bloom_cols=["tag"], bloom_bits=4096)
        b.append(_batch(spark, [f"b{i}" for i in range(10)]))
        for probe in ["a3", "b7"]:
            assert b.read(bloom_eq={"tag": probe}).count() == 1
        assert len(b.resolve_files(bloom_eq={"tag": "a3"})) == 1

    def test_clone_with_nondefault_bits_still_prunes(self, spark, lake):
        src = TxnTable(lake, "nb", bloom_cols=["tag"], bloom_bits=1024)
        for g in range(3):
            src.append(_batch(spark, [f"g{g}_{i}" for i in range(10)]))
        c = src.clone_to("nbc")
        assert c.bloom_bits == 1024  # handle config propagated
        assert len(c.resolve_files(bloom_eq={"tag": "g1_5"})) == 1
        assert c.read(bloom_eq={"tag": "g1_5"}).count() == 1
        # and new writes to the clone keep indexing
        c.append(_batch(spark, ["fresh_tag"]))
        assert c.read(bloom_eq={"tag": "fresh_tag"}).count() == 1

    def test_bloom_on_path_encoded_column_probes_correct_type(
        self, spark, lake
    ):
        # a partition column holding digit STRINGS is re-inferred as
        # INT on the stats read-back; write-side positions must hash
        # the log-schema type or every probe false-negatives (review
        # finding)
        t = TxnTable(lake, "bp", partition_cols=["tag"], bloom_cols=["tag"])
        t.append(
            spark.createDataFrame(
                [(i, str(100 + i)) for i in range(6)], "k INT, tag STRING"
            )
        )
        assert t.read(bloom_eq={"tag": "103"}).count() == 1

    def test_bloom_on_noncanonical_path_string_never_false_negatives(
        self, spark, lake
    ):
        # '0103' is a NON-canonical numeric-looking string: partition
        # type inference would canonicalize it ('0103' → INT 103 →
        # back to STRING '103'), so write-side bloom positions would
        # hash the wrong value and a read probe for the true string
        # would prune the file — silently dropping an existing row
        # (round-5 advice finding). Inference is now disabled for the
        # stats read-back, so positions hash the exact on-disk string.
        t = TxnTable(lake, "bp2", partition_cols=["tag"], bloom_cols=["tag"])
        t.append(
            spark.createDataFrame(
                [(1, "0103"), (2, "0104"), (3, "7")], "k INT, tag STRING"
            )
        )
        got = t.read(bloom_eq={"tag": "0103"})
        assert got.count() == 1 and got.collect()[0]["k"] == 1
        # canonical values keep working, and a miss still prunes
        assert t.read(bloom_eq={"tag": "7"}).count() == 1
        assert t.read(bloom_eq={"tag": "103"}).count() == 0

    def test_bloom_eq_on_int_partition_casts_literal(self, spark, lake):
        # a path-encoded column records no bloom; its bloom_eq prunes
        # by the files' partition values against the literal CAST to
        # the column type, so 5.0 and '05' find INT 5 like the row
        # filter does, and other partitions are pruned
        t = TxnTable(lake, "bpi", partition_cols=["code"], bloom_cols=["code"])
        t.append(
            spark.createDataFrame([(1, 5), (2, 7), (3, None)], "k INT, code INT")
        )
        m = t.manifest()
        assert not any("bloom:code" in s for s in m["stats"].values())
        for probe in (5, 5.0, "05"):
            assert len(t.resolve_files(bloom_eq={"code": probe})) == 1
            got = t.read(bloom_eq={"code": probe}).collect()
            assert [r["k"] for r in got] == [1], probe

    def test_bloom_survives_clone(self, spark, lake):
        t = TxnTable(lake, "b6", bloom_cols=["tag"])
        for g in range(3):
            t.append(_batch(spark, [f"g{g}_{i}" for i in range(10)]))
        c = t.clone_to("b6c")
        kept = c.resolve_files(bloom_eq={"tag": "g1_5"})
        assert len(kept) < 3
        assert c.read(bloom_eq={"tag": "g1_5"}).count() == 1
