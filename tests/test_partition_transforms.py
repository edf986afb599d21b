"""Hidden partitioning via partition TRANSFORMS (Iceberg table-spec
"Partition Transforms"; VERDICT round 5 item 3): the spec declares
days(ts) / bucket(n, id) / truncate(w, col), writers DERIVE the
partition value from the raw column, and readers prune raw-column
predicates through the transform without ever naming the layout. The
derived column is hidden — path + manifest only, never in the data
files' schema or the read-back frame. This is what the reference's
``_date=<ingest date>`` layout (DatalakePublishService.kt:68-73) maps
to at 100 TB: queries filter on the raw timestamp, the engine opens
one day's files.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from interop_datalake_spark.lake.txn import TxnTable
from interop_datalake_spark.session import DatalakeSession


@pytest.fixture()
def lake(spark):
    root = tempfile.mkdtemp(prefix="txn_ptf_")
    yield DatalakeSession(lake_root=root, spark=spark)
    shutil.rmtree(root, ignore_errors=True)


def _events(spark, n=1000):
    """n rows spread over 5 days × 4 uid buckets (deterministic)."""
    return (
        spark.range(0, n)
        .select(F.col("id").alias("uid"))
        .withColumn(
            "ts",
            F.expr(
                "timestamp'2024-01-01 00:00:00'"
                " + make_interval(0,0,0,0,0,0, uid*400)"
            ),
        )
        .withColumn("val", F.col("uid") * 2)
    )


class TestHiddenPartitioning:
    def test_transform_column_is_hidden_from_reads(self, spark, lake):
        t = TxnTable(
            lake, "ev", partition_transforms={"ts_day": ("days", "ts")}
        )
        t.append(_events(spark))
        assert set(t.read().columns) == {"uid", "ts", "val"}
        # ... but the layout on disk IS day-partitioned and recorded
        parts = t.manifest()["partitions"]
        days = {v["ts_day"] for v in parts.values()}
        assert days == {
            "2024-01-01", "2024-01-02", "2024-01-03",
            "2024-01-04", "2024-01-05",
        }

    def test_raw_range_predicate_prunes_through_days(self, spark, lake):
        t = TxnTable(
            lake, "ev2", partition_transforms={"ts_day": ("days", "ts")}
        )
        t.append(_events(spark))
        all_files = t.resolve_files()
        one_day = t.resolve_files(
            key_range=("ts", "2024-01-02 00:00:00", "2024-01-02 23:59:59")
        )
        # 5 days of files; a one-day predicate on the RAW column must
        # open ~1/5 of them (VERDICT: "≥4→1"-style pruning evidence)
        assert len(one_day) * 4 <= len(all_files)
        got = t.read(
            key_range=("ts", "2024-01-02 00:00:00", "2024-01-02 23:59:59")
        ).count()
        want = (
            _events(spark)
            .filter(
                F.col("ts").between(
                    "2024-01-02 00:00:00", "2024-01-02 23:59:59"
                )
            )
            .count()
        )
        assert got == want > 0

    def test_bucket_point_lookup_prunes_and_matches(self, spark, lake):
        t = TxnTable(
            lake,
            "ev3",
            partition_transforms={"uid_b": ("bucket", 4, "uid")},
        )
        t.append(_events(spark))
        all_files = t.resolve_files()
        point = t.resolve_files(key_range=("uid", 7, 7))
        assert len(point) * 2 <= len(all_files)  # ~1/4 of the buckets
        assert t.read(key_range=("uid", 7, 7)).count() == 1
        # bucket is NOT order-preserving: a true range must not prune
        rng = t.resolve_files(key_range=("uid", 7, 9))
        assert len(rng) == len(all_files)

    def test_numeric_truncate_compares_typed_not_lexicographic(
        self, spark, lake
    ):
        # truncate(50) over uid 0..999 → partition values 0,50,…,950;
        # lexicographically "950" < "99…" style orderings would prune
        # wrong — the compare must parse the recorded path string
        t = TxnTable(
            lake,
            "ev4",
            partition_transforms={"uid_t": ("truncate", 50, "uid")},
        )
        t.append(_events(spark))
        all_files = t.resolve_files()
        window = t.resolve_files(key_range=("uid", 100, 149))
        assert len(window) < len(all_files)
        got = sorted(
            r["uid"]
            for r in t.read(key_range=("uid", 100, 149)).collect()
        )
        assert got == list(range(100, 150))

    def test_null_source_rows_are_never_pruned(self, spark, lake):
        t = TxnTable(
            lake, "ev5", partition_transforms={"ts_day": ("days", "ts")}
        )
        df = spark.createDataFrame(
            [(1, "2024-01-01 10:00:00"), (2, None)],
            "uid INT, ts_s STRING",
        ).select("uid", F.col("ts_s").cast("timestamp").alias("ts"))
        t.append(df)
        # the NULL-ts row lands in __HIVE_DEFAULT_PARTITION__ and must
        # survive any predicate's FILE pruning (rows filter later)
        fs = t.resolve_files(
            key_range=("ts", "2024-01-01 00:00:00", "2024-01-01 23:59:59")
        )
        kept_rows = (
            t._load_files(fs, t.manifest())
            .filter(F.col("ts").isNull())
            .count()
        )
        assert kept_rows == 1

    def test_spec_discovery_from_log_and_collision_raises(
        self, spark, lake
    ):
        t = TxnTable(
            lake, "ev6", partition_transforms={"ts_day": ("days", "ts")}
        )
        t.append(_events(spark))  # 5 days of files
        fresh = TxnTable(lake, "ev6")  # no spec passed: discovered
        assert fresh.manifest()["partition_transforms"] == {
            "ts_day": ["days", "ts"]
        }
        pruned = fresh.resolve_files(
            key_range=("ts", "2024-01-01 00:00:00", "2024-01-01 23:59:59")
        )
        assert len(pruned) < len(fresh.resolve_files())
        # a transform whose name collides with a data column is refused
        bad = TxnTable(
            lake, "ev7", partition_transforms={"val": ("days", "ts")}
        )
        with pytest.raises(ValueError, match="collides"):
            bad.append(_events(spark, 10))

    def test_months_years_hours_transforms_prune(self, spark, lake):
        """The remaining time granularities share days' format-string
        path; pin each one's layout value and pruning behavior."""
        # ~14 months of data, hourly spread
        df = (
            spark.range(0, 1000)
            .select(F.col("id").alias("uid"))
            .withColumn(
                "ts",
                F.expr(
                    "timestamp'2023-11-15 00:00:00'"
                    " + make_interval(0,0,0,0, CAST(uid*10 AS INT), 0, 0)"
                ),
            )
        )
        t = TxnTable(
            lake,
            "evm",
            partition_transforms={
                "ts_month": ("months", "ts"),
                "ts_year": ("years", "ts"),
            },
        )
        t.append(df)
        parts = t.manifest()["partitions"]
        months = {v["ts_month"] for v in parts.values()}
        years = {v["ts_year"] for v in parts.values()}
        assert "2023-11" in months and "2024-01" in months
        assert {"2023", "2024"} <= years
        all_files = t.resolve_files()
        one_month = t.resolve_files(
            key_range=("ts", "2024-01-01 00:00:00", "2024-01-31 23:59:59")
        )
        assert 0 < len(one_month) < len(all_files)
        got = t.read(
            key_range=("ts", "2024-01-01 00:00:00", "2024-01-31 23:59:59")
        ).count()
        want = df.filter(
            F.col("ts").between(
                "2024-01-01 00:00:00", "2024-01-31 23:59:59"
            )
        ).count()
        assert got == want > 0
        # hours transform on a one-day table
        th = TxnTable(
            lake, "evh", partition_transforms={"ts_h": ("hours", "ts")}
        )
        th.append(
            spark.range(0, 240)
            .select(F.col("id").alias("uid"))
            .withColumn(
                "ts",
                F.expr(
                    "timestamp'2024-03-01 00:00:00'"
                    " + make_interval(0,0,0,0,0, CAST(uid*6 AS INT), 0)"
                ),
            )
        )
        hours = {
            v["ts_h"] for v in th.manifest()["partitions"].values()
        }
        assert "2024-03-01-00" in hours and "2024-03-01-23" in hours
        one_hour = th.resolve_files(
            key_range=("ts", "2024-03-01 05:00:00", "2024-03-01 05:59:59")
        )
        assert 0 < len(one_hour) < len(th.resolve_files())
        assert (
            th.read(
                key_range=(
                    "ts",
                    "2024-03-01 05:00:00",
                    "2024-03-01 05:59:59",
                )
            ).count()
            == 10
        )

    def test_identity_transform_over_timestamp_source(self, spark, lake):
        """Review finding: an identity transform whose source is a
        TIMESTAMP produced datetime-vs-str comparisons in pruning
        (TypeError on every predicated read). Unorderable bounds now
        skip transform pruning conservatively; the read stays
        correct."""
        t = TxnTable(
            lake, "ev9", partition_transforms={"tsp": ("identity", "ts")}
        )
        t.append(_events(spark, 200))
        got = t.read(
            key_range=("ts", "2024-01-01 00:00:00", "2024-01-01 01:00:00")
        ).count()
        want = (
            _events(spark, 200)
            .filter(
                F.col("ts").between(
                    "2024-01-01 00:00:00", "2024-01-01 01:00:00"
                )
            )
            .count()
        )
        assert got == want > 0

    def test_single_key_range_as_list_still_works(self, spark, lake):
        """Review finding: ['col', lo, hi] (list spelling of a single
        range) predates the composite form and must keep working."""
        t = TxnTable(
            lake, "ev10", partition_transforms={"ts_day": ("days", "ts")}
        )
        t.append(_events(spark))
        tpl = t.read(
            key_range=("ts", "2024-01-02 00:00:00", "2024-01-02 23:59:59")
        ).count()
        lst = t.read(
            key_range=["ts", "2024-01-02 00:00:00", "2024-01-02 23:59:59"]
        ).count()
        assert tpl == lst > 0

    def test_transforms_compose_with_hive_partition_cols(
        self, spark, lake
    ):
        # explicit Hive partition col + hidden transform on another
        t = TxnTable(
            lake,
            "ev8",
            partition_cols=["site"],
            partition_transforms={"ts_day": ("days", "ts")},
        )
        df = _events(spark, 400).withColumn(
            "site", F.when(F.col("uid") % 2 == 0, "a").otherwise("b")
        )
        t.append(df)
        assert set(t.read().columns) == {"uid", "ts", "val", "site"}
        both = t.resolve_files(
            partition_filter={"site": "a"},
        )
        assert len(both) < len(t.resolve_files())
        day = t.resolve_files(
            key_range=("ts", "2024-01-01 00:00:00", "2024-01-01 23:59:59"),
            partition_filter={"site": "a"},
        )
        assert len(day) < len(both)
        got = t.read(
            key_range=("ts", "2024-01-01 00:00:00", "2024-01-01 23:59:59"),
            partition_filter={"site": "a"},
        ).count()
        want = df.filter(
            (F.col("site") == "a")
            & F.col("ts").between(
                "2024-01-01 00:00:00", "2024-01-01 23:59:59"
            )
        ).count()
        assert got == want > 0


class TestTransformNamedFilters:
    def test_partition_filter_on_transform_name_returns_exact_rows(
        self, spark, lake
    ):
        """Round-7 pin: read(partition_filter={<transform name>: v})
        must return exact rows — the residual recomputes the derived
        value from the SOURCE column with the writer's own expression
        (the hidden column is never in the read-back frame; this
        AnalysisException'd before round 7)."""
        t = TxnTable(
            lake, "ev9", partition_transforms={"ts_day": ("days", "ts")}
        )
        df = _events(spark, 500)
        t.append(df)
        got = t.read(partition_filter={"ts_day": "2024-01-02"})
        assert "ts_day" not in got.columns
        want = df.filter(F.to_date("ts") == "2024-01-02").count()
        assert got.count() == want > 0
        # list form unions days
        two = t.read(
            partition_filter={"ts_day": ["2024-01-01", "2024-01-02"]}
        ).count()
        want2 = df.filter(
            F.to_date("ts").isin("2024-01-01", "2024-01-02")
        ).count()
        assert two == want2 > want
        # files pruned before the residual ever runs
        assert len(
            t.resolve_files(partition_filter={"ts_day": "2024-01-02"})
        ) < len(t.resolve_files())

    def test_partition_filter_on_bucket_transform_name(self, spark, lake):
        """Bucket-transform residual: the recomputed pmod(xxhash64)
        value string-compares against the filter — buckets partition
        the rows exactly (disjoint, exhaustive)."""
        t = TxnTable(
            lake,
            "ev10",
            partition_transforms={"uid_b": ("bucket", 4, "uid")},
        )
        df = _events(spark, 400)
        t.append(df)
        per_bucket = [
            t.read(partition_filter={"uid_b": b}).count() for b in range(4)
        ]
        assert sum(per_bucket) == 400
        assert all(c > 0 for c in per_bucket)
