"""Lake-layer catalog queries — reference-surface ops the driver can
hash-check. The inputs are the reference's own pinned test fixtures
(FIXTURES.md A1/A4), created in-query; the oracles are golden VALUES
derived from the reference's test expectations, so the driver verifies
the *semantics the reference pins*, not just SQL echo.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from interop_datalake_spark.sources.tables import local_frame

from interop_datalake_spark.functions.hl7 import msh9_event, msh9_type


from interop_datalake_spark.functions.uris import (
    binary_file_path,
    fhir_file_path,
    parse_object_url,
)


def _probe_union(probes) -> list:
    """Independent POST-lifecycle probes as ONE Spark action: each
    probe's single-row aggregate unions into one frame collected once,
    so k driver plan/job round-trips become one (measured 0.88x on the
    5-probe iceberg roundtrip, round 14). Only legal when every probe
    reads finished state — interleaved probe/mutate witnesses keep
    their sequential collects.

    ``probes``: list of (name, frame, [agg columns]); returns
    (name, Row) pairs in input order."""
    names = [name for name, _, _ in probes]
    if len(set(names)) != len(names):
        # duplicate names would silently collapse two probes onto one
        # Row in the dict below — refuse loudly instead
        raise ValueError(f"duplicate probe names: {sorted(names)}")
    aggs = [
        frame.agg(F.lit(name).alias("_probe"), *cols)
        for name, frame, cols in probes
    ]
    u = aggs[0]
    for a in aggs[1:]:
        u = u.unionByName(a)
    by_name = {r["_probe"]: r for r in u.collect()}
    return [(name, by_name[name]) for name, _, _ in probes]

# the 8 pinned MSH-9 shapes (HL7UtilsTest.kt:8-106 via FIXTURES.md A4)
_HL7_CASES = [
    (1, ""),
    (2, "MSH"),
    (3, "MSH|"),
    (4, "MSH|^~\\&|EPIC|EPICADT|SMS"),
    (5, "MSH|^~\\&|EPIC|EPICADT|SMS|SMSADT|199912271408|CHARRIS||1817457|D|2.5|"),
    (6, "MSH|^~\\&|EPIC|EPICADT|SMS|SMSADT|199912271408|CHARRIS|MDMD^T02|1817457|D|2.5|"),
    (7, "MSH|^~\\&|EPIC|EPICADT|SMS|SMSADT|199912271408|CHARRIS|MDMDT02|1817457|D|2.5|"),
    (
        8,
        "MSH|^~\\&|EPIC|EPICADT|SMS|SMSADT|199912271408|CHARRIS|MDM^T02|1817457|D|2.5|\n"
        "PID|||0493575^^^2^ID 1||DOE^JOHN||19480203|M",
    ),
]


def hl7_msh9(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = local_frame(spark, _HL7_CASES, "msg_id INT, message STRING")
    return df.select(
        "msg_id",
        msh9_type("message").alias("message_type"),
        msh9_event("message").alias("message_event"),
    ).orderBy("msg_id")


HL7_ORACLE = """
SELECT * FROM (VALUES
  (1, NULL, NULL), (2, NULL, NULL), (3, NULL, NULL), (4, NULL, NULL),
  (5, NULL, NULL), (6, NULL, NULL), (7, NULL, NULL), (8, 'MDM', 'T02')
) AS t(msg_id, message_type, message_event) ORDER BY msg_id
"""


_URL_CASES = [
    (1, "https://objectstorage.us-phoenix-1.oraclecloud.com/n/ns1/b/dbucket/o/ehr/Binary/fhir_tenant_id=t/abc.json"),
    (2, ""),
    (3, "https://example.com/wrong/shape"),
    (4, "https://objectstorage.host.com/n/ns/b/bkt"),
]


def object_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R14 URI parse; malformed → NULLs (OCIClientTest.kt:244-254)."""
    df = local_frame(spark, _URL_CASES, "case_id INT, url STRING")
    parsed = parse_object_url("url")
    return df.select(
        "case_id",
        parsed["namespace"].alias("namespace"),
        parsed["bucket"].alias("bucket"),
        parsed["path"].alias("path"),
    ).orderBy("case_id")


URL_ORACLE = """
SELECT * FROM (VALUES
  (1, 'ns1', 'dbucket', 'ehr/Binary/fhir_tenant_id=t/abc.json'),
  (2, NULL, NULL, NULL), (3, NULL, NULL, NULL), (4, NULL, NULL, NULL)
) AS t(case_id, namespace, bucket, path) ORDER BY case_id
"""


def lake_path_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5/R12 path templating with the reference's golden expectations
    (pinned date 1990-01-03, DatalakePublishServiceTest.kt:39-93)."""
    df = local_frame(spark,
        [
            ("Location", "abc", "mockTenant", "1990-01-03"),
            ("Practitioner", "abc", "mockTenant", "1990-01-03"),
            ("Patient", "FHIRID", "ronin", "2023-06-26"),
        ],
        "resource_type STRING, resource_id STRING, tenant_id STRING, d STRING",
    )
    return df.select(
        "resource_id",
        "resource_type",
        fhir_file_path(
            "resource_type", "tenant_id", "resource_id", F.col("d").cast("date")
        ).alias("fhir_path"),
        binary_file_path("tenant_id", "resource_id").alias("binary_path"),
    ).orderBy("resource_type", "resource_id")


PATHS_ORACLE = """
SELECT * FROM (VALUES
  ('abc', 'Location',
   'ehr/location/fhir_tenant_id=mockTenant/_date=1990-01-03/abc.json',
   'ehr/Binary/fhir_tenant_id=mockTenant/abc.json'),
  ('FHIRID', 'Patient',
   'ehr/patient/fhir_tenant_id=ronin/_date=2023-06-26/FHIRID.json',
   'ehr/Binary/fhir_tenant_id=ronin/FHIRID.json'),
  ('abc', 'Practitioner',
   'ehr/practitioner/fhir_tenant_id=mockTenant/_date=1990-01-03/abc.json',
   'ehr/Binary/fhir_tenant_id=mockTenant/abc.json')
) AS t(resource_id, resource_type, fhir_path, binary_path)
ORDER BY resource_type, resource_id
"""


def lake_publish_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end lake layer through the driver: publish a mixed batch
    (R1) into a temp lake root as ACID manifest commits, read it back
    partition-pruned (R10), aggregate per (type, tenant). Exercises
    the real TxnTable write→manifest-prune→scan path, not a mock. The
    scratch lake is deleted after the aggregates are collected."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from interop_datalake_spark.lake.publish import publish_fhir_r4
    from interop_datalake_spark.lake.retrieve import retrieve_fhir
    from interop_datalake_spark.session import DatalakeSession
    from interop_datalake_spark.sources.tables import load_table, local_frame

    root = tempfile.mkdtemp(prefix="lake_rt_")
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        docs = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") < 10
        )
        resources = docs.select(
            F.when(F.col("doc_id") % 2 == 0, "DocumentReference")
            .otherwise("Binary")
            .alias("resource_type"),
            F.concat(F.lit("doc-"), F.col("doc_id")).alias("resource_id"),
            F.to_json(
                F.struct("doc_id", "lang", "source")
            ).alias("resource_json"),
        )
        publish_fhir_r4(session, "tenantA", resources)
        out_a = retrieve_fhir(session, "tenantA", "DocumentReference")
        out_b = retrieve_fhir(session, "tenantA", "Binary")
        missing = retrieve_fhir(session, "tenantB", "DocumentReference")
        rows = (
            out_a.unionByName(out_b)
            .unionByName(missing)
            .groupBy("resource_type", "fhir_tenant_id")
            .agg(F.count("*").alias("n"))
            .orderBy("resource_type")
            .collect()  # tiny aggregate — detaches result from scratch files
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        [(r["resource_type"], r["fhir_tenant_id"], r["n"]) for r in rows],
        "resource_type STRING, fhir_tenant_id STRING, n BIGINT",
    )


LAKE_ROUNDTRIP_ORACLE = """
SELECT * FROM (VALUES
  ('binary', 'tenantA', 5),
  ('documentreference', 'tenantA', 5)
) AS t(resource_type, fhir_tenant_id, n) ORDER BY resource_type
"""


def lake_txn_acid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACID table-format surface (lake/txn.py, the Delta/Iceberg
    pattern on manifest commits): append → multi-file MERGE → DELETE,
    then time-travel every version and summarize it. The pinned
    numbers prove commits are atomic snapshots (each version's row set
    is exact) and that history stays readable after later commits.
    The scratch table is deleted after the per-version aggregates are
    collected."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession
    from interop_datalake_spark.sources.tables import load_table

    root = tempfile.mkdtemp(prefix="lake_txn_")
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        t = TxnTable(session, "docs_txn")
        docs = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 10)
            .select("doc_id", "lang")
        )
        t.append(docs)  # v1: 10 rows
        upd = docs.filter(F.col("doc_id") < 5).select(
            "doc_id", F.lit("xx").alias("lang")
        )
        ins = spark.createDataFrame(
            [(100, "xx"), (101, "yy"), (102, "yy")], "doc_id LONG, lang STRING"
        )
        t.merge(upd.unionByName(ins), key_cols=["doc_id"])  # v2: 13 rows, 6 xx
        t.delete_where(F.col("doc_id") == 9)  # v3: 12 rows

        collected = [
            t.read(version=v)
            .agg(
                F.count("*").alias("n"),
                F.count(F.when(F.col("lang") == "xx", 1)).alias("n_xx"),
            )
            .collect()[0]
            for v in (1, 2, 3)
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        [(v, r["n"], r["n_xx"]) for v, r in zip((1, 2, 3), collected)],
        "version INT, n BIGINT, n_xx BIGINT",
    ).orderBy("version")


LAKE_TXN_ORACLE = """
SELECT * FROM (VALUES
  (1, 10, 0),
  (2, 13, 6),
  (3, 12, 6)
) AS t(version, n, n_xx) ORDER BY version
"""


def lake_txn_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-feed surface (TxnTable.read_changes — the Delta CDF /
    Iceberg incremental-read analog): three commits (append, append,
    file-pruned merge), then consume the feed from version 0 and
    summarize the rows each commit ADDED. The pinned numbers prove the
    feed is per-commit exact: v3 (a merge touching only the first
    file, file layout pinned by coalesce(1) + disjoint stats ranges)
    re-emits exactly that file's rewritten rows — the carried second
    file's rows do NOT reappear."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession
    from interop_datalake_spark.sources.tables import load_table

    root = tempfile.mkdtemp(prefix="lake_cdf_")
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        t = TxnTable(session, "docs_cdf", stats_cols=["doc_id"])
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
        t.append(docs.filter(F.col("doc_id") < 5).coalesce(1))  # v1
        t.append(
            docs.filter(F.col("doc_id").between(10, 12)).coalesce(1)
        )  # v2: disjoint stats range
        upd = spark.createDataFrame(
            [(0, "zz"), (1, "zz")], "doc_id LONG, lang STRING"
        )
        t.merge(upd, key_cols=["doc_id"])  # v3: touches only v1's file
        rows = (
            t.read_changes(from_version=0)
            .groupBy("_commit_version")
            .agg(
                F.count("*").alias("n"),
                F.min("doc_id").alias("min_doc"),
                F.max("doc_id").alias("max_doc"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        [
            (r["_commit_version"], r["n"], r["min_doc"], r["max_doc"])
            for r in rows
        ],
        "commit_version INT, n BIGINT, min_doc BIGINT, max_doc BIGINT",
    ).orderBy("commit_version")


LAKE_CHANGES_ORACLE = """
SELECT * FROM (VALUES
  (1, 5, 0, 4),
  (2, 3, 10, 12),
  (3, 5, 0, 4)
) AS t(commit_version, n, min_doc, max_doc) ORDER BY commit_version
"""


def lake_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history on TxnTable (lake/scd.py): three
    daily batches — initial load; one change + one no-op + one new
    key; one change-back + one value→NULL change — then an idempotent
    REPLAY of day 3 that provably commits nothing. Each batch is one
    atomic merge keyed on (key, valid_from): a key can never be
    observed with zero or two current versions. The pinned history
    (including the NULL-attribute version and the closed-interval
    chain for key 2) is the whole semantics, verifiable by eye."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from interop_datalake_spark.lake.scd import scd2_apply
    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession

    root = tempfile.mkdtemp(prefix="lake_scd2_")
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        t = TxnTable(session, "dim_scd2")

        def batch(rows, day):
            return local_frame(spark,
                rows, "key BIGINT, attr STRING"
            ).withColumn(
                "effective_ts",
                F.lit(f"2024-01-0{day} 00:00:00").cast("timestamp"),
            )

        v1 = scd2_apply(t, batch([(1, "A"), (2, "B"), (3, "C")], 1),
                        ["key"], ["attr"])
        v2 = scd2_apply(t, batch([(1, "A"), (2, "B2"), (4, "D")], 2),
                        ["key"], ["attr"])
        v3 = scd2_apply(t, batch([(2, "B"), (3, None)], 3),
                        ["key"], ["attr"])
        v4 = scd2_apply(t, batch([(2, "B"), (3, None)], 4),
                        ["key"], ["attr"])  # idempotent replay: no commit
        assert v1 == 1 and v2 == 2 and v3 == 3 and v4 is None
        assert t.current_version() == 3

        hist = (
            t.read()
            .select(
                "key",
                "attr",
                F.dayofmonth("valid_from").alias("from_day"),
                F.dayofmonth("valid_to").alias("to_day"),
                "is_current",
            )
            .collect()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        [(r.key, r.attr, r.from_day, r.to_day, r.is_current) for r in hist],
        "key BIGINT, attr STRING, from_day INT, to_day INT, is_current BOOLEAN",
    ).orderBy("key", "from_day")


LAKE_SCD2_ORACLE = """
SELECT * FROM (VALUES
  (1, 'A',  1, NULL, true),
  (2, 'B',  1, 2,    false),
  (2, 'B2', 2, 3,    false),
  (2, 'B',  3, NULL, true),
  (3, 'C',  1, 3,    false),
  (3, NULL, 3, NULL, true),
  (4, 'D',  2, NULL, true)
) AS t(key, attr, from_day, to_day, is_current)
ORDER BY key, from_day
"""


def lake_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE-to-version (lake/txn.py:TxnTable.restore): build a
    5-version history — append, append, delete, restore-back,
    restore-FORWARD — then emit one row per version with its op,
    manifest row count, and the time-travelled snapshot's key sum.
    v4 proves restore reinstates deleted data metadata-only; v5 proves
    a restore target can itself be a later state than the current one;
    the trailing no-op restore (to the current version) is asserted to
    commit nothing. Every number is pinned in the VALUES oracle."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession

    root = tempfile.mkdtemp(prefix="lake_restore_")
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        t = TxnTable(session, "restore_demo")

        def df(rows):
            return local_frame(spark, rows, "k INT, v STRING")

        t.append(df([(1, "a"), (2, "b")]))          # v1
        t.append(df([(3, "c")]))                    # v2
        t.delete_where(F.col("k") == 2)             # v3
        t.restore(2)                                # v4: back past the delete
        t.restore(3)                                # v5: forward to post-delete
        assert t.restore(5) == 5 and t.current_version() == 5  # no-op

        rows = []
        for v in range(1, 6):
            ksum = (
                t.read(version=v)
                .agg(F.sum("k").alias("s"))
                .collect()[0]["s"]
            )
            rows.append(
                (v, t.commit_record(v)["op"], t.manifest(v)["rows"], int(ksum))
            )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        rows, "version INT, op STRING, rows_total BIGINT, k_sum INT"
    ).orderBy("version")


LAKE_RESTORE_ORACLE = """
SELECT * FROM (VALUES
  (1, 'append',  2, 3),
  (2, 'append',  3, 6),
  (3, 'delete',  2, 4),
  (4, 'restore', 3, 6),
  (5, 'restore', 2, 4)
) AS t(version, op, rows_total, k_sum)
ORDER BY version
"""


def lake_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLONE TABLE (lake/txn.py:TxnTable.clone_to): snapshot a table
    into an independent branch by hard-linking data files under a
    one-commit manifest (zero bytes copied). The demo diverges BOTH
    sides after cloning — clone appends + deletes, source overwrites
    and then VACUUMS away every original file — and the clone still
    reads its branch exactly (links keep inodes alive; the Delta
    shallow-clone footgun is structurally closed). One row per
    (table, version) with op, manifest rows, and key sum — all pinned
    in the VALUES oracle."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession

    root = tempfile.mkdtemp(prefix="lake_clone_")
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        src = TxnTable(session, "clone_src")

        def df(rows):
            return local_frame(spark, rows, "k INT, v STRING")

        src.append(df([(1, "a"), (2, "b")]))       # src v1
        dst = src.clone_to("clone_dst")            # dst v1 = clone
        dst.append(df([(7, "g")]))                 # dst v2
        dst.delete_where(F.col("k") == 1)          # dst v3
        src.overwrite(df([(99, "z")]))             # src v2

        def ksum(t, v):
            return int(
                t.read(version=v).agg(F.sum("k").alias("s")).collect()[0]["s"]
            )

        rows = []
        for label, t in (("src", src), ("dst", dst)):
            for v in range(1, t.current_version() + 1):
                rows.append(
                    (label, v, t.commit_record(v)["op"],
                     t.manifest(v)["rows"], ksum(t, v))
                )
        # now unlink every pre-overwrite source file; the clone's
        # snapshot (hard links) must read back unchanged
        src.vacuum(keep_versions=1)
        rows.append(
            ("post_vacuum", dst.current_version(), "clone_survives",
             dst.manifest()["rows"], ksum(dst, None))
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        rows, "tbl STRING, version INT, op STRING, rows_total BIGINT, k_sum INT"
    ).orderBy("tbl", "version")


LAKE_CLONE_ORACLE = """
SELECT * FROM (VALUES
  ('dst', 1, 'clone',     2, 3),
  ('dst', 2, 'append',    3, 10),
  ('dst', 3, 'delete',    2, 9),
  ('post_vacuum', 3, 'clone_survives', 2, 9),
  ('src', 1, 'append',    2, 3),
  ('src', 2, 'overwrite', 1, 99)
) AS t(tbl, version, op, rows_total, k_sum)
ORDER BY tbl, version
"""


def lake_bloom_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file Bloom index (lake/txn.py: bloom_cols): 4 commits → 4
    files with disjoint high-cardinality ``tag`` vocabularies — the
    regime where min/max stats prune NOTHING (each file's string range
    brackets the others) but the k=2 xxhash64 bloom prunes a point
    lookup 4 → 1 files, and an absent key 4 → 0 (no scan at all).
    xxhash64 is deterministic, so the scanned-file counts are pinned
    constants, not flaky hash luck. One row per probe with
    (files_total, files_scanned, rows_found) — VALUES oracle."""
    import shutil
    import tempfile

    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession

    root = tempfile.mkdtemp(prefix="lake_bloom_")
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        t = TxnTable(session, "bloom_demo", bloom_cols=["tag"])
        for g in range(4):
            t.append(
                spark.createDataFrame(
                    [(i, f"g{g}_x{i}") for i in range(25)],
                    "k INT, tag STRING",
                ).coalesce(1)
            )
        rows = []
        for probe in ["g0_x3", "g2_x7", "missing_tag"]:
            kept = t.resolve_files(bloom_eq={"tag": probe})
            n = t.read(bloom_eq={"tag": probe}).count()
            rows.append(
                (probe, len(t.manifest()["files"]), len(kept), int(n))
            )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        rows,
        "probe STRING, files_total INT, files_scanned INT, rows_found INT",
    ).orderBy("probe")


LAKE_BLOOM_ORACLE = """
SELECT * FROM (VALUES
  ('g0_x3',       4, 1, 1),
  ('g2_x7',       4, 1, 1),
  ('missing_tag', 4, 0, 0)
) AS t(probe, files_total, files_scanned, rows_found)
ORDER BY probe
"""


def lake_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution (lake/txn.py:_load_files): an
    unpartitioned table gains partition_cols mid-history — old files
    keep the column IN the data, new files carry it in the PATH, and
    one snapshot reads both correctly (the manifest's per-file
    partition values are the discriminator; Iceberg spec-evolution
    semantics). Output: every row of the mixed snapshot plus a
    partition-filtered read and the pre-evolution time travel —
    pinned VALUES oracle."""
    import shutil
    import tempfile

    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession

    root = tempfile.mkdtemp(prefix="lake_pevo_")
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        TxnTable(session, "t").append(
            spark.createDataFrame([(1, "a"), (2, "b")], "k INT, v STRING")
        )
        part = TxnTable(session, "t", partition_cols=["v"])
        part.append(
            spark.createDataFrame([(3, "a"), (4, "c")], "k INT, v STRING")
        )
        rows = [
            ("snapshot", r["k"], r["v"])
            for r in part.read().collect()
        ]
        rows += [
            ("filter_a", r["k"], r["v"])
            for r in part.read(partition_filter={"v": "a"}).collect()
        ]
        rows += [
            ("v1", r["k"], r["v"])
            for r in part.read(version=1).collect()
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        rows, "probe STRING, k INT, v STRING"
    ).orderBy("probe", "k")


LAKE_PEVO_ORACLE = """
SELECT * FROM (VALUES
  ('filter_a', 1, 'a'),
  ('filter_a', 3, 'a'),
  ('snapshot', 1, 'a'),
  ('snapshot', 2, 'b'),
  ('snapshot', 3, 'a'),
  ('snapshot', 4, 'c'),
  ('v1',       1, 'a'),
  ('v1',       2, 'b')
) AS t(probe, k, v)
ORDER BY probe, k
"""


def lake_merge_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scoped full-state MERGE sync (lake/txn.py:merge_sync — the
    WHEN NOT MATCHED BY SOURCE THEN DELETE clause): tenant A's batch
    is its COMPLETE current state, so within scope tenant=A a matched
    key updates, an unmatched key deletes, a new key inserts — while
    tenant B is untouched, and a cross-scope matched key is still
    replaced (standard matched-clause semantics). Output = the table
    before and after, pinned VALUES oracle."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession

    root = tempfile.mkdtemp(prefix="lake_sync_")
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        t = TxnTable(session, "sync_demo", stats_cols=["id"])

        def df(rows):
            return local_frame(spark,
                rows, "id INT, tenant STRING, v STRING"
            )

        t.append(
            df([(1, "A", "old"), (2, "A", "stale"), (3, "B", "keep")])
        )
        rows = [
            ("before", r["id"], r["tenant"], r["v"])
            for r in t.read().collect()
        ]
        t.merge_sync(
            df([(1, "A", "new"), (4, "A", "born")]),
            ["id"],
            scope=F.col("tenant") == "A",
        )
        rows += [
            ("after", r["id"], r["tenant"], r["v"])
            for r in t.read().collect()
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        rows, "phase STRING, id INT, tenant STRING, v STRING"
    ).orderBy("phase", "id")


LAKE_MERGE_SYNC_ORACLE = """
SELECT * FROM (VALUES
  ('after',  1, 'A', 'new'),
  ('after',  3, 'B', 'keep'),
  ('after',  4, 'A', 'born'),
  ('before', 1, 'A', 'old'),
  ('before', 2, 'A', 'stale'),
  ('before', 3, 'B', 'keep')
) AS t(phase, id, tenant, v)
ORDER BY phase, id
"""


def lake_metadata_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-table surfaces (lake/txn.py: files_df / history_df —
    the DESCRIBE DETAIL / DESCRIBE HISTORY analogs, log-only): a
    3-commit scratch table is summarized purely from its manifests —
    per-commit op/files-added/rows from history_df (timestamps exist
    but are wall-clock, so the pinned projection drops them) and
    file-count/row totals per snapshot from files_df. VALUES oracle."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession

    root = tempfile.mkdtemp(prefix="lake_meta_")
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        t = TxnTable(session, "meta_demo")

        def df(rows):
            return local_frame(spark, rows, "k INT").coalesce(1)

        t.append(df([(1,), (2,)]))
        t.append(df([(3,)]))
        t.delete_where(F.col("k") == 2)
        rows = [
            ("history", h["version"], h["op"], h["n_added"], h["rows_total"])
            for h in t.history_df().collect()
        ]
        for v in (1, 3):
            fd = t.files_df(version=v).agg(
                F.count("*").alias("nf"),
                F.sum("rows").alias("rows"),
            ).collect()[0]
            rows.append((f"files_v{v}", v, "snapshot", fd["nf"], fd["rows"]))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        rows, "probe STRING, version INT, op STRING, n INT, rows_total BIGINT"
    ).orderBy("probe", "version")


LAKE_METADATA_ORACLE = """
SELECT * FROM (VALUES
  ('files_v1', 1, 'snapshot', 1, 2),
  ('files_v3', 3, 'snapshot', 2, 2),
  ('history',  1, 'append',   1, 2),
  ('history',  2, 'append',   1, 3),
  ('history',  3, 'delete',   1, 2)
) AS t(probe, version, op, n, rows_total)
ORDER BY probe, version
"""


def lake_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish (lake/expectations.py): one batch with a
    warn-action and a drop-action expectation — 2 rows quarantined
    (one failing BOTH rules, tagged with both names), 4 published,
    audit rows persisted to an audit TxnTable — then a batch violating
    a fail-action expectation, which aborts BEFORE any write (all
    three table versions provably unchanged). Output = the audit
    table + pinned quarantine/main summaries."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from interop_datalake_spark.lake.expectations import (
        Expectation,
        ExpectationFailed,
        append_with_expectations,
    )
    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession

    root = tempfile.mkdtemp(prefix="lake_exp_")
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        main = TxnTable(session, "docs_main")
        quar = TxnTable(session, "docs_quarantine")
        audit = TxnTable(session, "docs_audit")
        exps = [
            Expectation("text_nonempty", F.length("text") > 0, "drop"),
            Expectation("lang_known", F.col("lang").isin("en", "es"), "drop"),
            Expectation("id_small", F.col("doc_id") < 100, "warn"),
        ]
        b1 = spark.createDataFrame(
            [
                (1, "hello", "en"),
                (2, "", "en"),        # fails text_nonempty
                (3, "hola", "es"),
                (4, "", "xx"),        # fails BOTH drop rules
                (5, "bonjour", "en"),
                (200, "big", "en"),   # fails the warn rule: published
            ],
            "doc_id BIGINT, text STRING, lang STRING",
        )
        rep = append_with_expectations(main, b1, exps, quar, audit)
        assert rep["rows_published"] == 4 and rep["rows_quarantined"] == 2

        b2 = spark.createDataFrame(
            [(-1, "neg", "en")], "doc_id BIGINT, text STRING, lang STRING"
        )
        exps_fail = exps + [
            Expectation("id_positive", F.col("doc_id") >= 0, "fail")
        ]
        vmain, vq, va = (
            main.current_version(),
            quar.current_version(),
            audit.current_version(),
        )
        try:
            append_with_expectations(main, b2, exps_fail, quar, audit)
            raise AssertionError("fail-action violation must raise")
        except ExpectationFailed:
            pass
        # abort-before-write: no table moved
        assert (vmain, vq, va) == (
            main.current_version(),
            quar.current_version(),
            audit.current_version(),
        )

        audit_rows = [
            ("audit", r.expectation, r.action, r.violations, r.rows_published)
            for r in audit.read().collect()
        ]
        quar_rows = [
            (
                "quarantine",
                str(r.doc_id),
                ",".join(sorted(r["_violations"])),
                None,
                None,
            )
            for r in quar.read().collect()
        ]
        main_n = main.read().count()
        summary = [("main", "rows", None, None, main_n)]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        audit_rows + quar_rows + summary,
        "kind STRING, item STRING, detail STRING, violations BIGINT, n BIGINT",
    ).orderBy("kind", "item", "detail")


LAKE_EXPECTATIONS_ORACLE = """
SELECT * FROM (VALUES
  ('audit', 'text_nonempty', 'drop', 2, 4),
  ('audit', 'lang_known',    'drop', 1, 4),
  ('audit', 'id_small',      'warn', 1, 4),
  ('quarantine', '2', 'text_nonempty', NULL, NULL),
  ('quarantine', '4', 'lang_known,text_nonempty', NULL, NULL),
  ('main', 'rows', NULL, NULL, 4)
) AS t(kind, item, detail, violations, n)
ORDER BY kind, item, detail
"""


def lake_partition_transforms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIDDEN partitioning via partition transforms (lake/txn.py:
    _transform_value_expr; Iceberg table-spec "Partition Transforms";
    the reference's ``_date=<ingest date>`` layout,
    DatalakePublishService.kt:68-73, is days(ingest_ts) hand-rolled):
    the first 10 days of ``events`` are written into a TxnTable whose
    spec declares ``days(ts)`` + ``bucket(8, user_id)``; both probes
    then predicate on the RAW columns only — the day-range read opens
    ~3/10 of the files and the user point-lookup ~1/8 (pruning counts
    pinned in tests/test_partition_transforms.py; this query pins the
    VALUES). The derived columns never appear in the read-back schema,
    so the oracle is plain SQL over the raw parquet. Counts and BIGINT
    min/max only — no double sums, per the portable-type rule."""
    import shutil
    import tempfile

    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession
    from interop_datalake_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-11 00:00:00").cast("timestamp")
    )
    root = tempfile.mkdtemp(prefix="lake_ptf_")
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        t = TxnTable(
            session,
            "events_hidden",
            partition_transforms={
                "ts_day": ("days", "ts"),
                "uid_b": ("bucket", 8, "user_id"),
            },
        )
        t.append(events)
        day_range = (
            t.read(
                key_range=(
                    "ts",
                    "2024-01-05 00:00:00",
                    "2024-01-07 23:59:59.999999",
                )
            )
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count_distinct(F.col("user_id")).alias("n_users"),
                F.min("event_id").alias("min_eid"),
                F.max("event_id").alias("max_eid"),
            )
            .select(
                F.lit("day_range").alias("probe"), "event_type",
                "n", "n_users", "min_eid", "max_eid",
            )
        )
        # global agg (no groupBy): exactly one row even when the user
        # has no events at this sf — matching the oracle's shape
        point = (
            t.read(key_range=("user_id", 17, 17))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count_distinct(F.col("user_id")).alias("n_users"),
                F.min("event_id").alias("min_eid"),
                F.max("event_id").alias("max_eid"),
            )
            .select(
                F.lit("bucket_point").alias("probe"),
                F.lit("all").alias("event_type"),
                "n", "n_users", "min_eid", "max_eid",
            )
        )
        rows = day_range.unionByName(point).collect()  # bounded: one
        # row per event_type (+1) — result detached so the temp lake
        # can be deleted before return
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        rows,
        "probe STRING, event_type STRING, n BIGINT, n_users BIGINT,"
        " min_eid BIGINT, max_eid BIGINT",
    ).orderBy("probe", "event_type")


LAKE_PTF_ORACLE = """
WITH base AS (
  SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-11 00:00:00'
), day_range AS (
  SELECT 'day_range' AS probe, event_type,
         count(*)::BIGINT AS n,
         count(DISTINCT user_id)::BIGINT AS n_users,
         min(event_id)::BIGINT AS min_eid,
         max(event_id)::BIGINT AS max_eid
  FROM base
  WHERE ts BETWEEN TIMESTAMP '2024-01-05 00:00:00'
               AND TIMESTAMP '2024-01-07 23:59:59.999999'
  GROUP BY event_type
), bucket_point AS (
  SELECT 'bucket_point' AS probe, 'all' AS event_type,
         count(*)::BIGINT AS n,
         count(DISTINCT user_id)::BIGINT AS n_users,
         min(event_id)::BIGINT AS min_eid,
         max(event_id)::BIGINT AS max_eid
  FROM base WHERE user_id = 17
)
SELECT * FROM day_range
UNION ALL
SELECT * FROM bucket_point
ORDER BY probe, event_type
"""


def lake_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read deletes via DELETION VECTORS (lake/txn.py:
    _vector_commit; the Delta deletion-vector / Iceberg v2
    position-delete design): ``documents`` is committed once, then a
    ``lang='de'`` delete records per-file row-position vectors in ONE
    commit that moves ZERO data bytes — ``n_files_rewritten`` is
    pinned 0 in the oracle; the byte-identity of every data file is
    pinned in tests/test_deletion_vectors.py. Probes: the live
    snapshot after the vector delete, time travel to the pre-delete
    version, a stacked second vector, and the compact() reconciliation
    that rewrites files clean — all replayed by the oracle as plain
    filters over the raw parquet."""
    import shutil
    import tempfile

    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession
    from interop_datalake_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    root = tempfile.mkdtemp(prefix="lake_dv_")
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        t = TxnTable(session, "docs_dv", stats_cols=["doc_id"])
        t.append(docs.repartition(4))
        files_v1 = set(t.manifest()["files"])
        t.delete_where(F.col("lang") == "de", merge_on_read=True)
        files_v2 = set(t.manifest()["files"])

        def probe(name, frame):
            r = frame.agg(
                F.count(F.lit(1)).alias("n"),
                F.min("doc_id").alias("min_id"),
                F.max("doc_id").alias("max_id"),
            ).collect()[0]
            return (name, r["n"], r["min_id"], r["max_id"])

        rows = [
            probe("after_dv_delete", t.read()),
            probe("time_travel_v1", t.read(version=1)),
            (
                "files_rewritten_by_dv",
                len(files_v1 ^ files_v2),
                None,
                None,
            ),
        ]
        t.delete_where(F.col("n_chars") < 200, merge_on_read=True)
        rows.append(probe("after_stacked_dv", t.read()))
        t.compact(target_files=2)
        rows.append(probe("after_compact", t.read()))
        rows.append(
            (
                "vectors_after_compact",
                len(t.manifest()["dvs"]),
                None,
                None,
            )
        )
        # DV MERGE (merge-on-read upsert): re-insert every doc_id %
        # 100 == 0 from the RAW corpus (matched live rows soft-delete
        # by vector; previously hard/soft-deleted ids re-insert) plus
        # two brand-new ids — zero existing files rewritten
        upserts = docs.filter(F.col("doc_id") % 100 == 0).unionByName(
            spark.createDataFrame(
                [(1000000, "en", 1000), (1000001, "en", 1000)],
                "doc_id BIGINT, lang STRING, n_chars BIGINT",
            )
        )
        t.merge(upserts, ["doc_id"], merge_on_read=True)
        rows.append(probe("after_mor_merge", t.read()))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        rows, "probe STRING, n BIGINT, min_id BIGINT, max_id BIGINT"
    ).orderBy("probe")


LAKE_DV_ORACLE = """
WITH base AS (
  SELECT doc_id, lang, n_chars FROM documents
), no_de AS (
  SELECT * FROM base WHERE lang <> 'de'
), stacked AS (
  SELECT * FROM no_de WHERE n_chars >= 200
)
SELECT * FROM (
  SELECT 'after_dv_delete' AS probe, count(*)::BIGINT AS n,
         min(doc_id)::BIGINT AS min_id, max(doc_id)::BIGINT AS max_id
  FROM no_de
  UNION ALL
  SELECT 'time_travel_v1', count(*)::BIGINT,
         min(doc_id)::BIGINT, max(doc_id)::BIGINT FROM base
  UNION ALL
  SELECT 'files_rewritten_by_dv', 0::BIGINT, NULL, NULL
  UNION ALL
  SELECT 'after_stacked_dv', count(*)::BIGINT,
         min(doc_id)::BIGINT, max(doc_id)::BIGINT FROM stacked
  UNION ALL
  SELECT 'after_compact', count(*)::BIGINT,
         min(doc_id)::BIGINT, max(doc_id)::BIGINT FROM stacked
  UNION ALL
  SELECT 'vectors_after_compact', 0::BIGINT, NULL, NULL
  UNION ALL
  SELECT 'after_mor_merge', count(*)::BIGINT,
         min(doc_id)::BIGINT, max(doc_id)::BIGINT
  FROM (
    SELECT doc_id FROM stacked WHERE doc_id % 100 <> 0
    UNION ALL
    SELECT doc_id FROM base WHERE doc_id % 100 = 0
    UNION ALL
    SELECT * FROM (VALUES (1000000), (1000001)) v(doc_id)
  )
)
ORDER BY probe
"""


def lake_change_feed_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change feed WITH delete emission (lake/txn.py:read_changes
    include_deletes — Delta CDF on deletion-vector tables): because a
    merge-on-read delete's vector names exact (file, row-position)
    pairs, the feed emits the deleted rows themselves — no snapshot
    diff. Scenario: documents subset appended (v1 inserts), a vector
    delete of lang='de' (v2 deletes), a vector MERGE re-inserting
    every doc_id % 50 == 0 plus one new id (v3: deletes of the
    matched live rows + inserts of the upserts). Output = per
    (version, change type) counts + BIGINT id ranges, replayed by the
    oracle as plain set algebra over the raw parquet."""
    import shutil
    import tempfile

    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession
    from interop_datalake_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    ).filter(F.col("doc_id") < 300)
    root = tempfile.mkdtemp(prefix="lake_cdf_")
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        t = TxnTable(session, "docs_cdf", stats_cols=["doc_id"])
        t.append(docs.repartition(4))                          # v1
        t.delete_where(F.col("lang") == "de", merge_on_read=True)  # v2
        upserts = docs.filter(F.col("doc_id") % 50 == 0).unionByName(
            spark.createDataFrame(
                [(9000, "en", 1000)], "doc_id BIGINT, lang STRING, n_chars BIGINT"
            )
        )
        t.merge(upserts, ["doc_id"], merge_on_read=True)       # v3
        rows = (
            t.read_changes(0, include_deletes=True)
            .groupBy("_commit_version", "_change_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("doc_id").alias("min_id"),
                F.max("doc_id").alias("max_id"),
            )
            .collect()  # ≤ 2 rows per commit — bounded, detaches result
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        [
            (r["_commit_version"], r["_change_type"], r["n"], r["min_id"], r["max_id"])
            for r in rows
        ],
        "commit_version BIGINT, change_type STRING, n BIGINT,"
        " min_id BIGINT, max_id BIGINT",
    ).orderBy("commit_version", "change_type")


LAKE_CDF_ORACLE = """
WITH base AS (
  SELECT doc_id, lang FROM documents WHERE doc_id < 300
), v3_del AS (
  SELECT doc_id FROM base WHERE doc_id % 50 = 0 AND lang <> 'de'
), v3_ins AS (
  SELECT doc_id FROM base WHERE doc_id % 50 = 0
  UNION ALL SELECT 9000
)
SELECT * FROM (
  SELECT 1::BIGINT AS commit_version, 'insert' AS change_type,
         count(*)::BIGINT AS n, min(doc_id)::BIGINT AS min_id,
         max(doc_id)::BIGINT AS max_id
  FROM base
  UNION ALL
  SELECT 2::BIGINT, 'delete', count(*)::BIGINT,
         min(doc_id)::BIGINT, max(doc_id)::BIGINT
  FROM base WHERE lang = 'de'
  UNION ALL
  SELECT 3::BIGINT, 'delete', count(*)::BIGINT,
         min(doc_id)::BIGINT, max(doc_id)::BIGINT FROM v3_del
  UNION ALL
  SELECT 3::BIGINT, 'insert', count(*)::BIGINT,
         min(doc_id)::BIGINT, max(doc_id)::BIGINT FROM v3_ins
)
ORDER BY commit_version, change_type
"""


def lake_delta_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-Delta CHANGE DATA FEED read (round 12;
    lake/delta_interop.py:read_delta_changes — the ``table_changes()``
    / readChangeFeed analog over a raw ``_delta_log``): the SAME
    scenario as ``lake_change_feed_deletes`` — documents subset
    appended, a merge-on-read vector delete of lang='de', a vector
    MERGE upserting every doc_id % 50 == 0 plus one new id — but the
    change rows are recovered from the PUBLISHED Delta log (mirror
    export), not the TxnTable manifests: inserts derive from add
    actions, deletes from the DV-update commit shape's position
    diffs (remove(old DV) + add(new DV) per file). Delta versions
    are 0-based (v0 append, v1 delete, v2 merge), so one SQL
    statement replays the pipeline as set algebra."""
    import shutil
    import tempfile

    from interop_datalake_spark.lake.delta_interop import (
        export_delta_log,
        read_delta_changes,
    )
    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession
    from interop_datalake_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    ).filter(F.col("doc_id") < 300)
    root = tempfile.mkdtemp(prefix="lake_delta_cdf_")
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        t = TxnTable(session, "docs_dcdf", stats_cols=["doc_id"])
        t.append(docs.repartition(4))                              # Δv0
        export_delta_log(t, mode="mirror")
        t.delete_where(F.col("lang") == "de", merge_on_read=True)  # Δv1
        export_delta_log(t, mode="mirror")
        upserts = docs.filter(F.col("doc_id") % 50 == 0).unionByName(
            spark.createDataFrame(
                [(9000, "en", 1000)],
                "doc_id BIGINT, lang STRING, n_chars BIGINT",
            )
        )
        t.merge(upserts, ["doc_id"], merge_on_read=True)           # Δv2
        export_delta_log(t, mode="mirror")
        rows = (
            read_delta_changes(spark, str(t.root), -1)
            .groupBy("_commit_version", "_change_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("doc_id").alias("min_id"),
                F.max("doc_id").alias("max_id"),
            )
            .collect()  # ≤ 2 rows per commit — bounded
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        [
            (r["_commit_version"], r["_change_type"], r["n"],
             r["min_id"], r["max_id"])
            for r in rows
        ],
        "commit_version BIGINT, change_type STRING, n BIGINT,"
        " min_id BIGINT, max_id BIGINT",
    ).orderBy("commit_version", "change_type")


LAKE_DELTA_CDF_ORACLE = """
WITH base AS (
  SELECT doc_id, lang FROM documents WHERE doc_id < 300
), v2_del AS (
  SELECT doc_id FROM base WHERE doc_id % 50 = 0 AND lang <> 'de'
), v2_ins AS (
  SELECT doc_id FROM base WHERE doc_id % 50 = 0
  UNION ALL SELECT 9000
)
SELECT * FROM (
  SELECT 0::BIGINT AS commit_version, 'insert' AS change_type,
         count(*)::BIGINT AS n, min(doc_id)::BIGINT AS min_id,
         max(doc_id)::BIGINT AS max_id
  FROM base
  UNION ALL
  SELECT 1::BIGINT, 'delete', count(*)::BIGINT,
         min(doc_id)::BIGINT, max(doc_id)::BIGINT
  FROM base WHERE lang = 'de'
  UNION ALL
  SELECT 2::BIGINT, 'delete', count(*)::BIGINT,
         min(doc_id)::BIGINT, max(doc_id)::BIGINT FROM v2_del
  UNION ALL
  SELECT 2::BIGINT, 'insert', count(*)::BIGINT,
         min(doc_id)::BIGINT, max(doc_id)::BIGINT FROM v2_ins
)
ORDER BY commit_version, change_type
"""


def lake_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY CHANGES INTO (round 12; lake/cdc_apply.py — the Delta
    Live Tables APPLY CHANGES / upsert-sink analog): a SOURCE table
    runs append → merge-on-read DELETE (lang='de') → merge-on-read
    MERGE (every doc_id % 50 == 0 re-priced to n_chars=1111, plus one
    new id); its delete-emitting change feed is folded to
    latest-per-key and applied into a FRESH table — upserts via keyed
    MERGE, deletions via TxnTable.delete_keys (a distributed
    semi-join, never a driver isin list). Output = the TARGET's
    per-lang rollup, which must equal the oracle's pure-SQL replay of
    the same history (and therefore the source's final state)."""
    import shutil
    import tempfile

    from interop_datalake_spark.lake.cdc_apply import apply_changes_into
    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession
    from interop_datalake_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    ).filter(F.col("doc_id") < 300)
    root = tempfile.mkdtemp(prefix="lake_cdc_apply_")
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        src = TxnTable(session, "cdc_src", stats_cols=["doc_id"])
        src.append(docs.repartition(4))
        src.delete_where(F.col("lang") == "de", merge_on_read=True)
        upserts = docs.filter(F.col("doc_id") % 50 == 0).withColumn(
            "n_chars", F.lit(1111).cast("bigint")
        ).unionByName(
            spark.createDataFrame(
                [(9000, "en", 1000)],
                "doc_id BIGINT, lang STRING, n_chars BIGINT",
            )
        )
        src.merge(upserts, ["doc_id"], merge_on_read=True)
        tgt = TxnTable(session, "cdc_tgt", stats_cols=["doc_id"])
        apply_changes_into(
            tgt, src.read_changes(0, include_deletes=True), ["doc_id"]
        )
        rows = (
            tgt.read()
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("n_chars").alias("sum_chars"),
                F.min("doc_id").alias("min_id"),
                F.max("doc_id").alias("max_id"),
            )
            .collect()  # one row per language — bounded
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        [
            (r["lang"], r["n"], r["sum_chars"], r["min_id"], r["max_id"])
            for r in rows
        ],
        "lang STRING, n BIGINT, sum_chars BIGINT,"
        " min_id BIGINT, max_id BIGINT",
    ).orderBy("lang")


LAKE_CDC_APPLY_ORACLE = """
WITH base AS (
  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id < 300
), final AS (
  SELECT doc_id, lang, n_chars FROM base
  WHERE lang <> 'de' AND doc_id % 50 <> 0
  UNION ALL
  SELECT doc_id, lang, 1111 FROM base WHERE doc_id % 50 = 0
  UNION ALL
  SELECT 9000, 'en', 1000
)
SELECT lang, count(*)::BIGINT AS n, sum(n_chars)::BIGINT AS sum_chars,
       min(doc_id)::BIGINT AS min_id, max(doc_id)::BIGINT AS max_id
FROM final
GROUP BY lang
ORDER BY lang
"""


def lake_incremental_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (lake/ivm.py:IncrementalAggView):
    a per-language (count, sum n_chars) rollup of ``documents`` kept
    current from CHANGE DELTAS — the delete-emitting change feed
    signs rows (+insert/−vector-delete), so each refresh costs
    O(changed rows + touched groups) and never re-scans the source.
    Stages: first materialization, an append-only batch, and a vector
    delete of lang='de' whose groups shrink (and the 'de' group
    VANISHES, as a recompute would have it). The oracle replays every
    stage as a plain filtered aggregate over the raw parquet — which
    is the invariant IVM promises: incremental ≡ recompute."""
    import shutil
    import tempfile

    from interop_datalake_spark.lake.ivm import IncrementalAggView
    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession
    from interop_datalake_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    root = tempfile.mkdtemp(prefix="lake_ivm_")
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        src = TxnTable(session, "docs_src", stats_cols=["doc_id"])
        view = IncrementalAggView(
            session, "docs_by_lang", src, ["lang"], ["n_chars"]
        )
        rows = []

        def snap(stage):
            rows.extend(
                (stage, r["lang"], r["n"], r["sum_n_chars"])
                for r in view.read().collect()  # one row/lang — bounded
            )

        src.append(docs.filter(F.col("doc_id") < 300).repartition(4))
        view.refresh()
        snap("s1_initial")
        src.append(
            docs.filter(
                (F.col("doc_id") >= 300) & (F.col("doc_id") < 400)
            )
        )
        view.refresh()
        snap("s2_append")
        src.delete_where(F.col("lang") == "de", merge_on_read=True)
        view.refresh()
        snap("s3_vector_delete")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        rows, "stage STRING, lang STRING, n BIGINT, sum_chars BIGINT"
    ).orderBy("stage", "lang")


def lake_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN view maintenance
    (lake/ivm_join.py:IncrementalJoinView): orders ⋈ customers kept
    current by the bilinear delta rule Δ(L⋈R) = ΔL⋈R_new + L_old⋈ΔR
    over both tables' delete-emitting change feeds — each refresh
    costs O(changed rows × fanout) with stats-pruned snapshot reads,
    never a re-join of the full tables. Stages: initial
    materialization, a both-sides append window (including a
    previously-orphaned order whose customer arrives late), and a
    both-sides vector-delete window (a customer delete CASCADES its
    orders out of the view). The oracle replays every stage as a
    plain filtered join — the invariant join-IVM promises:
    incremental ≡ recompute."""
    import shutil
    import tempfile

    from interop_datalake_spark.lake.ivm_join import IncrementalJoinView
    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession
    from interop_datalake_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("custkey"),
        F.col("o_totalprice").alias("price"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        # the customer's id IS its join key; the view contract needs a
        # distinct identity column, so carry a named copy
        F.col("c_custkey").alias("cust_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    root = tempfile.mkdtemp(prefix="lake_ivmj_")
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        left = TxnTable(session, "orders_src", stats_cols=["o_orderkey", "custkey"])
        right = TxnTable(session, "cust_src", stats_cols=["cust_id", "custkey"])
        view = IncrementalJoinView(
            session, "orders_by_cust", left, right, on=["custkey"],
            left_id="o_orderkey", right_id="cust_id",
            left_cols=["price"], right_cols=["segment"],
        )
        rows = []

        def snap(stage):
            rows.extend(
                (stage, r["custkey"], r["o_orderkey"], r["price"],
                 r["segment"])
                for r in view.read().collect()  # ≤ a few hundred rows
            )

        right.append(cust.filter(F.col("custkey") < 40))
        left.append(orders.filter(F.col("o_orderkey") < 150))
        view.refresh()
        snap("s1_initial")
        left.append(
            orders.filter(
                (F.col("o_orderkey") >= 150) & (F.col("o_orderkey") < 300)
            )
        )
        right.append(
            cust.filter((F.col("custkey") >= 40) & (F.col("custkey") < 80))
        )
        view.refresh()
        snap("s2_both_append")
        right.delete_where(F.col("cust_id") % 7 == 0, merge_on_read=True)
        left.delete_where(F.col("o_orderkey") % 5 == 0, merge_on_read=True)
        view.refresh()
        snap("s3_vector_deletes")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        rows,
        "stage STRING, custkey BIGINT, o_orderkey BIGINT, "
        "price DOUBLE, segment STRING",
    ).orderBy("stage", "custkey", "o_orderkey")


def lake_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-over-join IVM
    (lake/ivm_join.py:IncrementalJoinAggView): revenue per market
    segment over orders ⋈ customers, maintained WITHOUT materializing
    the join — the signed bilinear join delta feeds the additive
    aggregate algebra directly (the DBSP composition), so each
    refresh costs O(changed rows × fanout + touched segments) while
    the view stores |segments| rows. No unique-id contract: aggregates
    are multiset-linear. Stages mirror the join-view lifecycle; the
    oracle replays each as a filtered join + GROUP BY. Money is
    summed as exact integer cents (floor(price·100 + 0.5) — the same
    IEEE ops in both engines; sums must be integral by the view's own
    truncate-per-delta refusal)."""
    import shutil
    import tempfile

    from interop_datalake_spark.lake.ivm_join import IncrementalJoinAggView
    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession
    from interop_datalake_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("custkey"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).alias("cents"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_custkey").alias("cust_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    root = tempfile.mkdtemp(prefix="lake_ivmja_")
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        left = TxnTable(session, "orders_src", stats_cols=["o_orderkey", "custkey"])
        right = TxnTable(session, "cust_src", stats_cols=["cust_id", "custkey"])
        view = IncrementalJoinAggView(
            session, "revenue_by_segment", left, right, on=["custkey"],
            key_cols=["segment"], sum_cols=["cents"],
        )
        rows = []

        def snap(stage):
            rows.extend(
                (stage, r["segment"], r["n"], r["sum_cents"])
                for r in view.read().collect()  # one row/segment
            )

        right.append(cust.filter(F.col("custkey") < 40))
        left.append(orders.filter(F.col("o_orderkey") < 150))
        view.refresh()
        snap("s1_initial")
        left.append(
            orders.filter(
                (F.col("o_orderkey") >= 150) & (F.col("o_orderkey") < 300)
            )
        )
        right.append(
            cust.filter((F.col("custkey") >= 40) & (F.col("custkey") < 80))
        )
        view.refresh()
        snap("s2_both_append")
        right.delete_where(F.col("cust_id") % 7 == 0, merge_on_read=True)
        left.delete_where(F.col("o_orderkey") % 5 == 0, merge_on_read=True)
        view.refresh()
        snap("s3_vector_deletes")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        rows, "stage STRING, segment STRING, n BIGINT, sum_cents BIGINT"
    ).orderBy("stage", "segment")


LAKE_JOIN_ROLLUP_ORACLE = """
WITH o AS (
  SELECT o_orderkey, o_custkey AS custkey,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
), c AS (
  SELECT c_custkey AS custkey, c_mktsegment AS segment FROM customer
)
SELECT * FROM (
  SELECT 's1_initial' AS stage, c.segment, count(*)::BIGINT AS n,
         sum(o.cents)::BIGINT AS sum_cents
  FROM o JOIN c USING (custkey)
  WHERE o.o_orderkey < 150 AND c.custkey < 40
  GROUP BY c.segment
  UNION ALL
  SELECT 's2_both_append', c.segment, count(*)::BIGINT,
         sum(o.cents)::BIGINT
  FROM o JOIN c USING (custkey)
  WHERE o.o_orderkey < 300 AND c.custkey < 80
  GROUP BY c.segment
  UNION ALL
  SELECT 's3_vector_deletes', c.segment, count(*)::BIGINT,
         sum(o.cents)::BIGINT
  FROM o JOIN c USING (custkey)
  WHERE o.o_orderkey < 300 AND c.custkey < 80
    AND c.custkey % 7 <> 0 AND o.o_orderkey % 5 <> 0
  GROUP BY c.segment
)
ORDER BY stage, segment
"""


LAKE_IVM_JOIN_ORACLE = """
WITH o AS (
  SELECT o_orderkey, o_custkey AS custkey, o_totalprice AS price
  FROM orders
), c AS (
  SELECT c_custkey AS custkey, c_mktsegment AS segment FROM customer
)
SELECT * FROM (
  SELECT 's1_initial' AS stage, c.custkey, o.o_orderkey, o.price,
         c.segment
  FROM o JOIN c USING (custkey)
  WHERE o.o_orderkey < 150 AND c.custkey < 40
  UNION ALL
  SELECT 's2_both_append', c.custkey, o.o_orderkey, o.price, c.segment
  FROM o JOIN c USING (custkey)
  WHERE o.o_orderkey < 300 AND c.custkey < 80
  UNION ALL
  SELECT 's3_vector_deletes', c.custkey, o.o_orderkey, o.price,
         c.segment
  FROM o JOIN c USING (custkey)
  WHERE o.o_orderkey < 300 AND c.custkey < 80
    AND c.custkey % 7 <> 0 AND o.o_orderkey % 5 <> 0
)
ORDER BY stage, custkey, o_orderkey
"""


LAKE_IVM_ORACLE = """
WITH d AS (SELECT doc_id, lang, n_chars FROM documents)
SELECT * FROM (
  SELECT 's1_initial' AS stage, lang, count(*)::BIGINT AS n,
         sum(n_chars)::BIGINT AS sum_chars
  FROM d WHERE doc_id < 300 GROUP BY lang
  UNION ALL
  SELECT 's2_append', lang, count(*)::BIGINT, sum(n_chars)::BIGINT
  FROM d WHERE doc_id < 400 GROUP BY lang
  UNION ALL
  SELECT 's3_vector_delete', lang, count(*)::BIGINT, sum(n_chars)::BIGINT
  FROM d WHERE doc_id < 400 AND lang <> 'de' GROUP BY lang
)
ORDER BY stage, lang
"""


def lake_delta_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta transaction-log interop (lake/delta_interop.py): load a
    lineitem slice into a partitioned TxnTable, soft-delete by
    deletion vector, EXPORT the still-VECTORED snapshot directly —
    the round-11 DV export re-encodes TxnTable vectors as packed
    Delta deletionVector files (lake/delta_dv.py), no forced compact
    — then read the table back through the self-contained Delta LOG
    READER (add/remove replay, DV decode + position anti-join,
    per-file partition-value injection, no delta-spark) and
    aggregate. The oracle computes the same aggregate straight from
    the parquet source, so the whole write→vector→export→delta-read
    lifecycle, including the Z85/roaring encode-decode roundtrip,
    must be value-exact end to end."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from interop_datalake_spark.lake.delta_interop import (
        export_delta_log,
        read_delta,
    )
    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession
    from interop_datalake_spark.sources.tables import load_table

    root = tempfile.mkdtemp(prefix="lake_delta_")
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        t = TxnTable(
            session,
            "li_delta",
            partition_cols=["l_returnflag"],
            stats_cols=["l_orderkey"],
        )
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
        )
        t.append(li.filter(F.col("l_orderkey") < 600))
        t.delete_where(F.col("l_linenumber") > 4, merge_on_read=True)
        export_delta_log(t)  # vectored snapshot exports directly
        rows = (
            read_delta(spark, str(t.root))
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("l_quantity").cast("bigint").alias("qty"),
                F.max("l_orderkey").alias("max_ok"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        [(r["l_returnflag"], r["n"], r["qty"], r["max_ok"]) for r in rows],
        "l_returnflag STRING, n BIGINT, qty BIGINT, max_ok BIGINT",
    ).orderBy("l_returnflag")


LAKE_DELTA_ORACLE = """
SELECT l_returnflag,
       count(*)                         AS n,
       CAST(sum(l_quantity) AS BIGINT)  AS qty,
       CAST(max(l_orderkey) AS BIGINT)  AS max_ok
FROM lineitem
WHERE l_orderkey < 600 AND l_linenumber <= 4
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def lake_delta_dv_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOREIGN Delta table WITH deletion vectors — the default-on
    shape modern Delta writers produce, and the round-10 verdict's
    top interop gap (lake/delta_interop.py read path + lake/delta_dv
    decode). Hand-writes a ``_delta_log`` the way a DV-enabled writer
    would: v0 adds two parquet files, file A carrying an INLINE (Z85)
    RoaringBitmapArray vector; v1 performs the DV-UPDATE commit shape
    — a remove naming A's old vector plus a re-add of the SAME path
    with a widened on-disk uuid-named vector (replay must key the
    live set on (path, DV identity) or the file tombstones) — and
    vectors file B inline. ``read_delta`` decodes both storage forms
    and anti-joins deleted positions by ``_metadata.row_index``. The
    oracle re-derives the surviving rows as plain predicates, so a
    mis-decoded bitmap, a mis-framed DV file, or a mis-keyed replay
    shifts the aggregate."""
    import json as _json
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from interop_datalake_spark.lake.delta_dv import (
        encode_roaring_bitmap_array,
        write_dv_file,
        z85_encode,
    )
    from interop_datalake_spark.lake.delta_interop import read_delta
    from interop_datalake_spark.sources.tables import load_table

    root = tempfile.mkdtemp(prefix="lake_delta_dv_")
    try:
        li = (
            load_table(spark, sf_dir, "lineitem")
            .select(
                "l_orderkey", "l_linenumber", "l_quantity",
                "l_returnflag",
            )
            .filter(F.col("l_orderkey") < 400)
        )
        schema_string = li.schema.json()

        def _write_sorted(name: str, df) -> tuple[str, list]:
            # one file, totally ordered by the unique (orderkey,
            # linenumber) key, so row_index ↔ row is deterministic
            (
                df.repartition(1)
                .sortWithinPartitions("l_orderkey", "l_linenumber")
                .write.parquet(f"{root}/{name}")
            )
            import pathlib

            fname = next(
                p.name
                for p in pathlib.Path(f"{root}/{name}").iterdir()
                if p.name.endswith(".parquet")
            )
            rel = f"{name}/{fname}"
            rows = spark.read.parquet(f"{root}/{rel}").collect()
            return rel, rows

        rel_a, rows_a = _write_sorted(
            "a", li.filter(F.col("l_orderkey") < 200)
        )
        rel_b, rows_b = _write_sorted(
            "b", li.filter(F.col("l_orderkey") >= 200)
        )

        def _inline_dv(idxs: list) -> dict:
            data = encode_roaring_bitmap_array(idxs)
            return {
                "storageType": "i",
                "pathOrInlineDv": z85_encode(data),
                "sizeInBytes": len(data),
                "cardinality": len(idxs),
            }

        old_a = _inline_dv(
            [i for i, r in enumerate(rows_a) if r["l_linenumber"] > 5]
        )
        new_a_idx = [
            i for i, r in enumerate(rows_a) if r["l_linenumber"] > 4
        ]
        enc, off, size = write_dv_file(root, new_a_idx)
        new_a = {
            "storageType": "u",
            "pathOrInlineDv": enc,
            "offset": off,
            "sizeInBytes": size,
            "cardinality": len(new_a_idx),
        }
        dv_b = _inline_dv(
            [
                i
                for i, r in enumerate(rows_b)
                if r["l_returnflag"] == "R"
            ]
        )

        def _add(path, dv=None):
            a = {
                "path": path,
                "partitionValues": {},
                "size": 1,
                "modificationTime": 0,
                "dataChange": True,
            }
            if dv:
                a["deletionVector"] = dv
            return {"add": a}

        import pathlib

        log = pathlib.Path(root) / "_delta_log"
        log.mkdir()

        def _commit(v, actions):
            (log / f"{v:020d}.json").write_text(
                "\n".join(_json.dumps(a) for a in actions) + "\n"
            )

        _commit(
            0,
            [
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": ["deletionVectors"],
                        "writerFeatures": ["deletionVectors"],
                    }
                },
                {
                    "metaData": {
                        "id": "lake-delta-dv",
                        "format": {
                            "provider": "parquet",
                            "options": {},
                        },
                        "schemaString": schema_string,
                        "partitionColumns": [],
                        "configuration": {},
                    }
                },
                _add(rel_a, old_a),
                _add(rel_b),
            ],
        )
        _commit(
            1,
            [
                {
                    "remove": {
                        "path": rel_a,
                        "dataChange": True,
                        "deletionVector": old_a,
                    }
                },
                _add(rel_a, new_a),
                {"remove": {"path": rel_b, "dataChange": True}},
                _add(rel_b, dv_b),
            ],
        )
        rows = (
            read_delta(spark, root)
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("l_quantity").cast("bigint").alias("qty"),
                F.max("l_orderkey").alias("max_ok"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        [
            (r["l_returnflag"], r["n"], r["qty"], r["max_ok"])
            for r in rows
        ],
        "l_returnflag STRING, n BIGINT, qty BIGINT, max_ok BIGINT",
    ).orderBy("l_returnflag")


LAKE_DELTA_DV_ORACLE = """
SELECT l_returnflag,
       count(*)                         AS n,
       CAST(sum(l_quantity) AS BIGINT)  AS qty,
       CAST(max(l_orderkey) AS BIGINT)  AS max_ok
FROM lineitem
WHERE l_orderkey < 400
  AND NOT (l_orderkey < 200 AND l_linenumber > 4)
  AND NOT (l_orderkey >= 200 AND l_returnflag = 'R')
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def lake_iceberg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 metadata interop (lake/iceberg_interop.py): load an
    orders slice into an identity-partitioned TxnTable, EXPORT Iceberg
    table metadata (v2 json + Avro manifest list/manifest via the
    bundled Avro Java library), append and export a SECOND snapshot
    (surviving files carry as EXISTING entries under the first
    snapshot's id), run a MERGE-ON-READ vector delete and export a
    THIRD snapshot (the vectors become an Iceberg v2 position-delete
    parquet + DELETE manifest), then read back through the
    self-contained Iceberg reader: the current snapshot (deletes
    applied by row lineage at the v2 sequence rule), time travel to
    snapshots 1 and 2 (the vector invisible pre-delete), a
    bounds-pruned key-range read, and a partition-filtered read — all
    with identity partition values injected per the spec's Column
    Projection rule. The oracle replays every probe as plain filters
    over the raw parquet, so the whole write→export→append→export→
    vector-delete→export→iceberg-read lifecycle must be value-exact
    end to end."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from interop_datalake_spark.lake.iceberg_interop import (
        export_iceberg_metadata,
        read_iceberg,
    )
    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession
    from interop_datalake_spark.sources.tables import load_table

    root = tempfile.mkdtemp(prefix="lake_ice_")
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        t = TxnTable(
            session,
            "ord_ice",
            partition_cols=["o_orderpriority"],
            stats_cols=["o_orderkey"],
        )
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderpriority"
        )
        t.append(orders.filter(F.col("o_orderkey") < 500).repartition(2))
        export_iceberg_metadata(t)  # snapshot 1
        t.append(
            orders.filter(
                (F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 1000)
            ).repartition(2)
        )
        export_iceberg_metadata(t)  # snapshot 2: EXISTING carry
        # MERGE-ON-READ: a vector delete exports as an Iceberg v2
        # position-delete parquet + DELETE manifest; the reader
        # applies it by (path, position) — no compaction
        t.delete_where(
            F.col("o_orderkey") % 7 == 0, merge_on_read=True
        )
        export_iceberg_metadata(t)  # snapshot 3: delete manifest

        def probe(name, frame):
            return (name, frame, [
                F.count(F.lit(1)).alias("n"),
                F.min("o_orderkey").alias("min_k"),
                F.max("o_orderkey").alias("max_k"),
            ])

        rows = [
            (nm, r["n"], r["min_k"], r["max_k"])
            for nm, r in _probe_union([
                probe("current", read_iceberg(spark, str(t.root))),
                probe(
                    "snap1_travel",
                    read_iceberg(spark, str(t.root), snapshot_id=1),
                ),
                probe(
                    # pre-delete: the vector is invisible
                    "snap2_travel",
                    read_iceberg(spark, str(t.root), snapshot_id=2),
                ),
                probe(
                    "key_pruned",
                    read_iceberg(
                        spark, str(t.root), key_range=("o_orderkey", 100, 200)
                    ).filter(F.col("o_orderkey").between(100, 200)),
                ),
                probe(
                    "partition_urgent",
                    read_iceberg(
                        spark,
                        str(t.root),
                        partition_filter={"o_orderpriority": "1-URGENT"},
                    ).filter(F.col("o_orderpriority") == "1-URGENT"),
                ),
            ])
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        rows, "probe STRING, n BIGINT, min_k BIGINT, max_k BIGINT"
    ).orderBy("probe")


LAKE_ICEBERG_ORACLE = """
WITH snap1 AS (
  SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
  WHERE o_orderkey < 500
), snap2 AS (
  SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
  WHERE o_orderkey < 1000
), cur AS (
  -- snapshot 3: the merge-on-read position deletes applied
  SELECT * FROM snap2 WHERE o_orderkey % 7 <> 0
)
SELECT * FROM (
  SELECT 'current' AS probe, count(*)::BIGINT AS n,
         min(o_orderkey)::BIGINT AS min_k,
         max(o_orderkey)::BIGINT AS max_k
  FROM cur
  UNION ALL
  SELECT 'snap1_travel', count(*)::BIGINT,
         min(o_orderkey)::BIGINT, max(o_orderkey)::BIGINT FROM snap1
  UNION ALL
  SELECT 'snap2_travel', count(*)::BIGINT,
         min(o_orderkey)::BIGINT, max(o_orderkey)::BIGINT FROM snap2
  UNION ALL
  SELECT 'key_pruned', count(*)::BIGINT,
         min(o_orderkey)::BIGINT, max(o_orderkey)::BIGINT
  FROM cur WHERE o_orderkey BETWEEN 100 AND 200
  UNION ALL
  SELECT 'partition_urgent', count(*)::BIGINT,
         min(o_orderkey)::BIGINT, max(o_orderkey)::BIGINT
  FROM cur WHERE o_orderpriority = '1-URGENT'
) ORDER BY probe
"""


def lake_iceberg_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """murmur3-32 bucket partitioning end to end (round-11 verdict
    item 3; lake/txn.py:_mmh3_32_of_long, Iceberg spec Appendix B):
    load an orders slice into a TxnTable hidden-partitioned by
    ``bucket_mm3(4, o_custkey)`` (+ a string bucket_mm3(2) on
    o_orderpriority — round-11 byte-class murmur3; combo counts kept
    small because the Iceberg read-back plans one scan per partition
    TUPLE) — the spec's
    ``(murmur3_x86_32(LE long) & MaxInt) % N``, computed as pure
    column algebra — EXPORT Iceberg v2 metadata (the spec maps to
    ``bucket[4]``; the old xxhash64 bucket refuses export because a
    compliant engine's pruning would drop matching files), read the
    export back through the self-contained Iceberg reader, and run
    bucket-pruned point lookups through the TxnTable side
    (``resolve_files`` recomputes the transform over the literal via
    the SAME Column expression as the write). The oracle replays every
    probe as plain filters, so a single wrong bucket assignment
    surfaces as a missing row."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from interop_datalake_spark.lake.iceberg_interop import (
        export_iceberg_metadata,
        read_iceberg,
    )
    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession
    from interop_datalake_spark.sources.tables import load_table

    root = tempfile.mkdtemp(prefix="lake_mm3_")
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        t = TxnTable(
            session,
            "ord_mm3",
            stats_cols=["o_orderkey"],
            partition_transforms={
                "ck_b": ("bucket_mm3", 4, "o_custkey"),
                # round-11 byte-class murmur3: strings bucket too
                # (UTF-8 bytes through _mmh3_32_of_bytes)
                "op_b": ("bucket_mm3", 2, "o_orderpriority"),
            },
        )
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderpriority"
        )
        t.append(orders.filter(F.col("o_orderkey") < 800))
        export_iceberg_metadata(t)

        def probe(name, frame):
            return (name, frame, [
                F.count(F.lit(1)).alias("n"),
                F.min("o_orderkey").alias("min_k"),
                F.max("o_orderkey").alias("max_k"),
            ])

        # bucket pruning observability: the point lookup must open
        # fewer files than the table holds (the derived bucket dir is
        # invisible to the caller — hidden partitioning)
        all_files = t.manifest(t.current_version())["files"]
        pruned = t.resolve_files(key_range=("o_custkey", 7, 7))
        n_pruned = (
            1 if (all_files and len(pruned) < len(all_files)) else 0
        )
        rows = [
            (nm, r["n"], r["min_k"], r["max_k"])
            for nm, r in _probe_union([
                probe("iceberg_read", read_iceberg(spark, str(t.root))),
                probe(
                    "point_7",
                    t.read(key_range=("o_custkey", 7, 7)).filter(
                        F.col("o_custkey") == 7
                    ),
                ),
                probe(
                    "point_42",
                    t.read(key_range=("o_custkey", 42, 42)).filter(
                        F.col("o_custkey") == 42
                    ),
                ),
                probe(
                    "point_urgent",
                    t.read(
                        key_range=(
                            "o_orderpriority", "1-URGENT", "1-URGENT"
                        )
                    ).filter(F.col("o_orderpriority") == "1-URGENT"),
                ),
            ])
        ] + [
            (
                "pruning_effective",
                n_pruned,
                None,
                None,
            ),
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        rows, "probe STRING, n BIGINT, min_k BIGINT, max_k BIGINT"
    ).orderBy("probe")


LAKE_ICEBERG_BUCKET_ORACLE = """
WITH s AS (
  SELECT o_orderkey, o_custkey, o_orderpriority
  FROM orders WHERE o_orderkey < 800
)
SELECT * FROM (
  SELECT 'iceberg_read' AS probe, count(*)::BIGINT AS n,
         min(o_orderkey)::BIGINT AS min_k,
         max(o_orderkey)::BIGINT AS max_k
  FROM s
  UNION ALL
  SELECT 'point_7', count(*)::BIGINT,
         min(o_orderkey)::BIGINT, max(o_orderkey)::BIGINT
  FROM s WHERE o_custkey = 7
  UNION ALL
  SELECT 'point_42', count(*)::BIGINT,
         min(o_orderkey)::BIGINT, max(o_orderkey)::BIGINT
  FROM s WHERE o_custkey = 42
  UNION ALL
  SELECT 'point_urgent', count(*)::BIGINT,
         min(o_orderkey)::BIGINT, max(o_orderkey)::BIGINT
  FROM s WHERE o_orderpriority = '1-URGENT'
  UNION ALL
  SELECT 'pruning_effective', 1::BIGINT, NULL::BIGINT, NULL::BIGINT
) ORDER BY probe
"""



def lake_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY CHANGES ... STORED AS SCD TYPE 2 (round 13;
    lake/scd.py:scd2_apply_changes routed via apply_changes_into —
    the DLT spelling): the SAME source history as lake_cdc_apply
    (append -> merge-on-read DELETE of lang='de' -> merge-on-read
    MERGE re-pricing doc_id % 50 == 0 to n_chars=1111 plus one new
    id) applies into a TYPE-2 HISTORY table instead of latest-state.
    Output = scd2_snapshot_at over each source version, rolled up per
    (version, lang) — the point-in-time reads over the built history
    must equal the oracle's pure-SQL expression of each version's
    state (i.e. the source's own time travel), which pins the whole
    open/close validity chain: delete-closes, same-version
    image-pair folds, re-inserts of previously deleted keys, and the
    update chain on re-priced keys."""
    import shutil
    import tempfile

    from interop_datalake_spark.lake.cdc_apply import apply_changes_into
    from interop_datalake_spark.lake.scd import scd2_snapshot_at
    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession
    from interop_datalake_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    ).filter(F.col("doc_id") < 300)
    root = tempfile.mkdtemp(prefix="lake_scd2_apply_")
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        src = TxnTable(session, "s2a_src", stats_cols=["doc_id"])
        src.append(docs.repartition(4))                        # v1
        src.delete_where(F.col("lang") == "de", merge_on_read=True)
        upserts = docs.filter(F.col("doc_id") % 50 == 0).withColumn(
            "n_chars", F.lit(1111).cast("bigint")
        ).unionByName(
            spark.createDataFrame(
                [(9000, "en", 1000)],
                "doc_id BIGINT, lang STRING, n_chars BIGINT",
            )
        )
        src.merge(upserts, ["doc_id"], merge_on_read=True)     # v3
        dim = TxnTable(session, "s2a_dim", stats_cols=["doc_id"])
        apply_changes_into(
            dim,
            src.read_changes(0, include_deletes=True),
            ["doc_id"],
            stored_as_scd2=True,
        )
        rows = []
        for v in range(1, src.current_version() + 1):
            rows += (
                scd2_snapshot_at(dim, v)
                .groupBy("lang")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("n_chars").alias("sum_chars"),
                )
                .withColumn("v", F.lit(v).cast("bigint"))
                .collect()  # one row per (version, language) - bounded
            )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        [(r["v"], r["lang"], r["n"], r["sum_chars"]) for r in rows],
        "v BIGINT, lang STRING, n BIGINT, sum_chars BIGINT",
    ).orderBy("v", "lang")


LAKE_SCD2_APPLY_ORACLE = """
WITH base AS (
  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id < 300
), states AS (
  SELECT 1 AS v, doc_id, lang, n_chars FROM base
  UNION ALL
  SELECT 2, doc_id, lang, n_chars FROM base WHERE lang <> 'de'
  UNION ALL
  SELECT 3, doc_id, lang, n_chars FROM base
  WHERE lang <> 'de' AND doc_id % 50 <> 0
  UNION ALL
  SELECT 3, doc_id, lang, 1111 FROM base WHERE doc_id % 50 = 0
  UNION ALL
  SELECT 3, 9000, 'en', 1000
)
SELECT v::BIGINT AS v, lang, count(*)::BIGINT AS n,
       sum(n_chars)::BIGINT AS sum_chars
FROM states
GROUP BY v, lang
ORDER BY v, lang
"""


def lake_iceberg_v3_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v3 Puffin deletion-vector EXPORT lifecycle (round 13;
    lake/puffin.py write_puffin_dv_file wired into
    export_iceberg_metadata(format_version=3)): append documents
    (doc_id < 400) and export a v3 snapshot, merge-on-read DELETE
    doc_id % 6 == 0 and export (the vectors publish as ONE Puffin
    file of deletion-vector-v1 blobs + a delete manifest whose
    entries carry referenced_data_file/content_offset/
    content_size_in_bytes), then a second MOR delete of lang='de' and
    a third export (the CUMULATIVE vector replaces the first). Probes
    read back through the self-contained reader: the current
    merge-on-read state, time travel to both earlier snapshots, and
    the v3 CDC diff (read_iceberg_changes include_deletes — each
    snapshot emits only its vector DIFF, cumulative supersets never
    re-emit). The oracle replays every probe as plain filters over
    the raw parquet."""
    import shutil
    import tempfile

    from interop_datalake_spark.lake.iceberg_interop import (
        export_iceberg_metadata,
        read_iceberg,
        read_iceberg_changes,
    )
    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession
    from interop_datalake_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    ).filter(F.col("doc_id") < 400)
    root = tempfile.mkdtemp(prefix="lake_ice_v3_")
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        t = TxnTable(session, "docs_v3", stats_cols=["doc_id"])
        t.append(docs.repartition(2))
        export_iceberg_metadata(t, format_version=3)  # snapshot 1
        t.delete_where(F.col("doc_id") % 6 == 0, merge_on_read=True)
        export_iceberg_metadata(t)  # snapshot 2: Puffin DV (inherits v3)
        t.delete_where(F.col("lang") == "de", merge_on_read=True)
        export_iceberg_metadata(t)  # snapshot 3: cumulative Puffin DV
        import json as _json

        meta_dir = t.root / "metadata"
        n_hint = int((meta_dir / "version-hint.text").read_text())
        meta = _json.loads(
            (meta_dir / f"v{n_hint}.metadata.json").read_text()
        )
        assert meta["format-version"] == 3  # inherited, not re-stated
        snaps = [e["snapshot-id"] for e in meta["snapshot-log"]]

        def probe(name, frame):
            return (name, frame, [
                F.count(F.lit(1)).alias("n"),
                F.sum("n_chars").alias("sum_chars"),
            ])

        rows = [
            (nm, r["n"], r["sum_chars"])
            for nm, r in _probe_union([
                probe("current", read_iceberg(spark, str(t.root))),
                probe(
                    "snap1",
                    read_iceberg(spark, str(t.root), snapshot_id=snaps[0]),
                ),
                probe(
                    "snap2",
                    read_iceberg(spark, str(t.root), snapshot_id=snaps[1]),
                ),
                probe(
                    "cdc_deletes",
                    read_iceberg_changes(
                        spark, str(t.root), snaps[0], include_deletes=True
                    ).filter(F.col("_change_type") == "delete"),
                ),
            ])
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        rows, "probe STRING, n BIGINT, sum_chars BIGINT"
    ).orderBy("probe")


LAKE_ICEBERG_V3_ORACLE = """
WITH base AS (
  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id < 400
), probes AS (
  SELECT 'current' AS probe, count(*)::BIGINT AS n,
         sum(n_chars)::BIGINT AS sum_chars
  FROM base WHERE doc_id % 6 <> 0 AND lang <> 'de'
  UNION ALL
  SELECT 'snap1', count(*)::BIGINT, sum(n_chars)::BIGINT FROM base
  UNION ALL
  SELECT 'snap2', count(*)::BIGINT, sum(n_chars)::BIGINT
  FROM base WHERE doc_id % 6 <> 0
  UNION ALL
  SELECT 'cdc_deletes', count(*)::BIGINT, sum(n_chars)::BIGINT
  FROM base WHERE doc_id % 6 = 0 OR lang = 'de'
)
SELECT probe, n, sum_chars FROM probes ORDER BY probe
"""


def lake_delta_v2_checkpoint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delta V2 (sidecar) CHECKPOINT write lifecycle (round 13;
    export_delta_log(checkpoint_format='v2')): mirror an orders slice
    over three commits with checkpoint_every=2 — the log claims the
    v2Checkpoint table feature from version 0 and the second mirrored
    commit (a merge-on-read DELETE, so DV descriptors ride the
    sidecar) publishes a UUID-named manifest + _delta_log/_sidecars/
    parquet instead of the classic shape — then EXPIRE the
    pre-checkpoint history, so every probe below must replay from the
    V2 checkpoint alone: the current merge-on-read state, a
    stats-pruned key-range read, and a residual row filter. The
    oracle replays the probes as plain filters over the raw
    parquet."""
    import shutil
    import tempfile

    from interop_datalake_spark.lake.delta_interop import (
        expire_delta_log,
        export_delta_log,
        read_delta,
    )
    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession
    from interop_datalake_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    ).filter(F.col("o_orderkey") < 800)
    root = tempfile.mkdtemp(prefix="lake_dv2ck_")
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        t = TxnTable(session, "ord_v2ck", stats_cols=["o_orderkey"])
        t.append(
            orders.filter(F.col("o_orderkey") < 400).repartition(2)
        )
        export_delta_log(
            t, mode="mirror", checkpoint_every=2,
            checkpoint_format="v2",
        )  # delta v0 (full export, v2Checkpoint claimed)
        t.append(
            orders.filter(F.col("o_orderkey") >= 400).repartition(2)
        )
        export_delta_log(
            t, mode="mirror", checkpoint_every=2,
            checkpoint_format="v2",
        )  # delta v1
        t.delete_where(F.col("o_orderkey") % 5 == 0, merge_on_read=True)
        export_delta_log(
            t, mode="mirror", checkpoint_every=2,
            checkpoint_format="v2",
        )  # delta v2 + V2 checkpoint (sidecar carries the DVs)
        log = t.root / "_delta_log"
        assert list(log.glob(f"{2:020d}.checkpoint.*.parquet")), (
            "V2 checkpoint manifest missing"
        )
        expire_delta_log(t)  # jsons v0/v1 gone: checkpoint-only replay

        def probe(name, frame):
            return (name, frame, [
                F.count(F.lit(1)).alias("n"),
                F.sum("o_custkey").alias("sum_cust"),
            ])

        rows = [
            (nm, r["n"], r["sum_cust"])
            for nm, r in _probe_union([
                probe("current", read_delta(spark, str(t.root))),
                probe(
                    "key_range",
                    read_delta(
                        spark, str(t.root),
                        key_range=("o_orderkey", 100, 300),
                    ).filter(F.col("o_orderkey").between(100, 300)),
                ),
                probe(
                    "urgent",
                    read_delta(spark, str(t.root)).filter(
                        F.col("o_orderpriority") == "1-URGENT"
                    ),
                ),
            ])
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        rows, "probe STRING, n BIGINT, sum_cust BIGINT"
    ).orderBy("probe")


LAKE_DELTA_V2CK_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
  WHERE o_orderkey < 800
), live AS (
  SELECT * FROM base WHERE o_orderkey % 5 <> 0
), probes AS (
  SELECT 'current' AS probe, count(*)::BIGINT AS n,
         sum(o_custkey)::BIGINT AS sum_cust
  FROM live
  UNION ALL
  SELECT 'key_range', count(*)::BIGINT, sum(o_custkey)::BIGINT
  FROM live WHERE o_orderkey BETWEEN 100 AND 300
  UNION ALL
  SELECT 'urgent', count(*)::BIGINT, sum(o_custkey)::BIGINT
  FROM live WHERE o_orderpriority = '1-URGENT'
)
SELECT probe, n, sum_cust FROM probes ORDER BY probe
"""



def lake_uniform_dual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniForm-style DUAL export (round 13): one TxnTable root
    carries BOTH a mirrored Delta log and Iceberg metadata over the
    SAME parquet (zero data bytes copied) through an
    append → merge-on-read delete lifecycle; the probes roll up the
    CURRENT state through each foreign reader independently, so the
    oracle equality pins that Delta and Iceberg readers agree with
    each other and with the raw-parquet replay of the history."""
    import shutil
    import tempfile

    from interop_datalake_spark.lake.delta_interop import (
        export_delta_log,
        read_delta,
    )
    from interop_datalake_spark.lake.iceberg_interop import (
        export_iceberg_metadata,
        read_iceberg,
    )
    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession
    from interop_datalake_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    ).filter(F.col("doc_id") < 350)
    root = tempfile.mkdtemp(prefix="lake_uniform_")
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        t = TxnTable(session, "uni_docs", stats_cols=["doc_id"])
        t.append(docs.repartition(2))
        export_delta_log(t, mode="mirror")
        export_iceberg_metadata(t)
        t.delete_where(F.col("doc_id") % 7 == 0, merge_on_read=True)
        export_delta_log(t, mode="mirror")
        export_iceberg_metadata(t)
        aggs = [
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("sum_chars"),
            F.countDistinct("lang").alias("n_langs"),
        ]
        rows = [
            (nm, r["n"], r["sum_chars"], r["n_langs"])
            for nm, r in _probe_union([
                ("delta", read_delta(spark, str(t.root)), aggs),
                ("iceberg", read_iceberg(spark, str(t.root)), aggs),
            ])
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        rows,
        "probe STRING, n BIGINT, sum_chars BIGINT, n_langs BIGINT",
    ).orderBy("probe")


LAKE_UNIFORM_ORACLE = """
WITH live AS (
  SELECT doc_id, lang, n_chars FROM documents
  WHERE doc_id < 350 AND doc_id % 7 <> 0
), agg AS (
  SELECT count(*)::BIGINT AS n, sum(n_chars)::BIGINT AS sum_chars,
         count(DISTINCT lang)::BIGINT AS n_langs
  FROM live
)
SELECT 'delta' AS probe, n, sum_chars, n_langs FROM agg
UNION ALL
SELECT 'iceberg', n, sum_chars, n_langs FROM agg
ORDER BY probe
"""



def lake_changelog_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog update PAIRING (round 13; lake/cdc_apply.py:
    pair_changelog_updates — Iceberg's create_changelog_view
    compute-updates / Delta CDF update-image analog): a merge-on-read
    MERGE emits its touched keys as same-version delete+insert pairs
    in the change feed; the pairing retags them update_preimage /
    update_postimage while bare deletes and inserts keep their tags.
    Output = per-change-type rollup of the paired feed; the oracle
    replays the event algebra in SQL."""
    import shutil
    import tempfile

    from interop_datalake_spark.lake.cdc_apply import (
        pair_changelog_updates,
    )
    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession
    from interop_datalake_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    ).filter(F.col("doc_id") < 250)
    root = tempfile.mkdtemp(prefix="lake_chup_")
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        t = TxnTable(session, "chup", stats_cols=["doc_id"])
        t.append(docs.repartition(2))                           # v1
        t.delete_where(F.col("lang") == "de", merge_on_read=True)  # v2
        up = docs.filter(F.col("doc_id") % 40 == 0).withColumn(
            "n_chars", F.lit(7777).cast("bigint")
        )
        t.merge(up, ["doc_id"], merge_on_read=True)             # v3
        paired = pair_changelog_updates(
            t.read_changes(0, include_deletes=True), ["doc_id"]
        )
        rows = (
            paired.groupBy("_change_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("doc_id").alias("sum_ids"),
            )
            .collect()  # one row per change type — bounded
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        [(r["_change_type"], r["n"], r["sum_ids"]) for r in rows],
        "change_type STRING, n BIGINT, sum_ids BIGINT",
    ).orderBy("change_type")


LAKE_CHANGELOG_UPDATES_ORACLE = """
WITH base AS (
  SELECT doc_id, lang FROM documents WHERE doc_id < 250
), events AS (
  -- v1: every row inserts
  SELECT doc_id, 'insert' AS change_type FROM base
  UNION ALL
  -- v2: the 'de' rows delete (bare: no same-version insert)
  SELECT doc_id, 'delete' FROM base WHERE lang = 'de'
  UNION ALL
  -- v3 MERGE on doc_id % 40 = 0: keys alive at v2 emit an update
  -- PAIR; keys deleted at v2 ('de') re-insert bare
  SELECT doc_id, 'update_preimage' FROM base
  WHERE doc_id % 40 = 0 AND lang <> 'de'
  UNION ALL
  SELECT doc_id, 'update_postimage' FROM base
  WHERE doc_id % 40 = 0 AND lang <> 'de'
  UNION ALL
  SELECT doc_id, 'insert' FROM base
  WHERE doc_id % 40 = 0 AND lang = 'de'
)
SELECT change_type, count(*)::BIGINT AS n,
       sum(doc_id)::BIGINT AS sum_ids
FROM events
GROUP BY change_type
ORDER BY change_type
"""


def lake_history_surfaces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-table DESCRIBE HISTORY surfaces (round 14):
    ``delta_history`` / ``iceberg_history`` / ``iceberg_refs`` over a
    dual-exported lifecycle — three ICT-stamped mirrored Delta commits
    and three Iceberg snapshots on the same root, with a tag pinned at
    the middle snapshot. The probes project the DETERMINISTIC audit
    fields: per-commit operation/action counts/txnVersion and the
    ICT-present + strictly-monotone facts for Delta; per-snapshot
    operation, the summary's added/total record metrics and
    ``is_current`` for Iceberg; name→(type, sequence) for refs. The
    oracle recomputes the record metrics from the raw orders slices
    and pins the rest as protocol-determined literals."""
    import shutil
    import tempfile

    from interop_datalake_spark.lake.delta_interop import (
        delta_history,
        export_delta_log,
    )
    from interop_datalake_spark.lake.iceberg_interop import (
        export_iceberg_metadata,
        iceberg_history,
        iceberg_refs,
        iceberg_set_ref,
    )
    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession
    from interop_datalake_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    ).filter(F.col("o_orderkey") < 900)
    root = tempfile.mkdtemp(prefix="lake_hist_")
    rows = []
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        t = TxnTable(session, "hist", stats_cols=["o_orderkey"])
        for lo, hi in ((0, 300), (300, 600), (600, 900)):
            t.append(
                orders.filter(
                    (F.col("o_orderkey") >= lo)
                    & (F.col("o_orderkey") < hi)
                ).repartition(2)
            )
            export_delta_log(
                t, mode="mirror", in_commit_timestamps=True
            )
            export_iceberg_metadata(t)
        iceberg_set_ref(t, "audit", snapshot_id=2, ref_type="tag")
        iceberg_set_ref(t, "main", ref_type="branch")

        dh = sorted(
            delta_history(spark, str(t.root)).collect(),
            key=lambda r: r["version"],
        )
        for r in dh:
            rows.append(
                (
                    "delta", str(r["version"]), r["operation"],
                    r["n_adds"], r["txn_version"],
                    1 if r["in_commit_timestamp"] is not None else 0,
                )
            )
        icts = [r["in_commit_timestamp"] for r in dh]
        mono = all(
            a is not None and b is not None and a < b
            for a, b in zip(icts, icts[1:])
        )
        rows.append(
            ("delta_meta", "ict_monotone", None, 1 if mono else 0,
             None, None)
        )
        for r in iceberg_history(spark, str(t.root)).collect():
            rows.append(
                (
                    "iceberg", str(r["sequence_number"]),
                    r["operation"], r["added_records"],
                    r["total_records"], 1 if r["is_current"] else 0,
                )
            )
        for r in iceberg_refs(spark, str(t.root)).collect():
            rows.append(
                ("ref", r["name"], r["type"], r["sequence_number"],
                 None, None)
            )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        rows,
        "surface STRING, item STRING, op STRING, a BIGINT, "
        "b BIGINT, flag INT",
    ).orderBy("surface", "item")


LAKE_HISTORY_ORACLE = """
WITH c AS (
  SELECT
    count(*) FILTER (WHERE o_orderkey < 300)::BIGINT AS na,
    count(*) FILTER (
      WHERE o_orderkey >= 300 AND o_orderkey < 600
    )::BIGINT AS nb,
    count(*) FILTER (
      WHERE o_orderkey >= 600 AND o_orderkey < 900
    )::BIGINT AS nc
  FROM orders
)
SELECT * FROM (
  SELECT 'delta' AS surface, '0' AS item, 'WRITE' AS op,
         2::BIGINT AS a, 1::BIGINT AS b, 1 AS flag FROM c
  UNION ALL SELECT 'delta', '1', 'WRITE', 2, 2, 1 FROM c
  UNION ALL SELECT 'delta', '2', 'WRITE', 2, 3, 1 FROM c
  UNION ALL SELECT 'delta_meta', 'ict_monotone', NULL, 1, NULL,
    NULL FROM c
  UNION ALL SELECT 'iceberg', '1', 'append', na, na, 0 FROM c
  UNION ALL SELECT 'iceberg', '2', 'append', nb, na + nb, 0 FROM c
  UNION ALL SELECT 'iceberg', '3', 'append', nc, na + nb + nc, 1
    FROM c
  UNION ALL SELECT 'ref', 'audit', 'tag', 2, NULL, NULL FROM c
  UNION ALL SELECT 'ref', 'main', 'branch', 3, NULL, NULL FROM c
)
ORDER BY surface, item
"""


def lake_row_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v3 ROW LINEAGE lifecycle (round 14): two appends under
    a format-version-3 export assign ``_row_id`` 0..nA-1 then
    nA..nA+nB-1 (each append = one file, ids = the spec's
    first_row_id + position), then a LINEAGE-PRESERVING compaction
    (materialized reserved-id columns) rewrites everything into one
    file — and the per-sequence id-set aggregates (count, min, max,
    sum) must be IDENTICAL before and after, which is the whole
    point of the feature. Aggregating over id SETS keeps the oracle
    independent of intra-file row order: append A owns exactly
    {0..nA-1} regardless of which row got which id. The oracle
    derives nA/nB from the same orders slices and emits both stages'
    closed-form aggregates."""
    import shutil
    import tempfile

    from interop_datalake_spark.lake.iceberg_interop import (
        compact_preserving_row_lineage,
        export_iceberg_metadata,
        read_iceberg,
    )
    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession
    from interop_datalake_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    root = tempfile.mkdtemp(prefix="lake_lineage_")
    rows = []
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        t = TxnTable(session, "lin", stats_cols=["o_orderkey"])
        t.append(
            orders.filter(F.col("o_orderkey") < 400).coalesce(1)
        )
        export_iceberg_metadata(t, format_version=3)
        t.append(
            orders.filter(
                (F.col("o_orderkey") >= 400)
                & (F.col("o_orderkey") < 800)
            ).coalesce(1)
        )
        export_iceberg_metadata(t)

        def probe(stage):
            got = (
                read_iceberg(spark, str(t.root), with_lineage=True)
                .groupBy("_last_updated_sequence_number")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.min("_row_id").alias("min_id"),
                    F.max("_row_id").alias("max_id"),
                    F.sum("_row_id").alias("sum_id"),
                )
                .collect()
            )
            for r in got:
                rows.append(
                    (
                        stage,
                        r["_last_updated_sequence_number"],
                        r["n"], r["min_id"], r["max_id"], r["sum_id"],
                    )
                )

        probe("pre")
        compact_preserving_row_lineage(t, target_files=1)
        export_iceberg_metadata(t)
        probe("post")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        rows,
        "stage STRING, seq BIGINT, n BIGINT, min_id BIGINT, "
        "max_id BIGINT, sum_id BIGINT",
    ).orderBy("stage", "seq")


LAKE_ROW_LINEAGE_ORACLE = """
WITH c AS (
  SELECT
    count(*) FILTER (WHERE o_orderkey < 400)::BIGINT AS na,
    count(*) FILTER (
      WHERE o_orderkey >= 400 AND o_orderkey < 800
    )::BIGINT AS nb
  FROM orders
), stages AS (
  SELECT 'pre' AS stage FROM c UNION ALL SELECT 'post' FROM c
)
SELECT stage, seq, n, min_id, max_id, sum_id FROM (
  SELECT stage, 1::BIGINT AS seq, na AS n, 0::BIGINT AS min_id,
         na - 1 AS max_id, (na * (na - 1) // 2)::BIGINT AS sum_id
  FROM stages, c
  UNION ALL
  SELECT stage, 2::BIGINT, nb, na, na + nb - 1,
         (nb * (2 * na + nb - 1) // 2)::BIGINT
  FROM stages, c
)
ORDER BY stage, seq
"""


def lake_equality_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality-delete WRITE lifecycle (round 14): append → export →
    merge-on-read DELETE → export with
    ``equality_delete_cols=['o_orderkey']`` — the vectors publish as
    one content=2 KEYED delete file, applied back by this repo's own
    reader (the same code path the foreign Flink-CDC fixtures pin)
    and surfaced by the CDC read. The oracle replays the state as
    plain filters and the delete feed as the deleted-key set."""
    import shutil
    import tempfile

    from interop_datalake_spark.lake.iceberg_interop import (
        export_iceberg_metadata,
        read_iceberg,
        read_iceberg_changes,
    )
    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession
    from interop_datalake_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    ).filter(F.col("o_orderkey") < 900)
    root = tempfile.mkdtemp(prefix="lake_eqdel_")
    rows = []
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        t = TxnTable(session, "eqd", stats_cols=["o_orderkey"])
        t.append(orders.repartition(2))
        export_iceberg_metadata(t)
        t.delete_where(
            F.col("o_orderkey") % 7 == 0, merge_on_read=True
        )
        export_iceberg_metadata(
            t, equality_delete_cols=["o_orderkey"]
        )

        rows.extend(
            (nm, r["n"], r["s"])
            for nm, r in _probe_union([
                (
                    "current",
                    read_iceberg(spark, str(t.root)),
                    [
                        F.count(F.lit(1)).alias("n"),
                        F.sum("o_custkey").alias("s"),
                    ],
                ),
                (
                    "deleted",
                    read_iceberg_changes(
                        spark, str(t.root), include_deletes=True,
                        from_snapshot_id=1,
                    ).filter(F.col("_change_type") == "delete"),
                    [
                        F.count(F.lit(1)).alias("n"),
                        F.sum("o_orderkey").alias("s"),
                    ],
                ),
            ])
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        rows, "probe STRING, n BIGINT, s BIGINT"
    ).orderBy("probe")


LAKE_EQ_DELETE_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey < 900
)
SELECT * FROM (
  SELECT 'current' AS probe, count(*)::BIGINT AS n,
         sum(o_custkey)::BIGINT AS s
  FROM base WHERE o_orderkey % 7 <> 0
  UNION ALL
  SELECT 'deleted', count(*)::BIGINT, sum(o_orderkey)::BIGINT
  FROM base WHERE o_orderkey % 7 = 0
)
ORDER BY probe
"""


def lake_delta_row_tracking(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delta ROW TRACKING lifecycle (round 14 — the Delta twin of
    lake_row_lineage): a no-tracking mirror of append A, a mid-mirror
    ENABLEMENT (which backfills A's published file with its assigned
    baseRowId as a dataChange=false re-add) folded with append B,
    then a merge-on-read DELETE — after which every surviving row
    still carries the id it was assigned at enablement. Probes are
    id-SET aggregates per _row_commit_version (count/min/max/sum —
    independent of intra-file row order) plus the post-delete
    id-conservation fact: the survivor id-set's size equals the
    surviving row count while min/max stay at the enablement range's
    ends (keys 0 and the last key survive the %7 predicate for these
    slices). The oracle derives every number from the same orders
    slices in closed form."""
    import shutil
    import tempfile

    from interop_datalake_spark.lake.delta_interop import (
        export_delta_log,
        read_delta,
    )
    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession
    from interop_datalake_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    root = tempfile.mkdtemp(prefix="lake_drt_")
    rows = []
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        t = TxnTable(session, "drt", stats_cols=["o_orderkey"])
        t.append(
            orders.filter(F.col("o_orderkey") < 400).coalesce(1)
        )
        export_delta_log(t, mode="mirror")  # delta v0, no tracking
        t.append(
            orders.filter(
                (F.col("o_orderkey") >= 400)
                & (F.col("o_orderkey") < 800)
            ).coalesce(1)
        )
        # delta v1: enablement + backfill of A + append of B
        export_delta_log(t, mode="mirror", row_tracking=True)

        def probe(stage, df):
            got = (
                df.groupBy("_row_commit_version")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.min("_row_id").alias("min_id"),
                    F.max("_row_id").alias("max_id"),
                    F.sum("_row_id").alias("sum_id"),
                )
                .collect()
            )
            for r in got:
                rows.append(
                    (
                        stage, r["_row_commit_version"],
                        r["n"], r["min_id"], r["max_id"], r["sum_id"],
                    )
                )

        enabled_df = read_delta(
            spark, str(t.root), with_row_tracking=True
        )
        total_rows = enabled_df.count()
        probe("enabled", enabled_df)
        t.delete_where(
            F.col("o_orderkey") % 7 == 0, merge_on_read=True
        )
        export_delta_log(t, mode="mirror")  # delta v2: DV update
        after = read_delta(
            spark, str(t.root), with_row_tracking=True
        )
        # id conservation under MOR delete: every survivor keeps a
        # DISTINCT non-null id inside the enablement range (which id
        # belongs to which key depends on intra-file order, so the
        # deterministic facts are the count, distinctness, and
        # range containment — encoded as the in_range count)
        c = after.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("_row_id").alias("n_ids"),
            F.sum(
                F.when(
                    F.col("_row_id").between(
                        0, F.lit(total_rows - 1)
                    ),
                    1,
                ).otherwise(0)
            ).alias("in_range"),
        ).collect()[0]
        rows.append(
            ("after_delete", None, c["n"], c["in_range"], None,
             c["n_ids"])
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        rows,
        "stage STRING, rcv BIGINT, n BIGINT, min_id BIGINT, "
        "max_id BIGINT, x BIGINT",
    ).orderBy("stage", "rcv")


LAKE_DELTA_RT_ORACLE = """
WITH c AS (
  SELECT
    count(*) FILTER (WHERE o_orderkey < 400)::BIGINT AS na,
    count(*) FILTER (
      WHERE o_orderkey >= 400 AND o_orderkey < 800
    )::BIGINT AS nb,
    count(*) FILTER (
      WHERE o_orderkey < 800 AND o_orderkey % 7 <> 0
    )::BIGINT AS nlive
  FROM orders
)
SELECT stage, rcv, n, min_id, max_id, x FROM (
  -- enablement commit (delta v1) assigns ids 0..na+nb-1: the
  -- backfill of A then the fresh adds of B, every row at rcv=1
  SELECT 'enabled' AS stage, 1::BIGINT AS rcv, na + nb AS n,
         0::BIGINT AS min_id, na + nb - 1 AS max_id,
         ((na + nb) * (na + nb - 1) // 2)::BIGINT AS x
  FROM c
  UNION ALL
  -- MOR delete conserves ids: one DISTINCT id per survivor
  -- (x == n), every one inside the enablement range (min_id column
  -- reuses as the in-range count; which id maps to which key is
  -- intra-file order, deliberately not pinned)
  SELECT 'after_delete', NULL, nlive, nlive, NULL, nlive
  FROM c
)
ORDER BY stage, rcv
"""


QUERIES = {
    "hl7_msh9": hl7_msh9,
    "object_url_parse": object_url_parse,
    "lake_path_templates": lake_path_templates,
    "lake_publish_roundtrip": lake_publish_roundtrip,
    "lake_txn_acid": lake_txn_acid,
    "lake_txn_changes": lake_txn_changes,
    "lake_scd2": lake_scd2,
    "lake_restore": lake_restore,
    "lake_clone": lake_clone,
    "lake_bloom_index": lake_bloom_index,
    "lake_partition_evolution": lake_partition_evolution,
    "lake_merge_sync": lake_merge_sync,
    "lake_metadata_tables": lake_metadata_tables,
    "lake_expectations": lake_expectations,
    "lake_partition_transforms": lake_partition_transforms,
    "lake_deletion_vectors": lake_deletion_vectors,
    "lake_change_feed_deletes": lake_change_feed_deletes,
    "lake_delta_cdf": lake_delta_cdf,
    "lake_cdc_apply": lake_cdc_apply,
    "lake_incremental_view": lake_incremental_view,
    "lake_incremental_join_view": lake_incremental_join_view,
    "lake_join_rollup": lake_join_rollup,
    "lake_delta_roundtrip": lake_delta_roundtrip,
    "lake_delta_dv_read": lake_delta_dv_read,
    "lake_iceberg_roundtrip": lake_iceberg_roundtrip,
    "lake_iceberg_bucket": lake_iceberg_bucket,
    "lake_scd2_apply": lake_scd2_apply,
    "lake_iceberg_v3_dv": lake_iceberg_v3_dv,
    "lake_delta_v2_checkpoint": lake_delta_v2_checkpoint,
    "lake_uniform_dual": lake_uniform_dual,
    "lake_changelog_updates": lake_changelog_updates,
    "lake_history_surfaces": lake_history_surfaces,
    "lake_row_lineage": lake_row_lineage,
    "lake_equality_delete": lake_equality_delete,
    "lake_delta_row_tracking": lake_delta_row_tracking,
}

ORACLES = {
    "hl7_msh9": HL7_ORACLE,
    "object_url_parse": URL_ORACLE,
    "lake_path_templates": PATHS_ORACLE,
    "lake_publish_roundtrip": LAKE_ROUNDTRIP_ORACLE,
    "lake_txn_acid": LAKE_TXN_ORACLE,
    "lake_txn_changes": LAKE_CHANGES_ORACLE,
    "lake_scd2": LAKE_SCD2_ORACLE,
    "lake_restore": LAKE_RESTORE_ORACLE,
    "lake_clone": LAKE_CLONE_ORACLE,
    "lake_bloom_index": LAKE_BLOOM_ORACLE,
    "lake_partition_evolution": LAKE_PEVO_ORACLE,
    "lake_merge_sync": LAKE_MERGE_SYNC_ORACLE,
    "lake_metadata_tables": LAKE_METADATA_ORACLE,
    "lake_expectations": LAKE_EXPECTATIONS_ORACLE,
    "lake_partition_transforms": LAKE_PTF_ORACLE,
    "lake_deletion_vectors": LAKE_DV_ORACLE,
    "lake_change_feed_deletes": LAKE_CDF_ORACLE,
    "lake_delta_cdf": LAKE_DELTA_CDF_ORACLE,
    "lake_cdc_apply": LAKE_CDC_APPLY_ORACLE,
    "lake_incremental_view": LAKE_IVM_ORACLE,
    "lake_incremental_join_view": LAKE_IVM_JOIN_ORACLE,
    "lake_join_rollup": LAKE_JOIN_ROLLUP_ORACLE,
    "lake_delta_roundtrip": LAKE_DELTA_ORACLE,
    "lake_delta_dv_read": LAKE_DELTA_DV_ORACLE,
    "lake_iceberg_roundtrip": LAKE_ICEBERG_ORACLE,
    "lake_iceberg_bucket": LAKE_ICEBERG_BUCKET_ORACLE,
    "lake_scd2_apply": LAKE_SCD2_APPLY_ORACLE,
    "lake_iceberg_v3_dv": LAKE_ICEBERG_V3_ORACLE,
    "lake_delta_v2_checkpoint": LAKE_DELTA_V2CK_ORACLE,
    "lake_uniform_dual": LAKE_UNIFORM_ORACLE,
    "lake_changelog_updates": LAKE_CHANGELOG_UPDATES_ORACLE,
    "lake_history_surfaces": LAKE_HISTORY_ORACLE,
    "lake_row_lineage": LAKE_ROW_LINEAGE_ORACLE,
    "lake_equality_delete": LAKE_EQ_DELETE_ORACLE,
    "lake_delta_row_tracking": LAKE_DELTA_RT_ORACLE,
}
