"""Streaming catalog — batch twins of the streaming operators, all
DuckDB-oracle-checked. The identical functions run under readStream in
tests/test_streaming.py; here they run in batch so the driver can
hash-compare against SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from interop_datalake_spark.functions.money import money, money_sum
from interop_datalake_spark.sources.tables import load_table, local_frame
from interop_datalake_spark.streaming.windows import (
    session_window_agg,
    sliding_window_agg,
    stream_static_join,
    streaming_dedup,
    tumbling_window_agg,
)


def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = tumbling_window_agg(
        ev,
        "ts",
        "1 hour",
        ["event_type"],
        [
            F.count("*").alias("n_events"),
            money_sum(money("value")).alias("total_value"),
        ],
    )
    return out.select(
        "window_start", "event_type", "n_events", "total_value"
    ).orderBy("window_start", "event_type")


STREAM_TUMBLING_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events,
       round(sum(value::DECIMAL(12,2)), 2)::DOUBLE AS total_value
FROM events GROUP BY 1, 2 ORDER BY window_start, event_type
"""


def stream_window_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling-window p50/p95 of value per type — the
    percentile member of the stream-twin family (same
    tumbling_window_agg core as stream_tumbling_window; in a true
    readStream, exact percentiles need an Update-mode sink or the
    histogram sketch of events_quantile_rollup — both documented, this
    is the batch-twin semantics gate)."""
    ev = load_table(spark, sf_dir, "events")
    out = tumbling_window_agg(
        ev,
        "ts",
        "1 hour",
        ["event_type"],
        [
            F.count("*").alias("n_events"),
            F.round(F.percentile("value", 0.5), 6).alias("p50"),
            F.round(F.percentile("value", 0.95), 6).alias("p95"),
        ],
    )
    return out.select(
        "window_start", "event_type", "n_events", "p50", "p95"
    ).orderBy("window_start", "event_type")


STREAM_WINDOW_QUANTILES_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95
FROM events GROUP BY 1, 2 ORDER BY window_start, event_type
"""


def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = sliding_window_agg(
        ev,
        "ts",
        "1 hour",
        "30 minutes",
        [],
        [
            F.count("*").alias("n_events"),
            # avg as deterministic-sum/count with NO outer round: the
            # decimal sum is exact in both engines, so the division is
            # bit-identical IEEE — an outer round(x,4) would diverge when
            # the quotient's decimal form ends in ...5 (Spark rounds the
            # decimal string HALF_UP, DuckDB rounds the binary double)
            (money_sum(money("value")) / F.count("*")).alias("avg_value"),
        ],
    )
    return out.select("window_start", "n_events", "avg_value").orderBy(
        "window_start"
    )


# each event belongs to exactly two 1h/30m windows: the one starting at
# its 30-min grid floor and the one 30 minutes earlier
STREAM_SLIDING_ORACLE = """
WITH grid AS (
  SELECT to_timestamp(floor(epoch(ts) / 1800) * 1800)::TIMESTAMP         AS window_start, value FROM events
  UNION ALL
  SELECT to_timestamp(floor(epoch(ts) / 1800) * 1800 - 1800)::TIMESTAMP, value FROM events
)
SELECT window_start, count(*) AS n_events,
       round(sum(value::DECIMAL(12,2)), 2)::DOUBLE / count(*) AS avg_value
FROM grid GROUP BY 1 ORDER BY window_start
"""


def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessionization per user."""
    ev = load_table(spark, sf_dir, "events")
    out = session_window_agg(
        ev,
        "ts",
        "30 minutes",
        ["user_id"],
        [
            F.count("*").alias("n_events"),
            money_sum(money("value")).alias("session_value"),
        ],
    )
    return out.select(
        "user_id", "session_start", "session_end", "n_events", "session_value"
    ).orderBy("user_id", "session_start")


# gaps-and-islands twin: session breaks where the gap from the previous
# event exceeds 30 min; session_end = last event + 30 min
STREAM_SESSION_ORACLE = """
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
), numbered AS (
  SELECT user_id, ts, value,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM marked
)
SELECT user_id,
       min(ts)                        AS session_start,
       max(ts) + INTERVAL 30 MINUTE   AS session_end,
       count(*)                                    AS n_events,
       round(sum(value::DECIMAL(12,2)), 2)::DOUBLE AS session_value
FROM numbered GROUP BY user_id, sess
ORDER BY user_id, session_start
"""


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dedup twin: first event (min event_id) per
    (user_id, event_type). streaming_dedup() keeps an arbitrary row;
    the catalog query pins min-event_id so the oracle is well-defined,
    then verifies the dedup via the row count contract."""
    ev = load_table(spark, sf_dir, "events")
    deduped = streaming_dedup(ev, ["user_id", "event_type"])
    # dropDuplicates keeps an arbitrary row -> project to the keys (the
    # deterministic part) and prove cardinality matches the oracle's
    return deduped.groupBy("user_id").agg(
        F.count("*").alias("n_distinct_types")
    ).orderBy("user_id")


STREAM_DEDUP_ORACLE = """
SELECT user_id, count(DISTINCT event_type) AS n_distinct_types
FROM events GROUP BY user_id ORDER BY user_id
"""


def stream_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: events joined to the customer dim
    (user_id ≡ custkey domain in the testdata)."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    out = stream_static_join(ev, cust, "user_id")
    return (
        out.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            money_sum(money("value")).alias("total_value"),
        )
        .orderBy("c_mktsegment")
    )


STREAM_ENRICH_ORACLE = """
SELECT c_mktsegment, count(*) AS n_events,
       round(sum(value::DECIMAL(12,2)), 2)::DOUBLE AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join, batch twin: every
    purchase, with the count of same-user errors in the following two
    hours — zero for purchases with no such error (the rows an inner
    join drops; under readStream they emit once the watermark passes
    the join window, state stays O(rate × window)). The true-stream
    run of the same operator is pinned in tests/test_streaming.py."""
    from interop_datalake_spark.streaming.windows import (
        stream_stream_interval_join,
    )

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("pid"), F.col("ts").alias("pts")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("user_id"),
        F.col("event_id").alias("eid"),
        F.col("ts").alias("ets"),
    )
    j = stream_stream_interval_join(
        purchases, errors, "user_id", "pts", "ets", 7200, how="left_outer"
    )
    return (
        j.groupBy("user_id", "pid")
        .agg(F.count("eid").alias("n_err"))
        .orderBy("user_id", "pid")
    )


STREAM_JOIN_OUTER_ORACLE = """
SELECT p.user_id, p.event_id AS pid, count(e.event_id) AS n_err
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON e.user_id = p.user_id
 AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 7200 SECOND
GROUP BY 1, 2 ORDER BY p.user_id, pid
"""




def _drain_available_now(
    sdf: DataFrame, ckpt: str, what: str, output_mode: str | None = None
) -> list:
    """Every row ``sdf`` delivers under ``trigger(availableNow=True)``,
    collected per micro-batch. A drain that has not finished in 300 s
    is stopped and raises instead of returning a partial result."""
    got: list = []
    writer = sdf.writeStream
    if output_mode is not None:
        writer = writer.outputMode(output_mode)
    q = (
        writer.foreachBatch(lambda bdf, eid: got.extend(bdf.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            f"{what} did not drain in 300s — refusing to return a "
            f"silently partial result"
        )
    return got


def stream_iceberg_appends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOREIGN-FORMAT streaming, driven end-to-end: a TxnTable ingests
    a bounded orders slice in two batches, each published as an
    Iceberg v2 snapshot (lake/iceberg_interop.py), and a true
    readStream over the PUBLISHED table (streaming/iceberg_source.py
    — offsets are v2 sequence numbers; the planner decodes manifests
    with the pure-Python Avro reader, no py4j in the DataSource
    worker) drains with availableNow. Every row must arrive exactly
    once, tagged with the snapshot that added it; snapshot ids are
    TxnTable versions (deterministic), so one SQL statement replays
    the entire write -> export -> stream pipeline — the
    dedup_stream_pipeline cross-check pattern for the Iceberg
    surface."""
    import shutil
    import tempfile

    from interop_datalake_spark.lake.iceberg_interop import (
        export_iceberg_metadata,
    )
    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession
    from interop_datalake_spark.streaming.iceberg_source import (
        read_iceberg_stream,
    )

    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 3000)  # SF-independent bound
        .select("o_orderkey", "o_custkey", "o_orderstatus")
    )
    root = tempfile.mkdtemp(prefix="ice_stream_q_")
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        t = TxnTable(session, "ord", stats_cols=["o_orderkey"])
        t.append(orders.filter(F.col("o_orderkey") % 4 == 0).coalesce(2))
        export_iceberg_metadata(t)
        t.append(orders.filter(F.col("o_orderkey") % 4 != 0).coalesce(2))
        export_iceberg_metadata(t)
        got = _drain_available_now(
            read_iceberg_stream(spark, str(t.root)), root + "/ckpt",
            "iceberg append stream",
        )
        rows = [
            (r.o_orderkey, r.o_custkey, r.o_orderstatus, r._snapshot_id)
            for r in got
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        rows,
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "snapshot_id BIGINT",
    ).orderBy("o_orderkey")


STREAM_ICEBERG_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN o_orderkey % 4 = 0 THEN 1 ELSE 2 END AS snapshot_id
FROM orders
WHERE o_orderkey <= 3000
ORDER BY o_orderkey
"""


def stream_delta_appends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOREIGN-Delta streaming, driven end-to-end (round-11;
    streaming/delta_source.py — the delta-spark
    ``readStream.format("delta")`` analog): a TxnTable ingests a
    bounded orders slice in two batches, each MIRRORED as a Delta
    commit (lake/delta_interop.py), and a true readStream over the
    published ``_delta_log`` (offsets are Delta versions; vectorized
    Arrow reads) drains with availableNow. Every row must arrive
    exactly once, tagged with the commit version that added it —
    versions are deterministic (0 and 1), so one SQL statement
    replays the whole write → mirror → stream pipeline."""
    import shutil
    import tempfile

    from interop_datalake_spark.lake.delta_interop import (
        export_delta_log,
    )
    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession
    from interop_datalake_spark.streaming.delta_source import (
        read_delta_stream,
    )

    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 3000)  # SF-independent bound
        .select("o_orderkey", "o_custkey", "o_orderstatus")
    )
    root = tempfile.mkdtemp(prefix="delta_stream_q_")
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        t = TxnTable(session, "ord", stats_cols=["o_orderkey"])
        t.append(orders.filter(F.col("o_orderkey") % 4 == 0).coalesce(2))
        export_delta_log(t, mode="mirror")
        t.append(orders.filter(F.col("o_orderkey") % 4 != 0).coalesce(2))
        export_delta_log(t, mode="mirror")
        got = _drain_available_now(
            read_delta_stream(spark, str(t.root)), root + "/ckpt",
            "delta append stream",
        )
        rows = [
            (
                r.o_orderkey,
                r.o_custkey,
                r.o_orderstatus,
                r._commit_version,
            )
            for r in got
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        rows,
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "commit_version BIGINT",
    ).orderBy("o_orderkey")


def stream_delta_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOREIGN-Delta CDC streaming (round 12;
    streaming/delta_source.py delta_cdc format — the readChangeFeed
    stream analog, lifting the append source's retraction refusal): a
    TxnTable ingests a bounded orders slice (Delta v0), then a
    merge-on-read DELETE of every o_orderkey % 10 == 0 mirrors as the
    DV-update commit shape (Delta v1), and a true readStream over the
    published log drains with availableNow — the deleted rows arrive
    as ``_change_type='delete'`` via EXECUTOR-side deletion-vector
    position diffs, never a planning-time materialization. One SQL
    statement replays the pipeline: every row inserts at v0, the
    deleted subset re-emits as a delete at v1."""
    import shutil
    import tempfile

    from interop_datalake_spark.lake.delta_interop import (
        export_delta_log,
    )
    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession
    from interop_datalake_spark.streaming.delta_source import (
        read_delta_cdc_stream,
    )

    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 2000)  # SF-independent bound
        .select("o_orderkey", "o_orderstatus")
    )
    root = tempfile.mkdtemp(prefix="delta_cdc_q_")
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        t = TxnTable(session, "ordc", stats_cols=["o_orderkey"])
        t.append(orders.coalesce(2))
        export_delta_log(t, mode="mirror")
        t.delete_where(
            F.col("o_orderkey") % 10 == 0, merge_on_read=True
        )
        export_delta_log(t, mode="mirror")
        got = _drain_available_now(
            read_delta_cdc_stream(spark, str(t.root)), root + "/ckpt",
            "delta cdc stream",
        )
        rows = [
            (
                r.o_orderkey,
                r.o_orderstatus,
                r._change_type,
                r._commit_version,
            )
            for r in got
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        rows,
        "o_orderkey BIGINT, o_orderstatus STRING, "
        "change_type STRING, commit_version BIGINT",
    ).orderBy("commit_version", "o_orderkey")


STREAM_DELTA_CDC_ORACLE = """
SELECT * FROM (
  SELECT o_orderkey, o_orderstatus, 'insert' AS change_type,
         0::BIGINT AS commit_version
  FROM orders WHERE o_orderkey <= 2000
  UNION ALL
  SELECT o_orderkey, o_orderstatus, 'delete', 1::BIGINT
  FROM orders WHERE o_orderkey <= 2000 AND o_orderkey % 10 = 0
)
ORDER BY commit_version, o_orderkey
"""


STREAM_DELTA_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN o_orderkey % 4 = 0 THEN 0 ELSE 1 END AS commit_version
FROM orders
WHERE o_orderkey <= 3000
ORDER BY o_orderkey
"""



def stream_iceberg_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOREIGN-Iceberg CDC streaming (round 13;
    streaming/iceberg_source.py iceberg_cdc format — the changelog
    readStream, lifting the append source's retraction refusal; the
    Iceberg twin of stream_delta_cdc): a TxnTable ingests a bounded
    orders slice (snapshot 1), a merge-on-read DELETE of every
    o_orderkey % 10 == 0 exports as a position-delete snapshot
    (snapshot 2), and a true readStream over the exported metadata
    drains with availableNow — the deleted rows arrive as
    ``_change_type='delete'`` via EXECUTOR-side position resolution
    (the planner stays manifest-scale, decoding with the pure-Python
    Avro reader). Snapshot ids are random, so the output carries the
    snapshot's ORDINAL in the history; one SQL statement replays the
    pipeline."""
    import json as _json
    import shutil
    import tempfile

    from interop_datalake_spark.lake.iceberg_interop import (
        export_iceberg_metadata,
    )
    from interop_datalake_spark.lake.txn import TxnTable
    from interop_datalake_spark.session import DatalakeSession
    from interop_datalake_spark.streaming.iceberg_source import (
        read_iceberg_cdc_stream,
    )

    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 2000)  # SF-independent bound
        .select("o_orderkey", "o_orderstatus")
    )
    root = tempfile.mkdtemp(prefix="ice_cdc_q_")
    try:
        session = DatalakeSession(lake_root=root, spark=spark)
        t = TxnTable(session, "ordic", stats_cols=["o_orderkey"])
        t.append(orders.coalesce(2))
        export_iceberg_metadata(t)
        t.delete_where(
            F.col("o_orderkey") % 10 == 0, merge_on_read=True
        )
        export_iceberg_metadata(t)
        meta_dir = t.root / "metadata"
        n = int((meta_dir / "version-hint.text").read_text())
        meta = _json.loads(
            (meta_dir / f"v{n}.metadata.json").read_text()
        )
        ordinal_of = {
            e["snapshot-id"]: i
            for i, e in enumerate(meta["snapshot-log"])
        }
        got = _drain_available_now(
            read_iceberg_cdc_stream(spark, str(t.root)), root + "/ckpt",
            "iceberg cdc stream",
        )
        rows = [
            (
                r.o_orderkey,
                r.o_orderstatus,
                r._change_type,
                ordinal_of[r._snapshot_id],
            )
            for r in got
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        rows,
        "o_orderkey BIGINT, o_orderstatus STRING, "
        "change_type STRING, snap_ordinal INT",
    ).orderBy("snap_ordinal", "o_orderkey")


STREAM_ICEBERG_CDC_ORACLE = """
SELECT * FROM (
  SELECT o_orderkey, o_orderstatus, 'insert' AS change_type,
         0::INT AS snap_ordinal
  FROM orders WHERE o_orderkey <= 2000
  UNION ALL
  SELECT o_orderkey, o_orderstatus, 'delete', 1::INT
  FROM orders WHERE o_orderkey <= 2000 AND o_orderkey % 10 = 0
)
ORDER BY snap_ordinal, o_orderkey
"""



def stream_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM STATEFUL OPERATOR witnessed end-to-end through a true
    readStream (streaming/stateful.py:stateful_dedup_stream —
    applyInPandasWithState): documents map to a duplicate-rich key
    (doc_id % 300) with a batch stamp (0 below doc_id 450, else 1);
    the stream emits each key's first arrival with the MINIMUM stamp
    among the rows the micro-batch delivered, so the result equals
    one SQL aggregate. The spool is a single parquet file → a single
    availableNow micro-batch, which keeps the oracle deterministic
    (micro-batch BOUNDARIES are engine-chosen; the cross-batch state
    semantics are pinned separately in tests/test_stateful.py with a
    checkpoint-resumed two-batch run)."""
    import shutil
    import tempfile

    from interop_datalake_spark.streaming.stateful import (
        stateful_dedup_stream,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 300).alias("doc_id"),
        F.when(F.col("doc_id") < 450, F.lit(0))
        .otherwise(F.lit(1))
        .cast("bigint")
        .alias("_batch"),
    )
    root = tempfile.mkdtemp(prefix="stateful_dedup_q_")
    try:
        docs.coalesce(1).write.mode("overwrite").parquet(
            root + "/spool"
        )
        sdf = spark.readStream.schema(
            "doc_id BIGINT, _batch BIGINT"
        ).parquet(root + "/spool")
        got = _drain_available_now(
            stateful_dedup_stream(sdf), root + "/ckpt",
            "stateful dedup stream", output_mode="update",
        )
        rows = [(r.doc_id, r.first_seen_batch) for r in got]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(spark,
        rows, "key_id BIGINT, first_seen_batch BIGINT"
    ).orderBy("key_id")


STREAM_STATEFUL_DEDUP_ORACLE = """
SELECT doc_id % 300 AS key_id,
       min(CASE WHEN doc_id < 450 THEN 0 ELSE 1 END) AS first_seen_batch
FROM documents
GROUP BY doc_id % 300
ORDER BY key_id
"""

QUERIES = {
    "stream_tumbling_window": stream_tumbling_window,
    "stream_window_quantiles": stream_window_quantiles,
    "stream_sliding_window": stream_sliding_window,
    "stream_session_window": stream_session_window,
    "stream_dedup": stream_dedup,
    "stream_enrich_join": stream_enrich_join,
    "stream_join_outer": stream_join_outer,
    "stream_iceberg_appends": stream_iceberg_appends,
    "stream_iceberg_cdc": stream_iceberg_cdc,
    "stream_delta_appends": stream_delta_appends,
    "stream_delta_cdc": stream_delta_cdc,
    "stream_stateful_dedup": stream_stateful_dedup,
}

ORACLES = {
    "stream_tumbling_window": STREAM_TUMBLING_ORACLE,
    "stream_window_quantiles": STREAM_WINDOW_QUANTILES_ORACLE,
    "stream_sliding_window": STREAM_SLIDING_ORACLE,
    "stream_session_window": STREAM_SESSION_ORACLE,
    "stream_dedup": STREAM_DEDUP_ORACLE,
    "stream_enrich_join": STREAM_ENRICH_ORACLE,
    "stream_join_outer": STREAM_JOIN_OUTER_ORACLE,
    "stream_iceberg_appends": STREAM_ICEBERG_ORACLE,
    "stream_iceberg_cdc": STREAM_ICEBERG_CDC_ORACLE,
    "stream_delta_appends": STREAM_DELTA_ORACLE,
    "stream_delta_cdc": STREAM_DELTA_CDC_ORACLE,
    "stream_stateful_dedup": STREAM_STATEFUL_DEDUP_ORACLE,
}
