"""Streaming incremental dedup (llm/incremental.py): docs change-feed
stream → signature store → verified pairs table, exactly-once on every
leg. The pinned invariant: streamed-in-batches pair output equals the
monolithic minhash_lsh_dedup over the full corpus."""

from pyspark.sql import functions as F

from interop_datalake_spark.lake.txn import TxnTable
from interop_datalake_spark.llm.dedup import lsh_sign_bands, minhash_lsh_dedup
from interop_datalake_spark.llm.incremental import dedup_pipeline_writer
from interop_datalake_spark.session import DatalakeSession
from interop_datalake_spark.sources.tables import load_table
from interop_datalake_spark.streaming.txn_source import read_txn_stream


def _pairs(df):
    return {(r["id_a"], r["id_b"], round(r["jaccard"], 6)) for r in df.collect()}


def _drain(session, docs_t, store, pairs_t, ckpt):
    """Tail the docs change feed with ``availableNow`` through the
    pipeline writer; a restart on the same checkpoint continues the
    offsets and epochs."""
    (
        read_txn_stream(session, docs_t.name, starting_version=0)
        .writeStream.foreachBatch(dedup_pipeline_writer(docs_t, store, pairs_t))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _setup(spark, tmp_path):
    session = DatalakeSession(lake_root=str(tmp_path / "lake"), spark=spark)
    return (
        session,
        TxnTable(session, "docs"),
        TxnTable(session, "lsh_store"),
        TxnTable(session, "pairs"),
    )


def test_streamed_batches_equal_monolithic_dedup(spark, sf_dir, tmp_path):
    session, docs_t, store, pairs_t = _setup(spark, tmp_path)
    all_docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ckpt = str(tmp_path / "ckpt")

    # day 0: the initial corpus arrives
    docs_t.append(all_docs.filter(F.col("doc_id") < 450))
    _drain(session, docs_t, store, pairs_t, ckpt)

    # days 1+2: two more ingests land before the stream wakes again
    docs_t.append(all_docs.filter(F.col("doc_id").between(450, 474)))
    docs_t.append(all_docs.filter(F.col("doc_id") >= 475))
    _drain(session, docs_t, store, pairs_t, ckpt)

    got = _pairs(pairs_t.read())
    want = _pairs(minhash_lsh_dedup(all_docs, "text", "doc_id"))
    assert got == want and len(want) > 0

    # the store holds every document's bands exactly once
    n_bands = lsh_sign_bands(all_docs, "text", "doc_id").count()
    assert store.read().count() == n_bands

    # idle restart: no new commits → no new epochs, tables unchanged
    vs_before = (store.current_version(), pairs_t.current_version())
    _drain(session, docs_t, store, pairs_t, ckpt)
    assert (store.current_version(), pairs_t.current_version()) == vs_before


def test_crash_replay_between_commits_converges(spark, sf_dir, tmp_path):
    """foreachBatch redelivers an epoch after a crash BETWEEN the store
    commit and the pairs commit: the replay must recover the batch's
    bands from the store (no double-append) and land the pairs."""
    session, docs_t, store, pairs_t = _setup(spark, tmp_path)
    all_docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs_t.append(all_docs.filter(F.col("doc_id") < 450))
    writer = dedup_pipeline_writer(docs_t, store, pairs_t)
    batch0 = docs_t.read_changes(0).select("doc_id", "text")
    writer(batch0, 0)  # epoch 0 fully applied

    docs_t.append(all_docs.filter(F.col("doc_id") >= 450))
    batch1 = docs_t.read_changes(1).select("doc_id", "text")

    # simulated crash: the store commit of epoch 1 landed, pairs did not
    bands1 = lsh_sign_bands(batch1, "text", "doc_id")
    assert store.append_epoch(bands1, 1) is not None
    store_v = store.current_version()

    writer(batch1, 1)  # the replay
    assert store.current_version() == store_v  # no double-append
    got = _pairs(pairs_t.read())
    want = _pairs(minhash_lsh_dedup(all_docs, "text", "doc_id"))
    assert got == want

    # second replay of the same epoch: full no-op on both tables
    writer(batch1, 1)
    assert store.current_version() == store_v
    assert _pairs(pairs_t.read()) == want
