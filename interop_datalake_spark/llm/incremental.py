"""STREAMING incremental dedup — the end-to-end composition of every
flagship subsystem in this repo:

    docs TxnTable ──(change-feed readStream)──▶ foreachBatch:
        sign batch ──▶ signature-store TxnTable   (epoch commit)
        candidates = store snapshot ⋈ batch bands (no text rescans)
        verify     = exact Jaccard on candidate docs only
        pairs     ──▶ pairs TxnTable              (epoch commit)

Each leg is exactly-once: the stream's batch id rides the store AND
pairs commits as the TxnTable ``epoch``, so a foreachBatch replay
after a crash at ANY point (before the store commit, between the two
commits, after both) converges to the same state — the store commit
is idempotent, and a replay that finds its epoch already stored
recovers the batch's bands FROM the store (via the epoch's commit
version) instead of double-appending.

The invariant the tests pin: after streaming a corpus in arbitrary
batch splits, the pairs table holds EXACTLY the pair set a monolithic
``minhash_lsh_dedup`` over the whole corpus would emit — each pair
lands in the epoch where its second side arrived, no pair twice, no
pair missed (corpus×corpus pairs of earlier epochs are never
recomputed; work per batch is O(batch + candidates)).

This is the reference's append-only publish ingest
(``DatalakePublishService.kt:50-90``) upgraded to a running,
transactional dedup pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from interop_datalake_spark.llm.dedup import (
    lsh_sign_bands,
    verified_pairs_from_bands,
)


def _epoch_version(table, epoch_id: int) -> int:
    """The commit version carrying ``epoch_id`` — used by crash
    replays to recover a batch's rows from the log instead of
    recomputing (manifest-only scan, never data)."""
    for h in reversed(table.history()):
        if h["epoch"] == epoch_id:
            return h["version"]
    raise LookupError(f"no commit with epoch {epoch_id} in {table.name}")


def dedup_pipeline_writer(
    docs_table,
    sig_store,
    pairs_table,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 16,
    rows_per_band: int = 4,
    threshold: float = 0.8,
):
    """``foreachBatch`` function for a docs change-feed stream: sign
    the micro-batch, append bands to the signature store, emit
    verified near-dup pairs (≥1 side in the batch) to the pairs
    table — all three legs keyed on the stream's epoch id."""

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        last_pairs = pairs_table.manifest()["epoch"]
        if last_pairs is not None and epoch_id <= last_pairs:
            return  # fully applied: replay no-op
        batch = batch_df.select(id_col, text_col)
        bands_new = lsh_sign_bands(
            batch, text_col, id_col, k, num_hashes, rows_per_band
        )
        # append_epoch returns the committed version FROM THE CAS —
        # race-free (a current_version() read after the commit could
        # see a concurrent writer's version and shift the change
        # window onto its rows). The log scan runs only on the replay
        # path (epoch already applied by a crashed prior run).
        v_epoch = sig_store.append_epoch(bands_new, epoch_id)
        if v_epoch is None:
            v_epoch = _epoch_version(sig_store, epoch_id)
        # both candidate sides from the store: full snapshot at the
        # epoch's version + exactly the rows that epoch added
        bands_all = sig_store.read(version=v_epoch).select(
            id_col, "band", "band_key"
        )
        stored_new = sig_store.read_changes(v_epoch - 1, v_epoch).select(
            id_col, "band", "band_key"
        )
        docs = docs_table.read().select(id_col, text_col)
        pairs = verified_pairs_from_bands(
            bands_all, stored_new, docs, text_col, id_col, k, threshold
        )
        pairs_table.append_epoch(
            pairs.select("id_a", "id_b", "jaccard"), epoch_id
        )

    return _process
