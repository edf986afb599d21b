"""Custom stateful streaming operator via ``applyInPandasWithState``.

``running_user_stats``: per-key running (count, sum, max) maintained in
GroupState across micro-batches — the template for any custom stateful
operator the built-in windows can't express (counters, CDC merge,
per-entity ML feature state). State is per-key and partitioned by the
shuffle, so it scales horizontally; a processing-time timeout evicts
idle keys to bound state size.

Batch twin: the same statistics via a plain groupBy (used by the tests
to verify the stateful path converges to the batch answer).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

STATS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("max_value", DoubleType()),
    ]
)

_STATE_SCHEMA = "n LONG, total DOUBLE, mx DOUBLE"


def _update_stats(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n, total, mx = state.get
    else:
        n, total, mx = 0, 0.0, float("-inf")
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        if len(pdf):
            mx = max(mx, float(pdf["value"].max()))
    state.update((n, total, mx))
    yield pd.DataFrame(
        [(user_id, n, round(total, 2), mx)],
        columns=["user_id", "n_events", "total_value", "max_value"],
    )


def running_user_stats(events: DataFrame) -> DataFrame:
    """Streaming: per-user running stats updated each micro-batch.
    Requires a streaming frame grouped on a scalable key."""
    return events.select("user_id", "value").groupBy("user_id").applyInPandasWithState(
        _update_stats,
        outputStructType=STATS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def user_stats_batch_twin(events: DataFrame) -> DataFrame:
    """The same statistics as a batch aggregation — the definition
    :func:`running_user_stats` must converge to once a stream is fully
    consumed. Kept as the batch reference tests/test_stateful.py
    compares the stateful stream against."""
    return events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.max("value").alias("max_value"),
    )


DEDUP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("first_seen_batch", LongType()),
    ]
)


def _make_dedup_fn(ttl_ms: int | None):
    def _dedup_keys(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (doc_id,) = key
        if ttl_ms is not None and state.hasTimedOut:
            # TTL eviction: the key was idle past the timeout — drop
            # its state; a LATER duplicate re-emits (the documented
            # TTL tradeoff every bounded-state streaming dedup makes)
            state.remove()
            return
        if state.exists:
            # duplicate of an earlier micro-batch: emit nothing and
            # refresh the TTL WITHOUT deserializing the group's Arrow
            # chunks (round-10 review: the hot path of a dedup
            # operator is the duplicate path)
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
            return
        batch = None
        for pdf in pdfs:
            if len(pdf):
                b = int(pdf["_batch"].min())
                batch = b if batch is None else min(batch, b)
        # min over ALL chunks: duplicates stamped with different
        # _batch values can land in one micro-batch, and chunk order
        # after the shuffle is not guaranteed (round-10 review)
        state.update((1,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(
            [(doc_id, batch)], columns=["doc_id", "first_seen_batch"]
        )

    return _dedup_keys


def stateful_dedup_stream(
    docs: DataFrame, ttl_ms: int | None = None
) -> DataFrame:
    """STREAMING cross-batch exact dedup: the first arrival of each
    doc_id is emitted with the micro-batch that saw it; every later
    duplicate — same batch or any later one (within the TTL, when
    set) — is dropped. State is one tiny tuple per live key, sharded
    by the groupBy shuffle (SURVEY §2.B streaming: custom stateful
    operator; the in-flight sibling of llm/incremental.py's
    transactional exact path).

    ``ttl_ms`` bounds state to keys seen within the window via
    ProcessingTimeTimeout eviction — the knob every production
    streaming dedup exposes (dropDuplicatesWithinWatermark makes the
    same bounded-state tradeoff). Leave it None for availableNow
    drains: MEASURED, a pending processing-time timeout keeps an
    availableNow query scheduling empty micro-batches until the TTL
    actually fires (hundreds of no-data batches for a 1h TTL), so
    the timeout mode only suits continuously-triggered queries. The
    eviction branch itself is unit-pinned against a fake GroupState
    in tests/test_stateful.py.

    ``docs`` must be a streaming frame with a ``doc_id`` column and a
    ``_batch`` column (e.g. ``F.lit(batch_id)`` stamped in
    foreachBatch upstream, or a source epoch)."""
    return docs.select("doc_id", "_batch").groupBy("doc_id").applyInPandasWithState(
        _make_dedup_fn(ttl_ms),
        outputStructType=DEDUP_SCHEMA,
        stateStructType="seen LONG",
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if ttl_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )
