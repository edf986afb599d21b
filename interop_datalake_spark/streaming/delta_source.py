"""``readStream`` source over a Delta table's append history — the
``spark.readStream.format("delta")`` analog for FOREIGN ``_delta_log``
tables, built on Spark 4's Python DataSource API (the sibling of
streaming/iceberg_source.py for the other public table format).

Offsets are Delta VERSION numbers (monotone by construction): each
micro-batch covers the commits in ``(start.version, end.version]``
and its input partitions are the data files those commits ADDED with
``dataChange=true`` — one :class:`InputPartition` per file, read on
executors as vectorized Arrow batches (streaming/arrow_yield.py).
Partition values inject from each add's ``partitionValues`` (typed
from Delta's canonical string forms), and every row carries
``_commit_version``. Replays are deterministic: a published commit
json is immutable (delta_interop's own exporter pins this
byte-for-byte).

TWO formats register here: ``delta_appends`` (row feed of appended
data — refuses retractions) and ``delta_cdc`` (the readChangeFeed
stream analog: every commit's CHANGE rows, tagged ``_change_type`` /
``_commit_version`` / ``_commit_timestamp``, with cdc actions
authoritative and file-action derivation otherwise — the same
per-commit semantics as the batch ``read_delta_changes``; deletion
vectors decode executor-side from their descriptors, so the planner
never materializes positions).

``delta_appends`` refusals (an append-only row feed can't express
retractions or silent re-shapes — loudly, at planning time, never a
wrong row):

- a ``remove`` with ``dataChange=true`` (DELETE/UPDATE/MERGE) — use
  the ``delta_cdc`` stream or the batch CDC reader; compaction
  (``dataChange=false`` on both sides) is skipped as pure rewrite;
- an ``add`` carrying a ``deletionVector`` (its rows need a MOR
  anti-join — the ``delta_cdc`` stream performs it positionally);
- a ``metaData`` whose schema carries columns the stream's declared
  one lacks — the delta-spark ``schemaTrackingLocation`` UX, pinned
  by ``tests/test_delta_stream.py::TestEvolutionRestart``: the
  refusal fires BEFORE offsets advance, so a restarted query on the
  same checkpoint re-resolves the widened schema and resumes exactly
  at the evolution commit (pre-evolution files null-fill through the
  schema-on-read subset rule; nothing skips or double-reads). Both
  formats behave the same;
- expired history: a window whose commit json was removed by log
  cleanup (``expire_delta_log``) refuses rather than silently
  skipping its rows;
- protocol/reader features and ``columnMapping`` gate through the
  SAME ``_check_reader_features`` as the batch reader at schema
  time (``columnMapping=name`` is refused here even though the
  batch reader supports it: the executor slices read physical
  parquet directly and would silently NULL logical columns);
- a MID-STREAM table upgrade: an in-window ``protocol`` claiming
  reader features beyond the stream-safe set, or a ``metaData``
  configuration change enabling ``columnMapping``, refuses in
  ``partitions()`` — later physical files would otherwise read as
  wrong/NULL columns with no error.

The planner process of a Python DataSource has no py4j gateway; all
log parsing is the pure-Python replay delta_interop already uses.
"""

from __future__ import annotations

import json
from urllib.parse import unquote

from interop_datalake_spark.lake.txn import typed_partition_value
from interop_datalake_spark.streaming.feed import (
    FeedReader,
    FeedSource,
    Slice,
    _stream,
)

FORMAT_NAME = "delta_appends"
CDC_FORMAT_NAME = "delta_cdc"


def _schema_fingerprint(schema_string: str) -> list:
    """(name, canonical-type-json) pairs — the type is re-serialized
    because nested types are DICTS (unhashable in the subset check,
    and key order varies by writer)."""
    st = json.loads(schema_string)
    return [
        (f["name"], json.dumps(f["type"], sort_keys=True))
        for f in st["fields"]
    ]


#: reader features an in-window protocol upgrade may claim without
#: changing how this stream reads physical parquet. columnMapping is
#: NOT here (the executor slice reads physical column names directly);
#: deletionVectors IS — enabling the feature is harmless because
#: delta_appends refuses any add that actually carries a vector and
#: delta_cdc applies it.
_STREAM_SAFE_READER_FEATURES = {
    "timestampNtz",
    "vacuumProtocolCheck",
    "deletionVectors",
    "v2Checkpoint",
}


class DeltaStreamReader(FeedReader):
    def __init__(
        self,
        root: str,
        schema,
        start_version: int,
        schema_string: str,
        partition_cols: list[str],
        max_versions_per_trigger: int | None = None,
    ):
        super().__init__(
            root, schema, start_version, max_versions_per_trigger
        )
        self.fingerprint = _schema_fingerprint(schema_string)
        self.partition_cols = partition_cols
        # Spark's type names, not the log's JSON ones (integer, long)
        self.ptypes = {
            f.name: f.dataType.simpleString()
            for f in schema.fields
            if f.name in partition_cols
        }
        #: listing floor: the highest commit version known to exist.
        #: Seeded by ONE glob, then advanced by O(new commits)
        #: exists() probes per trigger — latestOffset stops listing
        #: the entire _delta_log every micro-batch (commit jsons are
        #: written contiguously by version, so probing head+1, head+2,
        #: … finds every new commit)
        self._seen: int | None = None

    def _head(self) -> int:
        log = self.root / "_delta_log"
        if self._seen is None:
            self._seen = max(
                (int(p.stem) for p in log.glob("*.json") if p.stem.isdigit()),
                default=self.start,
            )
        v = self._seen + 1
        while (log / f"{v:020d}.json").exists():
            self._seen = v
            v += 1
        return self._seen

    def _typed(self, pv: dict | None) -> dict:
        pv = pv or {}
        return {
            c: typed_partition_value(pv.get(c), self.ptypes.get(c, ""))
            for c in self.partition_cols
        }

    def _commits(self, start: int, end: int):
        """Yield ``(version, parse_cdc_commit result, json path)`` per
        window commit — the SAME per-commit parse as the batch
        ``read_delta_changes`` — after the checks both Delta streams
        share: expired history, a mid-stream protocol upgrade, a
        mid-stream ``columnMapping`` switch, and a schema the declared
        one lacks."""
        from interop_datalake_spark.lake.delta_interop import (
            parse_cdc_commit,
        )

        log = self.root / "_delta_log"
        for v in range(start + 1, end + 1):
            p = log / f"{v:020d}.json"
            try:
                text = p.read_text()
            except FileNotFoundError:
                raise ValueError(
                    f"commit json for version {v} is gone — history "
                    f"was expired by log cleanup; restart the stream "
                    f"with starting_after_version at or past the "
                    f"oldest retained commit"
                )
            parsed = parse_cdc_commit(text)
            for proto in parsed["protocols"]:
                # a mid-stream table upgrade (e.g. enabling
                # columnMapping) changes how later physical files must
                # be read — refuse like the batch reader's schema-time
                # gate instead of NULLing columns
                feats = (
                    set(proto.get("readerFeatures") or [])
                    - _STREAM_SAFE_READER_FEATURES
                )
                if feats:
                    raise ValueError(
                        f"version {v} upgrades the table to reader "
                        f"features {sorted(feats)} this streaming "
                        f"source does not implement — read the table "
                        f"with the batch reader"
                    )
            for md in parsed["metas"]:
                mode = (md.get("configuration") or {}).get(
                    "delta.columnMapping.mode"
                )
                if mode and mode != "none":
                    raise ValueError(
                        f"version {v} sets delta.columnMapping."
                        f"mode={mode!r} mid-stream — the executor "
                        f"slices read physical parquet directly and "
                        f"would silently NULL logical columns; use the "
                        f"batch reader"
                    )
                # HISTORICAL schemas (older, fewer columns) are safe —
                # their files null-fill through the schema-on-read
                # rule. Refuse only when a window metaData carries
                # (name, type) pairs the DECLARED schema lacks: the
                # table evolved after this stream resolved its schema,
                # and emitting those files would silently drop or
                # re-type columns.
                extra = set(_schema_fingerprint(md["schemaString"])) - set(
                    self.fingerprint
                )
                if extra:
                    raise ValueError(
                        f"table schema changed at version {v} "
                        f"(new/retyped columns "
                        f"{sorted(n for n, _ in extra)}) — "
                        f"restart the stream to pick up the new schema"
                    )
            yield v, parsed, p

    def _plan(self, start: int, end: int) -> list[Slice]:
        slices = []
        for v, parsed, _ in self._commits(start, end):
            if parsed["removes"]:
                raise ValueError(
                    f"version {v} removes data "
                    f"({next(iter(parsed['removes']))}) — a streaming "
                    f"append feed cannot express retractions; use the "
                    f"delta_cdc stream (read_delta_cdc_stream) or the "
                    f"batch CDC reader (read_delta_changes)"
                )
            for f, a in parsed["adds"].items():
                if a.get("deletionVector"):
                    raise ValueError(
                        f"version {v} adds a deletion-vectored file — "
                        f"its rows need a MOR anti-join; use the "
                        f"delta_cdc stream or the batch reader"
                    )
                slices.append(
                    Slice(
                        str(self.root / f),
                        {
                            **self._typed(a.get("partitionValues")),
                            "_commit_version": v,
                        },
                    )
                )
        return slices


class DeltaAppendsDataSource(FeedSource):
    """``spark.readStream.format("delta_appends").option("path",
    <table root>)`` — register with :func:`register_delta_source`.
    Schema = the log's current logical schema (partition columns
    included — they inject from add actions) +
    ``_commit_version bigint``."""

    format_name = FORMAT_NAME
    reader = DeltaStreamReader
    start_option = "starting_after_version"
    start_default = -1
    tags = ("`_commit_version` bigint",)

    def _meta(self):
        from interop_datalake_spark.lake.delta_interop import (
            _replay_log,
        )

        meta, _ = _replay_log(self._path(), None)
        mode = (meta.get("configuration") or {}).get(
            "delta.columnMapping.mode"
        )
        if mode and mode != "none":
            raise ValueError(
                f"delta.columnMapping.mode={mode!r}: the streaming "
                f"source reads physical parquet directly and would "
                f"silently NULL logical columns; read mapped tables "
                f"with the batch reader (read_delta)"
            )
        return meta

    def _columns(self) -> list[str]:
        from pyspark.sql.types import StructType

        st = StructType.fromJson(json.loads(self._meta()["schemaString"]))
        return [f"`{f.name}` {f.dataType.simpleString()}" for f in st.fields]

    def _reader(self, path, schema, start, cap) -> DeltaStreamReader:
        meta = self._meta()
        return self.reader(
            path,
            schema,
            start,
            meta["schemaString"],
            list(meta.get("partitionColumns") or []),
            cap,
        )


class DeltaCdcStreamReader(DeltaStreamReader):
    """CDC micro-batches over a Delta log: each commit window emits
    its change rows per the SAME per-commit semantics as the batch
    :func:`~interop_datalake_spark.lake.delta_interop.
    read_delta_changes` — cdc actions authoritative, else derived
    from file actions (full-file insert/delete, DV position diffs).
    This LIFTS the delta_appends source's retraction refusal: a
    DELETE/UPDATE/MERGE commit streams as its delete/insert rows
    instead of refusing. Deletion vectors decode on the EXECUTOR from
    their descriptors, so the planner never materializes positions."""

    def _plan(self, start: int, end: int) -> list[Slice]:
        from datetime import datetime, timezone

        slices = []
        for v, parsed, p in self._commits(start, end):
            ts_ms = parsed["ts_ms"]
            if ts_ms is None:
                ts_ms = int(p.stat().st_mtime * 1000)
            tags = {
                "_commit_version": v,
                "_commit_timestamp": datetime.fromtimestamp(
                    ts_ms / 1000, tz=timezone.utc
                ),
            }

            def change(f, pv, ctype=None, **deletes):
                # ctype None: a cdc file whose rows carry their own
                constants = {**self._typed(pv), **tags}
                if ctype is not None:
                    constants["_change_type"] = ctype
                return Slice(str(self.root / f), constants, **deletes)

            if parsed["cdc"]:
                slices += [
                    change(unquote(c["path"]), c.get("partitionValues"))
                    for c in parsed["cdc"]
                ]
                continue
            adds, removes = parsed["adds"], parsed["removes"]
            paired = [f for f in adds if f in removes]
            for f, a in adds.items():
                if f not in removes:
                    slices.append(change(
                        f, a.get("partitionValues"), "insert",
                        drop=a.get("deletionVector"),
                    ))
            for f, r in removes.items():
                if f in adds:
                    continue
                pv = r.get("partitionValues")
                if self.partition_cols and pv is None:
                    raise ValueError(
                        f"remove action for {f} at version {v} "
                        f"records no partitionValues on a partitioned "
                        f"table — its deleted rows' partition columns "
                        f"cannot be reconstructed"
                    )
                slices.append(change(
                    f, pv, "delete", drop=r.get("deletionVector"),
                ))
            for f in paired:
                old = removes[f].get("deletionVector")
                new = adds[f].get("deletionVector")
                if old is None and new is None:
                    # remove+add of the same file with no vectors on
                    # either side changed no rows of it; the batch
                    # reader emits nothing here either
                    continue
                pv = adds[f].get("partitionValues")
                slices.append(change(f, pv, "delete", diff=(old, new)))
                slices.append(change(f, pv, "insert", diff=(new, old)))
        return slices

    def _positions(self, desc):
        import numpy as np

        from interop_datalake_spark.lake.delta_dv import (
            load_dv_row_indexes,
        )

        return np.asarray(
            load_dv_row_indexes(str(self.root), desc) if desc else [],
            dtype=np.int64,
        )


class DeltaCdcDataSource(DeltaAppendsDataSource):
    """``spark.readStream.format("delta_cdc").option("path", <table
    root>)`` — register with :func:`register_delta_source`. Schema =
    the log's current logical schema + ``_change_type string`` +
    ``_commit_version bigint`` + ``_commit_timestamp timestamp``."""

    format_name = CDC_FORMAT_NAME
    reader = DeltaCdcStreamReader
    tags = (
        "`_change_type` string",
        "`_commit_version` bigint",
        "`_commit_timestamp` timestamp",
    )


def register_delta_source(spark) -> None:
    """Idempotently register the ``delta_appends`` + ``delta_cdc``
    streaming formats."""
    spark.dataSource.register(DeltaAppendsDataSource)
    spark.dataSource.register(DeltaCdcDataSource)


def read_delta_stream(
    spark,
    path: str,
    starting_after_version: int = -1,
    max_versions_per_trigger: int | None = None,
):
    """Convenience: a streaming DataFrame tailing the append history
    of the Delta table at ``path``, starting after the given version
    (-1 = from version 0, i.e. the initial snapshot is the first
    micro-batch — Delta's own ``startingVersion=0`` shape).
    ``max_versions_per_trigger`` (delta-spark's ``maxFilesPerTrigger``
    analog, at per-commit granularity) bounds EVERY micro-batch —
    catch-up over a long history drains in bounded hops instead of one
    giant batch; use a processing-time trigger for throttled catch-up
    (streaming/pacing.py)."""
    return _stream(
        spark, DeltaAppendsDataSource, path, starting_after_version,
        max_versions_per_trigger,
    )


def read_delta_cdc_stream(
    spark,
    path: str,
    starting_after_version: int = -1,
    max_versions_per_trigger: int | None = None,
):
    """Convenience: a CDC streaming DataFrame over the Delta table at
    ``path`` — delta-spark's ``readChangeFeed`` stream analog. Unlike
    :func:`read_delta_stream`, retraction commits (DELETE / UPDATE /
    MERGE, with or without cdc actions) stream as tagged
    ``_change_type`` rows instead of refusing.
    ``max_versions_per_trigger`` bounds every micro-batch's commit
    span, exactly as in :func:`read_delta_stream`."""
    return _stream(
        spark, DeltaCdcDataSource, path, starting_after_version,
        max_versions_per_trigger,
    )
