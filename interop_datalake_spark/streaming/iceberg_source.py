"""``readStream`` source over an Iceberg table's append history — the
``spark.readStream.format("iceberg")`` analog for FOREIGN Iceberg
Hadoop tables, built on Spark 4's Python DataSource API (the
streaming/txn_source.py sibling for the public table format).

Offsets are Iceberg SEQUENCE NUMBERS (monotone per the v2 spec —
snapshot ids are random and cannot order a stream): each micro-batch
covers the snapshots in ``(start.seq, end.seq]`` and its input
partitions are the data files those snapshots ADDED — one
:class:`InputPartition` per file, read on executors with pyarrow.
Identity partition values inject per the spec's Column Projection
rule, and every row carries ``_snapshot_id``. Replays are
deterministic: a snapshot's manifest set is immutable.

The planner process of a Python DataSource has NO py4j gateway, so
manifests decode through the pure-Python Avro reader
(lake/avro_read.py), not the bundled Java library the batch reader
uses — same files, independently decoded (tests pin the two readers
equal on exporter output).

Refusals mirror :func:`read_iceberg_changes`'s append scan: a
non-append snapshot, or one that adds delete files, raises at
planning time (a streaming row feed cannot express a retraction —
consumers needing deletes use the batch CDC mode,
``read_iceberg_changes(include_deletes=True)``). Nested-typed
columns refuse at schema time (identity-partition injection and the
manifest type map are primitive-only).

Executor reads are VECTORIZED (round-11): ``read()`` yields
``pyarrow.RecordBatch`` per parquet row-group slice via
streaming/arrow_yield.py — no per-row Python tuple assembly.
"""

from __future__ import annotations

import json
from pathlib import Path

from interop_datalake_spark.streaming.feed import (
    FeedReader,
    FeedSource,
    Slice,
    _stream,
)

FORMAT_NAME = "iceberg_appends"
CDC_FORMAT_NAME = "iceberg_cdc"


def _interop():
    """The batch reader's shared helpers (round-10 review: a second
    copy of the type map / metadata loader / URI decoder would
    re-create exactly the divergence the round-9 review deduplicated
    — e.g. _uri_to_path refuses non-file schemes LOUDLY, which a
    silent strip-any-scheme copy would not). Imported lazily: the
    Python DataSource planner worker imports this module before any
    JVM exists, and iceberg_interop's module import is JVM-free."""
    from interop_datalake_spark.lake import iceberg_interop as ii

    return ii


def _load_meta(root: Path) -> dict:
    return _interop()._load_metadata(str(root))


def _uri_path(uri: str) -> str:
    return _interop()._uri_to_path(uri)


def _schema_fields(meta: dict) -> list[dict]:
    schema = next(
        s
        for s in meta["schemas"]
        if s["schema-id"] == meta["current-schema-id"]
    )
    return schema["fields"]


def _projector(meta: dict):
    """``(data_file record, partition spec id) → {column: typed
    value}`` through the ONE shared projection site (refuses
    unmappable identity types loudly)."""
    ids_to_type = {f["id"]: f["type"] for f in _schema_fields(meta)}
    specs = {s["spec-id"]: s["fields"] for s in meta["partition-specs"]}
    return lambda dfr, spec_id: _interop()._entry_partition_values(
        None, dfr, specs.get(spec_id, []), ids_to_type
    )


class IcebergStreamReader(FeedReader):
    """Offsets are sequence numbers; the per-trigger cap counts
    retained SNAPSHOTS, not raw sequence numbers — numbers burned by
    failed commits never had data, and counting them would silently
    shrink batches."""

    key = "seq"

    def _head(self) -> int:
        meta = _load_meta(self.root)
        self._latest = int(meta.get("last-sequence-number") or 0)
        self._seqs = sorted(
            int(s["sequence-number"]) for s in meta.get("snapshots") or []
        )
        return self._latest

    def _cap(self, base: int, n: int) -> int:
        later = [s for s in self._seqs if s > base]
        return later[n - 1] if len(later) >= n else self._latest

    def _window(self, start: int, end: int) -> tuple[dict, list[dict]]:
        """The current metadata and the window's snapshots oldest
        first, after the expiry guard: a maintenance job's
        expireSnapshots removes snapshots from metadata, and silently
        skipping their sequence numbers would permanently lose their
        rows on resume. Refuse when the window starts before the
        oldest RETAINED snapshot (Iceberg's own incremental read
        refuses expired from-snapshots the same way) — unless the
        stream is FRESH (start is the configured initial offset) and
        the metadata holds no proof of expiry: then the missing head
        sequence numbers may simply have been burned by failed
        commits, which never had a snapshot or data. The repo's own
        expireSnapshots records the expired ids in
        ``txn.expired-snapshot-ids``; a resumed stream's checkpoint
        proves the missing range once existed and was consumable."""
        meta = _load_meta(self.root)
        snaps = meta.get("snapshots") or []
        retained = [s["sequence-number"] for s in snaps]
        if start < end and (not retained or start + 1 < min(retained)):
            expired_evidence = json.loads(
                (meta.get("properties") or {}).get(
                    "txn.expired-snapshot-ids", "[]"
                )
            )
            if start != self.start or expired_evidence:
                raise ValueError(
                    f"offset window ({start}, {end}] begins before "
                    f"the oldest retained snapshot (seq "
                    f"{min(retained) if retained else 'none'}) — "
                    f"history was expired; restart the stream from a "
                    f"retained sequence number"
                )
        window = sorted(
            (s for s in snaps if start < s["sequence-number"] <= end),
            key=lambda s: s["sequence-number"],
        )
        return meta, window

    def _plan(self, start: int, end: int) -> list[Slice]:
        from interop_datalake_spark.lake.avro_read import read_avro_file

        meta, window = self._window(start, end)
        project = _projector(meta)
        slices = []
        for snap in window:
            sid = snap["snapshot-id"]
            op = (snap.get("summary") or {}).get("operation")
            if op != "append":
                raise ValueError(
                    f"snapshot {sid} is a {op!r} operation — a "
                    f"streaming append feed cannot express its delta "
                    f"as added rows; use the batch CDC mode "
                    f"(read_iceberg_changes(include_deletes=True)) "
                    f"instead"
                )
            ml, _ = read_avro_file(_uri_path(str(snap["manifest-list"])))
            for mf in ml:
                if (mf.get("content") or 0) == 1:
                    # a delete manifest ADDED by this snapshot means
                    # new delete files (manifest-list row metadata —
                    # no decode needed); carried ones can't affect
                    # this snapshot's adds under the sequence rule
                    if int(mf.get("sequence_number") or 0) >= snap[
                        "sequence-number"
                    ]:
                        raise ValueError(
                            f"snapshot {sid} adds delete files — use "
                            f"the batch CDC mode for retractions"
                        )
                    continue
                # entries added by S can only live in manifests
                # WRITTEN at S — skipping carried manifests before
                # decoding keeps each micro-batch O(new manifests),
                # not O(all manifests since table creation)
                added_by = mf.get("added_snapshot_id")
                if added_by is None or int(added_by) != sid:
                    continue
                entries, _m = read_avro_file(
                    _uri_path(str(mf["manifest_path"]))
                )
                for e in entries:
                    esid = e.get("snapshot_id")
                    if e.get("status") == 2 or (
                        esid is not None and int(esid) != sid
                    ):
                        continue  # deleted, or an older entry folded in
                    dfr = e["data_file"]
                    pvals = project(dfr, mf.get("partition_spec_id"))
                    slices.append(
                        Slice(
                            _uri_path(str(dfr["file_path"])),
                            {**pvals, "_snapshot_id": sid},
                        )
                    )
        return slices


class IcebergAppendsDataSource(FeedSource):
    """``spark.readStream.format("iceberg_appends").option("path",
    <table root>)`` — register with :func:`register_iceberg_source`.
    Schema = the current Iceberg schema's columns (identity-partition
    columns included — they inject from manifests) +
    ``_snapshot_id bigint``."""

    format_name = FORMAT_NAME
    reader = IcebergStreamReader
    start_option = "starting_after_sequence"
    cap_option = "max_snapshots_per_trigger"
    tags = ("`_snapshot_id` bigint",)

    def _columns(self) -> list[str]:
        meta = _load_meta(Path(self._path()))
        if int(meta.get("format-version") or 1) < 2:
            raise ValueError(
                "this streaming source requires Iceberg format-version "
                "2+: v1 tables have no sequence numbers to use as "
                "offsets (a v1 table would otherwise stream as "
                "silently empty forever); read v1 tables with the "
                "batch reader"
            )
        cols = []
        for f in _schema_fields(meta):
            t = f["type"]
            if isinstance(t, dict):
                raise ValueError(
                    f"column {f['name']!r} is nested ({t['type']}) — "
                    f"the streaming source's row feed is "
                    f"primitive-only; read nested tables with "
                    f"read_iceberg"
                )
            cols.append(f"`{f['name']}` {_interop()._spark_type_of(t)}")
        return cols


def register_iceberg_source(spark) -> None:
    """Idempotently register the ``iceberg_appends`` + ``iceberg_cdc``
    streaming formats."""
    spark.dataSource.register(IcebergAppendsDataSource)
    spark.dataSource.register(IcebergCdcDataSource)


def read_iceberg_stream(
    spark,
    path: str,
    starting_after_sequence: int = 0,
    max_snapshots_per_trigger: int | None = None,
):
    """Convenience: a streaming DataFrame tailing the append history
    of the Iceberg table at ``path``, starting after the given
    sequence number (0 = from the beginning).
    ``max_snapshots_per_trigger`` bounds EVERY micro-batch — the
    opener of a fresh or restarted run included — to that many
    snapshots, so catch-up over a long history drains in bounded hops
    instead of one giant batch; use a processing-time trigger for
    throttled catch-up (streaming/pacing.py)."""
    return _stream(
        spark, IcebergAppendsDataSource, path, starting_after_sequence,
        max_snapshots_per_trigger,
    )


# -- iceberg_cdc: the changelog readStream -----------------------------------


def _live_state(meta: dict, snap: dict):
    """A snapshot's live state via the pure-Python Avro reader:
    ``({file URI: {"seq", "spec_id", "dfr"}}, [delete spec dicts])``.
    Equality-delete files refuse loudly (their semi-join semantics
    are the batch CDC mode's job — read_iceberg_changes applies
    them; a row-feed stream cannot without scanning live data at
    plan time)."""
    from interop_datalake_spark.lake.avro_read import read_avro_file

    ml, _ = read_avro_file(_uri_path(str(snap["manifest-list"])))
    data: dict[str, dict] = {}
    dels: list[dict] = []
    for mf in ml:
        mseq = int(mf.get("sequence_number") or 0)
        entries, _m = read_avro_file(
            _uri_path(str(mf["manifest_path"]))
        )
        if (mf.get("content") or 0) == 1:
            for e in entries:
                if e.get("status") == 2:
                    continue
                dfr = e["data_file"]
                eseq = e.get("sequence_number")
                seq = int(eseq) if eseq is not None else mseq
                if int(dfr.get("content") or 0) == 2:
                    raise ValueError(
                        f"snapshot {snap['snapshot-id']} carries "
                        f"EQUALITY delete files — the stream cannot "
                        f"express their semi-join; use the batch "
                        f"CDC mode (read_iceberg_changes("
                        f"include_deletes=True))"
                    )
                fmt = str(dfr.get("file_format") or "").upper()
                ref = dfr.get("referenced_data_file")
                if fmt == "PUFFIN":
                    off = dfr.get("content_offset")
                    size = dfr.get("content_size_in_bytes")
                    if ref is None or off is None or size is None:
                        raise ValueError(
                            f"DV delete entry in snapshot "
                            f"{snap['snapshot-id']} lacks "
                            f"referenced_data_file/content_offset/"
                            f"content_size_in_bytes — required by "
                            f"the v3 spec"
                        )
                    dels.append(
                        {
                            "seq": seq,
                            "ref": str(ref),
                            "spec": (
                                "puffin",
                                _uri_path(str(dfr["file_path"])),
                                int(off),
                                int(size),
                            ),
                        }
                    )
                else:
                    dels.append(
                        {
                            "seq": seq,
                            "ref": None,  # path-keyed parquet deletes
                            "spec": (
                                "parquet",
                                _uri_path(str(dfr["file_path"])),
                            ),
                        }
                    )
            continue
        for e in entries:
            if e.get("status") == 2:
                continue
            dfr = e["data_file"]
            eseq = e.get("sequence_number")
            data[str(dfr["file_path"])] = {
                "seq": int(eseq) if eseq is not None else mseq,
                "spec_id": mf.get("partition_spec_id"),
                "dfr": dfr,
            }
    return data, dels


def _specs_for(dels: list[dict], uri: str, data_seq: int) -> tuple:
    """The delete-source specs applying to a data file: position
    deletes apply at delete_seq >= data_seq (the v2 rule); DV entries
    only when they reference the file, path-keyed parquet always —
    carrying the file's URI, which the executor filters them by. A
    spec is ('parquet', delete path, data file URI) or ('puffin',
    path, offset, size) — a v3 DV blob."""
    return tuple(
        sorted(
            d["spec"] + ((uri,) if d["ref"] is None else ())
            for d in dels
            if d["seq"] >= data_seq
            and (d["ref"] is None or d["ref"] == uri)
        )
    )


class IcebergCdcStreamReader(IcebergStreamReader):
    """The changelog twin of :class:`IcebergStreamReader` — per
    window snapshot, DIFF against its parent exactly like the batch
    ``read_iceberg_changes(include_deletes=True)`` (the two must
    never drift on identical histories): added files stream as
    inserts (deletes already applying at the snapshot dropped, so
    rows killed within their own snapshot never surface), dropped
    files stream their PARENT-live rows as deletes, and a live file
    whose delete state changed streams the position DIFF as deletes
    (a shrinking set — a restore — refuses with the batch's
    cumulative rule). Deletion positions resolve on EXECUTORS
    (parquet filter or Puffin blob decode per slice); the planner
    stays manifest-scale."""

    def _plan(self, start: int, end: int) -> list[Slice]:
        from datetime import datetime, timezone

        meta, window = self._window(start, end)
        project = _projector(meta)
        snaps = meta.get("snapshots") or []
        by_id = {s["snapshot-id"]: s for s in snaps}
        order = [
            s["snapshot-id"]
            for s in sorted(snaps, key=lambda s: s["sequence-number"])
        ]
        state_cache: dict[int, tuple] = {}

        def state_of(sid):
            if sid not in state_cache:
                state_cache[sid] = _live_state(meta, by_id[sid])
            return state_cache[sid]

        slices = []
        for snap in window:
            sid = snap["snapshot-id"]
            parent_id = snap.get("parent-snapshot-id")
            if parent_id not in by_id:
                idx = order.index(sid)
                parent_id = order[idx - 1] if idx > 0 else None
            s_data, s_dels = state_of(sid)
            p_data, p_dels = (
                state_of(parent_id) if parent_id is not None else ({}, [])
            )
            tags = {
                "_snapshot_id": sid,
                "_sequence_number": int(snap["sequence-number"]),
                "_commit_timestamp": datetime.fromtimestamp(
                    int(snap.get("timestamp-ms") or 0) / 1000,
                    tz=timezone.utc,
                ),
            }

            def change(uri, info, ctype, **deletes):
                pvals = project(info["dfr"], info["spec_id"])
                return Slice(
                    _uri_path(uri),
                    {**pvals, "_change_type": ctype, **tags},
                    **deletes,
                )

            for uri, info in s_data.items():
                new = _specs_for(s_dels, uri, info["seq"])
                if uri not in p_data:
                    slices.append(change(uri, info, "insert", drop=new))
                    continue
                old = _specs_for(p_dels, uri, p_data[uri]["seq"])
                if old != new:
                    slices.append(
                        change(uri, info, "delete", diff=(old, new))
                    )
            for uri, info in p_data.items():
                if uri not in s_data:
                    old = _specs_for(p_dels, uri, info["seq"])
                    slices.append(change(uri, info, "delete", drop=old))
        return slices

    def _positions(self, specs):
        import numpy as np

        out = [np.empty(0, dtype=np.int64)]
        for spec in specs:
            if spec[0] == "puffin":
                from interop_datalake_spark.lake.puffin import (
                    read_puffin_dv,
                )

                pos = read_puffin_dv(spec[1], spec[2], spec[3])
            else:
                import pyarrow.compute as pc
                import pyarrow.parquet as pq

                t = pq.read_table(spec[1], columns=["file_path", "pos"])
                t = t.filter(pc.equal(t.column("file_path"), spec[2]))
                pos = t.column("pos").to_pylist()
            out.append(np.asarray(pos, dtype=np.int64))
        return np.unique(np.concatenate(out))

    def _diff(self, s: Slice, old, new):
        import numpy as np

        restored = np.setdiff1d(old, new)
        if len(restored):
            raise ValueError(
                f"delete state for {s.path} SHRANK at snapshot "
                f"{s.constants['_snapshot_id']} ({len(restored)} "
                f"positions restored) — a changelog requires "
                f"cumulative per-file deletes (the batch reader "
                f"refuses the same shape); read full snapshots instead"
            )
        return super()._diff(s, old, new)


class IcebergCdcDataSource(IcebergAppendsDataSource):
    """``spark.readStream.format("iceberg_cdc").option("path", <table
    root>)`` — register with :func:`register_iceberg_source`. Schema
    = the current Iceberg schema's columns + ``_change_type string``
    + ``_snapshot_id bigint`` + ``_sequence_number bigint`` (the
    monotone fold key — snapshot ids are random) +
    ``_commit_timestamp timestamp``."""

    format_name = CDC_FORMAT_NAME
    reader = IcebergCdcStreamReader
    tags = (
        "`_change_type` string",
        "`_snapshot_id` bigint",
        # the MONOTONE ordering column (snapshot ids are random):
        # apply_changes_into / scd2_apply_changes consumers fold on
        # it — sequence_col="_sequence_number"
        "`_sequence_number` bigint",
        "`_commit_timestamp` timestamp",
    )


def read_iceberg_cdc_stream(
    spark,
    path: str,
    starting_after_sequence: int = 0,
    max_snapshots_per_trigger: int | None = None,
):
    """Convenience: a streaming DataFrame over the CHANGELOG of the
    Iceberg table at ``path`` — every snapshot's diff as tagged
    change rows (the retraction-capable sibling of
    :func:`read_iceberg_stream`, matching the batch
    ``read_iceberg_changes(include_deletes=True)`` row for row).
    ``max_snapshots_per_trigger`` bounds every micro-batch's snapshot
    span, exactly as in :func:`read_iceberg_stream`."""
    return _stream(
        spark, IcebergCdcDataSource, path, starting_after_sequence,
        max_snapshots_per_trigger,
    )
