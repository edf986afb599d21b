"""``readStream`` source over a TxnTable change feed — the Delta CDF
``readStream.format("delta")`` analog, built on Spark 4's Python
DataSource API (``pyspark.sql.datasource``).

Offsets are manifest versions: each micro-batch covers the commits in
``(start.version, end.version]`` and its input partitions are the data
FILES those commits added — one :class:`InputPartition` per file, read
on EXECUTORS with pyarrow (Arrow-batched, distributed; this is the
partitioned ``DataSourceStreamReader``, not the driver-side "simple"
reader). Replays are deterministic because a committed version's file
list is immutable — ``partitions(start, end)`` is a pure function of
the log, which is exactly what exactly-once recovery needs.

Together with :meth:`TxnTable.foreach_batch_writer` (the exactly-once
sink, ``lake/txn.py``) this closes the streaming loop: a pipeline can
tail one transactional table and commit into another, with both sides'
progress recorded in manifest commits.

Scale notes: a micro-batch's partition count = files added in the
covered commits, so parallelism tracks the upstream write pattern; the
driver only lists manifests (tiny JSON), never data. Removals are not
emitted (append-oriented feed — rewriting commits re-add their files'
rows; see ``TxnTable.read_changes``).
"""

from __future__ import annotations

import json
from pathlib import Path

from interop_datalake_spark.lake.txn import typed_partition_value
from interop_datalake_spark.streaming.feed import (
    FeedReader,
    FeedSource,
    Slice,
    _stream,
)

FORMAT_NAME = "txntable"

_ARROW_TO_DDL = {
    "bool": "boolean",
    "int8": "tinyint",
    "int16": "smallint",
    "int32": "int",
    "int64": "bigint",
    "float": "float",
    "double": "double",
    "string": "string",
    "large_string": "string",
    "binary": "binary",
    "large_binary": "binary",
    "date32[day]": "date",
}


def _arrow_ddl(arrow_type) -> str:
    s = str(arrow_type)
    if s in _ARROW_TO_DDL:
        return _ARROW_TO_DDL[s]
    if s.startswith("timestamp"):
        return "timestamp"
    if s.startswith("decimal128(") or s.startswith("decimal("):
        return "decimal" + s[s.index("(") :]
    if s.startswith("list<") or s.startswith("large_list<"):
        import pyarrow as pa  # local import: executors pickle this module

        assert isinstance(arrow_type, (pa.ListType, pa.LargeListType))
        return f"array<{_arrow_ddl(arrow_type.value_type)}>"
    raise ValueError(f"unsupported parquet type for txntable source: {s}")


def _latest_version(manifest_dir: Path) -> int:
    if not manifest_dir.exists():
        return 0
    versions = [int(p.stem[1:]) for p in manifest_dir.glob("v*.json")]
    versions += [
        int(p.stem.split("-v")[1]) for p in manifest_dir.glob("ckpt-v*.json")
    ]
    return max(versions, default=0)


class TxnTableStreamReader(FeedReader):
    def __init__(
        self,
        root: str,
        starting_version: int,
        schema,
        max_versions_per_trigger: int | None = None,
    ):
        super().__init__(
            root, schema, starting_version, max_versions_per_trigger
        )
        self.manifest_dir = self.root / "_manifests"

    def _head(self) -> int:
        return _latest_version(self.manifest_dir)

    def _plan(self, start: int, end: int) -> list[Slice]:
        # one slice per added file; partition values are the log's
        # (already unescaped) strings, typed through its recorded DDL
        slices = []
        for v in range(start + 1, end + 1):
            rec = json.loads((self.manifest_dir / f"v{v}.json").read_text())
            ptypes = rec.get("partition_types", {})
            for rel in rec.get("added", []):
                raw = rec.get("partitions", {}).get(rel, {})
                constants = {
                    c: typed_partition_value(
                        raw.get(c), ptypes.get(c, "string")
                    )
                    for c in rec.get("partition_cols", [])
                }
                constants["_commit_version"] = v
                slices.append(Slice(str(self.root / rel), constants))
        return slices


class TxnTableDataSource(FeedSource):
    """``spark.readStream.format("txntable").option("path", root)`` —
    register with :func:`register_txn_source`. Schema = the table's
    data columns (from one data file's parquet footer) + its partition
    columns (typed from the log) + ``_commit_version int``."""

    format_name = FORMAT_NAME
    reader = TxnTableStreamReader
    tags = ("_commit_version int",)

    def _columns(self) -> list[str]:
        import pyarrow.parquet as pq

        root = Path(self._path())
        manifest_dir = root / "_manifests"
        latest = _latest_version(manifest_dir)
        if latest == 0:
            raise FileNotFoundError(f"no committed manifests under {root}")
        # walk back to the newest commit that added files
        first_file, pcols, ptypes = None, [], {}
        for v in range(latest, 0, -1):
            mp = manifest_dir / f"v{v}.json"
            if not mp.exists():
                break
            rec = json.loads(mp.read_text())
            pcols = rec.get("partition_cols", [])
            ptypes = rec.get("partition_types", {})
            if rec.get("added"):
                first_file = root / rec["added"][0]
                break
        if first_file is None:
            # no adding commit in the retained log suffix: take the
            # newest checkpoint's full state
            cks = sorted(
                int(p.stem.split("-v")[1])
                for p in manifest_dir.glob("ckpt-v*.json")
            )
            if not cks:
                raise FileNotFoundError(
                    f"txntable source: no data files recorded under {root}"
                )
            state = json.loads(
                (manifest_dir / f"ckpt-v{cks[-1]}.json").read_text()
            )
            first_file = root / state["files"][0]
            pcols = state.get("partition_cols", [])
            ptypes = state.get("partition_types", {})
        schema = pq.read_schema(first_file)
        parts = [
            f"{f.name} {_arrow_ddl(f.type)}"
            for f in schema
            if f.name not in pcols
        ]
        return parts + [f"{c} {ptypes.get(c, 'string')}" for c in pcols]

    def _reader(self, path, schema, start, cap) -> TxnTableStreamReader:
        return self.reader(path, start, schema, cap)


def register_txn_source(spark) -> None:
    """Idempotently register the ``txntable`` streaming format."""
    spark.dataSource.register(TxnTableDataSource)


def read_txn_stream(
    session,
    table: str,
    starting_version: int = 0,
    max_versions_per_trigger: int | None = None,
):
    """Convenience: a streaming DataFrame tailing ``table``'s change
    feed from ``starting_version`` (exclusive).
    ``max_versions_per_trigger`` bounds EVERY micro-batch (including
    the first of a fresh or restarted run) to that many commits —
    bounded catch-up after downtime instead of one giant batch. Use a
    processing-time trigger for throttled catch-up: AvailableNow
    captures one latestOffset and would stop after a single bounded
    hop (streaming/pacing.py)."""
    return _stream(
        session.spark,
        TxnTableDataSource,
        session.table_path(table),
        starting_version,
        max_versions_per_trigger,
    )
