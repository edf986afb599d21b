"""The one base under the five ``readStream`` sources — ``txntable``
(txn_source.py), ``delta_appends`` / ``delta_cdc`` (delta_source.py)
and ``iceberg_appends`` / ``iceberg_cdc`` (iceberg_source.py), all on
Spark 4's Python DataSource API.

Each source tails an immutable commit log the way the Delta Lake
paper's streaming source does: an offset is one monotone log
position, a micro-batch covers the commits in ``(start, end]``, and
its input partitions are the data files those commits touched — one
:class:`Slice` per file, read on executors as vectorized Arrow batches
(streaming/arrow_yield.py). Replays are deterministic because a
published commit never changes, so ``partitions(start, end)`` is a
pure function of the log.

:class:`FeedReader` owns everything the formats share: the root, the
declared schema, the start offset, the per-trigger cap and its
:class:`~interop_datalake_spark.streaming.pacing.Pacer`,
``initialOffset`` / ``latestOffset`` / ``commit`` / ``partitions``,
one ``read()`` and the per-row ``_read_rows`` witness. A format
supplies its offset ``key``, its ``_head()`` (and ``_cap`` when a cap
is not "base + n"), a ``_plan(start, end)`` listing slices, and — for
the CDC readers — ``_positions(spec)`` decoding a delete spec into
file row positions. :class:`FeedSource` is the matching DataSource
base: the ``path`` check, the start/cap options, the output schema as
the table's columns plus the format's tag columns, and the reader
build; :func:`_stream` is the one ``readStream`` builder.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)


class Slice(InputPartition):
    """One data file's contribution to one micro-batch: its local
    ``path``, the ``constants`` injected as columns (partition values
    and the commit/snapshot tags — never read from the file), and for
    the CDC readers a delete spec: ``drop`` (positions to skip) or
    ``diff`` (``(old, new)``: emit only positions(new) ∖
    positions(old)). A spec is whatever the reader's ``_positions``
    decodes — positions resolve on the EXECUTOR, so the planner stays
    log-scale."""

    def __init__(self, path: str, constants: dict, drop=None, diff=None):
        self.path = path
        self.constants = constants
        self.drop = drop
        self.diff = diff


class FeedReader(DataSourceStreamReader):
    #: the offset dict's key (``{"version": n}`` / ``{"seq": n}``)
    key = "version"

    def __init__(
        self, root: str, schema, start: int, per_trigger: int | None = None
    ):
        from interop_datalake_spark.streaming.pacing import Pacer

        self.root = Path(root)
        self.schema_struct = schema  # declared StructType (picklable)
        self.start = start
        #: rate limit: every micro-batch — the opener of a fresh or
        #: restarted run included — covers at most this many commits;
        #: streaming/pacing.py documents the measured call order that
        #: seeds the base on both run shapes
        self.per_trigger = per_trigger
        self._pacer = Pacer(start)

    # -- format hooks -------------------------------------------------------

    def _head(self) -> int:
        """The newest offset in the log."""
        raise NotImplementedError

    def _cap(self, base: int, n: int) -> int:
        """The furthest offset one trigger may reach from ``base``."""
        return base + n

    def _plan(self, start: int, end: int) -> list[Slice]:
        """The slices of the window ``(start, end]``."""
        raise NotImplementedError

    def _positions(self, spec):
        """A slice's delete spec → sorted int64 file row positions."""
        raise NotImplementedError

    def _diff(self, s: Slice, old, new):
        """The rows a ``diff`` slice emits: newly deleted positions."""
        import numpy as np

        return np.setdiff1d(new, old)

    # -- offsets ------------------------------------------------------------

    def initialOffset(self) -> dict:
        self._pacer.note(self.start)
        return {self.key: self.start}

    def latestOffset(self) -> dict:
        n = self.per_trigger
        head = self._head()
        cap = None if n is None else (lambda base: self._cap(base, n))
        return {self.key: self._pacer.advance(head, cap)}

    def commit(self, end: dict) -> None:
        pass  # the log is immutable; Spark's checkpoint is progress

    # -- planning (driver): log only, never data ----------------------------

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        # restart replay reveals the checkpointed base BEFORE the
        # first latestOffset (measured — streaming/pacing.py)
        self._pacer.note(end[self.key])
        return self._plan(start[self.key], end[self.key])

    # -- execution (executors): one vectorized read per slice ---------------

    def read(self, s: Slice):
        from interop_datalake_spark.streaming.arrow_yield import (
            arrow_batches,
        )

        keep = drop = None
        if s.diff is not None:
            keep = self._diff(s, *map(self._positions, s.diff))
            if len(keep) == 0:
                return
        elif s.drop:
            drop = self._positions(s.drop)
        yield from arrow_batches(
            s.path,
            self.schema_struct,
            s.constants,
            keep_positions=keep,
            drop_positions=drop,
        )

    def _read_rows(self, s: Slice):
        """The per-row tuple path, kept ONLY as the equality witness
        for the vectorized ``read()`` (tests/test_stream_vectorized.py
        pins the two equal); production never calls it."""
        import pyarrow.parquet as pq

        names = [f.name for f in self.schema_struct.fields]
        avail = set(pq.read_schema(s.path).names)
        # data columns BY NAME in output-schema order, so files written
        # with different column orders still line up
        present = [n for n in names if n in avail and n not in s.constants]
        table = pq.read_table(s.path, columns=present)
        cols = {n: table.column(n).to_pylist() for n in present}
        for i in range(table.num_rows):
            yield tuple(
                s.constants[n]
                if n in s.constants
                else (cols[n][i] if n in cols else None)
                for n in names
            )


class FeedSource(DataSource):
    """``spark.readStream.format(<format_name>).option("path", root)``.
    Schema = the table's columns (``_columns``) + the format's tag
    columns."""

    format_name: str
    reader: type[FeedReader]
    #: the option holding the exclusive start offset, and its default
    start_option = "starting_version"
    start_default = 0
    cap_option = "max_versions_per_trigger"
    tags: tuple[str, ...] = ()

    @classmethod
    def name(cls) -> str:
        return cls.format_name

    def _path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError(
                f"{self.name()} source requires "
                f".option('path', <table root>)"
            )
        return path

    def _columns(self) -> list[str]:
        """DDL of the table's own columns."""
        raise NotImplementedError

    def schema(self) -> str:
        return ", ".join([*self._columns(), *self.tags])

    def _reader(self, path: str, schema, start: int, cap: int | None):
        return self.reader(path, schema, start, cap)

    def streamReader(self, schema) -> FeedReader:
        cap = self.options.get(self.cap_option)
        return self._reader(
            self._path(),
            schema,
            int(self.options.get(self.start_option, self.start_default)),
            None if cap is None else int(cap),
        )


def _stream(spark, source: type[FeedSource], path, start, cap):
    """Register ``source`` and open a streaming DataFrame on ``path``
    from offset ``start`` (exclusive), at most ``cap`` commits or
    snapshots per micro-batch."""
    spark.dataSource.register(source)
    reader = (
        spark.readStream.format(source.name())
        .option("path", path)
        .option(source.start_option, start)
    )
    if cap is not None:
        reader = reader.option(source.cap_option, cap)
    return reader.load()
