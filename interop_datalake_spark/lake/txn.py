"""Transactional parquet tables via a manifest log — the lake's one
storage format: every publish, retrieve, merge and compaction goes
through a ``TxnTable``. No Delta/Iceberg runtime is a dependency;
``lake/delta_interop.py`` and ``lake/iceberg_interop.py`` write and
read their public log formats.

This is the table-format design pattern (Delta/Iceberg's core) reduced
to its essentials, Spark-first:

- **data files are written by normal distributed Spark jobs** into
  per-commit unique subdirectories — never modified, never deleted by
  a commit (immutability gives snapshot isolation for free). Tables
  may be Hive-partitioned: data files live under ``key=value`` dirs
  and the manifest records each file's partition values, so reads
  prune by partition BEFORE Spark plans the scan.
- **a commit is one atomic compare-and-swap**: the commit record is
  written to a temp file and *hard-linked* into place as
  ``_manifests/v{N}.json``. ``os.link`` fails with ``FileExistsError``
  if another writer already committed version N — the unique version
  file name IS the CAS token (an object store uses conditional PUT /
  If-None-Match the same way; Delta's commit protocol is exactly
  this on its ``_delta_log``). The linked file is complete before it
  becomes visible, so a crash at ANY point leaves either no v{N}
  (commit never happened) or a whole one (commit happened) — there is
  no torn state and no lost update: of two racing writers exactly one
  wins a given version number. The loser does NOT necessarily fail:
  logically compatible commits (two blind appends; rewrites touching
  disjoint partition sets) are **rebased** onto the new snapshot and
  re-CAS the same data files — the Delta/Iceberg conflict-resolution
  rule, so concurrent per-tenant publishes all succeed. Genuinely
  overlapping rewrites still raise :class:`CommitConflictError`.
- **the log is incremental**: each commit records only files
  added/removed vs its parent; a full-state **checkpoint**
  (``ckpt-v{N}.json``) is written every ``checkpoint_interval``
  commits so reconstructing a snapshot replays a bounded suffix of
  the log, not its whole history — the Delta checkpoint-parquet /
  Iceberg manifest-list idea. Checkpoints are derivable state, never
  the commit point: losing one costs a longer replay, not data.

Scale notes: a commit record holds one entry per file it touches, not
per row; at 100 TB with 256 MB files the active state is ~400k
entries, reconstructed from the latest checkpoint plus at most
``checkpoint_interval`` deltas, read once per query by the driver.
Per-file min/max stats (``stats_cols``) + partition values give
data-skipping reads and file-pruned MERGE/DELETE: a single-tenant
operation rewrites the files whose stats ranges can match, the rest
carry into the new snapshot by reference — zero read, zero write.

Reference parity: this layer sits under the publish/retrieve surface
(``DatalakePublishService.kt:50-90`` batch publish atomicity — its
partial-write caveat at :79-88 is exactly what the manifest commit
removes; ``DatalakeRetrieveServiceTest.kt:37-53`` keyed reads).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from collections import Counter
from contextlib import contextmanager
from datetime import date, datetime, timezone
from decimal import Decimal
from pathlib import Path
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

from interop_datalake_spark.session import DatalakeSession


class CommitConflictError(RuntimeError):
    """The table's latest version moved between snapshot resolution and
    commit — retry against the new snapshot. ``found``: the version the
    pre-CAS check listed; None when the CAS itself lost."""

    def __init__(self, message: str, found: int | None = None):
        super().__init__(message)
        self.found = found


class SchemaEvolutionError(ValueError):
    """An incoming write changes an existing column's type. Adding
    columns is evolution (allowed); changing a type silently corrupts
    every existing file's read, so it must be an explicit migration
    (overwrite with the new schema), never an append side effect."""


#: deletion-vector parquet schema — fixed by _write_dv_vector /
#: consolidate_vectors; passing it to every DV read skips the reader's
#: driver-side footer schema inference (~60 ms per reader build,
#: several builds per merge-on-read lifecycle; round-14 measurement)
_DV_SCHEMA = "file_key STRING, row_idx BIGINT"


def _uri_endswith(uri: str, rel: str) -> bool:
    """True when the URI from input_file_name() names the manifest's
    relative file `rel`. input_file_name() returns a percent-ENCODED
    URI (space → %20, '%' → %25, …), so a raw str.endswith against the
    on-disk relative path fails for any partition value containing a
    URI-reserved character — and a scope/key match that fails here
    silently treats the file as untouched (rows that should be deleted
    survive). Decode the URI's path component before comparing."""
    return unquote(urlparse(uri).path).endswith(rel)


def _stats_encode(v):
    """Canonical JSON encoding for per-file stats values. Dates,
    timestamps and decimals are not JSON-serializable; encode them as
    tagged ISO/decimal strings so commits never fail on a typed stats
    column and pruning compares the original values after decode."""
    if isinstance(v, datetime):
        return {"_t": "ts", "v": v.isoformat()}
    if isinstance(v, date):
        return {"_t": "date", "v": v.isoformat()}
    if isinstance(v, Decimal):
        return {"_t": "dec", "v": str(v)}
    return v


def _stats_decode(v):
    if isinstance(v, dict) and "_t" in v:
        t, s = v["_t"], v["v"]
        if t == "ts":
            return datetime.fromisoformat(s)
        if t == "date":
            return date.fromisoformat(s)
        if t == "dec":
            return Decimal(s)
    return v


def _decode_range(rng):
    return None if rng is None else [_stats_decode(rng[0]), _stats_decode(rng[1])]


def typed_partition_value(s: str | None, ddl: str):
    """A partition value in its canonical (unescaped) string form →
    the Python value of Spark type ``ddl`` (``int``, ``bigint``,
    ``decimal(10,2)``, ``timestamp_ntz``, …) — what a Spark cast of
    the string collects as. ``None`` and the Hive null sentinel are
    NULL. The one converter for the writer's path-encoded stats and
    the stream readers' injected partition columns."""
    if s is None or s == _HIVE_NULL:
        return None
    if ddl in ("int", "bigint", "smallint", "tinyint"):
        return int(s)
    if ddl in ("float", "double"):
        return float(s)
    if ddl == "boolean":
        return s == "true"
    if ddl == "date":
        return date.fromisoformat(s)
    if ddl.startswith("timestamp"):
        return datetime.fromisoformat(s)
    if ddl.startswith("decimal"):
        return Decimal(s)
    return s


def _holds_type(v, ddl: str) -> bool:
    """Whether a Python literal is already a value of Spark type
    ``ddl`` in the form :func:`typed_partition_value` returns, so it
    compares with column values without a cast."""
    if isinstance(v, bool):  # an int subclass: check first
        return ddl == "boolean"
    if isinstance(v, int):
        return ddl in ("tinyint", "smallint", "int", "bigint")
    if isinstance(v, float):
        return ddl in ("float", "double")
    if isinstance(v, Decimal):
        return ddl.startswith("decimal")
    if isinstance(v, datetime):
        return ddl.startswith("timestamp")
    if isinstance(v, date):
        return ddl == "date"
    return isinstance(v, str) and ddl == "string"


def _is_number(v) -> bool:
    return isinstance(v, (int, float, Decimal)) and not isinstance(v, bool)


def _path_col_groups(
    rel_files: list[str], state: dict, log_names: set | None
) -> dict[tuple, list[str]]:
    """A snapshot's files grouped by the columns their paths encode
    (PARTITION EVOLUTION: one group per historical spec, a handful,
    never per file). A file's path-encoded set is the manifest's
    RECORDED keys for that file, intersected with the log schema, NOT
    the current ``partition_cols``: a file written under an older spec
    whose path column was later dropped or replaced must still have
    that column injected from its path (round-5 advice finding).
    Transform columns are HIDDEN and never injected. Order: current-
    spec columns first (``partition_cols`` order), then dropped ones
    by name — stable."""
    pcols = state.get("partition_cols") or []
    parts = state.get("partitions", {})
    tf_names = set(state.get("partition_transforms") or {})
    groups: dict[tuple, list[str]] = {}
    for f in rel_files:
        eligible = {
            c
            for c in parts.get(f, {})
            if c not in tf_names and (log_names is None or c in log_names)
        }
        key = tuple(c for c in pcols if c in eligible) + tuple(
            sorted(eligible - set(pcols))
        )
        groups.setdefault(key, []).append(f)
    return groups


def _arrow_type_matches(got, want) -> bool:
    """Whether a data file's column of Arrow type ``got`` reads as
    ``want`` with no value change: equal types, string/large_string,
    binary/large_binary, or timestamps of one unit and time-zone kind
    (a zone name is metadata). Anything else — nanosecond INT96, a
    narrower integer, another decimal scale — is a schema difference
    the driver read leaves to Spark."""
    import pyarrow.types as pt

    if got == want:
        return True
    if pt.is_timestamp(got) and pt.is_timestamp(want):
        return got.unit == want.unit and (got.tz is None) == (want.tz is None)
    for family in (
        (pt.is_string, pt.is_large_string),
        (pt.is_binary, pt.is_large_binary),
    ):
        if any(p(got) for p in family) and any(p(want) for p in family):
            return True
    return False


def _as_list(want) -> list:
    """A filter value or collection of values as a list."""
    return list(want) if isinstance(want, (list, tuple, set)) else [want]


def _footer_bounds(st, col) -> tuple:
    """(min, max) of one column chunk's footer statistics ``st`` as a
    Spark ``collect`` returns them. Integer-backed decimals (Spark
    writes DECIMAL(p<=18) as INT32/INT64) carry raw unscaled ints that
    pyarrow will not decode — apply the column's scale. UTC-adjusted
    timestamps come back tz-aware; Spark collects naive local time
    (``TimestampType.fromInternal``), so convert the same way — an
    aware bound would not compare with a naive probe."""
    if col.logical_type.type == "DECIMAL" and col.physical_type in (
        "INT32",
        "INT64",
    ):
        return tuple(
            Decimal(v).scaleb(-col.scale) for v in (st.min_raw, st.max_raw)
        )
    return tuple(
        v.astimezone().replace(tzinfo=None)
        if isinstance(v, datetime) and v.tzinfo is not None
        else v
        for v in (st.min, st.max)
    )


def _footer_stats(path: Path, stat_cols: list[str]) -> dict:
    """One written data file's manifest stats entry — ``{"rows": n,
    <col>: [min, max], ...}`` — read from its parquet FOOTER: the one
    stats source for both writers, O(files) driver metadata reads and
    no second scan of the data. Strings compare identically (python
    code-point order == UTF-8 byte order == parquet's unsigned order
    == Spark's UTF8String order). A column whose footer withholds
    bounds while it holds non-null values (an INT96 timestamp from a
    foreign session, an oversized string) records nothing, so pruning
    always scans the file — a wider bound is always safe; an all-null
    column records ``[None, None]``. Callers keep float/double columns
    out: a NaN bound cannot be compared safely."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    entry: dict = {"rows": md.num_rows}
    if not md.num_rows:
        return entry
    mins: dict = {}
    maxs: dict = {}
    bad: set = set()
    for rgi in range(md.num_row_groups):
        rg = md.row_group(rgi)
        for ci in range(rg.num_columns):
            name = rg.column(ci).path_in_schema
            if name not in stat_cols or name in bad:
                continue
            st = rg.column(ci).statistics
            if st is None or (not st.has_min_max and st.num_values):
                bad.add(name)  # bounds withheld for non-null values
                continue
            if not st.has_min_max:
                continue  # an all-null chunk cannot move min/max
            try:
                lo, hi = _footer_bounds(st, md.schema.column(ci))
            except (NotImplementedError, ValueError, OverflowError):
                bad.add(name)  # pyarrow cannot decode them (INT96, …)
                continue
            if name not in mins or lo < mins[name]:
                mins[name] = lo
            if name not in maxs or hi > maxs[name]:
                maxs[name] = hi
    for c in stat_cols:
        if c not in bad:
            entry[c] = [_stats_encode(mins.get(c)), _stats_encode(maxs.get(c))]
    return entry


def _epoch_applied(state: dict, epoch: int | None) -> bool:
    """Whether ``epoch`` is at or behind the snapshot's applied epoch
    watermark: the commit is a streaming replay, a no-op."""
    return (
        epoch is not None
        and state["epoch"] is not None
        and epoch <= state["epoch"]
    )


def _run_starts(keys) -> list[int]:
    """Start offsets of the runs of equal rows in a sorted Arrow
    table (NULL equals NULL) — native compares, no per-row Python."""
    import pyarrow.compute as pc

    n = keys.num_rows
    if n < 2:
        return [0]
    cuts = None
    for col in keys.itercolumns():
        a, b = col.slice(1), col.slice(0, n - 1)
        ne = pc.fill_null(
            pc.or_kleene(
                pc.not_equal(a, b), pc.xor(pc.is_null(a), pc.is_null(b))
            ),
            False,
        )
        cuts = ne if cuts is None else pc.or_(cuts, ne)
    return [0] + [i + 1 for i in pc.indices_nonzero(cuts).to_pylist()]


# -- bounded-commit driver write (round-15 optimization) -------------------
#
# The single highest fixed cost left in a lifecycle commit after the
# round-14 committer knobs is the distributed write JOB itself: a tiny
# commit frame pays ~125 ms of FileFormatWriter/commit-protocol/parquet
# -writer setup where the same plan through the noop sink costs ~34 ms
# (round-14 calibration). For a BOUNDED commit frame the cheapest
# correct execution is: run the plan once (one Arrow collect) and
# write the parquet files on the driver with pyarrow — one Spark job
# instead of a write job, identical on-disk layout. Stats are not a
# second path: both writers' files get their per-file stats and row
# counts from their parquet footers (_footer_stats).
#
# Scale discipline (guide §5: the driver does no DATA work): the path
# is bounded by ``spark.interop.datalake.driverCommit.maxBytes``
# (default 32 MB, conf-tunable, 0 disables) at two points.
# - Before the collect, the frame must look bounded. Either Catalyst's
#   own size estimate — the same estimate the session already trusts
#   for 64 MB auto-broadcasts — is under the cap, or, when a leaf has
#   no estimate, every leaf is DRIVER-RESIDENT (_driver_resident): a
#   LocalRelation, or a LogicalRDD whose lineage has one
#   ParallelCollectionRDD root. Those are rows that already live in
#   driver memory (``createDataFrame`` of a Python list, pandas or
#   Arrow — every publish batch), so collecting them moves nothing
#   new onto the driver, and the one full-drain collect also lets the
#   Python worker that unpickles them be reused instead of killed.
#   Every other unknown leaf (checkpoints, file-backed RDDs, unions
#   of RDDs) keeps the distributed writer.
# - After the collect, the Arrow table itself must fit under the cap
#   (``tbl.nbytes``); a frame that grew past it (a fan-out join, a
#   large Python list) is dropped and the distributed writer runs.
# A 100 TB table's data writes blow the estimate and take the
# distributed writer unchanged; what stays on the driver is the
# metadata-sized commit traffic (publish batches, IVM refresh deltas,
# stream micro-batches, witness fixtures) that was paying a cluster
# job per handful of rows. File-splitting semantics are
# preserved exactly: one stable sort on ``spark_partition_id()`` (+
# layout values) and one file per run of equal keys, rows in input
# order, so file counts/contents match what the distributed writer
# produces for the same execution.
#
# The same cap bounds the keyed DRIVER READ (TxnTable._driver_read),
# the read-side twin: a pruned lookup whose manifest-resolved files
# total at most the cap on disk, and whose Arrow result stays under
# it, is read by pyarrow on the driver with no Spark job. 0 disables
# it too, so every read plans a Spark scan.

_DRIVER_COMMIT_MAX_BYTES_KEY = "spark.interop.datalake.driverCommit.maxBytes"
_DRIVER_COMMIT_MAX_BYTES_DEFAULT = str(32 * 1024 * 1024)

#: layout-column dtypes the driver writer can path-encode with byte-
#: identical results to Spark's Hive escaping. Conservative: values
#: must additionally match _PATH_SAFE_VALUE (no escaping needed) or
#: be NULL (the Hive sentinel); anything else falls back to the
#: distributed writer. Booleans/floats/timestamps are excluded —
#: their to-string forms differ between Python and Spark.
_PATH_SAFE_LAYOUT_TYPES = {"string", "tinyint", "smallint", "int", "bigint", "date"}
#: characters Spark's Hive escaper percent-encodes in partition dir
#: names — the EXACT set probed on this build by writing every ASCII
#: char through partitionBy (2026-08-18): control chars + DEL and
#: `"#%'*/:=?[\]^{` escape as %XX (uppercase hex); space , + & ( ) !
#: @ ~ ; < > $ | } ` and non-ASCII write VERBATIM; the empty string
#: writes the null sentinel.
_PATH_ESCAPED_CHARS = set('"#%\'*/:=?\\{[]^\x7f') | {chr(c) for c in range(0x20)}
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


_LEAF_SIZE_CAP = 1 << 50  # any leaf past 1 PiB estimate = "unknown/huge"


def _plan_size_estimate(df) -> int | None:
    """Upper-bound byte estimate for a write frame: the SUM of its
    analyzed plan's LEAF sizeInBytes — the same per-relation statistic
    the planner feeds auto-broadcast decisions (file scans report real
    file bytes; LocalRelations their literal size). The sum of inputs,
    not Catalyst's whole-plan stats: non-CBO join stats multiply the
    sides, so any commit frame containing a join (every IVM scoped
    merge) would report petabytes for kilobyte inputs. The commit
    shapes written here (filters, anti-join rewrites, unions, FK
    joins, aggregations) emit at most ~their input bytes; a
    pathological fan-out past the inputs is caught by the driver
    write's post-collect cap, which falls back to the
    distributed writer. Unknown leaves (LogicalRDD, checkpoints)
    report defaultSizeInBytes ≈ Long.Max and return None; the caller
    then admits the frame only if :func:`_driver_resident` holds.
    Analysis has already run (DataFrames analyze eagerly), so this is
    a tree walk, not an optimizer pass."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        total = 0
        for i in range(leaves.size()):
            # py4j maps the scala BigInt straight to a Python int
            s = int(leaves.apply(i).stats().sizeInBytes())
            if s >= _LEAF_SIZE_CAP:
                return None
            total += s
        return total
    except Exception:
        return None


def _driver_resident(df) -> bool:
    """True when every analyzed-plan leaf holds rows that already
    live in driver memory: a LocalRelation, or a LogicalRDD whose RDD
    lineage has exactly one root and that root is a
    ParallelCollectionRDD (``createDataFrame`` of a Python list,
    pandas or Arrow, and ``parallelize``). Checkpoints, file-backed
    RDDs and unions of RDDs are not. A few py4j calls per RDD of the
    lineage; no Spark job."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            kind = leaf.getClass().getSimpleName()
            if kind == "LocalRelation":
                continue
            if kind != "LogicalRDD":
                return False
            roots, stack, seen = [], [leaf.rdd()], set()
            while stack:
                rdd = stack.pop()
                if rdd.id() in seen:
                    continue
                seen.add(rdd.id())
                deps = rdd.dependencies()
                if deps.size() == 0:
                    roots.append(rdd.getClass().getSimpleName())
                for j in range(deps.size()):
                    stack.append(deps.apply(j).rdd())
            if roots != ["ParallelCollectionRDD"]:
                return False
        return True
    except Exception:
        return False


def _part_dir_value(v) -> str | None:
    """The Hive directory string Spark's writer would produce for a
    layout value, or None when we cannot guarantee byte identity
    (caller falls back to the distributed writer). Strings escape
    exactly like Spark's Hive escaper (probe-derived set above);
    NULL and the empty string map to the Hive null sentinel —
    both probe-verified against Spark's own partitionBy output."""
    if v is None:
        return _HIVE_NULL
    if isinstance(v, bool):  # bool is an int subclass — refuse first
        return None
    if isinstance(v, int):
        return str(v)
    if isinstance(v, str):
        if not v:
            return _HIVE_NULL
        return "".join(
            f"%{ord(ch):02X}" if ch in _PATH_ESCAPED_CHARS else ch
            for ch in v
        )
    if isinstance(v, date) and not isinstance(v, datetime):
        return v.isoformat()
    return None


# -- partition transforms (hidden partitioning) ---------------------------
#
# Iceberg's partition-transform model (Iceberg table spec, "Partition
# Transforms"; the reference's `_date=<ingest date>` layout,
# DatalakePublishService.kt:68-73, is days(ingest_ts) hand-rolled):
# the table SPEC declares derived partition values — days(ts),
# bucket(n, id), truncate(w, col) — the WRITER computes them from raw
# columns at write time, and the READER prunes on predicates over the
# RAW column without ever knowing the layout. The derived column is
# HIDDEN: it exists only in the directory structure and the manifest,
# never in the data files' schema or the read-back frame — so query
# authors at 100 TB filter `ts BETWEEN x AND y` and still touch one
# day's files, with no fragile `AND ts_day = date(x)` duplication.

#: transforms whose output ordering matches the source ordering — the
#: ones range predicates can prune through. bucket() is intentionally
#: absent: it only prunes point lookups (lo == hi).
_ORDER_PRESERVING = {"identity", "truncate", "days", "months", "years", "hours"}

_TIME_FORMATS = {
    "days": "yyyy-MM-dd",
    "months": "yyyy-MM",
    "years": "yyyy",
    "hours": "yyyy-MM-dd-HH",
}


_M32 = 0xFFFFFFFF


def _mul32(a, b_const: int):
    """(a * b_const) mod 2^32 for a non-negative 32-bit Column and a
    32-bit constant WITHOUT overflowing BIGINT (Spark 4 ANSI mode
    throws on overflow; 0xFFFFFFFF * 0xcc9e2d51 > 2^63): split ``a``
    into 16-bit halves so every intermediate stays < 2^49."""
    from pyspark.sql import functions as F

    hi = F.shiftright(a, 16) * F.lit(b_const)
    lo = a.bitwiseAND(F.lit(0xFFFF)) * F.lit(b_const)
    return (
        F.shiftleft(hi.bitwiseAND(F.lit(0xFFFF)), 16) + lo
    ).bitwiseAND(F.lit(_M32))


def _rotl32(x, r: int):
    """Rotate a non-negative 32-bit Column left by ``r`` bits."""
    from pyspark.sql import functions as F

    return (
        F.shiftleft(x, r)
        .bitwiseAND(F.lit(_M32))
        .bitwiseOR(F.shiftright(x, 32 - r))
    )


def _mmh3_32_of_long(c64):
    """murmur3_x86_32(seed=0) of a BIGINT Column's 8-byte
    LITTLE-ENDIAN representation — the Iceberg spec's required hash
    for bucket transforms over int/long/date/time/timestamp sources
    (Appendix B; ints promote to long before hashing). Pure column
    algebra, JVM-side, no UDF: the two 4-byte LE blocks are the
    long's low and high 32 bits, and 32-bit modular arithmetic is
    emulated with masked BIGINT ops (``_mul32``). Spark's built-in
    ``F.hash`` is also murmur3-x86-32 but fixes seed=42 and hashes
    Spark's value layout, so it cannot produce spec values.

    STRUCTURE MATTERS: naively chaining these steps as one expression
    duplicates every intermediate subtree at each rotate/xorshift
    (each references its input twice), compounding to a ~10^5-node
    tree that OOMs codegen. The block loop and the final
    finalization-mix therefore run inside higher-order-function
    lambdas (``F.aggregate``), where each step's input is a LAMBDA
    VARIABLE — a leaf reference, not a copied subtree — keeping the
    whole expression a few hundred nodes.

    NOT for TxnTable's own hot bucket path — that stays ``xxhash64``
    (one JVM intrinsic); this exists so ``bucket_mm3`` layouts can
    EXPORT to Iceberg, where a compliant engine recomputes exactly
    this function when pruning."""
    from pyspark.sql import functions as F

    def round_fn(h, k):
        # h, k are lambda variables: leaves, duplication is cheap
        k = _mul32(k, 0xCC9E2D51)
        k = _rotl32(k, 15)
        k = _mul32(k, 0x1B873593)
        h = h.bitwiseXOR(k)
        h = _rotl32(h, 13)
        return (_mul32(h, 5) + F.lit(0xE6546B64)).bitwiseAND(
            F.lit(_M32)
        )

    def fmix(_, h):
        h = h.bitwiseXOR(F.lit(8))  # total byte length
        h = h.bitwiseXOR(F.shiftright(h, 16))
        h = _mul32(h, 0x85EBCA6B)
        h = h.bitwiseXOR(F.shiftright(h, 13))
        h = _mul32(h, 0xC2B2AE35)
        return h.bitwiseXOR(F.shiftright(h, 16))

    blocks = F.array(
        c64.bitwiseAND(F.lit(_M32)),
        F.shiftright(c64, 32).bitwiseAND(F.lit(_M32)),
    )
    h = F.aggregate(blocks, F.lit(0).cast("bigint"), round_fn)
    # single-element aggregate: the block-loop tree appears ONCE as
    # the array element; fmix references it only through its lambda
    # variable
    return F.aggregate(
        F.array(h), F.lit(0).cast("bigint"), fmix
    )  # unsigned 32-bit value in a BIGINT


def _mmh3_32_of_bytes(cbin):
    """murmur3_x86_32(seed=0) of a BINARY Column's VARIABLE-length
    bytes — the Iceberg spec's required hash for bucket transforms
    over string (UTF-8 bytes) and binary sources. Pure column
    algebra, JVM-side, no UDF: the bytes are exposed as hex ONCE
    (``F.hex`` — two chars per byte, byte order preserved), the
    4-byte little-endian words are assembled inside an
    ``F.transform`` over a guarded ``F.sequence`` (byte-pair shuffle
    + ``conv`` base-16), the block loop runs in the same
    ``F.aggregate`` lambda shape as :func:`_mmh3_32_of_long` (lambda
    variables keep the tree small — see that docstring's STRUCTURE
    MATTERS note), and the 0–3 tail bytes + length are folded in the
    single-element finalization aggregate. Verified against the
    pure-Python reference (which itself reproduces the Iceberg
    Appendix-B ``"iceberg" → 1210000089`` vector)."""
    from pyspark.sql import functions as F

    hx = F.hex(cbin)  # cheap subtree: one node over the source
    n = F.length(cbin)
    nblocks = F.floor(n / F.lit(4)).cast("int")

    def le_word(i):
        # hex offset of block i's first byte, 1-based substr
        p = i * F.lit(8) + F.lit(1)
        return F.conv(
            F.concat(
                hx.substr(p + F.lit(6), F.lit(2)),
                hx.substr(p + F.lit(4), F.lit(2)),
                hx.substr(p + F.lit(2), F.lit(2)),
                hx.substr(p, F.lit(2)),
            ),
            16,
            10,
        ).cast("bigint")

    # sequence(1, 0) would count DOWN — guard the empty-block case
    words = F.when(
        nblocks >= F.lit(1),
        F.transform(
            F.sequence(F.lit(0), nblocks - F.lit(1)), le_word
        ),
    ).otherwise(F.array().cast("array<bigint>"))

    def round_fn(h, k):
        k = _mul32(k, 0xCC9E2D51)
        k = _rotl32(k, 15)
        k = _mul32(k, 0x1B873593)
        h = h.bitwiseXOR(k)
        h = _rotl32(h, 13)
        return (_mul32(h, 5) + F.lit(0xE6546B64)).bitwiseAND(
            F.lit(_M32)
        )

    tp = nblocks.cast("bigint") * F.lit(8)  # hex chars consumed

    def tail_byte(idx):
        return F.conv(
            hx.substr(tp + F.lit(2 * idx + 1), F.lit(2)), 16, 10
        ).cast("bigint")

    r = n % F.lit(4)
    k1 = (
        F.when(r == F.lit(0), F.lit(0).cast("bigint"))
        .when(r == F.lit(1), tail_byte(0))
        .when(
            r == F.lit(2),
            tail_byte(0) + F.shiftleft(tail_byte(1), 8),
        )
        .otherwise(
            tail_byte(0)
            + F.shiftleft(tail_byte(1), 8)
            + F.shiftleft(tail_byte(2), 16)
        )
    )
    # tail mix: k1=0 (r=0) is an exact no-op (0*c1=0, h^0=h)
    k1 = _mul32(k1, 0xCC9E2D51)
    k1 = _rotl32(k1, 15)
    k1m = _mul32(k1, 0x1B873593)

    def fmix(_, h):
        # h is the LAMBDA VARIABLE: the xorshift/multiply chain may
        # double it per step, but a leaf doubles cheaply. The k1m/
        # length xors happen OUTSIDE, in the array element — folding
        # them in here would embed those REAL subtrees and the
        # doubling would copy them 2^5 times (measured: ~2.5s of
        # Catalyst analysis per expression, 13s appends)
        h = h.bitwiseXOR(F.shiftright(h, 16))
        h = _mul32(h, 0x85EBCA6B)
        h = h.bitwiseXOR(F.shiftright(h, 13))
        h = _mul32(h, 0xC2B2AE35)
        return h.bitwiseXOR(F.shiftright(h, 16))

    h = F.aggregate(words, F.lit(0).cast("bigint"), round_fn)
    mixed_in = h.bitwiseXOR(k1m).bitwiseXOR(n.cast("bigint"))
    return F.aggregate(
        F.array(mixed_in), F.lit(0).cast("bigint"), fmix
    )


#: source types bucket_mm3 accepts via the hash-the-long class of the
#: Iceberg spec. Strings/binary hash variable-length byte runs
#: (UTF-8 / raw) via _mmh3_32_of_bytes; decimal (minimal big-endian
#: twos-complement of the unscaled value) stays refused — a wrong
#: layout is one a compliant engine would mis-prune.
_MM3_LONG_TYPES = {
    "tinyint", "smallint", "int", "bigint", "date", "timestamp",
    "timestamp_ntz",
}


def _mm3_long_source_expr(c, src_dtype: str | None):
    """The BIGINT whose 8 LE bytes the Iceberg spec says to hash:
    ints/longs promote to long; dates hash their DAYS-from-epoch as a
    long; timestamps hash MICROS-from-epoch as a long."""
    from pyspark.sql import functions as F

    if src_dtype == "date":
        return F.unix_date(c).cast("bigint")
    if src_dtype in ("timestamp", "timestamp_ntz"):
        return F.unix_micros(c.cast("timestamp"))
    if src_dtype in ("tinyint", "smallint", "int", "bigint", None):
        return c.cast("bigint")
    raise ValueError(
        f"bucket_mm3 source type {src_dtype!r} is not in the "
        f"long-hash class ({sorted(_MM3_LONG_TYPES)}) nor the "
        f"byte class (string/binary); decimal needs minimal "
        f"big-endian twos-complement hashing, which is refused "
        f"rather than risking a layout a compliant engine would "
        f"mis-prune — use xxhash64 'bucket' (no Iceberg export) or "
        f"an identity/truncate transform"
    )


def _transform_value_expr(c, spec, src_dtype: str | None):
    """The Column computing a transform's partition VALUE from a source
    expression ``c`` (a raw column at write time, a literal at prune
    time). ``src_dtype`` is the source column's table type: literals
    are CAST to it before hashing because ``xxhash64(INT 5)`` and
    ``xxhash64(BIGINT 5)`` differ — an uncast Python literal would
    bucket-prune live files (the same rule as the bloom probe path).
    Time transforms emit ISO-prefix STRINGS, whose lexicographic order
    equals chronological order — so recorded path values range-compare
    correctly without a type system in the manifest."""
    from pyspark.sql import functions as F

    kind = spec[0]
    if src_dtype is not None:
        c = c.cast(src_dtype)
    if kind == "identity":
        return c
    if kind in _TIME_FORMATS:
        return F.date_format(c.cast("timestamp"), _TIME_FORMATS[kind])
    if kind == "bucket":
        return F.pmod(F.xxhash64(c), F.lit(int(spec[1])))
    if kind == "bucket_mm3":
        # Iceberg-spec bucket[N]: (murmur3_x86_32(bytes) &
        # Integer.MAX_VALUE) % N — EXPORTABLE, a compliant engine's
        # bucket pruning recomputes the same values (vs xxhash64
        # 'bucket', which refuses export). Long class hashes the
        # 8-byte LE value; strings hash UTF-8 bytes, binary raw bytes.
        if src_dtype == "string":
            h = _mmh3_32_of_bytes(F.encode(c, "UTF-8"))
        elif src_dtype == "binary":
            h = _mmh3_32_of_bytes(c)
        else:
            h = _mmh3_32_of_long(_mm3_long_source_expr(c, src_dtype))
        return F.pmod(
            h.bitwiseAND(F.lit(0x7FFFFFFF)), F.lit(int(spec[1]))
        ).cast("int")
    if kind == "truncate":
        w = int(spec[1])
        if src_dtype == "string":
            return F.substring(c, 1, w)
        cb = c.cast("bigint")
        return cb - F.pmod(cb, F.lit(w))  # floor-to-width, negatives too
    raise ValueError(f"unknown partition transform {spec!r}")


#: built transform Column expressions, keyed by (applicationId, input
#: column name, spec, source dtype). The bucket_mm3 expression is ~800
#: py4j round-trips to BUILD (the murmur3 column algebra constructs
#: dozens of nested lambda expressions — measured ~0.2 s per build,
#: ~3.3 s of a 4.2 s bucket-witness run when rebuilt per probe, round
#: 15); the Column is an immutable unresolved expression tree over a
#: named attribute, so one build serves every frame carrying that
#: column name for the life of the application.
_TRANSFORM_EXPR_CACHE: dict[tuple, object] = {}


def _cached_transform_expr(spark, colname: str, spec, src_dtype: str | None):
    from pyspark.sql import functions as F

    key = (
        spark.sparkContext.applicationId,  # new app = new JVM state
        colname,
        tuple(spec),
        src_dtype,
    )
    expr = _TRANSFORM_EXPR_CACHE.get(key)
    if expr is None:
        if len(_TRANSFORM_EXPR_CACHE) > 512:  # tables × specs bound
            _TRANSFORM_EXPR_CACHE.clear()
        expr = _transform_value_expr(F.col(colname), spec, src_dtype)
        _TRANSFORM_EXPR_CACHE[key] = expr
    return expr


#: literal-probe column type for _transform_literals' batched
#: evaluation — the type F.lit() inference and this mapping agree on
#: AFTER the expression's own cast-to-source-type normalizes it; bool/
#: Decimal/None stay on the per-literal path (bool is an int subclass,
#: checked first).
def _probe_sql_type(v) -> str | None:
    if v is None or isinstance(v, bool):
        return None
    if isinstance(v, int):
        return "bigint"
    if isinstance(v, float):
        return "double"
    if isinstance(v, str):
        return "string"
    if isinstance(v, datetime):
        return "timestamp"
    if isinstance(v, date):
        return "date"
    return None


def _normalize_key_ranges(key_range):
    """``key_range`` accepts one ``(col, lo, hi)`` tuple OR list, or a
    sequence of them (composite-key pruning: every range must
    intersect). The single-vs-many call is decided by element shape —
    a single range's first element is the column NAME — so the
    historical ``['col', lo, hi]`` list spelling keeps working."""
    if key_range is None:
        return []
    kr = list(key_range)
    if len(kr) == 3 and isinstance(kr[0], str):
        return [tuple(kr)]
    return [tuple(r) for r in kr]


def _canon_transform_bound(x):
    """Canonicalize a computed transform bound for comparison against
    recorded path-string partition values. Timestamps/dates become
    their default string rendering (the same 'yyyy-MM-dd HH:mm:ss'
    shape Hive path-encodes, and lexicographic order matches time
    order there). Types with no safe string ordering return None —
    the caller then skips pruning on that transform entirely rather
    than risking a typed-vs-string comparison (review finding: an
    identity transform over a timestamp raised TypeError on every
    predicated read)."""
    if x is None or isinstance(x, bool):
        return None
    if isinstance(x, int) or isinstance(x, str):
        return x
    if isinstance(x, (datetime, date)):
        return str(x)
    return None


def _part_value_matches(raw, sample):
    """Parse a recorded path-string partition value into the type of a
    computed transform literal (``sample``) so comparisons are typed —
    "9" must sort below "100" for numeric transforms. Returns None
    (= cannot compare, caller must KEEP the file) for NULL partitions
    (__HIVE_DEFAULT_PARTITION__) or unparseable values: pruning may
    only ever drop files it can PROVE are out of range."""
    if raw is None or raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    if isinstance(sample, int):
        try:
            return int(raw)
        except ValueError:
            return None
    return raw


class TxnTable:
    """A manifest-committed parquet table rooted at
    ``session.table_path(name)``.

    ``stats_cols``: columns whose per-file min/max get recorded in the
    manifest at write time — the data-skipping metadata that lets
    :meth:`read`/:meth:`merge`/:meth:`delete_where` touch only
    intersecting files. Pick the merge/lookup key columns.

    ``partition_cols``: Hive partition columns; data files are written
    under ``key=value`` directories and each file's partition values
    are recorded in the manifest, so :meth:`read` with
    ``partition_filter`` prunes by directory semantics (the reference's
    tenant/date layout, ``DatalakePublishService.kt:68-73``). A handle
    opened without ``partition_cols`` discovers them from the log.
    """

    #: largest vectored-file count whose names still inline as a
    #: literal IN on the vector scan (the pre-join subset
    #: filter); beyond this the predicate would bloat the plan, so
    #: the join runs unfiltered under AQE
    _DV_FILTER_MAX_FILES = 4_096

    def __init__(
        self,
        session: DatalakeSession,
        name: str,
        stats_cols: list[str] | None = None,
        partition_cols: list[str] | None = None,
        checkpoint_interval: int = 10,
        bloom_cols: list[str] | None = None,
        bloom_bits: int = 4096,
        partition_transforms: dict[str, tuple] | None = None,
    ):
        self.session = session
        self.spark = session.spark
        self.name = name
        self.stats_cols = list(stats_cols or [])
        self.partition_cols = list(partition_cols or [])
        #: HIDDEN partitioning (Iceberg partition transforms): name →
        #: ("days"|"months"|"years"|"hours", src) or ("bucket", n, src)
        #: or ("bucket_mm3", n, src) — the Iceberg-spec murmur3-32
        #: bucket, exportable to bucket[N] (xxhash64 "bucket" is
        #: faster but refuses export) —
        #: or ("truncate", w, src) or ("identity", src). Writers derive
        #: the value, readers prune raw-column predicates through it
        #: (see resolve_files), and the derived column never appears in
        #: the data or read-back schema. Recorded in the log, so a
        #: handle opened without the spec discovers it.
        self.partition_transforms = {
            k: list(v) for k, v in (partition_transforms or {}).items()
        }
        self.checkpoint_interval = max(1, checkpoint_interval)
        #: per-file Bloom indexes (Delta bloom-filter-index analog) for
        #: point lookups on HIGH-CARDINALITY, UNCLUSTERED columns where
        #: min/max stats are useless (every file's range spans the
        #: domain). k=2 xxhash64 probes into ``bloom_bits`` positions;
        #: the per-file set of occupied positions rides in the commit
        #: record next to the min/max stats (sparse int list, capped —
        #: an over-full bloom degrades to 'always scan', never to a
        #: false negative) and flows through restore/clone/rebase for
        #: free because it IS stats.
        self.bloom_cols = list(bloom_cols or [])
        self.bloom_bits = int(bloom_bits)
        self.root = Path(session.table_path(name))
        self._manifest_dir = self.root / "_manifests"
        self._state_cache: dict[int, dict] = {}

    # -- log resolution -----------------------------------------------------

    def current_version(self) -> int:
        """Latest committed version = max version present in the log
        (commit records + checkpoints); 0 = empty table. This is the
        Delta resolution rule (list ``_delta_log``, take max N) — there
        is no separate pointer file to race on."""
        if not self._manifest_dir.exists():
            return 0
        versions = [
            int(p.stem[1:]) for p in self._manifest_dir.glob("v*.json")
        ]
        versions += [
            int(p.stem.split("-v")[1])
            for p in self._manifest_dir.glob("ckpt-v*.json")
        ]
        return max(versions, default=0)

    def _manifest_path(self, version: int) -> Path:
        return self._manifest_dir / f"v{version}.json"

    def _checkpoint_path(self, version: int) -> Path:
        return self._manifest_dir / f"ckpt-v{version}.json"

    def commit_record(self, version: int) -> dict:
        """The raw (incremental) commit record for one version."""
        return json.loads(self._manifest_path(version).read_text())

    def _empty_state(self) -> dict:
        return {
            "version": 0,
            "parent": None,
            "files": [],
            "rows": 0,
            "stats": {},
            "partitions": {},
            "partition_cols": list(self.partition_cols),
            "partition_types": {},
            "partition_transforms": {
                k: list(v) for k, v in self.partition_transforms.items()
            },
            "dvs": {},
            "dv_deleted": {},
            "schema": None,
            "epoch": None,
        }

    def _state(self, version: int) -> dict:
        """Reconstruct the full snapshot state at ``version``: start
        from the newest checkpoint ≤ version, replay the delta records
        after it. Bounded by ``checkpoint_interval`` replays."""
        if version == 0:
            return self._empty_state()
        cached = self._state_cache.get(version)
        if cached is not None:
            return cached
        ckpt_versions = sorted(
            int(p.stem.split("-v")[1])
            for p in self._manifest_dir.glob("ckpt-v*.json")
            if int(p.stem.split("-v")[1]) <= version
        )
        if ckpt_versions:
            start = ckpt_versions[-1]
            state = json.loads(self._checkpoint_path(start).read_text())
        else:
            start = 0
            state = self._empty_state()
        for v in range(start + 1, version + 1):
            rec = self.commit_record(v)  # FileNotFoundError if vacuumed
            removed = set(rec.get("removed", []))
            files = [f for f in state["files"] if f not in removed]
            files += rec.get("added", [])
            stats = {
                f: s for f, s in state["stats"].items() if f not in removed
            }
            stats.update(rec.get("stats", {}))
            parts = {
                f: p
                for f, p in state["partitions"].items()
                if f not in removed
            }
            parts.update(rec.get("partitions", {}))
            # DELETION VECTORS: a file's DV list dies with the file
            # (compact/merge/delete rewrites produce clean files); a
            # "dv" commit appends its vector to each touched file; a
            # restore's "dv_reset" replaces the whole mapping with the
            # target snapshot's (files re-added by restore must get
            # their OLD vectors back, not none and not later ones)
            dvs = {
                f: list(v)
                for f, v in (state.get("dvs") or {}).items()
                if f not in removed
            }
            dv_deleted = {
                f: n
                for f, n in (state.get("dv_deleted") or {}).items()
                if f not in removed
            }
            if "dv_reset" in rec:
                dvs = {
                    f: list(v)
                    for f, v in rec["dv_reset"].get("dvs", {}).items()
                }
                dv_deleted = dict(rec["dv_reset"].get("deleted", {}))
            elif "dv" in rec:
                for f, n in rec["dv"]["files"].items():
                    dvs.setdefault(f, []).append(rec["dv"]["path"])
                    dv_deleted[f] = dv_deleted.get(f, 0) + int(n)
            state = {
                "version": v,
                "parent": rec.get("parent"),
                "files": files,
                "rows": rec.get("rows_total", state["rows"]),
                "stats": stats,
                "partitions": parts,
                "partition_cols": rec.get(
                    "partition_cols", state.get("partition_cols", [])
                ),
                "partition_types": rec.get(
                    "partition_types", state.get("partition_types", {})
                )
                or state.get("partition_types", {}),
                "partition_transforms": rec.get(
                    "partition_transforms",
                    state.get("partition_transforms", {}),
                )
                or state.get("partition_transforms", {}),
                "dvs": dvs,
                "dv_deleted": dv_deleted,
                "schema": rec.get("schema", state.get("schema")),
                "epoch": rec["epoch"] if "epoch" in rec else state["epoch"],
            }
        self._state_cache[version] = state
        return state

    def manifest(self, version: int | None = None) -> dict:
        """Full snapshot state (files/rows/stats/partitions/epoch) at a
        version (default: latest)."""
        v = self.current_version() if version is None else version
        return self._state(v)

    def files(self, version: int | None = None) -> list[str]:
        """Absolute data-file paths of a snapshot."""
        return [str(self.root / f) for f in self.manifest(version)["files"]]

    # -- schema evolution ---------------------------------------------------

    def _merge_schema(self, base_state: dict, df) -> str:
        """Merge an incoming write's schema into the table schema
        (Delta's mergeSchema-on by default): new columns append at the
        end; existing columns must keep their exact type (nullability
        aside) or :class:`SchemaEvolutionError` raises. Returns the
        merged schema as Spark schema JSON — the log's authoritative
        schema, which the read path applies so files written BEFORE a
        column existed read it as NULL (no file rewrite on evolution:
        adding a column to a 100 TB table is a metadata-only commit).

        ``df`` may be a DataFrame or a bare StructType (the rebase path
        revalidates against a moved snapshot without the original
        frame)."""
        from pyspark.sql.types import StructType

        incoming = df if isinstance(df, StructType) else df.schema
        old_json = base_state.get("schema")
        if old_json is None:
            return incoming.json()
        old_st = StructType.fromJson(json.loads(old_json))
        old_by_name = {f.name: f for f in old_st.fields}
        for f in incoming.fields:
            prev = old_by_name.get(f.name)
            if prev is not None and (
                prev.dataType.simpleString() != f.dataType.simpleString()
            ):
                raise SchemaEvolutionError(
                    f"table {self.name}: column {f.name!r} is "
                    f"{prev.dataType.simpleString()}, incoming write has "
                    f"{f.dataType.simpleString()} — type changes require an "
                    f"explicit overwrite migration"
                )
        merged = list(old_st.fields) + [
            f for f in incoming.fields if f.name not in old_by_name
        ]
        return StructType(merged).json()

    def table_schema(self, version: int | None = None):
        """The log-recorded authoritative schema at a version (None for
        pre-evolution tables, which infer from data files)."""
        from pyspark.sql.types import StructType

        sj = self.manifest(version).get("schema")
        return None if sj is None else StructType.fromJson(json.loads(sj))

    # -- read path ----------------------------------------------------------

    def _load_files(
        self,
        rel_files: list[str],
        state: dict,
        keep_lineage: bool = False,
    ) -> DataFrame:
        """Load an explicit file subset of a snapshot. For partitioned
        tables the partition columns are injected from the ``key=value``
        path segments using the TYPES recorded in the log — the Delta
        approach (its FileIndex serves partition values from the log),
        not Spark's directory inference, which cannot span the
        per-commit data subdirs. Path inference is disabled
        (``recursiveFileLookup``); manifest-level pruning has already
        narrowed the file list before Spark ever plans the scan.

        DELETION VECTORS (merge-on-read): when any requested file has
        a recorded vector, every row carries ``(_dv_file, _dv_row)``
        row lineage from the scan's ``_metadata`` pseudo-column and
        the frame is LEFT ANTI joined against the union of the
        relevant vector parquets — soft-deleted rows vanish at read
        with zero data-file rewrites. The join is equi on (file, row
        index); AQE broadcasts the (small) vector side. Tables with
        no vectors skip all of this — not even the lineage projection
        is added. ``keep_lineage=True`` keeps the two columns on the
        result (the DV writer itself needs them)."""
        from pyspark.sql import functions as F

        dvs_map = state.get("dvs") or {}
        dv_paths = sorted(
            {p for f in rel_files for p in dvs_map.get(f, [])}
        )
        with_lineage = bool(dv_paths) or keep_lineage

        ptypes = state.get("partition_types") or {}
        schema_json = state.get("schema")
        st = None
        if schema_json is not None:
            from pyspark.sql.types import StructType

            st = StructType.fromJson(json.loads(schema_json))

        # PARTITION EVOLUTION (Iceberg spec-evolution semantics): a
        # snapshot may mix files written under different partition
        # specs — before the table was partitioned (pcols live IN the
        # data), under the current spec (pcols in the PATH), or under
        # an older PARTIAL spec (some pcols in the path, later-added
        # ones in the data or legitimately absent). The manifest's
        # per-file partition values are the per-COLUMN discriminator:
        # a column recorded for a file was path-encoded at its write;
        # anything else reads as an ordinary data column. Each group of
        # _path_col_groups gets the matching read schema + injections,
        # and the frames union by name — no spec's files are ever
        # silently NULLed.
        log_names = {f.name for f in st.fields} if st is not None else None
        groups = _path_col_groups(rel_files, state, log_names)

        def _read(files: list[str], path_cols: tuple) -> DataFrame:
            reader = self.spark.read.format("parquet")
            if path_cols:
                reader = reader.option("recursiveFileLookup", "true")
            if st is not None:
                # the log's schema is authoritative (Delta FileIndex
                # model): files predating an added column yield NULL
                # for it, no per-file inference/merge at plan time
                from pyspark.sql.types import StructType

                fields = [f for f in st.fields if f.name not in path_cols]
                reader = reader.schema(StructType(fields))
            df = reader.load([str(self.root / f) for f in files])
            if with_lineage:
                # row lineage straight off the file scan: the decoded
                # root-relative path (matches the manifest's file
                # names exactly) + the row's position in its file
                # (stable across scans/splits). Decode BEFORE taking
                # the suffix, anchored on the TABLE ROOT — extracting
                # the first 'data/' would grab the wrong segment for
                # any lake root containing '/data/' in its own path,
                # silently emptying copy-on-write deletes (review
                # finding). '+' is pre-escaped because url_decode is
                # form-decoding ('+' → space) while the URI from
                # _metadata.file_path leaves literal '+' unescaped.
                dec = F.url_decode(
                    F.replace(
                        F.col("_metadata.file_path"),
                        F.lit("+"),
                        F.lit("%2B"),
                    )
                )
                df = df.select(
                    "*",
                    F.regexp_extract(
                        dec,
                        re.escape(str(self.root)) + "/(data/.*)$",
                        1,
                    ).alias("_dv_file"),
                    F.col("_metadata.row_index").alias("_dv_row"),
                )
            for c in path_cols:
                raw = F.regexp_extract(
                    F.input_file_name(), rf"/{re.escape(c)}=([^/]+)/", 1
                )

                def _decode(e):
                    # url_decode is FORM-decoding: a literal '+' (legal
                    # unescaped in both the URI and a Hive dir name)
                    # would wrongly become a space — pre-escape it
                    return F.url_decode(
                        F.replace(e, F.lit("+"), F.lit("%2B"))
                    )

                # TWO decode layers, matching the two encode layers:
                # the writer Hive-escapes the VALUE into the dir name
                # ('50%' → '50%25'), and input_file_name() URI-encodes
                # the PATH ('%' → '%25' again). A single decode
                # returned the on-disk dir name, so a '%'-containing
                # partition value was injected double-escaped (the
                # manifest, via Python unquote of the dir name, holds
                # the correct logical value — the two sides disagreed)
                dec = _decode(_decode(raw))
                val = (
                    F.when(raw == "", F.lit(None))
                    .when(dec == "__HIVE_DEFAULT_PARTITION__", F.lit(None))
                    .otherwise(dec)
                )
                # dropped-spec columns are absent from the current
                # partition_types: fall back to the log schema's type
                typ = ptypes.get(c)
                if typ is None and st is not None:
                    for fld in st.fields:
                        if fld.name == c:
                            typ = fld.dataType.simpleString()
                            break
                df = df.withColumn(c, val.cast(typ or "string"))
            return df

        frames = [_read(files, key) for key, files in groups.items()]
        out = frames[0]
        for fr in frames[1:]:
            out = out.unionByName(fr, allowMissingColumns=True)
        if st is not None:
            # pin the column order to the log schema: per-group reads
            # append path-injected columns LAST, so without this a
            # mixed-spec snapshot's order would depend on which group
            # happens to come first (positional consumers would see
            # columns move between versions)
            names = [f.name for f in st.fields]
            ordered = [c for c in names if c in out.columns] + [
                c for c in out.columns if c not in names
            ]
            out = out.select(*ordered)
        if dv_paths:
            dv = self.spark.read.schema(_DV_SCHEMA).parquet(
                *[str(self.root / p) for p in dv_paths]
            ).select(
                F.col("file_key").alias("_dv_file"),
                F.col("row_idx").alias("_dv_row"),
            )
            # Restrict the vector side to the REQUESTED files first
            # (round-8 review): a vector parquet holds rows for EVERY
            # file its commit (or a consolidation) touched, so for a
            # subset read the raw union can dwarf the requested files'
            # dv_rows — the extra rows were anti-join no-ops anyway,
            # and at scale (one consolidated vector covering 10k
            # files, a 1-file point read) the filter shrinks the build
            # side by orders of magnitude. The literal IN stays
            # bounded by _DV_FILTER_MAX_FILES.
            #
            # Join STRATEGY is deliberately left to AQE (round-9,
            # partially reverting round-7 item 4's explicit
            # F.broadcast): AQE measures the REAL build side at
            # runtime and converts to broadcast-hash with a local
            # shuffle reader, while the explicit hint forced a
            # separate broadcast-exchange job per consuming action —
            # measured ~0.3-0.5 s extra per DV lifecycle at sf0.1
            # with identical plans downstream (ROUND_NOTES round 9,
            # lake_deletion_vectors drift profile).
            vectored = [f for f in rel_files if f in dvs_map]
            if 0 < len(vectored) <= self._DV_FILTER_MAX_FILES:
                dv = dv.filter(F.col("file_key").isin(vectored))
            out = out.join(dv, ["_dv_file", "_dv_row"], "left_anti")
        if with_lineage and not keep_lineage:
            out = out.drop("_dv_file", "_dv_row")
        return out

    def read(
        self,
        version: int | None = None,
        key_range: tuple[str, object, object]
        | list[tuple[str, object, object]]
        | None = None,
        partition_filter: dict[str, object] | None = None,
        bloom_eq: dict[str, object] | None = None,
        as_of_ts=None,
    ) -> DataFrame:
        """The snapshot as a DataFrame (time travel via ``version``,
        or ``as_of_ts`` — an ISO string/datetime resolved through
        :meth:`version_at_timestamp`; passing both is an error).
        The resolved file list is immutable: later commits and even
        logical deletes don't disturb this frame (snapshot isolation).

        ``partition_filter={col: value_or_list}`` prunes by recorded
        partition values — directory-semantics pruning, the first and
        cheapest cut on a tenant/date-partitioned 100 TB table. Values
        compare in the column's recorded type
        (:meth:`_partition_literals`): ``5.0`` finds INT ``5``.

        ``key_range=(col, lo, hi)`` prunes by per-file min/max stats:
        files whose recorded range doesn't intersect [lo, hi] are
        dropped BEFORE Spark sees them — a point read on a clustered
        table opens one file instead of planning over 400k. Residual
        row filters still apply (pruning drops files, not rows);
        stats-less files are conservatively kept. A LIST of such
        tuples prunes on every one (intersection) — the composite
        point-read over a Z-ordered table (tenant × resource id,
        DatalakeRetrieveService.kt:33-39) passes both columns and
        opens the one file where the curve cells intersect.

        ``bloom_eq={col: value}`` prunes by the per-file Bloom index
        (``bloom_cols``) — the point-lookup path for high-cardinality
        UNCLUSTERED columns where every file's min/max spans the whole
        domain and key_range prunes nothing. False positives only ever
        cost an extra file scan; a missing or over-full filter keeps
        the file."""
        from pyspark.sql import functions as F

        if as_of_ts is not None:
            if version is not None:
                raise ValueError("pass either version or as_of_ts, not both")
            version = self.version_at_timestamp(as_of_ts)
        if version is None:
            # one snapshot per read: the file list, the partition map
            # and the schema all come from this version, even when a
            # commit lands mid-read
            version = self.current_version()
        m = self.manifest(version)
        if not m["files"]:
            if m.get("schema") is not None:
                # a COMMITTED EMPTY state (every row deleted / an
                # empty sync) is a valid snapshot, distinct from a
                # never-written table: return the empty frame with
                # the log schema. Before round 14 this case was
                # masked by zero-row part files the writer recorded;
                # commits no longer carry them.
                from pyspark.sql.types import StructType

                return self.spark.createDataFrame(
                    [], StructType.fromJson(json.loads(m["schema"]))
                )
            raise FileNotFoundError(
                f"table {self.name} has no committed data at version {version}"
            )
        fs = self.resolve_files(
            version=version,
            key_range=key_range,
            partition_filter=partition_filter,
            bloom_eq=bloom_eq,
        )
        if not fs:
            # everything pruned: empty frame with the table's schema
            return self._load_files(m["files"][:1], m).filter(F.lit(False))
        df = self._load_files(fs, m)
        if partition_filter:
            # transform-named filters can't apply their residual on the
            # hidden column (it is never injected into the read-back
            # frame — round-6 advice: this used to AnalysisException);
            # recompute the derived value from the SOURCE column with
            # the same expression the writer used — exact for every
            # file, including pre-spec files the manifest conservatively
            # keeps
            transforms = m.get("partition_transforms") or {}
            st = self.table_schema(version)
            src_types = (
                {f.name: f.dataType.simpleString() for f in st.fields}
                if st is not None
                else {}
            )
            for col, want in partition_filter.items():
                if col in transforms:
                    spec = transforms[col]
                    src = spec[-1]
                    col_expr = _cached_transform_expr(
                        self.spark, src, spec, src_types.get(src)
                    )
                    vals = [str(w) for w in _as_list(want)]
                    df = df.filter(col_expr.cast("string").isin(vals))
                    continue
                typed = self._partition_literals(col, want, m)
                if typed is None:  # no recorded type: compare strings
                    vals = [str(w) for w in _as_list(want)]
                    df = df.filter(F.col(col).cast("string").isin(vals))
                else:
                    df = df.filter(
                        F.col(col).isin(typed) if typed else F.lit(False)
                    )
        for col, lo, hi in _normalize_key_ranges(key_range):
            df = df.filter(F.col(col).between(lo, hi))
        if bloom_eq:
            # pruning drops files; the residual equality drops rows
            for col, value in bloom_eq.items():
                df = df.filter(F.col(col) == F.lit(value))
        return df

    def resolve_files(
        self,
        version: int | None = None,
        key_range: tuple[str, object, object]
        | list[tuple[str, object, object]]
        | None = None,
        partition_filter: dict[str, object] | None = None,
        bloom_eq: dict[str, object] | None = None,
    ) -> list[str]:
        """The root-relative files a read with these predicates opens —
        manifest-level pruning made observable (partition values first,
        then per-file min/max stats), so tests and operators can assert
        skipping instead of trusting it."""
        m = self.manifest(version)
        fs = m["files"]
        parts = m.get("partitions", {})
        if partition_filter:
            for col, want in partition_filter.items():
                typed = self._partition_literals(col, want, m)
                if typed is None:  # no recorded type: compare strings
                    wants = {str(w) for w in _as_list(want)}
                    fs = [
                        f
                        for f in fs
                        if parts.get(f, {}).get(col) is None
                        or parts[f][col] in wants
                    ]
                    continue
                typ = m["partition_types"][col]
                seen: dict = {}  # raw path value -> does it match
                keep = []
                for f in fs:
                    raw = parts.get(f, {}).get(col)
                    if raw is not None and raw not in seen:
                        seen[raw] = typed_partition_value(raw, typ) in typed
                    if raw is None or seen[raw]:
                        keep.append(f)
                fs = keep
        for col, lo, hi in _normalize_key_ranges(key_range):
            stats = m.get("stats", {})
            fs = [
                f
                for f in fs
                if (rng := _decode_range(stats.get(f, {}).get(col))) is None
                or rng[0] is None
                or (rng[0] <= hi and lo <= rng[1])
            ]
            # HIDDEN-PARTITION pruning (Iceberg transform semantics):
            # a raw-column range predicate prunes through every
            # transform whose SOURCE is this column — order-preserving
            # transforms by transformed-bound range compare, bucket by
            # equality when the range is a point. The caller never
            # names the derived column; the layout stays invisible.
            tmatch = {
                n: s
                for n, s in (m.get("partition_transforms") or {}).items()
                if s[-1] == col
            }
            if tmatch:
                tvals = self._transform_literals(tmatch, [lo, hi], m)
                for tname, spec in tmatch.items():
                    tlo = _canon_transform_bound(tvals[tname][0])
                    thi = _canon_transform_bound(tvals[tname][1])
                    if tlo is None or thi is None:
                        continue  # NULL/unorderable bound: no prune
                    if spec[0] in _ORDER_PRESERVING:
                        fs = [
                            f
                            for f in fs
                            if (
                                v := _part_value_matches(
                                    parts.get(f, {}).get(tname), tlo
                                )
                            )
                            is None
                            or tlo <= v <= thi
                        ]
                    elif lo == hi:  # bucket: point lookups only
                        fs = [
                            f
                            for f in fs
                            if (
                                v := _part_value_matches(
                                    parts.get(f, {}).get(tname), tlo
                                )
                            )
                            is None
                            or v == tlo
                        ]
        if bloom_eq:
            stats = m.get("stats", {})
            for col, value in bloom_eq.items():
                if any(col in parts.get(f, {}) for f in fs):
                    # a path-encoded column records no bloom: match the
                    # files' partition values against the literal cast
                    # to the column's type by Spark (an identity
                    # transform), so 5.0 or '05' still finds INT 5
                    tv = self._transform_literals(
                        {col: ["identity", col]}, [value], m
                    )[col][0]
                    # a timestamp has no exact path-string form; a NULL
                    # partition never equals a literal
                    if not isinstance(tv, datetime):
                        tv = _canon_transform_bound(tv)
                    if isinstance(tv, (int, str)):
                        fs = [
                            f
                            for f in fs
                            if (raw := parts.get(f, {}).get(col)) is None
                            or (
                                raw != _HIVE_NULL
                                and _part_value_matches(raw, tv) in (None, tv)
                            )
                        ]
                blooms = {
                    f: b
                    for f in fs
                    if isinstance(
                        b := stats.get(f, {}).get(f"bloom:{col}"), dict
                    )
                }
                if not blooms:
                    continue  # nothing indexed: no probe job, keep all
                want = self._bloom_positions_of(
                    col, value, {b["bits"] for b in blooms.values()}, m
                )
                fs = [
                    f
                    for f in fs
                    if f not in blooms  # unindexed or FULL: must scan
                    or all(
                        p in blooms[f]["pos"]
                        for p in want[blooms[f]["bits"]]
                    )
                ]
        return fs

    def _driver_read(
        self,
        version: int,
        partition_filter: dict[str, object] | None = None,
        key_range: tuple[str, object, object]
        | list[tuple[str, object, object]]
        | None = None,
        keys: tuple[str, list] | None = None,
    ):
        """The rows of a small keyed read as a ``pyarrow.Table``, read
        on the driver with no Spark job, or None when Spark must read
        them. The read-side twin of :meth:`_driver_commit_write`: the
        files :meth:`resolve_files` keeps at ``version`` are read by
        one pyarrow parquet dataset scan under the log schema, the
        path-encoded partition columns are filled from the manifest's
        recorded values (:func:`typed_partition_value`), and the same
        row filters as :meth:`read` apply — ``partition_filter`` in
        typed form, ``key_range`` as BETWEEN — plus ``keys=(col,
        values)`` as an IN. Columns come in the log-schema order
        :meth:`_load_files` produces, and files in the order Spark's
        scan reads them (largest first), so ``collect()`` and a first
        row agree with the Spark path.

        None when any of these holds: the driver cap
        (``_DRIVER_COMMIT_MAX_BYTES_KEY``) is 0, the resolved files are
        larger on disk than the cap, or the result's Arrow size grows
        past it; a resolved file carries a deletion vector; the table
        has partition transforms or no log schema; a file's footer
        schema differs from the log schema (a file that predates an
        added column); or a filtered or path-encoded column is of a
        type whose Arrow comparison or path decoding could differ from
        Spark's (only strings, integers and dates qualify)."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as ds
        from pyarrow.fs import LocalFileSystem
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructField, StructType

        max_bytes = self._driver_max_bytes()
        m = self._state(version)
        if (
            max_bytes <= 0
            or m.get("schema") is None
            or m.get("partition_transforms")
        ):
            return None
        fs = self.resolve_files(
            version=version,
            key_range=key_range,
            partition_filter=partition_filter,
        )
        dvs = m.get("dvs") or {}
        if any(dvs.get(f) for f in fs):
            return None
        sizes = {f: os.path.getsize(self.root / f) for f in fs}
        if sum(sizes.values()) > max_bytes:
            return None
        st = StructType.fromJson(json.loads(m["schema"]))
        ddl = {f.name: f.dataType.simpleString() for f in st.fields}
        try:
            want = to_arrow_schema(
                StructType(
                    [StructField(f.name, f.dataType, True) for f in st.fields]
                )
            )
        except TypeError:
            return None  # a type Arrow does not carry

        def literals(col, vals):
            if ddl.get(col) not in _PATH_SAFE_LAYOUT_TYPES or not all(
                _holds_type(v, ddl[col]) for v in vals
            ):
                return None
            return pa.array(vals, type=want.field(col).type)

        where = pc.scalar(True)
        for col, wanted in (partition_filter or {}).items():
            typed = self._partition_literals(col, wanted, m)
            arr = None if typed is None else literals(col, typed)
            if arr is None:
                return None
            where &= pc.field(col).isin(arr)
        for col, lo, hi in _normalize_key_ranges(key_range):
            arr = literals(col, [lo, hi])
            if arr is None:
                return None
            where &= (pc.field(col) >= arr[0]) & (pc.field(col) <= arr[1])
        if keys is not None:
            arr = literals(keys[0], [v for v in keys[1] if v is not None])
            if arr is None:
                return None
            where &= pc.field(keys[0]).isin(arr)

        # each file's path-encoded values become its partition
        # expression, from which the scan fills those columns
        parts = m.get("partitions", {})
        ptypes = m.get("partition_types") or {}
        paths, known, data_cols = [], [], []
        for path_cols, files in _path_col_groups(fs, m, set(ddl)).items():
            if any(
                ddl[c] not in _PATH_SAFE_LAYOUT_TYPES
                or ptypes.get(c, ddl[c]) != ddl[c]
                for c in path_cols
            ):
                return None
            names = {n for n in want.names if n not in path_cols}
            # Spark's scan orders splits by size, largest first (stable)
            for f in sorted(files, key=lambda f: -sizes[f]):
                guarantee = pc.scalar(True)
                for c in path_cols:
                    v = typed_partition_value(parts[f][c], ddl[c])
                    guarantee &= (
                        pc.field(c).is_null()
                        if v is None
                        else pc.field(c) == pa.scalar(v, want.field(c).type)
                    )
                paths.append(str(self.root / f))
                known.append(guarantee)
                data_cols.append(names)
        dataset = ds.FileSystemDataset.from_paths(
            paths,
            schema=want,
            format=ds.ParquetFileFormat(),
            filesystem=LocalFileSystem(),
            partitions=known,
        )
        try:
            rows = dataset.to_table(filter=where)
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError, pa.ArrowTypeError):
            return None  # a file type that does not cast; Spark decides
        # checked after the scan, which has already read every footer
        for frag, names in zip(dataset.get_fragments(), data_cols):
            got = {fld.name: fld.type for fld in frag.physical_schema}
            if set(got) != names or not all(
                _arrow_type_matches(got[n], want.field(n).type) for n in names
            ):
                return None
        return None if rows.nbytes > max_bytes else rows

    def read_changes(
        self,
        from_version: int,
        to_version: int | None = None,
        include_deletes: bool = False,
    ) -> DataFrame:
        """Change feed: rows ADDED by commits in ``(from_version,
        to_version]``, tagged with ``_commit_version`` — the Delta
        CDF / Iceberg incremental-read analog for an append-mostly
        lake. Rewriting commits (merge/compact/overwrite) re-emit the
        rows of their rewritten files; removals are not emitted
        (append-only feed — callers needing delete deltas diff
        snapshots). Feeds :func:`streaming.txn_source` for readStream
        consumption.

        ``include_deletes=True`` adds a ``_change_type`` column
        ('insert' | 'delete') and emits the rows soft-deleted by each
        commit's DELETION VECTOR — exact and cheap, because the
        vector already names the (file, row-position) pairs: the
        deleted rows are the pre-commit live rows of the vectored
        files SEMI-joined to the vector (Delta CDF on DV tables works
        the same way). Copy-on-write rewrites still emit only their
        re-added rows (emitting their removals would need a full
        snapshot diff — the documented limitation; run deletes with
        ``merge_on_read=True`` when the feed must see them)."""
        from functools import reduce

        from pyspark.sql import functions as F

        to = self.current_version() if to_version is None else to_version
        frames = []
        for v in range(from_version + 1, to + 1):
            rec = self.commit_record(v)
            added = rec.get("added", [])
            if added:
                fr = self._load_files(added, rec).withColumn(
                    "_commit_version", F.lit(v)
                )
                if include_deletes:
                    fr = fr.withColumn("_change_type", F.lit("insert"))
                frames.append(fr)
            if include_deletes and "dv" in rec:
                # pre-commit live rows of the vectored files, keyed by
                # lineage, semi-joined to exactly THIS commit's vector
                # (earlier vectors on the same files are already
                # anti-joined away by the v-1 state's load, so a row
                # can never be re-emitted as deleted twice)
                prev_state = self._state(v - 1)
                affected = [
                    f
                    for f in prev_state["files"]
                    if f in rec["dv"]["files"]
                ]
                vec = self.spark.read.schema(_DV_SCHEMA).parquet(
                    str(self.root / rec["dv"]["path"])
                ).select(
                    F.col("file_key").alias("_dv_file"),
                    F.col("row_idx").alias("_dv_row"),
                )
                gone = (
                    self._load_files(
                        affected, prev_state, keep_lineage=True
                    )
                    .join(vec, ["_dv_file", "_dv_row"], "left_semi")
                    .drop("_dv_file", "_dv_row")
                    .withColumn("_commit_version", F.lit(v))
                    .withColumn("_change_type", F.lit("delete"))
                )
                frames.append(gone)
        if not frames:
            m = self.manifest(to)
            if not m["files"]:
                raise FileNotFoundError(
                    f"table {self.name} has no committed data to diff"
                )
            empty = (
                self._load_files(m["files"][:1], m)
                .withColumn("_commit_version", F.lit(0))
                .filter(F.lit(False))
            )
            if include_deletes:
                empty = empty.withColumn("_change_type", F.lit("insert"))
            return empty
        # allowMissingColumns: the feed may span a schema-evolution
        # commit; pre-evolution versions null-fill the added columns
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
        )

    # -- write path ---------------------------------------------------------

    def _layout(self, state: dict) -> tuple[list[str], dict[str, list]]:
        """(partition cols, transforms) an op on snapshot ``state``
        writes and commits: the handle's own, else the snapshot's (a
        handle opened without a spec discovers it from the log)."""
        return (
            self.partition_cols or state.get("partition_cols") or [],
            self.partition_transforms or state.get("partition_transforms") or {},
        )

    def _driver_max_bytes(self) -> int:
        """The driver-path byte cap (``_DRIVER_COMMIT_MAX_BYTES_KEY``)
        shared by the commit write, the vector write and the keyed
        read; 0 (disabled) when it is 0 or not a number."""
        try:
            return int(
                self.spark.conf.get(
                    _DRIVER_COMMIT_MAX_BYTES_KEY,
                    _DRIVER_COMMIT_MAX_BYTES_DEFAULT,
                )
            )
        except ValueError:
            return 0

    def _driver_collect(self, df: DataFrame):
        """``df`` collected as one Arrow table, or None for the
        distributed path: the commit and vector writes' one admission
        rule (module comment above ``_DRIVER_COMMIT_MAX_BYTES_KEY``)."""
        max_bytes = self._driver_max_bytes()
        if max_bytes <= 0:
            return None
        est = _plan_size_estimate(df)
        if est is None:
            if not _driver_resident(df):
                return None
        elif est > max_bytes:
            return None
        try:
            tbl = df.toArrow()
        except Exception:
            return None  # unsupported type / result too large: fall back
        return tbl if tbl.nbytes <= max_bytes else None  # post-collect cap

    def _driver_commit_write(
        self,
        wdf: DataFrame,
        out: Path,
        layout: list[str],
        stat_cols: list[str],
    ) -> list[str] | None:
        """Bounded-commit fast path: ONE Arrow collect + driver-side
        pyarrow parquet writes in place of the distributed write job
        (module comment above ``_DRIVER_COMMIT_MAX_BYTES_KEY`` has the
        full scale rationale). Returns the sorted root-relative files
        written — the same per-``spark_partition_id`` file splitting
        and Hive ``key=value`` layout dirs as the distributed writer —
        or None to fall back. Footer min/max is written for
        ``stat_cols`` only; :meth:`_write_data` reads the stats back
        from the footers exactly as it does for the distributed
        writer's files."""
        dt = dict(wdf.dtypes)
        if any(dt.get(c) not in _PATH_SAFE_LAYOUT_TYPES for c in layout):
            return None
        from pyspark.sql import functions as F

        pid = "_idl_pid"
        while pid in wdf.columns:
            pid = "_" + pid
        tbl = self._driver_collect(wdf.withColumn(pid, F.spark_partition_id()))
        if tbl is None:
            return None
        if tbl.num_rows == 0:
            # the distributed writer's empty part files are dropped
            # from the commit anyway — the visible end state is the
            # same empty add
            return []
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        key_cols = [pid] + list(layout)
        # one stable sort: each run of equal keys is one file, its rows
        # in input order
        order = pc.sort_indices(
            tbl, sort_keys=[(c, "ascending") for c in key_cols]
        )
        keys = tbl.select(key_cols).take(order).combine_chunks()
        starts = _run_starts(keys)
        runs = []
        for lo, hi in zip(starts, starts[1:] + [tbl.num_rows]):
            k = keys.slice(lo, 1).to_pylist()[0]
            dirs = [_part_dir_value(k[c]) for c in layout]
            if None in dirs:
                return None  # value needs Spark's escaper: fall back
            segs = [f"{c}={v}" for c, v in zip(layout, dirs)]
            runs.append((k[pid], segs, order.slice(lo, hi - lo)))
        data = tbl.drop_columns(key_cols)  # layout cols live in the path
        rel_files: list[str] = []
        for part, segs, idx in runs:
            d = out.joinpath(*segs)
            d.mkdir(parents=True, exist_ok=True)
            fpath = d / f"part-{part:05d}-{uuid.uuid4().hex}.snappy.parquet"
            # parquet min/max only for the stats columns (the ones
            # point reads filter on): pyarrow otherwise writes full
            # min/max of every column into the footer AND every page
            # header, which for wide text columns nearly doubles a
            # small file; Spark's writer keeps no page-header stats
            pq.write_table(
                data.take(idx),
                fpath,
                compression="snappy",
                write_statistics=stat_cols,
            )
            rel_files.append(str(fpath.relative_to(self.root)))
        return sorted(rel_files)

    def _write_data(
        self,
        df: DataFrame,
        prev: dict,
        layout_partition_by: list[str] | None = None,
        commit_dir: str | None = None,
    ) -> tuple[list[str], int, dict[str, dict], dict[str, dict], dict[str, str]]:
        """Write ``df`` into a fresh per-commit subdir under the layout
        of the op's snapshot ``prev`` (:meth:`_layout`); returns
        (root-relative file paths, row count, per-file stats, per-file
        partition values, partition column types). The subdir is
        invisible to readers until a commit record references it.

        Frames under the driver-commit bound are written on the driver
        (:meth:`_driver_commit_write`), the rest by the distributed
        writer. Either way the per-file stats and row counts come from
        the footers of the files just written (:func:`_footer_stats`):
        a stats column the layout encodes in the path records its typed
        path value, float/double stats columns record no bounds (a NaN
        bound cannot be compared safely), and bloom columns cost one
        bloom-only job (:meth:`_bloom_stats`). Partition values are
        parsed from the Hive ``key=value`` path segments."""
        pcols, transforms = self._layout(prev)
        ptypes = {
            c: t for c, t in df.dtypes if c in pcols
        }  # recorded in the log so reads re-type the path-encoded values
        in_dtypes = dict(df.dtypes)
        wdf = df
        for tname, spec in transforms.items():
            # the derived column is computed AFTER schema capture
            # (append merged df.schema already), so it never enters the
            # log schema and the read path never injects it — hidden
            if tname in df.columns:
                raise ValueError(
                    f"table {self.name}: partition transform {tname!r} "
                    f"collides with a data column — rename the transform"
                )
            src = spec[-1]
            if src not in in_dtypes:
                raise ValueError(
                    f"table {self.name}: transform {tname!r} source "
                    f"{src!r} is not a column of the incoming write"
                )
            wdf = wdf.withColumn(
                tname,
                _cached_transform_expr(
                    self.spark, src, spec, in_dtypes[src]
                ),
            )
        commit_dir = commit_dir or f"data/{uuid.uuid4().hex}"
        out = self.root / commit_dir
        layout = (
            list(pcols)
            + [t for t in transforms if t not in pcols]
            + [
                c
                for c in (layout_partition_by or [])
                if c not in pcols and c not in transforms
            ]
        )
        stat_cols = [
            c
            for c in self.stats_cols
            if in_dtypes.get(c) not in (None, "float", "double")
        ]
        file_stats = [c for c in stat_cols if c not in layout]
        rel_files = self._driver_commit_write(wdf, out, layout, file_stats)
        if rel_files is None:
            writer = wdf.write.mode("overwrite").format("parquet")
            if layout:
                # layout_partition_by groups rows into per-value files
                # EXACTLY (the writer splits by value — no range-
                # sampling approximation) without becoming a table
                # partition column; the clustered-compact path uses it
                # for chunk-exact files
                writer = writer.partitionBy(*layout)
            writer.save(str(out))
            rel_files = sorted(
                str(p.relative_to(self.root))
                for p in out.rglob("*")
                if p.is_file() and not p.name.startswith(("_", "."))
            )
        stats: dict[str, dict] = {}
        partitions: dict[str, dict] = {}
        for rel in rel_files:
            entry = _footer_stats(self.root / rel, file_stats)
            if not entry["rows"]:
                # Spark's writer emits EMPTY part files when input
                # partitions hold no rows (tiny frames, skewed layout
                # splits); recording them would add manifest entries
                # every scan lists forever and the Iceberg export
                # refuses. Drop them from the commit and from disk.
                (self.root / rel).unlink(missing_ok=True)
                continue
            path_vals = {
                k: unquote(v)
                for k, _, v in (
                    seg.partition("=")
                    for seg in Path(rel).relative_to(commit_dir).parts[:-1]
                )
            }
            for c in stat_cols:
                if c in layout:
                    v = typed_partition_value(path_vals[c], in_dtypes[c])
                    entry[c] = [_stats_encode(v), _stats_encode(v)]
            stats[rel] = entry
            if pcols or transforms:
                # layout-only dirs are not table partitions; transform
                # dirs ARE (they drive hidden-partition pruning) but
                # stay out of the schema
                partitions[rel] = {
                    k: v
                    for k, v in path_vals.items()
                    if k in pcols or k in transforms
                }
        bloom_cols = [
            c for c in self.bloom_cols if c in in_dtypes and c not in layout
        ]
        if bloom_cols and stats:
            self._bloom_stats(stats, [df.schema[c] for c in bloom_cols])
        rows = sum(e["rows"] for e in stats.values())
        return list(stats), rows, stats, partitions, ptypes

    def _bloom_stats(self, stats: dict[str, dict], fields: list) -> None:
        """Add each file's ``bloom:<col>`` filter to its stats entry —
        the one Spark job a commit runs after its data write, and only
        for tables with bloom columns. It reads the bloom columns of the
        just-written files by explicit file list (no directory
        partition discovery, so nothing path-encoded is re-typed; a
        path-encoded bloom column records no bloom and
        :meth:`resolve_files` matches its partition value instead),
        hashes them with :meth:`_bloom_pos` — the JVM hash the read
        probes use — and gathers the (file, position) sets with an
        Observation on a no-op write: per-task partial sets merged on
        the driver, no shuffle. A filter past half occupancy prunes
        little (k=2 false-positive rate ≥25%) and records the ``FULL``
        marker instead of a list. The filter is SELF-DESCRIBING: bits
        ride with the positions, so a handle opened with different
        ``bloom_bits`` (or a clone) still probes mod the bits each file
        was written with."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        obs = Observation()
        path = F.col("_metadata.file_path")
        self.spark.read.schema(StructType(fields)).parquet(
            *(str(self.root / rel) for rel in stats)
        ).observe(
            obs,
            *(
                F.collect_set(
                    F.struct(path, self._bloom_pos(F.col(f.name), probe))
                ).alias(f"p{probe}_{f.name}")
                for f in fields
                for probe in (0, 1)
            ),
        ).write.format("noop").mode("overwrite").save()
        got, rel_of = obs.get, {}
        for f in fields:
            pos: dict[str, set] = {rel: set() for rel in stats}
            for probe in (0, 1):
                for uri, p in got[f"p{probe}_{f.name}"]:
                    if uri not in rel_of:
                        rel_of[uri] = next(
                            r for r in stats if _uri_endswith(uri, r)
                        )
                    pos[rel_of[uri]].add(p)
            for rel, ps in pos.items():
                stats[rel][f"bloom:{f.name}"] = (
                    "FULL"
                    if len(ps) > self.bloom_bits // 2
                    else {"bits": self.bloom_bits, "pos": sorted(ps)}
                )

    def _bloom_pos(self, col, probe: int, bits: int | None = None):
        """Probe ``probe``'s bit position for a value: xxhash64 of the
        value (salted by the probe index as an extra hashed column)
        mod ``bits``. JVM-side, vectorized, deterministic."""
        from pyspark.sql import functions as F

        return F.pmod(
            F.xxhash64(col, F.lit(probe)), F.lit(bits or self.bloom_bits)
        )

    def _bloom_positions_of(
        self, col_name: str, value, bits_set: set[int], state: dict
    ) -> dict[int, list[int]]:
        """The probe positions of a literal value, per bits-width in
        use across the snapshot's files — computed through the SAME
        JVM hash as the write path (one bounded 1-row job, never a
        reimplementation that could drift). The literal is CAST to the
        column's log-schema type first: xxhash64(INT 5) and
        xxhash64(BIGINT 5) differ, so an uncast Python literal would
        probe the wrong cells and silently prune live files."""
        from pyspark.sql import functions as F

        lit = F.lit(value)
        schema_json = state.get("schema")
        if schema_json is not None:
            from pyspark.sql.types import StructType

            st = StructType.fromJson(json.loads(schema_json))
            for fld in st.fields:
                if fld.name == col_name:
                    lit = lit.cast(fld.dataType)
                    break
        sel = []
        for bits in sorted(bits_set):
            sel += [
                self._bloom_pos(lit, 0, bits).alias(f"p0_{bits}"),
                self._bloom_pos(lit, 1, bits).alias(f"p1_{bits}"),
            ]
        row = self.spark.range(1).select(*sel).collect()[0]
        return {
            bits: [row[f"p0_{bits}"], row[f"p1_{bits}"]]
            for bits in bits_set
        }

    def _transform_literals(
        self, specs: dict[str, list], values: list, state: dict
    ) -> dict[str, list]:
        """Each transform's partition value for each literal in
        ``values`` — computed through the SAME Column expressions as
        the write path in one bounded 1-row job (never a Python
        reimplementation that could drift; the bloom-probe rule).
        Literals are cast to the source column's log-schema type first
        (``xxhash64`` is type-sensitive). Returns name → [v0, v1, …];
        entries are None when the transform of a bound is NULL."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        src_types: dict[str, str] = {}
        schema_json = state.get("schema")
        if schema_json is not None:
            st = StructType.fromJson(json.loads(schema_json))
            src_types = {
                f.name: f.dataType.simpleString() for f in st.fields
            }
        # BATCHED CACHED PATH (round 15): one row per literal through
        # ONE cached expression per spec — still the same Column
        # algebra as the write path, but built once per application
        # instead of per (probe × spec): the bucket_mm3 tree alone is
        # ~800 py4j round-trips per build (~0.2 s), which dominated
        # every probed read on bucket tables. The expression casts its
        # input to the source column's log-schema type first, so the
        # probe column's bigint/double/string carrier type normalizes
        # exactly like the old F.lit(v) literal did. Specs without a
        # recorded source type (pre-schema tables) keep the
        # per-literal path: their expressions hash the CARRIER type,
        # which must stay the F.lit inference.
        probe_t = _probe_sql_type(values[0]) if values else None
        if (
            probe_t is not None
            and all(
                v is not None and type(v) is type(values[0])
                for v in values
            )
            and all(
                src_types.get(spec[-1]) is not None
                for spec in specs.values()
            )
        ):
            frame = self.spark.createDataFrame(
                self.spark.sparkContext.parallelize(
                    [(v,) for v in values], 1  # one slice: order kept
                ),
                f"_idl_probe {probe_t}",
            )
            sel = [
                _cached_transform_expr(
                    self.spark, "_idl_probe", spec, src_types[spec[-1]]
                ).alias(f"{name}__v")
                for name, spec in specs.items()
            ]
            rows = frame.select(*sel).collect()
            return {
                name: [rows[i][f"{name}__v"] for i in range(len(values))]
                for name in specs
            }
        sel = []
        for name, spec in specs.items():
            for i, v in enumerate(values):
                sel.append(
                    _transform_value_expr(
                        F.lit(v), spec, src_types.get(spec[-1])
                    ).alias(f"{name}__{i}")
                )
        row = self.spark.range(1).select(*sel).collect()[0]
        return {
            name: [row[f"{name}__{i}"] for i in range(len(values))]
            for name in specs
        }

    def _partition_literals(self, col: str, want, state: dict) -> list | None:
        """A ``partition_filter`` entry as values of the column's
        recorded partition type, so pruning and the row filter compare
        typed values and ``5.0`` or ``'5'`` finds INT ``5``. A literal
        already of that type passes as is, with no job; the others are
        cast by Spark through the identity transform
        (:meth:`_transform_literals`, the bloom_eq rule), and a numeric
        literal the cast changes (``5.5`` on an INT column) matches
        nothing, like SQL equality. NULL never matches. A literal the
        type cannot hold raises ``ValueError``. None when the column
        has no recorded type: the caller compares strings."""
        from pyspark.errors import PySparkException

        typ = (state.get("partition_types") or {}).get(col)
        if typ is None:
            return None
        wants = [w for w in _as_list(want) if w is not None]
        typed = [w for w in wants if _holds_type(w, typ)]
        other = [w for w in wants if not _holds_type(w, typ)]
        if other:
            try:
                cast = self._transform_literals(
                    {col: ["identity", col]}, other, state
                )[col]
            except PySparkException as e:
                raise ValueError(
                    f"table {self.name}: partition_filter {col}={other!r} "
                    f"cannot be read as {typ}"
                ) from e
            typed += [
                v
                for w, v in zip(other, cast)
                if v is not None
                and not (_is_number(w) and _is_number(v) and v != w)
            ]
        return typed

    def _rows_of(self, state: dict, rel_files: list[str]) -> int:
        """LIVE row count of a file subset: recorded write-time stats
        minus each file's deletion-vector count (vectors soft-delete
        rows the stats still include), falling back to one count job
        for stats-less files (counted through _load_files, which
        applies the vectors)."""
        dv_deleted = state.get("dv_deleted") or {}
        known = [f for f in rel_files if "rows" in state["stats"].get(f, {})]
        total = sum(
            state["stats"][f]["rows"] - dv_deleted.get(f, 0) for f in known
        )
        missing = [f for f in rel_files if f not in known]
        if missing:
            total += self._load_files(missing, state).count()
        return total

    def _commit(
        self,
        base_version: int,
        *,
        op: str,
        added: list[str],
        removed: list[str],
        rows_total: int,
        stats: dict[str, dict] | None = None,
        partitions: dict[str, dict] | None = None,
        partition_types: dict[str, str] | None = None,
        schema: str | None = None,
        epoch: int | None = None,
        partition_scoped: bool | None = None,
        dv: dict | None = None,
        dv_reset: dict | None = None,
        props: dict | None = None,
    ) -> int:
        """Atomically publish version ``base_version + 1``.

        ``props`` is an opaque caller-owned dict recorded verbatim in
        the commit record (the Delta/Iceberg commit-properties idiom):
        layered stores ride it to maintain O(1) derived scalars — e.g.
        BM25Index keeps the cumulative doclen sum so query-time avgdl
        needs no corpus scan. TxnTable itself never reads it; commits
        from other paths (compact/restore/...) simply omit it, so
        readers MUST treat a missing prop as "unknown, recompute".

        The commit point is ``os.link(tmp, v{N}.json)``: the record is
        fully written before it becomes visible, and the link fails
        with ``FileExistsError`` if any other writer committed N first
        — a true compare-and-swap, no check-then-write window. Raises
        :class:`CommitConflictError` on conflict (caller retries on
        the new snapshot); exactly one of two racing commits survives,
        never a lost update (tests/test_txn.py two-writer race).

        The pre-CAS listing stays: were a stale base's successor record
        vacuumed, the link alone would succeed and fork the log. Its
        conflict carries the version found, so a retry lists no more."""
        found = self.current_version()
        if found != base_version:
            raise CommitConflictError(
                f"table {self.name}: expected v{base_version}, found v{found}",
                found=found,
            )
        base_state = self._state(base_version)
        pcols, transforms = self._layout(base_state)
        new_version = base_version + 1
        self._manifest_dir.mkdir(parents=True, exist_ok=True)
        # version_at_timestamp / expire_snapshots binary-search on the
        # invariant "ts_utc is monotone over versions" — wall clocks
        # are not (NTP steps, VM migrations), so clamp to the parent
        # commit's timestamp, keeping the invariant true by
        # CONSTRUCTION (Delta applies the same monotonicity fixup)
        now = datetime.now(timezone.utc)
        if base_version > 0:
            try:
                parent_ts = self._commit_ts(base_version)
                if parent_ts > now:
                    now = parent_ts
            except (OSError, ValueError, json.JSONDecodeError):
                pass  # unreadable parent record: fall back to now
        record = {
            "version": new_version,
            "parent": base_version,
            "ts_utc": now.isoformat(),
            "op": op,
            "added": added,
            "removed": removed,
            "rows_total": rows_total,
            "stats": stats or {},
            "partitions": partitions or {},
            "partition_cols": pcols,
            "partition_types": partition_types
            or base_state.get("partition_types", {}),
            "partition_transforms": transforms,
        }
        if schema is not None:
            record["schema"] = schema
        if epoch is not None:
            record["epoch"] = epoch
        if partition_scoped is not None:
            # recorded so LATER writers' rebase checks can verify this
            # commit's read discipline instead of assuming it
            record["partition_scoped"] = partition_scoped
        if dv is not None:
            record["dv"] = dv
        if dv_reset is not None:
            record["dv_reset"] = dv_reset
        if props is not None:
            record["props"] = props
        tmp = self._manifest_dir / f".tmp-{uuid.uuid4().hex}.json"
        tmp.write_text(json.dumps(record))
        target = self._manifest_path(new_version)
        try:
            os.link(tmp, target)  # the commit point: atomic CAS
        except FileExistsError:
            raise CommitConflictError(
                f"table {self.name}: concurrent writer committed "
                f"v{new_version} first"
            ) from None
        finally:
            tmp.unlink(missing_ok=True)
        if new_version % self.checkpoint_interval == 0:
            # checkpoints are derived state — best-effort, never the
            # commit point; a crash here only lengthens the next replay
            self._write_checkpoint(new_version)
        return new_version

    # -- rebase-on-conflict -------------------------------------------------

    def _partition_tuples(
        self, rel_files: list[str], partitions: dict[str, dict], pcols: list[str]
    ) -> set[tuple]:
        return {
            tuple(partitions.get(f, {}).get(c) for c in pcols)
            for f in rel_files
        }

    def _rebase_ok(
        self,
        op: str,
        removed: list[str],
        partitions_added: dict[str, dict],
        base_version: int,
        new_base: int,
        partition_scoped: bool = True,
    ) -> bool:
        """True iff a commit staged against ``base_version`` is
        logically compatible with every commit in (base_version,
        new_base] and may re-CAS onto the new snapshot WITHOUT
        recomputing its data files (Delta/Iceberg conflict resolution).
        The test is serializability by reordering: rebase only when the
        final state equals SOME serial order of the two commits.

        - a blind **append** (no removed files) is compatible with any
          intervening append/merge/delete/compact — it references no
          existing file, so the new snapshot plus our files is exactly
          the state both writers intended;
        - a rewriting op (**merge/delete/overwrite_partitions**) is
          compatible iff the table is partitioned, the partition sets
          the two sides touched are disjoint (the reference's layout —
          one publish batch per tenant,
          ``DatalakePublishService.kt:68-73`` — makes concurrent
          tenant publishes exactly this case), every file we planned
          to remove is still live in the new snapshot, AND our
          operation's READ scope was confined to its own partitions
          (``partition_scoped``). The read-scope condition is what
          makes the reorder sound: a MERGE whose key does NOT include
          the partition columns logically reads every partition (a
          matching key may live anywhere), so two such merges
          inserting the same key into different partitions would both
          commit and break key uniqueness — no serial order produces
          that state. :meth:`merge` passes ``partition_scoped`` =
          (partition cols ⊆ merge key); delete/overwrite_partitions
          by construction touch only rows in the partitions they
          rewrite.
        - a full **overwrite** on either side is never rebased: it
          replaces the table (schema included), so any concurrent
          intent is semantically void.

        The symmetric condition on INTERVENING commits is checked, not
        assumed: every merge records its ``partition_scoped`` flag in
        its commit record, and a rewrite refuses to rebase over an
        intervening merge whose flag is absent or false (delete only
        removes rows from the files it touched and
        overwrite_partitions reads only its own partitions, so those
        ops are reorderable by construction).

        A concurrent vacuum may truncate any of the log reads this
        check performs (commit records AND state replays) —
        :meth:`_commit_retry` degrades it to a plain conflict.
        """
        if op == "merge_sync":
            # its delete-unmatched decision reads an arbitrary scope
            # predicate — never provably partition-confined, so a
            # conflicted sync always re-runs on the fresh snapshot
            return False
        if not partition_scoped and op in (
            "merge", "delete", "overwrite_partitions"
        ):
            return False  # read scope spans partitions: cannot reorder
        pcols = self._layout(self._state(new_base))[0]
        our_parts: set[tuple] | None = None
        if removed or op in ("merge", "delete", "overwrite_partitions"):
            if not pcols:
                return False  # no partition metadata → cannot prove disjoint
            base_parts = self._state(base_version)["partitions"]
            our_parts = self._partition_tuples(
                removed, base_parts, pcols
            ) | self._partition_tuples(
                list(partitions_added), partitions_added, pcols
            )
        for v in range(base_version + 1, new_base + 1):
            rec = self.commit_record(v)  # FileNotFoundError → caller degrades
            their_op = rec.get("op")
            if their_op in ("overwrite", "restore"):
                # both replace table state wholesale (restore may also
                # change the schema back): no commit reorders across them
                return False
            if "dv" in rec and set(rec["dv"]["files"]) & set(removed):
                # their deletion vector soft-deletes rows INSIDE files
                # our rewrite replaces: our rewritten data was computed
                # from the pre-vector snapshot, so re-CASing would
                # RESURRECT their deleted rows (and the replay drops
                # the vector with the removed file, hiding it) — no
                # serial order produces that state (round-6 review
                # repro: rebased cow merge over a concurrent
                # merge-on-read delete brought all 10 rows back)
                return False
            if our_parts is None:
                continue  # blind append: compatible with the rest
            if their_op in ("compact",):
                return False  # compaction rewrites every partition
            if their_op == "merge_sync":
                # their scope read may have spanned partitions —
                # reordering our rewrite before it could change which
                # rows their sync deleted
                return False
            if their_op == "merge" and not rec.get("partition_scoped", False):
                # their merge's key-match READ spanned partitions (or
                # predates the recorded flag): ordering our rewrite
                # first could have changed their insert-vs-update
                # decision — no provable serial order, so no rebase.
                # The flag rides the commit record, so this check
                # holds across writers, not just within this process.
                return False
            their_parts = self._partition_tuples(
                list(rec.get("partitions", {})), rec.get("partitions", {}), pcols
            ) | self._partition_tuples(
                rec.get("removed", []),
                self._state(v - 1)["partitions"],
                pcols,
            )
            if our_parts & their_parts:
                return False
        if removed:
            live = set(self._state(new_base)["files"])
            if not set(removed) <= live:
                return False
        return True

    def _commit_retry(
        self,
        base_version: int,
        *,
        op: str,
        added: list[str],
        removed: list[str],
        new_rows: int,
        removed_rows: int,
        stats: dict[str, dict] | None = None,
        partitions: dict[str, dict] | None = None,
        partition_types: dict[str, str] | None = None,
        incoming_schema=None,
        epoch: int | None = None,
        partition_scoped: bool = True,
        max_attempts: int = 10,
        props: dict | None = None,
    ) -> int | None:
        """CAS with rebase-on-logical-non-conflict: on
        :class:`CommitConflictError`, re-read the moved snapshot, check
        compatibility (:meth:`_rebase_ok`) and re-CAS the SAME data
        files against the new base — the data job never reruns. Commits
        that genuinely overlap still raise, exactly as before.

        ``new_rows``/``removed_rows`` are the commit's row delta
        (row-count bookkeeping is re-derived per attempt from the
        current snapshot). Returns the committed version, or None when
        an epoch commit finds its epoch already applied on the moved
        snapshot (streaming replay: a no-op, not an error)."""
        attempt_base = base_version
        for _ in range(max_attempts):
            prev = self._state(attempt_base)
            if _epoch_applied(prev, epoch):
                return None  # replayed epoch landed concurrently: no-op
            schema = (
                self._merge_schema(prev, incoming_schema)
                if incoming_schema is not None
                else None
            )
            try:
                return self._commit(
                    attempt_base,
                    op=op,
                    added=added,
                    removed=removed,
                    rows_total=prev["rows"] + new_rows - removed_rows,
                    stats=stats,
                    partitions=partitions,
                    partition_types=partition_types,
                    schema=schema,
                    epoch=epoch,
                    partition_scoped=(
                        partition_scoped if op == "merge" else None
                    ),
                    props=props,
                )
            except CommitConflictError as e:
                # after a lost link the winner's version is unknown
                new_base = self.current_version() if e.found is None else e.found
                try:
                    ok = self._rebase_ok(
                        op, removed, partitions or {}, attempt_base,
                        new_base, partition_scoped,
                    )
                except FileNotFoundError:
                    ok = False  # vacuum truncated the log mid-check
                if not ok:
                    raise
                attempt_base = new_base
        raise CommitConflictError(
            f"table {self.name}: gave up after {max_attempts} rebase attempts"
        )

    def _write_checkpoint(self, version: int) -> None:
        path = self._checkpoint_path(version)
        if path.exists():
            return
        state = self._state(version)
        tmp = path.with_suffix(f".tmp-{uuid.uuid4().hex}")
        tmp.write_text(json.dumps(state))
        os.replace(tmp, path)

    def append(self, df: DataFrame, _props=None) -> int:
        """ACID append; returns the new version. Schema evolution:
        new columns merge into the table schema (metadata-only — no
        existing file is rewritten; old files read the column as NULL),
        type changes raise :class:`SchemaEvolutionError` BEFORE any
        data is written. ``_props`` (a dict, or a zero-arg callable
        run after the data write and before the commit, which may
        refuse the commit by raising — see :meth:`_append`) rides
        the commit record verbatim (see :meth:`_commit`); cumulative
        props assume a single writer per prop — a rebase re-CASes the
        same record, it does not recompute caller state."""
        return self._append(df, None, _props)

    def _append(self, df: DataFrame, epoch: int | None, props):
        """The one append body: :meth:`append` is
        :meth:`append_epoch` without an epoch. A callable ``props``
        runs AFTER the data write and before the commit — the
        Observation idiom: metrics observed on ``df`` are ready once
        the write action ran, so a caller can record or check
        aggregates of the written batch with zero extra jobs. A
        callable that raises is a pre-commit gate refusing the batch:
        the commit's staged directory is deleted and the error
        propagates, so no version is made and nothing is left behind."""
        base = self.current_version()
        prev = self._state(base)
        if _epoch_applied(prev, epoch):
            return None
        self._merge_schema(prev, df)  # validate before writing
        commit_dir = f"data/{uuid.uuid4().hex}"
        files, rows, stats, parts, ptypes = self._write_data(
            df, prev, commit_dir=commit_dir
        )
        if callable(props):
            try:
                props = props()
            except BaseException:
                shutil.rmtree(self.root / commit_dir, ignore_errors=True)
                raise
        return self._commit_retry(
            base,
            op="append",
            added=files,
            removed=[],
            new_rows=rows,
            removed_rows=0,
            stats=stats,
            partitions=parts,
            partition_types=ptypes,
            incoming_schema=df.schema,
            epoch=epoch,
            props=props,
        )

    def overwrite(
        self,
        df: DataFrame,
        _epoch: int | None = None,
        _epoch_force: bool = False,
    ) -> int | None:
        """ACID full replace; returns the new version. Old files stay
        on disk for time travel until :meth:`vacuum`. The table schema
        is REPLACED by the incoming frame's — overwrite is the explicit
        migration path for type changes that :meth:`append` rejects.
        ``_epoch`` records an idempotence watermark in the commit (the
        streaming-sink convention; ``lake/ivm.py`` uses it to stamp
        the source version a full refresh materialized). An epoch at
        or behind the table's applied watermark returns None WITHOUT
        committing (replay no-op, same contract as
        :meth:`_commit_retry`) — a replayed or concurrent
        ``full_refresh`` must not re-commit its epoch or regress the
        stamp (round-6 advice). The epoch check races only with
        commits that land between it and our CAS, and those make the
        CAS raise :class:`CommitConflictError` rather than regress.
        ``_epoch_force=True`` skips the replay check and stamps the
        REQUESTED ``_epoch`` verbatim — the deliberate resync path
        (``IncrementalAggView.full_refresh(force=True)``). Forcing a
        LOWER epoch is allowed by design: when the upstream source was
        torn down and rebuilt (its version count restarted), clamping
        to the old higher stamp would leave every later incremental
        refresh a silent no-op until the new source outgrew the stale
        stamp — the exact divergence force exists to recover
        (round-8 review)."""
        base = self.current_version()
        prev = self._state(base)
        if not _epoch_force and _epoch_applied(prev, _epoch):
            return None
        files, rows, stats, parts, ptypes = self._write_data(df, prev)
        return self._commit(
            base,
            op="overwrite",
            added=files,
            removed=list(prev["files"]),
            rows_total=rows,
            stats=stats,
            partitions=parts,
            partition_types=ptypes,
            schema=df.schema.json(),
            epoch=_epoch,
        )

    def stamp_epoch(self, epoch: int) -> int | None:
        """Epoch-only no-op commit: advances the idempotence watermark
        without touching a single file or row. The consumer-side
        checkpoint for windows whose delta is DELIBERATELY empty —
        e.g. an incremental view dropping an all-late window under
        watermark semantics must still record "source version N
        processed" or every later refresh re-scans the dropped commits
        (round-8 review; Spark advances its offset log past
        dropped-late batches the same way). Returns None when at or
        behind the stored epoch (replay no-op)."""
        base = self.current_version()
        prev = self._state(base)
        if _epoch_applied(prev, epoch):
            return None
        return self._commit(
            base,
            op="append",
            added=[],
            removed=[],
            rows_total=prev["rows"],
            epoch=epoch,
        )

    def _retained_versions(self) -> list[int]:
        if not self._manifest_dir.exists():
            return []
        return sorted(
            int(p.stem[1:]) for p in self._manifest_dir.glob("v*.json")
        )

    def _commit_ts(self, v: int) -> datetime:
        raw = json.loads(self._manifest_path(v).read_text()).get("ts_utc")
        # pre-feature records carry no timestamp: treat as older than
        # any queried instant (eligible floor; they form a version
        # prefix, so monotonicity holds)
        return (
            datetime.fromisoformat(raw)
            if raw
            else datetime.min.replace(tzinfo=timezone.utc)
        )

    def version_at_timestamp(self, ts) -> int:
        """AS-OF time travel resolution (Delta ``TIMESTAMP AS OF``):
        the latest version whose commit time is ≤ ``ts`` (ISO string
        or datetime; naive datetimes are taken as UTC). Commit times
        are monotone over versions, so this is a BINARY SEARCH parsing
        O(log history) commit records — a long-history bloom-indexed
        table's records carry megabytes of stats that a linear sweep
        would re-parse on every lookup. Raises ``ValueError`` if
        ``ts`` predates the earliest retained commit (vacuum truncates
        history — same honesty rule as restore-to-vacuumed-version)."""
        if isinstance(ts, str):
            ts = datetime.fromisoformat(ts)
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=timezone.utc)
        vs = self._retained_versions()
        best = None
        lo, hi = 0, len(vs) - 1
        while lo <= hi:
            mid = (lo + hi) // 2
            if self._commit_ts(vs[mid]) <= ts:
                best = vs[mid]
                lo = mid + 1
            else:
                hi = mid - 1
        if best is None:
            earliest = self._commit_ts(vs[0]) if vs else None
            raise ValueError(
                f"table {self.name}: no retained commit at or before "
                f"{ts.isoformat()} (earliest retained: "
                f"{earliest.isoformat() if earliest else 'none'})"
            )
        return best

    def restore(self, version: int) -> int:
        """Delta-style RESTORE TABLE ... TO VERSION: make the current
        state equal the snapshot at ``version`` via ONE metadata-only
        commit — no data file is copied or rewritten, history is
        preserved (the restore itself is a new version; restoring
        forward again works). Restoring to the current version is a
        no-op and commits nothing (idempotent, the SCD2 convention).

        Raises ``FileNotFoundError`` if :meth:`vacuum` has already
        deleted a data file the target snapshot needs (the same
        honesty rule Delta enforces), and ``CommitConflictError`` on a
        concurrent writer — restore REPLACES state, so it never
        rebases (same class as overwrite)."""
        base = self.current_version()
        if version < 0 or version > base:
            raise ValueError(
                f"table {self.name}: cannot restore to v{version} "
                f"(current v{base})"
            )
        if version == base:
            return base
        tgt = self._state(version)
        missing = [
            f for f in tgt["files"] if not (self.root / f).exists()
        ]
        if missing:
            raise FileNotFoundError(
                f"table {self.name}: restore to v{version} needs "
                f"{len(missing)} file(s) removed by vacuum, e.g. "
                f"{missing[0]}"
            )
        cur = self._state(base)
        cur_files = set(cur["files"])
        tgt_files = set(tgt["files"])
        added = [f for f in tgt["files"] if f not in cur_files]
        return self._commit(
            base,
            op="restore",
            added=added,
            removed=[f for f in cur["files"] if f not in tgt_files],
            rows_total=tgt["rows"],
            stats={f: tgt["stats"][f] for f in added if f in tgt["stats"]},
            partitions={
                f: tgt["partitions"][f]
                for f in added
                if f in tgt["partitions"]
            },
            partition_types=tgt.get("partition_types") or None,
            schema=tgt.get("schema"),
            # deletion-vector state is position-dependent per file, so
            # restore must replace the WHOLE mapping with the target
            # snapshot's — carrying the current mapping forward would
            # apply later vectors to re-added files (over-delete) or
            # none to them (resurrect soft-deleted rows)
            dv_reset={
                "dvs": tgt.get("dvs") or {},
                "deleted": tgt.get("dv_deleted") or {},
            },
        )

    def clone_to(
        self,
        target_name: str,
        *,
        version: int | None = None,
        deep: bool = False,
    ) -> "TxnTable":
        """CLONE TABLE: snapshot this table (optionally at a past
        ``version``) into a NEW table that then evolves independently —
        the dev/test-branch primitive (Delta CLONE / Iceberg snapshot
        ref). ONE commit on the target; the source's log is untouched.

        Shallow mode (default) **hard-links** every data file instead
        of copying: O(files) metadata work, zero bytes moved — and,
        unlike Delta's shallow clone (which records source paths and
        breaks when the source is VACUUMed), the link keeps the inode
        alive, so vacuuming or deleting the SOURCE can never corrupt
        the clone (pinned in tests/test_txn_clone.py). On an object
        store, where links don't exist, ``deep=True`` is the copy
        path; a same-bucket server-side copy plays the shallow role.

        Stats, partition layout, and the authoritative log schema all
        carry over verbatim, so data-skipping and partition pruning
        work on the clone from version 1."""
        state = self.manifest(version)
        target = TxnTable(
            self.session,
            target_name,
            stats_cols=self.stats_cols,
            partition_cols=list(state.get("partition_cols", [])),
            checkpoint_interval=self.checkpoint_interval,
            bloom_cols=self.bloom_cols,
            bloom_bits=self.bloom_bits,
            partition_transforms=state.get("partition_transforms") or None,
        )
        found = target.current_version()
        if found != 0:
            raise ValueError(
                f"clone target {target_name} is not empty (v{found})"
            )
        missing = [f for f in state["files"] if not (self.root / f).exists()]
        if missing:
            raise FileNotFoundError(
                f"table {self.name}: clone of v{state['version']} needs "
                f"{len(missing)} file(s) removed by vacuum, e.g. {missing[0]}"
            )
        # deletion vectors are root-RELATIVE state: link/copy their
        # parquets alongside the data files so the clone's reads keep
        # soft-deleting the same rows, vacuum-independently
        dv_parquets = sorted(
            {
                str(p.relative_to(self.root))
                for paths in (state.get("dvs") or {}).values()
                for rel in paths
                for p in (self.root / rel).rglob("*")
                if p.is_file() and not p.name.startswith(("_", "."))
            }
        )
        for f in list(state["files"]) + dv_parquets:
            src, dst = self.root / f, target.root / f
            dst.parent.mkdir(parents=True, exist_ok=True)
            if deep:
                shutil.copyfile(src, dst)
            else:
                try:
                    os.link(src, dst)
                except OSError:  # cross-device (EXDEV) etc. — degrade to copy
                    shutil.copyfile(src, dst)
        target._commit(
            0,
            op="clone",
            added=list(state["files"]),
            removed=[],
            rows_total=state["rows"],
            stats=dict(state["stats"]),
            partitions=dict(state["partitions"]),
            partition_types=state.get("partition_types") or None,
            schema=state.get("schema"),
            dv_reset={
                "dvs": state.get("dvs") or {},
                "deleted": state.get("dv_deleted") or {},
            },
        )
        return target

    def merge(
        self,
        updates: DataFrame,
        key_cols: list[str],
        prune: bool = True,
        _epoch: int | None = None,
        merge_on_read: bool = False,
    ) -> int | None:
        """ACID upsert: update rows matching ``key_cols``, insert the
        rest — atomic across every file in ONE commit (the property
        a per-partition staged swap cannot give). Returns the new version
        (None only for internal epoch merges whose epoch landed
        concurrently — a streaming-replay no-op). The copy-on-write
        path is :meth:`merge_sync`'s body (:meth:`_upsert`) with an
        empty delete scope.

        File pruning: when the first merge key is a stats column, only
        files whose recorded [min,max] range intersects the updates'
        key range are rewritten; every other file is carried into the
        new snapshot BY REFERENCE — zero read, zero write. On a 100 TB
        table clustered by the merge key, a single-tenant upsert
        rewrites one file's worth of data and the commit is still one
        atomic record. Files without recorded stats are conservatively
        rewritten; ``prune=False`` forces the full rewrite.

        ``merge_on_read=True``: the deletion-vector upsert (Delta's
        DV-enabled MERGE). Matched rows are soft-deleted by position
        vector and the updates land as NEW files — no existing file
        is read in full or rewritten, so a small upsert's cost is
        O(new rows + matched positions) regardless of how many
        gigabytes the matched files hold. Same end state as the
        copy-on-write path (pinned); :meth:`compact` reconciles.
        Commits via plain CAS (vectors index an exact snapshot —
        never rebased)."""
        base = self.current_version()
        prev = self._state(base)
        if _epoch_applied(prev, _epoch):
            return None  # replayed epoch: no-op before any job or write
        self._merge_schema(prev, updates)  # validate before writing
        with self._persisted(updates) as updates:
            if not (merge_on_read and base > 0):
                return self._upsert(
                    updates, key_cols, base, prev, "merge", _epoch, prune
                )
            # stats-prune to the files whose key range can match; their
            # rows whose key the updates carry become the vector (the
            # semi-join reads only key + lineage columns)
            return self._rerun_on_conflict(
                base,
                prev,
                lambda b, p: self._vector_commit(
                    b,
                    p,
                    "merge",
                    self._key_touched(p, updates, key_cols[0], prune),
                    lambda live: live.join(
                        updates.select(*key_cols).distinct(),
                        key_cols,
                        "left_semi",
                    ),
                    new=updates,
                    epoch=_epoch,
                ),
            )

    @contextmanager
    def _persisted(self, frame: DataFrame):
        """``frame`` persisted for the duration of one upsert. Its plan
        is consumed several times (key-range agg, key join, data
        write) — trivial for a small frame, but callers routinely pass
        a full change-feed fold or an IVM join plan, which would
        otherwise execute per consumer (spills past memory; never
        larger than the one materialization each consumer would pay
        anyway). A frame the CALLER already persisted is used as is:
        its cache must survive us."""
        sl = frame.storageLevel
        if sl.useMemory or sl.useDisk or sl.useOffHeap:
            yield frame
            return
        frame = frame.persist()
        try:
            yield frame
        finally:
            frame.unpersist()

    def _key_touched(
        self, prev: dict, frame: DataFrame, k: str, prune: bool = True
    ) -> list[str]:
        """The files whose recorded [min,max] range of ``k`` intersects
        ``frame``'s key range — every file when ``prune`` is off or
        ``k`` records no stats. Stats-less files are conservatively
        touched; an empty frame touches nothing. Shared by the upsert
        and the vector merge so the NULL-stats and empty-frame
        subtleties live in ONE place."""
        from pyspark.sql import functions as F

        if not (prev["files"] and prune and k in self.stats_cols):
            return list(prev["files"])
        row = frame.agg(F.min(k).alias("lo"), F.max(k).alias("hi")).collect()[
            0
        ]
        umin, umax = row["lo"], row["hi"]
        if umin is None:  # empty frame: nothing intersects
            return []
        touched = []
        for f in prev["files"]:
            rng = _decode_range(prev["stats"].get(f, {}).get(k))
            if rng is None or rng[0] is None or (
                rng[0] <= umax and umin <= rng[1]
            ):
                touched.append(f)
        return touched

    def merge_sync(
        self,
        source: DataFrame,
        key_cols: list[str],
        scope=None,
        scope_partition_filter: dict[str, object] | None = None,
        scope_candidate_files: list[str] | None = None,
        _epoch: int | None = None,
    ) -> int | None:
        """MERGE with ``WHEN NOT MATCHED BY SOURCE THEN DELETE`` —
        the CDC full-state sync: after the commit, the rows matching
        ``scope`` equal ``source`` exactly (matched keys replaced,
        unmatched-in-scope rows DELETED), while rows outside the scope
        are untouched. ``scope_candidate_files`` lets a caller that
        ALREADY resolved the files that can hold scope rows (e.g. an
        IVM refresh whose scoped view read pruned by key stats) hand
        that set over, so the scope-hit scan opens those files instead
        of the whole table — without it every incremental refresh pays
        an O(view) scan just to rediscover a file set the caller
        computed one statement earlier (round-8 advice). Trust
        contract mirrors ``scope_partition_filter``: files outside the
        list are taken scope-free — a too-narrow list under-deletes
        (stale in-scope rows survive); it can never corrupt kept rows. The canonical use is the reference's
        one-batch-per-tenant publish shape: "this frame is tenant X's
        complete current state". ``scope=None`` syncs the whole table
        (≡ overwrite, but with merge bookkeeping and file pruning of
        the untouched remainder when a scope is given).

        Files to rewrite = files containing scope rows ∪ files whose
        key-range intersects the source keys; everything else carries
        by reference. Kept rows from rewritten files are exactly those
        OUTSIDE the scope with keys not in the source (inside-scope
        rows are all either replaced or deleted by definition). A row
        where ``scope`` evaluates to NULL is NOT in scope (SQL MERGE's
        AND-condition semantics: delete only when the condition is
        TRUE) — it is kept, never deleted."""
        from pyspark.sql import functions as F

        base = self.current_version()
        prev = self._state(base)
        if _epoch_applied(prev, _epoch):
            return None  # replayed epoch: no-op before any job or write
        self._merge_schema(prev, source)  # validate BEFORE any data write
        hits: set[str] = set()
        if scope is not None and prev["files"]:
            # the scope-hit scan defaults to the whole table (a scope
            # predicate can reference anything); when the caller states
            # that the scope is partition-confined —
            # scope_partition_filter={'tenant': 'A'}, the canonical
            # per-tenant publish — the manifest prunes the scan to
            # those partitions first, so a tenant sync on a 100 TB
            # table scans one tenant, not the table. Contract: files
            # outside the filter are trusted scope-free (a too-narrow
            # filter under-deletes; it can never corrupt kept rows).
            if scope_candidate_files is not None:
                # intersect with the live file list: a caller holding
                # a slightly-stale resolution (file compacted away
                # between its read and this commit) must not crash the
                # load — missing files simply can't hold scope rows
                live = set(prev["files"])
                scan_files = [f for f in scope_candidate_files if f in live]
            elif scope_partition_filter:
                scan_files = self.resolve_files(
                    version=base, partition_filter=scope_partition_filter
                )
            else:
                scan_files = prev["files"]
            if scan_files:
                # row lineage instead of input_file_name(): on a
                # DV'd table the loaded frame is a join (data ⋈ anti
                # vectors) and input_file_name() is undefined across
                # join shapes; _dv_file is the decoded manifest-
                # relative path, exact on every plan — plain
                # membership, no re-decoding (an extra unquote() would
                # double-decode '%25' partitions and let their scope
                # rows escape the sync)
                scan = self._load_files(scan_files, prev, keep_lineage=True)
                hits = {
                    r["_f"]
                    for r in scan.filter(scope)
                    .select(F.col("_dv_file").alias("_f"))
                    .distinct()
                    .collect()  # one row per file containing scope rows
                }
        with self._persisted(source) as source:
            # scope=None: the whole table is the scope — every file is
            # rewritten (no key pruning) and no row is kept
            return self._upsert(
                source,
                key_cols,
                base,
                prev,
                "merge_sync",
                _epoch,
                prune=scope is not None,
                scope=F.lit(True) if scope is None else scope,
                hits=hits,
            )

    def _upsert(
        self,
        source: DataFrame,
        key_cols: list[str],
        base: int,
        prev: dict,
        op: str,
        epoch: int | None,
        prune: bool = True,
        scope=None,
        hits: set[str] = frozenset(),
    ) -> int | None:
        """The one copy-on-write upsert of :meth:`merge` and
        :meth:`merge_sync`: rewrite the files whose key range can hold
        a source key (:meth:`_key_touched`) or that hold a row of the
        delete ``scope`` (``hits``), keeping their rows whose key the
        source lacks and that lie outside the scope, plus every source
        row; all other files carry by reference. A plain merge is the
        empty scope (None): it deletes no row and scans nothing."""
        from pyspark.sql import functions as F

        keyed = set(self._key_touched(prev, source, key_cols[0], prune))
        touched = [f for f in prev["files"] if f in keyed or f in hits]

        def kept(rows: DataFrame) -> DataFrame:
            rows = rows.join(
                source.select(*key_cols).distinct(), key_cols, "left_anti"
            )
            # NULL scope → not in scope → KEEP (coalesce guards the
            # three-valued ~NULL trap that silently deleted such rows)
            if scope is None:
                return rows
            return rows.filter(~F.coalesce(scope, F.lit(False)))

        # a merge's READ scope is partition-confined only when the
        # partition columns are part of the merge key (a key then
        # cannot match rows outside its own partition) — the condition
        # for rebase-on-conflict to stay serializable
        scoped = set(self._layout(prev)[0]) <= set(key_cols)
        return self._rewrite(
            base, prev, op, touched, kept, source,
            epoch=epoch, partition_scoped=scoped,
        )

    def _rewrite(
        self,
        base: int,
        prev: dict,
        op: str,
        touched,
        kept=None,
        new: DataFrame | None = None,
        *,
        epoch: int | None = None,
        partition_scoped: bool = True,
    ) -> int | None:
        """The one copy-on-write commit of every row-level op — merge,
        merge_sync, delete and overwrite_partitions, the Delta paper's
        rewrite transaction: write ``kept(load(touched)) ∪ new`` as
        fresh files, then ONE :meth:`_commit_retry` that removes
        ``touched`` and adds them. ``kept`` None keeps no row of the
        touched files (nothing is loaded); ``new`` None adds no row
        and leaves the table schema as it is. ``touched`` may instead
        be a function of the written files' partition values, called
        after the write (:meth:`overwrite_partitions`)."""
        frame = new
        if kept is not None and touched:
            frame = kept(self._load_files(touched, prev))
            if new is not None:
                # allowMissingColumns BOTH ways: a new frame carrying a
                # NEW column (schema evolution, validated by the
                # caller) null-fills it on the kept side; a table
                # column the new frame LACKS null-fills on the new
                # side — kept rows always retain every column they had
                # (projecting kept to the new frame's columns was a
                # data-loss bug: it silently dropped evolved columns
                # from untouched rows)
                frame = frame.unionByName(new, allowMissingColumns=True)
        files, rows, stats, parts, ptypes = self._write_data(frame, prev)
        if callable(touched):
            touched = touched(parts)
        return self._commit_retry(
            base,
            op=op,
            added=files,
            removed=touched,
            new_rows=rows,
            removed_rows=self._rows_of(prev, touched),
            stats=stats,
            partitions=parts,
            partition_types=ptypes,
            incoming_schema=None if new is None else new.schema,
            epoch=epoch,
            partition_scoped=partition_scoped,
        )

    def delete_where(self, condition, merge_on_read: bool = False) -> int:
        """ACID delete, file-pruned the way Delta's DeleteCommand is:
        one column-pruned scan finds the files that actually CONTAIN
        matching rows; only those are rewritten (without the matches),
        every untouched file carries into the new snapshot by
        identical path reference. A single-tenant delete on a 100 TB
        table rewrites that tenant's files, not the table — the scan
        that finds them reads only the predicate's columns, and
        time travel keeps the pre-delete snapshot readable.

        ``merge_on_read=True`` switches to DELETION VECTORS (Delta/
        Iceberg v2 merge-on-read): instead of rewriting any data file,
        the commit records a per-file vector of deleted row positions
        (written as one small parquet by a distributed job — no driver
        materialization) and readers anti-join it at scan time. A
        frequent small delete on a 100 TB table moves ZERO data bytes;
        :meth:`compact` is the reconciliation path that rewrites files
        clean and drops their vectors."""
        from pyspark.sql import functions as F

        # SQL DELETE removes rows only where the predicate is TRUE: a
        # NULL predicate keeps the row (same three-valued ~NULL trap
        # fixed in merge_sync — without the coalesce, a NULL-predicate
        # row in a touched file was silently deleted while an
        # identical row in an untouched file survived)
        return self._delete_matching(
            match=lambda df: df.filter(condition),
            keep=lambda df: df.filter(
                ~F.coalesce(condition, F.lit(False))
            ),
            merge_on_read=merge_on_read,
        )

    def _delete_matching(self, match, keep, merge_on_read: bool) -> int:
        """Shared core of :meth:`delete_where` (predicate) and
        :meth:`delete_keys` (keyed semi-join): ``match(df)`` filters a
        scan to the rows to delete, ``keep(df)`` to the survivors —
        the two spellings of one membership test, supplied together
        so they can never drift. SQL DELETE semantics ride ``match``
        on the vector path: a NULL predicate row / NULL key simply
        doesn't match and survives."""
        from pyspark.sql import functions as F

        base = self.current_version()
        prev = self._state(base)
        if merge_on_read:
            return self._rerun_on_conflict(
                base,
                prev,
                lambda b, p: self._vector_commit(
                    b, p, "delete", p["files"], match
                ),
            )
        scan = self._load_files(prev["files"], prev, keep_lineage=True)
        hit_files = {
            r["_f"]
            # lineage, not input_file_name(): exact manifest-relative
            # paths, well-defined even when the scan plan is the DV
            # anti-join of two file sources
            for r in match(scan)
            .select(F.col("_dv_file").alias("_f"))
            .distinct()
            .collect()  # one row per file containing matches — bounded
        }
        touched = [f for f in prev["files"] if f in hit_files]
        if not touched:  # no matching rows anywhere: clean no-op commit
            return self._commit(
                base,
                op="delete",
                added=[],
                removed=[],
                rows_total=prev["rows"],
            )
        return self._rewrite(base, prev, "delete", touched, keep)

    def delete_keys(
        self,
        keys: DataFrame,
        key_cols: list[str],
        merge_on_read: bool = False,
    ) -> int:
        """Keyed ACID delete: remove every row whose ``key_cols``
        tuple appears in the ``keys`` FRAME — the CDC-consumer shape
        (a delete set arrives as a DataFrame; expressing it as a
        driver-side ``isin`` literal list would collect the whole set
        through the driver, the anti-pattern this method exists to
        avoid). Matching is a distributed semi-join, so the delete
        set scales with the cluster, and file pruning works exactly
        like :meth:`delete_where`: only files that actually contain
        matching rows rewrite (copy-on-write) or get vector entries
        (``merge_on_read=True`` — zero data bytes moved). SQL join
        semantics: NULL key components never match (a CDC feed does
        not carry NULL-keyed deletes)."""
        kset = keys.select(*key_cols).dropDuplicates(key_cols)
        return self._delete_matching(
            match=lambda df: df.join(kset, key_cols, "left_semi"),
            keep=lambda df: df.join(kset, key_cols, "left_anti"),
            merge_on_read=merge_on_read,
        )

    def _write_dv_vector(self, matches: DataFrame, prev: dict):
        """Write the (file_key, row_idx) ``matches`` as one parquet
        vector, aggregate per-file deleted counts and validate every
        key against the snapshot. Returns the commit's ``dv`` payload,
        or None when nothing matched. On either write path a refused
        vector — nothing matched, or a key names no live file —
        leaves no directory behind."""
        from pyspark.sql import functions as F

        dv_rel = f"dv/{uuid.uuid4().hex}"
        dv_dir = self.root / dv_rel
        # BOUNDED-VECTOR FAST PATH: past the commit write's gate
        # (_driver_collect), ONE Arrow collect replaces persist + write
        # job + count job. The DV read pins _DV_SCHEMA, so the single
        # pyarrow part file reads identically; manifests record only
        # the directory and per-data-file counts.
        counts = None
        tbl = self._driver_collect(matches)
        if tbl is not None:
            counts = Counter(tbl.column("file_key").to_pylist())
            if counts:
                import pyarrow.parquet as _pq

                dv_dir.mkdir(parents=True, exist_ok=True)
                _pq.write_table(
                    tbl,
                    dv_dir / f"part-00000-{uuid.uuid4().hex}.snappy.parquet",
                    compression="snappy",
                )
        if counts is None:
            # persist: the matches plan (a lineage scan + key
            # semi-join) feeds BOTH the vector write and the per-file
            # counts; without it the counts re-read the just-written
            # parquet from disk — an extra listing + scan round-trip
            # per merge-on-read commit
            matches = matches.persist()
            try:
                matches.write.mode("overwrite").parquet(str(dv_dir))
                counts = {
                    r["file_key"]: int(r["n"])
                    for r in matches.groupBy("file_key")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()  # one row per touched file — bounded
                }
            finally:
                matches.unpersist()
        live = set(prev["files"])
        unknown = [k for k in counts if k not in live]
        if not counts or unknown:
            shutil.rmtree(dv_dir, ignore_errors=True)
        if unknown:
            raise RuntimeError(
                f"table {self.name}: deletion vector references "
                f"unknown file {unknown[0]!r}"
            )
        return {"path": dv_rel, "files": dict(counts)} if counts else None

    def _vector_commit(
        self,
        base: int,
        prev: dict,
        op: str,
        files: list[str],
        match,
        new: DataFrame | None = None,
        epoch: int | None = None,
    ) -> int | None:
        """The merge-on-read commit of :meth:`merge` and the deletes:
        the rows ``match`` keeps of a lineage scan of ``files`` become
        this commit's deletion vector, ``new`` (if any) lands as new
        data files, and ONE plain CAS commits both with ``epoch`` (None
        when already applied) — no existing data file is rewritten.
        Never rebased: a vector indexes exactly the snapshot whose files
        it names, so a conflict deletes the vector and raises for
        :meth:`_rerun_on_conflict`."""
        from pyspark.sql import functions as F

        if _epoch_applied(prev, epoch):
            return None
        dv = None
        if files:
            live = self._load_files(files, prev, keep_lineage=True)
            dv = self._write_dv_vector(
                match(live).select(
                    F.col("_dv_file").alias("file_key"),
                    F.col("_dv_row").alias("row_idx"),
                ),
                prev,
            )
        added, rows, stats, parts, ptypes = (
            ([], 0, None, None, None)
            if new is None
            else self._write_data(new, prev)
        )
        try:
            return self._commit(
                base,
                op=op,
                added=added,
                removed=[],
                rows_total=prev["rows"]
                + rows
                - (sum(dv["files"].values()) if dv else 0),
                stats=stats,
                partitions=parts,
                partition_types=ptypes,
                schema=None if new is None else self._merge_schema(prev, new),
                epoch=epoch,
                dv=dv,
            )
        except CommitConflictError:
            if dv:
                shutil.rmtree(self.root / dv["path"], ignore_errors=True)
            raise

    def _rerun_on_conflict(self, base: int, prev: dict, body):
        """``body(base, prev)``, RE-RUN against the fresh snapshot when
        its plain CAS loses — at most 4 runs. The conflict handling of
        every vector commit: a vector indexes exactly one snapshot's
        files, so it can never be re-CASed blindly, and re-running is
        the correct serial order (the outcome the copy-on-write path's
        rebase-or-retry gives)."""
        for attempt in range(4):
            try:
                return body(base, prev)
            except CommitConflictError as e:
                if attempt == 3:
                    raise
                base = self.current_version() if e.found is None else e.found
                prev = self._state(base)

    def overwrite_partitions(self, replacement: DataFrame) -> int:
        """Dynamic-partition overwrite (Delta ``replaceWhere`` /
        ``partitionOverwriteMode=dynamic``), transactional: partitions
        present in ``replacement`` are replaced, every other partition
        carries by reference — and unlike the Hive version, the swap
        of ALL affected partitions is one atomic commit. The replaced
        partitions are the manifest partition values of the files this
        commit writes: the same raw Hive ``key=value`` strings the
        snapshot records for every file, on both writers, so NULL,
        boolean and empty-string partitions are replaced like any
        other, and no job runs before the write."""
        base = self.current_version()
        prev = self._state(base)
        pcols = self._layout(prev)[0]
        if not pcols:
            raise ValueError(
                f"table {self.name} has no partition columns; use overwrite()"
            )
        self._merge_schema(prev, replacement)  # validate before writing

        def replaced(written: dict[str, dict]) -> list[str]:
            combos = self._partition_tuples(list(written), written, pcols)
            return [
                f
                for f in prev["files"]
                if self._partition_tuples([f], prev["partitions"], pcols)
                <= combos
            ]

        return self._rewrite(
            base, prev, "overwrite_partitions", replaced, new=replacement
        )

    def consolidate_vectors(self) -> int | None:
        """Merge every stacked deletion-vector parquet into ONE vector
        and commit the remap — metadata-only: zero data files move,
        the live row set is unchanged (round-6 verdict item 2 /
        round-7 item 4).

        Why: each merge-on-read delete/merge appends its OWN vector
        path to every file it touches, so after N deletes a read
        anti-joins N vector parquets — read amplification that grows
        with delete count until :meth:`compact` rewrites the data.
        Consolidation resets that to one vector scan at the cost of
        rewriting only the (tiny) vectors themselves — the
        merge-on-read maintenance step Delta's DV tables run between
        OPTIMIZEs. Output part-file count scales with total vector
        rows (not with how many deletes accumulated), so the rewrite
        stays distributed at 100 TB and a point read opens ~one
        vector part.

        Commits via plain CAS, never a rebase — like the vector
        writers, a remap is only valid against the exact snapshot
        whose vectors it merged; on conflict the caller re-runs.
        Returns the new version, or None when nothing is stacked
        (0 or 1 distinct vector paths). Old vector dirs stay for time
        travel until :meth:`vacuum` (state-level references keep them
        correct for historical reads)."""
        from pyspark.sql import functions as F

        base = self.current_version()
        prev = self._state(base)
        dvs = prev.get("dvs") or {}
        all_paths = sorted({p for ps in dvs.values() for p in ps})
        if len(all_paths) <= 1:
            return None
        total_rows = sum((prev.get("dv_deleted") or {}).values())
        # ~8M (path, long) pairs per part keeps each vector part well
        # under a few hundred MB at any scale
        n_parts = max(1, -(-total_rows // 8_000_000))
        dv_rel = f"dv/{uuid.uuid4().hex}"
        dv_dir = self.root / dv_rel
        # rows for files since REMOVED (their dvs entry died with the
        # file, but the shared vector parquet keeps their rows) must
        # not be copied forward — without this filter every
        # consolidation would re-accumulate dead pairs forever and the
        # "shrink" op could grow vector bytes (round-8 review). The
        # live-file list rides a broadcast semi-join, never a giant
        # IN literal.
        live_names = self.spark.createDataFrame(
            [(f,) for f in dvs], "file_key STRING"
        )
        (
            self.spark.read.schema(_DV_SCHEMA).parquet(
                *[str(self.root / p) for p in all_paths]
            )
            .select("file_key", "row_idx")
            # (file, row) pairs are disjoint across vectors by
            # construction: each delete/merge matched only rows LIVE
            # under the prior vectors, so a plain union is exact — no
            # distinct shuffle needed
            .join(F.broadcast(live_names), "file_key", "left_semi")
            .repartition(n_parts)
            .write.mode("overwrite")
            .parquet(str(dv_dir))
        )
        try:
            return self._commit(
                base,
                op="consolidate_dv",
                added=[],
                removed=[],
                rows_total=prev["rows"],
                dv_reset={
                    "dvs": {f: [dv_rel] for f in dvs},
                    "deleted": dict(prev.get("dv_deleted") or {}),
                },
            )
        except CommitConflictError:
            shutil.rmtree(dv_dir, ignore_errors=True)
            raise

    def compact(
        self,
        target_files: int = 1,
        sort_by: str | None = None,
        zorder_by: list[str] | None = None,
        target_mb: float | None = None,
    ) -> int:
        """Rewrite the snapshot into ``target_files`` files — the
        OPTIMIZE analog, transactional like every other commit.

        ``target_mb``: size-targeted bin packing (OPTIMIZE's real
        contract — files near a target size, not a fixed count):
        derives ``target_files`` from the snapshot's current data
        bytes (one driver-side stat sweep over the manifest's file
        list — bounded, the clone path's cost) so a steady stream of
        small commits compacts to ~target-sized files no matter how
        the table grew. Composes with ``sort_by``/``zorder_by``.

        ``sort_by``: cluster the rewrite by a key (OPTIMIZE ... ZORDER's
        single-key form): ``repartitionByRange`` gives each output file
        a DISJOINT key range, so the recorded min/max stats become
        non-overlapping and a :meth:`read` ``key_range`` point lookup
        prunes to ~one file. Ingestion order usually interleaves keys —
        every file's range spans everything and stats prune nothing;
        clustered compaction is what turns the stats layer into real
        data skipping (tests pin the before/after pruned-file counts).

        ``zorder_by``: multi-column clustering on the Z-order
        (Morton) curve — single-key sort makes ONE column's stats
        tight and leaves the others spanning everything; bit-
        interleaving each column's ``width_bucket`` rank spreads
        locality across ALL listed columns, so range reads on any of
        them prune (Delta's OPTIMIZE ZORDER BY). Cost at scale: one
        min/max agg (a single collected row) + the same range shuffle
        a plain sort needs. Numeric and STRING columns: a string
        ranks by its first 6 UTF-8 bytes as a big-endian integer
        (hex-prefix, zero-padded — byte-lexicographic order is
        preserved exactly, 48 bits stays exact in a double), which is
        what the reference's composite tenant × resource-id point-read
        key (DatalakeRetrieveService.kt:33-39) needs: both columns of
        the pair prune after one Z-ordered compaction."""
        from pyspark.sql import functions as F

        base = self.current_version()
        prev = self._state(base)
        if target_mb is not None:
            total = sum(
                (self.root / f).stat().st_size
                for f in prev["files"]
                if (self.root / f).exists()
            )
            # on-disk bytes still include rows soft-deleted by deletion
            # vectors; a heavily-vectored table (the main
            # compact-reconciliation case) would otherwise pack to files
            # well under target. Scale by the live fraction from the
            # manifest's own row accounting (round-6 advice).
            file_stats = prev.get("stats") or {}
            dv_deleted = prev.get("dv_deleted") or {}
            stat_rows = sum(
                file_stats[f]["rows"]
                for f in prev["files"]
                if f in file_stats
            )
            # the fraction must be computed over a CONSISTENT file
            # set: a dv-touched stats-less file would add to dead but
            # not to stat_rows, inflating the dead fraction and
            # undershooting target_files (round-7 advice)
            dead = sum(
                dv_deleted.get(f, 0)
                for f in prev["files"]
                if f in file_stats
            )
            if stat_rows > 0 and dead > 0:
                total = int(total * (stat_rows - dead) / stat_rows)
            # ceil-divide with a 1% packing tolerance: a caller that
            # derives target_mb as bytes/N loses up to a byte to float
            # truncation, and without the tolerance that one byte
            # spills an N+1th file ~0% full ("~target size" is the
            # OPTIMIZE contract; a ≤1% overshoot beats a near-empty
            # file at any scale)
            tgt = max(1, int(target_mb * 1024 * 1024))
            exact = total / tgt
            target_files = max(
                1,
                int(exact) if exact - int(exact) < 0.01 else -(-total // tgt),
            )
        df = self.read(base)
        layout_by = None
        if zorder_by is not None:
            bits = 12  # 4096 buckets/column: plenty vs realistic file counts
            dtypes = dict(df.dtypes)
            mm = df.agg(
                *[
                    a
                    for c in zorder_by
                    for a in (
                        F.min(c).alias(f"_lo_{c}"),
                        F.max(c).alias(f"_hi_{c}"),
                    )
                ]
            ).collect()[0]  # one row — bounded driver action
            morton = F.lit(0).cast("long")
            k = len(zorder_by)
            for ci, c in enumerate(zorder_by):
                mn, mx = mm[f"_lo_{c}"], mm[f"_hi_{c}"]
                if mn is None or mn == mx:
                    continue  # constant/empty column: nothing to spread
                if dtypes.get(c) == "string":
                    # order-preserving proxy: a 6-byte window of the
                    # UTF-8 bytes as a big-endian integer (48 bits —
                    # exact in a double). The window starts AFTER the
                    # column's common prefix — min and max share it,
                    # so every value does (lexicographic order) — or
                    # ids like 'tenant_a'…'tenant_p' would all rank
                    # identically on their shared literal prefix.
                    # Proxy bounds are the proxies of min/max, computed
                    # here in Python by the same byte algebra.
                    mnb, mxb = mn.encode("utf-8"), mx.encode("utf-8")
                    prefix = 0
                    while (
                        prefix < min(len(mnb), len(mxb))
                        and mnb[prefix] == mxb[prefix]
                    ):
                        prefix += 1
                    lo = float(
                        int.from_bytes(
                            mnb[prefix:prefix + 6].ljust(6, b"\0"), "big"
                        )
                    )
                    hi = float(
                        int.from_bytes(
                            mxb[prefix:prefix + 6].ljust(6, b"\0"), "big"
                        )
                    )
                    proxy = F.conv(
                        F.rpad(
                            F.substring(
                                F.hex(F.encode(F.col(c), "UTF-8")),
                                2 * prefix + 1,
                                12,
                            ),
                            12,
                            "0",
                        ),
                        16,
                        10,
                    ).cast("double")
                else:
                    lo, hi = float(mn), float(mx)
                    proxy = F.col(c).cast("double")
                if lo == hi:  # distinct values beyond the proxy window
                    continue
                # clamp, don't epsilon: width_bucket puts x == hi in
                # the overflow bucket n+1, and hi + 1e-9 rounds back
                # to hi once hi is large (string proxies are ~1e14, a
                # 1e-9 nudge is below one ulp) — the max-key rows
                # would z-rank as 0 and leak into the lowest chunk.
                # Clamp the LOW end too: the string proxy ranks by
                # UTF-8 bytes while lo/hi come from Spark min/max
                # (UTF-16 code-unit order), so a non-BMP value can
                # proxy below lo, where width_bucket returns 0 and
                # bucket would go -1, corrupting that row's morton
                # rank (round-6 advice)
                bucket = F.greatest(
                    F.least(
                        F.width_bucket(
                            proxy,
                            F.lit(lo),
                            F.lit(hi),
                            F.lit(1 << bits),
                        )
                        - 1,
                        F.lit((1 << bits) - 1),
                    ),
                    F.lit(0),
                ).cast("long")
                for b in range(bits):
                    # bit b of column ci lands at interleaved position
                    # b*k + ci — the Morton spread
                    morton = morton + F.shiftleft(
                        F.shiftright(bucket, b).bitwiseAND(F.lit(1)),
                        b * k + ci,
                    )
            # chunk the curve by VALUE, not by sampled count quantiles:
            # RangePartitioner's sampled boundaries sit near but not ON
            # z-chunk edges (with exactly-equal chunk counts its bound
            # selection even merges adjacent values), and a few leaked
            # rows blow a neighbor file's min/max wide open. So the
            # chunk id becomes a WRITER layout partition: the writer
            # splits files by value — exact, no sampling — and each
            # chunk is one hash-shuffle task, one file. Tradeoff: a
            # skewed chunk makes one big file, not two leaky ones —
            # right for data skipping.
            zspace = 1 << (bits * k)
            chunk = F.floor(morton * target_files / F.lit(zspace)).cast("int")
            df = (
                df.withColumn("_z", morton)
                .withColumn("_zc", chunk)
                .repartition(target_files, "_zc")
                .sortWithinPartitions("_zc", "_z")
                .drop("_z")
            )
            layout_by = ["_zc"]
        elif sort_by is not None:
            df = df.repartitionByRange(target_files, sort_by)
            df = df.sortWithinPartitions(sort_by)
        else:
            df = df.coalesce(target_files)
        files, rows, stats, parts, ptypes = self._write_data(
            df, prev, layout_partition_by=layout_by
        )
        return self._commit(
            base,
            op="compact",
            added=files,
            removed=list(prev["files"]),
            rows_total=rows,
            stats=stats,
            partitions=parts,
            partition_types=ptypes,
        )

    # -- streaming sink -----------------------------------------------------

    def append_epoch(
        self,
        batch_df: DataFrame,
        epoch_id: int,
        _props=None,
    ) -> int | None:
        """Idempotent epoch append — the exactly-once foreachBatch
        contract: Structured Streaming re-delivers the last epoch after
        a crash between sink write and checkpoint commit; recording the
        applied epoch IN the same atomic commit makes the replay a
        no-op. Returns the committed VERSION when applied (race-free —
        the value comes from the CAS itself, so consumers tailing this
        epoch's change window need no log scan and no
        current_version() TOCTOU), or None when the epoch was already
        applied (replay no-op)."""
        return self._append(batch_df, epoch_id, _props)

    def foreach_batch_writer(self):
        """``writeStream.foreachBatch(table.foreach_batch_writer())`` —
        a transactional, exactly-once streaming sink."""

        def _write(batch_df: DataFrame, epoch_id: int) -> None:
            self.append_epoch(batch_df, epoch_id)

        return _write

    def merge_epoch(
        self, batch_df: DataFrame, epoch_id: int, key_cols: list[str]
    ) -> bool:
        """Idempotent epoch UPSERT — streaming MERGE with the same
        exactly-once contract as :meth:`append_epoch`: the applied
        epoch rides the same atomic commit as the merge itself, so a
        foreachBatch replay after a crash is a no-op instead of a
        double-apply (which for an upsert would silently re-win
        old values over concurrent later merges). This is the Delta
        ``foreachBatch + MERGE`` streaming-CDC idiom; file pruning
        applies as in :meth:`merge`, so a keyed micro-batch rewrites
        only intersecting files. Returns True if applied."""
        return self.merge(batch_df, key_cols, _epoch=epoch_id) is not None

    def foreach_batch_merge_writer(self, key_cols: list[str]):
        """``writeStream.foreachBatch(t.foreach_batch_merge_writer(
        ["k"]))`` — a transactional, exactly-once streaming UPSERT
        sink (latest state per key, not an append log)."""

        def _write(batch_df: DataFrame, epoch_id: int) -> None:
            self.merge_epoch(batch_df, epoch_id, key_cols)

        return _write

    # -- maintenance --------------------------------------------------------

    def history(self) -> list[dict]:
        """Commit history oldest→newest from the retained log — the
        DESCRIBE HISTORY analog: one dict per commit record still on
        disk (vacuum-truncated versions are gone by design) with
        version, op, files added/removed, resulting row count, and the
        epoch if the commit came from a streaming sink. Reads only the
        log — never data files."""
        out = []
        if not self._manifest_dir.exists():
            return out
        for v in sorted(
            int(p.stem[1:]) for p in self._manifest_dir.glob("v*.json")
        ):
            rec = self.commit_record(v)
            out.append(
                {
                    "version": v,
                    "ts_utc": rec.get("ts_utc"),
                    "op": rec.get("op"),
                    "n_added": len(rec.get("added", [])),
                    "n_removed": len(rec.get("removed", [])),
                    "rows_total": rec.get("rows_total"),
                    "epoch": rec.get("epoch"),
                }
            )
        return out

    def expire_snapshots(self, older_than) -> int:
        """Age-based retention (Delta ``VACUUM ... RETAIN`` / Iceberg
        ``expireSnapshots``): drop history committed before ``older_than``
        (a datetime, ISO string, or timedelta-back-from-now), keeping
        every newer version plus the current one. A thin resolution
        layer over :meth:`vacuum` — commit ``ts_utc`` decides the
        boundary, vacuum does the deleting (checkpoint-first, so every
        retained snapshot stays reconstructible)."""
        from datetime import timedelta

        if isinstance(older_than, timedelta):
            cutoff = datetime.now(timezone.utc) - older_than
        elif isinstance(older_than, str):
            cutoff = datetime.fromisoformat(older_than)
        else:
            cutoff = older_than
        if cutoff.tzinfo is None:
            cutoff = cutoff.replace(tzinfo=timezone.utc)
        latest = self.current_version()
        if latest == 0:
            return 0  # nothing committed: retention sweep is a no-op
        # binary search (ts monotone): leftmost retained version
        # committed at/after the cutoff — see version_at_timestamp
        vs = self._retained_versions()
        keep_from = latest
        lo, hi = 0, len(vs) - 1
        while lo <= hi:
            mid = (lo + hi) // 2
            if self._commit_ts(vs[mid]) >= cutoff:
                keep_from = min(keep_from, vs[mid])
                hi = mid - 1
            else:
                lo = mid + 1
        return self.vacuum(keep_versions=latest - keep_from + 1)

    def files_df(self, version: int | None = None) -> DataFrame:
        """The snapshot's file manifest AS A DATAFRAME — the Iceberg
        ``.files`` / Delta ``DESCRIBE DETAIL`` metadata-table surface:
        one row per data file with row count, per-stats-column min/max
        (JSON-encoded, typed via _stats_encode tags), and partition
        values. Built from the log only — never opens a data file — so
        it is the cheap input for file-size audits, compaction
        policies, and skew diagnostics."""
        m = self.manifest(version)
        rows = []
        for f in m["files"]:
            st = m["stats"].get(f, {})
            rows.append(
                (
                    f,
                    st.get("rows"),
                    # min/max ranges only: bloom position blobs stay in
                    # the log (they'd drag bloom_bits/2 ints per column
                    # per file through the driver and break consumers
                    # expecting 2-element ranges)
                    json.dumps(
                        {
                            k: v
                            for k, v in st.items()
                            if k != "rows" and not k.startswith("bloom:")
                        }
                    ),
                    json.dumps(m["partitions"].get(f, {})),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "file STRING, rows BIGINT, stats_json STRING, "
            "partition_json STRING",
        )

    def history_df(self) -> DataFrame:
        """Commit history AS A DATAFRAME (DESCRIBE HISTORY analog):
        version, commit timestamp, op, files added/removed, resulting
        rows, streaming epoch. Log-only, like :meth:`history`."""
        hs = self.history()
        return self.spark.createDataFrame(
            [
                (
                    h["version"],
                    h["ts_utc"],
                    h["op"],
                    h["n_added"],
                    h["n_removed"],
                    h["rows_total"],
                    h["epoch"],
                )
                for h in hs
            ],
            "version INT, ts_utc STRING, op STRING, n_added INT, "
            "n_removed INT, rows_total BIGINT, epoch BIGINT",
        )

    def vacuum(self, keep_versions: int = 1) -> int:
        """Delete data subdirs unreferenced by the newest
        ``keep_versions`` snapshots, and truncate the log before them
        (a checkpoint at the oldest retained version is written first,
        so every retained snapshot stays reconstructible). Returns the
        number of removed data subdirs. Readers of retained versions
        are unaffected — that is the time-travel grace window.

        An exported Delta snapshot (``lake/delta_interop.py`` writes
        ``_delta_log`` into this root) references the files of its
        export-time snapshot. The log is deleted ONLY when this vacuum
        actually reclaims a file the log's LIVE add set references —
        an export whose current snapshot survives intact stays, so a
        routine vacuum under a continuous mirror no longer resets the
        mirrored table's identity every cycle (round-8 advice; the
        mirror marker lives inside the log). Caveat matching Delta's
        own vacuum semantics: the kept log's OLDER versions may
        reference reclaimed files — time travel before the live
        snapshot dangles, exactly as on a vacuumed real Delta table.
        An unreadable/unparseable export is deleted as before."""
        latest = self.current_version()
        oldest = max(1, latest - keep_versions + 1)
        self._write_checkpoint(oldest)
        referenced: set[str] = set()
        dv_referenced: set[str] = set()
        for v in range(oldest, latest + 1):
            st = self._state(v)
            for f in st["files"]:
                # data/<commit-uuid>/...
                referenced.add("/".join(Path(f).parts[:2]))
            for paths in (st.get("dvs") or {}).values():
                dv_referenced.update(paths)  # dv/<uuid>
        data_dir = self.root / "data"
        doomed = (
            [
                sub
                for sub in data_dir.iterdir()
                if f"data/{sub.name}" not in referenced
            ]
            if data_dir.exists()
            else []
        )
        exported = self.root / "_delta_log"
        if exported.exists():
            keep_export = False
            try:
                # lazy import: delta_interop imports this module
                from interop_datalake_spark.lake.delta_interop import (
                    delta_files,
                )

                prefixes = tuple(f"data/{sub.name}/" for sub in doomed)
                keep_export = not prefixes or not any(
                    p.startswith(prefixes)
                    for p in delta_files(str(self.root))
                )
            except Exception:
                keep_export = False
            if not keep_export:
                shutil.rmtree(exported)
                # the export's packed deletion-vector files (written
                # under _dv by delta_interop) serve that log only
                shutil.rmtree(self.root / "_dv", ignore_errors=True)
        # the Iceberg export (lake/iceberg_interop.py writes
        # ``metadata/`` into this root) gets the SAME keep-or-delete
        # contract: kept when its CURRENT snapshot's live file set
        # survives this vacuum (older exported snapshots may dangle —
        # Iceberg's own post-vacuum semantics), deleted when a live
        # file is reclaimed or the export is unreadable (round-9
        # review: round 8 protected _delta_log and forgot the sibling)
        ice_dir = self.root / "metadata"
        if (ice_dir / "version-hint.text").exists() or any(
            ice_dir.glob("v*.metadata.json")
        ):
            keep_ice = False
            try:
                from interop_datalake_spark.lake.iceberg_interop import (
                    _uri_to_path,
                    iceberg_files,
                )

                prefixes = tuple(
                    str((self.root / "data" / sub.name).resolve()) + "/"
                    for sub in doomed
                )
                live = [
                    _uri_to_path(u)
                    for u in iceberg_files(self.spark, str(self.root))
                ]
                keep_ice = not prefixes or not any(
                    p.startswith(prefixes) for p in live
                )
            except Exception:
                keep_ice = False
            if not keep_ice:
                shutil.rmtree(ice_dir)
        removed = 0
        for sub in doomed:
            shutil.rmtree(sub)
            removed += 1
        dv_dir = self.root / "dv"
        if dv_dir.exists():
            # deletion vectors obsoleted by compact/restore outside
            # the retention window are garbage like any data file
            for sub in dv_dir.iterdir():
                if f"dv/{sub.name}" not in dv_referenced:
                    shutil.rmtree(sub)
                    removed += 1
        for mf in self._manifest_dir.glob("v*.json"):
            if int(mf.stem[1:]) < oldest:
                mf.unlink()
        for cf in self._manifest_dir.glob("ckpt-v*.json"):
            if int(cf.stem.split("-v")[1]) < oldest:
                cf.unlink()
        self._state_cache.clear()
        return removed
