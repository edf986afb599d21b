"""In-memory span tracer for the traced run (``--trace 1``).

It wraps, from outside the program, the calls that cross a layer
boundary: the public ``TxnTable`` methods, DataFrame actions and writer
saves, and the py4j client's ``send_command``; a streaming listener
records start-up and trigger times. Spans (name, start, end, parent,
op id) stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from datetime import datetime

from pyspark.sql import DataFrame, DataFrameWriter
from pyspark.sql.streaming import StreamingQueryListener

ACTIONS = (
    "collect", "count", "head", "first", "take", "tail", "isEmpty",
    "toPandas", "toArrow", "toLocalIterator", "foreach", "foreachPartition",
)
WRITER_SAVES = ("save", "parquet", "json", "csv", "saveAsTable", "insertInto")

#: TxnTable methods that commit a new version
TXN_MUTATORS = (
    "append", "append_epoch", "merge", "merge_epoch", "merge_sync",
    "overwrite", "overwrite_partitions", "delete_keys", "delete_where",
    "compact", "restore", "stamp_epoch", "consolidate_vectors",
)


class Tracer:
    def __init__(self):
        # (name, start, end, parent index or -1, op id)
        self.spans: list[tuple] = []
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple] = []
        self.stream_events: list[tuple] = []

    # ---- span bookkeeping ------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def set_op(self, op_id) -> None:
        self._tls.op = op_id

    def paused(self):
        return _Paused(self._tls)

    def _run(self, name, fn, args, kwargs):
        if getattr(self._tls, "paused", False):
            return fn(*args, **kwargs)
        stack = self._stack()
        with self._lock:
            idx = len(self.spans)
            self.spans.append(None)
        parent = stack[-1] if stack else -1
        op = getattr(self._tls, "op", None)
        stack.append(idx)
        start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans[idx] = (name, start, end, parent, op)

    def _wrap(self, owner, attr, name) -> None:
        orig = owner.__dict__.get(attr)
        if orig is None:
            return
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return tracer._run(name, orig, args, kwargs)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    # ---- install / uninstall ---------------------------------------

    def install(self, spark) -> None:
        from py4j.java_gateway import GatewayClient

        from interop_datalake_spark.lake.txn import TxnTable

        for attr, val in list(vars(TxnTable).items()):
            if not attr.startswith("_") and callable(val):
                self._wrap(TxnTable, attr, f"lake.txn.{attr}")
        df_cls = type(spark.range(0))
        for cls in {df_cls, DataFrame}:
            for attr in ACTIONS:
                self._wrap(cls, attr, f"spark.action.{attr}")
        writer_cls = type(spark.range(0).write)
        for cls in {writer_cls, DataFrameWriter}:
            for attr in WRITER_SAVES:
                self._wrap(cls, attr, f"spark.write.{attr}")
        self._wrap(GatewayClient, "send_command", "py4j.send_command")
        self._listener = _StreamListener(self.stream_events)
        spark.streams.addListener(self._listener)

    def uninstall(self, spark) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()
        if getattr(self, "_listener", None) is not None:
            spark.streams.removeListener(self._listener)
            self._listener = None

    # ---- analysis ---------------------------------------------------

    def layer_totals(self) -> dict:
        """Per span name: calls, inclusive ms (outermost same-name spans
        only) and self ms (duration minus direct children)."""
        spans = self.spans
        child_ms = defaultdict(float)
        for s in spans:
            if s is not None and s[3] >= 0:
                child_ms[s[3]] += (s[2] - s[1]) * 1000.0
        out: dict = defaultdict(lambda: {"calls": 0, "ms": 0.0, "self_ms": 0.0})
        for i, s in enumerate(spans):
            if s is None:
                continue
            name, start, end, parent, _ = s
            d = out[name]
            d["calls"] += 1
            dur = (end - start) * 1000.0
            d["self_ms"] += dur - child_ms[i]
            if not _inside(spans, parent, lambda n: n == name):
                d["ms"] += dur
        return dict(out)

    def commits(self) -> int:
        """Outermost successful-or-not calls of committing TxnTable methods."""
        spans = self.spans
        names = {f"lake.txn.{n}" for n in TXN_MUTATORS}
        return sum(1 for s in spans if s is not None and s[0] in names
                   and not _inside(spans, s[3], lambda n, own=s[0]: n == own))

    def action_ms(self) -> float:
        """Wall inside DataFrame actions and writer saves, outermost."""
        spans = self.spans
        return sum((s[2] - s[1]) * 1000.0 for s in spans
                   if s is not None and _is_action(s[0])
                   and not _inside(spans, s[3], _is_action))

    def stream_summary(self) -> dict:
        """Start-up = query start to the end of its first trigger."""
        started: dict = {}
        firsts: dict = {}
        trigger_ms = 0.0
        triggers = 0
        for kind, qid, ts, ms in self.stream_events:
            if kind == "start":
                started[qid] = ts
            elif kind == "progress":
                triggers += 1
                trigger_ms += ms
                firsts.setdefault(qid, ts + ms / 1000.0)
        startup = [
            (firsts[q] - started[q]) * 1000.0 for q in firsts if q in started
        ]
        return {
            "startup_ms": sum(startup),
            "trigger_ms": trigger_ms,
            "triggers": triggers,
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                if s is not None:
                    f.write(json.dumps(s) + "\n")


def _is_action(name: str) -> bool:
    return name.startswith(("spark.action.", "spark.write."))


def _inside(spans, parent: int, pred) -> bool:
    """Whether an ancestor span, starting at index ``parent``, has a
    name matching ``pred``."""
    while parent >= 0:
        p = spans[parent]
        if p is None:  # still open in a background thread
            return False
        if pred(p[0]):
            return True
        parent = p[3]
    return False


class _Paused:
    def __init__(self, tls):
        self.tls = tls

    def __enter__(self):
        self.prev = getattr(self.tls, "paused", False)
        self.tls.paused = True

    def __exit__(self, *exc):
        self.tls.paused = self.prev


def _iso_seconds(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class _StreamListener(StreamingQueryListener):
    def __init__(self, sink):
        self.sink = sink

    def onQueryStarted(self, event):
        self.sink.append(("start", str(event.id), _iso_seconds(event.timestamp), 0.0))

    def onQueryProgress(self, event):
        p = event.progress
        ms = float(p.durationMs.get("triggerExecution", 0))
        self.sink.append(("progress", str(p.id), _iso_seconds(p.timestamp), ms))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass
