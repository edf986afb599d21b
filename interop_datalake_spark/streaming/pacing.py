"""Monotone, rate-limited offset advance for the version/sequence
offsets of this package's streaming sources (all five share it through
``FeedReader``, streaming/feed.py) — the ``maxFilesPerTrigger`` analog
at per-commit granularity, WITHOUT the first-batch-unthrottled caveat.

The Python DataSource API exposes no ``ReadLimit`` and its
``latestOffset()`` takes no start offset, so a throttled advance needs
the reader to know where the run starts. Both run shapes reveal it
(measured on Spark 4.1.2, pinned by tests/test_stream_pacing.py::
test_measured_call_order — re-measure there if Spark changes):

- **fresh run**: the engine calls ``latestOffset()`` BEFORE
  ``initialOffset()`` — but a fresh run's start IS the reader's own
  configured starting offset, so the base is known without any
  callback;
- **restart**: the engine re-plans the checkpointed window via
  ``partitions(start, end)`` BEFORE the first ``latestOffset()``
  (measured for both restart shapes: an uncommitted last batch, and a
  fully committed one — Spark replays the latest offset-log entry
  either way), so ``note(end)`` from ``partitions`` reveals the true
  base first.

Hence every batch, including the first of any run, is throttled, and
the returned offset can never move backwards past an offset Spark has
already checkpointed (``advance`` is monotone in ``note``-d values —
returning a lower offset than the checkpoint would regress the offset
WAL and double-deliver on the next restart).

One caveat remains by construction: ``Trigger.AvailableNow`` captures
ONE ``latestOffset()`` and stops there, so a throttled catch-up under
AvailableNow drains a single bounded hop rather than the whole
backlog. Use a processing-time trigger for throttled catch-up (the
same advice delta-spark gives for rate limits under old-style
``Trigger.Once``).

``reportLatestOffset`` (the JVM API's monitoring hook that lets a
throttled source still report the true head to the progress listener)
has no Python DataSource surface on 4.1.2 (the runner protocol
exposes exactly initialOffset/latestOffset/partitions/commit) —
monitor backlog externally by comparing the checkpointed offset to
the table's own head (``current_version()`` /
``last-sequence-number``) until it does.
"""

from __future__ import annotations

from typing import Callable


class Pacer:
    """Tracks the highest offset this reader has revealed to Spark and
    computes each trigger's bounded advance.

    ``start`` is the reader's configured initial offset (the value
    ``initialOffset()`` returns). Call ``note(v)`` from
    ``initialOffset`` and from ``partitions(start, end)`` (with
    ``end``) so restarts seed the base; call ``advance`` from
    ``latestOffset``.
    """

    def __init__(self, start: int):
        self.start = start
        self.base: int | None = None

    def note(self, v: int) -> None:
        self.base = v if self.base is None else max(self.base, v)

    def advance(
        self,
        latest: int,
        cap: Callable[[int], int] | None,
    ) -> int:
        """The offset to return from ``latestOffset``: at most
        ``cap(base)`` (when a rate limit is configured), never past
        ``latest``, and never BELOW the highest offset already
        revealed (monotone guard — a lower return would regress
        Spark's offset WAL)."""
        base = self.base if self.base is not None else self.start
        end = latest if cap is None else min(latest, cap(base))
        end = max(base, end)
        self.note(end)
        return end
