"""Freshness bookkeeping for the refresh workload.

A batch is *due* at its scheduled landing time. It becomes *visible*
when the table version that first holds it is committed, and it is
*fresh* when the first reader query over a snapshot at or past that
version returns. Freshness is return time minus due time — measured
from the schedule, not the actual landing, so a late generator cannot
hide a stall. All times come from the caller (a clock is injected).
"""

from __future__ import annotations

import threading


class FreshnessBook:
    def __init__(self):
        self._lock = threading.Lock()
        self.due: dict[int, float] = {}
        self.lag: dict[int, float] = {}
        self._pending: list[tuple[int, int]] = []   # (version, batch)
        self.fresh: dict[int, float] = {}

    def landed(self, batch: int, due_s: float, actual_s: float) -> None:
        with self._lock:
            self.due[batch] = due_s
            self.lag[batch] = actual_s - due_s

    def committed(self, version: int, batches: list[int]) -> None:
        with self._lock:
            self._pending.extend((version, b) for b in batches)

    def reader_returned(self, version: int, returned_s: float) -> list[int]:
        """A reader over snapshot ``version`` returned: every batch
        committed at or before it that no reader had seen is now fresh.
        Returns those batches."""
        with self._lock:
            seen = [b for v, b in self._pending if v <= version]
            self._pending = [(v, b) for v, b in self._pending if v > version]
            for b in seen:
                if b in self.due:
                    self.fresh[b] = returned_s - self.due[b]
            return seen

    def values(self, batches=None) -> list[float]:
        with self._lock:
            keys = self.fresh if batches is None else [
                b for b in batches if b in self.fresh]
            return [self.fresh[b] for b in keys]

    def lag_max(self) -> float:
        with self._lock:
            return max(self.lag.values(), default=0.0)
