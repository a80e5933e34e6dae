"""The one cache class the engine and catalog share."""

from __future__ import annotations

import threading
from collections import OrderedDict
from typing import Any, Callable, Hashable


class LockedLRU:
    """A fixed-capacity LRU map behind one lock, with hit and miss
    counts; server threads share it. A value is built outside the lock,
    so two threads missing on one key may both build it. on_evict, if
    given, is called (under the lock) with each value that leaves the
    map other than by clear()."""

    def __init__(self, capacity: int,
                 on_evict: Callable[[Any], None] | None = None):
        self.capacity = capacity
        self.on_evict = on_evict or (lambda _value: None)
        self.hits = self.misses = 0
        self._entries: "OrderedDict[Hashable, Any]" = OrderedDict()
        self._lock = threading.Lock()

    def __len__(self) -> int:
        return len(self._entries)

    def get_or_build(self, key: Hashable, build: Callable[[], Any]) -> Any:
        """The value under `key`; on a miss, build() and store it."""
        with self._lock:
            if key in self._entries:
                self._entries.move_to_end(key)
                self.hits += 1
                return self._entries[key]
            self.misses += 1
        value = build()
        self.put(key, value)
        return value

    def put(self, key: Hashable, value: Any) -> None:
        with self._lock:
            old = self._entries.get(key, value)
            if old is not value:
                self.on_evict(old)
            self._entries[key] = value
            self._entries.move_to_end(key)
            if len(self._entries) > self.capacity:
                self.on_evict(self._entries.popitem(last=False)[1])

    def discard(self, pred: Callable[[Hashable], bool]) -> None:
        """Drop every entry whose key satisfies pred."""
        with self._lock:
            for key in [k for k in self._entries if pred(k)]:
                self.on_evict(self._entries.pop(key))

    def clear(self) -> None:
        with self._lock:
            self._entries.clear()
