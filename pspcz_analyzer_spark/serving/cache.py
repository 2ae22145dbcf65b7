"""Param-keyed TTL result cache (SURVEY T6).

Re-expresses the reference's analysis cache
(/root/reference/pspcz_analyzer/services/analysis_cache.py:11-48):
thread-safe get-or-compute keyed by a query-param string, fixed TTL,
prefix invalidation (so a data refresh can drop every "loyalty:*" entry).
The clock is injectable for deterministic tests.

The store is bounded: past ``MAX_ENTRIES`` the least recently used entry
is evicted, and an expired entry is dropped when it is looked up, so a
stream of distinct keys (every ``votes(search=...)`` term) cannot grow
the driver's memory for the life of the service.
"""

from __future__ import annotations

import threading
import time
from collections import OrderedDict
from collections.abc import Callable
from typing import Any

MAX_ENTRIES = 1024


class TTLCache:
    def __init__(self, ttl_seconds: float = 3600.0, clock: Callable[[], float] = time.monotonic):
        self._ttl = ttl_seconds
        self._clock = clock
        self._lock = threading.Lock()
        # key -> (stored at, value), least recently used first
        self._store: OrderedDict[str, tuple[float, Any]] = OrderedDict()

    def __len__(self) -> int:
        with self._lock:
            return len(self._store)

    def get_or_compute(self, key: str, compute: Callable[[], Any]) -> Any:
        now = self._clock()
        with self._lock:
            hit = self._store.get(key)
            if hit is not None:
                if now - hit[0] < self._ttl:
                    self._store.move_to_end(key)
                    return hit[1]
                del self._store[key]
        value = compute()  # compute outside the lock: one slow query must
        # not serialize every other key (duplicate work on a race is fine)
        with self._lock:
            self._store[key] = (now, value)
            self._store.move_to_end(key)
            while len(self._store) > MAX_ENTRIES:
                self._store.popitem(last=False)
        return value

    def invalidate_prefix(self, prefix: str) -> int:
        with self._lock:
            doomed = [k for k in self._store if k.startswith(prefix)]
            for k in doomed:
                del self._store[k]
            return len(doomed)

    def clear(self) -> None:
        with self._lock:
            self._store.clear()
