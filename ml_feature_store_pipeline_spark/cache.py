"""TTL result cache (reference J4: ``CacheBackend``/``InMemoryCache``,
`ML Feature Store Pipeline.py:70-111`).

Driver-side memoization of materialized results, keyed exactly like the
reference (`features_{version}`, `:382-384`). The reference's
async interface collapses to sync — Spark supplies the parallelism. For
cluster-side reuse of a hot DataFrame use ``df.persist()``; this cache is
for serving-path results that have already been collected.
"""

from __future__ import annotations

import threading
import time
from abc import ABC, abstractmethod
from typing import Any


class CacheBackend(ABC):
    """Pluggable cache contract (reference `:70-83`)."""

    @abstractmethod
    def get(self, key: str) -> Any | None: ...

    @abstractmethod
    def set(self, key: str, value: Any, ttl: int = 3600) -> None: ...

    @abstractmethod
    def delete(self, key: str) -> None: ...

    @abstractmethod
    def clear(self) -> None: ...

    @abstractmethod
    def info(self) -> dict[str, Any]: ...


class InMemoryTTLCache(CacheBackend):
    """Lock-guarded dict with per-entry TTL (reference `:86-111`).

    Expired entries are dropped lazily on ``get`` — same behavior as the
    reference's timestamp check (`:92-101`).
    """

    def __init__(self) -> None:
        self._data: dict[str, tuple[Any, float, int]] = {}
        self._lock = threading.Lock()
        self.hits = 0
        self.misses = 0

    def get(self, key: str) -> Any | None:
        with self._lock:
            entry = self._data.get(key)
            if entry is None:
                self.misses += 1
                return None
            value, stored_at, ttl = entry
            if time.time() - stored_at > ttl:
                del self._data[key]
                self.misses += 1
                return None
            self.hits += 1
            return value

    def set(self, key: str, value: Any, ttl: int = 3600) -> None:
        with self._lock:
            self._data[key] = (value, time.time(), ttl)

    def delete(self, key: str) -> None:
        with self._lock:
            self._data.pop(key, None)

    def clear(self) -> None:
        with self._lock:
            self._data.clear()

    def info(self) -> dict[str, Any]:
        with self._lock:
            return {"entries": len(self._data), "hits": self.hits, "misses": self.misses}


def cache_key(version: str) -> str:
    """Reference key format for a version (`:382-384`)."""
    return f"features_{version}"
