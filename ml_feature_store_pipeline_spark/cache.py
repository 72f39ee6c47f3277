"""TTL result cache (reference J4: ``CacheBackend``/``InMemoryCache``,
`ML Feature Store Pipeline.py:70-111`).

Driver-side memoization of materialized results, keyed by version with the
reference's ``features_{version}`` prefix (`:382-384`). The reference's
async interface collapses to sync — Spark supplies the parallelism. For
cluster-side reuse of a hot DataFrame use ``df.persist()``; this cache is
for serving-path results that have already been collected.
"""

from __future__ import annotations

import logging
import threading
import time
from abc import ABC, abstractmethod
from typing import Any

_LOG = logging.getLogger(__name__)


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

    def delete_prefix(self, prefix: str) -> int:
        """Invalidate every key for a version (cleanup path, `:524-526`)."""
        with self._lock:
            doomed = [k for k in self._data if k.startswith(prefix)]
            for k in doomed:
                del self._data[k]
            return len(doomed)

    def clear(self) -> None:
        with self._lock:
            self._data.clear()

    def info(self) -> dict[str, Any]:
        with self._lock:
            return {"entries": len(self._data), "hits": self.hits, "misses": self.misses}


class DiskTTLCache(CacheBackend):
    """File-backed TTL cache — the second ``CacheBackend`` implementation,
    proving the plug point the reference promises but never ships (its
    README advertises Redis, `README.md:143`, with no implementation —
    SURVEY §2.J J4).

    Redis itself isn't in this container, so the durable backend is a spool
    directory of pickled entries: survives driver restarts (unlike the dict
    backend) and is shareable across driver processes on a common mount —
    the same operational slot a Redis instance fills for the reference.
    Entry = pickle of ``(key, value, stored_at, ttl)`` under
    ``sha1(key).pkl`` (key material never leaks into filenames). Expiry is
    lazy-on-get, matching ``InMemoryTTLCache``; ``delete_prefix`` scans
    entry headers, which is O(entries) and fine for a driver-side result
    cache (entries ≈ versions served, not rows).
    """

    def __init__(self, path: str) -> None:
        import os

        self._dir = path
        os.makedirs(path, exist_ok=True)
        self._lock = threading.Lock()
        self.hits = 0
        self.misses = 0

    def _file(self, key: str) -> str:
        import hashlib
        import os

        return os.path.join(self._dir, hashlib.sha1(key.encode()).hexdigest() + ".pkl")

    def _load(self, path: str) -> tuple[str, Any, float, int] | None:
        import pickle

        try:
            with open(path, "rb") as fh:
                entry = pickle.load(fh)
            if isinstance(entry, tuple) and len(entry) == 4:
                return entry
        except (OSError, pickle.UnpicklingError, EOFError, AttributeError) as e:
            _LOG.debug("cache entry %s unreadable, treating as miss: %s", path, e)
        return None

    def get(self, key: str) -> Any | None:
        import os

        with self._lock:
            path = self._file(key)
            entry = self._load(path)
            if entry is None or entry[0] != key:
                self.misses += 1
                return None
            _, value, stored_at, ttl = entry
            if time.time() - stored_at > ttl:
                try:
                    os.remove(path)
                except OSError:
                    pass
                self.misses += 1
                return None
            self.hits += 1
            return value

    def set(self, key: str, value: Any, ttl: int = 3600) -> None:
        import os
        import pickle

        with self._lock:
            path = self._file(key)
            tmp = path + ".tmp"
            with open(tmp, "wb") as fh:
                pickle.dump((key, value, time.time(), ttl), fh)
            os.replace(tmp, path)  # atomic on POSIX — readers never see partial writes

    def delete(self, key: str) -> None:
        import os

        with self._lock:
            try:
                os.remove(self._file(key))
            except OSError as e:
                _LOG.debug("cache delete %s failed: %s", key, e)

    def delete_prefix(self, prefix: str) -> int:
        import os

        with self._lock:
            doomed = 0
            for name in os.listdir(self._dir):
                if not name.endswith(".pkl"):
                    continue
                path = os.path.join(self._dir, name)
                entry = self._load(path)
                if entry is not None and entry[0].startswith(prefix):
                    try:
                        os.remove(path)
                        doomed += 1
                    except OSError as e:
                        _LOG.debug("cache delete_prefix skipped %s: %s", path, e)
            return doomed

    def clear(self) -> None:
        import os

        with self._lock:
            for name in os.listdir(self._dir):
                if name.endswith(".pkl"):
                    try:
                        os.remove(os.path.join(self._dir, name))
                    except OSError as e:
                        _LOG.debug("cache clear skipped %s: %s", name, e)

    def info(self) -> dict[str, Any]:
        import os

        with self._lock:
            entries = [n for n in os.listdir(self._dir) if n.endswith(".pkl")]
            return {
                "entries": len(entries),
                "hits": self.hits,
                "misses": self.misses,
                "path": self._dir,
            }


def cache_key(version: str) -> str:
    """Reference key format (`:382-384`) for a version's entries."""
    return f"features_{version}"
