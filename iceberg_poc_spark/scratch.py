"""Process-wide build-once state: scratch directories, one-time set-ups,
and bounded plan memos.

Cost model. A registry query that needs a derived layout (a snapshot
table, a bucketed index, a format round-trip) builds it ONCE per process
per ``sf_dir``: the write is the one-time cost the layout pays at ingest,
and every later call is a metadata-resolved read of what was built. The
layout lives in a :func:`scratch_dir`, named per process and per corpus,
emptied the first time the process asks for it and removed at
interpreter exit (not earlier: a returned DataFrame is lazy and reads
the files when the caller collects). The build runs through
:func:`once`, so first calls that start side by side on one session's
threads build it once, and set-ups with other keys build alongside.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import threading
import weakref
from collections import OrderedDict
from typing import Any, Callable, Hashable, TypeVar

T = TypeVar("T")

_BUILT: dict[Hashable, Any] = {}
_KEY_LOCKS: dict[Hashable, threading.RLock] = {}
_KEY_LOCKS_LOCK = threading.Lock()


def once(key: Hashable, build: Callable[[], T]) -> T:
    """``build()``'s result for ``key``, built at most once per process.

    Concurrent first calls of one key wait for a single build; calls with
    other keys do not wait for it. An exception from ``build`` is not
    memoized: it reaches the caller, and the next call builds again. Locks
    are per key, so a build may call ``once`` for other keys, as a set-up
    that needs its scratch directory or another set-up does; the lock is
    re-entrant, so even a re-entry on the same key cannot deadlock."""
    try:
        return _BUILT[key]
    except KeyError:
        pass
    with _KEY_LOCKS_LOCK:
        lock = _KEY_LOCKS.setdefault(key, threading.RLock())
    with lock:
        if key not in _BUILT:
            _BUILT[key] = build()
        return _BUILT[key]


def scratch_dir(prefix: str, sf_dir: str) -> str:
    """``<tmp>/<prefix>_<pid>_<md5(sf_dir)[:8]>``: emptied on the process's
    first call, removed at interpreter exit."""
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"{prefix}_{os.getpid()}_{key}")
    return once((scratch_dir, path), lambda: _fresh(path))


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def _dead(key: Hashable) -> bool:
    """A memo key that names a collected session: its first item is a
    dead weak reference."""
    return (
        isinstance(key, tuple)
        and isinstance(key[0], weakref.ref)
        and key[0]() is None
    )


class LRU:
    """A lock-guarded LRU map of at most ``maxsize`` entries.

    Plan memos key on a weak reference to their session first, so no
    stopped session's JVM state is pinned: every insert first drops the
    entries whose session is gone. A ``None`` key means "not cacheable":
    :meth:`get` misses and :meth:`put` stores nothing."""

    def __init__(self, maxsize: int) -> None:
        self.maxsize = maxsize
        self._items: OrderedDict[Hashable, Any] = OrderedDict()
        self._lock = threading.Lock()

    def __len__(self) -> int:
        return len(self._items)

    def clear(self) -> None:
        with self._lock:
            self._items.clear()

    def get(self, key: Hashable | None) -> Any:
        with self._lock:
            value = self._items.get(key)
            if value is not None:
                self._items.move_to_end(key)
            return value

    def put(self, key: Hashable | None, value: T) -> T:
        if key is not None:
            with self._lock:
                self._insert(key, value)
        return value

    def setdefault(self, key: Hashable, make: Callable[[], T]) -> T:
        """The entry for ``key``, made by ``make()`` and inserted if
        missing, as one atomic step."""
        with self._lock:
            value = self._items.get(key)
            if value is None:
                value = make()
                self._insert(key, value)
            else:
                self._items.move_to_end(key)
            return value

    def _insert(self, key: Hashable, value: Any) -> None:
        for k in [k for k in self._items if _dead(k)]:
            del self._items[k]
        self._items[key] = value
        self._items.move_to_end(key)
        while len(self._items) > self.maxsize:
            self._items.popitem(last=False)
