"""The one driver-side memo of the engine.

Every cache in ``stellar_ingest`` is a :class:`Memo`: an LRU of at most
``capacity`` entries behind one lock.  An entry may carry a validity
token (for files, :func:`stat_token`): a get with a different token
rebuilds the value and replaces the entry.  A get may name a scope
(a Spark ``applicationId``): a get with a scope other than the memo's
current one first drops every entry, so values built for a stopped
session are released and never served to the next one.

Builders run outside the lock, so two threads missing on one key may
both build; each returns the value built for its own token, and the
later insert wins.
"""

from __future__ import annotations

import os
from collections import OrderedDict
from threading import Lock
from typing import Callable, Hashable, TypeVar

V = TypeVar("V")


def stat_token(path: str) -> tuple[int, int]:
    """Validity token of a file: ``(mtime_ns, size)``."""
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size


class Memo:
    def __init__(self, capacity: int):
        self.capacity = capacity
        self._entries: OrderedDict[Hashable, tuple[Hashable, object]] = OrderedDict()
        self._scope: Hashable = None
        self._lock = Lock()

    def _enter(self, scope: Hashable) -> None:
        # caller holds the lock
        if scope is not None and scope != self._scope:
            self._entries.clear()
            self._scope = scope

    def get(
        self,
        key: Hashable,
        build: Callable[[], V],
        *,
        token: Hashable = None,
        scope: Hashable = None,
    ) -> V:
        """The value memoized for ``key`` under ``token``, built with
        ``build()`` and inserted (evicting the least recently read entry
        past capacity) when there is none."""
        with self._lock:
            self._enter(scope)
            hit = self._entries.get(key)
            if hit is not None and hit[0] == token:
                self._entries.move_to_end(key)
                return hit[1]  # type: ignore[return-value]
        value = build()
        with self._lock:
            self._enter(scope)
            self._entries[key] = (token, value)
            self._entries.move_to_end(key)
            while len(self._entries) > self.capacity:
                self._entries.popitem(last=False)
        return value

    def __contains__(self, key: Hashable) -> bool:
        with self._lock:
            return key in self._entries

    def __len__(self) -> int:
        with self._lock:
            return len(self._entries)

    def clear(self) -> None:
        with self._lock:
            self._entries.clear()
            self._scope = None
