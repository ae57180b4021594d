"""Per-table-version artifact cache (BM25 index, ingest-guard hashes,
served table scans).

The reference keys its persisted FTS index by the table's modified date
(df_duckdb.py:321-379): an artifact is valid for exactly one version of
one table identity, and a new version evicts the stale build. The BM25
index, the dedup corpus-hash relation and the registry's scan memo all
follow that contract — this helper is the single implementation so build
parameters are always part of the cache key (a window-10 hash set must
never answer a window-20 lookup) and eviction/unpersist logic exists once.

Caches are plain dicts shared by every thread of a serving session. One
module lock guards every read and write of them, and a per-key gate
makes concurrent misses on the same key wait for a single build instead
of each building (and persisting) its own copy.
"""

from __future__ import annotations

import threading
from typing import Any, Callable

_LOCK = threading.Lock()
#: (id(cache), key) -> gate held by the thread building that key
_BUILDING: dict[tuple[int, tuple], threading.Lock] = {}


def cached_artifact(cache: dict, identity: Any, version: Any, params: tuple):
    """The cached artifact for ``(identity, version, params)``, or None;
    never builds."""
    with _LOCK:
        return cache.get((identity, version, params))


def evict(cache: dict, identity: Any) -> list:
    """Drop every entry of ``identity``; returns the dropped artifacts
    (the caller releases them)."""
    with _LOCK:
        return [cache.pop(k) for k in list(cache) if k[0] == identity]


def versioned_artifact(
    cache: dict,
    identity: Any,
    version: Any,
    params: tuple,
    build: Callable[[], Any],
    release: Callable[[Any], None],
):
    """Return the cached artifact for ``(identity, version, params)``,
    building it on miss — exactly once per key, however many threads
    miss together. Entries of the same identity at a DIFFERENT version
    are evicted through ``release`` once the new build is in (stale
    builds must not pin executor memory); different ``params`` at the
    same version coexist — they are different artifacts, not stale
    ones."""
    key = (identity, version, params)
    with _LOCK:
        art = cache.get(key)
        if art is not None:
            return art
        gate = _BUILDING.setdefault((id(cache), key), threading.Lock())
    with gate:
        with _LOCK:
            art = cache.get(key)
        if art is not None:  # another thread built it while we waited
            return art
        art = build()  # a failed build keeps the gate for the next try
        with _LOCK:
            stale = [cache.pop(k) for k in list(cache) if k[0] == identity and k[1] != version]
            cache[key] = art
            _BUILDING.pop((id(cache), key), None)
    for old in stale:
        release(old)
    return art
