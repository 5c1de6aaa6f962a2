"""Session memo: one dict for every artifact reused within a session.

Entries are keyed ``(applicationId, family, *key)``. The contract every
caller keeps:

- only deterministic artifacts are memoized (fixed-seed training,
  corpus counts, persisted day-1 states);
- a hit returns the exact rows a rebuild would, so no result changes;
- a fresh session always rebuilds: a new context gets a new
  applicationId, and entries of dead application ids are evicted on
  the next miss;
- memo-owned source states are never mutated: consumers that mutate a
  state clone it first.
"""

from __future__ import annotations

import threading

_ENTRIES: dict[tuple, object] = {}
# guards the dict only, never ``build``: builds nest (a state build
# counts the corpus and trains centroids through this memo)
_LOCK = threading.Lock()


def get(spark, key: tuple, build, valid=None):
    """The session's value for ``key`` (``(family, *rest)``). A hit is
    returned unless ``valid(hit)`` is false; otherwise dead-app entries
    are evicted and ``build()``'s result is stored and returned."""
    app = spark.sparkContext.applicationId
    full = (app, *key)
    with _LOCK:
        hit = _ENTRIES.get(full)
    if hit is not None and (valid is None or valid(hit)):
        return hit
    with _LOCK:
        for stale in [k for k in _ENTRIES if k[0] != app]:
            del _ENTRIES[stale]
    value = build()
    with _LOCK:
        _ENTRIES[full] = value
    return value
