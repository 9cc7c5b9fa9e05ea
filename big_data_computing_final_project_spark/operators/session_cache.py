"""Session-scoped fitted-state cache.

Some operators build EXPENSIVE state at plan time — a seeded KMeans
quantizer fit, connected-components label propagation, PQ codebooks. Each
is a pure function of (application, input files, config): the same seeded
algorithm over the same parquet yields the same artifact, so one build per
session can serve every consumer instead of each call paying it again
(the IVF fit and the CC rounds, for example).

Contract:
- keys MUST start with ``spark.sparkContext.applicationId`` — a
  stopped-and-restarted session can never see another session's (dead)
  cached frames; inserting a key evicts every entry from other
  applications.
- every entry records a snapshot of its input files (path, mtime_ns,
  size), taken with :func:`table_snapshot` before the build; a ``get``
  with a non-matching snapshot evicts and misses, so an in-session
  rewrite of the data under an sf_dir (e.g. a tool regenerating a
  warehouse dir) invalidates the fit instead of serving stale state.
- eviction unpersists any Spark-cached frames the payload pinned
  (payloads are scanned one level deep: a DataFrame, or a tuple/list
  containing DataFrames).

The reference has no analogue (single-process pandas rebuilds state per
cell); this is the Spark-session equivalent of a serving system keeping
its fitted index resident.
"""

from __future__ import annotations

import os

_CACHE: dict = {}


def table_snapshot(sf_dir: str, *tables: str) -> tuple:
    """Cheap fingerprint of one or more tables' parquet inputs:
    (path, mtime_ns, size) per data file, sorted. Defaults to no tables →
    empty tuple (caller opts out of validation explicitly)."""
    out = []
    for table in tables:
        path = os.path.join(sf_dir, f"{table}.parquet")
        if os.path.isdir(path):
            files = sorted(
                os.path.join(root, f)
                for root, _, fs in os.walk(path)
                for f in fs
                if not f.startswith(("_", "."))
            )
        else:
            files = [path]
        for f in files:
            try:
                st = os.stat(f)
            except OSError:
                continue
            out.append((f, st.st_mtime_ns, st.st_size))
    return tuple(out)


def evict(key) -> None:
    """Drop one entry, unpersisting any Spark-cached frames it pinned."""
    entry = _CACHE.pop(key, None)
    if entry is None:
        return
    payload = entry[1]
    for item in payload if isinstance(payload, (tuple, list)) else (payload,):
        unpersist = getattr(item, "unpersist", None)
        if callable(unpersist):
            try:
                unpersist()
            except Exception:
                pass  # frame belongs to a stopped session: nothing to free


def get(key, snapshot):
    """Return the cached payload for ``key`` iff its input snapshot still
    matches; a stale entry (input rewritten in-session) is evicted."""
    entry = _CACHE.get(key)
    if entry is not None:
        if entry[0] == snapshot:
            return entry[1]
        evict(key)
    return None


def put(key, snapshot, payload) -> None:
    """Insert, evicting every entry from other (stopped) applications —
    their cached frames reference a dead context and can never be read."""
    for k in [k for k in _CACHE if k[0] != key[0]]:
        evict(k)
    _CACHE[key] = (snapshot, payload)
