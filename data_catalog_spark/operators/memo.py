"""One bounded memo for derived corpus state.

Every expensive derived value (signature and pair tables, cluster
labels, coded corpora, trained models, loaded service state) is built
once per (owner, corpus content, name) and read by every later consumer
through ``memo``.  This module owns the three decisions that every such
value shares:

- **The key.** ``content_key`` stats ``<sf_dir>/<table>.parquet``; a
  regenerated input (new mtime or size) is a new key, so a stale value is
  simply never read.  The Spark application id is part of the key too.
- **The owner and the bound.** A cached DataFrame strongly pins the
  SparkSession its plan is bound to, so plan-bound values are owned by
  that session: a sibling ``newSession()`` must build its own entries (its
  temp-view catalog is separate).  Session-free values (trained centroids
  and codebooks, plain python floats) are owned by the ``SparkContext``,
  so every session of one application shares them.  ``weakref`` cannot
  bound the store — the entry itself is what keeps its owner alive, so a
  WeakValueDictionary would never fire.  Instead the store is an LRU over
  OWNERS: at most ``MAX_OWNERS`` owners' entries are retained, and
  admitting a new owner evicts the least-recently-used owner's entries
  wholesale.  Long-lived apps with one or two sessions never evict;
  session-churning apps are bounded by construction.
- **Release.** Dropping the Python reference alone frees a
  ``localCheckpoint``'d frame's executor blocks only after Python GC →
  py4j finalizer → JVM ContextCleaner, so eviction, ``drop_session`` and
  ``clear`` also best-effort ``unpersist`` every released DataFrame
  (recursing into tuples/lists/dicts of them); the checkpointed RDD itself
  still rides the GC chain.  An entry written to process scratch parquet
  (``io.process_scratch_table``) records its directory, and releasing the
  entry removes that directory — otherwise a session-churning process
  would accumulate scratch tables until interpreter exit.

Each call site states how its value is stored, because the storage kind
decides the job count of the build: ``SCRATCH`` (a written parquet table
read back — full-corpus derived state that must not pin executor
storage), ``CHECKPOINT`` (a lazy ``localCheckpoint``; for a dict, each
DataFrame in it), or ``AS_BUILT`` (whatever ``build`` returns).

All store operations take a lock: Spark drivers legitimately submit jobs
from multiple threads, and OrderedDict.move_to_end during concurrent
iteration is a crash, not just a race.  The build itself runs outside the
lock, so two threads missing the same key at once both build it.
"""

from __future__ import annotations

import os
import shutil
import threading
from collections import OrderedDict
from typing import Any, Callable, Hashable

from pyspark.sql import DataFrame

MAX_OWNERS = 4

SCRATCH = "scratch"
CHECKPOINT = "checkpoint"
AS_BUILT = "as_built"


def content_key(sf_dir: str, table: str) -> tuple:
    """(abspath(sf_dir), st_mtime_ns, st_size) of ``<sf_dir>/<table>.parquet``."""
    st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
    return (os.path.abspath(sf_dir), st.st_mtime_ns, st.st_size)


def _release(value: Any, scratch_dir: str | None) -> None:
    """Best-effort immediate unpersist of a cached value (a DataFrame, or
    a tuple/list/dict containing DataFrames), then removal of its scratch
    directory.  Failures are swallowed: the session may already be
    stopped, and GC remains the backstop."""
    if isinstance(value, dict):
        values = list(value.values())
    elif isinstance(value, (list, tuple)):
        values = list(value)
    else:
        values = [value]
    for v in values:
        unpersist = getattr(v, "unpersist", None)
        if callable(unpersist):
            try:
                unpersist(False)  # non-blocking
            except Exception:
                pass
    if scratch_dir is not None:
        shutil.rmtree(scratch_dir, ignore_errors=True)


class MemoStore:
    """Entries are ``(owner_id, key) -> value`` with all of one owner's
    entries living and dying together (a plan-bound value is only safe to
    reuse from the session whose catalog its plan resolves against)."""

    def __init__(self, max_owners: int = MAX_OWNERS):
        # owner id -> {key: (value, scratch dir or None)}
        self._by_owner: OrderedDict[int, dict[Hashable, tuple]] = OrderedDict()
        self._max = max_owners
        self._lock = threading.Lock()

    def get(self, owner_id: int, key: Hashable):
        with self._lock:
            entries = self._by_owner.get(owner_id)
            if entries is None:
                return None
            self._by_owner.move_to_end(owner_id)
            hit = entries.get(key)
        return None if hit is None else hit[0]

    def put(
        self, owner_id: int, key: Hashable, value, scratch_dir: str | None = None
    ) -> None:
        evicted: list[dict[Hashable, tuple]] = []
        with self._lock:
            entries = self._by_owner.setdefault(owner_id, {})
            self._by_owner.move_to_end(owner_id)
            entries[key] = (value, scratch_dir)
            while len(self._by_owner) > self._max:
                evicted.append(self._by_owner.popitem(last=False)[1])
        # release outside the lock: it is a JVM round-trip per frame
        for bundle in evicted:
            for entry in bundle.values():
                _release(*entry)

    def drop_session(self, owner_id: int) -> None:
        with self._lock:
            entries = self._by_owner.pop(owner_id, None)
        for entry in (entries or {}).values():
            _release(*entry)

    def owners(self) -> list[int]:
        with self._lock:
            return list(self._by_owner)

    def clear(self) -> None:
        with self._lock:
            dropped = list(self._by_owner.values())
            self._by_owner.clear()
        for bundle in dropped:
            for entry in bundle.values():
                _release(*entry)


_STORE = MemoStore()


def _checkpoint(value):
    if isinstance(value, dict):
        return {k: _checkpoint(v) for k, v in value.items()}
    if isinstance(value, DataFrame):
        return value.localCheckpoint(eager=False)
    return value


def memo(
    owner, name: str, sf_dir: str, table: str, build: Callable[[], Any], kind: str
):
    """The value ``build()`` makes, stored as ``kind``, built once per
    (``owner``, content of ``<sf_dir>/<table>.parquet``, ``name``).

    ``owner`` is the SparkSession for plan-bound values and the
    SparkContext for session-free ones.  A ``SCRATCH`` entry's directory
    is named after ``name`` up to its first ``|``."""
    sc = getattr(owner, "sparkContext", owner)
    key = (sc.applicationId, *content_key(sf_dir, table), name)
    hit = _STORE.get(id(owner), key)
    if hit is not None:
        return hit
    scratch_dir = None
    if kind == SCRATCH:
        from ..io import process_scratch_table

        hit, scratch_dir = process_scratch_table(build(), name.split("|")[0])
    elif kind == CHECKPOINT:
        hit = _checkpoint(build())
    elif kind == AS_BUILT:
        hit = build()
    else:
        raise ValueError(f"unknown memo storage kind {kind!r}")
    _STORE.put(id(owner), key, hit, scratch_dir)
    return hit


def drop_session(owner) -> None:
    """Release every entry ``owner`` (a session or a context) holds."""
    _STORE.drop_session(id(owner))


def clear() -> None:
    """Release every entry of every owner."""
    _STORE.clear()
