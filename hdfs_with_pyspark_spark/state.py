"""Session state: the one place a query keeps anything between invocations.

Two kinds of entry live here, per SparkSession:

* **memo** -- a driver-side value computed once per key (trained
  centroids, PQ codebooks, PC weights, corpus counts, a collected city
  dimension, the events ``ts`` footer sniff);
* **pinned** -- a persisted DataFrame that later invocations reuse while
  Spark still holds its blocks.

Keys must carry everything the value depends on: ``sf_dir`` for a
registered query, plus its parameters, or the semantic hash of an input
frame for a library operator. Nothing here can see a table rewritten in
place under the same path; call :func:`clear` after doing that.

State hangs off the session's ``SparkContext`` object in a
``WeakKeyDictionary``: a lookup makes no Py4J call, and a stopped
context's entries go with it. Within one session the entries share a
single FIFO bound. One lock guards the bookkeeping (``pipeline.DAG`` runs
tasks on threads); ``fn`` and ``build`` run outside it.
"""

from __future__ import annotations

import itertools
import threading
import weakref
from typing import Callable, Hashable, TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

# Room for every pinned frame and memo that one pass over the registry
# at one sf_dir creates (57 at sf0.001: 48 pinned frames, 9 memos), so
# a full pass evicts nothing; a second sf_dir in the same session
# starts evicting the oldest entries.
MAX_ENTRIES = 64

MEMO, PINNED = "memo", "pinned"

_LOCK = threading.Lock()
# SparkContext -> {key: (kind, value, seq)} in insertion order; seq
# numbers registrations, so a rebuilt entry is told from a kept one.
_STATE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_SEQ = itertools.count()


def _entries(spark: SparkSession) -> dict:
    """This session's entries. Caller holds _LOCK.

    A pinned frame references its context, so a stopped context's
    entries would keep the weak key alive: drop them explicitly."""
    for sc in [sc for sc in _STATE.keys() if sc._jsc is None]:
        del _STATE[sc]
    return _STATE.setdefault(spark.sparkContext, {})


def _make_room(entries: dict, key: Hashable) -> None:
    """Free ``key``'s slot, evicting the oldest entries so one more fits
    under MAX_ENTRIES. Caller holds _LOCK."""
    entries.pop(key, None)
    while len(entries) >= MAX_ENTRIES:
        kind, old, _ = entries.pop(next(iter(entries)))
        if kind == PINNED:
            old.unpersist()


def _serves(level) -> bool:
    # Read from df.storageLevel, not df.is_cached: that flag stays True
    # after spark.catalog.clearCache(), while the storage level is a
    # cache-manager lookup that reports whether blocks can be served.
    return level.useMemory or level.useDisk


def memo(spark: SparkSession, key: Hashable, fn: Callable[[], T]) -> T:
    """``fn()``, computed once per session and ``key``."""
    with _LOCK:
        hit = _entries(spark).get(key)
    if hit is not None:
        return hit[1]
    value = fn()
    with _LOCK:
        entries = _entries(spark)
        _make_room(entries, key)
        entries[key] = (MEMO, value, next(_SEQ))
    return value


def pinned(spark: SparkSession, key: Hashable,
           build: Callable[[], DataFrame]) -> DataFrame:
    """The frame pinned under ``key`` while its blocks are still cached;
    otherwise release the previous entry, ``build()``, persist, register.

    Runs no Spark action. Releasing first matters: Spark's cache manager
    matches entries by plan, so unpersisting the previous frame after
    persisting its rebuilt twin would evict the new entry too.
    """
    with _LOCK:
        prev = _entries(spark).get(key)
    if prev is not None:
        if _serves(prev[1].storageLevel):
            return prev[1]
        with _LOCK:
            entries = _entries(spark)
            if entries.get(key) is prev:
                del entries[key]
                prev[1].unpersist()
    df = build()
    with _LOCK:
        entries = _entries(spark)
        # Evict before persisting, for the same plan-matching reason.
        _make_room(entries, key)
        df.persist()
        entries[key] = (PINNED, df, next(_SEQ))
    return df


def clear(spark: SparkSession) -> None:
    """Drop this session's memos and unpersist its pinned frames."""
    with _LOCK:
        entries = _STATE.pop(spark.sparkContext, {})
        for kind, value, _ in entries.values():
            if kind == PINNED:
                value.unpersist()


def inventory(spark: SparkSession) -> list[dict]:
    """One record per entry, oldest first: key, kind, registration
    number ``seq`` (higher means computed or built later) and, for a
    pinned frame, its storage level and whether that level still
    serves data."""
    with _LOCK:
        items = list(_entries(spark).items())
    out = []
    for key, (kind, value, seq) in items:
        rec = {"key": key, "kind": kind, "seq": seq}
        if kind == PINNED:
            level = value.storageLevel
            rec["storage_level"] = str(level)
            rec["live"] = _serves(level)
        out.append(rec)
    return out
