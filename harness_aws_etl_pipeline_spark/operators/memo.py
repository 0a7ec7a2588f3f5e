"""Bounded plan-keyed reuse of expensive intermediates.

The sketch-dedup and ANN families each derive a costly intermediate
(shingle posting lists, MinHash signatures, SimHash sketches, LSH
bucket flats, IVF centroids) that is read several times inside one
query AND re-derived identically on every repeated invocation — the
verification panels and any long-running service call the same
operator on the same inputs over and over.

A bare ``df.persist()`` serves the reuse but leaks: a persist with no
unpersist pins a CacheManager entry for the session's lifetime, one
per distinct input ever seen. ``localCheckpoint`` bounds storage (GC
reclaims blocks) but forfeits cross-invocation reuse — measured 2-4×
on the dedup-family headline queries, because every call re-runs the
Arrow shingling/hashing pass.

:class:`PlanMemo` keeps both properties: ``get_or_persist(df)``
returns a persisted frame for the plan, reusing the existing entry
when an equivalent plan is already held, and EVICTS + unpersists the
least-recently-used entry beyond ``capacity`` — storage is bounded by
``capacity × intermediate size`` per operator family, not by the
number of distinct inputs the session ever processed.

:meth:`PlanMemo.get_or_value` holds a driver-side value instead (a
collected model, say) under the same keying and eviction — nothing is
persisted, but the job that collects it is skipped on a hit.
:meth:`PlanMemo.get_or_key` holds a value under an explicit key (the
catalog's table readers, build-time collects and fixture rows). One
registry covers every cache in the package, under one staleness
contract, and :func:`clear_all_memos` drains them all.

Hit validation is two-layer, mirroring what Spark's own CacheManager
does: the 32-bit canonical ``semanticHash`` is only the index; a hit
must also pass ``sameResult`` against the stored analyzed plan (a
hash collision silently serving another corpus's intermediate would
be a wrong-results bug, not a perf bug). A hit bound to a STOPPED
SparkSession invalidates the whole memo — sessions restart in
long-running services, and every held frame died with the old one.

Assumption (same as every Spark cache): inputs are immutable for the
session — files rewritten under a memoized path serve stale rows
until :func:`clear_all_memos` (or per-memo ``clear``) drops the entry.
"""

from __future__ import annotations

import threading
import weakref
from collections import OrderedDict

from pyspark.sql import DataFrame

__all__ = ["PlanMemo", "clear_all_memos"]

_REGISTRY: "weakref.WeakSet[PlanMemo]" = weakref.WeakSet()


def _analyzed(df: DataFrame):
    """The analyzed logical plan (JVM object), or None when the JVM
    surface is unavailable (e.g. Spark Connect)."""
    try:
        return df._jdf.queryExecution().analyzed()
    except Exception:
        return None


class _Entry:
    __slots__ = ("df", "plan", "pin", "persisted")

    def __init__(self, df, plan, pin, persisted: bool = True):
        self.df = df  # the held frame, or a driver-side value
        self.plan = plan  # analyzed plan for sameResult confirmation
        # `pin` keeps identity-keyed fallback objects alive: an id()
        # key is only unambiguous while the object it came from cannot
        # be garbage-collected and its id recycled
        self.pin = pin
        self.persisted = persisted  # df is a persisted frame to unpersist

    def release(self) -> None:
        if self.persisted:
            self.df.unpersist()


def _session_live(df: DataFrame) -> bool:
    try:
        return not df.sparkSession._sc._jsc.sc().isStopped()
    except Exception:
        return False


class PlanMemo:
    def __init__(self, capacity: int = 2):
        if capacity < 1:
            raise ValueError("capacity must be >= 1")
        self._capacity = capacity
        self._entries: "OrderedDict[object, _Entry]" = OrderedDict()
        self._lock = threading.Lock()
        _REGISTRY.add(self)

    def get_or_persist(self, df: DataFrame) -> DataFrame:
        plan = _analyzed(df)
        key = plan.semanticHash() if plan is not None else id(df)
        return self._lookup(key, plan, lambda: df, pin=df)

    def get_or_compute(self, key_df: DataFrame, extra_key, compute) -> DataFrame:
        """Like :meth:`get_or_persist`, but keyed on the INPUT plan
        (+ a parameter tuple) with the result built lazily — for
        derivations that do eager driver work at call time (e.g. the
        IVF quantizer's seeding collect + Lloyd steps), where keying
        on the output would memoize the storage but still pay the
        derivation on every call."""
        return self._by_input(key_df, extra_key, compute, persist=True)

    def get_or_value(self, key_df: DataFrame, extra_key, compute):
        """Like :meth:`get_or_compute`, for a driver-side VALUE derived
        from ``key_df`` (e.g. a collected k×dim model): held as
        returned, nothing persisted — repeated calls skip the Spark
        job(s) that derive it. Same keying, validation and staleness
        contract as the frame entries."""
        return self._by_input(key_df, extra_key, compute, persist=False)

    def get_or_key(self, key, compute):
        """A value held under an explicit hashable ``key``: nothing is
        persisted, no plan is validated and no session is pinned, so a
        key whose value depends on the session must carry its
        ``applicationId``. Same LRU bound and :func:`clear_all_memos`
        reach as every other entry."""
        return self._lookup(key, None, compute, pin=None, persist=False)

    def _by_input(self, key_df: DataFrame, extra_key, compute, persist: bool):
        plan = _analyzed(key_df)
        base = plan.semanticHash() if plan is not None else id(key_df)
        return self._lookup(
            (base, extra_key), plan, compute, pin=key_df, persist=persist
        )

    def _hit_valid(self, entry: _Entry, plan) -> bool:
        if entry.plan is not None and plan is not None:
            try:
                if not entry.plan.sameResult(plan):
                    return False  # 32-bit hash collision — treat as miss
            except Exception:
                return False
        return True

    def _lookup(self, key, plan, compute, pin, persist: bool = True):
        with self._lock:
            hit = self._entries.get(key)
            if hit is not None and hit.pin is not None and not _session_live(hit.pin):
                # the session every held frame belonged to is gone —
                # drop them all (no unpersist possible on a dead JVM);
                # get_or_key entries pin nothing and are never checked
                self._entries.clear()
                hit = None
            if hit is not None and self._hit_valid(hit, plan):
                self._entries.move_to_end(key)
                return hit.df
        # compute outside the lock — it may launch Spark jobs
        persisted = compute().persist() if persist else compute()
        evicted = []
        with self._lock:
            race = self._entries.get(key)
            if race is not None and self._hit_valid(race, plan):
                # another thread filled it first; do NOT unpersist our
                # duplicate — equal canonical plans share one cache
                # entry, so unpersisting it would drop the winner's too
                self._entries.move_to_end(key)
                persisted = race.df
            else:
                stale = self._entries.pop(key, None)
                if stale is not None:  # collided entry being replaced
                    evicted.append(stale)
                self._entries[key] = _Entry(persisted, plan, pin, persist)
                while len(self._entries) > self._capacity:
                    _, old = self._entries.popitem(last=False)
                    evicted.append(old)
        for old in evicted:
            old.release()
        return persisted

    def __len__(self) -> int:
        return len(self._entries)

    def clear(self) -> None:
        with self._lock:
            entries = list(self._entries.values())
            self._entries.clear()
        for e in entries:
            try:
                e.release()
            except Exception:
                pass  # session may already be gone


def clear_all_memos() -> None:
    """Unpersist every memoized intermediate (all operator families) —
    the invalidation hook for tests and for callers that rewrote a
    memoized input in place."""
    for memo in list(_REGISTRY):
        memo.clear()
