"""Session-scoped cache: the one home of the build-once-per-session policy.

Registry queries are self-contained ``(spark, sf_dir) -> DataFrame``
programs, so compositions rebuilt their upstream layers inline per call:
every gold view re-derived bronze -> silver, and the curation rollups
re-ran the whole ``corpus_curate`` funnel (14.4s cold at sf0.1). On a
real deployment those layers are materialized tables — the reference
writes silver/gold to catalog tables and every consumer reads them
(run_sales_analytics.py child-job chain; create_refined_schemas.py) —
so sharing them across queries in one session is the faithful local
analogue. The same holds for every other build-once artifact: trained
codebooks and their cell stores, maintained warehouses, drained stream
sinks, collected corpus statistics.

Lifecycle of an entry (every cache in the package goes through here):

- **Key.** ``(session, key)``, where the session is the SparkContext's
  ``(applicationId, startTime)`` — not ``id(spark)``, which a GC'd
  session can hand to its successor. A new session (tests spin several)
  never sees another session's values.
- **Build.** :func:`once` calls ``build()`` on the first miss and
  returns the same value to every later caller. Each key has its own
  re-entrant build lock: two callers of one key build once, builds of
  different keys run concurrently (a multi-second warehouse build never
  blocks an IVF store build), and a builder may nest ``once`` calls.
- **Release.** An entry leaves through :func:`clear`, :func:`drop`,
  :func:`put` replacing it, or the stale-session sweep (the first miss
  after a new session appears drops every other session's entries).
  Each calls ``release(value)`` exactly once, best-effort (the context
  may be gone). ``clear`` and ``drop`` take the key's build lock first,
  so an entry is never released while its build or :func:`update` is
  still running. Entries that own a temp root pass ``rmtree`` of it as
  ``release``, so no store directory outlives its entry.

Two frame-sharing modes sit on top (:func:`shared_frame`):

- ``persist`` (lazy builders — the silver layer, the derived partsupp
  bridge): the frame is ``persist()``-marked once and the SAME DataFrame
  object is returned to every caller. Nothing runs until a consumer
  executes; Spark's CacheManager also substitutes the cached relation
  into any INDEPENDENTLY-constructed identical plan, and the
  executed-plan string keeps the full original lineage beneath
  ``InMemoryRelation`` — so the plan locks in tests/test_plans.py still
  read the real join/exchange structure.
- ``checkpoint`` (eager builders — the ``corpus_curate`` flag frame,
  whose construction itself runs jobs for the connected-components
  loop): built once, pinned (:func:`..pinning.pin`), reused.

At 100 TB the persist tier maps to the materialized silver tables the
pipeline already writes; executor-memory pressure turns into a
storage-backed table read, not a recompute.
"""

from __future__ import annotations

import shutil
import threading
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from .pinning import pin

# (session, key) -> (value, release)
_ENTRIES: dict[tuple, tuple[Any, Callable[[Any], None] | None]] = {}
# (session, key) -> that key's build lock (RLock: builders may re-enter)
_KEY_LOCKS: dict[tuple, threading.RLock] = {}
# guards the two dicts only — never held across a build or a release
_LOCK = threading.Lock()


def _session_key(spark: SparkSession) -> tuple:
    sc = spark.sparkContext
    return (sc.applicationId, sc.startTime)


def _release(entry: tuple) -> None:
    value, release = entry
    if release is not None:
        try:
            release(value)
        except Exception:  # noqa: BLE001 — context may already be gone
            pass


def _lock_for(full_key: tuple) -> threading.RLock:
    """The build lock of ``full_key``; sweeps other sessions' entries
    on the way, so a process that spins many sessions stays bounded."""
    skey = full_key[0]
    with _LOCK:
        stale = [_ENTRIES.pop(k) for k in list(_ENTRIES) if k[0] != skey]
        for k in [k for k in _KEY_LOCKS if k[0] != skey]:
            del _KEY_LOCKS[k]
        lock = _KEY_LOCKS.setdefault(full_key, threading.RLock())
    for entry in stale:
        _release(entry)
    return lock


def once(
    spark: SparkSession,
    key: tuple | str,
    build: Callable[[], Any],
    release: Callable[[Any], None] | None = None,
) -> Any:
    """Return the per-(session, key) value, calling ``build()`` on the
    first use only. ``release(value)`` runs when the entry is removed."""
    full_key = (_session_key(spark), key)
    hit = _ENTRIES.get(full_key)
    if hit is None:
        with _lock_for(full_key):
            hit = _ENTRIES.get(full_key)
            if hit is None:
                hit = (build(), release)
                with _LOCK:
                    _ENTRIES[full_key] = hit
    return hit[0]


def get(spark: SparkSession, key: tuple | str) -> Any:
    """The cached value of (session, key), or None; never builds."""
    hit = _ENTRIES.get((_session_key(spark), key))
    return None if hit is None else hit[0]


def put(
    spark: SparkSession,
    key: tuple | str,
    value: Any,
    release: Callable[[Any], None] | None = None,
) -> None:
    """Store ``value`` under (session, key), releasing any value it
    replaces."""
    full_key = (_session_key(spark), key)
    with _lock_for(full_key):
        with _LOCK:
            old = _ENTRIES.get(full_key)
            _ENTRIES[full_key] = (value, release)
        if old is not None:
            _release(old)


def update(spark: SparkSession, key: tuple | str, rebuild: Callable[[], Any]) -> Any:
    """Replace an entry in place: ``rebuild()`` runs under the key's build
    lock (it may read the current value through :func:`once`) and its
    result takes over the entry and its ``release``. The old value is NOT
    released — the rebuild owns whatever it reuses of it."""
    full_key = (_session_key(spark), key)
    with _lock_for(full_key):
        value = rebuild()
        with _LOCK:
            _ENTRIES[full_key] = (value, _ENTRIES[full_key][1])
    return value


def drop(spark: SparkSession, key: tuple | str) -> None:
    """Remove and release the (session, key) entry, if any."""
    full_key = (_session_key(spark), key)
    with _lock_for(full_key):
        with _LOCK:
            old = _ENTRIES.pop(full_key, None)
        if old is not None:
            _release(old)


def clear() -> None:
    """Remove and release every entry (tests; the bench's cold re-runs)."""
    with _LOCK:
        keys = list(_KEY_LOCKS.items())
    for full_key, lock in keys:
        with lock:  # waits out a build or update of this key
            with _LOCK:
                old = _ENTRIES.pop(full_key, None)
            if old is not None:
                _release(old)


def rmtree(path: str) -> None:
    """The ``release`` of entries that own a temp root."""
    shutil.rmtree(path, ignore_errors=True)


def _unpersist(df: DataFrame) -> None:
    df.unpersist()


def shared_frame(
    spark: SparkSession,
    key: tuple | str,
    build: Callable[[], DataFrame],
    *,
    checkpoint: bool = False,
) -> DataFrame:
    """Return the per-(session, key) shared frame, building it on first use.

    ``checkpoint=False``: persist()-mark the built frame (lazy; the first
    consumer materializes it). ``checkpoint=True``: pin it eagerly (for
    builders whose construction already runs Spark jobs)."""

    def build_shared() -> DataFrame:
        df = build()
        if checkpoint:
            return df.transform(pin)
        return df.persist(StorageLevel.MEMORY_AND_DISK)

    return once(spark, key, build_shared, _unpersist)


def seed(spark: SparkSession, key: tuple | str, df: DataFrame) -> None:
    """Pre-populate a shared-frame slot with an externally-built frame —
    the adoption path for maintained tables (llmdata.incrstats seeds the
    tokmemo tiers with warehouse reads so text consumers answer from the
    maintained statistics instead of re-scanning the corpus). Replaces
    (and unpersists) any frame already in the slot."""
    put(spark, key, df.persist(StorageLevel.MEMORY_AND_DISK), _unpersist)
