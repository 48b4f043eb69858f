"""Shared cache hygiene: every persist() the engine's operators take is
tracked here so library callers running many queries in one session can
free them all deterministically (bench.py's clearCache() also works,
but a library must not rely on callers nuking the whole cache).

Usage: ``persist_tracked(df)`` instead of ``df.persist()``;
``release_cached()`` unpersists everything tracked (idempotent).
Modules may keep their own ``release_cached`` aliases — they all drain
this one registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []
_PRUNE_AT = 64  # bound registry growth in long-lived sessions


def is_cached(df: DataFrame) -> bool:
    """``df`` still holds a cache entry (not unpersisted, released or
    dropped by spark.catalog.clearCache())."""
    try:
        level = df.storageLevel
    except Exception:
        return False
    return level.useMemory or level.useDisk


def _prune() -> None:
    """Drop entries that are no longer cached (a caller unpersisted
    them, or used spark.catalog.clearCache() instead of
    release_cached()) so the registry — and the plan objects it pins —
    stays bounded."""
    _TRACKED[:] = [df for df in _TRACKED if is_cached(df)]


def persist_tracked(df: DataFrame) -> DataFrame:
    if len(_TRACKED) >= _PRUNE_AT:
        _prune()
    df = df.persist()
    _TRACKED.append(df)
    return df


def release_cached() -> None:
    while _TRACKED:
        try:
            _TRACKED.pop().unpersist()
        except Exception:
            pass


class scoped_persists:
    """Release ONLY the persists tracked inside this scope on exit —
    for long-lived callers (a serving loop calling topk repeatedly)
    where ``release_cached()`` would nuke caches other concurrent work
    still needs. Everything the scope returns must be materialized
    before exit (count / localCheckpoint), since its inputs' caches are
    gone afterwards.

    Guards against the unbounded-cache accumulation an ADVICE review
    flagged on the touched-key set ``changes()`` persists for
    partition pruning.
    """

    def __enter__(self) -> "scoped_persists":
        # membership by IDENTITY, not list index: persist_tracked's
        # _prune() may compact _TRACKED mid-scope, which would shift a
        # saved index past the scope's own entries and release nothing
        # (review catch, r5 — the >= _PRUNE_AT serving loop is exactly
        # this class's use case)
        self._before = {id(df) for df in _TRACKED}
        return self

    def __exit__(self, *exc) -> None:
        scoped = [df for df in _TRACKED if id(df) not in self._before]
        _TRACKED[:] = [df for df in _TRACKED if id(df) in self._before]
        for df in scoped:
            try:
                df.unpersist()
            except Exception:
                pass
