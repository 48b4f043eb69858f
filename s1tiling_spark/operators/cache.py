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

