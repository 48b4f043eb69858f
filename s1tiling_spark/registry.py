"""Query registry backing the driver contract (__spark_entry__.py).

Every implemented operator registers (name, spark_fn, oracle_sql). The
driver runs the Spark fn and the DuckDB oracle side-by-side at sf0.01
and compares row count + schema + value hash. The oracle is required:
a query without one would only get a rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Entry:
    name: str
    fn: QueryFn
    oracle: str


_REGISTRY: dict[str, Entry] = {}


def register(name: str, oracle: str):
    """Decorator: register a (spark, sf_dir) -> DataFrame query."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Entry(name, fn, oracle)
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {n: e.fn for n, e in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {n: e.oracle for n, e in _REGISTRY.items()}


_LOADED = False


def _ensure_loaded() -> None:
    """Import all catalog modules (each registers its queries)."""
    global _LOADED
    if _LOADED:
        return
    from s1tiling_spark import catalog  # noqa: F401

    _LOADED = True
