"""Query registry: the single source of truth mapping operator names to
(PySpark implementation, DuckDB oracle SQL) pairs.

Driver contract (__spark_entry__.py): every operator claimed as done
needs a ``queries()`` entry, and — unless genuinely not SQL-expressible
— an ``oracle_sql()`` entry whose column names match the Spark output
exactly (the driver sorts columns by name and value-hashes).
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from contextvars import ContextVar
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable  # (SparkSession, sf_dir: str) -> DataFrame
    oracle: str | None  # DuckDB SQL over pre-registered views, or None (rows-only)
    tags: tuple = field(default_factory=tuple)
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


# Query-scoped persist state, per context so that threads sharing one
# session never release each other's frames (a new thread starts with an
# empty context). _HELD: the (applicationId, frame) pairs pinned by this
# context's current or most recent top-level query. They are released at
# the NEXT top-level entry, not at wrapper exit, because callers collect
# the returned lazy plan after the wrapper has returned.
_HELD: ContextVar[tuple | list] = ContextVar("held_pins", default=())
_IN_QUERY: ContextVar[bool] = ContextVar("in_registered_query", default=False)


def _scoped(fn: Callable) -> Callable:
    """Run ``fn`` as a registered query. A top-level entry first
    unpersists the frames this context pinned in its previous query, so
    no run reads another run's cached blocks (the CacheManager matches
    by canonical plan). A nested entry (a capstone calling a component
    through REGISTRY) releases nothing, keeping the outer query's pins.
    The module-level function name still binds the raw fn."""

    @functools.wraps(fn)
    def wrapped(spark, sf_dir, *args, **kwargs):
        if _IN_QUERY.get():
            return fn(spark, sf_dir, *args, **kwargs)
        for app, df in _HELD.get():
            # unpersist on a stopped application's frame raises
            if app == spark.sparkContext.applicationId:
                df.unpersist(blocking=False)
        _HELD.set([])
        token = _IN_QUERY.set(True)
        try:
            return fn(spark, sf_dir, *args, **kwargs)
        finally:
            _IN_QUERY.reset(token)

    return wrapped


def pin(df: DataFrame, level: StorageLevel | None = None) -> DataFrame:
    """persist() a midframe for several consumers inside the current
    registered query; lineage is kept, so a lost executor recomputes its
    blocks. The context's next top-level query entry unpersists it."""
    if not _IN_QUERY.get():
        raise RuntimeError(
            "pin() outside a registered query: call the query through "
            "REGISTRY[name].fn so its pins are released by the next query"
        )
    out = df.persist(level) if level is not None else df.persist()
    _HELD.get().append((df.sparkSession.sparkContext.applicationId, out))
    return out


def query(name: str, oracle: str | None = None, tags: tuple = ()):  # decorator
    def deco(fn):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(
            name=name,
            fn=_scoped(fn),
            oracle=oracle,
            tags=tuple(tags),
            doc=fn.__doc__ or "",
        )
        return fn

    return deco
