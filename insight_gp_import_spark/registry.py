"""Operator registry — single source of truth for the driver contract.

Every operator from SURVEY.md §2 is registered here by its ``op id``.
``__spark_entry__.queries()`` / ``oracle_sql()`` are thin views over this
registry, so an operator is implemented, tested, and declared in exactly
one place.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Op:
    name: str
    fn: QueryFn
    oracle: str
    category: str


REGISTRY: dict[str, Op] = {}

# DataFrames persisted by an op BODY outlive the op call (the returned plan
# is lazy; the caller materializes later), so an op can't unpersist its own
# caches. Instead ops register them via tracked_persist() and the NEXT op
# invocation flushes them — bounding block-manager growth to one op's
# caches during a ~500-op driver sweep instead of accumulating all of them.
#
# CALLER CONTRACT (round-5 advice): materialize each op's returned plan
# BEFORE invoking the next op. Building several ops' plans first and
# collecting later stays CORRECT (unpersist only drops caching; Spark
# recomputes the subtree) but silently loses the caching benefit, since
# op B's invocation unpersists op A's still-unmaterialized caches. The
# driver, parity sweep, and pytest all follow call-then-materialize.
# The lock below makes flush/registration safe if a harness ever runs
# ops concurrently in one process (e.g. a threaded sweep).
import threading as _threading

_TRACKED_PERSISTS: list[DataFrame] = []
_PERSIST_LOCK = _threading.Lock()


def tracked_persist(df: DataFrame) -> DataFrame:
    """persist() a DataFrame and register it for flush at the next op call."""
    df = df.persist()
    with _PERSIST_LOCK:
        _TRACKED_PERSISTS.append(df)
    return df


def flush_tracked_persists() -> None:
    while True:
        with _PERSIST_LOCK:
            if not _TRACKED_PERSISTS:
                return
            df = _TRACKED_PERSISTS.pop()
        try:
            df.unpersist()
        except Exception:  # session already stopped — nothing to free
            pass


def op(name: str, oracle: str, category: str = "") -> Callable[[QueryFn], QueryFn]:
    """Register an operator. ``oracle`` is its DuckDB twin SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate op id {name!r}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Composed ops call the plain function of the op they build
            # on (the decorator returns it), never this wrapper: a flush
            # mid-plan-build would drop the outer op's tracked caches.
            flush_tracked_persists()
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__module__ = fn.__module__
        wrapped.__wrapped__ = fn
        REGISTRY[name] = Op(name=name, fn=wrapped, oracle=oracle, category=category)
        return fn

    return deco


def load_all_ops() -> dict[str, Op]:
    """Import every operator module and return the registry.

    Ops are in registration order, which follows the import list in
    ``operators/__init__.py``; callers look ops up by name.
    """
    import insight_gp_import_spark.operators  # noqa: F401  (side-effect imports)

    return REGISTRY
