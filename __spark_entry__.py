"""Driver contract for the spark-graft builder (PySpark target).

The driver runs ``entry(spark)`` as a smoke check, then runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row count + schema + order-insensitive
value hash).

Thin view over ``insight_gp_import_spark.registry``: operators are
implemented and declared in exactly one place (the ``@op`` decorator).
``queries()`` covers every registered op, in registration order.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from insight_gp_import_spark.registry import load_all_ops  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: B1 pricing summary (agg_hash_groupby) at sf0.001."""
    ops = load_all_ops()
    return ops["agg_hash_groupby"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: o.fn for name, o in load_all_ops().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB twin SQL per op."""
    return {name: o.oracle for name, o in load_all_ops().items()}
