"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over the engine's query registry
(``cpt_database_sync_spark.plans.registry``): every implemented operator
from SURVEY.md §2 registers a ``(spark, sf_dir) -> DataFrame`` callable and
(where SQL-expressible) a DuckDB oracle. The driver's verify runs
``entry(spark)`` as a smoke check, runs each ``queries()[name]`` at sf=0.01
and compares it against the matching ``oracle_sql()[name]`` via DuckDB.
"""

from __future__ import annotations

import functools
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cpt_database_sync_spark.plans.registry import (  # noqa: E402
    all_oracles,
    all_queries,
)
from cpt_database_sync_spark.session import share_package_with_workers  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H Q1-flavored grouped
    aggregation over lineitem (scan → pushdown filter → partial+final hash
    agg → sort). Driver checks rows>0 and a stable schema."""
    from cpt_database_sync_spark.operators.relational import agg_hash

    share_package_with_workers(spark)
    return agg_hash(spark, "/root/testdata/sf0.001")


def _on_worker_path(fn: Callable[[SparkSession, str], DataFrame]):
    """``fn`` that first gives the session's Python workers the package:
    the caller's session need not come from ``get_spark`` nor start in
    the repository root."""

    @functools.wraps(fn)
    def run(spark: SparkSession, *args, **kwargs) -> DataFrame:
        share_package_with_workers(spark)
        return fn(spark, *args, **kwargs)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: _on_worker_path(fn) for name, fn in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query; keys without an entry get the
    weaker rows-only check (non-SQL-expressible ops: sketches, LSH, custom
    stateful streaming)."""
    return all_oracles()
