"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship multi-operator pipeline on sf0.001.
``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2 (see dataframe_pipeline_spark/queries.py); DuckDB-verified
at sf0.01 by the driver.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dataframe_pipeline_spark.queries import CORE_QUERIES  # noqa: E402

try:  # extension queries land incrementally; keep the contract importable
    from dataframe_pipeline_spark.ext_queries import EXT_QUERIES
except ImportError:
    EXT_QUERIES = {}

try:
    from dataframe_pipeline_spark.tpch import TPCH_QUERIES
except ImportError:
    TPCH_QUERIES = {}

_ALL = {**CORE_QUERIES, **EXT_QUERIES, **TPCH_QUERIES}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from dataframe_pipeline_spark.queries import q_pipeline_flagship

    return q_pipeline_flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in _ALL.items()}


def oracle_sql(sf_dir: str = "/root/testdata/sf0.01",
               names=None) -> dict[str, str]:
    """Oracle SQL per query.  Most oracles are static strings (or
    parameter-generated at import); data-dependent ones (sim_ann_ivf,
    whose fitted centroids are literals) are registered as callables and
    resolved here against ``sf_dir`` — the driver calls with no args and
    gets its correctness scale (sf0.01); scripts pass their actual
    sf_dir so the generated literals match the data they benchmark.

    ``names`` (optional, scripts only — the driver passes nothing)
    restricts resolution to a subset: generator oracles re-run their
    fit (k-means, PQ codebooks) against sf_dir, so resolving all ~15
    of them costs minutes at sf1+ — wasteful when a script benchmarks
    three queries."""
    out: dict[str, str] = {}
    for name, (_fn, sql) in _ALL.items():
        if names is not None and name not in names:
            continue
        if callable(sql):
            sql = sql(sf_dir)
        if sql is not None:
            out[name] = sql
    return out
