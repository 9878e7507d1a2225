"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All implementations live in ``powerdatapipeline_spark``; this module is a
thin adapter over its query registry (powerdatapipeline_spark/queries.py).

A session built here with ``SparkSession.builder`` rather than
``session.get_spark`` keeps PySpark's origin capture on, so every Column
and DataFrame call walks the Python stack: q01's build takes 416 Py4J
round trips instead of 126. The conf is static, so such a builder has to
set ``spark.python.sql.dataFrameDebugging.enabled=false`` itself.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from powerdatapipeline_spark.queries import REGISTRY  # noqa: E402
from powerdatapipeline_spark.flagship import flagship  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the reference's signature
    time-series pipeline (derive epoch seconds → interval stats → tumbling
    downsample mean → cyclical time features) over the events stream."""
    return flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registry query, in registration order."""
    return {name: fn for name, (fn, _oracle) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: oracle for name, (_fn, oracle) in REGISTRY.items()
            if oracle is not None}
