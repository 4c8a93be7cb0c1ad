"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship rule-based anomaly-flags query at sf0.001.
``queries()`` / ``oracle_sql()`` — the named-operator registry in
registration order, defined in ``anomaly_detection_spark.queries`` (one
entry per implemented operator from SURVEY.md §2 + the LLM-pipeline
extensions).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from anomaly_detection_spark import queries as _registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _registry.q_rule_flags(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _registry.queries()


def oracle_sql() -> dict[str, str]:
    return _registry.oracle_sql()
