"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash). ``python tools/check_oracle.py`` runs the same check locally,
and ``python3 perfbench/run.py --workload all`` times a slice of the
registry end to end.

All real content lives in ``sparkfusion.suite`` — each suite module registers
(query, oracle) pairs for the operators it implements (SURVEY.md §2).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# the driver may import this module with any cwd — anchor the package path
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sparkfusion import suite  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H-Q1-style pricing summary) on sf0.001."""
    from sparkfusion.suite.relational import q1_pricing_summary

    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return suite.queries()


def oracle_sql() -> dict[str, str]:
    return suite.oracle_sql()
