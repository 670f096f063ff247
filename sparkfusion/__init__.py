"""sparkfusion — a PySpark-native analytics engine with the capability surface
of the reference toolkit ``cj-zhukov/datafusion-example`` (see SURVEY.md).

Spark-first design: every operator is a lazy Catalyst plan transform built
from ``pyspark.sql`` primitives; custom semantics (dedup, similarity search,
text analysis) compose built-ins or Arrow-batched pandas UDFs. No driver-side
materialization in the hot path.
"""

from .errors import (
    ConvergenceError,
    DecodeError,
    EnvironmentGateError,
    PlanError,
    SchemaError,
    SourceError,
    SparkfusionError,
)
from .session import DEFAULT_SF_DIR, STAR_TABLES, get_session, star_sql, table

__version__ = "0.1.0"

__all__ = [
    "get_session",
    "star_sql",
    "table",
    "DEFAULT_SF_DIR",
    "STAR_TABLES",
    "SparkfusionError",
    "PlanError",
    "SchemaError",
    "SourceError",
    "DecodeError",
    "EnvironmentGateError",
    "ConvergenceError",
    "__version__",
]
