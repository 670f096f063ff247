"""User-defined aggregates & table functions — the §2.10 'not present'
extensions (the reference uses only engine-provided UDAF handles and has no
UDTF; SURVEY.md notes pandas GROUPED_AGG and Python UDTF as the Spark
equivalents when extended).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType


@F.pandas_udf(DoubleType())
def weighted_mean(values: pd.Series, weights: pd.Series) -> float:  # type: ignore[misc]
    """GROUPED_AGG pandas UDAF: Σ(v·w)/Σ(w). Arrow-batched per group —
    usable in ``groupBy().agg()`` and as a window function."""
    total_w = float(weights.sum())
    if total_w == 0:
        return float("nan")
    return float((values * weights).sum() / total_w)


def register_udtf(spark) -> None:
    """Register ``split_to_rows`` — a Python UDTF (Spark 3.5+) exploding a
    delimited string into rows: the table-function shape the reference lacks.

    SQL: ``SELECT s.* FROM t, LATERAL split_to_rows(t.text, ' ') s``
    """
    SplitToRows = _split_to_rows_udtf()
    spark.udtf.register("split_to_rows", SplitToRows)
    return SplitToRows


def _split_to_rows_udtf():
    """The ``split_to_rows`` table function, unregistered: one row
    ``(pos, token)`` per non-empty token, at its raw 0-based split
    position."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, token string")
    class SplitToRows:
        def eval(self, text: str, sep: str = " "):
            if text is None:
                return
            for pos, token in enumerate(text.split(sep)):
                if token:
                    yield pos, token

    return SplitToRows


def register_analyze_udtf(spark) -> None:
    """Register ``first_words`` — a Python UDTF whose OUTPUT SCHEMA is
    computed at plan time by a static ``analyze()`` from the constant ``k``
    argument (Spark 4's polymorphic-UDTF extension point): ``LATERAL
    first_words(text, 3)`` emits columns ``w1..w3``. The schema is decided
    once per query, not per row — the mechanism behind schema-flexible
    table functions like parse_kv/pivot helpers. Arrow-optimized UDTF
    execution applies when ``spark.sql.execution.pythonUDTF.arrow.enabled``
    is set; the eval itself is the documented UDTF contract site (same
    exemption as split_to_rows above).
    """
    first_words = _first_words_udtf()
    spark.udtf.register("first_words", first_words)
    return first_words.func


def _first_words_udtf():
    """The ``first_words`` table function of :func:`register_analyze_udtf`,
    unregistered."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class FirstWords:
        @staticmethod
        def analyze(text: AnalyzeArgument, k: AnalyzeArgument) -> AnalyzeResult:
            if k.value is None or not isinstance(k.value, int):
                raise ValueError("first_words: k must be a constant INT")
            schema = StructType()
            for i in range(int(k.value)):
                schema = schema.add(f"w{i + 1}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, text: str, k: int):
            ws = [w for w in (text or "").split() if w][:k]
            ws += [None] * (k - len(ws))
            yield tuple(ws)

    return udtf(FirstWords)
