"""Bounded driver-side rows as a pure-JVM LocalRelation.

``spark.createDataFrame(small_list)`` builds a *pickled-row RDD*: its scan is
an ``ExistingRDD`` that deserializes through a Python worker on every
materialization — the bench profile shows |cores| Python workers spun up for
a handful of static rows, and a broadcast of it pays a whole Python stage
first (the r13 km1 finding that replaced an 8-row createDataFrame+broadcast
join with literal arrays, −24% wall). :func:`inline_rows` renders the same
rows as ONE parsed ``VALUES`` query instead (a single py4j round trip — the
r13 argmin parsed-SQL lesson): Catalyst sees a ``LocalRelation``, broadcasts
are instant, and no Python worker ever starts.

Only for BOUNDED row sets (mixture targets, sweep grids, derived centroids,
driver-loop results — all O(k) by construction). Never feed it corpus-sized
data; that is what parquet scans are for.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from ..session import scoped_conf

__all__ = ["inline_rows"]


def _split_schema(schema: str) -> list[tuple[str, str]]:
    """'a int, b array<double>' -> [('a', 'int'), ('b', 'array<double>')] —
    top-level comma split (angle brackets / parens tracked, so nested type
    arguments survive)."""
    fields: list[tuple[str, str]] = []
    depth, start = 0, 0
    s = schema.strip()
    for i, ch in enumerate(s + ","):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            part = s[start:i].strip()
            name, _, typ = part.partition(" ")
            fields.append((name.strip(), typ.strip()))
            start = i + 1
    return fields


def _str_lit(v: str) -> str:
    out = []
    for ch in v:
        if ch == "'":
            out.append("\\'")
        elif ch == "\\":
            out.append("\\\\")
        elif " " <= ch <= "~":
            out.append(ch)
        else:  # control / non-ASCII: unicode escape keeps the parser exact
            o = ord(ch)
            if o > 0xFFFF:  # surrogate pair for astral chars
                o -= 0x10000
                out.append(f"\\u{0xD800 + (o >> 10):04X}\\u{0xDC00 + (o & 0x3FF):04X}")
            else:
                out.append(f"\\u{o:04X}")
    return "'" + "".join(out) + "'"


def _cell(v, typ: str) -> str:
    t = typ.lower()
    if v is None:
        return f"CAST(NULL AS {typ})"
    if t.startswith("array<"):
        inner = typ[typ.index("<") + 1 : -1]
        return "array(" + ", ".join(_cell(x, inner) for x in v) + ")"
    if t in ("double", "float"):
        f = float(v)
        if not math.isfinite(f):
            raise ValueError(f"non-finite literal {v!r} has no exact SQL form")
        # repr is the shortest round-trip decimal: parsing it back as DOUBLE
        # reproduces the exact IEEE bits
        return f"CAST({f!r} AS {typ.upper()})"
    if t in ("int", "integer", "bigint", "long", "smallint", "tinyint"):
        return str(int(v))
    if t == "boolean":
        return "true" if v else "false"
    if t in ("string", "varchar"):
        return _str_lit(str(v))
    raise ValueError(f"inline_rows: unsupported literal type {typ!r}")


def inline_rows(spark: SparkSession, rows, schema: str) -> DataFrame:
    """``rows`` (iterable of tuples, bounded) as a DataFrame with ``schema``
    (DDL string), built from one parsed ``VALUES`` statement — a JVM
    LocalRelation with exact per-column CASTs, no Python-RDD scan. Empty
    ``rows`` falls back to ``createDataFrame`` (VALUES cannot be empty)."""
    rows = list(rows)
    fields = _split_schema(schema)
    if not rows:
        return spark.createDataFrame([], schema)
    rendered = []
    for r in rows:
        if len(r) != len(fields):
            raise ValueError(f"row {r!r} does not match schema {schema!r}")
        rendered.append(
            "(" + ", ".join(_cell(v, t) for v, (_, t) in zip(r, fields)) + ")"
        )
    cols = ", ".join(
        f"CAST({name} AS {typ}) AS {name}" for name, typ in fields
    )
    alias = "t(" + ", ".join(name for name, _ in fields) + ")"
    # _str_lit writes backslash escapes, which the legacy
    # escapedStringLiterals mode would keep verbatim; spark.sql parses
    # eagerly, so the literals are fixed before the conf is restored
    with scoped_conf(spark, "spark.sql.parser.escapedStringLiterals", "false"):
        return spark.sql(
            f"SELECT {cols} FROM VALUES {', '.join(rendered)} AS {alias}"
        )
