"""Query-suite registry.

Every implemented operator from SURVEY.md §2 registers here as a named query:
a callable ``(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible) the
equivalent ANSI SQL the DuckDB oracle runs on the same parquet tables.
``__spark_entry__.py`` re-exports this registry as the driver contract.

Determinism contract (SURVEY.md §7 risks): every registered query must be
row-set deterministic, and numerically exact — money aggregates go through
DECIMAL so Spark's parallel sum order cannot flip low-order float bits vs the
oracle's sequential sum. Columns are aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB, None → rows-only check
    doc: str = ""
    # sf_dir -> SQL, for oracles whose embedded constants the LIBRARY derives
    # from the corpus size (semdedup k, LSH bits, negative-pair buckets):
    # resolved at oracle_sql() call time against the sf the driver compares
    # at, so the driver-checked path IS the auto-deriving default path.
    oracle_fn: Callable[[str], str] | None = None


REGISTRY: dict[str, QuerySpec] = {}

#: entries whose derived oracle_fn failed in the LAST oracle_sql() call and
#: degraded to rows-only. Each item: {"name", "kind" ("io" | "programming"),
#: "error"}. Harnesses (tools/check_oracle.py) copy this into their JSON
#: artifacts so a silent demotion from hash-checked to rows-only is visible
#: in round evidence, not just as a stderr warning (r14 verdict item 4);
#: round-end sweeps assert it is empty.
ORACLE_DEGRADES: list[dict] = []

#: the driver's correctness gate compares at sf0.01; local sweeps at other
#: SFs (tools/check_oracle.py) override via this env var BEFORE calling
#: oracle_sql() so derived-constant oracles re-derive for that corpus.
ORACLE_SF_ENV = "SPARK_GRAFT_ORACLE_SF_DIR"
_DRIVER_SF_DIR = "/root/testdata/sf0.01"


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    oracle_fn: Callable[[str], str] | None = None,
):
    """Decorator: add a query to the suite registry. Pass ``oracle`` for a
    static SQL string, or ``oracle_fn`` (sf_dir → SQL) when the SQL embeds a
    corpus-size-derived constant."""

    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = QuerySpec(
            name=name,
            fn=fn,
            oracle=oracle,
            doc=doc or (fn.__doc__ or ""),
            oracle_fn=oracle_fn,
        )
        return fn

    return deco


def star_oracle(query: str) -> str:
    """The DuckDB oracle of a :func:`sparkfusion.session.star_sql` text,
    for queries whose Spark SQL and oracle SQL are the same: each ``{name}``
    field formatted to the bare table name DuckDB reads."""
    from ..session import STAR_TABLES

    return query.format(**{name: name for name in STAR_TABLES})


def table_rows(sf_dir: str, name: str) -> int:
    """Row count of a star table from parquet FOOTER metadata — no Spark, no
    scan; used by derived-constant oracle generators (and by query builders
    that must agree with them bit-for-bit)."""
    import os

    from ..session import table_files

    return table_files(os.path.join(sf_dir, f"{name}.parquet")).rows


def queries() -> dict[str, QueryFn]:
    """Name → query callable, in registration order."""
    _load_all()
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _load_all()
    import os

    sf_dir = os.environ.get(ORACLE_SF_ENV, _DRIVER_SF_DIR)
    out: dict[str, str] = {}
    ORACLE_DEGRADES.clear()
    for name, spec in REGISTRY.items():
        if spec.oracle_fn is not None:
            # oracle_fn reads the corpus (parquet footer counts) at call
            # time; one unreadable sf_dir/table must degrade ONLY that entry
            # to a rows-only check, not break retrieval of every static
            # oracle in the dict (r14 advice). The degrade is recorded in
            # ORACLE_DEGRADES (artifact-visible, asserted empty at round end)
            # and classified: IO/corpus failures are the designed degrade
            # path; anything else is a programming error in the generator
            # and is flagged as such (r15 advice — don't let a generator bug
            # masquerade as a missing corpus).
            import warnings

            try:
                out[name] = spec.oracle_fn(sf_dir)
            except Exception as e:  # noqa: BLE001 — recorded, never silent
                kind = "io" if _is_io_error(e) else "programming"
                ORACLE_DEGRADES.append(
                    {"name": name, "kind": kind, "error": f"{type(e).__name__}: {e}"}
                )
                warnings.warn(
                    f"oracle_sql: derived oracle for {name!r} failed against "
                    f"{sf_dir!r} ({kind} error — {type(e).__name__}: {e}); "
                    f"entry degrades to rows-only",
                    stacklevel=2,
                )
        elif spec.oracle is not None:
            out[name] = spec.oracle
    return out


def _is_io_error(e: Exception) -> bool:
    """True for corpus/IO failures (missing sf_dir, unreadable parquet) —
    the class of error the rows-only degrade was designed for. Everything
    else is a programming error in the oracle generator."""
    if isinstance(e, OSError):
        return True
    try:
        import pyarrow as pa

        return isinstance(e, pa.lib.ArrowException)
    except ImportError:  # pragma: no cover — pyarrow is baked in
        return False


_LOADED = False


def _load_all() -> None:
    """Import all suite modules (each registers its queries on import)."""
    global _LOADED
    if _LOADED:
        return
    # unconditional imports: a broken suite module must fail loudly, not
    # silently drop its queries from the driver contract
    from . import (  # noqa: F401
        analytics_suite,
        curation_suite,
        llm_suite,
        quality_suite,
        relational,
        relational_ext,
        schema_ops,
        sources_suite,
        streaming_suite,
        temporal_suite,
        timeseries_suite,
        tpch_ext,
        tpch_like,
        udaf_suite,
        udfs,
    )

    _LOADED = True
