"""Local replica of the driver's correctness harness.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
against the same sf parquet tables, then compares row count, column names and
order-insensitive values. Use while iterating so oracle mismatches are caught
before the driver's per-round check.

Usage: python tools/check_oracle.py [sf_dir] [query ...] [--json OUT.json]
           [--plain] [--dump-mismatch DIR]

``--plain`` runs the queries on a PLAIN SparkSession (no sparkfusion confs,
local[8]) — exactly what the external driver does, so conf-dependence
regressions surface here first. ``--dump-mismatch DIR`` writes both engines'
normalized rows for every failing query to ``DIR/<query>.{spark,duckdb}.txt``
so a value mismatch pins the exact differing cell post-hoc.
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def normalize(df) -> tuple[list[str], list[tuple]]:
    """Sort columns by name, normalize cell values, sort rows.

    Values are TYPE-TAGGED by numeric class so ``350 != 350.0`` — the r6
    driver failed 10 queries on exactly that (DuckDB ``sum(BIGINT)`` →
    HUGEINT → pandas float64 vs Spark int64) while this harness's plain
    ``==`` reported green. An int, a float, a Decimal and a bool never
    compare equal here even when their values do, mirroring the driver's
    value-hash which distinguishes ``358385`` from ``358385.0``.
    """
    import decimal

    cols = sorted(df.columns)
    df = df[cols]

    def norm(v):
        # numpy scalars unwrap to Python first so the class tags are stable
        if hasattr(v, "item") and type(v).__module__ == "numpy":
            v = v.item()
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return None
        if isinstance(v, bool):
            return ("b", v)
        if isinstance(v, int):
            return ("i", v)
        if isinstance(v, float):
            return ("f", float(repr(v)))
        if isinstance(v, decimal.Decimal):
            return ("d", str(v.normalize()))
        if hasattr(v, "isoformat"):
            return str(v)
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        if isinstance(v, dict):
            return tuple(sorted((k, norm(x)) for k, x in v.items()))
        return v

    rows = sorted(
        (tuple(norm(v) for v in row) for row in df.itertuples(index=False, name=None)),
        key=repr,
    )
    return cols, rows


def result_hash(cols: list[str], rows: list[tuple]) -> str:
    """md5 fingerprint of a normalized result (driver-replica style: columns
    sorted by name, rows sorted, values type-tagged). Stable across runs so
    two artifacts can be diffed by hash without re-running either engine."""
    import hashlib

    h = hashlib.md5()
    h.update(("\x1f".join(cols) + "\x1e").encode())
    for r in rows:
        h.update((repr(r) + "\x1e").encode())
    return h.hexdigest()


def _dump_rows(dump_dir: str, name: str, engine: str, cols, rows) -> None:
    """Write one engine's normalized result for a failing query."""
    import os

    os.makedirs(dump_dir, exist_ok=True)
    path = os.path.join(dump_dir, f"{name}.{engine}.txt")
    with open(path, "w") as f:
        f.write("\t".join(cols) + "\n")
        for r in rows:
            f.write(repr(r) + "\n")


def main() -> int:
    args = list(sys.argv[1:])
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args):
            sys.exit("usage: check_oracle.py [SF_DIR] [QUERY...] [--json OUT.json]")
        json_out = args[i + 1]
        del args[i : i + 2]
    dump_dir = None
    if "--dump-mismatch" in args:
        i = args.index("--dump-mismatch")
        if i + 1 >= len(args):
            sys.exit("--dump-mismatch requires a directory argument")
        dump_dir = args[i + 1]
        del args[i : i + 2]
    plain = "--plain" in args
    if plain:
        args.remove("--plain")
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    results: dict[str, dict] = {}

    import os

    from sparkfusion.suite import ORACLE_SF_ENV

    # derived-constant oracles (semdedup k, LSH bits, negative-pair buckets)
    # re-derive for THIS sf_dir's corpus — must be set before oracle_sql()
    os.environ[ORACLE_SF_ENV] = sf_dir

    import __spark_entry__ as e
    from sparkfusion.session import STAR_TABLES, get_session

    if plain:
        # mirror the external driver: its own SparkSession, no sparkfusion
        # confs — any query that silently depends on get_session()'s confs
        # fails here before the driver finds it
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("check_oracle_plain")
            .getOrCreate()
        )
    else:
        spark = get_session("check_oracle")
    con = duckdb.connect()
    for t in STAR_TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # scaled .localdata dirs write X.parquet as a directory of part-files
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{src}')")

    qs, oracles = e.queries(), e.oracle_sql()

    # derived-oracle degrades (oracle_fn raised → entry silently rows-only)
    # must be artifact-visible, not stderr-only (r14 verdict item 4)
    from sparkfusion.suite import ORACLE_DEGRADES

    degraded = list(ORACLE_DEGRADES)
    for d in degraded:
        print(f"WARN degraded oracle for {d['name']} ({d['kind']}): {d['error']}")

    n_pass = n_fail = 0
    # a typo'd query list must not read as a clean run (r14 verdict item 3:
    # "check_oracle.py <sf> typo_name" used to exit 0 with "0 passed")
    unknown = sorted(only - set(qs))
    for name in unknown:
        print(f"FAIL {name}: unknown query (not in the registry)")
        results[name] = {"status": "unknown_query"}
        n_fail += 1
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            results[name] = {"status": "err", "err": str(ex)[:300]}
            n_fail += 1
            continue
        elapsed = time.time() - t0
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(sdf)} rows, {elapsed:.1f}s)")
            results[name] = {"status": "rows_only", "spark_rows": len(sdf)}
            n_pass += 1
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            results[name] = {"status": "err", "err": f"duckdb: {str(ex)[:300]}"}
            n_fail += 1
            continue
        scols, srows = normalize(sdf)
        ocols, orows = normalize(odf)
        if scols != ocols:
            print(f"FAIL {name}: columns {scols} != {ocols}")
            results[name] = {"status": "schema_mismatch"}
            n_fail += 1
        elif len(srows) != len(orows):
            print(f"FAIL {name}: rowcount {len(srows)} != {len(orows)}")
            results[name] = {"status": "rowcount_mismatch"}
            n_fail += 1
            if dump_dir:
                _dump_rows(dump_dir, name, "spark", scols, srows)
                _dump_rows(dump_dir, name, "duckdb", ocols, orows)
        elif srows != orows:
            diff = next(
                (i, a, b) for i, (a, b) in enumerate(zip(srows, orows)) if a != b
            )
            print(f"FAIL {name}: values differ, first at sorted-row {diff[0]}:")
            print(f"  spark:  {diff[1]}")
            print(f"  duckdb: {diff[2]}")
            results[name] = {
                "status": "value_mismatch",
                "spark_hash": result_hash(scols, srows),
                "oracle_hash": result_hash(ocols, orows),
            }
            n_fail += 1
            if dump_dir:
                _dump_rows(dump_dir, name, "spark", scols, srows)
                _dump_rows(dump_dir, name, "duckdb", ocols, orows)
        else:
            print(f"PASS {name} ({len(srows)} rows, {elapsed:.1f}s)")
            results[name] = {
                "status": "pass",
                "rows": len(srows),
                "sec": round(elapsed, 2),
                # both engines' normalized results reduce to this one hash —
                # lets two artifacts (runs, SFs, rounds) be diffed by value
                # without re-running either engine
                "hash": result_hash(scols, srows),
            }
            n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    if json_out:
        import json

        # Dual-stamp: the local artifact counter historically ran two ahead
        # of the driver round; embedding both makes the filename quirk
        # harmless. Overridable per run via env.
        driver_round = int(os.environ.get("SPARK_GRAFT_DRIVER_ROUND", "10"))
        with open(json_out, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "driver_round": driver_round,
                    "local_round": driver_round + 2,
                    "passed": n_pass,
                    "failed": n_fail,
                    # asserted EMPTY by round-end sweeps: a non-empty list
                    # means some entry was hash-checked last round but only
                    # rows-checked in this artifact (r14 verdict item 4)
                    "degraded": degraded,
                    "queries": results,
                },
                f,
                indent=1,
            )
        print(f"wrote {json_out}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
