"""Oracle-harness hardening: --dump-mismatch writes both engines' rows, and
--plain mode exists for driver-parity runs (VERDICT r5 #2/#3)."""

from __future__ import annotations

import importlib.util
import os
import sys

#: the checkout these tests belong to
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_dump_mismatch_on_deliberate_value_diff(spark, tmp_path, monkeypatch):
    """A query whose Spark result deliberately disagrees with its oracle must
    fail AND leave both normalized row dumps behind for diagnosis."""
    co = _load_check_oracle()

    import __spark_entry__ as e

    monkeypatch.setattr(
        e,
        "queries",
        lambda: {
            "deliberate_diff": lambda s, sf: s.createDataFrame(
                [(1, 10)], "k int, v int"
            )
        },
    )
    monkeypatch.setattr(e, "oracle_sql", lambda: {"deliberate_diff": "SELECT 1 AS k, 11 AS v"})
    monkeypatch.setattr(
        sys,
        "argv",
        [
            "check_oracle.py",
            "/root/testdata/sf0.001",
            "deliberate_diff",
            "--dump-mismatch",
            str(tmp_path),
        ],
    )
    rc = co.main()
    assert rc == 1
    spark_dump = tmp_path / "deliberate_diff.spark.txt"
    duck_dump = tmp_path / "deliberate_diff.duckdb.txt"
    assert spark_dump.exists() and duck_dump.exists()
    assert "10" in spark_dump.read_text()
    assert "11" in duck_dump.read_text()


def test_dump_rows_unit(tmp_path):
    co = _load_check_oracle()
    co._dump_rows(str(tmp_path / "sub"), "q", "spark", ["a", "b"], [(1, 2), (3, 4)])
    out = (tmp_path / "sub" / "q.spark.txt").read_text().splitlines()
    assert out[0] == "a\tb"
    assert out[1] == "(1, 2)"


def test_normalize_type_tags_int_vs_float():
    """r6 post-mortem: DuckDB sum(BIGINT) → HUGEINT → pandas float64 while
    Spark returns int64. The driver's value-hash distinguishes 350 from 350.0;
    the old harness's plain == did not (10 driver failures invisible locally).
    normalize() must type-tag so int and float NEVER compare equal."""
    import pandas as pd

    co = _load_check_oracle()
    _, int_rows = co.normalize(pd.DataFrame({"v": pd.array([350], dtype="int64")}))
    _, flt_rows = co.normalize(pd.DataFrame({"v": pd.array([350.0], dtype="float64")}))
    assert int_rows != flt_rows
    assert int_rows[0][0] == ("i", 350)
    assert flt_rows[0][0] == ("f", 350.0)
    # bools are not ints here, and Decimals are their own class
    import decimal

    _, bool_rows = co.normalize(pd.DataFrame({"v": [True]}))
    assert bool_rows[0][0] == ("b", True)
    _, dec_rows = co.normalize(
        pd.DataFrame({"v": [decimal.Decimal("1.50")]}, dtype="object")
    )
    assert dec_rows[0][0] == ("d", "1.5")


def test_hugeint_oracle_fails_without_cast(spark, monkeypatch):
    """End-to-end HUGEINT fixture: an oracle whose sum() emits HUGEINT (pandas
    float64) must FAIL against a Spark int result, and the CAST(... AS BIGINT)
    form must PASS — the exact fix applied to the 12 r6/latent queries."""
    import duckdb

    hugeint_sql = "SELECT sum(x) AS s FROM (SELECT CAST(350 AS BIGINT) AS x)"
    assert str(duckdb.sql(hugeint_sql).types[0]) == "HUGEINT"  # precondition

    co = _load_check_oracle()
    import __spark_entry__ as e

    monkeypatch.setattr(
        e,
        "queries",
        lambda: {"hugeint_fixture": lambda s, sf: s.createDataFrame([(350,)], "s long")},
    )

    monkeypatch.setattr(e, "oracle_sql", lambda: {"hugeint_fixture": hugeint_sql})
    monkeypatch.setattr(
        sys, "argv", ["check_oracle.py", "/root/testdata/sf0.001", "hugeint_fixture"]
    )
    assert co.main() == 1, "type-strict harness must catch HUGEINT float64 drift"

    monkeypatch.setattr(
        e,
        "oracle_sql",
        lambda: {"hugeint_fixture": f"SELECT CAST(s AS BIGINT) AS s FROM ({hugeint_sql})"},
    )
    assert co.main() == 0


def test_result_hash_stable_and_type_sensitive():
    co = _load_check_oracle()
    h1 = co.result_hash(["a"], [(("i", 1),)])
    h2 = co.result_hash(["a"], [(("i", 1),)])
    h3 = co.result_hash(["a"], [(("f", 1.0),)])
    assert h1 == h2 != h3


def test_matching_query_writes_no_dump(spark, tmp_path, monkeypatch):
    co = _load_check_oracle()

    import __spark_entry__ as e

    monkeypatch.setattr(
        e,
        "queries",
        lambda: {"agree": lambda s, sf: s.createDataFrame([(1,)], "k int")},
    )
    monkeypatch.setattr(e, "oracle_sql", lambda: {"agree": "SELECT 1 AS k"})
    monkeypatch.setattr(
        sys,
        "argv",
        ["check_oracle.py", "/root/testdata/sf0.001", "agree",
         "--dump-mismatch", str(tmp_path / "none")],
    )
    assert co.main() == 0
    assert not os.path.exists(str(tmp_path / "none"))


def test_unknown_query_names_fail_loudly(monkeypatch, capsys):
    """A typo'd query list must NOT read as a clean run: unknown names are
    listed, recorded in results, and the exit code is nonzero (r14 verdict
    item 3 — 'check_oracle.py <sf> typo_name' used to exit 0 with
    '0 passed, 0 failed')."""
    co = _load_check_oracle()

    monkeypatch.setattr(
        sys, "argv",
        ["check_oracle.py", "/root/testdata/sf0.001", "no_such_query_xyz"],
    )
    rc = co.main()
    assert rc == 1
    out = capsys.readouterr().out
    assert "no_such_query_xyz" in out and "unknown query" in out
    assert "0 passed, 1 failed" in out


def test_degraded_oracles_visible_in_artifact(spark, tmp_path, monkeypatch):
    """A derived oracle_fn that raises must surface in the JSON artifact's
    `degraded` list with an error-class tag — not just as a stderr warning
    (r14 verdict item 4). A ValueError is a PROGRAMMING error; an OSError
    is an IO degrade."""
    import dataclasses
    import json
    import warnings

    from sparkfusion import suite

    suite._load_all()
    spec = suite.REGISTRY["semdedup2_auto_k"]

    def boom(sf_dir):
        raise ValueError("deliberate generator bug")

    monkeypatch.setitem(
        suite.REGISTRY, "semdedup2_auto_k", dataclasses.replace(spec, oracle_fn=boom)
    )
    co = _load_check_oracle()
    artifact = tmp_path / "art.json"
    monkeypatch.setattr(
        sys, "argv",
        ["check_oracle.py", "/root/testdata/sf0.001", "s8_literal_dataframe",
         "--json", str(artifact)],
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        rc = co.main()
    assert rc == 0  # the checked query itself passes
    data = json.loads(artifact.read_text())
    assert data["degraded"] == [
        {
            "name": "semdedup2_auto_k",
            "kind": "programming",
            "error": "ValueError: deliberate generator bug",
        }
    ]
    # IO failures classify as "io" — the designed degrade path
    monkeypatch.setenv(suite.ORACLE_SF_ENV, "/nonexistent/sfX")
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        suite.oracle_sql()
    kinds = {d["name"]: d["kind"] for d in suite.ORACLE_DEGRADES}
    assert kinds.get("dedup_cosine_auto_bits") == "io"
    monkeypatch.delenv(suite.ORACLE_SF_ENV)


def test_semdedup_auto_oracle_refuses_two_level_regime(tmp_path):
    """Past the flat k=4096 cap the library default escalates to the
    two-level hierarchy; the flat unrolled-CTE oracle must refuse that
    regime loudly (→ artifact-visible degrade) instead of producing a wrong
    oracle (r15 advice)."""
    import pytest as _pytest

    import sparkfusion.suite as suite_pkg
    from sparkfusion.suite import curation_suite as cs

    # fake a corpus big enough to cross the cap: n > 4096 * tcs
    # (_semdedup_auto_oracle resolves table_rows from the package at call
    # time, so patching the package attribute is sufficient)
    orig = suite_pkg.table_rows
    try:
        suite_pkg.table_rows = lambda sf, t: 4097 * cs._SEMDEDUP_AUTO_TCS
        with _pytest.raises(ValueError, match="two-level"):
            cs._semdedup_auto_oracle("/root/testdata/sf0.01")
    finally:
        suite_pkg.table_rows = orig


def test_derived_constant_oracles_follow_sf_dir(monkeypatch):
    """The three auto-derived entries (r10 verdict #4) must generate
    DIFFERENT oracle SQL per sf_dir — the embedded constant re-derives from
    that corpus's footer row count — and default to the driver's sf0.01."""
    from sparkfusion import suite

    monkeypatch.delenv(suite.ORACLE_SF_ENV, raising=False)
    small = suite.oracle_sql()
    monkeypatch.setenv(suite.ORACLE_SF_ENV, "/root/testdata/sf0.1")
    big = suite.oracle_sql()
    for name in ("semdedup2_auto_k", "dedup_cosine_auto_bits", "neg_pair_auto_buckets"):
        assert small[name] != big[name], name
    # static oracles are unaffected by the env var
    assert small["q1_pricing_summary"] == big["q1_pricing_summary"]
    # derived values at the driver sf: k=8 (n=500/tcs64), 1 bit, 15 buckets
    assert "LIMIT 8" in small["semdedup2_auto_k"]
    assert "% 15" in small["neg_pair_auto_buckets"]
    assert "embedding[2]" not in small["dedup_cosine_auto_bits"]
    assert "embedding[3]" in big["dedup_cosine_auto_bits"]


def test_unreadable_corpus_degrades_only_derived_entries(monkeypatch, recwarn):
    """A missing sf_dir must fail ONLY the derived-constant entries (they
    degrade to rows-only with a named warning), never break retrieval of
    the static oracles (r14 advice)."""
    from sparkfusion import suite

    monkeypatch.setenv(suite.ORACLE_SF_ENV, "/nonexistent/sfX")
    out = suite.oracle_sql()
    for name in ("semdedup2_auto_k", "dedup_cosine_auto_bits",
                 "neg_pair_auto_buckets"):
        assert name not in out, name
    assert "q1_pricing_summary" in out and len(out) > 300
    msgs = [str(w.message) for w in recwarn.list]
    assert any("semdedup2_auto_k" in m and "rows-only" in m for m in msgs)


def test_assert_sweep_clean_gate(tmp_path):
    """The round-end gate must reject artifacts with failures OR degraded
    oracles, and accept a fully-clean one (r14 verdict item 4)."""
    import importlib.util
    import json

    spec = importlib.util.spec_from_file_location(
        "assert_sweep_clean", os.path.join(ROOT, "tools", "assert_sweep_clean.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    clean = tmp_path / "clean.json"
    clean.write_text(json.dumps(
        {"passed": 2, "failed": 0, "degraded": [],
         "queries": {"a": {"status": "pass"}}}))
    assert mod.check(str(clean))

    degraded = tmp_path / "degraded.json"
    degraded.write_text(json.dumps(
        {"passed": 2, "failed": 0,
         "degraded": [{"name": "x", "kind": "programming", "error": "e"}],
         "queries": {}}))
    assert not mod.check(str(degraded))

    failed = tmp_path / "failed.json"
    failed.write_text(json.dumps(
        {"passed": 1, "failed": 1, "degraded": [],
         "queries": {"b": {"status": "value_mismatch"}}}))
    assert not mod.check(str(failed))
