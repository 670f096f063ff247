"""Property-based tests (hypothesis) — a rigor layer the reference lacks
(SURVEY.md §5: 'no property-based tests'). Example counts are kept small:
each example is a Spark job.
"""

from __future__ import annotations

import json
import math
from decimal import Decimal

import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.errors import PySparkException

from sparkfusion.operators import add_pk_to_df, df_cols_to_json
from sparkfusion.llm.similarity import cosine_r9
from sparkfusion.session import scoped_conf
from sparkfusion.suite.relational import _unscaled
from pyspark.sql import functions as F

SETTINGS = dict(max_examples=8, deadline=None)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=-(2**31), max_value=2**31 - 1),
        st.one_of(st.none(), st.text(alphabet=st.characters(codec="ascii", exclude_characters='\x00'), max_size=20)),
    ),
    min_size=1,
    max_size=8,
)


@settings(**SETTINGS)
@given(rows=rows_strategy)
def test_cols_to_json_always_valid_json(spark, rows):
    df = spark.createDataFrame(rows, "id int, name string")
    out = df_cols_to_json(df, ["id", "name"], "packed").collect()
    assert len(out) == len(rows)
    for r in out:
        obj = json.loads(r.packed)  # parses
        assert "name" not in obj or obj["name"] is not None  # nulls omitted
        assert set(obj) <= {"id", "name"}


@settings(**SETTINGS)
@given(n=st.integers(min_value=1, max_value=50))
def test_add_pk_contiguous_any_size(spark, n):
    df = spark.range(n).withColumnRenamed("id", "v")
    out = add_pk_to_df(df, "pk", order_by=["v"]).collect()
    assert sorted(r.pk for r in out) == list(range(n))


@settings(**SETTINGS)
@given(
    vec=st.lists(
        st.floats(min_value=-10, max_value=10, allow_nan=False, width=32),
        min_size=4,
        max_size=4,
    ).filter(lambda v: sum(x * x for x in v) > 1e-6)
)
def test_cosine_self_similarity_is_one(spark, vec):
    df = spark.createDataFrame([(vec,)], "e array<float>")
    out = df.select(cosine_r9(F.col("e"), F.col("e")).alias("c")).collect()
    assert abs(out[0].c - 1.0) < 1e-9


@settings(**SETTINGS)
@given(
    b1=st.lists(st.tuples(st.sampled_from("abc"), st.integers(-1000, 1000)), min_size=0, max_size=8),
    b2=st.lists(st.tuples(st.sampled_from("abc"), st.integers(-1000, 1000)), min_size=0, max_size=8),
)
def test_incremental_merge_equals_scratch_property(spark, b1, b2):
    """merge(state(b1), state(b2)) == state(b1 + b2) for ANY batch split."""
    from sparkfusion.operators.incremental import aggregate_state, merge_states

    if not b1 and not b2:
        return
    aggs = lambda: {
        "total": ("sum", F.col("v").cast("decimal(18,6)")),
        "n": ("count", F.col("v")),
        "lo": ("min", F.col("v")),
        "hi": ("max", F.col("v")),
    }
    mk = lambda rows: spark.createDataFrame(rows, "k string, v long")
    key = lambda df: {
        r["k"]: (float(r["total"]), r["n"], r["lo"], r["hi"]) for r in df.collect()
    }
    scratch = key(aggregate_state(mk(b1 + b2), ["k"], aggs()))
    if not b1 or not b2:
        merged = key(aggregate_state(mk(b1 or b2), ["k"], aggs()))
    else:
        merged = key(
            merge_states(
                aggregate_state(mk(b1), ["k"], aggs()),
                aggregate_state(mk(b2), ["k"], aggs()),
                ["k"],
                aggs(),
            )
        )
    assert merged == scratch


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(st.sampled_from("ab"), st.integers(0, 5), st.integers(0, 3)),
        min_size=1,
        max_size=10,
    )
)
def test_keep_latest_is_idempotent_and_singleton_per_key(spark, rows):
    from sparkfusion.operators.quality import keep_latest

    df = spark.createDataFrame(
        [(k, t, i, n) for n, (k, t, i) in enumerate(rows)], "k string, t int, i int, n int"
    )
    once = keep_latest(df, ["k"], ["t", "i", "n"])
    got = once.collect()
    # exactly one row per key present in the input
    assert sorted({r["k"] for r in got}) == sorted({k for k, _, _ in rows})
    assert len(got) == len({k for k, _, _ in rows})
    # idempotent: compacting a compacted log is a no-op
    twice = keep_latest(once, ["k"], ["t", "i", "n"])
    assert sorted(map(tuple, twice.collect())) == sorted(map(tuple, got))


@settings(**SETTINGS)
@given(
    lefts=st.lists(st.tuples(st.integers(0, 500), st.integers(0, 300)), min_size=1, max_size=10),
    rights=st.lists(st.tuples(st.integers(0, 500), st.integers(0, 300)), min_size=1, max_size=10),
    width=st.sampled_from([7, 50, 1000]),
)
def test_interval_overlap_equals_brute_force(spark, lefts, rights, width):
    """Bucketed interval-overlap join == cross-join + filter, for ANY bucket
    width (canonical-bucket dedup must emit each pair exactly once)."""
    from sparkfusion.operators.temporal import interval_overlap_join

    L = spark.createDataFrame(
        [(i, s, s + d) for i, (s, d) in enumerate(lefts)], "l_id int, ls long, le long"
    )
    R = spark.createDataFrame(
        [(i, s, s + d) for i, (s, d) in enumerate(rights)], "r_id int, rs long, re long"
    )
    got = sorted(
        (r["l_id"], r["r_id"])
        for r in interval_overlap_join(L, R, "ls", "le", "rs", "re", width).collect()
    )
    want = sorted(
        (i, j)
        for i, (s1, d1) in enumerate(lefts)
        for j, (s2, d2) in enumerate(rights)
        if s1 <= s2 + d2 and s2 <= s1 + d1
    )
    assert got == want


@settings(**SETTINGS)
@given(
    old=st.lists(st.tuples(st.integers(0, 6), st.integers(0, 3)), min_size=0, max_size=8, unique_by=lambda t: t[0]),
    new=st.lists(st.tuples(st.integers(0, 6), st.integers(0, 3)), min_size=0, max_size=8, unique_by=lambda t: t[0]),
)
def test_snapshot_diff_roundtrip_property(spark, old, new):
    """merge(old, diff(old, new)) == new for ANY pair of keyed versions."""
    from sparkfusion.operators.merge import merge_upsert, snapshot_diff

    if not old and not new:
        return
    o = spark.createDataFrame(old or [(99, 0)], "k int, v int")
    n = spark.createDataFrame(new or [(98, 0)], "k int, v int")
    if not old:
        o = o.filter("k < 0")
    if not new:
        n = n.filter("k < 0")
    diff = snapshot_diff(o, n, ["k"], ["v"])
    rebuilt = merge_upsert(o, diff, keys=["k"])
    assert sorted(map(tuple, rebuilt.collect())) == sorted(map(tuple, n.collect()))


def _cast_unscaled(prec: int, scale: int):
    """The decimal cast ``_unscaled`` stands for, scaled to a BIGINT."""
    return (F.col("x").cast(f"decimal({prec},{scale})") * F.lit(Decimal(10**scale))).cast("bigint")


def _unscaled_rows(spark, xs: list, prec: int, scale: int) -> list[tuple]:
    """``(_unscaled, the decimal cast)`` of each of ``xs``, in one job."""
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    ours = F.expr(_unscaled("x", prec, scale))
    return [tuple(r) for r in df.select(ours, _cast_unscaled(prec, scale)).collect()]


#: doubles around money values: exact .5 ties at scale 2 (1.005 is
#: 1.00499… in binary), 3-decimal values, any double, and the edges
money_doubles = st.one_of(
    st.none(),
    st.floats(allow_nan=True, allow_infinity=True),
    st.integers(-(10**9), 10**9).map(lambda k: k / 1000),
    st.integers(-(10**8), 10**8).map(lambda k: (2 * k + 1) / 200),
    st.sampled_from([999.99, 999.995, 1000.0, 99999.995, 999999.99, 999999.995, 1e6, -1e6, 1e10]),
)


@settings(**SETTINGS)
@given(
    xs=st.lists(money_doubles, min_size=1, max_size=30),
    ps=st.sampled_from([(3, 2), (5, 2), (8, 2), (10, 4)]),
)
@example(
    xs=[1.005, 2.675, -0.125, 0.125, -2.675, 0.0, -0.0, None, float("nan"), float("inf"),
        float("-inf"), 999999.99, 999999.995, 1e6, 1e8],
    ps=(8, 2),
)
def test_unscaled_equals_the_decimal_cast(spark, xs, ps):
    """q1's scaled BIGINTs equal the decimal cast's value · 10^scale on every
    row, NULL included, under either ANSI setting. Both settings cast NULL,
    NaN and ±inf to NULL. Without ANSI the cast nulls out a value past
    10^prec too; under ANSI it raises and fails the batch, so the batch
    there leaves out the values that may round past it (the next test pins
    those)."""
    prec, scale = ps
    with scoped_conf(spark, "spark.sql.ansi.enabled", "false"):
        assert all(a == b for a, b in _unscaled_rows(spark, xs, prec, scale))
    bound = 10 ** (prec - scale) - 1
    sure = [x for x in xs if x is None or not math.isfinite(x) or abs(x) < bound]
    with scoped_conf(spark, "spark.sql.ansi.enabled", "true"):
        assert all(a == b for a, b in _unscaled_rows(spark, sure, prec, scale))


@pytest.mark.parametrize("x", [999999.995, 1e6, -1e8, 1e300])
def test_unscaled_raises_where_the_ansi_cast_does(spark, x):
    df = spark.createDataFrame([(x,)], "x double")
    raised = []
    with scoped_conf(spark, "spark.sql.ansi.enabled", "true"):
        for col in (F.expr(_unscaled("x", 8, 2)), _cast_unscaled(8, 2)):
            with pytest.raises(PySparkException) as e:
                df.select(col).collect()
            raised.append((type(e.value).__name__, e.value.getCondition()))
    assert raised[0] == raised[1]
