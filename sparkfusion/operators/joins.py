"""Join operators.

Reference surface (SURVEY.md §2.3): inner equi-joins only — DataFrame API
(``examples/dataframe/operations.rs:63-65``), SQL
(``examples/dataframe/operations.rs:99-106``), and the multi-way composite-key
fold ``join_dfs`` (``src/utils/dataframe.rs:860-882``).

Scale notes: we never hand-pick a physical join. Catalyst + AQE select
broadcast/shuffled-hash/sort-merge at runtime; callers pass small dimension
tables through :func:`pyspark.sql.functions.broadcast` hints where known-small
(suite queries do this for ``nation``/``region``/``customer``).
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..errors import PlanError


def join_dfs(dfs: Sequence[DataFrame], keys: Sequence[str], how: str = "inner") -> DataFrame:
    """Fold N DataFrames into one by joining pairwise on shared key columns.

    Reference: ``join_dfs`` at ``src/utils/dataframe.rs:860-882`` (renames RHS
    keys ``{c}_rhs{i}`` then drops them after each pairwise join; 4-way
    composite-key test at ``tests/api/dataframe_tests.rs:776-813``).

    Spark's ``on=[names]`` form already deduplicates the key columns, so no
    rename/drop dance is needed — the fold is a pure plan transform. With
    identical key lists across stages Catalyst reuses one shuffle exchange of
    each input rather than re-partitioning per pair.
    """
    if not dfs:
        raise PlanError("join_dfs: need at least one DataFrame")
    keys = list(keys)
    return reduce(lambda left, right: left.join(right, on=keys, how=how), dfs)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt: int = 8,
    how: str = "inner",
    salt_from: "list[str] | None" = None,
) -> DataFrame:
    """Skew-resistant equi-join: hot left-side keys are spread over ``salt``
    sub-partitions; the (smaller) right side is replicated ``salt`` times.

    The manual form of what AQE's skew-join splitting does at runtime —
    useful when the skew is known up front (a handful of mega-keys in a
    100 TB fact table) or AQE is unavailable. Left salt is derived
    deterministically from the partition id — or, when ``salt_from`` names
    left-side columns (ideally the row's primary key), from
    ``pmod(xxhash64(*salt_from), salt)``, which spreads a hot key uniformly
    even when it is concentrated in few input partitions AND keeps the salt
    a pure function of the data (reproducible across retries/layouts).
    Either way results are a pure join equivalence. Replication factor ×
    right size is the cost. The right side is replicated by exploding a
    salt sequence, not by a cross join: without cost-based optimization
    Catalyst sizes a cross join as the product of its inputs' sizes, which
    can make a small replicated right side look bigger than the left, and
    so make the left the broadcast build side. The explode's estimate errs
    the other way: it is the right side's own size, without the ``salt``
    factor, so a right side under the broadcast threshold is broadcast at
    ``salt`` times its estimate. Use only when ``salt`` × right size is
    modest.

    Only inner/left/semi/anti joins are equivalence-preserving under right-side
    replication: a right or full outer join would emit each unmatched right row
    ``salt`` times (once per replica). Those forms raise ``ValueError``.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "semi", "left_semi",
               "leftsemi", "anti", "left_anti", "leftanti"}
    if how.lower() not in allowed:
        raise PlanError(
            f"salted_join: how={how!r} not supported — right-side replication "
            "duplicates unmatched right rows under right/full outer joins; "
            f"use one of {sorted(allowed)}"
        )

    if salt_from:
        left_salt = F.pmod(F.xxhash64(*salt_from), F.lit(salt)).cast("int")
    else:
        left_salt = F.pmod(F.spark_partition_id(), F.lit(salt))
    salted_left = left.withColumn("__salt", left_salt)
    salted_right = right.withColumn("__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
    out = salted_left.join(salted_right, on=[key, "__salt"], how=how)
    return out.drop("__salt")
