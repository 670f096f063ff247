"""Iterative driver loops: each round is checkpointed once, and what the loop
persisted is released once nothing reads it.

Every round goes through ``localCheckpoint(eager=False)``: plain ``cache()``
does not cut the logical plan, and ``eager=False`` lets the round's first
action fill it. A filled checkpoint no longer reads the rounds before it, so
they are released then (after ``until``, or at exit once the final round is
filled), never earlier: a released round's unfilled successor fails to find
its blocks. The loop-invariant frames go at exit too, so the returned final
round is the only persisted RDD a loop leaves behind. ``DataFrame.unpersist``
is a no-op on a checkpoint, so :func:`_release` unpersists its RDD instead.
"""

from __future__ import annotations

from typing import Callable, Iterable

from pyspark.sql import DataFrame


def _checkpoint_rdd(df: DataFrame):
    """The JVM RDD behind a ``localCheckpoint`` frame; None for any other."""
    plan = df._jdf.queryExecution().analyzed()
    return plan.rdd() if plan.nodeName() == "LogicalRDD" else None


def _release(df: DataFrame) -> None:
    """Free a checkpoint's RDD or a ``.cache()`` entry; no-op otherwise."""
    rdd = _checkpoint_rdd(df)
    if rdd is None:
        df.unpersist()
    else:
        rdd.unpersist(False)


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int,
    *,
    until: Callable[[DataFrame], bool] | None = None,
    invariants: Iterable[DataFrame] = (),
) -> DataFrame:
    """Apply ``step`` up to ``rounds`` times, checkpointing each round, and
    return the final round. ``until(round)`` must be an action on the round;
    a true result ends the loop. The loop owns ``state`` and ``invariants``:
    it releases them, and every round but the last, per the module doc, and
    everything if it raises."""
    held = [state]  # carried frames not yet released, oldest first
    try:
        for _ in range(rounds):
            state = step(state).localCheckpoint(eager=False)
            held.append(state)
            if until is not None:
                stop = until(state)
                while len(held) > 1:
                    _release(held.pop(0))
                if stop:
                    break
        if until is None and len(held) > 1:
            _checkpoint_rdd(state).count()  # materialize the final round
    except BaseException:  # a failed loop returns nothing: release it all
        for df in (*held, *invariants):
            _release(df)
        raise
    for df in (*held[:-1], *invariants):
        _release(df)
    return state
