"""One round driver for the iterative Spark operators.

Every Spark-side loop in the package runs through :func:`fixpoint`,
which owns the round bound, the done-test and the one error raised
when the bound is hit first. Rounds materialise their relations with
:func:`checkpoint` — iterative lineage otherwise re-executes every
prior round per action (the CC pointer-jumping lesson). Nothing here
sets a job description or group: a round's jobs belong to the
caller's span.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class NonConvergenceError(ValueError, RuntimeError):
    """An iterative operator used up its round bound before its
    fixpoint: ``op`` names the loop, ``bound`` the capping parameter,
    ``rounds`` the rounds run. Callers catching ``ValueError`` or
    ``RuntimeError`` both still catch it."""

    def __init__(self, op: str, bound: str, rounds: int, hint: str = ""):
        self.op, self.bound, self.rounds = op, bound, rounds
        msg = "%s did not converge within %s=%d" % (op, bound, rounds)
        super().__init__(msg + (" — " + hint if hint else ""))


def checkpoint(df: DataFrame) -> DataFrame:
    """Materialise one round's relation and cut its lineage."""
    return df.localCheckpoint(eager=True)


def fixpoint(step, state, rounds, done=None, op="", bound="max_rounds",
             hint=""):
    """Run ``state = step(state)`` at most ``rounds`` times. With
    ``done(new, old)`` (one Spark probe per round) return the first
    state it accepts, else raise :class:`NonConvergenceError`; without
    it run exactly ``rounds`` steps."""
    for _ in range(int(rounds)):
        old, state = state, step(state)
        if done is not None and done(state, old):
            return state
    if done is None:
        return state
    raise NonConvergenceError(op, bound, int(rounds), hint)


def frontier_empty(state, _old) -> bool:
    """Done-test for ``(result, frontier, ...)`` states."""
    return state[1].isEmpty()


def unchanged(col: str):
    """Done-test for ``(node, col)`` states: no node's ``col`` moved
    this round (one bounded ``limit(1)`` count)."""

    def done(new: DataFrame, old: DataFrame) -> bool:
        return new.alias("n").join(old.alias("o"), "node").where(
            F.col("n." + col) != F.col("o." + col)
        ).limit(1).count() == 0

    return done
