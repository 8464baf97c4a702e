"""The one round driver: how a frame's lineage is cut, and how a
convergence loop ends.

``truncate(df)`` materializes ``df`` with an eager ``localCheckpoint``
and returns a frame whose plan is a leaf scan of those blocks.  An
iterative query that builds round k+1 from round k (often from several
references to it) without cutting lineage hands Catalyst a plan that
grows with every round, exponentially where a round reads its
predecessor more than once; analysis then costs more than the data.
``persist()`` alone does not help: it caches rows but keeps the whole
logical plan.  A frame read by several branches of one plan is cut the
same way, so the branches share one materialization.

The checkpointed blocks live only in executor storage and carry no
lineage, so a lost executor loses them and the query fails instead of
recomputing them.  Recovery by re-execution (the source paper's model)
needs a lineage-keeping truncation; that change, and the kill test
that must come with it, is an open follow-up in this one module.

``fixpoint(state, step, cap, what)`` runs ``step(state) -> (state,
done)`` until ``done`` and returns ``(state, rounds)``.  A loop that
spends ``cap`` rounds without converging raises ``RuntimeError``
naming ``what``: a capped exit would return a partial answer (split
components, unsettled distances) with no error anywhere.  Callers
pass ``cap`` from their module constant at call time, so a test may
patch the constant.
"""

from __future__ import annotations

from typing import Callable, TypeVar

from pyspark.sql import DataFrame

S = TypeVar("S")


def truncate(df: DataFrame) -> DataFrame:
    """``df`` materialized now, with its lineage cut (see module doc)."""
    return df.localCheckpoint(eager=True)


def fixpoint(
    state: S, step: Callable[[S], tuple[S, bool]], cap: int, what: str
) -> tuple[S, int]:
    """Run ``step`` until it reports done; ``(state, rounds)``.  Raises
    ``RuntimeError`` after ``cap`` rounds without convergence."""
    for rounds in range(1, cap + 1):
        state, done = step(state)
        if done:
            return state, rounds
    raise RuntimeError(
        f"{what} did not converge in {cap} rounds — refusing to return "
        f"a partial result"
    )
