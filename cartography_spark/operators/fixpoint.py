"""One bounded fixpoint driver for the iterative graph operators.

Every convergence loop in the package (k-core peeling, frontier
relaxations, SCC coloring, MIS rounds, connected components, BFS,
redirect pointer doubling) has the same shape: a state frame, a step
that derives the next state from it, and a test for "nothing left to
do". The state carries a boolean ``PENDING`` column that marks the rows
the next round must still process (a relaxation's improved nodes, a
BFS frontier, a changed label, an unassigned node); the loop ends when
no row is pending.

The probe is free: each round's state is ``localCheckpoint``-ed (the
lineage truncation every iterative operator needs anyway) with an
unnamed ``Observation`` attached, so the pending count is computed by
the checkpoint job itself. ``count_if`` rather than ``sum``, because a
sum over zero rows is NULL; an empty state reports 0 without running a
job.

Every loop is bounded. A caller-given ``cap`` either defines the result
(``quiet=True``: stop after ``cap`` rounds and return the state as it
is, e.g. ``k_core(max_rounds=R)``) or is a safety cap that raises
``RuntimeError``. Without a ``cap`` the safety cap is derived from the
input: the initial state's row count + 1, read from the same
Observation. Each caller keeps that bound valid by retiring at least
one initial row per pending round (a peeled edge, an assigned node) or
by needing at most one round per node on a path.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, functions as F

PENDING = "__pending"


def checkpoint(frame: DataFrame) -> tuple[DataFrame, int, int]:
    """``localCheckpoint`` ``frame`` and return it with its row count and
    its count of ``PENDING`` rows (0 when it has no such column), both
    observed by the checkpoint job itself."""
    obs = Observation()
    flag = F.col(PENDING) if PENDING in frame.columns else F.lit(False)
    frame = frame.observe(
        obs, F.count(F.lit(1)).alias("rows"), F.count_if(flag).alias("pending")
    ).localCheckpoint()
    metrics = obs.get
    return frame, metrics["rows"], metrics["pending"]


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    name: str,
    cap: int | None = None,
    quiet: bool = False,
) -> DataFrame:
    """Apply ``step`` to ``state`` until no row is ``PENDING``; return
    the final state without the ``PENDING`` column.

    ``step`` receives the checkpointed state (``PENDING`` included) and
    returns the next state, unmaterialized, with a fresh ``PENDING``
    column. At most ``cap`` steps run (``cap=None``: the initial row
    count + 1). A state still pending after the last allowed step is
    returned as it is when ``quiet``, and raises ``RuntimeError`` naming
    ``name`` and the cap otherwise.
    """
    state, rows, pending = checkpoint(state)
    limit = rows + 1 if cap is None else cap
    rounds = 0
    while pending:
        if rounds == limit:
            if quiet:
                break
            raise RuntimeError(
                f"{name} did not converge within {limit} rounds "
                f"({pending} row(s) still pending)"
            )
        state, _, pending = checkpoint(step(state))
        rounds += 1
    return state.drop(PENDING)
