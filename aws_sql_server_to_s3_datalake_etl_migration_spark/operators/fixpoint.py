"""One fixed-point loop for the engine's convergence operators.

Star-contraction and pointer-jump connected components, k-core
peeling and the coreness h-index loop (``graph.py``) and the dedup
min-label components (``dedup.py``) all iterate a single-reference
step until an exact monotone measure stops moving. They differ only in
the step, the measure and how many steps they chain per
materialization; the persist / measure / release choreography lives
here once.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame


def fixpoint(
    start: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    measure: Callable[[DataFrame], Any],
    *,
    max_iter: int,
    rounds_per_step: int,
    name: str,
    proof: Callable[[DataFrame, DataFrame], bool] | None = None,
) -> DataFrame:
    """Iterate ``step`` from ``start`` to its fixed point and return
    the last round's frame, persisted and materialized; the caller owns
    it and must ``unpersist`` it.

    Round policy:

    - ``start`` is persisted and measured first.
    - Each step chains ``rounds_per_step`` rounds lazily, then persists
      the chain and runs ``measure`` on it: one scalar action that both
      fills the cache and yields the convergence signal. Chaining is
      safe because every round references its input exactly once, so
      a chain of r rounds is a depth-r single-reference plan and
      Catalyst analysis stays linear; it pays because the per-step
      persist + action + AQE barriers dominate wall clock on small
      per-round frames.
    - ``measure`` must be EXACT and MONOTONE per round (an edge count,
      an integer or DECIMAL(38,0) label sum): then an unchanged
      measure across a step means every inner round was a no-op, i.e.
      the fixed point, at any chain depth. At worst
      ``rounds_per_step - 1`` redundant rounds run after convergence.
    - ``proof(cur, prev)`` runs only when two consecutive measures are
      equal, for operators whose measure can stall short of the fixed
      point (star contraction's edge count); it must return True for
      the loop to stop.
    - The previous step's frame is released once the next one is
      measured, and every frame persisted here is released on every
      exit path, including the non-convergence ``RuntimeError``.

    ``max_iter`` contract: at most ``ceil(max_iter / rounds_per_step)``
    steps run, so up to ``rounds_per_step - 1`` rounds past
    ``max_iter`` may execute before the loop raises ``RuntimeError("<name>
    did not converge in <max_iter> rounds")`` rather than return a
    half-converged answer. The bound is a safety valve, not an exact
    budget; the monitored quantities only move toward the fixed point,
    so the extra rounds can only land closer to it.

    Known cost, and the place its fix lands: each persisted step's
    plan nests the previous step's cached plan, and every cached AQE
    plan prints both its initial and final plan, so the
    executed-plan description doubles per step and is rebuilt on
    every action. Measured on the min-label loop over a 12-node path
    graph (2 cores): ``InMemoryTableScan`` nodes in the description
    grew 3 -> 8191 over rounds 0-11 and the per-round action
    0.6 -> 12.0 s; a whole call went 3.7 -> 35.4 s as the path grew
    from 4 to 12 nodes. Capping ``spark.sql.maxPlanStringLength``
    only halved it.
    """
    held = [start.persist()]
    try:
        last = measure(held[0])
        for _ in range(-(-max_iter // rounds_per_step)):
            nxt = held[-1]
            for _r in range(rounds_per_step):
                nxt = step(nxt)
            held.append(nxt.persist())
            cur = measure(held[-1])
            converged = cur == last and (
                proof is None or proof(held[-1], held[-2])
            )
            held.pop(0).unpersist()
            if converged:
                return held.pop()
            last = cur
        raise RuntimeError(f"{name} did not converge in {max_iter} rounds")
    finally:
        for df in held:
            df.unpersist()
