"""The program's one materialization point and its round-loop helpers.

Every operator, registry entry and job that needs rows computed once
calls ``materialize``; nothing else in the package calls
``localCheckpoint``, ``persist`` or ``cache``, so no cached relation
outlives the plan that made it. ``materialize`` computes a frame once
and cuts its lineage
(``localCheckpoint``; a cluster job with a reliable checkpoint directory
would use ``checkpoint`` — same call shape). Later plans read the rows as
a leaf scan. Unlike ``persist()`` nothing lands in the session's
CacheManager, and AQE can still reuse the shuffle stages around it.

``iterate`` runs a round loop over a state that is one DataFrame or a
tuple of them, and decides by itself where to materialize:

- Without ``until``, the rounds compose lazily. After each step it reads
  the size of the state's analyzed plan — Spark analyzes a DataFrame when
  it is built, so the read submits no job — and materializes once that
  size passes ``MAX_PLAN_NODES``. A linear chain (each round reads the last
  round's frame once, e.g. PageRank) grows ~10 nodes a round, so it stays
  one lazy plan for about ten rounds. A chain that reads the last frame
  twice per round (HITS' normalize, SSSP's dist and frontier) doubles per
  round and is cut within a round or two. Either way plan and lineage size
  stay bounded at any round count.
- With ``until``, the state is materialized every round and
  ``until(state)`` decides whether to stop. The test is a Spark action
  anyway; on an unmaterialized state it would compute the round once for
  the test and again for the next round.

``converge`` is ``iterate`` for loops whose result is only valid at the
fixed point, and ``row_count_unchanged`` is the ``until`` test of loops
whose row set only grows or only shrinks.
"""

from __future__ import annotations

from typing import Callable, Union

from pyspark.sql import DataFrame

# Analyzed-plan size (one node per tree-string line) past which a lazy
# state is materialized. At 128 the registry's linear chains stay fully
# lazy (q56's five PageRank rounds are 54 nodes), while HITS and SSSP,
# whose plans grow ×4 and ×2 a round, are cut every round or two.
MAX_PLAN_NODES = 128

State = Union[DataFrame, tuple]


def materialize(df: DataFrame) -> DataFrame:
    """Compute ``df`` now and return a frame that reads the stored rows."""
    return df.localCheckpoint(eager=True)


def _plan_nodes(df: DataFrame) -> int:
    """Node count of ``df``'s analyzed plan — already built, so free."""
    return df._jdf.queryExecution().analyzed().treeString().count("\n")


def _frames(state: State) -> tuple:
    return state if isinstance(state, tuple) else (state,)


def _materialized(state: State) -> State:
    if isinstance(state, tuple):
        return tuple(materialize(df) for df in state)
    return materialize(state)


def iterate(
    state: State,
    step: Callable[[State, int], State],
    rounds: int,
    until: Callable[[State], bool] | None = None,
) -> State:
    """``state = step(state, r)`` for r = 1..rounds; returns the last state.

    Without ``until`` the state is materialized only when its plan passes
    ``MAX_PLAN_NODES`` (summed over a tuple's frames). With ``until`` it is
    materialized every round and the loop stops early once
    ``until(state)`` holds; a caller whose result is only valid at the
    fixed point checks that its test held. A tuple's frames are
    materialized one by one, so lazy work they share runs once per
    frame."""
    for r in range(1, rounds + 1):
        state = step(state, r)
        if until is None:
            if sum(_plan_nodes(df) for df in _frames(state)) > MAX_PLAN_NODES:
                state = _materialized(state)
            continue
        state = _materialized(state)
        if until(state):
            break
    return state


def converge(state: State, step, rounds: int, until, what: str) -> State:
    """``iterate`` for a loop whose result is only valid at its fixed
    point: raises instead of returning a partial result when ``until``
    never held within ``rounds``."""
    held = [False]

    def test(s) -> bool:
        held[0] = until(s)
        return held[0]

    state = iterate(state, step, rounds, until=test)
    if not held[0]:
        raise RuntimeError(
            f"{what} did not converge in {rounds} rounds; raise the round limit"
        )
    return state


def row_count_unchanged():
    """``until`` test for loops whose row set only grows or only shrinks:
    true once a round leaves the row count unchanged, so the set is
    stable. The first call only records a count, so the first round can
    hold only if the caller seeds the test with one call on the input."""
    counts = [None]

    def test(df: DataFrame) -> bool:
        counts.append(df.count())
        return counts[-1] == counts[-2]

    return test
