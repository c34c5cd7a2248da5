"""One fixpoint primitive for the engine's data-dependent driver loops.

Every such loop has the same skeleton: a state made of DataFrames, a
step that derives the next state, one Spark action per round that
decides whether the state is final, and a round cap. ``fixpoint`` owns
the parts that went wrong when each loop chose them for itself:

- The per-round checkpoint always goes through ``stats_barrier``.
  Plain ``localCheckpoint`` keeps the plan's estimated sizeInBytes, so
  any loop whose round joins the state with a relation derived from
  the state compounds that estimate (barrier.py). Label propagation
  does: on a 128-node path with shuffled ids its estimate grew from 190
  bits at round 1 to 4,107,776 bits by round 15, where one round took
  57 s. Behind the barrier it never passes 63 bits.
- Cadence: a round checkpoints lazily, and the round's action
  materializes it; the start state and every ``CHECKPOINT_EVERY``-th
  round checkpoint eagerly. A lazy checkpoint cuts the RDD lineage
  only when a job runs that RDD itself, and a loop that never forces
  it overflows the task deserializer's stack (bpe_train did near round
  150); the eager rounds bound the depth.
- Frames a step passes through unchanged (a loop-invariant edge
  relation) and frames already checkpointed by an enclosing fixpoint
  are not checkpointed again.
- A loop that reaches its cap raises one ``RuntimeError`` naming it.
"""

from __future__ import annotations

import weakref
from dataclasses import fields, is_dataclass, replace
from typing import Callable, TypeVar

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ophois_spark.plans.barrier import stats_barrier

CHECKPOINT_EVERY = 16

S = TypeVar("S")

_barriered: weakref.WeakSet = weakref.WeakSet()


def _barrier(state, eager: bool):
    """stats_barrier every DataFrame in ``state`` (a DataFrame, a tuple,
    or a dataclass of them; other values pass through)."""
    if isinstance(state, DataFrame):
        if state in _barriered:
            return state
        out = stats_barrier(state, eager=eager)
        _barriered.add(out)
        return out
    if isinstance(state, tuple):
        return tuple(_barrier(v, eager) for v in state)
    if is_dataclass(state):
        return replace(state, **{f.name: _barrier(getattr(state, f.name), eager) for f in fields(state)})
    return state


def fixpoint(
    name: str,
    state: S,
    step: Callable[[S], S] | tuple[Callable[[S], S], ...],
    done: Callable[[S], bool],
    max_rounds: int,
    check_start: bool = False,
) -> tuple[S, int]:
    """→ (state, rounds): apply ``step`` until ``done`` holds.

    Round r ≥ 1 sets ``state = step(state)``, checkpoints it and asks
    ``done(state)`` — the round's single Spark action — so ``rounds``
    is the number of steps taken. A tuple of phases is one step whose
    phases each end at a checkpoint, for a round that derives one frame
    from another it has just built. With ``check_start`` the start
    state is asked too, and a start that is already final returns 0
    rounds. Raises ``RuntimeError`` naming ``name`` when ``max_rounds``
    steps leave ``done`` false."""
    phases = step if isinstance(step, tuple) else (step,)
    state = _barrier(state, eager=True)
    if check_start and done(state):
        return state, 0
    for r in range(1, max_rounds + 1):
        for phase in phases:
            state = _barrier(phase(state), eager=r % CHECKPOINT_EVERY == 0)
        if done(state):
            return state, r
    raise RuntimeError(f"{name} did not converge in {max_rounds} rounds")


def stable(measure: Callable[[S], object]) -> Callable[[S], bool]:
    """A ``done`` test: the round's measure equals the previous round's."""
    prev = object()

    def done(state: S) -> bool:
        nonlocal prev
        value = measure(state)
        hit, prev = value == prev, value
        return hit

    return done


def signature(df: DataFrame, key: str, value: str) -> tuple:
    """Exact, order-independent signature of an integer relation:
    (count, sum of ``value``, xor of xxhash64(key, value)) — one
    aggregate action, no set-difference shuffle."""
    row = df.agg(
        F.count(F.lit(1)), F.sum(value), F.bit_xor(F.xxhash64(key, value))
    ).collect()[0]
    return tuple(row)
