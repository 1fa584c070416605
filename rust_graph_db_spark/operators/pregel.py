"""Superstep kernel shared by the iterative graph loops.

A Pregel superstep (Pregelix, VLDB 2014: vertex ⋈ messages → combine →
update) is one lazy DataFrame transform here; ``supersteps`` owns the
loop around it: how many steps compose into one plan before the state
is pinned, and when a fixpoint halts the loop. Halting values are
global aggregates computed by ``DataFrame.observe`` inside the pinning
job itself, so a convergence test costs no Spark action of its own.
"""

from __future__ import annotations

from typing import Callable, Mapping, Optional

from pyspark.sql import Column, DataFrame, Observation


def pin(df: DataFrame, **aggs: Column) -> tuple:
    """Eagerly ``localCheckpoint`` ``df`` (lineage truncation) and
    return ``(pinned, values)``: ``values`` holds each named aggregate
    of ``df``'s rows, in keyword order, read through an ``Observation``
    of the checkpoint job — no second scan. An empty or optimized-away
    frame still reports its aggregates (count 0, sum None)."""
    if not aggs:
        return df.localCheckpoint(eager=True), ()
    obs = Observation()
    pinned = (df.observe(obs, *[c.alias(k) for k, c in aggs.items()])
              .localCheckpoint(eager=True))
    got = obs.get
    return pinned, tuple(got[k] for k in aggs)


def supersteps(state: DataFrame, step: Callable[[DataFrame], DataFrame],
               rounds: int, *, per_pin: int = 1,
               probe: Optional[Mapping[str, Column]] = None) -> tuple:
    """Apply ``step`` to ``state`` up to ``rounds`` times and return
    ``(state, converged)``.

    Every ``per_pin`` steps (and after the last) the composed plan is
    pinned by one checkpoint. With a ``probe`` (name → aggregate column) the
    entry state is pinned too, each pin observes the probe, and the
    loop halts with ``converged=True`` at the first pin whose values
    equal the previous pin's: the step is then at its fixpoint and the
    caller reads the pinned state. ``converged`` is False whenever the
    rounds run out, which is always the case without a probe.
    """
    probe = probe or {}
    prev = None
    if probe:
        state, prev = pin(state, **probe)
    done = 0
    while done < rounds:
        for _ in range(min(per_pin, rounds - done)):
            state = step(state)
            done += 1
        state, cur = pin(state, **probe)
        if probe and cur == prev:
            return state, True
        prev = cur
    return state, False
