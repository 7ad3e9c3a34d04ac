"""The one edge symmetrizer and the one round loop of the iterative
label computations (``dedup.dup_clusters``/``label_propagation``,
``regions.label_regions``, ``relational.x_sssp_parts``). Callers pass
a ``step``; where lineage is cut and when to stop early is decided here."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["undirected", "iterate"]

# An uncut loop re-derives earlier rounds exponentially (a state feeds
# the next round more than once). A cut every second round halves the
# checkpoint jobs of a per-round cut; from round 5 on (a loop run to
# convergence) the round before each compare is cut too, so a compare
# sees state r-1 and stops one round after a fixpoint, not two.


def undirected(pairs: DataFrame, a: str, b: str, *carry: str) -> DataFrame:
    """``src, dst, *carry`` for both directions of every ``(a, b)``
    row, from ONE evaluation of ``pairs`` (a union of two selects
    evaluates the upstream subtree once per branch). No lineage cut."""
    both = F.explode(F.array(
        F.struct(F.col(a).alias("src"), F.col(b).alias("dst"), *carry),
        F.struct(F.col(b).alias("src"), F.col(a).alias("dst"), *carry)))
    return pairs.select(both.alias("e")).select(
        "e.src", "e.dst", *[f"e.{c}" for c in carry])


def _compares(r: int, rounds: int) -> bool:
    # every second round from 4 on, never after the last round: there
    # it could change nothing
    return r % 2 == 0 and 4 <= r < rounds


def _cut(r: int, rounds: int) -> bool:
    return r % 2 == 0 or r == rounds or (r >= 5 and _compares(r + 1, rounds))


def iterate(state: DataFrame, step: Callable[[DataFrame], DataFrame],
            rounds: int) -> tuple[DataFrame, bool]:
    """Apply the deterministic, synchronous ``step`` ``rounds`` times to
    a state holding a SET of rows; return ``(state, converged)``.

    Exact early stop: a compare tests state r against the last two
    cuts (state r-2, and r-1 from round 6 on). Equal to r-1, it is a
    fixpoint. Equal to r-2, the automaton has period <= 2, so the
    ``rounds``-round result is state r when ``rounds - r`` is even and
    ``step(state r)`` otherwise. Both hold for any deterministic step,
    a non-monotone vote included. ``converged``: stopped on either."""
    cuts = []                        # the last two cuts, as (round, state)
    for r in range(1, rounds + 1):
        state = step(state)
        if not _cut(r, rounds):
            continue
        state = state.localCheckpoint(eager=True)
        if _compares(r, rounds):
            same = _matches(state, [s for _, s in cuts])
            periods = [r - k for (k, _), eq in zip(cuts, same) if eq]
            if periods:
                if min(periods) == 2 and (rounds - r) % 2:
                    state = step(state).localCheckpoint(eager=True)
                return state, True
        cuts = (cuts + [(r, state)])[-2:]
    return state, False


def _matches(now: DataFrame, olds: list[DataFrame]) -> list[bool]:
    """Whether ``now`` equals each of ``olds`` as a set, in one job: a
    row that is in one of two compared states only differs."""
    tagged = now.withColumn("_side", F.lit(0))
    for i, old in enumerate(olds, 1):
        tagged = tagged.unionByName(old.withColumn("_side", F.lit(i)))
    sides = tagged.groupBy(*now.columns).agg(
        *[F.max((F.col("_side") == i).cast("int")).alias(f"in{i}")
          for i in range(len(olds) + 1)])
    row = sides.agg(
        *[F.max((F.col("in0") != F.col(f"in{i}")).cast("int")).alias(f"d{i}")
          for i in range(1, len(olds) + 1)]).first()
    return [not row[f"d{i}"] for i in range(1, len(olds) + 1)]
