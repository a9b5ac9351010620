"""The one accumulate-until-empty loop behind every distributed closure:
Spark has no recursive CTE, so a closure runs as rounds of joins driven
from the Python driver."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def expand(
    seed: DataFrame,
    step: Callable[[DataFrame, DataFrame, int], DataFrame],
    max_rounds: int,
    error: str,
) -> DataFrame:
    """``seed ∪ round 1 ∪ round 2 ∪ …`` where round k is
    ``step(frontier, seen, k)``: ``frontier`` is round k-1 (the seed for
    k = 1), ``seen`` the union of the seed and rounds 1..k-1. Each round
    is ``localCheckpoint(eager=False)`` (truncating the lineage) and its
    emptiness ``count()`` materializes the final stage. The lazy form does
    not save the round's other jobs: under AQE its broadcasts and shuffle
    stages run as jobs of their own when the checkpoint is taken, about
    three per round for a broadcast-join step. Raises ``ValueError(error)``
    when round ``max_rounds`` still adds rows: returning the rows found so
    far would truncate the closure silently."""
    seen = frontier = seed
    for k in range(1, max_rounds + 1):
        frontier = step(frontier, seen, k).localCheckpoint(eager=False)
        if frontier.count() == 0:
            return seen
        seen = seen.unionByName(frontier)
    raise ValueError(error)
