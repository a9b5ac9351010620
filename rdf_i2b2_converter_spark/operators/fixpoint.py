"""The two mechanisms behind the closures, lookups and numberings that the
reference builds in memory (awk lookups, rdflib tree walks): ``small_side``,
the driver path taken when the inputs and the result fit under a row cap,
and ``expand``, the one accumulate-until-empty loop of the distributed
forms (Spark has no recursive CTE, so a closure runs as rounds of joins
driven from the Python driver)."""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..schemas import local_frame


def small_side(
    inputs: Sequence[DataFrame], cap: int, build: Callable[..., list | None], schema: T.StructType
) -> DataFrame | None:
    """The driver path: ``build(*rows, cap)`` over one ``limit(cap + 1)
    .collect()`` per input, as a ``schemas.local_frame`` (a local relation:
    no job, no Python worker). The first input over ``cap`` rows stops the
    collects; ``build`` may give up by returning ``None`` (say, once its
    output passes ``cap``); an output over ``cap`` rows is discarded.
    ``None`` means "too big for the driver": run the distributed form."""
    rows = []
    for df in inputs:
        head = df.limit(cap + 1).collect()
        if len(head) > cap:
            return None
        rows.append(head)
    out = build(*rows, cap)
    if out is None or len(out) > cap:
        return None
    return local_frame(inputs[0].sparkSession, out, schema)


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
