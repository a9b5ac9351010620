"""fixpoint.expand — the one accumulate-until-empty loop the closures share:
its round bound, its empty-seed case, and what reaches ``step``."""

import pytest
from pyspark.sql import functions as F

from rdf_i2b2_converter_spark.operators.fixpoint import expand


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _seed(spark, nodes):
    return spark.createDataFrame([(n, 0) for n in nodes], "node long, level int")


def _walk(edges, guard: bool = False, calls: list | None = None):
    """One link down per round, rows stamped with the round number k;
    ``guard`` anti-joins against ``seen`` (explore-once)."""

    def step(frontier, seen, k):
        if calls is not None:
            calls.append((k, sorted(r["node"] for r in seen.collect())))
        nxt = frontier.join(edges, frontier.node == edges.src).select(
            F.col("dst").alias("node"), F.lit(k).alias("level")
        )
        return nxt.join(seen, "node", "left_anti") if guard else nxt

    return step


def test_bound_passes_at_max_rounds_minus_one_and_raises_one_past(spark):
    # 0 -> 1 -> 2 -> 3 -> 4: four non-empty rounds, the fifth is empty
    chain = _edges(spark, [(i, i + 1) for i in range(4)])
    seed = _seed(spark, [0])
    out = expand(seed, _walk(chain), 5, "chain too long")
    assert sorted((r["node"], r["level"]) for r in out.collect()) == [(i, i) for i in range(5)]
    with pytest.raises(ValueError, match="^chain too long$"):
        expand(seed, _walk(chain), 4, "chain too long")


def test_empty_seed_returns_the_seed(spark):
    seed = _seed(spark, [])
    calls: list = []
    out = expand(seed, _walk(_edges(spark, [(0, 1)]), calls=calls), 3, "unused")
    assert out.schema == seed.schema
    assert out.collect() == []
    assert calls == [(1, [])]


def test_step_sees_round_number_and_everything_found_so_far(spark):
    # a cycle 0 -> 1 -> 2 -> 0 converges only through the anti-join on seen
    cycle = _edges(spark, [(0, 1), (1, 2), (2, 0)])
    seed = _seed(spark, [0])
    calls: list = []
    out = expand(seed, _walk(cycle, guard=True, calls=calls), 8, "cycle")
    assert sorted((r["node"], r["level"]) for r in out.collect()) == [(0, 0), (1, 1), (2, 2)]
    assert calls == [(1, [0]), (2, [0, 1]), (3, [0, 1, 2])]
    with pytest.raises(ValueError, match="^cycle$"):
        expand(seed, _walk(cycle), 8, "cycle")
