"""The two mechanisms of operators/fixpoint: ``small_side`` (the driver
path — its input and output caps, its plan, and the jobs its callers run)
and ``expand`` (the one accumulate-until-empty loop the closures share —
its round bound, its empty-seed case, and what reaches ``step``)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rdf_i2b2_converter_spark.operators.canonicalize import connected_components
from rdf_i2b2_converter_spark.operators.closure import close_ontology
from rdf_i2b2_converter_spark.operators.fixpoint import expand, small_side

_PAIR = T.StructType([T.StructField("a", T.LongType()), T.StructField("b", T.LongType())])


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _cross(xs, ys, _cap):
    return [(x[0], y[0]) for x in xs for y in ys]


def test_small_side_builds_a_local_relation(spark):
    a, b = spark.range(3), spark.range(2)
    caps = []
    out = small_side([a, b], 6, lambda xs, ys, cap: caps.append(cap) or _cross(xs, ys, cap), _PAIR)
    assert caps == [6]
    assert sorted(tuple(r) for r in out.collect()) == [(i, j) for i in range(3) for j in range(2)]
    assert "LocalTableScan" in _plan(out)
    assert "PythonRDD" not in out._jdf.queryExecution().toRdd().toDebugString()
    assert out.schema == _PAIR


def test_small_side_input_over_cap_stops_the_collects(spark):
    # the second input fails when evaluated: it must not be collected
    poisoned = spark.range(1).select(F.raise_error(F.lit("collected")))
    calls = []
    out = small_side(
        [spark.range(4), poisoned], 3, lambda *rows: calls.append(rows) or [], _PAIR
    )
    assert out is None and calls == []


def test_small_side_output_over_cap_or_build_none_declines(spark):
    a, b = spark.range(3), spark.range(2)
    # inputs fit (3 and 2 rows <= 5), the 6-row result does not
    assert small_side([a, b], 5, _cross, _PAIR) is None
    assert small_side([a, b], 100, lambda *_: None, _PAIR) is None


def test_crawl_driver_paths_run_only_their_capped_collect(spark, corpus, jobs_of):
    """crawl_kg's two driver paths on the corpus: close_ontology and
    connected_components each run no job beyond their one capped collect
    (measured as the same collect of their cached input), and each result
    is a local relation."""
    for name, src, cap, fn in (
        ("close", corpus["ontology"], 100_000, close_ontology),
        ("cc", corpus["alias_edges"], 400_000, connected_components),
    ):
        floor, _ = jobs_of(lambda: src.limit(cap + 1).collect())
        jobs, out = jobs_of(lambda: fn(src))
        assert 1 <= len(jobs) <= len(floor), (name, jobs, floor)
        assert "LocalTableScan" in _plan(out), name


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
