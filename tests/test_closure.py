"""Ontology closure invariants — mirrors the reference's METADATA global
checks: path & basecode uniqueness (tests/test_i2b2wrappers.py:133-140),
parent-exists with level-1 (143-159), muting (tests/test_rdfwrappers.py:
132-159), blacklist pruning (src/rdfwrappers.py:6-9)."""

import pytest
from pyspark.sql import functions as F

from rdf_i2b2_converter_spark.operators.closure import (
    attach_properties,
    close_ontology,
    subtree,
)


@pytest.fixture(scope="module")
def closed(spark, corpus):
    return close_ontology(corpus["ontology"]).cache()


def test_path_and_code_unique(closed):
    n = closed.count()
    assert closed.select("path").distinct().count() == n
    assert closed.select("code").distinct().count() == n


def test_parent_exists_with_level_minus_one(closed):
    child = closed.filter(F.col("parent_uri").isNotNull()).alias("c")
    joined = child.join(
        closed.alias("p"), F.col("c.parent_uri") == F.col("p.class_uri"), "left"
    )
    assert joined.filter(F.col("p.class_uri").isNull()).count() == 0
    assert joined.filter(F.col("c.level") != F.col("p.level") + 1).count() == 0


def test_path_prefix_consistency(closed):
    child = closed.filter(F.col("parent_uri").isNotNull()).alias("c")
    joined = child.join(closed.alias("p"), F.col("c.parent_uri") == F.col("p.class_uri"))
    bad = joined.filter(~F.col("c.path").startswith(F.col("p.path"))).count()
    assert bad == 0


def test_code_chain_recomputable(closed):
    """Every child code = sha256(parent_code + uri + '\\')[:50] — the
    data-side recomputability contract (src/data_loader.py:250-255)."""
    import hashlib

    rows = closed.collect()
    codes = {r["class_uri"]: r["code"] for r in rows}
    for r in rows:
        prefix = codes.get(r["parent_uri"], "") if r["parent_uri"] else ""
        want = hashlib.sha256((prefix + r["class_uri"] + "\\").encode()).hexdigest()[:50]
        assert r["code"] == want, r["class_uri"]


def test_muting_stops_terminology_expansion(closed):
    """snomed:Disease has 2 same-terminology children -> ChildfreeConcept
    semantics: children not expanded (src/rdfwrappers.py:187-199)."""
    uris = {r["class_uri"] for r in closed.collect()}
    assert "snomed:Disease" in uris
    assert "snomed:Finding" not in uris
    assert "snomed:Infection" not in uris
    assert "loinc:Lab" in uris  # single-node terminology: kept


def test_blacklist_subtree_absent(closed):
    assert closed.filter(F.col("class_uri") == "kg:Deprecated").count() == 0


def test_levels_and_paths(closed):
    rows = {r["class_uri"]: r for r in closed.collect()}
    assert rows["kg:Thing"]["level"] == 0
    assert rows["kg:Thing"]["path"] == "\\Thing\\"
    assert rows["kg:Company"]["level"] == 2
    assert rows["kg:Company"]["path"] == "\\Thing\\Organization\\Company\\"


def test_attach_properties(spark, corpus, closed):
    props = attach_properties(closed, corpus["ontology"])
    rows = {r["class_uri"]: r for r in props.collect()}
    assert rows["kg:hasName"]["parent_uri"] == "kg:Organization"
    org = closed.filter(F.col("class_uri") == "kg:Organization").collect()[0]
    assert rows["kg:hasName"]["level"] == org["level"] + 1
    assert rows["kg:hasName"]["path"] == org["path"] + "hasName\\"


def test_subtree_filter(closed):
    sub = subtree(closed, "\\Thing\\Place\\")
    uris = {r["class_uri"] for r in sub.collect()}
    assert uris == {"kg:City", "kg:Country"}


import pytest as _pytest


@_pytest.mark.parametrize("thr", [100_000, 0], ids=["driver-bfs", "distributed"])
def test_closure_raises_on_cycle_and_depth(spark, thr):
    """Review r5: max_rounds exhaustion must raise, not silently truncate
    (or return cycle-polluted rows). Both closure paths (review r6)."""
    import pytest

    # a ROOT-REACHABLE cycle loops the frontier forever (an orphan cycle
    # is simply never visited — entry-point-driven walk, like the
    # reference's recursion from ROOT_URIS)
    rows = [("r", None, "class", "R", None, None, False),
            ("a", "r", "class", "A", None, None, False),
            ("b", "a", "class", "B", None, None, False),
            ("a", "b", "class", "A", None, None, False)]
    from rdf_i2b2_converter_spark import schemas

    onto = spark.createDataFrame(rows, schema=schemas.ONTOLOGY)
    with pytest.raises(ValueError, match="did not converge"):
        close_ontology(onto, max_rounds=8, check_path_collisions=False,
                       driver_threshold=thr)
    deep = [("r", None, "class", "R", None, None, False)] + [
        (f"n{i}", f"n{i-1}" if i else "r", "class", f"N{i}", None, None, False)
        for i in range(12)
    ]
    onto2 = spark.createDataFrame(deep, schema=schemas.ONTOLOGY)
    with pytest.raises(ValueError, match="did not converge"):
        close_ontology(onto2, max_rounds=4, driver_threshold=thr)
    assert close_ontology(onto2, max_rounds=16, driver_threshold=thr).count() == 13


def test_closure_multi_parent_no_row_blowup(spark):
    """Review r5: per-ROW stop_expansion flags made a k-parent class emit
    k^2 rows; a DAG node must appear exactly once per parent path."""
    from rdf_i2b2_converter_spark import schemas

    rows = [("r", None, "class", "R", None, None, False),
            ("p1", "r", "class", "P1", None, None, False),
            ("p2", "r", "class", "P2", None, None, False),
            ("x", "p1", "class", "X", None, None, False),
            ("x", "p2", "class", "X", None, None, False),
            ("y", "x", "class", "Y", None, None, False)]
    onto = spark.createDataFrame(rows, schema=schemas.ONTOLOGY)
    closed = close_ontology(onto, check_path_collisions=False)
    x_paths = sorted(r["path"] for r in closed.filter("class_uri = 'x'").collect())
    assert x_paths == ["\\r\\p1\\x\\", "\\r\\p2\\x\\"]  # once per parent, no square
    assert closed.filter("class_uri = 'y'").count() == 2  # one per x-path


@_pytest.mark.parametrize("thr", [100_000, 0], ids=["driver-bfs", "distributed"])
def test_closure_detects_path_collision(spark, thr):
    """Review r5: distinct URIs with equal local names under one parent
    would silently merge materialized paths — must raise (both paths)."""
    import pytest

    from rdf_i2b2_converter_spark import schemas

    rows = [("r", None, "class", "R", None, None, False),
            ("snomed:Cancer", "r", "class", "C1", None, None, False),
            ("icd:Cancer", "r", "class", "C2", None, None, False)]
    onto = spark.createDataFrame(rows, schema=schemas.ONTOLOGY)
    with pytest.raises(ValueError, match="path"):
        close_ontology(onto, driver_threshold=thr)


def test_attach_properties_recursive_and_datatype(spark, corpus, closed):
    """Review r5: a property nested under another property attaches
    recursively (walk_mtree is recursive); datatype survives."""
    from rdf_i2b2_converter_spark import schemas

    extra = spark.createDataFrame(
        [("kg:hasCity", "kg:hasName", "property", "has city", "xsd:string", None, False)],
        schema=schemas.ONTOLOGY,
    )
    onto = corpus["ontology"].unionByName(extra)
    props = attach_properties(closed, onto)
    city = props.filter("class_uri = 'kg:hasCity'").collect()
    assert len(city) == 1
    parent = props.filter("class_uri = 'kg:hasName'").collect()[0]
    assert city[0]["level"] == parent["level"] + 1
    assert city[0]["path"].startswith(parent["path"])
    assert city[0]["datatype"] == "xsd:string"
    assert parent["datatype"] == "xsd:string"


def test_subtree_normalizes_separator(spark, closed):
    """Review r5: a bare prefix must not over-match sibling paths or keep
    the root row."""
    with_sep = {r["class_uri"] for r in subtree(closed, "\\Thing\\Place\\").collect()}
    bare = {r["class_uri"] for r in subtree(closed, "\\Thing\\Place").collect()}
    assert bare == with_sep
    assert "kg:Place" not in bare


def test_driver_and_distributed_paths_identical(spark, corpus):
    """r6: sub-threshold ontologies close via driver-side BFS (one
    collect); the distributed fixpoint loop must stay bit-identical —
    same rows, schema, and types under both paths, multi-parent DAG and
    muting included."""
    onto = corpus["ontology"]
    fast = close_ontology(onto)  # default threshold -> driver BFS
    slow = close_ontology(onto, driver_threshold=0)  # force distributed
    assert fast.schema == slow.schema
    cols = fast.columns
    a = sorted(tuple(r[c] for c in cols) for r in fast.collect())
    b = sorted(tuple(r[c] for c in cols) for r in slow.collect())
    assert a == b


def test_driver_close_frame_uses_no_python_worker(spark, corpus):
    """The driver BFS result is built from Arrow (a local relation): no
    PythonRDD job and no plain Python worker pool."""
    from rdf_i2b2_converter_spark import schemas

    closed = close_ontology(corpus["ontology"])  # below driver_threshold
    assert "PythonRDD" not in closed._jdf.queryExecution().toRdd().toDebugString()
    assert closed.schema == schemas.ONTOLOGY_CLOSED


def test_driver_close_declines_a_closure_over_the_cap(spark):
    """The driver BFS bounds its output as well as its input: a chain of
    diamonds has few class rows but doubles its paths at every diamond, so
    its closure outgrows a cap its class rows fit under. That closure
    takes the distributed loop, with the same rows."""
    from rdf_i2b2_converter_spark import schemas

    rows, top = [("r", None, "class", "R", None, None, False)], "r"
    for i in range(5):  # r -> {a_i, b_i} -> c_i -> {a_i+1, b_i+1} ...
        rows += [(f"a{i}", top, "class", "A", None, None, False),
                 (f"b{i}", top, "class", "B", None, None, False),
                 (f"c{i}", f"a{i}", "class", "C", None, None, False),
                 (f"c{i}", f"b{i}", "class", "C", None, None, False)]
        top = f"c{i}"
    onto = spark.createDataFrame(rows, schema=schemas.ONTOLOGY)
    cap = len(rows)  # 21 class rows fit; the closure has 125 rows
    capped = close_ontology(onto, driver_threshold=cap)
    want = sorted(tuple(r) for r in close_ontology(onto, driver_threshold=0).collect())
    assert len(want) > cap
    assert sorted(tuple(r) for r in capped.collect()) == want
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in plan, plan
