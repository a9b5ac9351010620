"""Recursive modifier tree (G2/G4) + the ontology<->fact join contract:
codes produced by the DATA pipeline must all exist in the tree built by the
ONTOLOGY pipeline from the same schema triples — the end-to-end
check_basecodes gate (src/main_data.py:45)."""

import pytest
from pyspark.sql import functions as F

from rdf_i2b2_converter_spark.operators.modifier_tree import (
    build_modifier_tree,
    check_fact_codes,
)
from rdf_i2b2_converter_spark.plans.data_pipeline import extract_observations


SCHEMA_TRIPLES = [
    # ontology: Diagnosis has hasCode (range snomed) and hasMeasurement
    # (range Measurement); Measurement has hasValue (range xsd:double)
    ("kg:hasCode", "rdfs:domain", "kg:Diagnosis", None),
    ("kg:hasCode", "rdfs:range", "snomed:Code", None),
    ("kg:hasMeasurement", "rdfs:domain", "kg:Diagnosis", None),
    ("kg:hasMeasurement", "rdfs:range", "kg:Measurement", None),
    ("kg:hasValue", "rdfs:domain", "kg:Measurement", None),
    ("kg:hasValue", "rdfs:range", "xsd:double", None),
    # muted property: two ranges in the SAME terminology
    ("kg:hasFinding", "rdfs:domain", "kg:Diagnosis", None),
    ("kg:hasFinding", "rdfs:range", "snomed:Finding", None),
    ("kg:hasFinding", "rdfs:range", "snomed:Observation", None),
]

DATA_TRIPLES = [
    ("i1", "rdf:type", "kg:Diagnosis", None),
    ("i1", "kg:hasSubject", "subj1", None),
    ("subj1", "rdf:type", "kg:SubjectPseudoIdentifier", None),
    ("subj1", "kg:hasIdentifier", "p001", "xsd:string"),
    ("i1", "kg:hasCode", "c1", None),
    ("c1", "rdf:type", "snomed:Code", None),
    ("i1", "kg:hasMeasurement", "m1", None),
    ("m1", "rdf:type", "kg:Measurement", None),
    ("m1", "kg:hasValue", "7.5", "xsd:double"),
]


def _df(spark, rows):
    return spark.createDataFrame(
        [(s, p, o, dt, None) for s, p, o, dt in rows],
        "s string, p string, o string, o_datatype string, o_lang string",
    )


@pytest.fixture(scope="module")
def tree(spark):
    return build_modifier_tree(_df(spark, SCHEMA_TRIPLES), ["kg:Diagnosis"]).cache()


def test_tree_shape(tree):
    kinds = {(r["uri"], r["level"]): r["kind"] for r in tree.collect()}
    assert kinds[("kg:Diagnosis", 0)] == "concept"
    assert kinds[("kg:hasCode", 1)] == "modifier"
    assert kinds[("snomed:Code", 2)] == "leaf"          # terminology leaf
    assert kinds[("kg:Measurement", 2)] == "concept"    # nested concept
    assert kinds[("kg:hasValue", 3)] == "modifier"
    assert kinds[("xsd:double", 4)] == "value_leaf"
    # muted: both same-terminology ranges are leaves, never expanded
    assert kinds[("snomed:Finding", 2)] == "leaf"
    assert kinds[("snomed:Observation", 2)] == "leaf"


def test_tree_invariants(tree):
    n = tree.count()
    assert tree.select("path").distinct().count() == n
    # codes unique EXCEPT value leaves, which share their property's code by
    # design (the data side emits the literal under the property's code)
    non_value = tree.filter(F.col("kind") != "value_leaf")
    assert non_value.select("code").distinct().count() == non_value.count()
    child = tree.filter(F.col("parent_uri").isNotNull()).alias("c")
    joined = child.join(
        tree.alias("p"),
        (F.col("c.parent_uri") == F.col("p.uri"))
        & (F.col("c.parent_code").eqNullSafe(F.col("p.code")))
        & (F.col("c.level") == F.col("p.level") + 1),
        "left_anti",
    )
    assert joined.count() == 0  # every node's parent exists one level up


def test_value_leaf_carries_property_code(tree):
    rows = {r["uri"]: r for r in tree.collect()}
    assert rows["xsd:double"]["code"] == rows["kg:hasValue"]["code"]


def test_fact_codes_subset_of_tree(spark, tree):
    """THE join contract: every code the data pipeline emits exists in the
    ontology-side tree (anti-join empty)."""
    obs = extract_observations(_df(spark, DATA_TRIPLES), ["kg:Diagnosis"])
    bad = check_fact_codes(obs, tree)
    assert bad.count() == 0, bad.collect()
    # and the concept codes match the level-0 tree code
    root_code = tree.filter("level = 0").collect()[0]["code"]
    assert {r["concept_cd"] for r in obs.collect()} == {root_code}


def test_mixed_range_list_expands_plain_concept(spark):
    """ADVICE r1: muting is per (prop, range) pair — a property with 2
    snomed ranges AND a plain concept range mutes only the snomed siblings
    (sort_silent_ranges, src/rdfwrappers.py:236-276); the plain concept
    still expands into its own properties."""
    rows = SCHEMA_TRIPLES + [
        ("kg:hasFinding", "rdfs:range", "kg:ClinicalNote", None),
        ("kg:hasText", "rdfs:domain", "kg:ClinicalNote", None),
        ("kg:hasText", "rdfs:range", "xsd:string", None),
    ]
    tree = build_modifier_tree(_df(spark, rows), ["kg:Diagnosis"])
    kinds = {(r["uri"], r["level"]): r["kind"] for r in tree.collect()}
    assert kinds[("snomed:Finding", 2)] == "leaf"
    assert kinds[("snomed:Observation", 2)] == "leaf"
    # the plain sibling is a concept and its property subtree exists
    assert kinds[("kg:ClinicalNote", 2)] == "concept"
    assert kinds[("kg:hasText", 3)] == "modifier"
    assert kinds[("xsd:string", 4)] == "value_leaf"


def test_modifier_tree_raises_past_max_depth(spark):
    """A chain of 6 concept generations (C0 -p0-> C1 ... -p5-> C6, 13 tree
    rows) fits max_depth 6 and 12, and raises at max_depth 2 instead of
    returning the first two generations as if they were the whole tree."""
    rows = []
    for i in range(6):
        rows += [
            (f"kg:p{i}", "rdfs:domain", f"kg:C{i}", None),
            (f"kg:p{i}", "rdfs:range", f"kg:C{i + 1}", None),
        ]
    triples = _df(spark, rows)
    for max_depth in (6, 12):
        tree = build_modifier_tree(triples, ["kg:C0"], max_depth=max_depth).collect()
        assert len(tree) == 13
        assert max(r["level"] for r in tree) == 12
    with pytest.raises(ValueError, match="max_depth=2"):
        build_modifier_tree(triples, ["kg:C0"], max_depth=2)
