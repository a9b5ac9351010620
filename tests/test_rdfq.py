"""SPARQL-analog lookups (C1-C4) on a hand-built triples fixture —
behavior-on-named-fixtures in the reference's style
(tests/test_rdfwrappers.py:60-117)."""

import pytest
from pyspark.sql import functions as F

from rdf_i2b2_converter_spark.operators.rdfq import (
    class_instances,
    domain_properties,
    property_ranges,
    rdf_list_members,
    subproperty_closure,
    valueset_members,
)


def _bare(spark, rows):
    return spark.createDataFrame(
        [(s, p, o, None, None) for s, p, o in rows],
        "s string, p string, o string, o_datatype string, o_lang string",
    )


@pytest.fixture(scope="module")
def triples(spark):
    rows = [
        # instances (C1)
        ("i1", "rdf:type", "kg:Diagnosis"),
        ("i2", "rdf:type", "kg:Diagnosis"),
        ("i3", "rdf:type", "kg:Drug"),
        # direct domain (C2)
        ("kg:hasCode", "rdfs:domain", "kg:Diagnosis"),
        # union-of-bnodes domain: hasDate applies to Diagnosis and Drug
        ("kg:hasDate", "rdfs:domain", "_:d1"),
        ("_:d1", "owl:unionOf", "_:l1"),
        ("_:l1", "rdf:first", "kg:Diagnosis"),
        ("_:l1", "rdf:rest", "_:l2"),
        ("_:l2", "rdf:first", "kg:Drug"),
        ("_:l2", "rdf:rest", "rdf:nil"),
        # subproperty chain: specificCode subPropertyOf hasCode — same
        # domain => hasCode must be dropped as less specific
        ("kg:specificCode", "rdfs:subPropertyOf", "kg:hasCode"),
        ("kg:specificCode", "rdfs:domain", "kg:Diagnosis"),
        # deeper chain for the closure
        ("kg:ultraCode", "rdfs:subPropertyOf", "kg:specificCode"),
        # ranges (C3): direct and via union list
        ("kg:hasCode", "rdfs:range", "snomed:Code"),
        ("kg:hasDate", "rdfs:range", "_:r1"),
        ("_:r1", "owl:unionOf", "_:m1"),
        ("_:m1", "rdf:first", "xsd:date"),
        ("_:m1", "rdf:rest", "_:m2"),
        ("_:m2", "rdf:first", "xsd:dateTime"),
        ("_:m2", "rdf:rest", "rdf:nil"),
        # valueset (C4)
        ("v1", "rdf:type", "kg:GenderVS"),
        ("v2", "rdf:type", "kg:GenderVS"),
    ]
    return _bare(spark, rows).cache()


def test_class_instances(spark, triples):
    got = {(r["instance"], r["class_uri"]) for r in class_instances(triples, ["kg:Diagnosis"]).collect()}
    assert got == {("i1", "kg:Diagnosis"), ("i2", "kg:Diagnosis")}


def test_rdf_list_members(spark, triples):
    heads = spark.createDataFrame([("c", "_:l1")], "ctx string, node string")
    got = {r["member"] for r in rdf_list_members(triples, heads).collect()}
    assert got == {"kg:Diagnosis", "kg:Drug"}


def test_subproperty_closure_transitive(spark, triples):
    got = {(r["sub"], r["sup"]) for r in subproperty_closure(triples).collect()}
    assert ("kg:ultraCode", "kg:hasCode") in got  # 2-hop
    assert ("kg:specificCode", "kg:hasCode") in got


def test_domain_properties_most_specific(spark, triples):
    got = {
        (r["prop"], r["domain_class"])
        for r in domain_properties(triples, "kg:Diagnosis").collect()
    }
    # hasCode shadowed by specificCode on kg:Diagnosis; hasDate via union list
    assert got == {("kg:specificCode", "kg:Diagnosis"), ("kg:hasDate", "kg:Diagnosis")}


def test_domain_properties_union_not_shadowed_elsewhere(spark, triples):
    got = {
        (r["prop"], r["domain_class"])
        for r in domain_properties(triples, "kg:Drug").collect()
    }
    assert got == {("kg:hasDate", "kg:Drug")}


def test_property_ranges(spark, triples):
    got = {(r["prop"], r["range_class"]) for r in property_ranges(triples).collect()}
    assert got == {
        ("kg:hasCode", "snomed:Code"),
        ("kg:hasDate", "xsd:date"),
        ("kg:hasDate", "xsd:dateTime"),
    }


def test_valueset_members(spark, triples):
    got = {r["member_uri"] for r in valueset_members(triples, "kg:GenderVS").collect()}
    assert got == {"v1", "v2"}


def test_subproperty_closure_raises_on_round_bound(spark):
    """A 10-link chain has 55 closure pairs; two rounds used to return 27 of
    them silently. The bound must raise, and enough rounds must give all."""
    chain = _bare(spark, [(f"p{i}", "rdfs:subPropertyOf", f"p{i + 1}") for i in range(10)])
    with pytest.raises(ValueError, match="did not converge within 2 rounds"):
        subproperty_closure(chain, max_rounds=2)
    assert subproperty_closure(chain, max_rounds=10).count() == 55


def test_rdf_list_members_raises_on_cyclic_rest(spark):
    """A cyclic rdf:rest spine never reaches rdf:nil; the walk used to stop
    at max_len without error."""
    cyc = _bare(spark, [
        ("_:a", "rdf:first", "kg:A"), ("_:a", "rdf:rest", "_:b"),
        ("_:b", "rdf:first", "kg:B"), ("_:b", "rdf:rest", "_:a"),
    ])
    heads = spark.createDataFrame([("c", "_:a")], "ctx string, node string")
    with pytest.raises(ValueError, match="longer than max_len=8 or cyclic"):
        rdf_list_members(cyc, heads, max_len=8)
