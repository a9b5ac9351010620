"""Plan shape of the RDF source layer: every reader and error scan is one
text scan feeding one Python worker per task (one ``MapInPandas``); the
chunked Turtle path is two around one shuffle."""

import json

import pytest

from rdf_i2b2_converter_spark.sources import jsonld, rdf

TTL = """@prefix ex: <http://ex.org/> .
ex:a ex:p ex:b ; ex:q "v" .
ex:b ex:p [ ex:q ex:c ] .
"""
TTL_LINES = """@prefix ex: <http://ex.org/> .
ex:a ex:p ex:b .
ex:b ex:q "v"@en .
"""
RDFXML = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:ex="http://ex.org/">
  <rdf:Description rdf:about="http://ex.org/a"><ex:p>v</ex:p></rdf:Description>
</rdf:RDF>
"""
JSONLD = json.dumps({"@context": {"ex": "http://ex.org/"}, "@id": "ex:a", "ex:p": "v"})
NDJSON = "\n".join(
    json.dumps({"@id": f"http://ex.org/{i}", "http://ex.org/p": i}) for i in range(3)
)

#: name -> (input file, text, front door over (spark, path))
FRONT_DOORS = {
    "read_turtle": ("d.ttl", TTL, lambda s, p: rdf.read_turtle(s, p)),
    "read_turtle_lines": (
        "l.ttl", TTL_LINES,
        lambda s, p: rdf.read_turtle(s, p, expand_prefixes=False, multiline=False),
    ),
    "read_rdfxml": ("x.rdf", RDFXML, lambda s, p: rdf.read_rdfxml(s, p)),
    "read_jsonld": ("j.jsonld", JSONLD, lambda s, p: jsonld.read_jsonld(s, p)),
    "read_jsonld_lines": ("n.jsonl", NDJSON, lambda s, p: jsonld.read_jsonld_lines(s, p)),
    "scan_turtle_errors": ("d.ttl", TTL, lambda s, p: rdf.scan_turtle_errors(s, p)),
    "scan_turtle_errors_lines": (
        "l.ttl", TTL_LINES, lambda s, p: rdf.scan_turtle_errors(s, p, multiline=False),
    ),
    "scan_rdfxml_errors": ("x.rdf", RDFXML, lambda s, p: rdf.scan_rdfxml_errors(s, p)),
    "scan_jsonld_errors": ("j.jsonld", JSONLD, lambda s, p: jsonld.scan_jsonld_errors(s, p)),
    "scan_jsonld_errors_lines": (
        "n.jsonl", NDJSON, lambda s, p: jsonld.scan_jsonld_errors(s, p, lines=True),
    ),
}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", sorted(FRONT_DOORS))
def test_front_door_is_one_scan_and_one_python_stage(spark, tmp_path, name):
    fname, text, front_door = FRONT_DOORS[name]
    f = tmp_path / fname
    f.write_text(text)
    df = front_door(spark, str(f))
    plan = _plan(df)
    assert plan.count("Scan text") == 1, plan
    assert plan.count("MapInPandas") == 1, plan
    # valid input: the readers return triples, the scans no errors
    assert (df.count() == 0) == name.startswith("scan_")


def test_chunked_turtle_is_two_python_stages_around_one_shuffle(spark, tmp_path):
    f = tmp_path / "big.ttl"
    f.write_text(TTL)
    df = rdf.read_turtle(spark, str(f), chunk_bytes=16)
    plan = _plan(df)
    assert plan.count("Scan text") == 1, plan
    assert plan.count("MapInPandas") == 2, plan
    assert plan.count("Exchange") == 1, plan
    assert {tuple(r) for r in df.collect()} == {
        tuple(r) for r in rdf.read_turtle(spark, str(f)).collect()
    }
