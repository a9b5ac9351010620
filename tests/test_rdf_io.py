"""N-Triples scan/sink round-trip and terminology routing (A1, C12)."""

from pyspark.sql import functions as F

from rdf_i2b2_converter_spark.sources.rdf import (
    read_ntriples,
    route_terminology,
    scan_errors,
    write_ntriples,
)


def _norm_bnodes(rows):
    """Canonical bnode renaming (labels are document-scoped and the reader
    remaps them per file — ADVICE r3): replace each distinct ``_:`` label
    with _:B0, _:B1, ... in first-appearance order of sorted rows."""
    mapping: dict[str, str] = {}

    def m(v):
        if isinstance(v, str) and v.startswith("_:"):
            return mapping.setdefault(v, f"_:B{len(mapping)}")
        return v

    key = lambda row: tuple("" if v is None else str(v) for v in row)  # noqa: E731
    return {tuple(m(v) for v in row) for row in sorted(rows, key=key)}


NT = """# a comment
<http://ex.org/a> <http://ex.org/p> <http://ex.org/b> .
<http://ex.org/a> <http://ex.org/label> "hello world" .
<http://ex.org/a> <http://ex.org/num> "42"^^<xsd:integer> .
<http://ex.org/a> <http://ex.org/label> "bonjour"@fr .
<http://ex.org/q> <http://ex.org/says> "he said \\"hi\\"" .

this line is garbage
"""


def test_read_ntriples(spark, tmp_path):
    f = tmp_path / "g.nt"
    f.write_text(NT)
    df = read_ntriples(spark, str(f))
    rows = {(r["p"], r["o"], r["o_datatype"], r["o_lang"]) for r in df.collect()}
    assert ("http://ex.org/p", "http://ex.org/b", None, None) in rows
    assert ("http://ex.org/label", "hello world", "xsd:string", None) in rows
    assert ("http://ex.org/num", "42", "xsd:integer", None) in rows
    assert ("http://ex.org/label", "bonjour", "xsd:string", "fr") in rows
    assert ("http://ex.org/says", 'he said "hi"', "xsd:string", None) in rows
    assert df.count() == 5
    errs = scan_errors(spark, str(f)).collect()
    assert len(errs) == 1 and "garbage" in errs[0]["value"]


def test_route_terminology(spark, tmp_path):
    f = tmp_path / "g.nt"
    f.write_text(NT)
    df = read_ntriples(spark, str(f))
    routed = route_terminology(df, {"http://ex.org/q": "qgraph"})
    got = {r["s"]: r["source"] for r in routed.collect()}
    assert got["http://ex.org/q"] == "qgraph"
    assert got["http://ex.org/a"] == "main"


def test_ntriples_roundtrip(spark, tmp_path):
    triples = spark.createDataFrame(
        [
            ("kg:e/1", "rdf:type", "kg:T", None, None, 0),
            ("kg:e/1", "kg:name", "Ada Lovelace", "xsd:string", None, 0),
        ],
        "subj string, pred string, obj string, obj_datatype string, source_url string, part_id int",
    )
    out = str(tmp_path / "nt_out")
    write_ntriples(triples, out)
    back = read_ntriples(spark, out)
    got = {(r["s"], r["p"], r["o"], r["o_datatype"]) for r in back.collect()}
    assert got == {
        ("kg:e/1", "rdf:type", "kg:T", None),
        ("kg:e/1", "kg:name", "Ada Lovelace", "xsd:string"),
    }


TTL = """@prefix sphn: <https://biomedit.ch/rdf/sphn-ontology/sphn#> .
@prefix resource: <https://biomedit.ch/rdf/sphn-resource/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
# mirrors the reference's GraphParser corpus shapes (src/utils.py:48-75)
resource:obs1 a sphn:Diagnosis .
resource:obs1 sphn:hasCode resource:code1 ; sphn:hasComment "stable"@en .
resource:obs1 sphn:hasValue "7.5"^^xsd:double, "8.1"^^xsd:double .
resource:obs1 sphn:hasCount 42 .
resource:obs1 sphn:hasRatio 0.5 .
_:b1 sphn:memberOf resource:obs1 .
resource:obs1 sphn:hasUnit _:b1 .
<https://raw.example/x> sphn:hasLabel "plain" .
"""


def test_read_turtle_subset(spark, tmp_path):
    f = tmp_path / "g.ttl"
    f.write_text(TTL)
    from rdf_i2b2_converter_spark.sources.rdf import read_turtle, scan_turtle_errors

    df = read_turtle(spark, str(f))
    SPHN = "https://biomedit.ch/rdf/sphn-ontology/sphn#"
    RES = "https://biomedit.ch/rdf/sphn-resource/"
    rows = {(r["s"], r["p"], r["o"], r["o_datatype"], r["o_lang"]) for r in df.collect()}
    assert (f"{RES}obs1", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
            f"{SPHN}Diagnosis", None, None) in rows
    assert (f"{RES}obs1", f"{SPHN}hasCode", f"{RES}code1", None, None) in rows
    assert (f"{RES}obs1", f"{SPHN}hasComment", "stable", "xsd:string", "en") in rows
    # ',' object list -> two triples with the expanded xsd datatype
    assert (f"{RES}obs1", f"{SPHN}hasValue", "7.5",
            "http://www.w3.org/2001/XMLSchema#double", None) in rows
    assert (f"{RES}obs1", f"{SPHN}hasValue", "8.1",
            "http://www.w3.org/2001/XMLSchema#double", None) in rows
    # bare numerics: full XSD IRIs in expand mode (consistent with the
    # expanded ^^xsd:* datatype spelling)
    XSD = "http://www.w3.org/2001/XMLSchema#"
    assert (f"{RES}obs1", f"{SPHN}hasCount", "42", f"{XSD}integer", None) in rows
    assert (f"{RES}obs1", f"{SPHN}hasRatio", "0.5", f"{XSD}decimal", None) in rows
    # blank nodes both positions: the explicit _:b1 label is remapped into
    # the per-file namespace (document-scoped labels) but stays CONSISTENT
    # across its two occurrences
    b1 = next(s for (s, p, o, dt, lg) in rows if p == f"{SPHN}memberOf")
    assert b1.startswith("_:") and b1.endswith("_b1")
    assert (b1, f"{SPHN}memberOf", f"{RES}obs1", None, None) in rows
    assert (f"{RES}obs1", f"{SPHN}hasUnit", b1, None, None) in rows
    assert ("https://raw.example/x", f"{SPHN}hasLabel", "plain", "xsd:string", None) in rows
    assert df.count() == 10
    assert scan_turtle_errors(spark, str(f)).count() == 0


def test_read_turtle_compact_mode_and_errors(spark, tmp_path):
    """Line mode (multiline=False): []/multiline are out of the splittable
    subset and surface in the error scan; the document parser covers them."""
    f = tmp_path / "g2.ttl"
    f.write_text(
        "@prefix kg: <http://kg.example/> .\n"
        "kg:a kg:p kg:b .\n"
        "kg:a kg:p [ kg:inner kg:c ] .\n"          # [] bnode: out of line subset
        "kg:a kg:p\n"                                # multiline: out of line subset
    )
    from rdf_i2b2_converter_spark.sources.rdf import read_turtle, scan_turtle_errors

    rows = {(r["s"], r["p"], r["o"])
            for r in read_turtle(spark, str(f), expand_prefixes=False, multiline=False).collect()}
    assert rows == {("kg:a", "kg:p", "kg:b")}
    errs = scan_turtle_errors(spark, str(f), multiline=False)
    assert errs.count() == 2


def test_turtle_ntriples_equivalence(spark, tmp_path):
    """The same graph written as Turtle and as N-Triples parses to the same
    triple set — the guess_format parity check (src/utils.py:48-75)."""
    ttl = tmp_path / "eq.ttl"
    nt = tmp_path / "eq.nt"
    ttl.write_text(
        "@prefix ex: <http://ex.org/> .\n"
        "ex:a a ex:T ; ex:name \"Ada\" ; ex:knows _:b0 .\n"
        "_:b0 ex:age \"36\"^^<http://www.w3.org/2001/XMLSchema#integer> .\n"
    )
    nt.write_text(
        "<http://ex.org/a> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://ex.org/T> .\n"
        '<http://ex.org/a> <http://ex.org/name> "Ada" .\n'
        "<http://ex.org/a> <http://ex.org/knows> _:b0 .\n"
        '_:b0 <http://ex.org/age> "36"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
    )
    from rdf_i2b2_converter_spark.sources.rdf import read_ntriples, read_turtle

    t = _norm_bnodes(tuple(r) for r in read_turtle(spark, str(ttl)).collect())
    n = _norm_bnodes(tuple(r) for r in read_ntriples(spark, str(nt)).collect())
    assert t == n


def test_blank_node_ntriples_roundtrip(spark, tmp_path):
    """Labels are file-scoped on re-read (ADVICE r4 remap), so the
    round-trip preserves bnode STRUCTURE — same node on both sides of the
    link — not the literal label."""
    triples = spark.createDataFrame(
        [
            ("_:bn1", "kg:partOf", "kg:whole", None, None, 0),
            ("kg:whole", "kg:hasPart", "_:bn1", None, None, 0),
        ],
        "subj string, pred string, obj string, obj_datatype string, source_url string, part_id int",
    )
    out = str(tmp_path / "bn_out")
    write_ntriples(triples, out)
    back = read_ntriples(spark, out)
    got = {(r["s"], r["p"], r["o"]) for r in back.collect()}
    assert _norm_bnodes((s, p, o) for (s, p, o) in got) == _norm_bnodes(
        [("_:bn1", "kg:partOf", "kg:whole"), ("kg:whole", "kg:hasPart", "_:bn1")]
    )
    subj_bn = next(s for (s, p, o) in got if p == "kg:partOf")
    obj_bn = next(o for (s, p, o) in got if p == "kg:hasPart")
    assert subj_bn == obj_bn and subj_bn.startswith("_:")


def test_ntriples_bnodes_scoped_per_file(spark, tmp_path):
    """ADVICE r4: `_:b0` in two different .nt files of one multi-file read
    must NOT merge; the two lines of ONE file sharing `_:b0` must."""
    d = tmp_path / "many_nt"
    d.mkdir()
    (d / "a.nt").write_text(
        '_:b0 <http://e/name> "from-a" .\n_:b0 <http://e/src> "a" .\n'
    )
    (d / "b.nt").write_text('_:b0 <http://e/name> "from-b" .\n')
    rows = read_ntriples(spark, str(d)).collect()
    by_o = {r["o"]: r["s"] for r in rows if r["p"] == "http://e/name"}
    assert by_o["from-a"] != by_o["from-b"], "cross-file _:b0 silently merged"
    src_s = next(r["s"] for r in rows if r["p"] == "http://e/src")
    assert src_s == by_o["from-a"], "within-file _:b0 must stay one node"


def test_write_ntriples_colocates_bnode_links(spark, tmp_path):
    """With per-file label scoping, a bnode link split across part-files
    would come back severed — the writer must co-locate the cluster
    (same guard as the document sinks)."""
    E = "http://e/"
    rows = []
    for i in range(12):
        rows.append((f"{E}a{i}", f"{E}knows", f"_:u{i}", None, None, 0))
        rows.append((f"_:u{i}", f"{E}code", f"m{i}", "xsd:string", None, 0))
        rows.append((f"{E}free{i}", f"{E}p", f"v{i}", "xsd:string", None, 0))
    df = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_datatype string, o_lang string, part_id int",
    ).repartition(8)
    out = str(tmp_path / "nt_co")
    write_ntriples(df, out)
    got = {(r["s"], r["p"], r["o"]) for r in read_ntriples(spark, out).collect()}
    for i in range(12):
        ref = next(o for (s, p, o) in got if s == f"{E}a{i}" and p == f"{E}knows")
        assert (ref, f"{E}code", f"m{i}") in got, (i, ref)


def test_turtle_no_space_before_terminator(spark, tmp_path):
    """Review r2: `ex:b.`, `5.`, `_:b1.` must lex as term + terminator —
    real-world serializers omit the space before the final dot."""
    f = tmp_path / "tight.ttl"
    f.write_text(
        "@prefix ex: <http://ex.org/> .\n"
        "ex:a ex:p ex:b.\n"
        "ex:a ex:n 5.\n"
        "ex:a ex:k _:b1.\n"
        'ex:a ex:s "x".\n'
    )
    from rdf_i2b2_converter_spark.sources.rdf import read_turtle, scan_turtle_errors

    rows = _norm_bnodes(
        (r["s"], r["p"], r["o"]) for r in read_turtle(spark, str(f), expand_prefixes=False).collect()
    )
    assert rows == {
        ("ex:a", "ex:p", "ex:b"),
        ("ex:a", "ex:n", "5"),
        ("ex:a", "ex:k", "_:B0"),
        ("ex:a", "ex:s", "x"),
    }
    assert scan_turtle_errors(spark, str(f)).count() == 0


def test_turtle_prefix_directive_case_insensitive(spark, tmp_path):
    """Review r2: 'prefix'/'PREFIX'/'@PREFIX' directives must land in the
    prefix map (the parser already skipped them case-insensitively)."""
    f = tmp_path / "pfx.ttl"
    f.write_text(
        "prefix ex: <http://ex.org/>\n"
        "@PREFIX oth: <http://oth.org/> .\n"
        "ex:a ex:p oth:b .\n"
    )
    from rdf_i2b2_converter_spark.sources.rdf import read_turtle

    rows = {(r["s"], r["p"], r["o"]) for r in read_turtle(spark, str(f)).collect()}
    assert rows == {("http://ex.org/a", "http://ex.org/p", "http://oth.org/b")}


# ------------------------------------------------- full (document) Turtle


TTL_FULL = """@prefix ex: <http://ex.org/> .
@prefix owl: <http://www.w3.org/2002/07/owl#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@base <http://base.org/dir/> .

# multiline statement with [] bnode and ( ) collection — the owl:unionOf
# shape real SPHN .ttl files use (src/rdfwrappers.py:294-322)
ex:hasCode a owl:ObjectProperty ;
    rdfs:range [
        a owl:Class ;
        owl:unionOf ( ex:Code ex:Terminology )
    ] ;
    rdfs:label \"\"\"a long
label\"\"\" .

<rel> ex:near <#frag> .
ex:opts ex:list ( 1 2.5 true ) .
[] ex:standalone \"anon subject\" .
"""


def test_read_turtle_document_full(spark, tmp_path):
    f = tmp_path / "full.ttl"
    f.write_text(TTL_FULL)
    from rdf_i2b2_converter_spark.sources.rdf import read_turtle, scan_turtle_errors

    df = read_turtle(spark, str(f), expand_prefixes=False)
    rows = {(r["s"], r["p"], r["o"]) for r in df.collect()}
    assert ("ex:hasCode", "rdf:type", "owl:ObjectProperty") in rows
    # [] bnode in the middle of a multiline statement
    bnode = next(o for (s, p, o) in rows if s == "ex:hasCode" and p == "rdfs:range")
    assert bnode.startswith("_:")
    assert (bnode, "rdf:type", "owl:Class") in rows
    # collection spine reachable from the bnode
    head = next(o for (s, p, o) in rows if s == bnode and p == "owl:unionOf")
    firsts = {o for (s, p, o) in rows if p == "rdf:first"}
    assert {"ex:Code", "ex:Terminology"} <= firsts
    assert head.startswith("_:")
    rests = {(s, o) for (s, p, o) in rows if p == "rdf:rest"}
    assert any(o == "rdf:nil" for _, o in rests)
    # long string with embedded newline
    assert ("ex:hasCode", "rdfs:label", "a long\nlabel") in rows
    # @base resolution of relative IRIs
    assert ("http://base.org/dir/rel", "ex:near", "http://base.org/dir/#frag") in rows
    # literal collection items carry datatypes on the rdf:first triples
    lit_firsts = {
        (r["o"], r["o_datatype"])
        for r in df.filter("p = 'rdf:first'").collect()
    }
    assert ("1", "xsd:integer") in lit_firsts
    assert ("2.5", "xsd:decimal") in lit_firsts
    assert ("true", "xsd:boolean") in lit_firsts
    # anonymous [] subject
    assert any(s.startswith("_:") and p == "ex:standalone" for (s, p, o) in rows)
    assert scan_turtle_errors(spark, str(f)).count() == 0


def test_read_turtle_document_expand_and_list_query(spark, tmp_path):
    """Document parse feeds the rdfq owl:unionOf expansion (C3) — the
    end-to-end the statement-per-line subset could never deliver."""
    f = tmp_path / "uni.ttl"
    f.write_text(
        "@prefix ex: <http://ex.org/> .\n"
        "ex:p1 rdfs:range [ owl:unionOf ( ex:A ex:B ex:C ) ] .\n"
        "ex:p2 rdfs:range ex:D .\n"
    )
    from rdf_i2b2_converter_spark.operators.rdfq import property_ranges
    from rdf_i2b2_converter_spark.sources.rdf import read_turtle

    t = read_turtle(spark, str(f), expand_prefixes=False).withColumn(
        "o_lang", F.lit(None).cast("string")
    )
    got = {(r["prop"], r["range_class"]) for r in property_ranges(t).collect()}
    assert got == {
        ("ex:p1", "ex:A"), ("ex:p1", "ex:B"), ("ex:p1", "ex:C"), ("ex:p2", "ex:D"),
    }


def test_read_turtle_document_error_resync(spark, tmp_path):
    """A bad statement loses only itself: rows before and after survive,
    the error surfaces with its line number."""
    f = tmp_path / "bad.ttl"
    f.write_text(
        "@prefix ex: <http://ex.org/> .\n"
        "ex:a ex:p ex:b .\n"
        "ex:broken ex:q ^^ .\n"
        "ex:c ex:r ex:d .\n"
    )
    from rdf_i2b2_converter_spark.sources.rdf import read_turtle, scan_turtle_errors

    rows = {(r["s"], r["p"], r["o"]) for r in read_turtle(spark, str(f), expand_prefixes=False).collect()}
    assert rows == {("ex:a", "ex:p", "ex:b"), ("ex:c", "ex:r", "ex:d")}
    errs = scan_turtle_errors(spark, str(f)).collect()
    assert len(errs) == 1 and errs[0]["value"].endswith(":3")


def test_read_turtle_default_namespace(spark, tmp_path):
    """ADVICE r2: '@prefix : <iri> .' default-namespace statements parse in
    both modes instead of being silently dropped."""
    f = tmp_path / "dns.ttl"
    f.write_text("@prefix : <http://d.org/> .\n:s :p :o .\n")
    from rdf_i2b2_converter_spark.sources.rdf import read_turtle

    for ml in (True, False):
        rows = {(r["s"], r["p"], r["o"]) for r in read_turtle(spark, str(f), multiline=ml).collect()}
        assert rows == {("http://d.org/s", "http://d.org/p", "http://d.org/o")}, ml


def test_read_turtle_line_mode_single_scan_parity(spark, tmp_path):
    """The deferred-expansion line reader returns the same triples as the
    document parser on statement-per-line input (both expand modes)."""
    f = tmp_path / "par.ttl"
    f.write_text(TTL)
    from rdf_i2b2_converter_spark.sources.rdf import read_turtle

    for expand in (True, False):
        doc = {tuple(r) for r in read_turtle(spark, str(f), expand_prefixes=expand).collect()}
        lin = {tuple(r) for r in read_turtle(spark, str(f), expand_prefixes=expand, multiline=False).collect()}
        assert doc == lin, expand


def test_read_turtle_line_mode_single_text_scan(spark, tmp_path):
    """VERDICT r2 #6: the line reader reads the corpus text ONCE. Compact
    mode: exactly one text FileScan in the lazy plan. Expand mode: the
    returned plan reads the checkpointed PARSED rows — zero text FileScans
    (the single scan happened materializing the checkpoint)."""
    f = tmp_path / "scan.ttl"
    f.write_text(TTL)
    from rdf_i2b2_converter_spark.sources.rdf import read_turtle

    compact = read_turtle(spark, str(f), expand_prefixes=False, multiline=False)
    plan_c = compact._jdf.queryExecution().executedPlan().toString()
    assert plan_c.count("Scan text") == 1, plan_c
    expanded = read_turtle(spark, str(f), expand_prefixes=True, multiline=False)
    plan_e = expanded._jdf.queryExecution().executedPlan().toString()
    assert plan_e.count("Scan text") == 0, plan_e
    assert "ExistingRDD" in plan_e or "LocalTableScan" in plan_e or "Scan" in plan_e


def test_unescape_failsoft_and_surrogates(spark, tmp_path):
    """Review r3: malformed \\u escapes and lone surrogates must not crash
    the ingest (fail-soft, kept verbatim); JSON-style surrogate PAIRS decode
    to the intended codepoint and survive Arrow conversion."""
    f = tmp_path / "esc.ttl"
    f.write_text(
        "@prefix ex: <http://ex.org/> .\n"
        'ex:a ex:bad "oops \\uZZZZ here" .\n'
        'ex:a ex:lone "lone \\uD800 surrogate" .\n'
        'ex:a ex:pair "emoji \\uD83D\\uDE00" .\n'
        'ex:a ex:astral "g-clef \\U0001D11E" .\n'
    )
    from rdf_i2b2_converter_spark.sources.rdf import read_turtle, scan_turtle_errors

    rows = {r["p"].rsplit("/", 1)[-1]: r["o"]
            for r in read_turtle(spark, str(f)).collect()}
    assert rows["bad"] == "oops \\uZZZZ here"
    assert rows["lone"] == "lone \\uD800 surrogate"
    assert rows["pair"] == "emoji \U0001F600"
    assert rows["astral"] == "g-clef \U0001D11E"
    assert scan_turtle_errors(spark, str(f)).count() == 0


def test_ntriples_control_char_roundtrip(spark, tmp_path):
    """Review r3: the writer escapes \\n/\\r/\\t; the reader must decode
    them back, including the mixed backslash-then-n case."""
    triples = spark.createDataFrame(
        [
            ("kg:e/1", "kg:multi", "line1\nline2\ttabbed", "xsd:string", None, 0),
            ("kg:e/2", "kg:mixed", "back\\slash then\\nliteral", "xsd:string", None, 0),
        ],
        "subj string, pred string, obj string, obj_datatype string, source_url string, part_id int",
    )
    from rdf_i2b2_converter_spark.sources.rdf import read_ntriples, write_ntriples

    out = str(tmp_path / "ctl_out")
    write_ntriples(triples, out)
    got = {r["s"]: r["o"] for r in read_ntriples(spark, out).collect()}
    assert got["kg:e/1"] == "line1\nline2\ttabbed"
    assert got["kg:e/2"] == "back\\slash then\\nliteral"


def test_turtle_writer_roundtrip(spark, tmp_path):
    """write_turtle -> read_turtle round-trips resources, bnodes, plain/
    lang/typed literals (incl. control chars), with prefix compaction and
    per-file @prefix headers."""
    from rdf_i2b2_converter_spark.sources.rdf import read_turtle, write_turtle

    EX = "http://ex.org/"
    rows = [
        (f"{EX}a", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", f"{EX}T", None, None),
        (f"{EX}a", f"{EX}knows", "_:b0", None, None),
        (f"{EX}a", f"{EX}name", 'Ada "the first"', "xsd:string", None),
        (f"{EX}a", f"{EX}label", "bonjour", "xsd:string", "fr"),
        (f"{EX}a", f"{EX}bio", "line1\nline2\ttab", "xsd:string", None),
        ("_:b0", f"{EX}age", "36", "http://www.w3.org/2001/XMLSchema#integer", None),
        (f"{EX}a", f"{EX}knows", f"{EX}b", None, None),
    ]
    df = spark.createDataFrame(rows, "s string, p string, o string, o_datatype string, o_lang string")
    out = str(tmp_path / "ttl_out")
    write_turtle(df, out, prefixes={"ex": EX, "xsd": "http://www.w3.org/2001/XMLSchema#"})
    back = _norm_bnodes(tuple(r) for r in read_turtle(spark, out).collect())
    want = _norm_bnodes({
        (f"{EX}a", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", f"{EX}T", None, None),
        (f"{EX}a", f"{EX}knows", "_:b0", None, None),
        (f"{EX}a", f"{EX}name", 'Ada "the first"', "xsd:string", None),
        (f"{EX}a", f"{EX}label", "bonjour", "xsd:string", "fr"),
        (f"{EX}a", f"{EX}bio", "line1\nline2\ttab", "xsd:string", None),
        ("_:b0", f"{EX}age", "36", "http://www.w3.org/2001/XMLSchema#integer", None),
        (f"{EX}a", f"{EX}knows", f"{EX}b", None, None),
    })
    assert back == want
    # compact shape on disk: 'a' keyword, ';' predicate groups, prefix header
    import glob

    text = "".join(open(f).read() for f in sorted(glob.glob(f"{out}/part-*")))
    assert "@prefix ex: <http://ex.org/> ." in text
    assert "ex:a a ex:T" in text or "a ex:T" in text
    assert " ;\n" in text and '"36"^^xsd:integer' in text


def test_turtle_writer_no_prefixes_pure_text(spark, tmp_path):
    """Without a prefix table the sink is pure df.write.text (no Python in
    the plan) and full <bracketed> IRIs round-trip."""
    from rdf_i2b2_converter_spark.sources.rdf import (
        read_turtle,
        triples_to_turtle,
        write_turtle,
    )

    df = spark.createDataFrame(
        [("http://e/s", "http://e/p", "http://e/o", None, None)],
        "s string, p string, o string, o_datatype string, o_lang string",
    )
    plan = triples_to_turtle(df)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    out = str(tmp_path / "ttl_plain")
    write_turtle(df, out)
    back = {tuple(r) for r in read_turtle(spark, out).collect()}
    assert back == {("http://e/s", "http://e/p", "http://e/o", None, None)}


def test_pname_local_escapes(spark, tmp_path):
    r"""PN_LOCAL_ESC: 'ex:foo\,bar' style escaped punctuation in prefixed
    names decodes to the bare character in the resolved IRI (both modes)."""
    f = tmp_path / "pnesc.ttl"
    f.write_text(
        "@prefix ex: <http://e/> .\n"
        r"ex:foo\,bar ex:p\(x\) ex:o\@q ." + "\n"
    )
    from rdf_i2b2_converter_spark.sources.rdf import read_turtle

    for ml in (True, False):
        rows = {(r["s"], r["p"], r["o"]) for r in read_turtle(spark, str(f), multiline=ml).collect()}
        assert rows == {("http://e/foo,bar", "http://e/p(x)", "http://e/o@q")}, ml


def test_turtle_compaction_gated_on_pn_local(spark, tmp_path):
    """Review r3: IRIs whose suffix is not valid PN_LOCAL must stay
    <bracketed> instead of becoming unreadable pnames — the export->read
    round-trip keeps every triple."""
    from rdf_i2b2_converter_spark.sources.rdf import read_turtle, write_turtle

    E = "http://e/"
    rows = [
        (f"{E}ok", f"{E}p", f"{E}page?id=1", None, None),   # '?' not PN_LOCAL
        (f"{E}ok", f"{E}p", f"{E}x,y", None, None),          # ',' not PN_LOCAL
        (f"{E}ok", f"{E}p", f"{E}v1.", None, None),          # trailing '.'
        (f"{E}ok", f"{E}p", f"{E}plain", None, None),        # compactable
    ]
    df = spark.createDataFrame(rows, "s string, p string, o string, o_datatype string, o_lang string")
    out = str(tmp_path / "gate_ttl")
    write_turtle(df, out, prefixes={"e": E})
    back = {(r["s"], r["p"], r["o"]) for r in read_turtle(spark, str(out)).collect()}
    assert back == {(s, p, o) for s, p, o, _, _ in rows}
    import glob

    text = "".join(open(f).read() for f in sorted(glob.glob(f"{out}/part-*")))
    assert "<http://e/page?id=1>" in text and "e:plain" in text


def test_ntriples_writer_lang_and_plain_sentinel(spark, tmp_path):
    """Review r3: '@lang' survives the N-Triples sink and the plain
    'xsd:string' sentinel renders without the invalid <xsd:string> suffix."""
    from rdf_i2b2_converter_spark.sources.rdf import read_ntriples, write_ntriples

    df = spark.createDataFrame(
        [
            ("kg:a", "kg:label", "bonjour", "xsd:string", "fr", 0),
            ("kg:a", "kg:name", "Ada", "xsd:string", None, 0),
        ],
        "subj string, pred string, obj string, obj_datatype string, obj_lang string, part_id int",
    )
    out = str(tmp_path / "lang_nt")
    write_ntriples(df, out)
    import glob

    text = "".join(open(f).read() for f in sorted(glob.glob(f"{out}/part-*")))
    assert '"bonjour"@fr' in text and '"Ada" .' in text and "<xsd:string>" not in text
    back = {(r["o"], r["o_datatype"], r["o_lang"]) for r in read_ntriples(spark, out).collect()}
    assert back == {("bonjour", "xsd:string", "fr"), ("Ada", "xsd:string", None)}


def test_unescape_rejects_pseudo_hex(spark):
    r"""Review r3: int('+FFF', 16) succeeds — the strict hex gate must keep
    '\u+FFF' and '\u 123' verbatim instead of decoding bogus codepoints."""
    from rdf_i2b2_converter_spark.sources.rdf import _unescape

    assert _unescape(r"a\u+FFFb") == r"a\u+FFFb"
    assert _unescape(r"a\u 123b") == r"a\u 123b"
    assert _unescape(r"aAb") == "aAb"


def test_read_rdf_turtle_lines_dispatch(spark, tmp_path):
    f = tmp_path / "d.ttl"
    f.write_text("@prefix ex: <http://e/> .\nex:a ex:p ex:b .\n")
    from rdf_i2b2_converter_spark.sources.rdf import read_rdf

    rows = {(r["s"], r["p"], r["o"])
            for r in read_rdf(spark, str(f), fmt="turtle-lines").collect()}
    assert rows == {("http://e/a", "http://e/p", "http://e/b")}


# ------------------------------------------------- chunked document mode


def test_cross_file_bnode_labels_do_not_merge(spark, tmp_path):
    """ADVICE r3: serializer-style _:b0 labels in DIFFERENT files are
    document-scoped and must stay distinct in a multi-file read (both
    document and line mode)."""
    d = tmp_path / "many"
    d.mkdir()
    (d / "f1.ttl").write_text("@prefix ex: <http://e/> .\n_:b0 ex:p ex:o1 .\n")
    (d / "f2.ttl").write_text("@prefix ex: <http://e/> .\n_:b0 ex:p ex:o2 .\n")
    from rdf_i2b2_converter_spark.sources.rdf import read_turtle

    for ml in (True, False):
        rows = read_turtle(spark, str(d), multiline=ml).collect()
        subs = {r["s"] for r in rows}
        assert len(subs) == 2, (ml, subs)
        assert all(s.startswith("_:g") and s.endswith("_b0") for s in subs)


CHUNK_TTL_HEAD = """@prefix ex: <http://ex.org/> .
@prefix owl: <http://www.w3.org/2002/07/owl#> .
@base <http://base.org/dir/> .
"""


def _chunk_fixture_text() -> str:
    parts = [CHUNK_TTL_HEAD]
    for i in range(120):
        if i % 4 == 0:
            parts.append(
                f"ex:p{i} a owl:ObjectProperty ;\n"
                f"    ex:range [ a owl:Class ; owl:unionOf ( ex:a{i} ex:b{i} ) ] ;\n"
                f'    ex:label """multi\nline {i}""" .\n'
            )
        elif i % 4 == 1:
            parts.append(f"<rel{i}> ex:near <#frag{i}> .\n")
        elif i % 4 == 2:
            parts.append(f'_:shared ex:holds ex:v{i} ; ex:note "n{i}"@en .\n')
        else:
            parts.append(f"ex:s{i} ex:list ( {i} {i}.5 true ) .\n")
        if i == 60:  # mid-file re-declaration: chunk state must track it
            parts.append("@prefix ex: <http://ex2.org/> .\n")
    return "".join(parts)


def test_chunked_document_parse_identical(spark, tmp_path):
    """VERDICT r3 #7: the chunked document reader must produce EXACTLY the
    single-task parse output (offset-stable bnode labels, per-chunk prefix/
    base state incl. a mid-file @prefix re-declaration) across N tasks."""
    f = tmp_path / "big.ttl"
    text = _chunk_fixture_text()
    f.write_text(text)
    from rdf_i2b2_converter_spark.sources.rdf import _chunk_turtle_text, read_turtle

    chunks = _chunk_turtle_text(text, 500)
    assert len(chunks) > 10  # genuinely split
    single = {tuple(r) for r in read_turtle(spark, str(f)).collect()}
    chunked = {tuple(r) for r in read_turtle(spark, str(f), chunk_bytes=500).collect()}
    assert chunked == single
    assert len(single) > 300
    # compact mode too
    single_c = {tuple(r) for r in read_turtle(spark, str(f), expand_prefixes=False).collect()}
    chunked_c = {
        tuple(r)
        for r in read_turtle(spark, str(f), expand_prefixes=False, chunk_bytes=500).collect()
    }
    assert chunked_c == single_c


def test_scan_turtle_errors_conflicting_prefix_redeclaration(spark, tmp_path):
    """ADVICE r3: line mode silently applies last-wins to re-declared
    prefixes — the conflict must surface in the error scan."""
    f = tmp_path / "dup.ttl"
    f.write_text(
        "@prefix ex: <http://one.org/> .\n"
        "ex:a ex:p ex:b .\n"
        "@prefix ex: <http://two.org/> .\n"
        "ex:c ex:p ex:d .\n"
    )
    from rdf_i2b2_converter_spark.sources.rdf import scan_turtle_errors

    errs = scan_turtle_errors(spark, str(f), multiline=False).collect()
    assert any("conflicting IRI" in r["error"] for r in errs)


def test_scan_turtle_errors_prefixes_are_scoped_per_file(spark, tmp_path):
    """Line mode scopes prefixes per file: the same label bound to
    different IRIs in two files is no conflict, and the reader expands
    each file with its own binding."""
    from rdf_i2b2_converter_spark.sources.rdf import read_turtle, scan_turtle_errors

    (tmp_path / "a.ttl").write_text("@prefix ex: <http://a.org/> .\nex:s ex:p ex:o .\n")
    (tmp_path / "b.ttl").write_text("@prefix ex: <http://b.org/> .\nex:s ex:p ex:o .\n")
    assert scan_turtle_errors(spark, str(tmp_path), multiline=False).collect() == []
    subjects = {r["s"] for r in read_turtle(spark, str(tmp_path), multiline=False).collect()}
    assert subjects == {"http://a.org/s", "http://b.org/s"}


# --------------------------------------------------------------- RDF/XML


RDFXML = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
         xmlns:owl="http://www.w3.org/2002/07/owl#"
         xmlns:ex="http://ex.org/"
         xml:base="http://base.org/">
  <owl:Class rdf:about="http://ex.org/Diagnosis">
    <rdfs:label xml:lang="en">Diagnosis</rdfs:label>
    <rdfs:subClassOf rdf:resource="http://ex.org/Concept"/>
  </owl:Class>
  <rdf:Description rdf:about="http://ex.org/obs1" ex:site="lab">
    <rdf:type rdf:resource="http://ex.org/Diagnosis"/>
    <ex:hasValue rdf:datatype="http://www.w3.org/2001/XMLSchema#double">7.5</ex:hasValue>
    <ex:hasUnit rdf:nodeID="u1"/>
    <ex:knows>
      <ex:Person rdf:about="http://ex.org/p1"/>
    </ex:knows>
    <ex:pair rdf:parseType="Resource">
      <ex:x>1</ex:x>
    </ex:pair>
  </rdf:Description>
  <owl:Class rdf:ID="Local">
    <owl:unionOf rdf:parseType="Collection">
      <rdf:Description rdf:about="http://ex.org/A"/>
      <rdf:Description rdf:about="http://ex.org/B"/>
    </owl:unionOf>
  </owl:Class>
  <rdf:Description rdf:nodeID="u1">
    <ex:code>mg</ex:code>
  </rdf:Description>
</rdf:RDF>
"""

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"


def test_read_rdfxml(spark, tmp_path):
    f = tmp_path / "g.rdf"
    f.write_text(RDFXML)
    from rdf_i2b2_converter_spark.sources.rdf import read_rdfxml, scan_rdfxml_errors

    df = read_rdfxml(spark, str(f))
    rows = {(r["s"], r["p"], r["o"], r["o_datatype"], r["o_lang"]) for r in df.collect()}
    EX, OWL = "http://ex.org/", "http://www.w3.org/2002/07/owl#"
    RDFS = "http://www.w3.org/2000/01/rdf-schema#"
    # typed node element -> rdf:type; lang literal; resource shortcut
    assert (f"{EX}Diagnosis", f"{RDF_NS}type", f"{OWL}Class", None, None) in rows
    assert (f"{EX}Diagnosis", f"{RDFS}label", "Diagnosis", "xsd:string", "en") in rows
    assert (f"{EX}Diagnosis", f"{RDFS}subClassOf", f"{EX}Concept", None, None) in rows
    # property attribute, rdf:type property, typed literal
    assert (f"{EX}obs1", f"{EX}site", "lab", "xsd:string", None) in rows
    assert (f"{EX}obs1", f"{RDF_NS}type", f"{EX}Diagnosis", None, None) in rows
    assert (f"{EX}obs1", f"{EX}hasValue", "7.5",
            "http://www.w3.org/2001/XMLSchema#double", None) in rows
    # nodeID remapped consistently across both occurrences
    unit = next(o for (s, p, o, dt, lg) in rows if p == f"{EX}hasUnit")
    assert unit.startswith("_:") and unit.endswith("_u1")
    assert (unit, f"{EX}code", "mg", "xsd:string", None) in rows
    # striped nested node element
    assert (f"{EX}obs1", f"{EX}knows", f"{EX}p1", None, None) in rows
    assert (f"{EX}p1", f"{RDF_NS}type", f"{EX}Person", None, None) in rows
    # parseType=Resource bnode carries the inner property
    pair = next(o for (s, p, o, dt, lg) in rows if p == f"{EX}pair")
    assert pair.startswith("_:")
    assert (pair, f"{EX}x", "1", "xsd:string", None) in rows
    # rdf:ID resolves against xml:base
    assert ("http://base.org/#Local", f"{RDF_NS}type", f"{OWL}Class", None, None) in rows
    # parseType=Collection -> first/rest/nil spine
    head = next(o for (s, p, o, dt, lg) in rows if p == f"{OWL}unionOf")
    firsts = {o for (s, p, o, dt, lg) in rows if p == f"{RDF_NS}first"}
    assert firsts == {f"{EX}A", f"{EX}B"} and head.startswith("_:")
    assert any(o == f"{RDF_NS}nil" for (s, p, o, dt, lg) in rows if p == f"{RDF_NS}rest")
    assert scan_rdfxml_errors(spark, str(f)).count() == 0


def test_rdfxml_matches_turtle_equivalent(spark, tmp_path):
    """VERDICT r3 #3 'done' criterion: an .rdf fixture parses to the same
    triples as its .ttl equivalent (modulo bnode labels)."""
    ttl = tmp_path / "eq.ttl"
    rdf = tmp_path / "eq.rdf"
    ttl.write_text(
        "@prefix ex: <http://ex.org/> .\n"
        "@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .\n"
        "ex:a a ex:T ;\n"
        '    rdfs:label "hello"@en ;\n'
        '    ex:num "42"^^<http://www.w3.org/2001/XMLSchema#integer> ;\n'
        "    ex:sees ex:b .\n"
    )
    rdf.write_text(
        '<?xml version="1.0"?>\n'
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"\n'
        '         xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"\n'
        '         xmlns:ex="http://ex.org/">\n'
        '  <ex:T rdf:about="http://ex.org/a">\n'
        '    <rdfs:label xml:lang="en">hello</rdfs:label>\n'
        '    <ex:num rdf:datatype="http://www.w3.org/2001/XMLSchema#integer">42</ex:num>\n'
        '    <ex:sees rdf:resource="http://ex.org/b"/>\n'
        "  </ex:T>\n"
        "</rdf:RDF>\n"
    )
    from rdf_i2b2_converter_spark.sources.rdf import read_rdf

    t = _norm_bnodes(tuple(r) for r in read_rdf(spark, str(ttl)).collect())
    x = _norm_bnodes(tuple(r) for r in read_rdf(spark, str(rdf)).collect())
    assert t == x


def test_rdfxml_error_failsoft(spark, tmp_path):
    """Malformed XML: triples before the error survive, the error surfaces
    in the scan (report, don't crash the ingest)."""
    f = tmp_path / "bad.rdf"
    f.write_text(
        '<?xml version="1.0"?>\n'
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"\n'
        '         xmlns:ex="http://ex.org/">\n'
        '  <rdf:Description rdf:about="http://ex.org/ok">\n'
        "    <ex:p>fine</ex:p>\n"
        "  </rdf:Description>\n"
        "  <rdf:Description rdf:about='http://ex.org/broken'>\n"
        "    <ex:q>unclosed\n"
        "</rdf:RDF>\n"
    )
    from rdf_i2b2_converter_spark.sources.rdf import read_rdfxml, scan_rdfxml_errors

    rows = {(r["s"], r["p"], r["o"]) for r in read_rdfxml(spark, str(f)).collect()}
    assert ("http://ex.org/ok", "http://ex.org/p", "fine") in rows
    assert scan_rdfxml_errors(spark, str(f)).count() >= 1


def test_read_rdf_autochunk_warns_on_giant_ttl(spark, tmp_path, monkeypatch):
    """ADVICE r3: document-mode .ttl above the size bound warns and
    auto-chunks instead of silently one-task-loading the file."""
    import warnings as w

    import rdf_i2b2_converter_spark.sources.rdf as rdfmod

    f = tmp_path / "big.ttl"
    f.write_text(
        "@prefix ex: <http://e/> .\n"
        + "".join(f"ex:s{i} ex:p ex:o{i} .\n" for i in range(200))
    )
    monkeypatch.setattr(rdfmod, "_TTL_DOC_WARN_BYTES", 100)
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        df = rdfmod.read_rdf(spark, str(f))
        assert any("Auto-chunking" in str(c.message) for c in caught)
    assert df.count() == 200
    # small file: no warning, plain document mode
    g = tmp_path / "small.ttl"
    g.write_text("@prefix ex: <http://e/> .\nex:a ex:p ex:b .\n")
    monkeypatch.setattr(rdfmod, "_TTL_DOC_WARN_BYTES", 10**6)
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        assert rdfmod.read_rdf(spark, str(g)).count() == 1
        assert not any("Auto-chunking" in str(c.message) for c in caught)


def test_document_size_warning_points_at_caller(spark, tmp_path, monkeypatch):
    """The wholetext-size warnings of both document readers are attributed
    to the line that called the reader, not to a line inside the library."""
    import warnings as w

    import rdf_i2b2_converter_spark.sources.rdf as rdfmod
    from rdf_i2b2_converter_spark.sources.jsonld import read_jsonld

    ttl = tmp_path / "big.ttl"
    ttl.write_text("@prefix ex: <http://e/> .\n" + "ex:s ex:p ex:o .\n" * 20)
    jsonld = tmp_path / "big.jsonld"
    jsonld.write_text('[{"@id": "http://e/a", "http://e/p": "' + "x" * 500 + '"}]')
    monkeypatch.setattr(rdfmod, "_TTL_DOC_WARN_BYTES", 100)
    for read, path, marker in (
        (rdfmod.read_rdf, ttl, "Auto-chunking"),
        (read_jsonld, jsonld, "read_jsonld_lines"),
    ):
        with w.catch_warnings(record=True) as caught:
            w.simplefilter("always")
            read(spark, str(path))
        hits = [c for c in caught if marker in str(c.message)]
        assert len(hits) == 1 and hits[0].filename == __file__, [
            (c.filename, c.lineno) for c in hits
        ]


def test_write_rdfxml_roundtrip(spark, tmp_path):
    """write_rdfxml -> read_rdfxml round-trips resources, typed/lang/plain
    literals and bnodes (labels via rdf:nodeID, remapped on re-read); each
    part-file is a self-contained rdf:RDF document."""
    from rdf_i2b2_converter_spark.sources.rdf import read_rdfxml, write_rdfxml

    EX = "http://e/"
    rows = [
        (f"{EX}a", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", f"{EX}T", None, None),
        (f"{EX}a", f"{EX}knows", f"{EX}b", None, None),
        (f"{EX}a", f"{EX}knows", "_:u1", None, None),
        (f"{EX}a", f"{EX}name", 'Ada <"&> escaped', "xsd:string", None),
        (f"{EX}a", f"{EX}label", "bonjour", "xsd:string", "fr"),
        (f"{EX}a", f"{EX}age", "36", "http://www.w3.org/2001/XMLSchema#integer", None),
        ("_:u1", f"{EX}code", "mg", "xsd:string", None),
        (f"{EX}b", "https://other.org/ont#rel", f"{EX}a", None, None),  # 2nd namespace
    ]
    df = spark.createDataFrame(rows, "s string, p string, o string, o_datatype string, o_lang string")
    out = str(tmp_path / "rdfxml_out")
    write_rdfxml(df, out)
    back = {tuple(r) for r in read_rdfxml(spark, out).collect()}
    assert _norm_bnodes(back) == _norm_bnodes(rows)
    # each part-file is standalone valid XML
    import glob
    import xml.parsers.expat as expat

    for f in glob.glob(f"{out}/part-*"):
        p = expat.ParserCreate()
        p.Parse(open(f, "rb").read(), True)  # raises on malformed


def test_write_rdfxml_rejects_non_ncname_predicate(spark, tmp_path):
    import pytest

    from rdf_i2b2_converter_spark.sources.rdf import write_rdfxml

    df = spark.createDataFrame(
        [("http://e/s", "http://e/p?x=1", "http://e/o", None, None)],
        "s string, p string, o string, o_datatype string, o_lang string",
    )
    with pytest.raises(ValueError, match="NCName"):
        write_rdfxml(df, str(tmp_path / "never"))


def test_rdfxml_empty_property_with_attributes_gets_bnode(spark, tmp_path):
    """Review r4: <ex:unit ex:code="mg"/> is a bnode object carrying the
    property attributes, not an empty-string literal."""
    f = tmp_path / "pa.rdf"
    f.write_text(
        '<?xml version="1.0"?>\n'
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"\n'
        '         xmlns:ex="http://e/">\n'
        '  <rdf:Description rdf:about="http://e/s">\n'
        '    <ex:unit ex:code="mg" ex:system="ucum"/>\n'
        "  </rdf:Description>\n"
        "</rdf:RDF>\n"
    )
    from rdf_i2b2_converter_spark.sources.rdf import read_rdfxml, scan_rdfxml_errors

    rows = {(r["s"], r["p"], r["o"]) for r in read_rdfxml(spark, str(f)).collect()}
    unit = next(o for (s, p, o) in rows if p == "http://e/unit")
    assert unit.startswith("_:")
    assert (unit, "http://e/code", "mg") in rows
    assert (unit, "http://e/system", "ucum") in rows
    assert not any(o == "" for (_s, _p, o) in rows)
    assert scan_rdfxml_errors(spark, str(f)).count() == 0


def test_write_rdfxml_substitutes_xml_illegal_chars(spark, tmp_path):
    """Review r4: a C0 control char in one literal must not invalidate the
    part-file — it substitutes U+FFFD and every other triple survives."""
    from rdf_i2b2_converter_spark.sources.rdf import read_rdfxml, write_rdfxml

    df = spark.createDataFrame(
        [
            ("http://e/s", "http://e/bad", "a\x01b", "xsd:string", None),
            ("http://e/s", "http://e/ok", "fine", "xsd:string", None),
        ],
        "s string, p string, o string, o_datatype string, o_lang string",
    ).coalesce(1)
    out = str(tmp_path / "ctl_xml")
    write_rdfxml(df, out)
    got = {(r["p"], r["o"]) for r in read_rdfxml(spark, out).collect()}
    assert ("http://e/ok", "fine") in got
    assert ("http://e/bad", "a�b") in got


def test_rdfxml_property_attrs_with_content_single_object(spark, tmp_path):
    """Review r4: property attrs on a NON-empty property element must not
    add a second (bnode) object; the conflict surfaces as an error."""
    f = tmp_path / "pa2.rdf"
    f.write_text(
        '<?xml version="1.0"?>\n'
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"\n'
        '         xmlns:ex="http://e/">\n'
        '  <rdf:Description rdf:about="http://e/s">\n'
        '    <ex:p ex:code="mg"><rdf:Description rdf:about="http://e/x"/></ex:p>\n'
        "  </rdf:Description>\n"
        "</rdf:RDF>\n"
    )
    from rdf_i2b2_converter_spark.sources.rdf import read_rdfxml, scan_rdfxml_errors

    rows = {(r["s"], r["p"], r["o"]) for r in read_rdfxml(spark, str(f)).collect()}
    objs = [o for (s, p, o) in rows if p == "http://e/p"]
    assert objs == ["http://e/x"]  # exactly one object, the child node
    assert scan_rdfxml_errors(spark, str(f)).count() == 1  # conflict surfaced


def test_rdfxml_resource_shortcut_with_attrs_still_described(spark, tmp_path):
    """rdf:resource + property attrs keeps the attrs-describe-object path."""
    f = tmp_path / "pa3.rdf"
    f.write_text(
        '<?xml version="1.0"?>\n'
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"\n'
        '         xmlns:ex="http://e/">\n'
        '  <rdf:Description rdf:about="http://e/s">\n'
        '    <ex:p rdf:resource="http://e/o" ex:code="mg"/>\n'
        "  </rdf:Description>\n"
        "</rdf:RDF>\n"
    )
    from rdf_i2b2_converter_spark.sources.rdf import read_rdfxml

    rows = {(r["s"], r["p"], r["o"]) for r in read_rdfxml(spark, str(f)).collect()}
    assert ("http://e/s", "http://e/p", "http://e/o") in rows
    assert ("http://e/o", "http://e/code", "mg") in rows


def test_write_rdfxml_illegal_chars_in_subject_and_lang(spark, tmp_path):
    """Review r4: C0 controls in subject/datatype/lang slots get the same
    U+FFFD substitution as literal text — part-files stay valid XML."""
    from rdf_i2b2_converter_spark.sources.rdf import read_rdfxml, write_rdfxml

    df = spark.createDataFrame(
        [
            ("http://e/s\x01x", "http://e/p", "v", "xsd:string", "f\x02r"),
            ("http://e/ok", "http://e/p", "w", "http://e/dt\x03", None),
        ],
        "s string, p string, o string, o_datatype string, o_lang string",
    ).coalesce(1)
    out = str(tmp_path / "ctl2_xml")
    write_rdfxml(df, out)
    back = {tuple(r) for r in read_rdfxml(spark, out).collect()}
    assert ("http://e/s�x", "http://e/p", "v", "xsd:string", "f�r") in back
    assert ("http://e/ok", "http://e/p", "w", "http://e/dt�", None) in back


def test_read_rdf_gzipped_extension_dispatch(spark, tmp_path):
    """corpus.nt.gz / g.ttl.gz dispatch on the REAL extension; Spark's
    text reader decompresses transparently."""
    import gzip

    nt = tmp_path / "c.nt.gz"
    with gzip.open(nt, "wt") as fh:
        fh.write("<http://e/s> <http://e/p> <http://e/o> .\n")
    ttl = tmp_path / "g.ttl.gz"
    with gzip.open(ttl, "wt") as fh:
        fh.write("@prefix ex: <http://e/> .\nex:a ex:p ex:b .\n")
    from rdf_i2b2_converter_spark.sources.rdf import read_rdf

    assert {tuple(r)[:3] for r in read_rdf(spark, str(nt)).collect()} == {
        ("http://e/s", "http://e/p", "http://e/o")
    }
    assert {tuple(r)[:3] for r in read_rdf(spark, str(ttl)).collect()} == {
        ("http://e/a", "http://e/p", "http://e/b")
    }


def test_unsplittable_codec_respreads_parallelism(spark, tmp_path):
    """Review r4: a single .nt.gz decompresses in one task — read_rdf
    warns and repartitions the parsed rows for downstream parallelism."""
    import gzip
    import warnings as w

    from rdf_i2b2_converter_spark.sources.rdf import read_rdf

    f = tmp_path / "big.nt.gz"
    with gzip.open(f, "wt") as fh:
        for i in range(500):
            fh.write(f"<http://e/s{i}> <http://e/p> <http://e/o{i}> .\n")
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        df = read_rdf(spark, str(f))
        assert any("unsplittable" in str(c.message) for c in caught)
    assert df.rdd.getNumPartitions() > 1
    assert df.count() == 500


def test_autochunk_estimates_decompressed_size(spark, tmp_path, monkeypatch):
    """Review r4: the chunk guard must trigger on the estimated
    DECOMPRESSED size of a compressed document-mode file."""
    import gzip

    import rdf_i2b2_converter_spark.sources.rdf as rdfmod

    f = tmp_path / "c.ttl.gz"
    with gzip.open(f, "wt") as fh:
        fh.write("@prefix ex: <http://e/> .\n")
        for i in range(300):
            fh.write(f"ex:s{i} ex:p ex:o{i} .\n")
    on_disk = f.stat().st_size
    # threshold between on-disk and 8x-estimated size: only the
    # decompressed estimate crosses it
    monkeypatch.setattr(rdfmod, "_TTL_DOC_WARN_BYTES", on_disk * 4)
    assert rdfmod.turtle_doc_chunk_bytes(spark, str(f)) is not None
    plain = tmp_path / "c.ttl"
    with gzip.open(f, "rt") as src:
        plain.write_text(src.read())
    # uncompressed file of the same text stays under the 4x-on-disk bound
    monkeypatch.setattr(rdfmod, "_TTL_DOC_WARN_BYTES", plain.stat().st_size * 2)
    assert rdfmod.turtle_doc_chunk_bytes(spark, str(plain)) is None


def test_max_input_file_bytes_glob(spark, tmp_path):
    """Review r4: glob paths must expand (globStatus) instead of failing
    into the silent 0 fallback."""
    from rdf_i2b2_converter_spark.sources.rdf import _max_input_file_bytes

    (tmp_path / "a.ttl").write_text("x" * 1000)
    (tmp_path / "b.ttl").write_text("y" * 5000)
    got = _max_input_file_bytes(spark, str(tmp_path / "*.ttl"))
    assert got == 5000


def test_document_sinks_colocate_bnode_links_across_partfiles(spark, tmp_path):
    """Review r4 (reproduced): a bnode link whose endpoints land in
    different part-files comes back severed, because labels are
    file-scoped on re-read. All three document sinks must co-locate
    bnode-connected subjects into one part-file."""
    from rdf_i2b2_converter_spark.sources.jsonld import read_jsonld_lines, write_jsonld
    from rdf_i2b2_converter_spark.sources.rdf import (
        read_rdfxml,
        read_turtle,
        write_rdfxml,
        write_turtle,
    )

    E = "http://e/"
    rows = []
    for i in range(12):  # 12 bnode-linked pairs + 24 free subjects
        rows.append((f"{E}a{i}", f"{E}knows", f"_:u{i}", None, None))
        rows.append((f"_:u{i}", f"{E}code", f"m{i}", "xsd:string", None))
        rows.append((f"{E}free{2*i}", f"{E}p", f"v{i}", "xsd:string", None))
        rows.append((f"{E}free{2*i+1}", f"{E}p", f"w{i}", "xsd:string", None))
    df = spark.createDataFrame(
        rows, "s string, p string, o string, o_datatype string, o_lang string"
    ).repartition(8)

    def assert_links_intact(back):
        got = {(r["s"], r["p"], r["o"]) for r in back}
        for i in range(12):
            ref = next(o for (s, p, o) in got if s == f"{E}a{i}" and p == f"{E}knows")
            assert (ref, f"{E}code", f"m{i}") in got, (i, ref)

    out = str(tmp_path / "nd")
    write_jsonld(df, out)
    assert_links_intact(read_jsonld_lines(spark, out).collect())

    out = str(tmp_path / "xml")
    write_rdfxml(df, out)
    assert_links_intact(read_rdfxml(spark, out).collect())

    out = str(tmp_path / "ttl")
    write_turtle(df, out)
    assert_links_intact(read_turtle(spark, out).collect())


def test_respread_skipped_for_many_file_compressed_corpus(spark, tmp_path):
    """Review r4 follow-up: a many-file .nt.gz corpus already scans in
    parallel — no warning, no pointless full shuffle."""
    import gzip
    import warnings as w

    from rdf_i2b2_converter_spark.sources.rdf import read_rdf

    d = tmp_path / "many_gz"
    d.mkdir()
    n = spark.sparkContext.defaultParallelism
    for i in range(n):
        with gzip.open(d / f"p{i}.nt.gz", "wt") as fh:
            fh.write(f"<http://e/s{i}> <http://e/p> <http://e/o> .\n")
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        df = read_rdf(spark, str(d) + "/*.nt.gz")
        assert not any("unsplittable" in str(c.message) for c in caught)
    assert df.count() == n


def test_rdfxml_rdf_type_property_attribute(spark, tmp_path):
    """ADVICE r4 (medium): an rdf:type PROPERTY ATTRIBUTE strips to a
    colon-free 'type' and was swallowed by the un-namespaced-attr skip —
    no triple, no recorded error. All three attr sites must emit it as a
    base-resolved resource triple: node elements, empty property elements
    (implicit bnode), and the rdf:resource shortcut."""
    f = tmp_path / "typeattr.rdf"
    f.write_text(
        '<?xml version="1.0"?>\n'
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"\n'
        '         xmlns:ex="http://ex.org/">\n'
        '  <rdf:Description rdf:about="http://ex.org/n1"'
        ' rdf:type="http://ex.org/Nation"/>\n'
        '  <rdf:Description rdf:about="http://ex.org/n2">\n'
        '    <ex:capital rdf:type="http://ex.org/City" ex:name="Bern"/>\n'
        '    <ex:ally rdf:resource="http://ex.org/n3"'
        ' rdf:type="http://ex.org/Nation"/>\n'
        "  </rdf:Description>\n"
        "</rdf:RDF>\n"
    )
    from rdf_i2b2_converter_spark.sources.rdf import read_rdfxml, scan_rdfxml_errors

    RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    rows = {(r["s"], r["p"], r["o"]) for r in read_rdfxml(spark, str(f)).collect()}
    assert ("http://ex.org/n1", f"{RDF_NS}type", "http://ex.org/Nation") in rows
    # empty property element: implicit bnode typed + named
    cap = next(o for (s, p, o) in rows if p == "http://ex.org/capital")
    assert cap.startswith("_:")
    assert (cap, f"{RDF_NS}type", "http://ex.org/City") in rows
    assert (cap, "http://ex.org/name", "Bern") in rows
    # rdf:resource shortcut: attrs (incl. rdf:type) describe the object
    assert ("http://ex.org/n3", f"{RDF_NS}type", "http://ex.org/Nation") in rows
    assert scan_rdfxml_errors(spark, str(f)).count() == 0


def test_document_sinks_unpersist_after_write(spark, tmp_path):
    """ADVICE r4: each sink invocation persisted an intermediate and never
    released it — exporting one corpus to three formats leaked three cached
    copies for the session. After the writes, no net-new persistent RDDs."""
    from rdf_i2b2_converter_spark.sources.jsonld import write_jsonld
    from rdf_i2b2_converter_spark.sources.rdf import write_rdfxml, write_turtle

    df = spark.createDataFrame(
        [
            ("http://e/a", "http://e/p", "x", "xsd:string", None),
            ("http://e/a", "http://e/q", "http://e/b", None, None),
        ],
        "s string, p string, o string, o_datatype string, o_lang string",
    )
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    write_turtle(df, str(tmp_path / "t"), prefixes={"e": "http://e/"})
    write_rdfxml(df, str(tmp_path / "x"))
    write_jsonld(df, str(tmp_path / "j"))
    # <= not ==: the ContextCleaner may concurrently GC unrelated RDDs
    # left by earlier tests; the leak under test would make this GROW by 3
    assert jsc.getPersistentRDDs().size() <= before


def test_cross_format_sink_reader_equivalence(spark, tmp_path):
    """One graph through all four sinks (N-Triples, Turtle, RDF/XML,
    NDJSON-LD) and back through their readers yields the SAME triple set
    (bnode labels normalized) — the four front doors agree on semantics,
    not just each on its own round-trip."""
    from rdf_i2b2_converter_spark.sources.jsonld import read_jsonld_lines, write_jsonld
    from rdf_i2b2_converter_spark.sources.rdf import (
        read_ntriples,
        read_rdfxml,
        read_turtle,
        write_ntriples,
        write_rdfxml,
        write_turtle,
    )

    E = "http://e/"
    X = "http://www.w3.org/2001/XMLSchema#"
    rows = [
        (f"{E}a", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", f"{E}T", None, None),
        (f"{E}a", f"{E}knows", f"{E}b", None, None),
        (f"{E}a", f"{E}knows", "_:u1", None, None),
        (f"{E}a", f"{E}name", 'esc \\ " tab\there', "xsd:string", None),
        (f"{E}a", f"{E}label", "bonjour", "xsd:string", "fr"),
        (f"{E}a", f"{E}age", "36", f"{X}integer", None),
        ("_:u1", f"{E}code", "mg", "xsd:string", None),
        (f"{E}b", f"{E}score", "1.5", f"{X}double", None),
    ]
    df = spark.createDataFrame(
        rows, "s string, p string, o string, o_datatype string, o_lang string"
    )
    outs = {}
    write_ntriples(df, str(tmp_path / "nt"))
    outs["nt"] = read_ntriples(spark, str(tmp_path / "nt"))
    write_turtle(df, str(tmp_path / "ttl"))
    outs["ttl"] = read_turtle(spark, str(tmp_path / "ttl"))
    write_rdfxml(df, str(tmp_path / "xml"))
    outs["xml"] = read_rdfxml(spark, str(tmp_path / "xml"))
    write_jsonld(df, str(tmp_path / "jl"))
    outs["jl"] = read_jsonld_lines(spark, str(tmp_path / "jl"))

    def canon(frame):
        # RDF/XML cannot represent the tab byte-exactly? it CAN (tab is
        # legal XML); \r\n would normalize, which this fixture avoids.
        got = {tuple(r) for r in frame.collect()}
        return _norm_bnodes(got)

    expected = _norm_bnodes(set(rows))
    for fmt, frame in outs.items():
        assert canon(frame) == expected, fmt


def test_ntriples_trailing_comment_and_uchar(spark, tmp_path):
    """Review r5: (a) spec-legal trailing comments after the '.' must not
    drop the statement; (b) \\uXXXX/\\UXXXXXXXX escapes decode (classic
    ASCII-clean dumps), including in IRIs; (c) an ESCAPED backslash before
    'u' is NOT double-decoded."""
    f = tmp_path / "u.nt"
    f.write_text(
        '<http://e/s> <http://e/p> "caf\\u00E9" . # provenance note\n'
        '<http://e/s\\u00E9> <http://e/p> <http://e/o> .\n'
        '<http://e/s> <http://e/big> "\\U0001F600" .\n'
        '<http://e/s> <http://e/r> "mixed \\\\u0041 and \\u0041" .\n'
    )
    rows = {tuple(r) for r in read_ntriples(spark, str(f)).collect()}
    assert ("http://e/s", "http://e/p", "café", "xsd:string", None) in rows
    assert ("http://e/sé", "http://e/p", "http://e/o", None, None) in rows
    assert ("http://e/s", "http://e/big", "\U0001F600", "xsd:string", None) in rows
    assert ("http://e/s", "http://e/r", "mixed \\u0041 and A", "xsd:string", None) in rows
    assert scan_errors(spark, str(f)).count() == 0
    # Turtle/N-Triples parity on the escaped literal (the divergence that
    # silently missed joins between .nt- and .ttl-sourced triples)
    g = tmp_path / "u.ttl"
    g.write_text('<http://e/s> <http://e/p> "caf\\u00E9" .\n')
    from rdf_i2b2_converter_spark.sources.rdf import read_turtle

    t = {(r["s"], r["p"], r["o"]) for r in read_turtle(spark, str(g)).collect()}
    assert ("http://e/s", "http://e/p", "café") in t


def test_read_rdf_rejects_unknown_fmt(spark, tmp_path):
    import pytest

    from rdf_i2b2_converter_spark.sources.rdf import read_rdf

    f = tmp_path / "g.nt"
    f.write_text("<http://e/a> <http://e/p> <http://e/o> .\n")
    with pytest.raises(ValueError, match="unknown fmt"):
        read_rdf(spark, str(f), fmt="nt")  # rdflib's name, not ours


def test_turtle_writer_brackets_leading_dash_local(spark, tmp_path):
    """Review r5: PN_LOCAL cannot start with '-'; such IRIs must stay
    <bracketed> rather than compact to an unparseable 'ex:-x'."""
    from rdf_i2b2_converter_spark.sources.rdf import read_turtle, write_turtle

    df = spark.createDataFrame(
        [("http://ex#-x", "http://ex#p", "http://ex#ok", None, None)],
        "s string, p string, o string, o_datatype string, o_lang string",
    )
    out = str(tmp_path / "dash")
    write_turtle(df, out, prefixes={"ex": "http://ex#"})
    import glob

    text = "".join(open(p).read() for p in glob.glob(f"{out}/part-*"))
    assert "ex:-x" not in text and "<http://ex#-x>" in text
    assert "ex:ok" in text  # normal locals still compact
    back = {(r["s"], r["p"], r["o"]) for r in read_turtle(spark, out).collect()}
    assert back == {("http://ex#-x", "http://ex#p", "http://ex#ok")}


def test_turtle_lines_prefix_with_comment_and_per_file_scope(spark, tmp_path):
    """Review r5: (a) a commented @prefix directive still lands in the
    line-mode expansion table; (b) files with CONFLICTING prefix tables
    expand each against their own declarations, not an arbitrary winner."""
    from rdf_i2b2_converter_spark.sources.rdf import read_turtle

    d = tmp_path / "pf"
    d.mkdir()
    (d / "a.ttl").write_text(
        "@prefix ex: <http://a#> . # namespace of corpus A\n"
        "ex:s ex:p ex:o .\n"
    )
    (d / "b.ttl").write_text(
        "@prefix ex: <http://b#> .\n"
        "ex:s ex:p ex:o .\n"
    )
    rows = {
        (r["s"], r["p"], r["o"])
        for r in read_turtle(spark, str(d), multiline=False).collect()
    }
    assert ("http://a#s", "http://a#p", "http://a#o") in rows
    assert ("http://b#s", "http://b#p", "http://b#o") in rows
    assert len(rows) == 2


def test_document_sinks_keep_emission_schema_lang(spark, tmp_path):
    """Review r5: obj_lang (the emission-schema spelling) must survive the
    document sinks' schema normalization, not silently drop."""
    from rdf_i2b2_converter_spark.sources.jsonld import read_jsonld_lines, write_jsonld
    from rdf_i2b2_converter_spark.sources.rdf import read_turtle, write_turtle

    df = spark.createDataFrame(
        [("kg:a", "kg:label", "bonjour", "xsd:string", "fr", 0)],
        "subj string, pred string, obj string, obj_datatype string, obj_lang string, part_id int",
    )
    write_turtle(df, str(tmp_path / "t"))
    t = read_turtle(spark, str(tmp_path / "t")).collect()
    assert [(r["o"], r["o_lang"]) for r in t] == [("bonjour", "fr")]
    write_jsonld(df, str(tmp_path / "j"))
    j = read_jsonld_lines(spark, str(tmp_path / "j")).collect()
    assert [(r["o"], r["o_lang"]) for r in j] == [("bonjour", "fr")]


def test_read_ntriples_direct_respreads_compressed_single_file(spark, tmp_path):
    """Review r5: the DIRECT front door carries the same unsplittable-codec
    respread guard as read_rdf (the two used to drift)."""
    import gzip
    import warnings as w

    big = "".join(f"<http://e/s{i}> <http://e/p> <http://e/o> .\n" for i in range(500))
    f = tmp_path / "one.nt.gz"
    with gzip.open(f, "wt") as fh:
        fh.write(big)
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        df = read_ntriples(spark, str(f))
        assert any("unsplittable" in str(c.message) for c in caught)
    assert df.count() == 500
