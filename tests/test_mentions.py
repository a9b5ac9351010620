"""Mention detection vs the pure-Python oracle — operator-vs-oracle
cross-check in the reference's style (tests/test_rdfwrappers.py:31-57)."""

from pyspark.sql import functions as F

from rdf_i2b2_converter_spark.operators.mentions import (
    TokenAhoCorasick,
    detect_mentions,
    link_mentions,
)
from rdf_i2b2_converter_spark.sources import synthetic as syn


def test_ac_unit():
    ac = TokenAhoCorasick(["a b", "b", "a b c", "x"])
    toks = "a b c x b".split()
    got = sorted(ac.find(toks))
    assert ("a b", 0, 2) in got
    assert ("a b c", 0, 3) in got
    assert ("b", 1, 2) in got
    assert ("b", 4, 5) in got
    assert ("x", 3, 4) in got
    assert len(got) == 5


def test_ac_failure_links_across_patterns():
    # after failing 'aa b', must still find 'a b' via failure transition
    ac = TokenAhoCorasick(["aa b", "a b"])
    assert sorted(ac.find("aa a b".split())) == [("a b", 1, 3)]


def test_detection_equals_oracle(spark, corpus):
    m = detect_mentions(corpus["pages"], corpus["gazetteer"])
    got = {(r["url"], r["surface"]): r["n_occurrences"] for r in m.collect()}
    exp = {
        (url, s): c
        for url, d in syn.oracle_mentions(corpus["n"]).items()
        for s, c in d.items()
    }
    assert got == exp  # P = R = 1.0, counts exact


def test_linking_prefers_weight_then_canonical_id(spark, corpus):
    """'ambig{k}' maps to two entities (0.9 vs 0.6) — the 0.9 one must win;
    deterministic across runs (SURVEY.md §7.4 #3)."""
    pages = corpus["pages"]
    m = detect_mentions(pages, corpus["gazetteer"])
    linked = link_mentions(m, corpus["gazetteer"], pages.select("url", "lang"))
    amb = linked.filter(F.col("surface").startswith("ambig")).collect()
    assert amb, "corpus should contain ambiguous mentions"
    for r in amb:
        k = int(r["surface"][len("ambig"):])
        assert r["canonical_id"] == f"ent{k}"  # the 0.9-weight candidate


def test_linking_unique_per_url_surface(spark, corpus):
    pages = corpus["pages"]
    m = detect_mentions(pages, corpus["gazetteer"])
    linked = link_mentions(m, corpus["gazetteer"], pages.select("url", "lang"))
    assert linked.groupBy("url", "surface").count().filter(F.col("count") > 1).count() == 0



def test_link_orders_on_unrounded_score(spark):
    """Review r5: rounding before the argmax let a 5e-5 weight gap tie and
    fall through to the canonical_id tie-break, picking the LOWER-weight
    candidate."""
    from rdf_i2b2_converter_spark import schemas
    from rdf_i2b2_converter_spark.operators.mentions import link_mentions

    gaz = spark.createDataFrame(
        [("x", "kg:T", "ent_a", 0.85209), ("x", "kg:T", "ent_b", 0.85213)],
        schema=schemas.GAZETTEER,
    )
    mentions = spark.createDataFrame(
        [("u1", "x", 0, 1, 1)],
        "url string, surface string, begin_pos int, end_pos int, n_occurrences int",
    )
    got = link_mentions(mentions, gaz).collect()
    assert len(got) == 1 and got[0]["canonical_id"] == "ent_b"


def test_link_full_payload_tiebreak_deterministic(spark):
    """Review r5: two candidates identical in (score, canonical_id) but
    differing in type_uri must resolve deterministically (smallest
    payload wins lexicographically), at any partitioning."""
    from rdf_i2b2_converter_spark import schemas
    from rdf_i2b2_converter_spark.operators.mentions import link_mentions

    gaz = spark.createDataFrame(
        [("x", "kg:B", "ent", 0.9), ("x", "kg:A", "ent", 0.9)],
        schema=schemas.GAZETTEER,
    )
    mentions = spark.createDataFrame(
        [("u1", "x", 0, 1, 1)],
        "url string, surface string, begin_pos int, end_pos int, n_occurrences int",
    )
    for parts in (1, 7):
        got = link_mentions(mentions.repartition(parts), gaz).collect()
        assert [r["type_uri"] for r in got] == ["kg:A"], parts


def _mixed_pages(spark, n):
    """gen_doc pages cycling through five html/text shapes: html only,
    text only, both, neither, and an empty text beside its html."""
    from rdf_i2b2_converter_spark import schemas

    rows = []
    for i in range(n):
        d = syn.gen_doc(i)
        html, text = {
            0: (d["html"], None),
            1: (None, d["text"]),
            2: (d["html"], d["text"]),
            3: (None, None),
            4: (d["html"], ""),
        }[i % 5]
        rows.append((d["url"], d["warc_ts"], html, text, d["lang"]))
    return spark.createDataFrame(rows, schemas.PAGES).repartition(3)


def test_fused_extraction_equals_two_branch_composition(spark):
    """html_col extracts text inside the matcher for NULL-text rows only:
    the rows equal extract_text on the html-only branch unioned with the
    text-carrying one, and the gen_doc oracle. An empty text is not
    re-extracted (the branch split keys on isNull)."""
    from rdf_i2b2_converter_spark.functions.text import extract_text

    n = 60
    pages = _mixed_pages(spark, n)
    gaz = syn.gen_gazetteer(spark)
    fused = detect_mentions(pages, gaz, html_col="html")
    two_branch = detect_mentions(
        pages.filter(F.col("text").isNotNull()).unionByName(
            pages.filter(F.col("text").isNull()).withColumn("text", extract_text(F.col("html")))
        ),
        gaz,
    )
    got = sorted(map(tuple, fused.collect()))
    assert got == sorted(map(tuple, two_branch.collect()))
    oracle = syn.oracle_mentions(n)
    exp = {
        (url, s): c
        for i, (url, d) in enumerate(oracle.items())
        if i % 5 in (0, 1, 2)
        for s, c in d.items()
    }
    assert {(r[0], r[1]): r[4] for r in got} == exp
    assert exp, "the mixed corpus should contain mentions"


def test_build_triples_runs_one_python_node(spark, tmp_path):
    """Over a parquet pages source the triples plan holds exactly one
    Python node: the matcher, extracting text itself. No extract_text
    eval (ArrowEvalPython) is chained into it."""
    from rdf_i2b2_converter_spark.plans.pipeline import build_triples

    path = str(tmp_path / "pages")
    _mixed_pages(spark, 20).write.parquet(path)
    triples = build_triples(spark.read.parquet(path), syn.gen_gazetteer(spark))
    plan = triples._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan
    assert plan.count("MapInPandas") == 1
