"""Deterministic synthetic corpus: pages + ontology + gazetteer + aliases.

Analog of the reference's test fixture strategy (tests/initsts.py loads a
real SPHN graph; we cannot ship one), per FIXTURES.md: every value is a pure
function of (seed-free) integer id via an LCG, so the corpus is identical
across runs, machines and parallelism levels — the property the reference's
basecode contract depends on (src/utils.py:112-127).

Pages are generated *distributed* (mapInPandas over spark.range), never on
the driver: the same generator that makes 1k rows for pytest would make
10^9 rows on a cluster without code changes. The pure-Python oracle
(`gen_doc`) is the same function the executors run, so expected
mentions/triples are computable exactly in tests.
"""

from __future__ import annotations

import datetime
from collections.abc import Iterator

import pandas as pd

from .. import schemas
from ..functions.text import extract_text_py

LANGS = ("en", "de", "fr", "es", "zh")

FILLER = (
    "the quick brown fox jumps over lazy dog and then runs far away into "
    "green forest while birds sing small songs about bright summer days "
    "under blue skies near old river stones"
).split()

EPOCH = datetime.datetime(2024, 1, 1, 0, 0, 0)

# LCG (numerical-recipes constants) — the corpus's only randomness source.
_LCG_A = 1664525
_LCG_C = 1013904223
_LCG_M = 2**32


def _lcg(x: int) -> int:
    return (_LCG_A * x + _LCG_C) % _LCG_M


# ------------------------------------------------------------- gazetteer

#: Leaf classes the gazetteer types entities with (generated by gen_ontology).
ENTITY_CLASSES = (
    "kg:Company",
    "kg:NGO",
    "kg:City",
    "kg:Country",
    "kg:Product",
    "snomed:Disease",
)


def gen_gazetteer_rows(n_entities: int = 50) -> list[tuple]:
    """(surface, type_uri, canonical_id, weight) rows.

    - every entity e: unique marker surface 'zorg{e}' (never in FILLER);
    - even e: extra multi-token surface 'zorg{e} systems' (tests
      longest/overlapping matches in the Aho-Corasick matcher);
    - 'ambig{k}' (k<10) maps to TWO entities (k and k+10) with different
      weights — exercises entity-link scoring / disambiguation.
    """
    rows = []
    for e in range(n_entities):
        t = ENTITY_CLASSES[e % len(ENTITY_CLASSES)]
        rows.append((f"zorg{e}", t, f"ent{e}", 1.0))
        if e % 2 == 0:
            rows.append((f"zorg{e} systems", t, f"ent{e}", 0.8))
    for k in range(10):
        if k < n_entities:
            rows.append((f"ambig{k}", ENTITY_CLASSES[k % len(ENTITY_CLASSES)], f"ent{k}", 0.9))
        if k + 10 < n_entities:
            rows.append(
                (f"ambig{k}", ENTITY_CLASSES[(k + 10) % len(ENTITY_CLASSES)], f"ent{k+10}", 0.6)
            )
    return rows


def gen_gazetteer(spark, n_entities: int = 50):
    return spark.createDataFrame(gen_gazetteer_rows(n_entities), schema=schemas.GAZETTEER)


# -------------------------------------------------------------- ontology

def gen_ontology_rows() -> list[tuple]:
    """Class tree mirroring the fixture properties FIXTURES.md §2 asks for:
    terminology subtrees (muting tests), a blacklisted class, datatype
    property leaves. (class_uri, parent_uri, kind, label, datatype,
    terminology, blacklisted)."""
    C, P = "class", "property"
    rows = [
        ("kg:Thing", None, C, "Thing", None, None, False),
        ("kg:Organization", "kg:Thing", C, "Organization", None, None, False),
        ("kg:Company", "kg:Organization", C, "Company", None, None, False),
        ("kg:NGO", "kg:Organization", C, "NGO", None, None, False),
        ("kg:Place", "kg:Thing", C, "Place", None, None, False),
        ("kg:City", "kg:Place", C, "City", None, None, False),
        ("kg:Country", "kg:Place", C, "Country", None, None, False),
        ("kg:Product", "kg:Thing", C, "Product", None, None, False),
        ("kg:Event", "kg:Thing", C, "Event", None, None, False),
        ("kg:Deprecated", "kg:Thing", C, "Deprecated", None, None, True),
        # terminology subtree (two nodes in the SAME terminology -> muted
        # expansion, cf. reference muting tests tests/test_rdfwrappers.py:132-148)
        ("snomed:Disease", "kg:Thing", C, "Disease", None, "snomed", False),
        ("snomed:Finding", "snomed:Disease", C, "Finding", None, "snomed", False),
        ("snomed:Infection", "snomed:Disease", C, "Infection", None, "snomed", False),
        ("loinc:Lab", "kg:Thing", C, "Lab", None, "loinc", False),
        # datatype properties (leaves of the modifier tree, DATA_LEAVES analog)
        ("kg:hasName", "kg:Organization", P, "has name", "xsd:string", None, False),
        ("kg:foundedIn", "kg:Organization", P, "founded in", "xsd:gYear", None, False),
        ("kg:population", "kg:Place", P, "population", "xsd:integer", None, False),
    ]
    return rows


def gen_ontology(spark):
    return spark.createDataFrame(gen_ontology_rows(), schema=schemas.ONTOLOGY)


def gen_valueset(spark):
    rows = [("kg:Country", f"kg:country/{c}") for c in ("ch", "de", "fr", "it", "at")]
    return spark.createDataFrame(rows, schema=schemas.VALUESET)


def gen_alias_edges(spark, n_entities: int = 50):
    """Alias graph over canonical ids: pair (2k, 2k+1) plus a bridge every
    5th entity — yields multi-node components for CC tests."""
    rows = []
    for e in range(0, n_entities - 1, 2):
        rows.append((f"ent{e}", f"ent{e+1}"))
    for e in range(0, n_entities - 3, 5):
        rows.append((f"ent{e}", f"ent{e+3}"))
    return spark.createDataFrame(rows, schema=schemas.ALIAS_EDGES)


# ----------------------------------------------------------------- pages

def gen_doc(i: int, n_entities: int = 50) -> dict:
    """Deterministic page i: html, expected extracted text, and the oracle
    mention list (surface occurrences, all-matches semantics including the
    single-token surface inside a multi-token one)."""
    n_slots = 30 + (i % 20)
    x = _lcg(i * 10007 + 17)
    words: list[str] = []
    mentions: list[str] = []
    for j in range(n_slots):
        x = _lcg(x + j)
        if x % 7 == 0:
            e = (x // 7) % n_entities
            if e % 2 == 0:
                words.extend([f"zorg{e}", "systems"])
                mentions.append(f"zorg{e} systems")
                mentions.append(f"zorg{e}")  # overlapping shorter surface
            else:
                words.append(f"zorg{e}")
                mentions.append(f"zorg{e}")
        elif x % 13 == 0:
            k = x % 10
            words.append(f"ambig{k}")
            if k < n_entities:
                mentions.append(f"ambig{k}")
        else:
            words.append(FILLER[x % len(FILLER)])

    body_parts = []
    for j, w in enumerate(words):
        body_parts.append(f"<b>{w}</b>" if (i + j) % 11 == 0 else w)
    body = " ".join(body_parts)
    html = (
        f"<html><head><title>Doc {i}</title>"
        f"<script>var x = {i};</script>"
        f"<style>p {{color: red}}</style></head>"
        f"<body><h1>Doc {i}</h1><p>{body} &amp; more</p></body></html>"
    ).encode("utf-8")
    text = extract_text_py(html)
    ts = EPOCH + datetime.timedelta(minutes=37 * (i % 100000), seconds=i % 60)
    return {
        "url": f"https://example.org/page/{i}",
        "warc_ts": ts,
        "html": html,
        "text": text,
        "lang": LANGS[i % len(LANGS)],
        "mentions": mentions,
    }


def gen_pages(spark, n_docs: int, n_entities: int = 50, num_partitions: int | None = None):
    """Distributed page generation: spark.range -> mapInPandas. Each row is
    a pure function of its id — generation scales to any n_docs with no
    driver involvement and no shuffle."""
    base = spark.range(0, n_docs, numPartitions=num_partitions)

    def make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            docs = [gen_doc(int(i), n_entities) for i in pdf["id"]]
            for d in docs:
                d.pop("mentions")
            yield pd.DataFrame(docs, columns=[f.name for f in schemas.PAGES.fields])

    return base.mapInPandas(make, schema=schemas.PAGES)


def oracle_mentions(n_docs: int, n_entities: int = 50) -> dict[str, dict[str, int]]:
    """Pure-Python oracle: url -> {surface: count}. Ground truth for the
    Aho-Corasick matcher's P/R (must be 1.0 on this corpus)."""
    out: dict[str, dict[str, int]] = {}
    for i in range(n_docs):
        d = gen_doc(i, n_entities)
        counts: dict[str, int] = {}
        for s in d["mentions"]:
            counts[s] = counts.get(s, 0) + 1
        out[d["url"]] = counts
    return out


def gen_mentions(
    spark,
    n_docs: int,
    n_entities: int = 50,
    num_partitions: int | None = None,
):
    """FUSED page-synthesis + mention-detection: ONE ``mapInPandas`` stage
    (VERDICT r4 #5). ``gen_pages |> detect_mentions`` chains two
    MapInPandas nodes, and each node runs its OWN Python worker per task —
    on a 16-physical-core box at local[32] the two stacked worker pools
    oversubscribe cores and cap the 8->32 scaling step. Composing
    ``gen_doc`` and the Aho-Corasick matcher inside one stage halves the
    Python workers per task while producing EXACTLY the rows of

        detect_mentions(gen_pages(spark, n_docs),
                        gen_gazetteer(spark, n_entities),
                        passthrough_cols=("lang", "warc_ts"))

    (parity-tested). Only the synthetic-source composition fuses — for
    parquet/Iceberg-backed pages there is no synthesis stage and
    detect_mentions is already the single Python stage in the plan.

    The matcher's surface set is ``gen_gazetteer_rows(n_entities)`` by
    construction — pass the SAME ``n_entities`` to the gazetteer used for
    downstream linking (build_triples_from_mentions), or surfaces outside
    the intersection silently drop at the link join."""
    from pyspark.sql import types as T

    from ..operators.mentions import TokenAhoCorasick

    surfaces = sorted({r[0] for r in gen_gazetteer_rows(n_entities)})
    bc = spark.sparkContext.broadcast(surfaces)
    base = spark.range(0, n_docs, numPartitions=num_partitions)

    out_schema = T.StructType(
        list(schemas.MENTIONS.fields)
        + [schemas.PAGES["lang"], schemas.PAGES["warc_ts"]]
    )
    cols = [f.name for f in out_schema.fields]

    def synth_match(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ac = TokenAhoCorasick(bc.value)
        for pdf in batches:
            rows: list[tuple] = []
            for i in pdf["id"]:
                d = gen_doc(int(i), n_entities)
                text = d["text"]
                if not text:
                    continue
                for surface, (b, e, n) in ac.mentions(text).items():
                    rows.append((d["url"], surface, b, e, n, d["lang"], d["warc_ts"]))
            yield pd.DataFrame(rows, columns=cols).astype(
                {"begin_pos": "int32", "end_pos": "int32", "n_occurrences": "int32"}
            )

    return base.mapInPandas(synth_match, schema=out_schema)
