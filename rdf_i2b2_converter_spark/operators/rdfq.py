"""SPARQL-analog lookups over the triples DataFrame.

The reference runs rdflib SPARQL in-process for class-instance lookup (C1,
src/data_loader.py:105-113), domain-property lookup with union-of-bnodes
and a most-specific anti-join (C2, src/rdfwrappers.py:372-411), range
lookup with RDF-list expansion (C3, src/rdfwrappers.py:294-322), and
valueset membership (C4, src/rdfwrappers.py:452-467). Here each is a
composition of joins/filters over TRIPLES_RAW(s, p, o, ...) — Catalyst
replaces rdflib's nested-index engine, and the only iteration (the rdf:rest
list spine, subPropertyOf+) is a bounded driver loop of self-joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RDF_TYPE = "rdf:type"
RDFS_DOMAIN = "rdfs:domain"
RDFS_RANGE = "rdfs:range"
RDFS_SUBPROP = "rdfs:subPropertyOf"
OWL_UNION = "owl:unionOf"
RDF_FIRST = "rdf:first"
RDF_REST = "rdf:rest"
RDF_NIL = "rdf:nil"


def class_instances(triples: DataFrame, class_uris: list[str]) -> DataFrame:
    """C1 — ``?obs rdf:type ?class`` for the configured entry classes.
    Returns (instance, class_uri)."""
    return (
        triples.filter((F.col("p") == RDF_TYPE) & F.col("o").isin(class_uris))
        .select(F.col("s").alias("instance"), F.col("o").alias("class_uri"))
        .distinct()
    )


def rdf_list_members(triples: DataFrame, heads: DataFrame, max_len: int = 64) -> DataFrame:
    """Expand rdf:first/rdf:rest list spines: heads(ctx, node) ->
    (ctx, member). Bounded driver loop — RDF lists in ontologies are short
    (union-of domains/ranges), so each round is a broadcast join. Raises
    ``ValueError`` when a spine is longer than ``max_len`` or cyclic."""
    first = triples.filter(F.col("p") == RDF_FIRST).select(
        F.col("s").alias("node"), F.col("o").alias("member")
    )
    rest = triples.filter((F.col("p") == RDF_REST) & (F.col("o") != RDF_NIL)).select(
        F.col("s").alias("node"), F.col("o").alias("next_node")
    )
    frontier = heads.select("ctx", "node").localCheckpoint(eager=True)
    out = None
    for _ in range(max_len):
        members = frontier.join(F.broadcast(first), "node").select("ctx", "member")
        out = members if out is None else out.unionByName(members)
        frontier = (
            frontier.join(F.broadcast(rest), "node")
            .select("ctx", F.col("next_node").alias("node"))
            .localCheckpoint(eager=True)
        )
        if frontier.count() == 0:
            return out.distinct()
    raise ValueError(
        f"rdf_list_members: an rdf:rest spine is longer than max_len={max_len} "
        "or cyclic; raise max_len or fix the list"
    )


def _domain_pairs(triples: DataFrame) -> DataFrame:
    """(property, domain_class) pairs: direct rdfs:domain ∪ via owl:unionOf
    RDF list (the SPARQL UNION of src/rdfwrappers.py:384-391, F4)."""
    dom = triples.filter(F.col("p") == RDFS_DOMAIN).select(
        F.col("s").alias("prop"), F.col("o").alias("dom_node")
    )
    union_heads = triples.filter(F.col("p") == OWL_UNION).select(
        F.col("s").alias("dom_node"), F.col("o").alias("node")
    )
    via_list = rdf_list_members(
        triples,
        dom.join(union_heads, "dom_node").select(F.col("prop").alias("ctx"), "node"),
    ).select(F.col("ctx").alias("prop"), F.col("member").alias("domain_class"))
    direct = dom.join(union_heads, "dom_node", "left_anti").select(
        "prop", F.col("dom_node").alias("domain_class")
    )
    return direct.unionByName(via_list).distinct()


def subproperty_closure(triples: DataFrame, max_rounds: int = 32) -> DataFrame:
    """subPropertyOf+ — transitive (non-reflexive) closure, (sub, sup).
    Raises ``ValueError`` when the closure needs more than ``max_rounds``
    rounds (a chain of more than ``max_rounds`` links)."""
    edges = triples.filter(F.col("p") == RDFS_SUBPROP).select(
        F.col("s").alias("sub"), F.col("o").alias("sup")
    ).distinct().localCheckpoint(eager=True)
    closure = edges
    frontier = edges
    for _ in range(max_rounds):
        nxt = (
            frontier.alias("f")
            .join(F.broadcast(edges).alias("e"), F.col("f.sup") == F.col("e.sub"))
            .select(F.col("f.sub").alias("sub"), F.col("e.sup").alias("sup"))
            .join(closure, ["sub", "sup"], "left_anti")
            .distinct()
            .localCheckpoint(eager=True)
        )
        if nxt.count() == 0:
            return closure
        closure = closure.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    raise ValueError(
        f"subproperty_closure did not converge within {max_rounds} rounds: "
        "the rdfs:subPropertyOf chain is too long; raise max_rounds"
    )


def domain_properties(triples: DataFrame, class_uri: str | None = None) -> DataFrame:
    """C2 — properties whose domain is the class (directly or via
    owl:unionOf), keeping only the MOST SPECIFIC per domain class: a
    candidate is dropped when another candidate of the same class is its
    strict sub-property (FILTER NOT EXISTS over subPropertyOf+,
    src/rdfwrappers.py:393-404) — a left_anti join against the closure."""
    pairs = _domain_pairs(triples)
    if class_uri is not None:
        pairs = pairs.filter(F.col("domain_class") == class_uri)
    closure = subproperty_closure(triples)
    # (class, p) has a more-specific sibling iff exists q!=p of same class
    # with (q subPropertyOf+ p)
    shadowed = (
        pairs.alias("sup")
        .join(
            closure.alias("c"), F.col("sup.prop") == F.col("c.sup")
        )
        .join(
            pairs.alias("sub"),
            (F.col("sub.prop") == F.col("c.sub"))
            & (F.col("sub.domain_class") == F.col("sup.domain_class")),
        )
        .select(
            F.col("sup.prop").alias("prop"),
            F.col("sup.domain_class").alias("domain_class"),
        )
        .distinct()
    )
    return pairs.join(shadowed, ["prop", "domain_class"], "left_anti")


def property_ranges(triples: DataFrame) -> DataFrame:
    """C3 — (property, range_class): direct rdfs:range ∪ bnode
    owl:unionOf rdf:rest*/rdf:first chain (src/rdfwrappers.py:294-322),
    SELECT DISTINCT semantics (D4)."""
    rng = triples.filter(F.col("p") == RDFS_RANGE).select(
        F.col("s").alias("prop"), F.col("o").alias("rng_node")
    )
    union_heads = triples.filter(F.col("p") == OWL_UNION).select(
        F.col("s").alias("rng_node"), F.col("o").alias("node")
    )
    via_list = rdf_list_members(
        triples,
        rng.join(union_heads, "rng_node").select(F.col("prop").alias("ctx"), "node"),
    ).select(F.col("ctx").alias("prop"), F.col("member").alias("range_class"))
    direct = rng.join(union_heads, "rng_node", "left_anti").select(
        "prop", F.col("rng_node").alias("range_class")
    )
    return direct.unionByName(via_list).distinct()


def valueset_members(triples: DataFrame, class_uri: str) -> DataFrame:
    """C4 — all ``?s rdf:type <valueset-class>``."""
    return (
        triples.filter((F.col("p") == RDF_TYPE) & (F.col("o") == class_uri))
        .select(F.col("s").alias("member_uri"))
        .distinct()
    )
