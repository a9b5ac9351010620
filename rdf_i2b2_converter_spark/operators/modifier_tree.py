"""Full recursive modifier tree: property/range expansion (G2/G4).

Re-realizes the reference's deepest recursion — Concept.digin_ranges
(src/rdfwrappers.py:209-234) driving I2B2Converter.walk_mtree
(src/i2b2wrappers.py:137-162): starting from entry classes, alternate

  concept --domain_properties (C2)--> property nodes
  property --property_ranges (C3)--> range classes
  range class: xsd datatype  -> absorbed value leaf (DATA_LEAVES,
               src/i2b2wrappers.py:128-135)
               terminology   -> leaf (terminology_indicator, utils.py:140-145)
               muted         -> leaf (>1 range in the SAME terminology, G3,
               src/rdfwrappers.py:236-276)
               otherwise     -> nested concept node, recurse

with the hash-chained code accumulated along the LOGICAL parent axis
(concept -> property -> range concept -> ...), exactly the chain the data
pipeline computes per instance path (plans/data_pipeline.py) — the two
sides meeting on equal codes IS the reference's ontology<->fact join
contract (src/utils.py:89-127).

Driver-side fixpoint of broadcast joins on ``fixpoint.expand``; each
round one generation of the tree (concepts -> properties -> ranges); a
visited guard prevents cycles (the reference's explore-once guard,
src/rdfwrappers.py:149-159).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.ids import chained_code
from ..schemas import local_frame
from .fixpoint import expand
from .rdfq import domain_properties, property_ranges

_URI = T.StructType([T.StructField("uri", T.StringType())])


def _rname(col):
    return F.substring_index(col, ":", -1)


def _term_of(col, prefixes: tuple[str, ...]):
    expr = F.lit(None).cast("string")
    for p in prefixes:
        expr = F.when(col.startswith(p + ":"), F.lit(p)).otherwise(expr)
    return expr


def build_modifier_tree(
    triples: DataFrame,
    root_classes: list[str],
    terminology_prefixes: tuple[str, ...] = ("snomed", "loinc"),
    max_depth: int = 12,
) -> DataFrame:
    """-> tree(uri, kind 'concept'|'modifier'|'leaf'|'value_leaf', level,
    path, code, parent_code, parent_uri).

    Level parity with the reference: concepts at even levels, their
    properties at odd levels; terminology/muted ranges become childless
    leaves; xsd ranges become value leaves (carry the property's code — the
    data side emits the literal under the property's chained code).
    Raises ``ValueError`` when the tree has more than ``max_depth``
    concept generations: a truncated tree would silently drop the deeper
    modifiers from MODIFIER_DIMENSION.
    """
    spark = triples.sparkSession

    props = domain_properties(triples).localCheckpoint(eager=True)  # (prop, domain_class)
    ranges = property_ranges(triples).localCheckpoint(eager=True)   # (prop, range_class)

    # G3 muting per (prop, range) PAIR: only the same-terminology sibling
    # ranges are muted (sort_silent_ranges, src/rdfwrappers.py:236-276) —
    # a mixed range list (2 snomed + 1 plain concept) still expands the
    # plain concept. A per-prop flag here would wrongly leaf ALL ranges.
    rng_term = ranges.withColumn("term", _term_of(F.col("range_class"), terminology_prefixes))
    muted_terms = (
        rng_term.filter(F.col("term").isNotNull())
        .groupBy("prop", "term")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .select("prop", "term")
    )
    muted_pairs = (
        rng_term.join(muted_terms, ["prop", "term"])
        .select("prop", "range_class")
        .distinct()
        .localCheckpoint(eager=True)
    )

    roots = local_frame(spark, [(c,) for c in root_classes], _URI).select(
        "uri",
        F.lit("concept").alias("kind"),
        F.lit(0).alias("level"),
        F.concat(F.lit("\\"), _rname(F.col("uri")), F.lit("\\")).alias("path"),
        chained_code(None, "uri").alias("code"),
        F.lit(None).cast("string").alias("parent_code"),
        F.lit(None).cast("string").alias("parent_uri"),
    )

    def generation(frontier: DataFrame, seen: DataFrame, _k: int) -> DataFrame:
        # only plain concept nodes expand; explore-once guard on path
        concepts = frontier.filter(F.col("kind") == "concept").join(
            seen.select(F.col("uri").alias("__seen_uri"), F.col("level").alias("__seen_lvl")),
            (F.col("uri") == F.col("__seen_uri")) & (F.col("level") > F.col("__seen_lvl")),
            "left_anti",
        )
        # concepts -> property (modifier) nodes
        mods = (
            concepts.alias("c")
            .join(F.broadcast(props).alias("p"), F.col("c.uri") == F.col("p.domain_class"))
            .select(
                F.col("p.prop").alias("uri"),
                F.lit("modifier").alias("kind"),
                (F.col("c.level") + 1).alias("level"),
                F.concat(F.col("c.path"), _rname(F.col("p.prop")), F.lit("\\")).alias("path"),
                chained_code(F.col("c.code"), F.col("p.prop")).alias("code"),
                F.col("c.code").alias("parent_code"),
                F.col("c.uri").alias("parent_uri"),
            )
        )

        # property nodes -> range expansion
        expanded = (
            mods.alias("m")
            .join(F.broadcast(ranges).alias("r"), F.col("m.uri") == F.col("r.prop"))
            .join(F.broadcast(muted_pairs
                              .withColumnRenamed("prop", "__muted_uri")
                              .withColumnRenamed("range_class", "__muted_rng")
                              .withColumn("__muted", F.lit(True))),
                  (F.col("m.uri") == F.col("__muted_uri"))
                  & (F.col("r.range_class") == F.col("__muted_rng")), "left")
            .select(
                F.col("r.range_class").alias("rng"),
                F.col("m.level").alias("mlevel"),
                F.col("m.path").alias("mpath"),
                F.col("m.code").alias("mcode"),
                F.col("m.uri").alias("muri"),
                F.coalesce(F.col("__muted"), F.lit(False)).alias("muted"),
            )
        )
        is_xsd = F.col("rng").startswith("xsd:")
        is_term = _term_of(F.col("rng"), terminology_prefixes).isNotNull()
        kind = (
            F.when(is_xsd, F.lit("value_leaf"))
            .when(F.col("muted") | is_term, F.lit("leaf"))
            .otherwise(F.lit("concept"))
        )
        children = expanded.select(
            F.col("rng").alias("uri"),
            kind.alias("kind"),
            (F.col("mlevel") + 1).alias("level"),
            F.concat(F.col("mpath"), _rname(F.col("rng")), F.lit("\\")).alias("path"),
            # value leaves keep the PROPERTY's code: the data side emits the
            # literal under reduce(pred, concept_code) (data_loader digest)
            F.when(is_xsd, F.col("mcode"))
            .otherwise(chained_code(F.col("mcode"), F.col("rng")))
            .alias("code"),
            F.col("mcode").alias("parent_code"),
            F.col("muri").alias("parent_uri"),
        )
        return mods.unionByName(children)

    return expand(
        roots,
        generation,
        max_depth + 1,
        f"build_modifier_tree: the tree is deeper than max_depth={max_depth} "
        "concept generations; raise max_depth or check the schema",
    )


def check_fact_codes(obs: DataFrame, tree: DataFrame) -> DataFrame:
    """check_basecodes (src/scripts/obs_tools.py:5-29, C10): fact
    modifier codes not present in the modifier tree (plus '@' and concept
    codes). Empty == consistent."""
    dim = tree.select(F.col("code")).distinct()
    facts = (
        obs.filter(F.col("modifier_cd") != "@")
        .select(F.col("modifier_cd").alias("code"))
        .distinct()
    )
    return facts.join(F.broadcast(dim), "code", "left_anti")
