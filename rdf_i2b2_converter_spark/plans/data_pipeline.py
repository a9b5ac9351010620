"""Data pipeline: RDF instance triples -> OBSERVATION_FACT-style rows.

Re-realizes entry point 2 of the reference (src/main_data.py + the
DataLoader/InformationTree/ContextFactory machinery of src/data_loader.py)
over the triples DataFrame:

1. entry-class instances (C1, get_next_class_instances:95-123);
2. per-instance subtree assignment — an iterative bounded-depth join that
   tags every reachable node with its root instance (the distributed form
   of "each instance explores its own tree");
3. groupBy(root).applyInPandas running the instance-local DFS
   (explore_obstree:236-293): hash-chained basecodes (G6), context capture
   with the overwrite policy (ContextFactory.digest:320-352), path-end
   detection (is_pathend:208-234, G8), value dispatch on literal ends
   (ObservationRegister.digest:142-170 with COLUMNS_MAPPING.VALUE);
4. instance numbering per entry class (E1), mandatory-context gate (B7).

Instance trees are small and independent — the per-group Python DFS is the
reference algorithm verbatim over a few dozen rows, Arrow-batched; all the
heavy lifting (subtree assignment, grouping, numbering) is DataFrame ops.

Two intermediates are materialized once with ``localCheckpoint()``: the
parsed input (projected to ``s, p, o, o_datatype``) and the DFS output.
Both come out of Python stages (a parser's ``mapInPandas``, the
``applyInPandas`` DFS). Without the checkpoints every later action — each
subtree round, the range sampler of the numbering, a caller's reindex
joins and writes — re-runs those stages from the source.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import MAX_BASECODE_LENGTH, VALUE_DISPATCH
from ..functions.ids import dense_id_scalable
from ..operators.fixpoint import expand
from ..operators.rdfq import RDF_TYPE, class_instances

RDFS_LABEL = "rdfs:label"

#: Observation-row schema (OBSERVATION_FACT analog, i2b2_rdf_config COLUMNS)
OBS_SCHEMA = (
    "instance_uri string, class_uri string, concept_cd string, modifier_cd string, "
    "valtype_cd string, tval_char string, nval_num double, "
    "patient_num string, encounter_num string, start_date string, units_cd string"
)
CONTEXT_COLS = ("patient_num", "encounter_num", "start_date", "units_cd")

#: Context mapping — analog of data_config COLUMNS_MAPPING["CONTEXT"]:
#: object type -> column, inner-predicate chain, overwrite + mandatory flags.
DEFAULT_CONTEXT: dict[str, dict] = {
    "kg:SubjectPseudoIdentifier": {
        "col": "patient_num", "pred_to_value": ["kg:hasIdentifier"],
        "overwrite": False, "mandatory": True,
    },
    "kg:Encounter": {
        "col": "encounter_num", "pred_to_value": ["kg:hasIdentifier"], "overwrite": False,
    },
    "xsd:dateTime": {"col": "start_date", "overwrite": True},
    "kg:Unit": {"col": "units_cd", "pred_to_value": ["kg:hasCode"], "overwrite": True},
}


def reduce_basecode(uri: str, prefix: str, cap: int = MAX_BASECODE_LENGTH) -> str:
    """sha256(prefix + uri + '\\')[:cap] — identical to the ontology side
    (functions/ids.chained_code; reference src/utils.py:112-127), so fact
    codes join against ontology codes."""
    if uri and not uri.endswith("\\"):
        uri = uri + "\\"
    return hashlib.sha256((prefix + uri).encode()).hexdigest()[:cap]


def assign_subtrees(
    triples: DataFrame, roots: DataFrame, max_depth: int = 16
) -> DataFrame:
    """roots(instance, class_uri) -> (root, node): every resource node
    reachable from an entry instance via object links. Bounded-depth
    iterative broadcast join on ``fixpoint.expand`` (instance trees are
    shallow — the reference recursion depth is bounded by the ontology's
    property nesting).

    Raises ``ValueError`` when a node lies deeper than ``max_depth`` links
    below its root: returning the truncated subtree would silently drop
    that part of the instance tree from the observations."""
    edges = (
        triples.filter(F.col("o_datatype").isNull() & ~F.col("p").isin(RDF_TYPE, RDFS_LABEL))
        .select(F.col("s").alias("node"), F.col("o").alias("child"))
        .distinct()
    )
    # round k finds the nodes k links below their root; the round past
    # max_depth must come back empty
    return expand(
        roots.select(F.col("instance").alias("root"), F.col("instance").alias("node")),
        lambda frontier, seen, _k: (
            frontier.join(edges, "node")
            .select("root", F.col("child").alias("node"))
            .join(seen, ["root", "node"], "left_anti")  # explore-once guard
            .distinct()
        ),
        max_depth + 1,
        f"assign_subtrees: an instance tree is deeper than max_depth={max_depth} "
        "links; raise max_depth or check the instance graph",
    )


def extract_observations(
    triples: DataFrame,
    entry_classes: list[str],
    context_config: dict[str, dict] | None = None,
    terminology_prefixes: tuple[str, ...] = ("snomed", "loinc"),
    max_depth: int = 16,
) -> DataFrame:
    """The full data-pipeline: one OBSERVATION row per path end, with
    inherited context and chained basecodes. Output numbered per class
    (E1) and gated on mandatory context (B7).

    Eager: the subtree fixpoint runs driver actions, and two intermediates
    are materialized with ``localCheckpoint()`` — the input triples
    (projected to ``s, p, o, o_datatype``) and the DFS output. Actions on
    the returned frame therefore re-run neither the input's parse nor the
    Python DFS; only the numbering and the final join stay lazy."""
    ctx_cfg = context_config if context_config is not None else DEFAULT_CONTEXT
    spark = triples.sparkSession
    # read by the class lookup, every subtree round and the tagging join
    triples = triples.select("s", "p", "o", "o_datatype").localCheckpoint()

    roots = class_instances(triples, entry_classes)
    subtree = assign_subtrees(triples, roots, max_depth)
    # every triple of every subtree node, tagged with its root
    tagged = subtree.join(triples, subtree.node == triples.s).select(
        "root", "s", "p", "o", "o_datatype"
    )
    tagged = tagged.join(
        roots.select(F.col("instance").alias("root"), "class_uri"), "root"
    )

    bc_ctx = spark.sparkContext.broadcast(
        {"ctx": ctx_cfg, "terms": tuple(terminology_prefixes), "values": VALUE_DISPATCH}
    )

    def run_group(pdf: pd.DataFrame) -> pd.DataFrame:
        cfg = bc_ctx.value
        ctx_map, terms, value_map = cfg["ctx"], cfg["terms"], cfg["values"]
        root = pdf["root"].iloc[0]
        class_uri = pdf["class_uri"].iloc[0]
        # adjacency: subject -> [(pred, obj, datatype)]
        adj: dict[str, list[tuple[str, str, str | None]]] = {}
        types: dict[str, str] = {}
        for s, p, o, dt in zip(pdf["s"], pdf["p"], pdf["o"], pdf["o_datatype"]):
            if p == RDF_TYPE and (dt is None or pd.isna(dt)):
                types[s] = o
            adj.setdefault(s, []).append((p, o, None if (dt is None or pd.isna(dt)) else dt))

        out_rows: list[dict] = []

        def obj_type_of(o: str, dt: str | None) -> str | None:
            return dt if dt is not None else types.get(o)

        def follow_chain(o: str, chain: list[str]) -> str:
            """pred_to_value chain (add_context_element:360-381)."""
            val = o
            for pred in chain:
                nxt = None
                for p2, o2, _ in adj.get(val, []):
                    if p2 == pred:
                        nxt = o2
                        break
                if nxt is None:
                    return ""
                val = nxt
            return val

        def digest_context(pairs, context):
            """ContextFactory.digest: capture context elements, return the
            clean (non-context) pairs. overwrite=False == first-wins."""
            clean = []
            for p, o, dt in pairs:
                ot = obj_type_of(o, dt)
                if ot is not None and ot in ctx_map:
                    spec = ctx_map[ot]
                    col = spec["col"]
                    if spec.get("overwrite") or col not in context:
                        if dt is None and "pred_to_value" in spec:
                            context[col] = follow_chain(o, spec["pred_to_value"])
                        else:
                            context[col] = o
                else:
                    clean.append((p, o, dt))
            return clean

        def is_pathend(o: str, dt: str | None) -> bool:
            """is_pathend:208-234: literal; or resource with no non-type/
            label predicates; or typed by a terminology class."""
            if dt is not None:
                return True
            preds = [p for p, _, _ in adj.get(o, [])]
            if all(p in (RDF_TYPE, RDFS_LABEL) for p in preds):
                return True
            t = types.get(o)
            return t is not None and any(t.startswith(x + ":") for x in terms)

        def emit(basecode, context, value=None, datatype=None):
            row = {
                "instance_uri": root,
                "class_uri": class_uri,
                "concept_cd": context.get("__concept", ""),
                "modifier_cd": basecode,
                "valtype_cd": None,
                "tval_char": None,
                "nval_num": None,
            }
            for c in CONTEXT_COLS:
                row[c] = context.get(c)
            if value is not None:
                spec = value_map.get(datatype)
                if spec is None:
                    row["valtype_cd"] = "ERR"
                    row["tval_char"] = value
                elif spec["col"] == "nval_num":
                    try:
                        if spec.get("transform") == "year":
                            row["nval_num"] = float(value[:4])
                        else:
                            row["nval_num"] = float(value)
                    except (ValueError, TypeError):
                        row["nval_num"] = None
                    row["valtype_cd"] = spec["valtype"]
                    row["tval_char"] = spec["tval"]
                else:
                    row["valtype_cd"] = spec["valtype"]
                    row["tval_char"] = value
            out_rows.append(row)

        def explore(node: str, basecode_prefix: str, parent_context: dict, concept: bool, depth: int):
            if depth > max_depth:
                return
            node_type = types.get(node)
            if node_type is None:
                return
            current = reduce_basecode(node_type, basecode_prefix)
            pairs = [
                (p, o, dt) for p, o, dt in adj.get(node, [])
                if p not in (RDF_TYPE, RDFS_LABEL)
            ]
            context = dict(parent_context)
            pairs = digest_context(pairs, context)
            if concept:
                context["__concept"] = current
                # validity gate (B7 / ContextFactory.valid:305-318)
                for spec in ctx_map.values():
                    if spec.get("mandatory") and not context.get(spec["col"]):
                        return
                emit("@", context)
            for p, o, dt in pairs:
                basecode = reduce_basecode(p, current)
                if is_pathend(o, dt):
                    if dt is not None:
                        emit(basecode, context, value=o, datatype=dt)
                    else:
                        el = types.get(o, o)
                        emit(reduce_basecode(el, basecode), context)
                else:
                    explore(o, basecode, context, False, depth + 1)

        explore(root, "", {}, True, 0)
        return pd.DataFrame(
            out_rows,
            columns=[
                "instance_uri", "class_uri", "concept_cd", "modifier_cd",
                "valtype_cd", "tval_char", "nval_num", *CONTEXT_COLS,
            ],
        )

    # read by the range sampler, the numbering, the final join and every
    # action of the caller
    obs = tagged.groupBy("root").applyInPandas(run_group, schema=OBS_SCHEMA).localCheckpoint()
    # E1: instance numbering per entry class, deterministic order. A
    # per-class row_number window would sort each class in ONE task — with
    # a handful of entry classes and 10^9 instances per class that's a
    # serial stage. Instead: range-partitioned global dense ids over
    # (class, instance) order (functions/ids.dense_id_scalable — every
    # partition numbers itself), then subtract each class's first global
    # id. Per-class numbering = global rank within the class because range
    # partitions are globally ordered; bit-identical to the window form
    # (asserted in tests/test_data_pipeline.py).
    gids = dense_id_scalable(
        obs.select("class_uri", "instance_uri"), ["class_uri", "instance_uri"],
        id_col="__gid",
    )
    class_start = gids.groupBy("class_uri").agg(F.min("__gid").alias("__cmin"))
    nums = (
        gids.join(F.broadcast(class_start), "class_uri")
        .withColumn("instance_num", (F.col("__gid") - F.col("__cmin") + 1).cast("int"))
        .drop("__gid", "__cmin")
    )
    # no broadcast hint: the mapping is one row per INSTANCE — AQE
    # broadcasts it when small and shuffle-joins when it isn't
    return obs.join(nums, ["class_uri", "instance_uri"])
