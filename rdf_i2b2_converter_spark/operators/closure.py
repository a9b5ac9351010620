"""Ontology hierarchy expansion: iterative transitive closure.

Re-realizes the reference's recursive subclass-tree walk
(find_subconcepts, src/rdfwrappers.py:161-184,424-444) and the i2b2 row
materialization (path/level/basecode, src/i2b2wrappers.py:219-288) as a
driver-side BFS of DataFrame self-joins — Spark has no recursive CTE, so
the fixpoint loop lives on the driver while each round is one distributed
broadcast join.

Per round r, frontier_r holds all nodes at depth r with their accumulated
path (G5, I2B2PathResolver src/i2b2wrappers.py:254-266) and hash-chained
code (G6, reduce_basecode src/utils.py:112-127). Terminology muting (G3,
src/rdfwrappers.py:236-276: a node with >1 child in its own terminology is
not expanded) is a ``stop_expansion`` flag excluding nodes from the next
frontier.

Scale: ontologies are small relative to the corpus (10^5-10^7 nodes vs
10^12 pages). The rounds run on ``fixpoint.expand``, which owns the
checkpoint, emptiness test and bound; join strategy per round is left to
AQE (broadcast for the usual small frontier, shuffle when a wide level's
accumulated path strings would not fit a broadcast). The closed table is
then itself broadcast against mentions.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import schemas
from ..config import BLACKLIST, DRIVER_THRESHOLD, MAX_BASECODE_LENGTH
from ..functions.ids import chained_code
from .fixpoint import expand, small_side

#: rname (src/utils.py:130-132): strip the namespace prefix up to ':'.
def _rname(col):
    return F.substring_index(col, ":", -1)


def _driver_close(rows, cap: int, *, max_rounds: int, check_path_collisions: bool) -> list | None:
    """Driver-side BFS over a collected (sub-threshold) class-row list —
    a 3-5-level ontology costs ~10 driver-synchronous Spark jobs in the
    distributed loop, versus one collect here. Semantics replicate the
    distributed branch EXACTLY, including the SQL null-equality of the
    muting join (NULL terminology matches nothing) and the per-ROW
    multi-parent fan-out. ``None`` as soon as the closure passes ``cap``
    rows: on a DAG it can outgrow its input many times over."""
    import hashlib
    from collections import defaultdict

    def code(parent_code: str | None, uri: str) -> str:
        payload = (parent_code or "") + uri + "\\"
        return hashlib.sha256(payload.encode("utf-8")).hexdigest()[:MAX_BASECODE_LENGTH]

    def rname(uri: str) -> str:
        return uri.rsplit(":", 1)[-1]

    # muting (G3): count (child_row, parent_row) PAIRS per parent class —
    # the distributed form is a row-level join, so a class with k parent
    # rows contributes k pairs per child row; NULL terminology joins
    # nothing (SQL equality, not Python's None == None). O(rows) via
    # per-class terminology multiplicity counts (review r6: a nested loop
    # over the parent class's rows is quadratic in row multiplicity).
    term_mult: dict[str, dict] = defaultdict(dict)  # class_uri -> {term: k}
    for r in rows:
        t = r["terminology"]
        if t is not None:
            d = term_mult[r["class_uri"]]
            d[t] = d.get(t, 0) + 1
    n_same_term: dict[str, int] = defaultdict(int)
    for c in rows:
        if c["parent_uri"] is None or c["terminology"] is None:
            continue
        n_same_term[c["parent_uri"]] += term_mult.get(c["parent_uri"], {}).get(
            c["terminology"], 0
        )
    stop = {r["class_uri"]: n_same_term.get(r["class_uri"], 0) > 1 for r in rows}

    # node table: exact-duplicate rows collapse (dropDuplicates analog)
    nodes = list(
        dict.fromkeys(
            (r["class_uri"], r["parent_uri"], r["kind"], r["terminology"]) for r in rows
        )
    )
    children: dict[str, list] = defaultdict(list)
    roots = []
    for t in nodes:
        (children[t[1]] if t[1] is not None else roots).append(t)

    result: list[tuple] = []
    frontier: list[tuple] = []
    for uri, par, kind, term in roots:
        row = (uri, par, 0, "\\" + rname(uri) + "\\", code(None, uri), None, kind, term, stop[uri])
        result.append(row)
        frontier.append(row)
    converged = not rows
    for level in range(1, max_rounds + 1):
        if converged:
            break
        nxt: list[tuple] = []
        for f in frontier:
            if f[8]:  # stop_expansion: children not expanded
                continue
            f_uri, f_path, f_code = f[0], f[3], f[4]
            for uri, par, kind, term in children.get(f_uri, ()):
                nxt.append(
                    (
                        uri, par, level, f_path + rname(uri) + "\\",
                        code(f_code, uri), f_code, kind, term, stop[uri],
                    )
                )
        if not nxt:
            converged = True
            break
        result.extend(nxt)
        if len(result) > cap:
            return None
        frontier = nxt
    if not converged:
        raise ValueError(
            f"close_ontology did not converge within {max_rounds} rounds: "
            "the hierarchy is deeper than max_rounds or parent_uri has a "
            "cycle; raise max_rounds or fix the ontology"
        )
    if check_path_collisions:
        by_path: dict[str, set] = defaultdict(set)
        for row in result:
            by_path[row[3]].add(row[0])
        for p, uris in by_path.items():
            if len(uris) > 1:
                raise ValueError(
                    f"close_ontology: path {p!r} is produced by "
                    f"{len(uris)} distinct class URIs (equal local names under "
                    "one parent) — the materialized-path key would silently "
                    "merge unrelated subtrees; rename or disambiguate"
                )
    return result


def close_ontology(
    ontology: DataFrame,
    max_rounds: int = 64,
    check_path_collisions: bool = True,
    driver_threshold: int = DRIVER_THRESHOLD,
) -> DataFrame:
    """ontology(class_uri, parent_uri, kind, ..., blacklisted) ->
    ONTOLOGY_CLOSED(class_uri, parent_uri, level, path, code, parent_code,
    kind, terminology, stop_expansion).

    Semantics matched to the reference:
    - blacklist pruning BEFORE expansion (src/rdfwrappers.py:6-9) — a
      blacklisted node's whole subtree disappears;
    - path = parent_path + rname + '\\' (src/i2b2wrappers.py:254-266);
    - code = sha256(parent_code + uri + '\\')[:50] chained along the
      logical parent axis (src/utils.py:112-127);
    - muting: >1 child in the node's own terminology => children not
      expanded (ChildfreeConcept, src/rdfwrappers.py:187-199).

    Multi-parent classes (a DAG) appear once per parent with separate
    paths — the i2b2 multi-path semantics. A hierarchy deeper than
    ``max_rounds`` or a parent cycle RAISES instead of returning a
    silently truncated/cycle-polluted closure (review r5).
    ``check_path_collisions``: paths are built from rnames (local names),
    so distinct URIs with equal local names under one parent would merge
    paths — one cheap ontology-sized agg turns that silent key collision
    into an error (disable for trusted inputs).

    ``driver_threshold``: ontologies whose class rows AND closed rows
    fit under it close on the driver (``fixpoint.small_side``, a Python
    BFS) — the distributed fixpoint costs a driver-synchronous Spark job
    per level plus setup joins, which dominates the common 10^2-10^5-node
    case. Both paths produce identical rows (pytest-pinned); the rest,
    DAGs whose closure outgrows the cap included, take the loop.
    """
    classes = ontology.filter((F.col("kind") == "class") & (~F.col("blacklisted"))).filter(
        ~F.col("class_uri").isin(list(BLACKLIST))
    )
    closed = small_side(
        [classes.select("class_uri", "parent_uri", "kind", "terminology")],
        driver_threshold,
        partial(_driver_close, max_rounds=max_rounds, check_path_collisions=check_path_collisions),
        schemas.ONTOLOGY_CLOSED,
    )
    if closed is not None:
        return closed

    # stop_expansion: computed once, joined onto every frontier.
    same_term_children = (
        classes.alias("c")
        .join(
            classes.alias("p"),
            (F.col("c.parent_uri") == F.col("p.class_uri"))
            & (F.col("c.terminology") == F.col("p.terminology")),
            "inner",
        )
        .groupBy(F.col("p.class_uri").alias("class_uri"))
        .agg(F.count("*").alias("n_same_term_children"))
    )
    # one flag row per DISTINCT class_uri (review r5: per-ROW flags made
    # the join below emit k^2 node rows for a class with k parent rows)
    flags = (
        classes.select("class_uri")
        .distinct()
        .join(same_term_children, "class_uri", "left")
        .select(
            "class_uri",
            (F.coalesce(F.col("n_same_term_children"), F.lit(0)) > 1).alias("stop_expansion"),
        )
    )

    # materialize the (small) node table once — it is re-joined every
    # round; dropDuplicates guards against accidental exact-duplicate
    # input rows multiplying the whole subtree. Lazy checkpoint: under AQE
    # its exchanges still run as jobs here, at the call; only its final
    # stage waits for round 1's count.
    nodes = classes.join(flags, "class_uri", "left").select(
        "class_uri", "parent_uri", "kind", "terminology", "stop_expansion"
    ).dropDuplicates().localCheckpoint(eager=False)

    roots = nodes.filter(F.col("parent_uri").isNull()).select(
        "class_uri",
        "parent_uri",
        F.lit(0).alias("level"),
        F.concat(F.lit("\\"), _rname(F.col("class_uri")), F.lit("\\")).alias("path"),
        chained_code(None, "class_uri").alias("code"),
        F.lit(None).cast("string").alias("parent_code"),
        "kind",
        "terminology",
        "stop_expansion",
    )

    def one_level(frontier: DataFrame, _seen: DataFrame, level: int) -> DataFrame:
        expandable = frontier.filter(~F.col("stop_expansion")).select(
            F.col("class_uri").alias("p_uri"),
            F.col("path").alias("p_path"),
            F.col("code").alias("p_code"),
        )
        # no forced broadcast (review r5): the usual frontier is tiny and
        # AQE broadcasts it, but a wide level of a 10^7-node ontology with
        # accumulated path strings must be allowed to shuffle-join
        return (
            nodes.alias("n")
            .join(expandable.alias("f"), F.col("n.parent_uri") == F.col("p_uri"))
            .select(
                F.col("n.class_uri").alias("class_uri"),
                F.col("n.parent_uri").alias("parent_uri"),
                F.lit(level).alias("level"),
                F.concat(F.col("p_path"), _rname(F.col("n.class_uri")), F.lit("\\")).alias("path"),
                chained_code(F.col("p_code"), F.col("n.class_uri")).alias("code"),
                F.col("p_code").alias("parent_code"),
                F.col("n.kind").alias("kind"),
                F.col("n.terminology").alias("terminology"),
                F.col("n.stop_expansion").alias("stop_expansion"),
            )
        )

    result = expand(
        roots.localCheckpoint(eager=False),
        one_level,
        max_rounds,
        f"close_ontology did not converge within {max_rounds} rounds: "
        "the hierarchy is deeper than max_rounds or parent_uri has a "
        "cycle; raise max_rounds or fix the ontology",
    )
    if check_path_collisions:
        dup = (
            result.groupBy("path")
            .agg(F.countDistinct("class_uri").alias("n"))
            .filter(F.col("n") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"close_ontology: path {dup[0]['path']!r} is produced by "
                f"{dup[0]['n']} distinct class URIs (equal local names under "
                "one parent) — the materialized-path key would silently "
                "merge unrelated subtrees; rename or disambiguate"
            )
    return result


def attach_properties(
    closed: DataFrame, ontology: DataFrame, max_rounds: int = 16
) -> DataFrame:
    """Modifier-tree analog (G4, walk_mtree src/i2b2wrappers.py:137-162):
    attach property rows under their domain class with level+1, extended
    path and chained code, then RECURSIVELY attach properties nested under
    other properties (the reference's walk is recursive — review r5: a
    property whose parent is a property was silently dropped). Datatype-
    property leaves keep their ``datatype`` column (DATA_LEAVES absorption,
    src/i2b2wrappers.py:128-135). Properties honor the same config
    BLACKLIST as classes."""
    props = (
        ontology.filter((F.col("kind") == "property") & (~F.col("blacklisted")))
        .filter(~F.col("class_uri").isin(list(BLACKLIST)))
        .localCheckpoint(eager=True)
    )

    def attach_to(parents: DataFrame) -> DataFrame:
        return (
            props.alias("pr")
            .join(parents.alias("d"), F.col("pr.parent_uri") == F.col("d.class_uri"))
            .select(
                F.col("pr.class_uri").alias("class_uri"),
                F.col("pr.parent_uri").alias("parent_uri"),
                (F.col("d.level") + 1).alias("level"),
                F.concat(F.col("d.path"), _rname(F.col("pr.class_uri")), F.lit("\\")).alias("path"),
                chained_code(F.col("d.code"), F.col("pr.class_uri")).alias("code"),
                F.col("d.code").alias("parent_code"),
                F.col("pr.kind").alias("kind"),
                F.col("pr.terminology").alias("terminology"),
                F.lit(True).alias("stop_expansion"),
                F.col("pr.datatype").alias("datatype"),
            )
        )

    return expand(
        attach_to(closed.filter(F.col("kind") == "class")).localCheckpoint(eager=False),
        lambda frontier, _seen, _k: attach_to(frontier),
        max_rounds,
        f"attach_properties did not converge within {max_rounds} rounds: "
        "property nesting is deeper than max_rounds or parent_uri cycles",
    )


def subtree(closed: DataFrame, root_path: str) -> DataFrame:
    """All nodes strictly under a materialized path — the i2b2 'path
    prefix' query (wildcard path filter B8,
    src/scripts/merge_metavaluefields.py:18-48). ``root_path`` is
    normalized to end with the '\\' separator (review r5: a bare prefix
    over-matched sibling paths like '\\Thing\\PlaceOther\\' and failed to
    exclude the root row itself)."""
    if not root_path.endswith("\\"):
        root_path = root_path + "\\"
    return closed.filter(F.col("path").startswith(root_path) & (F.col("path") != root_path))
