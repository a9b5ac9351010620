"""Alias canonicalization: connected components + cluster refinement.

The reference collapses duplicate roots by keep-first
(src/main_ontology.py:48-55) and rewrites IDs through awk lookup joins
(src/scripts/postprod.bash:82-148); at web scale the alias graph of minted
entities needs real connected components. We implement the alternating
large-star/small-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", public) as iterative DataFrame self-joins with
localCheckpoint lineage truncation — converges in O(log n) rounds.

Labels are the string ids themselves ordered lexicographically — no
driver-side numbering, no hash-collision risk on the correctness path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_SALT_BUCKETS
from ..schemas import COMPONENT_MAPPING
from .fixpoint import small_side


def _union_find_rows(pairs, _cap: int) -> list[tuple[str, str]]:
    """Union-find with lexicographic-min roots over (u, v) pairs; returns
    the complete (id, component) mapping rows, self-loop endpoints
    included (find() registers both ends of every pair)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in pairs:
        ra, rb = find(u), find(v)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict[str, list[str]] = {}
    for n in list(parent):
        comp.setdefault(find(n), []).append(n)
    rows: list[tuple[str, str]] = []
    for members in comp.values():
        m = min(members)
        rows.extend((n, m) for n in members)
    return rows


def _min_neighbor(e: DataFrame) -> DataFrame:
    return e.groupBy("u").agg(F.min("v").alias("mv")).select(
        "u", F.least(F.col("mv"), F.col("u")).alias("m")
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every neighbor v > u to min(N(u) ∪ {u}).

    Neighborhoods are undirected: symmetrize first — grouping a directed
    star by its centers only would erase the star on the next round."""
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    m = _min_neighbor(sym)
    return (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Connect every neighbor v <= u (and u itself) to min(N(u) ∪ {u})."""
    # orient edges so v <= u, then hang small neighbors + u off the min
    oriented = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()
    m = _min_neighbor(oriented)
    hang_neighbors = oriented.join(m, "u").select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    hang_self = m.select(F.col("u"), F.col("m").alias("v"))
    return (
        hang_neighbors.unionByName(hang_self)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    edges: DataFrame, max_rounds: int = 32, driver_threshold: int = 200_000
) -> DataFrame:
    """edges(src_id, dst_id) -> mapping(id, component) where component is
    the lexicographically smallest member. Includes every endpoint
    (singletons in the edge set map to their component root or themselves).

    Graphs whose raw edge rows and endpoints each fit under
    ``2 * driver_threshold`` run union-find on the driver over one capped,
    shuffle-free collect (``fixpoint.small_side``; cf. the reference's
    in-memory awk lookups, postprod.bash:82-85): a dozen driver-synchronous
    Spark rounds cost far more than collecting a few MB. Larger graphs run
    the distributed large-star/small-star loop.
    """
    pairs = edges.select(F.col("src_id").alias("u"), F.col("dst_id").alias("v"))
    small = small_side([pairs], 2 * driver_threshold, _union_find_rows, COMPONENT_MAPPING)
    if small is not None:
        return small

    # symmetrize WITH self-loops kept: a node whose only edges are
    # self-loops must still appear in the mapping (review r5): raw_nodes
    # reads them from here; the star loop gets loop-free edges. Under AQE
    # the distinct's exchange runs here; only its final stage waits
    e_all = (
        pairs.unionByName(pairs.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    raw_nodes = e_all.select(F.col("u").alias("id")).distinct()
    # no second checkpoint: the filter reads the checkpointed e_all
    # partitions and round 1 of the star loop checkpoints its own output
    e = e_all.filter(F.col("u") != F.col("v"))

    prev_sig = None
    converged = False
    for _ in range(max_rounds):
        # under AQE the round's shuffles run here; only its final stage
        # waits for the signature aggregate below
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        sig = e.agg(
            F.count("*").alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).collect()[0]
        cur = (sig["n"], sig["h"])
        if cur == prev_sig:
            converged = True
            break
        prev_sig = cur
    if not converged:
        # a mid-convergence edge set can carry several (u, v) rows per u,
        # which downstream joins would fan out as silent row duplication —
        # fail loudly instead of returning a corrupt mapping (review r5)
        raise ValueError(
            f"connected_components did not converge within {max_rounds} "
            "rounds; raise max_rounds (the star algorithm needs "
            "O(log n)..O(log^2 n) rounds)"
        )

    # converged star graph: every edge is (member, root)
    mapping = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = mapping.select(F.col("component").alias("id"), F.col("component"))
    singles = raw_nodes.join(mapping.select("id"), "id", "left_anti").join(
        roots.select("id"), "id", "left_anti"
    ).select("id", F.col("id").alias("component"))
    # the three branches are disjoint (mapping: id != component; roots:
    # id == component; singles: anti-joined against both): no .distinct()
    return mapping.unionByName(roots.distinct()).unionByName(singles)


def apply_canonical(df: DataFrame, mapping: DataFrame, id_col: str, out_col: str | None = None) -> DataFrame:
    """Rewrite ``id_col`` through the component mapping; unmapped ids keep
    themselves — the awk left-join + replace semantics
    (src/scripts/postprod.bash:124-126,146-148, operator C8).

    No forced broadcast hint (review r4): the mapping covers every
    alias-connected entity and can be 10^9 rows at web scale; AQE
    broadcasts it at runtime when it is actually small and otherwise
    shuffles with skew-splitting — the same policy as emit_triples."""
    if "__canon" in df.columns:
        raise ValueError("apply_canonical: input already has a __canon column")
    out_col = out_col or id_col
    m = mapping.select(F.col("id").alias(id_col), F.col("component").alias("__canon"))
    return (
        df.join(m, id_col, "left")
        .withColumn(out_col, F.coalesce(F.col("__canon"), F.col(id_col)))
        .drop("__canon")
    )


def refine_clusters(linked: DataFrame, group_col: str = "component") -> DataFrame:
    """Per-cluster refinement: within each canonical component, pick the
    representative surface (highest total occurrence count, ties
    lexicographic) and stamp it on every member — the analog of the
    reference's per-group value relocation (merge_datafields.py C9/I4).

    Fully declarative (VERDICT r3 #2): the old per-component applyInPandas
    materialized an entire component in one task's pandas frame, and the LSH
    giant-bucket cap (dedup.py) deliberately star-links boilerplate clusters
    that CC then merges — so the biggest component is BY DESIGN the corpus's
    boilerplate cluster, potentially 10^7+ members. The rep computation is
    just an argmax of summed counts:

    1. ``groupBy(component, surface).sum`` — map-side partial combine means
       the shuffle carries one row per distinct (component, surface), not
       per member; distinct surfaces of a giant component spread across
       reducers, so no single task holds the component.
    2. ``min_by(surface, struct(-total, surface))`` — argmax with the exact
       pandas tie-break (max total, then lexicographically smallest).
    3. Equi-join the one-row-per-component reps back on ``group_col`` — AQE
       converts it to broadcast when reps is small and splits the skewed
       giant-component partition otherwise; no driver-side assumption about
       the number of components.
    """
    clash = {"__grp", "rep_surface"} & set(linked.columns)
    if clash:
        raise ValueError(f"refine_clusters: input already has column(s) {sorted(clash)}")
    totals = (
        linked.filter(F.col("surface").isNotNull())  # pandas groupby drops NaN keys
        .groupBy(group_col, "surface")
        .agg(F.coalesce(F.sum("n_occurrences"), F.lit(0)).alias("__tot"))
    )
    reps = totals.groupBy(group_col).agg(
        F.min_by(
            "surface", F.struct((-F.col("__tot")).alias("n"), F.col("surface").alias("s"))
        ).alias("rep_surface")
    )
    # left join, NULL-SAFE on the group key: groupBy treats NULL components
    # as a real group (as the old pandas path did), so the join-back must
    # too — a plain equi-join would silently strand NULL-component rows
    # with rep_surface NULL (review r4). A component whose surfaces are all
    # NULL still keeps its rows with rep_surface NULL.
    reps = reps.withColumnRenamed(group_col, "__grp")
    return (
        linked.join(reps, F.col(group_col).eqNullSafe(F.col("__grp")), "left")
        .select(*linked.columns, "rep_surface")
    )


def salt_keys(df: DataFrame, key_col: str, n_buckets: int = DEFAULT_SALT_BUCKETS) -> DataFrame:
    """Explicit hot-key salting for head entities: adds ``__salt``.
    Aggregations run (key, __salt) partial then key final — two short
    shuffles instead of one skewed one. AQE skew-join handles the join
    side; this handles groupBy.

    SCOPE: additive aggregations ONLY. NEVER salt join keys — the salt is
    positional, so identically-keyed rows on the two sides of a join land
    in different salt buckets and matching pairs are silently dropped
    (for a skewed join use AQE skew-join splitting, or broadcast/split
    the hot keys explicitly).

    The salt MUST NOT be a function of the key (review r5: a key-hash
    salt gives every row of a hot key the SAME salt — a no-op that keeps
    the skewed reducer while paying a second shuffle). It is derived from
    the row's physical position (monotonically_increasing_id), which
    spreads a hot key's rows across all ``n_buckets`` partial groups;
    salt VALUES vary across retries/partitionings, which is safe because
    the salt only routes rows — any per-key aggregate is identical for
    every salt assignment."""
    return df.withColumn(
        "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(n_buckets))
    )


def salted_count(df: DataFrame, key_col: str, n_buckets: int = DEFAULT_SALT_BUCKETS) -> DataFrame:
    """count per key via two-stage salted aggregation."""
    return (
        salt_keys(df, key_col, n_buckets)
        .groupBy(key_col, "__salt")
        .agg(F.count("*").alias("__partial"))
        .groupBy(key_col)
        .agg(F.sum("__partial").alias("n"))
    )
