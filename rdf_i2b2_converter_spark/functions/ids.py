"""Deterministic ID minting and hash-chained codes.

Re-realizes the reference's I2B2BasecodeHandler.reduce_basecode contract
(src/utils.py:89-127): IDs are pure functions of stable inputs (URIs /
canonical keys), never of iteration order, so the same input yields the
same ID across runs, partitionings and cluster sizes. That determinism is
what makes the ontology<->fact join key work in the reference, and what
makes our two-parallelism-level scaling run also a correctness check.

All functions are pure Column expressions (JVM-side, whole-stage codegen);
no Python executes per row.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import MAX_BASECODE_LENGTH

#: Canonical key separator. '|' cannot appear in our canonical components
#: (surfaces are tokenized alphanumerics, URIs use ':' '/').
SEP = "|"


def canonical_key(*parts: Column | str) -> Column:
    """``concat_ws`` of the canonical (source, type, surface, ...) parts.

    Mirrors the reference's chained string build (prefix + uri + "\\",
    src/utils.py:120-126) but flat: one concat instead of a recursion.
    """
    return F.concat_ws(SEP, *[F.col(p) if isinstance(p, str) else p for p in parts])


def mint_uri(*parts: Column | str, prefix: str = "kg:e/", hash_fn: str = "xxhash64") -> Column:
    """Deterministic entity URI from canonical parts.

    ``xxhash64`` (default): 8-byte key, cheapest to shuffle/join at 10^12
    rows. ``md5``/``sha256``: hex-string variants (md5 is the DuckDB-parity
    choice for the driver oracle; sha256[:50] mirrors the reference's
    basecode shape, src/utils.py:127).
    """
    key = canonical_key(*parts)
    if hash_fn == "xxhash64":
        # map to non-negative hex so URIs are clean identifiers
        h = F.lower(F.hex(F.xxhash64(key)))
    elif hash_fn == "md5":
        h = F.md5(key)
    elif hash_fn == "sha256":
        h = F.sha2(key, 256).substr(1, MAX_BASECODE_LENGTH)
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn}")
    return F.concat(F.lit(prefix), h)


def chained_code(parent_code: Column | None, uri: Column | str, cap: int = MAX_BASECODE_LENGTH) -> Column:
    """Hash-chained basecode: ``sha256(parent_code + uri + '\\')[:cap]``.

    Exact re-realization of reduce_basecode (src/utils.py:112-127): the code
    of a node embeds its logical parent's code, so equal subtrees under
    different parents get distinct codes, and the data pipeline can recompute
    the same code independently (src/data_loader.py:250-255,278-282).
    """
    uri_c = F.col(uri) if isinstance(uri, str) else uri
    suffixed = F.concat(uri_c, F.lit("\\"))
    to_hash = suffixed if parent_code is None else F.concat(F.coalesce(parent_code, F.lit("")), suffixed)
    return F.sha2(to_hash, 256).substr(1, cap)


def dense_id(df, key_cols: list[str], id_col: str = "dense_id"):
    """Dense 1..N integer IDs over the distinct keys, deterministically ordered.

    Analog of the awk first-seen counter reindex (src/scripts/postprod.bash:
    109-116,131-138) — but ordered by key, not encounter order, so the result
    is identical at any parallelism (SURVEY.md §7.4 #3). Returns a mapping
    DataFrame (key_cols..., id_col) to be broadcast-joined back (C8).

    Scale note: row_number over a global window single-tasks the mapping
    build. That is fine when distinct keys << facts (patients vs
    observations); for truly huge key sets use :func:`dense_id_scalable`.
    """
    from pyspark.sql import Window

    w = Window.orderBy(*key_cols)
    return df.select(*key_cols).distinct().withColumn(id_col, F.row_number().over(w))


def dense_id_scalable(df, key_cols: list[str], id_col: str = "dense_id", num_partitions: int | None = None):
    """Same contract as :func:`dense_id` (dense 1..N ids in global key
    order, parallelism-independent) without the single-task global window:

    1. range-partition the distinct keys (a sampled-boundary shuffle — the
       same mechanism as a distributed sort) and sort within partitions;
    2. count rows per partition (one lightweight agg) and cumulate the
       counts into per-partition OFFSETS with a window over the TINY
       counts relation (<= num_partitions rows — the single-task window
       here is over dozens of rows, not the key set);
    3. stamp ``offset + local row_number`` partition-locally via a window
       keyed on the partition id — every partition numbers itself in
       parallel.

    At 10^9+ distinct keys this is two shuffles of the key set and zero
    serial stages, vs dense_id's one shuffle into ONE task. The result is
    bit-identical to dense_id (asserted in tests): range partitions are
    globally ordered, so offsets + local ranks compose to the global rank.

    No collect at plan-build (review r3): the old form eagerly
    materialized the checkpoint AND collected counts to the driver while
    merely composing the plan. Now Spark's own RangePartitioner boundary
    sketch runs at build (inherent to repartitionByRange — it samples when
    the RDD is created), and under AQE the lazy checkpoint still runs the
    upstream shuffle stages (the distinct) as jobs at the call; the
    numbering itself waits for an action. The
    localCheckpoint(eager=False) pins the sampled boundaries — both the
    counts subtree and the probe subtree reference the SAME checkpointed
    plan, so boundaries are drawn once and shared; without it the two
    subtrees could re-sample differently and silently misnumber.
    """
    from pyspark.sql import Window

    keys = df.select(*key_cols).distinct()
    n_parts = num_partitions or keys.sparkSession.sparkContext.defaultParallelism
    ranged = (
        keys.repartitionByRange(n_parts, *key_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        ranged.groupBy("__pid")
        .agg(F.count("*").alias("__n"))
        .select("__pid", F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off"))
    )
    w = Window.partitionBy("__pid").orderBy(*key_cols)
    return (
        ranged.join(F.broadcast(offs), "__pid", "left")
        .withColumn(
            id_col,
            (F.row_number().over(w) + F.coalesce(F.col("__off"), F.lit(0))).cast("long"),
        )
        .drop("__pid", "__off")
    )
