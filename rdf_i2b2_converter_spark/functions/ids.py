"""Deterministic ID minting and hash-chained codes.

Re-realizes the reference's I2B2BasecodeHandler.reduce_basecode contract
(src/utils.py:89-127): IDs are pure functions of stable inputs (URIs /
canonical keys), never of iteration order, so the same input yields the
same ID across runs, partitionings and cluster sizes. That determinism is
what makes the ontology<->fact join key work in the reference, and what
makes our two-parallelism-level scaling run also a correctness check.

The ID and code functions are pure Column expressions (JVM-side,
whole-stage codegen); the dense numberings return mapping DataFrames.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DRIVER_THRESHOLD, MAX_BASECODE_LENGTH
from ..operators.fixpoint import small_side

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
    """Dense 1..N ``long`` IDs over the distinct keys, in key order.

    Analog of the awk first-seen counter reindex (src/scripts/postprod.bash:
    109-116,131-138) — but ordered by key, not encounter order, so the result
    is identical at any parallelism (SURVEY.md §7.4 #3). Returns a mapping
    DataFrame (key_cols..., id_col) to be joined back (C8).

    Up to ``config.DRIVER_THRESHOLD`` distinct keys: the keys in Spark's
    sort order, numbered on the driver (``fixpoint.small_side``; a local
    relation, broadcast by its exact size). Above it:
    :func:`dense_id_scalable`. Both forms give the same ids."""
    keys = df.select(*key_cols).distinct().orderBy(*key_cols)
    schema = T.StructType(
        [df.schema[c] for c in key_cols] + [T.StructField(id_col, T.LongType(), False)]
    )

    def number(rows, _cap):
        return [(*r, i) for i, r in enumerate(rows, 1)]

    small = small_side([keys], DRIVER_THRESHOLD, number, schema)
    return small if small is not None else dense_id_scalable(df, key_cols, id_col)


def dense_id_scalable(df, key_cols: list[str], id_col: str = "dense_id", num_partitions: int | None = None):
    """Same contract as :func:`dense_id` (dense 1..N ids in global key
    order, parallelism-independent) for key sets too large for the
    driver, without a single-task global window:

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
    serial stages, vs a global row_number window's one shuffle into ONE
    task. The result is bit-identical to that window (asserted in tests):
    range partitions are globally ordered, so offsets + local ranks
    compose to the global rank.

    Plan build runs only what the lazy checkpoint of the range-partitioned
    keys runs by itself: the RangePartitioner's boundary sketch and, under
    AQE, the distinct's shuffle stage; the numbering waits for an action.
    The checkpoint pins the sampled boundaries: the counts subtree and the
    probe subtree read the same partitions, so they cannot re-sample
    differently and silently misnumber.
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
