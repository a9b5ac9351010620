"""Post-production operators: the awk pipeline as DataFrame ops.

src/scripts/postprod.bash is, operator for operator, a broadcast-hash-join
pipeline written in awk (SURVEY.md §3 entry point 3). Each function here is
the Spark form; together with functions/ids.dense_id they replace the whole
bash stage with ~6 Catalyst-fused DataFrame operations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.ids import dense_id


def dedup_first(df: DataFrame, keys: list[str], order_by: list[str]) -> DataFrame:
    """Distinct preserving a deterministic 'first' (awk '!visited[$0]++',
    src/scripts/postprod.bash:103, operator D2) — implemented as
    row_number over an EXPLICIT order so the result is identical at any
    parallelism, unlike dropDuplicates."""
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc() for c in order_by])
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def reindex(
    fact: DataFrame, id_col: str, new_col: str | None = None, scalable: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Dense integer reindex of an identifier column (reindex_encounters /
    reindex_patients, src/scripts/postprod.bash:109-149, operators E2+C8):
    returns (rewritten fact, mapping table).

    ``scalable=False`` (default): mapping via the single-task global
    window (functions/ids.dense_id) and a broadcast join back — right when
    distinct keys << facts (patients vs observations). ``scalable=True``:
    range-partitioned per-partition-offset numbering
    (functions/ids.dense_id_scalable, same values bit-for-bit) and a
    SHUFFLE join back — right when the key set itself is huge (billions of
    patients: neither a one-task window nor a broadcast fits)."""
    from ..functions.ids import dense_id_scalable

    new_col = new_col or id_col
    if scalable:
        mapping = dense_id_scalable(fact, [id_col], "new_id")
        joined = fact.join(mapping, id_col, "left")
    else:
        # computed once: the mapping write and every action on the
        # rewritten fact read the same numbering instead of re-running
        # the single-task window (under AQE the checkpoint runs the
        # mapping's shuffle stages here, at the call)
        mapping = dense_id(fact, [id_col], "new_id").localCheckpoint(eager=False)
        joined = fact.join(F.broadcast(mapping), id_col, "left")
    rewritten = joined.withColumn(
        new_col, F.coalesce(F.col("new_id"), F.lit(-1))
    ).drop("new_id")
    return rewritten, mapping


def fill_defaults(df: DataFrame, defaults: dict[str, object]) -> DataFrame:
    """Default-value fill (fill_default_values, src/scripts/postprod.bash:
    62-65: -1 encounter, '@' provider, end-of-year date; operator H8)."""
    for col, val in defaults.items():
        df = df.withColumn(col, F.coalesce(F.col(col), F.lit(val)))
    return df


def replace_codes_inner(fact: DataFrame, lookup: DataFrame, key: str, code_col: str) -> DataFrame:
    """Verbose->hashed code replacement with INNER semantics — rows whose
    key misses the lookup are DROPPED, matching the awk '(a[$3])' guard
    (src/scripts/postprod.bash:89-90, operator C7)."""
    lk = lookup.select(F.col(key), F.col(code_col).alias("__code"))
    return fact.join(F.broadcast(lk), key, "inner").withColumn(code_col, F.col("__code")).drop("__code")


def replace_codes_left(fact: DataFrame, lookup: DataFrame, key: str, code_col: str) -> DataFrame:
    """Left-join replacement — rows always kept, unmatched keep original
    (src/scripts/postprod.bash:124-126,146-148, operator C8)."""
    lk = lookup.select(F.col(key), F.col(code_col).alias("__code"))
    return (
        fact.join(F.broadcast(lk), key, "left")
        .withColumn(code_col, F.coalesce(F.col("__code"), F.col(code_col)))
        .drop("__code")
    )


def row_ids(df: DataFrame, order_by: list[str], col: str = "row_id") -> DataFrame:
    """Deterministic monotonic row id (TEXT_SEARCH_INDEX = FNR-1,
    src/scripts/postprod.bash:63, operator E3) — row_number over an explicit
    order. For petabyte tables prefer zipWithIndex-style per-partition
    offsets; this global-window form is for dimension-sized tables."""
    w = Window.orderBy(*order_by)
    return df.withColumn(col, F.row_number().over(w) - 1)


def anti_join_check(fact: DataFrame, dim: DataFrame, key: str) -> DataFrame:
    """Referential-integrity anti-join (check_basecodes,
    src/scripts/obs_tools.py:5-29, operator C10): fact keys absent from the
    dimension. Empty result == consistent."""
    return fact.select(key).distinct().join(F.broadcast(dim.select(key)), key, "left_anti")
