"""Deterministic ID contracts — the reference's basecode determinism
(src/utils.py:112-127; shape test tests/test_i2b2wrappers.py:123-130)."""

import hashlib

from pyspark.sql import functions as F

from rdf_i2b2_converter_spark.functions.ids import chained_code, dense_id, mint_uri


def test_chained_code_matches_reference_scheme(spark):
    """code = sha256(parent_code + uri + '\\')[:50], recomputable from both
    the ontology and the data side (the join-key contract)."""
    df = spark.createDataFrame([("kg:Thing", None), ("kg:Org", "parentcode123")], "uri string, pc string")
    out = df.select(chained_code(F.col("pc"), "uri").alias("code"), "uri", "pc").collect()
    for row in out:
        prefix = row["pc"] or ""
        want = hashlib.sha256((prefix + row["uri"] + "\\").encode()).hexdigest()[:50]
        assert row["code"] == want
        assert len(row["code"]) == 50


def test_mint_uri_stable_across_runs_and_partitionings(spark):
    rows = [(f"u{i}", "kg:T", f"s{i%7}") for i in range(100)]
    df = spark.createDataFrame(rows, "source string, type string, surface string")
    for fn in ("xxhash64", "md5", "sha256"):
        a = df.repartition(1).select(mint_uri("source", "type", "surface", hash_fn=fn).alias("u"))
        b = df.repartition(9).select(mint_uri("source", "type", "surface", hash_fn=fn).alias("u"))
        assert sorted(r["u"] for r in a.collect()) == sorted(r["u"] for r in b.collect())


def test_mint_uri_distinct_inputs_distinct_uris(spark):
    rows = [(f"u{i}", "kg:T", f"s{i}") for i in range(500)]
    df = spark.createDataFrame(rows, "source string, type string, surface string")
    n = df.select(mint_uri("source", "type", "surface").alias("u")).distinct().count()
    assert n == 500


def test_dense_id_is_dense_and_deterministic(spark):
    df = spark.createDataFrame([(k,) for k in [30, 10, 20, 10, 30, 30]], "k int")
    m = {r["k"]: r["dense_id"] for r in dense_id(df, ["k"]).collect()}
    assert m == {10: 1, 20: 2, 30: 3}


def _window_ids(df, key_cols, id_col):
    """Reference numbering: the single-task global row_number window."""
    from pyspark.sql import Window

    w = Window.orderBy(*key_cols)
    return df.select(*key_cols).distinct().select(
        *key_cols, F.row_number().over(w).cast("long").alias(id_col)
    )


def test_dense_id_scalable_matches_window_variant(spark):
    """dense_id (driver-built under the cap) and dense_id_scalable
    (range-partition + per-partition offsets, no single-task global
    window) must produce the SAME dense numbering as a global row_number
    window, at any partitioning."""
    from rdf_i2b2_converter_spark.functions.ids import dense_id_scalable

    # duplicate keys + skewed distribution + multiple input partitions
    rows = [(f"p{i % 137:03d}", i % 7) for i in range(2000)]
    df = spark.createDataFrame(rows, "patient string, site int").repartition(16)

    a = _window_ids(df, ["patient", "site"], "n")
    d = dense_id(df, ["patient", "site"], "n")
    assert a.exceptAll(d).count() == 0 and d.exceptAll(a).count() == 0
    for n_parts in (1, 3, 32):
        b = dense_id_scalable(df, ["patient", "site"], "n", num_partitions=n_parts)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, n_parts
        assert b.count() == a.count()


def test_dense_id_takes_the_range_form_past_the_cap(spark, monkeypatch):
    """Past config.DRIVER_THRESHOLD distinct keys dense_id is the
    range-partitioned form: same ids and ``long`` type, no local
    relation. Under it, a local relation."""
    from rdf_i2b2_converter_spark.functions import ids

    df = spark.createDataFrame([(k,) for k in "qbzbaq"], "k string")
    want = {("a", 1), ("b", 2), ("q", 3), ("z", 4)}
    for cap, local in ((4, True), (3, False)):
        monkeypatch.setattr(ids, "DRIVER_THRESHOLD", cap)
        m = dense_id(df, ["k"])
        plan = m._jdf.queryExecution().executedPlan().toString()
        assert ("LocalTableScan" in plan) == local, (cap, plan)
        assert dict(m.dtypes)["dense_id"] == "bigint"
        assert {tuple(r) for r in m.collect()} == want
