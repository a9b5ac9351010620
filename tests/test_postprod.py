"""awk-postprod analogs: dense reindex, default fill, code replacement
(inner vs left), dedup-first, anti-join check — semantics pinned to
src/scripts/postprod.bash (SURVEY.md §3 entry point 3)."""

from pyspark.sql import functions as F

from rdf_i2b2_converter_spark.operators.postprod import (
    anti_join_check,
    dedup_first,
    fill_defaults,
    reindex,
    replace_codes_inner,
    replace_codes_left,
    row_ids,
)


def test_reindex_dense_and_mapped(spark):
    fact = spark.createDataFrame([("p9", 1), ("p2", 2), ("p9", 3)], "pid string, v int")
    rewritten, mapping = reindex(fact, "pid", "pnum")
    m = {r["pid"]: r["new_id"] for r in mapping.collect()}
    assert m == {"p2": 1, "p9": 2}
    got = {(r["v"]): r["pnum"] for r in rewritten.collect()}
    assert got == {1: 2, 2: 1, 3: 2}


def test_reindex_mapping_computed_once(spark, tmp_path):
    """The broadcast branch materializes its mapping: once the mapping is
    written, the rewritten fact reads it back instead of re-running the
    single-task numbering window."""
    fact = spark.createDataFrame([("p9", 1), ("p2", 2), ("p9", 3)], "pid string, v int")
    rewritten, mapping = reindex(fact, "pid", "pnum")
    mapping.write.parquet(str(tmp_path / "mapping"))
    plan = rewritten._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert {(r["v"], r["pnum"]) for r in rewritten.collect()} == {(1, 2), (2, 1), (3, 2)}


def test_fill_defaults(spark):
    df = spark.createDataFrame(
        [(None, "x"), (5, None)], "enc int, provider string"
    )
    out = fill_defaults(df, {"enc": -1, "provider": "@"}).collect()
    vals = {(r["enc"], r["provider"]) for r in out}
    assert vals == {(-1, "x"), (5, "@")}


def test_replace_inner_drops_unmatched(spark):
    fact = spark.createDataFrame([("a", "v1"), ("b", "v2")], "k string, code string")
    lk = spark.createDataFrame([("a", "HASHED")], "k string, code string")
    out = replace_codes_inner(fact, lk, "k", "code").collect()
    assert len(out) == 1 and out[0]["code"] == "HASHED"


def test_replace_left_keeps_unmatched(spark):
    fact = spark.createDataFrame([("a", "v1"), ("b", "v2")], "k string, code string")
    lk = spark.createDataFrame([("a", "HASHED")], "k string, code string")
    got = {r["k"]: r["code"] for r in replace_codes_left(fact, lk, "k", "code").collect()}
    assert got == {"a": "HASHED", "b": "v2"}


def test_dedup_first_deterministic(spark):
    rows = [("u1", "t2", 9), ("u1", "t1", 1), ("u1", "t1", 2)]
    df = spark.createDataFrame(rows, "u string, t string, seq int")
    out = dedup_first(df, ["u", "t"], ["seq"]).collect()
    got = {(r["u"], r["t"]): r["seq"] for r in out}
    assert got == {("u1", "t1"): 1, ("u1", "t2"): 9}


def test_row_ids_zero_based(spark):
    df = spark.createDataFrame([("b",), ("a",)], "k string")
    got = {r["k"]: r["row_id"] for r in row_ids(df, ["k"]).collect()}
    assert got == {"a": 0, "b": 1}


def test_anti_join_check(spark):
    fact = spark.createDataFrame([("c1",), ("c2",), ("c1",)], "code string")
    dim = spark.createDataFrame([("c1",)], "code string")
    bad = anti_join_check(fact, dim, "code").collect()
    assert [r["code"] for r in bad] == ["c2"]


def test_reindex_scalable_matches_default(spark):
    """scalable=True (range-partitioned numbering + shuffle join) must
    produce the same rewritten fact as the broadcast-window default."""
    from pyspark.sql import functions as F

    from rdf_i2b2_converter_spark.operators.postprod import reindex

    fact = spark.createDataFrame(
        [(f"enc{i % 43:02d}", i) for i in range(500)], "encounter string, row int"
    ).repartition(8)
    a, ma = reindex(fact, "encounter", "enc_num")
    b, mb = reindex(fact, "encounter", "enc_num", scalable=True)
    an = a.select("row", F.col("enc_num").cast("long").alias("n"))
    bn = b.select("row", F.col("enc_num").cast("long").alias("n"))
    assert an.exceptAll(bn).count() == 0 and bn.exceptAll(an).count() == 0
    assert ma.count() == mb.count() == 43
