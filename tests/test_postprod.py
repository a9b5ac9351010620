"""awk-postprod analogs: dense reindex, default fill, code replacement
(inner vs left), dedup-first, anti-join check — semantics pinned to
src/scripts/postprod.bash (SURVEY.md §3 entry point 3)."""

from rdf_i2b2_converter_spark.functions import ids
from rdf_i2b2_converter_spark.operators.postprod import (
    anti_join_check,
    dedup_first,
    fill_defaults,
    reindex,
    replace_codes_inner,
    replace_codes_left,
    row_ids,
)


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_reindex_dense_and_mapped(spark):
    fact = spark.createDataFrame([("p9", 1), ("p2", 2), ("p9", 3)], "pid string, v int")
    rewritten, mapping = reindex(fact, "pid", "pnum")
    m = {r["pid"]: r["new_id"] for r in mapping.collect()}
    assert m == {"p2": 1, "p9": 2}
    got = {(r["v"]): r["pnum"] for r in rewritten.collect()}
    assert got == {1: 2, 2: 1, 3: 2}


def test_reindex_mapping_computed_once(spark, tmp_path):
    """A small mapping is built once, on the driver: writing it and
    reading the rewritten fact run no numbering window."""
    fact = spark.createDataFrame([("p9", 1), ("p2", 2), ("p9", 3)], "pid string, v int")
    rewritten, mapping = reindex(fact, "pid", "pnum")
    mapping.write.parquet(str(tmp_path / "mapping"))
    plan = _plan(rewritten)
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


def test_reindex_scalable_matches_default(spark, monkeypatch):
    """Past the driver cap, reindex numbers with the range-partitioned
    functions/ids.dense_id_scalable; it rewrites the fact exactly as the
    driver-built mapping does."""
    fact = spark.createDataFrame(
        [(f"enc{i % 43:02d}", i) for i in range(500)], "encounter string, row int"
    ).repartition(8)
    a, ma = reindex(fact, "encounter", "enc_num")
    monkeypatch.setattr(ids, "DRIVER_THRESHOLD", 0)
    b, mb = reindex(fact, "encounter", "enc_num")
    assert "LocalTableScan" in _plan(ma) and "LocalTableScan" not in _plan(mb)
    an, bn = a.select("row", "enc_num"), b.select("row", "enc_num")
    assert an.exceptAll(bn).count() == 0 and bn.exceptAll(an).count() == 0
    assert ma.count() == mb.count() == 43


def test_reindex_ids_are_long_on_both_numbering_forms(spark, monkeypatch):
    """The mapping's new_id and the rewritten column are ``long`` on the
    driver form and the range form alike (the PATIENT_MAPPING /
    ENCOUNTER_MAPPING type)."""
    fact = spark.createDataFrame([("p9", 1), ("p2", 2), (None, 3)], "pid string, v int")
    for form in ("driver", "range"):
        if form == "range":
            monkeypatch.setattr(ids, "DRIVER_THRESHOLD", 0)
        rewritten, mapping = reindex(fact, "pid", "pnum")
        assert dict(mapping.dtypes)["new_id"] == "bigint", form
        assert dict(rewritten.dtypes)["pnum"] == "bigint", form
        assert {(r["v"], r["pnum"]) for r in rewritten.collect()} == {(1, 3), (2, 2), (3, -1)}
