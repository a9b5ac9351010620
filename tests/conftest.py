import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from rdf_i2b2_converter_spark.session import get_spark

    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def jobs_of(spark):
    """``jobs_of(fn)`` runs ``fn()`` under a fresh job group and returns
    the ids of the jobs it ran, and its result."""
    sc = spark.sparkContext

    def run(fn):
        group = f"jobs-of-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
            return list(sc.statusTracker().getJobIdsForGroup(group)), out
        finally:
            sc.setJobGroup("", "")

    return run


@pytest.fixture(scope="session")
def corpus(spark):
    """Shared small synthetic corpus (deterministic)."""
    from rdf_i2b2_converter_spark.sources import synthetic as syn

    n = 120
    return {
        "n": n,
        "pages": syn.gen_pages(spark, n, num_partitions=4).cache(),
        "gazetteer": syn.gen_gazetteer(spark).cache(),
        "ontology": syn.gen_ontology(spark).cache(),
        "alias_edges": syn.gen_alias_edges(spark).cache(),
    }
