"""Input generators: determinism, the taxonomy's shape, metric names."""

import hashlib
import inspect
import json
import os
import re

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import gen
import layers

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _generate(name: str, out: str, seed: int) -> None:
    if name == "crawl_kg":
        gen.crawl_kg(out, seed, 50)
    elif name == "rdf_facts":
        gen.rdf_facts(out, seed, 40)
    else:
        os.makedirs(out)
        gen.taxonomy(os.path.join(out, "taxonomy.parquet"), seed, 300, 6)


def _digests(d: str) -> dict[str, str]:
    out = {}
    for base, _, files in os.walk(d):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("name", ["crawl_kg", "rdf_facts", "taxonomy"])
def test_seed_determines_the_bytes(tmp_path, name):
    runs = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        _generate(name, str(tmp_path / tag), seed)
        runs[tag] = _digests(str(tmp_path / tag))
    assert runs["a"] and runs["a"] == runs["b"]
    assert runs["a"] != runs["c"]


def test_taxonomy_takes_the_distributed_closure(tmp_path):
    """Above close_ontology's driver threshold in class rows, below its
    round bound in depth."""
    from rdf_i2b2_converter_spark.operators.closure import close_ontology

    from workloads import TAXONOMY_CLASSES, TAXONOMY_DEPTH

    params = inspect.signature(close_ontology).parameters
    path = str(tmp_path / "taxonomy.parquet")
    expected = gen.taxonomy(path, 1, TAXONOMY_CLASSES, TAXONOMY_DEPTH)
    table = pq.read_table(path)
    class_rows = table.filter(pc.equal(table["kind"], "class")).num_rows
    assert class_rows == expected["class_rows"]
    assert class_rows > params["driver_threshold"].default
    assert TAXONOMY_DEPTH < params["max_rounds"].default


def test_metric_names():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert all(re.fullmatch(r"[A-Za-z0-9_.-]+", n) for n in names)
    assert len(names) == len(set(names))
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.PER_LAYER
    fake = [{"s": 2.0, "driver_mb": 1.0, "pyworkers_mb": 2.0, "problems": []}]

    class W:
        records = 10

    e2e = run.end_to_end(W, fake, setup_s=5.0, attempted=1, failed=0)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {k: u for k, (_, u) in e2e.items()}
