"""The workloads: inputs, one run of the product flow, output checks.

Each workload generates its inputs once (set-up), then ``run`` executes the
product flow from inputs on disk to outputs committed, including the
product's own checks, and ``check`` verifies the outputs outside the timer.
Checks keep only counts and order-independent hashes in the driver:
``bit_xor`` of ``xxhash64`` over all output columns, which must read the
same on every run of one seed.

``layers`` runs only in a traced invocation: it calls single product
functions over materialised inputs (``localCheckpoint``) and executes
their plans into Spark's ``noop`` sink, so each span holds that layer's
own time. It returns layer values and the problems its checks found.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import gen
from spans import NO_TRACE

from rdf_i2b2_converter_spark.config import PRED_SURFACE_FORM
from rdf_i2b2_converter_spark.functions.text import extract_text
from rdf_i2b2_converter_spark.operators.canonicalize import connected_components
from rdf_i2b2_converter_spark.operators.closure import attach_properties, close_ontology
from rdf_i2b2_converter_spark.operators.emit import emit_triples
from rdf_i2b2_converter_spark.operators.mentions import detect_mentions, link_mentions
from rdf_i2b2_converter_spark.operators.postprod import anti_join_check, reindex
from rdf_i2b2_converter_spark.operators.rdfq import class_instances
from rdf_i2b2_converter_spark.plans.data_pipeline import assign_subtrees, extract_observations
from rdf_i2b2_converter_spark.plans.ontology_pipeline import run_ontology_pipeline
from rdf_i2b2_converter_spark.plans.pipeline import run_pipeline
from rdf_i2b2_converter_spark.sources.rdf import read_turtle, turtle_doc_chunk_bytes

#: Input sizes (see BASELINE.md for how they were chosen).
CRAWL_PAGES = 32_000
RDF_INSTANCES = 300
#: The KG's type taxonomy, closed in crawl_kg's traced pass: above
#: close_ontology's 100k-row driver threshold once the multi-parent rows
#: are added, so the distributed closure loop runs, one job per level.
TAXONOMY_CLASSES = 97_000
TAXONOMY_DEPTH = 12

#: Sink partitions of crawl_kg's triples table.
CRAWL_PARTS = 16


def fingerprint(df) -> tuple[int, int]:
    """(rows, bit_xor of xxhash64 over every column): equal for equal row
    multisets in any order (a row that occurs twice cancels in the hash
    but not in the count)."""
    row = df.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*df.columns))).first()
    return int(row[0]), int(row[1] or 0)


def noop(df) -> None:
    """Execute ``df``'s plan fully and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    record_kind = ""
    #: Fewest timed runs of an untraced invocation, however long they take.
    min_timed = 1

    def __init__(self, spark, in_dir: str, seed: int):
        self.spark = spark
        self.in_dir = in_dir
        self.seed = seed
        self.records = 0
        self._fingerprints: dict[str, tuple[int, int]] | None = None

    def run(self, out_dir: str, tr=NO_TRACE):
        raise NotImplementedError

    def check(self, out_dir: str, result) -> list[str]:
        raise NotImplementedError

    def layers(self, tr, out_dir: str) -> tuple[dict[str, float], list[str]]:
        raise NotImplementedError

    def _same_as_first(self, fps: dict[str, tuple[int, int]]) -> list[str]:
        if self._fingerprints is None:
            self._fingerprints = fps
            return []
        return [
            f"{k}: fingerprint {fps[k]} differs from the first run's {v}"
            for k, v in self._fingerprints.items()
            if fps[k] != v
        ]

    def _read(self, name: str):
        return self.spark.read.parquet(os.path.join(self.in_dir, name))


class CrawlKG(Workload):
    """Pages -> ``run_pipeline`` -> partitioned parquet sink, ledger and
    metrics tail; with gazetteer, alias graph and a closed 17-row ontology."""

    name = "crawl_kg"
    record_kind = "pages"
    # the first timed run is still warming up; a slow spell of the host
    # would otherwise leave it as the only one
    min_timed = 2

    def __init__(self, spark, in_dir, seed):
        super().__init__(spark, in_dir, seed)
        self.records = gen.crawl_kg(in_dir, seed, CRAWL_PAGES)["records"]
        self.oracle = fingerprint(self._read("oracle_pairs.parquet"))

    def _inputs(self):
        return (
            self._read("pages"),
            self._read("gazetteer.parquet"),
            self._read("alias_edges.parquet"),
            self._read("ontology.parquet"),
        )

    def run(self, out_dir, tr=NO_TRACE):
        pages, gazetteer, alias_edges, ontology = self._inputs()
        with tr.span("closure.close_ontology"):
            closed = close_ontology(ontology)
        with tr.span("pipeline.run_pipeline"):
            _, metrics = run_pipeline(
                self.spark, pages, gazetteer, ontology_closed=closed,
                alias_edges=alias_edges, sink_dir=out_dir, n_parts=CRAWL_PARTS,
            )
        return metrics

    def check(self, out_dir, metrics):
        problems = []
        if metrics.n_integrity_violations:
            problems.append(f"n_integrity_violations = {metrics.n_integrity_violations}")
        if metrics.n_extract_mismatches:
            problems.append(f"n_extract_mismatches = {metrics.n_extract_mismatches}")
        triples = self.spark.read.parquet(os.path.join(out_dir, "triples"))
        surface = triples.filter(F.col("pred") == PRED_SURFACE_FORM).select(
            F.col("source_url").alias("url"), F.col("obj").alias("surface")
        )
        pairs = fingerprint(surface)
        if pairs != self.oracle:
            problems.append(f"(url, surface) pairs {pairs} != gen_doc oracle {self.oracle}")
        return problems + self._same_as_first({"triples": fingerprint(triples)})

    def layers(self, tr, out_dir):
        pages, gazetteer, alias_edges, _ = self._inputs()
        pages = pages.localCheckpoint()
        html_only = pages.filter(F.col("text").isNull())
        with tr.span("text.extract_text"):
            noop(html_only.withColumn("text", extract_text(F.col("html"))))
        texted = (
            pages.filter(F.col("text").isNotNull())
            .unionByName(html_only.withColumn("text", extract_text(F.col("html"))))
            .localCheckpoint()
        )
        passthrough = ("lang", "warc_ts")
        with tr.span("mentions.detect_mentions"):
            noop(detect_mentions(texted, gazetteer, passthrough_cols=passthrough))
        mentions = detect_mentions(texted, gazetteer, passthrough_cols=passthrough).localCheckpoint()
        with tr.span("mentions.link_mentions"):
            noop(link_mentions(mentions, gazetteer))
        linked = link_mentions(mentions, gazetteer).localCheckpoint()
        with tr.span("canonicalize.connected_components"):
            mapping = connected_components(alias_edges)
        mapping = mapping.localCheckpoint()
        with tr.span("emit.emit_triples"):
            noop(emit_triples(linked, canonical_mapping=mapping, n_parts=CRAWL_PARTS, dedup=False))
        n_mentions = mentions.count()
        values = {"mentions.link_ratio": linked.count() / n_mentions if n_mentions else 0.0}
        return values, self._taxonomy_layers(tr, out_dir)

    def _taxonomy_layers(self, tr, out_dir) -> list[str]:
        """Close a generated type taxonomy for the KG and write its four
        star-schema tables (the ``cli.py ontology`` flow)."""
        path = os.path.join(self.in_dir, "taxonomy.parquet")
        expected = gen.taxonomy(path, self.seed, TAXONOMY_CLASSES, TAXONOMY_DEPTH)
        ontology = self.spark.read.parquet(path)
        # the flow closes the taxonomy itself; doing it first makes the
        # spanned calls below warm
        outs = run_ontology_pipeline(ontology)
        with tr.span("closure.close_ontology"):
            closed = close_ontology(ontology)
        with tr.span("closure.attach_properties"):
            attach_properties(closed, ontology)
        with tr.span("ontology_pipeline.write"):
            for name, df in outs.items():
                df.write.parquet(os.path.join(out_dir, name))
        want = {
            "metadata": expected["expected_metadata"],
            "concept_dimension": expected["expected_concepts"],
            "modifier_dimension": expected["expected_modifiers"],
            "table_access": expected["expected_table_access"],
        }
        got = {t: self.spark.read.parquet(os.path.join(out_dir, t)).count() for t in want}
        return [f"{t}: {got[t]} rows, generator expects {n}" for t, n in want.items() if got[t] != n]


class RdfFacts(Workload):
    """Turtle instance graph -> ``read_turtle`` -> ``extract_observations``
    -> ``reindex`` of patient, then encounter -> parquet writes ->
    ``anti_join_check`` (the ``cli.py data`` flow)."""

    name = "rdf_facts"
    record_kind = "instances"

    def __init__(self, spark, in_dir, seed):
        super().__init__(spark, in_dir, seed)
        expected = gen.rdf_facts(in_dir, seed, RDF_INSTANCES)
        self.records = expected["records"]
        self.expected = expected
        self.violations = 0  # of the latest run

    def _triples(self):
        return read_turtle(
            self.spark, self.in_dir, expand_prefixes=False,
            chunk_bytes=turtle_doc_chunk_bytes(self.spark, self.in_dir),
        )

    def run(self, out_dir, tr=NO_TRACE):
        with tr.span("rdf.read_turtle"):
            triples = self._triples()
        with tr.span("data_pipeline.extract_observations"):
            obs = extract_observations(triples, list(gen.ENTRY_CLASSES))
        obs, patient_map = reindex(obs, "patient_num")
        obs, encounter_map = reindex(obs, "encounter_num")
        patient_map.write.parquet(os.path.join(out_dir, "patient_mapping"))
        encounter_map.write.parquet(os.path.join(out_dir, "encounter_mapping"))
        obs.write.parquet(os.path.join(out_dir, "observation_fact"))
        with tr.span("postprod.anti_join_check"):
            fact = self.spark.read.parquet(os.path.join(out_dir, "observation_fact"))
            dim = self.spark.read.parquet(os.path.join(out_dir, "patient_mapping")).select(
                F.col("new_id").alias("patient_num")
            )
            violations = anti_join_check(fact, dim, "patient_num").count()
        self.violations = violations
        return {"violations": violations}

    def check(self, out_dir, result):
        problems = []
        if result["violations"]:
            problems.append(f"anti_join_check found {result['violations']} patients")
        fps = {
            t: fingerprint(self.spark.read.parquet(os.path.join(out_dir, t)))
            for t in ("observation_fact", "patient_mapping", "encounter_mapping")
        }
        if fps["observation_fact"][0] != self.expected["expected_observations"]:
            problems.append(
                f"{fps['observation_fact'][0]} observations, generator expects "
                f"{self.expected['expected_observations']}"
            )
        if fps["patient_mapping"][0] != self.expected["expected_patients"]:
            problems.append(
                f"{fps['patient_mapping'][0]} patients, generator expects "
                f"{self.expected['expected_patients']}"
            )
        return problems + self._same_as_first(fps)

    def layers(self, tr, out_dir):
        triples = self._triples().localCheckpoint()
        roots = class_instances(triples, list(gen.ENTRY_CLASSES))
        with tr.span("data_pipeline.assign_subtrees"):
            assign_subtrees(triples, roots)
        obs = extract_observations(triples, list(gen.ENTRY_CLASSES))
        with tr.span("data_pipeline.extract_observations.exec"):
            noop(obs)
        obs = obs.localCheckpoint()
        with tr.span("postprod.reindex"):
            obs, _ = reindex(obs, "patient_num")
            obs, _ = reindex(obs, "encounter_num")
            noop(obs)
        return {"postprod.anti_join_check.violations": self.violations}, []


WORKLOADS = {w.name: w for w in (CrawlKG, RdfFacts)}
