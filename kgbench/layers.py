"""Per-layer metrics of a traced invocation, from spans and the event log.

Each layer is named after the product module whose public function the
benchmark called. A metric reads 0 on a workload that never calls its
layer. ``stage_runs`` counts stage runs holding the layer's Python
operator; the minimum is one per operator, so the excess is wasted work.
"""

from __future__ import annotations

import statistics

from eventlog import EventLog, python_stage_runs, totals
from spans import Tracer

#: name -> unit, in the order BENCHMARK.json lists them
PER_LAYER: dict[str, str] = {
    "session.jobs": "count",
    "session.stages": "count",
    "session.tasks": "count",
    "session.executor_run_s": "s",
    "session.executor_cpu_s": "s",
    "session.shuffle_write_mb": "MB",
    "session.spill_mb": "MB",
    "session.gc_s": "s",
    "session.task_offcpu_frac": "fraction",
    "text.extract_text.s": "s",
    "mentions.detect_mentions.s": "s",
    "mentions.link_mentions.s": "s",
    "emit.emit_triples.s": "s",
    "text.extract_text.stage_runs": "count",
    "mentions.detect_mentions.stage_runs": "count",
    "mentions.link_ratio": "fraction",
    "pipeline.pre_write.s": "s",
    "pipeline.sink_write.s": "s",
    "pipeline.post_write.s": "s",
    "pipeline.post_write_share": "fraction",
    "canonicalize.connected_components.compose_s": "s",
    "rdf.read_turtle.compose_s": "s",
    "rdf.read_turtle.stage_runs": "count",
    "data_pipeline.assign_subtrees.compose_s": "s",
    "data_pipeline.assign_subtrees.jobs": "count",
    "data_pipeline.extract_observations.compose_s": "s",
    "data_pipeline.extract_observations.exec_s": "s",
    "data_pipeline.dfs.stage_runs": "count",
    "postprod.reindex.s": "s",
    "postprod.anti_join_check.s": "s",
    "postprod.anti_join_check.violations": "count",
    "closure.close_ontology.compose_s": "s",
    "closure.close_ontology.jobs": "count",
    "closure.close_ontology.rounds": "count",
    "closure.attach_properties.compose_s": "s",
    "closure.attach_properties.jobs": "count",
    "ontology_pipeline.write.s": "s",
    "ontology_pipeline.write.shuffle_write_mb": "MB",
    "mem.driver_mb": "MB",
    "mem.jvm_mb": "MB",
    "mem.pyworkers_mb": "MB",
    "trace.overhead_s": "s",
}

#: metric -> span whose wall time it is
_SECONDS = {
    "text.extract_text.s": "text.extract_text",
    "mentions.detect_mentions.s": "mentions.detect_mentions",
    "mentions.link_mentions.s": "mentions.link_mentions",
    "emit.emit_triples.s": "emit.emit_triples",
    "canonicalize.connected_components.compose_s": "canonicalize.connected_components",
    "rdf.read_turtle.compose_s": "rdf.read_turtle",
    "data_pipeline.assign_subtrees.compose_s": "data_pipeline.assign_subtrees",
    "data_pipeline.extract_observations.compose_s": "data_pipeline.extract_observations",
    "data_pipeline.extract_observations.exec_s": "data_pipeline.extract_observations.exec",
    "postprod.reindex.s": "postprod.reindex",
    "postprod.anti_join_check.s": "postprod.anti_join_check",
    "closure.close_ontology.compose_s": "closure.close_ontology",
    "closure.attach_properties.compose_s": "closure.attach_properties",
    "ontology_pipeline.write.s": "ontology_pipeline.write",
}

#: metric -> span whose Spark jobs it counts
_JOBS = {
    "data_pipeline.assign_subtrees.jobs": "data_pipeline.assign_subtrees",
    "closure.close_ontology.jobs": "closure.close_ontology",
    "closure.attach_properties.jobs": "closure.attach_properties",
}

#: metric -> (Python operator, span that marks the layer as called). The
#: count runs over the whole traced run: a layer's plan re-executes in
#: every later action that reads it, and each of those stage runs counts.
_STAGE_RUNS = {
    "text.extract_text.stage_runs": ("ArrowEvalPython", "pipeline.run_pipeline"),
    "mentions.detect_mentions.stage_runs": ("MapInPandas", "pipeline.run_pipeline"),
    "rdf.read_turtle.stage_runs": ("MapInPandas", "rdf.read_turtle"),
    "data_pipeline.dfs.stage_runs": ("FlatMapGroupsInPandas", "data_pipeline.extract_observations"),
}


def session_metrics(log: EventLog, tr: Tracer) -> dict[str, float]:
    """Counters over every job of one traced run."""
    out = {f"session.{k}": v for k, v in totals(log.stages_in(tr.run)).items()}
    out["session.jobs"] = len(log.jobs_in(tr.run))
    return out


def span_metrics(log: EventLog, tr: Tracer) -> dict[str, float]:
    """The metrics of the spans ``tr`` recorded."""
    out: dict[str, float] = {}
    for metric, span in _SECONDS.items():
        if span in tr.spans:
            out[metric] = tr.seconds(span)
    for metric, span in _JOBS.items():
        if span in tr.spans:
            out[metric] = len(log.jobs_in(tr.group(span)))
    run_stages = log.stages_in(tr.run)
    for metric, (scope, span) in _STAGE_RUNS.items():
        if span in tr.spans:
            out[metric] = python_stage_runs(run_stages, scope)
    if "closure.close_ontology" in tr.spans:
        # one count action per round of the distributed fixpoint; the
        # driver-side path runs none
        ex = log.executions_in(tr.group("closure.close_ontology"))
        out["closure.close_ontology.rounds"] = sum(e.action == "Dataset.count" for e in ex)
    if "ontology_pipeline.write" in tr.spans:
        stages = log.stages_in(tr.group("ontology_pipeline.write"))
        out["ontology_pipeline.write.shuffle_write_mb"] = totals(stages)["shuffle_write_mb"]
    if "pipeline.run_pipeline" in tr.spans:
        out.update(_pipeline_phases(log, tr))
    return out


def _pipeline_phases(log: EventLog, tr: Tracer) -> dict[str, float]:
    """Split ``run_pipeline``'s wall time at its sink write: everything
    before the parquet write's SQL execution, the write, everything after
    (ledger read-back and the metrics tail)."""
    span = tr.spans["pipeline.run_pipeline"]
    writes = [e for e in log.executions_in(span.group) if e.action == "DataFrameWriter.parquet"]
    if not writes:
        return {}
    w = writes[0]
    post = span.end - w.end_ms / 1e3
    return {
        "pipeline.pre_write.s": w.start_ms / 1e3 - span.start,
        "pipeline.sink_write.s": (w.end_ms - w.start_ms) / 1e3,
        "pipeline.post_write.s": post,
        "pipeline.post_write_share": post / span.seconds,
    }


def assemble(
    log: EventLog,
    traced: list[tuple[Tracer, dict[str, float]]],
    layers: Tracer,
    layer_values: dict[str, float],
    overhead_s: float,
) -> dict[str, float]:
    """Every per-layer metric: medians over the traced runs (each given
    with its memory peaks), then the single-layer calls, then the trace
    overhead. Layers a workload never calls read 0."""
    per_run = []
    for tr, mem in traced:
        m = session_metrics(log, tr)
        m.update(span_metrics(log, tr))
        m.update({f"mem.{k}": v for k, v in mem.items()})
        per_run.append(m)
    out = {name: 0.0 for name in PER_LAYER}
    for name in set().union(*per_run):
        out[name] = statistics.median(m.get(name, 0.0) for m in per_run)
    out.update(span_metrics(log, layers))
    out.update(layer_values)
    out["trace.overhead_s"] = overhead_s
    return out
