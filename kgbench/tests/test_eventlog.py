"""The event-log reader and the layer metrics derived from it, on a small
fixture log in Spark 4's rolling layout (``fixtures/eventlog_v2_*``).

The fixture holds one traced run ``t0``: a ``close_ontology`` span with a
capped collect and two count rounds (the second round's first stage was
skipped), a ``run_pipeline`` span with a collect, the parquet sink write
(a stage holding MapInPandas and ArrowEvalPython) and a metrics-tail
count, and one job outside any job group."""

import os

import pytest

import eventlog
import layers
from spans import Span, Tracer

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
PIPE = "t0/pipeline.run_pipeline"
CLOSE = "t0/closure.close_ontology"
T0 = 1_700_000_000


@pytest.fixture(scope="module")
def log():
    return eventlog.read(FIXTURES)


@pytest.fixture()
def tracer():
    tr = Tracer(sc=None, run="t0")
    tr.spans["closure.close_ontology"] = Span(CLOSE, T0 + 0.9, T0 + 1.8)
    tr.spans["pipeline.run_pipeline"] = Span(PIPE, T0 + 1.9, T0 + 6.5)
    return tr


def test_reads_jobs_stages_and_executions(log):
    assert sorted(log.jobs) == list(range(7))
    assert sorted(s.stage_id for s in log.stages) == [0, 1, 2, 4, 5, 6, 7, 8, 9]
    assert sorted(log.executions) == list(range(6))
    assert log.jobs[4].execution_id == 4 and log.jobs[6].execution_id is None
    assert log.jobs[6].group is None


def test_groups_match_whole_path_segments(log):
    assert {j.job_id for j in log.jobs_in("t0")} == {0, 1, 2, 3, 4, 5}
    assert {j.job_id for j in log.jobs_in(CLOSE)} == {0, 1, 2}
    assert log.jobs_in("t0/closure") == []
    # stage 3 belongs to job 2 but was skipped: it never completed
    assert sorted(s.stage_id for s in log.stages_in(CLOSE)) == [0, 1, 2, 4]


def test_action_names_the_call_that_started_an_execution(log):
    actions = [e.action for e in log.executions_in("t0")]
    assert actions == [
        "Dataset.collectToPython", "Dataset.count", "Dataset.count",
        "Dataset.collectToPython", "DataFrameWriter.parquet", "Dataset.count",
    ]
    assert eventlog.action_of("") == ""


def test_python_stage_runs_count_each_stage_once(log):
    stages = log.stages_in(PIPE)
    assert eventlog.python_stage_runs(stages, "MapInPandas") == 1
    assert eventlog.python_stage_runs(stages, "ArrowEvalPython") == 2
    assert eventlog.python_stage_runs(stages, "FlatMapGroupsInPandas") == 0


def test_totals_convert_units(log):
    t = eventlog.totals(log.stages_in(PIPE))
    assert t["stages"] == 4 and t["tasks"] == 21
    assert t["executor_run_s"] == pytest.approx(11.02)
    assert t["executor_cpu_s"] == pytest.approx(3.31)
    assert t["shuffle_write_mb"] == pytest.approx(5.0)
    assert t["spill_mb"] == pytest.approx(1.0)
    assert t["gc_s"] == pytest.approx(0.3)
    assert t["task_offcpu_frac"] == pytest.approx(1 - 3.31 / 11.02)


def test_span_metrics(log, tracer):
    m = layers.span_metrics(log, tracer)
    assert m["closure.close_ontology.compose_s"] == pytest.approx(0.9)
    assert m["closure.close_ontology.jobs"] == 3
    assert m["closure.close_ontology.rounds"] == 2
    assert m["text.extract_text.stage_runs"] == 2
    assert m["mentions.detect_mentions.stage_runs"] == 1
    assert m["pipeline.pre_write.s"] == pytest.approx(0.6)
    assert m["pipeline.sink_write.s"] == pytest.approx(3.0)
    assert m["pipeline.post_write.s"] == pytest.approx(1.0)
    assert m["pipeline.post_write_share"] == pytest.approx(1.0 / 4.6)
    assert "rdf.read_turtle.stage_runs" not in m


def test_assemble_reports_every_layer_metric(log, tracer):
    layer_tr = Tracer(sc=None, run="layers")
    out = layers.assemble(log, [(tracer, {"driver_mb": 1.0, "jvm_mb": 2.0, "pyworkers_mb": 3.0})],
                          layer_tr, {"mentions.link_ratio": 1.0}, overhead_s=0.25)
    assert set(out) == set(layers.PER_LAYER)
    assert out["session.jobs"] == 6  # the ungrouped job is not the run's
    assert out["session.stages"] == 8
    assert out["mem.jvm_mb"] == 2.0 and out["trace.overhead_s"] == 0.25
    assert out["mentions.link_ratio"] == 1.0
    assert out["rdf.read_turtle.compose_s"] == 0.0  # a layer the run never called
