"""spark-kg benchmark: one workload in one warm Spark session.

    python3 kgbench/run.py --workload crawl_kg --seed 1 --seconds 14 --trace 0

Run from the root of a checkout. Set-up starts a ``local[<nproc>]``
session, writes the workload's inputs for ``--seed`` under
``.kgbench_work/`` and runs the workload's warm-up runs. Then it starts
timed runs until ``--seconds`` have passed (at least the workload's
``min_timed``), as a batch closed loop with one client and one job at a
time, checking every run's outputs outside the timer and deleting them
before the next run.

The last line of standard output is one JSON object with keys ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics are
the end-to-end ones, from untraced runs. With ``--trace 1`` the session also
writes Spark's event log; the measured time is split between untraced and
traced runs, a pass over single layers follows, and the metrics are the
per-layer ones (see ``layers.py``). The line before it is the run record:
each run's time, memory peaks, load average at start and end, CPU time
stolen by the hypervisor, and any failed checks.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

from spans import NO_TRACE

START = time.perf_counter()  # set-up includes imports and the JVM launch

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["crawl_kg", "rdf_facts"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def start_session(work: str, trace: bool):
    """A ``local[<nproc>]`` session whose scratch files stay under ``work``."""
    n = len(os.sched_getaffinity(0))
    for d in ("local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d))
    tmp = os.path.join(work, "tmp")
    tempfile.tempdir = tmp
    os.environ.update(
        SPARK_GRAFT_CPUS=str(n),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        PYTHONDONTWRITEBYTECODE="1",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file in the system /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "true",
        })
    from rdf_i2b2_converter_spark.session import get_spark

    return get_spark("kgbench", master=f"local[{n}]", extra_conf=conf)


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end the JVM (it exits when its stdin closes) and wait
    for it and its Python workers to be gone."""
    import procmem

    proc = spark.sparkContext._gateway.proc
    children = procmem.descendants(proc.pid)
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while any(os.path.exists(f"/proc/{p}") for p in children) and time.monotonic() < deadline:
        time.sleep(0.1)


class Bench:
    """Runs a workload, checks each run, keeps the run record."""

    def __init__(self, workload, work: str, mem):
        self.wl = workload
        self.work = work
        self.mem = mem
        self.runs: list[dict] = []

    def one(self, phase: str, tr=NO_TRACE) -> dict:
        import procmem

        out = os.path.join(self.work, "out", str(len(self.runs)))
        # every run starts from a collected heap, driver and JVM
        gc.collect()
        self.wl.spark._jvm.java.lang.System.gc()
        rec: dict = {"phase": phase, "load_start": os.getloadavg()[0]}
        steal = procmem.steal_s()
        began = time.perf_counter()
        self.mem.reset()
        try:
            # only the run's own jobs carry the tracer's job group
            with tr.activate():
                result = self.wl.run(out, tr)
            rec["s"] = time.perf_counter() - began
            rec.update(self.mem.peaks())
            problems = self.wl.check(out, result)
        except Exception as exc:  # a failed run is counted, not fatal
            traceback.print_exc()
            rec.setdefault("s", time.perf_counter() - began)
            problems = [f"{type(exc).__name__}: {exc}"]
        rec["load_end"] = os.getloadavg()[0]
        rec["steal_s"] = procmem.steal_s() - steal
        rec["problems"] = problems
        shutil.rmtree(out, ignore_errors=True)
        rec["wall"] = time.perf_counter() - began
        self.runs.append(rec)
        return rec

    def warm_up(self) -> None:
        # the cold run pays for JIT compilation, code generation and Python
        # worker start-up; the next run is close to steady (BASELINE.md)
        self.one("warmup")

    def measure(self, seconds: float, phase: str, make_tracer=None, min_runs: int = 1) -> list[dict]:
        """Timed runs, each started while less than ``seconds`` have passed
        (at least ``min_runs``). ``make_tracer(k)`` gives run k its tracer."""
        recs: list[dict] = []
        deadline = time.perf_counter() + seconds
        while len(recs) < min_runs or time.perf_counter() < deadline:
            tr = make_tracer(len(recs)) if make_tracer else NO_TRACE
            recs.append(self.one(phase, tr))
            if make_tracer:
                recs[-1]["tracer"] = tr
        return recs


def end_to_end(wl, runs: list[dict], setup_s: float, attempted: int, failed: int) -> dict:
    good = [r for r in runs if not r["problems"]] or runs
    run_s = statistics.median(r["s"] for r in good)
    return {
        "run_s": (run_s, "s"),
        "records_per_s": (statistics.median(wl.records / r["s"] for r in good), "records/s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (
            statistics.median(r.get("driver_mb", 0.0) + r.get("pyworkers_mb", 0.0) for r in good),
            "MB",
        ),
        "ok_frac": ((attempted - failed) / attempted, "fraction"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.dont_write_bytecode = True
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".kgbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        import procmem
        from workloads import WORKLOADS

        spark = start_session(work, bool(args.trace))
        try:
            jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
            wl = WORKLOADS[args.workload](spark, os.path.join(work, "in"), args.seed)
            bench = Bench(wl, work, procmem.MemWatch(jvm_pid))
            bench.warm_up()
            setup_s = time.perf_counter() - START
            if args.trace:
                metrics = traced(spark, wl, bench, args.seconds, work)
            else:
                bench.measure(args.seconds, "timed", min_runs=wl.min_timed)
                metrics = None
        finally:
            stop_session(spark)
        attempted = len(bench.runs)
        failed = sum(1 for r in bench.runs if r["problems"])
        if metrics is None:
            timed = [r for r in bench.runs if r["phase"] == "timed"]
            metrics = end_to_end(wl, timed, setup_s, attempted, failed)
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "records": wl.records, "record_kind": wl.record_kind,
            "cpus": len(os.sched_getaffinity(0)), "setup_s": setup_s,
            "runs": [{k: v for k, v in r.items() if k != "tracer"} for r in bench.runs],
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another invocation's work dir is still there
    print(json.dumps(record, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def traced(spark, wl, bench: Bench, seconds: float, work: str) -> dict:
    """Half the time untraced, half traced, then the single-layer pass.
    The event log is read after the session has stopped."""
    import eventlog
    import layers
    from spans import Tracer

    sc = spark.sparkContext
    plain = bench.measure(seconds / 2, "untraced")
    traced_runs = bench.measure(seconds / 2, "traced", make_tracer=lambda k: Tracer(sc, f"t{k}"))
    layer_tr = Tracer(sc, "layers")
    out = os.path.join(work, "out", "layers")
    began = time.perf_counter()
    try:
        with layer_tr.activate():
            layer_values, problems = wl.layers(layer_tr, out)
    except Exception as exc:  # counted as a failed run, like a failed timed run
        traceback.print_exc()
        layer_values, problems = {}, [f"{type(exc).__name__}: {exc}"]
    shutil.rmtree(out, ignore_errors=True)
    bench.runs.append({"phase": "layers", "s": time.perf_counter() - began, "problems": problems})
    spark.stop()  # closes the event log; stop_session ends the JVM later
    log = eventlog.read(os.path.join(work, "eventlog"))
    overhead = statistics.median(r["s"] for r in traced_runs) - statistics.median(r["s"] for r in plain)
    mem_keys = ("driver_mb", "jvm_mb", "pyworkers_mb")
    values = layers.assemble(
        log,
        [(r["tracer"], {k: r.get(k, 0.0) for k in mem_keys}) for r in traced_runs],
        layer_tr,
        layer_values,
        overhead,
    )
    return {k: (v, layers.PER_LAYER[k]) for k, v in values.items()}


if __name__ == "__main__":
    sys.exit(main())
