#!/usr/bin/env python3
"""Whole-job benchmark: convert, resume, rename and curate at local[nproc].

    python3 perfbench/run.py --workload convert_fresh --seed 1 \
        --seconds 10 --trace 0

One process, one client, one job in flight (a closed loop). The run
generates the workload's seeded inputs, builds the Spark session the way
the jobs do (``plans.get_spark`` with ``local[<nproc>]``), then runs the
job entry point back to back until ``--seconds`` of job time has been
measured, checking every output against the reference semantics.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates an
untraced job run with a traced layer-by-layer run and prints the
per-layer metrics, including the tracing overhead. The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` (input docs
without a correct output row; ``failed / attempted`` is the fail share)
and ``metrics``. Spans of a traced run go to
``.perfbench_traces/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
TRACES = os.path.join(ROOT, ".perfbench_traces")

SETUPS = 3  # session builds per process; setup_s is their median
MIN_REPS = 1  # timed job runs per process, however long one run takes
MAX_LOOP_S = 110.0  # stop adding runs after this much loop time


def _isolate(work: str) -> None:
    """Python workers run this interpreter and import the package from
    ROOT whatever the working directory; Spark and temp files stay inside
    the checkout."""
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _warm_rows(cpus: int) -> list[tuple]:
    span = {"kind": "text", "text": "Page 1 of 2", "media_ref": "", "offset": 0}
    return [(f"warm_{i}", "warm.pdf", [span]) for i in range(8 * cpus)]


def start_session(cpus: int):
    """``plans.get_spark`` plus the first action, which forks a Python
    worker per core and imports the convert kernel in each."""
    from modern_document_converter_for_ai_library_spark.operators.convert import (
        convert_documents,
    )
    from modern_document_converter_for_ai_library_spark.plans import get_spark
    from modern_document_converter_for_ai_library_spark.sources.synth import (
        DOCS_SCHEMA,
    )

    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]")
    df = spark.createDataFrame(_warm_rows(cpus), schema=DOCS_SCHEMA).repartition(cpus)
    convert_documents(df).write.format("noop").mode("overwrite").save()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and its JVM, and wait for every process below this one."""
    from pyspark import SparkContext

    from perfbench.proctree import descendants

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while True:  # reap children that were ours
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                break
        except ChildProcessError:
            break


def exec_metrics(span, cpus: int) -> dict:
    """Executor, shuffle and sink figures of the production job's span."""
    stages = span.stages
    run_s = span.stage_sum("run_s")
    longest = max(stages, key=lambda s: s["run_s"]) if stages else None
    skew = (
        longest["task_max_s"] / longest["task_median_s"]
        if longest and longest["task_median_s"] > 0
        else 1.0
    )
    return {
        "exec.spark_jobs": span.jobs,
        "exec.tasks": span.stage_sum("tasks"),
        "exec.run_s": run_s,
        "exec.cpu_s": span.stage_sum("cpu_s"),
        "exec.gc_s": span.stage_sum("gc_s"),
        "exec.task_skew": skew,
        "exec.busy_share": run_s / (span.wall_s * cpus),
        "shuffle.write_bytes": span.stage_sum("shuffle_write_bytes"),
        "shuffle.read_bytes": span.stage_sum("shuffle_read_bytes"),
        "shuffle.spill_bytes": span.stage_sum("spill_bytes"),
        "sink.files_written": span.sql_sum("numFiles", node="Execute InsertInto"),
        "sink.bytes_written": span.stage_sum("output_bytes"),
        "sink.s": span.sql_sum("taskCommitTime") + span.sql_sum("jobCommitTime"),
    }


class Loop:
    """Closed loop: the next job starts when the previous one is checked."""

    def __init__(self, wl, spark, seconds: float):
        self.wl = wl
        self.spark = spark
        self.seconds = seconds
        self.t0 = time.perf_counter()
        self.measured = 0.0
        self.attempted = 0
        self.failed = 0
        self.job_times: list[float] = []
        self.rss_mb: dict[str, float] = {}  # peak VmHWM sum by process name
        self.steal_s = 0.0  # CPU time the host gave other guests meanwhile

    def more(self) -> bool:
        if len(self.job_times) < MIN_REPS:
            return True
        return (
            self.measured < self.seconds
            and time.perf_counter() - self.t0 < MAX_LOOP_S
        )

    def run(self, call):
        """Time ``call``; returns (seconds, result or None if it raised)."""
        t0 = time.perf_counter()
        try:
            res = call()
        except Exception:
            traceback.print_exc()
            res = None
        dt = time.perf_counter() - t0
        self.measured += dt
        return dt, res

    def job(self) -> str | None:
        """One timed production job run, checked and accounted."""
        from perfbench.proctree import tree_peak_rss_mb

        self.wl.reset(self.spark)
        dt, out = self.run(self.wl.run_job)
        self.job_times.append(dt)
        for name, mb in tree_peak_rss_mb().items():
            self.rss_mb[name] = max(mb, self.rss_mb.get(name, 0.0))
        self.account(out is not None, out)
        return out

    def account(self, ok: bool, job_stdout) -> None:
        self.attempted += self.wl.n_docs
        self.failed += self.wl.check(job_stdout) if ok else self.wl.n_docs

    def worker_rss_mb(self) -> float:
        return sum(mb for name, mb in self.rss_mb.items() if name != "java")


def measure(wl, spark, seconds: float, setups: list[float]) -> tuple[Loop, dict]:
    from perfbench.proctree import host_steal_s, tree_cpu_s

    loop = Loop(wl, spark, seconds)
    cpu, files = [], set()
    steal0 = host_steal_s()
    while loop.more():
        c0 = tree_cpu_s()
        loop.job()
        cpu.append((tree_cpu_s() - c0) * 1000.0 / wl.n_docs)
        files.add(wl.output_files())
    loop.steal_s = host_steal_s() - steal0
    if len(files) != 1:
        print(f"# output file counts differ between runs: {sorted(files)}", file=sys.stderr)
    job_s = statistics.median(loop.job_times)
    return loop, {
        "job_s": job_s,
        "docs_per_s": wl.n_docs / job_s,
        "cpu_s_per_kdoc": statistics.median(cpu),
        "setup_s": statistics.median(setups),
        "worker_rss_mb": loop.worker_rss_mb(),
        "output_files": max(files),
    }


def measure_traced(wl, spark, seconds: float, cpus: int, trace_path: str) -> tuple[Loop, dict]:
    """Alternate a production job run (its Spark jobs under one job group)
    with a traced layer-by-layer run; per-layer metrics are medians over
    the pairs."""
    from perfbench.metrics import PER_LAYER
    from perfbench.trace import Tracer

    tracer = Tracer(spark, run_id=f"{wl.name}-{wl.seed}")
    loop = Loop(wl, spark, seconds)
    traced, samples = [], []
    while loop.more():
        tracer.request = str(len(loop.job_times))
        with tracer.span("job") as job_span:
            loop.job()
        wl.reset(spark)
        tdt, layers = loop.run(lambda: wl.traced(spark, tracer))
        loop.account(layers is not None, None)
        traced.append(tdt)
        sample = exec_metrics(job_span, cpus)
        sample.update(layers or {})
        sample["trace.job_s"] = tdt
        samples.append(sample)
    tracer.write(trace_path)
    metrics = {
        name: statistics.median(s.get(name, 0.0) for s in samples)
        for name, _, _ in PER_LAYER
    }
    metrics["exec.jvm_rss_mb"] = loop.rss_mb.get("java", 0.0)
    metrics["trace.overhead_s"] = (
        statistics.median(traced) - statistics.median(loop.job_times)
    )
    return loop, metrics


def main(argv: list[str] | None = None) -> int:
    sys.path[:0] = [ROOT]
    from perfbench.metrics import UNITS
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    # fail fast, before any output, when the package is not there
    import modern_document_converter_for_ai_library_spark  # noqa: F401

    shutil.rmtree(WORK, ignore_errors=True)
    _isolate(WORK)
    cpus = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](WORK, args.seed, cpus)

    phases = {}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = round(now - t_phase, 2)
        t_phase = now

    wl.generate(procs=cpus)
    phase("generate")
    setups, spark = [], None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session(cpus)
            setups.append(time.perf_counter() - t0)
        phase("setup")
        wl.prepare(spark)
        profile = wl.profile()
        phase("prepare")
        wl.warm_up(spark, cpus)
        phase("warm_up")
        if args.trace:
            os.makedirs(TRACES, exist_ok=True)
            trace_path = os.path.join(TRACES, f"{wl.name}-seed{args.seed}.json")
            loop, metrics = measure_traced(wl, spark, args.seconds, cpus, trace_path)
        else:
            loop, metrics = measure(wl, spark, args.seconds, setups)
        phase("measure")
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    phase("stop")

    print(
        "# " + json.dumps({
            "workload": wl.name, "seed": args.seed,
            "job_times_s": [round(t, 3) for t in loop.job_times],
            "host_steal_s": round(loop.steal_s, 2),
            "peak_rss_mb_by_process": {k: round(v, 1) for k, v in loop.rss_mb.items()},
            "fail_share": loop.failed / loop.attempted,
            "setups_s": [round(s, 3) for s in setups], "phases_s": phases,
            "input_profile": profile,
        }),
        file=sys.stderr,
    )
    print(json.dumps({
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
