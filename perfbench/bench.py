"""Benchmark runner: set up, run a workload's queries in passes, check
every result against its DuckDB oracle, and report end-to-end or
per-layer metrics.

One run is one fresh driver process:

1. generate (or reuse) the seeded inputs; untimed;
2. set-up samples: two child processes and then this process each time
   importing the engine, ``get_session`` and one trivial job;
3. a cold pass over the workload's queries in the fresh session, then
   warm passes until ``--seconds`` have passed;
4. stop the session, wait for the JVM and its workers to exit, and
   delete the run's temp directory.

With ``--trace 1`` the warm passes run in the order untraced, traced,
traced, untraced; traced passes record spans and counters around every
call into the engine, the per-layer metrics are medians over traced
passes, and ``trace.overhead_s`` is the traced minus the untraced
median pass time.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

from perfbench import gen, probes
from perfbench.workloads import WORKLOADS

MIN_WARM_PASSES = 3
MIN_TRACED_PASSES = 2  # and as many untraced, for the overhead
MAX_WARM_PASSES = 12
# a run must end within 180 s; do not start a pass that would end past this
PASS_DEADLINE_S = 120.0
DRIVER_MEMORY = "4g"


class Paths:
    """Where a run reads and writes, all inside the repository checkout."""

    def __init__(self, root: str, run_dir: str | None = None):
        self.root = root
        self.work = os.path.join(root, ".perfbench_work")
        self.data = os.path.join(self.work, "data")
        self.out = os.path.join(self.work, "out")
        self.run = run_dir or os.path.join(self.work, f"run-{os.getpid()}")
        self.tmp = os.path.join(self.run, "tmp")
        self.local = os.path.join(self.run, "local")


def prepare_env(paths: Paths) -> None:
    """Point every temp directory of this process, the JVM and its
    Python workers at the run directory, and make the engine importable
    in workers launched from any working directory."""
    for d in (paths.tmp, paths.local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = paths.tmp
    os.environ["SPARK_LOCAL_DIRS"] = paths.local
    # every JVM started from here (Spark's launcher and driver): temp files
    # in the run directory and no hsperfdata file in the system's /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={paths.tmp} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    py_path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = paths.root + (os.pathsep + py_path if py_path else "")
    import tempfile
    tempfile.tempdir = None  # re-read TMPDIR on next use


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(paths: Paths):
    """Import the engine, start its session and run one trivial job."""
    from vega_spark import registry  # noqa: F401 — part of set-up
    from vega_spark.session import get_session
    spark = get_session("perfbench", cpus=cores(), extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(paths.run, "warehouse"),
    })
    spark.range(1).count()
    return spark


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and wait until the JVM and every process it
    started have exited."""
    proc = spark.sparkContext._gateway.proc
    kids = probes.ProcCounters(proc.pid).descendants()
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def setup_probe(root: str, run_dir: str) -> None:
    """Child-process entry: time one set-up and print it."""
    paths = Paths(root, run_dir)
    prepare_env(paths)
    t0 = time.perf_counter()
    spark = start_session(paths)
    elapsed = time.perf_counter() - t0
    stop_session(spark)
    print(json.dumps({"setup_s": elapsed}))


def child_setups(paths: Paths, n: int) -> list[float]:
    out = []
    for _ in range(n):
        res = subprocess.run(
            [sys.executable, os.path.join(paths.root, "perfbench", "run.py"),
             "--setup-probe", paths.run],
            cwd=paths.root, capture_output=True, text=True, timeout=150)
        if res.returncode != 0:
            raise RuntimeError(f"set-up probe failed: {res.stderr[-2000:]}")
        out.append(json.loads(res.stdout.strip().splitlines()[-1])["setup_s"])
    return out


class Tracer:
    """Spans and counters around the calls into each layer, kept in
    memory and written out when the run ends."""

    def __init__(self, spark, t0: float):
        self.t0 = t0
        self.spans: list[dict] = []
        self.store = probes.StatusStore(spark)
        self.procs = probes.ProcCounters(spark.sparkContext._gateway.proc.pid)

    def span(self, name: str, start: float, end: float, parent: int | None,
             **attrs) -> int:
        self.spans.append({"id": len(self.spans), "parent": parent, "name": name,
                           "start": start - self.t0, "end": end - self.t0, **attrs})
        return len(self.spans) - 1

    def mark(self) -> tuple[int, float]:
        """Next job id and this process's CPU seconds."""
        return self.store.next_job_id(), time.process_time()


class Runner:
    def __init__(self, spark, workload, sf_dir: str, paths: Paths):
        from perfbench.oracle import Oracle
        from vega_spark import registry
        self.spark = spark
        self.queries = [(q, registry.QUERIES[q]) for q in workload.queries]
        self.sf_dir = sf_dir
        self.paths = paths
        self.oracle = Oracle(sf_dir)
        self.tracer: Tracer | None = None
        self.attempted = 0
        self.failures: list[dict] = []
        self.passes: list[dict] = []

    def run_pass(self, traced: bool) -> dict:
        n = len(self.passes)
        tr = self.tracer if traced else None
        rec = {"pass": n, "traced": traced, "wall_s": 0.0, "oracle.check_s": 0.0,
               "queries": {}}
        start = time.perf_counter()
        span = tr.span("pass", start, start, None, **{"pass": n}) if tr else None
        for name, fn in self.queries:
            q = self._run_query(n, name, fn, tr, span)
            rec["wall_s"] += q["build_s"] + q["action_s"]
            rec["oracle.check_s"] += q["oracle_s"]
            rec["queries"][name] = q
        if tr is not None:
            tr.spans[span]["end"] = time.perf_counter() - tr.t0
            rec["layers"] = _pass_layers(rec, cores())
        self.passes.append(rec)
        return rec

    def _run_query(self, n: int, name: str, fn, tr: Tracer | None,
                   pass_span: int | None) -> dict:
        self.attempted += 1
        if tr is not None:
            job0, cpu0 = tr.mark()
            jvm0, kids0 = tr.procs.jvm_cpu_s(), tr.procs.children_cpu_s()
        df = b = None
        a = time.perf_counter()
        try:
            df = fn(self.spark, self.sf_dir)
            b = time.perf_counter()
            if tr is not None:
                job1, cpu1 = tr.mark()
            rows = [tuple(r) for r in df.collect()]
            c = time.perf_counter()
            types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
            problems = self.oracle.problems(name, df.columns, types, rows)
        except Exception as e:  # noqa: BLE001 — a failed query is counted, the run goes on
            c = time.perf_counter()
            problems = [f"{type(e).__name__}: {str(e)[:500]}"]
        d = time.perf_counter()
        built = b is not None
        if not built:
            b = c
        q = {"build_s": b - a, "action_s": c - b, "oracle_s": d - c, "ok": not problems}
        if problems:
            self.failures.append({"pass": n, "query": name, "problems": problems})
        if tr is None:
            return q
        qid = tr.span("query", a, c, pass_span, query=name)
        tr.span("build", a, b, qid, query=name)
        tr.span("action", b, c, qid, query=name)
        tr.span("oracle", c, d, qid, query=name)
        job2 = tr.store.next_job_id()
        if not built:
            job1, cpu1 = job2, time.process_time()
        q.update(tr.store.counters(job0, job2))
        q["registry.build_jobs"] = job1 - job0
        q["registry.driver_py_cpu_s"] = cpu1 - cpu0
        q["jvm.cpu_s"] = tr.procs.jvm_cpu_s() - jvm0
        q["pyworker.cpu_s"] = tr.procs.children_cpu_s() - kids0
        q["catalyst.plan_s"] = probes.catalyst_plan_s(df) if built else 0.0
        q["temp.bytes_left"] = probes.dir_bytes(self.paths.tmp)
        return q


# per-query counters summed into a pass's layer totals
_SUMMED = probes.STAGE_COUNTERS + (
    "registry.build_jobs", "registry.driver_py_cpu_s", "jvm.cpu_s",
    "pyworker.cpu_s", "catalyst.plan_s")


def _pass_layers(rec: dict, n_cores: int) -> dict[str, float]:
    qs = list(rec["queries"].values())
    tot = {k: sum(q.get(k, 0.0) for q in qs) for k in _SUMMED}
    build = sum(q["build_s"] for q in qs)
    wall = rec["wall_s"]
    return {
        "registry.build_s": build,
        "registry.build_share": build / wall if wall else 0.0,
        "registry.build_jobs": tot["registry.build_jobs"],
        "registry.driver_py_cpu_s": tot["registry.driver_py_cpu_s"],
        "catalyst.plan_s": tot["catalyst.plan_s"],
        "jvm.driver_cpu_s": tot["jvm.cpu_s"] - tot["executor.cpu_s"],
        "scheduler.jobs": tot["jobs"],
        "scheduler.stages": tot["stages"],
        "scheduler.tasks": tot["tasks"],
        "scheduler.exec_busy_share":
            tot["executor.run_s"] / (wall * n_cores) if wall else 0.0,
        "executor.run_s": tot["executor.run_s"],
        "executor.cpu_s": tot["executor.cpu_s"],
        "executor.gc_s": tot["executor.gc_s"],
        "sources.input_rows": tot["sources.input_rows"],
        "shuffle.write_bytes": tot["shuffle.write_bytes"],
        "shuffle.read_bytes": tot["shuffle.read_bytes"],
        "spill.bytes": tot["spill.bytes"],
        "pyworker.cpu_s": tot["pyworker.cpu_s"],
        "sink.output_bytes": tot["sink.output_bytes"],
        "temp.bytes_left": qs[-1].get("temp.bytes_left", 0.0) if qs else 0.0,
        "oracle.check_s": rec["oracle.check_s"],
    }


def run(root: str, workload_name: str, seed: int, seconds: float, trace: bool) -> dict:
    workload = WORKLOADS[workload_name]
    paths = Paths(root)
    _remove_stale_runs(paths)
    prepare_env(paths)
    marks = [("start", time.perf_counter())]
    try:
        sf_dir = gen.ensure_inputs(paths.data, workload.scale, seed)
        marks.append(("inputs", time.perf_counter()))
        setups = child_setups(paths, 2)
        marks.append(("child_setups", time.perf_counter()))
        spark = start_session(paths)
        marks.append(("session", time.perf_counter()))
        setups.append(marks[-1][1] - marks[-2][1])
        try:
            result, detail = _measure(spark, workload, sf_dir, paths, seconds,
                                      trace, setups)
            marks.append(("measure", time.perf_counter()))
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(paths.run, ignore_errors=True)
    marks.append(("teardown", time.perf_counter()))
    detail.update(workload=workload_name, seed=seed, seconds=seconds,
                  trace=trace, result=result,
                  timeline_s={b[0]: b[1] - a[1] for a, b in zip(marks, marks[1:])})
    os.makedirs(paths.out, exist_ok=True)
    out = os.path.join(paths.out, f"{workload_name}-seed{seed}-trace{int(trace)}.json")
    with open(out, "w") as f:
        json.dump(detail, f, indent=1)
    return result


def _measure(spark, workload, sf_dir, paths, seconds, trace, setups):
    t0 = time.perf_counter()
    runner = Runner(spark, workload, sf_dir, paths)
    if trace:
        runner.tracer = Tracer(spark, t0)
        runner.tracer.span("get_session", t0 - setups[-1], t0, None)
    cold = runner.run_pass(traced=trace)
    warm: list[dict] = []
    while len(warm) < MAX_WARM_PASSES:
        elapsed = time.perf_counter() - t0
        last = runner.passes[-1]["wall_s"]
        n_traced = sum(p["traced"] for p in warm)
        enough = (min(n_traced, len(warm) - n_traced) >= MIN_TRACED_PASSES if trace
                  else len(warm) >= MIN_WARM_PASSES)
        if (enough and elapsed >= seconds) or elapsed + 1.5 * last > PASS_DEADLINE_S:
            break
        # untraced, traced, traced, untraced: a warm-up trend over the
        # passes cancels out of the traced-minus-untraced overhead
        warm.append(runner.run_pass(traced=trace and len(warm) % 4 in (1, 2)))
    runner.oracle.close()

    warm_times = [p["wall_s"] for p in warm if not p["traced"]]
    detail = {
        "setup_samples_s": setups,
        "cold_pass_s": cold["wall_s"],
        "warm_pass_samples_s": [p["wall_s"] for p in warm],
        "failed_share": len(runner.failures) / runner.attempted,
        "failures": runner.failures,
        "per_query_warm_median_s": {
            q: statistics.median(p["queries"][q]["build_s"] + p["queries"][q]["action_s"]
                                 for p in warm)
            for q in workload.queries},
        "passes": runner.passes,
    }
    if trace:
        traced = [p for p in warm if p["traced"]]
        layers = {k: statistics.median(p["layers"][k] for p in traced)
                  for k in traced[0]["layers"]}
        layers["session.start_s"] = setups[-1]
        layers["session.jvm_peak_rss_mb"] = runner.tracer.procs.jvm_peak_rss_mb()
        layers["trace.overhead_s"] = (statistics.median(p["wall_s"] for p in traced)
                                      - statistics.median(warm_times))
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}
        detail["spans"] = runner.tracer.spans
        detail["cold_layers"] = cold["layers"]
    else:
        metrics = {
            "setup_s": {"value": statistics.median(setups), "unit": "s"},
            "cold_pass_s": {"value": cold["wall_s"], "unit": "s"},
            "warm_pass_s": {"value": statistics.median(warm_times), "unit": "s"},
        }
    result = {"correct": not runner.failures, "attempted": runner.attempted,
              "failed": len(runner.failures), "metrics": metrics}
    return result, detail


LAYER_UNITS = {
    "session.start_s": "s", "session.jvm_peak_rss_mb": "MB",
    "registry.build_s": "s", "registry.build_share": "ratio",
    "registry.build_jobs": "count", "registry.driver_py_cpu_s": "s",
    "catalyst.plan_s": "s", "jvm.driver_cpu_s": "s",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.exec_busy_share": "ratio",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "sources.input_rows": "count", "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes", "spill.bytes": "bytes",
    "pyworker.cpu_s": "s", "sink.output_bytes": "bytes",
    "temp.bytes_left": "bytes", "oracle.check_s": "s", "trace.overhead_s": "s",
}


def _remove_stale_runs(paths: Paths) -> None:
    """Delete run directories left by runs that no longer exist."""
    if not os.path.isdir(paths.work):
        return
    for entry in os.listdir(paths.work):
        if entry.startswith("run-") and entry[4:].isdigit():
            if not os.path.exists(f"/proc/{entry[4:]}"):
                shutil.rmtree(os.path.join(paths.work, entry), ignore_errors=True)
