"""Counters read from outside the engine: Spark's status store, the
Catalyst phase tracker of a returned frame, and ``/proc`` for the JVM
and its Python-worker children.

Jobs are attributed to a query by job-id range: every job whose id was
handed out between two reads of the scheduler's id counter belongs to
the query that ran in between.  Queries run one at a time, so this also
catches jobs started from helper threads, which escape ``setJobGroup``.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError

_TICKS = os.sysconf("SC_CLK_TCK")
_CATALYST_PHASES = ("analysis", "optimization", "planning")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def _cpu_ticks(fields: list[str], with_children: bool) -> int:
    # utime, stime, cutime, cstime are fields 14-17 of /proc/<pid>/stat
    own = int(fields[11]) + int(fields[12])
    return own + (int(fields[13]) + int(fields[14]) if with_children else 0)


class ProcCounters:
    """CPU and memory of the JVM process and of its descendants (the
    Python daemon and the workers it forks)."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def descendants(self) -> list[int]:
        parent: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                fields = _stat_fields(int(entry))
                if fields is not None:
                    parent[int(entry)] = int(fields[1])
        found, frontier = [], [self.jvm_pid]
        while frontier:
            kids = [p for p, pp in parent.items() if pp in frontier]
            found.extend(kids)
            frontier = kids
        return found

    def jvm_cpu_s(self) -> float:
        fields = _stat_fields(self.jvm_pid)
        return _cpu_ticks(fields, False) / _TICKS if fields else 0.0

    def children_cpu_s(self) -> float:
        """CPU of every process the JVM started, live or already reaped:
        the JVM's reaped-children counters plus each live descendant's
        own and reaped-children counters."""
        fields = _stat_fields(self.jvm_pid)
        if fields is None:
            return 0.0
        ticks = int(fields[13]) + int(fields[14])
        for pid in self.descendants():
            kid = _stat_fields(pid)
            if kid is not None:
                ticks += _cpu_ticks(kid, True)
        return ticks / _TICKS

    def jvm_peak_rss_mb(self) -> float:
        try:
            with open(f"/proc/{self.jvm_pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024
        except OSError:
            pass
        return 0.0


class StatusStore:
    """Job, stage and task counts and task metrics for a job-id range."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()

    def next_job_id(self) -> int:
        """Id the scheduler hands to the next job it submits."""
        return self._dag.numTotalJobs()

    def counters(self, first_job: int, end_job: int) -> dict[str, float]:
        """Totals over jobs ``first_job <= id < end_job``.  Stages a job
        reuses from an earlier one (status SKIPPED) are not counted."""
        out = dict.fromkeys(STAGE_COUNTERS, 0.0)
        out["jobs"] = float(end_job - first_job)
        if end_job <= first_job:
            return out
        self._bus.waitUntilEmpty(30_000)
        stages: set[int] = set()
        for job_id in range(first_job, end_job):
            try:
                ids = self._store.job(job_id).stageIds()
            except Py4JJavaError:  # a job the store no longer holds
                continue
            stages.update(ids.apply(i) for i in range(ids.size()))
        for sid in sorted(stages):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage the store no longer holds
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["executor.run_s"] += st.executorRunTime() / 1e3
            out["executor.cpu_s"] += st.executorCpuTime() / 1e9
            out["executor.gc_s"] += st.jvmGcTime() / 1e3
            # inputBytes under-reports local parquet scans (footer bytes
            # only), so the source layer is counted in rows
            out["sources.input_rows"] += st.inputRecords()
            out["sink.output_bytes"] += st.outputBytes()
            out["shuffle.write_bytes"] += st.shuffleWriteBytes()
            out["shuffle.read_bytes"] += st.shuffleReadBytes()
            out["spill.bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


STAGE_COUNTERS = (
    "jobs", "stages", "tasks", "executor.run_s", "executor.cpu_s",
    "executor.gc_s", "sources.input_rows", "sink.output_bytes",
    "shuffle.write_bytes", "shuffle.read_bytes", "spill.bytes")


def catalyst_plan_s(df) -> float:
    """Analysis + optimization + planning time of ``df``'s own query
    execution, from its phase tracker (after the action has run)."""
    phases = df._jdf.queryExecution().tracker().phases()
    total_ms = 0
    for name in _CATALYST_PHASES:
        found = phases.get(name)
        if found.isDefined():
            total_ms += found.get().durationMs()
    return total_ms / 1e3


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total

