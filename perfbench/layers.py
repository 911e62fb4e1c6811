"""Per-layer accounting measured from outside the engine.

A layer is a package module (``operators.corpus``, ``sources.connectors``
...). Every call the benchmark makes into a module runs under its own
Spark job group ``workload:module:query:iter`` and is timed in two parts:
``plan`` (the function call itself, which includes any eager barrier jobs
the function runs) and ``exec`` (the collect or write that follows).
Job, stage and task counts come from the status tracker by job group;
executor time, shuffle, spill, input and GC come from the event log of a
traced run (``reduce_event_log``).
"""

from __future__ import annotations

import glob
import json
import os
import time
from dataclasses import dataclass, field

MODULES = (
    "operators.corpus",
    "operators.dedup",
    "operators.graph",
    "operators.clustering",
    "similarity.cosine",
    "similarity.retrieval",
    "gold.pipelines",
    "gold.payload",
    "functions.textbank",
    "operators.relational",
    "streaming.incremental",
    "functions.html_extract",
    "sources.connectors",
)
WARM = "warm"
TRACED_ONLY = "traced"  # calls after the measured run of a traced run
BARRIER_CALLS = ("localCheckpoint", "checkpoint")


@dataclass
class Call:
    workload: str
    module: str
    query: str
    it: str
    plan_s: float = 0.0
    exec_s: float = 0.0
    start: float = 0.0  # epoch seconds, for matching event-log stage times
    end: float = 0.0

    @property
    def group(self) -> str:
        return f"{self.workload}:{self.module}:{self.query}:{self.it}"

    @property
    def wall(self) -> float:
        return self.plan_s + self.exec_s


@dataclass
class Recorder:
    """Times calls into the engine and tags their jobs with a group."""

    sc: object
    workload: str
    calls: list[Call] = field(default_factory=list)

    def run(self, module: str, query: str, it, build, execute=None):
        """Call ``build()`` (plan), then ``execute(result)`` (exec) when
        given, under one job group; return the executed result. The call
        is recorded even when it raises."""
        call = Call(self.workload, module, query, str(it))
        self.sc.setJobGroup(call.group, call.group)
        call.start = time.time()
        t0 = time.perf_counter()
        try:
            out = build()
            t1 = time.perf_counter()
            call.plan_s = t1 - t0
            if execute is not None:
                out = execute(out)
                call.exec_s = time.perf_counter() - t1
            return out
        finally:
            call.end = time.time()
            self.calls.append(call)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def measured(self) -> list[Call]:
        return [c for c in self.calls if c.it != WARM]


def module_of(fn) -> str:
    return fn.__module__.removeprefix("project_orbit_spark.")


def status_counts(sc, calls: list[Call]) -> dict[str, dict[str, int]]:
    """module -> {jobs, stages, tasks} over ``calls``, from the status
    tracker. A stage counts once per job group and only if it ran tasks
    (stages skipped because their shuffle output was reused cost
    nothing)."""
    out = {m: {"jobs": 0, "stages": 0, "tasks": 0} for m in MODULES}
    st = sc.statusTracker()
    for c in calls:
        acc = out.setdefault(c.module, {"jobs": 0, "stages": 0, "tasks": 0})
        seen = set()
        for jid in st.getJobIdsForGroup(c.group):
            job = st.getJobInfo(jid)
            if job is None:
                continue
            acc["jobs"] += 1
            for sid in job.stageIds:
                info = st.getStageInfo(sid)
                if sid in seen or info is None or info.numCompletedTasks == 0:
                    continue
                seen.add(sid)
                acc["stages"] += 1
                acc["tasks"] += info.numCompletedTasks
    return out


def _event_files(log_dir: str) -> list[str]:
    """Event-log files in write order: Spark 4's rolling layout
    (``eventlog_v2_<app>/events_<n>_<app>``) or single files."""
    files = []
    for entry in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(entry):
            parts = glob.glob(os.path.join(entry, "events_*"))
            parts.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
            files.extend(parts)
        else:
            files.append(entry)
    return files


SPARK_KEYS = (
    "barrier_jobs",
    "sched_gap_s",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "input_bytes",
    "gc_s",
)


def reduce_event_log(log_dir: str, calls: list[Call]) -> dict[str, float]:
    """Reduce an uncompressed event log to ``spark.*`` totals over the
    jobs of ``calls`` (matched by job group).

    - ``barrier_jobs``: ``localCheckpoint``/``checkpoint`` jobs and
      first computations of persisted RDDs (``_is_barrier``);
    - ``sched_gap_s``: per call, wall time minus the time during which
      at least one of its stages was running (driver planning, job
      submission and scheduling waits), summed;
    - task sums: executor run and CPU time, shuffle write and read bytes,
      spilled bytes (memory plus disk), input bytes and JVM GC time.
    """
    groups = {c.group: c for c in calls}
    persisted: set[int] = set()
    stage_group: dict[int, str] = {}
    intervals: dict[str, list[tuple[float, float]]] = {g: [] for g in groups}
    tot = dict.fromkeys(SPARK_KEYS, 0.0)
    for path in _event_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if '"Event"' not in line:
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    barrier = _is_barrier(ev, persisted)
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g not in groups:
                        continue
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                    tot["barrier_jobs"] += barrier
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    g = stage_group.get(info["Stage ID"])
                    if g and "Submission Time" in info and "Completion Time" in info:
                        intervals[g].append(
                            (info["Submission Time"] / 1000.0, info["Completion Time"] / 1000.0)
                        )
                elif kind == "SparkListenerTaskEnd":
                    if ev.get("Stage ID") not in stage_group:
                        continue
                    m = ev.get("Task Metrics") or {}
                    tot["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    tot["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    tot["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    tot["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    tot["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    tot["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    tot["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    for g, call in groups.items():
        busy = _union_length(intervals[g], call.start, call.end)
        tot["sched_gap_s"] += max(0.0, call.wall - busy)
    return tot


def _is_barrier(job_start: dict, persisted: set) -> bool:
    """A job is a barrier when its result stage is a ``localCheckpoint``
    or ``checkpoint`` call, or when it is the first job to compute a
    persisted RDD (later jobs that read the cache list the same RDD id
    again). ``persisted`` collects the persisted RDD ids seen so far."""
    infos = job_start.get("Stage Infos") or []
    if not infos:
        return False
    final = max(infos, key=lambda st: st.get("Stage ID", -1))
    site = (final.get("Stage Name") or "").split(" at ", 1)[0]
    fresh = False
    for st in infos:
        for rdd in st.get("RDD Info", []):
            lvl = rdd.get("Storage Level") or {}
            if (lvl.get("Use Memory") or lvl.get("Use Disk")) and rdd["RDD ID"] not in persisted:
                persisted.add(rdd["RDD ID"])
                fresh = True
    return site in BARRIER_CALLS or fresh


def _union_length(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in spans):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the PySpark daemon under the JVM and
    its workers, reaped ones included."""
    procs = _proc_table()
    return sum(_tree_cpu_s(procs, pid) for pid, row in procs.items()
               if row[0] == jvm_pid and _is_python(row[1]))


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by ``root_pid`` and all its descendants."""
    return _tree_cpu_s(_proc_table(), root_pid)


def _tree_cpu_s(procs: dict[int, tuple], root_pid: int) -> float:
    """Each process's own time; reaped children count through their
    parent's cutime/cstime."""
    tick = os.sysconf("SC_CLK_TCK")
    total, stack = 0.0, [root_pid]
    while stack:
        pid = stack.pop()
        row = procs.get(pid)
        if row is None:
            continue
        total += (row[2] + row[3] + row[4] + row[5]) / tick
        stack.extend(child for child, r in procs.items() if r[0] == pid)
    return total


def _is_python(cmd: str) -> bool:
    return "python" in os.path.basename(cmd.split(" ", 1)[0])


def _proc_table() -> dict[int, tuple]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="utf-8") as fh:
                raw = fh.read()
            with open(f"/proc/{d}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        rest = raw[raw.rindex(")") + 2 :].split()
        out[int(d)] = (int(rest[1]), cmd, int(rest[11]), int(rest[12]), int(rest[13]), int(rest[14]))
    return out


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    procs = _proc_table()
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        for child, row in procs.items():
            if row[0] == p:
                out.append(child)
                stack.append(child)
    return out


def dir_files(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, inode) of every data file under ``root``."""
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.startswith((".", "_")):
                continue
            p = os.path.join(dirpath, n)
            try:
                s = os.stat(p)
            except OSError:
                continue
            out[p] = (s.st_size, s.st_ino)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) present in ``after`` that are new or rewritten."""
    new = [v for p, v in after.items() if before.get(p) != v]
    return len(new), sum(v[0] for v in new)
