"""Outside-in probes: everything the benchmark measures without editing
the program.

- :class:`LayerTracer` wraps public functions and methods of the
  program's modules (timing, call counts) and tags the Spark jobs each
  wrapped call starts by extending the thread's job group;
- :func:`group_counters` reads Spark's status store for the jobs of a
  set of job groups;
- the ``proc_*`` helpers read ``/proc`` for process CPU, memory and
  host steal time.
"""

from __future__ import annotations

import functools
import inspect
import os
import resource
import time
from collections import defaultdict
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")

#: Layers whose Spark jobs are attributed by job group, as
#: ``(metric prefix, module, class or function name)``.  Wrapped before
#: ``registry.load_all()`` so that ``from ._util import fan_out`` binds
#: the wrapper.
JOB_LAYERS = [
    ("delta_lite", "thrive_spark.sources.delta_lite", "DeltaLiteTable"),
    ("acid", "thrive_spark.sources.acid", "ThriveTable"),
    ("pipeline", "thrive_spark.sources.pipeline", "Pipeline"),
    ("incremental", "thrive_spark.sources.incremental", "IncrementalLoader"),
    ("operators._util.fan_out", "thrive_spark.operators._util", "fan_out"),
    (
        "operators._util.compact_iter_state",
        "thrive_spark.operators._util",
        "compact_iter_state",
    ),
]
#: Layers timed and counted only.
TIMED_LAYERS = [
    ("tables.load", "thrive_spark.tables", "Tables.load"),
    ("smalldf", "thrive_spark.smalldf", "small_df"),
    ("spark.create_dataframe", "pyspark.sql.session", "SparkSession.createDataFrame"),
]


@dataclass
class LayerStat:
    calls: int = 0
    seconds: float = 0.0


class LayerTracer:
    """Wraps layer entry points; inert until :attr:`enabled` is set.

    Only the outermost call into a layer is counted and timed, so a
    method that calls another method of the same class counts once.
    While a job-attributed layer is active, the thread's job group is
    ``<query group>|<layer>|<inner layer>...``: every job the call
    starts carries the names of all layers on the stack."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.stats: dict[str, LayerStat] = defaultdict(LayerStat)
        self._depth: dict[str, int] = defaultdict(int)
        self._stack: list[str] = []
        self._base: str | None = None
        #: every job group set since the last :meth:`take_groups`
        self._groups: set[str] = set()

    # -- job groups -------------------------------------------------
    def _apply_group(self) -> None:
        if self._base is None:
            return
        gid = "|".join([self._base, *self._stack])
        self._groups.add(gid)
        self.sc.setJobGroup(gid, gid)

    def set_base(self, base: str | None) -> None:
        """Set the query-level job group (``None`` clears it)."""
        self._base = base
        if base is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self._apply_group()

    def take_groups(self) -> set[str]:
        out, self._groups = self._groups, set()
        return out

    # -- wrapping ---------------------------------------------------
    def _wrap(self, fn, layer: str, jobs: bool):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            outer = self._depth[layer] == 0
            self._depth[layer] += 1
            if outer and jobs:
                self._stack.append(layer)
                self._apply_group()
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth[layer] -= 1
                if outer:
                    st = self.stats[layer]
                    st.calls += 1
                    st.seconds += time.perf_counter() - t0
                    if jobs:
                        self._stack.pop()
                        self._apply_group()

        return wrapper

    def _wrap_class(self, cls, layer: str, jobs: bool) -> None:
        for name, member in list(vars(cls).items()):
            if name.startswith("_"):
                continue
            if isinstance(member, (classmethod, staticmethod)):
                kind = type(member)
                setattr(cls, name, kind(self._wrap(member.__func__, layer, jobs)))
            elif inspect.isfunction(member):
                setattr(cls, name, self._wrap(member, layer, jobs))

    def install(self) -> None:
        import importlib

        for layers, jobs in ((JOB_LAYERS, True), (TIMED_LAYERS, False)):
            for layer, modname, attr in layers:
                mod = importlib.import_module(modname)
                owner_name, _, fn_name = attr.rpartition(".")
                owner = getattr(mod, owner_name) if owner_name else mod
                target = getattr(owner, fn_name)
                if inspect.isclass(target):
                    self._wrap_class(target, layer, jobs)
                else:
                    setattr(owner, fn_name, self._wrap(target, layer, jobs))

    def snapshot(self) -> dict[str, tuple[int, float]]:
        return {k: (v.calls, v.seconds) for k, v in self.stats.items()}


# -- Spark status store ---------------------------------------------

_STAGE_SUMS = {
    "spark.executor_run_s": ("executorRunTime", 1e-3),
    "spark.executor_cpu_s": ("executorCpuTime", 1e-9),
    "spark.gc_s": ("jvmGcTime", 1e-3),
    "spark.input_records": ("inputRecords", 1),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spark.output_bytes": ("outputBytes", 1),
    "spark.failed_tasks": ("numFailedTasks", 1),
}


#: per-stage sums reported for each group of jobs
STAGE_SUMS = [*_STAGE_SUMS, "spark.spill_bytes"]


def wait_listener_bus(sc) -> None:
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def total_jobs(sc) -> int:
    """Number of jobs the status store holds (all groups, and none)."""
    return sc._jsc.sc().statusStore().jobsList(None).size()


def _read_stage(store, sid: int) -> dict | None:
    from py4j.protocol import Py4JJavaError

    try:
        st = store.lastStageAttempt(sid)
    except Py4JJavaError:  # a stage that never ran has no attempt
        return None
    if st.status().toString() == "SKIPPED":
        return None
    sub, comp = st.submissionTime(), st.completionTime()
    row = {k: getattr(st, attr)() * scale for k, (attr, scale) in _STAGE_SUMS.items()}
    row["tasks"] = st.numTasks()
    row["spark.spill_bytes"] = st.memoryBytesSpilled() + st.diskBytesSpilled()
    row["interval"] = (
        (sub.get().getTime() / 1e3, comp.get().getTime() / 1e3)
        if sub.isDefined() and comp.isDefined()
        else None
    )
    return row


def group_jobs(sc, gids) -> set[int]:
    tracker = sc.statusTracker()
    return {j for g in gids for j in tracker.getJobIdsForGroup(g)}


def group_counters(sc, gids, seen_stages: set) -> dict:
    """Job, stage and task counters of the jobs in job groups ``gids``.

    Stages are counted once per pass (``seen_stages``): a shuffle stage
    reused by a later job appears in that job's stage list but did not
    run again."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = sorted(group_jobs(sc, gids))
    out = dict.fromkeys(["stages", "tasks", *STAGE_SUMS], 0)
    out["jobs"], out["intervals"] = len(jobs), []
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in sorted(info.stageIds if info else []):
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            row = _read_stage(store, sid)
            if row is None:
                continue
            out["stages"] += 1
            interval = row.pop("interval")
            if interval:
                out["intervals"].append(interval)
            for k, v in row.items():
                out[k] += v
    return out


# -- /proc ----------------------------------------------------------


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    # the command name may contain spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2 :].split()


def process_age_s() -> float:
    """Seconds since this process started (``/proc`` start time, 10 ms
    resolution), so that set-up time includes interpreter start-up."""
    start_ticks = int(_stat_fields(os.getpid())[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / CLK_TCK


def proc_cpu_s(pid: int, children: bool = False) -> float:
    """utime+stime of ``pid`` (plus reaped children's with ``children``)."""
    try:
        f = _stat_fields(pid)
    except OSError:
        return 0.0
    ticks = int(f[11]) + int(f[12])
    if children:
        ticks += int(f[13]) + int(f[14])
    return ticks / CLK_TCK


def descendants(pid: int) -> list[int]:
    """All live descendant pids of ``pid``."""
    kids = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                kids[int(_stat_fields(int(name))[1])].append(int(name))
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def pyworker_cpu_s(jvm_pid: int) -> float:
    """CPU of the JVM's descendant processes (the Python workers),
    including workers that have already exited and been reaped."""
    return sum(proc_cpu_s(p, children=True) for p in descendants(jvm_pid))


def proc_peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def self_cpu_s() -> float:
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return ru.ru_utime + ru.ru_stime


def self_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def host_steal_s() -> float:
    """Cumulative steal time of all host CPUs, from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8]) / CLK_TCK if len(cpu) > 8 else 0.0
