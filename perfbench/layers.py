"""Readers for the layers under a query, used from the benchmark's own files.

- ``/proc``: CPU seconds of the driver process tree (Python driver, the JVM,
  its Python daemon and workers), JIT compiler CPU and the JVM's peak RSS.
- ``Store``: the JVM ``AppStatusStore`` (jobs, stages, cached RDDs), read in
  one Jackson serialization per list instead of one py4j call per field.
- ``Tracer``: spans around ``scan_parquet`` and the DataFrame
  materialization calls, plus the Catalyst phase times of every query
  execution, taken from a ``QueryExecutionListener``.  The listener sees
  the plan the noop write actually ran; the frame a query returns was never
  optimized itself, so its own tracker holds only ``analysis``.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(path: int | str) -> list[str]:
    """Fields of /proc/<path>/stat from field 3 (state) on."""
    with open(f"/proc/{path}/stat") as f:
        s = f.read()
    return s[s.rindex(")") + 2 :].split()


def process_start_epoch() -> float:
    """Wall-clock time this process was started, from /proc."""
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + int(_stat_fields("self")[19]) / _TICK


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    kids = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                kids[int(_stat_fields(d)[1])].append(int(d))
            except (OSError, ValueError, IndexError):
                continue  # the process ended while we listed
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _cpu_ticks(path: str) -> int:
    """A process's own CPU ticks plus those of the children it has reaped."""
    return sum(int(x) for x in _stat_fields(path)[11:15])  # utime stime cutime cstime


def _thread_ticks(pid: int, tid: str) -> int:
    """One thread's own CPU ticks.  A task's stat repeats the whole process's
    cutime and cstime, so those two fields are left out here."""
    return sum(int(x) for x in _stat_fields(f"{pid}/task/{tid}")[11:13])  # utime stime


class CpuMeter:
    """CPU seconds used so far by a process tree, without JIT compilation.

    Each live process adds its own user+system time and that of the
    children it has reaped, so workers that already exited still count.
    The JVM's C1/C2 compiler threads are subtracted: their time is warm-up
    that decays over a run, not work a query does.  HotSpot starts and
    stops compiler threads as its queue grows and drains, so each one's
    last reading is kept after it exits (an exiting thread has been idle)."""

    COMPILERS = ("C1 CompilerThre", "C2 CompilerThre")

    def __init__(self, root: int, jvm_pid: int):
        self.root, self.jvm_pid = root, jvm_pid
        self._names: dict[str, bool] = {}  # tid -> is a compiler thread
        self._jit_ticks: dict[str, int] = {}  # compiler tid -> last reading

    def jit_s(self) -> float:
        task = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(task):
            if tid not in self._names:
                try:
                    with open(f"{task}/{tid}/comm") as f:
                        self._names[tid] = f.read().startswith(self.COMPILERS)
                except OSError:
                    continue  # the thread ended while we listed
            if self._names[tid]:
                try:
                    self._jit_ticks[tid] = _thread_ticks(self.jvm_pid, tid)
                except OSError:
                    pass  # exited: keep its last reading
        return sum(self._jit_ticks.values()) / _TICK

    def work_s(self) -> float:
        ticks = 0
        for p in tree_pids(self.root):
            try:
                ticks += _cpu_ticks(str(p))
            except (OSError, ValueError):
                continue  # ended between listing and reading; its parent reaps it
        return ticks / _TICK - self.jit_s()


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests while this one wanted to run."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0


class Store:
    """JSON views of the JVM AppStatusStore."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala_module.__getattr__("MODULE$"))
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._gc_beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def drain(self) -> None:
        """Wait until every listener event posted so far has been handled."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _json(self, obj) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(None))

    def stages(self) -> list[dict]:
        return self._json(self._store.stageList(None, False, False, self._no_quantiles, None))

    def cached_mb(self) -> float:
        """Memory and disk held by cached, persisted or checkpointed RDDs."""
        return sum(r["memoryUsed"] + r["diskUsed"] for r in self._json(self._store.rddList(True))) / 2**20

    def jvm_gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1000.0


def group_records(jobs: list[dict], stages: list[dict]) -> dict[str, dict]:
    """Per job group: its jobs ``(id, submit_s, end_s)`` and summed stage metrics.

    A stage id can be listed by several jobs (a later job skips a shuffle
    an earlier one wrote); it is counted once, for the earliest job."""
    by_stage = defaultdict(list)
    for s in stages:
        by_stage[s["stageId"]].append(s)
    owner: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: {"jobs": [], "stages": []})  # a group may start no job
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        g = j.get("jobGroup")
        if g is None:
            continue
        rec = out[g]
        sub = (j.get("submissionTime") or 0) / 1000.0
        end = (j.get("completionTime") or j.get("submissionTime") or 0) / 1000.0
        rec["jobs"].append((j["jobId"], sub, end))
        for sid in j["stageIds"]:
            if sid not in owner:
                owner[sid] = g
                rec["stages"].extend(a for a in by_stage.get(sid, ()) if a["status"] == "COMPLETE")
    return out


def stage_sums(stages: list[dict]) -> dict[str, float]:
    mb = 2.0**20
    return {
        "executor.run_s": sum(s["executorRunTime"] for s in stages) / 1000.0,
        "executor.cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "executor.gc_s": sum(s["jvmGcTime"] for s in stages) / 1000.0,
        "executor.tasks": float(sum(s["numCompleteTasks"] for s in stages)),
        "executor.stages": float(len(stages)),
        "executor.input_mb": sum(s["inputBytes"] for s in stages) / mb,
        "executor.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / mb,
        "executor.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / mb,
        "executor.spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages) / mb,
    }


def phase_s(phase) -> float:
    """A Catalyst ``Option[PhaseSummary]`` in seconds."""
    return phase.get().durationMs() / 1000.0 if phase.isDefined() else 0.0


class _CatalystListener:
    """py4j implementation of the JVM QueryExecutionListener interface."""

    def __init__(self):
        self.phases: list[dict[str, float]] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM interface)
        self._record(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (JVM interface)
        self._record(qe)

    def _record(self, qe):
        phases = qe.tracker().phases()
        self.phases.append({k: phase_s(phases.get(k)) for k in ("analysis", "optimization", "planning")})

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Spans around the engine's public calls while a traced query runs.

    ``install`` patches ``scan_parquet`` wherever the package holds it and
    the classic DataFrame's ``localCheckpoint``, ``checkpoint``, ``cache`` and
    ``persist`` (the ``pyspark.sql.DataFrame`` facade dispatches to this
    class, so wrapping the facade would miss the calls).  Only the outermost
    traced call is a span, so spans never nest and never double count."""

    MATERIALIZE = ("localCheckpoint", "checkpoint", "cache", "persist")

    def __init__(self, spark):
        self.spark = spark
        self.active = False
        self.depth = 0
        self.spans: list[tuple[str, float, float]] = []
        self._undo: list[tuple[object, str, object]] = []
        self._listener = _CatalystListener()
        self._registered = False

    def install(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

        import polars_spark.sources as sources

        scan = sources.scan_parquet
        for mod in [m for name, m in sys.modules.items() if name.startswith("polars_spark") and m]:
            if getattr(mod, "scan_parquet", None) is scan:
                self._patch(mod, "scan_parquet", "scan")
        for attr in self.MATERIALIZE:
            self._patch(ClassicDataFrame, attr, "materialize")
        ensure_callback_server_started(self.spark.sparkContext._gateway)

    def _patch(self, owner, attr: str, kind: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not self.active or self.depth:
                return orig(*args, **kwargs)
            self.depth += 1
            t0 = time.time()
            try:
                return orig(*args, **kwargs)
            finally:
                self.depth -= 1
                self.spans.append((kind, t0, time.time()))

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def uninstall(self) -> None:
        self.listen(False)
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def listen(self, on: bool) -> None:
        """Register or drop the Catalyst listener (only traced passes pay for it)."""
        if on != self._registered:
            mgr = self.spark._jsparkSession.listenerManager()
            (mgr.register if on else mgr.unregister)(self._listener)
            self._registered = on

    def begin(self) -> None:
        self.spans = []
        self._listener.phases = []
        self.active = True

    def end(self) -> tuple[list[tuple[str, float, float]], list[dict[str, float]]]:
        """Stop recording; the query's spans and Catalyst phases (call after ``Store.drain``)."""
        self.active = False
        return self.spans, self._listener.phases
