"""Shared pieces of the benchmark: host sizing, the Spark session and
its shutdown, CPU time of the process tree, spans, and Spark
status-store probes.

Nothing here starts a process or touches the file system at import.
"""

from __future__ import annotations

import ctypes
import os
import re
import shutil
import subprocess
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ------------------------------------------------------------- host sizing
def host_config(work_dir: str) -> dict:
    """Session sizing derived from the host it runs on, not from
    ``get_spark``'s 32-core / 48 GB defaults: every CPU the process may
    run on, a driver heap of a quarter of physical RAM (1–8 GB), and a
    shuffle dir pinned inside the run's own scratch root (``pick_local_dir``
    would otherwise choose between /dev/shm and /tmp by a timing
    probe, so two runs could shuffle to different media)."""
    cores = len(os.sched_getaffinity(0))
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    mem_gb = max(1, min(8, round(phys_gb / 4)))
    return {
        "cores": cores,
        "driver_mem": f"{mem_gb}g",
        "local_dir": os.path.join(work_dir, "spark-local"),
        "tmp_dir": os.path.join(work_dir, "tmp"),
    }


def start_spark(cfg: dict):
    """``get_spark`` with the host-derived sizing; returns the session.
    Temporary files of the JVM (native libraries it unpacks, Spark's
    scratch dirs) and of Python go to the run's own ``tmp_dir``."""
    os.makedirs(cfg["tmp_dir"], exist_ok=True)
    os.environ["TMPDIR"] = cfg["tmp_dir"]
    # no hsperfdata file: HotSpot writes it to /tmp whatever java.io.tmpdir
    # says. JIT compiler threads live for the whole run, so that
    # tree_cpu_s sees all of their CPU time (HotSpot otherwise retires
    # idle ones and starts new ones, taking their time out of sight).
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={cfg['tmp_dir']} -XX:-UsePerfData"
        " -XX:-UseDynamicNumberOfCompilerThreads"
    )
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = cfg["local_dir"]
    # progress bars would interleave with the benchmark's stdout report
    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS",
        "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    )
    from zensearch_spark.session import get_spark

    return get_spark(app="perfbench", cores=cfg["cores"], driver_mem=cfg["driver_mem"])


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------- CPU time
class _Timespec(ctypes.Structure):
    _fields_ = [("tv_sec", ctypes.c_long), ("tv_nsec", ctypes.c_long)]


_libc = ctypes.CDLL(None, use_errno=True)
_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _process_cpu_s(pid: int) -> float | None:
    """CPU seconds (user + system, every thread) of a live process, to
    the nanosecond; None once it has exited."""
    clock, ts = ctypes.c_int(), _Timespec()
    if _libc.clock_getcpuclockid(pid, ctypes.byref(clock)) != 0:
        return None
    if _libc.clock_gettime(clock.value, ctypes.byref(ts)) != 0:
        return None
    return ts.tv_sec + ts.tv_nsec * 1e-9


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields from the third on) of a /proc stat file; None once
    the process or thread is gone."""
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 2:].split()


def _jit_cpu_s(pid: int) -> float:
    """CPU seconds of the JIT compiler threads of a JVM. They live as
    long as the JVM (``start_spark``), so none of their time is lost."""
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    total = 0.0
    for tid in tids:
        st = _stat(f"/proc/{pid}/task/{tid}/stat")
        if st and st[0].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            total += (int(st[1][11]) + int(st[1][12])) * _TICK_S  # utime + stime
    return total


def tree_cpu_s() -> float:
    """CPU seconds spent so far by this process and every process below
    it (the session's JVM, the Python worker daemon the JVM starts and
    the workers it forks), less the JVM's JIT compiler threads. Live
    processes are read through their CPU clocks; workers that already
    exited count through their parent's ``cutime``/``cstime`` (clock
    ticks).

    Unlike wall time, this does not grow while other processes hold the
    CPUs. The JIT compiler threads are left out because they work
    through a backlog of compilations at their own pace, so the share a
    timed region gets grows with its wall time, not with its work."""
    procs: dict[int, tuple[str, float]] = {}  # pid -> (comm, reaped children's CPU s)
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        st = _stat(f"/proc/{name}/stat") if name.isdigit() else None
        if st is None:
            continue
        comm, fields = st
        procs[int(name)] = (comm, (int(fields[13]) + int(fields[14])) * _TICK_S)  # cutime + cstime
        children.setdefault(int(fields[1]), []).append(int(name))
    total, todo = 0.0, [os.getpid()]
    while todo:
        pid = todo.pop()
        own = _process_cpu_s(pid)
        if own is not None and pid in procs:
            comm, reaped = procs[pid]
            total += own + reaped - (_jit_cpu_s(pid) if comm == "java" else 0.0)
        todo.extend(children.get(pid, ()))
    return total


class Clock:
    """``with Clock() as c:`` — the block's wall seconds (``c.wall``) and
    the CPU seconds the process tree spent in it (``c.cpu``, see
    ``tree_cpu_s``)."""

    def __enter__(self):
        self._cpu0 = tree_cpu_s()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self._t0
        self.cpu = tree_cpu_s() - self._cpu0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def remove(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


# ------------------------------------------------------------------- spans
@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: str | None = None
    sid: int = 0


@dataclass
class Tracer:
    """In-memory spans: name, start, end, parent span and request id.
    Written out once, when the run ends."""

    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, request: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent].request
        s = Span(name, time.perf_counter(), parent=parent, request=request,
                 sid=len(self.spans))
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span id → its duration minus the time its children cover."""
        own = {s.sid: s.end - s.start for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                own[s.parent] -= s.end - s.start
        return own

    def to_json(self) -> list[dict]:
        own = self.self_times()
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {
                "id": s.sid, "name": s.name, "parent": s.parent,
                "request": s.request,
                "start_ms": round((s.start - t0) * 1e3, 3),
                "end_ms": round((s.end - t0) * 1e3, 3),
                "self_ms": round(own[s.sid] * 1e3, 3),
            }
            for s in self.spans
        ]


# ----------------------------------------------------- Spark status store
_UNIT_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6}
_PY_RUN = "time to run Python workers"


def _ms(text: str) -> float:
    """Milliseconds from a formatted SQL timing metric, e.g. ``244 ms``
    or ``total (min, med, max ...)\\n1.6 s (...)``."""
    line = text.split("\n")[-1]
    m = re.match(r"\s*([\d.,]+)\s*([a-z]+)", line)
    return float(m.group(1).replace(",", "")) * _UNIT_MS[m.group(2)] if m else 0.0


class SparkProbe:
    """Stage and operator metrics of the jobs run under a job group,
    read from Spark's in-process status stores (works with the UI
    off). Used only by traced runs."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        gw = self.sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._exec_mark: dict[str, int] = {}

    @contextmanager
    def group(self, gid: str):
        """Attribute every Spark job started inside to ``gid``; the
        enclosing group (if any) is restored afterwards."""
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self._exec_mark.setdefault(gid, int(self.sql.executionsCount()))
        self.sc.setJobGroup(gid, gid, False)
        try:
            yield
        finally:
            if prev is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(prev, prev, False)

    def metrics(self, *gids: str) -> dict[str, float]:
        """Summed over the groups: jobs, tasks, executor run / CPU
        time, shuffle write bytes, spill bytes and Python-worker run
        time."""
        out = dict(jobs=0, tasks=0, executor_run_ms=0.0, executor_cpu_ms=0.0,
                   shuffle_write_bytes=0, spill_bytes=0, python_ms=0.0)
        jids: set[int] = set()
        for g in gids:
            jids.update(int(j) for j in self.sc.statusTracker().getJobIdsForGroup(g))
        stage_ids: set[int] = set()
        for j in jids:
            seq = self.store.job(j).stageIds()
            stage_ids.update(int(seq.apply(i)) for i in range(seq.size()))
        out["jobs"] = len(jids)
        for sid in stage_ids:
            attempts = self.store.stageData(sid, False, None, False, self._no_quantiles)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped stages reuse an earlier shuffle
                out["tasks"] += sd.numTasks()
                out["executor_run_ms"] += sd.executorRunTime()
                out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["python_ms"] = self._python_ms(jids, min(
            (self._exec_mark.get(g, 0) for g in gids), default=0))
        return out

    def _python_ms(self, jids: set[int], first_exec: int) -> float:
        """Python-worker run time of the SQL executions that own
        ``jids`` (the "time to run Python workers" operator metric)."""
        total = 0.0
        execs = self.sql.executionsList(first_exec, 1 << 30)
        for x in range(execs.size()):
            e = execs.apply(x)
            keys = e.jobs().keysIterator()
            mine = False
            while keys.hasNext():
                if int(keys.next()) in jids:
                    mine = True
                    break
            if not mine:
                continue
            eid = e.executionId()
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                ms = nodes.apply(i).metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    if m.name() == _PY_RUN:
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            total += _ms(v.get())
        return total
