"""Measurement from outside the engine: /proc readers, the Spark status
store, spans, process hygiene and the check failure type. Nothing here
imports refined_spark."""

from __future__ import annotations

import contextlib
import ctypes
import os
import signal
import statistics
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


class CheckFailed(Exception):
    """An output differs from the answer computed apart from the engine."""




# ---------------------------------------------------------------- processes

def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (index 0 = state)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2:].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(d))
    return kids


def descendants(pid: int, kids: dict[int, list[int]] | None = None) -> list[int]:
    kids = children_map() if kids is None else kids
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def become_subreaper() -> None:
    """Orphaned descendants (Python workers whose daemon died first) are
    re-parented to this process, so it can wait for every one of them."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap_all(timeout: float = 20.0) -> None:
    """TERM, then KILL, every descendant of this process and wait for each."""
    me = os.getpid()
    deadline = time.monotonic() + timeout
    sig = signal.SIGTERM
    while True:
        pids = descendants(me)
        if not pids:
            break
        if time.monotonic() > deadline - timeout / 2:
            sig = signal.SIGKILL
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)
        _reap_zombies()
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still alive after {timeout}s: {pids}")
    _reap_zombies()


def _reap_zombies() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


class ProcTree:
    """CPU and memory of the JVM and the Python workers it forks
    (`pyspark.daemon` and its children)."""

    def __init__(self, jvm_pid: int):
        self.jvm = jvm_pid
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _py_pids(self) -> list[int]:
        return [p for p in descendants(self.jvm) if "pyspark.daemon" in _cmdline(p)]

    def cpu_s(self) -> tuple[float, float]:
        """(jvm, python) cumulative CPU seconds. The daemon's cutime/cstime
        keep the CPU of workers it has already reaped."""
        st = _stat(self.jvm)
        jvm = (int(st[11]) + int(st[12])) / CLK_TCK if st else 0.0
        py = 0.0
        for p in self._py_pids():
            s = _stat(p)
            if s:
                py += int(s[11]) + int(s[12]) + int(s[13]) + int(s[14])
        return jvm, py / CLK_TCK

    def rss_mb(self) -> float:
        """Proportional set size of the JVM and its Python workers: pages
        the forked workers share count once, and a child the JVM forks to
        exec a tool (sharing the whole heap until exec) is not counted."""
        total = 0
        for p in [self.jvm] + self._py_pids():
            try:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    total += next(int(line.split()[1]) for line in f
                                  if line.startswith("Pss:"))
            except OSError:
                pass
        return total / 1024

    def start_sampling(self, every: float = 0.25) -> None:
        def loop():
            while not self._stop.wait(every):
                self.peak_mb = max(self.peak_mb, self.rss_mb())

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()

    def stop_sampling(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


def host_jiffies() -> tuple[int, int, int]:
    """(busy, sys, steal) machine-wide jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = v[:8]
    return user + nice + system + irq + softirq, system, steal


# ------------------------------------------------------------- status store

class StatusStore:
    """Per-job-group executor metrics from the Spark status store (works
    with spark.ui.enabled=false)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name, False)

    def stages(self, groups: str | list[str], tasks: bool = False) -> dict:
        """Executor totals of the stages of the group(s); with tasks, also
        the task-duration skew (longest over median), which costs one
        status store call per stage."""
        groups = {groups} if isinstance(groups, str) else set(groups)
        jobs = self.store.jobsList(None)
        ids = set()
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if g.isDefined() and g.get() in groups:
                s = j.stageIds()
                ids.update(s.apply(k) for k in range(s.size()))
        out = {"cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
               "tasks": 0, "durations": []}
        stages = self.store.stageList(None, False, False, self._no_quantiles, None)
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() not in ids or str(s.status()) == "SKIPPED":
                continue
            out["cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
            out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
            out["tasks"] += s.numCompleteTasks()
            if not tasks:
                continue
            tl = self.store.taskList(s.stageId(), s.attemptId(), 100000)
            for k in range(tl.size()):
                d = tl.apply(k).duration()
                if d.isDefined():
                    out["durations"].append(d.get())
        d = out.pop("durations")
        if tasks:
            out["task_skew"] = max(d) / max(statistics.median(d), 1) if d else 0.0
        return out


# --------------------------------------------------------------------- spans

class Tracer:
    """Spans (name, start, end, parent) kept in memory, written at exit."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sp = {"trace": self.trace_id, "name": name, "start": time.time(),
              "end": None, "parent": self._open[-1]["name"] if self._open else None}
        self.spans.append(sp)
        self._open.append(sp)
        try:
            yield sp
        finally:
            self._open.pop()
            sp["end"] = time.time()


class Ledger:
    """Per-layer numbers of a traced run. Layers are contiguous: each runs
    from the end of the previous one (or the last `mark`) to its own end,
    so a stage's plan building before its commit counts to that stage. The
    call a layer wraps (a commit, a sink) is a child span, `<layer>.call`.
    Wall, Python CPU and executor metrics cover the same interval: from a
    mark until the call starts, jobs run under a gap job group that is
    folded into the layer. The status store is read once, after the traced
    iteration, so its py4j calls land in no layer."""

    def __init__(self, tracer: Tracer, status: StatusStore, procs: ProcTree):
        self.tracer, self.status, self.procs = tracer, status, procs
        self.metrics: dict[str, dict] = {}
        self._groups: dict[str, list[str]] = {}
        self._gaps = 0
        self.mark()

    def mark(self) -> None:
        self._gaps += 1
        gap = f"gap-{self._gaps}"
        self.status.group(gap)
        self._mark = (time.time(), self.procs.cpu_s()[1], gap)

    @contextlib.contextmanager
    def layer(self, name: str):
        start, py0, gap = self._mark
        self.status.group(name)
        with self.tracer.span(name) as sp:
            sp["start"] = start
            with self.tracer.span(f"{name}.call"):
                yield sp
        self.mark()
        self._groups[name] = [gap, name]
        self.metrics[name] = {"wall_s": sp["end"] - start,
                              "py_cpu_s": self._mark[1] - py0}

    def finish(self) -> dict[str, dict]:
        for name, m in self.metrics.items():
            m.update(self.status.stages(self._groups[name], tasks=True))
        return self.metrics
