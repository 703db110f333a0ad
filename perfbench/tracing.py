"""Process-tree CPU/RSS probes, and the span recorder of the traced run.

The process tree is this Python process plus every descendant: the
Spark JVM and its Python workers.  CPU is utime+stime+cutime+cstime from
``/proc/<pid>/stat``, so a worker that exits and is reaped keeps counting
through its parent.

A span is one call into a layer, made from the benchmark.  Spark work is
attributed to it through a job group set around the call; its stage
numbers come from the JVM status store.  Spans stay in memory and are
written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # the command name may hold spaces: fields start after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat_fields(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    ticks = 0
    for pid in tree_pids(root):
        st = _stat_fields(pid)
        if st is not None:  # fields 14-17 of stat: utime stime cutime cstime
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def tree_rss_mb(root: int | None = None) -> float:
    pages = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                pages += int(f.read().split()[1])
        except OSError:
            pass
    return pages * _PAGE / 2**20


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat:
    steal is time this machine's vCPUs waited for the hypervisor."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


class PeakRss:
    """Samples the tree's RSS on a thread while active; ``peak_mb`` is the
    largest sample."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "PeakRss":
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            if self._stop.wait(self.interval):
                return


@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    cpu_s: float = 0.0  # process-tree CPU delta over the span
    job_ids: list[int] = field(default_factory=list)
    stages: list[dict] = field(default_factory=list)
    counts: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans around calls into the program's layers."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def span(self, name: str, **counts):
        return _SpanCtx(self, name, counts)

    def self_s(self, span: Span) -> float:
        """Span duration minus the part its child spans cover."""
        kids = [s for s in self.spans if s.parent == span.name]
        return span.wall_s - sum(k.wall_s for k in kids)

    def stage_rows(self, job_ids: list[int]) -> list[dict]:
        """Completed and failed stage attempts of the given jobs, from the
        JVM status store (skipped stages did no work)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        rows, seen = [], set()
        for jid in job_ids:
            info = self.sc.statusTracker().getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                sd = store.lastStageAttempt(sid)
                status = sd.status().toString()
                if status == "SKIPPED":
                    continue
                sub, done = sd.submissionTime(), sd.completionTime()
                rows.append(
                    {
                        "stage": sid,
                        "job": jid,
                        "attempt": sd.attemptId(),
                        "status": status,
                        "name": sd.name(),
                        "tasks": sd.numTasks(),
                        "failed_tasks": sd.numFailedTasks(),
                        "cpu_s": sd.executorCpuTime() / 1e9,
                        "run_s": sd.executorRunTime() / 1e3,
                        "gc_s": sd.jvmGcTime() / 1e3,
                        "shuffle_read_mb": sd.shuffleReadBytes() / 2**20,
                        "shuffle_write_mb": sd.shuffleWriteBytes() / 2**20,
                        "shuffle_write_records": sd.shuffleWriteRecords(),
                        "output_records": sd.outputRecords(),
                        "wall_s": (
                            (done.get().getTime() - sub.get().getTime()) / 1e3
                            if sub.isDefined() and done.isDefined()
                            else 0.0
                        ),
                    }
                )
        return rows

    def collect_stages(self) -> None:
        """Fill each span's stage rows; called once the traced pass is
        over, so status-store reads stay out of the spans' wall time."""
        for s in self.spans:
            s.stages = self.stage_rows(s.job_ids)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, f, indent=1)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, counts: dict) -> None:
        self.t, self.name, self.counts = tracer, name, counts

    def __enter__(self) -> Span:
        t = self.t
        parent = t._stack[-1].name if t._stack else None
        self.span = Span(self.name, parent, time.perf_counter(), counts=dict(self.counts))
        self._cpu0 = tree_cpu_s()
        t.spans.append(self.span)
        t._stack.append(self.span)
        t.sc.setJobGroup(self.name, self.name)
        return self.span

    def __exit__(self, *exc) -> None:
        t, s = self.t, self.span
        s.end = time.perf_counter()
        s.cpu_s = tree_cpu_s() - self._cpu0
        t._stack.pop()
        s.job_ids = sorted(t.sc.statusTracker().getJobIdsForGroup(self.name))
        if t._stack:
            t.sc.setJobGroup(t._stack[-1].name, t._stack[-1].name)
        else:
            t.sc.setLocalProperty("spark.jobGroup.id", None)
            t.sc.setLocalProperty("spark.job.description", None)
