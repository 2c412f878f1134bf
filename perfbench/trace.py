"""Spans, Spark status-store counters, a memory sampler and a host probe.

Spans are kept in memory and summarised when the run ends. Spark counters
are attributed to a span by the window of stage and job ids created while
the span was open, not by job group: `build_report` runs its charts on
pool threads, which do not inherit `setJobGroup`. The status store keeps
only about 1000 stages by default, so each span reads its stages when it
closes, and stage data is cached once read.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# counters summed over a span's stages: (metric suffix, StageData getter, scale)
_STAGE_COUNTERS = (
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("shuffle_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
    ("failed_tasks", "numFailedTasks", 1),
    ("tasks", "numCompleteTasks", 1),
)
CORE = ("wall_s", "self_s", "jobs", "stages", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s")


class StatusStore:
    """Stage and job counters read from the driver's AppStatusStore."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._next_stage = 0
        self._next_job = 0
        self._stages: dict[int, dict] = {}
        self.watermark()  # skip everything that ran before tracing began

    def _exists(self, kind: str, i: int) -> bool:
        if kind == "stage":  # an unknown stage id gives no attempts
            return self._store.stageData(i, False, None, False, None).size() > 0
        try:
            self._store.job(i)
        except Exception:  # noqa: BLE001 — py4j raises NoSuchElementException for unknown ids
            return False
        return True

    def watermark(self) -> tuple[int, int]:
        """(next job id, next stage id) once the listener bus has drained."""
        self._bus.waitUntilEmpty()
        while self._exists("job", self._next_job):
            self._next_job += 1
        while self._exists("stage", self._next_stage):
            self._next_stage += 1
        return self._next_job, self._next_stage

    def _stage(self, sid: int) -> dict:
        if sid not in self._stages:
            out = defaultdict(float)
            attempts = self._store.stageData(sid, False, None, False, None)  # empty once evicted
            for a in range(attempts.size()):
                sd = attempts.apply(a)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                for name, getter, scale in _STAGE_COUNTERS:
                    out[name] += getattr(sd, getter)() * scale
            self._stages[sid] = dict(out)
        return self._stages[sid]

    def counters(self, start: tuple[int, int], end: tuple[int, int]) -> dict:
        out = defaultdict(float, jobs=end[0] - start[0])
        for sid in range(start[1], end[1]):
            for k, v in self._stage(sid).items():
                out[k] += v
        return dict(out)


@dataclass
class Span:
    name: str
    t0: float
    t1: float = 0.0
    counters: dict = field(default_factory=dict)
    children: list = field(default_factory=list)  # (t0, t1) of child intervals


class Tracer:
    """Records spans for one pass at a time; `passes` holds each pass's
    per-name sums, from which the per-layer medians are taken."""

    def __init__(self, store: StatusStore) -> None:
        self.store = store
        self.passes: list[dict[str, dict]] = []
        self._stack: list[Span] = []
        self._lock = threading.Lock()

    def begin_pass(self) -> None:
        self.passes.append(defaultdict(lambda: defaultdict(float)))

    def add(self, name: str, key: str, value: float) -> None:
        self.passes[-1][name][key] += value

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        mark = self.store.watermark()
        s = Span(name, time.perf_counter())
        self._stack.append(s)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()
            counters = self.store.counters(mark, self.store.watermark())
            if parent is not None:
                parent.children.append((s.t0, s.t1))
            row = self.passes[-1][name]
            row["wall_s"] += s.t1 - s.t0
            row["self_s"] += (s.t1 - s.t0) - _covered(s.t0, s.t1, s.children)
            for k, v in counters.items():
                row[k] += v
            for k, v in s.counters.items():
                row[k] += v

    def child_interval(self, t0: float, t1: float) -> None:
        """A timed interval inside the open span that is not a span itself
        (a chart collected on a pool thread)."""
        with self._lock:
            self._stack[-1].children.append((t0, t1))

    def medians(self) -> dict[str, dict[str, float]]:
        names = {n for p in self.passes for n in p}
        out = {}
        for n in names:
            keys = {k for p in self.passes for k in p.get(n, {})}
            out[n] = {k: statistics.median(p[n][k] if n in p else 0.0 for p in self.passes) for k in keys}
        return out


def _covered(t0: float, t1: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [t0, t1] covered by the union of `intervals`."""
    total, end = 0.0, t0
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, t1)
        if b > a:
            total += b - a
            end = b
    return total


_SAMPLE_INTERVAL_S = 0.25


class MemorySampler:
    """Peak memory of this process and all its descendants (the Spark JVM
    and its Python workers), sampled from /proc by one thread. Each
    process counts its proportional set size (PSS): resident pages, with a
    page shared by k processes counted 1/k in each, so the copy-on-write
    pages of forked Python workers are counted once."""

    def __init__(self) -> None:
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="memory-sampler", daemon=True)

    def __enter__(self) -> MemorySampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @staticmethod
    def _tree(pid: int) -> list[int]:
        out, todo = [], [pid]
        while todo:
            p = todo.pop()
            out.append(p)
            try:
                for tid in os.listdir(f"/proc/{p}/task"):
                    with open(f"/proc/{p}/task/{tid}/children") as f:
                        todo.extend(int(c) for c in f.read().split())
            except OSError:
                continue  # the process exited while being read
        return out

    def sample(self) -> int:
        total = 0
        for p in self._tree(os.getpid()):
            try:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    total += next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:")) * 1024
            except (OSError, StopIteration, ValueError):
                continue
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(_SAMPLE_INTERVAL_S)


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds, user plus system, of this process and its descendants,
    including descendants that have exited and been waited for."""
    total = 0
    for p in MemorySampler._tree(os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def host_probe() -> dict:
    """Host-load evidence: load averages plus a fixed pure-Python CPU probe
    (median of three timings); an inflated probe marks a busy host."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i for i in range(300_000))
        times.append(time.perf_counter() - t0)
    return {"loadavg": list(os.getloadavg()), "cpu_probe_s": statistics.median(times)}
