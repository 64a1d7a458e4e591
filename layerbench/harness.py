"""Measurement plumbing shared by every workload: sample statistics,
op accounting (wall time and process-tree CPU time outside the JIT
compiler), spans with per-span Spark
stage metrics, process-tree RSS sampling and the host record.

Nothing here imports pyspark or the engine, so the harness tests run
without a JVM.
"""

from __future__ import annotations

import math
import os
import platform
import re
import statistics
import threading
import time
import traceback
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

# -- statistics ----------------------------------------------------------


def median(xs: list[float]) -> float:
    """True median: the mean of the two middle values for an even count."""
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def percentile(xs: list[float], p: float) -> float:
    """Linear-interpolated percentile (the 'linear' method of NumPy)."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (k - lo))


def tail_percentile(xs: list[float], p: float, min_beyond: int = 10) -> float | None:
    """The p-th percentile, or None when fewer than `min_beyond` samples
    lie beyond it: a tail figure resting on a handful of samples is noise
    presented as a number."""
    if len(xs) * (100.0 - p) / 100.0 < min_beyond:
        return None
    return percentile(xs, p)


# -- op accounting -------------------------------------------------------


@dataclass
class OpLog:
    """Times every op by kind, in wall time and in CPU time of this process
    tree (driver, Spark JVM, Python workers) outside the JVM's JIT compiler
    threads, whose CPU is kept apart in `jit`; counts attempted and failed
    ops. An op fails when it raises or when its output check returns False;
    a failed op's time is not a sample."""

    times: dict[str, list[float]] = field(default_factory=dict)
    cpu: dict[str, list[float]] = field(default_factory=dict)
    jit: dict[str, list[float]] = field(default_factory=dict)
    ref: dict[str, list[float]] = field(default_factory=dict)
    # called before every op; its results are the op kind's `ref` samples
    calibrate: Callable[[], float] | None = None
    records: list[tuple[str, float, float]] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def run(self, kind: str, fn, check=None):
        """Run fn() timed as one `kind` op, then check(result) untimed.
        Returns (ok, result)."""
        self.attempted += 1
        r = self.calibrate() if self.calibrate else None
        c0, j0 = tree_cpu_seconds(os.getpid()), jit_cpu_seconds(os.getpid())
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:
            self.failed += 1
            self.errors.append(f"{kind}: {traceback.format_exc(limit=4)}")
            return False, None
        dt = time.perf_counter() - t0
        dj = jit_cpu_seconds(os.getpid()) - j0
        dc = tree_cpu_seconds(os.getpid()) - c0 - dj
        if check is not None:
            try:
                ok = bool(check(out))
                why = "output check failed"
            except Exception:
                ok = False
                why = traceback.format_exc(limit=4)
            if not ok:
                self.failed += 1
                self.errors.append(f"{kind}: {why}")
                return False, out
        self.times.setdefault(kind, []).append(dt)
        self.cpu.setdefault(kind, []).append(dc)
        self.jit.setdefault(kind, []).append(dj)
        if r is not None:
            self.ref.setdefault(kind, []).append(r)
        self.records.append((kind, t0, t0 + dt))
        return True, out

    def clear_samples(self) -> None:
        self.times.clear()
        self.cpu.clear()
        self.jit.clear()
        self.ref.clear()
        self.records.clear()


def reference_work(reps: int = 3) -> float:
    """Thread CPU seconds of a fixed piece of work, the median of `reps`:
    a sort of an array larger than a last-level cache and an interpreted
    loop."""
    import numpy as np

    a = np.random.default_rng(0).random(3_000_000)
    out = []
    for _ in range(reps):
        t0 = time.thread_time()
        np.sort(a)
        x = 0
        for i in range(500_000):
            x ^= i * 2654435761 & 0xFFFFFFFF
        out.append(time.thread_time() - t0)
    return median(out)


# -- spans ---------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int
    group: str
    stage: dict[str, float] = field(default_factory=dict)
    counts: dict[str, float] = field(default_factory=dict)
    # reading the status store after the span closed: tracing overhead
    # that falls outside the span's interval
    bookkeeping_s: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of its interval that its
    child spans cover (children may overlap each other; the union counts
    once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(kids.get(i, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append(s.wall - covered)
    return out


class Tracer:
    """Records a span around each layer call. With `sc` given, every span
    runs under its own Spark job group, and the stages of its jobs are read
    from the status store when the span closes. A disabled tracer records
    nothing and calls nothing."""

    def __init__(self, enabled: bool, sc=None, slots: int = 1):
        self.enabled = enabled
        self.sc = sc
        self.slots = slots
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._seen_stages: set[int] = set()
        self.op_id = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        group = f"layerbench-{idx}"
        s = Span(name, time.perf_counter(), 0.0, parent, self.op_id, group)
        self.spans.append(s)
        self._stack.append(idx)
        if self.sc is not None:
            self.sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                t0 = time.perf_counter()
                s.stage = stage_metrics(self.sc, group, self._seen_stages)
                s.bookkeeping_s = time.perf_counter() - t0
                if self._stack:
                    up = self.spans[self._stack[-1]]
                    self.sc.setJobGroup(up.group, up.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)


def stage_metrics(sc, group: str, seen: set[int]) -> dict[str, float]:
    """Jobs and summed stage metrics of one job group, read from the
    status store. A stage reused by a later job (a skipped stage) is
    counted only for the group that ran it."""
    from py4j.protocol import Py4JJavaError

    jsc = sc._jsc.sc()
    # the status store is fed by the asynchronous listener bus: drain it,
    # or the last stages of the span's final job may not be there yet
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    out = {"jobs": 0, "run_ms": 0.0, "cpu_ns": 0.0, "gc_ms": 0.0, "shuffle_write_bytes": 0.0}
    for jid in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # the stage never ran (a skipped stage)
                continue
            out["run_ms"] += sd.executorRunTime()
            out["cpu_ns"] += sd.executorCpuTime()
            out["gc_ms"] += sd.jvmGcTime()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
    return out


def unspanned(records: list[tuple[str, float, float]], spans: list[Span]) -> dict[str, list[float]]:
    """Per op kind, for each op that ran top-level spans: its wall time
    minus the walls of those spans and the tracer's bookkeeping after
    them, i.e. the time its blocking path spent outside every layer call.
    Ops without spans (untraced) are skipped."""
    roots = [(s.start, s.end, s.bookkeeping_s) for s in spans if s.parent is None]
    out: dict[str, list[float]] = {}
    for kind, t0, t1 in records:
        inside = [e - b + k for b, e, k in roots if b >= t0 and e <= t1]
        if inside:
            out.setdefault(kind, []).append((t1 - t0) - sum(inside))
    return out


def inclusive_stage(spans: list[Span]) -> list[dict[str, float]]:
    """Stage metrics per span, summed over the span and its descendants."""
    acc = [dict(s.stage) for s in spans]
    for i in range(len(spans) - 1, -1, -1):
        p = spans[i].parent
        if p is not None:
            for k, v in acc[i].items():
                acc[p][k] = acc[p].get(k, 0.0) + v
    return acc


# -- memory --------------------------------------------------------------


def _process_tree(root: int, cpu: bool = False) -> dict[int, int]:
    """RSS bytes (or with `cpu`, CPU clock ticks including reaped
    children) of `root` and every descendant, by pid, from /proc. A child
    between vfork and exec (the JVM and Python start programs that way)
    shares its parent's memory and shows the parent's RSS, give or take
    the pages the parent touched between the two reads; it counts 0."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    ppid: dict[int, int] = {}
    comm: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after the parenthesised command: state ppid ... rss is 24th
        rest = stat[stat.rindex(")") + 2 :].split()
        pid = int(name)
        ppid[pid] = int(rest[1])
        comm[pid] = stat[stat.index("(") + 1 : stat.rindex(")")]
        children.setdefault(ppid[pid], []).append(pid)
        if cpu:  # utime stime cutime cstime
            rss[pid] = sum(int(v) for v in rest[11:15])
        else:
            rss[pid] = int(rest[21]) * os.sysconf("SC_PAGE_SIZE")
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        out[pid] = rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    if not cpu:
        for pid in out:
            p = ppid.get(pid)
            if pid != root and p in out and comm[p] == comm[pid] \
                    and abs(rss[p] - rss[pid]) <= rss[p] // 100:
                out[pid] = 0
    return out


def tree_cpu_seconds(root: int) -> float:
    """CPU time of `root`, its descendants and their reaped children."""
    return sum(_process_tree(root, cpu=True).values()) / os.sysconf("SC_CLK_TCK")


# HotSpot's compiler threads, as /proc shows their names (15 characters)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def jit_cpu_seconds(root: int) -> float:
    """CPU time of the JIT compiler threads of `root` and its descendants.
    A thread's time leaves this sum when the thread exits, so the JVM must
    keep its compiler threads (-XX:-UseDynamicNumberOfCompilerThreads)."""
    ticks = 0
    for pid in _process_tree(root):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            if stat[stat.index("(") + 1 : stat.rindex(")")].startswith(JIT_THREADS):
                rest = stat[stat.rindex(")") + 2 :].split()
                ticks += int(rest[11]) + int(rest[12])  # utime stime
    return ticks / os.sysconf("SC_CLK_TCK")


def descendants(root: int) -> list[int]:
    return [p for p in _process_tree(root) if p != root]


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of `pids` exists; returns those still alive."""
    end = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < end:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.1)
    return alive


class RssSampler:
    """Peak RSS of this process and all its descendants (the Spark JVM and
    its Python workers), sampled from /proc on a background thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self.at_peak: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            tree = _process_tree(me)
            if sum(tree.values()) > self.peak:
                self.peak, self.at_peak = sum(tree.values()), tree
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# -- host ----------------------------------------------------------------


def local_slots(master: str, cpus: int) -> int:
    """Task slots a local master string asks for ('local' = 1,
    'local[*]' = every CPU)."""
    if master == "local":
        return 1
    m = re.fullmatch(r"local\[(\*|\d+)(?:,\s*\d+)?\]", master)
    if not m:
        raise ValueError(f"not a local master: {master!r}")
    return cpus if m.group(1) == "*" else int(m.group(1))


def cpu_steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host_record(spark=None) -> dict:
    rec = {
        "cpus_affinity": len(os.sched_getaffinity(0)),
        "cpus_online": os.cpu_count(),
        "mem_total_gb": round(mem_total_bytes() / 2**30, 2),
        "python": platform.python_version(),
    }
    if spark is not None:
        rec["spark"] = spark.version
        rec["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
    return rec
