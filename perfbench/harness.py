"""Measurement machinery shared by every workload: the closed-loop op timer
and its steal-aware stopwatch, the process-tree RSS sampler, spans with
Spark job groups, and the event-log reader that turns Spark's own per-stage
counters into per-span counters.

Nothing here starts a thread, a process or a Spark session at import time.
"""

from __future__ import annotations

import ctypes
import json
import os
import signal
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable

# --------------------------------------------------- RSS, CPU and steal


def _parent_map() -> dict[int, int]:
    parents = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended between listdir and open
            continue
        # the command name is in parentheses and may hold spaces
        fields = stat[stat.rindex(")") + 2:].split()
        parents[int(entry)] = int(fields[1])
    return parents


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant of it."""
    children = defaultdict(list)
    for pid, ppid in _parent_map().items():
        children[ppid].append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def rss_bytes(pid: int) -> int:
    """Resident set size of one process, 0 when it has already ended."""
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def tree_rss_bytes(root: int) -> int:
    return sum(rss_bytes(p) for p in tree_pids(root))


_HZ = os.sysconf("SC_CLK_TCK")


def cpu_s(pid: int) -> float:
    """User + system CPU seconds of one process and its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:  # the process has ended
        return 0.0
    fields = stat[stat.rindex(")") + 2:].split()
    return sum(int(x) for x in fields[11:15]) / _HZ


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and every live descendant."""
    return sum(cpu_s(p) for p in tree_pids(root))


def host_cpu_s() -> tuple[float, float]:
    """Busy and stolen CPU seconds of the whole guest so far, summed over
    all its CPUs. Busy is user, nice, system, irq and softirq time. Stolen
    is time a CPU was ready to run while the hypervisor ran another guest."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9])
    return (user + nice + system + irq + softirq) / _HZ, steal / _HZ


@dataclass
class Lap:
    """One timed interval: its wall time and the share of the guest's
    runnable CPU time that the hypervisor took during it."""

    wall_s: float
    steal_share: float

    @property
    def own_s(self) -> float:
        """Wall time with the hypervisor's share taken out.

        While the hypervisor runs other guests on this guest's CPUs, every
        thread that is ready to run loses about the same share of its time.
        An interval whose CPUs were runnable for B + S CPU-seconds, S of
        them stolen, would have taken ``wall_s * B / (B + S)`` on CPUs of
        its own. On a quiet host S is 0 and this is the wall time."""
        return self.wall_s * (1.0 - self.steal_share)


class Stopwatch:
    """Starts when made; ``lap`` reads the interval since then."""

    def __init__(self):
        self.t0 = time.monotonic()
        self.busy0, self.steal0 = host_cpu_s()

    def lap(self) -> Lap:
        wall = time.monotonic() - self.t0
        busy, steal = host_cpu_s()
        busy, steal = busy - self.busy0, steal - self.steal0
        share = steal / (busy + steal) if busy + steal > 0 else 0.0
        return Lap(wall, share)


class RssSampler:
    """Samples the summed RSS of a process tree (the Python driver, the
    Spark JVM it launched and that JVM's Python workers) on a background
    thread, keeping the peak. ``ru_maxrss`` sees only the calling process,
    which misses the JVM that holds nearly all the memory."""

    def __init__(self, root: int | None = None, interval_s: float = 0.25):
        self.root = os.getpid() if root is None else root
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._recent: list[int] = []
        self._lock = threading.Lock()  # sample() and reset() race otherwise
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> int:
        now = tree_rss_bytes(self.root)
        self.observe(now)
        return now

    def observe(self, now: int) -> None:
        """Take one reading. The peak is that of the median of the last
        three readings, so no single reading can set it: a process just
        forked from the driver or the JVM shows its parent's pages in
        ``/proc`` until it execs, and one reading then counts them twice."""
        with self._lock:
            self._recent = (self._recent + [now])[-3:]
            ordered = sorted(self._recent)
            self.peak_bytes = max(self.peak_bytes,
                                  ordered[(len(ordered) - 1) // 2])

    def reset(self) -> None:
        """Forget the peak so far; the next samples start a new one."""
        with self._lock:
            self._recent = []
            self.peak_bytes = 0
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self.sample()


# ------------------------------------------------------------------ spans


@dataclass
class Span:
    name: str
    group: str
    start: float
    end: float = 0.0
    parent: "Span | None" = None
    children: list["Span"] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        """Duration minus the part of it that child spans cover."""
        cover, last = 0.0, self.start
        for c in sorted(self.children, key=lambda c: c.start):
            lo, hi = max(c.start, last), min(c.end, self.end)
            if hi > lo:
                cover += hi - lo
                last = hi
        return self.wall_s - cover

    def groups(self) -> list[str]:
        """Job groups of this span and all its descendants."""
        out = [self.group]
        for c in self.children:
            out.extend(c.groups())
        return out


class Tracer:
    """Spans around calls into the library's layers. With ``enabled`` each
    span also tags the Spark jobs it launches with a job group of its own,
    so the event log can attribute stages to it; disabled, ``span`` only
    yields and records nothing."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.roots: list[Span] = []
        self._stack: list[Span] = []
        self._n = 0

    def _set_group(self, group: str | None) -> None:
        if self.sc is None:
            return
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str):
        s = self.begin(name)
        try:
            yield s
        finally:
            self.end(s)

    def begin(self, name: str) -> Span | None:
        """Open a span that ``end`` closes; for boundaries that a callback
        reports rather than a ``with`` block encloses."""
        if not self.enabled:
            return None
        self._n += 1
        parent = self._stack[-1] if self._stack else None
        s = Span(name, f"{name}#{self._n}", time.monotonic(), parent=parent)
        (parent.children if parent else self.roots).append(s)
        self._stack.append(s)
        self._set_group(s.group)
        return s

    def end(self, s: Span | None) -> None:
        if s is None:
            return
        s.end = time.monotonic()
        popped = self._stack.pop()
        if popped is not s:
            raise RuntimeError(f"span {s.name} closed out of order")
        self._set_group(self._stack[-1].group if self._stack else None)


# -------------------------------------------------------------- event log

_ACC = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_b",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_b",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_b",
}


@dataclass
class Counters:
    jobs: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    shuffle_mb: float = 0.0
    serial_s: float = 0.0
    gc_s: float = 0.0

    def add(self, o: "Counters") -> None:
        self.jobs += o.jobs
        self.tasks += o.tasks
        self.cpu_s += o.cpu_s
        self.shuffle_mb += o.shuffle_mb
        self.serial_s += o.serial_s
        self.gc_s += o.gc_s


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Spark settings that write one plain-text event log into ``log_dir``
    (Spark 4 otherwise rolls the log into a directory of zstd files, and
    the zstandard module is not installed here)."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def parse_event_log(path: str) -> dict[str, Counters]:
    """Per-job-group counters from an uncompressed Spark event log.

    A stage counts toward the group of the first job that lists it (a
    shuffle stage reused by a later job is skipped there and never
    completes twice). ``serial_s`` is the executor run time of stages that
    ran as one task: work no other core could share."""
    stage_group: dict[int, str] = {}
    out: dict[str, Counters] = defaultdict(Counters)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                out[group].jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                group = stage_group.get(info["Stage ID"])
                if group is None or "Failure Reason" in info:
                    continue
                acc = defaultdict(float)
                for a in info.get("Accumulables", []):
                    key = _ACC.get(a.get("Name"))
                    if key is not None:
                        acc[key] += float(a["Value"])
                c = out[group]
                n = int(info["Number of Tasks"])
                c.tasks += n
                c.cpu_s += acc["cpu_ns"] / 1e9
                c.gc_s += acc["gc_ms"] / 1e3
                c.shuffle_mb += acc["shuffle_b"] / 2**20
                if n == 1:
                    c.serial_s += acc["run_ms"] / 1e3
    return dict(out)


def find_event_log(log_dir: str) -> str:
    """The single finished event log Spark wrote into ``log_dir``."""
    logs = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {logs}")
    return os.path.join(log_dir, logs[0])


def span_counters(span: Span, by_group: dict[str, Counters]) -> Counters:
    """Counters of ``span`` including every descendant span's jobs."""
    total = Counters()
    for g in span.groups():
        if g in by_group:
            total.add(by_group[g])
    return total


# ------------------------------------------------------------ JVM memory


class JvmProbe:
    """GC time and heap peak of the driver JVM, read through the session's
    py4j gateway from the JVM's management beans."""

    def __init__(self, spark):
        self._mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory

    def gc_s(self) -> float:
        return sum(
            max(b.getCollectionTime(), 0)
            for b in self._mf.getGarbageCollectorMXBeans()
        ) / 1e3

    def _heap_pools(self):
        return [
            p for p in self._mf.getMemoryPoolMXBeans()
            if str(p.getType().name()) == "HEAP"
        ]

    def reset_heap_peak(self) -> None:
        for p in self._heap_pools():
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        """Sum of the heap pools' peaks since the last reset: an upper
        bound on the peak of their sum."""
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools()) / 2**20


# --------------------------------------------------------------- op loop


@dataclass
class LoopResult:
    #: timed ops: wall time with the hypervisor's share taken out
    op_s: list[float]
    #: timed ops as a clock on the wall saw them
    wall_s: list[float]
    steal_share: list[float]
    warmup_s: list[float]
    attempted: int
    failed: int
    errors: list[str]


def closed_loop(
    op: Callable[[int], Any],
    check: Callable[[int, Any], str | None],
    warmup_ops: int,
    timed_ops: int,
) -> LoopResult:
    """One client, one op in flight: ``warmup_ops`` untimed ops, then
    ``timed_ops`` timed ones.

    Every op's output is checked outside its timing: ``check`` returns None
    when the output is right and a description of the mismatch otherwise.
    An op that raises, or whose check reports a mismatch or raises, counts
    as failed. ``op`` receives the op's index."""
    laps, warm, errors = [], [], []
    attempted = failed = 0

    def one(i: int) -> Lap:
        nonlocal attempted, failed
        attempted += 1
        watch = Stopwatch()
        try:
            out = op(i)
        except Exception as e:  # a failing op is a result, not a crash
            failed += 1
            errors.append(f"op {i}: {type(e).__name__}: {e}"[:500])
            return watch.lap()
        lap = watch.lap()
        try:
            problem = check(i, out)
        except Exception as e:
            problem = f"{type(e).__name__}: {e}"
        if problem is not None:
            failed += 1
            errors.append(f"check {i}: {problem}"[:500])
        return lap

    for i in range(warmup_ops):
        warm.append(one(i).wall_s)
    for i in range(warmup_ops, warmup_ops + timed_ops):
        laps.append(one(i))
    return LoopResult([x.own_s for x in laps], [x.wall_s for x in laps],
                      [x.steal_share for x in laps], warm, attempted, failed,
                      errors)


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        for n in files:
            total += os.path.getsize(os.path.join(root, n))
    return total / 2**20


# ------------------------------------------------------ child processes

_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make this process the parent of every process orphaned below it
    (Linux ``PR_SET_CHILD_SUBREAPER``). A Python worker whose JVM has exited
    then becomes a child of this process rather than of init, so
    ``live_children`` sees it and ``reap_children`` can wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def live_children() -> set[int]:
    """Children of this process that are still running. Children that have
    ended are reaped on the way, so they leave no zombie."""
    me = os.getpid()
    alive = set()
    for pid in (p for p, pp in _parent_map().items() if pp == me):
        try:
            done, _ = os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:  # already reaped elsewhere
            continue
        if done == 0:
            alive.add(pid)
    return alive


def reap_children(grace_s: float = 20.0) -> set[int]:
    """Return once every child of this process has ended. Children get
    ``grace_s`` to exit by themselves, then SIGTERM and 5 s, then SIGKILL.
    Children that appear meanwhile (orphans handed over while their parent
    exits) are waited for as well. Returns the pids that had to be
    signalled."""
    signalled: set[int] = set()
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 5.0),
                        (signal.SIGKILL, 10.0)):
        end = time.monotonic() + wait_s
        sent: set[int] = set()
        while True:
            alive = live_children()
            if not alive:
                return signalled
            if sig is not None:
                for pid in alive - sent:
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
                    sent.add(pid)
                signalled |= sent
            if time.monotonic() > end:
                break
            time.sleep(0.05)
    raise RuntimeError(f"child processes {sorted(alive)} outlived SIGKILL")
