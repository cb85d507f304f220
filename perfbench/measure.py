"""Measurement plumbing: in-memory spans, process-tree RSS/CPU, host
health probes and Spark event-log attribution.

Spans are recorded only in a traced run. Self time is a span's wall
minus the part of its interval that its children cover.
"""

from __future__ import annotations

import contextlib
import ctypes
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass

# -- spans -------------------------------------------------------------------


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    thread: str = ""


class Tracer:
    """Records spans in memory. A span opened on a thread with no open
    span of its own (a program-side thread pool) is parented to the
    innermost span open on the thread that set `root_thread`, so pool
    work nests under the op that started it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root_stack: list[int] = []
        self._root_thread = threading.get_ident()

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._root_thread:
            return self._root_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._root_stack[-1] if self._root_stack else None
        )
        with self._lock:
            sp = Span(len(self.spans), parent, name, time.perf_counter(),
                      thread=threading.current_thread().name)
            self.spans.append(sp)
        stack.append(sp.sid)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def self_time(self, sp: Span) -> float:
        covered = union_length(
            (max(c.start, sp.start), min(c.end, sp.end)) for c in self.children(sp.sid)
        )
        return (sp.end - sp.start) - covered

    def named(self, name: str, within: Span | None = None) -> list[Span]:
        out = [s for s in self.spans if s.name == name]
        if within is not None:
            out = [s for s in out if s.start >= within.start and s.end <= within.end]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "id": s.sid, "parent": s.parent, "name": s.name,
                        "start": s.start, "end": s.end, "thread": s.thread,
                        "self_s": self.self_time(s),
                    }
                    for s in self.spans
                ],
                f,
            )


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@contextlib.contextmanager
def wrapped(tracer: Tracer, targets: list[tuple[object, str, str]]):
    """Patch each (owner, attribute, span name) so calls record a span;
    restore the originals on exit. Only used in a traced run."""
    saved = []
    for owner, attr, name in targets:
        orig = getattr(owner, attr)

        def make(orig=orig, name=name):
            def call(*a, **kw):
                with tracer.span(name):
                    return orig(*a, **kw)
            return call

        saved.append((owner, attr, orig))
        setattr(owner, attr, make())
    try:
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


# -- process tree --------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()  # fields from 'state' on


def _tree(root: int) -> list[tuple[int, list[str]]]:
    """(pid, /proc stat fields) of `root` and every live descendant."""
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, st in stats.items():
        kids.setdefault(int(st[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append((pid, stats[pid]))
        todo.extend(kids.get(pid, ()))
    return out


# the JVM's JIT compiler threads ("C2 CompilerThread0", cut to 15 letters)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_ticks(pid: int) -> int:
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        if raw[raw.index("(") + 1:raw.rindex(")")].startswith(_JIT_THREADS):
            fields = raw[raw.rindex(")") + 2:].split()
            total += int(fields[11]) + int(fields[12])
    return total


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of the process tree, reaped children
    included, less the JVM's JIT compiler threads. Compiling is warm-up:
    how much of it lands inside an op depends on timing, not on the op.
    The session keeps every compiler thread alive
    (-XX:-UseDynamicNumberOfCompilerThreads), so none takes its CPU
    time with it when it exits."""
    ticks = 0
    for pid, st in _tree(root or os.getpid()):
        ticks += sum(int(st[i]) for i in (11, 12, 13, 14)) - _jit_ticks(pid)
    return ticks / _TICK


def tree_rss_bytes(root: int | None = None) -> int:
    return sum(int(st[21]) for _, st in _tree(root or os.getpid())) * _PAGE


class RssSampler:
    """Background sampler of the process tree's peak RSS."""

    def __init__(self, period_s: float = 1.0):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes())


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process (Linux
    PR_SET_CHILD_SUBREAPER). Spark's Python daemon is a child of the JVM
    and outlives it briefly; as a subreaper, this process can wait for it."""
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def _reap_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def reap_descendants(grace_s: float = 30.0) -> list[int]:
    """Wait until no descendant of this process is alive. Those still
    alive after `grace_s` get SIGTERM, and SIGKILL 5 s later. Returns
    the pids that had to be signalled."""
    me = os.getpid()
    signalled: list[int] = []
    deadline, sig = time.monotonic() + grace_s, signal.SIGTERM
    while True:
        _reap_children()
        live = [pid for pid, st in _tree(me) if pid != me and st[0] != "Z"]
        if not live:
            return signalled
        if time.monotonic() > deadline:
            for pid in live:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
                if pid not in signalled:
                    signalled.append(pid)
            deadline, sig = time.monotonic() + 5.0, signal.SIGKILL
        time.sleep(0.05)


# -- host health -----------------------------------------------------------------

_MD5_BLOCK = b"\0" * 4096


def _md5_count(seconds: float) -> int:
    n, end = 0, time.perf_counter() + seconds
    while time.perf_counter() < end:
        hashlib.md5(_MD5_BLOCK).digest()
        n += 1
    return n


# one parallel md5 worker: sleeps until argv[2] (epoch s), then prints how
# many 4 KiB blocks it hashed in argv[1] seconds
_MD5_WORKER = """
import hashlib, sys, time
seconds, start_at = float(sys.argv[1]), float(sys.argv[2])
time.sleep(max(0.0, start_at - time.time()))
n, end, block = 0, time.perf_counter() + seconds, bytes(4096)
while time.perf_counter() < end:
    hashlib.md5(block).digest()
    n += 1
print(n)
"""


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def host_health(workers: int, seconds: float = 0.1) -> dict[str, float]:
    """Sleep overshoot of 1 ms sleeps (p50/p90, ms) and the md5 rate of
    `workers` parallel processes relative to one (effective cores).
    Recorded beside the metrics; never used to drop a run."""
    over = []
    for _ in range(50):
        t = time.perf_counter()
        time.sleep(0.001)
        over.append((time.perf_counter() - t - 0.001) * 1e3)
    deciles = statistics.quantiles(over, n=10)
    single = _md5_count(seconds)
    start_at = time.time() + 0.4  # after every worker has started
    # plain child processes, each waited for: no helper process outlives them
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _MD5_WORKER, str(seconds), str(start_at)],
            stdout=subprocess.PIPE, text=True,
        )
        for _ in range(workers)
    ]
    counts = []
    for p in procs:
        try:
            out, _ = p.communicate(timeout=30)
        finally:
            p.kill()  # no-op once it has exited
            p.wait()
        counts.append(int(out))
    return {
        "sleep_overshoot_p50_ms": deciles[4],
        "sleep_overshoot_p90_ms": deciles[8],
        "effective_cores": sum(counts) / max(single, 1),
    }


# -- Spark event log ---------------------------------------------------------------


@dataclass
class Stage:
    submit: float
    complete: float
    job: int
    tasks: int
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0


def read_event_log(path: str) -> tuple[dict[int, tuple[float, float]], list[Stage]]:
    """Jobs {id: (submit, end)} and completed stages, in epoch seconds."""
    jobs: dict[int, list] = {}
    stage_job: dict[int, int] = {}
    stages: dict[tuple[int, int], Stage] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = [ev["Submission Time"] / 1e3, None]
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]][1] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                st = stages.setdefault(key, Stage(0, 0, stage_job.get(ev["Stage ID"], -1), 0))
                m = ev.get("Task Metrics") or {}
                st.run_s += m.get("Executor Run Time", 0) / 1e3
                st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                st.gc_s += m.get("JVM GC Time", 0) / 1e3
                r = m.get("Shuffle Read Metrics", {})
                st.shuffle_read += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                st.shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                st = stages.setdefault(key, Stage(0, 0, -1, 0))
                st.submit = info.get("Submission Time", 0) / 1e3
                st.complete = info.get("Completion Time", 0) / 1e3
                st.job = stage_job.get(info["Stage ID"], st.job)
                st.tasks = info["Number of Tasks"]
    done = {j: (s, e) for j, (s, e) in jobs.items() if e is not None}
    return done, [s for s in stages.values() if s.complete]


def engine_window(jobs, stages, start: float, end: float) -> dict[str, float]:
    """Spark work whose jobs were submitted inside [start, end] (epoch s):
    counts, stage-interval union and summed task metrics."""
    in_jobs = {j for j, (s, _) in jobs.items() if start <= s <= end}
    sts = [s for s in stages if s.job in in_jobs]
    return {
        "jobs": len(in_jobs),
        "stages": len(sts),
        "tasks": sum(s.tasks for s in sts),
        "stage_union_s": union_length((s.submit, s.complete) for s in sts),
        "executor_run_s": sum(s.run_s for s in sts),
        "executor_cpu_s": sum(s.cpu_s for s in sts),
        "gc_s": sum(s.gc_s for s in sts),
        "shuffle_read_mb": sum(s.shuffle_read for s in sts) / 1e6,
        "shuffle_write_mb": sum(s.shuffle_write for s in sts) / 1e6,
    }
