"""Host calibration: stolen CPU time, CPU-speed probes, process meters.

The host this benchmark runs on drifts: CPU time for a fixed piece of work
moves by 5-15% within minutes, and the hypervisor gives some of this
machine's CPU time to other tenants (``steal`` in /proc/stat). Two
factors are measured during each run, outside the program:

- Steal factor ``f = 1 / (1 - s)``, where ``s`` is the share of busy CPU
  time stolen during the timed stretches. The kernel already leaves
  stolen ticks out of a process's CPU time, yet CPU time per operation
  rose with ``f``: co-tenants busy enough to steal also slow the work
  that does run, through the caches and memory bandwidth they share. So
  CPU figures are divided by ``f``, and wall-clock figures, which lose
  the stolen time and run on the slowed CPU, by ``f ** 2`` (rates
  multiplied).
- Probe factor, reported for comparison only. Two probes (a native
  ``hashlib.sha256`` pass and a pure-Python loop) run at quiescent points
  between operations; the factor is the geometric mean of their median
  times, each divided by a fixed reference time. Dividing CPU figures by
  it widened their spread between runs (see README.md).
"""

from __future__ import annotations

import hashlib
import os
import resource
import statistics
import threading
import time

#: reference probe times (ms): medians measured on a 4-vCPU x86-64 VM.
#: Only their product matters; changing them rescales the probe factor,
#: so they are fixed.
REF_SHA_MS = 9.5
REF_LOOP_MS = 12.5

_SHA_BUF = bytes(range(256)) * 4096  # 1 MiB
_SHA_PASSES = 12
_LOOP_N = 120_000
_REPS = 3


def sha_probe_ms() -> float:
    t = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(_SHA_PASSES):
        h.update(_SHA_BUF)
    h.digest()
    return (time.perf_counter() - t) * 1000.0


def loop_probe_ms() -> float:
    t = time.perf_counter()
    acc = 0
    for i in range(_LOOP_N):
        acc = (acc + i * i) % 1_000_003
    if acc < 0:  # keeps the loop's result live
        raise AssertionError
    return (time.perf_counter() - t) * 1000.0


class Probe:
    """Collects probe samples; each ``sample()`` call is one probe point.

    ``idle_check`` is called before and after the probes and must raise
    if a Spark job is running, so a probe never overlaps engine work.
    """

    def __init__(self, idle_check):
        self.idle_check = idle_check
        self.sha: list[float] = []
        self.loop: list[float] = []

    def sample(self) -> None:
        self.idle_check()
        # min of a few back-to-back repetitions drops scheduler blips;
        # the median over probe points then follows the host's speed
        self.sha.append(min(sha_probe_ms() for _ in range(_REPS)))
        self.loop.append(min(loop_probe_ms() for _ in range(_REPS)))
        self.idle_check()

    def factor(self) -> float:
        if not self.sha:
            raise RuntimeError("no probe samples taken")
        sha = statistics.median(self.sha)
        loop = statistics.median(self.loop)
        return ((sha / REF_SHA_MS) * (loop / REF_LOOP_MS)) ** 0.5

    def summary(self) -> dict:
        return {
            "points": len(self.sha),
            "sha_ms": round(statistics.median(self.sha), 4),
            "loop_ms": round(statistics.median(self.loop), 4),
            "factor": round(self.factor(), 5),
        }


# ---- process meters ---------------------------------------------------

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except FileNotFoundError:
            continue
    return out


def process_tree(pid: int) -> list[int]:
    """``pid`` and all of its live descendants."""
    seen, todo = [], [pid]
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def _proc_cpu_ticks(pid: int) -> int | None:
    """utime + stime + cutime + cstime of ``pid``; None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    fields = stat[stat.rindex(")") + 2:].split()
    # utime stime cutime cstime (fields 14-17, 1-based, of the full line)
    return sum(int(x) for x in fields[11:15])


#: JVM threads whose CPU is left out: just-in-time compilation runs in
#: bursts whose timing varies from run to run, and is not work the
#: program asked for. The JVM is started with a fixed number of compiler
#: threads (see run.py), so none of them exits and takes its CPU along.
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def jvm_cpu_ms(pid: int) -> float:
    """CPU of the driver JVM without its JIT compiler threads: the
    process total (which keeps the CPU of exited threads and of reaped
    children) minus what the compiler threads used."""
    jit = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except FileNotFoundError:
            continue
        if stat[stat.index("(") + 1:stat.rindex(")")].startswith(_JIT_THREADS):
            fields = stat[stat.rindex(")") + 2:].split()
            jit += int(fields[11]) + int(fields[12])
    return ((_proc_cpu_ticks(pid) or 0) - jit) * 1000.0 / _CLK_TCK


class WorkerMeter:
    """CPU of the JVM's child processes (the PySpark worker daemon and
    the workers it forks) while a phase is open.

    The daemon ignores SIGCHLD, so the kernel reaps an exited worker and
    its CPU time is added to no one's ``cutime``: it can only be read
    while the worker lives, and publishes end workers often (a task that
    stops reading early, as ``head(1)`` does, has its worker killed). A
    thread reads every such process's CPU each ``INTERVAL_S``; a worker
    that exits loses at most what it used since the last read.
    Processes that start during a phase count whole. ``own_ms`` is the
    CPU the readings cost this process, to be taken off its figure.
    """

    INTERVAL_S = 0.02

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.cpu_ms = 0.0
        self.own_ms = 0.0
        self._roots: list[int] = []
        self._last: dict = {}
        self._lock = threading.Lock()
        self._open = threading.Event()
        self._closed = False
        self._thread = threading.Thread(target=self._loop, name="perfbench-worker-meter",
                                        daemon=True)
        self._thread.start()

    def _read(self, count: bool) -> None:
        t = time.thread_time()
        now = {}
        for root in self._roots:
            for p in process_tree(root):
                ticks = _proc_cpu_ticks(p)
                if ticks is not None:
                    now[p] = ticks
        if count:
            for p, ticks in now.items():
                last = self._last.get(p, 0)
                # a lower reading is a new process under a reused pid
                self.cpu_ms += (ticks - last if ticks >= last else ticks) * 1000.0 / _CLK_TCK
        self._last = now
        self.own_ms += (time.thread_time() - t) * 1000.0

    def _loop(self) -> None:
        while True:
            self._open.wait()
            if self._closed:
                return
            with self._lock:
                if self._open.is_set():
                    self._read(True)
            time.sleep(self.INTERVAL_S)

    def begin(self) -> None:
        """Take the baseline: what runs now counts from here on."""
        with self._lock:
            self._roots = _children(self.jvm_pid)
            self._read(False)
            self._open.set()

    def end(self) -> None:
        with self._lock:
            self._open.clear()
            self._read(True)

    def close(self) -> None:
        self._closed = True
        self._open.set()
        self._thread.join()


def cpu_steal_ticks() -> tuple[int, int]:
    """(steal, busy) ticks summed over this machine's CPUs, from
    /proc/stat: time the hypervisor gave to other tenants while a CPU
    here had work, and all non-idle time including steal."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9])
    return steal, user + nice + system + irq + softirq + steal


class StealMeter:
    """Accumulates steal and busy ticks over timed stretches."""

    def __init__(self):
        self.steal = 0
        self.busy = 0
        self._open = None

    def start(self) -> None:
        self._open = cpu_steal_ticks()

    def stop(self) -> None:
        steal, busy = cpu_steal_ticks()
        self.steal += steal - self._open[0]
        self.busy += busy - self._open[1]

    def share(self) -> float:
        return self.steal / self.busy if self.busy else 0.0


def python_cpu_ms() -> float:
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return (ru.ru_utime + ru.ru_stime) * 1000.0


def peak_rss_mb(jvm_pid: int) -> float:
    """Driver JVM high-water RSS plus this Python process's."""
    hwm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                hwm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (hwm_kb + py_kb) / 1024.0
