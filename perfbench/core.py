"""Shared measurement state for one benchmark run.

A run has a set-up stage and a measured stage. The measured stage is a
sequence of *phases*, stretches of operations with no probe inside them;
operation wall, CPU and Spark job counts are summed over phases only, so
probe time and correctness checks never count as work.
"""

from __future__ import annotations

import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

import host


class Run:
    def __init__(self, spark, seed: int, seconds: float, tracer=None):
        self.spark = spark
        self.sc = spark.sparkContext
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        self._dag = self.sc._jsc.sc().dagScheduler()
        self._status = self.sc.statusTracker()
        self.probe = host.Probe(self.assert_idle)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.mismatches: list[str] = []
        self.phase_s = 0.0
        self.steal = host.StealMeter()
        self.jvm_cpu_ms = 0.0
        self.py_cpu_ms = 0.0
        self.workers = host.WorkerMeter(self.jvm_pid)
        #: per finished round: (ops completed, op wall s, CPU ms)
        self.round_figs: list = []
        self._round_mark = (0, 0.0, 0.0)
        #: per operation kind: wall seconds of each call, jobs of each call
        self.op_wall: dict = defaultdict(list)
        self.op_jobs: dict = defaultdict(list)
        self._lock = threading.Lock()
        self._group = 0
        self.setup_parts: dict = {}

    # ---- engine counters ---------------------------------------------

    def jobs_started(self) -> int:
        """Jobs the scheduler has accepted so far, in any thread."""
        return int(self._dag.nextJobId())

    def stages_started(self) -> int:
        return int(self._dag.nextStageId())

    def tasks_of_jobs(self, first: int, end: int) -> int:
        n = 0
        for jid in range(first, end):
            info = self._status.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self._status.getStageInfo(sid)
                if st is not None:
                    n += st.numTasks
        return n

    def assert_idle(self) -> None:
        active = self._status.getActiveJobsIds()
        if active:
            raise RuntimeError(f"probe overlapped running Spark jobs {active}")

    # ---- set-up timing -------------------------------------------------

    @contextmanager
    def setup_part(self, name: str):
        t = time.perf_counter()
        yield
        self.setup_parts[name] = self.setup_parts.get(name, 0.0) + time.perf_counter() - t

    # ---- measured stage ------------------------------------------------

    @contextmanager
    def phase(self):
        self.workers.begin()
        jvm0 = host.jvm_cpu_ms(self.jvm_pid)
        py0 = host.python_cpu_ms() - self.workers.own_ms
        self.steal.start()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phase_s += time.perf_counter() - t0
            self.steal.stop()
            self.workers.end()
            self.py_cpu_ms += host.python_cpu_ms() - self.workers.own_ms - py0
            self.jvm_cpu_ms += host.jvm_cpu_ms(self.jvm_pid) - jvm0

    def cpu_ms(self) -> float:
        """CPU of the measured phases so far: JVM, its Python workers
        and this process."""
        return self.jvm_cpu_ms + self.workers.cpu_ms + self.py_cpu_ms

    def end_round(self) -> None:
        ops, cpu = self.attempted - self.failed, self.cpu_ms()
        o, w, c = self._round_mark
        self.round_figs.append((ops - o, self.phase_s - w, cpu - c))
        self._round_mark = (ops, self.phase_s, cpu)

    def call(self, kind: str, fn, *args, jobs_by_group: bool = False):
        """Time one call into the program. Returns ``(ok, result)``; a
        raised exception counts the operation as failed."""
        with self._lock:
            self.attempted += 1
            self._group += 1
            op_id = self._group
        tr = self.tracer
        if tr is not None:
            tr.set_op(op_id)
            with tr.paused():
                if jobs_by_group:
                    self.sc.setJobGroup(f"bench-op-{op_id}", kind)
                else:
                    j0 = self.jobs_started()
        t = time.perf_counter()
        try:
            result = fn(*args)
            ok = True
        except Exception as e:  # an operation failure is a benchmark outcome
            result = None
            ok = False
            with self._lock:
                self.failed += 1
                self.failures.append(f"{kind}: {type(e).__name__}: {e}"[:300])
        wall = time.perf_counter() - t
        with self._lock:
            self.op_wall[kind].append(wall)
        if tr is not None:
            tr.set_op(None)
            with tr.paused():
                if jobs_by_group:
                    jobs = len(self.sc.statusTracker().getJobIdsForGroup(f"bench-op-{op_id}"))
                    self.sc.setJobGroup("", "")
                else:
                    jobs = self.jobs_started() - j0
            with self._lock:
                self.op_jobs[kind].append(jobs)
        return ok, result

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            with self._lock:
                self.mismatches.append(what[:300])

    def steal_factor(self) -> float:
        """Slow-down of CPU work in the measured stage from co-tenants of
        the host; wall-clock figures pay it twice (see host.py)."""
        return 1.0 / (1.0 - self.steal.share())

    def rounds(self, nominal_round_s: float) -> int:
        """Whole rounds that fill ``seconds`` at the reference host speed.
        Fixed per workload and run length, so every run does the same
        operations however fast the host is at the moment."""
        return max(1, round(self.seconds / nominal_round_s))


def p50_ms(walls: list[float], factor: float) -> float:
    return statistics.median(walls) * 1000.0 / factor if walls else 0.0
