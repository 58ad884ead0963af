"""Run harness shared by the workloads: session start, operation runner
with fault isolation, pass bookkeeping and host context.

Every operation runs under its own Spark job group ``<pass>:<op>``, so
the scheduler's status tracker (always on, even with the UI disabled)
counts the jobs each operation started without any tracing.
"""

from __future__ import annotations

import glob
import os
import resource
import statistics
import sys
import time
import traceback
from collections import defaultdict
from collections.abc import Callable


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def proc_stat() -> tuple[int, int]:
    """(busy+idle ticks, steal ticks) of the whole host from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7]


TICK = os.sysconf("SC_CLK_TCK")


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _proc_ticks(pid: int) -> tuple[int, int]:
    """(own utime+stime, reaped children's cutime+cstime) of ``pid``."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12]), int(fields[13]) + int(fields[14])


def _children(pid: int) -> list[int]:
    out = []
    for d in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(d) as f:
                if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                    out.append(int(d.split("/")[2]))
        except (OSError, ValueError):
            continue
    return out


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JVM's JIT compiler threads."""
    total = 0
    for d in glob.glob(f"/proc/{pid}/task/*/stat"):
        try:
            with open(d) as f:
                s = f.read()
        except OSError:
            continue
        if "CompilerThre" in s[:s.rindex(")")]:
            fields = s.rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
    return total


def _tree_ticks(pid: int) -> int:
    """CPU ticks of a process and everything below it, live or reaped."""
    try:
        own, reaped = _proc_ticks(pid)
    except OSError:
        return 0
    return own + reaped + sum(_tree_ticks(c) for c in _children(pid))


class Harness:
    """One run of one workload: the Spark session, the per-operation
    timings of the timed passes, and the failure and check ledgers."""

    def __init__(self, work: str, trace: bool, seconds: int):
        self.work, self.trace, self.seconds = work, trace, seconds
        self.t_begin = time.perf_counter()
        self.stat0 = proc_stat()
        self.op_s: dict[str, list[float]] = defaultdict(list)
        self.op_jobs: dict[str, list[int]] = defaultdict(list)
        self.warm_op_s: dict[str, float] = {}
        self.check_s = 0.0
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.check_errors: list[str] = []
        self.timed_passes = 0
        self.tracer = None
        self.spark = None

    # ------------------------------------------------------------ session
    def start_session(self):
        from gee_datapipeline_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            # keep every job of the run in the status tracker
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }
        if self.trace:
            from tracer import Tracer

            self.tracer = Tracer(self)
            conf.update(self.tracer.spark_conf())
        t = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=cpus(), extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        if self.tracer:
            self.tracer.attach(self.spark)
        return self.spark

    def jobs_in_group(self, group: str) -> int:
        tracker = self.spark.sparkContext.statusTracker()
        return len(tracker.getJobIdsForGroup(group))

    def build(self, fn: Callable[[], object]) -> object:
        """Call a query builder; when tracing, record the time spent in it
        and the jobs it started eagerly."""
        if not self.tracer:
            return fn()
        j0 = self.jobs_in_group(self.tracer.group)
        t = time.perf_counter()
        out = fn()
        self.tracer.note("plans.build_s", time.perf_counter() - t)
        self.tracer.note("plans.eager_jobs",
                         self.jobs_in_group(self.tracer.group) - j0)
        return out

    # --------------------------------------------------------- operations
    def run_op(self, label: str, name: str, fn: Callable[[], object],
               verify: Callable[[object], list[str]] | None = None) -> bool:
        """Run one operation under job group ``label:name``. An operation
        that raises is counted failed with its error recorded, and the run
        goes on. ``verify`` runs after the timer stops."""
        from gee_datapipeline_spark.session import release_scratch

        group = f"{label}:{name}"
        self.label = label
        self.spark.sparkContext.setJobGroup(group, name)
        if self.tracer:
            self.tracer.begin(label, name)
        self.attempted += 1
        t = time.perf_counter()
        try:
            out = fn()
            ok = True
        except Exception as e:  # isolate: record, count, continue
            ok = False
            self.failed += 1
            self.errors.append(f"{group}: {type(e).__name__}: {e}"[:2000])
            traceback.print_exc(file=sys.stderr)
        dt = time.perf_counter() - t
        if self.tracer:
            self.tracer.end()
        if not label.startswith("t"):
            self.warm_op_s[group] = round(dt, 3)
        if ok and verify is not None:
            t = time.perf_counter()
            try:
                self.check_errors += [f"{name}: {m}" for m in verify(out)]
            except Exception as e:
                self.check_errors.append(f"{name}: check raised {e!r}")
                traceback.print_exc(file=sys.stderr)
            self.check_s += time.perf_counter() - t
        if ok and label.startswith("t"):
            self.op_s[name].append(dt)
            self.op_jobs[name].append(self.jobs_in_group(group))
        release_scratch(self.spark)
        return ok

    def run_batch(self, ops: dict[str, Callable[[bool], object]],
                  verifiers: dict[str, Callable[[object], list[str]]],
                  order: list[str]) -> None:
        """A warm-up pass that collects and checks every output, then
        whole timed passes until ``seconds`` have passed (at least one)."""
        t = time.perf_counter()
        for name in order:
            self.run_op("w0", name, lambda n=name: ops[n](True),
                        verifiers[name])
        self.warmup_s = time.perf_counter() - t
        self.begin_timed()
        while (self.timed_passes < 1
               or time.perf_counter() - self.t_timed < self.seconds):
            for name in order:
                self.run_op(f"t{self.timed_passes}", name,
                            lambda n=name: ops[n](False))
            self.timed_passes += 1
        self.end_timed()
        for name, jobs in self.op_jobs.items():
            if len(set(jobs)) != 1:
                self.check_errors.append(
                    f"{name}: job count differs between timed passes {jobs}")

    def settle(self, max_s: float = 10.0, busy_cores: float = 0.3) -> None:
        """Collect garbage, then wait until the JVM's background compiler
        has drained what the warm-up queued (the JVM idles below
        ``busy_cores``), so the timed passes do not race it."""
        t = time.perf_counter()
        self.spark._jvm.System.gc()
        last = self._cpu()[0]
        while time.perf_counter() - t < max_s:
            time.sleep(0.5)
            now = self._cpu()[0]
            if now - last < 0.5 * busy_cores:
                break
            last = now
        self.settle_s = time.perf_counter() - t

    def begin_timed(self) -> None:
        self.settle()
        self.setup_s = time.perf_counter() - self.t_begin
        self.cpu0 = self._cpu()
        self.jit0 = _jit_ticks(self.jvm_pid)
        self.t_timed = time.perf_counter()

    def end_timed(self) -> None:
        self.timed_s = time.perf_counter() - self.t_timed
        jvm, py = self._cpu()
        self.cpu = (jvm - self.cpu0[0], py - self.cpu0[1])
        self.jit_s = (_jit_ticks(self.jvm_pid) - self.jit0) / TICK
        with open(f"/proc/{self.jvm_pid}/status") as f:
            hwm = next(int(ln.split()[1]) for ln in f
                       if ln.startswith("VmHWM"))
        self.peak_rss_mb = (hwm + resource.getrusage(
            resource.RUSAGE_SELF).ru_maxrss) / 1024

    def _cpu(self) -> tuple[float, float]:
        """CPU seconds of the JVM, and of the driver plus every Python
        worker the JVM started (live or already reaped)."""
        t = os.times()
        jvm_own, jvm_reaped = _proc_ticks(self.jvm_pid)
        workers = _tree_ticks(self.jvm_pid) - jvm_own
        return jvm_own / TICK, t.user + t.system + workers / TICK

    # ------------------------------------------------------------ results
    def run_s(self) -> float:
        """Sum over operations of each operation's median timed pass."""
        return sum(statistics.median(v) for v in self.op_s.values())

    def timed_labels(self) -> set[str]:
        return {f"t{i}" for i in range(self.timed_passes)}

    def context(self) -> dict:
        total, steal = proc_stat()
        d_total = max(1, total - self.stat0[0])
        return {
            "host_steal_pct": round(100.0 * (steal - self.stat0[1]) / d_total,
                                    3),
            "loadavg_1m": loadavg(),
            "cpus": cpus(),
            "timed_passes": self.timed_passes,
            "timed_s": round(getattr(self, "timed_s", 0.0), 3),
            "settle_s": round(getattr(self, "settle_s", 0.0), 3),
            "timed_cpu_s": [round(c, 2) for c in getattr(self, "cpu", ())],
            "timed_jit_cpu_s": round(getattr(self, "jit_s", 0.0), 2),
            "op_s": {k: [round(x, 4) for x in v]
                     for k, v in self.op_s.items()},
            "op_jobs": dict(self.op_jobs),
            "warm_op_s": self.warm_op_s,
            "check_s": round(self.check_s, 3),
            "errors": self.errors,
            "check_errors": self.check_errors,
        }

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
