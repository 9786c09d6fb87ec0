"""Statistics, machine context, the CPU clock and tracing for the
benchmark.

``CpuClock`` gives the CPU seconds of the benchmark's worker process
and its descendants (the Spark JVM, Spark's Python workers); the gated
end-to-end metrics are read from it.

Tracing lives entirely in the benchmark's own files: ``Tracer.wrap``
puts a timing wrapper around a public function of the package, and
``Tracer.op`` brackets one operation with a Spark job group and a
diff of the executor summary (the listener bus is drained first, so
every task of the operation is counted).  Executed-plan node counts
come from ``queryExecution().executedPlan()`` after execution.
"""

from __future__ import annotations

import contextlib
import functools
import os
import re
import statistics
import subprocess
import time
from collections import defaultdict
from types import SimpleNamespace


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def best(spans, unit: str) -> float:
    """The lowest ``unit`` (``cpu``, ``wall``, ...) over repeated spans
    of one operation: a JIT compile or GC cycle that lands on one
    repetition only ever adds time, so the best repetition is the
    steadiest estimate of the warm cost."""
    return min(getattr(s, unit) for s in spans)


def tail(xs) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    the 11th-largest sample.  Returns ``(value, percentile, n)``; the
    percentile is the nearest-rank percentile of that sample.  Needs
    at least 11 samples."""
    n = len(xs)
    if n < 11:
        raise ValueError(f"tail needs at least 11 samples, got {n}")
    return sorted(xs)[n - 11], 100.0 * (n - 10) / n, n


#: clockid_t of process ``pid``'s CPU clock (Linux MAKE_PROCESS_CPUCLOCK
#: with CPUCLOCK_SCHED): user + system time of all its threads, in ns
def _process_clock(pid: int) -> int:
    return (~pid << 3) | 2


#: what a ``CpuClock.span`` records, in seconds
UNITS = ("cpu", "work_cpu", "task_cpu", "jit_cpu", "wall")

#: thread names (``comm`` keeps 15 bytes) -> the CPU share they count in
_THREAD_KINDS = {
    "Executor task l": "task_cpu",   # Executor task launch worker ...
    "C1 CompilerThre": "jit_cpu",
    "C2 CompilerThre": "jit_cpu",
}


class CpuClock:
    """CPU seconds (user + system) of this process and every live
    descendant of it: the Spark JVM and Spark's Python workers.

    The gated metric is CPU seconds less the JIT compiler threads'
    (``work_cpu``), not wall seconds: on a shared host, wall time also
    counts the time the host takes a vCPU away (steal) and the time a
    stage waits for a task stuck on such a vCPU, and the JIT compiler
    falls behind on a busy host, so its CPU lands late, on whichever
    operation runs then.  Both vary far more from run to run than the
    program's own work.  ``span()`` records every unit, so wall times
    stay in the report.
    The clock's own bookkeeping (the /proc scan) happens outside the
    measured interval of this process."""

    def __init__(self):
        self.pid = os.getpid()

    def _descendants(self) -> list[int]:
        children: dict[int, list[int]] = defaultdict(list)
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(name))
        out, todo = [], [self.pid]
        while todo:
            kids = children.get(todo.pop(), [])
            out.extend(kids)
            todo.extend(kids)
        return out

    def _sample(self) -> tuple[dict, dict]:
        """CPU seconds of each live descendant process, and of each of
        their threads whose name is in ``_THREAD_KINDS``."""
        procs, threads = {}, {}
        for pid in self._descendants():
            try:
                procs[pid] = time.clock_gettime(_process_clock(pid))
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:  # ended since the scan
                continue
            for tid in tids:
                base = f"/proc/{pid}/task/{tid}"
                try:
                    with open(f"{base}/comm") as f:
                        kind = _THREAD_KINDS.get(f.read()[:15])
                    if kind is None:
                        continue
                    with open(f"{base}/schedstat") as f:
                        threads[(kind, pid, int(tid))] = int(f.read().split()[0]) / 1e9
                except OSError:
                    continue
        return procs, threads

    def mark(self):
        procs, threads = self._sample()
        return procs, threads, time.process_time()

    def since(self, mark) -> dict[str, float]:
        """CPU seconds since ``mark``: ``cpu`` of the whole process
        tree, the parts of it spent in Spark task threads
        (``task_cpu``) and in the JVM's JIT compiler threads
        (``jit_cpu``), and ``work_cpu`` = ``cpu`` less ``jit_cpu``."""
        own = time.process_time()
        procs, threads = self._sample()
        procs0, threads0, own0 = mark
        # a process or thread started inside the interval counts from
        # zero; one that ended inside it is lost (Spark reuses its
        # Python workers and task threads)
        out = {"cpu": own - own0 + sum(v - procs0.get(k, 0.0) for k, v in procs.items()),
               "task_cpu": 0.0, "jit_cpu": 0.0}
        for key, v in threads.items():
            out[key[0]] += v - threads0.get(key, 0.0)
        out["work_cpu"] = out["cpu"] - out["jit_cpu"]
        return out

    @contextlib.contextmanager
    def span(self):
        """Yields a record whose ``wall`` and ``since()`` fields
        (seconds) are set when the block ends."""
        rec = SimpleNamespace(**dict.fromkeys(UNITS, 0.0))
        m = self.mark()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec.wall = time.perf_counter() - t0
            rec.__dict__.update(self.since(m))


#: ``calibrate()`` on a quiet 4-vCPU x86-64 VM (the hosts the benchmark
#: was tuned on): the scale ``warm_cpu_s`` is expressed in
CALIBRATION_REF_S = 0.165


def calibrate() -> float:
    """CPU seconds this thread takes for a fixed piece of work that
    does not touch the program: sorting 8M random doubles (64 MB, more
    than the caches hold) and a pure-Python loop.  A host that runs the
    benchmark's vCPUs slower (shared cores and caches, clock speed)
    slows this and the program alike, and no steal accounting shows it."""
    import numpy as np

    a = np.random.default_rng(0).random(1 << 23)
    t0 = time.thread_time()
    np.sort(a)
    x = 0
    for i in range(1_000_000):
        x += i * i % 7
    return time.thread_time() - t0


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class MachineContext:
    """nproc, loadavg at start and end, and the CPU-steal share of the
    host's CPU time between ``__init__`` and ``finish``."""

    def __init__(self, root: str):
        self.root = root
        self.load_start = os.getloadavg()
        self.cpu_start = _cpu_times()

    def finish(self, master: str) -> dict:
        cpu_end = _cpu_times()
        delta = [b - a for a, b in zip(self.cpu_start, cpu_end)]
        steal = delta[7] if len(delta) > 7 else 0
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "master": master,
            "git_commit": self._commit(),
            "loadavg_start": [round(x, 2) for x in self.load_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "steal_share": round(steal / max(1, sum(delta[:8])), 4),
        }

    def _commit(self) -> str:
        try:
            out = subprocess.run(
                ["git", "-C", self.root, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            )
        except (OSError, subprocess.TimeoutExpired):
            return "unknown"
        return out.stdout.strip() if out.returncode == 0 else "unknown (not a git checkout)"


#: node-name patterns counted in executed plans
_PY_NODE = re.compile(r"Python|InPandas|InArrow")
_NODE_LINE = re.compile(r"^[\s:|+\-]*(\*\(\d+\)\s*)?([A-Za-z]\w*)")


def plan_counts(df) -> dict[str, int]:
    """Python exec nodes, shuffle exchanges and broadcasts in the
    executed (final AQE) plan of an already-executed DataFrame."""
    text = df._jdf.queryExecution().executedPlan().toString()
    # an adaptive plan prints its final plan, then its initial plan
    text = text.split("== Initial Plan ==")[0]
    out = {"python_nodes": 0, "exchanges": 0, "broadcasts": 0}
    for line in text.splitlines():
        m = _NODE_LINE.match(line)
        if not m:
            continue
        name = m.group(2)
        if _PY_NODE.search(name):
            out["python_nodes"] += 1
        elif name == "BroadcastExchange":
            out["broadcasts"] += 1
        elif name in ("Exchange", "ShuffleExchange"):
            out["exchanges"] += 1
    return out


#: executor-summary fields diffed per operation
_EXEC_FIELDS = {
    "tasks": "totalTasks",
    "failed_tasks": "failedTasks",
    "task_ms": "totalDuration",
    "gc_ms": "totalGCTime",
    "input_bytes": "totalInputBytes",
    "shuffle_read_bytes": "totalShuffleRead",
    "shuffle_write_bytes": "totalShuffleWrite",
}


class Tracer:
    """Spans and Spark accounting; a no-op unless ``enabled``.

    ``spans[name]`` holds durations in seconds of every call through a
    wrapped function; ``ops[kind]`` holds one dict per bracketed
    operation (wall seconds, Spark jobs and the executor-summary
    deltas)."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: dict[str, list[float]] = defaultdict(list)
        self.ops: dict[str, list[dict]] = defaultdict(list)
        self.counts: dict[str, list[float]] = defaultdict(list)
        self._undo: list[tuple[object, str, object]] = []
        self._seq = 0

    def wrap(self, owner, attr: str, span: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a timing wrapper (traced runs
        only).  ``on_result(result, args)`` may record counts."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)
        spans = self.spans[span]

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                res = fn(*args, **kwargs)
            finally:
                spans.append(time.perf_counter() - t0)
            if on_result is not None:
                on_result(res, args)
            return res

        self._undo.append((owner, attr, fn))
        setattr(owner, attr, timed)

    def unwrap(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()

    def _executor_totals(self) -> dict[str, int]:
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        summaries = jsc.statusStore().executorList(True)
        tot = dict.fromkeys(_EXEC_FIELDS, 0)
        for i in range(summaries.size()):
            e = summaries.apply(i)
            for key, getter in _EXEC_FIELDS.items():
                tot[key] += int(getattr(e, getter)())
        return tot

    @contextlib.contextmanager
    def op(self, kind: str):
        """Bracket one operation: its own job group, then the jobs it
        launched and the executor-summary delta are recorded under
        ``kind``.  Yields a dict the caller may add fields to."""
        rec: dict = {}
        if not self.enabled:
            yield rec
            return
        sc = self.spark.sparkContext
        self._seq += 1
        group = f"perfbench-{self._seq}"
        before = self._executor_totals()
        sc.setJobGroup(group, kind)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            after = self._executor_totals()
            rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
            rec.update({k: after[k] - before[k] for k in _EXEC_FIELDS})
            self.ops[kind].append(rec)


def exec_layer(ops: list[dict], cores: int) -> dict[str, float]:
    """Per-execution means of the executor accounting over ``ops``,
    plus ``core_busy`` = task time ÷ (wall × cores)."""
    n = max(1, len(ops))
    tot = defaultdict(float)
    for o in ops:
        for k in ("wall_s", "jobs", "tasks", "failed_tasks", "task_ms", "gc_ms",
                  "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes"):
            tot[k] += o.get(k, 0)
    mb = 1024.0 * 1024.0
    return {
        "exec.jobs": tot["jobs"] / n,
        "exec.tasks": tot["tasks"] / n,
        "exec.task_s": tot["task_ms"] / 1000.0 / n,
        "exec.gc_s": tot["gc_ms"] / 1000.0 / n,
        "exec.input_mb": tot["input_bytes"] / mb / n,
        "exec.shuffle_read_mb": tot["shuffle_read_bytes"] / mb / n,
        "exec.shuffle_write_mb": tot["shuffle_write_bytes"] / mb / n,
        "exec.failed_tasks": tot["failed_tasks"],
        "exec.core_busy": (tot["task_ms"] / 1000.0) / max(1e-9, tot["wall_s"] * cores),
    }


def p50_ms(xs) -> float:
    return 1000.0 * median(xs)
