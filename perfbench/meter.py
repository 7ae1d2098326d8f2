"""Measurement primitives for the warehouse benchmark.

- the tail-percentile rule and nearest-rank percentiles;
- in-memory spans with per-layer self time;
- readers over Spark's status stores (jobs, stages, SQL executions),
  a QueryExecutionListener for Catalyst phase times and a
  StreamingQueryListener that keeps every progress event;
- a sampler of the CPU and resident memory of the driver, JVM and
  Python-worker process tree, and the stopping of that tree.

Nothing here starts a thread or touches Spark at import time.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from contextlib import contextmanager

TAIL_BEYOND = 10  # samples that must lie beyond a reported tail percentile


# ---------------------------------------------------------------- percentiles


def supported_tail_pct(n: int, beyond: int = TAIL_BEYOND) -> int:
    """Highest whole percentile p with at least ``beyond`` of ``n``
    samples strictly above its nearest-rank position: the rank
    ceil(p/100 · n) leaves n − rank samples beyond it.  0 when n ≤ beyond."""
    best = 0
    for p in range(1, 100):
        if n - math.ceil(p / 100 * n) >= beyond:
            best = p
    return best


def percentile(values, pct: float) -> float:
    """Nearest-rank percentile (pct in 0..100) of a non-empty sequence."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(pct / 100 * len(s)))
    return float(s[rank - 1])


# ---------------------------------------------------------------------- spans


class Tracer:
    """In-memory spans (name, start, end, parent, trace id).  Disabled
    tracers record nothing and cost one attribute test per span."""

    def __init__(self, enabled: bool, trace_id: str = "run") -> None:
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "trace": self.trace_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        """Record a span measured elsewhere (e.g. a micro-batch reported by
        a streaming progress event), placed under ``parent``."""
        if self.enabled:
            self.spans.append({
                "id": len(self.spans), "name": name, "parent": parent,
                "trace": self.trace_id, "start": start, "end": end, **attrs,
            })


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds of self time per span name: each span's duration minus the
    part of its interval that its children cover, summed by name."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        own = (s["end"] - s["start"]) - _covered(
            children.get(s["id"], []), s["start"], s["end"]
        )
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


# ------------------------------------------------------------ process tree


def _proc_stat(pid: int) -> tuple[str, int, int] | None:
    """(comm, CPU jiffies incl. reaped children, resident pages) of one
    process, or None once it has exited."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
        rest = data[data.rindex(")") + 2:].split()
        return (
            data[data.index("(") + 1:data.rindex(")")],
            sum(int(x) for x in rest[11:15]),
            int(rest[21]),
        )
    except (OSError, ValueError, IndexError):
        return None


def pyworker_cpu_s(pids) -> float:
    """CPU seconds of the Python processes among ``pids`` other than this
    one: the pyspark daemon and its forked workers (reaped ones included)."""
    stats = [_proc_stat(p) for p in pids if p != os.getpid()]
    return sum(
        s[1] for s in stats if s is not None and s[0].startswith("python")
    ) / os.sysconf("SC_CLK_TCK")


PR_SET_CHILD_SUBREAPER = 36  # prctl(2)


def adopt_orphans() -> bool:
    """Make this process the child subreaper of its descendants: one whose
    parent exits is reparented here instead of to init, so
    ``stop_descendants`` still finds and reaps it.  False where prctl is
    unavailable."""
    try:
        import ctypes

        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def _reap_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(tree_cpu, grace_s: float = 20.0, limit_s: float = 60.0) -> list[int]:
    """Stop every process below this one and wait until none is left:
    SIGTERM first, SIGKILL to whatever outlives ``grace_s``.  Exited
    children (and orphans reparented here) are reaped.  ``tree_cpu`` is
    ``bench._tree_cpu_jiffies``, whose pids are this process and every
    descendant, zombies included.  Returns the pids that were still there
    to signal; raises if any outlives ``limit_s``."""
    import signal

    t0 = time.monotonic()
    sent: set[tuple[int, int]] = set()
    while True:
        _reap_children()
        left = sorted(tree_cpu()[1] - {os.getpid()})
        if not left:
            return sorted({pid for pid, _ in sent})
        waited = time.monotonic() - t0
        if waited > limit_s:
            raise RuntimeError(f"processes {left} outlived {limit_s} s")
        sig = signal.SIGKILL if waited > grace_s else signal.SIGTERM
        for pid in left:
            if (pid, sig) in sent:
                continue
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                continue
            sent.add((pid, sig))
        time.sleep(0.05)


def stop_spark(spark) -> None:
    """Stop the session, then the py4j gateway JVM, and wait for the JVM
    to exit: ``spark.stop()`` alone leaves it running until this process
    exits and closes its stdin.  The JVM is stopped even if the session
    cannot be (a signal cut a py4j call short)."""
    try:
        if spark is not None:
            spark.stop()
    finally:
        _stop_gateway()


def _stop_gateway() -> None:
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits at end of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


# HotSpot's JIT compiler threads are named "C1 CompilerThreadN" and
# "C2 CompilerThreadN"; /proc cuts a thread's name to 15 characters.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class JitThreads:
    """CPU jiffies of the JIT compiler threads of a set of processes.

    A thread's CPU folds into its process's when it exits, so the JVM must
    keep its compiler threads for its whole life
    (``-XX:-UseDynamicNumberOfCompilerThreads``) for this to count them
    all.  Each thread's name is read until the JVM has named it (a new
    thread is called ``java``), then cached."""

    def __init__(self) -> None:
        self._jit: dict[tuple[int, str], bool] = {}

    def jiffies(self, pids) -> int:
        total = 0
        for pid in pids:
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                task = f"/proc/{pid}/task/{tid}"
                try:
                    if (pid, tid) not in self._jit:
                        with open(f"{task}/comm") as f:
                            name = f.read().rstrip("\n")
                        if name == "java":
                            continue
                        self._jit[pid, tid] = name.startswith(JIT_THREADS)
                    if self._jit[pid, tid]:
                        with open(f"{task}/stat") as f:
                            data = f.read()
                        rest = data[data.rindex(")") + 2:].split()
                        total += int(rest[11]) + int(rest[12])  # utime, stime
                except (OSError, ValueError, IndexError):
                    continue  # raced a thread exit
        return total


class TreeSampler:
    """Samples the CPU time and resident memory of this process and all its
    descendants (the driver, the JVM and its Python workers) on a daemon
    thread, so the CPU spent over any interval of the run can be read
    back.  ``tree_cpu`` is ``bench._tree_cpu_jiffies``: (jiffies, pids)
    with earlier pids pinned, so a reparented descendant stays counted.

    The JVM's JIT compiler threads are sampled apart.  Their CPU is most
    of a young JVM's and follows how much CPU the host has spare, not the
    work done, so ``cpu_between`` leaves it out and ``jit_between``
    reports it."""

    def __init__(self, tree_cpu, period_s: float = 0.2) -> None:
        self.tree_cpu = tree_cpu
        self.period_s = period_s
        self.pids: frozenset[int] = frozenset()
        self.jit = JitThreads()
        # (t, MB, CPU s without JIT threads, JIT threads' CPU s)
        self.samples: list[tuple[float, float, float, float]] = []
        self._lock = threading.Lock()
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        with self._lock:
            jiffies, self.pids = self.tree_cpu(self.pids)
            jit = self.jit.jiffies(self.pids)
            pages = sum(s[2] for s in map(_proc_stat, self.pids) if s is not None)
            hz = os.sysconf("SC_CLK_TCK")
            self.samples.append((
                time.perf_counter(),
                pages * os.sysconf("SC_PAGE_SIZE") / 2**20,
                (jiffies - jit) / hz,
                jit / hz,
            ))

    def _loop(self) -> None:
        while not self._halt.is_set():
            self.sample()
            self._halt.wait(self.period_s)

    def start(self) -> "TreeSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._halt.set()
        self._thread.join(timeout=10)
        self.sample()

    def peak_mb(self) -> float:
        return max(s[1] for s in self.samples)

    def _at(self, t: float, col: int) -> float:
        """Column ``col`` of the samples at perf_counter time ``t``,
        interpolated."""
        s = sorted(self.samples)
        for a, b in zip(s, s[1:]):
            if a[0] <= t <= b[0]:
                return a[col] + (b[col] - a[col]) * (t - a[0]) / ((b[0] - a[0]) or 1.0)
        return s[-1][col] if t > s[-1][0] else s[0][col]

    def cpu_at(self, t: float) -> float:
        """Tree CPU seconds, JIT compiler threads left out, at ``t``."""
        return self._at(t, 2)

    def cpu_between(self, t0: float, t1: float) -> float:
        self.sample()
        return self.cpu_at(t1) - self.cpu_at(t0)

    def jit_between(self, t0: float, t1: float) -> float:
        self.sample()
        return self._at(t1, 3) - self._at(t0, 3)


# -------------------------------------------------------------- spark stores


def drain_listener_bus(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _jackson(spark):
    jvm = spark._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(scala_mod.__getattr__("MODULE$"))
    return mapper


def store_snapshot(spark) -> tuple[list[dict], list[dict]]:
    """(jobs, stages) from the application status store as JSON dicts —
    one serialization call each instead of one py4j call per field."""
    drain_listener_bus(spark)
    sc = spark.sparkContext
    jvm = spark._jvm
    store = sc._jsc.sc().statusStore()
    mapper = _jackson(spark)
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(jvm.java.util.ArrayList())))
    stages = json.loads(mapper.writeValueAsString(store.stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )))
    return jobs, stages


STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "task_run_ms": "executorRunTime",
    "task_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "scan_bytes": "inputBytes",
    "scan_rows": "inputRecords",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_records": "shuffleWriteRecords",
    "spill_mem_bytes": "memoryBytesSpilled",
    "spill_bytes": "diskBytesSpilled",
    "output_bytes": "outputBytes",
}


def stage_totals(
    stages: list[dict], after_stage: int, since_ms: int = 0
) -> dict[str, float]:
    """Sums of the task metrics of stages with id > ``after_stage``
    submitted at or after ``since_ms`` (epoch ms), with the stage count.
    Raises if the store evicted any stage with id > ``after_stage``: a sum
    over an evicted range would silently under-count."""
    mine = [s for s in stages if s["stageId"] > after_stage and s["attemptId"] == 0]
    ids = {s["stageId"] for s in mine}
    if ids and len(ids) != max(ids) - after_stage:
        raise RuntimeError(
            f"status store evicted {max(ids) - after_stage - len(ids)} stages; "
            "raise spark.ui.retainedStages"
        )
    mine = [s for s in mine if (s.get("submissionTime") or since_ms) >= since_ms]
    out = {k: 0.0 for k in STAGE_FIELDS}
    for s in mine:
        for k, f in STAGE_FIELDS.items():
            out[k] += s.get(f) or 0
    out["stages"] = float(sum(1 for s in mine if s["status"] != "SKIPPED"))
    return out


def sql_executions(spark, after_id: int) -> list[dict]:
    """SQL executions with id > ``after_id``: id, root id, plan text,
    submission and completion time (ms since epoch)."""
    drain_listener_bus(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = []
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.executionId() <= after_id:
            continue
        done = e.completionTime()
        out.append({
            "id": e.executionId(),
            "root": e.rootExecutionId(),
            "plan": e.physicalPlanDescription(),
            "start": e.submissionTime(),
            "end": done.get().getTime() if done.isDefined() else None,
        })
    return out


def max_execution_id(spark) -> int:
    drain_listener_bus(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1)


def storage_held_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


class CatalystListener:
    """QueryExecutionListener (py4j callback) keeping the analysis,
    optimization and planning phases — (name, start ms, end ms) — of
    every query execution that ends."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self) -> None:
        self._phases: list[tuple[str, int, int]] = []
        self._lock = threading.Lock()

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - Java API
        phases = qe.tracker().phases()
        got = []
        for name in self.PHASES:
            p = phases.get(name)
            if p.isDefined():
                p = p.get()
                got.append((name, p.startTimeMs(), p.endTimeMs()))
        with self._lock:
            self._phases += got

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - Java API
        self.onSuccess(func_name, qe, 0)

    def phase_spans(self) -> list[tuple[str, int, int]]:
        with self._lock:
            return list(self._phases)

    def ms_since(self, since_ms: int) -> float:
        """Milliseconds spent in phases that started at or after ``since_ms``."""
        return float(sum(e - s for _, s, e in self.phase_spans() if s >= since_ms))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def register_catalyst_listener(spark) -> CatalystListener:
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    listener = CatalystListener()
    spark._jsparkSession.listenerManager().register(listener)
    return listener


def make_progress_listener():
    """A StreamingQueryListener keeping every progress event as a dict —
    unlike ``query.recentProgress``, which keeps only the last
    ``spark.sql.streaming.numRecentProgressUpdates`` (100) events."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):  # noqa: N802 - Spark API
            pass

        def onQueryProgress(self, event):  # noqa: N802 - Spark API
            rec = json.loads(event.progress.json)
            with self._lock:
                self.events.append(rec)

        def onQueryIdle(self, event):  # noqa: N802 - Spark API
            pass

        def onQueryTerminated(self, event):  # noqa: N802 - Spark API
            pass

        def take(self) -> list[dict]:
            with self._lock:
                out, self.events = self.events, []
            return out

    return ProgressLog()
