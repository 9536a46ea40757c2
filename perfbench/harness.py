"""Measurement plumbing shared by the workloads: machine sizing, the Spark
session's lifecycle, op records, percentiles, spans and job counts.

Nothing here changes what the package under test does. Layers are measured
from outside: spans wrap calls into the package's public functions, and job,
stage and task counts come from Spark's status tracker, attributed to ops by
job-id range (every job submitted between an op's start and end belongs to
it, including jobs fired from threads the op spawns, which carry no job
group).
"""

from __future__ import annotations

import math
import os
import threading
import time
from dataclasses import dataclass, field

# --- machine sizing -----------------------------------------------------------


def cpu_count() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """A heap that fits the box: a quarter of RAM, at most 1 GiB (the
    inputs are a few MB; the rest of RAM stays with the OS and neighbours)."""
    return max(512, min(1024, mem_total_mb() // 4))


def configure_env(root: str, work: str) -> None:
    """Set the package's env knobs and keep every scratch file in ``work``.
    Must run before pyspark or the package is imported."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_heap_mb()}m"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts (its launcher too): temp files in the
    # work dir, and no perf-counter file, which the JVM writes under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # python workers (pandas UDFs) import the package from the checkout
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root if not prev else f"{root}{os.pathsep}{prev}"


def session_conf(work: str, n: int) -> dict[str, str]:
    """Per-set-up Spark confs: a fresh warehouse each time (a reused one
    makes ``saveAsTable`` fail with LOCATION_ALREADY_EXISTS) and status
    retention large enough to count every job of a run."""
    return {
        "spark.sql.warehouse.dir": os.path.join(work, f"warehouse{n}"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM the gateway launched and wait for
    it. The JVM exits when its stdin closes; its Python workers exit with it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 - any failure to exit ends in a kill
        proc.kill()
        proc.wait(timeout=30)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return None if proc is None else proc.pid


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two :func:`cpu_ticks` readings that the
    hypervisor gave to other guests. Every time metric rises with it."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(1, sum(d))


def cpu_seconds(jvm: int | None) -> tuple[float, float, float]:
    """CPU time (user + system, reaped children included) used so far by
    this Python process, by the driver JVM, and by the JVM's descendants
    (Python workers), in seconds. Read from every ``/proc/<pid>/stat``, since
    workers come and go. Unlike wall time, it does not grow with the time
    the host keeps a waiting thread from running."""
    procs: dict[int, tuple[int, int]] = {}  # pid -> (ppid, ticks)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while we looked
            continue
        procs[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    workers, todo = 0, [] if jvm is None else [jvm]
    while todo:
        parent = todo.pop()
        for pid, (ppid, ticks) in procs.items():
            if ppid == parent:
                workers += ticks
                todo.append(pid)
    hz = os.sysconf("SC_CLK_TCK")
    own = procs.get(os.getpid(), (0, 0))[1]
    jvm_ticks = procs.get(jvm, (0, 0))[1] if jvm is not None else 0
    return own / hz, jvm_ticks / hz, workers / hz


def peak_rss_mb(pids: list[int | None]) -> float:
    """Sum of VmHWM (peak resident set) over the given processes, in MB."""
    total_kb = 0
    for pid in pids:
        path = "/proc/self/status" if pid is None else f"/proc/{pid}/status"
        with open(path) as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


# --- ops and statistics --------------------------------------------------------


@dataclass
class Op:
    """One operation a client waited for."""

    kind: str
    seconds: float
    ok: bool
    in_latency: bool = True  # False for maintenance (compaction)
    jobs: tuple[int, int] = (0, 0)  # job-id range [start, end)
    info: dict = field(default_factory=dict)
    cpu: tuple[float, float, float] = (0.0, 0.0, 0.0)  # python, jvm, workers (s)


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction for the incomplete beta function (Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        m2 = 2 * m
        for aa in (
            m * (b - m) * x / ((a - 1.0 + m2) * (a + m2)),
            -(a + m) * (a + b + m) * x / ((a + m2) * (a + 1.0 + m2)),
        ):
            d = 1.0 + aa * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + aa / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 3e-14:
            break
    return h


def betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
        + a * math.log(x) + b * math.log1p(-x)
    )
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def percentile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the q-th percentile (q in [0, 100]): a
    Beta-weighted mean of all order statistics. With a few dozen samples
    drawn from several request kinds it moves far less between runs than
    the single order statistic the plain sample percentile picks."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    n = len(xs)
    p = q / 100.0
    a, b = p * (n + 1), (1.0 - p) * (n + 1)
    if a <= 0.0 or b <= 0.0:
        return xs[0] if a <= 0.0 else xs[-1]
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


# --- job counting --------------------------------------------------------------


class JobCounter:
    """Job-id marks at op boundaries, resolved to job/stage/task counts after
    the run (the status store fills asynchronously from the listener bus)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._dag = self._sc._jsc.sc().dagScheduler()

    def mark(self) -> int:
        """The id the next submitted job will get."""
        return int(self._dag.nextJobId())  # Py4J hands the AtomicInteger over as an int

    def counts(
        self, ranges: list[tuple[int, int]], groups: list[str | None] | None = None
    ) -> list[tuple[int, int, int]]:
        """(jobs, stages run, tasks run) per job-id range [lo, hi), plus the
        jobs of the matching job group when given. Stages a job skipped
        because their shuffle output was reused are not counted."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        out = []
        for i, (lo, hi) in enumerate(ranges):
            jids = set(range(lo, hi))
            if groups is not None and groups[i] is not None:
                jids.update(tracker.getJobIdsForGroup(groups[i]))
            stages: set[int] = set()
            for jid in jids:
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stages.update(info.stageIds)
            ran, tasks = 0, 0
            for sid in stages:
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    ran += 1
                    tasks += st.numCompletedTasks
            out.append((len(jids), ran, tasks))
        return out


# --- spans ---------------------------------------------------------------------


class _NullSpan:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


_NULL_SPAN = _NullSpan()


class _Span:
    __slots__ = ("_tracer", "_name", "_root", "_rec")

    def __init__(self, tracer: Tracer, name: str, root: bool = False):
        self._tracer = tracer
        self._name = name
        self._root = root

    def __enter__(self):
        tr = self._tracer
        t0 = time.perf_counter()
        stack = tr._stack()
        parent = stack[-1] if stack else tr._root
        job0 = tr.job_mark() if tr.job_mark else 0
        with tr._lock:
            self._rec = [len(tr.spans), self._name, parent, tr.op_id, 0.0, 0.0, job0, job0]
            tr.spans.append(self._rec)
        stack.append(self._rec[0])
        if self._root:
            tr._root = self._rec[0]
        t1 = time.perf_counter()
        self._rec[4] = t1
        tr._add_overhead(t1 - t0)
        return self._rec[0]

    def __exit__(self, *exc):
        tr = self._tracer
        t0 = time.perf_counter()
        self._rec[5] = t0
        if tr.job_mark:
            self._rec[7] = tr.job_mark()
        tr._stack().pop()
        if self._root:
            tr._root = None
        tr._add_overhead(time.perf_counter() - t0)
        return False


class Tracer:
    """In-memory spans: ``[id, name, parent_id, op_id, start, end, job0,
    job1]``, where ``[job0, job1)`` are the ids of the jobs submitted while
    the span was open (when a ``job_mark`` callable is set).

    Disabled, ``span`` returns a shared no-op context manager. Spans opened
    on a thread the op spawned (no open span on that thread) parent to the
    op's root span. ``overhead_s`` is the time spent inside span bookkeeping.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.job_mark = None
        self.spans: list[list] = []
        self.op_id: int | None = None
        self.overhead_s = 0.0
        self._root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _add_overhead(self, dt: float) -> None:
        with self._lock:
            self.overhead_s += dt

    def span(self, name: str):
        return _Span(self, name) if self.enabled else _NULL_SPAN

    def op(self, op_id: int, name: str):
        """Root span of one op; spans inside it carry ``op_id``."""
        self.op_id = op_id
        return _Span(self, name, root=True) if self.enabled else _NULL_SPAN

    def dump(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sid, name, parent, op, start, end, job0, job1 in self.spans:
                rec = {"id": sid, "name": name, "parent": parent, "op": op,
                       "start": start, "end": end, "jobs": [job0, job1]}
                f.write(json.dumps(rec) + "\n")


def self_times(spans: list[list]) -> dict[int, float]:
    """span id -> its duration minus the part of it its children cover.
    Children that overlap each other (threads) are counted once."""
    children: dict[int, list[tuple[float, float]]] = {}
    for _sid, _name, parent, _op, start, end, *_ in spans:
        if parent is not None:
            children.setdefault(parent, []).append((start, end))
    out = {}
    for sid, _name, _parent, _op, start, end, *_ in spans:
        covered, cur_lo, cur_hi = 0.0, 0.0, None
        for lo, hi in sorted(children.get(sid, [])):
            lo, hi = max(lo, start), min(hi, end)
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
        out[sid] = (end - start) - covered
    return out


def span_seconds(spans, names, ops=None, times=None) -> list[float]:
    """Durations (self times, when ``times`` from :func:`self_times` is
    given) of the spans named in ``names``, limited to spans of the op ids
    in ``ops`` when given."""
    return [
        times[sid] if times is not None else end - start
        for sid, name, _parent, op, start, end, *_ in spans
        if name in names and (ops is None or op in ops)
    ]


def self_ms_by_layer(spans: list[list]) -> dict[str, float]:
    """Total self time per layer (the span name's first dotted part), ms."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for sid, name, *_ in spans:
        layer = name.split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + st[sid] * 1000.0
    return out


def instrument(tracer: Tracer, fn, span_name: str, on_call=None):
    """Rebind ``fn`` in every package module that imported it to a wrapper
    that records a span and, if given, calls ``on_call(args, result,
    seconds)``. Returns a callable that restores the original bindings."""
    import sys

    attr = fn.__name__

    def wrapper(*args, **kwargs):
        t0 = time.perf_counter()
        with tracer.span(span_name):
            out = fn(*args, **kwargs)
        if on_call is not None:
            on_call(args, out, time.perf_counter() - t0)
        return out

    patched = [
        mod
        for mod in list(sys.modules.values())
        if getattr(mod, "__name__", "").startswith("f1_lakehouse_spark")
        and getattr(mod, attr, None) is fn
    ]
    for mod in patched:
        setattr(mod, attr, wrapper)

    def undo() -> None:
        for mod in patched:
            setattr(mod, attr, fn)

    return undo


# --- the op loop ---------------------------------------------------------------


@dataclass
class Ctx:
    """What a workload sees: the session, its seeded inputs and the meters."""

    spark: object
    seed: int
    data_dir: str
    work: str
    tracer: Tracer
    jobs: JobCounter | None  # None when not tracing
    ops: list[Op] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)
    jvm: int | None = None  # the driver JVM's pid, for CPU time

    def run_op(self, kind: str, call, check, in_latency: bool = True, **info) -> Op:
        """Time ``call()`` as one op in its own job group, then (untimed,
        in the ``check`` job group) ``check(result)``, which returns None
        when correct or a reason. The op's CPU time is read just outside
        its timer, so the check's work (a second collect) is not in it.
        An exception from either counts the op as failed."""
        op_id = len(self.ops)
        self.spark.sparkContext.setJobGroup(f"op-{op_id}", kind)
        c0 = cpu_seconds(self.jvm)
        j0 = self.jobs.mark() if self.jobs else 0
        t0 = time.perf_counter()
        err = None
        try:
            with self.tracer.op(op_id, f"bench.{kind}"):
                result = call()
        except Exception as exc:  # noqa: BLE001 - a failed op is a measurement
            err = f"{type(exc).__name__}: {exc}"
        seconds = time.perf_counter() - t0
        j1 = self.jobs.mark() if self.jobs else 0
        cpu = tuple(b - a for a, b in zip(c0, cpu_seconds(self.jvm)))
        # jobs the check fires (a collect) are not the op's
        self.spark.sparkContext.setJobGroup("check", "result check")
        if err is None:
            try:
                err = check(result)
            except Exception as exc:  # noqa: BLE001
                err = f"check raised {type(exc).__name__}: {exc}"
        if err is not None and len(self.errors) < 20:
            self.errors.append(f"op {op_id} {kind}: {err}"[:2000])
        op = Op(kind, seconds, err is None, in_latency, (j0, j1), info, cpu)
        self.ops.append(op)
        return op
