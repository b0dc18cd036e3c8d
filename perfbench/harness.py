"""Measurement machinery shared by the workloads.

- ``Tracer`` records spans (name, layer, start, end, parent span, op id)
  in memory. With tracing off every span is a no-op and nothing is
  recorded; the workloads still time their own ops with
  ``time.perf_counter``, so end-to-end numbers come from untraced runs.
- ``wrap`` puts a span around a public function or method of a layer
  from outside (the program itself is not edited), so a traced run sees
  how the time of an op splits between ``engine``, ``catalog``,
  ``operators.ann`` and so on.
- ``self_time_by_layer`` turns spans into self time per layer: a span's
  duration minus the part of it covered by its child spans.
- ``tail_percentile`` is the reporting rule for timings: the highest
  percentile that still has at least ten samples beyond it.
- ``SparkCounts`` reads Spark's own job and task counts for the job
  group an op ran under; ``catalyst_phases_ms`` reads the Catalyst phase
  tracker of a DataFrame.
- ``tree_cpu_s`` and ``peak_rss_mb`` read CPU time and memory from /proc,
  ``host_cpu_ticks`` the host's CPU steal.
- ``END_TO_END_UNITS`` and ``per_layer_units`` are the metric sets every
  run reports; BENCHMARK.json lists the same names.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import itertools
import resource
import statistics
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op_id: int | None


class _NullSpan:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NULL = _NullSpan()


class Tracer:
    """In-memory span recorder; ``enabled=False`` makes every call free."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counters: dict[str, list[float]] = defaultdict(list)
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()
        #: Seconds spent in the tracer's own bookkeeping and probes.
        self.overhead_s = 0.0

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @property
    def op_id(self) -> int | None:
        return getattr(self._local, "op_id", None)

    def span(self, name: str, layer: str):
        if not self.enabled:
            return _NULL
        return _SpanCtx(self, name, layer)

    @contextlib.contextmanager
    def op(self, op_id: int, name: str):
        """Root span of one measured op; spans inside it carry its id."""
        if not self.enabled:
            yield
            return
        self._local.op_id = op_id
        try:
            with _SpanCtx(self, name, "bench"):
                yield
        finally:
            self._local.op_id = None

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self.counters[name].append(value)

    def add_overhead(self, seconds: float) -> None:
        with self._lock:
            self.overhead_s += seconds


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.tracer, self.name, self.layer = tracer, name, layer

    def __enter__(self):
        t0 = time.perf_counter()
        tr = self.tracer
        st = tr._stack()
        self.parent = st[-1] if st else None
        self.span_id = next(tr._ids)
        st.append(self.span_id)
        self.start = time.perf_counter()
        tr.add_overhead(self.start - t0)
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        tr = self.tracer
        tr._stack().pop()
        span = Span(self.span_id, self.name, self.layer, self.start, end,
                    self.parent, tr.op_id)
        with tr._lock:
            tr.spans.append(span)
        tr.add_overhead(time.perf_counter() - end)
        return False


# -- span analysis ----------------------------------------------------------

def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Per span: duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {
        s.span_id: (s.end - s.start) - _covered(children[s.span_id], s.start, s.end)
        for s in spans
    }


def self_time_by_layer(spans: list[Span]) -> dict[str, float]:
    own = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.layer] += own[s.span_id]
    return dict(out)


def op_layer_breakdown(spans: list[Span], op_ids: set) -> dict[str, float]:
    """Median per-op self time (ms) of each layer over the given ops."""
    own = self_times(spans)
    per_op: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        if s.op_id in op_ids:
            per_op[s.op_id][s.layer] += own[s.span_id]
    layers = {layer for op in per_op.values() for layer in op}
    return {layer: 1e3 * median([op.get(layer, 0.0) for op in per_op.values()])
            for layer in sorted(layers)}


def tail_percentile(samples: list[float], min_beyond: int = 10):
    """Highest nearest-rank percentile with at least ``min_beyond``
    samples strictly above its rank. Returns (value, percentile, n), or
    None when there are too few samples to have such a percentile."""
    n = len(samples)
    rank = n - min_beyond
    if rank < 1:
        return None
    ordered = sorted(samples)
    return ordered[rank - 1], 100.0 * rank / n, n


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# -- wrapping layer functions from outside ---------------------------------

def _rebind_everywhere(original, replacement, package: str) -> None:
    """Point every module-global reference to ``original`` inside
    ``package`` at ``replacement`` (covers ``from x import f`` copies)."""
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, replacement)


def wrap(tracer: Tracer, owner, attr: str, span_name, layer: str,
         on_result=None, package: str = "vrod_spark") -> None:
    """Replace ``owner.attr`` (a module function or a method, static or
    not) with a version that records a span around each call.
    ``span_name`` is a string or ``f(args, kwargs) -> str``.
    ``on_result(args, kwargs, result)`` may record counts; its cost is
    charged to the tracer's overhead."""
    raw = inspect.getattr_static(owner, attr)
    is_static = isinstance(raw, staticmethod)
    fn = raw.__func__ if is_static else getattr(owner, attr)

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        name = span_name(args, kwargs) if callable(span_name) else span_name
        with tracer.span(name, layer):
            result = fn(*args, **kwargs)
        if on_result is not None:
            t0 = time.perf_counter()
            try:
                on_result(args, kwargs, result)
            finally:
                tracer.add_overhead(time.perf_counter() - t0)
        return result

    if inspect.isclass(owner):
        setattr(owner, attr, staticmethod(traced) if is_static else traced)
    else:
        _rebind_everywhere(fn, traced, package)
        setattr(owner, attr, traced)


# -- Spark's own counters ---------------------------------------------------

class SparkCounts:
    """Jobs and tasks per job group, read from ``statusTracker``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext

    def set_group(self, group: str, description: str) -> None:
        self.sc.setJobGroup(group, description)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def jobs_and_tasks(self, group: str) -> tuple[int, int]:
        st = self.sc.statusTracker()
        job_ids = st.getJobIdsForGroup(group)
        tasks = 0
        for jid in job_ids:
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                stage = st.getStageInfo(sid)
                if stage is not None:
                    tasks += stage.numTasks
        return len(job_ids), tasks


def catalyst_phases_ms(df) -> dict[str, float]:
    """Analysis/optimization/planning time Catalyst recorded for ``df``."""
    out = {}
    phases = df._jdf.queryExecution().tracker().phases()
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            out[name] = float(opt.get().durationMs())
    return out


# -- memory -------------------------------------------------------------------

def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int | None) -> float:
    """JVM ``VmHWM`` plus this process's ``ru_maxrss``, in MiB."""
    driver_kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kib = 0
    if pid is not None:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kib = int(line.split()[1])
        except OSError:
            pass
    return (driver_kib + jvm_kib) / 1024.0


# -- run plumbing shared by the workloads -----------------------------------

@dataclass
class Outcome:
    end_to_end: dict
    per_layer: dict
    attempted: int
    failed: int
    detail: dict


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def start_spark(tracer: Tracer, app: str, conf: dict):
    """Session start, timed as the ``session`` layer."""
    from vrod_spark.session import get_spark

    with tracer.span("session.start", "session"):
        t0 = time.perf_counter()
        spark = get_spark(app, extra_conf=conf)
        elapsed = time.perf_counter() - t0
    return spark, elapsed


#: Set-ups per run; ``setup_s`` counts the median one.
SETUPS = 3


def repeated_setup(prepare, times: int = SETUPS):
    """Run the in-process part of a workload's set-up ``times`` times
    (``prepare(i)`` works under its own directories and returns what the
    run needs). Returns the last result, the median CPU seconds of the
    process tree and the median wall seconds of one set-up."""
    cpu, wall, out = [], [], None
    for i in range(times):
        c0, t0 = tree_cpu_s(), time.perf_counter()
        out = prepare(i)
        wall.append(time.perf_counter() - t0)
        cpu.append(tree_cpu_s() - c0)
    return out, statistics.median(cpu), statistics.median(wall)


def dir_bytes(path: str) -> int:
    import os

    total = 0
    for base, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(base, name)).st_size
            except OSError:
                pass  # removed by a concurrent commit
    return total


def stop_spark(spark) -> None:
    """Stop the session, shut the py4j gateway and wait for the JVM (and
    with it the Python workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — last resort, never leave it running
            proc.kill()
            proc.wait(timeout=30)


# -- the metric sets --------------------------------------------------------------
#: End-to-end metrics every untraced run reports. Each workload defines
#: its cold phase and its steady-state unit (see README.md). The work
#: metrics are CPU seconds of the whole process tree (driver, JVM, Python
#: workers): on a host whose CPU steal drifts over minutes they repeat
#: closer than wall times. Wall times are in the detail record.
END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_cpu_s": "s",
    "warm_cpu_s": "s",
}


def end_to_end(setup_s: float, cold_cpu_s: float, warm_cpu_s: float) -> dict:
    values = (setup_s, cold_cpu_s, warm_cpu_s)
    return {name: metric(v, unit) for (name, unit), v in zip(END_TO_END_UNITS.items(), values)}


#: Every traced run reports all of these; a layer a workload does not
#: exercise reads 0. BENCHMARK.json lists the same names (a self-test
#: keeps the two equal).
LAYERS = ("bench", "session", "sources", "engine", "catalog", "ann", "knn",
          "spark", "queries", "streaming")
ENGINE_VERBS = ("searchsimilar", "search", "insert", "update", "delete", "bulkinsert",
                "reindex")


def per_layer_units() -> dict[str, str]:
    u: dict[str, str] = {"session.start_s": "s", "sources.load_tables_s": "s"}
    for verb in ("searchsimilar", "search"):
        u[f"engine.{verb}.plan_ms"] = "ms"
        u[f"engine.{verb}.exec_ms"] = "ms"
    for verb in ("insert", "update", "delete", "bulkinsert", "reindex"):
        u[f"engine.{verb}_ms"] = "ms"
    for verb in ("insert", "update", "delete"):
        u[f"catalog.{verb}_ms"] = "ms"
    for name in ("ann.reindex", "catalog.commit_staged_index",
                 "catalog.bucket_histogram", "catalog.analyze", "catalog.truncate_wal",
                 "catalog.read", "catalog.live_index"):
        u[f"{name}_ms"] = "ms"
    for name in ("catalog.analyze_calls", "catalog.read_calls_per_op",
                 "catalog.files_per_version", "catalog.partition_dirs",
                 "ann.buckets_probed", "ann.candidates_per_result",
                 "catalog.versions_retained"):
        u[name] = "count"
    u["catalog.bytes_written_per_user_byte"] = "ratio"
    for verb in ENGINE_VERBS:
        u[f"spark.jobs_per_op.{verb}"] = "count"
        u[f"spark.tasks_per_op.{verb}"] = "count"
    for phase in ("analysis", "optimization", "planning"):
        u[f"spark.catalyst.{phase}_ms"] = "ms"
    for p in ("cold", "warm"):
        for name in ("build_s", "exec_s", "shared_build_s", "relational_s", "corpus_s",
                     "stream_s"):
            u[f"queries.{p}.{name}"] = "s"
        u[f"queries.{p}.shared_builds"] = "count"
        u[f"streaming.{p}.run_s"] = "s"
        u[f"streaming.{p}.runs"] = "count"
        u[f"spark.jobs_per_pass.{p}"] = "count"
    for layer in LAYERS:
        u[f"self_s.{layer}"] = "s"
    u["trace.overhead_s"] = "s"
    return u


def complete_per_layer(found: dict) -> dict:
    """All per-layer metrics, in spec order; unexercised layers read 0."""
    units = per_layer_units()
    unknown = set(found) - set(units)
    if unknown:
        raise KeyError(f"per-layer metrics missing from the spec: {sorted(unknown)}")
    return {name: found.get(name, metric(0.0, unit)) for name, unit in units.items()}


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from /proc/stat; the share
    of steal between two readings is how much CPU the hypervisor took."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    return (after[0] - before[0]) / max(after[1] - before[1], 1)


def tree_cpu_s(pid: int | None = None) -> float:
    """CPU seconds (user + system) used so far by a process and all its
    live descendants, plus the children they already reaped."""
    import os

    root = os.getpid() if pid is None else pid
    stats: dict[int, tuple[int, float]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited meanwhile
        ppid = int(fields[1])
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        stats[int(entry)] = (ppid, ticks)
    children: dict[int, list[int]] = defaultdict(list)
    for p, (ppid, _t) in stats.items():
        children[ppid].append(p)
    total, todo = 0, [root]
    while todo:
        p = todo.pop()
        if p in stats:
            total += stats[p][1]
        todo.extend(children.get(p, ()))
    return total / os.sysconf("SC_CLK_TCK")
