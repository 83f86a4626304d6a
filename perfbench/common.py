"""Shared pieces of the benchmark: paths and process environment, order
statistics, the process-tree sampler (peak RSS, CPU seconds), the
per-run environment record, the JVM MXBean reader, and the span tracer.

Nothing here changes how the program runs; it only measures it from
outside.
"""

from __future__ import annotations

import contextlib
import math
import os
import shlex
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "spark_streaming_dis_plugin_spark"
CPUS = 4                 # local[4] on every host, so runs compare
JVM_HEAP = "2g"


def package_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py"))


def prepare_env(work: str) -> None:
    """Point every writer (Python tempfile, Spark local dirs, the JVM's
    tmpdir) inside ``work`` and put the checkout root on PYTHONPATH:
    the Python workers that run ``format("dis")`` import the package."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ.update({
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        # keep the vendored-protobuf helper from writing to site-packages
        "SPARK_DIS_PBVENDOR_STAGE": "0",
        "SPARK_GRAFT_DRIVER_MEM": JVM_HEAP,
        "SPARK_GRAFT_CPUS": str(CPUS),
        "PYSPARK_SUBMIT_ARGS": (
            "--driver-java-options "
            + shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
            + " --conf spark.ui.showConsoleProgress=false pyspark-shell"),
    })
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


# ------------------------------------------------------------ statistics

def median(xs):
    xs = sorted(xs)
    if not xs:
        return None
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def quantile(xs, q: float):
    """Nearest-rank quantile."""
    xs = sorted(xs)
    if not xs:
        return None
    return xs[min(len(xs) - 1, max(0, math.ceil(q * len(xs)) - 1))]


def tail_quantile(xs, want: float = 0.9, beyond: int = 10):
    """The highest quantile <= ``want`` with at least ``beyond`` samples
    above it. Returns (q, value); q is None with fewer than beyond+1
    samples, and the value is then the maximum."""
    n = len(xs)
    if n <= beyond:
        return None, (max(xs) if xs else None)
    q = min(want, (n - beyond) / n)
    return q, quantile(xs, q)


# ------------------------------------------------------------ /proc readers

_CLK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int, exclude: set[int] = frozenset()) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _rss_and_cpu(pid: int) -> tuple[int, float] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        cpu = (int(fields[11]) + int(fields[12])) / _CLK
        rss = int(fields[21]) * os.sysconf("SC_PAGE_SIZE")
        return rss, cpu
    except (OSError, ValueError, IndexError):
        return None


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class TreeSampler:
    """Samples the benchmark's process tree (this process, the JVM and
    the Python workers; the load generator is excluded) every
    ``interval`` seconds: peak summed RSS, and CPU seconds per pid.

    Only processes named ``java`` or ``python*`` count. The JVM starts
    helpers (``chmod``, ``readlink``) through vfork, and until the child
    execs it shares the JVM's memory and is named after the forking
    thread; counting it would add the JVM's RSS a second time."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.exclude: set[int] = set()
        self.peak_rss = 0
        self.peak_parts: dict[str, list] = {}
        self._cpu: dict[int, float] = {}
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "TreeSampler":
        self._thread.start()
        return self

    def sample(self) -> None:
        total = 0
        cpu = {}
        parts: dict[str, list] = {}
        for pid in process_tree(os.getpid(), self.exclude):
            comm = _comm(pid)
            if comm != "java" and not comm.startswith("python"):
                continue
            got = _rss_and_cpu(pid)
            if got:
                total += got[0]
                cpu[pid] = got[1]
                part = parts.setdefault(comm, [0, 0])
                part[0] += 1
                part[1] += got[0] >> 20
        with self._lock:
            if total > self.peak_rss:
                self.peak_rss, self.peak_parts = total, parts
            self._cpu.update(cpu)

    def cpu_seconds(self) -> float:
        """CPU seconds of every pid seen so far (a pid that exited keeps
        its last sampled value)."""
        self.sample()
        with self._lock:
            return sum(self._cpu.values())

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def env_snapshot() -> dict:
    """cpus, steal, PSI stall and load average, from bench.py's readers."""
    from bench import _cpu_stall_sec, _cpu_steal_sec, _loadavg

    return {"t": time.time(), "cpus": os.cpu_count(),
            "steal_s": _cpu_steal_sec(), "psi_stall_s": _cpu_stall_sec(),
            "loadavg": _loadavg()}


def env_delta(start: dict, end: dict) -> dict:
    out = {"start": start, "end": end}
    for k in ("steal_s", "psi_stall_s"):
        if start.get(k) is not None and end.get(k) is not None:
            out[k] = round(end[k] - start[k], 3)
    return out


def jvm_counters(spark) -> dict:
    """Cumulative JVM GC and JIT milliseconds (MXBeans over py4j)."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    jit = mf.getCompilationMXBean().getTotalCompilationTime()
    return {"gc_ms": float(gc), "jit_ms": float(jit)}


# ------------------------------------------------------------ tracing

class Tracer:
    """In-memory spans at the benchmark's calls into the program's layers.

    A span records name, layer, start, end, the span that caused it and
    the run id. When disabled, ``span`` is a no-op and ``wrap`` patches
    nothing, so untraced runs execute no tracing code at all.
    """

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sid = len(self.spans)
        rec = {"id": sid, "run": self.run_id, "name": name, "layer": layer,
               "parent": stack[-1] if stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def wrap(self, owner, attr: str, layer: str) -> None:
        """Replace ``owner.attr`` by a spanned wrapper (undone by
        ``unwrap_all``)."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)
        name = f"{getattr(owner, '__name__', owner)}.{attr}"
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        self._patched.append((owner, attr, owner.__dict__.get(attr)))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._patched.clear()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def self_time_by_layer(self) -> dict[str, float]:
        """Per layer: span durations minus the part of each span that its
        children cover (children may run on other threads, so the
        covered part is the union of their clipped intervals)."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            ivs = sorted((max(c["start"], s["start"]),
                          min(c["end"], s["end"]))
                         for c in kids.get(s["id"], ())
                         if c["end"] is not None)
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in ivs:
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            own = s["end"] - s["start"] - covered
            out[s["layer"]] = out.get(s["layer"], 0.0) + max(own, 0.0)
        return out


def metric(value, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


CURATION_STAGES = ("pipeline_llm_curation", "dedup_end_to_end",
                   "dedup_semantic", "sim_ivf_build")
# self time per layer: from spans, except streaming (engine phases)
SELF_TIME_LAYERS = ("session", "dis_log", "streaming", "sink",
                    "pipeline", "dedup", "similarity")

# Every per-layer metric: (name, unit, better). A traced run reports all
# of them; a layer that does no work on a workload reports 0 there.
PER_LAYER = [
    ("session.get_spark_s", "s", "lower"),
    ("dis_log.append_calls", "count", "higher"),
    ("dis_log.append_ms_p50", "ms", "lower"),
    ("source.latest_offset_ms_p50", "ms", "lower"),
    ("source.lag_records_p50", "count", "lower"),
    ("source.lag_records_max", "count", "lower"),
    ("source.read_amplification", "ratio", "lower"),
    ("streaming.batches", "count", "higher"),
    ("streaming.rows_per_batch_p50", "count", "higher"),
    ("streaming.trigger_ms_p50", "ms", "lower"),
    ("streaming.query_planning_ms_p50", "ms", "lower"),
    ("streaming.add_batch_ms_p50", "ms", "lower"),
    ("streaming.wal_commit_ms_p50", "ms", "lower"),
    ("streaming.commit_offsets_ms_p50", "ms", "lower"),
    ("streaming.state_rows", "count", "lower"),
    ("streaming.state_memory_mb", "MB", "lower"),
    ("streaming.state_commit_ms_p50", "ms", "lower"),
    ("sink.call_ms_p50", "ms", "lower"),
    ("sink.rows", "count", "lower"),
    ("sink.segments", "count", "lower"),
    *[(f"{stage}.{m}", unit, better) for stage in CURATION_STAGES
      for m, unit, better in (("wall_s", "s", "lower"),
                              ("task_s", "s", "lower"),
                              ("busy_share", "ratio", "higher"),
                              ("stages", "count", "lower"),
                              ("shuffle_mb", "MB", "lower"),
                              ("spill_mb", "MB", "lower"))],
    ("jvm.gc_ms", "ms", "lower"),
    ("jvm.jit_ms", "ms", "lower"),
    ("process.cpu_s", "s", "lower"),
    ("env.steal_s", "s", "lower"),
    *[(f"{layer}.self_s", "s", "lower") for layer in SELF_TIME_LAYERS],
    ("trace.overhead_s", "s", "lower"),
]


def complete_layer_metrics(measured: dict) -> dict:
    """All PER_LAYER metrics in their order, 0 where not measured."""
    out = {}
    for name, unit, _ in PER_LAYER:
        out[name] = measured.get(name) or metric(0.0, unit)
    extra = set(measured) - set(out)
    if extra:
        raise KeyError(f"per-layer metrics missing from PER_LAYER: {extra}")
    return out
