"""Benchmark entry point.

    python3 perfbench/run.py --workload live_ingest --seed 1 --seconds 15

Runs one seeded workload against the program in this checkout, checks
its outputs, and prints as the LAST stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` the run records spans at the benchmark's calls into each
layer and the metrics are the per-layer ones (perfbench/README.md says
which end-to-end metric each should move). The line before it is this
run's record: every timed unit, JIT milliseconds per unit, and the host
environment (cpus, steal, PSI stall, load average) at start and end.

Everything the run writes lands under ``.perfbench_work/`` in the
checkout; the run's own directory is removed at exit, and the span file
of a traced run is kept beside it. Spark's own log goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402

WORKLOADS = ("live_ingest", "corpus_curation")


def _process_age() -> float:
    """Seconds since this process started (/proc, 10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def stop_spark(timeout: float = 60.0) -> None:
    """Stop the session, then end the gateway JVM (it exits when its
    stdin closes) and wait until it and every Python worker it started
    have exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    children = set(common.process_tree(proc.pid))
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + timeout
    while children and time.time() < deadline:
        children = {pid for pid in children if _alive(pid)}
        time.sleep(0.1)
    for pid in children:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Context:
    def __init__(self, args, work: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.record: dict = {"workload": args.workload, "seed": args.seed,
                             "trace": self.trace}
        self.tracer = common.Tracer(f"{args.workload}-{args.seed}",
                                    self.trace)
        self.sampler = common.TreeSampler()
        self._age0 = _process_age()
        self._t0 = time.perf_counter()

    def since_start(self) -> float:
        """Seconds from process start to now."""
        return self._age0 + time.perf_counter() - self._t0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not common.package_present():
        print(f"perfbench: no {common.PACKAGE}/ package beside perfbench/ "
              f"in {common.ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    base = os.path.join(common.ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    common.prepare_env(work)
    ctx = Context(args, work)
    env0 = common.env_snapshot()
    ctx.sampler.start()
    try:
        if args.workload == "live_ingest":
            import live_ingest as wl
        else:
            import corpus_curation as wl
        out = wl.run(ctx)
    finally:
        ctx.sampler.stop()
        stop_spark()
        ctx.tracer.unwrap_all()
        shutil.rmtree(work, ignore_errors=True)
    ctx.record["env_run"] = common.env_delta(env0, common.env_snapshot())
    # processes at the RSS peak: name -> [count, MB]
    ctx.record["peak_rss_parts"] = ctx.sampler.peak_parts
    if args.trace:
        spans = os.path.join(
            base, f"spans-{args.workload}-s{args.seed}-{os.getpid()}.json")
        with open(spans, "w") as f:
            json.dump(ctx.tracer.spans, f)
        ctx.record["spans_file"] = os.path.relpath(spans, common.ROOT)
    metrics = (common.complete_layer_metrics(out["layer"]) if args.trace
               else out["e2e"])
    result = {"correct": out["failed"] == 0, "attempted": out["attempted"],
              "failed": out["failed"], "metrics": metrics}
    print(json.dumps({"run_record": ctx.record}, default=str))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
