"""``live_ingest``: an open loop at a fixed offered load.

A separate generator process (gen_events.py) appends JSON events to a
4-partition DIS log at ``RATE`` appends/s of ``RECORDS`` records each.
The query reads it with ``readStream.format("dis")``, parses it with
``from_json``, and keeps a watermarked 1-second tumbling-window count
per event kind in update mode. ``DisForeachBatchSink`` writes each
batch's window updates to a second DIS stream. A fixed processing-time
trigger sets the batch interval, so a slow batch does not make the next
one larger.

One latency sample per append: from the append's due time to the commit
of the first batch whose end offsets cover it (progress ``timestamp``
plus ``triggerExecution``). The generator makes one append, the query
runs its cold first batch on it, and only then does the generator's
schedule start. After ``WARMUP_BATCHES`` untimed batches (the JVM is
still compiling several seconds per batch after two), appends due in the
next ``--seconds`` are timed.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import subprocess
import sys
import time

from common import (CPUS, ROOT, env_delta, env_snapshot, jvm_counters,
                    median, metric, tail_quantile)

# 2,000 records/s: about a quarter of the warm drain rate of this query
# (7.5k records/s on a 4-vCPU VM, 400k-record backlog drained at 20k
# records per trigger; perfbench/README.md has the measurement)
RATE = 4.0                  # appends per second
RECORDS = 500               # records per append
PARTITIONS = 4
TRIGGER_S = 4
WARMUP_BATCHES = 3
WARMUP_MAX_S = 90.0
DRAIN_MAX_S = 30.0
POLL_S = 0.5


def _epoch(iso: str) -> float:
    return _dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _offsets(progress: dict, key: str) -> dict[str, int]:
    raw = progress["sources"][0][key]
    if isinstance(raw, str):
        raw = json.loads(raw)
    return {k: int(v) for k, v in (raw or {}).items()}


def _ends(progress: dict) -> dict[str, int]:
    return _offsets(progress, "endOffset")


def _starts(progress: dict) -> dict[str, int]:
    return _offsets(progress, "startOffset")


def start_query(spark, in_log, out_log, ckpt: str, sink):
    from pyspark.sql import functions as F

    env = (spark.readStream.format("dis")
           .option("path", in_log.root).option("stream", in_log.stream)
           .load())
    counts = (env.select(F.col("timestamp").cast("timestamp").alias("ts"),
                         F.from_json("value", "id BIGINT, kind INT, v INT")
                         .alias("e"))
              .withWatermark("ts", "10 seconds")
              .groupBy(F.window("ts", "1 second").alias("w"),
                       F.col("e.kind").alias("kind"))
              .agg(F.count(F.lit(1)).alias("n"), F.sum("e.v").alias("v")))
    out = counts.select(
        F.col("kind").cast("string").alias("key"),
        F.to_json(F.struct(F.col("w.start").cast("long").alias("w"),
                           "kind", "n", "v")).alias("value"),
        F.col("w.start").cast("timestamp_ntz").alias("timestamp"))
    return (out.writeStream.queryName("live").outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime=f"{TRIGGER_S} seconds")
            .start())


class Progress:
    """Every progress event of a query, polled from ``recentProgress``."""

    def __init__(self, query):
        self.query = query
        self.by_key: dict[tuple, dict] = {}

    def poll(self) -> list[dict]:
        last = self.query.lastProgress
        if last is not None and (last.batchId, last.timestamp) \
                not in self.by_key:
            for p in self.query.recentProgress:
                d = json.loads(p.json)
                self.by_key[(d["batchId"], d["timestamp"])] = d
        return self.data_batches()

    def data_batches(self) -> list[dict]:
        out = [d for d in self.by_key.values() if d["numInputRows"] > 0]
        for d in out:
            d["_commit"] = (_epoch(d["timestamp"])
                            + d["durationMs"]["triggerExecution"] / 1000.0)
        return sorted(out, key=lambda d: d["batchId"])


def run(ctx) -> dict:
    from spark_streaming_dis_plugin_spark.session import get_spark
    from spark_streaming_dis_plugin_spark.sources.dis_datasource import (
        DisDataSource)
    from spark_streaming_dis_plugin_spark.sources.dis_log import DisLog
    from spark_streaming_dis_plugin_spark.streaming.sink import (
        DisForeachBatchSink)

    tracer = ctx.tracer
    tracer.wrap(DisLog, "latest_offsets", "dis_log")
    tracer.wrap(DisForeachBatchSink, "__call__", "sink")

    # ---- set-up: session, dis registration, input and output streams
    with tracer.span("get_spark", "session"):
        t = time.perf_counter()
        spark = get_spark("perfbench-live", cpus=CPUS)
        get_spark_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    spark.dataSource.register(DisDataSource)
    root = os.path.join(ctx.work, "logs")
    in_log = DisLog(root, "events").create(PARTITIONS)
    out_log = DisLog(root, "windows").create(PARTITIONS)
    setup_s = ctx.since_start()
    tracer.enabled = False      # spans again only in the traced half

    sink = DisForeachBatchSink(out_log, "live")
    report_path = os.path.join(ctx.work, "generator.json")
    stop_file = os.path.join(ctx.work, "generator.stop")
    go_file = os.path.join(ctx.work, "generator.go")
    gen = subprocess.Popen(
        [sys.executable, os.path.join(ROOT, "perfbench", "gen_events.py"),
         "--root", root, "--stream", "events", "--seed", str(ctx.seed),
         "--rate", str(RATE), "--records", str(RECORDS),
         "--stop-file", stop_file, "--go-file", go_file,
         "--out", report_path],
        stdout=subprocess.DEVNULL)
    ctx.sampler.exclude.add(gen.pid)
    query = None
    try:
        query = start_query(spark, in_log, out_log,
                            os.path.join(ctx.work, "ckpt"), sink)
        prog = Progress(query)

        # ---- warm-up: untimed batches until the stream keeps up
        t_warm = time.time()
        per_trigger = RATE * RECORDS * TRIGGER_S
        while True:
            batches = prog.poll()
            if batches and not os.path.exists(go_file):
                open(go_file, "w").close()
            if (len(batches) >= WARMUP_BATCHES
                    and batches[-1]["numInputRows"] <= 1.5 * per_trigger):
                break
            if time.time() - t_warm > WARMUP_MAX_S or gen.poll() is not None:
                raise RuntimeError(
                    f"warm-up did not settle after {len(batches)} batches")
            time.sleep(POLL_S)
        warmup_batches = len(batches)

        # ---- timed window
        tw0 = time.time()
        env0, cpu0 = env_snapshot(), ctx.sampler.cpu_seconds()
        lag_samples: list[tuple[float, int]] = []
        jvm_series: list[tuple[float, dict]] = []
        half = tw0 + ctx.seconds / 2

        def watch(until: float) -> None:
            while time.time() < until:
                batches = prog.poll()
                latest = in_log.latest_offsets()
                done = _ends(batches[-1]) if batches else {}
                lag_samples.append((time.time(), sum(
                    max(o - done.get(str(p), 0), 0)
                    for p, o in latest.items())))
                jvm_series.append((time.time(), jvm_counters(spark)))
                time.sleep(POLL_S)

        # a traced run traces only the second half of the window
        watch(half)
        tracer.enabled = ctx.trace
        watch(tw0 + ctx.seconds)
        tracer.enabled = False
        tw1 = time.time()
        env1, cpu1 = env_snapshot(), ctx.sampler.cpu_seconds()

        # ---- stop the generator, let the stream consume everything
        open(stop_file, "w").close()
        gen.wait(timeout=30)
        with open(report_path) as f:
            gen_report = json.load(f)
        final = in_log.latest_offsets()
        deadline = time.time() + DRAIN_MAX_S
        while True:
            batches = prog.poll()
            done = _ends(batches[-1]) if batches else {}
            if all(done.get(str(p), 0) >= o for p, o in final.items()):
                break
            if time.time() > deadline:
                break
            time.sleep(POLL_S)
        batches = prog.poll()
    finally:
        if query is not None:
            query.stop()
        if gen.poll() is None:
            gen.kill()
        gen.wait()

    # ---- latency per timed append
    timed = [a for a in gen_report["appends"] if tw0 <= a["due"] < tw1]
    lat_by_due, emit_batch, unconsumed = [], {}, 0
    for a in timed:
        hit = next((b for b in batches
                    if all(_ends(b).get(p, 0) >= o
                           for p, o in a["end"].items())), None)
        if hit is None:
            unconsumed += 1
            continue
        lat_by_due.append((a["due"], hit["_commit"] - a["due"]))
        emit_batch[hit["batchId"]] = hit
    lat = [x for _, x in lat_by_due]
    tb = [emit_batch[k] for k in sorted(emit_batch)]
    # batches that started inside the window: each holds one whole
    # trigger interval of appends (the last emitting batch holds only
    # what was due before the generator stopped)
    full = [b for b in tb if tw0 <= _epoch(b["timestamp"]) < tw1]

    # ---- correctness: exactly-once output, no unconsumed append, no
    # growing lag
    from check import compare_counts, read_windows

    ctx.outputs = {"out_log": out_log, "expected": gen_report["counts"]}
    final_counts, problems, volume = read_windows(out_log)
    problems += compare_counts(final_counts, gen_report["counts"])
    third = max(1, len(lag_samples) // 3)
    lag_first = [v for _, v in lag_samples[:third]]
    lag_last = [v for _, v in lag_samples[-third:]]
    lag_growing = (median(lag_last) or 0) > 2 * (median(lag_first) or 0) \
        + per_trigger
    if lag_growing:
        problems.append(f"source lag grew: {median(lag_first)} -> "
                        f"{median(lag_last)} records")
    # one operation per timed append, per window key and for the lag
    attempted = len(timed) + len(gen_report["counts"]) + 1
    failed = unconsumed + len(problems)
    if unconsumed:
        problems.append(f"{unconsumed} timed appends never consumed")

    q90, p90 = tail_quantile(lat)
    rec = {
        "setup_s": setup_s, "get_spark_s": get_spark_s,
        "warmup_batches": warmup_batches, "timed_appends": len(timed),
        "latency_q": q90,
        "timed_batches": [b["batchId"] for b in tb],
        "batches": [{"batch": b["batchId"], "rows": b["numInputRows"],
                     "start_s": round(_epoch(b["timestamp"]) - tw0, 3),
                     "trigger_ms": b["durationMs"]["triggerExecution"],
                     "jit_ms": _jvm_between(jvm_series, "jit_ms", b)}
                    for b in batches],
        "latencies_s": [round(x, 4) for x in lat],
        "generator": {k: gen_report[k] for k in
                      ("records", "lateness_s_p50", "lateness_s_max")},
        "env": env_delta(env0, env1), "problems": problems[:20],
    }
    ctx.record.update(rec)
    e2e = {
        "setup_s": metric(setup_s, "s"),
        "peak_rss_mb": metric(ctx.sampler.peak_rss / 2**20, "MB"),
        "latency_p50_s": metric(median(lat) or 0, "s"),
        "latency_p90_s": metric(p90 or 0, "s"),
        "items_per_s": metric(median(
            [b["numInputRows"] / (b["durationMs"]["triggerExecution"] / 1e3)
             for b in full]) or 0, "1/s"),
    }
    layer = {}
    if ctx.trace:
        layer = _layer_metrics(ctx, tb, lag_samples, in_log, timed, volume,
                               jvm_series, cpu1 - cpu0, env_delta(env0, env1),
                               get_spark_s, lat_by_due, half)
    return {"attempted": attempted, "failed": failed,
            "e2e": e2e, "layer": layer}


def _jvm_between(series, key: str, batch: dict) -> float | None:
    """JVM GC or JIT milliseconds spent during a batch, from the polled
    cumulative counters; None for a batch outside the timed window."""
    t0, t1 = _epoch(batch["timestamp"]), batch["_commit"]
    before = [c[key] for t, c in series if t <= t0]
    upto = [c[key] for t, c in series if t <= t1]
    if not before or not upto:
        return None
    return upto[-1] - before[-1]


def _read_amplification(in_log, tb) -> float:
    """Rows in the input segments overlapping each batch's range, over
    rows in the range."""
    touched = wanted = 0
    infos = {p: in_log.segment_infos(p) for p in in_log.partitions()}
    for b in tb:
        s, e = _starts(b), _ends(b)
        for p, segs in infos.items():
            lo, hi = s.get(str(p), 0), e.get(str(p), 0)
            if hi <= lo:
                continue
            wanted += hi - lo
            touched += sum(g.rows for g in segs
                           if g.from_offset < hi and g.until_offset > lo)
    return touched / wanted if wanted else 0.0


def _layer_metrics(ctx, tb, lag_samples, in_log, timed, volume, jvm_series,
                   cpu_s, env, get_spark_s, lat_by_due, half) -> dict:
    def dur(key):
        return median([b["durationMs"].get(key, 0) for b in tb]) or 0

    state = [b["stateOperators"][0] for b in tb if b.get("stateOperators")]
    lags = [v for _, v in lag_samples]
    sink_ms = [d * 1e3 for d in ctx.tracer.durations(
        "DisForeachBatchSink.__call__")]
    append_ms = [(a["done"] - a["sent"]) * 1e3 for a in timed]
    # tracing overhead: the traced second half of the window against the
    # untraced first half, on the same process and stream
    untraced = [x for d, x in lat_by_due if d < half]
    traced = [x for d, x in lat_by_due if d >= half]

    def per_batch(key):
        vals = [_jvm_between(jvm_series, key, b) for b in tb]
        return median([v for v in vals if v is not None]) or 0
    m = {
        "session.get_spark_s": (get_spark_s, "s"),
        "dis_log.append_calls": (len(timed), "count"),
        "dis_log.append_ms_p50": (median(append_ms) or 0, "ms"),
        "source.latest_offset_ms_p50": (dur("latestOffset"), "ms"),
        "source.lag_records_p50": (median(lags) or 0, "count"),
        "source.lag_records_max": (max(lags) if lags else 0, "count"),
        "source.read_amplification": (_read_amplification(in_log, tb),
                                      "ratio"),
        "streaming.batches": (len(tb), "count"),
        "streaming.rows_per_batch_p50": (
            median([b["numInputRows"] for b in tb]) or 0, "count"),
        "streaming.trigger_ms_p50": (dur("triggerExecution"), "ms"),
        "streaming.query_planning_ms_p50": (dur("queryPlanning"), "ms"),
        "streaming.add_batch_ms_p50": (dur("addBatch"), "ms"),
        "streaming.wal_commit_ms_p50": (dur("walCommit"), "ms"),
        "streaming.commit_offsets_ms_p50": (dur("commitOffsets"), "ms"),
        "streaming.state_rows": (
            median([s["numRowsTotal"] for s in state]) or 0, "count"),
        "streaming.state_memory_mb": (
            (median([s["memoryUsedBytes"] for s in state]) or 0) / 2**20,
            "MB"),
        "streaming.state_commit_ms_p50": (
            median([s["commitTimeMs"] for s in state]) or 0, "ms"),
        "sink.call_ms_p50": (median(sink_ms) or 0, "ms"),
        "sink.rows": (volume["rows"], "count"),
        "sink.segments": (volume["segments"], "count"),
        "jvm.gc_ms": (per_batch("gc_ms"), "ms"),
        "jvm.jit_ms": (per_batch("jit_ms"), "ms"),
        "process.cpu_s": (cpu_s, "s"),
        "env.steal_s": (env.get("steal_s") or 0, "s"),
        "trace.overhead_s": ((median(traced) or 0) - (median(untraced) or 0),
                             "s"),
    }
    for layer, s in ctx.tracer.self_time_by_layer().items():
        m[f"{layer}.self_s"] = (s, "s")
    # the engine's own time in the traced half: each batch's trigger time
    # less its addBatch phase, which holds the sink call
    m["streaming.self_s"] = (sum(
        (b["durationMs"]["triggerExecution"]
         - b["durationMs"].get("addBatch", 0)) / 1e3
        for b in tb if _epoch(b["timestamp"]) >= half), "s")
    return {k: metric(v, u) for k, (v, u) in m.items()}
