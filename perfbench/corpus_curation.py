"""``corpus_curation``: a batch job over a seeded corpus.

One pass runs four registered curation stages in order, each output
fully materialized by a noop-sink write (never ``count()``, which
Catalyst prunes):

    pipeline_llm_curation -> dedup_end_to_end -> dedup_semantic
    -> sim_ivf_build

Before timing, one untimed pass collects every stage's result and
compares it with the stage's registered DuckDB oracle on the same
generated inputs; it is also the warm-up. It runs the four stages on
four threads at once, which brings a fresh JVM through its first pass in
about two thirds of the time.

The timed units are single stages, run one after another in pass order
until ``--seconds`` have passed and at least one pass is complete, so a
run overshoots its length by at most one stage. A pass is costed as the
sum of its four stages' median walls. A traced run alternates untraced
and traced passes; each traced stage runs under its own Spark job group,
whose stage metrics are read from the status store afterwards.
"""

from __future__ import annotations

import os
import time

from common import (CPUS, CURATION_STAGES as STAGES, env_delta, env_snapshot,
                    jvm_counters, median, metric, tail_quantile)

LAYER = {"pipeline_llm_curation": "pipeline", "dedup_end_to_end": "dedup",
         "dedup_semantic": "dedup", "sim_ivf_build": "similarity"}
N_DOCS = 500
DUP_FRACTION = 0.2


def stage_metrics(spark, group: str) -> dict:
    """Completed stages of a job group: count, task seconds, shuffle
    bytes (read + write) and spilled bytes (memory + disk)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ids = set()
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        if info is not None:
            ids.update(info.stageIds)
    store = sc._jsc.sc().statusStore()
    out = {"stages": 0, "task_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0}
    for sid in ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:       # evicted or never submitted (skipped)
            continue
        if str(sd.status()) != "COMPLETE":
            continue
        out["stages"] += 1
        out["task_s"] += sd.executorRunTime() / 1e3
        out["shuffle_mb"] += (sd.shuffleReadBytes()
                              + sd.shuffleWriteBytes()) / 2**20
        out["spill_mb"] += (sd.memoryBytesSpilled()
                            + sd.diskBytesSpilled()) / 2**20
    return out


class _Oracles:
    """Runs every stage's registered DuckDB oracle on a background thread
    while Spark computes the same stages, and serves the results to
    ``tests.oracle.compare`` through the ``con.sql(...)`` it calls.

    ``dedup_end_to_end``'s oracle reads its LSH-pairs CTE from a
    recursive CTE; DuckDB 1.0 re-evaluates an unmaterialized CTE on every
    reference, which takes minutes on a corpus with planted duplicates.
    The pairs CTE is marked ``MATERIALIZED`` (an evaluation hint; the
    query's result is unchanged, which perfbench/smoke.py checks)."""

    def __init__(self, corpus: str, sqls: list[str]):
        import duckdb
        from concurrent.futures import ThreadPoolExecutor

        self.con = duckdb.connect()
        for t in ("documents", "embeddings"):
            path = os.path.join(corpus, f"{t}.parquet")
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        self._pool = ThreadPoolExecutor(1)
        self._results = {q: self._pool.submit(self._fetch, q) for q in sqls}

    @staticmethod
    def hinted(sql: str) -> str:
        return sql.replace("pairs AS (", "pairs AS MATERIALIZED (", 1)

    def _fetch(self, sql: str):
        import types

        rel = self.con.sql(self.hinted(sql))
        cols, rows = rel.columns, rel.fetchall()
        return types.SimpleNamespace(columns=cols, fetchall=lambda: rows)

    def sql(self, sql: str):
        return self._results[sql].result()

    def close(self) -> None:
        self._pool.shutdown()
        self.con.close()


def run(ctx) -> dict:
    from corpus import make_corpus

    corpus = os.path.join(ctx.work, "corpus")
    t = time.perf_counter()
    info = make_corpus(corpus, ctx.seed, N_DOCS, DUP_FRACTION)
    gen_s = time.perf_counter() - t

    from spark_streaming_dis_plugin_spark.plans.registry import all_queries
    from spark_streaming_dis_plugin_spark.session import get_spark

    tracer = ctx.tracer
    with tracer.span("get_spark", "session"):
        t = time.perf_counter()
        spark = get_spark("perfbench-curation", cpus=CPUS)
        get_spark_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    specs = {n: all_queries()[n] for n in STAGES}
    setup_s = ctx.since_start() - gen_s

    # ---- untimed warm-up pass that also checks every stage's output
    from tests.oracle import compare

    def check(name: str) -> str | None:
        try:
            compare(specs[name].fn(spark, corpus), oracles,
                    specs[name].oracle)
        except Exception as e:      # a mismatch or a failed stage
            return f"{name}: {type(e).__name__}: {str(e)[:300]}"
        return None

    from concurrent.futures import ThreadPoolExecutor

    t = time.perf_counter()
    oracles = _Oracles(corpus, [specs[n].oracle for n in STAGES])
    try:
        with ThreadPoolExecutor(len(STAGES)) as pool:
            problems = [p for p in pool.map(check, STAGES) if p]
    finally:
        oracles.close()
    spark.catalog.clearCache()
    check_s = time.perf_counter() - t

    # ---- timed stages, in pass order, until --seconds have passed
    sc = spark.sparkContext
    units = []
    env0, cpu0 = env_snapshot(), ctx.sampler.cpu_seconds()
    t_end = time.perf_counter() + ctx.seconds
    # at least one full pass; a traced run alternates untraced and traced
    # passes and needs one of each
    min_units = len(STAGES) * (1 + ctx.trace)
    while time.perf_counter() < t_end or len(units) < min_units:
        n_pass, name = divmod(len(units), len(STAGES))
        name = STAGES[name]
        traced = ctx.trace and n_pass % 2 == 1
        tracer.enabled = traced
        spark.catalog.clearCache()
        group = f"perfbench-{name}-{n_pass}"
        if traced:
            sc.setJobGroup(group, name)
        jv = jvm_counters(spark)
        with tracer.span(name, LAYER[name]):
            t = time.perf_counter()
            (specs[name].fn(spark, corpus).write.format("noop")
             .mode("overwrite").save())
            wall = time.perf_counter() - t
        jv1 = jvm_counters(spark)
        u = {"stage": name, "pass": n_pass, "traced": traced,
             "wall_s": wall, "jit_ms": jv1["jit_ms"] - jv["jit_ms"],
             "gc_ms": jv1["gc_ms"] - jv["gc_ms"]}
        if traced:
            u.update(stage_metrics(spark, group))
            sc.setLocalProperty("spark.jobGroup.id", None)
        units.append(u)
    env1, cpu1 = env_snapshot(), ctx.sampler.cpu_seconds()

    untraced = [u for u in units if not u["traced"]]
    # a pass as its four stages' median walls
    pass_s = sum(median([u["wall_s"] for u in untraced if u["stage"] == n])
                 for n in STAGES)
    # every document of a pass is due at the pass start and done when its
    # last stage has materialized, so all documents of a pass share one
    # latency: one sample per completed untraced pass. At --seconds 15 a
    # run completes one pass, and p50 = p90 = that pass's wall.
    full = _full_pass_walls(units, traced=False)
    _, p90 = tail_quantile(full)
    ctx.record.update({
        "setup_s": setup_s, "get_spark_s": get_spark_s,
        "corpus": info, "corpus_gen_s": gen_s, "check_pass_s": check_s,
        "units": units, "pass_s": pass_s, "full_passes_s": full,
        "env": env_delta(env0, env1),
        "problems": problems,
    })
    e2e = {
        "setup_s": metric(setup_s, "s"),
        "peak_rss_mb": metric(ctx.sampler.peak_rss / 2**20, "MB"),
        "latency_p50_s": metric(median(full), "s"),
        "latency_p90_s": metric(p90, "s"),
        "items_per_s": metric(N_DOCS / pass_s, "1/s"),
    }
    layer = {}
    if ctx.trace:
        layer = _layer_metrics(ctx, units, cpu0, cpu1, env0, env1,
                               get_spark_s)
    # one operation per stage checked against its oracle
    return {"attempted": len(STAGES), "failed": len(problems),
            "e2e": e2e, "layer": layer}


def _full_pass_walls(units, traced: bool) -> list[float]:
    """Wall time of each pass whose four stages all ran."""
    passes: dict[int, list[float]] = {}
    for u in units:
        if u["traced"] == traced:
            passes.setdefault(u["pass"], []).append(u["wall_s"])
    return [sum(w) for w in passes.values() if len(w) == len(STAGES)]


def _layer_metrics(ctx, units, cpu0, cpu1, env0, env1, get_spark_s) -> dict:
    traced = [u for u in units if u["traced"]]
    m = {"session.get_spark_s": (get_spark_s, "s")}
    for name in STAGES:
        rows = [u for u in traced if u["stage"] == name]

        def med(key, rows=rows):
            return median([r[key] for r in rows]) or 0

        wall, task = med("wall_s"), med("task_s")
        m[f"{name}.wall_s"] = (wall, "s")
        m[f"{name}.task_s"] = (task, "s")
        m[f"{name}.busy_share"] = (task / (wall * CPUS) if wall else 0,
                                   "ratio")
        m[f"{name}.stages"] = (med("stages"), "count")
        m[f"{name}.shuffle_mb"] = (med("shuffle_mb"), "MB")
        m[f"{name}.spill_mb"] = (med("spill_mb"), "MB")

    m.update({
        "jvm.gc_ms": (median([u["gc_ms"] for u in units]), "ms"),
        "jvm.jit_ms": (median([u["jit_ms"] for u in units]), "ms"),
        "process.cpu_s": (cpu1 - cpu0, "s"),
        "env.steal_s": (env_delta(env0, env1).get("steal_s") or 0, "s"),
        "trace.overhead_s": (
            (median(_full_pass_walls(units, traced=True)) or 0)
            - (median(_full_pass_walls(units, traced=False)) or 0), "s"),
    })
    for layer, s in ctx.tracer.self_time_by_layer().items():
        m[f"{layer}.self_s"] = (s, "s")
    return {k: metric(v, u) for k, (v, u) in m.items()}
