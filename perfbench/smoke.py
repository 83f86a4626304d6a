"""Toy-size smoke test of the benchmark harness (about two minutes).

    python3 perfbench/smoke.py

1. Runs ``live_ingest`` at a toy rate for a few seconds and expects its
   exactly-once check to pass. Then, on copies of the output stream,
   drops one output segment and duplicates another: the check must fail
   on both copies.
2. On a toy corpus, runs each curation stage's DuckDB oracle both as
   registered and with the ``MATERIALIZED`` hint the benchmark adds, and
   expects the same rows.

Exits 0 when every expectation holds, 1 otherwise.
"""

from __future__ import annotations

import os
import shutil
import sys
import types

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402


def _failures(log, expected) -> list[str]:
    from check import compare_counts, read_windows

    final, problems, _ = read_windows(log)
    return problems + compare_counts(final, expected)


def replay_last_batch(log) -> None:
    """Append a copy of the last batch's segments after the end of each
    partition, as a second application of that batch would."""
    from check import _BATCH_RE

    from spark_streaming_dis_plugin_spark.sources.dis_log import segment_name

    segs = {p: log.segment_infos(p) for p in log.partitions()}
    txn = max((s.txn for ss in segs.values() for s in ss),
              key=lambda t: int(_BATCH_RE.search(t).group(1)))
    for p, ss in segs.items():
        end = ss[-1].until_offset if ss else 0
        for s in (s for s in ss if s.txn == txn):
            n = s.until_offset - s.from_offset
            shutil.copy(s.path, os.path.join(
                os.path.dirname(s.path), segment_name(end, end + n, s.rows,
                                                      txn)))
            end += n


def check_stream_negatives(out_log, expected, work: str) -> list[str]:
    """Returns the expectations that did not hold."""
    from spark_streaming_dis_plugin_spark.sources.dis_log import DisLog

    bad = []
    if _failures(out_log, expected):
        bad.append("intact output stream failed its check")
    for case in ("drop", "duplicate", "replay"):
        root = os.path.join(work, case)
        shutil.copytree(out_log.stream_dir, os.path.join(root, out_log.stream))
        copy = DisLog(root, out_log.stream)
        segs = [s for p in copy.partitions() for s in copy.segment_infos(p)]
        victim = segs[len(segs) // 2].path
        if case == "drop":
            os.remove(victim)
        elif case == "duplicate":
            # same name up to the random suffix: the segment at its own
            # offsets twice
            shutil.copy(victim, victim[:-len("0000.parquet")] + "ffff.parquet")
        else:
            replay_last_batch(copy)
        if not _failures(copy, expected):
            bad.append(f"check passed on the {case} case")
    return bad


def check_oracle_hint(corpus: str) -> list[str]:
    from corpus_curation import STAGES, _Oracles

    from spark_streaming_dis_plugin_spark.plans.registry import all_queries

    sqls = [all_queries()[n].oracle for n in STAGES]
    oracles = _Oracles(corpus, sqls)
    plain_con = oracles.con.cursor()    # the hinted queries run on .con
    bad = []
    try:
        for name, sql in zip(STAGES, sqls):
            plain = sorted(map(repr, plain_con.sql(sql).fetchall()))
            hinted = sorted(map(repr, oracles.sql(sql).fetchall()))
            if plain != hinted:
                bad.append(f"{name}: hinted oracle differs")
    finally:
        plain_con.close()
        oracles.close()
    return bad


def main() -> int:
    import run

    work = os.path.join(common.ROOT, ".perfbench_work", f"smoke-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    common.prepare_env(work)
    bad: list[str] = []
    try:
        import live_ingest

        live_ingest.RATE, live_ingest.RECORDS = 2.0, 20
        args = types.SimpleNamespace(workload="live_ingest", seed=7,
                                     seconds=4.0, trace=0)
        ctx = run.Context(args, work)
        ctx.sampler.start()
        out = live_ingest.run(ctx)
        ctx.sampler.stop()
        if out["failed"]:
            bad.append(f"toy live_ingest failed: {ctx.record['problems']}")
        bad += check_stream_negatives(ctx.outputs["out_log"],
                                      ctx.outputs["expected"],
                                      os.path.join(work, "negative"))

        from corpus import make_corpus

        corpus = os.path.join(work, "corpus")
        make_corpus(corpus, seed=7, n_docs=80)
        bad += check_oracle_hint(corpus)
    finally:
        run.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    for b in bad:
        print("FAIL", b)
    print("smoke ok" if not bad else "smoke FAILED")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
