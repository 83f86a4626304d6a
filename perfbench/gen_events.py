"""Open-loop event generator for the ``live_ingest`` workload.

A single-threaded process that appends JSON events to a DIS log through
``DisLog.append`` on a fixed schedule: append ``i`` is due at
``t0 + i / rate``. Every event carries its append's due time as its
creation stamp and event time, so latency is measured from when the
append was due, not from when it was sent, and a stalled generator shows
as lateness rather than as lower load. Record contents depend only on
``--seed`` and the append index.

The generator makes one append at once, so the first, cold micro-batch
has data, and starts the schedule only when ``--go-file`` appears. It
runs until ``--stop-file`` exists (or ``MAX_SECONDS`` pass), then writes
a JSON report to ``--out``: per append its due time, send and return
times, and end offset per partition it wrote; the expected count per
(window second, kind); and the generator's own lateness.

    python3 perfbench/gen_events.py --root LOG_ROOT --stream events \\
        --seed 1 --rate 4 --records 500 --go-file GO --stop-file STOP \\
        --out REPORT.json
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import time

KINDS = 16               # event kinds, Zipf-distributed
MAX_SECONDS = 150.0      # stop even if no stop file ever appears


def batch(rng, seq0: int, n: int, partitions: int, kinds: int, due: float):
    """One append's records: (partition, key, value JSON, timestamp)."""
    import numpy as np
    import pandas as pd

    part = rng.integers(0, partitions, n)
    kind = np.minimum(rng.zipf(1.6, n) - 1, kinds - 1)
    user = rng.integers(0, 10_000, n)
    val = rng.integers(0, 1000, n)
    values = [f'{{"id":{seq0 + i},"kind":{int(k)},"v":{int(v)}}}'
              for i, (k, v) in enumerate(zip(kind, val))]
    ts = np.full(n, np.datetime64(int(round(due * 1e6)), "us"))
    pdf = pd.DataFrame({"partition": part, "key": [f"u{u}" for u in user],
                        "value": values, "timestamp": ts})
    return pdf, kind


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--stream", default="events")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True,
                    help="appends per second")
    ap.add_argument("--records", type=int, required=True,
                    help="records per append")
    ap.add_argument("--go-file", required=True,
                    help="append once, then wait for this file to start")
    ap.add_argument("--stop-file", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)

    import numpy as np

    from spark_streaming_dis_plugin_spark.sources.dis_log import DisLog

    stopping = []
    signal.signal(signal.SIGTERM, lambda *_: stopping.append(1))
    log = DisLog(a.root, a.stream)
    partitions = log.num_partitions()
    rng = np.random.default_rng(a.seed)
    appends, counts = [], {}
    seq = 0
    t0 = time.time()
    i = 0
    while not stopping and not os.path.exists(a.stop_file):
        due = t0 + i / a.rate
        if due - t0 > MAX_SECONDS:
            break
        pdf, kind = batch(rng, seq, a.records, partitions, KINDS, due)
        seq += a.records
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        sent = time.time()
        latest = log.append(pdf)
        done = time.time()
        wrote = sorted(int(p) for p in set(pdf["partition"]))
        appends.append({"due": due, "sent": sent, "done": done,
                        "end": {str(p): latest[p] for p in wrote},
                        "records": a.records})
        w = int(due)   # 1-second tumbling window of the event time
        for k, c in zip(*np.unique(kind, return_counts=True)):
            key = f"{w}:{int(k)}"
            counts[key] = counts.get(key, 0) + int(c)
        i += 1
        if len(appends) == 1:
            while not (os.path.exists(a.go_file) or stopping
                       or os.path.exists(a.stop_file)):
                time.sleep(0.01)
            t0, i = time.time(), 0
    late = sorted(x["sent"] - x["due"] for x in appends)
    report = {"appends": appends, "counts": counts, "records": seq,
              "lateness_s_p50": late[len(late) // 2] if late else None,
              "lateness_s_max": late[-1] if late else None}
    tmp = a.out + ".tmp"
    with open(tmp, "w") as f:
        json.dump(report, f)
    os.replace(tmp, a.out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
