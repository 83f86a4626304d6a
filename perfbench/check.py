"""Exactly-once check of a windowed-count stream written by
``DisForeachBatchSink``.

The sink writes each micro-batch under txn ``<query>_b<batchId>``, one
segment per partition, and records the txn in the stream's ledger. In
update mode every batch re-emits the running count of each window it
touched, so the final count of a window is the value from the highest
batch id that emitted it. The stream is exactly-once when:

- every partition's offsets are dense from 0, with no offset twice;
- every segment's txn is in the ledger, and no txn emits the same
  window key twice (a batch emits each window key it touched once, so a
  batch applied twice repeats its keys under its own txn, wherever the
  second copy lands);
- every expected window key has a final count equal to the number of
  records the generator produced for it, and no other key appears.
"""

from __future__ import annotations

import json
import re

_BATCH_RE = re.compile(r"_b(\d+)$")


def read_windows(log) -> tuple[dict[str, int], list[str], dict]:
    """Final count per window key, problems found, and volume counters."""
    import pyarrow.parquet as pq

    problems: list[str] = []
    committed = log.committed_txns()
    final: dict[str, tuple[int, int]] = {}
    emitted: set[tuple[str, str]] = set()
    rows = segments = 0
    for p in log.partitions():
        expect_from = 0
        for seg in log.segment_infos(p):
            segments += 1
            if seg.from_offset != expect_from:
                problems.append(f"partition {p}: segment starts at "
                                f"{seg.from_offset}, expected {expect_from}")
            expect_from = max(expect_from, seg.until_offset)
            txn = seg.txn or ""
            if txn not in committed:
                problems.append(f"partition {p}: uncommitted txn {txn!r}")
            m = _BATCH_RE.search(txn)
            batch = int(m.group(1)) if m else -1
            for v in pq.read_table(seg.path, columns=["value"]).column(0):
                rec = json.loads(v.as_py())
                key = f"{rec['w']}:{rec['kind']}"
                rows += 1
                if (txn, key) in emitted:
                    problems.append(f"partition {p}: txn {txn!r} emitted "
                                    f"window {key} twice")
                emitted.add((txn, key))
                if key not in final or final[key][0] < batch:
                    final[key] = (batch, int(rec["n"]))
    return ({k: n for k, (_, n) in final.items()}, problems,
            {"rows": rows, "segments": segments})


def compare_counts(final: dict[str, int],
                   expected: dict[str, int]) -> list[str]:
    """One problem line per window key whose final count is wrong."""
    out = []
    for key in sorted(set(final) | set(expected)):
        got, want = final.get(key, 0), expected.get(key, 0)
        if got != want:
            out.append(f"window {key}: counted {got}, produced {want}")
    return out
