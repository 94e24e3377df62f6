"""Pure helpers of the benchmark: percentiles, interval unions and the
file-to-batch mapping read from a file-source checkpoint log.

Nothing here imports Spark, so ``test_stats.py`` checks these helpers
in a second.
"""

from __future__ import annotations

import bisect
import json
import os
import statistics

# A tail is reported only where the sample supports it: the highest
# percentile that still has this many samples beyond it.
TAIL_BEYOND = 10


def median(values):
    return statistics.median(values) if values else None


def tail_percentile(values, beyond: int = TAIL_BEYOND):
    """Return ``(value, percentile, n)`` for the highest percentile of
    ``values`` that has at least ``beyond`` samples strictly above it,
    or ``None`` when the sample is too small to have one."""
    xs = sorted(values)
    n = len(xs)
    for k in range(n - 1, -1, -1):
        if n - bisect.bisect_right(xs, xs[k]) >= beyond:
            return xs[k], 100.0 * (k + 1) / n, n
    return None


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``(start, end)`` intervals, each first
    clipped to ``[lo, hi]`` when given. Overlaps count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def files_to_batches(source_log_dir: str) -> dict[str, int]:
    """Map each source file's base name to the id of the micro-batch
    that read it, from a file-source metadata log
    (``<checkpoint>/sources/0``).

    The log writes one file per batch (``N``) and, every few batches, a
    compacted file (``N.compact``) that replaces the earlier entries; a
    reader that skips the compact files loses those files' batches.
    Entries are keyed by their own ``batchId`` field, not by the name
    of the log file that holds them.
    """
    out: dict[str, int] = {}
    for name in os.listdir(source_log_dir):
        stem = name[: -len(".compact")] if name.endswith(".compact") else name
        if not stem.isdigit():
            continue  # checksum and temp files
        with open(os.path.join(source_log_dir, name)) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue  # the "v1" version header
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def spread(values) -> float:
    """Inter-quartile distance as a share of the median, the steadiness
    figure a benchmark's bounds are held against."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
