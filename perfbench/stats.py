"""Order statistics, span self-time and process memory for the benchmark.

Pure Python on purpose: the self-tests in ``perfbench/tests`` exercise
these rules without a Spark session.
"""

from __future__ import annotations

import os
import statistics

#: A tail percentile is reported only where at least this many samples
#: lie beyond it; with fewer the figure would be one or two outliers.
TAIL_BEYOND = 10


def median(values) -> float:
    vals = list(values)
    return float(statistics.median(vals)) if vals else 0.0


def tail(values) -> tuple[float, float, int]:
    """The highest percentile that has at least ``TAIL_BEYOND`` samples
    beyond it, as ``(value, percentile, n)``.

    With ``n`` samples sorted ascending, ``x[n - 11]`` has exactly ten
    larger samples, and it sits at percentile ``100 * (n - 10) / n``.
    With fewer than eleven samples no percentile qualifies; the maximum
    is returned at percentile 100 so the caller can print that it fell
    back.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= TAIL_BEYOND:
        return float(xs[-1]), 100.0, n
    k = n - TAIL_BEYOND - 1
    return float(xs[k]), 100.0 * (n - TAIL_BEYOND) / n, n


def covered_length(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict[int, float]:
    """Self time per span id: duration minus the part of the span's
    interval that its children cover. Children may overlap each other
    (fold branches run on a thread pool), so the covered part is the
    union of the children's intervals, clipped to the parent."""
    kids: dict[int, list] = {}
    for sp in spans:
        if sp["parent"] is not None:
            kids.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        s, e = sp["start"], sp["end"]
        clipped = [
            (max(s, c["start"]), min(e, c["end"]))
            for c in kids.get(sp["id"], [])
            if c["end"] > s and c["start"] < e
        ]
        out[sp["id"]] = (e - s) - covered_length(clipped)
    return out


def peak_rss_bytes(pid: int) -> int:
    """Peak resident set size of a live process (Linux ``VmHWM``)."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def dir_bytes(path: str) -> int:
    """Bytes of regular files under ``path``."""
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
            except OSError:
                pass
    return total
