"""Statistics, host-noise stamps and memory readings.

Pure helpers with no Spark import, so the tests run without a JVM.
"""

from __future__ import annotations

import math
import os
import resource

PERCENTILE_LADDER = (50.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10  # samples a reported percentile must have above it


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def median(values: list[float]) -> float:
    s = sorted(values)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def supported_percentile(n: int) -> float | None:
    """The highest percentile of ``PERCENTILE_LADDER`` that leaves at least
    ``MIN_BEYOND`` of ``n`` samples above it, or None."""
    best = None
    for p in PERCENTILE_LADDER:
        if n * (1.0 - p / 100.0) >= MIN_BEYOND - 1e-9:
            best = p
    return best


def require_percentile(values: list[float], p: float, what: str) -> float:
    """``percentile`` that refuses a tail the sample cannot support."""
    top = supported_percentile(len(values))
    if top is None or p > top:
        raise ValueError(
            f"{what}: p{p:g} needs {MIN_BEYOND} samples beyond it; have {len(values)}"
        )
    return percentile(values, p)


def read_cpu_stat() -> tuple[int, int] | None:
    """(steal jiffies, total jiffies) from the aggregate cpu line of
    /proc/stat, or None where it does not exist."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
    except OSError:
        return None
    vals = [int(v) for v in parts[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


class HostStamp:
    """Load average at start and end plus the CPU steal share between."""

    def __init__(self):
        self.load_start = os.getloadavg()[0]
        self.cpu_start = read_cpu_stat()

    def finish(self) -> dict:
        out = {
            "loadavg_start": round(self.load_start, 2),
            "loadavg_end": round(os.getloadavg()[0], 2),
            "nproc": os.cpu_count(),
        }
        end = read_cpu_stat()
        if self.cpu_start and end and end[1] > self.cpu_start[1]:
            out["steal_frac"] = round(
                (end[0] - self.cpu_start[0]) / (end[1] - self.cpu_start[1]), 4
            )
        return out


def peak_rss_mb(pids: list[int]) -> float:
    """Peak resident memory of this process plus ``pids`` (VmHWM)."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss  # KiB on Linux
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0
