"""Statistics and /proc readings used by the benchmark."""

from __future__ import annotations

import math
import os

CLK_TCK = os.sysconf("SC_CLK_TCK")
MIN_BEYOND = 10  # samples a reported percentile must have above it


def percentile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile, ``q`` in (0, 1): the
    mean of the order statistics, each weighted by the Beta((n+1)q,
    (n+1)(1-q)) mass of its rank interval.

    Latencies of a statement mix cluster by template, with gaps between the
    clusters; a single order statistic jumps across a gap when one sample
    moves, while this estimate moves with the samples around the quantile.
    """
    if not values:
        raise ValueError("no samples")
    ordered = sorted(values)
    n = len(ordered)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    steps = 64  # midpoint rule inside each rank interval
    h = 1.0 / (n * steps)
    weights = [
        sum(math.exp(log_norm + (a - 1) * math.log(t) + (b - 1) * math.log1p(-t))
            for t in ((i * steps + j + 0.5) * h for j in range(steps)))
        for i in range(n)
    ]
    return sum(w * v for w, v in zip(weights, ordered)) / sum(weights)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples rank above the ``q`` quantile."""
    return n - max(1, math.ceil(q * n)) if n else 0


def reportable(n: int, q: float) -> bool:
    """A percentile is reported only with ``MIN_BEYOND`` samples above it."""
    return samples_beyond(n, q) >= MIN_BEYOND


def median(values: list[float]) -> float:
    return percentile(values, 0.5)


def stat_fields(raw: str) -> list[str]:
    """Fields of a /proc/<pid>/stat line from field 3 (state) on."""
    # the command name is parenthesised and may itself hold spaces or ')'
    return raw[raw.rindex(")") + 2:].split()


def _stat(pid: int | str) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return stat_fields(f.read())


def cpu_ticks(fields: list[str]) -> int:
    """utime plus stime (fields 14 and 15), in clock ticks."""
    return int(fields[11]) + int(fields[12])


def cpu_seconds(pid: int | str = "self") -> float:
    """User plus system CPU seconds of every thread of ``pid`` so far."""
    return cpu_ticks(_stat(pid)) / CLK_TCK


def process_age_s(pid: int | str = "self") -> float:
    """Seconds since ``pid`` started, from its start tick and the uptime."""
    start_ticks = int(_stat(pid)[19])  # field 22
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / CLK_TCK


def peak_rss_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")
