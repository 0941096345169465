"""Summary statistics, host-noise disclosure and result comparison."""

from __future__ import annotations

import math
import os
import platform
import statistics

# a percentile is reported only when at least this many samples lie
# beyond it, so a tail figure never rests on one or two outliers
MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """The ``q``-quantile (0 < q < 1) of ``values`` by linear
    interpolation between closest ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported(n: int, q: float, min_beyond: int = MIN_BEYOND) -> bool:
    """True when ``n`` samples leave at least ``min_beyond`` of them
    above the ``q``-quantile."""
    return n * (1.0 - q) >= min_beyond - 1e-9   # 1000 * (1 - .99) < 10


def tail_quantile(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """The highest of p50/p90/p95/p99 that ``n`` samples support, or
    None when not even the median is supported."""
    best = None
    for q in (0.5, 0.9, 0.95, 0.99):
        if supported(n, q, min_beyond):
            best = q
    return best


def summarize(values) -> dict:
    """Median plus the highest supported tail percentile, with the
    sample count they rest on."""
    xs = list(values)
    out = {"n": len(xs)}
    if not xs:
        return out
    out["p50"] = percentile(xs, 0.5)
    q = tail_quantile(len(xs))
    if q is not None and q > 0.5:
        out[f"p{round(q * 100)}"] = percentile(xs, q)
    return out


def spread(values) -> float:
    """Inter-quartile range as a share of the median, the way the
    benchmark's steadiness rule measures it."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else math.inf


def host_snapshot() -> dict:
    """Load average and cumulative CPU ticks; pair two snapshots with
    :func:`host_noise`."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"cpu": cpu, "loadavg": load}


def host_noise(before: dict, after: dict, cpus: int) -> dict:
    """What else the host was doing during a run: the 1-minute load
    average at the end, the share of CPU time stolen by the hypervisor
    and the idle share over the run, with the configuration figures a
    result must be compared under."""
    import pyspark

    delta = [b - a for a, b in zip(before["cpu"], after["cpu"])]
    total = sum(delta) or 1
    steal = delta[7] if len(delta) > 7 else 0
    return {
        "loadavg_1m": after["loadavg"][0],
        "steal_share": steal / total,
        "idle_share": (delta[3] + delta[4]) / total,
        "cpus": cpus,
        "host_cpus": os.cpu_count(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


class IncomparableResults(ValueError):
    """Raised when two results were taken under different settings."""


def compare(base: dict, new: dict) -> dict:
    """Per-metric change from ``base`` to ``new`` (two saved reports of
    the same workload), as a share of the base value.  Results taken at
    different ``cpus`` are refused: a core-count change moves every
    timing and says nothing about the code."""
    for key in ("workload", "trace"):
        if base.get(key) != new.get(key):
            raise IncomparableResults(f"{key} differs: "
                                      f"{base.get(key)} vs {new.get(key)}")
    b_cpus, n_cpus = base["host"]["cpus"], new["host"]["cpus"]
    if b_cpus != n_cpus:
        raise IncomparableResults(f"cpus differ: {b_cpus} vs {n_cpus}")
    out = {}
    for name, m in base["metrics"].items():
        if name in new["metrics"] and m["value"]:
            out[name] = (new["metrics"][name]["value"] - m["value"]) \
                / m["value"]
    return out
