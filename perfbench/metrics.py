"""Metric math of the benchmark: medians, tail percentiles, layer self
times, scaling efficiency, error ratio and run-to-run spread.

Kept free of I/O so that tests/test_metrics.py can check it directly.
"""
import math
import statistics


def median(values):
    return statistics.median(values)


def tail_percentile(values, beyond=10):
    """The highest whole percentile with at least `beyond` samples above it.

    Returns (percentile, value) using the nearest-rank definition, or None
    when the sample is too small to have any such percentile (fewer than
    beyond + 1 values).
    """
    n = len(values)
    if n <= beyond:
        return None
    ordered = sorted(values)
    p = (100 * (n - beyond)) // n
    rank = max(1, math.ceil(p * n / 100))
    return p, ordered[rank - 1]


def self_times(cumulative):
    """Self time of each layer from cumulative cut walls.

    `cumulative` is a list of (layer, wall) in pipeline order, where the
    cut after layer i runs layers 0..i. A layer's self time is its cut's
    wall minus the previous cut's wall.
    """
    out = []
    prev = 0.0
    for layer, wall in cumulative:
        out.append((layer, wall - prev))
        prev = wall
    return out


def layer_sum_residual(selves, untraced_wall):
    """Share by which the layer self times miss the untraced wall."""
    return (sum(s for _, s in selves) - untraced_wall) / untraced_wall


def scaling_efficiency(t_one_core, t_n_cores, cores):
    """T(1 core) / (cores * T(cores)): 1.0 is perfect scaling."""
    return t_one_core / (cores * t_n_cores)


def error_ratio(attempted, failed):
    """Failed or wrong operations over attempted ones."""
    if attempted <= 0:
        raise ValueError("no operation was attempted")
    return failed / attempted


def overhead(traced, untraced):
    """Tracing overhead: traced wall over untraced wall, minus one."""
    return traced / untraced - 1.0


def span_self_times(spans):
    """Total self time per span name: a span's duration minus the part
    of it its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = sorted((c["start_s"], c["end_s"]) for c in children.get(s["id"], []))
        covered = 0.0
        cur_start = cur_end = None
        for a, b in kids:
            a, b = max(a, s["start_s"]), min(b, s["end_s"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        own = (s["end_s"] - s["start_s"]) - covered
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def spread(values):
    """Interquartile distance as a share of the median, with quartiles as
    statistics.quantiles(values, n=4) gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
