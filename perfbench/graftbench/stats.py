"""Summary statistics the benchmark reports."""
import statistics

# The reported tail is the highest whole percentile that leaves at least
# MIN_BEYOND samples above it; whole percentiles keep the figure from
# jumping when a run's sample count crosses a coarse step.
MIN_BEYOND = 10


def median(values):
    return statistics.median(values) if values else None


def percentile(values, p):
    """Nearest-rank percentile of `values` (p in 0..100)."""
    s = sorted(values)
    if not s:
        return None
    k = max(1, -(-len(s) * p // 100))  # ceil(n * p / 100), at least 1
    return s[int(k) - 1]


def tail(values):
    """(percentile, value, samples beyond it) for the highest whole
    percentile, at most the 99th, with at least MIN_BEYOND samples strictly
    beyond its rank. With fewer than 2 * MIN_BEYOND samples no percentile
    from the 50th up qualifies, and the maximum is returned with zero."""
    n = len(values)
    if n < 2 * MIN_BEYOND:
        return 100.0, (max(values) if values else None), 0
    p = min(99, (100 * (n - MIN_BEYOND)) // n)
    rank = -(-n * p // 100)
    return float(p), percentile(values, p), int(n - rank)


def spread(values):
    """Inter-quartile distance as a share of the median (the run-to-run
    spread the acceptance rule uses)."""
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)
