"""The tail-percentile rule of the benchmark's latency metrics."""


def tail(xs):
    """The highest percentile with at least ten samples beyond it.

    Returns (percentile, value). With n samples sorted ascending, the sample
    at 1-based rank n - 10 has exactly ten samples above it, so it marks the
    (n - 10) / n percentile. A tail is never below the median: with fewer
    than 20 samples no percentile from the 50th up has ten beyond it, and
    the tail is then the maximum, reported as percentile 100.
    """
    s = sorted(xs)
    n = len(s)
    if n < 20:
        return 100.0, s[-1]
    return 100.0 * (n - 10) / n, s[n - 11]
