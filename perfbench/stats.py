"""Statistics for the benchmark's metrics, kept apart from run.py so the
self-test in tests/test_stats.py can pin them without a JVM."""


def tail(values, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile): the (beyond+1)-th largest sample and the
    share of samples at or below it. None when there are too few samples
    for any percentile to have `beyond` samples above it.
    """
    n = len(values)
    if n <= beyond:
        return None
    ordered = sorted(values)
    return ordered[n - beyond - 1], 100.0 * (n - beyond) / n


def failures(ops):
    """(attempted, failed) over operation records; an operation fails when
    it raised or its output did not match, and either way its time is not
    a sample."""
    attempted = len(ops)
    failed = sum(1 for op in ops if op.get("error") is not None)
    return attempted, failed


def latencies(ops):
    """Latencies of the operations that succeeded, in seconds."""
    return [op["end"] - op["start"] for op in ops if op.get("error") is None]


def union_length(intervals, lo, hi):
    """Length of the union of `intervals`, each clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
