"""Statistics helpers shared by run.py and compare.py (tested in test_stats.py)."""
import statistics

TAIL_BEYOND = 10


def median(values):
    return statistics.median(values)


def tail(values, beyond=TAIL_BEYOND):
    """The highest percentile that still has `beyond` samples above it,
    but never below the upper median.

    Returns (value, percentile, sample_count), where percentile is the share
    of samples at or below the returned one. With n sorted samples the value
    at index n - beyond - 1 has exactly `beyond` samples above it; when that
    index falls below n // 2 (fewer than 2 * beyond + 1 samples) the upper
    median is returned instead, so a tail never reads below the median.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    i = max(n - beyond - 1, n // 2)
    return xs[i], 100.0 * (i + 1) / n, n


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def win_share(a, b, better="lower"):
    """Share of all (a_i, b_j) pairs in which b is better than a (a tie is
    no win)."""
    if not a or not b:
        raise ValueError("win share needs samples on both sides")
    wins = sum(1 for x in a for y in b if (y < x if better == "lower" else y > x))
    return wins / (len(a) * len(b))


def failed_frac(attempted, failed):
    """Failed or wrong operations over attempted ones."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError("failed must lie in [0, attempted]")
    return failed / attempted
