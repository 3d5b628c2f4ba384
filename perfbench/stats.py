"""Order statistics the benchmark reports."""
import statistics


def tail(by_stmt):
    """The latency at the highest percentile that still has at least ten
    samples beyond it, as (value, percentile, n), over every sample of
    `by_stmt` (statement id -> its latencies). With n samples sorted
    ascending that is the 11th largest, at percentile 100 * (n - 10) / n.
    Below 21 samples that percentile is under the median and no longer
    describes a tail; the slowest statement's median latency is returned
    instead, at percentile 100. (The single largest sample would do, but
    it is one draw of host noise and moves 10-20% between runs.)"""
    s = sorted(x for xs in by_stmt.values() for x in xs)
    n = len(s)
    if n <= 20:
        return max(statistics.median(xs) for xs in by_stmt.values()), 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n
