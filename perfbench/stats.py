"""Statistics the benchmark reports: medians, percentiles and the tail rule."""

# percentiles the tail metric may report, lowest first
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def percentile(xs, p):
    """Linear-interpolation percentile (numpy's default), p in [0, 100]."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    pos = (len(s) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(n):
    """The highest ladder percentile with at least TAIL_MIN_BEYOND of n
    samples beyond it (p90 for 125 samples, p75 for 41); p50 when even
    the median has fewer."""
    best = TAIL_LADDER[0]
    for p in TAIL_LADDER:
        # in per-mille so that e.g. 100 samples beyond p90 count exactly 10
        if n * (1000 - round(p * 10)) >= TAIL_MIN_BEYOND * 1000:
            best = p
    return best


def tail(xs):
    """(percentile, value) of the tail rule over xs."""
    p = tail_percentile(len(xs))
    return p, percentile(xs, p)


def failed_frac(attempted, failed):
    """Failed or wrong operations as a share of those attempted."""
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError("failed must be within [0, attempted]")
    return failed / attempted
