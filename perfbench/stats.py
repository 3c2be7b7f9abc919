"""Summary statistics of one benchmark run, kept free of I/O so the
benchmark's tests can check them directly."""
import math


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


PERCENTILES = (99.9, 99, 95, 90, 75, 50)


def tail(samples, min_beyond=10):
    """Highest percentile in PERCENTILES with at least `min_beyond`
    samples strictly above its value (nearest-rank). Returns
    (percentile, value), or None when even the median lacks that many."""
    s = sorted(samples)
    n = len(s)
    for p in PERCENTILES:
        if n == 0:
            break
        idx = max(0, math.ceil(p / 100.0 * n) - 1)
        v = s[idx]
        if sum(1 for x in s if x > v) >= min_beyond:
            return p, v
    return None


def failures(calls, checks):
    """(attempted, failed): every call is one attempted operation; it
    failed if it raised, or if a failed check lists its op."""
    bad_ops = set()
    for c in checks:
        if not c["ok"]:
            bad_ops.update(c["ops"])
    failed = sum(1 for c in calls if not c["ok"] or c["op"] in bad_ops)
    return len(calls), failed


def unstable_digests(calls):
    """Ops whose successful measured calls (warm-up excluded: it may run
    on a slice of the input) did not all produce one digest."""
    seen = {}
    for c in calls:
        if c["ok"] and c.get("digest") and c["unit"] >= 0:
            seen.setdefault(c["op"], set()).add(c["digest"])
    return sorted(op for op, ds in seen.items() if len(ds) > 1)
