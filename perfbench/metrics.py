"""Pure metric rules of the benchmark (unit-tested in perfbench/tests)."""
import math
import statistics


def tail_percentile(samples, min_beyond=10):
    """Highest integer percentile (nearest-rank) with at least
    `min_beyond` samples strictly after its rank.

    Returns (percentile, value, n). With fewer than 2 * min_beyond
    samples no percentile from the median up qualifies; the largest sample
    is returned then, as percentile 100.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    best = None
    for p in range(50, 100):
        rank = max(1, math.ceil(p * n / 100))
        if n - rank >= min_beyond:
            best = (p, xs[rank - 1])
    if best is None:
        return 100, xs[-1], n
    return best[0], best[1], n


def tail_latency(per_op, min_beyond=10):
    """The tail rule over every sample of `per_op` ({op: [wall times]}).

    With too few samples for the rule, the slowest op's median is
    returned instead, as percentile 100: one noisy sample moves the
    largest sample far more than it moves any op's median.
    Returns (percentile, value, n).
    """
    p, value, n = tail_percentile([x for xs in per_op.values() for x in xs], min_beyond)
    if p == 100:
        value = max(statistics.median(xs) for xs in per_op.values())
    return p, value, n


def account(measured, check_failed):
    """Failure accounting over the measured ops.

    `measured` is a list of op records ({"name", "status"}), one per
    attempt; `check_failed` the set of entry names whose result did not
    match the oracle. An op fails if it timed out, raised, or is an entry
    with a mismatching result. Returns (attempted, failed, by_reason).
    """
    reasons = {"timeout": 0, "error": 0, "mismatch": 0}
    for r in measured:
        if r["status"] in ("timeout", "error"):
            reasons[r["status"]] += 1
        elif r["name"] in check_failed:
            reasons["mismatch"] += 1
    return len(measured), sum(reasons.values()), reasons


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0
