"""Order statistics and the pair rule shared by run.py and compare.py."""
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=10):
    """The highest percentile of `xs` with at least `beyond` samples
    above it: returns (value, percentile, sample count). With fewer than
    2 * `beyond` samples no percentile above the median qualifies, and
    the median is returned, at percentile 50."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 2 * beyond:
        return median(s), 50.0, n
    return s[n - 1 - beyond], 100.0 * (n - beyond) / n, n


def quartiles(xs):
    """(q1, median, q3) as `statistics.quantiles(xs, n=4)` gives them."""
    if len(xs) < 2:
        x = xs[0] if xs else 0.0
        return x, x, x
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else float("inf")


def worse(a, b, better):
    """True when value `a` is worse than `b` for a metric whose better
    direction is `better` ("lower" or "higher")."""
    return a > b if better == "lower" else a < b


def verdict(parent, change, better, bound):
    """Compare runs of one metric on one workload, run i of `parent`
    paired with run i of `change`.

    - "gain": the change wins at least 9 of 10 pairs (ties count for
      neither side) and the medians differ, in the better direction, by
      more than the parent's quartile distance;
    - "unresolved": either side's spread exceeds `bound`, and not every
      change run is better than every parent run;
    - "regressed": the change's median is worse than the parent's by
      more than `bound` of the parent's median;
    - "same" otherwise.
    """
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if worse(p, c, better))
    mp, mc = median(parent), median(change)
    q1, _, q3 = quartiles(parent)
    if pairs and wins >= 0.9 * len(pairs) and worse(mp, mc, better) \
            and abs(mc - mp) > q3 - q1:
        return "gain"
    all_better = all(worse(p, c, better) for p in parent for c in change)
    if max(spread(parent), spread(change)) > bound and not all_better:
        return "unresolved"
    if worse(mc, mp, better) and abs(mc - mp) > bound * abs(mp):
        return "regressed"
    return "same"
