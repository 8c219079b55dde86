"""The benchmark's arithmetic: quartiles, the tail-latency rule, span self
time, and the run-set comparison verdict. Kept free of I/O so
``connbench/tests`` can pin each rule."""

import statistics

MIN_BEYOND = 10


def quartiles(values):
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else 0.0


def tail(latencies, beyond=MIN_BEYOND):
    """Latency at the highest percentile that still has at least
    ``beyond`` ops above it: the (beyond+1)-th largest value.

    Returns (value, percentile, op count), or None with too few ops."""
    n = len(latencies)
    if n <= beyond:
        return None
    k = n - beyond - 1
    return sorted(latencies)[k], 100.0 * (k + 1) / n, n


def self_times(spans):
    """Per span name: (count, total ms, self ms). A span's self time is its
    duration minus the part of it its children cover; overlapping children
    are merged so no instant is subtracted twice."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered, cur_lo, cur_hi = 0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(lo, c["start_ns"]), min(hi, c["end_ns"])
            if a >= b:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        n, total, own = out.get(s["name"], (0, 0.0, 0.0))
        out[s["name"]] = (n + 1, total + (hi - lo) / 1e6,
                          own + (hi - lo - covered) / 1e6)
    return out


def _better(x, y, better):
    """True when x reads better than y."""
    return x < y if better == "lower" else x > y


def win_rate(parent, change, better):
    """Share of (parent, change) pairs the change wins; ties win nothing."""
    pairs = list(zip(parent, change))
    if not pairs:
        return 0.0
    return sum(_better(c, p, better) for p, c in pairs) / len(pairs)


def verdict(parent, change, better, bound, parent_failed=0.0,
            change_failed=0.0):
    """Verdict for one workload x metric from two run sets, paired by
    position:

    - improved: the change wins at least 9/10 of the pairs, its median is
      better by more than the parent's own inter-quartile distance, and no
      more ops fail than at the parent;
    - unresolved: either side's spread is wider than the bound, unless
      every change run reads better than every parent run;
    - worse: the change's median is worse than the parent's by more than
      ``bound`` (a share of the parent's median);
    - no worse within bound: otherwise.
    """
    p_q1, p_med, p_q3 = quartiles(parent)
    _, c_med, _ = quartiles(change)
    if (win_rate(parent, change, better) >= 0.9
            and _better(c_med, p_med, better)
            and abs(c_med - p_med) > p_q3 - p_q1
            and change_failed <= parent_failed):
        return "improved"
    if max(spread(parent), spread(change)) > bound:
        if all(_better(c, p, better) for c in change for p in parent):
            return "no worse within bound"
        return "unresolved"
    worse_by = (c_med - p_med) if better == "lower" else (p_med - c_med)
    if p_med and worse_by / abs(p_med) > bound:
        return "worse"
    return "no worse within bound"
