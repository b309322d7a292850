"""The benchmark's arithmetic: percentiles, span self times, ratios and
the output checks' comparisons. Kept free of I/O so test_stats.py can
pin each rule."""
import math

MIN_BEYOND = 10


def percentile(values, q):
    """Percentile with linear interpolation between closest ranks, q in
    [0, 1]; q = 0.5 is the median."""
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_q(n, cap=0.9):
    """The highest percentile, at most `cap`, that leaves at least ten
    samples beyond it; the median when there are too few samples."""
    if n <= 0:
        raise ValueError("no samples")
    return max(0.5, min(cap, 1.0 - MIN_BEYOND / n))


def tail(values, cap=0.9):
    return percentile(values, tail_q(len(values), cap))


def median(values):
    return percentile(values, 0.5)


def union_ns(intervals):
    """Length of the union of [start, end) intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(iv, lo, hi):
    s, e = max(iv[0], lo), min(iv[1], hi)
    return (s, e) if e > s else None


def self_times(spans):
    """spans: dicts with id, parent, start, end. Returns {id: self ns}:
    a span's duration minus the union of its children's intervals,
    clipped to the span. Children may run concurrently and overlap, so
    the union is used, not the sum."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        iv = [c for c in (clip(k, s["start"], s["end"])
                          for k in kids.get(s["id"], [])) if c]
        out[s["id"]] = (s["end"] - s["start"]) - union_ns(iv)
    return out


def ratio(num, den):
    """num ÷ den; 1.0 when nothing was attempted (nothing was wasted)."""
    return 1.0 if den == 0 else num / den


def commit_ratio(rows_committed, rows_transmitted):
    """Rows committed ÷ rows transmitted: below 1 when rejected batches
    were re-sent."""
    return ratio(rows_committed, rows_transmitted)


def failed_ratio(failed, attempted):
    if attempted <= 0:
        raise ValueError("nothing attempted")
    return failed / attempted


def load_failures(table_ok, exit_code, expected_exit):
    """Tables of one CLI invocation counted as failed: every table when
    the exit code is not the expected one, else each failed check."""
    if exit_code != expected_exit:
        return len(table_ok)
    return sum(1 for ok in table_ok.values() if not ok)


def oracle_mismatches(counts, oracle):
    """Query names whose count differs from the oracle's count. Queries
    without an oracle are not compared; a failed query (count None) is
    always a mismatch."""
    bad = []
    for name, got in counts.items():
        if got is None or (name in oracle and oracle[name] != got):
            bad.append(name)
    return bad


def multiset_equal(a, b):
    from collections import Counter
    return Counter(map(tuple, a)) == Counter(map(tuple, b))
