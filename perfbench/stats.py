"""Summary statistics and trace arithmetic for the benchmark.

Spans come from the harness as dicts with `id`, `parent`, `kind`, `name`,
`start_us`, `end_us` and `counters`. A span's self time is its duration minus
the part of its interval that its children cover (children may overlap each
other, e.g. concurrent STORE jobs, so their union is taken).
"""
import statistics


def median(xs):
    return statistics.median(xs)


def spread(xs):
    """Inter-quartile distance over the median, as the acceptance rule takes it."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def tail_percentile(xs):
    """(p, value) for the highest percentile with at least ten samples above
    it, or None when there are fewer than 20 samples."""
    n = len(xs)
    if n < 20:
        return None
    return 100 * (n - 10) // n, sorted(xs)[n - 11]


def overhead_ratio(passes):
    """Tracing overhead of a run whose timed passes (numbered from 1)
    alternate untraced and traced: the median over traced passes of the
    pass's wall over the mean wall of the untraced passes just before and
    after it. Taking both neighbours cancels a steady warm-up slope."""
    by_n = {p["pass"]: p for p in passes if p["pass"] > 0}
    ratios = []
    for p in by_n.values():
        if p["traced"]:
            near = [by_n[n]["wall_s"] for n in (p["pass"] - 1, p["pass"] + 1)
                    if n in by_n and not by_n[n]["traced"]]
            if near:
                ratios.append(p["wall_s"] / (sum(near) / len(near)))
    return median(ratios)


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def children_of(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def closed(s):
    return s["end_us"] >= s["start_us"]


def self_time_us(span, kids):
    """Duration of `span` not covered by any of its children."""
    own = span["end_us"] - span["start_us"]
    cover = union_length([(c["start_us"], c["end_us"]) for c in kids.get(span["id"], []) if closed(c)],
                         span["start_us"], span["end_us"])
    return own - cover


def self_times(spans):
    """Seconds of self time per span kind."""
    kids = children_of(spans)
    out = {}
    for s in spans:
        if closed(s):
            out[s["kind"]] = out.get(s["kind"], 0.0) + self_time_us(s, kids) / 1e6
    return out


def descendants(root_id, kids):
    stack, out = [root_id], []
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c["id"])
    return out
