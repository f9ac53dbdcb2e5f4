"""Statistics the benchmark reports: percentile support, per-layer self time, and the
result's error accounting."""
import statistics


def supported_percentile(n, choices=(99, 95, 90, 80, 75, 50)):
    """The highest percentile in `choices` with at least ten of n samples beyond it,
    or None when even the median has fewer than ten samples above it."""
    for p in sorted(choices, reverse=True):
        if n * (100 - p) / 100 >= 10:
            return p
    return None


def median(values):
    return statistics.median(values)


def mean(values):
    return statistics.fmean(values)


def _union(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_of(span_name):
    return span_name.split(".", 1)[0]


def self_times(spans):
    """Per-layer self time and call count.

    spans: (id, name, start, end, parent, op) tuples. A span's self time is its
    duration minus the union of its children's intervals, each clipped to the
    span's own interval (children may overlap each other).
    Returns {layer: (self_time, calls)} in the spans' time unit."""
    children = {}
    for sp in spans:
        children.setdefault(sp[4], []).append(sp)
    out = {}
    for sp_id, name, start, end, _parent, _op in spans:
        kids = [(max(s, start), min(e, end)) for _, _, s, e, _, _ in children.get(sp_id, [])
                if min(e, end) > max(s, start)]
        own = (end - start) - _union(kids)
        t, c = out.get(layer_of(name), (0, 0))
        out[layer_of(name)] = (t + own, c + 1)
    return out


def outcome(ops_ok, wrong):
    """The result's accounting from each attempted operation's success flag and the
    number of wrong outputs the checks found: a failed operation and a wrong output
    each count once against the operations attempted."""
    attempted = len(ops_ok)
    if attempted == 0:
        raise ValueError("nothing attempted")
    failed = sum(1 for ok in ops_ok if not ok) + wrong
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "error_rate": failed / attempted}
