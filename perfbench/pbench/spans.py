"""Self time of traced spans: a span's duration minus the part of its
interval that its children cover (overlapping children count once)."""
from collections import defaultdict


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_a is None:
            cur_a, cur_b = a, b
        elif a <= cur_b:
            cur_b = max(cur_b, b)
        else:
            total += cur_b - cur_a
            cur_a, cur_b = a, b
    if cur_a is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """{span id: self time} for spans given as dicts with id, parent,
    start, end."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] >= 0:
            children[s["parent"]].append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            covered(children[s["id"]], s["start"], s["end"]) for s in spans}


def by_layer(spans):
    """{layer: (total self ms, span count)}."""
    st = self_times(spans)
    out = defaultdict(lambda: [0.0, 0])
    for s in spans:
        out[s["layer"]][0] += st[s["id"]]
        out[s["layer"]][1] += 1
    return {k: tuple(v) for k, v in out.items()}
