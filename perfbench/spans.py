"""Span arithmetic for the traced run.

A span is (id, parent, name, start_ns, end_ns). A span's self time is its
duration minus the part of its interval that its child spans cover;
children may overlap each other and may stick out of the parent, so the
covered part is the union of the children's intervals clipped to the
parent.
"""
from collections import defaultdict


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans):
    """Self time in ns per span id."""
    children = defaultdict(list)
    for sid, parent, _, start, end in spans:
        children[parent].append((start, end))
    return {sid: (end - start) - covered(children[sid], start, end)
            for sid, _, _, start, end in spans}


def self_by_name(spans):
    """(total self ns, count) per span name."""
    names = {s[0]: s[2] for s in spans}
    out = defaultdict(lambda: [0, 0])
    for sid, ns in self_times(spans).items():
        out[names[sid]][0] += ns
        out[names[sid]][1] += 1
    return dict(out)


def ancestors(spans):
    """span id -> set of names on its path to the root, itself included."""
    ids = {s[0]: s for s in spans}
    memo = {0: frozenset()}

    def walk(sid):
        if sid not in memo:
            s = ids.get(sid)
            memo[sid] = frozenset() if s is None else walk(s[1]) | {s[2]}
        return memo[sid]

    for sid in ids:
        walk(sid)
    return memo
