"""Folds the spans of a traced run into per-layer self times.

Each span is (op, name, start_us, end_us). The root span of an op is
named "op". A span's parent is the shortest other span of the same op
of another layer that contains it (Spark reports jobs and planning phases in whole
milliseconds, so containment allows TOL_US of slack, and the child is then
clipped to its parent). A layer's self time is the time its spans cover
minus the time their children cover. The root's and `spark.action`'s self
time is driver time no Spark layer accounts for.
"""
from collections import defaultdict

TOL_US = 1000

LAYER = {
    "op": "driver.other",
    "spark.action": "driver.other",
    "operators.construct": "operators.construct",
    "spark.plan.analysis": "spark.plan.analysis",
    "spark.plan.optimization": "spark.plan.optimizer",
    "spark.plan.planning": "spark.plan.planning",
    "spark.job": "spark.exec.job_wall",
}


def _union(iv):
    out = []
    for s, e in sorted(iv):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        elif e > s:
            out.append([s, e])
    return out


def _measure(iv):
    return sum(e - s for s, e in _union(iv))


def _minus(a, b):
    """Measure of union(a) minus union(b)."""
    ua, ub = _union(a), _union(b)
    cut = 0
    for s, e in ua:
        for bs, be in ub:
            lo, hi = max(s, bs), min(e, be)
            if hi > lo:
                cut += hi - lo
    return sum(e - s for s, e in ua) - cut


def fold_op(spans):
    """Self time per layer (seconds) of one op, plus its wall and the
    number of jobs launched while the op was constructing its DataFrame."""
    root = next(s for s in spans if s[1] == "op")
    rest = [s for s in spans if s is not root]
    order = {id(s): i for i, s in enumerate([root] + sorted(rest, key=lambda s: (s[2], -s[3])))}
    nodes = [root] + rest
    parent, iv = {}, {id(root): (root[2], root[3])}

    def dur(s):
        return s[3] - s[2]

    def layer(s):
        return LAYER.get(s[1], s[1])

    for c in sorted(rest, key=lambda s: -dur(s)):
        best = root
        for p in nodes:
            if p is c or (p is not root and layer(p) == layer(c)):
                continue
            if p[2] > c[2] + TOL_US or p[3] < c[3] - TOL_US:
                continue
            if not (dur(p) > dur(c) or (dur(p) == dur(c) and order[id(p)] < order[id(c)])):
                continue
            if dur(p) < dur(best) or (dur(p) == dur(best) and order[id(p)] > order[id(best)]):
                best = p
        parent[id(c)] = best
    # clip top-down so every child lies inside its (already clipped) parent
    for c in sorted(rest, key=lambda s: (-dur(s), order[id(s)])):
        ps, pe = iv[id(parent[id(c)])]
        iv[id(c)] = (min(max(c[2], ps), pe), max(min(c[3], pe), ps))
    by_layer = defaultdict(lambda: ([], []))
    for s in nodes:
        by_layer[layer(s)][0].append(iv[id(s)])
    for c in rest:
        p = parent[id(c)]
        if layer(p) != layer(c):
            by_layer[layer(p)][1].append(iv[id(c)])
    layers = {k: _minus(own, kids) / 1e6 for k, (own, kids) in by_layer.items()}

    def under_construct(s):
        p = parent.get(id(s))
        while p is not None:
            if p[1] == "operators.construct":
                return True
            p = parent.get(id(p))
        return False

    eager = sum(1 for s in rest if s[1] == "spark.job" and under_construct(s))
    return layers, dur(root) / 1e6, eager


def fold(spans):
    """op -> (layers, wall_s, eager_jobs) for every op that has a root span."""
    per_op = defaultdict(list)
    for s in spans:
        per_op[s[0]].append(tuple(s))
    return {op: fold_op(ss) for op, ss in per_op.items() if any(s[1] == "op" for s in ss)}


def layer_sum_coverage(folded, tolerance=0.10):
    """Share of ops whose layer self times sum to within `tolerance` of
    the op's wall."""
    if not folded:
        return 0.0
    ok = sum(1 for layers, wall, _ in folded.values()
             if wall > 0 and abs(sum(layers.values()) - wall) <= tolerance * wall)
    return ok / len(folded)
