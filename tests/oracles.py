"""NumPy re-derivations of the reference formulas — test oracles only.

Each function re-implements the cited CommunityDetection.jl semantics
from scratch on plain Python/NumPy structures; the PySpark operators are
compared against these on the fixture graphs (SURVEY.md §5).
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import numpy as np


def np_pagerank(arcs, tau=0.15, tol=1e-12, max_iter=1000):
    """Reference power iteration (src/DiFlowGraph.jl:50-85).

    arcs: list of (src, dst[, w]); returns dict id -> p.
    """
    nodes = sorted({a for a, b, *_ in arcs} | {b for a, b, *_ in arcs})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    outw = np.zeros(n)
    for a, b, *w in arcs:
        outw[idx[a]] += w[0] if w else 1.0
    trans = defaultdict(list)  # dst -> [(src, tp)]
    for a, b, *w in arcs:
        trans[idx[b]].append((idx[a], (w[0] if w else 1.0) / outw[idx[a]]))
    dangling = [i for i in range(n) if outw[i] == 0]
    p = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        dp = (1.0 - tau) * p[dangling].sum() / n if dangling else 0.0
        p1 = np.full(n, dp + tau / n)
        for u in range(n):
            for v, tp in trans[u]:
                p1[u] += (1.0 - tau) * tp * p[v]
        delta = np.abs(p1 - p).sum()
        p = p1
        if delta <= tol:
            break
    return {v: p[idx[v]] for v in nodes}


def np_lpa(pairs, parity, max_iter):
    """Unit-vote LPA under the engine's semi-synchronous schedule
    (operators/lpa.py), replayed vertex by vertex: identity labels;
    every arc (u, v) is heard both ways, a self-loop once, duplicates
    each time; at superstep t (from 0) only vertices whose ``parity``
    is t % 2 move, each to its most heard label, ties to its own label,
    then to the smallest; stop after two consecutive zero-mover
    supersteps or ``max_iter``. ``parity`` maps every vertex id to 0/1.

    Returns (id -> label renumbered first-seen as permute_labels does,
    movers per superstep)."""
    heard = defaultdict(list)  # listener -> speakers
    for a, b in pairs:
        heard[a].append(b)
        if a != b:
            heard[b].append(a)
    lab = {v: v for v in parity}
    movers = []
    for t in range(max_iter):
        new = dict(lab)
        for v, spk in heard.items():
            if parity[v] == t % 2:
                cnt = Counter(lab[s] for s in spk)
                new[v] = max(cnt, key=lambda c: (cnt[c], c == lab[v], -c))
        movers.append(sum(new[v] != lab[v] for v in lab))
        lab = new
        if movers[-2:] == [0, 0]:
            break
    first = {}
    for v in sorted(lab):
        first.setdefault(lab[v], len(first) + 1)
    return {v: first[lab[v]] for v in lab}, movers


def np_components(pairs):
    """Union-find components; returns dict id -> min id of component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def np_triangles(pairs):
    """Per-vertex triangle counts + per-edge common-neighbor counts
    (src/utils.jl:286-294, src/metrics.jl:201-219)."""
    adj = defaultdict(set)
    for a, b in pairs:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    tri = Counter()
    cn = {}
    for a, b in pairs:
        if a == b:
            continue
        common = adj[a] & adj[b]
        cn[(min(a, b), max(a, b))] = len(common)
        for c in common:
            pass
    # vertex triangle count = sum of cn over incident edges / 2
    inc = Counter()
    for (a, b), c in cn.items():
        inc[a] += c
        inc[b] += c
    for v in adj:
        tri[v] = inc[v] // 2
    return dict(tri), cn


def np_modularity(pairs_w, membership):
    """src/modularity.jl:3-54 (undirected, weighted)."""
    m = sum(w for _, _, w in pairs_w)
    e = Counter()
    a = Counter()
    for u, v, w in pairs_w:
        c1, c2 = membership[u], membership[v]
        if c1 == c2:
            e[c1] += 2 * w
        a[c1] += w
        a[c2] += w
    if m <= 0:
        return 0.0
    return sum(e[c] / (2 * m) - (a[c] / (2 * m)) ** 2 for c in a)


def np_nmi(la, lb):
    """src/nmi.jl:2-62 on two equal-length label lists."""
    n = len(la)
    ct = Counter(zip(la, lb))
    na = Counter(la)
    nb = Counter(lb)
    if len(na) == 1 and len(nb) == 1:
        return 0.0
    ha = sum((c / n) * math.log(c / n) for c in na.values())
    hb = sum((c / n) * math.log(c / n) for c in nb.values())
    iab = sum(
        (c / n) * math.log((c / n) / ((na[x] / n) * (nb[y] / n)))
        for (x, y), c in ct.items()
    )
    return -2.0 * iab / (ha + hb)
