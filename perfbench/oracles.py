"""Reference results the benchmark checks the engine's outputs against.

All of them run outside the timed region: NumPy for PageRank, LPA and
modularity, DuckDB for triangle counts. Connected components come from
``gen.components_of``.
"""

from __future__ import annotations

import duckdb
import numpy as np


def pagerank(src, dst, w, damping: float = 0.85, tol: float = 1e-13):
    """(ids, p): power iteration with the engine's semantics — weighted
    transition w / out-weight(src), dangling mass spread uniformly."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = inv[: src.size], inv[src.size:]
    n = ids.size
    outw = np.bincount(s, weights=w, minlength=n)
    tp = w / outw[s]
    dangling = outw == 0
    p = np.full(n, 1.0 / n)
    for _ in range(10_000):
        nxt = (1 - damping) / n + damping * p[dangling].sum() / n \
            + damping * np.bincount(d, weights=tp * p[s], minlength=n)
        delta = np.abs(nxt - p).sum()
        p = nxt
        if delta <= tol:
            break
    return ids, p


def lpa(src, dst, ids, parity, max_iter: int):
    """(labels, movers per superstep) of unit-vote LPA as the engine
    runs it: identity labels; each arc heard in both directions (a
    self-loop once); at superstep t (from 0) only vertices whose
    ``parity`` is t % 2 move, each to its most heard label, ties to its
    own label, then to the smallest; stop after two consecutive
    zero-mover supersteps or ``max_iter``. ``ids`` is sorted, so a label
    is kept as the index of the vertex it names."""
    n = ids.size
    s, d = np.searchsorted(ids, src), np.searchsorted(ids, dst)
    off = s != d
    listener, speaker = np.concatenate([s, d[off]]), np.concatenate([d, s[off]])
    lab = np.arange(n)
    movers = []
    for t in range(max_iter):
        act = parity[listener] == t % 2
        key, cnt = np.unique(listener[act] * n + lab[speaker[act]], return_counts=True)
        who, lbl = key // n, key % n
        order = np.lexsort((lbl, lbl != lab[who], -cnt, who))
        first = order[np.r_[True, who[order][1:] != who[order][:-1]]]
        new = lab.copy()
        new[who[first]] = lbl[first]
        movers.append(int(np.count_nonzero(new != lab)))
        lab = new
        if movers[-2:] == [0, 0]:
            break
    return ids[lab], movers


def first_seen(labels):
    """Renumber a labelling (over sorted ids) as the engine's
    ``permute_labels`` does: the community of the smallest id is 1, the
    next new community 2, and so on."""
    _, first, inv = np.unique(labels, return_index=True, return_inverse=True)
    return np.argsort(np.argsort(first))[inv] + 1


def modularity(src, dst, w, ids, labels) -> float:
    """Undirected weighted Q = sum_c e_c/2m - (a_c/2m)^2 of the labelling
    (ids sorted); arcs with an unlabelled end are left out, as the
    engine's joins leave them out."""
    ps, pd = np.searchsorted(ids, src), np.searchsorted(ids, dst)
    ps, pd = np.minimum(ps, ids.size - 1), np.minimum(pd, ids.size - 1)
    keep = (ids[ps] == src) & (ids[pd] == dst)
    cs, cd, w = labels[ps[keep]], labels[pd[keep]], w[keep]
    m = w.sum()
    if m <= 0:
        return 0.0
    _, c = np.unique(np.concatenate([cs, cd]), return_inverse=True)
    cs, cd = c[: cs.size], c[cs.size:]
    e = np.bincount(cs[cs == cd], weights=2 * w[cs == cd], minlength=c.max() + 1)
    a = np.bincount(cs, weights=w, minlength=c.max() + 1) \
        + np.bincount(cd, weights=w, minlength=c.max() + 1)
    return float((e / (2 * m)).sum() - ((a / (2 * m)) ** 2).sum())


_TRIANGLES_SQL = """
with e as (
    select distinct least(src, dst) as u, greatest(src, dst) as v
    from read_parquet('{path}/*.parquet') where src <> dst
),
deg as (
    select x as id, count(*) as d
    from (select u as x from e union all select v from e) group by x
),
o as (  -- orient each edge from lower to higher (degree, id)
    select case when (du.d, e.u) < (dv.d, e.v) then e.u else e.v end as a,
           case when (du.d, e.u) < (dv.d, e.v) then e.v else e.u end as b
    from e join deg du on du.id = e.u join deg dv on dv.id = e.v
),
t as (
    select o1.a as x, o1.b as y, o2.b as z
    from o o1 join o o2 on o1.a = o2.a and o1.b <> o2.b
    join o o3 on o3.a = o1.b and o3.b = o2.b
)
select id, count(*) as triangles
from (select x as id from t union all select y from t union all select z from t)
group by id
"""


def triangle_counts(path: str) -> dict[int, int]:
    """Per-vertex triangle counts of the parquet edge table at ``path``
    (vertices in no triangle are absent)."""
    con = duckdb.connect()
    try:
        con.execute("set threads to 2")
        rows = con.execute(_TRIANGLES_SQL.format(path=path)).fetchall()
    finally:
        con.close()
    return dict(rows)
