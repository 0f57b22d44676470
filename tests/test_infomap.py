"""Infomap (map-equation minimization) — operators/infomap.py.

Oracle strategy: L is computable in closed form for any partition
(pure-python replica of src/FlowPartition.jl:191-198 below), so the
6-node fixture is checked against the GLOBAL minimum over all 203
set-partitions — stronger than matching one greedy trajectory.
"""

import itertools
import math

import pytest

from communitydetection_jl_spark.operators.compare import nmi
from communitydetection_jl_spark.operators.infomap import (
    _local_infomap,
    infomap,
)
from communitydetection_jl_spark.operators.objectives import map_equation
from communitydetection_jl_spark.sources import fixtures as fx


def _plogp(x):
    return x * math.log(x) if x > 0 else 0.0


def _codelength(pairs, comm):
    """Pure-python undirected map equation on unit-weight edge pairs."""
    nodes = sorted({u for e in pairs for u in e})
    m = len(pairs)
    deg = {u: 0 for u in nodes}
    for u, v in pairs:
        deg[u] += 1
        deg[v] += 1
    p = {u: deg[u] / (2 * m) for u in nodes}
    comms = set(comm.values())
    p_c = {c: sum(p[u] for u in nodes if comm[u] == c) for c in comms}
    q_c = {c: 0.0 for c in comms}
    for u, v in pairs:
        if comm[u] != comm[v]:
            q_c[comm[u]] += 1 / (2 * m)
            q_c[comm[v]] += 1 / (2 * m)
    sum_q = sum(q_c.values())
    return (
        _plogp(sum_q)
        - 2 * sum(_plogp(q) for q in q_c.values())
        - sum(_plogp(x) for x in p.values())
        + sum(_plogp(q_c[c] + p_c[c]) for c in comms)
    )


def _all_partitions(items):
    if not items:
        yield []
        return
    first, rest = items[0], items[1:]
    for part in _all_partitions(rest):
        for i in range(len(part)):
            yield part[:i] + [[first] + part[i]] + part[i + 1:]
        yield [[first]] + part


TT_PAIRS = [(1, 2), (2, 3), (1, 3), (1, 4), (4, 5), (5, 6), (4, 6)]


def _global_min_L():
    best = (float("inf"), None)
    for part in _all_partitions(list(range(1, 7))):
        comm = {u: i for i, blk in enumerate(part) for u in blk}
        L = _codelength(TT_PAIRS, comm)
        if L < best[0]:
            best = (L, comm)
    return best


def test_local_infomap_two_triangles_global_min():
    m = len(TT_PAIRS)
    p = {}
    for u, v in TT_PAIRS:
        p[u] = p.get(u, 0.0) + 1 / (2 * m)
        p[v] = p.get(v, 0.0) + 1 / (2 * m)
    arcs = [(u, v, 1 / (2 * m)) for u, v in TT_PAIRS]
    comm = _local_infomap(arcs, p)
    got = _codelength(TT_PAIRS, comm)
    want, _ = _global_min_L()
    assert got == pytest.approx(want, abs=1e-9)
    # and the argmin is the two triangles
    assert len({comm[1], comm[2], comm[3]}) == 1
    assert len({comm[4], comm[5], comm[6]}) == 1
    assert comm[1] != comm[4]


def test_infomap_two_triangles(spark):
    edges, truth = fx.two_triangles(spark)
    res = infomap(edges)
    assert nmi(res.membership, truth) == pytest.approx(1.0)
    want, _ = _global_min_L()
    assert res.codelength == pytest.approx(want, abs=1e-9)
    # result codelength IS the recomputed quality of the membership
    assert res.codelength == pytest.approx(
        map_equation(edges, res.membership), abs=1e-12
    )


def test_infomap_distributed_path(spark):
    """local_threshold=0 forces the bulk sweep machinery end-to-end.

    Bulk-parallel greedy can land in a local optimum on degenerate toy
    graphs (like any parallel Louvain — the driver-local exact phase
    owns small graphs in production); on clique structure it must
    recover the planted partition exactly, and on the toy it must at
    least converge to a valid, no-worse-than-singleton partition."""
    edges, truth = fx.ring_of_cliques(spark)
    res = infomap(edges, local_threshold=0)
    assert nmi(res.membership, truth) == pytest.approx(1.0)

    e2, _ = fx.two_triangles(spark)
    res2 = infomap(e2, local_threshold=0)
    singleton = map_equation(
        e2, e2.sparkSession.range(1, 7).selectExpr("id", "id as comm")
    )
    assert res2.codelength <= singleton + 1e-12
    assert res2.membership.count() == 6


def test_infomap_keeps_isolated_communities(spark):
    """A community with no external arcs (an absorbed connected
    component) must survive the level collapse: the flow collapse keeps
    only inter-community arcs, so such a community has flows but no
    arcs at the next level — seeding the coarse membership from the arc
    endpoints (the pre-fix behavior) silently dropped its members from
    the final partition. Two linked cliques + one disconnected clique:
    the disconnected clique's community has zero inter arcs after the
    first collapse, and every one of its vertices must still appear in
    the final membership."""
    rows = []
    # cliques A = 1..6, B = 7..12 linked by one edge; C = 13..18 apart
    for base in (0, 6, 12):
        ids = list(range(base + 1, base + 7))
        rows += [(a, b) for a in ids for b in ids if a < b]
    rows.append((1, 7))  # A-B bridge keeps level-1 arcs non-empty
    edges = spark.createDataFrame(
        [(a, b, 1.0) for a, b in rows], "src long, dst long, weight double"
    )
    res = infomap(edges, local_threshold=0)
    got_ids = {r.id for r in res.membership.collect()}
    assert got_ids == set(range(1, 19))
    # the disconnected clique stays one community of its own
    c_comms = {r.comm for r in res.membership.filter("id >= 13").collect()}
    assert len(c_comms) == 1
    other = {r.comm for r in res.membership.filter("id < 13").collect()}
    assert c_comms.isdisjoint(other)


def test_infomap_karate(spark):
    edges, _ = fx.karate(spark)
    res = infomap(edges)
    n_comms = res.membership.select("comm").distinct().count()
    # canonical Infomap on karate: 3 modules, L ≈ 4.31 bits ≈ 2.99 nats;
    # accept the greedy landing close (deterministic order may differ)
    assert 2 <= n_comms <= 5
    singleton = map_equation(
        edges, edges.sparkSession.range(1, 35).selectExpr("id", "id as comm")
    )
    assert res.codelength < singleton - 0.5
    assert res.codelength == pytest.approx(
        map_equation(edges, res.membership), abs=1e-9
    )


def test_infomap_weight_invariance(spark):
    """Uniform weight scaling must not change the argmin membership
    (all probs are w/2m ratios)."""
    from pyspark.sql import functions as F

    edges, truth = fx.two_triangles(spark)
    scaled = edges.withColumn("weight", F.lit(7.5))
    res = infomap(scaled)
    assert nmi(res.membership, truth) == pytest.approx(1.0)


# ----------------------------------------------------------------------
# Directed Infomap with teleport (src/DiFlowPartition.jl semantics)
# ----------------------------------------------------------------------

# two directed 3-cycles bridged by 1→4, plus a dangling sink 3→7
DIR_ARCS = [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (1, 4), (3, 7)]


def _dir_pagerank(arcs, nodes, tau=0.15, tol=1e-13):
    """Engine-semantics PageRank (src/DiFlowGraph.jl:50-85): teleport
    mass τ, dangling mass redistributed with follow weight."""
    n = len(nodes)
    out = {u: [] for u in nodes}
    for u, v in arcs:
        out[u].append(v)
    p = {u: 1.0 / n for u in nodes}
    d = 1.0 - tau
    while True:
        dang = sum(p[u] for u in nodes if not out[u])
        msg = {u: 0.0 for u in nodes}
        for u in nodes:
            for v in out[u]:
                msg[v] += p[u] / len(out[u])
        p2 = {u: tau / n + d * dang / n + d * msg[u] for u in nodes}
        delta = sum(abs(p2[u] - p[u]) for u in nodes)
        p = p2
        if delta <= tol:
            return p


def _dir_codelength(arcs, nodes, comm, tau=0.15):
    """Pure-python directed map equation with teleport/dangling terms
    (objectives.map_equation_directed formula, independent derivation)."""
    n = len(nodes)
    p = _dir_pagerank(arcs, nodes, tau)
    out = {u: [] for u in nodes}
    for u, v in arcs:
        out[u].append(v)
    comms = set(comm.values())
    n_c = {c: sum(1 for u in nodes if comm[u] == c) for c in comms}
    p_c = {c: sum(p[u] for u in nodes if comm[u] == c) for c in comms}
    iso_c = {c: sum(p[u] for u in nodes if comm[u] == c and not out[u]) for c in comms}
    flow_c = {c: 0.0 for c in comms}
    for u in nodes:
        for v in out[u]:
            if comm[u] != comm[v]:
                flow_c[comm[u]] += p[u] / len(out[u])
    q_c = {}
    for c in comms:
        frac = (n - n_c[c]) / n
        q_c[c] = tau * frac * p_c[c] + (1 - tau) * (flow_c[c] + frac * iso_c[c])
    sum_q = sum(q_c.values())
    return (
        _plogp(sum_q)
        - 2 * sum(_plogp(q) for q in q_c.values())
        - sum(_plogp(p[u]) for u in nodes)
        + sum(_plogp(q_c[c] + p_c[c]) for c in comms)
    )


def _dir_global_min():
    nodes = list(range(1, 8))
    best = (float("inf"), None)
    for part in _all_partitions(nodes):
        comm = {u: i for i, blk in enumerate(part) for u in blk}
        L = _dir_codelength(DIR_ARCS, nodes, comm)
        if L < best[0]:
            best = (L, comm)
    return best


def test_infomap_directed_global_min(spark):
    """infomap_directed must hit the global-minimum codelength over all
    877 partitions of the 7-node directed fixture, and its reported
    codelength (map_equation_directed) must match the independent
    pure-python derivation."""
    best_L, best_comm = _dir_global_min()
    edges = spark.createDataFrame(
        [(u, v, 1.0) for u, v in DIR_ARCS], "src long, dst long, weight double"
    )
    from communitydetection_jl_spark.operators.infomap import infomap_directed

    res = infomap_directed(edges)
    assert res.codelength == pytest.approx(best_L, abs=1e-6)
    got = {r.id: r.comm for r in res.membership.collect()}
    truth = spark.createDataFrame(list(best_comm.items()), "id long, comm long")
    assert nmi(res.membership, truth) == pytest.approx(1.0)


def test_infomap_directed_distributed_path(spark):
    """Force the distributed directed sweep (local_threshold=0)."""
    edges = spark.createDataFrame(
        [(u, v, 1.0) for u, v in DIR_ARCS], "src long, dst long, weight double"
    )
    from communitydetection_jl_spark.operators.infomap import infomap_directed

    res = infomap_directed(edges, local_threshold=0, max_sweeps=30)
    # with the exact local polish disabled (local_threshold=0), bulk
    # parity sweeps can stop at a single-move plateau on a 7-node graph
    # (production thresholds always hand coarse graphs to the exact
    # phase); the sweeps must still strictly beat singletons by merging
    nodes = list(range(1, 8))
    singles = _dir_codelength(DIR_ARCS, nodes, {u: u for u in nodes})
    assert res.codelength < singles
    assert res.membership.select("comm").distinct().count() < len(nodes)
    # the shared sweep loop's per-level diagnostics, and its stop rule:
    # two quiet sweeps (move floor 0.01·7 → no mover) or the cap
    dist = [h for h in res.history if h["mode"] == "distributed"]
    assert dist
    for h in dist:
        assert h["sweeps"] == len(h["sweep_moved"]) == len(h["sweep_seconds"])
        assert h["parts"] >= 4 and h["n"] >= h["q"]
        assert h["sweep_moved"][-2:] == [0, 0] or h["sweeps"] == 30


def test_infomap_det_sweep_params(spark):
    """The det-mode sweep knobs (parity_expr + score_round) used by the
    infomap_det driver oracle: an id-parity gate with a quantized
    decision score must still run the bulk sweep to a valid partition,
    and quantizing at 5 decimals must not change the moves on clique
    structure (gains there are orders of magnitude above the 1e-5
    quantum) — the unquantized xxhash-gated run and the det-mode run
    both recover the planted partition."""
    from pyspark.sql import functions as F

    from communitydetection_jl_spark.functions.graph import canonicalize_undirected
    from communitydetection_jl_spark.operators.infomap import (
        _distributed_level,
        _flow_graph,
    )

    edges, truth = fx.ring_of_cliques(spark)
    arcs, flows, _ = _flow_graph(canonicalize_undirected(edges))
    det, info = _distributed_level(
        arcs, flows, eps=1e-6, max_sweeps=10, move_floor=0.0,
        parity_expr=F.pmod(F.col("id"), F.lit(2)), score_round=5)
    assert info["sweeps"] == len(info["sweep_moved"])
    assert info["sweep_moved"][-2:] == [0, 0] or info["sweeps"] == 10
    assert nmi(det.select("id", "comm"), truth) == pytest.approx(1.0)
