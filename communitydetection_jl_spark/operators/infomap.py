"""Infomap: map-equation-minimizing community detection, Spark-first.

Reference lifecycle (entry point C): ``flow_partition(g[, w])`` →
``optimize_partition!`` with the Louvain skeleton run in *minimize*
mode (direction/termination flipped: src/FlowPartition.jl:21-22 vs
src/MPartition.jl:23-24), delta scoring diff_move
(src/FlowPartition.jl:147-188), collapse dropping intra-community
self-loops (src/FlowPartition.jl:207-252), quality = codelength
(src/FlowPartition.jl:191-198).

This engine re-derives it in the bulk multi-greedy discipline used by
operators/louvain.py (the reference's own parallel variant,
src/MultiGreedy.jl:1-34):

 1. **Distributed move phase**: one shuffle builds, for every vertex u
    and neighbor community c, the flow u sends to c
    (t_uc = w(u→c)/2m). Community stats (visit prob p_c, exit prob
    q_c) fall out of the SAME table — q_c = Σ_{u∈c}(t_u − t_{u,cu}) —
    so each sweep is one m-sized shuffle, one q-sized stats agg, one
    membership write. The per-candidate codelength delta

        ΔL(u→c) = Δplogp(Σq) − 2[Δplogp(q_cur) + Δplogp(q_new)]
                  + Δplogp(q_cur+p_cur) + Δplogp(q_new+p_new)

    with q_cur' = q_cur − t_u + 2·t_{u,cur},
         q_new' = q_new + t_u − 2·t_{u,new},
         p_cur' = p_cur − p_u, p_new' = p_new + p_u
    is a column expression (the bulk form of diff_move,
    src/FlowPartition.jl:147-188; the Σ_v plogp(p_v) term is constant
    under moves). Best *negative* ΔL per vertex wins; swap conflicts
    are broken by hash-parity gating as in louvain.py.
 2. **Collapse** by membership: coarse arcs = inter-community weights
    (intra self-loops dropped — they never touch q or p), coarse
    visit prob = community p_c carried forward; recurse.
 3. **Driver-local exact phase** below ``local_threshold`` edges:
    faithful sequential greedy minimizing L (deterministic sweep
    order), matching the reference at fixture scale.

``infomap_directed`` runs the same skeleton on the directed flow graph
with teleportation (DiFlowPartition, below). The sweep loop, the level
loop and the StateLoop under them are coarsen.py's, shared with
Louvain.
"""

from __future__ import annotations

import math
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.graph import (
    canonicalize_undirected,
    materialize_iter,
    plogp,
    vertices_of,
)
from .coarsen import (
    move_parity,
    optimize_levels,
    recurse_local,
    renumber_communities,
    sweep_level,
)
from .objectives import map_equation


def _plogp(x: float) -> float:
    return x * math.log(x) if x > 0 else 0.0


def _delta_l(pl, sum_q, pl_sum_q, q_cur, q_new, q_cur2, q_new2, p_cur, p_new, p):
    """ΔL of moving a node of visit prob ``p`` from community cur to new
    (diff_move, src/FlowPartition.jl:147-188), given both communities'
    exit probs before (q) and after (q2) the move and their visit probs
    before it; the Σ_v plogp(p_v) term is constant under moves. ``pl``
    is plogp over floats (driver-local solvers) or columns (sweeps)."""
    sum_q2 = sum_q + (q_cur2 - q_cur) + (q_new2 - q_new)
    return (
        pl(sum_q2) - pl_sum_q
        - 2.0 * (pl(q_cur2) + pl(q_new2) - pl(q_cur) - pl(q_new))
        + pl(q_cur2 + p_cur - p) + pl(q_new2 + p_new + p)
        - pl(q_cur + p_cur) - pl(q_new + p_new)
    )


# ----------------------------------------------------------------------
# driver-local exact greedy (minimize L), used below local_threshold
# ----------------------------------------------------------------------

def _local_infomap(pairs, p, eps=1e-12, max_sweeps=100):
    """Sequential greedy map-equation minimization on (u, v, t_uv)
    arc-probability pairs (canonical u<=v, self-loops ignored) with
    per-node visit probs ``p``. Returns dict id -> community.

    Re-derives move_nodes! in minimize mode (src/Optimiser.jl:148-254 +
    src/FlowPartition.jl:21-22,147-188) with deterministic order:
    vertices in sorted id order, ties to the smallest community id.
    Recurses on the collapsed flow graph while communities shrink
    (src/FlowPartition.jl:207-252)."""
    adj = defaultdict(dict)
    nodes = set(p)
    for u, v, t in pairs:
        nodes.add(u)
        nodes.add(v)
        if u == v:
            continue
        adj[u][v] = adj[u].get(v, 0.0) + t
        adj[v][u] = adj[v].get(u, 0.0) + t
    t_out = {u: sum(adj[u].values()) for u in nodes}
    comm = {u: u for u in nodes}
    p_c = defaultdict(float)
    q_c = defaultdict(float)
    for u in nodes:
        p_c[u] = p.get(u, 0.0)
        q_c[u] = t_out[u]
    sum_q = sum(q_c.values())

    def dL(u, cu, c):
        tu = t_out[u]
        t_ucu = sum(t for v, t in adj[u].items() if comm[v] == cu)
        t_uc = sum(t for v, t in adj[u].items() if comm[v] == c)
        qcu2 = q_c[cu] - tu + 2.0 * t_ucu
        qc2 = q_c[c] + tu - 2.0 * t_uc
        return _delta_l(_plogp, sum_q, _plogp(sum_q), q_c[cu], q_c[c], qcu2, qc2,
                        p_c[cu], p_c[c], p.get(u, 0.0)), qcu2, qc2

    improved_any = True
    sweeps = 0
    while improved_any and sweeps < max_sweeps:
        improved_any = False
        sweeps += 1
        for u in sorted(nodes):
            cu = comm[u]
            cands = sorted({comm[v] for v in adj[u]} - {cu})
            best = (0.0, cu, None, None)
            for c in cands:
                d, qcu2, qc2 = dL(u, cu, c)
                if d < best[0] - eps:
                    best = (d, c, qcu2, qc2)
            if best[1] != cu:
                _, c, qcu2, qc2 = best
                sum_q += (qcu2 - q_c[cu]) + (qc2 - q_c[c])
                q_c[cu], q_c[c] = qcu2, qc2
                pu = p.get(u, 0.0)
                p_c[cu] -= pu
                p_c[c] += pu
                comm[u] = c
                improved_any = True

    return recurse_local(
        pairs, nodes, comm, lambda u: p.get(u, 0.0),
        lambda cp, cs: _local_infomap(cp, cs, eps=eps, max_sweeps=max_sweeps))


# ----------------------------------------------------------------------
# distributed bulk move phase
# ----------------------------------------------------------------------

def _infomap_sweep(sym: DataFrame, memb: DataFrame, flows: DataFrame,
                   parity: int, eps: float, parity_expr=None,
                   score_round: int | None = None) -> DataFrame:
    """One bulk ΔL-scoring sweep; returns (id, comm, moved, gain).

    ``sym``: the level's SYMMETRIZED (src, dst, t) arc-prob view
    (self-loops excluded), built once per level by ``_distributed_level``
    through ``StateLoop.side``. ``flows``: (id, p, t_out). One m-sized
    shuffle (the t_uc gather); comm stats and Σq derive from it.
    ``parity_expr``: see coarsen.move_parity.

    ``score_round``: round ΔL to this many decimals BEFORE the argmin
    and the accept gate, so the infomap_det row and its SQL replay see
    the same score ladder despite last-ulp drift of the log terms across
    engines (see q_infomap_det). Production sweeps keep None."""
    mm = memb.select("id", F.col("comm").alias("c"))
    # t(u → community of neighbor); materialized — reused by the stats
    # agg AND the scoring join without re-shuffling m rows
    t_to = materialize_iter(
        sym.join(mm.select(F.col("id").alias("dst"), F.col("c").alias("nc")), "dst")
        .groupBy(F.col("src").alias("id"), F.col("nc").alias("cand"))
        .agg(F.sum("t").alias("t_uc"))
    )
    cur = mm.join(flows, "id")
    cs = cur.select(F.col("id").alias("tid"), F.col("c").alias("tc"))
    t_self = t_to.join(
        cs, (t_to["id"] == cs["tid"]) & (t_to["cand"] == cs["tc"])
    ).select(t_to["id"], F.col("t_uc").alias("t_ucu"))
    per_u = cur.join(t_self, "id", "left").select(
        "id", "c", "p", "t_out", F.coalesce("t_ucu", F.lit(0.0)).alias("t_ucu")
    )
    stats = per_u.groupBy(F.col("c").alias("sc")).agg(
        F.sum("p").alias("p_c"),
        F.sum(F.col("t_out") - F.col("t_ucu")).alias("q_c"),
    )
    stats = materialize_iter(stats)
    sum_q = float(stats.agg(F.sum("q_c")).collect()[0][0] or 0.0)

    cand = (
        t_to.join(per_u, "id")
        .filter(F.col("cand") != F.col("c"))
        .join(stats.select(F.col("sc").alias("c"), F.col("p_c").alias("p_cur"),
                           F.col("q_c").alias("q_cur")), "c")
        .join(stats.select(F.col("sc").alias("cand"), F.col("p_c").alias("p_new"),
                           F.col("q_c").alias("q_new")), "cand")
    )
    q_cur2 = F.col("q_cur") - F.col("t_out") + 2.0 * F.col("t_ucu")
    q_new2 = F.col("q_new") + F.col("t_out") - 2.0 * F.col("t_uc")
    dl = _delta_l(plogp, F.lit(sum_q), F.lit(_plogp(sum_q)), F.col("q_cur"),
                  F.col("q_new"), q_cur2, q_new2, F.col("p_cur"), F.col("p_new"),
                  F.col("p"))
    if score_round is not None:
        dl = F.round(dl, score_round)
    return _moves(mm, cand, dl, eps, move_parity(parity_expr) == F.lit(parity))


def _moves(mm: DataFrame, cand: DataFrame, dl, eps: float, gate) -> DataFrame:
    """Sweep rows (id, comm, moved, gain): each vertex takes its
    smallest-ΔL candidate (ties to the smaller community id) when ΔL <
    −eps and the parity gate lets it move; a mover's gain is its
    codelength reduction −ΔL."""
    best = (
        cand.withColumn("dl", dl)
        .groupBy("id")
        .agg(
            F.min_by("cand", F.struct(F.col("dl"), F.col("cand"))).alias("best_c"),
            F.min("dl").alias("best_dl"),
        )
    )
    new_c = (
        F.when((F.col("best_dl") < -eps) & gate, F.col("best_c"))
        .otherwise(F.col("c"))
    )
    moved = new_c != F.col("c")
    return mm.join(best, "id", "left").select(
        "id", new_c.alias("comm"), moved.alias("moved"),
        F.when(moved, -F.col("best_dl")).otherwise(F.lit(0.0)).alias("gain"),
    )


def _distributed_level(arcs: DataFrame, flows: DataFrame, eps: float,
                       max_sweeps: int, move_floor: float, ledger=None,
                       level: int = 0, parity_expr=None,
                       score_round: int | None = None) -> tuple[DataFrame, dict]:
    """One level of bulk ΔL sweeps (coarsen.sweep_level) on the flow
    graph (arcs (src, dst, t), flows (id, p, t_out)). Returns
    (membership, info).

    The membership seeds from the FLOW table, not the arcs: the flow
    collapse keeps only inter-community arcs, so a community with no
    external links has flows but NO arcs at the next level, and seeding
    from arcs lost its members (caught by the infomap_all_det oracle at
    sf0.01: 1886 spark rows vs 1892)."""

    def setup(loop, n):
        fl = loop.side(flows.repartition(loop.parts, "id"), "id")
        sym = loop.side(
            arcs.select("src", "dst", "t").unionByName(
                arcs.select(F.col("dst").alias("src"),
                            F.col("src").alias("dst"), "t")
            ).repartition(loop.parts, "dst"), "dst"
        )
        return lambda memb, parity: _infomap_sweep(
            sym, memb, fl, parity, eps, parity_expr=parity_expr,
            score_round=score_round)

    return sweep_level(flows.select("id"), arcs.count(), setup, "infomap",
                       level, max_sweeps, move_floor, ledger=ledger)


def _flows_of(arcs: DataFrame, p: DataFrame) -> DataFrame:
    """(id, p, t_out) flows: visit probs ``p`` (id, p) with each node's
    total arc flow t_out from the undirected ``arcs`` (src, dst, t)."""
    t_out = (
        arcs.select(F.col("src").alias("id"), "t")
        .unionByName(arcs.select(F.col("dst").alias("id"), "t"))
        .groupBy("id")
        .agg(F.sum("t").alias("t_out"))
    )
    return p.join(t_out, "id", "left").select(
        "id", "p", F.coalesce("t_out", F.lit(0.0)).alias("t_out")
    )


def _flow_graph(edges: DataFrame) -> tuple[DataFrame, DataFrame, float]:
    """Level-0 flow graph of a canonical undirected weighted edge table
    (flow_partition, src/FlowGraph.jl:9-35): arcs (src, dst, t = w/2m)
    from the non-self edges and flows (id, p, t_out) with p = weighted
    degree / 2m (self-loops count 2w). Returns (arcs, flows, m)."""
    m = float(edges.agg(F.sum("weight")).collect()[0][0] or 0.0)
    sym_w = edges.select(F.col("src").alias("id"), "weight").unionByName(
        edges.select(F.col("dst").alias("id"), "weight"))
    arcs = edges.filter(F.col("src") != F.col("dst")).select(
        "src", "dst", (F.col("weight") / (2 * m)).alias("t"))
    p = sym_w.groupBy("id").agg((F.sum("weight") / (2 * m)).alias("p"))
    return arcs, _flows_of(arcs, p), m


def _collapse_flows(arcs: DataFrame, flows: DataFrame,
                    memb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Collapse the flow graph by ``memb`` (src/FlowPartition.jl:207-252):
    inter-community arcs only (intra ones never touch q or p), t summed
    canonically; p_c by member sum, t_out recomputed from the collapsed
    arcs. Returns (arcs, flows), the arcs materialized."""
    mm = memb.select("id", "comm")
    coarse = materialize_iter(
        arcs.join(mm.select(F.col("id").alias("src"), F.col("comm").alias("cs")), "src")
        .join(mm.select(F.col("id").alias("dst"), F.col("comm").alias("cd")), "dst")
        .filter(F.col("cs") != F.col("cd"))
        .select(F.least("cs", "cd").alias("src"), F.greatest("cs", "cd").alias("dst"), "t")
        .groupBy("src", "dst")
        .agg(F.sum("t").alias("t"))
    )
    p = (
        flows.select("id", "p").join(mm, "id")
        .groupBy(F.col("comm").alias("id"))
        .agg(F.sum("p").alias("p"))
    )
    return coarse, _flows_of(coarse, p)


@dataclass
class InfomapResult:
    membership: DataFrame  # (id, comm) dense 1..q by decreasing size
    codelength: float      # nats; lower is better
    levels: int
    history: list = field(default_factory=list)


def infomap(
    edges: DataFrame,
    eps: float = 1e-10,
    local_threshold: int = 300_000,
    max_levels: int = 20,
    max_sweeps: int = 30,
    move_floor: float = 0.01,
    ledger=None,
) -> InfomapResult:
    """Undirected Infomap over an edge table: minimize the map-equation
    codelength (flow_partition + optimize_partition!,
    src/FlowGraph.jl:9-35 + src/Optimiser.jl:112-133 in minimize mode).

    Visit probs p_v = deg_w(v)/2m, arc probs t = w/2m — both fixed by
    the level-0 graph; collapses carry p as community sums and keep
    only inter-community arcs, so every level scores the SAME global L.
    """
    base_edges = materialize_iter(canonicalize_undirected(edges))
    arcs, flows, m = _flow_graph(base_edges)
    memb = None
    history = []
    if m > 0:
        memb, history = optimize_levels(
            (arcs, flows),
            lambda arcs, flows: _local_infomap(
                [(r.src, r.dst, r.t) for r in arcs.collect()],
                {r.id: r.p for r in flows.collect()}, eps=eps),
            lambda arcs, flows, level: _distributed_level(
                arcs, flows, eps, max_sweeps, move_floor, ledger=ledger,
                level=level),
            lambda arcs, flows, lvl, info: _collapse_flows(arcs, flows, lvl),
            local_threshold, max_levels, ledger=ledger)
    if memb is None:
        memb = vertices_of(base_edges).select("id", F.col("id").alias("comm"))
    memb = renumber_communities(memb)
    codelength = map_equation(base_edges, memb) if m > 0 else 0.0
    return InfomapResult(memb, codelength, len(history), history)


# ======================================================================
# Directed Infomap with teleportation (DiFlowPartition)
# ======================================================================
#
# Reference lifecycle: ``diflow_partition(g[, w]; τ)`` →
# ``optimize_partition!`` (src/DiFlowPartition.jl:218-302 diff_move,
# :321-363 collapse; entry point SURVEY.md §3.3). Visit probs are the
# reference-semantics PageRank (src/DiFlowGraph.jl:50-85); the
# per-community exit probability carries teleport and dangling terms:
#
#   q_c = τ·(n−n_c)/n·p_c + (1−τ)·[out_flow_c + (n−n_c)/n·iso_c]
#
# (objectives.map_equation_directed scores the same L; note the
# reference's dead-typo branch at src/DiFlowPartition.jl:192 is NOT
# replicated). Instead of renormalizing trans probs per collapse like
# the reference, levels carry *flows* f_uv = p_u·t_uv directly — the
# products the formulas actually consume — plus (p, iso, size) node
# masses, which compose exactly under contraction.

def _dq_dir(tau, n, n_c, p_c, iso_c, out_c):
    """q_c from community masses (column-expression friendly)."""
    frac = (F.lit(float(n)) - n_c) / F.lit(float(n))
    return F.lit(tau) * frac * p_c + F.lit(1.0 - tau) * (out_c + frac * iso_c)


def _local_infomap_directed(arcs, nodes, tau, n_total, eps=1e-12, max_sweeps=100):
    """Sequential greedy directed map-equation minimization.

    ``arcs``: (u, v, f) directed flows (self-loops excluded);
    ``nodes``: dict id -> (p, iso, size). Deterministic sweep order;
    recurses on the collapsed flow graph. Returns dict id -> comm."""
    out_adj = defaultdict(dict)
    in_adj = defaultdict(dict)
    for u, v, f in arcs:
        out_adj[u][v] = out_adj[u].get(v, 0.0) + f
        in_adj[v][u] = in_adj[v].get(u, 0.0) + f
    ids = sorted(nodes)
    p = {u: nodes[u][0] for u in ids}
    iso = {u: nodes[u][1] for u in ids}
    sz = {u: nodes[u][2] for u in ids}
    F_u = {u: sum(out_adj[u].values()) for u in ids}
    n = n_total
    comm = {u: u for u in ids}
    cn = defaultdict(float)
    cp = defaultdict(float)
    ciso = defaultdict(float)
    cout = defaultdict(float)
    for u in ids:
        cn[u] = sz[u]
        cp[u] = p[u]
        ciso[u] = iso[u]
        cout[u] = F_u[u]  # singleton: every outflow leaves

    def q_of(c):
        frac = (n - cn[c]) / n
        return tau * frac * cp[c] + (1 - tau) * (cout[c] + frac * ciso[c])

    q_c = {c: q_of(c) for c in ids}
    sum_q = sum(q_c.values())

    def deltas(u, cu, c, f_ucu, f_uc, g_cuu, g_cu):
        # masses after moving u: cu loses, c gains
        out_cu2 = cout[cu] - (F_u[u] - f_ucu) + g_cuu
        out_c2 = cout[c] + (F_u[u] - f_uc) - g_cu
        frac_cu2 = (n - (cn[cu] - sz[u])) / n
        frac_c2 = (n - (cn[c] + sz[u])) / n
        q_cu2 = tau * frac_cu2 * (cp[cu] - p[u]) + (1 - tau) * (
            out_cu2 + frac_cu2 * (ciso[cu] - iso[u]))
        q_c2 = tau * frac_c2 * (cp[c] + p[u]) + (1 - tau) * (
            out_c2 + frac_c2 * (ciso[c] + iso[u]))
        dl = _delta_l(_plogp, sum_q, _plogp(sum_q), q_c[cu], q_c[c], q_cu2, q_c2,
                      cp[cu], cp[c], p[u])
        return dl, q_cu2, q_c2, out_cu2, out_c2

    improved_any = True
    sweeps = 0
    while improved_any and sweeps < max_sweeps:
        improved_any = False
        sweeps += 1
        for u in ids:
            cu = comm[u]
            f_to = defaultdict(float)
            for v, f in out_adj[u].items():
                f_to[comm[v]] += f
            g_from = defaultdict(float)
            for v, f in in_adj[u].items():
                g_from[comm[v]] += f
            cands = sorted((set(f_to) | set(g_from)) - {cu})
            best = (0.0, cu, None)
            for c in cands:
                d = deltas(u, cu, c, f_to.get(cu, 0.0), f_to.get(c, 0.0),
                           g_from.get(cu, 0.0), g_from.get(c, 0.0))
                if d[0] < best[0] - eps:
                    best = (d[0], c, d)
            if best[1] != cu:
                c = best[1]
                _, q_cu2, q_c2, out_cu2, out_c2 = best[2]
                sum_q += (q_cu2 - q_c[cu]) + (q_c2 - q_c[c])
                q_c[cu], q_c[c] = q_cu2, q_c2
                cout[cu], cout[c] = out_cu2, out_c2
                cn[cu] -= sz[u]
                cn[c] += sz[u]
                cp[cu] -= p[u]
                cp[c] += p[u]
                ciso[cu] -= iso[u]
                ciso[c] += iso[u]
                comm[u] = c
                improved_any = True

    n_comms = len(set(comm.values()))
    if n_comms < len(ids):
        agg = defaultdict(float)
        cnode = {}
        for u in ids:
            c = comm[u]
            pc, ic, sc = cnode.get(c, (0.0, 0.0, 0.0))
            cnode[c] = (pc + p[u], ic + iso[u], sc + sz[u])
        for u, v, f in arcs:
            a, b = comm[u], comm[v]
            if a != b:
                agg[(a, b)] += f
        coarse = _local_infomap_directed(
            [(a, b, f) for (a, b), f in agg.items()], cnode, tau, n,
            eps=eps, max_sweeps=max_sweeps,
        )
        if len(set(coarse.values())) < n_comms:
            comm = {u: coarse[comm[u]] for u in comm}
    return comm


def _infomap_dir_sweep(arcs: DataFrame, nodes: DataFrame, memb: DataFrame,
                       tau: float, n_total: float, parity: int,
                       eps: float) -> DataFrame:
    """One bulk directed ΔL sweep: two m-sized flow gathers (u→comm and
    comm→u), one community-stats agg, per-candidate delta as a column
    expression, parity-gated application. ``arcs``: (src, dst, f);
    ``nodes``: (id, p, iso, nsize, fout)."""
    mm = memb.select("id", F.col("comm").alias("c"))
    f_to = materialize_iter(
        arcs.join(mm.select(F.col("id").alias("dst"), F.col("c").alias("nc")), "dst")
        .groupBy(F.col("src").alias("id"), F.col("nc").alias("cand"))
        .agg(F.sum("f").alias("f_uc"))
    )
    g_from = materialize_iter(
        arcs.join(mm.select(F.col("id").alias("src"), F.col("c").alias("nc")), "src")
        .groupBy(F.col("dst").alias("id"), F.col("nc").alias("cand"))
        .agg(F.sum("f").alias("g_cu"))
    )
    cur = mm.join(nodes, "id")
    # community masses; out_flow_c = Σ fout(u∈c) − Σ internal flows
    internal = (
        f_to.join(mm, "id")
        .filter(F.col("cand") == F.col("c"))
        .groupBy(F.col("c").alias("sc"))
        .agg(F.sum("f_uc").alias("f_int"))
    )
    stats = (
        cur.groupBy(F.col("c").alias("sc"))
        .agg(F.sum("nsize").alias("n_c"), F.sum("p").alias("p_c"),
             F.sum("iso").alias("iso_c"), F.sum("fout").alias("fo_c"))
        .join(internal, "sc", "left")
        .select("sc", "n_c", "p_c", "iso_c",
                (F.col("fo_c") - F.coalesce("f_int", F.lit(0.0))).alias("out_c"))
    )
    stats = materialize_iter(stats.withColumn(
        "q_c", _dq_dir(tau, n_total, F.col("n_c"), F.col("p_c"),
                       F.col("iso_c"), F.col("out_c"))))
    sum_q = float(stats.agg(F.sum("q_c")).collect()[0][0] or 0.0)

    cand_pairs = (
        f_to.select("id", "cand", "f_uc")
        .join(g_from.select("id", "cand", "g_cu"), ["id", "cand"], "full_outer")
        .select("id", "cand",
                F.coalesce("f_uc", F.lit(0.0)).alias("f_uc"),
                F.coalesce("g_cu", F.lit(0.0)).alias("g_cu"))
    )
    own = cand_pairs.join(mm, "id").filter(F.col("cand") == F.col("c")).select(
        "id", F.col("f_uc").alias("f_ucu"), F.col("g_cu").alias("g_cuu"))
    cand = (
        cand_pairs.join(cur, "id")
        .filter(F.col("cand") != F.col("c"))
        .join(own, "id", "left")
        .withColumn("f_ucu", F.coalesce("f_ucu", F.lit(0.0)))
        .withColumn("g_cuu", F.coalesce("g_cuu", F.lit(0.0)))
        .join(stats.select(F.col("sc").alias("c"), F.col("n_c").alias("n_cu"),
                           F.col("p_c").alias("p_cu"), F.col("iso_c").alias("i_cu"),
                           F.col("out_c").alias("o_cu"), F.col("q_c").alias("q_cu")), "c")
        .join(stats.select(F.col("sc").alias("cand"), F.col("n_c").alias("n_cn"),
                           F.col("p_c").alias("p_cn"), F.col("iso_c").alias("i_cn"),
                           F.col("out_c").alias("o_cn"), F.col("q_c").alias("q_cn")), "cand")
    )
    out_cu2 = F.col("o_cu") - (F.col("fout") - F.col("f_ucu")) + F.col("g_cuu")
    out_cn2 = F.col("o_cn") + (F.col("fout") - F.col("f_uc")) - F.col("g_cu")
    q_cu2 = _dq_dir(tau, n_total, F.col("n_cu") - F.col("nsize"),
                    F.col("p_cu") - F.col("p"), F.col("i_cu") - F.col("iso"), out_cu2)
    q_cn2 = _dq_dir(tau, n_total, F.col("n_cn") + F.col("nsize"),
                    F.col("p_cn") + F.col("p"), F.col("i_cn") + F.col("iso"), out_cn2)
    dl = _delta_l(plogp, F.lit(sum_q), F.lit(_plogp(sum_q)), F.col("q_cu"),
                  F.col("q_cn"), q_cu2, q_cn2, F.col("p_cu"), F.col("p_cn"),
                  F.col("p"))
    return _moves(mm, cand, dl, eps, move_parity() == F.lit(parity))


def _collapse_dir(arcs: DataFrame, nodes: DataFrame, memb: DataFrame,
                  info: dict) -> tuple[DataFrame, DataFrame]:
    """Collapse the directed flow graph by ``memb``
    (src/DiFlowPartition.jl:321-363): inter-community flows summed per
    ordered community pair; node masses (p, iso, size) summed, fout
    recomputed from the collapsed arcs."""
    mm = memb.select("id", "comm")
    coarse = materialize_iter(
        arcs.join(mm.select(F.col("id").alias("src"), F.col("comm").alias("cs")), "src")
        .join(mm.select(F.col("id").alias("dst"), F.col("comm").alias("cd")), "dst")
        .filter(F.col("cs") != F.col("cd"))
        .groupBy(F.col("cs").alias("src"), F.col("cd").alias("dst"))
        .agg(F.sum("f").alias("f"))
    )
    fo = coarse.groupBy(F.col("src").alias("id")).agg(F.sum("f").alias("fout"))
    return coarse, materialize_iter(
        nodes.join(mm, "id")
        .groupBy(F.col("comm").alias("id"))
        .agg(F.sum("p").alias("p"), F.sum("iso").alias("iso"),
             F.sum("nsize").alias("nsize"))
        .join(fo, "id", "left")
        .select("id", "p", "iso", "nsize",
                F.coalesce("fout", F.lit(0.0)).alias("fout"))
    )


def infomap_directed(
    edges: DataFrame,
    tau: float = 0.15,
    eps: float = 1e-12,
    local_threshold: int = 20_000,
    max_levels: int = 20,
    max_sweeps: int = 30,
    move_floor: float = 0.01,
    pr_tol: float = 1e-10,
    ledger=None,
) -> InfomapResult:
    """Directed Infomap with teleportation over a directed arc table
    (diflow_partition + optimize_partition!, src/DiFlowPartition.jl).

    Visit probs are reference-semantics PageRank (operators/pagerank.py,
    src/DiFlowGraph.jl:50-85); levels carry flows f=p·t plus node
    masses (p, iso, size); quality = objectives.map_equation_directed's
    codelength computed from the final membership."""
    from .degrees import trans_prob_directed
    from .pagerank import pagerank

    spark = edges.sparkSession
    base_edges = materialize_iter(edges)
    verts = vertices_of(base_edges)
    n_total = float(verts.count())
    if n_total == 0:
        empty = spark.createDataFrame([], "id long, comm long")
        return InfomapResult(empty, 0.0, 0)
    pr = pagerank(base_edges, damping=1.0 - tau, tol=pr_tol).ranks.select(
        "id", F.col("pagerank").alias("p"))
    tp = trans_prob_directed(base_edges).select("src", "dst", "trans_prob")
    arcs = materialize_iter(
        tp.filter(F.col("src") != F.col("dst"))
        .join(pr.select(F.col("id").alias("src"), F.col("p").alias("p_u")), "src")
        .select("src", "dst", (F.col("p_u") * F.col("trans_prob")).alias("f"))
    )
    dangling = verts.join(
        base_edges.select(F.col("src").alias("id")).distinct(), "id", "left_anti"
    ).select("id", F.lit(True).alias("dang"))
    fout = arcs.groupBy(F.col("src").alias("id")).agg(F.sum("f").alias("fout"))
    nodes = materialize_iter(
        pr.join(dangling, "id", "left")
        .join(fout, "id", "left")
        .select(
            "id", "p",
            F.when(F.col("dang"), F.col("p")).otherwise(F.lit(0.0)).alias("iso"),
            F.lit(1.0).alias("nsize"),
            F.coalesce("fout", F.lit(0.0)).alias("fout"),
        )
    )

    def level(arcs, nodes, level_no):
        def setup(loop, n):
            nd = loop.side(nodes.repartition(loop.parts, "id"), "id")
            return lambda memb, parity: _infomap_dir_sweep(
                arcs, nd, memb, tau, n_total, parity, eps)

        return sweep_level(nodes.select("id"), arcs.count(), setup,
                           "infomap_d", level_no, max_sweeps, move_floor,
                           ledger=ledger)

    memb, history = optimize_levels(
        (arcs, nodes),
        lambda arcs, nodes: _local_infomap_directed(
            [(r.src, r.dst, r.f) for r in arcs.collect()],
            {r.id: (r.p, r.iso, r.nsize) for r in nodes.collect()},
            tau, n_total, eps=eps),
        level, _collapse_dir, local_threshold, max_levels, ledger=ledger)
    if memb is None:
        memb = verts.select("id", F.col("id").alias("comm"))
    memb = renumber_communities(memb)
    from .objectives import map_equation_directed

    codelen = map_equation_directed(base_edges, memb, tau=tau, pr_tol=pr_tol)
    return InfomapResult(memb, codelen, len(history), history)
