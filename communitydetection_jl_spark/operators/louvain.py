"""Modularity optimization (Louvain-equivalent), Spark-first.

The reference's optimizer is a sequential greedy sweep
(move_nodes!, src/Optimiser.jl:3-254) — inherently serial. The
reference itself ships a bulk-parallel variant, multi_greedy_merge!
(src/MultiGreedy.jl:1-34): score ALL candidate moves at once, then
apply non-conflicting ones. This engine adopts that discipline:

 1. **Distributed move phase** (per level): one shuffle computes
    w(u→community) for every vertex/neighbor-community pair
    (edges ⋈ memb ⋈ comm totals); the modularity gain
    Δ(u→c) = [w_to(c) − w_to(cur∖u)] − k_u·[Σtot(c) − (Σtot(cur)−k_u)]/(2m)
    is a column expression (the undirected specialization of
    modularity_diff_move, src/MPartition.jl:277-302); the best positive
    move per vertex is a max_by; conflicts (A→B while B→A swaps) are
    broken by hash-parity gating — only vertices with
    xxhash64(id)%2 == sweep%2 move each sweep, the bulk analogue of the
    merged_nodes set in multi_greedy_merge!.
 2. **Collapse** the graph by the level membership (coarsen.py) and
    recurse — coarse graphs shrink geometrically.
 3. **Driver-local exact phase**: below ``local_threshold`` edges the
    graph is collected and optimized with a faithful sequential greedy
    (deterministic order) re-deriving move_nodes! semantics — at that
    size the reference itself is a single-machine program, and this is
    what makes fixture memberships exact (NMI == 1.0,
    test/runtests.jl:16).

Scale: each sweep is one join + two groupBys; comm totals are a
broadcast-sized table after the first collapse. The sweep loop, the
level loop and the StateLoop that writes each sweep's membership to
parquet (plans/iterstate.py) are coarsen.py's, shared with Infomap.
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.graph import (
    canonicalize_undirected,
    materialize_iter,
    vertices_of,
    with_weight,
)
from .coarsen import (
    collapse_graph,
    from_coarser_partition,
    move_parity,
    optimize_levels,
    recurse_local,
    renumber_communities,
    sweep_level,
)
from .modularity import modularity
from .objectives import (
    _kl_expr,
    cpm_quality,
    rber_quality,
    significance_quality,
    surprise_quality,
)


# ----------------------------------------------------------------------
# driver-local exact greedy (reference move_nodes!/optimize_partition!
# semantics with deterministic order), used below local_threshold
# ----------------------------------------------------------------------

def _adjacency(pairs):
    """(adj, selfw, nodes) of canonical (u, v, w) pairs, self-loop
    weight kept apart from the neighbour maps."""
    adj = defaultdict(dict)
    selfw = defaultdict(float)
    nodes = set()
    for u, v, w in pairs:
        nodes.add(u)
        nodes.add(v)
        if u == v:
            selfw[u] += w
        else:
            adj[u][v] = adj[u].get(v, 0.0) + w
            adj[v][u] = adj[v].get(u, 0.0) + w
    return adj, selfw, nodes


def _local_louvain(pairs, node_sizes=None, eps=1e-10, max_sweeps=100,
                   objective="modularity", gamma=1.0):
    """Sequential greedy optimization on (u, v, w) canonical undirected
    pairs. ``objective``: 'modularity'/'rbconfig' (γ-scaled null model,
    src/MPartition.jl:250-302,441-467) or 'cpm' (src/MPartition.jl:388-422,
    needs node sizes).

    The gain for u→c reduces to w_to(c) − penalty·k2_u·tot2(c∖u) with
    (k2, tot2, penalty) = (strength, Σstrength, γ/2m) for modularity and
    (node size, Σsize, γ) for CPM.

    Deterministic: vertices swept in sorted id order, ties broken by
    smallest community id. Returns dict id -> community id.
    """
    adj, selfw, nodes = _adjacency(pairs)
    m = sum(w for _, _, w in pairs)
    if m <= 0:
        return {u: u for u in nodes}
    k = {u: sum(adj[u].values()) + 2.0 * selfw[u] for u in nodes}
    if objective == "cpm":
        k2 = {u: float((node_sizes or {}).get(u, 1.0)) for u in nodes}
        penalty = gamma
    else:
        k2 = k
        penalty = gamma / (2.0 * m)
    comm = {u: u for u in nodes}
    tot2 = defaultdict(float)
    for u in nodes:
        tot2[comm[u]] += k2[u]

    order = sorted(nodes)
    improved_any = True
    sweeps = 0
    while improved_any and sweeps < max_sweeps:
        improved_any = False
        sweeps += 1
        for u in order:
            cu = comm[u]
            w_to = defaultdict(float)
            for v, w in adj[u].items():
                w_to[comm[v]] += w
            tot2[cu] -= k2[u]
            base = w_to.get(cu, 0.0) - penalty * k2[u] * tot2[cu]
            best_c, best_gain = cu, 0.0
            for c in sorted(w_to):
                if c == cu:
                    continue
                gain = (w_to[c] - penalty * k2[u] * tot2[c]) - base
                if gain > best_gain + eps or (
                    abs(gain - best_gain) <= eps and best_c != cu and c < best_c
                ):
                    if gain > eps:
                        best_c, best_gain = c, gain
            comm[u] = best_c
            tot2[best_c] += k2[u]
            if best_c != cu:
                improved_any = True

    return recurse_local(
        pairs, nodes, comm, lambda u: (node_sizes or {}).get(u, 1.0),
        lambda cp, cs: _local_louvain(cp, node_sizes=cs, eps=eps, max_sweeps=max_sweeps,
                                      objective=objective, gamma=gamma))


# ----------------------------------------------------------------------
# driver-local exact greedy for the set-based objectives
# (Significance / Surprise: gains are nonlinear in community size and
# inner weight, so they need (n_c, m_c) bookkeeping, not just Σk)
# ----------------------------------------------------------------------

def _kl(q, p):
    import math as _m

    out = 0.0
    if q > 0 and p > 0:
        out += q * _m.log(q / p)
    if q < 1 and p < 1:
        out += (1 - q) * _m.log((1 - q) / (1 - p))
    return out


def _poss_c(x):
    """C(x, 2): vertex pairs inside a community of x nodes (floats or
    columns)."""
    return x * (x - 1) / 2.0


def _local_setbased(pairs, node_sizes=None, eps=1e-10, max_sweeps=100,
                    objective="significance", density=None, n_total=None,
                    m_total=None):
    """Sequential greedy for Significance (Σ_c C(n_c,2)·KL(p_c‖p),
    src/MPartition.jl:536-604) and Surprise (m·KL(q‖⟨q⟩),
    src/MPartition.jl:333-385). ``density``/``n_total``/``m_total`` are
    BASE-graph scalars so the objective keeps its meaning through
    collapses (node sizes carry C(n_c,2); weights carry edge counts).

    Deterministic order (sorted ids, smallest-community tie-break);
    returns dict id -> community."""
    adj, selfw, nodes = _adjacency(pairs)
    ns = {u: float((node_sizes or {}).get(u, 1.0)) for u in nodes}
    comm = {u: u for u in nodes}
    cn = defaultdict(float)   # community total node size
    cm = defaultdict(float)   # community inner weight (incl self-loops)
    for u in nodes:
        cn[comm[u]] += ns[u]
        cm[comm[u]] += selfw[u]
    m = m_total if m_total is not None else sum(w for _, _, w in pairs)
    n = n_total if n_total is not None else sum(ns.values())
    poss = n * (n - 1) / 2.0
    p = density if density is not None else (m / poss if poss else 0.0)

    def sig_term(nc, mc):
        # mirrors objectives._kl_expr guards exactly (no clamping)
        pc = _poss_c(nc)
        return pc * _kl(mc / pc, p) if pc > 0 else 0.0

    def surprise_val(m_in, poss_in):
        if m <= 0 or poss <= 0:
            return 0.0
        return m * _kl(m_in / m, poss_in / poss)

    m_in = sum(cm.values())
    poss_in = sum(_poss_c(x) for x in cn.values())

    order = sorted(nodes)
    improved_any = True
    sweeps = 0
    while improved_any and sweeps < max_sweeps:
        improved_any = False
        sweeps += 1
        for u in order:
            cu = comm[u]
            w_to = defaultdict(float)
            for v, w in adj[u].items():
                w_to[comm[v]] += w
            s, sw = ns[u], selfw[u]
            best_c, best_gain = cu, 0.0
            for c in sorted(set(w_to) | {cu}):
                if c == cu:
                    continue
                if objective == "significance":
                    gain = (
                        sig_term(cn[cu] - s, cm[cu] - w_to.get(cu, 0.0) - sw)
                        - sig_term(cn[cu], cm[cu])
                        + sig_term(cn[c] + s, cm[c] + w_to.get(c, 0.0) + sw)
                        - sig_term(cn[c], cm[c])
                    )
                else:  # surprise
                    m_in2 = m_in - w_to.get(cu, 0.0) + w_to.get(c, 0.0)
                    poss_in2 = (
                        poss_in - _poss_c(cn[cu]) + _poss_c(cn[cu] - s)
                        - _poss_c(cn[c]) + _poss_c(cn[c] + s)
                    )
                    gain = surprise_val(m_in2, poss_in2) - surprise_val(m_in, poss_in)
                if gain > best_gain + eps or (
                    abs(gain - best_gain) <= eps and best_c != cu and c < best_c
                ):
                    if gain > eps:
                        best_c, best_gain = c, gain
            if best_c != cu:
                m_in += -w_to.get(cu, 0.0) + w_to.get(best_c, 0.0)
                poss_in += (
                    -_poss_c(cn[cu]) + _poss_c(cn[cu] - s)
                    - _poss_c(cn[best_c]) + _poss_c(cn[best_c] + s)
                )
                cn[cu] -= s
                cm[cu] -= w_to.get(cu, 0.0) + sw
                cn[best_c] += s
                cm[best_c] += w_to.get(best_c, 0.0) + sw
                comm[u] = best_c
                improved_any = True

    return recurse_local(
        pairs, nodes, comm, ns.__getitem__,
        lambda cp, cs: _local_setbased(cp, node_sizes=cs, eps=eps, max_sweeps=max_sweeps,
                                       objective=objective, density=p, n_total=n,
                                       m_total=m))


# ----------------------------------------------------------------------
# distributed bulk move phase
# ----------------------------------------------------------------------

def _strengths(edges: DataFrame) -> DataFrame:
    """(id, k) weighted strength; self-loops count 2w (MGraph semantics)."""
    e = with_weight(edges)
    per_end = e.select(F.col("src").alias("id"), "weight").unionByName(
        e.select(F.col("dst").alias("id"), "weight")
    )
    return per_end.groupBy("id").agg(F.sum("weight").alias("k"))


def _w_to(sym: DataFrame, mm: DataFrame, pexpr, parity: int) -> DataFrame:
    """(id, cand, w_uc): w(u → community of neighbor), gathered for
    ACTIVE-parity listeners only — the LPA listener filter: inactive
    vertices keep c regardless of their argmax, so scoring them is
    discarded work; the filter halves the sweep's dominant shuffle and
    is exact because a listener's candidate set depends only on its OWN
    messages. Inactive rows ride through the sweep's final left join
    with best=null → comm unchanged."""
    return (
        sym.select(F.col("src").alias("id"), "dst", "weight")
        .filter(pexpr == F.lit(parity))
        .join(mm.withColumnRenamed("id", "dst").withColumnRenamed("c", "nc"), "dst")
        .groupBy("id", F.col("nc").alias("cand"))
        .agg(F.sum("weight").alias("w_uc"))
    )


def _move_sweep(sym: DataFrame, memb: DataFrame, aux: DataFrame,
                penalty: float, parity: int, eps: float,
                parity_expr=None) -> DataFrame:
    """One bulk gain-scoring sweep; returns updated (id, comm).

    ``sym`` is the level's SELF-LOOP-FREE symmetrized weighted view
    (src, dst, weight), materialized ONCE per level by
    ``_distributed_level`` through ``StateLoop.side`` — bucketed on
    ``dst`` in tables mode so the per-sweep membership join needs no
    exchange on the 2m-row side (rebuilding sym per sweep cost a full
    2m-row exchange every sweep).

    ``aux`` is (id, k2): per-vertex null-model mass (strength for
    modularity/RB-configuration, node size for CPM); the gain for u→c is
    w_to(c) − penalty·k2_u·tot2(c∖u).

    ``parity_expr`` overrides the default structure-blind xxhash64
    conflict gate with an explicit expression over ``id`` (e.g.
    ``pmod(id, 2)``) — the same trick that makes lpa_full SQL-oracle
    reproducible (the driver's louvain_det row replays these bulk
    sweeps move set by move set in a recursive CTE)."""
    mm = memb.select("id", F.col("comm").alias("c"))
    pexpr = move_parity(parity_expr)
    w_to = _w_to(sym, mm, pexpr, parity)
    tot = (
        mm.join(aux, "id")
        .groupBy(F.col("c").alias("cand"))
        .agg(F.sum("k2").alias("tot"))
    )
    cur = mm.join(aux, "id")
    cand = (
        w_to.join(cur, "id")
        .join(tot, "cand")
        .withColumn("tot_excl", F.col("tot") - F.when(F.col("cand") == F.col("c"), F.col("k2")).otherwise(F.lit(0.0)))
        .withColumn("score", F.col("w_uc") - F.lit(penalty) * F.col("k2") * F.col("tot_excl"))
    )
    # best foreign candidate AND the stay-put baseline in ONE
    # aggregation pass (max_by skips null ordering values, so an
    # all-own-community group yields best_c = null): two exchanges
    # fewer per sweep than a separate base join, most of a sweep's wall
    # time at 1.2M edges / 24 partitions (stage-count-bound sweeps)
    foreign = F.when(
        F.col("cand") != F.col("c"),
        F.struct(F.col("score"), (-F.col("cand")).alias("nb")),
    )
    best = cand.groupBy("id").agg(
        F.max_by("cand", foreign).alias("best_c"),
        F.max(F.when(F.col("cand") != F.col("c"), F.col("score"))).alias("best_score"),
        F.max(F.when(F.col("cand") == F.col("c"), F.col("score"))).alias("base"),
    )
    # the parity gate in new_c is redundant with the listener filter
    # above (only active-parity ids have non-null best rows) but kept
    # as belt-and-braces so the accept rule reads the same as the
    # louvain_det oracle CTE
    new_c = (
        F.when(
            (F.col("best_score") - F.coalesce("base", F.lit(0.0)) > eps)
            & (pexpr == F.lit(parity)),
            F.col("best_c"),
        )
        .otherwise(F.col("c"))
    )
    moved = new_c != F.col("c")
    return mm.join(best, "id", "left").select(
        "id", new_c.alias("comm"), moved.alias("moved"),
        # per-move objective gain (weight units): drives the
        # diminishing-returns level stop (gain_floor)
        F.when(
            moved, F.col("best_score") - F.coalesce("base", F.lit(0.0))
        ).otherwise(F.lit(0.0)).alias("gain"),
    )


def _move_sweep_set(sym: DataFrame, selfw: DataFrame, memb: DataFrame,
                    sizes: DataFrame,
                    parity: int, eps: float, objective: str,
                    density: float, n_total: float, m_total: float,
                    parity_expr=None) -> DataFrame:
    """One bulk sweep for the set-based objectives (Significance /
    Surprise): per (vertex, neighbor-community) candidate the exact
    objective delta is a column expression over (w_to(cand), w_to(cur),
    candidate/current community (size, inner-weight), node size,
    self-weight) — one extra groupBy vs the linear sweep, still one
    scoring shuffle. Gains re-derived from the quality formulas
    (src/MPartition.jl:333-385 surprise, :536-604 significance).

    ``sym`` is the level-materialized self-loop-free symmetrized view
    (see ``_move_sweep``); ``selfw`` the per-vertex self-loop weight,
    also computed once per level.  Each undirected edge appears in sym
    in both orientations, so the canonical one-row-per-edge view the
    inner-weight aggregation needs is exactly ``sym.filter(src < dst)``."""
    mm = memb.select("id", F.col("comm").alias("c"))
    e = sym.filter(F.col("src") < F.col("dst"))
    pexpr = move_parity(parity_expr)
    # the community stats (node/inner_e/cstats/sc) read mm and e, NOT
    # w_to, so the active-parity listener filter is exact here too
    w_to = _w_to(sym, mm, pexpr, parity)
    # per-community (total node size, inner weight incl. self-loops)
    node = mm.join(sizes, "id").join(selfw, "id", "left").select(
        "id", "c", F.col("nsize").alias("s"),
        F.coalesce("sw", F.lit(0.0)).alias("sw"))
    inner_e = (
        e.join(mm.withColumnRenamed("id", "src").withColumnRenamed("c", "ca"), "src")
        .join(mm.withColumnRenamed("id", "dst").withColumnRenamed("c", "cb"), "dst")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("comm")).agg(F.sum("weight").alias("wi"))
    )
    cstats = (
        node.groupBy(F.col("c").alias("comm"))
        .agg(F.sum("s").alias("cn"), F.sum("sw").alias("cw"))
        .join(inner_e, "comm", "left")
        .select("comm", "cn", (F.col("cw") + F.coalesce("wi", F.lit(0.0))).alias("cm"))
    )
    w_cur = w_to.join(mm, "id").filter(F.col("cand") == F.col("c")).select(
        "id", F.col("w_uc").alias("w_ucur"))
    cand = (
        w_to.join(node, "id")
        .filter(F.col("cand") != F.col("c"))
        .join(w_cur, "id", "left")
        .withColumn("w_ucur", F.coalesce("w_ucur", F.lit(0.0)))
        .join(cstats.select(F.col("comm").alias("cand"),
                            F.col("cn").alias("cn_c"), F.col("cm").alias("cm_c")), "cand")
        .join(cstats.select(F.col("comm").alias("c"),
                            F.col("cn").alias("cn_u"), F.col("cm").alias("cm_u")), "c")
    )
    P = F.lit(density)

    if objective == "significance":
        def sig(nc, mc):
            pc = _poss_c(nc)
            return F.when(pc > 0, pc * _kl_expr(mc / pc, P)).otherwise(F.lit(0.0))

        gain = (
            sig(F.col("cn_u") - F.col("s"),
                F.col("cm_u") - F.col("w_ucur") - F.col("sw"))
            - sig(F.col("cn_u"), F.col("cm_u"))
            + sig(F.col("cn_c") + F.col("s"),
                  F.col("cm_c") + F.col("w_uc") + F.col("sw"))
            - sig(F.col("cn_c"), F.col("cm_c"))
        )
    else:  # surprise
        # the partition-wide scalars (m_in = Σ inner weight, poss_in =
        # Σ C(csize,2)) ride the sweep plan as a broadcast 1-row scalar
        # frame instead of a per-sweep driver collect — keeps the
        # engine-wide one-action-per-superstep discipline (the state
        # write is the only job; PageRank's dangling mass is the model)
        sc = cstats.agg(
            F.coalesce(F.sum("cm"), F.lit(0.0)).alias("_m_in"),
            F.coalesce(F.sum(_poss_c(F.col("cn"))), F.lit(0.0)).alias("_poss_in"),
        )
        cand = cand.crossJoin(F.broadcast(sc))
        poss = n_total * (n_total - 1) / 2.0
        M, PS = F.lit(m_total), F.lit(poss)

        def surp(mi, pi):
            return F.when((M > 0) & (PS > 0), M * _kl_expr(mi / M, pi / PS)).otherwise(F.lit(0.0))

        mi2 = F.col("_m_in") - F.col("w_ucur") + F.col("w_uc")
        pi2 = (
            F.col("_poss_in")
            - _poss_c(F.col("cn_u")) + _poss_c(F.col("cn_u") - F.col("s"))
            - _poss_c(F.col("cn_c")) + _poss_c(F.col("cn_c") + F.col("s"))
        )
        gain = surp(mi2, pi2) - surp(F.col("_m_in"), F.col("_poss_in"))
    best = (
        cand.withColumn("gain", gain)
        .groupBy("id")
        .agg(
            F.max_by("cand", F.struct(F.col("gain"), (-F.col("cand")).alias("nb"))).alias("best_c"),
            F.max("gain").alias("best_gain"),
        )
    )
    new_c = (
        F.when(
            (F.col("best_gain") > eps)
            & (pexpr == F.lit(parity)),
            F.col("best_c"),
        ).otherwise(F.col("c"))
    )
    moved = new_c != F.col("c")
    return (
        mm.join(best, "id", "left")
        .select(
            "id", new_c.alias("comm"), moved.alias("moved"),
            F.when(moved, F.col("best_gain"))
            .otherwise(F.lit(0.0)).alias("gain"),
        )
    )


def _distributed_level(edges: DataFrame, eps: float, max_sweeps: int,
                       move_floor: float = 0.01, ledger=None,
                       level: int = 0, objective: str = "modularity",
                       gamma: float = 1.0,
                       node_sizes: DataFrame | None = None,
                       base_scalars: dict | None = None,
                       parity_expr=None,
                       gain_floor: float | None = 1e-4,
                       mode: str = "dir") -> tuple[DataFrame, dict]:
    """One level of bulk move sweeps (coarsen.sweep_level) with the
    objective's sweep plan. Returns (membership, info); info adds the
    level's total edge weight ``m`` to sweep_level's diagnostics.

    ``gain_floor``: diminishing-returns stop, the distributed analogue
    of the reference's per-pass improvement threshold
    (src/Optimiser.jl:135-148): a sweep whose SUMMED move gain is
    ≤ gain_floor·m (for modularity a sweep gain of g raises Q by ≈ g/m)
    is quiet. This trims parity-oscillation tails without capping
    genuine slow convergence — on the 1.196M-edge part graph 110.1s /
    Q=.085091 (off) → 80.8s / Q=.085072 (1e-4; BENCH/BASELINE.md
    round-4 note). ``None`` disables it (the louvain_det oracle path
    pins the pure two-quiet-sweeps rule)."""
    verts = vertices_of(edges)
    row = (
        with_weight(edges)
        .agg(F.sum("weight").alias("m"), F.count(F.lit(1)).alias("cnt"))
        .collect()[0]
    )
    m = float(row["m"] or 0.0)
    setbased = objective in ("significance", "surprise")
    bs = base_scalars or {}

    def setup(loop, n):
        if objective == "cpm" or setbased:
            ns = node_sizes if node_sizes is not None else verts.select(
                "id", F.lit(1.0).alias("k2"))
            aux = ns.select("id", F.col(ns.columns[1]).cast("double")
                            .alias("nsize" if setbased else "k2"))
            penalty = gamma
        else:
            aux = _strengths(edges).select("id", F.col("k").alias("k2"))
            penalty = gamma / (2.0 * m)
        aux = loop.side(aux.repartition(loop.parts, "id"), "id")
        # symmetrized self-loop-free weighted view, built ONCE per level
        # as the loop's side relation (bucketed on dst in tables mode, so
        # the per-sweep membership join is exchange-free on the 2m side)
        ew = with_weight(edges).select("src", "dst", "weight")
        enl = ew.filter(F.col("src") != F.col("dst"))
        sym = loop.side(enl.unionByName(
            enl.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                       "weight")
        ).repartition(loop.parts, "dst"), "dst")
        if not setbased:
            return lambda memb, parity: _move_sweep(
                sym, memb, aux, penalty, parity, eps, parity_expr=parity_expr)
        selfw = loop.side(
            ew.filter(F.col("src") == F.col("dst"))
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("weight").alias("sw"))
            .repartition(loop.parts, "id"), "id")
        return lambda memb, parity: _move_sweep_set(
            sym, selfw, memb, aux, parity, eps, objective,
            bs.get("density", 0.0), bs.get("n_total", float(n)),
            bs.get("m_total", m), parity_expr=parity_expr)

    memb, info = sweep_level(
        verts, int(row["cnt"] or 0), setup, "louvain", level,
        max_sweeps if m > 0 else 0, move_floor, gain_floor=gain_floor, m=m,
        ledger=ledger, mode=mode)
    info["m"] = m
    return memb, info


@dataclass
class LouvainResult:
    membership: DataFrame  # (id, comm) dense 1..q by decreasing size
    quality: float
    levels: int
    history: list = field(default_factory=list)


def louvain(
    edges: DataFrame,
    eps: float = 1e-7,
    local_threshold: int = 30_000,
    max_levels: int = 20,
    max_sweeps: int = 30,
    move_floor: float = 0.01,
    gain_floor: float | None = 1e-4,
    objective: str = "modularity",
    gamma: float = 1.0,
    ledger=None,
    init_sizes: DataFrame | None = None,
    record_quality: bool = False,
    base_scalars: dict | None = None,
    mode: str = "dir",
) -> LouvainResult:
    """Quality-optimizing community detection over an undirected edge
    table. ``objective`` dispatches the full reference set
    (src/Optimiser.jl:257-304): 'modularity' (default), 'rbconfig'
    (resolution γ, src/MPartition.jl:441-467), 'cpm'
    (src/MPartition.jl:388-422), 'rber' (ER null — CPM with penalty
    γ·density, src/MPartition.jl:483-533), 'significance'
    (src/MPartition.jl:536-604) and 'surprise' (src/MPartition.jl:333-385;
    both set-based, unweighted-count semantics like the reference, which
    rejects weighted graphs for them, src/Optimiser.jl:266-268).
    Distributed multi-greedy sweeps + collapse per level; exact
    sequential greedy below ``local_threshold`` edges. The threshold
    balances a fixed-cost distributed sweep (~1-2s of scheduling
    regardless of data) against the driver-local Python greedy
    (~1-2s at 30k edges): a coarsened level that fits the driver is
    finished EXACTLY there — the reference's own sequential semantics —
    instead of burning parity sweeps on a graph too small to
    parallelize (measured on the sf0.1 part graph: its 21k-edge
    level-1 collapse local vs distributed is 56.1s vs 69-85s
    end-to-end AND slightly better Q, 0.085112 vs 0.085072, because
    sequential moves don't parity-oscillate). Level 0 at bench scale
    (1.2M edges) stays distributed; at web scale every early level
    does too.

    ``base_scalars`` (find_partition's collapsed re-optimization rounds):
    the BASE graph's {density, n_total, m_total}. When passed, ``edges``
    is a collapse of that base graph — its weights already carry base
    edge counts and its ``init_sizes`` carry base node counts — so the
    density-null objectives must keep the base scalars and must NOT have
    their weights reset to 1; recomputing them from the collapse would
    optimize a different null model than the accept-gate rescoring
    (ref optimize-on-collapse keeps base totals, src/Optimiser.jl:135-144)."""
    base_edges = materialize_iter(canonicalize_undirected(edges))
    setbased = objective in ("significance", "surprise")
    if objective in ("rber", "significance", "surprise"):
        if base_scalars is None:
            base_scalars = _base_scalars(base_edges)
            # unweighted-count semantics: weights become edge counts
            base_edges = materialize_iter(
                base_edges.select("src", "dst", F.lit(1.0).alias("weight")))
        if objective == "rber":
            # RBER ≡ CPM with penalty γ·p (same node-size null mass)
            objective, gamma = "cpm", gamma * base_scalars["density"]
    else:
        base_scalars = base_scalars or {}
    # per-level node sizes (CPM null model needs them through collapses;
    # find_partition passes carried sizes when re-optimizing a collapse)
    if init_sizes is not None:
        sizes = init_sizes.select(
            "id", F.col(init_sizes.columns[1]).cast("double").alias("nsize"))
    else:
        sizes = vertices_of(base_edges).select("id", F.lit(1.0).alias("nsize"))

    def _quality_of(mb: DataFrame) -> float:
        if objective == "significance":
            return significance_quality(base_edges, mb)
        if objective == "surprise":
            return surprise_quality(base_edges, mb)
        if objective == "cpm":
            return cpm_quality(base_edges, mb, gamma=gamma)
        return modularity(base_edges, mb)

    def local(cur_edges, sizes):
        pairs = [(r.src, r.dst, r.weight) for r in cur_edges.collect()]
        ns = (
            {r.id: r.nsize for r in sizes.collect()}
            if objective == "cpm" or setbased else None
        )
        if setbased:
            return _local_setbased(
                pairs, node_sizes=ns, eps=eps, objective=objective,
                density=base_scalars["density"],
                n_total=base_scalars["n_total"],
                m_total=base_scalars["m_total"])
        return _local_louvain(pairs, node_sizes=ns, eps=eps,
                              objective=objective, gamma=gamma)

    def level(cur_edges, sizes, level_no):
        return _distributed_level(
            cur_edges, eps, max_sweeps,
            move_floor=move_floor, gain_floor=gain_floor, ledger=ledger,
            level=level_no, objective=objective, gamma=gamma,
            node_sizes=sizes.withColumnRenamed("nsize", "k2"),
            base_scalars=base_scalars, mode=mode)

    def collapse(cur_edges, sizes, lvl, info):
        return (
            materialize_iter(collapse_graph(cur_edges, lvl, check_conservation=True,
                                            expected_weight=info["m"])),
            sizes.join(lvl, "id").groupBy(F.col("comm").alias("id"))
            .agg(F.sum("nsize").alias("nsize")),
        )

    memb, history = optimize_levels(
        (base_edges, sizes), local, level, collapse, local_threshold,
        max_levels, ledger=ledger, quality=_quality_of if record_quality else None)
    if memb is None:
        memb = vertices_of(base_edges).select("id", F.col("id").alias("comm"))
    memb = renumber_communities(memb)
    return LouvainResult(memb, _quality_of(memb), len(history), history)


def _base_scalars(base: DataFrame) -> dict:
    """The BASE graph's {density, n_total, m_total} (canonical edge
    table): the density-null objectives keep them through collapses,
    where node sizes carry the pair counts and weights the edge counts."""
    m0 = float(base.filter(F.col("src") != F.col("dst")).count())
    n0 = float(vertices_of(base).count())
    poss0 = n0 * (n0 - 1) / 2.0
    return {"density": m0 / poss0 if poss0 else 0.0, "n_total": n0, "m_total": m0}


def find_partition(
    edges: DataFrame,
    objective: str = "modularity",
    gamma: float = 1.0,
    eps: float = 1e-7,
    max_rounds: int = 10,
    **louvain_kw,
) -> LouvainResult:
    """Repeat optimization until the quality stabilizes — the
    reference's find_partition! outer loop (src/Optimiser.jl:135-144).

    Each round re-optimizes the graph *collapsed by the current
    membership* (carrying community node sizes so size-aware null
    models stay exact) and composes any further merges; stops when a
    round improves the quality by ≤ eps. Round-quality history rides on
    the result."""
    res = louvain(edges, objective=objective, gamma=gamma, **louvain_kw)
    memb, q = res.membership, res.quality
    rounds = [q]
    base = canonicalize_undirected(edges)
    scalars = None
    if objective in ("rber", "significance", "surprise"):
        # base-graph scalars for the collapsed rounds: without them the
        # sub-call would recompute density/n/m from the COARSE graph and
        # reset the count-carrying collapsed weights — optimizing a
        # different null model than the accept-gate rescoring below
        scalars = _base_scalars(base)
        # count semantics for the collapse input (matches the base call)
        base = base.select("src", "dst", F.lit(1.0).alias("weight"))
    for _ in range(1, max_rounds):
        coarse = collapse_graph(base, memb, directed=False)
        csizes = memb.groupBy(F.col("comm").alias("id")).agg(
            F.count(F.lit(1)).cast("double").alias("nsize"))
        sub = louvain(coarse, objective=objective, gamma=gamma,
                      init_sizes=csizes, base_scalars=scalars, **louvain_kw)
        merged = sub.membership.select("comm").distinct().count()
        before = memb.select("comm").distinct().count()
        if merged >= before:
            break
        cand = renumber_communities(from_coarser_partition(memb, sub.membership))
        # score the candidate on the ORIGINAL graph with the original
        # objective semantics
        q2 = _score(edges, cand, objective, gamma)
        if q2 - q <= eps:
            break
        memb, q = cand, q2
        rounds.append(q)
    hist = list(res.history) + [{"round_quality": rounds}]
    return LouvainResult(memb, q, res.levels, hist)


def _score(edges: DataFrame, memb: DataFrame, objective: str, gamma: float) -> float:
    if objective == "significance":
        return significance_quality(edges, memb)
    if objective == "surprise":
        return surprise_quality(edges, memb)
    if objective == "cpm":
        return cpm_quality(canonicalize_undirected(edges), memb, gamma=gamma)
    if objective == "rber":
        return rber_quality(edges, memb, gamma=gamma)
    return modularity(canonicalize_undirected(edges), memb)
