"""Graph coarsening / multilevel plumbing (the Louvain skeleton).

Louvain (six objectives) and both Infomaps run one skeleton, as the
reference runs them all through optimize_partition!
(src/Optimiser.jl:3-133): ``sweep_level`` runs one level of bulk
parity sweeps (move_nodes! in the multi-greedy form of
src/MultiGreedy.jl:1-34) and ``optimize_levels`` sweeps, collapses,
recurses and projects. An operator supplies its sweep plan, per-level
side relations, driver-local solver and collapse.

Reference parity:
 - collapse_graph: contract by membership, edge weight = Σ original,
   undirected canonicalized via minmax (src/hlpa.jl:299-382,
   src/MPartition.jl:177-248);
 - from_coarser_partition!: membership composition
   (src/AbstractPartition.jl:23-36);
 - renumber_communities!: dense 1..q ids in decreasing size order
   (src/AbstractPartition.jl:5-21);
 - weight-conservation sanity check to 1e-6 (src/MPartition.jl:232-238).

Spark shape: two membership equi-joins + one groupBy(src,dst) sum for
collapse; one relabel join for projection. The renumber window runs
over the per-community table (q rows, small after coarsening), never
over all vertices.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.graph import materialize_iter, with_weight
from ..functions.ids import rank_small_or_large, rank_window_max
from ..plans.iterstate import StateLoop, no_aqe, shuffle_parts


def collapse_graph(
    edges: DataFrame,
    membership: DataFrame,
    directed: bool = False,
    check_conservation: bool = False,
    expected_weight: float | None = None,
) -> DataFrame:
    """Contract the graph by community: one node per community, edge
    weight = sum of original weights; intra-community edges become
    self-loops. Undirected output is canonical (src<=dst)."""
    lbl = membership.columns[1]
    m = membership.select("id", F.col(lbl).alias("_c"))
    e = (
        with_weight(edges)
        .join(m.withColumnRenamed("id", "src").withColumnRenamed("_c", "cu"), "src")
        .join(m.withColumnRenamed("id", "dst").withColumnRenamed("_c", "cv"), "dst")
    )
    if directed:
        out = e.groupBy(
            F.col("cu").alias("src"), F.col("cv").alias("dst")
        ).agg(F.sum("weight").alias("weight"))
    else:
        out = (
            e.select(
                F.least("cu", "cv").alias("src"),
                F.greatest("cu", "cv").alias("dst"),
                "weight",
            )
            .groupBy("src", "dst")
            .agg(F.sum("weight").alias("weight"))
        )
    if check_conservation:
        # callers that already hold the level's total weight (louvain
        # computes it for the null model) pass it in so the check costs
        # one small agg over the collapsed output instead of an extra
        # full scan of the fine edge table
        before = (
            expected_weight
            if expected_weight is not None
            else float(with_weight(edges).agg(F.sum("weight")).collect()[0][0] or 0.0)
        )
        after = float(out.agg(F.sum("weight")).collect()[0][0] or 0.0)
        assert abs(before - after) < 1e-6, f"weight not conserved: {before} vs {after}"
    return out


def from_coarser_partition(membership: DataFrame, coarser: DataFrame) -> DataFrame:
    """Compose memberships: fine id → fine comm → coarse comm.

    ``membership`` is (id, comm) on the fine graph; ``coarser`` is
    (id, comm) on the collapsed graph whose ids are fine communities."""
    fine_lbl = membership.columns[1]
    coarse_lbl = coarser.columns[1]
    c = coarser.select(
        F.col("id").alias("_fine_comm"), F.col(coarse_lbl).alias("_new")
    )
    return (
        membership.select("id", F.col(fine_lbl).alias("_fine_comm"))
        .join(F.broadcast(c), "_fine_comm")
        .select("id", F.col("_new").alias(fine_lbl))
    )


def renumber_communities(membership: DataFrame) -> DataFrame:
    """Dense 1..q community ids in decreasing size order (ties by old
    id) — src/AbstractPartition.jl:5-21.

    Ranking is global-window-free (rank_small_or_large): a fragmented
    web graph can leave O(1e8) communities, which an unpartitioned
    row_number window would sort on a single executor."""
    lbl = membership.columns[1]
    sizes = membership.groupBy(F.col(lbl).alias("_old")).agg(F.count("*").alias("n"))
    q = sizes.count()
    order = F.struct((-F.col("n")).alias("nn"), F.col("_old").alias("o"))
    mapping = rank_small_or_large(sizes, order, n=q).select(
        "_old", F.col("rank").alias("_new")
    )
    # broadcast only a genuinely small mapping; a fragmented partition
    # (q ~ n) must shuffle-join instead
    if q <= rank_window_max():
        mapping = F.broadcast(mapping)
    return (
        membership.select("id", F.col(lbl).alias("_old"))
        .join(mapping, "_old")
        .select("id", F.col("_new").alias(lbl))
    )


def recurse_local(pairs, nodes, comm: dict, size, solve) -> dict:
    """The driver-local solvers' multilevel tail: while communities
    shrink, collapse the (u, v, w) pairs by ``comm`` (canonical
    community pairs, weights summed, intra-community weight a
    self-loop), re-solve with ``solve(coarse_pairs, community sizes)``
    (sizes = Σ ``size(u)``) and project a coarse result that merged
    further."""
    n_comms = len(set(comm.values()))
    if n_comms == len(nodes):
        return comm
    agg = defaultdict(float)
    csize = defaultdict(float)
    for u in nodes:
        csize[comm[u]] += size(u)
    for u, v, w in pairs:
        a, b = comm[u], comm[v]
        agg[(min(a, b), max(a, b))] += w
    coarse = solve([(a, b, w) for (a, b), w in agg.items()], dict(csize))
    if len(set(coarse.values())) < n_comms:
        return {u: coarse[comm[u]] for u in comm}
    return comm


def move_parity(parity_expr=None):
    """A sweep's conflict gate: vertices whose parity equals the sweep's
    move. Default xxhash64 parity; det runs pass a SQL-replayable
    expression such as ``pmod(id, 2)``."""
    return parity_expr if parity_expr is not None else F.pmod(F.xxhash64("id"), F.lit(2))


def sweep_level(verts: DataFrame, rows: int, setup, name: str, level: int,
                max_sweeps: int, move_floor: float,
                gain_floor: float | None = None, m: float = 0.0,
                ledger=None, mode: str = "dir"):
    """Run bulk parity sweeps on one level until two consecutive sweeps
    (both parities) are quiet. Returns ((id, comm), info).

    ``verts`` (id) seeds the identity membership; ``rows`` (the level's
    edge or arc count) sizes the partitions: a 100k-edge level on 32
    cores would otherwise run ~15 stages x 32 near-empty tasks per
    sweep. ``setup(loop, n)`` builds the level's side relations through
    ``loop.side`` (released when the level ends) and returns
    ``plan(memb, parity)``, a plan of (id, comm, moved, gain) rows.
    The membership write carries the moved count and the summed gain
    as observed metrics.

    A sweep is quiet when at most ``move_floor``·n vertices move (the
    reference's δ move floor, src/Optimiser.jl:148) or, with a
    ``gain_floor``, when its summed gain is at most ``gain_floor``·m.
    Each sweep is one ``ledger.append`` record tagged with level and
    sweep. ``info``: parts, n, sweeps, sweep_moved, sweep_gain,
    sweep_seconds."""
    spark = verts.sparkSession
    parts = max(4, min(spark.sparkContext.defaultParallelism, rows // 50_000 + 1))
    loop = StateLoop(spark, f"{name}_l{level}", mode=mode, bucket_key="id",
                     parts=parts)
    # ONE override for the whole level: init, side relations and every
    # sweep run at `parts`, or the cached tables land on a partitioning
    # the sweeps must re-align with an extra exchange each sweep
    with shuffle_parts(spark, parts), no_aqe(spark):
        memb = loop.init(verts.select("id", F.col("id").alias("comm")))
        n = memb.count()
        info = {"parts": parts, "n": n, "sweeps": 0, "sweep_moved": [],
                "sweep_gain": []}
        plan = setup(loop, n) if max_sweeps > 0 else None
        quiet = 0
        for sweep in range(max_sweeps):
            memb, got = loop.step(
                plan(memb.select("id", "comm"), sweep % 2),
                {"moved": F.sum(F.col("moved").cast("long")),
                 "gain": F.sum("gain")},
                write_cols=["id", "comm"],
            )
            moved = int(got.get("moved") or 0)
            gain = float(got.get("gain") or 0.0)
            info["sweeps"] = sweep + 1
            info["sweep_moved"].append(moved)
            info["sweep_gain"].append(round(gain, 6))
            if ledger is not None:
                ledger.append({"level": level, "sweep": sweep,
                               "moved": moved, "gain": gain})
            if moved <= move_floor * n or (
                gain_floor is not None and gain <= gain_floor * m
            ):
                quiet += 1
                if quiet == 2:
                    break
            else:
                quiet = 0
    info["sweep_seconds"] = [round(t, 3) for t in loop.timings]
    # releases the side relations too, or a multi-level run piles up one
    # 2m-row view per level
    loop.cleanup(keep_final=True)
    return memb.select("id", "comm"), info


# the per-level run statistics every distributed history entry carries
_LEVEL_STATS = ("parts", "n", "sweeps", "sweep_moved", "sweep_gain",
                "sweep_seconds")


def optimize_levels(graph: tuple, local, level, collapse,
                    local_threshold: int, max_levels: int,
                    ledger=None, quality=None):
    """The multilevel loop (optimize_partition!, src/Optimiser.jl:112-133):
    sweep a level, project its membership onto the finer one, collapse,
    recurse. Returns (composed (id, comm) or None, history).

    ``graph`` is the operator's level graph, a tuple whose first frame
    holds the level's edges or arcs. A level with at most
    ``local_threshold`` of them is finished by ``local(*graph)`` (a dict
    id -> comm from the driver-local exact solver) and ends the loop;
    otherwise ``level(*graph, level_no)`` returns a sweep_level result
    and ``collapse(*graph, memb, info)`` the next level's graph. The
    loop stops when a level merges nothing. One history entry per
    level, holding sweep_level's statistics only (an operator's extra
    ``info`` keys, such as Louvain's level weight ``m``, feed its
    collapse, not the history); ``quality`` (membership -> float)
    stamps each distributed entry with the composed membership's
    objective value (hlpa_record_Q, src/hlpa.jl:202-257). Level
    summaries go to the ledger after the level's sweep records."""
    spark = graph[0].sparkSession
    memb: DataFrame | None = None
    history = []
    for level_no in range(max_levels):
        size = graph[0].count()
        if size == 0:
            break
        if size <= local_threshold:
            comm = local(*graph)
            lvl = spark.createDataFrame(
                [(int(u), int(c)) for u, c in comm.items()], "id long, comm long"
            )
            memb = lvl if memb is None else from_coarser_partition(memb, lvl)
            history.append({"level": level_no, "edges": size, "mode": "local"})
            break
        lvl, info = level(*graph, level_no)
        q = lvl.select("comm").distinct().count()
        memb = lvl if memb is None else from_coarser_partition(memb, lvl)
        memb = materialize_iter(memb)  # truncate the level-join chain
        entry = {"level": level_no, "edges": size, "mode": "distributed",
                 "q": q, **{k: info[k] for k in _LEVEL_STATS}}
        if quality is not None:
            entry["Q"] = quality(renumber_communities(memb))
        history.append(entry)
        if ledger is not None:
            ledger.append({k: entry[k] for k in ("level", "edges", "n", "q", "Q")
                           if k in entry})
        if q == info["n"]:
            break
        graph = collapse(*graph, lvl, info)
    return memb, history
