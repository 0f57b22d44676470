"""PageRank as iterative DataFrame joins with dangling-mass handling.

Reference semantics: visit_prob_directed (src/DiFlowGraph.jl:50-85) —
power iteration

    p'[u] = dp + τ/n + (1-τ) * Σ_{v→u} trans(v,u) * p[v]
    dp    = Σ_{dangling v} (1-τ) * p[v] / n

with τ the *teleport* mass (τ=0.15 ⇒ follow mass 0.85). This is
algebraically identical to classic PageRank with damping d = 1-τ and
dangling mass redistributed uniformly; ``damping`` below is d.

Convergence: L1 norm Σ|p'-p| ≤ tol (reference default sqrt(eps) ≈
1.49e-8, max 1000 iterations).

Execution discipline (profiled at 54M arcs, plans/iterstate.py):
 - per iteration ONE Spark action: the state parquet/bucketed-table
   write; the L1 delta and the NEXT iteration's dangling mass ride on
   the same job as ``observe()`` metrics;
 - the dangling mass enters the plan as a *literal* (it was observed
   on the previous write) — no per-iteration broadcast subquery, no
   semi-join; dangling is derived from the state's out-degree column;
 - arcs: hash-partitioned by src and materialized once as the state
   loop's side relation (cached, or a bucketed table in mode="tables"
   so both per-iteration joins are co-partitioned with zero exchange
   on the wide side);
 - **constant-weight fast path**: when every arc has the same weight
   (the web link-graph case — trans prob is then exactly 1/outdeg),
   the arc table is a bare (src, dst) pair list — no per-arc double —
   and each superstep streams p[src]/outdeg[src] shares. Halves the
   bytes scanned+joined per superstep (the scaling-critical term at
   N→4N executors); the general weighted path uses the same CSR shape
   with (dst, trans_prob) struct payloads (src/DiFlowGraph.jl:22-44),
   so both paths probe n state rows per superstep instead of m;
 - state round-trips through parquet — lineage truncation, no
   block-manager GC churn, resume snapshots for free.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.graph import csr_adjacency
from ..plans.iterstate import StateLoop, no_aqe, shuffle_parts
from .degrees import trans_prob_directed


@dataclass
class PageRankResult:
    ranks: DataFrame  # (id, pagerank)
    iterations: int
    delta: float
    deltas: list = field(default_factory=list)
    iter_seconds: list = field(default_factory=list)


def _is_constant_weight(edges: DataFrame) -> bool:
    """True iff the trans prob degenerates to 1/outdeg: no weight
    column, or one global constant weight. One columnar min/max scan,
    paid once per run (saves a double per arc every superstep)."""
    if "weight" not in edges.columns:
        return True
    row = edges.agg(F.min("weight").alias("lo"), F.max("weight").alias("hi")).collect()[0]
    return row["lo"] is not None and float(row["lo"]) == float(row["hi"]) > 0.0


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-9,
    max_iter: int = 1000,
    ledger=None,
    mode: str = "dir",
) -> PageRankResult:
    """Power-iteration PageRank over a directed arc table.

    ``damping`` = follow probability d (reference τ = 1-d = 0.15).
    Returns per-vertex probabilities summing to 1 (reference parity:
    allclose 1e-6 against the NumPy oracle of src/DiFlowGraph.jl:50-85).
    ``mode="tables"`` uses bucketed managed tables for arcs+state
    (fastest at scale; needs a writable warehouse dir).
    """
    spark = edges.sparkSession
    tau = 1.0 - damping
    loop = StateLoop(spark, "pr_state", mode=mode, bucket_key="id",
                     ledger=ledger)
    # partition/bucket count for arcs+state (see StateLoop)
    P = loop.parts

    uniform = _is_constant_weight(edges)
    if uniform:
        # CSR fast path: one row per source with its out-neighbor array
        # (src, dsts) — ~half the bytes of the (src,dst) pair list and
        # n join probes instead of m per superstep (measured 2.3×
        # faster supersteps at 163M arcs); trans prob is 1/size(dsts)
        # hub out-adjacency is chunked at ~64k per row (csr_adjacency)
        # so a 1e7-out-degree vertex never becomes one giant array row;
        # the superstep explodes the arrays, so chunk rows sum the same
        arcs_plan = csr_adjacency(
            edges.select("src", "dst"), "src", "dst", "dsts", parts=P
        )
    else:
        # weighted CSR: one row per source with (dst, trans_prob)
        # struct array — same chunk cap and n-probe join as the uniform
        # path, 16B per arc instead of a 24B (src,dst,tp) pair row;
        # closes the 2× message-width gap for weighted graphs
        arcs_plan = csr_adjacency(
            trans_prob_directed(edges).select(
                "src", "dst", F.col("trans_prob").alias("tp")
            ),
            "src", "dst", "nbrs",
            payload=F.struct("dst", "tp"),
            parts=P,
        )
    # csr_adjacency(parts=P) already lands on hash(src, P)
    arcs = loop.side(arcs_plan, "src")
    adj_col = "dsts" if uniform else "nbrs"

    state = loop.resume() if ledger is not None else None
    start_iter = loop.iteration if state is not None else 0
    dang = F.col("outdeg") == 0
    if state is None:
        # vertex discovery + out-degree in ONE union-aggregate over the
        # materialized CSR (src keys contribute their array sizes, dst
        # occurrences contribute 0): one exchange with map-side partial
        # aggregation, replacing the former explode→distinct→join
        # pipeline (a second full-m pass plus a join). The n and
        # dangling counts ride the init write as observe() metrics —
        # no post-init scan job.
        from pyspark.sql import Observation

        dst_expr = F.col("_e") if uniform else F.col("_e.dst")
        state0 = (
            arcs.select(
                F.col("src").alias("id"),
                F.size(adj_col).cast("long").alias("_d"),
            )
            .unionByName(
                arcs.select(F.explode(adj_col).alias("_e"))
                .select(dst_expr.alias("id"), F.lit(0).cast("long").alias("_d"))
            )
            .groupBy("id")
            .agg(F.sum("_d").cast("int").alias("outdeg"))
            .select("id", F.lit(0.0).alias("p"), "outdeg")
        )
        init_obs = Observation(f"{loop.name}_init_stats")
        state0 = state0.observe(
            init_obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(dang.cast("long")).alias("nd"),
        )
        state = loop.init(state0)
        got0 = init_obs.get
        n = int(got0["n"] or 0)
        nd = int(got0["nd"] or 0)
        ptot = 0.0
    else:
        row = state.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dang.cast("long")).alias("nd"),
            F.sum("p").alias("ptot"),
        ).collect()[0]
        n = int(row["n"])
        nd = int(row["nd"] or 0)
        ptot = float(row["ptot"] or 0.0)
    if n == 0:
        loop.cleanup()
        empty = spark.createDataFrame([], "id long, pagerank double")
        return PageRankResult(empty, 0, 0.0)
    if start_iter == 0 or not ptot:
        # fresh run: uniform init (can't bake 1/n into state0 before n
        # is known without an extra count job); rides the first
        # superstep's write lazily
        state = state.select("id", F.lit(1.0 / n).alias("p"), "outdeg")
        dang_mass = nd / n
    else:
        dang_mass = float(
            state.agg(F.sum(F.when(dang, F.col("p")))).collect()[0][0] or 0.0
        )

    delta = float("inf")
    deltas: list[float] = []
    it = start_iter
    # shuffle partitions must equal the bucket count or the msgs
    # groupBy lands on an incompatible partitioning and the state join
    # re-exchanges it every superstep (restored via context manager
    # even if a superstep raises)
    with shuffle_parts(spark, P), no_aqe(spark):
        while delta > tol and it < max_iter:
            it += 1
            if uniform:
                shares = state.filter(F.col("outdeg") > 0).select(
                    F.col("id").alias("src"),
                    (F.col("p") / F.col("outdeg")).alias("share"),
                )
                msgs = (
                    arcs.join(shares, "src")
                    .select(F.explode("dsts").alias("id"), "share")
                    .groupBy("id")
                    .agg(F.sum("share").alias("msg"))
                )
            else:
                msgs = (
                    arcs.join(state.select(F.col("id").alias("src"), "p"), "src")
                    .select(F.explode("nbrs").alias("nb"), "p")
                    .groupBy(F.col("nb.dst").alias("id"))
                    .agg(F.sum(F.col("nb.tp") * F.col("p")).alias("msg"))
                )
            new_state = (
                state.select("id", F.col("p").alias("p_old"), "outdeg")
                .join(msgs, "id", "left")
                .select(
                    "id",
                    (
                        F.lit(tau / n + damping * dang_mass / n)
                        + F.lit(damping) * F.coalesce("msg", F.lit(0.0))
                    ).alias("p"),
                    F.col("p_old"),
                    "outdeg",
                )
            )
            state, got = loop.step(
                new_state,
                {
                    "delta": F.sum(F.abs(F.col("p") - F.col("p_old"))),
                    "dm": F.sum(F.when(dang, F.col("p"))),
                },
                write_cols=["id", "p", "outdeg"],
            )
            delta = float(got.get("delta") or 0.0)
            dang_mass = float(got.get("dm") or 0.0)
            deltas.append(delta)

    out = state.select("id", F.col("p").alias("pagerank"))
    # releases the arcs; the final iteration's state files (or table)
    # back the returned DataFrame and are kept
    loop.cleanup(keep_final=True)
    return PageRankResult(out, it, delta, deltas, list(loop.timings))
