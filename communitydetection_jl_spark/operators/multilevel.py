"""Multilevel (hierarchical) label propagation — the hlpa driver.

Reference parity: hlpa (src/hlpa.jl:65-142) / the cleaner single-run
loop in src/multilevel_label_propagation.jl:1-35 —

    weights = per-edge similarity (src/hlpa.jl:74)
    repeat: LPA on current graph → collapse by labels → recurse
    while the community count keeps shrinking; project memberships
    down and renumber.

Spark shape: each level reuses the LPA superstep driver (operators/lpa)
on the collapsed edge table; collapse is a join+groupBy (coarsen.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.graph import canonicalize_undirected, materialize_iter
from .coarsen import collapse_graph, from_coarser_partition
from .lpa import label_propagation, permute_labels
from .triangles import similarity


@dataclass
class HLPAResult:
    membership: DataFrame  # (id, comm)
    levels: int
    history: list = field(default_factory=list)


def hlpa(
    edges: DataFrame,
    use_similarity: bool = True,
    max_levels: int = 10,
    max_iter: int = 100,
    ledger=None,
    record_quality: bool = False,
    parity_expr=None,
) -> HLPAResult:
    """Hierarchical LPA. ``use_similarity=True`` weights the first level
    by (cn+2)/(deg_u+deg_v-cn) like the reference default.
    ``record_quality=True`` stamps each level's history entry with the
    modularity of the composed membership on the base graph — the
    per-level Q ledger of hlpa_record_Q (src/hlpa.jl:202-257; per-move
    Q is meaningless under bulk-synchronous sweeps, per-level is the
    faithful granularity). ``parity_expr`` (e.g. ``pmod(id, 2)``)
    replaces each level's default hash move-gate so the whole
    multilevel run is SQL-oracle-reproducible; with
    ``use_similarity=False`` every vote weight is then an
    integer-valued double (unit first level, count-carrying collapses)
    and the driver's unrolled recursive-CTE oracle replays all levels
    exactly."""
    base = canonicalize_undirected(edges)
    if use_similarity:
        cur = similarity(base).select("src", "dst", F.col("similarity").alias("weight"))
    else:
        cur = base
    cur = materialize_iter(cur)

    memb: DataFrame | None = None
    history = []
    prev_q = None
    levels = 0
    for level in range(max_levels):
        res = label_propagation(
            cur, weighted=True, max_iter=max_iter,
            renumber=False, ledger=ledger, state_name=f"lpa_level{level}",
            parity_expr=parity_expr,
        )
        lvl = res.labels  # (id, comm)
        n = lvl.count()
        q = lvl.select("comm").distinct().count()
        entry = {"level": level, "n": n, "communities": q,
                 "lpa_iters": res.iterations}
        memb = lvl if memb is None else from_coarser_partition(memb, lvl)
        memb = materialize_iter(memb)  # truncate the level-join chain
        if record_quality:
            from .modularity import modularity

            entry["Q"] = modularity(base, memb)
            if ledger is not None:
                ledger.record(level, {"communities": q, "Q": entry["Q"]})
        history.append(entry)
        levels += 1
        if prev_q is not None and q >= prev_q:
            break
        if q == n or q <= 1:
            break
        prev_q = q
        cur = materialize_iter(collapse_graph(cur, lvl))

    memb = permute_labels(memb)
    return HLPAResult(memb, levels, history)
