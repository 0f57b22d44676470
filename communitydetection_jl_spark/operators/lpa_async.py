"""Shard-local asynchronous LPA — the applyInPandas fidelity mode.

The reference's LPA is asynchronous: a shuffled sequential sweep where
later vertices see earlier moves (src/label_propagation.jl:98-116).
The BSP engine (operators/lpa.py) replaces that with semi-synchronous
supersteps; this module provides the async-equivalent mode promised in
SURVEY.md §7.3: hash-partition the adjacency into shards, run the
reference's sequential sweep *inside each shard* with a derived seed
(grouped-map pandas UDF over Arrow batches), then exchange boundary
labels and repeat. Within a shard the semantics are exactly the
reference's; across shards it is bulk-synchronous — the documented
semantic difference.

Each global round:
  1. adjacency edges grouped by shard(listener) — applyInPandas runs a
     seeded async sweep over the shard's internal vertices, votes from
     both internal and boundary neighbors;
  2. updated labels are unioned and written as the round's state
     (plans/iterstate.StateLoop: one write per round with the mover
     count observed on it; with a ledger, the resume point);
  3. converged when no label changes in a round.
"""

from __future__ import annotations

from collections import Counter, defaultdict
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.graph import materialize_iter, symmetrize, vertices_of, with_weight
from ..plans.iterstate import StateLoop
from .lpa import permute_labels


@dataclass
class AsyncLPAResult:
    labels: DataFrame
    rounds: int
    changed_history: list = field(default_factory=list)


def _sweep_shard(
    pdf: pd.DataFrame, seed: int, rnd: int, deterministic: bool = False
) -> pd.DataFrame:
    """Reference-semantics async sweep over one shard.

    pdf columns: shard, src, dst, vote, src_lbl, dst_lbl. Vertices owned
    by the shard are the src side; dst labels are frozen snapshots for
    boundary neighbors but live for internal ones.

    ``deterministic=True`` replaces the reference's shuffled order /
    random tie-break with ascending-id order and smallest-label ties —
    semantically still an async sweep, but replayable micro-step by
    micro-step in the driver's recursive-CTE oracle."""
    shard = int(pdf["shard"].iloc[0])
    rng = np.random.default_rng((seed * 1_000_003 + shard) * 31 + rnd)
    labels: dict = {}
    adj = defaultdict(list)
    for s, d, v, sl, dl in zip(pdf["src"], pdf["dst"], pdf["vote"],
                               pdf["src_lbl"], pdf["dst_lbl"]):
        labels.setdefault(s, sl)
        if d not in labels:
            labels[d] = dl  # boundary snapshot (may be overwritten if internal)
        adj[s].append((d, v))
    internal = sorted(set(pdf["src"]))
    order = list(internal)
    if not deterministic:
        rng.shuffle(order)
    changed = []
    for u in order:
        cnt = Counter()
        for v, w in adj[u]:
            cnt[labels[v]] += w
        if not cnt:
            continue
        max_cnt = max(cnt.values())
        # reference: random scan over labels, strictly-greater wins →
        # uniform choice among maxima (src/label_propagation.jl:31-52)
        maxima = sorted(l for l, c in cnt.items() if c == max_cnt)
        if deterministic or len(maxima) == 1:
            new = maxima[0]
        else:
            new = maxima[rng.integers(len(maxima))]
        if new != labels[u]:
            labels[u] = new
            changed.append(u)
    return pd.DataFrame(
        {
            "id": internal,
            "lbl": [int(labels[u]) for u in internal],
            "changed": [u in set(changed) for u in internal],
        }
    )


def _record_sweep(pdf: pd.DataFrame, seed: int, deterministic: bool,
                  max_iter: int) -> pd.DataFrame:
    """Reference label_propagation_record! replayed exactly
    (src/multilevel_label_propagation.jl:166-212): frontier of active
    nodes, shuffled scan order per pass, vote!, global modularity
    appended after EVERY vote (moves and non-moves alike), a non-move
    deactivates the node, a move reactivates its neighbors.

    Runs inside ONE Arrow task over the whole (symmetrized) graph —
    per-move recording is inherently sequential, the same in-memory
    bound as the reference process itself. Modularity is maintained
    incrementally in O(deg(u)) per vote:

        Q = Σ_c (e2[c]/m2 − (d[c]/m2)²)

    with m2 = Σ sym weights, e2[c] = intra-community sym weight and
    d[c] = Σ member degrees. Output rows: one per vote
    (step, id, lbl, q) plus step=-1 rows carrying every vertex's final
    label (isolated vertices never vote but still need a label row)."""
    rng = np.random.default_rng(seed)
    labels: dict = {}
    adj = defaultdict(list)
    deg = defaultdict(float)
    m2 = 0.0
    for s, d, v in zip(pdf["src"], pdf["dst"], pdf["vote"]):
        labels.setdefault(s, s)
        labels.setdefault(d, d)
        adj[s].append((d, v))
        deg[s] += v
        m2 += v
    nodes = sorted(labels)
    if m2 <= 0:
        return pd.DataFrame(
            {"step": [-1] * len(nodes), "id": nodes,
             "lbl": [int(labels[u]) for u in nodes], "q": [0.0] * len(nodes)}
        )
    # singleton init: e2[c] = self-loop weight, d[c] = deg
    e2 = defaultdict(float)
    dc = defaultdict(float)
    for u in nodes:
        dc[u] = deg[u]
        for v, w in adj[u]:
            if v == u:
                e2[u] += w
    q = sum(e2[c] for c in dc) / m2 - sum(x * x for x in dc.values()) / (m2 * m2)

    def q_delta_terms(c, de2, ddc):
        nonlocal q
        q += de2 / m2
        q -= ((dc[c] + ddc) ** 2 - dc[c] ** 2) / (m2 * m2)
        e2[c] += de2
        dc[c] += ddc

    active = set(nodes)
    steps: list[tuple[int, int, int, float]] = []
    it = 0
    step = 0
    while active and it < max_iter:
        it += 1
        order = sorted(active)
        if not deterministic:
            rng.shuffle(order)
        for u in order:
            if u not in active:
                continue
            cnt = Counter()
            selfw = 0.0
            w_to = defaultdict(float)
            for v, w in adj[u]:
                if v == u:
                    selfw += w
                    cnt[labels[u]] += w  # self-loop votes for own label
                    continue
                cnt[labels[v]] += w
                w_to[labels[v]] += w
            if not cnt:
                active.discard(u)
                continue
            max_cnt = max(cnt.values())
            maxima = sorted(l for l, c in cnt.items() if c == max_cnt)
            if deterministic or len(maxima) == 1:
                new = maxima[0]
            else:
                new = maxima[rng.integers(len(maxima))]
            old = labels[u]
            if new != old:
                # u leaves old: intra sym weight drops 2·w_to[old]+self
                q_delta_terms(old, -2.0 * w_to.get(old, 0.0) - selfw, -deg[u])
                q_delta_terms(new, 2.0 * w_to.get(new, 0.0) + selfw, deg[u])
                labels[u] = new
                for v, _ in adj[u]:
                    if v != u:
                        active.add(v)
            else:
                active.discard(u)
            step += 1
            steps.append((step, int(u), int(labels[u]), q))
    out = pd.DataFrame(steps, columns=["step", "id", "lbl", "q"]) if steps else \
        pd.DataFrame({"step": [], "id": [], "lbl": [], "q": []})
    fin = pd.DataFrame(
        {"step": [-1] * len(nodes), "id": nodes,
         "lbl": [int(labels[u]) for u in nodes], "q": [q] * len(nodes)}
    )
    return pd.concat([out, fin], ignore_index=True).astype(
        {"step": "int64", "id": "int64", "lbl": "int64", "q": "float64"}
    )


def lpa_record(
    edges: DataFrame,
    seed: int = 42,
    deterministic: bool = False,
    max_iter: int = 1000,
    weighted: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Per-move LPA with a modularity value recorded after every vote —
    the reference's label_propagation_record! surface
    (src/multilevel_label_propagation.jl:166-212), which the BSP engine
    (operators/lpa.py) can only approximate per-superstep.

    Returns ``(labels, q_record)``: labels (id, comm) and q_record
    (step, id, lbl, q) ordered by vote step. The sweep itself is one
    sequential Arrow task (per-move recording serializes by
    definition); the surrounding plumbing — symmetrize, vote weights,
    final-label extraction — stays in DataFrame land.

    Practical size bound: the single Arrow task materializes the whole
    symmetrized edge list (~48B/arc in pandas) plus the per-move
    record, so keep inputs under ~50M arcs / a few GB of task memory.
    This is the fidelity mode for reference-parity studies; at scale
    use lpa() (BSP, per-superstep Q via record_quality ledgers) or
    lpa_async's sharded sweeps."""
    e = with_weight(edges)
    sym = symmetrize(e).select(
        "src", "dst", (F.col("weight") if weighted else F.lit(1.0)).alias("vote")
    )

    def sweep1(pdf: pd.DataFrame) -> pd.DataFrame:
        return _record_sweep(pdf, seed, deterministic, max_iter)

    rec = sym.withColumn("shard", F.lit(0)).groupBy("shard").applyInPandas(
        sweep1, "step long, id long, lbl long, q double"
    )
    rec = materialize_iter(rec)
    labels = rec.filter(F.col("step") == -1).select(
        "id", F.col("lbl").alias("comm"))
    qrec = rec.filter(F.col("step") >= 0)
    return labels, qrec


def lpa_async(
    edges: DataFrame,
    n_shards: int = 32,
    max_rounds: int = 50,
    seed: int = 42,
    renumber: bool = True,
    weighted: bool = False,
    ledger=None,
    deterministic: bool = False,
    shard_expr=None,
) -> AsyncLPAResult:
    """Asynchronous-within-shard LPA to fixpoint.

    ``deterministic=True`` + ``shard_expr`` (e.g. ``pmod(id, n)`` —
    portable, unlike the default xxhash64) makes every micro-step of
    every round a pure function of the data, so the driver's SQL
    oracle replays the run exactly (shards advance in lockstep: within
    a round they never interact — boundary labels are frozen at round
    start — so 'the t-th vertex of each shard' is a well-defined
    global micro-step)."""
    spark = edges.sparkSession
    loop = StateLoop(spark, "lpa_async", ledger=ledger)
    e = with_weight(edges)
    sym = loop.side(symmetrize(e).select(
        "src", "dst", (F.col("weight") if weighted else F.lit(1.0)).alias("vote")
    ).repartition(loop.parts, "src"), "src")
    # a ledger resumes from the newest complete round: every round's
    # RNG is seeded by its number, so the rest of the run is the same
    state = loop.resume() if ledger is not None else None
    if state is None:
        state = loop.init(vertices_of(e).select(
            "id", F.col("id").alias("lbl"), F.lit(False).alias("changed")))

    schema = "id long, lbl long, changed boolean"
    changed_history: list[int] = []
    rnd = loop.iteration
    while rnd < max_rounds:
        rnd += 1
        labels = state.select("id", "lbl")
        shard_col = (
            shard_expr(F.col("src")) if shard_expr is not None
            else F.pmod(F.xxhash64("src"), F.lit(n_shards))
        )
        shard_edges = (
            sym.withColumn("shard", shard_col)
            .join(labels.select(F.col("id").alias("src"), F.col("lbl").alias("src_lbl")), "src")
            .join(labels.select(F.col("id").alias("dst"), F.col("lbl").alias("dst_lbl")), "dst")
        )

        # applyInPandas takes a 1-arg (data) function; the round is
        # bound when the UDF is pickled, inside this round's write
        def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
            return _sweep_shard(pdf, seed, rnd, deterministic)

        new_labels = shard_edges.groupBy("shard").applyInPandas(sweep, schema)
        # vertices with no edges keep their label
        isolated = labels.join(new_labels.select("id"), "id", "left_anti").select(
            "id", "lbl", F.lit(False).alias("changed")
        )
        # ONE action per round: the state write, movers observed on it
        state, got = loop.step(
            new_labels.unionByName(isolated),
            {"changed": F.sum(F.col("changed").cast("long"))},
        )
        n_changed = int(got.get("changed") or 0)
        changed_history.append(n_changed)
        if n_changed == 0:
            break

    out = state.select("id", F.col("lbl").alias("comm"))
    if renumber:
        out = permute_labels(out)
    loop.cleanup(keep_final=True)
    return AsyncLPAResult(out, rnd, changed_history)
