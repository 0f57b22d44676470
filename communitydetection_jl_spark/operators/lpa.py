"""Label propagation family: lpa / nsdlpa / weighted (hlpa) votes.

Reference parity (semantics, not execution): the reference's LPA is
*asynchronous* — shuffled vertex order, in-place moves, random
tie-breaks (src/label_propagation.jl:98-116). Bit-exact replication
under bulk-synchronous execution is impossible in general (SURVEY.md
§7.7); this engine implements the documented Spark-native semantics:

 - gather = one join (symmetrized edges ⋈ labels on dst) + one
   groupBy(listener, label) weighted count — the whole frontier in one
   superstep (src/label_propagation.jl:17-29 for all vertices at once);
 - argmax with deterministic tie-breaking
   (count desc, sticky-to-current, smallest label) — the deterministic
   counterpart of the reference's shuffled strictly-greater scan
   (src/label_propagation.jl:31-52) and the multilevel variant's
   sticky-current rule (src/multilevel_label_propagation.jl:239-266);
 - *semi-synchronous* update schedule: each superstep only vertices
   whose xxhash64(id) parity matches the iteration parity may move.
   Pure BSP LPA oscillates on symmetric structures (a single edge
   flips labels forever); hash-parity alternation is the standard
   deterministic fix and converges like async LPA.

Convergence: the run stops after two consecutive zero-mover
supersteps — one quiet superstep per parity over the same labeling is
a true fixpoint (a lone quiet superstep only certifies one parity).

Execution discipline (plans/iterstate.py): per superstep exactly ONE
action — the state write with the mover counts observed on the same
job. Each superstep runs one of three plans, picked by ONE gate at the
top of the superstep from the previous write's observed cardinalities
(movers, their degree mass over the last one and two supersteps) — the
Spec-QP rule of planning each step from what the last one measured:
the identity-init min-neighbor first superstep, the delta-counts
argmax (``_DELTA_MSGS_FRAC``, ``_DELTA_BCAST_MAX``), or the full gather
(``_FRONTIER_MAX``, ``_GATHER_GROUP_BUDGET``). Three tricks keep the
full gather narrow:

 - self rows: the listener's own label enters the gather as a
   zero-weight row flagged cur=true, so (a) every vertex is covered
   without a left-outer join and (b) the sticky tie-break needs no
   extra join against current labels;
 - active-parity listener filter: under the semi-sync schedule only
   half the vertices may move in a given superstep, so the gather
   keeps only active-parity listeners' messages — the vote multiset
   of an inactive vertex is never consulted this superstep, and its
   row passes through unchanged via the (already-present) state join.
   This halves every full gather's exchange volume and aggregation
   cardinality, including the identity-init first superstep where the
   (listener, label) group count peaks at ~2m. Exact: movers are
   decided per-listener from ALL its speakers' labels, which the
   filter does not touch;
 - the reference's active-node frontier (src/label_propagation.jl:
   100-113) becomes a broadcast semi-join filter: once the observed
   mover-degree bound is at most ``_FRONTIER_MAX``, gather only
   listeners whose argmax inputs could have changed — exact under
   sticky tie-breaking because an unchanged vote multiset cannot flip
   a sticky argmax.
   The run tracks movers of the last TWO supersteps (state column
   ``prevch``): a vertex inactive at superstep t re-evaluates at t+1,
   so movers/mover-neighbors from BOTH t−1 and t are the exact stale
   set;
 - labels round-trip through parquet/bucketed tables (lineage
   truncation + resume snapshots; see iterstate docstring for the
   measured numbers).
"""

from __future__ import annotations

import math
import time as _time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.graph import csr_adjacency, with_weight
from ..plans.iterstate import StateLoop, no_aqe, shuffle_parts
from .triangles import edge_common_neighbors

# Peak-diversity gather widening (_gather_parts): the per-task
# (listener, label) group budget of a full gather's aggregation, and
# the last superstep that may widen. Constants, not deployment knobs:
# the budget bounds one task's aggregation state, which does not
# depend on the cluster size.
_GATHER_GROUP_BUDGET = 1_500_000
_GATHER_WIDEN_UNTIL = 3
# The plan gate's thresholds (label_propagation). A full gather
# narrows to the broadcast stale-set frontier once the last two
# supersteps' Σ(deg+1) over movers is at most _FRONTIER_MAX. The
# delta-counts superstep engages once the last superstep's
# Σ(deg+1) + movers is at most _DELTA_MSGS_FRAC·2m and stays while
# Σ(deg+1) is; its movers are broadcast up to _DELTA_BCAST_MAX and
# shuffle-joined above. Tests lower or negate them to force a path.
_FRONTIER_MAX = 200_000
_DELTA_MSGS_FRAC = 0.25
_DELTA_BCAST_MAX = 2_000_000


@dataclass
class LPAResult:
    labels: DataFrame  # (id, comm)
    iterations: int
    changed_history: list = field(default_factory=list)
    iter_seconds: list = field(default_factory=list)
    # first superstep (1-based) that ran in incremental (delta-counts)
    # mode; None = the run never engaged it
    delta_from: int | None = None
    # True when superstep 1 ran the identity-init min-neighbor plan
    # (valid only when the sym CSR observed zero duplicate pairs)
    first_superstep_fast: bool = False


def _vote_key(cnt, cur, lbl):
    """The argmax ordering every LPA plan shares, as a struct for
    max()/greatest(): count, then the sticky flag ``cur``, then the
    smallest label."""
    return F.struct(
        cnt.alias("cnt"),
        cur.cast("int").alias("t1"),
        (-lbl).alias("t2"),
        lbl.alias("lbl"),
    )


def _struct_argmax(counts: DataFrame, sticky: bool) -> DataFrame:
    """Argmax over a (id, lbl, cnt, cur) count frame as max-of-struct
    (lexicographic: count, sticky flag, smallest-label).

    The struct agg buffer is not fixed-width, so this lands in a
    SortAggregate — but over the ALREADY-AGGREGATED (id,lbl) groups,
    partition-local, inside the same post-exchange stage (no second
    shuffle; the sort is O(groups) per partition and spillable).
    A packed-64-bit-key variant (cnt·2^32 + sticky·2^31 + (2^31−1−lbl),
    order-isomorphic for 31-bit ids) that turns this into a fixed-width
    HashAggregate was A/B'd at the 163M-arc bench corpus and REJECTED:
    identical mover histories, but the extra per-task hash table on top
    of the count agg's (both live in the same post-exchange stage)
    pushed full-gather supersteps from 7.7-14.6s to 33-49s under the
    24g bench heap — the sort is the memory-lean choice exactly where
    cardinality peaks."""
    return counts.groupBy("id").agg(
        F.max(
            _vote_key(F.col("cnt"), F.col("cur") if sticky else F.lit(0),
                      F.col("lbl"))
        ).alias("_want"),
        F.max(
            F.struct(F.col("cur").cast("int").alias("c"), F.col("lbl").alias("lbl"))
        ).alias("_cur"),
    ).select(
        "id",
        F.col("_want.lbl").alias("want_lbl"),
        F.col("_cur.lbl").alias("cur_lbl"),
    )


def lpa_superstep(
    sym_edges: DataFrame,
    labels: DataFrame,
    sticky: bool = True,
    active: DataFrame | None = None,
    listener_pred=None,
    gather_parts: int | None = None,
) -> DataFrame:
    """One gather/argmax superstep. ``sym_edges`` is the unit-vote CSR
    speaker view (dst, srcs) — votes are row counts and the gather
    joins n speaker rows instead of 2m pairs — or a (src, dst, vote)
    pair view. ``labels`` is (id, lbl); returns (id, lbl, changed)
    with every evaluated listener moved to its argmax.

    ``listener_pred`` (a Column predicate over ``id``) restricts the
    gather AND the output to matching listeners — label_propagation
    passes the active-parity test here so a semi-sync full gather
    shuffles only the half of the messages whose argmax can act this
    superstep; the caller passes non-matching rows through unchanged.
    ``active`` (CSR view only) is a broadcast listener set applied
    after the explode. Default None keeps the evaluate-everyone
    contract (the driver's ``lpa_step`` oracle runs this form).

    Kept as a standalone, SQL-checkable unit (the driver oracle runs
    the equivalent ANSI SQL); label_propagation() below fuses the same
    plan into its write job."""
    state = labels.select("id", "lbl")

    def _to_id(df):
        # ONE exchange per superstep: hash-partitioning by id alone
        # satisfies the clustering needs of BOTH the (id,lbl) count
        # agg and the (id) argmax agg. ``gather_parts`` overrides the
        # session partition count for THIS exchange only — the caller
        # widens it at peak label diversity so each task's aggregation
        # state stays inside execution memory (see _gather_parts).
        return (df.repartition(gather_parts, "id") if gather_parts
                else df.repartition("id"))

    if "srcs" in sym_edges.columns:
        # CSR gather: one row per speaker with its listener array
        # (same fast path as PageRank's uniform arcs)
        gather = sym_edges.join(
            state.withColumnRenamed("id", "dst"), "dst"
        ).select(
            F.explode("srcs").alias("id"), "lbl", F.lit(False).alias("cur")
        )
        if listener_pred is not None:
            gather = gather.filter(listener_pred)
        if active is not None:
            gather = gather.join(
                F.broadcast(active), "id", "left_semi"
            )
        self_rows = state.select("id", "lbl", F.lit(True).alias("cur"))
        if listener_pred is not None:
            self_rows = self_rows.filter(listener_pred)
        # ONE exchange per superstep: hash-partitioning by id alone
        # satisfies the clustering needs of BOTH the (id,lbl) count agg
        # and the (id) argmax agg, so neither inserts its own shuffle
        # (vs. two full-width exchanges with the default plan; map-side
        # partial agg is no loss — early supersteps have near-distinct
        # (id,lbl) pairs, late ones are frontier-filtered)
        counts = (
            _to_id(gather.unionByName(self_rows))
            .groupBy("id", "lbl")
            .agg(
                # the self row covers every vertex + flags cur, but is
                # not a vote: subtract it from its own label's count
                (F.count(F.lit(1)) - F.max(F.col("cur").cast("long"))).alias("cnt"),
                F.max("cur").alias("cur"),
            )
        )
    else:
        gather = sym_edges.join(
            state.withColumnRenamed("id", "dst"), "dst"
        ).select(
            F.col("src").alias("id"), "lbl", "vote", F.lit(False).alias("cur")
        )
        if listener_pred is not None:
            gather = gather.filter(listener_pred)
        self_rows = state.select(
            "id", "lbl", F.lit(0.0).alias("vote"), F.lit(True).alias("cur")
        )
        if listener_pred is not None:
            self_rows = self_rows.filter(listener_pred)
        counts = (
            _to_id(gather.unionByName(self_rows))
            .groupBy("id", "lbl")
            .agg(F.sum("vote").alias("cnt"), F.max("cur").alias("cur"))
        )
    # argmax (see _struct_argmax for the physical-plan rationale and
    # the rejected packed-key alternative)
    best = _struct_argmax(counts, sticky)
    return best.select(
        "id",
        F.col("want_lbl").alias("lbl"),
        (F.col("want_lbl") != F.col("cur_lbl")).alias("changed"),
    )


def _vote_edges(edges: DataFrame, weighted: bool, cn_bonus: bool) -> DataFrame:
    """Symmetrized edge view with a ``vote`` column — or bare
    (src, dst) pairs in the default unit-vote case, which
    label_propagation folds into the CSR speaker view (votes become
    row counts). Every vertex of ``edges`` is a src (and a dst) of the
    view."""
    if cn_bonus:
        e = edge_common_neighbors(edges)  # (src, dst, weight, cn), no loops
        e = e.select("src", "dst", (F.lit(1.0) + F.col("cn")).alias("vote"))
        # a zero vote for the speaker's own label changes no count, but
        # keeps a vertex whose only edge is a self-loop in the view
        e = e.unionByName(edges.filter(F.col("src") == F.col("dst")).select(
            "src", "dst", F.lit(0.0).alias("vote")))
    elif weighted:
        e = with_weight(edges).select("src", "dst", F.col("weight").alias("vote"))
    else:
        e = edges.select("src", "dst")
    rev = e.filter(F.col("src") != F.col("dst")).select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), *(
            ["vote"] if "vote" in e.columns else []
        )
    )
    return e.unionByName(rev)


def _gather_parts(it: int, total_msgs: int, P: int) -> int | None:
    """Exchange width of superstep ``it``'s full gather; None keeps P.

    Peak-diversity gather widening: the first few full gathers of an
    identity-init run aggregate near-distinct (listener, label)
    groups — at 2m/P groups per task the post-exchange aggregation
    outgrows per-task execution memory and spills (A/B at the
    163M-arc bench corpus, 24g heap: superstep 2 median ~45s at
    P=64 vs ~21s at 128 gather partitions; identical mover
    histories). Widen THAT exchange only, so each task's agg state
    fits; the argmax output then takes one extra n-row exchange back
    to the P-bucketed state join, which is two orders of magnitude
    smaller than the spill it avoids. Later supersteps have
    collapsed label sets (group count ≪ messages), so widening is
    capped to the first ``_GATHER_WIDEN_UNTIL`` supersteps."""
    if it > _GATHER_WIDEN_UNTIL:
        return None
    # the parity filter halves the messages a gather aggregates
    per_task = total_msgs // 2 // max(P, 1)
    if per_task <= _GATHER_GROUP_BUDGET:
        return None
    return min(P * math.ceil(per_task / _GATHER_GROUP_BUDGET), 8 * P)


def _next_state(state: DataFrame, best: DataFrame, new_lbl) -> DataFrame:
    """The next state (id, lbl, changed, prevch, prev, deg) of every
    plan. ``best`` holds the argmax inputs of the listeners evaluated
    this superstep; ``new_lbl`` is a Column over them and the current
    label ``cur_lbl``, and must give ``cur_lbl`` for the vertices
    ``best`` lacks (they pass through unchanged)."""
    return state.select(
        "id", F.col("lbl").alias("cur_lbl"),
        F.col("changed").alias("pch"), "deg",
    ).join(best, "id", "left").select(
        "id",
        new_lbl.alias("lbl"),
        (new_lbl != F.col("cur_lbl")).alias("changed"),
        F.col("pch").alias("prevch"),
        F.col("cur_lbl").alias("prev"),
        "deg",
    )


def _gather_plan(sym: DataFrame, state: DataFrame, may_move,
                 small_frontier: bool, gather_parts: int | None) -> DataFrame:
    """Full gather: evaluate ONLY active-parity listeners
    (lpa_superstep's listener_pred) — half the exchange volume and agg
    cardinality of the superstep's dominant stage; inactive rows pass
    through the next-state left join unchanged.

    ``small_frontier`` narrows the gather to the stale set = movers of
    the last TWO supersteps (changed | prevch) plus their neighbors: a
    vertex inactive at t re-evaluates at t+1, so both supersteps' moves
    (multiset changes AND the movers' own sticky-state changes) are
    exactly what it missed; with the parity filter, every evaluated
    wanter moves, so no would-be mover is left out."""
    csr = "srcs" in sym.columns
    gather_sym = sym
    active_set = None
    if small_frontier:
        movers = state.filter("changed or prevch").select("id")
        hit = sym.join(
            F.broadcast(movers.withColumnRenamed("id", "dst")),
            "dst", "left_semi",
        )
        if csr:
            nbrs = hit.select(F.explode("srcs").alias("id"))
        else:
            nbrs = hit.select(F.col("src").alias("id"))
        active = nbrs.unionByName(movers).distinct()
        if csr:
            # CSR rows can't be pre-filtered by listener;
            # the broadcast filter applies post-explode
            active_set = active
        else:
            gather_sym = sym.join(
                F.broadcast(active.withColumnRenamed("id", "src")),
                "src",
                "left_semi",
            )
    ev = lpa_superstep(
        gather_sym,
        state.select("id", "lbl"),
        active=active_set,
        listener_pred=may_move,
        gather_parts=gather_parts,
    ).select("id", F.col("lbl").alias("want_lbl"))
    return _next_state(state, ev, F.coalesce("want_lbl", F.col("cur_lbl")))


def _first_superstep_plan(sym: DataFrame, state: DataFrame, may_move,
                          sym_dups: int) -> DataFrame:
    """Identity-init first superstep, min-neighbor plan.

    The general plan's (listener, label) count aggregation peaks
    EXACTLY here — with identity labels its group cardinality is ~2m
    (near-zero map-side combining, the single most expensive superstep
    at web scale). Instead: every unique (listener, speaker) pair is a
    cnt-1 vote, so one n-group min aggregation with perfect partial
    combining yields the best single-vote candidate, and the (rare,
    exactly-counted) duplicated pairs get their true counts from only
    the rows that contain them. The min-agg re-lists a duplicated
    speaker as a weaker cnt-1 candidate of the same label — harmless,
    its true (cnt>1) candidate dominates. Equivalence cases (self-loops
    beat cnt-1 neighbors via the sticky flag, duplicated > smaller-id
    single, isolated keep themselves) are pinned by
    test_lpa_first_superstep_fastpath and transitively by the lpa_full
    recursive-CTE oracle.

    Only active-parity listeners can act — the min-agg and
    dup-correction gathers keep only their messages (half the
    exchange); inactive rows have no uniq/dupc row, so their
    candidates degenerate to the self candidate (want=cur)."""
    uniq = (
        sym.select(F.col("dst").alias("spk"), F.explode("srcs").alias("id"))
        .filter(may_move)
        .groupBy("id")
        .agg(
            F.min(
                F.when(F.col("spk") != F.col("id"), F.col("spk"))
            ).alias("mn"),
            F.max((F.col("spk") == F.col("id")).cast("int")
                  ).alias("selfv"),
        )
    )
    best = uniq
    if sym_dups:
        dupc = (
            sym.filter(F.size("srcs") != F.size(F.array_distinct("srcs")))
            .select(F.col("dst").alias("spk"), F.explode("srcs").alias("id"))
            .filter(may_move)
            .groupBy("id", "spk")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .filter(F.col("cnt") > 1)
            .groupBy("id")
            .agg(F.max(_vote_key(F.col("cnt"), F.col("spk") == F.col("id"),
                                 F.col("spk"))).alias("wd"))
        )
        best = uniq.join(dupc, "id", "left")
    cand_self = _vote_key(
        F.coalesce(F.col("selfv"), F.lit(0)).cast("long"), F.lit(1),
        F.col("cur_lbl"))
    cand_min = F.when(
        F.col("mn").isNotNull(),
        _vote_key(F.lit(1).cast("long"), F.lit(0), F.col("mn")),
    )
    cands = [cand_self, cand_min]
    if sym_dups:
        cands.append(F.col("wd"))
    return _next_state(state, best, F.greatest(*cands).getField("lbl"))


def _delta_plan(state: DataFrame, counts: DataFrame, may_move) -> DataFrame:
    """Argmax over the maintained (id, lbl, cnt) counts: both sides
    bucketed by id, zero exchange. Only active-parity listeners' argmax
    can act, so the counts side is parity-filtered up front — inactive
    rows fall out of ``best`` and pass through the next-state left join
    (keeping their current label), exactly like the filtered full
    gather."""
    j = counts.select("id", "lbl", "cnt").filter(may_move).join(
        state.select("id", F.col("lbl").alias("cur_lbl")), "id"
    )
    best = j.groupBy("id").agg(
        F.max(_vote_key(F.col("cnt"), F.col("lbl") == F.col("cur_lbl"),
                        F.col("lbl"))).alias("_want")
    ).select("id", F.col("_want.lbl").alias("want_lbl"))
    return _next_state(state, best, F.coalesce("want_lbl", F.col("cur_lbl")))


def _label_counts(sym: DataFrame, state: DataFrame, P: int) -> DataFrame:
    """The (id, lbl, cnt) neighbor-label counts of the current labels:
    ONE full gather, bucketed by listener."""
    return (
        sym.join(state.select(F.col("id").alias("dst"), "lbl"), "dst")
        .select(F.explode("srcs").alias("id"), "lbl")
        .repartition(P, "id")
        .groupBy("id", "lbl")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _apply_moves(sym: DataFrame, state: DataFrame, counts: DataFrame,
                 broadcast: bool, P: int) -> DataFrame:
    """The counts table after the last superstep's moves, built from
    the movers' adjacency only: per mover v, every listener u of v gets
    cnt(u, old_lbl) −= 1, cnt(u, new_lbl) += 1."""
    movers = state.filter("changed").select(
        F.col("id").alias("dst"),
        F.col("prev").alias("old_lbl"),
        F.col("lbl").alias("new_lbl"),
    )
    if broadcast:
        # small mover set: zero-exchange broadcast join
        mside = F.broadcast(movers)
    else:
        # burst supersteps: ship the movers through one
        # hash(dst, P) exchange instead of a driver
        # broadcast; the CSR side is bucketed on dst so
        # only the (much smaller) movers side moves, and
        # a shuffle-hash hint keeps Spark from sorting
        # the bucketed CSR for a merge join
        mside = movers.repartition(P, "dst").hint("shuffle_hash")
    upd = (
        sym.join(mside, "dst")
        .select(
            F.explode("srcs").alias("id"),
            "old_lbl", "new_lbl",
        )
        .select(
            "id",
            F.explode(F.array(
                F.struct(
                    F.col("old_lbl").alias("lbl"),
                    F.lit(-1).cast("long").alias("cnt"),
                ),
                F.struct(
                    F.col("new_lbl").alias("lbl"),
                    F.lit(1).cast("long").alias("cnt"),
                ),
            )).alias("d"),
        )
        .select("id", "d.lbl", "d.cnt")
    )
    return (
        counts.select("id", "lbl", "cnt")
        .unionByName(upd)
        .repartition(P, "id")
        .groupBy("id", "lbl")
        .agg(F.sum("cnt").alias("cnt"))
        .filter(F.col("cnt") > 0)
    )


def label_propagation(
    edges: DataFrame,
    weighted: bool = False,
    cn_bonus: bool = False,
    max_iter: int = 200,
    renumber: bool = True,
    ledger=None,
    mode: str = "dir",
    state_name: str = "lpa_state",
    parity_expr=None,
) -> LPAResult:
    """Run LPA to fixpoint. ``cn_bonus=True`` gives nsdlpa
    (src/label_propagation.jl:77-96); ``weighted=True`` uses edge
    weights as votes (the hlpa/mlpa gather, src/hlpa.jl:3-28).

    ``parity_expr`` (a Column over ``id``, e.g. pmod(id, 2)) replaces
    the structure-blind pmod(xxhash64(id), 2) move parity, which makes
    the whole run SQL-oracle-reproducible (driver correctness gate).

    ``mode`` picks where state and the vote view are stored
    (plans/iterstate.py); both modes run the same plans.

    Every superstep's plan is picked by ONE gate over the previous
    write's observed movers, fbound = Σ(deg+1) of movers and fbound2
    (the same over the last two supersteps) — pure execution strategy,
    each path exact under the sticky tie-break:

     - first superstep: the identity-init min-neighbor plan
       (_first_superstep_plan), for unit votes with few duplicate
       pairs on a fresh start;
     - delta counts (unit votes only): a bucketed (id, lbl, cnt)
       neighbor-label count table is maintained from the movers'
       adjacency only — per mover v, every listener u of v gets
       cnt(u, old_lbl) −= 1, cnt(u, new_lbl) += 1 — instead of
       re-gathering all 2m messages. Integer counts make it EXACTLY
       the full re-aggregation (pytest pins label-by-label equality).
       Cost per superstep drops from O(2m) gathered messages to
       O(Σdeg(movers) + |counts|); the table starts at ~2m rows, so
       the path engages when fbound + movers ≤ ``_DELTA_MSGS_FRAC``·2m
       (building the table from the current labels) and stays while
       fbound ≤ ``_DELTA_MSGS_FRAC``·2m. Movers up to
       ``_DELTA_BCAST_MAX`` are broadcast to the CSR view (zero
       exchange); above the cap they take one bucketed hash(dst, P)
       shuffle join — the 100×-scale path, where multi-million-mover
       supersteps still beat O(2m). A map-typed per-vertex counts
       column is deliberately NOT used: at engage time a 1e7-in-degree
       web hub would hold a 1e7-entry map in one row — the
       unbounded-row failure the CSR chunk cap exists to prevent;
     - full gather, narrowed to the broadcast stale-set frontier once
       fbound2 ≤ ``_FRONTIER_MAX`` (a vertex whose vote multiset is
       unchanged keeps its sticky argmax), its exchange widened at peak
       label diversity (_gather_parts)."""
    spark = edges.sparkSession
    loop = StateLoop(spark, state_name, mode=mode, bucket_key="id",
                     ledger=ledger)
    # fixed partition/bucket count across cluster sizes (see StateLoop)
    P = loop.parts

    sym_plan = _vote_edges(edges, weighted, cn_bonus)
    unit = "vote" not in sym_plan.columns
    sym_obs = Observation(f"{loop.name}_sym")
    if unit:
        # CSR speaker view (dst, srcs): halves gather bytes. Hub rows
        # are chunked at ~64k neighbors (csr_adjacency) so no single
        # row ever holds a web-hub's full in-link list; the gather
        # explodes the arrays, so chunking is invisible to the
        # superstep semantics (lpa_full oracle pins this).
        # csr_adjacency(parts=P) already lands on hash(dst, P).
        sym_plan = csr_adjacency(sym_plan, "dst", "src", "srcs", parts=P)
        # exact duplicate-(listener, speaker) count, observed free on
        # the build: csr_adjacency buckets chunk rows by
        # pmod(xxhash64(src), nchunks), so every duplicate of a
        # listener lands in the SAME chunk row and a per-row
        # array_distinct sees all of them. dups == 0 certifies the
        # identity-init first-superstep fast path below.
        sym_plan = sym_plan.observe(
            sym_obs,
            F.coalesce(
                F.sum(F.size("srcs") - F.size(F.array_distinct("srcs"))),
                F.lit(0),
            ).alias("dups"),
            F.coalesce(F.sum(F.size("srcs")), F.lit(0)).alias("msgs"),
        )
    else:
        sym_plan = sym_plan.repartition(P, "dst").observe(
            sym_obs, F.count(F.lit(1)).alias("msgs"))
    sym = loop.side(sym_plan, "dst")
    # total_msgs = Σdeg = 2m, the message count of one full gather (the
    # delta gate's denominator), taken from the build job itself
    got_sym = sym_obs.get
    total_msgs = int(got_sym["msgs"])
    sym_dups = int(got_sym["dups"]) if unit else None

    state = loop.resume() if ledger is not None else None
    start_iter = loop.iteration if state is not None else 0
    if state is None:
        # deg rides in the state so each superstep can OBSERVE
        # sum(deg of movers) — an upper bound on the next active set,
        # gating the frontier broadcast safely even with hub vertices.
        # The symmetrized view's speaker keys ARE the vertex set and
        # listener degree == speaker degree, so the whole state init is
        # ONE n-row agg on sym (zero exchange on the bucketed CSR table)
        if unit:
            deg = F.sum(F.size("srcs")).cast("long")
        else:
            deg = F.count(F.lit(1))
        state = loop.init(
            sym.groupBy(F.col("dst").alias("id"))
            .agg(deg.alias("deg"))
            .select(
                "id",
                F.col("id").alias("lbl"),
                F.lit(True).alias("changed"),
                F.lit(False).alias("prevch"),
                F.col("id").alias("prev"),
                "deg",
            )
        )

    # which half of the vertices may move at superstep it+1
    parity = parity_expr if parity_expr is not None \
        else F.pmod(F.xxhash64("id"), F.lit(2))
    changed_history: list[int] = []
    iter_secs: list[float] = []
    it = start_iter
    # observed on the previous superstep's write (None before the first)
    changed_cnt = fbound = fbound2 = None
    prev_changed_cnt = None         # movers one superstep earlier
    delta_cap = _DELTA_MSGS_FRAC * total_msgs
    # identity-init first superstep: with identity labels, (listener,
    # label) vote groups are exactly the (listener, speaker) pairs, so
    # the argmax needs no 2m-group count — unique pairs contribute cnt-1
    # candidates (a min aggregation), and the exactly-observed duplicate
    # pairs (sym_dups, from the CSR build) get their true counts from
    # the few rows that contain them. EXACT for any input; engaged only
    # while the dup mass is small (above ~2% the dup rows approach the
    # general gather's cost anyway). Requires a fresh identity start
    # (not resumed) and unit votes (sym_dups is observed on the CSR
    # build).
    simple1 = (
        start_iter == 0 and unit
        and sym_dups <= 0.02 * max(total_msgs, 1)
    )
    used_fast1 = False
    counts = None            # delta mode: materialized (id, lbl, cnt)
    counts_loop = None
    delta_from = None
    # shuffle partitions = bucket count keeps the gather agg and the
    # state join co-partitioned with zero extra exchange (restored via
    # context manager even if a superstep raises)
    with shuffle_parts(spark, P), no_aqe(spark):
        while it < max_iter:
            t_it = _time.time()
            may_move = parity == F.lit(it % 2)
            it += 1

            # THE plan gate, over the previous write's observations
            if it == 1 and simple1:
                used_fast1 = True
                stepped = _first_superstep_plan(sym, state, may_move, sym_dups)
            elif unit and changed_cnt is not None and (
                    fbound <= delta_cap if counts is not None
                    else fbound + changed_cnt <= delta_cap):
                if counts is None:
                    # engage: ONE full gather builds the counts table
                    # from the current labels
                    if counts_loop is None:
                        counts_loop = StateLoop(
                            spark, f"{state_name}_cnt", mode=mode,
                            bucket_key="id", parts=P)
                    counts = counts_loop.init(
                        _label_counts(sym, state, P), start_iter=it - 1)
                elif changed_cnt > 0:
                    counts, _ = counts_loop.step(_apply_moves(
                        sym, state, counts,
                        changed_cnt <= _DELTA_BCAST_MAX, P), {})
                if delta_from is None:
                    delta_from = it
                stepped = _delta_plan(state, counts, may_move)
            else:
                # a counts table whose cost gate failed (Σdeg(movers)
                # grew past the fraction of 2m where the incremental
                # update beats one full gather) is dropped; it is
                # rebuilt if the gate re-engages
                counts = None
                stepped = _gather_plan(
                    sym, state, may_move,
                    fbound2 is not None and fbound2 <= _FRONTIER_MAX,
                    _gather_parts(it, total_msgs, P))
            state, got = loop.step(
                stepped,
                {
                    "changed": F.sum(F.col("changed").cast("long")),
                    # bound on |active|: movers + their neighbors;
                    # fbound2 widens it to the last TWO supersteps for
                    # the frontier
                    "fbound": F.sum(
                        F.when(F.col("changed"), F.col("deg") + 1).otherwise(F.lit(0))
                    ),
                    "fbound2": F.sum(
                        F.when(
                            F.col("changed") | F.col("prevch"),
                            F.col("deg") + 1,
                        ).otherwise(F.lit(0))
                    ),
                },
            )
            changed_cnt = int(got.get("changed") or 0)
            fbound = int(got.get("fbound") or 0)
            fbound2 = int(got.get("fbound2") or 0)
            changed_history.append(changed_cnt)
            iter_secs.append(_time.time() - t_it)
            # one quiet superstep certifies only one parity; two in
            # a row evaluate BOTH parities on the same labeling —
            # a true fixpoint (and with the listener filter, an
            # inactive vertex's would-be move is simply its move one
            # superstep later, so this never stops early)
            if changed_cnt == 0 and prev_changed_cnt == 0:
                break
            prev_changed_cnt = changed_cnt

    out = state.select("id", F.col("lbl").alias("comm"))
    if renumber:
        out = permute_labels(out)
    if counts_loop is not None:
        counts_loop.cleanup()
    loop.cleanup(keep_final=True)
    # iter_secs covers the WHOLE superstep (counts build or maintenance
    # + state write in delta mode), not just the state-loop action
    return LPAResult(out, it, changed_history, iter_secs, delta_from,
                     first_superstep_fast=used_fast1)


def permute_labels(membership: DataFrame) -> DataFrame:
    """Canonical first-seen renumbering: community containing the
    smallest vertex id gets label 1, etc. (permute_labels!,
    src/utils.jl:14-35, with vertex order = id order).

    Ranks over the per-label table (not per-vertex) and without an
    unpartitioned window (rank_small_or_large): LPA on a fragmented
    web graph can leave O(1e8) labels, which a global row_number
    would sort on one executor."""
    from ..functions.ids import rank_small_or_large, rank_window_max

    lbl_col = membership.columns[1]
    m = membership.select("id", F.col(lbl_col).alias("_lbl"))
    firsts = m.groupBy("_lbl").agg(F.min("id").alias("first_id"))
    q = firsts.count()
    mapping = rank_small_or_large(firsts, F.col("first_id"), n=q).select(
        "_lbl", F.col("rank").alias("_new")
    )
    if q <= rank_window_max():
        mapping = F.broadcast(mapping)
    return (
        m.join(mapping, "_lbl")
        .select("id", F.col("_new").cast("long").alias(lbl_col))
    )


def lpa(edges: DataFrame, **kw) -> LPAResult:
    """Unweighted async-equivalent LPA (src/label_propagation.jl:98-116)."""
    return label_propagation(edges, weighted=False, cn_bonus=False, **kw)


def nsdlpa(edges: DataFrame, **kw) -> LPAResult:
    """Neighbor-strength-driven LPA: votes weighted 1+cn
    (src/label_propagation.jl:77-96)."""
    return label_propagation(edges, cn_bonus=True, **kw)
