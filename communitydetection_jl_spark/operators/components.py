"""Connected components via alternating large-star / small-star.

The reference only uses connected components indirectly
(src/kclique_percolation.jl:12, via Graphs.jl); the north rule requires
it as a first-class operator using the large-star/small-star scheme
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14 — public algorithm), which converges in O(log n) rounds and is
the standard shuffle-friendly formulation.

State is a pair set P(a, b) with a > b ("node → smaller neighbor"),
kept in a bucketed table on ``a`` (mode="tables") so per-round
aggregations on ``a`` read it with zero exchange.

The a > b invariant collapses both stars to narrow plans (the naive
formulation shuffles a symmetrized 2|P|-row view twice per star):

  large-star: the spec says "for every node u over the symmetric
      neighbor view, m(u) = min(N(u) ∪ {u}); emit (v, m(u)) for
      v ∈ N(u), v > u".  Under the invariant the only v > u direction
      of a pair (a, b) is (u=b, v=a), so the emit set is exactly
      {(a, m(b)) : (a,b) ∈ P}.  And m(u) = min over b-neighbors
      (all < u), a-neighbors (all > u, never the min) and u itself,
      i.e. m(u) = min_b over pairs grouped by a=u, else u.  One
      zero-exchange groupBy on the bucketed state + one join of the
      state on ``b`` — a single |P|-row exchange.
  small-star: group P by a: m = min(b); emit (a, m) and (b_i, m) for
      b_i ≠ m.  groupBy and join are both on ``a``; on large-star's
      output both consumers share one exchange (ReuseExchange).

No per-star distinct: the min aggregations are duplicate-insensitive,
so dedup happens once per round, fused with the bucket-write
repartition on ``a`` (HashPartitioning(a) satisfies the (a, b)
clustering the dedup aggregate requires — no extra exchange).
Per round: 3 exchanges of ≤|P|-row tables total.

Convergence = (count, hash-sum) checksum of P stable across a full
L+S round.  At the fixpoint P is a star forest; component id = root =
component minimum (exact ids, per the north rule).  The per-round
state SETS are identical to the textbook formulation (only the
physical plan changed), so round counts and results match exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.graph import vertices_of
from ..plans.iterstate import StateLoop, no_aqe, shuffle_parts

def _checksum_metrics() -> dict:
    # decimal sum: hash values are full-range longs and would overflow
    # an ANSI-mode long sum
    return {
        "c": F.count(F.lit(1)),
        "h": F.coalesce(
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")), F.lit(0)
        ).cast("string"),
    }


def _large_star(pairs: DataFrame) -> DataFrame:
    # m(u) = min(N(u) ∪ {u}); with a > b the min is min_b of u's
    # a-rows when they exist, else u itself (a-neighbors are larger).
    mins = pairs.groupBy(F.col("a").alias("u")).agg(F.min("b").alias("mn"))
    return (
        pairs.join(mins, pairs["b"] == mins["u"], "left")
        .select("a", F.coalesce("mn", "b").alias("b"))
    )  # m(b) ≤ b < a, so no self-pair filter is needed


def _small_star(pairs: DataFrame) -> DataFrame:
    mins = pairs.groupBy("a").agg(F.min("b").alias("m"))
    to_root = mins.select("a", F.col("m").alias("b"))  # (a, m)
    siblings = (
        pairs.join(mins, "a")
        .filter(F.col("b") != F.col("m"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )
    return to_root.unionByName(siblings)


def connected_components(
    edges: DataFrame, max_rounds: int = 50, ledger=None, mode: str = "dir"
) -> DataFrame:
    """Exact component ids: returns (id, comp) with comp = min id in
    the component. Isolated vertices (self-loop-only or none) map to
    themselves.

    One action per L+S round: the pair-set write carries its own
    (count, hash-sum) convergence checksum as observe() metrics
    (plans/iterstate.py discipline)."""
    spark = edges.sparkSession
    verts = vertices_of(edges)
    loop = StateLoop(spark, "cc_pairs", mode=mode, bucket_key="a", ledger=ledger)
    # fixed bucket/shuffle granularity across cluster sizes (see
    # StateLoop): finer-than-core tasks load-balance the skewed star
    # joins and keep the bucketed reads zero-exchange
    P = loop.parts

    state = None
    if ledger is not None:
        state = loop.resume()
    if state is None:
        # NO dedup at init: both stars reduce through duplicate-
        # insensitive min aggregations, and round 1's own fused dedup
        # (below) canonicalizes its output anyway — so an initial
        # dropDuplicates would only trim the mutual-link fraction
        # (~0.1% on a crawl graph) while costing an m-group hash
        # aggregation over the full edge set, the most expensive
        # single stage of the init at web scale.
        pairs0 = (
            edges.filter(F.col("src") != F.col("dst"))
            .select(
                F.greatest("src", "dst").alias("a"),
                F.least("src", "dst").alias("b"),
            )
            .repartition(P, "a")
        )
        state = loop.init(pairs0)
    prev = None
    rounds = 0
    with no_aqe(spark), shuffle_parts(spark, P):
        while rounds < max_rounds:
            rounds += 1
            # dedup once per round, partitioned on the bucket key so the
            # dedup aggregate and the bucketed state write share one
            # exchange (HashPartitioning(a) clusters (a, b))
            plan = (
                _small_star(_large_star(state))
                .repartition(P, "a")
                .dropDuplicates(["a", "b"])
            )
            state, got = loop.step(plan, _checksum_metrics())
            cur = (int(got["c"] or 0), str(got["h"]))
            if cur == prev:
                break
            prev = cur
    membership = state.select(F.col("a").alias("id"), F.col("b").alias("comp"))
    out = verts.join(membership, "id", "left").select(
        "id", F.coalesce("comp", F.col("id")).alias("comp")
    )
    loop.cleanup(keep_final=True)
    return out
