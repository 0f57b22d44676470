"""Column-level helpers shared by the graph operators.

The engine's core contract is one DataFrame::

    edges(src: long, dst: long, weight: double)

Directed graphs store each arc once. Undirected graphs store each edge
once in canonical (src<=dst) form; algorithms that gather over
neighborhoods consume the symmetrized view from :func:`symmetrize`.

Reference parity notes: the reference canonicalizes undirected edges
with ``minmax`` (CommunityDetection.jl src/hlpa.jl:316-319,
src/MPartition.jl:199-202) and iterates ``out_edges`` of both endpoints
of each undirected edge, which is exactly the symmetrized view.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EDGE_COLS = ("src", "dst", "weight")


def with_weight(edges: DataFrame) -> DataFrame:
    """Ensure a double ``weight`` column (default 1.0)."""
    if "weight" in edges.columns:
        return edges.withColumn("weight", F.col("weight").cast("double"))
    return edges.withColumn("weight", F.lit(1.0))


def canonicalize_undirected(edges: DataFrame, combine: str = "sum") -> DataFrame:
    """Canonical undirected form: src<=dst, parallel edges combined.

    Reference analogue: minmax canonicalization + weight accumulation in
    collapse_graph (src/hlpa.jl:316-339).
    """
    e = with_weight(edges)
    e = e.select(
        F.least("src", "dst").alias("src"),
        F.greatest("src", "dst").alias("dst"),
        "weight",
    )
    agg = F.sum("weight") if combine == "sum" else F.max("weight")
    return e.groupBy("src", "dst").agg(agg.alias("weight"))


def symmetrize(edges: DataFrame) -> DataFrame:
    """Both directions of each undirected edge; self-loops kept once.

    Input must be canonical (each undirected edge exactly once).
    """
    e = with_weight(edges).select(*EDGE_COLS)
    rev = e.filter(F.col("src") != F.col("dst")).select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
    )
    return e.unionByName(rev)


def vertices_of(edges: DataFrame) -> DataFrame:
    """Distinct vertex ids appearing as either endpoint: (id: long)."""
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def plogp(col):
    """x*log(x) with plogp(0)=0 — the map-equation/entropy kernel.

    Reference analogue: src/FlowPartition.jl:143-144, src/metrics.jl:2.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c > 0, c * F.log(c)).otherwise(F.lit(0.0))


def materialize_iter(df: DataFrame, prev: DataFrame | None = None) -> DataFrame:
    """Materialize per-iteration state: truncate lineage AND reset
    Catalyst's size statistics.

    ``localCheckpoint`` alone inherits the pre-checkpoint plan's
    sizeInBytes estimate; join-size estimates multiply child sizes, so
    across iterations the inherited estimate compounds geometrically
    until BigInteger arithmetic inside stats estimation dominates the
    driver (observed: Catalyst burning minutes in ToomCook3 multiplies
    at sf0.1). Caching the checkpointed RDD makes downstream plans read
    the *real* materialized size instead. ``prev`` (the previous
    iteration's state) is unpersisted once the new state is live."""
    new = df.localCheckpoint(eager=True).persist()
    new.count()
    if prev is not None:
        prev.unpersist()
    return new


def csr_adjacency(
    pairs: DataFrame,
    key: str,
    nbr: str,
    out_col: str,
    cap: int | None = None,
    payload=None,
    parts: int | None = None,
) -> DataFrame:
    """Grouped adjacency arrays ``(key, array<nbr>)`` with a hard
    per-row size cap.

    ``payload`` (optional column expression, default ``col(nbr)``)
    is what gets collected per neighbor — e.g.
    ``F.struct("dst", "tp")`` for a weighted CSR whose rows carry
    (dst, trans_prob) pairs. Chunking always keys on the plain ``nbr``
    column so the row-size bound is independent of payload shape.

    A bare ``groupBy(key).collect_list(nbr)`` puts a vertex's entire
    neighbor list in ONE row; web-scale hubs (in-degree 1e7+) would
    yield 100+ MB rows — unsplittable tasks and executor OOM. Keys
    whose degree exceeds ``cap`` are instead split into
    ``ceil(deg/cap)`` chunk rows via ``pmod(xxhash64(nbr), nchunks)``,
    so every array row holds ~cap neighbors in expectation and at most
    a small constant factor more. Consumers explode the array, so
    multiple rows per key are semantically identical to one; keys at or
    below the cap still produce exactly one row (``groupBy`` emits only
    non-empty chunks, and nchunks=1 for them). Duplicates of the same
    ``nbr`` value always land in the SAME chunk row (the chunk id is a
    pure function of ``nbr`` and degree) — LPA's duplicate-arc
    certification depends on this.

    Build plan: ONE exchange of ``pairs`` plus a broadcast of the HUB
    LIST only. Degree only matters ABOVE ``cap`` — every other key gets
    nchunks=1 and chunk 0 (pmod(h, 1) = 0) — so the per-key count is
    aggregated once, filtered to keys with deg > cap (a handful even on
    a crawl graph) and broadcast back as a left join; non-hub rows see
    a null degree and chunk 0. The chunk groupBy and a downstream
    bucket-by-``key`` write ride the exchange's hash(key) partitioning
    with no further exchange. Earlier forms, A/B'd at the 163M-arc
    bench corpus (multiset-identical outputs):
    full degree-agg + join 73.5s; window-degree
    (count().over(Window.partitionBy(key))) 39.5s — but the window
    SORTS all 2m exchanged rows just to learn degrees that are almost
    all below cap, and that sort's super-linear cost dominates at
    scale: fresh-process at 163M arcs window 29-34s vs hub-list
    20-23s (at 27M arcs the window form is ~1.5s faster — the
    crossover sits well below bench scale, so the hub-list form is the
    shipped plan). Pass ``parts`` to pin the exchange at the caller's
    bucket count so the bucketed write gets one file per bucket.

    ``cap`` defaults to ``$SPARK_GRAFT_CSR_CAP`` (65536): a 1e7-degree
    hub becomes ~153 rows of ~0.5 MB each. The broadcast hub list is
    bounded by m/cap rows (163M arcs → ≤2.5k rows; real crawl graphs
    sit far below the bound because degree tails are power-law);
    deployments at 1e12+ arcs raise cap so the list stays small while
    chunk rows stay O(cap)-sized. A hub's rows still colocate in one
    partition while being grouped (true of any per-key grouping); the
    collect_list aggregation falls back to sort-based under memory
    pressure, so a 1e9-degree key degrades to disk instead of OOM.
    """
    import os

    if cap is None:
        cap = int(os.environ.get("SPARK_GRAFT_CSR_CAP", "65536"))
    src = pairs.repartition(parts, key) if parts else pairs
    # collision-resistant internal name (like `_chunk`): a caller whose
    # `pairs` already carries a `_deg` column must not collide with the
    # broadcast hub frame's degree at the left join below
    if "__csr_deg" in src.columns:
        src = src.drop("__csr_deg")
    hubs = (
        src.groupBy(key)
        .agg(F.count(F.lit(1)).alias("__csr_deg"))
        .filter(F.col("__csr_deg") > cap)
    )
    nchunks = F.greatest(F.lit(1), F.ceil(F.col("__csr_deg") / F.lit(cap))).cast("int")
    chunk = F.when(
        F.col("__csr_deg").isNotNull(),
        F.pmod(F.xxhash64(nbr), nchunks.cast("long")),
    ).otherwise(F.lit(0))
    return (
        src.join(F.broadcast(hubs), key, "left")
        .groupBy(key, chunk.alias("_chunk"))
        .agg(F.collect_list(payload if payload is not None else F.col(nbr)).alias(out_col))
        .drop("_chunk")
    )


def num_edges(edges: DataFrame) -> int:
    return edges.count()


def total_weight(edges: DataFrame) -> float:
    row = with_weight(edges).agg(F.sum("weight").alias("m")).collect()[0]
    return float(row["m"] or 0.0)
