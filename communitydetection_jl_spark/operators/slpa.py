"""SLPA — speaker-listener label propagation (overlapping communities).

Reference parity: src/slpa.jl:23-120 — per iteration every neighbor
*speaks* one label sampled from its memory proportional to count, the
listener adopts the most frequent spoken label (maxvote) and appends it
to its own memory; after ``iterations`` rounds, labels seen less than
r·|memory| times are dropped (post_processing!, src/slpa.jl:124-141);
remaining label sets are the overlapping cover (getgrp,
src/utils.jl:38-50).

Spark shape — memory kept as an *exploded* table (id, label, cnt)
rather than a MapType column, so speaking/sampling/appending are joins
+ windows, all JVM-side:

  speak:   sym_edges ⋈ memory(speaker) → per (listener, speaker) pick
           the label whose count-cumsum crosses a deterministic
           pseudo-uniform u = hash(listener, speaker, iter)/2^63 —
           inverse-CDF sampling as a window expression;
  listen:  groupBy(listener, label) count → argmax with deterministic
           hash tie-break (the reference breaks ties randomly,
           src/slpa.jl:5-15);
  append:  union + groupBy sum.

Randomness is fully seeded (iteration-indexed hashes), so runs are
reproducible and resumable (north-rule determinism).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.graph import symmetrize, vertices_of, with_weight
from ..plans.iterstate import StateLoop, no_aqe


@dataclass
class SLPAResult:
    memory: DataFrame  # (id, label, cnt) after post-processing
    cover: DataFrame   # (label, members: array<long>)
    membership: DataFrame  # hard assignment: (id, comm) = argmax label
    iterations: int
    history: list = field(default_factory=list)


def _uniform(cols, hash_mode: str):
    """Deterministic pseudo-uniform in [0,1) from integer columns.

    ``xxhash64`` (default): fastest JVM path. ``md5``: 60-bit md5-prefix
    hash of the '|'-joined decimal strings — bit-for-bit reproducible in
    ANSI SQL (``('0x'||substr(md5(...),1,15))::BIGINT``), the same
    portable-hash discipline as dedup.base_hash64, so md5-mode SLPA runs
    are replayable by the driver's DuckDB oracle."""
    return _hash_long(cols, hash_mode) / F.lit(1_000_000_007.0)


def _hash_long(cols, hash_mode: str):
    """Deterministic long in [0, 1e9+7) from integer columns (see
    :func:`_uniform` for the two modes)."""
    if hash_mode == "xxhash64":
        h = F.xxhash64(*cols)
    elif hash_mode == "md5":
        h = F.conv(
            F.substring(F.md5(F.concat_ws("|", *[c.cast("string") for c in cols])), 1, 15),
            16, 10,
        ).cast("long")
    else:
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    return F.pmod(h, F.lit(1_000_000_007))


def _speak(sym: DataFrame, memory: DataFrame, iteration: int, seed: int,
           beta: float = 1.0, hash_mode: str = "xxhash64") -> DataFrame:
    """One spoken label per (listener, speaker) edge: inverse-CDF sample
    ∝ count^β from the speaker's memory (src/slpa.jl:23-46 speaks with
    the β exponent; β=1 is plain proportional), deterministic in
    (edge, iteration).

    Window-free: the per-speaker memory is folded ONCE per iteration
    into a label-sorted (label, w) array + total, and each edge scans it
    with a higher-order ``aggregate`` at its own pseudo-uniform u — no
    per-edge sort windows (the old plan ran two windows + a row_number
    over the 2m-row spoken table every superstep)."""
    wcol = (
        F.col("cnt").cast("double") if beta == 1.0
        else F.pow(F.col("cnt").cast("double"), F.lit(float(beta)))
    )
    mem_arr = memory.groupBy("id").agg(
        F.sort_array(F.collect_list(F.struct(F.col("label"), wcol.alias("w")))).alias("mem"),
        F.sum(wcol).alias("total"),
    )
    joined = sym.join(mem_arr.withColumnRenamed("id", "dst"), "dst").select(
        F.col("src").alias("listener"),
        F.col("dst").alias("speaker"),
        "mem",
        "total",
    )
    u = _uniform(
        [F.col("listener"), F.col("speaker"), F.lit(iteration), F.lit(seed)],
        hash_mode,
    )
    thresh = (u * F.col("total")).alias("thresh")
    # scan the sorted memory: first label whose cumsum exceeds thresh
    picked = F.aggregate(
        F.col("mem"),
        F.struct(F.lit(None).cast("long").alias("lbl"), F.lit(0.0).alias("cum")),
        lambda acc, x: F.struct(
            F.when(acc["lbl"].isNotNull(), acc["lbl"])
            .when(acc["cum"] + x["w"] > F.col("thresh"), x["label"])
            .otherwise(F.lit(None).cast("long"))
            .alias("lbl"),
            (acc["cum"] + x["w"]).alias("cum"),
        ),
        lambda acc: acc["lbl"],
    )
    return (
        joined.withColumn("thresh", thresh)
        .select("listener", picked.alias("label"))
        .filter(F.col("label").isNotNull())
    )


def _listen(spoken: DataFrame, iteration: int, seed: int,
            hash_mode: str = "xxhash64") -> DataFrame:
    """maxvote: most frequent spoken label per listener, hash tie-break
    (reference picks uniformly among ties, src/slpa.jl:5-15). The label
    itself is the final tiebreak key so the argmax is a total order in
    both hash modes (hash collisions can't leave the pick plan-order
    dependent)."""
    counts = spoken.groupBy("listener", "label").agg(F.count("*").alias("c"))
    tie = _hash_long(
        [F.col("listener"), F.col("label"), F.lit(iteration), F.lit(seed)],
        hash_mode,
    )
    return counts.groupBy(F.col("listener").alias("id")).agg(
        F.max_by(
            "label", F.struct(F.col("c"), tie.alias("t"), F.col("label"))
        ).alias("label")
    )


def slpa(
    edges: DataFrame,
    iterations: int = 20,
    r: float = 0.1,
    seed: int = 42,
    beta: float = 1.0,
    ledger=None,
    hash_mode: str = "xxhash64",
) -> SLPAResult:
    """Run SLPA for a fixed number of rounds (reference default 20,
    src/slpa.jl:81-120), post-process with threshold ``r``. ``beta``
    is the speaking exponent (labels spoken ∝ count^β,
    src/slpa.jl:23-46; β=1 proportional). ``hash_mode="md5"`` swaps
    every pseudo-random draw for the portable 60-bit md5-prefix hash so
    the ENTIRE run — T speak/listen/append rounds plus post-processing
    — is bit-reproducible in ANSI SQL (the driver's slpa oracle)."""
    spark = edges.sparkSession
    loop = StateLoop(spark, "slpa_memory", bucket_key="id", ledger=ledger)
    sym = loop.side(
        symmetrize(with_weight(edges))
        .select("src", "dst")
        .repartition(loop.parts, "dst"),
        "dst",
    )
    verts = vertices_of(edges)
    memory = None
    if ledger is not None:
        memory = loop.resume()
    start_it = loop.iteration if memory is not None else 0
    if memory is None:
        memory = loop.init(
            verts.select(
                "id", F.col("id").alias("label"), F.lit(1).cast("long").alias("cnt")
            )
        )

    history = []
    with no_aqe(spark):
        for it in range(start_it + 1, iterations + 1):
            spoken = _speak(sym, memory, it, seed, beta, hash_mode)
            adopted = _listen(spoken, it, seed, hash_mode)
            memory, got = loop.step(
                memory.unionByName(
                    adopted.withColumn("cnt", F.lit(1).cast("long"))
                )
                .groupBy("id", "label")
                .agg(F.sum("cnt").alias("cnt")),
                {"memory_rows": F.count(F.lit(1))},
            )
            history.append(it)

    # post-processing: drop labels below r * total memory size; if a node
    # loses everything keep its argmax label (src/slpa.jl:124-141)
    wtot = W.partitionBy("id")
    scored = memory.select(
        "id", "label", "cnt", (F.sum("cnt").over(wtot)).alias("total")
    )
    kept = scored.filter(F.col("cnt") >= F.lit(r) * F.col("total"))
    argmax = memory.groupBy("id").agg(
        F.max_by("label", F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))).alias("label"),
        F.max("cnt").alias("cnt"),
    )
    emptied = argmax.join(kept.select("id").distinct(), "id", "left_anti").select(
        "id", "label", "cnt"
    )
    final_mem = kept.select("id", "label", "cnt").unionByName(emptied)

    cover = final_mem.groupBy("label").agg(F.sort_array(F.collect_list("id")).alias("members"))
    membership = argmax.select("id", F.col("label").alias("comm"))
    loop.cleanup(keep_final=True)
    return SLPAResult(final_mem, cover, membership, iterations, history)
