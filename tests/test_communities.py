"""LPA / Louvain / coarsening / comparison metrics on reference fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from communitydetection_jl_spark.operators.coarsen import (
    collapse_graph,
    from_coarser_partition,
    renumber_communities,
)
from communitydetection_jl_spark.operators.compare import (
    jaccard_index,
    nmi,
    nvoi,
    rand_index,
)
from communitydetection_jl_spark.operators.louvain import _local_louvain, louvain
from communitydetection_jl_spark.operators.lpa import (
    label_propagation,
    lpa,
    nsdlpa,
    permute_labels,
)
from communitydetection_jl_spark.operators.modularity import modularity
from communitydetection_jl_spark.operators.multilevel import hlpa
from communitydetection_jl_spark.sources import fixtures as fx

from .oracles import np_lpa, np_nmi


def _nmi_vs_truth(labels_df, truth_df):
    return nmi(labels_df, truth_df)


def _parity(edges):
    """id -> the engine's move parity, Spark's own pmod(xxhash64(id), 2)."""
    from communitydetection_jl_spark.functions.graph import vertices_of

    return {
        r.id: r.p for r in vertices_of(edges).select(
            "id", F.pmod(F.xxhash64("id"), F.lit(2)).alias("p")).collect()
    }


def _np_lpa_of(edges, max_iter):
    """np_lpa over a Spark edge frame: (id -> label, movers)."""
    pairs = [(r.src, r.dst) for r in edges.select("src", "dst").collect()]
    return np_lpa(pairs, _parity(edges), max_iter)


def _labels(res):
    return {r.id: r.comm for r in res.labels.collect()}


def test_lpa_two_triangles_exact(spark):
    edges, truth = fx.two_triangles(spark)
    res = lpa(edges)
    # the reference's own oracle: NMI == 1.0 vs [1,1,1,2,2,2] (test/runtests.jl:16)
    assert _nmi_vs_truth(res.labels, truth) == pytest.approx(1.0)
    # canonical renumbering: labels are exactly 1,1,1,2,2,2 in id order
    got = [r.comm for r in res.labels.orderBy("id").collect()]
    assert got == [1, 1, 1, 2, 2, 2]


def test_lpa_unit_vote_path_matches_explicit(spark):
    """The CSR speaker-view count-based gather (the unit-vote input
    label_propagation builds) must produce exactly the labels of the
    explicit vote=1.0 sum-based gather."""
    from pyspark.sql import functions as F

    from communitydetection_jl_spark.functions.graph import (
        csr_adjacency,
        symmetrize,
        vertices_of,
    )
    from communitydetection_jl_spark.operators.lpa import lpa_superstep

    edges, _ = fx.karate(spark)
    labels = vertices_of(edges).select("id", F.col("id").alias("lbl"))
    csr = csr_adjacency(symmetrize(edges).select("src", "dst"), "dst", "src", "srcs")
    voted = symmetrize(edges).select("src", "dst", F.lit(1.0).alias("vote"))
    a = lpa_superstep(csr, labels).orderBy("id").collect()
    b = lpa_superstep(voted, labels).orderBy("id").collect()
    assert [(r.id, r.lbl, r.changed) for r in a] == [
        (r.id, r.lbl, r.changed) for r in b
    ]


def test_lpa_ring_of_cliques(spark):
    edges, truth = fx.ring_of_cliques(spark)
    res = lpa(edges)
    assert _nmi_vs_truth(res.labels, truth) == pytest.approx(1.0)


def test_nsdlpa_two_triangles(spark):
    edges, truth = fx.two_triangles(spark)
    res = nsdlpa(edges)
    assert _nmi_vs_truth(res.labels, truth) == pytest.approx(1.0)


def test_lpa_deterministic_across_parallelism(spark):
    """Same labels regardless of partitioning (the determinism bar)."""
    edges, _ = fx.gn(spark, k_in=14)
    r1 = lpa(edges.repartition(2))
    r2 = lpa(edges.repartition(7))
    a = {r.id: r.comm for r in r1.labels.collect()}
    b = {r.id: r.comm for r in r2.labels.collect()}
    assert a == b


def test_permute_labels_first_seen(spark):
    m = spark.createDataFrame([(1, 7), (2, 7), (3, 3), (4, 9)], "id long, comm long")
    got = {r.id: r.comm for r in permute_labels(m).collect()}
    assert got == {1: 1, 2: 1, 3: 2, 4: 3}


def test_collapse_conserves_weight_and_projects(spark):
    edges, truth = fx.ring_of_cliques(spark)
    coarse = collapse_graph(edges, truth, check_conservation=True)
    # 4 cliques → 4 supernodes, 4 ring edges + 4 self loops
    assert coarse.filter(F.col("src") == F.col("dst")).count() == 4
    assert coarse.filter(F.col("src") != F.col("dst")).count() == 4
    loops = {r.src: r.weight for r in coarse.filter(F.col("src") == F.col("dst")).collect()}
    assert all(w == 45.0 for w in loops.values())  # C(10,2) intra edges

    coarse_memb = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 2), (4, 2)], "id long, comm long"
    )
    fine = from_coarser_partition(truth, coarse_memb)
    assert fine.select("comm").distinct().count() == 2


def test_renumber_by_size(spark):
    m = spark.createDataFrame(
        [(1, 5), (2, 5), (3, 5), (4, 8), (5, 8), (6, 2)], "id long, comm long"
    )
    got = {r.id: r.comm for r in renumber_communities(m).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 2, 5: 2, 6: 3}


def test_local_louvain_two_triangles():
    pairs = [(1, 2, 1.0), (2, 3, 1.0), (1, 3, 1.0), (1, 4, 1.0),
             (4, 5, 1.0), (5, 6, 1.0), (4, 6, 1.0)]
    comm = _local_louvain(pairs)
    assert comm[1] == comm[2] == comm[3]
    assert comm[4] == comm[5] == comm[6]
    assert comm[1] != comm[4]


def test_louvain_two_triangles(spark):
    edges, truth = fx.two_triangles(spark)
    res = louvain(edges)
    assert nmi(res.membership, truth) == pytest.approx(1.0)
    assert res.quality == pytest.approx(12 / 14 - 2 * (7 / 14) ** 2, abs=1e-9)


def test_louvain_karate_quality(spark):
    edges, _ = fx.karate(spark)
    res = louvain(edges)
    # canonical Louvain on karate reaches Q ≈ 0.41-0.42
    assert res.quality > 0.40
    q = res.membership.select("comm").distinct().count()
    assert 2 <= q <= 6


def test_louvain_distributed_path(spark):
    """Force the distributed bulk phase (local_threshold=0 keeps it from
    collecting) and check it still finds the clique structure."""
    edges, truth = fx.ring_of_cliques(spark)
    res = louvain(edges, local_threshold=0, max_sweeps=40)
    assert nmi(res.membership, truth) == pytest.approx(1.0)


def test_hlpa_ring_of_cliques(spark):
    edges, truth = fx.ring_of_cliques(spark)
    res = hlpa(edges)
    assert nmi(res.membership, truth) == pytest.approx(1.0)


def test_nmi_matches_numpy_oracle(spark):
    la = [1, 1, 2, 2, 3, 3, 3]
    lb = [2, 2, 2, 1, 1, 1, 3]
    ma = spark.createDataFrame(list(enumerate(la)), "id long, comm long")
    mb = spark.createDataFrame(list(enumerate(lb)), "id long, comm long")
    assert nmi(ma, mb) == pytest.approx(np_nmi(la, lb), abs=1e-12)
    assert nmi(ma, ma) == pytest.approx(1.0)
    assert 0.0 <= nvoi(ma, mb) <= 1.0
    assert nvoi(ma, ma) == pytest.approx(0.0, abs=1e-12)
    from communitydetection_jl_spark.operators.compare import nminvoi

    both = nminvoi(ma, mb)
    assert both[0] == pytest.approx(nmi(ma, mb), abs=1e-12)
    assert both[1] == pytest.approx(nvoi(ma, mb), abs=1e-12)


def test_pair_counting_metrics(spark):
    la = [1, 1, 1, 2, 2]
    lb = [1, 1, 2, 2, 2]
    ma = spark.createDataFrame(list(enumerate(la)), "id long, comm long")
    mb = spark.createDataFrame(list(enumerate(lb)), "id long, comm long")
    # pairs: same-same a11 = pairs (0,1) and (3,4) = 2
    assert rand_index(ma, mb) == pytest.approx((2 + 4) / 10)
    assert jaccard_index(ma, mb) == pytest.approx(2 / (2 + 2 + 2))
    assert rand_index(ma, ma) == pytest.approx(1.0)


def test_gn_benchmark_lpa_quality(spark):
    """On an easy GN graph (k_in=14) LPA should recover communities well."""
    edges, truth = fx.gn(spark, k_in=14)
    res = lpa(edges)
    score = nmi(res.labels, truth)
    assert score > 0.9
    q = modularity(edges, res.labels)
    assert q > 0.5


def test_louvain_cpm_ring_of_cliques(spark):
    edges, truth = fx.ring_of_cliques(spark)
    res = louvain(edges, objective="cpm", gamma=0.5)
    assert nmi(res.membership, truth) == pytest.approx(1.0)
    assert res.quality > 0


def test_louvain_rbconfig_resolution(spark):
    """Higher resolution gamma must yield at least as many communities."""
    edges, _ = fx.karate(spark)
    low = louvain(edges, objective="rbconfig", gamma=0.5)
    high = louvain(edges, objective="rbconfig", gamma=2.0)
    q_low = low.membership.select("comm").distinct().count()
    q_high = high.membership.select("comm").distinct().count()
    assert q_high >= q_low


def test_louvain_significance_two_triangles(spark):
    """Significance dispatch (src/Optimiser.jl:257-304 method table;
    quality src/MPartition.jl:589-604): the planted two-triangle split
    maximizes significance and the result's quality must equal the
    quality function evaluated on the found membership."""
    from communitydetection_jl_spark.operators.objectives import significance_quality

    edges, truth = fx.two_triangles(spark)
    res = louvain(edges, objective="significance")
    assert nmi(res.membership, truth) == pytest.approx(1.0)
    assert res.quality == pytest.approx(
        significance_quality(edges, res.membership), abs=1e-9
    )
    # the planted split must not be beatable by the trivial partitions
    n = res.membership.count()
    singletons = res.membership.select("id", F.col("id").alias("comm"))
    assert res.quality > significance_quality(edges, singletons)


def test_louvain_surprise_ring_of_cliques(spark):
    from communitydetection_jl_spark.operators.objectives import surprise_quality

    edges, truth = fx.ring_of_cliques(spark)
    res = louvain(edges, objective="surprise")
    assert nmi(res.membership, truth) == pytest.approx(1.0)
    assert res.quality == pytest.approx(
        surprise_quality(edges, res.membership), abs=1e-9
    )
    assert res.quality > 0


def test_louvain_rber_ring_of_cliques(spark):
    from communitydetection_jl_spark.operators.objectives import rber_quality

    edges, truth = fx.ring_of_cliques(spark)
    res = louvain(edges, objective="rber", gamma=1.0)
    assert nmi(res.membership, truth) == pytest.approx(1.0)
    assert res.quality == pytest.approx(
        rber_quality(edges, res.membership, gamma=1.0), abs=1e-9
    )


def test_louvain_setbased_distributed_path(spark):
    """Force the distributed set-based sweep (_move_sweep_set) with
    local_threshold=0; it must still recover the planted cliques."""
    edges, truth = fx.ring_of_cliques(spark)
    res = louvain(edges, objective="significance", local_threshold=0,
                  max_sweeps=40)
    assert nmi(res.membership, truth) == pytest.approx(1.0)

    res2 = louvain(edges, objective="surprise", local_threshold=0,
                   max_sweeps=40)
    assert nmi(res2.membership, truth) == pytest.approx(1.0)


def test_find_partition_outer_loop(spark):
    """find_partition (src/Optimiser.jl:135-144): repeated re-
    optimization of the collapsed graph must never lose quality vs a
    single louvain pass, and must terminate."""
    from communitydetection_jl_spark.operators.louvain import find_partition

    edges, _ = fx.karate(spark)
    single = louvain(edges)
    rep = find_partition(edges, max_rounds=4)
    assert rep.quality >= single.quality - 1e-12
    assert rep.quality > 0.40
    rq = rep.history[-1]["round_quality"]
    assert all(b >= a - 1e-12 for a, b in zip(rq, rq[1:]))


def test_find_partition_setbased_base_scalars(spark):
    """find_partition rounds >=2 on a density-null objective must keep
    optimizing the BASE graph's null model: collapsed re-optimization
    carries base density/n/m and count-carrying collapsed weights
    (threaded via louvain(base_scalars=...)), so round quality — always
    rescored on the original graph — never decreases and never loses to
    a single pass."""
    from communitydetection_jl_spark.operators.louvain import find_partition

    edges, truth = fx.ring_of_cliques(spark)
    for objective in ("surprise", "significance"):
        single = louvain(edges, objective=objective, max_sweeps=40)
        rep = find_partition(edges, objective=objective, max_rounds=3,
                             max_sweeps=40)
        assert rep.quality >= single.quality - 1e-9, objective
        rq = rep.history[-1]["round_quality"]
        assert all(b >= a - 1e-9 for a, b in zip(rq, rq[1:])), objective


def test_louvain_record_quality(spark):
    """record_quality=True stamps each distributed level with the
    objective value of the composed membership (hlpa_record_Q ledger
    analogue)."""
    edges, truth = fx.ring_of_cliques(spark)
    res = louvain(edges, local_threshold=0, record_quality=True, max_sweeps=40)
    qs = [h["Q"] for h in res.history if "Q" in h]
    assert qs, "expected per-level Q entries"
    assert qs[-1] == pytest.approx(res.quality, abs=1e-9)


def test_lpa_tables_csr_matches_dir(spark):
    """The storage mode picks storage only: dir mode (cached CSR view,
    parquet state) and tables mode (bucketed CSR table and state) run
    the same plans, so mover history, delta engage point, first
    superstep plan and labels agree — and both equal the independent
    NumPy replay. ring_of_cliques is duplicate-free, so both modes take
    the identity-init first superstep."""
    for fixture, name in ((fx.ring_of_cliques, "rc"), (fx.gn, "gn")):
        edges, _ = fixture(spark)
        want, movers = _np_lpa_of(edges, 15)
        runs = {mode: lpa(edges, max_iter=15, mode=mode,
                          state_name=f"lpa_cm_{mode}_{name}")
                for mode in ("dir", "tables")}
        for mode, res in runs.items():
            assert res.changed_history == movers, (name, mode)
            assert _labels(res) == want, (name, mode)
        d, t = runs["dir"], runs["tables"]
        assert d.delta_from == t.delta_from, name
        assert d.first_superstep_fast == t.first_superstep_fast, name
        if name == "rc":
            assert d.first_superstep_fast is True


def test_hlpa_record_quality(spark):
    """hlpa(record_quality=True): per-level modularity of the composed
    membership rides in the history (hlpa_record_Q ledger analogue)."""
    edges, truth = fx.ring_of_cliques(spark)
    res = hlpa(edges, record_quality=True)
    qs = [h["Q"] for h in res.history if "Q" in h]
    assert qs
    assert qs[-1] == pytest.approx(modularity(edges, res.membership), abs=1e-9)
    assert nmi(res.membership, truth) == pytest.approx(1.0)


def _lpa_with(monkeypatch, edges, consts, **kw):
    """lpa() with the plan gate's module constants set to ``consts``."""
    from communitydetection_jl_spark.operators import lpa as lpa_mod

    with monkeypatch.context() as mp:
        for k, v in consts.items():
            mp.setattr(lpa_mod, k, v)
        return lpa(edges, **kw)


# a negative fraction or cap disables its path (a quiet superstep has
# fbound + movers = 0, so 0 would not); 3.0 > 1 covers the
# Σ(deg+1)+movers bound even when every vertex moves
_NO_DELTA = {"_DELTA_MSGS_FRAC": -1.0}
_FORCE_DELTA = {"_DELTA_MSGS_FRAC": 3.0}


def test_lpa_delta_counts_exact(spark, monkeypatch):
    """The incremental (delta-counts) superstep is EXACTLY equivalent
    to full re-aggregation: identical per-superstep mover counts and
    identical final labels, with the counts path forced to engage from
    superstep 2. Both storage modes."""
    for mode in ("dir", "tables"):
        for fixture, name in ((fx.ring_of_cliques, "rc"), (fx.gn, "gn")):
            edges, _ = fixture(spark)
            full = _lpa_with(monkeypatch, edges, _NO_DELTA, max_iter=30,
                             mode=mode, state_name=f"lpa_nd_{mode}_{name}")
            dl = _lpa_with(monkeypatch, edges, _FORCE_DELTA, max_iter=30,
                           mode=mode, state_name=f"lpa_dl_{mode}_{name}")
            assert full.delta_from is None, (mode, name)
            assert dl.delta_from == 2, (mode, name)
            assert full.changed_history == dl.changed_history, (mode, name)
            a = {(r.id, r.comm) for r in full.labels.collect()}
            b = {(r.id, r.comm) for r in dl.labels.collect()}
            assert a == b, (mode, name)


def test_lpa_delta_shuffle_join_exact(spark, monkeypatch):
    """The above-broadcast-cap delta path (movers shipped through a
    bucketed hash(dst, P) shuffle join instead of a driver broadcast)
    is the SAME counts-table semantics: with a negative broadcast cap
    every incremental superstep is forced through the shuffle join (a
    spy on _apply_moves proves it ran), and the run must still match
    the full re-aggregation mover-for-mover and label-for-label. This
    is the 100×-scale regime (sustained multi-million-mover
    supersteps) exercised at test scale. Both storage modes."""
    from communitydetection_jl_spark.operators import lpa as lpa_mod

    orig = lpa_mod._apply_moves
    for mode in ("dir", "tables"):
        for fixture, name in ((fx.ring_of_cliques, "rc"), (fx.gn, "gn")):
            edges, _ = fixture(spark)
            full = _lpa_with(monkeypatch, edges, _NO_DELTA, max_iter=30,
                             mode=mode, state_name=f"lpa_nds_{mode}_{name}")
            seen = []

            def spy(*a, **kw):
                seen.append(a[3])  # broadcast
                return orig(*a, **kw)

            dl = _lpa_with(monkeypatch, edges,
                           {**_FORCE_DELTA, "_DELTA_BCAST_MAX": -1,
                            "_apply_moves": spy},
                           max_iter=30, mode=mode,
                           state_name=f"lpa_dls_{mode}_{name}")
            assert seen and not any(seen), (mode, name, seen)
            assert dl.delta_from == 2, (mode, name)
            assert full.changed_history == dl.changed_history, (mode, name)
            a = {(r.id, r.comm) for r in full.labels.collect()}
            b = {(r.id, r.comm) for r in dl.labels.collect()}
            assert a == b, (mode, name)


def test_lpa_no_counts_table_after_last_superstep(spark, monkeypatch):
    """The delta gate builds the counts table at the top of the
    superstep that uses it, never after the last one: with delta forced
    to engage, a max_iter=1 run initialises no ``*_cnt`` StateLoop,
    while a max_iter=2 run (whose superstep 2 runs delta counts) does."""
    from communitydetection_jl_spark.operators import lpa as lpa_mod

    inits = []

    class SpyLoop(lpa_mod.StateLoop):
        def init(self, df, start_iter=0):
            inits.append(self.base_name)
            return super().init(df, start_iter)

    edges, _ = fx.ring_of_cliques(spark)
    for max_iter, want_cnt in ((1, False), (2, True)):
        inits.clear()
        res = _lpa_with(monkeypatch, edges,
                        {**_FORCE_DELTA, "StateLoop": SpyLoop},
                        max_iter=max_iter, state_name=f"lpa_nc{max_iter}")
        assert res.iterations == max_iter
        assert inits, max_iter
        assert any(n.endswith("_cnt") for n in inits) == want_cnt, (max_iter, inits)
        assert (res.delta_from == 2) == want_cnt, max_iter


def test_lpa_id_shift_invariance(spark):
    """LPA must be invariant to the absolute magnitude of vertex ids
    (64-bit ids are first-class; tie-breaks depend only on relative
    order): the SAME graph with every id shifted past 2^31 must yield
    the identical labeling under the shift, with identical
    per-superstep mover counts."""
    off = (1 << 31) + 2  # even: keeps pmod(id, 2) parity shift-invariant
    par = F.pmod(F.col("id"), F.lit(2))
    for mode in ("dir", "tables"):
        edges, _ = fx.ring_of_cliques(spark)
        packed = lpa(edges, max_iter=30, mode=mode, renumber=False,
                     parity_expr=par, state_name=f"lpa_pk_{mode}")
        shifted = edges.selectExpr(
            f"cast(src + {off} as bigint) as src",
            f"cast(dst + {off} as bigint) as dst")
        unpacked = lpa(shifted, max_iter=30, mode=mode, renumber=False,
                       parity_expr=par, state_name=f"lpa_upk_{mode}")
        assert packed.changed_history == unpacked.changed_history, mode
        a = {(r.id, r.comm) for r in packed.labels.collect()}
        b = {(r.id - off, r.comm - off) for r in unpacked.labels.collect()}
        assert a == b, mode


def test_lpa_strategy_invariance(spark, monkeypatch):
    """Execution strategy must never change the answer: the semi-sync
    active-parity listener filter, the two-superstep (changed|prevch)
    broadcast frontier, and the delta-counts path are all pure
    execution choices over the same semantics. Four configurations —
    plain dir mode, tables with frontier+delta disabled, tables with a
    force-engaged frontier, tables with force-engaged delta — must
    produce the per-superstep mover counts and final labels of the
    independent NumPy replay. A spy on lpa_superstep records which
    gathers ran with the frontier filter: the frontier run must have
    run some, the bare run none."""
    from communitydetection_jl_spark.operators import lpa as lpa_mod

    orig = lpa_mod.lpa_superstep
    frontier_gathers: dict = {}

    def spying(key, consts):
        frontier_gathers[key] = []

        def spy(*a, **kw):
            frontier_gathers[key].append(kw.get("active") is not None)
            return orig(*a, **kw)

        return {**consts, "lpa_superstep": spy}

    for fixture, name in ((fx.ring_of_cliques, "rc"), (fx.gn, "gn")):
        edges, _ = fixture(spark)
        want, movers = _np_lpa_of(edges, 30)
        runs = {
            "dir": lpa(edges, max_iter=30, mode="dir",
                       state_name=f"lpa_si_dir_{name}"),
            "bare": _lpa_with(monkeypatch, edges, spying(
                ("bare", name), {**_NO_DELTA, "_FRONTIER_MAX": -1}),
                max_iter=30, mode="tables", state_name=f"lpa_si_bare_{name}"),
            "frontier": _lpa_with(monkeypatch, edges, spying(
                ("frontier", name), {**_NO_DELTA, "_FRONTIER_MAX": 10**9}),
                max_iter=30, mode="tables", state_name=f"lpa_si_fr_{name}"),
            "delta": _lpa_with(monkeypatch, edges, _FORCE_DELTA,
                               max_iter=30, mode="tables",
                               state_name=f"lpa_si_dl_{name}"),
        }
        assert any(frontier_gathers[("frontier", name)]), name
        assert frontier_gathers[("bare", name)], name
        assert not any(frontier_gathers[("bare", name)]), name
        assert runs["bare"].delta_from is None, name
        assert runs["delta"].delta_from == 2, name
        hist = {k: r.changed_history for k, r in runs.items()}
        assert all(h == movers for h in hist.values()), (name, movers, hist)
        for k, res in runs.items():
            assert _labels(res) == want, (name, k)


def test_lpa_gather_widening_exact(spark, monkeypatch):
    """The peak-diversity gather widening (a wider exchange for the
    first full gathers) is pure execution strategy. A per-task group
    budget of 10 makes _gather_parts widen through its real rule on a
    test-sized graph; a spy on lpa_superstep proves a widened exchange
    actually ran in both state modes, and the mover history and labels
    must equal an unwidened run."""
    from communitydetection_jl_spark.operators import lpa as lpa_mod

    edges, _ = fx.ring_of_cliques(spark)
    P = spark.sparkContext.defaultParallelism
    for mode in ("dir", "tables"):
        base = lpa(edges, max_iter=30, mode=mode, state_name=f"lpa_gw0_{mode}")
        seen = []
        orig = lpa_mod.lpa_superstep

        def spy(*a, **kw):
            seen.append(kw.get("gather_parts"))
            return orig(*a, **kw)

        with monkeypatch.context() as mp:
            mp.setattr(lpa_mod, "_GATHER_GROUP_BUDGET", 10)
            mp.setattr(lpa_mod, "lpa_superstep", spy)
            wide = lpa(edges, max_iter=30, mode=mode, state_name=f"lpa_gw1_{mode}")
        assert any(g is not None and g > P for g in seen), (mode, seen)
        assert wide.changed_history == base.changed_history, mode
        assert {(r.id, r.comm) for r in wide.labels.collect()} == {
            (r.id, r.comm) for r in base.labels.collect()
        }, mode


def test_lpa_state_covers_self_loop_only_vertices(spark):
    """The state is built from the symmetrized vote view, so a vertex
    whose only edge is a self-loop must still get a label in every
    vote mode — including nsdlpa, whose common-neighbor view drops
    self-loops."""
    rows = [(1, 2), (2, 3), (3, 1), (4, 4)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    runs = {
        "lpa": lpa(edges, max_iter=10),
        "weighted": label_propagation(edges.withColumn("weight", F.lit(2.0)),
                                      weighted=True, max_iter=10),
        "nsdlpa": nsdlpa(edges, max_iter=10),
        "tables": lpa(edges, max_iter=10, mode="tables",
                      state_name="lpa_loop_only"),
    }
    for name, res in runs.items():
        got = {r.id: r.comm for r in res.labels.collect()}
        assert set(got) == {1, 2, 3, 4}, name
        assert got[1] == got[2] == got[3] != got[4], name


def test_louvain_gain_floor_stop(spark):
    """gain_floor — the distributed analogue of the reference's
    per-pass improvement threshold (src/Optimiser.jl:135-148): a sweep
    whose summed accepted gain is <= gain_floor*m counts as quiet, and
    two consecutive quiet sweeps (both parities) end the level.

    (a) a prohibitively high floor makes EVERY sweep quiet, so every
        distributed level must stop after exactly two sweeps;
    (b) the default floor (1e-4) only trims oscillation tails — on a
        structured graph it must converge to the same quality and the
        planted partition as gain_floor=None."""
    edges, truth = fx.ring_of_cliques(spark)

    hi = louvain(edges, local_threshold=0, gain_floor=1e9, max_sweeps=40)
    dist = [h for h in hi.history if h.get("mode") == "distributed"]
    assert dist, "expected distributed levels"
    assert all(h["sweeps"] == 2 for h in dist)

    on = louvain(edges, local_threshold=0, max_sweeps=40)
    off = louvain(edges, local_threshold=0, gain_floor=None, max_sweeps=40)
    assert on.quality == pytest.approx(off.quality, abs=1e-6)
    assert nmi(on.membership, truth) == pytest.approx(1.0)


def test_multilevel_ledger_one_record_per_sweep(spark, tmp_path):
    """Louvain and Infomap share one sweep loop and one level loop: in
    a RunLedger every sweep is one record with an iteration number that
    increases across the whole run, tagged with its level (and sweep),
    and each level summary follows its sweeps under the same counter."""
    from communitydetection_jl_spark.operators.infomap import infomap
    from communitydetection_jl_spark.plans.runner import RunLedger

    edges, _ = fx.ring_of_cliques(spark)
    for name, run in (("louvain", louvain), ("infomap", infomap)):
        ledger = RunLedger(str(tmp_path), run_id=name)
        res = run(edges, local_threshold=0, ledger=ledger)
        recs = ledger.metrics()
        iters = [r["iter"] for r in recs]
        assert iters == sorted(set(iters)) and len(iters) > 1, (name, iters)
        assert all("level" in r for r in recs), name
        dist = [h for h in res.history if h["mode"] == "distributed"]
        sweeps = [r for r in recs if "sweep" in r]
        assert len(sweeps) == sum(h["sweeps"] for h in dist), name
        assert [r["moved"] for r in sweeps] == [
            x for h in dist for x in h["sweep_moved"]], name
        assert [r["level"] for r in recs if "sweep" not in r] == [
            h["level"] for h in dist], name


def test_lpa_first_superstep_fastpath(spark):
    """The identity-init first superstep reduces to one min-neighbor
    aggregation when the symmetrized (listener, speaker) pairs are
    duplicate-free — gated by the exact dup metric observed on the CSR
    build. Four shapes pin the gate and the semantics, each against the
    independent NumPy replay (np_lpa):

    (a) clean canonical graph: fast path engages (first_superstep_fast)
        and mover history and labels match the replay;
    (b) mutual directed pair (both (u,v) and (v,u) in the input): the
        symmetrized view holds the pair twice -> dup mass 20% of
        messages, far above the 2% engage bound -> fast path must NOT
        engage, and labels still match the replay;
    (c) self-loops: a self-loop is a real vote for the vertex's own
        label (cnt 1, sticky cur=true) and must win against a cnt-1
        neighbor vote under the (cnt, cur, -lbl) tie-break;
    (d) a large clean graph plus ONE duplicated pair (dup mass under
        the bound): the fast path engages WITH the dup-correction
        branch, whose cnt-2 candidate must beat smaller-id cnt-1
        neighbors — exactly where a bare min-neighbor plan would
        diverge from the general gather."""
    # (a) clean graph
    edges, _ = fx.ring_of_cliques(spark)
    fast = lpa(edges, max_iter=15, mode="tables", state_name="lpa_fp_a")
    assert fast.first_superstep_fast is True
    want, movers = _np_lpa_of(edges, 15)
    assert fast.changed_history == movers
    assert _labels(fast) == want

    # (b) mutual pair -> duplicate sym rows -> fallback, same answer
    rows = [(1, 2), (2, 1), (2, 3), (3, 4), (4, 1)]
    dup_edges = spark.createDataFrame(rows, "src long, dst long")
    dup = lpa(dup_edges, max_iter=10, mode="tables", state_name="lpa_fp_b")
    assert dup.first_superstep_fast is False
    want, movers = _np_lpa_of(dup_edges, 10)
    assert dup.changed_history == movers
    assert _labels(dup) == want

    # (c) self-loops: fast path engages (a self-loop is one sym row),
    # answers match the replay; isolated-from-others vertex keeps itself
    rows = [(1, 1), (1, 2), (3, 4), (5, 5)]
    sl_edges = spark.createDataFrame(rows, "src long, dst long")
    sl = lpa(sl_edges, max_iter=10, mode="tables", state_name="lpa_fp_c")
    assert sl.first_superstep_fast is True
    want, movers = _np_lpa_of(sl_edges, 10)
    assert sl.changed_history == movers
    assert _labels(sl) == want

    # (d) sparse duplicates: clique ring + one reversed existing edge
    # (the canonical fixture stores each undirected edge once, so the
    # reverse row duplicates its sym pair); dup mass 2 of ~370 msgs
    # engages the fast path with the dup-correction candidates live.
    # The edge joins a vertex u that may move at superstep 1 to its
    # LARGEST neighbor v, so u's cnt-2 vote for v must beat the
    # smaller-id cnt-1 votes a bare min-neighbor plan would pick
    base_edges, _ = fx.ring_of_cliques(spark)
    parity = _parity(base_edges)
    nbrs = {}
    for r in base_edges.select("src", "dst").collect():
        nbrs.setdefault(r.src, set()).add(r.dst)
        nbrs.setdefault(r.dst, set()).add(r.src)
    u, v = next((u, max(ns)) for u, ns in sorted(nbrs.items())
                if parity[u] == 0 and len(ns) > 1)
    one = base_edges.filter(
        ((F.col("src") == u) & (F.col("dst") == v))
        | ((F.col("src") == v) & (F.col("dst") == u))
    ).select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    mix = base_edges.unionByName(one)
    dd = lpa(mix, max_iter=15, mode="tables", state_name="lpa_fp_d")
    assert dd.first_superstep_fast is True
    want, movers = _np_lpa_of(mix, 15)
    # per-superstep mover counts pin superstep-1 movers themselves, not
    # just the (convergence-forgiving) final labels
    assert dd.changed_history[0] == movers[0]
    assert dd.changed_history == movers
    assert _labels(dd) == want
