"""StateLoop / dense_ids unit tests (plans/iterstate.py, functions/ids.py)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from communitydetection_jl_spark.functions.ids import dense_ids, densify_edges
from communitydetection_jl_spark.plans.iterstate import StateLoop


def test_stateloop_dir_roundtrip(spark, tmp_path):
    loop = StateLoop(spark, "t", root=str(tmp_path))
    df = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    state = loop.init(df)
    assert state.count() == 100
    # one step: increment v, observe sum
    state, got = loop.step(
        state.select("id", (F.col("v") + 1).alias("v")),
        {"s": F.sum("v"), "c": F.count(F.lit(1))},
    )
    assert int(got["c"]) == 100
    assert int(got["s"]) == sum(2 * i + 1 for i in range(100))
    assert state.count() == 100
    assert loop.iteration == 1
    loop.cleanup()
    assert not os.path.exists(loop.dir)


def test_stateloop_write_cols_prunes_scratch(spark, tmp_path):
    loop = StateLoop(spark, "t2", root=str(tmp_path))
    state = loop.init(spark.range(10).select("id", F.lit(1.0).alias("p")))
    state, got = loop.step(
        state.select("id", (F.col("p") * 2).alias("p"),
                     (F.col("p") - 1).alias("_scratch")),
        {"d": F.sum(F.abs("_scratch"))},
        write_cols=["id", "p"],
    )
    assert state.columns == ["id", "p"]
    assert float(got["d"]) == 0.0
    loop.cleanup()


def test_stateloop_resume(spark, tmp_path):
    class FakeLedger:
        dir = str(tmp_path / "run1")

        def record(self, it, m):
            pass

    os.makedirs(FakeLedger.dir, exist_ok=True)
    loop = StateLoop(spark, "alg", ledger=FakeLedger())
    st = loop.init(spark.range(5).select("id", F.lit(0).alias("k")))
    for _ in range(3):
        st, _ = loop.step(st.select("id", (F.col("k") + 1).alias("k")), {})
    # a new loop over the same ledger resumes at iteration 3
    loop2 = StateLoop(spark, "alg", ledger=FakeLedger())
    resumed = loop2.resume()
    assert resumed is not None
    assert loop2.iteration == 3
    assert resumed.agg(F.max("k")).collect()[0][0] == 3


def test_stateloop_resume_skips_half_written_iteration(spark, tmp_path):
    """A run cut mid-write leaves iter=K without its job-commit marker
    (and possibly without some part files): resume must reopen K-1."""
    class FakeLedger:
        dir = str(tmp_path / "run1")

        def record(self, it, m):
            pass

    os.makedirs(FakeLedger.dir, exist_ok=True)
    loop = StateLoop(spark, "alg", ledger=FakeLedger())
    st = loop.init(spark.range(5).select("id", F.lit(0).alias("k")))
    for _ in range(3):
        st, _ = loop.step(st.select("id", (F.col("k") + 1).alias("k")), {})
    newest = os.path.join(loop.dir, "iter=3")
    os.remove(os.path.join(newest, "_SUCCESS"))
    parts = sorted(f for f in os.listdir(newest) if f.startswith("part-"))
    os.remove(os.path.join(newest, parts[0]))
    loop2 = StateLoop(spark, "alg", ledger=FakeLedger())
    resumed = loop2.resume()
    assert resumed is not None
    assert loop2.iteration == 2
    assert sorted(r.k for r in resumed.collect()) == [2] * 5


def test_stateloop_tables_mode(spark):
    loop = StateLoop(spark, "tt", mode="tables", bucket_key="id")
    st = loop.init(spark.range(50).select("id", F.lit(1.0).alias("v")))
    st, got = loop.step(
        st.select("id", (F.col("v") + 1).alias("v")), {"c": F.count(F.lit(1))}
    )
    assert int(got["c"]) == 50
    assert st.count() == 50
    loop.cleanup()
    assert not spark.catalog.tableExists(loop._tables[0])
    assert not spark.catalog.tableExists(loop._tables[1])


def test_stateloop_side_relation(spark, tmp_path):
    """side() materializes a static relation in the loop's mode, fills
    metrics observed on its plan, and cleanup() releases it."""
    from pyspark.sql import Observation

    for mode in ("dir", "tables"):
        loop = StateLoop(spark, f"sd_{mode}", mode=mode, bucket_key="id",
                         root=str(tmp_path))
        obs = Observation(f"sd_{mode}")
        plan = spark.range(40).repartition(loop.parts, "id").observe(
            obs, F.count(F.lit(1)).alias("c"))
        side = loop.side(plan, "id")
        assert int(obs.get["c"]) == 40
        assert side.count() == 40
        if mode == "tables":
            name = loop._sides[0]
            assert spark.catalog.tableExists(name)
        else:
            assert side.is_cached
        loop.cleanup()
        if mode == "tables":
            assert not spark.catalog.tableExists(name)
        else:
            assert not side.is_cached


def test_dense_ids_bijection(spark):
    verts = spark.range(0, 10_000).select(
        (F.xxhash64("id")).alias("id")
    )
    dim = dense_ids(verts)
    n = verts.distinct().count()
    rows = dim.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("nid").alias("dn"),
        F.min("nid").alias("mn"),
        F.max("nid").alias("mx"),
    ).collect()[0]
    assert rows["rows"] == n
    assert rows["dn"] == n
    assert rows["mn"] == 0
    assert rows["mx"] == n - 1
    # nid is the ascending rank of id
    chk = (
        dim.withColumn("rk", F.row_number().over(
            __import__("pyspark.sql.window", fromlist=["Window"]).Window.orderBy("id")) - 1)
        .filter(F.col("rk") != F.col("nid"))
        .count()
    )
    assert chk == 0


def test_densify_edges_preserves_structure(spark):
    e = spark.createDataFrame(
        [(100, 200, 1.0), (200, 300, 2.0), (100, 300, 1.0)],
        "src long, dst long, weight double",
    )
    de, dim = densify_edges(e)
    assert de.count() == 3
    assert dim.count() == 3
    # weights survive; degree structure isomorphic
    assert de.agg(F.sum("weight")).collect()[0][0] == 4.0
    back = (
        de.join(dim.select(F.col("nid").alias("src"), F.col("id").alias("osrc")), "src")
        .join(dim.select(F.col("nid").alias("dst"), F.col("id").alias("odst")), "dst")
        .select(F.col("osrc").alias("src"), F.col("odst").alias("dst"), "weight")
    )
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, e.collect())
    )
