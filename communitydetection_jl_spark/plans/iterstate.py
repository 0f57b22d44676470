"""Materialization backend for iterative vertex-state loops.

Every iterative operator (PageRank, LPA, connected components, Louvain,
Infomap and SLPA supersteps) follows one discipline, found by profiling
at 54M edges:

  * per iteration, exactly ONE Spark action: a parquet write of the new
    state with convergence scalars attached as ``observe()`` metrics
    (no separate agg job, no broadcast subqueries);
  * state round-trips through parquet — perfect lineage truncation
    (no Catalyst stats compounding across iterations), no block-manager
    churn (the localCheckpoint/persist alternative tenures millions of
    row objects per iteration and stalls the JVM in GC), real file
    statistics for the next plan, and the written state IS the resume
    snapshot (north-rule checkpoint ledger);
  * the run's static side relation (CSR arcs, vote view, symmetrized
    edges) is materialized once through ``StateLoop.side`` — the one
    place the storage mode decides how;
  * optionally, state and side relations live in bucketed tables so
    the per-iteration joins are co-partitioned with ZERO exchange on
    the wide side (one narrow shuffle per superstep).

The storage ``mode`` picks where data lives, never which plan an
operator runs. Measured (200k-page corpus x64 replicas = 54M arcs,
steady-state superstep): naive localCheckpoint loop 9.6s, parquet
round-trip 2.6s, bucketed tables 2.2s at local[16]; overhead floor
0.55s/iter.
"""

from __future__ import annotations

import itertools
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

_LOOP_IDS = itertools.count()


def tune_for_iteration(spark: SparkSession) -> None:
    """Idempotent write-path tuning: v2 committer (no serial rename
    pass), no parquet summary files. The v2 committer moves task output
    straight into the target, so a killed job leaves a partial
    directory; the ``_SUCCESS`` marker, written at job commit, is what
    tells a complete state snapshot from a half-written one."""
    hc = spark.sparkContext._jsc.hadoopConfiguration()
    hc.set("mapreduce.fileoutputcommitter.algorithm.version", "2")
    hc.set("mapreduce.fileoutputcommitter.marksuccessfuljobs", "true")
    hc.set("parquet.summary.metadata.level", "NONE")


class no_aqe:
    """Disable AQE inside an explicitly-partitioned iteration loop:
    partitioning is static, so per-stage re-planning only adds driver
    latency to every superstep."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.adaptive.enabled", "true")
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.adaptive.enabled", self.prev)
        return False


class shuffle_parts:
    """Pin spark.sql.shuffle.partitions for the duration of an
    iteration loop, restoring the previous value even if the loop
    raises (an exception would otherwise leak a loop-sized override —
    possibly as low as 4 partitions — into every later query)."""

    def __init__(self, spark: SparkSession, parts: int):
        self.spark = spark
        self.parts = parts

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.parts))
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)
        return False


class StateLoop:
    """Owns the materialized per-iteration state of one algorithm run,
    and its static side relations (``side``).

    ``mode`` picks storage only — an operator runs the same plans in
    both modes:

    mode="dir":    state parquet under a scratch (or ledger) directory,
                   resumable; side relations are cached.
    mode="tables": bucketed managed tables (alternating names); joins
                   against same-bucketed side tables need no exchange.
                   Requires a writable spark.sql.warehouse.dir.

    ``parts`` (the bucket and state partition count) defaults to
    ``$SPARK_GRAFT_STATE_PARTS``, else the default parallelism. Fixing it
    ABOVE the core count (e.g. 64 on both scaling legs) keeps task
    granularity constant across cluster sizes — finer tasks
    load-balance skewed gathers and the same bucket count keeps every
    join zero-exchange at any parallelism.
    """

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        mode: str = "dir",
        bucket_key: str | None = None,
        parts: int | None = None,
        root: str | None = None,
        ledger=None,
        keep_last: int = 2,
    ):
        self.spark = spark
        self.mode = mode
        self.bucket_key = bucket_key
        self.parts = (parts or int(os.environ.get("SPARK_GRAFT_STATE_PARTS", "0"))
                      or spark.sparkContext.defaultParallelism)
        self.ledger = ledger
        self.keep_last = max(keep_last, 2)
        self.iteration = 0
        uid = next(_LOOP_IDS)
        self.base_name = name
        self.name = f"{name}_{os.getpid()}_{uid}"
        tune_for_iteration(spark)
        if mode == "tables":
            self._tables = [f"{self.name}_a", f"{self.name}_b"]
            for t in self._tables:
                self._drop_table(t)
            self.dir = None
        else:
            if ledger is not None:
                self.dir = os.path.join(ledger.dir, "state", name)
                os.makedirs(self.dir, exist_ok=True)
            else:
                base = root or os.environ.get("SPARK_GRAFT_STATE_DIR") or tempfile.gettempdir()
                self.dir = tempfile.mkdtemp(prefix=f"{self.name}_", dir=base)
        self._schema = None
        self._cur: DataFrame | None = None
        self._sides: list = []  # side tables (tables) / cached frames (dir)
        self.timings: list[float] = []  # wall seconds per step()

    # -- internals -------------------------------------------------------
    def _drop_table(self, t: str) -> None:
        try:
            loc = None
            if self.spark.catalog.tableExists(t):
                loc = (
                    self.spark.sql(f"DESCRIBE TABLE EXTENDED {t}")
                    .filter(F.col("col_name") == "Location")
                    .collect()
                )
            self.spark.sql(f"DROP TABLE IF EXISTS {t}")
            if loc:
                p = loc[0]["data_type"]
                if p.startswith("file:"):
                    shutil.rmtree(p[5:], ignore_errors=True)
        except Exception:
            pass
        # stale location from a previous session (in-memory catalog
        # forgets tables but their files survive)
        wh = self.spark.conf.get("spark.sql.warehouse.dir", "")
        if wh.startswith("file:"):
            wh = wh[5:]
        if wh:
            shutil.rmtree(os.path.join(wh, t), ignore_errors=True)

    def _write(self, df: DataFrame, target: str) -> None:
        if self.mode == "tables":
            self._drop_table(target)
            w = df.write
            if self.bucket_key:
                w = w.bucketBy(self.parts, self.bucket_key)
            w.mode("overwrite").saveAsTable(target)
        else:
            df.write.mode("overwrite").parquet(target)

    def _read(self, target: str) -> DataFrame:
        if self.mode == "tables":
            return self.spark.table(target)
        if self._schema is not None:
            return self.spark.read.schema(self._schema).parquet(target)
        return self.spark.read.parquet(target)

    def _target(self, iteration: int) -> str:
        if self.mode == "tables":
            return self._tables[iteration % 2]
        return os.path.join(self.dir, f"iter={iteration}")

    # -- API ---------------------------------------------------------------
    def side(self, plan: DataFrame, key: str) -> DataFrame:
        """Materialize a static relation of the run (CSR arcs, vote
        view, symmetrized edges) once, in the loop's mode; ``plan`` must
        already be hash-partitioned on ``key`` into ``self.parts``.
        Tables mode writes a table bucketed on ``key`` (one file per
        bucket, no repartition); dir mode caches it. Metrics observed
        on ``plan`` are filled by this build job. ``cleanup`` releases
        it."""
        if self.mode == "tables":
            t = f"{self.name}_side{len(self._sides)}"
            self._drop_table(t)
            plan.write.bucketBy(self.parts, key).mode("overwrite").saveAsTable(t)
            self._sides.append(t)
            return self.spark.table(t)
        df = plan.persist()
        df.count()
        self._sides.append(df)
        return df

    def init(self, df: DataFrame, start_iter: int = 0) -> DataFrame:
        """Materialize the initial state; returns the readable state."""
        self.iteration = start_iter
        if self.bucket_key and self.mode != "tables":
            df = df.repartition(self.parts, self.bucket_key)
        t = self._target(start_iter)
        self._write(df, t)
        self._cur = self._read(t)
        self._schema = self._cur.schema
        return self._cur

    def resume(self) -> DataFrame | None:
        """Dir mode: reopen the newest complete iter=K state written by
        a prior run (mid-algorithm resume). A directory without the
        job-commit ``_SUCCESS`` marker was cut mid-write and is
        skipped."""
        if self.mode == "tables" or not os.path.isdir(self.dir):
            return None
        iters = sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(self.dir)
            if d.startswith("iter=")
            and os.path.exists(os.path.join(self.dir, d, "_SUCCESS"))
        )
        if not iters:
            return None
        self.iteration = iters[-1]
        self._cur = self._read(self._target(self.iteration))
        self._schema = self._cur.schema
        return self._cur

    def step(
        self, plan: DataFrame, metrics: dict, write_cols: list | None = None
    ) -> tuple[DataFrame, dict]:
        """ONE action: write ``plan`` as the next state, collecting
        ``metrics`` (name -> Column) via an Observation attached to the
        write job. ``write_cols`` projects the written columns AFTER the
        observe, so metrics may reference scratch columns that are not
        persisted. Returns (new_state, metric values)."""
        t0 = time.time()
        self.iteration += 1
        obs = Observation(f"{self.name}_it{self.iteration}")
        cols = [c.alias(k) if hasattr(c, "alias") else F.expr(c).alias(k)
                for k, c in metrics.items()]
        observed = plan.observe(obs, *cols) if cols else plan
        if write_cols is not None:
            observed = observed.select(*write_cols)
        target = self._target(self.iteration)
        self._write(observed, target)
        got = dict(obs.get) if cols else {}
        self._cur = self._read(target)
        if self.ledger is not None:
            safe = {k: (float(v) if v is not None else None) for k, v in got.items()}
            self.ledger.record(self.iteration, safe)
        if self.mode != "tables":
            old = self.iteration - self.keep_last
            if old >= 0:
                shutil.rmtree(self._target(old), ignore_errors=True)
        self.timings.append(time.time() - t0)
        return self._cur, got

    def cleanup(self, keep_final: bool = False) -> None:
        """Release the side relations, and the state except (with
        ``keep_final``) the final one backing the returned frame."""
        for side in self._sides:
            if self.mode == "tables":
                self._drop_table(side)
            else:
                side.unpersist()
        self._sides = []
        if self.mode == "tables":
            final = self._target(self.iteration)
            for t in self._tables:
                if keep_final and t == final:
                    continue
                self._drop_table(t)
        elif self.dir and self.ledger is None:
            if keep_final:
                # the final state files back the returned DataFrame, so
                # they can't be removed now — purge at interpreter exit
                # instead of leaking one dir per algorithm call
                from ..functions.scratch import register

                register(self.dir)
            else:
                shutil.rmtree(self.dir, ignore_errors=True)
