"""The benchmark's workloads: inputs, the timed job, and output checks.

Each workload calls the engine through module attributes
(``pr.pagerank(...)``), so the traced run's wrappers see every call,
and opens one span per layer it drives; a layer span runs from reading
the layer's input to its materialised output.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
import oracles
from communitydetection_jl_spark.functions import ids
from communitydetection_jl_spark.operators import components, lpa, modularity, triangles
from communitydetection_jl_spark.operators import pagerank as pr
from communitydetection_jl_spark.plans.runner import RunLedger
from communitydetection_jl_spark.sources import pages

TOL = 1e-6


def _digest(labels) -> str:
    """Digest of a labelling, invariant under row order."""
    lab = labels.sort_values("id")
    return hashlib.sha256(lab["id"].to_numpy().tobytes()
                          + lab["comm"].to_numpy().astype(np.int64).tobytes()).hexdigest()[:16]


def _dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    ) / (1024 * 1024)


class RankResume:
    """PageRank with a RunLedger in the default (resumable) state mode:
    stop after ``stop_after`` supersteps, then a second call resumes from
    the ledger's checkpoint to tol."""

    name = "rank_resume"
    ops = ("pagerank.stopped", "pagerank.resumed")
    pages = 100_000
    stop_after = 8

    def generate(self, seed: int, work: str) -> dict:
        src, dst, w = gen.link_graph(seed, self.pages)
        path = os.path.join(work, "edges")
        gen.write_edges(path, src, dst, w)
        return {"edges": path, "work": work, "src": src, "dst": dst, "w": w,
                "pages": self.pages}

    def properties(self, inp: dict) -> dict:
        return gen.graph_properties(inp["pages"], inp["src"], inp["dst"], inp["w"])

    def job(self, spark, tr, inp: dict) -> dict:
        ledger = RunLedger(os.path.join(inp["work"], "ledger"))
        with tr.span("pagerank"):
            first = pr.pagerank(spark.read.parquet(inp["edges"]), tol=TOL,
                                max_iter=self.stop_after, ledger=ledger)
        t0 = time.perf_counter()
        with tr.span("pagerank"):
            res = pr.pagerank(spark.read.parquet(inp["edges"]), tol=TOL, ledger=ledger)
            ranks = res.ranks.toPandas()
        return {"ranks": ranks, "delta": res.delta, "ledger": ledger.dir,
                "resume_s": time.perf_counter() - t0,
                "first_iters": first.iterations,
                "iterations": res.iterations, "resumed_steps": len(res.deltas),
                "iter_seconds": first.iter_seconds + res.iter_seconds}

    def check(self, spark, inp: dict, out: dict) -> tuple[dict, dict]:
        counters = {
            "steady_edges_per_s": inp["src"].size / statistics.median(out["iter_seconds"]),
            "resume_s": out["resume_s"],
            "runner.checkpoint_mb": _dir_mb(out["ledger"]),
        }
        bad = {op: [] for op in self.ops}
        if out["first_iters"] != self.stop_after:
            bad["pagerank.stopped"].append(f"first call ran {out['first_iters']} supersteps")
        # a resume that silently restarted from iteration 0 would still
        # converge to the oracle's ranks
        if out["iterations"] != self.stop_after + out["resumed_steps"]:
            bad["pagerank.resumed"].append(
                f"ended at iteration {out['iterations']} after {out['resumed_steps']} "
                f"supersteps: did not resume from iteration {self.stop_after}")
        if out["delta"] > TOL:
            bad["pagerank.resumed"].append(f"stopped at delta {out['delta']:.3g} > tol {TOL}")
        ids_, p = oracles.pagerank(inp["src"], inp["dst"], inp["w"])
        got = out["ranks"].sort_values("id")
        if not np.array_equal(got["id"].to_numpy(), ids_):
            bad["pagerank.resumed"].append(f"{len(got)} ranked ids, oracle has {ids_.size}")
        elif not np.allclose(got["pagerank"].to_numpy(), p, rtol=0, atol=1e-6):
            err = np.abs(got["pagerank"].to_numpy() - p).max()
            bad["pagerank.resumed"].append(f"max |p - oracle| = {err:.3g} > 1e-6")
        return bad, counters


class WebCommunities:
    """From a crawl to communities: pages -> latest-capture dedup -> href
    extraction -> restrict to corpus -> raw edge table written -> dense
    ids -> dense edge table written; then, on that table, LPA for
    ``lpa_supersteps`` supersteps, modularity of LPA's labels, connected
    components and per-vertex triangle counts.

    LPA runs a fixed number of supersteps, not to convergence: on about
    half of the seeds the engine's semi-synchronous schedule never
    converges (two adjacent vertices of one hash parity swap labels
    forever), so a convergence rule would fail those runs. Twelve
    supersteps is below every converging seed's count (14-21), so each
    run does the same work, full gathers and then the delta-count path.
    The check replays the schedule superstep by superstep in NumPy."""

    name = "web_communities"
    ops = ("ingest", "lpa", "modularity", "components", "triangles")
    pages = 8_000
    lpa_supersteps = 12

    def generate(self, seed: int, work: str, pages: int | None = None) -> dict:
        pages = pages or self.pages
        table, (src, dst, w) = gen.pages_corpus(seed, pages)
        path = os.path.join(work, "pages")
        gen.write_table(path, table)
        return {"pages_path": path, "work": work, "src": src, "dst": dst, "w": w,
                "pages": pages, "captures": table.num_rows}

    def properties(self, inp: dict) -> dict:
        return {"captures": inp["captures"],
                **gen.graph_properties(inp["pages"], inp["src"], inp["dst"], inp["w"])}

    def job(self, spark, tr, inp: dict) -> dict:
        links_path = os.path.join(inp["work"], "links")
        dense_path = os.path.join(inp["work"], "dense")
        with tr.span("pages.extract"):
            crawl = pages.read_pages(spark, inp["pages_path"])
            links = pages.restrict_to_corpus(pages.extract_edges(crawl), pages.url_dim(crawl))
            links.write.mode("overwrite").parquet(links_path)
        with tr.span("ids.densify"):
            dense, dim = ids.densify_edges(spark.read.parquet(links_path))
            dense.write.mode("overwrite").parquet(dense_path)
            dim_pd = dim.toPandas()
            dim.unpersist()
        with tr.span("lpa"):
            res = lpa.lpa(spark.read.parquet(dense_path), mode="tables",
                          max_iter=self.lpa_supersteps)
            labels = res.labels.toPandas()
        with tr.span("modularity"):
            q = modularity.modularity(spark.read.parquet(dense_path), res.labels)
        with tr.span("components"):
            comp = components.connected_components(spark.read.parquet(dense_path)).toPandas()
        with tr.span("triangles"):
            tri = triangles.vertex_triangle_counts(spark.read.parquet(dense_path)).toPandas()
        return {"dense": dense_path, "links": links_path, "dim": dim_pd, "lpa": res,
                "labels": labels, "q": q, "comp": comp, "tri": tri}

    def check(self, spark, inp: dict, out: dict) -> tuple[dict, dict]:
        bad = {op: [] for op in self.ops}
        dense = pq.read_table(out["dense"]).to_pandas()
        src, dst, w = (dense[c].to_numpy() for c in ("src", "dst", "weight"))
        res = out["lpa"]
        # full-gather supersteps: before the delta path engaged, and not
        # the identity-init fast first superstep
        full = res.iter_seconds[:res.delta_from]
        if res.first_superstep_fast:
            full = full[1:]
        counters = {
            "pages.edges_out": float(pq.read_table(out["links"]).num_rows),
            "steady_edges_per_s": 2 * src.size / statistics.median(full or res.iter_seconds),
            "lpa.supersteps": res.iterations,
            "lpa.full_gather_steps": len(full),
            "lpa.movers": sum(res.changed_history),
            "lpa.digest": _digest(out["labels"]),
        }

        # ingest: the dense table, mapped back to pages through Spark's
        # own url hash (as the engine's url ids), is the embedded link set
        urls = spark.createDataFrame([(gen.page_url(i),) for i in range(inp["pages"])], "url string")
        hashed = urls.selectExpr("abs(xxhash64(url)) as id").toPandas()["id"].to_numpy()
        page_of = dict(zip(hashed.tolist(), range(inp["pages"])))
        nid_page = {int(r.nid): page_of.get(int(r.id), -1) for r in out["dim"].itertuples()}
        got = sorted(zip(dense["src"].map(nid_page), dense["dst"].map(nid_page), dense["weight"]))
        want = sorted(zip(inp["src"].tolist(), inp["dst"].tolist(), inp["w"].tolist()))
        if got != want:
            bad["ingest"].append(f"{len(got)} extracted edges differ from the "
                                 f"{len(want)} embedded links")

        verts = np.union1d(src, dst)
        labels = out["labels"].sort_values("id")
        vid, comm = labels["id"].to_numpy(), labels["comm"].to_numpy()
        # the engine's move parity, from Spark's own hash of the id column
        edges = spark.read.parquet(out["dense"])
        parity = (edges.select(F.col("src").alias("id")).union(edges.select("dst")).distinct()
                  .select("id", F.expr("pmod(xxhash64(id), 2)").alias("p"))
                  .toPandas().sort_values("id")["p"].to_numpy())
        want_lbl, want_movers = oracles.lpa(src, dst, verts, parity, self.lpa_supersteps)
        want_lbl = oracles.first_seen(want_lbl)
        if res.changed_history != want_movers:
            bad["lpa"].append(f"movers per superstep {res.changed_history}, "
                              f"NumPy gives {want_movers}")
        if not np.array_equal(vid, verts):
            bad["lpa"].append(f"{vid.size} labelled ids, the graph has {verts.size} vertices")
        elif not np.array_equal(comm, want_lbl):
            bad["lpa"].append(f"{np.count_nonzero(comm != want_lbl)} labels differ from NumPy's")
        want_q = oracles.modularity(src, dst, w, vid, comm)
        if not np.isclose(out["q"], want_q, rtol=0, atol=1e-6):
            bad["modularity"].append(f"Q = {out['q']!r}, NumPy gives {want_q!r}")

        comp = out["comp"].sort_values("id")
        want_comp = gen.components_of(int(verts.max()) + 1, src, dst)
        if not np.array_equal(comp["id"].to_numpy(), verts):
            bad["components"].append(f"{len(comp)} ids, the graph has {verts.size} vertices")
        elif not np.array_equal(comp["comp"].to_numpy(), want_comp[verts]):
            bad["components"].append("component ids differ from NumPy's")

        tri = dict(zip(out["tri"]["id"].tolist(), out["tri"]["triangles"].tolist()))
        if {k: v for k, v in tri.items() if v} != oracles.triangle_counts(out["dense"]):
            bad["triangles"].append("per-vertex counts differ from DuckDB")
        counters["triangles.count"] = sum(tri.values()) / 3
        return bad, counters


WORKLOADS = {w.name: w for w in (RankResume(), WebCommunities())}
