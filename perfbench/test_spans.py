"""Self-test of the benchmark's traced path on tiny inputs.

    python3 -m pytest perfbench -q -p no:cacheprovider

Runs both workloads' jobs inside one traced job (karate for rank_resume,
a 300-page crawl for web_communities), then checks
that spans nest, every event-log stage lands in exactly one innermost
span, no operator phase is negative, the outputs pass the workloads' own
checks, and the emitted metric names are exactly BENCHMARK.json's.
"""

from __future__ import annotations

import json
import math
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import run  # noqa: E402
from spans import PHASES, Tracer, attribute, event_log_conf, operator_phases, read_event_log  # noqa: E402


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    saved = dict(os.environ)
    dirs = run.pin_env(str(tmp_path_factory.mktemp("perfbench")))
    from communitydetection_jl_spark.sources.fixtures import KARATE_EDGES
    from pyspark.sql import SparkSession

    import workloads

    active = SparkSession.getActiveSession()
    if active is not None:  # the event log is only set at context start
        active.stop()
    edges = np.array(KARATE_EDGES, dtype=np.int64)
    src, dst, w = edges[:, 0], edges[:, 1], np.ones(len(edges))
    gen.write_edges(os.path.join(dirs["inputs"], "edges"), src, dst, w)
    graph = {"edges": os.path.join(dirs["inputs"], "edges"), "src": src, "dst": dst,
             "w": w, "work": dirs["inputs"], "pages": 35}
    crawl_dir = os.path.join(dirs["inputs"], "crawl")
    crawl = workloads.WebCommunities().generate(3, crawl_dir, 300)
    jobs = [(workloads.RankResume(), graph), (workloads.WebCommunities(), crawl)]

    tr = Tracer()
    tr.install()
    try:
        spark = run.start_session(event_log_conf(dirs["events"]))
        with tr.span("job"):
            outs = [wl.job(spark, tr, inp) for wl, inp in jobs]
        checks = [wl.check(spark, inp, out) for (wl, inp), out in zip(jobs, outs)]
        spark.stop()
    finally:
        run.stop_jvm()
        tr.uninstall()
        os.environ.clear()
        os.environ.update(saved)
    stages = read_event_log(dirs["events"])
    return tr, stages, attribute(tr, stages), checks


def test_outputs_pass_the_workload_checks(traced):
    _, _, _, checks = traced
    for bad, counters in checks:
        assert all(problems == [] for problems in bad.values()), bad
    assert checks[0][1]["runner.checkpoint_mb"] > 0
    assert checks[1][1]["lpa.supersteps"] > 0
    assert checks[1][1]["triangles.count"] > 0


def test_spans_nest(traced):
    tr = traced[0]
    assert len(tr.named("job")) == 1 and tr.named("job")[0].parent is None
    for s in tr.spans:
        assert s.t0 <= s.t1
        if s.parent is not None:
            p = tr.spans[s.parent]
            assert p.t0 <= s.t0 and s.t1 <= p.t1, (p.name, s.name)
        kids = sorted(tr.children(s), key=lambda k: k.t0)
        for a, b in zip(kids, kids[1:]):
            assert a.t1 <= b.t0, (a.name, b.name)
    names = {s.name for s in tr.spans}
    for layer in ("pagerank", "pages.extract", "ids.densify", "triangles",
                  "lpa", "modularity", "components", "lpa.lpa",
                  "modularity.modularity", "components.connected_components",
                  "pagerank.pagerank", "iterstate.init", "iterstate.step",
                  "iterstate.resume", "runner.record", "session.get_spark",
                  "pages.extract_edges", "ids.densify_edges"):
        assert layer in names


def test_every_stage_has_exactly_one_innermost_span(traced):
    tr, stages, attributed, _ = traced
    root = tr.named("job")[0]
    in_root = [st for st in stages
               if math.floor(root.t0 * 1000) <= st.job_ms <= math.ceil(root.t1 * 1000)]
    assert len(in_root) > 20 and attributed == in_root
    for st in attributed:
        holders = [s for s in tr.spans
                   if math.floor(s.t0 * 1000) <= st.job_ms <= math.ceil(s.t1 * 1000)]
        deepest = max(tr.depth(s) for s in holders)
        assert [s.id for s in holders if tr.depth(s) == deepest] == [st.span]


def test_operator_phases_are_non_negative(traced):
    tr, _, attributed, _ = traced
    # rank_resume's stopped and resumed calls, then LPA and components
    assert [len(tr.named(op)) for op in ("pagerank", "lpa", "components")] == [2, 1, 1]
    for op in tr.named("pagerank") + tr.named("lpa") + tr.named("components"):
        ph = operator_phases(tr, op, attributed)
        assert all(ph[p]["s"] >= -1e-9 for p in PHASES), (op.name, ph)
        assert ph["superstep"]["s"] > 0 and ph["_steps"]


def test_metric_names_match_benchmark_json(traced):
    tr, _, attributed, _ = traced
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    rep = {"job_s": 1.0, "cpu_s": 1.0, "counters": {}}
    layers = run.traced_metrics(tr, attributed, 1.0, rep, rep)
    assert sorted(layers) == sorted(m["name"] for m in bench["per_layer"])
    e2e = run.end_to_end_metrics({"setup_s": 1.0, "timed": rep})
    assert sorted(e2e) == sorted(m["name"] for m in bench["end_to_end"])
    for m in bench["per_layer"] + bench["end_to_end"]:
        assert run.unit_of(m["name"]) == m["unit"]
    import workloads

    assert sorted(w["name"] for w in bench["workloads"]) == sorted(workloads.WORKLOADS)
