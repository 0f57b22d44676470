"""Spans, entry-point wrappers and Spark event-log attribution.

Used only by the traced run (``--trace 1``). The benchmark's own code
opens spans around each workload step; ``Tracer.install`` additionally
wraps the public entry points of the engine's modules, so every span is
recorded from the benchmark's files and the engine runs unmodified.

Spark's own event log (enabled through ``get_spark(extra_conf=...)``,
uncompressed, one file) supplies per-stage task metrics. Each stage is
attributed to the innermost span containing its job's submission time;
the driver submits jobs from one thread at a time, so the attribution
is exact up to the log's millisecond resolution.
"""

from __future__ import annotations

import functools
import json
import math
import os
import statistics
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

MIB = 1024 * 1024


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    t0: float
    t1: float = math.nan
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class NullTracer:
    """The untraced run: spans cost nothing and record nothing."""

    def span(self, name: str, **attrs):
        return nullcontext()


class Tracer:
    """Spans of one traced job, kept in memory, plus the wrappers that
    ``install`` put on the engine's entry points."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        s = Span(len(self.spans), self._stack[-1].id if self._stack else None,
                 name, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, describe=None) -> None:
        """Replace ``owner.attr`` by a function that runs it in a span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            attrs = describe(*args) if describe else {}
            with self.span(name, **attrs):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        """Wrap the public entry point of every measured module."""
        from communitydetection_jl_spark import session
        from communitydetection_jl_spark.functions import ids
        from communitydetection_jl_spark.operators import (components, lpa, modularity,
                                                           pagerank, triangles)
        from communitydetection_jl_spark.plans.iterstate import StateLoop
        from communitydetection_jl_spark.plans.runner import RunLedger
        from communitydetection_jl_spark.sources import pages

        loop = lambda self, *a: {"loop": self.base_name}  # noqa: E731
        for kind in ("init", "step", "resume"):
            self.wrap(StateLoop, kind, f"iterstate.{kind}", loop)
        self.wrap(RunLedger, "record", "runner.record")
        for layer, mod, fns in (
            ("session", session, ("get_spark",)),
            ("pages", pages, ("latest_captures", "extract_edges", "url_dim",
                              "restrict_to_corpus")),
            ("ids", ids, ("densify_edges", "dense_ids", "ranked_by",
                          "rank_small_or_large")),
            ("pagerank", pagerank, ("pagerank",)),
            ("lpa", lpa, ("lpa",)),
            ("modularity", modularity, ("modularity",)),
            ("components", components, ("connected_components",)),
            ("triangles", triangles, ("vertex_triangle_counts",)),
        ):
            for fn in fns:
                self.wrap(mod, fn, f"{layer}.{fn}")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- span tree queries ---------------------------------------------
    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def within(self, span: Span, s: Span) -> bool:
        """True when ``s`` is ``span`` or one of its descendants."""
        while s is not None:
            if s.id == span.id:
                return True
            s = self.spans[s.parent] if s.parent is not None else None
        return False

    def depth(self, s: Span) -> int:
        d = 0
        while s.parent is not None:
            s = self.spans[s.parent]
            d += 1
        return d

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


# -- event log ---------------------------------------------------------


@dataclass
class Stage:
    id: int
    attempt: int
    job_ms: int = 0        # submission time of the job that ran it
    submit_ms: int = 0
    gc_ms: int = 0
    shuffle_write: int = 0
    spill: int = 0          # bytes spilled to disk
    peak_mem: int = 0       # max over tasks of peak execution memory
    output: int = 0         # bytes written by output commits
    span: int | None = None
    completed: bool = False


def event_log_conf(path: str) -> dict[str, str]:
    """Session config that writes one plain-JSON event log under ``path``."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(path),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(path: str) -> list[Stage]:
    """Completed stages with summed task metrics, from every event-log
    file under ``path`` (read after the SparkContext stopped)."""
    jobs: list[tuple[int, set[int]]] = []
    stages: dict[tuple[int, int], Stage] = {}
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
    for fname in files:
        with open(fname) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jobs.append((ev["Submission Time"], set(ev["Stage IDs"])))
                elif kind == "SparkListenerTaskEnd":
                    key = (ev["Stage ID"], ev["Stage Attempt ID"])
                    st = stages.setdefault(key, Stage(*key))
                    m = ev.get("Task Metrics") or {}
                    st.gc_ms += m.get("JVM GC Time", 0)
                    st.spill += m.get("Disk Bytes Spilled", 0)
                    st.peak_mem = max(st.peak_mem, m.get("Peak Execution Memory", 0))
                    st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st.output += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    st = stages.setdefault(key, Stage(*key))
                    st.submit_ms = info.get("Submission Time", 0)
                    st.completed = True
    out = []
    for st in stages.values():
        if not st.completed:
            continue
        owners = [t for t, ids in jobs if st.id in ids]
        earlier = [t for t in owners if t <= st.submit_ms]
        st.job_ms = max(earlier or owners or [st.submit_ms])
        out.append(st)
    return sorted(out, key=lambda s: (s.id, s.attempt))


def attribute(tr: Tracer, stages: list[Stage]) -> list[Stage]:
    """Set ``stage.span`` to the innermost span containing its job's
    submission time; returns the stages that fall inside some span."""
    out = []
    for st in stages:
        best = None
        for s in tr.spans:
            if math.floor(s.t0 * 1000) <= st.job_ms <= math.ceil(s.t1 * 1000):
                key = (tr.depth(s), s.t0)
                if best is None or key > best[0]:
                    best = (key, s)
        if best is not None:
            st.span = best[1].id
            out.append(st)
    return out


# -- per-layer metrics ---------------------------------------------------

PHASES = ("build", "init", "superstep", "between", "finalize")


def _sums(stages) -> dict[str, float]:
    return {
        "shuffle_write_mb": sum(s.shuffle_write for s in stages) / MIB,
        "spill_mb": sum(s.spill for s in stages) / MIB,
        "gc_s": sum(s.gc_ms for s in stages) / 1000.0,
    }


def _main_loop(tr: Tracer, op: Span) -> list[Span]:
    """The iterstate spans of the operator's own loop: the first loop
    opened under ``op``, excluding iterstate calls nested in others."""
    mine = [
        s for s in tr.spans
        if s.name.startswith("iterstate.") and s.id != op.id and tr.within(op, s)
        and not tr.spans[s.parent].name.startswith("iterstate.")
    ]
    if not mine:
        return []
    loop = mine[0].attrs.get("loop")
    return [s for s in mine if s.attrs.get("loop") == loop]


def operator_phases(tr: Tracer, op: Span, stages: list[Stage]) -> dict:
    """Split one operator span into phases that sum to its duration.

    build: operator start to its loop's first init/resume; init: to the
    first step; superstep: the step spans; between: gaps between steps;
    finalize: last step end to the operator's end (result included)."""
    loop = _main_loop(tr, op)
    starts = [s for s in loop if s.name != "iterstate.step"]
    steps = [s for s in loop if s.name == "iterstate.step"]
    t_init = starts[0].t0 if starts else (steps[0].t0 if steps else op.t1)
    t_s1 = steps[0].t0 if steps else (starts[-1].t1 if starts else op.t1)
    t_last = steps[-1].t1 if steps else t_s1
    stepped = sum(s.dur for s in steps)
    secs = {
        "build": t_init - op.t0,
        "init": t_s1 - t_init,
        "superstep": stepped,
        "between": (t_last - t_s1) - stepped,
        "finalize": op.t1 - t_last,
    }
    by_phase: dict[str, list[Stage]] = {p: [] for p in PHASES}
    for st in stages:
        if st.span is None or not tr.within(op, tr.spans[st.span]):
            continue
        owner = tr.spans[st.span]
        t = st.job_ms / 1000.0
        if any(tr.within(s, owner) for s in steps):
            phase = "superstep"
        elif any(tr.within(s, owner) for s in starts):
            phase = "init"
        elif t < t_init:
            phase = "build"
        elif t < t_s1:
            phase = "init"
        elif t <= t_last:
            phase = "between"
        else:
            phase = "finalize"
        by_phase[phase].append(st)
    out = {p: {"s": secs[p], **_sums(by_phase[p])} for p in PHASES}
    out["_steps"] = [s.dur for s in steps]
    out["_peak_mem"] = max((s.peak_mem for s in by_phase["superstep"]), default=0)
    return out


ITERATIVE = ("pagerank", "lpa", "components")


def layer_metrics(tr: Tracer, stages: list[Stage]) -> dict[str, float]:
    """Per-layer metrics of one traced job (root span ``job``); layers
    the job does not run read 0."""
    root = tr.named("job")[0]
    out: dict[str, float] = {}

    for op in ITERATIVE:
        calls = [operator_phases(tr, s, stages) for s in tr.named(op)]
        for p in PHASES:
            for k in ("s", "shuffle_write_mb", "spill_mb", "gc_s"):
                out[f"{op}.{p}.{k}"] = sum(c[p][k] for c in calls)
        steps = [d for c in calls for d in c["_steps"]]
        if op == "components":
            out["components.rounds"] = len(steps)
            continue
        if op == "pagerank":  # lpa.supersteps is the operator's own count
            out["pagerank.supersteps"] = len(steps)
        out[f"{op}.superstep.median_s"] = statistics.median(steps) if steps else 0.0
        out[f"{op}.superstep.peak_exec_mem_mb"] = max(
            (c["_peak_mem"] for c in calls), default=0) / MIB

    def inclusive(name: str, keys) -> None:
        spans = tr.named(name)
        owned = [st for st in stages
                 if any(tr.within(s, tr.spans[st.span]) for s in spans)]
        sums = _sums(owned)
        out[f"{name}.s"] = sum(s.dur for s in spans)
        for k in keys:
            out[f"{name}.{k}"] = sums[k]

    inclusive("triangles", ("shuffle_write_mb", "spill_mb", "gc_s"))
    inclusive("modularity", ("shuffle_write_mb", "spill_mb"))
    inclusive("pages.extract", ("shuffle_write_mb", "spill_mb"))
    inclusive("ids.densify", ("shuffle_write_mb",))

    for kind in ("init", "step", "resume"):
        out[f"iterstate.{kind}.s"] = sum(s.dur for s in tr.named(f"iterstate.{kind}"))
    steps = tr.named("iterstate.step")
    out["iterstate.steps"] = len(steps)
    out["iterstate.step.output_mb"] = sum(
        st.output for st in stages
        if any(tr.within(s, tr.spans[st.span]) for s in steps)) / MIB
    out["runner.record.s"] = sum(s.dur for s in tr.named("runner.record"))
    out["trace.unattributed_s"] = root.dur - sum(c.dur for c in tr.children(root))
    return out
