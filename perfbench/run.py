"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload rank_resume --seed 1 --seconds 30 --trace 0

Closed loop, one client, one job at a time. Set-up is a session start in
a fresh JVM plus seeded input generation; then one timed job runs, the
first job of that JVM, as a batch job submitted on its own does. A JVM
keeps getting faster over its first jobs (rank_resume at 8,000 pages:
28.5, 15.2, 14.9, 11.4 s), so only a first job repeats from run to run.
The job's output is checked outside the timed region. With ``--trace 1``
a second, traced job follows in another fresh JVM. ``--seconds`` is
accepted for the command-line contract; a run measures one job.

The last stdout line is one JSON object: end-to-end metrics, or with
``--trace 1`` the per-layer metrics of the traced job. ``attempted`` and
``failed`` count operations (each operator call a workload checks).

All scratch (Spark local dirs, warehouse, state, event log, inputs)
lives under ``.perfbench_work/`` in the checkout and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "2g"
# per-job values the workloads' checks report; printed in the summary
# where a workload has them and emitted per layer when traced
COUNTERS = ("steady_edges_per_s", "resume_s", "runner.checkpoint_mb",
            "pages.edges_out", "triangles.count", "lpa.supersteps",
            "lpa.full_gather_steps", "lpa.movers")


def pin_env(work: str) -> dict[str, str]:
    """Fixed heap, all scratch under ``work``, no inherited engine knob
    (``SPARK_GRAFT_*``) left to change what is measured."""
    dirs = {k: os.path.join(work, k) for k in
            ("tmp", "local", "warehouse", "state", "events", "inputs")}
    for d in dirs.values():
        os.makedirs(d)
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ.update(
        TMPDIR=dirs["tmp"],
        PYTHONDONTWRITEBYTECODE="1",
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_LOCAL_DIR=dirs["local"],
        SPARK_GRAFT_WAREHOUSE=dirs["warehouse"],
        SPARK_GRAFT_STATE_DIR=dirs["state"],
        SPARK_GRAFT_JAVA_OPTS=f"-XX:+UseParallelGC -XX:-UsePerfData "
                              f"-Djava.io.tmpdir={dirs['tmp']}",
    )
    return dirs


def start_session(extra: dict | None = None):
    """local[nproc] with shuffle partitions equal to the core count."""
    from communitydetection_jl_spark import session

    cores = len(os.sched_getaffinity(0))
    conf = {"spark.ui.showConsoleProgress": "false", **(extra or {})}
    return session.get_spark("perfbench", cores=cores, shuffle_partitions=cores,
                             extra_conf=conf)


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit; it exits
    when its stdin closes, and its Python workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    if gateway.proc is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _descendants() -> dict[int, tuple[str, int]]:
    """This process and all its live descendants: pid -> (state, CPU
    ticks including reaped children's)."""
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        procs[int(pid)] = (int(fields[1]), fields[0], sum(int(x) for x in fields[11:15]))
    mine, frontier = set(), {os.getpid()}
    while frontier:
        mine |= frontier
        frontier = {p for p, (ppid, _, _) in procs.items() if ppid in frontier} - mine
    return {p: procs[p][1:] for p in mine if p in procs}


def tree_cpu() -> float:
    """CPU seconds of this process and all its descendants (JVM, Python
    workers), including descendants that already exited and were reaped."""
    return sum(ticks for _, ticks in _descendants().values()) / os.sysconf("SC_CLK_TCK")


def stop_descendants(timeout: float = 30.0) -> None:
    """Terminate any process this one started that is still running,
    such as a JVM whose session start was interrupted, and wait for it."""
    deadline, sig = time.monotonic() + timeout, signal.SIGTERM
    while True:
        left = [p for p, (state, _) in _descendants().items()
                if p != os.getpid() and state != "Z"]
        if not left:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.5)


def purge(spark, dirs: dict) -> None:
    """Drop every table and cached block and empty the state dirs, so no
    job reads an earlier job's tables."""
    spark.catalog.clearCache()
    for t in spark.catalog.listTables():
        spark.sql(f"DROP TABLE IF EXISTS `{t.name}`")
    for k in ("warehouse", "state"):
        shutil.rmtree(dirs[k], ignore_errors=True)
        os.makedirs(dirs[k])
    shutil.rmtree(os.path.join(dirs["inputs"], "ledger"), ignore_errors=True)


def measure(wl, spark, tr, inp: dict, dirs: dict) -> dict:
    """One timed job, then its output check (untimed) and a purge."""
    cpu0, t0 = tree_cpu(), time.perf_counter()
    try:
        with tr.span("job"):
            out = wl.job(spark, tr, inp)
        bad = {}
    except Exception as e:  # a failed operation is counted, not fatal
        bad = {op: [f"job raised {e!r}"] for op in wl.ops}
    job_s, cpu_s = time.perf_counter() - t0, tree_cpu() - cpu0
    counters = {}
    if not bad:
        try:
            bad, counters = wl.check(spark, inp, out)
        except Exception as e:
            bad = {op: [f"check raised {e!r}"] for op in wl.ops}
    purge(spark, dirs)
    return {"job_s": job_s, "cpu_s": cpu_s, "bad": bad, "counters": counters}


def traced_metrics(tr, stages, start_s: float, traced: dict, timed: dict) -> dict:
    """Per-layer metrics: the traced job's spans and stages and
    counters, plus the tracing overhead against the untraced job."""
    from spans import layer_metrics

    out = layer_metrics(tr, stages)
    out["session.start_s"] = start_s
    # both jobs ran first in a fresh JVM
    out["trace.overhead_s"] = traced["job_s"] - timed["job_s"]
    for k in COUNTERS:
        out[k] = float(traced["counters"].get(k, 0.0))
    return out


def run(wl, dirs: dict, seed: int, traced: bool) -> dict:
    from spans import NullTracer, Tracer, attribute, event_log_conf, read_event_log

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session()
        start_s = time.perf_counter() - t0
        inp = wl.generate(seed, dirs["inputs"])
        setup_s = time.perf_counter() - t0

        timed = measure(wl, spark, NullTracer(), inp, dirs)
        reps, layers = [timed], None
        if traced:
            spark.stop()
            spark = None
            stop_jvm()  # the traced job too runs first in a fresh JVM
            tr = Tracer()
            tr.install()
            try:
                spark = start_session(event_log_conf(dirs["events"]))
                reps.append(measure(wl, spark, tr, inp, dirs))
                spark.stop()  # flushes the event log
                spark = None
            finally:
                tr.uninstall()
            digests = {r["counters"]["lpa.digest"] for r in reps if "lpa.digest" in r["counters"]}
            if len(digests) > 1:
                reps[-1]["bad"].setdefault("lpa", []).append(
                    f"labels differ between two runs of one input: {sorted(digests)}")
            stages = attribute(tr, read_event_log(dirs["events"]))
            layers = traced_metrics(tr, stages, start_s, reps[-1], timed)
        props = wl.properties(inp)
    finally:
        try:
            if spark is not None:
                spark.stop()
        finally:
            stop_jvm()
    return {"setup_s": setup_s, "reps": reps, "timed": timed, "props": props,
            "layers": layers}


def end_to_end_metrics(res: dict) -> dict[str, float]:
    """Set-up time, and the untraced job's wall and CPU time."""
    return {
        "setup_s": res["setup_s"],
        "job_s": res["timed"]["job_s"],
        "cpu_s": res["timed"]["cpu_s"],
    }


def unit_of(name: str) -> str:
    if name == "steady_edges_per_s":
        return "edges/s"
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith((".s", "_s")):
        return "s"
    return "count"


def _exit_on_sigterm(signum, frame) -> None:
    sys.exit(128 + signum)  # unwinds the finally blocks: JVM stop, scratch purge


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    sys.dont_write_bytecode = True
    sys.path[:0] = [ROOT, HERE]
    shutil.rmtree(WORK, ignore_errors=True)
    try:
        dirs = pin_env(WORK)
        from workloads import WORKLOADS  # fails here without the engine's sources

        wl = WORKLOADS[args.workload]
        res = run(wl, dirs, args.seed, bool(args.trace))
    finally:
        stop_descendants()
        shutil.rmtree(WORK, ignore_errors=True)

    reps, timed = res["reps"], res["timed"]
    attempted = len(wl.ops) * len(reps)
    failed = 0
    for r in reps:
        for op, problems in r["bad"].items():
            if problems:
                failed += 1
                print(f"FAILED {wl.name} {op}:", "; ".join(problems), file=sys.stderr)
    end_to_end = end_to_end_metrics(res)
    shown = dict(end_to_end)
    for k in ("steady_edges_per_s", "resume_s"):
        if k in timed["counters"]:
            shown[k] = timed["counters"][k]
    print(f"{wl.name} seed={args.seed} input={json.dumps(res['props'])}")
    print(f"  jobs_s {[round(r['job_s'], 3) for r in reps]}")
    print(f"  counters {json.dumps(timed['counters'])}")
    for k, v in shown.items():
        print(f"  {k:<20} {v:14.4f} {unit_of(k)}")
    print(f"  {'error_rate':<20} {failed / attempted:14.4f} ({failed}/{attempted} operations)")

    metrics = res["layers"] if args.trace else end_to_end
    print(json.dumps({
        "correct": not failed,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
