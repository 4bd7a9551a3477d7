"""The repository's benchmark: seeded workloads driven through the engine's
public functions, with end-to-end metrics and a traced per-layer run.

    python3 perfbench/run.py --workload superstep --seed 1 --seconds 5 --trace 0

Load model: closed loop, one client.  One Spark process runs
``local[<cores>]`` with shuffle partitions at twice the cores; the job's
calls run back to back, each forced by an action.  The job repeats until
``--seconds`` have passed (at least once).

``--trace 0`` reports the end-to-end metrics: ``setup_s`` (session start,
input generation and input cache, median of ``SETUP_REPS`` set-ups),
``run_s`` (job wall, median over repetitions), ``cpu_s`` and
``peak_rss_mb`` (CPU and peak resident memory of the whole process tree
during the job).  ``--trace 1`` repeats the procedure traced, with Spark's event log
on, and reports the per-layer table of the traced job.

Every metric is printed by name with its unit; the last stdout line is one
JSON object, and the full record goes to ``perfbench/out/``.  The exit
code is 1 when an operation failed or an output check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
SETUP_REPS = 3

LAYERS = [
    "sources.io",
    "sources.ingest",
    "functions.entropy",
    "functions.ngd",
    "plans.pagerank",
    "plans.components",
    "plans.labelprop",
    "plans.triangles",
    "plans.superstep",
    "plans.yearly",
    "plans.subjects",
]
FIELDS = {
    "wall_s": "s",
    "exec_cpu_s": "s",
    "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "gc_s": "s",
    "jobs": "count",
    "failed_tasks": "count",
}
DERIVED = {
    "session.wall_s": "s",
    "plans.pagerank.setup_s": "s",
    "plans.components.setup_s": "s",
    "plans.labelprop.setup_s": "s",
    "plans.superstep.steady_ms": "ms",
    "plans.superstep.shuffle_mb_per_edge_superstep": "MB",
    "plans.components.changed_share": "ratio",
    "plans.yearly.per_year_s": "s",
    "sources.ingest.py_cpu_s": "s",
    "edge_supersteps_per_s": "edges/s",
    "trace.overhead_s": "s",
    "trace.remainder_s": "s",
    "trace.reconcile_ratio": "ratio",
}
RUNNER_LAYER = {
    "pagerank": "plans.pagerank",
    "connected_components": "plans.components",
    "label_propagation": "plans.labelprop",
}


def host() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"cores": len(os.sched_getaffinity(0)), "mem_gb": round(mem_kb / 2**20, 1)}


def session_conf(h: dict, event_log: str | None) -> dict:
    # an eighth of host memory, between 1 and 4 GiB: the inputs are small,
    # and the host is shared
    mem_mb = min(max(int(h["mem_gb"] * 1024) // 8, 1024), 4096)
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": f"{mem_mb}m",
        # JVM warnings would otherwise print on stdout
        "spark.driver.extraJavaOptions": f"-Xlog:disable -Djava.io.tmpdir={WORK}/tmp",
        "spark.local.dir": f"{WORK}/local",
        "spark.sql.warehouse.dir": f"{WORK}/warehouse",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def setup(wl, h, seed, event_log=None):
    """Start a session and build the inputs: (spark, inputs, total seconds,
    session-start seconds)."""
    from graph_computing_go_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{h['cores']}]",
        shuffle_partitions=2 * h["cores"],
        extra_conf=session_conf(h, event_log),
    )
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    inp = wl.setup(spark, seed)
    return spark, inp, time.perf_counter() - t0, t1 - t0


def run_job(wl, spark, inp, procs, tracer):
    """One timed execution of the job, then its checks."""
    from workloads import Job

    tracer.spark = spark
    job = Job(spark, tracer, WORK)
    procs.reset_peak()
    cpu0 = procs.cpu_s()
    t0 = time.perf_counter()
    error = None
    try:
        wl.run(job, inp)
    except Exception:  # an operation failed: count it and stop the job
        error = traceback.format_exc()
        print(error, file=sys.stderr)
    wall = time.perf_counter() - t0
    rep = {"wall_s": wall, "cpu_s": procs.cpu_s() - cpu0, "peak_rss_mb": procs.peak_mb()}
    if error is None:
        wl.check(job, inp)
    wl.cleanup(job)
    rep["check_s"] = time.perf_counter() - t0 - wall
    rep["traced"] = tracer.enabled
    rep["ops"] = dict(job.ops)
    rep["op_s"] = dict(job.op_s)
    rep["error"] = error
    rep["edge_supersteps"] = job.edge_supersteps
    rep["supersteps"] = {
        algo: [m["wall_ms"] for m in r.metrics] for algo, _, r in job.runners
    }
    return rep, job


def per_layer(tracer, fold, job, traced, untraced_s, session_s) -> dict:
    """The per-layer table of one traced job; ``untraced_s`` is the wall of
    the untraced job it is compared with."""
    m: dict[str, float] = {}
    walls = tracer.self_walls()
    for layer in LAYERS:
        f = fold.get(layer, {})
        m[f"{layer}.wall_s"] = walls.get(layer, 0.0)
        for field in FIELDS:
            if field != "wall_s":
                m[f"{layer}.{field}"] = f.get(field, 0)
    m["session.wall_s"] = session_s

    def inclusive(layer):
        return sum(s["end"] - s["start"] for s in tracer.spans if s["name"] == layer)

    for algo, layer in RUNNER_LAYER.items():
        steps_s = sum(m_["wall_ms"] for a, _, r in job.runners if a == algo
                      for m_ in r.metrics) / 1e3
        m[f"{layer}.setup_s"] = inclusive(layer) - steps_s if steps_s else 0.0
    steady = [x["wall_ms"] for _, _, r in job.runners for x in r.metrics[1:]]
    m["plans.superstep.steady_ms"] = statistics.median(steady) if steady else 0.0
    ss = fold.get("plans.superstep", {})
    es = job.edge_supersteps
    m["plans.superstep.shuffle_mb_per_edge_superstep"] = (
        (ss.get("shuffle_read_mb", 0) + ss.get("shuffle_write_mb", 0)) / es if es else 0.0
    )
    cc = [r for a, _, r in job.runners if a == "connected_components"]
    n_v = len(job.out["components"][0]) if "components" in job.out else 0
    deltas = [x["delta"] or 0 for r in cc for x in r.metrics]
    m["plans.components.changed_share"] = (
        sum(deltas) / (n_v * len(deltas)) if deltas and n_v else 0.0
    )
    years = job.out.get("walked_years", 0)
    m["plans.yearly.per_year_s"] = inclusive("plans.yearly") / years if years else 0.0
    m["sources.ingest.py_cpu_s"] = sum(
        s.get("py_cpu_s", 0.0) for s in tracer.spans if s["name"] == "sources.ingest"
    )
    m["edge_supersteps_per_s"] = es / untraced_s
    remainder = traced["wall_s"] - tracer.top_level_s()
    m["trace.overhead_s"] = traced["wall_s"] - untraced_s
    m["trace.remainder_s"] = remainder
    m["trace.reconcile_ratio"] = (sum(walls.values()) + remainder) / untraced_s
    return m


def stop_processes(procs) -> None:
    """Stop Spark, then the Spark JVM and its Python workers, and wait
    until every one of them has ended."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    children = [p for p in procs.pids() if p != procs.root]
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def measure(wl, h, args, procs, tracer, event_log=None):
    """``SETUP_REPS`` set-ups, each in a new session, then the job until
    ``--seconds`` have passed: (set-up s, session-start s, job records,
    last job)."""
    setups, starts, spark = [], [], None
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        spark, inp, total_s, session_s = setup(wl, h, args.seed, event_log)
        setups.append(total_s)
        starts.append(session_s)
    reps, t_begin = [], time.perf_counter()
    while not reps or (not reps[-1]["error"]
                       and time.perf_counter() - t_begin < args.seconds):
        rep, job = run_job(wl, spark, inp, procs, tracer)
        reps.append(rep)
    return setups, starts, reps, job


def untraced_run_s(workload: str, sizes: dict) -> float | None:
    """Median ``run_s`` of the clean untraced records of ``workload`` at
    the same input sizes in ``perfbench/out``."""
    runs = []
    for name in os.listdir(OUT):
        if name.startswith(f"{workload}-seed") and name.endswith("-trace0.json"):
            with open(os.path.join(OUT, name)) as f:
                rec = json.load(f)
            if rec.get("sizes") == sizes and rec.get("failed") == 0:
                runs.append(rec["end_to_end"]["run_s"])
    return statistics.median(runs) if runs else None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "local", "events"):
        os.makedirs(os.path.join(WORK, d))
    os.makedirs(OUT, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    # pyspark workers import the engine package (Arrow UDFs) from the root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path[:0] = [HERE, ROOT]

    from tracing import ProcTree, Tracer, fold_event_log  # noqa: E402
    from workloads import WORKLOADS  # noqa: E402

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    h = host()
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "host": h, "sizes": wl.sizes(), "why": wl.why}
    procs = ProcTree()
    procs.start()
    try:
        untraced = Tracer(False, procs, run_id)
        if not args.trace:
            setup_s, session_starts, reps, _ = measure(wl, h, args, procs, untraced)
        else:
            # the untraced run_s the traced job is compared with: the median
            # of this checkout's untraced runs, or else one made here first
            base = untraced_run_s(args.workload, wl.sizes())
            reps = []
            if base is None:
                _, _, reps, _ = measure(wl, h, args, procs, untraced)
                stop_processes(procs)
                base = statistics.median(r["wall_s"] for r in reps)
            events = os.path.join(WORK, "events")
            tracer = Tracer(True, procs, run_id)
            setup_s, session_starts, traced, job = measure(
                wl, h, args, procs, tracer, events)
            reps += traced
            if not traced[-1]["error"]:
                app_id = job.spark.sparkContext.applicationId
                job.spark.stop()
                fold = fold_event_log(os.path.join(events, app_id))
                record.update(untraced_run_s=base, spans=tracer.spans, fold=fold,
                              per_layer=per_layer(tracer, fold, job, traced[-1],
                                                  base, session_starts[0]))
    finally:
        t_stop = time.perf_counter()
        procs.stop()
        stop_processes(procs)
        record["teardown_s"] = time.perf_counter() - t_stop

    record.update(setups_s=setup_s, session_starts_s=session_starts, reps=reps)
    attempted = sum(len(r["ops"]) for r in reps)
    failures = [(name, why) for r in reps for name, why in r["ops"].items() if why]
    timed = [r for r in reps if not r["traced"]] or reps
    e2e = {
        "setup_s": (statistics.median(setup_s), "s"),
        "run_s": (statistics.median(r["wall_s"] for r in timed), "s"),
        "cpu_s": (statistics.median(r["cpu_s"] for r in timed), "s"),
        "peak_rss_mb": (statistics.median(r["peak_rss_mb"] for r in timed), "MB"),
    }
    record.update(
        end_to_end={k: v for k, (v, _) in e2e.items()},
        samples={"setup_s": len(setup_s), "run_s": len(timed)},
        edge_supersteps_per_s=statistics.median(
            r["edge_supersteps"] / r["wall_s"] for r in timed),
        attempted=attempted, failed=len(failures), failures=failures,
        error_rate=len(failures) / attempted if attempted else 1.0,
    )
    if "per_layer" in record:
        units = {f"{l}.{f}": u for l in LAYERS for f, u in FIELDS.items()} | DERIVED
        metrics = {k: (v, units[k]) for k, v in record["per_layer"].items()}
    else:
        metrics = e2e
    for name, why in failures:
        print(f"FAILED {name}: {why}")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(f"error_rate {record['error_rate']:.6g} ratio ({len(failures)}/{attempted})")
    with open(os.path.join(OUT, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    ok = not failures and attempted > 0
    print(json.dumps({
        "correct": ok, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }, separators=(",", ":")))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
