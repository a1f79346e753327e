"""osmgraft benchmark: the command-line entry point.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 8 --trace 0

Run it from the repository root. One process, the Spark driver, runs one
workload on ``local[<cores>]``: a single closed-loop client issues
operations back to back for ``--seconds`` and checks every output against a
reference computed beforehand. The last line of standard output is one
JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``; the line before it records the cores, seed, input sizes and
per-operation walls.

``--trace 0`` reports the end-to-end metrics (``rows_per_s``, ``setup_s``).
``--trace 1`` measures untraced in one JVM, then again under spans in a
second JVM with the event log on, and reports the per-layer metrics; spans
go to ``.bench_work/traces/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

ROOT = os.getcwd()
MIN_OPS = 3  # operations per measured phase, however short --seconds is
# Repetitions before measuring. Operation walls keep falling for about five
# operations after a JVM starts (JIT compilation competes for the cores);
# only the first repetition counts towards setup_s.
WARMUP_REPS = 3
# A phase gives up after this many repetitions that raise. A wrong output
# still has a valid wall, so it fails the operation but not the phase.
MAX_RAISED = 5


def metric_units(kind: str) -> dict[str, str]:
    """Names and units of BENCHMARK.json's ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


@dataclass
class Stats:
    attempted: int = 0
    failed: int = 0


def parse_args(argv):
    ap = argparse.ArgumentParser(description="osmgraft benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(cpus: int, work: str, eventlog_dir: str | None = None):
    from osmgraft.session import get_spark

    extra = {
        "spark.driver.memory": "3g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.sql.warehouse.dir": f"file://{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if eventlog_dir:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{eventlog_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", cpus=cpus, **extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the gateway JVM (it exits when its stdin closes) and wait for it
    and every Python worker it forked."""
    from pyspark import SparkContext

    from perfbench.procmon import descendants, wait_gone

    gw = SparkContext._gateway
    if gw is None:
        return
    procs = descendants(os.getpid())
    gw.shutdown()
    gw.proc.stdin.close()
    try:
        gw.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    left = wait_gone(procs, timeout=30)
    for pid in left:
        os.kill(pid, signal.SIGKILL)
    wait_gone(left, timeout=10)


def measure(wl, spark, ref, seconds: float, tracer, stats: Stats, min_ops: int) -> list:
    """Closed loop: repetitions back to back until ``seconds`` have passed
    and at least ``min_ops`` operations completed; every output is checked.
    It stops early after ``MAX_RAISED`` repetitions raised, and then raises
    itself if fewer than ``min_ops`` operations completed, so that no metric
    is reported over too few operations."""
    ops, raised = [], 0
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or sum(o.kind == "op" for o in ops) < min_ops:
        if raised >= MAX_RAISED:
            break
        try:
            rep = wl.rep(spark, tracer)
        except Exception:  # one failed operation must not end the run
            traceback.print_exc()
            stats.attempted += 1
            stats.failed += 1
            raised += 1
            continue
        for op in rep:
            stats.attempted += 1
            if not wl.check(op, ref):
                stats.failed += 1
                print(f"perfbench: {wl.name} {op.kind} output differs from the reference", file=sys.stderr)
        ops.extend(rep)
    done = sum(o.kind == "op" for o in ops)
    if done < min_ops:
        raise RuntimeError(
            f"{wl.name}: {raised} repetitions raised; only {done} of {min_ops} operations completed")
    return ops


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def rows_per_s(wl, ops) -> float:
    wall = median(o.wall for o in ops if o.kind == "op")
    return wl.inp.rows / wall if wall else 0.0


def wall_stats(ops) -> dict:
    walls = [o.wall for o in ops if o.kind == "op"]
    if not walls:
        return {}
    return {"n": len(walls), "min": min(walls), "median": statistics.median(walls), "max": max(walls),
            "walls": [round(w, 4) for w in walls]}


@dataclass
class Phase:
    ops: list
    tracer: object
    values: dict  # traced probe values
    session_s: float
    setup_s: float
    steal: float  # host CPU steal share while measuring (information only)


def run_phase(wl, ref, cpus, work, seconds, stats, eventlog_dir: str | None = None) -> Phase:
    """One driver JVM: start the session, materialise fixtures, warm up
    (``setup_s`` ends after the first repetition), then measure for
    ``seconds``. With ``eventlog_dir`` the measured operations run under
    spans and the layer probes follow."""
    from perfbench.procmon import cpu_jiffies, steal_share
    from perfbench.spans import Tracer

    t0 = time.perf_counter()
    spark = start_session(cpus, work, eventlog_dir)
    session_s = time.perf_counter() - t0
    try:
        wl.setup(spark)
        measure(wl, spark, ref, 0, Tracer(), stats, 1)
        setup_s = time.perf_counter() - t0
        for _ in range(WARMUP_REPS - 1):
            measure(wl, spark, ref, 0, Tracer(), stats, 1)
        tracer = Tracer(spark if eventlog_dir else None)
        jiffies = cpu_jiffies()
        ops = measure(wl, spark, ref, seconds, tracer, stats, MIN_OPS)
        steal = steal_share(jiffies, cpu_jiffies())
        values = wl.probes(spark, tracer, ref) if eventlog_dir else {}
    finally:
        spark.stop()
        shutdown_jvm()
    return Phase(ops, tracer, values, session_s, setup_s, steal)


def untraced_run(wl, ref, cpus, work, seconds, stats, info) -> dict:
    ph = run_phase(wl, ref, cpus, work, seconds, stats)
    info.update(session_s=ph.session_s, op_wall_s=wall_stats(ph.ops), host_steal=ph.steal)
    values = {"rows_per_s": rows_per_s(wl, ph.ops), "setup_s": ph.setup_s}
    return {name: (values[name], unit) for name, unit in metric_units("end_to_end").items()}


def traced_run(wl, ref, cpus, work, seconds, stats, info) -> dict:
    """Two phases, each in a fresh JVM so both start equally cold: untraced
    (the base of trace.overhead), then traced with the event log on."""
    from perfbench.eventlog import EventLog, covered_ms
    from perfbench.procmon import PeakRss

    with PeakRss() as rss:
        base = run_phase(wl, ref, cpus, work, seconds, stats)
    untraced = rows_per_s(wl, base.ops)
    evdir = os.path.join(work, "eventlog")
    os.makedirs(evdir)
    ph = run_phase(wl, ref, cpus, work, seconds, stats, eventlog_dir=evdir)
    ops, tracer, values = ph.ops, ph.tracer, ph.values
    values["peak_rss_mb"] = rss.peak / 2**20
    (logfile,) = glob.glob(os.path.join(evdir, "*"))
    log = EventLog(logfile)

    per_op: list[dict] = []
    for op in ops:
        span = tracer.get(op.span)
        t0, t1 = span["start"] * 1e3, span["end"] * 1e3
        jobs = log.jobs_for(op.span, t0, t1)
        stages = log.ran_stages(jobs)
        layer = log.layers(jobs)
        layer["trace.stage_cover"] = covered_ms([(s.submit_ms, s.end_ms) for s in stages], t0, t1) / (t1 - t0)
        layer["driver_s"] = (t1 - t0 - covered_ms([(j.submit_ms, j.end_ms) for j in jobs], t0, t1)) / 1e3
        layer.update(kind=op.kind, wall=op.wall, span=op.span)
        per_op.append(layer)
        for j in jobs:
            jid = f"job{j.id}"
            tracer.spans.append({"id": jid, "name": "spark.job", "parent": op.span,
                                 "start": j.submit_ms / 1e3, "end": j.end_ms / 1e3})
            for s in log.ran_stages([j]):
                tracer.spans.append({"id": f"{jid}.stage{s.id}", "name": "spark.stage", "parent": jid,
                                     "start": s.submit_ms / 1e3, "end": s.end_ms / 1e3})

    main_ops = [p for p in per_op if p["kind"] == "op"]
    per_layer = metric_units("per_layer")
    for name in per_layer:
        if name not in values and main_ops and name in main_ops[0]:
            values[name] = median(p[name] for p in main_ops)
    traced = rows_per_s(wl, ops)
    values["trace.overhead"] = traced / untraced if untraced else 0.0
    values.update(wl.traced_values(ops, median(p["driver_s"] for p in main_ops)))

    traces = os.path.join(ROOT, ".bench_work", "traces")
    os.makedirs(traces, exist_ok=True)
    path = os.path.join(traces, f"{wl.name}-seed{wl.inp.seed}.json")
    with open(path, "w") as fh:
        json.dump({"spans": tracer.spans, "ops": per_op}, fh)
    info.update(trace_file=os.path.relpath(path, ROOT), untraced_rows_per_s=untraced,
                traced_rows_per_s=traced, op_wall_s=wall_stats(ops),
                host_steal={"untraced": base.steal, "traced": ph.steal},
                stage_cover_under_0_9=sum(p["trace.stage_cover"] < 0.9 for p in main_ops))
    return {name: (values.get(name, 0.0), unit) for name, unit in per_layer.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "osmgraft", "__init__.py")):
        print("perfbench: run from the repository root; no osmgraft package here", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.inputs import WORKLOADS, make
    from perfbench.workloads import WORKLOAD_CLASSES

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {', '.join(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update(
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
    )
    try:
        ref_file = os.path.join(work, "reference.npz")
        subprocess.run(
            [sys.executable, "-m", "perfbench.reference", "--workload", args.workload,
             "--seed", str(args.seed), "--out", ref_file],
            cwd=ROOT, check=True, timeout=150,
        )
        import numpy as np

        with np.load(ref_file) as z:
            ref = {k: z[k] for k in z.files}
        inp = make(args.workload, args.seed)
        wl = WORKLOAD_CLASSES[args.workload](inp, cpus, work)
        stats = Stats()
        info = {"workload": args.workload, "seed": args.seed, "cpus": cpus, "sizes": inp.sizes(),
                "seconds": args.seconds, "trace": args.trace}
        run = traced_run if args.trace else untraced_run
        metrics = run(wl, ref, cpus, work, args.seconds, stats, info)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    info.update(attempted=stats.attempted, failed=stats.failed,
                failed_ratio=stats.failed / max(stats.attempted, 1))
    print(json.dumps(info))
    print(json.dumps({
        "correct": stats.failed == 0,
        "attempted": stats.attempted,
        "failed": stats.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
