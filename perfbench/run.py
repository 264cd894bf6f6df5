#!/usr/bin/env python3
"""Benchmark entry point: one workload, one process, one result line.

    python3 perfbench/run.py --workload cdc_incremental --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed``
under ``--work`` (default ``.perfbench_work`` in the current
directory, removed afterwards); the Spark session is pinned to the
host (``local[nproc]``, a fixed driver memory, scratch and local dirs
under the work directory). The timed passes repeat until ``--seconds``
of operation time has been measured. Every operation's output is
checked against DuckDB; the last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The exit code is 1 when a check failed and 2 when the run could not
start.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "oracle_to_oracle_data_integration_pipeline_spark"

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "op_p50_s": "s",
    "rows_per_s": "1/s",
    "write_amp": "ratio",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "catalog.discover_s": "s",
    "topo.sort_s": "s",
    "watermark.get_s": "s",
    "watermark.upsert_s": "s",
    "pipeline.table_s": "s",
    "pipeline.tables_replicated": "count",
    "pipeline.tables_empty": "count",
    "pipeline.wave_wait_s": "s",
    "spark.jobs_per_table": "count",
    "target.overwrite_s": "s",
    "target.bytes_written": "bytes",
    "target.files_written": "count",
    "cdc.stats_s": "s",
    "cdc.useful_ratio": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.core_busy_ratio": "ratio",
    "queries.build_s": "s",
    "queries.py4j_calls": "count",
    "queries.eager_jobs": "count",
    "queries.catalyst_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_cpu_s": "s",
    "spark.driver_gap_s": "s",
    "trace.uncovered_s": "s",
    "trace.uncovered_ratio": "ratio",
    "trace.overhead_s": "s",
}
SETUP_REPS = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", default=".perfbench_work",
                    help="directory for inputs, targets and Spark scratch")
    ap.add_argument("--sf", type=float, default=0.0,
                    help="scale factor (default: each workload's own)")
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def start_session(ctx, workload, trace: bool):
    from oracle_to_oracle_data_integration_pipeline_spark.session import get_spark

    conf = {
        "spark.driver.memory": workload.driver_memory,
        "spark.local.dir": ctx.path("spark-local"),
        "spark.sql.warehouse.dir": ctx.path("warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.path('tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(ctx.path("eventlog"), exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = ctx.path("eventlog")
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return get_spark(app_name=f"perfbench_{workload.name}", cpus=ctx.cores, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def median(xs) -> float:
    return float(statistics.median(xs))


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE} not found next to {os.path.basename(HERE)}/: run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.abspath(os.path.join(args.work, f"{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # everything the engine and pyspark write transiently stays in the work dir
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "tmp")
    try:
        return run(args, work, WORKLOADS[args.workload]())
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, workload) -> int:
    from perfbench.trace import Tracer
    from perfbench.workloads import Ctx

    trace = bool(args.trace)
    ctx = Ctx(work=work, seed=args.seed, cores=nproc(), sf=args.sf,
              tracer=Tracer() if trace else None)
    load_start = os.getloadavg()[0]
    t0 = time.perf_counter()
    workload.generate(ctx)
    gen_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = ctx.spark = start_session(ctx, workload, trace)
    session_s = time.perf_counter() - t0
    try:
        m = measure(args, ctx, workload, spark)
    finally:
        stop_session(spark)  # also flushes the event log the report reads
    m.update(session_s=session_s, gen_s=gen_s, load_start=load_start)
    return report(args, ctx, workload, m)


def measure(args, ctx, workload, spark) -> dict:
    """Set-up repetitions, preparation and the passes."""
    import pyspark

    from perfbench.trace import install
    from perfbench.workloads import warmup

    trace = bool(args.trace)
    undo = install(ctx.tracer, spark) if trace else None
    reps = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        with ctx.span("session.warmup"):
            warmup(ctx)
        reps.append(time.perf_counter() - t0)

    t0 = time.perf_counter()
    checked = workload.prepare(ctx)
    prepare_s = time.perf_counter() - t0

    passes = []
    measured = 0.0
    if trace:
        # an untraced warm pass, then traced and untraced passes in
        # turn, so the overhead compares passes equally warm
        ctx.tracer.enabled = False
        undo()
        undo = None
        checked += workload.run_pass(ctx, -1).ops
    while measured < args.seconds or (trace and len(passes) < 2):
        if trace:
            ctx.tracer.enabled = len(passes) % 2 == 0
            if ctx.tracer.enabled:
                undo = install(ctx.tracer, spark)
        p = workload.run_pass(ctx, len(passes))
        p.traced = trace and ctx.tracer.enabled
        if undo:
            undo()
            undo = None
        passes.append(p)
        measured += p.run_s

    sc = spark.sparkContext
    return {
        "reps": reps, "prepare_s": prepare_s, "passes": passes, "checked": checked,
        "peak_rss": vm_hwm_mb(sc._gateway.proc.pid) + vm_hwm_mb("self"),
        "versions": {"spark": pyspark.__version__,
                     "java": sc._jvm.java.lang.System.getProperty("java.version")},
    }


def report(args, ctx, workload, m: dict) -> int:
    """Print the run description, every metric and the result line."""
    from perfbench.trace import layer_metrics

    trace = bool(args.trace)
    passes, reps = m["passes"], m["reps"]
    ops = m["checked"] + [o for p in passes for o in p.ops]
    failures = [f"{o.id}: {o.note}" for o in ops if o.failed]
    failures += getattr(workload, "failed_checks", [])
    attempted = len(ops) + getattr(workload, "checks", 0)
    failed = len(failures)

    timed = [p for p in passes if not p.traced]
    e2e = {
        "setup_s": m["session_s"] + median(reps),
        "run_s": median(p.run_s for p in timed),
        "op_p50_s": median(o.seconds for p in timed for o in p.ops if not o.empty),
        "rows_per_s": median(p.rows / p.run_s for p in timed),
        "write_amp": median(p.bytes_written / p.input_bytes for p in timed),
        "peak_rss_mb": m["peak_rss"],
    }
    lines = {
        "workload": workload.name, "seed": args.seed, "nproc": ctx.cores,
        "loadavg_start": m["load_start"], "loadavg_end": os.getloadavg()[0],
        "driver_memory": workload.driver_memory, **m["versions"],
        "session_start_s": round(m["session_s"], 3),
        "warmup_s": [round(x, 3) for x in reps],
        "gen_s": round(m["gen_s"], 3), "prepare_s": round(m["prepare_s"], 3),
        "passes": len(passes), "ops": len(ops),
        "op_s": [round(o.seconds, 3) for p in timed for o in p.ops], **ctx.info,
    }
    for k, v in lines.items():
        print(f"# {k}: {v}")
    for f in failures:
        print(f"# FAILED {f}")
    for k, v in e2e.items():
        print(f"{k} {v:.6g} {END_TO_END[k]}")
    print(f"failed_ratio {failed / attempted:.6g} ratio")
    if trace:
        traced_passes = [[o.id for o in p.ops] for p in passes if p.traced]
        depths = workload.depths() if hasattr(workload, "depths") else None
        layers = layer_metrics(ctx.tracer, traced_passes, ctx.path("eventlog"), ctx.cores, depths)
        layers["session.start_s"] = m["session_s"]
        layers["session.warmup_s"] = median(reps)
        layers["trace.overhead_s"] = (median(p.run_s for p in passes if p.traced)
                                      - median(p.run_s for p in timed))
        ctx.tracer.dump(os.path.join(os.path.dirname(ctx.work),
                                     f"spans-{workload.name}-{args.seed}.jsonl"))
        for k in PER_LAYER:
            print(f"{k} {layers[k]:.6g} {PER_LAYER[k]}")
        metrics = {k: {"value": layers[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
