"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_small --seed 1 --seconds 5 \
        --trace 0

Run from the root of a checkout of this repository. It generates the
workload's inputs from the seed, loads them through the engine's public
API, runs the workload's callers as a closed loop in whole rounds (one
cycle per caller each) for at least ``--seconds``, checks every result
against an independent reference, and prints one JSON object as the last
line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run is traced and the metrics are the per-layer ones (``PER_LAYER`` in
``trace.py``), and the spans are written to ``.perfbench_out/``. A line
before it (``{"detail": ...}``) carries the wall-clock figures (phases,
throughput, read latency, per-class medians, set-up wall time), memory,
the host's load and steal, and the session knobs; ``METRICS.md`` defines
every figure. The exit code is 1 when any check failed and 2 when the
engine is not there to measure.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "3g"

END_TO_END = (("setup_s", "s"), ("cpu_ms_per_op", "ms"))


def host_sample() -> dict:
    """Load average and the CPU counters steal is computed from."""
    with open("/proc/loadavg") as fh:
        load = [float(v) for v in fh.read().split()[:3]]
    with open("/proc/stat") as fh:
        cpu = [int(v) for v in fh.readline().split()[1:]]
    return {"loadavg": load, "total": sum(cpu),
            "steal": cpu[7] if len(cpu) > 7 else 0}


def steal_share(a: dict, b: dict) -> float:
    return (b["steal"] - a["steal"]) / max(1, b["total"] - a["total"])


def configure(workdir: str, trace: bool) -> dict:
    """Fit the session to this host through the engine's own knobs."""
    knobs = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_UI": "1" if trace else "0",
        "SPARK_GRAFT_EXTRA_CONF": "spark.ui.showConsoleProgress=false",
        # keep the JVM's temp files (and its perf-data file, which ignores
        # java.io.tmpdir) inside the checkout
        "SPARK_GRAFT_EXTRA_JVM_OPTS":
            f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')} "
            "-XX:-UsePerfData",
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
        "TMPDIR": os.path.join(workdir, "tmp"),
    }
    for d in (knobs["SPARK_LOCAL_DIRS"], knobs["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(knobs)
    return knobs


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


def live_heap_mb(spark) -> float:
    """Driver JVM heap still in use after a full collection: what the
    session retains (cached blocks, plans, broadcasts) once the ops end."""
    import gc
    gc.collect()        # drop Python-side handles that pin JVM objects
    jvm = spark._jvm.java.lang
    for _ in range(2):
        jvm.System.gc()
    mem = jvm.management.ManagementFactory.getMemoryMXBean()
    return mem.getHeapMemoryUsage().getUsed() / 2**20


def jvm_gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit: it quits when its
    stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "vectordb_testbricks_spark",
                                       "__init__.py")):
        print(f"perfbench: no vectordb_testbricks_spark package under "
              f"{ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import engine, procs, trace, workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(have {sorted(workloads.WORKLOADS)})", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    workdir = os.path.join(ROOT, ".perfbench_work",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    host0 = host_sample()
    knobs = configure(workdir, bool(args.trace))
    try:
        return _run(args, workdir, knobs, host0, engine, trace, workloads)
    finally:
        # a run cut short (for instance while the session starts) may
        # leave the driver JVM or its Python workers behind
        procs.stop_descendants(os.getpid())
        shutil.rmtree(workdir, ignore_errors=True)


def _run(args, workdir, knobs, host0, engine, trace, workloads) -> int:
    import vectordb_testbricks_spark as vts

    t0 = time.perf_counter()
    spark = vts.get_spark(f"perfbench-{args.workload}")
    spark.range(1).count()
    session_s = time.perf_counter() - t0
    try:
        tracer = trace.SpanTracer(spark) if args.trace else trace.Tracer()
        eng = engine.Engine(spark, workdir, trace.Tracer())
        gc0 = jvm_gc_ms(spark)
        run = workloads.WORKLOADS[args.workload](eng, args.seed,
                                                 args.seconds, tracer)
        gc_ms = jvm_gc_ms(spark) - gc0
        rss = peak_rss_mb(spark)
        heap = live_heap_mb(spark)
        stats = workloads.summarize(run)
        layers = None
        if args.trace:
            acct = tracer.spark_accounting()
            recs = tracer.op_records(acct)
            verified = run.extra.get("dedup_verified", {})
            for rec in recs:
                if rec["id"] in verified:
                    rec["dedup.verified"] = verified[rec["id"]]
            storage = sum(e.get("memoryUsed", 0) for e in acct["executors"])
            layers = trace.per_layer(recs, {
                "storage_mb": storage / 2**20, "jvm_gc_ms": gc_ms,
                "read_p50_ms": stats["read_p50_ms"]})
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.write(os.path.join(
                out, f"trace-{args.workload}-{args.seed}.json"), recs)
    finally:
        stop_session(spark)

    host1 = host_sample()
    failures = [f"{r.caller}-{r.index} {r.op['cls']}:"
                f"{r.op.get('kind', r.op.get('fuse'))}: {r.error or r.wrong}"
                for r in run.records if r.error or r.wrong]
    if run.final_error:
        failures.append(f"final state: {run.final_error}")
    correct = not failures
    e2e = {"setup_s": statistics.median([cpu for _, cpu in run.setup]),
           "cpu_ms_per_op": stats["cpu_ms_per_op"]}
    wr = [r.ms for r in run.records if r.op["cls"] == "write"]
    detail = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "input_digest": run.digest,
        "knobs": {k: knobs[k] for k in ("SPARK_GRAFT_CPUS",
                                        "SPARK_GRAFT_DRIVER_MEM")},
        "host": {"loadavg_start": host0["loadavg"],
                 "loadavg_end": host1["loadavg"],
                 "steal_share": steal_share(host0, host1)},
        "session_start_s": session_s,
        "phases": run.phases,
        "rounds": run.rounds,
        "window_s": max(r.end for r in run.records) - run.window_start,
        "run_s": time.perf_counter() - t0,
        "setup_reps": [{"wall_s": w, "cpu_s": c} for w, c in run.setup],
        "setup_wall_s": statistics.median([w for w, _ in run.setup]),
        "ops": stats["attempted"], "error_rate": stats["error_rate"],
        "ops_per_s": stats["ops_per_s"],
        "read_p50_ms": stats["read_p50_ms"],
        "class_p50_ms": stats["class_p50_ms"],
        "write_p50_ms": statistics.median(wr) if wr else None,
        "disk_bytes_per_user_byte": run.extra.get("disk_bytes_per_user_byte"),
        "rss_peak_mb": rss, "live_heap_mb": heap, "jvm_gc_ms": gc_ms,
        "failures": failures[:20],
        "end_to_end": e2e,
    }
    print(json.dumps({"detail": detail}))
    if layers is None:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    else:
        metrics = {n: {"value": layers[n], "unit": u}
                   for n, u, _ in trace.PER_LAYER}
    print(json.dumps({"correct": correct, "attempted": stats["attempted"],
                      "failed": stats["failed"] + bool(run.final_error),
                      "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
