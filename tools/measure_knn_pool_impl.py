"""Measure the sustained top_k=15000 serving point: JVM expression
scoring (search.knn_search) vs the dense Arrow kernel
(arrow_kernels.knn_search_arrow), both as a prepared-plan pool like the
one BENCH_SUSTAINED600.json uses. This is the crossover that keeps two
KNN kernels: serving stays on the JVM path.

Two probes per kernel, interleaved A/B/A/B so warm-up drift cannot favor
one side:
  * sequential: N warm collects of rotating pooled plans -> p50/p95
  * closed-loop: run_sustained_searches workers=10 for --loop-sec -> QPS

Usage: python tools/measure_knn_pool_impl.py [--loop-sec 30] [--seq 24]
Prints one JSON line.
"""
from __future__ import annotations

import argparse
import json
import statistics
import sys
import time


def build_pool(spark, entrymod, base, kernel: str, nplans: int):
    from vectordb_testbricks_spark.operators.arrow_kernels import (
        knn_search_arrow)
    from vectordb_testbricks_spark.operators.search import (
        prepare_search_pool)
    sides = [entrymod._topk15000_query(spark, (i * 997) % 120_000)
             for i in range(nplans)]
    if kernel == "jvm":
        return prepare_search_pool(base, sides, "embedding", "pk",
                                   metric="COSINE", k=15000)
    return [knn_search_arrow(base, q, "embedding", "pk", metric="COSINE",
                             k=15000) for q in sides]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--loop-sec", type=float, default=30.0)
    ap.add_argument("--seq", type=int, default=24)
    ap.add_argument("--nplans", type=int, default=16)
    args = ap.parse_args()

    sys.path.insert(0, ".")
    import __spark_entry__ as entrymod
    from vectordb_testbricks_spark.session import get_spark
    from vectordb_testbricks_spark.workload import run_sustained_searches

    spark = get_spark("measure_knn_pool_impl")
    base = entrymod._topk15000_base(spark).persist()
    base.count()

    pools = {kernel: build_pool(spark, entrymod, base, kernel, args.nplans)
             for kernel in ("jvm", "arrow")}
    for kernel in ("jvm", "arrow"):
        pools[kernel][0].count()          # warm both plan paths, untimed

    out: dict = {"k": 15000, "corpus": 120_000, "nplans": args.nplans}

    # sequential latency, two interleaved blocks per kernel
    seq: dict[str, list[float]] = {"jvm": [], "arrow": []}
    half = max(args.seq // 2, 1)
    for _block in range(2):
        for kernel in ("jvm", "arrow"):
            pool = pools[kernel]
            for i in range(half):
                t0 = time.perf_counter()
                pool[i % len(pool)].collect()
                seq[kernel].append(time.perf_counter() - t0)
    for kernel, lats in seq.items():
        ls = sorted(lats)
        out[f"seq_{kernel}"] = {
            "n": len(ls),
            "p50": round(statistics.median(ls), 4),
            "p95": round(ls[min(len(ls) - 1, int(0.95 * len(ls)))], 4),
            "min": round(ls[0], 4), "max": round(ls[-1], 4),
        }

    # closed-loop QPS, one block per kernel (interleave order jvm, arrow,
    # then a second short jvm block to expose drift)
    if args.loop_sec > 0:
        for tag, kernel, dur in (("loop_jvm", "jvm", args.loop_sec),
                               ("loop_arrow", "arrow", args.loop_sec),
                               ("loop_jvm2", "jvm", args.loop_sec / 2)):
            pool = pools[kernel]

            def task(widx: int, seq_i: int, pool=pool):
                return pool[(widx * 7 + seq_i * 13) % len(pool)]

            rep = run_sustained_searches(spark, task, workers=10,
                                         duration_sec=dur)
            out[tag] = {"qps": round(rep.qps, 2),
                        "searches": rep.n_searches,
                        "failures": rep.failures,
                        "p50": rep.latency.get("p50"),
                        "p99": rep.latency.get("p99")}

    print(json.dumps(out, sort_keys=True))


if __name__ == "__main__":
    main()
