"""Per-query timing probe for optimization work (bench.py methodology,
subset of keys, configurable run count) — measure-first tooling, not a
driver artifact.

Usage: python tools/qtime.py [--runs N] [sf_dir] qkey [qkey ...]
Prints one line per key: min and all run times (noop-sink forced, same
timed region as bench.py), and each run's CPU seconds (user plus system)
of this process and all its descendants — the driver JVM and its Python
workers — read with perfbench's ``tree_cpu_s``.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    argv = sys.argv[1:]
    runs = 1
    if argv and argv[0] == "--runs":
        runs = int(argv[1])
        argv = argv[2:]
    sf_dir = "/root/testdata/sf0.1"
    if argv and os.path.isdir(argv[0]):
        sf_dir, argv = argv[0], argv[1:]
    keys = argv

    import __spark_entry__ as entry
    from flod_spark.session import get_spark
    from perfbench.probes import tree_cpu_s

    spark = get_spark("flod-qtime")
    qs = entry.queries()
    # same warmup as bench.py: boot executors + JIT scan/agg/noop paths
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    warm = spark.read.parquet(os.path.join(warm_dir, "lineitem.parquet"))
    warm.groupBy("l_returnflag").agg({"l_quantity": "count"}).write.format(
        "noop"
    ).mode("overwrite").save()
    spark.range(1000).selectExpr("sum(id)").collect()

    for name in keys:
        times, cpus = [], []
        for _ in range(runs):
            spark.sparkContext.setJobDescription(f"qtime:{name}")
            t0, cpu0 = time.perf_counter(), tree_cpu_s(os.getpid())
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
            cpus.append(tree_cpu_s(os.getpid()) - cpu0)
            spark.sparkContext.setJobDescription(None)
        print(
            f"{name}: min={min(times):.3f} runs="
            + ",".join(f"{t:.3f}" for t in times)
            + " cpu="
            + ",".join(f"{c:.2f}" for c in cpus),
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
