"""Layered benchmark of flod_spark, timed from outside the engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One run starts one local[nproc] session, warms up with one pass over the
workload's registered queries (checking each result against its DuckDB
oracle), then makes timed passes: at least three, and more while the next
one still fits in ``--seconds``. A pass calls each query and forces its
result with the noop sink, one key after the other (one client, closed
loop). The last line of stdout is one JSON object: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1`` (see README.md).
Everything the run writes stays under ``.perfbench/`` in the checkout.

The input is ``flod_spark.io.DEFAULT_SF_DIR`` ($SPARK_GRAFT_SF_DIR, the
sf0.1 tables by default) with its id families shifted by the seed
(seeded.py), built once per seed.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import tempfile
import time

from probes import (
    Spans,
    TriggerLog,
    host_steal_s,
    jvm_live_heap_mb,
    jvm_peak_rss_mb,
    status_snapshot,
    task_run_quantiles,
    tree_cpu_s,
)
from workloads import PER_LAYER, TRIGGER_PHASES, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# timed passes even when --seconds holds fewer. The first is still warming
# (the JIT is compiling the noop path), so the median of three is usually
# the second; a burst of host load that slows one pass drops out too. One
# more warm-up pass would cost what a timed pass does, and 4 + 22 runs
# per workload must fit in 57 minutes on a slow host too.
MIN_PASSES = 3


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def contain(work: str) -> str:
    """Point every scratch location of Python, Spark and the JVM inside
    ``work``; return the directory for JVM temp files."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.pop("SPARK_GRAFT_SCRATCH", None)
    tempfile.tempdir = tmp
    os.chdir(work)  # spark-warehouse and friends land here
    return tmp


def wall(rec: dict) -> float:
    """A key's time from input to complete result: query call plus write."""
    return rec["build_s"] + rec["action_s"]


def p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def covered_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi > end:
            total += hi - max(lo, end)
            end = hi
    return total


def run_key(spark, fn, sf_dir: str, log: TriggerLog) -> dict:
    """Build one registered query and force it with the noop sink."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    cpu0, steal0 = tree_cpu_s(os.getpid()), host_steal_s()
    rec: dict = {"start": time.time()}
    a = time.perf_counter()
    try:
        df = fn(spark, sf_dir)
        b = time.perf_counter()
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
        rec.update(build_s=b - a, action_s=time.perf_counter() - b, rows=obs.get["n"])
    except Exception as ex:  # noqa: BLE001 — a failing key is counted, not fatal
        rec.update(build_s=time.perf_counter() - a, action_s=0.0, rows=None, error=repr(ex)[:300])
    rec["end"] = time.time()
    rec["cpu_s"], rec["steal_s"] = tree_cpu_s(os.getpid()) - cpu0, host_steal_s() - steal0
    rec["runs"] = log.take(spark)
    return rec


def warm_up(spark, qs, oracles, keys, sf_dir, log) -> tuple[dict, dict]:
    """One pass that warms the session and checks results: each key's result
    is collected (counted in setup) and compared with its DuckDB oracle over
    the same files (not counted). Returns key -> seconds spent warming it up
    and key -> row count the check accepted (None if it did not)."""
    from tools.parity import compare, duck_connect

    con = duck_connect(sf_dir)
    spent: dict[str, float] = {}
    expected: dict[str, int | None] = {}
    for k in keys:
        a = time.perf_counter()
        try:
            got = qs[k](spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"perfbench: {k} raised {ex!r:.300}", file=sys.stderr)
            got = None
        spent[k] = time.perf_counter() - a
        log.take(spark)
        if got is None:
            expected[k] = None
            continue
        errs = compare(k, got, con.sql(oracles[k]).df()) if k in oracles else []
        if errs:
            print(f"perfbench: {k} differs from its oracle: {errs}", file=sys.stderr)
        expected[k] = None if errs else len(got)
    con.close()
    return spent, expected


def result_latencies_ms(passes: list[list[dict]]) -> list[float]:
    """Input-to-result times of the timed passes: every micro-batch's
    triggerExecution."""
    return [
        pr["durationMs"]["triggerExecution"]
        for p in passes
        for r in p
        for prog in r["runs"].values()
        for pr in prog
    ]


def end_to_end(setup_s: float, passes: list[list[dict]], ok_frac: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "pass_cpu_s": (statistics.median(sum(r["cpu_s"] for r in p) for p in passes), "s"),
        "ok_frac": (ok_frac, "ratio"),
    }


def layer_pass(spark, p: list[dict], spans: Spans, jobs: list[dict], stages: dict[int, dict], cores: int) -> dict:
    """Per-layer values of one timed pass. Jobs and stages belong to the
    key whose time window holds their submission: keys run serially, and
    the stream engine runs its micro-batch jobs under its own job group."""
    m: dict[str, float] = {f"catalog.{r['key']}.s": wall(r) for r in p}
    m["traced.pass_s"] = sum(map(wall, p))
    m["traced.pass_cpu_s"] = sum(r["cpu_s"] for r in p)
    m["host.steal_s"] = sum(r["steal_s"] for r in p)
    m["catalog.build_s"] = sum(r["build_s"] for r in p)
    m["catalog.action_s"] = sum(r["action_s"] for r in p)
    replays = [e for r in p for e in spans.within("replay", r["start"], r["end"])]
    m["replay.calls"] = len(replays)
    m["replay.s"] = sum(e["end"] - e["start"] for e in replays)
    m["replay.files"] = sum(e["files"] for e in replays)
    m["drain.s"] = sum(e["end"] - e["start"] for r in p for e in spans.within("drain", r["start"], r["end"]))

    progs = [prog for r in p for prog in r["runs"].values() if prog]
    trig = [pr for prog in progs for pr in prog]
    m["trigger.count"] = len(trig)
    for ph in TRIGGER_PHASES:
        m[f"trigger.{ph}_ms"] = sum(pr["durationMs"].get(ph, 0) for pr in trig)
    m["state.rows_total"] = sum(s["rows_total"] for prog in progs for s in prog[-1]["state"])
    for f in ("rows_updated", "rows_removed", "commit_ms"):
        m[f"state.{f}"] = sum(s[f] for pr in trig for s in pr["state"])
    m["state.memory_bytes"] = sum(
        max(sum(s["memory_bytes"] for s in pr["state"]) for pr in prog) for prog in progs
    )

    pj: list[dict] = []
    no_job_ms = 0.0
    for r in p:
        lo, hi = 1000 * r["start"], 1000 * r["end"]
        kj = [j for j in jobs if lo <= j["submissionTime"] <= hi]
        pj += kj
        no_job_ms += hi - lo - covered_ms([(j["submissionTime"], min(j.get("completionTime") or hi, hi)) for j in kj])
    m["driver.no_job_s"] = no_job_ms / 1000.0

    ran = [
        stages[sid]
        for sid in sorted({sid for j in pj for sid in j["stageIds"]})
        if sid in stages and stages[sid]["status"] != "SKIPPED"
    ]
    m["spark.jobs"] = len(pj)
    m["spark.stages"] = len(ran)
    for name, field in (
        ("spark.tasks", "numTasks"),
        ("spark.failed_tasks", "numFailedTasks"),
        ("spark.shuffle_write_bytes", "shuffleWriteBytes"),
        ("spark.shuffle_read_bytes", "shuffleReadBytes"),
        ("spark.executor_run_ms", "executorRunTime"),
        ("spark.gc_ms", "jvmGcTime"),
        ("io.input_bytes", "inputBytes"),
        ("io.input_rows", "inputRecords"),
    ):
        m[name] = sum(s[field] for s in ran)
    m["spark.spill_bytes"] = sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in ran)
    m["spark.executor_cpu_ms"] = sum(s["executorCpuTime"] for s in ran) / 1e6
    q = None
    if ran:
        slowest = max(ran, key=lambda s: (s.get("completionTime") or 0) - (s.get("submissionTime") or 0))
        q = task_run_quantiles(spark, slowest)
    m["spark.task_skew"] = q[1] / max(q[0], 1.0) if q else 1.0
    m["spark.busy_frac"] = m["spark.executor_run_ms"] / (cores * 1000.0 * m["traced.pass_s"])
    return m


def per_layer(spark, once: dict, passes: list[list[dict]], spans: Spans, cores: int) -> tuple[dict, list[dict]]:
    """Per-layer metrics: ``once`` holds those measured once per run, the
    rest are medians over the timed passes (0 for keys of other workloads)."""
    jobs, stage_list = status_snapshot(spark)
    stages: dict[int, dict] = {}
    for s in sorted(stage_list, key=lambda s: s["attemptId"]):  # latest attempt wins
        stages[s["stageId"]] = s
    rows = [layer_pass(spark, p, spans, jobs, stages, cores) for p in passes]
    out = {}
    for name, (unit, _better, _moves) in PER_LAYER.items():
        value = once[name] if name in once else statistics.median(r.get(name, 0.0) for r in rows)
        out[name] = (value, unit)
    return out, rows


def stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) and os.path.isdir(os.path.join(ROOT, "flod_spark"))):
        print(f"perfbench: no flod_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import seeded

    from flod_spark.io import DEFAULT_SF_DIR as src

    if not os.path.isdir(src):
        print(f"perfbench: input dir {src} missing", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench")
    sf_dir = seeded.build(src, os.path.join(work, "data"), args.seed)
    jvm_tmp = contain(work)

    import __spark_entry__ as entry
    from flod_spark.registry import ensure_shipped
    from flod_spark.session import get_spark

    keys = list(WORKLOADS[args.workload]["keys"])
    rng = random.Random(args.seed)
    cores = len(os.sched_getaffinity(0))

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        cpus=cores,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jvm_tmp}",
            # the status store must still hold every timed job at the end
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    try:
        t1 = time.perf_counter()
        qs = entry.queries()
        t2 = time.perf_counter()
        ensure_shipped(spark)
        t3 = time.perf_counter()
        session = {"session.get_spark_s": t1 - t0, "session.load_catalog_s": t2 - t1, "session.ship_s": t3 - t2}
        log = TriggerLog()
        spark.streams.addListener(log)
        warm_s, expected = warm_up(spark, qs, entry.oracle_sql(), keys, sf_dir, log)
        setup_s = (t3 - t0) + sum(warm_s.values())

        spans = Spans()
        if args.trace:
            spans.install()
        passes: list[list[dict]] = []
        t_run = time.perf_counter()
        while len(passes) < MIN_PASSES or (
            time.perf_counter() - t_run + statistics.median(sum(map(wall, p)) for p in passes) <= args.seconds
        ):
            rng.shuffle(keys)
            passes.append([{"key": k, **run_key(spark, qs[k], sf_dir, log)} for k in keys])
        spans.uninstall()

        failed = sum(v is None for v in expected.values())
        for r in (r for p in passes for r in p):
            r["ok"] = "error" not in r and expected[r["key"]] is not None and r["rows"] == expected[r["key"]]
            if not r["ok"]:
                failed += 1
                print(f"perfbench: {r['key']} failed: {r.get('error') or (r['rows'], expected[r['key']])}", file=sys.stderr)
        attempted = len(keys) * (1 + len(passes))
        layer_rows: list[dict] = []
        if args.trace:
            once = {
                **session,
                "result_ms.p50": statistics.median(result_latencies_ms(passes) or [0.0]),
                "result_ms.p90": p90(result_latencies_ms(passes)),
                "jvm_live_heap_mb": jvm_live_heap_mb(spark),
                "jvm_peak_rss_mb": jvm_peak_rss_mb(spark),
            }
            metrics, layer_rows = per_layer(spark, once, passes, spans, cores)
        else:
            metrics = end_to_end(setup_s, passes, 1.0 - failed / attempted)
    finally:
        stop(spark)

    out_dir = os.path.join(work, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(
            {
                "workload": args.workload,
                "seed": args.seed,
                "sf_dir": sf_dir,
                "setup_s": setup_s,
                "session": session,
                "warm_up_s": warm_s,
                "expected_rows": expected,
                "passes": passes,
                "layer_passes": layer_rows,
                "spans": spans.events,
            },
            f,
            indent=1,
        )
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    sys.stderr.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
