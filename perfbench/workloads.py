"""Workload and metric definitions of the layered benchmark.

``BENCHMARK.json`` holds only the keys its format allows (names, units,
bounds). What the format has no field for lives here and in README.md:
each workload's keys and input sizes, the end-to-end metric each layer
metric should move, and which counters repeat exactly from pass to pass.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    "stream_small_state": {
        "why": (
            "State is per window and bounded by the watermark, so each of the six "
            "triggers pays mostly fixed costs: planning, WAL and offset commits, state "
            "commits."
        ),
        "keys": ["stream_window_live"],
    },
    "stream_corpus_state": {
        "why": (
            "Claim state holds the band signatures of the document corpus, packed per "
            "shard, so state-store writes sit beside reads and addBatch dominates the "
            "trigger."
        ),
        "keys": ["stream_dedup_minhash_bounded"],
    },
}

TRIGGER_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")

# name -> (unit, better, what it should move). Values are per timed pass
# (the median over a run's timed passes), so they do not depend on how many
# passes --seconds allowed. session.*, result_ms.* (pooled over the timed
# passes) and jvm_* are once per run.
PER_LAYER: dict[str, tuple[str, str, str]] = {
    "session.get_spark_s": ("s", "lower", "setup_s on both workloads"),
    "session.load_catalog_s": ("s", "lower", "setup_s on both workloads"),
    "session.ship_s": ("s", "lower", "setup_s on both workloads"),
    **{
        f"catalog.{k}.s": ("s", "lower", f"pass_cpu_s on {w}")
        for w, spec in WORKLOADS.items()
        for k in spec["keys"]
    },
    "catalog.build_s": ("s", "lower", "pass_cpu_s on both workloads"),
    "catalog.action_s": ("s", "lower", "pass_cpu_s on both workloads"),
    "replay.calls": ("count", "lower", "pass_cpu_s on both workloads"),
    "replay.s": ("s", "lower", "pass_cpu_s on both workloads"),
    "replay.files": ("count", "lower", "pass_cpu_s on both workloads"),
    "drain.s": ("s", "lower", "pass_cpu_s on both workloads"),
    "trigger.count": ("count", "lower", "pass_cpu_s on stream_small_state"),
    **{
        f"trigger.{p}_ms": (
            "ms",
            "lower",
            "pass_cpu_s on stream_corpus_state"
            if p == "addBatch"
            else "pass_cpu_s on stream_small_state",
        )
        for p in TRIGGER_PHASES
    },
    "state.rows_total": ("count", "lower", "pass_cpu_s on stream_corpus_state"),
    "state.rows_updated": ("count", "lower", "pass_cpu_s on stream_corpus_state"),
    "state.rows_removed": ("count", "lower", "pass_cpu_s on stream_corpus_state"),
    "state.commit_ms": ("ms", "lower", "pass_cpu_s on stream_corpus_state"),
    "state.memory_bytes": ("bytes", "lower", "pass_cpu_s on stream_corpus_state"),
    "io.input_bytes": ("bytes", "lower", "pass_cpu_s on both workloads"),
    "io.input_rows": ("count", "lower", "pass_cpu_s on both workloads"),
    "spark.jobs": ("count", "lower", "pass_cpu_s on stream_small_state"),
    "spark.stages": ("count", "lower", "pass_cpu_s on both workloads"),
    "spark.tasks": ("count", "lower", "pass_cpu_s on both workloads"),
    "spark.failed_tasks": ("count", "lower", "ok_frac on both workloads"),
    "spark.shuffle_write_bytes": ("bytes", "lower", "pass_cpu_s on both workloads"),
    "spark.shuffle_read_bytes": ("bytes", "lower", "pass_cpu_s on both workloads"),
    "spark.spill_bytes": ("bytes", "lower", "pass_cpu_s on both workloads"),
    "spark.executor_run_ms": ("ms", "lower", "pass_cpu_s on both workloads"),
    "spark.executor_cpu_ms": ("ms", "lower", "pass_cpu_s on both workloads"),
    "spark.gc_ms": ("ms", "lower", "pass_cpu_s on both workloads"),
    "spark.task_skew": ("ratio", "lower", "pass_cpu_s on both workloads"),
    "spark.busy_frac": ("ratio", "higher", "pass_cpu_s on both workloads"),
    "driver.no_job_s": ("s", "lower", "pass_cpu_s on both workloads"),
    "result_ms.p50": ("ms", "lower", "none gated: wall time, moves with host.steal_s"),
    "result_ms.p90": ("ms", "lower", "none gated: the tail of result_ms.p50's samples"),
    "jvm_live_heap_mb": ("MB", "lower", "none gated; state.memory_bytes on stream_corpus_state explains it"),
    "jvm_peak_rss_mb": ("MB", "lower", "none gated; the driver JVM's high-water mark"),
    "traced.pass_s": ("s", "lower", "none gated: a pass's wall time, moves with host.steal_s"),
    "traced.pass_cpu_s": ("s", "lower", "none: traced.pass_cpu_s / pass_cpu_s - 1 is the tracing overhead"),
    "host.steal_s": ("s", "lower", "none: CPU time the hypervisor gave other guests during a pass"),
}

# Counters that host noise cannot move: identical in every timed pass of a
# run (perfbench/test_bench.py checks it). Every other per-layer metric is
# a time or a JVM estimate and is left out of exact comparisons.
EXACT = (
    "replay.calls",
    "replay.files",
    "trigger.count",
    "state.rows_total",
    "state.rows_updated",
    "state.rows_removed",
    "io.input_rows",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.failed_tasks",
    "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes",
)

