"""SparkSession factory tuned for the engine.

Scale notes (100 TB design): AQE on for runtime re-planning (skew joins,
partition coalescing); generous broadcast threshold so dimension tables
(region/nation/customer at TPC-H-ish shape) broadcast instead of shuffling;
Arrow enabled so the few Pandas-UDF paths (as-of join, media decode) move
data in columnar batches, never row-at-a-time.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def _fast_scratch_root() -> str | None:
    """Optional scratch override for ephemeral run state, or None to
    leave the system defaults alone.

    $SPARK_GRAFT_SCRATCH points shuffle/spill files and the engine's
    tempfile state (replay spools, checkpoints, lifecycle dirs)
    at a specific device — the knob a production deployment sets to its
    local NVMe. The DEFAULT is deliberately None: an r16 interleaved A/B
    at sf0.1 measured /dev/shm (tmpfs) as neutral-to-WORSE than the
    ext4 default for these many-small-file paths (everything already
    lands in page cache and nothing fsyncs, so tmpfs buys nothing and
    cost ~5-15% on the lifecycle keys) — see OPTIMIZATION_r16.md."""
    root = os.environ.get("SPARK_GRAFT_SCRATCH")
    if not root:
        return None
    try:
        os.makedirs(root, exist_ok=True)
    except OSError:
        return None
    return root


def get_spark(
    app_name: str = "flod-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (driver contract) or '*'.
    In production this builder would be replaced by the cluster's session;
    every conf set here is also safe to set on a 1000-executor cluster.
    That includes the checkpoint file manager: on HDFS its
    ``FileSystem.rename`` is atomic, and on object stores (no
    ``FileContext`` support) it is the manager Spark already falls back to.
    """
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except (TypeError, ValueError):
            shuffle_partitions = 32

    scratch = _fast_scratch_root()
    if scratch is not None:
        # JVM-side ephemeral state (shuffle files, spill, broadcast blocks)
        # and Python-side engine temp dirs (tempfile call sites: replay
        # spools, stream checkpoints, index/claim lifecycle dirs) share
        # the same fast scratch root. tempfile.tempdir is process-global
        # by design: every temp root in the engine and its tests moves
        # together, with no per-call-site drift.
        tempfile.tempdir = scratch
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Deterministic temporal semantics everywhere: events.ts is naive
        # (TIMESTAMP_NTZ) end-to-end, but any incidental NTZ<->LTZ cast or
        # current_timestamp() must not depend on the host's timezone.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        # Checkpoint files (state deltas, offset/commit logs, metadata) are
        # written to a temp name and renamed into place. The default
        # FileContext manager's rename on file: paths asks
        # RawLocalFileSystem.getFileLinkStatus, which without libhadoop
        # forks a `readlink` process per file (~540 per gate drain, most of
        # the state-commit time). FileSystem.rename is one rename(2), just as
        # atomic inside the checkpoint dir; .crc sidecars and Spark's
        # checkpoint checksum files stay on.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # fast scratch for shuffle/spill files (only read at first-session
        # creation; a no-op when _fast_scratch_root() declined)
        .config("spark.local.dir", scratch or tempfile.gettempdir())
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Python workers must import flod_spark for pickled-by-reference
        # closures (Pandas UDF stages) regardless of the driver's cwd.
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
