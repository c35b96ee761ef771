"""Infinite (unbounded) sources + the take guard that terminates them.

flod pipes freely from INFINITE ranges — ``repeat(0xdead).pipe(...)``
(range.d:107-119) — relying on a downstream ``take`` (package.d:114-199)
to short-circuit the pull via short writes (adapter.d:110-113). Spark's
analog of an infinite range is the ``rate`` streaming source: an
unbounded (timestamp, value) stream where ``value`` is the 0,1,2,…
iota; a stateful take guard plus an explicit query stop is the
short-circuit.

Scale: the rate source here is the test stand-in — at production scale
the same pipeline reads Kafka/queue sources unchanged. The take guard's
state is one counter per key in the state store (sharded by key hash
across executors); the driver-side terminator polls only the SINK's
row count, never the stream.
"""

from __future__ import annotations

import shutil
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from flod_spark.streaming.take import streaming_take_per_key


def rate_source(
    spark: SparkSession, rows_per_second: int = 1000, num_partitions: int | None = None
) -> DataFrame:
    """S-infinite: unbounded iota stream (range.d:107-119 ``repeat``/
    ``iota`` pipes). Columns: ``timestamp`` (arrival time), ``value``
    (monotone 0,1,2,… long)."""
    r = spark.readStream.format("rate").option("rowsPerSecond", str(rows_per_second))
    if num_partitions is not None:
        r = r.option("numPartitions", str(num_partitions))
    return r.load()


def take_infinite(
    stream_df: DataFrame,
    n: int,
    spark: SparkSession,
    *,
    time_col: str = "timestamp",
    timeout_s: float = 90.0,
) -> list[Row]:
    """flod ``take(n)`` on an unbounded stream: first n rows (arrival
    order), then STOP the upstream query — the Spark rendering of take's
    short-write upstream-stop signal (adapter.d:110-113).

    Two-level guard (take.py module docstring): a per-key stateful take
    bounds what each micro-batch can emit (state = one counter), and the
    driver-side terminator stops the query once the sink holds >= n rows
    — so an infinite source cannot run away even though Spark has no
    mid-stream ``limit``. Returns exactly n rows.

    The single ``lit(0)`` key is the keyless form (fine for a guard that
    passes at most n rows total); the shuffle-friendly per-key primitive
    is ``streaming_take_per_key`` directly.
    """
    guarded = streaming_take_per_key(
        stream_df.withColumn("_k", F.lit(0)), n, key_col="_k", time_col=time_col
    )
    name = "take_inf_" + uuid.uuid4().hex[:12]
    ckpt = tempfile.mkdtemp(prefix=f"flod_ckpt_{name}_")
    q = (
        guarded.drop("_k")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            if spark.table(name).count() >= n:
                break
            time.sleep(0.25)
        else:
            raise TimeoutError(f"take_infinite: < {n} rows after {timeout_s}s")
        # deterministic tie-break: time_col first, then every remaining
        # column (the stream need not have rate's (timestamp, value) shape)
        rest = [c for c in stream_df.columns if c != time_col]
        rows = spark.table(name).orderBy(time_col, *rest).limit(n).collect()
    finally:
        q.stop()
        spark.catalog.dropTempView(name)
        shutil.rmtree(ckpt, ignore_errors=True)
    return rows
