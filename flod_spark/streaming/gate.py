"""The stream-gate seam: every replay-fed live gate is

    with spool(spark, df, "ts", n_batches=4) as sp:
        got = drain(op(sp.stream), spark)

- ``spool`` owns a fresh temp directory, replays ``df`` into it as
  time-ordered micro-batch files (streaming/replay.py) and removes it on
  exit, error or not. It also hands back the exact max of the order
  column, read from the replay's own parquet files (footer statistics)
  — the horizon the watermark gates cut at, with no Spark job.
  The spool may be served from replay's memo: when an equal plan with
  the same output schema over unchanged input files was spooled before,
  its files are hard links to the stored ones and no Spark job runs. So
  the spool's files are read-only; ``replay.append_sentinel_batches``
  only adds new files after them, and a caller that re-times or
  rewrites one copies it first.
- ``drain`` is the one start -> processAllAvailable -> stop loop: a fresh
  checkpoint, the stream partition pin (io.pinned_stream_partitions) for
  the stream's lifetime, checkpoint removal on the way out. It runs the
  stream into a memory sink (returning the table) or a ``foreachBatch``
  function (returning None).

``streaming/infinite.py::take_infinite`` is NOT a drain: it polls a memory
sink against a deadline over an infinite source.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import tempfile
import uuid
from collections.abc import Callable, Iterator
from typing import Any, NamedTuple

from pyspark.sql import DataFrame, SparkSession

from flod_spark import io
from flod_spark.streaming import replay


class Spool(NamedTuple):
    stream: DataFrame  # reads the spool one file per trigger
    dir: str  # the spool itself (append_sentinel_batches writes here)
    max: Any  # exact max of the order column; None if no non-NULL value


def _spool_max(spool_dir: str, col: str, dtype):
    """max(col) over a replay spool, as ``collect()`` would return it.
    Replay puts every row of batch b at or below every row of batch b+1
    (NULL order keys land in batch 0), so the last file's max is the
    global max; an empty input writes no file and an all-NULL column
    has no min/max — both give None, like SQL max().

    Microsecond INT64 timestamps (TIMESTAMP_NTZ, or any timestamp under
    TIMESTAMP_MICROS output) are answered from the footer statistics.
    Spark writes session-zone timestamps as INT96 by default, which
    carries no statistics; that case reads the one column of the last
    file instead. Neither runs a Spark job."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(spool_dir, "part-b*.parquet")))
    if not files:
        return None
    f = pq.ParquetFile(files[-1])
    md = f.metadata
    i = next(j for j in range(md.num_columns) if md.schema.column(j).path == col)
    unit = json.loads(md.schema.column(i).logical_type.to_json()).get("timeUnit")
    if md.schema.column(i).physical_type == "INT64" and unit == "microseconds":
        stats = (md.row_group(r).column(i).statistics for r in range(md.num_row_groups))
        us = max((s.max_raw for s in stats if s is not None and s.has_min_max), default=None)
    else:
        arr = f.read(columns=[col]).column(0).cast(pa.timestamp("us")).cast(pa.int64())
        us = pc.max(arr).as_py()
    return None if us is None else dtype.fromInternal(us)


@contextlib.contextmanager
def spool(
    spark: SparkSession,
    df: DataFrame,
    order_col: str,
    n_batches: int = 10,
    tiebreak: tuple[str, ...] = (),
    buckets: bool = False,
) -> Iterator[Spool]:
    """Replay ``df`` into a temp spool for the ``with`` block's lifetime.

    ``buckets=True`` replays one file per distinct value of ``order_col``
    (replay_buckets — batch membership a SQL oracle can reproduce); the
    bucket column is not in the files, so ``max`` is None there."""
    with tempfile.TemporaryDirectory(prefix="flod_replay_", ignore_cleanup_errors=True) as root:
        out = os.path.join(root, "spool")
        if buckets:
            stream = replay.replay_buckets(spark, df, order_col, out)
            yield Spool(stream, out, None)
        else:
            stream = replay.replay_stream(
                spark, df, order_col, out, n_batches=n_batches, tiebreak=tiebreak
            )
            yield Spool(stream, out, _spool_max(out, order_col, df.schema[order_col].dataType))


def drain(
    stream_df: DataFrame,
    spark: SparkSession,
    *,
    output_mode: str = "append",
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
    wide_state: bool = False,
) -> DataFrame | None:
    """Run a streaming DataFrame until its source is dry.

    Without ``foreach_batch`` the rows land in a memory sink (unique
    name: re-entrant per call) and the materialized table is returned;
    the sink's temp view is dropped first, so the rows live as long as
    the returned DataFrame, not the session. With ``foreach_batch``,
    each micro-batch goes to that function and None is returned.
    Shuffle partitions are pinned for the stream's lifetime —
    ``wide_state`` picks the corpus-scale pin (see
    io.pinned_stream_partitions for both)."""
    name = "live_" + uuid.uuid4().hex[:12]
    with (
        tempfile.TemporaryDirectory(prefix=f"flod_ckpt_{name}_", ignore_cleanup_errors=True) as ckpt,
        io.pinned_stream_partitions(spark, wide=wide_state),
    ):
        w = stream_df.writeStream.queryName(name).outputMode(output_mode)
        w = w.foreachBatch(foreach_batch) if foreach_batch else w.format("memory")
        q = w.option("checkpointLocation", ckpt).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    if foreach_batch:
        return None
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out
