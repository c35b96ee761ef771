"""Deterministic micro-batch replay of a batch table (test harness).

Splits a DataFrame into N parquet files ordered by a time column and
replays them with maxFilesPerTrigger=1 — a reproducible stand-in for a
Kafka-like source. At production scale the same code reads a real stream
source; every transformation downstream is identical (that is the point
of Structured Streaming's unified model).

Scale: batch assignment is by RANGE boundaries on the time column from
``approxQuantile(…, 0.001)`` — one quantile job, then ONE write job that
emits every batch file (repartition on the batch id, partitioned write).
No global sort, no window function, nothing driver-side that grows with
row count (the only collected values are the n_batches-1 boundaries).
Rows tie-ing with a boundary go to the later batch, so cross-batch
event-time ordering (every row in batch b <= every row in batch b+1)
still holds; within-batch ordering is enforced by an explicit sort on
(order_col, *tiebreak) inside each batch's file — together these are the
full determinism contract catalog/streaming_live.py relies on.

Memo: a spool is a pure function of the call's parameters and its
input's analyzed plan, and through the plan's file leaves, of the
files it lists. So ``replay_stream`` and ``replay_buckets`` keep the
spools they wrote, up to ``_MEMO_BYTES`` of files (least recently used
evicted), as hard links under ``<SparkFiles root>/flod_spool_memo/``.
A call with the same parameters and output schema over a deterministic
plan that ``sameResult``s a stored one, whose every input file still
has the same (path, size, mtime_ns, inode), links the stored files into
``out_dir`` and runs no Spark job. A plan with any other leaf
(``createDataFrame``'s LogicalRDD, a memory-sink table, a non-file
source) is never memoized. The published files are therefore shared,
read-only links: a caller that re-times or rewrites a spool file must
copy it first (as the restart tests do). A stored file whose size or
mtime changed anyway is evicted, not served; so is every entry of a
stopped SparkContext, whose SparkFiles root Spark removes at ``stop()``.
The memo pays off only for repeated calls over unchanged inputs; a
first call pays the full build plus the key and the links.
"""

from __future__ import annotations

import errno
import glob
import os
import shutil
import uuid
from collections.abc import Callable
from typing import Any, NamedTuple
from urllib.parse import unquote, urlparse

from pyspark import SparkFiles, StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Bytes of stored spool files kept per process, least recently used
# evicted; a spool larger than this is not stored. One sweep of the 48
# stream gates asks for 19 distinct spools: 3.1 MB at sf0.01, 25.4 MB at
# sf0.1 (a perfbench workload's one spool: 0.5-1.8 MB).
_MEMO_BYTES = 64 << 20

# Leaves whose rows are fixed by the plan itself or by the files it lists.
_PURE_LEAVES = frozenset(
    {
        "org.apache.spark.sql.execution.datasources.LogicalRelation",
        "org.apache.spark.sql.catalyst.plans.logical.LocalRelation",
        "org.apache.spark.sql.catalyst.plans.logical.Range",
        "org.apache.spark.sql.catalyst.plans.logical.OneRowRelation",
    }
)
_FILE_RELATION = "org.apache.spark.sql.execution.datasources.HadoopFsRelation"


class _Stored(NamedTuple):
    key: tuple  # (params, output schema, input file stamps)
    plan: Any  # the analyzed JVM plan the spool was written from
    dir: str  # one hard link (or copy) per spool file
    files: tuple[tuple[str, int, int], ...]  # (name, st_size, st_mtime_ns)


_memo: list[_Stored] = []  # least recently used first


def _memo_key(df: DataFrame, params: tuple):
    """``(key, plan)`` if ``df``'s rows are a pure function of its
    analyzed plan and the files that plan lists, else None.

    The leaves come from the ANALYZED plan: ``DataFrame.inputFiles()``
    reads the cache-substituted plan and lists no file for a frame built
    over a persisted one. Every listed file is re-``stat``ed here, so a
    rewrite in place changes the key; a file added to a table directory
    changes a freshly read frame's listing. The output schema is part of
    the key because ``sameResult`` compares canonical plans, which erase
    column and alias names, and the spool's files carry the names."""
    plan = df._jdf.queryExecution().analyzed()
    if not plan.deterministic():
        return None
    stamps = []
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        kind = leaf.getClass().getName()
        if kind not in _PURE_LEAVES:
            return None
        if not kind.endswith(".LogicalRelation"):
            continue
        rel = leaf.relation()
        if rel.getClass().getName() != _FILE_RELATION:
            return None
        for uri in rel.location().inputFiles():
            u = urlparse(uri)
            if u.scheme not in ("", "file"):
                return None
            try:
                st = os.stat(unquote(u.path))
            except OSError:
                return None
            stamps.append((uri, st.st_size, st.st_mtime_ns, st.st_ino))
    return (params, df.schema.json(), tuple(sorted(stamps))), plan


def _link(src: str, dst: str) -> None:
    """Hard-link ``src`` at ``dst``, replacing ``dst`` (a copy that keeps
    the mod-time across file systems). The temp name is hidden from the
    file source."""
    tmp = os.path.join(os.path.dirname(dst), f".{uuid.uuid4().hex}.tmp")
    try:
        os.link(src, tmp)
    except OSError as e:
        if e.errno != errno.EXDEV:
            raise
        shutil.copy2(src, tmp)
    os.replace(tmp, dst)


def _size_mtime(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def _memo_hit(key: tuple, plan, out_dir: str) -> bool:
    """Publish a stored spool equal to ``(key, plan)`` into ``out_dir``;
    False when there is none. An entry whose stored files changed, or
    went with a stopped SparkContext's SparkFiles root, is evicted."""
    for e in list(_memo):
        if e.key != key:
            continue
        if any(_size_mtime(os.path.join(e.dir, n)) != (s, m) for n, s, m in e.files):
            _memo.remove(e)
            shutil.rmtree(e.dir, ignore_errors=True)
        elif plan.sameResult(e.plan):
            _memo.remove(e)
            _memo.append(e)
            os.makedirs(out_dir, exist_ok=True)
            for n, _, _ in e.files:
                _link(os.path.join(e.dir, n), os.path.join(out_dir, n))
            return True
    return False


def _memo_store(key: tuple, plan, out_dir: str, names: list[str]) -> None:
    files = tuple((n, *_size_mtime(os.path.join(out_dir, n))) for n in names)
    if sum(s for _, s, _ in files) > _MEMO_BYTES:
        return
    d = os.path.join(SparkFiles.getRootDirectory(), "flod_spool_memo", uuid.uuid4().hex)
    os.makedirs(d)
    for n in names:
        _link(os.path.join(out_dir, n), os.path.join(d, n))
    _memo.append(_Stored(key, plan, d, files))
    while sum(s for e in _memo for _, s, _ in e.files) > _MEMO_BYTES:
        shutil.rmtree(_memo.pop(0).dir, ignore_errors=True)


def _memoized(
    df: DataFrame,
    params: tuple,
    out_dir: str,
    write: Callable[[], list[str]],
) -> None:
    """Fill ``out_dir`` with the spool of ``(params, df)``: from the memo
    if it holds one, else by ``write()`` (which returns the names of the
    files it published), storing the result when ``df`` is memoizable."""
    memo = _memo_key(df, params)
    if memo is not None and _memo_hit(*memo, out_dir):
        return
    names = write()
    if memo is not None:
        _memo_store(*memo, out_dir, names)
    # an all-empty input writes no file; the stream source still needs the
    # directory to exist (first run of an empty day must idle, not throw)
    os.makedirs(out_dir, exist_ok=True)


def _publish(src: str, out_dir: str, b: int) -> str:
    """Move one staged batch file to ``out_dir/part-b<b>.parquet`` with
    the EXPLICITLY pinned mod-time 10·(b+1) s: the file source replays
    in mod-time order, and pinning removes the coarse-mtime hazard of
    files written back to back."""
    name = f"part-b{b:05d}.parquet"
    dst = os.path.join(out_dir, name)
    os.replace(src, dst)
    os.utime(dst, (10.0 * (b + 1), 10.0 * (b + 1)))
    return name


def replay_stream(
    spark: SparkSession,
    df: DataFrame,
    order_col: str,
    out_dir: str,
    n_batches: int = 10,
    tiebreak: tuple[str, ...] = (),
) -> DataFrame:
    """Write df as n_batches time-range parquet files under out_dir and
    return a streaming DataFrame reading them one file per trigger.

    Within-batch arrival order is ENFORCED, not assumed: each batch is
    sorted on (order_col, *tiebreak) before its single-file write, so
    downstream first-arrival semantics (dropDuplicates keeping the
    min-order row) hold by construction for any physical source layout —
    reordered parquet, multi-row-group files split across scan
    partitions, regenerated data. Pass a unique ``tiebreak`` column to
    make arrival order total (ties on order_col otherwise keep source
    scan order within the sort, which is stable but layout-dependent).
    An equal earlier call's files are linked, not rewritten (module
    docstring: memo)."""
    _memoized(
        df,
        ("range", order_col, n_batches, tuple(tiebreak)),
        out_dir,
        lambda: _write_ranges(df, order_col, out_dir, n_batches, tiebreak),
    )
    return (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(out_dir)
    )


def _write_ranges(
    df: DataFrame, order_col: str, out_dir: str, n_batches: int, tiebreak
) -> list[str]:
    # Deterministic quantile boundaries. relativeError bounds the summary
    # memory (0 would buffer every value); boundary inexactness only
    # shifts batch BALANCE — every row still lands in exactly one batch
    # and cross-batch ts ordering holds because boundaries are monotone.
    # Micros fit a double exactly (< 2^53) so the round-trip is lossless.
    mc = "_replay_us"
    bc = "_replay_b"
    from flod_spark.io import ts_micros

    # one materialization feeds the quantile pass and the batch write; a
    # no-persist spool measured neutral in alternating A/B pairs on both
    # perfbench workloads (ROADMAP item 3), so the cache stays
    with_us = df.withColumn(mc, ts_micros(order_col)).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        fracs = [b / n_batches for b in range(1, n_batches)]
        bounds = (
            [int(v) for v in with_us.stat.approxQuantile(mc, fracs, 0.001)] if fracs else []
        )
        # approxQuantile returns [] on an empty (or all-NULL order key)
        # input: everything lands in one unbounded batch below.
        # Batch membership as ONE column expression (identical to the
        # former per-batch range filters, counts-job-verified before the
        # rewrite): bucket = #boundaries <= mc; NULL order keys sort
        # first, i.e. bucket 0. Duplicate boundaries leave their earlier
        # bucket indexes provably empty — they simply write no file.
        bucket = F.lit(0)
        for bnd in bounds:
            bucket = bucket + (F.col(mc) >= bnd).cast("int")
        # ONE write job for every batch file (replaces n_batches
        # sequential coalesce(1) jobs — guide §1.2 'remove passes'):
        # repartition ON the bucket id puts each bucket's rows in exactly
        # one task; the partitioned write then emits exactly one file per
        # non-empty bucket, sorted within the file by (mc, *tiebreak) —
        # the same total within-batch order the sequential writes
        # enforced. Hash collisions across buckets only co-locate two
        # buckets in one task; partitionBy still splits them into their
        # own directories.
        staged = out_dir + ".staging"
        shutil.rmtree(staged, ignore_errors=True)
        (
            with_us.withColumn(bc, F.coalesce(bucket, F.lit(0)))
            .repartition(n_batches, F.col(bc))
            .sortWithinPartitions(bc, mc, *tiebreak)
            .drop(mc)
            .write.mode("overwrite")
            .partitionBy(bc)
            .parquet(staged)
        )
        # publish <staged>/<bc>=<b>/part-* as out_dir/part-b<b>.parquet
        os.makedirs(out_dir, exist_ok=True)
        names = []
        for d in sorted(
            glob.glob(os.path.join(staged, f"{bc}=*")),
            key=lambda p: int(p.rsplit("=", 1)[1]),
        ):
            b = int(d.rsplit("=", 1)[1])
            files = [
                f
                for f in glob.glob(os.path.join(d, "part-*"))
                if not f.endswith(".crc")
            ]
            assert len(files) == 1, f"bucket {b}: {files}"
            names.append(_publish(files[0], out_dir, b))
        shutil.rmtree(staged, ignore_errors=True)
    finally:
        with_us.unpersist()
    return names


def replay_buckets(
    spark: SparkSession, df: DataFrame, bucket_col: str, out_dir: str
) -> DataFrame:
    """Write one parquet file per DISTINCT value of ``bucket_col``
    (ascending) and return a file stream replaying them one per
    trigger — the EXPLICIT, SQL-expressible twin of replay_stream for
    operators whose FINAL STATE depends on micro-batch membership
    (lossy counting's bucket-boundary eviction): batch assignment is a
    pure column function both engines compute identically, not an
    approx-quantile split a DuckDB oracle cannot reproduce. Files get
    ascending pinned mod-times in bucket order, the order the file
    source replays them in (replay_stream's contract), and are memoized
    as replay_stream's are.

    Scale: the only driver-side collect is the distinct bucket VALUES
    (micro-batch count, a test-harness constant — never rows); every
    bucket file comes from ONE write job over the persisted input."""
    _memoized(
        df,
        ("buckets", bucket_col),
        out_dir,
        lambda: _write_buckets(df, bucket_col, out_dir),
    )
    return (
        spark.readStream.schema(df.drop(bucket_col).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(out_dir)
    )


def _write_buckets(df: DataFrame, bucket_col: str, out_dir: str) -> list[str]:
    dfp = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        buckets = sorted(
            r[0] for r in dfp.select(bucket_col).distinct().collect()
        )
        # ONE write job for every bucket file (the replay_stream
        # single-pass discipline): repartition on the bucket value puts
        # each bucket in one task, the partitioned write emits one file
        # per bucket dir, and the publish loop pins ascending mod-times
        # in bucket order — bucket MEMBERSHIP is this replay's whole
        # contract, and the explicit utime removes the coarse-mtime
        # hazard outright.
        staged = out_dir + ".staging"
        shutil.rmtree(staged, ignore_errors=True)
        (
            dfp.repartition(max(len(buckets), 1), F.col(bucket_col))
            .write.mode("overwrite")
            .partitionBy(bucket_col)
            .parquet(staged)
        )
        os.makedirs(out_dir, exist_ok=True)
        by_dir = {
            d.rsplit("=", 1)[1]: d
            for d in glob.glob(os.path.join(staged, f"{bucket_col}=*"))
        }
        names = []
        for i, b in enumerate(buckets):
            d = by_dir.get(str(b))
            # every collected bucket MUST have a staged dir: a miss here
            # means the str() key didn't round-trip Hive's partition-dir
            # encoding (escaped strings, floats, NULL) and a silent
            # `continue` would drop an entire micro-batch (r16 ADVICE).
            # Int buckets (every current caller) always round-trip.
            assert d is not None, (
                f"bucket {b!r} collected but no staged dir matches "
                f"{bucket_col}={b} — partition-value encoding mismatch "
                f"(staged: {sorted(by_dir)})"
            )
            files = glob.glob(os.path.join(d, "part-*"))
            assert len(files) == 1, f"bucket {b}: {files}"
            names.append(_publish(files[0], out_dir, i))
        shutil.rmtree(staged, ignore_errors=True)
    finally:
        dfp.unpersist()
    return names


def append_sentinel_batches(spark, out_dir: str, rows, schema) -> None:
    """Append each row as its OWN single-file micro-batch replayed AFTER
    every existing file (strictly increasing pinned mod times — the file
    source replays in mod-time order). Only new files are written and
    re-timed: the spool's own files may be memo links (module
    docstring).

    Far-future sentinel rows are how a finite replay makes watermark-
    driven emission deterministic: eviction/null-emission happens only in
    a batch AFTER the watermark advances, so end-of-stream results would
    otherwise depend on Spark's best-effort no-data micro-batches. One
    sentinel advances a watermark node; one more batch applies it — use
    as many as the query has watermark nodes, plus one."""
    import glob as _glob
    import os as _os

    base = max(
        (_os.path.getmtime(f) for f in _glob.glob(f"{out_dir}/part-*")),
        default=0.0,
    )
    from flod_spark.io import tiny_df

    for i, row in enumerate(rows):
        before = set(_glob.glob(f"{out_dir}/part-*"))
        # tiny_df, not createDataFrame(list): the parallelize form plans
        # a PythonRDD whose coalesce(1) write walks every slice through
        # a serial Python-worker round trip (~5 s PER SENTINEL on
        # local[32], measured); the Arrow LocalTableScan write is ~0.2 s
        tiny_df(spark, [row], schema).coalesce(1).write.mode(
            "append"
        ).parquet(out_dir)
        for f in set(_glob.glob(f"{out_dir}/part-*")) - before:
            _os.utime(f, (base + 10.0 * (i + 1), base + 10.0 * (i + 1)))
