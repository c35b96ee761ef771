"""Streaming-vs-batch parity (the reference's both-drive-modes test,
pipeline.d:1351-1356, re-expressed): replay events as micro-batches and
assert streaming windowed results equal the batch twins."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from flod_spark.io import load
from flod_spark.streaming import replay_stream, session_windows, streaming_take_per_key, tumbling_counts
from flod_spark.streaming.gate import drain, spool


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return load(spark, sf_dir, "events")


def test_tumbling_stream_matches_batch(spark, events, tmp_path):
    stream = replay_stream(spark, events, "ts", str(tmp_path / "replay"), n_batches=5)
    got = drain(tumbling_counts(stream), spark).toPandas()
    expect = tumbling_counts(events).toPandas()  # batch mode: watermark is a no-op
    # append mode only emits windows CLOSED by the watermark when the
    # stream ends; drop still-open windows from the batch expectation
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    horizon = max_ts - pd.Timedelta(hours=2) - pd.Timedelta(hours=1)
    expect = expect[expect.win_start <= horizon]
    got = got[got.win_start <= horizon]
    key = ["win_start", "event_type"]
    got = got.sort_values(key).reset_index(drop=True)
    expect = expect.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, expect, check_like=True)


def test_session_stream_matches_batch(spark, events, tmp_path):
    stream = replay_stream(spark, events, "ts", str(tmp_path / "replay_s"), n_batches=5)
    got = drain(session_windows(stream), spark).toPandas()
    expect = session_windows(events).toPandas()
    # exclude sessions the watermark had not closed at end-of-stream
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    horizon = max_ts - pd.Timedelta(hours=2) - pd.Timedelta(minutes=30)
    expect = expect[expect.session_start <= horizon]
    got = got[got.session_start <= horizon]
    key = ["user_id", "session_start"]
    got = got.sort_values(key).reset_index(drop=True)
    expect = expect.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, expect, check_like=True)


def test_streaming_take_per_key(spark, events, tmp_path):
    n = 3
    stream = replay_stream(spark, events, "ts", str(tmp_path / "replay_t"), n_batches=4)
    got = drain(streaming_take_per_key(stream, n), spark).toPandas()
    # every key capped at n
    counts = got.groupby("user_id").size()
    assert (counts <= n).all()
    # keys with >= n events in the source must have exactly n
    src = events.groupBy("user_id").count().toPandas().set_index("user_id")["count"]
    for uid, c in src.items():
        assert counts.get(uid, 0) == min(c, n), f"user {uid}"
    # the taken rows are the earliest by ts per key
    first = events.toPandas().sort_values(["ts", "event_id"]).groupby("user_id").head(n)
    assert set(got.event_id) == set(first.event_id)


def test_streaming_queue_and_dedup(spark, tmp_path):
    """Entry point C live: put() chunks -> micro-batches; duplicate keys
    across chunks are dropped (first arrival wins)."""
    from flod_spark.streaming.dedup import drop_duplicates_unbounded
    from flod_spark.streaming.queue import StreamingQueue

    q = StreamingQueue(spark, spool_dir=str(tmp_path / "spool"))
    q.put([1, 2, 3])
    q.put([2, 3, 4])   # dupes of batch 1
    q.put([5, 1])      # one dupe, one new
    deduped = drop_duplicates_unbounded(q.stream(), "value")
    got = sorted(r.value for r in drain(deduped, spark).collect())
    assert got == [1, 2, 3, 4, 5]


def test_take_over_infinite_rate_stream(spark):
    # flod take(n) over an infinite pipe (range.d:107-119 repeat/iota):
    # the rate source is unbounded; the take guard + terminator must stop
    # it after exactly n rows, values from the monotone iota
    from flod_spark.streaming import rate_source, take_infinite

    rows = take_infinite(rate_source(spark, rows_per_second=200), 7, spark)
    assert len(rows) == 7
    assert sorted(r.value for r in rows) == list(range(7))


def test_streaming_checkpoint_recovery_exactly_once(spark, events, tmp_path):
    """The fault-tolerance contract: a query stopped and RESTARTED from
    its checkpoint processes only unseen input (no duplicates, no loss).
    Phase 1 drains two replay files; new files arrive while the query is
    down; phase 2 restarts from the same checkpoint and must emit
    exactly the remainder."""
    import pandas as pd
    from pyspark.sql import functions as F

    src_dir, ckpt, out = str(tmp_path / "src"), str(tmp_path / "ckpt"), str(tmp_path / "out")
    ev = events.select("event_id", "user_id", "ts").orderBy("ts", "event_id")
    half = ev.count() // 2
    first, second = ev.limit(half), ev.subtract(ev.limit(half))
    first.coalesce(1).write.mode("append").parquet(src_dir)

    def run_once():
        q = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_once()
    n_phase1 = spark.read.parquet(out).count()
    assert n_phase1 == half
    second.coalesce(1).write.mode("append").parquet(src_dir)
    run_once()
    got = spark.read.parquet(out).toPandas().sort_values("event_id").reset_index(drop=True)
    want = ev.toPandas().sort_values("event_id").reset_index(drop=True)
    assert len(got) == len(want)  # no duplicates, no loss
    pd.testing.assert_frame_equal(
        got[["event_id", "user_id"]], want[["event_id", "user_id"]]
    )


def test_drop_duplicates_within_watermark_bounds_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates inside the delay horizon
    are dropped; once the watermark passes first_ts + delay the key's
    state is EVICTED, so a much-later duplicate re-emits — the bounded
    state / bounded guarantee trade (streaming/dedup.py)."""
    import datetime as dt

    from flod_spark.streaming.dedup import drop_duplicates_within
    from flod_spark.streaming.replay import replay_stream

    t0 = dt.datetime(2020, 1, 1, 0, 0, 0)

    def m(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    rows = [
        (1, 1, m(0)),      # b1: first arrival of k=1 -> emit
        (2, 2, m(1)),      # b1: first arrival of k=2 -> emit
        (3, 1, m(10)),     # b2: dup of k=1 within delay -> DROPPED
        (4, 3, m(180)),    # b2: watermark driver
        (5, 4, m(300)),    # b3: watermark driver
        (6, 5, m(301)),    # b3
        (7, 1, m(310)),    # b4: k=1 state expired but not yet swept
        #                    (eviction lags the lookup) -> still DROPPED
        (8, 6, m(311)),    # b4
        (9, 1, m(400)),    # b5: state swept -> k=1 RE-EMITS, re-arms state
        (10, 7, m(401)),   # b5
        (11, 1, m(500)),   # b6: within re-armed horizon again -> DROPPED
        (12, 8, m(501)),   # b6
    ]
    df = spark.createDataFrame(rows, "event_id long, k long, ts timestamp")
    stream = replay_stream(spark, df, "ts", str(tmp_path / "replay_dw"), n_batches=6)
    deduped = drop_duplicates_within(stream, "ts", "30 minutes", "k")
    got = {r.event_id for r in drain(deduped, spark).collect()}
    # The GUARANTEE is only "dups within delay are dropped" (3, 11); a
    # later duplicate may drop too while eviction lags (7) but re-emits
    # once the sweep runs (9) — bounded state, bounded guarantee.
    assert got == {1, 2, 4, 5, 6, 8, 9, 10, 12}


def test_replay_partition_contract(spark, events, tmp_path):
    """replay_stream's written files conserve rows exactly, keep
    cross-batch ts ordering (every ts in file i <= every ts in file
    i+1), and put NULL order keys in the first batch — under duplicate
    quantile boundaries (few distinct ts values, many batches) and
    empty buckets. The spool's max (read from the replay's files, no
    Spark job) is exactly max(order_col): for events (TIMESTAMP_NTZ),
    this session-zone frame, an empty input and an all-NULL column."""
    import datetime as dt
    import glob
    import os

    from flod_spark.streaming.replay import replay_stream

    t0 = dt.datetime(2021, 6, 1)
    # 40 rows over only 3 distinct timestamps + 2 NULLs, 8 batches ->
    # duplicate boundaries and provably-empty buckets
    rows = [(i, t0 + dt.timedelta(hours=i % 3)) for i in range(40)]
    rows += [(100, None), (101, None)]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")
    out = str(tmp_path / "replay_pc")
    replay_stream(spark, df, "ts", out, n_batches=8)

    files = sorted(
        glob.glob(os.path.join(out, "*.parquet")), key=os.path.getmtime
    )
    assert 1 < len(files) <= 8
    seen, prev_max = [], None
    for i, f in enumerate(files):
        part = spark.read.parquet(f).collect()
        assert part, "empty file written"
        ts_vals = [r.ts for r in part if r.ts is not None]
        if any(r.ts is None for r in part):
            assert i == 0, "NULL order keys must land in the first batch"
        if prev_max is not None and ts_vals:
            assert min(ts_vals) >= prev_max
        if ts_vals:
            prev_max = max(ts_vals)
        seen += [r.event_id for r in part]
    assert sorted(seen) == sorted(r[0] for r in rows)

    nulls = df.filter(F.col("ts").isNull())
    for frame in (events, df, df.limit(0), nulls):
        with spool(spark, frame, "ts", n_batches=8) as sp:
            assert sp.max == frame.agg(F.max("ts")).collect()[0][0]


def test_drain_cleans_up_when_the_stream_raises(spark, events):
    """A stream that fails inside drain still leaves nothing behind: the
    spool dir and the checkpoint are removed and the shuffle-partition
    pin is undone."""
    import glob
    import os
    import tempfile

    from pyspark.errors import StreamingQueryException

    key = "spark.sql.shuffle.partitions"
    ckpts = os.path.join(tempfile.gettempdir(), "flod_ckpt_*")
    before = set(glob.glob(ckpts))
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    seen = {}

    def boom(batch_df, batch_id):
        seen["ckpt"] = set(glob.glob(ckpts)) - before
        seen["pin"] = spark.conf.get(key)
        raise RuntimeError("boom in batch")

    try:
        with pytest.raises(StreamingQueryException, match="boom in batch"):
            with spool(spark, events, "ts", n_batches=2) as sp:
                spool_dir = sp.dir
                drain(sp.stream, spark, foreach_batch=boom)
        assert spark.conf.get(key) == "7"
    finally:
        spark.conf.set(key, prev)
    assert seen["ckpt"] and seen["pin"] != "7"
    assert not os.path.exists(spool_dir)
    assert not any(os.path.exists(d) for d in seen["ckpt"])


def test_stateful_drain_forks_no_readlink(spark, tmp_path):
    """Checkpoint renames must not shell out. Spark's default
    FileContext-based checkpoint manager asks RawLocalFileSystem for the
    link status of every renamed file, which without libhadoop forks one
    `readlink` per state delta, checksum, offset and commit file.
    session.get_spark pins the FileSystem-based manager; a
    JFR recording of process starts proves the drain forks none. The
    `chmod` forks of RawLocalFileSystem.setPermission are not asserted:
    no conf turns them off."""
    jvm = spark._jvm
    df = spark.range(2000).select(
        (F.col("id") % 50).alias("k"), F.timestamp_seconds("id").alias("ts")
    )
    rec = jvm.jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try:
        with spool(spark, df, "ts", n_batches=3) as sp:
            got = drain(sp.stream.groupBy("k").count(), spark, output_mode="complete")
            assert got.count() == 50
    finally:
        rec.stop()
    path = jvm.java.io.File(str(tmp_path / "drain.jfr")).toPath()
    rec.dump(path)
    rec.close()
    started = [e.getString("command") for e in jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(path)]
    readlinks = [c for c in started if c.startswith("readlink")]
    assert not readlinks, f"{len(readlinks)} readlink forks, first: {readlinks[0]}"


def test_drain_and_take_leave_no_temp_views(spark, events):
    """The memory sinks behind drain and take_infinite are registered as
    temp views; both drop them, so neither the views nor their rows
    outlive what the caller holds. The drained frame still reads its
    rows after the drop."""
    from flod_spark.streaming import rate_source, take_infinite

    def leaked():
        return [t.name for t in spark.catalog.listTables() if t.name.startswith(("live_", "take_inf_"))]

    before = leaked()
    with spool(spark, events, "ts", n_batches=2) as sp:
        got = drain(sp.stream.groupBy("event_type").count(), spark, output_mode="complete")
    assert leaked() == before
    expect = events.groupBy("event_type").count().orderBy("event_type").collect()
    assert got.orderBy("event_type").collect() == expect
    assert len(take_infinite(rate_source(spark, rows_per_second=200), 3, spark)) == 3
    assert leaked() == before


def test_windowed_agg_under_rocksdb_state_store(spark, events, tmp_path):
    """The production state backend: swapping the HDFS-backed default
    store for RocksDBStateStoreProvider (the 100 TB choice — state
    spills off-heap to local disk instead of living on the JVM heap)
    changes results not at all. Same replay, same windows, both
    providers, frame-equal output."""
    provider = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    key = "spark.sql.streaming.stateStore.providerClass"
    results = {}
    for tag, prov in (("default", None), ("rocksdb", provider)):
        if prov is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prov)
        stream = replay_stream(
            spark, events, "ts", str(tmp_path / f"replay_{tag}"), n_batches=3
        )
        got = drain(tumbling_counts(stream), spark)
        results[tag] = (
            got.toPandas()
            .sort_values(["win_start", "event_type"])
            .reset_index(drop=True)
        )
    spark.conf.unset(key)
    assert len(results["rocksdb"]) > 0
    pd.testing.assert_frame_equal(
        results["rocksdb"], results["default"], check_like=True
    )


def test_available_now_trigger_drains_and_stops(spark, events, tmp_path):
    """Trigger.AvailableNow — the production backfill trigger: process
    everything present in rate-limited micro-batches, then stop on its
    own (no processAllAvailable babysitting). Output equals the batch
    aggregate of everything present."""
    stream = replay_stream(spark, events, "ts", str(tmp_path / "replay_an"), n_batches=3)
    agg = stream.groupBy("event_type").count()
    q = (
        agg.writeStream.format("memory")
        .queryName("avail_now")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_an"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)  # self-terminates once the backlog drains
    assert not q.isActive
    got = {r["event_type"]: r["count"] for r in spark.table("avail_now").collect()}
    want = {r["event_type"]: r["count"] for r in events.groupBy("event_type").count().collect()}
    assert got == want


def test_stateful_checkpoint_recovery_windowed_agg(spark, events, tmp_path):
    """Fault tolerance for the STATEFUL path: a windowed aggregation
    stopped after the first files and restarted from its checkpoint
    (state store + watermark recovered) loses nothing and duplicates
    nothing. Exact emission SETS differ legitimately — extra trigger
    boundaries after a restart let the (lagging) watermark close more
    windows — so the invariants are: every emitted window matches the
    batch ground truth, each run emits a window at most once, and the
    uninterrupted run's emissions are a subset of the restarted run's."""
    import glob
    import os
    import shutil as sh

    src = str(tmp_path / "srcw")
    replay_stream(spark, events, "ts", src, n_batches=4)
    files = sorted(glob.glob(os.path.join(src, "*.parquet")), key=os.path.getmtime)
    assert len(files) == 4

    def run(tag, file_subsets):
        """Feed file groups into a fresh source dir across restarts of
        ONE checkpoint; return the parquet-sink rows (the memory sink
        cannot recover from a checkpoint — a durable sink can)."""
        live = str(tmp_path / f"live_{tag}")
        ckpt = str(tmp_path / f"ck_{tag}")
        outdir = str(tmp_path / f"out_{tag}")
        os.makedirs(live, exist_ok=True)
        for subset in file_subsets:
            for f in subset:
                sh.copy(f, live)
            stream = (
                spark.readStream.schema(events.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(live)
            )
            q = (
                tumbling_counts(stream)
                .writeStream.format("parquet")
                .option("path", outdir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .start()
            )
            q.processAllAvailable()
            q.stop()
        out = spark.read.parquet(outdir).collect()
        m = {(r["win_start"], r["event_type"]): r["n_events"] for r in out}
        assert len(m) == len(out), "duplicate window emission"
        return m

    interrupted = run("split", [files[:2], files[2:]])
    single = run("once", [files])
    truth = {
        (r["win_start"], r["event_type"]): r["n_events"]
        for r in tumbling_counts(events).collect()
    }
    assert len(single) > 0
    for emitted in (interrupted, single):
        for k, n in emitted.items():
            assert truth[k] == n, k  # every emission is the exact batch answer
    assert set(single) <= set(interrupted)  # restart never loses a window


def test_catalog_streams_only_through_the_gate_seam():
    """No catalog module starts, drains or spools a stream by hand, and
    none collects a max(...) for a horizon the spool already knows:
    streaming/gate.py's spool and drain are the one path."""
    import pathlib
    import re

    catalog = pathlib.Path(__file__).resolve().parents[1] / "flod_spark" / "catalog"
    banned = re.compile(
        r"\.writeStream\b|\.processAllAvailable\(|\breplay_stream\(|\breplay_buckets\("
        r"|\.agg\(F\.max\([^()]*\)\)\.collect\(\)"
    )
    hits = [
        f"{path.name}:{n}: {line.strip()}"
        for path in sorted(catalog.glob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert not hits, hits


def test_packed_user_state_codec_only_in_packfold():
    """No catalog module packs or unpacks per-user shard state by hand:
    the codec (_packed_get / _merge_packed / _packed_put) is called only
    inside streaming/packfold.py, whose packed_user_fold is the one
    per-user fold seam the detector gates declare their steps over."""
    import pathlib
    import re

    catalog = pathlib.Path(__file__).resolve().parents[1] / "flod_spark" / "catalog"
    banned = re.compile(r"\b(_packed_get|_merge_packed|_packed_put)\(")
    hits = [
        f"{path.name}:{n}: {line.strip()}"
        for path in sorted(catalog.glob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert not hits, hits


def test_claim_slices_written_only_through_the_claims_seam():
    """Claim-table slices are written only through catalog/dedup.py's
    seam: no module flips the session-global partitionOverwriteMode
    conf, the per-write option is passed in exactly one place
    (write_claim_slice), and only dedup.py stamps a ``slice`` column."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / "flod_spark"
    sources = {p.relative_to(pkg).as_posix(): p.read_text() for p in pkg.rglob("*.py")}
    conf_flip = re.compile(r"conf\.set\(\s*[\"'][^\"']*partitionOverwriteMode")
    option = re.compile(r"[\"']partitionOverwriteMode[\"']")
    flips = [rel for rel, text in sources.items() if conf_flip.search(text)]
    options = [(rel, len(option.findall(text))) for rel, text in sources.items()]
    stampers = [rel for rel, text in sources.items() if 'withColumn("slice"' in text]
    assert not flips, flips
    assert [o for o in options if o[1]] == [("catalog/dedup.py", 1)], options
    assert stampers == ["catalog/dedup.py"], stampers


def test_ann_stages_and_temp_roots_written_once():
    """The ANN family is one seam and every catalog temp root is scoped:
    no catalog module calls tempfile.mkdtemp (state lives in a
    ``TemporaryDirectory`` the serve runs inside), serve_and_cleanup
    takes only the frame, and in similarity.py the PQ encode fold, the
    ADC sum and the N_PROBE rank filter are each written once."""
    import ast
    import inspect
    import pathlib
    import re

    from flod_spark.io import serve_and_cleanup

    pkg = pathlib.Path(__file__).resolve().parents[1] / "flod_spark"
    mkdtemp = [
        p.name for p in sorted((pkg / "catalog").glob("*.py")) if "mkdtemp(" in p.read_text()
    ]
    assert not mkdtemp, mkdtemp
    assert len(inspect.signature(serve_and_cleanup).parameters) == 1
    sim = (pkg / "catalog" / "similarity.py").read_text()
    code = ast.unparse(ast.parse(sim))  # Spark code only: no comments, no SQL
    assert sim.count('zip_with("sv", "cv"') == 1
    assert len(re.findall(r"(?<!def )\b_pq_adist_col\(\)", sim)) == 1
    assert len(re.findall(r"\bF\.col\('rn'\) <= N_PROBE\b", code)) == 1


def test_claim_evidence_steps_written_once():
    """The claim-evidence seam: under catalog/, the per-shard
    applyInPandasWithState call lives only in the one runner
    (streaming_live._fold_shards), the doc-arrival timestamp is written
    once, passage coverage is computed in one place, and no gate spells
    out the TTL state layout."""
    import ast
    import pathlib
    import re

    cat = pathlib.Path(__file__).resolve().parents[1] / "flod_spark" / "catalog"
    sources = {p.name: p.read_text() for p in sorted(cat.glob("*.py"))}
    call = 'groupBy("shard").applyInPandasWithState('
    runners = [
        (name, fn.name)
        for name, text in sources.items()
        for fn in ast.parse(text).body
        if isinstance(fn, ast.FunctionDef) and call in (ast.get_source_segment(text, fn) or "")
    ]
    assert runners == [("streaming_live.py", "_fold_shards")], runners
    assert sum(t.count(call) for t in sources.values()) == 1
    assert sum(t.count('doc_id") * 1_000_000') for t in sources.values()) == 1
    coverage = re.compile(r"(?<!def )\banchor_coverage_chars\(\)")
    assert sum(len(coverage.findall(t)) for t in sources.values()) == 1
    assert not [n for n, t in sources.items() if 'stateStructType="ks array' in t]
