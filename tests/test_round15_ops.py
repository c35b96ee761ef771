"""Round-15 additions: tiny_df coercion hardening (r14 ADVICE), the
restart-safe live crawl claim sink, bucketed claim admission as a real
code path, and the streaming IVF-PQ index-ingest lifecycle."""

from __future__ import annotations

import os

import pytest


def test_tiny_df_large_int_with_null_exact(spark):
    """r14 ADVICE (io.py): a column mixing None with ints used to be
    coerced by the row-wise pandas constructor to float64, silently
    corrupting int64 values beyond 2^53 (2^60+1 became 1.15e18) BEFORE
    the cast back to long. The column-wise object-dtype build hands
    Arrow the exact Python ints — pin bit-exactness and that the plan
    stays a LocalTableScan."""
    from flod_spark.io import tiny_df

    big = 2**60 + 1
    rows = [(big, "a"), (None, "b"), (-(2**62) - 7, None)]
    got = tiny_df(spark, rows, "v long, s string")
    vals = {r.s: r.v for r in got.collect()}
    assert vals == {"a": big, "b": None, None: -(2**62) - 7}
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "PythonRDD" not in plan


def test_tiny_df_comma_bearing_ddl_types(spark):
    """r14 ADVICE (io.py): field names now come from the real DDL
    parser, not a split on ',' — decimal(10,2) / map<string,int> used
    to produce a wrong column-name list and a pandas shape error."""
    from decimal import Decimal

    from flod_spark.io import tiny_df

    rows = [(1, Decimal("12.34"), {"a": 1}), (2, None, None)]
    got = tiny_df(spark, rows, "id long, amt decimal(10,2), m map<string,int>")
    assert got.columns == ["id", "amt", "m"]
    out = {r.id: (r.amt, r.m) for r in got.collect()}
    assert out[1] == (Decimal("12.34"), {"a": 1})
    assert out[2] == (None, None)


from hypothesis import given, settings
from hypothesis import strategies as st


@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=-(2**63), max_value=2**63 - 1)),
            st.one_of(st.none(), st.text(max_size=20)),
            st.one_of(
                st.none(),
                st.floats(allow_nan=False, allow_infinity=True, width=64),
            ),
        ),
        max_size=12,
    )
)
@settings(max_examples=60, deadline=None)
def test_tiny_df_round_trips_arbitrary_rows(spark, rows):
    """Property pin for the r14 ADVICE coercion fixes: tiny_df must
    round-trip ANY mix of full-range int64 (including beyond 2^53,
    where the old float64 coercion corrupted silently), unicode text,
    NULLs, and non-NaN doubles bit-exactly against the classic
    createDataFrame form."""
    from flod_spark.io import tiny_df

    ddl = "i long, s string, x double"
    got = sorted(map(tuple, tiny_df(spark, rows, ddl).collect()), key=str)
    want = sorted(
        map(tuple, spark.createDataFrame(rows, ddl).collect()), key=str
    )
    assert got == want


def _fp_batch(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, fp string, n_chars long")


def test_crawl_claims_sink_empty_first_batch(spark, tmp_path):
    """r14 ADVICE (medium): a first micro-batch admitting NOTHING used
    to write a claims dir with no parquet footers; every later batch
    then died at the bare os.path.exists gate with
    UNABLE_TO_INFER_SCHEMA. Reads now gate on real part files — pin
    that an all-rejected batch 0 is harmless and batch 1 admits
    normally against an effectively-empty table."""
    from flod_spark.catalog.surface import crawl_claims_sink
    from flod_spark.io import dir_has_parquet as _dir_has_parquet

    claims_dir = str(tmp_path / "claims")
    advance = crawl_claims_sink(claims_dir)
    advance(_fp_batch(spark, []), 0)
    assert not _dir_has_parquet(claims_dir)
    advance(_fp_batch(spark, [(7, "aa", 10), (9, "aa", 10), (8, "bb", 11)]), 1)
    got = {
        (r.first_id, r.fp) for r in spark.read.parquet(claims_dir).collect()
    }
    assert got == {(7, "aa"), (8, "bb")}


def test_crawl_claims_sink_restart_replay_idempotent(spark, tmp_path):
    """r14 verdict (What's wrong #1): after a restart-from-checkpoint
    the in-memory last-batch guard resets and the re-delivered batch
    used to read its OWN slice in the seen set — admitting nothing,
    and (with a partially-visible slice) stranding fps entirely. The
    seen read now excludes slice == batch_id, so re-admission is
    explicit: replay a batch through a FRESH sink instance with its
    slice artificially truncated to half the rows, and the table must
    come back exactly to the uninterrupted state."""
    import glob
    import os

    from flod_spark.catalog.surface import crawl_claims_sink

    claims_dir = str(tmp_path / "claims")
    b0 = [(1, "aa", 5), (2, "bb", 6)]
    b1 = [(3, "bb", 6), (4, "cc", 7), (5, "cc", 7), (6, "dd", 8)]

    def table():
        return {
            (r.first_id, r.fp, r.n_chars, r.slice)
            for r in spark.read.parquet(claims_dir).collect()
        }

    advance = crawl_claims_sink(claims_dir)
    advance(_fp_batch(spark, b0), 0)
    advance(_fp_batch(spark, b1), 1)
    want = table()
    assert {(t[0], t[1]) for t in want} == {(1, "aa"), (2, "bb"), (4, "cc"), (6, "dd")}

    # simulate the crash: batch 1's slice (= batch_id + 1 = 2; slice 0
    # is reserved for the compaction fold) is only PARTIALLY visible
    # (drop one of its part files), then the restarted query re-delivers
    # batch 1 to a fresh sink whose in-memory guard has reset
    parts = sorted(glob.glob(os.path.join(claims_dir, "slice=2", "*.parquet")))
    assert parts, "slice=2 must have part files to truncate"
    os.remove(parts[0])
    assert table() != want  # the damage is real
    advance2 = crawl_claims_sink(claims_dir)
    advance2(_fp_batch(spark, b1), 1)
    assert table() == want
    # and a SECOND replay of the same batch is a no-op too
    advance2(_fp_batch(spark, b1), 1)
    assert table() == want


def test_bucketed_admission_invisible_and_shuffle_free(spark, sf_dir, tmp_path):
    """r14 verdict item 4: compact_claim_table(bucketed_table=...) must
    refresh an fp-bucketed layout whose admission verdicts are
    BIT-IDENTICAL to the parquet-dir path, while the claims side scans
    straight from its buckets (no exchange, no distinct aggregate —
    the layout exists to remove exactly those)."""
    import uuid

    from pyspark.sql import functions as F

    from flod_spark.catalog.dedup import (
        advance_claim_table,
        build_claim_table,
        compact_claim_table,
        dedup_against_claims,
    )
    from flod_spark.io import load

    docs = load(spark, sf_dir, "documents")
    mid = docs.agg(F.expr("(MIN(doc_id) + MAX(doc_id)) div 2")).first()[0]
    cdir = str(tmp_path / "claims")
    tbl = "t_bkt_" + uuid.uuid4().hex[:8]
    build_claim_table(docs.filter(F.col("doc_id") <= mid), cdir)
    v = dedup_against_claims(
        docs.filter(F.col("doc_id") > mid).select("doc_id", "text"), spark, cdir
    )
    advance_claim_table(v, cdir, slice_id=1)
    compact_claim_table(spark, cdir, bucketed_table=tbl)
    try:
        import os

        assert os.path.isdir(cdir + ".bucketed")  # external, co-located
        sl = docs.select("doc_id", "text")
        via_dir = dedup_against_claims(sl, spark, cdir)
        via_tbl = dedup_against_claims(sl, spark, cdir, bucketed_table=tbl)
        a = sorted(map(tuple, via_dir.collect()))
        b = sorted(map(tuple, via_tbl.collect()))
        assert a == b and a
        # plan property: the bucketed claims side scans from its
        # buckets with no distinct aggregate; the dir path pays one
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            p_tbl = via_tbl._jdf.queryExecution().executedPlan().toString()
            p_dir = via_dir._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert "Bucketed: true" in p_tbl
        assert p_tbl.count("Exchange") < p_dir.count("Exchange")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


@pytest.mark.parametrize(
    "qk",
    [
        # the r15 serve_and_cleanup rollout (r14 verdict item 3 — the
        # named hygiene queue): each of these used to leak its mkdtemp
        # state tree on every gated run
        "crawl_pipeline",
        "dedup_incremental",
        "dedup_minhash_incremental",
        "sim_pq_adc_persisted",
        "sim_ivfpq_persisted",
        "sim_ivfpq_advanced",
        "scan_archive",
        "scan_wds_samples",
        # and the r15 registrations, born clean
        "dedup_claims_bucketed",
        "stream_ivfpq_ingest_live",
        # the foreachBatch state root, the tar/WARC shard outputs and
        # the bloom corpus + index, swept through serve_and_cleanup
        "stream_foreach_upsert_live",
        "stream_sink_tar_live",
        "stream_curate_loop_live",
        "sink_tar_shards",
        "sink_warc_shards",
        "scan_bloom_pruned",
        # the compacted lifecycle gates and the nightly crawl state
        # machine (claim tree, bucketed files, three shard dirs)
        "dedup_claims_compacted",
        "sim_ivfpq_compacted",
        "crawl_pipeline_incremental",
        # the router's routed trees and the two tokenizer artifact
        # roots, scoped temp dirs like every catalog state root
        "stream_split_router_live",
        "bpe_apply_from_table",
        "unigram_apply_from_table",
    ],
)
def test_gated_query_leaves_no_tmp_trees(spark, sf_dir, qk):
    """No gated query may leave a mkdtemp tree behind (r14 verdict
    item 3's done-criterion): snapshot the flod_* entries under the
    temp root, run the query to completion, and require the snapshot
    unchanged."""
    import glob
    import tempfile as tf

    from flod_spark.registry import QUERIES, load_catalog

    load_catalog()
    pat = os.path.join(tf.gettempdir(), "flod_*")
    before = set(glob.glob(pat))
    QUERIES[qk](spark, sf_dir).collect()
    leaked = set(glob.glob(pat)) - before
    # the package-ship zip and checkpoint dirs are swept by their own
    # paths; nothing new may remain
    assert not leaked, f"{qk} leaked temp trees: {sorted(leaked)}"


def test_shipped_package_zip_is_keyed_by_content(tmp_path, monkeypatch):
    """Two package trees sharing one temp root each ship their OWN code:
    the second tree's files are older than the first tree's zip (an
    archive of an earlier commit checked out later), which an mtime
    test would take for an up-to-date zip."""
    import tempfile
    import time
    import types
    import zipfile

    from flod_spark import registry

    root = tmp_path / "tmp"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))

    def tree(name, body, mtime):
        pkg = tmp_path / name / "flod_spark"
        pkg.mkdir(parents=True)
        (pkg / "registry.py").write_text("# registry\n")
        (pkg / "mod.py").write_text(body)
        for f in pkg.iterdir():
            os.utime(f, (mtime, mtime))
        return pkg

    def shipped_mod(pkg):
        added = []
        spark = types.SimpleNamespace(
            sparkContext=types.SimpleNamespace(addPyFile=added.append)
        )
        monkeypatch.setattr(registry, "__file__", str(pkg / "registry.py"))
        registry.ensure_shipped(spark)
        (zpath,) = added
        with zipfile.ZipFile(zpath) as z:
            return z.read("flod_spark/mod.py").decode()

    now = time.time()
    first = tree("a", "X = 'first'\n", now - 100)
    second = tree("b", "X = 'second'\n", now - 10_000)
    assert shipped_mod(first) == "X = 'first'\n"
    assert shipped_mod(second) == "X = 'second'\n"
    assert shipped_mod(first) == "X = 'first'\n"


def test_shipped_package_zips_pruned_by_age(tmp_path):
    """Each _package_zip call touches the zip it returns and removes
    other package zips (and half-built .tmp files) untouched for longer
    than _SHIP_ZIP_MAX_AGE_S; a recent foreign zip, which a live session
    may still serve, stays."""
    import time

    from flod_spark import registry

    pkg = tmp_path / "pkg" / "flod_spark"
    pkg.mkdir(parents=True)
    (pkg / "mod.py").write_text("X = 1\n")
    ship = tmp_path / "ship"
    ship.mkdir()
    old = time.time() - 8 * 24 * 3600
    stale = ship / "flod_spark_pkg_00000000000000aa.zip"
    stale_tmp = ship / "flod_spark_pkg_00000000000000bb.zip.tmp"
    fresh = ship / "flod_spark_pkg_00000000000000cc.zip"
    other = ship / "unrelated.zip"
    for f in (stale, stale_tmp, fresh, other):
        f.write_bytes(b"x")
    for f in (stale, stale_tmp, other):
        os.utime(f, (old, old))
    current = registry._package_zip(str(pkg), str(ship))
    os.utime(current, (old, old))  # an old zip of the live tree is reused...
    assert registry._package_zip(str(pkg), str(ship)) == current
    assert os.path.getmtime(current) > time.time() - 3600  # ...and touched
    assert sorted(p.name for p in ship.iterdir()) == sorted(
        [os.path.basename(current), fresh.name, other.name]
    )


def test_ivfpq_ingest_sink_batching_invisible(spark, sf_dir, tmp_path):
    """The live index-maintenance contract (r14 verdict item 6): codes
    are per-vector deterministic, so (a) two micro-batch slices serve
    bit-identically to the one-shot batch advance, (b) a replayed
    batch through a FRESH sink instance is a no-op, and (c) an EMPTY
    batch's footer-less slice dir is skipped by the serve instead of
    killing it."""
    from pyspark.sql import functions as F

    from flod_spark.catalog.similarity import (
        NQ,
        _emb_v,
        ivfpq_index_advance,
        ivfpq_index_query,
        ivfpq_index_save,
        ivfpq_ingest_sink,
    )

    emb = _emb_v(spark, sf_dir)
    mm = emb.agg(F.min("vec_id").alias("mn"), F.max("vec_id").alias("mx")).first()
    mid = (mm.mn + mm.mx) // 2
    q3 = (mid + mm.mx) // 2
    queries = emb.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("query_id"), "v"
    )

    def served(idx):
        return sorted(
            map(tuple, ivfpq_index_query(spark, idx, queries, include_slices=True).collect())
        )

    one = str(tmp_path / "one")
    ivfpq_index_save(emb.filter(F.col("vec_id") <= mid), one)
    ivfpq_index_advance(emb.filter(F.col("vec_id") > mid), spark, one, slice_id=1)
    want = served(one)

    live = str(tmp_path / "live")
    ivfpq_index_save(emb.filter(F.col("vec_id") <= mid), live)
    sink = ivfpq_ingest_sink(live)
    b0 = emb.filter((F.col("vec_id") > mid) & (F.col("vec_id") <= q3))
    b1 = emb.filter(F.col("vec_id") > q3)
    empty = emb.filter(F.lit(False))
    sink(b0, 0)
    sink(b1, 1)
    sink(empty, 2)  # footer-less slice dir must not poison the serve
    assert served(live) == want
    # restart replay: fresh sink instance, same slice id — idempotent
    sink2 = ivfpq_ingest_sink(live)
    sink2(b1, 1)
    assert served(live) == want


def test_crawl_claims_sink_bucketed_seen_bit_equal(spark, sf_dir, tmp_path):
    """The 100 TB seen read as code (r14 scale note closed): after a
    compaction refreshes the fp-bucketed layout, the live sink's seen
    set can be served as bucketed base ∪ partition-pruned post-
    compaction slices — pin that a sink wired that way admits
    BIT-IDENTICALLY to the full-dir-read sink on the same batch
    sequence (compaction + layout invisible to admission), across a
    compaction that lands mid-stream."""
    import uuid

    from flod_spark.catalog.dedup import compact_claim_table
    from flod_spark.catalog.surface import crawl_claims_sink

    b0 = [(1, "aa", 5), (2, "bb", 6)]
    b1 = [(3, "bb", 6), (4, "cc", 7)]
    b2 = [(5, "aa", 5), (6, "dd", 8), (7, "dd", 8)]

    def run(tag, bucketed):
        cdir = str(tmp_path / f"claims_{tag}")
        tbl = "t_live_bkt_" + uuid.uuid4().hex[:8] if bucketed else None
        sink = crawl_claims_sink(cdir, bucketed_table=tbl)
        sink(_fp_batch(spark, b0), 0)
        sink(_fp_batch(spark, b1), 1)
        # nightly compaction lands between triggers; only the bucketed
        # run refreshes the layout, and batch 2 must see base + nothing
        compact_claim_table(spark, cdir, bucketed_table=tbl)
        sink(_fp_batch(spark, b2), 2)
        got = {
            (r.first_id, r.fp, r.n_chars)
            for r in spark.read.parquet(cdir).collect()
        }
        if tbl:
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        return got

    via_dir = run("dir", bucketed=False)
    via_bkt = run("bkt", bucketed=True)
    assert via_dir == via_bkt
    assert {(t[0], t[1]) for t in via_dir} == {
        (1, "aa"), (2, "bb"), (4, "cc"), (6, "dd")
    }


def test_compaction_crash_windows_are_seen_safe(spark, tmp_path):
    """The bucketed seen read across compactor crash states: (a) the
    PRE-SWAP state (bucketed refreshed, dir not yet folded) must
    over-cover, never under-cover — a claimed fp still rejects; (b)
    the BETWEEN-RENAMES state (dir absent, .compact complete) is
    repaired by the sink's recover_swap_dir before its read. The
    reverse refresh order had a real hole (stale bucketed base
    missing just-folded fps → duplicate re-admission)."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from flod_spark.catalog.dedup import compact_claim_table
    from flod_spark.catalog.surface import crawl_claims_sink

    # (a) pre-swap crash: compact refreshed the bucketed table but the
    # dir still holds the unfolded slices — simulate by compacting a
    # COPY for the bucketed layout, then restoring the unfolded dir
    cdir = str(tmp_path / "claims")
    tbl = "t_crash_" + uuid.uuid4().hex[:8]
    sink = crawl_claims_sink(cdir, bucketed_table=tbl)
    sink(_fp_batch(spark, [(1, "aa", 5)]), 0)
    sink(_fp_batch(spark, [(2, "bb", 6)]), 1)
    pre_swap = spark.read.parquet(cdir).collect()  # slices 0 and 1
    compact_claim_table(spark, cdir, bucketed_table=tbl)
    # restore the UNFOLDED dir (as if the swap never happened) while
    # keeping the refreshed bucketed table = the pre-swap crash state
    import shutil as sh

    sh.rmtree(cdir)
    spark.createDataFrame(pre_swap).write.partitionBy("slice").parquet(cdir)
    try:
        sink2 = crawl_claims_sink(cdir, bucketed_table=tbl)
        sink2(_fp_batch(spark, [(3, "bb", 6), (4, "cc", 7)]), 2)
        got = {
            (r.first_id, r.fp)
            for r in spark.read.parquet(cdir).filter(F.col("slice") == 3).collect()
        }
        assert got == {(4, "cc")}  # 'bb' (claimed pre-swap) still rejects
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")

    # (b) between-renames crash: target absent, .compact complete —
    # the DIR-path sink must repair and still reject claimed fps
    cdir2 = str(tmp_path / "claims2")
    s3 = crawl_claims_sink(cdir2)
    s3(_fp_batch(spark, [(1, "aa", 5)]), 0)
    os.rename(cdir2, cdir2 + ".compact")
    assert not os.path.exists(cdir2)
    s4 = crawl_claims_sink(cdir2)
    s4(_fp_batch(spark, [(5, "aa", 5), (6, "dd", 8)]), 1)
    got2 = {(r.first_id, r.fp) for r in spark.read.parquet(cdir2).collect()}
    assert got2 == {(1, "aa"), (6, "dd")}  # repaired, 'aa' rejected


def test_dir_has_parquet_edges(tmp_path):
    """The footer gate (r14 ADVICE): absent dir, empty dir,
    _SUCCESS-only dir, and a nested partition layout must classify
    correctly."""
    import os

    from flod_spark.io import dir_has_parquet

    d = str(tmp_path / "t")
    assert not dir_has_parquet(d)  # absent
    os.makedirs(d)
    assert not dir_has_parquet(d)  # empty
    open(os.path.join(d, "_SUCCESS"), "w").close()
    assert not dir_has_parquet(d)  # the empty-dynamic-overwrite state
    os.makedirs(os.path.join(d, "slice=3"))
    assert not dir_has_parquet(d)  # partition dir but no footers
    open(os.path.join(d, "slice=3", "part-0.parquet"), "w").close()
    assert dir_has_parquet(d)  # nested part file found


def test_crawl_claims_sink_malformed_table_no_fanout(spark, tmp_path):
    """The anti-join guard: a malformed claim table holding DUPLICATE
    fp rows (a partially retried legacy append) must not fan out the
    batch side — each batch row admits or rejects exactly once, and a
    claimed fp still rejects."""
    import os

    from pyspark.sql import functions as F

    from flod_spark.catalog.surface import crawl_claims_sink

    claims_dir = str(tmp_path / "claims")
    # slice 0 written with fp 'aa' DUPLICATED (malformed)
    spark.createDataFrame(
        [("aa", 1, 5), ("aa", 1, 5), ("bb", 2, 6)],
        "fp string, first_id long, n_chars long",
    ).withColumn("slice", F.lit(0)).write.partitionBy("slice").parquet(claims_dir)
    advance = crawl_claims_sink(claims_dir)
    advance(_fp_batch(spark, [(7, "aa", 5), (8, "cc", 9)]), 1)
    got = sorted(
        (r.first_id, r.fp)
        for r in spark.read.parquet(os.path.join(claims_dir, "slice=2")).collect()
    )
    assert got == [(8, "cc")]  # 'aa' rejected once, no duplicate rows


def test_stream_ivfpq_ingest_checkpoint_restart(spark, sf_dir, tmp_path):
    """The crawl restart discipline applied to the index-ingest sink:
    run the vector stream over the first half of the replay files,
    stop, DELETE the last commit (forcing that batch to replay into a
    FRESH sink), stage the rest, restart on the same checkpoint + index
    — the served top-K must equal the one-shot batch advance's
    bit-for-bit."""
    import glob
    import os
    import shutil as sh

    from pyspark.sql import functions as F

    from flod_spark.catalog.similarity import (
        NQ,
        _emb_v,
        ivfpq_index_advance,
        ivfpq_index_query,
        ivfpq_index_save,
        ivfpq_ingest_sink,
    )
    from flod_spark.streaming import replay_stream

    emb = _emb_v(spark, sf_dir)
    mm = emb.agg(F.min("vec_id").alias("mn"), F.max("vec_id").alias("mx")).first()
    mid = (mm.mn + mm.mx) // 2
    queries = emb.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("query_id"), "v"
    )

    def served(idx):
        return sorted(
            map(tuple, ivfpq_index_query(spark, idx, queries, include_slices=True).collect())
        )

    one = str(tmp_path / "one")
    ivfpq_index_save(emb.filter(F.col("vec_id") <= mid), one)
    ivfpq_index_advance(emb.filter(F.col("vec_id") > mid), spark, one, slice_id=1)
    want = served(one)

    # materialize the replay batch files once, then stage them manually
    feed = emb.filter(F.col("vec_id") > mid).withColumn(
        "ingest_ts", F.timestamp_micros(F.col("vec_id") * 1_000_000)
    )
    src = str(tmp_path / "src")
    replay_stream(spark, feed, "ingest_ts", src, n_batches=4, tiebreak=("vec_id",))
    files = sorted(glob.glob(os.path.join(src, "*.parquet")), key=os.path.getmtime)
    assert len(files) == 4
    schema = spark.read.parquet(files[0]).schema

    live = str(tmp_path / "live")
    ckpt = str(tmp_path / "ck")
    idx = str(tmp_path / "idx")
    os.makedirs(live)
    ivfpq_index_save(emb.filter(F.col("vec_id") <= mid), idx)
    order = {f: i for i, f in enumerate(files)}
    for si, subset in enumerate([files[:2], files[2:]]):
        for f in subset:
            dst = os.path.join(live, os.path.basename(f))
            sh.copy(f, dst)
            os.utime(dst, (1_700_000_000 + order[f],) * 2)
        sink = ivfpq_ingest_sink(idx)  # fresh per run: restart semantics
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(live)
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        if si == 0:
            commits = sorted(
                (p for p in glob.glob(os.path.join(ckpt, "commits", "*"))
                 if os.path.basename(p).isdigit()),
                key=lambda p: int(os.path.basename(p)),
            )
            os.remove(commits[-1])  # forces that batch to replay
            crc = os.path.join(
                os.path.dirname(commits[-1]),
                "." + os.path.basename(commits[-1]) + ".crc",
            )
            if os.path.exists(crc):
                os.remove(crc)
    assert served(idx) == want


def test_ivfpq_serve_repairs_half_swapped_base(spark, sf_dir, tmp_path):
    """ivfpq_index_query must repair a compactor's between-renames
    crash state (codes base absent, .compact complete) before serving
    — the crawl_claims_sink read-side discipline applied to the index:
    served top-K equals the healthy state's bit-for-bit."""
    import os

    from pyspark.sql import functions as F

    from flod_spark.catalog.similarity import (
        NQ,
        _emb_v,
        ivfpq_index_query,
        ivfpq_index_save,
    )

    emb = _emb_v(spark, sf_dir)
    idx = str(tmp_path / "idx")
    ivfpq_index_save(emb, idx)
    queries = emb.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("query_id"), "v"
    )
    want = sorted(map(tuple, ivfpq_index_query(spark, idx, queries).collect()))
    base = os.path.join(idx, "codes_by_cell")
    os.rename(base, base + ".compact")  # the between-renames crash
    assert not os.path.exists(base)
    got = sorted(map(tuple, ivfpq_index_query(spark, idx, queries).collect()))
    assert got == want and os.path.exists(base)


def test_ivfpq_ingest_then_compact_serves_identically(spark, sf_dir, tmp_path):
    """Composition: slices written by the STREAMING ingest sink fold
    through compact_ivfpq_index exactly like batch advances — served
    top-K identical before and after the compaction, with
    include_slices=True proving the fold left nothing behind."""
    import glob
    import os

    from pyspark.sql import functions as F

    from flod_spark.catalog.similarity import (
        NQ,
        _emb_v,
        compact_ivfpq_index,
        ivfpq_index_query,
        ivfpq_index_save,
        ivfpq_ingest_sink,
    )

    emb = _emb_v(spark, sf_dir)
    mm = emb.agg(F.min("vec_id").alias("mn"), F.max("vec_id").alias("mx")).first()
    mid = (mm.mn + mm.mx) // 2
    q3 = (mid + mm.mx) // 2
    idx = str(tmp_path / "idx")
    ivfpq_index_save(emb.filter(F.col("vec_id") <= mid), idx)
    sink = ivfpq_ingest_sink(idx)
    sink(emb.filter((F.col("vec_id") > mid) & (F.col("vec_id") <= q3)), 0)
    sink(emb.filter(F.col("vec_id") > q3), 1)
    queries = emb.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("query_id"), "v"
    )

    def served():
        return sorted(
            map(tuple, ivfpq_index_query(spark, idx, queries, include_slices=True).collect())
        )

    before = served()
    compact_ivfpq_index(spark, idx)
    assert not glob.glob(os.path.join(idx, "codes_slice_*"))
    assert served() == before


def test_crawl_claims_sink_single_fp_batch(spark, tmp_path):
    """Degenerate batch: every row carries ONE fingerprint — exactly
    the min-doc_id row admits, and a replay of the same batch through
    a fresh sink leaves the table unchanged."""
    from flod_spark.catalog.surface import crawl_claims_sink

    claims_dir = str(tmp_path / "claims")
    b = [(9, "zz", 4), (3, "zz", 4), (7, "zz", 4)]
    advance = crawl_claims_sink(claims_dir)
    advance(_fp_batch(spark, b), 0)
    got = [(r.first_id, r.fp) for r in spark.read.parquet(claims_dir).collect()]
    assert got == [(3, "zz")]
    crawl_claims_sink(claims_dir)(_fp_batch(spark, b), 0)
    assert [(r.first_id, r.fp) for r in spark.read.parquet(claims_dir).collect()] == [(3, "zz")]


def test_hybrid_rrf_semantics(spark, sf_dir):
    """Planted-semantics pin for the RRF fusion (the bm25_score
    discipline): ranks are 1.._RRF_TOP and contiguous per query, rrf
    is monotone nonincreasing in rank, every score is in
    (0, 2/(K0+1)], and any candidate whose rrf exceeds the best
    possible single-leg score 1/(K0+1) must have been retrieved by
    BOTH legs — at least one such both-leg candidate exists (the
    fusion is non-vacuous: document q's own text and embedding
    neighborhoods overlap by construction of the synthetic corpus)."""
    from flod_spark.catalog.similarity import _RRF_K0, _RRF_TOP, sim_hybrid_rrf

    rows = sim_hybrid_rrf(spark, sf_dir).collect()
    assert rows
    per_q: dict = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append((r.rk, r.rrf, r.doc_id))
    single_max = 1.0 / (_RRF_K0 + 1)
    both = 0
    for q, lst in per_q.items():
        lst.sort()
        assert [rk for rk, _, _ in lst] == list(range(1, len(lst) + 1))
        assert len(lst) <= _RRF_TOP
        rrfs = [s for _, s, _ in lst]
        assert all(a >= b for a, b in zip(rrfs, rrfs[1:]))
        assert all(0.0 < s <= 2 * single_max for s in rrfs)
        both += sum(1 for s in rrfs if s > single_max)
    assert both > 0


def test_stream_crawl_claims_checkpoint_restart(spark, sf_dir, tmp_path):
    """The full streaming restart discipline (test_round10_ops style)
    applied to the table-backed crawl sink: run the live crawl chain
    over the first half of the WARC shards, stop, DELETE the last
    commit from the checkpoint (forcing that batch to replay), stage
    the remaining shards, and restart with a FRESH sink instance on
    the same checkpoint + claim table. The final claim table must
    equal the uninterrupted run's AND the batch window-rank truth."""
    import glob
    import os
    import shutil as sh

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from flod_spark.catalog.surface import (
        _crawl_extract_quality,
        _crawl_pages,
        archive_member_rows,
        crawl_claims_sink,
        pack_warc_shards,
        stream_archive_members,
    )
    from flod_spark.io import load

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    pages = _crawl_pages(docs)
    src = str(tmp_path / "shards")
    manifest = pack_warc_shards(pages, src, shard_docs=10).collect()
    files = [r.path for r in sorted(manifest, key=lambda r: r.shard)]
    assert len(files) >= 4

    def run(tag, subsets, fresh_sink_each=False, break_last_commit=False):
        live = str(tmp_path / f"live_{tag}")
        ckpt = str(tmp_path / f"ck_{tag}")
        claims = str(tmp_path / f"claims_{tag}")
        os.makedirs(live, exist_ok=True)
        order = {f: i for i, f in enumerate(files)}
        sink = crawl_claims_sink(claims)
        for si, subset in enumerate(subsets):
            for f in subset:
                dst = os.path.join(live, os.path.basename(f))
                sh.copy(f, dst)
                os.utime(dst, (1_700_000_000 + order[f],) * 2)
            if fresh_sink_each:
                sink = crawl_claims_sink(claims)
            ext = _crawl_extract_quality(
                stream_archive_members(spark, live, 1, keep_content=True)
            )
            q = (
                ext.writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .start()
            )
            q.processAllAvailable()
            q.stop()
            if break_last_commit and si == 0:
                commits = sorted(
                    (p for p in glob.glob(os.path.join(ckpt, "commits", "*"))
                     if os.path.basename(p).isdigit()),
                    key=lambda p: int(os.path.basename(p)),
                )
                os.remove(commits[-1])  # forces that batch to replay
                crc = os.path.join(
                    os.path.dirname(commits[-1]),
                    "." + os.path.basename(commits[-1]) + ".crc",
                )
                if os.path.exists(crc):  # ChecksumFs: stale crc blocks rewrite
                    os.remove(crc)
        return {
            (r.first_id, r.fp, r.n_chars)
            for r in spark.read.parquet(claims).collect()
        }

    half = len(files) // 2
    interrupted = run(
        "split", [files[:half], files[half:]],
        fresh_sink_each=True, break_last_commit=True,
    )
    single = run("once", [files])
    raw = spark.read.format("binaryFile").load(src)
    ext = _crawl_extract_quality(archive_member_rows(raw, keep_content=True))
    w = Window.partitionBy("fp")
    truth = {
        (r.doc_id, r.fp, r.n_chars)
        for r in ext.withColumn(
            "adm", F.col("doc_id") == F.min("doc_id").over(w)
        ).filter("adm").collect()
    }
    assert single == truth
    assert interrupted == truth
