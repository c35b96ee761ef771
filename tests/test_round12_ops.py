"""Round-12 operator tests: claim-table maintenance (advance /
compact / bucketed co-partition — r11 verdict item 4), the composed
streaming archive-ingestion invariants, and the persisted-surface
registration glue."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F


def _claims_rows(spark, cdir):
    """The claim table's logical content: sorted (fp, first_id) pairs
    (slice layout is storage, not semantics)."""
    return sorted(
        (r.fp, r.first_id)
        for r in spark.read.parquet(cdir).select("fp", "first_id").collect()
    )


def test_claim_table_n_advances_equal_one_shot(spark, sf_dir, tmp_path):
    """The nightly-batch state machine (r11 verdict item 4): splitting
    the corpus into 3 slices and running build -> admit -> advance ->
    admit -> advance must leave EXACTLY the one-shot claim table —
    same (fp, first_id) rows bit-for-bit — both before and after
    compaction, and the union of per-slice admitted doc_ids must be
    the one-shot dedup_exact first-arrival set."""
    from flod_spark.catalog.dedup import (
        _norm_col,
        advance_claim_table,
        build_claim_table,
        compact_claim_table,
        dedup_against_claims,
    )
    from flod_spark.io import load

    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    b1, b2 = n // 3, 2 * n // 3
    s1 = docs.filter(F.col("doc_id") < b1)
    s2 = docs.filter((F.col("doc_id") >= b1) & (F.col("doc_id") < b2))
    s3 = docs.filter(F.col("doc_id") >= b2)

    inc_dir = str(tmp_path / "claims_inc")
    build_claim_table(s1, inc_dir)
    admitted_ids = {
        r.doc_id
        for r in spark.read.parquet(inc_dir)
        .select(F.col("first_id").alias("doc_id"))
        .collect()
    }
    for i, sl in ((1, s2), (2, s3)):
        verdicts = dedup_against_claims(sl, spark, inc_dir)
        admitted_ids |= {r.doc_id for r in verdicts.filter("admitted").collect()}
        advance_claim_table(verdicts, inc_dir, slice_id=i)

    one_dir = str(tmp_path / "claims_one")
    build_claim_table(docs, one_dir)
    want = _claims_rows(spark, one_dir)
    assert _claims_rows(spark, inc_dir) == want and want

    # compaction folds the slices without changing one logical row
    compact_claim_table(spark, inc_dir)
    assert _claims_rows(spark, inc_dir) == want
    # post-compact the physical layout is a single slice again
    assert {r.slice for r in spark.read.parquet(inc_dir).collect()} == {0}

    # the admitted union is the one-shot first-arrival set
    h = docs.select("doc_id", F.md5(_norm_col().cast("binary")).alias("fp"))
    firsts = {
        r.first_id
        for r in h.groupBy("fp").agg(F.min("doc_id").alias("first_id")).collect()
    }
    assert admitted_ids == firsts


def test_claim_table_advance_replay_is_idempotent(spark, sf_dir, tmp_path):
    """A retried/replayed advance of the SAME slice overwrites its own
    partition instead of appending: table contents identical after a
    double advance (the stream_foreach_upsert_live batch_id-guard
    discipline, expressed as dynamic partition overwrite)."""
    from flod_spark.catalog.dedup import (
        advance_claim_table,
        build_claim_table,
        dedup_against_claims,
    )
    from flod_spark.io import load

    docs = load(spark, sf_dir, "documents")
    mid = docs.agg(F.expr("(MIN(doc_id) + MAX(doc_id)) div 2")).first()[0]
    cdir = str(tmp_path / "claims")
    build_claim_table(docs.filter(F.col("doc_id") <= mid), cdir)
    verdicts = dedup_against_claims(
        docs.filter(F.col("doc_id") > mid), spark, cdir
    )
    advance_claim_table(verdicts, cdir, slice_id=1)
    once = _claims_rows(spark, cdir)
    advance_claim_table(verdicts, cdir, slice_id=1)  # replayed job
    assert _claims_rows(spark, cdir) == once
    # and the fp column stayed unique (no fan-out fuel for later joins)
    total = spark.read.parquet(cdir).count()
    assert total == len({fp for fp, _ in once}) == len(once)


def test_bucketed_claims_anti_join_has_no_claims_shuffle(spark, sf_dir):
    """The 100 TB co-partition promise (r11 verdict item 4): with the
    claim table written BUCKETED (and sorted) by fp and the slice's
    fingerprints bucketed the same way, the admission anti-join plans
    with ZERO shuffle exchanges and ZERO sorts — both sides scan
    straight into the SortMergeJoin from their buckets."""
    from flod_spark.catalog.dedup import _norm_col, write_claims_bucketed
    from flod_spark.io import load

    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    tag = uuid.uuid4().hex[:8]
    tc, ts = f"t_claims_{tag}", f"t_slice_{tag}"
    docs = load(spark, sf_dir, "documents")
    h = docs.select("doc_id", F.md5(_norm_col().cast("binary")).alias("fp"))
    mid = docs.agg(F.expr("(MIN(doc_id) + MAX(doc_id)) div 2")).first()[0]
    claims = (
        h.filter(F.col("doc_id") <= mid)
        .groupBy("fp")
        .agg(F.min("doc_id").alias("first_id"))
    )
    write_claims_bucketed(claims, spark, tc, buckets=8)
    (
        h.filter(F.col("doc_id") > mid)
        .repartition(8, F.col("fp"))  # one file per bucket (see helper)
        .write.mode("overwrite")
        .bucketBy(8, "fp")
        .sortBy("fp")
        .format("parquet")
        .saveAsTable(ts)
    )
    try:
        # force the join path (a broadcast would hide the property) and
        # let the scan expose the bucket sort order (safe here: the
        # one-file-per-bucket write makes the sortBy metadata true)
        prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
        )
        try:
            survivors = spark.table(ts).join(
                spark.table(tc), "fp", "left_anti"
            )
            plan = (
                survivors._jdf.queryExecution().executedPlan().toString()
            )
            # the join is still CORRECT: survivors = unclaimed fps
            got = {r.fp for r in survivors.select("fp").distinct().collect()}
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
            spark.conf.set(
                "spark.sql.legacy.bucketedTableScan.outputOrdering", "false"
            )
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        # bucket-sorted scans feed the SMJ directly — no Sort operator
        assert "Sort [" not in plan, plan
        assert plan.count("Bucketed: true") == 2, plan
        claimed = {r.fp for r in spark.table(tc).collect()}
        slice_fps = {r.fp for r in spark.table(ts).select("fp").collect()}
        assert got == slice_fps - claimed and got
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tc}")
        spark.sql(f"DROP TABLE IF EXISTS {ts}")


def test_archive_member_rows_dispatches_on_magic_not_name(spark, tmp_path):
    """The r11 ADVICE fix: a ZIP named .tar (and a tar named .zip) must
    still split correctly — dispatch reads the leading PK\\x03\\x04
    magic, not the filename extension."""
    import io
    import os
    import tarfile
    import zipfile

    from flod_spark.catalog.surface import archive_member_rows

    adir = str(tmp_path / "misnamed")
    os.makedirs(adir)
    # a ZIP whose name says .tar
    with zipfile.ZipFile(os.path.join(adir, "lies.tar"), "w") as z:
        z.writestr("a.txt", b"alpha")
    # a tar whose name says .zip
    with tarfile.open(os.path.join(adir, "fibs.zip"), "w") as t:
        b = b"bravo"
        ti = tarfile.TarInfo("b.txt")
        ti.size = len(b)
        t.addfile(ti, io.BytesIO(b))
    raw = spark.read.format("binaryFile").load(adir)
    got = {
        (r.archive, r.member, r.n_bytes)
        for r in archive_member_rows(raw).collect()
    }
    assert got == {("lies.tar", "a.txt", 5), ("fibs.zip", "b.txt", 5)}


def test_stream_archive_dedup_admits_exactly_first_arrivals(spark, sf_dir):
    """The composed ingestion invariant end-to-end at test scale: the
    admitted member set equals one member per distinct content, and
    every admitted member is the min-doc_id carrier of its md5 (the
    oracle's rank-1 rows) — i.e. the re-delivered copies at
    doc_id + _DUP_OFFSET never survive."""
    import __spark_entry__ as entry

    from flod_spark.catalog.surface import _DUP_OFFSET
    from flod_spark.io import load

    got = entry.queries()["stream_archive_dedup_live"](spark, sf_dir)
    rows = got.collect()
    docs = load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    import hashlib

    want = {}
    for r in docs:
        fp = hashlib.md5(r.text.encode("utf-8")).hexdigest()
        if fp not in want or r.doc_id < want[fp]:
            want[fp] = r.doc_id
    assert {(r.content_md5, r.member) for r in rows} == {
        (fp, f"doc_{did:06d}.txt") for fp, did in want.items()
    }
    # no admitted member carries a re-delivered id
    assert all(int(r.member[4:-4]) < _DUP_OFFSET for r in rows)


def test_archive_pack_split_roundtrip_edge_contents(spark, tmp_path):
    """Edge-content round-trip through BOTH archive writers and the
    shared split: empty docs, 1-char docs, multi-byte UTF-8 (CJK +
    emoji + combining marks), embedded NUL, bare \\r and \\r\\n line
    ends, and a >4 KB doc — every member must come back with the
    exact source bytes (length + md5), in both the mixed zip/tar
    fixture layout and the tar-shard layout."""
    import hashlib

    from flod_spark.catalog.surface import (
        _pack_archive_fixture,
        archive_member_rows,
        pack_tar_shards,
    )

    texts = [
        "",
        "a",
        "héllo wörld é" * 7,
        "漢字とカナ🙂🙃" * 11,
        "é́́ combining",
        "nul\x00byte",
        "cr\rlf\r\nmix\n",
        "x" * 5001,
        " \t leading and trailing \t ",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    want = {
        f"doc_{i:06d}.txt": (
            len(t.encode("utf-8")),
            hashlib.md5(t.encode("utf-8")).hexdigest(),
        )
        for i, t in enumerate(texts)
    }
    for layout, adir in (
        ("fixture", str(tmp_path / "edge_fixture")),
        ("shards", str(tmp_path / "edge_shards")),
    ):
        if layout == "fixture":
            _pack_archive_fixture(docs, adir)
        else:
            pack_tar_shards(docs, adir, shard_docs=4).collect()
        raw = spark.read.format("binaryFile").load(adir)
        got = {
            r.member: (r.n_bytes, r.content_md5)
            for r in archive_member_rows(raw).collect()
        }
        assert got == want, layout


def test_stream_pack_tar_shards_roundtrip_and_batch_retry(spark, sf_dir, tmp_path):
    """The STREAMING tar-shard sink (queued for r13 registration):
    documents replayed in 4 micro-batches pack to batch-scoped shard
    files; (a) reading every shard back through the shared member
    split recovers every document byte-exactly, (b) batch-scoped
    names make shard files batch-disjoint, and (c) a RETRIED batch
    (the same rows re-packed under the same batch prefix) rewrites
    its own files BIT-IDENTICALLY — idempotence without a
    transaction log."""
    import glob
    import hashlib
    import os

    from flod_spark.catalog.surface import (
        archive_member_rows,
        pack_tar_shards,
        stream_pack_tar_shards,
    )
    from flod_spark.io import load
    from flod_spark.streaming.gate import drain, spool

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # replay orders by a time column — derive one from doc_id (1 µs/doc)
    timed = docs.withColumn(
        "ts",
        F.expr(
            "timestampadd(MICROSECOND, doc_id, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
        ),
    )
    out = str(tmp_path / "stream_shards")
    os.makedirs(out)
    with spool(spark, timed, "ts", n_batches=4) as sp:
        drain(sp.stream, spark, foreach_batch=stream_pack_tar_shards(out, shard_docs=50))
    # (a) byte-exact round trip of the full corpus
    raw = spark.read.format("binaryFile").load(out)
    got = {
        r.member: (r.n_bytes, r.content_md5)
        for r in archive_member_rows(raw).collect()
    }
    src = docs.collect()
    assert len(got) == len(src)
    for row in src:
        b = row.text.encode("utf-8")
        assert got[f"doc_{row.doc_id:06d}.txt"] == (
            len(b),
            hashlib.md5(b).hexdigest(),
        )
    # (b) four batches, batch-disjoint file names
    prefixes = {os.path.basename(p).split("_")[1] for p in glob.glob(out + "/*.tar")}
    assert len(prefixes) == 4, prefixes
    # (c) retry of batch 0: re-pack exactly the rows batch 0 owned
    # (recovered from its own shard files' member names — the stream's
    # file-pickup order need not match the spool's name order)
    b0_files = sorted(glob.glob(out + "/shard_b00000_*.tar"))
    before = {p: open(p, "rb").read() for p in b0_files}
    b0_ids = {
        int(r.member[4:-4])
        for r in archive_member_rows(
            spark.read.format("binaryFile").load(out + "/shard_b00000_*.tar")
        ).collect()
    }
    b0 = docs.filter(F.col("doc_id").isin(sorted(b0_ids)))
    pack_tar_shards(b0, out, shard_docs=50, name_prefix="shard_b00000_").collect()
    after = {p: open(p, "rb").read() for p in sorted(glob.glob(out + "/shard_b00000_*.tar"))}
    assert after == before and before


def test_full_streaming_ingestion_loop_archives_to_clean_shards(
    spark, sf_dir, tmp_path
):
    """The COMPLETE streaming curation loop in ONE query (the shape a
    crawl-to-dataloader pipeline has): tar shards ARRIVE (including
    fully re-delivered duplicate shards), members split out WITH their
    bytes, claim-state dedup admits first arrivals only, and admitted
    members re-materialize as clean batch-scoped tar shards — then
    reading the OUTPUT shards back yields exactly one byte-exact
    member per distinct content (the canonical min-doc_id carrier)."""
    import glob
    import hashlib
    import os

    from flod_spark.catalog.surface import (
        _DUP_OFFSET,
        archive_member_rows,
        pack_tar_shards,
        stream_archive_members,
        stream_pack_tar_shards,
    )
    from flod_spark.io import load
    from flod_spark.streaming.dedup import drop_duplicates_unbounded
    from flod_spark.streaming.gate import drain

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    redelivered = docs.select(
        (F.col("doc_id") + F.lit(_DUP_OFFSET)).alias("doc_id"), "text"
    )
    n = docs.count()
    adir = str(tmp_path / "arrivals")
    man = pack_tar_shards(
        docs.unionByName(redelivered), adir, shard_docs=max(1, -(-n // 5))
    ).collect()
    for i, r in enumerate(sorted(man, key=lambda r: r.shard)):
        os.utime(r.path, (1_600_000_000 + i, 1_600_000_000 + i))

    members = stream_archive_members(
        spark, adir, max_files_per_trigger=1, keep_content=True
    )
    admitted = drop_duplicates_unbounded(members, "content_md5")
    clean = admitted.select(
        F.regexp_extract("member", r"doc_(\d+)\.txt", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("content").cast("string").alias("text"),
    )
    out = str(tmp_path / "clean_shards")
    os.makedirs(out)
    drain(clean, spark, foreach_batch=stream_pack_tar_shards(out, shard_docs=100))

    got = {
        r.member: (r.n_bytes, r.content_md5)
        for r in archive_member_rows(
            spark.read.format("binaryFile").load(out)
        ).collect()
    }
    # exactly one member per distinct content, the min-doc_id carrier,
    # byte-exact — and no re-delivered id anywhere
    want = {}
    for row in docs.collect():
        b = row.text.encode("utf-8")
        fp = hashlib.md5(b).hexdigest()
        if fp not in want or row.doc_id < want[fp][0]:
            want[fp] = (row.doc_id, len(b), fp)
    assert got == {
        f"doc_{did:06d}.txt": (nb, fp) for did, nb, fp in want.values()
    }
    assert all(int(m[4:-4]) < _DUP_OFFSET for m in got)
    assert len(glob.glob(out + "/*.tar")) >= 5  # batch-scoped shards


def test_stream_archive_dedup_under_rocksdb_state_store(spark, sf_dir):
    """Provider invariance for the composed ingestion qkey: the
    claim-state dedup (dropDuplicates keyed on content_md5) returns
    the identical admitted member set under RocksDBStateStoreProvider
    — the provider a production cluster runs for large claim states."""
    import __spark_entry__ as entry

    key = "spark.sql.streaming.stateStore.providerClass"
    provider = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    fn = entry.queries()["stream_archive_dedup_live"]
    default = {tuple(r) for r in fn(spark, sf_dir).collect()}
    spark.conf.set(key, provider)
    try:
        rocks = {tuple(r) for r in fn(spark, sf_dir).collect()}
    finally:
        spark.conf.unset(key)
    assert rocks == default and rocks


def test_stream_pack_tar_shards_checkpoint_restart_continues(
    spark, sf_dir, tmp_path
):
    """Checkpoint continuation for the streaming shard sink: stop the
    query after the first wave of input, add more input, RESTART from
    the same checkpoint — batch ids continue (no reprocessing of the
    committed wave, no file collisions) and the final shard set holds
    every document byte-exactly, once."""
    import glob
    import hashlib
    import os
    import shutil

    from flod_spark.catalog.surface import (
        archive_member_rows,
        stream_pack_tar_shards,
    )
    from flod_spark.io import load
    from flod_spark.streaming.replay import replay_stream

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    timed = docs.withColumn(
        "ts",
        F.expr(
            "timestampadd(MICROSECOND, doc_id, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
        ),
    )
    # stage all 4 replay files, then hold back the last two
    staged = str(tmp_path / "staged")
    replay_stream(spark, timed, "ts", staged, n_batches=4)
    files = sorted(glob.glob(staged + "/*.parquet"), key=os.path.getmtime)
    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    for f in files[:2]:
        shutil.copy(f, spool)
        os.utime(
            os.path.join(spool, os.path.basename(f)),
            (os.path.getmtime(f), os.path.getmtime(f)),
        )
    out = str(tmp_path / "shards")
    ck = str(tmp_path / "ck")
    os.makedirs(out)

    def start():
        return (
            spark.readStream.schema(timed.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(spool)
            .writeStream.foreachBatch(stream_pack_tar_shards(out, shard_docs=50))
            .option("checkpointLocation", ck)
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    wave1 = set(glob.glob(out + "/*.tar"))
    assert wave1
    wave1_bytes = {p: open(p, "rb").read() for p in wave1}
    for f in files[2:]:
        shutil.copy(f, spool)
        os.utime(
            os.path.join(spool, os.path.basename(f)),
            (os.path.getmtime(f), os.path.getmtime(f)),
        )
    q = start()  # restart from the same checkpoint
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # wave-1 files untouched (not reprocessed, not collided)
    for p, b in wave1_bytes.items():
        assert open(p, "rb").read() == b
    # batch ids continued past the committed wave
    prefixes = {os.path.basename(p).split("_")[1] for p in glob.glob(out + "/*.tar")}
    assert len(prefixes) == 4 and prefixes > {
        os.path.basename(p).split("_")[1] for p in wave1
    }
    # completeness: every document exactly once, byte-exact
    got = {
        r.member: (r.n_bytes, r.content_md5)
        for r in archive_member_rows(
            spark.read.format("binaryFile").load(out)
        ).collect()
    }
    src = docs.collect()
    assert len(got) == len(src)
    for row in src:
        b = row.text.encode("utf-8")
        assert got[f"doc_{row.doc_id:06d}.txt"] == (
            len(b),
            hashlib.md5(b).hexdigest(),
        )


def test_admit_by_first_carrier_transitive_rejection():
    """The fuzzy-admission contract on a handcrafted signature frame:
    A(1)~B(2) share band-sig x, B(2)~C(3) share y, A and C share
    nothing — only A survives, because B's signatures count as 'seen'
    even though B itself was rejected (transitive rejection). D(4)
    shares nothing and survives; E(5) collides with the persisted
    claims and dies."""
    from flod_spark.catalog.dedup import admit_by_first_carrier
    from flod_spark.session import get_spark

    spark = get_spark("flod-spark-tests", cpus=8, shuffle_partitions=8)
    sig = spark.createDataFrame(
        [
            (1, 0, "x"), (1, 1, "a1"),
            (2, 0, "x"), (2, 1, "y"),
            (3, 1, "y"), (3, 0, "c0"),
            (4, 0, "d0"), (4, 1, "d1"),
            (5, 0, "e0"), (5, 1, "claimed"),
        ],
        "doc_id long, band int, bs string",
    )
    claims = spark.createDataFrame([(1, "claimed")], "band int, bs string")
    got = {r.doc_id: r.admitted for r in admit_by_first_carrier(sig, claims).collect()}
    assert got == {1: True, 2: False, 3: False, 4: True, 5: False}


def test_minhash_incremental_matches_one_shot(spark, sf_dir, tmp_path):
    """The incremental FUZZY dedup theorem: with doc_id-ordered slices
    and all-seen-signatures advancement, claims(half1) + admit(half2)
    equals the ONE-SHOT first-carrier job restricted to half2 — and a
    replayed advance admits nothing. (Counting rejected docs'
    signatures as seen is what makes this exact; admitted-only claims
    would under-reject across slices.)"""
    from flod_spark.catalog.dedup import (
        _band_sig_rows,
        admit_by_first_carrier,
        advance_minhash_claims,
        build_minhash_claims,
        dedup_minhash_against_claims,
    )
    from flod_spark.io import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    mid = docs.agg(F.expr("(MIN(doc_id) + MAX(doc_id)) div 2")).first()[0]
    half1 = docs.filter(F.col("doc_id") <= mid)
    half2 = docs.filter(F.col("doc_id") > mid)
    cdir = str(tmp_path / "fuzzy_claims")
    build_minhash_claims(half1, cdir)
    got = {
        r.doc_id
        for r in dedup_minhash_against_claims(half2, spark, cdir)
        .filter("admitted")
        .collect()
    }
    # one-shot reference: empty claims, whole corpus, same contract
    empty = spark.createDataFrame([], "band int, bs string")
    ref = {
        r.doc_id
        for r in admit_by_first_carrier(_band_sig_rows(docs), empty)
        .filter("admitted")
        .collect()
        if r.doc_id > mid
    }
    assert got == ref and got
    # advance + replay: every half2 signature is now claimed
    advance_minhash_claims(half2, spark, cdir, slice_id=1)
    replay = dedup_minhash_against_claims(half2, spark, cdir)
    assert replay.filter("admitted").count() == 0
    # advance idempotence: same slice again, table unchanged
    before = sorted(
        (r.band, r.bs, r.first_id)
        for r in spark.read.parquet(cdir).collect()
    )
    advance_minhash_claims(half2, spark, cdir, slice_id=1)
    after = sorted(
        (r.band, r.bs, r.first_id)
        for r in spark.read.parquet(cdir).collect()
    )
    assert after == before
    # crash-retry repair: damage the slice partition (simulate a
    # half-written advance), re-advance — the retry recomputes the
    # FULL partition, so the table is restored bit-for-bit
    import glob
    import os

    victims = glob.glob(cdir + "/slice=1/*.parquet")
    assert victims
    os.remove(victims[0])
    advance_minhash_claims(half2, spark, cdir, slice_id=1)
    repaired = sorted(
        (r.band, r.bs, r.first_id)
        for r in spark.read.parquet(cdir).collect()
    )
    assert repaired == before


def test_warc_shards_roundtrip_and_mixed_directory_scan(spark, sf_dir, tmp_path):
    """The crawl-native container (queued for r13 registration):
    (a) pack_warc_shards round-trips every document byte-exactly
    through the uniform archive_member_rows dispatch (WARC/ magic);
    (b) two packs are byte-identical (fixed WARC-Date, doc_id-derived
    record ids); (c) a MIXED directory of tar shards AND WARC shards
    scans uniformly through one code path, member names agreeing
    across containers."""
    import hashlib
    import os

    from flod_spark.catalog.surface import (
        archive_member_rows,
        pack_tar_shards,
        pack_warc_shards,
    )
    from flod_spark.io import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()
    w1 = str(tmp_path / "warc1")
    man = pack_warc_shards(docs, w1, shard_docs=50).collect()
    assert sum(r.n_members for r in man) == n_docs
    assert all(os.path.getsize(r.path) == r.n_bytes for r in man)
    got = {
        r.member: (r.n_bytes, r.content_md5)
        for r in archive_member_rows(
            spark.read.format("binaryFile").load(w1)
        ).collect()
    }
    src = docs.collect()
    assert len(got) == n_docs
    for row in src:
        b = row.text.encode("utf-8")
        assert got[f"doc_{row.doc_id:06d}.txt"] == (
            len(b),
            hashlib.md5(b).hexdigest(),
        )
    # byte-determinism across packs
    w2 = str(tmp_path / "warc2")
    pack_warc_shards(docs, w2, shard_docs=50).collect()
    for r in man:
        other = os.path.join(w2, os.path.basename(r.path))
        assert open(r.path, "rb").read() == open(other, "rb").read()
    # mixed directory: half the corpus as tar shards, half as WARCs,
    # one uniform scan
    mixed = str(tmp_path / "mixed")
    mid = docs.agg(F.expr("(MIN(doc_id) + MAX(doc_id)) div 2")).first()[0]
    pack_tar_shards(docs.filter(F.col("doc_id") <= mid), mixed, shard_docs=50).collect()
    pack_warc_shards(docs.filter(F.col("doc_id") > mid), mixed, shard_docs=50).collect()
    mixed_got = {
        r.member
        for r in archive_member_rows(
            spark.read.format("binaryFile").load(mixed)
        ).collect()
    }
    assert mixed_got == {f"doc_{row.doc_id:06d}.txt" for row in src}


def test_sim_binary_rerank_matches_numpy_and_recall_floor(spark, sf001_dir):
    """sim_binary_rerank == an independent numpy reference (sign-bit
    pack -> Hamming shortlist -> exact cosine rerank, identical
    tie-breaks), and the shortlist width buys a pinned recall floor
    vs exact full-dim top-K at the gate scale."""
    import numpy as np

    from flod_spark.catalog.similarity import (
        _BQ_CAND,
        K,
        NQ,
        sim_binary_rerank,
    )

    got = {
        (r.query_id, r.rk): (r.neighbor_id, r.hamming)
        for r in sim_binary_rerank(spark, sf001_dir).collect()
    }

    import duckdb

    con = duckdb.connect()
    v = con.sql(
        "SELECT vec_id, embedding::DOUBLE[] v FROM "
        f"'{sf001_dir}/embeddings.parquet' WHERE embedding IS NOT NULL "
        "ORDER BY vec_id"
    ).df()
    ids = v.vec_id.to_numpy()
    V = np.stack(v.v.to_numpy())
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    bits = V > 0
    recalls = []
    for qi in range(NQ):
        sims = Vn[qi] @ Vn.T
        sims[qi] = -np.inf
        exact = set(ids[np.lexsort((ids, -sims))[:K]])
        ham = (bits[qi] != bits).sum(axis=1)
        ham[qi] = 10**9
        cand = np.lexsort((ids, ham))[:_BQ_CAND]
        csims = Vn[qi] @ Vn[cand].T
        order = cand[np.lexsort((ids[cand], -csims))][:K]
        for rk, ci in enumerate(order, start=1):
            assert got[(ids[qi], rk)] == (ids[ci], int(ham[ci]))
        recalls.append(len(set(ids[order]) & exact) / K)
    assert sum(recalls) / len(recalls) >= 0.6  # measured 0.68 at sf0.01


def test_wds_pack_is_deterministic_and_samples_shard_local(spark, sf_dir, tmp_path):
    """pack_wds_shards: two packs of the same table are byte-identical
    (content-addressable shards, the pack_tar_shards discipline), every
    sample contributes exactly its 3 members, and all of a sample's
    members land in the SAME shard file (what makes dataloader-side
    assembly shard-local)."""
    import collections
    import glob
    import tarfile

    from flod_spark.catalog.surface import pack_wds_shards
    from flod_spark.io import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    d1, d2 = str(tmp_path / "w1"), str(tmp_path / "w2")
    man = pack_wds_shards(docs, d1, shard_docs=50).collect()
    pack_wds_shards(docs, d2, shard_docs=50).collect()
    for p in sorted(glob.glob(d1 + "/*.tar")):
        q = d2 + "/" + p.rsplit("/", 1)[1]
        assert open(p, "rb").read() == open(q, "rb").read()
    assert sum(r.n_members for r in man) == 3 * docs.count()
    # sample -> set of shard files carrying its members
    carriers = collections.defaultdict(set)
    for p in glob.glob(d1 + "/*.tar"):
        with tarfile.open(p) as t:
            for ti in t.getmembers():
                carriers[ti.name.split(".")[0]].add(p)
        # members inside each shard are (id, ext)-sorted
        with tarfile.open(p) as t:
            names = [ti.name for ti in t.getmembers()]
            assert names == sorted(names)
    assert all(len(s) == 1 for s in carriers.values())


def test_ivfpq_advance_is_composition_invariant_and_repairing(spark, sf_dir, tmp_path):
    """IVF-PQ index maintenance (the ANN claim-table): (a) advancing
    the second half as ONE slice or TWO slices serves identical
    results, (b) a replayed advance is a no-op, (c) a damaged slice
    directory is repaired bit-for-bit by re-advancing the same slice,
    and (d) the slice dirs carry cell partitions so probed queries
    prune their scans."""
    from flod_spark.catalog.similarity import (
        NQ,
        _emb_v,
        ivfpq_index_advance,
        ivfpq_index_query,
        ivfpq_index_save,
    )

    emb = _emb_v(spark, sf_dir)
    mm = emb.agg(F.min("vec_id").alias("mn"), F.max("vec_id").alias("mx")).first()
    mid = (mm.mn + mm.mx) // 2
    hi = (mid + mm.mx) // 2
    queries = emb.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("query_id"), "v"
    )

    def serve(idx):
        return sorted(
            (r.query_id, r.rk, r.neighbor_id, r.adist)
            for r in ivfpq_index_query(
                spark, idx, queries, include_slices=True
            ).collect()
        )

    one = str(tmp_path / "one")
    ivfpq_index_save(emb.filter(F.col("vec_id") <= mid), one)
    ivfpq_index_advance(emb.filter(F.col("vec_id") > mid), spark, one, 1)
    want = serve(one)

    two = str(tmp_path / "two")
    ivfpq_index_save(emb.filter(F.col("vec_id") <= mid), two)
    ivfpq_index_advance(
        emb.filter((F.col("vec_id") > mid) & (F.col("vec_id") <= hi)), spark, two, 1
    )
    ivfpq_index_advance(emb.filter(F.col("vec_id") > hi), spark, two, 2)
    assert serve(two) == want and want

    # replayed advance: same slice, same rows -> same service
    ivfpq_index_advance(emb.filter(F.col("vec_id") > hi), spark, two, 2)
    assert serve(two) == want

    # damage slice 2 (drop a cell dir), re-advance repairs it whole
    import glob
    import shutil

    cells = glob.glob(two + "/codes_slice_00002/cell=*")
    shutil.rmtree(cells[0])
    ivfpq_index_advance(emb.filter(F.col("vec_id") > hi), spark, two, 2)
    assert serve(two) == want

    # slice dirs are cell-partitioned (the pruning unit)
    assert glob.glob(two + "/codes_slice_00001/cell=*")


def test_bloom_index_never_misses_and_actually_prunes(spark, sf_dir, tmp_path):
    """The shard-Bloom skipping index: (a) NO FALSE NEGATIVES — every
    shard that truly carries a needle's key is a candidate (Bloom's
    one-sided guarantee), (b) pruning is real — absent needles produce
    almost no candidates and the total candidate fraction is far below
    full-scan, and (c) the pruned data scan carries the shard
    PartitionFilters (the ivfpq_index_query discipline)."""
    from flod_spark.catalog.surface import (
        _BLOOM_K,
        _LOOKUP_SHARD_DOCS,
        bloom_lookup,
        build_shard_bloom,
    )
    from flod_spark.io import load
    from tools.plan_report import fingerprint

    docs = load(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.expr(f"doc_id div {_LOOKUP_SHARD_DOCS}").alias("shard"),
        F.md5(F.col("text").cast("binary")).alias("key"),
    )
    ddir, bdir = str(tmp_path / "data"), str(tmp_path / "bloom")
    keyed.write.partitionBy("shard").parquet(ddir)
    build_shard_bloom(keyed.select("shard", "key"), bdir)

    present = keyed.filter(F.col("doc_id") % 31 == 7).select(
        F.col("doc_id").alias("needle_id"), "key"
    )
    absent = spark.range(8).select(
        (F.col("id") + 2_000_000).alias("needle_id"),
        F.md5(F.concat(F.lit("gone|"), F.col("id").cast("string")).cast("binary")).alias("key"),
    )
    needles = present.unionByName(absent)
    out = bloom_lookup(spark, ddir, bdir, needles)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # several scans print a PartitionFilters section (the unpartitioned
    # source table prints an empty one) — the DATA scan's names shard
    assert any(
        "shard" in seg[:200] for seg in plan.split("PartitionFilters")[1:]
    ), plan
    # needle-sized groupBys + broadcast joins around the ONE pruned data
    # scan (scan_bloom_pruned serves a checkpoint scan, so the headline
    # pins no longer see this plan)
    f = fingerprint(plan)
    assert (f["ex"], f["smj"]) == (4, 0), f

    rows = {r.needle_id: r for r in out.collect()}
    # (a) every present needle found itself (no false negatives)
    for r in present.collect():
        assert rows[r.needle_id].doc_id is not None
        assert rows[r.needle_id].n_cand_shards >= 1
    # (b) absent needles: no wrong rows, candidates ~zero
    n_shards = keyed.select("shard").distinct().count()
    for r in absent.collect():
        assert rows[r.needle_id].doc_id is None
        assert rows[r.needle_id].n_cand_shards <= max(1, n_shards // 4)
    # total candidate work far below needles x shards full fan-out
    total_cand = sum(r.n_cand_shards for r in rows.values())
    assert total_cand < 0.3 * len(rows) * n_shards


def test_ivfpq_compaction_preserves_service_bit_for_bit(spark, sf_dir, tmp_path):
    """compact_ivfpq_index folds all slice dirs into the base and the
    served results are IDENTICAL before and after; the slice dirs are
    gone and the base keeps its cell partitioning."""
    import glob

    from flod_spark.catalog.similarity import (
        NQ,
        _emb_v,
        compact_ivfpq_index,
        ivfpq_index_advance,
        ivfpq_index_query,
        ivfpq_index_save,
    )

    emb = _emb_v(spark, sf_dir)
    mm = emb.agg(F.min("vec_id").alias("mn"), F.max("vec_id").alias("mx")).first()
    mid = (mm.mn + mm.mx) // 2
    hi = (mid + mm.mx) // 2
    idx = str(tmp_path / "idx")
    ivfpq_index_save(emb.filter(F.col("vec_id") <= mid), idx)
    ivfpq_index_advance(
        emb.filter((F.col("vec_id") > mid) & (F.col("vec_id") <= hi)), spark, idx, 1
    )
    ivfpq_index_advance(emb.filter(F.col("vec_id") > hi), spark, idx, 2)
    queries = emb.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("query_id"), "v"
    )

    def serve():
        return sorted(
            (r.query_id, r.rk, r.neighbor_id, r.adist)
            for r in ivfpq_index_query(
                spark, idx, queries, include_slices=True
            ).collect()
        )

    before = serve()
    compact_ivfpq_index(spark, idx)
    assert not glob.glob(idx + "/codes_slice_*")
    assert glob.glob(idx + "/codes_by_cell/cell=*")
    assert serve() == before and before
    # compacting a compacted index is a no-op
    compact_ivfpq_index(spark, idx)
    assert serve() == before


def test_minhash_claims_compaction_is_value_neutral(spark, sf_dir, tmp_path):
    """compact_minhash_claims folds slices to slice=0 without changing
    one logical (band, bs, first_id) row, and admission verdicts
    against the compacted table are identical."""
    from flod_spark.catalog.dedup import (
        advance_minhash_claims,
        build_minhash_claims,
        compact_minhash_claims,
        dedup_minhash_against_claims,
    )
    from flod_spark.io import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    mid = docs.agg(F.expr("(MIN(doc_id) + MAX(doc_id)) div 2")).first()[0]
    cdir = str(tmp_path / "mh_claims")
    build_minhash_claims(docs.filter(F.col("doc_id") <= mid), cdir)
    advance_minhash_claims(docs.filter(F.col("doc_id") > mid), spark, cdir, 1)

    def logical():
        return sorted(
            (r.band, r.bs, r.first_id)
            for r in spark.read.parquet(cdir)
            .select("band", "bs", "first_id")
            .collect()
        )

    probe = docs.limit(40)
    before_rows = logical()
    before_verdicts = sorted(
        (r.doc_id, r.admitted)
        for r in dedup_minhash_against_claims(probe, spark, cdir).collect()
    )
    compact_minhash_claims(spark, cdir)
    assert logical() == before_rows and before_rows
    assert {r.slice for r in spark.read.parquet(cdir).collect()} == {0}
    after_verdicts = sorted(
        (r.doc_id, r.admitted)
        for r in dedup_minhash_against_claims(probe, spark, cdir).collect()
    )
    assert after_verdicts == before_verdicts


def test_wds_assembler_is_zero_shuffle_and_equals_batch_pivot(spark, sf_dir, tmp_path):
    """wds_assemble_members (the shard-local zero-shuffle assembler)
    yields exactly the same typed sample rows as scan_wds_samples'
    groupBy pivot over the same shards, and its plan contains NO
    exchange — the dataloader-side claim made executable."""
    from flod_spark.catalog.surface import (
        archive_member_rows,
        pack_wds_shards,
        wds_assemble_members,
    )
    from flod_spark.io import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    adir = str(tmp_path / "wds")
    pack_wds_shards(docs, adir, shard_docs=50).collect()
    raw = spark.read.format("binaryFile").load(adir)

    fast = wds_assemble_members(raw)
    assert "Exchange" not in fast._jdf.queryExecution().executedPlan().toString()

    m = archive_member_rows(raw, keep_content=True).select(
        F.regexp_extract("member", r"^(s_\d+)\.", 1).alias("stem"),
        F.regexp_extract("member", r"\.([a-z]+)$", 1).alias("ext"),
        "content",
    )
    g = m.groupBy("stem").agg(
        F.max(F.when(F.col("ext") == "txt", F.col("content"))).alias("txt"),
        F.max(F.when(F.col("ext") == "json", F.col("content"))).alias("js"),
        F.max(F.when(F.col("ext") == "img", F.col("content"))).alias("img"),
    )
    js = F.col("js").cast("string")
    slow = g.select(
        F.regexp_extract("stem", r"s_(\d+)", 1).cast("long").alias("sample_id"),
        F.col("txt").cast("string").alias("text"),
        F.get_json_object(js, "$.lang").alias("lang"),
        F.get_json_object(js, "$.source").alias("source"),
        F.md5("img").alias("img_md5"),
        F.length("img").cast("long").alias("img_bytes"),
    )
    key = lambda r: (r.sample_id, r.text, r.lang, r.source, r.img_md5, r.img_bytes)  # noqa: E731
    assert sorted(map(key, fast.collect())) == sorted(map(key, slow.collect()))


def test_admit_by_first_carrier_equals_sequential_reference(spark):
    """Property (randomized): admit_by_first_carrier's window/join
    verdict over a slice equals the sequential arrival-order fold it
    claims to implement — seen := claims; scan docs in id order; admit
    iff NO signature is in seen; add ALL the doc's signatures to seen
    regardless of verdict (rejected docs' signatures stay 'seen',
    which is what makes rejection transitive). Random signature sets
    over a small alphabet force chains the fixed-case test can't."""
    import random

    from flod_spark.catalog.dedup import admit_by_first_carrier

    rng = random.Random(0xF10D)
    alphabet = [f"s{i}" for i in range(8)]
    for _ in range(25):
        n = rng.randint(1, 10)
        docs = [
            (i, frozenset(rng.sample(alphabet, rng.randint(1, 3))))
            for i in range(n)
        ]
        k = rng.randint(0, n)
        claim_sigs = set().union(*[s for _, s in docs[:k]]) if k else set()

        seen = set(claim_sigs)
        want = {}
        for did, sigs in docs[k:]:
            want[did] = not (sigs & seen)
            seen |= sigs

        sig_rows = [
            (did, 0, s) for did, sigs in docs[k:] for s in sorted(sigs)
        ]
        sig = spark.createDataFrame(sig_rows, "doc_id long, band int, bs string")
        claims = spark.createDataFrame(
            [(0, s, -1) for s in sorted(claim_sigs)] or [(0, "_none_", -1)],
            "band int, bs string, first_id long",
        )
        if not claim_sigs:
            claims = claims.filter("bs <> '_none_'")
        got = {
            r.doc_id: r.admitted
            for r in admit_by_first_carrier(sig, claims).collect()
        }
        assert got == want, (docs, k, got, want)
