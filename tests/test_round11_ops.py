"""Round-11 operator tests: the ADVICE fixes (pagerank dangling mass,
pca zero-spectrum guard, _drain_sorted empty drain, Bloom key-true
intra-batch dedup) and the round's new surface."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_pagerank_dangling_sink_mass_conserved(spark):
    """The r10 ADVICE medium: on a DIRECTED graph with sink nodes
    (appearing only as dst) rank mass used to leak — sinks got no rank
    row and their inbound mass vanished. Planted star a->z, b->z, c->z
    plus chain z' edges: every node (sources AND the pure sink) must
    get a rank row, total mass must be 1 within quantization, and the
    dangling node's mass must re-enter the system (sources' ranks stay
    ABOVE the no-inbound floor (1-d)/n because the sink redistributes
    to everyone)."""
    from flod_spark.catalog.analytics import _PR_D, pagerank_converged

    edges = spark.createDataFrame(
        [("a", "z"), ("b", "z"), ("c", "z"), ("a", "b")],
        "src string, dst string",
    )
    ranks, deltas = pagerank_converged(edges, tol=1e-12, max_rounds=80)
    got = {r.node: r.r for r in ranks.collect()}
    # sink z has no outgoing edge but MUST have a rank row
    assert set(got) == {"a", "b", "c", "z"}
    # mass conservation (the docstring certificate, now true on a
    # directed graph): sum of ranks == 1 within fixed-point epsilon
    assert abs(sum(got.values()) - 1.0) <= 1e-9, got
    # z absorbs three inbound edges -> highest rank; its mass comes
    # back uniformly, so even 'c' (no inbound) sits ABOVE the
    # no-redistribution floor (1-d)/n
    n = 4
    assert got["z"] == max(got.values())
    assert got["c"] > (1.0 - _PR_D) / n + 1e-6
    # converged, not capped
    assert deltas[-1] <= 1e-12 and len(deltas) < 80


def test_pca_power_converged_zero_spectrum_guard(spark):
    """The r10 ADVICE low: an all-zero embedding table yields lam == 0
    on round 1 — the loop must return (current iterate, [0.0]) instead
    of raising ZeroDivisionError."""
    from flod_spark.catalog.similarity import pca_power_converged

    e = spark.createDataFrame(
        [([0.0] * 4,), ([0.0] * 4,)], "x array<double>"
    )
    v, lams = pca_power_converged(e, tol=1e-9, max_rounds=5)
    assert lams == [0.0]
    assert len(v) == 4  # the un-normalized current iterate survives


def test_drain_sorted_empty_chunks():
    """The r10 ADVICE low: _drain_sorted on a zero-chunk invocation
    (EventTimeTimeout timeout-only call) must return empty arrays, not
    raise from pd.concat([])."""
    from flod_spark.streaming.packfold import _drain_sorted

    arrs = _drain_sorted(iter([]), ("us", "event_id", "v"), keys=("us", "event_id"))
    assert set(arrs) == {"us", "event_id", "v"}
    assert all(len(a) == 0 for a in arrs.values())


def test_bloom_hash_pair_collision_admits_both():
    """The r10 ADVICE low: two DISTINCT keys colliding on both 64-bit
    hashes within one batch must BOTH admit (contract clause (a) —
    suppression requires the same key); the later-arriving one is then
    suppressed from the NEXT batch on via its (shared) bits."""
    from tests.test_round10_ops import _bloom_fold

    # same (h1, h2) pair, different keys, same batch
    rows1 = [(0, 123456789, 987654321, "keyA"), (1, 123456789, 987654321, "keyB")]
    # next batch: both keys again -> both suppressed by prior bits
    rows2 = [(2, 123456789, 987654321, "keyA"), (3, 123456789, 987654321, "keyB")]
    admitted, _st = _bloom_fold([rows1, rows2])
    assert admitted == [0, 1]


def test_take_drain_chunking_invariant_fuzz():
    """streaming/take.py's fold after the _drain_sorted migration
    (round 11 — the last pandas sort in a state function is gone):
    for ANY chunking of a micro-batch the emitted rows are bitwise
    the earliest n-taken by time, and the counter advances exactly.
    The old per-chunk sort_values().head() violated this whenever
    Arrow split a key's batch with interleaved times."""
    from flod_spark.streaming.take import _take_drain

    rng = np.random.default_rng(110)
    cols = ("event_id", "ts", "v")
    for trial in range(40):
        m = int(rng.integers(1, 60))
        ids = rng.permutation(m).astype("int64")
        ts = rng.integers(0, 10_000, size=m).astype("int64") * 1000 + ids  # unique
        v = rng.normal(size=m)
        pdf = pd.DataFrame({"event_id": ids, "ts": ts, "v": v})
        # random chunking
        n_cuts = int(rng.integers(0, min(5, m)))
        cuts = sorted(rng.choice(np.arange(1, m), size=n_cuts, replace=False).tolist()) if n_cuts else []
        chunks = [pdf.iloc[a:b].reset_index(drop=True) for a, b in zip([0] + cuts, cuts + [m])]
        taken0 = int(rng.integers(0, 8))
        n = int(rng.integers(1, 12))
        out, taken1 = _take_drain(iter(chunks), taken0, n, cols, "ts")
        want = pdf.sort_values("ts").head(max(0, n - taken0))
        if len(want) == 0 or taken0 >= n:
            assert out is None and taken1 == taken0
        else:
            assert taken1 == taken0 + len(want)
            got = list(zip(out["event_id"], out["ts"], out["v"]))
            exp = list(zip(want["event_id"], want["ts"], want["v"]))
            assert got == exp, (trial, got, exp)


def _duck_with_documents(sf_dir):
    import duckdb

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    return con


def test_minhash_bounded_state_is_horizon_bounded():
    """The r10 verdict item-3 discipline for the new fuzzy-dedup twin:
    driver-side TTL fold over the REAL signature table — after every
    trigger the surviving state is exactly the band signatures active
    within _MH_TTL_DOCS of the trigger's max doc, a fraction of the
    distinct-signature space the unbounded twin carries; claims equal
    the oracle's LAG contract."""
    import os

    from flod_spark.catalog.dedup import _minhash_ctes
    from flod_spark.catalog.streaming_live import _MH_TTL_DOCS
    from tests.test_round10_ops import _fold_batches

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")
    con = _duck_with_documents(sf_dir)
    ctes, _ = _minhash_ctes()
    sig = con.sql(
        f"WITH {ctes} SELECT CAST(band AS VARCHAR) || '|' || bs AS k, doc_id "
        "FROM sig ORDER BY doc_id, k"
    ).df()
    rows = list(zip(sig["k"], sig["doc_id"].astype(int)))
    n_distinct = sig["k"].nunique()
    docs = sorted(sig["doc_id"].unique())
    quart = max(1, len(docs) // 4)
    batches = [
        [(k, d) for k, d in rows if lo <= d < hi]
        for lo, hi in zip(
            [-1, docs[quart], docs[2 * quart], docs[3 * quart]],
            [docs[quart], docs[2 * quart], docs[3 * quart], 10**18],
        )
    ]
    claims, snaps = _fold_batches(batches, _MH_TTL_DOCS)
    for state, mx in snaps:
        assert all(mx - t <= _MH_TTL_DOCS for t in state.values())
    peak = max(len(state) for state, _ in snaps)
    assert peak < 0.5 * n_distinct  # ~horizon/corpus fraction of sigs
    n_ref = con.sql(
        f"WITH {ctes}, p AS (SELECT doc_id, "
        "    lag(doc_id) OVER (PARTITION BY band, bs ORDER BY doc_id) AS prev FROM sig) "
        f"SELECT COUNT(*) FROM p WHERE prev IS NULL OR doc_id - prev > {_MH_TTL_DOCS}"
    ).fetchone()[0]
    assert len(claims) == n_ref


def test_substring_bounded_state_is_horizon_bounded():
    """Same assertion for the anchor-hash TTL state (int64 keys): the
    fold is dtype-agnostic, surviving entries are within one horizon,
    and claims equal the (doc_id, p)-ordered LAG contract."""
    import os

    from flod_spark.catalog.streaming_live import _SS_TTL_DOCS
    from flod_spark.catalog.text import winnow_arows_cte
    from tests.test_round10_ops import _fold_batches

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")
    con = _duck_with_documents(sf_dir)
    w = winnow_arows_cte()
    ar = con.sql(
        f"WITH {w} SELECT hv, doc_id, p FROM arows ORDER BY doc_id, p"
    ).df()
    # the fold keys on the hash with doc_id time; within-doc repeats
    # (gap 0) suppress — feed (hv, doc_id) pairs in (doc_id, p) order
    rows = list(zip(ar["hv"].astype(int), ar["doc_id"].astype(int)))
    n_distinct = ar["hv"].nunique()
    docs = sorted(ar["doc_id"].unique())
    quart = max(1, len(docs) // 4)
    batches = [
        [(k, d) for k, d in rows if lo <= d < hi]
        for lo, hi in zip(
            [-1, docs[quart], docs[2 * quart], docs[3 * quart]],
            [docs[quart], docs[2 * quart], docs[3 * quart], 10**18],
        )
    ]
    claims, snaps = _fold_batches(batches, _SS_TTL_DOCS)
    for state, mx in snaps:
        assert all(mx - t <= _SS_TTL_DOCS for t in state.values())
    peak = max(len(state) for state, _ in snaps)
    assert peak < 0.5 * n_distinct
    n_ref = con.sql(
        f"WITH {w}, r AS (SELECT doc_id, "
        "    lag(doc_id) OVER (PARTITION BY hv ORDER BY doc_id, p) AS prev FROM arows) "
        f"SELECT COUNT(*) FROM r WHERE prev IS NULL OR doc_id - prev > {_SS_TTL_DOCS}"
    ).fetchone()[0]
    assert len(claims) == n_ref


def test_substring_bounded_under_rocksdb_state_store(spark, sf_dir):
    """Provider invariance for the round-11 int64-key TTL state shape
    (array<long> keys — the r10 RocksDB pin covered only string-key
    states): swapping to RocksDBStateStoreProvider changes nothing."""
    import __spark_entry__ as entry

    key = "spark.sql.streaming.stateStore.providerClass"
    provider = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    fn = entry.queries()["stream_dedup_substring_bounded"]
    default = {tuple(r) for r in fn(spark, sf_dir).collect()}
    spark.conf.set(key, provider)
    try:
        rocks = {tuple(r) for r in fn(spark, sf_dir).collect()}
    finally:
        spark.conf.unset(key)
    assert rocks == default and rocks


def test_converged_qkeys_exit_early_at_gate_scale(spark, sf_dir):
    """The four registered to-convergence twins (r10 verdict item 5)
    must exit via their convergence test at gate scale, not the round
    cap — otherwise the driver row would only ever exercise the
    unrolled prefix, and the loop machinery would stay pytest-only."""
    import __spark_entry__ as entry

    from flod_spark.catalog.analytics import _KCC_MAX, _PRC_MAX
    from flod_spark.catalog.similarity import _KMF_MAX, _PCAC_MAX

    caps = {
        "pagerank_converged": _PRC_MAX,
        "kcore_converged": _KCC_MAX,
        "pca_power_converged": _PCAC_MAX,
        "kmeans_fit": _KMF_MAX,
    }
    for qk, cap in caps.items():
        rounds = {r["rounds"] for r in entry.queries()[qk](spark, sf_dir).collect()}
        assert len(rounds) == 1, qk  # the loop count is one scalar
        (r,) = rounds
        assert 1 <= r < cap, (qk, r, cap)


def test_pagerank_mass_conserved_on_random_digraphs(spark):
    """Property form of the dangling fix: on ANY directed graph —
    sinks, sources, self-contained cycles, isolated dangling clusters —
    every src-or-dst node gets a rank row and total mass stays 1
    within fixed-point quantization after every round (tol=-1 forces
    exactly max_rounds loop iterations, so this checks the per-round
    invariant, not just a converged state)."""
    from flod_spark.catalog.analytics import pagerank_converged

    rng = np.random.default_rng(1100)
    for trial in range(4):
        n = int(rng.integers(4, 14))
        m = int(rng.integers(n, 3 * n))
        edges = {
            (f"v{int(a)}", f"v{int(b)}")
            for a, b in zip(rng.integers(0, n, m), rng.integers(0, n, m))
            if a != b
        }
        df = spark.createDataFrame(sorted(edges), "src string, dst string")
        ranks, deltas = pagerank_converged(df, tol=-1.0, max_rounds=3)
        got = {r.node: r.r for r in ranks.collect()}
        want_nodes = {a for a, _ in edges} | {b for _, b in edges}
        assert set(got) == want_nodes, trial
        assert abs(sum(got.values()) - 1.0) <= 1e-9, (trial, sum(got.values()))
        assert len(deltas) == 3


def test_int64_ttl_state_checkpoint_recovery(spark, sf_dir, tmp_path):
    """Recovery for the round-11 int64-key TTL state (array<long> keys —
    the r10 recovery test covers only string-key state):
    stream_dedup_substring_bounded's anchor-claim operator stopped
    after two replay files and restarted from its checkpoint must claim
    exactly the uninterrupted run's (doc_id, p) set, which is the
    (doc_id, p)-ordered LAG contract. The anchor rows replay directly
    (the claim state is agnostic to whether the winnow kernel ran
    upstream — it sees (h, doc_id, p))."""
    import glob
    import os
    import shutil as sh

    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.window import Window

    from flod_spark.catalog.streaming_live import (
        _SS_TTL_DOCS,
        _doc_arrival,
        _shard,
        _ss_ttl_fn,
    )
    from flod_spark.catalog.text import winnow_anchor_rows
    from flod_spark.io import load
    from flod_spark.streaming import replay_stream

    anchors = _doc_arrival(
        winnow_anchor_rows(load(spark, sf_dir, "documents"))
    ).localCheckpoint()
    src_dir = str(tmp_path / "src_ss")
    replay_stream(spark, anchors, "ingest_ts", src_dir, n_batches=4, tiebreak=("doc_id", "p"))
    files = sorted(glob.glob(os.path.join(src_dir, "*.parquet")), key=os.path.getmtime)
    assert len(files) == 4

    def run(tag, file_subsets):
        live = str(tmp_path / f"live_{tag}")
        ckpt = str(tmp_path / f"ck_{tag}")
        outdir = str(tmp_path / f"out_{tag}")
        os.makedirs(live, exist_ok=True)
        order = {f: i for i, f in enumerate(files)}
        for subset in file_subsets:
            for f in subset:
                dst = os.path.join(live, os.path.basename(f))
                sh.copy(f, dst)
                os.utime(dst, (1_700_000_000 + order[f],) * 2)
            stream = (
                spark.readStream.schema(anchors.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(live)
            )
            src = stream.select(_shard("h"), "h", "doc_id", "p")
            out = src.groupBy("shard").applyInPandasWithState(
                _ss_ttl_fn,
                outputStructType=_ss_ttl_fn.output_ddl,
                stateStructType=_ss_ttl_fn.state_ddl,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
            q = (
                out.writeStream.foreachBatch(
                    lambda df, bid: df.write.mode("append").parquet(outdir)
                )
                .option("checkpointLocation", ckpt)
                .outputMode("update")
                .start()
            )
            q.processAllAvailable()
            q.stop()
        return {(r.doc_id, r.p) for r in spark.read.parquet(outdir).collect()}

    interrupted = run("split", [files[:2], files[2:]])
    single = run("once", [files])
    w = Window.partitionBy("h").orderBy("doc_id", "p")
    truth = {
        (r.doc_id, r.p)
        for r in anchors.withColumn("prev", F.lag("doc_id").over(w))
        .filter(
            F.col("prev").isNull()
            | (F.col("doc_id") - F.col("prev") > _SS_TTL_DOCS)
        )
        .collect()
    }
    assert single == truth
    assert interrupted == truth


def test_pack_tar_shards_roundtrip_and_determinism(spark, sf_dir, tmp_path):
    """The distributed tar-shard writer (WebDataset layout, queued for
    r12 registration as sink_tar_shards): (a) manifest counts add up,
    (b) reading the shards back through the shared member split
    recovers every document byte-exactly (md5 per member == md5 of
    the source text), (c) two packs of the same table are
    BYTE-IDENTICAL shard files (zeroed mtimes + sorted members — the
    content-addressing property)."""
    import hashlib
    import os

    from flod_spark.catalog.surface import archive_member_rows, pack_tar_shards
    from flod_spark.io import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    d1 = str(tmp_path / "shards1")
    man = pack_tar_shards(docs, d1, shard_docs=50).collect()
    n_docs = docs.count()
    assert sum(r.n_members for r in man) == n_docs
    assert all(os.path.getsize(r.path) == r.n_bytes for r in man)
    # round-trip through the scan half
    raw = spark.read.format("binaryFile").load(d1)
    got = {
        r.member: (r.n_bytes, r.content_md5)
        for r in archive_member_rows(raw).collect()
    }
    assert len(got) == n_docs
    for row in docs.collect():
        b = row.text.encode("utf-8")
        key = f"doc_{row.doc_id:06d}.txt"
        assert got[key] == (len(b), hashlib.md5(b).hexdigest()), key
    # determinism: a second pack is byte-identical per shard
    d2 = str(tmp_path / "shards2")
    pack_tar_shards(docs, d2, shard_docs=50).collect()
    for r in man:
        other = os.path.join(d2, os.path.basename(r.path))
        assert open(r.path, "rb").read() == open(other, "rb").read()


def test_stream_archive_members_matches_batch_scan(spark, sf_dir, tmp_path):
    """The STREAMING archive member scan (queued for r12 registration
    as stream_archive_live): binaryFile streams with an explicit
    schema, one archive per trigger; the drained member rows equal the
    batch scan of the same directory row-for-row (the split is
    stateless, so arrival order cannot matter)."""
    import uuid

    from flod_spark.catalog.surface import (
        archive_member_rows,
        pack_tar_shards,
        stream_archive_members,
    )
    from flod_spark.io import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    adir = str(tmp_path / "arch_stream")
    pack_tar_shards(docs, adir, shard_docs=50).collect()
    live = stream_archive_members(spark, adir)
    assert live.isStreaming
    name = "arch_" + uuid.uuid4().hex[:8]
    q = (
        live.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    streamed = {tuple(r) for r in spark.table(name).collect()}
    batch = {
        tuple(r)
        for r in archive_member_rows(
            spark.read.format("binaryFile").load(adir)
        ).collect()
    }
    assert streamed == batch and streamed


def test_pq_index_persisted_query_bit_identical(spark, sf_dir, tmp_path):
    """The persisted-index serving path (queued for r12 registration as
    sim_pq_adc_persisted): save the PQ artifact (codebook + codes) to
    parquet, answer the registered sim_pq_adc query set from the LOADED
    artifact, and the top-K is bit-identical — doubles and ids
    round-trip parquet losslessly and the ADC sum adds in the same
    fixed subspace order."""
    import __spark_entry__ as entry

    from flod_spark.catalog.similarity import (
        NQ,
        _as_double,
        pq_index_adc_query,
        pq_index_save,
    )
    from flod_spark.io import load

    emb = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", _as_double("embedding").alias("v"))
    )
    idx = str(tmp_path / "pq_index")
    pq_index_save(emb, idx)
    queries = emb.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("query_id"), "v"
    )
    got = {tuple(r) for r in pq_index_adc_query(spark, idx, queries).collect()}
    want = {
        tuple(r) for r in entry.queries()["sim_pq_adc"](spark, sf_dir).collect()
    }
    assert got == want and got


def test_dedup_incremental_matches_one_shot(spark, sf_dir, tmp_path):
    """The incremental batch-dedup pair (queued for r12 registration as
    dedup_incremental): claims built from the first half of the corpus,
    the second half deduped against them — the admitted set must equal
    the ONE-SHOT dedup_exact job's second-half survivors (fp first
    arrivals over the union restricted to slice 2), and advancing the
    table with the admitted rows then admits nothing on a replay of
    the same slice (idempotence)."""
    from pyspark.sql.window import Window

    from flod_spark.catalog.dedup import (
        _norm_col,
        advance_claim_table,
        build_claim_table,
        dedup_against_claims,
    )
    from flod_spark.io import load

    docs = load(spark, sf_dir, "documents")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    half1 = docs.filter(F.col("doc_id") <= mid)
    half2 = docs.filter(F.col("doc_id") > mid)
    cdir = str(tmp_path / "claims")
    build_claim_table(half1, cdir)
    got = dedup_against_claims(half2, spark, cdir)
    admitted = {r.doc_id for r in got.filter("admitted").collect()}
    # one-shot reference over the union
    h = docs.select("doc_id", F.md5(_norm_col().cast("binary")).alias("fp"))
    w = Window.partitionBy("fp")
    ref = {
        r.doc_id
        for r in h.select(
            "doc_id", (F.col("doc_id") == F.min("doc_id").over(w)).alias("first")
        )
        .filter(F.col("first") & (F.col("doc_id") > mid))
        .collect()
    }
    assert admitted == ref and admitted
    # advance the table and replay the slice: nothing re-admits
    advance_claim_table(got, cdir, slice_id=1)
    replay = dedup_against_claims(half2, spark, cdir)
    assert replay.filter("admitted").count() == 0


def test_ivfpq_persisted_bit_identical_and_partition_pruned(spark, sf_dir, tmp_path):
    """The persisted IVF-PQ serving path (queued for r12 registration
    as sim_ivfpq_persisted): (a) answers from the loaded artifact are
    bit-identical to the registered in-plan sim_ivfpq; (b) the codes
    scan STATICALLY PRUNES to the probed cell partitions — the
    physical plan's PartitionFilters names the cell predicate, which
    is the on-disk form of 'scan prunes to the probe fraction'."""
    import __spark_entry__ as entry

    from flod_spark.catalog.similarity import (
        NQ,
        _as_double,
        ivfpq_index_query,
        ivfpq_index_save,
    )
    from flod_spark.io import load

    emb = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", _as_double("embedding").alias("v"))
    )
    idx = str(tmp_path / "ivfpq")
    ivfpq_index_save(emb, idx)
    queries = emb.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("query_id"), "v"
    )
    res = ivfpq_index_query(spark, idx, queries)
    got = {tuple(r) for r in res.collect()}
    want = {
        tuple(r) for r in entry.queries()["sim_ivfpq"](spark, sf_dir).collect()
    }
    assert got == want and got
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "cell" in plan.split("PartitionFilters")[1][:200]


def test_sim_mrl_rerank_matches_numpy_reference(spark, sf_dir):
    """The Matryoshka two-stage retrieval (queued for r12 registration):
    exact equality to an independent numpy reference of the same
    contract (prefix-cosine top-C with id tiebreak, full-cosine rerank
    top-K with id tiebreak), plus a recall floor vs exact full-dim
    top-K — the quality the energy audit (embed_truncate_energy)
    predicts the 16-dim prefix can buy."""
    from flod_spark.catalog.similarity import (
        _MRL_CAND,
        _MRL_PREFIX,
        K,
        NQ,
        sim_mrl_rerank,
    )
    from flod_spark.io import load

    got = {}
    for r in sim_mrl_rerank(spark, sf_dir).collect():
        got.setdefault(r.query_id, []).append((r.rk, r.neighbor_id, r.cosine))
    emb = {
        r.vec_id: np.array(r.embedding, dtype="float64")
        for r in load(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .collect()
    }
    ids = sorted(emb)

    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    full_hits = 0
    for qid in range(NQ):
        qv = emb[qid]
        pref = sorted(
            ((-cos(qv[:_MRL_PREFIX], emb[i][:_MRL_PREFIX]), i) for i in ids if i != qid)
        )[:_MRL_CAND]
        rer = sorted(((-cos(qv, emb[i]), i) for _, i in pref))[:K]
        want = [(rk + 1, i) for rk, (_, i) in enumerate(rer)]
        have = [(rk, n) for rk, n, _ in sorted(got[qid])]
        assert have == want, (qid, have, want)
        exact = {i for _, i in sorted(((-cos(qv, emb[i]), i) for i in ids if i != qid))[:K]}
        full_hits += len(exact & {n for _, n in want})
    # recall floor vs exact full-dim top-K. The synthetic gate corpus
    # is nearly isotropic (lambda2/lambda1 ~ 0.93 — the PCA probe), so
    # a 16-of-64-dim prefix keeps only ~1/4 of the energy and recall
    # is structurally modest — same reason the PQ family pins 0.25
    # (tests/test_similarity.py); measured 0.38 here.
    assert full_hits / (NQ * K) >= 0.3, full_hits
