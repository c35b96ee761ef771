"""Round-10 operator tests — the bounded claim-state family
(_ttl_claim_fold + stream_ngram_novelty_bounded / stream_dedup_bounded):

- the TTL fold vs a per-event dict reference WITHOUT eviction
  (hypothesis): identical claims on arbitrary streams — the
  eviction-losslessness property, plus exact state equality vs the
  evicted reference;
- the state bound asserted on the REAL gram/event tables (sf0.01 and
  sf0.1 via duckdb, driver-side fold — no Spark session): after every
  trigger the surviving state is exactly the keys active within one
  horizon, a small fraction of the distinct-key space the unbounded
  forms carry;
- planted re-admission semantics: within-horizon duplicate suppressed,
  beyond-horizon occurrence claims again.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


def _fold_batches(batches, ttl):
    """Drive _ttl_claim_fold over pre-split batches of (k, t) rows;
    returns (claims as a set of (k, t), per-trigger state snapshots)."""
    from flod_spark.catalog.streaming_live import _TTL_NONE, _ttl_claim_fold

    ks = np.empty(0, dtype="object")
    ls = np.empty(0, dtype="int64")
    mx = _TTL_NONE
    claims, snaps = [], []
    for batch in batches:
        bk = np.asarray([k for k, _ in batch], dtype="object")
        bt = np.asarray([t for _, t in batch], dtype="int64")
        o = np.lexsort((bt, bk))
        bk, bt = bk.take(o), bt.take(o)
        mask, ks, ls, mx = _ttl_claim_fold(ks, ls, mx, bk, bt, ttl)
        claims.extend(zip(bk[mask].tolist(), bt[mask].tolist()))
        snaps.append((dict(zip(ks.tolist(), ls.tolist())), mx))
    return claims, snaps


def _ttl_reference(batches, ttl):
    """Per-event dict fold WITHOUT eviction (the unbounded semantics the
    TTL fold must reproduce claim-for-claim) + the evicted state."""
    last: dict = {}
    claims = []
    mx = None
    for batch in batches:
        for k, t in sorted(batch, key=lambda e: (e[0], e[1])):
            if k not in last or t - last[k] > ttl:
                claims.append((k, t))
            last[k] = t
            mx = t if mx is None else max(mx, t)
    evicted = {k: t for k, t in last.items() if mx is not None and mx - t <= ttl}
    return claims, evicted, mx


@settings(max_examples=200, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.sampled_from("abcde"), st.integers(0, 120)),
        min_size=0,
        max_size=50,
    ),
    n_batches=st.integers(1, 5),
    ttl=st.integers(1, 30),
    seed=st.integers(0, 2**31 - 1),
)
def test_ttl_fold_matches_unbounded_reference(rows, n_batches, ttl, seed):
    """Claims from the EVICTING fold == claims from the NEVER-evicting
    per-event reference, for any stream, horizon, and batch split in
    global time order (the replay contract) — the losslessness theorem
    stream_ngram_novelty_bounded/stream_dedup_bounded rest on. Final
    state equals the reference's survivors within one horizon."""
    rng = np.random.default_rng(seed)
    rows = sorted(rows, key=lambda e: e[1])
    cuts = sorted(rng.integers(0, len(rows) + 1, size=n_batches - 1).tolist())
    batches = [rows[a:b] for a, b in zip([0, *cuts], [*cuts, len(rows)])]
    got_claims, snaps = _fold_batches(batches, ttl)
    ref_claims, ref_state, _mx = _ttl_reference(batches, ttl)
    assert sorted(got_claims) == sorted(ref_claims)
    if rows:
        assert snaps[-1][0] == ref_state


def test_ttl_fold_plants_readmission():
    """Within-horizon duplicate suppressed; beyond-horizon occurrence
    claims again; refresh semantics (a mid-horizon duplicate extends
    the suppression window from ITS time, not the first claim's)."""
    batches = [
        [("x", 0), ("y", 0)],
        [("x", 5)],          # gap 5 <= ttl=10: suppressed, refreshes
        [("x", 14)],         # gap 9 from t=5 (refresh!): suppressed
        [("x", 30), ("y", 30)],  # gaps 16 and 30 > 10: both claim
    ]
    claims, snaps = _fold_batches(batches, 10)
    assert sorted(claims) == [("x", 0), ("x", 30), ("y", 0), ("y", 30)]
    # y idle through t=14 trigger: evicted there (14 - 0 > 10)
    assert "y" not in snaps[2][0]


def _doc_grams(sf_dir: str) -> pd.DataFrame:
    return duckdb.sql(
        "WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS a "
        f"  FROM '{sf_dir}/documents.parquet') "
        "SELECT DISTINCT doc_id, md5(a[i] || ' ' || a[i+1] || ' ' || a[i+2]) AS h "
        "FROM (SELECT doc_id, a, unnest(range(1, len(a) - 1)) AS i FROM toks) "
        "WHERE len(a) >= 3 ORDER BY doc_id, h"
    ).df()


@pytest.mark.parametrize("sf_dir", [SF_DIR, "/root/testdata/sf0.1"])
def test_novelty_bounded_state_is_horizon_bounded(sf_dir):
    """The r9 verdict's ask verbatim: state bound ASSERTED on the real
    corpus — after every trigger, surviving entries are exactly the
    grams last seen within _NOV_TTL_DOCS of the trigger's max doc, and
    the peak is a small fraction of the distinct-gram space the
    unbounded stream_ngram_novelty_live carries."""
    from flod_spark.catalog.streaming_live import _NOV_TTL_DOCS

    g = _doc_grams(sf_dir)
    n_distinct = g["h"].nunique()
    docs = sorted(g["doc_id"].unique())
    quart = max(1, len(docs) // 4)
    rows = list(zip(g["h"], g["doc_id"]))
    batches = [
        [(h, int(d)) for h, d in rows if lo <= d < hi]
        for lo, hi in zip(
            [-1, docs[quart], docs[2 * quart], docs[3 * quart]],
            [docs[quart], docs[2 * quart], docs[3 * quart], 10**18],
        )
    ]
    claims, snaps = _fold_batches(batches, _NOV_TTL_DOCS)
    peak = 0
    for state, mx in snaps:
        assert all(mx - t <= _NOV_TTL_DOCS for t in state.values())
        peak = max(peak, len(state))
    # the bound with slack: grams in (horizon+1) docs, never the corpus
    per_doc = len(g) / len(docs)
    assert peak <= (_NOV_TTL_DOCS + 1) * per_doc * 3
    assert peak < 0.2 * n_distinct
    # and the claims equal the oracle's lag contract
    con = duckdb.connect()
    con.register("gdf", g)
    n_ref = con.sql(
        "WITH p AS (SELECT doc_id, h, lag(doc_id) OVER (PARTITION BY h ORDER BY doc_id) AS prev FROM gdf) "
        f"SELECT COUNT(*) FROM p WHERE prev IS NULL OR doc_id - prev > {_NOV_TTL_DOCS}"
    ).fetchone()[0]
    assert len(claims) == n_ref


def test_dedup_bounded_state_is_horizon_bounded():
    """Same assertion for the event-key TTL dedup at sf0.01: surviving
    state after each trigger is the keys active within 2 h of the
    trigger's max event time — a fraction of the distinct key space."""
    from flod_spark.catalog.streaming_live import _DEDUP_TTL_US

    ev = duckdb.sql(
        f"SELECT user_id, event_type, epoch_us(ts) AS us FROM '{SF_DIR}/events.parquet' "
        "ORDER BY us"
    ).df()
    keys = (ev["user_id"].astype(str) + "|" + ev["event_type"]).tolist()
    us = ev["us"].tolist()
    n_distinct = len(set(keys))
    rows = list(zip(keys, us))
    quart = len(rows) // 4
    batches = [rows[i * quart : (i + 1) * quart] for i in range(3)] + [rows[3 * quart :]]
    claims, snaps = _fold_batches(batches, _DEDUP_TTL_US)
    for state, mx in snaps:
        assert all(mx - t <= _DEDUP_TTL_US for t in state.values())
    peak = max(len(state) for state, _ in snaps)
    assert peak < 0.25 * n_distinct
    con = duckdb.connect()
    n_ref = con.sql(
        f"WITH p AS (SELECT ts, lag(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev "
        f"  FROM '{SF_DIR}/events.parquet') "
        "SELECT COUNT(*) FROM p WHERE prev IS NULL OR prev < ts - INTERVAL 2 HOURS"
    ).fetchone()[0]
    assert len(claims) == n_ref


def test_pca_power_converged_on_planted_anisotropy(spark):
    """pca_power_converged on a PLANTED anisotropic table (dominant
    direction u, spectral gap ~8x): lambda grows monotonically
    (PSD power-iteration certificate), the loop stops well before the
    round cap, the final lambda matches numpy's top eigenvalue of
    X^T X, the iterate aligns with the planted direction, and the
    fixpoint property holds: one more exact matvec returns ~lambda*v."""
    import math

    from flod_spark.catalog.similarity import _pca_matvec, pca_power_converged

    rng = np.random.default_rng(7)
    dim, n = 8, 200
    u = np.zeros(dim)
    u[2] = 0.8
    u[5] = 0.6
    x = rng.normal(0, 0.15, size=(n, dim)) + np.outer(rng.normal(0, 1.0, n), u)
    e = spark.createDataFrame(
        [(row.tolist(),) for row in x], "x array<double>"
    )
    v, lams = pca_power_converged(e, tol=1e-10, max_rounds=40)
    assert len(lams) < 40, "round cap hit on a strongly anisotropic table"
    assert all(b >= a - 1e-7 for a, b in zip(lams, lams[1:])), "lambda not monotone"
    # independent reference: dense eigendecomposition of X^T X
    evals, evecs = np.linalg.eigh(x.T @ x)
    lam_ref, v_ref = evals[-1], evecs[:, -1]
    assert abs(lams[-1] - lam_ref) <= 1e-6 * lam_ref
    assert abs(abs(np.dot(v, v_ref)) - 1.0) <= 1e-6
    # fixpoint: A v == lam v to quantization noise
    wd = _pca_matvec(e, v)
    resid = max(abs(w - lams[-1] * c) for w, c in zip(wd, v))
    assert resid <= 1e-5 * lams[-1]
    # and the convergence criterion actually fired (last two lams equal
    # to the tolerance, not just cap exhaustion)
    assert abs(lams[-1] - lams[-2]) <= 1e-10 * max(abs(lams[-1]), 1.0)
    assert math.isfinite(lams[-1])


def test_ttl_ops_under_rocksdb_state_store(spark, sf_dir):
    """The round-10 TTL claim-state ops under the production state
    backend: swapping to RocksDBStateStoreProvider changes neither
    bounded op's output (the stream_bollinger_live pin, extended to
    this round's richest custom state — sorted string-key arrays +
    last-seen longs + a max-time scalar per shard)."""
    import __spark_entry__ as entry

    key = "spark.sql.streaming.stateStore.providerClass"
    provider = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    for qk in ("stream_ngram_novelty_bounded", "stream_dedup_bounded"):
        fn = entry.queries()[qk]
        default = {tuple(r) for r in fn(spark, sf_dir).collect()}
        spark.conf.set(key, provider)
        try:
            rocks = {tuple(r) for r in fn(spark, sf_dir).collect()}
        finally:
            spark.conf.unset(key)
        assert rocks == default and rocks, qk


# ------------------------------------------------------- Bloom admission


class _FkSt:
    exists = False
    _v = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True


def _bloom_fold(batches):
    """Drive _bloom_shard_fn over batches of (rid, h1, h2[, key]) rows
    (key defaults to the hash pair — rows that omit it model distinct
    keys with distinct hashes)."""
    from flod_spark.streaming.bloom import _bloom_shard_fn

    st = _FkSt()
    admitted = []
    for batch in batches:
        pdf = pd.DataFrame(
            {
                "rid": pd.Series([r[0] for r in batch], dtype="int64"),
                "h1": pd.Series([r[1] for r in batch], dtype="int64"),
                "h2": pd.Series([r[2] for r in batch], dtype="int64"),
                "k": pd.Series(
                    [str(r[3]) if len(r) > 3 else f"{r[1]}|{r[2]}" for r in batch]
                ),
            }
        )
        out = list(_bloom_shard_fn((0,), iter([pdf]), st))[0]
        admitted.extend(out["rid"].tolist())
    return admitted, st


def test_bloom_admission_exact_suppression_and_constant_state():
    """The Bloom fold's two-sided contract on a planted stream: every
    duplicate arrival is suppressed (EXACT — zero double admissions),
    admissions are a subset of first arrivals, and state is a CONSTANT
    m/64 longs regardless of stream length."""
    import flod_spark.streaming.bloom as B

    rng = np.random.default_rng(11)
    n_keys, n_rows = 400, 3000
    keys = rng.integers(0, n_keys, size=n_rows)
    h1 = np.int64(-7_777_777_777) * (keys.astype("int64") + 3)
    h2 = np.int64(1_234_567_891) * (keys.astype("int64") + 7) + 1
    rows = [(i, int(h1[i]), int(h2[i]), int(keys[i])) for i in range(n_rows)]
    batches = [rows[i : i + 500] for i in range(0, n_rows, 500)]
    admitted, st = _bloom_fold(batches)
    # constant state
    assert len(st.get[0]) == B.BLOOM_M // 64
    # exact duplicate suppression: at most one admission per key
    adm_keys = [int(keys[r]) for r in admitted]
    assert len(adm_keys) == len(set(adm_keys)), "a key admitted twice"
    # admissions are first arrivals only
    firsts = {}
    for i, k in enumerate(keys.tolist()):
        firsts.setdefault(k, i)
    assert set(admitted) <= set(firsts.values())
    # false-suppression rate within 3x the classic Bloom bound
    n, m, k = len(set(keys.tolist())), B.BLOOM_M, B.BLOOM_K
    bound = (1.0 - np.exp(-k * n / m)) ** k
    missed = len(firsts) - len(admitted)
    assert missed <= max(3, 3 * bound * len(firsts)), (missed, bound)


def test_bloom_small_m_false_suppression_bounded():
    """Force collisions with a tiny bitmap: admissions + false
    suppressions must still partition the first-arrival set (no other
    outcome exists), duplicates stay exactly suppressed, and the
    measured false-suppression count stays within 4x the analytic
    rate at this saturation (a loose envelope: the inequality is
    one-sided, sub-batch-boundary insertion makes the true rate
    LOWER than per-event Bloom)."""
    import flod_spark.streaming.bloom as B

    old_m = B.BLOOM_M
    B.BLOOM_M = 1 << 9  # 512 bits
    try:
        rng = np.random.default_rng(5)
        n_keys = 120
        ks = np.arange(n_keys, dtype="uint64")
        h1 = (ks * np.uint64(0x9E3779B97F4A7C15)).view("int64")
        h2 = (ks * np.uint64(0xC2B2AE3D27D4EB4F) + np.uint64(1)).view("int64")
        order = rng.permutation(np.repeat(np.arange(n_keys), 2))
        rows = [
            (int(i), int(h1[order[i]]), int(h2[order[i]]), int(order[i]))
            for i in range(len(order))
        ]
        admitted, st = _bloom_fold([rows[:80], rows[80:160], rows[160:]])
        adm_keys = [int(order[r]) for r in admitted]
        assert len(adm_keys) == len(set(adm_keys))
        n, m, k = n_keys, B.BLOOM_M, B.BLOOM_K
        bound = (1.0 - np.exp(-k * n / m)) ** k
        missed = n_keys - len(set(adm_keys))
        assert missed <= max(4, 4 * bound * n_keys), (missed, bound)
        assert len(st.get[0]) == B.BLOOM_M // 64
    finally:
        B.BLOOM_M = old_m


def test_bloom_admit_streaming_end_to_end(spark, sf_dir):
    """bloom_admit on the replayed events stream at gate scale: the
    admitted rid set equals the exact first-arrival set (at m = 2^16,
    k = 4 and ~103 keys/shard the analytic false-suppression odds are
    ~1e-9 — an inequality assertion with headroom of ONE), and no key
    admits twice."""
    from flod_spark.catalog.streaming_live import _WATERMARK
    from flod_spark.io import load
    from flod_spark.streaming.bloom import bloom_admit
    from flod_spark.streaming.gate import drain, spool
    from flod_spark.streaming.windows import with_event_time

    ev = load(spark, sf_dir, "events")
    with spool(spark, ev, "ts", n_batches=4, tiebreak=("event_id",)) as sp:
        src = with_event_time(sp.stream).withWatermark("ts", _WATERMARK)
        admitted = drain(
            bloom_admit(src, ("user_id", "event_type"), "event_id"), spark, output_mode="update"
        )
    got = {r.rid for r in admitted.collect()}
    firsts = {
        r.rid
        for r in load(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.min_by("event_id", F.struct(F.col("ts"), F.col("event_id"))).alias("rid"))
        .collect()
    }
    # suppression is exact; false suppression analytically ~impossible
    assert got <= firsts
    assert len(firsts) - len(got) <= 1


def test_ttl_state_checkpoint_recovery_exactly_once(spark, sf_dir, tmp_path):
    """Fault tolerance for the CUSTOM-state path — the recovery test
    the built-in windowed-agg one (test_streaming.py) cannot cover:
    stream_dedup_bounded's applyInPandasWithState operator, stopped
    after the first two replay files and RESTARTED from its checkpoint
    (the sorted-key-array + last-seen + max-time state round-trips the
    state store), admits EXACTLY the uninterrupted run's set, which is
    the batch LAG contract. Claims are emitted exactly once per
    admitted event, so a durable foreachBatch sink with per-batch
    append (batch replay deduplicated at read time by event_id) makes
    the comparison set-exact."""
    import glob
    import os
    import shutil as sh

    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.window import Window

    from flod_spark.catalog.streaming_live import _WATERMARK, _dedup_ttl_fn, _shard
    from flod_spark.io import load, ts_micros
    from flod_spark.streaming import replay_stream
    from flod_spark.streaming.windows import with_event_time

    ev = load(spark, sf_dir, "events")
    src_dir = str(tmp_path / "src_ttl")
    replay_stream(spark, ev, "ts", src_dir, n_batches=4, tiebreak=("event_id",))
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
                # the file source replays in mod-time order; quick copies
                # can tie on mtime and fall back to random part names —
                # pin strictly ascending mtimes (the replay_buckets fix)
                os.utime(dst, (1_700_000_000 + order[f], 1_700_000_000 + order[f]))
            stream = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(live)
            )
            k = F.concat_ws("|", F.col("user_id").cast("string"), F.col("event_type"))
            src = (
                with_event_time(stream)
                .withWatermark("ts", _WATERMARK)
                .select(
                    _shard(k),
                    k.alias("k"),
                    "user_id",
                    "event_type",
                    "event_id",
                    ts_micros("ts").alias("us"),
                )
            )
            out = src.groupBy("shard").applyInPandasWithState(
                _dedup_ttl_fn,
                outputStructType=_dedup_ttl_fn.output_ddl,
                stateStructType=_dedup_ttl_fn.state_ddl,
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
        return {r.event_id for r in spark.read.parquet(outdir).collect()}

    interrupted = run("split", [files[:2], files[2:]])
    single = run("once", [files])
    # batch ground truth: the LAG contract (same as the oracle)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    truth = {
        r.event_id
        for r in ev.withColumn("us", ts_micros("ts"))
        .withColumn("prev", F.lag("us").over(w))
        .filter(
            F.col("prev").isNull()
            | (F.col("us") - F.col("prev") > 7_200_000_000)
        )
        .collect()
    }
    assert single == truth
    assert interrupted == truth


@pytest.mark.parametrize(
    "qk",
    [
        "stream_dedup_bounded", "stream_sessionize_live",
        "stream_weighted_sample_live",
        # round-11 additions: the two new TTL twins (string- and
        # int64-key folds) and the take op whose drain the round
        # migrated to the whole-batch lexsort (its chunking-invariance
        # claim is exactly what this test forces live)
        "stream_dedup_minhash_bounded", "stream_dedup_substring_bounded",
        "stream_take_live",
    ],
)
def test_state_fns_invariant_under_tiny_arrow_chunks(spark, sf_dir, qk):
    """The multi-chunk drain paths (pd.concat + whole-group lexsort in
    _drain_sorted / the packed sessionizer / the wsample concat) are dead code
    at gate scale — groups fit one Arrow batch. Force them live:
    maxRecordsPerBatch=7 splits every per-key group into many chunks,
    and the output must not move by a row. Catches any chunk-local
    assumption (the exact bug class the whole-batch sort comments
    guard against)."""
    import __spark_entry__ as entry

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    fn = entry.queries()[qk]
    default = {tuple(r) for r in fn(spark, sf_dir).collect()}
    old = spark.conf.get(key, None)
    spark.conf.set(key, "7")
    try:
        tiny = {tuple(r) for r in fn(spark, sf_dir).collect()}
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert tiny == default and tiny, qk


def _session_reference(uss, gap_us):
    """The textbook per-event session fold over one key's event times:
    the closed (start, last, n) sessions plus the final open one."""
    start, last, n = None, None, 0
    closed = []
    for us in sorted(uss):
        if start is None:
            start, last, n = us, us, 1
        elif us - last > gap_us:
            closed.append((start, last, n))
            start, last, n = us, us, 1
        else:
            last, n = us, n + 1
    return closed, (start, last, n)


def test_sessionize_timeout_checkpoint_recovery(spark, sf_dir, tmp_path):
    """Recovery for the TIMER path — the state-store surface the TTL
    test doesn't touch: streaming_sessionize's event-time timeouts
    (state.setTimeoutTimestamp) must survive a stop/restart — a
    session left OPEN at the stop must still close by timeout after
    the restart once the recovered watermark passes its gap. The
    emitted session set is deterministic regardless of where the stop
    lands (replay is globally time-ordered, so no event can rejoin a
    timeout-closed session — the module's emission-contract argument),
    so interrupted == uninterrupted == the driver-side reference:
    every session closed by data, plus each key's final session iff
    the final watermark passed its timeout."""
    import glob
    import os
    import shutil as sh

    from flod_spark.io import load, ts_micros
    from flod_spark.streaming import replay_stream
    from flod_spark.streaming.sessionize import GAP_US, streaming_sessionize

    ev = load(spark, sf_dir, "events")
    src_dir = str(tmp_path / "src_sess")
    replay_stream(spark, ev, "ts", src_dir, n_batches=4, tiebreak=("event_id",))
    files = sorted(glob.glob(os.path.join(src_dir, "*.parquet")), key=os.path.getmtime)

    def run(tag, file_subsets):
        live = str(tmp_path / f"slive_{tag}")
        ckpt = str(tmp_path / f"sck_{tag}")
        outdir = str(tmp_path / f"sout_{tag}")
        os.makedirs(live, exist_ok=True)
        order = {f: i for i, f in enumerate(files)}
        for subset in file_subsets:
            for f in subset:
                dst = os.path.join(live, os.path.basename(f))
                sh.copy(f, dst)
                os.utime(dst, (1_700_000_000 + order[f],) * 2)
            stream = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(live)
            )
            q = (
                streaming_sessionize(stream)
                .writeStream.foreachBatch(
                    lambda df, bid: df.write.mode("append").parquet(outdir)
                )
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .start()
            )
            q.processAllAvailable()
            q.stop()
        return {
            (r.user_id, r.start_us, r.end_us, r.n_events)
            for r in spark.read.parquet(outdir).collect()
        }

    interrupted = run("split", [files[:2], files[2:]])
    single = run("once", [files])

    # driver-side reference: fold each key's full event-time sequence,
    # then apply the end-of-stream timeout rule (ms watermark arithmetic)
    rows = ev.select("user_id", ts_micros("ts").alias("_us")).collect()
    by_key: dict = {}
    max_us = 0
    for r in rows:
        by_key.setdefault(r.user_id, []).append(r._us)
        max_us = max(max_us, r._us)
    wm_ms = (max_us // 1000) - 2 * 60 * 60 * 1000  # "2 hours" watermark
    want = set()
    for k, uss in by_key.items():
        closed, (st_, la_, n_) = _session_reference(uss, GAP_US)
        want.update((k, a, b, c2) for a, b, c2 in closed)
        if st_ is not None and wm_ms > (la_ + GAP_US) // 1000:
            want.add((k, st_, la_, n_))
    assert single == want
    assert interrupted == want


def test_bpe_apply_merges_matches_registered_form(spark, sf_dir, tmp_path):
    """The production inference path (shipped merge table in, no
    re-training) equals the registered bpe_apply bit-for-bit when fed
    the table its train loop produces — and the merge table round-trips
    a parquet ship/load (the artifact is data, not lineage)."""
    import __spark_entry__ as entry
    from flod_spark.catalog.text import _bpe_merge_list, bpe_apply_merges
    from flod_spark.io import load
    from flod_spark.registry import ensure_shipped

    ensure_shipped(spark)
    merges = _bpe_merge_list(spark, sf_dir)
    # ship/load round-trip: write the artifact, read it back in order
    ship = str(tmp_path / "bpe_ship")
    spark.createDataFrame(
        merges, "round int, pair string, cnt long"
    ).write.mode("overwrite").parquet(ship)
    loaded = [
        (r.round, r.pair, r.cnt)
        for r in spark.read.parquet(ship).orderBy("round").collect()
    ]
    assert loaded == merges
    got = {
        tuple(r)
        for r in bpe_apply_merges(load(spark, sf_dir, "documents"), loaded).collect()
    }
    want = {tuple(r) for r in entry.queries()["bpe_apply"](spark, sf_dir).collect()}
    assert got == want and got


def test_pagerank_converged_on_planted_graph(spark, sf_dir):
    """pagerank_converged on a planted graph with a known answer: on a
    REGULAR graph (undirected cycle, every degree 2) the damped
    PageRank stationary distribution is exactly uniform — the loop
    must converge to 1/n per node, deltas must contract at <= the
    damping rate (the L-infinity certificate), mass must be conserved,
    and one more exact round from the fixpoint must move <= tol. Also
    pins the shared-round guarantee: two converged-loop rounds on the
    REAL sf graph equal the registered pagerank_iter bit-for-bit."""
    import __spark_entry__ as entry
    from flod_spark.catalog.analytics import (
        _PR_D,
        _pr_frames,
        _pr_round,
        pagerank_converged,
    )
    from flod_spark.registry import ensure_shipped

    ensure_shipped(spark)
    n = 12
    cyc = [(f"v{i}", f"v{(i + 1) % n}") for i in range(n)]
    edges = spark.createDataFrame(
        cyc + [(b, a) for a, b in cyc], "src string, dst string"
    )
    ranks, deltas = pagerank_converged(edges, tol=1e-12, max_rounds=80)
    assert deltas[-1] <= 1e-12 and len(deltas) < 80
    got = {r.node: r.r for r in ranks.collect()}
    assert len(got) == n
    for v in got.values():
        assert abs(v - 1.0 / n) <= 1e-9
    assert abs(sum(got.values()) - 1.0) <= 1e-9
    # geometric contraction at <= damping (allow fixed-point epsilon)
    for a, b in zip(deltas, deltas[1:]):
        assert b <= _PR_D * a + 1e-12, (a, b)
    # fixpoint: one more exact round moves nothing beyond tol
    deg, nodes, nn, dang = _pr_frames(edges)
    nxt = _pr_round(edges, deg, nodes, nn, dang, ranks)
    moved = (
        nxt.join(ranks.withColumnRenamed("r", "_pr"), "node")
        .agg(F.max(F.abs(F.col("r") - F.col("_pr"))).alias("m"))
        .first()["m"]
    )
    assert moved <= 1e-11
    # shared-round guarantee on the real graph: depth-2 == registered
    reg = {
        (r.node, r.rank_round1, r.rank_round2)
        for r in entry.queries()["pagerank_iter"](spark, sf_dir).collect()
    }
    from flod_spark.io import load

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    sym = e0.unionByName(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    _ranks2, deltas2 = pagerank_converged(sym, tol=-1.0, max_rounds=2)
    deg2, nodes2, nn2, dang2 = _pr_frames(sym.localCheckpoint())
    r0 = nodes2.crossJoin(F.broadcast(nn2)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("r")
    )
    r1 = _pr_round(sym, deg2, nodes2, nn2, dang2, r0).localCheckpoint()
    r2 = _pr_round(sym, deg2, nodes2, nn2, dang2, r1)
    pair = {
        (a.node, a.r, b.r)
        for a, b in zip(
            r1.orderBy("node").collect(), r2.orderBy("node").collect()
        )
    }
    assert pair == reg
    assert len(deltas2) == 2
