"""Round-17 optimization pins.

The five per-user detector gates (ewma/cusum/drawdown/rsi/bollinger)
moved from one applyInPandasWithState group PER USER to _SHARDS
shard groups with packed per-user state, vectorized across users
(streaming_live.py r17). The oracle gate proves end-to-end equality at
the registered SFs; these tests prove the shard folds are BIT-IDENTICAL
to the per-key folds on adversarial inputs the gates never see —
random user interleavings, many triggers, users appearing/disappearing
across triggers, multi-chunk Arrow drains, negative values — by
fuzzing each shard fold against a verbatim copy of the r16 per-key
fold it replaced."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from flod_spark.catalog.relational import _BOLL_W, _EWMA_H, _EWMA_W, _RSI_N


class FakeState:
    """The slice of GroupState the folds touch."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)


# --- verbatim r16 per-key folds (the reference semantics) -------------


def _ref_ewma(key, pdfs, state):
    from flod_spark.streaming.packfold import _drain_sorted

    hist = list(state.get[0]) if state.exists else []
    b = _drain_sorted(pdfs, ("event_id", "us", "xq"))
    x = b["xq"]
    full = np.concatenate([np.asarray(hist, dtype="int64"), x])
    w = np.asarray(_EWMA_W, dtype="int64")
    j = np.arange(len(hist), len(full))
    num = np.convolve(full, w)[j] if len(full) else np.zeros(0, dtype="int64")
    den = np.cumsum(w)[np.minimum(j, _EWMA_H - 1)]
    state.update((full[-(_EWMA_H - 1):].tolist(),))
    yield pd.DataFrame(
        {
            "user_id": np.full(len(x), int(key[0]), dtype="int64"),
            "event_id": b["event_id"],
            "us": b["us"],
            "num": num.astype("int64"),
            "den": den.astype("int64"),
        }
    )


def _ref_cusum(key, pdfs, state):
    from flod_spark.streaming.packfold import _drain_sorted

    if state.exists:
        pf, mn = state.get
    else:
        pf, mn = 0, None
    b = _drain_sorted(pdfs, ("event_id", "us", "dq"))
    dq = b["dq"]
    pfs = pf + np.cumsum(dq)
    mns = np.minimum.accumulate(pfs)
    if mn is not None:
        mns = np.minimum(mns, mn)
    cs = pfs - np.minimum(mns, 0)
    state.update(
        (int(pfs[-1]) if len(pfs) else pf, int(mns[-1]) if len(mns) else mn)
    )
    yield pd.DataFrame(
        {
            "user_id": np.full(len(dq), int(key[0]), dtype="int64"),
            "event_id": b["event_id"],
            "us": b["us"],
            "cusum_us": cs.astype("int64"),
        }
    )


def _ref_drawdown(key, pdfs, state):
    from flod_spark.streaming.packfold import _drain_sorted

    if state.exists:
        peak, mdd = state.get
    else:
        peak, mdd = None, 0
    b = _drain_sorted(pdfs, ("event_id", "us", "xq"))
    x = b["xq"]
    peaks = np.maximum.accumulate(x)
    if peak is not None:
        peaks = np.maximum(peaks, peak)
    dd = peaks - x
    mdds = np.maximum.accumulate(dd)
    if mdd:
        mdds = np.maximum(mdds, mdd)
    state.update(
        (int(peaks[-1]) if len(x) else peak, int(mdds[-1]) if len(x) else mdd)
    )
    yield pd.DataFrame(
        {
            "user_id": np.full(len(x), int(key[0]), dtype="int64"),
            "event_id": b["event_id"],
            "us": b["us"],
            "dd_us": dd.astype("int64"),
            "mdd_us": mdds.astype("int64"),
        }
    )


def _ref_rsi(key, pdfs, state):
    from flod_spark.streaming.packfold import _drain_sorted

    if state.exists:
        prev, hist = state.get
        hist = list(hist)
    else:
        prev, hist = None, []
    b = _drain_sorted(pdfs, ("event_id", "us", "xq"))
    x = b["xq"]
    hist_a = np.asarray(hist, dtype="int64")
    if prev is None:
        d = np.diff(x)
        first_off = 0
    else:
        d = np.diff(np.concatenate([[prev], x]))
        first_off = 1
    full_d = np.concatenate([hist_a, d])
    pos = np.concatenate([[0], np.cumsum(np.maximum(full_d, 0))])
    neg = np.concatenate([[0], np.cumsum(np.minimum(full_d, 0))])
    e = len(hist_a) + np.arange(len(x)) + first_off
    s = np.maximum(e - _RSI_N, 0)
    gains = pos[e] - pos[s]
    losses = -(neg[e] - neg[s])
    nds = e - s
    if len(x):
        state.update((int(x[-1]), full_d[-(_RSI_N - 1):].tolist()))
    else:
        state.update((prev, hist))
    yield pd.DataFrame(
        {
            "user_id": np.full(len(x), int(key[0]), dtype="int64"),
            "event_id": b["event_id"],
            "us": b["us"],
            "gain": gains.astype("int64"),
            "loss": losses.astype("int64"),
            "nd": nds.astype("int64"),
        }
    )


def _ref_boll(key, pdfs, state):
    from flod_spark.streaming.packfold import _drain_sorted

    if state.exists:
        seen, hist = state.get
        hist = list(hist)
    else:
        seen, hist = 0, []
    b = _drain_sorted(pdfs, ("event_id", "us", "xq"))
    x = b["xq"]
    full = np.concatenate([np.asarray(hist, dtype="int64"), x])
    pad = np.concatenate([np.zeros(_BOLL_W - 1, dtype="int64"), full])
    sw = np.lib.stride_tricks.sliding_window_view(pad, _BOLL_W)
    idx = len(hist) + np.arange(len(x))
    sx = sw[idx].sum(axis=1)
    padq = np.concatenate([np.zeros(_BOLL_W - 1, dtype="int64"), full * full])
    swq = np.lib.stride_tricks.sliding_window_view(padq, _BOLL_W)
    ssq = swq[idx].sum(axis=1)
    n = np.minimum(seen + 1 + np.arange(len(x)), _BOLL_W)
    state.update((int(seen + len(x)), full[-(_BOLL_W - 1):].tolist()))
    yield pd.DataFrame(
        {
            "user_id": np.full(len(x), int(key[0]), dtype="int64"),
            "event_id": b["event_id"],
            "us": b["us"],
            "n": n.astype("int64"),
            "sx": sx.astype("int64"),
            "ssq": ssq.astype("int64"),
        }
    )


# --- fuzz harness -----------------------------------------------------


def _gate(name):
    from flod_spark.catalog import streaming_live as sl

    return {
        "ewma": (sl._ewma_shard_fn, _ref_ewma, "xq"),
        "cusum": (sl._cusum_shard_fn, _ref_cusum, "dq"),
        "drawdown": (sl._drawdown_shard_fn, _ref_drawdown, "xq"),
        "rsi": (sl._rsi_shard_fn, _ref_rsi, "xq"),
        "boll": (sl._boll_shard_fn, _ref_boll, "xq"),
    }[name]


def _run_triggers(shard_fn, ref_fn, vcol, triggers, n_chunks=1):
    """Feed the same trigger frames through the shard fold (one state,
    one call per trigger) and the per-key reference (one state per
    user), returning two row multisets per form."""
    shard_state = FakeState()
    ref_states: dict[int, FakeState] = {}
    got_rows, ref_rows = [], []
    for pdf in triggers:
        if n_chunks == 1:
            chunks = [pdf]
        else:
            shuf = pdf.sample(frac=1.0, random_state=7).reset_index(drop=True)
            bounds = np.linspace(0, len(shuf), n_chunks + 1).astype(int)
            chunks = [
                shuf.iloc[a:b].reset_index(drop=True)
                for a, b in zip(bounds[:-1], bounds[1:])
                if b > a
            ]
        for out in shard_fn((0,), iter(chunks), shard_state):
            got_rows.append(out)
        for u in sorted(pdf["user_id"].unique()):
            st = ref_states.setdefault(int(u), FakeState())
            sub = pdf[pdf["user_id"] == u].reset_index(drop=True)
            for out in ref_fn((int(u),), iter([sub]), st):
                ref_rows.append(out)
    got = pd.concat(got_rows, ignore_index=True)
    ref = pd.concat(ref_rows, ignore_index=True)
    key = ["user_id", "event_id"]
    got = got.sort_values(key).reset_index(drop=True)
    ref = ref.sort_values(key).reset_index(drop=True)
    return got, ref[got.columns]


def _mk_triggers(rng, n_users, n_triggers, vcol, lo=-2_000_000, hi=2_000_000):
    """Random per-user event sequences split into triggers in time
    order — users drop in and out of triggers, event ids interleave
    arbitrarily across users within a trigger."""
    rows = []
    eid = 0
    for u in range(n_users):
        n = int(rng.integers(0, 25))
        for i in range(n):
            rows.append((u + 100, eid, int(rng.integers(lo, hi))))
            eid += 1
    rng.shuffle(rows)
    df = pd.DataFrame(rows, columns=["user_id", "event_id", vcol])
    df["us"] = np.arange(len(df), dtype="int64") * 1000 + 17
    cuts = np.sort(rng.integers(0, len(df) + 1, size=n_triggers - 1))
    out = []
    prev = 0
    for c in list(cuts) + [len(df)]:
        t = df.iloc[prev:c].reset_index(drop=True)
        prev = c
        if len(t):
            out.append(
                t.astype(
                    {
                        "user_id": "int64",
                        "event_id": "int64",
                        vcol: "int64",
                        "us": "int64",
                    }
                )
            )
    return out


@pytest.mark.parametrize("gate", ["ewma", "cusum", "drawdown", "rsi", "boll"])
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_shard_fold_matches_per_key_fold(gate, seed):
    shard_fn, ref_fn, vcol = _gate(gate)
    rng = np.random.default_rng(seed * 101 + 7)
    triggers = _mk_triggers(rng, n_users=23, n_triggers=5, vcol=vcol)
    got, ref = _run_triggers(shard_fn, ref_fn, vcol, triggers)
    pd.testing.assert_frame_equal(got, ref)


@pytest.mark.parametrize("gate", ["ewma", "cusum", "drawdown", "rsi", "boll"])
def test_shard_fold_invariant_under_chunked_drain(gate):
    """packed_user_fold's whole-shard drain + lexsort (by user_id, us,
    event_id) makes the fold independent of Arrow chunking AND of row
    order within a trigger (the test_round10 tiny-chunk pin, applied at
    the fold level)."""
    shard_fn, ref_fn, vcol = _gate(gate)
    rng = np.random.default_rng(42)
    triggers = _mk_triggers(rng, n_users=11, n_triggers=4, vcol=vcol)
    got, ref = _run_triggers(shard_fn, ref_fn, vcol, triggers, n_chunks=3)
    pd.testing.assert_frame_equal(got, ref)


def test_ivfpq_compaction_watermark_blocks_replayed_folded_slice(spark, sf_dir, tmp_path):
    """The r15-documented ingest/compaction crash race, replayed and
    CLOSED (r17): a trigger's slice is written but its checkpoint
    never commits; the nightly compaction folds-and-deletes the slice
    (recording the fold watermark); the restarted stream re-delivers
    the batch. The replayed advance must NO-OP — no recreated slice
    directory, no duplicated candidates in the served top-K — while a
    genuinely NEW slice id past the watermark still advances."""
    import glob
    import os

    from pyspark.sql import functions as F

    from flod_spark.catalog.similarity import (
        NQ,
        _emb_v,
        _ivfpq_compacted_watermark,
        compact_ivfpq_index,
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
    idx = str(tmp_path / "idx")

    def serve():
        return sorted(
            (r.query_id, r.rk, r.neighbor_id, r.adist)
            for r in ivfpq_index_query(
                spark, idx, queries, include_slices=True
            ).collect()
        )

    ivfpq_index_save(emb.filter(F.col("vec_id") <= mid), idx)
    # the trigger whose checkpoint commit never lands
    ivfpq_index_advance(
        emb.filter((F.col("vec_id") > mid) & (F.col("vec_id") <= hi)), spark, idx, 1
    )
    compact_ivfpq_index(spark, idx)
    assert _ivfpq_compacted_watermark(idx) == 1
    assert glob.glob(os.path.join(idx, "codes_slice_*")) == []
    want = serve()

    # restart re-delivers batch 1: the advance must no-op, not
    # recreate codes_slice_00001 next to its folded codes
    ivfpq_index_advance(
        emb.filter((F.col("vec_id") > mid) & (F.col("vec_id") <= hi)), spark, idx, 1
    )
    assert glob.glob(os.path.join(idx, "codes_slice_*")) == []
    assert serve() == want and want

    # a NEW slice past the watermark still advances, and a second
    # compaction folds it while the watermark stays monotone
    ivfpq_index_advance(emb.filter(F.col("vec_id") > hi), spark, idx, 2)
    assert glob.glob(os.path.join(idx, "codes_slice_*"))
    full = serve()
    compact_ivfpq_index(spark, idx)
    assert _ivfpq_compacted_watermark(idx) == 2
    assert serve() == full


@pytest.mark.parametrize("gate", ["ewma", "cusum", "drawdown", "rsi", "boll"])
def test_shard_fold_single_user_single_row_triggers(gate):
    """Degenerate shapes: one user, one row per trigger (every state
    transition crosses a trigger boundary), including a negative
    value stream."""
    shard_fn, ref_fn, vcol = _gate(gate)
    vals = [5, -3, -3, 7, 0, -11, 2]
    triggers = [
        pd.DataFrame(
            {
                "user_id": np.array([1], dtype="int64"),
                "event_id": np.array([i], dtype="int64"),
                vcol: np.array([v], dtype="int64"),
                "us": np.array([i * 1000], dtype="int64"),
            }
        )
        for i, v in enumerate(vals)
    ]
    got, ref = _run_triggers(shard_fn, ref_fn, vcol, triggers)
    pd.testing.assert_frame_equal(got, ref)


def test_assign_cells_degenerate_inputs_pinned(spark):
    """r16 ADVICE (low): the map-side _assign_cells diverges from the
    pre-r16 max_by form on two inputs no internal caller can produce —
    an EMPTY centroid frame (now: one row per vector with NULL cell;
    then: empty result) and a fully-NULL vector (now: smallest cent_id;
    then: NULL). A runtime guard would cost a Spark job or a plan node
    in 11 gated keys for unreachable input, so instead the divergence is
    pinned HERE: an external caller feeding either shape changes this
    test's expectations, not silently its results."""
    from flod_spark.catalog.similarity import _assign_cells

    e = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, v array<double>")
    empty_cent = spark.createDataFrame([], "cent_id long, cv array<double>")
    out = _assign_cells(e, empty_cent).collect()
    assert len(out) == 1 and out[0].cell is None

    cent = spark.createDataFrame(
        [(3, [1.0, 0.0]), (5, [0.0, 1.0])], "cent_id long, cv array<double>"
    )
    nullvec = spark.createDataFrame([(7, None)], "vec_id long, v array<double>")
    assert _assign_cells(nullvec, cent).collect()[0].cell == 3


def test_assign_cells_hoisted_norms_bitwise(spark, sf_dir):
    """r17 hoist pin: _assign_cells computes sqrt(dot(v,v)) once per ROW
    (lambda-bound through a 1-element transform) and sqrt(dot(cv,cv))
    once per CENTROID (in the broadcast struct) instead of re-folding
    both per (row, centroid). Every per-pair cos must be BIT-identical
    to the 3-dot form it replaced (same three doubles combined in the
    same order), and every assignment identical — checked here against
    a verbatim copy of the r16/early-r17 expression on the sf0.001
    embeddings (double-to-string is shortest-round-trip in Spark, so
    string equality is bit equality)."""
    from pyspark.sql import functions as F

    from flod_spark.catalog.similarity import _as_double, _assign_cells, _cent_df
    from flod_spark.io import load

    dot = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, t) -> acc + t)"

    emb = load(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", _as_double("embedding").alias("v"))
    cent = _cent_df(e)

    # verbatim pre-hoist form: full 3-dot cos per (row, centroid)
    centarr_old = cent.agg(
        F.array_sort(F.collect_list(F.struct("cent_id", "cv"))).alias("_cents")
    )
    cos_old = (
        dot.format(a="v", b="c.cv")
        + " / (sqrt(" + dot.format(a="v", b="v") + ")"
        + " * sqrt(" + dot.format(a="c.cv", b="c.cv") + "))"
    )
    pairs_old = (
        e.crossJoin(F.broadcast(centarr_old))
        .select(
            "vec_id",
            F.explode(
                F.expr(
                    "transform(_cents, c -> struct(c.cent_id AS cent_id, "
                    f"cast({cos_old} AS string) AS cs))"
                )
            ).alias("p"),
        )
        .select("vec_id", "p.cent_id", "p.cs")
    )

    # hoisted form, exposing the same per-pair cos
    centarr_new = cent.select(
        "cent_id", "cv",
        F.expr("sqrt(" + dot.format(a="cv", b="cv") + ")").alias("nrm"),
    ).agg(
        F.array_sort(F.collect_list(F.struct("cent_id", "cv", "nrm"))).alias("_cents")
    )
    cos_new = dot.format(a="v", b="c.cv") + " / (nv * c.nrm)"
    pairs_new = (
        e.crossJoin(F.broadcast(centarr_new))
        .select(
            "vec_id",
            F.explode(
                F.expr(
                    "flatten(transform(array(sqrt(" + dot.format(a="v", b="v") + ")), "
                    "nv -> transform(_cents, c -> struct(c.cent_id AS cent_id, "
                    f"cast({cos_new} AS string) AS cs))))"
                )
            ).alias("p"),
        )
        .select("vec_id", "p.cent_id", "p.cs")
    )

    old = sorted(map(tuple, pairs_old.collect()))
    new = sorted(map(tuple, pairs_new.collect()))
    assert old == new and len(old) > 0

    # and the production entry point picks the same cell everywhere
    old_best = (
        e.crossJoin(F.broadcast(centarr_old))
        .withColumn(
            "cell",
            -F.expr(
                f"array_max(transform(_cents, c -> struct({cos_old} AS cos, "
                "-c.cent_id AS neg)))"
            )["neg"],
        )
        .select("vec_id", "cell")
    )
    got = {r.vec_id: r.cell for r in _assign_cells(e, cent).select("vec_id", "cell").collect()}
    ref = {r.vec_id: r.cell for r in old_best.collect()}
    assert got == ref


def test_assign_cells_row_norm_fold_appears_once(spark, sf_dir):
    """Plan-shape pin of the hoist above: in _assign_cells' optimized
    plan the norm fold sqrt(aggregate(zip_with(x, x, ...))) appears
    exactly twice — once per centroid (in the broadcast struct) and
    once per row, as the 1-element array the per-centroid lambda binds
    — so an optimizer change that re-inlines the row norm into the
    per-centroid lambda fails here instead of only running slower."""
    import re

    from flod_spark.catalog.similarity import _as_double, _assign_cells, _cent_df
    from flod_spark.io import load

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    plan = _assign_cells(e, _cent_df(e))._jdf.queryExecution().optimizedPlan().toString()
    folds = re.findall(r"(\w*\()?sqrt\(aggregate\(zip_with\((\w+#\d+), \2,", plan, re.I)
    assert len(folds) == 2, plan
    assert [f for f, _ in folds].count("array(") == 1, plan


def test_kmeans_fit_repartition_gate_results_identical(spark, sf_dir):
    """r17 scale-adaptive input parallelism pin: kmeans_fit repartitions
    its input once before round 0 when the scan has fewer splits than
    cores. Assignments and per-round moved counts must be identical with
    and without the repartition (placement-independence: per-row argmax
    + exact fixed-point centroid sums)."""
    from flod_spark.catalog.similarity import _as_double, kmeans_fit
    from flod_spark.io import load

    emb = load(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", _as_double("embedding").alias("v"))

    a1, m1 = kmeans_fit(e, 2, persist=True)
    par = spark.sparkContext.defaultParallelism
    a2, m2 = kmeans_fit(e.repartition(par + 3, "vec_id"), 2, persist=True)

    assert m1 == m2
    r1 = {r.vec_id: r.cell for r in a1.select("vec_id", "cell").collect()}
    r2 = {r.vec_id: r.cell for r in a2.select("vec_id", "cell").collect()}
    assert r1 == r2


def test_hybrid_rrf_inverted_sparse_leg_bitwise(spark, sf_dir):
    """r17 sparse-leg pin: sim_hybrid_rrf's BM25 candidate generation
    moved from per-(doc, term) interpreted array scans (a crossJoin of
    the corpus with the query-term set, then three more array scans per
    (doc, query) pair) to the inverted layout its docstring promises at
    scale: one explode over the tokens, a broadcast semi-join against
    the query-term set BEFORE any shuffle, (doc, term) counts for tf, a
    count-over-term window for df. The (query, cand, score) set must be
    BIT-identical to the old leg's (same tf/df/dl/nd/tt longs through
    the same WHEN expression) — checked against a verbatim copy of the
    old leg."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from flod_spark.catalog.similarity import NQ
    from flod_spark.catalog.text import _BM25_SHIFT, TOKEN_RE
    from flod_spark.io import load

    docs = load(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), F.lit(0))
    t = docs.select("doc_id", toks.alias("toks"))
    e1, e2, e3 = (F.try_element_at("toks", F.lit(i)) for i in (1, 2, 3))
    qt = t.filter(F.col("doc_id") < NQ).select(
        F.col("doc_id").alias("query_id"), e1.alias("t1"),
        F.when(~e2.eqNullSafe(e1), e2).alias("t2"),
        F.when(~e3.eqNullSafe(e1) & ~e3.eqNullSafe(e2), e3).alias("t3"),
    )
    terms = (qt.select(F.explode(F.array("t1", "t2", "t3")).alias("term"))
             .filter(F.col("term").isNotNull()).distinct())
    p = t.select("doc_id", F.size("toks").cast("long").alias("dl"), "toks")
    g = p.agg(F.count("*").cast("long").alias("nd"),
              F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("tt"))

    def score_over(sp):
        score = None
        for i in (1, 2, 3):
            idf = (F.length(F.bin(F.expr(
                f"((nd + 1) * {_BM25_SHIFT}) div (df{i} + 1)"))) - 1).cast("long")
            num = (idf * 44 * F.col("tt") * F.col(f"tf{i}")).cast("double")
            den = (20 * F.col("tt") * F.col(f"tf{i}") + 6 * F.col("tt")
                   + 18 * F.col("dl") * F.col("nd")).cast("double")
            ci = F.when(F.col(f"tf{i}") > 0, num / den).otherwise(F.lit(0.0))
            score = ci if score is None else score + ci
        m = (F.col("tf1") > 0) | (F.col("tf2") > 0) | (F.col("tf3") > 0)
        return (sp.select("query_id", F.col("doc_id").alias("cand"),
                          score.alias("score"), m.alias("m")).filter("m")
                .select("query_id", "cand", F.col("score").cast("string").alias("s")))

    # verbatim old leg
    hit = F.size(F.filter(F.col("toks"), lambda x: x == F.col("term"))) > 0
    tdf = (p.crossJoin(F.broadcast(terms))
           .select("term", hit.cast("long").alias("h"))
           .groupBy("term").agg(F.sum("h").cast("long").alias("df")))
    qtd = qt
    for i in (1, 2, 3):
        qtd = qtd.join(F.broadcast(tdf.select(
            F.col("term").alias(f"t{i}"), F.col("df").alias(f"df{i}"))), f"t{i}", "left")
    sp_old = (p.crossJoin(F.broadcast(qtd))
              .filter(F.col("doc_id") != F.col("query_id"))
              .crossJoin(F.broadcast(g)))

    def _tf(i):
        return F.size(F.filter(F.col("toks"), lambda x: x == F.col(f"t{i}"))).cast("long")

    for i in (1, 2, 3):
        sp_old = sp_old.withColumn(f"tf{i}", _tf(i))

    # the production inverted leg, rebuilt column-for-column
    matched_tf = (
        t.select("doc_id", F.size("toks").cast("long").alias("dl"),
                 F.explode("toks").alias("term"))
        .join(F.broadcast(terms), "term")
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"), F.max("dl").alias("dl"))
        .withColumn("df", F.count("*").over(W.partitionBy("term")).cast("long"))
    )
    qslots = None
    for i in (1, 2, 3):
        s = qt.select("query_id", F.lit(i).alias("slot"),
                      F.col(f"t{i}").alias("term")).filter(F.col("term").isNotNull())
        qslots = s if qslots is None else qslots.unionByName(s)
    hits = (matched_tf.join(F.broadcast(qslots), "term")
            .filter(F.col("doc_id") != F.col("query_id")))
    sp_new = (
        hits.groupBy("query_id", "doc_id")
        .agg(
            *[F.coalesce(F.max(F.when(F.col("slot") == i, F.col("tf"))), F.lit(0))
              .cast("long").alias(f"tf{i}") for i in (1, 2, 3)],
            *[F.max(F.when(F.col("slot") == i, F.col("df"))).alias(f"df{i}")
              for i in (1, 2, 3)],
            F.max("dl").alias("dl"),
        )
        .crossJoin(F.broadcast(g))
    )

    old = sorted(map(tuple, score_over(sp_old).collect()))
    new = sorted(map(tuple, score_over(sp_new).collect()))
    assert len(old) > 0
    assert old == new
