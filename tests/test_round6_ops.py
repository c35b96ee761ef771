"""Tests for the round-6 additions: streaming substring dedup (arrival-
prefix semantics), and the operators registered this round."""

from __future__ import annotations

import os

import pandas as pd
import pytest
import pyspark.sql.functions as F  # noqa: F401  (used by later test classes)


def _docs_dir(tmp_path, rows):
    d = str(tmp_path / "sfdocs")
    os.makedirs(d, exist_ok=True)
    pd.DataFrame(rows, columns=["doc_id", "lang", "text"]).astype(
        {"doc_id": "int64"}
    ).to_parquet(f"{d}/documents.parquet")
    return d


class TestStreamDedupSubstringLive:
    def test_arrival_prefix_semantics_on_planted_passages(self, spark, tmp_path):
        """Unlike the batch report (symmetric: BOTH docs sharing a
        passage show coverage), the live form charges a passage only to
        docs arriving AFTER its first appearance: doc 1 owns all its
        anchors, doc 2 (same passage, later) shows ~passage coverage,
        doc 3 is unique, doc 4 (exact copy of doc 1) near-total."""
        import random

        from flod_spark.catalog.streaming_live import stream_dedup_substring_live
        from flod_spark.catalog.text import _KR_K, _KR_W

        rng = random.Random(11)
        alpha = "abcdefghij "
        passage = "".join(rng.choice(alpha) for _ in range(500))
        pre = "".join(rng.choice(alpha) for _ in range(300))
        post = "".join(rng.choice(alpha) for _ in range(300))
        other = "".join(rng.choice(alpha) for _ in range(600))
        full = pre + passage
        d = _docs_dir(
            tmp_path,
            [
                (1, "en", full),
                (2, "en", passage + post),
                (3, "en", other),
                (4, "en", full),
            ],
        )
        got = {r["doc_id"]: r for r in stream_dedup_substring_live(spark, d).collect()}
        assert set(got) == {1, 2, 3, 4}
        for r in got.values():
            assert 0 <= r["dup_chars"] <= r["n_chars"]
        # first arrival owns everything — the asymmetry the batch
        # report doesn't have
        assert got[1]["n_dup_anchors"] == 0 and got[1]["dup_chars"] == 0
        assert got[3]["n_dup_anchors"] == 0
        # the later passage-sharer: coverage in the passage's ballpark
        lo = len(passage) * 0.5
        hi = len(passage) + (_KR_K + _KR_W) * 2
        assert lo <= got[2]["dup_chars"] <= hi
        # an exact copy re-claims nothing: every anchor is a dup
        assert got[4]["n_dup_anchors"] == got[4]["n_anchors"]
        assert got[4]["dup_frac"] > 0.8


@pytest.mark.parametrize(
    "qkey",
    [
        "stream_prep_live",
        "stream_dedup_substring_live",
        "stream_dedup_substring_bounded",
        "stream_dedup_minhash_live",
        "stream_dedup_minhash_bounded",
        "stream_ngram_novelty_live",
        "stream_ngram_novelty_bounded",
    ],
)
def test_doc_arrival_streams_on_empty_documents(spark, tmp_path, qkey):
    """Every stream over the doc-arrival feed — the six claim-evidence
    twins and stream_prep_live — returns no rows on an empty corpus."""
    from flod_spark.catalog import streaming_live

    got = getattr(streaming_live, qkey)(spark, _docs_dir(tmp_path, []))
    assert got.count() == 0


class TestWindowRollingRegression:
    def _events_dir(self, tmp_path, rows):
        import datetime as dt  # noqa: F401

        d = str(tmp_path / "sfreg")
        os.makedirs(d, exist_ok=True)
        pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        ).astype({"event_id": "int64", "user_id": "int64", "ts": "datetime64[us]"}).to_parquet(
            f"{d}/events.parquet"
        )
        return d

    def test_planted_linear_series_recovers_exact_slope(self, spark, tmp_path):
        """A perfectly linear series value = 2.5 * minutes: every frame
        with >= 2 points must report slope == 2.5 per minute (converted
        from the per-microsecond output) with zero residual — least
        squares on exact collinear points is exact."""
        import datetime as dt

        from flod_spark.catalog.relational import window_rolling_regression

        t0 = dt.datetime(2025, 3, 1, 9, 0, 0)
        rows = [
            (i, t0 + dt.timedelta(minutes=i), 7, "view", 2.5 * i, "{}")
            for i in range(10)
        ]
        # an isolated single point for user 8 -> NULL slope
        rows.append((100, t0, 8, "view", 42.0, "{}"))
        d = self._events_dir(tmp_path, rows)
        got = {r["event_id"]: r for r in window_rolling_regression(spark, d).collect()}
        assert got[100]["slope"] is None and got[100]["n_win"] == 1
        for i in range(1, 10):
            r = got[i]
            assert r["n_win"] == i + 1  # minutes apart: 1h frame holds all
            slope_per_min = r["slope"] * 60_000_000
            assert abs(slope_per_min - 2.5) < 1e-9, f"event {i}: {slope_per_min}"

    def test_deterministic_across_runs(self, spark, sf_dir):
        from flod_spark.catalog.relational import window_rolling_regression

        a = sorted(map(tuple, window_rolling_regression(spark, sf_dir).collect()))
        b = sorted(map(tuple, window_rolling_regression(spark, sf_dir).collect()))
        assert a == b


class TestBM25Score:
    def test_planted_ranking_semantics(self, spark, tmp_path):
        """The two orderings BM25 exists to produce: a rare query term
        outranks a common one at equal tf/dl (idf), and at equal tf the
        shorter doc outranks the longer (length normalization)."""
        from flod_spark.catalog.text import bm25_score

        filler = "alpha beta gamma delta epsilon zeta eta theta"
        rows = [(100, "en", "merge " + filler), (101, "en", "window " + filler)]
        # doc 102: same tf for 'window' as 101 but twice the length
        rows.append((102, "en", "window " + filler + " " + filler))
        # 20 background docs make 'window' common; nothing else has 'merge'
        rows += [(i, "en", f"window iota kappa lambda mu nu xi doc{i}") for i in range(20)]
        d = _docs_dir(tmp_path, rows)
        got = {r["doc_id"]: r["score"] for r in bm25_score(spark, d).collect()}
        assert got[100] > got[101], "rare term must outrank common term"
        assert got[101] > got[102], "shorter doc must outrank longer at equal tf"
        assert all(s >= 0 for s in got.values())

    def test_no_query_term_scores_zero(self, spark, tmp_path):
        from flod_spark.catalog.text import bm25_score

        d = _docs_dir(
            tmp_path,
            [(1, "en", "alpha beta gamma"), (2, "en", "window alpha")],
        )
        got = {r["doc_id"]: r["score"] for r in bm25_score(spark, d).collect()}
        assert got[1] == 0.0
        assert got[2] > 0.0


class TestRound6EmptyCorpus:
    """Every new batch op over `documents` must return an empty frame —
    not crash — on an empty corpus (regenerated testdata insurance)."""

    def test_text_and_sampling_ops_survive_empty_documents(self, spark, tmp_path):
        from flod_spark.catalog.sampling import sample_temperature
        from flod_spark.catalog.text import bm25_score, vocab_coverage

        d = _docs_dir(tmp_path, [])
        for fn in (bm25_score, vocab_coverage, sample_temperature):
            assert fn(spark, d).count() == 0, fn.__name__


class TestAggMad:
    def test_planted_outlier_and_degenerate_user(self, spark, tmp_path):
        """A user with one wild spike flags exactly that point; an
        all-equal user has MAD 0 and zero outliers (no division, no
        NaN)."""
        import datetime as dt

        from flod_spark.catalog.analytics import agg_mad

        t0 = dt.datetime(2025, 8, 1, 9, 0, 0)
        rows = []
        # user 1: tight cluster around 10 plus one spike at 1000
        for i, v in enumerate([9.0, 10.0, 10.0, 11.0, 10.0, 1000.0]):
            rows.append((i + 1, t0 + pd.Timedelta(minutes=i), 1, "view", v, "{}"))
        # user 2: all equal
        for i in range(5):
            rows.append((100 + i, t0 + pd.Timedelta(minutes=i), 2, "view", 7.0, "{}"))
        d = str(tmp_path / "sfmad")
        os.makedirs(d, exist_ok=True)
        pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        ).astype({"event_id": "int64", "user_id": "int64", "ts": "datetime64[us]"}).to_parquet(
            f"{d}/events.parquet"
        )
        got = {r["user_id"]: r for r in agg_mad(spark, d).collect()}
        assert got[1]["med"] == 10.0
        assert got[1]["n_outliers"] == 1  # the 1000.0 spike, nothing else
        assert got[2]["mad"] == 0.0 and got[2]["n_outliers"] == 0


class TestVocabCoverage:
    def test_rates_and_planted_oov(self, spark, tmp_path):
        """A doc of only ultra-rare tokens must score oov_rate 1.0; a
        doc of only the corpus-dominant token scores 0.0."""
        from flod_spark.catalog.text import vocab_coverage

        # 25 distinct frequent fillers + the dominant token: the corpus
        # must carry MORE than VOCAB_N distinct tokens or nothing can
        # ever be out-of-vocabulary
        filler = " ".join(f"tok{j}" for j in range(25))
        rows = [(i, "en", "common " + filler) for i in range(30)]
        rows.append((100, "en", "zzqx wwvv qqpp"))  # rare-only doc
        rows.append((101, "en", "common common"))
        d = _docs_dir(tmp_path, rows)
        got = {r["doc_id"]: r for r in vocab_coverage(spark, d).collect()}
        assert got[100]["oov_rate"] == 1.0
        assert got[101]["oov_rate"] == 0.0
        for r in got.values():
            assert 0.0 <= r["oov_rate"] <= 1.0
            assert r["n_oov"] <= r["n_tokens"]


class TestStreamSplitRouterLive:
    def test_routed_trees_equal_batch_assignment(self, spark, sf_dir):
        from flod_spark.catalog.sampling import split_assign
        from flod_spark.catalog.streaming_live import stream_split_router_live

        live = {tuple(r) for r in stream_split_router_live(spark, sf_dir).collect()}
        batch = {tuple(r) for r in split_assign(spark, sf_dir).collect()}
        assert live == batch
        assert live, "router test vacuous"


class TestSampleTemperature:
    def test_flattens_the_language_distribution(self, spark, sf_dir):
        """The point of alpha-sampling: after rebalancing, the head
        language's share of the KEPT set must shrink vs its corpus
        share, the tail's must grow, rates obey 0 < r <= 1, and the
        realized keep count is plausibly close to rate * n."""
        from flod_spark.catalog.sampling import sample_temperature

        rows = sample_temperature(spark, sf_dir).collect()
        assert rows and all(0.0 < r["rate"] <= 1.0 for r in rows)
        n_total = sum(r["n_docs"] for r in rows)
        kept_total = sum(r["n_kept"] for r in rows)
        assert kept_total > 0
        head = max(rows, key=lambda r: r["n_docs"])
        tail = min(rows, key=lambda r: r["n_docs"])
        if head["n_docs"] != tail["n_docs"]:  # skewed corpus: check flattening
            assert head["n_kept"] / kept_total < head["n_docs"] / n_total
            assert tail["n_kept"] / kept_total > tail["n_docs"] / n_total
        for r in rows:  # hash-uniformity keeps realized counts near rate*n
            assert r["n_kept"] <= r["n_docs"]
            if r["n_docs"] >= 50:
                assert abs(r["n_kept"] - r["rate"] * r["n_docs"]) <= 0.35 * r["n_docs"]


class TestCdcTimeTravel:
    def test_as_of_state_is_a_prefix_application(self, spark, sf_dir):
        """The time-traveled state must equal applying the log prefix in
        Python, and differ from the full cdc_apply state (non-vacuous:
        versions after the cutoff exist by construction)."""
        from flod_spark.catalog.relational import (
            _cdc_log,
            cdc_apply,
            cdc_time_travel,
        )

        log = _cdc_log(spark, sf_dir).collect()
        cutoff = max(r["seq"] for r in log) // 2
        # sequential application == latest-wins per key (seq is a total
        # order), so the replayed dict IS the expected table state
        state: dict = {}
        for r in sorted(log, key=lambda r: r["seq"]):
            if r["seq"] > cutoff:
                continue
            if r["op"] == "D":
                state.pop(r["k"], None)
            else:
                state[r["k"]] = (r["seq"], r["val"])
        got = {
            r["k"]: (r["last_seq"], r["val"])
            for r in cdc_time_travel(spark, sf_dir).collect()
        }
        assert got == state
        full = {r["k"]: (r["last_seq"], r["val"]) for r in cdc_apply(spark, sf_dir).collect()}
        assert got != full, "time travel vacuous: cutoff excludes nothing"


class TestGraphJaccard:
    def test_bounds_and_support(self, spark, sf001_dir):
        from flod_spark.catalog.analytics import _GJ_MIN_SHARED, graph_jaccard

        rows = graph_jaccard(spark, sf001_dir).collect()
        assert rows, "jaccard test vacuous at gate scale"
        for r in rows:
            assert 0.0 < r["jaccard"] <= 1.0
            assert r["shared"] >= _GJ_MIN_SHARED
            assert r["s1"] < r["s2"]  # each pair surfaced once, oriented


class TestJoinAsofNearest:
    def test_planted_directions(self, spark, tmp_path):
        """Purchase with a closer forward click picks fwd; equidistant
        picks back (merge_asof's rule); no clicks at all -> NULLs."""
        import datetime as dt

        from flod_spark.catalog.relational import join_asof_nearest

        t0 = dt.datetime(2025, 7, 1, 12, 0, 0)
        rows = [
            # user 1: click at +0, purchase at +10, click at +12 -> fwd (2 < 10)
            (1, 0, 1, "click"),
            (2, 10, 1, "purchase"),
            (3, 12, 1, "click"),
            # user 2: clicks at +0 and +20, purchase at +10 -> back on tie
            (4, 0, 2, "click"),
            (5, 10, 2, "purchase"),
            (6, 20, 2, "click"),
            # user 3: purchase, no clicks
            (7, 5, 3, "purchase"),
        ]
        d = str(tmp_path / "sfnear")
        os.makedirs(d, exist_ok=True)
        pd.DataFrame(
            {
                "event_id": pd.Series([r[0] for r in rows], dtype="int64"),
                "ts": pd.Series(
                    [t0 + pd.Timedelta(minutes=r[1]) for r in rows],
                    dtype="datetime64[us]",
                ),
                "user_id": pd.Series([r[2] for r in rows], dtype="int64"),
                "event_type": [r[3] for r in rows],
                "value": [0.0] * len(rows),
                "props": ["{}"] * len(rows),
            }
        ).to_parquet(f"{d}/events.parquet")
        got = {
            r["purchase_id"]: (r["click_id"], r["direction"])
            for r in join_asof_nearest(spark, d).collect()
        }
        assert got == {2: (3, "fwd"), 5: (4, "back"), 7: (None, None)}


class TestMediaAudioRms:
    def test_energy_matches_numpy_and_frames_tile(self, spark, sf_dir):
        import io
        import wave

        import numpy as np

        from flod_spark.catalog.media import (
            _RMS_FRAME,
            _synth_wav_stream,
            media_audio_rms,
        )

        rows = media_audio_rms(spark, sf_dir).collect()
        assert rows
        by_media: dict = {}
        for r in rows:
            by_media.setdefault(r["media_id"], []).append(r)
        checked = list(by_media.items())[:25]
        ids = [mid for mid, _ in checked]
        blobs = {
            r["media_id"]: bytes(r["blob"])
            for r in _synth_wav_stream(spark, sf_dir)
            .filter(F.col("media_id").isin(ids))
            .collect()
        }
        for mid, frames in checked:
            with wave.open(io.BytesIO(blobs[mid])) as w:
                v = np.frombuffer(w.readframes(w.getnframes()), np.uint8).astype(int) - 128
            frames.sort(key=lambda r: r["frame_idx"])
            # frames tile the clip exactly: sizes sum to the sample count
            assert sum(r["n_samples"] for r in frames) == len(v)
            for r in frames:
                lo = r["frame_idx"] * _RMS_FRAME
                seg = v[lo : lo + _RMS_FRAME]
                assert r["energy"] == int((seg * seg).sum())
                assert abs(r["rms"] - (r["energy"] / len(seg)) ** 0.5) < 1e-12


class TestWindowResetCumsum:
    def test_planted_segments(self, spark, tmp_path):
        """Three events 5 min apart, a 31-min gap, then two more: the
        running total must reset at the gap, not carry across it."""
        import datetime as dt

        from flod_spark.catalog.relational import window_reset_cumsum

        t0 = dt.datetime(2025, 6, 1, 9, 0, 0)
        mins = [0, 5, 10, 41, 46]
        d = str(tmp_path / "sfcum")
        os.makedirs(d, exist_ok=True)
        pd.DataFrame(
            {
                "event_id": pd.Series(range(1, 6), dtype="int64"),
                "ts": pd.Series(
                    [t0 + pd.Timedelta(minutes=m) for m in mins], dtype="datetime64[us]"
                ),
                "user_id": pd.Series([7] * 5, dtype="int64"),
                "event_type": ["view"] * 5,
                "value": [1.0, 2.0, 3.0, 10.0, 20.0],
                "props": ["{}"] * 5,
            }
        ).to_parquet(f"{d}/events.parquet")
        rows = sorted(
            window_reset_cumsum(spark, d).collect(), key=lambda r: r["ts"]
        )
        assert [r["segment_id"] for r in rows] == [1, 1, 1, 2, 2]
        assert [r["running_value"] for r in rows] == [1.0, 3.0, 6.0, 10.0, 30.0]


class TestStreamSketchCountMinLive:
    def test_equals_batch_sketch(self, spark, sf_dir):
        from flod_spark.catalog.analytics import sketch_countmin
        from flod_spark.catalog.streaming_live import stream_sketch_countmin_live

        live = {tuple(r) for r in stream_sketch_countmin_live(spark, sf_dir).collect()}
        batch = {tuple(r) for r in sketch_countmin(spark, sf_dir).collect()}
        assert live == batch
        assert live, "live CM test vacuous"


class TestKAnonymityAudit:
    def test_class_sizes_partition_the_table(self, spark, sf_dir):
        from flod_spark.catalog.relational import _KANON_K, k_anonymity_audit

        rows = k_anonymity_audit(spark, sf_dir).collect()
        total = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
        assert sum(r["class_size"] for r in rows) == total
        for r in rows:
            assert r["at_risk"] == (r["class_size"] < _KANON_K)
        assert any(r["at_risk"] for r in rows), "audit vacuous: no small classes"


class TestStreamAsofEnrichLive:
    def test_planted_state_machine(self, spark, tmp_path):
        """click before any signup -> NULL; each click stamps the most
        recent signup, including after the state is overwritten."""
        import datetime as dt

        from flod_spark.catalog.streaming_live import stream_asof_enrich_live

        t0 = dt.datetime(2025, 5, 1, 12, 0, 0)
        rows = [
            # (event_id, minutes, user, type)
            (1, 0, 7, "click"),    # before any signup -> NULL
            (2, 1, 7, "signup"),
            (3, 2, 7, "click"),    # -> 2
            (4, 3, 7, "signup"),
            (5, 4, 7, "click"),    # -> 4 (state overwritten)
            (6, 5, 8, "click"),    # other user, no signup -> NULL
        ]
        d = str(tmp_path / "sfasof")
        os.makedirs(d, exist_ok=True)
        pd.DataFrame(
            {
                "event_id": pd.Series([r[0] for r in rows], dtype="int64"),
                "ts": pd.Series(
                    [t0 + pd.Timedelta(minutes=r[1]) for r in rows],
                    dtype="datetime64[us]",
                ),
                "user_id": pd.Series([r[2] for r in rows], dtype="int64"),
                "event_type": [r[3] for r in rows],
                "value": [0.0] * len(rows),
                "props": ["{}"] * len(rows),
            }
        ).to_parquet(f"{d}/events.parquet")
        got = {
            r["click_id"]: r["signup_id"]
            for r in stream_asof_enrich_live(spark, d).collect()
        }
        assert got == {1: None, 3: 2, 5: 4, 6: None}

    def test_multi_arrow_chunk_groups(self, spark, tmp_path):
        """One user's batch group split across several Arrow record
        batches (maxRecordsPerBatch=4): the state fn must order the
        WHOLE group, not each chunk — every click still maps to the
        signup immediately before it."""
        import datetime as dt

        from flod_spark.catalog.streaming_live import stream_asof_enrich_live

        t0 = dt.datetime(2025, 5, 2, 8, 0, 0)
        rows = []
        eid = 0
        want = {}
        last_signup = None
        for i in range(30):
            eid += 1
            if i % 2 == 0:
                rows.append((eid, i, 7, "signup"))
                last_signup = eid
            else:
                rows.append((eid, i, 7, "click"))
                want[eid] = last_signup
        d = str(tmp_path / "sfasofchunks")
        os.makedirs(d, exist_ok=True)
        pd.DataFrame(
            {
                "event_id": pd.Series([r[0] for r in rows], dtype="int64"),
                "ts": pd.Series(
                    [t0 + pd.Timedelta(seconds=r[1]) for r in rows],
                    dtype="datetime64[us]",
                ),
                "user_id": pd.Series([r[2] for r in rows], dtype="int64"),
                "event_type": [r[3] for r in rows],
                "value": [0.0] * len(rows),
                "props": ["{}"] * len(rows),
            }
        ).to_parquet(f"{d}/events.parquet")
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        prev = spark.conf.get(key)
        spark.conf.set(key, "4")
        try:
            got = {
                r["click_id"]: r["signup_id"]
                for r in stream_asof_enrich_live(spark, d).collect()
            }
        finally:
            spark.conf.set(key, prev)
        assert got == want


class TestStreamBarsOhlcLive:
    def test_equals_batch_bars(self, spark, sf_dir):
        from flod_spark.catalog.streaming_batch import bars_ohlc
        from flod_spark.catalog.streaming_live import stream_bars_ohlc_live

        live = {tuple(r) for r in stream_bars_ohlc_live(spark, sf_dir).collect()}
        batch = {tuple(r) for r in bars_ohlc(spark, sf_dir).collect()}
        assert live == batch
        assert live, "live bars test vacuous"


class TestStreamCdcApplyLive:
    def test_equals_batch_cdc_apply(self, spark, sf_dir):
        from flod_spark.catalog.relational import cdc_apply
        from flod_spark.catalog.streaming_live import stream_cdc_apply_live

        live = {tuple(r) for r in stream_cdc_apply_live(spark, sf_dir).collect()}
        batch = {tuple(r) for r in cdc_apply(spark, sf_dir).collect()}
        assert live == batch
        assert live, "CDC live test vacuous: empty log"

    def test_empty_log(self, spark, tmp_path):
        from flod_spark.catalog.streaming_live import stream_cdc_apply_live

        d = str(tmp_path / "sfcdc")
        os.makedirs(d, exist_ok=True)
        pd.DataFrame(
            {
                "o_orderkey": pd.Series([], dtype="int64"),
                "o_custkey": pd.Series([], dtype="int64"),
                "o_orderstatus": pd.Series([], dtype="object"),
                "o_totalprice": pd.Series([], dtype="float64"),
                "o_orderdate": pd.Series([], dtype="datetime64[us]"),
                "o_orderpriority": pd.Series([], dtype="object"),
            }
        ).to_parquet(f"{d}/orders.parquet")
        assert stream_cdc_apply_live(spark, d).count() == 0


class TestBarsOHLC:
    def test_invariants_on_real_data(self, spark, sf_dir):
        from flod_spark.catalog.streaming_batch import bars_ohlc

        rows = bars_ohlc(spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert r["low"] <= r["open"] <= r["high"]
            assert r["low"] <= r["close"] <= r["high"]
            assert r["n_events"] >= 1

    def test_tie_on_ts_breaks_by_event_id(self, spark, tmp_path):
        """Two events at the IDENTICAL timestamp: open must be the
        lower event_id's value, close the higher's — the composite
        order key is what makes this deterministic where a bare
        arg_min(value, ts) is engine luck."""
        import datetime as dt

        from flod_spark.catalog.streaming_batch import bars_ohlc

        d = str(tmp_path / "sfohlc")
        os.makedirs(d, exist_ok=True)
        t = dt.datetime(2025, 1, 1, 10, 30, 0)
        pd.DataFrame(
            {
                "event_id": pd.Series([2, 1, 3], dtype="int64"),
                "ts": pd.Series([t, t, t], dtype="datetime64[us]"),
                "user_id": pd.Series([1, 2, 3], dtype="int64"),
                "event_type": ["view"] * 3,
                "value": [20.0, 10.0, 30.0],
                "props": ["{}"] * 3,
            }
        ).to_parquet(f"{d}/events.parquet")
        r = bars_ohlc(spark, d).collect()[0]
        assert r["open"] == 10.0  # event_id 1
        assert r["close"] == 30.0  # event_id 3
        assert (r["low"], r["high"]) == (10.0, 30.0)

    def test_large_event_id_cannot_outrank_later_ts(self, spark, tmp_path):
        """ADVICE r6 regression: with the old *1e6 packing, an event
        with id >= 1e6 could outrank an event 1 microsecond LATER —
        silently picking the wrong close. The 2^63 multiplier dominates
        any BIGINT id, so ts strictly wins and id only breaks ties."""
        import datetime as dt

        from flod_spark.catalog.streaming_batch import bars_ohlc

        d = str(tmp_path / "sfbigid")
        os.makedirs(d, exist_ok=True)
        t0 = dt.datetime(2025, 1, 1, 10, 30, 0)
        t1 = t0 + dt.timedelta(microseconds=1)
        # huge-id event arrives FIRST (open), tiny-id event 1µs later
        # (close) — the old packing inverted both
        pd.DataFrame(
            {
                "event_id": pd.Series([5_000_000_000, 1], dtype="int64"),
                "ts": pd.Series([t0, t1], dtype="datetime64[us]"),
                "user_id": pd.Series([1, 2], dtype="int64"),
                "event_type": ["view"] * 2,
                "value": [10.0, 20.0],
                "props": ["{}"] * 2,
            }
        ).to_parquet(f"{d}/events.parquet")
        r = bars_ohlc(spark, d).collect()[0]
        assert r["open"] == 10.0  # earlier ts despite event_id 5e9
        assert r["close"] == 20.0  # later ts despite event_id 1


class TestSketchCountMin:
    def test_overestimate_only_and_mass_conservation(self, spark, sf_dir):
        """The CM guarantees that survive any hash collision pattern:
        est >= true for EVERY key (collisions only add), and each of
        the D sketch rows conserves total stream mass (sum of its W
        counters == N) — the mergeability invariant that makes the
        build one partial-agg exchange."""
        from flod_spark.catalog.analytics import _CM_D, _cm_pos, sketch_countmin

        rows = sketch_countmin(spark, sf_dir).collect()
        assert rows, "CM test vacuous: no keys"
        assert all(r["cm_est"] >= r["true_cnt"] for r in rows)
        ev = (
            spark.read.parquet(f"{sf_dir}/events.parquet")
            .select("user_id")
            .filter(F.col("user_id").isNotNull())
        )
        n = ev.count()
        for i in range(_CM_D):
            row_sum = (
                ev.select(_cm_pos(F.col("user_id"), i).alias("p"))
                .groupBy("p")
                .count()
                .agg(F.sum("count"))
                .collect()[0][0]
            )
            assert row_sum == n


class TestJoinBloom:
    def test_prefilter_prunes_without_false_negatives(self, spark, sf001_dir):
        """The bloom's value proposition, pinned: every true-match fact
        row passes the prefilter (no false negatives — correctness),
        and the pass set is far smaller than the fact table (genuine
        map-side pruning — the reason to build the filter at all)."""
        from flod_spark.catalog.relational import (
            _BLOOM_NATION,
            _bloom_build_words,
            _bloom_hit,
        )

        dim = (
            spark.read.parquet(f"{sf001_dir}/supplier.parquet")
            .filter(F.col("s_nationkey") == _BLOOM_NATION)
            .select("s_suppkey")
        )
        words = _bloom_build_words(dim, "s_suppkey")
        fact = spark.read.parquet(f"{sf001_dir}/lineitem.parquet").select("l_suppkey")
        total = fact.count()
        passed = fact.filter(_bloom_hit(words, F.col("l_suppkey"))).count()
        true_rows = fact.join(dim, fact.l_suppkey == dim.s_suppkey, "left_semi").count()
        assert true_rows > 0, "bloom test vacuous: dim nation has no suppliers"
        assert passed >= true_rows  # no false negatives
        assert passed < total * 0.5, f"prefilter barely prunes: {passed}/{total}"
