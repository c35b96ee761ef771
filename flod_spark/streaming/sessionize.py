"""Custom stateful streaming SESSIONIZER — applyInPandasWithState with
event-time timeouts (the second custom stateful operator next to
streaming/take.py, and the hand-rolled twin of session_window()).

Why build it when session_window exists: flod's stage-authoring model
(user struct with peek/consume methods, traits.d:64-92) maps to Spark's
arbitrary-stateful API, and a sessionizer exercises the parts take(n)
does not — event-time TIMEOUTS (watermark-driven state eviction) and
multi-field state merged across micro-batches.

Emission contract (what makes an exact oracle possible):
- a session CLOSED BY DATA (a later event of the same key beyond the
  gap) emits deterministically, independent of watermarks;
- a session still open at end-of-stream emits iff the final watermark
  passed its timeout: wm_ms > (last_us + gap_us) // 1000, with
  wm_ms = (max_event_us // 1000) - delay_ms — exactly Spark's
  millisecond watermark arithmetic (EventTimeWatermarkExec truncates
  event times to ms before the max/delay), replicated in the oracle;
  Spark's no-data micro-batch (on by default) guarantees the final
  timeout batch runs.

Scale: state is 3 longs per OPEN session per key, sharded by key hash;
the watermark bounds it to keys active in the last gap+delay window.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from flod_spark.io import ts_micros
from flod_spark.streaming.windows import with_event_time

GAP_US = 30 * 60 * 1_000_000


# Shard count for the packed-state form (r17): results are
# shard-count independent — a key's sessions never cross shards — so
# this is a machinery knob (Python invocations per trigger), not a
# semantics one. 8 matches the novelty/detector gates.
_SESS_SHARDS = 8


def streaming_sessionize(
    events: DataFrame,
    gap_us: int = GAP_US,
    watermark: str = "2 hours",
    key_col: str = "user_id",
    time_col: str = "ts",
) -> DataFrame:
    """(key, session_start_us, session_end_us, n_events) per closed
    session. Input is a streaming DF; rows of one key must arrive in
    event-time order ACROSS micro-batches (replay_stream guarantees it;
    within a batch we sort).

    r17 (guide §4): grouped by pmod(xxhash64(key), _SESS_SHARDS)
    instead of per key — one Python invocation + state round trip per
    SHARD per trigger, per-key session state packed inside the shard
    row (streaming/packfold.py), fold vectorized across keys. The
    per-key form registered one event-time timeout per key; the shard
    registers the MIN deadline of its open sessions and emits every
    session whose deadline the current watermark passed (wm_ms >
    (last_us + gap_us) // 1000 — the module's exact emission rule) on
    each invocation, re-arming with the next min. Equivalence of the
    eager per-invocation sweep: the watermark is monotone, so any
    session it emits would have emitted by per-key timeout in this or
    a later batch with the SAME (start, last, n) — any later event of
    that key passes the watermark filter (ts_ms >= wm > deadline),
    hence gap > gap_us, hence it could only have closed the carried
    session by data with identical values."""
    import numpy as np

    from flod_spark.streaming.packfold import (
        _gather,
        _lookup,
        _merge_packed,
        _packed_get,
        _packed_put,
        _segments,
    )

    src = (
        with_event_time(events, time_col)
        .withWatermark(time_col, watermark)
        .select(
            F.pmod(F.xxhash64(key_col), F.lit(_SESS_SHARDS)).alias("_shard"),
            F.col(key_col).alias("_k"),
            time_col,
            ts_micros(time_col).alias("_us"),
        )
    )

    def sess_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        su, sst, sla, sn = _packed_get(state, (1, 1, 1, 1))
        out = []  # (keys, starts, ends, ns) blocks to emit
        chunks = [] if state.hasTimedOut else list(pdfs)
        if chunks:
            pdf = (
                chunks[0]
                if len(chunks) == 1
                else pd.concat(chunks, ignore_index=True)
            )
            uid = pdf["_k"].to_numpy("int64")
            us = pdf["_us"].to_numpy("int64")
            order = np.lexsort((us, uid))
            uid, us = uid.take(order), us.take(order)
            starts_m, seg, uu, inner, lens = _segments(uid)
            found, pos = _lookup(su, uu)
            st0 = _gather(sst, pos, found)
            la0 = _gather(sla, pos, found)
            n0 = _gather(sn, pos, found)
            # session runs: maximal per-key time runs with gaps <= gap
            prev = np.concatenate([[0], us[:-1]])
            brk = starts_m | ((us - prev) > gap_us)
            rs = np.flatnonzero(brk)
            re_ = np.append(rs[1:] - 1, len(us) - 1)
            r_start = us[rs].copy()
            r_end = us[re_]
            r_n = (re_ - rs + 1).astype("int64")
            r_seg = seg[rs]
            # each key's FIRST run extends its carried open session iff
            # the gap allows (applied to every key at once); otherwise
            # the carry closes ahead
            fr = np.flatnonzero(starts_m[rs])  # one first-run per key
            ext = np.zeros(len(rs), dtype=bool)
            ext[fr] = found & ((r_start[fr] - la0) <= gap_us)
            r_n = r_n + np.where(ext, n0[r_seg], 0)
            r_start = np.where(ext, st0[r_seg], r_start)
            carry_closed = found & ~ext[fr]
            if carry_closed.any():
                out.append(
                    (
                        uu[carry_closed],
                        st0[carry_closed],
                        la0[carry_closed],
                        n0[carry_closed],
                    )
                )
            # every run but each key's last closes by data; the last
            # stays open as the key's new state
            lr = np.append(fr[1:] - 1, len(rs) - 1)
            open_m = np.zeros(len(rs), dtype=bool)
            open_m[lr] = True
            if (~open_m).any():
                c = ~open_m
                out.append((uu[r_seg[c]], r_start[c], r_end[c], r_n[c]))
            su, sst, sla, sn = _merge_packed(
                su,
                [sst, sla, sn],
                uu,
                found,
                pos,
                [r_start[lr], r_end[lr], r_n[lr]],
            )
        # watermark sweep: emit + evict every open session whose
        # event-time deadline the current watermark passed (ms — the
        # per-key timeout's exact firing rule), then re-arm with the
        # min remaining deadline (>= wm by construction, which
        # setTimeoutTimestamp requires)
        wm = state.getCurrentWatermarkMs()
        dl = (sla + gap_us) // 1000
        exp = dl < wm
        if exp.any():
            out.append((su[exp], sst[exp], sla[exp], sn[exp]))
            keep = ~exp
            su, sst, sla, sn = su[keep], sst[keep], sla[keep], sn[keep]
            dl = dl[keep]
        if len(su):
            _packed_put(state, (su, sst, sla, sn))
            state.setTimeoutTimestamp(int(dl.min()))
        elif state.exists:
            state.remove()
        if out:
            yield pd.DataFrame(
                {
                    "key": np.concatenate([o[0] for o in out]),
                    "start_us": np.concatenate([o[1] for o in out]),
                    "end_us": np.concatenate([o[2] for o in out]),
                    "n_events": np.concatenate([o[3] for o in out]),
                }
            )

    return src.groupBy("_shard").applyInPandasWithState(
        sess_fn,
        outputStructType="key long, start_us long, end_us long, n_events long",
        stateStructType="users binary, start_us binary, last_us binary, n binary",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    ).select(
        F.col("key").alias(key_col), "start_us", "end_us", "n_events"
    )
