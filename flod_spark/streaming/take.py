"""Stateful streaming take(n) — flod's short-circuit semantics on an
unbounded stream (SURVEY §4.2-2).

flod's `take` (package.d:114-199) truncates the stream and signals
upstream stop via short writes (adapter.d:110-113). On a Spark stream,
batch `limit` is unsupported mid-stream, so the guard is explicit state:
a per-key counter in applyInPandasWithState; rows past n are dropped and
the state marks exhaustion.

Global (keyless) take at scale: route every row to key = 0 is a
single-partition bottleneck — instead take n per partition upstream,
then a tiny final take in the sink (the standard two-level top-n trick);
per-key take below is the shuffle-friendly primitive both build on.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _take_drain(pdfs, taken: int, n: int, cols, time_col: str):
    """Drain one key's micro-batch chunks and take the earliest
    ``n - taken`` rows by ``time_col`` — the pure fold tests fuzz over
    chunkings. Routes through _drain_sorted (round 11 — the lexsort
    fast path; zero pandas sorts remain in any state function), which
    also makes the result CHUNKING-INVARIANT: the old per-chunk
    sort_values().head() could emit non-earliest rows when Arrow split
    a batch mid-key with interleaved times. Returns (DataFrame | None,
    new_taken)."""
    from flod_spark.streaming.packfold import _drain_sorted

    if taken >= n:
        return None, taken
    b = _drain_sorted(pdfs, cols, keys=(time_col,))
    emit = min(n - taken, len(b[time_col]))
    if emit == 0:
        return None, taken
    return pd.DataFrame({c: b[c][:emit] for c in cols}), taken + emit


def streaming_take_per_key(
    events: DataFrame,
    n: int,
    key_col: str = "user_id",
    time_col: str = "ts",
) -> DataFrame:
    """First n rows per key, in micro-batch arrival order (within a batch,
    ordered by time_col for determinism — across ALL the batch's Arrow
    chunks, not per chunk)."""
    schema = events.schema
    cols = tuple(f.name for f in schema.fields)
    out_fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)

    def take_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        taken = state.get[0] if state.exists else 0
        out, taken = _take_drain(pdfs, taken, n, cols, time_col)
        state.update((taken,))
        if out is not None:
            yield out

    return events.groupBy(key_col).applyInPandasWithState(
        take_fn,
        outputStructType=out_fields,
        stateStructType="taken long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
