"""Structured Streaming surface (SURVEY.md §2.5 streaming rows + phase 2).

flod streams are unbounded arrival-ordered element flows with no event
time; Spark's model adds event time + watermarks. This package provides:

- replay:   file-backed deterministic micro-batch replay of a batch table
            (the test harness for stream/batch parity — FIXTURES.md
            events_replay)
- gate:     the one stream-gate seam — spool() replays a table into a
            temp dir it owns (and reads the order column's max from the
            spool's footers); drain() runs a stream dry into a memory
            sink or a foreachBatch function
- packfold: keyed state packed per hash shard (sorted int64 keys +
            aligned int64 blobs) and the one per-user fold seam,
            packed_user_fold — a gate declares its value column, state
            fields and outputs, and writes only its step arithmetic
- windows:  tumbling / sliding / session event-time windows with
            watermarks (batch twins in catalog/streaming_batch.py)
- take:     stateful streaming take(n) — flod's short-circuit semantics
            (push returning < chunk length, adapter.d:110-113) on an
            unbounded stream
- queue:    OutputRangeSource (S5) as a streaming source: caller put()s
            chunks, each becomes a micro-batch
- dedup:    first-arrival dedup in both state regimes (unbounded exact /
            watermark-bounded)
- bloom:    fixed-budget Bloom admission pre-filter (constant m-bit state
            per shard; the third bounded-state regime next to TTL —
            catalog/streaming_live._ttl_claim_fold — and watermark dedup)
- lossy:    Manku–Motwani lossy counting (bounded heavy-tail counters)
- infinite: unbounded rate source (flod's infinite-range pipes,
            range.d:107-119) + the take guard that terminates it
"""

from flod_spark.streaming.bloom import bloom_admit
from flod_spark.streaming.dedup import drop_duplicates_unbounded, drop_duplicates_within
from flod_spark.streaming.infinite import rate_source, take_infinite
from flod_spark.streaming.queue import StreamingQueue
from flod_spark.streaming.replay import replay_stream
from flod_spark.streaming.windows import session_windows, sliding_counts, tumbling_counts
from flod_spark.streaming.sessionize import streaming_sessionize
from flod_spark.streaming.take import streaming_take_per_key

__all__ = [
    "bloom_admit",
    "streaming_sessionize",
    "StreamingQueue",
    "drop_duplicates_unbounded",
    "drop_duplicates_within",
    "replay_stream",
    "tumbling_counts",
    "sliding_counts",
    "session_windows",
    "streaming_take_per_key",
    "rate_source",
    "take_infinite",
]
