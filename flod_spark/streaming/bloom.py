"""Bloom-filter admission as a CONSTANT-state streaming operator — the
second production handoff the unbounded claim-state docstrings name
(stream_dedup_live / stream_ngram_novelty_live: "a Bloom pre-filter per
shard — claims stay exact, membership goes approximate"). The TTL
recipe (streaming_live._ttl_claim_fold) bounds state by the ACTIVE key
horizon; this bounds it by a FIXED bit budget, the right tool when keys
never repeat on a horizon but memory must be O(1): state per shard is
one m-bit bitmap (m/64 longs) regardless of stream length.

Contract (batch-Bloom, deterministic and vectorized):
- a row is SUPPRESSED iff (a) an earlier row in the same batch carries
  the same key, or (b) all k of its bit positions were set by PRIOR
  batches; otherwise it is ADMITTED and its bits are set at the batch
  boundary;
- NO FALSE ADMISSIONS of duplicates: a key's first arrival sets all
  its bits, so every later arrival (same shard — the sharding lemma)
  sees them set and is suppressed. Exact-duplicate suppression is
  therefore EXACT;
- FALSE SUPPRESSIONS (a first arrival whose bits were all set by other
  keys) occur at the classic Bloom rate ~(1 - e^(-k*n/m))^k after n
  admissions — the approximation rider, pinned with a measured bound
  in tests/test_round10_ops.py. Setting bits at the batch boundary
  (not per row) removes intra-batch cross-key collisions, so the
  batch form's false-suppression rate is <= the per-event form's.

Bit positions use Kirsch–Mitzenmacher double hashing pos_i =
(h1 + i*h2) mod m over two independent 64-bit hashes computed
BATCH-SIDE in Spark (xxhash64 with distinct salts) — the fold only
does integer index arithmetic, fully vectorized (np bit ops on the
uint64 word array; zero per-key Python).

Scale: m sizes by the expected distinct-key budget (n bits at k=4 and
m = 16n gives ~2e-4 false suppression); shard count tracks executors;
the bitmap OR-merges, so shard splits/rebalances compose. The fold is
one np.take + bitwise-AND reduce per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# gate-scale demo sizing: 2^16 bits (8 KiB) per shard, 4 probes
BLOOM_M = 1 << 16
BLOOM_K = 4
N_SHARDS = 8


def _bloom_positions(h1, h2, m: int, k: int):
    """k Kirsch–Mitzenmacher positions per key: (h1 + i*h2) mod m,
    vectorized over int64 hash arrays (cast to uint64 so the wrap is
    the same modular arithmetic in numpy and on paper)."""
    import numpy as np

    a = h1.astype("uint64")
    b = h2.astype("uint64")
    return np.stack(
        [(a + np.uint64(i) * b) % np.uint64(m) for i in range(k)], axis=1
    )


def _bloom_shard_fn(key, pdfs, state):
    """Per-shard Bloom admission fold. State = (m/64 uint64 words as
    longs,). Rows arrive with batch-side hashes (h1, h2) and a unique
    row id; emits the ADMITTED rows. Vectorized end-to-end: duplicate
    keys inside the batch drop via pandas duplicated() on the actual
    key column k (NOT the (h1, h2) hash pair — see clause (a) below);
    membership is a np.take + AND-reduce over the k probe words;
    inserts are one np.bitwise_or.reduceat-free scatter (bit OR at
    unique word indexes via np.bitwise_or.at)."""
    import numpy as np
    import pandas as pd

    from flod_spark.streaming.packfold import _drain_sorted

    words = (
        np.asarray(state.get[0], dtype="int64").view("uint64")
        if state.exists
        else np.zeros(BLOOM_M // 64, dtype="uint64")
    )
    b = _drain_sorted(pdfs, ("rid", "h1", "h2", "k"), keys=("rid",))
    rid, h1, h2 = b["rid"], b["h1"], b["h2"]
    if len(rid):
        # (a) intra-batch exact-duplicate suppression on the ACTUAL key
        # (not the (h1, h2) pair): two distinct keys colliding on both
        # 64-bit hashes within one batch must BOTH admit (contract
        # clause (a) says suppression requires the same key) — they set
        # the same bits, and either one arriving later is suppressed by
        # (b), exactly as if it had collided across batches
        first = ~pd.Series(b["k"]).duplicated().to_numpy()
        pos = _bloom_positions(h1, h2, BLOOM_M, BLOOM_K)  # (n, k)
        word_idx = (pos >> np.uint64(6)).astype("int64")
        bit = np.uint64(1) << (pos & np.uint64(63))
        # (b) membership vs PRIOR-batch bits: all k probe bits set?
        seen = ((words.take(word_idx) & bit) != 0).all(axis=1)
        admit = first & ~seen
        # set the admitted keys' bits at the batch boundary
        wi = word_idx[admit].ravel()
        bv = bit[admit].ravel()
        np.bitwise_or.at(words, wi, bv)
    else:
        admit = np.zeros(0, dtype=bool)
    state.update((words.view("int64").tolist(),))
    yield pd.DataFrame({"rid": rid[admit]})


def bloom_admit(src: DataFrame, key_cols: tuple, rid_col: str) -> DataFrame:
    """Attach the sharded Bloom admission fold to a streaming DataFrame:
    ``key_cols`` define the duplicate identity, ``rid_col`` is a unique
    long row id carried through (join the admitted rid set back against
    the batch table for full rows — the claims-are-compact discipline:
    only (shard, rid) longs cross the state operator's output).

    Sharding is xxhash64 over the key (every occurrence of a key lands
    in ONE shard — the heavy-hitters sharding lemma, so per-shard
    suppression guarantees are global); h1/h2 are two more
    distinctly-salted xxhash64 passes, independent of the shard hash."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    k = F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols])
    keyed = src.select(
        F.pmod(F.xxhash64(F.lit("shard|"), k), F.lit(N_SHARDS)).alias("shard"),
        F.xxhash64(F.lit("b1|"), k).alias("h1"),
        F.xxhash64(F.lit("b2|"), k).alias("h2"),
        # the concatenated key itself rides along (batch rows only,
        # never state) so intra-batch dedup keys on the KEY, immune to
        # 128-bit hash-pair collisions
        k.alias("k"),
        F.col(rid_col).alias("rid"),
    )
    return keyed.groupBy("shard").applyInPandasWithState(
        _bloom_shard_fn,
        outputStructType="rid long",
        stateStructType="words array<long>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
