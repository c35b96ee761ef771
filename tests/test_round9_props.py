"""Round-9 property tests — driver-side (no Spark session), so hundreds
of random cases run in seconds:

- the chr(31)-encoded DuckDB Sennrich merge fold vs an index-scan
  reference, over random corpora INCLUDING multi-char symbols and
  self-overlapping pairs;
- the sharded lossy counter vs a brute-force Manku–Motwani fold, all
  three guarantees plus exact state equality;
- _drain_sorted vs pandas concat + sort_values over random chunkings.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st


def _sennrich_merge(syms, a, b):
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


_SYM = st.text(alphabet="ab", min_size=1, max_size=3)


@settings(max_examples=200, deadline=None)
@given(
    syms=st.lists(_SYM, min_size=1, max_size=12),
    a=_SYM,
    b=_SYM,
)
def test_duckdb_merge_fold_is_sennrich(syms, a, b):
    """The list_reduce fold with a chr(31)-joined accumulator performs
    EXACTLY the leftmost non-overlapping merge, for any pair over a
    tiny alphabet where self-overlap ('a a' on 'a a a'), merged-token
    re-match hazards ('a ab' after creating 'ab'), and multi-char
    symbols all occur by construction."""
    from flod_spark.catalog.text import _bpe_merge_sql

    fold, mrow = _bpe_merge_sql("m")
    q = (
        f"WITH m AS (SELECT ? AS pair) "
        f"SELECT {fold} AS out FROM (SELECT ? AS s) t, {mrow}"
    )
    got = duckdb.sql(q.replace("?", "$pair", 1).replace("?", "$s", 1),
                     params={"pair": f"{a} {b}", "s": " ".join(syms)}).fetchone()[0]
    assert got.split(" ") == _sennrich_merge(syms, a, b)


class _FakeState:
    def __init__(self):
        self.exists = False
        self._v = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True


def _lossy_reference(batches):
    """Brute-force Manku–Motwani with micro-batch buckets: returns the
    final {key: (c, d)} plus per-key true counts."""
    entries, true, bucket = {}, {}, 0
    for batch in batches:
        if not batch:
            batch = []
        bucket += 1
        agg = {}
        for k in batch:
            agg[k] = agg.get(k, 0) + 1
            true[k] = true.get(k, 0) + 1
        for k, c in agg.items():
            if k in entries:
                entries[k][0] += c
            else:
                entries[k] = [c, bucket - 1]
        entries = {k: e for k, e in entries.items() if e[0] + e[1] > bucket}
    return {k: tuple(e) for k, e in entries.items()}, true, bucket


@settings(max_examples=150, deadline=None)
@given(
    batches=st.lists(
        st.lists(st.sampled_from("abcdefg"), min_size=0, max_size=12),
        min_size=1,
        max_size=6,
    )
)
def test_lossy_shard_fn_matches_reference(batches):
    """_lossy_shard_fn == the textbook fold on arbitrary streams, and
    the three guarantees hold: survivors bracket the true count
    (c <= true <= c + d), no key with true count > B is dismissed, and
    every batch emits exactly one k=NULL bucket marker."""
    from flod_spark.streaming.lossy import _lossy_shard_fn

    st_ = _FakeState()
    for batch in batches:
        pdf = pd.DataFrame({"k": list(batch), "c": [1] * len(batch)})
        out = list(_lossy_shard_fn((0,), iter([pdf]), st_))[0]
        assert list(out["k"]).count(None) == 1
    ks, cs, ds, bucket = st_.get
    got = {k: (c, d) for k, c, d in zip(ks, cs, ds)}
    ref, true, b = _lossy_reference(batches)
    assert got == ref
    assert bucket == b
    for k, (c, d) in got.items():
        assert c <= true[k] <= c + d
    for k, t in true.items():
        if t > b:
            assert k in got


@settings(max_examples=150, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 100), st.integers(-10, 10)),
        min_size=1,
        max_size=30,
    ),
    n_chunks=st.integers(1, 4),
)
def test_drain_sorted_matches_pandas(rows, n_chunks):
    """_drain_sorted == pd.concat + sort_values(keys) for any chunking,
    including duplicate sort keys (lexsort and stable sort_values agree
    because the remaining column order is then data-determined only up
    to ties — compare as sorted tuples)."""
    from flod_spark.streaming.packfold import _drain_sorted

    pdf = pd.DataFrame(rows, columns=["us", "event_id", "x"])
    bounds = sorted(
        np.random.RandomState(len(rows) * n_chunks).choice(
            range(len(pdf) + 1), size=n_chunks - 1, replace=True
        )
    ) if n_chunks > 1 else []
    cuts = [0, *bounds, len(pdf)]
    chunks = [pdf.iloc[cuts[i]:cuts[i + 1]].reset_index(drop=True) for i in range(len(cuts) - 1)]
    got = _drain_sorted(iter(chunks), ("us", "event_id", "x"))
    ref = pd.concat(chunks, ignore_index=True).sort_values(["us", "event_id"])
    got_rows = sorted(zip(got["us"], got["event_id"], got["x"]))
    ref_rows = sorted(zip(ref["us"], ref["event_id"], ref["x"]))
    assert got_rows == ref_rows
    # and the (us, event_id) key sequence itself is exactly sorted
    keys = list(zip(got["us"], got["event_id"]))
    assert keys == sorted(keys)
