"""Round-10 property tests — driver-side (no Spark session), fuzzing the
machinery-diet folds against the textbook per-event/per-key references
they replaced (the round-9 verdict's item 1: the state functions must be
loop-free numpy AND bitwise-equal to the old interpreted forms):

- the vectorized _mg_absorb (catalog/analytics.py) vs the textbook
  Misra-Gries dict fold, exact final map equality;
- _wsample_shard_fn vs a Python sorted() top-k reference, exact state
  and emission equality including float priorities.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st


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


# ------------------------------------------------------------- Misra-Gries


def _mg_dict_reference(chunks, C):
    """The dict fold the vectorized _mg_absorb replaced (verbatim
    semantics: absorb, then batched-decrement past C entries)."""
    counters: dict = {}
    for chunk in chunks:
        for k in chunk:
            counters[k] = counters.get(k, 0) + 1
        if len(counters) > C:
            excess = sorted(counters.values(), reverse=True)[C]
            counters = {k: c - excess for k, c in counters.items() if c > excess}
    return counters


@settings(max_examples=200, deadline=None)
@given(
    stream=st.lists(st.integers(0, 40), min_size=0, max_size=300),
    chunk=st.integers(1, 60),
)
def test_mg_absorb_matches_dict_reference(stream, chunk):
    """The vectorized searchsorted-merge _mg_absorb == the textbook
    dict fold on arbitrary streams and chunkings — exact final map
    equality, not just heavy-key membership. (_HH_C = 160 never trims
    at hypothesis sizes, so the trim branch is exercised against a
    smaller C by monkeypatching the module constant.)"""
    import flod_spark.catalog.analytics as A

    chunks = [stream[i : i + chunk] for i in range(0, len(stream), chunk)]
    for C in (3, 160):
        old = A._HH_C
        A._HH_C = C
        try:
            ks = np.empty(0, dtype="int64")
            vs = np.empty(0, dtype="int64")
            for ch in chunks:
                bk, bc = np.unique(np.asarray(ch, dtype="int64"), return_counts=True)
                ks, vs = A._mg_absorb(ks, vs, bk, bc.astype("int64"))
            got = dict(zip(ks.tolist(), vs.tolist()))
        finally:
            A._HH_C = old
        assert got == _mg_dict_reference(chunks, C)


# ------------------------------------------------- weighted-reservoir top-k


@settings(max_examples=150, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 10_000),
            st.integers(0, 100),
            st.floats(
                min_value=0.0, max_value=1e12, allow_nan=False, allow_infinity=False
            ),
        ),
        min_size=0,
        max_size=40,
        unique_by=lambda r: r[0],
    ),
    n_batches=st.integers(1, 4),
    seed=st.integers(0, 2**31 - 1),
)
def test_wsample_fold_matches_sorted_reference(rows, n_batches, seed):
    """_wsample_shard_fn's lexsort top-k == Python sorted() with key
    (-priority, doc_id) folded over the same batches — exact state AND
    emission equality, including duplicate float priorities (doc_id
    breaks ties; doc_ids are unique by construction, as in the feed)."""
    from flod_spark.catalog.sampling import _PRI_K
    from flod_spark.catalog.streaming_live import _wsample_shard_fn

    rng = np.random.default_rng(seed)
    cuts = sorted(rng.integers(0, len(rows) + 1, size=n_batches - 1).tolist())
    batches = [rows[a:b] for a, b in zip([0, *cuts], [*cuts, len(rows)])]

    state = _FakeState()
    ref: list = []
    for batch in batches:
        pdf = pd.DataFrame(
            {
                "doc_id": pd.Series([r[0] for r in batch], dtype="int64"),
                "n_chars": pd.Series([r[1] for r in batch], dtype="int64"),
                "priority": pd.Series([r[2] for r in batch], dtype="float64"),
            }
        )
        out = list(_wsample_shard_fn((0,), iter([pdf]), state))[0]
        ref.extend((r[2], r[0], r[1]) for r in batch)
        ref = sorted(ref, key=lambda e: (-e[0], e[1]))[:_PRI_K]
        assert list(out["doc_id"]) == [e[1] for e in ref]
        assert list(out["n_chars"]) == [e[2] for e in ref]
        # bit-exact float passthrough: compare identity, not closeness
        assert [p for p in out["priority"]] == [e[0] for e in ref]
    ids, ws, ps = state.get
    assert ids == [e[1] for e in ref]
    assert ws == [e[2] for e in ref]
    assert ps == [e[0] for e in ref]
