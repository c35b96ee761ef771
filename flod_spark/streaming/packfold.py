"""Packed per-key state folded at SHARD granularity (r17, guide §4).

The per-key applyInPandasWithState gates paid one Python fn invocation
+ one state round trip PER KEY per trigger (~1.5k keys at gate scale) —
the Python-call machinery, not the arithmetic, was the cost. These
helpers let a gate group by pmod(xxhash64(key), n_shards) instead and
keep EVERY key's state packed inside its shard's state row: sorted
int64 key ids plus aligned int64 value blobs (raw .tobytes()
serialization — the novelty-blob discipline), with the fold vectorized
ACROSS keys. Results are shard-count independent: a key's fold never
crosses shards, and the per-key arithmetic is preserved op for op.

Layout conventions:
- every field is int64; a field of width w > 1 is a left-aligned
  zero-padded (n_keys, w) history matrix with a separate count field;
- `_merge_packed` keeps the key array sorted so `_lookup` stays a
  searchsorted;
- `_packed_put` writes the state back as each field's raw bytes, in
  field order.

`packed_user_fold` is the one per-user fold seam over this codec: a gate
declares its value column, state fields and output columns, and writes
only the step arithmetic.
"""

from __future__ import annotations

import functools


def _packed_get(state, widths):
    """Unpack a shard's state blobs into int64 arrays; width > 1
    reshapes that field to (n_keys, width)."""
    import numpy as np

    if not state.exists:
        return [
            np.empty((0, w) if w > 1 else 0, dtype="int64") for w in widths
        ]
    out = []
    for blob, w in zip(state.get, widths):
        a = (
            np.frombuffer(blob, dtype="int64")
            if blob
            else np.empty(0, dtype="int64")
        )
        out.append(a.reshape(-1, w) if w > 1 else a)
    return out


def _packed_put(state, arrays):
    """Write a shard's packed state: each array's raw int64 bytes, in
    field order (the layout `_packed_get` reads back)."""
    state.update(tuple(a.tobytes() for a in arrays))


def _segments(uid):
    """Per-key segments of a (key, ...)-sorted batch: (starts mask,
    seg id per row, unique keys, within-seg row index, seg lengths)."""
    import numpy as np

    n = len(uid)
    starts = np.empty(n, dtype=bool)
    if n:
        starts[0] = True
        starts[1:] = uid[1:] != uid[:-1]
    seg = np.cumsum(starts) - 1
    first = np.flatnonzero(starts)
    lens = np.diff(np.append(first, n))
    inner = np.arange(n) - (first[seg] if n else np.empty(0, dtype="int64"))
    return starts, seg, uid[starts], inner, lens


def _lookup(su, uu):
    """found mask + position into sorted state keys for each batch key
    (position valid only where found)."""
    import numpy as np

    if not len(su):
        return np.zeros(len(uu), dtype=bool), np.zeros(len(uu), dtype="int64")
    pos = np.minimum(np.searchsorted(su, uu), len(su) - 1)
    return su[pos] == uu, pos


def _gather(a, pos, found, default=0):
    """Carried per-key values for the batch's keys: a[pos] where found,
    ``default`` (scalar, or zero rows for 2-D) otherwise."""
    import numpy as np

    if a.ndim == 2:
        if not len(a):
            return np.zeros((len(pos), a.shape[1]), dtype="int64")
        return np.where(found[:, None], a[pos], 0)
    if not len(a):
        return np.full(len(pos), default, dtype="int64")
    return np.where(found, a[pos], default)


def _ragged_pos(offs, lens):
    """Concatenated positions offs[k] + (0..lens[k]-1), row-major."""
    import numpy as np

    tot = int(lens.sum())
    if not tot:
        return np.empty(0, dtype="int64")
    first = np.concatenate([[0], np.cumsum(lens)[:-1]])
    return np.repeat(offs, lens) + (np.arange(tot) - np.repeat(first, lens))


def _hist_vals(rows, cnt):
    """First cnt[k] values of each left-aligned history row,
    concatenated row-major — the ragged view of the packed matrix."""
    import numpy as np

    return rows[np.arange(rows.shape[1]) < cnt[:, None]]


def _take_last(cat, offs, blk, width):
    """Last min(blk, width) values of each key's block in ``cat`` as a
    left-aligned zero-padded (n, width) matrix + per-key counts —
    the next trigger's carried history."""
    import numpy as np

    cnt = np.minimum(blk, width)
    vals = cat[_ragged_pos(offs + blk - cnt, cnt)]
    rows = np.zeros((len(blk), width), dtype="int64")
    tot = int(cnt.sum())
    first = np.concatenate([[0], np.cumsum(cnt)[:-1]])
    rows[
        np.repeat(np.arange(len(blk)), cnt),
        np.arange(tot) - np.repeat(first, cnt),
    ] = vals
    return rows, cnt


def _merge_packed(su, olds, uu, found, pos, news):
    """Fold the batch keys' new values back into the packed state:
    found keys update in place, unseen keys merge key-sorted (the
    _ttl_claim_fold merge discipline). Returns [keys, *fields]."""
    import numpy as np

    upds = []
    for old, new in zip(olds, news):
        cur = old.copy()
        cur[pos[found]] = new[found]
        upds.append(np.concatenate([cur, new[~found]]))
    mu = np.concatenate([su, uu[~found]])
    order = np.argsort(mu, kind="stable")
    return [mu.take(order)] + [u.take(order, axis=0) for u in upds]


def _drain_sorted(pdfs, cols, keys=("us", "event_id")):
    """Drain one key's Arrow chunks into numpy arrays sorted by
    ``keys`` — the cheap path around pandas concat + sort_values.
    Measured at 17-row batches (sf0.1's per-key-per-trigger size):
    sort_values alone is ~315us and a Series-based output frame ~240us
    per call, ~0.6 ms of pure machinery x |keys| x |triggers| — this
    helper (single-chunk fast path, lexsort, take-only-when-unsorted)
    cuts it to ~30us. Order semantics identical: lexsort's last key is
    primary, and the take is skipped only when already totally sorted."""
    import numpy as np
    import pandas as pd

    chunks = list(pdfs)
    if not chunks:
        # Timeout-only invocation (EventTimeTimeout callers get zero
        # chunks): empty arrays, not pd.concat([]) which raises. Current
        # callers are all NoTimeout, but any future timeout-driven
        # caller hits this path.
        return {c: np.empty(0, dtype=object) for c in cols}
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    arrs = {c: pdf[c].to_numpy() for c in cols}
    order = np.lexsort(tuple(arrs[k] for k in reversed(keys)))
    if not np.array_equal(order, np.arange(len(order))):
        arrs = {c: a.take(order) for c, a in arrs.items()}
    return arrs


_FOLD_COLS = ("user_id", "event_id", "us")


def packed_user_fold(value, fields, outputs):
    """Declare a per-user fold over a shard's packed state; decorates
    its ``step`` and returns the ``(key, pdfs, state)`` function that
    applyInPandasWithState calls once per shard per trigger.

    ``value`` is the int64 value column, ``fields`` maps each state
    field to its width (after the leading ``users`` key field) and
    ``outputs`` names the int64 columns the step emits. The fold drains
    the shard sorted by (user_id, us, event_id), so each user's rows are
    contiguous and in the order a per-user fold would see them, then
    calls ``step(x, segs, found, pos, *carried)`` with the values, the
    `_segments` tuple, the `_lookup` of the batch users in state and the
    carried packed fields. The step returns ``(output columns, new
    per-user field values)``; the fold merges the new values into state
    and yields ``user_id, event_id, us`` plus the outputs.

    The returned function keeps the step's name and module, so it
    pickles by reference like any module-level function, and carries
    its schemas as ``value``, ``state_ddl`` and ``output_ddl``."""
    widths = tuple(fields.values())

    def deco(step):
        @functools.wraps(step)
        def fold(key, pdfs, state):
            import pandas as pd

            su, *olds = _packed_get(state, (1, *widths))
            b = _drain_sorted(
                pdfs, (*_FOLD_COLS, value), keys=("user_id", "us", "event_id")
            )
            segs = _segments(b["user_id"])
            uu = segs[2]
            found, pos = _lookup(su, uu)
            cols, news = step(b[value], segs, found, pos, *olds)
            _packed_put(state, _merge_packed(su, olds, uu, found, pos, news))
            yield pd.DataFrame(
                {
                    **{c: b[c] for c in _FOLD_COLS},
                    **{c: v.astype("int64") for c, v in zip(outputs, cols)},
                }
            )

        fold.value = value
        fold.state_ddl = ", ".join(f"{f} binary" for f in ("users", *fields))
        fold.output_ddl = ", ".join(f"{c} long" for c in (*_FOLD_COLS, *outputs))
        return fold

    return deco
