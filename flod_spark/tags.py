"""Engine-layer tag/metadata propagation (flod metadata.d:1-448, SURVEY §1.5).

flod's tag engine threads typed key->value metadata through a pipeline:
a @tagSetter stage publishes a value, every downstream @tagGetter reads
the NEAREST UPSTREAM setter's value (metadata.d:102-116, resolution
rule metadata.d:256-264), and onChange hooks fire when a setter between
this stage and the next setter re-publishes (pipeline.d:251-262).

Spark mapping (SURVEY §1.5 row "Tags/metadata"):

- STATIC tags ride the plan itself as ``StructField.metadata``: a value
  set here is visible at every downstream plan node that still carries
  the column — Catalyst propagates field metadata through projections,
  filters, limits, and even parquet round-trips (Spark persists field
  metadata in the parquet schema). Nearest-upstream-setter falls out of
  plan structure: a downstream ``set_tag`` overwrites the field metadata
  its subtree sees, while siblings/upstream nodes keep the old value —
  exactly the "setter shadows setter" rule in metadata.d:256-264.
- DYNAMIC per-run tags (values that only exist once data flows, e.g.
  flod's sample-rate discovered by a decoder mid-stream) map to
  ``observe()``: batch reads them through ``pyspark.sql.Observation``
  after an action; streaming surfaces them per micro-batch through
  ``StreamingQueryListener.onQueryProgress.observedMetrics``, which is
  what ``TagChangeListener`` bridges to flod-style onChange callbacks.

Scale: tags are schema metadata + aggregate observations — nothing here
touches row data, adds a shuffle, or grows with input size.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQueryListener

_NS = "flod.tags"  # namespace key inside StructField.metadata


# ---------------------------------------------------------------- static

def set_tag(df: DataFrame, key: str, value: Any) -> DataFrame:
    """@tagSetter (metadata.d:38-41): publish key=value to every
    downstream consumer of this plan node. The tag dict is merged into
    the metadata of EVERY current column so it survives any projection
    that keeps at least one of them."""
    out = df
    for c in df.columns:
        meta = dict(df.schema[c].metadata or {})
        ns = dict(meta.get(_NS) or {})
        ns[key] = value
        meta[_NS] = ns
        out = out.withMetadata(c, meta)
    return out


def get_tag(df: DataFrame, key: str, default: Any = None) -> Any:
    """@tagGetter: the nearest upstream setter's value as seen at this
    plan node (metadata.d:102-116). Raises KeyError if no upstream
    setter and no default given (mirrors the reference's compile error
    'There is no setter for tag X before stage #i')."""
    for f in df.schema.fields:
        ns = (f.metadata or {}).get(_NS) or {}
        if key in ns:
            return ns[key]
    if default is not None:
        return default
    raise KeyError(f"tag {key!r} has no upstream setter (metadata.d:102-116 semantics)")


def tags_of(df: DataFrame) -> dict[str, Any]:
    """All tags visible at this plan node (merged across columns;
    first column wins on conflict, matching get_tag's scan order)."""
    merged: dict[str, Any] = {}
    for f in reversed(df.schema.fields):
        merged.update((f.metadata or {}).get(_NS) or {})
    return merged


# --------------------------------------------------------------- dynamic

def observe_tags(df: DataFrame, name: str, **aggs) -> tuple[DataFrame, Any]:
    """Dynamic per-run tags: attach named aggregate observations that
    materialize when an action runs (flod's runtime tag publication —
    the value doesn't exist until data flows).

    Batch: returns (df, Observation); after any action on df,
    ``observation.get`` is the {tag: value} dict.
    Streaming: pass a plain name string via df.observe(name, ...) and
    read per-batch values through TagChangeListener instead.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    out = df.observe(obs, *[expr.alias(k) for k, expr in aggs.items()])
    return out, obs


def observe_stream_tags(df: DataFrame, name: str, **aggs) -> DataFrame:
    """Streaming form of observe_tags: metrics appear in every micro-
    batch's QueryProgress.observedMetrics[name] (bridge: TagChangeListener)."""
    return df.observe(name, *[expr.alias(k) for k, expr in aggs.items()])


class TagChangeListener(StreamingQueryListener):
    """onChange bridge (pipeline.d:251-262): fires callback(new_value)
    whenever an observed metric's value CHANGES between micro-batches —
    the streaming analog of flod's 'setter republished' notification.

    Usage::

        lis = TagChangeListener({"rates/sample_rate": cb})
        spark.streams.addListener(lis)
        df = observe_stream_tags(stream_df, "rates", sample_rate=F.max("rate"))
        ... run the query ...
        spark.streams.removeListener(lis)

    Callback key is "<observation_name>/<metric_alias>". Callbacks run
    on the listener-bus thread — keep them cheap (flod's are synchronous
    driver-side hooks too, metadata.d:441-448).
    """

    def __init__(self, callbacks: dict[str, Callable[[Any], None]]):
        self._callbacks = dict(callbacks)
        self._last: dict[str, Any] = {}

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        progress = event.progress
        observed = progress.observedMetrics or {}
        for obs_name, row in observed.items():
            for metric, value in row.asDict().items():
                k = f"{obs_name}/{metric}"
                cb = self._callbacks.get(k)
                if cb is None:
                    continue
                if k not in self._last or self._last[k] != value:
                    self._last[k] = value
                    cb(value)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass
