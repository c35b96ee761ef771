"""End-to-end training-data prep composite (the flagship chain).

One query composes the five stages every LLM corpus pipeline runs —
C4-style quality filter -> benchmark decontamination -> exact dedup
(canonical doc per fingerprint) -> deterministic train/val/test split
-> mixture audit — with a single composed DuckDB oracle, proving the
stages COMPOSE exactly, not just pass in isolation. Stage expressions
are shared with their standalone qkeys (doc_quality, decontaminate,
dedup_exact, split_assign, token_count), so a drift in any one breaks
both its own gate cell and this one.

Scale (100 TB): filter and split are map-only expressions fused into
the scan; decontamination broadcasts the benchmark shingle set so the
corpus side stays map-only plus one per-doc count agg; dedup is one
shuffle on the 16-byte fingerprint; the audit is a partial-agg count
over ~15 groups. Nothing here collects, caches, or carries text past
the stage that needs it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flod_spark.catalog.dedup import (
    DECON_BENCH_MOD,
    DECON_MIN_OVERLAP,
    _NORM_SQL,
    _TOK_SQL,
    _ngram_arr_col,
    _ngram_sql,
    _norm_col,
)
from flod_spark.catalog.sampling import TRAIN_FRAC, VAL_FRAC, _hash_prefix, _sql_hash_prefix, _thr
from flod_spark.catalog.text import (
    BPE_RE,
    PUNCT_RE,
    QUALITY_MAX_PUNCT,
    QUALITY_MIN_CHARS,
    QUALITY_MIN_STOP,
    QUALITY_MIN_TOKENS,
    STOP_COUNT_SQL,
    TOKEN_RE,
    quality_keep_col,
)
from flod_spark.io import load
from flod_spark.registry import query


@query(
    "prep_pipeline",
    oracle=(
        # stage 1: quality keep-rule (doc_quality's verdict — SAME
        # constants, so a threshold/regex change moves both gate cells)
        "WITH q AS (SELECT doc_id, lang, text FROM documents "
        f"  WHERE length(text) >= {QUALITY_MIN_CHARS} "
        f"    AND length(regexp_extract_all(lower(text), '{TOKEN_RE}')) >= {QUALITY_MIN_TOKENS} "
        f"    AND CAST(length(regexp_extract_all(text, '{PUNCT_RE}')) AS DOUBLE) "
        f"      / NULLIF(length(text), 0) < {QUALITY_MAX_PUNCT} "
        f"    AND CAST({STOP_COUNT_SQL} AS DOUBLE) "
        f"      / NULLIF(length(regexp_extract_all(lower(text), '{TOKEN_RE}')), 0) >= {QUALITY_MIN_STOP}), "
        # stage 2: benchmark decontamination (decontaminate's rule —
        # bench docs leave the corpus; token-5-gram-overlapping train
        # docs drop)
        f"btok AS (SELECT doc_id, {_TOK_SQL} AS tk FROM documents "
        f"  WHERE doc_id % {DECON_BENCH_MOD} = 0), "
        f"bng AS (SELECT DISTINCT g FROM ({_ngram_sql('btok')})), "
        f"ttok AS (SELECT doc_id, {_TOK_SQL} AS tk FROM q "
        f"  WHERE doc_id % {DECON_BENCH_MOD} <> 0), "
        f"tng AS ({_ngram_sql('ttok')}), "
        "bad AS (SELECT doc_id FROM tng JOIN bng USING (g) "
        f"  GROUP BY doc_id HAVING COUNT(*) >= {DECON_MIN_OVERLAP}), "
        f"c AS (SELECT * FROM q WHERE doc_id % {DECON_BENCH_MOD} <> 0 "
        "  AND doc_id NOT IN (SELECT doc_id FROM bad)), "
        # stage 3: exact dedup -> canonical doc per fingerprint
        f"f AS (SELECT *, md5({_NORM_SQL}) AS fp FROM c), "
        "d AS (SELECT * FROM (SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS canon FROM f) "
        "  WHERE doc_id = canon), "
        # stage 4: deterministic split (split_assign's hash rule)
        f"s AS (SELECT *, CASE WHEN {_sql_hash_prefix('p|', 'doc_id')} < '{_thr(TRAIN_FRAC)}' THEN 'train' "
        f"  WHEN {_sql_hash_prefix('p|', 'doc_id')} < '{_thr(TRAIN_FRAC + VAL_FRAC)}' THEN 'val' "
        "  ELSE 'test' END AS split FROM d) "
        # stage 5: mixture audit (counts + BPE-ish token total per cell)
        "SELECT split, lang, COUNT(*) AS n_docs, "
        # CAST the SUM itself: DuckDB SUM(BIGINT) yields HUGEINT, which
        # renders as float in the driver's compare layer while Spark emits
        # BIGINT — same artifact class as stream_session's session_id
        f"  CAST(SUM(CAST(length(regexp_extract_all(lower(text), '{BPE_RE}')) AS BIGINT)) AS BIGINT) AS n_tokens "
        "FROM s GROUP BY split, lang"
    ),
)
def prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter -> decontaminate -> dedup -> split -> audit,
    composed — the flagship chain (entry()'s query). Stage expressions
    are shared with the standalone qkeys; the module docstring carries
    the per-stage 100 TB story (map-only filters, broadcast benchmark
    grams, one fingerprint shuffle, ~15-group audit).

    Scale: per-stage story in the module docstring — map-only filters,
    broadcast benchmark grams, one fingerprint shuffle, ~15-group audit."""
    docs = load(spark, sf_dir, "documents")
    q = docs.filter(quality_keep_col())
    tok_arr = F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), F.lit(0))
    bench_ng = (
        docs.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
        .select(tok_arr.alias("tk"))
        .select(F.explode(_ngram_arr_col()).alias("g"))
        .distinct()
    )
    tr = q.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
    bad = (
        tr.select("doc_id", tok_arr.alias("tk"))
        .select("doc_id", F.explode(_ngram_arr_col()).alias("g"))
        .join(F.broadcast(bench_ng), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= DECON_MIN_OVERLAP)
        .select("doc_id")
    )
    c = tr.join(bad, "doc_id", "left_anti")
    f = c.withColumn("fp", F.md5(_norm_col().cast("binary")))
    d = (
        f.withColumn("canon", F.min("doc_id").over(Window.partitionBy("fp")))
        .filter(F.col("doc_id") == F.col("canon"))
    )
    hp = _hash_prefix("p|", F.col("doc_id"))
    split = (
        F.when(hp < _thr(TRAIN_FRAC), "train")
        .when(hp < _thr(TRAIN_FRAC + VAL_FRAC), "val")
        .otherwise("test")
    )
    bpe_tokens = F.size(F.regexp_extract_all(F.lower("text"), F.lit(BPE_RE), F.lit(0))).cast("long")
    return (
        d.select(split.alias("split"), "lang", bpe_tokens.alias("tok"))
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"), F.sum("tok").alias("n_tokens"))
    )


@query(
    "conversation_pack",
    oracle=(
        # gaps-and-islands sessionization (stream_session's exact
        # construction) -> each session rendered as ONE ordered
        # multi-turn document; turn lines avoid doubles entirely
        # (double->string rendering differs across engines) — the
        # doc text is event_type '#' event_id, newline-joined in
        # (ts, event_id) order
        "WITH o AS (SELECT user_id, event_id, ts, event_type, "
        "    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events), "
        "m AS (SELECT *, CASE WHEN prev_ts IS NULL "
        "    OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_s FROM o), "
        "s AS (SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id "
        "    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM m), "
        # line is || (NULL-propagating); string_agg drops NULL lines and
        # COUNT(line) counts only rendered turns — the engine side
        # mirrors both exactly (r12 advice: concat_ws would keep a
        # NULL-event_type line that || drops)
        "r AS (SELECT user_id, session_id, ts, event_id, "
        "    event_type || '#' || CAST(event_id AS VARCHAR) AS line FROM s) "
        "SELECT user_id, session_id, "
        "  string_agg(line, chr(10) ORDER BY ts, event_id) AS conversation, "
        "  COUNT(line) AS n_turns, "
        "  CAST(length(string_agg(line, chr(10) ORDER BY ts, event_id)) AS BIGINT) AS n_chars, "
        "  CAST((length(string_agg(line, chr(10) ORDER BY ts, event_id)) + 3) // 4 "
        "    AS BIGINT) AS est_tokens "
        "FROM r GROUP BY user_id, session_id"
    ),
)
def conversation_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-TURN TRAINING-DOC CONSTRUCTION from event logs — the chat/
    interaction-log half of corpus prep (raw per-turn event rows ->
    one ordered conversation document per session, the unit a dialogue
    fine-tune consumes): gaps-and-islands sessionization (30-min gap,
    stream_session's shared construction), then each session's turns
    render in (ts, event_id) order and join into ONE document, with
    the per-doc stats the downstream budget/packing stages key on
    (n_turns, n_chars, a 4-chars/token estimate). Ordered aggregation
    is exact and engine-portable: Spark sorts collect_list(struct(ts,
    event_id, line)) — total order, no ambient row-order reliance —
    where DuckDB's string_agg takes ORDER BY natively. Turn lines use
    only strings/ids (double rendering differs across engines — the
    value column stays numeric in the stats world, never the text).
    NULL semantics match ``||`` exactly (r12 advice): the line renders
    with NULL-propagating F.concat, NULL lines are dropped from the
    document AND from n_turns (string_agg/COUNT(line) semantics), and
    an all-NULL session's conversation is NULL, not '' — so a NULL
    event_type can never diverge engine from oracle.

    Scale: one exchange on user_id shared by the lag window, the
    running session-id sum, and the final agg (Catalyst reuses the
    partitioning); list-agg memory is bounded by session length, the
    same bound any conversation builder carries — per-turn rows never
    leave their user partition."""
    from flod_spark.io import ts_micros

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = 30 * 60 * 1_000_000
    line = F.concat(F.col("event_type"), F.lit("#"), F.col("event_id").cast("string"))
    s = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_s",
            F.when(
                F.col("prev_ts").isNull()
                | (ts_micros("ts") - ts_micros("prev_ts") > gap_us),
                1,
            ).otherwise(0),
        )
        .withColumn("session_id", F.sum("new_s").over(frame))
        .select("user_id", "session_id", "ts", "event_id", line.alias("line"))
    )
    # collect_list skips NULL elements, so wrapping the struct in
    # when(line IS NOT NULL, ...) drops un-rendered turns exactly like
    # string_agg; an all-NULL session then yields conversation = NULL
    # (not ''), matching the oracle
    kept = F.when(F.col("line").isNotNull(), F.struct("ts", "event_id", "line"))
    conv = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(kept)),
            lambda t: t["line"],
        ),
        "\n",
    )
    return (
        s.groupBy("user_id", "session_id")
        .agg(conv.alias("conv_raw"), F.count("line").alias("n_turns"))
        .select(
            "user_id",
            "session_id",
            F.when(F.col("n_turns") > 0, F.col("conv_raw")).alias("conversation"),
            "n_turns",
        )
        .select(
            "user_id",
            "session_id",
            "conversation",
            "n_turns",
            F.length("conversation").cast("long").alias("n_chars"),
            F.floor((F.length("conversation") + 3) / 4).cast("long").alias("est_tokens"),
        )
    )
