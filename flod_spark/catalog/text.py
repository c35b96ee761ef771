"""Text-analysis operators for LLM training-data pipelines (driver mandate,
SURVEY.md §2.5 last row): stats, language-ID, token counting, quality
scoring, fingerprinting. All pure JVM expressions (regexp_* family) — no
Python in the hot path; at 100 TB these are narrow map-only stages that
pipeline with the parquet scan.

Regex portability: patterns use explicit ASCII classes only (Java regex on
Spark vs RE2 in DuckDB differ on \\s and POSIX classes — explicit classes
are identical in both).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flod_spark.io import load
from flod_spark.registry import query

TOKEN_RE = "[a-z0-9]+"
WS_RE = "[ \\t\\r\\n]+"
PUNCT_RE = "[!-/:-@\\[-`{-~]"
# BPE-ish pre-tokenizer: words | numbers | single non-space symbols
BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 \\t\\r\\n]"
# C4-style keep thresholds (doc_quality verdict; shared by prep_pipeline)
QUALITY_MIN_CHARS = 100
QUALITY_MIN_TOKENS = 20
QUALITY_MAX_PUNCT = 0.1
# stopword-density floor (C4 drops pages whose text has too few English
# stopwords — catches non-prose and non-English in an English pipeline)
QUALITY_MIN_STOP = 0.01
STOPWORDS_EN = ("the", "and", "of", "to", "in", "is", "that", "it", "was", "for")
_STOP_IN_SQL = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
# exact token-membership count, portable: Spark filter(lambda)+isin vs
# DuckDB list_filter(x -> x IN (...)) — no regex word-boundary semantics
STOP_COUNT_SQL = (
    f"CAST(length(list_filter(regexp_extract_all(lower(text), '{TOKEN_RE}'), "
    f"x -> x IN ({_STOP_IN_SQL}))) AS BIGINT)"
)


def stop_count_col() -> F.Column:
    toks = F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), F.lit(0))
    return F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS_EN))).cast("long")


def quality_keep_col() -> F.Column:
    """The C4-style keep predicate over column `text` — the single source
    of truth shared by doc_quality's verdict, prep_pipeline's stage 1,
    and Pipeline.quality_filter."""
    n = F.length("text")
    n_tok = F.size(F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), F.lit(0)))
    n_punct = F.size(F.regexp_extract_all(F.col("text"), F.lit(PUNCT_RE), F.lit(0)))
    return (
        (n >= QUALITY_MIN_CHARS)
        & (n_tok >= QUALITY_MIN_TOKENS)
        & (n_punct.cast("double") / F.nullif(n, F.lit(0)) < QUALITY_MAX_PUNCT)
        & (stop_count_col().cast("double") / F.nullif(n_tok, F.lit(0)) >= QUALITY_MIN_STOP)
    )


@query(
    "text_stats",
    oracle=(
        "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_calc, "
        "  CAST(length(string_split(text, chr(10))) AS BIGINT) AS n_lines, "
        "  CAST(length(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens, "
        "  CAST(length(array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), '')) AS BIGINT) AS n_token_chars, "
        "  CAST(length(array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), '')) AS DOUBLE) "
        "    / NULLIF(length(regexp_extract_all(lower(text), '[a-z0-9]+')), 0) AS avg_token_len "
        "FROM documents"
    ),
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document surface statistics (char/line/token counts).
    Scale: pure map-only regexp/split expressions fused into the scan —
    zero exchanges; the family baseline every filter builds on."""
    docs = load(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), F.lit(0))
    tok_chars = F.length(F.array_join(toks, ""))
    n_toks = F.size(toks)
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_calc"),
        F.size(F.split("text", "\n", -1)).cast("long").alias("n_lines"),
        n_toks.cast("long").alias("n_tokens"),
        tok_chars.cast("long").alias("n_token_chars"),
        (tok_chars.cast("double") / F.nullif(n_toks, F.lit(0))).alias("avg_token_len"),
    )


_STOPWORDS = {
    "en": "the|and|of|to|in|is|that|it|was|for",
    "de": "der|die|und|das|ist|nicht|ein|mit|sich|auf",
    "fr": "le|la|les|et|des|est|une|dans|que|pour",
    "es": "el|los|las|una|es|en|por|con|para|del",
}


def _lang_scores_sql() -> str:
    cols = ", ".join(
        f"CAST(length(regexp_extract_all(lower(text), '(^|[^a-z])({words})([^a-z]|$)')) AS BIGINT) AS s_{lang}"
        for lang, words in _STOPWORDS.items()
    )
    return f"SELECT doc_id, lang AS lang_actual, {cols} FROM documents"


@query(
    "lang_id",
    oracle=(
        f"WITH sc AS ({_lang_scores_sql()}) "
        "SELECT doc_id, lang_actual, s_en, s_de, s_fr, s_es, "
        "  CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en' "
        "       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de' "
        "       WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS pred_lang "
        "FROM sc"
    ),
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: stopword-hit counts per language, argmax with
    a fixed tie order (en>de>fr>es). Word boundaries spelled as
    (^|[^a-z])…([^a-z]|$) — identical semantics in Java regex and RE2
    (\\b differs subtly, so it is avoided). At 100 TB: map-only.

    Scale: map-only regexp counting inside the scan stage."""
    docs = load(spark, sf_dir, "documents")
    scores = {
        lang: F.size(
            F.regexp_extract_all(F.lower("text"), F.lit(f"(^|[^a-z])({words})([^a-z]|$)"), F.lit(0))
        ).cast("long")
        for lang, words in _STOPWORDS.items()
    }
    sc = docs.select(
        "doc_id",
        F.col("lang").alias("lang_actual"),
        *[scores[lang].alias(f"s_{lang}") for lang in _STOPWORDS],
    )
    s = {k: F.col(f"s_{k}") for k in _STOPWORDS}
    pred = (
        F.when((s["en"] >= s["de"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["es"]), "en")
        .when((s["de"] >= s["fr"]) & (s["de"] >= s["es"]), "de")
        .when(s["fr"] >= s["es"], "fr")
        .otherwise("es")
    )
    return sc.withColumn("pred_lang", pred)


@query(
    "token_count",
    oracle=(
        "SELECT doc_id, "
        f"  CAST(length(regexp_extract_all(lower(text), '{BPE_RE}')) AS BIGINT) AS n_tokens, "
        "  CAST(length(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS n_word_tokens, "
        "  CAST(length(regexp_extract_all(lower(text), '[0-9]+')) AS BIGINT) AS n_num_tokens "
        "FROM documents"
    ),
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenizer counting: words | numbers | single non-space
    symbols (the GPT-2 pre-tokenizer shape, ASCII-simplified). Scale:
    map-only, pipelines with the scan; the token-budget accounting pass
    a data mixture is priced with."""
    docs = load(spark, sf_dir, "documents")
    lower = F.lower("text")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(lower, F.lit(BPE_RE), F.lit(0))).cast("long").alias("n_tokens"),
        F.size(F.regexp_extract_all(lower, F.lit("[a-z]+"), F.lit(0))).cast("long").alias("n_word_tokens"),
        F.size(F.regexp_extract_all(lower, F.lit("[0-9]+"), F.lit(0))).cast("long").alias("n_num_tokens"),
    )


@query(
    "doc_quality",
    oracle=(
        "WITH t AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n, "
        f"    CAST(length(regexp_extract_all(text, '{PUNCT_RE}')) AS BIGINT) AS n_punct, "
        "    CAST(length(regexp_extract_all(text, '[A-Z]')) AS BIGINT) AS n_upper, "
        f"    CAST(length(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS BIGINT) AS n_tok, "
        f"    {STOP_COUNT_SQL} AS n_stop "
        "  FROM documents) "
        "SELECT doc_id, n AS n_chars_calc, "
        "  CAST(n_punct AS DOUBLE) / NULLIF(n, 0) AS punct_ratio, "
        "  CAST(n_upper AS DOUBLE) / NULLIF(n, 0) AS upper_ratio, "
        "  CAST(n_stop AS DOUBLE) / NULLIF(n_tok, 0) AS stop_ratio, "
        f"  CASE WHEN n >= {QUALITY_MIN_CHARS} AND n_tok >= {QUALITY_MIN_TOKENS} "
        f"    AND CAST(n_punct AS DOUBLE) / NULLIF(n, 0) < {QUALITY_MAX_PUNCT} "
        f"    AND CAST(n_stop AS DOUBLE) / NULLIF(n_tok, 0) >= {QUALITY_MIN_STOP} "
        "    THEN 'keep' ELSE 'drop' END AS verdict "
        "FROM t"
    ),
)
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length / punctuation / uppercase / stopword-density
    ratios with a keep-drop verdict — the C4-style filter shape (incl.
    C4's stopword floor). Map-only at scale.

    Scale: map-only ratio arithmetic; runs inside the scan."""
    docs = load(spark, sf_dir, "documents")
    n = F.length("text").cast("long")
    n_punct = F.size(F.regexp_extract_all(F.col("text"), F.lit(PUNCT_RE), F.lit(0))).cast("long")
    n_upper = F.size(F.regexp_extract_all(F.col("text"), F.lit("[A-Z]"), F.lit(0))).cast("long")
    n_tok = F.size(F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), F.lit(0))).cast("long")
    punct_ratio = n_punct.cast("double") / F.nullif(n, F.lit(0))
    stop_ratio = stop_count_col().cast("double") / F.nullif(n_tok, F.lit(0))
    return docs.select(
        "doc_id",
        n.alias("n_chars_calc"),
        punct_ratio.alias("punct_ratio"),
        (n_upper.cast("double") / F.nullif(n, F.lit(0))).alias("upper_ratio"),
        stop_ratio.alias("stop_ratio"),
        F.when(quality_keep_col(), "keep").otherwise("drop").alias("verdict"),
    )


@query(
    "fingerprint",
    oracle=(
        "SELECT doc_id, md5(regexp_replace(lower(text), '[ \\t\\r\\n]+', ' ', 'g')) AS fp "
        "FROM documents"
    ),
)
def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized lowercase text.
    md5 hex is engine-identical, so this doubles as the dedup_exact key.

    Scale: map-only md5 over normalized text; one scan, no shuffle."""
    docs = load(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower("text"), WS_RE, " ")
    return docs.select("doc_id", F.md5(norm.cast("binary")).alias("fp"))


_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}"
_URL_RE = "https?://[a-zA-Z0-9./_?=&%#~+-]+"


@query(
    "text_clean",
    oracle=(
        "SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(text, "
        f"  '{_URL_RE}', '<URL>', 'g'), "
        f"  '{_EMAIL_RE}', '<EMAIL>', 'g'), "
        "  '[ \\t]+', ' ', 'g') AS cleaned, "
        f"  length(text) - length(regexp_replace(text, '{_EMAIL_RE}', '', 'g')) > 0 AS had_email, "
        f"  length(text) - length(regexp_replace(text, '{_URL_RE}', '', 'g')) > 0 AS had_url "
        "FROM documents"
    ),
)
def text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/noise scrub: mask URLs then emails, collapse runs of spaces/tabs
    (newlines preserved) — the pre-training cleanup shape. Flags record
    which docs were touched (for audit sampling downstream). Map-only at
    100 TB; explicit ASCII classes keep Java and RE2 regex identical.

    Scale: map-only regexp chain; no shuffle."""
    docs = load(spark, sf_dir, "documents")
    cleaned = F.regexp_replace(
        F.regexp_replace(F.regexp_replace("text", _URL_RE, "<URL>"), _EMAIL_RE, "<EMAIL>"),
        "[ \\t]+",
        " ",
    )
    had_email = F.length("text") - F.length(F.regexp_replace("text", _EMAIL_RE, "")) > 0
    had_url = F.length("text") - F.length(F.regexp_replace("text", _URL_RE, "")) > 0
    return docs.select(
        "doc_id",
        cleaned.alias("cleaned"),
        had_email.alias("had_email"),
        had_url.alias("had_url"),
    )


@query(
    "json_extract",
    oracle=(
        "SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k, "
        "  CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) "
        "    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS running_k "
        "FROM events"
    ),
)
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column access: JSON path extraction from the props
    string + a windowed aggregate over the extracted value. Scale:
    get_json_object is JVM-side (Jackson) and pipelines with the scan —
    but at 100 TB, parse ONCE (from_json to a struct column at ingest)
    instead of re-parsing per expression."""
    from flod_spark.io import load as _load

    ev = _load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        k.alias("k"),
        F.sum(k).over(w).cast("long").alias("running_k"),
    )


TOPK_TOKENS = 100


@query(
    "token_histogram",
    oracle=(
        f"WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS token "
        "  FROM documents), "
        "g AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occur, "
        "    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tok GROUP BY token) "
        f"SELECT token, n_docs, n_occur FROM g ORDER BY n_occur DESC, token LIMIT {TOPK_TOKENS}"
    ),
)
def token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token histogram: top-K tokens by total occurrences, with
    document frequency — the vocabulary-building / IDF-table step of a
    training pipeline.

    Scale shape: explode(tokens) is a narrow row amplification that
    pipelines with the scan; groupBy(token) does map-side partial
    aggregation, so the shuffle carries one row per (task, token), not
    per occurrence; count_distinct(doc_id) rewrites to a two-phase
    (token, doc_id) pre-aggregate. The final top-K is
    TakeOrderedAndProject (per-partition heaps, K rows to the driver) —
    no global sort. Tiebreak on token keeps the cut deterministic.

    Scale: partial-agg token shuffle + two-phase distinct +
    TakeOrderedAndProject (shape above)."""
    docs = load(spark, sf_dir, "documents", spread=True, amplify=2000)
    tok = docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), F.lit(0))).alias("token"),
    )
    g = tok.groupBy("token").agg(
        F.count("*").alias("n_occur"),
        F.count_distinct("doc_id").alias("n_docs"),
    )
    return g.select("token", "n_docs", "n_occur").orderBy(
        F.col("n_occur").desc(), "token"
    ).limit(TOPK_TOKENS)


# Gopher/MassiveText repetition rules: drop docs dominated by repeated
# tokens/phrases (thresholds give a ~7% drop rate on the synthetic corpus)
REP_MAX_DUP1 = 0.7
REP_MAX_DUP2 = 0.08


def _dup_sql(n: int) -> str:
    """1 - distinct/total over token n-grams of CTE column tk (DuckDB)."""
    if n == 1:
        gram = "tk"
        total = "len(tk)"
    else:
        concat = " || ' ' || ".join(f"tk[i+{j}]" for j in range(n))
        gram = f"list_transform(range(1, len(tk) - {n - 2}), i -> {concat})"
        total = f"len(tk) - {n - 1}"
    return f"1.0 - CAST(len(list_distinct({gram})) AS DOUBLE) / NULLIF({total}, 0)"


def _dup_col(n: int) -> F.Column:
    """Spark twin of _dup_sql: same gram construction, same division."""
    tk = F.col("tk")
    if n == 1:
        grams = tk
        total = F.size("tk")
    else:
        cnt = F.size("tk") - (n - 1)
        grams = F.when(
            cnt >= 1,
            F.transform(F.sequence(F.lit(1), cnt), lambda i: F.array_join(F.slice("tk", i, n), " ")),
        ).otherwise(F.array())
        total = cnt
    return F.lit(1.0) - F.size(F.array_distinct(grams)).cast("double") / F.nullif(
        total, F.lit(0)
    )


@query(
    "doc_repetition",
    oracle=(
        f"WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS tk "
        "  FROM documents) "
        "SELECT doc_id, "
        f"  {_dup_sql(1)} AS dup1, {_dup_sql(2)} AS dup2, {_dup_sql(3)} AS dup3, "
        f"  CASE WHEN {_dup_sql(1)} > {REP_MAX_DUP1} OR {_dup_sql(2)} > {REP_MAX_DUP2} "
        "    THEN 'drop' ELSE 'keep' END AS verdict "
        "FROM t"
    ),
)
def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (Gopher/MassiveText rules 4-8):
    duplicate fraction of tokens, 2-grams, and 3-grams, with a keep/drop
    verdict. Catches loop-generated and boilerplate-stuffed pages that
    length/punctuation filters miss.

    Scale: pure map-only higher-order array expressions fused into the
    scan — per-doc work is linear in doc length, nothing shuffles."""
    docs = load(spark, sf_dir, "documents", spread=True, amplify=2000)
    t = docs.select(
        "doc_id", F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), F.lit(0)).alias("tk")
    )
    d1, d2 = _dup_col(1), _dup_col(2)
    return t.select(
        "doc_id",
        d1.alias("dup1"),
        d2.alias("dup2"),
        _dup_col(3).alias("dup3"),
        F.when((d1 > REP_MAX_DUP1) | (d2 > REP_MAX_DUP2), "drop").otherwise("keep").alias("verdict"),
    )


# PII patterns — explicit ASCII classes only (identical Java-regex /
# RE2 semantics, the module-header portability rule)
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
PII_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
PII_IP_RE = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
# deterministic planted PII (both engines build the same augmented text,
# so redaction counts are provably non-vacuous at any sf)
_PII_AUG_SQL = (
    "text || ' contact user' || doc_id || '@mail-' || (doc_id % 7) || '.example.com "
    "tel 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' from "
    "10.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) || '.' || ((doc_id * 13) % 256)"
)


@query(
    "pii_scrub",
    oracle=(
        f"WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS t FROM documents) "
        "SELECT doc_id, "
        f"  regexp_replace(regexp_replace(regexp_replace(t, '{PII_EMAIL_RE}', '<EMAIL>', 'g'), "
        f"    '{PII_PHONE_RE}', '<PHONE>', 'g'), '{PII_IP_RE}', '<IP>', 'g') AS scrubbed, "
        f"  CAST(length(regexp_extract_all(t, '{PII_EMAIL_RE}')) AS BIGINT) AS n_email, "
        f"  CAST(length(regexp_extract_all(t, '{PII_PHONE_RE}')) AS BIGINT) AS n_phone, "
        f"  CAST(length(regexp_extract_all(t, '{PII_IP_RE}')) AS BIGINT) AS n_ip "
        "FROM aug"
    ),
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the pre-training scrub pass every web-corpus
    pipeline runs (emails, phone numbers, IPv4 addresses -> typed
    placeholders) plus per-doc redaction counts for the audit log.
    Order matters: emails first (their local part could otherwise lose
    digits to the IP pattern), then phones, then IPs.

    The input is the document text with deterministically PLANTED PII
    derived from doc_id (same construction in the oracle) so the
    redaction path is exercised non-vacuously at every scale factor.
    Scale: pure map-only JVM regexp stage — pipelines with the scan,
    nothing shuffles."""
    docs = load(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail-"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com tel 555-867-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
        ((F.col("doc_id") * 7) % 256).cast("string"),
        F.lit("."),
        ((F.col("doc_id") * 13) % 256).cast("string"),
    )
    t = docs.select("doc_id", aug.alias("t"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), PII_EMAIL_RE, "<EMAIL>"),
            PII_PHONE_RE,
            "<PHONE>",
        ),
        PII_IP_RE,
        "<IP>",
    )
    return t.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(PII_EMAIL_RE), F.lit(0))).cast("long").alias("n_email"),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(PII_PHONE_RE), F.lit(0))).cast("long").alias("n_phone"),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(PII_IP_RE), F.lit(0))).cast("long").alias("n_ip"),
    )


@query(
    "bpe_pairs",
    oracle=(
        # the BPE-training inner loop: corpus-wide adjacent token-pair
        # frequencies, top-50 (unique tiebreak on the pair text)
        f"WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS tk "
        "  FROM documents), "
        "pairs AS (SELECT unnest(list_zip(tk[1:len(tk)-1], tk[2:len(tk)])) AS pr "
        "  FROM tok WHERE len(tk) >= 2) "
        "SELECT pr[1] AS left_tok, pr[2] AS right_tok, "
        "  CAST(COUNT(*) AS BIGINT) AS n_pair "
        "FROM pairs GROUP BY left_tok, right_tok "
        "ORDER BY n_pair DESC, left_tok, right_tok LIMIT 50"
    ),
)
def bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent token-pair frequencies, top-50 — one iteration of the
    BPE/WordPiece merge-selection loop (the most-frequent pair is the
    next merge rule). Pairing is MAP-SIDE array arithmetic
    (arrays_zip of the token list against its own shift — no self-join,
    no positional explode-and-rejoin); only (pair, partial count) rows
    cross the shuffle, and the top-50 is TakeOrderedAndProject (no
    global sort). At 100 TB this is exactly the scalable shape of a
    tokenizer-training pair census.

    Scale: map-side pairing, (pair, partial count) shuffle,
    TakeOrderedAndProject cut."""
    docs = load(spark, sf_dir, "documents", spread=True, amplify=100)
    tk = F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), F.lit(0))
    t = docs.select(tk.alias("tk")).filter(F.size("tk") >= 2)
    pairs = t.select(
        F.explode(
            F.arrays_zip(
                F.slice("tk", 1, F.size("tk") - 1).alias("l"),
                F.slice(F.col("tk"), 2, F.size("tk") - 1).alias("r"),
            )
        ).alias("pr")
    )
    return (
        pairs.select(F.col("pr.l").alias("left_tok"), F.col("pr.r").alias("right_tok"))
        .groupBy("left_tok", "right_tok")
        .agg(F.count("*").alias("n_pair"))
        .orderBy(F.col("n_pair").desc(), "left_tok", "right_tok")
        .limit(50)
    )


# URL canonicalization (both engines; conservative regex subset):
# protocol+host lowercased, default port dropped, tracking params
# (utm_*, fbclid, gclid) stripped, trailing '?'/'&'/'/' and fragments cut.
# The tracking regex consumes the param's OWN trailing '&' so removing the
# first of '?utm_source=x&id=7' yields '?id=7', not '?&id=7'; a slash run
# immediately before the query string collapses via '/+[?]' -> '?' (RE2
# has no lookahead, so the lookahead-free form is the cross-engine one).
_URL_FRAG_RE = "#[^ ]*"
_URL_TRACK_RE = "(utm_[a-z]+|fbclid|gclid)=[^&# ]*&?"
_URL_PREQ_SLASH_RE = "/+[?]"


@query(
    "dedup_url",
    oracle=(
        # deterministic planted URL per doc (same construction both
        # engines): vary case, tracking params, ports, trailing slash —
        # canonicalization must collapse doc groups sharing doc_id % 100
        "WITH u AS (SELECT doc_id, "
        "    CASE WHEN doc_id % 3 = 0 THEN 'HTTP://' ELSE 'http://' END || "
        "    CASE WHEN doc_id % 2 = 0 THEN 'WWW.Site-' ELSE 'www.site-' END || "
        "    (doc_id % 100) || '.example.com' || "
        "    CASE WHEN doc_id % 4 = 0 THEN ':80' ELSE '' END || "
        "    '/page/' || (doc_id % 100) || "
        "    CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END || "
        "    CASE WHEN doc_id % 6 = 0 THEN '?utm_source=x&id=7' ELSE '?id=7' END || "
        "    CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END AS url "
        "  FROM documents), "
        "c AS (SELECT doc_id, url, "
        "    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        "      lower(url), "
        f"      '{_URL_FRAG_RE}', '', 'g'), "
        f"      '{_URL_TRACK_RE}', '', 'g'), "
        "      ':80/', '/', 'g'), "
        f"      '{_URL_PREQ_SLASH_RE}', '?', 'g'), "
        "      '[?&]+$', '', 'g'), "
        "      '/+$', '', 'g') AS canon "
        "  FROM u) "
        "SELECT doc_id, url, canon, MIN(doc_id) OVER (PARTITION BY canon) AS canonical_doc, "
        "  doc_id <> MIN(doc_id) OVER (PARTITION BY canon) AS is_dup "
        "FROM c"
    ),
)
def dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup — the crawl-level dedup pass that runs BEFORE
    any content hashing (case-insensitive scheme/host, default port,
    tracking params, trailing slash, fragments). URLs are planted
    deterministically (same construction in the oracle) so groups are
    non-vacuous at every sf: 100 canonical pages with case/port/
    tracking/slash variants collapse onto them. Map-only regexp chain +
    one window on the canon key.

    Scale: map-only canonicalization plus one window keyed on the
    canonical URL."""
    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(
        F.when(d % 3 == 0, "HTTP://").otherwise("http://"),
        F.when(d % 2 == 0, "WWW.Site-").otherwise("www.site-"),
        (d % 100).cast("string"),
        F.lit(".example.com"),
        F.when(d % 4 == 0, ":80").otherwise(""),
        F.lit("/page/"),
        (d % 100).cast("string"),
        F.when(d % 5 == 0, "/").otherwise(""),
        F.when(d % 6 == 0, "?utm_source=x&id=7").otherwise("?id=7"),
        F.when(d % 7 == 0, "#frag").otherwise(""),
    )
    canon = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(
                        F.regexp_replace(F.lower(F.col("url")), _URL_FRAG_RE, ""),
                        _URL_TRACK_RE,
                        "",
                    ),
                    ":80/",
                    "/",
                ),
                _URL_PREQ_SLASH_RE,
                "?",
            ),
            "[?&]+$",
            "",
        ),
        "/+$",
        "",
    )
    c = docs.select("doc_id", url.alias("url")).withColumn("canon", canon)
    w = Window.partitionBy("canon")
    return c.select(
        "doc_id",
        "url",
        "canon",
        F.min("doc_id").over(w).alias("canonical_doc"),
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("is_dup"),
    )


@query(
    "text_windows",
    oracle=(
        # LM training-example windowing: 32-token windows, stride 16,
        # last partial window kept iff it starts fresh material
        f"WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS tk "
        "  FROM documents), "
        "w AS (SELECT doc_id, tk, unnest(generate_series(0, "
        "    CAST(greatest(ceil((len(tk) - 32) / 16.0), 0) AS BIGINT))) AS win_no FROM tok "
        "  WHERE len(tk) >= 1) "
        "SELECT doc_id, CAST(win_no AS BIGINT) AS win_no, "
        "  CAST(win_no * 16 AS BIGINT) AS tok_offset, "
        "  CAST(len(tk[win_no * 16 + 1 : win_no * 16 + 32]) AS BIGINT) AS n_tokens, "
        "  tk[win_no * 16 + 1] AS first_tok, "
        "  tk[least(win_no * 16 + 32, len(tk))] AS last_tok "
        "FROM w"
    ),
)
def text_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding token windows (length 32, stride 16) — how a corpus
    becomes LM training examples with overlap. Window count per doc is
    closed-form (ceil((n-32)/16)+1), generated MAP-SIDE by sequence()+
    explode and sliced from the token array — no shuffle, no per-token
    rows; only window summaries leave the stage (pack_sequences is the
    contiguous-chop twin).

    Scale: map-side window generation from the token array; no shuffle."""
    docs = load(spark, sf_dir, "documents", spread=True, amplify=50)
    tk = F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), F.lit(0))
    t = docs.select("doc_id", tk.alias("tk")).filter(F.size("tk") >= 1)
    n_wins = F.greatest(F.ceil((F.size("tk") - 32) / 16.0), F.lit(0)).cast("long")
    w = t.select("doc_id", "tk", F.explode(F.sequence(F.lit(0), n_wins)).alias("win_no"))
    off = F.col("win_no") * 16
    sliced = F.slice(F.col("tk"), off + 1, 32)
    return w.select(
        "doc_id",
        F.col("win_no").cast("long").alias("win_no"),
        off.cast("long").alias("tok_offset"),
        F.size(sliced).cast("long").alias("n_tokens"),
        F.element_at("tk", (off + 1).cast("int")).alias("first_tok"),
        F.element_at("tk", F.least(off + 32, F.size("tk")).cast("int")).alias("last_tok"),
    )


@query(
    "ngram_lm",
    oracle=(
        # bigram-LM quality score, EXACT cross-engine: probabilities are
        # quantized to floor(log2 ·) computed as binary-string lengths —
        # pure integer arithmetic, no float log anywhere
        f"WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS tk "
        "  FROM documents), "
        "bi AS (SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2 "
        "  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM tok)), "
        "c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM bi GROUP BY w1, w2), "
        "c1 AS (SELECT w1, COUNT(*) AS n1 FROM bi GROUP BY w1), "
        "q AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams, "
        "    CAST(SUM(length(bin(n2)) - length(bin(n1))) AS BIGINT) AS q_log2 "
        "  FROM bi JOIN c2 USING (w1, w2) JOIN c1 USING (w1) GROUP BY doc_id) "
        "SELECT doc_id, n_bigrams, q_log2, "
        "  CAST(q_log2 AS DOUBLE) / n_bigrams AS bits_per_bigram "
        "FROM q"
    ),
)
def ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality scoring (the KenLM-perplexity
    corpus-filter pattern): train MLE bigram counts on the corpus
    itself, score each doc by its total log-probability. The score that
    makes this ORACLE-EXACT is the quantization floor(log2 p) =
    floor(log2 c2) - floor(log2 c1) computed as length(bin(count)) - 1
    — binary-string length, identical integer arithmetic in both
    engines, where a float ln() would diverge in the last bits. q_log2
    is the per-doc sum of those quantized bigram log-probs (<= 0,
    higher = more predictable text); bits_per_bigram normalizes by
    length (one exact-int IEEE division, so doubles match bitwise).

    Scale: one map-side explode to bigrams; c2/c1 are two partial-agg
    shuffles bounded by |vocab^2|/|vocab|; scoring joins co-partition
    on the gram keys (a hot head-word like 'the' skews c1's join — AQE
    skew-split or salting applies, and the count tables themselves are
    usually small enough to broadcast outright)."""
    docs = load(spark, sf_dir, "documents")
    tk = F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), F.lit(0))
    t = docs.select("doc_id", tk.alias("tk")).filter(F.size("tk") >= 2)
    bi = t.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("tk") - 2),
                lambda i: F.struct(
                    F.get("tk", i).alias("w1"), F.get("tk", i + 1).alias("w2")
                ),
            )
        ).alias("pr"),
    ).select("doc_id", "pr.w1", "pr.w2")
    c2 = bi.groupBy("w1", "w2").agg(F.count("*").alias("n2"))
    c1 = bi.groupBy("w1").agg(F.count("*").alias("n1"))
    q = (
        bi.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(F.length(F.bin("n2")) - F.length(F.bin("n1"))).cast("long").alias("q_log2"),
        )
    )
    return q.select(
        "doc_id",
        "n_bigrams",
        "q_log2",
        (F.col("q_log2").cast("double") / F.col("n_bigrams")).alias("bits_per_bigram"),
    )


@query(
    "tfidf_terms",
    oracle=(
        # top-3 characteristic terms per doc, EXACT cross-engine: the
        # tf-idf ordering tf1/df1 > tf2/df2 is evaluated as the integer
        # cross-multiplication tf1*df2 > tf2*df1 — no float division or
        # log anywhere, so ranks are bit-free and engine-identical
        f"WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS tk "
        "  FROM documents), "
        "tf AS (SELECT doc_id, tk, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, tk), "
        "df AS (SELECT tk, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tk), "
        # sort key = (tf * 100000) integer-div df — a quantized rational,
        # exact in both engines — with (tf, df, term) tiebreaks for a
        # total order
        "r AS (SELECT doc_id, tk, tf, df, row_number() OVER (PARTITION BY doc_id "
        "    ORDER BY (tf * 100000) // df DESC, tf DESC, df ASC, tk) AS rk FROM tf JOIN df USING (tk)) "
        "SELECT doc_id, tk AS term, tf, df, CAST(rk AS BIGINT) AS rk "
        "FROM r WHERE rk <= 3"
    ),
)
def tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf-idf ordering — the
    keyword-extraction pass (search indexing, topic tagging, dedup
    explanation). Exactness without floats: terms are ranked by the
    quantized rational (tf * 100000) div df (integer division, exact in
    both engines) with (tf, df, term) tiebreaks — a total order, so
    row_number is deterministic. Scale: tf is one (doc, term)
    partial-agg shuffle; df one term shuffle; the per-doc top-3 prunes
    through WindowGroupLimit before the final exchange."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), F.lit(0))).alias("tk"),
    )
    tf = tok.groupBy("doc_id", "tk").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("tk").agg(F.count("*").alias("df"))
    j = tf.join(df_, "tk")
    score = F.expr("(tf * 100000) div df")  # exact integer division (no float)
    w = Window.partitionBy("doc_id").orderBy(
        score.desc(), F.col("tf").desc(), F.col("df").asc(), F.col("tk")
    )
    return (
        j.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "doc_id",
            F.col("tk").alias("term"),
            "tf",
            "df",
            F.col("rk").cast("long").alias("rk"),
        )
    )


@query(
    "ngram_topk",
    oracle=(
        # corpus-wide word TRIGRAM census, top-50 — token_histogram's
        # n-gram generalization (shingle-level vocabulary statistics)
        f"WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS tk "
        "  FROM documents), "
        "grams AS (SELECT doc_id, unnest(list_zip("
        "    tk[1:len(tk)-2], tk[2:len(tk)-1], tk[3:len(tk)])) AS g "
        "  FROM tok WHERE len(tk) >= 3), "
        "c AS (SELECT g[1] || ' ' || g[2] || ' ' || g[3] AS gram, "
        "    CAST(COUNT(*) AS BIGINT) AS n_occur, "
        "    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs "
        "  FROM grams GROUP BY 1) "
        "SELECT gram, n_docs, n_occur FROM c "
        "ORDER BY n_occur DESC, gram LIMIT 50"
    ),
)
def ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 word trigrams with document frequency — the phrase-level
    census (boilerplate detection, template mining, decontamination
    gram inspection) between token_histogram's unigrams and bpe_pairs'
    adjacent pairs. Trigram generation is MAP-SIDE array arithmetic
    (arrays_zip of three shifted slices — no self-join, no positional
    re-join); the shuffle carries (gram, partial count) rows and the
    count_distinct rewrites to a (gram, doc_id) pre-aggregate; the cut
    is TakeOrderedAndProject with a unique gram tiebreak.

    Scale: map-side trigram arithmetic, partial-agg shuffle,
    TakeOrderedAndProject cut."""
    docs = load(spark, sf_dir, "documents", spread=True, amplify=100)
    tk = F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), F.lit(0))
    t = docs.select("doc_id", tk.alias("tk")).filter(F.size("tk") >= 3)
    grams = t.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("tk", 1, F.size("tk") - 2).alias("a"),
                F.slice(F.col("tk"), 2, F.size("tk") - 2).alias("b"),
                F.slice(F.col("tk"), 3, F.size("tk") - 2).alias("c"),
            )
        ).alias("g"),
    )
    return (
        grams.select("doc_id", F.concat_ws(" ", "g.a", "g.b", "g.c").alias("gram"))
        .groupBy("gram")
        .agg(
            F.count("*").alias("n_occur"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .select("gram", "n_docs", "n_occur")
        .orderBy(F.col("n_occur").desc(), "gram")
        .limit(50)
    )


# Karp-Rabin / winnowing constants (MOSS): k-gram polynomial hashes over
# char codes, window-min selection. P prime (2^31-1), B=257 > any code we
# hash; BK = B^K mod P precomputed for the rolling subtraction.
_KR_P = 2147483647
_KR_B = 257
_KR_K = 16  # gram length (chars)
_KR_W = 8   # winnowing window (grams)
_KR_BK = 282034563  # pow(257, 16, 2147483647)
_KR_CAP = 2000  # chars hashed per doc (bounded map-side work)


@query(
    "fingerprint_winnow",
    oracle=(
        # every k-gram hash evaluated by Horner mod P, mirroring the
        # Spark side; the rolling-recurrence identity is pytest-proven
        "WITH nrm AS (SELECT doc_id, "
        f"    substr(regexp_replace(lower(text), '[ \\t\\r\\n]+', ' ', 'g'), 1, {_KR_CAP}) AS t "
        "  FROM documents), "
        f"d AS (SELECT doc_id, t, length(t) AS n FROM nrm WHERE length(t) >= {_KR_K + _KR_W - 1}), "
        f"hs AS (SELECT doc_id, list_transform(range(1, n - {_KR_K} + 2), i -> "
        f"    list_reduce(list_transform(range(i, i + {_KR_K}), j -> CAST(ascii(substr(t, j, 1)) AS BIGINT)), "
        f"      (a, c) -> (a * {_KR_B} + c) % {_KR_P})) AS h FROM d), "
        f"ws AS (SELECT doc_id, h, list_transform(range(1, len(h) - {_KR_W} + 2), "
        f"    j -> list_min(h[j:j+{_KR_W - 1}])) AS w FROM hs), "
        "sel AS (SELECT doc_id, len(h) AS n_grams, list_sort(list_distinct(w)) AS s FROM ws) "
        "SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams, CAST(len(s) AS BIGINT) AS n_selected, "
        "  md5(array_to_string(list_transform(s, x -> CAST(x AS VARCHAR)), ',')) AS fp_sketch "
        "FROM sel"
    ),
)
def fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING-HASH document fingerprint (Karp-Rabin + winnowing, the
    MOSS scheme): k-gram polynomial hashes over the normalized text,
    window-minimum selection, sketch = md5 of the selected hash set —
    the partial-overlap-robust fingerprint (a shared passage selects the
    same hashes in both docs regardless of position), vs `fingerprint`'s
    whole-doc md5 which any one-byte edit breaks.

    Three implementations, all proven residue-identical: (1) this gated
    hot path — an Arrow-batched numpy kernel (K-1 vectorized
    multiply-add-mod passes over the position axis; int64 mod-P exact);
    (2) winnow_sketch's pure-Catalyst expression form (the JVM
    reference, used by the property tests); (3) rolling_gram_hashes'
    textbook O(n) rolling recurrence (the algebra proof). The numpy
    kernel exists because 32k interpreted higher-order-function lambda
    evaluations per document is the one place Catalyst's interpreter,
    not its plan, is the bottleneck — the brief's 'Pandas UDFs beat
    interpreted per-element work 10-100x' case (measured ~7s -> ~1s at
    sf0.1). The oracle evaluates every gram by Horner in DuckDB.

    Scale: map-only (zero exchanges) — per-doc work is bounded by the
    char cap; winnowing guarantees at least one selected hash per W
    grams, so sketch size is n/W-bounded (the density guarantee)."""
    import pandas as pd

    docs = load(spark, sf_dir, "documents")
    t = F.substring(F.regexp_replace(F.lower("text"), WS_RE, " "), 1, _KR_CAP)
    d = docs.select("doc_id", t.alias("t")).filter(
        F.length("t") >= _KR_K + _KR_W - 1
    )

    def kernel(batches):
        import hashlib

        import numpy as np

        for pdf in batches:
            ids, ngr, nsel, fps = [], [], [], []
            for doc_id, txt in zip(pdf["doc_id"], pdf["t"]):
                b = txt.encode("utf-8")
                if len(b) == len(txt):  # pure-ASCII fast path
                    codes = np.frombuffer(b, np.uint8).astype(np.int64)
                else:  # code points, matching Spark/DuckDB ascii()
                    codes = np.fromiter(map(ord, txt), np.int64, len(txt))
                npos = len(codes) - (_KR_K - 1)
                acc = codes[:npos].copy()
                for j in range(1, _KR_K):
                    acc = (acc * _KR_B + codes[j : j + npos]) % _KR_P
                wm = np.lib.stride_tricks.sliding_window_view(acc, _KR_W).min(axis=1)
                sel = np.unique(wm)
                ids.append(doc_id)
                ngr.append(npos)
                nsel.append(len(sel))
                fps.append(
                    hashlib.md5(
                        ",".join(str(int(x)) for x in sel).encode()
                    ).hexdigest()
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n_grams": pd.Series(ngr, dtype="int64"),
                    "n_selected": pd.Series(nsel, dtype="int64"),
                    "fp_sketch": pd.Series(fps, dtype="object"),
                }
            )

    return d.mapInPandas(
        kernel, "doc_id long, n_grams long, n_selected long, fp_sketch string"
    )


def rolling_gram_hashes(codes: F.Column) -> F.Column:
    """All k-gram hashes via the textbook O(n) ROLLING recurrence
    h_i = (h_{i-1}*B - c_out*B^k + c_in) mod P, folded sequentially.
    Kept as the algebra reference: under Catalyst's immutable arrays the
    fold's accumulator copy makes it O(n^2) per document, so the hot
    path (winnow_sketch) evaluates each gram directly by Horner instead
    — tests/test_corpus_ops.py proves the two produce identical
    residues, which is the rolling-hash identity itself."""
    h0 = F.aggregate(
        F.slice(codes, 1, _KR_K),
        F.lit(0).cast("long"),
        lambda a, c: (a * _KR_B + c) % _KR_P,
    )

    def roll(acc, i):
        c_out = F.element_at(codes, i - _KR_K)
        c_in = F.element_at(codes, i)
        raw = acc.getField("h") * _KR_B - c_out * _KR_BK + c_in
        nh = ((raw % _KR_P) + _KR_P) % _KR_P
        return F.struct(
            nh.alias("h"), F.concat(acc.getField("arr"), F.array(nh)).alias("arr")
        )

    return F.aggregate(
        F.sequence(F.lit(_KR_K + 1), F.size(codes)),
        F.struct(h0.alias("h"), F.array(h0).alias("arr")),
        roll,
        lambda acc: acc.getField("arr"),
    )


def winnow_sketch(docs: DataFrame, keep_hashes: bool = False) -> DataFrame:
    """(doc_id, text) -> (doc_id, n_grams, n_selected, fp_sketch); the
    reusable core of fingerprint_winnow (property-tested directly).
    keep_hashes=True adds the selected-hash array itself (tests compare
    set overlap; the gated query ships only the md5 sketch).

    Gram hashes are evaluated per position by Horner (O(n*k) cheap
    multiply-adds, no growing accumulator) — see rolling_gram_hashes
    for why the O(n) rolling form loses under immutable arrays."""
    t = F.substring(F.regexp_replace(F.lower("text"), WS_RE, " "), 1, _KR_CAP)
    d = docs.select("doc_id", t.alias("t")).filter(
        F.length("t") >= _KR_K + _KR_W - 1
    )
    n = F.length("t")
    codes = F.transform(
        F.sequence(F.lit(1), n), lambda i: F.ascii(F.col("t").substr(i, F.lit(1))).cast("long")
    )
    d = d.select("doc_id", codes.alias("codes"))
    # Horner across the gram via K-1 ELEMENTWISE zip_with passes over the
    # position axis: acc_j[i] = (acc_{j-1}[i] * B + codes[i+j]) mod P.
    # Same residues as a per-position fold, but no 16-element slice
    # allocation per gram — the vectorized axis order (positions inner,
    # gram offset outer), ~2x faster interpreted
    npos = F.size("codes") - (_KR_K - 1)
    hs = F.slice("codes", 1, npos)
    for j in range(1, _KR_K):
        hs = F.zip_with(
            hs,
            F.slice("codes", j + 1, npos),
            lambda a, c: (a * _KR_B + c) % _KR_P,
        )
    d = d.select("doc_id", hs.alias("hs"))
    ws = F.transform(
        F.sequence(F.lit(1), F.size("hs") - (_KR_W - 1)),
        lambda j: F.array_min(F.slice(F.col("hs"), j, _KR_W)),
    )
    sel = F.array_sort(F.array_distinct(ws))
    cols = [
        F.col("doc_id"),
        F.size("hs").cast("long").alias("n_grams"),
        F.size(sel).cast("long").alias("n_selected"),
        F.md5(
            F.concat_ws(",", F.transform(sel, lambda x: x.cast("string"))).cast("binary")
        ).alias("fp_sketch"),
    ]
    if keep_hashes:
        cols.append(sel.alias("sel_hashes"))
    return d.select(*cols)


def winnow_anchor_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> one row per distinct winnow ANCHOR:
    (doc_id, n_chars, n_anchors, p, h) where p is the 1-based char
    position of the anchoring k-gram and h its Karp-Rabin hash — the
    positional extension of fingerprint_winnow's sketch (same
    normalization, cap, constants, and leftmost-min-in-window rule in
    both engines). Anchor extraction runs in the Arrow/numpy kernel for
    the same reason fingerprint_winnow's does: O(n*W) interpreted
    lambda evaluations per doc is the Catalyst-interpreter bottleneck,
    not the plan. Scale: map-only; anchor density is >= 1 per W grams,
    so output is n/W-bounded rows per doc."""
    import pandas as pd

    t = F.substring(F.regexp_replace(F.lower("text"), WS_RE, " "), 1, _KR_CAP)
    d = docs.select("doc_id", t.alias("t")).filter(
        F.length("t") >= _KR_K + _KR_W - 1
    )

    def kernel(batches):
        import numpy as np

        for pdf in batches:
            out_id, out_n, out_na, out_p, out_h = [], [], [], [], []
            for doc_id, txt in zip(pdf["doc_id"], pdf["t"]):
                b = txt.encode("utf-8")
                if len(b) == len(txt):  # pure-ASCII fast path
                    codes = np.frombuffer(b, np.uint8).astype(np.int64)
                else:  # code points, matching Spark/DuckDB ascii()
                    codes = np.fromiter(map(ord, txt), np.int64, len(txt))
                npos = len(codes) - (_KR_K - 1)
                acc = codes[:npos].copy()
                for j in range(1, _KR_K):
                    acc = (acc * _KR_B + codes[j : j + npos]) % _KR_P
                win = np.lib.stride_tricks.sliding_window_view(acc, _KR_W)
                # leftmost min per window (np.argmin ties -> first), as
                # 1-based absolute gram positions; distinct + sorted
                pos = np.unique(np.arange(win.shape[0]) + win.argmin(axis=1) + 1)
                for p in pos:
                    out_id.append(doc_id)
                    out_n.append(len(codes))
                    out_na.append(len(pos))
                    out_p.append(int(p))
                    out_h.append(int(acc[p - 1]))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_id, dtype="int64"),
                    "n_chars": pd.Series(out_n, dtype="int64"),
                    "n_anchors": pd.Series(out_na, dtype="int64"),
                    "p": pd.Series(out_p, dtype="int64"),
                    "h": pd.Series(out_h, dtype="int64"),
                }
            )

    return d.mapInPandas(
        kernel, "doc_id long, n_chars long, n_anchors long, p long, h long"
    )


def anchor_coverage_chars():
    """Interval-union length of [p, p+K-1] spans over a sorted anchor
    position array column ``ps``: consecutive gaps clipped at K, plus K
    for the last anchor — exact covered-chars, pure per-doc array math.
    Called only by anchor_dup_report, so the batch report and both
    streaming twins measure coverage with one expression."""
    sz = F.size("ps")
    diffs = F.zip_with(
        F.slice("ps", 1, sz - 1),
        F.slice(F.col("ps"), 2, sz - 1),
        lambda a, b: F.least(F.lit(_KR_K).cast("long"), b - a),
    )
    return F.aggregate(diffs, F.lit(0).cast("long"), lambda a, x: a + x) + _KR_K


def anchor_dup_report(anchors: DataFrame, dup_rows: DataFrame, count_col: str) -> DataFrame:
    """The passage family's one per-doc report: every doc with anchors
    (``anchors`` = winnow_anchor_rows output), its dup-anchor count as
    ``count_col`` and the interval-union coverage of the ``dup_rows``
    (doc_id, p) anchors. dedup_substring passes the anchors whose hash
    is shared by >= 2 docs; stream_dedup_substring_live and
    stream_dedup_substring_bounded pass the anchors that failed to
    claim their hash."""
    base = anchors.groupBy("doc_id").agg(
        F.first("n_chars").alias("n_chars"), F.first("n_anchors").alias("n_anchors")
    )
    cov = (
        dup_rows.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("p")).alias("ps"))
        .select(
            "doc_id",
            F.size("ps").cast("long").alias(count_col),
            anchor_coverage_chars().alias("dup_chars"),
        )
    )
    j = base.join(cov, "doc_id", "left")
    dc = F.coalesce("dup_chars", F.lit(0)).cast("long")
    return j.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_anchors").cast("long").alias("n_anchors"),
        F.coalesce(count_col, F.lit(0)).cast("long").alias(count_col),
        dc.alias("dup_chars"),
        (dc.cast("double") / F.col("n_chars")).alias("dup_frac"),
    )


def substring_dup_report(docs: DataFrame) -> DataFrame:
    """Core of dedup_substring, reusable on any (doc_id, text) frame
    (the planted-passage tests feed it directly). See the gated query's
    docstring for semantics and the 100 TB argument."""
    anchors = winnow_anchor_rows(docs)
    # anchor-hash document frequency: (h, doc) distinct -> count. This
    # is a pure aggregate — no posting-list materialization, so a
    # boilerplate hash shared by millions of docs costs one partial-agg
    # count, never a pair join (the reason this operator has no
    # quadratic corner to cap).
    df_h = (
        anchors.select("h", "doc_id")
        .distinct()
        .groupBy("h")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    return anchor_dup_report(anchors, anchors.join(df_h, "h"), "n_shared_anchors")


def winnow_arows_cte() -> str:
    """The winnow-anchor CTE chain (documents -> arows(doc_id, n,
    n_anchors, p, hv)) under every passage oracle: anchor_report_oracle
    opens with it (dedup_substring and both streaming twins), and the
    TTL-state tests read arows directly — same Horner gram hashes and
    leftmost-window-min anchors as fingerprint_winnow, extended with
    positions. One source so a constant change moves every oracle
    together."""
    return (
        "nrm AS (SELECT doc_id, "
        f"    substr(regexp_replace(lower(text), '[ \\t\\r\\n]+', ' ', 'g'), 1, {_KR_CAP}) AS t "
        "  FROM documents), "
        f"d AS (SELECT doc_id, t, length(t) AS n FROM nrm WHERE length(t) >= {_KR_K + _KR_W - 1}), "
        f"hs AS (SELECT doc_id, n, list_transform(range(1, n - {_KR_K} + 2), i -> "
        f"    list_reduce(list_transform(range(i, i + {_KR_K}), j -> CAST(ascii(substr(t, j, 1)) AS BIGINT)), "
        f"      (a, c) -> (a * {_KR_B} + c) % {_KR_P})) AS h FROM d), "
        "anch AS (SELECT doc_id, n, h, list_sort(list_distinct("
        f"    list_transform(range(1, len(h) - {_KR_W} + 2), "
        f"      j -> j + list_position(h[j:j+{_KR_W - 1}], list_min(h[j:j+{_KR_W - 1}])) - 1))) AS ap "
        "  FROM hs), "
        "arows AS (SELECT doc_id, n, len(ap) AS n_anchors, p, h[p] AS hv "
        "  FROM (SELECT doc_id, n, h, ap, unnest(ap) AS p FROM anch))"
    )


def anchor_report_oracle(dup_ctes: str, name: str) -> str:
    """The passage family's one oracle body, anchor_dup_report in SQL:
    winnow_arows_cte, then ``dup_ctes`` — CTEs over arows that end in
    one named ``name`` holding (doc_id, ps = sorted dup positions) —
    then per-doc coverage (interval union of the dup spans) for every
    doc with anchors, the count column named ``n_{name}_anchors``.
    dedup_substring's dup set is the shared hashes; the streaming
    twins' is the claim rule (streaming_live._passage_oracle)."""
    return (
        f"WITH {winnow_arows_cte()}, {dup_ctes}, "
        f"cov AS (SELECT doc_id, len(ps) AS n_{name}, "
        f"    COALESCE(list_sum(list_transform(range(1, len(ps)), "
        f"      i -> least({_KR_K}, ps[i+1] - ps[i]))), 0) + {_KR_K} AS dup_chars "
        f"  FROM {name}), "
        "base AS (SELECT DISTINCT doc_id, n, n_anchors FROM arows) "
        "SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_chars, "
        "  CAST(b.n_anchors AS BIGINT) AS n_anchors, "
        f"  CAST(COALESCE(c.n_{name}, 0) AS BIGINT) AS n_{name}_anchors, "
        "  CAST(COALESCE(c.dup_chars, 0) AS BIGINT) AS dup_chars, "
        "  CAST(COALESCE(c.dup_chars, 0) AS DOUBLE) / b.n AS dup_frac "
        "FROM base b LEFT JOIN cov c USING (doc_id)"
    )


@query(
    "dedup_substring",
    oracle=anchor_report_oracle(
        # shared = anchor hash in >= 2 docs; covered chars = interval
        # union of [p, p+K-1] over the sorted shared positions
        "dfh AS (SELECT hv FROM (SELECT hv, COUNT(DISTINCT doc_id) AS nd "
        "  FROM arows GROUP BY hv) WHERE nd >= 2), "
        "shared AS (SELECT doc_id, list_sort(list(p)) AS ps "
        "  FROM arows JOIN dfh USING (hv) GROUP BY doc_id)",
        "shared",
    ),
)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUBSTRING-level exact dedup report (Lee et al., 'Deduplicating
    Training Data Makes Language Models Better'): duplicated PASSAGES
    inside otherwise-unique documents dominate web corpora, and
    doc-level dedup_exact/dedup_minhash cannot see them. Winnowing
    anchors give positional substring evidence: each selected k-gram
    hash marks a char span [p, p+K-1]; an anchor hash appearing in >= 2
    documents is a shared passage witness (winnowing guarantees any
    shared run of W+K-1 chars selects at least one common anchor in
    both docs). Per doc this reports anchor counts and dup_chars /
    dup_frac — the exact interval-union length of shared-anchor spans —
    the score a pipeline thresholds to drop or trim boilerplate-heavy
    documents.

    Scale: anchor extraction is the map-only n/W-dense winnow kernel
    (fingerprint_winnow's Arrow hot path, emitting positions); the
    corpus-wide step is ONE (h, doc) distinct + count aggregate and one
    equi-join of anchors against the shared-hash set — no posting-list
    explosion, no pair emission, nothing quadratic to cap. Coverage is
    per-doc sorted-array math (gaps clipped at K), map-side after the
    join."""
    return substring_dup_report(load(spark, sf_dir, "documents"))


@query(
    "char_entropy",
    oracle=(
        # quantized plug-in entropy, EXACT cross-engine: floor(log2 x)
        # = length(bin(x)) - 1 (the ngram_lm integer-log trick), so
        # q = total*floor_log2(total) - sum(c*floor_log2(c)) is pure
        # BIGINT arithmetic; only the final per-doc division is float
        "WITH ch AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9 ]')) AS c "
        "  FROM documents), "
        "cc AS (SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS n FROM ch GROUP BY 1, 2), "
        "d AS (SELECT doc_id, SUM(n) AS total, "
        "    SUM(n * (length(bin(n)) - 1)) AS s FROM cc GROUP BY 1) "
        "SELECT doc_id, CAST(total AS BIGINT) AS n_chars_counted, "
        "  CAST(total * (length(bin(total)) - 1) - s AS BIGINT) AS q_entropy, "
        "  CAST(total * (length(bin(total)) - 1) - s AS DOUBLE) / total AS bits_per_char "
        "FROM d"
    ),
)
def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution entropy per document — the gibberish /
    low-diversity signal (mashed-keyboard spam scores near zero bits;
    natural text sits well above). The plug-in entropy is QUANTIZED to
    integer floor-log2 terms (binary-string lengths, the ngram_lm
    trick) so the whole score is exact BIGINT arithmetic cross-engine —
    q = total*floor_log2(total) - sum(c * floor_log2(c)) — where a
    float ln() would drift in the last bits. Scale: one (doc, char)
    partial-agg shuffle (alphabet-bounded: <= 37 rows per doc cross the
    exchange), one per-doc aggregate."""
    docs = load(spark, sf_dir, "documents", spread=True, amplify=2000)
    ch = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9 ]"), F.lit(0))
        ).alias("c"),
    )
    cc = ch.groupBy("doc_id", "c").agg(F.count("*").alias("n"))
    lg = lambda col: F.length(F.bin(col)) - 1  # noqa: E731 — floor(log2 x)
    d = cc.groupBy("doc_id").agg(
        F.sum("n").alias("total"),
        F.sum(F.col("n") * lg(F.col("n"))).alias("s"),
    )
    q = F.col("total") * lg(F.col("total")) - F.col("s")
    return d.select(
        "doc_id",
        F.col("total").cast("long").alias("n_chars_counted"),
        q.cast("long").alias("q_entropy"),
        (q.cast("double") / F.col("total")).alias("bits_per_char"),
    )


@query(
    "json_parse_once",
    oracle=(
        # typed parse-once: the struct field feeds BOTH outputs from one
        # parse, vs json_extract's per-expression re-parse. json_valid +
        # TRY_CAST mirror from_json's PERMISSIVE contract: malformed
        # JSON or a non-numeric k yields NULL / parsed_ok=false on both
        # engines instead of erroring the oracle run.
        "WITH p AS (SELECT event_id, "
        "    CASE WHEN json_valid(props) "
        "         THEN TRY_CAST(json_extract(props, '$.k') AS BIGINT) END AS k "
        "  FROM events) "
        "SELECT event_id, k, k % 10 AS k_bucket, k IS NOT NULL AS parsed_ok "
        "FROM p"
    ),
)
def json_parse_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest-time JSON discipline json_extract's docstring
    prescribes, as its own operator: from_json parses props ONCE into a
    typed struct column, and every downstream expression reads struct
    fields (zero re-parses — get_json_object re-runs Jackson per
    expression per row). Corrupt records become NULL structs
    (PERMISSIVE mode), surfaced here as parsed_ok. Scale: map-only; at
    100 TB the parse happens once at ingest and the struct column is
    columnar parquet thereafter."""
    from pyspark.sql.types import LongType, StructField, StructType

    ev = load(spark, sf_dir, "events")
    schema = StructType([StructField("k", LongType())])
    p = ev.select("event_id", F.from_json("props", schema).alias("p"))
    k = F.col("p.k")
    return p.select(
        "event_id",
        k.alias("k"),
        (k % 10).alias("k_bucket"),
        k.isNotNull().alias("parsed_ok"),
    )


@query(
    "sentence_split",
    oracle=(
        # the synthetic corpus carries no punctuation, so sentence
        # boundaries are PLANTED deterministically (every ' a ' token
        # becomes '. ' — the dedup_url planted-data convention), then
        # segmentation runs on terminal punctuation; segment indexes are
        # assigned BEFORE dropping empties, so both engines agree
        "WITH t AS (SELECT doc_id, regexp_replace(text, ' a ', '. ', 'g') AS text FROM documents), "
        "s AS (SELECT doc_id, string_split_regex(text, '[.!?]') AS ss FROM t), "
        "x AS (SELECT doc_id, CAST(unnest(range(len(ss))) AS BIGINT) AS sent_idx, "
        "    trim(unnest(ss)) AS sentence FROM s) "
        "SELECT doc_id, sent_idx, sentence, "
        "  CAST(length(sentence) AS BIGINT) AS n_chars "
        "FROM x WHERE length(sentence) > 0"
    ),
)
def sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation: docs split on terminal punctuation into
    one row per non-empty trimmed sentence with its original position —
    the unit for sentence-level dedup/filtering and sliding-window
    example building (text_windows' sibling at sentence granularity).
    The synthetic corpus has no punctuation, so boundaries are planted
    first (' a ' -> '. ', deterministic in both engines — the
    dedup_url planted-data convention); segment indexes are assigned
    before empty segments drop, so the numbering is stable under
    punctuation runs. Scale: map-only
    posexplode row amplification that pipelines with the scan; no
    exchange."""
    docs = load(spark, sf_dir, "documents")
    planted = F.regexp_replace("text", " a ", ". ")
    parts = F.split(planted, "[.!?]", -1)
    ex = docs.select("doc_id", F.posexplode(parts).alias("sent_idx", "raw"))
    s = ex.select(
        "doc_id",
        F.col("sent_idx").cast("long").alias("sent_idx"),
        F.trim(F.col("raw")).alias("sentence"),
    )
    return s.filter(F.length("sentence") > 0).withColumn(
        "n_chars", F.length("sentence").cast("long")
    )


# BM25 ranking constants: fixed query terms, k1 = 6/5 and b = 3/4 as
# exact rationals (cleared denominators keep every intermediate a
# BIGINT), idf quantized via the ngram_lm floor-log2 trick with a 2^20
# pre-shift so common/rare terms still separate after quantization.
_BM25_TERMS = ("window", "merge", "scan")
_BM25_SHIFT = 1 << 20


def _bm25_oracle() -> str:
    tf_cols = ", ".join(
        f"CAST(len(list_filter(toks, x -> x = '{t}')) AS BIGINT) AS tf_{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ", ".join(
        f"CAST(SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{i}"
        for i in range(len(_BM25_TERMS))
    )
    contribs = " + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN "
        f"CAST((length(bin(((nd + 1) * {_BM25_SHIFT}) // (df_{i} + 1))) - 1) "
        f"  * (44 * tt * tf_{i}) AS DOUBLE) "
        f"/ (20 * tt * tf_{i} + 6 * tt + 18 * dl * nd) ELSE 0.0 END)"
        for i in range(len(_BM25_TERMS))
    )
    return (
        "WITH t AS (SELECT doc_id, "
        f"    regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks FROM documents), "
        f"p AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, {tf_cols} FROM t), "
        f"g AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd, "
        f"    CAST(COALESCE(SUM(dl), 0) AS BIGINT) AS tt, {df_cols} FROM p) "
        f"SELECT doc_id, dl AS n_tokens, {contribs} AS score FROM p, g"
    )


@query("bm25_score", oracle=_bm25_oracle())
def bm25_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance scoring (Robertson-Sparck Jones) for a fixed
    query, EXACT cross-engine — the retrieval/RAG ranking primitive
    tfidf_terms' keyword extraction doesn't cover. Floats normally make
    BM25 engine-specific (ln idf, partial-sum order); here every
    intermediate is a BIGINT: idf quantizes to floor-log2 of the
    2^20-shifted (N+1)/(df+1) ratio (binary-string-length trick,
    integer division on both engines), and the tf saturation
    tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)) with k1=6/5, b=3/4 clears
    denominators by 20*T (T = corpus token count, avgdl = T/D): term
    weight = idf * 44*T*tf / (20*T*tf + 6*T + 18*dl*D) — one IEEE
    division of exact <2^53 integers per term, summed in fixed written
    order. The planted-ranking pytest pins the semantics (rare term
    outranks common; longer doc scores below shorter at equal tf).

    Scale: one map-side pass computes dl and per-term tf from the token
    array (no explode — the query is a handful of literals); corpus
    stats (N, T, df per term) are ONE tiny aggregate broadcast back.
    At 100 TB with open vocabularies the same algebra runs over an
    inverted (term, doc, tf) layout joined against a broadcast query-
    term table — identical integer contract, different storage."""
    docs = load(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), F.lit(0))

    def tf(term):  # closure per term (a 2-arg lambda would be (elem, idx))
        return F.size(F.filter(toks, lambda x: x == F.lit(term))).cast("long")

    p = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        *[tf(t).alias(f"tf_{i}") for i, t in enumerate(_BM25_TERMS)],
    )
    g = p.agg(
        F.count("*").cast("long").alias("nd"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("tt"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).cast("long").alias(f"df_{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    j = p.crossJoin(F.broadcast(g))
    score = None
    for i in range(len(_BM25_TERMS)):
        idf = (
            F.length(
                F.bin(F.expr(f"((nd + 1) * {_BM25_SHIFT}) div (df_{i} + 1)"))
            )
            - 1
        ).cast("long")
        num = (idf * 44 * F.col("tt") * F.col(f"tf_{i}")).cast("double")
        den = (
            20 * F.col("tt") * F.col(f"tf_{i}")
            + 6 * F.col("tt")
            + 18 * F.col("dl") * F.col("nd")
        ).cast("double")
        c = F.when(F.col(f"tf_{i}") > 0, num / den).otherwise(F.lit(0.0))
        score = c if score is None else score + c
    return j.select("doc_id", F.col("dl").alias("n_tokens"), score.alias("score"))


# Vocabulary-coverage audit: vocab = the corpus's top-N tokens by count
# (token-asc tiebreak — a total order, so the cut is deterministic).
# N = 20 against the synthetic corpus's 31 distinct tokens keeps the
# OOV signal non-vacuous at every scale factor; a real tokenizer swaps
# in its actual vocab table and N plays no role.
VOCAB_N = 20


@query(
    "vocab_coverage",
    oracle=(
        "WITH t AS (SELECT doc_id, "
        f"    unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS tok FROM documents), "
        "cnt AS (SELECT tok, COUNT(*) AS c FROM t GROUP BY tok), "
        f"v AS (SELECT tok FROM cnt ORDER BY c DESC, tok LIMIT {VOCAB_N}), "
        "d AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, "
        "    CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov "
        "  FROM t LEFT JOIN v ON t.tok = v.tok GROUP BY doc_id) "
        "SELECT doc_id, n_tokens, n_oov, "
        "  CAST(n_oov AS DOUBLE) / n_tokens AS oov_rate FROM d"
    ),
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary COVERAGE audit — the 'will my tokenizer
    shred this corpus into bytes' check run before committing to a
    vocab: per document, how many tokens fall outside the top-VOCAB_N
    corpus vocabulary (token_histogram's cut made a per-doc feature).
    High OOV rate predicts byte-fallback blowup in sequence length and
    degraded model quality on that slice — the per-source aggregation
    of this rate decides which sources need transliteration/cleanup.

    Scale: token counts are one partial-agg shuffle; the vocab is a
    TakeOrderedAndProject head (VOCAB_N rows) BROADCAST back, so the
    per-doc pass is explode + broadcast left join + partial-agg count —
    nothing token-level ever hash-shuffles twice. A real vocab (50k
    BPE entries) still broadcasts in KB."""
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), F.lit(0))
        ).alias("tok"),
    )
    vocab = (
        t.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok"))
        .limit(VOCAB_N)
        .select("tok", F.lit(1).alias("_in_v"))
    )
    d = (
        t.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("_in_v").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
    )
    return d.select(
        "doc_id",
        "n_tokens",
        F.col("n_oov").cast("long").alias("n_oov"),
        (F.col("n_oov").cast("double") / F.col("n_tokens")).alias("oov_rate"),
    )


# text_seg_dedup segment width (tokens). "Lines" in a CCNet-style
# paragraph dedup; this corpus has no newlines, so fixed token windows
# stand in as the exact-dedup unit. _SEG_RANGE_MAX uncorrelated-range
# bound for the oracle (docs here cap near 100 tokens; 400 segments
# covers 4000 — the shingle-oracle precedent).
_SEG_W = 10
_SEG_RANGE_MAX = 400


@query(
    "text_seg_dedup",
    oracle=(
        "WITH t AS (SELECT doc_id, "
        f"    regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks FROM documents), "
        "s AS (SELECT doc_id, i AS seg_idx, "
        f"    md5(array_to_string(list_slice(toks, i*{_SEG_W}+1, i*{_SEG_W}+{_SEG_W}), ' ')) AS h "
        f"  FROM t, range(0, {_SEG_RANGE_MAX}) g(i) WHERE i < ceil(len(toks) / {_SEG_W}.0)), "
        "r AS (SELECT doc_id, seg_idx, "
        "    row_number() OVER (PARTITION BY h ORDER BY doc_id, seg_idx) AS rn FROM s), "
        "d AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segs, "
        "    CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segs "
        "  FROM r GROUP BY doc_id) "
        "SELECT doc.doc_id, COALESCE(d.n_segs, 0) AS n_segs, "
        "  COALESCE(d.n_dup_segs, 0) AS n_dup_segs, "
        "  CAST(COALESCE(d.n_dup_segs, 0) AS DOUBLE) / NULLIF(COALESCE(d.n_segs, 0), 0) "
        "    AS dup_frac "
        "FROM documents doc LEFT JOIN d ON doc.doc_id = d.doc_id"
    ),
)
def text_seg_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style EXACT segment dedup across the corpus: each doc's
    token stream splits into fixed _SEG_W-token segments (the stand-in
    for paragraphs/lines — this corpus has none), each segment is
    hashed, and the FIRST occurrence corpus-wide (min (doc_id,
    seg_idx)) keeps it; every later occurrence is a dropped duplicate.
    Per-doc report: segments, dropped segments, dup fraction — the
    boilerplate-removal audit that runs before fuzzy dedup (exact
    segment hits are the cheap 80% of near-dup mass; dedup_substring's
    winnow anchors catch the shifted/edited rest).

    Scale: segmentation is per-row array math inside the scan (no
    explode until the hash rows, which carry 16-byte hashes + two
    ints); the only exchanges are the rank on the segment hash and the
    per-doc recount — both partial-agg friendly. The rank-on-hash is
    dedup_exact's budget applied at segment granularity: |segments|
    rows, never text."""
    docs = load(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), F.lit(0))
    n_segs = F.ceil(F.size(toks) / F.lit(float(_SEG_W))).cast("int")
    segs = F.when(
        n_segs > 0,
        F.transform(
            F.sequence(F.lit(0), n_segs - 1),
            lambda i: F.array_join(F.slice(toks, i * _SEG_W + 1, _SEG_W), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    s = docs.select("doc_id", F.posexplode_outer(segs).alias("seg_idx", "seg")).select(
        "doc_id", "seg_idx", F.md5(F.col("seg").cast("binary")).alias("h")
    )
    w = Window.partitionBy("h").orderBy("doc_id", "seg_idx")
    r = s.filter(F.col("seg_idx").isNotNull()).withColumn(
        "rn", F.row_number().over(w)
    )
    d = r.groupBy("doc_id").agg(
        F.count("*").alias("n_segs"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("n_dup_segs"),
    )
    base = docs.select("doc_id")
    j = base.join(d, "doc_id", "left")
    ns = F.coalesce("n_segs", F.lit(0)).cast("long")
    nd = F.coalesce("n_dup_segs", F.lit(0)).cast("long")
    return j.select(
        "doc_id",
        ns.alias("n_segs"),
        nd.alias("n_dup_segs"),
        (nd.cast("double") / F.nullif(ns, F.lit(0))).alias("dup_frac"),
    )


# BPE merge rounds (unrolled in the oracle, kmeans_iter-style driver
# loop in the operator). 5 rounds keeps the oracle readable; real
# tokenizer training runs the same loop to vocab-size quiescence.
_BPE_ROUNDS = 5


def _bpe_merge_sql(m_cte: str) -> tuple[str, str]:
    """SQL fragment: Sennrich leftmost non-overlapping merge of the pair
    in 1-row CTE ``m_cte`` over symbol string column s, as a list_reduce
    fold. The accumulator is the output symbol list encoded as a
    chr(31)-joined string (symbols are [a-z]+ merges or '</w>' — the
    unit separator cannot occur); the last element equals the pair's
    LEFT symbol iff acc ends with chr(31)||ma (or IS ma, single-element
    case), and the merge appends mb directly (acc || mb turns the
    trailing 'ma' element into 'mamb'). A merged token is strictly
    longer than ma, so it can never re-match as the left symbol — the
    fold resumes after the replacement exactly like Sennrich's scan.
    This is the construct a naive delimited replace(' a b ',' ab ')
    gets WRONG on consecutive occurrences ('b a n a n a' must merge to
    'b an an a', not 'b an a n a')."""
    return (
        "replace(list_reduce(string_split(s, ' '), "
        "(acc, x) -> CASE WHEN x = mb AND (acc = ma OR right(acc, 1 + len(ma)) = chr(31) || ma) "
        "THEN acc || mb ELSE acc || chr(31) || x END), chr(31), ' ')"
    ), (
        f"(SELECT split_part(pair, ' ', 1) AS ma, split_part(pair, ' ', 2) AS mb FROM {m_cte})"
    )


def _bpe_train_ctes() -> list[str]:
    ctes = [
        "wrd AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents)",
        "v0 AS (SELECT array_to_string(regexp_split_to_array(w, ''), ' ') || ' </w>' AS s, "
        "    CAST(COUNT(*) AS BIGINT) AS freq FROM wrd GROUP BY 1)",
    ]
    for r in range(1, _BPE_ROUNDS + 1):
        p = r - 1
        ctes.append(
            f"p{r} AS (SELECT pr, CAST(SUM(freq) AS BIGINT) AS cnt FROM ("
            f"  SELECT freq, unnest(list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i+1])) AS pr "
            f"  FROM (SELECT string_split(s, ' ') AS a, freq FROM v{p})) GROUP BY pr)"
        )
        ctes.append(
            f"m{r} AS (SELECT pr AS pair, cnt FROM p{r} ORDER BY cnt DESC, pr LIMIT 1)"
        )
        if r < _BPE_ROUNDS:
            fold, mrow = _bpe_merge_sql(f"m{r}")
            ctes.append(f"v{r} AS (SELECT {fold} AS s, freq FROM v{p}, {mrow})")
    return ctes


def _bpe_oracle() -> str:
    sel = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS round, pair, cnt FROM m{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    )
    return "WITH " + ", ".join(_bpe_train_ctes()) + " " + sel


@query("bpe_train_iter", oracle=_bpe_oracle())
def bpe_train_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE TOKENIZER TRAINING (Sennrich et al.) — the iterative merge
    loop bpe_pairs is the single-round statistic of: words become
    space-joined symbol strings ('l o w </w>') weighted by corpus
    frequency, and each round (a) counts adjacent symbol pairs
    weighted by word freq, (b) picks the most frequent pair
    (count DESC, pair ASC — a total order both engines agree on), and
    (c) merges every LEFTMOST NON-OVERLAPPING occurrence as a fold
    over the symbol list: if the accumulator's last symbol is the
    pair's left and the incoming symbol is its right, the two fuse;
    the fused token is strictly longer than the left symbol, so it
    can never re-match — the fold resumes after the replacement,
    which is Sennrich's scan exactly, INCLUDING on consecutive
    repeats ('b a n a n a' -> 'b an an a', where a delimited string
    replace would skip the second occurrence because the shared
    delimiter is consumed by the first — the round-8 defect this
    form fixes). Spark expresses the fold as an aggregate() HOF over
    the split symbols; the oracle as DuckDB list_reduce with a
    chr(31)-encoded accumulator (_bpe_merge_sql). The output is the
    learned merge table, the artifact a tokenizer ships. The oracle
    unrolls the _BPE_ROUNDS rounds as CTE stages (the graph_kcore
    discipline for iterative algorithms).

    Scale: the vocab table (one row per distinct word) is the ONLY
    distributed state — exactly how corpus-scale BPE trains: per
    round, one partial-agg pair count + a 1-row driver read (the
    argmax merge — the kmeans_iter scalar-per-round pattern) + a
    map-only replace, with localCheckpoint truncating the lineage so
    round r's plan stays O(1). Raw text is touched ONCE (the word
    count); every later round runs over the compressed vocab."""
    return spark.createDataFrame(
        _bpe_merge_list(spark, sf_dir), "round bigint, pair string, cnt bigint"
    )


def _bpe_merge_fold(sym, a: str, b: str):
    """Column: Sennrich leftmost non-overlapping merge of pair (a, b)
    over symbol-array column ``sym`` — the aggregate() HOF twin of the
    oracle's list_reduce fold (_bpe_merge_sql). try_element_at(acc, -1)
    is NULL on the empty accumulator (condition falls through under
    ANSI), and the fused token a||b is strictly longer than a, so it
    never re-matches as the pair's left symbol — scan resumes after
    each replacement, Sennrich's exact order."""
    merged = a + b
    return F.aggregate(
        sym,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.try_element_at(acc, F.lit(-1)) == F.lit(a)) & (x == F.lit(b)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - F.lit(1)),
                F.array(F.lit(merged)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _bpe_merge_list(spark: SparkSession, sf_dir: str) -> list[tuple[int, str, int]]:
    """The distributed BPE training loop (shared by bpe_train_iter and
    bpe_apply): returns [(round, pair, weighted count)] after
    _BPE_ROUNDS rounds over the corpus word-frequency vocab."""
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), F.lit(0))
        ).alias("w")
    )
    vocab = (
        words.groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select(
            F.concat(F.concat_ws(" ", F.split("w", "")), F.lit(" </w>")).alias("s"),
            "freq",
        )
        .localCheckpoint()
    )
    merges = []
    for r in range(1, _BPE_ROUNDS + 1):
        sym = F.split("s", " ")
        pair_arr = F.transform(
            F.sequence(F.lit(1), F.size(sym) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(sym, i), F.element_at(sym, i + 1)
            ),
        )
        best = (
            vocab.select("freq", F.explode(pair_arr).alias("pr"))
            .groupBy("pr")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "pr")
            .limit(1)
            .collect()[0]
        )
        merges.append((r, best.pr, int(best.cnt)))
        if r < _BPE_ROUNDS:
            a, b = best.pr.split(" ")
            vocab = vocab.select(
                F.array_join(_bpe_merge_fold(sym, a, b), " ").alias("s"),
                "freq",
            ).localCheckpoint()
    return merges


def _bpe_apply_oracle() -> str:
    # the train chain (v0..m5, on (s, freq)) + a parallel APPLY chain
    # keyed by the original word (a0..a5 — note round _BPE_ROUNDS's
    # merge IS applied here, unlike the train chain which stops
    # rewriting after its last count), then docs join the tokenized
    # vocab and sum symbol counts.
    apply_ctes = [
        "a0 AS (SELECT w, array_to_string(regexp_split_to_array(w, ''), ' ') || ' </w>' AS s "
        "  FROM (SELECT DISTINCT w FROM wrd))",
    ]
    for r in range(1, _BPE_ROUNDS + 1):
        fold, mrow = _bpe_merge_sql(f"m{r}")
        apply_ctes.append(
            f"a{r} AS (SELECT w, {fold} AS s FROM a{r - 1}, {mrow})"
        )
    return (
        "WITH " + ", ".join(_bpe_train_ctes() + apply_ctes) + ", "
        "tok AS (SELECT w, CAST(len(string_split(s, ' ')) AS BIGINT) AS n_syms "
        f"  FROM a{_BPE_ROUNDS}), "
        "d AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w "
        "  FROM documents) "
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words, "
        "  CAST(SUM(n_syms) AS BIGINT) AS n_bpe_tokens "
        "FROM d JOIN tok USING (w) GROUP BY doc_id"
    )


@query("bpe_apply", oracle=_bpe_apply_oracle())
def bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZE with the learned merges — the inference half of the
    tokenizer story (bpe_train_iter learns the merge table, this
    applies it): each merge rewrites the vocabulary in training order
    (all _BPE_ROUNDS of them), and every document's BPE token count is
    the sum of its words' post-merge symbol counts — the statistic
    that prices a corpus in model tokens rather than words (compare
    token_count's regex proxy). Merges apply to the DISTINCT
    vocabulary, never to token instances: |vocab| rows get 5 map-only
    Sennrich merge folds (_bpe_merge_fold — leftmost non-overlapping,
    correct on consecutive repeats), then documents join the
    tokenized vocab by word.

    Scale: the train loop's budget (it re-runs here; production reads
    the shipped merge table instead) + 5 map-only rewrites over the
    vocab + one explode-join-aggregate: the join keys on the word with
    NO broadcast hint (vocabulary cardinality — the
    dedup_semantic_text lesson; AQE broadcasts when it measures
    small), and the per-doc sum combines map-side. The tail IS
    bpe_apply_merges (round 11 — one inference code path; this wrapper
    only supplies the freshly trained table)."""
    merges = _bpe_merge_list(spark, sf_dir)
    return bpe_apply_merges(load(spark, sf_dir, "documents"), merges)


def bpe_apply_merges(docs: DataFrame, merges) -> DataFrame:
    """Tokenize with a SHIPPED merge table — the production inference
    path bpe_apply's Scale note names ("production reads the shipped
    merge table instead"), now code (round 10): ``merges`` is the
    trained artifact, [(round, "a b", weighted_count)] in training
    order (exactly _bpe_merge_list's return — a tokenizer ships this
    as a tiny file; the corpus never re-trains). Semantics are
    bpe_apply's verbatim from the merge table onward: every merge
    rewrites the DISTINCT vocabulary with the Sennrich leftmost
    non-overlapping fold, documents join the tokenized vocab by word,
    per-doc (n_words, n_bpe_tokens). tests/test_round10_ops.py pins
    this against the registered bpe_apply (which re-runs the train
    loop so its DuckDB oracle can unroll both halves) — since round 11
    bpe_apply's tail routes through HERE, so the two paths cannot
    drift (bpe_apply holds a round-11 gate-window re-proof slot for
    the change).

    Scale: |merges| map-only vocabulary rewrites (merge tables are
    10k-50k rows in practice — each fold is one whole-stage-codegen
    pass over |vocab| rows, no shuffle), then one explode-join-
    aggregate; the join keys on the word with NO broadcast hint (AQE
    broadcasts the tokenized vocab when it measures small) and the
    per-doc sum combines map-side."""
    d = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), F.lit(0))
        ).alias("w"),
    )
    vocab = d.select("w").distinct().select(
        "w",
        F.concat(F.concat_ws(" ", F.split("w", "")), F.lit(" </w>")).alias("s"),
    )
    sym = F.split("s", " ")
    for _, pair, _cnt in merges:
        a, b = pair.split(" ")
        sym = _bpe_merge_fold(sym, a, b)
    tok = vocab.select("w", F.size(sym).cast("long").alias("n_syms"))
    return (
        d.join(tok, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_syms").alias("n_bpe_tokens"),
        )
    )


def bpe_save_merges(merges, spark: SparkSession, path: str) -> None:
    """Persist a trained BPE merge table [(round, pair, cnt)] as a
    parquet artifact — the tiny file a tokenizer build ships (the
    reference's tokenizers ship exactly this; _bpe_merge_list's return
    lands verbatim so bpe_load_merges round-trips it). One coalesced
    write via tiny_df (Arrow LocalTableScan — the list form would drag
    every parallelize partition through a Python worker per write);
    merge tables are 10k-50k rows in practice."""
    from flod_spark.io import tiny_df

    tiny_df(
        spark,
        [(int(r), p, int(c)) for r, p, c in merges],
        "round bigint, pair string, cnt bigint",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def bpe_load_merges(spark: SparkSession, path: str):
    """Load a shipped BPE merge table back into bpe_apply_merges'
    input shape, in TRAINING ORDER (merges only compose correctly in
    the order they were learned — the round column is the order)."""
    return [
        (r.round, r.pair, r.cnt)
        for r in spark.read.parquet(path).orderBy("round").collect()
    ]


@query("bpe_apply_from_table", oracle=_bpe_apply_oracle())
def bpe_apply_from_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE BPE ARTIFACT-INFERENCE LIFECYCLE, driver-gated (r13 verdict
    item 4): train the merge table, SAVE it as the shipped parquet
    artifact, LOAD it back in training order, and tokenize through
    bpe_apply_merges — the production inference path (train once, ship
    the table, tokenize forever) gated against bpe_apply's ORACLE
    VERBATIM, so drift in save, load, the ordering column, or the
    merge-fold path is a hash mismatch (the dedup_claims_compacted
    verbatim-reuse discipline).

    Scale: the train budget + one tiny artifact write/read + the apply
    plan (|merges| map-only vocab rewrites, word join, map-side per-doc
    sum); a production nightly slice runs ONLY the tail, and the merge
    table rides to executors as a plain literal fold (10k-50k merges =
    10k-50k whole-stage passes over |vocab| rows — the documented
    bpe_apply_merges budget)."""
    import os
    import tempfile

    from flod_spark.io import serve_and_cleanup

    merges = _bpe_merge_list(spark, sf_dir)
    with tempfile.TemporaryDirectory(prefix="flod_bpe_merges_", ignore_cleanup_errors=True) as mdir:
        mpath = os.path.join(mdir, "merges")
        bpe_save_merges(merges, spark, mpath)
        docs = load(spark, sf_dir, "documents")
        return serve_and_cleanup(bpe_apply_merges(docs, bpe_load_merges(spark, mpath)))


def _novelty_grams(docs):
    """Distinct (doc_id, md5(trigram)) pairs — the gram table
    ngram_novelty and both streaming twins (stream_ngram_novelty_live,
    stream_ngram_novelty_bounded) score over; _novelty_grams_cte is its
    SQL form. Projects the token array ONCE, then builds grams by
    zipping three shifted slices: a
    transform(sequence, element_at(a, i)) form re-evaluates the regexp
    extraction per element_at and measured 11x slower at sf0.1
    (28 s -> 2.5 s for the same 260k grams)."""
    toks = docs.select(
        "doc_id",
        F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), F.lit(0)).alias("a"),
    )
    a = F.col("a")
    n2 = F.size(a) - 2
    grams = F.when(
        F.size(a) >= 3,
        F.zip_with(
            F.slice(a, 1, n2),
            F.zip_with(
                F.slice(a, 2, n2), F.slice(a, 3, n2),
                lambda y, z: F.concat_ws(" ", y, z),
            ),
            lambda x, yz: F.concat_ws(" ", x, yz),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        toks.select("doc_id", F.explode(grams).alias("gr"))
        .select("doc_id", F.md5(F.col("gr").cast("binary")).alias("h"))
        .distinct()
    )


def _novelty_grams_cte() -> str:
    """_novelty_grams in SQL: toks, then g(doc_id, h) — the gram CTEs
    under both novelty oracles (novelty_oracle)."""
    return (
        f"toks AS (SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS a "
        "  FROM documents), "
        "g AS (SELECT DISTINCT doc_id, "
        "    md5(a[i] || ' ' || a[i+1] || ' ' || a[i+2]) AS h "
        "  FROM (SELECT doc_id, a, unnest(range(1, len(a) - 1)) AS i FROM toks) "
        "  WHERE len(a) >= 3)"
    )


def novelty_oracle(claim_ctes: str) -> str:
    """The novelty family's one oracle body, novelty_report in SQL:
    the gram CTEs, then ``claim_ctes`` — ending in d(doc_id, n_grams,
    n_novel) — then every document zero-filled with its ratio. The
    claim rule is first occurrence (ngram_novelty, borrowed verbatim by
    stream_ngram_novelty_live) or a LAG within the horizon
    (stream_ngram_novelty_bounded)."""
    return (
        f"WITH {_novelty_grams_cte()}, {claim_ctes} "
        "SELECT doc_id, COALESCE(n_grams, 0) AS n_grams, COALESCE(n_novel, 0) AS n_novel, "
        "  CAST(n_novel AS DOUBLE) / NULLIF(n_grams, 0) AS novelty_frac "
        "FROM documents LEFT JOIN d USING (doc_id)"
    )


def novelty_report(j: DataFrame) -> DataFrame:
    """The novelty family's one per-doc report over ``j`` (every doc
    with its n_grams and n_novel, NULL where it has none): zero-filled
    counts and their ratio. ngram_novelty and both streaming twins
    (through streaming_live._novelty_stream) finish here."""
    ng = F.coalesce("n_grams", F.lit(0)).cast("long")
    nv = F.coalesce("n_novel", F.lit(0)).cast("long")
    return j.select(
        "doc_id",
        ng.alias("n_grams"),
        nv.alias("n_novel"),
        (nv.cast("double") / F.nullif(ng, F.lit(0))).alias("novelty_frac"),
    )


@query(
    "ngram_novelty",
    oracle=novelty_oracle(
        "f AS (SELECT h, MIN(doc_id) AS first_doc FROM g GROUP BY h), "
        "d AS (SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams, "
        "    CAST(SUM(CASE WHEN g.doc_id = f.first_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_novel "
        "  FROM g JOIN f USING (h) GROUP BY g.doc_id)"
    ),
)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-GRAM NOVELTY per document — what fraction of a doc's distinct
    word trigrams appear for the FIRST time in the corpus (by doc_id
    order)? The diversity audit a curation pipeline runs before
    admitting a new crawl slice: low novelty = the slice restates what
    the corpus already has (dedup won't catch it — no single document
    matches), high novelty = genuinely new text. First-occurrence
    attribution is a MIN over the gram's claimants, so the statistic
    is exact and insertion-order independent given the doc_id order.

    Scale: grams cross the exchange as 16-byte md5 hashes, never text
    (the dedup_exact budget at trigram granularity); MIN(doc_id)
    partial-aggregates map-side, the claim join is hash-on-hash, and
    the per-doc recount shuffles |distinct gram instances| compact
    rows. Frequent-gram skew is capped by DISTINCT-per-doc (a gram
    costs one row per CONTAINING DOC, never per occurrence)."""
    docs = load(spark, sf_dir, "documents")
    g = _novelty_grams(docs)
    f = g.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    d = (
        g.join(f, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(
                F.when(F.col("doc_id") == F.col("first_doc"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return novelty_report(docs.select("doc_id").join(d, "doc_id", "left"))


# ---------------------------------------------------------------------------
# HTML -> text extraction (r12 verdict item 2): the missing link in the
# WARC crawl-ingestion chain (WARC scan -> EXTRACT -> quality -> dedup ->
# shards). Deterministic rule-based boilerplate removal in the jusText/
# trafilatura spirit: drop script/style, segment on block-level closing
# tags, strip tags per block, then keep only blocks that are long enough
# AND not link-dominated (2 * anchor_chars <= text_chars). All patterns
# are explicit-ASCII and behave identically under Java regex and RE2
# (module-header portability rule); `(?s)` + non-greedy are supported by
# both.
HTML_SCRIPT_RE = "(?s)<(script|style)[^>]*>.*?</(script|style)>"
HTML_BLOCK_RE = "</(p|div|nav|footer|li|h[1-6]|title)>|<br/?>"
HTML_TAG_RE = "<[^>]*>"
HTML_ANCHOR_RE = "(?s)<a[^>]*>(.*?)</a>"
# extraction thresholds (a block must read like prose, not chrome)
HTML_MIN_BLOCK_CHARS = 25

# deterministic planted HTML (both engines build the same page from
# doc_id + text, so every extraction rule is exercised non-vacuously at
# any sf): title + style + script (removed), a link-only <nav> (dropped:
# short AND link-dense), the document text as the main <p> (kept), a
# mixed text+link paragraph (kept WITH its anchor text — link text is
# content), a share <div> whose chars are mostly anchors (dropped by
# link density despite its length), and a <footer> (dropped: short).
# ``topic_sql`` parameterizes the one content token that varies:
# html_extract keys it on doc_id; crawl_pipeline keys it on md5(text)
# so the EXTRACTED text is a pure function of text (dedup-exact twin).


def _html_plant_sql(topic_sql: str) -> str:
    return (
        "'<html><head><title>Doc ' || doc_id || '</title>"
        "<style>body{margin:0;}</style>"
        "<script>var id=' || doc_id || ';</script></head><body>"
        '<nav><a href="/">Home</a> <a href="/about">About</a></nav>'
        "<div><p>' || replace(text, chr(10), '</p><p>') || '</p></div>"
        f"<p>Read more about topic ' || {topic_sql} || ' in "
        f'<a href="/t">the topic \' || {topic_sql} || \' archive page</a> here.</p>'
        '<div class="share"><a href="/s">Share this article</a> '
        '<a href="/t">Tweet this article</a> via</div>'
        '<footer>(c) 2026 <a href="/p">Privacy</a></footer></body></html>\''
    )


_HTML_AUG_SQL = _html_plant_sql("(doc_id % 50)")


def html_plant_col(doc_id, text, topic):
    """Spark twin of _html_plant_sql over Columns — shared by
    html_extract and crawl_pipeline (surface.py) so the planted page
    construction cannot drift between the two gates."""
    return F.concat(
        F.lit("<html><head><title>Doc "),
        doc_id.cast("string"),
        F.lit("</title><style>body{margin:0;}</style><script>var id="),
        doc_id.cast("string"),
        F.lit(
            ';</script></head><body><nav><a href="/">Home</a> '
            '<a href="/about">About</a></nav><div><p>'
        ),
        F.regexp_replace(text, "\n", "</p><p>"),
        F.lit("</p></div><p>Read more about topic "),
        topic,
        F.lit(' in <a href="/t">the topic '),
        topic,
        F.lit(
            ' archive page</a> here.</p><div class="share">'
            '<a href="/s">Share this article</a> '
            '<a href="/t">Tweet this article</a> via</div>'
            '<footer>(c) 2026 <a href="/p">Privacy</a></footer></body></html>'
        ),
    )

# per-block plain text, as one reusable SQL fragment over a block `x`:
# tags -> spaces, whitespace runs collapsed, trimmed
_HTML_TXT_SQL = (
    f"trim(regexp_replace(regexp_replace(x, '{HTML_TAG_RE}', ' ', 'g'), "
    f"'{WS_RE}', ' ', 'g'))"
)
# COALESCE: DuckDB's array_to_string returns NULL (not '') for an
# anchor-free block's empty match list; Spark's array_join gives ''
_HTML_ANCH_SQL = (
    "coalesce(length(array_to_string("
    f"regexp_extract_all(x, '{HTML_ANCHOR_RE}', 1), '')), 0)"
)


def html_block_text(x):
    """Plain text of one HTML block (Column -> Column): tags become
    spaces, whitespace runs collapse, ends trimmed — the Spark twin of
    _HTML_TXT_SQL, shared by html_extract and the curate-loop chain."""
    return F.trim(
        F.regexp_replace(F.regexp_replace(x, HTML_TAG_RE, " "), WS_RE, " ")
    )


def html_main_text(html):
    """Extract the main text of an HTML page (Column -> struct Column
    with fields ``extracted``/``n_blocks``): remove script/style, split
    on block-closing tags, keep blocks that are >= HTML_MIN_BLOCK_CHARS
    of plain text and not link-dominated, join kept block texts with
    a newline. Pure nested Catalyst higher-order expressions — no
    Python, fuses with whatever scan feeds it (parquet, WARC members,
    archive bytes), which is what lets the WARC chain run extract
    inline with ingestion at 100 TB."""
    blocks = F.split(
        F.regexp_replace(
            F.regexp_replace(html, HTML_SCRIPT_RE, ""), HTML_BLOCK_RE, "\x01"
        ),
        "\x01",
    )

    def _anch(x):
        return F.length(
            F.array_join(F.regexp_extract_all(x, F.lit(HTML_ANCHOR_RE), F.lit(1)), "")
        )

    kept = F.filter(
        blocks,
        lambda x: (F.length(html_block_text(x)) >= HTML_MIN_BLOCK_CHARS)
        & (_anch(x) * 2 <= F.length(html_block_text(x))),
    )
    return F.struct(
        F.array_join(F.transform(kept, html_block_text), "\n").alias("extracted"),
        F.size(kept).cast("long").alias("n_blocks"),
    )


def html_extract_ctes(plant_sql: str, from_tbl: str = "documents") -> str:
    """The plant -> extract CTE chain ending in ``t(doc_id, extracted,
    nb)`` — shared by html_extract's oracle and crawl_pipeline's
    (surface.py), parameterized by the planted-page construction and
    the (doc_id, text) source relation."""
    return (
        f"h AS (SELECT doc_id, {plant_sql} AS html FROM {from_tbl}), "
        "nb AS (SELECT doc_id, string_split(regexp_replace(regexp_replace(html, "
        f"    '{HTML_SCRIPT_RE}', '', 'g'), '{HTML_BLOCK_RE}', chr(1), 'g'), chr(1)) "
        "  AS blocks FROM h), "
        "k AS (SELECT doc_id, list_filter(blocks, x -> "
        f"    length({_HTML_TXT_SQL}) >= {HTML_MIN_BLOCK_CHARS} "
        f"    AND 2 * {_HTML_ANCH_SQL} <= length({_HTML_TXT_SQL})) AS kept FROM nb), "
        "t AS (SELECT doc_id, "
        f"    array_to_string(list_transform(kept, x -> {_HTML_TXT_SQL}), chr(10)) "
        "      AS extracted, len(kept) AS nb FROM k)"
    )


@query(
    "html_extract",
    oracle=(
        f"WITH {html_extract_ctes(_HTML_AUG_SQL)} "
        "SELECT doc_id, extracted, CAST(nb AS BIGINT) AS n_blocks, "
        "  CAST(length(extracted) AS BIGINT) AS n_chars FROM t"
    ),
)
def html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> MAIN-TEXT EXTRACTION — the crawl-pipeline stage between
    the WARC reader and the quality/dedup filters (r12 verdict item 2;
    the reference keeps content filters in external companion packages,
    README.md:51-61 — this is the Spark-native in-repo twin of that
    seam). Deterministic jusText/trafilatura-style boilerplate removal:
    script/style stripped, the page segmented on block-closing tags,
    each block reduced to plain text, and only prose-like blocks kept —
    >= 25 chars AND anchor text at most half the block's text (link
    density), so navs/footers/share bars drop while paragraphs that
    merely CONTAIN a link keep their anchor text as content.

    The input page is deterministically PLANTED from (doc_id, text)
    with the same construction in the oracle, so every rule is
    exercised non-vacuously at any sf: the title/nav/share/footer
    blocks drop for different reasons and two content blocks survive.

    Scale: a pure map-only stage of nested higher-order JVM
    expressions (split/filter/transform + regexp) fused into the scan
    — per-doc work linear in page size, zero shuffles, zero Python;
    composes inline with stream_curate_loop_live's member chain
    (pytest: the WARC-member variant)."""
    docs = load(spark, sf_dir, "documents", spread=True, amplify=300)
    topic = (F.col("doc_id") % 50).cast("string")
    html = html_plant_col(F.col("doc_id"), F.col("text"), topic)
    ext = html_main_text(html)
    return (
        docs.select("doc_id", ext.alias("e"))
        .select(
            "doc_id",
            F.col("e.extracted").alias("extracted"),
            F.col("e.n_blocks").alias("n_blocks"),
            F.length("e.extracted").cast("long").alias("n_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer twin for the BPE pair (r12 verdict item 4): a
# SentencePiece-style trainer — seed a substring vocab, then EM rounds of
# (E) Viterbi-segment every distinct word under the current piece scores
# and (M) re-score each piece by its weighted usage, pruning unused
# pieces (single chars are pinned so every word stays segmentable).
# Fully deterministic INTEGER arithmetic (the bpe_train_iter discipline):
# the segmentation objective is lexicographic (fewest pieces, then
# highest total piece count, then smallest piece sequence), encoded as
# one BIGINT score n_pieces*2^40 - sum(cnt) plus a string tiebreak —
# no logs, no doubles, bit-identical across engines. The oracle unrolls
# the fixed rounds as CTE stages; the DP is a list_reduce fold whose
# accumulator encodes dp[0..i] as chr(30)-joined '<sc zero-padded to
# 16>|<seg>' entries, so candidate comparison is plain string least()
# — exactly Spark's struct(sc, seg) array_min ordering.
_UNI_MAX_PIECE = 4
_UNI_V = 60
_UNI_ROUNDS = 2
_UNI_BIG = 1099511627776  # 2^40 > any piece count at any sf
# max chars of a word the DP segments (the rest is truncated away in
# BOTH engines before any other stage): the Viterbi fold is O(len^2)
# in string/array churn, so one pathological multi-kB [a-z]+ run in a
# corrupted doc must not own a task — the same cap every production
# tokenizer carries (BERT max_chars_per_word, SentencePiece's max
# sentence length), sized generously past any natural word.
_UNI_MAX_WORD = 40


def _uni_cand_sql(k: int) -> str:
    # printf, NOT lpad: lpad TRUNCATES past the pad width (the r11
    # non-truncating-pad lesson), which would corrupt the encoded
    # score order for pathological >9999-char words; %020d covers
    # every int64 (max 19 digits), so string least() stays numeric
    prev = f"list_extract(string_split(acc, chr(30)), CAST(x AS INT) - {k} + 1)"
    piece = f"substr(w, CAST(x AS INT) - {k} + 1, {k})"
    cnt = f"list_extract(map_extract(vmap, {piece}), 1)"
    seg_prev = f"split_part({prev}, '|', 2)"
    return (
        f"CASE WHEN CAST(x AS INT) >= {k} AND {prev} IS NOT NULL "
        f"AND {cnt} IS NOT NULL THEN "
        f"printf('%020d', CAST(split_part({prev}, '|', 1) AS BIGINT) + {_UNI_BIG} "
        f"  - {cnt}) || '|' || "
        f"CASE WHEN {seg_prev} = '' THEN {piece} "
        f"  ELSE {seg_prev} || ' ' || {piece} END END"
    )


def _uni_seg_sql() -> str:
    """DuckDB Viterbi over word column w with piece-score map vmap:
    returns the best segmentation (space-joined pieces)."""
    cands = ", ".join(_uni_cand_sql(k) for k in range(1, _UNI_MAX_PIECE + 1))
    step = f"acc || chr(30) || least({cands})"
    dp = (
        "list_reduce(list_prepend(printf('%020d', 0) || '|', "
        "list_transform(range(1, len(w)+1), i -> printf('%04d', i))), "
        f"(acc, x) -> {step})"
    )
    return f"split_part(list_extract(string_split({dp}, chr(30)), len(w)+1), '|', 2)"


def _uni_round_ctes(r: int) -> list[str]:
    p = r - 1
    return [
        f"mp{r} AS (SELECT map_from_entries(list(row(piece, cnt))) AS vmap FROM u{p})",
        f"sg{r} AS (SELECT w, freq, {_uni_seg_sql()} AS seg FROM v0w, mp{r})",
        f"pu{r} AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM ("
        f"  SELECT unnest(string_split(seg, ' ')) AS piece, freq FROM sg{r}) GROUP BY piece)",
        f"u{r} AS (SELECT piece, cnt FROM pu{r} "
        f"  UNION ALL SELECT piece, CAST(0 AS BIGINT) AS cnt FROM u{p} "
        f"  WHERE len(piece) = 1 AND piece NOT IN (SELECT piece FROM pu{r}))",
    ]


def _uni_train_ctes() -> list[str]:
    ctes = [
        f"wrd AS (SELECT substr(w0, 1, {_UNI_MAX_WORD}) AS w FROM ("
        "  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w0 "
        "  FROM documents))",
        "v0w AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM wrd GROUP BY w)",
        "sub AS (SELECT unnest(flatten(list_transform(range(1, len(w)+1), s -> "
        f"  list_transform(range(1, least({_UNI_MAX_PIECE}, len(w)-s+1)+1), l -> "
        "    substr(w, CAST(s AS INT), CAST(l AS INT)))))) AS piece, freq FROM v0w)",
        "pc AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM sub GROUP BY piece)",
        f"top AS (SELECT piece, cnt FROM pc ORDER BY cnt DESC, piece LIMIT {_UNI_V})",
        "u0 AS (SELECT piece, cnt FROM top UNION ALL SELECT piece, cnt FROM pc "
        "  WHERE len(piece) = 1 AND piece NOT IN (SELECT piece FROM top))",
    ]
    for r in range(1, _UNI_ROUNDS + 1):
        ctes.extend(_uni_round_ctes(r))
    return ctes


def _uni_train_oracle() -> str:
    sel = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS round, piece, cnt FROM u{r}"
        for r in range(0, _UNI_ROUNDS + 1)
    )
    return "WITH " + ", ".join(_uni_train_ctes()) + " " + sel


def _uni_apply_oracle() -> str:
    ctes = _uni_train_ctes() + [
        f"mpA AS (SELECT map_from_entries(list(row(piece, cnt))) AS vmap FROM u{_UNI_ROUNDS})",
        f"sgA AS (SELECT w, {_uni_seg_sql()} AS seg FROM v0w, mpA)",
        f"dw AS (SELECT doc_id, substr(w0, 1, {_UNI_MAX_WORD}) AS w FROM ("
        "  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w0 "
        "  FROM documents))",
    ]
    return (
        "WITH " + ", ".join(ctes) + " "
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words, "
        "  CAST(SUM(len(string_split(seg, ' '))) AS BIGINT) AS n_pieces "
        "FROM dw JOIN sgA USING (w) GROUP BY doc_id"
    )


def unigram_viterbi_seg(w, vmap):
    """Spark twin of _uni_seg_sql: Viterbi-segment word column ``w``
    under piece-score map column ``vmap`` (piece -> BIGINT count).
    dp is an aggregate() fold building array<struct<sc,seg>>; the best
    candidate per position is array_min over the (sc, seg) structs —
    Spark's lexicographic struct ordering IS the oracle's zero-padded
    string least(). Pure JVM higher-order expressions, no Python."""

    def merge(acc, i):
        def cand(k):
            pos = (i - F.lit(k) + F.lit(1)).cast("int")
            prev = F.try_element_at(acc, pos)
            piece = w.substr(pos, F.lit(k))
            cnt = F.try_element_at(vmap, piece)
            return F.when(
                (i >= F.lit(k)) & prev.isNotNull() & cnt.isNotNull(),
                F.struct(
                    (prev["sc"] + F.lit(_UNI_BIG) - cnt).alias("sc"),
                    F.when(prev["seg"] == "", piece)
                    .otherwise(F.concat(prev["seg"], F.lit(" "), piece))
                    .alias("seg"),
                ),
            )

        best = F.array_min(
            F.array_compact(
                F.array(*[cand(k) for k in range(1, _UNI_MAX_PIECE + 1)])
            )
        )
        return F.concat(acc, F.array(best))

    init = F.array(F.struct(F.lit(0).cast("long").alias("sc"), F.lit("").alias("seg")))
    dp = F.aggregate(F.sequence(F.lit(1), F.length(w)), init, merge)
    return F.element_at(dp, -1)["seg"]


def _uni_word_col():
    """One extracted word, truncated to _UNI_MAX_WORD chars — the
    O(len^2) DP's length guard, applied identically at every word
    extraction site (train, apply, artifact path) and in the oracle."""
    return F.explode(
        F.transform(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), F.lit(0)),
            lambda w: F.substring(w, 1, _UNI_MAX_WORD),
        )
    )


def _uni_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(_uni_word_col().alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("freq"))
    )


def _uni_sub_pieces(w) -> "F.Column":
    """All substrings of length 1.._UNI_MAX_PIECE of word column ``w``
    (with multiplicity) — the candidate-piece generator shared by the
    seed vocabulary and the join-form vocab delivery, so the two can
    never disagree on what counts as a candidate."""
    return F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length(w)),
            lambda s: F.transform(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(_UNI_MAX_PIECE), F.length(w) - s + F.lit(1)),
                ),
                lambda l: w.substr(s.cast("int"), l.cast("int")),
            ),
        )
    )


def _uni_seed_vocab(words: DataFrame) -> DataFrame:
    """(piece, cnt) seed: every substring of length 1.._UNI_MAX_PIECE of
    every word occurrence, weighted by word frequency; top-_UNI_V by
    (cnt DESC, piece) plus ALL single chars (segmentability pin)."""
    subs = _uni_sub_pieces(F.col("w"))
    pc = (
        words.select(F.explode(subs).alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )
    top = pc.orderBy(F.col("cnt").desc(), "piece").limit(_UNI_V)
    chars = pc.filter(F.length("piece") == 1).join(top, "piece", "left_anti")
    return top.unionByName(chars)


def _uni_assert_counts(vocab_rows) -> None:
    """The 2^40 score-encoding guard (r13 advice): the DP packs
    ``n_pieces * _UNI_BIG - sum(cnt)`` into one BIGINT, and the oracle
    additionally string-encodes it via printf('%020d', …) — a count at
    or above _UNI_BIG would keep Spark numerically ordered while the
    oracle's encoding of the now-possible negatives inverts, a SILENT
    cross-engine divergence. Fail loudly at every point a vocabulary
    materializes driver-side (seed + each M-step + artifact load).
    A real exception, not ``assert`` (r14 ADVICE): under ``python -O``
    asserts are stripped, and this guard exists precisely for the
    production scale where -O is plausible."""
    mx = max((int(c) for _, c in vocab_rows), default=0)
    if mx >= _UNI_BIG:
        raise ValueError(
            f"unigram piece count {mx} >= 2^40 breaks the DP score encoding; "
            "raise _UNI_BIG (and the oracle's printf width) together"
        )


def _uni_vocab_map(vocab_rows) -> "F.Column":
    """LITERAL vocab delivery: the (piece, cnt) rows ride the plan as a
    create_map expression. Correct and plan-cheap at the gate's
    _UNI_V=60, but a create_map literal is a 2V-argument expression —
    HONEST CEILING ~1k pieces (expression-tree size / codegen limits),
    far below a production 32k-1M piece vocabulary. Past that, deliver
    via _uni_vmap_by_join (broadcast join — the registered
    unigram_apply_from_table path, pytest-pinned bit-identical to this
    form at gate scale)."""
    _uni_assert_counts(vocab_rows)
    entries = []
    for piece, cnt in vocab_rows:
        entries.append(F.lit(piece))
        entries.append(F.lit(int(cnt)).cast("long"))
    return F.create_map(*entries)


def _uni_vmap_by_join(words: DataFrame, vocab_df: DataFrame) -> DataFrame:
    """SCALE-SAFE vocab delivery (r13 verdict item 3): attach each
    distinct word's piece-score map by broadcast-JOINing the vocab
    TABLE against the word's candidate substrings, instead of riding
    the whole vocabulary into the plan as a create_map literal. The
    per-word map holds only the pieces that occur in that word
    (<= _UNI_MAX_PIECE * len entries), so the DP fold is unchanged —
    unigram_viterbi_seg takes the map COLUMN either way; map keys are
    distinct by construction (array_distinct candidates x distinct
    vocab pieces), so map_from_entries cannot collide. Words whose
    candidates hit nothing keep a NULL vmap (the caller's OOV guard
    adjudicates those).

    Scale: one broadcast of the (piece, cnt) table (MBs even at V=1M)
    + a map-side explode of bounded candidates per DISTINCT word + one
    partial-agg exchange on w — no driver collect anywhere."""
    cand = words.select(
        "w", F.explode(F.array_distinct(_uni_sub_pieces(F.col("w")))).alias("piece")
    )
    hits = cand.join(F.broadcast(vocab_df.select("piece", "cnt")), "piece")
    maps = hits.groupBy("w").agg(
        F.map_from_entries(F.collect_list(F.struct("piece", "cnt"))).alias("vmap")
    )
    return words.join(maps, "w", "left")


def _unigram_rounds(spark: SparkSession, sf_dir: str, rounds: int):
    """The distributed unigram-EM loop (shared by unigram_train_iter,
    unigram_apply, and the pytest convergence twin): returns
    ([(round, piece, cnt)] across rounds 0..rounds, final vocab rows).

    Scale: the word-frequency table is the ONLY distributed state (one
    row per distinct word — raw text is touched once); each round is a
    map-only Viterbi over that table + one partial-agg usage count,
    with the vocab (<= _UNI_V + alphabet rows, bounded by construction)
    collected per round and re-broadcast as a literal map — the
    kmeans_iter scalar-per-round pattern. localCheckpoint is
    unnecessary: every round's plan restarts from the checkpointed-by-
    construction words table, so lineage stays O(1)."""
    words = _uni_words(spark, sf_dir).localCheckpoint()
    vocab = sorted(
        ((r.piece, r.cnt) for r in _uni_seed_vocab(words).collect()),
    )
    _uni_assert_counts(vocab)
    out = [(0, p, c) for p, c in vocab]
    for r in range(1, rounds + 1):
        vmap = _uni_vocab_map(vocab)
        seg = words.select(
            "w", "freq", unigram_viterbi_seg(F.col("w"), vmap).alias("seg")
        )
        usage = (
            seg.select(F.explode(F.split("seg", " ")).alias("piece"), "freq")
            .groupBy("piece")
            .agg(F.sum("freq").cast("long").alias("cnt"))
        )
        used = {r_.piece: r_.cnt for r_ in usage.collect()}
        nxt = dict(used)
        for piece, _cnt in vocab:
            if len(piece) == 1 and piece not in nxt:
                nxt[piece] = 0
        vocab = sorted(nxt.items())
        _uni_assert_counts(vocab)
        out.extend((r, p, c) for p, c in vocab)
    return out, vocab


@query("unigram_train_iter", oracle=_uni_train_oracle())
def unigram_train_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIGRAM-LM TOKENIZER TRAINING (Kudo/SentencePiece shape) — the
    tokenizer-training twin bpe_train_iter implies (r12 verdict item
    4): seed a substring vocabulary over the corpus word-frequency
    table, then _UNI_ROUNDS EM rounds of Viterbi E-step + usage-count
    M-step with zero-usage pieces pruned (single chars pinned so every
    word stays segmentable). The segmentation objective is the
    deterministic integer lexicographic order (fewest pieces, highest
    total count, smallest piece sequence) — one BIGINT score
    n*2^40 - sum(cnt) plus the seg-string tiebreak — so both engines
    agree bit-for-bit with NO floating point anywhere. Output is the
    full training trajectory (round, piece, cnt), rounds 0 (seed)
    through _UNI_ROUNDS, the artifact a tokenizer build audits. The
    oracle unrolls the rounds as CTE stages whose DP fold encodes
    dp as zero-padded strings (the bpe_train_iter discipline).

    Scale: see _unigram_rounds — distributed state is one row per
    distinct word; per round one map-only DP + one partial-agg
    exchange on piece; the vocab itself is bounded (<= _UNI_V +
    alphabet) and rides the plan as a broadcast literal, exactly how
    corpus-scale SentencePiece trains (the word table IS the corpus
    compression). The DP is O(len^2) in churn, so every extraction
    site truncates words to _UNI_MAX_WORD chars (the production
    max-chars-per-word guard) — one corrupted multi-kB letter run
    cannot own a task."""
    out, _ = _unigram_rounds(spark, sf_dir, _UNI_ROUNDS)
    return spark.createDataFrame(out, "round bigint, piece string, cnt bigint")


@query("unigram_apply", oracle=_uni_apply_oracle())
def unigram_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIGRAM TOKENIZER APPLICATION: Viterbi-segment every document
    under the trained final vocabulary (unigram_train_iter's round
    _UNI_ROUNDS scores) and emit the per-doc token accounting the
    budget/packing stages consume (n_words, n_pieces). Segmentation
    runs once per DISTINCT word, then joins back to the per-doc word
    rows — the standard vocab-join layout (bpe_apply's shape).

    Scale: at 100 TB the distinct-word table is tiny next to the
    corpus, AQE broadcasts it, and the per-doc side stays a map-only
    explode + one partial-agg exchange on doc_id; the Viterbi DP runs
    |distinct words| times total, never once per occurrence.

    Oracle: the train CTEs + one more segmentation stage under the
    final vocab + the word join, all integer."""
    _, vocab = _unigram_rounds(spark, sf_dir, _UNI_ROUNDS)
    words = _uni_words(spark, sf_dir)
    vmap = _uni_vocab_map(vocab)
    seg = words.select(
        "w",
        F.size(F.split(unigram_viterbi_seg(F.col("w"), vmap), " "))
        .cast("long")
        .alias("n_pieces_w"),
    )
    docs = load(spark, sf_dir, "documents")
    dw = docs.select("doc_id", _uni_word_col().alias("w"))
    return (
        dw.join(seg, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_pieces_w").cast("long").alias("n_pieces"),
        )
    )


def unigram_save_vocab(vocab_rows, spark: SparkSession, path: str) -> None:
    """Persist a trained unigram vocabulary [(piece, cnt)] as a parquet
    table — the artifact a tokenizer build ships (bpe_apply_merges'
    discipline applied to the unigram pair). One tiny write; the table
    is <= _UNI_V + alphabet rows by construction.

    OOV pin (r13 advice): the full a-z single-char alphabet lands in
    the shipped table with cnt 0 (SentencePiece's required-chars rule).
    A pinned char absent from the training corpus can never match a
    substring of any trained word, so the pin is bit-invisible on
    in-corpus text — while a future slice's OOV word stays segmentable
    instead of NULLing the Viterbi DP."""
    _uni_assert_counts(vocab_rows)
    from flod_spark.io import tiny_df

    have = {p for p, _ in vocab_rows}
    rows = [(p, int(c)) for p, c in vocab_rows] + [
        (ch, 0) for ch in map(chr, range(ord("a"), ord("z") + 1)) if ch not in have
    ]
    tiny_df(spark, rows, "piece string, cnt bigint").coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def unigram_apply_from_table(docs: DataFrame, spark: SparkSession, path: str) -> DataFrame:
    """The PRODUCTION unigram inference path: load the shipped
    vocabulary table and segment documents WITHOUT re-training —
    bit-identical to the registered unigram_apply when the table holds
    unigram_train_iter's final round (pytest-pinned round-trip, and
    driver-gated against unigram_apply's oracle verbatim since r14).

    Vocab delivery is the SCALE-SAFE JOIN form (_uni_vmap_by_join):
    the table is broadcast-joined against each distinct word's
    candidate substrings — never collected, never a create_map literal
    — so a production 32k-1M piece vocabulary ships exactly the way
    the gate's V=60 one does (_uni_vocab_map documents the literal
    form's ~1k-piece ceiling; pytest pins the two forms bit-identical
    at gate scale). OOV guard (r13 advice): unigram_save_vocab pins
    the a-z alphabet so every [a-z]+ word segments; if a hand-built
    table omits single chars anyway, the coverage check below RAISES
    before any segmentation runs, instead of silently corrupting
    n_pieces through size(split(NULL)) = -1 (a DP that can dead-end
    also trips a Spark codegen NPE on the NULL accumulator struct —
    one more reason to fail fast driver-side).

    Scale: one tiny broadcast + per-DISTINCT-word DP + one doc_id
    partial agg — unigram_apply's plan minus the training rounds; the
    overflow assert and the char-coverage check each cost one bounded
    aggregate (chars: <= 26 distinct rows)."""
    vocab_df = spark.read.parquet(path)
    mx = vocab_df.agg(F.max("cnt").alias("mx")).first().mx
    _uni_assert_counts([("<loaded>", mx)] if mx is not None else [])
    words = (
        docs.select(_uni_word_col().alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    # fail-fast OOV check: single-char coverage is what guarantees the
    # Viterbi DP always completes (unigram_save_vocab pins a-z exactly
    # so this can never fire on a shipped artifact)
    chars = words.select(F.explode(F.split("w", "")).alias("ch")).filter(
        F.length("ch") == 1
    )
    missing = (
        chars.distinct()
        .join(
            vocab_df.filter(F.length("piece") == 1).select(
                F.col("piece").alias("ch")
            ),
            "ch",
            "left_anti",
        )
        .collect()
    )
    if missing:
        raise ValueError(
            "unigram vocab cannot segment corpus — missing single-char "
            f"pieces {sorted(r.ch for r in missing)}; ship artifacts via "
            "unigram_save_vocab (which pins the alphabet)"
        )
    seg = _uni_vmap_by_join(words, vocab_df).select(
        "w",
        F.size(F.split(unigram_viterbi_seg(F.col("w"), F.col("vmap")), " "))
        .cast("long")
        .alias("n_pieces_w"),
    )
    dw = docs.select("doc_id", _uni_word_col().alias("w"))
    return (
        dw.join(seg, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_pieces_w").cast("long").alias("n_pieces"),
        )
    )


@query("unigram_apply_from_table", oracle=_uni_apply_oracle())
def unigram_apply_from_table_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE UNIGRAM ARTIFACT-INFERENCE LIFECYCLE, driver-gated (r13
    verdict item 4): train (the registered trajectory), SAVE the final
    vocabulary as the shipped parquet artifact (with the a-z OOV pin),
    LOAD it back, and tokenize through the production inference path —
    unigram_apply's result computed with the trained literals out of
    scope, gated against unigram_apply's ORACLE VERBATIM (the
    dedup_claims_compacted verbatim-reuse discipline: drift in save,
    load, the pin, or the join-form vocab delivery is a hash
    mismatch). This also makes the scale-safe JOIN delivery
    driver-proven, not just pytest-pinned.

    Scale: the train budget + one tiny artifact write/read + the apply
    plan (broadcast-joined vocab, per-DISTINCT-word DP, one doc_id
    partial agg) — production trains once and runs ONLY this query's
    tail forever."""
    import os
    import tempfile

    from flod_spark.io import serve_and_cleanup

    _, vocab = _unigram_rounds(spark, sf_dir, _UNI_ROUNDS)
    with tempfile.TemporaryDirectory(prefix="flod_uni_vocab_", ignore_cleanup_errors=True) as vdir:
        vpath = os.path.join(vdir, "vocab")
        unigram_save_vocab(vocab, spark, vpath)
        docs = load(spark, sf_dir, "documents")
        return serve_and_cleanup(unigram_apply_from_table(docs, spark, vpath))
