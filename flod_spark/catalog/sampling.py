"""Deterministic sampling operators for LLM training-data pipelines
(driver mandate, SURVEY.md §2.5 last row — the sampling/mixture half).

A 100 TB corpus is never trained on whole: pipelines subsample, re-weight
sources into a mixture, and carve train/val/test splits. All four ops
here are HASH-deterministic (md5 over a salted key), the production form:

- reproducible across runs, engines, and cluster sizes (no RNG seed
  plumbing, no RangePartitioner nondeterminism);
- map-only — the sample predicate is a pure expression on each row, so
  there is NO shuffle and the filter pipelines with the parquet scan;
- stable under retries/speculative execution (a re-run task keeps
  exactly the same rows — rand()-based sampling silently is not).

md5 hex is byte-identical between Spark and DuckDB (verified:
catalog/text.py fingerprint), and equal-length lowercase hex compares
lexicographically the same in both, so a rate-r keep test is simply
``substr(md5(key), 1, 8) < hex(floor(r * 16^8))`` — no integer parsing
(DuckDB lacks Spark's conv()). Each op salts the key differently so the
sample, mixture, and split decisions are mutually independent.

flod has no sampling surface (README.md:44-49 roadmap stops at archives);
these are north-star extensions like the dedup/similarity families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flod_spark.functions.hashbridge import salted_mod, salted_mod_sql
from flod_spark.io import load
from flod_spark.registry import query

SAMPLE_RATE = 0.10
STRAT_K = 10
TRAIN_FRAC, VAL_FRAC = 0.8, 0.1  # test = remainder
# per-source mixture weights, keyed on the numeric suffix of source
# ('src7' -> 7): suffix % 3 == 0 -> 0.5, == 1 -> 0.2, == 2 -> 0.05
MIX_RATES = {0: 0.5, 1: 0.2, 2: 0.05}

_HEXW = 8  # compare the first 8 md5 hex chars (32 bits of the hash)


def _thr(rate: float) -> str:
    """Lexicographic keep-threshold: first _HEXW hex chars of the hash
    below this string <=> uniform keep with probability `rate`."""
    return format(int(rate * (16**_HEXW)), f"0{_HEXW}x")


def _hash_prefix(salt: str, col) -> F.Column:
    """Spark side: first _HEXW hex chars of md5(salt || key)."""
    return F.substring(F.md5(F.concat(F.lit(salt), col.cast("string")).cast("binary")), 1, _HEXW)


def _sql_hash_prefix(salt: str, expr: str) -> str:
    """DuckDB side of _hash_prefix (same bytes hashed)."""
    return f"substr(md5('{salt}' || CAST({expr} AS VARCHAR)), 1, {_HEXW})"


@query(
    "sample_hash",
    oracle=(
        f"SELECT doc_id, lang, source FROM documents "
        f"WHERE {_sql_hash_prefix('s|', 'doc_id')} < '{_thr(SAMPLE_RATE)}'"
    ),
)
def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform deterministic sample (rate=SAMPLE_RATE) of documents.
    Scale: a pure filter expression — map-only, pipelines with the scan,
    zero shuffle; the kept set is identical on any cluster size."""
    docs = load(spark, sf_dir, "documents")
    return docs.filter(_hash_prefix("s|", F.col("doc_id")) < _thr(SAMPLE_RATE)).select(
        "doc_id", "lang", "source"
    )


def _mix_rate_thr_sql() -> str:
    # TRY_CAST + the same 16-char cap as the Spark side: a non-'srcN'
    # source must yield NULL (row filtered) in BOTH engines, not a DuckDB
    # conversion error in one and a silent drop in the other
    cases = " ".join(
        f"WHEN TRY_CAST(substr(source, 4, 16) AS INTEGER) % 3 = {k} THEN '{_thr(r)}'"
        for k, r in MIX_RATES.items()
    )
    return f"CASE {cases} END"


def _mix_rate_thr_col() -> F.Column:
    suffix = F.substring(F.col("source"), 4, 16).cast("int") % 3
    out = None
    for k, r in MIX_RATES.items():
        cond = suffix == k
        out = F.when(cond, F.lit(_thr(r))) if out is None else out.when(cond, F.lit(_thr(r)))
    return out


@query(
    "sample_mixture",
    oracle=(
        f"SELECT source, COUNT(*) AS n_kept FROM documents "
        f"WHERE {_sql_hash_prefix('m|', 'doc_id')} < {_mix_rate_thr_sql()} "
        f"GROUP BY source"
    ),
)
def sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture re-weighting: each source family keeps a different fraction
    (MIX_RATES) — the dataset-mixing step of a training pipeline (e.g.
    upsample curated sources, downsample crawl). Returns per-source kept
    counts (the mixture audit a pipeline logs).
    Scale: the per-row decision is still one hash + one CASE — map-only;
    the only shuffle is the tiny per-source count aggregate, collapsed
    map-side to |sources| rows per task by partial aggregation."""
    docs = load(spark, sf_dir, "documents")
    kept = docs.filter(_hash_prefix("m|", F.col("doc_id")) < _mix_rate_thr_col())
    return kept.groupBy("source").agg(F.count("*").alias("n_kept"))


@query(
    "split_assign",
    oracle=(
        f"WITH h AS (SELECT lang, {_sql_hash_prefix('p|', 'doc_id')} AS hp FROM documents) "
        f"SELECT CASE WHEN hp < '{_thr(TRAIN_FRAC)}' THEN 'train' "
        f"  WHEN hp < '{_thr(TRAIN_FRAC + VAL_FRAC)}' THEN 'val' ELSE 'test' END AS split, "
        f"  lang, COUNT(*) AS n_docs "
        f"FROM h GROUP BY split, lang"
    ),
)
def split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment (TRAIN_FRAC/VAL_FRAC/rest) by hash —
    membership is a pure function of doc_id, so the split never leaks
    rows across sets when the corpus is re-processed or appended to.
    Returns per-(split, lang) counts (the split audit).
    Scale: map-only assignment + partial-agg count; adding new documents
    later cannot move an existing document between splits."""
    docs = load(spark, sf_dir, "documents")
    hp = _hash_prefix("p|", F.col("doc_id"))
    split = (
        F.when(hp < _thr(TRAIN_FRAC), "train")
        .when(hp < _thr(TRAIN_FRAC + VAL_FRAC), "val")
        .otherwise("test")
    )
    return docs.select(split.alias("split"), "lang").groupBy("split", "lang").agg(
        F.count("*").alias("n_docs")
    )


@query(
    "sample_stratified",
    oracle=(
        f"SELECT doc_id, lang FROM (SELECT doc_id, lang, "
        f"  row_number() OVER (PARTITION BY lang "
        f"    ORDER BY {_sql_hash_prefix('t|', 'doc_id')}, doc_id) AS rn "
        f"  FROM documents) WHERE rn <= {STRAT_K}"
    ),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified fixed-size sample: exactly STRAT_K docs per lang, chosen
    by hash order (deterministic, unbiased within stratum).
    Scale: rank-over-partition with a rank<=k predicate compiles to
    WindowGroupLimit (same pushdown as sort_topk) — each task keeps only
    its local top-k per stratum BEFORE the exchange, so the shuffle
    carries at most k rows per (stratum, task), immune to stratum skew."""
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(_hash_prefix("t|", F.col("doc_id")), F.col("doc_id"))
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= STRAT_K)
        .select("doc_id", "lang")
    )


SAMPLE_EXACT_K = 100


@query(
    "sample_exact_k",
    oracle=(
        # exactly-k uniform sample: rank docs by a salted hash, take the
        # first k — deterministic, reproducible, and independent of row
        # count knowledge (unlike a rate)
        f"SELECT doc_id, lang, source, "
        f"  {_sql_hash_prefix('k|', 'doc_id')} AS rk "
        f"FROM documents ORDER BY rk, doc_id LIMIT {SAMPLE_EXACT_K}"
    ),
)
def sample_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-k uniform sample (eval-set construction): order by a
    salted md5 of the id, take the first k. Unlike the rate-based
    sample_hash, the output size is exact without knowing the corpus
    size, and re-running on a grown corpus keeps ~the same members
    (hash order is stable — only docs hashing below the k-th rank
    rotate in/out). Scale: ORDER BY + LIMIT compiles to
    TakeOrderedAndProject — per-partition k-heaps, k rows to the
    driver, never a global sort; the doc_id tiebreak makes the cut
    deterministic even under hash collisions."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", "lang", "source", _hash_prefix("k|", F.col("doc_id")).alias("rk"))
        .orderBy("rk", "doc_id")
        .limit(SAMPLE_EXACT_K)
    )


@query(
    "split_groupwise",
    oracle=(
        f"WITH h AS (SELECT user_id, event_type, "
        f"    {_sql_hash_prefix('g|', 'user_id')} AS hp FROM events "
        "  WHERE user_id IS NOT NULL), "
        f"s AS (SELECT CASE WHEN hp < '{_thr(TRAIN_FRAC)}' THEN 'train' "
        f"  WHEN hp < '{_thr(TRAIN_FRAC + VAL_FRAC)}' THEN 'val' ELSE 'test' END AS split, "
        "  user_id, event_type FROM h) "
        "SELECT split, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events "
        "FROM s GROUP BY split"
    ),
)
def split_groupwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-AWARE train/val/test split — the leakage guard split_assign
    can't give row-level data: hashing the GROUP key (user_id) sends
    every row of a user to the same split, so no user's behavior
    straddles train and test (the classic eval-contamination bug row-
    hash splits cause whenever rows within a group correlate). Split
    membership is a pure function of user_id: appending new events can
    add rows to a user's existing split but never move the user. Output
    is the split audit (distinct users + event mass per split); the
    one-split-per-user invariant is pytest-pinned.

    Scale: map-only assignment (one md5 of the group key per row, no
    pre-join of a membership table) + a two-level distinct-count —
    exactly sliding_distinct's bounded-exchange shape."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    hp = _hash_prefix("g|", F.col("user_id"))
    split = (
        F.when(hp < _thr(TRAIN_FRAC), "train")
        .when(hp < _thr(TRAIN_FRAC + VAL_FRAC), "val")
        .otherwise("test")
    )
    pairs = (
        ev.select(split.alias("split"), "user_id")
        .groupBy("split", "user_id")
        .agg(F.count("*").alias("n"))
    )
    return pairs.groupBy("split").agg(
        F.count("*").alias("n_users"),
        F.sum("n").alias("n_events"),
    )


# Temperature-sampling constants: alpha = 0.5 (the exponent with an
# EXACT cross-engine form — p^0.5 is sqrt, correctly rounded by IEEE,
# where a general pow() is not) and the overall sampling budget as a
# fraction of the corpus.
TEMP_BUDGET = 0.2
_TEMP_SCALE = float(1 << 32)  # raw 32-bit hash -> uniform in [0, 1)


@query(
    "sample_temperature",
    oracle=(
        "WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang), "
        "t AS (SELECT CAST(SUM(n) AS DOUBLE) AS nn FROM c), "
        "w AS (SELECT lang, n, sqrt(CAST(n AS DOUBLE) / (SELECT nn FROM t)) AS wl FROM c), "
        "s AS (SELECT list_reduce(list_sort(list(wl)), (a, b) -> a + b) AS sw FROM w), "
        f"r AS (SELECT lang, n, LEAST(1.0, {TEMP_BUDGET} * (SELECT nn FROM t) "
        "    * (wl / (SELECT sw FROM s)) / n) AS rate FROM w), "
        "k AS (SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_kept "
        "  FROM documents d JOIN r USING (lang) "
        f"  WHERE {salted_mod_sql('doc_id', 'T|', 1 << 32)} / {_TEMP_SCALE} < rate "
        "  GROUP BY d.lang) "
        "SELECT r.lang, r.n AS n_docs, r.rate, "
        "  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept "
        "FROM r LEFT JOIN k USING (lang)"
    ),
)
def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-based language rebalancing (the mT5/XLM-R alpha-
    sampling standard): target share of language l ∝ p_l^alpha with
    alpha = 1/2, flattening the head and boosting the tail so low-
    resource languages survive the mixture. Rates are fully DATA-
    DERIVED in-query — p_l from exact counts, p^0.5 via IEEE sqrt
    (correctly rounded, unlike a general pow), the normalizer summed by
    a sequential fold over the SORTED per-lang weights (a plain SUM of
    floats would be partial-agg-order dependent), and the per-row keep
    test compares a salted-hash fraction (exact n/2^32) against the
    lang's rate. Output is the per-lang audit: corpus count, applied
    rate, kept count.

    Scale: one |langs|-row aggregate broadcast back over a MAP-ONLY
    keep predicate — the deterministic-sampling story of sample_hash
    with data-dependent rates; re-running on an appended corpus keeps
    every previously-kept doc whose lang rate didn't move (and the
    rate drift is the mixture telling you the corpus composition
    changed)."""
    docs = load(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(F.count("*").alias("n"))
    t = c.agg(F.sum("n").cast("double").alias("nn"))
    w = c.crossJoin(F.broadcast(t)).select(
        "lang", "n", "nn", F.sqrt(F.col("n").cast("double") / F.col("nn")).alias("wl")
    )
    s = w.agg(
        F.aggregate(
            F.array_sort(F.collect_list("wl")), F.lit(0.0), lambda a, b: a + b
        ).alias("sw")
    )
    r = (
        w.crossJoin(F.broadcast(s))
        .select(
            "lang",
            "n",
            F.least(
                F.lit(1.0),
                F.lit(TEMP_BUDGET) * F.col("nn") * (F.col("wl") / F.col("sw")) / F.col("n"),
            ).alias("rate"),
        )
        .localCheckpoint()  # reused by the keep pass and the audit join
    )
    frac = salted_mod(F.col("doc_id"), "T|", 1 << 32).cast("double") / _TEMP_SCALE
    k = (
        docs.join(F.broadcast(r), "lang")
        .filter(frac < F.col("rate"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_kept"))
    )
    return (
        r.join(k, "lang", "left")
        .select(
            "lang",
            F.col("n").alias("n_docs"),
            "rate",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )


# split_time_embargo: cut at 80% of the corpus TIME RANGE, then a
# 30-minute embargo gap whose rows belong to NEITHER side. Pure integer
# microsecond arithmetic (min + span*8 div 10) so both engines place
# the cut identically; a count-quantile cut would need a global rank.
_STE_FRAC_NUM, _STE_FRAC_DEN = 8, 10
_STE_EMBARGO_US = 30 * 60 * 1_000_000


@query(
    "split_time_embargo",
    oracle=(
        "WITH b AS (SELECT epoch_us(ts) AS us, ts, user_id FROM events), "
        f"c AS (SELECT MIN(us) + (MAX(us) - MIN(us)) * {_STE_FRAC_NUM} // {_STE_FRAC_DEN} "
        "    AS cut FROM b), "
        "s AS (SELECT CASE WHEN us <= cut THEN 'train' "
        f"    WHEN us <= cut + {_STE_EMBARGO_US} THEN 'embargo' ELSE 'test' END AS split, "
        "    ts, user_id FROM b, c) "
        "SELECT split, CAST(COUNT(*) AS BIGINT) AS n_events, "
        "  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users, "
        "  MIN(ts) AS min_ts, MAX(ts) AS max_ts "
        "FROM s GROUP BY split"
    ),
)
def split_time_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-based train/test split with an EMBARGO gap — the leakage
    guard temporal models need that hash splits (split_assign) cannot
    give: everything before the cut trains, everything after the cut
    PLUS a 30-minute embargo tests, and rows inside the embargo belong
    to neither — so a label computed over a trailing window near the
    boundary can never see test-period data (the financial-ML purged
    split). The cut is data-derived (80% of the corpus time range, in
    exact integer microseconds), so the query is non-vacuous at every
    scale factor; output is the split audit (counts, distinct users,
    time bounds per side).

    Scale: two scans — a 1-row min/max aggregate broadcast back, then
    a map-only split predicate feeding one partial-agg groupBy over 3
    keys. On a date-partitioned lake the predicate prunes partitions;
    assignment is a pure function of ts, so appends never reshuffle
    history between splits."""
    from flod_spark.io import ts_micros

    ev = load(spark, sf_dir, "events").select(
        ts_micros("ts").alias("us"), "ts", "user_id"
    )
    c = ev.agg(
        F.expr(
            f"min(us) + ((max(us) - min(us)) * {_STE_FRAC_NUM}) div {_STE_FRAC_DEN}"
        ).alias("cut")
    )
    s = ev.crossJoin(F.broadcast(c)).select(
        F.when(F.col("us") <= F.col("cut"), "train")
        .when(F.col("us") <= F.col("cut") + _STE_EMBARGO_US, "embargo")
        .otherwise("test")
        .alias("split"),
        "ts",
        "user_id",
    )
    return s.groupBy("split").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )


SAMPLE_GROUP_K = 20


@query(
    "sample_group_k",
    oracle=(
        # exactly-k PER GROUP: rank docs within each lang by a salted
        # hash (doc_id tiebreak), keep the first k — sample_exact_k's
        # guarantee made per-stratum
        f"WITH h AS (SELECT doc_id, lang, source, "
        f"    {_sql_hash_prefix('gk|', 'doc_id')} AS rk FROM documents), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY rk, doc_id) AS rn "
        "  FROM h) "
        f"SELECT doc_id, lang, source, rk FROM r WHERE rn <= {SAMPLE_GROUP_K}"
    ),
)
def sample_group_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-k-PER-GROUP sample — the per-language eval-set builder
    (sample_exact_k gives a global k; per-stratum k is what ' twenty
    docs from every language' actually needs, and a rate-based
    stratified sample cannot hit the size exactly on small strata).
    Hash-ranked like the whole sampling family: membership is a pure
    function of doc_id, so a grown corpus only rotates members at the
    k-th-rank boundary per group, and re-runs are reproducible across
    engines and cluster sizes.

    Scale: one shuffle on the group key; the rank rewrites to
    WindowGroupLimit, so each task keeps a k-row heap per group BEFORE
    the exchange — per-group TakeOrderedAndProject, never a full sort.
    Group count is unbounded (unlike the global LIMIT form, nothing
    funnels through the driver)."""
    docs = load(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id", "lang", "source", _hash_prefix("gk|", F.col("doc_id")).alias("rk")
    )
    w = Window.partitionBy("lang").orderBy("rk", "doc_id")
    return (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SAMPLE_GROUP_K)
        .drop("rn")
    )


# priority sampling: k kept items; weight = n_chars (the doc's cost —
# the practical 'sample long docs proportionally more' policy)
_PRI_K = 50


@query(
    "sample_weighted_k",
    oracle=(
        # priority sampling (Duffield-Lund-Thorup, JACM'07): priority
        # q = w / u with u uniform from the hash. u = (h32 + 1) / 2^32
        # is an EXACT double (32-bit int over a power of two), so q is
        # ONE IEEE division of exact operands — bit-identical across
        # engines, unlike Efraimidis-Spirakis' u^(1/w) whose pow/ln
        # carries no cross-engine bit promise.
        "WITH h AS (SELECT doc_id, n_chars, "
        "    CAST('0x' || substr(md5('pri|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS h32 "
        "  FROM documents), "
        "p AS (SELECT doc_id, n_chars, "
        "    CAST(n_chars AS DOUBLE) / ((h32 + 1) / 4294967296.0) AS priority FROM h), "
        "r AS (SELECT *, row_number() OVER (ORDER BY priority DESC, doc_id) AS rn FROM p) "
        f"SELECT doc_id, n_chars, priority FROM r WHERE rn <= {_PRI_K}"
    ),
)
def sample_weighted_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED k-sample without replacement by PRIORITY SAMPLING
    (Duffield-Lund-Thorup): each doc draws priority q = weight / u
    (weight = n_chars, u hash-uniform) and the k highest priorities
    win — long docs win proportionally more, every doc keeps a nonzero
    chance, and the scheme supports unbiased subset-sum estimation
    downstream (w-hat = max(w, tau) with tau the (k+1)-th priority).
    Chosen over Efraimidis-Spirakis' u^(1/w) keys deliberately: that
    needs pow/ln, which carries no cross-engine bitwise promise, while
    q here is one IEEE division of exact operands (u = (h32+1)/2^32 is
    an exact double). Hash-deterministic like the whole family — no
    RNG plumbing, stable under retries.

    Scale: priorities are map-only expressions pipelined with the
    scan; the global top-k is TakeOrderedAndProject (per-task k-row
    heaps, k rows cross to the driver-side merge — never a sort of the
    corpus). The weighted analog of sample_exact_k."""
    docs = load(spark, sf_dir, "documents")
    h32 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("pri|"), F.col("doc_id").cast("string")).cast("binary")),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    p = docs.select(
        "doc_id",
        "n_chars",
        (
            F.col("n_chars").cast("double")
            / ((h32 + F.lit(1)) / F.lit(4294967296.0))
        ).alias("priority"),
    )
    return p.orderBy(F.col("priority").desc(), "doc_id").limit(_PRI_K)


# per-language token budget for the mixture carve (documents average
# ~60 word tokens at the gate scales; 1500 keeps a real prefix per lang
# while leaving most docs outside the budget)
_TOK_BUDGET = 1500


@query(
    "sample_token_budget",
    oracle=(
        "WITH t AS (SELECT doc_id, lang, "
        "    CAST(length(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tok, "
        "    substr(md5('tb|' || CAST(doc_id AS VARCHAR)), 1, 8) AS rk "
        "  FROM documents), "
        "c AS (SELECT doc_id, lang, n_tok, rk, "
        "    SUM(n_tok) OVER (PARTITION BY lang ORDER BY rk, doc_id) AS cum "
        "  FROM t) "
        f"SELECT doc_id, lang, n_tok, CAST(cum AS BIGINT) AS cum_tokens "
        f"FROM c WHERE cum - n_tok < {_TOK_BUDGET}"
    ),
)
def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-BUDGET carve per language — the unit data mixtures are
    actually priced in: take docs (in deterministic salted-hash order)
    until each language's cumulative TOKEN count reaches the budget,
    admitting the doc that crosses the line (cum - n_tok < B). Doc
    counts lie about mixture weight when doc lengths differ by 100x
    between languages; token budgeting is how ' 30% code, 20% wiki'
    directives are really enforced. Hash order makes the carve a pure
    function of doc_id: a re-run, a different cluster, or a grown
    corpus reproduces the same prefix (new docs only displace at the
    boundary). All-integer cumsum — exact in both engines.

    Scale: one shuffle on lang, one running SUM over each sorted
    partition (O(1) state, no frame re-scan). Skewed languages are the
    real hazard: a 90%-English corpus funnels into one partition — the
    SHIPPED skew path is sample_token_budget_sharded below: the budget
    splits across salted sub-strata (budget/S per shard), S-way
    parallel per language, composing to the same per-lang budget."""
    from flod_spark.catalog.text import TOKEN_RE

    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "lang",
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), F.lit(0)))
        .cast("long")
        .alias("n_tok"),
        _hash_prefix("tb|", F.col("doc_id")).alias("rk"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("rk", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum", F.sum("n_tok").over(w))
    return c.filter(F.col("cum") - F.col("n_tok") < _TOK_BUDGET).select(
        "doc_id", "lang", "n_tok", F.col("cum").alias("cum_tokens")
    )


# sub-strata for the skew-sharded carve: the budget splits evenly, so
# S must divide _TOK_BUDGET for the composition to be exact integers
_TOK_SHARDS = 4


@query(
    "sample_token_budget_sharded",
    oracle=(
        "WITH t AS (SELECT doc_id, lang, "
        "    CAST(length(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tok, "
        "    substr(md5('tb|' || CAST(doc_id AS VARCHAR)), 1, 8) AS rk, "
        f"    {salted_mod_sql('doc_id', 'tbs|', _TOK_SHARDS)} AS shard "
        "  FROM documents), "
        "c AS (SELECT doc_id, lang, shard, n_tok, "
        "    SUM(n_tok) OVER (PARTITION BY lang, shard ORDER BY rk, doc_id) AS cum "
        "  FROM t) "
        f"SELECT doc_id, lang, shard, n_tok, CAST(cum AS BIGINT) AS cum_tokens "
        f"FROM c WHERE cum - n_tok < {_TOK_BUDGET // _TOK_SHARDS}"
    ),
)
def sample_token_budget_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-BUDGET carve, SKEW-SHARDED — sample_token_budget's
    documented hazard made code (the split_hot_cells discipline: a
    caveat becomes the shipped path): a 90%-English corpus funnels the
    plain per-lang carve into ONE sorted partition, so the budget
    first splits across S salted sub-strata — each (lang, shard) runs
    the same hash-ordered integer cumsum against budget/S, and the
    union composes to the per-lang budget: every shard admits its
    crossing doc, so the per-lang total lands in
    [budget, budget + S * max_doc_tokens) whenever supply suffices
    (pinned on a planted dominant-lang corpus in tests/test_sampling.py).
    The shard hash is salted independently of the order hash, so
    within-shard order statistics stay unbiased.

    Scale: the window partitions by (lang, shard) — S-way parallelism
    inside the dominant language, which is exactly the axis the plain
    form cannot scale on; still one shuffle + one running SUM with O(1)
    state. S tracks the skew ratio (dominant share * parallelism
    target), a config knob, not data-dependent."""
    from flod_spark.catalog.text import TOKEN_RE

    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "lang",
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), F.lit(0)))
        .cast("long")
        .alias("n_tok"),
        _hash_prefix("tb|", F.col("doc_id")).alias("rk"),
        salted_mod(F.col("doc_id"), "tbs|", _TOK_SHARDS).alias("shard"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("rk", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum", F.sum("n_tok").over(w))
    return c.filter(
        F.col("cum") - F.col("n_tok") < _TOK_BUDGET // _TOK_SHARDS
    ).select("doc_id", "lang", "shard", "n_tok", F.col("cum").alias("cum_tokens"))


def _mix_rate_dec_sql() -> str:
    """DuckDB: the MIX_RATES target rate as an EXACT DECIMAL(3,2) per
    source (the importance-reweight numerator — decimal so the total
    over sources sums exactly, immune to fold order)."""
    cases = " ".join(
        f"WHEN TRY_CAST(substr(source, 4, 16) AS INTEGER) % 3 = {k} "
        f"THEN CAST({r} AS DECIMAL(3,2))"
        for k, r in MIX_RATES.items()
    )
    return f"CASE {cases} END"


def _mix_rate_dec_col() -> F.Column:
    suffix = F.substring(F.col("source"), 4, 16).cast("int") % 3
    out = None
    for k, r in MIX_RATES.items():
        lit = F.lit(str(r)).cast("decimal(3,2)")
        out = F.when(suffix == k, lit) if out is None else out.when(suffix == k, lit)
    return out


@query(
    "sample_importance_reweight",
    oracle=(
        "WITH s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        f"    {_mix_rate_dec_sql()} AS rate "
        "  FROM documents GROUP BY source), "
        "t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS tot_n, SUM(rate) AS tot_rate FROM s) "
        "SELECT source, n_docs, "
        "  CAST(n_docs AS DOUBLE) / tot_n AS actual_share, "
        "  CAST(rate AS DOUBLE) / CAST(tot_rate AS DOUBLE) AS target_share, "
        "  (CAST(rate AS DOUBLE) / CAST(tot_rate AS DOUBLE)) "
        "    / (CAST(n_docs AS DOUBLE) / tot_n) AS weight "
        "FROM s, t"
    ),
)
def sample_importance_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMPORTANCE REWEIGHTING for mixture shift — the per-source
    sampling weight that moves the corpus from its ACTUAL source
    shares to the TARGET mixture (MIX_RATES normalized over observed
    sources): weight = target_share / actual_share. This is the
    static DoReMi-style correction a loss-weighted or epoch-sampled
    training run applies when re-filtering the corpus is too
    expensive — weight > 1 upsamples a source, < 1 downsamples.
    Exactness: target rates are DECIMAL(3,2) so their total sums
    exactly in any aggregation order (a double-rate sum would drift
    by fold order); the three report divisions run in one fixed IEEE
    order.

    Scale: one partial-agg count by source (|sources| rows cross the
    exchange) + a 1-row totals broadcast — the same budget as
    sample_mixture's audit. The per-DOC application is a broadcast
    join of this table onto the corpus, a free map downstream."""
    docs = load(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.first(_mix_rate_dec_col(), ignorenulls=False).alias("rate"),
    )
    t = s.agg(
        F.sum("n_docs").alias("tot_n"), F.sum("rate").alias("tot_rate")
    )
    act = F.col("n_docs").cast("double") / F.col("tot_n")
    tgt = F.col("rate").cast("double") / F.col("tot_rate").cast("double")
    return s.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        act.alias("actual_share"),
        tgt.alias("target_share"),
        (tgt / act).alias("weight"),
    )
