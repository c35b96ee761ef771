"""Deduplication operators for LLM training data (driver mandate).

Three tiers, all with exact DuckDB oracles (hash functions are md5, which
is engine-identical; min-over-fixed-width-hex == numeric min-hash):

- dedup_exact   : md5-fingerprint grouping (hash-groupBy)
- dedup_minhash : char-shingle MinHash + LSH banding -> candidate pairs
- dedup_simhash : ±1-bit-vote SimHash signatures + exact-signature groups

Scale notes (100 TB):
- exact: one shuffle on a 16-byte key; skew impossible (hash keys uniform).
- minhash: shingling is map-only row explosion (bounded: first 4 KB per
  doc); the doc×seed min-agg is a partial-agg-friendly groupBy; the LSH
  bucket join shuffles only (band, signature) pairs — candidates,
  never full texts. Bucket skew (boilerplate docs) -> cap bucket size
  (operators/minhash.py::lsh_candidate_pairs(max_bucket=...)).
- simhash: map-only per doc + tiny groupBy; Hamming-radius pairing at
  scale uses the pigeonhole band trick (same LSH machinery).
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flod_spark.io import atomic_swap_dir, load, recover_swap_dir, serve_and_cleanup
from flod_spark.registry import query

# normalized text, capped at 4 KB (both engines) — honest bounded fingerprinting
_NORM_SQL = "substr(regexp_replace(lower(text), '[ \\t\\r\\n]+', ' ', 'g'), 1, 4000)"
SHINGLE = 8
SEEDS = 16
BANDS = 4  # 4 rows/band
NGRAM_MAX_DF = 64  # dedup_ngram: shingles in more docs are boilerplate


def _norm_col() -> F.Column:
    return F.substring(F.regexp_replace(F.lower("text"), "[ \\t\\r\\n]+", " "), 1, 4000)


# per-doc DISTINCT shingle set, both engines (used by dedup_ngram,
# decontaminate, and prep_pipeline; dedup_minhash's generated oracle
# repeats the SQL form)
def _shingle_sql(src: str = "norm") -> str:
    return (
        f"SELECT DISTINCT doc_id, substr(t, i, {SHINGLE}) AS s "
        f"FROM {src}, range(1, 4001) g(i) WHERE i <= greatest(length(t) - {SHINGLE - 1}, 1)"
    )


_SHINGLE_SQL = _shingle_sql()


def _shingle_arr_col() -> F.Column:
    """Array of a doc's distinct shingles, built MAP-SIDE from the
    normalized text column `t` (no per-shingle shuffle rows until the
    caller explodes)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length("t") - (SHINGLE - 1), F.lit(1))),
            lambda i: F.col("t").substr(i, F.lit(SHINGLE)),
        )
    )


@query(
    "dedup_exact",
    oracle=(
        f"WITH h AS (SELECT doc_id, md5({_NORM_SQL}) AS fp FROM documents) "
        "SELECT doc_id, fp, MIN(doc_id) OVER (PARTITION BY fp) AS canonical_id, "
        "  doc_id <> MIN(doc_id) OVER (PARTITION BY fp) AS is_dup "
        "FROM h"
    ),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 of normalized text; canonical = min doc_id per
    fingerprint. Output is the full doc->canonical mapping (what a 100 TB
    dedup job writes back).

    Scale: map-side hashing plus one exchange on the 16-byte
    fingerprint."""
    docs = load(spark, sf_dir, "documents")
    h = docs.select("doc_id", F.md5(_norm_col().cast("binary")).alias("fp"))
    w = Window.partitionBy("fp")
    return h.select(
        "doc_id",
        "fp",
        F.min("doc_id").over(w).alias("canonical_id"),
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("is_dup"),
    )


def _minhash_ctes() -> tuple[str, str]:
    """(cte_block, pair_select): the DuckDB twin of operators/minhash.py,
    generated from the SAME hash family so the two can never drift. Split
    in two so dedup_cluster can extend the pair query with a recursive
    closure. The oracle may be slow — it only runs at sf0.01 — but it is
    bitwise exact: the base hash is the first 15 hex digits of md5
    (60-bit, fits BIGINT) and every affine transform stays below 2^62."""
    from flod_spark.operators.minhash import P, hash_family

    rows_per_band = SEEDS // BANDS
    mins = ", ".join(
        f"MIN(({a} * h + {b}) % {P}) AS m{i}" for i, (a, b) in enumerate(hash_family(SEEDS))
    )
    bands = " UNION ALL ".join(
        "SELECT doc_id, {band} AS band, {sig} AS bs FROM mins".format(
            band=b,
            sig=" || ',' || ".join(
                f"CAST(m{b * rows_per_band + r} AS VARCHAR)" for r in range(rows_per_band)
            ),
        )
        for b in range(BANDS)
    )
    ctes = (
        f"norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents), "
        f"sh AS (SELECT DISTINCT doc_id, substr(t, i, {SHINGLE}) AS s "
        f"  FROM norm, range(1, 4001) g(i) WHERE i <= greatest(length(t) - {SHINGLE - 1}, 1)), "
        f"hb AS (SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % {P} AS h FROM sh), "
        f"mins AS (SELECT doc_id, {mins} FROM hb GROUP BY doc_id), "
        f"sig AS ({bands})"
    )
    pair_select = (
        "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM sig a JOIN sig b ON a.band = b.band AND a.bs = b.bs AND a.doc_id < b.doc_id"
    )
    return ctes, pair_select


def _minhash_oracle() -> str:
    ctes, pair_select = _minhash_ctes()
    return f"WITH {ctes} {pair_select}"


@query("dedup_minhash", oracle=_minhash_oracle())
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates: 8-char shingles -> one 60-bit base
    hash per shingle -> 16 affine min-hashes (a_i*x+b_i mod 2^31-1, the
    Spark MLlib MinHashLSH construction) -> 4 bands x 4 rows -> docs
    sharing any band signature.

    Plan shape: explode(shingles) [narrow] -> groupBy(doc) taking all 16
    minima in one partial-agg-friendly aggregate [shuffle 1, |docs| rows]
    -> stack to band signatures [narrow] -> self-join on (band, sig)
    [shuffle 2, signatures only] -> distinct pairs. No full text and no
    per-seed row explosion ever crosses a shuffle.

    Implementation shared with flod_spark.operators.minhash; the oracle is
    GENERATED from the same hash-family constants (see _minhash_oracle).

    Scale: two signature-only shuffles (plan shape above); text never
    crosses an exchange."""
    from flod_spark.operators.minhash import minhash_candidates

    # shingling does ~|text| times the input bytes of work: spread the
    # single-split local file across cores (no-op at real scale, io.py)
    docs = load(spark, sf_dir, "documents", spread=True, amplify=2000)
    return minhash_candidates(docs, shingle=SHINGLE, seeds=SEEDS, bands=BANDS, cap=4000)


@query(
    "dedup_simhash",
    oracle=(
        f"WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents), "
        "tok AS (SELECT DISTINCT doc_id, unnest(regexp_extract_all(t, '[a-z0-9]+')) AS tk FROM norm), "
        "bits AS (SELECT doc_id, p, "
        "    SUM(CASE WHEN strpos('89abcdef', substr(md5(tk), p, 1)) > 0 THEN 1 ELSE -1 END) AS v "
        "  FROM tok, range(1, 17) r(p) GROUP BY doc_id, p), "
        "sig AS (SELECT doc_id, string_agg(CASE WHEN v >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS simhash "
        "  FROM bits GROUP BY doc_id) "
        "SELECT doc_id, simhash, MIN(doc_id) OVER (PARTITION BY simhash) AS canonical_id FROM sig"
    ),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: per-token md5, 16 hex-digit positions vote ±1 (digit >= '8'
    => +1); sign of the vote sum is the signature bit. Identical signatures
    group near-identical token sets. 16-bit here for oracle compactness;
    operators/simhash.py parameterizes width (64-bit for production).

    Scale: one partial-agg groupBy(doc) builds signatures; the canonical
    window keys on the compact signature."""
    # token explode amplifies compute past the input bytes: spread the
    # single-split local file (no-op at scale)
    docs = load(spark, sf_dir, "documents", spread=True, amplify=2000)
    v = _simhash_votes(docs, width=16)
    simhash = F.concat(
        *[F.when(F.col(f"v{p}") >= 0, "1").otherwise("0") for p in range(1, 17)]
    )
    sig = v.select("doc_id", simhash.alias("simhash"))
    w = Window.partitionBy("simhash")
    return sig.select("doc_id", "simhash", F.min("doc_id").over(w).alias("canonical_id"))


def _simhash_votes(docs: DataFrame, width: int) -> DataFrame:
    """Per-doc SimHash vote matrix as ``width`` COLUMNS (v1..vN), not
    exploded rows: one md5 per distinct token (not per token x position
    — the naive form hashed every token ``width`` times), then a SINGLE
    groupBy(doc_id) whose N SUM(±1) aggregates combine map-side. The
    shuffle carries |docs| rows of N ints; the old per-position explode
    shuffled |tokens| x N rows and was the bench's slowest stage."""
    from flod_spark.catalog.text import TOKEN_RE

    norm = docs.select("doc_id", _norm_col().alias("t"))
    tok = norm.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.regexp_extract_all(F.col("t"), F.lit(TOKEN_RE), F.lit(0)))
        ).alias("tk"),
    ).distinct()
    tokh = tok.select("doc_id", F.md5(F.col("tk").cast("binary")).alias("h"))
    votes = [
        F.sum(
            F.when(F.instr(F.lit("89abcdef"), F.substring("h", p, 1)) > 0, 1).otherwise(-1)
        ).alias(f"v{p}")
        for p in range(1, width + 1)
    ]
    return tokh.groupBy("doc_id").agg(*votes)


# Per-(band, bucket) distinct-signature cap for simhash_pairs. 1000 is
# unreachable at gate scale (sf0.01 has 500 docs -> <= 500 distinct
# signatures TOTAL), so the DuckDB brute-force oracle stays exact —
# while at 100x corpus scale it bounds the worst band bucket's
# self-join to 1000^2 rows regardless of how adversarially the 16-bit
# band values collide (the semdedup_bounded discipline: the bound
# ships IN the gated plan, not in a docstring). Kept at Spark's
# windowGroupLimitThreshold default so the rank filter still compiles
# to WindowGroupLimit (pre-exchange pruning); raise both together.
SIMHASH_BUCKET_CAP = 1000


@query(
    "simhash_pairs",
    oracle=(
        # 64-bit signature as two 32-bit halves: the ±1 votes of
        # dedup_simhash over all 32 hex positions of md5(tk) (hi half)
        # and md5('x' || tk) (lo half — an independent salted hash
        # family, the operators/minhash.py trick), each packed
        # big-endian (p=1 -> MSB). Two nonneg BIGINT halves avoid the
        # 1<<63 sign-bit overflow a single 64-bit pack would hit.
        f"WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents), "
        "tok AS (SELECT DISTINCT doc_id, unnest(regexp_extract_all(t, '[a-z0-9]+')) AS tk FROM norm), "
        "bits AS (SELECT doc_id, p, "
        "    SUM(CASE WHEN strpos('89abcdef', substr(md5(tk), p, 1)) > 0 THEN 1 ELSE -1 END) AS va, "
        "    SUM(CASE WHEN strpos('89abcdef', substr(md5('x' || tk), p, 1)) > 0 THEN 1 ELSE -1 END) AS vb "
        "  FROM tok, range(1, 33) r(p) GROUP BY doc_id, p), "
        "sig AS (SELECT doc_id, "
        "    CAST(SUM(CASE WHEN va >= 0 THEN (CAST(1 AS BIGINT) << (32 - p)) ELSE 0 END) AS BIGINT) AS hi, "
        "    CAST(SUM(CASE WHEN vb >= 0 THEN (CAST(1 AS BIGINT) << (32 - p)) ELSE 0 END) AS BIGINT) AS lo "
        "  FROM bits GROUP BY doc_id) "
        # oracle brute-forces all pairs (fine at oracle scale); Spark
        # must reach EXACTLY these degrees via the band trick
        "SELECT a.doc_id, CAST(COUNT(CASE WHEN a.doc_id <> b.doc_id "
        "    AND bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3 "
        "    THEN 1 END) AS BIGINT) AS n_near "
        "FROM sig a, sig b GROUP BY a.doc_id"
    ),
)
def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc SimHash near-duplicate DEGREE: how many other docs sit
    within Hamming distance 3 of this doc's 64-bit signature — the
    signal a dedup pipeline thresholds on (degree > 0 -> near-dup
    cluster member). Output is one row per doc (linear), never the pair
    list (quadratic on template-heavy corpora like this one).

    Completeness is the pigeonhole band trick: 4 bands x 16 bits — a
    pair within distance 3 differs in at most 3 bits, so at least one
    band matches exactly. The band self-join therefore meets ALL
    qualifying pairs (plus extras the Hamming filter drops), which is
    why the brute-force oracle is exact, not approximate. The 64-bit
    width is what makes the band join scale-safe: 65,536 buckets per
    band (vs 256 at 32-bit), so distinct signatures spread 256x thinner
    before the quadratic within-bucket step — and a rank cap
    (SIMHASH_BUCKET_CAP, unreachable at gate scale) hard-bounds the
    worst bucket regardless. The signature is two independently-salted
    md5-32 halves so the DuckDB oracle mirrors it digit-for-digit
    (operators/simhash.py generalizes to xxhash when no oracle is
    needed).

    Scale: signatures are one partial-agg groupBy(doc); only
    (band, bucket, sig-pair, count) rows shuffle — never text, never
    per-doc pair rows; the degree is a partial-agg count over distinct
    signatures weighted by multiplicity. The cap's row_number rewrites
    to WindowGroupLimit, pruning hot buckets BEFORE the join."""
    from flod_spark.catalog.text import TOKEN_RE

    docs = load(spark, sf_dir, "documents", spread=True, amplify=2000)
    norm = docs.select("doc_id", _norm_col().alias("t"))
    tok = norm.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.regexp_extract_all(F.col("t"), F.lit(TOKEN_RE), F.lit(0)))
        ).alias("tk"),
    ).distinct()
    # both halves from ONE tokenize pass: 2 md5s per distinct token,
    # 64 SUM(±1) aggregates combining map-side in a single groupBy
    tokh = tok.select(
        "doc_id",
        F.md5(F.col("tk").cast("binary")).alias("h1"),
        F.md5(F.concat(F.lit("x"), F.col("tk")).cast("binary")).alias("h2"),
    )
    vote = lambda h, p: F.sum(  # noqa: E731
        F.when(F.instr(F.lit("89abcdef"), F.substring(h, p, 1)) > 0, 1).otherwise(-1)
    )
    v = tokh.groupBy("doc_id").agg(
        *[vote("h1", p).alias(f"a{p}") for p in range(1, 33)],
        *[vote("h2", p).alias(f"b{p}") for p in range(1, 33)],
    )

    def pack(prefix: str):
        s = None
        for p in range(1, 33):
            term = F.when(
                F.col(f"{prefix}{p}") >= 0, F.lit(1 << (32 - p)).cast("long")
            ).otherwise(F.lit(0).cast("long"))
            s = term if s is None else s + term
        return s

    # several consumers would each recompute the tokenize+vote DAG —
    # materialize the 16-byte-per-doc signature table once instead (the
    # kmeans_fit persistence rule)
    sig = v.select("doc_id", pack("a").alias("hi"), pack("b").alias("lo")).localCheckpoint()
    # Degree arithmetic on DISTINCT signatures, weighted by multiplicity
    # — the template-heavy-corpus guard: banding DOCS makes an m-doc
    # identical-signature cluster emit m^2 candidate pairs (a 4k-doc
    # cluster = 17M pairs at sf0.1); banding distinct SIGNATURES emits
    # each (sa, sb) once and multiplies counts instead:
    #   degree(d) = (cnt[s_d] - 1)  +  sum cnt[s'] over s' != s_d with
    #               Hamming(s_d, s') <= 3
    # Pigeonhole completeness is unchanged (a qualifying sig pair still
    # shares one of the 4 x 16-bit bands).
    sgrp = sig.groupBy("hi", "lo").agg(F.count("*").alias("cnt"))
    bands = sgrp.select(
        "hi",
        "lo",
        "cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(half, sh).bitwiseAND(F.lit(65535)).alias("bits"),
                    )
                    for b, (half, sh) in enumerate(
                        [("hi", 16), ("hi", 0), ("lo", 16), ("lo", 0)]
                    )
                ]
            )
        ).alias("_e"),
    ).select("hi", "lo", "cnt", F.col("_e.band").alias("band"), F.col("_e.bits").alias("bits"))
    # hot-bucket hard bound: at most SIMHASH_BUCKET_CAP distinct
    # signatures participate per (band, bucket) — row_number over the
    # bucket rewrites to WindowGroupLimit (rank pruned before the
    # exchange), exactly dedup_ngram's posting-list discipline. The
    # total order (hi, lo) makes the survivors deterministic.
    wcap = Window.partitionBy("band", "bits").orderBy("hi", "lo")
    bands = bands.withColumn("rn", F.row_number().over(wcap)).filter(
        F.col("rn") <= SIMHASH_BUCKET_CAP
    ).drop("rn")
    a, b = bands.alias("a"), bands.alias("b")
    cross = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & ((F.col("a.hi") != F.col("b.hi")) | (F.col("a.lo") != F.col("b.lo"))),
        )
        .select(
            F.col("a.hi").alias("ha"), F.col("a.lo").alias("la"),
            F.col("b.hi").alias("hb"), F.col("b.lo").alias("lb"),
            F.col("b.cnt").alias("cnt_b"),
        )
        .distinct()  # a sig pair can share several bands — count once
        .filter(
            (
                F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
                + F.bit_count(F.col("la").bitwiseXOR(F.col("lb")))
            )
            <= 3
        )
        .groupBy("ha", "la")
        .agg(F.sum("cnt_b").alias("n_cross"))
    )
    deg = sgrp.join(
        cross, (sgrp["hi"] == cross["ha"]) & (sgrp["lo"] == cross["la"]), "left"
    ).select(
        sgrp["hi"],
        sgrp["lo"],
        (F.col("cnt") - 1 + F.coalesce("n_cross", F.lit(0))).cast("long").alias("n_near"),
    )
    return sig.join(deg, ["hi", "lo"]).select("doc_id", "n_near")


@query(
    "dedup_containment",
    oracle=(
        # same normalized-shingle machinery (incl. the boilerplate cap)
        # as dedup_ngram, scored by CONTAINMENT |A∩B| / min(|A|,|B|) —
        # catches subset duplication (quotes, doc-in-doc) that symmetric
        # Jaccard under-scores
        f"WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents), "
        f"sh0 AS ({_SHINGLE_SQL}), "
        f"keep AS (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= {NGRAM_MAX_DF}), "
        "sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN keep USING (s)), "
        "cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i "
        "  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY doc_a, doc_b), "
        "j AS (SELECT doc_a, doc_b, CAST(i AS DOUBLE) / least(ca.n, cb.n) AS containment "
        "  FROM inter JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b) "
        "SELECT doc_a, doc_b, containment FROM j WHERE containment >= 0.9"
    ),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram CONTAINMENT near-dup pairs (>= 0.9): |A∩B| / min(|A|,|B|).
    A short doc fully quoted inside a long one scores ~1.0 here but low
    Jaccard (union is dominated by the long doc) — the subset-duplication
    case a training-data pipeline must catch separately. Plan shape is
    identical to dedup_ngram (same WindowGroupLimit-capped inverted
    index, same combinatorial pair emission — see that docstring for the
    100 TB argument); only the final score differs.

    Scale: dedup_ngram's WindowGroupLimit-capped inverted-index plan
    (see that docstring)."""
    docs = load(spark, sf_dir, "documents", spread=True, amplify=2000)
    norm = docs.select("doc_id", _norm_col().alias("t"))
    sh = norm.select("doc_id", F.explode(_shingle_arr_col()).alias("s"))
    w = Window.partitionBy("s").orderBy("doc_id")
    ranked = sh.select("s", "doc_id", F.row_number().over(w).alias("rn")).filter(
        F.col("rn") <= NGRAM_MAX_DF + 1
    )
    g = (
        ranked.groupBy("s")
        .agg(F.max("rn").alias("mx"), F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.col("mx") <= NGRAM_MAX_DF)
        .select("ds")
    )
    cnt = g.select(F.explode("ds").alias("doc_id")).groupBy("doc_id").agg(F.count("*").alias("n"))
    pair_arr = F.flatten(
        F.transform(
            F.col("ds"),
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + F.lit(2), F.size("ds")),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    inter = (
        g.filter(F.size("ds") >= 2)
        .select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("i"))
    )
    ca, cb = cnt.alias("ca"), cnt.alias("cb")
    return (
        inter.join(ca, F.col("ca.doc_id") == F.col("doc_a"))
        .join(cb, F.col("cb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            (F.col("i").cast("double") / F.least(F.col("ca.n"), F.col("cb.n"))).alias("containment"),
        )
        .filter(F.col("containment") >= 0.9)
    )


@query(
    "dedup_ngram",
    oracle=(
        f"WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents), "
        f"sh0 AS ({_SHINGLE_SQL}), "
        f"keep AS (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= {NGRAM_MAX_DF}), "
        "sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN keep USING (s)), "
        "cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i "
        "  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY doc_a, doc_b), "
        "j AS (SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (ca.n + cb.n - i) AS jaccard "
        "  FROM inter JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b) "
        "SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.8"
    ),
)
def dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (8-char shingle) Jaccard near-dup pairs (>= 0.8),
    computed over NON-BOILERPLATE shingles: any shingle in more than
    NGRAM_MAX_DF docs is dropped on BOTH sides (same rule in the oracle,
    so the comparison stays exact).

    The shingle-inverted-index join computes |A∩B| without materializing
    O(n²) pairs: only docs SHARING a kept shingle meet. The cap is the
    scale guarantee — a shingle in k docs contributes k² join rows, and
    without it common English shingles join most of the corpus to itself
    (observed: heap OOM at sf0.1 on a 1 GB driver; bounded and fast with
    the cap).

    Scale: the NGRAM_MAX_DF cap bounds every posting list BEFORE the
    join — the plan's quadratic-corner guarantee."""
    # shingling amplifies compute ~|text| times the input bytes: spread
    # the single-split local file across cores (no-op at scale, io.py)
    docs = load(spark, sf_dir, "documents", spread=True, amplify=2000)
    norm = docs.select("doc_id", _norm_col().alias("t"))
    # Within-document dedup happens MAP-SIDE: build each doc's shingle
    # ARRAY and array_distinct it before exploding — (doc_id, s) is then
    # unique by construction, so the old full-stream .distinct() shuffle
    # disappears entirely.
    sh = norm.select("doc_id", F.explode(_shingle_arr_col()).alias("s"))
    # Boilerplate prune + bounded collect in ONE exchange: rank docs
    # within each shingle and keep rank <= cap+1. This compiles to
    # WindowGroupLimit, which truncates each task's input to its local
    # top-(cap+1) per shingle BEFORE the exchange — a shingle appearing
    # in millions of docs ships at most cap+1 rows per task, never its
    # full posting list, so shuffle volume and every aggregation buffer
    # below are bounded at any corpus size with NO broadcast-size
    # assumption (the count-prune alternative must broadcast the hot
    # set, whose worst-case size is unbounded). A group whose global
    # rank reaches cap+1 has df > cap (boilerplate) and is dropped from
    # BOTH intersection and union counts — same rule in the oracle, so
    # the comparison stays exact. Collecting first and filtering on
    # size() after would instead materialize a hot shingle's full
    # posting list in one buffer before the filter could drop it.
    # groupBy(s) reuses the window's hash partitioning (no second
    # exchange) and collect_list is provably <= cap elements.
    w = Window.partitionBy("s").orderBy("doc_id")
    ranked = sh.select("s", "doc_id", F.row_number().over(w).alias("rn")).filter(
        F.col("rn") <= NGRAM_MAX_DF + 1
    )
    g = (
        ranked.groupBy("s")
        .agg(F.max("rn").alias("mx"), F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.col("mx") <= NGRAM_MAX_DF)
        .select("ds")
    )
    # The <= C(cap,2) within-list pairs are emitted combinatorially —
    # this replaces the inverted-index SELF-JOIN, which shuffled the
    # full shingle stream twice more.
    cnt = (
        g.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ds"),
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + F.lit(2), F.size("ds")),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    inter = (
        g.filter(F.size("ds") >= 2)
        .select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("i"))
    )
    ca = cnt.alias("ca")
    cb = cnt.alias("cb")
    j = (
        inter.join(ca, F.col("ca.doc_id") == F.col("doc_a"))
        .join(cb, F.col("cb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            (F.col("i").cast("double") / (F.col("ca.n") + F.col("cb.n") - F.col("i"))).alias("jaccard"),
        )
    )
    return j.filter(F.col("jaccard") >= 0.8)


def _cluster_oracle() -> str:
    """Recursive-CTE connected components over the minhash pair graph:
    transitive closure (n reaches r), then component = MIN(reachable).
    Closure size is sum(|C|^2) over components — fine at oracle scale
    (components are near-cliques of 2-3 docs at sf0.01); the Spark side
    uses the O(log n)-round star algorithm instead (operators/graph.py)."""
    ctes, pair_select = _minhash_ctes()
    return (
        f"WITH RECURSIVE {ctes}, pairs AS ({pair_select}), "
        "und AS (SELECT doc_a AS a, doc_b AS b FROM pairs "
        "  UNION SELECT doc_b, doc_a FROM pairs), "
        "reach AS (SELECT doc_id AS n, doc_id AS r FROM documents "
        "  UNION SELECT reach.n, und.b FROM reach JOIN und ON und.a = reach.r) "
        "SELECT n AS doc_id, MIN(r) AS cluster_id, n <> MIN(r) AS is_dup "
        "FROM reach GROUP BY n"
    )


@query("dedup_cluster", oracle=_cluster_oracle())
def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CLUSTER assignment: the step after pair generation. LSH
    emits pairs; a keeper per cluster needs the connected components of
    the pair graph (A~B, B~C must collapse to one keeper even though A
    and C never shared a bucket). Output is every doc with its cluster's
    canonical id (min doc_id of the component) — what a 100 TB dedup job
    writes back before dropping is_dup rows.

    Pairs: the same MinHash-LSH construction as dedup_minhash (shared
    constants, shared oracle CTEs). Components: alternating large-star /
    small-star (operators/graph.py) — O(log n) shuffle rounds, edge-list
    state only, no component ever materializes inside one task.

    Scale: bounded LSH join plus O(log n) large-star/small-star rounds
    over edge lists only."""
    from flod_spark.operators.graph import connected_components
    from flod_spark.operators.minhash import minhash_candidates

    docs = load(spark, sf_dir, "documents", spread=True, amplify=2000)
    pairs = minhash_candidates(docs, shingle=SHINGLE, seeds=SEEDS, bands=BANDS, cap=4000)
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    base = load(spark, sf_dir, "documents").select("doc_id")
    out = base.join(cc, base["doc_id"] == cc["node"], "left").select(
        base["doc_id"],
        F.coalesce(cc["component"], base["doc_id"]).alias("cluster_id"),
    )
    return out.withColumn("is_dup", F.col("doc_id") != F.col("cluster_id"))


def _apply_oracle() -> str:
    """dedup_cluster's closure, reduced to the SURVIVING corpus: keepers
    are the nodes that equal their component minimum."""
    ctes, pair_select = _minhash_ctes()
    return (
        f"WITH RECURSIVE {ctes}, pairs AS ({pair_select}), "
        "und AS (SELECT doc_a AS a, doc_b AS b FROM pairs "
        "  UNION SELECT doc_b, doc_a FROM pairs), "
        "reach AS (SELECT doc_id AS n, doc_id AS r FROM documents "
        "  UNION SELECT reach.n, und.b FROM reach JOIN und ON und.a = reach.r), "
        "keep AS (SELECT n AS doc_id FROM reach GROUP BY n HAVING n = MIN(r)) "
        "SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d JOIN keep USING (doc_id)"
    )


@query("dedup_apply", oracle=_apply_oracle())
def dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end fuzzy dedup: the corpus that SURVIVES cluster collapse —
    one keeper (min doc_id) per connected component of the MinHash-LSH
    pair graph. This is the actual deliverable of a 100 TB dedup job;
    dedup_minhash / dedup_cluster are its intermediate artifacts.

    Scale shape: everything up to the keeper set is dedup_cluster's plan
    (bounded LSH join + O(log n) star rounds over edge lists); the final
    step joins the keeper ids (one column) back to the corpus — at scale
    an id-only shuffle-hash join, never wide rows through the closure.

    Scale: dedup_cluster's plan plus one id-only join back to the
    corpus."""
    cc = dedup_cluster(spark, sf_dir)
    keep = cc.filter(~F.col("is_dup")).select("doc_id")
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "source", "n_chars")
    return docs.join(keep, "doc_id")


# benchmark decontamination: eval set = every DECON_BENCH_MOD-th doc;
# a train doc is contaminated when it shares >= DECON_MIN_OVERLAP
# distinct token DECON_NGRAM-grams with the benchmark union. TOKEN
# n-grams, not char shingles: an 8-char shingle collides on common
# English ("the and ") and flags the entire corpus; a 5-token exact
# phrase is the GPT-3 appendix-C / PaLM collision unit and only fires
# on real text reuse (measured at sf0.01: shingles flag 475/475 docs,
# 5-grams flag exactly the planted near-dups).
DECON_BENCH_MOD = 20
DECON_MIN_OVERLAP = 1
DECON_NGRAM = 5
_TOK_SQL = "regexp_extract_all(lower(text), '[a-z0-9]+')"


def _ngram_sql(src: str) -> str:
    """Per-doc DISTINCT token n-grams of a (doc_id, tk) CTE; first 4000
    grams per doc (both engines) — honest bounded comparison."""
    return (
        f"SELECT DISTINCT doc_id, array_to_string(tk[i:i+{DECON_NGRAM - 1}], ' ') AS g "
        f"FROM {src}, range(1, 4001) r(i) "
        f"WHERE i <= least(len(tk) - {DECON_NGRAM - 1}, 4000)"
    )


def _ngram_arr_col() -> F.Column:
    """Array of a doc's distinct token n-grams from column `tk`, built
    map-side; mirrors _ngram_sql exactly (incl. the 4000-gram cap)."""
    ncap = F.least(F.size("tk") - (DECON_NGRAM - 1), F.lit(4000))
    grams = F.transform(
        F.sequence(F.lit(1), ncap),
        lambda i: F.array_join(F.slice("tk", i, DECON_NGRAM), " "),
    )
    return F.array_distinct(F.when(ncap >= 1, grams).otherwise(F.array()))


@query(
    "decontaminate",
    oracle=(
        f"WITH tok AS (SELECT doc_id, {_TOK_SQL} AS tk FROM documents), "
        f"ng AS ({_ngram_sql('tok')}), "
        f"bench AS (SELECT DISTINCT g FROM ng WHERE doc_id % {DECON_BENCH_MOD} = 0), "
        f"tr AS (SELECT * FROM ng WHERE doc_id % {DECON_BENCH_MOD} <> 0), "
        "ov AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared "
        "  FROM tr JOIN bench USING (g) GROUP BY doc_id) "
        "SELECT d.doc_id, COALESCE(ov.n_shared, 0) AS n_shared, "
        f"  COALESCE(ov.n_shared, 0) >= {DECON_MIN_OVERLAP} AS contaminated "
        f"FROM (SELECT doc_id FROM documents WHERE doc_id % {DECON_BENCH_MOD} <> 0) d "
        "LEFT JOIN ov USING (doc_id)"
    ),
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing an exact
    token 5-gram with the held-out benchmark set (here: every 20th
    doc_id stands in for the eval benchmark). The training-pipeline step
    that keeps eval data out of the training corpus (GPT-3 appendix C /
    PaLM style n-gram collision check).

    Scale shape: benchmarks are MBs while the corpus is TBs, so the
    benchmark's distinct-n-gram set is BROADCAST and the train side
    never shuffles its grams — the join is map-side, followed by one
    partial-agg-friendly groupBy(doc_id) count. (doc_id, g) is distinct
    by construction (array_distinct before explode), so COUNT(*) after
    the join IS the distinct-overlap count. At real scale the broadcast
    carries gram HASHES (or a bloom filter), not strings — same plan.

    Scale: benchmark grams broadcast; the train side stays map-only plus
    one partial-agg count."""
    from flod_spark.catalog.text import TOKEN_RE

    docs = load(spark, sf_dir, "documents", spread=True, amplify=2000)
    tok = docs.select(
        "doc_id", F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), F.lit(0)).alias("tk")
    )
    ng = tok.select("doc_id", F.explode(_ngram_arr_col()).alias("g"))
    bench = ng.filter(F.col("doc_id") % DECON_BENCH_MOD == 0).select("g").distinct()
    train = ng.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
    ov = (
        train.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    base = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
        .select("doc_id")
    )
    return base.join(ov, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
        (F.coalesce("n_shared", F.lit(0)) >= DECON_MIN_OVERLAP).alias("contaminated"),
    )


@query(
    "dup_rate_report",
    oracle=(
        f"WITH h AS (SELECT doc_id, source, md5({_NORM_SQL}) AS fp FROM documents) "
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "  CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique, "
        "  CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS n_dup, "
        "  CAST(COUNT(*) - COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*) AS dup_rate "
        "FROM h GROUP BY source"
    ),
)
def dup_rate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication-rate rollup — the corpus-health dashboard
    row a crawl operator reads before deciding which source needs
    dedup attention (dedup_exact tells you WHICH docs; this prices HOW
    MUCH, per source). dup_rate divides on already-aggregated BIGINTs
    (one IEEE division per source — deterministic cross-engine). Scale:
    one (source, fp) pre-aggregate exchange for the distinct count,
    then a |sources|-row final aggregate."""
    docs = load(spark, sf_dir, "documents")
    h = docs.select("source", F.md5(_norm_col().cast("binary")).alias("fp"))
    n = F.count("*")
    u = F.count_distinct("fp")
    return h.groupBy("source").agg(
        n.alias("n_docs"),
        u.alias("n_unique"),
        (n - u).alias("n_dup"),
        ((n - u).cast("double") / n).alias("dup_rate"),
    )


@query(
    "snapshot_diff",
    oracle=(
        # two simulated corpus snapshots from one table: docs ending in 0
        # exist only in OLD, ending in 1 only in NEW, ending in 2 changed
        # text between snapshots; everything else is identical
        "WITH old AS (SELECT doc_id, md5(text) AS fp FROM documents "
        "    WHERE doc_id % 10 <> 1), "
        "new AS (SELECT doc_id, md5(CASE WHEN doc_id % 10 = 2 "
        "      THEN text || ' [rev2]' ELSE text END) AS fp "
        "    FROM documents WHERE doc_id % 10 <> 0) "
        "SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id, "
        "  CASE WHEN old.doc_id IS NULL THEN 'added' "
        "       WHEN new.doc_id IS NULL THEN 'removed' "
        "       WHEN old.fp <> new.fp THEN 'changed' "
        "       ELSE 'same' END AS status "
        "FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id"
    ),
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff — the audit between two crawl/ingest
    versions: which docs were added, removed, or changed (by content
    fingerprint), which survived untouched. The planted split derives
    both snapshots from one table so the answer is closed-form. Scale:
    fingerprints reduce each side to (doc_id, 16 bytes) before the one
    co-partitioned full-outer join — text never crosses the shuffle;
    at 100 TB this is the cheap nightly integrity pass."""
    docs = load(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 10 != 1).select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("fp")
    )
    new = docs.filter(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("n_id"),
        F.md5(
            F.when(
                F.col("doc_id") % 10 == 2, F.concat(F.col("text"), F.lit(" [rev2]"))
            )
            .otherwise(F.col("text"))
            .cast("binary")
        ).alias("n_fp"),
    )
    j = old.join(new, old["doc_id"] == new["n_id"], "full_outer")
    status = (
        F.when(old["doc_id"].isNull(), "added")
        .when(new["n_id"].isNull(), "removed")
        .when(old["fp"] != new["n_fp"], "changed")
        .otherwise("same")
    )
    return j.select(
        F.coalesce(old["doc_id"], new["n_id"]).alias("doc_id"),
        status.alias("status"),
    )


DEDUP_VERIFY_JACCARD = 0.8


def _verify_oracle() -> str:
    ctes, pair_select = _minhash_ctes()
    return (
        f"WITH {ctes}, pr AS ({pair_select}), "
        "cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id), "
        "ix AS (SELECT pr.doc_a, pr.doc_b, CAST(COUNT(*) AS BIGINT) AS i "
        "  FROM pr JOIN sh sa ON sa.doc_id = pr.doc_a "
        "  JOIN sh sb ON sb.doc_id = pr.doc_b AND sb.s = sa.s "
        "  GROUP BY 1, 2) "
        "SELECT pr.doc_a, pr.doc_b, ca.n AS n_a, cb.n AS n_b, "
        "  COALESCE(ix.i, 0) AS n_common, "
        "  CAST(COALESCE(ix.i, 0) AS DOUBLE) / (ca.n + cb.n - COALESCE(ix.i, 0)) AS jaccard, "
        f"  CAST(COALESCE(ix.i, 0) AS DOUBLE) / (ca.n + cb.n - COALESCE(ix.i, 0)) "
        f"    >= {DEDUP_VERIFY_JACCARD} AS is_dup "
        "FROM pr "
        "JOIN cnt ca ON ca.doc_id = pr.doc_a "
        "JOIN cnt cb ON cb.doc_id = pr.doc_b "
        "LEFT JOIN ix ON ix.doc_a = pr.doc_a AND ix.doc_b = pr.doc_b"
    )


@query("dedup_verify", oracle=_verify_oracle())
def dedup_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-phase production near-dup pipeline's VERIFY stage: LSH
    gives high-recall candidates (dedup_minhash), exact shingle Jaccard
    on just those pairs restores precision — candidates x exact check,
    never corpus x corpus. Each side's distinct-shingle SET is built
    map-side as an array (no per-shingle shuffle rows); only candidate
    docs ship their sets into the pair join, so the exact-verification
    cost is O(|candidates|), independent of corpus size. Jaccard is one
    IEEE division of exact integer counts — bit-identical cross-engine.
    Scale: at 100 TB the candidate set is tiny relative to the corpus
    (that is the point of LSH); the arrays are bounded by the 4 KB text
    cap, so a candidate row is <= ~32 KB crossing the join."""
    from flod_spark.operators.minhash import minhash_candidates

    docs = load(spark, sf_dir, "documents")
    pairs = minhash_candidates(docs)
    sets_df = docs.select("doc_id", _norm_col().alias("t")).select(
        "doc_id", _shingle_arr_col().alias("sh")
    )
    a = sets_df.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sets_df.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    j = pairs.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    na = F.size("sh_a").cast("long")
    nb = F.size("sh_b").cast("long")
    jac = inter.cast("double") / (na + nb - inter)
    return j.select(
        "doc_a",
        "doc_b",
        na.alias("n_a"),
        nb.alias("n_b"),
        inter.alias("n_common"),
        jac.alias("jaccard"),
        (jac >= DEDUP_VERIFY_JACCARD).alias("is_dup"),
    )


def _del1_sql(x: str) -> str:
    """Spark SQL: array of all single-character deletions of ``x``."""
    return (
        f"CASE WHEN length({x}) <= 0 THEN array() ELSE "
        f"transform(sequence(1, length({x})), i -> "
        f"concat(substring({x}, 1, i - 1), substring({x}, i + 1, length({x})))) END"
    )


@query(
    "join_fuzzy",
    oracle=(
        # brute force is exact and affordable at oracle scale (|distinct
        # names|^2 levenshtein calls); the Spark side must reproduce it
        # from the pruned candidate space.
        "WITH names AS (SELECT p_name, COUNT(*) AS cnt FROM part "
        "  WHERE length(p_name) > 0 GROUP BY p_name) "
        "SELECT a.p_name AS name_a, b.p_name AS name_b, "
        "  levenshtein(a.p_name, b.p_name) AS dist, "
        "  a.cnt AS cnt_a, b.cnt AS cnt_b "
        "FROM names a JOIN names b ON a.p_name < b.p_name "
        "WHERE levenshtein(a.p_name, b.p_name) <= 2"
    ),
)
def join_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity join (ed <= 2) without the cross join —
    the string-matching primitive behind title/URL near-dup detection
    and entity resolution. Candidate generation is the deletion-
    neighborhood trick (SymSpell): two strings within edit distance 2
    always share a member of their <=2-character-deletion neighborhoods
    (take an optimal alignment; delete from each side the characters the
    script touches — at most 2 per side — leaving a common string), so
    an equi-join on the exploded variants is a LOSSLESS candidate
    filter, and the built-in levenshtein verify on candidates makes the
    result exact. Runs on DISTINCT strings (the vocabulary), with row
    counts joined back — never once per duplicated row.

    Scale: neighborhood size is O(L^2) per distinct string (L = string
    length), generated map-side by a Catalyst transform — no Python.
    The candidate join keys on the variant string (uniform md5-like
    spread); the verify is O(candidates), never |vocab|^2. For long
    strings (L > ~50) production switches to segment-pigeonhole
    candidates (PassJoin): partition each string into d+1 segments and
    index (segment, position) — neighborhood size drops to O(d*L)."""
    names = _part_names(spark, sf_dir)
    verified = _fuzzy_name_pairs(names)
    ca = names.select(F.col("p_name").alias("name_a"), F.col("cnt").alias("cnt_a"))
    cb = names.select(F.col("p_name").alias("name_b"), F.col("cnt").alias("cnt_b"))
    return (
        verified.join(F.broadcast(ca), "name_a")
        .join(F.broadcast(cb), "name_b")
        .select("name_a", "name_b", "dist", "cnt_a", "cnt_b")
    )


def _part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count("*").alias("cnt"))
        .filter(F.length("p_name") > 0)
    )


def _fuzzy_name_pairs(names: DataFrame) -> DataFrame:
    """Verified edit-distance<=2 pairs (name_a < name_b, dist) from a
    vocabulary frame with a p_name column — join_fuzzy's deletion-
    neighborhood candidate join + levenshtein verify, shared with
    entity_resolve."""
    d1 = F.expr(_del1_sql("p_name"))
    d2 = F.expr(
        "flatten(transform(" + _del1_sql("p_name") + ", v -> " + _del1_sql("v") + "))"
    )
    variants = names.select(
        "p_name",
        F.explode(
            F.array_distinct(F.concat(F.array(F.col("p_name")), d1, d2))
        ).alias("variant"),
    )
    va, vb = variants.alias("va"), variants.alias("vb")
    cand = (
        va.join(
            vb,
            (F.col("va.variant") == F.col("vb.variant"))
            & (F.col("va.p_name") < F.col("vb.p_name")),
        )
        .select(
            F.col("va.p_name").alias("name_a"), F.col("vb.p_name").alias("name_b")
        )
        .distinct()
    )
    return cand.withColumn("dist", F.levenshtein("name_a", "name_b")).filter(
        F.col("dist") <= 2
    )


@query(
    "entity_resolve",
    oracle=(
        "WITH RECURSIVE names AS (SELECT p_name, COUNT(*) AS cnt FROM part "
        "  WHERE length(p_name) > 0 GROUP BY p_name), "
        "pairs AS (SELECT a.p_name AS a, b.p_name AS b "
        "  FROM names a JOIN names b ON a.p_name < b.p_name "
        "  WHERE levenshtein(a.p_name, b.p_name) <= 2), "
        "und AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs), "
        "reach AS (SELECT p_name AS n, p_name AS r FROM names "
        "  UNION SELECT reach.n, und.b FROM reach JOIN und ON und.a = reach.r), "
        "g AS (SELECT n, MIN(r) AS canonical FROM reach GROUP BY n) "
        "SELECT g.n AS name, g.canonical, g.n <> g.canonical AS is_alias, names.cnt "
        "FROM g JOIN names ON names.p_name = g.n"
    ),
)
def entity_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution — the composition the individual
    operators exist for: fuzzy-match the vocabulary (join_fuzzy's
    deletion-neighborhood join), take connected components of the match
    graph (A~B, B~C collapse even though A,C never matched directly;
    operators/graph.py's large-star/small-star), and assign every name
    its component's canonical form (min name) plus its row mass. The
    oracle recomputes the same closure with a recursive CTE over the
    brute-force pair graph.

    Scale: pairs are the bounded fuzzy join; components are O(log n)
    edge-list shuffle rounds (never a component inside one task);
    the canonical assignment is one left join — the same shape that
    resolves billions of merchant/product names."""
    from flod_spark.operators.graph import connected_components

    names = _part_names(spark, sf_dir)
    pairs = _fuzzy_name_pairs(names)
    comp = connected_components(pairs, src="name_a", dst="name_b")
    return (
        names.join(
            comp.withColumnRenamed("node", "p_name"), "p_name", "left"
        )
        .select(
            F.col("p_name").alias("name"),
            F.coalesce("component", "p_name").alias("canonical"),
            (F.coalesce("component", "p_name") != F.col("p_name")).alias("is_alias"),
            "cnt",
        )
    )


# PassJoin geometry: tau = 2 edits -> tau + 1 = 3 segments per indexed
# string; probe substring positions shift at most tau from the segment's
# home position.
_PJ_TAU = 2
_PJ_SEGS = _PJ_TAU + 1


def _pj_seg_len(l: str, i: int) -> str:
    """SQL: length of segment i (0-based) in the even partition scheme of
    a string of length ``l``: the LAST (l % 3) segments get the extra
    character."""
    return f"(({l}) DIV {_PJ_SEGS} + (CASE WHEN {i} >= {_PJ_SEGS} - ({l}) % {_PJ_SEGS} THEN 1 ELSE 0 END))"


def _pj_seg_start(l: str, i: int) -> str:
    """SQL: 1-based start of segment i = 1 + sum of lengths of segments
    before it."""
    prior = " + ".join(_pj_seg_len(l, j) for j in range(i)) or "0"
    return f"(1 + {prior})"


@query(
    "join_fuzzy_seg",
    oracle=(
        "WITH names AS (SELECT DISTINCT p_name FROM part WHERE length(p_name) > 0) "
        "SELECT a.p_name AS name_a, b.p_name AS name_b, "
        "  levenshtein(a.p_name, b.p_name) AS dist "
        "FROM names a JOIN names b ON a.p_name < b.p_name "
        "WHERE levenshtein(a.p_name, b.p_name) <= 2"
    ),
)
def join_fuzzy_seg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join_fuzzy's documented LONG-STRING scale path, implemented for
    real: PassJoin segment-pigeonhole candidates (Li et al.). Each
    indexed string of length l splits into tau+1 = 3 fixed segments; if
    ed(u, v) <= 2 then some segment of v carries NO edit, so it appears
    in u VERBATIM, shifted by at most the net indel balance before it
    (<= tau). The probe therefore emits, for every target length
    l in [|u|-2, |u|+2] and segment index i, u's substrings of that
    scheme's segment length at the <= 2*tau+1 in-window positions — an
    O(tau^2 * L)-per-string index (vs the deletion neighborhood's
    O(L^2)), which is why production switches here for long strings.
    The equi-join on (target length, segment index, substring) is a
    LOSSLESS candidate filter by the pigeonhole argument; levenshtein
    verify makes it exact — the oracle is the same brute force as
    join_fuzzy, so the two registered implementations are proven
    answer-identical.

    Scale: candidate keys carry the length and segment index, so only
    same-length-window strings ever meet; segments are near-uniform
    substrings (md5-like spread); verify is O(candidates). State per
    string is 3 index rows + <= 75 probe rows regardless of length."""
    names = _part_names(spark, sf_dir).select("p_name")
    # Only strings of length >= tau+1 can be segment-INDEXED (segments
    # must be non-empty); every string still PROBES, so a pair with one
    # short side is caught through its long side's index entries. Pairs
    # where BOTH sides are shorter than tau+1 go through the dedicated
    # short-string branch below — without it, tiny strings silently
    # never pair (a latent hole the long-named testdata would not catch).
    indexable = names.filter(F.length("p_name") >= _PJ_SEGS)
    # index side: 3 segments per string
    idx_entries = F.array(
        *[
            F.expr(
                "struct(length(p_name) AS l, "
                f"{i} AS i, "
                f"substring(p_name, {_pj_seg_start('length(p_name)', i)}, "
                f"{_pj_seg_len('length(p_name)', i)}) AS seg)"
            )
            for i in range(_PJ_SEGS)
        ]
    )
    idx = indexable.select(
        F.col("p_name").alias("v"), F.explode(idx_entries).alias("e")
    ).select("v", "e.l", "e.i", F.col("e.seg").alias("seg"))
    # probe side: for each target length l0 = |u|+dl and segment i, the
    # segment-length substring of u at each in-window start p0+shift
    probe_entries = []
    for dl in range(-_PJ_TAU, _PJ_TAU + 1):
        l0 = f"(length(p_name) + {dl})"
        for i in range(_PJ_SEGS):
            ln = _pj_seg_len(l0, i)
            p0 = _pj_seg_start(l0, i)
            for shift in range(-_PJ_TAU, _PJ_TAU + 1):
                p = f"({p0} + {shift})"
                probe_entries.append(
                    F.expr(
                        f"CASE WHEN {l0} >= {_PJ_SEGS} AND {p} >= 1 "
                        f"AND {p} + {ln} - 1 <= length(p_name) THEN "
                        f"struct({l0} AS l, {i} AS i, "
                        f"substring(p_name, {p}, {ln}) AS seg) END"
                    )
                )
    probe = names.select(
        F.col("p_name").alias("u"),
        F.explode(
            F.array_distinct(
                F.filter(F.array(*probe_entries), lambda x: x.isNotNull())
            )
        ).alias("e"),
    ).select("u", "e.l", "e.i", F.col("e.seg").alias("seg"))
    cand = (
        probe.join(idx, ["l", "i", "seg"])
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("name_a"), F.greatest("u", "v").alias("name_b")
        )
    )
    # short x short branch: strings below the segmentable length are a
    # BOUNDED vocabulary class (< |alphabet|^tau + ... strings exist at
    # all), so pairing them against each other directly is O(1) at any
    # corpus scale; length difference > tau cannot be within distance tau
    shorts = names.filter(F.length("p_name") < _PJ_SEGS)
    sa, sb = shorts.alias("sa"), shorts.alias("sb")
    short_pairs = sa.join(
        sb, F.col("sa.p_name") < F.col("sb.p_name")
    ).select(
        F.col("sa.p_name").alias("name_a"), F.col("sb.p_name").alias("name_b")
    )
    return (
        cand.unionByName(short_pairs)
        .distinct()
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= _PJ_TAU)
    )


@query(
    "dedup_semantic_text",
    oracle=(
        # IDF-weighted SimHash: each distinct token votes +-w where
        # w = ilog2(N) - ilog2(df) + 1, an INTEGER log-scaled IDF
        # (ilog2 via binary-string length — exact in both engines; a
        # float ln() could round differently and flip a near-zero vote)
        f"WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents), "
        "tok AS (SELECT DISTINCT doc_id, unnest(regexp_extract_all(t, '[a-z0-9]+')) AS tk FROM norm), "
        "df AS (SELECT tk, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY tk), "
        "n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM norm), "
        "wt AS (SELECT tk, CAST(length(bin(nd)) - length(bin(df)) + 1 AS BIGINT) AS w "
        "  FROM df, n), "
        "bits AS (SELECT doc_id, p, "
        "    SUM(CASE WHEN strpos('89abcdef', substr(md5(tk), p, 1)) > 0 THEN w ELSE -w END) AS v "
        "  FROM tok JOIN wt USING (tk), range(1, 17) r(p) GROUP BY doc_id, p), "
        "sig AS (SELECT doc_id, string_agg(CASE WHEN v >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS simhash "
        "  FROM bits GROUP BY doc_id) "
        "SELECT doc_id, simhash, MIN(doc_id) OVER (PARTITION BY simhash) AS canonical_id FROM sig"
    ),
)
def dedup_semantic_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF-WEIGHTED SimHash — the 'semantic' text fingerprint (Charikar
    weighting as Google's near-dup paper applies it): rare informative
    tokens dominate the signature while boilerplate/stopwords (high
    document frequency) barely vote, so two docs sharing their RARE
    vocabulary collide even when their boilerplate differs — the
    failure mode the unweighted dedup_simhash has on template-heavy
    corpora. Weights are integer log-IDFs (ilog2 via binary-digit
    count: exact, engine-portable; no float ln anywhere), so the vote
    sums — and therefore the signatures — are bit-identical across
    engines. Output matches dedup_exact's shape: doc -> signature ->
    canonical (min doc_id per signature).

    Scale: the df pass is one token-level partial-agg shuffle; the
    weight table is VOCABULARY-cardinality — web-scale [a-z0-9]+
    tokenization (typos, numbers, hex ids) runs to hundreds of
    millions of distinct tokens, i.e. GBs, far past any broadcast
    threshold — so its join back onto the token stream carries NO
    hint: AQE broadcasts when the measured build side fits and
    shuffle-joins otherwise (both sides are already hashed on tk from
    the df pass, so the fallback reuses that partitioning). Signatures
    are then ONE groupBy(doc) of 16 weighted sums combining map-side,
    and text never crosses an exchange."""
    from flod_spark.catalog.text import TOKEN_RE

    docs = load(spark, sf_dir, "documents", spread=True, amplify=2000)
    norm = docs.select("doc_id", _norm_col().alias("t"))
    tok = norm.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.regexp_extract_all(F.col("t"), F.lit(TOKEN_RE), F.lit(0)))
        ).alias("tk"),
    ).distinct()
    ilog2 = lambda c: F.length(F.conv(c.cast("string"), 10, 2)).cast("long")  # noqa: E731
    nd = norm.agg(F.count("*").alias("nd"))
    wt = (
        tok.groupBy("tk")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(nd))
        .select("tk", (ilog2(F.col("nd")) - ilog2(F.col("df")) + 1).alias("w"))
    )
    tw = tok.join(wt, "tk").select(
        "doc_id", F.md5(F.col("tk").cast("binary")).alias("h"), "w"
    )
    votes = [
        F.sum(
            F.when(
                F.instr(F.lit("89abcdef"), F.substring("h", p, 1)) > 0, F.col("w")
            ).otherwise(-F.col("w"))
        ).alias(f"v{p}")
        for p in range(1, 17)
    ]
    v = tw.groupBy("doc_id").agg(*votes)
    simhash = F.concat(
        *[F.when(F.col(f"v{p}") >= 0, "1").otherwise("0") for p in range(1, 17)]
    )
    sig = v.select("doc_id", simhash.alias("simhash"))
    w = Window.partitionBy("simhash")
    return sig.select("doc_id", "simhash", F.min("doc_id").over(w).alias("canonical_id"))


# ---------------------------------------------------------------------------
# The persisted CLAIM TABLE: one seam over the key columns. The exact
# (fp), fingerprint-row (fp), fuzzy (band, bs) and crawl-sink (fp +
# n_chars) tables are key specs over these functions.

FP_KEY = ("fp",)
BAND_KEY = ("band", "bs")


def first_carriers(rows: DataFrame, key: tuple[str, ...]) -> DataFrame:
    """(key…, first_id): each key's first carrier (min doc_id) in
    ``rows`` — the fold every build and fuzzy advance writes."""
    return rows.groupBy(*key).agg(F.min("doc_id").alias("first_id"))


def first_in_slice(key: tuple[str, ...]) -> F.Column:
    """True on the row that first carries its key within the slice
    (min doc_id over the key) — the within-slice half of every
    admission verdict."""
    return F.col("doc_id") == F.min("doc_id").over(Window.partitionBy(*key))


def _at_slice(rows: DataFrame, slice_id: int) -> DataFrame:
    return rows.withColumn("slice", F.lit(int(slice_id)))


def write_claim_slice(
    rows: DataFrame, claims_dir: str, slice_id: int, whole_table: bool = False
) -> None:
    """Write ``rows`` as partition ``slice=<slice_id>`` of the claim
    table (build_claims states the contract). Only that partition is
    replaced: dynamic partition overwrite, passed as an option of this
    one write so the session conf is never touched. ``whole_table``
    replaces the entire directory instead — the builds, which write the
    fold as slice 0."""
    w = _at_slice(rows, slice_id).write.mode("overwrite")
    if not whole_table:
        w = w.option("partitionOverwriteMode", "dynamic")
    w.partitionBy("slice").parquet(claims_dir)


def read_claims(
    spark: SparkSession, claims_dir: str, own_slice: int | None = None, schema=None
) -> DataFrame:
    """The claim table as of now, repaired first (recover_swap_dir: a
    compactor that crashed between its renames leaves the table as
    ``<dir>.compact``, and a read would otherwise fail on the absent
    dir). ``own_slice`` drops the slice an advance is about to
    (re)write, so a retry never reads its own partial rows back as
    already claimed. ``schema`` skips footer inference for callers that
    cached it."""
    recover_swap_dir(claims_dir)
    reader = spark.read if schema is None else spark.read.schema(schema)
    cur = reader.parquet(claims_dir)
    if own_slice is not None:
        cur = cur.filter(F.col("slice") != F.lit(int(own_slice)))
    return cur


def build_claims(rows: DataFrame, key: tuple[str, ...], claims_dir: str) -> None:
    """Materialize a CLAIM TABLE from (doc_id, key…) rows: one row per
    distinct key with its first carrier. This docstring is the contract
    the whole seam keeps.

    Layout: parquet ``(key…, first_id[, extras], slice)``, partitioned
    by the integer ``slice``. Slice 0 is RESERVED for the fold: the
    build writes it (replacing the whole table) and compact_claim_table
    folds every slice back into it. Advances and the live sink write
    slices >= 1 (crawl_claims_sink: batch b is slice b + 1), so a
    stream started on a fresh checkpoint can never overwrite the base.

    Idempotent slice writes (Drizzle's recovery at batch boundaries):
    write_claim_slice replaces exactly its own partition, and every
    advance computes the partition from the OTHER slices
    (read_claims' ``own_slice``), so a retried or replayed advance
    rewrites identical rows instead of appending duplicates. A key
    lives in exactly one slice, and its first_id never changes.

    Reads: every read repairs a half-finished swap first
    (read_claims). Admission reads either hold each key once (DISTINCT,
    or the bucketed table, unique by construction of the fold) or join
    LEFT ANTI, so a malformed table with duplicate keys cannot fan out
    the slice side.

    Crash order of compaction: the fold is written ``<dir>.compact``
    and swapped in by a double rename (atomic_swap_dir). With a
    bucketed table, the bucketed refresh runs BEFORE the swap, so the
    bucketed base is never staler than the fold: before the refresh
    nothing changed; between refresh and swap it over-covers (a
    duplicate key in the live sink's ``seen`` union is harmless under
    LEFT ANTI); between the renames the dir is absent and the bucketed
    base alone covers every claim. The reverse order left a crash after
    the swap with a base missing the just-folded slices, re-admitting
    them (pinned via the pre-swap crash state in
    tests/test_round15_ops.py).

    Scale: map-side partial aggregation + one exchange on the key; the
    table is |distinct keys| rows regardless of corpus size, and never
    stores text."""
    write_claim_slice(first_carriers(rows, key), claims_dir, 0, whole_table=True)


def admit_against(rows: DataFrame, seen: DataFrame, key: tuple[str, ...]) -> DataFrame:
    """``rows`` + ``admitted``: the key is absent from ``seen`` (which
    must hold each key once) AND this row first carries it within the
    slice. Carried columns ride through. One anti-join-shaped left join
    + one within-slice window, both on the key only."""
    return (
        rows.join(seen.withColumn("_seen", F.lit(True)), list(key), "left")
        .withColumn("admitted", first_in_slice(key) & F.col("_seen").isNull())
        .drop("_seen")
    )


def compact_claim_table(
    spark: SparkSession,
    claims_dir: str,
    bucketed_table: str | None = None,
    key: tuple[str, ...] = FP_KEY,
) -> None:
    """Periodic claim-table COMPACTION: fold every slice back into
    slice 0 (group by ``key``, min first_id — value-neutral, since each
    key lives in exactly one slice) and atomically swap the directory,
    so the read side stays at one partition's file count however many
    slices have advanced. Carried columns (the crawl table's n_chars)
    fold with their first_id's row.

    ``bucketed_table`` (fp key only) also refreshes the fp-bucketed
    catalog layout (write_claims_bucketed) BEFORE the swap — the crash
    order in build_claims — so later admissions join it with no
    claims-side exchange (dedup_against_claims' bucketed path; plan
    pinned in tests/test_round12_ops.py, value parity oracle-gated by
    dedup_claims_bucketed).

    Scale: one exchange on the key over |distinct keys| rows, folded
    ONCE — with bucketed_table the folded frame is localCheckpoint()ed
    and feeds both writes; the swap is a rename (object stores use a
    manifest commit instead)."""
    cur = read_claims(spark, claims_dir)
    # min_by is exact here (each key lives in exactly one slice, so the
    # group has one row) and deterministic even against a malformed
    # duplicate-key table
    extras = [c for c in cur.columns if c not in (*key, "first_id", "slice")]
    compacted = _at_slice(
        cur.groupBy(*key).agg(
            F.min("first_id").alias("first_id"),
            *[F.min_by(c, "first_id").alias(c) for c in extras],
        ),
        0,
    )
    if bucketed_table is not None:
        # ONE materialized fold feeds BOTH writes: refresh-first needs
        # the bucketed write to complete before the swap, and the naive
        # form paid the full groupBy twice for it. localCheckpoint pins
        # the folded rows in executor storage; the write order (and
        # every crash-window argument) is unchanged.
        compacted = compacted.localCheckpoint(eager=True)
        # the layout lives NEXT TO the claim state (<claims_dir>.bucketed,
        # an EXTERNAL table) so the whole lifecycle sweeps as one root
        write_claims_bucketed(
            compacted,
            spark,
            bucketed_table,
            path=claims_dir.rstrip("/") + ".bucketed",
        )
    atomic_swap_dir(compacted, claims_dir, "slice")


def write_claims_bucketed(
    claims: DataFrame,
    spark: SparkSession,
    table: str,
    buckets: int = 32,
    path: str | None = None,
) -> None:
    """Write a claim table BUCKETED (and sorted) by fp into the session
    catalog — the at-scale layout the docstrings promise: a slice
    bucketed the same way anti-joins against it with NO exchange and
    NO sort on either side (pinned in tests/test_round12_ops.py).

    Scale: bucket count tracks the cluster's reduce width; the nightly
    job pays one bucketed write per compaction and every subsequent
    slice join is co-partitioned. The pre-write repartition on fp puts
    each bucket's rows in exactly one task -> ONE FILE PER BUCKET, the
    layout under which the sortBy metadata is actually trustworthy;
    readers that also set
    spark.sql.legacy.bucketedTableScan.outputOrdering=true (safe
    precisely because of the one-file-per-bucket write) then elide the
    join-side Sorts too — bucketed scans feed the SortMergeJoin
    directly, zero exchanges AND zero sorts (pinned in
    tests/test_round12_ops.py).

    ``path`` pins the table's file location (EXTERNAL table) — the
    self-contained gates use a temp dir so their state sweeps with the
    rest instead of landing in the session's warehouse directory; a
    production catalog omits it."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    w = (
        claims.select("fp", "first_id")
        .repartition(buckets, F.col("fp"))
        .write.mode("overwrite")
        .bucketBy(buckets, "fp")
        .sortBy("fp")
        .format("parquet")
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


# -- exact claims: the fp key ------------------------------------------------


def _fp_rows(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", F.md5(_norm_col().cast("binary")).alias("fp"))


def build_claim_table(docs: DataFrame, claims_dir: str) -> None:
    """The exact-dedup claim table (fp, first_id, slice) over the md5 of
    each document's normalized text — the persisted state of an
    INCREMENTAL batch dedup job (each slice dedups against everything
    admitted so far, then the table advances; the streaming twin is
    stream_prep_live's per-key state). Contract: build_claims. For the
    co-partitioned anti-join at scale, compact with a bucketed table
    (write_claims_bucketed)."""
    build_fp_claim_table(_fp_rows(docs), claims_dir)


def build_fp_claim_table(rows: DataFrame, claims_dir: str) -> None:
    """build_claim_table over rows that already carry ``fp`` — the crawl
    chain claims on the md5 of the EXTRACTED text."""
    build_claims(rows, FP_KEY, claims_dir)


def advance_claim_table(admitted: DataFrame, claims_dir: str, slice_id: int) -> None:
    """ADVANCE the exact claim table with one slice's verdicts (the
    dedup_against_claims output): the admitted rows' (fp, first_id)
    replace partition ``slice=<slice_id>`` (build_claims' idempotent
    slice write). Append-only across slices: a claimed fp is never
    admitted again. Writes |newly admitted| rows; pytest pins that N
    advances + compact equal the one-shot table and that a replayed
    advance is a no-op."""
    write_claim_slice(
        admitted.filter("admitted").select(*FP_KEY, F.col("doc_id").alias("first_id")),
        claims_dir,
        slice_id,
    )


def _claims_fp_side(
    spark: SparkSession, claims_dir: str, bucketed_table: str | None
) -> DataFrame:
    """The claims side of an fp admission join, each fp once. Default:
    the dir read DISTINCT on fp. With ``bucketed_table``: the
    fp-bucketed catalog table compact_claim_table refreshed, scanned
    straight from its buckets (no exchange; tests/test_round12_ops.py
    pins the zero-exchange SortMergeJoin) and with NO distinct — fp is
    unique by construction of the fold, and a distinct would re-insert
    the exchange the layout removes. The dir is repaired first either
    way. The bucketed refresh is DROP + saveAsTable (non-atomic), so a
    missing table falls back to the dir read instead of failing with
    TABLE_OR_VIEW_NOT_FOUND until the next compaction."""
    if bucketed_table is not None and spark.catalog.tableExists(bucketed_table):
        recover_swap_dir(claims_dir)
        return spark.table(bucketed_table).select(*FP_KEY)
    return read_claims(spark, claims_dir).select(*FP_KEY).distinct()


def admit_fp_rows_against_claims(
    rows: DataFrame,
    spark: SparkSession,
    claims_dir: str,
    bucketed_table: str | None = None,
) -> DataFrame:
    """Admission of fingerprint-bearing rows against the claim table: a
    row is ADMITTED iff its fp is unclaimed AND it is the slice's first
    arrival for that fp (admit_against). Carried columns (n_chars, …)
    ride through; the claim join touches fingerprints only."""
    seen = _claims_fp_side(spark, claims_dir, bucketed_table)
    return admit_against(rows, seen, FP_KEY)


def dedup_against_claims(
    docs: DataFrame,
    spark: SparkSession,
    claims_dir: str,
    bucketed_table: str | None = None,
) -> DataFrame:
    """Dedup a NEW SLICE of documents against the claim table:
    (doc_id, fp, admitted) — admit_fp_rows_against_claims over the
    documents' md5 rows, exactly the one-shot dedup_exact admission set
    restricted to the slice (pytest-pinned: claims(half1) + admit(half2)
    == the union job's half2 survivors). The caller advances the table
    with advance_claim_table. Nothing rescans prior slices' text; pass
    ``bucketed_table`` for the shuffle-free claims side at scale."""
    return admit_fp_rows_against_claims(
        _fp_rows(docs), spark, claims_dir, bucketed_table
    ).select("doc_id", "fp", "admitted")


# -- the lifecycle gates' fixture ----------------------------------------------

# the re-delivered duplicate copies get doc_id + _SLICE_OFFSET (past any
# gate corpus's max id).
_SLICE_OFFSET = 1_000_000

# Shared by dedup_incremental, dedup_claims_compacted and
# dedup_claims_bucketed (compaction and the serving layout must be
# invisible to admission, so the lifecycle queries reuse this oracle
# VERBATIM): half-split twin — claims = first half's fingerprints; the
# slice is the WHOLE corpus plus a re-delivered copy at doc_id + offset,
# so all three admission paths carry weight — claimed fps reject,
# within-slice later arrivals reject, unclaimed firsts admit.
_INCR_CLAIMS_ORACLE = (
    "WITH m AS (SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS mid FROM documents), "
    "s AS (SELECT doc_id, text FROM documents "
    f"  UNION ALL SELECT doc_id + {_SLICE_OFFSET} AS doc_id, text FROM documents), "
    f"h AS (SELECT doc_id, md5({_NORM_SQL}) AS fp FROM s), "
    f"c AS (SELECT DISTINCT md5({_NORM_SQL}) AS fp FROM documents, m "
    "  WHERE doc_id <= mid) "
    "SELECT doc_id, fp, "
    "  (doc_id = MIN(doc_id) OVER (PARTITION BY fp)) "
    "    AND fp NOT IN (SELECT fp FROM c) AS admitted "
    "FROM h"
)


def quarter_cuts(docs: DataFrame) -> tuple[int, int]:
    """(q1, mid): the doc_id cut points the lifecycle gates split the
    corpus at — mid = (min + max) // 2 (the oracles' ``m`` CTE) and q1
    = (min + mid) // 2. One aggregate job."""
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    mid = (lo + hi) // 2
    return (lo + mid) // 2, mid


def _redelivered(docs: DataFrame) -> DataFrame:
    """The lifecycle gates' slice: the whole corpus plus a re-delivered
    copy of itself at doc_id + _SLICE_OFFSET."""
    return docs.select("doc_id", "text").unionByName(
        docs.select((F.col("doc_id") + F.lit(_SLICE_OFFSET)).alias("doc_id"), "text")
    )


@query("dedup_incremental", oracle=_INCR_CLAIMS_ORACLE)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL batch dedup against a PERSISTED claim table,
    oracle-gated (the nightly-pipeline shape): build_claim_table
    materializes the first half of the corpus's fingerprints, then
    dedup_against_claims admits a new slice — the full corpus UNIONed
    with a re-delivered copy of itself at doc_id + _SLICE_OFFSET, so
    every admission path does real work at gate scale: fps claimed by
    the table REJECT (first half), later within-slice arrivals of the
    same fp REJECT (every re-delivered copy), and unclaimed
    slice-firsts ADMIT (second half). The oracle states the same
    three-way verdict in closed form. Table advancement + replay
    idempotence + N-advances==one-shot are pinned in tests.

    Scale: the claim join touches fingerprints only; nothing rescans
    prior slices' text, which is the entire point of the persisted
    state at 100 TB."""
    docs = load(spark, sf_dir, "documents")
    _, mid = quarter_cuts(docs)
    with tempfile.TemporaryDirectory(
        prefix="flod_claims_", ignore_cleanup_errors=True
    ) as root:
        claims_dir = os.path.join(root, "claims")
        build_claim_table(docs.filter(F.col("doc_id") <= mid), claims_dir)
        return serve_and_cleanup(
            dedup_against_claims(_redelivered(docs), spark, claims_dir)
        )


# -- fuzzy claims: the (band, bs) key ------------------------------------------


def _band_sig_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, band, bs) band-signature rows with the registered
    dedup_minhash geometry (SHINGLE/SEEDS/BANDS) — the shared
    fingerprint unit of the incremental FUZZY dedup pair below."""
    from flod_spark.operators.minhash import minhash_signatures, shingles

    sh = shingles(docs, "doc_id", SHINGLE, 4000, distinct=False)
    return minhash_signatures(sh, "doc_id", SEEDS, BANDS)


def admit_by_first_carrier(sig: DataFrame, claims: DataFrame) -> DataFrame:
    """The incremental NEAR-dup admission verdict over band-signature
    rows: a doc is ADMITTED iff EVERY one of its band signatures is (a)
    absent from the persisted claims and (b) first carried by this doc
    within the slice (min doc_id) — i.e. scanning docs in arrival
    order, none of its signatures was emitted by ANY earlier doc,
    admitted or rejected. Counting rejected docs' signatures as 'seen'
    is what makes rejection TRANSITIVE (A~B via band x, B~C via band y
    -> only A survives even though A and C never collide) and is
    exactly why incremental processing over doc_id-ordered slices
    equals the one-shot job bit-for-bit (pytest-pinned).

    Scale: one (band, bs) window min within the slice + one
    anti-join-shaped left join against claims — both on signature-sized
    keys; text never reaches either exchange."""
    seen = claims.select(*BAND_KEY).distinct()
    per_sig = admit_against(sig, seen, BAND_KEY).select(
        "doc_id", F.col("admitted").cast("int").alias("_novel")
    )
    return per_sig.groupBy("doc_id").agg((F.min("_novel") == 1).alias("admitted"))


def build_minhash_claims(docs: DataFrame, claims_dir: str) -> None:
    """The FUZZY claim table (band, bs, first_id, slice): every band
    signature with its first carrier. Contract: build_claims."""
    build_claims(_band_sig_rows(docs), BAND_KEY, claims_dir)


def dedup_minhash_against_claims(
    docs: DataFrame, spark: SparkSession, claims_dir: str
) -> DataFrame:
    """Near-dup dedup of a NEW SLICE against the fuzzy claim table:
    (doc_id, admitted) by admit_by_first_carrier over the slice's band
    signatures. The caller then advances the table with
    advance_minhash_claims; nothing ever rescans prior slices' text —
    the claim table carries everything transitivity needs."""
    return admit_by_first_carrier(_band_sig_rows(docs), read_claims(spark, claims_dir))


def advance_minhash_claims(
    docs: DataFrame, spark: SparkSession, claims_dir: str, slice_id: int
) -> None:
    """ADVANCE the fuzzy claim table with one slice's signatures: every
    (band, bs) the slice carries that no OTHER slice claims lands as
    partition ``slice=<slice_id>`` with its within-slice first carrier
    (build_claims' idempotent slice write). ALL slice signatures
    advance, not only admitted docs' — rejected docs' signatures must
    become 'seen' or transitive rejection breaks on the next slice."""
    existing = read_claims(spark, claims_dir, own_slice=slice_id)
    fresh = first_carriers(_band_sig_rows(docs), BAND_KEY).join(
        existing.select(*BAND_KEY).distinct(), list(BAND_KEY), "left_anti"
    )
    write_claim_slice(fresh, claims_dir, slice_id)


def compact_minhash_claims(spark: SparkSession, claims_dir: str) -> None:
    """compact_claim_table over the (band, bs) key."""
    compact_claim_table(spark, claims_dir, key=BAND_KEY)


def _minhash_incremental_oracle() -> str:
    """Twin of the fuzzy claim-table admission in closed form, built on
    the SAME generated minhash CTEs as dedup_minhash (signatures depend
    only on text, so the re-delivered copy at doc_id + _SLICE_OFFSET
    reuses the original's sig rows instead of recomputing them): claims
    = the first half's band signatures; a slice doc is admitted iff
    every one of its signatures is unclaimed AND first-carried by it
    within the slice (the first-carrier window over sig rows)."""
    ctes, _ = _minhash_ctes()
    return (
        f"WITH {ctes}, "
        "m AS (SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS mid FROM documents), "
        "claims AS (SELECT DISTINCT band, bs FROM sig, m WHERE doc_id <= mid), "
        "ssig AS (SELECT doc_id, band, bs FROM sig "
        f"  UNION ALL SELECT doc_id + {_SLICE_OFFSET} AS doc_id, band, bs FROM sig), "
        "v AS (SELECT s.doc_id, CASE WHEN c.band IS NULL "
        "    AND s.doc_id = MIN(s.doc_id) OVER (PARTITION BY s.band, s.bs) "
        "    THEN 1 ELSE 0 END AS novel "
        "  FROM ssig s LEFT JOIN claims c ON s.band = c.band AND s.bs = c.bs) "
        "SELECT doc_id, MIN(novel) = 1 AS admitted FROM v GROUP BY doc_id"
    )


@query("dedup_minhash_incremental", oracle=_minhash_incremental_oracle())
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL NEAR-DUP dedup against the PERSISTED fuzzy claim
    table — dedup_incremental's analog for MinHash similarity (the
    nightly fuzzy dedup job): build_minhash_claims materializes the
    first half's (band, bs, first_id) signatures, then
    dedup_minhash_against_claims admits a new slice — the full corpus
    UNIONed with a re-delivered copy at doc_id + _SLICE_OFFSET — so all
    three admission paths carry weight at gate scale: claimed
    signatures REJECT (first half + anything near it), later
    within-slice carriers REJECT (every re-delivered copy, plus
    transitive chains: a rejected doc's signatures still count as
    seen), and fully-novel slice docs ADMIT. Incremental-over-ordered-
    slices == one-shot (bit-for-bit) and crash-repairing advances are
    pinned in tests/test_round12_ops.py (advance_minhash_claims).

    Scale: dedup_minhash's signature cost (map-side shingle hashing +
    one per-doc partial agg) + one (band, bs) window within the slice +
    one anti-join-shaped left join against claims — signature-sized
    keys only; no prior slice's text is ever rescanned, which is the
    point of the persisted fuzzy state at 100 TB."""
    docs = load(spark, sf_dir, "documents")
    _, mid = quarter_cuts(docs)
    with tempfile.TemporaryDirectory(
        prefix="flod_mh_claims_", ignore_cleanup_errors=True
    ) as root:
        claims_dir = os.path.join(root, "claims")
        build_minhash_claims(docs.filter(F.col("doc_id") <= mid), claims_dir)
        return serve_and_cleanup(
            dedup_minhash_against_claims(_redelivered(docs), spark, claims_dir)
        )


def _compacted_lifecycle(
    spark: SparkSession, sf_dir: str, prefix: str, bucketed: bool
) -> DataFrame:
    """The FULL exact claim-table lifecycle: build the corpus's first
    QUARTER, admit-and-advance the second quarter as slice 1, COMPACT
    (optionally refreshing an fp-bucketed catalog table), then dedup
    dedup_incremental's slice against the compacted table — through
    the bucketed table when there is one. N advances == the one-shot
    build and compaction is value-neutral, so the verdicts equal
    dedup_incremental's bit for bit."""
    docs = load(spark, sf_dir, "documents")
    q1, mid = quarter_cuts(docs)
    with tempfile.TemporaryDirectory(prefix=prefix, ignore_cleanup_errors=True) as root:
        claims_dir = os.path.join(root, "claims")
        tbl = prefix + uuid.uuid4().hex[:10] if bucketed else None
        build_claim_table(docs.filter(F.col("doc_id") <= q1), claims_dir)
        verdicts = dedup_against_claims(
            docs.filter((F.col("doc_id") > q1) & (F.col("doc_id") <= mid)).select(
                "doc_id", "text"
            ),
            spark,
            claims_dir,
        )
        advance_claim_table(verdicts, claims_dir, slice_id=1)
        compact_claim_table(spark, claims_dir, bucketed_table=tbl)
        out = serve_and_cleanup(
            dedup_against_claims(
                _redelivered(docs), spark, claims_dir, bucketed_table=tbl
            )
        )
        if tbl is not None:
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        return out


@query("dedup_claims_compacted", oracle=_INCR_CLAIMS_ORACLE)
def dedup_claims_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL claim-table lifecycle as one oracle-gated query
    (_compacted_lifecycle: build, advance, compact, admit). Because the
    admission verdicts are bit-identical to dedup_incremental's, this
    reuses dedup_incremental's ORACLE VERBATIM: any drift in build,
    advance, the swap, or the fold shows up as a hash mismatch.

    Scale: the compaction is one exchange on fp over |distinct
    contents| rows plus a rename (manifest commit on object stores);
    everything else is dedup_incremental's plan — fingerprints only,
    nothing rescans prior slices' text. The gate's temp claim tree is
    swept after the verdicts materialize."""
    return _compacted_lifecycle(spark, sf_dir, "flod_claims_cpt_", bucketed=False)


@query("dedup_claims_bucketed", oracle=_INCR_CLAIMS_ORACLE)
def dedup_claims_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The claim lifecycle served through the FP-BUCKETED layout — the
    100 TB admission join as CODE, oracle-gated: dedup_claims_compacted's
    exact sequence, except the compaction ALSO refreshes the fp-bucketed
    catalog table, and the admission joins against THAT (bucket-sorted
    scans feed the SortMergeJoin with no claims-side exchange and no
    distinct). Oracle = dedup_incremental's VERBATIM: the serving layout
    must change NOTHING about who is admitted.

    Scale: this is the plan the nightly job runs at 100 TB — the
    claims side (billions of 16-byte fps) never shuffles again after
    its compaction write; each slice pays one hash exchange onto the
    same bucket function and merges. The gate's temp claim tree,
    bucketed files, and catalog entry are all swept after the
    verdicts materialize."""
    return _compacted_lifecycle(spark, sf_dir, "flod_claims_bkt_", bucketed=True)
