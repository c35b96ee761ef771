"""Similarity search over embeddings (driver mandate): brute-force cosine
top-k baseline + LSH-bucketed variant + threshold near-dup pairs.

Bit-exact oracle trick: both engines compute dot products as a SEQUENTIAL
fold over the array on DOUBLE (Spark aggregate()/zip_with(), DuckDB
list_reduce()/list_transform()) — identical IEEE op order => identical
bits => the rounded outputs hash-match exactly.

Scale (100 TB embeddings):
- brute-force: queries broadcast (tiny), corpus scanned once, per-partition
  top-k heap then global top-k merge — linear scan, no shuffle of the corpus.
- LSH (sim_lsh): deterministic ±1 hyperplanes from md5 bits; bucket join
  shuffles only (bucket, id, vec) and candidates share buckets — the IVF
  analog. Recall < 1 by design; bucket skew -> more planes.
- threshold pairs (embed_dedup): blocked by LSH bucket to avoid O(n²).
"""

from __future__ import annotations

import functools
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flod_spark.io import load
from flod_spark.registry import query

K = 5
NQ = 10
DIM = 64
PLANES = 6
# Near-dup cosine threshold. The synthetic embeddings' max same-label
# cosine at sf0.01 is ~0.47, so a production-style 0.95 matches nothing
# and the gate cell is vacuous (0 == 0). 0.30 yields O(100) pairs at
# sf0.01 while keeping the same plan shape.
DEDUP_COS = 0.30

# DuckDB-side sequential dot product over DOUBLE lists
_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}), x -> x[1] * x[2]), (s, v) -> s + v)"
)
_NORMQ = "sqrt(" + _DOT.format(a="{a}", b="{a}") + ")"


def _dot_spark(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _emb_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The similarity family's canonical corpus frame: non-null
    embeddings as (vec_id, v: array<double>) — NULL ordering differs
    cross-engine, so the oracles apply the same filter."""
    return (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", _as_double("embedding").alias("v"))
    )


def _queries(emb: DataFrame, *extra, v: str = "qv") -> DataFrame:
    """The first-NQ query set (query_id, v AS ``v``, *extra) — the same
    vec_id < NQ predicate every oracle's q CTE and the in-plan LUTs
    use (an orderBy/limit head would diverge from them if any of the
    first NQ ids were filtered out of the corpus)."""
    return emb.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias(v), *extra
    )


_QVEC_SQL = (
    "q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings "
    "      ORDER BY vec_id LIMIT {nq})"
)


@query(
    "sim_topk",
    oracle=(
        "WITH " + _QVEC_SQL.format(nq=NQ) + ", "
        "c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings), "
        "s AS (SELECT query_id, neighbor_id, "
        f"    {_DOT.format(a='qv', b='cv')} / "
        f"    (sqrt({_DOT.format(a='qv', b='qv')}) * sqrt({_DOT.format(a='cv', b='cv')})) AS cos "
        "  FROM q, c WHERE query_id <> neighbor_id), "
        "r AS (SELECT query_id, neighbor_id, cos, "
        "    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk FROM s) "
        f"SELECT query_id, neighbor_id, cos AS cosine, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= {K}"
    ),
)
def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: first 10 vec_ids as queries vs the corpus.
    Queries broadcast; corpus scanned once; TakeOrdered per query via
    window on the (tiny) query partition count.

    Scale: documented small-NQ brute force; sim_lsh / sim_ivf are the
    bucketed scale paths."""
    emb = load(spark, sf_dir, "embeddings")
    q = (
        emb.orderBy("vec_id")
        .limit(NQ)
        .select(F.col("vec_id").alias("query_id"), _as_double("embedding").alias("qv"))
    )
    c = emb.select(F.col("vec_id").alias("neighbor_id"), _as_double("embedding").alias("cv"))
    crossed = c.crossJoin(F.broadcast(q)).filter(F.col("query_id") != F.col("neighbor_id"))
    cos = _dot_spark(F.col("qv"), F.col("cv")) / (
        F.sqrt(_dot_spark(F.col("qv"), F.col("qv"))) * F.sqrt(_dot_spark(F.col("cv"), F.col("cv")))
    )
    scored = crossed.select("query_id", "neighbor_id", cos.alias("cos"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= K)
        .select("query_id", "neighbor_id", F.col("cos").alias("cosine"), "rk")
    )


# ±1 hyperplane component for plane p, dim d: bit of md5("p_d")
_PLANE_SQL = (
    "CASE WHEN strpos('89abcdef', substr(md5({p} || '_' || {d}), 1, 1)) > 0 THEN 1.0 ELSE -1.0 END"
)


def _plane_spark(p: int, salt: str = "", dim: int = DIM):
    """±1 plane p as a LITERAL array<double> (salt distinguishes
    independent LSH tables for OR-amplification — '' is table 0, the
    oracle's table; ``dim`` covers the norm-augmented 65-dim space in
    sim_mips_ann). The components are md5('{salt}{p}_{d}') bits — a
    row-independent constant, so they are computed ONCE driver-side
    with hashlib (identical bytes, identical md5, identical ±1.0
    doubles as the oracle's SQL expression) and ship as a folded array
    literal instead of a per-row transform(sequence, md5(...)) tree.
    The genuinely hot path (sim_mips_ann's 8-table signatures) skips
    expression folds entirely — see _mips_bucket_kernel."""
    return F.array(*[F.lit(c) for c in _plane_comps(p, salt, dim)])


def _plane_comps(p: int, salt: str = "", dim: int = DIM) -> list[float]:
    """The ±1.0 components of plane p as plain Python floats (driver-
    side hashlib md5 over the same ASCII bytes the oracle hashes)."""
    import hashlib

    return [
        1.0
        if hashlib.md5(f"{salt}{p}_{d}".encode()).hexdigest()[0] in "89abcdef"
        else -1.0
        for d in range(1, dim + 1)
    ]


def _bucket_spark(v, salt: str = ""):
    """SRP bucket string for a double-array column (Spark twin of
    _bucket_sql). One bucketing catches ~prod_p(1 - theta_p/pi) of true
    neighbors; production recall comes from OR-amplification — L salted
    tables, candidates = union of same-bucket sets (tests/test_similarity
    measures both)."""
    bits = []
    for p in range(PLANES):
        dot = F.aggregate(F.zip_with(_plane_spark(p, salt), v, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
        bits.append(F.when(dot >= 0, "1").otherwise("0"))
    return F.concat(*bits)


def _bucket_sql(vec: str) -> str:
    """SRP bucket string: sign of dot(vec, plane_p) for p in 0..PLANES-1."""
    bits = []
    for p in range(PLANES):
        comps = (
            f"list_transform(range(1, {DIM + 1}), d -> "
            f"{_PLANE_SQL.format(p=p, d='d')} * {vec}[d])"
        )
        dot = f"list_reduce({comps}, (s, v) -> s + v)"
        bits.append(f"(CASE WHEN {dot} >= 0 THEN '1' ELSE '0' END)")
    return " || ".join(bits)


@query(
    "sim_lsh",
    oracle=(
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        f"b AS (SELECT vec_id, {_bucket_sql('v')} AS bucket FROM e) "
        "SELECT bucket, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec, MAX(vec_id) AS max_vec "
        "FROM b GROUP BY bucket"
    ),
)
def sim_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH bucketing: 6 deterministic ±1 hyperplanes
    (component p,d = md5-bit of 'p_d'), bucket = sign string of the 6
    projections. This is the scale path for ANN: candidates = same bucket
    (~n/64 of the corpus per query). Output: bucket histogram (the
    candidate-generation statistics); end-to-end ANN asserted against
    brute force in tests/test_similarity.py.

    Scale: bucketing is map-only (broadcast planes); candidates are
    ~n/64 of the corpus per query."""
    emb = load(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", _as_double("embedding").alias("v"))
    b = e.select("vec_id", _bucket_spark(F.col("v")).alias("bucket"))
    return b.groupBy("bucket").agg(
        F.count("*").alias("n_vecs"),
        F.min("vec_id").alias("min_vec"),
        F.max("vec_id").alias("max_vec"),
    )


@query(
    "embed_dedup",
    oracle=(
        "WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings), "
        "p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, "
        f"    {_DOT.format(a='a.v', b='b.v')} / "
        f"    (sqrt({_DOT.format(a='a.v', b='a.v')}) * sqrt({_DOT.format(a='b.v', b='b.v')})) AS cos "
        "  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id) "
        f"SELECT vec_a, vec_b, cos AS cosine FROM p WHERE cos >= {DEDUP_COS}"
    ),
)
def embed_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine >= DEDUP_COS), blocked by label (the
    cluster id a production pipeline gets from LSH/IVF) — avoids O(n²);
    within-block pairs only. One shuffle on the block key.

    Scale: label-blocked pairs only — one shuffle on the block key,
    never O(n^2)."""
    emb = load(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "label", _as_double("embedding").alias("v"))
    a = e.alias("a")
    b = e.alias("b")
    cos = _dot_spark(F.col("a.v"), F.col("b.v")) / (
        F.sqrt(_dot_spark(F.col("a.v"), F.col("a.v"))) * F.sqrt(_dot_spark(F.col("b.v"), F.col("b.v")))
    )
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"), cos.alias("cos"))
        .filter(F.col("cos") >= DEDUP_COS)
        .select("vec_a", "vec_b", F.col("cos").alias("cosine"))
    )


# --- IVF-style ANN (the centroid-probe scale path) -----------------------
N_CELLS = 16
N_PROBE = 4

# deterministic centroid choice: the N_CELLS corpus vectors with the
# smallest md5 prefix of their id (hash order — stable, engine-identical)
_CENT_SQL = (
    "cent AS (SELECT vec_id AS cent_id, v AS cv FROM e "
    f"  ORDER BY substr(md5('c|' || CAST(vec_id AS VARCHAR)), 1, 8), vec_id LIMIT {N_CELLS})"
)


def _cos_sql(a: str, b: str) -> str:
    return (
        f"{_DOT.format(a=a, b=b)} / "
        f"(sqrt({_DOT.format(a=a, b=a)}) * sqrt({_DOT.format(a=b, b=b)}))"
    )


def _cos_spark(a, b):
    return _dot_spark(a, b) / (F.sqrt(_dot_spark(a, a)) * F.sqrt(_dot_spark(b, b)))


def _cent_df(e: DataFrame) -> DataFrame:
    """Deterministic hash-chosen centroids (the Spark twin of _CENT_SQL)."""
    return (
        e.orderBy(
            F.substring(
                F.md5(F.concat(F.lit("c|"), F.col("vec_id").cast("string")).cast("binary")), 1, 8
            ),
            "vec_id",
        )
        .limit(N_CELLS)
        .select(F.col("vec_id").alias("cent_id"), F.col("v").alias("cv"))
    )


def _assign_cells(
    e: DataFrame, cent: DataFrame, extra: tuple[str, ...] = ()
) -> DataFrame:
    """(vec_id, v) -> nearest cell, MAP-SIDE (r16, guide §2.3/§2.4).

    The former form crossJoined the broadcast centroid table and
    collapsed the N_CELLS scored copies with groupBy(vec_id, v) —
    partial aggregation kept the exchange to one row per vector, but
    that row CARRIES THE VECTOR: every call shuffled the full payload
    column once (at 100 TB, a corpus-sized exchange per Lloyd round).
    Now the centroid table folds into ONE broadcast row holding the
    (cent_id, cv) array and the argmax runs as an array expression on
    the scan side: array_max over (cos, -cent_id) structs — highest
    cos, ties to the smallest cent_id, the EXACT max_by(struct)
    ordering (struct comparison is field-lexicographic in both forms,
    including the NaN-greatest rule), over the EXACT same _cos_spark
    arithmetic per centroid. Zero exchange; vectors never leave their
    scan task.

    ``extra`` names input columns to pass through (kmeans_fit's
    previous-cell carry — free here, impossible for the groupBy form).

    The argmax expression is built as ONE F.expr SQL parse (r17, §1.2
    driver cost): the python-lambda form issued ~780 py4j round trips
    per call (~70 ms), which dominated kmeans_fit's per-round driver
    loop; the parsed tree is the IDENTICAL expression (verified
    bitwise on every (cell, cos) at sf0.1), parsed JVM-side in
    ~0.4 ms.

    Loop-invariant norms are HOISTED out of the per-(row, centroid)
    argmax (r17, guide §1.2 per-task work): sqrt(dot(cv, cv)) is
    computed once per CENTROID into the broadcast struct, and
    sqrt(dot(v, v)) once per ROW — bound as a lambda variable through a
    1-element transform so projection collapse cannot re-inline it per
    centroid. The interpreted higher-order fold (zip_with + aggregate,
    no codegen) ran THREE times per (row, centroid); now once, plus one
    per row and one per centroid. Every cos is the same three values
    combined in the same order (dot / (row_norm * cent_norm)), so
    assignments are bit-identical (parity-verified on all callers)."""
    dot = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, t) -> acc + t)"
    centarr = cent.select(
        "cent_id",
        "cv",
        F.expr("sqrt(" + dot.format(a="cv", b="cv") + ")").alias("nrm"),
    ).agg(
        # sort key is the struct's leading cent_id (unique), so the added
        # nrm field cannot change the order
        F.array_sort(F.collect_list(F.struct("cent_id", "cv", "nrm"))).alias("_cents")
    )
    cos = dot.format(a="v", b="c.cv") + " / (nv * c.nrm)"
    best = F.expr(
        "array_max(flatten(transform("
        "array(sqrt(" + dot.format(a="v", b="v") + ")), "
        f"nv -> transform(_cents, c -> struct({cos} AS cos, -c.cent_id AS neg)))))"
    )
    return (
        e.crossJoin(F.broadcast(centarr))
        .withColumn("cell", -best["neg"])
        .select("vec_id", "v", *extra, "cell")
    )


def _probe(q: DataFrame, cent: DataFrame, *carry: str) -> DataFrame:
    """(query_id, *carry, cell): each query's N_PROBE nearest IVF
    centroids — cosine of (query_id, qv) against the broadcast (cent_id,
    cv) table, ties to the smaller cent_id; the one probe rule of the
    in-plan and loaded-artifact IVF paths (the Spark twin of the
    oracles' qp CTE)."""
    wq = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cent_id"))
    return (
        q.crossJoin(F.broadcast(cent))
        .select("query_id", *carry, "cent_id", _cos_spark(F.col("qv"), F.col("cv")).alias("cos"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= N_PROBE)
        .select("query_id", *carry, F.col("cent_id").alias("cell"))
    )


@query(
    "sim_ivf",
    oracle=(
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        + _CENT_SQL
        + ", "
        "sc AS (SELECT e.vec_id, e.v, cent_id, "
        f"    {_cos_sql('e.v', 'cv')} AS cos FROM e, cent), "
        "a AS (SELECT vec_id, v, cent_id AS cell FROM (SELECT *, "
        "    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn FROM sc) "
        "  WHERE rn = 1), "
        f"q AS (SELECT vec_id AS query_id, v AS qv FROM e ORDER BY vec_id LIMIT {NQ}), "
        "qs AS (SELECT query_id, qv, cent_id, "
        f"    {_cos_sql('qv', 'cv')} AS cos FROM q, cent), "
        "qp AS (SELECT query_id, qv, cent_id AS cell FROM (SELECT *, "
        "    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cent_id) AS rn FROM qs) "
        f"  WHERE rn <= {N_PROBE}), "
        "cand AS (SELECT query_id, qv, a.vec_id AS neighbor_id, a.v FROM qp "
        "  JOIN a USING (cell) WHERE a.vec_id <> query_id), "
        f"s AS (SELECT query_id, neighbor_id, {_cos_sql('qv', 'v')} AS cos FROM cand), "
        "r AS (SELECT query_id, neighbor_id, cos, "
        "    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk FROM s) "
        f"SELECT query_id, neighbor_id, cos AS cosine, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= {K}"
    ),
)
def sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: partition the corpus into N_CELLS Voronoi cells
    around deterministically-chosen centroids (hash-order sample — the
    stand-in for k-means, which would converge iteratively; the probe
    machinery is identical), then answer each query by scanning only its
    N_PROBE nearest cells. This is the other half of the ANN scale story
    next to sim_lsh: LSH buckets by random projection, IVF by nearest
    centroid — both turn O(n) per query into O(n * probe_fraction).

    The oracle runs the SAME IVF (same centroids, same probes), so the
    comparison is exact — recall vs brute force is asserted separately in
    tests/test_similarity.py against sim_topk.

    Scale (100 TB): centroids broadcast (N_CELLS rows); cell assignment
    is a map-side cross with partial-agg max_by — the shuffle carries ONE
    row per corpus vector (its cell id), not the N_CELLS scored copies;
    per-query work touches N_PROBE/N_CELLS of the corpus; final top-k is
    a WindowGroupLimit rank. At real scale N_CELLS grows to sqrt(n) and
    the assignment output is written bucketed-by-cell so queries prune
    cells at the scan (partition pruning), not per-row.

    Scale: broadcast centroids; each query scans only its probed cells
    (probe fraction bounds the work)."""
    emb = load(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", _as_double("embedding").alias("v"))
    cent = _cent_df(e)
    a = _assign_cells(e, cent)
    q = (
        e.orderBy("vec_id")
        .limit(NQ)
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    )
    qp = _probe(q, cent, "qv")
    cand = a.join(F.broadcast(qp), "cell").filter(F.col("vec_id") != F.col("query_id"))
    cos_qv = _cos_spark(F.col("qv"), F.col("v"))
    wk = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        cand.select("query_id", F.col("vec_id").alias("neighbor_id"), cos_qv.alias("cos"))
        .withColumn("rk", F.row_number().over(wk).cast("long"))
        .filter(F.col("rk") <= K)
        .select("query_id", "neighbor_id", F.col("cos").alias("cosine"), "rk")
    )


_FXP = 1099511627776.0  # 2^40: fixed-point scale for exact cross-row sums


@query(
    "embed_centroids",
    oracle=(
        "WITH x AS (SELECT label, generate_subscripts(embedding, 1) AS pos, "
        "    unnest(embedding::DOUBLE[]) AS v FROM embeddings) "
        "SELECT label, pos, "
        "  CAST(COUNT(*) AS BIGINT) AS n_vecs, "
        f"  CAST(SUM(CAST(floor(v * {_FXP}) AS BIGINT)) AS DOUBLE) / {_FXP} / COUNT(*) AS centroid, "
        f"  CAST(SUM(CAST(floor(v * v * {_FXP}) AS BIGINT)) AS DOUBLE) / {_FXP} / COUNT(*) "
        f"    - (CAST(SUM(CAST(floor(v * {_FXP}) AS BIGINT)) AS DOUBLE) / {_FXP} / COUNT(*)) "
        f"      * (CAST(SUM(CAST(floor(v * {_FXP}) AS BIGINT)) AS DOUBLE) / {_FXP} / COUNT(*)) AS dispersion "
        "FROM x GROUP BY label, pos"
    ),
)
def embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid + per-dimension dispersion — the k-means UPDATE
    step (and the SemDeDup-style class-prototype computation), in long
    (label, pos) form.

    Exactness: a double->DECIMAL cast rounds, and Spark (HALF_UP) vs
    DuckDB (HALF_EVEN) disagree on exact ties — which float32 expansions
    DO hit (a finite binary fraction's decimal expansion ends in ...5).
    Instead each element is fixed-pointed as floor(v * 2^40): the scale
    by a power of two and the products are exact in double (24-bit
    float32 mantissas), floor has no rounding mode, and the integer sums
    are associative — bit-identical across partial-agg orders and
    engines, at 2^-40 quantization (far below float32 resolution for
    unit-scale embeddings). Keep group sizes below ~2^22 rows per
    (label, pos) for BIGINT headroom — or widen the sum to DECIMAL.

    Scale (100 TB): posexplode is a narrow dims-fold amplification that
    pipelines with the scan; the single shuffle keys on (label, pos) with
    map-side partial sums, so exchange rows are bounded by
    tasks x labels x dims regardless of corpus size; output is
    labels x dims rows. The iterative k-means loop is this query run per
    round with labels := nearest-centroid assignment (sim_ivf's
    max_by construction) — each round stays one bounded shuffle.

    Scale: one (label, pos) partial-agg shuffle; fixed-point sums are
    order-independent."""
    emb = load(spark, sf_dir, "embeddings")
    x = emb.select(
        "label", F.posexplode(_as_double("embedding")).alias("pos0", "v")
    ).select("label", (F.col("pos0") + 1).alias("pos"), "v")
    s = F.sum(F.floor(F.col("v") * _FXP)).cast("double") / _FXP
    ss = F.sum(F.floor(F.col("v") * F.col("v") * _FXP)).cast("double") / _FXP
    n = F.count("*")
    mean = s / n
    return x.groupBy("label", "pos").agg(
        n.alias("n_vecs"),
        mean.alias("centroid"),
        (ss / n - mean * mean).alias("dispersion"),
    )


SEMDEDUP_COS = 0.30


@query(
    "semdedup",
    oracle=(
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        + _CENT_SQL
        + ", "
        "sc AS (SELECT e.vec_id, e.v, cent_id, "
        f"    {_cos_sql('e.v', 'cv')} AS cos FROM e, cent), "
        "a AS (SELECT vec_id, v, cent_id AS cell FROM (SELECT *, "
        "    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn FROM sc) "
        "  WHERE rn = 1), "
        f"pr AS (SELECT b.vec_id AS vid, {_cos_sql('b.v', 'c.v')} AS cos "
        "  FROM a b JOIN a c ON b.cell = c.cell AND c.vec_id < b.vec_id), "
        f"d AS (SELECT vid, MAX(CASE WHEN cos >= {SEMDEDUP_COS} THEN 1 ELSE 0 END) AS dup "
        "  FROM pr GROUP BY vid) "
        "SELECT a.vec_id, a.cell AS cell_id, COALESCE(d.dup, 0) = 1 AS is_dup "
        "FROM a LEFT JOIN d ON d.vid = a.vec_id"
    ),
)
def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup over embeddings with
    COMPUTED clusters — k-means cells stand in for the paper's clustering
    (same deterministic centroid choice as sim_ivf), then a vector is a
    duplicate if any LOWER-id cell-mate is within cosine >= SEMDEDUP_COS
    (the deterministic form of keep-one-per-epsilon-ball). Completes the
    embedding-dedup story next to embed_dedup (given labels) and
    dedup_cluster (text LSH).

    Scale: centroids broadcast; assignment is map-side + one partial-agg
    shuffle (one row per vector crosses); the pair join shuffles on cell
    and pairs stay within cells (n²/cells, the SemDeDup cost model —
    at real scale cells grow as sqrt(n); split_hot_cells below caps any
    hot cell before the pair join — tested at sf0.1).
    The dup verdict is a partial-agg MAX per vector, id-ordered so the
    result is engine-identical with no sequential greedy pass."""
    emb = load(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", _as_double("embedding").alias("v"))
    a = _assign_cells(e, _cent_df(e))
    b = a.alias("b")
    c = a.alias("c")
    pr = b.join(
        c, (F.col("b.cell") == F.col("c.cell")) & (F.col("c.vec_id") < F.col("b.vec_id"))
    ).select(
        F.col("b.vec_id").alias("vid"),
        _cos_spark(F.col("b.v"), F.col("c.v")).alias("cos"),
    )
    d = pr.groupBy("vid").agg(
        F.max(F.when(F.col("cos") >= SEMDEDUP_COS, 1).otherwise(0)).alias("dup")
    )
    return a.join(d, a["vec_id"] == d["vid"], "left").select(
        a["vec_id"],
        a["cell"].alias("cell_id"),
        (F.coalesce(d["dup"], F.lit(0)) == 1).alias("is_dup"),
    )


@query(
    "kmeans_iter",
    oracle=(
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        + _CENT_SQL
        + ", "
        "sc1 AS (SELECT e.vec_id, e.v, cent_id, "
        f"    {_cos_sql('e.v', 'cv')} AS cos FROM e, cent), "
        "a1 AS (SELECT vec_id, v, cent_id AS cell FROM (SELECT *, "
        "    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn FROM sc1) "
        "  WHERE rn = 1), "
        "x AS (SELECT cell, generate_subscripts(v, 1) AS pos, unnest(v) AS val FROM a1), "
        f"m AS (SELECT cell, pos, CAST(SUM(CAST(floor(val * {_FXP}) AS BIGINT)) AS DOUBLE) "
        f"    / {_FXP} / COUNT(*) AS c FROM x GROUP BY cell, pos), "
        "cent2 AS (SELECT cell AS cent_id, list(c ORDER BY pos) AS cv FROM m GROUP BY cell), "
        "sc2 AS (SELECT a1.vec_id, a1.cell AS cell1, cent_id, "
        f"    {_cos_sql('a1.v', 'cv')} AS cos FROM a1, cent2), "
        "a2 AS (SELECT vec_id, cell1, cent_id AS cell2 FROM (SELECT *, "
        "    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn FROM sc2) "
        "  WHERE rn = 1) "
        "SELECT vec_id, cell1 AS cell_round1, cell2 AS cell_round2, "
        "  cell1 <> cell2 AS moved FROM a2"
    ),
)
def kmeans_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full Lloyd iteration of k-means, end to end and EXACT in both
    engines: hash-chosen init centroids -> cosine assignment (round 1) ->
    centroid UPDATE via 2^40 fixed-point means (order-independent, see
    embed_centroids) -> re-assignment against the updated centroids
    (round 2). Output is each vector's cell before/after with a `moved`
    flag — the convergence signal a driver loop would test.

    This is the iterative-algorithm template: each round is (broadcast
    centroids -> map-side score + partial-agg argmax -> one (cell, pos)
    partial-agg shuffle for the update). At real scale the driver loop
    persists the assignment between rounds (here Catalyst recomputes the
    2-round DAG — fine at gate scale, noted for 100 TB) and stops when
    moved/n drops below tolerance. Exactness across engines comes from
    the fixed-point update: identical centroid doubles => identical
    round-2 cosines => identical assignments, bit for bit.

    Scale: each round is one broadcast + one partial-agg shuffle;
    lineage is checkpointed between rounds."""
    emb = load(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", _as_double("embedding").alias("v"))
    # persist round 1 once: both the centroid update AND the final
    # round-1/round-2 comparison read it, and without the checkpoint
    # Catalyst recomputes the whole assignment DAG per consumer — the
    # exact between-rounds persistence a production driver loop needs
    a1 = _assign_cells(e, _cent_df(e)).localCheckpoint()
    cent2 = update_centroids(a1)
    a2 = _assign_cells(a1.select("vec_id", "v"), cent2)
    r1 = a1.select("vec_id", F.col("cell").alias("cell_round1"))
    r2 = a2.select("vec_id", F.col("cell").alias("cell_round2"))
    return (
        r1.join(r2, "vec_id")
        .select(
            "vec_id",
            "cell_round1",
            "cell_round2",
            (F.col("cell_round1") != F.col("cell_round2")).alias("moved"),
        )
    )


def split_hot_cells(a: DataFrame, max_cell: int, max_rounds: int = 6) -> DataFrame:
    """Recursive hot-cell split — the scale guard for every within-cell
    pair generator (semdedup's n²/cell, sim_ivf's probe lists): refine
    any cell with more than ``max_cell`` members until the bound holds.

    Input/output: (vec_id, v, cell); cells at/below the bound keep their
    id untouched, so cold-cell results are unchanged by construction.

    Per round, ONE salted SRP hyperplane bit (cosine-locality-preserving
    — near-duplicates land on the same side, so the pairs a split hides
    are the far ones) refines only the hot cells; a final row_number
    chop guarantees the bound even for degenerate cells a hyperplane
    cannot separate (e.g. thousands of identical vectors). That chop is
    a window over hot cells only — the one single-task pass, reserved
    for cells the geometry itself cannot split.

    Scale: each round is one partial-agg size count (|cells| rows), a
    broadcast semi-join of the hot-cell ids, and a map-side plane dot;
    localCheckpoint truncates lineage so plan depth stays O(1) per
    round, the operators/graph.py discipline. Rounds needed ~
    log2(n_max/max_cell) — 6 covers a 64× hottest-cell overload."""
    # materialize the INPUT once: round 1's count probe and round 1's
    # checkpoint would otherwise each re-derive the caller's whole
    # assignment lineage (measured: the dominant split cost)
    a = a.withColumn("cell", F.col("cell").cast("string")).localCheckpoint()
    for r in range(max_rounds):
        # persist the tiny per-cell count table: without it the same
        # aggregation runs twice per round (the isEmpty probe AND the
        # broadcast-join re-derivation) — measured ~2x round cost
        cnt = a.groupBy("cell").agg(F.count("*").alias("_n")).persist()
        hot = F.broadcast(cnt.filter(F.col("_n") > max_cell).select("cell"))
        if hot.isEmpty():
            cnt.unpersist()
            return a
        dot = F.aggregate(
            F.zip_with(_plane_spark(0, salt=f"split{r}_"), F.col("v"), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bit = F.when(dot >= 0, "1").otherwise("0")
        a = (
            a.join(hot.withColumn("_hot", F.lit(1)), "cell", "left")
            .withColumn(
                "cell",
                F.when(
                    F.col("_hot").isNotNull(), F.concat(F.col("cell"), F.lit("|"), bit)
                ).otherwise(F.col("cell")),
            )
            .drop("_hot")
            .localCheckpoint()
        )
        cnt.unpersist()
    fcnt = a.groupBy("cell").agg(F.count("*").alias("_n")).persist()
    sizes = F.broadcast(fcnt.filter(F.col("_n") > max_cell).select("cell"))
    if sizes.isEmpty():
        fcnt.unpersist()
        return a
    # window ONLY the degenerate rows (cold rows bypass via map-side
    # broadcast anti-join — no shuffle, no window cost for them)
    cold = a.join(sizes, "cell", "left_anti")
    w = Window.partitionBy("cell").orderBy("vec_id")
    chopped = (
        a.join(sizes, "cell", "left_semi")
        .withColumn(
            "cell",
            F.concat(
                F.col("cell"),
                F.lit("#"),
                F.floor((F.row_number().over(w) - 1) / F.lit(max_cell)).cast("string"),
            ),
        )
    )
    out = cold.select("vec_id", "v", "cell").unionByName(
        chopped.select("vec_id", "v", "cell")
    ).localCheckpoint()
    fcnt.unpersist()
    return out


SEMDEDUP_BOUND = 24  # max cell size fed to the pair join (non-vacuous at gate SFs)
SEMDEDUP_SPLIT_ROUNDS = 4  # hyperplane rounds before the guaranteed chop


def _split_dot_sql(r: int) -> str:
    """DuckDB twin of split_hot_cells round r's salted SRP plane dot
    (_plane_spark(0, salt=f'split{r}_'): md5 inputs 'split{r}_0_<d>')."""
    plane = _PLANE_SQL.format(p=f"'split{r}_0'", d="d")
    comps = f"list_transform(range(1, {DIM + 1}), d -> {plane} * v[d])"
    return f"list_reduce({comps}, (s, x) -> s + x)"


def _semdedup_bounded_oracle() -> str:
    """Unrolled-SQL replica of _assign_cells -> split_hot_cells(B, R) ->
    within-cell pair dedup. Each round: per-cell sizes, then hot cells
    (n > B) append one plane-sign bit; after R rounds, still-hot cells
    get the guaranteed row_number chop ('#k' suffix). Cold cells keep
    their ids untouched at every step — identical to the Spark side."""
    b, rounds = SEMDEDUP_BOUND, SEMDEDUP_SPLIT_ROUNDS
    ctes = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        _CENT_SQL,
        (
            "sc AS (SELECT e.vec_id, e.v, cent_id, "
            f"{_cos_sql('e.v', 'cv')} AS cos FROM e, cent)"
        ),
        (
            "a0 AS (SELECT vec_id, v, CAST(cent_id AS VARCHAR) AS cell FROM (SELECT *, "
            "row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn FROM sc) "
            "WHERE rn = 1)"
        ),
    ]
    for r in range(rounds):
        ctes.append(f"s{r} AS (SELECT cell, COUNT(*) AS n FROM a{r} GROUP BY cell)")
        ctes.append(
            f"a{r + 1} AS (SELECT vec_id, v, CASE WHEN n > {b} THEN cell || '|' || "
            f"(CASE WHEN {_split_dot_sql(r)} >= 0 THEN '1' ELSE '0' END) "
            f"ELSE cell END AS cell FROM a{r} JOIN s{r} USING (cell))"
        )
    ctes.append(f"sf AS (SELECT cell, COUNT(*) AS n FROM a{rounds} GROUP BY cell)")
    ctes.append(
        f"af AS (SELECT vec_id, v, CASE WHEN n > {b} THEN cell || '#' || "
        f"CAST(CAST(floor((rn - 1.0) / {b}) AS BIGINT) AS VARCHAR) ELSE cell END AS cell "
        f"FROM (SELECT a{rounds}.*, n, "
        f"row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rn "
        f"FROM a{rounds} JOIN sf USING (cell)))"
    )
    ctes.append(
        f"pr AS (SELECT p.vec_id AS vid, {_cos_sql('p.v', 'q.v')} AS cos "
        "FROM af p JOIN af q ON p.cell = q.cell AND q.vec_id < p.vec_id)"
    )
    ctes.append(
        f"d AS (SELECT vid, MAX(CASE WHEN cos >= {SEMDEDUP_COS} THEN 1 ELSE 0 END) AS dup "
        "FROM pr GROUP BY vid)"
    )
    return (
        "WITH " + ", ".join(ctes) + " "
        "SELECT af.vec_id, af.cell AS cell_id, COALESCE(d.dup, 0) = 1 AS is_dup "
        "FROM af LEFT JOIN d ON d.vid = af.vec_id"
    )


@query("semdedup_bounded", oracle=_semdedup_bounded_oracle())
def semdedup_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the hot-cell bound IN the gated path — the scale
    form of `semdedup`: cells are refined by split_hot_cells (salted SRP
    bits + guaranteed chop) until no cell exceeds SEMDEDUP_BOUND, THEN
    the within-cell pair join runs — so pair cost is <= n*B/2 regardless
    of how the IVF cells grow (~sqrt(n)), closing semdedup's one
    documented 100 TB caveat. The oracle unrolls the refinement rounds
    as CTEs; every dot/sign/chop decision is bit-identical cross-engine
    (fold-based dots, md5 planes, id-ordered chop).

    Scale: every within-cell pair generator is capped at SEMDEDUP_BOUND,
    so pair cost is <= n*B/2 however cells grow."""
    emb = load(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", _as_double("embedding").alias("v"))
    a = _assign_cells(e, _cent_df(e))
    a = split_hot_cells(a, max_cell=SEMDEDUP_BOUND, max_rounds=SEMDEDUP_SPLIT_ROUNDS)
    p = a.alias("p")
    q = a.alias("q")
    pr = p.join(
        q, (F.col("p.cell") == F.col("q.cell")) & (F.col("q.vec_id") < F.col("p.vec_id"))
    ).select(
        F.col("p.vec_id").alias("vid"),
        _cos_spark(F.col("p.v"), F.col("q.v")).alias("cos"),
    )
    d = pr.groupBy("vid").agg(
        F.max(F.when(F.col("cos") >= SEMDEDUP_COS, 1).otherwise(0)).alias("dup")
    )
    return a.join(d, a["vec_id"] == d["vid"], "left").select(
        a["vec_id"],
        a["cell"].alias("cell_id"),
        (F.coalesce(d["dup"], F.lit(0)) == 1).alias("is_dup"),
    )


def update_centroids(a: DataFrame) -> DataFrame:
    """Lloyd centroid update from an assignment (vec_id, v, cell) ->
    (cent_id, cv). Per-dimension means through 2^40 fixed-point sums so
    the result is order-independent and bit-identical cross-engine (the
    embed_centroids rule).

    Column-wise single-exchange form (r17): groupBy(cell) with one
    array of DIM long sums — the r16 round TRIED this shape and
    reverted it because building DIM aggregate Columns through the
    Python API cost ~0.8 s of py4j/analysis per Lloyd round; built as
    ONE F.expr parse that cost is gone (~40 ms cheaper per round than
    the posexplode form, measured), and the (cell, pos) exchange +
    the collect_list re-assembly exchange collapse to ONE exchange
    carrying |cells| rows. Per-dimension arithmetic is the identical
    op sequence (sum of exact floor longs -> cast double -> / 2^40 ->
    / count), so cv is bit-identical (verified element-wise on the
    sf0.1 assignment). Fixed DIM is the catalog's embedding contract
    (the SQL indexes v[0..DIM-1]); ragged inputs would need the
    posexplode form back."""
    fxp = f"{_FXP!r}D"  # double literal (a bare 1099511627776.0 parses as DECIMAL)
    sums = F.expr(
        "array("
        + ", ".join(f"sum(floor(v[{i}] * {fxp}))" for i in range(DIM))
        + ")"
    )
    return (
        a.groupBy("cell")
        .agg(sums.alias("s"), F.count("*").alias("n"))
        .select(
            F.col("cell").alias("cent_id"),
            F.expr(
                f"transform(s, x -> cast(x AS DOUBLE) / {fxp} / n)"
            ).alias("cv"),
        )
    )


def kmeans_fit(
    e: DataFrame,
    n_rounds: int,
    cent0: DataFrame | None = None,
    persist: bool = True,
    until_moved_le: int | None = None,
) -> tuple[DataFrame, list[int]]:
    """Multi-round Lloyd driver loop — the production form of the
    kmeans_iter template. Each round: broadcast centroids -> map-side
    cosine + partial-agg argmax -> fixed-point centroid update. The
    assignment is localCheckpoint()ed per round (``persist=True``), so
    round N+1 reads materialized round-N state instead of recomputing an
    N-deep DAG — at 100 TB this is the difference between O(rounds) and
    O(rounds²) scan work. Lineage truncation also caps the plan depth,
    the same trick operators/graph.py uses for connected components.

    Returns (final assignment (vec_id, v, cell), per-round moved counts —
    the driver's convergence signal). ``until_moved_le`` makes the loop
    a TO-CONVERGENCE driver loop: stop as soon as a round moves at most
    that many vectors (0 = Lloyd quiescence), with ``n_rounds`` as the
    cap — the registered kmeans_fit qkey runs this form and its oracle
    unrolls the cap with the same early-exit selection.
    ``persist=False`` keeps the pure-lineage form (the cross-engine-
    oracle shape) for equivalence testing."""

    def _ckpt(df: DataFrame) -> DataFrame:
        # LAZY checkpoint: each round's only action is the moved-count
        # below, and computing it materializes the round's assignment
        # into the checkpoint as a side effect — one job per round where
        # the eager form paid two (materialize, then count). Lineage
        # truncation is identical once materialized.
        return df.localCheckpoint(eager=False) if persist else df

    if persist:
        # Scale-adaptive input parallelism (r17, guide §2.5 input skew /
        # §1.2): a corpus that arrives as fewer scan splits than cores
        # (one small parquet file at probe scale) would run EVERY round's
        # argmax on those few tasks — the checkpoint pins the layout, so
        # the under-split is paid n_rounds times. One deterministic hash
        # repartition on vec_id before round 0 fixes the whole loop; at
        # production scale the scan already has >= cores splits and this
        # is a no-op. Results are placement-independent: the assignment
        # is per-row and update_centroids sums exact fixed-point longs.
        par = e.sparkSession.sparkContext.defaultParallelism
        if e.rdd.getNumPartitions() < par:
            e = e.repartition(par, "vec_id")

    a = _ckpt(_assign_cells(e, cent0 if cent0 is not None else _cent_df(e)))
    moved: list[int] = []
    for _ in range(n_rounds):
        # carry the previous cell THROUGH the map-side assignment
        # (r16): the moved count is then a filter+count on the round's
        # own frame — the former self-join of consecutive checkpoints
        # (an exchange+sort pair per round just to compare cells) is
        # gone, and counting still materializes the lazy checkpoint in
        # the same job (one job per round total).
        nxt = _ckpt(
            _assign_cells(
                a.select("vec_id", "v", F.col("cell").alias("_prev")),
                update_centroids(a),
                extra=("_prev",),
            )
        )
        moved.append(nxt.filter(F.col("cell") != F.col("_prev")).count())
        a = nxt.drop("_prev")
        if until_moved_le is not None and moved[-1] <= until_moved_le:
            break
    return a, moved


@query(
    "embed_norms",
    oracle=(
        # sequential-fold L2 norm (identical op order both engines =>
        # bitwise doubles); unit check at 1e-6; dim from the array itself
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) "
        "SELECT vec_id, CAST(len(v) AS BIGINT) AS dim, "
        "  sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS l2, "
        "  abs(sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) - 1.0) < 1e-6 "
        "    AS is_unit "
        "FROM e"
    ),
)
def embed_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector hygiene pass: per-embedding L2 norm + unit-norm flag — the
    sanity gate before any cosine ANN (un-normalized vectors silently
    corrupt dot-product 'cosine'). Sequential fold on doubles matches
    DuckDB's list_reduce bitwise (registry determinism rule). Map-only;
    runs inside the scan stage at any scale.

    Scale: map-only fold; runs inside the scan stage."""
    emb = load(spark, sf_dir, "embeddings")
    v = _as_double("embedding")
    sq = F.aggregate(
        F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    # DuckDB list_reduce has no init: fold starts at v[1]^2. With x*x
    # terms the (0.0 + first) difference is exact in IEEE, so both folds
    # agree bitwise anyway.
    l2 = F.sqrt(sq)
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        l2.alias("l2"),
        (F.abs(l2 - F.lit(1.0)) < 1e-6).alias("is_unit"),
    )


@query(
    "embed_quantize",
    oracle=(
        # per-vector symmetric int8: scale = max |x| (exact float->double
        # widening both engines); q_i = floor(x_i / scale * 127) — floor,
        # not round, so there is no half-way tie to disagree on
        "WITH s AS (SELECT vec_id, embedding, "
        "    CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS mx "
        "  FROM embeddings) "
        "SELECT vec_id, mx AS scale, "
        "  array_to_string(list_transform(embedding, "
        "    x -> CAST(CAST(floor(CAST(x AS DOUBLE) / mx * 127) AS INTEGER) AS VARCHAR)"
        "  ), ',') AS qvec "
        "FROM s WHERE mx > 0"
    ),
)
def embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization — the embedding-store
    compression step (4x smaller ANN indexes, SIMD int8 dot products
    downstream). scale = max |x_i| per vector; q_i = floor(x_i / scale
    * 127), floor rather than round-half so the lattice assignment is
    tie-free and bit-identical cross-engine (the same reasoning as the
    registry's decimal-sum rule). Zero vectors are excluded identically
    on both sides (Spark's double /0 yields NULL, DuckDB yields inf —
    the value_zscore guard pattern). qvec ships as a joined string
    (array cells can't sort in the compare layer — array_fns
    convention). Scale: pure map-only narrow op, no exchange at all;
    at 100 TB this pipelines with the scan."""
    e = load(spark, sf_dir, "embeddings")
    mx = F.array_max(F.transform("embedding", F.abs)).cast("double")
    df = e.withColumn("mx", mx).filter(F.col("mx") > 0)
    q = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") / F.col("mx") * 127).cast("int").cast("string"),
    )
    return df.select(
        "vec_id",
        F.col("mx").alias("scale"),
        F.array_join(q, ",").alias("qvec"),
    )


# Product quantization geometry: M subspaces x K centroids over the 64-dim
# embeddings (8 dims per subspace, 6-bit codes). Chosen against the recall
# gate (tests/test_similarity.py::test_pq_adc_recall_vs_brute_force): the
# round-5 (M=4, K=16) form measured 0.20 macro recall@5 on the unit-norm
# synthetic embeddings; (M=8, K=64) measures 0.30 at 42x compression —
# subspace count is the dominant recall knob for this data (sweeping M/K:
# 4x16=0.20, 8x16=0.22, 4x64=0.22, 8x64=0.30). Every oracle interpolates
# these constants, so engine and oracle can never drift.
_PQ_M, _PQ_K, _PQ_SUBDIM = 8, 64, 8


def _pq_oracle() -> str:
    codes = ", ".join(
        f"MAX(CASE WHEN m = {m} THEN cid END) AS code_{m}" for m in range(_PQ_M)
    )
    err = " + ".join(f"MAX(CASE WHEN m = {m} THEN dist END)" for m in range(_PQ_M))
    return (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL), "
        f"ms AS (SELECT unnest(range({_PQ_M})) AS m), "
        "sub AS (SELECT vec_id, m, "
        f"    list_slice(v, m * {_PQ_SUBDIM} + 1, (m + 1) * {_PQ_SUBDIM}) AS sv "
        "  FROM e, ms), "
        f"cent AS (SELECT vec_id AS cid, m, sv AS cv FROM sub WHERE vec_id < {_PQ_K}), "
        "d AS (SELECT s.vec_id, s.m, c.cid, "
        "    list_reduce(list_transform(list_zip(s.sv, c.cv), "
        "      x -> (x[1] - x[2]) * (x[1] - x[2])), (acc, t) -> acc + t) AS dist "
        "  FROM sub s JOIN cent c USING (m)), "
        "r AS (SELECT vec_id, m, cid, dist, "
        "    row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) AS rk FROM d), "
        "b AS (SELECT vec_id, m, cid, dist FROM r WHERE rk = 1) "
        f"SELECT vec_id, {codes}, {err} AS err FROM b GROUP BY vec_id"
    )


@query("embed_pq", oracle=_pq_oracle())
def embed_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jegou et al., the FAISS IVF-PQ building
    block): split each 64-dim embedding into _PQ_M=8 subvectors of 8
    dims, assign each to its nearest of _PQ_K=64 per-subspace
    centroids, and emit the 6-bit-per-subspace code word plus the exact
    reconstruction error. 64 dims x 4 bytes compress to 8 sub-byte
    codes (42x at 6 bits packed), and ANN search then scans codes with
    a per-query distance lookup table (asymmetric distance) instead of
    raw vectors. The codebook here is the deterministic Forgy sample
    (subvectors of the _PQ_K smallest vec_ids) so both engines derive
    it from the table — kmeans_iter is the registered Lloyd-refinement
    template a production codebook would add. The geometry is gated by
    a recall floor against exact top-K (tests/test_similarity.py), not
    just by the arithmetic oracle. Exactness: subvector distances are
    one sequential zip-fold of identical IEEE doubles; argmin breaks
    ties on centroid id; the error sum adds the M subspace minima in
    fixed order.

    Scale: centroids are M x K = 512 tiny rows — broadcast (production
    bakes them into the task closure as FAISS does); assignment is a
    map-side broadcast join with partial-agg argmin, so nothing
    shuffles but (vec, subspace) minima. The 42x compression is what
    lets a 100 TB embedding corpus fit an in-memory ANN index."""
    best = _pq_scored(_emb_v(spark, sf_dir)).groupBy("vec_id", "m").agg(
        F.min_by("cid", F.struct("dist", "cid")).alias("cid"),
        F.min("dist").alias("dist"),
    )
    code_cols = [
        F.max(F.when(F.col("m") == m, F.col("cid"))).alias(f"code_{m}")
        for m in range(_PQ_M)
    ]
    err_terms = [F.max(F.when(F.col("m") == m, F.col("dist"))) for m in range(_PQ_M)]
    err = err_terms[0]
    for t in err_terms[1:]:
        err = err + t
    return best.groupBy("vec_id").agg(*code_cols, err.alias("err"))


def _pq_adc_oracle() -> str:
    adist = " + ".join(f"MAX(CASE WHEN m = {m} THEN lut END)" for m in range(_PQ_M))
    return (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL), "
        f"ms AS (SELECT unnest(range({_PQ_M})) AS m), "
        "sub AS (SELECT vec_id, m, "
        f"    list_slice(v, m * {_PQ_SUBDIM} + 1, (m + 1) * {_PQ_SUBDIM}) AS sv "
        "  FROM e, ms), "
        f"cent AS (SELECT vec_id AS cid, m, sv AS cv FROM sub WHERE vec_id < {_PQ_K}), "
        "d AS (SELECT s.vec_id, s.m, c.cid, "
        "    list_reduce(list_transform(list_zip(s.sv, c.cv), "
        "      x -> (x[1] - x[2]) * (x[1] - x[2])), (acc, t) -> acc + t) AS dist "
        "  FROM sub s JOIN cent c USING (m)), "
        "r AS (SELECT vec_id, m, cid, dist, "
        "    row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) AS rk FROM d), "
        "codes AS (SELECT vec_id, m, cid FROM r WHERE rk = 1), "
        # the SAME per-(vector,subspace,centroid) distances double as the
        # query lookup tables — queries are corpus members here
        f"lut AS (SELECT vec_id AS query_id, m, cid, dist AS lut FROM d WHERE vec_id < {NQ}), "
        "a AS (SELECT l.query_id, c.vec_id AS neighbor_id, c.m, l.lut "
        "  FROM codes c JOIN lut l ON l.m = c.m AND l.cid = c.cid "
        "  WHERE c.vec_id <> l.query_id), "
        f"s AS (SELECT query_id, neighbor_id, {adist} AS adist "
        "  FROM a GROUP BY query_id, neighbor_id), "
        "t AS (SELECT query_id, neighbor_id, adist, "
        "    row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rk "
        "  FROM s) "
        f"SELECT query_id, neighbor_id, adist, CAST(rk AS BIGINT) AS rk FROM t WHERE rk <= {K}"
    )


@query("sim_pq_adc", oracle=_pq_adc_oracle())
def sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN search over the embed_pq codes with asymmetric distance
    computation (ADC) — how a PQ index is actually queried: each query
    precomputes a tiny M x K lookup table of subspace distances to every
    centroid, and a candidate's approximate distance is just M table
    lookups summed per its code word — no per-pair vector math at all.
    Top-K per query (first NQ vec_ids as queries, self excluded,
    neighbor-id tiebreak). Exact cross-engine: the LUT entries are the
    same sequential zip-folds as embed_pq, and the M-term sum adds in
    fixed subspace order.

    Scale: THE serving plan for 100 TB ANN — the corpus side touches
    only code words (42x less I/O than vectors); LUTs are NQ x M x K
    doubles broadcast to every task; the scan is map-side with a
    per-query TakeOrdered. Recall tuning (more centroids, OPQ
    rotations, IVF cell pruning via sim_ivf) changes constants, not the
    plan shape — the current constants hold the documented 0.25 recall
    floor (tests/test_similarity.py::test_pq_adc_recall_vs_brute_force)."""
    scored = _pq_scored(_emb_v(spark, sf_dir))
    return _pq_adc(_pq_codes(scored), _pq_lut(scored.filter(F.col("vec_id") < NQ)))


def _pq_subvectors(emb: DataFrame) -> DataFrame:
    """(vec_id, m, sv): each vector's _PQ_M subspace slices — the one
    explode every PQ path (train-time scoring, index save, slice
    advance, query-side LUT encode) starts from."""
    slices = F.array(
        *[F.slice("v", m * _PQ_SUBDIM + 1, _PQ_SUBDIM) for m in range(_PQ_M)]
    )
    return emb.select("vec_id", F.posexplode(slices).alias("m", "sv"))


def _pq_score_against(sub: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, m, cid, dist): squared L2 from subvector rows to a
    GIVEN codebook (m, cid, cv) — THE encode rule, shared by train-time
    scoring (_pq_scored), slice advancement (ivfpq_index_advance) and
    the loaded-artifact query LUTs (_query_lut) so they can never drift
    an IEEE op apart (codes written by an advance and LUTs built from a
    loaded codebook must be bit-identical to the in-plan ones)."""
    dist = F.aggregate(
        F.zip_with("sv", "cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    return sub.join(F.broadcast(cent), "m").select(
        "vec_id", "m", "cid", dist.alias("dist")
    )


def _pq_scored(emb: DataFrame) -> DataFrame:
    """(vec_id, m, cid, dist): squared L2 from each vector's m-th
    subvector to every centroid of subspace m (Forgy sample codebook =
    subvectors of vec_id < _PQ_K). The one construction embed_pq,
    sim_pq_adc and sim_ivfpq all build on — codes are its per-(vec, m)
    argmin, query LUTs its vec_id < NQ slice."""
    sub = _pq_subvectors(emb)
    return _pq_score_against(sub, _pq_codebook(sub))


def _pq_codebook(sub: DataFrame) -> DataFrame:
    """(m, cid, cv): the Forgy codebook — the subspace slices of the
    _PQ_K smallest vec_ids; what _pq_scored encodes against and what
    both index saves persist."""
    return sub.filter(F.col("vec_id") < _PQ_K).select(
        "m", F.col("vec_id").alias("cid"), F.col("sv").alias("cv")
    )


def _pq_codes(scored: DataFrame) -> DataFrame:
    """(vec_id, m, cid): per-(vector, subspace) argmin code, centroid-id
    tiebreak — every code word of every PQ path."""
    return scored.groupBy("vec_id", "m").agg(
        F.min_by("cid", F.struct("dist", "cid")).alias("cid")
    )


def _pq_lut(scored: DataFrame) -> DataFrame:
    """(query_id, m, cid, lut): scored query subvectors as subspace
    distance lookup tables (vec_id -> query_id, dist -> lut)."""
    return scored.select(
        F.col("vec_id").alias("query_id"), "m", "cid", F.col("dist").alias("lut")
    )


def _query_lut(queries: DataFrame, codebook: DataFrame) -> DataFrame:
    """(query_id, m, cid, lut) for (query_id, v) queries against a
    loaded codebook — the encode rule itself, so a LUT served from the
    artifact is bit-identical to the in-plan one."""
    sub = _pq_subvectors(queries.select(F.col("query_id").alias("vec_id"), "v"))
    return _pq_lut(_pq_score_against(sub, codebook))


def _pq_adist_col():
    """Fixed-subspace-order ADC sum over pivoted (m, lut) rows — the
    cross-engine exactness contract lives HERE, once."""
    terms = [F.max(F.when(F.col("m") == m, F.col("lut"))) for m in range(_PQ_M)]
    adist = terms[0]
    for t in terms[1:]:
        adist = adist + t
    return adist


def _adc_topk(rows: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, adist, rk): ADC top-K over (query_id,
    neighbor_id, m, lut) candidate rows — the fixed-order M-term sum
    per pair, ranked by (adist, neighbor_id) to K (a WindowGroupLimit
    rank). Every PQ and IVF-PQ serve ends here."""
    s = rows.groupBy("query_id", "neighbor_id").agg(_pq_adist_col().alias("adist"))
    w = Window.partitionBy("query_id").orderBy(F.col("adist"), F.col("neighbor_id"))
    return s.withColumn("rk", F.row_number().over(w).cast("long")).filter(F.col("rk") <= K)


def _pq_adc(codes: DataFrame, lut: DataFrame) -> DataFrame:
    """Flat-PQ ADC top-K: every code word (vec_id, m, cid) looked up in
    the broadcast query LUTs on (m, cid), self excluded — sim_pq_adc's
    in-plan codes and pq_index_adc_query's loaded ones alike."""
    return _adc_topk(
        codes.join(F.broadcast(lut), ["m", "cid"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "m", "lut")
    )


def _ivfpq_oracle(cent_sql: str = _CENT_SQL) -> str:
    """The IVF-PQ oracle body over the IVF centroid CTE(s) ``cent_sql``
    (which must define ``cent``)."""
    adist = " + ".join(f"MAX(CASE WHEN m = {m} THEN lut END)" for m in range(_PQ_M))
    return (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL), "
        + cent_sql
        + ", "
        "sc AS (SELECT e.vec_id, cent_id, "
        f"    {_cos_sql('e.v', 'cv')} AS cos FROM e, cent), "
        "a AS (SELECT vec_id, cent_id AS cell FROM (SELECT *, "
        "    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn FROM sc) "
        "  WHERE rn = 1), "
        f"q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {NQ}), "
        "qs AS (SELECT query_id, cent_id, "
        f"    {_cos_sql('qv', 'cv')} AS cos FROM q, cent), "
        "qp AS (SELECT query_id, cent_id AS cell FROM (SELECT *, "
        "    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cent_id) AS rn FROM qs) "
        f"  WHERE rn <= {N_PROBE}), "
        f"ms AS (SELECT unnest(range({_PQ_M})) AS m), "
        "sub AS (SELECT vec_id, m, "
        f"    list_slice(v, m * {_PQ_SUBDIM} + 1, (m + 1) * {_PQ_SUBDIM}) AS sv "
        "  FROM e, ms), "
        f"pcent AS (SELECT vec_id AS cid, m, sv AS cv FROM sub WHERE vec_id < {_PQ_K}), "
        "d AS (SELECT s.vec_id, s.m, p.cid, "
        "    list_reduce(list_transform(list_zip(s.sv, p.cv), "
        "      x -> (x[1] - x[2]) * (x[1] - x[2])), (acc, t) -> acc + t) AS dist "
        "  FROM sub s JOIN pcent p USING (m)), "
        "codes AS (SELECT vec_id, m, cid FROM (SELECT *, "
        "    row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) AS rk FROM d) "
        "  WHERE rk = 1), "
        f"lut AS (SELECT vec_id AS query_id, m, cid, dist AS lut FROM d WHERE vec_id < {NQ}), "
        "cand AS (SELECT qp.query_id, a.vec_id AS neighbor_id FROM qp "
        "  JOIN a USING (cell) WHERE a.vec_id <> qp.query_id), "
        "j AS (SELECT c.query_id, c.neighbor_id, codes.m, l.lut FROM cand c "
        "  JOIN codes ON codes.vec_id = c.neighbor_id "
        "  JOIN lut l ON l.query_id = c.query_id AND l.m = codes.m AND l.cid = codes.cid), "
        f"s AS (SELECT query_id, neighbor_id, {adist} AS adist "
        "  FROM j GROUP BY query_id, neighbor_id), "
        "t AS (SELECT query_id, neighbor_id, adist, "
        "    row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rk FROM s) "
        f"SELECT query_id, neighbor_id, adist, CAST(rk AS BIGINT) AS rk FROM t WHERE rk <= {K}"
    )


@query("sim_ivfpq", oracle=_ivfpq_oracle())
def sim_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full FAISS-style serving stack COMPOSED — IVF cell pruning x
    PQ compression x ADC scoring: each query probes its N_PROBE nearest
    Voronoi cells (sim_ivf's machinery), and candidates inside those
    cells are scored from their 4-byte PQ codes via the query's M x K
    lookup table (sim_pq_adc's machinery) — raw vectors are never
    touched after index build. Top-K per query with neighbor-id
    tiebreak; the oracle composes the same two constructions, so cell
    pruning, code assignment and ADC arithmetic are all value-checked
    together.

    Scale: this is THE billion-vector layout — the corpus stores (cell,
    code) pairs bucketed by cell (scan prunes to the probe fraction),
    codes are 42x smaller than vectors, per-candidate cost is M table
    lookups, and everything that crosses a shuffle is id-sized. IVF
    centroids and query LUTs broadcast. Retrieval quality is gated by
    a recall floor vs exact top-K (tests/test_similarity.py), which
    composes the PQ loss with the cell-pruning loss."""
    e = _emb_v(spark, sf_dir)
    cent = _cent_df(e)
    a = _assign_cells(e, cent).select("vec_id", "cell")
    scored = _pq_scored(e)
    cand = (
        a.join(F.broadcast(_probe(_queries(e), cent)), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    lut = _pq_lut(scored.filter(F.col("vec_id") < NQ))
    return _adc_topk(
        cand.join(
            _pq_codes(scored).withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
        ).join(F.broadcast(lut), ["query_id", "m", "cid"])
    )


# Matryoshka truncation depths audited by embed_truncate_energy (the
# full dimension is 64).
_MRL_DIMS = (8, 16, 32)


def _trunc_energy_oracle() -> str:
    cols = ", ".join(
        f"{_DOT.format(a=f'v[1:{d}]', b=f'v[1:{d}]')} AS e{d}" for d in _MRL_DIMS
    )
    return (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings "
        "  WHERE embedding IS NOT NULL) "
        f"SELECT vec_id, {cols}, "
        f"{_DOT.format(a='v', b='v')} AS e_full FROM e"
    )


@query("embed_truncate_energy", oracle=_trunc_energy_oracle())
def embed_truncate_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit (Kusupati et al., MRL): how much of
    each embedding's squared norm survives truncation to the prefix
    8/16/32 of 64 dims — the measurement behind the serve-small /
    rerank-large pattern (a 16-dim prefix index is 4x cheaper to scan;
    whether that is safe is exactly this energy profile, and the pytest
    ties it to retrieval: prefix-space top-K recall vs the full space).
    Exactness: each energy is one sequential zip-fold of IEEE doubles
    over the prefix slice — the registry's array-reduction rule, same
    op order in both engines.

    Scale: map-only, zero exchanges — slices and folds pipeline with
    the parquet scan; at 100 TB this is the audit you run BEFORE
    rebuilding the ANN index at a smaller dimension, for the cost of
    one scan."""
    e = _emb_v(spark, sf_dir)
    cols = [
        _dot_spark(F.slice("v", 1, d), F.slice("v", 1, d)).alias(f"e{d}")
        for d in _MRL_DIMS
    ]
    return e.select("vec_id", *cols, _dot_spark(F.col("v"), F.col("v")).alias("e_full"))


@query(
    "sim_mips",
    oracle=(
        "WITH " + _QVEC_SQL.format(nq=NQ) + ", "
        "c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings), "
        "s AS (SELECT query_id, neighbor_id, "
        f"    {_DOT.format(a='qv', b='cv')} AS ip "
        "  FROM q, c WHERE query_id <> neighbor_id), "
        "r AS (SELECT query_id, neighbor_id, ip, "
        "    row_number() OVER (PARTITION BY query_id ORDER BY ip DESC, neighbor_id) AS rk FROM s) "
        f"SELECT query_id, neighbor_id, ip AS inner_product, CAST(rk AS BIGINT) AS rk "
        f"FROM r WHERE rk <= {K}"
    ),
)
def sim_mips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-INNER-PRODUCT top-k (MIPS) — the recommendation-serving
    retrieval next to sim_topk's cosine: user x item scoring ranks by
    raw dot product, where a long (popular/confident) item vector
    legitimately outranks a nearer-by-angle short one — the semantics
    two-tower recommenders and rerankers actually serve, NOT nearest-
    neighbor (cosine deliberately divides that norm signal away). Same
    sequential-fold dot product as the whole similarity family, so the
    scores are bit-identical across engines; ties break on neighbor_id.

    Scale: queries broadcast, corpus scanned once, per-query top-k via
    the window on the tiny query partition count — sim_topk's budget.
    The norm-augmentation reduction (append sqrt(M^2 - |v|^2) to each
    item, cosine ANN over the lifted space) is SHIPPED as sim_mips_ann
    below — the candidate-generation scale path, recall-pinned against
    this exact form."""
    emb = load(spark, sf_dir, "embeddings")
    q = (
        emb.orderBy("vec_id")
        .limit(NQ)
        .select(F.col("vec_id").alias("query_id"), _as_double("embedding").alias("qv"))
    )
    c = emb.select(F.col("vec_id").alias("neighbor_id"), _as_double("embedding").alias("cv"))
    crossed = c.crossJoin(F.broadcast(q)).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = crossed.select(
        "query_id", "neighbor_id", _dot_spark(F.col("qv"), F.col("cv")).alias("ip")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("ip").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= K)
        .select("query_id", "neighbor_id", F.col("ip").alias("inner_product"), "rk")
    )


# --- MIPS -> cosine-ANN reduction (the sim_mips scale path, shipped) ----
# Norm augmentation (Bachrach et al., RecSys'14): append
# sqrt(M^2 - |v|^2) to every item vector (M = max item norm) and 0.0 to
# every query; inner products in the original space become monotone in
# the cosine of the LIFTED space, so the existing SRP-LSH machinery
# retrieves MIPS candidates. M^2 is kept as max(dot(v,v)) — never
# sqrt'd and re-squared, so the lifted component is sqrt of an EXACT
# double difference (>= 0 by construction) in both engines.
_MIPS_PLANES = 5
_MIPS_TABLES = ("ma", "mb", "mc", "md", "me", "mf", "mg", "mh")
_LDIM = DIM + 1


def _mips_bucket_kernel(it):
    """All 8 tables' lifted-space SRP buckets in ONE Arrow pass —
    vectorized over rows, SEQUENTIAL over dimensions: acc starts at
    0.0 and adds c_d * lv[:, d] one dimension at a time, which is the
    oracle fold's exact IEEE op order applied to every row at once, so
    the dots — and the signs — are bit-identical to the SQL
    list_reduce. Why Python at all: 8 tables x 5 planes x 65 dims =
    2,600 per-row steps, which Catalyst evaluates interpreted as a
    higher-order-function fold (measured ~5 s/2k rows at sf0.1) and
    cannot codegen unrolled (a 2,600-node projection built 7 MiB task
    binaries and ran 5x SLOWER); here the same arithmetic is 2,600
    numpy vector ops per Arrow batch (~0.5 s). In: (id, lv); out: one
    (id, t, bucket) row per table."""
    import numpy as np
    import pandas as pd

    mats = {
        s: [_plane_comps(p, s, _LDIM) for p in range(_MIPS_PLANES)]
        for s in _MIPS_TABLES
    }
    for pdf in it:
        if not len(pdf):
            continue
        lv = np.array(pdf["lv"].tolist(), dtype=np.float64)
        ids = pdf["id"].to_numpy()
        n = len(ids)
        out_id, out_t, out_b = [], [], []
        for s in _MIPS_TABLES:
            bits = []
            for p in range(_MIPS_PLANES):
                acc = np.zeros(n)
                row = mats[s][p]
                for d in range(_LDIM):
                    acc += row[d] * lv[:, d]
                bits.append(np.where(acc >= 0.0, "1", "0"))
            out_id.append(ids)
            out_t.extend([s] * n)
            out_b.extend("".join(t) for t in zip(*bits))
        yield pd.DataFrame(
            {
                "id": pd.Series(np.concatenate(out_id), dtype="int64"),
                "t": pd.Series(out_t, dtype="object"),
                "bucket": pd.Series(out_b, dtype="object"),
            }
        )


def _lift_bucket_sql(vec: str, salt: str) -> str:
    bits = []
    for p in range(_MIPS_PLANES):
        comps = (
            f"list_transform(range(1, {_LDIM + 1}), d -> "
            f"(CASE WHEN strpos('89abcdef', substr(md5('{salt}{p}_' || d), 1, 1)) > 0 "
            f"THEN 1.0 ELSE -1.0 END) * {vec}[d])"
        )
        dot = f"list_reduce({comps}, (s, v) -> s + v)"
        bits.append(f"(CASE WHEN {dot} >= 0 THEN '1' ELSE '0' END)")
    return " || ".join(bits)


def _mips_ann_oracle() -> str:
    cb = " UNION ALL ".join(
        f"SELECT vec_id, '{s}' AS t, {_lift_bucket_sql('lv', s)} AS bucket FROM le"
        for s in _MIPS_TABLES
    )
    qb = " UNION ALL ".join(
        f"SELECT query_id, '{s}' AS t, {_lift_bucket_sql('lv', s)} AS bucket FROM lq"
        for s in _MIPS_TABLES
    )
    return (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        f"m AS (SELECT MAX({_DOT.format(a='v', b='v')}) AS m2 FROM e), "
        "le AS (SELECT vec_id, "
        f"    list_append(v, sqrt(m.m2 - {_DOT.format(a='v', b='v')})) AS lv FROM e, m), "
        f"q AS (SELECT vec_id AS query_id, v AS qv FROM e ORDER BY vec_id LIMIT {NQ}), "
        "lq AS (SELECT query_id, list_append(qv, 0.0) AS lv FROM q), "
        f"cb AS ({cb}), qb AS ({qb}), "
        "cand AS (SELECT DISTINCT query_id, vec_id AS neighbor_id "
        "  FROM qb JOIN cb USING (t, bucket) WHERE query_id <> vec_id), "
        "s AS (SELECT query_id, neighbor_id, "
        f"    {_DOT.format(a='qv', b='cv')} AS ip "
        "  FROM cand JOIN q USING (query_id) "
        "  JOIN (SELECT vec_id AS neighbor_id, v AS cv FROM e) c USING (neighbor_id)), "
        "r AS (SELECT query_id, neighbor_id, ip, "
        "    row_number() OVER (PARTITION BY query_id ORDER BY ip DESC, neighbor_id) AS rk FROM s) "
        f"SELECT query_id, neighbor_id, ip AS inner_product, CAST(rk AS BIGINT) AS rk "
        f"FROM r WHERE rk <= {K}"
    )


@query("sim_mips_ann", oracle=_mips_ann_oracle())
def sim_mips_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIPS at ANN cost — the norm-augmentation handoff sim_mips's
    docstring promises, shipped: items lift to 65 dims with
    sqrt(M^2 - |v|^2) appended (M^2 = max dot(v, v), an exact double
    MAX, so the lifted component is sqrt of an exact non-negative
    difference), queries lift with 0.0, and because every lifted item
    then has norm M, the lifted-space cosine is monotone in the
    original inner product — so sign-random-projection bucketing over
    the lifted space retrieves MIPS candidates. Eight salted 5-plane
    tables (OR-amplification, ~|tables|/2^planes = 25% of the corpus
    scanned per query) generate candidates; the exact sequential-fold
    inner product reranks them, top-K per query with neighbor_id
    tiebreak. Recall vs the exact sim_mips is pinned in
    tests/test_round8_ops.py (the graph_jaccard_approx precedent) —
    the synthetic corpus is near-orthogonal (max same-label cosine
    ~0.47), the hard regime for any LSH, so the pinned floor is the
    measured 2x-over-random-scan lift, not a clustered-data 0.9.

    Scale: bucketing is ONE map-only Arrow stage per side (all 8
    tables' signatures per batch, numpy-vectorized over rows with the
    fold's exact dimension order — see _mips_bucket_kernel for why the
    HOF-expression form loses 10x here); the M^2 scalar is a 1-row
    broadcast; the candidate join shuffles (table, bucket, id) — never
    vectors against vectors all-pairs; the rerank touches ~|tables| /
    2^planes of the corpus per query. More planes shrink candidates,
    more tables raise recall — the standard LSH dials, identical to
    sim_lsh's."""
    emb = load(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", _as_double("embedding").alias("v"))
    m2 = e.agg(F.max(_dot_spark(F.col("v"), F.col("v"))).alias("m2"))
    le = e.crossJoin(F.broadcast(m2)).select(
        "vec_id",
        F.concat(
            "v", F.array(F.sqrt(F.col("m2") - _dot_spark(F.col("v"), F.col("v"))))
        ).alias("lv"),
    )
    cb = (
        le.select(F.col("vec_id").alias("id"), "lv")
        .mapInPandas(_mips_bucket_kernel, "id long, t string, bucket string")
        .withColumnRenamed("id", "vec_id")
    )
    q = (
        e.orderBy("vec_id")
        .limit(NQ)
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    )
    lq = q.select(
        "query_id", F.concat("qv", F.array(F.lit(0.0))).alias("lv")
    )
    qb = (
        lq.select(F.col("query_id").alias("id"), "lv")
        .mapInPandas(_mips_bucket_kernel, "id long, t string, bucket string")
        .withColumnRenamed("id", "query_id")
    )
    cand = (
        qb.join(cb, ["t", "bucket"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(e.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv")), "neighbor_id")
        .select("query_id", "neighbor_id", _dot_spark(F.col("qv"), F.col("cv")).alias("ip"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("ip").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= K)
        .select("query_id", "neighbor_id", F.col("ip").alias("inner_product"), "rk")
    )


# Power-iteration rounds for the top spectral direction (unrolled in
# the oracle, kmeans_iter-style driver loop in the operator)
_PCA_ROUNDS = 3
_PCA_V0 = 0.125  # 1/8 — exact in binary, so round 1 starts bit-equal
_PCA_Q = 1 << 40  # fixed-point scale for the per-dim accumulation


def _pca_oracle() -> str:
    """Unrolled power iteration: per round, (a) per-row dot s = <x, v>
    (sequential IEEE fold — the registry dot rule), (b) per-dim sums
    of each term QUANTIZED to 2^-40 fixed point — floor(x_d * s * 2^40)
    as BIGINT. The power-of-two scale is exact in double and floor is
    the same function in both engines, so the integer sum is immune to
    partial-aggregation order (a DECIMAL(38,18) cast is NOT enough
    here: the two engines round double->decimal through different
    paths and drift an ulp); (c) norm + scale in a fixed double op
    order."""
    return (
        "WITH " + ", ".join(_pca_base_ctes() + _pca_round_ctes(_PCA_ROUNDS)) + " "
        "SELECT CAST(d AS BIGINT) AS dim, wd / nm AS comp, nm AS lam "
        f"FROM u{_PCA_ROUNDS}, n{_PCA_ROUNDS}"
    )


def _pca_base_ctes() -> list[str]:
    v0 = "[" + ", ".join([str(_PCA_V0)] * DIM) + "]"
    return [
        "e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings)",
        f"v0 AS MATERIALIZED (SELECT {v0}::DOUBLE[] AS vv)",
    ]


def _pca_round_ctes(rounds: int) -> list[str]:
    """The per-round CTE chain shared by the fixed-depth
    embed_pca_power_iter oracle and the unrolled-with-early-exit
    pca_power_converged oracle. MATERIALIZED throughout — DuckDB
    inlines plain CTEs per reference and an unrolled chain explodes
    exponentially otherwise (the _pr_round_sql lesson)."""
    ctes = []
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(
            f"s{r} AS MATERIALIZED (SELECT vec_id, x, "
            "  list_reduce(list_transform(list_zip(x, vv), t -> t[1] * t[2]), (a, b) -> a + b) AS s "
            f"  FROM e, v{p})"
        )
        ctes.append(
            f"w{r} AS MATERIALIZED (SELECT d, SUM(CAST(floor(xd * s * {_PCA_Q}.0) AS DECIMAL(28,0))) AS w FROM ("
            f"  SELECT unnest(x) AS xd, unnest(range(len(x))) AS d, s FROM s{r}) GROUP BY d)"
        )
        ctes.append(
            # VARCHAR roundtrip (registry second-moment rule): DuckDB's
            # direct decimal->double double-rounds (int128 -> double,
            # then /10^scale) and can drift an ulp off Spark's
            # correctly-rounded BigDecimal once w exceeds 2^53 — the
            # agg_corr/window_bollinger precedent, applied here so the
            # claim 'exact at any corpus size' holds past int64 w too
            f"u{r} AS MATERIALIZED (SELECT d, CAST(CAST(w AS VARCHAR) AS DOUBLE) / {_PCA_Q}.0 AS wd FROM w{r})"
        )
        ctes.append(
            f"n{r} AS MATERIALIZED (SELECT sqrt(list_reduce(list_prepend(0.0, list(wd ORDER BY d)), "
            f"  (a, b) -> a + b * b)) AS nm FROM u{r})"
        )
        ctes.append(
            f"v{r} AS MATERIALIZED (SELECT list(wd / nm ORDER BY d) AS vv FROM u{r}, n{r})"
        )
    return ctes


@query("embed_pca_power_iter", oracle=_pca_oracle())
def embed_pca_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP PRINCIPAL DIRECTION of the embedding table by POWER
    ITERATION — the spectral probe behind whitening, anisotropy
    audits ('is the embedding space collapsing to one direction?'),
    and ABTT-style dominant-direction removal. Each round multiplies
    the second-moment matrix A = sum_rows x x^T by the current vector
    WITHOUT materializing A: per row one dot s = <x, v> (sequential
    IEEE fold, the registry rule), then per dimension an exact
    INTEGER sum of the terms quantized to 2^-40 fixed point (floor of
    an exact power-of-two scale — the only double->fixed edge both
    engines compute identically) — 64 cells cross the exchange, never
    a 64x64 matrix, never a row. The 64 sums collect driver-side
    (kmeans_iter's scalar-per-round pattern), normalize in a fixed
    float op order, and re-enter round r+1 as literals; the oracle
    unrolls the rounds as CTE stages. Returns (dim, comp, lam): the
    unit iterate after _PCA_ROUNDS rounds and its estimate
    ||A v|| <= lambda_1 (a certified LOWER bound on the spectral
    norm). Per-round contraction is lambda_2/lambda_1 — on a strongly
    anisotropic table a handful of rounds converge; the synthetic
    gate corpus is nearly isotropic (ratio ~0.93), so this registers
    the PRIMITIVE at fixed depth and production runs the same loop to
    tolerance (tests/test_round9_ops.py pins the iterate against an
    independent numpy power iteration and the lambda_1 bound).

    Scale: each round is ONE scan + ONE partial-agg exchange carrying
    DIM decimal cells per task (map-side combine); driver state is 64
    doubles. At 100 TB this is exactly how distributed power iteration
    / randomized SVD sketches run their matvec — the vector broadcasts
    as literals, the matrix never exists."""
    import math

    e = load(spark, sf_dir, "embeddings").select(_as_double("embedding").alias("x"))
    v = [_PCA_V0] * DIM
    lam = 0.0
    for _r in range(_PCA_ROUNDS):
        wd = _pca_matvec(e, v)
        nm2 = 0.0
        for c in wd:
            nm2 = nm2 + c * c
        lam = math.sqrt(nm2)
        v = [c / lam for c in wd]
    return spark.createDataFrame(
        [(d, v[d], lam) for d in range(DIM)], "dim bigint, comp double, lam double"
    )


def _pca_matvec(e: DataFrame, v: list) -> list:
    """ONE exact distributed matvec round — shared by the registered
    fixed-depth embed_pca_power_iter and the to-tolerance
    pca_power_converged: per row a sequential-IEEE dot s = <x, v>
    (v enters as literals — the vector 'broadcast'), then per
    dimension an exact integer sum of the terms quantized to 2^-40
    fixed point. len(v) decimal cells cross the exchange (map-side
    combine), never a matrix, never a row; the driver reads them back
    as correctly-rounded doubles."""
    # the iterate enters as a BROADCAST 1-row frame, not as literals
    # (r16): literal vectors bake 64 fresh constants into the plan every
    # round, so whole-stage codegen recompiles per round — with a column
    # the generated source is round-invariant and the codegen cache
    # hits. Values are the same doubles either way.
    from flod_spark.io import tiny_df

    vdf = tiny_df(e.sparkSession, [(list(v),)], "_pca_v array<double>")
    s = _dot_spark(F.col("x"), F.col("_pca_v"))
    # ONE map-side aggregate with len(v) decimal-sum columns (r16):
    # the posexplode + groupBy(d) form shuffled rows x dim exploded
    # rows every round; as column aggregates the whole matvec is a
    # single partial-agg stage — no explode, no keyed exchange, one
    # 1-row result. Term arithmetic is unchanged cell for cell
    # (floor(x_d * s * Q) summed in decimal — a LONG sum would wrap
    # silently past 2^63 while the DuckDB oracle widens to int128).
    rows = e.crossJoin(F.broadcast(vdf)).select(F.col("x"), s.alias("s"))
    aggs = [
        F.sum(
            F.floor(F.get(F.col("x"), d) * F.col("s") * F.lit(float(_PCA_Q)))
            .cast("decimal(28,0)")
        ).alias(f"w{d}")
        for d in range(len(v))
    ]
    r = rows.agg(*aggs).collect()[0]
    return [float(int(r[f"w{d}"])) / float(_PCA_Q) for d in range(len(v))]


def pca_power_converged(
    e: DataFrame, tol: float = 1e-9, max_rounds: int = 50, persist: bool = True
) -> tuple[list, list]:
    """Power iteration RUN TO TOLERANCE — the production form of the
    embed_pca_power_iter primitive (the kcore_converged/kmeans_fit
    driver-loop template, round-9 verdict item 4): the SAME exact
    matvec round (_pca_matvec), iterated until the spectral-norm
    estimate moves less than ``tol`` relatively or ``max_rounds``
    caps it. ``persist=True`` localCheckpoints the base projection
    once so every round reads materialized state instead of
    re-deriving the scan — O(rounds) scan work with a flat plan
    (the vector re-enters as literals, so lineage never deepens; the
    checkpoint only pins the input). Returns (unit vector, per-round
    lambda list — non-decreasing for a PSD second-moment matrix, the
    monotone-growth certificate tests/test_round10_ops.py pins along
    with the fixpoint residual on a planted anisotropic table).

    Scale: identical per-round cost to the registered primitive (one
    scan + one DIM-cell partial-agg exchange); round count is bounded
    by the spectral gap (contraction lambda_2/lambda_1 per round), not
    data size — on a genuinely anisotropic 100 TB embedding table a
    handful of rounds converge, and the driver holds DIM doubles."""
    import math

    base = e.localCheckpoint(eager=True) if persist else e
    head = base.select(F.size("x").alias("n")).first()
    if head is None:  # empty table: no direction to find — converged vacuously
        return [], []
    dim = head["n"]
    v = [_PCA_V0] * dim
    lams: list = []
    for _ in range(max_rounds):
        wd = _pca_matvec(base, v)
        nm2 = 0.0
        for c in wd:
            nm2 = nm2 + c * c
        lam = math.sqrt(nm2)
        if lam == 0.0:
            # A v = 0 exactly (all-zero table, or data orthogonal to the
            # iterate after quantization): no direction to normalize —
            # converged degenerately; return the current iterate and the
            # lams so far (the empty-table vacuous-convergence sibling)
            # instead of dividing by zero.
            lams.append(lam)
            break
        v = [c / lam for c in wd]
        # bool(), not bare `lams and ...`: the bare form returns the
        # lams LIST when empty, which the append below then mutates
        # truthy — first-round early exit
        done = bool(lams) and abs(lam - lams[-1]) <= tol * max(abs(lam), 1.0)
        lams.append(lam)
        if done:
            break
    return v, lams


# pca_power_converged gate parameters: relative-lambda tol exits the
# loop mid-range on the nearly-isotropic gate corpus (~8 rounds
# measured at sf0.01); the cap bounds both engines identically.
_PCAC_TOL = 0.025
_PCAC_MAX = 10


def _pca_converged_oracle() -> str:
    """Unrolled power iteration with the EARLY-EXIT selection in SQL:
    _PCAC_MAX shared round CTEs + per-round relative-lambda
    convergence flags; the selected round = first |lam_r - lam_{r-1}|
    <= tol * max(|lam_r|, 1) (COALESCE to the cap — the driver loop's
    exact rule, same operand order), and lambdas are bit-identical
    cross-engine (the embed_pca_power_iter fixed-point discipline), so
    both engines select the same round."""
    ctes = _pca_base_ctes() + _pca_round_ctes(_PCAC_MAX)
    oks = " UNION ALL ".join(
        f"SELECT {r} AS i, ABS((SELECT nm FROM n{r}) - (SELECT nm FROM n{r - 1})) "
        f"<= {_PCAC_TOL} * GREATEST(ABS((SELECT nm FROM n{r})), 1.0) AS ok"
        for r in range(2, _PCAC_MAX + 1)
    )
    allu = " UNION ALL ".join(
        f"SELECT {r} AS i, d, wd, (SELECT nm FROM n{r}) AS nm FROM u{r}"
        for r in range(1, _PCAC_MAX + 1)
    )
    ctes.append(f"oks AS MATERIALIZED ({oks})")
    ctes.append(
        f"sel AS MATERIALIZED (SELECT COALESCE(MIN(i), {_PCAC_MAX}) AS i FROM oks WHERE ok)"
    )
    ctes.append(f"allu AS MATERIALIZED ({allu})")
    return (
        "WITH " + ", ".join(ctes) + " "
        "SELECT CAST(d AS BIGINT) AS dim, wd / nm AS comp, nm AS lam, "
        "  CAST(sel.i AS BIGINT) AS rounds "
        "FROM allu, sel WHERE allu.i = sel.i"
    )


@query("pca_power_converged", oracle=_pca_converged_oracle())
def pca_power_converged_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power iteration RUN TO TOLERANCE, driver-gated (r10 verdict
    item 5): the pca_power_converged driver loop on the embeddings
    table, stopping when the spectral-norm estimate moves less than
    _PCAC_TOL relatively (measured: a genuine mid-loop exit at ~8
    rounds at sf0.01 — the corpus is nearly isotropic, so the
    contraction is slow and the loop's early exit is doing real work)
    or at the _PCAC_MAX cap. Output: the unit iterate, its lambda
    lower bound, and the round count the loop actually ran; the
    oracle unrolls the cap and selects the same round (bit-identical
    lambdas -> identical exact IEEE convergence comparisons).

    Scale: embed_pca_power_iter's per-round cost (one scan + one
    DIM-cell partial-agg exchange); driver state is DIM doubles."""
    e = load(spark, sf_dir, "embeddings").select(_as_double("embedding").alias("x"))
    v, lams = pca_power_converged(e, tol=_PCAC_TOL, max_rounds=_PCAC_MAX)
    lam = lams[-1]
    rounds = len(lams)
    return spark.createDataFrame(
        [(d, v[d], lam, rounds) for d in range(len(v))],
        "dim bigint, comp double, lam double, rounds bigint",
    )


# kmeans_fit gate parameters: Lloyd quiescence (moved == 0) lands at
# rounds 6-7 on the gate tables; the cap bounds both engines.
_KMF_MAX = 10


def _kmeans_fit_oracle() -> str:
    """Unrolled Lloyd chain with the moved==0 early exit in SQL: the
    kmeans_iter assignment/update CTEs iterated to the cap, per-round
    moved counts (exact integers), selection = first moved-0 round.
    MATERIALIZED throughout (the unrolled-chain inlining lesson)."""
    ctes = [
        "e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        _CENT_SQL.replace("cent AS (", "cent AS MATERIALIZED (", 1),
        "sc1 AS MATERIALIZED (SELECT e.vec_id, e.v, cent_id, "
        f"    {_cos_sql('e.v', 'cv')} AS cos FROM e, cent)",
        "a1 AS MATERIALIZED (SELECT vec_id, v, cent_id AS cell FROM (SELECT *, "
        "    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn FROM sc1) "
        "  WHERE rn = 1)",
    ]
    for r in range(2, _KMF_MAX + 2):
        p = r - 1
        ctes.append(
            f"x{r} AS MATERIALIZED (SELECT cell, generate_subscripts(v, 1) AS pos, "
            f"  unnest(v) AS val FROM a{p})"
        )
        ctes.append(
            f"m{r} AS MATERIALIZED (SELECT cell, pos, "
            f"  CAST(SUM(CAST(floor(val * {_FXP}) AS BIGINT)) AS DOUBLE) "
            f"  / {_FXP} / COUNT(*) AS c FROM x{r} GROUP BY cell, pos)"
        )
        ctes.append(
            f"cent{r} AS MATERIALIZED (SELECT cell AS cent_id, list(c ORDER BY pos) AS cv "
            f"  FROM m{r} GROUP BY cell)"
        )
        ctes.append(
            f"sc{r} AS MATERIALIZED (SELECT a{p}.vec_id, a{p}.v, a{p}.cell AS pcell, cent_id, "
            f"    {_cos_sql(f'a{p}.v', 'cv')} AS cos FROM a{p}, cent{r})"
        )
        ctes.append(
            f"a{r} AS MATERIALIZED (SELECT vec_id, v, cell, pcell FROM (SELECT vec_id, v, "
            "    cent_id AS cell, pcell, "
            "    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn "
            f"  FROM sc{r}) WHERE rn = 1)"
        )
        ctes.append(
            f"mv_{p} AS MATERIALIZED (SELECT COUNT(*) AS m FROM a{r} WHERE cell <> pcell)"
        )
    movs = " UNION ALL ".join(
        f"SELECT {p} AS i, m FROM mv_{p}" for p in range(1, _KMF_MAX + 1)
    )
    alla = " UNION ALL ".join(
        f"SELECT {r} AS i, vec_id, cell FROM a{r}" for r in range(2, _KMF_MAX + 2)
    )
    ctes.append(f"movs AS MATERIALIZED ({movs})")
    ctes.append(
        f"sel AS MATERIALIZED (SELECT COALESCE(MIN(i), {_KMF_MAX}) AS i FROM movs WHERE m = 0)"
    )
    ctes.append(f"alla AS MATERIALIZED ({alla})")
    return (
        "WITH " + ", ".join(ctes) + " "
        "SELECT alla.vec_id, alla.cell, CAST(sel.i AS BIGINT) AS rounds "
        "FROM alla, sel WHERE alla.i = sel.i + 1"
    )


@query("kmeans_fit", oracle=_kmeans_fit_oracle())
def kmeans_fit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-round Lloyd RUN TO QUIESCENCE, driver-gated (r10 verdict
    item 5, completing the to-convergence-twin registrations): the
    kmeans_fit driver loop with until_moved_le=0 — stop the first
    round that moves zero vectors (measured rounds 6-7 at the gate
    tables, a genuine mid-loop exit), capped at _KMF_MAX. Output:
    each vector's converged cell + the loop's round count; the oracle
    unrolls the cap with per-round integer moved counts and selects
    the same round (identical fixed-point centroids -> identical
    assignments -> identical moved integers, the kmeans_iter
    discipline extended through the chain).

    Scale: kmeans_fit's per-round budget (broadcast centroids ->
    map-side argmax -> one (cell, pos) partial-agg shuffle), with
    per-round localCheckpoint so round N+1 reads materialized state —
    the O(rounds)-scan-work form the docstrings promise at 100 TB."""
    emb = load(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", _as_double("embedding").alias("v"))
    a, moved = kmeans_fit(e, _KMF_MAX, until_moved_le=0)
    return a.select(
        "vec_id", "cell", F.lit(len(moved)).cast("long").alias("rounds")
    )


def pq_index_save(emb: DataFrame, out_dir: str) -> None:
    """Persist the PQ INDEX ARTIFACT — codebook (m, cid, cv) +
    code words (vec_id, m, cid) — as parquet tables: the
    train-once-serve-many shape the sim_pq_adc docstring assumes
    (FAISS writes .index files; an engine-native index IS two tables).
    Doubles and ids round-trip parquet losslessly, so a query answered
    from the loaded artifact is bit-identical to one answered from the
    in-plan index (pytest-pinned); registered (r12) as
    sim_pq_adc_persisted with sim_pq_adc's oracle.

    Scale: the artifact is the 42x-compressed corpus view — codes are
    M small ints per vector, the codebook is M x K rows; at 100 TB the
    codes table partitions/buckets by IVF cell and the codebook ships
    broadcast, so serving never rescans raw vectors."""
    _pq_codebook(_pq_subvectors(emb)).write.mode("overwrite").parquet(out_dir + "/codebook")
    _pq_codes(_pq_scored(emb)).write.mode("overwrite").parquet(out_dir + "/codes")


def pq_index_adc_query(spark: SparkSession, index_dir: str, queries: DataFrame) -> DataFrame:
    """ADC top-K from a LOADED PQ index artifact (pq_index_save):
    queries (query_id, v) build their M x K lookup tables against the
    loaded codebook with the same sequential zip-fold as training-time
    assignment, candidates join on (m, code) over the loaded codes
    table, and the fixed-order M-term sum ranks them — sim_pq_adc's
    exact serving plan with the corpus side replaced by the artifact.

    Scale: the codes scan is the only corpus-sized input (42x less
    I/O than vectors); LUTs broadcast; per-query top-K is a
    WindowGroupLimit rank."""
    lut = _query_lut(queries, spark.read.parquet(index_dir + "/codebook"))
    return _pq_adc(spark.read.parquet(index_dir + "/codes"), lut)


def _write_codes_by_cell(codes: DataFrame, emb: DataFrame, ivf_cent: DataFrame, path: str) -> None:
    """Write code words (vec_id, m, cid) PARTITIONED BY their vectors'
    IVF cell (assigned against ``ivf_cent``) as a whole-directory
    overwrite of ``path`` — the one writer of the base and of every
    advanced slice. Repartitioning ON the partition key first makes it
    one task, hence one file, per cell directory: without it every join
    task holding rows of k cells opens k files, spraying tasks x cells
    tiny parquet files the serve then has to list and footer-read
    (guide §6 small-files; measured on the r16 lifecycle keys). Cells
    are further bucketed by id inside each partition at real scale."""
    a = _assign_cells(emb, ivf_cent).select("vec_id", "cell")
    (
        codes.join(a, "vec_id")
        .repartition(F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )


def ivfpq_index_save(emb: DataFrame, out_dir: str) -> None:
    """Persist the FULL IVF-PQ index — PQ codebook, IVF centroids, and
    the codes table written PARTITIONED BY CELL — the billion-vector
    layout sim_ivfpq's docstring names ("bucketed by cell — scan
    prunes to the probe fraction"), now an on-disk artifact: each IVF
    cell is a parquet partition directory, so a query that probes
    N_PROBE cells statically prunes the scan to those directories
    (PartitionFilters, pinned in tests/test_round11_ops.py).
    Registered (r12) with ivfpq_index_query as sim_ivfpq_persisted.

    Scale: the codes table is the 42x-compressed corpus keyed by
    cell; at 100 TB cells are also bucketed by id inside each
    partition so the candidate join co-partitions. Centroid tables
    are broadcast-sized by construction."""
    cent = _cent_df(emb)
    _write_codes_by_cell(_pq_codes(_pq_scored(emb)), emb, cent, out_dir + "/codes_by_cell")
    # centroid/codebook tables are broadcast-sized by construction
    # (|cells| and M x K rows): one file each, not one per shuffle task
    cent.coalesce(1).write.mode("overwrite").parquet(out_dir + "/ivf_centroids")
    pq_cent = _pq_codebook(_pq_subvectors(emb))
    pq_cent.coalesce(1).write.mode("overwrite").parquet(out_dir + "/codebook")


def ivfpq_index_query(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    include_slices: bool = False,
) -> DataFrame:
    """IVF-PQ top-K from the LOADED artifact with STATIC partition
    pruning: probe cells come from the broadcast IVF centroids (a
    driver-side list bounded by NQ x N_PROBE — the serving layer knows
    its probes before the scan), the codes scan filters `cell IN
    (<probes>)` so parquet reads ONLY the probed cell directories, and
    ADC scoring runs sim_ivfpq's exact arithmetic from the loaded
    codebook — bit-identical to the in-plan form (pytest-pinned).

    Scale: scan I/O is the probe fraction of the 42x-compressed
    corpus — the two multiplicative prunings that make billion-vector
    serving cheap, both now visible in the physical plan
    (PartitionFilters + code-word ReadSchema)."""
    from flod_spark.io import recover_swap_dir

    # a compactor can crash between its two renames, leaving the codes
    # base as .compact — repair before serving (idempotent no-op in the
    # healthy state; the crawl_claims_sink discipline on the read side)
    recover_swap_dir(index_dir + "/codes_by_cell")
    ivf_cent = spark.read.parquet(index_dir + "/ivf_centroids")
    qp = _probe(queries.select("query_id", F.col("v").alias("qv")), ivf_cent)
    probe_rows = qp.collect()  # bounded: <= NQ x N_PROBE id pairs
    probe_cells = sorted({r.cell for r in probe_rows})
    # base codes + (opt-in) every advanced slice dir — each root scans
    # with its OWN cell PartitionFilters, so static pruning survives
    # the union (a driver-side dir listing, bounded by slice count)
    paths = [index_dir + "/codes_by_cell"]
    if include_slices:
        import glob as _glob

        from flod_spark.io import dir_has_parquet

        # footer-gated (r14 ADVICE discipline): an advance handed an
        # empty slice leaves a dir with no parquet files — reading it
        # would kill the serve with UNABLE_TO_INFER_SCHEMA
        paths += [
            p
            for p in sorted(_glob.glob(index_dir + "/codes_slice_*"))
            if dir_has_parquet(p)
        ]
    codes = None
    for p in paths:
        part = spark.read.parquet(p).filter(F.col("cell").isin(probe_cells))
        codes = part if codes is None else codes.unionByName(part)
    qp_lit = spark.createDataFrame(
        [(r.query_id, r.cell) for r in probe_rows], "query_id long, cell long"
    )
    cand = (
        codes.join(F.broadcast(qp_lit), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "m", "cid")
    )
    lut = _query_lut(queries, spark.read.parquet(index_dir + "/codebook"))
    return _adc_topk(cand.join(F.broadcast(lut), ["query_id", "m", "cid"]))


_serve_ivfpq_slices = functools.partial(ivfpq_index_query, include_slices=True)


# MRL serve-small / rerank-large: prefix dims for the cheap first pass
# and the candidate width the full-dim rerank refines.
_MRL_PREFIX = 16
_MRL_CAND = 20


def _mrl_oracle() -> str:
    """Two-window-rank twin of the Matryoshka two-stage retrieval:
    stage 1 ranks by the _MRL_PREFIX-dim prefix cosine (list_slice +
    the registry's sequential-fold dot rule — identical IEEE op order
    to Spark's slice + aggregate()), stage 2 re-ranks the top
    _MRL_CAND candidates by full-dim cosine. Both ranks tie-break on
    id, so the chain is exact end to end."""
    cos_p = (
        f"{_DOT.format(a='pq', b='pv')} / "
        f"(sqrt({_DOT.format(a='pq', b='pq')}) * sqrt({_DOT.format(a='pv', b='pv')}))"
    )
    cos_f = (
        f"{_DOT.format(a='qv', b='v')} / "
        f"(sqrt({_DOT.format(a='qv', b='qv')}) * sqrt({_DOT.format(a='v', b='v')}))"
    )
    return (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings "
        "  WHERE embedding IS NOT NULL), "
        f"q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {NQ}), "
        "p AS (SELECT query_id, qv, vec_id, v, "
        f"    list_slice(qv, 1, {_MRL_PREFIX}) AS pq, "
        f"    list_slice(v, 1, {_MRL_PREFIX}) AS pv "
        "  FROM q, e WHERE vec_id <> query_id), "
        f"s1 AS (SELECT query_id, qv, vec_id, v, {cos_p} AS cos_p FROM p), "
        "c AS (SELECT query_id, qv, vec_id, v FROM (SELECT *, "
        "    row_number() OVER (PARTITION BY query_id ORDER BY cos_p DESC, vec_id) AS rn "
        f"  FROM s1) WHERE rn <= {_MRL_CAND}), "
        f"r AS (SELECT query_id, vec_id AS neighbor_id, {cos_f} AS cosine FROM c), "
        "t AS (SELECT query_id, neighbor_id, cosine, "
        "    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk "
        "  FROM r) "
        f"SELECT query_id, neighbor_id, cosine, CAST(rk AS BIGINT) AS rk FROM t WHERE rk <= {K}"
    )


@query("sim_mrl_rerank", oracle=_mrl_oracle())
def sim_mrl_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka two-stage retrieval — the serve-small/rerank-large
    pattern embed_truncate_energy's audit justifies, as an operator:
    stage 1 scores every corpus vector by the _MRL_PREFIX-dim PREFIX
    cosine (a 4x-cheaper scan: prefix slices prune the read and the
    fold touches 16 dims) and keeps the top _MRL_CAND per query;
    stage 2 reranks only those candidates by FULL-dim cosine and
    returns the top K. Both ranks break ties on neighbor_id; all
    folds are the registry's sequential-IEEE dot rule, so the op is
    fully SQL-expressible (registered r12 with the two-window-rank
    oracle above; pytest pins exact equality to a numpy reference plus
    recall vs exact full-dim top-K at gate scale).

    Scale: the production economics of MRL retrieval — the corpus-
    sized pass reads 16 of 64 dims (and at 100 TB the prefix index is
    its own 4x-smaller table or the leading columns of a dimension-
    major layout); the full vectors are fetched for NQ x _MRL_CAND
    rows only. Quality is the energy profile's business: the pytest
    recall floor ties the two."""
    e = _emb_v(spark, sf_dir)
    cos_p = _cos_spark(F.slice("qv", 1, _MRL_PREFIX), F.slice("v", 1, _MRL_PREFIX))
    w1 = Window.partitionBy("query_id").orderBy(F.col("cos_p").desc(), F.col("vec_id"))
    cand = (
        e.join(F.broadcast(_queries(e)), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qv", "vec_id", "v", cos_p.alias("cos_p"))
        .withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= _MRL_CAND)
    )
    cos_f = _cos_spark(F.col("qv"), F.col("v"))
    w2 = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        cand.select(
            "query_id", F.col("vec_id").alias("neighbor_id"), cos_f.alias("cosine")
        )
        .withColumn("rk", F.row_number().over(w2).cast("long"))
        .filter(F.col("rk") <= K)
    )


def _index_gate(spark: SparkSession, sf_dir: str, prefix: str, build, serve, split: bool = False) -> DataFrame:
    """The persisted-index gate: ``build`` an index under a scoped temp
    root, then ``serve(spark, index_dir, queries)`` the first-NQ query
    set from the loaded artifact. ``build`` gets ``(emb, index_dir)``;
    with ``split`` it gets ``(base, new, index_dir)`` — base the corpus
    half vec_id <= mid, new the rest (mid from one min/max job) — the
    train-on-base, advance-with-new lifecycle. The serve materializes
    (serve_and_cleanup) inside the ``with``, so the result never reads
    the tree, and a raise anywhere still removes it."""
    from flod_spark.io import serve_and_cleanup

    emb = _emb_v(spark, sf_dir)
    parts = (emb,)
    if split:
        lo, hi = emb.agg(F.min("vec_id"), F.max("vec_id")).first()
        mid = (lo + hi) // 2
        parts = (emb.filter(F.col("vec_id") <= mid), emb.filter(F.col("vec_id") > mid))
    with tempfile.TemporaryDirectory(prefix=prefix, ignore_cleanup_errors=True) as idx_dir:
        build(*parts, idx_dir)
        return serve_and_cleanup(serve(spark, idx_dir, _queries(emb, v="v")))


@query("sim_pq_adc_persisted", oracle=_pq_adc_oracle())
def sim_pq_adc_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-INDEX serving path, driver-gated (r11 verdict
    item 1): pq_index_save writes the PQ artifact (codebook + code
    words) to parquet, and the registered sim_pq_adc query set is
    answered from the LOADED artifact via pq_index_adc_query — the
    train-once-serve-many shape (FAISS writes .index files; an
    engine-native index IS two tables). Doubles and ids round-trip
    parquet losslessly and the ADC sum adds in the same fixed subspace
    order, so the top-K is bit-identical to the in-plan sim_pq_adc
    (pytest-pinned) and the SAME oracle gates both.

    Scale: the serving economics the in-plan form can only simulate —
    the codes table is the 42x-compressed corpus view read WITHOUT
    touching raw vectors; LUTs broadcast; at 100 TB the artifact
    partitions by IVF cell (sim_ivfpq_persisted) and the codebook
    ships in the task closure."""
    return _index_gate(spark, sf_dir, "flod_pq_index_", pq_index_save, pq_index_adc_query)


@query("sim_ivfpq_persisted", oracle=_ivfpq_oracle())
def sim_ivfpq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED IVF-PQ serving path with STATIC partition pruning,
    driver-gated (r11 verdict item 1): ivfpq_index_save writes the full
    index — PQ codebook, IVF centroids, and the codes table
    PARTITIONED BY CELL — and ivfpq_index_query answers the registered
    sim_ivfpq query set from the loaded artifact: probe cells resolve
    from the broadcast centroids (a bounded NQ x N_PROBE driver list),
    the codes scan filters `cell IN (probes)` so parquet reads ONLY the
    probed cell directories (PartitionFilters pytest-pinned), and ADC
    scoring is bit-identical to the in-plan form — the SAME oracle
    gates both.

    Scale: scan I/O = probe fraction x 42x code compression — the two
    multiplicative prunings that make billion-vector serving cheap,
    both now visible in the physical plan; the cell partitioning is
    the on-disk form of 'bucketed by cell' the sim_ivfpq docstring
    promises."""
    return _index_gate(spark, sf_dir, "flod_ivfpq_index_", ivfpq_index_save, ivfpq_index_query)


# Binary (sign-bit) quantization: 64 dims -> two 32-bit sign words
# (packed low so the 2^63 BIGINT sign bit is never touched), and the
# Hamming shortlist width the exact rerank refines.
_BQ_WORDS = 2
_BQ_CAND = 50


def _bq_word_sql(v: str, w: int) -> str:
    """One packed sign word in DuckDB: bit j of word w is 1 iff
    dimension 32*w + j is positive. Integer sum — order-free, exact."""
    return (
        "CAST(list_sum(list_transform(range(0, 32), j -> "
        f"CASE WHEN {v}[{32 * w} + j + 1] > 0 THEN (CAST(1 AS BIGINT) << j) "
        "ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
    )


def _bq_word_col(v: str, w: int) -> F.Column:
    """The same packed sign word in Spark SQL (identical bit rule; the
    fold is an integer sum, so accumulation order is irrelevant)."""
    return F.expr(
        f"aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, j) -> "
        f"acc + IF(element_at({v}, {32 * w} + j + 1) > 0D, "
        f"shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT)))"
    )


def _bq_oracle() -> str:
    """Two-window-rank twin of the binary-quantized retrieval: stage 1
    ranks by Hamming distance over the packed sign words
    (bit_count(xor(...)) — integer-exact in both engines), stage 2
    re-ranks the top _BQ_CAND candidates by full-dim cosine (the
    registry's sequential-fold dot rule). Both ranks tie-break on id."""
    cos_f = (
        f"{_DOT.format(a='qv', b='v')} / "
        f"(sqrt({_DOT.format(a='qv', b='qv')}) * sqrt({_DOT.format(a='v', b='v')}))"
    )
    packs = ", ".join(f"{_bq_word_sql('v', w)} AS w{w}" for w in range(_BQ_WORDS))
    ham = " + ".join(f"bit_count(xor(qw{w}, w{w}))" for w in range(_BQ_WORDS))
    qcols = ", ".join(f"w{w} AS qw{w}" for w in range(_BQ_WORDS))
    return (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings "
        "  WHERE embedding IS NOT NULL), "
        f"b AS (SELECT vec_id, v, {packs} FROM e), "
        f"q AS (SELECT vec_id AS query_id, v AS qv, {qcols} FROM b WHERE vec_id < {NQ}), "
        "h AS (SELECT query_id, qv, vec_id, v, "
        f"    CAST({ham} AS BIGINT) AS hamming "
        "  FROM q, b WHERE vec_id <> query_id), "
        "c AS (SELECT query_id, qv, vec_id, v, hamming FROM (SELECT *, "
        "    row_number() OVER (PARTITION BY query_id ORDER BY hamming, vec_id) AS rn "
        f"  FROM h) WHERE rn <= {_BQ_CAND}), "
        f"r AS (SELECT query_id, vec_id AS neighbor_id, hamming, {cos_f} AS cosine FROM c), "
        "t AS (SELECT query_id, neighbor_id, hamming, cosine, "
        "    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk "
        "  FROM r) "
        f"SELECT query_id, neighbor_id, hamming, cosine, CAST(rk AS BIGINT) AS rk "
        f"FROM t WHERE rk <= {K}"
    )


@query("sim_binary_rerank", oracle=_bq_oracle())
def sim_binary_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY-QUANTIZED retrieval with exact rerank — the 1-bit
    compression point on the same serve-cheap/rerank-exact axis as
    sim_mrl_rerank (prefix dims) and sim_pq_adc (codebooks): each
    vector's 64 dims collapse to 64 SIGN BITS packed into two 32-bit
    words (64x smaller than float32; bits sit in the low halves of two
    BIGINTs so the 2^63 sign bit is never set), stage 1 scans the
    corpus computing Hamming distance as two bit_count(xor(...))
    integer ops per pair and keeps the top _BQ_CAND per query, and
    stage 2 reranks only those candidates by full-dim cosine. The
    whole op is JVM-side integer/float arithmetic — no UDF — and fully
    SQL-expressible: the oracle packs the same bits and ranks with the
    same tie-breaks, so the chain is exact end to end.

    Scale: the binary-quantization economics every modern vector store
    ships — the corpus-sized pass carries 16 bytes/vector across the
    rank exchange instead of the 512-byte floats (and xor+popcount is
    the cheapest distance there is); full vectors are fetched for
    NQ x _BQ_CAND rows only, via a broadcast candidate join-back plus
    a candidate-sized rerank exchange. At 100 TB the packed words are
    their own two-column table. Recall
    comes from signature width x shortlist fraction: 64 bits is this
    corpus's dimensionality (production uses 512-1024-bit signatures
    at the same 1 bit/dim), so the shortlist carries the load here —
    _BQ_CAND=50 measures 0.68 recall@5 at sf0.01 (floor pinned in
    tests); widen either knob for more."""
    e = _emb_v(spark, sf_dir)
    # the corpus-sized pass carries ONLY (vec_id, packed words) — the
    # stated binary-quantization economics: 16 bytes/vector cross the
    # rank exchange, never the float vectors (at 100 TB the packed
    # words are their own precomputed two-column table)
    b = e.select(
        "vec_id", *[_bq_word_col("v", w).alias(f"w{w}") for w in range(_BQ_WORDS)]
    )
    q = b.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("query_id"),
        *[F.col(f"w{w}").alias(f"qw{w}") for w in range(_BQ_WORDS)],
    )
    ham = F.expr(
        " + ".join(f"bit_count(qw{w} ^ w{w})" for w in range(_BQ_WORDS))
    ).cast("long")
    w1 = Window.partitionBy("query_id").orderBy("hamming", "vec_id")
    cand = (
        b.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", ham.alias("hamming"))
        .withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= _BQ_CAND)
        .drop("rn")
    )
    # full vectors are fetched for the NQ x _BQ_CAND candidates only:
    # broadcast the candidate list against the corpus (map-side), and
    # broadcast the NQ query vectors onto the result
    withv = F.broadcast(cand).join(e, "vec_id").join(F.broadcast(_queries(e)), "query_id")
    cos_f = _cos_spark(F.col("qv"), F.col("v"))
    w2 = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        withv.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "hamming",
            cos_f.alias("cosine"),
        )
        .withColumn("rk", F.row_number().over(w2).cast("long"))
        .filter(F.col("rk") <= K)
    )


def ivfpq_index_advance(
    new_emb: DataFrame,
    spark: SparkSession,
    index_dir: str,
    slice_id: int,
    pq_cent: DataFrame | None = None,
    ivf_cent: DataFrame | None = None,
) -> None:
    """ADVANCE a persisted IVF-PQ index with one slice of NEW vectors —
    the nightly index-maintenance shape (FAISS add_with_ids; the ANN
    analog of advance_claim_table): the slice's vectors are PQ-encoded
    against the LOADED codebook and assigned to the LOADED IVF
    centroids — training never reruns, so all previously served codes
    stay bit-identical — and the slice's codes land as their own
    cell-partitioned directory ``codes_slice_<id>`` (whole-directory
    overwrite: replayed or crash-interrupted advances rewrite their own
    slice and nothing else — the claim-table discipline applied to
    index maintenance). Serve with ivfpq_index_query(include_slices=
    True); slice composition is invisible to queries (pytest-pinned:
    1-slice == 2-slice advance, replays idempotent).

    Scale: encoding is map-side (broadcast codebook/centroids, one
    per-(vec, m) partial-agg argmin) over ONLY the new slice — the
    existing corpus is never rescanned; periodic compaction folds
    slice dirs into the base exactly like compact_claim_table.

    Compaction watermark (r17, closing the r15/r16 documented
    ingest-compaction race IN CODE): compact_ivfpq_index records the
    max slice id it folded; an advance whose slice_id is at or below
    that watermark is a NO-OP — its vectors are already in the base.
    This is the crash sequence that used to duplicate served
    candidates: trigger writes slice N -> process dies before the
    checkpoint commit -> nightly compaction folds-and-deletes slice N
    -> restart re-delivers batch N and recreated the slice, putting
    its codes in base AND slice. The guard costs one tiny file read
    per advance (never a base scan)."""
    wm = _ivfpq_compacted_watermark(index_dir)
    if wm is not None and int(slice_id) <= wm:
        return
    # ``pq_cent`` / ``ivf_cent``: the artifacts are immutable once
    # trained, so a per-trigger caller (ivfpq_ingest_sink) loads them
    # ONCE and passes them in — skipping a dir listing + footer
    # inference pair per trigger (r17, §6). Same rows either way.
    if pq_cent is None:
        pq_cent = spark.read.parquet(index_dir + "/codebook")
    if ivf_cent is None:
        ivf_cent = spark.read.parquet(index_dir + "/ivf_centroids")
    codes = _pq_codes(
        _pq_score_against(_pq_subvectors(new_emb), pq_cent.select("m", "cid", "cv"))
    )
    _write_codes_by_cell(codes, new_emb, ivf_cent, index_dir + f"/codes_slice_{int(slice_id):05d}")


def _ivfpq_advanced_oracle() -> str:
    """_ivfpq_oracle with the IVF centroids drawn from the BASE half
    only (train-on-base, serve-base-plus-new): the PQ codebook is the
    vec_id < _PQ_K subvectors, which sit inside the base half at every
    SF (mid >= _PQ_K), so base-trained and full-corpus codebooks are
    the same rows and only the centroid CTE changes."""
    return _ivfpq_oracle(
        "mm AS (SELECT (MIN(vec_id) + MAX(vec_id)) // 2 AS mid FROM e), "
        "cent AS (SELECT vec_id AS cent_id, v AS cv FROM e, mm WHERE vec_id <= mid "
        f"  ORDER BY substr(md5('c|' || CAST(vec_id AS VARCHAR)), 1, 8), vec_id LIMIT {N_CELLS})"
    )


def _build_advanced(base: DataFrame, new: DataFrame, idx_dir: str) -> None:
    """Train the IVF-PQ index on ``base``, then advance it with ``new``
    as slice 1 (encoded against the loaded artifacts)."""
    ivfpq_index_save(base, idx_dir)
    ivfpq_index_advance(new, new.sparkSession, idx_dir, slice_id=1)


@query("sim_ivfpq_advanced", oracle=_ivfpq_advanced_oracle())
def sim_ivfpq_advanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL IVF-PQ index maintenance, driver-gated — the
    complete nightly ANN pipeline: ivfpq_index_save trains and
    persists the index over the corpus's FIRST HALF, ivfpq_index_advance
    encodes the second half against the loaded codebook/centroids
    (training never reruns) and appends it as its own cell-partitioned
    slice directory, and ivfpq_index_query(include_slices=True) serves
    the combined index with static cell pruning across base and slice
    alike. The oracle is the one-shot twin: the same IVF-PQ query with
    centroids drawn from the base half — slice composition must be
    invisible to queries (also pytest-pinned: 1-slice == 2-slice
    advance, replayed advances idempotent, damaged slices repaired by
    re-advance).

    Scale: the point of the persisted index at 100 TB — nightly
    vector arrivals cost one map-side encode over the NEW slice only
    (broadcast codebook + centroids), prior codes are never rescanned
    or rewritten, and serving I/O stays probe-fraction x 42x
    compression; compaction folds slices like compact_claim_table."""
    return _index_gate(
        spark, sf_dir, "flod_ivfpq_adv_", _build_advanced, _serve_ivfpq_slices, split=True
    )


def _ivfpq_watermark_path(index_dir: str) -> str:
    import os as _os

    return _os.path.join(index_dir, "compacted_slices.txt")


def _ivfpq_compacted_watermark(index_dir: str) -> int | None:
    """Max slice id ever folded into the base, or None before the
    first compaction. One tiny file read — the advance-side guard."""
    import os as _os

    p = _ivfpq_watermark_path(index_dir)
    if not _os.path.exists(p):
        return None
    try:
        with open(p) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return None


def compact_ivfpq_index(spark: SparkSession, index_dir: str) -> None:
    """Periodic IVF-PQ slice COMPACTION (compact_claim_table's pattern
    applied to the index): fold every ``codes_slice_*`` directory back
    into the base ``codes_by_cell`` (a pure union — slices are disjoint
    vec_id ranges and codes never change once written) and atomically
    swap the directory, so the serving read side stays at one
    directory's file count no matter how many nightly advances have
    landed. Service is bit-identical before and after (pytest-pinned).

    CRASH-IDEMPOTENT (r12 advice): recover_swap_dir first finishes any
    half-completed prior swap, and the fold dropDuplicates on
    (vec_id, m) — codes are immutable once written, so duplicates are
    exact — which makes a re-run after a crash between the swap and
    the slice cleanup a no-op on the base instead of silently doubling
    it (pytest-pinned: re-fold with a leftover already-folded slice
    leaves the base row count and served rankings unchanged).

    Scale: one cell-partitioned rewrite of the codes table (the 42x-
    compressed corpus view, not the vectors); on object stores the
    rename is a manifest commit."""
    import glob as _glob
    import shutil as _shutil

    from flod_spark.io import atomic_swap_dir, recover_swap_dir

    base = index_dir + "/codes_by_cell"
    recover_swap_dir(base)
    slices = sorted(_glob.glob(index_dir + "/codes_slice_*"))
    if not slices:
        return
    codes = spark.read.parquet(base)
    for p in slices:
        codes = codes.unionByName(spark.read.parquet(p))
    codes = codes.dropDuplicates(["vec_id", "m"])
    atomic_swap_dir(codes, base, "cell")
    # record the fold watermark BEFORE deleting the slices (r17): an
    # advance replaying a folded slice id sees the watermark and
    # no-ops instead of recreating the slice next to its folded codes
    # (the r15-documented crash-window duplication, now closed in
    # code). Written atomically; monotone across compactions.
    import os as _os

    ids = [int(p.rsplit("_", 1)[-1]) for p in slices]
    prev_wm = _ivfpq_compacted_watermark(index_dir)
    wm = max(ids + ([prev_wm] if prev_wm is not None else []))
    wp = _ivfpq_watermark_path(index_dir)
    with open(wp + ".tmp", "w") as f:
        f.write(str(wm))
    _os.replace(wp + ".tmp", wp)
    for p in slices:
        _shutil.rmtree(p)


@query("sim_ivfpq_compacted", oracle=_ivfpq_advanced_oracle())
def sim_ivfpq_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL persisted-ANN index lifecycle as one driver-gated query
    (r12 verdict item 3): build -> advance -> COMPACT -> serve. Exactly
    sim_ivfpq_advanced's sequence, with compact_ivfpq_index folding the
    advanced slice into the base (dropDuplicates(vec_id, m) +
    atomic_swap_dir) before the serve — service must be bit-identical
    to the uncompacted index (pytest-pinned), so this reuses
    sim_ivfpq_advanced's ORACLE VERBATIM: any fold bug (lost codes,
    doubled codes, a broken swap) surfaces as a hash mismatch. Note
    include_slices stays True — proving the fold left nothing behind
    for the slice-side union to pick up.

    Scale: compaction is one cell-partitioned rewrite of the
    42x-compressed codes table (never the vectors) + a rename
    (manifest commit on object stores); it caps the serving read
    side's file count at one directory no matter how many nightly
    advances have landed, which is what keeps probe-fraction scan
    economics true after months of appends. The gate's index tree is a
    scoped temp root (_index_gate), removed once the serve has
    materialized or when any step raises."""

    def build(base: DataFrame, new: DataFrame, idx_dir: str) -> None:
        _build_advanced(base, new, idx_dir)
        compact_ivfpq_index(spark, idx_dir)

    return _index_gate(spark, sf_dir, "flod_ivfpq_cpt_", build, _serve_ivfpq_slices, split=True)


def ivfpq_ingest_sink(index_dir: str):
    """The foreachBatch sink that ADVANCES a persisted IVF-PQ index as
    vectors arrive — crawl_claims_sink's discipline applied to index
    maintenance (r14 verdict item 6, the last open lifecycle ×
    streaming cross): each micro-batch PQ-encodes against the LOADED
    codebook / IVF centroids (training never reruns; codes are
    per-vector deterministic, so batch boundaries are invisible to the
    serve) and lands as its own ``codes_slice_<batch_id>`` directory —
    a whole-directory overwrite, so a trigger re-delivered after a
    restart-from-checkpoint rewrites its own slice and nothing else
    (ivfpq_index_advance's pinned idempotence). The in-memory guard is
    the same-run fast path only; empty batches leave footer-less slice
    dirs that the serve's dir_has_parquet gate skips.

    Scale: per trigger this is map-side encode over the NEW vectors
    only (broadcast codebook + centroids, one per-(vec, m) argmin) —
    the live twin of the nightly advance; compact_ivfpq_index folds
    slices on the nightly cadence exactly as before.

    The r15-documented ingest/compaction race is CLOSED IN CODE (r17):
    compact_ivfpq_index records the max slice id it folded, and
    ivfpq_index_advance no-ops on any slice_id at or below that
    watermark — a trigger re-delivered after a crash whose slice a
    nightly compaction already folded-and-deleted can no longer
    recreate the slice next to its folded codes (which duplicated
    candidate rows in the served top-K). The guard is one tiny file
    read per advance, not the per-trigger base scan r16 measured as
    too costly; pytest-pinned by replaying the exact crash sequence
    (tests/test_round17_opt.py)."""
    state = {"last": -1, "pq_cent": None, "ivf_cent": None}

    def advance(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= state["last"]:
            return
        sess = batch_df.sparkSession
        if state["pq_cent"] is None:
            # the trained artifacts are immutable for the stream's
            # lifetime: load once, reuse every trigger (r17 — drops a
            # listing + footer-inference pair per trigger)
            state["pq_cent"] = sess.read.parquet(index_dir + "/codebook")
            state["ivf_cent"] = sess.read.parquet(index_dir + "/ivf_centroids")
        ivfpq_index_advance(
            batch_df.select("vec_id", "v"),
            sess,
            index_dir,
            slice_id=int(batch_id),
            pq_cent=state["pq_cent"],
            ivf_cent=state["ivf_cent"],
        )
        state["last"] = batch_id

    return advance


@query("stream_ivfpq_ingest_live", oracle=_ivfpq_advanced_oracle())
def stream_ivfpq_ingest_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE ANN INDEX MAINTENANCE: sim_ivfpq_advanced's lifecycle with
    the advance side driven by a REAL Structured Streaming query —
    ivfpq_index_save trains and persists the index over the corpus's
    first half, then the second half ARRIVES as time-ordered
    micro-batches (replay source) and a foreachBatch sink
    (ivfpq_ingest_sink) encodes each batch against the loaded
    codebook/centroids and appends it as its own cell-partitioned
    slice directory; ivfpq_index_query(include_slices=True) serves the
    combined index after the stream runs dry. Oracle =
    sim_ivfpq_advanced's VERBATIM: codes are per-vector deterministic
    and slices are disjoint, so the streaming ingest's served top-K
    must equal the one-shot batch advance bit-for-bit — batch count,
    trigger pacing, and slice layout all invisible to queries.

    Scale: the production shape for vector corpora that grow while
    they serve — per trigger the cost is a map-side encode of the NEW
    vectors only (broadcast codebook + centroids); the existing codes
    are never rescanned or rewritten; serving I/O stays probe-fraction
    × 42× compression across base + slices; compaction folds slices
    nightly (sim_ivfpq_compacted). Swap the replay source for Kafka
    with zero changes downstream."""
    from flod_spark.streaming.gate import drain, spool

    def build(base: DataFrame, new: DataFrame, idx_dir: str) -> None:
        ivfpq_index_save(base, idx_dir)
        feed = new.withColumn("ingest_ts", F.timestamp_micros(F.col("vec_id") * 1_000_000))
        with spool(spark, feed, "ingest_ts", n_batches=3, tiebreak=("vec_id",)) as sp:
            drain(sp.stream, spark, foreach_batch=ivfpq_ingest_sink(idx_dir))

    return _index_gate(spark, sf_dir, "flod_ivfpq_ing_", build, _serve_ivfpq_slices, split=True)


# Hybrid retrieval constants: per-leg candidate depth, the RRF damping
# constant (60 — the value from the original reciprocal-rank-fusion
# paper, Cormack et al. SIGIR'09), and the fused top-K served.
_RRF_CAND = 20
_RRF_K0 = 60
_RRF_TOP = 10


def _hybrid_rrf_oracle() -> str:
    from flod_spark.catalog.text import _BM25_SHIFT, TOKEN_RE

    cos = _cos_sql("qv", "cv")
    tf = "CAST(len(list_filter(toks, x -> x = t{i})) AS BIGINT)"
    contrib = (
        "(CASE WHEN tf{i} > 0 THEN "
        f"CAST((length(bin(((nd + 1) * {_BM25_SHIFT}) // (df{{i}} + 1))) - 1) "
        "  * (44 * tt * tf{i}) AS DOUBLE) "
        "/ (20 * tt * tf{i} + 6 * tt + 18 * dl * nd) ELSE 0.0 END)"
    )
    return (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings "
        "  WHERE embedding IS NOT NULL), "
        f"dq AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {NQ}), "
        "ds AS (SELECT query_id, e.vec_id AS cand, "
        f"    {cos.replace('cv', 'e.v')} AS cos "
        "  FROM dq, e WHERE e.vec_id <> query_id), "
        "dr AS (SELECT query_id, cand, row_number() OVER "
        "    (PARTITION BY query_id ORDER BY cos DESC, cand) AS rd FROM ds), "
        f"dcand AS (SELECT query_id, cand, rd FROM dr WHERE rd <= {_RRF_CAND}), "
        "t AS (SELECT doc_id, "
        f"    regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks FROM documents), "
        "qt AS (SELECT doc_id AS query_id, toks[1] AS t1, "
        "    CASE WHEN toks[2] IS DISTINCT FROM toks[1] THEN toks[2] END AS t2, "
        "    CASE WHEN toks[3] IS DISTINCT FROM toks[1] "
        "      AND toks[3] IS DISTINCT FROM toks[2] THEN toks[3] END AS t3 "
        f"  FROM t WHERE doc_id < {NQ}), "
        "terms AS (SELECT DISTINCT term FROM (SELECT t1 AS term FROM qt "
        "  UNION SELECT t2 FROM qt UNION SELECT t3 FROM qt) WHERE term IS NOT NULL), "
        "p AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM t), "
        "g AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd, "
        "    CAST(COALESCE(SUM(dl), 0) AS BIGINT) AS tt FROM p), "
        "tdf AS (SELECT term, CAST(SUM(CASE WHEN "
        "    len(list_filter(toks, x -> x = term)) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df "
        "  FROM terms, p GROUP BY term), "
        "qtd AS (SELECT query_id, t1, d1.df AS df1, t2, d2.df AS df2, "
        "    t3, d3.df AS df3 FROM qt "
        "  LEFT JOIN tdf d1 ON qt.t1 = d1.term "
        "  LEFT JOIN tdf d2 ON qt.t2 = d2.term "
        "  LEFT JOIN tdf d3 ON qt.t3 = d3.term), "
        "sp AS (SELECT q.query_id, p.doc_id AS cand, dl, nd, tt, "
        "    df1, df2, df3, "
        + ", ".join(tf.format(i=i) + f" AS tf{i}" for i in (1, 2, 3))
        + "  FROM qtd q, p, g WHERE p.doc_id <> q.query_id), "
        "ss AS (SELECT query_id, cand, "
        + " + ".join(contrib.format(i=i) for i in (1, 2, 3))
        + "    AS score, (tf1 > 0 OR tf2 > 0 OR tf3 > 0) AS matched FROM sp), "
        "sr AS (SELECT query_id, cand, row_number() OVER "
        "    (PARTITION BY query_id ORDER BY score DESC, cand) AS rs "
        "  FROM ss WHERE matched), "
        f"scand AS (SELECT query_id, cand, rs FROM sr WHERE rs <= {_RRF_CAND}), "
        "f AS (SELECT COALESCE(d.query_id, s.query_id) AS query_id, "
        "    COALESCE(d.cand, s.cand) AS doc_id, "
        f"    COALESCE(1.0 / ({_RRF_K0} + d.rd), 0.0) "
        f"      + COALESCE(1.0 / ({_RRF_K0} + s.rs), 0.0) AS rrf "
        "  FROM dcand d FULL JOIN scand s "
        "    ON d.query_id = s.query_id AND d.cand = s.cand), "
        "r AS (SELECT query_id, doc_id, rrf, row_number() OVER "
        "    (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rk FROM f) "
        f"SELECT query_id, doc_id, rrf, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= {_RRF_TOP}"
    )


@query("sim_hybrid_rrf", oracle=_hybrid_rrf_oracle())
def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID RETRIEVAL — sparse (BM25) ⊕ dense (cosine) candidate
    generation fused by reciprocal-rank fusion, the standard two-tower
    serving shape (RRF: Cormack et al., SIGIR'09; every production RAG
    / decontamination-retrieval stack runs some form of this). Query q
    (< NQ) retrieves with BOTH representations of document q: the
    dense leg is sim_topk's brute-force cosine over embeddings to
    depth _RRF_CAND; the sparse leg is bm25_score's INTEGER-EXACT
    algebra generalized to per-query terms — q's first three distinct
    tokens fill fixed slots t1..t3, so each (query, doc) score is a
    written-order sum of three slot contributions (never a
    float SUM over an exploded group, whose partial-agg order would
    diverge cross-engine), with per-term df from one tiny broadcast
    term table. RRF = 1/(60+rank_dense) + 1/(60+rank_sparse) over the
    outer-joined candidate sets — exact IEEE divisions of small ints,
    added in fixed order — ranked with a doc_id tiebreak. Both legs'
    determinism contracts are inherited wholesale (sim_topk's
    sequential-fold dot product, bm25_score's cleared-denominator
    rationals), which is what makes a bit-exact DuckDB oracle of a
    HYBRID ranker possible at all.

    Scale: candidate generation is per-leg and independent — at 100 TB
    the dense leg swaps to the persisted IVF-PQ index
    (sim_ivfpq_persisted) and the sparse leg to an inverted (term,
    doc, tf) layout joined against the broadcast query terms; the
    fusion join touches only NQ × 2·_RRF_CAND (query, cand, rank)
    rows, which is why RRF is the fusion industry default — no score
    calibration across legs, only ranks. The gate's brute-force legs
    are the documented small-NQ forms."""
    from flod_spark.catalog.text import _BM25_SHIFT, TOKEN_RE

    emb = _emb_v(spark, sf_dir)
    # dense-leg norms hoisted (r17, guide §1.2 per-task work): each side's
    # sqrt(dot(x, x)) computes once per ROW on its own side of the cross
    # join instead of once per (cand, query) pair — the join boundary
    # keeps the per-side projects from re-inlining. cos is the same three
    # doubles combined in the same order as _cos_spark (dot / (q_norm *
    # c_norm)), so every value is bit-identical.
    q = _queries(emb, F.sqrt(_dot_spark(F.col("v"), F.col("v"))).alias("qn"))
    c = emb.select(
        F.col("vec_id").alias("cand"),
        F.col("v").alias("cv"),
        F.sqrt(_dot_spark(F.col("v"), F.col("v"))).alias("cn"),
    )
    dense = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cand") != F.col("query_id"))
        .select(
            "query_id",
            "cand",
            (
                _dot_spark(F.col("qv"), F.col("cv"))
                / (F.col("qn") * F.col("cn"))
            ).alias("cos"),
        )
    )
    wd = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cand"))
    dcand = (
        dense.withColumn("rd", F.row_number().over(wd).cast("long"))
        .filter(F.col("rd") <= _RRF_CAND)
        .select("query_id", "cand", "rd")
    )

    docs = load(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), F.lit(0))
    t = docs.select("doc_id", toks.alias("toks"))
    # try_element_at, not element_at: the session runs ANSI mode, where a
    # bare element_at on a <3-token query doc raises
    # INVALID_ARRAY_INDEX_IN_ELEMENT_AT instead of yielding the NULL slot
    # the oracle's toks[i] produces (r15 ADVICE, medium; the text.py
    # convention)
    e1, e2, e3 = (F.try_element_at("toks", F.lit(i)) for i in (1, 2, 3))
    qt = t.filter(F.col("doc_id") < NQ).select(
        F.col("doc_id").alias("query_id"),
        e1.alias("t1"),
        F.when(~e2.eqNullSafe(e1), e2).alias("t2"),
        F.when(~e3.eqNullSafe(e1) & ~e3.eqNullSafe(e2), e3).alias("t3"),
    )
    terms = (
        qt.select(F.explode(F.array("t1", "t2", "t3")).alias("term"))
        .filter(F.col("term").isNotNull())
        .distinct()
    )
    p = t.select("doc_id", F.size("toks").cast("long").alias("dl"), "toks")
    g = p.agg(
        F.count("*").cast("long").alias("nd"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("tt"),
    )
    # INVERTED-INDEX sparse leg (r17, guide §3.2/§4.1) — the docstring's
    # own 100 TB form, now also the gate form. The old shape paid an
    # interpreted array scan per (doc, term) for df and per (doc, query,
    # slot) for tf — O(corpus x terms x doc_len) higher-order-function
    # work. Now ONE codegen explode over the tokens feeds a broadcast
    # semi-join against the tiny query-term set (drops non-matching
    # tokens BEFORE any shuffle), a (doc, term) count gives tf, a
    # per-term count of those rows gives df — a partial-agg groupBy over
    # the <= 3·NQ query terms, broadcast back (a count over a term
    # window would send every matched row of a hot term to one task) —
    # and only MATCHED (query, cand) pairs ever materialize. Value
    # equivalence: tf is the same occurrence count size(filter(toks, =
    # term)) computed by explode + count; df the same contains-count;
    # every score double is the same WHEN tf>0 expression over the same
    # (tf, df, dl, nd, tt) longs — pairs with all-zero tf contributed
    # nothing (they were filtered) and cannot rank. Pinned bitwise
    # against the verbatim old leg in tests/test_round17_opt.py; oracle
    # unchanged and green.
    doc_tf = (
        t.select(
            "doc_id",
            F.size("toks").cast("long").alias("dl"),
            F.explode("toks").alias("term"),
        )
        .join(F.broadcast(terms), "term")
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"), F.max("dl").alias("dl"))
    )
    matched_tf = doc_tf.join(
        F.broadcast(doc_tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))), "term"
    )
    qslots = None
    for i in (1, 2, 3):
        s = qt.select(
            "query_id", F.lit(i).alias("slot"), F.col(f"t{i}").alias("term")
        ).filter(F.col("term").isNotNull())
        qslots = s if qslots is None else qslots.unionByName(s)
    hits = (
        matched_tf.join(F.broadcast(qslots), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
    )
    sp = (
        hits.groupBy("query_id", "doc_id")
        .agg(
            *[
                F.coalesce(
                    F.max(F.when(F.col("slot") == i, F.col("tf"))), F.lit(0)
                ).cast("long").alias(f"tf{i}")
                for i in (1, 2, 3)
            ],
            *[
                F.max(F.when(F.col("slot") == i, F.col("df"))).alias(f"df{i}")
                for i in (1, 2, 3)
            ],
            F.max("dl").alias("dl"),
        )
        .crossJoin(F.broadcast(g))
    )
    score = None
    for i in (1, 2, 3):
        idf = (
            F.length(F.bin(F.expr(f"((nd + 1) * {_BM25_SHIFT}) div (df{i} + 1)"))) - 1
        ).cast("long")
        num = (idf * 44 * F.col("tt") * F.col(f"tf{i}")).cast("double")
        den = (
            20 * F.col("tt") * F.col(f"tf{i}")
            + 6 * F.col("tt")
            + 18 * F.col("dl") * F.col("nd")
        ).cast("double")
        ci = F.when(F.col(f"tf{i}") > 0, num / den).otherwise(F.lit(0.0))
        score = ci if score is None else score + ci
    matched = (F.col("tf1") > 0) | (F.col("tf2") > 0) | (F.col("tf3") > 0)
    ss = sp.select(
        "query_id", F.col("doc_id").alias("cand"), score.alias("score"), matched.alias("m")
    ).filter("m")
    ws = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("cand"))
    scand = (
        ss.withColumn("rs", F.row_number().over(ws).cast("long"))
        .filter(F.col("rs") <= _RRF_CAND)
        .select("query_id", "cand", "rs")
    )

    rrf = F.coalesce(F.lit(1.0) / (F.lit(_RRF_K0) + F.col("rd")), F.lit(0.0)) + F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_K0) + F.col("rs")), F.lit(0.0)
    )
    fused = dcand.join(scand, ["query_id", "cand"], "full").select(
        "query_id", F.col("cand").alias("doc_id"), rrf.alias("rrf")
    )
    wf = Window.partitionBy("query_id").orderBy(F.col("rrf").desc(), F.col("doc_id"))
    return (
        fused.withColumn("rk", F.row_number().over(wf).cast("long"))
        .filter(F.col("rk") <= _RRF_TOP)
    )
