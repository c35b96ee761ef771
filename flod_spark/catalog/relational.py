"""Relational surface (SURVEY.md §2.5 extension mandate).

Absent from the reference (README.md:46 roadmap) — mandated by BASELINE.json.
All thin wrappers over Catalyst-optimized built-ins; oracles are 1:1 SQL.

Determinism: double SUMs go through DECIMAL (exact, order-insensitive) then
back to DOUBLE; every rank has a unique-key tiebreak. See registry.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flod_spark.io import load, ts_micros
from flod_spark.registry import query


# ---------------------------------------------------------- aggregations

@query(
    "agg_group",
    oracle=(
        "SELECT l_returnflag, l_linestatus, "
        "  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
        "  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price, "
        "  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price, "
        "  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge, "
        "  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty, "
        "  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price, "
        "  COUNT(*) AS count_order "
        "FROM lineitem GROUP BY l_returnflag, l_linestatus"
    ),
)
def agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped grouped aggregation (hash agg, partial+final).
    Scale: map-side partial aggregation collapses 100 TB to |groups| rows
    per task before the shuffle; group key cardinality here is tiny (R/A/N
    x O/F) so the exchange is negligible. Decimal sums are exact => safe
    under any partial-agg order. spread=True: the decimal-sum compute is
    the cost here, so under-split local inputs repartition first (no-op on
    a real multi-file table; see io._respread)."""
    li = load(spark, sf_dir, "lineitem", spread=True)
    qty_d = F.col("l_quantity").cast("decimal(18,2)")
    price_d = F.col("l_extendedprice").cast("decimal(18,2)")
    disc_price = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,6)")
    charge = (F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))).cast("decimal(28,6)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty_d).cast("double").alias("sum_qty"),
            F.sum(price_d).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(qty_d).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(price_d).cast("double") / F.count("*")).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "agg_distinct",
    oracle=(
        "SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts, "
        "  COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows "
        "FROM lineitem GROUP BY l_returnflag"
    ),
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (expand + two-phase agg in Catalyst).
    Scale: exact distinct shuffles the distinct pairs; for 100 TB dashboards
    use approx_count_distinct (HLL, no second shuffle) — exposed as
    functions.approx_distinct, excluded from the oracle (not deterministic
    across engines)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


@query("agg_approx")  # deliberately NO oracle: HLL/KLL sketch internals
# are engine-specific, so cross-engine value equality is impossible by
# construction; accuracy is gated in tests/test_corpus_ops.py against
# the exact answers instead (driver records the weaker rows-only check).
def agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates — the 100 TB form of agg_distinct/agg_percentile:
    approx_count_distinct (HyperLogLog++) and percentile_approx both keep
    a CONSTANT-size mergeable state per group, so the shuffle carries one
    sketch per (task, group) instead of the distinct pairs / full sorted
    values their exact twins need — no Expand, no second shuffle, no
    per-group buffering of the data.

    Scale: constant-size mergeable sketch per (task, group); one
    partial-agg shuffle regardless of cardinality."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.approx_count_distinct("l_suppkey").alias("approx_supps"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("approx_median_price"),
        F.count("*").alias("n_rows"),
    )


@query(
    "agg_rollup",
    oracle=(
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
        "  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty "
        "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"
    ),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (Expand operator: one input row -> G rows).
    Scale: expansion factor == #grouping sets (3 here) before partial agg —
    acceptable; CUBE on high-arity keys would not be."""
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
    )


@query(
    "agg_cube",
    oracle=(
        "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, "
        "  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price "
        "FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)"
    ),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two low-cardinality keys (Expand: 4 grouping sets).
    Scale: expansion factor == 2^k grouping sets BEFORE partial agg — fine
    for k<=3 low-cardinality keys; beyond that, compute per-set aggregates
    separately and union (same result, no blow-up)."""
    o = load(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
    )


# ----------------------------------------------------------------- joins

@query(
    "join_equi",
    oracle=(
        "SELECT n.n_name, COUNT(*) AS num_orders, "
        "  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "GROUP BY n.n_name"
    ),
)
def join_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join chain with explicit broadcast of the dimension tables.
    Scale: orders⋈customer would sort-merge at 100 TB (both large, shuffle
    on custkey); customer⋈nation must broadcast (25 rows). We broadcast
    customer too at test SF; AQE converts to shuffle join if it outgrows
    the threshold. Plan asserted broadcast in tests/test_plans.py."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("num_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
        )
    )


@query(
    "join_outer",
    oracle=(
        "SELECT c.c_custkey, c.c_name, COUNT(o.o_orderkey) AS n_orders "
        "FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey "
        "GROUP BY c.c_custkey, c.c_name"
    ),
)
def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders. Scale:
    co-partitioned custkey shuffle join; NULL-padded non-matches flow
    through the count as COUNT(col)=0, never dropped."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        customer.join(orders, orders.o_custkey == customer.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "join_semi",
    oracle=(
        "SELECT p_partkey, p_name FROM part WHERE p_partkey IN "
        "(SELECT l_partkey FROM lineitem WHERE l_quantity > 45)"
    ),
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS). Scale: semi-join needs only the key column
    of the probe side — Catalyst prunes to l_partkey before the shuffle."""
    part = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return part.join(li, part.p_partkey == li.l_partkey, "left_semi").select("p_partkey", "p_name")


@query(
    "join_anti",
    oracle=(
        # Every customer has SOME order in the synthetic data, so the
        # classic never-ordered form returns 0 rows (vacuous gate cell);
        # restricting to URGENT orders yields ~200 rows at sf0.01.
        # IS NOT NULL guard: one NULL in a NOT IN subquery makes the whole
        # predicate UNKNOWN (0 rows) in SQL, while Spark's left_anti keeps
        # non-matching rows — guard so both engines agree if custkeys are
        # ever NULL
        "SELECT c_custkey, c_name FROM customer WHERE c_custkey NOT IN "
        "(SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT' "
        " AND o_custkey IS NOT NULL)"
    ),
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no URGENT order.
    Scale: the priority filter is pushed to the orders scan; the
    filtered side broadcasts at small SF and co-shuffles at large —
    Catalyst's call, both correct."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_asof",
    oracle=(
        "WITH purchases AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'), "
        "clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'), "
        "cand AS (SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts, "
        "  c.event_id AS click_id, c.ts AS click_ts, "
        "  row_number() OVER (PARTITION BY p.event_id ORDER BY c.ts DESC, c.event_id DESC) AS rn "
        "  FROM purchases p JOIN clicks c ON c.user_id = p.user_id AND c.ts <= p.ts) "
        "SELECT purchase_id, user_id, purchase_ts, click_id, click_ts "
        "FROM cand WHERE rn = 1"
    ),
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (SURVEY §2.5): for each purchase, the latest preceding
    click by the same user. Implemented via flod_spark.operators.asof
    (union + single per-key time-sorted window pass — ONE shuffle on the
    key, no conditional-join explosion; tie-break (ts, event_id) total).

    Scale: one key-hash shuffle for the union window pass; no
    range-condition join explosion."""
    from flod_spark.operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    out = asof_join(
        left=purchases,
        right=clicks,
        on="user_id",
        left_time="ts",
        right_time="ts",
        left_cols={"event_id": "purchase_id", "ts": "purchase_ts"},
        right_cols={"event_id": "click_id", "ts": "click_ts"},
        tiebreak="event_id",
    )
    return out.select("purchase_id", "user_id", "purchase_ts", "click_id", "click_ts")


@query(
    "join_asof_nearest",
    oracle=(
        # nearest click per purchase in EITHER direction; direction
        # ties go backward (pandas merge_asof's rule); equal-t ties:
        # backward takes the max event_id, forward the min
        "WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'), "
        "c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'), "
        "b AS (SELECT pid, cid, cts FROM (SELECT p.event_id AS pid, c.event_id AS cid, c.ts AS cts, "
        "    row_number() OVER (PARTITION BY p.event_id ORDER BY c.ts DESC, c.event_id DESC) AS rn "
        "  FROM p JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts) WHERE rn = 1), "
        "f AS (SELECT pid, cid, cts FROM (SELECT p.event_id AS pid, c.event_id AS cid, c.ts AS cts, "
        "    row_number() OVER (PARTITION BY p.event_id ORDER BY c.ts ASC, c.event_id ASC) AS rn "
        "  FROM p JOIN c ON c.user_id = p.user_id AND c.ts > p.ts) WHERE rn = 1) "
        "SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts, "
        "  CASE WHEN f.pid IS NULL OR (b.pid IS NOT NULL "
        "        AND epoch_us(p.ts) - epoch_us(b.cts) <= epoch_us(f.cts) - epoch_us(p.ts)) "
        "       THEN b.cid ELSE f.cid END AS click_id, "
        "  CASE WHEN f.pid IS NULL OR (b.pid IS NOT NULL "
        "        AND epoch_us(p.ts) - epoch_us(b.cts) <= epoch_us(f.cts) - epoch_us(p.ts)) "
        "       THEN b.cts ELSE f.cts END AS click_ts, "
        "  CASE WHEN b.pid IS NULL AND f.pid IS NULL THEN NULL "
        "       WHEN f.pid IS NULL OR (b.pid IS NOT NULL "
        "        AND epoch_us(p.ts) - epoch_us(b.cts) <= epoch_us(f.cts) - epoch_us(p.ts)) "
        "       THEN 'back' ELSE 'fwd' END AS direction "
        "FROM p LEFT JOIN b ON b.pid = p.event_id LEFT JOIN f ON f.pid = p.event_id"
    ),
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-direction as-of join (pandas merge_asof
    direction='nearest'): each purchase takes the click minimizing
    |Δt| within the user, backward winning direction ties — the
    sensor-alignment / quote-matching semantics the backward-only
    join_asof cannot express. Implemented in operators/asof.py::
    asof_join_nearest as ONE union + ONE window sort with two frames
    (backward carry + forward carry) — still a single shuffle on the
    key, no conditional-join explosion, strictly the same cost shape
    as join_asof.

    Scale: identical to join_asof — one hash exchange + per-key sorted
    pass; the second frame reuses the same sort. Purchases with no
    clicks at all keep NULLs (left contract)."""
    from flod_spark.operators.asof import asof_join_nearest

    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    out = asof_join_nearest(
        left=purchases,
        right=clicks,
        on="user_id",
        left_time="ts",
        right_time="ts",
        left_cols={"event_id": "purchase_id", "ts": "purchase_ts"},
        right_cols={"event_id": "click_id", "ts": "click_ts"},
        tiebreak="event_id",
    )
    return out.select(
        "purchase_id", "user_id", "purchase_ts", "click_id", "click_ts", "direction"
    )


@query(
    "join_range",
    oracle=(
        "SELECT e1.event_id AS eid_a, e2.event_id AS eid_b "
        "FROM events e1 JOIN events e2 ON e1.user_id = e2.user_id "
        " AND e2.event_id <> e1.event_id "
        # 1 h window: the 60 s form matches nothing at gate scale (the
        # synthetic event stream is sparse per user) — vacuous gate cell.
        " AND e2.ts >= e1.ts AND e2.ts <= e1.ts + INTERVAL 3600 SECOND "
        "WHERE e1.event_type = 'signup' AND e2.event_type = 'click'"
    ),
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: clicks within 1h after a signup, same user.
    Scale: equi-key on user_id keeps it a hash/sort-merge join; the range
    predicate is a post-join filter within the key group. Without an equi
    key this becomes a bucketed-time join (bucket ts to 60s grains, join on
    adjacent grains) — implemented in operators/rangejoin.py::
    range_join_bucketed and asserted equal to this plan in
    tests/test_operators.py."""
    ev = load(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("eid_a"), F.col("user_id").alias("u"), F.col("ts").alias("ts_a")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("eid_b"), F.col("user_id").alias("u2"), F.col("ts").alias("ts_b")
    )
    joined = s.join(
        c,
        (F.col("u") == F.col("u2"))
        & (F.col("eid_b") != F.col("eid_a"))
        & (F.col("ts_b") >= F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 3600 SECOND")),
    )
    return joined.select("eid_a", "eid_b")


# --------------------------------------------------------------- windows

@query(
    "window_rank",
    oracle=(
        "SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn FROM ("
        "  SELECT o_custkey, o_orderkey, o_totalprice, "
        "    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn "
        "  FROM orders) WHERE rn <= 3"
    ),
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window ranking: top-3 orders per customer. Scale: one shuffle on
    o_custkey; per-key sort is local. Skewed keys -> AQE skew handling or
    pre-aggregate with a bounded heap via mapInPandas (operators note)."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@query(
    "window_running",
    oracle=(
        "SELECT o_custkey, o_orderkey, "
        "  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER "
        "    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
        "     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total, "
        "  lag(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_order "
        "FROM orders"
    ),
)
def window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running totals + lag per customer (frame-based window agg).
    Decimal accumulation keeps prefix sums exact in both engines.

    Scale: window partitioned per customer — frames stream within each
    key, no global sort."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(frame).cast("double").alias("running_total"),
        F.lag("o_orderkey").over(w).alias("prev_order"),
    )


# ------------------------------------------------------------ sort / topk

@query(
    "sort_topk",
    oracle=(
        "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem "
        "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100"
    ),
)
def sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Catalyst plans TakeOrderedAndProject (per-partition
    heap + single merge) — no full sort of 100 TB ever happens. Plan
    asserted in tests/test_plans.py.

    Scale: TakeOrderedAndProject heaps per partition + a single K-row
    merge; no global sort."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .limit(100)
    )


# ---------------------------------------------------------------- set ops

@query(
    "set_union",
    oracle="SELECT o_custkey AS custkey FROM orders UNION SELECT c_custkey AS custkey FROM customer",
)
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct). Scale: union is free (no shuffle); the distinct is
    one hash-agg shuffle on the key."""
    orders = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    customer = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    return orders.union(customer).distinct()


@query(
    "set_intersect",
    oracle="SELECT l_partkey AS partkey FROM lineitem INTERSECT SELECT p_partkey AS partkey FROM part",
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (set semantics, deduplicated): part keys that actually
    shipped. Scale: compiles to a distinct-aggregate + left-semi over
    one hash exchange per side — never a full materialized product."""
    part = load(spark, sf_dir, "part").select(F.col("p_partkey").alias("partkey"))
    li = load(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("partkey"))
    return li.intersect(part)


@query(
    "set_except",
    oracle=(
        # EXCEPT against ALL orders is empty (every custkey orders in the
        # synthetic data) — vacuous gate cell; URGENT-only is ~200 rows.
        "SELECT c_custkey AS custkey FROM customer EXCEPT "
        "SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'"
    ),
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set semantics): customers who never placed an URGENT
    order. Scale: distinct-aggregate + left-anti on one co-partitioned
    exchange per side; the priority filter reaches the orders scan."""
    customer = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("custkey"))
    )
    return customer.exceptAll(orders.distinct()).distinct()


# ------------------------------------------------------------ scalar fns

@query(
    "scalar_fns",
    oracle=(
        "SELECT l_orderkey, l_linenumber, "
        "  l_returnflag || '/' || l_linestatus AS flag_status, "
        "  l_extendedprice * (1 - l_discount) AS net_price, "
        "  CAST(year(l_shipdate) AS INTEGER) AS ship_year, "
        "  CAST(month(l_shipdate) AS INTEGER) AS ship_month, "
        "  CASE WHEN l_quantity > 25 THEN 'H' ELSE 'L' END AS qty_class, "
        "  ABS(l_discount - 0.05) AS disc_dev, "
        "  GREATEST(l_tax, l_discount) AS max_rate, "
        "  l_shipdate + INTERVAL 30 DAY AS ship_plus_30, "
        "  substr(l_returnflag, 1, 1) AS flag1, "
        "  length(l_linestatus) AS status_len "
        "FROM lineitem"
    ),
)
def scalar_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar expression gallery (SURVEY §2.5 'scalar fns'): string, date,
    math, conditional — all whole-stage-codegen JVM expressions (no UDFs).
    Per-row IEEE double arithmetic is bit-identical to the oracle.

    Scale: map-only whole-stage-codegen; runs inside the scan stage."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.concat_ws("/", "l_returnflag", "l_linestatus").alias("flag_status"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        F.year("l_shipdate").alias("ship_year"),
        F.month("l_shipdate").alias("ship_month"),
        F.when(F.col("l_quantity") > 25, "H").otherwise("L").alias("qty_class"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        (F.col("l_shipdate") + F.expr("INTERVAL 30 DAY")).alias("ship_plus_30"),
        F.substring("l_returnflag", 1, 1).alias("flag1"),
        F.length("l_linestatus").alias("status_len"),
    )


@query(
    "tpch_q6",
    oracle=(
        "SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(28,6))) AS DOUBLE) AS revenue "
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
        "AND l_shipdate < TIMESTAMP '1997-01-01' "
        "AND l_discount BETWEEN 0.04 AND 0.07 AND l_quantity < 24"
    ),
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped filter+agg: the pushdown showcase. All four filters
    reach the parquet scan (PushedFilters asserted in tests/test_plans.py);
    only 4 columns are read from a 11-column table.

    Scale: all filters pushed to the parquet scan, 4 of 11 columns read,
    one 1-row aggregate."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.04, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(28,6)"))
            .cast("double")
            .alias("revenue")
        )
    )


@query(
    "agg_pivot",
    oracle=(
        "SELECT o_orderpriority, "
        "  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS F, "
        "  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS O, "
        "  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS P "
        "FROM orders GROUP BY o_orderpriority"
    ),
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long->wide): total price per priority x status. Explicit
    value list — at scale NEVER let pivot infer values (that is an extra
    distinct pass over 100 TB); decimal partial sums as usual.

    Scale: the explicit value list avoids a corpus-wide distinct pass;
    decimal partial sums collapse map-side."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"))
    )


@query(
    "agg_percentile",
    oracle=(
        "SELECT l_returnflag, "
        "  quantile_cont(l_quantity, 0.5) AS median_qty, "
        "  quantile_cont(l_extendedprice, 0.25) AS p25_price, "
        "  quantile_cont(l_extendedprice, 0.75) AS p75_price "
        "FROM lineitem GROUP BY l_returnflag"
    ),
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles per group (Spark percentile
    == DuckDB quantile_cont, bit-identical interpolation). Scale: exact
    percentile buffers the group — for 100 TB switch to approx_percentile
    (t-digest, mergeable partial aggregation); kept exact here because
    the oracle demands determinism."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.5)).alias("median_qty"),
        F.percentile("l_extendedprice", F.lit(0.25)).alias("p25_price"),
        F.percentile("l_extendedprice", F.lit(0.75)).alias("p75_price"),
    )


@query(
    "agg_collect",
    oracle=(
        "SELECT n_regionkey, array_to_string(list(n_name ORDER BY n_name), ',') AS nations "
        "FROM nation GROUP BY n_regionkey"
    ),
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered list aggregation (collect_list + array_sort == DuckDB
    list(ORDER BY)). Scale: list agg is unmergeable beyond memory — only
    sane for bounded groups (here: nations per region)."""
    n = load(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations")
    )


@query(
    "tpch_q3",
    oracle=(
        "SELECT l_orderkey, "
        "  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue, "
        "  o_orderdate "
        "FROM customer, orders, lineitem "
        "WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey "
        "  AND o_orderdate < TIMESTAMP '1997-06-01' AND l_shipdate > TIMESTAMP '1997-06-01' "
        "GROUP BY l_orderkey, o_orderdate "
        "ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"
    ),
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): selective dim filter ->
    broadcast -> fact join -> decimal agg -> top-10. Scale: customer
    filter broadcast-prunes orders; orders⋈lineitem co-shuffles on
    orderkey; TakeOrderedAndProject caps the sort at 10 rows per
    partition. Date filters push to both parquet scans."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1997-06-01")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1997-06-01")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,6)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "tpch_q5",
    oracle=(
        "SELECT n_name, "
        "  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue "
        "FROM customer, orders, lineitem, supplier, nation, region "
        "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey "
        "  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
        "  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey "
        "  AND r_name = 'ASIA' "
        "  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01' "
        "GROUP BY n_name ORDER BY revenue DESC, n_name"
    ),
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local-supplier revenue by nation): the 6-way join
    composite. Scale shape: the dim chain region->nation is broadcast
    into BOTH customer and supplier (two map-side prunes); the only
    co-shuffles are the fact joins orders⋈customer (custkey) and
    lineitem⋈orders (orderkey); supplier is broadcast into the fact
    stream, and the c_nationkey = s_nationkey local-supplier predicate
    runs as a post-join filter on two already-present small columns.
    Final agg has ~|nations| groups — partial-agg collapses it map-side.
    Result ordered by revenue with an n_name tiebreak (deterministic).

    Scale: broadcast dim chain, two co-partitioned fact shuffles,
    map-side-collapsed final aggregate (plan shape above)."""
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    c = load(spark, sf_dir, "customer").join(
        F.broadcast(n.select("n_nationkey")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("c_custkey", "c_nationkey")
    s = load(spark, sf_dir, "supplier").join(
        F.broadcast(n.select(F.col("n_nationkey").alias("sn_key"), "n_name")),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "s_nationkey", "n_name")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,6)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@query(
    "array_fns",
    oracle=(
        "WITH a AS (SELECT l_orderkey, list(l_linenumber ORDER BY l_linenumber) AS arr "
        "  FROM lineitem GROUP BY l_orderkey) "
        "SELECT l_orderkey, "
        "  CAST(len(arr) AS INTEGER) AS n, "
        "  arr[1] AS first_line, "
        "  array_to_string(arr[1:2], ',') AS first_two, "
        "  COALESCE(array_to_string(list_filter(arr, x -> x % 2 = 0), ','), '') AS evens, "
        "  CAST(list_reduce(arr, (acc, x) -> acc + x) AS BIGINT) AS line_sum "
        "FROM a"
    ),
)
def array_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function gallery (SURVEY §2.5 'array fns'): build per-order
    line arrays, then size / element_at / slice / filter / sequential
    fold — all JVM higher-order functions, bitwise-matched to DuckDB's
    list_* twins. List outputs are emitted as joined strings (the
    compare layer cannot sort array cells). Scale: one groupBy shuffle;
    arrays are bounded by lines-per-order (max 7 in TPC-H)."""
    li = load(spark, sf_dir, "lineitem")
    a = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list("l_linenumber")).alias("arr")
    )
    return a.select(
        "l_orderkey",
        F.size("arr").alias("n"),
        F.element_at("arr", 1).alias("first_line"),
        F.array_join(F.slice("arr", 1, 2), ",").alias("first_two"),
        F.array_join(F.filter("arr", lambda x: x % 2 == 0), ",").alias("evens"),
        F.aggregate("arr", F.lit(0).cast("long"), lambda acc, x: acc + x).alias("line_sum"),
    )


SALT_FACTOR = 8


@query(
    "join_salted",
    oracle=(
        "SELECT l_returnflag, COUNT(*) AS n_items, "
        "  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_price "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "WHERE o_orderpriority = '1-URGENT' "
        "GROUP BY l_returnflag"
    ),
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated equi-join: the SALTING pattern as a first-class op.
    The probe side's key is salted with hash(key) % SALT_FACTOR and the
    build side is replicated across all SALT_FACTOR salt values, so one
    hot key's rows spread over SALT_FACTOR reducers instead of one. The
    join RESULT is identical to the plain equi-join (the oracle is the
    unsalted SQL) — salting only changes the exchange's key space.

    Scale: this is the manual lever when AQE's skew-join split cannot
    help (e.g. a hot key inside one aggregation group, or a build side
    that is replicable but not broadcastable). Replication multiplies
    the build side by SALT_FACTOR — pick the factor from the observed
    hot-key multiplicity, not larger. With AQE on (our default), prefer
    spark.sql.adaptive.skewJoin first; this operator shows the shape
    for when you must do it by hand."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag", "l_extendedprice")
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    salted_li = li.withColumn("_salt", F.pmod(F.xxhash64("l_orderkey"), F.lit(SALT_FACTOR)))
    salted_orders = orders.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(SALT_FACTOR - 1)))
    )
    joined = salted_li.join(
        salted_orders,
        (F.col("l_orderkey") == F.col("o_orderkey")) & (salted_li._salt == salted_orders._salt),
    )
    return joined.groupBy("l_returnflag").agg(
        F.count("*").alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(28,6)")).cast("double").alias("sum_price"),
    )


# k-anonymity threshold: a quasi-identifier combination shared by fewer
# than K individuals is a re-identification risk.
_KANON_K = 5


@query(
    "k_anonymity_audit",
    oracle=(
        # quasi-identifiers: nation x market segment x account-balance
        # band (floor to 1000s — the generalization step of the audit)
        "WITH q AS (SELECT c_nationkey, c_mktsegment, "
        "    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band, c_custkey "
        "  FROM customer), "
        "g AS (SELECT c_nationkey, c_mktsegment, bal_band, "
        "    CAST(COUNT(*) AS BIGINT) AS class_size FROM q GROUP BY 1, 2, 3) "
        f"SELECT c_nationkey, c_mktsegment, bal_band, class_size, "
        f"  class_size < {_KANON_K} AS at_risk "
        "FROM g"
    ),
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit — the privacy/governance gate a dataset passes
    before release (Sweeney): rows sharing a quasi-identifier
    combination (nation x market segment x generalized balance band)
    form an equivalence class; classes smaller than _KANON_K are
    re-identification risks the release must generalize or suppress.
    Output is the per-class size with the at-risk flag — the
    suppression worklist. The balance band is floor(bal/1000): one
    identical IEEE division + floor on both engines.

    Scale: one partial-agg groupBy on the QI tuple — |classes| rows
    cross the exchange, never |individuals|; the follow-up suppression
    is a broadcast semi-join of at-risk classes back onto the table
    (join_bloom's shape). l-diversity extends the same aggregate with
    per-class COUNT(DISTINCT sensitive) — the two-level
    sliding_distinct pattern."""
    c = load(spark, sf_dir, "customer")
    g = (
        c.select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
        )
        .groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(F.count("*").alias("class_size"))
    )
    return g.select(
        "c_nationkey", "c_mktsegment", "bal_band", "class_size",
        (F.col("class_size") < _KANON_K).alias("at_risk"),
    )


# Bloom semi-join reduction: filter geometry. M bits / K salted md5
# hashes; with |dim keys| n, FP rate ~ (1 - e^(-K*n/M))^K — at the gate
# scales (n <= ~100) effectively zero, at n = 2000 still < 1e-5.
_BLOOM_M = 1 << 16
_BLOOM_K = 3
_BLOOM_NATION = 3  # dim predicate: suppliers of this nation


def _bloom_pos(col, i: int) -> F.Column:
    """Bit position of hash i for a key (functions/hashbridge.py — the
    one salted-md5 hex-int bridge)."""
    from flod_spark.functions.hashbridge import salted_mod

    return salted_mod(col, f"bf{i}|", _BLOOM_M)


def _bloom_build_words(dim: DataFrame, key: str) -> list[int]:
    """Aggregate a dim side's join keys into the _BLOOM_M-bit filter as
    a list of 64-bit words. The collect is <= min(K*n, M) distinct
    positions — bounded by the constant M, never by the data."""
    pos = dim.select(
        F.explode(
            F.array(*[_bloom_pos(F.col(key), i) for i in range(_BLOOM_K)])
        ).alias("p")
    ).distinct()
    words = [0] * (_BLOOM_M // 64)
    for r in pos.collect():
        words[r["p"] // 64] |= 1 << (r["p"] % 64)
    return words


def _bloom_hit(words: list[int], col) -> F.Column:
    """Map-side membership test of ``col`` against the broadcast word
    mask: all K bit positions set. Shared by join_bloom and its
    no-false-negative pytest, so the test exercises the shipped
    predicate, not a copy."""
    # two's-complement into Spark's signed long literals
    mask = F.array(
        *[F.lit(w - (1 << 64) if w >= (1 << 63) else w).cast("long") for w in words]
    )
    hit = None
    for i in range(_BLOOM_K):
        p = _bloom_pos(col, i)
        b = (
            F.bit_get(
                F.element_at(mask, (p / 64).cast("int") + 1), (p % 64).cast("int")
            )
            == 1
        )
        hit = b if hit is None else (hit & b)
    return hit


@query(
    "join_bloom",
    oracle=(
        # the oracle is the PLAIN equi-join: the bloom prefilter has no
        # false negatives and the exact join removes its false
        # positives, so the result is identical by construction
        "SELECT l_suppkey, COUNT(*) AS n_items, "
        "  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_price "
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
        f"WHERE s_nationkey = {_BLOOM_NATION} "
        "GROUP BY l_suppkey"
    ),
)
def join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction — the RUNTIME-FILTER pattern
    (Spark's InjectRuntimeFilter / ORC-Parquet bloom pushdown) as a
    first-class op: the dim side's join keys build a _BLOOM_M-bit /
    _BLOOM_K-hash filter (salted-md5 bit positions — deterministic
    cross-engine, no RNG), the fact side tests its key against the
    broadcast bitmask MAP-SIDE before the join, and the exact equi-join
    then removes the (provably rare) false positives. No false
    negatives, so the result is bit-identical to the plain join — the
    oracle IS the plain join. The selectivity pytest pins that the
    prefilter genuinely prunes.

    Scale: THE answer when the dim side is too big to broadcast as ROWS
    but its key set compresses to a filter: a 100M-key dim is a ~100 MB
    hash relation yet a 16 MB bloom at 1% FP — the fact side drops
    non-matching rows at the scan (pipelined with the parquet reader,
    before any exchange), shrinking shuffle volume to matches + FP.
    Build is one partial-agg DISTINCT over <= K*n bit positions
    (bounded by M, the constant 64 Ki here), driver state is the M-bit
    mask itself (8 KiB — the 4096-histogram precedent, never
    data-sized), broadcast back as a literal. At petabyte fact scale
    this composes with partition pruning; Spark's own AQE runtime
    filter automates the same shape for selective broadcast joins."""
    dim = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") == _BLOOM_NATION)
        .select("s_suppkey")
    )
    words = _bloom_build_words(dim, "s_suppkey")
    fact = load(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    pre = fact.filter(_bloom_hit(words, F.col("l_suppkey")))
    joined = pre.join(dim, pre.l_suppkey == dim.s_suppkey)
    return joined.groupBy("l_suppkey").agg(
        F.count("*").alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(28,6)")).cast("double").alias("sum_price"),
    )


@query(
    "agg_grouping_sets",
    oracle=(
        "SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n, "
        "  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total "
        "FROM orders GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())"
    ),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS: the general form rollup/cube specialize (each set
    aggregated once, union of results; Spark expands then partial-aggs,
    so the shuffle carries one pre-aggregated row per (set, group) per
    task — same scale shape as agg_group).

    Scale: Expand then partial agg — the shuffle carries one
    pre-aggregated row per (set, group) per task."""
    orders = load(spark, sf_dir, "orders")
    return orders.groupingSets(
        [["o_orderpriority"], ["o_orderstatus"], []], "o_orderpriority", "o_orderstatus"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
    )


@query(
    "window_range_frame",
    oracle=(
        # frame bounds in exact MICROSECONDS on both engines: ts carries
        # sub-second precision, so a seconds-granularity frame would
        # include/exclude boundary peers differently per engine
        "SELECT event_id, user_id, ts, "
        "  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) "
        "    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rolling_1h "
        "FROM events"
    ),
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per-user rolling 1-hour sum by EVENT TIME (the
    value-based frame rowsBetween cannot express — peers are rows within
    the interval, not a row count). Scale: one shuffle on user_id; frames
    are evaluated with a sliding accumulator over each sorted partition.
    (window_running is the ROWS-frame twin.)"""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_micros("ts"))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double").alias("rolling_1h"),
    )


@query(
    "window_reset_cumsum",
    oracle=(
        # gaps-and-islands segmentation (30-min inactivity starts a new
        # segment) + a DECIMAL-exact running sum restarting per segment
        "WITH o AS (SELECT user_id, ts, value, "
        "    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM events), "
        "m AS (SELECT *, CASE WHEN prev IS NULL "
        "    OR epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1 ELSE 0 END AS new_s FROM o), "
        "s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts "
        "    ROWS UNBOUNDED PRECEDING) AS sid FROM m) "
        "SELECT user_id, ts, CAST(sid AS BIGINT) AS segment_id, "
        "  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY user_id, sid "
        "    ORDER BY ts ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value "
        "FROM s"
    ),
)
def window_reset_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONDITIONALLY-RESTARTING running total — the trip/session
    segmentation stat (meter that resets after 30 min of inactivity):
    gaps-and-islands numbers each user's activity segments (the
    stream_session oracle's pattern surfaced as a batch operator), then
    a second window accumulates value within (user, segment) in exact
    DECIMAL, cast once to double per row. (user_id, ts) is unique, so
    both window orders are total and the result is deterministic.

    Scale: two partitioned windows — the segment numbering shuffles on
    user_id, the running sum on (user_id, segment); both frames are
    running accumulators over sorted partitions, never a rescan. The
    live twin is session_window state keyed the same way
    (stream_session_live); at 100 TB the per-user partition is the unit
    of parallelism, exactly like window_running."""
    ev = load(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts")
    us = ts_micros("ts")  # lag the micros expr (ts_micros takes a name)
    prev_us = F.lag(us).over(wu)
    new_s = (prev_us.isNull() | (us - prev_us > 1_800_000_000)).cast("int")
    s = ev.select("user_id", "ts", "value", new_s.alias("new_s")).withColumn(
        "sid",
        F.sum("new_s").over(wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    ws = Window.partitionBy("user_id", "sid").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return s.select(
        "user_id",
        "ts",
        F.col("sid").cast("long").alias("segment_id"),
        F.sum(F.col("value").cast("decimal(18,6)")).over(ws).cast("double").alias("running_value"),
    )


# window_ewma horizon: 8 trailing rows, weight 2^(7-k) at lag k — a
# half-decay EWM truncated to a FIXED horizon so the weights are exact
# integers and the whole estimate stays in DECIMAL until one closing
# divide (an unbounded recursive EWMA is float-order-dependent and
# cannot cross engines bitwise).
_EWMA_H = 8
_EWMA_W = [1 << (_EWMA_H - 1 - k) for k in range(_EWMA_H)]


def _ewma_oracle() -> str:
    lags = ", ".join(
        f"lag(x, {k}) OVER (PARTITION BY user_id ORDER BY ts) AS x{k}"
        for k in range(1, _EWMA_H)
    )
    num = f"{_EWMA_W[0]} * x + " + " + ".join(
        f"COALESCE({_EWMA_W[k]} * x{k}, 0)" for k in range(1, _EWMA_H)
    )
    den = f"{_EWMA_W[0]} + " + " + ".join(
        f"CASE WHEN x{k} IS NOT NULL THEN {_EWMA_W[k]} ELSE 0 END"
        for k in range(1, _EWMA_H)
    )
    return (
        "WITH b AS (SELECT event_id, user_id, ts, "
        "    CAST(value AS DECIMAL(18,6)) AS x FROM events), "
        f"l AS (SELECT event_id, user_id, ts, x, {lags} FROM b) "
        "SELECT event_id, user_id, ts, "
        f"  CAST({num} AS DOUBLE) / ({den}) AS ewma_8 FROM l"
    )


@query("window_ewma", oracle=_ewma_oracle())
def window_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per user — the smoothing
    stat monitoring dashboards draw (recent rows dominate, old rows
    decay by halves), truncated to a fixed _EWMA_H-row horizon so it is
    EXACT: integer weights 2^(H-1-k) multiply DECIMAL values, the
    numerator never leaves decimal until one closing cast, and the
    denominator re-normalizes over the lags that actually exist (the
    pandas ewm(adjust=True) convention), so the first rows of a user
    are unbiased rather than damped toward zero. The recursive
    infinite-horizon form is NOT cross-engine reproducible (every step
    rounds in float, order-dependent) — the truncation is what buys a
    bitwise oracle, and with weight 1/2 the dropped tail is < 1/128 of
    the mass.

    Scale: one shuffle on user_id, then H-1 lag reads over the sorted
    partition — the same single-window budget as window_offset;
    constant state per row, no frame rescans. (user_id, ts) is unique
    here, so the window order is total and deterministic."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    x = F.col("value").cast("decimal(18,6)")
    lags = [x] + [F.lag(x, k).over(w) for k in range(1, _EWMA_H)]
    num = F.lit(_EWMA_W[0]) * lags[0]
    den = F.lit(_EWMA_W[0]).cast("long")
    for k in range(1, _EWMA_H):
        num = num + F.coalesce(F.lit(_EWMA_W[k]) * lags[k], F.lit(0))
        den = den + F.when(lags[k].isNotNull(), F.lit(_EWMA_W[k])).otherwise(0)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        (num.cast("double") / den).alias("ewma_8"),
    )


@query(
    "window_rolling_regression",
    oracle=(
        # rolling least-squares slope from EXACT decimal moment sums
        # over the 1-hour range frame (agg_corr's discipline applied to
        # a window): x = micros since the global min (bounded, so the
        # decimal products never overflow), sums cast to DOUBLE through
        # VARCHAR (DuckDB's direct decimal cast double-rounds), and the
        # closing slope algebra is the identical IEEE op sequence on
        # both engines. den = 0 <=> a single-point frame -> NULL slope.
        "WITH mn AS (SELECT MIN(epoch_us(ts)) AS m0 FROM events), "
        "b AS (SELECT event_id, user_id, ts, epoch_us(ts) - m0 AS x, value "
        "  FROM events, mn), "
        "w AS (SELECT event_id, user_id, ts, "
        "    CAST(COUNT(*) OVER fr AS BIGINT) AS n, "
        # x casts to DECIMAL(24): DuckDB's multiply keeps the MAX
        # operand width (not the sum), so the product type must already
        # hold x^2 (~9e22, 23 digits); Spark widens to p1+p2+1 on its
        # own. Both engines stay exact — only the declared types differ.
        "    SUM(CAST(x AS DECIMAL(24,0))) OVER fr AS dsx, "
        "    SUM(CAST(value AS DECIMAL(18,6))) OVER fr AS dsy, "
        "    SUM(CAST(x AS DECIMAL(24,0)) * CAST(value AS DECIMAL(18,6))) OVER fr AS dsxy, "
        "    SUM(CAST(x AS DECIMAL(24,0)) * CAST(x AS DECIMAL(24,0))) OVER fr AS dsxx "
        "  FROM b WINDOW fr AS (PARTITION BY user_id ORDER BY x "
        "    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)), "
        "c AS (SELECT event_id, user_id, ts, n, "
        "    CAST(CAST(dsx AS VARCHAR) AS DOUBLE) AS sx, "
        "    CAST(CAST(dsy AS VARCHAR) AS DOUBLE) AS sy, "
        "    CAST(CAST(dsxy AS VARCHAR) AS DOUBLE) AS sxy, "
        "    CAST(CAST(dsxx AS VARCHAR) AS DOUBLE) AS sxx FROM w) "
        "SELECT event_id, user_id, ts, n AS n_win, "
        "  CASE WHEN (n * sxx - sx * sx) = 0 THEN NULL "
        "       ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope "
        "FROM c"
    ),
)
def window_rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling least-squares TREND per user — slope of value vs time
    over the trailing 1-hour event-time frame (the drift/anomaly-slope
    stat next to window_rolling_median's level and value_zscore's
    deviation). Exactness is agg_corr's contract lifted into a window:
    the five moments (n, Σx, Σy, Σxy, Σx²) accumulate in DECIMAL over
    the range frame (x = micros since the corpus min, so every product
    stays far under DECIMAL(38)), each sum casts to a correctly-rounded
    double once, and slope = (nΣxy-ΣxΣy)/(nΣx²-(Σx)²) is the same IEEE
    op sequence on both engines. A single-point frame has den = 0
    exactly (x < 2^53 is exact, both engines round x² identically) and
    yields NULL, not NaN.

    Scale: one shuffle on user_id; the range frame evaluates with a
    sliding two-pointer accumulator per sorted partition — decimal adds
    are invertible, so Spark maintains the frame incrementally instead
    of rescanning it (the reason moments beat a per-frame UDAF). The
    global-min offset is a 1-row broadcast."""
    ev = load(spark, sf_dir, "events")
    m0 = ev.agg(F.min(ts_micros("ts")).alias("m0"))
    b = ev.crossJoin(F.broadcast(m0)).select(
        "event_id",
        "user_id",
        "ts",
        (ts_micros("ts") - F.col("m0")).alias("x"),
        "value",
    )
    fr = (
        Window.partitionBy("user_id")
        .orderBy("x")
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    xd = F.col("x").cast("decimal(18,0)")
    yd = F.col("value").cast("decimal(18,6)")
    w = b.select(
        "event_id",
        "user_id",
        "ts",
        F.count("*").over(fr).alias("n"),
        F.sum(xd).over(fr).cast("double").alias("sx"),
        F.sum(yd).over(fr).cast("double").alias("sy"),
        F.sum(xd * yd).over(fr).cast("double").alias("sxy"),
        F.sum(xd * xd).over(fr).cast("double").alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    den = n * F.col("sxx") - sx * sx
    num = n * F.col("sxy") - sx * sy
    return w.select(
        "event_id",
        "user_id",
        "ts",
        n.alias("n_win"),
        F.when(den == 0, F.lit(None).cast("double")).otherwise(num / den).alias("slope"),
    )


@query(
    "tpch_q10",
    oracle=(
        "SELECT c_custkey, c_name, "
        "  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue, "
        "  c_acctbal, n_name "
        "FROM customer, orders, lineitem, nation "
        "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey "
        "  AND o_orderdate >= TIMESTAMP '1997-03-01' AND o_orderdate < TIMESTAMP '1997-06-01' "
        "  AND l_returnflag = 'R' AND c_nationkey = n_nationkey "
        "GROUP BY c_custkey, c_name, c_acctbal, n_name "
        "ORDER BY revenue DESC, c_custkey LIMIT 20"
    ),
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): fact⋈fact co-shuffle +
    broadcast dim + top-20. Scale: the quarter filter prunes orders at
    the scan and the returnflag filter prunes lineitem; orders⋈lineitem
    co-shuffles on orderkey; customer (fact-sized at scale) co-shuffles
    on custkey; nation broadcasts. Top-20 is TakeOrderedAndProject
    (per-partition heap, no global sort)."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-06-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,6)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "tpch_q14",
    oracle=(
        # promo_pct is computed in DOUBLE from the two exact decimal sums
        # with a fixed op order (cast, *100.0, /) so both engines emit the
        # same bits; never divide the decimals directly (scale/rounding
        # rules differ between engines).
        "WITH s AS (SELECT "
        "    SUM(CASE WHEN p_type = 'PROMO' "
        "      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)) "
        "      ELSE CAST(0 AS DECIMAL(28,6)) END) AS promo, "
        "    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS total "
        "  FROM lineitem, part "
        "  WHERE l_partkey = p_partkey "
        "    AND l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01') "
        "SELECT CAST(promo AS DOUBLE) AS promo_revenue, "
        "  CAST(total AS DOUBLE) AS total_revenue, "
        "  CAST(promo AS DOUBLE) * 100.0 / CAST(total AS DOUBLE) AS promo_pct "
        "FROM s"
    ),
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): conditional aggregate ratio.
    Scale: the month filter pushes to the lineitem scan; part broadcasts
    (dimension) so the join is map-side; both sums collapse map-side to
    one row per task — the exchange carries |tasks| rows."""
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,6)")
    zero = F.lit(0).cast("decimal(28,6)")
    s = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)).alias("promo"),
        F.sum(rev).alias("total"),
    )
    promo_d = F.col("promo").cast("double")
    total_d = F.col("total").cast("double")
    return s.select(
        promo_d.alias("promo_revenue"),
        total_d.alias("total_revenue"),
        (promo_d * F.lit(100.0) / total_d).alias("promo_pct"),
    )


Q18_QTY_THRESHOLD = 250


@query(
    "tpch_q18",
    oracle=(
        "SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, "
        "  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty "
        "FROM customer, orders, lineitem "
        f"WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem "
        f"    GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > {Q18_QTY_THRESHOLD}) "
        "  AND c_custkey = o_custkey AND o_orderkey = l_orderkey "
        "GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice "
        "ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100"
    ),
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): aggregate-filtered SEMI
    join. Scale: the HAVING subquery aggregates lineitem on orderkey
    (partial agg map-side), and the surviving keeper set (~1% of orders
    at threshold 250) joins back as LEFT SEMI on the same orderkey
    partitioning — Catalyst reuses the exchange; customer broadcasts
    against the tiny filtered order set. Top-100 via
    TakeOrderedAndProject."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("q"))
        .filter(F.col("q") > Q18_QTY_THRESHOLD)
        .select("l_orderkey")
    )
    li_big = li.join(big.withColumnRenamed("l_orderkey", "bk"),
                     F.col("l_orderkey") == F.col("bk"), "left_semi")
    return (
        li_big.join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(qty).cast("double").alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(100)
    )


@query(
    "tpch_q1",
    oracle=(
        "SELECT l_returnflag, l_linestatus, "
        "  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
        "  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price, "
        "  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price, "
        "  CAST(SUM(CAST((l_extendedprice * (1 - l_discount)) * (1 + l_tax) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge, "
        "  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty, "
        "  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price, "
        "  CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_disc, "
        "  COUNT(*) AS count_order "
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
        "GROUP BY l_returnflag, l_linestatus"
    ),
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary): the canonical wide-aggregate scan.
    Eight aggregates over one filtered pass; averages are computed as
    exact-decimal-sum / count (bit-identical cross-engine; AVG's native
    double accumulation is not). Scale: single partial-agg shuffle of
    |flags×statuses| rows per task; the shipdate filter and the 7-column
    projection push into the parquet scan."""
    li = load(spark, sf_dir, "lineitem")
    disc = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast("decimal(28,6)")
    charge = (
        (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))) * (F.lit(1) + F.col("l_tax"))
    ).cast("decimal(28,6)")
    n = F.count("*")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_base_price"),
            F.sum(disc).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double") / n).alias("avg_qty"),
            (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double") / n).alias("avg_price"),
            (F.sum(F.col("l_discount").cast("decimal(18,6)")).cast("double") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@query(
    "merge_upsert",
    oracle=(
        # deterministic synthetic "update batch": every doc_id % 3 == 0
        # arrives again as version 2 with transformed text; latest wins
        "WITH base AS (SELECT doc_id, text, 1 AS version FROM documents), "
        "updates AS (SELECT doc_id, upper(substr(text, 1, 100)) AS text, 2 AS version "
        "  FROM documents WHERE doc_id % 3 = 0), "
        "u AS (SELECT * FROM base UNION ALL SELECT * FROM updates), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY version DESC) AS rn FROM u) "
        "SELECT doc_id, text, version FROM r WHERE rn = 1"
    ),
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus ingestion: MERGE an update batch into the base
    table, latest version per key wins — the recrawl/refresh maintenance
    op every living training corpus needs. union + per-key latest via
    row_number DESC = 1, which Catalyst executes as WindowGroupLimit
    (each task ships at most one candidate row per key per side before
    the exchange — the dedup_ngram bounding trick applied to upsert).
    Scale: one shuffle on the merge key; at table scale this is the
    Delta/Iceberg MERGE fast path expressed on plain DataFrames."""
    docs = load(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text", F.lit(1).alias("version"))
    updates = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", F.upper(F.substring("text", 1, 100)).alias("text"), F.lit(2).alias("version")
    )
    u = base.unionByName(updates)
    w = Window.partitionBy("doc_id").orderBy(F.col("version").desc())
    return (
        u.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "text", "version")
    )


def _dist_over_total_order(
    df: DataFrame, order_cols: list[str | Column], n_buckets: int
) -> DataFrame:
    """Distribution-function arithmetic over a TOTAL order, without the
    single-partition global window (the one 100 TB killer pattern): a
    gap-free global rank from seq.with_seq's bucketed machinery (one
    hash exchange, P-row offset table) + a broadcast 1-row total count.
    Because the order is total (unique tiebreak), rank == row_number ==
    seq+1, so the SQL-standard definitions collapse to arithmetic:
      percent_rank = seq/(n-1)      cume_dist = (seq+1)/n
      ntile(k): first n%k buckets get ceil(n/k) rows, the rest floor —
        bucket = seq div (base+1) while seq < r*(base+1), else
        r + (seq-cut) div base   (base = n div k, r = n%k, cut = r*(base+1))
    The double divisions are the same IEEE ops the engines' built-in
    percent_rank/cume_dist perform, so results match bitwise."""
    from flod_spark.seq import SEQ, with_seq

    s = with_seq(df, *order_cols)
    total = df.agg(F.count("*").alias("_n"))
    j = s.crossJoin(F.broadcast(total))
    seq, n = F.col(SEQ), F.col("_n")
    k = F.lit(n_buckets)
    base = F.floor(n / k).cast("long")
    r = (n % k).cast("long")
    cut = r * (base + 1)
    ntile = (
        F.when(seq < cut, F.floor(seq / (base + 1)))
        .otherwise(r + F.floor((seq - cut) / base))
        .cast("long")
        + 1
    )
    pct = F.when(n > 1, seq.cast("double") / (n - 1).cast("double")).otherwise(F.lit(0.0))
    cume = (seq + 1).cast("double") / n.cast("double")
    return j.select(
        "*",
        pct.alias("_pct_rank"),
        cume.alias("_cume_dist"),
        ntile.alias("_ntile"),
    ).drop("_n")


@query(
    "quality_buckets",
    oracle=(
        # curriculum-bucketing: decile of docs by a deterministic quality
        # proxy (token count), tie-broken by doc_id for a total order
        "WITH s AS (SELECT doc_id, "
        "    CAST(length(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens "
        "  FROM documents) "
        "SELECT doc_id, n_tokens, "
        "  CAST(ntile(10) OVER (ORDER BY n_tokens, doc_id) AS BIGINT) AS bucket "
        "FROM s"
    ),
)
def quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile bucketing by a quality proxy — the curriculum/mixture
    knob (sample bucket 10 more than bucket 1). ntile over a TOTAL order
    (score, doc_id) is engine-deterministic, and because the order is
    total it reduces to rank arithmetic: _dist_over_total_order computes
    the exact global rank via the with_seq bucket machinery (boundary
    sample -> one hash exchange -> P-row offsets) instead of the
    single-partition global-sort window, so the EXACT ntile is computed
    scale-out — no WindowExec without partitioning anywhere in the plan.

    Scale: bucketed rank machinery — one hash exchange; no
    single-partition window in the plan."""
    from flod_spark.catalog.text import TOKEN_RE

    docs = load(spark, sf_dir, "documents")
    s = docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), F.lit(0)))
        .cast("long")
        .alias("n_tokens"),
    )
    d = _dist_over_total_order(s, ["n_tokens", "doc_id"], 10)
    return d.select("doc_id", "n_tokens", F.col("_ntile").alias("bucket"))


@query(
    "key_skew_stats",
    oracle=(
        # the pre-join profiling every 100 TB pipeline runs before
        # choosing salt factors / AQE thresholds: per-key frequency
        # distribution of the join key, reduced to decision stats
        "WITH c AS (SELECT l_suppkey AS key, COUNT(*) AS n FROM lineitem GROUP BY l_suppkey) "
        "SELECT COUNT(*) AS n_keys, CAST(SUM(n) AS BIGINT) AS n_rows, "
        "  MAX(n) AS max_key_rows, "
        "  CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mean_key_rows, "
        "  CAST(MAX(n) AS DOUBLE) / (CAST(SUM(n) AS DOUBLE) / COUNT(*)) AS skew_ratio, "
        "  CAST(COUNT(CASE WHEN n > 2 * (SELECT CAST(SUM(n) AS DOUBLE) / COUNT(*) FROM c) "
        "    THEN 1 END) AS BIGINT) AS n_hot_keys "
        "FROM c"
    ),
)
def key_skew_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile: per-key counts reduced to the stats that
    drive physical-strategy choices (salt factor ~ skew_ratio; AQE skew
    threshold ~ max_key_rows; broadcast eligibility ~ n_keys). Scale:
    one partial-agg shuffle of |keys| rows, then a single-row reduce —
    the profile is O(keys), never O(rows). This is join_salted's
    decision input expressed as a query."""
    li = load(spark, sf_dir, "lineitem")
    c = li.groupBy(F.col("l_suppkey").alias("key")).agg(F.count("*").alias("n"))
    stats = c.agg(
        F.count("*").alias("n_keys"),
        F.sum("n").cast("long").alias("n_rows"),
        F.max("n").alias("max_key_rows"),
    )
    mean = F.col("n_rows").cast("double") / F.col("n_keys")
    # hot-key count needs the mean — a 1-row broadcast back over the
    # per-key counts (second pass over |keys| rows, never over the data)
    hot = (
        c.crossJoin(F.broadcast(stats.select(mean.alias("_mean"))))
        .filter(F.col("n") > F.lit(2) * F.col("_mean"))
        .agg(F.count("*").alias("n_hot_keys"))
    )
    return stats.crossJoin(hot).select(
        "n_keys",
        "n_rows",
        "max_key_rows",
        mean.alias("mean_key_rows"),
        (F.col("max_key_rows").cast("double") / mean).alias("skew_ratio"),
        "n_hot_keys",
    )


@query(
    "tpch_q7",
    oracle=(
        "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
        "  CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year, "
        "  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue "
        "FROM supplier, lineitem, orders, customer, nation n1, nation n2 "
        "WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey AND c_custkey = o_custkey "
        "  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey "
        "  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') "
        "    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) "
        "  AND l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31' "
        "GROUP BY supp_nation, cust_nation, l_year"
    ),
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): bidirectional nation-pair trade by
    year. Scale: the two nation filters broadcast and PRUNE both fact
    sides before the lineitem⋈orders shuffle (only rows of two nations
    survive); the final agg is a tiny partial-agg exchange."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation"))
    j = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("nk1"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("nk2"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
                | (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
            )
            & F.col("l_shipdate").between(
                F.lit("1995-01-01").cast("timestamp"), F.lit("1996-12-31").cast("timestamp")
            )
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
    ).agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,6)"))
        .cast("double")
        .alias("revenue")
    )


@query(
    "tpch_q8",
    oracle=(
        "WITH all_n AS (SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year, "
        "    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)) AS volume, "
        "    n2.n_name AS nation "
        "  FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region "
        "  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey AND l_orderkey = o_orderkey "
        "    AND o_custkey = c_custkey AND c_nationkey = n1.n_nationkey "
        "    AND n1.n_regionkey = r_regionkey AND r_name = 'AMERICA' "
        "    AND s_nationkey = n2.n_nationkey AND p_type = 'ECONOMY' "
        "    AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31') "
        "SELECT o_year, "
        "  CAST(SUM(CASE WHEN nation = 'NATION_5' THEN volume ELSE CAST(0 AS DECIMAL(28,6)) END) "
        "    AS DOUBLE) / CAST(SUM(volume) AS DOUBLE) AS mkt_share "
        "FROM all_n GROUP BY o_year"
    ),
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): one nation's share of ECONOMY-
    part revenue sold into AMERICA, by year. Scale: part/region/nation/
    customer/supplier all broadcast (dimension chain); lineitem⋈orders
    is the only big shuffle; share = ratio of two exact decimal sums
    (deterministic under any partial-agg order)."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    p = load(spark, sf_dir, "part")
    n1 = n.select(F.col("n_nationkey").alias("nk1"), F.col("n_regionkey").alias("rk1"))
    n2 = n.select(F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("nation"))
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,6)")
    j = (
        li.join(F.broadcast(p.filter(F.col("p_type") == "ECONOMY")), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(
            o.filter(
                F.col("o_orderdate").between(
                    F.lit("1995-01-01").cast("timestamp"), F.lit("1996-12-31").cast("timestamp")
                )
            ),
            li.l_orderkey == o.o_orderkey,
        )
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("nk1"))
        .join(F.broadcast(r.filter(F.col("r_name") == "AMERICA")), F.col("rk1") == r.r_regionkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("nk2"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            vol.alias("volume"),
            "nation",
        )
    )
    zero = F.lit(0).cast("decimal(28,6)")
    return j.groupBy("o_year").agg(
        (
            F.sum(F.when(F.col("nation") == "NATION_5", F.col("volume")).otherwise(zero)).cast(
                "double"
            )
            / F.sum("volume").cast("double")
        ).alias("mkt_share")
    )


@query(
    "tpch_q17",
    oracle=(
        # quantities are whole numbers in doubles, so AVG is an exact
        # integer-sum / count in both engines — the 0.2*avg threshold is
        # bit-identical and the comparison deterministic
        "SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly "
        "FROM lineitem, part "
        "WHERE p_partkey = l_partkey AND p_brand = 'Brand#12' AND p_size <= 15 "
        "  AND l_quantity < (SELECT 0.2 * AVG(l_quantity) FROM lineitem l2 "
        "    WHERE l2.l_partkey = p_partkey)"
    ),
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): revenue of below-1/5-of-
    average-quantity orders for one brand's small parts. The correlated
    scalar subquery is DECORRELATED by hand into the scale shape: one
    partial-agg per-part average over lineitem (exact — integer-valued
    quantities), broadcast-joined back; Catalyst plans the same for the
    subquery form, written explicitly here so the plan is pinned.

    Scale: decorrelated per-part average broadcast back over the fact
    scan; one partial-agg shuffle."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    parts = F.broadcast(
        p.filter((F.col("p_brand") == "Brand#12") & (F.col("p_size") <= 15)).select("p_partkey")
    )
    avgs = (
        li.join(parts, li.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey")
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("thr"))
    )
    return (
        li.join(F.broadcast(avgs.withColumnRenamed("l_partkey", "pk")), li.l_partkey == F.col("pk"))
        .filter(F.col("l_quantity") < F.col("thr"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double") / 7.0).alias(
                "avg_yearly"
            )
        )
    )


@query(
    "null_semantics",
    oracle=(
        # planted NULLs (testdata has none) exercise three-valued logic:
        # COUNT skips NULLs, `=` is never true against NULL, and the
        # null-safe comparator (Spark <=>, SQL IS NOT DISTINCT FROM)
        # treats NULL as a value
        "WITH t AS (SELECT o_orderkey, "
        "    CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderstatus END AS s1, "
        "    CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderstatus END AS s2 "
        "  FROM orders) "
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "  CAST(COUNT(s1) AS BIGINT) AS n_s1, "
        "  CAST(COUNT(CASE WHEN s1 = s2 THEN 1 END) AS BIGINT) AS n_eq, "
        "  CAST(COUNT(CASE WHEN s1 IS NOT DISTINCT FROM s2 THEN 1 END) AS BIGINT) AS n_eq_nullsafe, "
        "  CAST(COUNT(CASE WHEN coalesce(s1, '?') = coalesce(s2, '?') THEN 1 END) AS BIGINT) "
        "    AS n_eq_coalesce "
        "FROM t"
    ),
)
def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-semantics gallery: COUNT(col) vs COUNT(*), plain `=` under
    three-valued logic, Spark's null-safe `<=>` (ANSI IS NOT DISTINCT
    FROM), and the coalesce idiom — the correctness corners every
    engine switch trips over (flod's typed streams have no NULL; the
    relational surface must get it right). Map-only + one 1-row agg.

    Scale: map-only expressions plus one 1-row aggregate."""
    o = load(spark, sf_dir, "orders")
    t = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, None).otherwise(F.col("o_orderstatus")).alias("s1"),
        F.when(F.col("o_orderkey") % 7 == 0, None).otherwise(F.col("o_orderstatus")).alias("s2"),
    )
    return t.agg(
        F.count("*").alias("n_rows"),
        F.count("s1").alias("n_s1"),
        F.count(F.when(F.col("s1") == F.col("s2"), 1)).alias("n_eq"),
        F.count(F.when(F.col("s1").eqNullSafe(F.col("s2")), 1)).alias("n_eq_nullsafe"),
        F.count(
            F.when(F.coalesce("s1", F.lit("?")) == F.coalesce("s2", F.lit("?")), 1)
        ).alias("n_eq_coalesce"),
    )


@query(
    "window_dist",
    oracle=(
        # distribution window functions over a TOTAL order (price, then
        # unique line key) — rank-family completeness next to window_rank
        "SELECT l_orderkey, l_linenumber, "
        "  percent_rank() OVER w AS pct_rank, "
        "  cume_dist() OVER w AS cume, "
        "  CAST(ntile(4) OVER w AS BIGINT) AS quartile "
        "FROM lineitem "
        "WINDOW w AS (ORDER BY l_extendedprice, l_orderkey, l_linenumber)"
    ),
)
def window_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (percent_rank / cume_dist / ntile)
    over a total order — the rank-family completion of window_rank.
    The order includes the (l_orderkey, l_linenumber) PK, so rank ==
    row_number and all three reduce to arithmetic over the gap-free
    global seq from _dist_over_total_order — the bucketed with_seq plan
    (one hash exchange) replaces the single-partition global-sort
    window while producing bitwise-identical doubles (same IEEE
    divisions the built-in window functions perform).

    Scale: the bucketed with_seq plan (one hash exchange) replaces the
    single-partition global-sort window."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    d = _dist_over_total_order(li, ["l_extendedprice", "l_orderkey", "l_linenumber"], 4)
    return d.select(
        "l_orderkey",
        "l_linenumber",
        F.col("_pct_rank").alias("pct_rank"),
        F.col("_cume_dist").alias("cume"),
        F.col("_ntile").alias("quartile"),
    )


@query(
    "value_zscore",
    oracle=(
        # per-user z-scores with moments from EXACT decimal sums: mean
        # and variance become identical doubles in both engines, and the
        # per-row (x-mean)/sd arithmetic is IEEE-identical after that
        # s2's scale-12 decimal exceeds 2^53 unscaled, where DuckDB's
        # direct decimal->double cast double-rounds — VARCHAR round-trip
        # is correctly rounded on both engines (agg_corr's rule)
        "WITH m AS (SELECT user_id, COUNT(*) AS n, "
        "    CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS s1, "
        "    CAST(CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS s2 "
        "  FROM events GROUP BY user_id) "
        "SELECT e.event_id, e.user_id, e.value, "
        "  (e.value - m.s1 / m.n) / sqrt(m.s2 / m.n - (m.s1 / m.n) * (m.s1 / m.n)) AS z, "
        "  abs((e.value - m.s1 / m.n) / sqrt(m.s2 / m.n - (m.s1 / m.n) * (m.s1 / m.n))) > 2 "
        "    AS is_outlier "
        "FROM events e JOIN m ON e.user_id = m.user_id "
        "WHERE m.n > 1 AND m.s2 / m.n - (m.s1 / m.n) * (m.s1 / m.n) > 0"
    ),
)
def value_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity z-score outlier flags — the numeric data-quality pass
    (drop or down-weight anomalous readings before training). Moments
    come from exact decimal sums (order-independent), so mean/sd are
    bit-identical cross-engine and the per-row z arithmetic follows.
    Degenerate groups (all values identical -> sd = 0) are excluded
    IDENTICALLY on both sides: Spark's non-ANSI x/0.0 yields NULL while
    DuckDB yields inf/nan, so a sd=0 row could never hash-match — the
    variance>0 predicate removes the divergence at the source.
    Scale: one partial-agg shuffle for the moments; the join back is
    co-partitioned on user_id; everything else is map-side."""
    ev = load(spark, sf_dir, "events")
    vd = F.col("value").cast("decimal(18,6)")
    m = ev.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(vd).cast("double").alias("s1"),
        F.sum(vd * vd).cast("double").alias("s2"),
    )
    var = F.col("s2") / F.col("n") - (F.col("s1") / F.col("n")) * (F.col("s1") / F.col("n"))
    j = ev.join(m.filter((F.col("n") > 1) & (var > 0)), "user_id")
    mean = F.col("s1") / F.col("n")
    sd = F.sqrt(F.col("s2") / F.col("n") - mean * mean)
    z = (F.col("value") - mean) / sd
    return j.select(
        "event_id",
        "user_id",
        "value",
        z.alias("z"),
        (F.abs(z) > 2).alias("is_outlier"),
    )


@query(
    "join_asof_tol",
    oracle=(
        # as-of with a 30-minute TOLERANCE: a preceding click older than
        # the bound does not count (market-data semantics: a stale quote
        # must not price a trade). LEFT form keeps unmatched purchases.
        "WITH purchases AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'), "
        "clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'), "
        "cand AS (SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts, "
        "  c.event_id AS click_id, c.ts AS click_ts, "
        "  row_number() OVER (PARTITION BY p.event_id ORDER BY c.ts DESC, c.event_id DESC) AS rn "
        "  FROM purchases p JOIN clicks c ON c.user_id = p.user_id AND c.ts <= p.ts), "
        "m AS (SELECT purchase_id, user_id, purchase_ts, click_id, click_ts FROM cand WHERE rn = 1) "
        "SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts, "
        "  CASE WHEN epoch_us(p.ts) - epoch_us(m.click_ts) <= 1800000000 "
        "    THEN m.click_id END AS click_id, "
        "  CASE WHEN epoch_us(p.ts) - epoch_us(m.click_ts) <= 1800000000 "
        "    THEN m.click_ts END AS click_ts, "
        "  COALESCE(epoch_us(p.ts) - epoch_us(m.click_ts) <= 1800000000, FALSE) AS within_tol "
        "FROM purchases p LEFT JOIN m ON p.event_id = m.purchase_id"
    ),
)
def join_asof_tol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with TOLERANCE (left form): latest preceding click per
    purchase, but only if within 30 minutes — beyond it the match is
    nulled, the purchase kept. Same single-shuffle union+window operator
    as join_asof (operators/asof.py, how='left'); the tolerance is a
    map-side post-rule, so the bound adds zero shuffle cost.

    Scale: same single-shuffle asof plan; the tolerance is a map-side
    post-rule with zero shuffle cost."""
    from flod_spark.operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    out = asof_join(
        left=purchases,
        right=clicks,
        on="user_id",
        left_time="ts",
        right_time="ts",
        left_cols={"event_id": "purchase_id", "ts": "purchase_ts"},
        right_cols={"event_id": "click_id", "ts": "click_ts"},
        tiebreak="event_id",
        how="left",
    )
    gap_ok = (ts_micros("purchase_ts") - ts_micros("click_ts")) <= 1_800_000_000
    return out.select(
        "purchase_id",
        "user_id",
        "purchase_ts",
        F.when(gap_ok, F.col("click_id")).alias("click_id"),
        F.when(gap_ok, F.col("click_ts")).alias("click_ts"),
        F.coalesce(gap_ok, F.lit(False)).alias("within_tol"),
    )


@query(
    "datetime_fns",
    oracle=(
        # portable datetime gallery: components, ISO weekday (DuckDB
        # isodow == Spark (dayofweek+5)%7+1), quarter/week truncation,
        # day arithmetic — the everyday surface a migration hits first
        "SELECT event_id, "
        "  CAST(EXTRACT(year FROM ts) AS BIGINT) AS y, "
        "  CAST(EXTRACT(month FROM ts) AS BIGINT) AS m, "
        "  CAST(EXTRACT(day FROM ts) AS BIGINT) AS d, "
        "  CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h, "
        "  CAST(isodow(ts) AS BIGINT) AS iso_dow, "
        "  CAST(EXTRACT(doy FROM ts) AS BIGINT) AS doy, "
        "  date_trunc('quarter', ts) AS quarter_start, "
        "  date_trunc('week', ts) AS week_start, "
        "  ts + INTERVAL 90 DAY AS plus_90d, "
        "  CAST(date_diff('day', TIMESTAMP '2024-01-01', ts) AS BIGINT) AS days_since_2024 "
        "FROM events"
    ),
)
def datetime_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime-function gallery over naive event time: component
    extraction, ISO weekday (Spark's Sunday=1 dayofweek remapped to
    ISO Monday=1 — the classic cross-engine off-by-one), quarter/week
    truncation, interval arithmetic, day differences. All map-only JVM
    expressions; every convention difference is normalized explicitly
    rather than left to engine defaults.

    Scale: map-only JVM expressions inside the scan stage."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.year("ts").cast("long").alias("y"),
        F.month("ts").cast("long").alias("m"),
        F.dayofmonth("ts").cast("long").alias("d"),
        F.hour("ts").cast("long").alias("h"),
        (((F.dayofweek("ts") + 5) % 7) + 1).cast("long").alias("iso_dow"),
        F.dayofyear("ts").cast("long").alias("doy"),
        F.date_trunc("quarter", F.col("ts")).alias("quarter_start"),
        F.date_trunc("week", F.col("ts")).alias("week_start"),
        (F.col("ts") + F.expr("INTERVAL 90 DAYS")).alias("plus_90d"),
        F.datediff(F.col("ts"), F.lit("2024-01-01").cast("timestamp_ntz"))
        .cast("long")
        .alias("days_since_2024"),
    )


# --- TPC-H breadth batch (round 4): q4/q13/q15/q19/q21/q22 shapes -------
# The synthetic tables lack partsupp, l_commitdate/l_receiptdate,
# o_comment, c_phone — each query below keeps the REFERENCE SHAPE
# (correlated EXISTS, left-join distribution, view+argmax, disjunctive
# pushdown, double-correlated NOT EXISTS, scalar-subquery threshold) and
# documents the predicate adaptation. q2/q9/q11/q16/q20 need partsupp
# and are out of reach of this testdata by construction.


@query(
    "tpch_q4",
    oracle=(
        # "late" adapted: shipped > 60 days after order date (no
        # l_commitdate/l_receiptdate in the synthetic lineitem)
        "SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count "
        "FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01' "
        "  AND o_orderdate < TIMESTAMP '1996-04-01' "
        "  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey "
        "    AND l_shipdate > o_orderdate + INTERVAL 60 DAY) "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"
    ),
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): correlated EXISTS over
    the fact table. The EXISTS compiles to a LEFT SEMI join on
    l_orderkey with the date predicate pushed into the join condition —
    one co-partitioned shuffle, never a per-row subquery; the quarter
    filter prunes orders at the scan (PushedFilters).

    Scale: LEFT SEMI join on one co-partitioned shuffle; date predicates
    pushed to both scans."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "tpch_q13",
    oracle=(
        # excluded order class adapted: o_orderpriority (no o_comment)
        "WITH c_orders AS (SELECT c_custkey, COUNT(o_orderkey) AS c_count "
        "  FROM customer LEFT JOIN orders ON c_custkey = o_custkey "
        "    AND o_orderpriority <> '4-NOT SPECIFIED' "
        "  GROUP BY c_custkey) "
        "SELECT CAST(c_count AS BIGINT) AS c_count, CAST(COUNT(*) AS BIGINT) AS custdist "
        "FROM c_orders GROUP BY c_count ORDER BY custdist DESC, c_count DESC"
    ),
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    join with the filter IN the join condition (an order failing the
    class filter must not delete its customer — the null-count
    contract), then a two-level aggregation. Scale: one custkey
    shuffle for the outer join+count, then a tiny c_count histogram
    aggregation; customers with zero qualifying orders flow through as
    COUNT(o_orderkey)=0 (COUNT of NULL), never dropped."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    j = c.join(
        o,
        (F.col("c_custkey") == F.col("o_custkey"))
        & (F.col("o_orderpriority") != "4-NOT SPECIFIED"),
        "left",
    )
    c_orders = j.groupBy("c_custkey").agg(F.count("o_orderkey").alias("c_count"))
    return (
        c_orders.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .select(F.col("c_count").cast("long").alias("c_count"), "custdist")
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "tpch_q15",
    oracle=(
        "WITH revenue AS (SELECT l_suppkey AS supplier_no, "
        "    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) "
        "      AS total_revenue "
        "  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
        "    AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY l_suppkey) "
        "SELECT s_suppkey, s_name, total_revenue "
        "FROM supplier, revenue "
        "WHERE s_suppkey = supplier_no "
        "  AND total_revenue = (SELECT MAX(total_revenue) FROM revenue) "
        "ORDER BY s_suppkey"
    ),
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): the revenue VIEW + argmax-by-
    scalar-subquery. Revenue sums go through DECIMAL (exact,
    order-independent) then to DOUBLE, so the equality against the
    1-row MAX — broadcast back over the view — is bit-exact in both
    engines (the one pattern where float == is safe). Scale: one
    suppkey partial-agg shuffle; the max is a 1-row broadcast;
    supplier broadcasts against the tiny view."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,6)")
        )
        .cast("double")
        .alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_mx"))
        .join(s, F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "tpch_q19",
    oracle=(
        # container/shipmode legs adapted to brand+size+quantity (the
        # synthetic part has no p_container, lineitem no l_shipmode)
        "SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) "
        "    AS revenue "
        "FROM lineitem, part WHERE p_partkey = l_partkey AND ("
        "  (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 "
        "    AND l_quantity >= 1 AND l_quantity <= 11) "
        "  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 "
        "    AND l_quantity >= 10 AND l_quantity <= 20) "
        "  OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 "
        "    AND l_quantity >= 20 AND l_quantity <= 30))"
    ),
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates):
    three OR-legs over mixed part/lineitem columns. Catalyst extracts
    the common conjuncts it can (brand IN-list and quantity range reach
    the scans as PushedFilters via OR-distribution) and the residual
    disjunction evaluates post-join; part is the broadcast side, so the
    whole query is one broadcast hash join + a 1-row aggregate — no
    shuffle of lineitem at all.

    Scale: part is broadcast, lineitem never shuffles; one 1-row
    aggregate."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q = F.col("l_quantity")
    leg = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35) & q.between(20, 30))
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(leg)
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,6)")
            )
            .cast("double")
            .alias("revenue")
        )
    )


@query(
    "tpch_q21",
    oracle=(
        # "kept waiting" adapted: shipped > 60 days after order date
        "SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait "
        "FROM supplier, lineitem l1, orders, nation "
        "WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey "
        "  AND o_orderstatus = 'F' "
        "  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY "
        "  AND EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey "
        "    AND l2.l_suppkey <> l1.l_suppkey) "
        "  AND NOT EXISTS (SELECT 1 FROM lineitem l3 WHERE l3.l_orderkey = l1.l_orderkey "
        "    AND l3.l_suppkey <> l1.l_suppkey "
        "    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY) "
        "  AND s_nationkey = n_nationkey AND n_name = 'NATION_1' "
        "GROUP BY s_name ORDER BY numwait DESC, s_name"
    ),
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept waiting): the EXISTS /
    NOT-EXISTS pair becomes per-order supplier aggregates — for each
    'F' order: distinct suppliers (n_supp) and distinct LATE suppliers
    (n_late); a line's supplier 'kept the order waiting' iff it was
    late, n_supp >= 2, and n_late == 1 (sole late supplier). One
    orderkey-partitioned aggregation replaces both correlated
    subqueries — the 100 TB form of EXISTS-rewriting (no triple
    self-join of lineitem); supplier/nation broadcast at the end.
    COUNT(*) counts qualifying LINES per the reference shape (a
    supplier with two late lines in one order counts twice).

    Scale: one orderkey-partitioned aggregation replaces both correlated
    subqueries; supplier/nation broadcast."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    lo = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).withColumn(
        "late", F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("n_late"),
    )
    waiters = (
        lo.filter(F.col("late"))
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1").select(
        "n_nationkey"
    )
    sn = s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    return (
        waiters.join(F.broadcast(sn), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


@query(
    "tpch_q22",
    oracle=(
        # country code adapted to c_nationkey % 10 (no c_phone); "no
        # orders" adapted to "no orders since 2000-07-01" (every
        # synthetic customer has at least one order overall); the AVG
        # threshold is an exact decimal-sum / count division
        "WITH grp AS (SELECT c_custkey, CAST(c_nationkey % 10 AS BIGINT) AS cntrycode, "
        "    c_acctbal FROM customer WHERE c_nationkey % 10 IN (0, 1, 2, 3, 4, 6, 7)), "
        "thr AS (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS a "
        "  FROM grp WHERE c_acctbal > 0.0), "
        "dormant AS (SELECT g.* FROM grp g WHERE c_acctbal > (SELECT a FROM thr) "
        "  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = g.c_custkey "
        "    AND o_orderdate >= TIMESTAMP '2000-07-01')) "
        "SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust, "
        "  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal "
        "FROM dormant GROUP BY cntrycode ORDER BY cntrycode"
    ),
)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): scalar-subquery
    threshold + anti join. The positive-balance mean is an exact
    decimal-sum / count division (identical double both engines),
    broadcast back as a 1-row threshold; 'no recent orders' is a LEFT
    ANTI join against the date-filtered orders (filter pushed to the
    scan). Scale: anti join co-partitions on custkey; everything else
    is broadcast or 1-row."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    grp = c.filter((F.col("c_nationkey") % 10).isin(0, 1, 2, 3, 4, 6, 7)).select(
        "c_custkey",
        (F.col("c_nationkey") % 10).cast("long").alias("cntrycode"),
        "c_acctbal",
    )
    thr = grp.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double") / F.count("*")
        ).alias("a")
    )
    recent = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-07-01").cast("timestamp")
    ).select("o_custkey")
    dormant = (
        grp.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    )
    return (
        dormant.groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )

@query(
    "tpch_q2",
    oracle=(
        # partsupp adapted: the (part, supplier) catalog is derived from
        # lineitem history, supply cost := MIN unit price ever charged
        "WITH ps AS (SELECT l_partkey, l_suppkey, "
        "    MIN(l_extendedprice / l_quantity) AS supplycost "
        "  FROM lineitem GROUP BY 1, 2), "
        "eu AS (SELECT s_suppkey, s_name, s_acctbal, n_name "
        "  FROM supplier, nation, region "
        "  WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey "
        "    AND r_name = 'EUROPE'), "
        "cand AS (SELECT p_partkey, p_name, supplycost, s_name, s_acctbal, n_name "
        "  FROM part, ps, eu "
        "  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey "
        "    AND p_size = 15 AND p_type = 'STANDARD'), "
        "mn AS (SELECT p_partkey AS pk, MIN(supplycost) AS mc FROM cand GROUP BY 1) "
        "SELECT s_acctbal, s_name, n_name, p_partkey, p_name "
        "FROM cand, mn WHERE p_partkey = pk AND supplycost = mc "
        "ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100"
    ),
)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (min-cost supplier): correlated-MIN subquery as a
    per-part argmin. partsupp is derived (lineitem's (part, supplier)
    pairs; supplycost = MIN unit price), then the region-restricted
    minimum is joined back by float equality — safe because both sides
    are the SAME double (per-row IEEE division, then exact MIN), the
    q15 pattern. Scale: one (part,supp) partial-agg shuffle builds the
    catalog; region suppliers and the filtered part slice broadcast;
    the argmin re-join co-partitions on p_partkey."""
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("supplycost")
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE").select("r_regionkey")
    eu = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    ).select("p_partkey", "p_name")
    cand = (
        ps.join(F.broadcast(eu), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .select("p_partkey", "p_name", "supplycost", "s_name", "s_acctbal", "n_name")
    )
    mn = cand.groupBy(F.col("p_partkey").alias("pk")).agg(F.min("supplycost").alias("mc"))
    return (
        cand.join(mn, (F.col("p_partkey") == F.col("pk")) & (F.col("supplycost") == F.col("mc")))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "tpch_q9",
    oracle=(
        # ps_supplycost adapted: cost of goods := 0.5 * p_retailprice
        "SELECT n_name AS nation, CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year, "
        "  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) "
        "      - 0.5 * p_retailprice * l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_profit "
        "FROM lineitem, part, supplier, orders, nation "
        "WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey "
        "  AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey "
        "  AND p_name LIKE '%bolt%' "
        "GROUP BY 1, 2 ORDER BY nation, o_year DESC"
    ),
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): profit per supplier nation
    per order year over a part-name slice. Per-row profit is a fixed
    IEEE expression (identical operator order in both engines), summed
    through DECIMAL. Scale: part slice / supplier / nation all
    broadcast, so lineitem shuffles exactly once (the orderkey join);
    the (nation, year) aggregate is map-side partial over ~25x7 keys."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%")).select(
        "p_partkey", "p_retailprice"
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity")
    ).cast("decimal(28,6)")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@query(
    "tpch_q11",
    oracle=(
        # partsupp value adapted: a part's inventory value in a nation is
        # what that nation's suppliers billed for it; the HAVING-threshold
        # compare is kept in exact DECIMAL (value * 10000 > total)
        "WITH pv AS (SELECT l_partkey, "
        "    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS vdec "
        "  FROM lineitem, supplier, nation "
        "  WHERE s_suppkey = l_suppkey AND s_nationkey = n_nationkey "
        "    AND n_name = 'NATION_3' GROUP BY 1), "
        "tot AS (SELECT SUM(vdec) AS total FROM pv) "
        "SELECT l_partkey AS p_partkey, CAST(vdec AS DOUBLE) AS value "
        "FROM pv, tot WHERE vdec * 10000 > total "
        "ORDER BY value DESC, p_partkey"
    ),
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): per-part value within one
    nation, kept only where it exceeds a fraction of the national
    total (scalar subquery). The threshold compare stays in DECIMAL
    (value * 10000 > total) — exact in both engines, no float
    fraction. Scale: nation's suppliers broadcast; one partkey
    partial-agg shuffle; the total is a 1-row broadcast back."""
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_extendedprice")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3").select("n_nationkey")
    sn = s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")).select("s_suppkey")
    pv = (
        li.join(F.broadcast(sn), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("vdec"))
    )
    tot = pv.agg(F.sum("vdec").alias("total"))
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(F.col("vdec") * 10000 > F.col("total"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("vdec").cast("double").alias("value"),
        )
        .orderBy(F.desc("value"), "p_partkey")
    )


@query(
    "tpch_q12",
    oracle=(
        # l_shipmode adapted to l_returnflag; commit/receipt dates adapted
        # to "shipped > 30 days after order date" (the q21 lateness rule)
        "SELECT l_returnflag, "
        "  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
        "    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, "
        "  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') "
        "    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count "
        "FROM orders, lineitem "
        "WHERE o_orderkey = l_orderkey "
        "  AND l_shipdate > o_orderdate + INTERVAL 30 DAY "
        "  AND l_shipdate >= TIMESTAMP '1997-01-01' "
        "  AND l_shipdate < TIMESTAMP '1998-01-01' "
        "GROUP BY l_returnflag ORDER BY l_returnflag"
    ),
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-priority split): conditional counts of
    high/low-priority orders among late-shipped lines, grouped by a
    categorical leg. Scale: the shipdate year-window is pushed to the
    lineitem scan; one orderkey shuffle join; the 3-group aggregate is
    map-side partial."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_returnflag", "l_shipdate")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "tpch_q16",
    oracle=(
        # partsupp adapted: a part's suppliers are those who ever shipped
        # it; the 'complaints' exclusion becomes negative account balance
        "SELECT p_brand, p_type, p_size, "
        "  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt "
        "FROM lineitem, part "
        "WHERE p_partkey = l_partkey "
        "  AND p_brand <> 'Brand#2' AND p_type <> 'PROMO' "
        "  AND p_size IN (1, 5, 9, 15, 23, 31, 42, 50) "
        "  AND l_suppkey NOT IN "
        "    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) "
        "GROUP BY 1, 2, 3 "
        "ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"
    ),
)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): distinct-supplier
    census per (brand, type, size) bucket with a NOT-IN supplier
    exclusion. The NOT IN becomes a broadcast LEFT ANTI join (safe:
    s_suppkey is non-null, so three-valued-logic NOT IN == anti join).
    Scale: part slice and excluded-supplier list broadcast, so the only
    exchange is the distinct-count's partial aggregation on the
    (brand, type, size, suppkey) key."""
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#2")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 15, 23, 31, 42, 50)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        li.join(F.broadcast(bad), F.col("s_suppkey") == F.col("l_suppkey"), "left_anti")
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@query(
    "tpch_q20",
    oracle=(
        # ps_availqty adapted: a supplier has 'excess stock' of a part if
        # its 1997 shipped quantity exceeds 1.5x the average per-supplier
        # share of that part — compared in exact DECIMAL x BIGINT terms
        "WITH qs AS (SELECT l_suppkey, l_partkey, "
        "    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty "
        "  FROM lineitem, part WHERE p_partkey = l_partkey "
        "    AND p_name LIKE 'small%' "
        "    AND l_shipdate >= TIMESTAMP '1997-01-01' "
        "    AND l_shipdate < TIMESTAMP '1998-01-01' "
        "  GROUP BY 1, 2), "
        "pt AS (SELECT l_partkey AS pk, SUM(qty) AS part_qty, "
        "    CAST(COUNT(*) AS BIGINT) AS n_supp FROM qs GROUP BY 1) "
        "SELECT DISTINCT s_name FROM qs, pt, supplier, nation "
        "WHERE l_partkey = pk AND qty * n_supp * 2 > 3 * part_qty "
        "  AND s_suppkey = l_suppkey AND s_nationkey = n_nationkey "
        "  AND n_name = 'NATION_5' "
        "ORDER BY s_name"
    ),
)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (excess-stock suppliers): the nested
    availqty-vs-half-of-shipments subquery becomes a per-(supplier,
    part) share test — qty * n_supp * 2 > 3 * part_qty, i.e. the
    supplier shipped more than 1.5x the average share. Compares stay in
    DECIMAL x BIGINT (exact both engines). Scale: one (supp, part)
    partial-agg shuffle; the per-part totals re-join co-partitions on
    partkey; nation's suppliers broadcast at the end."""
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("small%")).select("p_partkey")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_partkey", "l_suppkey", "l_quantity")
    qs = (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"))
    )
    pt = qs.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("qty").alias("part_qty"), F.count("*").alias("n_supp")
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5").select("n_nationkey")
    sn = s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")).select(
        "s_suppkey", "s_name"
    )
    return (
        qs.join(pt, F.col("l_partkey") == F.col("pk"))
        .filter(F.col("qty") * F.col("n_supp") * 2 > 3 * F.col("part_qty"))
        .join(F.broadcast(sn), F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_name")
        .distinct()
        .orderBy("s_name")
    )


@query(
    "nested_fns",
    oracle=(
        # the oracle checks the map ROUND-TRIP's content: per-user
        # per-type counts survive map_from_entries -> element_at ->
        # map_entries-explode intact, alongside map-level lookups
        "WITH per AS (SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n "
        "  FROM events GROUP BY 1, 2), "
        "u AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_types, "
        "    CAST(SUM(CASE WHEN event_type = 'click' THEN n ELSE 0 END) AS BIGINT) AS n_click "
        "  FROM per GROUP BY 1) "
        "SELECT per.user_id, per.event_type, per.n, u.n_types, u.n_click "
        "FROM per JOIN u ON u.user_id = per.user_id"
    ),
)
def nested_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-type gallery (map/struct round-trip): per-user counts
    packed into a MAP column (map_from_entries over collected structs),
    queried in place (map size, element_at lookup with a missing-key
    default), then unpacked back to rows (explode(map_entries)) — the
    entity-attribute pattern for sparse per-key features. The oracle
    verifies the round-trip loses nothing. Scale: one (user, type)
    partial-agg shuffle + one user shuffle; map width is bounded by
    |event types| (bounded-key maps only — never pack an unbounded
    domain into one row)."""
    ev = load(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    m = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "n")))
        ).alias("m")
    )
    enriched = m.select(
        "user_id",
        "m",
        F.size("m").cast("long").alias("n_types"),
        F.coalesce(F.element_at("m", "click"), F.lit(0)).cast("long").alias("n_click"),
    )
    return enriched.select(
        "user_id",
        F.explode(F.map_entries("m")).alias("e"),
        "n_types",
        "n_click",
    ).select(
        "user_id",
        F.col("e.key").alias("event_type"),
        F.col("e.value").alias("n"),
        "n_types",
        "n_click",
    )


_SQL_DIRECT = (
    # dialect-neutral ANSI: runs VERBATIM in both Spark SQL and DuckDB
    "SELECT l_returnflag, l_linestatus, "
    "  CAST(COUNT(*) AS BIGINT) AS n_lines, "
    "  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
    "  MIN(l_shipdate) AS first_ship, MAX(l_shipdate) AS last_ship "
    "FROM lineitem "
    "WHERE l_shipdate >= TIMESTAMP '1997-01-01' "
    "  AND l_shipdate < TIMESTAMP '1998-01-01' "
    "GROUP BY l_returnflag, l_linestatus"
)


@query("sql_direct", oracle=_SQL_DIRECT)
def sql_direct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-first entry path: tables registered as temp views, the
    query text handed to spark.sql() — and the SAME string IS the
    DuckDB oracle (one dialect-neutral ANSI statement, zero
    translation), the strongest possible cross-engine statement of
    intent. Catalyst plans it identically to the DataFrame form
    (filter pushdown, partial agg); the view layer is how SQL-only
    users consume every table this engine reads.

    Scale: Catalyst plans the SQL text identically to the DataFrame form
    — pushdown and partial aggregation included."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_SQL_DIRECT)


@query(
    "agg_mode",
    oracle=(
        # deterministic mode: most frequent order priority per market
        # segment, ties broken by the value itself (never engine order)
        "WITH c AS (SELECT c_mktsegment, o_orderpriority, "
        "    CAST(COUNT(*) AS BIGINT) AS n "
        "  FROM customer JOIN orders ON o_custkey = c_custkey "
        "  GROUP BY 1, 2) "
        "SELECT c_mktsegment, o_orderpriority AS mode_priority, n AS n_orders "
        "FROM (SELECT *, row_number() OVER (PARTITION BY c_mktsegment "
        "    ORDER BY n DESC, o_orderpriority) AS rn FROM c) WHERE rn = 1"
    ),
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE aggregate: the most frequent value per group
    with an explicit value tiebreak — Spark's built-in mode() breaks
    ties by encounter order (nondeterministic under partial
    aggregation), so the portable form is count + WindowGroupLimit
    (rn = 1 compiles to per-partition top-1 heaps, no full sort).
    Scale: one (segment, priority) partial-agg shuffle, then a
    |segments x priorities|-row window."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    cnt = (
        o.join(c, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("n"), "o_orderpriority")
    return (
        cnt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_mktsegment",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").alias("n_orders"),
        )
    )


@query(
    "window_offset",
    oracle=(
        # offset window functions over the per-user (ts, event_id) total
        # order; last_value takes the explicit full-partition frame
        # (default frames stop at CURRENT ROW in both engines)
        "SELECT event_id, user_id, "
        "  lag(value) OVER w AS prev_value, "
        "  lag(value, 2) OVER w AS prev2_value, "
        "  lead(event_type) OVER w AS next_type, "
        "  first_value(ts) OVER w AS first_ts, "
        "  last_value(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id "
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_ts "
        "FROM events "
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"
    ),
)
def window_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset window functions (lag/lead/first_value/last_value) over
    the per-user event timeline — the session-feature builders
    (time-since-last, next-action, entry/exit points). The (ts,
    event_id) order is total (event_id unique), so every offset is
    deterministic; last_value takes the explicit full-partition frame
    because both engines' DEFAULT frame ends at CURRENT ROW (the
    classic silent-wrong-answer). Scale: one user_id exchange serves
    every function (same window spec)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "event_id",
        "user_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lag("value", 2).over(w).alias("prev2_value"),
        F.lead("event_type").over(w).alias("next_type"),
        F.first("ts").over(w).alias("first_ts"),
        F.last("ts").over(wfull).alias("last_ts"),
    )


@query(
    "agg_corr",
    oracle=(
        # Pearson r from EXACT decimal moments (built-in corr() uses
        # float accumulation — order-dependent); the only floats are the
        # final few scalar ops on already-aggregated values
        # decimal -> double goes through VARCHAR: DuckDB's direct decimal
        # cast double-rounds (int128 -> double, then / 10^scale) and can
        # land one ulp off the correctly-rounded value Spark's
        # BigDecimal.doubleValue produces (observed on sf0.001's 'A'
        # group); string -> double is correctly rounded on both engines
        "WITH m AS (SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n, "
        "    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sx, "
        "    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sy, "
        "    CAST(CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sxx, "
        "    CAST(CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS syy, "
        "    CAST(CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sxy "
        "  FROM lineitem GROUP BY l_returnflag) "
        "SELECT l_returnflag, n, "
        "  (n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS corr_qty_price, "
        "  (n * sxy - sx * sy) / (CAST(n AS DOUBLE) * n) AS covar_pop "
        "FROM m"
    ),
)
def agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation / covariance per group from EXACT decimal moment
    sums — the determinism contract applied to second moments: Spark's
    built-in corr()/covar_pop() accumulate in floats (partial-agg-order
    dependent in the last bits), so the portable form aggregates the
    five moments in DECIMAL and finishes with a handful of scalar IEEE
    ops on the per-group values, identical in both engines. Scale: one
    partial-agg shuffle, |groups| rows out."""
    li = load(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(q.cast("decimal(18,2)")).cast("double").alias("sx"),
        F.sum(p.cast("decimal(18,2)")).cast("double").alias("sy"),
        F.sum((q * q).cast("decimal(28,4)")).cast("double").alias("sxx"),
        F.sum((p * p).cast("decimal(28,4)")).cast("double").alias("syy"),
        F.sum((q * p).cast("decimal(28,4)")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return m.select(
        "l_returnflag",
        "n",
        (
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
        ).alias("corr_qty_price"),
        ((n * sxy - sx * sy) / (n.cast("double") * n)).alias("covar_pop"),
    )


_HIST_BINS = 20


@query(
    "histogram_bins",
    oracle=(
        # fixed-width histogram over the [min, max] span: bin =
        # floor((x - mn) * B / (mx - mn)), the max row clamped into the
        # last bin — identical IEEE scalar ops both engines
        # mx = mn (all values equal, incl. the 1-row table) would be
        # 0/0 = NaN, where the engines' BIGINT casts diverge (Spark
        # floors NaN to NULL, DuckDB errors) — both sides agree the
        # degenerate span is one bin 0 instead
        "WITH s AS (SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx FROM orders), "
        "b AS (SELECT CASE WHEN mx = mn THEN 0 ELSE "
        "      LEAST(CAST(floor((o_totalprice - mn) * "
        f"      {_HIST_BINS} / (mx - mn)) AS BIGINT), {_HIST_BINS - 1}) END AS bin, "
        "    o_totalprice, mn, mx FROM orders, s) "
        "SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, "
        f"  MIN(mn) + bin * (MIN(mx) - MIN(mn)) / {_HIST_BINS} AS bin_lo, "
        f"  MIN(mn) + (bin + 1) * (MIN(mx) - MIN(mn)) / {_HIST_BINS} AS bin_hi "
        "FROM b GROUP BY bin"
    ),
)
def histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals — the distribution profile
    behind every dashboard and the bin layout quality_buckets' docstring
    points to. Bin assignment is a handful of IEEE scalar ops against
    the broadcast (min, max) pair — written in the identical order in
    both engines — with the max row clamped into the last bin. Scale:
    one 1-row min/max aggregate broadcast back over a map-only bin
    expression, then a |bins|-row partial-agg count; empty bins simply
    don't appear (join a bin spine to materialize them)."""
    o = load(spark, sf_dir, "orders").select("o_totalprice")
    s = o.agg(F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx"))
    x, mn, mx = F.col("o_totalprice"), F.col("mn"), F.col("mx")
    # mx = mn guard mirrors the oracle: the all-equal (or 1-row) input
    # is bin 0 by definition, never 0/0 = NaN (whose BIGINT cast the
    # engines disagree on) — same discipline as embed_quantize's mx > 0
    bin_ = F.when(mx == mn, F.lit(0).cast("long")).otherwise(
        F.least(
            F.floor((x - mn) * _HIST_BINS / (mx - mn)).cast("long"),
            F.lit(_HIST_BINS - 1),
        )
    )
    return (
        o.crossJoin(F.broadcast(s))
        .select(bin_.alias("bin"), "mn", "mx")
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            (F.min("mn") + F.col("bin") * (F.min("mx") - F.min("mn")) / _HIST_BINS).alias("bin_lo"),
            (F.min("mn") + (F.col("bin") + 1) * (F.min("mx") - F.min("mn")) / _HIST_BINS).alias("bin_hi"),
        )
    )


@query(
    "unpivot_melt",
    oracle=(
        # wide -> long: per-returnflag quantity/price/discount sums
        # melted into (metric, value) rows — DuckDB's UNPIVOT twin
        "WITH w AS (SELECT l_returnflag, "
        "    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
        "    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price, "
        "    CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc "
        "  FROM lineitem GROUP BY l_returnflag) "
        "SELECT l_returnflag, metric, value FROM w "
        "UNPIVOT (value FOR metric IN (sum_qty, sum_price, sum_disc))"
    ),
)
def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt — the inverse of agg_pivot: a wide per-group
    metric table reshaped to (group, metric, value) long form (what
    chart layers and metric stores ingest). Uses the native unpivot
    operator (Expand under the hood — one narrow row-amplification, no
    shuffle beyond the feeding aggregate). Scale: the melt itself is
    map-only; width x rows is the only cost."""
    li = load(spark, sf_dir, "lineitem")
    w = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
        F.sum(F.col("l_discount").cast("decimal(18,6)")).cast("double").alias("sum_disc"),
    )
    return w.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "sum_disc"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@query(
    "dq_audit",
    oracle=(
        # the dbt-test / Deequ audit row: null keys, key uniqueness,
        # referential integrity — one violations report per run
        "SELECT "
        "  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem WHERE l_orderkey IS NULL) "
        "    AS n_null_line_keys, "
        "  (SELECT CAST(COUNT(*) AS BIGINT) FROM "
        "    (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1)) "
        "    AS n_dup_orderkeys, "
        # NOT EXISTS, not NOT IN: a NULL l_orderkey must COUNT as an
        # orphan (it references no order) — matching the Spark side's
        # left-anti join, where NULL never equi-matches. NOT IN's
        # three-valued logic would silently exclude exactly the dirty
        # rows a DQ audit exists to catch.
        "  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l "
        "    WHERE NOT EXISTS (SELECT 1 FROM orders o "
        "                      WHERE o.o_orderkey = l.l_orderkey)) "
        "    AS n_orphan_lines, "
        "  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders "
        "    WHERE o_totalprice <= 0) AS n_nonpositive_totals"
    ),
)
def dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit (the dbt-test / Deequ pattern): NOT-NULL,
    key-uniqueness, referential-integrity, and range constraints
    evaluated as one violations report — the gate a 100 TB ingestion
    runs before publishing a partition. Scale: each check is one
    scan-fused aggregate; the referential check is a co-partitioned
    anti join (never NOT IN's nested loop); four 1-row frames cross
    into the report row."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    null_keys = li.filter(F.col("l_orderkey").isNull()).agg(
        F.count("*").alias("n_null_line_keys")
    )
    dup_keys = (
        o.groupBy("o_orderkey")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count("*").alias("n_dup_orderkeys"))
    )
    orphans = li.join(
        o.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey"), "left_anti"
    ).agg(F.count("*").alias("n_orphan_lines"))
    bad_totals = o.filter(F.col("o_totalprice") <= 0).agg(
        F.count("*").alias("n_nonpositive_totals")
    )
    return null_keys.crossJoin(dup_keys).crossJoin(orphans).crossJoin(bad_totals)


# quantile_exact_2pass: histogram resolution for the coarse pass
_QE_BUCKETS = 4096
_QE_PCTS = (50, 90, 99)
# pass-2 ceiling: a target bucket holding more rows than this recurses
# into a sub-histogram instead of raising the TakeOrdered limit. At the
# gate scale factors every bucket holds ~n/4096 << _QE_LEAF rows, so the
# gated plan never recurses (tests force it with tiny buckets/leaf).
_QE_LEAF = 100_000


def _qe_histogram(li, bucket) -> dict:
    """{bucket -> count} for one histogram level (the per-level driver
    state: <= ``buckets`` entries)."""
    return {
        r["b"]: r["c"]
        for r in li.select(bucket.alias("b")).groupBy("b").agg(F.count("*").alias("c")).collect()
    }


def _qe_bucket_expr(mn, mx, buckets: int):
    """The shared fixed-width bucket expression (both passes and the
    top-level caller must agree on it bit-for-bit)."""
    return F.least(
        F.lit(buckets - 1),
        F.floor((F.col("x") - F.lit(mn)) * F.lit(float(buckets)) / F.lit(mx - mn)),
    ).cast("int")


def _qe_value_df(li, mn, mx, rank: int, name: str,
                 buckets: int = _QE_BUCKETS, leaf: int = _QE_LEAF,
                 counts: dict | None = None):
    """1-row DataFrame holding the exact value at ascending 1-based
    ``rank`` among li.x (all within [mn, mx], mn < mx): one fixed-width
    histogram level (partial-agg shuffle of <= ``buckets`` rows), a
    driver walk of the cumulative counts to the target bucket, then
    either a TakeOrderedAndProject inside the bucket (<= ``leaf`` rows)
    or RECURSION into the bucket's own value range — each level divides
    the candidate set by ~``buckets``, so two levels cover 4096 * leaf
    ~= 4e8 rows per bucket and three cover 100 TB. Driver state per
    level is one ``buckets``-entry dict plus a 1-row min/max read.
    ``counts`` lets the caller share ONE level-1 histogram across
    several ranks over the same [mn, mx] (quantile_exact_2pass asks for
    three percentiles — without it, pass 1 would rescan the table per
    percentile); recursion always histograms its own sub-range.
    Termination: a recursing bucket either shrinks (its sub-histogram
    splits mn < mx into >= 2 occupied buckets) or collapses to
    all-equal values, returned directly."""
    bucket = _qe_bucket_expr(mn, mx, buckets)
    if counts is None:
        counts = _qe_histogram(li, bucket)
    cum = 0
    target_b = buckets - 1
    for b in range(buckets):
        c = counts.get(b, 0)
        if cum + c >= rank:
            target_b = b
            break
        cum += c
    local = rank - cum
    sub = li.filter(bucket == target_b)
    if counts.get(target_b, 0) > leaf:
        s = sub.agg(F.min("x").alias("mn"), F.max("x").alias("mx")).collect()[0]
        if s["mn"] == s["mx"]:  # bucket of one repeated value: any rank = it
            return li.sparkSession.createDataFrame([(s["mn"],)], f"{name} double")
        return _qe_value_df(sub, s["mn"], s["mx"], local, name, buckets, leaf)
    return sub.orderBy("x").limit(local).agg(F.max("x").alias(name))


def _qe_oracle() -> str:
    cases = ", ".join(
        f"MAX(CASE WHEN rk = (c - 1) * {p} // 100 + 1 THEN x END) AS p{p}"
        for p in _QE_PCTS
    )
    return (
        "WITH s AS (SELECT l_extendedprice AS x FROM lineitem WHERE l_extendedprice IS NOT NULL), "
        "n AS (SELECT COUNT(*) AS c FROM s), "
        "r AS (SELECT x, row_number() OVER (ORDER BY x) AS rk FROM s) "
        f"SELECT {cases} FROM r, n GROUP BY c"
    )


@query("quantile_exact_2pass", oracle=_qe_oracle())
def quantile_exact_2pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global quantiles (p50/p90/p99) without a global sort — the
    two-pass selection algorithm every engine uses when approxQuantile's
    error bound isn't acceptable (billing thresholds, SLO cutoffs):
    pass 1 histograms the column into 4096 fixed-width buckets (one
    partial-agg shuffle of <= 4096 rows); the driver walks the
    cumulative counts to locate each target rank's bucket; pass 2 reads
    ONLY that bucket's rows (predicate pushed to the scan) and selects
    the local rank via TakeOrderedAndProject. The value at rank k is
    well-defined under ties regardless of tie order, so the answer is
    exact; the rank formula (nearest-rank, (n-1)*p//100 + 1) is integer
    arithmetic on both engines. The bucketing is internal — correctness
    never depends on float bucket edges, only both passes sharing the
    expression.

    Scale: pass 1 state is 4096 counters per task; pass 2 touches
    ~n/4096 rows per target. At 100 TB a bucket may still hold millions
    of rows — _qe_value_df RECURSES the same histogram within the
    bucket whenever it exceeds _QE_LEAF rows (each level divides by
    4096; three levels cover 100 TB) instead of raising the TakeOrdered
    limit; tests/test_operators.py forces the recursive path with tiny
    buckets/leaf. Driver-side state is one 4096-entry dict per level —
    the replay-boundary rule, never data-sized."""
    li = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_extendedprice").alias("x"))
        .filter(F.col("x").isNotNull())  # NULL ordering differs cross-engine
    )
    stats = li.agg(
        F.min("x").alias("mn"), F.max("x").alias("mx"), F.count("*").alias("n")
    ).collect()[0]
    mn, mx, n = stats["mn"], stats["mx"], stats["n"]
    schema = ", ".join(f"p{p} double" for p in _QE_PCTS)
    if n == 0:
        # empty input: no ranks exist — zero rows, like the oracle's
        # empty GROUP BY c
        return spark.createDataFrame([], schema=schema)
    if mn == mx:
        # all-equal input — every quantile is the constant
        return spark.createDataFrame([tuple([mn] * len(_QE_PCTS))], schema=schema)
    # ONE level-1 histogram shared by all three percentile walks (pass 1
    # would otherwise rescan the table once per percentile)
    counts = _qe_histogram(li, _qe_bucket_expr(mn, mx, _QE_BUCKETS))
    sels = [
        _qe_value_df(li, mn, mx, (n - 1) * p // 100 + 1, f"p{p}", counts=counts)
        for p in _QE_PCTS
    ]
    out = sels[0]
    for v in sels[1:]:
        out = out.crossJoin(v)
    return out


# cdc_apply / scd2_build: a deterministic change log derived from orders —
# key = o_orderkey % 1000 (forces multiple versions per key), seq =
# o_orderkey (a total version order), op = I/U/D by a fixed rule. Both
# engines derive it identically.
_CDC_LOG_SQL = (
    "log AS (SELECT o_orderkey % 1000 AS k, o_orderkey AS seq, "
    "    CASE WHEN o_orderkey % 10 = 9 THEN 'D' "
    "         WHEN o_orderkey % 10 < 5 THEN 'I' ELSE 'U' END AS op, "
    "    o_totalprice AS val FROM orders)"
)


def _cdc_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.select(
        (F.col("o_orderkey") % 1000).alias("k"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 10 == 9, "D")
        .when(F.col("o_orderkey") % 10 < 5, "I")
        .otherwise("U")
        .alias("op"),
        F.col("o_totalprice").alias("val"),
    )


# the latest-non-tombstone-per-key block shared by cdc_apply and
# cdc_time_travel — ONE source for the state semantics on both engines
# ({src} is the log-rows relation each query scopes differently)
_CDC_LATEST_SQL = (
    "r AS (SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn FROM {src}) "
    "SELECT k, seq AS last_seq, val FROM r WHERE rn = 1 AND op <> 'D'"
)


def _cdc_latest(log: DataFrame) -> DataFrame:
    """Table state from a change-log frame: each key's latest entry,
    tombstones removed (the Spark twin of _CDC_LATEST_SQL)."""
    w = Window.partitionBy("k").orderBy(F.col("seq").desc())
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select("k", F.col("seq").alias("last_seq"), "val")
    )


@query(
    "cdc_apply",
    oracle=f"WITH {_CDC_LOG_SQL}, " + _CDC_LATEST_SQL.format(src="log"),
)
def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log application with TOMBSTONES — the replication-sink half
    merge_upsert's aggregate-maintenance doesn't cover: given an
    insert/update/delete change log with a per-key version order, the
    table state is each key's LATEST entry, and keys whose latest op is
    a delete vanish entirely. One rank per key (WindowGroupLimit via
    rn = 1) then the tombstone filter — the exact semantics of applying
    a Debezium/binlog stream to a lakehouse table.

    Scale: one exchange on the key; the rank prunes to one row per key
    BEFORE the filter; at 100 TB this runs per ingestion partition and
    the survivor set merges into the base table by key (merge_upsert's
    co-partitioned pattern)."""
    return _cdc_latest(_cdc_log(spark, sf_dir))


@query(
    "cdc_time_travel",
    oracle=(
        # table state AS OF the data-derived version cutoff (half the
        # max seq): apply only log entries with seq <= cutoff — the
        # Delta/Iceberg VERSION AS OF semantics over the same change log
        f"WITH {_CDC_LOG_SQL}, "
        "c AS (SELECT MAX(seq) // 2 AS cutoff FROM log), "
        "pfx AS (SELECT l.* FROM log l, c WHERE seq <= c.cutoff), "
        + _CDC_LATEST_SQL.format(src="pfx")
    ),
)
def cdc_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL over the change log — Delta/Iceberg's `VERSION AS
    OF` semantics without a table format: the table state at any past
    version is cdc_apply restricted to log entries at or before the
    cutoff (here the data-derived half-way seq, so the query is
    non-vacuous at every scale factor). Latest-at-cutoff per key via
    the same WindowGroupLimit rank, tombstones at the cutoff still
    delete — reproducing yesterday's training snapshot or debugging a
    bad merge is exactly this query.

    Scale: identical to cdc_apply — the cutoff filter pushes to the
    scan (on a real lakehouse layout, to partition pruning over the
    commit-versioned files), then one exchange on the key; the 1-row
    max-seq aggregate broadcasts. Nothing rescans history per key."""
    log = _cdc_log(spark, sf_dir)
    # exact integer halving (div), matching the oracle's `//` — a double
    # division would drift once max(seq) passed 2^53
    c = log.agg(F.expr("max(seq) div 2").alias("cutoff"))
    prefix = log.crossJoin(F.broadcast(c)).filter(F.col("seq") <= F.col("cutoff"))
    return _cdc_latest(prefix.drop("cutoff"))


@query(
    "scd2_build",
    oracle=(
        f"WITH {_CDC_LOG_SQL} "
        "SELECT k, seq AS valid_from, "
        "  lead(seq) OVER (PARTITION BY k ORDER BY seq) AS valid_to, "
        "  lead(seq) OVER (PARTITION BY k ORDER BY seq) IS NULL AS is_current, "
        "  op, val FROM log"
    ),
)
def scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 from the same change log: every
    version of every key becomes a row with a validity interval —
    valid_from = its version, valid_to = the next version's (NULL +
    is_current for the open row). This is the warehouse pattern that
    lets fact rows join the dimension AS OF their event time
    (join_asof's range predicate against [valid_from, valid_to)).

    Scale: one exchange on the key, one lead() per row inside the
    per-key window — the dimension build is linear in versions; the
    as-of consumers never rescan history."""
    log = _cdc_log(spark, sf_dir)
    w = Window.partitionBy("k").orderBy("seq")
    nxt = F.lead("seq").over(w)
    return log.select(
        "k",
        F.col("seq").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
        "op",
        "val",
    )


@query(
    "join_asof_dim",
    oracle=(
        # the warehouse-pattern capstone: fact rows joined to the SCD2
        # dimension row whose validity interval contains the fact's
        # version-time — a plain BETWEEN join (intervals tile, so each
        # fact matches at most one version; facts before the first
        # version, and null-key facts, keep NULL dimension columns)
        f"WITH {_CDC_LOG_SQL}, "
        "scd AS (SELECT k, seq AS valid_from, "
        "    lead(seq) OVER (PARTITION BY k ORDER BY seq) AS valid_to, op, val FROM log), "
        "f AS (SELECT event_id, user_id % 1000 AS k, event_id AS vt FROM events) "
        "SELECT f.event_id, f.k, f.vt, s.valid_from, s.op, s.val "
        "FROM f LEFT JOIN scd s ON s.k = f.k AND s.valid_from <= f.vt "
        "  AND (f.vt < s.valid_to OR s.valid_to IS NULL)"
    ),
)
def join_asof_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-SCD2 AS-OF enrichment — the end-to-end composition the
    pieces already supported but no query proved (r6 verdict item 5):
    each event (key = user_id % 1000, version-time = event_id) picks up
    the dimension version scd2_build makes valid at that moment. The
    oracle is the textbook interval BETWEEN join; the Spark plan is NOT
    — it is the single-shuffle union+window as-of (operators/asof.py):
    because SCD2 intervals TILE the timeline from the first version on,
    'the interval containing vt' equals 'the latest version at or
    before vt', so the O(|facts| x |versions|) conditional join
    collapses to one windowed carry. Tombstone versions match AS
    tombstones (op = 'D' surfaces; the fact does NOT fall back to an
    older live version — exactly the BETWEEN semantics).

    Scale: one hash exchange on the key for facts+versions together,
    then a local monotone carry — same budget as join_asof; versions
    per key are bounded by change history, facts are the unbounded
    side, and neither ever cross-products. Reference: join semantics
    per SURVEY §2.5 joins row (flod pipeline.d has no joins; this is
    the mandated extension surface)."""
    from flod_spark.operators.asof import asof_join

    log = _cdc_log(spark, sf_dir)
    scd = log.select("k", F.col("seq").alias("valid_from"), "op", "val")
    f = load(spark, sf_dir, "events").select(
        "event_id",
        (F.col("user_id") % 1000).alias("k"),
        F.col("event_id").alias("vt"),
    )
    return asof_join(
        f,
        scd,
        on="k",
        left_time="vt",
        right_time="valid_from",
        left_cols={"event_id": "event_id", "vt": "vt"},
        right_cols={"valid_from": "valid_from", "op": "op", "val": "val"},
        tiebreak="valid_from",
        how="left",
    ).select("event_id", "k", "vt", "valid_from", "op", "val")


@query(
    "window_rolling_median",
    oracle=(
        # exact rolling median over the same microsecond range frame as
        # window_range_frame; agg_percentile already pins quantile_cont ==
        # Spark percentile() value-for-value, so the only new surface is
        # the frame evaluation
        "SELECT event_id, user_id, ts, "
        "  quantile_cont(value, 0.5) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) "
        "    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS rolling_median_1h "
        "FROM events"
    ),
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT rolling median per user over a 1-hour event-time range
    frame — the robust-statistics twin of window_range_frame's rolling
    sum (a median shrugs off the value spikes that drag a mean, which
    is why monitoring pipelines roll medians). percentile() is an exact
    order statistic: both engines sort the frame's values and
    interpolate with the same (n-1)*q arithmetic (agg_percentile pins
    the function pair; this query adds the sliding-frame evaluation).

    Scale: one shuffle on user_id; each frame re-evaluates an O(w log w)
    sort over at most the 1-hour window — the price of exactness (no
    constant-state sliding form exists for order statistics; at higher
    volumes the approx percentile sketch in agg_approx is the handoff,
    or t-digest state in a custom stateful operator)."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_micros("ts"))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.expr("percentile(value, 0.5)").over(w).alias("rolling_median_1h"),
    )


# 2-D heatmap geometry: value axis re-uses the fixed-width bin rule
# (clamped last bin, degenerate span -> bin 0); time axis is the hour
# of day — the canonical load/size-by-time-of-day dashboard tile.
_HM_BINS = 10


@query(
    "histogram_heatmap",
    oracle=(
        "WITH s AS (SELECT MIN(value) AS mn, MAX(value) AS mx FROM events), "
        "b AS (SELECT CAST(hour(ts) AS BIGINT) AS hour_of_day, "
        "    CASE WHEN mx = mn THEN 0 ELSE "
        f"      LEAST(CAST(floor((value - mn) * {_HM_BINS} / (mx - mn)) AS BIGINT), "
        f"      {_HM_BINS - 1}) END AS vbin "
        "  FROM events, s) "
        "SELECT hour_of_day, vbin, CAST(COUNT(*) AS BIGINT) AS n "
        "FROM b GROUP BY hour_of_day, vbin"
    ),
)
def histogram_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D density heatmap (hour-of-day x value bin) — the joint-
    distribution tile behind 'when do the big events happen'
    dashboards, histogram_bins lifted to two axes: the value axis uses
    the same clamped fixed-width rule against the broadcast (min, max)
    pair (identical IEEE op order both engines; degenerate span -> one
    bin), the time axis is the hour extracted from the naive event
    time (both engines agree on NTZ hour).

    Scale: a 1-row min/max aggregate broadcast back, then a map-only
    bin assignment feeding one partial-agg groupBy of at most
    24 x _HM_BINS cells — the exchange carries the heatmap itself, not
    events; at any corpus size this is two scans and constant output,
    the cheapest possible profile shape."""
    ev = load(spark, sf_dir, "events")
    s = ev.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    vbin = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.least(
            F.floor(
                (F.col("value") - F.col("mn")) * _HM_BINS / (F.col("mx") - F.col("mn"))
            ).cast("long"),
            F.lit(_HM_BINS - 1),
        )
    )
    return (
        ev.crossJoin(F.broadcast(s))
        .select(F.hour("ts").cast("long").alias("hour_of_day"), vbin.alias("vbin"))
        .groupBy("hour_of_day", "vbin")
        .agg(F.count("*").alias("n"))
    )


# lateral top-N: one identical ANSI statement on both engines (the
# sql_direct discipline applied to correlated LATERAL subqueries).
_LATERAL_TOPN_SQL = (
    "SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.o_totalprice "
    "FROM customer c, "
    "LATERAL (SELECT o_orderkey, o_totalprice FROM orders "
    "         WHERE o_custkey = c.c_custkey "
    "         ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) o"
)


@query("join_lateral_topn", oracle=_LATERAL_TOPN_SQL)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery — the 'top 3 orders per customer'
    written the way SQL-first users write it (a per-row dependent
    subquery with ORDER BY ... LIMIT), handed verbatim to BOTH engines
    (sql_direct's zero-translation discipline; the string IS the
    oracle). The interesting part is what Catalyst does with it:
    DecorrelateInnerQuery rewrites the per-customer subquery into a
    JOIN + per-key rank — the same physical shape window_rank/agg_mode
    reach explicitly — so the 'run a query per row' surface costs one
    join, not |customers| query executions. Customers without orders
    disappear (inner lateral), ties break on o_orderkey.

    Scale: post-decorrelation this is a broadcast/hash join on
    custkey + a per-key top-3 — no per-row subquery execution exists
    at any scale; the LIMIT prunes per key before anything global."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_LATERAL_TOPN_SQL)


@query(
    "agg_skewness",
    oracle=(
        # third-moment statistics from EXACT decimal power sums
        # (agg_corr's discipline): DuckDB keeps the operand WIDTH on
        # multiply, so x casts to DECIMAL(38,6) and x^3 lands at
        # (38,18) exactly; sums exit through VARCHAR (the registry's
        # >2^53-unscaled rule), then the closing moment algebra is the
        # identical IEEE op sequence both engines. m2 = 0 (all-equal
        # group) yields NULL, not NaN.
        "WITH b AS (SELECT event_type, CAST(value AS DECIMAL(38,6)) AS x FROM events), "
        "s AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, "
        "    SUM(x) AS ds1, SUM(x*x) AS ds2, SUM(x*x*x) AS ds3 "
        "  FROM b GROUP BY event_type), "
        "c AS (SELECT event_type, n, "
        "    CAST(CAST(ds1 AS VARCHAR) AS DOUBLE) AS s1, "
        "    CAST(CAST(ds2 AS VARCHAR) AS DOUBLE) AS s2, "
        "    CAST(CAST(ds3 AS VARCHAR) AS DOUBLE) AS s3 FROM s), "
        "m AS (SELECT event_type, n, s1 / n AS mean, "
        "    s2 / n - (s1 / n) * (s1 / n) AS m2, "
        "    s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * ((s1 / n) * (s1 / n) * (s1 / n)) AS m3 "
        "  FROM c) "
        "SELECT event_type, n, mean, "
        "  CASE WHEN m2 = 0 THEN NULL ELSE m3 / (m2 * sqrt(m2)) END AS skewness "
        "FROM m"
    ),
)
def agg_skewness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution SKEWNESS per group — the asymmetry profile next to
    agg_corr's covariance and agg_mad's robust spread, exact by the
    same discipline: the three power sums Σx, Σx², Σx³ accumulate in
    DECIMAL (Spark grows (12,6) -> (25,12) -> (38,18) without loss;
    DuckDB keeps width from a (38,6) cast — both land the identical
    exact integers), each converts to a correctly-rounded double once,
    and the moment algebra m3/m2^1.5 is the same written IEEE op
    order on both engines (sqrt is correctly rounded; no pow). An
    all-equal group has m2 = 0 EXACTLY and reports NULL.

    Scale: one partial-agg shuffle carrying three decimals + a count
    per group — the same single-exchange budget as any sum; no second
    pass, no window (the textbook E[x³] expansion, not the
    subtract-the-mean form that needs the mean first)."""
    ev = load(spark, sf_dir, "events")
    # (12,6) -> x*x (25,12) -> x*x*x (38,18): every step exact in
    # Spark's precision-growth rules (a wider start would trip the
    # 38-cap scale reduction and silently round)
    x = F.col("value").cast("decimal(12,6)")
    s = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("ds1"),
        F.sum(x * x).alias("ds2"),
        F.sum(x * x * x).alias("ds3"),
    )
    c = s.select(
        "event_type",
        "n",
        F.col("ds1").cast("double").alias("s1"),
        F.col("ds2").cast("double").alias("s2"),
        F.col("ds3").cast("double").alias("s3"),
    )
    n = F.col("n")
    mean = F.col("s1") / n
    m2 = F.col("s2") / n - mean * mean
    m3 = F.col("s3") / n - F.lit(3) * mean * (F.col("s2") / n) + F.lit(2) * (
        mean * mean * mean
    )
    return c.select(
        "event_type",
        "n",
        mean.alias("mean"),
        F.when(m2 == 0, F.lit(None).cast("double"))
        .otherwise(m3 / (m2 * F.sqrt(m2)))
        .alias("skewness"),
    )


@query(
    "agg_diversity",
    oracle=(
        # concentration/diversity indices from EXACT integer counts:
        # Simpson = sum(c^2)/N^2 and Gini impurity = 1 - Simpson are
        # each ONE IEEE division of exact BIGINTs (all far under 2^53
        # at any gate scale), so they cross engines bitwise — no float
        # ln anywhere (Shannon entropy is deliberately NOT offered in
        # the oracle-gated surface: engine ln() is not bit-promised).
        "WITH c AS (SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS c "
        "  FROM events WHERE user_id IS NOT NULL GROUP BY event_type, user_id), "
        "g AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n, "
        "    CAST(COUNT(*) AS BIGINT) AS richness, "
        "    CAST(SUM(c * c) AS BIGINT) AS ss, CAST(MAX(c) AS BIGINT) AS cmax "
        "  FROM c GROUP BY event_type) "
        "SELECT event_type, n, richness, "
        "  CAST(ss AS DOUBLE) / (n * n) AS simpson, "
        "  1.0 - CAST(ss AS DOUBLE) / (n * n) AS gini_impurity, "
        "  CAST(cmax AS DOUBLE) / n AS berger_parker "
        "FROM g"
    ),
)
def agg_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIVERSITY / CONCENTRATION indices per group — who dominates each
    event type: Simpson index (= Herfindahl-Hirschman, the probability
    two random events share a user), its Gini-impurity complement, the
    Berger-Parker dominance (top user's share), and richness (distinct
    users). The market-concentration / class-imbalance audit a training
    pipeline runs on its source mix. Exactness: every index is exact
    BIGINT sums (c, sum c^2, max c — all < 2^53) closed by one IEEE
    division, so values cross engines bitwise; Shannon entropy is
    deliberately excluded from the oracled surface because engine ln()
    carries no bitwise promise (the HLL family's precomputed-ln-table
    rule).

    Scale: two chained partial aggregations — (group, key) counts then
    per-group moments — both combine map-side; the exchange carries one
    row per observed (group, key), never raw events, and the second agg
    is |groups| rows. The same two-level shape rolls up: per-day index
    tables re-aggregate to monthly by re-summing c and c^2."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    c = ev.groupBy("event_type", "user_id").agg(F.count("*").alias("c"))
    g = c.groupBy("event_type").agg(
        F.sum("c").alias("n"),
        F.count("*").alias("richness"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
        F.max("c").alias("cmax"),
    )
    return g.select(
        "event_type",
        "n",
        "richness",
        (F.col("ss").cast("double") / (F.col("n") * F.col("n"))).alias("simpson"),
        (F.lit(1.0) - F.col("ss").cast("double") / (F.col("n") * F.col("n"))).alias(
            "gini_impurity"
        ),
        (F.col("cmax").cast("double") / F.col("n")).alias("berger_parker"),
    )


@query(
    "agg_argminmax",
    oracle=(
        # arg-extremes via rank-1 windows (DuckDB's arg_max has no
        # documented tiebreak; an explicit (value DESC, key DESC) /
        # (value ASC, key ASC) total order does)
        "WITH r AS (SELECT o_orderpriority, o_orderkey, o_totalprice, "
        "    row_number() OVER (PARTITION BY o_orderpriority "
        "      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax, "
        "    row_number() OVER (PARTITION BY o_orderpriority "
        "      ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin "
        "  FROM orders) "
        "SELECT o_orderpriority AS priority, "
        "  MAX(CASE WHEN rmax = 1 THEN o_orderkey END) AS max_order, "
        "  MAX(CASE WHEN rmax = 1 THEN o_totalprice END) AS max_price, "
        "  MAX(CASE WHEN rmin = 1 THEN o_orderkey END) AS min_order, "
        "  MAX(CASE WHEN rmin = 1 THEN o_totalprice END) AS min_price "
        "FROM r GROUP BY o_orderpriority"
    ),
)
def agg_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARG-extreme aggregation (max_by / min_by): per order priority,
    WHICH order carries the highest and lowest total price — the
    'who/what was the extreme' lookup that otherwise costs a self-join
    back onto the aggregate. Ties on price break on the order key
    (largest key for max, smallest for min), making the answer a total
    order both engines agree on; the oracle spells the same tiebreak as
    rank-1 windows because DuckDB's arg_max documents no tie rule.

    Scale: ONE partial aggregation — max_by/min_by carry a single
    (value, key) struct per group through the map-side combine, so the
    exchange is |groups| rows with no sort and no window (the window in
    the ORACLE is DuckDB-only); contrast join_lateral_topn, which pays
    a per-group sort to return the top N > 1."""
    o = load(spark, sf_dir, "orders")
    # ONE struct key serves both: max_by((p, k)) ties on p -> largest k
    # (the oracle's price DESC, key DESC), min_by((p, k)) ties on p ->
    # smallest k (price ASC, key ASC)
    key = F.struct(F.col("o_totalprice"), F.col("o_orderkey"))
    return o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.max_by("o_orderkey", key).alias("max_order"),
        F.max("o_totalprice").alias("max_price"),
        F.min_by("o_orderkey", key).alias("min_order"),
        F.min("o_totalprice").alias("min_price"),
    )


# window_cusum drift threshold: the one-sided CUSUM accumulates
# (value - _CUSUM_K) and clamps at zero; alarms read S > h downstream.
# Exactness: value quantizes to DECIMAL(18,6) (the bars_ohlc rounding
# contract), so prefix sums and the running min are exact decimals and
# the clamp identity is exact algebra, not float folding.
_CUSUM_K = "0.5"


@query(
    "window_cusum",
    oracle=(
        "WITH b AS (SELECT event_id, user_id, ts, "
        f"    CAST(value AS DECIMAL(18,6)) - CAST({_CUSUM_K} AS DECIMAL(18,6)) AS d "
        "  FROM events), "
        "p AS (SELECT event_id, user_id, ts, "
        "    SUM(d) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pf "
        "  FROM b), "
        # the zero-clamp is a CASE, not LEAST: DuckDB's LEAST silently
        # promotes DECIMAL(38,6) operands to DOUBLE, which folds the
        # subtraction in float and drifts an ulp off Spark's exact path
        "m AS (SELECT event_id, user_id, ts, pf, "
        "    MIN(pf) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS mn "
        "  FROM p) "
        "SELECT event_id, user_id, ts, "
        "  CAST(pf - (CASE WHEN mn > 0 THEN CAST(0 AS DECIMAL(38,6)) ELSE mn END) "
        "    AS DOUBLE) AS cusum "
        "FROM m"
    ),
)
def window_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift statistic per user — the changepoint /
    drift detector (Page 1954) monitoring pipelines run on metric
    streams: S_i = max(0, S_{i-1} + x_i - k). The recurrence is NOT a
    window aggregate, but the classic identity S_i = P_i - min(0,
    min_{j<=i} P_j) (prefix sum minus clamped running minimum) turns it
    into TWO running windows over the same sort — no recursion, no UDF,
    no per-row Python. Exact: x quantizes to DECIMAL(18,6), so both
    windows fold exact decimals and only the final report casts to
    double (correctly rounded from an exact value in both engines).

    Scale: one shuffle on user_id, then two running frames over the
    single sorted partition pass — running aggregates keep O(1) state
    per row (no frame re-scan), identical budget to window_running;
    (user_id, ts) is unique so the order is total. At 100 TB this is
    the per-entity drift scan: the shuffle is the only exchange, and
    alarming (S > h) is a free map afterward."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d = F.col("value").cast("decimal(18,6)") - F.lit(_CUSUM_K).cast("decimal(18,6)")
    p = ev.select("event_id", "user_id", "ts", d.alias("d")).withColumn(
        "pf", F.sum("d").over(run)
    )
    mn = F.min("pf").over(run)
    lo = F.when(mn > 0, F.lit(0).cast("decimal(38,6)")).otherwise(mn)
    return p.select(
        "event_id", "user_id", "ts",
        (F.col("pf") - lo).cast("double").alias("cusum"),
    )


@query(
    "window_drawdown",
    oracle=(
        "WITH b AS (SELECT event_id, user_id, ts, "
        "    CAST(value AS DECIMAL(18,6)) AS x FROM events), "
        "p AS (SELECT event_id, user_id, ts, x, "
        "    MAX(x) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS peak "
        "  FROM b), "
        "d AS (SELECT event_id, user_id, ts, CAST(peak - x AS DOUBLE) AS drawdown, "
        "    MAX(peak - x) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS mdd "
        "  FROM p) "
        "SELECT event_id, user_id, ts, drawdown, CAST(mdd AS DOUBLE) AS max_drawdown "
        "FROM d"
    ),
)
def window_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DRAWDOWN per user — distance below the running peak, and
    the running MAXIMUM drawdown (the risk metric every portfolio /
    SLA dashboard draws; on a metric stream it reads 'how far below
    the best-so-far are we, and how bad has it ever gotten'). Two
    chained running aggregates over one sort: running max of x gives
    the peak, running max of (peak - x) gives the max drawdown to
    date. Exact: values quantize to DECIMAL(18,6); MAX is selection
    (no folding error at any width) and the subtraction is exact
    decimal algebra — only the report columns cast to double.

    Scale: window_cusum's exact budget — one shuffle on user_id, one
    sorted partition pass, O(1) running-aggregate state per row, no
    frame re-scans; the second running max chains onto the same sort
    with zero extra exchanges."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    x = F.col("value").cast("decimal(18,6)")
    p = ev.select("event_id", "user_id", "ts", x.alias("x")).withColumn(
        "peak", F.max("x").over(run)
    )
    dd = F.col("peak") - F.col("x")
    d = p.withColumn("dd", dd)
    return d.select(
        "event_id", "user_id", "ts",
        F.col("dd").cast("double").alias("drawdown"),
        F.max("dd").over(run).cast("double").alias("max_drawdown"),
    )


# RSI lookback (trailing rows per frame, the classic 14)
_RSI_N = 14


@query(
    "window_rsi",
    oracle=(
        "WITH b AS (SELECT event_id, user_id, ts, "
        "    CAST(value AS DECIMAL(18,6)) AS x FROM events), "
        "d AS (SELECT event_id, user_id, ts, "
        "    x - lag(x) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS df "
        "  FROM b), "
        "g AS (SELECT event_id, user_id, ts, "
        "    SUM(CASE WHEN df > 0 THEN df END) OVER fr AS gain, "
        "    SUM(CASE WHEN df < 0 THEN -df END) OVER fr AS loss, "
        "    SUM(CASE WHEN df IS NOT NULL THEN df * 0 END) OVER fr AS anydiff "
        "  FROM d WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id "
        f"    ROWS BETWEEN {_RSI_N - 1} PRECEDING AND CURRENT ROW)) "
        "SELECT event_id, user_id, ts, "
        "  CASE WHEN anydiff IS NULL THEN NULL ELSE "
        "    CAST(100 * COALESCE(gain, 0) AS DOUBLE) "
        "      / NULLIF(CAST(COALESCE(gain, 0) + COALESCE(loss, 0) AS DOUBLE), 0) "
        "  END AS rsi_14 "
        "FROM g"
    ),
)
def window_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RELATIVE STRENGTH INDEX (Cutler's SMA form) per user — the
    momentum oscillator next to bars/cusum/drawdown: RSI = 100 *
    sum(gains) / (sum(gains) + sum(losses)) over the trailing
    _RSI_N-row frame. The SMA variant is chosen DELIBERATELY over
    Wilder's original: Wilder smoothing is an unbounded float
    recursion (every step rounds, order-dependent — the window_ewma
    docstring's argument), while Cutler's is two exact DECIMAL frame
    sums closed by one IEEE division, so it crosses engines bitwise.
    Rows before any diff exists (each user's first) yield NULL; a
    fully flat window (gains = losses = 0) yields NULL via NULLIF,
    not NaN.

    Scale: one shuffle on user_id, one sorted pass — the lag and both
    frame sums share the sort; trailing-ROWS running aggregates keep
    O(1) state per row (no frame re-scan). window_cusum's exact
    budget with one extra lag read."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    fr = w.rowsBetween(-(_RSI_N - 1), Window.currentRow)
    x = F.col("value").cast("decimal(18,6)")
    d = ev.select("event_id", "user_id", "ts", (x - F.lag(x).over(w)).alias("df"))
    gain = F.sum(F.when(F.col("df") > 0, F.col("df"))).over(fr)
    loss = F.sum(F.when(F.col("df") < 0, -F.col("df"))).over(fr)
    anydiff = F.sum(F.when(F.col("df").isNotNull(), F.col("df") * 0)).over(fr)
    g = d.select("event_id", "user_id", "ts", gain.alias("gain"),
                 loss.alias("loss"), anydiff.alias("anydiff"))
    rsi = (
        (F.lit(100) * F.coalesce(F.col("gain"), F.lit(0).cast("decimal(18,6)")))
        .cast("double")
        / F.nullif(
            (
                F.coalesce(F.col("gain"), F.lit(0).cast("decimal(18,6)"))
                + F.coalesce(F.col("loss"), F.lit(0).cast("decimal(18,6)"))
            ).cast("double"),
            F.lit(0.0),
        )
    )
    return g.select(
        "event_id", "user_id", "ts",
        F.when(F.col("anydiff").isNull(), F.lit(None).cast("double"))
        .otherwise(rsi)
        .alias("rsi_14"),
    )


# Bollinger lookback (trailing rows per frame, the classic 20)
_BOLL_W = 20


@query(
    "window_bollinger",
    oracle=(
        "WITH b AS (SELECT event_id, user_id, ts, "
        "    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS xq FROM events), "
        "s AS (SELECT event_id, user_id, ts, "
        "    SUM(xq) OVER fr AS sx, "
        "    SUM(CAST(xq AS DECIMAL(19,0)) * CAST(xq AS DECIMAL(19,0))) OVER fr AS ssq, "
        "    COUNT(xq) OVER fr AS n "
        "  FROM b WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id "
        f"    ROWS BETWEEN {_BOLL_W - 1} PRECEDING AND CURRENT ROW)), "
        "v AS (SELECT event_id, user_id, ts, sx, n, "
        "    CAST(n AS DECIMAL(3,0)) * CAST(ssq AS DECIMAL(30,0)) "
        "      - CAST(sx AS DECIMAL(19,0)) * CAST(sx AS DECIMAL(19,0)) AS var_num "
        "  FROM s), "
        # the VARCHAR round-trip is the registry's second-moment rule:
        # var_num's unscaled value exceeds 2^53, and DuckDB's direct
        # decimal->double double-rounds
        "r AS (SELECT event_id, user_id, ts, "
        "    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS mid, "
        "    sqrt(CAST(CAST(var_num AS VARCHAR) AS DOUBLE)) / CAST(n AS DOUBLE) / 1000000.0 AS sigma "
        "  FROM v) "
        "SELECT event_id, user_id, ts, mid AS mid_20, sigma AS sigma_20, "
        "  mid + 2.0 * sigma AS upper_20, mid - 2.0 * sigma AS lower_20 FROM r"
    ),
)
def window_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOLLINGER BANDS per user — trailing mean +- 2 sigma over the
    classic 20-row frame, completing the detector family (EWMA
    smoothing, CUSUM drift, drawdown risk, RSI momentum, Bollinger
    volatility). The variance uses the EXACT-integer identity
    n*sum(x^2) - (sum(x))^2 over micros-quantized values: both frame
    sums are exact decimals (the squares channel widens its operands
    to DECIMAL(19,0) — int128 storage in both engines — so no one
    rounds anywhere), and only the REPORT converts — one double cast, one
    correctly-rounded sqrt, two divisions and the +-2 sigma adds, in
    a fixed order both engines execute identically. Population sigma
    (divide by n) — each frame is the whole window, not a sample.
    Short head frames (n < 20) use their true n, so early rows carry
    honest wide/narrow bands instead of NULL padding.

    Scale: window_cusum's exact budget — one shuffle on user_id, one
    sorted partition pass; trailing-ROWS frames keep O(1) running
    state per row (Spark's sliding frame ADDs the entering row and
    REMOVEs the leaving one — sums, not re-scans). The decimal widths
    hold to |value| ~1e8 — far above any metric feed; beyond that,
    widen the channel, the identity survives any width."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    fr = w.rowsBetween(-(_BOLL_W - 1), Window.currentRow)
    xq = (F.col("value").cast("decimal(18,6)") * F.lit(1000000)).cast("long")
    b = ev.select("event_id", "user_id", "ts", xq.alias("xq"))
    xq_d = F.col("xq").cast("decimal(19,0)")
    s = b.select(
        "event_id", "user_id", "ts",
        F.sum("xq").over(fr).alias("sx"),
        F.sum(xq_d * xq_d).over(fr).alias("ssq"),
        F.count("xq").over(fr).alias("n"),
    )
    var_num = (
        F.col("n").cast("decimal(3,0)") * F.col("ssq").cast("decimal(30,0)")
        - F.col("sx").cast("decimal(19,0)") * F.col("sx").cast("decimal(19,0)")
    )
    v = s.select("event_id", "user_id", "ts", "sx", "n", var_num.alias("var_num"))
    mid = F.col("sx").cast("double") / F.col("n").cast("double") / F.lit(1000000.0)
    sigma = (
        F.sqrt(F.col("var_num").cast("double"))
        / F.col("n").cast("double")
        / F.lit(1000000.0)
    )
    r = v.select("event_id", "user_id", "ts", mid.alias("mid"), sigma.alias("sigma"))
    return r.select(
        "event_id", "user_id", "ts",
        F.col("mid").alias("mid_20"),
        F.col("sigma").alias("sigma_20"),
        (F.col("mid") + F.lit(2.0) * F.col("sigma")).alias("upper_20"),
        (F.col("mid") - F.lit(2.0) * F.col("sigma")).alias("lower_20"),
    )
