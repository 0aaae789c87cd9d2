"""Join queries (SURVEY.md §2B "Joins").

Shapes mirror the reference's own join usage — inner equi-join on a key
list (/root/reference/test/fixtures/pipelines.py:39-41), left outer join to
a dimension (/root/reference/examples/databricks/transactions/silver/
nb_create_customer_summary.py:59) — plus the gap-fill joins (full outer,
semi, anti, range) the reference never exercises, and the BENCH q3/q5
multi-way join shapes pinned in BASELINE.md.

Scale notes (100 TB):
  * Dimension sides (``nation``, ``region``, price-band literals) are
    explicitly ``F.broadcast``-hinted — no shuffle of the fact side for
    those joins, and the range join becomes a broadcast nested-loop over a
    4-row build side instead of a cartesian shuffle.
  * Fact⋈fact joins (orders⋈lineitem) shuffle on the join key; AQE handles
    skew splitting. The q3/q5 filters sit *before* the joins so Catalyst
    pushes them into the parquet scans (PushedFilters) and the join inputs
    shrink at the source.
  * Semi/anti joins use Spark's native left_semi/left_anti — no distinct
    or exists-subquery materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jorvik_spark.tables import load_table
from jorvik_spark.queries.registry import (
    davg,
    dsum,
    query,
    sql_davg,
    sql_dsum,
)


@query(
    "join_inner_equi",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
           c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join fact→dimension (reference pipelines.py:39-41 shape)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c.c_custkey, c.c_name, big.o_orderkey, big.o_totalprice
    FROM customer c
    LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) big
      ON c.c_custkey = big.o_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving unmatched left rows (null-padded)."""
    c = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(big, c.c_custkey == big.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "join_full_outer",
    oracle="""
    SELECT COALESCE(cu.nk, su.nk) AS nationkey, cu.n_customers, su.n_suppliers
    FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_customers
          FROM customer GROUP BY c_nationkey) cu
    FULL OUTER JOIN
         (SELECT s_nationkey AS nk, COUNT(*) AS n_suppliers
          FROM supplier GROUP BY s_nationkey) su
      ON cu.nk = su.nk
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two per-nation aggregates (nulls on both sides)."""
    cu = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    su = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return cu.join(su, cu.nk == su.nk, "full").select(
        F.coalesce(cu.nk, su.nk).alias("nationkey"), "n_customers", "n_suppliers"
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join — customers with ≥1 very large order (EXISTS shape)."""
    c = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return c.join(big, c.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join — customers with no urgent orders (NOT EXISTS shape)."""
    c = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(urgent, c.c_custkey == urgent.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


_PRICE_BANDS = [
    ("small", 0.0, 50_000.0),
    ("medium", 50_000.0, 150_000.0),
    ("large", 150_000.0, 350_000.0),
    ("jumbo", 350_000.0, 1_000_000.0),
]


@query(
    "join_range",
    oracle=f"""
    WITH bands(band, lo, hi) AS (VALUES
        ('small', 0.0, 50000.0), ('medium', 50000.0, 150000.0),
        ('large', 150000.0, 350000.0), ('jumbo', 350000.0, 1000000.0))
    SELECT b.band, COUNT(*) AS n_orders,
           {sql_dsum('o.o_totalprice')} AS sum_price
    FROM orders o JOIN bands b ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range join against a tiny broadcast band table.

    At 100 TB the build side is 4 rows → broadcast nested-loop join, one
    pass over the fact table, no shuffle before the final 4-group agg.
    """
    o = load_table(spark, sf_dir, "orders")
    # VALUES → JVM LocalRelation. createDataFrame would ship these 4 rows
    # through a Python RDD (applySchemaToPythonRDD), paying a Python-worker
    # round-trip on every invocation (~0.7 s of a ~1 s query).
    rows = ", ".join(f"('{b}', {lo}D, {hi}D)" for b, lo, hi in _PRICE_BANDS)
    bands = spark.sql(f"SELECT * FROM VALUES {rows} AS bands(band, lo, hi)")
    cond = (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi)
    return (
        o.join(F.broadcast(bands), cond, "inner")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("sum_price"),
        )
    )


@query(
    "join_q3_topk",
    oracle=f"""
    SELECT l.l_orderkey,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def join_q3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENCH q3 — filter + 3-way join + agg + top-10 (TPC-H Q3 shape).

    Filters precede the joins → pushed into the parquet scans; the
    segment-filtered customer side is left to AQE, which broadcasts it
    while it fits and falls back to a shuffle join beyond the threshold —
    an explicit broadcast hint would be wrong at scale: the filter keeps
    ~1/5 of customers (5 segments), which grows linearly with the table,
    unlike q5's genuinely bounded 25-row dimension. Top-10 is
    TakeOrderedAndProject (no global sort materialization).
    """
    c = load_table(spark, sf_dir, "customer").filter(
        "c_mktsegment = 'BUILDING'"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        "o_orderdate < CAST('1998-01-01' AS TIMESTAMP)"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        "l_shipdate > CAST('1998-01-01' AS TIMESTAMP)"
    )
    # Sort keys stay Columns: F.expr("revenue DESC") parses as the alias
    # `revenue AS DESC` and sorts ascending.
    return (
        li.join(o, F.expr("l_orderkey = o_orderkey"))
        .join(c, F.expr("o_custkey = c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum("l_extendedprice * (1 - l_discount)").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "join_q5_regional",
    oracle=f"""
    SELECT n.n_name,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM region r
    JOIN nation n ON r.r_regionkey = n.n_regionkey
    JOIN customer c ON n.n_nationkey = c.c_nationkey
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n_name
    """,
)
def join_q5_regional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENCH q5 — 5-way join + agg + sort (TPC-H Q5 shape).

    region⋈nation collapses to a broadcast build of ≤25 rows applied to
    customer; the only real shuffles are customer⋈orders and
    orders⋈lineitem on their keys, then a 25-group agg. Date filter is
    pushed to the orders scan.
    """
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        "o_orderdate >= CAST('1996-01-01' AS TIMESTAMP)"
        " AND o_orderdate < CAST('1998-01-01' AS TIMESTAMP)"
    )
    li = load_table(spark, sf_dir, "lineitem")
    dim = F.broadcast(n.join(F.broadcast(r), F.expr("n_regionkey = r_regionkey")))
    # Join order deliberately keeps lineitem on the stream side of ALL
    # three joins: o/c/dim each broadcast (AQE for the first two, hinted
    # for the dims), so the three probes fuse into ONE whole-stage
    # codegen pass over the fact scan. The tempting alternative —
    # pre-assemble orders⋈customer⋈dims into a slim (orderkey, nation)
    # side so lineitem passes one join — measured 15-30% SLOWER here:
    # the assembly is a blocking barrier before the fact scan can start,
    # while the fused-probe pipeline streams immediately (A/B'd at
    # sf0.1; revisit only when orders outgrows the broadcast threshold).
    return (
        li.join(o, F.expr("l_orderkey = o_orderkey"))
        .join(c, F.expr("o_custkey = c_custkey"))
        .join(dim, F.expr("c_nationkey = n_nationkey"))
        .groupBy("n_name")
        .agg(dsum("l_extendedprice * (1 - l_discount)").alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@query(
    "join_right_outer",
    oracle="""
    SELECT c.c_custkey, c.c_name, big.o_orderkey, big.o_totalprice
    FROM (SELECT * FROM orders WHERE o_totalprice > 400000) big
    RIGHT JOIN customer c ON big.o_custkey = c.c_custkey
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (mirror of join_left_outer, preserved right side).

    Catalyst rewrites right joins as left joins with swapped inputs, so at
    scale the plan is identical to the left-outer variant — registered to
    prove the semantic, not a new physical shape.
    """
    c = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return big.join(c, big.o_custkey == c.c_custkey, "right").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "join_cross",
    oracle="""
    SELECT r.r_name, n.n_name
    FROM region r CROSS JOIN nation n
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join of two tiny dimensions (5 × 25 rows).

    Cross joins are only ever acceptable when at least one side is
    broadcast-small; the hint makes that a BroadcastNestedLoopJoin with no
    shuffle. A fact⋈fact cross join is a plan bug, never a strategy.
    """
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(F.broadcast(n)).select("r_name", "n_name")


@query(
    "join_asof",
    oracle="""
    WITH latest_per_day AS (
        -- dedup the right side at equal timestamps so the as-of pick is
        -- deterministic on both engines
        SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                                           ORDER BY o_orderkey DESC) AS rn
              FROM orders) t
        WHERE rn = 1)
    SELECT e.event_id, e.user_id, e.ts,
           o.o_orderkey AS asof_orderkey, o.o_totalprice AS asof_totalprice
    FROM events e
    ASOF LEFT JOIN latest_per_day o
      ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event picks the most recent order (o_orderdate ≤ ts)
    of the same user. Spark has no ASOF JOIN; the scale-safe shape is the
    union-and-carry-forward trick, NOT an equi-join + per-pair filter:

      union orders and events on (user, time), sort within user, and carry
      the last seen order forward with last(..., ignorenulls) over an
      unbounded-preceding window.

    One shuffle on user_id, O(n log n) per user, and — unlike the naive
    join-then-max — no |events_u| × |orders_u| pair blowup for hot users.
    Ties (order at exactly the event ts) sort orders first → inclusive ≤,
    matching DuckDB ASOF semantics.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("user_id").alias("uid"), F.col("ts").alias("t")
    )
    # Deterministic right side: one order per (user, timestamp).
    w_dedup = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.desc("o_orderkey")
    )
    od = (
        load_table(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w_dedup))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("uid"),
            F.col("o_orderdate").alias("t"),
            "o_orderkey",
            "o_totalprice",
        )
    )
    unioned = od.withColumn("event_id", F.lit(None).cast("long")).withColumn(
        "is_event", F.lit(0)
    ).unionByName(
        ev.select(
            "uid",
            "t",
            F.lit(None).cast("long").alias("o_orderkey"),
            F.lit(None).cast("double").alias("o_totalprice"),
            "event_id",
            F.lit(1).alias("is_event"),
        )
    )
    w = (
        Window.partitionBy("uid")
        .orderBy("t", "is_event")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        unioned.withColumn(
            "asof_orderkey", F.last("o_orderkey", ignorenulls=True).over(w)
        )
        .withColumn(
            "asof_totalprice", F.last("o_totalprice", ignorenulls=True).over(w)
        )
        .filter(F.col("is_event") == 1)
        .select(
            "event_id",
            F.col("uid").alias("user_id"),
            F.col("t").alias("ts"),
            "asof_orderkey",
            "asof_totalprice",
        )
    )


# As-of staleness tolerance (pandas merge_asof's ``tolerance``): 7 days.
_ASOF_TOL_US = 7 * 86_400 * 1_000_000


@query(
    "join_asof_tolerance",
    oracle=f"""
    WITH latest_per_day AS (
        SELECT o_custkey, o_orderdate, o_orderkey
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                                           ORDER BY o_orderkey DESC) AS rn
              FROM orders) t
        WHERE rn = 1),
    matched AS (
        SELECT e.event_id, e.user_id, e.ts,
               o.o_orderkey, o.o_orderdate
        FROM events e
        ASOF LEFT JOIN latest_per_day o
          ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts)
    SELECT event_id, user_id, ts,
           CASE WHEN epoch_us(ts) - epoch_us(o_orderdate) <= {_ASOF_TOL_US}
                THEN o_orderkey END AS asof_orderkey,
           CASE WHEN epoch_us(ts) - epoch_us(o_orderdate) <= {_ASOF_TOL_US}
                THEN (epoch_us(ts) - epoch_us(o_orderdate)) // 1000000
                END AS asof_age_s
    FROM matched
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness TOLERANCE (pandas ``merge_asof``'s
    ``tolerance=``, kdb's windowed wj): each event picks the most recent
    same-user order, but a match older than 7 days is treated as no
    match — the feature-freshness contract of an online feature store
    (a stale feature row is worse than a null).

    Same union-and-carry-forward shape as :func:`join_asof` (one
    user-keyed window, no |events_u| × |orders_u| blowup for hot users)
    with the matched ORDER TIMESTAMP carried alongside the payload; the
    tolerance is then one codegen'd age predicate that nulls out stale
    carries. Age arithmetic is exact integer microseconds on both
    engines.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("user_id").alias("uid"), F.col("ts").alias("t")
    )
    w_dedup = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.desc("o_orderkey")
    )
    od = (
        load_table(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w_dedup))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("uid"),
            F.col("o_orderdate").alias("t"),
            "o_orderkey",
        )
    )
    unioned = od.select(
        "uid", "t", "o_orderkey",
        F.col("t").alias("ot"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(0).alias("is_event"),
    ).unionByName(
        ev.select(
            "uid",
            "t",
            F.lit(None).cast("long").alias("o_orderkey"),
            F.lit(None).cast("timestamp").alias("ot"),
            "event_id",
            F.lit(1).alias("is_event"),
        )
    )
    w = (
        Window.partitionBy("uid")
        .orderBy("t", "is_event")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        unioned.withColumn(
            "asof_orderkey", F.last("o_orderkey", ignorenulls=True).over(w)
        )
        .withColumn("asof_t", F.last("ot", ignorenulls=True).over(w))
        .filter(F.col("is_event") == 1)
    )
    age_us = F.unix_micros("t") - F.unix_micros("asof_t")
    fresh = age_us <= F.lit(_ASOF_TOL_US)
    return carried.select(
        "event_id",
        F.col("uid").alias("user_id"),
        F.col("t").alias("ts"),
        F.when(fresh, F.col("asof_orderkey")).alias("asof_orderkey"),
        F.when(fresh, F.expr("(unix_micros(t) - unix_micros(asof_t)) div "
                             "1000000")).alias("asof_age_s"),
    )


_SALT_N = 8


@query(
    "join_skew_salted",
    oracle=f"""
    SELECT c.c_mktsegment, COUNT(*) AS n_orders,
           {sql_dsum('o.o_totalprice')} AS sum_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join — the manual skew-mitigation pattern, proven
    equivalent to the plain join by the oracle.

    Fact rows get a deterministic salt in [0, N); the dimension side is
    exploded N× so every (key, salt) pair exists. A hot key's rows then
    spread over N shuffle partitions instead of one straggler task. AQE's
    skew-join split handles moderate skew automatically; explicit salting
    is for the pathological key (one user = 30% of events) where even a
    split partition is one reducer's worth of a single key.
    """
    o = load_table(spark, sf_dir, "orders").withColumn(
        "salt", F.pmod(F.col("o_orderkey"), F.lit(_SALT_N)).cast("int")
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .withColumn(
            "salt", F.explode(F.array([F.lit(i) for i in range(_SALT_N)]))
        )
    )
    return (
        o.join(c, (o.o_custkey == c.c_custkey) & (o.salt == c.salt))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("sum_price"),
        )
    )


@query(
    "join_q10_returned_revenue",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           c.c_acctbal
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def join_q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item revenue per customer, top-20 (TPC-H Q10 shape).

    The two filters (order-date window, returnflag) sit before the joins
    so both reach the parquet scans as PushedFilters; the quarter filter
    keeps ~1/12 of orders, which AQE sizes at runtime for the
    orders⋈lineitem shuffle join. Grouping keys ride the customer join, so
    the final agg reuses the customer-key shuffle; top-20 is
    TakeOrderedAndProject — no global sort, no full-result
    materialization. At 100 TB nothing here is broadcast-dependent: both
    fact joins degrade gracefully to sort-merge.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name", "c_acctbal")
        .agg(dsum("l_extendedprice * (1 - l_discount)").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# Q18 large-order threshold: p99.9 of per-order quantity sums at every
# test SF (~0.2% of orders qualify) — selective but never vacuous.
_Q18_MIN_QTY = 300.0


@query(
    "join_q18_large_orders",
    oracle=f"""
    WITH big AS (
        SELECT l_orderkey, {sql_dsum('l_quantity')} AS total_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING {sql_dsum('l_quantity')} > {_Q18_MIN_QTY})
    SELECT c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           b.total_qty
    FROM big b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def join_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-quantity orders with their customers (TPC-H Q18 shape).

    The classic HAVING-subquery join: aggregate lineitem per order, keep
    the >300-quantity tail, then join the tiny survivor set back to
    orders and customer. The aggregation happens FIRST (map-side partial
    sums, one shuffle on l_orderkey) so the expensive fact⋈fact join runs
    on ~0.1% of orders; AQE sees the post-HAVING statistics at runtime
    and broadcasts the survivor side. Top-100 is TakeOrderedAndProject.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > _Q18_MIN_QTY)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty"
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@query(
    "join_q14_promo_share",
    oracle=f"""
    SELECT CAST(floor(
               (SUM(CAST(floor(CASE WHEN p.p_type = 'PROMO'
                                    THEN l.l_extendedprice * (1 - l.l_discount)
                                    ELSE 0.0 END * 1000000 + 0.5) AS BIGINT))
                / SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                                 * 1000000 + 0.5) AS BIGINT)))
               * 1000000 + 0.5) AS BIGINT) AS promo_share_ppm,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS total_revenue,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1996-02-01 00:00:00'
    """,
)
def join_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotional revenue share for one ship-month (TPC-H Q14 shape):
    conditional aggregation over a fact⋈dimension join, returning one row.

    The month filter reaches the lineitem scan; part is the build side
    (AQE broadcasts it while it fits — at TPC-H scale part grows ~200k
    rows/SF, so past the broadcast threshold this degrades to a shuffle
    join on p_partkey, which is the right fallback). The share is
    computed ppm-style from the two quantized integer sums: the division
    runs on bit-identical operands on both engines, so the rounded ppm is
    hash-stable (see registry.py's numeric-determinism convention; a raw
    100*a/b double would also match today, but the integer form can't
    drift).
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev_sql = "l_extendedprice * (1 - l_discount)"
    rev = F.expr(rev_sql)
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    # Quantized units accumulate in DECIMAL(38,0) (int64 overflows past
    # 9.2e12 value units per group — one 100 TB revenue month); the share
    # division casts both exact sums to double, mirroring DuckDB's
    # HUGEINT/HUGEINT → double, so the rounded ppm stays hash-identical.
    q = lambda c: F.sum(  # noqa: E731
        F.floor(c * 1_000_000 + F.lit(0.5)).cast("decimal(38,0)")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            q(promo_rev).alias("_promo_q"),
            q(rev).alias("_all_q"),
            dsum(rev_sql).alias("total_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            F.floor(
                (
                    F.col("_promo_q").cast("double")
                    / F.col("_all_q").cast("double")
                )
                * 1_000_000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("promo_share_ppm"),
            "total_revenue",
            "n_items",
        )
    )


@query(
    "join_q22_idle_customers",
    oracle=f"""
    WITH avg_bal AS (
        SELECT {sql_davg('c_acctbal')} AS v
        FROM customer WHERE c_acctbal > 0.0)
    SELECT c.c_nationkey,
           COUNT(*) AS n_customers,
           {sql_dsum('c.c_acctbal')} AS total_balance
    FROM customer c, avg_bal a
    WHERE c.c_acctbal > a.v
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c.c_nationkey
    ORDER BY c.c_nationkey
    """,
)
def join_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-balance customers with no recent orders, per nation (TPC-H
    Q22 shape): scalar-subquery threshold + anti join + grouped agg.

    The global average is a one-row aggregate cross-joined back (Spark
    plans it as a broadcast nested-loop over a single row — free); the
    "no recent orders" predicate is a native left_anti against the
    date-filtered orders scan (filter pushed down, no EXISTS
    materialization). Both shapes scale: the anti join shuffles on the
    customer key only, and the threshold compare is a map-side filter.
    """
    c = load_table(spark, sf_dir, "customer")
    o_recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(davg("c_acctbal").alias("v"))
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("v"))
        .join(o_recent, c.c_custkey == o_recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal").alias("total_balance"),
        )
        .orderBy("c_nationkey")
    )


@query(
    "join_q13_custdist",
    oracle="""
    WITH co AS (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
             AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey)
    SELECT CAST(c_count AS BIGINT) AS c_count,
           COUNT(*) AS custdist
    FROM co GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def join_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (TPC-H Q13 shape): LEFT OUTER
    join so zero-order customers land in the c_count=0 bucket, then a
    second aggregation over the counts — the double-grouping histogram
    pattern.

    The priority exclusion applies only to the orders side, so it is a
    pre-join filter pushed to the orders scan (inside an outer-join ON
    clause it could not be pushed past the join). First aggregation
    shuffles on c_custkey — the join's own key, so AQE reuses the
    exchange; the second groups the per-customer rows (|customers|, not
    |orders|) by the tiny c_count key space. Count skew on popular
    c_count values is capped by |customers| per bucket and the map-side
    partial combine.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .select(F.col("c_count").cast("long").alias("c_count"), "custdist")
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "join_q15_top_supplier",
    oracle="""
    WITH rev AS (
        SELECT l_suppkey,
               SUM(CAST(floor(l_extendedprice * (1 - l_discount)
                              * 1000000 + 0.5) AS BIGINT)) AS total_q
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey),
    mx AS (SELECT MAX(total_q) AS m FROM rev)
    SELECT s.s_suppkey, s.s_name,
           r.total_q / 1000000.0 AS total_revenue
    FROM rev r, mx
    JOIN supplier s ON r.l_suppkey = s.s_suppkey
    WHERE r.total_q = mx.m
    ORDER BY s.s_suppkey
    """,
)
def join_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top revenue supplier for a quarter (TPC-H Q15 shape): aggregate,
    take the scalar max, join the argmax rows back to the dimension —
    the view-plus-scalar-subquery pattern.

    The max rides a one-row broadcast back onto the per-supplier
    aggregate (cheap second pass over |suppliers| rows, NOT the fact
    table); the equality compare runs on the QUANTIZED integer revenue,
    so float summation order can neither drop nor double the argmax row
    on either engine — revenue converts to a double only in the output
    projection. Supplier join is a broadcast at any realistic dimension
    size; ties (several suppliers at the max) all surface, ordered.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    # DECIMAL(38,0) accumulator for the same reason as registry.dsum: a
    # per-supplier quarter can pass the int64 unit ceiling at extreme
    # corpus scale, and the argmax equality must compare exact integers.
    rev_q = F.sum(
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            * 1_000_000
            + F.lit(0.5)
        ).cast("decimal(38,0)")
    )
    rev = li.groupBy("l_suppkey").agg(rev_q.alias("total_q"))
    mx = rev.agg(F.max("total_q").alias("m"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_q") == F.col("m"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("total_q") / 1_000_000.0).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


# Q19-style disjunctive brackets: three (brand, size-range, qty-range)
# clauses OR'd together — sized to stay non-vacuous at every test SF.
_Q19_BRACKETS = [
    ("Brand#12", 1, 15, 1.0, 11.0),
    ("Brand#23", 1, 25, 10.0, 20.0),
    ("Brand#3", 1, 50, 20.0, 30.0),
]


def _q19_sql_pred() -> str:
    return " OR ".join(
        f"(p.p_brand = '{b}' AND p.p_size BETWEEN {s0} AND {s1}"
        f" AND l.l_quantity BETWEEN {q0} AND {q1})"
        for b, s0, s1, q0, q1 in _Q19_BRACKETS
    )


@query(
    "join_q19_brackets",
    oracle=f"""
    SELECT {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE {_q19_sql_pred()}
    """,
)
def join_q19_brackets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive bracket predicates over a fact⋈dimension join (TPC-H
    Q19 shape): three OR'd (brand, size-range, quantity-range) clauses
    that each mix columns from BOTH tables.

    The pushdown test case the conjunctive queries can't exercise:
    Catalyst's constraint propagation derives the per-table implications
    of the disjunction — the union of the quantity ranges filters the
    lineitem SCAN and the union of the brand/size brackets filters the
    part scan (pinned in test_plans) — so at 100 TB the join consumes
    only bracket-plausible rows from each side; the exact mixed-table
    disjunction then runs as a post-join filter on that reduced stream.
    Part is the broadcast side at every realistic dimension size.
    """
    li = load_table(spark, sf_dir, "lineitem").alias("l")
    p = load_table(spark, sf_dir, "part").alias("p")
    pred = None
    for b, s0, s1, q0, q1 in _Q19_BRACKETS:
        clause = (
            (F.col("p.p_brand") == b)
            & F.col("p.p_size").between(s0, s1)
            & F.col("l.l_quantity").between(q0, q1)
        )
        pred = clause if pred is None else (pred | clause)
    return (
        li.join(p, F.col("l.l_partkey") == F.col("p.p_partkey"))
        .filter(pred)
        .agg(
            dsum("l.l_extendedprice * (1 - l.l_discount)").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_BASKET_TOP_N = 20


@query(
    "join_market_basket",
    oracle=f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    counted AS (
        SELECT part_a, part_b, COUNT(*) AS n_orders
        FROM pairs GROUP BY part_a, part_b)
    SELECT part_a, part_b, n_orders FROM counted
    ORDER BY n_orders DESC, part_a, part_b LIMIT {_BASKET_TOP_N}
    """,
)
def join_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top co-ordered part pairs (market-basket affinity): enumerate the
    part pairs inside each order, count across orders, keep the top-20 —
    the within-group pair-mining shape (identical physics to shingle
    pair mining: a self-join whose key bounds the blow-up).

    The self-join runs over the DISTINCT (order, part) item set, not raw
    lineitem rows: a part appearing on several lines of one order (55
    such combos at sf0.01 — split shipments) must contribute ONE basket
    membership, or n_orders multiplies by lineA×lineB per order and the
    affinity ranking biases toward split-shipped parts.

    Safe at 100 TB because the join key is the ORDER, and an order holds
    a bounded handful of lineitems (≤ 17 in this corpus, avg ~4) — pairs
    per key are C(items,2), so the output stays linearly bounded by the
    fact table with a small constant, never quadratic in it (the
    same reason the dedup self-joins key on shingle/band/cell, never on
    a corpus-wide constant). The dedup itself is one map-side-combined
    aggregation on the (order, part) key; the pair count shuffles on
    the (part_a, part_b) key — near-uniform; the top-20 is
    TakeOrderedAndProject, not a global sort.
    """
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("ok"), "l_partkey"
    ).distinct()
    a = items.select("ok", F.col("l_partkey").alias("part_a"))
    b = items.select("ok", F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(_BASKET_TOP_N)
    )


@query(
    "join_q2_best_supplier",
    oracle="""
    WITH eligible AS (
        SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    ranked AS (
        SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, s.s_acctbal,
               n.n_name,
               ROW_NUMBER() OVER (PARTITION BY p.p_partkey
                                  ORDER BY s.s_acctbal DESC, s.s_suppkey)
                   AS rn
        FROM part p
        JOIN eligible e ON e.l_partkey = p.p_partkey
        JOIN supplier s ON s.s_suppkey = e.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE p.p_size BETWEEN 10 AND 15 AND p.p_type = 'STANDARD'
          AND r.r_name = 'EUROPE')
    SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name
    FROM ranked WHERE rn = 1
    ORDER BY s_acctbal DESC, p_partkey LIMIT 100
    """,
)
def join_q2_best_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best regional supplier per part (TPC-H Q2 shape): a correlated
    min/max-per-group subquery re-expressed as a window rank over the
    part⋈supplier relation.

    The corpus has no partsupp table, so the part↔supplier relation is
    the DISTINCT (l_partkey, l_suppkey) pair set from lineitem — one
    map-side-combined aggregation standing in for the partsupp scan —
    and "best" is highest s_acctbal (ties to the lowest suppkey; TPC-H
    picks min ps_supplycost, which does not exist here). Both dimension
    sides (filtered part, supplier⋈nation⋈region) broadcast; the only
    shuffle is the pair-set distinct on (partkey, suppkey), and the
    per-part rank partitions by partkey — high cardinality, no hot key.
    Unlike TPC-H's NOT-EXISTS formulation, the window form computes the
    argmax in one pass without re-scanning the relation.
    """
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_size").between(10, 15) & (F.col("p_type") == "STANDARD")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    sup = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    rn = F.row_number().over(
        Window.partitionBy("p_partkey").orderBy(
            F.desc("s_acctbal"), F.asc("s_suppkey")
        )
    )
    return (
        pairs.join(F.broadcast(p), pairs.l_partkey == p.p_partkey)
        .join(F.broadcast(sup), pairs.l_suppkey == sup.s_suppkey)
        .select(
            "p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal",
            "n_name",
        )
        .withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy(F.desc("s_acctbal"), "p_partkey")
        .limit(100)
    )


@query(
    "join_q4_priority_exists",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
    """,
)
def join_q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority counts among orders with a late shipment (TPC-H Q4
    shape): correlated EXISTS → native left_semi join with a compound
    (equi + non-equi) condition.

    The corpus lineitem has no commit/receipt dates, so "late" is a
    shipment more than 90 days after the order date — the same
    both-sides-referencing correlated predicate as Q4's
    l_commitdate < l_receiptdate. The semi join carries the equi key
    (orderkey) for the shuffle plus the date comparison as a residual
    condition — no EXISTS materialization, no distinct, at most one
    probe match kept per order. The 6-month window is pushed to the
    orders scan; the agg groups five priority values (map-side combine
    collapses it before the final 5-row exchange).
    """
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    late = li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 90 DAYS")
    return (
        o.join(li, (o.o_orderkey == li.l_orderkey) & late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "join_q7_nation_volume",
    oracle=f"""
    WITH shipping AS (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
        JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
        WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    SELECT supp_nation, cust_nation, l_year,
           {sql_dsum('volume')} AS revenue,
           COUNT(*) AS n_items
    FROM shipping GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def join_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilateral trade volume between two nations by year (TPC-H Q7
    shape): a five-way fact⋈fact⋈dims join where the selective predicate
    lives on BOTH distant dimensions (supplier nation, customer nation).

    The nation-pair disjunction is decomposed into per-side IN filters
    applied BEFORE the joins — the supplier side collapses to a tiny
    broadcast that prunes lineitem at its first probe, and the customer
    side shrinks to the two nations' customers before the orders join —
    with the exact (A,B)/(B,A) pairing applied once both names are in
    scope. Only two wide shuffles remain at any scale: orders⋈customer
    on custkey and lineitem⋈orders on orderkey; the final agg groups
    (2 pairs × years), collapsed map-side.
    """
    pair = ("NATION_1", "NATION_2")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair))
    s = load_table(spark, sf_dir, "supplier")
    sup = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("supp_nation")
    )
    c = load_table(spark, sf_dir, "customer")
    cust = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", F.col("n_name").alias("cust_nation")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(cust, o.o_custkey == cust.c_custkey)
        .filter(
            (
                (F.col("supp_nation") == pair[0])
                & (F.col("cust_nation") == pair[1])
            )
            | (
                (F.col("supp_nation") == pair[1])
                & (F.col("cust_nation") == pair[0])
            )
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            dsum("l_extendedprice * (1 - l_discount)").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "join_q8_market_share",
    oracle=f"""
    WITH allrev AS (
        SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume,
               n2.n_name AS supp_nation
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n1.n_regionkey
        JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
        WHERE p.p_type = 'ECONOMY' AND r.r_name = 'ASIA')
    SELECT o_year,
           CAST(floor(
               (SUM(CAST(floor(CASE WHEN supp_nation = 'NATION_9'
                                    THEN volume ELSE 0.0 END
                               * 1000000 + 0.5) AS BIGINT))
                / SUM(CAST(floor(volume * 1000000 + 0.5) AS BIGINT)))
               * 1000000 + 0.5) AS BIGINT) AS mkt_share_ppm,
           {sql_dsum('volume')} AS total_revenue,
           COUNT(*) AS n_items
    FROM allrev GROUP BY o_year ORDER BY o_year
    """,
)
def join_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One supplier nation's share of a region's market by year (TPC-H
    Q8 shape): the widest join tree in the library — fact⋈fact plus four
    dimension hops — reduced to a per-year conditional-ratio aggregate.

    Part (type-filtered) and supplier⋈nation broadcast and prune
    lineitem first; the customer side pre-joins nation⋈region down to an
    ASIA-customer key set, so the two remaining shuffles (orders⋈customer
    on custkey, lineitem⋈orders on orderkey) carry only regional traffic.
    The share is ppm-style from quantized integer sums (the q14
    convention): both engines divide bit-identical operands, so the
    rounded ppm cannot drift. DECIMAL(38,0) accumulators keep the sums
    exact past the int64 unit ceiling (one year of 100 TB revenue).
    """
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    sup = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("supp_nation")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n2 = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    cust = (
        c.join(F.broadcast(n2), c.c_nationkey == n2.n_nationkey)
        .join(F.broadcast(r), n2.n_regionkey == r.r_regionkey)
        .select("c_custkey")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem")
    volume_sql = "l_extendedprice * (1 - l_discount)"
    volume = F.expr(volume_sql)
    target_vol = F.when(
        F.col("supp_nation") == "NATION_9", volume
    ).otherwise(F.lit(0.0))
    q = lambda col: F.sum(  # noqa: E731
        F.floor(col * 1_000_000 + F.lit(0.5)).cast("decimal(38,0)")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(cust, o.o_custkey == cust.c_custkey)
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            q(target_vol).alias("_target_q"),
            q(volume).alias("_all_q"),
            dsum(volume_sql).alias("total_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            "o_year",
            F.floor(
                (
                    F.col("_target_q").cast("double")
                    / F.col("_all_q").cast("double")
                )
                * 1_000_000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("mkt_share_ppm"),
            "total_revenue",
            "n_items",
        )
        .orderBy("o_year")
    )


@query(
    "join_q9_profit_proxy",
    oracle=f"""
    WITH profit AS (
        SELECT n.n_name AS nation,
               CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS o_year,
               l.l_extendedprice * (1 - l.l_discount)
                   - 0.5 * p.p_retailprice * l.l_quantity AS amount
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE p.p_name LIKE '%red%')
    SELECT nation, o_year,
           {sql_dsum('amount')} AS sum_profit,
           COUNT(*) AS n_items
    FROM profit GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def join_q9_profit_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-line profit by supplier nation and year (TPC-H Q9 shape):
    name-pattern part filter, two broadcast dimension probes, grouped
    signed-amount aggregation.

    The corpus has no partsupp/ps_supplycost, so unit cost is proxied as
    half the part's retail price — the amount keeps Q9's
    revenue-minus-cost SIGNED arithmetic, which is the point of the
    shape: dsum's fixed-point accumulator is exercised with negative
    quantized units (floor(x*1e6+0.5) rounds half-up for negatives
    identically on both engines). The LIKE filter cannot push to the
    parquet scan as a range, but it prunes the broadcast build side to
    ~13% of part before the probe; lineitem is never shuffled at all —
    both probes broadcast, and the only exchange is the final
    (25 nations × years) agg.
    """
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    sup = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("nation")
    )
    li = load_table(spark, sf_dir, "lineitem")
    amount = (
        "l_extendedprice * (1 - l_discount)"
        " - p_retailprice * 0.5D * l_quantity"
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .groupBy(
            "nation", F.year("l_shipdate").cast("long").alias("o_year")
        )
        .agg(
            dsum(amount).alias("sum_profit"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("nation", F.desc("o_year"))
    )


@query(
    "join_q12_late_lines",
    oracle="""
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    GROUP BY l.l_linestatus ORDER BY l.l_linestatus
    """,
)
def join_q12_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority mix of late shipments per line status (TPC-H Q12 shape):
    fact⋈fact join with a residual cross-table predicate, then paired
    conditional counts.

    The corpus has no l_shipmode, so the receipt-year window and
    commit/receipt lateness become a shipdate-year window (pushed to the
    lineitem parquet scan) and a shipped->90-days-after-order residual
    carried on the join itself — evaluated during the probe, so late
    rows never materialize. l_linestatus stands in for shipmode as the
    grouping column. One shuffle on orderkey (the year filter shrinks it
    ~7× first); the high/low split is two CASE counts in one aggregate
    pass, long-typed on both engines.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    late = li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 90 DAYS")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, (li.l_orderkey == o.o_orderkey) & late)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0))
            .cast("long")
            .alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "join_q17_small_quantity",
    oracle=f"""
    WITH li_brand AS (
        SELECT l.l_partkey, CAST(l.l_quantity AS BIGINT) AS qty,
               l.l_extendedprice
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#4'),
    stats AS (
        SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS sum_qty,
               COUNT(*) AS cnt
        FROM li_brand GROUP BY l_partkey)
    SELECT {sql_dsum('l.l_extendedprice')} AS total_extended_price,
           COUNT(*) AS n_small_lines
    FROM li_brand l JOIN stats s ON s.l_partkey = l.l_partkey
    WHERE 2 * l.qty * s.cnt < s.sum_qty
    """,
)
def join_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue sitting in below-half-average-quantity order lines of one
    brand (TPC-H Q17 shape): a correlated per-part average re-expressed
    as aggregate + join-back.

    The correlated subquery (``l_quantity < 0.5 * avg per part``) is the
    classic re-scan trap; the oracle keeps the aggregate-plus-join-back
    SQL, while the Spark plan computes the per-part stats as WINDOW
    aggregates over the partkey partition — the brand-filtered slice
    shuffles exactly once (the window's exchange; the join-back form
    costs a second exchange to co-locate the probe side, measured on
    this shape). Per-part fan-in is a constant (~30 lines/part at every
    SF — lineitem and part both scale linearly), so the window
    partitions never grow with the corpus. The threshold compare is
    EXACT integer arithmetic (2·qty·cnt < Σqty, quantities are
    integral), not a float-avg compare — a double average divides
    differently than DuckDB's HUGEINT/COUNT only in the last ulp, but
    an ulp is all it takes to flip a row across engines. TPC-H's 0.2
    factor is 0.5 here so the small-line set stays non-trivial on the
    uniform corpus.
    """
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#4")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .select(
            "l_partkey",
            F.col("l_quantity").cast("long").alias("qty"),
            "l_extendedprice",
        )
    )
    w = Window.partitionBy("l_partkey")
    return (
        li.withColumn("sum_qty", F.sum("qty").over(w))
        .withColumn("cnt", F.count(F.lit(1)).over(w))
        .filter(2 * F.col("qty") * F.col("cnt") < F.col("sum_qty"))
        .agg(
            dsum("l_extendedprice").alias("total_extended_price"),
            F.count(F.lit(1)).alias("n_small_lines"),
        )
    )


@query(
    "join_q21_waiting_supplier",
    oracle="""
    WITH pairs AS (
        SELECT l.l_orderkey, l.l_suppkey,
               MAX(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                        THEN 1 ELSE 0 END) AS late
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderstatus = 'F' AND l.l_suppkey IS NOT NULL
        GROUP BY l.l_orderkey, l.l_suppkey),
    waiting AS (
        SELECT p.l_orderkey, p.l_suppkey
        FROM pairs p
        WHERE p.late = 1
          AND EXISTS (
              SELECT 1 FROM pairs p2
              WHERE p2.l_orderkey = p.l_orderkey
                AND p2.l_suppkey <> p.l_suppkey)
          AND NOT EXISTS (
              SELECT 1 FROM pairs p3
              WHERE p3.l_orderkey = p.l_orderkey
                AND p3.l_suppkey <> p.l_suppkey
                AND p3.late = 1))
    SELECT s.s_name, COUNT(*) AS numwait
    FROM waiting w
    JOIN supplier s ON s.s_suppkey = w.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name IN ('NATION_6', 'NATION_9', 'NATION_11')
    GROUP BY s.s_name ORDER BY numwait DESC, s.s_name LIMIT 100
    """,
)
def join_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers solely responsible for holding up multi-supplier orders
    (TPC-H Q21 shape): the EXISTS + NOT-EXISTS double correlation, the
    hardest subquery pattern in the suite.

    Everything correlates through the (order, supplier) pair relation,
    so both subqueries collapse into windowed counts over it: a pair is
    "waiting" iff it is late, the order has >1 supplier (the EXISTS),
    and the order's late-supplier count is exactly 1 (the NOT EXISTS —
    this pair being late, no OTHER one is). The oracle keeps the
    canonical EXISTS/NOT-EXISTS SQL, so the hash check proves the
    rewrite. One shuffle total for the whole correlation: the pair
    relation is explicitly ``repartition(orderkey)``-ed BEFORE the
    (order, supplier) grouping — hash(orderkey) satisfies the grouped
    agg's clustered distribution AND the window's partitioning, so
    Spark inserts no further exchange where the naive
    aggregate-then-self-join form shuffles the relation three more
    times (measured: 1 exchange vs 3, identical 973-row result at
    sf0.01). Lateness = shipped >90 days after order date (the corpus
    has no commit/receipt dates). Per-order fan-in is bounded
    (suppliers/order avg ~4, p99 ~9), so the window partitions stay
    tiny at any corpus size; the supplier⋈nation name filter
    broadcasts, and the final top-100 is TakeOrderedAndProject.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    # Null supplier keys are excluded from the pair relation (pinned in
    # the oracle too): a null key identifies no supplier, AND under the
    # EXISTS form `p2.l_suppkey <> p.l_suppkey` a null pair can never
    # satisfy either subquery — the windowed n_supp/n_late counts WOULD
    # count it, so without this filter the rewrite and the canonical SQL
    # diverge on dirty data.
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_suppkey").isNotNull())
        .select("l_orderkey", "l_suppkey", "l_shipdate")
    )
    late = F.when(
        li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 90 DAYS"), 1
    ).otherwise(0)
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(li.l_orderkey, li.l_suppkey, late.alias("is_late"))
        .repartition(F.col("l_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("is_late").alias("late"))
    )
    w = Window.partitionBy("l_orderkey")
    waiting = (
        pairs.withColumn("n_supp", F.count(F.lit(1)).over(w))
        .withColumn("n_late", F.sum("late").over(w))
        .filter(
            (F.col("late") == 1)
            & (F.col("n_supp") > 1)
            & (F.col("n_late") == 1)
        )
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_6", "NATION_9", "NATION_11")
    )
    sup = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", "s_name"
    )
    return (
        waiting.join(F.broadcast(sup), waiting.l_suppkey == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


# SCD2 spend tiers (micro-units): the yearly-spend classification that
# builds the slowly-changing dimension below. Integer thresholds.
_SCD2_TIER_HI = 300_000 * 1_000_000
_SCD2_TIER_MID = 150_000 * 1_000_000


@query(
    "join_scd2_pointintime",
    oracle=f"""
    WITH yearly AS (
        SELECT o_custkey,
               CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
               SUM(CAST(floor(o_totalprice * 1000000 + 0.5) AS BIGINT))
                   AS spend_u
        FROM orders GROUP BY 1, 2),
    tiered AS (
        SELECT o_custkey, yr,
               CASE WHEN spend_u >= {_SCD2_TIER_HI} THEN 'high'
                    WHEN spend_u >= {_SCD2_TIER_MID} THEN 'mid'
                    ELSE 'low' END AS tier
        FROM yearly),
    runs AS (
        SELECT o_custkey, yr, tier,
               yr - ROW_NUMBER() OVER (PARTITION BY o_custkey, tier
                                       ORDER BY yr) AS grp
        FROM tiered),
    dim AS (
        SELECT o_custkey, tier,
               MIN(yr) AS valid_from, MAX(yr) + 1 AS valid_to
        FROM runs GROUP BY o_custkey, tier, grp)
    SELECT o.o_orderkey, o.o_custkey,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS order_year,
           d.tier, CAST(d.valid_from AS BIGINT) AS valid_from,
           CAST(d.valid_to AS BIGINT) AS valid_to
    FROM orders o
    JOIN dim d ON o.o_custkey = d.o_custkey
              AND EXTRACT(year FROM o.o_orderdate) >= d.valid_from
              AND EXTRACT(year FROM o.o_orderdate) < d.valid_to
    """,
)
def join_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 point-in-time join — the warehouse pattern ``join_asof``
    does NOT cover: the dimension carries explicit validity intervals
    (type-2 slowly-changing rows), and each fact row joins the version
    valid AT its event time, not the nearest preceding row. Here the
    SCD2 dimension is built in-query (per-customer yearly spend tier,
    consecutive equal-tier years merged into one validity run via the
    gaps-and-islands ``yr - row_number`` trick), then orders PIT-join
    the tier in force at their order date.

    Every fact row matches exactly one version (validity runs partition
    each customer's years), so the join is loss- and duplicate-free —
    the invariant tests/test_round9_ops.py pins.

    Scale shape: the dimension build is two map-side-combined aggregates
    plus one window over (custkey, tier) — |customers|-sized state. The
    PIT join is an EQUI join on o_custkey with the interval test as a
    residual predicate inside key groups (never a range-only join, never
    a cross join); versions-per-customer is small and bounded, exactly
    the SCD2 contract. Spend is summed in exact micro-units so tier
    boundaries cannot float between engines.
    """
    o = load_table(spark, sf_dir, "orders")
    yearly = (
        o.select(
            "o_custkey",
            F.year("o_orderdate").cast("long").alias("yr"),
            F.floor(F.col("o_totalprice") * 1_000_000 + F.lit(0.5))
            .cast("long")
            .alias("u"),
        )
        .groupBy("o_custkey", "yr")
        .agg(F.sum("u").alias("spend_u"))
    )
    tiered = yearly.select(
        "o_custkey",
        "yr",
        F.when(F.col("spend_u") >= _SCD2_TIER_HI, "high")
        .when(F.col("spend_u") >= _SCD2_TIER_MID, "mid")
        .otherwise("low")
        .alias("tier"),
    )
    w = Window.partitionBy("o_custkey", "tier").orderBy("yr")
    runs = tiered.withColumn(
        "grp", F.col("yr") - F.row_number().over(w)
    )
    dim = runs.groupBy("o_custkey", "tier", "grp").agg(
        F.min("yr").alias("valid_from"),
        (F.max("yr") + 1).alias("valid_to"),
    )
    facts = o.select(
        "o_orderkey",
        "o_custkey",
        F.year("o_orderdate").cast("long").alias("order_year"),
    )
    return (
        facts.join(
            dim.withColumnRenamed("o_custkey", "d_custkey"),
            (F.col("o_custkey") == F.col("d_custkey"))
            & (F.col("order_year") >= F.col("valid_from"))
            & (F.col("order_year") < F.col("valid_to")),
        )
        .select(
            "o_orderkey",
            "o_custkey",
            "order_year",
            "tier",
            "valid_from",
            "valid_to",
        )
    )


@query(
    "join_null_safe_equi",
    oracle="""
    WITH o1 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0 THEN NULL
                    ELSE o_custkey END AS k,
               o_totalprice
        FROM orders),
    o2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0 THEN NULL
                    ELSE o_custkey END AS k
        FROM orders WHERE o_orderkey % 2 = 0)
    SELECT CAST(o1.k IS NULL AS BOOLEAN) AS null_key,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT o1.o_orderkey) AS BIGINT) AS n_left
    FROM o1 JOIN o2 ON o1.k IS NOT DISTINCT FROM o2.k
    GROUP BY 1
    """,
)
def join_null_safe_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-SAFE equi join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    match EACH OTHER instead of matching nothing — the semantics a
    "group unknowns together" reconciliation needs (plain ``=`` silently
    drops every NULL-keyed row from an inner join, the classic silent
    data loss on dirty keys). Derived NULLs are injected (every 5th
    order) so the null bucket is non-vacuous at every SF, and the result
    is aggregated per null/non-null bucket — making the NULL-match
    cardinality itself the checked value.

    Scale caution, stated because the oracle-visible n_pairs shows it:
    null-safe equality hashes every NULL to ONE key, so a null-heavy
    corpus turns the NULL bucket into the hottest key in the job — the
    5%-null injection here already makes the null bucket's pair count
    quadratic in its size (visible as n_pairs per bucket).

    r17 plan shape (guide §2.3 — aggregate BEFORE the join): the
    statistic only needs per-key match COUNTS, so the right side
    collapses to (key, count) first and the null-safe join fans out
    exactly once per left row instead of materializing the quadratic
    pair stream (at sf0.1 the NULL bucket alone was 30k × 15k = 450M
    joined rows for a 2-row report — 24.1 s → sub-second, identical
    output: an inner-joined left row contributes c_r(k) pairs, and the
    count relation carries only keys with c ≥ 1 so row survival is
    unchanged). The eqNullSafe predicate itself stays in the plan —
    Spark hash-joins on null-safe keys natively.
    """
    o = load_table(spark, sf_dir, "orders")
    keyed = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, None)
        .otherwise(F.col("o_custkey"))
        .alias("k"),
        "o_totalprice",
    )
    rcnt = (
        keyed.filter(F.col("o_orderkey") % 2 == 0)
        .groupBy(F.col("k").alias("rk"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        keyed.join(rcnt, F.col("k").eqNullSafe(F.col("rk")))
        .groupBy(F.col("k").isNull().alias("null_key"))
        .agg(
            F.sum("c").cast("long").alias("n_pairs"),
            F.countDistinct("o_orderkey").alias("n_left"),
        )
    )


@query(
    "join_q11_important_stock",
    oracle="""
    WITH pairs AS (
        SELECT l_partkey,
               SUM(CAST(floor(l_extendedprice * (1 - l_discount)
                              * 1000000 + 0.5) AS HUGEINT)) AS part_units
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE n.n_name IN ('NATION_0','NATION_1','NATION_2',
                           'NATION_3','NATION_4')
        GROUP BY l_partkey),
    tot AS (
        SELECT SUM(part_units) AS total_units,
               COUNT(*) AS n_parts
        FROM pairs)
    SELECT p.l_partkey AS partkey,
           CAST(p.part_units AS DOUBLE) / 1000000.0 AS stock_value
    FROM pairs p, tot t
    WHERE p.part_units * 2 > (t.total_units // t.n_parts) * 3
    ORDER BY stock_value DESC, partkey
    """,
)
def join_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Important-stock identification (TPC-H Q11 shape): per-part value
    within a supplier bloc, kept only where it clears a threshold derived
    from a *scalar subquery over the same relation* — the
    aggregate-in-HAVING-vs-global-aggregate pattern.

    Adaptations to this corpus (no partsupp): "stock value" per part is
    the quantized revenue suppliers in the NATION_0-4 bloc shipped of it,
    and Q11's fixed ``SUM(...) * 0.0001`` fraction — which silently
    empties or floods as SF moves — becomes a *relative* cut, 1.5× the
    mean per-part value (``part_units*2 > (total div n_parts)*3``), so
    the selectivity is scale-free (the same reasoning as the
    heavy-hitter threshold note in PROFILE.md). The comparison runs on
    exact integers on both engines: DECIMAL(38,0) quantized units vs
    DuckDB HUGEINT, integer ``div`` for the mean — no double drift.

    Scale: supplier⋈nation is a broadcast dimension probe on the
    lineitem scan; the only fact shuffle is the per-part aggregation
    (high-cardinality key, map-side combined). The totals row is a
    single-row broadcast cross join, same plan family as Q22's
    threshold. Reference parity: jorvik delegates relational work to the
    engine (jorvik/storage/basic.py read→transform→write); this is the
    Q11 semantics a reference user would run via spark.sql.
    """
    bloc = [f"NATION_{i}" for i in range(5)]
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(bloc)
    )
    sup = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey"
    )
    units = F.sum(
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1_000_000
            + F.lit(0.5)
        ).cast("decimal(38,0)")
    )
    per_part = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(units.alias("part_units"))
    )
    tot = per_part.agg(
        F.sum("part_units").alias("total_units"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        per_part.crossJoin(F.broadcast(tot))
        .filter(
            F.col("part_units") * 2
            > F.expr("total_units div n_parts") * 3
        )
        .select(
            "partkey",
            (F.col("part_units").cast("double") / 1_000_000.0).alias(
                "stock_value"
            ),
        )
        .orderBy(F.desc("stock_value"), "partkey")
    )


@query(
    "join_q16_supplier_cnt",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        WHERE l_suppkey IS NOT NULL)
    SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
           COUNT(DISTINCT pr.l_suppkey) AS supplier_cnt
    FROM pairs pr
    JOIN part p ON p.p_partkey = pr.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_type NOT LIKE 'PROMO%'
      AND p.p_size IN (1, 4, 7, 10, 15, 22, 30, 45)
      AND pr.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p_size
    """,
)
def join_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier diversity per part segment (TPC-H Q16 shape): NOT IN
    subquery exclusion + COUNT(DISTINCT) over the part↔supplier relation.

    Adaptations: the relation is the distinct (partkey, suppkey) pair set
    from lineitem (same partsupp stand-in as Q2), and Q16's
    ``s_comment LIKE '%Customer%Complaints%'`` complaint screen — no
    comment column here — becomes negative account balance. The NOT IN
    is a native ``left_anti`` join, NOT a Python-side exclusion list:
    the excluded-supplier set is unbounded in principle, so it must stay
    a relation. NULL-semantics: a NULL probe key is where anti join and
    NOT IN genuinely disagree (NOT IN drops it when the exclusion set is
    non-empty, keeps it when empty; anti join always keeps it), so the
    operator DECLARES null pairs out of scope — ``l_suppkey IS NOT
    NULL`` is applied before the pair-set distinct on BOTH engines,
    making the two forms provably equivalent instead of
    coincidentally matching.

    Scale: the pair-set distinct is the one fact shuffle and it is
    map-side combined; filtered part broadcasts (size/brand/type cuts
    applied before the hint), the flagged-supplier side is tiny and
    broadcast by the anti join. COUNT(DISTINCT suppkey) per segment
    expands on (brand, type, size) — thousands of groups, each bounded
    by |suppliers|, so no Expand blow-up.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        li.filter(F.col("l_suppkey").isNotNull())
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").startswith("PROMO"))
        & (F.col("p_size").isin([1, 4, 7, 10, 15, 22, 30, 45]))
    )
    flagged = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0.0)
        .select("s_suppkey")
    )
    return (
        pairs.join(F.broadcast(p), pairs.l_partkey == p.p_partkey)
        .join(
            F.broadcast(flagged),
            pairs.l_suppkey == flagged.s_suppkey,
            "left_anti",
        )
        .groupBy(
            "p_brand", "p_type", F.col("p_size").cast("long").alias("p_size")
        )
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@query(
    "join_q20_surplus_suppliers",
    oracle="""
    WITH red_parts AS (
        SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
    flows AS (
        SELECT l.l_suppkey,
               SUM(CAST(floor(l.l_quantity * 1000000 + 0.5) AS HUGEINT))
                   AS qty_total,
               SUM(CASE WHEN l.l_shipdate >=
                             TIMESTAMP '1999-01-01 00:00:00'
                        THEN CAST(floor(l.l_quantity * 1000000 + 0.5)
                                  AS HUGEINT)
                        ELSE 0 END) AS qty_recent
        FROM lineitem l
        JOIN red_parts rp ON rp.p_partkey = l.l_partkey
        GROUP BY l.l_suppkey, l.l_partkey)
    SELECT DISTINCT s.s_suppkey, s.s_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND s.s_suppkey IN (
          SELECT l_suppkey FROM flows WHERE qty_recent * 2 > qty_total)
    ORDER BY s.s_suppkey
    """,
)
def join_q20_surplus_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers surging on a part class (TPC-H Q20 shape): the
    doubly-nested correlated subquery — IN (parts LIKE ...) inside an
    aggregate threshold inside an IN over suppliers — re-expressed as
    one aggregation and a semi join.

    Adaptations: no partsupp/ps_availqty, so Q20's "excess stock"
    predicate (availqty > ½ · shipped qty) becomes a per-(supplier,
    part) *recency surge*: recent shipments (1999+) exceed half the
    all-time flow of that red part. Both sums come out of ONE grouped
    pass (conditional aggregation), not two scans joined back — the
    correlated-subquery tree flattened the way Catalyst itself would
    decorrelate it, but with the threshold exact: quantized DECIMAL(38,0)
    units vs DuckDB HUGEINT, compared as integers.

    Scale: red-part keys broadcast into the lineitem scan; the one fact
    shuffle groups on (suppkey, partkey) — high cardinality, combined
    map-side. The qualifying-supplier set is ≤|suppliers| and semi-joins
    the region-filtered supplier dimension (broadcast either way). Final
    DISTINCT is over the supplier dimension only.
    """
    red = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("red"))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem")
    qunits = F.floor(F.col("l_quantity") * 1_000_000 + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    recent = F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp")
    surging = (
        li.join(F.broadcast(red), li.l_partkey == red.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(qunits).alias("qty_total"),
            F.sum(F.when(recent, qunits).otherwise(F.lit(0))).alias(
                "qty_recent"
            ),
        )
        .filter(F.col("qty_recent") * 2 > F.col("qty_total"))
        .select("l_suppkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(surging, s.s_suppkey == surging.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .distinct()
        .orderBy("s_suppkey")
    )


@query(
    "join_fuzzy_name_blocked",
    oracle="""
    WITH names AS (
        SELECT p_size, p_name, COUNT(*) AS cnt
        FROM part WHERE p_name IS NOT NULL AND p_size IS NOT NULL
        GROUP BY p_size, p_name)
    SELECT CAST(a.p_size AS BIGINT) AS p_size,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS distance,
           CAST(a.cnt * b.cnt AS BIGINT) AS n_pairs
    FROM names a
    JOIN names b ON a.p_size = b.p_size AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3
    ORDER BY p_size, name_a, name_b
    """,
)
def join_fuzzy_name_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy-name matching (entity resolution): near-identical
    part names within a size block, scored by edit distance — the
    record-linkage shape (census/CRM dedup) the token-set operators
    (dedup_ngram_jaccard) don't cover, since edit distance catches
    single-character variants that share no shingle.

    The plan is aggregate-FIRST: names are counted per (size, name)
    before any pairing, so the pairwise join runs on the distinct-name
    relation (vocabulary-sized) and instance multiplicity comes back as
    the exact product cnt_a·cnt_b — the row-level pair explosion never
    materializes. The block key (p_size) is the equi condition; the name
    ordering and the distance band are residual predicates, so this is
    never a cartesian. At 100 TB you'd block on a stronger key — see
    :func:`join_fuzzy_name_passjoin` for the complete (100%-recall)
    pigeonhole-segment upgrade; shingle-LSH banding was measured at 19%
    recall for this predicate and rejected. ``levenshtein`` is an exact
    integer DP evaluated JVM-side (whole-stage codegen), bit-identical
    to DuckDB's on this ASCII vocabulary.
    """
    names = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").isNotNull() & F.col("p_size").isNotNull())
        .groupBy("p_size", "p_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    a = names.alias("a")
    b = names.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.p_size") == F.col("b.p_size"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .filter(dist.between(1, 3))
        .select(
            F.col("a.p_size").cast("long").alias("p_size"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            dist.cast("long").alias("distance"),
            (F.col("a.cnt") * F.col("b.cnt")).cast("long").alias("n_pairs"),
        )
        .orderBy("p_size", "name_a", "name_b")
    )


# PassJoin-style pigeonhole segment blocking for edit distance (Li,
# Deng & Feng, "PassJoin: A Partition-based Method for Similarity
# Joins", VLDB 2012 — public literature). With the name split into
# _ED_K + 1 segments, any string within edit distance _ED_K must
# contain at least one segment VERBATIM, displaced by at most _ED_K
# positions — so a position-windowed substring equi-join is a COMPLETE
# candidate generator (100% recall by pigeonhole, unlike MinHash
# banding on character shingles, which measured 18/96 = 19% recall on
# this vocabulary: one edit in a short name destroys up to 3 of its
# ~7 trigrams, collapsing the Jaccard similarity LSH bands key on).
_ED_K = 3
_ED_SEGS = _ED_K + 1

# Integer segment arithmetic, shared verbatim by both engines (only the
# integer-division spelling differs): for an indexed length lp split
# into 4 segments, the first (4 - lp mod 4) segments have floor(lp/4)
# chars and the rest one more; seg j in 1..4 starts at
#   (j-1)*floor(lp/4) + max(0, (j-1) - (4 - lp mod 4)) + 1   (1-based).
def _seg_len(lp: str, div: str) -> str:
    return (
        f"(({lp}) {div} {_ED_SEGS} + (CASE WHEN j > {_ED_SEGS} - "
        f"({lp}) % {_ED_SEGS} THEN 1 ELSE 0 END))"
    )


def _seg_start(lp: str, div: str) -> str:
    return (
        f"((j - 1) * (({lp}) {div} {_ED_SEGS}) + GREATEST(0, (j - 1) - "
        f"({_ED_SEGS} - ({lp}) % {_ED_SEGS})) + 1)"
    )


def _passjoin_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct part names with instance counts — the vocabulary-sized
    relation every PassJoin stage (index, probe, count join-back) reads;
    memoized so the part scan happens once per session."""
    from jorvik_spark.queries.registry import memo_df

    return memo_df(
        f"passjoin_names:{sf_dir}",
        spark,
        lambda: (
            load_table(spark, sf_dir, "part")
            .filter(F.col("p_name").isNotNull() & (F.length("p_name") >= 4))
            .groupBy(F.col("p_name").alias("name"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("l", F.length("name"))
        ),
    )


@query(
    "join_fuzzy_name_passjoin",
    oracle=f"""
    WITH names AS (
        SELECT p_name AS name, COUNT(*) AS cnt, LENGTH(p_name) AS l
        FROM part WHERE p_name IS NOT NULL AND LENGTH(p_name) >= 4
        GROUP BY p_name),
    idx AS (
        SELECT name, l AS lp, j,
               substring(name, CAST({_seg_start('l', '//')} AS INTEGER),
                         CAST({_seg_len('l', '//')} AS INTEGER)) AS key
        FROM names, unnest([1, 2, 3, 4]) AS t(j)),
    probe_keys AS (
        SELECT name,
               unnest(flatten(flatten([[
                   [{{'lp': lp, 'j': j,
                      'key': substring(name, CAST(p AS INTEGER),
                                       CAST({_seg_len('lp', '//')} AS INTEGER))}}
                    FOR p IN range(
                        GREATEST(1, {_seg_start('lp', '//')} - {_ED_K}),
                        LEAST(l - {_seg_len('lp', '//')} + 1,
                              {_seg_start('lp', '//')} + {_ED_K}) + 1)]
                   FOR j IN range(1, {_ED_SEGS} + 1)]
                   FOR lp IN range(GREATEST({_ED_SEGS}, l - {_ED_K}),
                                   l + {_ED_K} + 1)]))) AS pk
        FROM names),
    probe AS (SELECT name, pk.lp AS lp, pk.j AS j, pk.key AS key
              FROM probe_keys),
    cand AS (
        SELECT DISTINCT LEAST(i.name, p.name) AS name_a,
                        GREATEST(i.name, p.name) AS name_b
        FROM idx i JOIN probe p
          ON i.lp = p.lp AND i.j = p.j AND i.key = p.key
         AND i.name <> p.name),
    hits AS (
        SELECT name_a, name_b,
               levenshtein(name_a, name_b) AS distance
        FROM cand
        WHERE levenshtein(name_a, name_b) BETWEEN 1 AND {_ED_K})
    SELECT h.name_a, h.name_b,
           CAST(h.distance AS BIGINT) AS distance,
           CAST(ca.cnt * cb.cnt AS BIGINT) AS n_pairs
    FROM hits h
    JOIN names ca ON ca.name = h.name_a
    JOIN names cb ON cb.name = h.name_b
    ORDER BY name_a, name_b
    """,
)
def join_fuzzy_name_passjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-name entity resolution with a COMPLETE sub-quadratic
    blocker: PassJoin pigeonhole segments instead of the demonstrative
    p_size block of :func:`join_fuzzy_name_blocked`. Each distinct name
    is split into 4 segments; any name within edit distance 3 must
    contain one segment verbatim within ±3 positions (pigeonhole — 3
    edits can corrupt at most 3 of 4 segments), so the candidate join
    is a plain EQUI join on (indexed_length, segment_id, substring) with
    guaranteed 100% recall (tests pin candidates ⊇ brute-force truth).
    MinHash/LSH banding — the blocker the dedup family uses for
    token-set Jaccard — was measured first and rejected for THIS
    predicate: 19% recall on short names, where one edit destroys most
    character shingles.

    Scale shape: everything runs on the DISTINCT-name relation
    (vocabulary-sized, memoized — one part scan per session). The index
    side emits 4 rows per name; the probe side ≤ 4·7·7 ≈ 196 (7 lengths
    × 4 segments × ≤7 window positions; short-segment buckets are the
    PassJoin tradeoff — segment length, and with it selectivity, grows
    with name length). Candidates dedupe through one hash aggregate,
    the edit distance is Spark's codegen'd ``levenshtein`` evaluated
    ONLY on candidates, and instance multiplicity returns as cnt_a·cnt_b
    via two vocabulary-sized join-backs — row-level pairs never exist.
    """
    names = _passjoin_names(spark, sf_dir)
    seg_len_l = _seg_len("l", "div")
    seg_start_l = _seg_start("l", "div")
    seg_len_lp = _seg_len("lp", "div")
    seg_start_lp = _seg_start("lp", "div")
    idx = names.select(
        "name",
        F.explode(
            F.expr(
                f"transform(sequence(1, {_ED_SEGS}), j -> named_struct("
                f"'lp', l, 'j', j, "
                f"'key', substring(name, {seg_start_l}, {seg_len_l})))"
            )
        ).alias("ik"),
    ).select("name", "ik.lp", "ik.j", "ik.key")
    # window positions are pre-filtered (never an empty sequence(), which
    # Spark would render as a DESCENDING range when lo > hi)
    probe = names.select(
        "name",
        F.explode(
            F.expr(
                f"""flatten(transform(
                sequence(greatest({_ED_SEGS}, l - {_ED_K}), l + {_ED_K}),
                lp -> flatten(transform(sequence(1, {_ED_SEGS}),
                j -> transform(
                    filter(sequence({seg_start_lp} - {_ED_K},
                                    {seg_start_lp} + {_ED_K}),
                           p -> p >= 1 AND p <= l - {seg_len_lp} + 1),
                    p -> named_struct('lp', lp, 'j', j,
                        'key', substring(name, p, {seg_len_lp})))))))"""
            )
        ).alias("pk"),
    ).select("name", "pk.lp", "pk.j", "pk.key")
    # Build side = the INDEX (4 rows/name), stream side = the PROBE
    # (≤ ~196 rows/name): without the hint AQE sizes both from the tiny
    # pre-explode inputs and broadcasts the ~35x-larger probe relation
    # (measured round 15) — backwards at any scale where the vocabulary
    # is large. The explicit broadcast keeps the heavy probe explode
    # pipelined straight into the join and the partial dedup aggregate.
    cand = (
        F.broadcast(idx.alias("i"))
        .join(
            probe.alias("p"),
            (F.col("i.lp") == F.col("p.lp"))
            & (F.col("i.j") == F.col("p.j"))
            & (F.col("i.key") == F.col("p.key"))
            & (F.col("i.name") != F.col("p.name")),
        )
        .select(
            F.least("i.name", "p.name").alias("name_a"),
            F.greatest("i.name", "p.name").alias("name_b"),
        )
        .distinct()
    )
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    hits = cand.filter(dist.between(1, _ED_K)).withColumn(
        "distance", dist.cast("long")
    )
    ca = names.select(F.col("name").alias("name_a"), F.col("cnt").alias("ca"))
    cb = names.select(F.col("name").alias("name_b"), F.col("cnt").alias("cb"))
    return (
        hits.join(ca, "name_a")
        .join(cb, "name_b")
        .select(
            "name_a",
            "name_b",
            "distance",
            (F.col("ca") * F.col("cb")).cast("long").alias("n_pairs"),
        )
        .orderBy("name_a", "name_b")
    )


# Interval-overlap join geometry. Incident windows are a fixed 10
# minutes; purchase activity spans are the event's own value in seconds
# clamped to the same ceiling (shared with window_intervals_merge).
# Bucket width = the max interval length on EITHER side, so every
# interval touches at most TWO buckets and each overlapping pair
# co-occupies at least one — the standard bounded-span interval-join
# blocking (same family as streaming's _bucketed_interval_join).
_IO_SPAN_US = 600_000_000
_IO_MIN_US = 1_000_000


@query(
    "join_interval_overlap",
    oracle=f"""
    WITH err AS (
        SELECT user_id, event_id AS error_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS es,
               epoch_us(CAST(ts AS TIMESTAMP)) + {_IO_SPAN_US} AS ee
        FROM events WHERE ts IS NOT NULL AND event_type = 'error'),
    pur AS (
        SELECT user_id, event_id AS purchase_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ps,
               epoch_us(CAST(ts AS TIMESTAMP))
                 + least(greatest(CAST(floor(coalesce(value, 0) * 1000000)
                                       AS BIGINT),
                                  {_IO_MIN_US}), {_IO_SPAN_US}) AS pe
        FROM events WHERE ts IS NOT NULL AND event_type = 'purchase')
    SELECT e.user_id, e.error_id, p.purchase_id,
           CAST(least(e.ee, p.pe) - greatest(e.es, p.ps) AS BIGINT)
               AS overlap_us
    FROM err e JOIN pur p
      ON e.user_id = p.user_id AND e.es < p.pe AND p.ps < e.ee
    ORDER BY e.user_id, error_id, purchase_id
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP join of two span sets per user: purchases whose
    activity span intersects an open error-incident window — "which
    purchases happened during an outage", the ops/attribution shape
    where BOTH sides are intervals (the as-of and lookback joins take a
    point against an interval; this is span × span).

    Scale shape: a naive overlap join is a per-user range join that
    Catalyst can only run as per-key pair filtering — quadratic on a hot
    user (the stress corpus gives user 0 ~30% of events). Because both
    span lengths are bounded by ``_IO_SPAN_US``, bucketing time at that
    width makes the join EQUI on (user, bucket): each interval touches
    ≤ 2 buckets, overlapping pairs co-occupy at least one, and the
    exactly-once rule (count the pair in the LATER of the two start
    buckets — a bucket both sides provably touch: the later-starting
    interval starts there, and the earlier one overlaps it there or
    they would not overlap at all) replaces pair dedup with a codegen'd
    predicate. Same geometry as streaming's ``_bucketed_interval_join``
    (260 s → 2.1 s on the hot-key corpus); the residual overlap test
    runs inside K-bounded (user, bucket) cells.
    """
    w = _IO_SPAN_US
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    err = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("error_id"),
        F.unix_micros("ts").alias("es"),
        (F.unix_micros("ts") + w).alias("ee"),
    )
    dur = F.expr(
        f"least(greatest(CAST(floor(coalesce(value, 0) * 1000000) AS"
        f" BIGINT), {_IO_MIN_US}L), {_IO_SPAN_US}L)"
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.unix_micros("ts").alias("ps"),
        (F.unix_micros("ts") + dur).alias("pe"),
    )
    err_b = err.withColumn(
        "bucket",
        F.explode(F.expr(f"sequence(es div {w}, (ee - 1) div {w})")),
    )
    pur_b = pur.withColumn(
        "bucket",
        F.explode(F.expr(f"sequence(ps div {w}, (pe - 1) div {w})")),
    )
    return (
        err_b.join(pur_b, ["user_id", "bucket"])
        .filter(
            (F.col("es") < F.col("pe"))
            & (F.col("ps") < F.col("ee"))
            & (
                F.col("bucket")
                == F.greatest(
                    F.expr(f"es div {w}"), F.expr(f"ps div {w}")
                )
            )
        )
        .select(
            "user_id",
            "error_id",
            "purchase_id",
            (
                F.least("ee", "pe") - F.greatest("es", "ps")
            ).cast("long").alias("overlap_us"),
        )
        .orderBy("user_id", "error_id", "purchase_id")
    )


# --- round 12: nearest-event join ---------------------------------------

_NEAREST_TOL_US = 3_600_000_000  # ±1 hour candidate tolerance


@query(
    "join_nearest_event",
    oracle=f"""
    WITH p AS (
        SELECT user_id, event_id AS purchase_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS pt
        FROM events WHERE ts IS NOT NULL AND event_type = 'purchase'),
    e AS (
        SELECT user_id, event_id AS error_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS et
        FROM events WHERE ts IS NOT NULL AND event_type = 'error'),
    cand AS (
        SELECT p.purchase_id, p.user_id, e.error_id,
               e.et - p.pt AS gap_us,
               ROW_NUMBER() OVER (
                   PARTITION BY p.purchase_id
                   ORDER BY abs(e.et - p.pt), e.et, e.error_id) AS rn
        FROM p JOIN e ON e.user_id = p.user_id
                     AND abs(e.et - p.pt) <= {_NEAREST_TOL_US})
    SELECT purchase_id, user_id, error_id, CAST(gap_us AS BIGINT) AS gap_us
    FROM cand WHERE rn = 1 ORDER BY purchase_id
    """,
)
def join_nearest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-event join: for every purchase, the user's CLOSEST error
    event within ±1 hour, either direction — the bidirectional sibling
    of the as-of join ("what error was nearest to this checkout"), the
    shape behind incident attribution and sensor alignment. Ties break
    (|gap|, error ts, error id) — total and engine-identical.

    Scale shape: the candidate join is TIME-BUCKETED, never a raw
    per-user pair product (the round-9 hot-key lesson — one bot user
    holding 30% of events makes a user-keyed nearest join quadratic):
    errors land in their own hour bucket, each purchase probes its
    bucket ±1, so a candidate pair meets exactly once (in the error's
    bucket) and the join key (user, bucket) splits any hot user across
    time. The per-purchase top-1 is a lexicographic ``min(struct(...))``
    aggregate, NOT a rank window (round-14 rewrite, measured ~20%
    faster deep-warm): the partial aggregation combines candidates
    map-side inside the join's own partitions — no per-partition sort,
    and the purchase-keyed exchange moves one pre-reduced row per
    (purchase, join-partition) instead of every candidate. Candidate
    fanout per purchase stays bounded by the user's error rate inside
    ±1 h, not their history.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.unix_micros("ts").alias("pt"),
    )
    e = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("error_id"),
        F.unix_micros("ts").alias("et"),
        F.expr(f"unix_micros(ts) div {_NEAREST_TOL_US}").alias("bucket"),
    )
    probes = p.select(
        "user_id",
        "purchase_id",
        "pt",
        F.explode(
            F.expr(
                f"sequence(pt div {_NEAREST_TOL_US} - 1,"
                f" pt div {_NEAREST_TOL_US} + 1)"
            )
        ).alias("bucket"),
    )
    return (
        probes.join(e, ["user_id", "bucket"])
        .filter(F.abs(F.col("et") - F.col("pt")) <= _NEAREST_TOL_US)
        .groupBy("purchase_id", "user_id", "pt")
        .agg(
            # lexicographic struct min == the oracle's ROW_NUMBER order
            # (|gap|, error ts, error id) — total and engine-identical
            F.min(
                F.struct(
                    F.abs(F.col("et") - F.col("pt")).alias("adist"),
                    F.col("et").alias("et"),
                    F.col("error_id").alias("error_id"),
                )
            ).alias("b")
        )
        .select(
            "purchase_id",
            "user_id",
            F.col("b.error_id").alias("error_id"),
            (F.col("b.et") - F.col("pt")).cast("long").alias("gap_us"),
        )
        .orderBy("purchase_id")
    )


# --- round 13: last-touch marketing attribution ------------------------------

_ATTRIB_WINDOW_S = 3600  # lookback from purchase to its last touch


@query(
    "join_attribution_last_touch",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_id, event_type, value,
               epoch_us(CAST(ts AS TIMESTAMP)) AS t
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    tagged AS (
        SELECT user_id, event_id, event_type, value, t,
               last_value(CASE WHEN event_type IN ('view', 'click')
                          THEN t END IGNORE NULLS)
                   OVER w AS touch_t,
               last_value(CASE WHEN event_type IN ('view', 'click')
                          THEN event_type END IGNORE NULLS)
                   OVER w AS touch_type
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    purchases AS (
        SELECT CASE WHEN touch_t IS NOT NULL
                    AND t - touch_t <= CAST({_ATTRIB_WINDOW_S} AS BIGINT) * 1000000
               THEN touch_type ELSE 'none' END AS attributed_to,
               value
        FROM tagged WHERE event_type = 'purchase')
    SELECT attributed_to,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           {{sql_dsum}} AS sum_value
    FROM purchases GROUP BY attributed_to ORDER BY attributed_to
    """.replace("{sql_dsum}", "SUM(CAST(floor((coalesce(value, 0)) * 1000000"
                              " + 0.5) AS BIGINT)) / 1000000.0"),
)
def join_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase is credited to
    the user's most recent view or click within a 1-hour lookback (or
    'none' — the direct/dark-traffic bucket), and the census reports
    purchase counts and revenue mass per channel — the default
    attribution model every growth dashboard starts from, here as ONE
    window pass instead of the naive per-purchase as-of join back onto
    the touch stream.

    Declared semantics, identical on both engines: the candidate touch
    must strictly PRECEDE the purchase in (t, event_id) order (frame
    ends at 1 PRECEDING — a same-timestamp touch attributes only if
    its event_id is lower, the repo's standard tie-break); NULL
    purchase values count the purchase and contribute 0 revenue
    (coalesce inside the quantized sum — nothing silently drops);
    users' streams are independent (keyed window).

    Scale shape: ONE user-keyed sort exchange carries the whole model —
    the carry-forward last_value(IGNORE NULLS) folds both the touch
    time and type into the same WindowExec, the purchase filter
    pipelines, and the census is a 3-group map-combined aggregate. An
    as-of-join formulation would shuffle the touch relation a second
    time; this never re-shuffles anything corpus-sized.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            "user_id",
            "event_id",
            "event_type",
            "value",
            F.unix_micros("ts").alias("t"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin("view", "click")
    tagged = ev.select(
        "event_type",
        "value",
        "t",
        F.last(F.when(is_touch, F.col("t")), ignorenulls=True)
        .over(w)
        .alias("touch_t"),
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
    )
    attributed = tagged.filter(F.col("event_type") == "purchase").select(
        F.when(
            F.col("touch_t").isNotNull()
            & (
                F.col("t") - F.col("touch_t")
                <= _ATTRIB_WINDOW_S * 1_000_000
            ),
            F.col("touch_type"),
        )
        .otherwise(F.lit("none"))
        .alias("attributed_to"),
        F.coalesce(F.col("value"), F.lit(0.0)).alias("value"),
    )
    return (
        attributed.groupBy("attributed_to")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            dsum("value").alias("sum_value"),
        )
        .orderBy("attributed_to")
    )


# --- round 14: linear multi-touch attribution --------------------------------


@query(
    "join_attribution_linear",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_id, event_type, value,
               epoch_us(CAST(ts AS TIMESTAMP)) AS t
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    p AS (SELECT user_id, event_id AS purchase_id, t AS tp,
                 CAST(floor(coalesce(value, 0) * 1000000 + 0.5) AS BIGINT)
                     AS vu
          FROM ev WHERE event_type = 'purchase'),
    tc AS (SELECT user_id, event_type AS channel, t AS tt
           FROM ev WHERE event_type IN ('view', 'click')),
    pc AS (
        SELECT p.purchase_id, p.vu, tc.channel, COUNT(*) AS nc
        FROM p JOIN tc ON tc.user_id = p.user_id
                      AND tc.tt < p.tp
                      AND p.tp - tc.tt
                          <= CAST({_ATTRIB_WINDOW_S} AS BIGINT) * 1000000
        GROUP BY 1, 2, 3),
    kk AS (SELECT purchase_id, vu, channel, nc,
                  SUM(nc) OVER (PARTITION BY purchase_id) AS k
           FROM pc),
    credits AS (
        SELECT channel, vu * nc // k AS cu FROM kk
        UNION ALL
        SELECT 'none', vu FROM p
        WHERE NOT EXISTS (SELECT 1 FROM pc
                          WHERE pc.purchase_id = p.purchase_id))
    SELECT channel AS attributed_to,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(cu) AS HUGEINT) / 1000000.0 AS credit_value
    FROM credits GROUP BY 1 ORDER BY attributed_to
    """,
)
def join_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch attribution: every purchase's revenue splits
    EQUALLY across all views/clicks inside its 1-hour lookback (or
    lands whole in the 'none' direct-traffic bucket) — the fractional
    complement of ``join_attribution_last_touch``, and the comparison a
    marketing team runs to see how much credit last-touch steals from
    upper-funnel views. Per channel: how many purchases credited it at
    all, and the exact credited revenue mass.

    Cross-engine mechanics: per (purchase, channel) the credit is
    vu·n_channel div k in exact integer micro-units (k = total touches
    in the window), so the per-purchase truncation is < k micro-units
    and identical on both engines; the channel totals sum the exact
    integers (DECIMAL(38,0)/HUGEINT) and unscale once. Strict-precede
    (touch < purchase) breaks same-timestamp ties exactly as the
    last-touch form.

    Scale shape: unlike last-touch (one carry-forward WindowExec),
    linear needs the per-purchase touch SET — the candidate join is
    hour-BUCKETED exactly like ``join_nearest_event`` (each purchase
    probes its bucket ±1; a candidate pair meets once, in the touch's
    bucket; the (user, bucket) key splits hot users across time), the
    per-purchase channel rollup is a map-combined aggregate, and k
    comes from a window over the ≤|channels| aggregated rows per
    purchase — never over raw touches. The 'none' bucket is a LEFT
    ANTI join on purchase_id.
    """
    W_US = _ATTRIB_WINDOW_S * 1_000_000
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.unix_micros("ts").alias("tp"),
        F.floor(F.coalesce(F.col("value"), F.lit(0.0)) * 1_000_000 + F.lit(0.5))
        .cast("long")
        .alias("vu"),
    )
    t = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("event_type").alias("channel"),
        F.unix_micros("ts").alias("tt"),
        F.expr(f"unix_micros(ts) div {W_US}").alias("bucket"),
    )
    probes = p.select(
        "user_id",
        "purchase_id",
        "tp",
        "vu",
        F.explode(
            F.expr(f"sequence(tp div {W_US} - 1, tp div {W_US})")
        ).alias("bucket"),
    )
    pc = (
        probes.join(t, ["user_id", "bucket"])
        .filter((F.col("tt") < F.col("tp")) & (F.col("tp") - F.col("tt") <= W_US))
        .groupBy("purchase_id", "vu", "channel")
        .agg(F.count(F.lit(1)).alias("nc"))
    )
    w_k = Window.partitionBy("purchase_id")
    credited = pc.withColumn("k", F.sum("nc").over(w_k)).select(
        "channel",
        F.expr("vu * nc div k").alias("cu"),
    )
    none = (
        p.join(pc.select("purchase_id").distinct(), "purchase_id", "left_anti")
        .select(F.lit("none").alias("channel"), F.col("vu").alias("cu"))
    )
    return (
        credited.unionByName(none)
        .groupBy(F.col("channel").alias("attributed_to"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            (F.sum(F.col("cu").cast("decimal(38,0)")) / F.lit(1_000_000.0))
            .cast("double")
            .alias("credit_value"),
        )
        .orderBy("attributed_to")
    )
