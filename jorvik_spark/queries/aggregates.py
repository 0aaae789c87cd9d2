"""Aggregation queries (SURVEY.md §2B "Aggregations").

Shapes mirror the reference's customer-summary pipeline
(/root/reference/examples/databricks/transactions/silver/nb_create_customer_summary.py:26-49:
groupBy + count/sum/avg/min/max, left join to the dimension, when/otherwise
segmentation, projection/rename) re-expressed over the test lake.

Scale notes (100 TB): every aggregation here is a hash aggregate with
map-side partial aggregation (Spark plans partial_* + final automatically);
the flagship join keys the fact side on its groupBy key so the shuffle done
for the aggregate is reused for the sort-merge join — no extra exchange.
No collect(), no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jorvik_spark.tables import load_table, spread_scan
from jorvik_spark.queries.registry import (
    davg,
    dsum,
    guarded_global_window,
    hash_bucket,
    memo_df,
    octave,
    query,
    sql_davg,
    sql_dsum,
    sql_hash_bucket,
    sql_octave,
    sql_units,
    units,
)

_SEGMENT_HI = 300_000.0
_SEGMENT_MID = 150_000.0


def customer_order_summary(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Flagship: per-customer order stats + segment bucket (reference shape)."""
    stats = orders.groupBy("o_custkey").agg(
        F.count("o_orderkey").alias("total_orders"),
        dsum("o_totalprice").alias("total_spent"),
        davg("o_totalprice").alias("avg_order_value"),
        F.min("o_orderdate").alias("first_order_date"),
        F.max("o_orderdate").alias("last_order_date"),
    )
    # Left join keeps every customer WITH orders (stats is the left side)
    # and null-pads unmatched dimension rows; at scale both sides shuffle on
    # the customer key (stats is already partitioned on it by the groupBy).
    out = (
        stats.join(customer, stats.o_custkey == customer.c_custkey, "left")
        .withColumn(
            "customer_segment",
            F.when(F.col("total_spent") >= _SEGMENT_HI, "High Value")
            .when(F.col("total_spent") >= _SEGMENT_MID, "Medium Value")
            .otherwise("Low Value"),
        )
        .select(
            F.col("o_custkey").alias("customer_id"),
            F.col("c_name").alias("customer_name"),
            "total_orders",
            "total_spent",
            "avg_order_value",
            "first_order_date",
            "last_order_date",
            "customer_segment",
        )
    )
    return out


@query(
    "agg_group_stats",
    oracle=f"""
    WITH stats AS (
        SELECT o_custkey AS customer_id,
               COUNT(o_orderkey) AS total_orders,
               {sql_dsum('o_totalprice')} AS total_spent,
               {sql_davg('o_totalprice')} AS avg_order_value,
               MIN(o_orderdate) AS first_order_date,
               MAX(o_orderdate) AS last_order_date
        FROM orders GROUP BY o_custkey)
    SELECT s.customer_id,
           c.c_name AS customer_name,
           s.total_orders, s.total_spent, s.avg_order_value,
           s.first_order_date, s.last_order_date,
           CASE WHEN s.total_spent >= {_SEGMENT_HI} THEN 'High Value'
                WHEN s.total_spent >= {_SEGMENT_MID} THEN 'Medium Value'
                ELSE 'Low Value' END AS customer_segment
    FROM stats s LEFT JOIN customer c ON s.customer_id = c.c_custkey
    """,
)
def agg_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return customer_order_summary(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "customer")
    )


@query(
    "agg_global",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           {sql_dsum('l_extendedprice')} AS sum_price,
           {sql_davg('l_discount')} AS avg_discount,
           MIN(l_shipdate) AS min_shipdate,
           MAX(l_shipdate) AS max_shipdate
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation without grouping (reference: isolation.py history max)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_extendedprice").alias("sum_price"),
        davg("l_discount").alias("avg_discount"),
        F.min("l_shipdate").alias("min_shipdate"),
        F.max("l_shipdate").alias("max_shipdate"),
    )


@query(
    "agg_min_max_dates",
    oracle="""
    SELECT o_orderpriority,
           MIN(o_orderdate) AS first_dt,
           MAX(o_orderdate) AS last_dt,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_min_max_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.min("o_orderdate").alias("first_dt"),
        F.max("o_orderdate").alias("last_dt"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "agg_distinct",
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(DISTINCT o_orderpriority) AS n_priorities
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
    )


@query(
    "agg_approx_distinct",
    oracle="""
    SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
           TRUE AS approx_within_bound
    FROM orders
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct — the scale path (no exact-distinct shuffle).

    At 100 TB ``approx_count_distinct`` is the default recommendation; the
    exact variant is registered separately (``agg_distinct``), so the
    interesting plan here is the HLL sketch aggregation.

    Driver-legible form: the sketch registers are engine-specific, so the
    estimate itself can never value-hash against ANSI SQL. Instead the
    query emits the exact count (hash-checked against the oracle) plus
    ``approx_within_bound`` — the HLL estimate sitting within 3× its
    default rsd (0.05 → 15%) of the exact count, a bound the sketch meets
    deterministically on fixed data. A sketch regression (wrong column,
    broken rsd, empty input) flips the boolean and hash-fails.

    Plan shape: asking Spark for countDistinct + approx in ONE agg makes
    the planner carry the 52-register HLL partial PER KEY through the
    distinct expand (53 columns × |keys| on the wire — measured here).
    Distinct-ing first, then counting + sketching the distinct stream,
    keeps the shuffle at one narrow column and the sketch a single
    register array per partition; the estimate is over the same value
    set (HLL is duplicate-insensitive), so the bound is unchanged.
    """
    d = load_table(spark, sf_dir, "orders").select("o_custkey").distinct()
    # count(col), not count(1): a NULL key survives .distinct() but is
    # excluded by the oracle's COUNT(DISTINCT ...) and by the HLL sketch
    # alike — count(1) would put "exact" one above both on dirty data.
    return d.agg(
        F.expr("count(o_custkey) AS exact_customers"),
        F.expr("approx_count_distinct(o_custkey) AS approx"),
    ).selectExpr(
        "exact_customers",
        "abs(approx - exact_customers) <= exact_customers * 0.15D"
        " AS approx_within_bound",
    )


@query(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
           round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (sort-based aggregate).

    Exact ``percentile`` holds the group's values for the final sort —
    fine for bounded group counts; at 100 TB-scale cardinalities the
    sketch path is ``approx_percentile`` (KLL/GK — one pass, bounded
    memory), which is engine-specific and therefore not the oracle shape.
    Both engines interpolate linearly, so values match bitwise (rounded
    at 1e-6 for hash stability).

    r17: the three percentiles are ONE array-form aggregate — three
    scalar ``percentile`` calls each buffer the whole group
    independently (3× the per-task state and three final sorts); the
    array form buffers and sorts once (measured 1.9 s → 0.9 s at
    sf0.1, values bit-identical).
    """
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag").agg(
        F.percentile(
            "l_extendedprice",
            F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)),
        ).alias("ps"),
        F.count(F.lit(1)).alias("n"),
    )
    return g.select(
        "l_returnflag",
        F.round(F.col("ps")[0], 6).alias("p25"),
        F.round(F.col("ps")[1], 6).alias("p50"),
        F.round(F.col("ps")[2], 6).alias("p75"),
        "n",
    )


@query(
    "agg_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n, {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), dsum("l_quantity").alias("sum_qty")
    )


@query(
    "agg_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n, {sql_dsum('l_extendedprice')} AS sum_price
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), dsum("l_extendedprice").alias("sum_price")
    )


@query(
    "agg_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {sql_davg('l_quantity')} AS avg_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           {sql_davg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape — BENCH q1 (BASELINE.md)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = "l_extendedprice * (1 - l_discount)"
    charge = f"{disc_price} * (l_tax + 1)"
    return (
        li.filter("l_shipdate <= CAST('1998-09-02' AS TIMESTAMP)")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.expr("count(1) AS count_order"),
        )
    )


@query(
    "agg_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n, {sql_dsum('l_extendedprice')} AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither rollup nor cube): per-flag totals,
    per-status totals, and the grand total in one Expand + hash agg pass —
    one scan of the fact table instead of three unioned aggregations.

    Pure DataFrame API (``groupingSets``, Spark 4): no temp view mutating
    the shared session catalog, and the quantized sum reuses the
    registry's dsum convention instead of an inlined SQL copy."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("l_extendedprice").alias("sum_price"),
        )
        .select("l_returnflag", "l_linestatus", "n", "sum_price")
    )


_PIVOT_PRIORITIES = [
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
]


@query(
    "agg_pivot",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent,
           COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS high,
           COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS medium,
           COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS notspec,
           COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS low
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide): order counts per status × priority.

    The pivot values are given explicitly — with them, Spark pivots in a
    single pass; without, it runs an extra distinct job to discover the
    columns (an avoidable full shuffle at 100 TB).
    """
    o = load_table(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PIVOT_PRIORITIES)
        .count()
    )
    renames = dict(
        zip(_PIVOT_PRIORITIES, ["urgent", "high", "medium", "notspec", "low"])
    )
    out = wide
    for old, new in renames.items():
        out = out.withColumnRenamed(old, new)
    # pivot yields nulls for empty cells; the oracle's FILTER yields 0.
    return out.select(
        "o_orderstatus",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in renames.values()],
    )


@query(
    "agg_collect_set",
    oracle="""
    SELECT o_orderstatus,
           coalesce(array_to_string(
               list_sort(list_distinct(list(o_orderpriority))), ','), '')
               AS priorities,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-valued aggregation (collect_set), emitted as a sorted joined
    string: collection order is partition-dependent, so the deterministic
    (and cross-engine-hashable) form is sort-then-join. At scale the set
    must be low-cardinality per group (it lives in one aggregation
    buffer) — unbounded collect_list over a 100 TB fact table is the
    anti-pattern; this query's per-group domain is the 5 priorities.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.array_join(
            F.sort_array(F.collect_set("o_orderpriority")), ","
        ).alias("priorities"),
        F.count(F.lit(1)).alias("n"),
    )


_FUNNEL_STEPS = ("view", "click", "purchase")


@query(
    "agg_funnel_steps",
    oracle=f"""
    WITH s1 AS (
        SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t1
        FROM events WHERE ts IS NOT NULL AND event_type = '{_FUNNEL_STEPS[0]}'
        GROUP BY user_id),
    s2 AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.ts IS NOT NULL AND e.event_type = '{_FUNNEL_STEPS[1]}'
          AND CAST(e.ts AS TIMESTAMP) > s1.t1
        GROUP BY e.user_id),
    s3 AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.ts IS NOT NULL AND e.event_type = '{_FUNNEL_STEPS[2]}'
          AND CAST(e.ts AS TIMESTAMP) > s2.t2
        GROUP BY e.user_id)
    SELECT 1 AS stage, '{_FUNNEL_STEPS[0]}' AS step,
           COUNT(*) AS n_users FROM s1
    UNION ALL
    SELECT 2, '{_FUNNEL_STEPS[1]}', COUNT(*) FROM s2
    UNION ALL
    SELECT 3, '{_FUNNEL_STEPS[2]}', COUNT(*) FROM s3
    """,
)
def agg_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion (view → click → purchase): how many
    users completed each prefix of the step sequence IN ORDER — each
    step's first occurrence must be strictly after the previous step's.
    The windowFunnel-style product-analytics op (ClickHouse/Flink have a
    dedicated operator; here it is three conditional min-aggregations).

    Scale shape: one filtered hash agg per step plus an equi join on
    user_id carrying only (user, first-ts) pairs — each successive stage
    shrinks, and nothing ever materializes per-event state. All shuffles
    are keyed by the high-cardinality user_id.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    s1 = (
        ev.filter(F.col("event_type") == _FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == _FUNNEL_STEPS[1])
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == _FUNNEL_STEPS[2])
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def stage(df: DataFrame, n: int) -> DataFrame:
        return df.agg(
            F.lit(n).alias("stage"),
            F.lit(_FUNNEL_STEPS[n - 1]).alias("step"),
            F.count(F.lit(1)).alias("n_users"),
        )

    return stage(s1, 1).unionByName(stage(s2, 2)).unionByName(stage(s3, 3))


@query(
    "agg_retention_cohort",
    oracle="""
    WITH firsts AS (
        SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS first_ts
        FROM events WHERE ts IS NOT NULL GROUP BY user_id),
    cohorted AS (
        SELECT e.user_id,
               CAST(date_trunc('week', f.first_ts) AS TIMESTAMP) AS cohort_week,
               CAST((epoch_us(CAST(date_trunc('week', CAST(e.ts AS TIMESTAMP))
                                   AS TIMESTAMP))
                     - epoch_us(CAST(date_trunc('week', f.first_ts)
                                     AS TIMESTAMP)))
                    // 604800000000 AS BIGINT) AS age_weeks
        FROM events e JOIN firsts f ON e.user_id = f.user_id
        WHERE e.ts IS NOT NULL)
    SELECT cohort_week, age_weeks,
           COUNT(DISTINCT user_id) AS n_active_users
    FROM cohorted GROUP BY cohort_week, age_weeks
    """,
)
def agg_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by the ISO week of their
    first event; for every later week of activity, how many of that
    cohort were active — the classic retention-triangle input (funnel's
    time-axis sibling).

    Scale shape: first-event hash agg per user, one equi join on user_id
    carrying a single timestamp per user, then a distinct-count keyed by
    (cohort, age) — nothing per-event survives the first aggregation.
    Week arithmetic is integer microsecond division, identical on both
    engines (both date_trunc to ISO Monday).
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    firsts = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    cohorted = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            F.date_trunc("week", "first_ts").alias("cohort_week"),
            (
                (
                    F.unix_micros(F.date_trunc("week", "ts"))
                    - F.unix_micros(F.date_trunc("week", "first_ts"))
                )
                / F.lit(604_800_000_000)
            )
            .cast("long")
            .alias("age_weeks"),
        )
    )
    return cohorted.groupBy("cohort_week", "age_weeks").agg(
        F.countDistinct("user_id").alias("n_active_users")
    )


@query(
    "agg_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
        FROM events WHERE ts IS NOT NULL),
    trans AS (
        SELECT prev_type AS from_type, event_type AS to_type,
               COUNT(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2)
    SELECT from_type, to_type, CAST(n AS BIGINT) AS n_transitions,
           CAST((n * 1000000)
                // SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS p_ppm
    FROM trans ORDER BY from_type, to_type
    """,
)
def agg_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    timeline: for every (from_type → to_type) pair, the transition count
    and the row-normalized probability in exact integer ppm — the
    behavioral fingerprint behind next-event prediction, bot detection
    (self-loop-heavy rows), and session-model priors; the event-stream
    twin of the text bigram LM (``text_bigram_lm_score``) with users as
    documents and event types as tokens.

    Ordering is the total (ts, event_id) order every window query in
    this module uses, so ties resolve identically on both engines; NULL
    timestamps are out of scope (cannot be sequenced). Each user's first
    event has no predecessor and is excluded.

    Scale shape: ONE shuffle — the per-user window sort keyed by the
    high-cardinality user_id (the same exchange any sessionization
    already pays; a 30%-hot user means one partition sorts that user's
    events, bounded by per-user volume, not corpus). The transition
    count is a map-side-combined hash agg to a |types|² relation
    (vocabulary-sized), and the row normalization is a window over THAT
    aggregate — never over events.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select(
            "event_type",
            F.lag("event_type").over(w).alias("from_type"),
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", F.col("event_type").alias("to_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return trans.select(
        "from_type",
        "to_type",
        F.col("n").cast("long").alias("n_transitions"),
        F.expr(
            "CAST((n * CAST(1000000 AS BIGINT)) div "
            "(SUM(n) OVER (PARTITION BY from_type)) AS BIGINT)"
        ).alias("p_ppm"),
    ).orderBy("from_type", "to_type")


@query(
    "agg_hll_rollup",
    oracle="""
    SELECT date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS month,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
           TRUE AS est_within_bound
    FROM orders GROUP BY 1
    UNION ALL
    SELECT NULL AS month,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
           TRUE AS est_within_bound
    FROM orders
    """,
)
def agg_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct rollup: per-month HLL sketches of the
    customer set, re-aggregated into a grand total by UNIONING THE
    SKETCHES — never rescanning the fact table. This mergeability is
    what plain ``countDistinct`` cannot give an OLAP layer: store one
    tiny sketch per cube cell and any rollup (quarter, year, all-time)
    is a cheap union over cells, exactly the DataSketches pattern
    ``hll_sketch_agg`` / ``hll_union_agg`` implement JVM-side.

    Driver-legible form: the sketch registers are engine-specific, so
    the estimates can never value-hash against ANSI SQL. Each output row
    carries the exact distinct count (hash-checked against the oracle)
    plus ``est_within_bound`` — the sketch estimate sitting within 5% of
    exact (lgK=12 → ~1.6% 1σ; deterministic on fixed data). The total
    row's bound is the strong part: it proves the UNION of the monthly
    sketches estimates the GLOBAL distinct (which no single month
    equals), i.e. mergeability actually worked. The error-bound test in
    tests/test_llm_ops.py pins the same property with explicit deltas.

    Scale shape: one map-side-combined sketch agg over the scan (each
    partial is a fixed-size register array), then a second agg over
    |months| sketch rows. The total row costs the union of ~84 sketches
    — independent of fact-table size. (The exact countDistinct alongside
    exists for the correctness hash; the sketch path is the operator.)
    """
    orders = load_table(spark, sf_dir, "orders").select(
        F.date_trunc("month", F.col("o_orderdate").cast("timestamp")).alias(
            "month"
        ),
        "o_custkey",
    )
    monthly = orders.groupBy("month").agg(
        F.expr("hll_sketch_agg(o_custkey)").alias("sk"),
        F.countDistinct("o_custkey").alias("exact_customers"),
    )
    within = (
        F.abs(F.col("est") - F.col("exact_customers"))
        <= 0.05 * F.col("exact_customers")
    ).alias("est_within_bound")
    per_month = monthly.select(
        "month",
        "exact_customers",
        F.expr("hll_sketch_estimate(sk)").cast("long").alias("est"),
    ).select("month", "exact_customers", within)
    total = (
        monthly.agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk))")
            .cast("long")
            .alias("est"),
        )
        .crossJoin(
            F.broadcast(
                orders.agg(
                    F.countDistinct("o_custkey").alias("exact_customers")
                )
            )
        )
        .select(
            F.lit(None).cast("timestamp").alias("month"),
            "exact_customers",
            within,
        )
    )
    return per_month.unionByName(total)


@query(
    "agg_q6_selective",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24.0
    """,
)
def agg_q6_selective(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-revenue-change scan (TPC-H Q6 shape): three conjunctive
    range predicates + a global two-column aggregate, no joins.

    The pushdown showcase: all three predicates reach the parquet scan as
    PushedFilters (row-group min/max statistics skip whole chunks), only
    the three referenced columns are read (ReadSchema pruning), and the
    surviving ~2% of rows fold into one map-side partial aggregate per
    task plus a single-row final reduce. At 100 TB this is the shape that
    proves the engine reads gigabytes, not the full corpus, for a
    selective global metric.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24.0)
        )
        .agg(
            dsum("l_extendedprice * l_discount").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# Histogram-sketch quantiles: fixed integer bucket width over
# l_extendedprice (range ~[900, 105000] at every SF — ~1k buckets).
# Resolution is the bucket's lower edge; mergeability is by construction
# (integer bucket counts sum across any partitioning of the data).
_HQ_BUCKET_W = 100
_HQ_QS = [(500_000, "p50"), (950_000, "p95"), (990_000, "p99")]


@query(
    "agg_histogram_quantile_rollup",
    oracle=f"""
    WITH hist AS (
        SELECT date_trunc('month', l_shipdate) AS month,
               CAST(floor(l_extendedprice / {_HQ_BUCKET_W}) AS BIGINT)
                   AS bucket,
               COUNT(*) AS cnt
        FROM lineitem GROUP BY 1, 2),
    both_h AS (
        SELECT month, bucket, cnt FROM hist
        UNION ALL
        SELECT CAST(NULL AS TIMESTAMP) AS month, bucket,
               SUM(cnt) AS cnt
        FROM hist GROUP BY bucket),
    cum AS (
        SELECT month, bucket, cnt,
               SUM(cnt) OVER (PARTITION BY month ORDER BY bucket
                              ROWS UNBOUNDED PRECEDING) AS c,
               SUM(cnt) OVER (PARTITION BY month) AS n
        FROM both_h)
    SELECT month,
           CAST(MAX(n) AS BIGINT) AS n_items,
           {', '.join(
               f"CAST(MIN(CASE WHEN c * 1000000 >= n * {q} THEN bucket END)"
               f" * {_HQ_BUCKET_W} AS BIGINT) AS {lbl}_lo"
               for q, lbl in _HQ_QS
           )}
    FROM cum GROUP BY month ORDER BY month NULLS FIRST
    """,
)
def agg_histogram_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketches: per-month fixed-width histograms of
    l_extendedprice with p50/p95/p99 read off the cumulative counts, plus
    a grand-total row merged FROM THE SKETCHES (bucket counts sum — the
    fact table is scanned exactly once however many rollup levels exist).
    The percentile twin of agg_hll_rollup, but exactly oracle-checkable:
    unlike t-digest/GK sketches, integer bucket counts have no
    engine-specific internals, and the answer is exact to the bucket
    resolution by construction.

    Scale shape: one map-side-combined groupBy builds the histogram
    (|months| × |buckets| rows ≈ 10^5, regardless of corpus size); the
    quantile extraction windows over THAT aggregate, never the corpus.
    The quantile rank test uses integer cross-multiplication
    (c * 1e6 >= n * q) — no float division anywhere, so the bucket
    choice cannot drift between engines at any n.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.date_trunc(
            "month", F.col("l_shipdate").cast("timestamp")
        ).alias("month"),
        F.floor(F.col("l_extendedprice") / _HQ_BUCKET_W)
        .cast("long")
        .alias("bucket"),
    )
    hist = li.groupBy("month", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    total = hist.groupBy("bucket").agg(F.sum("cnt").alias("cnt")).select(
        F.lit(None).cast("timestamp").alias("month"), "bucket", "cnt"
    )
    both = hist.unionByName(total)
    w_cum = (
        Window.partitionBy("month")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("month")
    cum = both.select(
        "month",
        "bucket",
        F.sum("cnt").over(w_cum).alias("c"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    agg_cols = [F.max("n").cast("long").alias("n_items")]
    for q, lbl in _HQ_QS:
        agg_cols.append(
            (
                F.min(
                    F.when(
                        # DECIMAL(38,0) cross-multiplication: c·1e6 and
                        # n·q pass int64 at ~9.2e12 rows per month —
                        # within reach of extreme fact tables — while the
                        # oracle's HUGEINT window sums stay exact.
                        F.col("c").cast("decimal(38,0)") * 1_000_000
                        >= F.col("n").cast("decimal(38,0)") * q,
                        F.col("bucket"),
                    )
                )
                * _HQ_BUCKET_W
            )
            .cast("long")
            .alias(f"{lbl}_lo")
        )
    return (
        cum.groupBy("month")
        .agg(*agg_cols)
        .orderBy(F.col("month").asc_nulls_first())
    )


@query(
    "agg_approx_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 6) AS exact_p50,
           CAST(COUNT(*) AS BIGINT) AS n,
           TRUE AS approx_within_rank_bound
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-path percentiles — ``approx_percentile`` (GK, one pass,
    bounded memory) next to the exact sort-based variant
    (``agg_percentiles``). At 100 TB the sketch IS the percentile path:
    exact ``percentile`` holds each group's values for a final sort,
    which dies on high-cardinality groups; GK state is O(1/accuracy)
    per group regardless of group size.

    Driver-legible the same way as the HLL pair: the sketch estimate is
    engine-specific (no ANSI twin), so the query emits the exact median
    (hash-checked) plus ``approx_within_rank_bound`` — the estimate
    sitting inside the exact [p40, p60] value window, a 10× looser rank
    window than the sketch's guaranteed ±n/1000 rank error, so it is
    deterministic on fixed data and flips only if the sketch path is
    genuinely broken (wrong column, wrong accuracy, empty input).
    """
    li = load_table(spark, sf_dir, "lineitem")
    # r17: the three exact rank anchors share ONE array-form percentile
    # buffer (the agg_percentiles change) — the sketch keeps its own GK
    # state, which is the point of the query.
    g = li.groupBy("l_returnflag").agg(
        F.expr(
            "percentile(l_extendedprice, array(0.5D, 0.4D, 0.6D))"
        ).alias("ps"),
        F.expr("approx_percentile(l_extendedprice, 0.5, 1000)").alias("ap"),
        F.count(F.lit(1)).alias("n"),
    )
    return g.select(
        "l_returnflag",
        F.round(F.col("ps")[0], 6).alias("exact_p50"),
        "n",
        (
            (F.col("ap") >= F.col("ps")[1]) & (F.col("ap") <= F.col("ps")[2])
        ).alias("approx_within_rank_bound"),
    )


# Heavy-hitter threshold: keys at >= 1.5x the MEAN key frequency
# (cnt * n_keys * 2 >= 3 * n, exact integers). A fixed table-fraction
# (phi) threshold empties out as the key space grows with the data —
# measured: phi=1/1000 over l_partkey matches 200 keys at sf0.001 and
# ZERO at sf0.01 — while the mean-relative form stays non-vacuous at
# every SF (14 / 124 / 723 customers at sf0.001/0.01/0.1). Exact
# two-pass form; at 100 TB the single-pass bounded-memory alternative is
# Misra-Gries/SpaceSaving over mapPartitions with a merge, which
# over-reports candidates and re-verifies them with exactly this query.


@query(
    "agg_heavy_hitters",
    oracle="""
    WITH c AS (SELECT o_custkey, COUNT(*) AS cnt
               FROM orders GROUP BY o_custkey),
    tot AS (SELECT COUNT(*) AS n_keys, SUM(cnt) AS n FROM c)
    SELECT c.o_custkey, CAST(c.cnt AS BIGINT) AS cnt
    FROM c, tot
    WHERE c.cnt * tot.n_keys * 2 >= 3 * tot.n
    """,
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent items (heavy hitters): customers placing >= 1.5x the mean
    order count — the skew report that decides which join keys need
    salting and which dimension values dominate a corpus.

    Scale shape: ONE map-side-combined groupBy over the scan (the
    partial aggregate shrinks each partition to its distinct keys before
    the exchange), a broadcast single-row (n_keys, n) total over the
    ALREADY-AGGREGATED key counts, and an integer-arithmetic filter —
    no doubles, no ratio rounding to reconcile, no second fact scan.
    """
    # Materialize the |keys|-row aggregate once: both consumers below
    # (the broadcast total and the filter) would otherwise each re-run
    # the fact scan + shuffle — two full passes at 100 TB for a second
    # consumer that only needs two scalars. memo_df (not a bare
    # localCheckpoint): a per-invocation checkpoint is only reclaimed by
    # the async ContextCleaner, so bench warm-ups would stack live
    # copies; the memo bounds it to one per (session, sf_dir) with eager
    # release on eviction.
    counts = memo_df(
        f"hh_counts:{sf_dir}",
        spark,
        lambda: load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt")),
        cut_lineage=True,
    )
    total = F.broadcast(
        counts.agg(
            F.count(F.lit(1)).alias("n_keys"), F.sum("cnt").alias("n")
        )
    )
    return (
        counts.crossJoin(total)
        .filter(F.col("cnt") * F.col("n_keys") * 2 >= 3 * F.col("n"))
        .select("o_custkey", "cnt")
    )


# r² = num² / (den1·den2), in doubles on both engines.
_R2 = (
    "(CAST(num AS DOUBLE) * CAST(num AS DOUBLE))"
    " / (CAST(den1 AS DOUBLE) * CAST(den2 AS DOUBLE))"
)


@query(
    "agg_regression_moments",
    oracle=f"""
    WITH m AS (
        SELECT l_returnflag,
               COUNT(*)::HUGEINT AS n,
               SUM(CAST(floor(l_quantity) AS BIGINT))::HUGEINT AS sx,
               SUM(CAST(floor(l_extendedprice) AS BIGINT))::HUGEINT AS sy,
               SUM(CAST(floor(l_quantity) AS BIGINT)
                   * CAST(floor(l_extendedprice) AS BIGINT))::HUGEINT AS sxy,
               SUM(CAST(floor(l_quantity) AS BIGINT)
                   * CAST(floor(l_quantity) AS BIGINT))::HUGEINT AS sxx,
               SUM(CAST(floor(l_extendedprice) AS BIGINT)
                   * CAST(floor(l_extendedprice) AS BIGINT))::HUGEINT AS syy
        FROM lineitem GROUP BY l_returnflag),
    d AS (SELECT l_returnflag, n,
                 n * sxy - sx * sy AS num,
                 n * sxx - sx * sx AS den1,
                 n * syy - sy * sy AS den2,
                 sx, sy
          FROM m)
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           CAST((num * 1000000) // den1 AS BIGINT) AS slope_ppm,
           CAST((sy * 1000000 - ((num * 1000000) // den1) * sx) // n
                AS BIGINT) AS intercept_ppm,
           {sql_units(_R2)} AS r2_ppm
    FROM d
    """,
)
def agg_regression_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass linear regression + correlation per group (price vs
    quantity per return flag): slope, intercept, and r² computed from
    the FIVE sufficient moments (Σx, Σy, Σxy, Σx², Σy²) gathered in a
    single map-side-combined aggregate — the way corr/regr run at
    100 TB (Spark's own F.corr/covar_samp are the same one-pass moment
    fold, but accumulate in doubles, whose order-dependent rounding
    breaks cross-engine value hashes).

    Determinism layering: inputs floor to integer units, moments
    accumulate exactly in DECIMAL(38,0) (both engines 128-bit here),
    slope/intercept come out via integral division at ppm scale, and
    only r² — whose exact numerator (num²·1e6 ≈ 4e40 at sf0.1) would
    overflow 38 digits — converts the exact moments to IEEE doubles for
    one mul/div/floor sequence mirrored operation-for-operation in the
    oracle (IEEE ops are exactly specified, so the hash still matches).
    Caveat pinned for the integer path: Spark's decimal ``div`` yields
    a LONG, so it is only used where the quotient provably fits (slope
    ≤ ~1e10 ppm, intercept ≤ Σy·1e6/n); at 1e12-row groups the moment
    products approach the 38-digit ceiling — shard the moments and
    combine, or drop to the double path entirely.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor("l_quantity").alias("x"),
        F.floor("l_extendedprice").alias("y"),
    )
    dec = "decimal(38,0)"
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
    )
    d = m.select(
        "l_returnflag",
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den1"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias("den2"),
        "sx",
        "sy",
    )
    return d.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.expr("(num * 1000000) div den1").cast("long").alias("slope_ppm"),
        F.expr(
            "(sy * 1000000 - CAST((num * 1000000) div den1 AS DECIMAL(38,0))"
            " * sx) div n"
        )
        .cast("long")
        .alias("intercept_ppm"),
        units(_R2).alias("r2_ppm"),
    )


# Count-min sketch geometry: _CMS_DEPTH independent md5-salted hash rows
# of _CMS_WIDTH buckets each. The bucket function is parametrized by the
# row index so Spark and DuckDB evaluate the identical expression, and
# BOTH expression templates (plus the oracle's depth list and the Markov
# slack bound below) derive from these two constants — change them here
# and the engines stay in lockstep.
_CMS_DEPTH = 4
_CMS_WIDTH = 256
# Markov slack: est <= exact + _CMS_SLACK_NUM * N / _CMS_WIDTH.
_CMS_SLACK_NUM = 4
_CMS_BUCKET = (
    "CAST(conv(substring(md5(concat('cms', CAST({d} AS STRING), ':', "
    f"CAST({{k}} AS STRING))), 1, 8), 16, 10) AS BIGINT) % {_CMS_WIDTH}"
)
_SQL_CMS_BUCKET = (
    "(('0x' || substr(md5('cms' || CAST({d} AS VARCHAR) || ':' || "
    f"CAST({{k}} AS VARCHAR)), 1, 8))::BIGINT % {_CMS_WIDTH})"
)
_SQL_CMS_DEPTHS = "[" + ", ".join(str(i) for i in range(_CMS_DEPTH)) + "]"


@query(
    "agg_countmin_sketch",
    oracle=f"""
    WITH src AS (
        SELECT o_custkey AS k FROM orders WHERE o_custkey IS NOT NULL),
    d AS (SELECT unnest({_SQL_CMS_DEPTHS}) AS depth),
    cells AS (
        SELECT depth,
               {_SQL_CMS_BUCKET.format(d='depth', k='k')} AS bucket,
               COUNT(*) AS cnt
        FROM src, d GROUP BY 1, 2),
    exact AS (
        SELECT k, COUNT(*) AS exact_cnt FROM src GROUP BY 1
        ORDER BY exact_cnt DESC, k LIMIT 20),
    tot AS (SELECT COUNT(*) AS n FROM src),
    est AS (
        SELECT e.k, e.exact_cnt, MIN(c.cnt) AS cms_est
        FROM exact e
        JOIN d ON TRUE
        JOIN cells c ON c.depth = d.depth
             AND c.bucket = {_SQL_CMS_BUCKET.format(d='d.depth', k='e.k')}
        GROUP BY 1, 2)
    SELECT e.k AS custkey,
           CAST(e.exact_cnt AS BIGINT) AS exact_cnt,
           CAST(e.cms_est AS BIGINT) AS cms_est,
           e.cms_est >= e.exact_cnt AS never_under,
           e.cms_est <= e.exact_cnt
               + ({_CMS_SLACK_NUM} * t.n) // {_CMS_WIDTH} AS within_slack
    FROM est e, tot t
    ORDER BY exact_cnt DESC, custkey
    """,
)
def agg_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimates, checked against exact
    counts — the mergeable fixed-size (4×256 counters) frequency summary
    a streaming/telemetry pipeline keeps when per-key exact state is too
    large. Same evidence pattern as agg_hll_rollup: the sketch estimate
    rides next to deterministic exact counts plus two hash-checkable
    booleans (CMS can only overestimate, so ``never_under`` must be
    uniformly true; ``within_slack`` pins the ≤ exact + 4N/w Markov
    band, deterministic for fixed salts and data).

    The hash rows are md5-salted by row index (no Spark/ML RNG — the
    DuckDB twin evaluates the byte-identical expression), so the sketch
    itself, not just its summary, is cross-engine reproducible.

    Scale (100 TB): the sketch build is one pass — explode each key into
    its 4 (row, bucket) cells and hash-aggregate; the result is ≤1024
    rows no matter the input size, and partial aggregation compresses
    each map task to ≤1024 cells before the shuffle. Probes (top-20
    exact, a TakeOrdered) join the broadcast sketch. The exact counts
    exist only to *grade* the sketch; a production use keeps just the
    1 KB of counters.
    """
    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey").isNotNull())
        .select(F.col("o_custkey").alias("k"))
    )
    bucket = F.expr(_CMS_BUCKET.format(d="depth", k="k"))
    # r17: the sketch build is _CMS_DEPTH md5 evaluations per input row —
    # CPU the single-file scan serialized on one task (interleaved A/B
    # 0.625 → 0.515 s median at sf0.1, checksums bit-identical). Spread
    # ONLY this branch: the exact/tot branches are plain aggregations
    # whose map-side combine gains nothing from an extra exchange.
    cells = (
        spread_scan(src, spark)
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(_CMS_DEPTH - 1))).alias(
                "depth"
            ),
            "k",
        )
        .select("depth", bucket.alias("bucket"))
        .groupBy("depth", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    exact = (
        src.groupBy("k")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("k"))
        .limit(20)
    )
    probes = exact.select(
        "k",
        "exact_cnt",
        F.explode(F.sequence(F.lit(0), F.lit(_CMS_DEPTH - 1))).alias(
            "depth"
        ),
    ).withColumn("bucket", bucket)
    tot = src.agg(F.count(F.lit(1)).alias("n"))
    return (
        probes.join(F.broadcast(cells), ["depth", "bucket"])
        .groupBy("k", "exact_cnt")
        .agg(F.min("cnt").alias("cms_est"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("k").alias("custkey"),
            F.col("exact_cnt").cast("long").alias("exact_cnt"),
            F.col("cms_est").cast("long").alias("cms_est"),
            (F.col("cms_est") >= F.col("exact_cnt")).alias("never_under"),
            (
                F.col("cms_est")
                <= F.col("exact_cnt")
                + F.expr(f"({_CMS_SLACK_NUM} * n) div {_CMS_WIDTH}")
            ).alias("within_slack"),
        )
        .orderBy(F.desc("exact_cnt"), "custkey")
    )


# Incremental-maintenance cutoff: rows before it play the persisted
# "state" partition, rows from it on play the newly-arrived "delta".
_INC_CUTOFF = "1999-01-01"


@query(
    "agg_incremental_moments_merge",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1999-01-01'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_state,
           CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1999-01-01'
                         THEN 0 ELSE 1 END) AS BIGINT) AS n_delta,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))::HUGEINT
                // COUNT(*) AS BIGINT) AS mean_cents,
           CAST((COUNT(*)::HUGEINT
                   * SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                         * CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))::HUGEINT
                 - SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))::HUGEINT
                   * SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))::HUGEINT)
                // (COUNT(*)::HUGEINT * COUNT(*)::HUGEINT) AS BIGINT)
               AS var_cents2
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def agg_incremental_moments_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental aggregate maintenance, value-proven: per-priority
    mean/variance computed by MERGING two independently-aggregated
    partial-moment states — a "persisted" partition (orders before
    ``_INC_CUTOFF``) and a "new arrivals" delta — exactly the way a
    100 TB rollup absorbs a day of new data without rescanning history
    (store
    (n, Σx, Σx²) per group, fold the delta's partials in, finalize).
    The DuckDB oracle computes the same statistics DIRECTLY over the
    full table, so the hash match IS the proof that merge(state, delta)
    ≡ recompute — the algebraic property every mergeable-state design
    (HLL rollup, quantile sketches, this) rests on.

    Exactness: cent-quantized inputs, DECIMAL(38,0) moment sums (the
    ``agg_regression_moments`` convention), integral ppm-free divisions
    at the end. var_cents2 is the population variance numerator
    (n·Σx² − (Σx)²) div n² — headroom analysis matches the regression
    query: safe through ~1e12-row groups, then shard the moments.

    Scale shape: one scan, one map-side-combined partial agg keyed
    (priority, part) — 2×|priorities| rows — then a |priorities|-sized
    merge agg. The delta side of a real deployment is the SAME partial
    agg over only the new files (partition pruning makes that a
    delta-sized scan), so maintenance cost is O(delta), not O(history).
    """
    dec = "decimal(38,0)"
    cents = F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
    parts = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderpriority",
            F.when(
                F.col("o_orderdate") < F.lit(_INC_CUTOFF).cast("timestamp"),
                F.lit("state"),
            )
            .otherwise(F.lit("delta"))
            .alias("part"),
            cents.alias("cents"),
        )
        .groupBy("o_orderpriority", "part")
        .agg(
            F.count(F.lit(1)).cast(dec).alias("n"),
            F.sum(F.col("cents").cast(dec)).alias("s"),
            F.sum((F.col("cents") * F.col("cents")).cast(dec)).alias("q"),
        )
    )
    merged = parts.groupBy("o_orderpriority").agg(
        F.sum("n").alias("n"),
        F.sum(F.when(F.col("part") == "state", F.col("n"))).alias("n_state"),
        F.sum(F.when(F.col("part") == "delta", F.col("n"))).alias("n_delta"),
        F.sum("s").alias("s"),
        F.sum("q").alias("q"),
    )
    return merged.select(
        "o_orderpriority",
        F.col("n").cast("long").alias("n_orders"),
        F.coalesce(F.col("n_state"), F.lit(0)).cast("long").alias("n_state"),
        F.coalesce(F.col("n_delta"), F.lit(0)).cast("long").alias("n_delta"),
        F.expr("CAST(s div n AS BIGINT)").alias("mean_cents"),
        F.expr("CAST((n * q - s * s) div (n * n) AS BIGINT)").alias(
            "var_cents2"
        ),
    ).orderBy("o_orderpriority")


# --- round 12: deterministic experiment readout --------------------------

# Experiment readout: deterministic 50/50 user split (md5 hash-mod —
# registry.hash_bucket, the same primitive every sampler uses), exposure
# = any view, conversion = any purchase. The chi-squared statistic is
# computed in DOUBLE from exact integer counts: IEEE basic ops (*, -, /)
# are correctly rounded, so the identical formula on identical integers
# is bit-identical across engines.
_AB_SALT = "abtest"


@query(
    "agg_ab_test_readout",
    oracle=f"""
    WITH users AS (
        SELECT user_id,
               CAST({sql_hash_bucket('user_id', _AB_SALT)} % 2 AS INTEGER)
                   AS variant,
               MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   AS exposed,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events GROUP BY user_id),
    arms AS (
        SELECT variant,
               SUM(exposed) AS n_exposed,
               SUM(CASE WHEN exposed = 1 AND converted = 1 THEN 1 ELSE 0
                   END) AS n_converted
        FROM users GROUP BY variant),
    wide AS (
        SELECT
            MAX(CASE WHEN variant = 0 THEN n_exposed END) AS na,
            MAX(CASE WHEN variant = 0 THEN n_converted END) AS ca,
            MAX(CASE WHEN variant = 1 THEN n_exposed END) AS nb,
            MAX(CASE WHEN variant = 1 THEN n_converted END) AS cb
        FROM arms)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(ca AS BIGINT) AS conv_a,
           CAST(nb AS BIGINT) AS n_b, CAST(cb AS BIGINT) AS conv_b,
           CAST(ca * 1000000 // nullif(na, 0) AS BIGINT) AS cvr_a_ppm,
           CAST(cb * 1000000 // nullif(nb, 0) AS BIGINT) AS cvr_b_ppm,
           CAST(ca * 1000000 // nullif(na, 0)
                - cb * 1000000 // nullif(nb, 0) AS BIGINT) AS lift_ppm,
           round(
               (CAST(na + nb AS DOUBLE)
                * CAST(ca * (nb - cb) - cb * (na - ca) AS DOUBLE)
                * CAST(ca * (nb - cb) - cb * (na - ca) AS DOUBLE))
               / nullif(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                        * CAST(ca + cb AS DOUBLE)
                        * CAST(na + nb - ca - cb AS DOUBLE), 0.0),
               6) AS chi2
    FROM wide
    """,
)
def agg_ab_test_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout over the event stream: users split 50/50
    by deterministic hash (reproducible assignment — the md5 bucket
    every sampler shares, so a rerun can never reshuffle arms), exposure
    = any view event, conversion = exposed AND purchased. Emits the 2x2
    table, per-arm conversion in exact integer ppm, the integer lift,
    and the Pearson chi-squared statistic.

    chi2 is the one DOUBLE in the repo's report surface: every input is
    an exact integer and the formula is a fixed dag of IEEE-correctly-
    rounded *, -, / ops written identically in both engines, so the
    rounded value cannot drift. (The integer columns alone decide
    parity; chi2 rides along for the analyst.)

    Scale shape: one user-keyed map-combined aggregate over a single
    scan (the same shuffle any per-user profile pays), then a 2-row arm
    aggregate and a 1-row pivot. Nothing after the first agg scales
    with events.
    """
    users = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "view", 1).otherwise(0)
            ).alias("exposed"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted"),
        )
        .select(
            (hash_bucket("user_id", _AB_SALT) % 2)
            .cast("int")
            .alias("variant"),
            "exposed",
            "converted",
        )
    )
    arms = users.groupBy("variant").agg(
        F.sum("exposed").alias("n_exposed"),
        F.sum(
            F.when(
                (F.col("exposed") == 1) & (F.col("converted") == 1), 1
            ).otherwise(0)
        ).alias("n_converted"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n_exposed"))).alias("na"),
        F.max(F.when(F.col("variant") == 0, F.col("n_converted"))).alias("ca"),
        F.max(F.when(F.col("variant") == 1, F.col("n_exposed"))).alias("nb"),
        F.max(F.when(F.col("variant") == 1, F.col("n_converted"))).alias("cb"),
    )
    # nullif guards: a degenerate corpus (an empty arm, zero or total
    # conversion) nulls the affected ratio on BOTH engines instead of
    # dividing by zero (the corpus_drift_ks discipline).
    return wide.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("ca").cast("long").alias("conv_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.col("cb").cast("long").alias("conv_b"),
        F.expr(
            "CAST(ca * CAST(1000000 AS BIGINT) div nullif(na, 0)"
            " AS BIGINT)"
        ).alias("cvr_a_ppm"),
        F.expr(
            "CAST(cb * CAST(1000000 AS BIGINT) div nullif(nb, 0)"
            " AS BIGINT)"
        ).alias("cvr_b_ppm"),
        F.expr(
            "CAST(ca * CAST(1000000 AS BIGINT) div nullif(na, 0)"
            " - cb * CAST(1000000 AS BIGINT) div nullif(nb, 0) AS BIGINT)"
        ).alias("lift_ppm"),
        F.round(
            F.expr(
                "(CAST(na + nb AS DOUBLE)"
                " * CAST(ca * (nb - cb) - cb * (na - ca) AS DOUBLE)"
                " * CAST(ca * (nb - cb) - cb * (na - ca) AS DOUBLE))"
                " / nullif(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)"
                "          * CAST(ca + cb AS DOUBLE)"
                "          * CAST(na + nb - ca - cb AS DOUBLE), 0.0D)"
            ),
            6,
        ).alias("chi2"),
    )


# --- round 13: deterministic multiplier-bootstrap CI ------------------------

# Replicate count and the order-statistic CI ranks: with B = 64 sorted
# replicate means, ranks 2 and 63 bracket the central ~95% (the exact
# [2/65, 63/65] coverage of order statistics — deterministic, no
# interpolation).
_BOOT_B = 64
_BOOT_LO_RANK = 2
_BOOT_HI_RANK = 63
_BOOT_SALT = "boot13"


@query(
    "agg_bootstrap_ci",
    oracle=f"""
    WITH ev AS (
        SELECT event_type, event_id,
               {sql_units('value')} AS vu
        FROM events
        WHERE value IS NOT NULL AND event_type IS NOT NULL
          AND event_id IS NOT NULL),
    expanded AS (
        SELECT e.event_type, e.vu,
               b.b,
               CASE
                 WHEN {sql_hash_bucket(
                     "e.event_id || ':' || b.b", _BOOT_SALT)} < 250 THEN 0
                 WHEN {sql_hash_bucket(
                     "e.event_id || ':' || b.b", _BOOT_SALT)} < 750 THEN 1
                 ELSE 2
               END AS w
        FROM ev e, (SELECT unnest(range(0, {_BOOT_B})) AS b) b),
    reps AS (
        SELECT event_type, b,
               SUM(w * vu) // nullif(SUM(w), 0) AS rep_mean_u
        FROM expanded GROUP BY event_type, b),
    ranked AS (
        SELECT event_type, rep_mean_u,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY rep_mean_u, b) AS r
        FROM reps WHERE rep_mean_u IS NOT NULL),
    base AS (
        SELECT event_type, COUNT(*) AS n_rows,
               SUM(vu) // COUNT(*) AS mean_u
        FROM ev GROUP BY event_type)
    SELECT base.event_type,
           CAST(base.n_rows AS BIGINT) AS n_rows,
           CAST(base.mean_u AS BIGINT) AS mean_u,
           CAST(MIN(CASE WHEN r = {_BOOT_LO_RANK} THEN rep_mean_u END)
                AS BIGINT) AS boot_lo_u,
           CAST(MIN(CASE WHEN r = {_BOOT_HI_RANK} THEN rep_mean_u END)
                AS BIGINT) AS boot_hi_u
    FROM base JOIN ranked ON base.event_type = ranked.event_type
    GROUP BY base.event_type, base.n_rows, base.mean_u
    ORDER BY base.event_type
    """,
)
def agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multiplier-bootstrap confidence interval for the
    mean event value per event_type — the uncertainty band an A/B
    readout or drift monitor should quote next to its point estimate
    (``agg_ab_test_readout`` reports a chi²; THIS reports the
    resampling CI for a mean, the other standard tool). Classic
    Poisson/multiplier bootstrap re-weights every row by an i.i.d.
    mean-1 multiplier per replicate; here the multiplier is a
    DETERMINISTIC binomial(2, 1/2) surrogate (w in {{0,1,2}} with
    P = 1/4, 1/2, 1/4) drawn from the repo's md5 hash-bucket primitive
    on (event_id, replicate) — so both engines materialize the exact
    same {_BOOT_B} resamples and the whole statistic is hash-checkable
    (the same determinism-over-RNG trade every sampler here makes).
    CI bounds are exact order statistics of the replicate means (ranks
    {_BOOT_LO_RANK}/{_BOOT_HI_RANK} of {_BOOT_B}, ~95% central
    coverage) in integer micro-units — no float percentile anywhere.

    Scale shape: the replicate expansion is a projected explode (rows ×
    {_BOOT_B}) feeding straight into a map-combined partial aggregate,
    so the shuffle carries only (event_type × B) partial rows — the
    corpus is scanned once and never shuffled wide. The rank pass runs
    on the (types × B)-row replicate relation. At 100 TB the explode
    costs CPU, not exchange.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isNotNull()
            & F.col("event_id").isNotNull()
        )
        .select(
            "event_type",
            "event_id",
            units("value").alias("vu"),
        )
    )
    # r17: the B-fold md5 expansion is ~64 hash evaluations per input
    # row — on an under-split scan that entire CPU pass serialized on
    # ONE core (guide §2.5 input skew; measured 6.1 s → 1.2 s at sf0.1).
    # spread_scan no-ops when the source already has enough splits.
    ev = spread_scan(ev, spark)
    expanded = ev.select(
        "event_type",
        "vu",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
        "event_id",
    ).withColumn(
        "w",
        F.when(
            hash_bucket("concat_ws(':', event_id, b)", _BOOT_SALT)
            < 250,
            F.lit(0),
        )
        .when(
            hash_bucket("concat_ws(':', event_id, b)", _BOOT_SALT)
            < 750,
            F.lit(1),
        )
        .otherwise(F.lit(2)),
    )
    reps = (
        expanded.groupBy("event_type", "b")
        .agg(
            F.expr(
                "CAST(SUM(w * vu) div nullif(SUM(w), 0) AS BIGINT)"
            ).alias("rep_mean_u")
        )
        .filter(F.col("rep_mean_u").isNotNull())
    )
    wr = Window.partitionBy("event_type").orderBy("rep_mean_u", "b")
    ranked = reps.withColumn("r", F.row_number().over(wr))
    base = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.expr("CAST(SUM(vu) div COUNT(*) AS BIGINT)").alias("mean_u"),
    )
    return (
        base.join(ranked, "event_type")
        .groupBy("event_type", "n_rows", "mean_u")
        .agg(
            F.min(
                F.when(F.col("r") == _BOOT_LO_RANK, F.col("rep_mean_u"))
            )
            .cast("long")
            .alias("boot_lo_u"),
            F.min(
                F.when(F.col("r") == _BOOT_HI_RANK, F.col("rep_mean_u"))
            )
            .cast("long")
            .alias("boot_hi_u"),
        )
        .orderBy("event_type")
    )


# --- round 13: continuous-metric A/B readout (Welch's t) --------------------


@query(
    "agg_ab_value_ttest",
    oracle=f"""
    WITH users AS (
        SELECT user_id,
               CAST({sql_hash_bucket('user_id', _AB_SALT)} % 2 AS INTEGER)
                   AS variant,
               MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   AS exposed,
               SUM(CASE WHEN event_type = 'purchase'
                   THEN {sql_units('value')}
                   ELSE 0 END) AS rev_u
        FROM events
        WHERE user_id IS NOT NULL
        GROUP BY user_id),
    arms AS (
        SELECT variant,
               COUNT(*) AS n,
               SUM(rev_u) AS s,
               SUM(CAST(rev_u AS DECIMAL(38,0))
                   * CAST(rev_u AS DECIMAL(38,0))) AS ssq
        FROM users WHERE exposed = 1 GROUP BY variant),
    wide AS (
        SELECT
            MAX(CASE WHEN variant = 0 THEN n END) AS na,
            MAX(CASE WHEN variant = 0 THEN s END) AS sa,
            MAX(CASE WHEN variant = 0 THEN ssq END) AS qa,
            MAX(CASE WHEN variant = 1 THEN n END) AS nb,
            MAX(CASE WHEN variant = 1 THEN s END) AS sb,
            MAX(CASE WHEN variant = 1 THEN ssq END) AS qb
        FROM arms)
    SELECT CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           CAST(sa // nullif(na, 0) AS BIGINT) AS mean_a_u,
           CAST(sb // nullif(nb, 0) AS BIGINT) AS mean_b_u,
           CAST(sa // nullif(na, 0) - sb // nullif(nb, 0) AS BIGINT)
               AS diff_u,
           round(
               (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
                - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
               / nullif(sqrt(
                   ((CAST(qa AS DOUBLE)
                     - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
                       / CAST(na AS DOUBLE))
                    / nullif(CAST(na AS DOUBLE) - 1.0, 0.0))
                   / CAST(na AS DOUBLE)
                   + ((CAST(qb AS DOUBLE)
                       - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
                         / CAST(nb AS DOUBLE))
                      / nullif(CAST(nb AS DOUBLE) - 1.0, 0.0))
                   / CAST(nb AS DOUBLE)), 0.0),
               6) AS t_welch
    FROM wide
    """,
)
def agg_ab_value_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-metric A/B readout: Welch's unequal-variance t on
    per-user revenue between the two deterministic hash arms — the
    companion to ``agg_ab_test_readout`` (chi² answers "did conversion
    move"; THIS answers "did revenue per exposed user move", the
    metric most experiments actually ship on). Same salt, same arms,
    same exposure rule, so the two readouts describe one experiment.

    Cross-engine mechanics: per-arm n/Σx are BIGINT and Σx² is
    DECIMAL(38,0) (a per-user revenue squared overflows int64 at
    scale), so every input to the t formula is exact; t_welch itself is
    the chi² pattern — one fixed dag of IEEE ops written identically in
    both engines, rounded to 6 dp, riding along for the analyst while
    the integer columns decide parity.

    Degenerate arms are declared, not crashed: an arm with < 2 users
    (variance undefined) or two zero-variance arms yields t_welch NULL
    on BOTH engines (nullif guards at every denominator — ANSI mode
    raises DIVIDE_BY_ZERO otherwise, caught by the dirty-events suite);
    the integer columns still report.

    Scale shape: one user-keyed map-combined aggregate over a single
    scan, then a 2-row arm aggregate and a 1-row pivot — nothing after
    the first agg scales with events.
    """
    users = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "view", 1).otherwise(0)
            ).alias("exposed"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    units("value"),
                ).otherwise(F.lit(0))
            ).alias("rev_u"),
        )
        .select(
            (hash_bucket("user_id", _AB_SALT) % 2)
            .cast("int")
            .alias("variant"),
            "exposed",
            "rev_u",
        )
    )
    arms = (
        users.filter(F.col("exposed") == 1)
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("rev_u").alias("s"),
            F.sum(
                F.col("rev_u").cast("decimal(38,0)")
                * F.col("rev_u").cast("decimal(38,0)")
            ).alias("ssq"),
        )
    )
    wide = arms.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("na"),
        F.max(F.when(F.col("variant") == 0, F.col("s"))).alias("sa"),
        F.max(F.when(F.col("variant") == 0, F.col("ssq"))).alias("qa"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("nb"),
        F.max(F.when(F.col("variant") == 1, F.col("s"))).alias("sb"),
        F.max(F.when(F.col("variant") == 1, F.col("ssq"))).alias("qb"),
    )
    return wide.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.expr("CAST(sa div nullif(na, 0) AS BIGINT)").alias("mean_a_u"),
        F.expr("CAST(sb div nullif(nb, 0) AS BIGINT)").alias("mean_b_u"),
        F.expr(
            "CAST(sa div nullif(na, 0) - sb div nullif(nb, 0) AS BIGINT)"
        ).alias("diff_u"),
        F.round(
            F.expr(
                "(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)"
                " - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))"
                " / nullif(sqrt("
                "   ((CAST(qa AS DOUBLE)"
                "     - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)"
                "       / CAST(na AS DOUBLE))"
                "    / nullif(CAST(na AS DOUBLE) - 1.0D, 0.0D))"
                "   / CAST(na AS DOUBLE)"
                "   + ((CAST(qb AS DOUBLE)"
                "       - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)"
                "         / CAST(nb AS DOUBLE))"
                "      / nullif(CAST(nb AS DOUBLE) - 1.0D, 0.0D))"
                "   / CAST(nb AS DOUBLE)), 0.0D)"
            ),
            6,
        ).alias("t_welch"),
    )


# --- round 13: view-to-purchase conversion-lag census ------------------------


@query(
    "agg_conversion_lag_census",
    oracle=f"""
    WITH firsts AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view'
                   THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS fv,
               MIN(CASE WHEN event_type = 'purchase'
                   THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS fp
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
        GROUP BY user_id),
    lags AS (
        SELECT user_id, (fp - fv) // 1000000 AS lag_s
        FROM firsts WHERE fv IS NOT NULL AND fp IS NOT NULL)
    SELECT CASE WHEN lag_s < 0 THEN -1
                ELSE {sql_octave('lag_s')} END AS lag_bits,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(MIN(lag_s) AS BIGINT) AS min_lag_s,
           CAST(MAX(lag_s) AS BIGINT) AS max_lag_s
    FROM lags GROUP BY 1 ORDER BY lag_bits
    """,
)
def agg_conversion_lag_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert census: per user, the lag from FIRST view to
    FIRST purchase, bucketed into power-of-two second octaves — the
    funnel-velocity read product teams size retargeting windows and
    attribution lookbacks with (`agg_funnel_steps` says HOW MANY users
    convert; this says HOW FAST — a mass in octave ≤6 (≈1 min) is
    in-session conversion, octaves ≥17 (> 1 day) need a re-engagement
    channel, and the −1 band is the purchase-before-first-view
    population, usually a tracking bug worth alarming on).

    Octave bounds ride along (min/max per band) exactly like
    ``window_gap_census`` — the census stays constant-size at any
    corpus. Users lacking either event are out of scope (inner
    semantics via non-null filter on both firsts, declared identically
    on both engines).

    Scale shape: ONE map-side-combined conditional-MIN aggregate per
    user (no window, no join — first-touch needs no ordering pass),
    then a ≤ ~40-group octave census. Nothing corpus-sized shuffles
    except the user-keyed partial-agg exchange.
    """
    firsts = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "view", F.unix_micros("ts"))
            ).alias("fv"),
            F.min(
                F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))
            ).alias("fp"),
        )
        .filter(F.col("fv").isNotNull() & F.col("fp").isNotNull())
        .withColumn("lag_s", F.expr("(fp - fv) div 1000000"))
    )
    bits = F.when(F.col("lag_s") < 0, F.lit(-1)).otherwise(octave("lag_s"))
    return (
        firsts.groupBy(bits.alias("lag_bits"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.min("lag_s").cast("long").alias("min_lag_s"),
            F.max("lag_s").cast("long").alias("max_lag_s"),
        )
        .orderBy("lag_bits")
    )


# --- round 14: time-windowed ordered funnel ---------------------------------

# Conversion window: the whole chain must complete within 24 h of the
# user's FIRST view (the anchor — first-touch, the conversion-lag
# census's convention), each step strictly after the previous.
_FUNNEL_WINDOW_US = 24 * 3600 * 1_000_000


@query(
    "agg_funnel_windowed",
    oracle=f"""
    WITH s1 AS (
        SELECT user_id, MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS t1
        FROM events WHERE ts IS NOT NULL AND event_type = 'view'
        GROUP BY user_id),
    s2 AS (
        SELECT e.user_id, MIN(epoch_us(CAST(e.ts AS TIMESTAMP))) AS t2,
               MIN(s1.t1) AS t1
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.ts IS NOT NULL AND e.event_type = 'click'
          AND epoch_us(CAST(e.ts AS TIMESTAMP)) > s1.t1
          AND epoch_us(CAST(e.ts AS TIMESTAMP))
              <= s1.t1 + {_FUNNEL_WINDOW_US}
        GROUP BY e.user_id),
    s3 AS (
        SELECT e.user_id
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.ts IS NOT NULL AND e.event_type = 'purchase'
          AND epoch_us(CAST(e.ts AS TIMESTAMP)) > s2.t2
          AND epoch_us(CAST(e.ts AS TIMESTAMP))
              <= s2.t1 + {_FUNNEL_WINDOW_US}
        GROUP BY e.user_id)
    SELECT 1 AS stage, 'view' AS step,
           CAST(COUNT(*) AS BIGINT) AS n_users FROM s1
    UNION ALL SELECT 2, 'click', CAST(COUNT(*) AS BIGINT) FROM s2
    UNION ALL SELECT 3, 'purchase', CAST(COUNT(*) AS BIGINT) FROM s3
    ORDER BY stage
    """,
)
def agg_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-WINDOWED ordered funnel (the ClickHouse ``windowFunnel``
    shape): view → click → purchase, each step strictly after the
    previous AND the whole chain inside 24 h of the user's FIRST view.
    The unwindowed sibling (``agg_funnel_steps``) answers "did they
    ever convert"; this one answers "did the SESSION convert" — the
    number a growth team actually optimizes, since a purchase a month
    after the view is retention, not funnel.

    Anchor semantics, declared: the window opens at the user's first
    view (first-touch — the same convention as
    ``agg_conversion_lag_census``), not at the best-scoring view; a
    sliding-anchor max-chain variant needs per-event state and is the
    live-streaming territory of ``streaming/ops.py``.

    Scale shape: identical to the funnel's — one filtered map-combined
    aggregate per step plus user-keyed equi joins carrying only
    (user, anchor, step-ts) triples; each stage's relation shrinks.
    Timestamps compare as exact integer micros on both engines.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    t = F.unix_micros("ts")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(t).alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter((t > F.col("t1")) & (t <= F.col("t1") + _FUNNEL_WINDOW_US))
        .groupBy("user_id")
        .agg(F.min(t).alias("t2"), F.min("t1").alias("t1"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter((t > F.col("t2")) & (t <= F.col("t1") + _FUNNEL_WINDOW_US))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("_n"))
    )

    def stage(df: DataFrame, n: int, step: str) -> DataFrame:
        return df.agg(
            F.lit(n).alias("stage"),
            F.lit(step).alias("step"),
            F.count(F.lit(1)).cast("long").alias("n_users"),
        )

    return (
        stage(s1, 1, "view")
        .unionByName(stage(s2, 2, "click"))
        .unionByName(stage(s3, 3, "purchase"))
        .orderBy("stage")
    )


# --- round 14: discrete-time conversion hazard table (with censoring) -------


@query(
    "agg_conversion_hazard",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS t
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
    t0 AS (SELECT user_id, MIN(t) AS t0 FROM ev
           WHERE event_type = 'view' GROUP BY 1),
    conv AS (SELECT e.user_id, MIN(e.t) AS tp
             FROM ev e JOIN t0 ON e.user_id = t0.user_id
             WHERE e.event_type = 'purchase' AND e.t > t0.t0 GROUP BY 1),
    lastseen AS (SELECT e.user_id, MAX(e.t) AS tl
                 FROM ev e JOIN t0 ON e.user_id = t0.user_id GROUP BY 1),
    per AS (
        SELECT t0.user_id,
               CASE WHEN c.tp IS NOT NULL THEN 1 ELSE 0 END AS converted,
               CASE WHEN c.tp IS NOT NULL THEN (c.tp - t0.t0) // 1000000
                    ELSE (l.tl - t0.t0) // 1000000 END AS dur_s
        FROM t0 JOIN lastseen l ON t0.user_id = l.user_id
        LEFT JOIN conv c ON t0.user_id = c.user_id),
    o AS (SELECT converted,
                 {sql_octave('dur_s')} AS oct
          FROM per),
    g AS (SELECT oct, CAST(SUM(converted) AS BIGINT) AS d,
                 CAST(SUM(1 - converted) AS BIGINT) AS c
          FROM o GROUP BY 1),
    cum AS (
        SELECT oct, d, c,
               (SELECT SUM(d + c) FROM g)
                   - COALESCE(SUM(d + c) OVER (
                         ORDER BY oct
                         ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS at_risk
        FROM g)
    SELECT CAST(oct AS INTEGER) AS octave,
           CAST(at_risk AS BIGINT) AS n_at_risk,
           d AS n_converted,
           c AS n_censored,
           CAST(d * 1000000 // at_risk AS BIGINT) AS hazard_ppm
    FROM cum ORDER BY octave
    """,
)
def agg_conversion_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time conversion hazard table WITH censoring — the
    survival-analysis read the raw lag census cannot give: per
    duration octave since a user's first view, how many users were
    still at risk at the interval's start, how many converted in it,
    how many were last seen in it without converting (right-censored),
    and the hazard d/n_at_risk in exact ppm. Unlike
    ``agg_conversion_lag_census`` (converters only), the at-risk
    denominator counts the users who NEVER purchase — dropping them
    overstates late-interval conversion the way every naive funnel
    does; the Kaplan-Meier survival curve is the running product of
    (1 − hazard), left to the caller (a product of many ratios has no
    exact cross-engine form — the census publishes its exact integer
    inputs instead).

    Anchoring and scope, declared: cohort = users with ≥ 1 view;
    clock starts at the FIRST view (first-touch, the lag census's
    convention); conversion = first purchase strictly after it;
    censor time = last event of any type (≥ anchor by construction).
    Octaves are integer bit-lengths of whole seconds.

    Scale shape: three filtered user-keyed aggregates + two equi
    joins carrying one row per cohort user, a ≤ ~40-group octave
    collapse, and the at-risk cumulative sum over those octave rows
    (bounded — the guarded single-task window). Output is ≤ ~40 rows
    at any corpus size.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", "event_type", F.unix_micros("ts").alias("t"))
    )
    t0 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("t").alias("t0"))
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t0, "user_id")
        .filter(F.col("t") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("t").alias("tp"))
    )
    lastseen = ev.join(t0, "user_id").groupBy("user_id").agg(
        F.max("t").alias("tl")
    )
    per = (
        t0.join(lastseen, "user_id")
        .join(conv, "user_id", "left")
        .select(
            F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("converted"),
            F.expr(
                "CASE WHEN tp IS NOT NULL THEN (tp - t0) div 1000000"
                " ELSE (tl - t0) div 1000000 END"
            ).alias("dur_s"),
        )
    )
    oct_col = octave("dur_s")
    g = per.groupBy(oct_col.alias("oct")).agg(
        F.sum("converted").cast("long").alias("d"),
        F.sum(1 - F.col("converted")).cast("long").alias("c"),
    )
    w_prev = (
        Window.orderBy("oct")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy()
    cum = g.select(
        "oct",
        "d",
        "c",
        (
            F.sum(F.col("d") + F.col("c")).over(w_all)
            - F.coalesce(
                guarded_global_window(
                    F.sum(F.col("d") + F.col("c")).over(w_prev),
                    ["oct"],
                    "agg_conversion_hazard",
                ),
                F.lit(0),
            )
        ).alias("at_risk"),
    )
    return cum.select(
        F.col("oct").alias("octave"),
        F.col("at_risk").cast("long").alias("n_at_risk"),
        F.col("d").alias("n_converted"),
        F.col("c").alias("n_censored"),
        F.expr("CAST(d * CAST(1000000 AS BIGINT) div at_risk AS BIGINT)").alias(
            "hazard_ppm"
        ),
    ).orderBy("octave")


# --- round 15: signup-cohort LTV curve ---------------------------------------


@query(
    "agg_cohort_ltv",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
    cohort AS (
        SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
        FROM ev GROUP BY user_id),
    buys AS (
        SELECT e.user_id, c.cohort_week,
               CAST((epoch_us(date_trunc('week', e.ts))
                     - epoch_us(c.cohort_week)) // 604800000000
                    AS INTEGER) AS age_week,
               {sql_units('e.value')} AS vu
        FROM ev e JOIN cohort c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.value IS NOT NULL),
    cells AS (
        SELECT cohort_week, age_week,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_buyers,
               CAST(SUM(vu) AS BIGINT) AS rev_u
        FROM buys GROUP BY cohort_week, age_week)
    SELECT cohort_week, age_week, n_buyers,
           rev_u / 1000000.0 AS revenue,
           CAST(SUM(rev_u) OVER (
               PARTITION BY cohort_week ORDER BY age_week) AS BIGINT)
               / 1000000.0 AS cum_revenue
    FROM cells ORDER BY cohort_week, age_week
    """,
)
def agg_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup-cohort lifetime-value curve: users bucketed by the week
    of their FIRST event (any type — the signup proxy), purchase
    revenue rolled up per (cohort_week, weeks-since-signup) cell, and
    the cumulative LTV running along each cohort's age axis — the
    retention-economics readout every growth team draws as the cohort
    triangle, and the value-side complement to agg_retention_cohort
    (which counts presence, not spend).

    Cross-engine mechanics: week alignment via date_trunc on TIMESTAMP
    (both engines truncate to Monday 00:00; the verify-skill DateType
    gotcha avoided), age = µs difference div the exact week quantum
    (both week-aligned, so the division is exact), revenue in
    micro-units summed exactly and unscaled once — including through
    the cumulative window, which sums the exact integers.

    Scale shape: the cohort relation is one map-combined min-aggregate
    on user_id; the purchase join is user-keyed (broadcast below
    threshold, co-partitioned above); the cell rollup is map-combined
    on its own key; the cumulative window partitions by cohort_week
    over the ALREADY-AGGREGATED cells (≤ weeks² rows) — never over raw
    events.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    cohort = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    buys = (
        ev.filter(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .join(cohort, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.unix_micros(F.date_trunc("week", F.col("ts")))
                - F.unix_micros(F.col("cohort_week"))
            ).alias("diff_us"),
            units("value").alias("vu"),
        )
        # both timestamps are week-aligned, so the division is exact;
        # div mirrors the oracle's integer //
        .withColumn(
            "age_week", F.expr("diff_us div 604800000000").cast("int")
        )
    )
    cells = buys.groupBy("cohort_week", "age_week").agg(
        F.countDistinct("user_id").cast("long").alias("n_buyers"),
        F.sum("vu").cast("long").alias("rev_u"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cohort_week").orderBy("age_week")
    return cells.select(
        "cohort_week",
        "age_week",
        "n_buyers",
        (F.col("rev_u") / F.lit(1000000.0)).alias("revenue"),
        (F.sum("rev_u").over(w).cast("long") / F.lit(1000000.0)).alias(
            "cum_revenue"
        ),
    ).orderBy("cohort_week", "age_week")


# --- round 15 wave 2: RFM octave census ---------------------------------------


@query(
    "agg_rfm_octave_census",
    oracle=f"""
    WITH p AS (
        SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t,
               {sql_units('value')} AS vu
        FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
          AND value IS NOT NULL AND event_type = 'purchase'),
    u AS (SELECT user_id, MAX(t) AS last_t, COUNT(*) AS f,
                 SUM(vu) AS mu
          FROM p GROUP BY user_id),
    mx AS (SELECT MAX(t) AS t_now FROM p),
    bands AS (
        SELECT {sql_octave('(m.t_now - u.last_t) // 3600000000')} AS r_band,
               {sql_octave('u.f')} AS f_band,
               {sql_octave('greatest(u.mu // 1000000, 0)')} AS m_band
        FROM u CROSS JOIN mx m)
    SELECT r_band, f_band, m_band,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM bands GROUP BY 1, 2, 3 ORDER BY r_band, f_band, m_band
    """,
)
def agg_rfm_octave_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) segmentation census in
    octave bands: per purchasing user, hours-since-last-purchase,
    purchase count, and whole-currency spend, each collapsed to its
    integer bit length and counted per (r, f, m) cell — the classic
    CRM segmentation grid, banded instead of NTILE-quartiled because
    exact quartiles need a GLOBAL sort of the user relation (billions
    of rows at scale) while octaves are a narrow map expression with
    identical cross-engine semantics (the degree/size-histogram
    convention). Recency anchors at the corpus's last purchase so the
    census is reproducible from the lake alone.

    Scale shape: one map-combined user aggregate, a single-row
    broadcast for the time anchor, and a ≤ ~|bands|³ census collapse.
    All exact integer arithmetic (µs recency, micro-unit spend).
    """
    p = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
        & (F.col("event_type") == "purchase")
    ).select(
        "user_id",
        F.unix_micros("ts").alias("t"),
        units("value").alias("vu"),
    )
    u = p.groupBy("user_id").agg(
        F.max("t").alias("last_t"),
        F.count(F.lit(1)).alias("f"),
        F.sum("vu").alias("mu"),
    )
    mx = F.broadcast(p.agg(F.max("t").alias("t_now")))

    bands = u.crossJoin(mx).select(
        octave("(t_now - last_t) div 3600000000").alias("r_band"),
        octave("f").alias("f_band"),
        octave("greatest(mu div 1000000, 0)").alias("m_band"),
    )
    return (
        bands.groupBy("r_band", "f_band", "m_band")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy("r_band", "f_band", "m_band")
    )


# --- round 16: revenue-concentration (Pareto) census --------------------------


@query(
    "agg_pareto_share_census",
    oracle=f"""
    WITH r AS (
        SELECT o_custkey,
               {sql_units('o_totalprice')} AS rev_u
        FROM orders WHERE o_totalprice IS NOT NULL),
    u AS (SELECT o_custkey,
                 CAST(SUM(CAST(rev_u AS HUGEINT)) AS HUGEINT) AS crev
          FROM r GROUP BY o_custkey),
    bands AS (
        SELECT {sql_octave('greatest(crev // 1000000, 0)')} AS rev_band,
               crev
        FROM u),
    cells AS (
        SELECT rev_band,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               SUM(crev) AS band_rev
        FROM bands GROUP BY rev_band)
    SELECT rev_band, n_customers,
           CAST(band_rev // 1000000 AS BIGINT) AS band_rev_units,
           CAST(SUM(band_rev) OVER (ORDER BY rev_band DESC) * 1000000
                // (SELECT SUM(band_rev) FROM cells) AS BIGINT)
               AS top_share_ppm
    FROM cells ORDER BY rev_band DESC
    """,
)
def agg_pareto_share_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Pareto/Lorenz) census: customers banded by
    the bit length of their whole-currency lifetime order revenue, each
    band reporting its population, revenue, and the CUMULATIVE share of
    total revenue held by this band and every richer one (top_share_ppm)
    — the "top X% of customers drive Y% of revenue" readout, banded
    instead of NTILE-percentiled because exact percentiles need a GLOBAL
    sort of the customer relation while octaves are a narrow map
    expression (the RFM convention).

    Cross-engine mechanics: revenue micro-quantizes per order and
    accumulates through the DECIMAL(38,0)/HUGEINT convention (a corpus
    revenue sum at 100 TB overflows int64); the share division is exact
    integer ppm on the widened sums.

    Scale shape: one map-combined customer aggregate, a ≤ ~60-cell band
    collapse, and the cumulative window runs over the AGGREGATED cells
    only (guarded — it can never see more rows than bands).
    """
    r = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    ).select(
        "o_custkey",
        units("o_totalprice").alias("rev_u"),
    )
    u = r.groupBy("o_custkey").agg(
        F.sum(F.col("rev_u").cast("decimal(38,0)")).alias("crev")
    )
    band = octave("greatest(crev div 1000000, 0)")
    cells = u.groupBy(band.alias("rev_band")).agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("crev").alias("band_rev"),
    )
    w_top = Window.orderBy(F.col("rev_band").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    cum = cells.select(
        "rev_band",
        "n_customers",
        "band_rev",
        guarded_global_window(
            F.sum("band_rev").over(w_top),
            [F.col("rev_band").desc()],
            "agg_pareto_share_census",
        ).alias("cum_rev"),
        F.sum("band_rev").over(w_all).alias("total_rev"),
    )
    return cum.select(
        "rev_band",
        "n_customers",
        F.expr("CAST(band_rev div 1000000 AS BIGINT)").alias("band_rev_units"),
        F.expr("CAST(cum_rev * 1000000 div total_rev AS BIGINT)").alias(
            "top_share_ppm"
        ),
    ).orderBy(F.col("rev_band").desc())


# --- round 16 wave 2: conversion-lift table ------------------------------------

# Engagement-band cap (bit length of pre-period event count).
_LIFT_BAND_CAP = 16


@query(
    "agg_conversion_lift_bands",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS t
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
    spl AS (SELECT (MIN(t) + MAX(t)) // 2 AS t_split FROM e),
    u AS (
        SELECT e.user_id,
               SUM(CASE WHEN e.t < s.t_split THEN 1 ELSE 0 END) AS pre_n,
               MAX(CASE WHEN e.t >= s.t_split
                        AND e.event_type = 'purchase'
                        THEN 1 ELSE 0 END) AS converted
        FROM e CROSS JOIN spl s GROUP BY e.user_id),
    scoped AS (SELECT * FROM u WHERE pre_n >= 1),
    cells AS (
        SELECT LEAST({sql_octave('pre_n')}, {_LIFT_BAND_CAP}) AS band,
               COUNT(*) AS n_users,
               SUM(converted) AS n_converted
        FROM scoped GROUP BY 1),
    tot AS (SELECT SUM(n_users) AS tu, SUM(n_converted) AS tc FROM cells)
    SELECT c.band,
           CAST(c.n_users AS BIGINT) AS n_users,
           CAST(c.n_converted AS BIGINT) AS n_converted,
           CAST(c.n_converted * 1000000 // c.n_users AS BIGINT)
               AS conv_ppm,
           CAST(CASE WHEN t.tc = 0 OR (t.tc * 1000000 // t.tu) = 0
                     THEN NULL
                     ELSE (c.n_converted * 1000000 // c.n_users)
                          * CAST(1000000 AS HUGEINT)
                          // (t.tc * 1000000 // t.tu)
                END AS BIGINT) AS lift_ppm
    FROM cells c CROSS JOIN tot t ORDER BY band
    """,
)
def agg_conversion_lift_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-lift table: users banded by the bit length of their
    PRE-period activity (events before the corpus's temporal midpoint),
    each band reporting its POST-period purchase-conversion rate and the
    lift vs the corpus average (1e6 = average) — the model-eval /
    campaign-targeting readout ("does engagement predict conversion,
    and how steeply") in the decile-lift family, banded by octaves
    instead of NTILE deciles because exact deciles need a global sort of
    the user relation (the RFM convention). The split anchors at
    (min+max)/2 of the corpus so the table is reproducible from the
    lake alone.

    Cross-engine mechanics: exact integer counts; rates and lift are
    truncating integer ppm divisions, the lift numerator widened through
    the DECIMAL(38,0)/HUGEINT convention; a zero-conversion corpus
    reports NULL lift on both engines, never a division error.

    Scale shape: one map-combined user aggregate against a single-row
    broadcast anchor, a ≤ {_LIFT_BAND_CAP}-cell census collapse, and
    the corpus totals attach to the CELLS (window over aggregated rows
    only, guarded by size).
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    ).select("user_id", "event_type", F.unix_micros("ts").alias("t"))
    spl = F.broadcast(
        e.agg(
            F.expr("CAST((MIN(t) + MAX(t)) div 2 AS BIGINT)").alias("t_split")
        )
    )
    u = (
        e.crossJoin(spl)
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("t") < F.col("t_split"), 1).otherwise(0)).alias(
                "pre_n"
            ),
            F.max(
                F.when(
                    (F.col("t") >= F.col("t_split"))
                    & (F.col("event_type") == "purchase"),
                    1,
                ).otherwise(0)
            ).alias("converted"),
        )
        .filter(F.col("pre_n") >= 1)
    )
    band = F.least(octave("pre_n"), F.lit(_LIFT_BAND_CAP))
    cells = u.groupBy(band.alias("band")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").alias("n_converted"),
    )
    w_all = Window.partitionBy()
    with_tot = cells.select(
        "band",
        "n_users",
        "n_converted",
        F.sum("n_users").over(w_all).alias("tu"),
        F.sum("n_converted").over(w_all).alias("tc"),
    )
    return with_tot.select(
        "band",
        F.col("n_users").cast("long").alias("n_users"),
        F.col("n_converted").cast("long").alias("n_converted"),
        F.expr("CAST(n_converted * 1000000 div n_users AS BIGINT)").alias(
            "conv_ppm"
        ),
        # tc = 0 OR truncated global rate = 0 (overall conversion under
        # 1 ppm) both yield NULL — DuckDB would otherwise raise on the
        # zero divisor where Spark's non-ANSI div nulls (r17 ADVICE fix)
        F.expr(
            "CAST(CASE WHEN tc = 0 OR (tc * 1000000 div tu) = 0 THEN NULL"
            " ELSE CAST(n_converted * 1000000 div n_users AS DECIMAL(38,0))"
            "      * 1000000 div (tc * 1000000 div tu)"
            " END AS BIGINT)"
        ).alias("lift_ppm"),
    ).orderBy("band")
