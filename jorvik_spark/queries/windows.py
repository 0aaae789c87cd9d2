"""Window / sort / set-operation queries (SURVEY.md §2B).

The reference uses no window functions of its own; the closest shapes are
top-k (/root/reference/test/data_lineage/test_write_log.py:32-33 latest-row
select; /root/reference/jorvik/storage/isolation.py:109 history().limit(1))
and unionByName (/root/reference/test/fixtures/pipelines.py:135). This
module fills the §2B gap: ranking, analytic lag/lead, frame-spec running
aggregates, multi-column sorts, and the three set ops, plus the tumbling /
session event-time window shapes (batch equivalents of the streaming ops,
BENCH w1/s1).

Scale notes (100 TB):
  * Every window partitions by a high-cardinality key (``user_id``) — one
    hash shuffle, then per-partition sort; no global sort anywhere.
  * Top-k uses ``orderBy().limit(k)`` → TakeOrderedAndProject: per-partition
    heap + driver merge of k rows, not a full sort.
  * Running sums aggregate in exact decimal (registry convention) so the
    result is identical regardless of plan or engine.
  * Tumbling/session windows are the exact batch twins of the structured-
    streaming operators in jorvik_spark.streaming — same F.window /
    F.session_window expressions, so correctness proved here transfers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jorvik_spark.tables import load_table
from jorvik_spark.queries.registry import (
    dsum,
    guarded_global_window,
    octave,
    query,
    sql_dsum,
    sql_octave,
    sql_units,
    units,
)


def screened_events(
    events: DataFrame,
    key_col: str = "user_id",
    *,
    key: bool = True,
    value: bool = True,
    purchase: bool = True,
    vu_type: str = "long",
) -> DataFrame:
    """(key, event_id, ts_us[, vu]): the rows a per-key time-series
    stage reads. Keeps events with a ts and, per flag, a value, a
    non-null key and ``event_type = 'purchase'``; ``vu`` is the value in
    exact micro-units (:func:`~jorvik_spark.queries.registry.units`),
    cast to ``vu_type``. Registered queries and their live twins in
    ``jorvik_spark.streaming.ops`` screen through this one function."""
    conds = ["ts IS NOT NULL"]
    if value:
        conds.append("value IS NOT NULL")
    if key:
        conds.append(f"`{key_col}` IS NOT NULL")
    if purchase:
        conds.append("event_type = 'purchase'")
    cols = [key_col, "event_id", F.unix_micros("ts").alias("ts_us")]
    if value:
        cols.append(units("value").cast(vu_type).alias("vu"))
    return events.filter(" AND ".join(conds)).select(*cols)


_DEC = "decimal(25,6)"


@query(
    "window_rank_per_user",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY CAST(ts AS TIMESTAMP) DESC,
                                           event_id DESC) AS rn,
               LAG(value) OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS TIMESTAMP) DESC,
                                         event_id DESC) AS prev_value
        FROM events WHERE ts IS NOT NULL)
    SELECT user_id, event_id, ts, value, prev_value, rn
    FROM ranked WHERE rn <= 3
    """,
)
def window_rank_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENCH w1 — lag + row_number per user, top-3 most recent events."""
    ev = load_table(spark, sf_dir, "events").filter("ts IS NOT NULL")
    w = "OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)"
    return ev.selectExpr(
        "user_id",
        "event_id",
        "ts",
        "value",
        f"lag(value) {w} AS prev_value",
        f"row_number() {w} AS rn",
    ).filter("rn <= 3")


@query(
    "window_lag_lead",
    oracle="""
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
           LAG(value)  OVER (PARTITION BY user_id
                             ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_value,
           LEAD(value) OVER (PARTITION BY user_id
                             ORDER BY CAST(ts AS TIMESTAMP), event_id) AS next_value
    FROM events WHERE ts IS NOT NULL AND event_type = 'purchase'
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic lag/lead along each user's purchase timeline."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull()).filter(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
    )


@query(
    "window_running_sum",
    oracle="""
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
           CAST(SUM(CAST(value AS DECIMAL(25,6)))
                OVER (PARTITION BY user_id
                      ORDER BY CAST(ts AS TIMESTAMP), event_id
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value
    FROM events WHERE ts IS NOT NULL AND user_id < 100
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-spec running sum (rowsBetween unboundedPreceding→currentRow).

    Decimal-accumulated so segment-tree vs sequential accumulation order
    cannot drift the double result between engines.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .filter(F.col("user_id") < 100)
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(F.col("value").cast(_DEC)).over(w).cast("double").alias("running_value"),
    )


@query(
    "sort_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 15
    """,
)
def sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by value (reference history().limit(1) / latest-row shape).

    Plans as TakeOrderedAndProject — no full sort, no single-partition
    shuffle of the whole table.
    """
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(15)
    )


@query(
    "sort_multi",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus, l_extendedprice
    FROM lineitem
    ORDER BY l_returnflag, l_linestatus, l_extendedprice DESC,
             l_orderkey, l_linenumber
    LIMIT 100
    """,
)
def sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column mixed-direction sort with deterministic tiebreak."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey", "l_linenumber", "l_returnflag",
            "l_linestatus", "l_extendedprice",
        )
        .orderBy(
            "l_returnflag",
            "l_linestatus",
            F.desc("l_extendedprice"),
            "l_orderkey",
            "l_linenumber",
        )
        .limit(100)
    )


@query(
    "set_union_by_name",
    oracle="""
    SELECT c_custkey AS entity_key, c_name AS entity_name,
           'customer' AS entity_kind
    FROM customer
    UNION ALL
    SELECT s_suppkey AS entity_key, s_name AS entity_name,
           'supplier' AS entity_kind
    FROM supplier
    """,
)
def set_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName across differently-ordered schemas (reference
    test/fixtures/pipelines.py:135)."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_key"),
        F.col("c_name").alias("entity_name"),
        F.lit("customer").alias("entity_kind"),
    )
    # Deliberately different column order — unionByName must align by name.
    s = load_table(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("entity_kind"),
        F.col("s_name").alias("entity_name"),
        F.col("s_suppkey").alias("entity_key"),
    )
    return c.unionByName(s)


@query(
    "set_intersect",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics) — customers with both F and O orders."""
    o = load_table(spark, sf_dir, "orders")
    f_cust = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o_cust = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f_cust.intersect(o_cust)


@query(
    "set_except",
    oracle="""
    SELECT o_custkey FROM orders
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct semantics) — customers who never ordered urgent."""
    o = load_table(spark, sf_dir, "orders")
    all_cust = o.select("o_custkey")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return all_cust.subtract(urgent)


@query(
    "stream_tumbling_agg",
    oracle=f"""
    SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS sum_value
    FROM events WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
)
def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENCH s1 — tumbling 1-hour event-time window aggregation.

    Exact batch twin of the streaming groupBy(F.window(...)) operator in
    jorvik_spark.streaming — identical window expression, so this oracle
    check validates the streaming semantics too.
    """
    ev = load_table(spark, sf_dir, "events").filter("ts IS NOT NULL")
    return (
        ev.groupBy(F.expr("window(ts, '1 hour') AS window"), "event_type")
        .agg(
            F.expr("count(1) AS n_events"),
            dsum("value").alias("sum_value"),
        )
        .selectExpr(
            "window.start AS window_start",
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "stream_session_window",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
               LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
                    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_ts
        FROM events WHERE ts IS NOT NULL AND user_id < 50),
    marked AS (
        SELECT *, CASE WHEN prev_ts IS NULL
                        OR ts - prev_ts >= INTERVAL 30 MINUTE
                       THEN 1 ELSE 0 END AS new_session
        FROM seq),
    sessions AS (
        SELECT *, SUM(new_session) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_id
        FROM marked)
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_last,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min inactivity gap) — batch twin of streaming.

    Spark merges per-event windows ``[ts, ts+gap)`` on overlap, so a gap of
    exactly 30 minutes starts a new session; the oracle's ``>=`` condition
    mirrors that boundary.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .filter(F.col("user_id") < 50)
    )
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_last"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "session_last", "n_events")
    )


@query(
    "stream_stream_join",
    oracle="""
    SELECT b.event_id AS buy_id, c.event_id AS click_id, b.user_id,
           CAST(c.ts AS TIMESTAMP) AS click_ts,
           CAST(b.ts AS TIMESTAMP) AS buy_ts
    FROM events b JOIN events c
      ON b.user_id = c.user_id
     AND CAST(c.ts AS TIMESTAMP)
         >= CAST(b.ts AS TIMESTAMP) - INTERVAL 1 HOUR
     AND CAST(c.ts AS TIMESTAMP) <= CAST(b.ts AS TIMESTAMP)
    WHERE b.event_type = 'purchase' AND c.event_type = 'click'
      AND b.ts IS NOT NULL AND c.ts IS NOT NULL
      AND b.user_id IS NOT NULL
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, batch twin — click→purchase
    attribution: every (click, buy) pair for the same user where the
    click happened within the hour before the buy.

    Runs the SAME ``interval_join`` operator the live streams use
    (jorvik_spark.streaming.ops — watermark-bounded dual-sided state
    when streaming); ``tests/test_streaming.py`` proves the live run
    emits exactly these rows. Null event times and null users are
    excluded on both engines: an event without a time cannot be placed
    in a join window, and stream-stream joins key on the equi column.

    Scale shape: equi-key join shuffled on user_id with the time bound
    applied within key groups — never a cross join (pinned in
    tests/test_plans.py).
    """
    from jorvik_spark.streaming.ops import interval_join

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return interval_join(clicks, buys, key="user_id", lookback="1 hour").select(
        F.col("r.event_id").alias("buy_id"),
        F.col("l.event_id").alias("click_id"),
        F.col("r.user_id").alias("user_id"),
        F.col("l.ts").alias("click_ts"),
        F.col("r.ts").alias("buy_ts"),
    )


@query(
    "stream_sliding_agg",
    oracle=f"""
    WITH doubled AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value,
               unnest([0, 1]) AS k
        FROM events WHERE ts IS NOT NULL),
    win AS (
        SELECT time_bucket(INTERVAL 30 MINUTE, ts)
                   - k * INTERVAL 30 MINUTE AS window_start,
               event_type, value
        FROM doubled)
    SELECT window_start, event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS sum_value
    FROM win GROUP BY 1, 2
    """,
)
def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1 h duration, 30 min slide) — batch twin
    of the streaming ``sliding_agg`` operator (jorvik_spark.streaming.ops).

    Every event lands in exactly duration/slide = 2 windows; Spark plans
    this as one Expand (2 rows per event) + hash agg — the oracle mirrors
    that expansion with unnest([0,1]). Epoch-aligned window starts on both
    engines (Spark startTime=0 default == DuckDB time_bucket).
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "window_moving_avg",
    oracle=f"""
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
           CAST(SUM({sql_units('value')}) OVER w AS DOUBLE)
               / 1000000.0 / COUNT(value) OVER w AS avg_1h
    FROM events WHERE ts IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: trailing 1-hour moving average per user.

    rangeBetween over epoch microseconds (not ROWS): the frame is defined
    by event *time*, so irregular event spacing is handled correctly.
    State per partition is one frame's rows — bounded by event rate × 1h,
    not partition size. Average is fixed-point (registry.py convention)
    for cross-engine hash parity.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    qsum = F.sum(units("value")).over(w)
    cnt = F.count("value").over(w)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        (qsum.cast("double") / 1_000_000.0 / cnt).alias("avg_1h"),
    )


@query(
    "window_ntile",
    oracle="""
    WITH spend AS (
        SELECT o_custkey,
               CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey)
    SELECT o_custkey, cents,
           NTILE(4) OVER (ORDER BY cents, o_custkey) AS quartile
    FROM spend
    """,
)
def window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile bucketing of customers by total spend (NTILE over a
    total order; the o_custkey tie-break makes bucket edges
    deterministic). Spend is summed in integer cents — exact, so the
    ordering and thus the bucketing is identical on both engines. The
    cents quantization is floor(x*100 + 0.5) mirrored in the oracle:
    a bare CAST would diverge (Spark truncates double→long, DuckDB
    rounds).

    The single unpartitioned window is the documented scale trade-off:
    NTILE needs a total order, so this runs on the *aggregated* per-key
    table (|customers|, not |orders|) — window-over-aggregate, never
    window-over-fact.
    """
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))).alias(
            "cents"
        )
    )
    w = Window.orderBy("cents", "o_custkey")
    # guarded: this window is single-task by design over the customer
    # spend AGGREGATE; the row-bound assert makes that contract loud
    # (registry.guarded_global_window — round-11 verdict watch item).
    return spend.select(
        "o_custkey",
        "cents",
        guarded_global_window(
            F.ntile(4).over(w), ["cents", "o_custkey"], "window_ntile"
        ).alias("quartile"),
    )


_SESSION_GAP_US = 1_800_000_000  # 30 minutes of event-time silence


@query(
    "window_sessionize",
    oracle=f"""
    WITH ordered AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                         - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                           OVER (PARTITION BY user_id
                                 ORDER BY CAST(ts AS TIMESTAMP), event_id)
                         > {_SESSION_GAP_US}
                    THEN 1 ELSE 0 END AS new_session
        FROM events WHERE ts IS NOT NULL)
    SELECT event_id, user_id, ts,
           CAST(SUM(new_session) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_seq
    FROM ordered
    """,
)
def window_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: assign each event a per-user session sequence
    number, where a new session starts after 30 minutes of event-time
    silence — the lag-then-running-sum idiom behind funnel and retention
    analytics (the batch complement of ``stream_session_window``, which
    aggregates per session; this one labels the raw events).

    Scale shape: two window passes over the same (user_id, ts) ordering —
    Catalyst evaluates both in a single sort/exchange keyed by user_id, a
    high-cardinality key, so parallelism tracks users, not the corpus.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(order_w))
    new_session = F.when(gap > _SESSION_GAP_US, 1).otherwise(0)
    run_w = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(new_session).over(run_w).cast("long").alias("session_seq"),
    )


@query(
    "window_anomaly_zscore",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
               {sql_units('value')} AS vu
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL
          AND event_type = 'purchase'),
    framed AS (
        SELECT user_id, event_id, ts, vu,
               COUNT(*) OVER w AS n,
               SUM(CAST(vu AS HUGEINT)) OVER w AS s,
               SUM(CAST(vu AS HUGEINT) * vu) OVER w AS q
        FROM ev
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP), event_id
                     ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING))
    SELECT user_id, event_id, ts, vu AS value_units,
           CAST(n AS BIGINT) AS n_prior
    FROM framed
    WHERE n >= 4
      AND (n * vu - s) * (n * vu - s) > 9 * (n * q - s * s)
    ORDER BY user_id, event_id
    """,
)
def window_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flags over each user's purchase values:
    an event is anomalous when it deviates from its own trailing-window
    baseline by more than 3σ — the ops/fraud screen shape, written
    WITHOUT float mean/std. The predicate (and the full derivation,
    window shape, and overflow analysis) lives in ONE place —
    :func:`jorvik_spark.streaming.ops.anomaly_zscore_flags` — shared
    with the live stateful twin ``running_anomaly_zscore`` so the
    batch and streaming formulas cannot drift (round-10 review caught
    exactly such a drift: an extra ·n factor that silently raised the
    batch threshold to 3·√n·σ).
    """
    from jorvik_spark.streaming.ops import anomaly_zscore_flags

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("ts").isNotNull()
            & F.col("value").isNotNull()
            & (F.col("event_type") == "purchase")
        )
        .select("user_id", "event_id", "ts", units("value").alias("vu"))
    )
    return anomaly_zscore_flags(ev, "user_id").orderBy("user_id", "event_id")


@query(
    "window_session_duration_histogram",
    oracle=f"""
    WITH ordered AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                         - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                           OVER (PARTITION BY user_id
                                 ORDER BY CAST(ts AS TIMESTAMP), event_id)
                         > {_SESSION_GAP_US}
                    THEN 1 ELSE 0 END AS new_session
        FROM events WHERE ts IS NOT NULL),
    labeled AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING)
                   AS session_seq
        FROM ordered),
    sessions AS (
        SELECT user_id, session_seq,
               (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000
                   AS duration_s,
               COUNT(*) AS n_events
        FROM labeled GROUP BY user_id, session_seq)
    SELECT {sql_octave('duration_s')}
               AS duration_bits,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(MIN(duration_s) AS BIGINT) AS min_duration_s,
           CAST(MAX(duration_s) AS BIGINT) AS max_duration_s,
           CAST(SUM(n_events) // COUNT(*) AS BIGINT) AS avg_events
    FROM sessions GROUP BY 1 ORDER BY 1
    """,
)
def window_session_duration_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Session-length census over the sessionized event stream: power-
    of-two duration buckets (integer bit-lengths of whole seconds — the
    module's no-libm histogram convention) with per-bucket session
    counts, duration extremes, and mean events per session — the report
    that sizes streaming session-window state and flags bot behavior
    (mass in the top buckets = never-idle clients that watermark-gapped
    sessions would hold open).

    Composes :func:`window_sessionize` as a plain function: the same
    single user-keyed sort/exchange labels events, one map-side-combined
    aggregate collapses them to (user, session) rows — strictly smaller
    than events — and the histogram is a second tiny aggregate over ≤ 64
    buckets. Single-event sessions land in bucket 0 (duration 0).
    """
    labeled = window_sessionize(spark, sf_dir)
    sessions = labeled.groupBy("user_id", "session_seq").agg(
        F.expr(
            "(unix_micros(MAX(ts)) - unix_micros(MIN(ts))) div 1000000"
        )
        .cast("long")
        .alias("duration_s"),
        F.count(F.lit(1)).alias("n_events"),
    )
    bits = octave("duration_s")
    return (
        sessions.select(bits.alias("duration_bits"), "duration_s", "n_events")
        .groupBy("duration_bits")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.min("duration_s").cast("long").alias("min_duration_s"),
            F.max("duration_s").cast("long").alias("max_duration_s"),
            F.expr("CAST(SUM(n_events) div COUNT(1) AS BIGINT)").alias(
                "avg_events"
            ),
        )
        .orderBy("duration_bits")
    )


@query(
    "window_percent_rank_cume",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           CAST(ntile(10) OVER w AS INTEGER) AS decile
    FROM lineitem
    WHERE l_quantity = 1
    WINDOW w AS (PARTITION BY l_returnflag
                 ORDER BY l_extendedprice, l_orderkey, l_linenumber)
    """,
)
def window_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-rank window functions (percent_rank / cume_dist / ntile)
    in one frame — the percentile-position triple a feature pipeline
    derives per entity (price position within its flag class here).

    percent_rank = (rank-1)/(n-1) and cume_dist = peers/n are exact
    integer ratios evaluated as one double division — bit-identical on
    both engines; rounded to 6 anyway per module convention. The ORDER BY
    carries the full (price, orderkey, linenumber) tie-break so ranks are
    total-ordered and ntile boundaries cannot float between engines.

    Scale shape: one shuffle on the partition key; each partition sorts
    once and all three functions share the frame. The l_quantity filter
    is pushed to the scan.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") == 1)
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(10).over(w).alias("decile"),
    )


@query(
    "stream_attribution_coverage",
    oracle="""
    SELECT b.event_id AS buy_id, b.user_id,
           CAST(b.ts AS TIMESTAMP) AS buy_ts,
           c.event_id AS click_id,
           CAST(c.ts AS TIMESTAMP) AS click_ts
    FROM (SELECT * FROM events
          WHERE event_type = 'purchase'
            AND ts IS NOT NULL AND user_id IS NOT NULL) b
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click'
                 AND ts IS NOT NULL AND user_id IS NOT NULL) c
      ON b.user_id = c.user_id
     AND CAST(c.ts AS TIMESTAMP)
         >= CAST(b.ts AS TIMESTAMP) - INTERVAL 1 HOUR
     AND CAST(c.ts AS TIMESTAMP) <= CAST(b.ts AS TIMESTAMP)
    """,
)
def stream_attribution_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join, batch twin — attribution
    coverage: every purchase with each click in the hour before it, and
    purchases with NO such click kept as null-padded rows (the
    unattributed conversions the inner ``stream_stream_join`` drops).

    Runs the SAME ``interval_join_outer`` operator the live streams use
    (jorvik_spark.streaming.ops — watermark-gated null emission when
    streaming). Same scale shape as the inner form: equi-key shuffle on
    user_id, time bound inside key groups, never a cross join.
    """
    from jorvik_spark.streaming.ops import interval_join_outer

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return interval_join_outer(
        buys, clicks, key="user_id", lookback="1 hour"
    ).select(
        F.col("l.event_id").alias("buy_id"),
        F.col("l.user_id").alias("user_id"),
        F.col("l.ts").alias("buy_ts"),
        F.col("r.event_id").alias("click_id"),
        F.col("r.ts").alias("click_ts"),
    )


@query(
    "stream_window_unique_users",
    oracle="""
    SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP))
               AS window_start,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           TRUE AS approx_within_bound
    FROM events
    WHERE ts IS NOT NULL AND user_id IS NOT NULL
    GROUP BY 1
    """,
)
def stream_window_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window distinct users — the "hourly uniques" dashboard
    aggregate. The streaming form runs ``approx_count_distinct`` inside
    event-time windows (HLL partials merge in the state store, bounded
    by the watermark horizon; exact distinct state would hold every key
    per open window — the streaming analogue of the exact-distinct
    shuffle this library's HLL operators avoid at rest). Batch twin uses
    the identical window expression; driver-legible via the established
    sketch pattern: exact count hash-checked, the HLL estimate asserted
    within max(4, 15%) of exact per window — the absolute floor matters
    because HLL's RELATIVE error guarantee is asymptotic: at the tiny
    per-window cardinalities of the test corpus the estimator misses by
    up to 3 on counts below ~20 (measured: 17→14, 11→9), which a pure
    15% band would flag as failure while the sketch is behaving exactly
    as specified.

    Scale shape: ONE map-side-combined aggregate over the scan — each
    partial is (window, sketch-registers + exact-set) at test scale; at
    100 TB the exact column would be dropped and only the fixed-size
    sketch shuffles.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    g = ev.groupBy(F.window("ts", "1 hour")).agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id").alias("approx"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return g.select(
        F.col("window.start").alias("window_start"),
        "exact_users",
        "n_events",
        (
            F.abs(F.col("approx") - F.col("exact_users"))
            <= F.greatest(F.lit(4.0), 0.15 * F.col("exact_users"))
        ).alias("approx_within_bound"),
    )


@query(
    "set_unpivot_melt",
    oracle=f"""
    WITH w AS (
        SELECT l_returnflag,
               {sql_dsum('l_quantity')} AS sum_qty,
               {sql_dsum('l_extendedprice')} AS sum_price,
               CAST(COUNT(*) AS DOUBLE) AS n_rows
        FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM w
    UNION ALL
    SELECT l_returnflag, 'sum_price', sum_price FROM w
    UNION ALL
    SELECT l_returnflag, 'n_rows', n_rows FROM w
    """,
)
def set_unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape via ``DataFrame.unpivot`` (a.k.a. ``melt``,
    Spark 3.4+): a per-flag wide aggregate (3 measure columns) unpivoted
    to (flag, measure, value) rows — the metrics-table shape reporting
    sinks want, produced WITHOUT re-scanning the fact table per measure.

    ``unpivot`` is a pure narrow Expand over the already-aggregated
    rows: |flags| × |measures| output rows from |flags| input rows, zero
    additional shuffle — the anti-pattern it replaces is one
    scan-and-filter per measure UNIONed together (|measures| scans).
    All measures are cast to a common double type (unpivot requires it);
    sums go through :func:`dsum` so the melted values hash identically
    cross-engine.
    """
    wide = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_price"),
            F.count(F.lit(1)).cast("double").alias("n_rows"),
        )
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "n_rows"],
        variableColumnName="measure",
        valueColumnName="value",
    )


@query(
    "window_first_last_nth",
    oracle="""
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
           FIRST_VALUE(event_type) OVER w AS first_type,
           LAST_VALUE(event_type) OVER w AS last_type,
           NTH_VALUE(event_type, 2) OVER w AS second_type,
           FIRST_VALUE(value IGNORE NULLS) OVER w AS first_nonnull_value
    FROM events WHERE ts IS NOT NULL AND user_id < 200
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY CAST(ts AS TIMESTAMP), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value (+ IGNORE NULLS) over each
    user's full event timeline — the "attach the session's entry page /
    exit page / second touch to every row" attribution shape.

    The frame is EXPLICIT full-partition (unbounded preceding →
    unbounded following): the default frame stops at CURRENT ROW, which
    silently turns last_value into "this row's value" — the classic
    window-function bug, pinned here by the oracle. IGNORE NULLS on
    first_value skips events with NULL amounts, i.e. "first touch that
    carried revenue". One exchange + one sort serves all four analytic
    columns (a single shared WINDOW spec, not four)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .filter(F.col("user_id") < 200)
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("last_type"),
        F.nth_value("event_type", 2).over(w).alias("second_type"),
        F.first("value", ignorenulls=True).over(w).alias(
            "first_nonnull_value"
        ),
    )


@query(
    "stream_static_enrich",
    oracle=f"""
    SELECT time_bucket(INTERVAL 1 HOUR, CAST(e.ts AS TIMESTAMP))
               AS window_start,
           c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum('e.value')} AS sum_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id + 1
    WHERE e.ts IS NOT NULL
    GROUP BY 1, 2
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join, executed LIVE: the enrichment shape — a
    micro-batched event stream joined to a static dimension (customer
    segments), then windowed-aggregated per (hour, segment), drained
    through a checkpointed availableNow run and value-hashed against the
    relational oracle. This is the third join mode Structured Streaming
    supports (alongside the stream-stream twin `stream_stream_join` and
    batch joins): the static side needs NO watermark and re-snapshots
    per micro-batch.

    Plan/scale shape: the static dim broadcasts into every micro-batch
    (the same BroadcastHashJoin a batch enrichment gets — no streaming
    state for the join at all); only the windowed aggregate keeps state,
    bounded by the watermark. Sink mode is a deliberate choice, pinned
    here: APPEND emits a window only when a LATER batch advances the
    watermark past it — under availableNow the final windows would stay
    in state and never emit (the classic drain-and-see-nothing trap) —
    so the drain uses COMPLETE mode into a memory sink, correct because
    the full aggregate is sink-sized (|windows|×|segments|). A forever
    pipeline writing to files keeps append + watermark and simply keeps
    running; late-data semantics are exercised live in
    tests/test_streaming.py.
    """
    import tempfile

    base = tempfile.mkdtemp(prefix="jorvik_spark_enrich_")
    cp = f"{base}/cp"
    sink = "enrich_" + base.rsplit("_", 1)[-1]
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    stream = (
        spark.readStream.schema(
            "event_id long, ts long, user_id long,"
            " event_type string, value double, props string"
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        # the parquet STREAM source resolves the TIMESTAMP(NANOS)
        # column against the declared LONG field as µs (truncating),
        # unlike the batch reader's raw-ns long under nanosAsLong — so
        # no further div 1000 here; the value-hash against DuckDB's
        # truncating ns→µs cast is what proves the truncation matches.
        .withColumn("ts", F.timestamp_micros(F.col("ts")))
        .filter(F.col("ts").isNotNull())
        .withWatermark("ts", "1 hour")
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("user_id") + 1)
        .groupBy(F.window("ts", "1 hour"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("c_mktsegment").alias("segment"),
            "n_events",
            "sum_value",
        )
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    # the memory sink's table stays readable after stop(); the unique
    # per-invocation name keeps concurrent drains from clobbering it.
    return spark.table(sink)


@query(
    "window_resample_ffill",
    oracle=f"""
    WITH hourly AS (
        SELECT user_id,
               time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS h,
               {sql_dsum('value')} AS v,
               COUNT(*) AS n
        FROM events WHERE ts IS NOT NULL AND user_id < 40
        GROUP BY 1, 2),
    bounds AS (SELECT user_id, MIN(h) AS mn, MAX(h) AS mx
               FROM hourly GROUP BY 1),
    grid AS (SELECT user_id,
                    unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
             FROM bounds),
    j AS (SELECT g.user_id, g.h, hy.v, hy.n
          FROM grid g LEFT JOIN hourly hy USING (user_id, h))
    SELECT user_id, h AS hour_start,
           CAST(coalesce(n, 0) AS BIGINT) AS n_events,
           last_value(v IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY h
                     ROWS UNBOUNDED PRECEDING) AS filled_value,
           v IS NULL AS gap_filled
    FROM j
    """,
)
def window_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series RESAMPLE to a regular hourly grid + forward-fill —
    the gap-filling shape every feature pipeline needs before lag/rate
    features (an absent hour must become an explicit row, carrying the
    last observed value, or downstream moving windows silently skip
    time). Per user: hourly aggregate → dense hour grid via
    ``sequence(min, max, 1 hour)`` + explode → left join → ``last(v,
    ignorenulls)`` over the ordered running frame fills the gaps, with a
    ``gap_filled`` flag preserving observability.

    Scale: the grid explode is bounded by (time-range ÷ step) rows per
    user — for unbounded histories, resample a window of recent time,
    not all of it (the explode is per-USER-sized, never corpus-sized).
    One shuffle for the hourly aggregate; the grid join and fill reuse
    the same user partitioning. The fill window is a running frame —
    map-side bounded state, no full-partition materialization.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .filter(F.col("user_id") < 40)
    )
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(dsum("value").alias("v"), F.count(F.lit(1)).alias("n"))
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
        .select(
            "user_id",
            F.explode(
                F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    j = grid.join(hourly, ["user_id", "h"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        F.col("h").alias("hour_start"),
        F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
        F.last("v", ignorenulls=True).over(w).alias("filled_value"),
        F.col("v").isNull().alias("gap_filled"),
    )


@query(
    "window_time_weighted_avg",
    oracle=f"""
    WITH e AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
    d AS (
        SELECT user_id,
               CAST({sql_units('value')} AS HUGEINT) AS vu,
               epoch_us(LEAD(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id))
                   - epoch_us(ts) AS dur_us
        FROM e)
    SELECT user_id,
           COUNT(*) AS n_intervals,
           round((SUM(vu * dur_us)::DOUBLE / SUM(dur_us)::DOUBLE)
                 / 1000000.0, 6) AS twa_value,
           CAST(SUM(dur_us) AS BIGINT) AS total_dur_us
    FROM d WHERE dur_us IS NOT NULL AND dur_us > 0
    GROUP BY user_id ORDER BY user_id
    """,
)
def window_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of an irregularly-sampled value per user —
    the metrics/telemetry aggregate where a plain AVG is wrong because
    samples hold until the NEXT observation (a value standing for an
    hour must weigh 60× one standing for a minute).

    Each event's value is weighted by the integer microseconds until the
    user's next event (lead over the (ts, event_id)-ordered timeline;
    the last sample has no holding interval and drops out — the standard
    left-closed convention). All arithmetic is exact until the final
    division: value in quantized micro-units (DECIMAL(38,0) vs HUGEINT —
    a value·duration product is ~1e16 per hour-long interval, past int64
    at ~900 such intervals per key) times integer epoch-microsecond
    durations, so the rounded quotient cannot drift between engines.

    Scale: one window pass keyed on user_id (high cardinality, the same
    exchange the grouped agg reuses — AQE coalesces them), then a
    map-side-combined aggregation. No corpus-sized state; NULL
    timestamps and NULL values are screened before the lead so a NULL
    can neither anchor nor terminate a holding interval.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    dur = F.lead(us).over(w) - us
    vu = units("value").cast("decimal(38,0)")
    return (
        e.select("user_id", vu.alias("vu"), dur.alias("dur_us"))
        # dur > 0, not just non-null: a zero-length interval carries zero
        # weight anyway, and a user whose events ALL share one timestamp
        # would otherwise hit 0/0 — ANSI Spark aborts the query where
        # DuckDB returns NULL. Excluding them keeps TWA defined exactly
        # where a holding interval exists, identically on both engines.
        .filter(F.col("dur_us") > 0)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum(F.col("vu") * F.col("dur_us")).alias("_svd"),
            F.sum("dur_us").alias("_sd"),
        )
        .select(
            "user_id",
            "n_intervals",
            F.round(
                (F.col("_svd").cast("double") / F.col("_sd").cast("double"))
                / 1_000_000.0,
                6,
            ).alias("twa_value"),
            F.col("_sd").cast("long").alias("total_dur_us"),
        )
        .orderBy("user_id")
    )


# Sweep-line interval length for the concurrency census: each event
# holds a slot for _CONC_HOLD_MIN minutes — interpolated into BOTH
# engines' expressions so retuning it cannot desynchronize the oracle.
# Hour buckets partition the sweep.
_CONC_HOLD_MIN = 5
_CONC_HOLD = f"INTERVAL {_CONC_HOLD_MIN} MINUTES"
_CONC_BUCKET_US = 3_600_000_000  # 1 hour


@query(
    "window_peak_concurrency",
    oracle=f"""
    WITH e AS (
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts
        FROM events WHERE ts IS NOT NULL),
    b AS (
        SELECT event_id, epoch_us(ts) AS t, 1 AS delta FROM e
        UNION ALL
        SELECT event_id,
               epoch_us(ts + INTERVAL {_CONC_HOLD_MIN} MINUTE), -1 FROM e),
    bb AS (SELECT *, t // {_CONC_BUCKET_US} AS bucket FROM b),
    run AS (
        SELECT bucket, delta, t,
               SUM(delta) OVER (PARTITION BY bucket
                                ORDER BY t, delta, event_id
                                ROWS UNBOUNDED PRECEDING) AS r
        FROM bb),
    mx AS (
        SELECT bucket, MAX(r) AS max_r, COUNT(*) AS n_boundaries,
               SUM(delta) AS net, MIN(t) AS min_t
        FROM run GROUP BY bucket),
    based AS (
        SELECT bucket, max_r, n_boundaries, min_t,
               COALESCE(SUM(net) OVER (ORDER BY bucket
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0) AS base
        FROM mx)
    SELECT make_timestamp(bucket * {_CONC_BUCKET_US}) AS bucket_start,
           -- the carry-in plateau [bucket_start, first boundary) is a
           -- peak candidate only when it is non-empty: a boundary AT
           -- the bucket start makes it zero-width (half-open holds)
           CAST(CASE WHEN min_t > bucket * {_CONC_BUCKET_US}
                     THEN greatest(base, base + max_r)
                     ELSE base + max_r END AS BIGINT)
               AS peak_concurrency,
           CAST(n_boundaries AS BIGINT) AS n_boundaries
    FROM based ORDER BY bucket
    """,
)
def window_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent intervals per hour — the sweep-line concurrency
    census (capacity planning: "how many 5-minute event holds were live
    at once?"), expressed as a TWO-LEVEL prefix sum instead of the
    classic single global ordered sweep.

    A textbook sweep sorts every +1/-1 boundary into ONE ordered
    sequence and takes the running sum's max — a single-reducer sort at
    100 TB. Here the sweep is partitioned by hour bucket: each bucket's
    running sum starts from a carry-in base (the net of ALL prior
    buckets — a |buckets|-row second-level prefix sum, the same shape
    pack_sequences uses for chunk offsets), and the bucket peak is
    ``greatest(base, base + max(running))`` — the plateau BEFORE the
    bucket's first boundary can itself be the peak when a busy hour
    drains into a quiet one, which a max over boundary rows alone would
    miss (pinned by the oracle). The carry-in plateau only counts when
    it is non-empty: a boundary landing exactly ON the bucket start
    makes it zero-width, so the base is then not a candidate (r17 fix,
    found by the property law test; half-open semantics preserved).

    Tie semantics are declared, not incidental: boundaries order by
    (t, delta, event_id), so at the same instant an ending interval
    frees its slot BEFORE a starting one takes it (half-open [start,
    end) intervals — back-to-back holds never double-count), and the
    event_id tiebreak makes the running sum's intermediate values
    engine-identical, not just the max.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    start = ev.select(
        "event_id",
        F.unix_micros("ts").alias("t"),
        F.lit(1).alias("delta"),
    )
    end = ev.select(
        "event_id",
        F.unix_micros(F.expr(f"ts + {_CONC_HOLD}")).alias("t"),
        F.lit(-1).alias("delta"),
    )
    bb = start.union(end).withColumn(
        "bucket", F.expr(f"t div {_CONC_BUCKET_US}")
    )
    w_in = Window.partitionBy("bucket").orderBy(
        "t", "delta", "event_id"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per_bucket = (
        bb.withColumn("r", F.sum("delta").over(w_in))
        .groupBy("bucket")
        .agg(
            F.max("r").alias("max_r"),
            F.count(F.lit(1)).alias("n_boundaries"),
            F.sum("delta").alias("net"),
            F.min("t").alias("min_t"),
        )
    )
    # second level: |buckets| rows (hours with activity) — driver-scale,
    # so the single-partition prefix window is the cheap part by design.
    w_buckets = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return (
        per_bucket.withColumn(
            "base",
            # guarded single-task prefix sum over the |buckets| relation
            guarded_global_window(
                F.coalesce(F.sum("net").over(w_buckets), F.lit(0)),
                ["bucket"],
                "window_peak_concurrency.buckets",
            ),
        )
        .select(
            F.timestamp_micros(
                F.col("bucket") * _CONC_BUCKET_US
            ).alias("bucket_start"),
            # the carry-in plateau [bucket_start, first boundary) is a
            # peak candidate only when non-empty: a boundary exactly AT
            # the bucket start makes it zero-width (half-open holds)
            F.when(
                F.col("min_t") > F.col("bucket") * _CONC_BUCKET_US,
                F.greatest(F.col("base"), F.col("base") + F.col("max_r")),
            )
            .otherwise(F.col("base") + F.col("max_r"))
            .cast("long").alias("peak_concurrency"),
            F.col("n_boundaries").cast("long").alias("n_boundaries"),
        )
        .orderBy("bucket_start")
    )


@query(
    "window_anomaly_mad",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
               {sql_units('value')} AS vu
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL
          AND event_type = 'purchase'),
    framed AS (
        SELECT user_id, event_id, ts, vu,
               list_sort(list(vu) OVER w) AS t
        FROM ev
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP), event_id
                     ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING)),
    stats AS (
        SELECT user_id, event_id, ts, vu, len(t) AS n,
               t[(len(t) + 1) // 2] + t[(len(t) + 2) // 2] AS med2, t
        FROM framed WHERE len(t) >= 4),
    devs AS (
        SELECT user_id, event_id, ts, vu, n, med2,
               list_sort(list_transform(t, x -> abs(2 * x - med2))) AS d
        FROM stats)
    SELECT user_id, event_id, ts, vu AS value_units,
           CAST(n AS BIGINT) AS n_prior,
           CAST(med2 AS BIGINT) AS med2,
           CAST(d[(n + 1) // 2] + d[(n + 2) // 2] AS BIGINT) AS mad4
    FROM devs
    WHERE 10000 * (2 * abs(2 * vu - med2))
          > 44478 * (d[(n + 1) // 2] + d[(n + 2) // 2])
    ORDER BY user_id, event_id
    """,
)
def window_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling MEDIAN/MAD anomaly flags — the robust twin of
    ``window_anomaly_zscore``: an event flags when it deviates from its
    trailing-window MEDIAN by more than 3·1.4826·MAD (the Hampel / MAD
    rule; 1.4826·MAD is the consistent σ estimator for a normal
    baseline — Leys et al. 2013, public literature). Where the z-score
    screen lets one earlier outlier inflate σ and MASK the next spike,
    the median/MAD baseline is immune to ≤50% prior contamination.

    Exactness: values are micro-unit longs; twice-the-median
    ``med2 = t[(n+1) div 2] + t[(n+2) div 2]`` of the sorted trailing
    array is an exact integer for odd AND even n, four-times-MAD
    ``mad4`` likewise off the sorted absolute deviations (already
    doubled), and the flag predicate ``10000·4·|x−med| > 44478·4·MAD``
    is exact integer arithmetic (44478/10000 = 3·1.4826) — no float
    median, no libm, hash-identical on both engines. A constant
    baseline (MAD = 0) flags ANY deviation, the standard Hampel
    degeneracy, deterministic here.

    Scale shape: ONE user-keyed sort exchange (the same single window
    pass the z-score query uses); the trailing array is ≤ 8 longs per
    row, so the sort/median work per row is O(8 log 8) in codegen'd
    array expressions — no self-join, no UDF, no per-key state beyond
    the frame Spark already buffers.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("ts").isNotNull()
            & F.col("value").isNotNull()
            & (F.col("event_type") == "purchase")
        )
        .select(
            "user_id",
            "event_id",
            "ts",
            units("value").alias("vu"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-8, -1)
    )
    return (
        ev.withColumn("t", F.array_sort(F.collect_list("vu").over(w)))
        .withColumn("n", F.size("t"))
        .filter(F.col("n") >= 4)
        .withColumn(
            "med2",
            F.expr(
                "element_at(t, CAST((n + 1) div 2 AS INT))"
                " + element_at(t, CAST((n + 2) div 2 AS INT))"
            ),
        )
        .withColumn(
            "d", F.expr("array_sort(transform(t, x -> abs(2 * x - med2)))")
        )
        .withColumn(
            "mad4",
            F.expr(
                "element_at(d, CAST((n + 1) div 2 AS INT))"
                " + element_at(d, CAST((n + 2) div 2 AS INT))"
            ),
        )
        .filter(F.expr("10000 * (2 * abs(2 * vu - med2)) > 44478 * mad4"))
        .select(
            "user_id",
            "event_id",
            "ts",
            F.col("vu").alias("value_units"),
            F.col("n").cast("long").alias("n_prior"),
            F.col("med2").cast("long").alias("med2"),
            F.col("mad4").cast("long").alias("mad4"),
        )
        .orderBy("user_id", "event_id")
    )


# Interval-union parameters: each event occupies [ts, ts + dur) where
# dur is the event's own value in seconds, clamped to [1 s, 600 s] —
# variable-length intervals are what distinguish a true interval union
# (cumulative-max end) from gap sessionization over points.
_IU_MIN_US = 1_000_000
_IU_MAX_US = 600_000_000


@query(
    "window_intervals_merge",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               epoch_us(CAST(ts AS TIMESTAMP))
                 + least(greatest(CAST(floor(coalesce(value, 0) * 1000000)
                                       AS BIGINT),
                                  {_IU_MIN_US}), {_IU_MAX_US}) AS end_us
        FROM events WHERE ts IS NOT NULL),
    flagged AS (
        SELECT user_id, ts_us, end_us,
               CASE WHEN max(end_us) OVER
                        (PARTITION BY user_id ORDER BY ts_us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        >= ts_us
                    THEN 0 ELSE 1 END AS new_island,
               event_id
        FROM ev),
    labeled AS (
        SELECT user_id, ts_us, end_us,
               SUM(new_island) OVER
                   (PARTITION BY user_id ORDER BY ts_us, event_id
                    ROWS UNBOUNDED PRECEDING) AS island
        FROM flagged),
    islands AS (
        SELECT user_id, island,
               MAX(end_us) - MIN(ts_us) AS covered_us,
               COUNT(*) AS n_events
        FROM labeled GROUP BY user_id, island)
    SELECT user_id,
           CAST(SUM(n_events) AS BIGINT) AS n_intervals,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(covered_us) // 1000000 AS BIGINT) AS covered_s,
           CAST(MAX(n_events) AS BIGINT) AS max_island_events
    FROM islands GROUP BY user_id ORDER BY user_id
    """,
)
def window_intervals_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval union per user (gaps-and-islands over VARIABLE-length
    intervals): each event occupies [ts, ts + value-seconds) clamped to
    [1 s, 600 s]; overlapping/touching intervals merge into islands and
    the report is each user's island count, total covered wall-clock,
    and densest island — the occupancy/coverage census behind billing
    (billable connected time), capacity planning, and bot screens
    (covered_s ≈ calendar span = a never-idle client).

    This is NOT gap sessionization over points (``window_sessionize``):
    with variable durations a long interval can swallow several later
    starts, so island boundaries need the CUMULATIVE MAX of interval
    ends over all preceding rows — the classic gaps-and-islands
    formulation — not a lag-to-previous-point comparison.

    Scale shape: one user-keyed sort exchange shared by both window
    passes (cum-max and island prefix-sum run over the same ordering),
    then two map-side-combinable aggregates, each output strictly
    smaller (events → islands → users). Integer µs arithmetic
    end-to-end; no floats, no UDFs.
    """
    ev = interval_events(load_table(spark, sf_dir, "events"))
    return interval_islands(ev).orderBy("user_id")


def interval_events(events: DataFrame, key_col: str = "user_id") -> DataFrame:
    """(key, event_id, ts_us, end_us): each event with a ts as the
    interval [ts, ts + value seconds], the length clamped to
    [_IU_MIN_US, _IU_MAX_US] µs (a null value takes the floor)."""
    dur = F.expr(
        f"least(greatest(CAST(floor(coalesce(value, 0) * 1000000) AS"
        f" BIGINT), {_IU_MIN_US}L), {_IU_MAX_US}L)"
    )
    return events.filter(F.col("ts").isNotNull()).select(
        key_col,
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        (F.unix_micros("ts") + dur).alias("end_us"),
    )


def interval_islands(ev: DataFrame, key_col: str = "user_id") -> DataFrame:
    """The per-key stage of :func:`window_intervals_merge` over
    :func:`interval_events` rows: (key, n_intervals, n_islands,
    covered_s, max_island_events). Also the batch branch of
    ``running_intervals_union``."""
    order = [F.col("ts_us"), F.col("event_id")]
    w_prev = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    labeled = (
        ev.withColumn(
            "new_island",
            F.when(
                F.max("end_us").over(w_prev) >= F.col("ts_us"), F.lit(0)
            ).otherwise(F.lit(1)),
        )
        .withColumn("island", F.sum("new_island").over(w_cum))
    )
    islands = labeled.groupBy(key_col, "island").agg(
        (F.max("end_us") - F.min("ts_us")).alias("covered_us"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return islands.groupBy(key_col).agg(
        F.sum("n_events").cast("long").alias("n_intervals"),
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.expr("CAST(SUM(covered_us) div 1000000 AS BIGINT)").alias(
            "covered_s"
        ),
        F.max("n_events").cast("long").alias("max_island_events"),
    )


# OHLC bar width: hourly bars over the purchase value stream.
_OHLC_BUCKET_US = 3_600_000_000


@query(
    "window_ohlc_bars",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               {sql_units('value')} AS vu
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL
          AND event_type = 'purchase'),
    pos AS (
        SELECT user_id, ts_us // {_OHLC_BUCKET_US} AS bucket, vu,
               ROW_NUMBER() OVER w AS rn,
               COUNT(*) OVER (PARTITION BY user_id,
                              ts_us // {_OHLC_BUCKET_US}) AS cnt
        FROM ev
        WINDOW w AS (PARTITION BY user_id, ts_us // {_OHLC_BUCKET_US}
                     ORDER BY ts_us, event_id))
    SELECT user_id,
           make_timestamp(bucket * {_OHLC_BUCKET_US}) AS bar_start,
           CAST(MAX(CASE WHEN rn = 1 THEN vu END) AS BIGINT) AS open_u,
           CAST(MAX(vu) AS BIGINT) AS high_u,
           CAST(MIN(vu) AS BIGINT) AS low_u,
           CAST(MAX(CASE WHEN rn = cnt THEN vu END) AS BIGINT) AS close_u,
           CAST(COUNT(*) AS BIGINT) AS n_trades
    FROM pos GROUP BY user_id, bucket ORDER BY user_id, bar_start
    """,
)
def window_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC (open/high/low/close) bars per user over the purchase
    value stream — the time-series downsampling shape behind candlestick
    feeds, metric rollups, and feature windows ("first/last/extremes per
    entity per bucket"). Values are exact micro-unit longs; open/close
    come from the deterministic (ts, event_id) order, ties impossible.

    Scale shape: ONE sort exchange on (user, hour-bucket) serves both
    the row-number (open/close positions) and the bucket count; the bar
    itself is a map-side-combinable aggregate whose output is strictly
    |users| × |active hours| — the downsample. No first()/last() agg
    (order-nondeterministic under merge) and no libm: positions, not
    offsets-into-floats, pick the boundary values.
    """
    ev = screened_events(load_table(spark, sf_dir, "events"), key=False)
    return (
        ohlc_bars(ev)
        .select(
            "user_id",
            F.timestamp_micros(
                F.col("bucket") * _OHLC_BUCKET_US
            ).alias("bar_start"),
            "open_u",
            "high_u",
            "low_u",
            "close_u",
            "n_trades",
        )
        .orderBy("user_id", "bar_start")
    )


def ohlc_bars(ev: DataFrame, key_col: str = "user_id") -> DataFrame:
    """The per-key stage of :func:`window_ohlc_bars` over
    :func:`screened_events` rows: (key, bucket, open_u, high_u, low_u,
    close_u, n_trades), one row per key and _OHLC_BUCKET_US bucket.
    Also the batch branch of ``running_ohlc_bars``."""
    w = Window.partitionBy(key_col, "bucket").orderBy("ts_us", "event_id")
    w_cnt = Window.partitionBy(key_col, "bucket")
    pos = ev.withColumn(
        "bucket", F.expr(f"ts_us div {_OHLC_BUCKET_US}")
    ).select(
        key_col,
        "bucket",
        "vu",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(w_cnt).alias("cnt"),
    )
    return pos.groupBy(key_col, "bucket").agg(
        F.max(F.when(F.col("rn") == 1, F.col("vu")))
        .cast("long")
        .alias("open_u"),
        F.max("vu").cast("long").alias("high_u"),
        F.min("vu").cast("long").alias("low_u"),
        F.max(F.when(F.col("rn") == F.col("cnt"), F.col("vu")))
        .cast("long")
        .alias("close_u"),
        F.count(F.lit(1)).cast("long").alias("n_trades"),
    )


# CUSUM decision threshold, in micro-units: flag once the one-sided
# cumulative deviation from the user's own mean exceeds h. Sized like
# the module's other detector constants: bites on the synthetic corpus
# at every SF without flagging every row.
_CUSUM_H_U = 50_000_000


@query(
    "window_cusum_changepoints",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
               {sql_units('value')} AS vu
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL
          AND event_type = 'purchase'),
    mu AS (
        SELECT user_id,
               SUM(vu) // COUNT(*) AS mu_u, COUNT(*) AS n
        FROM ev GROUP BY user_id HAVING COUNT(*) >= 8),
    t AS (
        SELECT e.user_id, e.event_id, e.ts,
               SUM(e.vu - m.mu_u) OVER w AS tail_i,
               ROW_NUMBER() OVER w AS i
        FROM ev e JOIN mu m USING (user_id)
        WINDOW w AS (PARTITION BY e.user_id
                     ORDER BY CAST(e.ts AS TIMESTAMP), e.event_id
                     ROWS UNBOUNDED PRECEDING)),
    s AS (
        SELECT user_id, event_id, ts, i,
               tail_i - least(coalesce(min(tail_i) OVER
                   (PARTITION BY user_id ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0), 0) AS cusum
        FROM t)
    SELECT user_id, CAST(MIN(i) AS BIGINT) AS first_exceed_pos,
           CAST(MIN_BY(event_id, i) AS BIGINT) AS first_exceed_event,
           CAST(MAX(cusum) AS BIGINT) AS max_cusum
    FROM s
    WHERE cusum > {_CUSUM_H_U}
    GROUP BY user_id ORDER BY user_id
    """,
)
def window_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change-point detection per user (Page 1954,
    public literature): the cumulative upward deviation of purchase
    values from the user's own mean, flagged at the first position the
    statistic crosses h — the level-shift detector that catches a
    GRADUAL drift the per-event z-score/MAD screens never see (each
    event individually unremarkable, the run of them decisive).

    The recursion S_i = max(0, S_{i-1} + (x_i − μ)) is not a window
    expression, but its closed form is: with the prefix transform
    t_i = Σ_{j≤i}(x_j − μ), S_i = t_i − min(0, min_{j<i} t_j) — a
    running sum and a running minimum over ONE shared user-keyed
    ordering, both exact integers. The report row per user is the
    first crossing position/event and the peak statistic.

    Scale shape: one map-combined per-user mean (exact floor-division
    integer), one sort exchange shared by both window passes, one
    final aggregate. μ is per-user — no broadcast of anything bigger
    than the group-mean relation, which joins back user-keyed on the
    same shuffle.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("ts").isNotNull()
            & F.col("value").isNotNull()
            & (F.col("event_type") == "purchase")
        )
        .select(
            "user_id",
            "event_id",
            "ts",
            units("value").alias("vu"),
        )
    )
    mu = (
        ev.groupBy("user_id")
        .agg(
            F.expr("SUM(vu) div COUNT(1)").alias("mu_u"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter(F.col("n") >= 8)
        .select("user_id", "mu_u")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = ev.join(mu, "user_id").select(
        "user_id",
        "event_id",
        "ts",
        F.sum(F.col("vu") - F.col("mu_u")).over(w).alias("tail_i"),
        F.row_number().over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ).alias("i"),
    )
    s = t.select(
        "user_id",
        "event_id",
        "ts",
        "i",
        (
            F.col("tail_i")
            - F.least(
                F.coalesce(F.min("tail_i").over(w_prev), F.lit(0)),
                F.lit(0),
            )
        ).alias("cusum"),
    )
    return (
        s.filter(F.col("cusum") > _CUSUM_H_U)
        .groupBy("user_id")
        .agg(
            F.min("i").cast("long").alias("first_exceed_pos"),
            F.expr("CAST(MIN_BY(event_id, i) AS BIGINT)").alias(
                "first_exceed_event"
            ),
            F.max("cusum").cast("long").alias("max_cusum"),
        )
        .orderBy("user_id")
    )


# Sliding rate window for the peak-rate audit (60 s, event-time).
_RATE_WIN_US = 60_000_000


@query(
    "window_peak_event_rate",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        FROM events WHERE ts IS NOT NULL),
    rated AS (
        SELECT user_id, event_id, ts_us,
               COUNT(*) OVER (PARTITION BY user_id ORDER BY ts_us
                              RANGE BETWEEN {_RATE_WIN_US} PRECEDING
                                        AND CURRENT ROW) AS rate
        FROM ev),
    peaked AS (
        SELECT user_id, ts_us, rate,
               MAX(rate) OVER (PARTITION BY user_id) AS max_rate
        FROM rated)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(rate) AS BIGINT) AS peak_rate_per_min,
           CAST(MIN(CASE WHEN rate = max_rate THEN ts_us END) AS BIGINT)
               AS peak_at_us
    FROM peaked GROUP BY user_id ORDER BY user_id
    """,
)
def window_peak_event_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak sliding-window event rate per user: the maximum number of
    events inside ANY trailing 60 s window, and when it happened — the
    rate-limit/bot audit ("did this client ever burst past N/min?")
    that a fixed tumbling bucket systematically underestimates when the
    burst straddles a boundary.

    The trailing count is an event-time RANGE frame over the integer
    microsecond key — exact, tie-inclusive (events at the same ts count
    each other), and identical on both engines; the peak timestamp is
    the EARLIEST instant the peak rate was observed (min_by over the
    rate==max rows), a deterministic total order.

    Scale shape: one user-keyed sort exchange for the RANGE window,
    then a map-combinable per-user aggregate — output |users| rows. A
    hot user costs one task's sort, the same exposure every detector in
    this module shares (salt or pre-filter known bots upstream).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", "event_id", F.unix_micros("ts").alias("ts_us"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-_RATE_WIN_US, 0)
    )
    w_user = Window.partitionBy("user_id")
    rated = ev.withColumn("rate", F.count(F.lit(1)).over(w)).withColumn(
        "max_rate", F.max("rate").over(w_user)
    )
    return (
        rated.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max("rate").cast("long").alias("peak_rate_per_min"),
            F.min(
                F.when(F.col("rate") == F.col("max_rate"), F.col("ts_us"))
            )
            .cast("long")
            .alias("peak_at_us"),
        )
        .orderBy("user_id")
    )



# --- round 12: resample with linear interpolation ------------------------


@query(
    "window_resample_interpolate",
    oracle=f"""
    WITH hourly AS (
        SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
               SUM({sql_units('value')}) AS vu,
               COUNT(*) AS n
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL AND user_id < 40
        GROUP BY 1, 2),
    spans AS (SELECT user_id, MIN(h) AS mn, MAX(h) AS mx
              FROM hourly GROUP BY user_id),
    grid AS (
        SELECT s.user_id, unnest(generate_series(s.mn, s.mx,
                                 INTERVAL 1 HOUR)) AS h
        FROM spans s),
    j AS (
        SELECT g.user_id, g.h,
               epoch_us(g.h) // 3600000000 AS hu, hy.vu, hy.n
        FROM grid g LEFT JOIN hourly hy
          ON hy.user_id = g.user_id AND hy.h = g.h),
    nbrs AS (
        SELECT user_id, h, hu, vu, n,
               LAST_VALUE(vu IGNORE NULLS) OVER w_prev AS pv,
               LAST_VALUE(CASE WHEN vu IS NOT NULL THEN hu END
                          IGNORE NULLS) OVER w_prev AS ph,
               FIRST_VALUE(vu IGNORE NULLS) OVER w_next AS nv,
               FIRST_VALUE(CASE WHEN vu IS NOT NULL THEN hu END
                           IGNORE NULLS) OVER w_next AS nh
        FROM j
        WINDOW w_prev AS (PARTITION BY user_id ORDER BY hu
                          ROWS UNBOUNDED PRECEDING),
               w_next AS (PARTITION BY user_id ORDER BY hu
                          ROWS BETWEEN CURRENT ROW
                                   AND UNBOUNDED FOLLOWING))
    SELECT user_id, h AS hour_start,
           CAST(coalesce(n, 0) AS BIGINT) AS n_events,
           CAST(CASE WHEN vu IS NOT NULL THEN vu
                     ELSE pv + ((nv - pv) * (hu - ph)) // (nh - ph)
                END AS BIGINT) AS interp_vu,
           (vu IS NOT NULL) AS observed
    FROM nbrs ORDER BY user_id, hour_start
    """,
)
def window_resample_interpolate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hourly resample with LINEAR INTERPOLATION across gaps — the
    sibling of ``window_resample_ffill`` for quantities where carrying
    the last observation lies (rates, gauges, sensor readings): an
    absent hour gets the value lerped between its nearest observed
    neighbors, exact integer micro-units with a single integral
    division per gap row (both engines truncate identically, and the
    grid spans min..max observed hours so every gap has both
    neighbors).

    Scale shape: identical to the ffill query — one user-keyed hourly
    aggregate, a per-user-bounded grid explode, and ONE sort exchange
    serving both neighbor windows (the running last and the following
    first share the (user, hour) ordering; frames differ, Spark folds
    them into two frame passes of the same WindowExec group).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .filter(F.col("user_id") < 40)
    )
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.sum(units("value")).alias("vu"),
        F.count(F.lit(1)).alias("n"),
    )
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
        .select(
            "user_id",
            F.explode(
                F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    # lerp coordinates are integer HOUR indices, not microseconds: the
    # numerator (value-delta x position-delta) must stay within int64
    # (micro-values ~1e10 x microsecond gaps ~1e11 would overflow).
    j = grid.join(hourly, ["user_id", "h"], "left").withColumn(
        "hu", F.expr("unix_micros(h) div 3600000000")
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("hu")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("hu")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_hu = F.when(F.col("vu").isNotNull(), F.col("hu"))
    nbrs = j.select(
        "user_id",
        "h",
        "hu",
        "vu",
        "n",
        F.last("vu", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(obs_hu, ignorenulls=True).over(w_prev).alias("ph"),
        F.first("vu", ignorenulls=True).over(w_next).alias("nv"),
        F.first(obs_hu, ignorenulls=True).over(w_next).alias("nh"),
    )
    return nbrs.select(
        "user_id",
        F.col("h").alias("hour_start"),
        F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
        F.when(F.col("vu").isNotNull(), F.col("vu"))
        .otherwise(
            F.expr("pv + ((nv - pv) * (hu - ph)) div (nh - ph)")
        )
        .cast("long")
        .alias("interp_vu"),
        F.col("vu").isNotNull().alias("observed"),
    ).orderBy("user_id", "hour_start")


# --- round 12 wave 2: flatline (stuck-value) run detector -----------------

_FLATLINE_MIN_RUN = 3


def _value_runs(
    spark: SparkSession,
    sf_dir: str,
    stream_cols: list,
    vu_expr=None,
):
    """:func:`value_runs` over every event stream (``stream_cols``) of
    the corpus, for the run-length census and the quantized screen.
    Null ts/value/stream-identity rows are out of scope on BOTH engines
    by declared semantics, as in the flatline screen.

    ``vu_expr``: the run-equality value (default: exact micro-unit
    value). The quantized flatline screen passes a coarser band here —
    run semantics, scope and exchange shape are unchanged.
    """
    base = (
        F.col("ts").isNotNull()
        & F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    if vu_expr is None:
        vu_expr = units("value")
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(base)
        .select(
            *stream_cols,
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            vu_expr.alias("vu"),
        )
    )
    return value_runs(ev, stream_cols)


def value_runs(ev: DataFrame, stream_cols: list) -> DataFrame:
    """(stream_cols, vu, grp, run_len): the runs of consecutive equal
    ``vu`` per stream of (stream_cols, event_id, ts_us, vu) rows, in
    (ts_us, event_id) order — position in the stream minus position in
    the value group is constant exactly along a run. The one
    gaps-and-islands core of the flatline screen, its live twin, the
    run-length census and the quantized screen, so they cannot drift on
    tie-break or run semantics. Both row_numbers ride ONE stream-keyed
    sort exchange (the (stream, vu) ranking is a sub-ordering of the
    stream one) and the run collapse groups on a SUPERSET of the
    partition keys, so it reuses that exchange map-side (plan-pinned,
    tests/test_plans.py)."""
    wi = Window.partitionBy(*stream_cols).orderBy("ts_us", "event_id")
    wj = Window.partitionBy(*stream_cols, "vu").orderBy("ts_us", "event_id")
    return (
        ev.withColumn(
            "grp", F.row_number().over(wi) - F.row_number().over(wj)
        )
        .groupBy(*stream_cols, "vu", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )


def flatline_runs(ev: DataFrame, key_col: str = "user_id") -> DataFrame:
    """The per-key stage of :func:`window_flatline_runs` over
    :func:`screened_events` rows: (key, n_flatline_runs, longest_run,
    n_flatlined_events) for keys with a run of ≥ _FLATLINE_MIN_RUN
    equal values. Also the batch branch of ``running_flatline_runs``."""
    runs = value_runs(ev, [key_col]).filter(
        F.col("run_len") >= _FLATLINE_MIN_RUN
    )
    return runs.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_flatline_runs"),
        F.max("run_len").cast("long").alias("longest_run"),
        F.sum("run_len").cast("long").alias("n_flatlined_events"),
    )


@query(
    "window_flatline_runs",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS t,
               {sql_units('value')} AS vu
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL
          AND user_id IS NOT NULL
          AND event_type = 'purchase'),
    pos AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY t, event_id) AS i,
               ROW_NUMBER() OVER (PARTITION BY user_id, vu
                                  ORDER BY t, event_id) AS j
        FROM ev),
    runs AS (
        SELECT user_id, vu, i - j AS grp, COUNT(*) AS run_len
        FROM pos GROUP BY user_id, vu, i - j),
    flat AS (SELECT * FROM runs WHERE run_len >= {_FLATLINE_MIN_RUN})
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_flatline_runs,
           CAST(MAX(run_len) AS BIGINT) AS longest_run,
           CAST(SUM(run_len) AS BIGINT) AS n_flatlined_events
    FROM flat GROUP BY user_id ORDER BY user_id
    """,
)
def window_flatline_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flatline detector: runs of ≥ {_FLATLINE_MIN_RUN} CONSECUTIVE
    IDENTICAL purchase values per user — the stuck-sensor / replayed-
    client / cached-response signal the z-score, MAD and CUSUM screens
    are structurally blind to (a frozen value has zero deviation — it
    looks maximally HEALTHY to a deviation test). Classic gaps-and-
    islands on value equality: position-in-stream minus
    position-in-value-group is constant exactly along a run.

    Scale shape: see :func:`value_runs` (the shared core — one
    stream-keyed exchange, map-side run collapse); only offending
    users survive the run-length filter. Null users are out of scope
    on both engines, matching the census's declared semantics.
    """
    ev = screened_events(load_table(spark, sf_dir, "events"))
    return flatline_runs(ev).orderBy("user_id")


@query(
    "window_value_run_census",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_type, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS t,
               {sql_units('value')} AS vu
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL
          AND user_id IS NOT NULL AND event_type IS NOT NULL),
    pos AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY t, event_id) AS i,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type, vu
                                  ORDER BY t, event_id) AS j
        FROM ev),
    runs AS (
        SELECT user_id, event_type, vu, i - j AS grp,
               COUNT(*) AS run_len
        FROM pos GROUP BY user_id, event_type, vu, i - j)
    SELECT CAST(run_len AS BIGINT) AS run_len,
           CAST(COUNT(*) AS BIGINT) AS n_runs,
           CAST(COUNT(DISTINCT (user_id, event_type)) AS BIGINT)
               AS n_streams,
           CAST(SUM(run_len) AS BIGINT) AS n_events
    FROM runs GROUP BY run_len ORDER BY run_len
    """,
)
def window_value_run_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-repetition census: the full run-length distribution of
    consecutive identical ``value`` readings per (user, event_type)
    stream — the calibration companion to :func:`window_flatline_runs`.
    The offender screen above answers "who is stuck" (honest empty set
    on a healthy corpus: this synthesizer's continuous values never
    repeat 3× in a row at natural SF — see tests/test_round12_ops.py);
    THIS census answers "what does healthy look like": on clean data
    the mass sits at run_len=1, and any tail at ≥2 quantifies sensor
    stickiness / client replay before it crosses the alarm threshold.
    Non-vacuous at every SF, which also gives the shared
    gaps-and-islands core a value-rich driver hash row.

    Scale shape: see :func:`value_runs` (the shared core — one
    stream-keyed exchange, map-side run collapse); the census output
    is bounded by the longest run (a handful of rows at any corpus
    size). Null stream identity is out of scope on both engines (also
    keeps Spark countDistinct's any-null-tuple skip vs DuckDB's
    row-value distinct from ever diverging).
    """
    runs = _value_runs(spark, sf_dir, ["user_id", "event_type"])
    return (
        runs.groupBy("run_len")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_runs"),
            F.countDistinct("user_id", "event_type")
            .cast("long")
            .alias("n_streams"),
            F.sum("run_len").cast("long").alias("n_events"),
        )
        .select(
            F.col("run_len").cast("long").alias("run_len"),
            "n_runs",
            "n_streams",
            "n_events",
        )
        .orderBy("run_len")
    )


# --- round 12 wave 3: inter-event gap census -------------------------------


@query(
    "window_gap_census",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS t
        FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL),
    gaps AS (
        SELECT user_id,
               (t - lag(t) OVER (PARTITION BY user_id
                                 ORDER BY t, event_id))
               // 1000000 AS gap_s
        FROM ev),
    g AS (SELECT * FROM gaps WHERE gap_s IS NOT NULL)
    SELECT {sql_octave('gap_s')} AS gap_bits,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
    FROM g GROUP BY gap_bits ORDER BY gap_bits
    """,
)
def window_gap_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap census: the octave (bit-length) distribution of
    event-time spacing within each user's stream — the calibration
    evidence behind every inactivity threshold in the engine. The
    sessionizer family hard-codes a 30-minute gap
    (:data:`_SESSION_GAP_US`); THIS census shows where that cut lands
    in the real spacing distribution (1,800 s falls inside octave 11,
    1,024–2,047 s — a valley there means the threshold is stable, mass
    there means sessions are threshold-sensitive). Complements
    ``audit_event_lateness`` (arrival order vs stream spacing) and
    ``window_session_duration_histogram`` (the OUTPUT of the cut vs
    its input). Null ts / null user rows are out of scope on both
    engines; the first event of a stream has no gap.

    Scale shape: one user-keyed sort exchange feeds the lag; the
    octave collapse is a map-combined aggregate over ≤ ~40 octave
    groups, so the census output is constant-size at any corpus. The
    ``div``/``//`` pair truncates identically on both engines
    (non-negative gaps by construction — the lag is ordered on t).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", "event_id", F.unix_micros("ts").alias("t"))
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    gaps = (
        ev.withColumn("prev", F.lag("t").over(w))
        .filter(F.col("prev").isNotNull())
        .withColumn("gap_s", F.expr("(t - prev) div 1000000"))
    )
    bits = octave("gap_s")
    return (
        gaps.groupBy(bits.alias("gap_bits"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.max("gap_s").cast("long").alias("max_gap_s"),
        )
        .orderBy("gap_bits")
    )


# --- round 13: smoothing / robust-stat / drawdown / quantized-run ops ------

# EWMA smoothing factor alpha = 1/4 and restart horizon: the fold runs
# over a bounded 16-event frame (15 preceding + current) and re-inits at
# the frame head, so state per row is O(16) whatever the stream length.
_EWMA_ALPHA = 0.25
_EWMA_FRAME = 15  # preceding rows in the fold frame

# Rolling-median frame: 8 preceding + current = 9 values.
_ROLLMED_FRAME = 8

# Quantized flatline: band width in value units. floor(value / 10) has
# natural >=3-run offenders at EVERY SF of this corpus (measured 11 /
# 93 / 961 runs at sf0.001/0.01/0.1), so — unlike the exact-value
# screen, honestly empty at natural SF — this variant's driver hash row
# always carries values through the >=MIN_RUN filter path (round-12
# verdict item #7).
_QUANT_BAND = 10


@query(
    "window_ewma_smooth",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS t,
               CAST({sql_units('value')}
                    AS DOUBLE) AS vu
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL
          AND user_id IS NOT NULL AND event_type = 'purchase'),
    framed AS (
        SELECT user_id, event_id, t,
               list(vu) OVER (PARTITION BY user_id ORDER BY t, event_id
                              ROWS BETWEEN {_EWMA_FRAME} PRECEDING
                              AND CURRENT ROW) AS lst
        FROM ev)
    SELECT user_id, event_id, CAST(t AS BIGINT) AS t,
           CAST(len(lst) AS INTEGER) AS n_in_frame,
           CAST(floor(list_reduce(lst,
                    (acc, x) -> acc * {1 - _EWMA_ALPHA} +
                                x * {_EWMA_ALPHA}) + 0.5)
                AS BIGINT) AS ewma_u
    FROM framed ORDER BY user_id, t, event_id
    """,
)
def window_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of each user's purchase
    values — the smoothing pass ops dashboards and anomaly baselines run
    before thresholding (the uniform ``window_moving_avg`` weights all
    history equally; EWMA discounts it geometrically, reacting ~3x
    faster to level shifts at the same frame length).

    Engineering for CROSS-ENGINE exactness (the repo's fixed-point
    discipline, applied to a recursive statistic): the recursion
    y = (1-a)*y + a*x re-initializes at the head of a bounded 16-event
    frame and folds LEFT over the frame list in (t, event_id) order on
    BOTH engines (Spark ``F.aggregate`` over the window's
    ``collect_list``, DuckDB ``list_reduce`` over the window ``list``)
    — the identical sequence of double operations, so the micro-unit
    rounding at the end can never straddle an ulp. Values enter as
    exactly-representable micro-unit integers.

    Scale shape: ONE user-keyed sort exchange; the fold is map-side over
    a bounded 16-element array per row (state O(frame), never O(stream));
    output is row-per-event, pipelined — no second shuffle.
    """
    # no final orderBy: the output is row-per-event (corpus-sized) and
    # the driver compare is order-insensitive — a presentation sort here
    # would be a full extra range exchange at 100 TB for nothing
    return ewma_smooth(
        screened_events(load_table(spark, sf_dir, "events"), vu_type="double")
    )


def ewma_smooth(ev: DataFrame, key_col: str = "user_id") -> DataFrame:
    """The per-event stage of :func:`window_ewma_smooth` over
    :func:`screened_events` rows (``vu`` a double): (key, event_id, t,
    n_in_frame, ewma_u). Also the batch branch of ``running_ewma``."""
    w = (
        Window.partitionBy(key_col)
        .orderBy("ts_us", "event_id")
        .rowsBetween(-_EWMA_FRAME, Window.currentRow)
    )
    framed = ev.withColumn("lst", F.collect_list("vu").over(w))
    ewma = F.aggregate(
        F.slice(F.col("lst"), 2, F.size("lst") - 1),
        F.element_at("lst", 1),
        lambda acc, x: acc * F.lit(1 - _EWMA_ALPHA)
        + x * F.lit(_EWMA_ALPHA),
    )
    return framed.select(
        key_col,
        "event_id",
        F.col("ts_us").cast("long").alias("t"),
        F.size("lst").cast("int").alias("n_in_frame"),
        F.floor(ewma + F.lit(0.5)).cast("long").alias("ewma_u"),
    )


@query(
    "window_rolling_median",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS t,
               {sql_units('value')} AS vu
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL
          AND user_id IS NOT NULL AND event_type = 'purchase'),
    framed AS (
        SELECT user_id, event_id, t,
               list_sort(list(vu) OVER (
                   PARTITION BY user_id ORDER BY t, event_id
                   ROWS BETWEEN {_ROLLMED_FRAME} PRECEDING
                   AND CURRENT ROW)) AS s
        FROM ev)
    SELECT user_id, event_id, CAST(t AS BIGINT) AS t,
           CAST(len(s) AS INTEGER) AS n_in_frame,
           CAST(s[(len(s) - 1) // 2 + 1] + s[len(s) // 2 + 1]
                AS BIGINT) AS med2_u
    FROM framed ORDER BY user_id, t, event_id
    """,
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling MEDIAN of each user's last 9 purchase values — the
    robust sibling of ``window_moving_avg``: one fat-finger order in the
    frame moves the mean by outlier/9 but leaves the median untouched,
    which is why rate-limiting and pricing sanity checks smooth on
    medians. Spark has no built-in sliding percentile, so the frame
    collapses to a bounded sorted array map-side (collect over the
    window frame, ``array_sort``, pick the middle) — the documented
    composition strategy for operators Catalyst lacks.

    ``med2_u`` is TWICE the median in micro-units (lower + upper middle
    element): for even frames the true median is their mean, whose .5
    would leave integer space — doubling keeps the statistic exact on
    both engines with zero float traffic (halve downstream if needed).

    Scale shape: ONE user-keyed sort exchange (same exchange family as
    every per-user window here); the sort-9 is O(1) per row map-side;
    row-per-event output, pipelined.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("ts").isNotNull()
            & F.col("value").isNotNull()
            & F.col("user_id").isNotNull()
            & (F.col("event_type") == "purchase")
        )
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("t"),
            units("value").alias("vu"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(-_ROLLMED_FRAME, Window.currentRow)
    )
    framed = ev.withColumn(
        "s", F.array_sort(F.collect_list("vu").over(w))
    )
    n = F.size("s")
    med2 = F.element_at("s", ((n - 1) / 2).cast("int") + 1) + F.element_at(
        "s", (n / 2).cast("int") + 1
    )
    # no final orderBy — same rationale as window_ewma_smooth
    return framed.select(
        "user_id",
        "event_id",
        F.col("t").cast("long").alias("t"),
        n.cast("int").alias("n_in_frame"),
        med2.cast("long").alias("med2_u"),
    )


@query(
    "window_max_drawdown",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS t,
               {sql_units('value')} AS vu
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL
          AND user_id IS NOT NULL AND event_type = 'purchase'),
    run AS (
        SELECT user_id, vu,
               MAX(vu) OVER (PARTITION BY user_id ORDER BY t, event_id
                             ROWS UNBOUNDED PRECEDING) AS peak
        FROM ev)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(peak) AS BIGINT) AS peak_u,
           CAST(MAX(peak - vu) AS BIGINT) AS max_drawdown_u
    FROM run GROUP BY user_id ORDER BY user_id
    """,
)
def window_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each user's purchase-value series: the
    largest drop from a running peak — the standard "how far below the
    best level did this stream sink" statistic (portfolio risk, KPI
    health, battery/SLA decay). CUSUM asks "did the LEVEL shift";
    drawdown asks "how deep was the worst excursion", and a stream can
    fail one screen while passing the other.

    Scale shape: ONE user-keyed sort exchange feeds the running max; the
    per-user collapse groups on the window's own partition key, so it
    reuses that exchange map-side (zero extra shuffle — the
    ``value_runs`` plan property, plan-pinned). Exact micro-unit
    integers end to end.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("ts").isNotNull()
            & F.col("value").isNotNull()
            & F.col("user_id").isNotNull()
            & (F.col("event_type") == "purchase")
        )
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("t"),
            units("value").alias("vu"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = ev.withColumn("peak", F.max("vu").over(w))
    return (
        run.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max("peak").cast("long").alias("peak_u"),
            F.max(F.col("peak") - F.col("vu"))
            .cast("long")
            .alias("max_drawdown_u"),
        )
        .orderBy("user_id")
    )


@query(
    "window_flatline_quantized",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_type, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS t,
               CAST(floor(value / {_QUANT_BAND}) AS BIGINT) AS vq
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL
          AND user_id IS NOT NULL AND event_type IS NOT NULL),
    pos AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY t, event_id) AS i,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type, vq
                                  ORDER BY t, event_id) AS j
        FROM ev),
    runs AS (
        SELECT user_id, event_type, vq, i - j AS grp,
               COUNT(*) AS run_len
        FROM pos GROUP BY user_id, event_type, vq, i - j),
    flat AS (SELECT * FROM runs WHERE run_len >= {_FLATLINE_MIN_RUN})
    SELECT user_id, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_band_runs,
           CAST(MAX(run_len) AS BIGINT) AS longest_run,
           CAST(SUM(run_len) AS BIGINT) AS n_banded_events
    FROM flat GROUP BY user_id, event_type
    ORDER BY user_id, event_type
    """,
)
def window_flatline_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-quantized flatline screen: runs of >= {_FLATLINE_MIN_RUN}
    consecutive readings inside the SAME {_QUANT_BAND}-unit value band
    per (user, event_type) stream — the coarse companion to
    :func:`window_flatline_runs`. The exact-value screen catches
    replayed/cached responses (bit-identical values); THIS screen
    catches clipped sensors, quantized gateways and range-pinned
    clients, whose values wiggle inside one band without ever exactly
    repeating — invisible to exact equality. It is also the variant
    with guaranteed non-empty evidence: band runs >= 3 exist at every
    SF of this corpus (measured 11/93/961 at sf0.001/0.01/0.1), so the
    driver hash row always exercises the full run-collapse + threshold
    path that the exact screen's honest-empty row cannot (round-12
    verdict item #7).

    Scale shape: identical to the shared :func:`value_runs` core —
    ONE stream-keyed sort exchange, map-side run collapse (the quantizer
    only changes the equality column); only offending streams survive.
    """
    runs = _value_runs(
        spark,
        sf_dir,
        ["user_id", "event_type"],
        vu_expr=F.floor(F.col("value") / _QUANT_BAND).cast("long"),
    ).filter(F.col("run_len") >= _FLATLINE_MIN_RUN)
    return (
        runs.groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_band_runs"),
            F.max("run_len").cast("long").alias("longest_run"),
            F.sum("run_len").cast("long").alias("n_banded_events"),
        )
        .orderBy("user_id", "event_type")
    )


# --- round 13: lag-1 autocorrelation census ----------------------------------


@query(
    "window_autocorr_census",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS t,
               {sql_units('value')} AS vu
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND value IS NOT NULL AND event_type = 'purchase'),
    pairs AS (
        SELECT user_id,
               lag(vu) OVER (PARTITION BY user_id ORDER BY t, event_id) AS x,
               vu AS y
        FROM ev),
    mom AS (
        SELECT user_id,
               COUNT(*) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS sxy,
               SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx,
               SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS syy,
               CAST(MIN(x) <> MAX(x) AS INTEGER) AS dcx,
               CAST(MIN(y) <> MAX(y) AS INTEGER) AS dcy
        FROM pairs WHERE x IS NOT NULL GROUP BY user_id),
    r AS (
        SELECT user_id, n,
               CASE WHEN n >= 3 AND dcx = 1 AND dcy = 1 THEN
                   (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / sqrt(
                       (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                       * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
               END AS r1
        FROM mom)
    SELECT CAST(CASE WHEN r1 IS NULL THEN NULL
                     ELSE least(greatest(CAST(floor(r1 * 10.0) AS INTEGER),
                                         -10), 9) END AS INTEGER) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(n) AS BIGINT) AS n_pairs
    FROM r GROUP BY 1 ORDER BY band NULLS FIRST
    """,
)
def window_autocorr_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation census over each user's purchase-value
    series: per user, the Pearson correlation between consecutive
    values in (ts, event_id) order, bucketed into 0.1-wide bands and
    counted — the whole-population answer to "are purchase amounts
    momentum-driven or mean-reverting?" that a forecasting/anomaly team
    reads before picking a model family (bands near +1 → AR models pay
    off; a mass at band 0 → values are i.i.d. and yesterday predicts
    nothing; heavy negative bands → alternating/corrective behavior).

    Cross-engine mechanics: consecutive pairs come from the SAME
    lag-over-keyed-window on both engines; the five moments are exact
    integers on exact micro-unit values (Σx/Σy BIGINT; the three
    product sums DECIMAL(38,0) — a squared micro-value is ~2.4e17 and a
    user's sum overflows int64 at natural data, the ttest precedent);
    r itself is ONE fixed dag of IEEE double ops on those exact
    integers, so its band floor can never straddle an ulp between
    engines. Degenerate series are DECLARED, not crashed: n < 3 pairs
    or a zero-variance side (detected exactly via MIN≠MAX on the
    integer series — equivalent to COUNT(DISTINCT)>1 but planning as a
    plain aggregate instead of an Expand) yields band NULL — the census's own
    "not enough signal" row.

    Scale shape: ONE user-keyed sort exchange feeds the lag; the moment
    rollup groups on the SAME key (AQE reuses the partitioning — no
    second corpus-wide shuffle); the band census is a 21-group
    map-combined aggregate over per-user rows. Output ≤ 22 rows at any
    corpus size; per-task state is one window frame row.
    """
    mom = lag1_moments(screened_events(load_table(spark, sf_dir, "events")))
    r1 = F.col("r1")
    band = F.when(
        r1.isNotNull(),
        F.least(
            F.greatest(F.floor(r1 * 10.0).cast("int"), F.lit(-10)), F.lit(9)
        ),
    ).cast("int")
    return (
        mom.select(band.alias("band"), "n")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("n").cast("long").alias("n_pairs"),
        )
        .orderBy(F.col("band").asc_nulls_first())
    )


def lag1_moments(ev: DataFrame, key_col: str = "user_id") -> DataFrame:
    """The per-key stage of :func:`window_autocorr_census` over
    :func:`screened_events` rows: the exact moments of each key's
    consecutive (x, y) pairs — n, sx, sy, sxy, sxx, syy, dcx, dcy — and
    ``r1``, their Pearson correlation as a double (NULL below 3 pairs or
    with a zero-variance side). Also the batch branch of
    ``running_autocorr``."""
    w = Window.partitionBy(key_col).orderBy("ts_us", "event_id")
    pairs = ev.select(
        key_col,
        F.lag("vu").over(w).alias("x"),
        F.col("vu").alias("y"),
    ).filter(F.col("x").isNotNull())
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    mom = pairs.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
        # zero-variance guard as min!=max, NOT COUNT(DISTINCT): a
        # multi-distinct agg plans through Expand (x3 row multiply) and
        # re-shuffles the corpus on (user, x, y, gid) AFTER the window
        # exchange — min/max keep the rollup a plain agg that reuses
        # the window's user_id partitioning (plan-pinned in tests)
        (F.min("x") != F.max("x")).cast("int").alias("dcx"),
        (F.min("y") != F.max("y")).cast("int").alias("dcy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    return mom.withColumn(
        "r1",
        F.when(
            (F.col("n") >= 3) & (F.col("dcx") == 1) & (F.col("dcy") == 1),
            (nd * F.col("sxy").cast("double") - sxd * syd)
            / F.sqrt(
                (nd * F.col("sxx").cast("double") - sxd * sxd)
                * (nd * F.col("syy").cast("double") - syd * syd)
            ),
        ),
    )


# --- round 13: diurnal (hour-of-day) load profile ----------------------------


@query(
    "window_diurnal_profile",
    oracle=f"""
    WITH ev AS (
        SELECT event_type,
               CAST((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24
                    AS INTEGER) AS hod,
               value
        FROM events
        WHERE ts IS NOT NULL AND event_type IS NOT NULL),
    cells AS (
        SELECT event_type, hod,
               COUNT(*) AS n_events,
               {sql_dsum('value')} AS sum_value
        FROM ev GROUP BY 1, 2),
    tot AS (
        SELECT event_type, SUM(n_events) AS n_type FROM cells GROUP BY 1)
    SELECT c.event_type,
           c.hod,
           CAST(c.n_events AS BIGINT) AS n_events,
           CAST(c.n_events * 1000000 // t.n_type AS BIGINT) AS share_ppm,
           c.sum_value
    FROM cells c JOIN tot t USING (event_type)
    ORDER BY event_type, hod
    """,
)
def window_diurnal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day load profile per event type: event counts, the
    within-type traffic share (ppm), and the value mass landing in each
    of the 24 diurnal buckets — the census capacity planning and
    batch-window placement read first (run the compaction job in the
    emptiest three hours; alert when a type's 3 a.m. share stops being
    flat), and the seasonality baseline the anomaly detectors normalize
    against.

    The hour is pure integer arithmetic on the epoch-microsecond value
    (``(t div 3600e6) mod 24``) — NOT a calendar ``hour()`` extraction,
    so no session-timezone setting on either engine can shift a bucket
    boundary; the repo's epoch_us/unix_micros equivalence carries the
    whole contract.

    Scale shape: ONE map-side-combined aggregate over the stream
    (|types| x 24 groups); the per-type totals reduce the already-tiny
    cell relation and attach back by broadcast. Output is |types| x 24
    rows at any corpus size — nothing corpus-sized ever shuffles except
    the partial-agg exchange.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .select(
            "event_type",
            # integer `div`, NOT `/`+cast: the float quotient of a large
            # epoch value can land an ulp under the true integer and
            # truncate into the previous hour, diverging from the
            # oracle's exact `//`
            F.expr(
                "CAST((unix_micros(ts) div CAST(3600000000 AS BIGINT)) % 24"
                " AS INT)"
            ).alias("hod"),
            "value",
        )
    )
    cells = ev.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("sum_value"),
    )
    tot = cells.groupBy("event_type").agg(
        F.sum("n_events").alias("n_type")
    )
    return (
        cells.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "hod",
            F.col("n_events").cast("long").alias("n_events"),
            F.expr(
                "CAST(n_events * CAST(1000000 AS BIGINT) div n_type AS BIGINT)"
            ).alias("share_ppm"),
            "sum_value",
        )
        .orderBy("event_type", "hod")
    )


# --- round 13: diurnal-seasonal residual census -------------------------------


@query(
    "window_seasonal_residual_census",
    oracle=f"""
    WITH ev AS (
        SELECT event_type,
               CAST((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24
                    AS INTEGER) AS hod,
               {sql_units('value')} AS vu
        FROM events
        WHERE ts IS NOT NULL AND event_type IS NOT NULL
          AND value IS NOT NULL),
    cells AS (
        SELECT event_type, hod,
               COUNT(*) AS n,
               CAST(SUM(vu) AS BIGINT) AS s,
               SUM(CAST(vu AS DECIMAL(19,0)) * CAST(vu AS DECIMAL(19,0)))
                   AS q,
               CAST(MIN(vu) <> MAX(vu) AS INTEGER) AS dc
        FROM ev GROUP BY 1, 2),
    z AS (
        SELECT e.event_type,
               CASE WHEN c.n >= 2 AND c.dc = 1 THEN
                   (CAST(e.vu AS DOUBLE) - CAST(c.s AS DOUBLE)
                        / CAST(c.n AS DOUBLE))
                   / sqrt((CAST(c.q AS DOUBLE)
                           - CAST(c.s AS DOUBLE) * CAST(c.s AS DOUBLE)
                             / CAST(c.n AS DOUBLE))
                          / (CAST(c.n AS DOUBLE) - 1.0))
               END AS zv
        FROM ev e JOIN cells c
          ON e.event_type = c.event_type AND e.hod = c.hod)
    SELECT event_type,
           CAST(CASE WHEN zv IS NULL THEN NULL
                ELSE least(greatest(CAST(floor(zv) AS INTEGER), -10), 9)
                END AS INTEGER) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM z GROUP BY 1, 2 ORDER BY event_type, band NULLS FIRST
    """,
)
def window_seasonal_residual_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonally-adjusted anomaly census: each event's value is
    standardized against ITS OWN (event_type, hour-of-day) cell — the
    diurnal baseline ``window_diurnal_profile`` reports — and the
    z-scores are banded and counted per type. This is the detector the
    plain ``window_anomaly_zscore`` family can't be: a value that is
    normal at the daily peak is an anomaly at 4 a.m., and vice versa —
    deseasonalizing first is how an ops screen avoids paging on every
    lunch-hour surge. The NULL band counts events in degenerate cells
    (< 2 events or zero variance — declared, not crashed).

    Cross-engine mechanics: cell moments are exact integers on exact
    micro-unit values (Σx BIGINT, Σx² DECIMAL(38,0) — the ttest/
    autocorr precedent); zero variance is detected by MIN≠MAX on the exact
    integers (≡ COUNT(DISTINCT)>1, without the Expand plan); z is one
    fixed dag of IEEE double ops on those
    exact integers, so the band floor is bit-deterministic on both
    engines (sample sd, n−1).

    Scale shape: TWO map-side-combined passes over the stream — one
    builds the ≤ |types|×24-row cell-moment relation, one standardizes
    with that relation broadcast back (never a corpus-sized shuffle);
    the census is a ≤ |types|×22-group aggregate. The two passes are
    inherent (the baseline must exist before residuals can), exactly
    the shape a 100 TB deployment wants: cells are kilobytes at any
    corpus size.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
            & F.col("value").isNotNull()
        )
        .select(
            "event_type",
            F.expr(
                "CAST((unix_micros(ts) div CAST(3600000000 AS BIGINT)) % 24"
                " AS INT)"
            ).alias("hod"),
            units("value").alias("vu"),
        )
    )
    vd = F.col("vu").cast("decimal(19,0)")
    cells = ev.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vu").cast("long").alias("s"),
        F.sum(vd * vd).alias("q"),
        # min!=max, not COUNT(DISTINCT): same Expand-avoidance as the
        # autocorr census — keeps the cell build ONE map-combined pass
        (F.min("vu") != F.max("vu")).cast("int").alias("dc"),
    )
    joined = ev.join(F.broadcast(cells), ["event_type", "hod"])
    nd = F.col("n").cast("double")
    sd_num = F.col("q").cast("double") - F.col("s").cast("double") * F.col(
        "s"
    ).cast("double") / nd
    zv = F.when(
        (F.col("n") >= 2) & (F.col("dc") == 1),
        (F.col("vu").cast("double") - F.col("s").cast("double") / nd)
        / F.sqrt(sd_num / (nd - F.lit(1.0))),
    )
    band = F.when(
        zv.isNotNull(),
        F.least(F.greatest(F.floor(zv).cast("int"), F.lit(-10)), F.lit(9)),
    ).cast("int")
    return (
        joined.select("event_type", band.alias("band"))
        .groupBy("event_type", "band")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .orderBy("event_type", F.col("band").asc_nulls_first())
    )


# --- round 13: inter-event burstiness census ----------------------------------


@query(
    "window_burstiness_census",
    oracle="""
    WITH ev AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS t
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    gaps AS (
        SELECT user_id,
               t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
                   AS g
        FROM ev),
    mom AS (
        SELECT user_id,
               COUNT(*) AS n,
               CAST(SUM(g) AS BIGINT) AS s,
               SUM(CAST(g AS DECIMAL(19,0)) * CAST(g AS DECIMAL(19,0)))
                   AS q
        FROM gaps WHERE g IS NOT NULL GROUP BY user_id),
    b AS (
        SELECT user_id, n,
               CASE WHEN n >= 3 AND s > 0 THEN
                   (sqrt(CAST(q AS DOUBLE) / CAST(n AS DOUBLE)
                         - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                           * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
                    - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                   / (sqrt(CAST(q AS DOUBLE) / CAST(n AS DOUBLE)
                           - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                             * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
                      + CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
               END AS bv
        FROM mom)
    SELECT CAST(CASE WHEN bv IS NULL THEN NULL
                ELSE least(greatest(CAST(floor(bv * 10.0) AS INTEGER), -10),
                           9) END AS INTEGER) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(n) AS BIGINT) AS n_gaps
    FROM b GROUP BY 1 ORDER BY band NULLS FIRST
    """,
)
def window_burstiness_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh–Barabási burstiness census over each user's inter-event
    gaps: B = (σ−μ)/(σ+μ) of the gap series, banded 0.1-wide and
    counted — the one-number behavioral fingerprint bot-detection and
    capacity teams read (B → −1: metronomic, a scheduler or scraper;
    B ≈ 0: Poisson arrivals, organic traffic; B → +1: heavy-tailed
    human burst-and-silence). The analytical complement to
    ``window_gap_census``: that reports the gap DISTRIBUTION per
    octave, this collapses each stream's distribution to its
    burstiness coordinate and censuses the population.

    Cross-engine mechanics (the autocorr census's discipline): gaps are
    exact epoch-microsecond differences from the SAME lag-over-window;
    Σg is BIGINT and Σg² DECIMAL(38,0) (a month-long gap squared is
    ~1e26); B is ONE fixed dag of IEEE ops on those exact integers
    (population σ), so the band floor cannot straddle an ulp. Streams
    with < 3 gaps or an all-zero gap series (σ = μ = 0, B undefined)
    report the NULL band — declared, not crashed; an all-EQUAL positive
    gap series is B = −1 exactly (perfectly periodic — the bot row).

    Scale shape: ONE user-keyed sort exchange feeds the lag; the moment
    rollup reuses that partitioning (plain aggregates, no Expand — the
    MIN≠MAX lesson doesn't even arise: the σ=μ=0 guard is ``Σg > 0``,
    already exact); the band census is a ≤ 21-group map-combined
    aggregate. Output ≤ 22 rows at any corpus size.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("t"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    gaps = ev.select(
        "user_id", (F.col("t") - F.lag("t").over(w)).alias("g")
    ).filter(F.col("g").isNotNull())
    gd = F.col("g").cast("decimal(19,0)")
    mom = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("g").cast("long").alias("s"),
        F.sum(gd * gd).alias("q"),
    )
    nd = F.col("n").cast("double")
    mu = F.col("s").cast("double") / nd
    sigma = F.sqrt(F.col("q").cast("double") / nd - mu * mu)
    bv = F.when(
        (F.col("n") >= 3) & (F.col("s") > 0), (sigma - mu) / (sigma + mu)
    )
    band = F.when(
        bv.isNotNull(),
        F.least(
            F.greatest(F.floor(bv * 10.0).cast("int"), F.lit(-10)), F.lit(9)
        ),
    ).cast("int")
    return (
        mom.select(band.alias("band"), "n")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("n").cast("long").alias("n_gaps"),
        )
        .orderBy(F.col("band").asc_nulls_first())
    )


# --- round 14: Pettitt rank-based change-point per user stream --------------


@query(
    "window_pettitt_changepoint",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS t,
               {sql_units('value')} AS vu
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
          AND event_type = 'purchase'),
    r AS (
        SELECT user_id, t, event_id,
               rank() OVER (PARTITION BY user_id ORDER BY vu)
                   + COUNT(*) OVER (PARTITION BY user_id)
                   + 1
                   - rank() OVER (PARTITION BY user_id ORDER BY vu DESC)
                   AS r2,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY t, event_id) AS idx,
               COUNT(*) OVER (PARTITION BY user_id) AS n
        FROM ev),
    u AS (
        SELECT user_id, n, idx, t,
               SUM(r2) OVER (PARTITION BY user_id ORDER BY idx)
                   - idx * (n + 1) AS u2
        FROM r),
    best AS (
        SELECT user_id, n, idx, t, abs(u2) AS k2,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY abs(u2) DESC, idx) AS rn
        FROM u WHERE idx < n AND n >= 3)
    SELECT user_id,
           CAST(n AS BIGINT) AS n_events,
           CAST(idx AS BIGINT) AS t_star,
           CAST(t AS BIGINT) AS ts_us_star,
           CAST(k2 AS BIGINT) AS k2
    FROM best WHERE rn = 1 ORDER BY user_id
    """,
)
def window_pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt rank-based change-point per user purchase stream: the
    split index t* maximizing |U_t|, where U_t is the Mann-Whitney
    statistic between the first t and remaining n−t values — the
    nonparametric "did this series shift level, and when" screen that
    needs no distributional assumption and shrugs off outliers (the
    parametric CUSUM sibling is ``window_cusum_changepoints``).

    Cross-engine mechanics: everything is INTEGER. Doubled midranks
    (so ties stay integral) come from ranks over both sort directions
    — r2 = rank_asc + n + 1 − rank_desc = 2·midrank — never a
    (user, value) tie-count window that would add a second exchange.
    Since Pettitt's U_t = 2·Σ_{i≤t} midrank_i − t(n+1), the integral
    fold Σ_{i≤t} r2_i − t(n+1) IS U_t exactly (no half-units survive),
    and k2 = max|U_t| is the plain Pettitt K (|U| ≤ n²/2, so int64
    holds to ~4e9 events per user). Significance thresholding is the
    caller's policy (the Benford convention): the census reports
    (n, t*, K) and the p-approximation's exp/log stays out of the
    hash contract.

    Scale shape: ONE user-keyed exchange serves all four windows (two
    value-sorts for the ranks, the time-sort for the index and the
    cumulative fold — Spark re-sorts within partitions, no second
    shuffle); the per-user argmax is the lexicographic min(struct)
    reduction (the nearest-event pattern), partially combined map-side.
    Output is one row per qualifying user.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("value").isNotNull()
            & (F.col("event_type") == "purchase")
        )
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("t"),
            units("value").alias("vu"),
        )
    )
    w_asc = Window.partitionBy("user_id").orderBy(F.col("vu").asc())
    w_desc = Window.partitionBy("user_id").orderBy(F.col("vu").desc())
    w_time = Window.partitionBy("user_id").orderBy("t", "event_id")
    w_all = Window.partitionBy("user_id")
    r = ev.select(
        "user_id",
        "t",
        (
            F.rank().over(w_asc).cast("long")
            + F.count(F.lit(1)).over(w_all)
            + F.lit(1)
            - F.rank().over(w_desc)
        ).alias("r2"),
        F.row_number().over(w_time).cast("long").alias("idx"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n"),
    )
    w_idx = (
        Window.partitionBy("user_id")
        .orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    u = r.select(
        "user_id",
        "n",
        "idx",
        "t",
        (
            F.sum("r2").over(w_idx) - F.col("idx") * (F.col("n") + 1)
        ).alias("u2"),
    ).filter((F.col("idx") < F.col("n")) & (F.col("n") >= 3))
    return (
        u.groupBy("user_id", "n")
        .agg(
            F.min(
                F.struct(
                    (-F.abs(F.col("u2"))).alias("nk"),
                    F.col("idx").alias("t_star"),
                    F.col("t").alias("ts_us_star"),
                )
            ).alias("b")
        )
        .select(
            "user_id",
            F.col("n").alias("n_events"),
            F.col("b.t_star").alias("t_star"),
            F.col("b.ts_us_star").alias("ts_us_star"),
            (-F.col("b.nk")).cast("long").alias("k2"),
        )
        .orderBy("user_id")
    )


# --- round 14: Holt double-exponential (level + trend) smoothing ------------

# Binary-fraction smoothing constants (exactly representable doubles —
# the EWMA discipline extended to a 2-component state) and the same
# bounded re-init frame as the EWMA.
_HOLT_ALPHA = 0.25
_HOLT_BETA = 0.125
_HOLT_FRAME = 15  # preceding rows in the fold frame


@query(
    "window_holt_smooth",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS t,
               CAST({sql_units('value')}
                    AS DOUBLE) AS vu
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL
          AND user_id IS NOT NULL AND event_type = 'purchase'),
    framed AS (
        SELECT user_id, event_id, t,
               list(vu) OVER (PARTITION BY user_id ORDER BY t, event_id
                              ROWS BETWEEN {_HOLT_FRAME} PRECEDING
                              AND CURRENT ROW) AS lst
        FROM ev),
    folded AS (
        SELECT user_id, event_id, t, len(lst) AS n_in_frame,
               list_reduce(
                   list_transform(lst, x -> [x, CAST(0 AS DOUBLE)]),
                   (acc, x) -> [
                       CAST({_HOLT_ALPHA} AS DOUBLE) * x[1]
                           + CAST({1 - _HOLT_ALPHA} AS DOUBLE)
                             * (acc[1] + acc[2]),
                       CAST({_HOLT_BETA} AS DOUBLE)
                           * (CAST({_HOLT_ALPHA} AS DOUBLE) * x[1]
                              + CAST({1 - _HOLT_ALPHA} AS DOUBLE)
                                * (acc[1] + acc[2]) - acc[1])
                           + CAST({1 - _HOLT_BETA} AS DOUBLE) * acc[2]
                   ]) AS st
        FROM framed)
    SELECT user_id, event_id, CAST(t AS BIGINT) AS t,
           CAST(n_in_frame AS INTEGER) AS n_in_frame,
           CAST(floor(st[1] + 0.5) AS BIGINT) AS level_u,
           CAST(floor(st[2] + 0.5) AS BIGINT) AS trend_u,
           CAST(floor(st[1] + st[2] + 0.5) AS BIGINT) AS forecast_u
    FROM folded ORDER BY user_id, t, event_id
    """,
)
def window_holt_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing of each user's purchase
    values: level AND trend state per event, plus the one-step-ahead
    forecast (level + trend) — the next rung above the EWMA for ops
    baselines (an EWMA permanently lags a ramping series; Holt's trend
    component absorbs the ramp, so the forecast column is the number an
    alerting threshold should actually compare against).

    Cross-engine exactness, the EWMA discipline extended to a
    2-component state: the recursion re-initializes at the head of a
    bounded 16-event frame (level = first value, trend = 0) and folds
    LEFT over the frame in (t, event_id) order on BOTH engines — Spark
    ``F.aggregate`` with a 2-element ARRAY accumulator, DuckDB
    ``list_reduce`` over a list-transformed list. The accumulator is a
    LIST, not a struct, deliberately: DuckDB assigns a struct
    literal's fields SEQUENTIALLY into the lambda accumulator, so a
    trend field referencing ``acc.l`` reads the already-updated level
    (measured: the struct form diverges from the reference fold at the
    third element; the list form is bit-identical). Explicit DOUBLE
    casts everywhere — DuckDB parses bare numeric literals as DECIMAL.
    α = 1/4 and β = 1/8 are exactly-representable binary fractions, so
    both engines execute the identical IEEE double sequence and the
    micro-unit floors can never straddle an ulp.

    Scale shape: identical to the EWMA — one user-keyed sort exchange,
    a bounded 16-element fold per row (state O(frame)), row-per-event
    pipelined output, no second shuffle and no presentation sort.
    """
    return holt_smooth(
        screened_events(load_table(spark, sf_dir, "events"), vu_type="double")
    )


def holt_smooth(ev: DataFrame, key_col: str = "user_id") -> DataFrame:
    """The per-event stage of :func:`window_holt_smooth` over
    :func:`screened_events` rows (``vu`` a double): (key, event_id, t,
    n_in_frame, level_u, trend_u, forecast_u). Also the batch branch of
    ``running_holt``."""
    w = (
        Window.partitionBy(key_col)
        .orderBy("ts_us", "event_id")
        .rowsBetween(-_HOLT_FRAME, Window.currentRow)
    )
    framed = ev.withColumn("lst", F.collect_list("vu").over(w))
    a, b = _HOLT_ALPHA, _HOLT_BETA

    def _step(acc, x):
        # acc[1] = level, acc[2] = trend (1-based element_at); the
        # trend expression re-derives the new level inline so neither
        # engine's evaluation order can alias old/new state
        lvl = F.element_at(acc, 1)
        trd = F.element_at(acc, 2)
        new_l = x * F.lit(a) + (lvl + trd) * F.lit(1 - a)
        new_b = (new_l - lvl) * F.lit(b) + trd * F.lit(1 - b)
        return F.array(new_l, new_b)

    st = F.aggregate(
        F.slice(F.col("lst"), 2, F.size("lst") - 1),
        F.array(F.element_at("lst", 1), F.lit(0.0)),
        _step,
    )
    return framed.withColumn("st", st).select(
        key_col,
        "event_id",
        F.col("ts_us").cast("long").alias("t"),
        F.size("lst").cast("int").alias("n_in_frame"),
        F.floor(F.element_at("st", 1) + F.lit(0.5))
        .cast("long")
        .alias("level_u"),
        F.floor(F.element_at("st", 2) + F.lit(0.5))
        .cast("long")
        .alias("trend_u"),
        F.floor(F.element_at("st", 1) + F.element_at("st", 2) + F.lit(0.5))
        .cast("long")
        .alias("forecast_u"),
    )


# --- round 15: Kendall-tau trend census (per-user robust monotonicity) -------

# Tau evaluates each user's MOST RECENT _TAU_MAX_N purchases (the
# all-pairs work is quadratic; the cap bounds it at ~130k pairs/user).
_TAU_MAX_N = 512



@query(
    "window_kendall_tau_trend",
    oracle=f"""
    WITH p0 AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS t,
               {sql_units('value')} AS vu
        FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
          AND value IS NOT NULL AND event_type = 'purchase'),
    p AS (
        SELECT user_id, event_id, t, vu FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY user_id ORDER BY t DESC, event_id DESC) AS rnd
            FROM p0)
        WHERE rnd <= 512),
    n AS (SELECT user_id, COUNT(*) AS n_purchases FROM p GROUP BY user_id),
    pr AS (
        SELECT a.user_id,
               CASE WHEN b.vu > a.vu THEN 1 ELSE 0 END AS conc,
               CASE WHEN b.vu < a.vu THEN 1 ELSE 0 END AS disc
        FROM p a JOIN p b
          ON a.user_id = b.user_id
         AND (a.t < b.t OR (a.t = b.t AND a.event_id < b.event_id))),
    agg AS (
        SELECT user_id,
               CAST(SUM(conc) AS BIGINT) AS concordant,
               CAST(SUM(disc) AS BIGINT) AS discordant,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM pr GROUP BY user_id)
    SELECT n.user_id,
           CAST(n.n_purchases AS BIGINT) AS n_purchases,
           agg.n_pairs, agg.concordant, agg.discordant,
           CAST((agg.concordant - agg.discordant) * 1000000
                // agg.n_pairs AS BIGINT) AS tau_ppm
    FROM n JOIN agg ON n.user_id = agg.user_id
    WHERE n.n_purchases >= 2
    ORDER BY n.user_id
    """,
)
def window_kendall_tau_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-a of (time, purchase value) per user: concordant vs
    discordant time-ordered pairs, the RANK-based trend detector that
    is immune to the outliers and non-linearity that bias a
    least-squares slope (agg_regression_moments) — tau near +1e6 ppm
    means the user's spend is monotonically ramping regardless of
    scale, near 0 means no trend, value ties count neither way (tau-a).
    The complement to Pettitt (WHERE a shift happened) and Holt (what
    the level is): tau answers IS there a monotone drift at all.

    Cross-engine mechanics: exact integers end-to-end — values
    micro-quantized once, pairs ordered by the strict (ts, event_id)
    composite (same tie-break as every window op in this module),
    tau_ppm = (C − D)·1e6 div n_pairs with both engines truncating
    toward zero identically (the numerator may be negative; Spark `div`
    and DuckDB integer `//` agree everywhere — verified round 15).

    Scale shape: the pair join is user-keyed (one shuffle each side on
    the SAME key, so the rank window, the count and the per-user
    aggregate all reuse the exchange) and per-user quadratic in the
    EVALUATED count only, which is hard-capped at the most recent 512
    purchases (~130k pairs) per the operator contract — without the cap
    a hot/bot user is a quadratic job-killer (measured 27.8 task skew
    at 10x before the bound). No driver state.
    """
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
        & (F.col("event_type") == "purchase")
    ).select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("t"),
        units("value").alias("vu"),
    )
    # Bounded evaluation window (round 15, from the 10x stress run): tau
    # is ALL-PAIRS per user — quadratic in the purchase count — so a bot
    # user with millions of purchases is a job-killer (measured: task
    # skew 27.8 at 10x with the hot-user corpus). The operator's
    # contract is tau over each user's MOST RECENT 512 purchases
    # (130k pairs max per user, hard-bounded), which is also the
    # trend question a churn screen actually asks; the rank-desc window
    # rides the same user-keyed exchange the pair join needs anyway.
    wdesc = Window.partitionBy("user_id").orderBy(
        F.col("t").desc(), F.col("event_id").desc()
    )
    p = (
        p.withColumn("rnd", F.row_number().over(wdesc))
        .filter(F.col("rnd") <= _TAU_MAX_N)
        .drop("rnd")
    )
    n = p.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("n_purchases"))
    a, b = p.alias("a"), p.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (
            (F.col("a.t") < F.col("b.t"))
            | ((F.col("a.t") == F.col("b.t")) & (F.col("a.event_id") < F.col("b.event_id")))
        ),
    )
    agg = pairs.groupBy(F.col("a.user_id").alias("user_id")).agg(
        F.sum(F.when(F.col("b.vu") > F.col("a.vu"), 1).otherwise(0))
        .cast("long")
        .alias("concordant"),
        F.sum(F.when(F.col("b.vu") < F.col("a.vu"), 1).otherwise(0))
        .cast("long")
        .alias("discordant"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    return (
        n.join(agg, "user_id")
        .filter(F.col("n_purchases") >= 2)
        .select(
            "user_id",
            "n_purchases",
            "n_pairs",
            "concordant",
            "discordant",
            F.expr("(concordant - discordant) * 1000000 div n_pairs")
            .cast("long")
            .alias("tau_ppm"),
        )
        .orderBy("user_id")
    )


# --- round 16: rolling-max breakout census -------------------------------------

# Lookback width for the breakout screen: a reading is a breakout when it
# strictly exceeds the max of the up-to-8 PRECEDING readings of its own
# (user, event_type) stream. Fixed and small so the window state stays
# bounded everywhere (batch rowsBetween frame, live ring buffer).
_BREAKOUT_LOOKBACK = 8


@query(
    "window_breakout_census",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS t,
               {sql_units('value')} AS vu
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL
          AND user_id IS NOT NULL),
    w AS (
        SELECT user_id, vu,
               MAX(vu) OVER (PARTITION BY user_id ORDER BY t, event_id
                             ROWS BETWEEN {_BREAKOUT_LOOKBACK} PRECEDING
                             AND 1 PRECEDING) AS prev_max
        FROM ev),
    u AS (
        SELECT user_id,
               COUNT(*) AS n_obs,
               SUM(CASE WHEN prev_max IS NOT NULL AND vu > prev_max
                        THEN 1 ELSE 0 END) AS n_breakouts
        FROM w GROUP BY user_id
        HAVING COUNT(*) >= 2)
    SELECT CAST(n_breakouts * 1000000 // (n_obs - 1) // 100000
                AS INTEGER) AS rate_decile,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(n_obs) AS BIGINT) AS n_obs,
           CAST(SUM(n_breakouts) AS BIGINT) AS n_breakouts,
           CAST(MIN(n_breakouts) AS BIGINT) AS min_breakouts,
           CAST(MAX(n_breakouts) AS BIGINT) AS max_breakouts
    FROM u GROUP BY 1 ORDER BY rate_decile
    """,
)
def window_breakout_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-max breakout census: per user, how often a reading
    strictly exceeds the max of its own previous ≤ 8 readings (new-high
    detection — the alerting primitive behind "usage just spiked past
    anything recent"), collapsed to a per-breakout-rate-decile census.
    The micro-quantized values make every comparison exact integer
    arithmetic, and the rate is integer ppm over (n_obs − 1) scoring
    opportunities (the first reading has no lookback).

    Scale shape: ONE user-keyed exchange feeds both the rolling-max
    window and the per-user aggregate (same key); the lookback frame is
    a hard ≤ 8-row bound, so window state never grows with a hot user;
    the census is a ≤ 11-cell collapse. Live twin:
    ``jorvik_spark.streaming.ops.running_breakout`` (ring-buffer state,
    same definition, reconciled in tests).
    """
    scored = breakout_scores(
        screened_events(load_table(spark, sf_dir, "events"), purchase=False)
    )
    u = (
        scored.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum(F.col("is_breakout").cast("int")).alias("n_breakouts"),
        )
        .filter(F.col("n_obs") >= 2)
    )
    decile = F.expr(
        "CAST(n_breakouts * 1000000 div (n_obs - 1) div 100000 AS INT)"
    )
    return (
        u.groupBy(decile.alias("rate_decile"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("n_obs").cast("long").alias("n_obs"),
            F.sum("n_breakouts").cast("long").alias("n_breakouts"),
            F.min("n_breakouts").cast("long").alias("min_breakouts"),
            F.max("n_breakouts").cast("long").alias("max_breakouts"),
        )
        .orderBy("rate_decile")
    )


def breakout_scores(
    ev: DataFrame, key_col: str = "user_id", lookback: int = _BREAKOUT_LOOKBACK
) -> DataFrame:
    """The per-event stage of :func:`window_breakout_census` over
    :func:`screened_events` rows: (key, event_id, t, vu, prev_max_u,
    is_breakout), the max of the key's previous ≤ ``lookback`` values
    and whether this value strictly exceeds it. Also the batch branch of
    ``running_breakout``."""
    w = Window.partitionBy(key_col).orderBy("ts_us", "event_id").rowsBetween(
        -lookback, -1
    )
    prev_max = F.max("vu").over(w)
    return ev.select(
        key_col,
        "event_id",
        F.col("ts_us").cast("long").alias("t"),
        F.col("vu").cast("long"),
        prev_max.cast("long").alias("prev_max_u"),
        (prev_max.isNotNull() & (F.col("vu") > prev_max)).alias("is_breakout"),
    )
